package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it, with the task metrics of its
  * stages summed. Times are the scheduler's event times (epoch ms). */
final class JobRec(val id: Int, val tag: String, val batch: Long, val start: Long) {
  @volatile var end: Long = -1L
  val stages = new AtomicInteger
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val deserCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val inputBytes = new AtomicLong
}

/** Traced runs only: Spark's public listeners, attributing every job to
  * the tag the benchmark set (a thread-local property, which stream
  * threads inherit when their query starts) and, for micro-batches, to
  * the trigger's batch id. Planning time comes from the
  * QueryExecutionListener; its callbacks are asynchronous, so readers
  * call [[flush]] first.
  */
final class Probe(spark: SparkSession) extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val planningMs = new AtomicLong
  private val flushes = new AtomicInteger

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = {
        val phases = qe.tracker.phases
        planningMs.addAndGet(Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum)
        ()
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    })
  }

  def tag(t: String): Unit = spark.sparkContext.setLocalProperty(Probe.TagKey, t)

  /** Waits until every event posted before now has been delivered: runs
    * a one-task marker job and waits for its end event, which the shared
    * listener queue delivers after all earlier events. */
  def flush(): Unit = {
    val marker = s"flush-${flushes.incrementAndGet()}"
    val prev = spark.sparkContext.getLocalProperty(Probe.TagKey)
    tag(marker)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    tag(prev)
    val deadline = System.currentTimeMillis() + 30000L
    while (!jobs.values().asScala.exists(j => j.tag == marker && j.end >= 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def jobsTagged(p: String => Boolean): Seq[JobRec] =
    jobs.values().asScala.toSeq.filter(j => j.tag != null && p(j.tag)).sortBy(_.id)

  def allJobs: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.id)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val t = props.flatMap(p => Option(p.getProperty(Probe.TagKey))).orNull
    val b = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new JobRec(e.jobId, t, b, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach(_.stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs.addAndGet(m.executorCpuTime)
        j.deserCpuNs.addAndGet(m.executorDeserializeCpuTime)
        j.gcMs.addAndGet(m.jvmGCTime)
        j.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        j.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        j.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
}

object Probe {
  val TagKey = "perfbench.tag"

  /** Sums over a set of jobs. `cpuS` is task run CPU, `deserCpuS` the CPU
    * tasks spent deserializing their closures and plans. */
  final case class Totals(jobs: Int, stages: Long, tasks: Long, cpuS: Double, deserCpuS: Double,
      gcS: Double, shuffleMb: Double, spillMb: Double, inputMb: Double)
  def totals(js: Seq[JobRec]): Totals = Totals(js.size,
    js.map(_.stages.get.toLong).sum, js.map(_.tasks.get).sum,
    js.map(_.cpuNs.get).sum / 1e9, js.map(_.deserCpuNs.get).sum / 1e9, js.map(_.gcMs.get).sum / 1e3,
    js.map(_.shuffleBytes.get).sum / 1e6, js.map(_.spillBytes.get).sum / 1e6,
    js.map(_.inputBytes.get).sum / 1e6)

  /** Milliseconds of [start, end] not covered by any of the jobs' run
    * intervals: time spent outside Spark jobs (planning, eager collects,
    * listing). */
  def uncoveredMs(start: Long, end: Long, js: Seq[JobRec]): Long = {
    val iv = js.filter(_.end >= 0).map(j => (math.max(j.start, start), math.min(j.end, end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }
}

/** In-memory spans: name, start, end and parent, one id per span; written
  * as JSON lines, with the listener's jobs, when the run ends. */
final class Spans {
  import Spans.Span
  private val done = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var next = 0

  def span[T](name: String)(body: => T): T = {
    next += 1
    val id = next
    val parent = stack.headOption.getOrElse(0)
    val start = System.currentTimeMillis()
    stack.push(id)
    try body
    finally {
      stack.pop()
      done += Span(id, name, parent, start, System.currentTimeMillis())
    }
  }

  /** A span whose times were measured elsewhere (a trigger's progress). */
  def add(name: String, start: Long, end: Long): Unit = {
    next += 1
    done += Span(next, name, stack.headOption.getOrElse(0), start, end)
  }

  def write(file: Path, probe: Option[Probe]): Unit = {
    Files.createDirectories(file.getParent)
    val sb = new StringBuilder
    done.sortBy(_.id).foreach { s =>
      sb ++= s"""{"kind":"span","id":${s.id},"name":"${Run.jsonEscape(s.name)}","parent":${s.parent},""" +
        s""""start_ms":${s.start},"end_ms":${s.end}}""" + "\n"
    }
    probe.toSeq.flatMap(_.allJobs).foreach { j =>
      sb ++= s"""{"kind":"job","id":${j.id},"tag":"${Run.jsonEscape(String.valueOf(j.tag))}",""" +
        s""""batch":${j.batch},"start_ms":${j.start},"end_ms":${j.end},"stages":${j.stages.get},""" +
        s""""tasks":${j.tasks.get},"task_cpu_ms":${j.cpuNs.get / 1000000L},"task_deser_cpu_ms":${j.deserCpuNs.get / 1000000L},"task_gc_ms":${j.gcMs.get},""" +
        s""""shuffle_bytes":${j.shuffleBytes.get},"spill_bytes":${j.spillBytes.get},""" +
        s""""input_bytes":${j.inputBytes.get}}""" + "\n"
    }
    Files.writeString(file, sb.result())
  }
}

object Spans {
  final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)
}
