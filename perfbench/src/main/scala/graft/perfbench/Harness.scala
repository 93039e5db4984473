package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark JVM (run.py passes them). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    cpus: Int,
    tables: Seq[String],
    traceFile: Option[Path])

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(
      workload = req("workload"),
      seed = req("seed").toLong,
      seconds = req("seconds").toDouble,
      trace = req("trace") == "1",
      work = Paths.get(req("work")).toAbsolutePath,
      cpus = req("cpus").toInt,
      tables = m.get("tables").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      traceFile = m.get("trace-file").map(Paths.get(_).toAbsolutePath))
  }
}

/** One workload run: the Spark session, the set-up rounds, the timed
  * phase's clocks and the result line.
  *
  * Set-up is done [[Run.SetupRounds]] times, each into fresh directories
  * with a fresh SparkSession, and `setup_s` is the median round plus the
  * warm-up rounds that follow the last one: a single set-up is one noisy
  * sample, while the median of three drops a slow JVM boot or a
  * page-cache miss.
  */
final class Run(val args: Args) {
  import Run._

  private var _spark: SparkSession = _
  def spark: SparkSession = _spark
  val spans = new Spans
  var probe: Option[Probe] = None

  val perLayer = mutable.LinkedHashMap[String, Double]()
  val endToEnd = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L
  private val problems = mutable.ArrayBuffer[String]()
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { problems += what; System.err.println(s"[perfbench] CHECK FAILED: $what") }

  /** Fresh session with the engine's bench configuration, pinned to
    * `cpus` local cores and shuffle partitions; every directory Spark
    * writes to lives under the run's work dir. */
  def newSession(tag: String): SparkSession = {
    if (_spark != null) {
      _spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      _spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val dir = args.work.resolve(tag)
    Files.createDirectories(dir)
    _spark = SparkSession.builder()
      .master(s"local[${args.cpus}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "512")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    _spark.sparkContext.setLogLevel("ERROR")
    if (args.trace) {
      val p = new Probe(_spark)
      p.install()
      probe = Some(p)
    }
    _spark
  }

  /** Runs [[Run.SetupRounds]] set-ups; returns the last round's value and
    * records the median round time under `setup_s` (warm-up is added
    * later). */
  def setupRounds[T](body: Int => T): T = {
    val times = mutable.ArrayBuffer[Double]()
    var last: Option[T] = None
    (0 until SetupRounds).foreach { i =>
      // round 0 also pays the JVM boot: measured from the JVM's start
      val t0 =
        if (i == 0) ManagementFactory.getRuntimeMXBean.getStartTime * 1e6 - wallOffsetNanos
        else System.nanoTime().toDouble
      last = Some(spans.span(s"setup.round$i") { body(i) })
      times += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up round $i: ${times.last}%.2f s")
    }
    perLayer("setup.first_round_s") = times.head
    endToEnd("setup_s") = median(times.toSeq)
    last.get
  }

  /** Warm-up: [[Run.WarmRounds]] untimed rounds, counted in `setup_s`.
    * The JIT keeps compiling for several rounds (process CPU per round
    * halves between the first and the sixth), so the timed rounds start
    * only after the steepest part of that. Returns the warm-up seconds. */
  def warmup(round: Int => Unit): Double = {
    val t0 = System.nanoTime()
    (0 until WarmRounds).foreach(i => spans.span(s"warmup$i") { round(i) })
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] warm-up: $s%.2f s")
    endToEnd("setup_s") = endToEnd("setup_s") + s
    s
  }

  /** Process CPU seconds outside JIT compilation: the compiler threads'
    * share shrinks from round to round as the JVM warms, and would
    * otherwise dominate the round-to-round spread. */
  def workCpuSeconds(): Double =
    cpuSeconds() - ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Process CPU seconds, JVM GC seconds. */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case e: com.sun.management.OperatingSystemMXBean => e.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Live heap: the old generation's usage right after an explicit full
    * collection (which leaves the young pools empty), the least of three
    * readings half a second apart. Spark's ContextCleaner drops broadcast
    * and shuffle blocks asynchronously once a collection has found them
    * unreachable, so a single reading lands on one of several levels. The
    * young pools' own after-collection figures date from their last young
    * collection and are not used. */
  def liveHeapMb(): Double = (0 until 3).map { _ =>
    Thread.sleep(500)
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.contains("Old Gen") && p.getCollectionUsage != null)
    old.map(_.getCollectionUsage.getUsed)
      .getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1e6
  }.min

  /** Timed phase: [[Run.rounds]] rounds of `round`, a number fixed by
    * `--seconds` so every run does the same work. Records cpu_s (median
    * process CPU of a round, JIT compilation excluded), heap_live_mb,
    * jvm.gc_s and jvm.jit_s; returns the per-round wall times. */
  def timed(round: Int => Unit): Seq[Double] = {
    probe.foreach(_.flush())
    val walls = mutable.ArrayBuffer[Double]()
    val cpus = mutable.ArrayBuffer[Double]()
    val jits = mutable.ArrayBuffer[Double]()
    val gcs = mutable.ArrayBuffer[Double]()
    def jit() = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    (0 until rounds(args.seconds)).foreach { i =>
      val cpu0 = workCpuSeconds(); val jit0 = jit(); val gc0 = gcSeconds()
      val r0 = System.nanoTime()
      spans.span(s"round$i") { round(i) }
      walls += (System.nanoTime() - r0) / 1e9
      cpus += workCpuSeconds() - cpu0
      jits += jit() - jit0
      gcs += gcSeconds() - gc0
    }
    System.err.println(s"[perfbench] timed rounds: wall ${walls.map(w => f"$w%.2f").mkString(" ")} s," +
      s" cpu ${cpus.map(c => f"$c%.2f").mkString(" ")} s")
    probe.foreach(_.flush())
    endToEnd("cpu_s") = median(cpus.toSeq)
    perLayer("jvm.gc_s") = median(gcs.toSeq)
    perLayer("jvm.jit_s") = median(jits.toSeq)
    endToEnd("heap_live_mb") = liveHeapMb()
    if (args.trace) {
      perLayer("traced.round_s") = median(walls.toSeq)
      perLayer("traced.cpu_s") = median(cpus.toSeq)
    }
    walls.toSeq
  }

  /** The JVM's one result line; run.py adds its own checks and prints the
    * contract line. */
  def emit(): Unit = {
    val metrics = if (args.trace) perLayer else endToEnd
    val body = metrics.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")
    val probs = problems.map(p => "\"" + jsonEscape(p) + "\"").mkString(",")
    args.traceFile.foreach(f => spans.write(f, probe))
    println(s"""{"correct":${problems.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""problems":[$probs],"metrics":{$body}}""")
    System.out.flush()
  }

  def shutdown(): Unit = if (_spark != null) {
    _spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    _spark.sparkContext.setLogLevel("OFF")
    try _spark.stop() catch { case _: Throwable => () }
  }
}

object Run {
  val SetupRounds = 3
  val WarmRounds = 4

  /** Timed rounds for a run of `seconds`: a round of either workload takes
    * 3-5 s on 4 cores, and three rounds give a median. */
  def rounds(seconds: Double): Int = math.max(3, math.round(seconds / 3.0).toInt)

  // nanoTime has an arbitrary origin; this maps wall-clock ms onto it so
  // the first set-up round can start at the JVM's start time
  private val wallOffsetNanos: Double =
    System.currentTimeMillis() * 1e6 - System.nanoTime()

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted.toIndexedSeq
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else String.format(Locale.ROOT, "%.6f", Double.box(v))

  def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => { Files.deleteIfExists(f); () })
    finally s.close()
  }

  def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}
