package graft.perfbench

import java.nio.file.Files

import scala.collection.mutable

import graft.{CatalogStats, QueryDef, SparkEntry}
import graft.queries.{EventQueries, RelationalQueries, TextQueries}

/** query_mix: a fixed list of registry queries, each run into the `noop`
  * sink, over tables generated from the seed (gen_tables.py), after
  * ANALYZE and one untimed warm-up execution of each query (which also
  * writes the result parquet that oracle.py checks against DuckDB).
  *
  * The names are fixed here, not derived from the registry, so a later
  * reordering of the registry does not change the workload.
  */
object QueryMix {

  val Names: Seq[String] = Seq(
    // relational
    "q01_filter_scan", "q04_distinct_agg", "q07_star_join", "q10_semi_join",
    "q20_window_runsum", "q54_percentiles", "q58_grouping_sets",
    // event
    "q33_stream_static_join", "q160_scd2_history",
    // text and LLM-data
    "q37_token_frequency", "q44_text_enrichment", "q71_int8_quant",
    "q85_random_projection", "q95_fim_transform", "q101_script_detect",
    "q141_pca_moments")

  def category(name: String): String =
    if (RelationalQueries.all.exists(_.name == name)) "relational"
    else if (EventQueries.all.exists(_.name == name)) "event"
    else if (TextQueries.all.exists(_.name == name)) "text"
    else "mapping"

  def list: Seq[QueryDef] = {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    Names.map(n => byName.getOrElse(n, sys.error(s"query $n is not in the registry")))
  }

  /** name -> oracle SQL for the list, as a JSON object. */
  def oracleJson: String = list.flatMap(q => q.oracle.map(q.name -> _))
    .map { case (k, v) => "\"" + Run.jsonEscape(k) + "\":\"" + Run.jsonEscape(v) + "\"" }
    .mkString("{", ",", "}")

  def run(r: Run): Unit = {
    val a = r.args
    require(a.tables.size == Run.SetupRounds, s"query_mix needs ${Run.SetupRounds} table dirs")
    val list = QueryMix.list

    val analyzeS = mutable.ArrayBuffer[Double]()
    val dir = r.setupRounds { i =>
      val spark = r.newSession(s"session$i")
      r.probe.foreach(_.tag("setup"))
      val d = a.tables(i)
      val t0 = System.nanoTime()
      CatalogStats.analyze(spark, d)
      analyzeS += (System.nanoTime() - t0) / 1e9
      d
    }
    val spark = r.spark

    // warm-up passes; the first writes each query's result for the
    // oracle check, the rest run into the noop sink like the timed passes
    val out = a.work.resolve("mix_out")
    val warmupS = r.warmup { pass =>
      list.foreach { q =>
        r.probe.foreach(_.tag(s"w:${q.name}"))
        try {
          val df = q.run(spark, dir)
          if (pass == 0) df.coalesce(1).write.mode("overwrite").parquet(out.resolve(q.name).toString)
          else df.write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable =>
          r.check(false, s"query_mix: ${q.name} failed in warm-up: ${e.getMessage}")
        }
        spark.catalog.clearCache()
      }
    }
    Files.writeString(out.resolve("oracle_sql.json"), oracleJson)

    // timed: whole passes over the list
    val times = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val spansMs = mutable.ArrayBuffer[(String, Long, Long)]()
    val planning0 = r.probe.map { p => p.flush(); p.planningMs.get }
    var failed = 0L
    val walls = r.timed { _ =>
      list.foreach { q =>
        r.probe.foreach(_.tag(s"t:${q.name}"))
        val s0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val ok =
          try { r.spans.span(q.name) { q.run(spark, dir).write.format("noop").mode("overwrite").save() }; true }
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] ${q.name} failed: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        spansMs += ((q.name, s0, System.currentTimeMillis()))
        spark.catalog.clearCache()
        if (ok) times.getOrElseUpdate(q.name, mutable.ArrayBuffer[Double]()) += dt else failed += 1
      }
    }
    val passes = walls.size
    r.attempted = list.size.toLong * passes
    r.failed = failed
    val perQuery = times.map { case (n, ts) => n -> Run.median(ts.toSeq) }

    r.endToEnd("round_s") = Run.median(walls)
    r.endToEnd("items_per_s") = list.size / Run.median(walls)

    r.probe.foreach { p =>
      p.flush()
      val planningS = (p.planningMs.get - planning0.get) / 1e3
      val timedJobs = p.jobsTagged(_.startsWith("t:"))
      val t = Probe.totals(timedJobs)
      val byCat = perQuery.toSeq.groupBy { case (n, _) => category(n) }
      Seq("relational", "event", "text").foreach { c =>
        r.perLayer(s"queries.${c}_s") = byCat.getOrElse(c, Nil).map(_._2).sum
      }
      // over every timed execution: at least 3 passes x 16 queries, so
      // the median has more than 10 samples on either side
      r.perLayer("queries.query_p50_ms") = Run.median(times.values.flatten.toSeq) * 1e3
      r.perLayer("queries.task_cpu_s") = t.cpuS / passes
      r.perLayer("queries.task_deser_cpu_s") = t.deserCpuS / passes
      r.perLayer("queries.gc_s") = t.gcS / passes
      r.perLayer("queries.shuffle_mb") = t.shuffleMb / passes
      r.perLayer("queries.spill_mb") = t.spillMb / passes
      r.perLayer("queries.jobs") = t.jobs.toDouble / passes
      r.perLayer("queries.stages") = t.stages.toDouble / passes
      r.perLayer("queries.tasks") = t.tasks.toDouble / passes
      r.perLayer("queries.planning_s") = planningS / passes
      val jobsByQuery = timedJobs.groupBy(_.tag.stripPrefix("t:"))
      r.perLayer("queries.outside_jobs_s") = spansMs.map { case (n, s0, s1) =>
        Probe.uncoveredMs(s0, s1, jobsByQuery.getOrElse(n, Nil))
      }.sum / 1e3 / passes
      r.perLayer("queries.warmup_s") = warmupS
      r.perLayer("catalog_stats.analyze_s") = Run.median(analyzeS.toSeq)
    }
  }
}

/** Writes the query_mix oracle SQL to the file named by the argument
  * (oracle.py's cache rebuild), without running any query. */
object OracleSql {
  def main(argv: Array[String]): Unit =
    Files.writeString(java.nio.file.Paths.get(argv(0)), QueryMix.oracleJson)
}
