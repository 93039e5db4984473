package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

import graft.edi.{ClaimMapping, Edi837Parser}
import graft.fixtures.{ClaimFixtures, Evaluator}
import graft.operators.Cms1500Sink
import graft.streaming.ClaimStreams

/** claims_ingest: 837P files through parse -> map -> CMS-1500.
  *
  * Inputs are [[Corpus.Files]] distinct one-transaction documents,
  * `ClaimFixtures.genDoc` over an index range chosen by the seed, so every
  * document id (ST02) and every claim id is distinct. Each timed round
  * drains them with `ClaimStreams.ingest` under AvailableNow into a fresh
  * parquet sink and checkpoint, then renders the same documents with
  * `Cms1500Sink.write` into a fresh PDF dir.
  */
object ClaimsIngest {

  object Corpus {
    val Files = 128
    val Claims = 256
    val FilesPerTrigger = 64
    /** First generator index for `seed`: disjoint ranges per seed. */
    def firstIndex(seed: Long): Int = 100000 + Math.floorMod(seed, 100000L).toInt * 4 * Files
    /** [[Files]] documents holding [[Claims]] claims in all, taken in index
      * order from the seed's range (a document that would make the total
      * unreachable is skipped), so every seed stages the same amount of
      * work. */
    def docs(seed: Long): Seq[ClaimFixtures.DocSpec] = {
      val out = mutable.ArrayBuffer[ClaimFixtures.DocSpec]()
      var claims = 0
      var idx = firstIndex(seed)
      while (out.size < Files) {
        val d = ClaimFixtures.genDoc(idx)
        val leftDocs = Files - out.size - 1
        val leftClaims = Claims - claims - d.claims.size
        if (leftClaims >= leftDocs && leftClaims <= 3 * leftDocs) { out += d; claims += d.claims.size }
        idx += 1
      }
      out.toSeq
    }
  }

  private final case class RoundOut(out: Path, pdf: Path, ingestS: Double, renderS: Double,
      progress: Seq[StreamingQueryProgress])

  def run(r: Run): Unit = {
    val a = r.args
    val docs = Corpus.docs(a.seed)
    val texts = docs.map(ClaimFixtures.render)
    val root = a.work.resolve("claims")

    // set-up: session + staging the files, three times
    val in = r.setupRounds { i =>
      val spark = r.newSession(s"session$i")
      r.probe.foreach(_.tag("setup"))
      stage(root.resolve(s"in$i"), docs, texts)
    }
    val spark = r.spark
    val corpusBytes = Run.dirBytes(in)
    System.err.println(s"[perfbench] staged ${docs.size} files, ${docs.map(_.claims.size).sum} claims, $corpusBytes bytes")

    r.warmup(i => Run.rmTree(round(spark, in, root.resolve(s"warmup$i"), r.probe, "w:").out.getParent))

    val rounds = mutable.ArrayBuffer[RoundOut]()
    r.timed { i =>
      // only the last round's outputs are checked
      rounds.lastOption.foreach(p => Run.rmTree(p.out.getParent))
      rounds += round(spark, in, root.resolve(s"round$i"), r.probe, "")
    }

    // ---- check (outside the timed phase) --------------------------------
    r.probe.foreach(_.tag("check"))
    val last = rounds.last
    val nClaims = check(r, spark, docs, last)
    r.attempted = nClaims.toLong * rounds.size
    val pages = docs.flatMap(d => d.claims.map(c => pagesFor(c.services.size))).sum

    val renderS = rounds.map(_.renderS).sum
    val triggers = rounds.toSeq.flatMap(_.progress).filter(_.numInputRows > 0)
    // a round's wall is its ingest + render, not the clean-up before it
    r.endToEnd("round_s") = Run.median(rounds.toSeq.map(o => o.ingestS + o.renderS))
    r.endToEnd("items_per_s") = Run.median(rounds.toSeq.map(nClaims / _.ingestS))

    r.probe.foreach { p =>
      p.flush()
      val n = rounds.size.toDouble
      val ingest = Probe.totals(p.jobsTagged(_.startsWith("ingest")))
      val render = Probe.totals(p.jobsTagged(_.startsWith("render")))
      // a round has only a few triggers: per-trigger phases are means
      def mean(k: String*) = triggers.map(t => k.map(dur(t, _)).sum).sum / triggers.size
      r.perLayer("edi.parse_docs_per_s") = parseRate(texts)
      r.perLayer("streaming.claim_streams.trigger_ms") = mean("triggerExecution")
      r.perLayer("streaming.claim_streams.latest_offset_ms") = mean("latestOffset")
      r.perLayer("streaming.claim_streams.query_planning_ms") = mean("queryPlanning")
      r.perLayer("streaming.claim_streams.add_batch_ms") = mean("addBatch")
      r.perLayer("streaming.claim_streams.commit_ms") = mean("walCommit", "commitOffsets")
      r.perLayer("streaming.claim_streams.tasks") = ingest.tasks / n
      r.perLayer("streaming.claim_streams.task_cpu_s") = ingest.cpuS / n
      r.perLayer("streaming.claim_streams.task_deser_cpu_s") = ingest.deserCpuS / n
      r.perLayer("operators.cms1500_sink.pages_per_s") = pages * n / renderS
      r.perLayer("operators.cms1500_sink.render_s") = renderS / n
      r.perLayer("operators.cms1500_sink.pdf_mb") = Run.dirBytes(last.pdf) / 1e6
      r.perLayer("operators.cms1500_sink.jobs") = render.jobs / n
      r.perLayer("operators.cms1500_sink.edi_read_ratio") = render.inputMb * 1e6 / n / corpusBytes
      triggers.foreach(t => r.spans.add(s"trigger${t.batchId}",
        java.time.Instant.parse(t.timestamp).toEpochMilli,
        java.time.Instant.parse(t.timestamp).toEpochMilli + dur(t, "triggerExecution").toLong))
    }
  }

  private def stage(dir: Path, docs: Seq[ClaimFixtures.DocSpec], texts: Seq[String]): Path = {
    Files.createDirectories(dir)
    docs.zip(texts).foreach { case (d, t) => Files.writeString(dir.resolve(s"${d.docId}.txt"), t) }
    dir
  }

  /** One round into fresh dirs under `dir`; traced jobs are tagged
    * `<tag>ingest` and `<tag>render`. */
  private def round(spark: SparkSession, in: Path, dir: Path, probe: Option[Probe], tag: String): RoundOut = {
    probe.foreach(_.tag(s"${tag}ingest"))
    val t0 = System.nanoTime()
    val q = ClaimStreams.ingest(spark, in.toString, dir.resolve("out").toString,
      dir.resolve("ckpt").toString, filesPerTrigger = Corpus.FilesPerTrigger)
    q.awaitTermination()
    val t1 = System.nanoTime()
    probe.foreach(_.tag(s"${tag}render"))
    val docs = ClaimMapping.readDocs(spark, in.toString)
    Cms1500Sink.write(ClaimMapping.claims(spark, docs), ClaimMapping.claimServices(spark, docs),
      dir.resolve("pdf").toString)
    val t2 = System.nanoTime()
    RoundOut(dir.resolve("out"), dir.resolve("pdf"), (t1 - t0) / 1e9, (t2 - t1) / 1e9,
      q.recentProgress.toSeq)
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def pagesFor(lines: Int): Int = math.max(1, math.ceil(lines / 6.0).toInt)

  /** Single-thread parse throughput over the staged texts (documents/s),
    * best of three passes so JIT warm-up does not count. */
  private def parseRate(texts: Seq[String]): Double = (0 until 3).map { _ =>
    val t0 = System.nanoTime()
    var n = 0
    texts.foreach(t => Edi837Parser.splitInterchange(t).foreach { d => Edi837Parser.parse(d); n += 1 })
    n / ((System.nanoTime() - t0) / 1e9)
  }.max

  /** The last round's outputs against the evaluator, computed apart from
    * the engine: claims as a multiset, and PDF count, page total and the
    * read-back fields. Returns the number of claims. */
  private def check(r: Run, spark: SparkSession, docs: Seq[ClaimFixtures.DocSpec], o: RoundOut): Int = {
    val expRows = docs.flatMap(Evaluator.claimRows)
    val expected = spark.createDataFrame(spark.sparkContext.parallelize(expRows, 4), Evaluator.claimsSchema)
    val got = spark.read.parquet(o.out.toString)
      .select(Evaluator.claimsSchema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
    val nGot = got.count()
    r.check(nGot == expRows.size, s"claims_ingest: $nGot claims ingested, expected ${expRows.size}")
    r.check(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "claims_ingest: ingested claims differ from the evaluator's rows")

    // PDFs: one per claim, the page total, and the fields read back
    // evaluator rows carry no schema: fields by the schemas' indices
    val ci = Evaluator.claimsSchema.fieldIndex _
    val si = Evaluator.servicesSchema.fieldIndex _
    val svc = docs.flatMap(Evaluator.serviceRows).groupBy(_.getString(si("claim_id")))
    val fmt = java.time.format.DateTimeFormatter.ofPattern("MM/dd/yyyy")
    val expPdf = expRows.map { c =>
      val id = c.getString(ci("claim_id"))
      val lines = svc.getOrElse(id, Seq.empty)
      val total = lines.flatMap(l => Option(l.get(si("charges")).asInstanceOf[java.lang.Double]))
        .foldLeft(java.math.BigDecimal.ZERO)((acc, v) => acc.add(java.math.BigDecimal.valueOf(v)))
        .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue
      Row(id, pagesFor(lines.size), c.getString(ci("patient_name")),
        Option(c.get(ci("patient_date_of_birth")).asInstanceOf[java.sql.Date])
          .map(_.toLocalDate.format(fmt)).orNull,
        c.getString(ci("insured_name")), c.getString(ci("diagnosis_code_1")), total)
    }
    val pdfSchema = StructType(Seq(StructField("claim_id", StringType), StructField("n_pages", IntegerType),
      StructField("patient_name", StringType), StructField("patient_dob", StringType),
      StructField("insured_name", StringType), StructField("diagnosis_1", StringType),
      StructField("total_charge", DoubleType)))
    val expPdfDf = spark.createDataFrame(spark.sparkContext.parallelize(expPdf, 4), pdfSchema)
    val parsed: DataFrame = Cms1500Sink.parsed(spark, o.pdf.toString)
      .select(pdfSchema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
    val nPdf = { val s = Files.list(o.pdf); try s.filter(_.toString.endsWith(".pdf")).count() finally s.close() }
    r.check(nPdf == expRows.size, s"claims_ingest: $nPdf PDFs, expected ${expRows.size}")
    val pagesGot = parsed.agg(org.apache.spark.sql.functions.sum("n_pages")).head().getLong(0)
    val pagesExp = expPdf.map(_.getInt(1)).sum
    r.check(pagesGot == pagesExp, s"claims_ingest: $pagesGot PDF pages, expected $pagesExp")
    r.check(parsed.exceptAll(expPdfDf).isEmpty && expPdfDf.exceptAll(parsed).isEmpty,
      "claims_ingest: PDF fields read back differ from the evaluator's")
    expRows.size
  }
}
