package perfbench

import graft.ops.IncrementalDedup
import graft.pipeline.{Curate, ExtractJob, PageRow, ScrapePipeline}

/**
 * The benchmark's own tests: each traced decomposition must give exactly
 * what the program entry point it mirrors gives, so the per-layer numbers
 * cannot drift from the code they claim to measure.
 *
 * `perfbench.SelfTest <threads> <workDir>`; exits 1 when a test fails.
 * Run through `python3 perfbench/run.py --self-test`.
 */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val threads = argv(0).toInt
    val work = argv(1)
    val spark = Settings.session(s"local[$threads]", threads, work)
    val counts = new SparkCounts(spark.sparkContext)
    spark.sparkContext.addSparkListener(counts)
    val env = new Env(spark, threads, 7L, work)
    val st = new Stages(new Tracer("self-test"), counts)
    var failures = 0

    def test(name: String)(body: => Boolean): Unit = {
      val ok = try body catch { case e: Exception => e.printStackTrace(System.out); false }
      println((if (ok) "PASS " else "FAIL ") + name)
      if (!ok) failures += 1
    }

    test("traced fold equals scrapeAny row for row, both corpora and degenerate rows") {
      val odd = Seq(
        PageRow("not a url", null, "<p>x</p>".getBytes("UTF-8"), "", "en"),
        PageRow("https://a.example/empty", null, Array.emptyByteArray, "", "en"),
        PageRow("https://a.example/null", null, null, "", "en"),
        PageRow("https://a.example/bare", null, "<html><body></body></html>".getBytes("UTF-8"), "", "en"),
        PageRow("https://a.example/text", null, "plain words, no markup".getBytes("UTF-8"), "", "en"))
      val rows = Workloads.pages(env, env.firstRow, 300, heavy = false) ++
        Workloads.pages(env, env.firstRow, 100, heavy = true) ++ odd
      val bad = rows.filterNot(p => Traced.fold(st.tracer, p.url, p.html)._1 ==
        ScrapePipeline.scrapeHtml(ExtractJob.decodeHtml(p.html), p.url))
      bad.foreach(p => println(s"  mismatch: ${p.url}"))
      bad.isEmpty
    }

    test("traced curate chain gives the Curate.curate ledger") {
      val w = new CurateCorpus(env)
      val input = spark.read.parquet(w.setup(s"$work/curate"))
      val cfg = Curate.Config(paraMinDocFreq = 5)
      val want = Curate.curate(input, "url", "normalized_text", cfg)
      val (got, c) = Traced.curate(st, input, "url", "normalized_text", cfg)
      println(s"  ledger rows ${want.count()}, candidate pairs ${c.candidatePairs}, verified ${c.verifiedPairs}")
      Util.digest(got, w.LedgerCols) == Util.digest(want, w.LedgerCols) && c.verifiedPairs > 0
    }

    test("traced ingest steps leave the dedupeAndCommitIndexed store") {
      val w = new IngestBatches(env, HistoryDocs = 200, BatchDocs = 100, RecrawlsPerBatch = 20)
      val a = w.setup(s"$work/ingestA")
      val b = w.setup(s"$work/ingestB")
      val ledgers = (0 until 3).map { k =>
        val rows = w.df(w.batch(k))
        val la = IncrementalDedup.dedupeAndCommitIndexed(rows, "id", "text", a.store, a.table)
        val lb = Traced.commitIndexed(st, rows, "id", "text", b.store, b.table)
        Util.digest(la, LedgerCols) == Util.digest(lb, LedgerCols)
      }
      def store(s: w.S): Seq[Digest] = Seq(
        Util.digest(spark.read.parquet(s"${s.store}/hashes"), Seq("hash", "id")),
        Util.digest(spark.read.parquet(s"${s.store}/sigs"), Seq("id", "sh", "sig")),
        Util.digest(spark.table(s.table), Seq("id", "band_idx", "band_key")))
      val matches = spark.read.parquet(s"${a.store}/hashes").count()
      println(s"  store rows $matches, ledgers equal ${ledgers.mkString(",")}")
      ledgers.forall(identity) && store(a) == store(b)
    }

    spark.stop()
    println(if (failures == 0) "self-test: all passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private val LedgerCols = Seq("id", "kept", "stage", "reason")
}
