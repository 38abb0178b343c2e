package perfbench

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.BenchPhases
import graft.ops.IncrementalDedup
import graft.pipeline.{Curate, DerivedOracles, ExtractJob, PageRow, PagesGen, ScrapePipeline}

object Workloads {
  def apply(name: String, env: Env): Workload = name match {
    case "extract_text" => new ExtractText(env)
    case "extract_markup" => new ExtractMarkup(env)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Generated rows `[first, first + n)`, built on the driver for the
    * reference outputs and the per-doc trace. */
  def pages(env: Env, first: Long, n: Int, heavy: Boolean): IndexedSeq[PageRow] =
    Util.parMap((0 until n).map(first + _), env.threads)(i => PagesGen.makePage(i, heavy))

  /** The same rows as a parquet table of `env.parts` files: what the program reads. */
  def writeCorpus(env: Env, dir: String, first: Long, n: Int, heavy: Boolean): Unit = {
    import env.spark.implicits._
    env.spark.range(first, first + n, 1, env.parts)
      .map(i => PagesGen.makePage(i, heavy))
      .write.parquet(dir)
  }

  /** Properties of a page corpus that drive the program's behaviour. Rows
    * are in row-id order; a duplicate copies (exact) or extends (near) the
    * content of the row before it. */
  def pageProps(ps: IndexedSeq[PageRow]): Map[String, Any] = {
    val n = ps.size.toDouble
    val htmlBytes = ps.map(_.html.length.toLong).sum
    val textBytes = ps.map(_.text.getBytes("UTF-8").length.toLong).sum
    val pairs = ps.zip(ps.drop(1))
    Map(
      "docs" -> ps.size,
      "html_bytes_per_doc" -> htmlBytes / n,
      "markup_to_text_bytes" -> htmlBytes.toDouble / textBytes,
      "megahost_share" -> ps.count(_.url.contains("://www.megahost.")) / n,
      "exact_dup_share" -> pairs.count { case (a, b) => b.text == a.text } / n,
      "near_dup_share" -> pairs.count { case (a, b) => b.text != a.text && b.text.startsWith(a.text) } / n)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

  /** Per-doc layer metrics over `ps` at `threads`: two untraced passes of
    * the program's own per-row call (the first only warms), one pass of real
    * `scrapeHtml` calls in spans, one pass of the traced decomposition, and
    * the frozen raw-pool ceiling. All passes run the same docs on the same
    * thread count. */
  def perDoc(t: Tracer, ps: IndexedSeq[PageRow], threads: Int,
             extra: mutable.Map[String, Any]): Map[String, Double] = {
    val n = ps.size.toDouble
    def untraced(): Unit = Util.parMap(ps, threads)(p => ExtractJob.scrapeAny(p.url, p.html).word_count)
    untraced()
    val untracedSec = timed(untraced())
    Util.parMap(ps, threads) { p =>
      val html = ExtractJob.decodeHtml(p.html)
      t.span("pipeline.scrape_html")(ScrapePipeline.scrapeHtml(html, p.url)).word_count
    }
    var stats: IndexedSeq[DocStats] = null
    val tracedSec = timed { stats = Util.parMap(ps, threads)(p => Traced.fold(t, p.url, p.html)._2) }
    val decoded = ps.map(p => (p.url, ExtractJob.decodeHtml(p.html))).toArray
    val rawSec = BenchPhases.rawPoolSec(decoded, threads)

    val rows = Layers.table(t.spans).map(r => r.name -> r).toMap
    def per(name: String, f: LayerRow => Long): Double = rows.get(name).map(f(_) / n).getOrElse(0.0)
    val fold = rows("pipeline.fold")
    extra("per_doc_trace") = Map("docs" -> ps.size, "untraced_s" -> untracedSec,
      "traced_s" -> tracedSec, "raw_pool_s" -> rawSec,
      "traced_vs_untraced" -> untracedSec / tracedSec)
    Map(
      "pipeline.decode_ns_per_doc" -> per("pipeline.decode", _.totalNs),
      "pipeline.fold_ns_per_doc" -> per("pipeline.scrape_html", _.totalNs),
      "pipeline.fold_alloc_bytes_per_doc" -> per("pipeline.scrape_html", _.allocBytes),
      "pipeline.fold_untraced_share" -> fold.selfNs.toDouble / fold.totalNs,
      "pipeline.raw_pool_docs_per_s" -> n / rawSec,
      "dom.parse_ns_per_doc" -> per("dom.parse", _.totalNs),
      "dom.parse_alloc_bytes_per_doc" -> per("dom.parse", _.allocBytes),
      "dom.html_bytes_per_doc" -> stats.map(_.htmlBytes.toLong).sum / n,
      "extract.meta_ns_per_doc" -> per("extract.meta", _.totalNs),
      "extract.jsonld_ns_per_doc" -> per("extract.jsonld", _.totalNs),
      "extract.favicon_ns_per_doc" -> per("extract.favicon", _.totalNs),
      "extract.links_ns_per_doc" -> per("extract.links", _.totalNs),
      "extract.readability_ns_per_doc" -> per("extract.readability", _.totalNs),
      "extract.markdown_ns_per_doc" -> per("extract.markdown", _.totalNs),
      "extract.readability_alloc_bytes_per_doc" -> per("extract.readability", _.allocBytes),
      "extract.readability_yield" -> stats.count(_.articleFound) / n,
      "content.blocks_ns_per_doc" -> per("content.blocks", _.totalNs),
      "content.normalize_ns_per_doc" -> per("content.normalize", _.totalNs),
      "content.blocks_per_doc" -> stats.map(_.blocks.toLong).sum / n,
      "content.block_accept_ratio" ->
        stats.map(_.blocksAccepted.toLong).sum.toDouble / math.max(1L, stats.map(_.blocksTotal.toLong).sum),
      "trace.traced_vs_untraced" -> untracedSec / tracedSec)
  }

}

import Workloads._

/** What both extraction workloads share: the generated rows, the reference
  * output, the per-doc trace and the Spark-side probes of the scan,
  * mega-host pre-pass and row encoder. */
abstract class Extraction(env: Env, val nDocs: Int, heavy: Boolean) extends Workload {
  protected val spark: SparkSession = env.spark
  import spark.implicits._
  final case class S(dir: String, corpus: String)
  type State = S
  protected lazy val pageRows: IndexedSeq[PageRow] = pages(env, env.firstRow, nDocs, heavy)
  protected var reference: Digest = _
  protected val digests = mutable.ArrayBuffer.empty[Digest]

  /** What a correct run outputs: `scrapeAny` on the same rows, no Spark. */
  override def prepare(): Unit = {
    val rows = Util.parMap(pageRows, env.threads)(p => ExtractJob.scrapeAny(p.url, p.html))
    reference = Util.digest(spark.createDataset(rows).toDF(), Util.ExtractedCols)
  }

  protected def writeInputs(dir: String): S = {
    Util.deleteTree(dir)
    writeCorpus(env, s"$dir/corpus", env.firstRow, nDocs, heavy)
    S(dir, s"$dir/corpus")
  }

  protected def corpus(s: S, sp: SparkSession = spark): Dataset[PageRow] = {
    import sp.implicits._
    sp.read.parquet(s.corpus).as[PageRow]
  }

  def inputs(s: S): Map[String, Any] = pageProps(pageRows)

  /** Seconds of the Spark-side layers this workload's plan adds. */
  protected def planProbes(s: S, st: Stages, mega: Broadcast[Map[String, Int]]): Map[String, Double]

  /** Spark-side layer seconds, each from a probe job that adds one layer to
    * a cheaper one: scan, mega-host pre-pass, row encoder (the fold on scan
    * splits with the `ScrapedRow` encoder vs. without), then the plan's own. */
  protected def probes(s: S, st: Stages): Map[String, Double] = {
    val pages = corpus(s)
    val scan = timed(st.stage("probe.scan")(noop(pages.toDF().select("url", "html"))))
    var mega: Broadcast[Map[String, Int]] = null
    val prepass = timed(st.stage("probe.megahost_prepass")(
      { mega = ExtractJob.megaHostMap(pages.toDF().select("url", "html"), env.parts) }))
    val foldNoEncoder = timed(st.stage("probe.fold_no_encoder")(noop(
      pages.select("url", "html").as[(String, Array[Byte])]
        .mapPartitions(_.map { case (u, h) => ExtractJob.scrapeAny(u, h).word_count }).toDF())))
    val withEncoder = timed(st.stage("probe.fold_encoder")(noop(ExtractJob.extractOnSplits(pages).toDF())))
    val plan = planProbes(s, st, mega)
    mega.destroy()
    Map("scan" -> scan, "prepass" -> prepass, "encoder" -> (withEncoder - foldNoEncoder)) ++ plan
  }

  protected def extractionLayers(s: S, st: Stages, opSec: Double, opDocsPerSec: Double,
                                 extra: mutable.Map[String, Any]): Map[String, Double] = {
    val doc = perDoc(st.tracer, pageRows, env.threads, extra)
    val p = probes(s, st)
    extra("probe_s") = p
    def share(k: String): Double = p.getOrElse(k, 0.0) / opSec
    doc ++ Map(
      "pipeline.spark_vs_ceiling" -> opDocsPerSec / doc("pipeline.raw_pool_docs_per_s"),
      "pipeline.scan_share" -> share("scan"),
      "pipeline.megahost_prepass_share" -> share("prepass"),
      "pipeline.exchange_share" -> share("exchange"),
      "pipeline.encoder_share" -> share("encoder"),
      "pipeline.resume_join_share" -> share("resume_join"),
      "pipeline.sink_write_share" -> share("sink_write"))
  }
}

/** `ExtractJob.runResumable` on the text-dense corpus, a quarter of which is
  * already in the checkpoint: resume anti-join, salted html exchange
  * (shuffle_first), fused fold, `ScrapedRow` encoder, parquet sink and
  * manifest. Its traced run also measures the curation layer
  * ([[CurateCorpus]]). */
final class ExtractText(env: Env) extends Extraction(env, nDocs = 4000, heavy = false) {
  import spark.implicits._
  val SeededEvery = 4
  private val stored = mutable.ArrayBuffer.empty[Long]
  private val urlChecks = mutable.ArrayBuffer.empty[Boolean]
  private val processed = mutable.ArrayBuffer.empty[Long]

  def setup(dir: String): S = {
    val s = writeInputs(dir)
    val seeded = spark.range(env.firstRow, env.firstRow + nDocs, SeededEvery, env.parts)
      .map(i => PagesGen.makePage(i))
    ExtractJob.runResumable(spark, seeded, s"$dir/seeded", env.parts, "seed")
    s
  }

  /** One resumed run on a fresh copy of the seeded checkpoint. */
  private def resumedRun(s: S, sp: SparkSession, i: Int): Op = {
    val out = s"${s.dir}/op"
    Util.deleteTree(out)
    Util.copyTree(s"${s.dir}/seeded", out)
    val pages = corpus(s, sp)
    val t0 = System.nanoTime()
    val m = ExtractJob.runResumable(sp, pages, out, env.parts, "bench")
    val ns = System.nanoTime() - t0
    Op(m.pagesParsed, m.parseFailures, m.pagesParsed, ns)
  }

  def op(s: S, i: Int): Op = {
    val o = resumedRun(s, spark, i)
    processed += o.docs
    o
  }

  override def afterOp(s: S, i: Int): Unit = {
    val out = s"${s.dir}/op"
    val data = spark.read.parquet(s"$out/data")
    val r = data.agg(count(lit(1)), countDistinct(col("url"))).first()
    urlChecks += (r.getLong(0) == nDocs && r.getLong(1) == nDocs)
    digests += Util.digest(data, Util.ExtractedCols)
    stored += Util.treeBytes(s"$out/data") + Util.treeBytes(s"$out/manifest")
  }

  def check(s: S, ops: Seq[Op]): Seq[(String, Boolean)] =
    Seq("checkpoint_digest" -> digests.forall(_ == reference),
        "checkpoint_urls_once" -> urlChecks.forall(identity))

  override def inputs(s: S): Map[String, Any] = super.inputs(s) + ("seeded_share" -> 1.0 / SeededEvery)

  /** The salted exchange of the raw rows, the resume anti-join and the parquet sink. */
  protected def planProbes(s: S, st: Stages, mega: Broadcast[Map[String, Int]]): Map[String, Double] = {
    val pages = corpus(s)
    val scan = timed(noop(pages.toDF().select("url", "html")))
    val exchange = timed(st.stage("probe.exchange")(noop(
      ExtractJob.applySaltedRepartition(pages.toDF().select("url", "html"), mega, env.parts))))
    val done = spark.read.parquet(s"${s.dir}/seeded/data").select("url")
    val antiJoin = timed(st.stage("probe.resume_join")(noop(pages.join(done, Seq("url"), "left_anti"))))
    val rows = ExtractJob.extractOnSplits(pages).persist()
    rows.count()
    val sinkDir = s"${s.dir}/probe_sink"
    val sink = timed(st.stage("probe.sink_write")(rows.write.parquet(sinkDir)))
    rows.unpersist(true)
    Util.deleteTree(sinkDir)
    Map("exchange" -> (exchange - scan), "resume_join" -> (antiJoin - scan), "sink_write" -> sink)
  }

  def traced(s: S, st: Stages, opSec: Double, opDocsPerSec: Double,
             extra: mutable.Map[String, Any]): Map[String, Double] = {
    val layers = extractionLayers(s, st, opSec, opDocsPerSec, extra)
    val curate = new CurateCorpus(env).traced(st, extra)
    extra("repeats") = extra.getOrElse("repeats", Map.empty[String, Boolean])
      .asInstanceOf[Map[String, Boolean]] ++ Map(
      "pipeline.stored_bytes" -> (stored.distinct.size == 1),
      "pipeline.resume_skipped_rows" -> (processed.distinct.size == 1))
    // the N→4N rule on this box: the same input and partition count at local[1]
    spark.stop()
    val one = Settings.session("local[1]", env.threads, env.work)
    val single = Util.median((0 until 2).map(i => resumedRun(s, one, 100 + i).docsPerSec))
    one.stop()
    extra("local1_docs_per_s") = single
    layers ++ curate ++ Map(
      "pipeline.resume_skipped_rows" -> (nDocs - Util.median(processed.map(_.toDouble).toSeq)),
      "pipeline.stored_bytes_per_doc" -> Util.median(stored.map(_.toDouble).toSeq) / nDocs,
      "pipeline.scaling_eff" -> opDocsPerSec / (env.threads * single))
  }
}

/** `ExtractJob.extractAuto` on the markup-heavy corpus, consumed into the
  * output digest: the byte-ratio check picks extract_first, so the exchange
  * carries extracted rows and no sink runs. Its traced run also measures the
  * ingest layer ([[IngestBatches]]). */
final class ExtractMarkup(env: Env) extends Extraction(env, nDocs = 2000, heavy = true) {
  private val variants = mutable.ArrayBuffer.empty[String]

  def setup(dir: String): S = writeInputs(dir)

  def op(s: S, i: Int): Op = {
    val c = ExtractJob.newCounters(spark)
    val t0 = System.nanoTime()
    val (variant, rows) = ExtractJob.extractAuto(corpus(s), env.parts, Some(c))
    val d = Util.digest(rows.toDF(), Util.ExtractedCols)
    val ns = System.nanoTime() - t0
    digests += d
    variants += variant
    Op(c.pagesParsed.value, c.parseFailures.value, c.pagesParsed.value, ns)
  }

  def check(s: S, ops: Seq[Op]): Seq[(String, Boolean)] =
    Seq("output_digest" -> digests.forall(_ == reference),
        "plan_is_extract_first" -> variants.forall(_ == "extract_first"))

  /** The salted exchange of the extracted rows (the cached fold output). */
  protected def planProbes(s: S, st: Stages, mega: Broadcast[Map[String, Int]]): Map[String, Double] = {
    val rows = ExtractJob.extractOnSplits(corpus(s)).toDF().persist()
    rows.count()
    val scan = timed(noop(rows))
    val exchange = timed(st.stage("probe.exchange")(noop(
      ExtractJob.applySaltedRepartition(rows, mega, env.parts))))
    rows.unpersist(true)
    Map("exchange" -> (exchange - scan))
  }

  def traced(s: S, st: Stages, opSec: Double, opDocsPerSec: Double,
             extra: mutable.Map[String, Any]): Map[String, Double] =
    extractionLayers(s, st, opSec, opDocsPerSec, extra) ++ new IngestBatches(env).traced(st, extra)
}

/**
 * The curation layer: `Curate.curate(…, "url", "normalized_text",
 * Config(paraMinDocFreq = 5))` over the extracted text of a default corpus
 * (para-dedup, quality, exact dedup, MinHash LSH, verify, connected
 * components). Its calls are planning-bound (4-10 s whatever the corpus size
 * on a 4-core box) and their time keeps falling for a dozen calls as the JIT
 * compiles Catalyst, so it runs inside the extract_text traced run rather
 * than as a timed workload: one traced call, the whole call, a second traced
 * call, and the DuckDB replay of the whole call's ledger as the check.
 */
final class CurateCorpus(env: Env) {
  private val spark = env.spark
  val nDocs = 400
  val Cfg = Curate.Config(paraMinDocFreq = 5)
  val LedgerCols = Seq("id", "kept", "stage", "reason", "paras_removed")

  /** Extracts a default corpus after the extraction window; returns the
    * `(url, normalized_text)` table, laid out as the oracle SQL reads it. */
  def setup(dir: String): String = {
    import spark.implicits._
    Util.deleteTree(dir)
    writeCorpus(env, s"$dir/corpus", env.firstRow + 50000, nDocs, heavy = false)
    ExtractJob.extract(spark.read.parquet(s"$dir/corpus").as[PageRow], env.parts).toDF()
      .select("url", "normalized_text")
      .write.parquet(s"$dir/extract_normalized")
    s"$dir/extract_normalized"
  }

  def traced(st: Stages, extra: mutable.Map[String, Any]): Map[String, Double] = {
    val dir = s"${env.work}/curate"
    val in = setup(dir)
    def input: DataFrame = spark.read.parquet(in)
    def tracedCall() = {
      val before = st.tracer.spans.size
      val (ledger, c) = Traced.curate(st, input, "url", "normalized_text", Cfg)
      (Util.digest(ledger, LedgerCols), c, st.tracer.spans.drop(before))
    }
    val first = tracedCall()
    val whole = st.stage("curate.curate")(Curate.curate(input, "url", "normalized_text", Cfg))
    whole.coalesce(1).write.parquet(s"$dir/ledger")
    val wholeSec = st.tracer.spans.filter(_.name == "curate.curate").map(_.durNs).sum / 1e9
    val second = tracedCall()
    val ref = Util.digest(whole, LedgerCols)

    def jobs(spans: Seq[Span], name: String): Long =
      spans.filter(_.name == name).map(_.counts.getOrElse("jobs", 0L)).sum
    val stageNames = Seq("ops.para_dedup", "ops.quality", "ops.exact_dedup", "ops.minhash",
      "ops.candidates", "ops.verify", "ops.cc", "ops.ledger")
    val (_, c, spans) = second
    val root = spans.find(_.name == "curate.traced").get
    def share(n: String): Double = spans.filter(_.name == n).map(_.durNs).sum.toDouble / root.durNs
    val rootSelf = Layers.table(spans).find(_.name == "curate.traced").get.selfNs
    val r = whole.agg(sum("paras_removed"), sum(when(col("kept"), 1).otherwise(0))).first()

    extra("checks") = extra.getOrElse("checks", Map.empty[String, Boolean])
      .asInstanceOf[Map[String, Boolean]] + ("traced_curate_matches_ledger" -> Seq(first, second).forall(_._1 == ref))
    extra("repeats") = extra.getOrElse("repeats", Map.empty[String, Boolean])
      .asInstanceOf[Map[String, Boolean]] ++ Map(
      "ops.candidate_pairs" -> (first._2.candidatePairs == c.candidatePairs),
      "ops.verified_pairs" -> (first._2.verifiedPairs == c.verifiedPairs)) ++
      stageNames.map(n => s"$n.jobs" -> (jobs(first._3, n) == jobs(spans, n)))
    extra("curate") = Map("docs" -> nDocs, "whole_call_s" -> wholeSec,
      "traced_call_s" -> root.durNs / 1e9, "traced_vs_whole" -> wholeSec / (root.durNs / 1e9),
      "paras_removed_per_doc" -> r.getLong(0).toDouble / nDocs,
      "kept_share" -> r.getLong(1).toDouble / nDocs,
      "stage_jobs" -> stageNames.map(n => n -> jobs(spans, n)).toMap)
    // the oracle SQL and this ledger for the DuckDB replay in run.py; the
    // replay result is cached under a key of the SQL and the input content
    val sql = s"$dir/curation_pages.sql"
    val pw = new java.io.PrintWriter(sql, "UTF-8")
    try pw.print(DerivedOracles.curationPages(dir)) finally pw.close()
    val key = java.security.MessageDigest.getInstance("SHA-256")
      .digest((DerivedOracles.curationPages("") + Util.digest(input, Seq("url", "normalized_text")))
        .getBytes("UTF-8"))
      .take(12).map(b => f"$b%02x").mkString
    extra("exports") = Map("curate_oracle_sql" -> sql, "curate_ledger" -> s"$dir/ledger",
      "curate_oracle_key" -> key)

    Map(
      "ops.para_dedup_share" -> share("ops.para_dedup"),
      "ops.quality_share" -> share("ops.quality"),
      "ops.exact_dedup_share" -> share("ops.exact_dedup"),
      "ops.minhash_share" -> share("ops.minhash"),
      "ops.candidates_share" -> share("ops.candidates"),
      "ops.verify_share" -> share("ops.verify"),
      "ops.cc_share" -> share("ops.cc"),
      "ops.candidate_pairs" -> c.candidatePairs.toDouble,
      "ops.verify_yield" -> (if (c.candidatePairs == 0) 0.0 else c.verifiedPairs.toDouble / c.candidatePairs),
      "ops.cc_jobs" -> jobs(spans, "ops.cc").toDouble,
      "ops.curate_untraced_share" -> rootSelf.toDouble / root.durNs)
  }
}

/**
 * The ingest layer: `IncrementalDedup.dedupeAndCommitIndexed` commits of
 * fixed-size batches into a history store, each batch mixing fresh pages
 * with re-crawls of history pages. One commit costs 10-17 s on a 4-core box,
 * so it runs inside the extract_markup traced run rather than as a timed
 * workload of its own: a history bootstrap, one traced commit, and the same
 * two commits through the flat-store path as the check. SelfTest pins the
 * traced commit to `dedupeAndCommitIndexed`.
 */
final class IngestBatches(env: Env, val HistoryDocs: Int = 500, val BatchDocs: Int = 200,
                          val RecrawlsPerBatch: Int = 40) {
  private val spark = env.spark
  final case class S(store: String, table: String)

  /** History = rows after the extraction window. */
  private def historyRows: IndexedSeq[(String, String)] =
    pages(env, env.firstRow + 60000, HistoryDocs, heavy = false).map(p => (p.url, p.text))

  /** Batch `k`: fresh rows after the history, plus re-crawls of distinct
    * history rows, every other one with a revised ending. */
  def batch(k: Int): IndexedSeq[(String, String)] = {
    val fresh = BatchDocs - RecrawlsPerBatch
    val first = env.firstRow + 60000
    val freshRows = pages(env, first + HistoryDocs + k.toLong * fresh, fresh, heavy = false)
      .map(p => (p.url, p.text))
    val recrawls = (0 until RecrawlsPerBatch).map { m =>
      val j = ((k.toLong * RecrawlsPerBatch + m) * 7919L) % HistoryDocs
      val p = PagesGen.makePage(first + j)
      (p.url, if (m % 2 == 0) p.text else s"${p.text} Revised in crawl $k.")
    }
    freshRows ++ recrawls
  }

  def df(rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "text")
  }

  def setup(dir: String): S = {
    Util.deleteTree(dir)
    val table = "bands_" + new java.io.File(dir).getName
    ExtractJob.dropTableAndLocation(spark, table)
    IncrementalDedup.dedupeAndCommitIndexed(df(historyRows), "id", "text", s"$dir/store", table)
    S(s"$dir/store", table)
  }

  def accepted(ledger: DataFrame): Set[String] =
    ledger.filter(col("kept")).select("id").collect().map(_.getString(0)).toSet

  def traced(st: Stages, extra: mutable.Map[String, Any]): Map[String, Double] = {
    val dir = s"${env.work}/ingest"
    val s = setup(dir)
    val before = st.tracer.spans.size
    val ledger = Traced.commitIndexed(st, df(batch(0)), "id", "text", s.store, s.table)
    val spans = st.tracer.spans.drop(before)
    val histMatches = ledger.filter(col("stage").startsWith("exact_dup_hist") ||
      col("stage").startsWith("near_dup_hist")).count()

    // the same history and batch through the flat-store path must accept
    // the same documents
    val flat = s"$dir/flat"
    IncrementalDedup.dedupeAndCommit(df(historyRows), "id", "text", flat)
    val same = accepted(IncrementalDedup.dedupeAndCommit(df(batch(0)), "id", "text", flat)) == accepted(ledger)
    extra("checks") = extra.getOrElse("checks", Map.empty[String, Boolean])
      .asInstanceOf[Map[String, Boolean]] + ("ingest_matches_flat_store" -> same)

    val root = spans.find(_.name == "ingest.commit.traced").get
    def share(n: String): Double = spans.filter(_.name == n).map(_.durNs).sum.toDouble / root.durNs
    val hist = spark.read.parquet(s"${s.store}/hashes").count()
    val bytes = Util.treeBytes(s.store) + Util.treeBytes(s"${env.work}/warehouse/${s.table}")
    extra("ingest") = Map("history_docs" -> HistoryDocs, "batch_docs" -> BatchDocs,
      "recrawl_share" -> RecrawlsPerBatch.toDouble / BatchDocs,
      "traced_commit_s" -> root.durNs / 1e9,
      "step_jobs" -> spans.filter(_.name.startsWith("ingest.")).map(x => x.name -> x.counts("jobs")).toMap)
    Map(
      "ingest.open_store_share" -> share("ingest.open_store"),
      "ingest.dedupe_batch_share" -> share("ingest.dedupe_batch"),
      "ingest.append_bands_share" -> share("ingest.append_bands"),
      "ingest.append_store_share" -> share("ingest.append_store"),
      "ingest.jobs_per_commit" -> root.counts("jobs").toDouble,
      "ingest.history_rows" -> hist.toDouble,
      "ingest.history_match_share" -> histMatches.toDouble / BatchDocs,
      "ingest.stored_bytes_per_doc" -> bytes.toDouble / hist)
  }
}
