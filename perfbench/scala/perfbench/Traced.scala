package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.content.{BlockParser, NormalizeOptions, Normalizer}
import graft.dom.HtmlParser
import graft.extract._
import graft.ops.{DedupOps, IncrementalDedup, ParaDedup, RepetitionOps}
import graft.pipeline.{Curate, ExtractJob, NormMetaRow, ScrapePipeline, ScrapedRow}
import graft.urlx.UrlOps
import graft.util.Js

/** Per-doc facts the traced fold observes on its way. */
final case class DocStats(htmlBytes: Int, articleFound: Boolean, blocks: Int,
    blocksTotal: Int, blocksAccepted: Int)

/** Spans around Spark work: each span carries the scheduler counts of what
  * ran inside it. */
final class Stages(val tracer: Tracer, val counts: SparkCounts) {
  def stage[A](name: String)(f: => A): A = {
    val c0 = counts.snapshot()
    tracer.spanWith(name, () => (counts.snapshot() - c0).toMap)(f)
  }
}

/**
 * The program's public calls re-composed with a span around each one. Each
 * composition mirrors one program entry point call for call (SelfTest pins
 * that they give the same output), so the spans attribute the entry point's
 * time to the layers it calls.
 */
object Traced {

  // ---- per doc: ExtractJob.scrapeAny on HTML = decodeHtml + ScrapePipeline.scrapeHtml ----

  def fold(t: Tracer, url: String, bytes: Array[Byte]): (ScrapedRow, DocStats) =
    t.span("pipeline.fold") {
      val html = t.span("pipeline.decode")(ExtractJob.decodeHtml(bytes))
      val (row, st) = scrapeHtml(t, html, url)
      (row, st.copy(htmlBytes = if (bytes == null) 0 else bytes.length))
    }

  private def scrapeHtml(t: Tracer, html: String, url: String): (ScrapedRow, DocStats) = {
    val none = DocStats(0, false, 0, 0, 0)
    // the invalid-url and parse-failure rows carry no layer work worth
    // attributing: the program builds them, so they match by construction
    if (!UrlOps.isValidUrl(url)) return (ScrapePipeline.scrapeHtml(html, url), none)
    val normalizedUrl = UrlOps.normalizeUrl(url)
    val doc =
      try t.span("dom.parse")(HtmlParser.parse(html))
      catch { case _: Exception => return (ScrapePipeline.scrapeHtml(html, url), none) }
    val ctx = ExtractionContext(normalizedUrl, normalizedUrl, doc, true, 50000)
    val opts = NormalizeOptions()

    var found = false
    var results = Partial()
    ScrapePipeline.defaultExtractors.foreach { extractor =>
      try {
        val p = t.span("extract." + extractor.name) {
          if (extractor eq ContentExtractor) { val (p, f) = content(t, ctx); found = f; p }
          else extractor.extract(ctx)
        }
        results = results.merge(p)
      } catch {
        case e: Exception =>
          val msg = s"${extractor.name}: ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}"
          results = results.copy(error = Some(results.error.map(_ + "; " + msg).getOrElse(msg)))
      }
    }

    val domain = UrlOps.extractDomain(normalizedUrl)
    var normalizedText = ""
    var normHash = ""
    var normMeta = NormMetaRow(0, 0, opts.languageHint.getOrElse("unknown"), false, false, "", 0, 0, false)
    var nBlocks = 0
    try {
      val blocks = t.span("content.blocks")(BlockParser.parseBlocks(doc,
        dropSelectors = opts.dropSelectors, maxBlocks = opts.maxBlocks.getOrElse(2000),
        includeHtml = opts.includeHtml))
      nBlocks = blocks.size
      val nr = t.span("content.normalize")(Normalizer.normalizeText(blocks, opts, Some(normalizedUrl)))
      normalizedText = nr.text
      normHash = nr.meta.hash
      normMeta = NormMetaRow(nr.meta.charCount, nr.meta.tokenEstimate, nr.meta.language,
        nr.meta.boilerplateRemoved, nr.meta.classifierUsed, nr.meta.hash,
        nr.meta.blocksTotal, nr.meta.blocksAccepted, nr.meta.truncated)
    } catch {
      case e: Exception =>
        val msg = s"normalize: ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}"
        results = results.copy(error = Some(results.error.map(_ + "; " + msg).getOrElse(msg)))
    }

    val row = ScrapedRow(
      url = normalizedUrl,
      canonical_url = results.canonicalUrl.getOrElse(normalizedUrl),
      domain = domain,
      title = results.title.getOrElse(""),
      description = results.description.getOrElse(""),
      image = results.image,
      favicon = results.favicon,
      content = results.content.getOrElse(""),
      text_content = results.textContent.getOrElse(""),
      excerpt = results.excerpt.getOrElse(""),
      word_count = results.wordCount.getOrElse(0),
      author = results.author,
      published_at = results.publishedAt,
      modified_at = results.modifiedAt,
      site_name = results.siteName,
      language = results.language,
      content_type = results.contentType.getOrElse("unknown"),
      keywords = results.keywords.getOrElse(Nil),
      json_ld = results.jsonLd,
      links = results.links.getOrElse(Nil).map(l => graft.pipeline.LinkRow(l.url, l.text, l.isExternal)),
      normalized_text = normalizedText,
      norm_hash = normHash,
      norm_meta = normMeta,
      status = "ok",
      error = results.error,
      custom = results.custom)
    (row, DocStats(0, found, nBlocks, normMeta.blocks_total, normMeta.blocks_accepted))
  }

  /** ContentExtractor.extract split into Readability.parse + Markdown.fromElement;
    * the flag says whether Readability found an article. */
  private def content(t: Tracer, ctx: ExtractionContext): (Partial, Boolean) =
    t.span("extract.readability")(Readability.parse(ctx.doc, ctx.finalUrl)) match {
      case Some(article) if article.content.nonEmpty =>
        var content = t.span("extract.markdown")(Markdown.fromElement(article.contentDom))
        if (content.length > ctx.maxContentLength)
          content = content.substring(0, ctx.maxContentLength) + "\n\n[Content truncated...]"
        val textContent = Js.trim(article.textContent)
        val excerpt = ContentExtractor.createExcerpt(textContent)
        (Partial(
          content = Some(content),
          textContent = Some(textContent),
          excerpt = Some(article.excerpt.filter(_.nonEmpty).getOrElse(excerpt)),
          wordCount = Some(Js.countTokens(textContent)),
          contentType = Some(ContentTypeDetect.detect(ctx)),
          title = Some(article.title).filter(_.nonEmpty),
          author = article.byline.filter(_.nonEmpty),
          siteName = article.siteName.filter(_.nonEmpty)), true)
      case _ =>
        val body = ctx.doc.body
        val content = t.span("extract.markdown")(Markdown.fromElement(body))
        val textContent = Js.trim(Js.collapseWsAll(body.text()))
        (Partial(
          content = Some(content.take(ctx.maxContentLength)),
          textContent = Some(textContent),
          excerpt = Some(ContentExtractor.createExcerpt(textContent)),
          wordCount = Some(Js.countTokens(textContent)),
          contentType = Some("unknown")), false)
    }

  // ---- Curate.curate, one materialized stage per operator ----

  final case class CurateCounts(candidatePairs: Long, verifiedPairs: Long, parasRemoved: Long)

  def curate(s: Stages, input: DataFrame, idCol: String, textCol: String,
             cfg: Curate.Config): (DataFrame, CurateCounts) = {
    val spark = input.sparkSession
    import spark.implicits._
    var counts: CurateCounts = null
    val ledger = s.stage("curate.traced") {
      val cleaned = s.stage("ops.para_dedup")(
        ParaDedup.dedupParagraphs(input, idCol, textCol, cfg.paraMinDocFreq))
      val judged = s.stage("ops.quality") {
        cleaned.select(col("id"), col("text_deduped"), col("paras_removed"))
          .as[(String, String, Long)]
          .map { case (id, text, pr) =>
            val v = RepetitionOps.gopherFilter(RepetitionOps.profile(text), cfg.thresholds)
            (id, text, pr, v.keep, v.reasons.mkString("+"))
          }
          .toDF("id", "text", "paras_removed", "q_keep", "q_reasons")
          .localCheckpoint(true)
      }
      val (exactDrops, uniq) = s.stage("ops.exact_dedup") {
        val hashed = judged.filter(col("q_keep"))
          .withColumn("hash", expr("substring(sha2(text, 256), 1, 32)"))
        val keepers = hashed.groupBy("hash").agg(min(col("id")).as("keeper"))
        val withKeeper = hashed.join(keepers, "hash").localCheckpoint(true)
        (withKeeper.filter(col("id") =!= col("keeper"))
          .select(col("id"), lit("exact_dup").as("stage"), col("keeper").as("reason")),
         withKeeper.filter(col("id") === col("keeper")).select("id", "text"))
      }
      val sigs = s.stage("ops.minhash")(
        DedupOps.minhashSignatures(uniq, "id", "text", cfg.shingleN, cfg.minhashK).localCheckpoint(true))
      val cands = s.stage("ops.candidates")(DedupOps.candidatePairs(
        DedupOps.explodeBands(sigs, cfg.bandSize), Seq("band_idx", "band_key"), "id").localCheckpoint(true))
      val verified = s.stage("ops.verify")(
        DedupOps.verifyPairs(cands, sigs, sigs, cfg.estFloor, cfg.jaccardThreshold).localCheckpoint(true))
      val labels = s.stage("ops.cc")(DedupOps.clusterRepresentatives(verified).localCheckpoint(true))
      val out = s.stage("ops.ledger") {
        val qualityDrops = judged.filter(!col("q_keep"))
          .select(col("id"), lit("quality").as("stage"), col("q_reasons").as("reason"))
        val nearDrops = labels.filter(col("id") =!= col("label"))
          .select(col("id").cast("string").as("id"),
            lit("near_dup").as("stage"), col("label").cast("string").as("reason"))
        judged.select(col("id"), col("paras_removed"))
          .join(qualityDrops.union(exactDrops).union(nearDrops), Seq("id"), "left")
          .select(col("id"), col("stage").isNull.as("kept"),
            coalesce(col("stage"), lit("")).as("stage"),
            coalesce(col("reason"), lit("")).as("reason"),
            col("paras_removed"))
          .localCheckpoint(true)
      }
      counts = CurateCounts(cands.count(), verified.count(),
        cleaned.agg(sum("paras_removed")).first().getLong(0))
      out
    }
    (ledger, counts)
  }

  // ---- IncrementalDedup.dedupeAndCommitIndexed, one span per public step ----

  def commitIndexed(s: Stages, batch: DataFrame, idCol: String, textCol: String,
                    dir: String, bandTable: String): DataFrame =
    s.stage("ingest.commit.traced") {
      val spark = batch.sparkSession
      val tableExists = spark.catalog.tableExists(bandTable)
      val hist = s.stage("ingest.open_store")(IncrementalDedup.openStore(spark, dir))
      val r = s.stage("ingest.dedupe_batch")(IncrementalDedup.dedupeBatch(batch, idCol, textCol, hist,
        histBands = if (tableExists) spark.table(bandTable) else null))
      val bandSigs = if (tableExists) r.delta.sigs else hist.sigs.unionByName(r.delta.sigs)
      s.stage("ingest.append_bands")(IncrementalDedup.appendBandsToTable(bandSigs, bandTable, 4, 16))
      s.stage("ingest.append_store")(IncrementalDedup.appendToStore(dir, r.delta))
      r.ledger
    }
}
