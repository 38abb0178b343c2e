package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Per-partition lineage/counter record — the checkpoint manifest row of
  * SURVEY.md §7.5 / the north rule's "per-partition lineage and counters". */
final case class ManifestRow(
    run_id: String,
    partition_id: Int,
    n_rows: Long,
    n_parse_failures: Long,
    n_empty_content: Long,
    n_encrypted_pdf: Long,
    min_url: String,
    max_url: String)

/**
 * The distributed extraction job: decode → salted host-hash repartition →
 * fused per-partition extraction → counters + manifest → sink.
 *
 * Scale design (SURVEY.md §3.2): exactly ONE wide dependency — the explicit
 * `repartition` on `xxhash64(host, salt)`. The mega-host salt split bounds
 * any single host to ~`rowsPerBucket` rows per task, so a 20%-of-corpus
 * domain cannot stall a 1000-executor cluster behind one straggler task.
 * Everything downstream is narrow and codegen-opaque by design (object-heavy
 * DOM work dominates; setup is amortized per partition, not per row).
 */
object ExtractJob {

  /** Extract the URL host in pure built-ins (stays inside codegen). A
    * malformed url gets a null host, like a null url, instead of failing
    * the job under ANSI mode. */
  def hostCol = hostOf(col("url"))

  /** [[hostCol]] of any url column. */
  private def hostOf(url: Column) = regexp_replace(try_parse_url(url, lit("HOST")), "^www\\.", "")

  /**
   * Hash-by-host partitioning with salt-based skew splitting. Hosts whose
   * row count exceeds `rowsPerBucket` are split into `ceil(count/rowsPerBucket)`
   * salt buckets via a second hash on the full url; all other hosts keep
   * salt 0 so their pages stay co-located (host-local downstream joins and
   * robots/side-table broadcasts remain cheap).
   *
   * The mega-host pre-pass ([[megaHostMap]]) is one aggregate over `url`
   * only (column-pruned scan + partial agg): at 100 TB it reads one string
   * column and ships at most `numPartitions + 1` rows to the driver.
   */
  def saltedRepartitionByHost(pages: DataFrame, numPartitions: Int): DataFrame = {
    val mega = megaHostMap(pages, numPartitions)
    applySaltedRepartition(pages, mega, numPartitions)
  }

  /** The mega-host pre-pass alone: hosts whose row count exceeds
    * `totalRows / numPartitions` → their salt-bucket count. The null host
    * (null or malformed urls) is a group like any other. Runs as one
    * column-pruned aggregate over `url` ONLY — callers hand it the cheap
    * input relation even when the relation being repartitioned is the
    * (expensive to recompute) extracted side. */
  def megaHostMap(pages: DataFrame, numPartitions: Int): org.apache.spark.broadcast.Broadcast[Map[String, Int]] =
    pages.sparkSession.sparkContext.broadcast(megaHostMaps(pages, numPartitions, col("url")).head)

  /** One mega-host map per url column in `urls`, from one aggregate
    * ([[megaHostCounts]]). */
  private def megaHostMaps(pages: DataFrame, numPartitions: Int, urls: Column*): Seq[Map[String, Int]] = {
    val n = urls.size
    val totalGid = (1L << n) - 1
    val top = megaHostCounts(pages, numPartitions, urls: _*).collect()
    urls.indices.map { i =>
      megaHosts(top.map(r => (r.getString(i), r.getLong(n), r.getLong(n + 1))), numPartitions,
        hostGid = totalGid ^ (1L << (n - 1 - i)), totalGid = totalGid)
    }
  }

  /** Mega-host map from the largest `(host, count, grouping id)` rows of a
    * host aggregate: the hosts of grouping set `hostGid` whose count
    * exceeds `total / numPartitions` → their salt-bucket count, where the
    * total is the count of grouping set `totalGid`. */
  private def megaHosts(top: Array[(String, Long, Long)], numPartitions: Int,
                        hostGid: Long, totalGid: Long): Map[String, Int] = {
    val totalRows = math.max(1L, top.collectFirst { case (_, n, `totalGid`) => n }.getOrElse(0L))
    val rowsPerBucket = math.max(1L, totalRows / numPartitions)
    top.iterator
      .collect { case (host, n, `hostGid`) if n > rowsPerBucket =>
        host -> math.ceil(n.toDouble / rowsPerBucket).toInt }
      .toMap
  }

  /** `(__host0, …, __host{N-1}, __n, __gid)`: one aggregate with a grouping
    * set for each of the N `urls`' hosts plus the empty set (all rows); for
    * N = 1 it is `rollup(__host0)`. Set i has grouping id `2^N - 1` minus
    * bit `N - 1 - i`, the empty set `2^N - 1`. Keeps the
    * `N * (numPartitions + 1)` largest groups: in each host set at most
    * `numPartitions - 1` groups exceed `total / numPartitions`, so these
    * rows hold every set's mega-hosts and the total. `col(name)`, not the
    * bare name: a by-name grouping trips `DetectAmbiguousSelfJoin` on an
    * anti-joined input. */
  private[pipeline] def megaHostCounts(pages: DataFrame, numPartitions: Int, urls: Column*): DataFrame = {
    val hosts = urls.indices.map(i => col(s"__host$i"))
    pages.select(urls.zipWithIndex.map { case (u, i) => hostOf(u).as(s"__host$i") }: _*)
      .groupingSets(hosts.map(Seq(_)) :+ Seq.empty, hosts: _*)
      .agg(count(lit(1)).as("__n"), grouping_id().as("__gid"))
      .orderBy(col("__n").desc)
      .limit(urls.size * (numPartitions + 1))
  }

  /** The one salt function: per-url sub-bucket within a mega-host. Shared by
    * the exchange plan ([[applySaltedRepartition]]) and the bucketed-ingest
    * layout (Bench) — the two are only exchange-equivalent while they salt
    * identically, so there is exactly one definition. */
  def saltUdf(mega: org.apache.spark.broadcast.Broadcast[Map[String, Int]])
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (host: String, url: String) =>
      val buckets = mega.value.getOrElse(host, 1)
      // a null url (in a mega null-host group) takes salt 0
      if (buckets <= 1 || url == null) 0 else Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(url), buckets)
    }

  /** Exchange on `xxhash64(host, salt)` using a precomputed mega-host map.
    * Payload-agnostic: works identically on raw pages and on extracted rows
    * (any relation with a `url` column). */
  def applySaltedRepartition(
      df: DataFrame,
      mega: org.apache.spark.broadcast.Broadcast[Map[String, Int]],
      numPartitions: Int): DataFrame = {
    val saltFor = saltUdf(mega)
    df.withColumn("__host", hostCol)
      .withColumn("__salt", saltFor(col("__host"), col("url")))
      .repartition(numPartitions, xxhash64(col("__host"), col("__salt")))
      .drop("__salt")
  }

  /** S2 robots gate: join the small `(host, robots_txt)` side table by host
    * (broadcast — it is bounded by distinct-host count, not corpus size) and
    * drop rows the matcher forbids BEFORE any DOM work. Hosts missing from
    * the side table fail open (robots.ts:46-52 error semantics). */
  def robotsGate(
      pages: Dataset[PageRow],
      robots: DataFrame,
      userAgent: String = "ScrapexBot/1.0"): Dataset[PageRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val allowed = udf((robotsTxt: String, url: String) =>
      graft.sources.Robots.isAllowed(robotsTxt, url, userAgent))
    pages.toDF().withColumn("__host", hostCol)
      .join(broadcast(robots.select(col("host").as("__host"), col("robots_txt"))),
        Seq("__host"), "left")
      .filter(col("robots_txt").isNull || allowed(col("robots_txt"), col("url")))
      .select("url", "warc_ts", "html", "text", "lang")
      .as[PageRow]
  }

  /** Drop a managed table AND its warehouse location: a previous session's
    * orphaned location blocks a managed-table create (the in-memory catalog
    * forgets the table but the files remain). */
  def dropTableAndLocation(spark: SparkSession, tableName: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tableName.toLowerCase(java.util.Locale.ROOT))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Persist a dataset bucketed by a key so downstream equi-joins and
    * aggregations on that key are exchange-free (Spark reads co-bucketed
    * tables without shuffling either side). The 100 TB pattern for the
    * extracted corpus: bucket by `domain` once at write time, then every
    * per-host join (robots audits, host-level quality rollups, crawl-politeness
    * stats) and host groupBy skips its shuffle forever after. */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      bucketCol: String,
      numBuckets: Int = 64): Unit = {
    val spark = df.sparkSession
    dropTableAndLocation(spark, tableName)
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(tableName)
  }

  /** Decode `html: binary` → string with a charset sniff (UTF-8 default,
    * meta-charset override) — first transform per SURVEY.md §1.2. The sniff
    * scans the raw bytes for `charset=` directly (ASCII-compatible in every
    * charset the sniff can name) — no head-string or per-call Pattern. */
  def decodeHtml(bytes: Array[Byte]): String = {
    if (bytes == null) return ""
    val charset = sniffCharset(bytes).getOrElse(java.nio.charset.StandardCharsets.UTF_8)
    new String(bytes, charset)
  }

  private val charsetLit = "charset=".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  private def sniffCharset(bytes: Array[Byte]): Option[java.nio.charset.Charset] = {
    val n = math.min(bytes.length, 2048)
    var i = 0
    while (i + charsetLit.length <= n) {
      var j = 0
      while (j < charsetLit.length && {
        // ASCII case-fold of the letters only: `b | 0x20` would also read
        // the control byte 0x1D as '='
        val b = bytes(i + j)
        val lit = charsetLit(j)
        b == lit || (lit >= 'a' && lit <= 'z' && (b | 0x20) == lit)
      }) j += 1
      if (j == charsetLit.length) {
        var k = i + j
        if (k < n && (bytes(k) == '"' || bytes(k) == '\'')) k += 1
        val s = k
        while (k < n && {
          val b = bytes(k)
          (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
          (b >= '0' && b <= '9') || b == '_' || b == '-'
        }) k += 1
        if (k > s) {
          val name = new String(bytes, s, k - s, java.nio.charset.StandardCharsets.US_ASCII)
          return try Some(java.nio.charset.Charset.forName(name))
          catch { case _: Exception => None }
        }
      }
      i += 1
    }
    None
  }

  final case class Counters(
      pagesParsed: LongAccumulator,
      parseFailures: LongAccumulator,
      emptyContent: LongAccumulator,
      encryptedPdf: LongAccumulator)

  def newCounters(spark: SparkSession): Counters = Counters(
    spark.sparkContext.longAccumulator("pages_parsed"),
    spark.sparkContext.longAccumulator("parse_failures"),
    spark.sparkContext.longAccumulator("empty_content"),
    // encrypted PDFs counted apart from parse failures (VERDICT r5 #4):
    // "needs decryption support" is actionable, "no text exists" is not
    spark.sparkContext.longAccumulator("encrypted_pdf"))

  /**
   * The fused extraction: one `mapPartitions` over the salted layout. Also
   * records per-partition lineage into `manifestAcc` (one entry per task,
   * flushed by a task-completion listener so early-terminating consumers —
   * `limit()`, take — still record every started partition).
   */
  def extract(
      pages: Dataset[PageRow],
      numPartitions: Int,
      counters: Option[Counters] = None,
      manifest: Option[org.apache.spark.util.CollectionAccumulator[ManifestRow]] = None,
      runId: String = "run"
  ): Dataset[ScrapedRow] =
    extractWith(pages, megaHostMap(pages.toDF().select("url"), numPartitions), numPartitions,
      counters, manifest, runId)

  /** The shuffle_first Dataset over an already computed mega-host map. */
  private def extractWith(
      pages: Dataset[PageRow],
      mega: org.apache.spark.broadcast.Broadcast[Map[String, Int]],
      numPartitions: Int,
      counters: Option[Counters],
      manifest: Option[org.apache.spark.util.CollectionAccumulator[ManifestRow]],
      runId: String
  ): Dataset[ScrapedRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    // prune to the two columns extraction reads BEFORE the exchange: the
    // crawl-provided text/lang/warc_ts columns never ride the shuffle
    // (at 100 TB that is a double-digit percentage of shuffle bytes)
    val repartitioned = applySaltedRepartition(pages.toDF().select("url", "html"), mega, numPartitions)
      .select("url", "html").as[(String, Array[Byte])]
    fusedExtract(repartitioned, counters, manifest, runId)
  }

  /**
   * Exchange-free extraction: the fused per-partition extraction runs
   * directly on the input scan splits — no repartition anywhere in the job.
   * This is the right plan whenever (a) the input table is already
   * host-bucketed at ingest (`writeBucketed` by salted host key: the scan
   * splits ARE host-clustered, so the sink and downstream host-joins keep
   * their co-location for free), or (b) downstream doesn't need host
   * clustering. Skew note: scan splits are size-bounded by
   * `maxPartitionBytes`, so no straggler can form regardless of host skew.
   */
  def extractOnSplits(
      pages: Dataset[PageRow],
      counters: Option[Counters] = None,
      manifest: Option[org.apache.spark.util.CollectionAccumulator[ManifestRow]] = None,
      runId: String = "run"
  ): Dataset[ScrapedRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    fusedExtract(pages.toDF().select("url", "html").as[(String, Array[Byte])],
      counters, manifest, runId)
  }

  /**
   * Extract-first plan (BASELINE.md plan-order note): extraction runs on the
   * raw scan splits (narrow — the heavy DOM work sees no exchange at all),
   * and the salted host exchange runs AFTER, on the extracted rows, feeding
   * the host-clustered sink. On real web corpora (markup:text ≈ 10:1) the
   * extracted side is the much smaller one, so this shuffles ~10× fewer
   * bytes than shuffle-first; on the synthetic bench corpus the inequality
   * is reversed (extracted ≈ 2× html) — `Bench` measures both.
   *
   * The mega-host salt map is computed eagerly, here, from the cheap url-only
   * input scan ([[extractFirstMegaMap]]), NOT from the extracted relation
   * (which would re-run extraction). [[extractAuto]] computes the same map
   * on a second driver thread while it samples ([[planMegaHostMaps]]).
   */
  def extractFirst(
      pages: Dataset[PageRow],
      numPartitions: Int,
      counters: Option[Counters] = None,
      manifest: Option[org.apache.spark.util.CollectionAccumulator[ManifestRow]] = None,
      runId: String = "run"
  ): Dataset[ScrapedRow] =
    extractFirstWith(pages, extractFirstMegaMap(pages, numPartitions), numPartitions,
      counters, manifest, runId)

  /** The extract_first mega-host pre-pass. The map must be keyed on the SAME
    * host strings the salted exchange reads — the EXTRACTED rows' urls,
    * which extraction has passed through UrlOps.normalizeUrl (case, www,
    * tracking params). A raw-keyed map looks equivalent but misses at apply
    * time whenever normalization changes the host (e.g. WWW.MegaHost.com),
    * silently no-opping the skew split for exactly the hosts it exists to
    * split. Applying the same pure normalization in the pre-pass keeps it a
    * column-pruned scan — extraction still runs exactly once. */
  private def extractFirstMegaMap(pages: Dataset[PageRow], numPartitions: Int)
      : org.apache.spark.broadcast.Broadcast[Map[String, Int]] =
    megaHostMap(pages.toDF().select(normalizedUrl.as("url")), numPartitions)

  /** The page url as extraction normalizes it (`ScrapedRow.url`). */
  private[pipeline] def normalizedUrl: Column = {
    val normalize = udf((u: String) => graft.urlx.UrlOps.normalizeUrl(if (u == null) "" else u))
    normalize(col("url"))
  }

  /** Both plans' mega-host maps from one url-only scan, `(shuffle_first,
    * extract_first)`: the first keyed on the raw url's host, as [[extract]]
    * computes it, the second on the normalized url's host, as
    * [[extractFirstMegaMap]] does. Each equals that plan's own map. */
  private[pipeline] def planMegaHostMaps(pages: Dataset[PageRow], numPartitions: Int)
      : (Map[String, Int], Map[String, Int]) = {
    val Seq(raw, normalized) = megaHostMaps(pages.toDF(), numPartitions, col("url"), normalizedUrl)
    (raw, normalized)
  }

  /** The extract_first Dataset over an already computed mega-host map. */
  private def extractFirstWith(
      pages: Dataset[PageRow],
      mega: org.apache.spark.broadcast.Broadcast[Map[String, Int]],
      numPartitions: Int,
      counters: Option[Counters],
      manifest: Option[org.apache.spark.util.CollectionAccumulator[ManifestRow]],
      runId: String
  ): Dataset[ScrapedRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val extracted = extractOnSplits(pages, counters, manifest, runId)
    applySaltedRepartition(extracted.toDF(), mega, numPartitions)
      .drop("__host").as[ScrapedRow]
  }

  /** Content-type routing on magic bytes (round 5): Common-Crawl-style
    * corpora mix HTML and PDF under one binary column; both routes emit
    * the same ScrapedRow shape, so every downstream stage is
    * content-type-agnostic. The ONE routing definition is shared by the
    * fused extraction and the byte-ratio plan sampler. */
  def scrapeAny(url: String, html: Array[Byte]): ScrapedRow =
    if (html != null && html.length >= 4 && html(0) == '%' &&
        html(1) == 'P' && html(2) == 'D' && html(3) == 'F')
      ScrapePipeline.scrapePdf(html, url)
    else if (graft.sources.Docx.isZip(html))
      // ZIP container → the office/ebook route (round 6); a ZIP that is
      // none of the flavors surfaces as not_docx, never as HTML soup
      ScrapePipeline.scrapeDocx(html, url)
    else if (graft.sources.Rtf.isRtf(html))
      ScrapePipeline.scrapeRtf(html, url)
    else ScrapePipeline.scrapeHtml(decodeHtml(html), url)

  /** Byte-ratio plan selection for unbucketed input (BASELINE.md: choosing
    * shuffle_first vs extract_first "is a one-line byte-ratio check at
    * ingest", made real per VERDICT r3 #6). Extracts a bounded sample on the
    * driver and compares the bytes each plan would shuffle: shuffle_first
    * moves the raw html, extract_first moves the extracted rows. Real-web
    * markup-heavy corpora (markup:text ≈ 10:1) pick extract_first; dense-
    * text corpora where the extracted row (content md + text + normalized)
    * outweighs its html pick shuffle_first. The sample is one
    * `limit(sampleN)` read — O(one partition) at any corpus size — and its
    * rows are extracted in parallel on the driver ([[sampleBytes]]). */
  def chooseVariant(pages: Dataset[PageRow], sampleN: Int = 256): String = {
    val (htmlBytes, extractedBytes) =
      sampleBytes(pages.toDF().select("url", "html").limit(sampleN).collect())
    if (extractedBytes < htmlBytes) "extract_first" else "shuffle_first"
  }

  /** `(html bytes, extracted bytes)` of `(url, html)` sample rows. Rows are
    * extracted in parallel; both are Long sums, so the result does not
    * depend on the order rows finish in. */
  private[pipeline] def sampleBytes(sample: Array[org.apache.spark.sql.Row]): (Long, Long) = {
    val htmlBytes = sample.iterator.map { r =>
      val html = r.getAs[Array[Byte]](1)
      if (html == null) 0L else html.length.toLong
    }.sum
    val extractedBytes = java.util.Arrays.stream(sample).parallel()
      .mapToLong(r => shuffledBytes(scrapeAny(r.getString(0), r.getAs[Array[Byte]](1))))
      .sum()
    (htmlBytes, extractedBytes)
  }

  /** The fields that dominate a shuffled ScrapedRow's serialized size. */
  private[pipeline] def shuffledBytes(row: ScrapedRow): Long =
    utf8Len(row.content) + utf8Len(row.text_content) +
      utf8Len(row.normalized_text) + utf8Len(row.excerpt) + utf8Len(row.description) +
      row.links.iterator.map(l => utf8Len(l.url) + utf8Len(l.text)).sum

  // UTF-8 byte length without allocating the encoded array — the shuffle
  // moves UTF8String bytes, so comparing UTF-16 char counts against html
  // BYTE counts would misorder the sides by up to 3x on non-Latin text
  private def utf8Len(s: String): Long = {
    var bytes = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      bytes += (if (cp < 0x80) 1 else if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4)
      i += Character.charCount(cp)
    }
    bytes
  }

  /** Auto-planned extraction for unbucketed input: [[chooseVariant]] on a
    * sample, then the chosen plan. (Bucketed-at-ingest input should call
    * [[extractOnSplits]] directly — no exchange beats either choice.)
    *
    * Both plans need a mega-host pre-pass and neither needs the sample's
    * verdict to run it, so it runs beside the sample: while [[chooseVariant]]
    * samples on the caller's thread, a second driver thread computes both
    * plans' mega-host maps in one url-only aggregate ([[planMegaHostMaps]]),
    * and the chosen plan uses its map. No work is spent on the plan that is
    * not chosen. The thread carries the caller's job group, description, job
    * tags, scheduler pool and active session
    * (`SQLExecution.withThreadLocalCaptured`), so cancelling the caller's
    * group or tags cancels the pre-pass too. A pre-pass failure is rethrown
    * here; if the sample fails or the caller is interrupted, the pre-pass
    * jobs are cancelled. Either way no pre-pass job is running when this
    * returns. Rows equal the explicit plan's. */
  def extractAuto(
      pages: Dataset[PageRow],
      numPartitions: Int,
      counters: Option[Counters] = None,
      manifest: Option[org.apache.spark.util.CollectionAccumulator[ManifestRow]] = None,
      runId: String = "run"
  ): (String, Dataset[ScrapedRow]) = {
    val spark = pages.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sc = spark.sparkContext
    val tag = s"$PrePassTagPrefix${java.util.UUID.randomUUID()}"
    // the body never throws: withThreadLocalCaptured restores the pool
    // thread's properties and session only when its body returns
    val prePass = org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(spark, planThreads) {
      try { sc.addJobTag(tag); Right(planMegaHostMaps(pages, numPartitions)) }
      catch { case e: Throwable => Left(e) }
    }
    val variant =
      try chooseVariant(pages)
      catch { case e: Throwable => abandon(prePass, sc, tag); throw e }
    val maps =
      try prePass.get()
      catch { case e: InterruptedException => abandon(prePass, sc, tag); throw e }
    val (shuffleFirstMap, extractFirstMap) = maps.fold(e => throw e, identity)
    if (variant == "extract_first")
      (variant, extractFirstWith(pages, sc.broadcast(extractFirstMap), numPartitions, counters, manifest, runId))
    else
      (variant, extractWith(pages, sc.broadcast(shuffleFirstMap), numPartitions, counters, manifest, runId))
  }

  /** Job-tag prefix of [[extractAuto]]'s concurrent pre-pass jobs. */
  private[pipeline] val PrePassTagPrefix = "graft-extract-auto-prepass-"

  /** Daemon threads for [[extractAuto]]'s concurrent planning, one per
    * call in flight; idle threads exit after a minute. A thread inherits no
    * thread-local state from the caller that happens to create it (Spark's
    * local properties and active session are inheritable), so between calls
    * it holds no job group, tag or session. */
  private[pipeline] lazy val planThreads: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(null, r, "graft-extract-auto-plan", 0L, false)
      t.setDaemon(true)
      t
    }

  /** Cancels an unneeded pre-pass and waits for its thread to finish.
    * Cancelling by tag reaches only running jobs, so it repeats until the
    * thread is done: a job started between two cancels is cancelled by the
    * next. */
  private def abandon(prePass: java.util.concurrent.Future[_], sc: org.apache.spark.SparkContext, tag: String): Unit =
    while (!prePass.isDone) {
      sc.cancelJobsWithTag(tag)
      try prePass.get(20, java.util.concurrent.TimeUnit.MILLISECONDS)
      catch { case _: java.util.concurrent.TimeoutException => }
    }

  private def fusedExtract(
      input: Dataset[(String, Array[Byte])],
      counters: Option[Counters],
      manifest: Option[org.apache.spark.util.CollectionAccumulator[ManifestRow]],
      runId: String
  ): Dataset[ScrapedRow] = {
    val spark = input.sparkSession
    import spark.implicits._
    input.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var nRows = 0L
      var nFail = 0L
      var nEmpty = 0L
      var nEncrypted = 0L
      var minUrl: String = null
      var maxUrl: String = null

      val mapped = it.map { case (url, html) =>
        val row = scrapeAny(url, html)
        nRows += 1
        if (row.status != "ok" || row.error.isDefined) nFail += 1
        if (row.text_content.isEmpty) nEmpty += 1
        if (row.status == "encrypted_pdf") nEncrypted += 1
        if (minUrl == null || url < minUrl) minUrl = url
        if (maxUrl == null || url > maxUrl) maxUrl = url
        row
      }

      // Lineage-contract flush (VERDICT r4 #4): a task-completion listener
      // fires even when a downstream consumer short-circuits the iterator
      // (`limit()`, take, an early-exit aggregate) — the drain-time flush
      // alone silently dropped that partition's manifest row and counters.
      // Both paths share one idempotent flush: the listener covers early
      // termination under a real task; the drain check covers direct
      // iterator consumption with no TaskContext (scalar replay in tests).
      var flushed = false
      def flush(): Unit = if (!flushed) {
        flushed = true
        counters.foreach { c =>
          c.pagesParsed.add(nRows); c.parseFailures.add(nFail); c.emptyContent.add(nEmpty)
          c.encryptedPdf.add(nEncrypted)
        }
        manifest.foreach(_.add(ManifestRow(runId, pid, nRows, nFail, nEmpty, nEncrypted,
          Option(minUrl).getOrElse(""), Option(maxUrl).getOrElse(""))))
      }
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => flush()))

      new Iterator[ScrapedRow] {
        def hasNext: Boolean = {
          val h = mapped.hasNext
          if (!h) flush()
          h
        }
        def next(): ScrapedRow = mapped.next()
      }
    }
  }

  /**
   * Checkpointed, resumable run (north rule): skips urls already present in
   * `outDir` via a left-anti join on the checkpoint's url set (column-pruned
   * read), appends new results, and writes the per-partition manifest.
   */
  def runResumable(spark: SparkSession, pages: Dataset[PageRow], outDir: String,
                   numPartitions: Int, runId: String): ManifestSummary = {
    import spark.implicits._
    // checkpoint detection through the SAME filesystem abstraction the
    // reads/writes use — a java.io.File check is false for scheme-qualified
    // paths (file:/, hdfs://, s3a://), which would silently skip the resume
    // join and append duplicate rows
    val dataPath = new org.apache.hadoop.fs.Path(outDir, "data")
    val hfs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val todo: Dataset[PageRow] =
      if (hfs.exists(dataPath)) {
        val done = spark.read.parquet(dataPath.toString).select("url")
        pages.join(done, Seq("url"), "left_anti").as[PageRow]
      } else pages

    val counters = newCounters(spark)
    val manifestAcc = spark.sparkContext.collectionAccumulator[ManifestRow]("manifest")
    val extracted = extract(todo, numPartitions, Some(counters), Some(manifestAcc), runId)
    extracted.write.mode(SaveMode.Append).parquet(outDir + "/data")

    val manifestRows = manifestAcc.value
    import scala.jdk.CollectionConverters._
    spark.createDataset(manifestRows.asScala.toSeq)
      .write.mode(SaveMode.Append).parquet(outDir + "/manifest")

    ManifestSummary(counters.pagesParsed.value, counters.parseFailures.value, counters.emptyContent.value,
      counters.encryptedPdf.value, manifestRows.size())
  }

  final case class ManifestSummary(pagesParsed: Long, parseFailures: Long, emptyContent: Long,
      encryptedPdf: Long, nPartitions: Int)
}
