package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Distributed-execution invariants from the north rule: the Spark-run
  * output must be byte-identical to the scalar oracle at EVERY parallelism
  * level; the salted host partitioner must split the mega-host; runs must be
  * resumable with per-partition lineage + counters. */
class SparkJobSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("graft-test")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val N = 120

  test("Spark output is byte-identical to the scalar oracle at two parallelism levels") {
    // scalar oracle: same per-row function, single JVM, no Spark
    val oracle = (0 until N).map { i =>
      val p = PagesGen.makePage(i.toLong)
      val r = ScrapePipeline.scrapeHtml(ExtractJob.decodeHtml(p.html), p.url)
      r.url -> (r.text_content, r.normalized_text, r.norm_hash, r.title)
    }.toMap

    for (parts <- Seq(2, 8)) {
      val rows = ExtractJob.extract(PagesGen.generate(spark, N), parts).collect()
      assert(rows.length == N, s"parts=$parts row count")
      rows.foreach { r =>
        val (tc, nt, nh, title) = oracle(r.url)
        assert(r.text_content == tc, s"text_content mismatch at ${r.url} parts=$parts")
        assert(r.normalized_text == nt, s"normalized_text mismatch at ${r.url} parts=$parts")
        assert(r.norm_hash == nh)
        assert(r.title == title)
      }
    }
  }

  test("salted partitioner splits the mega-host across tasks") {
    import org.apache.spark.sql.functions._
    val df = ExtractJob.saltedRepartitionByHost(PagesGen.generate(spark, 600).toDF(), 8)
    val perPartition = df
      .select(col("__host"), spark_partition_id().as("pid"))
      .filter(col("__host").startsWith("megahost")) // hostCol strips the www. prefix
      .groupBy("pid").count().collect()
    // the ~20% mega-host must land in >1 partition (salt split), and no
    // single partition may hold all of its rows
    assert(perPartition.length > 1, s"mega-host in ${perPartition.length} partition(s)")
    val counts = perPartition.map(_.getLong(1))
    assert(counts.max < counts.sum, "salt failed to split the mega-host")
  }

  test("resumable run detects the checkpoint through a scheme-qualified outDir") {
    // java.io.File cannot see "file:/..." paths — the resume check must go
    // through the Hadoop FileSystem the writes use, or a URI-style outDir
    // silently re-extracts and appends duplicates
    val out = "file:" + java.nio.file.Files.createTempDirectory("graft_ckpt_uri").toString
    val pages = PagesGen.generate(spark, 30)
    val s1 = ExtractJob.runResumable(spark, pages, out, 4, "run1")
    assert(s1.pagesParsed == 30)
    val s2 = ExtractJob.runResumable(spark, pages, out, 4, "run2")
    assert(s2.pagesParsed == 0, "resume must skip completed urls for file: paths too")
    assert(spark.read.parquet(out + "/data").count() == 30)
  }

  test("resumable run: second invocation extracts zero new rows; manifest written") {
    val out = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val pages = PagesGen.generate(spark, 60)
    val s1 = ExtractJob.runResumable(spark, pages, out, 4, "run1")
    assert(s1.pagesParsed == 60)
    assert(s1.nPartitions > 0)
    val s2 = ExtractJob.runResumable(spark, pages, out, 4, "run2")
    assert(s2.pagesParsed == 0, "resume must skip completed urls")
    val data = spark.read.parquet(out + "/data")
    assert(data.count() == 60)
    assert(data.select("url").distinct().count() == 60)
    val sp = spark
    import sp.implicits._
    val manifest = spark.read.parquet(out + "/manifest").as[ManifestRow].collect()
    assert(manifest.map(_.n_rows).sum == 60)
    assert(manifest.forall(m => m.run_id == "run1" || m.run_id == "run2"))
  }

  test("counters: pages_parsed / parse_failures / empty_content") {
    val counters = ExtractJob.newCounters(spark)
    ExtractJob.extract(PagesGen.generate(spark, 50), 4, Some(counters)).toDF().count()
    assert(counters.pagesParsed.value == 50L)
    assert(counters.parseFailures.value == 0L)
    assert(counters.emptyContent.value == 0L)
    assert(counters.encryptedPdf.value == 0L)
  }

  test("encrypted_pdf counter and manifest column distinguish encryption from empty text (round 6)") {
    val sp = spark
    import sp.implicits._
    val ts = new java.sql.Timestamp(0L)
    val mixed = sp.createDataset(Seq(
      PageRow("https://enc.example.com/locked.pdf", ts, graft.sources.PdfGen.encryptedPdf(), "", "en"),
      PageRow("https://ok.example.com/doc.pdf", ts, graft.sources.PdfGen.crossRoutePdf(), "", "en"),
      PageRow("https://html.example.com/page", ts,
        graft.sources.PdfGen.crossRouteHtml.getBytes("UTF-8"), "", "en")))
    val counters = ExtractJob.newCounters(spark)
    val manifestAcc = spark.sparkContext.collectionAccumulator[ManifestRow]("manifest-enc")
    val rows = ExtractJob.extract(mixed, 2, Some(counters), Some(manifestAcc), "enc-run").collect()
    assert(rows.count(_.status == "encrypted_pdf") == 1)
    assert(counters.pagesParsed.value == 3L)
    assert(counters.encryptedPdf.value == 1L, "encrypted PDF must be counted apart")
    assert(counters.parseFailures.value == 1L, "encrypted also counts as a failure overall")
    import scala.jdk.CollectionConverters._
    assert(manifestAcc.value.asScala.map(_.n_encrypted_pdf).sum == 1L)
  }

  test("manifest/counter flush survives an early-terminating consumer (limit)") {
    // VERDICT r4 #4: the flush used to fire only when the partition iterator
    // drained — a downstream `limit()` silently dropped the started
    // partition's manifest row. The task-completion listener must record
    // every STARTED partition even when the consumer short-circuits.
    val counters = ExtractJob.newCounters(spark)
    val manifestAcc = spark.sparkContext.collectionAccumulator[ManifestRow]("manifest-limit")
    val out = ExtractJob.extract(PagesGen.generate(spark, 50), 4, Some(counters), Some(manifestAcc), "limit-run")
      .limit(1).collect()
    assert(out.length == 1)
    import scala.jdk.CollectionConverters._
    val rows = manifestAcc.value.asScala.toSeq
    assert(rows.nonEmpty, "limit(1) dropped every manifest row")
    // every manifest row is a STARTED partition with consistent partial counts
    assert(rows.forall(_.run_id == "limit-run"))
    assert(rows.map(_.n_rows).sum == counters.pagesParsed.value)
    assert(counters.pagesParsed.value >= 1L)
  }

  test("mixed-content routing: PDF blobs flow through the layout parser in the same job") {
    val sp = spark
    import sp.implicits._
    val htmlPages = PagesGen.generate(spark, 10)
    val pdfBytes = graft.sources.PdfGen.fixtureDocs.toMap.apply("plain")
    val pdfRow = PageRow("https://docs.example.com/report.pdf",
      htmlPages.head().warc_ts, pdfBytes, "", "en")
    val mixed = htmlPages.union(spark.createDataset(Seq(pdfRow)))
    val rows = ExtractJob.extract(mixed, 4).collect().map(r => r.url -> r).toMap
    val pdf = rows("https://docs.example.com/report.pdf")
    assert(pdf.status == "ok" && pdf.content_type == "pdf")
    assert(pdf.title == "Annual Report")
    assert(pdf.text_content.contains("The first body line."))
    assert(pdf.content.startsWith("# Annual Report"))
    assert(pdf.norm_hash.nonEmpty && pdf.word_count > 0)
    assert(pdf.domain == "docs.example.com")
    // the HTML rows are byte-identical to an HTML-only run (no cross-route
    // interference)
    val htmlOnly = ExtractJob.extract(htmlPages, 4).collect().map(r => r.url -> r).toMap
    htmlOnly.foreach { case (u, r) => assert(rows(u) == r) }
  }

  test("extract-first and on-splits variants are row-identical to shuffle-first") {
    val pages = PagesGen.generate(spark, N)
    def key(r: ScrapedRow) = (r.url, r.text_content, r.normalized_text, r.norm_hash, r.title)
    val base = ExtractJob.extract(pages, 4).collect().map(key).toSet
    val first = ExtractJob.extractFirst(pages, 4).collect().map(key).toSet
    val splits = ExtractJob.extractOnSplits(pages).collect().map(key).toSet
    assert(first == base, "extractFirst diverged from extract")
    assert(splits == base, "extractOnSplits diverged from extract")
  }

  test("extract-first still host-clusters the extracted rows (mega-host salted)") {
    import org.apache.spark.sql.functions._
    val ds = ExtractJob.extractFirst(PagesGen.generate(spark, 600), 8)
    val perPartition = ds.toDF()
      .select(col("domain"), spark_partition_id().as("pid"))
      .filter(col("domain").startsWith("megahost"))
      .groupBy("pid").count().collect()
    assert(perPartition.length > 1, "mega-host not salt-split after extract-first exchange")
    val rest = ds.toDF()
      .filter(!col("domain").startsWith("megahost"))
      .select(col("domain"), spark_partition_id().as("pid"))
      .groupBy("domain").agg(countDistinct("pid").as("n")).collect()
    assert(rest.forall(_.getLong(1) == 1L), "non-mega hosts must stay co-located")
  }

  test("extract-first salts a mega-host whose RAW urls need normalization") {
    // regression: the mega-host map used to key on raw-url hosts while the
    // exchange reads extraction-normalized hosts, so a 'WWW.MegaHost.com'
    // skew silently escaped the salt split
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val base = 1700000000000L
    val body = "<html><body><article><p>" +
      "Enough content to extract from this little page of prose." +
      "</p></article></body></html>"
    val rows = (0 until 400).map { i =>
      val url =
        if (i < 320) s"https://WWW.MegaHost.com/Post/$i" // 80% skew, needs case+www normalization
        else s"https://site-$i.example.org/p/$i"
      graft.pipeline.PageRow(url, new java.sql.Timestamp(base + i), body.getBytes("UTF-8"), "", "en")
    }
    val ds = ExtractJob.extractFirst(rows.toDS().repartition(4), 8)
    val perPartition = ds.toDF()
      .select(col("domain"), spark_partition_id().as("pid"))
      .filter(col("domain") === "megahost.com")
      .groupBy("pid").count().collect()
    assert(perPartition.map(_.getLong(1)).sum == 320L)
    assert(perPartition.length > 1,
      s"normalized mega-host must be salt-split, landed in ${perPartition.length} partition(s)")
  }

  test("exchange-free variant: extractOnSplits plan has no Exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nosplit").toString
    PagesGen.generate(spark, 50).write.mode("overwrite").parquet(dir)
    val sp = spark
    import sp.implicits._
    val pages = spark.read.parquet(dir).as[PageRow]
    val plan = ExtractJob.extractOnSplits(pages).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"extractOnSplits must not shuffle:\n$plan")
  }

  test("plan hygiene: pages scan prunes columns for a projection query") {
    // writing then reading back parquet: a url-only projection must not read html
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    PagesGen.generate(spark, 50).write.mode("overwrite").parquet(dir)
    val plan = spark.read.parquet(dir).select("url").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") && plan.contains("url"))
    assert(!plan.contains("html"), s"html column not pruned:\n$plan")
  }
}
