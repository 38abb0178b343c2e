package graft.pipeline

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The planning passes that run before the fused extraction: the mega-host
  * pre-pass ([[ExtractJob.megaHostMap]]) must return the map a brute-force
  * driver-side count gives, in one aggregate; the byte-ratio sample
  * ([[ExtractJob.sampleBytes]]) must sum to the sequential fold; and a
  * malformed url must not abort the job that computes hosts. */
class ExtractPlanningSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("graft-extract-planning-test")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The pre-pass's definition, counted row by row on the driver. */
  private def bruteForceMap(pages: DataFrame, numPartitions: Int): Map[String, Int] = {
    val hosts = pages.select(ExtractJob.hostCol).collect().map(_.getString(0))
    val rowsPerBucket = math.max(1L, math.max(1L, hosts.length.toLong) / numPartitions)
    hosts.groupBy(identity).collect {
      case (h, rows) if rows.length > rowsPerBucket =>
        h -> math.ceil(rows.length.toDouble / rowsPerBucket).toInt
    }
  }

  private def assertSameMap(pages: DataFrame, numPartitions: Int): Map[String, Int] = {
    val mega = ExtractJob.megaHostMap(pages, numPartitions)
    try {
      val expected = bruteForceMap(pages, numPartitions)
      assert(mega.value == expected, s"P=$numPartitions")
      mega.value
    } finally mega.destroy()
  }

  private def urlRows(urls: Seq[String]): DataFrame = {
    val s = spark; import s.implicits._
    urls.map(Tuple1(_)).toDF("url")
  }

  test("megaHostMap equals a brute-force count on the default corpus at every P") {
    val pages = PagesGen.generate(spark, 600).toDF().select("url", "html")
    for (p <- Seq(1, 2, 8, 64, 1000)) assertSameMap(pages, p)
    assert(assertSameMap(pages, 8).keySet.exists(_.startsWith("megahost")),
      "the ~20% mega-host must be in the map")
  }

  test("megaHostMap equals a brute-force count on an anti-joined (resumed) input") {
    val pages = PagesGen.generate(spark, 600)
    val done = pages.toDF().filter(pmod(hash(col("url")), lit(4)) === 0).select("url")
    val todo = pages.join(done, Seq("url"), "left_anti").toDF()
    assert(todo.count() < 600)
    for (p <- Seq(2, 8)) assertSameMap(todo, p)
  }

  test("null, empty and malformed urls form one null-host group, salted like any other") {
    val urls = Seq.fill(10)(null: String) ++ Seq.fill(5)("") ++
      (0 until 10).map(i => s"not a url $i") ++ (0 until 5).map(i => s"https://small$i.example.com/p")
    val mega = assertSameMap(urlRows(urls), 4)
    assert(mega == Map((null: String) -> 4), s"null host: 25 rows over buckets of 7 rows: $mega")
    // the salt reads the same map: the null-host rows spread over its buckets
    val salted = ExtractJob.saltedRepartitionByHost(urlRows(urls), 4)
      .filter(col("__host").isNull)
      .select(spark_partition_id()).distinct().count()
    assert(salted > 1, "the null-host group must be salt-split")
  }

  test("megaHostMap on an empty input is empty") {
    assert(assertSameMap(urlRows(Seq.empty), 8).isEmpty)
  }

  test("three equal hosts at the threshold") {
    val urls = for (h <- 0 until 3; i <- 0 until 4) yield s"https://h$h.example.com/p$i"
    // P=3: 4 rows per bucket; a host of exactly 4 rows is not a mega-host
    assert(assertSameMap(urlRows(urls), 3).isEmpty)
    // P=4: 3 rows per bucket; all three exceed it and split in two
    assert(assertSameMap(urlRows(urls), 4) == (0 until 3).map(h => s"h$h.example.com" -> 2).toMap)
    // behind a tail of one-row hosts the three still sit in the top P + 1 rows
    val withTail = urls ++ (0 until 12).map(i => s"https://tail$i.example.com/")
    assert(assertSameMap(urlRows(withTail), 8) == (0 until 3).map(h => s"h$h.example.com" -> 2).toMap)
    assert(assertSameMap(urlRows(withTail), 12) == (0 until 3).map(h => s"h$h.example.com" -> 2).toMap)
  }

  test("the in-query map equals megaHostMap: same map, same partition for every url") {
    val s = spark; import s.implicits._
    val pages = PagesGen.generate(spark, 600)
    val done = pages.toDF().filter(pmod(hash(col("url")), lit(4)) === 0).select("url")
    val odd = Seq.fill(10)(null: String) ++ Seq.fill(5)("") ++ (0 until 10).map(i => s"not a url $i") ++
      (0 until 5).map(i => s"https://small$i.example.com/p")
    // 40 null-host rows of 60: a mega-host at every P > 1
    val nullMega = Seq.fill(30)(null: String) ++ (0 until 10).map(i => s"bad url $i") ++
      (0 until 20).map(i => s"https://h${i % 4}.example.com/p$i")
    val inputs = Seq(
      "raw" -> pages.toDF().select("url", "html"),
      "anti-joined" -> pages.toDF().select("url", "html").join(done, Seq("url"), "left_anti"),
      "null, empty and malformed" -> urlRows(odd),
      "mega null host" -> urlRows(nullMega),
      "empty" -> urlRows(Seq.empty))
    for ((name, input) <- inputs; p <- Seq(1, 2, 8, 64)) {
      val want = ExtractJob.megaHostMap(input, p)
      try {
        val got = spark.range(1).select(ExtractJob.megaHostMapCol(input, p)).head().getMap[String, Int](0)
          .map { case (h, b) => (if (h == ExtractJob.NullHostKey) null else h) -> b }.toMap
        assert(got == want.value, s"$name P=$p map")
        if (name == "empty") assert(got.isEmpty)
        if (name == "mega null host" && p > 1) assert(got.contains(null), s"P=$p: $got")
        def pids(df: DataFrame) = df.select(col("url"), spark_partition_id()).as[(String, Int)]
          .collect().toSeq.sortBy(r => (Option(r._1), r._2))
        assert(pids(ExtractJob.saltedRepartitionByHost(input, p)) ==
          pids(ExtractJob.applySaltedRepartition(input, want, p)), s"$name P=$p partition ids")
      } finally want.destroy()
    }
  }

  test("megaHostMap runs in at most two jobs and caches nothing") {
    val pages = PagesGen.generate(spark, 600).toDF().select("url", "html")
    val sc = spark.sparkContext
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    }
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.toString }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ExtractJob.megaHostMap(pages, 8).destroy() // warm: plan caches, codegen
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try {
      ExtractJob.megaHostMap(pages, 8).destroy()
      TestListenerBus.drain(sc)
    } finally {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    assert(jobs >= 1 && jobs <= 2, s"pre-pass ran $jobs jobs")
    assert(plans.nonEmpty)
    plans.foreach(p => assert(!p.contains("InMemoryRelation"), s"pre-pass persisted a relation:\n$p"))
  }

  test("sampleBytes equals a sequential fold over the same sample rows") {
    val s = spark; import s.implicits._
    val mixed = Seq(
      PageRow("https://pdf.example.com/doc.pdf", null, graft.sources.PdfGen.crossRoutePdf(), "", "en"),
      PageRow("https://null.example.com/", null, null, "", "en")).toDS()
      .union(PagesGen.generate(spark, 40))
    for ((name, pages) <- Seq("default" -> PagesGen.generate(spark, 300),
        "heavy" -> PagesGen.generateHeavy(spark, 300), "pdf+null" -> mixed)) {
      val sample = pages.toDF().select("url", "html").limit(256).collect()
      val sequential = sample.foldLeft((0L, 0L)) { case ((h, e), r) =>
        val html = r.getAs[Array[Byte]](1)
        (h + (if (html == null) 0 else html.length),
          e + ExtractJob.shuffledBytes(ExtractJob.scrapeAny(r.getString(0), html)))
      }
      assert(ExtractJob.sampleBytes(sample) == sequential, name)
      assert(sequential._1 > 0 && sequential._2 > 0, name)
    }
  }

  test("malformed urls do not abort extract, extractFirst or runResumable") {
    val s = spark; import s.implicits._
    val good = PagesGen.generate(spark, 30).collect().toSeq
    val html = good.head.html
    val pages = (good ++ Seq(
      PageRow("not a url", good.head.warc_ts, html, "", "en"),
      PageRow("http://exa mple.com/x", good.head.warc_ts, html, "", "en"))).toDS()
    val expected = pages.collect().map(p => ExtractJob.scrapeAny(p.url, p.html)).toSeq
    def check(name: String, rows: Seq[ScrapedRow]): Unit = {
      assert(rows.size == expected.size, s"$name row count")
      assert(rows.diff(expected).isEmpty, name)
    }
    check("extract", ExtractJob.extract(pages, 4).collect().toSeq)
    check("extractFirst", ExtractJob.extractFirst(pages, 4).collect().toSeq)
    val out = java.nio.file.Files.createTempDirectory("graft_bad_url").toString
    val summary = ExtractJob.runResumable(spark, pages, out, 4, "run1")
    assert(summary.pagesParsed == expected.size)
    check("runResumable", spark.read.parquet(out + "/data").as[ScrapedRow].collect().toSeq)
    // the resume pass anti-joins the checkpoint and finds nothing left
    assert(ExtractJob.runResumable(spark, pages, out, 4, "run2").pagesParsed == 0)
  }
}
