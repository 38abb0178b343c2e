package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.{TestBroadcasts, TestListenerBus}
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Byte-ratio auto plan selection (BASELINE.md plan-order note, VERDICT r3
  * #6): markup-heavy corpora must pick extract_first (the extracted side
  * shuffles fewer bytes), dense-text corpora shuffle_first — and the chosen
  * plan must produce the same rows as the explicit plans. One mega-host
  * pre-pass serves both plans and runs on a second driver thread while the
  * sample is taken: its jobs carry the caller's properties, its maps equal
  * each plan's own, it is cancelled when the sample fails, and its failure
  * surfaces. */
class ExtractAutoSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("graft-extract-auto-test")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("dense-text corpus (extracted > html) chooses shuffle_first") {
    // the synthetic default corpus: extracted row (content md + text +
    // normalized) is LARGER than its html (measured, BASELINE.md) — the
    // smaller shuffle side is the raw html
    assert(ExtractJob.chooseVariant(PagesGen.generate(spark, 200)) == "shuffle_first")
  }

  test("markup-heavy corpus (real-web ratio) chooses extract_first") {
    // the heavy variant inflates boilerplate markup ~10x while extraction
    // strips it — the extracted side is now far smaller than the html
    assert(ExtractJob.chooseVariant(PagesGen.generateHeavy(spark, 200)) == "extract_first")
  }

  test("extractAuto returns the chosen variant's rows (row-identity with explicit plans)") {
    val pages = PagesGen.generate(spark, 120)
    val (variant, auto) = ExtractJob.extractAuto(pages, numPartitions = 4)
    assert(variant == "shuffle_first")
    val autoRows = auto.collect().map(r => (r.url, r.norm_hash)).toSet
    val explicitRows = ExtractJob.extract(pages, 4).collect().map(r => (r.url, r.norm_hash)).toSet
    assert(autoRows == explicitRows)
    assert(autoRows.size == 120)
    val heavy = PagesGen.generateHeavy(spark, 120)
    val (heavyVariant, heavyAuto) = ExtractJob.extractAuto(heavy, numPartitions = 4)
    assert(heavyVariant == "extract_first")
    assert(heavyAuto.collect().map(r => (r.url, r.norm_hash)).toSet ==
      ExtractJob.extractFirst(heavy, 4).collect().map(r => (r.url, r.norm_hash)).toSet)
  }

  test("the one pre-pass aggregate yields each plan's own mega-host map") {
    val session = spark
    import session.implicits._
    // hosts that normalization merges (case, www), a host only the raw url
    // splits, malformed and null urls, and a long tail of small hosts
    val mixed =
      (0 until 40).map(i => s"https://www.MegaHost.com/a$i") ++
      (0 until 30).map(i => s"https://megahost.com/b$i?utm_source=x") ++
      (0 until 25).map(i => s"http://WWW.other.org/x$i") ++
      (0 until 12).map(i => s"not a url $i") ++
      Seq.fill(6)(null: String) ++
      (0 until 60).map(i => s"https://tail$i.example/p")
    // at 8 partitions both host sets hold the most mega-hosts they can (7
    // each), spelled differently before and after normalization
    val crowded =
      (0 until 7).flatMap(h => (0 until 21).map(i => s"https://WWW.Host$h.org/p$i")) ++
      (0 until 13).map(i => s"https://t$i.example/")
    def pagesOf(urls: Seq[String]) =
      urls.map(u => PageRow(u, null, Array.emptyByteArray, "", "en")).toDS().repartition(3)
    val normalize = udf((u: String) => graft.urlx.UrlOps.normalizeUrl(if (u == null) "" else u))
    for (urls <- Seq(mixed, crowded); parts <- Seq(1, 2, 3, 4, 8, 64)) {
      val pages = pagesOf(urls)
      val (raw, normalized) = ExtractJob.planMegaHostMaps(pages, parts)
      val wantRaw = ExtractJob.megaHostMap(pages.toDF().select("url"), parts)
      val wantNormalized = ExtractJob.megaHostMap(pages.toDF().select(normalize(col("url")).as("url")), parts)
      assert(raw == wantRaw.value, s"shuffle_first map at $parts partitions")
      assert(normalized == wantNormalized.value, s"extract_first map at $parts partitions")
      wantRaw.destroy(); wantNormalized.destroy()
    }
    val (crowdedRaw, crowdedNormalized) = ExtractJob.planMegaHostMaps(pagesOf(crowded), 8)
    assert(crowdedRaw.size == 7 && crowdedNormalized.size == 7 && crowdedRaw.keySet != crowdedNormalized.keySet)
    // the case is not vacuous: the maps differ and both split something
    val (raw, normalized) = ExtractJob.planMegaHostMaps(pagesOf(mixed), 8)
    assert(raw.nonEmpty && normalized.nonEmpty && raw != normalized)
  }

  /** Runs `body` with a listener that records every job start and end. */
  private def withJobs[T](body: (ConcurrentLinkedQueue[SparkListenerJobStart],
      ConcurrentLinkedQueue[SparkListenerJobEnd]) => T): T = {
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val ends = new ConcurrentLinkedQueue[SparkListenerJobEnd]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.add(e)
    }
    sc.addSparkListener(listener)
    try body(starts, ends) finally sc.removeSparkListener(listener)
  }

  private def isPrePass(e: SparkListenerJobStart): Boolean =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .exists(_.split(",").exists(_.startsWith(ExtractJob.PrePassTagPrefix)))

  test("the concurrent pre-pass jobs carry the caller's job group, description, tags and pool") {
    val sc = spark.sparkContext
    withJobs { (starts, _) =>
      sc.setJobGroup("auto-group", "auto description")
      sc.addJobTag("auto-caller")
      sc.setLocalProperty("spark.scheduler.pool", "auto-pool")
      try {
        val (variant, rows) = ExtractJob.extractAuto(PagesGen.generateHeavy(spark, 160), numPartitions = 4)
        assert(variant == "extract_first")
        assert(rows.count() == 160)
      } finally {
        sc.clearJobGroup()
        sc.removeJobTag("auto-caller")
        sc.setLocalProperty("spark.scheduler.pool", null)
      }
      TestListenerBus.drain(sc)
      val prePass = starts.asScala.filter(isPrePass).toSeq
      assert(prePass.nonEmpty)
      prePass.foreach { e =>
        val p = e.properties
        assert(p.getProperty("spark.jobGroup.id") == "auto-group")
        assert(p.getProperty("spark.job.description") == "auto description")
        assert(p.getProperty("spark.job.tags").split(",").contains("auto-caller"))
        assert(p.getProperty("spark.scheduler.pool") == "auto-pool")
      }
    }
    // the caller's own thread does not keep the pre-pass tag
    assert(!sc.getJobTags().exists(_.startsWith(ExtractJob.PrePassTagPrefix)))
  }

  /** The jobs `body` starts on the caller's thread (not tagged as pre-pass). */
  private def callerJobs(starts: ConcurrentLinkedQueue[SparkListenerJobStart]): Int =
    starts.asScala.count(e => !isPrePass(e))

  test("shuffle_first uses the concurrent pre-pass: no second aggregate, nothing left running") {
    val sc = spark.sparkContext
    val pages = PagesGen.generate(spark, 400)
    val sampleJobs = withJobs { (starts, _) =>
      ExtractJob.chooseVariant(pages)
      TestListenerBus.drain(sc)
      callerJobs(starts)
    }
    withJobs { (starts, ends) =>
      val before = TestBroadcasts.liveMaps(sc)
      val (variant, _) = ExtractJob.extractAuto(pages, numPartitions = 4)
      val returned = System.currentTimeMillis()
      assert(variant == "shuffle_first")
      TestListenerBus.drain(sc)
      // the caller ran the sample and nothing else: extract's own mega-host
      // aggregate was not repeated
      assert(callerJobs(starts) == sampleJobs)
      val prePass = starts.asScala.filter(isPrePass).toSeq
      val ended = ends.asScala.map(e => e.jobId -> e).toMap
      assert(prePass.nonEmpty)
      prePass.foreach { e =>
        assert(ended.get(e.jobId).exists(j => j.time <= returned && j.jobResult == JobSucceeded),
          s"pre-pass job ${e.jobId} still running or failed")
      }
      // the chosen plan's map rides the plan as a literal: no broadcast
      assert((TestBroadcasts.liveMaps(sc) -- before).isEmpty)
    }
  }

  test("a failed sample cancels the running pre-pass before extractAuto returns") {
    val session = spark
    import session.implicits._
    val sc = spark.sparkContext
    // the sample reads the first 256 rows, all in the first partition, and
    // meets the failing html; the pre-pass reads only urls, slowed after them
    val boom = udf { (h: Array[Byte]) => if (h != null) throw new IllegalStateException("sample boom"); h }
    val slowUrl = udf { (u: String) => Thread.sleep(50); u }
    val failing = PagesGen.generate(spark, 300).coalesce(1).withColumn("html", boom(col("html"))).as[PageRow]
    val slow = PagesGen.generate(spark, 100).withColumn("url", slowUrl(col("url"))).as[PageRow]
    withJobs { (starts, ends) =>
      val e = intercept[Throwable](ExtractJob.extractAuto(failing.union(slow), numPartitions = 4))
      val returned = System.currentTimeMillis()
      assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(t =>
        String.valueOf(t.getMessage).contains("sample boom")))
      TestListenerBus.drain(sc)
      val prePass = starts.asScala.filter(isPrePass).toSeq
      val ended = ends.asScala.map(j => j.jobId -> j).toMap
      assert(prePass.nonEmpty)
      prePass.foreach { j =>
        assert(j.time <= returned)
        assert(ended.get(j.jobId).exists(_.time <= returned), s"pre-pass job ${j.jobId} still running")
      }
      assert(prePass.exists(j => ended(j.jobId).jobResult != JobSucceeded))
    }
  }

  test("a failure in the concurrent pre-pass surfaces from extractAuto") {
    val session = spark
    import session.implicits._
    // the sample reads only the first 256 rows, all in the first partition;
    // the pre-pass reads every url and meets the failing ones
    val boom = udf { (u: String) => if (u != null) throw new IllegalStateException("pre-pass boom"); u }
    val ok = PagesGen.generateHeavy(spark, 300).coalesce(1)
    val failing = PagesGen.generateHeavy(spark, 40).withColumn("url", boom(col("url"))).as[PageRow]
    val sc = spark.sparkContext
    sc.setJobGroup("failing-group", "failing description")
    val e =
      try intercept[Throwable](ExtractJob.extractAuto(ok.union(failing), numPartitions = 4))
      finally sc.clearJobGroup()
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(t =>
      String.valueOf(t.getMessage).contains("pre-pass boom")))
    // the planning thread kept nothing of the failed call: no job group,
    // tag or active session waits there for the next call
    val left = ExtractJob.planThreads.submit(new java.util.concurrent.Callable[(Option[String], Option[String], Boolean)] {
      def call() = (Option(sc.getLocalProperty("spark.jobGroup.id")),
        Option(sc.getLocalProperty("spark.job.tags")), SparkSession.getActiveSession.isDefined)
    }).get()
    assert(left == ((None, None, false)))
  }
}
