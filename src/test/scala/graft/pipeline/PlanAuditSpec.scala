package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Physical-plan audits: the plans we ship must be the plans we designed —
  * broadcasts where a side is bounded, no cartesian products in any LSH
  * path, column pruning reaching the scans, partial aggregation before
  * shuffles. Asserted on `.explain` output so a regression (e.g. a join
  * silently degrading to BroadcastNestedLoopJoin) fails the build instead of
  * surfacing as a 100 TB incident. */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("graft-plan-audit")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("robots gate joins the side table by broadcast, not shuffle") {
    val pages = PagesGen.generate(spark, 100)
    val robots = PagesGen.robotsTable(spark, pages)
    val p = plan(ExtractJob.robotsGate(pages, robots).toDF())
    assert(p.contains("BroadcastHashJoin"), s"robots side table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "host join must not shuffle the corpus")
  }

  test("LSH candidate pairs: equi-join on bucket keys, never a cartesian product") {
    val s = spark
    import s.implicits._
    val bands = (0 until 200).map(i => (s"u$i", i % 3, (i % 7).toLong))
      .toDF("url", "band_idx", "band_key")
    val p = plan(graft.ops.DedupOps.candidatePairs(bands, Seq("band_idx", "band_key"), "url"))
    assert(!p.contains("CartesianProduct"), s"cartesian in LSH path:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join in LSH path:\n$p")
  }

  test("shared dedup relations: both near-dup queries read the persisted candidates") {
    // dedup_minhash and dedup_jaccard must scan the SAME in-memory candidate
    // relation (InMemoryTableScan), not recompute the banded self-join
    val q = graft.SparkEntry.queries
    val sfDir = "/root/testdata/sf0.001"
    val pm = plan(q("dedup_minhash_pages")(spark, sfDir))
    val pj = plan(q("dedup_jaccard_pages")(spark, sfDir))
    for ((name, p) <- Seq("minhash" -> pm, "jaccard" -> pj)) {
      assert(p.contains("InMemoryTableScan"), s"$name must reuse the persisted relation:\n${p.take(2000)}")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name plan degraded:\n${p.take(2000)}")
    }
  }

  test("survivor selection ends checkpoint-backed: downstream actions re-run no joins") {
    // the iterative CC materializes via eager localCheckpoint, so the
    // RETURNED plan must be a leaf scan over the checkpointed labels (plus
    // project/sort) — no joins, no cartesian, nothing iterative left to
    // re-execute on every downstream action
    val q = graft.SparkEntry.queries
    val p = plan(q("dedup_survivors_pages")(spark, "/root/testdata/sf0.001"))
    assert(p.contains("ExistingRDD"), s"survivors must be checkpoint-backed:\n${p.take(2000)}")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"survivors output plan must not replay the pipeline:\n${p.take(2000)}")
  }

  test("adaptive ANN/near-dup queries keep equi-join plans (no cartesian at any width)") {
    val q = graft.SparkEntry.queries
    val sfDir = "/root/testdata/sf0.001"
    for (name <- Seq("dedup_embed_lsh", "embed_knn_lsh", "embed_knn_multiprobe", "embed_knn_ivf")) {
      val p = plan(q(name)(spark, sfDir))
      assert(!p.contains("CartesianProduct"), s"$name: cartesian:\n${p.take(2000)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name: nested loop:\n${p.take(2000)}")
    }
  }

  test("extraction shuffles only (url, html): pruned columns never ride the exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan").toString
    PagesGen.generate(spark, 50).write.mode("overwrite").parquet(dir)
    val s = spark
    import s.implicits._
    val pages = spark.read.parquet(dir).as[PageRow]
    val p = plan(ExtractJob.extract(pages, 4).toDF())
    // the parquet scan feeding the exchange must read only url + html
    val readSchemas = "ReadSchema: [^\n]+".r.findAllIn(p).toList
    val mainScan = readSchemas.find(_.contains("html")).getOrElse(fail(s"no html scan in:\n$p"))
    assert(!mainScan.contains("warc_ts") && !mainScan.contains("text") && !mainScan.contains("lang"),
      s"unused columns not pruned from the shuffled scan: $mainScan")
    // the mega-host map is a scalar subquery of the same plan: its scan
    // must read url only
    assert(p.contains("Subquery"), s"no mega-host subquery in:\n$p")
    val preScans = readSchemas.filterNot(_.contains("html"))
    assert(preScans.nonEmpty && preScans.forall(_.contains("ReadSchema: struct<url:string>")),
      s"the subquery must scan url only:\n$p")
    // so must extractAuto's pre-pass, which serves both plans
    val both = plan(ExtractJob.megaHostCounts(pages.toDF(), 4, col("url"), ExtractJob.normalizedUrl))
    val bothScans = "ReadSchema: [^\n]+".r.findAllIn(both).toList
    assert(bothScans.nonEmpty && bothScans.forall(r => r.contains("url") && !r.contains("html")),
      s"extractAuto's pre-pass must scan url only:\n$both")
  }

  test("embed cache join is an equi-join on cache_key (hash-partitionable)") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a document with plenty of words to be valid")).toDF("doc_id", "text")
    val cache = graft.embed.EmbedPipeline.toCacheRows(
      graft.embed.EmbedPipeline.embedDocuments(spark, docs, None, new graft.embed.HashStubProvider(8)))
    val p = plan(graft.embed.EmbedPipeline.embedDocuments(
      spark, docs, Some(cache), new graft.embed.HashStubProvider(8)).toDF())
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cache join degraded:\n$p")
  }

  test("co-bucketed tables join without a shuffle exchange (bucketBy co-location)") {
    val s = spark
    import s.implicits._
    val extracted = ExtractJob.extract(PagesGen.generate(spark, 120), 4).toDF()
      .select("url", "domain", "norm_hash", "word_count")
    ExtractJob.writeBucketed(extracted, "graft_pages_bucketed", "domain", numBuckets = 8)
    ExtractJob.writeBucketed(
      extracted.groupBy("domain").agg(count("*").as("n_pages")),
      "graft_host_stats_bucketed", "domain", numBuckets = 8)

    // force the sort-merge path (a broadcast would mask whether bucketing
    // removed the shuffle — at 100 TB neither side broadcasts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_pages_bucketed")
        .join(spark.table("graft_host_stats_bucketed"), "domain")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"co-bucketed join must not shuffle either side:\n$p")
      assert(p.contains("Bucketed: true"), s"scans must use the bucket layout:\n$p")
      assert(joined.count() == 120)

      // and a groupBy on the bucket key needs no exchange either
      val agg = spark.table("graft_pages_bucketed").groupBy("domain").agg(sum("word_count"))
      val pa = agg.queryExecution.executedPlan.toString
      assert(!pa.contains("Exchange hashpartitioning"),
        s"bucket-key aggregation must be shuffle-free:\n$pa")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("dedup group-bys partial-aggregate before the shuffle (map-side combine)") {
    val s = spark
    import s.implicits._
    val df = (0 until 100).map(i => (s"h$i", i.toLong)).toDF("hash", "v")
      .groupBy("hash").agg(count("*").as("n"))
    val p = plan(df)
    // HashAggregate appears twice: partial before the exchange, final after
    assert("HashAggregate".r.findAllIn(p).length >= 2, s"no partial agg:\n$p")
  }

  test("curation ledger plan: equi-joins only, partial aggs, no cartesian (round 6)") {
    val s = spark
    import s.implicits._
    val input = (0 until 60).map(i =>
      (s"d$i", s"alpha $i beta\n\nshared boilerplate line\n\ngamma $i delta"))
      .toDF("doc", "body")
    val p = plan(Curate.ledgerPlan(input, "doc", "body", Curate.Config(),
      scala.collection.mutable.ArrayBuffer.empty))
    assert(!p.contains("CartesianProduct"), s"cartesian in curation plan:\n${p.take(3000)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in curation plan:\n${p.take(3000)}")
    // para df-agg and exact-dup keeper agg both partial-aggregate
    assert("HashAggregate".r.findAllIn(p).length >= 4, s"missing partial aggs:\n${p.take(3000)}")
  }

  test("frontier plan: robots gate is an equi-join; seen set anti-joins (round 6)") {
    val s = spark
    import s.implicits._
    val blobs = Seq(("https://x.example.com/sm.xml",
      "<urlset><url><loc>https://x.example.com/a</loc></url></urlset>".getBytes("UTF-8")))
      .toDF("sitemap_url", "body")
    val robots = Seq(("x.example.com", "User-agent: *\nDisallow: /private/")).toDF("host", "robots_txt")
    val seen = Seq("https://x.example.com/old").toDF("url")
    val p = plan(Frontier.fromSitemaps(spark, blobs, robots, seen))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"frontier plan degraded:\n${p.take(3000)}")
    assert(p.contains("LeftAnti"), s"seen set must anti-join:\n${p.take(3000)}")
  }

  test("pack/shuffle/interleave plans: no single-task window survives (round 7)") {
    val s = spark
    import s.implicits._
    // a Window.partitionBy(shard|host) puts a whole shard/host in ONE task;
    // these operators must route through the distributed prefix sum instead
    val docs = spark.range(0, 2000)
      .selectExpr("id AS doc_id", "CAST(id % 97 AS long) AS toks").toDF()
    val packed = graft.ops.Pack.concatChunk(docs, "doc_id", "toks", 512, 4)
    assert(!plan(packed).contains("Window"),
      s"concatChunk must not window-per-shard:\n${plan(packed).take(2000)}")
    val shuffled = graft.ops.Pack.seededShuffle(docs, "doc_id", 2026L, 4)
    assert(!plan(shuffled).contains("Window"),
      s"seededShuffle must not window-per-shard:\n${plan(shuffled).take(2000)}")
    val frontier = (0 until 500)
      .map(i => (s"https://h${i % 5}.example.com/p$i", s"h${i % 5}.example.com"))
      .toDF("url", "host")
    val inter = Frontier.interleaveByHost(frontier)
    assert(!plan(inter).contains("Window"),
      s"interleaveByHost must not window-per-host:\n${plan(inter).take(2000)}")
  }

  test("band store: history bands reach the band join exchange-free (round 7)") {
    val s = spark
    import s.implicits._
    val tbl = "graft_audit_bands_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val mk = (i: Int) => {
      val body = s"alpha $i beta gamma delta epsilon zeta eta theta iota " +
        s"kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
      (s"h$i", graft.ops.TextOps.shingleHashes(graft.ops.TextOps.shingles(body, 3)),
        graft.ops.TextOps.minHash(graft.ops.TextOps.shingles(body, 3), 64))
    }
    try {
      val sigs = (0 until 50).map(mk).toDF("id", "sh", "sig")
      graft.ops.IncrementalDedup.appendBandsToTable(sigs, tbl, bandSize = 4)
      val batchBands = graft.ops.DedupOps.explodeBands(
        (50 until 60).map(mk).toDF("id", "sh", "sig"), 4)
      // force the shuffle path (a broadcast would mask the bucketing win —
      // at 10^12 docs neither a big batch nor history broadcasts)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table(tbl)
          .join(batchBands.select(col("id").as("bid"), col("band_idx"), col("band_key")),
            Seq("band_idx", "band_key"))
        val p = plan(joined)
        assert(p.contains("Bucketed: true"),
          s"history side must scan the bucket layout:\n${p.take(3000)}")
        // exactly ONE exchange: the batch side shuffling into the bucket
        // layout; HashPartitioning(band_key) on the scan satisfies the
        // join's (band_idx, band_key) clustering
        val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
        assert(exchanges == 1,
          s"want 1 exchange (batch side only), got $exchanges:\n${p.take(3000)}")
        // value check: bucketed-table join ≡ recompute-from-sigs join
        val ref = graft.ops.DedupOps.explodeBands(
            (0 until 50).map(mk).toDF("id", "sh", "sig"), 4)
          .join(batchBands.select(col("id").as("bid"), col("band_idx"), col("band_key")),
            Seq("band_idx", "band_key"))
        assert(joined.count() == ref.count())
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("planted mega-host: interleave splits the host across partitions (round 7)") {
    val s = spark
    import s.implicits._
    // 9500 of 10000 URLs on ONE host — the exact skew the old
    // Window.partitionBy(host) serialized into a single task
    val frontier = (0 until 10000).map { i =>
      val h = if (i % 20 == 0) s"small${i % 100}.example.com" else "mega.example.com"
      (s"https://$h/p%05d".format(i), h)
    }.toDF("url", "host").repartition(8)
    val inter = Frontier.interleaveByHost(frontier)
    // rotation property: host_seq is an exact 1..n_host rank by url
    val mega = inter.filter(col("host") === "mega.example.com")
      .select("url", "host_seq").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(mega.map(_._2).toSeq == (1L to mega.length).toSeq,
      "mega-host ranks must be the contiguous 1..n rank by url")
    // skew proof: the mega host's ranked rows span multiple partitions
    val megaPerPart = inter.filter(col("host") === "mega.example.com").rdd
      .mapPartitions(it => Iterator(it.size)).collect().filter(_ > 0)
    assert(megaPerPart.length > 1,
      s"mega host landed in ${megaPerPart.length} partition(s) — single-task skew")
  }
}
