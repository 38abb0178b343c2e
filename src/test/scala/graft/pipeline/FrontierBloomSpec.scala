package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Bloom-prefiltered seen-set subtraction ([[Frontier.unseenByBloom]]):
  * output equality with the exact anti-join (Bloom filters have no false
  * negatives, so the union of definitely-unseen and verified rows must be
  * the exact anti-join, row for row), the empty-seen fast path, payload
  * column preservation, and the plan property the operator exists for —
  * only might-contain rows reach the join. */
class FrontierBloomSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("graft-test")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def urls(prefix: String, n: Int) = {
    val s = spark; import s.implicits._
    (0 until n).map(i => (s"https://$prefix.example.com/p/$i", i.toLong))
      .toDF("url", "payload")
  }

  test("bloom path output == exact anti-join output (planted overlap)") {
    val s = spark; import s.implicits._
    val candidates = urls("a", 2000)
    // seen overlaps candidates on every 7th URL plus 500 foreign URLs
    val seen = candidates.filter(col("payload") % 7 === 0).select("url")
      .union(urls("other", 500).select("url"))
    val exact = candidates.join(seen.select(col("url").as("s")),
        col("url") === col("s"), "left_anti")
      .select("url", "payload")
    val bloom = Frontier.unseenByBloom(candidates, seen, "url",
        expectedSeen = 4096L)
      .select("url", "payload")
    assert(bloom.count() == exact.count())
    assert(bloom.exceptAll(exact).isEmpty && exact.exceptAll(bloom).isEmpty)
  }

  test("small bloom (high fpp) still yields the exact result, just more verify traffic") {
    val s = spark; import s.implicits._
    val candidates = urls("b", 1000)
    val seen = candidates.filter(col("payload") % 3 === 0).select("url")
    // expectedSeen far below reality: the filter saturates, false-positive
    // rate climbs toward 1 — correctness must not move
    val bloom = Frontier.unseenByBloom(candidates, seen, "url",
      expectedSeen = 8L, fpp = 0.5)
    assert(bloom.count() == candidates.count() - seen.count())
    assert(bloom.filter(col("payload") % 3 === 0).count() == 0)
  }

  test("empty seen set: all candidates pass without building a join") {
    val s = spark; import s.implicits._
    val candidates = urls("c", 50)
    val seen = Seq.empty[String].toDF("url")
    val out = Frontier.unseenByBloom(candidates, seen, "url", expectedSeen = 64L)
    assert(out.count() == 50)
    // the empty-seen fast path returns the input frame — no join in the plan
    assert(!out.queryExecution.executedPlan.toString.toLowerCase.contains("join"))
  }

  test("only might-contain rows reach the anti-join (shuffle shrinks)") {
    val s = spark; import s.implicits._
    // spark.range (a distributed leaf) — a Seq-backed LocalRelation would
    // let ConvertToLocalRelation evaluate the bloom filters at plan time
    // and the very nodes under test would fold away
    val candidates = spark.range(2000)
      .select(concat(lit("https://d.example.com/p/"), col("id")).as("url"),
        col("id").as("payload"))
    val seen = candidates.filter(col("payload") < 20).select("url")
    val out = Frontier.unseenByBloom(candidates, seen, "url",
      expectedSeen = 1024L, fpp = 0.01)
    out.collect() // executes THIS frame's queryExecution, so its metrics fill
                  // (count() would build and run a separate aggregate plan)
    // the verify join's candidate side is the positive might_contain
    // filter: it must carry only true dups (20) plus ~fpp false positives —
    // two orders below |candidates| (AQE-aware traversal: descend into the
    // adaptive plan's final physical plan)
    def flatten(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        flatten(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: flatten(q.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    val nodes = flatten(out.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]))
    val verifyFilter = nodes.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if (f.condition.toString.contains("might_contain") ||
              f.condition.toString.contains("bloom_shard_probe")) &&
             !f.condition.toString.trim.toUpperCase.startsWith("NOT") => f
    }
    assert(verifyFilter.nonEmpty, nodes.map(_.nodeName).mkString(","))
    val joined = verifyFilter.head.metrics("numOutputRows").value
    assert(joined >= 20 && joined <= 200, s"verify-join candidate side saw $joined rows")
  }

  test("optimalNumBits: standard sizing, floors at 64, rejects bad args") {
    assert(Frontier.optimalNumBits(1000, 0.03) == math.ceil(
      -1000 * math.log(0.03) / (math.log(2) * math.log(2))).toLong)
    assert(Frontier.optimalNumBits(1, 0.5) == 64L)
    // a web-scale expectedSeen clamps to the driver-safe sketch ceiling
    // (degrading fpp, never correctness) instead of sizing a GB literal
    assert(Frontier.optimalNumBits(1L << 40, 0.01) == Frontier.MaxBloomBits)
    intercept[IllegalArgumentException](Frontier.optimalNumBits(0, 0.03))
    intercept[IllegalArgumentException](Frontier.optimalNumBits(10, 1.5))
  }

  test("fromSitemaps(bloomExpectedSeen>0) matches the exact frontier") {
    val exact = SitemapFixture.frontierDf(spark).collect().map(_.getString(0)).toSeq
    val bloom = SitemapFixture.frontierBloomDf(spark).collect().map(_.getString(0)).toSeq
    assert(bloom == exact)
  }

  test("web-scale sizing survives Spark's runtime-filter conf caps") {
    val s = spark; import s.implicits._
    // BloomFilterAggregate silently Math.min-caps against
    // spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits
    // (defaults 4e6 / 2^26) — unseenByBloom must raise them or a large
    // expectedSeen builds a saturated 8 MiB filter with fpp→1. Request a
    // filter that NEEDS > 2^26 bits and verify by direct construction that
    // the sketch really got that big (the binary literal is the proof).
    graft.plans.GraftExtensions.registerNative(spark)
    val expected = 20000000L // → ~1.46e8 bits at 3% fpp, 2.2x the cap
    val numBits = Frontier.optimalNumBits(expected, 0.03)
    assert(numBits > (1L << 26))
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val itemsBefore = spark.conf.getOption(itemsKey)
    val bitsBefore = spark.conf.getOption(bitsKey)
    val seen = Seq("https://x.example.com/1").toDF("url")
    val out = Frontier.unseenByBloom(urls("capchk", 10), seen, "url",
      expectedSeen = expected)
    assert(out.count() == 10) // correctness regardless
    // the raise is scoped to the sketch build: both confs restored after
    // (they also size AQE's runtime join filters session-wide)
    assert(spark.conf.getOption(itemsKey) == itemsBefore,
      "maxNumItems conf leaked past unseenByBloom")
    assert(spark.conf.getOption(bitsKey) == bitsBefore,
      "maxNumBits conf leaked past unseenByBloom")
    // with the confs raised the way unseenByBloom raises them internally,
    // the sketch really reaches its requested size (the conf cap is real:
    // without the raise this build returns an 8 MiB saturated filter)
    spark.conf.set(itemsKey, expected.toString)
    spark.conf.set(bitsKey, numBits.toString)
    try {
      val bf = seen.select(call_function("bloom_filter_agg",
          xxhash64(col("url")), lit(expected), lit(numBits)))
        .head.getAs[Array[Byte]](0)
      assert(bf.length.toLong * 8 >= numBits,
        s"sketch is ${bf.length} bytes — the conf cap shrank it")
    } finally {
      itemsBefore.fold(spark.conf.unset(itemsKey))(v => spark.conf.set(itemsKey, v))
      bitsBefore.fold(spark.conf.unset(bitsKey))(v => spark.conf.set(bitsKey, v))
    }
  }

  test("sharded seen-set: multi-shard output hash-matches the exact path") {
    val s = spark; import s.implicits._
    graft.plans.GraftExtensions.registerNative(spark)
    // 60 candidates, 35 seen (25 overlap + 10 seen-only): force k=7 shards
    // and compare bit-for-bit against the plain anti-join
    val cands = urls("shardchk", 60)
    val seen = (0 until 25).map(i => s"https://shardchk.example.com/p$i")
      .++((0 until 10).map(i => s"https://other.example.com/s$i")).toDF("url")
    val exact = cands.join(seen.select(col("url").as("u")),
        col("url") === col("u"), "left_anti")
      .select("url").collect().map(_.getString(0)).sorted.toSeq
    val sharded = Frontier.unseenByBloom(cands, seen, "url",
        expectedSeen = 35, shards = 7)
      .select("url").collect().map(_.getString(0)).sorted.toSeq
    assert(sharded == exact)
    // auto-sharding: k grows exactly when one filter can't hold the bits
    assert(Frontier.bloomShards(1000000L, 0.03) == 1)
    val huge = 4L * 1000 * 1000 * 1000 // 4e9 items → ~2.9e10 bits at 3%
    val k = Frontier.bloomShards(huge, 0.03)
    assert(k > 1)
    // per-shard sizing proof: each shard's optimal filter fits the cap
    val perShard = (huge + k - 1) / k
    assert(Frontier.rawNumBits(perShard, 0.03) <= Frontier.MaxBloomBits)
    // and k-1 shards would NOT fit (k is minimal)
    val perShardAtKminus1 = (huge + k - 2) / (k - 1)
    assert(Frontier.rawNumBits(perShardAtKminus1, 0.03) > Frontier.MaxBloomBits)
  }

  test("broadcast probe == exact anti-join (forced k=4)") {
    // the broadcast-variable probe over four shards must give exactly the
    // exact anti-join's rows — no false negatives, every maybe verified
    val s = spark; import s.implicits._
    graft.plans.GraftExtensions.registerNative(spark)
    val cands = urls("bcast", 80)
    val seen = (0 until 30).map(i => s"https://bcast.example.com/p$i")
      .++((0 until 12).map(i => s"https://elsewhere.example.com/s$i")).toDF("url")
    val exact = cands.join(seen.select(col("url").as("u")),
        col("url") === col("u"), "left_anti")
      .select("url").collect().map(_.getString(0)).sorted.toSeq
    val viaBroadcast = Frontier.unseenByBloom(cands, seen, "url",
        expectedSeen = 42, shards = 4)
      .select("url").collect().map(_.getString(0)).sorted.toSeq
    assert(viaBroadcast == exact)
  }

  test("null urls: xxhash64(NULL) is the seed, so null-url rows are probed and kept") {
    val s = spark; import s.implicits._
    graft.plans.GraftExtensions.registerNative(spark)
    assert(spark.range(1).select(xxhash64(lit(null).cast("string"))).head.getLong(0) == 42L)
    val cands = urls("nul", 40)
      .union(Seq((null: String, -1L), (null: String, -2L)).toDF("url", "payload"))
    val seenUrls = (0 until 10).map(i => s"https://nul.example.com/p/$i")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "payload").collect().map(r => (Option(r.getString(0)), r.getLong(1)))
        .sortBy(_._2).toSeq
    for (seenHasNull <- Seq(false, true); k <- Seq(1, 4)) {
      val seen = (if (seenHasNull) seenUrls :+ (null: String) else seenUrls).toDF("url")
      val exact = rows(cands.join(seen.select(col("url").as("u")),
        col("url") === col("u"), "left_anti"))
      val bloom = rows(Frontier.unseenByBloom(cands, seen, "url",
        expectedSeen = 64L, shards = k))
      val label = s"seenHasNull=$seenHasNull k=$k"
      assert(bloom == exact, label)
      assert(bloom.count(_._1.isEmpty) == 2, s"null-url rows must be kept: $label")
    }
  }

  test("past MaxBloomShards the prefilter honestly falls back to the exact anti-join") {
    val s = spark; import s.implicits._
    graft.plans.GraftExtensions.registerNative(spark)
    val cands = urls("cap", 20)
    val seen = (0 until 8).map(i => s"https://cap.example.com/p$i").toDF("url")
    val out = Frontier.unseenByBloom(cands, seen, "url",
      expectedSeen = 8, shards = Frontier.MaxBloomShards + 1)
    // same rows as the exact path…
    val exact = cands.join(seen.select(col("url").as("u")),
        col("url") === col("u"), "left_anti")
      .select("url").collect().map(_.getString(0)).sorted.toSeq
    assert(out.select("url").collect().map(_.getString(0)).sorted.toSeq == exact)
    // …and NO sketch probe in the plan (the infeasible-at-scale shape)
    assert(!out.queryExecution.optimizedPlan.toString.contains("bloom_shard_probe"))
  }

  test("bloom_filter_agg / bloom_might_contain are reachable from SQL") {
    graft.plans.GraftExtensions.registerNative(spark)
    val s = spark; import s.implicits._
    Seq("a", "b", "c").toDF("k").createOrReplaceTempView("bloom_keys")
    val bf = spark.sql(
      "SELECT bloom_filter_agg(xxhash64(k), 16L, 1024L) AS bf FROM bloom_keys")
      .head.getAs[Array[Byte]](0)
    assert(bf != null && bf.nonEmpty)
    val probes = Seq("a", "zzz").toDF("k")
    val hit = probes.select(
      call_function("bloom_might_contain", lit(bf), xxhash64(col("k"))).as("hit"))
      .as[Boolean].collect()
    assert(hit(0)) // 'a' was inserted: must hit (no false negatives)
  }
}
