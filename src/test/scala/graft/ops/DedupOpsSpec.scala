package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Mega-bucket suppression + payload-free candidate-pair contract. */
class DedupOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("graft-dedup-ops-test")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("a planted boilerplate mega-bucket is suppressed; small buckets pair up") {
    val s = spark
    import s.implicits._
    // bucket (0, 999): 100 docs sharing one boilerplate band key (> 64 cap)
    // bucket (1, 7):   3 docs — a genuine near-dup cluster
    // bucket (2, 8):   1 doc — no pairs
    val bands = (
      (0 until 100).map(i => (s"mega-$i", 0, 999L)) ++
      Seq(("a", 1, 7L), ("b", 1, 7L), ("c", 1, 7L), ("solo", 2, 8L))
    ).toDF("url", "band_idx", "band_key")

    val pairs = DedupOps.candidatePairs(bands, Seq("band_idx", "band_key"), "url")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

    assert(pairs == Set(("a", "b"), ("a", "c"), ("b", "c")),
      "mega-bucket must contribute ZERO pairs; the 3-doc cluster all pairs")
  }

  test("pairs are distinct across buckets and ordered id_a < id_b") {
    val s = spark
    import s.implicits._
    // x,y share TWO buckets → the pair must appear once
    val bands = Seq(
      ("x", 0, 1L), ("y", 0, 1L),
      ("x", 1, 2L), ("y", 1, 2L)
    ).toDF("url", "band_idx", "band_key")
    val pairs = DedupOps.candidatePairs(bands, Seq("band_idx", "band_key"), "url").collect()
    assert(pairs.length == 1)
    assert(pairs.head.getString(0) == "x" && pairs.head.getString(1) == "y")
  }

  test("maxBucket is configurable (Int.MaxValue disables suppression)") {
    val s = spark
    import s.implicits._
    val bands = (0 until 70).map(i => (s"d-$i", 0, 5L)).toDF("url", "band_idx", "band_key")
    assert(DedupOps.candidatePairs(bands, Seq("band_idx", "band_key"), "url").count() == 0)
    assert(DedupOps.candidatePairs(bands, Seq("band_idx", "band_key"), "url",
      maxBucket = Int.MaxValue).count() == 70L * 69 / 2)
  }

  test("clusterRepresentatives: transitive chains collapse to the min id") {
    val s = spark
    import s.implicits._
    // chain a-b-c-d (diameter 3), disjoint pair x-y, triangle p-q-r
    val pairs = Seq(
      ("a", "b"), ("b", "c"), ("c", "d"),
      ("x", "y"),
      ("p", "q"), ("q", "r"), ("p", "r")).toDF("id_a", "id_b")
    val labels = DedupOps.clusterRepresentatives(pairs)
      .as[(String, String)].collect().toMap
    assert(Seq("a", "b", "c", "d").forall(labels(_) == "a"))
    assert(labels("x") == "x" && labels("y") == "x")
    assert(Seq("p", "q", "r").forall(labels(_) == "p"))
    assert(labels.size == 9)
  }

  test("clusterRepresentatives: long chain needs multiple propagation rounds") {
    val s = spark
    import s.implicits._
    // a 30-link chain of longs: min label must travel the full diameter
    val pairs = (0L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = DedupOps.clusterRepresentatives(pairs).as[(Long, Long)].collect()
    assert(labels.length == 31)
    assert(labels.forall(_._2 == 0L))
  }

  /** A seeded similarity sweep: 60 (base, mutated) text pairs whose 3-gram
    * Jaccard runs from ~1.0 down to ~0.2. */
  private def similaritySweep(): Seq[(String, String)] = {
    val rnd = new scala.util.Random(42)
    val lexicon = Array("spark", "shuffle", "partition", "extract", "corpus",
      "anchor", "table", "vector", "token", "density", "salt", "manifest",
      "stream", "quality", "window", "schema", "batch", "cosine", "chunk", "label")
    def doc(words: Int): Array[String] = Array.fill(words)(lexicon(rnd.nextInt(lexicon.length)))
    (0 until 60).map { _ =>
      val base = doc(120 + rnd.nextInt(120))
      // mutate a sliding fraction of words: similarity sweeps ~1.0 → ~0.2
      val mutFrac = rnd.nextDouble() * 0.5
      val mutated = base.clone()
      (0 until (base.length * mutFrac).toInt).foreach { _ =>
        mutated(rnd.nextInt(base.length)) = lexicon(rnd.nextInt(lexicon.length))
      }
      (base.mkString(" "), mutated.mkString(" "))
    }
  }

  test("minhash estimate agrees with exact jaccard: the 0.55 prefilter floor drops no J>=0.8 pair") {
    // The estimate prefilter of SparkEntry's exactly verified near-dup pairs
    // keeps only pairs whose 64-slot signature-agreement estimate >= 0.55.
    // Property over a deterministic similarity sweep: every pair whose exact
    // shingle-set Jaccard >= 0.8 estimates >= 0.55 (no dropped verified
    // pair), and the estimate tracks exact Jaccard closely on average.
    var maxErr = 0.0
    var sumErr = 0.0
    var n = 0
    var verifiedSeen = 0
    similaritySweep().foreach { case (ta, tb) =>
      val sa = TextOps.shingles(ta, 3); val sb = TextOps.shingles(tb, 3)
      val exact = TextOps.jaccardSorted(TextOps.shingleHashes(sa), TextOps.shingleHashes(sb))
      val est = TextOps.minHashSimilarity(TextOps.minHash(sa, 64), TextOps.minHash(sb, 64))
      if (exact >= 0.8) {
        verifiedSeen += 1
        assert(est >= 0.55,
          f"prefilter would drop a verified pair: exact=$exact%.3f est=$est%.3f")
      }
      val err = math.abs(est - exact)
      maxErr = math.max(maxErr, err); sumErr += err; n += 1
    }
    assert(verifiedSeen >= 5, s"sweep must exercise the verify region (saw $verifiedSeen)")
    assert(sumErr / n < 0.1, f"estimate should track exact jaccard (mean |err| = ${sumErr / n}%.3f)")
  }

  test("verifyPairs emits the raw estimate and exact Jaccard, keeping est == estFloor") {
    val s = spark
    import s.implicits._
    val sweep = similaritySweep().zipWithIndex
    val docs = sweep.flatMap { case ((ta, tb), i) => Seq((s"a-$i", ta), (s"b-$i", tb)) }
      .toDF("id", "text")
    val sigs = DedupOps.minhashSignatures(docs, "id", "text", 3, 64)
    val pairs = sweep.map { case (_, i) => (s"a-$i", s"b-$i") }.toDF("id_a", "id_b")
    val local = sweep.map { case ((ta, tb), i) =>
      val (sha, siga) = TextOps.shingleHashSig(ta, 3, 64)
      val (shb, sigb) = TextOps.shingleHashSig(tb, 3, 64)
      (s"a-$i", s"b-$i") -> (TextOps.minHashSimilarity(siga, sigb), TextOps.jaccardSorted(sha, shb))
    }.toMap
    // floors taken from the sweep itself, so one pair sits exactly on estFloor
    val threshold = 0.3
    val estFloor = local.values.filter(_._2 >= threshold).map(_._1).toSeq.sorted
      .apply(local.values.count(_._2 >= threshold) / 2)
    val expected = local.filter { case (_, (e, j)) => e >= estFloor && j >= threshold }
    assert(expected.values.exists(_._1 == estFloor), "sweep must put a kept pair on estFloor")
    assert(expected.size < local.size, "the floors must drop part of the sweep")

    val got = DedupOps.verifyPairs(pairs, sigs, sigs, estFloor, threshold)
      .as[(String, String, Double, Double)].collect()
    assert(got.map(r => (r._1, r._2)).toSet == expected.keySet)
    got.foreach { case (a, b, est, jaccard) =>
      assert(est == local((a, b))._1 && jaccard == local((a, b))._2, s"($a, $b) scored ($est, $jaccard)")
      assert(est >= estFloor && jaccard >= threshold, s"($a, $b) below a floor")
    }
  }

  test("clusterRepresentatives: matches union-find ground truth on seeded random graphs") {
    // the r8 loop-body rewrite (self-edge fused hop + leaf-scan convergence)
    // must label every component by its true minimum — checked against an
    // independent local union-find over graphs with chains, cliques and
    // singleton-free random edges
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(77)
    (0 until 3).foreach { trial =>
      val nIds = 60 + trial * 30
      val edges = ((0 until nIds).flatMap { i =>
        if (rnd.nextDouble() < 0.6) Some((i.toLong, rnd.nextInt(nIds).toLong)) else None
      } ++ (0L until 12L).map(i => (i, i + 1L))) // a long chain on top
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      // local union-find ground truth
      val parent = scala.collection.mutable.Map((0L until nIds.toLong).map(i => i -> i): _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(i => i -> find(i)).toMap
      val got = DedupOps.clusterRepresentatives(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"trial $trial: CC labels diverge from union-find")
    }
  }

  test("clusterRepresentatives: maxIter bounds the work (partial labels remain sound)") {
    val s = spark
    import s.implicits._
    val pairs = (0L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // initialization seeds min(id, neighbors) — a free hop (r8) — then one
    // round = one neighbor hop + one pointer jump: labels close at most
    // distance 4 from the seed — sound but not converged on a long chain
    val labels = DedupOps.clusterRepresentatives(pairs, maxIter = 1)
      .as[(Long, Long)].collect().toMap
    assert(labels(1L) == 0L)          // seed hop reaches 0 directly
    assert(labels(10L) == 6L)         // seed 9 → hop 8 → jump to hop(8) = 6
    assert(labels.forall { case (id, l) => l <= id }) // labels only decrease
  }
}
