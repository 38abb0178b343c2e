package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Cross-row dedup plumbing shared by the MinHash / SimHash / Jaccard /
 * embedding-LSH families (SparkEntry dedup queries).
 *
 * Scale contract (100 TB):
 *  - the self-joined relation carries ONLY the bucket key + row id — payloads
 *    (signatures, shingle hashes, embeddings) are re-attached by id AFTER the
 *    candidate pairs are deduped, so they never multiply through the
 *    quadratic part of the shuffle;
 *  - mega-bucket suppression: a bucket shared by more than `maxBucket` rows
 *    is non-discriminative template boilerplate — joining it contributes
 *    O(bucket²) candidate pairs of near-zero precision, so it is dropped
 *    entirely. This bounds the join fan-out per bucket regardless of corpus
 *    size (the standard guard in production near-dup pipelines).
 */
object DedupOps {

  /**
   * MinHash signature relation `(id, sh, sig)` over `(idCol, textCol)` rows:
   * `sh` = distinct sorted 64-bit shingle hashes (the exact-Jaccard payload),
   * `sig` = k-permutation MinHash signature. One narrow map — the single
   * signature pass the curation ([[graft.pipeline.Curate]]), incremental
   * ([[IncrementalDedup]]) and `dedup_*_pages` ([[graft.SparkEntry]]) chains
   * start from, extracted here so the chains cannot drift.
   */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, minhashK: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("string"), col(textCol).cast("string"))
      .as[(String, String)].map { case (id, t) =>
        val (sh, sig) = TextOps.shingleHashSig(t, shingleN, minhashK)
        (id, sh, sig)
      }.toDF("id", "sh", "sig")
  }

  /**
   * LSH band relation `(id, band_idx, band_key)` from a signature relation.
   * Documents with an EMPTY shingle set emit no bands: their MinHash
   * signature is the all-sentinel vector, identical for EVERY such document
   * (whitespace/symbol-only text), so banding them would pair all empty
   * documents with each other and `jaccardSorted(∅, ∅) = 1.0` would then
   * falsely verify distinct no-content rows as near-duplicates. No shingles
   * = no content evidence = never a near-dup candidate (exact dedup still
   * sees them through the content hash).
   */
  def explodeBands(sigs: DataFrame, bandSize: Int): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    sigs.select(col("id"), col("sh"), col("sig"))
      .as[(String, Array[Long], Array[Long])]
      .flatMap { case (id, sh, sig) =>
        if (sh.isEmpty) Iterator.empty
        else TextOps.lshBands(sig, bandSize).zipWithIndex
          .iterator.map { case (b, i) => (id, i, b) }
      }.toDF("id", "band_idx", "band_key")
  }

  /**
   * Exact verification of candidate pairs: attach `(sh, sig)` payloads by id
   * AFTER pair dedup (so payloads never ride the quadratic shuffle), skip
   * pairs whose MinHash ESTIMATE is below `estFloor` (saves the sort-merge
   * on pairs the signature already rules out), keep pairs with exact shingle
   * Jaccard ≥ `threshold`. `leftSigs`/`rightSigs` may be the same frame
   * (in-corpus self-dedup) or different frames (batch vs history).
   *
   * @return `(id_a, id_b, est, jaccard)`: `est` is the unrounded
   *         signature-agreement estimate (`TextOps.minHashSimilarity`, a
   *         multiple of 1/k, ≥ `estFloor`) and `jaccard` the unrounded
   *         exact shingle-set Jaccard (`TextOps.jaccardSorted`, ≥
   *         `threshold`)
   */
  def verifyPairs(pairs: DataFrame, leftSigs: DataFrame, rightSigs: DataFrame,
                  estFloor: Double, threshold: Double): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs
      .join(leftSigs.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("sig").as("sig_a")), "id_a")
      .join(rightSigs.select(col("id").as("id_b"), col("sh").as("sh_b"),
        col("sig").as("sig_b")), "id_b")
      .select("id_a", "id_b", "sh_a", "sig_a", "sh_b", "sig_b")
      .as[(String, String, Array[Long], Array[Long], Array[Long], Array[Long])]
      // a typed map + column filter keeps this stage in whole-stage codegen;
      // a flatMap runs an interpreted deserializer whose expression tree
      // (~100 KB) ships with every task that scans a relation persisted from
      // this output. Below the floor the exact Jaccard is never computed; the
      // 0.0 placeholder is dropped by the `est` filter.
      .map { case (a, b, sha, siga, shb, sigb) =>
        val est = TextOps.minHashSimilarity(siga, sigb)
        (a, b, est, if (est < estFloor) 0.0 else TextOps.jaccardSorted(sha, shb))
      }.toDF("id_a", "id_b", "est", "jaccard")
      .filter(col("est") >= estFloor && col("jaccard") >= threshold)
  }

  /** THE mega-bucket suppression rule, defined once: drop every band row
    * whose bucket holds more than `maxBucket` members. Oversized buckets
    * are template boilerplate — joining one costs O(|bucket|²) pair rows of
    * near-zero precision. Shared by [[candidatePairs]] (in-batch self-join)
    * and [[graft.ops.IncrementalDedup]] (both sides of the vs-history
    * join), so the two chains cannot drift on count semantics or the
    * threshold comparison. */
  def suppressMegaBuckets(bands: DataFrame, bucketCols: Seq[String],
                          maxBucket: Int): DataFrame = {
    // Int.MaxValue disables suppression at ANY bucket size — skip the count
    // aggregate + self-join entirely instead of paying two exchanges for an
    // identity transform (the embedding-LSH chain always runs with
    // suppression off). The Long `count <= maxBucket` filter this replaces
    // differed only for a bucket above 2^31 members, which it dropped.
    if (maxBucket == Int.MaxValue) return bands
    val keyCols = bucketCols.map(col)
    val smallKeys = bands.groupBy(keyCols: _*).count()
      .filter(col("count") <= maxBucket).drop("count")
    bands.join(smallKeys, bucketCols)
  }

  /**
   * Candidate pairs from an LSH band/bucket relation.
   *
   * @param bands     relation with columns (`idCol`, bucket columns…)
   * @param bucketCols the bucket key columns (e.g. band_idx+band_key, or
   *                   table+bucket)
   * @param idCol     row-identity column name (url / vec_id)
   * @param maxBucket suppression threshold (buckets larger than this are
   *                  dropped before the self-join)
   * @return distinct (id_a, id_b) with id_a < id_b
   */
  def candidatePairs(
      bands: DataFrame,
      bucketCols: Seq[String],
      idCol: String,
      maxBucket: Int = 64): DataFrame = {
    val small = suppressMegaBuckets(bands, bucketCols, maxBucket)
      .select((bucketCols :+ idCol).map(col): _*)
    val a = small.toDF(bucketCols :+ "id_a": _*)
    val b = small.toDF(bucketCols :+ "id_b": _*)
    a.join(b, bucketCols)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /**
   * Connected-component representatives over candidate pairs: every id in a
   * duplicate cluster is labelled with the cluster's MINIMUM id, by
   * iterative min-label propagation (the label-propagation core of
   * large-scale CC, cf. the map-reduce CC literature) until fixpoint or
   * `maxIter`.
   *
   * This is the step a training-data dedup pipeline runs AFTER pair
   * generation: candidate pairs say "a≈b", but keeping one survivor per
   * cluster needs transitive closure (a≈b, b≈c ⇒ keep only one of {a,b,c}).
   *
   * Scale contract (100 TB): each round is two shuffle joins over relations
   * that carry only ids — a neighbor-min hop plus a pointer-jumping
   * compression (label ← label(label)), so convergence is O(log diameter)
   * rounds, not O(diameter); LSH-derived duplicate clusters are
   * near-cliques and converge in 2–3 rounds regardless of corpus size. The
   * convergence check is a cheap count on changed labels. Each generation
   * is cut over via an EAGER `localCheckpoint`: without lineage truncation
   * the logical plan nests one level per iteration and Catalyst analysis
   * time grows superlinearly (the standard iterative-DataFrame trap); with
   * it every round plans against a materialized leaf.
   *
   * @param pairs undirected candidate pairs (idA, idB), any id type
   * @return (id, label) for every id that appears in `pairs`, where label =
   *         min id of its connected component
   */
  def clusterRepresentatives(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .dropDuplicates("src", "dst")
      .localCheckpoint(true)
    // initialization folds a FREE first hop: the id set needs a groupBy on
    // src anyway (the r7 form paid the same exchange for distinct()), so
    // seed label = min(id, min neighbor) instead of the identity — one
    // whole hop+jump round saved for the common pair/clique components,
    // which then converge at the first convergence check
    val labels0 = edges.groupBy("src").agg(min(col("dst")).as("m"))
      .select(col("src").as("id"), least(col("src"), col("m")).as("label"))
      .localCheckpoint(true)
    // self-edges fold the "least(own label, neighbor min)" hop into ONE
    // aggregation over the edge join (guide §2.4: two operations keyed the
    // same way share one exchange) — and the self-edge row doubles as the
    // carrier of the PREVIOUS label, so convergence is read off the
    // materialized generation instead of a per-round shuffle join against
    // the prior one (r7 shape: join + groupBy + left-join + self-join +
    // count-join = ~9 exchanges/round; this shape: join + groupBy +
    // self-join = ~5, and the convergence check is a take(1) scan).
    val selfEdges = labels0.select(col("id").as("src"), col("id").as("dst"))
    var labels = labels0
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val hopped = edges.union(selfEdges)
        .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), "dst")
        .groupBy("src").agg(
          min("dlabel").as("label"),
          // the self-edge (dst == src) joined exactly this src's current
          // label — min over that single non-null value IS the prev label
          min(when(col("dst") === col("src"), col("dlabel"))).as("prev"))
      // pointer jumping: follow one's label to ITS label — halves the
      // distance to the component minimum every round
      val updated = hopped
        .join(
          hopped.select(col("src").as("label"), col("label").as("parent")),
          Seq("label"), "left")
        .select(col("src").as("id"),
          least(col("label"), coalesce(col("parent"), col("label"))).as("label"),
          col("prev"))
        .localCheckpoint(true)
      // convergence off the checkpointed leaf: no join, no full count —
      // take(1) over the materialized blocks
      converged = updated.filter(col("label") =!= col("prev")).isEmpty
      // NOTE: Dataset.unpersist would be a no-op here — localCheckpoint
      // blocks live in the block manager, not the CacheManager. Superseded
      // generations are reclaimed by the ContextCleaner once this loop
      // drops its reference (the only handle to the checkpointed RDD).
      labels = updated
      i += 1
    }
    labels.select("id", "label")
  }
}
