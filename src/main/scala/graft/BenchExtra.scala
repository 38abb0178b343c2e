package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{ExtractJob, PagesGen}

/**
 * Dev diagnostic (not part of the driver contract — Bench.scala is frozen):
 * stage-level attribution for the heavy bench queries, per guide §1.4/§1.5
 * — each stage is materialized through the noop sink (every column of
 * every row computed, nothing written) under a job description, so the
 * expensive queries' seconds decompose into operator costs instead of one
 * opaque number. Cited in OPTIMIZATION_r08.md.
 *
 * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.BenchExtra [curate|incdedup|all]"
 */
object BenchExtra {
  @volatile private var jobCount = 0
  @volatile private var stageCount = 0

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val what = args.headOption.getOrElse("all")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", "64"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/spark_local" else "/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCount += 1; stageCount += j.stageInfos.size
      }
    })
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(name: String)(f: => Unit): Unit = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime(); val j0 = jobCount; val s0 = stageCount
      f
      System.err.println(f"[benchextra] $name%-34s ${(System.nanoTime() - t0) / 1e9}%7.3f s" +
        f"  (${jobCount - j0}%3d jobs, ${stageCount - s0}%3d stages)")
      spark.sparkContext.setJobDescription(null)
    }

    if (what == "curate" || what == "all") curatePhases(spark, sfDir, noop, timed)
    if (what == "incdedup" || what == "all") incdedupPhases(spark, timed)
    if (what == "ingest") ingestLegs(spark, timed)
    spark.stop()
  }

  /** Ingest-amortization legs (VERDICT r7 #5): the frozen Bench ingest
    * probe commits a 1k batch against an 8k history (fixed commit latency
    * dominates at that size); these legs commit 1k / 10k / 100k batches
    * against a 100k-doc history through the SAME durable path
    * (dedupeAndCommitIndexed — parquet store + bucketed band table) and
    * report docs/s per leg, so the claimed O(touched-buckets) per-batch
    * cost is evidenced, not asserted. Same deterministic corpus expression
    * as the frozen probe. */
  private def ingestLegs(spark: SparkSession,
                         timed: String => (=> Unit) => Unit): Unit = {
    import graft.ops.IncrementalDedup
    val histN = 100000
    val dir = java.nio.file.Files.createTempDirectory("graft-benchextra-ingest-")
      .toAbsolutePath.toString
    val tbl = "graft_benchextra_ingest_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    def corpus(from: Int, n: Int) = spark.range(from, from + n.toLong)
      .selectExpr("CAST(id AS STRING) AS doc",
        "concat('doc body ', CAST(id AS STRING), ' ', " +
          "repeat(concat('w', CAST(id % 211 AS STRING), ' x', CAST(id % 97 AS STRING), " +
          "' y', CAST(id % 53 AS STRING), ' '), 10), " +
          "CASE WHEN id % 50 = 0 THEN 'tail common suffix block' ELSE '' END) AS body")
    try {
      timed(s"ingest:history_build_$histN") {
        IncrementalDedup.dedupeAndCommitIndexed(
          corpus(0, histN), "doc", "body", dir, tbl).count(): Unit
      }
      var base = histN
      Seq(1000, 10000, 100000).foreach { batchN =>
        var cnt = 0L
        val t0 = System.nanoTime()
        cnt = IncrementalDedup.dedupeAndCommitIndexed(
          corpus(base, batchN), "doc", "body", dir, tbl).count()
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(
          f"[benchextra] ingest leg: $cnt%d-doc batch vs ~$base%d history in $sec%.2f s (${cnt / sec}%.1f docs/s)")
        base += batchN
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      try {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(dir)).deleteRecursively()
      } catch { case _: Exception => () }
    }
  }

  /** Stage decomposition of curation_pages: replicates Curate.ledgerPlan's
    * stages (kept in sync by hand) and times each through the noop sink. */
  private def curatePhases(spark: SparkSession, sfDir: String,
                           noop: DataFrame => Unit,
                           timed: String => (=> Unit) => Unit): Unit = {
    import spark.implicits._
    val n = PagesGen.pagesFor(sfDir)
    val parts = spark.sparkContext.defaultParallelism
    val extracted = ExtractJob.extract(PagesGen.generate(spark, n), parts).persist()
    timed("extract+persist")(extracted.toDF().count(): Unit)

    val input = extracted.toDF().select(col("url").as("id"),
      col("normalized_text").cast("string").as("text"))

    val rel = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val cleaned = graft.ops.ParaDedup.dedupParagraphs(input, "id", "text", 5,
      toRelease = rel)
    timed("1:para_dedup")(noop(cleaned))

    val judged = cleaned.select(col("id"), col("text_deduped"), col("paras_removed"))
      .as[(String, String, Long)]
      .map { case (id, text, pr) =>
        val v = graft.ops.RepetitionOps.gopherFilter(
          graft.ops.RepetitionOps.profile(text))
        (id, text, pr, v.keep, v.reasons.mkString("+"))
      }
      .toDF("id", "text", "paras_removed", "q_keep", "q_reasons")
      .persist()
    timed("2:quality_judge+persist")(judged.count(): Unit)

    val hashed = judged.filter(col("q_keep"))
      .withColumn("hash", expr("substring(sha2(text, 256), 1, 32)"))
    val keepers = hashed.groupBy("hash").agg(min(col("id")).as("keeper"))
    val withKeeper = hashed.join(keepers, "hash")
    val uniq = withKeeper.filter(col("id") === col("keeper")).select("id", "text")
    timed("3:exact_dedup")(noop(uniq))

    val sigs = graft.ops.DedupOps.minhashSignatures(uniq, "id", "text", 3, 64).persist()
    timed("4:signatures+persist")(sigs.count(): Unit)

    val bands = graft.ops.DedupOps.explodeBands(sigs, 4)
    val cands = graft.ops.DedupOps.candidatePairs(bands, Seq("band_idx", "band_key"), "id")
    timed("5:bands+candidates")(noop(cands))

    val verified = graft.ops.DedupOps.verifyPairs(cands, sigs, sigs, 0.55, 0.8)
    timed("6:verify")(noop(verified))

    timed("7:cc")(noop(graft.ops.DedupOps.clusterRepresentatives(verified)))

    timed("full:Curate.curate")(noop(
      graft.pipeline.Curate.curate(input, "id", "text",
        graft.pipeline.Curate.Config(paraMinDocFreq = 5))))

    rel.foreach(d => scala.util.Try(d.unpersist()))
    judged.unpersist(); sigs.unpersist(); extracted.unpersist()
  }

  /** Phase decomposition of incdedup_fixture: the same two committed
    * batches, each phase timed (openStore / dedupeBatch / band append /
    * store append). */
  private def incdedupPhases(spark: SparkSession,
                             timed: String => (=> Unit) => Unit): Unit = {
    // two reps, fresh store each: rep 1 is the cold/JIT pass, rep 2 the
    // warm per-phase attribution (tiny data ⇒ cost = #jobs × dispatch
    // latency; the shared listener in main counts them per phase).
    (1 to 2).foreach { rep =>
      val j0 = jobCount; val s0 = stageCount
      incdedupOnce(spark, timed, rep)
      System.err.println(s"[benchextra] rep $rep: ${jobCount - j0} jobs, ${stageCount - s0} stages")
    }
  }

  private def incdedupOnce(spark: SparkSession,
                           timed: String => (=> Unit) => Unit, rep: Int): Unit = {
    import spark.implicits._
    import graft.ops.IncrementalDedup
    val dir = java.nio.file.Files.createTempDirectory("graft-benchextra-")
      .toAbsolutePath.toString
    val tbl = s"graft_benchextra_bands_r$rep" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      Seq(1, 2).foreach { b =>
        val batch = (if (b == 1) graft.pipeline.IncDedupFixture.batch1
                     else graft.pipeline.IncDedupFixture.batch2)
        val df = spark.createDataset(batch).repartition(2).toDF("doc", "body")
        var hist: IncrementalDedup.Index = null
        timed(s"b$b:openStore") { hist = IncrementalDedup.openStore(spark, dir) }
        val tableExists = spark.catalog.tableExists(tbl)
        var r: IncrementalDedup.BatchResult = null
        timed(s"b$b:dedupeBatch") {
          r = IncrementalDedup.dedupeBatch(
            df, "doc", "body", hist,
            histBands = if (tableExists) spark.table(tbl) else null)
        }
        val bandSigs = if (tableExists) r.delta.sigs
                       else hist.sigs.unionByName(r.delta.sigs)
        timed(s"b$b:appendBandsToTable")(
          IncrementalDedup.appendBandsToTable(bandSigs, tbl, 4))
        timed(s"b$b:appendToStore")(IncrementalDedup.appendToStore(dir, r.delta))
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      try {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(dir)).deleteRecursively()
      } catch { case _: Exception => () }
    }
  }
}
