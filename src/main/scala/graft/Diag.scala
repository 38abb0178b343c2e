package graft

import java.io.File

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.IncrementalDedup
import graft.pipeline.{ExtractJob, PageRow, PagesGen, WarcIngest}

/** The diagnostics entry point (not part of the query contract): one
  * subcommand drives the real operators and prints one JSON line.
  *
  * `sbt "runMain graft.Diag <what> [args]"`, where `<what>` is
  *  - `pdf` | `office`: route throughput of PDF / OOXML blobs through the
  *    fused extraction job, `SPARK_GRAFT_DOCS` per corpus (20000);
  *  - `warc [shards=128]`: `SPARK_GRAFT_DOCS` pages (40000) written as
  *    per-record-gzip WARC shards, then ingest, ingest + extraction, and a
  *    pruned record census;
  *  - `ingest`: 1k / 10k / 100k-doc batches committed in turn on top of a
  *    100k-doc history through `IncrementalDedup.dedupeAndCommitIndexed`;
  *  - `incdedup [copies=8 batches=4 padWords=0]`: the durable ingest loop
  *    over `$SPARK_GRAFT_SF_DIR/documents.parquet`;
  *  - `profile`: a JFR recording of two extraction passes over
  *    `SPARK_GRAFT_DOCS` pages (20000), written to `target/profile.jfr`.
  *
  * The session is `local[SPARK_GRAFT_CPUS]` (32). Each subcommand is a
  * function of a session and its sizes, so a spec can run it small. */
object Diag {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    def docs(default: Int) = sys.env.get("SPARK_GRAFT_DOCS").fold(default)(_.toInt)
    def arg(i: Int, default: Int) = args.lift(i).fold(default)(_.toInt)
    val (shufflePartitions, run): (Int, SparkSession => String) = args.headOption match {
      case Some("pdf") => (64, pdf(_, docs(20000)))
      case Some("office") => (64, office(_, docs(20000)))
      case Some("warc") => (64, warc(_, docs(40000), arg(1, 128)))
      case Some("ingest") => (64, ingest(_, 100000, Seq(1000, 10000, 100000)))
      // the same partition count at every parallelism level, or the count
      // change passes for thread scaling
      case Some("incdedup") => (32, incdedup(_,
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error("incdedup reads SPARK_GRAFT_SF_DIR")),
        arg(1, 8), arg(2, 4), arg(3, 0)))
      case Some("profile") => (cpus, profile(_, docs(20000), new File("target/profile.jfr")))
      case _ => sys.error(
        "usage: graft.Diag pdf | office | warc [shards] | ingest | incdedup [copies batches padWords] | profile")
    }
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark_local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try println(run(spark)) finally spark.stop()
  }

  /** Route throughput: `n` blobs of each PDF corpus, two-page Flate docs
    * and one-page RC4-R3 empty-password docs (~100 MD5s plus one RC4 pass
    * each on top of the parse). */
  def pdf(spark: SparkSession, n: Int): String =
    routes(spark, "pdf_extract", n, minWords = 100,
      "doc" -> graft.sources.PdfGen.syntheticDoc, "enc" -> graft.sources.PdfGen.syntheticEncryptedDoc)

  /** Route throughput: `n` copies of one frozen docx / pptx / xlsx blob each;
    * the parse work is the same whether or not the bytes repeat. */
  def office(spark: SparkSession, n: Int): String = {
    val (docx, pptx, xlsx) = (graft.sources.DocxGen.report, graft.sources.DocxGen.deck,
      graft.sources.DocxGen.workbook)
    routes(spark, "office_extract", n, minWords = 0,
      "docx" -> (_ => docx), "pptx" -> (_ => pptx), "xlsx" -> (_ => xlsx))
  }

  /** `n` pages per corpus through `ExtractJob.extract` at 128 partitions;
    * `<label>_ok` counts rows with status ok and more than `minWords` words. */
  private def routes(spark: SparkSession, metric: String, n: Int, minWords: Int,
                     corpora: (String, Long => Array[Byte])*): String = {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val fields = corpora.flatMap { case (label, gen) =>
      val pages = spark.range(n).map(i => PageRow(s"https://$label.example.com/$i", ts, gen(i), "", "en"))
        .repartition(128).persist()
      pages.count()
      val (ok, sec) = median3(ExtractJob.extract(pages, 128).toDF()
        .filter(col("status") === "ok" && col("word_count") > minWords).count())
      pages.unpersist()
      Seq(s"${label}_ok" -> ok, s"${label}_sec" -> sec, s"${label}_docs_per_sec" -> rate(n, sec))
    }
    line(spark, metric, ("docs" -> n) +: fields: _*)
  }

  /** WARC ingest over `n` PagesGen pages in `shards` shards (the
    * Common-Crawl layout): the `format("warc")` scan to `PageRow`, the same
    * plus `ExtractJob.extract`, and a census that reads no payload. */
  def warc(spark: SparkSession, n: Int, shards: Int): String = withTempDir { dir =>
    // one writer task per shard, each a pure function of (seed, shard)
    spark.range(shards.toLong).repartition(shards).foreachPartition { (it: Iterator[java.lang.Long]) =>
      it.foreach(s => graft.sources.WarcGen.writeCorpusShard(new File(dir), n, shards, s.toInt))
    }
    val corpusMb = new File(dir).listFiles().map(_.length()).sum / 1e6
    val (ingested, ingestSec) = median3(WarcIngest.pages(spark, dir).toDF().count())
    val (ok, extractSec) = median3(ExtractJob.extract(WarcIngest.pages(spark, dir), 128).toDF()
      .filter(col("status") === "ok").count())
    val (records, censusSec) = median3(spark.read.format("warc").load(dir)
      .where("warc_type = 'response'").select("url").count())
    line(spark, "warc_ingest", "docs" -> n, "shards" -> shards, "corpus_mb" -> corpusMb,
      "ingest_docs" -> ingested, "ingest_sec" -> ingestSec, "ingest_docs_per_sec" -> rate(ingested, ingestSec),
      "extract_ok" -> ok, "extract_sec" -> extractSec, "extract_docs_per_sec" -> rate(n, extractSec),
      "pruned_records" -> records, "pruned_sec" -> censusSec)
  }

  /** Per-batch commit cost against a large history: a `history`-doc
    * store, then one batch of each size in `legs`, each committed once
    * (parquet store plus bucketed band table) and timed. */
  def ingest(spark: SparkSession, history: Int, legs: Seq[Int]): String = withTempDir { dir =>
    val table = "graft_diag_ingest_" + java.util.UUID.randomUUID().toString.replace("-", "")
    def commit(from: Long, n: Int) = timed(IncrementalDedup.dedupeAndCommitIndexed(
      spark.range(from, from + n).selectExpr("CAST(id AS STRING) AS doc",
        "concat('doc body ', CAST(id AS STRING), ' ', " +
          "repeat(concat('w', CAST(id % 211 AS STRING), ' x', CAST(id % 97 AS STRING), " +
          "' y', CAST(id % 53 AS STRING), ' '), 10), " +
          "CASE WHEN id % 50 = 0 THEN 'tail common suffix block' ELSE '' END) AS body"),
      "doc", "body", dir, table).count())
    try {
      val (_, historySec) = commit(0, history)
      val results = legs.zip(legs.scanLeft(history.toLong)(_ + _)).map { case (n, from) =>
        val (docs, sec) = commit(from, n)
        ListMap("docs" -> docs, "sec" -> sec, "docs_per_sec" -> rate(docs, sec))
      }
      line(spark, "ingest_legs", "history" -> history, "history_sec" -> historySec, "legs" -> results)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  /** The durable ingest loop (`IncrementalDedup.dedupeAndCommit`) over the
    * `sfDir` documents amplified `copies`×: copy 0 is the original, copies
    * `c % 3 == 1` are near-duplicates (one appended sentence, Jaccard ≈ 0.84
    * over 3-shingles), the rest exact duplicates. Rows split into `batches`
    * by id hash, so later batches are mostly duplicate-vs-history. Each
    * document is padded with `padWords` id-seeded pseudo-words: the sf
    * texts are ~45 words, where a batch is stage-dispatch bound and thread
    * scaling is invisible. One warm pass on a throwaway store, then the
    * timed pass on a fresh one; the times cover the whole commit. */
  def incdedup(spark: SparkSession, sfDir: String, copies: Int, batches: Int, padWords: Int): String = {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val sb = new StringBuilder(t)
        (0 until padWords).foreach { k =>
          // splitmix64 of (id, k): distinct docs share no 3-word runs
          var h = id * 0x9E3779B97F4A7C15L + k
          h ^= h >>> 30; h *= 0xBF58476D1CE4E5B9L
          h ^= h >>> 27; h *= 0x94D049BB133111EBL
          h ^= h >>> 31
          sb.append(" w").append(h & 0xFFFF)
        }
        val base = sb.toString
        (0 until copies).iterator.map { c =>
          (s"$c:$id", if (c % 3 == 1) base + " One extra trailing sentence marks this copy as a near duplicate variant." else base)
        }
      }.toDF("doc", "body")
      .withColumn("batch", pmod(xxhash64(col("doc")), lit(batches)))
      .persist()
    val total = corpus.count()
    def pass(): (Seq[Double], Map[String, Long]) = withTempDir { store =>
      val runs = (0 until batches).map { b =>
        timed(IncrementalDedup.dedupeAndCommit(corpus.filter(col("batch") === b).select("doc", "body"),
          "doc", "body", store).groupBy("stage").count().as[(String, Long)].collect())
      }
      (runs.map(_._2), runs.flatMap(_._1).groupMapReduce(s => if (s._1.isEmpty) "kept" else s._1)(_._2)(_ + _))
    }
    pass() // warm (JIT)
    val (times, stages) = pass()
    corpus.unpersist()
    line(spark, "incdedup_ingest", "docs" -> total, "batches" -> batches, "sec" -> times.sum,
      "docs_per_sec" -> rate(total, times.sum), "batch_sec" -> times, "stages" -> ListMap(stages.toSeq.sorted: _*))
  }

  /** A JFR recording (execution and allocation samples) of two
    * `ExtractJob.extract` passes over `n` pages read from parquet, after two
    * warm-up passes, dumped to `out`. */
  def profile(spark: SparkSession, n: Int, out: File): String = withTempDir { dir =>
    import spark.implicits._
    PagesGen.generate(spark, n).repartition(64).write.parquet(s"$dir/pages")
    val pages = spark.read.parquet(s"$dir/pages").as[PageRow]
    def pass() = ExtractJob.extract(pages, spark.sparkContext.defaultParallelism * 4).toDF().count()
    pass(); pass()
    val rec = new jdk.jfr.Recording(jdk.jfr.Configuration.getConfiguration("profile"))
    rec.enable("jdk.ObjectAllocationSample").`with`("throttle", "300/s")
    rec.start()
    val (_, sec) = timed { pass(); pass() }
    rec.stop()
    rec.dump(out.toPath)
    rec.close()
    line(spark, "profile", "docs" -> n, "passes" -> 2, "sec" -> sec, "jfr" -> out.getAbsolutePath)
  }

  /** tmpfs when the box has one: corpora and stores stay off the disk. */
  private val scratch =
    if (new File("/dev/shm").isDirectory) "/dev/shm" else System.getProperty("java.io.tmpdir")

  /** `body` over a fresh directory under [[scratch]], deleted afterwards. */
  private def withTempDir[A](body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(new File(scratch).toPath, "graft-diag-").toFile
    try body(dir.getAbsolutePath)
    finally new scala.reflect.io.Directory(dir).deleteRecursively()
  }

  /** `f`'s result and its wall seconds, to the millisecond. */
  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, math.round((System.nanoTime() - t0) / 1e6) / 1e3)
  }

  /** `f`'s last result and the median seconds of 3 timed runs after 2
    * warm-up runs (JIT, caches). */
  private def median3[A](f: => A): (A, Double) = {
    f; f
    val runs = Seq.fill(3)(timed(f))
    (runs.last._1, runs.map(_._2).sorted.apply(1))
  }

  private def rate(n: Long, sec: Double): Double = math.round(n / math.max(sec, 1e-3) * 10) / 10.0

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The result line: `metric`, `fields` in order, then the parallelism. */
  private def line(spark: SparkSession, metric: String, fields: (String, Any)*): String =
    mapper.writeValueAsString(ListMap(
      ("metric" -> metric) +: fields :+ ("cpus" -> spark.sparkContext.defaultParallelism): _*))
}
