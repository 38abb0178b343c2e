package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every `Diag` subcommand runs end to end at a few dozen docs, prints one
  * JSON line that parses, and counts what it was given. */
class DiagSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def parse(line: String, metric: String): JsonNode = {
    assert(!line.contains("\n"), s"one line: $line")
    val j = new ObjectMapper().readTree(line)
    assert(j.get("metric").asText == metric, line)
    assert(j.get("cpus").asInt == 4, line)
    j
  }

  test("pdf and office: every blob of every corpus extracts ok") {
    val pdf = parse(Diag.pdf(spark, 24), "pdf_extract")
    assert(pdf.get("docs").asInt == 24)
    Seq("doc", "enc").foreach(l => assert(pdf.get(s"${l}_ok").asLong == 24, s"$l in $pdf"))
    val office = parse(Diag.office(spark, 24), "office_extract")
    Seq("docx", "pptx", "xlsx").foreach(l => assert(office.get(s"${l}_ok").asLong == 24, s"$l in $office"))
    assert(office.get("docx_sec").asDouble > 0 && office.get("docx_docs_per_sec").asDouble > 0)
  }

  test("warc: every written page is ingested and extracted") {
    val j = parse(Diag.warc(spark, 30, 2), "warc_ingest")
    assert(j.get("ingest_docs").asLong == 30, j)
    assert(j.get("extract_ok").asLong == 30, j)
    // the census counts every response record, non-200 captures too
    assert(j.get("pruned_records").asLong >= 30, j)
    assert(j.get("corpus_mb").asDouble > 0, j)
  }

  test("ingest: each leg commits its whole batch") {
    val j = parse(Diag.ingest(spark, 40, Seq(10, 20)), "ingest_legs")
    assert(j.get("history").asInt == 40)
    val legs = j.get("legs")
    assert(legs.size == 2, j)
    assert(legs.get(0).get("docs").asLong == 10 && legs.get(1).get("docs").asLong == 20, j)
  }

  test("incdedup: the ledger stages account for every document") {
    val s = spark
    import s.implicits._
    val sf = java.nio.file.Files.createTempDirectory("graft_diag_sf").toString
    (0 until 12).map(i => (i.toLong, s"document $i on topic ${i % 4} with several plain words in it"))
      .toDF("doc_id", "text").write.parquet(s"$sf/documents.parquet")
    val j = parse(Diag.incdedup(spark, sf, copies = 3, batches = 2, padWords = 20), "incdedup_ingest")
    assert(j.get("docs").asLong == 36 && j.get("batch_sec").size == 2, j)
    val stages = j.get("stages")
    var total = 0L
    stages.fieldNames.forEachRemaining(k => total += stages.get(k).asLong)
    assert(total == 36, j)
  }

  test("profile: the recording is written") {
    val out = java.io.File.createTempFile("graft_diag", ".jfr")
    val j = parse(Diag.profile(spark, 20, out), "profile")
    assert(j.get("docs").asInt == 20 && j.get("jfr").asText == out.getAbsolutePath)
    assert(out.length() > 0)
    out.delete()
  }
}
