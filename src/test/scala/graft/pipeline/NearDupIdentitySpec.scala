package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.io.Source

/** Row digests of the near-dup query family. The oracles hash doubles at
  * `%.6g`, so a refactor of the minhash → band → candidate → verify chain
  * could drift in the last bits of `est_jaccard` or `jaccard` and still
  * MATCH. `near_dup_identity.tsv` pins each query's schema, row count and
  * the SHA-256 of its ordered rows with every double written as its raw IEEE
  * bits, so a change meant to keep the output must leave it bit-identical. */
object NearDupIdentity {

  val queries: Seq[String] = Seq("dedup_minhash_pages", "dedup_jaccard_pages",
    "dedup_survivors_pages", "dedup_survivors_fixture")

  /** The pages queries generate their corpus at the scale the directory name
    * encodes (`PagesGen.pagesFor`) and read no table from it; the fixture
    * query ignores it. */
  val sfDir = "sf0.001"

  private def cell(v: Any): String = v match {
    case null => "\\N"
    case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case x => x.toString
  }

  /** `(rows, sha256)` of `df` in its own order, schema first. */
  def digest(df: DataFrame): (Long, String) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update((df.schema.simpleString + "\n").getBytes("UTF-8"))
    val rows = df.collect()
    rows.foreach(r => md.update((r.toSeq.map(cell).mkString("\t") + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }
}

class NearDupIdentitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("graft-near-dup-identity")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private lazy val pinned: Map[String, (Long, String)] = {
    val in = getClass.getResourceAsStream("/near_dup_identity.tsv")
    try Source.fromInputStream(in, "UTF-8").getLines().map { l =>
      val Array(q, n, h) = l.split("\t", -1)
      q -> (n.toLong, h)
    }.toMap
    finally in.close()
  }

  test("fixture pins every near-dup query") {
    assert(pinned.keySet == NearDupIdentity.queries.toSet)
  }

  for (q <- NearDupIdentity.queries)
    test(s"$q rows match their pinned digest") {
      val got = NearDupIdentity.digest(graft.SparkEntry.queries(q)(spark, NearDupIdentity.sfDir))
      assert(got == pinned(q), s"$q drifted: (rows, sha256) $got, pinned ${pinned(q)}")
    }
}
