package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order-insensitive content digest of a relation: row count plus the exact
  * (decimal) sum of one 64-bit hash per row. Two relations with the same
  * multiset of rows give the same digest on any partitioning. */
final case class Digest(rows: Long, sum: java.math.BigDecimal) {
  override def toString: String = s"$rows/$sum"
}

object Util {

  /** The columns every extraction check compares, in hash order. */
  val ExtractedCols: Seq[String] = Seq("url", "text_content", "content", "normalized_text", "norm_hash")

  def digest(df: DataFrame, cols: Seq[String]): Digest = {
    val h: Column = xxhash64(cols.map(c => coalesce(col(c).cast("string"), lit("\u0000null"))): _*)
    val r = df.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
      .first()
    Digest(r.getLong(0), r.getDecimal(1))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Runs `f` over `items` on a fixed pool of `threads`, keeping input order. */
  def parMap[A, B](items: IndexedSeq[A], threads: Int)(f: A => B): IndexedSeq[B] = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val chunk = math.max(1, items.length / (threads * 4))
      val futs = items.grouped(chunk).map { part =>
        pool.submit(new Callable[IndexedSeq[B]] { def call(): IndexedSeq[B] = part.map(f) })
      }.toVector
      futs.flatMap(_.get())
    } finally pool.shutdown()
  }

  def deleteTree(dir: String): Unit = {
    val root = new File(dir)
    if (root.exists()) {
      Files.walk(root.toPath).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = new File(from).toPath
    val dst = new File(to).toPath
    Files.walk(src).forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Bytes of the regular files under `dir`, Spark's `.crc` side files excluded. */
  def treeBytes(dir: String): Long = {
    val root = new File(dir)
    if (!root.exists()) 0L
    else {
      var n = 0L
      Files.walk(root.toPath).forEach { p =>
        if (Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc")) n += Files.size(p)
      }
      n
    }
  }

  /** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
