package graft.sources

import java.io.ByteArrayInputStream
import java.util.zip.GZIPInputStream

import graft.dom.Element
import graft.feed.XmlParser

/** One `<url>` entry of a sitemap urlset (sitemaps.org protocol). Fields
  * beyond `loc` keep the document's raw strings — `lastmod` is W3C
  * datetime, `priority` is parsed only far enough to validate. */
final case class SitemapEntry(
    loc: String,
    lastmod: String,
    changefreq: String,
    priority: Option[Double])

/** Parse result for one sitemap blob.
  *  - `kind`: `urlset` | `index` | `txt` | `empty` | `error`
  *  - `entries`: page URLs (urlset/txt kinds)
  *  - `children`: child sitemap URLs (index kind) — the caller fetches and
  *    recurses; the parser itself never follows links
  *  - `truncated`: a protocol cap fired (entry count or inflate budget) —
  *    surfaced, never silent */
final case class SitemapResult(
    kind: String,
    entries: Vector[SitemapEntry],
    children: Vector[String],
    truncated: Boolean)

/**
 * Sitemap parser (sitemaps.org protocol + the plain-text variant), the
 * crawl-frontier source the WARC/robots legs imply: robots.txt advertises
 * sitemap URLs, sitemap indexes fan out to urlsets, urlsets enumerate the
 * pages a crawl should fetch next. The reference has no sitemap support
 * (its crawl loop is single-URL `scrape()`); at archive scale the frontier
 * is a TABLE, so this parser is a per-row function designed for
 * `mapPartitions` over a `(url, blob)` dataset of fetched sitemap bodies.
 *
 * Design rules shared with the other from-scratch sources (Warc, PdfParser):
 * never throws on data; every cap surfaces as `truncated`; gzip sniffed by
 * magic bytes, not by filename; XML matched by local name so namespace
 * prefixes (`<sm:loc>`) don't hide entries; invalid entries (non-http(s)
 * scheme, loc over the protocol's 2048-char limit) are skipped, not fatal.
 */
object Sitemap {

  /** Protocol cap: 50 000 URLs per sitemap file (sitemaps.org). Entries
    * past the cap set `truncated`. */
  val MaxUrls = 50000

  /** Protocol cap: 50 MB uncompressed per sitemap file — doubles as the
    * gzip-bomb inflate budget. */
  val MaxBytes: Int = 50 * 1024 * 1024

  /** `Sitemap:` directives of a robots.txt — global lines, outside any
    * User-agent group (robots.txt spec), key case-insensitive, value an
    * absolute URL. Order-preserving dedupe. */
  def robotsSitemaps(robotsTxt: String): Vector[String] = {
    if (robotsTxt == null) return Vector.empty
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    robotsTxt.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val colon = line.indexOf(':')
      if (colon > 0 && line.substring(0, colon).trim.equalsIgnoreCase("sitemap")) {
        val v = line.substring(colon + 1).trim
        if (isHttpUrl(v)) seen += v
      }
    }
    seen.toVector
  }

  /** Parse one fetched sitemap body. `maxUrls` is overridable for tests;
    * production callers use the protocol default. */
  def parse(bytes: Array[Byte], maxUrls: Int = MaxUrls): SitemapResult = {
    if (bytes == null || bytes.isEmpty) return SitemapResult("empty", Vector.empty, Vector.empty, truncated = false)
    try {
      val (body, inflateTruncated) = gunzipIfNeeded(bytes)
      val text = stripBom(new String(body, java.nio.charset.StandardCharsets.UTF_8))
      val trimmed = text.dropWhile(c => c == ' ' || c == '\t' || c == '\r' || c == '\n')
      if (trimmed.isEmpty) SitemapResult("empty", Vector.empty, Vector.empty, inflateTruncated)
      else if (trimmed.charAt(0) == '<') parseXml(trimmed, maxUrls, inflateTruncated)
      else parseTxt(trimmed, maxUrls, inflateTruncated)
    } catch {
      case _: Exception => SitemapResult("error", Vector.empty, Vector.empty, truncated = false)
    }
  }

  // ------------------------------------------------------------------ xml

  private def parseXml(xml: String, maxUrls: Int, inflTrunc: Boolean): SitemapResult = {
    val root = XmlParser.parse(xml)
    firstElementByLocal(root, Set("urlset", "sitemapindex")) match {
      case Some(el) if localName(el.tag) == "urlset" =>
        var truncated = inflTrunc
        val out = Vector.newBuilder[SitemapEntry]
        var n = 0
        el.childElements.foreach { u =>
          if (localName(u.tag) == "url") {
            val loc = childTextLocal(u, "loc").trim
            if (isValidLoc(loc)) {
              if (n < maxUrls) {
                out += SitemapEntry(
                  loc,
                  childTextLocal(u, "lastmod").trim,
                  childTextLocal(u, "changefreq").trim,
                  parsePriority(childTextLocal(u, "priority").trim))
                n += 1
              } else truncated = true
            }
          }
        }
        SitemapResult("urlset", out.result(), Vector.empty, truncated)

      case Some(el) => // sitemapindex
        var truncated = inflTrunc
        val out = Vector.newBuilder[String]
        var n = 0
        el.childElements.foreach { s =>
          if (localName(s.tag) == "sitemap") {
            val loc = childTextLocal(s, "loc").trim
            if (isValidLoc(loc)) {
              if (n < maxUrls) { out += loc; n += 1 } else truncated = true
            }
          }
        }
        SitemapResult("index", Vector.empty, out.result(), truncated)

      case None => SitemapResult("error", Vector.empty, Vector.empty, inflTrunc)
    }
  }

  // ------------------------------------------------------------------ txt

  /** Plain-text sitemap: one absolute URL per line; anything else skipped. */
  private def parseTxt(text: String, maxUrls: Int, inflTrunc: Boolean): SitemapResult = {
    var truncated = inflTrunc
    val out = Vector.newBuilder[SitemapEntry]
    var n = 0
    var sawUrl = false
    text.linesIterator.foreach { raw =>
      val line = raw.trim
      if (isValidLoc(line)) {
        sawUrl = true
        if (n < maxUrls) { out += SitemapEntry(line, "", "", None); n += 1 }
        else truncated = true
      }
    }
    if (!sawUrl) SitemapResult("error", Vector.empty, Vector.empty, inflTrunc)
    else SitemapResult("txt", out.result(), Vector.empty, truncated)
  }

  // -------------------------------------------------------------- helpers

  private def isHttpUrl(s: String): Boolean = {
    val l = s.length
    (l > 7 && s.regionMatches(true, 0, "http://", 0, 7)) ||
    (l > 8 && s.regionMatches(true, 0, "https://", 0, 8))
  }

  /** Protocol: loc must be an absolute http(s) URL under 2048 chars. */
  private def isValidLoc(s: String): Boolean = s.length < 2048 && isHttpUrl(s)

  private def parsePriority(s: String): Option[Double] =
    if (s.isEmpty) None
    else try {
      val d = s.toDouble
      if (d >= 0.0 && d <= 1.0) Some(d) else None // spec range; out-of-range = ignore
    } catch { case _: NumberFormatException => None }

  private def localName(tag: String): String = {
    val i = tag.lastIndexOf(':')
    if (i < 0) tag else tag.substring(i + 1)
  }

  private def firstElementByLocal(root: Element, names: Set[String]): Option[Element] =
    Option(root.firstDescendant(e => names.contains(localName(e.tag))))

  private def childTextLocal(el: Element, name: String): String =
    el.childElements.filter(c => localName(c.tag) == name).map(_.text()).mkString

  /** Gzip-sniff + bounded inflate: (body, truncated-by-budget). Non-gzip
    * bytes pass through untouched (already bounded by the fetch layer). */
  private def gunzipIfNeeded(bytes: Array[Byte]): (Array[Byte], Boolean) = {
    if (bytes.length < 2 || bytes(0) != 0x1f.toByte || bytes(1) != 0x8b.toByte)
      return (bytes, false)
    val in = new GZIPInputStream(new ByteArrayInputStream(bytes))
    try {
      val out = new java.io.ByteArrayOutputStream(math.min(bytes.length * 4, 1 << 20))
      val buf = new Array[Byte](64 * 1024)
      var truncated = false
      var done = false
      while (!done) {
        val r = in.read(buf)
        if (r < 0) done = true
        else {
          val room = MaxBytes - out.size()
          if (r >= room) { out.write(buf, 0, room); truncated = true; done = true }
          else out.write(buf, 0, r)
        }
      }
      (out.toByteArray, truncated)
    } finally in.close()
  }

  private def stripBom(s: String): String =
    if (s.nonEmpty && s.charAt(0) == '\uFEFF') s.substring(1) else s
}
