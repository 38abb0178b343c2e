package graft.content

import org.scalatest.funsuite.AnyFunSuite
import graft.dom._
import graft.extract._
import graft.pipeline.FoldCorpus
import graft.urlx.UrlOps

/** Each single-walk or single-copy path of the extraction fold against the
  * generic selector engine it replaced, on every `FoldCorpus` document. */
class FoldFastPathSpec extends AnyFunSuite {

  private lazy val docs: Seq[(FoldCorpus.Doc, ExtractionContext)] =
    FoldCorpus.all.map { d =>
      val url = UrlOps.normalizeUrl(d.url)
      d -> ExtractionContext(url, url, HtmlParser.parse(d.html))
    }

  // ---- oracles: the selector versions ----

  private val faviconSelectors = Vector(
    """link[rel="icon"][type="image/svg+xml"]""",
    """link[rel="icon"][sizes="192x192"]""",
    """link[rel="icon"][sizes="180x180"]""",
    """link[rel="icon"][sizes="128x128"]""",
    """link[rel="icon"][sizes="96x96"]""",
    """link[rel="apple-touch-icon"][sizes="180x180"]""",
    """link[rel="apple-touch-icon"]""",
    """link[rel="icon"][sizes="32x32"]""",
    """link[rel="icon"]""",
    """link[rel="shortcut icon"]"""
  ).map(Selector(_))

  private def faviconOracle(ctx: ExtractionContext): Partial = {
    faviconSelectors.foreach { sel =>
      sel.firstIn(ctx.doc.html).flatMap(_.attr("href")).filter(_.nonEmpty) match {
        case Some(h) => return Partial(favicon = UrlOps.resolveUrl(ctx.finalUrl, h))
        case None =>
      }
    }
    graft.urlx.WUrl.parse(ctx.finalUrl) match {
      case Some(u) => Partial(favicon = Some(s"${u.protocol}//${u.hostPort}/favicon.ico"))
      case None    => Partial()
    }
  }

  private val githubRepoRe = java.util.regex.Pattern.compile("github\\.com/[^/]+/[^/]+/?$")
  private val ogTypeSel = Selector("""meta[property="og:type"]""")
  private val priceSel = Selector("""[class*="price"], [data-price], [itemprop="price"]""")
  private val cartSel = Selector("""[class*="cart"], [class*="buy"], button:contains("Add")""")
  private val articleSel = Selector("article")
  private val datelineSel = Selector("""time[datetime], [class*="date"], [class*="byline"]""")

  private def contentTypeOracle(ctx: ExtractionContext): String = {
    val doc = ctx.doc
    val url = ctx.finalUrl.toLowerCase(java.util.Locale.ROOT)
    if (url.contains("github.com") && !url.contains("/blob/") && !url.contains("/issues/")) {
      val repoMeta = ogTypeSel.firstIn(doc.html).flatMap(_.attr("content"))
      if (repoMeta.contains("object") || githubRepoRe.matcher(url).find()) return "repo"
    }
    if (url.contains("npmjs.com/package/")) return "package"
    if (url.contains("pypi.org/project/")) return "package"
    if (url.contains("/docs/") || url.contains(".readthedocs.") || url.contains("/documentation/")) return "docs"
    if (url.contains("youtube.com") || url.contains("vimeo.com") || url.contains("youtu.be")) return "video"
    if (priceSel.firstIn(doc.html).isDefined || cartSel.firstIn(doc.html).isDefined) return "product"
    val ogType = ogTypeSel.firstIn(doc.html).flatMap(_.attr("content")).map(_.toLowerCase(java.util.Locale.ROOT))
    if (ogType.exists(t => t == "article" || t == "blog" || t == "news")) return "article"
    if (articleSel.firstIn(doc.html).isDefined && datelineSel.firstIn(doc.html).isDefined) return "article"
    "unknown"
  }

  /** Deep clone, snapshot, then remove every drop-selector match in
    * document order; the body is the clone's first `body` child. */
  private def blocksOracle(doc: DomDoc, dropSelectors: Seq[String]): Vector[ContentBlock] = {
    val root = doc.deepClone()
    val dropSel = Selector((BlockParser.DefaultDropSelectors ++ dropSelectors).mkString(", "))
    root.html.descendants.toVector.foreach { e => if (dropSel.matches(e)) e.remove() }
    BlockParser.blocksIn(root.html, root.body, 2000, includeHtml = true)
  }

  // ---- the fast paths against them ----

  test("favicon: one <link> walk == the ten-selector firstIn cascade") {
    docs.foreach { case (d, ctx) =>
      assert(FaviconExtractor.extract(ctx) == faviconOracle(ctx), d.id)
    }
  }

  test("ContentTypeDetect: one walk == the five-selector version") {
    docs.foreach { case (d, ctx) =>
      assert(ContentTypeDetect.detect(ctx) == contentTypeOracle(ctx), d.id)
    }
    // the url-routed pages do not reach the walk; run every adversarial page
    // through the DOM signals under a neutral url as well
    FoldCorpus.adversarial.foreach { d =>
      val ctx = ExtractionContext("https://neutral.example.org/p", "https://neutral.example.org/p",
        HtmlParser.parse(d.html))
      assert(ContentTypeDetect.detect(ctx) == contentTypeOracle(ctx), d.id)
    }
  }

  test("ContentTypeDetect: github og:type after an early product signal") {
    val html = """<html><head><link class="cart"><meta property="og:type" content="object"></head><body><p>x</p></body></html>"""
    val url = "https://github.com/acme/widget/tree/main"
    val ctx = ExtractionContext(url, url, HtmlParser.parse(html))
    assert(ContentTypeDetect.detect(ctx) == "repo")
    assert(contentTypeOracle(ctx) == "repo")
  }

  test("parseBlocks: pruned copy == clone-then-remove, default drop set") {
    docs.foreach { case (d, ctx) =>
      assert(BlockParser.parseBlocks(ctx.doc, includeHtml = true) == blocksOracle(ctx.doc, Nil), d.id)
    }
  }

  test("parseBlocks: pruned copy == clone-then-remove, dropSelectors = .ad") {
    docs.foreach { case (d, ctx) =>
      assert(BlockParser.parseBlocks(ctx.doc, Seq(".ad"), includeHtml = true) ==
        blocksOracle(ctx.doc, Seq(".ad")), d.id)
    }
  }

  test("parseBlocks: a hidden <body> stays the fallback container, pruned and detached") {
    val doc = HtmlParser.parse("<body hidden><div><p>kept text</p><p hidden>dropped</p></div></body>")
    val blocks = BlockParser.parseBlocks(doc)
    assert(blocks.map(_.text) == Vector("kept text"))
    // the detached body is the root of the ancestry: no `html` above it
    assert(blocks.head.parentTags == List("body", "div"))
    assert(blocks == blocksOracle(doc, Nil).map(_.copy(html = None)))
  }

  test("parseBlocks leaves the input document untouched") {
    val (_, ctx) = docs.find(_._1.id == "blocks-drop-and-container").get
    val before = ctx.doc.outerHtml
    BlockParser.parseBlocks(ctx.doc, Seq(".ad"))
    assert(ctx.doc.outerHtml == before)
  }
}
