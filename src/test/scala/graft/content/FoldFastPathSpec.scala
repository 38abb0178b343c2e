package graft.content

import org.scalatest.funsuite.AnyFunSuite
import graft.dom._
import graft.extract._
import graft.pipeline.FoldCorpus
import graft.urlx.UrlOps
import graft.util.Js

/** Each single-walk or single-copy path of the extraction fold against the
  * generic selector engine or the walk per step it replaced, on every
  * `FoldCorpus` document. The oracles walk with [[WalkOracle]], the iterator
  * the recursive walks replaced. */
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

  private val containerSel = Selector("article, main, [role=\"main\"], .content, #content")

  /** Deep clone, snapshot, then remove every drop-selector match in
    * document order; the container is the first selector match of what is
    * left, else the clone's first `body` child. */
  private def blocksOracle(doc: DomDoc, dropSelectors: Seq[String]): Vector[ContentBlock] = {
    val root = doc.deepClone()
    val dropSel = Selector((BlockParser.DefaultDropSelectors ++ dropSelectors).mkString(", "))
    WalkOracle.descendants(root.html).toVector.foreach { e => if (dropSel.matches(e)) e.remove() }
    val container = WalkOracle.firstIn(containerSel, root.html).getOrElse(root.body)
    BlockParser.blocksIn(container, 2000, includeHtml = true)
  }

  /** Each pre-grab step walks the document afresh for its own elements. */
  private def freshWalks(d: DomDoc): Readability.PrepSource = new Readability.PrepSource {
    def imgs = WalkOracle.tagged(d.html, "img")
    def noscripts = WalkOracle.tagged(d.html, "noscript")
    def scripts = WalkOracle.tagged(d.html, "script", "noscript")
    def styles = WalkOracle.tagged(d.html, "style")
    def bodyBrs = WalkOracle.tagged(d.body, "br")
    def fonts = WalkOracle.tagged(d.html, "font")
  }

  private val videosRe = java.util.regex.Pattern.compile(
    "//(www\\.)?((dailymotion|youtube|youtube-nocookie|player\\.vimeo|v\\.qq)\\.com|(archive|upload\\.wikimedia)\\.org|player\\.twitch\\.tv)",
    java.util.regex.Pattern.CASE_INSENSITIVE)

  /** Readability's `innerText(e).length`: trimmed, inner whitespace runs collapsed. */
  private def innerTextLength(e: Element): Int = Js.collapseWsRuns(Js.trim(e.text())).length

  /** `cleanConditionally`'s reads of a node, one walk per tag as before. */
  private def countsOracle(node: Element): (Int, Int, Int, Int, Int, Boolean, Double, Int, Double) = {
    def count(tag: String) = WalkOracle.tagged(node, tag).length
    var embeds = 0
    var video = false
    WalkOracle.tagged(node, "object", "embed", "iframe").foreach { e =>
      if (videosRe.matcher(e.attrs.values.mkString("|")).find()) video = true else embeds += 1
    }
    var listLength = 0.0
    WalkOracle.tagged(node, "ul", "ol").foreach(l => listLength += innerTextLength(l))
    var headingLength = 0
    WalkOracle.tagged(node, "h1", "h2", "h3", "h4", "h5", "h6").foreach(h => headingLength += innerTextLength(h))
    var linkLength = 0.0
    WalkOracle.tagged(node, "a").foreach { a =>
      val coeff = if (a.attr("href").exists(h => h.length > 1 && h.startsWith("#"))) 0.3 else 1.0
      linkLength += innerTextLength(a) * coeff
    }
    (count("p"), count("img"), count("li"), count("input"), embeds, video, listLength, headingLength, linkLength)
  }

  private def counts(node: Element): (Int, Int, Int, Int, Int, Boolean, Double, Int, Double) = {
    val c = new Readability.SubtreeCounts(node)
    (c.p, c.img, c.li, c.input, c.embeds, c.videoEmbed, c.listLength, c.headingLength, c.linkLength)
  }

  private def sameElements(a: Iterable[Element], b: Iterable[Element]): Boolean =
    a.size == b.size && a.iterator.zip(b.iterator).forall { case (x, y) => x eq y }

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

  test("Readability pre-grab: one walk's lists == a fresh walk per step") {
    docs.foreach { case (d, ctx) =>
      var lists: Readability.PrepLists = null
      val oneWalk = Readability.prepared(ctx.doc, { c => lists = new Readability.PrepLists(c); lists })
      val fresh = Readability.prepared(ctx.doc, freshWalks)
      assert(oneWalk.outerHtml == fresh.outerHtml, d.id)
      // the metadata reads the metas left after the steps
      assert(sameElements(lists.metas, WalkOracle.tagged(oneWalk.html, "meta")), d.id)
    }
  }

  test("Readability pre-grab: a meta, br, font or style inside a noscript goes with it") {
    val (_, ctx) = docs.find(_._1.id == "prep-noscript-holds-style-font-br").get
    var lists: Readability.PrepLists = null
    val d = Readability.prepared(ctx.doc, { c => lists = new Readability.PrepLists(c); lists })
    assert(!d.outerHtml.contains("hidden meta") && !d.outerHtml.contains("color:red"))
    assert(lists.metas.isEmpty && WalkOracle.tagged(d.html, "font").isEmpty)
  }

  private val countsPage = HtmlParser.parse(
    """<body><div class="x"><h2>Title <a href="#top">top</a></h2><ul><li>one <a href="/a">link</a></li>""" +
      """<li><ol><li>nested</li></ol></li></ul><p>para <a href="#">bare hash</a> and <a href="#s">hash</a></p>""" +
      """<iframe src="https://www.youtube.com/embed/x"></iframe><embed src="/e.swf"><object data="/o"></object>""" +
      """<input type="text"><img src="a.png"><h5>  small   heading </h5><form><fieldset><input></fieldset></form>""" +
      """<table><tr><td><ul><li>cell list</li></ul></td></tr></table></div><div><iframe src="/frame"></iframe><p>x</p></div></body>""")

  test("cleanConditionally: one walk's counts == a walk per tag") {
    (docs.map { case (d, ctx) => d.id -> ctx.doc } :+ ("counts-page" -> countsPage)).foreach { case (id, doc) =>
      WalkOracle.tagged(doc.html, "body", "div", "section", "table", "ul", "ol", "form", "fieldset").foreach { node =>
        assert(counts(node) == countsOracle(node), id)
      }
    }
    // the hand-written page reaches every branch
    val div = WalkOracle.tagged(countsPage.html, "div").head
    val c = new Readability.SubtreeCounts(div)
    assert(c.videoEmbed && c.embeds == 2 && c.li == 4 && c.input == 2 && c.img == 1 && c.p == 1)
    assert(c.listLength > 0 && c.headingLength > 0 && c.linkLength > 0)
  }

  test("parseBlocks: the container is the pruned copy's first match") {
    def parentTagsOf(id: String) = BlockParser.parseBlocks(docs.find(_._1.id == id).get._2.doc).map(_.parentTags)
    // .content comes before main in document order
    assert(parentTagsOf("blocks-content-before-main").forall(_.contains("div")))
    // the article inside a hidden div is dropped with it; main is the container
    assert(parentTagsOf("blocks-container-in-dropped-subtree").forall(_.contains("main")))
    // a container inside a dropped body is no candidate: the detached body is
    val doc = HtmlParser.parse("<body hidden><p>outside</p><main><p>kept text</p></main></body>")
    assert(BlockParser.parseBlocks(doc).map(_.text) == Vector("outside", "kept text"))
    assert(BlockParser.parseBlocks(doc) == blocksOracle(doc, Nil).map(_.copy(html = None)))
  }
}
