package graft.extract

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.dom._
import graft.urlx.UrlOps
import graft.util.Js

/** One extracted content link — `src/core/types.ts:21-25`. */
final case class ExtractedLink(url: String, text: String, isExternal: Boolean)

/**
 * Accumulated per-document extraction result (the reference's
 * `Partial<ScrapedData>`). Merge semantics: non-undefined wins, later
 * extractor overwrites (`/root/reference/src/core/context.ts:62-86`).
 */
final case class Partial(
    title: Option[String] = None,
    description: Option[String] = None,
    image: Option[String] = None,
    canonicalUrl: Option[String] = None,
    author: Option[String] = None,
    siteName: Option[String] = None,
    publishedAt: Option[String] = None,
    modifiedAt: Option[String] = None,
    language: Option[String] = None,
    keywords: Option[Seq[String]] = None,
    favicon: Option[String] = None,
    jsonLd: Option[Seq[String]] = None,
    content: Option[String] = None,
    textContent: Option[String] = None,
    excerpt: Option[String] = None,
    wordCount: Option[Int] = None,
    contentType: Option[String] = None,
    links: Option[Seq[ExtractedLink]] = None,
    error: Option[String] = None,
    custom: Map[String, String] = Map.empty
) {
  /** `b.merge(a)` where `this` is the earlier state and `b` the newer partial. */
  def merge(b: Partial): Partial = Partial(
    title = b.title.orElse(title),
    description = b.description.orElse(description),
    image = b.image.orElse(image),
    canonicalUrl = b.canonicalUrl.orElse(canonicalUrl),
    author = b.author.orElse(author),
    siteName = b.siteName.orElse(siteName),
    publishedAt = b.publishedAt.orElse(publishedAt),
    modifiedAt = b.modifiedAt.orElse(modifiedAt),
    language = b.language.orElse(language),
    keywords = b.keywords.orElse(keywords),
    favicon = b.favicon.orElse(favicon),
    jsonLd = b.jsonLd.orElse(jsonLd),
    content = b.content.orElse(content),
    textContent = b.textContent.orElse(textContent),
    excerpt = b.excerpt.orElse(excerpt),
    wordCount = b.wordCount.orElse(wordCount),
    contentType = b.contentType.orElse(contentType),
    links = b.links.orElse(links),
    error = b.error.orElse(error),
    // context.ts:79-83 — custom fields are DEEP-merged (per-key, newer wins),
    // unlike every other field which is whole-value non-undefined-wins
    custom = custom ++ b.custom
  )
}

/** Shared per-document parse state (`src/core/types.ts:166-183`) — lives only
  * inside one fused map call, never crosses rows. */
final case class ExtractionContext(
    url: String,
    finalUrl: String,
    doc: DomDoc,
    extractContent: Boolean = true,
    maxContentLength: Int = 50000
)

trait Extractor {
  def name: String
  def priority: Int
  def extract(ctx: ExtractionContext): Partial
}

/** M1 — `src/extractors/meta.ts:7-86` (priority 100). */
object MetaExtractor extends Extractor {
  val name = "meta"
  val priority = 100

  /** One tree walk collecting every `<meta>` key → first content per
    * attribute tier (name / property / itemprop), plus the first `<title>`,
    * `link[rel="canonical"]`, `[rel="author"]` and `time[datetime]`. The
    * per-field selector version re-walked the tree 3× per meta name × ~12
    * names per document — ~36 scans on the per-row hot path. First element
    * per key wins, matching `firstIn` document order; a first element
    * without content blocks the tier exactly like the selector chain did
    * (absent and empty content are indistinguishable after the reference's
    * own `.filter(_.nonEmpty)`). */
  private final class MetaIndex(doc: DomDoc) {
    private val byName = new java.util.HashMap[String, String]()
    private val byProperty = new java.util.HashMap[String, String]()
    private val byItemprop = new java.util.HashMap[String, String]()
    var title: Element = null
    var canonical: Element = null
    var relAuthor: Element = null
    var timeDatetime: Element = null
    doc.html.foreachDescendant { e =>
      val a = e.attrs
      e.tag match {
        case "meta" =>
          val content = e.attr("content").getOrElse("")
          e.attr("name").foreach(k => byName.putIfAbsent(k, content))
          e.attr("property").foreach(k => byProperty.putIfAbsent(k, content))
          e.attr("itemprop").foreach(k => byItemprop.putIfAbsent(k, content))
        case "title" => if (title == null) title = e
        case "link" => if (canonical == null && "canonical" == a.getOrNull("rel")) canonical = e
        case "time" => if (timeDatetime == null && a.contains("datetime")) timeDatetime = e
        case _ =>
      }
      if (relAuthor == null && "author" == a.getOrNull("rel")) relAuthor = e
    }
    /** meta.ts:15-21 precedence: name > property > itemprop, non-empty wins
      * per tier; final value trimmed and re-checked non-empty. */
    def get(key: String): Option[String] = {
      val v = Option(byName.get(key)).filter(_.nonEmpty)
        .orElse(Option(byProperty.get(key)).filter(_.nonEmpty))
        .orElse(Option(byItemprop.get(key)).filter(_.nonEmpty))
      v.map(Js.trim).filter(_.nonEmpty)
    }
  }

  def extract(ctx: ExtractionContext): Partial = {
    val doc = ctx.doc
    val index = new MetaIndex(doc)
    def meta(n: String) = index.get(n)

    val title = meta("og:title")
      .orElse(meta("twitter:title"))
      .orElse(Some(Js.trim(Option(index.title).map(_.text()).getOrElse(""))).filter(_.nonEmpty))
      .getOrElse("")

    val description = meta("og:description")
      .orElse(meta("twitter:description"))
      .orElse(meta("description"))
      .getOrElse("")

    val image = meta("og:image").orElse(meta("twitter:image")).orElse(meta("twitter:image:src"))

    val canonicalUrl = Option(index.canonical).flatMap(_.attr("href")).filter(_.nonEmpty)
      .orElse(meta("og:url"))
      .getOrElse(ctx.finalUrl)

    val author = meta("author")
      .orElse(meta("article:author"))
      .orElse(meta("twitter:creator"))
      .orElse(Option(index.relAuthor).map(e => Js.trim(e.text())).filter(_.nonEmpty))

    val siteName = meta("og:site_name").orElse(meta("application-name"))

    val publishedAt = meta("article:published_time")
      .orElse(meta("datePublished"))
      .orElse(meta("date"))
      .orElse(Option(index.timeDatetime).flatMap(_.attr("datetime")).filter(_.nonEmpty))

    val modifiedAt = meta("article:modified_time").orElse(meta("dateModified"))

    val language = doc.html.attr("lang").filter(_.nonEmpty)
      .orElse(meta("og:locale"))
      .orElse(meta("language"))

    val keywordsRaw = meta("keywords").orElse(meta("article:tag")).getOrElse("")
    val keywords: Seq[String] =
      if (keywordsRaw.isEmpty) Nil
      else keywordsRaw.split(",", -1).toSeq.map(Js.trim).filter(_.nonEmpty)

    Partial(
      title = Some(title),
      description = Some(description),
      image = image,
      canonicalUrl = Some(canonicalUrl),
      author = author,
      siteName = siteName,
      publishedAt = publishedAt,
      modifiedAt = modifiedAt,
      language = language,
      keywords = Some(keywords)
    )
  }
}

/** M2 — `src/extractors/jsonld.ts:7-159` (priority 80). */
object JsonLdExtractor extends Extractor {
  val name = "jsonld"
  val priority = 80

  private val mapper = new ObjectMapper()
  private val articleTypeRe = java.util.regex.Pattern.compile("Article|BlogPosting|NewsArticle|WebPage", java.util.regex.Pattern.CASE_INSENSITIVE)

  def extract(ctx: ExtractionContext): Partial = {
    val scripts = Selector("""script[type="application/ld+json"]""").findIn(ctx.doc.html)
    val items = Vector.newBuilder[JsonNode]
    scripts.foreach { s =>
      val content = s.text()
      if (content.nonEmpty) {
        try {
          val parsed = mapper.readTree(content)
          if (parsed.isArray) parsed.forEach(n => if (n.isObject) items += n else ())
          else if (parsed.isObject) items += parsed
        } catch { case _: Exception => } // invalid JSON-LD, skip (jsonld.ts:27-29)
      }
    }
    val jsonLd = items.result()
    if (jsonLd.isEmpty) return Partial()

    var title, description, author, publishedAt, modifiedAt, image, siteName: Option[String] = None
    val keywords = scala.collection.mutable.LinkedHashSet.empty[String]

    def getString(item: JsonNode, keys: String*): Option[String] = {
      keys.iterator.flatMap { key =>
        val v = item.get(key)
        if (v == null) None
        else if (v.isTextual) Some(v.asText())
        else if (v.isObject && v.has("@value")) Some(jsToString(v.get("@value")))
        else None
      }.nextOption()
    }

    def jsToString(n: JsonNode): String =
      if (n.isTextual) n.asText()
      else if (n.isNumber) {
        val d = n.asDouble()
        if (d == d.toLong.toDouble && math.abs(d) < 1e15) d.toLong.toString else d.toString
      }
      else if (n.isBoolean) n.asBoolean().toString
      else if (n.isNull) "null"
      else n.toString

    def getAuthor(item: JsonNode): Option[String] = {
      val a = item.get("author")
      if (a == null) None
      else if (a.isTextual) Some(a.asText())
      else if (a.isArray) {
        val names = scala.collection.mutable.ArrayBuffer.empty[String]
        a.forEach { el =>
          val s = if (el.isTextual) Some(el.asText()) else if (el.isObject) getString(el, "name") else None
          s.filter(_.nonEmpty).foreach(names += _)
        }
        if (names.nonEmpty) Some(names.mkString(", ")) else None
      }
      else if (a.isObject) getString(a, "name").filter(_.nonEmpty)
      else None
    }

    def getImage(node: JsonNode): Option[String] =
      if (node == null) None
      else if (node.isTextual) Some(node.asText())
      else if (node.isArray && node.size() > 0) getImage(node.get(0))
      else if (node.isObject) {
        val v = Option(node.get("url")).filter(_.isTextual).map(_.asText())
          .orElse(Option(node.get("contentUrl")).filter(_.isTextual).map(_.asText()))
        v.filter(_.nonEmpty)
      }
      else None

    jsonLd.foreach { item =>
      val typeNode = item.get("@type")
      val tpe: Option[String] =
        if (typeNode == null) None
        else if (typeNode.isTextual) Some(typeNode.asText())
        else if (typeNode.isArray && typeNode.size() > 0 && typeNode.get(0).isTextual) Some(typeNode.get(0).asText())
        else None

      if (tpe.exists(t => articleTypeRe.matcher(t).find())) {
        if (title.isEmpty) title = getString(item, "headline", "name")
        if (description.isEmpty) description = getString(item, "description")
        if (author.isEmpty) author = getAuthor(item)
        if (publishedAt.isEmpty) publishedAt = getString(item, "datePublished")
        if (modifiedAt.isEmpty) modifiedAt = getString(item, "dateModified")
        if (image.isEmpty) image = getImage(item.get("image"))
      }
      if (tpe.contains("Organization")) {
        if (siteName.isEmpty) siteName = getString(item, "name")
      }
      if (tpe.contains("Product")) {
        if (title.isEmpty) title = getString(item, "name")
        if (description.isEmpty) description = getString(item, "description")
        if (image.isEmpty) image = getImage(item.get("image"))
      }
      if (tpe.contains("SoftwareApplication")) {
        if (title.isEmpty) title = getString(item, "name")
        if (description.isEmpty) description = getString(item, "description")
      }
      val kw = item.get("keywords")
      if (kw != null) {
        if (kw.isTextual) kw.asText().split(",", -1).map(Js.trim).filter(_.nonEmpty).foreach(keywords += _)
        else if (kw.isArray) kw.forEach(k => if (k.isTextual) { keywords += k.asText(); () })
      }
    }

    Partial(
      title = title, description = description, author = author,
      publishedAt = publishedAt, modifiedAt = modifiedAt, image = image,
      siteName = siteName,
      keywords = if (keywords.nonEmpty) Some(keywords.toVector) else None,
      jsonLd = Some(jsonLd.map(_.toString))
    )
  }
}

/** M3 — `src/extractors/favicon.ts:8-48` (priority 70). Replicates the
  * reference's swapped-argument `resolveUrl(finalUrl, href)` call verbatim
  * (favicon.ts:33): with WHATWG semantics that returns the canonicalized
  * finalUrl for an absolute href and the raw finalUrl otherwise. */
object FaviconExtractor extends Extractor {
  val name = "favicon"
  val priority = 70

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

  def extract(ctx: ExtractionContext): Partial = {
    // every selector is `link`-qualified, so the first document-order match
    // in the `<link>` elements is its `firstIn` match: one walk, not ten
    val links = ctx.doc.html.descendantsWhere(_.tag == "link")
    faviconSelectors.foreach { sel =>
      val href = links.find(sel.matches).flatMap(_.attr("href")).filter(_.nonEmpty)
      href match {
        case Some(h) => return Partial(favicon = UrlOps.resolveUrl(ctx.finalUrl, h))
        case None =>
      }
    }
    graft.urlx.WUrl.parse(ctx.finalUrl) match {
      case Some(u) => Partial(favicon = Some(s"${u.protocol}//${u.hostPort}/favicon.ico"))
      case None    => Partial()
    }
  }
}

/** M4 — `src/extractors/links.ts:8-72` (priority 30). */
object LinksExtractor extends Extractor {
  val name = "links"
  val priority = 30

  private val containerSel = Selector("""article, main, [role="main"]""")
  private val skipSel = Selector(
    """nav, header, footer, aside, [role="navigation"], [class*="nav"], [class*="footer"], [class*="header"], [class*="sidebar"], [class*="menu"]""")
  private val aHref = Selector("a[href]")

  def extract(ctx: ExtractionContext): Partial = {
    val doc = ctx.doc
    val container = containerSel.firstIn(doc.html).getOrElse(doc.body)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    val links = scala.collection.mutable.ArrayBuffer.empty[ExtractedLink]
    lazy val baseDomain = UrlOps.extractDomain(ctx.finalUrl)

    aHref.findIn(container).foreach { el =>
      if (skipSel.closest(el).isEmpty) {
        el.attr("href").filter(_.nonEmpty) match {
          case Some(href)
            if !href.startsWith("#") && !href.startsWith("javascript:") &&
               !href.startsWith("mailto:") && !href.startsWith("tel:") =>
            UrlOps.resolveUrl(href, ctx.finalUrl) match {
              case Some(resolved) if UrlOps.isValidUrl(resolved) && !seen.contains(resolved) =>
                seen += resolved
                val text = Some(Js.trim(el.text())).filter(_.nonEmpty)
                  .orElse(el.attr("title").filter(_.nonEmpty))
                  .orElse(el.attr("aria-label").filter(_.nonEmpty))
                  .getOrElse("")
                if (text.length >= 2)
                  links += ExtractedLink(resolved, text.take(200), UrlOps.isExternalUrl(resolved, baseDomain))
              case _ =>
            }
          case _ =>
        }
      }
    }
    Partial(links = Some(links.take(100).toVector))
  }
}

/** M5 — `src/extractors/content.ts:108-165` — URL + DOM content-type heuristics. */
object ContentTypeDetect {
  private val githubRepoRe = java.util.regex.Pattern.compile("github\\.com/[^/]+/[^/]+/?$")

  /** The DOM signals, gathered in one walk over the elements below the root
    * (the `firstIn` scope of the selector version):
    *  - `price`: `[class*="price"], [data-price], [itemprop="price"]`
    *  - `cart`: `[class*="cart"], [class*="buy"], button:contains("Add")`
    *  - `ogType`: `content` of the first `meta[property="og:type"]`
    *  - `article`: any `article`
    *  - `dateline`: `time[datetime], [class*="date"], [class*="byline"]`
    * The walk stops once it has a price or cart signal and the og:type meta:
    * a product signal decides the answer unless the github check, which
    * reads only `ogType`, returns first. */
  private final class Signals(root: Element) {
    var price, cart, article, dateline = false
    private var ogMeta: Element = null
    root.firstDescendant { e =>
      val a = e.attrs
      val cls = a.getOrNull("class")
      if (cls != null) {
        if (cls.contains("price")) price = true
        if (cls.contains("cart") || cls.contains("buy")) cart = true
        if (cls.contains("date") || cls.contains("byline")) dateline = true
      }
      if (a.contains("data-price") || "price" == a.getOrNull("itemprop")) price = true
      e.tag match {
        case "button" => if (!cart && e.text().contains("Add")) cart = true
        case "article" => article = true
        case "time" => if (a.contains("datetime")) dateline = true
        case "meta" => if (ogMeta == null && "og:type" == a.getOrNull("property")) ogMeta = e
        case _ =>
      }
      (price || cart) && ogMeta != null
    }
    def ogType: Option[String] = Option(ogMeta).flatMap(_.attr("content"))
  }

  def detect(ctx: ExtractionContext): String = {
    val url = ctx.finalUrl.toLowerCase(java.util.Locale.ROOT)
    lazy val dom = new Signals(ctx.doc.html)

    if (url.contains("github.com") && !url.contains("/blob/") && !url.contains("/issues/")) {
      if (dom.ogType.contains("object") || githubRepoRe.matcher(url).find()) return "repo"
    }
    if (url.contains("npmjs.com/package/")) return "package"
    if (url.contains("pypi.org/project/")) return "package"
    if (url.contains("/docs/") || url.contains(".readthedocs.") || url.contains("/documentation/")) return "docs"
    if (url.contains("youtube.com") || url.contains("vimeo.com") || url.contains("youtu.be")) return "video"

    if (dom.price || dom.cart) return "product"

    val ogType = dom.ogType.map(_.toLowerCase(java.util.Locale.ROOT))
    if (ogType.exists(t => t == "article" || t == "blog" || t == "news")) return "article"

    if (dom.article && dom.dateline) return "article"

    "unknown"
  }
}
