package graft.extract

import java.util.regex.Pattern
import scala.collection.mutable
import graft.dom._
import graft.util.Js

/** Result of a Readability parse — mirrors `@mozilla/readability`'s
  * `parse()` return used by `/root/reference/src/extractors/content.ts:34-41`. */
final case class Article(
    title: String,
    byline: Option[String],
    contentDom: Element,   // the cleaned article container (for the markdown emitter)
    textContent: String,
    excerpt: Option[String],
    siteName: Option[String],
    publishedTime: Option[String],
    length: Int
) {
  /** Serialized cleaned-article HTML (`contentDom.innerHtml`), built on first
    * read: the extraction fold only asks whether it is empty ([[hasContent]]). */
  lazy val content: String = contentDom.innerHtml

  /** `content.nonEmpty` without serializing: every element and comment
    * child serializes to at least its tag, a text child to nothing only when
    * its data is empty. */
  def hasContent: Boolean = contentDom.children.exists {
    case t: TextNode => t.data.nonEmpty
    case _           => true
  }
}

/**
 * From-scratch Scala implementation of the Mozilla Readability algorithm
 * (the published boilerplate-removal heuristic the reference depends on via
 * the `@mozilla/readability` 0.6.0 npm package — `package.json:72`): score
 * block candidates by text length / comma count / class-id weight, propagate
 * to ancestors, pick the top candidate, absorb qualifying siblings, prune
 * low-text-density and high-link-density nodes.
 *
 * This is the north star's "node classifier (text-density and link-density
 * heuristics)". Runs per row inside the fused extraction map; all Patterns
 * are compiled once per JVM.
 */
object Readability {

  // ---- flags / constants ----
  private val FlagStripUnlikelys = 0x1
  private val FlagWeightClasses = 0x2
  private val FlagCleanConditionally = 0x4

  private val NTopCandidates = 5
  private val CharThreshold = 500
  private val ClassesToPreserve = Set("page")

  private def ci(p: String) = Pattern.compile(p, Pattern.CASE_INSENSITIVE)

  // retained as test oracles for the LiteralAlt fast paths (ReadabilityFastPathSpec)
  private[extract] val unlikelyCandidatesRe = ci(
    "-ad-|ai2html|banner|breadcrumbs|combx|comment|community|cover-wrap|disqus|extra|footer|gdpr|header|legends|menu|related|remark|replies|rss|shoutbox|sidebar|skyscraper|social|sponsor|supplemental|ad-break|agegate|pagination|pager|popup|yom-remote")
  private[extract] val okMaybeItsACandidateRe = ci("and|article|body|column|content|main|mathjax|shadow")
  private[extract] val positiveRe = ci("article|body|content|entry|hentry|h-entry|main|page|pagination|post|text|blog|story")
  private[extract] val negativeRe = ci(
    "-ad-|hidden|^hid$| hid$| hid |^hid |banner|combx|comment|com-|contact|footer|gdpr|masthead|media|meta|outbrain|promo|related|scroll|share|shoutbox|sidebar|skyscraper|sponsor|shopping|tags|widget")
  private[extract] val bylineRe = ci("byline|author|dateline|writtenby|p-author")
  private val videosRe = ci("//(www\\.)?((dailymotion|youtube|youtube-nocookie|player\\.vimeo|v\\.qq)\\.com|(archive|upload\\.wikimedia)\\.org|player\\.twitch\\.tv)")
  // lazy-image / noscript-image regexes (readability.js REGEXPS)
  private val b64DataUrlRe = ci("^data:\\s*([^\\s;,]+)\\s*;\\s*base64\\s*,")
  private val base64MarkerRe = ci("base64\\s*")
  private val imgExtRe = ci("\\.(jpg|jpeg|png|webp)")
  private val srcsetLikeRe = Pattern.compile("\\.(jpg|jpeg|png|webp)\\s+\\d")
  private val srcLikeRe = Pattern.compile("^\\s*\\S+\\.(jpg|jpeg|png|webp)\\S*\\s*$")
  private val shareElementsRe = ci("(\\b|_)(share|sharedaddy)(\\b|_)")
  private[extract] val commasRe = Pattern.compile("\\u002C|\\u060C|\\uFE50|\\uFE10|\\uFE11|\\u2E41|\\u2E34|\\u2E32|\\uFF0C")
  private val normalizeRe = Pattern.compile("[" + Js.wsClass + "]{2,}")
  private val titleSepTestRe = Pattern.compile(" [\\|\\-\\\\/>»] ")
  private val titleHierSepTestRe = Pattern.compile(" [\\\\/>»] ")
  private val sentenceDotRe = Pattern.compile("\\.( |$)")
  // per-document helpers hoisted out of the row loop (JFR: Pattern.compile in hot path)
  private val titleSepReplaceRe = Pattern.compile("(?i)(.*)[\\|\\-\\\\/>»] .*")
  private val titleSepTailRe = Pattern.compile("(?i)[^\\|\\-\\\\/>»]*[\\|\\-\\\\/>»](.*)")
  private val titleSepStripRe = Pattern.compile("[\\|\\-\\\\/>»]+")
  private val cdataWrapRe = Pattern.compile("^\\s*<!\\[CDATA\\[|\\]\\]>\\s*$")
  private val schemaOrgRe = Pattern.compile("^https?://schema\\.org/?$")
  private val javaWsRe = Pattern.compile("\\s")
  private val basicEntRe = Pattern.compile("&(quot|amp|apos|lt|gt);")
  private val numEntRe = Pattern.compile("&#(?:x([0-9a-f]+)|([0-9]+));", Pattern.CASE_INSENSITIVE)
  private val jsonLdArticleTypesRe = Pattern.compile(
    "^(Article|AdvertiserContentArticle|NewsArticle|AnalysisNewsArticle|AskPublicNewsArticle|BackgroundNewsArticle|OpinionNewsArticle|ReportageNewsArticle|ReviewNewsArticle|Report|SatiricalArticle|ScholarlyArticle|MedicalScholarlyArticle|SocialMediaPosting|BlogPosting|LiveBlogPosting|DiscussionForumPosting|TechArticle|APIReference)$")
  private val jsonLdMapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private[extract] val nonWordRe = Pattern.compile("\\W+")
  private val metaPropertyRe = Pattern.compile(
    "\\s*(article|dc|dcterm|og|twitter)\\s*:\\s*(author|creator|pub_date|description|title|site_name)\\s*", Pattern.CASE_INSENSITIVE)
  private val metaNameRe = Pattern.compile(
    "^\\s*(?:(dc|dcterm|og|twitter|parsely|weibo:(article|webpage))\\s*[-\\.:]\\s*)?(author|creator|pub-date|description|title|site_name)\\s*$", Pattern.CASE_INSENSITIVE)

  // ---- literal-alternation fast paths ----
  // Java CASE_INSENSITIVE (without UNICODE_CASE) folds ASCII only, so for a
  // pattern that is an alternation of plain literals, `matcher(s).find()` ==
  // "asciiLower(s) contains any asciiLower(literal)". The class/id heuristic
  // regexes run on (almost) every element — the profile showed ~27% of
  // executor time in Pattern.Branch/GroupHead/SliceI matching them.

  private[extract] def asciiLower(s: String): String = {
    var i = 0
    val n = s.length
    while (i < n && !(s.charAt(i) >= 'A' && s.charAt(i) <= 'Z')) i += 1
    if (i == n) return s
    val a = s.toCharArray
    while (i < n) { val c = a(i); if (c >= 'A' && c <= 'Z') a(i) = (c + 32).toChar; i += 1 }
    new String(a)
  }

  private[extract] final class LiteralAlt(lits: String*) {
    private val arr = lits.toArray
    /** `find()` over an already-ascii-lowered string. */
    def findIn(sLower: String): Boolean = {
      var i = 0
      while (i < arr.length) { if (sLower.contains(arr(i))) return true; i += 1 }
      false
    }
  }

  private[extract] val unlikelyAlt = new LiteralAlt(
    "-ad-", "ai2html", "banner", "breadcrumbs", "combx", "comment", "community",
    "cover-wrap", "disqus", "extra", "footer", "gdpr", "header", "legends",
    "menu", "related", "remark", "replies", "rss", "shoutbox", "sidebar",
    "skyscraper", "social", "sponsor", "supplemental", "ad-break", "agegate",
    "pagination", "pager", "popup", "yom-remote")
  private[extract] val okMaybeAlt = new LiteralAlt(
    "and", "article", "body", "column", "content", "main", "mathjax", "shadow")
  private[extract] val positiveAlt = new LiteralAlt(
    "article", "body", "content", "entry", "hentry", "h-entry", "main", "page",
    "pagination", "post", "text", "blog", "story")
  private val negativeLitAlt = new LiteralAlt(
    "-ad-", "hidden", "banner", "combx", "comment", "com-", "contact", "footer",
    "gdpr", "masthead", "media", "meta", "outbrain", "promo", "related",
    "scroll", "share", "shoutbox", "sidebar", "skyscraper", "sponsor",
    "shopping", "tags", "widget")
  /** negativeRe incl. its `^hid$ | hid$ | hid | ^hid ` word-ish branches. */
  private[extract] def negativeFind(sLower: String): Boolean =
    negativeLitAlt.findIn(sLower) ||
      sLower == "hid" || sLower.startsWith("hid ") ||
      sLower.endsWith(" hid") || sLower.contains(" hid ")
  private[extract] val bylineAlt = new LiteralAlt(
    "byline", "author", "dateline", "writtenby", "p-author")

  private[extract] def isCommaChar(ch: Char): Boolean =
    ch == '\u002c' || ch == '\u060c' || ch == '\ufe50' || ch == '\ufe10' ||
      ch == '\ufe11' || ch == '\u2e41' || ch == '\u2e34' || ch == '\u2e32' ||
      ch == '\uff0c'

  /** Count of comma-class chars + 1 == `commasRe.split(s, -1).length`. */
  private[extract] def commaCount(s: String): Int = {
    var c = 1
    var i = 0
    while (i < s.length) {
      if (isCommaChar(s.charAt(i))) c += 1
      i += 1
    }
    c
  }
  private val unlikelyRoles = Set("menu", "menubar", "complementary", "navigation", "alert", "alertdialog", "dialog")

  private val tagsToScore = Set("section", "h2", "h3", "h4", "h5", "h6", "p", "td", "pre")
  private val divToPElems = Set("blockquote", "dl", "div", "img", "ol", "p", "pre", "table", "ul")
  private val alterToDivExceptions = Set("div", "article", "section", "p", "ol", "ul")
  private val phrasingElems = Set(
    "abbr", "audio", "b", "bdo", "br", "button", "cite", "code", "data", "datalist",
    "dfn", "em", "embed", "i", "img", "input", "kbd", "label", "mark", "math",
    "meter", "noscript", "object", "output", "progress", "q", "ruby", "samp",
    "script", "select", "small", "span", "strong", "sub", "sup", "textarea", "time", "var", "wbr")
  private val presentationalAttributes = Seq("align", "background", "bgcolor", "border", "cellpadding", "cellspacing", "frame", "hspace", "rules", "style", "valign", "vspace")
  private val deprecatedSizeAttributeElems = Set("table", "th", "td", "hr", "pre")
  private val mediaInParaTags = Set("img", "embed", "object", "iframe")

  /** `innerText(e).length` without materializing the string: an inner
    * JS-ws run of any length contributes exactly 1; edge runs contribute 0. */
  private def innerTextLength(e: Element): Int = {
    var len = 0
    var wsLen = 0
    def walk(el: Element): Unit = {
      val ch = el.children
      var i = 0
      while (i < ch.length) {
        ch(i) match {
          case t: TextNode =>
            val d = t.data
            var j = 0
            while (j < d.length) {
              if (Js.isJsWs(d.charAt(j))) wsLen += 1
              else { if (wsLen > 0 && len > 0) len += 1; wsLen = 0; len += 1 }
              j += 1
            }
          case e2: Element => walk(e2)
          case _ =>
        }
        i += 1
      }
    }
    walk(e)
    len
  }

  /** An `<a>`'s weighted text length in the link density. hashUrl =
    * /^#.+/ (readability.js): a bare href="#" does NOT qualify for the 0.3
    * coefficient — at least one char after '#'. */
  private def linkTextLength(a: Element): Double = {
    val coeff =
      if (a.attr("href").exists(h => h.length > 1 && h.startsWith("#"))) 0.3 else 1.0
    innerTextLength(a) * coeff
  }

  /** `anc` is a proper ancestor of `e`: with `anc` a document root, `e` is
    * still attached to that document. */
  private def isUnder(e: Element, anc: Element): Boolean = {
    var p = e.parent
    while (p != null) {
      if (p eq anc) return true
      p = p.parent
    }
    false
  }

  /** What [[cleanConditionally]] reads of a node's subtree, from one walk:
    * the p/img/li/input counts, the object/embed/iframe count (`embeds`,
    * video embeds apart), and the text lengths of its lists, headings and
    * links. A list inside a list counts with both, as a walk per tag did. */
  private[graft] final class SubtreeCounts(node: Element) {
    var p, img, li, input, embeds = 0
    var videoEmbed = false
    var listLength = 0.0
    var headingLength = 0
    var linkLength = 0.0
    node.foreachDescendant { e =>
      e.tag match {
        case "p" => p += 1
        case "img" => img += 1
        case "li" => li += 1
        case "input" => input += 1
        case "object" | "embed" | "iframe" =>
          if (videosRe.matcher(e.attrs.values.mkString("|")).find()) videoEmbed = true
          else embeds += 1
        case "ul" | "ol" => listLength += innerTextLength(e)
        case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" => headingLength += innerTextLength(e)
        case "a" => linkLength += linkTextLength(e)
        case _ =>
      }
    }
  }

  /** Where the pre-grab steps take their elements from, in document order;
    * each list is read when its step starts. */
  private[graft] trait PrepSource {
    def imgs: Iterable[Element]
    def noscripts: Iterable[Element]
    /** `<script>`s and `<noscript>`s: the script removal takes both. */
    def scripts: Iterable[Element]
    def styles: Iterable[Element]
    /** The `<br>`s below the body. */
    def bodyBrs: Iterable[Element]
    def fonts: Iterable[Element]
  }

  /** The pre-grab elements of a copy from ONE walk of it; a read skips the
    * elements an earlier step detached. That equals a fresh walk per step,
    * in the same order: no step creates an element of a later step's tags,
    * and the one move before the font step, the noscript unwrap, puts a
    * single-image chain (no script, style or br) in the place of the
    * noscript's previous element sibling, past no other element. The
    * `<meta>`s, read after the steps, come from the same walk. */
  private[graft] final class PrepLists(d: DomDoc) extends PrepSource {
    private val imgs0, noscripts0, scripts0, styles0, brs0, fonts0, metas0 =
      new mutable.ArrayBuffer[Element]
    d.html.foreachDescendant { e =>
      e.tag match {
        case "img" => imgs0 += e
        case "noscript" => noscripts0 += e; scripts0 += e
        case "script" => scripts0 += e
        case "style" => styles0 += e
        case "br" => brs0 += e
        case "font" => fonts0 += e
        case "meta" => metas0 += e
        case _ =>
      }
    }
    private def attached(l: mutable.ArrayBuffer[Element]) = l.filter(isUnder(_, d.html))
    def imgs: Iterable[Element] = attached(imgs0)
    def noscripts: Iterable[Element] = attached(noscripts0)
    def scripts: Iterable[Element] = attached(scripts0)
    def styles: Iterable[Element] = attached(styles0)
    def bodyBrs: Iterable[Element] = brs0.filter(isUnder(_, d.body))
    def fonts: Iterable[Element] = attached(fonts0)
    def metas: Iterable[Element] = attached(metas0)
  }

  /** A copy of `doc` after the pre-grab steps, each step taking its elements
    * from `source` (the seam that checks [[PrepLists]] against a fresh walk
    * per step). */
  private[graft] def prepared(doc: DomDoc, source: DomDoc => PrepSource): DomDoc = {
    val run = new Run(doc, "")
    run.prepare(source(run.doc))
    run.doc
  }

  // ------------------------------------------------------------------
  /** Main entry — mirrors `new Readability(documentClone).parse()`. */
  def parse(docInput: DomDoc, documentUri: String): Option[Article] =
    new Run(docInput, documentUri).parse()

  /** One parse over a private copy of `input`; the input is never mutated,
    * and a retry re-copies it instead of holding a second copy up front. */
  private final class Run(input: DomDoc, documentUri: String) {
    private[Readability] val doc = input.deepClone()
    private var flags = FlagStripUnlikelys | FlagWeightClasses | FlagCleanConditionally
    private def flagActive(f: Int): Boolean = (flags & f) != 0
    private def removeFlag(f: Int): Unit = flags &= ~f

    private var articleByline: Option[String] = None
    private var articleTitle: String = ""
    private val scores = new java.util.IdentityHashMap[Element, java.lang.Double]()
    private val dataTables = new java.util.IdentityHashMap[Element, java.lang.Boolean]()

    // ---- generic helpers ----

    /** `Js.collapseWsRuns(Js.trim(e.text()))` fused into one tree walk — no
      * intermediate text()/trim/collapse strings. Leading/trailing JS-ws is
      * dropped (trim); inner runs of ≥2 JS-ws chars become one space; single
      * JS-ws chars are kept as-is (the `{2,}` quantifier). Hottest function
      * in the profile (called per scoring step by charCount/linkDensity). */
    private def innerText(e: Element, normalizeSpaces: Boolean = true): String = {
      if (!normalizeSpaces) return Js.trim(e.text())
      val sb = new java.lang.StringBuilder
      var wsLen = 0
      var wsChar = ' '
      def walk(el: Element): Unit = {
        val ch = el.children
        var i = 0
        while (i < ch.length) {
          ch(i) match {
            case t: TextNode =>
              val d = t.data
              var j = 0
              while (j < d.length) {
                val c = d.charAt(j)
                if (Js.isJsWs(c)) { if (wsLen == 0) wsChar = c; wsLen += 1 }
                else {
                  if (wsLen > 0 && sb.length > 0) sb.append(if (wsLen == 1) wsChar else ' ')
                  wsLen = 0
                  sb.append(c)
                }
                j += 1
              }
            case e2: Element => walk(e2)
            case _ =>
          }
          i += 1
        }
      }
      walk(e)
      sb.toString // pending trailing ws intentionally dropped (trim)
    }

    /** `Js.trim(e.text()).isEmpty` with early exit — true iff every text
      * char is JS whitespace. */
    private def textIsAllWs(e: Element): Boolean = {
      val ch = e.children
      var i = 0
      while (i < ch.length) {
        ch(i) match {
          case t: TextNode =>
            val d = t.data
            var j = 0
            while (j < d.length) { if (!Js.isJsWs(d.charAt(j))) return false; j += 1 }
          case e2: Element => if (!textIsAllWs(e2)) return false
          case _ =>
        }
        i += 1
      }
      true
    }

    private def allTags(root: Element, tags: Set[String]): scala.collection.IndexedSeq[Element] =
      root.descendantsWhere(e => tags.contains(e.tag))

    private def wordCount(s: String): Int = Js.splitWs(s).length

    /** == `commaCount(innerText(e))` — trim/collapse only touch whitespace,
      * so commas can be counted straight off the text nodes. */
    private def charCount(e: Element): Int = {
      var c = 1
      def walk(el: Element): Unit = {
        val ch = el.children
        var i = 0
        while (i < ch.length) {
          ch(i) match {
            case t: TextNode =>
              val d = t.data
              var j = 0
              while (j < d.length) { if (isCommaChar(d.charAt(j))) c += 1; j += 1 }
            case e2: Element => walk(e2)
            case _ =>
          }
          i += 1
        }
      }
      walk(e)
      c
    }

    private def getLinkDensity(e: Element): Double = {
      val textLength = innerTextLength(e)
      if (textLength == 0) return 0.0
      var linkLength = 0.0
      e.foreachDescendant(a => if (a.tag == "a") linkLength += linkTextLength(a))
      linkLength / textLength
    }

    private def getClassWeight(e: Element): Double = {
      if (!flagActive(FlagWeightClasses)) return 0.0
      var weight = 0.0
      e.attr("class").filter(_.nonEmpty).foreach { cn =>
        val l = asciiLower(cn)
        if (negativeFind(l)) weight -= 25
        if (positiveAlt.findIn(l)) weight += 25
      }
      e.attr("id").filter(_.nonEmpty).foreach { id =>
        val l = asciiLower(id)
        if (negativeFind(l)) weight -= 25
        if (positiveAlt.findIn(l)) weight += 25
      }
      weight
    }

    private def initializeNode(e: Element): Unit = {
      var s = e.tag match {
        case "div" => 5.0
        case "pre" | "td" | "blockquote" => 3.0
        case "address" | "ol" | "ul" | "dl" | "dd" | "dt" | "li" | "form" => -3.0
        case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" | "th" => -5.0
        case _ => 0.0
      }
      s += getClassWeight(e)
      scores.put(e, s)
    }

    private def hasAncestorTag(e: Element, tag: String, maxDepth: Int = 3, filter: Element => Boolean = null): Boolean = {
      var depth = 0
      var p = e.parent
      while (p != null) {
        if (maxDepth > 0 && depth > maxDepth) return false
        if (p.tag == tag && (filter == null || filter(p))) return true
        p = p.parent
        depth += 1
      }
      false
    }

    private def getNodeAncestors(e: Element, maxDepth: Int = 0): List[Element] = {
      var i = 0
      var p = e.parent
      val out = List.newBuilder[Element]
      while (p != null) {
        out += p
        i += 1
        if (maxDepth > 0 && i == maxDepth) p = null else p = p.parent
      }
      out.result()
    }

    private def isProbablyVisible(e: Element): Boolean = {
      // the reference reads node.style.display / node.style.visibility via
      // CSSOM — a substring check would false-positive on properties that
      // merely END with the name (backface-visibility:hidden), so match the
      // property NAME at a declaration boundary
      val style0 = e.attrs.getOrNull("style")
      val style = if (style0 == null) "" else style0.replace(" ", "").toLowerCase(java.util.Locale.ROOT)
      def hasDecl(needle: String): Boolean = {
        var from = style.indexOf(needle)
        while (from >= 0) {
          if (from == 0 || style.charAt(from - 1) == ';') return true
          from = style.indexOf(needle, from + 1)
        }
        false
      }
      val hiddenByStyle = style.nonEmpty && (hasDecl("display:none") || hasDecl("visibility:hidden"))
      !hiddenByStyle && !e.attrs.contains("hidden") &&
        !("true" == e.attrs.getOrNull("aria-hidden") && !e.attr("class").exists(_.contains("fallback-image")))
    }

    private def isWhitespaceNode(n: Node): Boolean = n match {
      case t: TextNode => Js.trim(t.data).isEmpty
      case e: Element  => e.tag == "br"
      case _           => true // comments count as ignorable
    }

    private def isPhrasingContent(n: Node): Boolean = n match {
      case _: TextNode => true
      case e: Element =>
        phrasingElems.contains(e.tag) ||
          ((e.tag == "a" || e.tag == "del" || e.tag == "ins") && e.children.forall(isPhrasingContent))
      case _ => false
    }

    private def isElementWithoutContent(e: Element): Boolean = {
      val brHr = e.childElements.count(c => c.tag == "br" || c.tag == "hr")
      Js.trim(e.text()).isEmpty && (e.childElements.isEmpty || e.childElements.size == brHr)
    }

    private def hasChildBlockElement(e: Element): Boolean =
      e.childElements.exists(c => divToPElems.contains(c.tag) || hasChildBlockElement(c))

    private def hasSingleTagInsideElement(e: Element, tag: String): Boolean = {
      val elems = e.childElements.toVector
      elems.length == 1 && elems.head.tag == tag &&
        !e.children.exists { case t: TextNode => Js.trim(t.data).nonEmpty; case _ => false }
    }

    private def setNodeTag(e: Element, tag: String): Element = {
      val n = new Element(tag)
      e.attrs.copyTo(n.attrs)
      while (e.children.nonEmpty) n.appendChild(e.children.head)
      e.replaceWith(n)
      val sc = scores.remove(e)
      if (sc != null) scores.put(n, sc)
      n
    }

    /** Depth-first next element (optionally skipping the subtree). */
    private def getNextNode(e: Element, ignoreSelfAndKids: Boolean = false): Element = {
      if (!ignoreSelfAndKids) {
        val fc = e.childElements.nextOption()
        if (fc.isDefined) return fc.get
      }
      var cur = e
      while (cur != null) {
        val sib = cur.nextElementSibling
        if (sib != null) return sib
        cur = cur.parent
      }
      null
    }

    private def removeAndGetNext(e: Element): Element = {
      val next = getNextNode(e, ignoreSelfAndKids = true)
      e.remove()
      next
    }

    private def textSimilarity(a: String, b: String): Double = {
      // length arithmetic instead of building the joined strings:
      // mkString(" ").length == Σ token lengths + (count - 1)
      val tokensA = Readability.nonWordRe.split(a.toLowerCase(java.util.Locale.ROOT))
      val tokensB = Readability.nonWordRe.split(b.toLowerCase(java.util.Locale.ROOT))
      val setA = new java.util.HashSet[String]()
      var kA = 0
      var i = 0
      while (i < tokensA.length) {
        if (tokensA(i).nonEmpty) { kA += 1; setA.add(tokensA(i)) }
        i += 1
      }
      var kB = 0; var lenB = 0L
      var kU = 0; var lenU = 0L
      i = 0
      while (i < tokensB.length) {
        val t = tokensB(i)
        if (t.nonEmpty) {
          kB += 1; lenB += t.length
          if (!setA.contains(t)) { kU += 1; lenU += t.length }
        }
        i += 1
      }
      if (kA == 0 || kB == 0) return 0.0
      val uniqLen = if (kU == 0) 0L else lenU + (kU - 1)
      val totalLen = if (kB == 0) 0L else lenB + (kB - 1)
      val distance = uniqLen.toDouble / totalLen
      1 - distance
    }

    // ---- title ----

    private def getArticleTitle(): String = {
      val origTitle = Js.trim(doc.selectFirst("title").map(_.text()).getOrElse(""))
      var curTitle = origTitle
      var titleHadHierarchicalSeparators = false

      if (titleSepTestRe.matcher(curTitle).find()) {
        titleHadHierarchicalSeparators = titleHierSepTestRe.matcher(curTitle).find()
        curTitle = titleSepReplaceRe.matcher(origTitle).replaceAll("$1")
        if (wordCount(curTitle) < 3)
          curTitle = titleSepTailRe.matcher(origTitle).replaceAll("$1")
      } else if (curTitle.contains(": ")) {
        val trimmedTitle = Js.trim(curTitle)
        val headingMatch = allTags(doc.html, Set("h1", "h2")).exists(h => Js.trim(h.text()) == trimmedTitle)
        if (!headingMatch) {
          curTitle = origTitle.substring(origTitle.lastIndexOf(':') + 1)
          if (wordCount(curTitle) < 3)
            curTitle = origTitle.substring(origTitle.indexOf(':') + 1)
          else if (wordCount(origTitle.substring(0, origTitle.indexOf(':'))) > 5)
            curTitle = origTitle
        }
      } else if (curTitle.length > 150 || curTitle.length < 15) {
        val hOnes = allTags(doc.html, Set("h1"))
        if (hOnes.length == 1) curTitle = innerText(hOnes.head)
      }

      curTitle = Js.collapseWsRuns(Js.trim(curTitle))
      val curCount = wordCount(curTitle)
      if (curCount <= 4 && (!titleHadHierarchicalSeparators ||
          curCount != wordCount(titleSepStripRe.matcher(origTitle).replaceAll("")) - 1))
        curTitle = origTitle
      curTitle
    }

    // ---- metadata ----

    private final case class JsonLdMeta(
        title: Option[String], byline: Option[String], excerpt: Option[String],
        siteName: Option[String], datePublished: Option[String])

    /** From the unprepared copy's `<script>` elements, in document order. */
    private def getJsonLd(scripts: Iterable[Element]): JsonLdMeta = {
      import com.fasterxml.jackson.databind.JsonNode
      val mapper = jsonLdMapper
      val articleTypesRe = jsonLdArticleTypesRe
      val empty = JsonLdMeta(None, None, None, None, None)
      scripts.iterator.filter(s => s.tag == "script" && s.attr("type").contains("application/ld+json")).foreach { s =>
        try {
          val content = cdataWrapRe.matcher(s.text()).replaceAll("")
          var parsed: JsonNode = mapper.readTree(content)
          if (parsed != null && parsed.isObject) {
            val ctx = Option(parsed.get("@context")).map(n =>
              if (n.isTextual) n.asText() else Option(n.get("@vocab")).filter(_.isTextual).map(_.asText()).getOrElse(""))
            if (ctx.exists(c => schemaOrgRe.matcher(c).matches())) {
              if (parsed.get("@type") == null && parsed.get("@graph") != null && parsed.get("@graph").isArray) {
                var found: JsonNode = null
                parsed.get("@graph").forEach { it =>
                  val t = it.get("@type")
                  if (found == null && t != null && t.isTextual && articleTypesRe.matcher(t.asText()).find()) found = it
                }
                parsed = found
              }
              if (parsed != null) {
                val t = Option(parsed.get("@type")).filter(_.isTextual).map(_.asText())
                if (t.exists(tt => articleTypesRe.matcher(tt).find())) {
                  val name = Option(parsed.get("name")).filter(_.isTextual).map(n => Js.trim(n.asText()))
                  val headline = Option(parsed.get("headline")).filter(_.isTextual).map(n => Js.trim(n.asText()))
                  val title: Option[String] = (name, headline) match {
                    case (Some(n), Some(h)) if n != h =>
                      val at = getArticleTitle()
                      val nameMatches = textSimilarity(n, at) > 0.75
                      val headlineMatches = textSimilarity(h, at) > 0.75
                      if (headlineMatches && !nameMatches) Some(h) else Some(n)
                    case _ => name.orElse(headline)
                  }
                  val author = parsed.get("author")
                  val byline: Option[String] =
                    if (author == null) None
                    else if (author.isObject && author.get("name") != null && author.get("name").isTextual)
                      Some(Js.trim(author.get("name").asText()))
                    else if (author.isArray && author.size() > 0) {
                      val names = mutable.ArrayBuffer.empty[String]
                      author.forEach { a =>
                        val nm = Option(a.get("name")).filter(_.isTextual).map(n => Js.trim(n.asText()))
                        nm.foreach(names += _)
                      }
                      if (names.nonEmpty) Some(names.mkString(", ")) else None
                    } else None
                  val excerpt = Option(parsed.get("description")).filter(_.isTextual).map(n => Js.trim(n.asText()))
                  val siteName = Option(parsed.get("publisher"))
                    .filter(_.isObject).flatMap(p => Option(p.get("name")))
                    .filter(_.isTextual).map(n => Js.trim(n.asText()))
                  val datePublished = Option(parsed.get("datePublished")).filter(_.isTextual).map(_.asText())
                  return JsonLdMeta(title, byline, excerpt, siteName, datePublished)
                }
              }
            }
          }
        } catch { case _: Exception => }
      }
      empty
    }

    private final case class Metadata(
        title: String, byline: Option[String], excerpt: Option[String],
        siteName: Option[String], publishedTime: Option[String])

    /** From the prepared copy's `<meta>` elements, in document order. */
    private def getArticleMetadata(jsonld: JsonLdMeta, metas: Iterable[Element]): Metadata = {
      val values = mutable.LinkedHashMap.empty[String, String]
      metas.foreach { meta =>
        val elementName = meta.attr("name").getOrElse("")
        val elementProperty = meta.attr("property").getOrElse("")
        val content = meta.attr("content").getOrElse("")
        if (content.nonEmpty) {
          var matched = false
          if (elementProperty.nonEmpty) {
            val m = metaPropertyRe.matcher(elementProperty)
            if (m.find()) {
              values(javaWsRe.matcher(m.group().toLowerCase(java.util.Locale.ROOT)).replaceAll("")) = content
              matched = true
            }
          }
          if (!matched && elementName.nonEmpty && metaNameRe.matcher(elementName).matches()) {
            val name = javaWsRe.matcher(elementName.toLowerCase(java.util.Locale.ROOT)).replaceAll("").replace(".", ":")
            values(name) = content
          }
        }
      }

      def pick(keys: String*): Option[String] = keys.iterator.flatMap(values.get).nextOption()

      var title = jsonld.title.getOrElse(
        pick("dc:title", "dcterm:title", "og:title", "weibo:article:title", "weibo:webpage:title", "title", "twitter:title", "parsely-title").getOrElse(""))
      if (title.isEmpty) title = getArticleTitle()
      val byline = jsonld.byline.orElse(pick("dc:creator", "dcterm:creator", "author", "parsely-author"))
      val excerpt = jsonld.excerpt.orElse(pick("dc:description", "dcterm:description", "og:description", "weibo:article:description", "weibo:webpage:description", "description", "twitter:description"))
      val siteName = jsonld.siteName.orElse(pick("og:site_name"))
      val publishedTime = jsonld.datePublished.orElse(pick("article:published_time", "parsely-pub-date"))

      Metadata(unescapeHtmlEntities(title), byline.map(unescapeHtmlEntities),
        excerpt.map(unescapeHtmlEntities), siteName.map(unescapeHtmlEntities),
        publishedTime.map(unescapeHtmlEntities))
    }

    private def unescapeHtmlEntities(s: String): String = {
      if (s == null || s.isEmpty) return s
      val basic = Map("quot" -> "\"", "amp" -> "&", "apos" -> "'", "lt" -> "<", "gt" -> ">")
      var r = basicEntRe.matcher(s).replaceAll(m => basic(m.group(1)))
      val m = numEntRe.matcher(r)
      val sb = new java.lang.StringBuilder
      var last = 0
      while (m.find()) {
        sb.append(r, last, m.start())
        // JS parseInt never throws; overflow wraps through fromCharCode's
        // ToUint16 — parse as Long with a clamp (Normalizer.safeParseLong
        // pattern) so &#4294967296; cannot abort Readability for the row
        val digits = if (m.group(1) != null) m.group(1) else m.group(2)
        val radix = if (m.group(1) != null) 16 else 10
        val num =
          try java.lang.Long.parseLong(digits.take(15), radix)
          catch { case _: NumberFormatException => 0xfffdL }
        sb.append(Js.fromCharCode(num))
        last = m.end()
      }
      sb.append(r, last, r.length)
      sb.toString
    }

    // ---- document prep ----

    /** `_isSingleImage` (readability.js): the node is an <img>, or a chain
      * of single-element-child wrappers with whitespace-only text ending in
      * an <img>. */
    private def isSingleImage(e0: Element): Boolean = {
      var node = e0
      while (node != null) {
        if (node.tag == "img") return true
        val elems = node.children.iterator.collect { case e: Element => e }.take(2).toList
        if (elems.length != 1 || !textIsAllWs(node)) return false
        node = elems.head
      }
      false
    }

    /** `_unwrapNoscriptImages` (readability.js, called before
      * `removeScripts` deletes every <noscript>): drop <img> elements with
      * no image-bearing attribute at all, then replace a lazy-load
      * placeholder image with its <noscript> fallback image, preserving the
      * placeholder's image-bearing attributes as `data-old-*`. Our parser
      * builds noscript children as regular DOM (scripting-disabled
      * semantics, same as the reference's jsdom), so the reference's
      * innerHTML re-parse into a temp <div> is the identity here. */
    private def unwrapNoscriptImages(l: PrepSource): Unit = {
      l.imgs.foreach { img =>
        var keep = false
        img.attrs.foreach { case (k, v) =>
          if (k == "src" || k == "srcset" || k == "data-src" || k == "data-srcset") keep = true
          else if (imgExtRe.matcher(v).find()) keep = true
        }
        if (!keep) img.remove()
      }
      l.noscripts.foreach { noscript =>
        val inner = noscript.children.iterator.collect { case e: Element => e }.take(2).toList
        if (inner.length == 1 && textIsAllWs(noscript) && isSingleImage(inner.head)) {
          val prevElement = {
            val sibs = noscript.parent
            if (sibs == null) null
            else {
              var prev: Element = null
              var i = 0
              val cs = sibs.children
              var found = false
              while (!found && i < cs.length) {
                cs(i) match {
                  case e2 if e2 eq noscript => found = true
                  case e2: Element => prev = e2
                  case _ =>
                }
                i += 1
              }
              prev
            }
          }
          if (prevElement != null && isSingleImage(prevElement)) {
            val prevImg =
              if (prevElement.tag == "img") prevElement
              else allTags(prevElement, Set("img")).head
            val newImg = if (inner.head.tag == "img") inner.head else allTags(inner.head, Set("img")).head
            prevImg.attrs.foreach { case (k, v) =>
              if (v.nonEmpty &&
                  (k == "src" || k == "srcset" || imgExtRe.matcher(v).find()) &&
                  !newImg.attr(k).contains(v)) {
                val attrName = if (newImg.attrs.contains(k)) "data-old-" + k else k
                newImg.attrs(attrName) = v
              }
            }
            prevElement.replaceWith(inner.head)
          }
        }
      }
    }

    /** `_fixLazyImages` (readability.js, called from prepArticle): strip
      * tiny base64 placeholder src values, then copy lazy-load attributes
      * (data-src and friends) into src/srcset for img/picture, or synthesize
      * an <img> inside an imageless <figure>. */
    private def fixLazyImages(root: Element): Unit = {
      allTags(root, Set("img", "picture", "figure")).foreach { elem =>
        val src0 = elem.attr("src").getOrElse("")
        val b64m = b64DataUrlRe.matcher(src0)
        if (src0.nonEmpty && b64m.find() && b64m.group(1) != "image/svg+xml") {
          var srcCouldBeRemoved = false
          elem.attrs.foreach { case (k, v) =>
            if (k != "src" && imgExtRe.matcher(v).find()) srcCouldBeRemoved = true
          }
          if (srcCouldBeRemoved) {
            val mm = base64MarkerRe.matcher(src0)
            if (mm.find() && src0.length - (mm.start() + 7) < 133) elem.attrs.remove("src")
          }
        }
        val hasSrc = elem.attr("src").exists(_.nonEmpty)
        val hasSrcset = elem.attr("srcset").exists(s => s.nonEmpty && s != "null")
        val lazyClass = elem.attr("class").exists(_.toLowerCase(java.util.Locale.ROOT).contains("lazy"))
        if (!((hasSrc || hasSrcset) && !lazyClass)) {
          // snapshot first — the loop writes into the same attr list
          val entries = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
          elem.attrs.foreach(entries += _)
          entries.foreach { case (k, v) =>
            if (k != "src" && k != "srcset" && k != "alt") {
              val copyTo =
                if (srcsetLikeRe.matcher(v).find()) "srcset"
                else if (srcLikeRe.matcher(v).matches()) "src"
                else null
              if (copyTo != null) {
                if (elem.tag == "img" || elem.tag == "picture") elem.attrs(copyTo) = v
                else if (elem.tag == "figure" && allTags(elem, Set("img", "picture")).isEmpty) {
                  val img = new Element("img")
                  img.attrs(copyTo) = v
                  elem.appendChild(img)
                }
              }
            }
          }
        }
      }
    }

    private def nextNodeSkippingWs(n: Node): Node = {
      var cur = n
      while (cur != null) {
        cur match {
          case _: Element => return cur
          case t: TextNode if Js.trim(t.data).nonEmpty => return cur
          case _ =>
        }
        cur = nodeNextSibling(cur)
      }
      null
    }

    private def nodeNextSibling(n: Node): Node = {
      val p = n.parent
      if (p == null) return null
      val idx = p.children.indexWhere(_ eq n)
      if (idx >= 0 && idx + 1 < p.children.length) p.children(idx + 1) else null
    }

    /** `_replaceBrs` over the body's `<br>`s, in document order. */
    private def replaceBrs(brs: Iterable[Element]): Unit = {
      brs.foreach { br =>
        if (br.parent != null) {
          var next: Node = nodeNextSibling(br)
          var replaced = false
          var n = nextNodeSkippingWs(next)
          while (n != null && n.isInstanceOf[Element] && n.asInstanceOf[Element].tag == "br") {
            replaced = true
            val brSibling = nodeNextSibling(n)
            n.remove()
            next = brSibling
            n = nextNodeSkippingWs(next)
          }
          if (replaced) {
            val p = new Element("p")
            br.replaceWith(p)
            var cur: Node = nodeNextSibling(p)
            var continue = true
            while (cur != null && continue) {
              cur match {
                case e: Element if e.tag == "br" =>
                  val nextElem = nextNodeSkippingWs(nodeNextSibling(e))
                  if (nextElem != null && nextElem.isInstanceOf[Element] && nextElem.asInstanceOf[Element].tag == "br") continue = false
                case _ =>
              }
              if (continue) {
                if (!isPhrasingContent(cur)) continue = false
                else {
                  val sibling = nodeNextSibling(cur)
                  p.appendChild(cur)
                  cur = sibling
                }
              }
            }
            while (p.children.nonEmpty && isWhitespaceNode(p.children.last)) p.children.last.remove()
            if (p.parent != null && p.parent.tag == "p") setNodeTag(p.parent, "div")
          }
        }
      }
    }

    /** The document changes made before the first grab — and replayed on a
      * fresh copy of the input for every retry — over the elements of a copy
      * that `l` lists ([[PrepLists]]: one walk of it). `unwrapNoscriptImages`
      * goes before the script removal, which deletes every <noscript>; then
      * styles go, `<br>` runs in the body become paragraphs and fonts become
      * spans. */
    private[Readability] def prepare(l: PrepSource): Unit = {
      unwrapNoscriptImages(l)
      l.scripts.foreach(_.remove())
      l.styles.foreach(_.remove())
      replaceBrs(l.bodyBrs)
      l.fonts.foreach(setNodeTag(_, "span"))
    }

    // ---- grab article ----

    private final case class Attempt(content: Element, textLength: Int)
    private val attempts = mutable.ArrayBuffer.empty[Attempt]

    private def grabArticle(): Option[Element] = {
      while (true) {
        val stripUnlikelyCandidates = flagActive(FlagStripUnlikelys)
        val elementsToScore = mutable.ArrayBuffer.empty[Element]
        var shouldRemoveTitleHeader = true

        var node: Element = doc.html
        while (node != null) {
          val matchString = node.attr("class").getOrElse("") + " " + node.attr("id").getOrElse("")
          val matchLower = asciiLower(matchString)
          var advanced = false

          if (!isProbablyVisible(node)) { node = removeAndGetNext(node); advanced = true }
          else if ("true" == node.attrs.getOrNull("aria-modal") && "dialog" == node.attrs.getOrNull("role")) {
            node = removeAndGetNext(node); advanced = true
          }
          else if (checkByline(node, matchLower)) { node = removeAndGetNext(node); advanced = true }
          else if (shouldRemoveTitleHeader && headerDuplicatesTitle(node)) {
            shouldRemoveTitleHeader = false
            node = removeAndGetNext(node); advanced = true
          }
          else if (stripUnlikelyCandidates &&
              unlikelyAlt.findIn(matchLower) &&
              !okMaybeAlt.findIn(matchLower) &&
              !hasAncestorTag(node, "table") && !hasAncestorTag(node, "code") &&
              node.tag != "body" && node.tag != "a") {
            node = removeAndGetNext(node); advanced = true
          }
          else if (stripUnlikelyCandidates && node.attr("role").exists(unlikelyRoles.contains)) {
            node = removeAndGetNext(node); advanced = true
          }
          else if ((node.tag == "div" || node.tag == "section" || node.tag == "header" ||
              node.tag == "h1" || node.tag == "h2" || node.tag == "h3" ||
              node.tag == "h4" || node.tag == "h5" || node.tag == "h6") &&
              isElementWithoutContent(node)) {
            node = removeAndGetNext(node); advanced = true
          }

          if (!advanced) {
            if (tagsToScore.contains(node.tag)) elementsToScore += node

            if (node.tag == "div") {
              // wrap loose phrasing content into <p>
              var p: Element = null
              var childNode: Node = if (node.children.nonEmpty) node.children.head else null
              while (childNode != null) {
                val nextSibling = nodeNextSibling(childNode)
                if (isPhrasingContent(childNode)) {
                  if (p != null) p.appendChild(childNode)
                  else if (!isWhitespaceNode(childNode)) {
                    p = new Element("p")
                    childNode.replaceWith(p)
                    p.appendChild(childNode)
                  }
                } else if (p != null) {
                  while (p.children.nonEmpty && isWhitespaceNode(p.children.last)) p.children.last.remove()
                  p = null
                }
                childNode = nextSibling
              }

              if (hasSingleTagInsideElement(node, "p") && getLinkDensity(node) < 0.25) {
                val newNode = node.childElements.next()
                node.replaceWith(newNode)
                elementsToScore += newNode
                node = newNode
              } else if (!hasChildBlockElement(node)) {
                node = setNodeTag(node, "p")
                elementsToScore += node
              }
            }
            node = getNextNode(node)
          }
        }

        // score
        val candidates = mutable.ArrayBuffer.empty[Element]
        elementsToScore.foreach { el =>
          if (el.parent != null) {
            val textLen = innerTextLength(el)
            if (textLen >= 25) {
              val ancestors = getNodeAncestors(el, 5)
              if (ancestors.nonEmpty) {
                var contentScore = 1.0
                contentScore += charCount(el)
                contentScore += math.min(math.floor(textLen / 100.0), 3.0)
                ancestors.zipWithIndex.foreach { case (ancestor, level) =>
                  // readability.js guard: ancestor.parentNode.tagName must be
                  // defined — <html>'s parent is the Document, so <html> is
                  // NOT scored as a candidate (<body>'s parent is <html>,
                  // which qualifies); in this DOM that is exactly parent != null
                  if (ancestor.parent != null) {
                    if (!scores.containsKey(ancestor)) {
                      initializeNode(ancestor)
                      candidates += ancestor
                    }
                    val divider = if (level == 0) 1.0 else if (level == 1) 2.0 else level * 3.0
                    scores.put(ancestor, scores.get(ancestor) + contentScore / divider)
                  }
                }
              }
            }
          }
        }

        val topCandidates = mutable.ArrayBuffer.empty[Element]
        candidates.foreach { candidate =>
          val candidateScore = scores.get(candidate) * (1 - getLinkDensity(candidate))
          scores.put(candidate, candidateScore)
          var inserted = false
          var t = 0
          while (t < topCandidates.length && !inserted) {
            if (candidateScore > scores.get(topCandidates(t))) {
              topCandidates.insert(t, candidate); inserted = true
            }
            t += 1
          }
          if (!inserted && topCandidates.length < NTopCandidates) topCandidates += candidate
          if (topCandidates.length > NTopCandidates) topCandidates.remove(topCandidates.length - 1)
        }

        var topCandidate: Element = topCandidates.headOption.orNull
        var neededToCreateTopCandidate = false
        var parentOfTopCandidate: Element = null

        if (topCandidate == null || topCandidate.tag == "body") {
          neededToCreateTopCandidate = true
          val newTop = new Element("div")
          while (doc.body.children.nonEmpty) newTop.appendChild(doc.body.children.head)
          doc.body.appendChild(newTop)
          initializeNode(newTop)
          topCandidate = newTop
        } else {
          // alternative-ancestor concordance
          val topScore = scores.get(topCandidate)
          val alternativeCandidateAncestors = topCandidates.drop(1)
            .filter(c => scores.get(c) / topScore >= 0.75)
            .map(c => getNodeAncestors(c))
          val MinTop = 3
          if (alternativeCandidateAncestors.length >= MinTop) {
            parentOfTopCandidate = topCandidate.parent
            var break = false
            while (!break && parentOfTopCandidate != null && parentOfTopCandidate.tag != "body") {
              val containing = alternativeCandidateAncestors.count(_.exists(_ eq parentOfTopCandidate))
              if (containing >= MinTop) { topCandidate = parentOfTopCandidate; break = true }
              else parentOfTopCandidate = parentOfTopCandidate.parent
            }
          }
          if (!scores.containsKey(topCandidate)) initializeNode(topCandidate)

          // climb parents with better score
          parentOfTopCandidate = topCandidate.parent
          var lastScore = scores.get(topCandidate).doubleValue()
          val scoreThreshold = lastScore / 3.0
          var break2 = false
          while (!break2 && parentOfTopCandidate != null && parentOfTopCandidate.tag != "body") {
            if (!scores.containsKey(parentOfTopCandidate)) {
              parentOfTopCandidate = parentOfTopCandidate.parent
            } else {
              val parentScore = scores.get(parentOfTopCandidate).doubleValue()
              if (parentScore < scoreThreshold) break2 = true
              else if (parentScore > lastScore) { topCandidate = parentOfTopCandidate; break2 = true }
              else {
                lastScore = parentScore
                parentOfTopCandidate = parentOfTopCandidate.parent
              }
            }
          }

          // single-child climb
          parentOfTopCandidate = topCandidate.parent
          while (parentOfTopCandidate != null && parentOfTopCandidate.tag != "body" &&
                 parentOfTopCandidate.childElements.size == 1) {
            topCandidate = parentOfTopCandidate
            parentOfTopCandidate = topCandidate.parent
          }
          if (!scores.containsKey(topCandidate)) initializeNode(topCandidate)
        }

        val articleContent = new Element("div")
        val siblingScoreThreshold = math.max(10.0, scores.get(topCandidate) * 0.2)
        parentOfTopCandidate = topCandidate.parent
        if (parentOfTopCandidate == null) parentOfTopCandidate = doc.body
        val siblings = parentOfTopCandidate.childElements.toVector

        siblings.foreach { sibling =>
          var append = false
          if (sibling eq topCandidate) append = true
          else {
            var contentBonus = 0.0
            val sibClass = sibling.attr("class").getOrElse("")
            val topClass = topCandidate.attr("class").getOrElse("")
            if (sibClass == topClass && topClass.nonEmpty) contentBonus += scores.get(topCandidate) * 0.2
            if (scores.containsKey(sibling) && scores.get(sibling) + contentBonus >= siblingScoreThreshold) append = true
            else if (sibling.tag == "p") {
              val linkDensity = getLinkDensity(sibling)
              val nodeContent = innerText(sibling)
              val nodeLength = nodeContent.length
              if (nodeLength > 80 && linkDensity < 0.25) append = true
              else if (nodeLength < 80 && nodeLength > 0 && linkDensity == 0.0 &&
                       sentenceDotRe.matcher(nodeContent).find()) append = true
            }
          }
          if (append) {
            val toAppend =
              if (!alterToDivExceptions.contains(sibling.tag)) setNodeTag(sibling, "div")
              else sibling
            articleContent.appendChild(toAppend)
          }
        }

        prepArticle(articleContent, topCandidate)

        if (neededToCreateTopCandidate) {
          topCandidate.setAttr("id", "readability-page-1")
          topCandidate.setAttr("class", "page")
        } else {
          val div = new Element("div")
          div.attrs("id") = "readability-page-1"
          div.attrs("class") = "page"
          while (articleContent.children.nonEmpty) div.appendChild(articleContent.children.head)
          articleContent.appendChild(div)
        }

        val textLength = innerTextLength(articleContent)
        var parseSuccessful = true
        if (textLength < CharThreshold) {
          parseSuccessful = false
          // restore the body for the next attempt: the input's body after
          // the same pre-grab steps; head and body attributes stay as they are
          val fresh = input.deepClone()
          prepare(new PrepLists(fresh))
          doc.body.children.clear()
          while (fresh.body.children.nonEmpty) doc.body.appendChild(fresh.body.children.head)
          scores.clear()

          attempts += Attempt(articleContent, textLength)
          if (flagActive(FlagStripUnlikelys)) removeFlag(FlagStripUnlikelys)
          else if (flagActive(FlagWeightClasses)) removeFlag(FlagWeightClasses)
          else if (flagActive(FlagCleanConditionally)) removeFlag(FlagCleanConditionally)
          else {
            val best = attempts.sortBy(-_.textLength).headOption
            if (best.isEmpty || best.get.textLength == 0) return None
            return Some(best.get.content)
          }
        }
        if (parseSuccessful) return Some(articleContent)
      }
      None
    }

    /** `matchLower`: the node's ascii-lowered "class id" match string. */
    private def checkByline(node: Element, matchLower: String): Boolean = {
      if (articleByline.isDefined) return false
      val rel = node.attr("rel").getOrElse("")
      val itemprop = node.attr("itemprop").getOrElse("")
      if (rel == "author" || itemprop.contains("author") || bylineAlt.findIn(matchLower)) {
        val text = Js.trim(node.text())
        if (text.nonEmpty && text.length < 100) {
          articleByline = Some(text)
          return true
        }
      }
      false
    }

    private def headerDuplicatesTitle(node: Element): Boolean = {
      if (node.tag != "h1" && node.tag != "h2") return false
      val heading = innerText(node, normalizeSpaces = false)
      if (articleTitle.isEmpty) return false
      textSimilarity(articleTitle, heading) > 0.75
    }

    // ---- article cleanup ----

    private def markDataTables(root: Element): Unit = {
      allTags(root, Set("table")).foreach { table =>
        if (table.attr("role").contains("presentation")) dataTables.put(table, false)
        else if (table.attr("datatable").contains("0")) dataTables.put(table, false)
        else if (table.attrs.contains("summary")) dataTables.put(table, true)
        else if (Selector("caption").firstIn(table).exists(_.children.nonEmpty)) dataTables.put(table, true)
        else if (Seq("col", "colgroup", "tfoot", "thead", "th").exists(t => Selector(t).firstIn(table).isDefined))
          dataTables.put(table, true)
        else if (Selector("table").firstIn(table).isDefined) dataTables.put(table, false)
        else {
          // _getRowAndColumnCount: rows SUM the rowspans (a 5-tr table with
          // rowspan=2 each counts 10 rows and is protected as a data table)
          val trs = Selector("tr").findIn(table)
          var rowCount = 0
          var columns = 0
          trs.foreach { tr =>
            rowCount += tr.attr("rowspan").flatMap(_.toIntOption).filter(_ > 0).getOrElse(1)
            var colsInRow = 0
            Selector("td").findIn(tr).foreach { td =>
              colsInRow += td.attr("colspan").flatMap(_.toIntOption).getOrElse(1)
            }
            columns = math.max(columns, colsInRow)
          }
          if (rowCount >= 10 || columns > 4) dataTables.put(table, true)
          else dataTables.put(table, rowCount * columns > 10)
        }
      }
    }

    private def isDataTable(t: Element): Boolean = Option(dataTables.get(t)).exists(_.booleanValue())

    private def clean(root: Element, tag: String): Unit = {
      val isEmbed = tag == "object" || tag == "embed" || tag == "iframe"
      allTags(root, Set(tag)).foreach { el =>
        var keep = false
        if (isEmbed) {
          val attrValues = el.attrs.values.mkString("|")
          if (videosRe.matcher(attrValues).find()) keep = true
          if (tag == "object" && videosRe.matcher(el.innerHtml).find()) keep = true
        }
        if (!keep) el.remove()
      }
    }

    private def cleanMatchedNodes(root: Element, filter: (Element, String) => Boolean): Unit = {
      val endOfSearchMarkerNode = getNextNode(root, ignoreSelfAndKids = true)
      var next = getNextNode(root)
      while (next != null && (next ne endOfSearchMarkerNode)) {
        val matchString = next.attr("class").getOrElse("") + " " + next.attr("id").getOrElse("")
        if (filter(next, matchString)) next = removeAndGetNext(next)
        else next = getNextNode(next)
      }
    }

    private def cleanHeaders(root: Element): Unit = {
      allTags(root, Set("h1", "h2")).foreach { h =>
        if (getClassWeight(h) < 0) h.remove()
      }
    }

    private def cleanStyles(e: Element): Unit = {
      if (e.tag == "svg") return
      presentationalAttributes.foreach(e.attrs.remove)
      if (deprecatedSizeAttributeElems.contains(e.tag)) {
        e.attrs.remove("width"); e.attrs.remove("height")
      }
      e.childElements.toVector.foreach(cleanStyles)
    }

    private def cleanConditionally(root: Element, tag: String): Unit = {
      if (!flagActive(FlagCleanConditionally)) return
      val isList0 = tag == "ul" || tag == "ol"
      allTags(root, Set(tag)).foreach { node =>
        if (node.parent != null) {
          val skip =
            (tag == "table" && isDataTable(node)) ||
            hasAncestorTag(node, "table", -1, isDataTable) ||
            hasAncestorTag(node, "code")
          if (!skip) {
            val weight = getClassWeight(node)
            if (weight < 0) node.remove()
            else if (charCount(node) - 1 < 10) {
              val c = new SubtreeCounts(node)
              if (!c.videoEmbed) {
                val contentLength = innerTextLength(node)
                // readability.js: EVERY non-ul/ol tag (div, table, form,
                // fieldset) is treated as a list when >90% of its text lives
                // inside lists — not just div
                val isList = isList0 || (contentLength > 0 && c.listLength / contentLength > 0.9)
                val p = c.p
                val img = c.img
                val li = c.li - 100
                val input = c.input
                val headingDensity = if (contentLength == 0) 0.0 else c.headingLength.toDouble / contentLength
                val linkDensity = if (contentLength == 0) 0.0 else c.linkLength / contentLength
                val embedCount = c.embeds
                var haveToRemove =
                  (img > 1 && p.toDouble / img < 0.5 && !hasAncestorTag(node, "figure")) ||
                  (!isList && li > p) ||
                  (input > math.floor(p / 3.0)) ||
                  (!isList && headingDensity < 0.9 && contentLength < 25 && (img == 0 || img > 2) && !hasAncestorTag(node, "figure")) ||
                  (!isList && weight < 25 && linkDensity > 0.2) ||
                  (weight >= 25 && linkDensity > 0.5) ||
                  ((embedCount == 1 && contentLength < 75) || embedCount > 1)
                // readability.js "Allow simple lists of images to remain":
                // a list whose every li holds a single child and whose img
                // count equals its li count is an image gallery — keep it
                if (isList && haveToRemove) {
                  val simple = node.childElements.forall(_.childElements.size <= 1)
                  if (simple && img == c.li)
                    haveToRemove = false
                }
                if (haveToRemove) node.remove()
              }
            }
          }
        }
      }
    }

    private def prepArticle(articleContent: Element, topCandidate: Element): Unit = {
      cleanStyles(articleContent)
      markDataTables(articleContent)
      fixLazyImages(articleContent)
      cleanConditionally(articleContent, "form")
      cleanConditionally(articleContent, "fieldset")
      clean(articleContent, "object")
      clean(articleContent, "embed")
      clean(articleContent, "footer")
      clean(articleContent, "link")
      clean(articleContent, "aside")

      val shareElementThreshold = 500
      articleContent.childElements.toVector.foreach { topLevel =>
        cleanMatchedNodes(topLevel, (node, matchString) =>
          shareElementsRe.matcher(matchString).find() && node.text().length < shareElementThreshold)
      }

      clean(articleContent, "iframe")
      clean(articleContent, "input")
      clean(articleContent, "textarea")
      clean(articleContent, "select")
      clean(articleContent, "button")
      cleanHeaders(articleContent)

      cleanConditionally(articleContent, "table")
      cleanConditionally(articleContent, "ul")
      cleanConditionally(articleContent, "div")

      allTags(articleContent, Set("h1")).foreach(setNodeTag(_, "h2"))

      // a paragraph with no img/embed/object/iframe and no text goes
      allTags(articleContent, Set("p")).foreach { para =>
        if (para.firstDescendant(e => mediaInParaTags.contains(e.tag)) == null && textIsAllWs(para))
          para.remove()
      }

      allTags(articleContent, Set("br")).foreach { br =>
        val next = nextNodeSkippingWs(nodeNextSibling(br))
        next match {
          case e: Element if e.tag == "p" => br.remove()
          case _ =>
        }
      }

      // single-cell tables → content
      allTags(articleContent, Set("table")).foreach { table =>
        val tbody = if (hasSingleTagInsideElement(table, "tbody")) table.childElements.next() else table
        if (hasSingleTagInsideElement(tbody, "tr")) {
          val row = tbody.childElements.next()
          if (hasSingleTagInsideElement(row, "td")) {
            val cell = row.childElements.next()
            val newTag = if (cell.children.forall(isPhrasingContent)) "p" else "div"
            val newCell = setNodeTag(cell, newTag)
            table.replaceWith(newCell)
          }
        }
      }
      val _ = topCandidate
    }

    // ---- post-process ----

    private def toAbsoluteUri(uri: String): String = {
      if (uri.startsWith("#")) return uri
      graft.urlx.UrlOps.resolveUrl(uri, documentUri).getOrElse(uri)
    }

    private def fixRelativeUris(articleContent: Element): Unit = {
      allTags(articleContent, Set("a")).foreach { link =>
        link.attr("href").filter(_.nonEmpty).foreach { href =>
          if (href.startsWith("javascript:")) {
            if (link.children.length == 1 && link.children.head.isInstanceOf[TextNode]) {
              val text = new TextNode(link.text())
              link.replaceWith(text)
            } else {
              val container = new Element("span")
              while (link.children.nonEmpty) container.appendChild(link.children.head)
              link.replaceWith(container)
            }
          } else {
            link.attrs("href") = toAbsoluteUri(href)
          }
        }
      }
      allTags(articleContent, Set("img", "picture", "figure", "video", "audio", "source")).foreach { media =>
        media.attr("src").filter(_.nonEmpty).foreach(v => media.attrs("src") = toAbsoluteUri(v))
        media.attr("poster").filter(_.nonEmpty).foreach(v => media.attrs("poster") = toAbsoluteUri(v))
        media.attr("srcset").filter(_.nonEmpty).foreach { srcset =>
          val fixed = srcset.split(",").map { part =>
            val t = Js.trim(part)
            val sp = t.indexOf(' ')
            if (sp > 0) toAbsoluteUri(t.substring(0, sp)) + " " + t.substring(sp + 1)
            else toAbsoluteUri(t)
          }.mkString(", ")
          media.attrs("srcset") = fixed
        }
      }
    }

    private def simplifyNestedElements(articleContent: Element): Unit = {
      var node: Element = articleContent
      while (node != null) {
        if (node.parent != null && (node.tag == "div" || node.tag == "section") &&
            !node.attr("id").exists(_.startsWith("readability"))) {
          if (isElementWithoutContent(node)) {
            node = removeAndGetNext(node)
          } else if (hasSingleTagInsideElement(node, "div") || hasSingleTagInsideElement(node, "section")) {
            val child = node.childElements.next()
            node.attrs.foreach { case (k, v) => child.setAttr(k, v) }
            node.replaceWith(child)
            node = child
          } else node = getNextNode(node)
        } else node = getNextNode(node)
      }
    }

    private def cleanClasses(e: Element): Unit = {
      val keep = e.classList.filter(ClassesToPreserve.contains)
      if (keep.nonEmpty) e.attrs("class") = keep.mkString(" ")
      else e.attrs.remove("class")
      e.childElements.toVector.foreach(cleanClasses)
    }

    private def postProcessContent(articleContent: Element): Unit = {
      fixRelativeUris(articleContent)
      simplifyNestedElements(articleContent)
      cleanClasses(articleContent)
    }

    // ---- parse ----

    def parse(): Option[Article] = {
      // getJsonLd reads only ld+json <script>s, which prepare removes and
      // unwrapNoscriptImages never touches (a script is never part of a
      // single-image chain), so reading them first sees the same text
      val lists = new PrepLists(doc)
      val jsonLd = getJsonLd(lists.scripts)
      prepare(lists)
      val metadata = getArticleMetadata(jsonLd, lists.metas)
      articleTitle = metadata.title

      val articleContentOpt = grabArticle()
      articleContentOpt.map { articleContent =>
        postProcessContent(articleContent)

        val excerpt = metadata.excerpt.filter(_.nonEmpty).orElse {
          allTags(articleContent, Set("p"))
            .find(p => Js.trim(p.text()).nonEmpty)
            .map(p => Js.trim(p.text()))
        }

        val textContent = articleContent.text()
        Article(
          title = articleTitle,
          byline = metadata.byline.orElse(articleByline),
          contentDom = articleContent,
          textContent = textContent,
          excerpt = excerpt,
          siteName = metadata.siteName,
          publishedTime = metadata.publishedTime,
          length = textContent.length
        )
      }
    }
  }
}
