package graft.dom

import scala.collection.mutable

/**
 * Streaming single-pass HTML tokenizer + simplified HTML5 tree builder.
 *
 * From-scratch implementation (no jsoup/tika on the classpath — verified in
 * SURVEY.md §7.6) scoped to the HTML5 subset the extraction corpus exercises,
 * matching what the reference relies on from cheerio/parse5
 * (`/root/reference/src/core/context.ts:33`):
 *
 *  - start/end tags, double/single/unquoted/valueless attributes,
 *    self-closing syntax, case-folded tag + attribute names
 *  - comments, doctype, CDATA and bogus `<?...>` sections (skipped)
 *  - raw-text elements (script/style/…, no entity decode) and RCDATA
 *    (title/textarea, entities decoded)
 *  - character references in text + attribute values ([[Entities]])
 *  - implied `<html><head><body>` skeleton; head-phase element routing
 *  - implied end tags: `p` closed by block starts, `li` by `li`,
 *    `dt`/`dd`, table rows/cells, `option`
 *  - void elements never pushed on the open stack
 *
 * The tokenizer walks the input exactly once (SAX-style events applied
 * straight to the arena of nodes); per-row cost is O(bytes). The builder is
 * used once per page row inside `mapPartitions`. Per call it allocates the
 * node objects, one open-element stack and one reusable start-tag scratch;
 * per token only the strings the tree keeps: each text run is one substring
 * of the input, and ASCII tag and attribute names resolve to shared
 * lowercase instances ([[canonicalName]]) instead of a fresh lowercased copy.
 */
object HtmlParser {

  val voidElements: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr"
  )

  /** Raw text: content until matching end tag, no entity decoding. */
  private val rawTextTags: Set[String] = Set("script", "style", "xmp", "iframe", "noembed", "noframes")
  /** RCDATA: like raw text but entities decode. */
  private val rcdataTags: Set[String] = Set("title", "textarea")

  /** Start tags that close an open <p> (HTML5 "closes a p element in button scope"). */
  private val pClosers: Set[String] = Set(
    "address", "article", "aside", "blockquote", "details", "dialog", "dir",
    "div", "dl", "fieldset", "figcaption", "figure", "footer", "form",
    "h1", "h2", "h3", "h4", "h5", "h6", "header", "hgroup", "hr", "main",
    "menu", "nav", "ol", "p", "pre", "section", "summary", "table", "ul",
    "li", "dt", "dd"
  )

  /** Elements allowed in <head>; anything else flips us into body. */
  private val headTags: Set[String] =
    Set("base", "basefont", "bgsound", "link", "meta", "title", "noscript", "noframes", "style", "script", "template")

  private val buttonScopeBoundary: Set[String] = Set("table", "td", "th", "button", "caption")

  /** Open-element depth cap (browsers bound tree depth around 512): past it,
    * start tags still insert their element but are treated as immediately
    * closed, so pathological nesting flattens into siblings at the cap.
    * Real pages sit far below this; without the cap, adversarial input
    * (200k nested divs) (a) overflows the recursive DOM walks downstream
    * with StackOverflowError — an Error, which escapes every per-row
    * Exception containment and kills the Spark task — and (b) turns the
    * per-tag open-stack scans (implied-close rules) quadratic. */
  private[dom] val MaxTreeDepth = 512

  /** Attributes kept per start tag: a 50k-attribute tag is markup-bomb
    * input (measured 49 s in the duplicate-name check alone); keep the
    * first `MaxAttrsPerTag` — orders of magnitude above any real page. */
  private val MaxAttrsPerTag = 512

  /** Children kept per element: with the arena's ArrayBuffer children,
    * Readability's remove-and-get-next sweep over a run of k removable
    * siblings costs O(k²) element moves (each head removal shifts the
    * tail), so a flat 64k-sibling markup bomb turns a sub-second page into
    * minutes. Capping fan-out at parse time bounds that sweep at
    * O(n · cap); 8192 direct children is far beyond any real article
    * (extraction caps at 2000 blocks / 100 links regardless). Children
    * past the cap are dropped, like attrs past MaxAttrsPerTag. */
  private val MaxChildrenPerElement = 8192

  /** Reusable start-tag parse result — one instance per parse() call, so the
    * tokenizer allocates nothing per tag (the Tuple4 + Vector[(k,v)] per start
    * tag was a measured allocation hotspot). */
  private final class TagScratch {
    var tag: String = ""
    /** The start-tag flags (`FlagVoid` …) of `tag`. */
    var flags = 0
    var selfClosing = false
    var next = 0
    var n = 0
    private var kv = new Array[String](8)
    def clear(): Unit = { n = 0; selfClosing = false }
    def add(k: String, v: String): Unit = {
      if (n >= MaxAttrsPerTag) return
      if (2 * n == kv.length) kv = java.util.Arrays.copyOf(kv, kv.length * 2)
      kv(2 * n) = k; kv(2 * n + 1) = v; n += 1
    }
    def key(i: Int): String = kv(2 * i)
    def value(i: Int): String = kv(2 * i + 1)
    /** The interleaved `[k0, v0, k1, v1, …]` pairs; the first `n` are set. */
    def pairs: Array[String] = kv
  }

  /** HTML element names, common attribute names and the attributes the
    * extractors read: [[canonicalName]] returns these instances for any
    * ASCII spelling of them. */
  private val knownNames: Array[String] = Array(
    // elements
    "a", "abbr", "address", "area", "article", "aside", "audio", "b", "base", "bdi", "bdo",
    "big", "blockquote", "body", "br", "button", "canvas", "caption", "center", "cite",
    "code", "col", "colgroup", "data", "datalist", "dd", "del", "details", "dfn", "dialog",
    "div", "dl", "dt", "em", "embed", "fieldset", "figcaption", "figure", "font", "footer",
    "form", "h1", "h2", "h3", "h4", "h5", "h6", "head", "header", "hgroup", "hr", "html",
    "i", "iframe", "img", "input", "ins", "kbd", "label", "legend", "li", "link", "main",
    "map", "mark", "menu", "meta", "meter", "nav", "noembed", "noframes", "noscript",
    "object", "ol", "optgroup", "option", "output", "p", "param", "picture", "pre",
    "progress", "q", "rp", "rt", "ruby", "s", "samp", "script", "section", "select",
    "small", "source", "span", "strike", "strong", "style", "sub", "summary", "sup",
    "svg", "table", "tbody", "td", "template", "textarea", "tfoot", "th", "thead", "time",
    "title", "tr", "track", "tt", "u", "ul", "var", "video", "wbr", "xmp",
    "circle", "defs", "g", "line", "path", "polygon", "polyline", "rect", "symbol", "use",
    "basefont", "bgsound",
    // attributes
    "id", "class", "href", "src", "srcset", "sizes", "rel", "type", "name",
    "content", "property", "itemprop", "itemscope", "itemtype", "lang", "charset",
    "http-equiv", "alt", "width", "height", "hidden", "role", "aria-hidden", "aria-label",
    "aria-modal", "aria-labelledby", "aria-expanded", "datetime", "target", "action",
    "method", "value", "placeholder", "for", "colspan", "rowspan", "align", "valign",
    "border", "cellpadding", "cellspacing", "bgcolor", "background", "poster", "controls",
    "loading", "decoding", "async", "defer", "crossorigin", "integrity", "media", "dir",
    "tabindex", "xmlns", "viewbox", "fill", "d", "onclick", "onload", "data-src",
    "data-srcset", "data-price", "data-ad")

  // the start-tag flags: which of the tag sets above hold the name
  private val FlagVoid = 1
  private val FlagRawText = 2
  private val FlagRcdata = 4
  private val FlagPCloser = 8
  private val FlagHead = 16

  /** The start-tag flags of a lowercased tag name, from the sets. */
  private def setFlags(tag: String): Int =
    (if (voidElements.contains(tag)) FlagVoid else 0) |
      (if (rawTextTags.contains(tag)) FlagRawText else 0) |
      (if (rcdataTags.contains(tag)) FlagRcdata else 0) |
      (if (pClosers.contains(tag)) FlagPCloser else 0) |
      (if (headTags.contains(tag)) FlagHead else 0)

  private val NameSlotMask = 1023
  private val nameTable: Array[String] = {
    val t = new Array[String](NameSlotMask + 1)
    knownNames.foreach { nm =>
      var slot = nameSlot(nm.hashCode)
      while (t(slot) != null) slot = (slot + 1) & NameSlotMask
      t(slot) = nm
    }
    t
  }
  /** [[setFlags]] of each [[nameTable]] entry. Every member of the tag sets
    * is in the table, so a name that misses it is in none of them unless
    * Unicode lowercasing made it ASCII (the Kelvin sign `K` lowercases to
    * `k`); such names keep the set path. */
  private val nameFlags: Array[Int] = nameTable.map(nm => if (nm == null) 0 else setFlags(nm))
  private def nameSlot(h: Int): Int = (h ^ (h >>> 16)) & NameSlotMask

  /** The [[nameTable]] slot of the ASCII-lowercased `s[from, to)`, or -1
    * when it is not a known name or holds a non-ASCII char. The hash is
    * taken over the lowercased chars and probed in an open-addressed table,
    * so a hit allocates nothing. */
  private def nameSlotOf(s: String, from: Int, to: Int): Int = {
    var h = 0
    var k = from
    while (k < to) {
      val c = s.charAt(k)
      if (c >= 0x80) return -1
      h = 31 * h + (if (c >= 'A' && c <= 'Z') c + 32 else c)
      k += 1
    }
    var slot = nameSlot(h)
    var cand = nameTable(slot)
    while (cand != null) {
      if (cand.length == to - from && isAsciiLowerOf(cand, s, from)) return slot
      slot = (slot + 1) & NameSlotMask
      cand = nameTable(slot)
    }
    -1
  }

  /** `s.substring(from, to).toLowerCase` without the copy for the names in
    * [[knownNames]]. Non-ASCII and unknown names take the substring path, so
    * Unicode case folding (`İ` and the like) is unchanged. ASCII folding on
    * a hit is locale-independent. */
  private def canonicalName(s: String, from: Int, to: Int): String = {
    val slot = nameSlotOf(s, from, to)
    if (slot >= 0) nameTable(slot) else s.substring(from, to).toLowerCase
  }

  /** Sets `out.tag` to the canonical name of `s[from, to)` and `out.flags`
    * to its start-tag flags: one table probe for a known name. */
  private def setStartTag(s: String, from: Int, to: Int, out: TagScratch): Unit = {
    val slot = nameSlotOf(s, from, to)
    if (slot >= 0) { out.tag = nameTable(slot); out.flags = nameFlags(slot) }
    else { out.tag = s.substring(from, to).toLowerCase; out.flags = setFlags(out.tag) }
  }

  /** `Character.isWhitespace`, with an ASCII fast path. */
  private def isWs(c: Char): Boolean =
    if (c < 0x80) c == ' ' || (c >= '\t' && c <= '\r') || (c >= '\u001c' && c <= '\u001f')
    else Character.isWhitespace(c)

  /** `Character.isLetterOrDigit(c) || c == '-' || c == ':'`, with an ASCII
    * fast path: a start-tag name char. */
  private def isTagNameChar(c: Char): Boolean =
    if (c < 0x80) (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '-' || c == ':'
    else Character.isLetterOrDigit(c)

  /** `lower` equals the ASCII-lowercased `s[from, from + lower.length)`. */
  private def isAsciiLowerOf(lower: String, s: String, from: Int): Boolean = {
    var k = 0
    while (k < lower.length) {
      val c = s.charAt(from + k)
      if (lower.charAt(k) != (if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)) return false
      k += 1
    }
    true
  }

  def parse(htmlInput: String): DomDoc = {
    val html = if (htmlInput == null) "" else htmlInput
    val docHtml = new Element("html")
    val docHead = new Element("head")
    val docBody = new Element("body")
    docHtml.appendChild(docHead)
    docHtml.appendChild(docBody)

    // insertion state
    var inBody = false
    var sawExplicitHead = false
    val stack = mutable.ArrayBuffer[Element]() // open elements *below* head/body

    def current: Element =
      if (stack.nonEmpty) stack.last else if (inBody) docBody else docHead

    def switchToBody(): Unit = if (!inBody) { inBody = true; stack.clear() }

    def appendText(text: String): Unit = {
      if (text.isEmpty) return
      if (!inBody && stack.isEmpty && text.exists(c => !Character.isWhitespace(c)))
        switchToBody()
      val ch = current.children
      if (ch.nonEmpty && ch.last.isInstanceOf[TextNode]) ch.last.asInstanceOf[TextNode].data += text
      else if (ch.length < MaxChildrenPerElement) current.appendChild(new TextNode(text))
    }

    def closePUpTo(): Unit = {
      var idx = stack.length - 1
      while (idx >= 0 && stack(idx).tag != "p") idx -= 1
      if (idx >= 0) {
        // button-scope boundary check: stop if a table/td/th/button sits above the p
        var boundary = -1
        var i = idx + 1
        while (boundary < 0 && i < stack.length) {
          if (buttonScopeBoundary.contains(stack(i).tag)) boundary = i
          i += 1
        }
        if (boundary < 0) stack.dropRightInPlace(stack.length - idx)
      }
    }

    // allocation-free helpers over the open stack (drop/exists allocate)
    def lastIndexOfTag(t1: String, t2: String): Int = {
      var i = stack.length - 1
      while (i >= 0) {
        val t = stack(i).tag
        if (t == t1 || t == t2) return i
        i -= 1
      }
      -1
    }
    def containsAbove(idx: Int, t1: String, t2: String): Boolean = {
      var i = idx + 1
      while (i < stack.length) {
        val t = stack(i).tag
        if (t == t1 || t == t2) return true
        i += 1
      }
      false
    }

    def closeImplied(tag: String, flags: Int): Unit = {
      if ((flags & FlagPCloser) != 0) closePUpTo()
      tag match {
        case "li" =>
          val idx = lastIndexOfTag("li", "li")
          if (idx >= 0 && !containsAbove(idx, "ul", "ol"))
            stack.dropRightInPlace(stack.length - idx)
        case "dt" | "dd" =>
          val idx = lastIndexOfTag("dt", "dd")
          if (idx >= 0 && !containsAbove(idx, "dl", "dl"))
            stack.dropRightInPlace(stack.length - idx)
        case "td" | "th" =>
          val idx = lastIndexOfTag("td", "th")
          if (idx >= 0 && !containsAbove(idx, "tr", "table"))
            stack.dropRightInPlace(stack.length - idx)
        case "tr" =>
          val idx = lastIndexOfTag("tr", "tr")
          if (idx >= 0 && !containsAbove(idx, "table", "table"))
            stack.dropRightInPlace(stack.length - idx)
        case "option" =>
          if (stack.nonEmpty && stack.last.tag == "option")
            stack.dropRightInPlace(1)
        case _ =>
      }
    }

    def setAttrsFrom(el: Element, t: TagScratch): Unit = {
      var i = 0
      while (i < t.n) { el.setAttr(t.key(i), t.value(i)); i += 1 }
    }

    def startTag(t: TagScratch, selfClosing: Boolean): Unit = {
      val tag = t.tag
      tag match {
        case "html" =>
          setAttrsFrom(docHtml, t)
          return
        case "head" =>
          sawExplicitHead = true
          setAttrsFrom(docHead, t)
          return
        case "body" =>
          setAttrsFrom(docBody, t)
          switchToBody()
          return
        case _ =>
      }
      if (!inBody && stack.isEmpty && (t.flags & FlagHead) == 0) switchToBody()
      closeImplied(tag, t.flags)
      if (current.children.length >= MaxChildrenPerElement) return // fan-out bomb: drop
      val el = new Element(tag)
      el.attrs.fillFirstWins(t.pairs, t.n)
      current.appendChild(el)
      if ((t.flags & FlagVoid) == 0 && !selfClosing && stack.length < MaxTreeDepth)
        stack += el
      // foreign content self-closing (<svg/>) respected via selfClosing flag
    }

    def endTag(tag: String): Unit = tag match {
      case "html" => ()
      case "head" => ()
      case "body" => ()
      case t =>
        val idx = lastIndexOfTag(t, t)
        if (idx >= 0) stack.dropRightInPlace(stack.length - idx)
    }

    // ---------------- tokenizer ----------------
    val n = html.length
    var i = 0
    // the pending text run is html[textStart, i): every character that is
    // not markup is the contiguous next source char, so a run is one substring
    var textStart = 0
    val scratch = new TagScratch

    def flushText(): Unit =
      if (i > textStart) appendText(Entities.decode(html.substring(textStart, i)))

    while (i < n) {
      if (html.charAt(i) != '<') {
        // a text run: jump to the next markup candidate
        val lt = html.indexOf('<', i)
        i = if (lt < 0) n else lt
      } else if (i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!') {
          flushText()
          if (html.startsWith("<!--", i)) {
            val end = html.indexOf("-->", i + 4)
            val stop = if (end < 0) n else end
            val data = html.substring(i + 4, stop)
            if (current.children.length < MaxChildrenPerElement)
              current.appendChild(new CommentNode(data))
            i = if (end < 0) n else end + 3
          } else if (html.regionMatches(true, i, "<![CDATA[", 0, 9)) {
            val end = html.indexOf("]]>", i + 9)
            i = if (end < 0) n else end + 3
          } else { // doctype / bogus
            val end = html.indexOf('>', i + 2)
            i = if (end < 0) n else end + 1
          }
          textStart = i
        } else if (c1 == '?') {
          flushText()
          val end = html.indexOf('>', i + 2)
          i = if (end < 0) n else end + 1
          textStart = i
        } else if (c1 == '/') {
          if (i + 2 < n && Character.isLetter(html.charAt(i + 2))) {
            flushText()
            // the name ends at whitespace, '/' or '>' (HTML5 end-tag name
            // state), so `</span/>` closes the span; the rest up to '>' is skipped
            var j = i + 2
            while (j < n && !isWs(html.charAt(j)) && html.charAt(j) != '/' && html.charAt(j) != '>') j += 1
            endTag(canonicalName(html, i + 2, j))
            while (j < n && html.charAt(j) != '>') j += 1
            i = if (j < n) j + 1 else n
            textStart = i
          } else i += 1
        } else if (Character.isLetter(c1)) {
          flushText()
          parseStartTag(html, i, scratch)
          val tag = scratch.tag
          val rcdata = (scratch.flags & FlagRcdata) != 0
          i = scratch.next
          if (rcdata || (scratch.flags & FlagRawText) != 0) {
            // consume raw content until matching end tag
            val endIdx = findEndTag(html, i, tag)
            val content = html.substring(i, endIdx)
            startTag(scratch, selfClosing = false)
            if (content.nonEmpty && current.children.length < MaxChildrenPerElement) {
              val data = if (rcdata) Entities.decode(content) else content
              current.appendChild(new TextNode(data))
            }
            endTag(tag)
            // skip past the end tag itself
            i = if (endIdx >= n) n else {
              val gt = html.indexOf('>', endIdx)
              if (gt < 0) n else gt + 1
            }
          } else {
            startTag(scratch, scratch.selfClosing)
          }
          textStart = i
        } else i += 1
      } else i += 1
    }
    flushText()

    new DomDoc(docHtml, docHead, docBody)
  }

  /** Parse a start tag at s(start)=='<' into the reusable scratch. */
  private def parseStartTag(s: String, start: Int, out: TagScratch): Unit = {
    val n = s.length
    var i = start + 1
    val nameStart = i
    while (i < n && isTagNameChar(s.charAt(i))) i += 1
    out.clear()
    setStartTag(s, nameStart, i, out)
    var selfClosing = false
    var done = false
    while (!done && i < n) {
      // skip whitespace and stray slashes (not before '>')
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i >= n) { done = true }
      else s.charAt(i) match {
        case '>' => i += 1; done = true
        case '/' =>
          if (i + 1 < n && s.charAt(i + 1) == '>') { selfClosing = true; i += 2; done = true }
          else i += 1
        case _ =>
          // attribute name
          val as = i
          while (i < n && !isWs(s.charAt(i)) && s.charAt(i) != '=' && s.charAt(i) != '>' && s.charAt(i) != '/') i += 1
          val name = canonicalName(s, as, i)
          while (i < n && isWs(s.charAt(i))) i += 1
          var value = ""
          if (i < n && s.charAt(i) == '=') {
            i += 1
            while (i < n && isWs(s.charAt(i))) i += 1
            if (i < n && (s.charAt(i) == '"' || s.charAt(i) == '\'')) {
              val q = s.charAt(i); i += 1
              val vs = i
              val end = s.indexOf(q, i)
              i = if (end < 0) n else end
              value = Entities.decode(s.substring(vs, i), inAttribute = true)
              if (i < n) i += 1
            } else {
              val vs = i
              while (i < n && !isWs(s.charAt(i)) && s.charAt(i) != '>') i += 1
              value = Entities.decode(s.substring(vs, i), inAttribute = true)
            }
          }
          if (name.nonEmpty) out.add(name, value)
      }
    }
    out.selfClosing = selfClosing
    out.next = i
  }

  /** Index of `</tag` (case-insensitive) at or after `from`; input length if absent. */
  private def findEndTag(s: String, from: Int, tag: String): Int = {
    val needle = "</" + tag
    var i = from
    val n = s.length
    while (i < n) {
      val idx = indexOfIgnoreCase(s, needle, i)
      if (idx < 0) return n
      val after = idx + needle.length
      if (after >= n) return idx
      val ch = s.charAt(after)
      if (ch == '>' || Character.isWhitespace(ch) || ch == '/') return idx
      i = idx + 1
    }
    n
  }

  /** `needle` starts with '<': candidates are found with `indexOf('<')`. */
  private def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    val n = s.length
    val m = needle.length
    var i = s.indexOf('<', from)
    while (i >= 0 && i + m <= n) {
      if (s.regionMatches(true, i, needle, 0, m)) return i
      i = s.indexOf('<', i + 1)
    }
    -1
  }
}
