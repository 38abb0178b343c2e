package graft.extract

import java.util.regex.Pattern
import graft.dom._

/**
 * HTML→Markdown emitter re-expressing the reference's Turndown configuration
 * (`/root/reference/src/extractors/content.ts:6-16`): ATX headings, fenced
 * code blocks, `-` bullets, `_` emphasis, `**` strong, inlined links; the
 * tags script/style/noscript/iframe/nav/footer are removed outright.
 *
 * Implements Turndown's documented pipeline: whitespace collapse over a
 * working copy, per-node replacement rules, newline-aware joining (≤2), and
 * markdown character escaping in text nodes.
 */
object Markdown {

  private val removedTags = Set("script", "style", "noscript", "iframe", "nav", "footer")

  private val blockTags = Set(
    "address", "article", "aside", "audio", "blockquote", "body", "canvas",
    "center", "dd", "dir", "div", "dl", "dt", "fieldset", "figcaption",
    "figure", "footer", "form", "frameset", "h1", "h2", "h3", "h4", "h5",
    "h6", "header", "hgroup", "hr", "html", "isindex", "li", "main", "menu",
    "nav", "noframes", "noscript", "ol", "output", "p", "pre", "section",
    "table", "tbody", "td", "tfoot", "th", "thead", "tr", "ul")

  private val voidTags = Set(
    "area", "base", "br", "col", "command", "embed", "hr", "img", "input",
    "keygen", "link", "meta", "param", "source", "track", "wbr")

  private val meaningfulWhenBlank = Set(
    "a", "table", "thead", "tbody", "tfoot", "th", "td", "iframe", "script", "audio", "video")

  private def isBlock(e: Element): Boolean = blockTags.contains(e.tag)
  private def isVoid(e: Element): Boolean = voidTags.contains(e.tag)
  private def isPre(e: Element): Boolean = e.tag == "pre"

  /** Convert an HTML fragment string to markdown. */
  def fromHtml(html: String): String = {
    val doc = HtmlParser.parse(html)
    fromElement(doc.body)
  }

  /** Per-node markdown content cap. Turndown's list/blockquote rules
    * re-process nested content once per nesting level (`replaceAll("\n",
    * "\n    ")` per <li>) — O(depth × size) BY DESIGN, which an adversarial
    * 512-deep list bomb turns into minutes of string churn for output every
    * caller truncates to ≤ 50k chars anyway (content.ts maxContentLength).
    * Capping each node's accumulated content (tail-only truncation) bounds
    * every level's string work at O(cap): a node whose markdown exceeds
    * 128k can only lose tail material that lies beyond the 50k document
    * cap, so the first 50k of the final output — all a caller ever keeps —
    * is unchanged for any input. */
  private val MaxNodeChars = 128 * 1024

  /** Convert a DOM element's children to markdown. */
  def fromElement(rootInput: Element): String = {
    val root = rootInput.cloneElement()
    collapseWhitespace(root)
    val out = processChildren(root)
    leadingTrnRe.matcher(out).replaceFirst("") match {
      case s => trailingWsRe.matcher(s).replaceFirst("")
    }
  }

  private val leadingTrnRe = Pattern.compile("^[\\t\\r\\n]+")
  private val trailingWsRe = Pattern.compile("[\\t\\r\\n\\s]+$")

  // ---- whitespace collapse (turndown's collapse-whitespace) ----

  /** Direct port of the collapse-whitespace traversal turndown uses: DFS that
    * revisits parents on the way up (so block boundaries trim the trailing
    * space of the last text node inside them). */
  private def collapseWhitespace(element: Element): Unit = {
    if (element.children.isEmpty || isPre(element)) return
    var prevText: TextNode = null
    var keepLeadingWs = false

    def next(prev: Node, current: Node): Node = {
      val leaving = (prev != null && prev.parent == current) ||
        (current match { case e: Element => isPre(e); case _ => false })
      if (leaving) {
        val s = siblingAfter(current)
        if (s != null) s else current.parent
      } else current match {
        case e: Element if e.children.nonEmpty => e.children.head
        case _ =>
          val s = siblingAfter(current)
          if (s != null) s else current.parent
      }
    }

    var prev: Node = null
    var node: Node = next(null, element)
    while (node != null && (node ne element)) {
      node match {
        case t: TextNode =>
          var text = collapseAsciiWs(t.data)
          if ((prevText == null || prevText.data.endsWith(" ")) && !keepLeadingWs && text.startsWith(" "))
            text = text.substring(1)
          if (text.isEmpty) {
            val nxt = { val s = siblingAfter(t); if (s != null) s else t.parent }
            t.remove()
            node = nxt // prev unchanged — mirrors collapse-whitespace remove()
          } else {
            t.data = text
            prevText = t
            val nn = next(prev, node)
            prev = node
            node = nn
          }
        case e: Element =>
          if (isBlock(e) || e.tag == "br") {
            if (prevText != null) prevText.data = dropOneTrailingSpace(prevText.data)
            prevText = null
            keepLeadingWs = false
          } else if (isVoid(e) || isPre(e)) {
            prevText = null
            keepLeadingWs = true
          } else if (prevText != null) keepLeadingWs = false
          val nn = next(prev, node)
          prev = node
          node = nn
        case other => // comments etc. are dropped
          val nxt = { val s = siblingAfter(other); if (s != null) s else other.parent }
          other.remove()
          node = nxt
      }
    }
    if (prevText != null) {
      prevText.data = dropOneTrailingSpace(prevText.data)
      if (prevText.data.isEmpty) prevText.remove()
    }
  }

  /** Exact equivalent of `replaceAll("[ \\r\\n\\t]+", " ")` — every run of
    * ASCII space/CR/LF/TAB (including length-1) becomes one space. */
  private def collapseAsciiWs(s: String): String = {
    def isWs(c: Char) = c == ' ' || c == '\r' || c == '\n' || c == '\t'
    var i = 0
    val n = s.length
    var dirty = false
    while (!dirty && i < n) {
      val c = s.charAt(i)
      if (c == '\r' || c == '\n' || c == '\t' ||
          (c == ' ' && i + 1 < n && isWs(s.charAt(i + 1)))) dirty = true
      i += 1
    }
    if (!dirty) return s
    val sb = new java.lang.StringBuilder(n)
    i = 0
    while (i < n) {
      if (isWs(s.charAt(i))) {
        sb.append(' ')
        i += 1
        while (i < n && isWs(s.charAt(i))) i += 1
      } else {
        sb.append(s.charAt(i))
        i += 1
      }
    }
    sb.toString
  }

  /** Exact equivalent of `replaceAll(" $", "")`. */
  private def dropOneTrailingSpace(s: String): String =
    if (s.nonEmpty && s.charAt(s.length - 1) == ' ') s.substring(0, s.length - 1) else s

  private def siblingAfter(n: Node): Node = {
    val p = n.parent
    if (p == null) return null
    val sibs = p.children
    var idx = -1
    var i = 0
    while (idx < 0 && i < sibs.length) { if (sibs(i) eq n) idx = i; i += 1 }
    if (idx >= 0 && idx + 1 < sibs.length) sibs(idx + 1) else null
  }

  /** Whitespace-only descendant text (Java `\s`), without building the
    * text string — isBlankNode runs for every element emitted. */
  private def textIsJavaWsOnly(e: Element): Boolean = {
    val ch = e.children
    var i = 0
    while (i < ch.length) {
      ch(i) match {
        case t: TextNode =>
          val d = t.data
          var j = 0
          while (j < d.length) {
            val c = d.charAt(j)
            if (c != ' ' && c != '\t' && c != '\n' && c != '\u000b' && c != '\f' && c != '\r') return false
            j += 1
          }
        case el: Element => if (!textIsJavaWsOnly(el)) return false
        case _ =>
      }
      i += 1
    }
    true
  }

  // ---- emit ----

  /** Folds `join` over the children into one StringBuilder — the string
    * fold was quadratic in document size. `join(a, b)` trims a's trailing
    * and b's leading newlines and re-inserts min(2, max(dropped)) — done
    * here in place with setLength. */
  private def processChildren(e: Element): String = {
    val sb = new java.lang.StringBuilder
    e.children.foreach { child =>
      if (sb.length >= MaxNodeChars) return sb.toString // adversarial-size stop
      val r = child match {
        case t: TextNode =>
          if (t.parent != null && (isPre(t.parent) || isCodeContext(t.parent))) t.data
          else escape(t.data)
        case el: Element => replacementFor(el)
        case _ => ""
      }
      var e1 = sb.length
      while (e1 > 0 && sb.charAt(e1 - 1) == '\n') e1 -= 1
      var s2 = 0
      while (s2 < r.length && r.charAt(s2) == '\n') s2 += 1
      val nls = math.min(2, math.max(sb.length - e1, s2))
      sb.setLength(e1)
      sb.append("\n\n", 0, nls)
      // tail-truncate each appended replacement at the cap too: without
      // this the per-level bound compounds geometrically up a deep chain
      sb.append(r, s2, math.min(r.length, s2 + MaxNodeChars))
    }
    sb.toString
  }

  private def isCodeContext(e: Element): Boolean = {
    var cur = e
    while (cur != null) {
      if (cur.tag == "code") return true
      cur = cur.parent
    }
    false
  }

  private def join(a: String, b: String): String = {
    var e1 = a.length
    while (e1 > 0 && a.charAt(e1 - 1) == '\n') e1 -= 1
    var s2s = 0
    while (s2s < b.length && b.charAt(s2s) == '\n') s2s += 1
    val nls = math.min(2, math.max(a.length - e1, s2s))
    a.substring(0, e1) + "\n\n".substring(0, nls) + b.substring(s2s)
  }

  /** `^[\s]*$` with Java `\s` = [ \t\n\x0B\f\r]. */
  private def isJavaWsOnly(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != ' ' && c != '\t' && c != '\n' && c != '\u000b' && c != '\f' && c != '\r') return false
      i += 1
    }
    true
  }

  // precompiled per-tag emit patterns (previously String.replaceAll per node)
  private val edgeNlRe = Pattern.compile("^\\n+|\\n+$")
  private val lineStartRe = Pattern.compile("(?m)^")
  private val leadNlRe = Pattern.compile("^\\n+")
  private val trailNlRe = Pattern.compile("\\n+$")
  private val anyNlMRe = Pattern.compile("(?m)\\n")
  private val langClassRe = Pattern.compile("language-(\\S+)")
  private val fenceRe = Pattern.compile("^`{3,}", Pattern.MULTILINE)
  private val oneTrailNlRe = Pattern.compile("\\n$")
  private val nlRe = Pattern.compile("\\n")
  private val crlfRe = Pattern.compile("\\r?\\n|\\r")
  private val parenRe = Pattern.compile("([()])")
  private val dquoteRe = Pattern.compile("\"")

  private def isBlankNode(e: Element): Boolean =
    !isVoid(e) && !meaningfulWhenBlank.contains(e.tag) &&
      textIsJavaWsOnly(e) &&
      e.firstDescendant(d => isVoid(d) || meaningfulWhenBlank.contains(d.tag)) == null

  private def replacementFor(e: Element): String = {
    if (removedTags.contains(e.tag)) return ""
    if (isBlankNode(e)) return if (isBlock(e)) "\n\n" else ""

    e.tag match {
      case "p" => "\n\n" + processChildren(e) + "\n\n"
      case "br" => "  \n"
      case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
        val level = e.tag.charAt(1) - '0'
        "\n\n" + ("#" * level) + " " + processChildren(e) + "\n\n"
      case "blockquote" =>
        val content = lineStartRe.matcher(
          edgeNlRe.matcher(processChildren(e)).replaceAll("")).replaceAll("> ")
        "\n\n" + content + "\n\n"
      case "ul" | "ol" =>
        val content = processChildren(e)
        e.parent match {
          case p if p != null && p.tag == "li" && (p.children.lastOption.exists(_ eq e)) =>
            "\n" + content
          case _ => "\n\n" + content + "\n\n"
        }
      case "li" =>
        var content = anyNlMRe.matcher(
          trailNlRe.matcher(
            leadNlRe.matcher(processChildren(e)).replaceAll("")
          ).replaceAll("\n")).replaceAll("\n    ")
        val parent = e.parent
        val prefix =
          if (parent != null && parent.tag == "ol") {
            val start = parent.attr("start").flatMap(_.toIntOption)
            val index = parent.childElements.toVector.indexWhere(_ eq e)
            (start.map(_ + index).getOrElse(index + 1)).toString + ".  "
          } else "-   "
        prefix + content + (if (siblingAfter(e) != null && !content.endsWith("\n")) "\n" else "")
      case "pre" =>
        // fenced code block when single CODE child
        e.childElements.toVector match {
          case Vector(code) if code.tag == "code" =>
            val className = code.attr("class").getOrElse("")
            val langM = langClassRe.matcher(className)
            val language = if (langM.find()) langM.group(1) else ""
            val codeText = oneTrailNlRe.matcher(code.text()).replaceAll("")
            // choose a fence longer than any fence-looking run inside
            var fence = "```"
            val fenceInCode = fenceRe.matcher(codeText)
            while (fenceInCode.find()) {
              if (fenceInCode.group().length >= fence.length) fence = "`" * (fenceInCode.group().length + 1)
            }
            "\n\n" + fence + language + "\n" + codeText + "\n" + fence + "\n\n"
          case _ => "\n\n    " + nlRe.matcher(e.text()).replaceAll("\n    ") + "\n\n"
        }
      case "code" =>
        val content = e.text()
        if (content.isEmpty) ""
        else {
          val trimmed = crlfRe.matcher(content).replaceAll(" ")
          val extraSpace = if (trimmed.startsWith("`") || trimmed.endsWith("`") || (trimmed.startsWith(" ") && trimmed.endsWith(" ") && trimmed.trim.nonEmpty)) " " else ""
          var delimiter = "`"
          while (trimmed.contains(delimiter)) delimiter += "`"
          delimiter + extraSpace + trimmed + extraSpace + delimiter
        }
      case "hr" => "\n\n* * *\n\n"
      case "a" =>
        val content = processChildren(e)
        e.attr("href") match {
          case Some(href) if href.nonEmpty =>
            val escapedHref = parenRe.matcher(href).replaceAll("\\\\$1")
            // turndown's `if (title)` — an EMPTY title attr is falsy and omitted
            val title = e.attr("title").filter(_.nonEmpty)
              .map(t => " \"" + dquoteRe.matcher(t).replaceAll("\\\\\"") + "\"").getOrElse("")
            "[" + content + "](" + escapedHref + title + ")"
          case _ => content
        }
      case "em" | "i" =>
        val content = processChildren(e)
        if (content.trim.isEmpty) "" else "_" + content + "_"
      case "strong" | "b" =>
        val content = processChildren(e)
        if (content.trim.isEmpty) "" else "**" + content + "**"
      case "img" =>
        val alt = e.attr("alt").getOrElse("")
        val src = e.attr("src").getOrElse("")
        if (src.isEmpty) ""
        else {
          val title = e.attr("title").filter(_.nonEmpty).map(t => " \"" + t + "\"").getOrElse("")
          "![" + alt + "](" + src + title + ")"
        }
      case _ =>
        val content = processChildren(e)
        if (isBlock(e)) "\n\n" + content + "\n\n" else content
    }
  }

  // ---- escaping (turndown default escapes) ----

  /** Turndown's default escapes. The `^`-anchored replaceAll calls are
    * replaced by equivalent first-char dispatch (each pattern can only match
    * at position 0, and each rewrite = inserting one backslash). */
  private def escape(s: String): String = {
    var r = s
    r = r.replace("\\", "\\\\")
    r = r.replace("*", "\\*")
    if (r.startsWith("-")) r = "\\" + r                       // ^-        → \-
    if (r.startsWith("+ ")) r = "\\" + r                      // ^\+ (sp)  → \+ (sp)
    if (r.startsWith("=")) r = "\\" + r                       // ^(=+)     → \$1
    if (r.nonEmpty && r.charAt(0) == '#') {                   // ^(#{1,6}) (sp)
      var k = 0
      while (k < r.length && k < 6 && r.charAt(k) == '#') k += 1
      if (k >= 1 && k < r.length && r.charAt(k) == ' ') r = "\\" + r
    }
    r = r.replace("`", "\\`")
    if (r.startsWith("~~~")) r = "\\" + r                     // ^~~~      → \~~~
    r = r.replace("[", "\\[")
    r = r.replace("]", "\\]")
    if (r.startsWith(">")) r = "\\" + r                       // ^>        → \>
    r = r.replace("_", "\\_")
    def isAsciiDigit(c: Char) = c >= '0' && c <= '9'          // regex \d is ASCII-only
    if (r.nonEmpty && isAsciiDigit(r.charAt(0))) {            // ^(\d+)\. (sp) → $1\. (sp)
      var k = 0
      while (k < r.length && isAsciiDigit(r.charAt(k))) k += 1
      if (k + 1 < r.length && r.charAt(k) == '.' && r.charAt(k + 1) == ' ')
        r = r.substring(0, k) + "\\" + r.substring(k)
    }
    r
  }
}
