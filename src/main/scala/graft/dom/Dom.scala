package graft.dom

import scala.collection.mutable

/**
 * Minimal mutable DOM for per-row extraction work.
 *
 * One tree is built per page row inside `mapPartitions` (never a Spark
 * column), mirroring the reference's `ExtractionContext` whose parsed DOM
 * also never crosses documents (`/root/reference/src/core/context.ts:23-55`).
 * Semantics follow what the reference's cheerio/parse5 usage relies on:
 * `.text()` is the raw concatenation of descendant text nodes (no added
 * whitespace), attributes are lowercased, first duplicate attribute wins.
 */
sealed trait Node {
  var parent: Element = _
  /** Detach from parent. */
  def remove(): Unit = {
    if (parent != null) { parent.children -= this; parent = null }
  }
  /** Replace self with `n` in the parent's child list. */
  def replaceWith(n: Node): Unit = {
    val p = parent
    if (p != null) {
      val sibs = p.children
      var idx = -1
      var i = 0
      while (idx < 0 && i < sibs.length) { if (sibs(i) eq this) idx = i; i += 1 }
      if (idx >= 0) {
        n.remove()
        p.children(idx) = n
        n.parent = p
        parent = null
      }
    }
  }
  def deepClone(): Node
}

final class TextNode(var data: String) extends Node {
  def deepClone(): Node = new TextNode(data)
}

final class CommentNode(var data: String) extends Node {
  def deepClone(): Node = new CommentNode(data)
}

/** Insertion-ordered attribute list with LinkedHashMap semantics (update
  * keeps original position; remove shifts). Elements typically carry 0–2
  * attributes, so a compact pair array beats a hash table — the per-element
  * LinkedHashMap was a top allocation source in the extraction profile. */
final class AttrList {
  // single interleaved [k0, v0, k1, v1, …] array: one object (not two) per
  // attributed element, sized for the 1-attribute common case
  private var kv: Array[String] = AttrList.emptyArr
  private var n = 0
  private def indexOf(k: String): Int = {
    var i = 0
    while (i < n) { if (kv(2 * i) == k) return i; i += 1 }
    -1
  }
  def get(k: String): Option[String] = { val i = indexOf(k); if (i < 0) None else Some(kv(2 * i + 1)) }
  /** `get(k).orNull` without the Option, for per-element probes in whole-tree walks. */
  def getOrNull(k: String): String = { val i = indexOf(k); if (i < 0) null else kv(2 * i + 1) }
  def contains(k: String): Boolean = indexOf(k) >= 0
  def update(k: String, v: String): Unit = {
    val i = indexOf(k)
    if (i >= 0) kv(2 * i + 1) = v
    else {
      if (2 * n == kv.length)
        kv = java.util.Arrays.copyOf(kv, if (n == 0) 2 else 4 * n)
      kv(2 * n) = k; kv(2 * n + 1) = v; n += 1
    }
  }
  def remove(k: String): Unit = {
    val i = indexOf(k)
    if (i >= 0) {
      System.arraycopy(kv, 2 * (i + 1), kv, 2 * i, 2 * (n - i - 1))
      n -= 1; kv(2 * n) = null; kv(2 * n + 1) = null
    }
  }
  def foreach(f: ((String, String)) => Unit): Unit = {
    var i = 0
    while (i < n) { f((kv(2 * i), kv(2 * i + 1))); i += 1 }
  }
  /** Fills this EMPTY list from the first `count` interleaved pairs of
    * `src`, the first pair of each name winning (`update`-if-absent per
    * pair), with one array allocation. */
  private[dom] def fillFirstWins(src: Array[String], count: Int): Unit = {
    require(n == 0, "fillFirstWins needs an empty list")
    if (count > 0) {
      val out = new Array[String](2 * count)
      var k = 0
      var i = 0
      while (i < count) {
        val key = src(2 * i)
        var j = 0
        while (j < k && out(2 * j) != key) j += 1
        if (j == k) { out(2 * k) = key; out(2 * k + 1) = src(2 * i + 1); k += 1 }
        i += 1
      }
      kv = if (k == count) out else java.util.Arrays.copyOf(out, 2 * k)
      n = k
    }
  }

  /** Copies the pairs into an empty `dst`. They are distinct already, so
    * the array is copied as it is, with no per-pair duplicate search. */
  def copyTo(dst: AttrList): Unit = {
    require(dst.n == 0, "copyTo needs an empty destination")
    if (n > 0) {
      dst.kv = java.util.Arrays.copyOf(kv, 2 * n)
      dst.n = n
    }
  }
  def values: Iterator[String] = (0 until n).iterator.map(i => kv(2 * i + 1))
  def size: Int = n
  def isEmpty: Boolean = n == 0
}
object AttrList { private val emptyArr = new Array[String](0) }

final class Element(val tag: String) extends Node {
  /** Insertion-ordered; names lowercased; first occurrence wins. */
  val attrs: AttrList = new AttrList
  // initial capacity 2, not ArrayBuffer's eager 16 — most elements hold ≤2
  // children and the per-element waste dominated DOM-build allocation
  val children: mutable.ArrayBuffer[Node] = new mutable.ArrayBuffer[Node](2)

  def attr(name: String): Option[String] = attrs.get(name)

  def setAttr(name: String, value: String): Unit =
    if (!attrs.contains(name)) attrs(name) = value

  def appendChild(n: Node): Unit = { n.remove(); n.parent = this; children += n }

  def insertBefore(n: Node, ref: Node): Unit = {
    var idx = -1
    var i = 0
    while (idx < 0 && i < children.length) { if (children(i) eq ref) idx = i; i += 1 }
    n.remove()
    n.parent = this
    if (idx < 0) children += n else children.insert(idx, n)
  }

  /** Index of this node in its parent's child list — manual scan (indexWhere
    * allocates an iterator + closure per call; these run per node in the
    * Readability sibling walks). */
  private def siblingIndex: Int = {
    val sibs = parent.children
    var i = 0
    while (i < sibs.length) {
      if (sibs(i) eq this) return i
      i += 1
    }
    -1
  }

  /** Next sibling node (any type), or null. */
  def nextSibling: Node = {
    if (parent == null) return null
    val sibs = parent.children
    val idx = siblingIndex
    if (idx >= 0 && idx + 1 < sibs.length) sibs(idx + 1) else null
  }

  /** Next sibling element, or null. */
  def nextElementSibling: Element = {
    if (parent == null) return null
    val sibs = parent.children
    var idx = siblingIndex + 1
    while (idx < sibs.length) {
      sibs(idx) match { case e: Element => return e; case _ => }
      idx += 1
    }
    null
  }

  def childElements: Iterator[Element] = new Iterator[Element] {
    private var i = 0
    private def advance(): Unit =
      while (i < children.length && !children(i).isInstanceOf[Element]) i += 1
    advance()
    def hasNext: Boolean = i < children.length
    def next(): Element = {
      val e = children(i).asInstanceOf[Element]
      i += 1
      advance()
      e
    }
  }

  // ---- walks over the descendant elements ----
  // Pre-order, document order, self excluded — cheerio `find('*')`. They
  // recurse (faster than an iterator over an explicit stack), and go on over
  // an explicit stack below `Element.MaxWalkRecursion` levels, so no tree
  // depth overflows the thread stack. The callback must not insert, move or
  // detach elements: collect first, then mutate.

  /** Calls `f` on every descendant element. */
  def foreachDescendant(f: Element => Unit): Unit = Element.visit(this, f, 0)

  /** The first descendant element `p` accepts, or null; stops there. */
  def firstDescendant(p: Element => Boolean): Element = Element.first(this, p, 0)

  /** The descendant elements `p` accepts. */
  def descendantsWhere(p: Element => Boolean): mutable.ArrayBuffer[Element] = {
    val out = new mutable.ArrayBuffer[Element](16)
    foreachDescendant(e => if (p(e)) out += e)
    out
  }

  /** Ancestors from nearest parent to root — cheerio `parents()` order. */
  def ancestors: List[Element] = {
    var cur = parent
    val b = List.newBuilder[Element]
    while (cur != null) { b += cur; cur = cur.parent }
    b.result()
  }

  /** Concatenated descendant text — cheerio `.text()` (no added whitespace).
    * Two walks: an allocation-free length pass, then one exact-size builder —
    * cheaper than letting the builder double-and-copy (the copies cost ~2×
    * the final size in byte[] churn; this was a top allocation site). */
  def text(): String = {
    val len = textLength
    if (len == 0) return ""
    val sb = new java.lang.StringBuilder(len)
    appendText(sb)
    sb.toString
  }

  /** Total descendant text length, no allocation. */
  def textLength: Int = {
    var total = 0
    var i = 0
    while (i < children.length) {
      children(i) match {
        case t: TextNode => total += t.data.length
        case e: Element  => total += e.textLength
        case _           =>
      }
      i += 1
    }
    total
  }

  private def appendText(sb: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < children.length) {
      children(i) match {
        case t: TextNode => sb.append(t.data)
        case e: Element  => e.appendText(sb)
        case _           =>
      }
      i += 1
    }
  }

  /** Space-separated class tokens — maximal runs of non-whitespace, exactly
    * `split("\\s+").filter(_.nonEmpty)` with Java `\s` = [ \t\n\x0B\f\r]
    * (a regex Matcher per element was a measured allocation site). */
  def classList: Array[String] = attrs.get("class") match {
    case None => Element.emptyClassList
    case Some(c) =>
      var count = 0
      var i = 0
      val n = c.length
      while (i < n) {
        if (!Element.isClassWs(c.charAt(i)) && (i == 0 || Element.isClassWs(c.charAt(i - 1)))) count += 1
        i += 1
      }
      if (count == 0) return Element.emptyClassList
      val out = new Array[String](count)
      var k = 0
      i = 0
      while (i < n) {
        if (Element.isClassWs(c.charAt(i))) i += 1
        else {
          val s = i
          while (i < n && !Element.isClassWs(c.charAt(i))) i += 1
          out(k) = c.substring(s, i)
          k += 1
        }
      }
      out
  }

  /** `classList.contains(cls)` without splitting: some whitespace-delimited
    * token of `class` equals `cls`, a name without whitespace (selector class
    * names never hold any). */
  def hasClass(cls: String): Boolean = {
    val c = attrs.getOrNull("class")
    if (c == null || cls.isEmpty) return false
    val m = cls.length
    var from = c.indexOf(cls)
    while (from >= 0) {
      if ((from == 0 || Element.isClassWs(c.charAt(from - 1))) &&
          (from + m == c.length || Element.isClassWs(c.charAt(from + m)))) return true
      from = c.indexOf(cls, from + 1)
    }
    false
  }

  def deepClone(): Node = {
    val e = new Element(tag)
    attrs.copyTo(e.attrs)
    children.foreach { c => e.appendChild(c.deepClone()) }
    e
  }

  def cloneElement(): Element = deepClone().asInstanceOf[Element]

  /** Serialized children — cheerio `.html()`. */
  def innerHtml: String = {
    val sb = new java.lang.StringBuilder
    children.foreach(HtmlSerializer.write(_, sb))
    sb.toString
  }

  /** Serialized element — cheerio `$.html(el)`. */
  def outerHtml: String = {
    val sb = new java.lang.StringBuilder
    HtmlSerializer.write(this, sb)
    sb.toString
  }
}

object HtmlSerializer {
  /** Raw-text elements whose children serialize verbatim (HTML5 §13.3). */
  val rawText: Set[String] =
    Set("script", "style", "xmp", "iframe", "noembed", "noframes", "plaintext", "noscript")

  def write(n: Node, sb: java.lang.StringBuilder): Unit = n match {
    case t: TextNode =>
      val p = t.parent
      if (p != null && rawText.contains(p.tag)) sb.append(t.data)
      else escapeText(t.data, sb)
    case c: CommentNode =>
      sb.append("<!--").append(c.data).append("-->")
    case e: Element =>
      sb.append('<').append(e.tag)
      e.attrs.foreach { case (k, v) =>
        sb.append(' ').append(k)
        sb.append("=\"")
        escapeAttr(v, sb)
        sb.append('"')
      }
      sb.append('>')
      if (!HtmlParser.voidElements.contains(e.tag)) {
        e.children.foreach(write(_, sb))
        sb.append("</").append(e.tag).append('>')
      }
  }

  def escapeText(s: String, sb: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&'      => sb.append("&amp;")
        case '<'      => sb.append("&lt;")
        case '>'      => sb.append("&gt;")
        case '\u00a0' => sb.append("&nbsp;")
        case c        => sb.append(c)
      }
      i += 1
    }
  }

  def escapeAttr(s: String, sb: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&'      => sb.append("&amp;")
        case '"'      => sb.append("&quot;")
        case '\u00a0' => sb.append("&nbsp;")
        case c        => sb.append(c)
      }
      i += 1
    }
  }
}

/** A parsed document: implied `<html><head/><body/></html>` skeleton. */
final class DomDoc(val html: Element, val head: Element, val body: Element) {
  def select(selector: String): Vector[Element] = Selector(selector).findIn(html)

  def selectFirst(selector: String): Option[Element] = Selector(selector).firstIn(html)

  /** Full-document serialization — cheerio `$.root().html()`. */
  def outerHtml: String = html.outerHtml

  /** Deep copy of the whole tree. `head`/`body` of the copy are the first
    * `head`/`body` children of the copied root (the root itself if there is
    * none), located by tag, not by identity with this document's fields. */
  def deepClone(): DomDoc = {
    val h = html.cloneElement()
    val head2 = h.childElements.find(_.tag == "head").getOrElse(h)
    val body2 = h.childElements.find(_.tag == "body").getOrElse(h)
    new DomDoc(h, head2, body2)
  }
}

object Element {
  private[dom] val emptyClassList = new Array[String](0)

  private def isClassWs(ch: Char): Boolean =
    ch == ' ' || ch == '\t' || ch == '\n' || ch == '\u000b' || ch == '\f' || ch == '\r'

  /** Walk depth past which the descendant walks leave recursion for an
    * explicit stack. HTML trees stay far below it (the parser caps nesting
    * at `HtmlParser.MaxTreeDepth`); XML trees have no cap. */
  private val MaxWalkRecursion = 1024

  private def visit(e: Element, f: Element => Unit, depth: Int): Unit =
    if (depth == MaxWalkRecursion) firstOnStack(e, { d => f(d); false })
    else {
      val ch = e.children
      var i = 0
      while (i < ch.length) {
        ch(i) match {
          case el: Element =>
            f(el)
            visit(el, f, depth + 1)
          case _ =>
        }
        i += 1
      }
    }

  private def first(e: Element, p: Element => Boolean, depth: Int): Element =
    if (depth == MaxWalkRecursion) firstOnStack(e, p)
    else {
      val ch = e.children
      var i = 0
      while (i < ch.length) {
        ch(i) match {
          case el: Element =>
            if (p(el)) return el
            val hit = first(el, p, depth + 1)
            if (hit != null) return hit
          case _ =>
        }
        i += 1
      }
      null
    }

  /** [[first]] over an explicit stack: pushing the children in reverse keeps
    * document order. */
  private def firstOnStack(root: Element, p: Element => Boolean): Element = {
    val stack = new java.util.ArrayDeque[Element]()
    def pushChildrenOf(e: Element): Unit = {
      val ch = e.children
      var i = ch.length - 1
      while (i >= 0) {
        ch(i) match {
          case el: Element => stack.push(el)
          case _ =>
        }
        i -= 1
      }
    }
    pushChildrenOf(root)
    while (!stack.isEmpty) {
      val e = stack.pop()
      if (p(e)) return e
      pushChildrenOf(e)
    }
    null
  }
}
