package graft.feed

import graft.dom.{CommentNode, Element, Node, TextNode}

/**
 * Minimal XML parser for feed documents — re-expresses what the reference
 * gets from cheerio's `xml: true` mode (`src/parsers/rss.ts:53-55`):
 * case-sensitive tag and attribute names, no implied structure, no HTML
 * entity table (only the five XML built-ins + numeric references), CDATA
 * sections become text. Reuses the DOM node classes; one tree per row.
 */
object XmlParser {

  def parse(xml: String): Element = {
    val root = new Element("#root")
    val stack = scala.collection.mutable.ArrayBuffer[Element](root)
    def current = stack.last

    val n = if (xml == null) 0 else xml.length
    var i = 0
    val text = new java.lang.StringBuilder

    def flushText(): Unit = {
      if (text.length > 0) {
        current.appendChild(new TextNode(decodeXml(text.toString)))
        text.setLength(0)
      }
    }

    while (i < n) {
      val c = xml.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = xml.charAt(i + 1)
        if (xml.startsWith("<![CDATA[", i)) {
          flushText()
          val end = xml.indexOf("]]>", i + 9)
          val stop = if (end < 0) n else end
          current.appendChild(new TextNode(xml.substring(i + 9, stop)))
          i = if (end < 0) n else end + 3
        } else if (xml.startsWith("<!--", i)) {
          flushText()
          val end = xml.indexOf("-->", i + 4)
          current.appendChild(new CommentNode(xml.substring(i + 4, if (end < 0) n else end)))
          i = if (end < 0) n else end + 3
        } else if (c1 == '!' || c1 == '?') { // doctype / PI / xml decl
          flushText()
          val end = xml.indexOf('>', i + 2)
          i = if (end < 0) n else end + 1
        } else if (c1 == '/') {
          flushText()
          val end = xml.indexOf('>', i + 2)
          val name = xml.substring(i + 2, if (end < 0) n else end).trim
          val idx = stack.lastIndexWhere(_.tag == name)
          if (idx > 0) stack.dropRightInPlace(stack.length - idx)
          i = if (end < 0) n else end + 1
        } else if (Character.isLetter(c1) || c1 == '_') {
          flushText()
          val (tag, attrs, selfClosing, next) = parseTag(xml, i)
          i = next
          val el = new Element(tag)
          attrs.foreach { case (k, v) => el.setAttr(k, v) }
          current.appendChild(el)
          if (!selfClosing) stack += el
        } else { text.append(c); i += 1 }
      } else { text.append(c); i += 1 }
    }
    flushText()
    root
  }

  /** Case-preserving tag + attribute scan; values XML-entity decoded. */
  private def parseTag(s: String, start: Int): (String, Vector[(String, String)], Boolean, Int) = {
    val n = s.length
    var i = start + 1
    val ns = i
    while (i < n && !Character.isWhitespace(s.charAt(i)) && s.charAt(i) != '>' && s.charAt(i) != '/') i += 1
    val tag = s.substring(ns, i)
    val attrs = Vector.newBuilder[(String, String)]
    var selfClosing = false
    var done = false
    while (!done && i < n) {
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      if (i >= n) done = true
      else s.charAt(i) match {
        case '>' => i += 1; done = true
        case '/' =>
          if (i + 1 < n && s.charAt(i + 1) == '>') { selfClosing = true; i += 2; done = true } else i += 1
        case _ =>
          val as = i
          while (i < n && !Character.isWhitespace(s.charAt(i)) && s.charAt(i) != '=' && s.charAt(i) != '>' && s.charAt(i) != '/') i += 1
          val name = s.substring(as, i)
          while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
          var value = ""
          if (i < n && s.charAt(i) == '=') {
            i += 1
            while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
            if (i < n && (s.charAt(i) == '"' || s.charAt(i) == '\'')) {
              val q = s.charAt(i); i += 1
              val vs = i
              while (i < n && s.charAt(i) != q) i += 1
              value = decodeXml(s.substring(vs, i))
              if (i < n) i += 1
            } else {
              val vs = i
              while (i < n && !Character.isWhitespace(s.charAt(i)) && s.charAt(i) != '>') i += 1
              value = decodeXml(s.substring(vs, i))
            }
          }
          if (name.nonEmpty) attrs += (name -> value)
      }
    }
    (tag, attrs.result(), selfClosing, i)
  }

  /** XML's five built-in entities + numeric references only. */
  def decodeXml(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 12) {
          val body = s.substring(i + 1, semi)
          val decoded: String = body match {
            case "amp" => "&"
            case "lt" => "<"
            case "gt" => ">"
            case "quot" => "\""
            case "apos" => "'"
            case b if b.startsWith("#x") || b.startsWith("#X") =>
              try new String(Character.toChars(Integer.parseInt(b.substring(2), 16))) catch { case _: Exception => null }
            case b if b.startsWith("#") =>
              try new String(Character.toChars(Integer.parseInt(b.substring(1)))) catch { case _: Exception => null }
            case _ => null
          }
          if (decoded != null) { sb.append(decoded); i = semi + 1 }
          else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  // ---- query helpers (the cheerio-selector subset the feed parser uses) ----

  /** All descendants with exact (case-sensitive) tag. */
  def find(root: Element, tag: String): Vector[Element] =
    root.descendantsWhere(_.tag == tag).toVector

  def findFirst(root: Element, tag: String): Option[Element] =
    Option(root.firstDescendant(_.tag == tag))

  /** Direct children with exact tag — cheerio `find('> tag')`. */
  def children(root: Element, tag: String): Vector[Element] =
    root.childElements.filter(_.tag == tag).toVector

  def childText(root: Element, tag: String): String =
    children(root, tag).map(_.text()).mkString

  def findText(root: Element, tag: String): String =
    find(root, tag).map(_.text()).mkString
}
