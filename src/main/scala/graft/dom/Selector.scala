package graft.dom

/**
 * Tiny CSS selector engine covering exactly the selector forms the
 * extraction operators use (SURVEY.md §7.1: "NOT a general CSS engine"):
 *
 *   - comma-separated groups of *compound* selectors (no combinators —
 *     none appear anywhere in the reference's selector sets)
 *   - tag, `*`, `#id`, `.class`
 *   - `[attr]`, `[attr=v]`, `[attr*=v]`, `[attr^=v]`, `[attr$=v]`
 *     (values optionally quoted)
 *   - `:contains(text)` (cheerio extension; substring over `.text()`)
 *
 * Selector objects are immutable and reusable — operators keep them in
 * `val`s so parse cost is paid once per executor, not per row.
 */
final case class Selector(groups: Vector[Selector.Compound]) {

  def matches(e: Element): Boolean = {
    var i = 0
    while (i < groups.length) {
      if (groups(i).matches(e)) return true
      i += 1
    }
    false
  }

  /** Descendants of `root` matching, in document order (root excluded) — cheerio `find`. */
  def findIn(root: Element): Vector[Element] = root.descendantsWhere(matches).toVector

  /** The first descendant of `root` matching, in document order; the walk
    * stops there. */
  def firstIn(root: Element): Option[Element] = Option(root.firstDescendant(matches))

  /** Nearest ancestor-or-self matching — cheerio `closest`. */
  def closest(e: Element): Option[Element] = {
    var cur: Element = e
    while (cur != null) {
      if (matches(cur)) return Some(cur)
      cur = cur.parent
    }
    None
  }
}

object Selector {

  sealed trait Pred {
    def matches(e: Element): Boolean
  }
  final case class TagIs(tag: String) extends Pred {
    def matches(e: Element): Boolean = e.tag == tag
  }
  // the attribute predicates read `getOrNull`: no Option per probe
  final case class IdIs(id: String) extends Pred {
    def matches(e: Element): Boolean = id == e.attrs.getOrNull("id")
  }
  final case class HasClass(cls: String) extends Pred {
    def matches(e: Element): Boolean = e.hasClass(cls)
  }
  final case class AttrPresent(name: String) extends Pred {
    def matches(e: Element): Boolean = e.attrs.contains(name)
  }
  final case class AttrEq(name: String, value: String) extends Pred {
    def matches(e: Element): Boolean = value == e.attrs.getOrNull(name)
  }
  final case class AttrContains(name: String, value: String) extends Pred {
    def matches(e: Element): Boolean = { val v = e.attrs.getOrNull(name); v != null && v.contains(value) }
  }
  final case class AttrStarts(name: String, value: String) extends Pred {
    def matches(e: Element): Boolean = { val v = e.attrs.getOrNull(name); v != null && v.startsWith(value) }
  }
  final case class AttrEnds(name: String, value: String) extends Pred {
    def matches(e: Element): Boolean = { val v = e.attrs.getOrNull(name); v != null && v.endsWith(value) }
  }
  final case class ContainsText(text: String) extends Pred {
    def matches(e: Element): Boolean = e.text().contains(text)
  }
  /** Sentinel for unsupported selector syntax: matches nothing, by
    * construction (not probabilistically). */
  case object NeverMatches extends Pred {
    def matches(e: Element): Boolean = false
  }

  final case class Compound(preds: Vector[Pred]) {
    def matches(e: Element): Boolean = {
      var i = 0
      while (i < preds.length) {
        if (!preds(i).matches(e)) return false
        i += 1
      }
      true
    }
  }

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Selector]()

  def apply(selector: String): Selector = {
    val cached = cache.get(selector)
    if (cached != null) return cached
    val parsed = parseSelector(selector)
    cache.putIfAbsent(selector, parsed)
    parsed
  }

  private def parseSelector(selector: String): Selector = {
    val groups = splitTopLevel(selector, ',').map(_.trim).filter(_.nonEmpty).map(parseCompound)
    Selector(groups.toVector)
  }

  /** Split on `sep` outside brackets/parens/quotes. */
  private def splitTopLevel(s: String, sep: Char): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new java.lang.StringBuilder
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        cur.append(c)
        if (c == quote) quote = 0
      } else c match {
        case '"' | '\'' => quote = c; cur.append(c)
        case '[' | '('  => depth += 1; cur.append(c)
        case ']' | ')'  => depth -= 1; cur.append(c)
        case `sep` if depth == 0 => out += cur.toString; cur.setLength(0)
        case _ => cur.append(c)
      }
      i += 1
    }
    out += cur.toString
    out.result()
  }

  private def parseCompound(s: String): Compound = {
    val preds = Vector.newBuilder[Pred]
    var i = 0
    val n = s.length
    def readName(): String = {
      val st = i
      while (i < n && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '-' || s.charAt(i) == '_')) i += 1
      s.substring(st, i)
    }
    // leading tag or *
    if (i < n && (s.charAt(i).isLetter || s.charAt(i) == '*')) {
      if (s.charAt(i) == '*') i += 1
      else preds += TagIs(readName().toLowerCase)
    }
    while (i < n) {
      s.charAt(i) match {
        case '#' => i += 1; preds += IdIs(readName())
        case '.' => i += 1; preds += HasClass(readName())
        case '[' =>
          val end = indexOfOutsideQuotes(s, ']', i + 1)
          val body = s.substring(i + 1, if (end < 0) n else end)
          i = if (end < 0) n else end + 1
          preds += parseAttr(body)
        case ':' =>
          i += 1
          val name = readName()
          if (i < n && s.charAt(i) == '(') {
            val end = indexOfOutsideQuotes(s, ')', i + 1)
            var arg = s.substring(i + 1, if (end < 0) n else end)
            i = if (end < 0) n else end + 1
            arg = unquote(arg.trim)
            name match {
              case "contains" => preds += ContainsText(arg)
              case _          => // unsupported pseudo-class with arg: never matches
                preds += NeverMatches
            }
          } else {
            // unsupported bare pseudo-class: never matches
            preds += NeverMatches
          }
        case c if c.isWhitespace =>
          // descendant combinators are unsupported by design; treat the rest
          // of the compound as additional predicates on the same element is
          // WRONG, so fail loudly in dev: match nothing.
          preds += NeverMatches
          i = n
        case _ =>
          // any other character — notably the unsupported child/sibling
          // combinators '>', '~', '+' written without spaces ("div>p") —
          // must ALSO match nothing: silently skipping it would degrade
          // "div>p" to TagIs(div) and, via a user dropSelector, delete
          // every div on the page
          preds += NeverMatches
          i = n
      }
    }
    Compound(preds.result())
  }

  /** First index of `ch` at or after `from` that is not inside a single- or
    * double-quoted run — `[alt="a]b"]` and `:contains(a(b))` need the scan
    * to respect quoting like splitTopLevel does. */
  private def indexOfOutsideQuotes(s: String, ch: Char, from: Int): Int = {
    var i = from
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == ch) return i
      i += 1
    }
    -1
  }

  private def parseAttr(body: String): Pred = {
    val opIdx = body.indexWhere(c => c == '=' || c == '*' || c == '^' || c == '$' || c == '~' || c == '|')
    if (opIdx < 0) return AttrPresent(body.trim.toLowerCase)
    val name = body.substring(0, opIdx).trim.toLowerCase
    val opChar = body.charAt(opIdx)
    val eqIdx = body.indexOf('=', opIdx)
    if (eqIdx < 0) return AttrPresent(name)
    val value = unquote(body.substring(eqIdx + 1).trim)
    opChar match {
      case '=' => AttrEq(name, value)
      case '*' => AttrContains(name, value)
      case '^' => AttrStarts(name, value)
      case '$' => AttrEnds(name, value)
      // ~= (word list) and |= (dash prefix) are unsupported: per the file's
      // design rule they must match NOTHING, not approximate to exact-match
      case _   => NeverMatches
    }
  }

  private def unquote(s: String): String =
    if (s.length >= 2 && (s.head == '"' && s.last == '"' || s.head == '\'' && s.last == '\'')) s.substring(1, s.length - 1)
    else s
}
