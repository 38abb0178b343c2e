package graft.content

import graft.dom._
import graft.util.Js

/**
 * B1 `parseBlocks` — re-expresses `/root/reference/src/content/blocks.ts:55-177`:
 * drop noise subtrees, find the content container, walk every descendant in
 * document order classifying block-level elements, prefer leaves over
 * containers, record ancestry context, stop at `maxBlocks` (default 2000 —
 * an output-affecting cap per BASELINE.md, and the per-row cost bound that
 * keeps task skew bounded at cluster scale).
 *
 * The reference re-serializes + re-parses the DOM before dropping
 * (`blocks.ts:66-67`); we copy the already-parsed tree instead, leaving the
 * dropped subtrees out of the copy — same semantics, one parse and one
 * partial copy per row (SURVEY.md §7.3 operator fusion).
 */
object BlockParser {

  /** blocks.ts:8-17 */
  val DefaultDropSelectors: Seq[String] = Seq(
    "script", "style", "noscript", "iframe", "svg", "canvas", "[hidden]", "[aria-hidden=\"true\"]"
  )

  /** blocks.ts:22-40 — ordered: first match wins. */
  private val blockTypeSelectors: Vector[(Selector, String)] = Vector(
    Selector("nav, [role=\"navigation\"]") -> "nav",
    Selector("footer, [role=\"contentinfo\"]") -> "footer",
    Selector("aside.promo, .advertisement, .ad, [data-ad]") -> "promo",
    Selector(".legal, .disclaimer, .terms, .copyright") -> "legal",
    Selector("blockquote, q") -> "quote",
    Selector("pre, code") -> "code",
    Selector("table") -> "table",
    Selector("ul, ol, dl, li, dt, dd") -> "list",
    Selector("figure, img, video, audio, picture") -> "media",
    Selector("figcaption") -> "paragraph",
    Selector("h1") -> "heading", Selector("h2") -> "heading", Selector("h3") -> "heading",
    Selector("h4") -> "heading", Selector("h5") -> "heading", Selector("h6") -> "heading",
    Selector("p") -> "paragraph"
  )

  // Fast exact dispatch for the table above. The only non-tag branches are
  // [role=…] (rules 1-2), class-based promo/legal (3-4) and [data-ad] (3) —
  // an element carrying none of `class`/`role`/`data-ad` can only match via
  // its tag, so a Map lookup suffices; otherwise fall through to the full
  // ordered loop. First-match-wins order is preserved because every pure-tag
  // rule keyed here carries its table position implicitly (tags are unique
  // across rules).
  private val tagToType: Map[String, String] = Map(
    "nav" -> "nav", "footer" -> "footer",
    "blockquote" -> "quote", "q" -> "quote",
    "pre" -> "code", "code" -> "code",
    "table" -> "table",
    "ul" -> "list", "ol" -> "list", "dl" -> "list", "li" -> "list", "dt" -> "list", "dd" -> "list",
    "figure" -> "media", "img" -> "media", "video" -> "media", "audio" -> "media", "picture" -> "media",
    "figcaption" -> "paragraph",
    "h1" -> "heading", "h2" -> "heading", "h3" -> "heading",
    "h4" -> "heading", "h5" -> "heading", "h6" -> "heading",
    "p" -> "paragraph")

  private def blockTypeOf(el: Element): String = {
    val a = el.attrs
    if (!a.contains("class") && !a.contains("role") && !a.contains("data-ad"))
      tagToType.getOrElse(el.tag, "unknown")
    else {
      var idx = 0
      while (idx < blockTypeSelectors.length) {
        if (blockTypeSelectors(idx)._1.matches(el)) return blockTypeSelectors(idx)._2
        idx += 1
      }
      "unknown"
    }
  }

  // fast path for the default drop set (tags + [hidden] + [aria-hidden="true"])
  private val defaultDropTags = Set("script", "style", "noscript", "iframe", "svg", "canvas")
  private def defaultDropMatch(e: Element): Boolean =
    defaultDropTags.contains(e.tag) || e.attrs.contains("hidden") ||
      "true" == e.attrs.getOrNull("aria-hidden")

  private val containerSelector = Selector("article, main, [role=\"main\"], .content, #content")
  // == Selector("p, h1..h6, ul, ol, li, dt, dd, blockquote, pre, table").firstIn(el).isDefined
  // — plain tag disjunction, so a Set scan over descendants is exact and skips
  // the selector machinery (hot: runs per candidate block)
  private val blockChildTags = Set(
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li", "dt", "dd",
    "blockquote", "pre", "table")
  private def hasBlockChild(el: Element): Boolean =
    el.firstDescendant(d => blockChildTags.contains(d.tag)) != null
  private val nonTypedBlockTags = Set("p", "div", "section", "article", "li", "dt", "dd", "figcaption")
  private val headingRe = "^h([1-6])$".r

  /** The content container of a copy of `doc`'s tree without the subtrees
    * `drop` matches (the root is never dropped): the first element of the
    * copy below its root that [[containerSelector]] matches, in document
    * order, or else the copy of the body — the first `body` child of the
    * root, as `DomDoc.deepClone` locates it, or the root if there is none.
    * Drop matching reads only the element and its own subtree, which the
    * source still holds intact, so this equals deep-cloning, removing every
    * match in document order and then running the selector. The copy is made
    * in document order, so the container is found while copying. A dropped
    * body is still copied (pruned, detached from the root): the removal left
    * it as the fallback container, and nothing in it is a container
    * candidate. */
  private def copyKept(doc: DomDoc, drop: Element => Boolean): Element = {
    val srcBody = doc.html.childElements.find(_.tag == "body").orNull
    var body: Element = null
    var container: Element = null
    var detached = false
    def copy(e: Element): Element = {
      val c = new Element(e.tag)
      e.attrs.copyTo(c.attrs)
      if (e eq srcBody) body = c
      if (container == null && !detached && (e ne doc.html) && containerSelector.matches(c))
        container = c
      val ch = e.children
      var i = 0
      while (i < ch.length) {
        ch(i) match {
          case el: Element =>
            if (!drop(el)) c.appendChild(copy(el))
            else if (el eq srcBody) { detached = true; copy(el); detached = false }
          case n => c.appendChild(n.deepClone())
        }
        i += 1
      }
      c
    }
    val html = copy(doc.html)
    if (container != null) container else if (body != null) body else html
  }

  def parseBlocks(
      doc: DomDoc,
      dropSelectors: Seq[String] = Nil,
      maxBlocks: Int = 2000,
      includeHtml: Boolean = false
  ): Vector[ContentBlock] = {
    // fresh copy — the reference reloads the serialized root (blocks.ts:66),
    // then drops the noise subtrees; the copy leaves them out instead
    val drop: Element => Boolean =
      if (dropSelectors.isEmpty) defaultDropMatch
      else Selector((DefaultDropSelectors ++ dropSelectors).mkString(", ")).matches
    blocksIn(copyKept(doc, drop), maxBlocks, includeHtml)
  }

  /** The blocks below `container`, the content container of an already
    * pruned copy. The walk stops at `maxBlocks` blocks. */
  private[content] def blocksIn(
      container: Element,
      maxBlocks: Int,
      includeHtml: Boolean
  ): Vector[ContentBlock] = {
    val blocks = Vector.newBuilder[ContentBlock]
    var count = 0
    if (maxBlocks > 0) container.firstDescendant { el =>
      val tagName = el.tag

      // type via ordered selector table (first match wins; fast tag dispatch
      // when no class/role/data-ad attribute can trigger rules 1-4)
      var blockType = blockTypeOf(el)
      var level: Option[Int] = None
      tagName match {
        case t if t.length == 2 && t.charAt(0) == 'h' && t.charAt(1) >= '1' && t.charAt(1) <= '6' =>
          blockType = "heading"; level = Some(t.charAt(1) - '0')
        case _ =>
      }

      val isBlockTag = blockType != "unknown" || nonTypedBlockTags.contains(tagName)
      if (isBlockTag) {
        val text = Js.trim(el.text())
        if (text.nonEmpty) {
          val hasBlockChildren = hasBlockChild(el)
          if (!hasBlockChildren) {
            // parents nearest-first, tag-mapped, reversed → root-first (blocks.ts:133-138)
            val parentTags = el.ancestors.map(_.tag).reverse
            var attrs = Map.empty[String, String]
            if (blockType == "media") {
              val img = if (el.tag == "img") Some(el) else Selector("img").firstIn(el)
              img match {
                case Some(im) =>
                  im.attr("alt").filter(_.nonEmpty).foreach(v => attrs += ("alt" -> v))
                  im.attr("src").filter(_.nonEmpty).foreach(v => attrs += ("src" -> v))
                case None =>
                  val video = if (el.tag == "video") Some(el) else Selector("video").firstIn(el)
                  video.foreach { v =>
                    val src = v.attr("src").filter(_.nonEmpty)
                      .orElse(Selector("source").firstIn(v).flatMap(_.attr("src")).filter(_.nonEmpty))
                    src.foreach(s => attrs += ("src" -> s))
                    v.attr("poster").filter(_.nonEmpty).foreach(p => attrs += ("poster" -> p))
                  }
              }
            }
            blocks += ContentBlock(
              blockType = if (blockType == "unknown") "paragraph" else blockType,
              text = text,
              level = level,
              html = if (includeHtml) Some(el.innerHtml).filter(_.nonEmpty) else None,
              attrs = attrs,
              parentTags = parentTags,
              depth = parentTags.length
            )
            count += 1
          }
        }
      }
      count >= maxBlocks
    }
    blocks.result()
  }
}
