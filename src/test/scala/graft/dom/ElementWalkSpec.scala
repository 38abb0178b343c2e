package graft.dom

import org.scalatest.funsuite.AnyFunSuite
import graft.content.BlockParser
import graft.extract.{ExtractionContext, LinksExtractor, Readability}
import graft.feed.XmlParser
import graft.pipeline.FoldCorpus

/** The recursive descendant walks against the explicit-stack iterator they
  * replaced ([[WalkOracle]]): same elements, same order, same first match,
  * on every `FoldCorpus` page; and no StackOverflowError at the deepest tree
  * the parser builds, or on an XML tree far deeper than the recursion. */
class ElementWalkSpec extends AnyFunSuite {

  private lazy val trees: Seq[(String, DomDoc)] =
    FoldCorpus.all.map(d => d.id -> HtmlParser.parse(d.html))

  /** The root, the body and every 40th element of each tree. */
  private def roots(doc: DomDoc): Seq[Element] = {
    val all = WalkOracle.descendants(doc.html).toVector
    Seq(doc.html, doc.body) ++ all.indices.filter(_ % 40 == 0).map(all)
  }

  private def sameElements(a: Seq[Element], b: Seq[Element]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => x eq y }

  test("foreachDescendant and descendantsWhere visit in the iterator's order") {
    trees.foreach { case (id, doc) =>
      roots(doc).foreach { root =>
        val seen = Vector.newBuilder[Element]
        root.foreachDescendant(seen += _)
        assert(sameElements(seen.result(), WalkOracle.descendants(root).toVector), id)
        assert(sameElements(root.descendantsWhere(_.tag == "p").toVector, WalkOracle.tagged(root, "p")), id)
      }
    }
  }

  test("firstDescendant returns the iterator's first match, or null") {
    val preds: Seq[Element => Boolean] = Seq(
      _.tag == "p", _.tag == "a", _.tag == "link", _.attrs.contains("class"),
      _.tag == "no-such-tag", _.children.isEmpty)
    trees.foreach { case (id, doc) =>
      roots(doc).foreach { root =>
        preds.foreach { p =>
          val want = WalkOracle.descendants(root).find(p).orNull
          assert(root.firstDescendant(p) eq want, id)
        }
      }
    }
  }

  test("firstDescendant stops at the first match") {
    val doc = HtmlParser.parse("<div><p>a</p><p>b</p></div><p>c</p>")
    var visited = 0
    val hit = doc.body.firstDescendant { e => visited += 1; e.tag == "p" }
    assert(hit.text() == "a" && visited == 2)
  }

  test("Selector.findIn / firstIn equal the iterator versions") {
    val sels = Seq("p", "a[href]", "article, main, [role=\"main\"], .content, #content",
      "[class*=\"nav\"]", "meta[property=\"og:type\"]", ".lead", "div>p").map(Selector(_))
    trees.foreach { case (id, doc) =>
      sels.foreach { sel =>
        assert(sameElements(sel.findIn(doc.html), WalkOracle.findIn(sel, doc.html)), id)
        assert(sel.firstIn(doc.html).orNull eq WalkOracle.firstIn(sel, doc.html).orNull, id)
      }
    }
  }

  test("hasClass == classList.contains") {
    val classes = Seq("", "a", "a b", " a\tb\n", "ab a", "xa ax", "a-b a", "\u000ba\u000b", "A")
    classes.foreach { c =>
      val e = new Element("div")
      e.attrs("class") = c
      Seq("a", "b", "ab", "A", "a-b", "x", "").foreach { cls =>
        assert(e.hasClass(cls) == e.classList.contains(cls), s"class=${c.map(_.toInt)} cls=$cls")
      }
    }
    assert(!new Element("div").hasClass("a"))
  }

  /** Runs `body` on a new thread with the JVM's default stack size — the
    * stack a Spark task thread gets — and rethrows what it threw. */
  private def onDefaultStack(body: => Unit): Unit = {
    var failure: Throwable = null
    val t = new Thread(() => try body catch { case e: Throwable => failure = e })
    t.start()
    t.join()
    if (failure != null) throw failure
  }

  test("walks, Readability, BlockParser and links run at MaxTreeDepth without a StackOverflowError") {
    // main, the divs, p and a fill the parser's open-element stack exactly
    val n = HtmlParser.MaxTreeDepth - 3
    val para = "A sentence with words, commas, and enough text to be scored as content. " * 10
    val html = "<html><head><title>Deep</title></head><body><main>" + "<div class=\"content\">" * n +
      s"<p>$para <a href=\"/deep\">deep link</a></p>" + "</div>" * n + "</main></body></html>"
    val doc = HtmlParser.parse(html)
    var depth = 0
    var e: Element = doc.html.firstDescendant(_.tag == "a")
    while (e ne doc.body) { depth += 1; e = e.parent }
    assert(depth == HtmlParser.MaxTreeDepth)
    onDefaultStack {
      assert(Selector("p").findIn(doc.html).length == 1)
      assert(Selector("a[href]").firstIn(doc.html).isDefined)
      assert(Readability.parse(doc, "https://deep.example.com/p").isDefined)
      assert(BlockParser.parseBlocks(doc).nonEmpty)
      val ctx = ExtractionContext("https://deep.example.com/p", "https://deep.example.com/p", doc)
      assert(LinksExtractor.extract(ctx).links.exists(_.exists(_.url == "https://deep.example.com/deep")))
    }
  }

  test("a tree deeper than the recursion bound is walked on the explicit stack, in order") {
    val n = 20000
    val xml = "<r>" + "<a><b/>" * n + "<c>x</c>" + "</a>" * n + "</r>"
    onDefaultStack {
      val root = XmlParser.parse(xml)
      assert(XmlParser.find(root, "b").length == n)
      assert(XmlParser.findFirst(root, "c").isDefined)
      assert(root.firstDescendant(_.tag == "missing") == null)
      val seen = Vector.newBuilder[Element]
      root.foreachDescendant(seen += _)
      assert(sameElements(seen.result(), WalkOracle.descendants(root).toVector))
    }
  }
}
