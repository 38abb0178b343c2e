package graft.dom

import org.scalatest.funsuite.AnyFunSuite
import scala.io.Source

class HtmlParserSpec extends AnyFunSuite {

  def fixture(name: String): String = {
    val in = getClass.getResourceAsStream(s"/scrapex-fixtures/$name")
    require(in != null, s"missing fixture $name")
    val s = Source.fromInputStream(in, "UTF-8").mkString
    in.close(); s
  }

  test("basic structure: implied head/body routing") {
    val doc = HtmlParser.parse("<title>T</title><meta name=\"a\" content=\"b\"><p>Hello</p>")
    assert(doc.selectFirst("title").map(_.text()).contains("T"))
    assert(doc.head.childElements.exists(_.tag == "title"))
    assert(doc.body.childElements.exists(_.tag == "p"))
    assert(doc.selectFirst("p").map(_.text()).contains("Hello"))
  }

  test("attributes: quoted, unquoted, valueless, case folding, first-wins") {
    val doc = HtmlParser.parse("""<div ID=main data-x=1 hidden Class="a b" class="zzz"><span></span></div>""")
    val div = doc.selectFirst("div").get
    assert(div.attr("id").contains("main"))
    assert(div.attr("data-x").contains("1"))
    assert(div.attr("hidden").contains(""))
    assert(div.classList.toSeq == Seq("a", "b"))
  }

  test("entities decode in text and attrs") {
    val doc = HtmlParser.parse("""<p title="Tom &amp; Jerry">a &lt; b &gt; c &amp; d &#65; &#x42; &copy;</p>""")
    val p = doc.selectFirst("p").get
    assert(p.text() == "a < b > c & d A B ©")
    assert(p.attr("title").contains("Tom & Jerry"))
  }

  test("raw text: script content not parsed, style kept") {
    val doc = HtmlParser.parse("""<script>if (a < b) { document.write("<p>x</p>"); }</script><p>real</p>""")
    assert(doc.select("p").length == 1)
    val script = doc.selectFirst("script").get
    assert(script.text().contains("document.write"))
  }

  test("implied end tags: p closed by p and by div; li by li") {
    val doc = HtmlParser.parse("<p>one<p>two<div>three</div><ul><li>a<li>b</ul>")
    val ps = doc.select("p")
    assert(ps.map(_.text()) == Vector("one", "two"))
    val lis = doc.select("li")
    assert(lis.map(_.text()) == Vector("a", "b"))
    assert(lis.forall(_.parent.tag == "ul"))
  }

  test("void elements do not nest") {
    val doc = HtmlParser.parse("<p>a<br>b<img src=\"x.png\">c</p>")
    val p = doc.selectFirst("p").get
    assert(p.text() == "abc")
    assert(doc.selectFirst("img").get.parent.tag == "p")
  }

  test("comments preserved, doctype skipped") {
    val doc = HtmlParser.parse("<!DOCTYPE html><!-- hello --><p>x</p>")
    assert(doc.selectFirst("p").isDefined)
    assert(doc.outerHtml.contains("<!-- hello -->"))
  }

  test("selector engine: compound forms") {
    val doc = HtmlParser.parse(
      """<meta name="og:x" content="1"><link rel="icon" sizes="32x32" href="/i.png">
        |<div class="nav-bar main">n</div><article role="main">A<a href="#f">f</a></article>
        |<button>Add to cart</button>""".stripMargin)
    assert(doc.selectFirst("""meta[name="og:x"]""").flatMap(_.attr("content")).contains("1"))
    assert(doc.selectFirst("""link[rel="icon"][sizes="32x32"]""").isDefined)
    assert(doc.selectFirst("""[class*="nav"]""").map(_.text()).contains("n"))
    assert(doc.selectFirst("""[role="main"]""").map(_.tag).contains("article"))
    assert(doc.selectFirst("""button:contains("Add")""").isDefined)
    assert(doc.selectFirst("""a[href]""").isDefined)
    assert(doc.select("div, button").length == 2)
  }

  test("closest and ancestors") {
    val doc = HtmlParser.parse("""<nav><div><a href="/x">lnk</a></div></nav><main><a href="/y">ok</a></main>""")
    val links = doc.select("a[href]")
    val skip = Selector("nav, header, footer")
    assert(skip.closest(links(0)).isDefined)
    assert(skip.closest(links(1)).isEmpty)
    assert(links(0).ancestors.map(_.tag) == List("div", "nav", "body", "html"))
  }

  test("serialization round trip") {
    val doc = HtmlParser.parse("""<div class="a"><p>x &amp; y</p><img src="i.png"></div>""")
    val html = doc.body.innerHtml
    assert(html == """<div class="a"><p>x &amp; y</p><img src="i.png"></div>""")
  }

  test("title is RCDATA") {
    val doc = HtmlParser.parse("<title>a &lt; b <not-a-tag></title><p>x</p>")
    assert(doc.selectFirst("title").map(_.text()).contains("a < b <not-a-tag>"))
  }

  test("fixtures parse: messy-blog-post structure") {
    val doc = HtmlParser.parse(fixture("messy-blog-post.html"))
    assert(doc.selectFirst("title").isDefined)
    assert(doc.select("""meta[property="og:title"]""").nonEmpty)
    assert(doc.select("article").nonEmpty || doc.select("main").nonEmpty || doc.select("div").nonEmpty)
  }

  test("fixtures parse: article-real-world metadata present") {
    val doc = HtmlParser.parse(fixture("article-real-world.html"))
    assert(doc.select("""script[type="application/ld+json"]""").nonEmpty)
    assert(doc.selectFirst("""link[rel="canonical"]""").isDefined)
  }

  test("deep clone independence") {
    val doc = HtmlParser.parse("<div><p>x</p></div>")
    val clone = doc.deepClone()
    clone.selectFirst("p").get.remove()
    assert(doc.select("p").nonEmpty)
    assert(clone.select("p").isEmpty)
  }

  test("tables: tr/td implied closes") {
    val doc = HtmlParser.parse("<table><tr><td>a<td>b<tr><td>c</table>")
    assert(doc.select("tr").length == 2)
    assert(doc.select("td").map(_.text()) == Vector("a", "b", "c"))
  }

  test("end tag with a trailing slash closes its element") {
    val doc = HtmlParser.parse("<div><span>a</span/>b</div>")
    assert(doc.body.innerHtml == "<div><span>a</span>b</div>")
    val doc2 = HtmlParser.parse("<div><span>a</span/ junk>b</div>")
    assert(doc2.body.innerHtml == "<div><span>a</span>b</div>")
  }

  test("end tag: uppercase name and whitespace before '>'") {
    val doc = HtmlParser.parse("<div><span>a</SPAN >b</div>")
    assert(doc.body.innerHtml == "<div><span>a</span>b</div>")
  }

  test("uppercase and mixed-case tag and attribute names fold to lowercase") {
    val doc = HtmlParser.parse("""<DIV CLASS="x" Data-Price="9"><SeCtIoN iD=s>t</sEcTiOn></DIV>""")
    val div = doc.body.childElements.next()
    assert(div.tag == "div")
    assert(div.attr("class").contains("x") && div.attr("data-price").contains("9"))
    val sec = div.childElements.next()
    assert(sec.tag == "section" && sec.attr("id").contains("s") && sec.text() == "t")
    // known names resolve to one shared instance per name
    val doc2 = HtmlParser.parse("<div></div><DIV></DIV>")
    val divs = doc2.body.childElements.toVector
    assert(divs(0).tag eq divs(1).tag)
  }

  test("non-ASCII tag names keep Unicode case folding") {
    val doc = HtmlParser.parse("<div><İMG src=x></İmg><x-ÉLAN>e</x-Élan>tail</div>")
    val div = doc.body.childElements.next()
    assert(div.childElements.map(_.tag).toVector == Vector("İMG".toLowerCase, "x-élan"))
    // both end tags matched their start tags, so the tail is the div's own text
    assert(div.children.last.asInstanceOf[TextNode].data == "tail")
  }

  test("attribute names outside the known set are lowercased copies") {
    val doc = HtmlParser.parse("""<p Data-Zzq-Custom="1" ÑAME="2">x</p>""")
    val p = doc.body.childElements.next()
    assert(p.attr("data-zzq-custom").contains("1"))
    assert(p.attr("ÑAME".toLowerCase).contains("2"))
  }

  test("text runs between markup keep every character and decode entities") {
    val doc = HtmlParser.parse("a < b &amp; c <3 </ x<!--c-->d<?pi?>e<")
    assert(doc.body.text() == "a < b & c <3 </ xde<")
  }

  test("a non-ASCII name that lowercases to a void or raw-text tag keeps that tag's rules") {
    // the Kelvin sign lowercases to 'k': these names miss the name table
    val doc = HtmlParser.parse("<div><lin\u212A href=\"/a\"><span>s</span><s\u212Aip>x</s\u212Aip></div>" +
      "<\u212Ascript><b>raw</b></\u212Ascript>")
    val div = doc.body.childElements.next()
    assert(div.childElements.map(_.tag).toVector == Vector("link", "span", "s\u212Aip".toLowerCase))
    assert(div.children.head.asInstanceOf[Element].children.isEmpty)
  }

  test("start tags read their void, raw-text, RCDATA, p-closing and head flags") {
    // basefont and bgsound are head-allowed, so they do not open the body
    val doc = HtmlParser.parse("<html><head><basefont></basefont><bgsound></bgsound><title>a &amp; b</title></head>" +
      "<body><p>one<div>two</div><textarea><i>t</i> &lt;</textarea><xmp><i>x</i></xmp><hr><wbr>end</body></html>")
    assert(doc.head.childElements.map(_.tag).toVector == Vector("basefont", "bgsound", "title"))
    assert(doc.head.childElements.toVector.last.text() == "a & b")
    assert(doc.body.childElements.map(_.tag).toVector == Vector("p", "div", "textarea", "xmp", "hr", "wbr"))
    val ta = doc.body.childElements.toVector(2)
    assert(ta.text() == "<i>t</i> <" && ta.childElements.isEmpty)
    assert(doc.body.childElements.toVector(3).text() == "<i>x</i>")
    assert(doc.body.childElements.toVector(4).children.isEmpty)
  }
}
