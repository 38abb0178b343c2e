package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import graft.ops.TextOps

/** Documents that pin the per-document extraction fold (`scrapeAny`): the
  * first 300 default and 100 heavy `PagesGen` pages plus hand-written pages
  * aimed at the fold's single-walk and single-copy paths — dropped
  * `<body>`/`<head>`, favicon and metadata probes in odd places, content-type
  * signals, Readability retries and tokenizer corner cases. */
object FoldCorpus {

  final case class Doc(id: String, url: String, html: String)

  private val para =
    "The committee reviewed the annual figures in detail, and the auditors signed off on every line of the ledger. " +
      "Several members asked about the regional offices, the delayed shipments, and the new warehouse lease. "
  private def long(n: Int): String = para * n

  val adversarial: Seq[Doc] = Seq(
    Doc("body-hidden", "https://adv.example.com/a/body-hidden",
      s"<html><head><title>Hidden body</title></head><body hidden><main><p>${long(4)}</p><nav><a href='/x'>Nav link</a></nav></main><p hidden>gone</p></body></html>"),
    Doc("body-aria-hidden", "https://adv.example.com/a/body-aria",
      s"""<html><head><title>Aria body</title></head><body aria-hidden="true"><article><h1>Heading</h1><p>${long(3)}</p><script>var x=1;</script><p>tail text here</p></article></body></html>"""),
    Doc("body-hidden-no-container", "https://adv.example.com/a/body-hidden-plain",
      s"<html><head><title>Plain</title></head><body hidden><div><p>${long(3)}</p><ul><li>one item</li><li>two item</li></ul><div hidden><p>hidden para</p></div></div></body></html>"),
    Doc("head-hidden", "https://adv.example.com/a/head-hidden",
      s"""<html><head hidden><title>Hidden head</title><meta name="description" content="desc"><link rel="icon" href="/h.png"></head><body><article><p>${long(3)}</p></article></body></html>"""),
    Doc("html-hidden", "https://adv.example.com/a/html-hidden",
      s"<html hidden><head><title>Hidden html</title></head><body><section><p>${long(3)}</p></section></body></html>"),
    Doc("noscript-script-between", "https://adv.example.com/a/noscript",
      s"""<html><head><title>Lazy images</title></head><body><article><p>${long(3)}</p><img src="data:image/gif;base64,R0lGODlhAQABAAAAACw=" data-src="lazy.jpg" class="lazy"><script>load()</script><noscript><img src="real.jpg" alt="Real"></noscript><p>${long(2)}</p></article></body></html>"""),
    Doc("noscript-adjacent", "https://adv.example.com/a/noscript2",
      s"""<html><head><title>Lazy images 2</title></head><body><article><p>${long(3)}</p><img src="placeholder.gif" srcset="p.gif 1x"><noscript><img src="fallback.jpg"></noscript></article></body></html>"""),
    Doc("favicon-in-body", "https://adv.example.com/a/favicon-body",
      s"""<html><head><title>Favicon in body</title></head><body><link rel="icon" href="/body-icon.png"><p>${long(2)}</p></body></html>"""),
    Doc("favicon-empty-first", "https://adv.example.com/a/favicon-empty",
      s"""<html><head><title>Empty icon</title><link rel="icon" href=""><link rel="icon" href="/second.png"><link rel="shortcut icon" href="/short.ico"></head><body><p>${long(2)}</p></body></html>"""),
    Doc("favicon-empty-first-only", "https://adv.example.com/a/favicon-empty-only",
      s"""<html><head><title>Empty icon only</title><link rel="icon" href=""><link rel="icon" href="/second.png"></head><body><p>${long(2)}</p></body></html>"""),
    Doc("favicon-cascade", "https://adv.example.com/a/favicon-cascade",
      s"""<html><head><title>Cascade</title><link rel="icon" sizes="32x32" href="/32.png"><link rel="apple-touch-icon" href="/apple.png"><link rel="icon" sizes="96x96" href="/96.png"><link rel="icon" type="image/svg+xml" href=""><link rel="ICON" href="/upper.png"></head><body><p>${long(2)}</p></body></html>"""),
    Doc("favicon-absolute", "https://adv.example.com/a/favicon-abs",
      s"""<html><head><title>Absolute</title><link rel="apple-touch-icon" sizes="180x180" href="https://cdn.example.net/i.png"><a rel="icon" href="/not-a-link.png">x</a></head><body><p>${long(2)}</p></body></html>"""),
    Doc("favicon-none", "https://adv.example.com:8443/a/favicon-none",
      s"""<html><head><title>No icon</title><link rel="stylesheet" href="/s.css"></head><body><p>${long(2)}</p></body></html>"""),
    Doc("two-og-type", "https://adv.example.com/a/og",
      s"""<html><head><title>Two og</title><meta property="og:type" content="website"><meta property="og:type" content="article"></head><body><div><p>${long(3)}</p></div></body></html>"""),
    Doc("og-type-article-second-empty", "https://adv.example.com/a/og2",
      s"""<html><head><title>Og article</title><meta property="og:type"><meta property="og:type" content="NEWS"></head><body><div><p>${long(3)}</p></div></body></html>"""),
    Doc("og-type-news", "https://adv.example.com/a/og3",
      s"""<html><head><title>Og news</title><meta property="og:type" content="News"></head><body><div><p>${long(3)}</p></div></body></html>"""),
    Doc("add-to-cart-button", "https://shop.example.com/item/7",
      s"""<html><head><title>Shop item</title></head><body><div><p>${long(3)}</p><button type="button">Add to cart</button></div></body></html>"""),
    Doc("add-in-nested-button", "https://shop.example.com/item/8",
      s"""<html><head><title>Shop item 2</title></head><body><div><p>${long(3)}</p><button><span>Add</span> now</button></div></body></html>"""),
    Doc("button-no-add", "https://shop.example.com/item/9",
      s"""<html><head><title>No add</title></head><body><article><p>${long(3)}</p><button>Subscribe</button><span class="BYLINE">x</span></article></body></html>"""),
    Doc("price-class", "https://shop.example.com/item/10",
      s"""<html><head><title>Price</title></head><body><div><p>${long(3)}</p><span class="item-price-tag">$$9</span></div></body></html>"""),
    Doc("price-data-attr", "https://shop.example.com/item/11",
      s"""<html><head><title>Data price</title></head><body><div><p>${long(3)}</p><span data-price="9">nine</span></div></body></html>"""),
    Doc("price-itemprop", "https://shop.example.com/item/12",
      s"""<html><head><title>Itemprop</title><meta itemprop="price" content="3"></head><body><div><p>${long(3)}</p></div></body></html>"""),
    Doc("cart-buy-class", "https://shop.example.com/item/13",
      s"""<html><head><title>Buy</title></head><body><div><p>${long(3)}</p><a class="buynow" href="/b">Buy</a></div></body></html>"""),
    Doc("article-dateline", "https://news.example.com/story/1",
      s"""<html><head><title>Story</title></head><body><article><div class="post-date">May 1</div><p>${long(3)}</p></article></body></html>"""),
    Doc("article-time", "https://news.example.com/story/2",
      s"""<html><head><title>Story 2</title></head><body><article><p>${long(3)}</p><time datetime="2024-02-03">Feb 3</time></article></body></html>"""),
    Doc("article-no-dateline", "https://news.example.com/story/3",
      s"""<html><head><title>Story 3</title></head><body><article><p>${long(3)}</p><time>no attr</time></article></body></html>"""),
    Doc("github-repo", "https://github.com/acme/widget",
      s"""<html><head><title>acme/widget</title><meta property="og:type" content="object"></head><body><div><p>${long(3)}</p></div></body></html>"""),
    Doc("github-object-meta", "https://github.com/acme/widget/tree/main/src",
      s"""<html><head><title>tree</title><meta property="og:type" content="object"></head><body><div><p>${long(3)}</p></div></body></html>"""),
    Doc("docs-url", "https://docs.example.com/docs/intro",
      s"""<html><head><title>Docs</title></head><body><div class="price"><p>${long(3)}</p></div></body></html>"""),
    Doc("meta-probes", "https://adv.example.com/a/meta",
      s"""<html lang=""><head><title>Meta probes</title><link rel="canonical" href=""><link rel="canonical" href="https://adv.example.com/canon"><meta property="og:url" content="https://adv.example.com/og"></head><body><p>${long(2)}</p><a rel="author" href="/me">  </a><span rel="author"> Jane Roe </span><time datetime="">x</time><time datetime="2020-01-01">y</time></body></html>"""),
    Doc("meta-author-first-wins", "https://adv.example.com/a/meta2",
      s"""<html><head><title>Meta 2</title></head><body><div rel="author">Outer <b rel="author">Inner</b></div><p>${long(2)}</p><link rel="canonical" href="/rel-canon"></body></html>"""),
    Doc("duplicate-attrs", "https://adv.example.com/a/dups",
      s"""<html><head><title>Dups</title><link rel="icon" rel="stylesheet" href="/dup.png" href="/second.png"><meta property="og:type" property="x" content="article"></head><body><div class="price" class="none" hidden hidden><p>${long(2)}</p></div><p CLASS="a" class="b">${long(2)}</p></body></html>"""),
    Doc("mixed-case", "https://adv.example.com/a/case",
      s"""<HTML LANG="EN"><HEAD><TITLE>Case</TITLE><LINK REL="icon" HREF="/CASE.PNG"><META Property="og:type" CONTENT="Article"></HEAD><BODY><ARTICLE><P Class="Lead">${long(3)}</P><Time DateTime="2021-01-01">t</Time></ARTICLE></BODY></HTML>"""),
    Doc("non-ascii-names", "https://adv.example.com/a/unicode",
      s"""<html><head><title>Unicode</title></head><body><div><İmg src="x.png"><ñu data-ñ="1">ñ text</ñu><p>${long(3)}</p><x-Élan CLASS="Price">p</x-Élan></div></body></html>"""),
    Doc("text-corners", "https://adv.example.com/a/text",
      s"""<html><head><title>Text &amp; corners</title></head><body><p>a < b &lt; c <3 </p> x</ y <!-- c --> <![CDATA[z]]> <?pi?> tail</p><textarea>&lt;raw&gt;</textarea><p>${long(3)}</p></body></html>"""),
    Doc("end-tag-spaces", "https://adv.example.com/a/endtags",
      s"""<html><head><title>End tags</title></head><body><div><span>a</SPAN >b</div><p>${long(3)}</p></body></html>"""),
    Doc("readability-2-attempts", "https://adv.example.com/a/retry2",
      s"""<html><head><title>Retry two</title></head><body><div class="comment"><p>${long(4)}</p></div></body></html>"""),
    Doc("readability-3-attempts", "https://adv.example.com/a/retry3",
      s"""<html><head><title>Retry three</title></head><body><div class="share"><div class="hid"><p>${long(4)}</p></div></div></body></html>"""),
    Doc("readability-4-attempts", "https://adv.example.com/a/retry4",
      s"""<html><head><title>Retry four</title></head><body><div><p>Short text, one line.</p><p>Another short line.</p></div></body></html>"""),
    Doc("readability-4-attempts-success", "https://adv.example.com/a/retry4ok",
      s"""<html><head><title>Retry four ok</title></head><body><div class="wrap"><div><p><a href="/l1">${long(2)}</a></p></div><div><p><a href="/l2">${long(2)}</a></p></div></div></body></html>"""),
    Doc("readability-retry-noscript", "https://adv.example.com/a/retry-noscript",
      s"""<html><head><title>Retry noscript</title></head><body><div class="comment"><p>${long(3)}</p><img src="ph.gif"><script>x()</script><noscript><img src="real-retry.jpg"></noscript><img alt="no source"><font>f</font><p>a<br><br>b</p></div></body></html>"""),
    Doc("readability-retry-head-mutation", "https://adv.example.com/a/retry-head",
      s"""<html><head><title>Retry head</title><meta name="x" hidden></head><body><div class="sidebar"><p>${long(1)}</p><font>font text</font><br><br>after brs<style>p{}</style></div></body></html>"""),
    Doc("prep-noscript-holds-style-font-br", "https://adv.example.com/a/prep-noscript",
      s"""<html><head><title>Noscript holds</title></head><body><article><p>${long(3)}</p><noscript><style>p{color:red}</style><font>f</font><br><br>after<meta name="description" content="hidden meta"></noscript><p>${long(2)}</p></article></body></html>"""),
    Doc("prep-nested-fonts", "https://adv.example.com/a/prep-fonts",
      s"""<html><head><title>Nested fonts</title></head><body><div><p><font color="red">outer <font size="2">inner <font>innermost</font></font> tail</font> ${long(3)}</p></div></body></html>"""),
    Doc("prep-br-runs-in-p", "https://adv.example.com/a/prep-brs",
      s"""<html><head><title>Br runs</title></head><body><div><p>first<br><br>second<br><br><br>third<br>fourth ${long(3)}</p><p>a<br> <br>b</p></div></body></html>"""),
    Doc("prep-script-in-noscript", "https://adv.example.com/a/prep-script",
      s"""<html><head><title>Script in noscript</title><noscript><script type="application/ld+json">{"@context":"https://schema.org","@type":"Article","headline":"Inside noscript"}</script></noscript></head><body><article><p>${long(3)}</p><noscript><script>track()</script><img src="n.jpg"></noscript></article></body></html>"""),
    Doc("prep-placeholder-then-noscript-image", "https://adv.example.com/a/prep-placeholder",
      s"""<html><head><title>Placeholder</title></head><body><article><p>${long(3)}</p><font><img src="ph.gif" data-src="lazy.png"></font> <noscript> <font><img src="real.jpg" alt="r"></font> </noscript><p>${long(2)}</p></article></body></html>"""),
    Doc("blocks-content-before-main", "https://adv.example.com/a/content-main",
      s"""<html><head><title>Content first</title></head><body><div class="nav content"><p>${long(2)}</p></div><main><p>${long(2)}</p></main></body></html>"""),
    Doc("blocks-container-in-dropped-subtree", "https://adv.example.com/a/dropped-container",
      s"""<html><head><title>Dropped container</title></head><body><div hidden><article><p>hidden article</p></article></div><section><p>${long(2)}</p><main><p>${long(2)}</p></main></section></body></html>"""),
    Doc("empty-body", "https://adv.example.com/a/empty", "<html><head><title>Only title</title></head><body></body></html>"),
    Doc("blocks-drop-and-container", "https://adv.example.com/a/blocks",
      s"""<html><head><title>Blocks</title></head><body><div id="content"><h2>Sub</h2><p>${long(2)}</p><div class="ad"><p>ad text</p></div><iframe>frame</iframe><svg><text>svg</text></svg><canvas>c</canvas><figure><img src="f.png" alt="fig"></figure><video poster="v.png"><source src="v.mp4">video</video><p aria-hidden="false">visible</p><p aria-hidden="true">invisible</p></div></body></html>""")
  )

  def pages: Seq[Doc] =
    (0 until 300).map { i =>
      val p = PagesGen.makePage(i.toLong)
      Doc(s"default-$i", p.url, new String(p.html, UTF_8))
    } ++ (0 until 100).map { i =>
      val p = PagesGen.makePage(i.toLong, heavy = true)
      Doc(s"heavy-$i", p.url, new String(p.html, UTF_8))
    }

  def all: Seq[Doc] = pages ++ adversarial

  /** Canonical rendering of a row: every field, collections spelled out so a
    * change of collection class cannot alter the digest by itself. */
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => s"${s.length}:$s"
    case None => "None"
    case Some(x) => s"Some(${render(x)})"
    case m: Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case p: Product => p.productPrefix + p.productIterator.map(render).mkString("(", ",", ")")
    case x => x.toString
  }

  def digest(d: Doc): String =
    TextOps.sha256Hex(render(ExtractJob.scrapeAny(d.url, d.html.getBytes(UTF_8))))

  /** Regenerates `fold_identity.tsv` (run via `sbt "Test/runMain
    * graft.pipeline.FoldCorpus <out.tsv>"`). Regenerate only when the fold's
    * output changes on purpose. */
  def main(args: Array[String]): Unit = {
    val out = new java.io.PrintWriter(args(0), "UTF-8")
    try all.foreach(d => out.println(s"${d.id}\t${digest(d)}")) finally out.close()
  }
}
