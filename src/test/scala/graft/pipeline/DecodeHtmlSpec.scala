package graft.pipeline

import java.nio.charset.StandardCharsets.{ISO_8859_1, US_ASCII, UTF_8}
import org.scalatest.funsuite.AnyFunSuite

/** `ExtractJob.decodeHtml`'s charset sniff: `charset=` matched with the
  * letters case-folded and the `=` exact, then the named charset decodes. */
class DecodeHtmlSpec extends AnyFunSuite {

  private def page(head: String, body: Array[Byte]): Array[Byte] =
    head.getBytes(US_ASCII) ++ body ++ "</p></body></html>".getBytes(US_ASCII)

  test("no charset: UTF-8") {
    val b = page("<html><body><p>", "café".getBytes(UTF_8))
    assert(ExtractJob.decodeHtml(b).contains("café"))
    assert(ExtractJob.decodeHtml(null) == "")
  }

  test("a named charset decodes the page, in any letter case and quoting") {
    Seq("""<meta charset="ISO-8859-1">""", "<meta CHARSET=iso-8859-1>",
        """<meta http-equiv="Content-Type" content="text/html; ChArSeT='latin1'">""").foreach { meta =>
      val b = page(s"<html><head>$meta</head><body><p>", "café".getBytes(ISO_8859_1))
      assert(ExtractJob.decodeHtml(b).contains("café"), meta)
    }
  }

  test("only '=' ends the literal: a control byte 0x1D after `charset` names no charset") {
    // 0x1D | 0x20 == '=': a case fold over every byte read this as charset=utf-16le
    val b = page("<html><head><meta charset\u001dutf-16le></head><body><p>", "café".getBytes(UTF_8))
    assert(ExtractJob.decodeHtml(b) == new String(b, UTF_8))
  }

  test("an unknown charset name falls back to UTF-8") {
    val b = page("<html><head><meta charset=no-such-charset></head><body><p>", "café".getBytes(UTF_8))
    assert(ExtractJob.decodeHtml(b).contains("café"))
  }
}
