package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import scala.io.Source

/** The fold's output rows are pinned by digest: `fold_identity.tsv` holds the
  * SHA-256 of every `FoldCorpus` document's `scrapeAny` row. A change to the
  * DOM layer, an extractor or the block parser that is meant to be a pure
  * speed-up must leave every digest unchanged. */
class FoldIdentitySpec extends AnyFunSuite {

  private lazy val pinned: Map[String, String] = {
    val in = getClass.getResourceAsStream("/fold_identity.tsv")
    try Source.fromInputStream(in, "UTF-8").getLines().map { l =>
      val Array(id, h) = l.split("\t", -1)
      id -> h
    }.toMap
    finally in.close()
  }

  test("fixture covers every corpus document") {
    assert(pinned.keySet == FoldCorpus.all.map(_.id).toSet)
  }

  test("scrapeAny rows of the PagesGen pages match their pinned digests") {
    val drift = FoldCorpus.pages.filter(d => FoldCorpus.digest(d) != pinned(d.id)).map(_.id)
    assert(drift.isEmpty, s"fold output drift on ${drift.size} pages: ${drift.take(10)}")
  }

  test("scrapeAny rows of the adversarial documents match their pinned digests") {
    val drift = FoldCorpus.adversarial.filter(d => FoldCorpus.digest(d) != pinned(d.id)).map(_.id)
    assert(drift.isEmpty, s"fold output drift on ${drift}")
  }
}
