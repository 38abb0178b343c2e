package graft.extract

import graft.util.Js

/**
 * C1–C7 — main-content extraction, re-expressing
 * `/root/reference/src/extractors/content.ts:22-106` (priority 50):
 * Readability parse → markdown conversion → 50k truncation → textContent /
 * excerpt / wordCount / contentType; body-text fallback when Readability
 * yields nothing.
 */
object ContentExtractor extends Extractor {
  val name = "content"
  val priority = 50

  def extract(ctx: ExtractionContext): Partial = {
    if (!ctx.extractContent) return Partial()

    Readability.parse(ctx.doc, ctx.finalUrl) match {
      case Some(article) if article.hasContent =>
        var content = Markdown.fromElement(article.contentDom)
        val maxLength = ctx.maxContentLength
        if (content.length > maxLength)
          content = content.substring(0, maxLength) + "\n\n[Content truncated...]"

        val textContent = Js.trim(article.textContent)
        val excerpt = createExcerpt(textContent)
        val wordCount = Js.countTokens(textContent)
        val contentType = ContentTypeDetect.detect(ctx)

        Partial(
          content = Some(content),
          textContent = Some(textContent),
          excerpt = Some(article.excerpt.filter(_.nonEmpty).getOrElse(excerpt)),
          wordCount = Some(wordCount),
          contentType = Some(contentType),
          // Readability may provide better values than meta tags (content.ts:73-77)
          title = Some(article.title).filter(_.nonEmpty),
          author = article.byline.filter(_.nonEmpty),
          siteName = article.siteName.filter(_.nonEmpty)
        )
      case _ =>
        extractFallback(ctx)
    }
  }

  /** content.ts:81-96 — body-text fallback. */
  private def extractFallback(ctx: ExtractionContext): Partial = {
    val body = ctx.doc.body
    val content = Markdown.fromElement(body)
    val textContent = Js.trim(Js.collapseWsAll(body.text()))
    Partial(
      content = Some(content.take(ctx.maxContentLength)),
      textContent = Some(textContent),
      excerpt = Some(createExcerpt(textContent)),
      wordCount = Some(Js.countTokens(textContent)),
      contentType = Some("unknown")
    )
  }

  /** content.ts:98-106 — ≤300 chars, break at last space, append `...`. */
  def createExcerpt(text: String, maxLength: Int = 300): String = {
    if (text.length <= maxLength) return text
    val truncated = text.substring(0, maxLength)
    val lastSpace = truncated.lastIndexOf(' ')
    (if (lastSpace > 0) truncated.substring(0, lastSpace) else truncated) + "..."
  }
}
