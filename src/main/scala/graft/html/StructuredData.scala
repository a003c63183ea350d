package graft.html

/** schema.org structured-data extraction: the raw bodies of
  * `<script type="application/ld+json">` blocks in document order — where
  * real pages carry machine-readable Article/NewsArticle metadata
  * (headline, datePublished, author), the publish-date and authorship
  * surface news-corpus pipelines (CC-NEWS-style) mine. ADDITIVE surface —
  * the reference has no HTML code.
  *
  * Deliberate division of labor: the scanner's ONLY job is to find the
  * blocks without being forged — the JSON itself is returned RAW for
  * Spark's own `from_json` / `get_json_object` (built-in, codegen-friendly,
  * schema-driven) rather than a hand-rolled JSON parser. Script bodies are
  * raw text per HTML5 (no entity decoding, no tag parsing inside), and the
  * type attribute is matched case-insensitively with optional parameters
  * (`application/ld+json; charset=utf-8`). The body is the [[Tokenizer]]'s
  * raw-text token, so blocks inside comments/CDATA can't surface and a
  * `</script` inside a JSON string ends the block exactly as a browser
  * would (the HTML5 script-data state has no escape for it — pages that
  * need it write `<\/script`). */
object StructuredData {

  /** Raw, trimmed JSON-LD block bodies in document order; empty blocks
    * skipped. */
  def jsonLd(html: String): Seq[String] = {
    val out = Vector.newBuilder[String]
    val t = new Tokenizer(html)
    while (t.next())
      if (t.kind == Tokenizer.RawText && t.name == "script" && t.attrs.get("type").exists(isJsonLd)) {
        val body = html.substring(t.from, t.until).trim
        if (body.nonEmpty) out += body
      }
    out.result()
  }

  def jsonLd(bytes: Array[Byte]): Seq[String] =
    jsonLd(Boilerplate.decode(bytes))

  private def isJsonLd(typeAttr: String): Boolean = {
    // MIME type up to an optional parameter section, per RFC 2045
    val mime = {
      val semi = typeAttr.indexOf(';')
      (if (semi >= 0) typeAttr.substring(0, semi) else typeAttr)
        .trim.toLowerCase(java.util.Locale.ROOT)
    }
    mime == "application/ld+json"
  }
}
