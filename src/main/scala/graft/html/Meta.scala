package graft.html

/** Head metadata of a web page: the dedup/curation signals a corpus
  * pipeline reads before (or instead of) the body — the canonical URL is a
  * stronger dedup key than any URL heuristic, the robots directives gate
  * whether a page may be kept at all, and description/og fields are
  * document-level summaries. ADDITIVE surface: the reference has no HTML
  * code; this module follows the HTML5 parsing rules for attributes
  * (quoted/unquoted values, any order, case-insensitive names, character
  * references decoded in values). */
final case class HtmlMeta(
    canonical: String,      // <link rel="canonical" href=…>, "" when absent
    description: String,    // <meta name="description" content=…>
    ogTitle: String,        // <meta property="og:title" content=…>
    ogDescription: String,  // <meta property="og:description" content=…>
    noindex: Boolean,       // <meta name="robots"> content token
    nofollow: Boolean)

object Meta {

  /** Scan `<meta>` and `<link>` tags (first occurrence wins per field, as
    * browsers resolve duplicates) over the whole page — malformed pages
    * put head tags after `<body>` often enough that stopping at `</head>`
    * loses real metadata. Start tags come from the [[Tokenizer]], so
    * commented-out stale metadata never latches and markup-looking text
    * inside attribute values or raw-text/RCDATA bodies can't forge
    * metadata. */
  def extract(html: String): HtmlMeta = {
    var canonical, description, ogTitle, ogDescription: String = null
    var noindex = false
    var nofollow = false
    val t = new Tokenizer(html)
    while (t.next()) if (t.kind == Tokenizer.StartTag) t.name match {
      case "meta" =>
        val a = t.attrs
        // meta names/properties are case-insensitive in the wild
        val key = a.getOrElse("name", a.getOrElse("property", "")).toLowerCase
        val content = a.getOrElse("content", "")
        key match {
          case "description"    => if (description == null) description = content
          case "og:title"       => if (ogTitle == null) ogTitle = content
          case "og:description" => if (ogDescription == null) ogDescription = content
          case "robots" =>
            val tokens = content.toLowerCase.split("[,\\s]+")
            if (tokens.contains("noindex") || tokens.contains("none")) noindex = true
            if (tokens.contains("nofollow") || tokens.contains("none")) nofollow = true
          case _ =>
        }
      case "link" =>
        val a = t.attrs
        // rel is a space-separated TOKEN LIST (rel="canonical alternate")
        val isCanonical = a.getOrElse("rel", "")
          .split("\\s+").exists(_.equalsIgnoreCase("canonical"))
        if (isCanonical && canonical == null)
          a.get("href").foreach(h => canonical = h)
      case _ =>
    }
    HtmlMeta(
      canonical = Option(canonical).getOrElse(""),
      description = Option(description).getOrElse(""),
      ogTitle = Option(ogTitle).getOrElse(""),
      ogDescription = Option(ogDescription).getOrElse(""),
      noindex = noindex,
      nofollow = nofollow)
  }

  def extract(bytes: Array[Byte]): HtmlMeta = extract(Boilerplate.decode(bytes))
}
