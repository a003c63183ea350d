package graft.html

/** Out-link extraction: the edges of the web graph a corpus pipeline feeds
  * into URL frontiers and link-based quality priors (Common-Crawl publishes
  * exactly this as its host/domain graph; harmonic-centrality and PageRank
  * ranks derived from it are standard crawl-filtering signals). ADDITIVE
  * surface — the reference has no HTML code. Tags come from the
  * [[Tokenizer]]. */
object Links {

  /** `<a href>` targets in document order, resolved to absolute URLs.
    *
    *  - a first `<base href>` (HTML5: the FIRST wins) rebases every
    *    subsequent and PRECEDING relative link — per spec the base applies
    *    document-wide, and browsers resolve lazily, so links before the
    *    base tag still use it; this scanner replicates that by collecting
    *    raw hrefs first and resolving after the walk;
    *  - fragments are dropped (`#section` is the same document);
    *  - `javascript:` / `mailto:` / `data:` / `tel:` schemes are not
    *    links to documents and are skipped;
    *  - fragment-only and empty hrefs are skipped. */
  def extract(html: String, pageUrl: String): Seq[String] =
    walkAnchors(html, pageUrl, withText = false).map(_._1)

  def extract(bytes: Array[Byte], pageUrl: String): Seq[String] =
    extract(Boilerplate.decode(bytes), pageUrl)

  /** `(resolved href, anchor text)` pairs in document order — the same
    * edges as [[extract]], each keyed to its element's inner text. The
    * per-TARGET aggregation of these strings (how the rest of the web
    * describes a page — see [[Anchors.profile]]) is a classic relevance /
    * quality / page-description signal (Craswell et al., SIGIR 2001) and a
    * standard training-target surface for retrieval corpora.
    *
    * Href rules are [[extract]]'s (first-wins `<base>` resolved after the
    * walk, http(s) whitelist, fragments dropped). Anchor text is the
    * element's [[InnerText]], collected during the same walk. HTML5 forbids
    * nested `<a>` — browsers auto-close the open anchor when the next one
    * opens, and this walk replicates that; an anchor still open at EOF
    * runs to the end of the document (spec: it would run to the implied
    * `</body>`); an href-less `<a name=…>` is a named target, not a link,
    * so its text is no edge's anchor. */
  def extractAnchors(html: String, pageUrl: String): Seq[(String, String)] =
    walkAnchors(html, pageUrl, withText = true)

  /** One walk body for [[extract]] and [[extractAnchors]] (the two cannot
    * drift), parameterized on whether anchor inner text is collected —
    * href-only extraction must not pay for decoding every anchor body just
    * to throw the string away. */
  private def walkAnchors(html: String, pageUrl: String,
      withText: Boolean): Seq[(String, String)] = {
    var baseHref: String = null
    val raw = Vector.newBuilder[(String, String)]
    var openHref: String = null
    var text: InnerText = null
    def close(): Unit =
      if (openHref != null) {
        raw += ((openHref, if (text == null) "" else text.toString))
        openHref = null
        text = null
      }
    val t = new Tokenizer(html)
    while (t.next()) t.kind match {
      case Tokenizer.Text => if (text != null) Entities.decodeTo(html, t.from, t.until, text)
      case Tokenizer.StartTag | Tokenizer.EndTag =>
        t.name match {
          case "a" =>
            close() // HTML5 auto-close: a new <a> ends the open one
            if (t.kind == Tokenizer.StartTag) t.attrs.get("href").foreach { h =>
              openHref = h
              if (withText) text = new InnerText
            }
          case "br" => if (text != null) text.break()
          case "base" =>
            if (t.kind == Tokenizer.StartTag && baseHref == null) t.attrs.get("href").foreach(h => baseHref = h)
          case _ =>
        }
      case _ =>
    }
    close()
    val base = if (baseHref == null) pageUrl else resolve(pageUrl, baseHref)
    raw.result().flatMap { case (h, a) => resolveLink(base, h).map(u => (u, a)) }
  }

  def extractAnchors(bytes: Array[Byte], pageUrl: String): Seq[(String, String)] =
    extractAnchors(Boilerplate.decode(bytes), pageUrl)

  /** Index of the ':' ending a valid RFC 3986 scheme prefix
    * (ASCII `ALPHA *( ALPHA / DIGIT / "+" / "-" / "." ) ":"`), or -1 when
    * the string has no scheme and is a relative reference. ASCII-only on
    * purpose — `Char.isLetter` is Unicode-wide and would accept schemes the
    * grammar forbids. */
  private def schemeEndOf(s: String): Int = {
    val colon = s.indexOf(':')
    def alpha(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    if (colon <= 0 || !alpha(s.charAt(0))) return -1
    var i = 1
    while (i < colon) {
      val c = s.charAt(i)
      if (!(alpha(c) || (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.')) return -1
      i += 1
    }
    colon
  }

  /** One href against the (already absolute) base: None for non-document
    * schemes, fragment-only and empty targets. Scheme handling is a
    * WHITELIST — only http(s) URLs are edges a crawler follows; `about:`,
    * `intent:`, `ftp:`, app schemes etc. would otherwise either pollute the
    * link graph verbatim or (without `://`) be glued onto the base path as
    * garbage path-relative URLs. */
  def resolveLink(base: String, href0: String): Option[String] = {
    val hash = href0.indexOf('#')
    val href = (if (hash >= 0) href0.substring(0, hash) else href0).trim
    if (href.isEmpty) return None
    val colon = schemeEndOf(href)
    if (colon > 0) {
      val scheme = href.substring(0, colon).toLowerCase(java.util.Locale.ROOT)
      if (scheme != "http" && scheme != "https") return None
      return Some(href) // absolute http(s) reference, emitted verbatim
    }
    Some(resolve(base, href))
  }

  /** RFC 3986 §5 reference resolution for the http(s) subset a crawl
    * meets: absolute, protocol-relative (`//host/x`), root-relative
    * (`/x`), path-relative (`x/y`, `../x`, `./x`) and query-only (`?q`)
    * references, with §5.2.4 dot-segment removal. `base` must itself be
    * absolute (`scheme://authority/path`). */
  def resolve(base: String, ref: String): String = {
    // absolute iff it STARTS with a scheme (RFC 3986 §4.3) — a mere
    // "://" substring also matches relative hrefs that embed a URL in
    // their query ("redirect?next=https://other.com/")
    if (schemeEndOf(ref) > 0) return ref
    val schemeEnd = base.indexOf("://")
    if (schemeEnd < 0) return ref                             // unresolvable base
    val scheme = base.substring(0, schemeEnd)
    if (ref.startsWith("//")) return scheme + ":" + ref       // protocol-relative
    val authStart = schemeEnd + 3
    val pathStart = {
      val slash = base.indexOf('/', authStart)
      if (slash < 0) base.length else slash
    }
    val origin = base.substring(0, pathStart)                 // scheme://host[:port]
    val basePathAndQuery = base.substring(pathStart)
    val baseQ = basePathAndQuery.indexOf('?')
    val basePath = if (baseQ < 0) basePathAndQuery else basePathAndQuery.substring(0, baseQ)
    // dot-segment removal applies to the PATH only (§5.2.2 splits the
    // reference first): a '?'-tail rides along untouched, so query values
    // embedding URLs ("?next=https://x/") keep their double slash
    val refQ = ref.indexOf('?')
    val (refPath, refQuery) =
      if (refQ < 0) (ref, "") else (ref.substring(0, refQ), ref.substring(refQ))
    if (ref.startsWith("/")) return origin + removeDotSegments(refPath) + refQuery
    if (ref.startsWith("?"))                                   // query-only
      return origin + (if (basePath.isEmpty) "/" else basePath) + ref
    // path-relative: merge with everything up to the base path's last '/'
    val dir = {
      val lastSlash = basePath.lastIndexOf('/')
      if (lastSlash < 0) "/" else basePath.substring(0, lastSlash + 1)
    }
    origin + removeDotSegments(dir + refPath) + refQuery
  }

  /** RFC 3986 §5.2.4 — `.` and `..` segments resolved; `..` never climbs
    * above the root; a trailing `/`, `/.` or `/..` keeps the directory
    * form. Empty segments (double slashes) collapse — the crawl subset. */
  private def removeDotSegments(path: String): String = {
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    path.split("/", -1).foreach {
      case "" | "." => // collapse empty (leading/double slashes) and '.'
      case ".."     => if (out.nonEmpty) out.remove(out.length - 1)
      case seg      => out += seg
    }
    val dir = path.endsWith("/") || path.endsWith("/.") || path.endsWith("/..")
    val joined = out.mkString("/")
    if (dir && joined.nonEmpty) "/" + joined + "/" else "/" + joined
  }
}

/** Text content of an element as its [[Tokenizer.Text]] tokens stream past
  * (the walk feeds it; raw-text bodies never reach it): character
  * references decoded, whitespace collapsed to single spaces and trimmed,
  * other tags transparent (`bo<b>ld</b>` → `bold`) and `<br>` a word
  * break — the same inline-tag convention as [[Boilerplate]]'s blocks. */
private[html] final class InnerText extends CharSink {
  private val sb = new java.lang.StringBuilder(32)
  private var pendingSpace = false

  def char(c: Char, at: Int): Unit =
    if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u00a0') {
      if (sb.length > 0) pendingSpace = true
    } else {
      if (pendingSpace) { sb.append(' '); pendingSpace = false }
      sb.append(c)
    }

  def break(): Unit = if (sb.length > 0) pendingSpace = true

  override def toString: String = sb.toString
}
