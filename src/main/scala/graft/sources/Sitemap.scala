package graft.sources

import graft.html.{Entities, Tokenizer}
import java.nio.charset.StandardCharsets.UTF_8

/** Sitemap protocol (sitemaps.org / RFC-less de-facto standard) — the
  * crawl-seeding artifact `robots.txt` points at ([[Robots.Policy.sitemaps]]):
  * `<urlset>` files list page URLs (+ optional `<lastmod>` for re-crawl
  * scheduling), `<sitemapindex>` files list sub-sitemaps, either may be
  * gzip-compressed, and a plain-text variant carries one URL per line.
  * ADDITIVE surface: the reference has no web code.
  *
  * The parser is a forgiving tag scan, not a validating XML reader — real
  * sitemaps carry namespace prefixes, stray whitespace and unescaped
  * ampersands; a strict parser would reject half the web. Guards: the
  * spec's 50,000-entry cap is enforced (a hostile file can't balloon one
  * task's memory), entries without `<loc>` are skipped, and `<loc>` values
  * longer than the spec's 2,048 chars are dropped. */
object Sitemap {

  /** One sitemap entry: a page URL (urlset) or a sub-sitemap URL (index). */
  final case class Entry(loc: String, lastmod: Option[String])

  final case class Parsed(isIndex: Boolean, entries: Vector[Entry])

  final val MaxEntries = 50000
  final val MaxLocChars = 2048

  /** Parse sitemap bytes: gzip sniffed from the magic, UTF-8 text, XML
    * (`urlset`/`sitemapindex`) or the plain-text one-URL-per-line variant.
    * Malformed input degrades to Left — one bad sitemap must not fail a
    * fetch job. */
  def parse(bytes: Array[Byte]): Either[String, Parsed] =
    try {
      val txt = new String(gunzipIfNeeded(bytes), UTF_8)
      val t = txt.trim
      if (t.isEmpty) Left("sitemap: empty")
      else if (t.charAt(0) != '<') parseText(t)
      else parseXml(t)
    } catch {
      case e: Exception => Left(s"sitemap: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  private def parseText(t: String): Either[String, Parsed] = {
    val urls = t.split("\r?\n").iterator.map(_.trim)
      .filter(l => l.nonEmpty && l.length <= MaxLocChars)
      .take(MaxEntries).map(Entry(_, None)).toVector
    Right(Parsed(isIndex = false, urls))
  }

  private def parseXml(t: String): Either[String, Parsed] = {
    // namespace-prefix-tolerant: matches the LOCAL element names
    val isIndex = containsElement(t, "sitemapindex")
    val container = if (isIndex) "sitemap" else "url"
    if (!isIndex && !containsElement(t, "urlset"))
      return Left("sitemap: neither <urlset> nor <sitemapindex>")
    val out = Vector.newBuilder[Entry]
    var n = 0
    var from = 0
    var open = indexOfElement(t, container, from)
    while (open >= 0 && n < MaxEntries) {
      val end = indexOfClose(t, container, open)
      val stop = if (end < 0) t.length else end
      val loc = elementText(t, "loc", open, stop)
      val lastmod = elementText(t, "lastmod", open, stop)
      loc.filter(_.length <= MaxLocChars).foreach { l =>
        out += Entry(l, lastmod)
        n += 1
      }
      from = stop + 1
      open = indexOfElement(t, container, from)
    }
    Right(Parsed(isIndex, out.result()))
  }

  /** Decompressed-size cap for gzip transport: a crafted small gzip member
    * can inflate to tens of GB — without the cap the caps on entries and
    * loc length never get a chance to apply (the whole payload would be
    * materialized first and OOM the task). 64 MB is ~1000x the spec's
    * advised uncompressed sitemap size. */
  final val MaxInflatedBytes: Int = 64 << 20

  /** Gzip-sniff + bounded inflate, shared by [[Sitemap.parse]] and
    * [[Feed.parse]] (ONE copy of the transport rules). Throws past
    * `cap` — the callers' catch turns that into a Left. */
  private[sources] def gunzipIfNeeded(bytes: Array[Byte],
      cap: Int = MaxInflatedBytes): Array[Byte] = {
    if (bytes.length < 2 || (bytes(0) & 0xff) != 0x1f || (bytes(1) & 0xff) != 0x8b)
      return bytes
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes), 1 << 16)
    try {
      val out = new java.io.ByteArrayOutputStream(math.min(bytes.length * 4, cap))
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) {
        if (out.size() + n > cap)
          throw new IllegalArgumentException(s"gzip inflates past $cap bytes")
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      out.toByteArray
    } finally in.close()
  }

  /** First `<name`/`<prefix:name` (element position) in [from, until), or -1. */
  private[sources] def indexOfElement(t: String, name: String, from: Int,
      until: Int = Int.MaxValue): Int = {
    var i = from
    while (i >= 0) {
      i = t.indexOf('<', i)
      if (i < 0 || i >= until) return -1
      val s = i + 1
      val e = elementNameEnd(t, s)
      if (e > s && localName(t, s, e).equalsIgnoreCase(name)) return i
      i += 1
    }
    -1
  }

  /** First `</name`/`</prefix:name` in [from, until), or -1. */
  private[sources] def indexOfClose(t: String, name: String, from: Int,
      until: Int = Int.MaxValue): Int = {
    var i = from
    while (i >= 0) {
      i = t.indexOf("</", i)
      if (i < 0 || i >= until) return -1
      val s = i + 2
      val e = elementNameEnd(t, s)
      if (e > s && localName(t, s, e).equalsIgnoreCase(name)) return i
      i += 2
    }
    -1
  }

  private[sources] def containsElement(t: String, name: String): Boolean =
    indexOfElement(t, name, 0) >= 0

  private[sources] def elementNameEnd(t: String, s: Int): Int = {
    var e = s
    while (e < t.length && (t.charAt(e).isLetterOrDigit || t.charAt(e) == ':' ||
        t.charAt(e) == '-' || t.charAt(e) == '_')) e += 1
    e
  }

  /** The name in [s, e) after its last ':' — searched within the name
    * only, never back into the rest of the file. */
  private[sources] def localName(t: String, s: Int, e: Int): String = {
    var colon = e - 1
    while (colon >= s && t.charAt(colon) != ':') colon -= 1
    t.substring(colon + 1, e)
  }

  /** Trimmed text of the first `name` element inside [from, until) that
    * HAS text, or None. Scans past decoys instead of giving up on the
    * first local-name match — an item-level `<atom:link rel="self"/>`
    * before an RSS `<link>` (both local name "link") must not hide the
    * real element. The closing '>' is found by the HTML tokenizer's
    * attribute scan (a '>' inside a quoted value does not end the tag);
    * self-closing elements have no text; CDATA content is literal (XML:
    * no entity decoding inside CDATA), anything else decodes the five XML
    * entities and numeric references. Every search stops at `until`, so a
    * missing optional element costs its container, not the rest of the
    * file. */
  private[sources] def elementText(t: String, name: String, from: Int, until: Int): Option[String] = {
    var open = indexOfElement(t, name, from, until)
    while (open >= 0) {
      val gt = Tokenizer.tagEnd(t, elementNameEnd(t, open + 1))
      if (gt > until) return None
      if (t.charAt(gt - 2) != '/') { // self-closing <x/>: no text, keep scanning
        val close = indexOfClose(t, name, gt, until)
        val stop = if (close < 0) until else close
        val body = t.substring(gt, stop).trim
        val v =
          if (body.startsWith("<![CDATA[") && body.endsWith("]]>"))
            body.substring(9, body.length - 3)
          else Entities.decode(body, Entities.xml)
        if (v.nonEmpty) return Some(v)
      }
      open = indexOfElement(t, name, open + 1, until)
    }
    None
  }
}
