package graft.html

import scala.collection.mutable

/** The one HTML tokenizer: a pull scanner over a decoded page. Every markup
  * surface — [[Boilerplate]] (and [[Outline]] through it), [[Meta]],
  * [[Links]], [[Tables]], [[StructuredData]] — is a loop over its tokens,
  * and the feed and sitemap readers share its attribute scanner. Consumers
  * differ only in what they do with the tokens; the rules are one set:
  *
  *  - `<!--` skips to the next `-->`, `<![CDATA[` (exact case) to the next
  *    `]]>`; any other `<!` or `<?`, and `</` not followed by a letter, is
  *    a bogus comment up to the next `>`. Each runs to end of input when
  *    unterminated and yields no token.
  *  - `<` + ASCII letter opens a start tag, `</` + ASCII letter an end tag.
  *    The name runs to whitespace, `/` or `>` and is lowercased. Any other
  *    `<` is text.
  *  - A tag ends at the first `>` outside a quoted attribute value (HTML5
  *    attribute states: a quote opens a value only right after `=`); an
  *    unterminated tag or value runs to end of input and the tag is still
  *    returned. `/` directly before that `>`, outside a value, makes the
  *    tag self-closing.
  *  - Raw-text elements (`script`, `style`, `iframe`) and RCDATA elements
  *    (`title`, `textarea`): after the start tag, self-closing or not, the
  *    body runs to the first `</name` (any case) followed by whitespace,
  *    `/` or `>`, or to end of input. A raw-text body is one [[RawText]]
  *    token; an RCDATA body is one [[Text]] token — character references
  *    decode in it, tags do not exist in it.
  *  - Character references are left in place; [[Entities]] decodes them,
  *    and its `;` search is bounded, so no rule here rescans the input:
  *    one pass, linear in the page.
  *
  * Attributes are scanned to find the tag end but only materialized when a
  * consumer calls [[attrs]]. */
private[html] final class Tokenizer(html: String) {
  import Tokenizer._

  private val n = html.length
  private var pos = 0
  private var bodyOf: String = null // raw-text/RCDATA element whose body is next

  /** [[Text]], [[StartTag]], [[EndTag]] or [[RawText]]. */
  var kind: Int = Text
  /** Text: the chars; tags: from the `<` to just after the `>`. */
  var from: Int = 0
  var until: Int = 0
  /** Tag name; for a [[RawText]] body, its element's name. */
  var name: String = ""
  var selfClosing: Boolean = false
  private var attrFrom = 0

  /** Attributes of the current tag (of the start tag, for a [[RawText]]
    * body), with references decoded; first of a repeated name wins. */
  def attrs: collection.Map[String, String] = attributes(html, attrFrom)

  /** Advances to the next token; false at end of input. */
  def next(): Boolean = {
    if (bodyOf != null) return body()
    var j = pos
    while (j < n) {
      j = html.indexOf('<', j)
      if (j < 0 || j + 1 >= n) j = n // a '<' ending the input is text
      else {
        val c = html.charAt(j + 1)
        if (!isLetter(c) && c != '/' && c != '!' && c != '?') j += 1 // stray '<'
        else if (j > pos) return token(Text, pos, j) // markup comes next call
        else if (isLetter(c)) return tag(j + 1, StartTag)
        else if (c == '/' && j + 2 < n && isLetter(html.charAt(j + 2))) return tag(j + 2, EndTag)
        else { pos = skipMarkup(j); j = pos }
      }
    }
    pos < n && token(Text, pos, n)
  }

  private def token(k: Int, a: Int, b: Int): Boolean = {
    kind = k; from = a; until = b; pos = b
    true
  }

  private def skipMarkup(j: Int): Int = {
    def past(k: Int, len: Int) = if (k < 0) n else k + len
    if (html.startsWith("<!--", j)) past(html.indexOf("-->", j + 4), 3)
    else if (html.startsWith("<![CDATA[", j)) past(html.indexOf("]]>", j + 9), 3)
    else past(html.indexOf('>', j + 2), 1)
  }

  private def tag(nameFrom: Int, k: Int): Boolean = {
    var e = nameFrom
    while (e < n && !endsName(html.charAt(e))) e += 1
    name = html.substring(nameFrom, e).toLowerCase(java.util.Locale.ROOT)
    attrFrom = e
    val end = scanAttributes(html, e, null, null)
    selfClosing = end < 0
    if (k == StartTag) name match {
      case "script" | "style" | "iframe" | "title" | "textarea" => bodyOf = name
      case _ =>
    }
    token(k, pos, math.abs(end)) // a tag is only read where the text ended
  }

  private def body(): Boolean = {
    val k = if (bodyOf == "title" || bodyOf == "textarea") Text else RawText
    var close = html.indexOf("</", pos)
    while (close >= 0 && !closes(close, bodyOf)) close = html.indexOf("</", close + 2)
    bodyOf = null
    token(k, pos, if (close < 0) n else close)
  }

  private def closes(at: Int, element: String): Boolean = {
    val e = at + 2 + element.length
    e < n && html.regionMatches(true, at + 2, element, 0, element.length) &&
      endsName(html.charAt(e))
  }
}

private[graft] object Tokenizer {
  final val Text = 0
  final val StartTag = 1
  final val EndTag = 2
  final val RawText = 3

  private def isLetter(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isSpace(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'
  private def endsName(c: Char) = isSpace(c) || c == '/' || c == '>'

  /** The attributes from `from` (just past a tag name) to the tag's end. */
  private[graft] def attributes(s: String, from: Int,
      names: Map[String, Char] = Entities.table): collection.Map[String, String] = {
    val out = mutable.HashMap.empty[String, String]
    scanAttributes(s, from, out, names)
    out
  }

  /** Index just after the `>` ending the tag whose attributes start at
    * `from`: the scan [[attributes]] makes, without collecting them. */
  private[graft] def tagEnd(s: String, from: Int): Int =
    math.abs(scanAttributes(s, from, null, null))

  /** HTML5 attribute scan from `from` to the `>` ending the tag: names
    * lowercased, `=` optional, values double-, single- or un-quoted with
    * references decoded against `names`, first of a repeated name wins.
    * Fills `out` unless it is null. Returns the index after the `>` (the
    * input length when unterminated), negated when the tag self-closes. */
  private def scanAttributes(s: String, from: Int, out: mutable.Map[String, String],
      names: Map[String, Char]): Int = {
    val n = s.length
    var i = from
    var slash = false
    while (i < n) {
      val c = s.charAt(i)
      if (c == '>') return if (slash) -(i + 1) else i + 1
      slash = c == '/'
      if (slash || isSpace(c)) i += 1
      else {
        val nameFrom = i
        while (i < n && !endsName(s.charAt(i)) && s.charAt(i) != '=') i += 1
        val nameUntil = i
        while (i < n && isSpace(s.charAt(i))) i += 1
        var value = ""
        if (i < n && s.charAt(i) == '=') {
          i += 1
          while (i < n && isSpace(s.charAt(i))) i += 1
          val q = if (i < n) s.charAt(i) else ' '
          if (q == '"' || q == '\'') {
            val close = s.indexOf(q, i + 1)
            val valueUntil = if (close < 0) n else close
            if (out != null) value = Entities.decode(s.substring(i + 1, valueUntil), names)
            i = if (close < 0) n else close + 1
          } else {
            val valueFrom = i
            while (i < n && !isSpace(s.charAt(i)) && s.charAt(i) != '>') i += 1
            if (out != null) value = Entities.decode(s.substring(valueFrom, i), names)
          }
        }
        if (out != null && nameUntil > nameFrom) {
          val key = s.substring(nameFrom, nameUntil).toLowerCase(java.util.Locale.ROOT)
          if (!out.contains(key)) out(key) = value
        }
      }
    }
    n
  }
}
