package graft.html

/** The full HTML 4.01 named character entity table (252 entities; public
  * W3C spec data: HTML 4.01 §24, the three DTD entity sets Latin-1 /
  * Symbols-Greek / Special), plus `apos` (XML 1.0 / HTML5). Values are the
  * defining Unicode codepoints — all BMP, so a `Char` suffices.
  *
  * NOT from the reference (PdfParser has no HTML code). */
object Entities {

  /** 0xA0..0xFF in codepoint order (HTMLlat1 set). */
  private val latin1Names: Array[String] = Array(
    "nbsp", "iexcl", "cent", "pound", "curren", "yen", "brvbar", "sect",
    "uml", "copy", "ordf", "laquo", "not", "shy", "reg", "macr",
    "deg", "plusmn", "sup2", "sup3", "acute", "micro", "para", "middot",
    "cedil", "sup1", "ordm", "raquo", "frac14", "frac12", "frac34", "iquest",
    "Agrave", "Aacute", "Acirc", "Atilde", "Auml", "Aring", "AElig", "Ccedil",
    "Egrave", "Eacute", "Ecirc", "Euml", "Igrave", "Iacute", "Icirc", "Iuml",
    "ETH", "Ntilde", "Ograve", "Oacute", "Ocirc", "Otilde", "Ouml", "times",
    "Oslash", "Ugrave", "Uacute", "Ucirc", "Uuml", "Yacute", "THORN", "szlig",
    "agrave", "aacute", "acirc", "atilde", "auml", "aring", "aelig", "ccedil",
    "egrave", "eacute", "ecirc", "euml", "igrave", "iacute", "icirc", "iuml",
    "eth", "ntilde", "ograve", "oacute", "ocirc", "otilde", "ouml", "divide",
    "oslash", "ugrave", "uacute", "ucirc", "uuml", "yacute", "thorn", "yuml")

  /** Greek capitals Α..Ω (0x391..0x3A9, no final sigma slot 0x3A2). */
  private val greekUpper: Seq[(String, Int)] = Seq(
    "Alpha" -> 0x391, "Beta" -> 0x392, "Gamma" -> 0x393, "Delta" -> 0x394,
    "Epsilon" -> 0x395, "Zeta" -> 0x396, "Eta" -> 0x397, "Theta" -> 0x398,
    "Iota" -> 0x399, "Kappa" -> 0x39A, "Lambda" -> 0x39B, "Mu" -> 0x39C,
    "Nu" -> 0x39D, "Xi" -> 0x39E, "Omicron" -> 0x39F, "Pi" -> 0x3A0,
    "Rho" -> 0x3A1, "Sigma" -> 0x3A3, "Tau" -> 0x3A4, "Upsilon" -> 0x3A5,
    "Phi" -> 0x3A6, "Chi" -> 0x3A7, "Psi" -> 0x3A8, "Omega" -> 0x3A9)

  private val greekLower: Seq[(String, Int)] = Seq(
    "alpha" -> 0x3B1, "beta" -> 0x3B2, "gamma" -> 0x3B3, "delta" -> 0x3B4,
    "epsilon" -> 0x3B5, "zeta" -> 0x3B6, "eta" -> 0x3B7, "theta" -> 0x3B8,
    "iota" -> 0x3B9, "kappa" -> 0x3BA, "lambda" -> 0x3BB, "mu" -> 0x3BC,
    "nu" -> 0x3BD, "xi" -> 0x3BE, "omicron" -> 0x3BF, "pi" -> 0x3C0,
    "rho" -> 0x3C1, "sigmaf" -> 0x3C2, "sigma" -> 0x3C3, "tau" -> 0x3C4,
    "upsilon" -> 0x3C5, "phi" -> 0x3C6, "chi" -> 0x3C7, "psi" -> 0x3C8,
    "omega" -> 0x3C9, "thetasym" -> 0x3D1, "upsih" -> 0x3D2, "piv" -> 0x3D6)

  private val symbols: Seq[(String, Int)] = Seq(
    // HTMLspecial
    "quot" -> 0x22, "amp" -> 0x26, "apos" -> 0x27, "lt" -> 0x3C, "gt" -> 0x3E,
    "OElig" -> 0x152, "oelig" -> 0x153, "Scaron" -> 0x160, "scaron" -> 0x161,
    "Yuml" -> 0x178, "circ" -> 0x2C6, "tilde" -> 0x2DC,
    "ensp" -> 0x2002, "emsp" -> 0x2003, "thinsp" -> 0x2009,
    "zwnj" -> 0x200C, "zwj" -> 0x200D, "lrm" -> 0x200E, "rlm" -> 0x200F,
    "ndash" -> 0x2013, "mdash" -> 0x2014,
    "lsquo" -> 0x2018, "rsquo" -> 0x2019, "sbquo" -> 0x201A,
    "ldquo" -> 0x201C, "rdquo" -> 0x201D, "bdquo" -> 0x201E,
    "dagger" -> 0x2020, "Dagger" -> 0x2021, "permil" -> 0x2030,
    "lsaquo" -> 0x2039, "rsaquo" -> 0x203A, "euro" -> 0x20AC,
    // HTMLsymbol (non-Greek part)
    "fnof" -> 0x192, "bull" -> 0x2022, "hellip" -> 0x2026,
    "prime" -> 0x2032, "Prime" -> 0x2033, "oline" -> 0x203E, "frasl" -> 0x2044,
    "weierp" -> 0x2118, "image" -> 0x2111, "real" -> 0x211C,
    "trade" -> 0x2122, "alefsym" -> 0x2135,
    "larr" -> 0x2190, "uarr" -> 0x2191, "rarr" -> 0x2192, "darr" -> 0x2193,
    "harr" -> 0x2194, "crarr" -> 0x21B5,
    "lArr" -> 0x21D0, "uArr" -> 0x21D1, "rArr" -> 0x21D2, "dArr" -> 0x21D3,
    "hArr" -> 0x21D4,
    "forall" -> 0x2200, "part" -> 0x2202, "exist" -> 0x2203, "empty" -> 0x2205,
    "nabla" -> 0x2207, "isin" -> 0x2208, "notin" -> 0x2209, "ni" -> 0x220B,
    "prod" -> 0x220F, "sum" -> 0x2211, "minus" -> 0x2212, "lowast" -> 0x2217,
    "radic" -> 0x221A, "prop" -> 0x221D, "infin" -> 0x221E, "ang" -> 0x2220,
    "and" -> 0x2227, "or" -> 0x2228, "cap" -> 0x2229, "cup" -> 0x222A,
    "int" -> 0x222B, "there4" -> 0x2234, "sim" -> 0x223C, "cong" -> 0x2245,
    "asymp" -> 0x2248, "ne" -> 0x2260, "equiv" -> 0x2261,
    "le" -> 0x2264, "ge" -> 0x2265, "sub" -> 0x2282, "sup" -> 0x2283,
    "nsub" -> 0x2284, "sube" -> 0x2286, "supe" -> 0x2287,
    "oplus" -> 0x2295, "otimes" -> 0x2297, "perp" -> 0x22A5, "sdot" -> 0x22C5,
    "lceil" -> 0x2308, "rceil" -> 0x2309, "lfloor" -> 0x230A, "rfloor" -> 0x230B,
    "lang" -> 0x2329, "rang" -> 0x232A, "loz" -> 0x25CA,
    "spades" -> 0x2660, "clubs" -> 0x2663, "hearts" -> 0x2665, "diams" -> 0x2666)

  val table: Map[String, Char] = {
    val b = Map.newBuilder[String, Char]
    latin1Names.zipWithIndex.foreach { case (n, i) => b += n -> (0xA0 + i).toChar }
    (greekUpper ++ greekLower ++ symbols).foreach { case (n, cp) => b += n -> cp.toChar }
    b.result()
  }

  /** The five XML predefined entities: the table sitemaps and feeds
    * decode against. */
  val xml: Map[String, Char] =
    Map("amp" -> '&', "lt" -> '<', "gt" -> '>', "quot" -> '"', "apos" -> '\'')

  /** Longest entity name ("CounterClockwise..." doesn't exist in HTML4 —
    * the max here is 8, e.g. `thetasym`). */
  val maxNameLength: Int = table.keysIterator.map(_.length).max

  // longest body ever accepted between '&' and ';': the longest named entity
  // or a numeric reference like #x10ffff (8 chars) — derived from the table,
  // so a longer entity added there is automatically scanned
  private val MaxBody = math.max(maxNameLength, 8)

  /** THE character-reference decoder: the reference starting at
    * `s(i) == '&'`, named (looked up in `names`) or numeric (decimal or
    * hex, ASCII digits, at most U+10FFFF). The `;` is searched for no
    * further than `MaxBody` chars and never at or past `until`, so a bare
    * `&` costs O(1) however long the rest of the page. Returns the code
    * point in the low 32 bits and the index after the reference in the
    * high 32 bits; an unrecognized reference decodes to a literal `&`. */
  private def reference(s: String, i: Int, until: Int, names: Map[String, Char]): Long = {
    val limit = math.min(until, i + 2 + MaxBody)
    var semi = i + 1
    while (semi < limit && s.charAt(semi) != ';') semi += 1
    val cp =
      if (semi >= limit) -1
      else if (s.charAt(i + 1) == '#') numeric(s, i + 2, semi)
      else names.get(s.substring(i + 1, semi)).fold(-1)(_.toInt)
    if (cp < 0 || cp > 0x10ffff) (i + 1).toLong << 32 | '&'
    else (semi + 1).toLong << 32 | cp
  }

  private def numeric(s: String, from: Int, until: Int): Int = {
    val hex = from < until && (s.charAt(from) == 'x' || s.charAt(from) == 'X')
    val radix = if (hex) 16 else 10
    val digits = s.substring(if (hex) from + 1 else from, until)
    if (digits.isEmpty || digits.length > 7 || digits.exists(c => c > 'f' || Character.digit(c, radix) < 0)) -1
    else Integer.parseInt(digits, radix)
  }

  /** `s` with every character reference decoded against `names`. */
  def decode(s: String, names: Map[String, Char] = table): String = {
    var amp = s.indexOf('&')
    if (amp < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (amp >= 0) {
      sb.append(s, i, amp)
      val r = reference(s, amp, s.length, names)
      sb.appendCodePoint(r.toInt)
      i = (r >>> 32).toInt
      amp = s.indexOf('&', i)
    }
    sb.append(s, i, s.length).toString
  }

  /** Streams `s[from, until)` into `sink` with HTML references decoded:
    * each char with the source index it came from (a reference's chars
    * carry the index of its `&`; an astral code point arrives as its
    * surrogate pair). */
  private[html] def decodeTo(s: String, from: Int, until: Int, sink: CharSink): Unit = {
    var i = from
    while (i < until) {
      val c = s.charAt(i)
      if (c == '&') {
        val r = reference(s, i, until, table)
        val cp = r.toInt
        if (cp > 0xffff) {
          sink.char(Character.highSurrogate(cp), i)
          sink.char(Character.lowSurrogate(cp), i)
        } else sink.char(cp.toChar, i)
        i = (r >>> 32).toInt
      } else {
        sink.char(c, i)
        i += 1
      }
    }
  }
}

/** Receiver of decoded text, one char at a time with its source index. */
private[html] trait CharSink {
  def char(c: Char, at: Int): Unit
}
