package graft

import graft.sources.Sitemap
import org.scalatest.funsuite.AnyFunSuite

class SitemapSpec extends AnyFunSuite {

  private def gz(s: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(out)
    g.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)); g.close()
    out.toByteArray
  }

  test("urlset: loc + optional lastmod, entities decoded, namespace prefixes tolerated") {
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<sm:urlset xmlns:sm="http://www.sitemaps.org/schemas/sitemap/0.9">
        |  <sm:url><sm:loc>https://a/p?x=1&amp;y=2</sm:loc><sm:lastmod>2024-01-02</sm:lastmod></sm:url>
        |  <sm:url><sm:loc>https://a/q</sm:loc></sm:url>
        |  <sm:url><sm:priority>0.5</sm:priority></sm:url>  <!-- no loc: skipped -->
        |</sm:urlset>""".stripMargin
    val p = Sitemap.parse(xml.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toOption.get
    assert(!p.isIndex)
    assert(p.entries == Vector(
      Sitemap.Entry("https://a/p?x=1&y=2", Some("2024-01-02")),
      Sitemap.Entry("https://a/q", None)))
  }

  test("sitemapindex detected; gzip transport sniffed") {
    val xml =
      """<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |<sitemap><loc>https://a/s1.xml.gz</loc><lastmod>2024-02-03T04:05:06Z</lastmod></sitemap>
        |<sitemap><loc>https://a/s2.xml.gz</loc></sitemap>
        |</sitemapindex>""".stripMargin
    for (bytes <- Seq(xml.getBytes(java.nio.charset.StandardCharsets.UTF_8), gz(xml))) {
      val p = Sitemap.parse(bytes).toOption.get
      assert(p.isIndex)
      assert(p.entries.map(_.loc) == Vector("https://a/s1.xml.gz", "https://a/s2.xml.gz"))
      assert(p.entries.head.lastmod.contains("2024-02-03T04:05:06Z"))
    }
  }

  test("plain-text variant: one URL per line, blanks skipped") {
    val p = Sitemap.parse("https://a/1\n\n  https://a/2  \n".getBytes(
      java.nio.charset.StandardCharsets.UTF_8)).toOption.get
    assert(!p.isIndex)
    assert(p.entries.map(_.loc) == Vector("https://a/1", "https://a/2"))
  }

  test("guards: entry cap, oversized loc dropped, garbage and corrupt gzip become Left") {
    val many = "<urlset>" +
      (1 to 11).map(i => s"<url><loc>https://a/$i</loc></url>").mkString + "</urlset>"
    // the cap itself is 50k — assert the take logic via the public constant
    assert(Sitemap.MaxEntries == 50000)
    assert(Sitemap.parse(many.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .toOption.get.entries.size == 11)
    val big = "<urlset><url><loc>https://a/" + ("x" * 3000) + "</loc></url></urlset>"
    assert(Sitemap.parse(big.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .toOption.get.entries.isEmpty)
    assert(Sitemap.parse("<html><body>not a sitemap</body></html>".getBytes(
      java.nio.charset.StandardCharsets.UTF_8)).isLeft)
    val corrupt = gz("<urlset></urlset>").take(8) ++ Array[Byte](1, 2, 3)
    assert(Sitemap.parse(corrupt).isLeft)
    assert(Sitemap.parse(Array.emptyByteArray).isLeft)
  }

  test("numeric character references and truncated container tolerated") {
    val xml = "<urlset><url><loc>https://a/&#47;p&#x2F;q</loc></url><url><loc>https://a/tail</loc>"
    val p = Sitemap.parse(xml.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toOption.get
    assert(p.entries.map(_.loc) == Vector("https://a//p/q", "https://a/tail"))
  }

  test("lastmod-less urlset: every entry, in order, none borrowing a later lastmod") {
    val xml = "<urlset>" + (1 to 3).map(i => s"<url><loc>https://a/$i</loc></url>").mkString +
      "<url><loc>https://a/4</loc><lastmod>2024-05-06</lastmod></url></urlset>"
    assert(Sitemap.parse(xml.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toOption.get.entries ==
      (1 to 3).map(i => Sitemap.Entry(s"https://a/$i", None)).toVector :+
        Sitemap.Entry("https://a/4", Some("2024-05-06")))
  }

  test("only the five XML entities decode; numeric references need ASCII digits") {
    val xml = "<urlset><url><loc>https://a/&eacute;&apos;&amp;&#47;&#+47;</loc></url></urlset>"
    assert(Sitemap.parse(xml.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toOption.get
      .entries.map(_.loc) == Vector("https://a/&eacute;'&/&#+47;"))
  }
}
