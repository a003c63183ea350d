package graft

import graft.html.{Boilerplate, Links, Meta, StructuredData, Tables}
import graft.sources.{Feed, Sitemap}
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** Worst-case scaling of the markup parsers: each adversarial input family
  * is parsed at size n and 8n, best of 3 runs per size. Linear work grows
  * about 8x, quadratic about 64x; the bound is 24x. */
class ScalingSpec extends AnyFunSuite {

  private def bestNanos(run: () => Unit): Long =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      run()
      System.nanoTime() - t0
    }.min

  private def assertLinear[A](n: Int, build: Int => A)(parse: A => Unit): Unit = {
    val small = build(n)
    val large = build(8 * n)
    (1 to 3).foreach { _ => parse(small); parse(large) } // warm-up: the JIT compiles before timing
    val ratio = bestNanos(() => parse(large)).toDouble / bestNanos(() => parse(small))
    info(f"8x the input: $ratio%.1fx the time")
    assert(ratio < 24, f"8x the input took $ratio%.1fx the time")
  }

  /** Every HTML surface over one page. */
  private def allSurfaces(page: String): Unit = {
    Boilerplate.extract(page)
    Meta.extract(page)
    Links.extractAnchors(page, "https://example.org/")
    Tables.cells(page)
    StructuredData.jsonLd(page)
  }

  /** A page of about `chars` chars: `head`, then `unit` repeated. */
  private def page(head: String, unit: String)(chars: Int): String =
    "<html><body><p>" + head + unit * (chars / unit.length)

  private val PageChars = 64 << 10

  test("scaling: a page of bare '&' is linear") {
    assertLinear(PageChars, page("", "fish & chips "))(allSurfaces)
  }

  test("scaling: an unterminated '<!--' is linear") {
    assertLinear(PageChars, page("", "<a href=/x>a &amp; b</a> <!-- "))(allSurfaces)
  }

  test("scaling: a '<script>' with no close tag is linear") {
    assertLinear(PageChars, page("<script>", "if (a < b && c) { d = '<p>' } "))(allSurfaces)
  }

  test("scaling: an unterminated quoted attribute is linear") {
    assertLinear(PageChars, n => page("", "x < y ")(n) + "<b title=\"" + "z " * (n / 2))(allSurfaces)
  }

  test("scaling: a sitemap without <lastmod> is linear") {
    assertLinear(2000, k =>
      ("<urlset>" + (1 to k).map(i => s"<url><loc>https://a.example/$i</loc></url>").mkString +
        "</urlset>").getBytes(UTF_8)) { b => assert(Sitemap.parse(b).isRight) }
  }

  test("scaling: a feed whose items have no <link> is linear") {
    assertLinear(2000, k =>
      ("<rss><channel>" + (1 to k).map(i => s"<item><title>t$i</title></item>").mkString +
        "</channel></rss>").getBytes(UTF_8)) { b => assert(Feed.parse(b).isRight) }
  }
}
