package graft

import graft.html.Links
import org.scalatest.funsuite.AnyFunSuite

class LinksSpec extends AnyFunSuite {

  private val page = "https://example.org/doc/123"

  test("RFC 3986 resolution subset") {
    assert(Links.resolve(page, "https://other.net/x") == "https://other.net/x")
    assert(Links.resolve(page, "//cdn.net/lib.js") == "https://cdn.net/lib.js")
    assert(Links.resolve(page, "/rooted/path") == "https://example.org/rooted/path")
    assert(Links.resolve(page, "sibling") == "https://example.org/doc/sibling")
    assert(Links.resolve(page, "./sibling") == "https://example.org/doc/sibling")
    assert(Links.resolve(page, "../up") == "https://example.org/up")
    assert(Links.resolve(page, "../../../over") == "https://example.org/over") // never above root
    assert(Links.resolve(page, "?q=1") == "https://example.org/doc/123?q=1")
    assert(Links.resolve("https://host", "x") == "https://host/x") // empty base path
    assert(Links.resolve("https://example.org/a/b?old=1", "new") == "https://example.org/a/new") // base query dropped
    assert(Links.resolve(page, "dir/") == "https://example.org/doc/dir/")
  }

  test("resolveLink: fragments dropped, non-document schemes and empties skipped") {
    assert(Links.resolveLink(page, "x#sec") == Some("https://example.org/doc/x"))
    assert(Links.resolveLink(page, "#sec").isEmpty)
    assert(Links.resolveLink(page, "").isEmpty)
    assert(Links.resolveLink(page, "javascript:void(0)").isEmpty)
    assert(Links.resolveLink(page, "MAILTO:a@b").isEmpty)
    assert(Links.resolveLink(page, "tel:+123").isEmpty)
    assert(Links.resolveLink(page, "data:text/plain,x").isEmpty)
  }

  test("scheme handling is a whitelist and absolute detection is prefix-only") {
    // any non-http(s) scheme is not a crawl edge — neither emitted verbatim
    // nor glued onto the base path as a bogus relative reference
    assert(Links.resolveLink(page, "about:blank").isEmpty)
    assert(Links.resolveLink(page, "intent://scan/#Intent;end").isEmpty)
    assert(Links.resolveLink(page, "ftp://host/f.txt").isEmpty)
    assert(Links.resolveLink(page, "itms-apps://apps.apple.com/x").isEmpty)
    assert(Links.resolveLink(page, "urn:isbn:0451450523").isEmpty)
    // a RELATIVE href embedding an absolute URL in its query must resolve
    // path-relative, not be misread as absolute via the '://' substring
    assert(Links.resolveLink(page, "redirect?next=https://other.com/") ==
      Some("https://example.org/doc/redirect?next=https://other.com/"))
    assert(Links.resolve(page, "redirect?next=https://other.com/") ==
      "https://example.org/doc/redirect?next=https://other.com/")
    // a digit-led "scheme" is not a scheme (ALPHA-first grammar): relative
    assert(Links.resolveLink(page, "3:2-aspect") ==
      Some("https://example.org/doc/3:2-aspect"))
    // uppercase absolute http stays absolute
    assert(Links.resolveLink(page, "HTTPS://other.net/X") == Some("HTTPS://other.net/X"))
  }

  test("extract: document order, base tag rebases even earlier links, scanner hardening") {
    val html =
      """<html><head>
        |<a href="before-base">A</a>
        |<base href="https://based.net/sub/dir/">
        |<base href="https://ignored.net/">  <!-- first base wins -->
        |</head><body>
        |<a href="https://abs.net/p">B</a>
        |<a HREF='single-quoted'>C</a>
        |<a href=unquoted>D</a>
        |<!-- <a href="commented-out">X</a> -->
        |<script>document.write('<a href="forged-in-script">');</script>
        |<textarea><a href="forged-in-rcdata"></textarea>
        |<div title='<a href="forged-in-attr">'>E</div>
        |<a href="../parent">F</a>
        |<a href="#frag-only">G</a>
        |<a href="mailto:x@y">H</a>
        |<a name="anchor-without-href">I</a>
        |</body></html>""".stripMargin
    val got = Links.extract(html, page)
    assert(got == Seq(
      "https://based.net/sub/dir/before-base", // rebased despite appearing first
      "https://abs.net/p",
      "https://based.net/sub/dir/single-quoted",
      "https://based.net/sub/dir/unquoted",
      "https://based.net/sub/parent"))
  }

  test("extract without base resolves against the page url; entities decode in href") {
    val got = Links.extract("""<a href="search?a=1&amp;b=2">q</a>""", page)
    assert(got == Seq("https://example.org/doc/search?a=1&b=2"))
  }

  test("extractAnchors: inner text conventions") {
    // mid-word entity joins its word; inline tags transparent; <br> is a
    // word separator; comments inside the anchor vanish; whitespace
    // collapses and trims
    val got = Links.extractAnchors(
      """<a href="/t"> <b>bo&#108;d</b>-1 <br><!-- <a href="x">y</a> -->  tail </a>""", page)
    assert(got == Seq(("https://example.org/t", "bold-1 tail")))
    // XHTML self-closing <br/> still separates words — the no-space form
    // is ubiquitous in real pages
    assert(Links.extractAnchors("""<a href="/b">one<br/>two</a>""", page)
      == Seq(("https://example.org/b", "one two")))
    // image-only anchor keeps its (empty) text — the edge still exists
    assert(Links.extractAnchors("""<a href="/i"><img src="x.png"></a>""", page)
      == Seq(("https://example.org/i", "")))
    // script body inside an anchor is not anchor text, and its markup
    // cannot forge edges; '>' inside a quoted href cannot truncate the tag
    assert(Links.extractAnchors(
      """<a href="/s">pre<script>var a='<a href="f">x</a>';</script>post</a>""", page)
      == Seq(("https://example.org/s", "prepost")))
    assert(Links.extractAnchors("""<a href="/q?x=a>b">t</a>""", page)
      == Seq(("https://example.org/q?x=a>b", "t")))
  }

  test("extractAnchors: nested <a> auto-closes, EOF closes, non-edges drop text") {
    // HTML5 forbids nested <a>: the second open ends the first
    assert(Links.extractAnchors(
      """<a href="/1">one <a href="/2">two</a>""", page)
      == Seq(("https://example.org/1", "one"), ("https://example.org/2", "two")))
    // unclosed anchor runs to end of document
    assert(Links.extractAnchors("""<a href="/u">tail text""", page)
      == Seq(("https://example.org/u", "tail text")))
    // javascript: edge is dropped WITH its text; href-less <a> is a named
    // target whose text is no edge's anchor; stray '<' inside text is text
    assert(Links.extractAnchors(
      """<a href="javascript:void(0)">never</a><a name="x">skip</a><a href="/k">a < b</a>""",
      page) == Seq(("https://example.org/k", "a < b")))
  }

  test("extract and extractAnchors emit the same edge sequence") {
    val html =
      """<base href="https://b.example/d/"><a href="r/1">r</a><a href="//c.example/x">p</a>
        |<a href="mailto:a@b">m</a><a href="/root">q</a>""".stripMargin
    assert(Links.extract(html, page) == Links.extractAnchors(html, page).map(_._1))
  }
}
