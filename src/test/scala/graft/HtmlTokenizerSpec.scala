package graft

import graft.html.{Boilerplate, Links, Meta, Outline, Tables}
import org.scalatest.funsuite.AnyFunSuite

/** The one HTML tokenizer's rule set, pinned through its consumers: an
  * anchor's text, a table cell's text and a heading's text are three
  * readings of the same tokens, so for any fragment they must agree. */
class HtmlTokenizerSpec extends AnyFunSuite {

  private val page = "https://example.org/"

  private def textOf(fragment: String): String = {
    val readings = Set(
      Links.extractAnchors(s"<a href=/t>$fragment</a>", page).head._2,
      Tables.cells(s"<table><td>$fragment</td></table>").head.text,
      Outline.headings(s"<h1>$fragment</h1>").headOption.fold("")(_._2))
    assert(readings.size == 1, readings)
    readings.head
  }

  test("'<!' and '<?' declarations, and '</' without a letter, are bogus comments to the next '>'") {
    assert(textOf("a<?php echo 1 ?>b<!x>c<!DOCTYPE html>d") == "abcd")
    assert(textOf("a</ b>c</>d") == "acd")
  }

  test("comments and exact-case CDATA are skipped; other-case CDATA is a bogus comment") {
    assert(textOf("a<!-- <b>x</b> -->b<![CDATA[x>y]]>c") == "abc")
    assert(textOf("a<![cdata[x>y]]>b") == "ay]]>b")
  }

  test("raw-text bodies are never text; RCDATA bodies are text without tags") {
    assert(textOf("a<script>x</script>b<style>y</style>c<iframe>z</iframe>d") == "abcd")
    assert(textOf("a<textarea>1 <b>2</b> &amp;</textarea>b") == "a1 <b>2</b> &b")
    // the body ends at '</name' + whitespace, '/' or '>', in any case
    assert(textOf("a<script>x</scripty>y</SCRIPT >b") == "ab")
    // a self-closed raw-text start tag still opens its body (HTML5)
    assert(textOf("a<script/>x</script>b") == "ab")
    // forged markup inside a body or a quoted value is not a tag
    assert(Meta.extract("""<title><meta name=robots content=noindex></title>""" +
      """<img alt="<meta name=robots content=noindex>">""").noindex == false)
  }

  test("noscript, template and svg are markup to the tokenizer; boilerplate drops their text") {
    assert(Links.extract("<noscript><a href=/n>x</a></noscript>", page) == Seq(page + "n"))
    assert(Outline.headings("<h1>a<noscript>x</noscript>b<svg><text>y</text></svg>c</h1>") ==
      Seq((1, "abc")))
  }

  test("tag names start with an ASCII letter and end at whitespace, '/' or '>'") {
    assert(textOf("I <3 u, 1<2 x<é>y") == "I <3 u, 1<2 x<é>y")
    assert(textOf("one<br/>two</br>three<BR>four") == "one two three four")
    assert(Tables.cells("<table><tr><td/>cell</tr></table>").map(_.text) == Seq("cell"))
  }

  test("a tag ends at the first '>' outside a quoted value; '/>' self-closes only outside one") {
    assert(textOf("""a<b title="x>y" c='>'>b""") == "ab")
    assert(textOf("""a<b x"y>b""") == "ab") // a quote in a NAME opens no value
    // an unquoted value keeps its trailing '/': <a href=/> opens an anchor
    assert(Links.extractAnchors("<a href=/>home</a>", page) == Seq((page, "home")))
    val filler = (1 to 30).map(i => s"word$i").mkString(" ")
    assert(!Boilerplate.extract(s"<body><div><a href=/>home page link</a></div><p>$filler</p></body>")
      .text.contains("home page"))
  }

  test("one entity decoder: bounded body, ASCII digits, at most U+10FFFF") {
    assert(textOf("&amp; &#65; &#x42; &thetasym; &#x1F600; &#+65; &#x; &#1114112; &amp &#0000000065;") ==
      "& A B ϑ 😀 &#+65; &#x; &#1114112; &amp &#0000000065;")
  }
}
