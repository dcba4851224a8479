package graft.rewrite

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core._
import scala.collection.mutable

/** Scan-mode (attr-skip) equivalence: the reduced attribute walker must
  * produce the exact same token stream — kinds, raw positions, name
  * hashes, self-closing flags, text runs — as the full attribute states,
  * for any input. Attribute OUTLINES may differ (that's the point); the
  * policy guarantees no consumer reads them on skipped tags.
  */
class ScanModeSpec extends AnyFunSuite {

  /** Records every lexeme event (attr outlines excluded by design). */
  private final class TraceSink extends LexemeSink {
    val trace = new mutable.ArrayBuffer[String]()
    def onText(s: Int, e: Int, t: Int): Unit = trace += s"T:$s:$e:$t"
    def onStartTag(ns: Int, ne: Int, h: Long, nsp: Int, sc: Boolean,
                   a: AttrList, rs: Int, re: Int): Unit =
      trace += s"S:$ns:$ne:$h:$nsp:$sc:$rs:$re"
    def onEndTag(ns: Int, ne: Int, h: Long, rs: Int, re: Int): Unit =
      trace += s"E:$ns:$ne:$h:$rs:$re"
    def onComment(ts: Int, te: Int, rs: Int, re: Int): Unit = trace += s"C:$ts:$te:$rs:$re"
    def onDoctype(a: Int, b: Int, c: Boolean, d: Int, e: Int, f: Boolean,
                  g: Int, h: Int, i: Boolean, j: Boolean, k: Int, l: Int): Unit =
      trace += s"D:$a:$b:$c:$k:$l"
    def onRawWithoutToken(rs: Int, re: Int): Unit = trace += s"R:$rs:$re"
    def onEof(p: Int): Unit = trace += s"F:$p"
  }

  private val skipAll = AttrNeedTable.SkipAll

  private def tracesMatch(html: String): Unit = {
    val bytes = html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val full = new TraceSink
    val scan = new TraceSink
    new Lexer(strict = false).parse(bytes, full)
    new Lexer(strict = false).parse(bytes, scan, skipAll)
    assert(scan.trace == full.trace, s"trace divergence on: $html")
  }

  test("edge cases: quotes, leading '=', unquoted specials, self-closing, EOF") {
    Seq(
      """<div foo="a>b"><span>x</span></div>""",
      """<p =">">x<i>y</i>""",
      """<p a=b"c><i></i>""",
      """<p a=b/><i></i>""",
      """<br/><hr />""",
      """<a b = 'c>d' e>t</a>""",
      """<a b=c d='e' f="g" h>x""",
      """<div foo="unclosed""",
      """<div foo='unclosed""",
      """<div foo=unclosed""",
      """<div foo""",
      """<div /""",
      """<a ==x><i></i>""",
      """<a = =x><i></i>""",
      """<a b=/>c""",
      """<a b==">"><i></i>""",
      """<title>x</title foo="<">after""",
      """<script>var a = "</script fake='>'>";</script>rest""",
      """<script><!--<script>alert("</script>")--></script>tail""",
      """<svg><font color="red"><text>t</text></font></svg>""",
      """<textarea a=">">v</textarea>""",
      """<p
        |multi="line
        |value">x</p>""".stripMargin,
      """<em-pty-ish custom-element attr="v">x</em-pty-ish>"""
    ).foreach(tracesMatch)
  }

  test("property: scan-mode trace equals full-mode trace on random html-ish input") {
    val piece = Gen.oneOf(
      Gen.oneOf("<", ">", "</", "<!--", "-->", "<!", "]]>", "<![CDATA[", "'", "\"",
        "=", "/", "/>", " ", "\n", "<tag", "attr=", "attr='v'", "attr=\"v\"", "a=b"),
      Gen.oneOf("div", "p", "script", "style", "svg", "math", "title", "textarea",
        "plaintext", "annotation-xml", "foreignObject"),
      Gen.oneOf("<div>", "</div>", "<script>", "</script>", "<svg>", "</svg>",
        "<div a='x>y'>", "<p b=c/>", "<a href=\"u\">", "</a>", "<!doctype html>",
        "<math>", "</math>", "<title>", "</title>", "<textarea>", "</textarea>"),
      Gen.asciiPrintableStr.map(_.take(12))
    )
    val htmlish = Gen.listOf(piece).map(_.mkString).map(_.take(600))
    var i = 0
    while (i < 400) {
      htmlish.apply(Gen.Parameters.default, Seed(1042L + i)).foreach(tracesMatch)
      i += 1
    }
  }

  test("rewriter scan mode: matches identical to full mode, matched tags keep attrs") {
    val selectors = Seq("div", "a[href]", "div > span", "p")
    def run(html: String, forceFull: Boolean): Seq[String] = {
      val buf = new mutable.ArrayBuffer[String]()
      val handlers = selectors.map(s => s -> ElementHandlers(element = el =>
        buf += s"$s:${el.tagName}:${Option(el.attr("href")).getOrElse("-")}:${el.attributes.size}"))
      val rw = new Rewriter(handlers, strict = false, produceOutput = false)
      rw.disableAttrSkip = forceFull
      rw.rewriteToBytes(html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      buf.toSeq
    }
    val docs = Seq(
      """<html><body><div id=x class="k"><span>s</span></div><a href="/u" rel=nofollow>l</a><p q="r>s">t</p></body></html>""",
      """<ul skip="a>b"><li><a href='1'>x</a></li></ul><div><span><a>noref</a></span></div>""",
      """<table border=1><tr><td><div data-a="1" data-b='2' data-c=3>d</div></td></tr></table>"""
    )
    for (d <- docs) {
      val full = run(d, forceFull = true)
      val scan = run(d, forceFull = false)
      assert(scan == full, s"match divergence on: $d")
      // matched a[href] elements must expose their attributes in scan mode
      assert(scan.filter(_.startsWith("a[href]")).forall(!_.endsWith(":0")))
    }
  }

  test("attr-skip rewrite output is byte-identical to full-mode output on bench docs") {
    // produceOutput mode now also runs with attribute skipping; the
    // serialized bytes (including structural re-serialization of matched
    // elements) must be identical to the full attribute states
    def rewriter(forceFull: Boolean) = {
      val rw = new Rewriter(Seq(
        "nav" -> ElementHandlers(element = el => el.remove()),
        "a[href]" -> ElementHandlers(element = el => el.setAttribute("rel", "nofollow")),
        "body" -> ElementHandlers(element = el => el.append("<!--x-->"))),
        strict = false)
      rw.disableAttrSkip = forceFull
      rw
    }
    for (name <- Seq("cloudflare.com.html", "ecma402-spec.html", "html-parsing-spec.html")) {
      val in = getClass.getResourceAsStream(s"/benchdocs/$name")
      assume(in != null)
      val bytes = in.readAllBytes(); in.close()
      val full = rewriter(forceFull = true).rewriteToBytes(bytes)
      val skip = rewriter(forceFull = false).rewriteToBytes(bytes)
      assert(java.util.Arrays.equals(skip, full), s"output divergence on $name")
    }
  }

  test("unhashable tag names: matching, open-name counts, stray-end-tag reject") {
    // >12-char custom-element names bypass the 5-bit hash; matching,
    // frame pops, and the O(1) stray-end-tag reject run on the FNV table
    val rw = new Rewriter(Seq("my-custom-element" ->
      ElementHandlers(element = el => el.remove())), strict = false)
    val out = rw.rewrite(
      "<div><my-custom-element a=1>zap<b>x</b></my-custom-element>keep</div>" +
        "<my-custom-element>z</my-custom-element>tail")
    assert(out == "<div>keep</div>tail", out)
    // stray end tag: no open frame with that name -> rejected, kept raw
    val out2 = rw.rewrite(
      "a</my-custom-element>b<my-custom-element>c</my-custom-element>d")
    assert(out2 == "a</my-custom-element>bd", out2)
    // nesting: pop must close the right frame
    val rw2 = new Rewriter(Seq("emu-clause-like-name emu-xref-like-name" ->
      ElementHandlers(element = el => el.remove())), strict = false)
    val out3 = rw2.rewrite(
      "<emu-xref-like-name>keep</emu-xref-like-name>" +
        "<emu-clause-like-name>a<emu-xref-like-name>drop</emu-xref-like-name>b</emu-clause-like-name>")
    assert(out3 == "<emu-xref-like-name>keep</emu-xref-like-name><emu-clause-like-name>ab</emu-clause-like-name>", out3)
  }

  test("non-ASCII type selectors: scan mode keeps the matched tag's attributes") {
    // the policy keys names by their UTF-8 bytes, as the lexer does; a
    // UTF-16 compare of the selector name never matched `x-é`
    def run(html: String, selectors: Seq[String], forceFull: Boolean): Seq[String] = {
      val buf = new mutable.ArrayBuffer[String]()
      val handlers = selectors.map(s => s -> ElementHandlers(element = el =>
        buf += s"$s:${el.tagName}:${el.attr("id")}"))
      val rw = new Rewriter(handlers, strict = false, produceOutput = false)
      rw.disableAttrSkip = forceFull
      rw.rewriteToBytes(html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      buf.toSeq
    }
    val cases = Seq(
      "<p><x-é id=1>t</x-é></p>" -> Seq("x-é"),
      "<p><x-é id=1>t</x-é><X-é id=2></X-é></p>" -> Seq("x-é[id]"),
      "<div><café id=c>t</café><a id=a>l</a></div>" -> Seq("café", "š"))
    for ((html, sels) <- cases) {
      val full = run(html, sels, forceFull = true)
      assert(run(html, sels, forceFull = false) == full, s"scan vs full on: $html")
      assert(full.nonEmpty && full.forall(!_.endsWith(":null")), full)
    }
    // `š` (U+0161) must not alias `a` through its low byte
    assert(run(cases(2)._1, Seq("š"), forceFull = true).isEmpty)
  }

  test("scan mode skips attr recording for unmatched tags (spot check via bench doc)") {
    val in = getClass.getResourceAsStream("/benchdocs/cloudflare.com.html")
    assume(in != null)
    val bytes = in.readAllBytes(); in.close()
    val full = new TraceSink
    val scan = new TraceSink
    new Lexer(strict = false).parse(bytes, full)
    new Lexer(strict = false).parse(bytes, scan, skipAll)
    assert(scan.trace == full.trace)
  }
}

/** T4 (dynamic text capture under scan mode): the reference re-decides
  * parser mode per tag so text handlers under a matched element get full
  * lexemes while the rest of the document stays in the fast mode
  * (/root/reference/src/parser/mod.rs:26-118). This engine reaches the
  * same end state differently: text-handler activation is refcounted per
  * matched subtree (D1), text chunks materialize ONLY while a matched
  * element is open, and attribute skipping stays on for all other tags —
  * these tests pin that composition against forced full mode.
  */
class ScanModeTextCaptureSpec extends org.scalatest.funsuite.AnyFunSuite {
  import scala.collection.mutable

  private def run(html: String, forceFull: Boolean,
                  selectors: Seq[String]): (Seq[String], String) = {
    val texts = new mutable.ArrayBuffer[String]()
    val handlers = selectors.map(s => s -> ElementHandlers(
      text = tc => { if (tc.text.nonEmpty) texts += s"$s:${tc.text}" }))
    val rw = new Rewriter(handlers, strict = false)
    rw.disableAttrSkip = forceFull
    val out = rw.rewrite(html)
    (texts.toSeq, out)
  }

  private def sameBothModes(html: String, selectors: Seq[String]): (Seq[String], String) = {
    val (tFull, oFull) = run(html, forceFull = true, selectors)
    val (tScan, oScan) = run(html, forceFull = false, selectors)
    assert(tScan == tFull, s"text capture divergence on: $html")
    assert(oScan == oFull, s"output divergence on: $html")
    (tScan, oScan)
  }

  test("text handler under a matched element captures only that subtree") {
    val (texts, out) = sameBothModes(
      "<p>before</p><div a='x>y'>in<span>deep</span></div><p>after</p>",
      Seq("div"))
    assert(texts == Seq("div:in", "div:deep"))
    assert(out == "<p>before</p><div a='x>y'>in<span>deep</span></div><p>after</p>")
  }

  test("nested matches: refcounted activation (no double capture, exact deactivation)") {
    val (texts, _) = sameBothModes(
      "<div>a<div>b</div>c</div>d<section>skip</section>",
      Seq("div"))
    assert(texts == Seq("div:a", "div:b", "div:c"))
  }

  test("text mutation under a matched subtree rewrites only there") {
    def run2(forceFull: Boolean): String = {
      val rw = new Rewriter(Seq("article" -> ElementHandlers(
        text = tc => { if (tc.text.contains("secret")) tc.replace("[redacted]", ContentType.Text) })),
        strict = false)
      rw.disableAttrSkip = forceFull
      rw.rewrite("<p>secret stays</p><article q=\"a>b\">a secret here</article><p>secret too</p>")
    }
    val full = run2(forceFull = true)
    val scan = run2(forceFull = false)
    assert(scan == full)
    assert(scan == "<p>secret stays</p><article q=\"a>b\">[redacted]</article><p>secret too</p>")
  }

  test("mixed workload: text capture + attr predicate + rcdata/script subtrees") {
    val html = "<title>t</title><div class=k><script>var s='</div>';</script>tx</div>" +
      "<a href='/u'>link</a><textarea>raw<div></textarea>"
    val selectors = Seq("div", "a[href]", "textarea")
    val (texts, out) = sameBothModes(html, selectors)
    // text chunks split at markup-lookalike boundaries; content is the join
    def joined(sel: String) =
      texts.filter(_.startsWith(sel + ":")).map(_.drop(sel.length + 1)).mkString
    assert(joined("textarea") == "raw<div>")
    assert(texts.contains("div:tx"))
    assert(joined("a[href]") == "link")
    assert(out == html)
  }

  test("unhashable matched name activates text capture for its subtree only") {
    val (texts, _) = sameBothModes(
      "<emu-alg-like-name>steps<span>inner</span></emu-alg-like-name><p>out</p>",
      Seq("emu-alg-like-name"))
    assert(texts == Seq("emu-alg-like-name:steps", "emu-alg-like-name:inner"))
  }
}
