package graft.rewrite

import org.scalatest.funsuite.AnyFunSuite
import graft.extract.{ExtractPolicy, Extractor}

/** Unit tests for the user-facing rewriting API surface (the reference's
  * Element/TextChunk/Comment mutation methods, element.rs).
  */
class RewriterApiSpec extends AnyFunSuite {

  private def rw(sel: String)(f: Element => Unit): String => String = {
    val r = new Rewriter(Seq(sel -> ElementHandlers(element = f)), strict = false)
    s => r.rewrite(s)
  }

  test("setTagName renames start and end tags") {
    val f = rw("div")(_.setTagName("section"))
    assert(f("""<div id="a">x</div>""") == """<section id="a">x</section>""")
    // nested: both renamed, inner end tag matches inner element
    assert(f("<div>a<div>b</div>c</div>") == "<section>a<section>b</section>c</section>")
  }

  test("setAttribute updates in place and appends when new") {
    val f = rw("a")(el => { el.setAttribute("href", "https://x"); el.setAttribute("rel", "nofollow") })
    assert(f("""<a href="http://y" target=_blank>t</a>""") ==
      """<a href="https://x" target="_blank" rel="nofollow">t</a>""")
  }

  test("removeAttribute drops the attribute") {
    val f = rw("img")(_.removeAttribute("onerror"))
    assert(f("""<img src=x onerror="evil()">""") == """<img src="x">""")
  }

  test("attribute values escape quotes and ampersands") {
    val f = rw("p")(_.setAttribute("title", "a\"b&c"))
    assert(f("<p>x</p>") == """<p title="a&quot;b&amp;c">x</p>""")
  }

  test("self-closing foreign elements keep the slash") {
    val f = rw("circle")(_.setAttribute("r", "5"))
    assert(f("""<svg><circle r="2"/></svg>""") == """<svg><circle r="5"/></svg>""")
    // per HTML5, a slash after an unquoted value joins the value and the
    // tag is NOT self-closing
    assert(f("<svg><circle r=2/></svg>") == """<svg><circle r="5"></svg>""")
  }

  test("rename composes with after-content") {
    val f = rw("b")(el => { el.setTagName("strong"); el.after("!") })
    assert(f("<p><b>hi</b></p>") == "<p><strong>hi</strong>!</p>")
  }

  test("text replace and comment remove") {
    val r = new Rewriter(Seq("p" -> ElementHandlers(
      text = t => if (!t.lastInTextNode) t.replace("REDACTED", ContentType.Text),
      comments = c => c.remove())), strict = false)
    assert(r.rewrite("<p>secret<!-- note --></p>") == "<p>REDACTED</p>")
  }

  test("document handlers: doctype removal + end append") {
    val r = new Rewriter(Nil, docHandlers = Seq(DocHandlers(
      doctype = d => d.remove(),
      end = e => e.append("<!-- eof -->"))), strict = false)
    assert(r.rewrite("<!doctype html><p>x</p>") == "<p>x</p><!-- eof -->")
  }

  test("rewriter instance reuse: identical output across repeated docs") {
    var textCount = 0
    val r = new Rewriter(Seq("div" -> ElementHandlers(
      element = el => { el.before("["); el.after("]") },
      text = _ => textCount += 1)), strict = false)
    val doc = "<p>a</p><div>x<b>y</b></div><div>z</div>"
    val first = r.rewrite(doc)
    assert(first == "<p>a</p>[<div>x<b>y</b></div>][<div>z</div>]")
    val countAfterFirst = textCount
    // same instance, same doc: byte-identical output, same handler firings
    assert(r.rewrite(doc) == first)
    assert(textCount == countAfterFirst * 2)
    // interleave a different doc, then the original again
    assert(r.rewrite("<div>solo</div>") == "[<div>solo</div>]")
    assert(r.rewrite(doc) == first)
  }

  test("meta charset detection + encoded extraction roundtrip") {
    val ex = new Extractor(ExtractPolicy.Default.copy(strict = false))
    // windows-1252 bytes with a meta declaration: 0xE9 = e-acute
    val body = "<html><head><meta charset=windows-1252></head><body><p>café</p></body></html>"
    val raw = body.getBytes(java.nio.charset.Charset.forName("windows-1252"))
    // default utf-8 parse would mangle 0xE9; meta triggers re-decode
    val r = ex.extractEncoded(raw, "UTF-8")
    assert(r.spans.map(_.text) == Seq("café"))
    // http-equiv form
    val body2 = "<head><meta http-equiv=\"Content-Type\" content=\"text/html; charset=windows-1252\"></head><body><p>naïve</p></body>"
    val raw2 = body2.getBytes(java.nio.charset.Charset.forName("windows-1252"))
    assert(ex.extractEncoded(raw2, "UTF-8").spans.map(_.text) == Seq("naïve"))
    // utf-8 doc with matching meta: single parse, no change
    val r3 = ex.extractEncoded("<meta charset=utf-8><p>ok</p>".getBytes("UTF-8"))
    assert(r3.spans.map(_.text) == Seq("ok"))
  }
}

/** Output-transcoding encode: unmappable characters become numeric
  * character references (the reference's encoding_rs HTML-encode behavior
  * in streaming_sink.rs) instead of '?' replacement bytes.
  */
class EncodeHtmlCompatSpec extends AnyFunSuite {
  private def enc(s: String, cs: String): Array[Byte] =
    Rewriter.encodeHtmlCompat(s, java.nio.charset.Charset.forName(cs))

  test("in-charset characters encode natively") {
    val b = enc("café", "windows-1252")
    assert(b.toSeq == "caf".getBytes("windows-1252").toSeq :+ 0xe9.toByte)
  }

  test("unmappable BMP char becomes &#NNN;") {
    assert(new String(enc("a→b", "windows-1252"), "windows-1252") == "a&#8594;b")
  }

  test("astral char becomes one NCR with the full code point") {
    assert(new String(enc("x😀y", "Shift_JIS"), "Shift_JIS") == "x&#128512;y")
  }

  test("mixed: mappable non-ASCII survives, unmappable is referenced") {
    val out = new String(enc("é❤è", "windows-1252"), "windows-1252")
    assert(out == "é&#10084;è")
  }

  test("rewriteEncodedBytes preserves handler-injected out-of-charset content") {
    val rw = new Rewriter(Seq("p" -> ElementHandlers(element = el =>
      el.append("✓", ContentType.Text))), strict = false)
    val cs = java.nio.charset.Charset.forName("windows-1252")
    val out = rw.rewriteEncodedBytes("<p>hi</p>".getBytes(cs), cs)
    assert(new String(out, cs) == "<p>hi&#10003;</p>")
  }
}

/** Streaming mutation handlers (reference `streaming!` macro +
  * Element::streaming_* — settings.rs:589-620, element streaming tests):
  * content is produced in chunks at serialization time.
  */
class StreamingMutationSpec extends AnyFunSuite {
  private def h(chunks: (String, Int)*): StreamingHandler = new StreamingHandler {
    def writeAll(sink: StreamingSink): Unit =
      chunks.foreach { case (c, ct) => sink.writeStr(c, ct) }
  }

  private def rewrite(html: String, sel: String, f: Element => Unit): String = {
    val rw = new Rewriter(Seq(sel -> ElementHandlers(element = f)), strict = false)
    rw.rewrite(html)
  }

  test("streamingReplace writes chunked replacement for the whole element") {
    val out = rewrite("<div><span>x</span></div><p>keep</p>", "div",
      el => el.streamingReplace(h("<h1>" -> ContentType.Html, "a&b" -> ContentType.Text,
        "</h1>" -> ContentType.Html)))
    assert(out == "<h1>a&amp;b</h1><p>keep</p>")
  }

  test("streamingSetInnerContent keeps tags, streams content") {
    val out = rewrite("<div>old<span>gone</span></div>", "div",
      el => el.streamingSetInnerContent(h("new " -> ContentType.Html, "1<2" -> ContentType.Text)))
    assert(out == "<div>new 1&lt;2</div>")
  }

  test("streamingPrepend/Append compose with literal mutations in order") {
    val out = rewrite("<div>mid</div>", "div", el => {
      el.prepend("[p1]")
      el.streamingPrepend(h("[p2]" -> ContentType.Html))
      el.append("[a1]")
      el.streamingAppend(h("[a2]" -> ContentType.Html))
    })
    // prepend is push_front (later prepend outermost); append is push_back
    assert(out == "<div>[p2][p1]mid[a1][a2]</div>")
  }

  test("streamingBefore/After around a void element") {
    val out = rewrite("a<img src=x>b", "img", el => {
      el.streamingBefore(h("<!--b-->" -> ContentType.Html))
      el.streamingAfter(h("<!--a-->" -> ContentType.Html))
    })
    assert(out == "a<!--b--><img src=x><!--a-->b")
  }

  test("element replace (literal) removes tags and content") {
    val out = rewrite("x<div>gone<span>too</span></div>y", "div",
      el => el.replace("<hr>"))
    assert(out == "x<hr>y")
  }

  test("text chunk streamingReplace with escaping") {
    val rw = new Rewriter(Seq("p" -> ElementHandlers(text = tc =>
      if (tc.text.nonEmpty) tc.streamingReplace(h("<" -> ContentType.Text, "chunked" -> ContentType.Text)))),
      strict = false)
    assert(rw.rewrite("<p>orig</p>") == "<p>&lt;chunked</p>")
  }

  test("comment streamingBefore/After") {
    val rw = new Rewriter(Seq.empty, docHandlers = Seq(DocHandlers(comments = c => {
      c.streamingBefore(h("B" -> ContentType.Html))
      c.streamingAfter(h("A" -> ContentType.Html))
    })), strict = false)
    assert(rw.rewrite("x<!--c-->y") == "xB<!--c-->Ay")
  }
}

/** ESI tags (reference D15, off by default — settings.rs
  * with_enable_esi_tags + rewriter/mod.rs write_esi_tags test):
  * esi:include / esi:comment become void elements so they can be matched
  * with an escaped type selector and replaced.
  */
class EsiTagsSpec extends AnyFunSuite {
  test("esi:include is void and replaceable when enabled (reference test mirrored)") {
    val rw = new Rewriter(Seq("esi\\:include" -> ElementHandlers(element = el =>
      el.replace("?", ContentType.Text))), strict = false, enableEsiTags = true)
    assert(rw.rewrite("<span><esi:include src=a></span>") == "<span>?</span>")
  }

  test("esi:comment is void when enabled (no dangling open element)") {
    val rw = new Rewriter(Seq("esi\\:comment" -> ElementHandlers(element = el =>
      el.remove())), strict = false, enableEsiTags = true)
    assert(rw.rewrite("a<esi:comment text=x>b<p>c</p>") == "ab<p>c</p>")
  }

  test("disabled by default: esi:include is an ordinary (content) element") {
    var canHaveContent = false
    val rw = new Rewriter(Seq("esi\\:include" -> ElementHandlers(element = el =>
      canHaveContent = el.canHaveContent)), strict = false)
    rw.rewrite("<span><esi:include src=a></span>")
    assert(canHaveContent)
  }
}

/** Entry dispatch via the name-bucketed index: programs whose entries
  * carry predicates beyond a single TypeSel must still fire exactly the
  * right matches — including multiple entries bucketed under ONE name,
  * anchored unhashable names, anchor-less entries that run for every tag,
  * and programs past one 64-bit word of instructions and match ids.
  */
class NameEntryDispatchSpec extends org.scalatest.funsuite.AnyFunSuite {
  import scala.collection.mutable

  private def matches(html: String, selectors: Seq[String]): Seq[String] = {
    val buf = new mutable.ArrayBuffer[String]()
    val rw = new Rewriter(selectors.map(s =>
      s -> ElementHandlers(element = el => buf += s"$s:${el.tagName}")),
      strict = false, produceOutput = false)
    rw.rewriteToBytes(html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    buf.toSeq
  }

  test("duplicate-name buckets: two predicate entries under one tag name") {
    val got = matches(
      """<div class=a>1</div><div data-x=1>2</div><div>3</div><span class=a>4</span>""",
      Seq("div.a", "div[data-x]", ".a"))
    assert(got == Seq("div.a:div", ".a:div", "div[data-x]:div", ".a:span"))
  }

  test("unhashable anchored entries dispatch by interned name") {
    val got = matches(
      "<emu-production-like name=x>a</emu-production-like><emu-other-long-name name=y>b</emu-other-long-name>",
      Seq("emu-production-like[name]", "[name]"))
    assert(got == Seq("emu-production-like[name]:emu-production-like",
      "[name]:emu-production-like", "[name]:emu-other-long-name"))
  }

  test("anchored entries never fire for other names; universal always evaluated") {
    val got = matches("<a href=u>l</a><p href=zz>t</p><b>n</b>",
      Seq("a[href]", "[href]"))
    assert(got == Seq("a[href]:a", "[href]:a", "[href]:p"))
  }

  test("programs past 64 instructions and match ids: order, dedup and jumps") {
    // ids 0..67 -> instrs 0..67; id 68 (comma list) -> instrs 68, 69;
    // id 69 -> `section` at instr 70 with a child jump to `p` at instr 71
    val divs = (0 until 68).map(n => s"div.c$n")
    val sels = divs ++ Seq("p.x, p.y", "section > p")
    val got = matches(
      """<div class="c67 c0 c64 c63 c5">a</div><p class="y x">b</p>""" +
        """<section><p class=x>c</p><div><p>d</p></div></section>""",
      sels)
    assert(got == Seq(
      "div.c0:div", "div.c5:div", "div.c63:div", "div.c64:div", "div.c67:div",
      "p.x, p.y:p",
      "p.x, p.y:p", "section > p:p"))
  }
}

/** Comment.setText + Element.namespaceUri (reference Comment::set_text,
  * comment.rs:85-107, and Element::namespace_uri, namespace.rs:13-21).
  */
class CommentSetTextSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("setText rewrites the comment body") {
    val rw = new Rewriter(Nil, docHandlers = Seq(DocHandlers(
      comments = c => if (c.text.contains("old")) c.setText("new body"))),
      strict = false)
    assert(rw.rewrite("a<!--old stuff-->b") == "a<!--new body-->b")
  }

  test("setText rejects every comment-closing sequence the tokenizer knows") {
    val rw = new Rewriter(Nil, docHandlers = Seq(DocHandlers(comments = c => {
      for (bad <- Seq("a-->b", "a--!>b", ">lead", "->lead"))
        intercept[IllegalArgumentException](c.setText(bad))
      // near-misses the reference accepts
      c.setText("com--ment >ok -> fine")
    })), strict = false)
    assert(rw.rewrite("<!--x-->") == "<!--com--ment >ok -> fine-->")
  }

  test("namespaceUri reflects foreign-content context (post-feedback, like the reference)") {
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val rw = new Rewriter(Seq(
      "circle" -> ElementHandlers(element = el => seen += el.namespaceUri),
      "mrow" -> ElementHandlers(element = el => seen += el.namespaceUri),
      "mi" -> ElementHandlers(element = el => seen += el.namespaceUri),
      "p" -> ElementHandlers(element = el => seen += el.namespaceUri)),
      strict = false, produceOutput = false)
    rw.rewrite("<p>t</p><svg><circle r=1/></svg><math><mrow><mi>x</mi></mrow></math>")
    // the reference assigns ns AFTER tree feedback (lexer/actions.rs:104),
    // so a text integration point like <mi> reports the HTML namespace it
    // switches its content into; <mrow> stays MathML
    assert(seen.toSeq == Seq("http://www.w3.org/1999/xhtml",
      "http://www.w3.org/2000/svg", "http://www.w3.org/1998/Math/MathML",
      "http://www.w3.org/1999/xhtml"))
  }
}

/** User end-tag handlers (reference Element::end_tag_handlers). */
class EndTagHandlerSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("onEndTag fires with the matched element's end tag and can mutate it") {
    val rw = new Rewriter(Seq("article" -> ElementHandlers(element = el => {
      assert(el.canHaveContent)
      el.onEndTag(et => { assert(et.nameLower == "article"); et.before("<!--bye-->") })
      el.onEndTag(et => et.after("[after]"))
    })), strict = false)
    assert(rw.rewrite("<article>x</article>tail") ==
      "<article>x<!--bye--></article>[after]tail")
  }

  test("onEndTag composes with append (mutations and user hooks share the end tag)") {
    val rw = new Rewriter(Seq("div" -> ElementHandlers(element = el => {
      el.append("+appended")
      el.onEndTag(et => et.setName("section"))
    })), strict = false)
    assert(rw.rewrite("<div>x</div>") == "<div>x+appended</section>")
  }

  test("onEndTag never fires for void elements") {
    var fired = false
    val rw = new Rewriter(Seq("br" -> ElementHandlers(element = el =>
      el.onEndTag(_ => fired = true))), strict = false)
    rw.rewrite("a<br>b")
    assert(!fired)
  }

  test("onEndTag fires on implicit closes too") {
    val rw = new Rewriter(Seq("li" -> ElementHandlers(element = el =>
      el.onEndTag(et => et.before("[eol]")))), strict = false)
    // note: implicitly-closed <li> has no end tag bytes; the handler runs
    // when the closing tag that drains it arrives
    assert(rw.rewrite("<ul><li>a</li></ul>") == "<ul><li>a[eol]</li></ul>")
  }

  test("end-tag and doctype source locations, incl. implicit closes") {
    // reference EndTag::source_location (end_tag.rs:183) and
    // Doctype::source_location (doctype.rs:112): byte range of the token
    // itself. An element implicitly closed by an ancestor's end tag fires
    // its end-tag handler with THAT tag, so the range is the ancestor's.
    var dt = (-1, -1)
    var ranges = Vector.empty[(String, Int, Int)]
    val html = "<!DOCTYPE  html>\n<section><ul><li>a<li>b</ul ></section><p>c</p>"
    val capture = (el: Element) => {
      // snapshot the name NOW: the pooled Element is only valid during
      // the element-handler invocation, not inside the deferred end-tag
      // callback
      val name = el.tagName
      el.onEndTag(et => ranges :+= ((name, et.sourceStart, et.sourceEnd)))
    }
    val rw = new Rewriter(
      Seq("li" -> ElementHandlers(element = capture),
        "ul" -> ElementHandlers(element = capture),
        "p" -> ElementHandlers(element = capture)),
      Seq(DocHandlers(doctype = d => dt = (d.sourceStart, d.sourceEnd))),
      strict = false, produceOutput = false)
    rw.rewrite(html)
    assert(html.substring(dt._1, dt._2) == "<!DOCTYPE  html>")
    // both <li>s are implicitly closed: the first by its sibling... no —
    // lol-html's stack pops only on end tags, so BOTH lis drain at </ul >
    // (whitespace inside the close tag included in the range), the ul at
    // its own tag, the p at </p>
    assert(ranges.map(_._1) == Vector("li", "li", "ul", "p"))
    for ((_, s, e) <- ranges.take(3)) assert(html.substring(s, e) == "</ul >")
    val (_, ps, pe) = ranges(3)
    assert(html.substring(ps, pe) == "</p>")
  }

  test("element source location is the start tag's byte range") {
    // mirrors the reference's Element::source_location (the START TAG's
    // range; the element end isn't parsed yet when the handler runs) —
    // element.rs:725-732, spanned.rs:9-32. Fixture has multi-line
    // whitespace inside the tag and quoted/unquoted/spaced attributes.
    var ranges = Vector.empty[(String, Int, Int)]
    val capture = (el: Element) => ranges :+= ((el.tagName, el.sourceStart, el.sourceEnd))
    val html = "<!doctype html>\n<html><body>  <div   class=\"a b\"\n  data-x = 'y' >text<img src=\"i.png\"/></div></body></html>"
    val r = new Rewriter(Seq(
      "div" -> ElementHandlers(element = capture),
      "img" -> ElementHandlers(element = capture)), strict = false, produceOutput = false)
    r.rewrite(html)
    assert(ranges.map(_._1) == Vector("div", "img"))
    val (_, ds, de) = ranges(0)
    assert(html.substring(ds, de) == "<div   class=\"a b\"\n  data-x = 'y' >")
    val (_, is0, ie0) = ranges(1)
    assert(html.substring(is0, ie0) == "<img src=\"i.png\"/>")
  }
}

/** Round-5 adjudication of the legacy attribute case-sensitivity corner:
  * the selectors crate (0.37) emits
  * `AsciiCaseInsensitiveIfInHtmlElementInHtmlDocument` for UNFLAGGED
  * attribute selectors whose name is in the HTML spec's legacy
  * case-insensitive list, and the reference resolves it per element
  * (/root/reference/src/selectors_vm/attribute_matcher.rs:18-36) — so the
  * variant IS reachable through lol-html's accepted grammar and graft now
  * models it (CaseMode.HtmlLegacy).
  */
class AttrCaseSensitivitySpec extends org.scalatest.funsuite.AnyFunSuite {
  private def matches(selector: String, html: String): Int = {
    var n = 0
    val rw = new Rewriter(Seq(selector -> ElementHandlers(element = _ => n += 1)),
      strict = false, produceOutput = false)
    rw.rewrite(html)
    n
  }

  test("legacy attrs compare case-insensitively on HTML elements") {
    assert(matches("[type=text]", "<input type=TEXT>") == 1)
    assert(matches("input[type=\"TeXt\"]", "<input type=text>") == 1)
    assert(matches("[rel~=NOFOLLOW]", "<a rel='x nofollow'>") == 1)
    assert(matches("[hreflang|=EN]", "<a hreflang=en-GB>x</a>") == 1)
    assert(matches("[target^=_BL]", "<a target=_blank>x</a>") == 1)
    assert(matches("[media$=EEN]", "<style media=screen></style>") == 1)
    assert(matches("[dir*=T]", "<bdo dir=rtl>x</bdo>") == 1)
  }

  test("foreign-content elements stay case-sensitive for legacy attrs") {
    assert(matches("[type=text]", "<svg><x type=TEXT></x></svg>") == 0)
    assert(matches("[type=text]", "<svg><x type=text></x></svg>") == 1)
  }

  test("non-legacy attrs stay case-sensitive without a flag") {
    assert(matches("[data-x=a]", "<div data-x=A>") == 0)
    assert(matches("[data-x=a]", "<div data-x=a>") == 1)
    assert(matches("[id=Foo]", "<div id=foo>") == 0)
  }

  test("explicit flags override the legacy default") {
    assert(matches("[type=text s]", "<input type=TEXT>") == 0)
    assert(matches("[type=TEXT s]", "<input type=TEXT>") == 1)
    assert(matches("[data-x=a i]", "<div data-x=A>") == 1)
  }

  // ---- graceful bail-out (reference v3.0.0 BailOut unit,
  // rewriter/mod.rs test_graceful_bail_out_* + bail_out.rs doc contract) --

  private def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  test("bail-out: memory limit on an oversized doc flushes the whole input after the marker") {
    val rw = new Rewriter(
      Seq("nav" -> ElementHandlers(element = _.replace("<hr>"))),
      strict = false, maxDocBytes = 32,
      gracefulBailOutOnMemoryLimit = true,
      bailOutHandlers = Seq((err, bo) => {
        bo.append(s"<!--${err.errorCode}-->", ContentType.Html)
        bo.append("a<b", ContentType.Text) // escaped per content type
      }))
    val doc = "<html><body><nav>x</nav>" + ("y" * 40) + "</body></html>"
    val out = new String(rw.rewriteToBytes(utf8(doc)),
      java.nio.charset.StandardCharsets.UTF_8)
    // input-size trip happens BEFORE parsing: no transformation at all,
    // marker (handler appends concatenated, Text escaped) then raw doc
    assert(out == "<!--memory_limit_exceeded:32-->a&lt;b" + doc)
    assert(rw.lastBailOut != null &&
      rw.lastBailOut.isInstanceOf[MemoryLimitExceededError])
    // the next document rewrites normally and clears lastBailOut
    assert(new String(rw.rewriteToBytes(utf8("<nav>x</nav>ok")),
      java.nio.charset.StandardCharsets.UTF_8) == "<hr>ok")
    assert(rw.lastBailOut == null)
  }

  test("bail-out: without the graceful flag the memory error throws (no flush)") {
    val rw = new Rewriter(Seq("nav" -> ElementHandlers(element = _.replace("<hr>"))),
      strict = false, maxDocBytes = 8)
    intercept[MemoryLimitExceededError] { rw.rewriteToBytes(utf8("<p>0123456789</p>")) }
  }

  test("bail-out: handler error mid-document keeps the transformed prefix, marker, raw suffix") {
    val rw = new Rewriter(
      Seq(
        "nav" -> ElementHandlers(element = _.replace("<hr>")),
        "article" -> ElementHandlers(element = _ => throw new RuntimeException("boom"))),
      strict = false,
      gracefulBailOutOnContentHandlerError = true,
      bailOutHandlers = Seq(
        (err, bo) => bo.append(s"<!--${err.errorCode}-->", ContentType.Html),
        (_, bo) => bo.append("<!--second-->", ContentType.Html))) // registration order
    val doc = "<html><body><nav>n</nav><article><p>t</p></article></body></html>"
    val out = new String(rw.rewriteToBytes(utf8(doc)),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(out == "<html><body><hr><!--content_handler_error--><!--second-->" +
      "<article><p>t</p></article></body></html>")
    assert(rw.lastBailOut.isInstanceOf[ContentHandlerError])
  }

  test("bail-out: handler error without the graceful flag wraps and throws") {
    val rw = new Rewriter(
      Seq("p" -> ElementHandlers(element = _ => throw new RuntimeException("boom"))),
      strict = false)
    val e = intercept[ContentHandlerError] { rw.rewriteToBytes(utf8("<p>x</p>")) }
    assert(e.getCause.getMessage == "boom")
  }

  test("bail-out: mid-document output-budget trip (buffered-handler growth) flushes remaining raw") {
    // the append grows the OUTPUT past the budget; the trip fires at the
    // next start tag, so the transformed prefix survives and the rest of
    // the input flushes as-is — the reference's buffered-data flush
    // analog (rewriter/mod.rs test_graceful_bail_out_in_buffer_append)
    val rw = new Rewriter(
      Seq("p" -> ElementHandlers(element = _.after("B" * 64, ContentType.Html))),
      strict = false, maxDocBytes = 60,
      gracefulBailOutOnMemoryLimit = true,
      bailOutHandlers = Seq((err, bo) => bo.append(s"<!--${err.errorCode}-->", ContentType.Html)))
    val doc = "<p>a</p><i>keep</i><p>z</p>"
    val out = new String(rw.rewriteToBytes(utf8(doc)),
      java.nio.charset.StandardCharsets.UTF_8)
    // first <p> serialized + appended content (out.size = 8 + 64 > 60);
    // trip at <i>: pendingStart is after the first </p>
    assert(out == "<p>a</p>" + ("B" * 64) + "<!--memory_limit_exceeded:60-->" +
      "<i>keep</i><p>z</p>")
  }

  test("bail-out: parsing ambiguity is never graceful (strict-mode refusal, reference parity)") {
    val rw = new Rewriter(
      Seq("p" -> ElementHandlers(element = _ => ())),
      strict = true,
      gracefulBailOutOnMemoryLimit = true,
      gracefulBailOutOnContentHandlerError = true,
      bailOutHandlers = Seq((_, bo) => bo.append("<!--never-->", ContentType.Html)))
    intercept[graft.core.ParsingAmbiguityException] {
      rw.rewriteToBytes(utf8("<select><style>bail</style></select>"))
    }
  }
}
