package graft.rewrite

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** The selector VM's open-element stack on hand-written inputs: each one
  * pins the serialized output and the element/text handler and emission
  * interval events, in order. Covers end-tag semantics (implicit closes,
  * stray end tags, FNV-keyed unhashable names, ESI voids, foreign
  * self-closing), match-id dedup of comma lists, nth child counters and
  * engine reuse across documents.
  */
class VmStackSpec extends AnyFunSuite {

  /** Run `selectors` over `html`; return (events, output). */
  private def run(html: String, selectors: Seq[String],
                  removeSel: Set[String] = Set.empty,
                  enableEsi: Boolean = false): (Seq[String], String) = {
    val events = new mutable.ArrayBuffer[String]()
    val handlers = selectors.map { s =>
      s -> ElementHandlers(
        element = el => {
          events += s"el:$s:${el.tagName}:${el.canHaveContent}"
          if (removeSel(s)) el.remove()
        },
        text = tc => { if (tc.text.nonEmpty) events += s"tx:$s:${tc.text}" })
    }
    val listener = new RewriteListener {
      override def onEmissionDisabled(pos: Int): Unit = events += s"off:$pos"
      override def onEmissionEnabled(pos: Int): Unit = events += s"on:$pos"
    }
    val rw = new Rewriter(handlers, strict = false, listener = listener,
      enableEsiTags = enableEsi)
    val out = rw.rewrite(html)
    (events.toSeq, out)
  }

  private def check(html: String, selectors: Seq[String],
                    removeSel: Set[String] = Set.empty, enableEsi: Boolean = false)(
                    events: String*)(out: String): Unit = {
    val (e, o) = run(html, selectors, removeSel, enableEsi)
    assert(e == events, s"events on: $html")
    assert(o == out, s"output on: $html")
  }

  test("strip workload: removal intervals and output") {
    check("<html><head><title>t</title></head><body><nav>menu</nav><p>keep</p>" +
        "<script>var x=1;</script><div>also</div></body></html>",
      Seq("nav", "script", "head"), removeSel = Set("nav", "script", "head"))(
      "el:head:head:true", "off:6", "tx:head:t", "on:35",
      "el:nav:nav:true", "off:41", "tx:nav:menu", "on:56",
      "el:script:script:true", "off:67", "tx:script:var x=1;", "on:92")(
      "<html><body><p>keep</p><div>also</div></body></html>")
  }

  test("implicit closes: <li>/<dd> runs drain matched ancestors correctly") {
    check("<ul><li>a<li>b<li>c</ul><p>after</p>", Seq("ul", "li"),
      removeSel = Set("li"))(
      "el:ul:ul:true", "el:li:li:true", "off:4", "tx:ul:a", "tx:li:a",
      "el:li:li:true", "tx:ul:b", "tx:li:b", "el:li:li:true", "tx:ul:c", "tx:li:c",
      "on:24")(
      "<ul><p>after</p>")
    check("<div><ul><li>x<div>deep</div><li>y</ul>tail</div>", Seq("div"))(
      "el:div:div:true", "tx:div:x", "el:div:div:true", "tx:div:deep",
      "tx:div:y", "tx:div:tail")(
      "<div><ul><li>x<div>deep</div><li>y</ul>tail</div>")
    // end tag closes an OUTER element: everything inside (incl. matched
    // frames) is implicitly closed in one pop
    check("<section><article>a<p>b</section>done", Seq("article"),
      removeSel = Set("article"))(
      "el:article:article:true", "off:9", "tx:article:a", "tx:article:b", "on:33")(
      "<section>done")
  }

  test("text capture scoping survives implicit closes") {
    check("<div>in<span>deep</span></div>out<ul><li>one<li>two</ul>",
      Seq("div", "li"))(
      "el:div:div:true", "tx:div:in", "tx:div:deep",
      "el:li:li:true", "tx:li:one", "el:li:li:true", "tx:li:two")(
      "<div>in<span>deep</span></div>out<ul><li>one<li>two</ul>")
  }

  test("stray end tags and void elements") {
    check("a</div>b<br></br><img src=x></img>c<p>d</p>", Seq("p", "br"))(
      "el:br:br:false", "el:p:p:true", "tx:p:d")(
      "a</div>b<br></br><img src=x></img>c<p>d</p>")
    check("</em-custom-long-name>x<hr>y", Seq("hr"))(
      "el:hr:hr:false")(
      "</em-custom-long-name>x<hr>y")
  }

  test("unhashable names: nesting, implicit close, stray reject") {
    check("<emu-clause-like-name>a<emu-xref-like-name>b</emu-clause-like-name>c",
      Seq("emu-xref-like-name"), removeSel = Set("emu-xref-like-name"))(
      "el:emu-xref-like-name:emu-xref-like-name:true", "off:23",
      "tx:emu-xref-like-name:b", "on:67")(
      "<emu-clause-like-name>ac")
    check("</emu-stray-long-name>keep<emu-stray-long-name>x</emu-stray-long-name>",
      Seq("emu-stray-long-name"), removeSel = Set("emu-stray-long-name"))(
      "el:emu-stray-long-name:emu-stray-long-name:true", "off:26",
      "tx:emu-stray-long-name:x", "on:70")(
      "</emu-stray-long-name>keep")
  }

  test("foreign content: self-closing non-HTML-ns elements") {
    check("<svg><circle r=1/><text>t</text></svg>after", Seq("text"),
      removeSel = Set("text"))(
      "el:text:text:true", "off:18", "tx:text:t", "on:32")(
      "<svg><circle r=1/></svg>after")
    check("<math><mi>x</mi><annotation-xml><div>d</div></annotation-xml></math>",
      Seq("div"))(
      "el:div:div:true", "tx:div:d")(
      "<math><mi>x</mi><annotation-xml><div>d</div></annotation-xml></math>")
  }

  test("esi void tags close nothing") {
    check("<div>a<esi:include src=\"/u\"/>b</div>", Seq("esi\\:include"),
      removeSel = Set("esi\\:include"), enableEsi = true)(
      "el:esi\\:include:esi:include:false")(
      "<div>ab</div>")
  }

  test("comma list: one match id on two satisfied compounds fires once") {
    // "div, .note" compiles ONE match id onto TWO entry instrs; a
    // <div class=note> satisfies both. The VM dedups ids via its match
    // mask, or any per-match consumer (span/metric counting)
    // double-counts. Duplicates are invisible at the Rewriter level
    // (refcounts are symmetric), so this asserts on the raw VM onMatch
    // callbacks.
    import graft.selectors._
    import graft.core.TagHash
    def viewOf(name: String, classes: String): VmElemView = new VmElemView {
      private val bytes = name.getBytes("UTF-8")
      nameKeyV = TagHash.of(name); nameStartV = 0; nameEndV = bytes.length
      def nameInput: Array[Byte] = bytes
      def nameLower: String = name
      def nameHash: Long = TagHash.of(name)
      def isHtmlNs: Boolean = true
      def attrCount: Int = if (classes == null) 0 else 1
      def attrNameLower(i: Int): String = "class"
      def attrValue(i: Int): String = classes
    }
    def idsOf(name: String, classes: String): Seq[Int] = {
      val program = Program.compile(Seq(
        (SelectorParser.parse("div, .note"), 0), (SelectorParser.parse("span"), 1)))
      val vm = new MatchingVm(program)
      vm.reset()
      val got = new mutable.ArrayBuffer[Int]()
      vm.execStartTag(viewOf(name, classes), selfClosing = false,
        (id: Int, _: Boolean) => got += id)
      got.toSeq
    }
    assert(idsOf("div", "note") == Seq(0)) // both compounds, one fire
    assert(idsOf("div", null) == Seq(0))
    assert(idsOf("p", "note") == Seq(0))
    assert(idsOf("span", null) == Seq(1))
    assert(idsOf("p", null) == Seq())
  }

  test("60 live frames: open-name counts grow; out-of-order closes and stray end tags") {
    // the real lexer feeds the VM: 60 distinct names, hashable (`haa`,
    // `hac`, ...) alternating with unhashable (`x-elem-01`, ...) written
    // in mixed case, so the count table grows while every frame is live;
    // each frame carries a descriptor, so every pop is seen
    import graft.core.{AttrList, LexemeSink, Lexer}
    import graft.selectors._
    val names = (0 until 60).map(k =>
      if (k % 2 == 0) s"h${('a' + k / 26).toChar}${('a' + k % 26).toChar}" else f"x-elem-$k%02d")
    val html = names.map(n => s"<${if (n.startsWith("x")) n.toUpperCase else n}>").mkString +
      "</x-elem-41></x-elem-45></x-elem-99></hau></has></HAC></x-elem-01></haa></haa>"
    val bytes = html.getBytes("UTF-8")
    val vm = new MatchingVm(Program.compile(Seq((SelectorParser.parse("p"), 0))))
    vm.reset()
    val lexer = new Lexer(strict = false)
    val events = new mutable.ArrayBuffer[String]()
    def nameAt(s: Int, e: Int) = new String(bytes, s, e - s, "UTF-8").toLowerCase
    final class View(s: Int, e: Int, h: Long, key: Long) extends VmElemView {
      nameKeyV = key; nameStartV = s; nameEndV = e
      def nameInput: Array[Byte] = bytes
      def nameLower: String = nameAt(s, e)
      def nameHash: Long = h
      def isHtmlNs: Boolean = true
      def attrCount: Int = 0
      def attrNameLower(i: Int): String = null
      def attrValue(i: Int): String = null
    }
    lexer.parse(bytes, new LexemeSink {
      def onStartTag(s: Int, e: Int, h: Long, ns: Int, sc: Boolean, a: AttrList,
                     rs: Int, re: Int): Unit =
        if (vm.execStartTag(new View(s, e, h, lexer.tagNameKey), sc, (_: Int, _: Boolean) => ())) {
          val d = new ElementDescriptor
          d.endTagHandlerIdx = names.indexOf(nameAt(s, e))
          vm.setCurrentDescriptor(d)
        }
      def onEndTag(s: Int, e: Int, h: Long, rs: Int, re: Int): Unit = {
        events += s"end:${nameAt(s, e)}"
        vm.execEndTag(bytes, s, e, h, lexer.tagNameKey,
          (d: ElementDescriptor) => events += s"pop:${names(d.endTagHandlerIdx)}")
      }
      def onText(s: Int, e: Int, t: Int): Unit = ()
      def onComment(ts: Int, te: Int, rs: Int, re: Int): Unit = ()
      def onDoctype(a: Int, b: Int, c: Boolean, d: Int, e: Int, f: Boolean,
                    g: Int, h: Int, i: Boolean, j: Boolean, k: Int, l: Int): Unit = ()
      def onRawWithoutToken(rs: Int, re: Int): Unit = ()
      def onEof(p: Int): Unit = ()
    })
    def pops(from: Int, to: Int) = (from to to).map(k => s"pop:${names(k)}")
    assert(names.distinct.length == 60 && names(20) == "hau" && names(18) == "has")
    assert(events.toSeq ==
      Seq("end:x-elem-41") ++ pops(41, 59) ++
      Seq("end:x-elem-45", "end:x-elem-99") ++ // already closed / never opened
      Seq("end:hau") ++ pops(20, 40) ++
      Seq("end:has") ++ pops(18, 19) ++ // below the innermost frame: by count
      Seq("end:hac") ++ pops(2, 17) ++
      Seq("end:x-elem-01") ++ pops(1, 1) ++
      Seq("end:haa") ++ pops(0, 0) ++
      Seq("end:haa")) // stray once the stack is empty
    assert(vm.depth == 0)
  }

  test("comma list: Rewriter fires the handler once per element") {
    check("<div class=note>x</div><div>y</div><p class=note>z</p><span>w</span>",
      Seq("div, .note"))(
      "el:div, .note:div:true", "tx:div, .note:x",
      "el:div, .note:div:true", "tx:div, .note:y",
      "el:div, .note:p:true", "tx:div, .note:z")(
      "<div class=note>x</div><div>y</div><p class=note>z</p><span>w</span>")
  }

  test("nth predicates: per-parent child counters reset between documents") {
    // :nth-child reads the parent frame's child counter; a second run on
    // the same engine must count from 1 again
    val html = "<ul><li>a</li><li>b</li><li>c</li></ul>"
    val hits = new mutable.ArrayBuffer[String]()
    val rw = new Rewriter(Seq("li:nth-child(2)" -> ElementHandlers(
      element = el => hits += el.tagName)), strict = false, produceOutput = false)
    rw.rewrite(html)
    rw.rewrite(html)
    assert(hits.toSeq == Seq("li", "li"))
  }

  test("engine reuse across documents: leftover open elements never leak") {
    val rw = new Rewriter(Seq("div" -> ElementHandlers(element = el => el.remove())),
      strict = false)
    // doc 1 leaves unclosed elements at EOF
    assert(rw.rewrite("<section><div>gone") == "<section>")
    // doc 2 must not see doc 1's open elements: this </section> is stray here
    assert(rw.rewrite("x</section><div>y</div>z") == "x</section>z")
    // doc 3: unhashable leftovers
    assert(rw.rewrite("<emu-stale-name-x><div>a") == "<emu-stale-name-x>")
    assert(rw.rewrite("b</emu-stale-name-x><div>c</div>") == "b</emu-stale-name-x>")
  }
}
