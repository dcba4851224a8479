package graft.extract

import graft.core.{EngineBailoutException, TextType}
import graft.rewrite._
import scala.collection.mutable

/** One output span: `kind` is "text" (extracted main content) or "media"
  * (passthrough placeholder). `offset` is the byte offset in the logical
  * concatenated HTML stream of the document. Matches the table schema in
  * BASELINE.json `input_hint`.
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** One input fragment: either an HTML text fragment or a media placeholder. */
final case class InFrag(isText: Boolean, text: String, mediaRef: String)

/** Extraction policy: which elements are boilerplate (removed with their
  * content), which text contexts count as content, and strictness of the
  * ambiguity guard. The default follows the north rule's strip list
  * (nav/footer/script/style) plus the obvious non-content containers.
  */
final case class ExtractPolicy(
    stripSelectors: Seq[String] = ExtractPolicy.DefaultStrip,
    keepRcData: Boolean = true, // textarea/title outside head
    keepCData: Boolean = true,  // CDATA in foreign content (svg/math usually stripped anyway)
    dropWhitespaceOnlyNodes: Boolean = true,
    strict: Boolean = true,
    /** Per-document byte budget (the reference's MemorySettings cap,
      * /root/reference/src/rewriter/settings.rs:829-941): oversized docs
      * are routed to the error column instead of failing the task.
      * <= 0 disables the cap.
      */
    maxDocBytes: Int = 64 * 1024 * 1024
) extends Serializable

object ExtractPolicy {
  val DefaultStrip: Seq[String] = Seq(
    "script", "style", "nav", "footer", "aside", "noscript",
    "iframe", "form", "template", "head", "svg", "math"
  )
  val Default: ExtractPolicy = ExtractPolicy()
}

/** Result of extracting one document. `error` is null on success; on a
  * strict-mode bail-out (parsing ambiguity) the spans produced before the
  * bail-out are kept and `error` carries the reason — a document never
  * fails the task (graceful bail-out, reference
  * /root/reference/src/rewriter/mod.rs:77-95).
  */
final case class ExtractResult(spans: IndexedSeq[Span], error: String)

/** Per-row main-content extractor over interleaved text+media documents.
  *
  * The document's text fragments are concatenated into one HTML byte
  * stream (fragment boundaries are invisible to parsing — chunk
  * invariance); media placeholders are recorded at their byte offsets.
  * The engine strips `policy.stripSelectors` subtrees and emits one text
  * span per retained text node; media spans survive iff they fall outside
  * every removed interval, and text nodes crossing a media offset are
  * split so document order is preserved.
  *
  * One instance per task / partition; NOT thread-safe; reused across rows.
  */
final class Extractor(policy: ExtractPolicy) {

  // removal intervals of the current doc (disjoint, increasing)
  private val removedFrom = new graft.core.IntBuf(16)
  private val removedTo = new graft.core.IntBuf(16)
  private var removing = false

  private object listener extends RewriteListener {
    override def onEmissionDisabled(pos: Int): Unit = {
      removing = true
      removedFrom += pos
    }
    override def onEmissionEnabled(pos: Int): Unit = {
      removing = false
      removedTo += pos
    }
    // zero-copy text path: byte ranges only, no string materialization
    override def wantsRawText: Boolean = true
    override def onRawText(start: Int, end: Int, textType: Int): Unit = {
      if (!removing && acceptType(textType) && end > start) {
        if (curNodeStart < 0) curNodeStart = start
        curNodeEnd = end
      }
    }
    override def onRawTextEnd(): Unit = {
      if (curNodeStart >= 0) {
        commitNode(curNodeStart, curNodeEnd)
        curNodeStart = -1
      }
    }
  }

  // media-free rows (most of a real corpus) skip the node-buffer staging
  // entirely: whitespace classification + span emission happen right at
  // node end, while the node's bytes are still cache-hot from the scan
  private var directToRaw = false
  private var curHtml: Array[Byte] = _

  private def commitNode(s: Int, e: Int): Unit = {
    if (directToRaw) {
      if (!(policy.dropWhitespaceOnlyNodes && isAllWs(curHtml, s, e)))
        raw.add(0, s, e, -1)
    } else {
      nodeStarts += s
      nodeEnds += e
    }
  }

  // text nodes of the current doc as byte ranges
  private val nodeStarts = new graft.core.IntBuf(64)
  private val nodeEnds = new graft.core.IntBuf(64)
  private var curNodeStart = -1
  private var curNodeEnd = -1

  private def acceptType(tt: Int): Boolean =
    tt == TextType.Data ||
      (policy.keepRcData && tt == TextType.RCData) ||
      (policy.keepCData && tt == TextType.CDataSection)

  /** `<meta>` charset detection (first effective declaration wins). */
  private val metaHandler = ElementHandlers(element = el => {
    if (detectedCharset == null) {
      var cs = el.attr("charset")
      if (cs == null) {
        val he = el.attr("http-equiv")
        if (he != null && he.equalsIgnoreCase("content-type")) {
          val content = el.attr("content")
          if (content != null) {
            val i = content.toLowerCase.indexOf("charset=")
            if (i >= 0) {
              cs = content.substring(i + "charset=".length)
                .takeWhile(c => c != ';' && c != ' ' && c != '"' && c != '\'').trim
            }
          }
        }
      }
      if (cs != null && cs.nonEmpty) detectedCharset = cs
    }
  })

  private val rewriter = new Rewriter(
    policy.stripSelectors.map(sel => sel -> ElementHandlers(element = el => el.remove())) :+
      ("meta" -> metaHandler),
    docHandlers = Nil,
    strict = policy.strict,
    listener = listener,
    produceOutput = false
  )

  /** Extract one document given its ordered input fragments. */
  def extract(frags: Iterable[InFrag]): ExtractResult = {
    // 1. concatenate text fragments; record media offsets
    var total = 0
    frags.foreach(f => if (f.isText) total += utf8Len(f.text))
    val html = new Array[Byte](total)
    val mediaRefs = new mutable.ArrayBuffer[String](4)
    val mediaOffsets = new mutable.ArrayBuffer[Int](4)
    var off = 0
    frags.foreach { f =>
      if (f.isText) {
        val b = f.text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        System.arraycopy(b, 0, html, off, b.length)
        off += b.length
      } else {
        mediaRefs += f.mediaRef
        mediaOffsets += off
      }
    }
    extractHtml(html, mediaRefs, mediaOffsets)
  }

  private def utf8Len(s: String): Int = graft.core.Utf8.encodedLength(s).toInt

  /** Raw extraction result: span structure as parallel arrays over the
    * document's byte buffer — no string materialization. kind 0 = text
    * (range `starts(i) until ends(i)` in `html`), kind 1 = media
    * (`mediaIdx(i)` indexes the input media refs; offset in `starts(i)`).
    * Buffers are reused across documents; consumers must not retain them.
    */
  final class RawSpans {
    var count = 0
    var kinds = new Array[Byte](64)
    var starts = new Array[Int](64)
    var ends = new Array[Int](64)
    var mediaIdx = new Array[Int](64)
    var error: String = _
    private[Extractor] def clear(): Unit = { count = 0; error = null }
    private[Extractor] def add(kind: Byte, st: Int, en: Int, mi: Int): Unit = {
      if (count == kinds.length) {
        val n = count * 2
        kinds = java.util.Arrays.copyOf(kinds, n)
        starts = java.util.Arrays.copyOf(starts, n)
        ends = java.util.Arrays.copyOf(ends, n)
        mediaIdx = java.util.Arrays.copyOf(mediaIdx, n)
      }
      kinds(count) = kind; starts(count) = st; ends(count) = en; mediaIdx(count) = mi
      count += 1
    }
  }

  private val raw = new RawSpans
  private val keptMediaIdx = new graft.core.IntBuf(8)

  /** Zero-materialization extraction (the Catalyst-expression hot path).
    * This overload takes primitive media offsets (no Integer boxing) and
    * an explicit html length so callers can reuse a grow-only document
    * buffer across rows — per-row byte[] churn was the pipeline's single
    * largest allocation.
    */
  def extractRaw(html: Array[Byte], htmlLen: Int,
                 mediaOffsets: graft.core.IntBuf): RawSpans =
    extractRawImpl(html, htmlLen, mediaOffsets.length,
      if (mediaOffsets.length == 0) null else mediaOffsets.raw)

  def extractRaw(html: Array[Byte], mediaRefs: collection.IndexedSeq[String],
                 mediaOffsets: collection.IndexedSeq[Int]): RawSpans = {
    val offs =
      if (mediaOffsets.isEmpty) null
      else { val a = new Array[Int](mediaOffsets.length); var i = 0; while (i < a.length) { a(i) = mediaOffsets(i); i += 1 }; a }
    extractRawImpl(html, html.length, mediaOffsets.length, offs)
  }

  private def extractRawImpl(html: Array[Byte], htmlLen: Int, nMedia: Int,
                             mediaOffsets: Array[Int]): RawSpans = {
    removedFrom.clear(); removedTo.clear(); removing = false
    nodeStarts.clear(); nodeEnds.clear(); curNodeStart = -1
    raw.clear()
    detectedCharset = null
    directToRaw = nMedia == 0
    curHtml = html

    if (policy.maxDocBytes > 0 && htmlLen > policy.maxDocBytes) {
      raw.error = s"memory_limit_exceeded:$htmlLen"
      return raw
    }

    try rewriter.rewriteToBytes(html, htmlLen)
    catch {
      case e: EngineBailoutException =>
        raw.error = e.errorCode
        if (curNodeStart >= 0) { commitNode(curNodeStart, curNodeEnd); curNodeStart = -1 }
      case e: Exception =>
        raw.error = s"engine_error:${e.getClass.getSimpleName}"
    }
    if (removing) removedTo += htmlLen
    if (directToRaw) return raw // spans were emitted at node end

    // media survival: offset outside every removed interval
    keptMediaIdx.clear()
    var ri = 0
    var mi = 0
    while (mi < nMedia) {
      val o = mediaOffsets(mi)
      while (ri < removedFrom.length && removedTo(ri) <= o) ri += 1
      val inRemoved = ri < removedFrom.length && removedFrom(ri) <= o && o < removedTo(ri)
      if (!inRemoved) keptMediaIdx += mi
      mi += 1
    }

    // merge text nodes and media in document order, splitting nodes that
    // contain a media offset (media first on offset ties)
    var ni = 0
    var ki = 0
    @inline def mediaOff(k: Int) = mediaOffsets(keptMediaIdx(k))
    while (ni < nodeStarts.length || ki < keptMediaIdx.length) {
      if (ni < nodeStarts.length &&
          (ki >= keptMediaIdx.length || nodeStarts(ni) < mediaOff(ki))) {
        var s = nodeStarts(ni)
        val e = nodeEnds(ni)
        if (policy.dropWhitespaceOnlyNodes && isAllWs(html, s, e)) {
          ni += 1
        } else {
          while (ki < keptMediaIdx.length && mediaOff(ki) <= s) {
            raw.add(1, mediaOff(ki), mediaOff(ki), keptMediaIdx(ki)); ki += 1
          }
          while (ki < keptMediaIdx.length && mediaOff(ki) < e) {
            val m = mediaOff(ki)
            if (m > s) raw.add(0, s, m, -1)
            raw.add(1, m, m, keptMediaIdx(ki))
            s = m
            ki += 1
          }
          if (e > s) raw.add(0, s, e, -1)
          ni += 1
        }
      } else {
        raw.add(1, mediaOff(ki), mediaOff(ki), keptMediaIdx(ki))
        ki += 1
      }
    }
    raw
  }

  /** Extract from a complete HTML byte stream plus media placements. */
  def extractHtml(html: Array[Byte], mediaRefs: collection.IndexedSeq[String],
                  mediaOffsets: collection.IndexedSeq[Int]): ExtractResult = {
    val r = extractRaw(html, mediaRefs, mediaOffsets)
    val out = new Array[Span](r.count)
    var i = 0
    while (i < r.count) {
      out(i) =
        if (r.kinds(i) == 0)
          Span("text", new String(html, r.starts(i), r.ends(i) - r.starts(i),
            java.nio.charset.StandardCharsets.UTF_8), "", r.starts(i))
        else Span("media", "", mediaRefs(r.mediaIdx(i)), r.starts(i))
      i += 1
    }
    ExtractResult(scala.collection.immutable.ArraySeq.unsafeWrapArray(out), r.error)
  }

  private def isAllWs(b: Array[Byte], s: Int, e: Int): Boolean = {
    var i = s
    while (i < e) {
      val c = b(i)
      if (c != ' ' && c != '\n' && c != '\r' && c != '\t' && c != 0x0c) return false
      i += 1
    }
    true
  }

  /** Convenience: whole-string extraction (the `rewrite_str` analog). */
  def extractString(html: String): ExtractResult =
    extractHtml(html.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      Vector.empty, Vector.empty)

  // ---- non-UTF-8 inputs (reference D13/D14) ------------------------------

  /** Charset of the first effective `<meta charset>` /
    * `<meta http-equiv=content-type>` of the current parse (detection
    * handler registered on every parse; HTML5 allows setting it once —
    * reference /root/reference/src/rewriter/mod.rs:240-280).
    */
  private[extract] var detectedCharset: String = _

  /** Extract from raw document bytes in an arbitrary ASCII-compatible
    * charset: decode -> parse; if a `<meta>` declares a DIFFERENT charset,
    * re-decode and re-parse once (cheap per-row restart, the analog of the
    * reference's mid-stream decoder switch). Span offsets refer to the
    * UTF-8 re-encoded stream. Unknown/non-ASCII-compatible labels are
    * ignored (parse continues with the current charset).
    */
  def extractEncoded(rawBytes: Array[Byte], defaultCharset: String = "UTF-8"): ExtractResult = {
    // WHATWG label resolution (latin1 -> windows-1252 etc.) with JVM
    // fallback; unknown labels keep the current charset
    def resolve(cs: String): java.nio.charset.Charset =
      WhatwgEncodings.forLabel(cs).getOrElse(java.nio.charset.StandardCharsets.UTF_8)
    def decode(cs: java.nio.charset.Charset): Array[Byte] =
      if (cs == java.nio.charset.StandardCharsets.UTF_8) rawBytes
      else new String(rawBytes, cs).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val defaultCs = resolve(defaultCharset)
    val first = extractHtml(decode(defaultCs), Vector.empty, Vector.empty)
    val meta = detectedCharset
    if (meta == null) return first
    val metaCs = WhatwgEncodings.forLabel(meta).orNull
    if (metaCs == null || !isAsciiCompatible(metaCs) || metaCs == defaultCs) first
    else extractHtml(decode(metaCs), Vector.empty, Vector.empty)
  }

  private def isAsciiCompatible(cs: java.nio.charset.Charset): Boolean = {
    try {
      // UTF-16/32 and EBCDIC are not ASCII-compatible; quick probe
      val probe = "<a>".getBytes(cs)
      probe.length == 3 && probe(0) == '<' && probe(1) == 'a' && probe(2) == '>'
    } catch { case _: Exception => false }
  }
}
