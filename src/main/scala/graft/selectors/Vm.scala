package graft.selectors

import graft.core.{LongIndex, TagHash}
import scala.collection.mutable

/** Per-element payload attached to open-stack frames; the analog of the
  * reference's `ElementDescriptor`
  * (/root/reference/src/rewriter/rewrite_controller.rs:12-31).
  */
final class ElementDescriptor {
  /** Match ids whose content handlers were activated for this element. */
  var matchedContentHandlers: Array[Int] = ElementDescriptor.NoIds
  var removeContent: Boolean = false
  var endTagHandlerIdx: Int = -1
}

object ElementDescriptor {
  val NoIds = new Array[Int](0)
}

/** Mutable per-element view the VM fills with sibling indices before
  * predicate evaluation.
  */
trait VmElemView extends ElemView {
  var nthIdx: Int = 0
  var nthOfTypeIdx: Int = 0
  /** [[graft.core.NameKey]] of the tag name (the lexer computes it while
    * scanning): keys the entry buckets and open-name counts for every
    * name, hashable or not, without string materialization.
    */
  var nameKeyV: Long = 0L
  /** Tag-name byte range in [[nameInput]]: stack frames keep positions
    * instead of interned strings, so unhashable names (custom elements)
    * never materialize on push/pop.
    */
  var nameStartV: Int = 0
  var nameEndV: Int = 0
  /** The document buffer the name range points into (stable per parse). */
  def nameInput: Array[Byte]
  final def nthIndex: Int = nthIdx
  final def nthOfTypeIndex: Int = nthOfTypeIdx
  final def nameKey: Long = nameKeyV
}

/** Match callback for [[MatchingVm.execStartTag]]. A dedicated trait
  * instead of `(Int, Boolean) => Unit`: a Function2 over primitives boxes
  * both arguments on every matched id, and a per-call lambda allocates —
  * the dispatcher passes one long-lived implementation instead.
  */
trait MatchSink {
  def onMatch(id: Int, withContent: Boolean): Unit
}

/** Pop callback for [[MatchingVm.execEndTag]] (same rationale). Called
  * once per popped frame that carries a descriptor; frames without one
  * pop silently.
  */
trait PopSink {
  def onPop(desc: ElementDescriptor): Unit
}

/** Selector-matching VM over the open-element stack; the analog of
  * /root/reference/src/selectors_vm/mod.rs + stack.rs. One instance per
  * task, `reset()` per document; the compiled [[Program]] is shared.
  *
  * Matching protocol per start tag:
  *  1. `add_child` sibling counters on the parent frame,
  *  2. evaluate the candidates: the tag's [[NameEntryIndex]] bucket and
  *     anchor-less entries, the parent's child jumps and the active
  *     hereditary jumps, each instruction at most once per element,
  *  3. fire the deduplicated match ids via `onMatch(id, withContent)`,
  *     in ascending id order,
  *  4. push a frame (unless void / self-closing-foreign) carrying the
  *     collected continuation edges.
  * A tag with no candidates skips steps 2 and 3.
  *
  * End tags pop up to the last frame with a matching name (O(1) reject via
  * open-name counts); every popped frame that carries a descriptor hands
  * it to `onPop` — including implicitly-closed ones, mirroring
  * /root/reference/src/selectors_vm/stack.rs:284-315.
  */
final class MatchingVm(program: Program, enableEsiTags: Boolean = false) {

  private val noInts = new Array[Int](0)

  // Open-element stack as STRUCT-OF-ARRAYS: documents with thousands of
  // implicitly-closed elements (spec pages full of unclosed <li>/<dd>)
  // drain huge frame ranges per end tag; walking parallel primitive
  // arrays is cache-linear where an array of Frame objects pointer-chased
  // one heap object per popped element.
  // Unhashable names keep their byte range into the current document
  // buffer (valid for the whole parse) — no string is ever interned on
  // the push/pop path. fCntId caches the frame's open-name id, stable
  // while the count table grows, so popping decrements without a probe.
  private var fNameStart = new Array[Int](64)
  private var fNameEnd = new Array[Int](64)
  private var fNameHash = new Array[Long](64)
  private var fCntId = new Array[Int](64)
  private var fChildCount = new Array[Int](64)
  private var fJumps = new Array[Array[Int]](64)
  private var fHereditary = new Array[Array[Int]](64)
  private var fDesc = new Array[ElementDescriptor](64)
  private var fTypedCounters = new Array[mutable.HashMap[String, Int]](64)
  private var top = -1 // index of current innermost open element
  private var rootChildCount = 0
  private var rootTypedCounters: mutable.HashMap[String, Int] = _

  // (hereditary-jump array, depth-of-owner) with reference dedup
  private val activeHereditary = new mutable.ArrayBuffer[(Array[Int], Int)](16)

  // open-name counts, indexed by the name's id in `oncIds`. A count is a
  // necessary condition only: a key collision costs one wasted O(depth)
  // scan, since frames compare names exactly.
  private val oncIds = new LongIndex(64)
  private var oncCounts = new Array[Int](64)
  // one-entry memo: repeated pushes of the same name (list items, table
  // cells) skip the probe; ids survive growth, so only reset drops it
  // (id -1 makes a view that never set its key fail loudly)
  private var lastOncKey = 0L
  private var lastOncId = -1

  /** Increment the key's count and return its id. */
  private def oncInc(key: Long): Int = {
    val id = if (key == lastOncKey) lastOncId else {
      val i = oncIds.getOrAdd(key)
      if (i == oncCounts.length) oncCounts = java.util.Arrays.copyOf(oncCounts, i * 2)
      lastOncKey = key; lastOncId = i
      i
    }
    oncCounts(id) += 1
    id
  }

  /** ESI tags are void elements when enabled (reference
    * selectors_vm/stack.rs:13-41: esi:include / esi:comment).
    */
  @inline private def isVoidElement(view: VmElemView): Boolean =
    view.isHtmlNs && (graft.core.HtmlUtil.isVoidElement(view.nameHash) ||
      (enableEsiTags && view.nameHash == TagHash.Empty &&
        (graft.core.HtmlUtil.eqIgnoreCase(view.nameInput, view.nameStartV, view.nameEndV, "esi:include") ||
         graft.core.HtmlUtil.eqIgnoreCase(view.nameInput, view.nameStartV, view.nameEndV, "esi:comment"))))

  private val nameEntry: NameEntryIndex = NameEntryIndex.build(program)

  // scratch
  private val jumpBuf = new mutable.ArrayBuffer[Int](8)
  private val heredBuf = new mutable.ArrayBuffer[Int](8)

  // per-element dedup: word bitsets over instruction indices and match
  // ids, sized from the program (one word each up to 64); allocated once
  // per VM and cleared per start tag
  private val visitedW = new Array[Long]((program.instrs.length + 63) >>> 6 max 1)
  private val matchedW = {
    val maxId = program.instrs.foldLeft(-1)((m, in) => in.matchedIds.foldLeft(m)(_ max _))
    new Array[Long]((maxId + 64) >>> 6 max 1)
  }

  /** Evaluate instruction `idx` once per element: dedup via [[visitedW]],
    * fold its match ids into [[matchedW]], queue its continuations.
    */
  private def tryInstr(idx: Int, view: VmElemView): Unit = {
    val bit = 1L << idx
    if ((visitedW(idx >>> 6) & bit) == 0L) {
      visitedW(idx >>> 6) |= bit
      val in = program.instrs(idx)
      if (in.eval(view)) {
        var i = 0
        while (i < in.matchedIds.length) {
          val id = in.matchedIds(i)
          matchedW(id >>> 6) |= 1L << id
          i += 1
        }
        i = 0
        while (i < in.jumps.length) { jumpBuf += in.jumps(i); i += 1 }
        i = 0
        while (i < in.hereditary.length) { heredBuf += in.hereditary(i); i += 1 }
      }
    }
  }

  def reset(): Unit = {
    top = -1
    rootChildCount = 0
    rootTypedCounters = null
    activeHereditary.clear()
    java.util.Arrays.fill(oncCounts, 0, oncIds.size, 0)
    oncIds.clear()
    lastOncKey = 0L; lastOncId = -1
  }

  def depth: Int = top + 1

  /** Descriptor of the innermost open element, or null. */
  def currentDescriptor: ElementDescriptor = if (top >= 0) fDesc(top) else null

  /** Attach a descriptor to the frame pushed by the latest start tag. */
  def setCurrentDescriptor(d: ElementDescriptor): Unit = if (top >= 0) fDesc(top) = d

  /** Run matching for a start tag. `view.nthIdx`/`nthOfTypeIdx` are filled
    * here. Returns true if a frame was pushed (element can have content).
    */
  def execStartTag(view: VmElemView, selfClosing: Boolean,
                   sink: MatchSink): Boolean = {
    // add_child on parent (view.nameLower is fetched lazily — it may
    // intern; only the nth-of-type counters need it here)
    if (top >= 0) {
      fChildCount(top) += 1
      view.nthIdx = fChildCount(top)
      if (program.enableNthOfType) {
        if (fTypedCounters(top) == null) fTypedCounters(top) = new mutable.HashMap
        val c = fTypedCounters(top).getOrElse(view.nameLower, 0) + 1
        fTypedCounters(top).update(view.nameLower, c)
        view.nthOfTypeIdx = c
      }
    } else {
      rootChildCount += 1
      view.nthIdx = rootChildCount
      if (program.enableNthOfType) {
        if (rootTypedCounters == null) rootTypedCounters = new mutable.HashMap
        val c = rootTypedCounters.getOrElse(view.nameLower, 0) + 1
        rootTypedCounters.update(view.nameLower, c)
        view.nthOfTypeIdx = c
      }
    }

    val isVoid = isVoidElement(view)
    val withContent = if (view.isHtmlNs) !isVoid else !selfClosing

    val u = nameEntry.universal
    val b = nameEntry.bucketFor(view.nameKey)
    val pj = if (top >= 0) fJumps(top) else noInts
    if (b == null && u.length == 0 && pj.length == 0 && activeHereditary.isEmpty) {
      // no candidate instruction (most tags under a name-only program)
      if (withContent) pushFrame(view, noInts, noInts)
      return withContent
    }

    java.util.Arrays.fill(visitedW, 0L)
    java.util.Arrays.fill(matchedW, 0L)
    jumpBuf.clear()
    heredBuf.clear()
    var i = 0
    while (i < u.length) { tryInstr(u(i), view); i += 1 }
    if (b != null) { i = 0; while (i < b.length) { tryInstr(b(i), view); i += 1 } }
    i = 0
    while (i < pj.length) { tryInstr(pj(i), view); i += 1 }
    i = 0
    while (i < activeHereditary.length) {
      val arr = activeHereditary(i)._1
      var k = 0
      while (k < arr.length) { tryInstr(arr(k), view); k += 1 }
      i += 1
    }

    // fire matches in ascending id order
    var w = 0
    while (w < matchedW.length) {
      var m = matchedW(w)
      while (m != 0L) {
        sink.onMatch((w << 6) + java.lang.Long.numberOfTrailingZeros(m), withContent)
        m &= m - 1
      }
      w += 1
    }

    if (withContent)
      pushFrame(view,
        if (jumpBuf.isEmpty) noInts else jumpBuf.toArray,
        if (heredBuf.isEmpty) noInts else heredBuf.toArray)
    withContent
  }

  private def pushFrame(view: VmElemView, jumps: Array[Int], hereditary: Array[Int]): Unit = {
    val cntId = oncInc(view.nameKey)
    top += 1
    if (top == fNameHash.length) growFrames()
    fNameHash(top) = view.nameHash
    // unhashable names: end tags compare this byte range (same buffer) —
    // never intern a string here
    fNameStart(top) = view.nameStartV
    fNameEnd(top) = view.nameEndV
    fCntId(top) = cntId
    fJumps(top) = jumps
    fHereditary(top) = hereditary
    fDesc(top) = null
    fChildCount(top) = 0
    if (fTypedCounters(top) != null) fTypedCounters(top) = null

    if (hereditary.length > 0) {
      var present = false
      var k = 0
      while (k < activeHereditary.length && !present) {
        present = java.util.Arrays.equals(activeHereditary(k)._1, hereditary)
        k += 1
      }
      if (!present) activeHereditary += ((hereditary, top))
    }
  }

  private def growFrames(): Unit = {
    val n = fNameHash.length * 2
    fNameStart = java.util.Arrays.copyOf(fNameStart, n)
    fNameEnd = java.util.Arrays.copyOf(fNameEnd, n)
    fNameHash = java.util.Arrays.copyOf(fNameHash, n)
    fCntId = java.util.Arrays.copyOf(fCntId, n)
    fChildCount = java.util.Arrays.copyOf(fChildCount, n)
    fJumps = java.util.Arrays.copyOf(fJumps, n)
    fHereditary = java.util.Arrays.copyOf(fHereditary, n)
    fDesc = java.util.Arrays.copyOf(fDesc, n)
    fTypedCounters = java.util.Arrays.copyOf(fTypedCounters, n)
  }

  /** ASCII-case-insensitive equality of two byte slices (both in the same
    * document buffer — start vs end tag names of one element).
    */
  @inline private def eqSliceIgnoreCase(in: Array[Byte], aS: Int, aE: Int,
                                        bS: Int, bE: Int): Boolean = {
    val n = aE - aS
    if (n != bE - bS) return false
    var i = 0
    while (i < n) {
      val a = in(aS + i) & 0xff
      val b = in(bS + i) & 0xff
      val af = if (a >= 'A' && a <= 'Z') a + 32 else a
      val bf = if (b >= 'A' && b <= 'Z') b + 32 else b
      if (af != bf) return false
      i += 1
    }
    true
  }

  /** Pop up to (and including) the last open element whose name matches
    * the byte range `nameStart until nameEnd` of `input`; `onPop` receives
    * the descriptor of each popped frame that has one, innermost last
    * (stack drain order, matching the reference's `drain(index..)`). No
    * string is materialized: unhashable names match by an exact
    * case-folded slice compare within the same buffer.
    */
  def execEndTag(input: Array[Byte], nameStart: Int, nameEnd: Int,
                 nameHash: Long, nameKey: Long, sink: PopSink): Unit = {
    @inline def matches(j: Int): Boolean =
      fNameHash(j) == nameHash && (nameHash != TagHash.Empty ||
        eqSliceIgnoreCase(input, fNameStart(j), fNameEnd(j), nameStart, nameEnd))

    var idx = top
    // fast path: well-formed content closes the innermost element — no
    // open-count probe needed (the cached id decrements directly)
    if (top < 0 || !matches(top)) {
      // stray end tag O(1) reject via open-name counts
      val id = oncIds.get(nameKey)
      if (id < 0 || oncCounts(id) == 0) return
      while (idx >= 0 && !matches(idx)) idx -= 1
      if (idx < 0) return
    }

    // retain hereditary jumps owned by frames below idx
    var k = activeHereditary.length - 1
    while (k >= 0) {
      if (activeHereditary(k)._2 >= idx) activeHereditary.remove(k)
      k -= 1
    }
    // drain idx..top in stack order (outermost of the drained range
    // first): a cache-linear walk over the parallel arrays
    var j = idx
    while (j <= top) {
      oncCounts(fCntId(j)) -= 1
      val d = fDesc(j)
      if (d != null) { sink.onPop(d); fDesc(j) = null }
      j += 1
    }
    top = idx - 1
  }
}

/** Entry dispatch for [[MatchingVm]]: entry instructions are bucketed by
  * the [[graft.core.NameKey]] of their TypeSel anchor — a TypeSel is a
  * necessary condition, so a tag can only match entries in its own name
  * bucket plus the anchor-less `universal` entries (universal, bare
  * .class/#id/[attr]). One probe replaces the full entry-point sweep per
  * tag, for hashable and unhashable names alike. `Instr.eval` still
  * checks the TypeSel exactly, so a key collision costs one wasted eval,
  * never a wrong match.
  */
final class NameEntryIndex private (ids: LongIndex, buckets: Array[Array[Int]],
                                    soloKey: Long, val universal: Array[Int]) {
  // single-anchor specialization (soloKey != 0; e.g. the div/.note/[href]
  // mix has one name bucket): one register compare per tag, no probe
  private val soloBucket: Array[Int] = if (soloKey != 0L) buckets(0) else null

  /** Entries whose anchor has this name key, or null. */
  def bucketFor(key: Long): Array[Int] =
    if (soloKey != 0L) { if (key == soloKey) soloBucket else null }
    else { val id = ids.get(key); if (id < 0) null else buckets(id) }
}

object NameEntryIndex {
  def build(program: Program): NameEntryIndex = {
    val ids = new LongIndex
    var firstKey = 0L
    val byId = mutable.ArrayBuffer[mutable.ArrayBuffer[Int]]()
    val universal = mutable.ArrayBuffer[Int]()
    for (idx <- program.entryPoints) {
      program.instrs(idx).simples.collectFirst { case t: TypeSel => t } match {
        case Some(TypeSel(lower, _)) =>
          val key = graft.core.NameKey.of(lower)
          val id = ids.getOrAdd(key)
          if (id == 0) firstKey = key
          if (id == byId.length) byId += new mutable.ArrayBuffer[Int]
          byId(id) += idx
        case None => universal += idx
      }
    }
    new NameEntryIndex(ids, byId.map(_.toArray).toArray,
      if (ids.size == 1) firstKey else 0L, universal.toArray)
  }
}
