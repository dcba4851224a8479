package graft.selectors

import graft.core.TagHash
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
  /** Case-folded FNV identity of the tag name bytes (the lexer computes
    * it while scanning) — keys the open-name counts for names the 5-bit
    * hash can't encode, without string materialization.
    */
  var nameFnvV: Long = 0L
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
  final def nameFnv: Long = nameFnvV
}

/** Match callback for [[MatchingVm.execStartTag]]. A dedicated trait
  * instead of `(Int, Boolean) => Unit`: a Function2 over primitives boxes
  * both arguments on every matched id, and a per-call lambda allocates —
  * the dispatcher passes one long-lived implementation instead.
  */
trait MatchSink {
  def onMatch(id: Int, withContent: Boolean): Unit
}

/** Pop callback for [[MatchingVm.execEndTag]] (same rationale). */
trait PopSink {
  def onPop(desc: ElementDescriptor): Unit
}

/** Selector-matching VM over the open-element stack; the analog of
  * /root/reference/src/selectors_vm/mod.rs + stack.rs. One instance per
  * task, `reset()` per document; the compiled [[Program]] is shared.
  *
  * Matching protocol per start tag:
  *  1. `add_child` sibling counters on the parent frame,
  *  2. evaluate entry points + parent child-jumps + active hereditary
  *     jumps (each instruction at most once per element),
  *  3. fire deduplicated match ids via `onMatch(id, withContent)`,
  *  4. push a frame (unless void / self-closing-foreign) carrying the
  *     collected continuation edges.
  *
  * End tags pop up to the last frame with a matching name (O(1) reject via
  * open-name counts); every popped frame's descriptor is handed to `onPop`
  * — including implicitly-closed ones, mirroring
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
  // the push/pop path. fCntSlot caches the open-name-count slot (onc
  // table for hashable names, fnv table otherwise) so popping decrements
  // without re-probing; the grow paths re-point live slots.
  private var fNameStart = new Array[Int](64)
  private var fNameEnd = new Array[Int](64)
  private var fNameHash = new Array[Long](64)
  private var fNameFnv = new Array[Long](64)
  private var fCntSlot = new Array[Int](64)
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

  // open-name counts keyed by tag-name hash (primitive open addressing;
  // valid hashes >= 6 so 0 is the empty sentinel); unhashable names use a
  // second primitive table keyed by the case-folded byte FNV (collisions
  // only cost a wasted O(depth) scan — the frame match compares strings)
  private var oncKeys = new Array[Long](128)
  private var oncCounts = new Array[Int](128)
  private var oncSize = 0
  private var fnvKeys = new Array[Long](32)
  private var fnvCounts = new Array[Int](32)
  private var fnvSize = 0

  @inline private def normFnv(f: Long): Long = if (f == 0L) 1L else f
  @inline private def fnvSlot(key: Long): Int = {
    val mask = fnvKeys.length - 1
    var i = java.lang.Long.hashCode(key * 0x9e3779b97f4a7c15L) & mask
    while (fnvKeys(i) != 0L && fnvKeys(i) != key) i = (i + 1) & mask
    i
  }
  // one-entry memo: repeated pushes of the same name (list items, table
  // cells) reuse the slot without re-probing; grow/reset invalidate
  private var lastFnvKey = 0L
  private var lastFnvSlot = 0

  /** Increment and return the key's slot (stable until the next grow). */
  private def fnvInc(key: Long): Int = {
    if (key == lastFnvKey) { val i = lastFnvSlot; fnvCounts(i) += 1; return i }
    var i = fnvSlot(key)
    if (fnvKeys(i) == 0L) {
      fnvKeys(i) = key
      fnvSize += 1
      if (fnvSize * 3 > fnvKeys.length) { fnvGrow(); i = fnvSlot(key) }
    }
    fnvCounts(i) += 1
    lastFnvKey = key; lastFnvSlot = i
    i
  }
  private def fnvGrow(): Unit = {
    val ok = fnvKeys; val oc = fnvCounts
    fnvKeys = new Array[Long](ok.length * 2)
    fnvCounts = new Array[Int](oc.length * 2)
    var j = 0
    while (j < ok.length) {
      if (ok(j) != 0L) {
        val i = fnvSlot(ok(j))
        fnvKeys(i) = ok(j); fnvCounts(i) = oc(j)
      }
      j += 1
    }
    lastFnvKey = 0L
    // re-point live frames' cached slots at the rebuilt table
    var f = 0
    while (f <= top) {
      if (fNameHash(f) == TagHash.Empty) fCntSlot(f) = fnvSlot(fNameFnv(f))
      f += 1
    }
  }
  @inline private def fnvGet(key: Long): Int = {
    val i = fnvSlot(key)
    if (fnvKeys(i) == key) fnvCounts(i) else 0
  }

  @inline private def oncSlot(hash: Long): Int = {
    val mask = oncKeys.length - 1
    var i = java.lang.Long.hashCode(hash * 0x9e3779b97f4a7c15L) & mask
    while (oncKeys(i) != 0L && oncKeys(i) != hash) i = (i + 1) & mask
    i
  }
  private var lastOncHash = 0L
  private var lastOncSlot = 0

  /** Increment and return the hash's slot (stable until the next grow). */
  private def oncInc(hash: Long): Int = {
    if (hash == lastOncHash) { val i = lastOncSlot; oncCounts(i) += 1; return i }
    var i = oncSlot(hash)
    if (oncKeys(i) == 0L) {
      oncKeys(i) = hash
      oncSize += 1
      if (oncSize * 3 > oncKeys.length) { oncGrow(); i = oncSlot(hash) }
    }
    oncCounts(i) += 1
    lastOncHash = hash; lastOncSlot = i
    i
  }
  private def oncGrow(): Unit = {
    val ok = oncKeys; val oc = oncCounts
    oncKeys = new Array[Long](ok.length * 2)
    oncCounts = new Array[Int](oc.length * 2)
    var j = 0
    while (j < ok.length) {
      if (ok(j) != 0L) {
        val i = oncSlot(ok(j))
        oncKeys(i) = ok(j); oncCounts(i) = oc(j)
      }
      j += 1
    }
    lastOncHash = 0L
    // re-point live frames' cached slots at the rebuilt table
    var f = 0
    while (f <= top) {
      if (fNameHash(f) != TagHash.Empty) fCntSlot(f) = oncSlot(fNameHash(f))
      f += 1
    }
  }
  @inline private def oncGet(hash: Long): Int = {
    val i = oncSlot(hash)
    if (oncKeys(i) == hash) oncCounts(i) else 0
  }

  /** For programs whose entry points are all single-TypeSel compounds
    * with no universal/attr predicates: tag-name-hash -> instr index.
    * null when the fast path doesn't apply.
    */
  private val fastEntry: FastEntryTable = FastEntryTable.build(program)

  /** ESI tags are void elements when enabled (reference
    * selectors_vm/stack.rs:13-41: esi:include / esi:comment).
    */
  @inline private def isVoidElement(view: VmElemView): Boolean =
    view.isHtmlNs && (graft.core.HtmlUtil.isVoidElement(view.nameHash) ||
      (enableEsiTags && view.nameHash == TagHash.Empty &&
        (graft.core.HtmlUtil.eqIgnoreCase(view.nameInput, view.nameStartV, view.nameEndV, "esi:include") ||
         graft.core.HtmlUtil.eqIgnoreCase(view.nameInput, view.nameStartV, view.nameEndV, "esi:comment"))))

  /** Entry dispatch index (used when the single-instruction fast table
    * doesn't apply): entry instructions bucketed by their TypeSel anchor,
    * so a tag evaluates only the entries that could possibly match its
    * name plus the anchor-less (universal/.class/#id/[attr]) entries —
    * instead of every entry point. null when no entry has a name anchor.
    */
  private val nameEntry: NameEntryIndex = NameEntryIndex.build(program)

  // <=64 instructions AND <=64 match ids: instruction/match dedup runs on
  // two Long masks (one register op per check) instead of BitSets
  private val smallProgram: Boolean =
    program.instrs.length <= 64 &&
      program.instrs.forall(in => in.matchedIds.forall(_ < 64))

  // scratch
  private val visited = new java.util.BitSet(64)
  private val matchedIds = new java.util.BitSet(64)
  private val jumpBuf = new mutable.ArrayBuffer[Int](8)
  private val heredBuf = new mutable.ArrayBuffer[Int](8)

  // per-tag scratch masks as FIELDS: the small-program entry sweep would
  // otherwise capture mutable locals in its helper, which scalac (without
  // the -opt inliner) boxes into a fresh LongRef allocation per start tag
  private var visitedMaskF = 0L
  private var matchedMaskF = 0L

  /** Evaluate one instruction for the small-program path: dedup
    * via [[visitedMaskF]], fold match ids into [[matchedMaskF]], queue
    * jumps/hereditary continuations.
    */
  private def tryInstrSmall(idx: Int, view: VmElemView): Unit = {
    val bit = 1L << idx
    if ((visitedMaskF & bit) == 0L) {
      visitedMaskF |= bit
      val in = program.instrs(idx)
      if (in.eval(view)) {
        var i = 0
        while (i < in.matchedIds.length) { matchedMaskF |= 1L << in.matchedIds(i); i += 1 }
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
    if (oncSize > 0) {
      java.util.Arrays.fill(oncKeys, 0L)
      java.util.Arrays.fill(oncCounts, 0)
      oncSize = 0
    }
    if (fnvSize > 0) {
      java.util.Arrays.fill(fnvKeys, 0L)
      java.util.Arrays.fill(fnvCounts, 0)
      fnvSize = 0
    }
    lastOncHash = 0L
    lastFnvKey = 0L
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

    // fast path: name-only entry-point programs with no live continuations
    // (the extraction default) decide entry matches with one hash probe
    if (fastEntry != null && activeHereditary.isEmpty &&
        (top < 0 || fJumps(top).length == 0)) {
      val idx = fastEntry.get(view.nameHash, view)
      if (idx < 0) {
        if (withContent) pushFrame(view, noInts, noInts)
        return withContent
      }
      // single matching entry instruction
      val in = program.instrs(idx)
      var i = 0
      while (i < in.matchedIds.length) { sink.onMatch(in.matchedIds(i), withContent); i += 1 }
      if (withContent)
        pushFrame(view,
          if (in.jumps.length == 0) noInts else in.jumps,
          if (in.hereditary.length == 0) noInts else in.hereditary)
      return withContent
    }

    // evaluate candidate instructions; small programs (<=64 instrs and
    // match ids — the norm) dedup via two Long masks instead of BitSets
    // (this path runs once per start tag whenever attr/class predicates
    // disable the fast entry table)
    if (smallProgram) {
      visitedMaskF = 0L
      matchedMaskF = 0L
      jumpBuf.clear()
      heredBuf.clear()
      var i = 0
      if (nameEntry != null) {
        val u = nameEntry.universal
        while (i < u.length) { tryInstrSmall(u(i), view); i += 1 }
        val b = nameEntry.bucketFor(view.nameHash, view)
        if (b != null) { i = 0; while (i < b.length) { tryInstrSmall(b(i), view); i += 1 } }
      } else {
        val ep = program.entryPoints
        while (i < ep.length) { tryInstrSmall(ep(i), view); i += 1 }
      }
      if (top >= 0) {
        val pj = fJumps(top)
        i = 0
        while (i < pj.length) { tryInstrSmall(pj(i), view); i += 1 }
      }
      i = 0
      while (i < activeHereditary.length) {
        val arr = activeHereditary(i)._1
        var k = 0
        while (k < arr.length) { tryInstrSmall(arr(k), view); k += 1 }
        i += 1
      }
      // fire matches in ascending id order
      var m = matchedMaskF
      while (m != 0L) {
        sink.onMatch(java.lang.Long.numberOfTrailingZeros(m), withContent)
        m &= m - 1
      }
      if (withContent)
        pushFrame(view,
          if (jumpBuf.isEmpty) noInts else jumpBuf.toArray,
          if (heredBuf.isEmpty) noInts else heredBuf.toArray)
      return withContent
    }

    visited.clear()
    matchedIds.clear()
    jumpBuf.clear()
    heredBuf.clear()

    val instrs = program.instrs
    @inline def tryInstr(idx: Int): Unit = {
      if (!visited.get(idx)) {
        visited.set(idx)
        val in = instrs(idx)
        if (in.eval(view)) {
          var i = 0
          while (i < in.matchedIds.length) { matchedIds.set(in.matchedIds(i)); i += 1 }
          i = 0
          while (i < in.jumps.length) { jumpBuf += in.jumps(i); i += 1 }
          i = 0
          while (i < in.hereditary.length) { heredBuf += in.hereditary(i); i += 1 }
        }
      }
    }

    var i = 0
    if (nameEntry != null) {
      val u = nameEntry.universal
      while (i < u.length) { tryInstr(u(i)); i += 1 }
      val b = nameEntry.bucketFor(view.nameHash, view)
      if (b != null) { i = 0; while (i < b.length) { tryInstr(b(i)); i += 1 } }
    } else {
      val ep = program.entryPoints
      while (i < ep.length) { tryInstr(ep(i)); i += 1 }
    }
    if (top >= 0) {
      val pj = fJumps(top)
      i = 0
      while (i < pj.length) { tryInstr(pj(i)); i += 1 }
    }
    i = 0
    while (i < activeHereditary.length) {
      val arr = activeHereditary(i)._1
      var k = 0
      while (k < arr.length) { tryInstr(arr(k)); k += 1 }
      i += 1
    }

    // fire matches in ascending id order
    var id = matchedIds.nextSetBit(0)
    while (id >= 0) {
      sink.onMatch(id, withContent)
      id = matchedIds.nextSetBit(id + 1)
    }

    if (withContent)
      pushFrame(view,
        if (jumpBuf.isEmpty) noInts else jumpBuf.toArray,
        if (heredBuf.isEmpty) noInts else heredBuf.toArray)
    withContent
  }

  private def pushFrame(view: VmElemView, jumps: Array[Int], hereditary: Array[Int]): Unit = {
    top += 1
    if (top == fNameHash.length) growFrames()
    // unhashable names: keep the byte range (end-tag fallback matching
    // compares slices in the same buffer) — never intern a string here
    val h = view.nameHash
    fNameHash(top) = h
    if (h != TagHash.Empty) {
      fNameFnv(top) = 0L
      fCntSlot(top) = oncInc(h)
    } else {
      val fnv = normFnv(view.nameFnv)
      fNameFnv(top) = fnv
      fNameStart(top) = view.nameStartV
      fNameEnd(top) = view.nameEndV
      fCntSlot(top) = fnvInc(fnv)
    }
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
    fNameFnv = java.util.Arrays.copyOf(fNameFnv, n)
    fCntSlot = java.util.Arrays.copyOf(fCntSlot, n)
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
    * each popped frame's descriptor (or null), innermost last (stack drain
    * order, matching the reference's `drain(index..)`). No string is
    * materialized: unhashable names match by case-folded FNV plus an exact
    * slice compare within the same buffer.
    */
  def execEndTag(input: Array[Byte], nameStart: Int, nameEnd: Int,
                 nameHash: Long, nameFnv: Long, sink: PopSink): Unit = {
    val fnv = normFnv(nameFnv)
    @inline def matches(j: Int): Boolean =
      if (nameHash != TagHash.Empty) fNameHash(j) == nameHash
      else fNameHash(j) == TagHash.Empty && fNameFnv(j) == fnv &&
        eqSliceIgnoreCase(input, fNameStart(j), fNameEnd(j), nameStart, nameEnd)

    var idx = top
    if (top >= 0 && matches(top)) {
      // fast path: well-formed content closes the innermost element — no
      // open-count probe needed (the cached slot decrements directly)
      ()
    } else {
      // stray end tag O(1) reject via open-name counts
      if (nameHash != TagHash.Empty) { if (oncGet(nameHash) == 0) return }
      else if (fnvGet(fnv) == 0) return
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
      if (fNameHash(j) != TagHash.Empty) oncCounts(fCntSlot(j)) -= 1
      else fnvCounts(fCntSlot(j)) -= 1
      val d = fDesc(j)
      if (d != null) { sink.onPop(d); fDesc(j) = null }
      else sink.onPop(null)
      j += 1
    }
    top = idx - 1
  }
}

/** Perfect-fit entry table for name-only entry points: one probe decides
  * whether any entry compound matches the element. Only built when every
  * entry instruction is a single TypeSel (the extraction default).
  */
final class FastEntryTable private (keys: Array[Long], vals: Array[Int],
                                    byName: java.util.HashMap[String, Integer]) {
  private val byNameEmpty = byName.isEmpty

  /** Returns the entry instruction index or -1 (primitive open-addressed
    * probe; valid hashes are >= 6, so 0 marks empty slots). The view's
    * name string is only fetched for unhashable names, and only when the
    * program actually selects an unhashable name — a document full of
    * custom elements against hashed-only selectors never interns.
    */
  def get(hash: Long, view: ElemView): Int = {
    if (hash != graft.core.TagHash.Empty) {
      val mask = keys.length - 1
      var i = java.lang.Long.hashCode(hash * 0x9e3779b97f4a7c15L) & mask
      while (true) {
        val k = keys(i)
        if (k == hash) return vals(i)
        if (k == 0L) return -1
        i = (i + 1) & mask
      }
      -1 // unreachable
    } else if (byNameEmpty) -1
    else {
      val v = byName.get(view.nameLower)
      if (v == null) -1 else v.intValue()
    }
  }
}

/** Entry-dispatch index for programs the single-instruction
  * [[FastEntryTable]] can't serve (entries with predicates beyond one
  * TypeSel, duplicate names, or active continuations): entry instructions
  * are bucketed by the name of their TypeSel anchor — a TypeSel is a
  * necessary condition, so a tag can only match entries in its own name
  * bucket plus the anchor-less `universal` entries. One probe replaces
  * the full entry-point sweep per tag.
  */
final class NameEntryIndex private (keys: Array[Long], buckets: Array[Array[Int]],
                                    byName: java.util.HashMap[String, Array[Int]],
                                    val universal: Array[Int]) {
  private val byNameEmpty = byName.isEmpty
  // single-anchor specialization (e.g. the div/.note/[href] mix has one
  // name bucket): one register compare per tag instead of a table probe
  private var soloKey = 0L
  private var soloBucket: Array[Int] = null
  if (byNameEmpty) {
    var i = 0
    var n = 0
    var ki = -1
    while (i < keys.length) { if (keys(i) != 0L) { n += 1; ki = i }; i += 1 }
    if (n == 1) { soloKey = keys(ki); soloBucket = buckets(ki) }
  }

  /** Entries whose anchor matches this tag name, or null. The name string
    * is only fetched for unhashable tags, and only when some entry is
    * anchored on an unhashable name.
    */
  def bucketFor(hash: Long, view: ElemView): Array[Int] = {
    if (soloKey != 0L) {
      if (hash == soloKey) soloBucket else null
    } else if (hash != graft.core.TagHash.Empty) {
      val mask = keys.length - 1
      var i = java.lang.Long.hashCode(hash * 0x9e3779b97f4a7c15L) & mask
      while (true) {
        val k = keys(i)
        if (k == hash) return buckets(i)
        if (k == 0L) return null
        i = (i + 1) & mask
      }
      null // unreachable
    } else if (byNameEmpty) null
    else byName.get(view.nameLower)
  }
}

object NameEntryIndex {
  def build(program: Program): NameEntryIndex = {
    val byHash = mutable.LinkedHashMap[Long, mutable.ArrayBuffer[Int]]()
    val byNameB = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Int]]()
    val universal = mutable.ArrayBuffer[Int]()
    for (idx <- program.entryPoints) {
      program.instrs(idx).simples.collectFirst { case t: TypeSel => t } match {
        case Some(TypeSel(lower, hash)) =>
          if (hash != graft.core.TagHash.Empty)
            byHash.getOrElseUpdate(hash, new mutable.ArrayBuffer[Int]) += idx
          else byNameB.getOrElseUpdate(lower, new mutable.ArrayBuffer[Int]) += idx
        case None => universal += idx
      }
    }
    if (byHash.isEmpty && byNameB.isEmpty) return null // nothing to prune
    var cap = 16
    while (cap < byHash.size * 3) cap *= 2
    val keys = new Array[Long](cap)
    val buckets = new Array[Array[Int]](cap)
    val mask = cap - 1
    for ((h, idxs) <- byHash) {
      var i = java.lang.Long.hashCode(h * 0x9e3779b97f4a7c15L) & mask
      while (keys(i) != 0L) i = (i + 1) & mask
      keys(i) = h; buckets(i) = idxs.toArray
    }
    val byName = new java.util.HashMap[String, Array[Int]]()
    for ((n, idxs) <- byNameB) byName.put(n, idxs.toArray)
    new NameEntryIndex(keys, buckets, byName, universal.toArray)
  }
}

object FastEntryTable {
  def build(program: Program): FastEntryTable = {
    var cap = 16
    while (cap < program.entryPoints.length * 3) cap *= 2
    val keys = new Array[Long](cap)
    val vals = new Array[Int](cap)
    val byName = new java.util.HashMap[String, Integer]()
    for (idx <- program.entryPoints) {
      program.instrs(idx).simples match {
        case Array(TypeSel(lower, hash)) =>
          if (hash != graft.core.TagHash.Empty) {
            val mask = keys.length - 1
            var i = java.lang.Long.hashCode(hash * 0x9e3779b97f4a7c15L) & mask
            while (keys(i) != 0L && keys(i) != hash) i = (i + 1) & mask
            if (keys(i) == hash) return null // duplicate name: fall back
            keys(i) = hash; vals(i) = idx
          } else {
            if (byName.containsKey(lower)) return null
            byName.put(lower, idx)
          }
        case _ => return null
      }
    }
    new FastEntryTable(keys, vals, byName)
  }
}
