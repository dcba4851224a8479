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

  // ---- frameless mode (entry-only programs) --------------------------------
  // When the program has NO continuation edges (every selector is a single
  // compound — the extraction default: a flat strip list), the open-element
  // stack degenerates: frames carry no jumps, no hereditary edges, no
  // nth counters, and a descriptor only when matched. The per-tag frame
  // fill + drain is replaced by (a) per-NAME depth stacks (push = one
  // memoized probe + one int append; end tag = pop the innermost live
  // depth), and (b) a small stack of matched elements only, drained by
  // depth on pops. Implicitly-closed elements of OTHER names are never
  // walked at all — their stack entries go stale (depth >= current depth)
  // and are discarded lazily on the next touch of that name.
  /** Nth predicates read per-parent child counters that only the framed
    * stack maintains — they disqualify frameless mode.
    */
  private def usesNth(s: SimpleSel): Boolean = s match {
    case _: NthSel => true
    case NotSel(inner) => inner.exists(usesNth)
    case _ => false
  }
  private val entryOnly: Boolean = {
    var ok = true
    var i = 0
    while (ok && i < program.instrs.length) {
      val in = program.instrs(i)
      ok = in.jumps.length == 0 && in.hereditary.length == 0 &&
        !in.simples.exists(usesNth)
      i += 1
    }
    ok
  }
  /** Test hook: force the framed stack even for entry-only programs. */
  private[graft] var disableFrameless = false
  private var frameless = false // decided per document in reset()

  // Every open element gets a monotonically increasing sequence id (never
  // reset across documents), and depthSeq(d) records the seq of the
  // element CURRENTLY open at depth d. A stack entry (depth, seq) is live
  // iff depth < flDepth && depthSeq(depth) == seq — implicit closes and
  // cross-document leftovers both fail one of the two checks, because
  // re-opening any depth overwrites depthSeq with a strictly larger seq.
  // Staleness is suffix-closed within one name's stack (closing an element
  // closes everything deeper), so push-time trimming keeps stacks at live
  // size and reset() is O(1).
  private var flSeq = 0
  private var depthSeq = new Array[Int](64)
  // per-depth caches for the innermost-close fast path: the open element's
  // name hash (0 for unhashable names) and its table slot at push time
  // (re-pointed on grow). A well-formed end tag closes the innermost
  // element: one compare + two stack decrements, no table probe.
  private var depthKey = new Array[Long](64)
  private var depthSlot = new Array[Int](64)
  // hashable names: tag-hash -> (depth, seq) stacks (ascending)
  private var flKeys = new Array[Long](64)
  private var flDepthsT = new Array[graft.core.IntBuf](64)
  private var flSeqsT = new Array[graft.core.IntBuf](64)
  private var flUsed = 0
  // 8-entry direct-mapped key->slot memo: documents alternate among a
  // handful of names (div/span/emu-*), which a 1-entry memo misses; each
  // hit is validated against the live table so a stale entry can never
  // alias another key's slot
  private val flMemoK = new Array[Long](32)
  private val flMemoS = new Array[Int](32)
  // unhashable names: FNV -> (depth, seq, nameStart, nameEnd) stacks; the
  // name range backs the exact slice compare that guards FNV collisions
  private var fuKeys = new Array[Long](32)
  private var fuDepthsT = new Array[graft.core.IntBuf](32)
  private var fuSeqsT = new Array[graft.core.IntBuf](32)
  private var fuStarts = new Array[graft.core.IntBuf](32)
  private var fuEnds = new Array[graft.core.IntBuf](32)
  private var fuUsed = 0
  private val fuMemoK = new Array[Long](32)
  private val fuMemoS = new Array[Int](32)
  private var flDepth = 0
  // matched elements only: depth + descriptor, ascending depths, drained
  // eagerly on every pop (never holds stale entries)
  private var mDepths = new Array[Int](16)
  private var mDescs = new Array[ElementDescriptor](16)
  private var mTop = -1

  @inline private def entryLive(depth: Int, seq: Int): Boolean =
    depth < flDepth && depthSeq(depth) == seq

  @inline private def flSlotOf(key: Long): Int = {
    val mask = flKeys.length - 1
    var i = java.lang.Long.hashCode(key * 0x9e3779b97f4a7c15L) & mask
    while (flKeys(i) != 0L && flKeys(i) != key) i = (i + 1) & mask
    i
  }
  /** Memoized slot lookup for PRESENT-or-to-insert keys: one direct-mapped
    * probe validated against the table (a hit is only trusted when the
    * slot still holds the key, so later inserts can never be aliased).
    */
  @inline private def flSlotMemo(key: Long): Int = {
    val m = ((key * 0x9e3779b97f4a7c15L) >>> 59).toInt
    val s = flMemoS(m)
    if (flMemoK(m) == key && flKeys(s) == key) s
    else {
      val i = flSlotOf(key)
      if (flKeys(i) == key) { flMemoK(m) = key; flMemoS(m) = i }
      i
    }
  }
  private def flPush(key: Long): Unit = {
    var i = flSlotMemo(key)
    if (flKeys(i) == 0L) {
      flKeys(i) = key
      if (flDepthsT(i) == null) {
        flDepthsT(i) = new graft.core.IntBuf(8)
        flSeqsT(i) = new graft.core.IntBuf(8)
      }
      flUsed += 1
      if (flUsed * 3 > flKeys.length) { flGrow(); i = flSlotOf(key) }
      val m = ((key * 0x9e3779b97f4a7c15L) >>> 59).toInt
      flMemoK(m) = key; flMemoS(m) = i
    }
    val dep = flDepthsT(i); val seq = flSeqsT(i)
    // trim the stale suffix so stacks stay at live size across documents
    var n = dep.length
    while (n > 0 && !entryLive(dep(n - 1), seq(n - 1))) n -= 1
    dep.length = n; seq.length = n
    dep += flDepth
    seq += flSeq
    depthKey(flDepth) = key
    depthSlot(flDepth) = i
  }
  private def flGrow(): Unit = {
    val ok = flKeys; val od = flDepthsT; val os = flSeqsT
    flKeys = new Array[Long](ok.length * 2)
    flDepthsT = new Array[graft.core.IntBuf](od.length * 2)
    flSeqsT = new Array[graft.core.IntBuf](os.length * 2)
    var j = 0
    while (j < ok.length) {
      if (ok(j) != 0L) {
        val i = flSlotOf(ok(j))
        flKeys(i) = ok(j); flDepthsT(i) = od(j); flSeqsT(i) = os(j)
      }
      j += 1
    }
    java.util.Arrays.fill(flMemoK, 0L)
    // re-point the fast-pop slot cache of live depths at the rebuilt table
    j = 0
    while (j < flDepth) {
      if (depthKey(j) != 0L) depthSlot(j) = flSlotOf(depthKey(j))
      j += 1
    }
  }
  @inline private def fuSlotOf(key: Long): Int = {
    val mask = fuKeys.length - 1
    var i = java.lang.Long.hashCode(key * 0x9e3779b97f4a7c15L) & mask
    while (fuKeys(i) != 0L && fuKeys(i) != key) i = (i + 1) & mask
    i
  }
  @inline private def fuSlotMemo(key: Long): Int = {
    val m = ((key * 0x9e3779b97f4a7c15L) >>> 59).toInt
    val s = fuMemoS(m)
    if (fuMemoK(m) == key && fuKeys(s) == key) s
    else {
      val i = fuSlotOf(key)
      if (fuKeys(i) == key) { fuMemoK(m) = key; fuMemoS(m) = i }
      i
    }
  }
  private def fuPush(key: Long, nameStart: Int, nameEnd: Int): Unit = {
    var i = fuSlotMemo(key)
    if (fuKeys(i) == 0L) {
      fuKeys(i) = key
      if (fuDepthsT(i) == null) {
        fuDepthsT(i) = new graft.core.IntBuf(4)
        fuSeqsT(i) = new graft.core.IntBuf(4)
        fuStarts(i) = new graft.core.IntBuf(4)
        fuEnds(i) = new graft.core.IntBuf(4)
      }
      fuUsed += 1
      if (fuUsed * 3 > fuKeys.length) { fuGrow(); i = fuSlotOf(key) }
      val m = ((key * 0x9e3779b97f4a7c15L) >>> 59).toInt
      fuMemoK(m) = key; fuMemoS(m) = i
    }
    val dep = fuDepthsT(i); val seq = fuSeqsT(i)
    val sts = fuStarts(i); val ens = fuEnds(i)
    var n = dep.length
    while (n > 0 && !entryLive(dep(n - 1), seq(n - 1))) n -= 1
    dep.length = n; seq.length = n; sts.length = n; ens.length = n
    dep += flDepth
    seq += flSeq
    sts += nameStart
    ens += nameEnd
    depthKey(flDepth) = 0L // unhashable: innermost-close fast path disabled
  }
  private def fuGrow(): Unit = {
    val ok = fuKeys; val od = fuDepthsT; val oq = fuSeqsT
    val os = fuStarts; val oe = fuEnds
    fuKeys = new Array[Long](ok.length * 2)
    fuDepthsT = new Array[graft.core.IntBuf](od.length * 2)
    fuSeqsT = new Array[graft.core.IntBuf](oq.length * 2)
    fuStarts = new Array[graft.core.IntBuf](os.length * 2)
    fuEnds = new Array[graft.core.IntBuf](oe.length * 2)
    var j = 0
    while (j < ok.length) {
      if (ok(j) != 0L) {
        val i = fuSlotOf(ok(j))
        fuKeys(i) = ok(j); fuDepthsT(i) = od(j); fuSeqsT(i) = oq(j)
        fuStarts(i) = os(j); fuEnds(i) = oe(j)
      }
      j += 1
    }
    java.util.Arrays.fill(fuMemoK, 0L)
  }
  /** Rare full clear: seq headroom exhausted (2^31 minus one max-size doc);
    * resets every stack so seq ids can restart from 0.
    */
  private def flHardReset(): Unit = {
    java.util.Arrays.fill(flKeys, 0L)
    java.util.Arrays.fill(fuKeys, 0L)
    var j = 0
    while (j < flDepthsT.length) {
      if (flDepthsT(j) != null) { flDepthsT(j).length = 0; flSeqsT(j).length = 0 }
      j += 1
    }
    j = 0
    while (j < fuDepthsT.length) {
      if (fuDepthsT(j) != null) {
        fuDepthsT(j).length = 0; fuSeqsT(j).length = 0
        fuStarts(j).length = 0; fuEnds(j).length = 0
      }
      j += 1
    }
    java.util.Arrays.fill(depthSeq, 0)
    java.util.Arrays.fill(depthKey, 0L)
    flUsed = 0; fuUsed = 0
    java.util.Arrays.fill(flMemoK, 0L)
    java.util.Arrays.fill(fuMemoK, 0L)
    flSeq = 0
  }

  /** Fire matched-element pops for every element at depth >= d, outermost
    * first (the framed drain order), and truncate the matched stack.
    */
  private def drainMatched(d: Int, sink: PopSink): Unit = {
    var lo = mTop
    while (lo >= 0 && mDepths(lo) >= d) lo -= 1
    var j = lo + 1
    while (j <= mTop) {
      val desc = mDescs(j)
      mDescs(j) = null
      if (desc != null) sink.onPop(desc)
      j += 1
    }
    mTop = lo
  }

  /** ESI tags are void elements when enabled (reference
    * selectors_vm/stack.rs:13-41: esi:include / esi:comment).
    */
  @inline private def isVoidElement(view: VmElemView): Boolean =
    view.isHtmlNs && (graft.core.HtmlUtil.isVoidElement(view.nameHash) ||
      (enableEsiTags && view.nameHash == TagHash.Empty &&
        (graft.core.HtmlUtil.eqIgnoreCase(view.nameInput, view.nameStartV, view.nameEndV, "esi:include") ||
         graft.core.HtmlUtil.eqIgnoreCase(view.nameInput, view.nameStartV, view.nameEndV, "esi:comment"))))

  private def execStartTagFrameless(view: VmElemView, selfClosing: Boolean,
                                    sink: MatchSink): Boolean = {
    val isVoid = isVoidElement(view)
    val withContent = if (view.isHtmlNs) !isVoid else !selfClosing
    var matched = false
    if (fastEntry != null) {
      val idx = fastEntry.get(view.nameHash, view)
      if (idx >= 0) {
        val in = program.instrs(idx)
        var i = 0
        while (i < in.matchedIds.length) { sink.onMatch(in.matchedIds(i), withContent); i += 1 }
        matched = true
      }
    } else {
      // entry-only with universal/attr/class predicates: evaluate the
      // anchor-less entries plus this name's bucket. The two sets are
      // disjoint so every INSTR is visited at most once, but one match ID
      // can sit on several entry instrs (a comma list "div, .note" puts
      // the same handler id on two compounds) — dedup ids and fire in
      // ascending order exactly like the framed path, or a <div
      // class=note> would fire its handler id twice.
      // entryMask is a FIELD, not a captured local: a nested def mutating
      // a local var makes scalac box it into a per-call LongRef (no
      // -opt inliner in this build), and this path runs once per tag
      if (smallProgram) {
        entryMask = 0L
        var i = 0
        if (nameEntry != null) {
          val u = nameEntry.universal
          while (i < u.length) { tryEntryInstr(u(i), view); i += 1 }
          val b = nameEntry.bucketFor(view.nameHash, view)
          if (b != null) { i = 0; while (i < b.length) { tryEntryInstr(b(i), view); i += 1 } }
        } else {
          val ep = program.entryPoints
          while (i < ep.length) { tryEntryInstr(ep(i), view); i += 1 }
        }
        matched = entryMask != 0L
        var m = entryMask
        while (m != 0L) {
          sink.onMatch(java.lang.Long.numberOfTrailingZeros(m), withContent)
          m &= m - 1
        }
      } else {
        matchedIds.clear()
        @inline def tryInstr(idx: Int): Unit = {
          val in = program.instrs(idx)
          if (in.eval(view)) {
            var i = 0
            while (i < in.matchedIds.length) { matchedIds.set(in.matchedIds(i)); i += 1 }
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
        var id = matchedIds.nextSetBit(0)
        while (id >= 0) {
          matched = true
          sink.onMatch(id, withContent)
          id = matchedIds.nextSetBit(id + 1)
        }
      }
    }
    if (withContent) {
      if (flDepth == depthSeq.length) {
        depthSeq = java.util.Arrays.copyOf(depthSeq, flDepth * 2)
        depthKey = java.util.Arrays.copyOf(depthKey, flDepth * 2)
        depthSlot = java.util.Arrays.copyOf(depthSlot, flDepth * 2)
      }
      val h = view.nameHash
      if (h != TagHash.Empty) flPush(h)
      else fuPush(normFnv(view.nameFnv), view.nameStartV, view.nameEndV)
      if (matched) {
        mTop += 1
        if (mTop == mDepths.length) {
          mDepths = java.util.Arrays.copyOf(mDepths, mTop * 2)
          mDescs = java.util.Arrays.copyOf(mDescs, mTop * 2)
        }
        mDepths(mTop) = flDepth
        mDescs(mTop) = null
      }
      depthSeq(flDepth) = flSeq
      flSeq += 1
      flDepth += 1
    }
    withContent
  }

  private def execEndTagFrameless(input: Array[Byte], nameStart: Int, nameEnd: Int,
                                  nameHash: Long, nameFnv: Long, sink: PopSink): Unit = {
    // fast path: well-formed content closes the innermost element — one
    // compare via the per-depth key cache, no table probe. The blind stack
    // decrement is sound: it may remove a stale same-name entry instead of
    // this element's own, but every entry at depth >= dTop is dead after
    // the pop anyway (flDepth = dTop), and entries below are untouched.
    val dTop = flDepth - 1
    if (dTop >= 0 && nameHash != TagHash.Empty && depthKey(dTop) == nameHash) {
      val i = depthSlot(dTop)
      flDepthsT(i).length -= 1
      flSeqsT(i).length -= 1
      if (mTop >= 0 && mDepths(mTop) == dTop) {
        val desc = mDescs(mTop)
        mDescs(mTop) = null
        mTop -= 1
        if (desc != null) sink.onPop(desc)
      }
      flDepth = dTop
      return
    }
    if (nameHash != TagHash.Empty) {
      val i = flSlotOf(nameHash)
      if (flKeys(i) != nameHash) return
      val dep = flDepthsT(i); val seq = flSeqsT(i)
      val darr = dep.raw; val qarr = seq.raw
      var n = dep.length
      // discard the implicitly-closed (stale) suffix
      while (n > 0 && !entryLive(darr(n - 1), qarr(n - 1))) n -= 1
      if (n == 0) { dep.length = 0; seq.length = 0; return } // stray end tag
      val d = darr(n - 1)
      dep.length = n - 1; seq.length = n - 1
      drainMatched(d, sink)
      flDepth = d
    } else {
      val fnv = normFnv(nameFnv)
      val i = fuSlotOf(fnv)
      if (fuKeys(i) != fnv) return
      val dep = fuDepthsT(i); val seq = fuSeqsT(i)
      val sts = fuStarts(i); val ens = fuEnds(i)
      val darr = dep.raw; val qarr = seq.raw
      var n = dep.length
      while (n > 0 && !entryLive(darr(n - 1), qarr(n - 1))) n -= 1
      // exact-name scan (FNV collision guard): the innermost live entry
      // whose recorded name bytes equal this end tag's name
      var k = n - 1
      while (k >= 0 && !eqSliceIgnoreCase(input, sts.raw(k), ens.raw(k), nameStart, nameEnd)) k -= 1
      if (k < 0) { dep.length = n; seq.length = n; sts.length = n; ens.length = n; return }
      val d = darr(k)
      dep.length = k; seq.length = k; sts.length = k; ens.length = k
      drainMatched(d, sink)
      flDepth = d
    }
  }

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

  // per-tag scratch masks as FIELDS: the frameless/framed small-program
  // entry sweeps would otherwise capture mutable locals in their helper,
  // which scalac (without the -opt inliner) boxes into a fresh
  // LongRef allocation per start tag
  private var entryMask = 0L
  private var visitedMaskF = 0L
  private var matchedMaskF = 0L

  /** Evaluate one entry instruction and fold its match ids into
    * [[entryMask]] (frameless small-program path; no jumps/hereditary —
    * entry-only programs have none).
    */
  private def tryEntryInstr(idx: Int, view: VmElemView): Unit = {
    val in = program.instrs(idx)
    if (in.eval(view)) {
      var i = 0
      while (i < in.matchedIds.length) { entryMask |= 1L << in.matchedIds(i); i += 1 }
    }
  }

  /** Evaluate one instruction for the framed small-program path: dedup
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
    frameless = entryOnly && !disableFrameless
    if (frameless) {
      // O(1): leftover stack entries go stale via the (depth, seq)
      // liveness check; seq ids are never reused until a hard reset
      flDepth = 0
      var j = 0
      while (j <= mTop) { mDescs(j) = null; j += 1 }
      mTop = -1
      // 2^30 headroom: one document can never push that many elements
      // (each start tag spans >= 3 input bytes and the input is an
      // Array[Byte] of < 2^31 bytes), so checking only between documents
      // can never let flSeq overflow mid-parse
      if (flSeq > Int.MaxValue - (1 << 30)) flHardReset()
      return
    }
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

  def depth: Int = if (frameless) flDepth else top + 1

  /** Descriptor of the innermost open element, or null. */
  def currentDescriptor: ElementDescriptor =
    if (frameless) {
      if (mTop >= 0 && mDepths(mTop) == flDepth - 1) mDescs(mTop) else null
    } else if (top >= 0) fDesc(top)
    else null

  /** Attach a descriptor to the frame pushed by the latest start tag. */
  def setCurrentDescriptor(d: ElementDescriptor): Unit =
    if (frameless) {
      if (mTop >= 0 && mDepths(mTop) == flDepth - 1) mDescs(mTop) = d
    } else if (top >= 0) fDesc(top) = d

  /** Run matching for a start tag. `view.nthIdx`/`nthOfTypeIdx` are filled
    * here. Returns true if a frame was pushed (element can have content).
    */
  def execStartTag(view: VmElemView, selfClosing: Boolean,
                   sink: MatchSink): Boolean = {
    if (frameless) return execStartTagFrameless(view, selfClosing, sink)
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
    if (frameless) { execEndTagFrameless(input, nameStart, nameEnd, nameHash, nameFnv, sink); return }
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
