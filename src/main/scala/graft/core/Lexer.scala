package graft.core

/** Receives lexemes from the tokenizer. All positions are byte offsets into
  * the input array passed to [[Lexer.parse]]. Implementations must copy any
  * slices they keep: attribute storage is reused across tags.
  */
trait LexemeSink {
  /** Text run; `start until end` is both raw range and content. */
  def onText(start: Int, end: Int, textType: Int): Unit
  /** Start tag. `attrs` is valid only during the call. */
  def onStartTag(nameStart: Int, nameEnd: Int, nameHash: Long, ns: Int,
                 selfClosing: Boolean, attrs: AttrList,
                 rawStart: Int, rawEnd: Int): Unit
  def onEndTag(nameStart: Int, nameEnd: Int, nameHash: Long,
               rawStart: Int, rawEnd: Int): Unit
  def onComment(textStart: Int, textEnd: Int, rawStart: Int, rawEnd: Int): Unit
  def onDoctype(nameStart: Int, nameEnd: Int, hasName: Boolean,
                publicIdStart: Int, publicIdEnd: Int, hasPublicId: Boolean,
                systemIdStart: Int, systemIdEnd: Int, hasSystemId: Boolean,
                forceQuirks: Boolean, rawStart: Int, rawEnd: Int): Unit
  /** Structural raw bytes with no token: `</>`, `<![CDATA[`, `]]>`. */
  def onRawWithoutToken(rawStart: Int, rawEnd: Int): Unit
  def onEof(pos: Int): Unit
}

/** Reusable attribute outline storage (name/value byte ranges). Mirrors
  * `AttributeOutline` (/root/reference/src/parser/lexer/lexeme/token_outline.rs:6-10).
  */
final class AttrList {
  var count = 0
  var nameStart = new Array[Int](8)
  var nameEnd = new Array[Int](8)
  var valueStart = new Array[Int](8)
  var valueEnd = new Array[Int](8)

  def clear(): Unit = count = 0

  def add(ns: Int, ne: Int, vs: Int, ve: Int): Unit = {
    if (count == nameStart.length) {
      val n = count * 2
      nameStart = java.util.Arrays.copyOf(nameStart, n)
      nameEnd = java.util.Arrays.copyOf(nameEnd, n)
      valueStart = java.util.Arrays.copyOf(valueStart, n)
      valueEnd = java.util.Arrays.copyOf(valueEnd, n)
    }
    nameStart(count) = ns; nameEnd(count) = ne
    valueStart(count) = vs; valueEnd(count) = ve
    count += 1
  }
}

/** HTML5 streaming tokenizer over a complete in-memory document.
  *
  * A state-by-state transcription of the reference's full lexer
  * (/root/reference/src/parser/state_machine/syntax/ [all files] and
  * /root/reference/src/parser/lexer/actions.rs), with tree-builder
  * feedback (text-type switches, foreign-content namespaces, CDATA
  * gating) applied inline at tag emission exactly like
  * /root/reference/src/parser/lexer/mod.rs:99-133.
  *
  * Documents arrive whole (one table row = one document), so the
  * chunk-replay/bookmark machinery of the reference is unnecessary;
  * chunk invariance is inherent and proven by property tests that split
  * inputs randomly and compare against whole-buffer parses.
  *
  * Instances are reusable across documents (partition-level reuse inside
  * `mapPartitions`) and are NOT thread-safe.
  */
final class Lexer(strict: Boolean = true) extends TagView {
  import TextType._

  // ---- states ----------------------------------------------------------
  private final val S_DATA = 0
  private final val S_PLAINTEXT = 1
  private final val S_RCDATA = 2
  private final val S_RCDATA_LT = 3
  private final val S_RCDATA_END_TAG_OPEN = 4
  private final val S_RCDATA_END_TAG_NAME = 5
  private final val S_RAWTEXT = 6
  private final val S_RAWTEXT_LT = 7
  private final val S_RAWTEXT_END_TAG_OPEN = 8
  private final val S_RAWTEXT_END_TAG_NAME = 9
  private final val S_SD = 10
  private final val S_SD_LT = 11
  private final val S_SD_END_TAG_OPEN = 12
  private final val S_SD_END_TAG_NAME = 13
  private final val S_SD_ESCAPE_START = 14
  private final val S_SD_ESCAPED = 15
  private final val S_SD_ESCAPED_DASH_DASH = 16
  private final val S_SD_ESCAPED_LT = 17
  private final val S_SD_ESCAPED_END_TAG_OPEN = 18
  private final val S_SD_ESCAPED_END_TAG_NAME = 19
  private final val S_SD_DBL_START = 20
  private final val S_SD_DBL = 21
  private final val S_SD_DBL_DASH_DASH = 22
  private final val S_SD_DBL_LT = 23
  private final val S_SD_DBL_END_TAG_NAME = 24
  private final val S_SD_DBL_END = 25
  private final val S_CDATA = 26
  private final val S_CDATA_BRACKET = 27
  private final val S_TAG_OPEN = 28
  private final val S_END_TAG_OPEN = 29
  private final val S_MARKUP_DECL_OPEN = 30
  private final val S_TAG_NAME = 31
  private final val S_SELF_CLOSING_START_TAG = 32
  private final val S_BEFORE_ATTR_NAME = 33
  private final val S_ATTR_NAME = 34
  private final val S_AFTER_ATTR_NAME = 35
  private final val S_BEFORE_ATTR_VALUE = 36
  private final val S_ATTR_VALUE_DQ = 37
  private final val S_ATTR_VALUE_SQ = 38
  private final val S_ATTR_VALUE_UNQ = 39
  private final val S_BOGUS_COMMENT = 40
  private final val S_COMMENT_START = 41
  private final val S_COMMENT = 42
  private final val S_COMMENT_START_DASH = 43
  private final val S_COMMENT_END_DASH = 44
  private final val S_COMMENT_END = 45
  private final val S_COMMENT_LT = 46
  private final val S_COMMENT_LT_BANG = 47
  private final val S_COMMENT_LT_BANG_DASH = 48
  private final val S_COMMENT_LT_BANG_DASH_DASH = 49
  private final val S_COMMENT_END_BANG = 50
  private final val S_DOCTYPE = 51
  private final val S_BEFORE_DOCTYPE_NAME = 52
  private final val S_DOCTYPE_NAME = 53
  private final val S_AFTER_DOCTYPE_NAME = 54
  private final val S_AFTER_DT_PUBLIC_KW = 55
  private final val S_AFTER_DT_SYSTEM_KW = 56
  private final val S_BEFORE_DT_PUBLIC_ID = 57
  private final val S_BEFORE_DT_SYSTEM_ID = 58
  private final val S_DT_PUBLIC_ID = 59
  private final val S_DT_SYSTEM_ID = 60
  private final val S_AFTER_DT_PUBLIC_ID = 61
  private final val S_AFTER_DT_SYSTEM_ID = 62
  private final val S_BETWEEN_DT_PUBLIC_SYSTEM = 63
  private final val S_BOGUS_DOCTYPE = 64

  // ---- lexer fields ------------------------------------------------------
  private var input: Array[Byte] = _
  private var len = 0
  private var nextPos = 0
  private var lexemeStart = 0
  private var tokenPartStart = 0
  private var cdataAllowed = false
  private var state = S_DATA
  private var lastStartTagNameHash = TagHash.Empty
  private var closingQuote: Int = '"'
  private var lastTextType = Data
  private var sink: LexemeSink = _
  val treeSim = new TreeSim(strict)

  // scan mode (attr-skip) — see the parse(doc, out, attrNeed) overload
  private var scanAttrNeed: AttrNeedTable = _
  private var tSkipAttrs = false

  // current tag token
  private var hasTag = false
  private var tagIsStart = false
  private var tNameStart, tNameEnd = 0
  private var tNameHash = 0L
  private var tNameKey = 0L
  private var tSelfClosing = false

  /** [[NameKey]] of the current tag's name, valid during a sink callback
    * for that tag; consumers key names by it without rehashing.
    */
  def tagNameKey: Long = tNameKey
  private val attrs = new AttrList
  // current attribute
  private var hasAttr = false
  private var aNameStart, aNameEnd, aValueStart, aValueEnd = 0

  // current comment
  private var hasComment = false
  private var cTextStart, cTextEnd = 0

  // current doctype
  private var hasDoctype = false
  private var dNameStart, dNameEnd = 0
  private var dHasName = false
  private var dPublicStart, dPublicEnd = 0
  private var dHasPublic = false
  private var dSystemStart, dSystemEnd = 0
  private var dHasSystem = false
  private var dForceQuirks = false

  // ---- TagView (for tree-builder feedback) -------------------------------
  def tagInput: Array[Byte] = input
  def tagNameStart: Int = tNameStart
  def tagNameEnd: Int = tNameEnd
  def tagSelfClosing: Boolean = tSelfClosing
  def tagAttrCount: Int = if (tagIsStart) attrs.count else 0
  def tagAttrNameStart(i: Int): Int = attrs.nameStart(i)
  def tagAttrNameEnd(i: Int): Int = attrs.nameEnd(i)
  def tagAttrValueStart(i: Int): Int = attrs.valueStart(i)
  def tagAttrValueEnd(i: Int): Int = attrs.valueEnd(i)

  // ---- public API ---------------------------------------------------------
  /** Tokenize a whole document. Throws [[ParsingAmbiguityException]] in
    * strict mode on `<select>`/`<frameset>` text-element ambiguity.
    */
  def parse(doc: Array[Byte], out: LexemeSink): Unit =
    parse(doc, out, null)

  /** Scan-mode parse (the reference tag-scanner's job, T3/O1/O5 —
    * /root/reference/src/parser/tag_scanner/mod.rs:28-195): when
    * `attrNeed` is non-null, tags whose name the policy rules out are
    * walked with a minimal quote-correct automaton that records NO
    * attribute outlines. Design difference from the reference: the whole
    * document is in memory, so instead of two state machines with
    * bookmark/rewind switching, attribute recording is decided per tag
    * at the end of the tag name — same grammar, same positions, no
    * replay. End tags always skip (their attributes are dropped by spec);
    * foreign-content tags never skip (tree feedback reads <font>/
    * <annotation-xml> attributes).
    */
  def parse(doc: Array[Byte], out: LexemeSink, attrNeed: AttrNeedTable): Unit =
    parse(doc, doc.length, out, attrNeed)

  /** Length-aware variant: parses `doc(0 until length)` (grow-only buffer
    * reuse across rows — positions stay absolute byte offsets).
    */
  def parse(doc: Array[Byte], length: Int, out: LexemeSink, attrNeed: AttrNeedTable): Unit = {
    input = doc; len = length; sink = out
    scanAttrNeed = attrNeed
    // the attr-need memo keys on the TABLE identity: same table (the
    // common case — one Rewriter, one program) keeps its warm entries
    // across documents; a different table invalidates them all
    if (attrNeed ne memoNeedTable) {
      java.util.Arrays.fill(memoNeedKey, 0L)
      memoNeedTable = attrNeed
    }
    nextPos = 0; lexemeStart = 0; tokenPartStart = 0
    cdataAllowed = false; state = S_DATA
    lastStartTagNameHash = TagHash.Empty
    closingQuote = '"'; lastTextType = Data
    hasTag = false; hasComment = false; hasDoctype = false; hasAttr = false
    tSkipAttrs = false
    attrs.clear()
    treeSim.reset()
    run()
    input = null; sink = null; scanAttrNeed = null
  }

  // ---- helpers ------------------------------------------------------------
  @inline private def pos: Int = nextPos - 1

  /** memchr (reference O7): SWAR over 8-byte words — an early-exit
    * byte loop defeats auto-vectorization, so detect the needle with the
    * classic zero-byte trick and only then scan the word.
    */
  @inline private def indexOf(b: Int, from: Int): Int = {
    var i = from
    val n = len
    val limit = n - 8
    if (i <= limit) {
      val pattern = 0x0101010101010101L * (b & 0xffL)
      while (i <= limit) {
        val w = (Lexer.LongView.get(input, i): Long) ^ pattern
        val found = (w - 0x0101010101010101L) & ~w & 0x8080808080808080L
        if (found != 0L)
          return i + (java.lang.Long.numberOfTrailingZeros(found) >> 3)
        i += 8
      }
    }
    while (i < n) { if (input(i) == b) return i; i += 1 }
    -1
  }

  /** consume_until: advance so current char == needle; false at end of input. */
  @inline private def consumeUntil(needle: Int): Boolean = {
    val i = indexOf(needle, nextPos)
    if (i < 0) { nextPos = len + 1; false } else { nextPos = i + 1; true }
  }

  /** Sequence arm: first char of `s` is compared against the CURRENT char.
    * On full match the cursor lands on the last char of the sequence.
    */
  private def seq(s: String, ignoreCase: Boolean): Boolean = {
    val start = nextPos - 1
    if (start + s.length > len) return false
    var i = 0
    while (i < s.length) {
      val c = input(start + i) & 0xff
      val e = s.charAt(i).toInt
      val ok = if (ignoreCase) c == e || (c ^ 0x20) == e else c == e
      if (!ok) return false
      i += 1
    }
    nextPos = start + s.length
    true
  }

  @inline private def isWs(c: Int): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == 0x0c

  @inline private def isAlpha(c: Int): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  // ---- token actions --------------------------------------------------------
  private def emitText(): Unit = {
    val p = pos
    if (p > lexemeStart) {
      sink.onText(lexemeStart, p, lastTextType)
      lexemeStart = p
    }
  }

  private def emitEof(): Unit = sink.onEof(pos)

  private def emitRawWithoutToken(inclusive: Boolean): Unit = {
    val end = if (inclusive) pos + 1 else pos
    sink.onRawWithoutToken(lexemeStart, end)
    lexemeStart = end
  }

  private def createStartTag(): Unit = {
    hasTag = true; tagIsStart = true
    tNameStart = 0; tNameEnd = 0; tNameHash = 0L; tNameKey = 0L; tSelfClosing = false
    attrs.clear(); hasAttr = false
  }

  private def createEndTag(): Unit = {
    hasTag = true; tagIsStart = false
    tNameStart = 0; tNameEnd = 0; tNameHash = 0L; tNameKey = 0L; tSelfClosing = false
    attrs.clear(); hasAttr = false
  }

  @inline private def updateTagNameHash(): Unit =
    if (pos < len) tNameHash = TagHash.update(tNameHash, input(pos))

  // direct-mapped memo of the scan-mode decision, by name key: documents
  // repeat tag names (<td>, <li>, <emu-alg>...), so the common case is
  // one compare instead of a table probe (0 is never a key, so it doubles
  // as "invalid")
  private val memoNeedKey = new Array[Long](256)
  private val memoNeedSkip = new Array[Boolean](256)
  private var memoNeedTable: AttrNeedTable = _

  private def finishTagName(): Unit = {
    tNameStart = tokenPartStart; tNameEnd = pos
    // hash the completed name in one tight pass: the S_TAG_NAME spin loop
    // stays a pure delimiter scan (the rcdata/script end-tag-name states
    // still hash incrementally — isAppropriateEndTag reads the hash
    // mid-name there — and this recompute gives the same value)
    var h = 0L
    var i = tNameStart
    while (i < tNameEnd && h != TagHash.Empty) {
      h = TagHash.update(h, input(i)); i += 1
    }
    tNameHash = h
    // unhashable names (custom elements: <emu-*> etc.) pay one cache-hot
    // rescan here; hashable names, the common case, pay nothing more
    tNameKey = NameKey.of(h, input, tNameStart, tNameEnd)
    // scan mode: decide attribute recording once per tag. End tags always
    // skip (attrs dropped by spec); foreign content never skips (tree
    // feedback reads <font color/size/face> and <annotation-xml encoding>)
    tSkipAttrs = scanAttrNeed != null && (
      !tagIsStart ||
        (treeSim.currentNs == Ns.Html && {
          val m = LongIndex.hash(tNameKey) & 0xff
          if (memoNeedKey(m) == tNameKey) memoNeedSkip(m)
          else {
            val skip = !scanAttrNeed.needsAttrs(tNameKey)
            memoNeedKey(m) = tNameKey; memoNeedSkip(m) = skip
            skip
          }
        }))
  }

  @inline private def isAppropriateEndTag: Boolean = tNameHash == lastStartTagNameHash

  private def startAttr(): Unit = if (tagIsStart) {
    hasAttr = true
    aNameStart = pos; aNameEnd = pos; aValueStart = 0; aValueEnd = 0
    tokenPartStart = pos
  }

  private def finishAttrName(): Unit = if (hasAttr) { aNameStart = tokenPartStart; aNameEnd = pos }

  private def finishAttrValue(): Unit = if (hasAttr) { aValueStart = tokenPartStart; aValueEnd = pos }

  private def finishAttr(): Unit = if (hasAttr && tagIsStart) {
    attrs.add(aNameStart, aNameEnd, aValueStart, aValueEnd)
    hasAttr = false
  }

  private def createComment(): Unit = { hasComment = true; cTextStart = tokenPartStart; cTextEnd = tokenPartStart }

  private def createDoctype(): Unit = {
    hasDoctype = true
    dNameStart = 0; dNameEnd = 0; dHasName = false
    dPublicStart = 0; dPublicEnd = 0; dHasPublic = false
    dSystemStart = 0; dSystemEnd = 0; dHasSystem = false
    dForceQuirks = false
  }

  /** Emit the pending comment or doctype token. */
  private def emitCurrentToken(inclusive: Boolean): Unit = {
    val end = if (inclusive) pos + 1 else pos
    if (hasComment) {
      sink.onComment(cTextStart, cTextEnd, lexemeStart, end)
      hasComment = false
    } else if (hasDoctype) {
      sink.onDoctype(dNameStart, dNameEnd, dHasName, dPublicStart, dPublicEnd,
        dHasPublic, dSystemStart, dSystemEnd, dHasSystem, dForceQuirks,
        lexemeStart, end)
      hasDoctype = false
    }
    lexemeStart = end
  }

  /** Emit the pending tag: tree-builder feedback first (may throw in strict
    * mode), reset text type to Data, apply feedback, then hand to the sink.
    * Returns the next state per the resulting text type
    * (`--> dyn next_text_parsing_state`).
    */
  private def emitTag(): Int = {
    val fb =
      try {
        if (tagIsStart) treeSim.feedbackForStartTag(tNameHash, this)
        else treeSim.feedbackForEndTag(tNameHash, this)
      } catch {
        case e: EngineBailoutException =>
          e.pos = lexemeStart // raw start of the offending tag
          throw e
      }

    lastTextType = Data
    fb match {
      case TreeSim.FbNone     => ()
      case TreeSim.FbCdataOn  => cdataAllowed = true
      case TreeSim.FbCdataOff => cdataAllowed = false
      case sw                 => lastTextType = sw - TreeSim.FbSwitchData
    }

    val rawEnd = pos + 1
    if (tagIsStart) {
      lastStartTagNameHash = tNameHash
      sink.onStartTag(tNameStart, tNameEnd, tNameHash, treeSim.currentNs,
        tSelfClosing, attrs, lexemeStart, rawEnd)
    } else {
      sink.onEndTag(tNameStart, tNameEnd, tNameHash, lexemeStart, rawEnd)
    }
    hasTag = false
    lexemeStart = rawEnd
    textState(lastTextType)
  }

  @inline private def textState(tt: Int): Int = tt match {
    case Data         => S_DATA
    case PlainText    => S_PLAINTEXT
    case RCData       => S_RCDATA
    case RawText      => S_RAWTEXT
    case ScriptData   => S_SD
    case CDataSection => S_CDATA
  }

  // ---- main loop -----------------------------------------------------------
  // Each iteration consumes the next char (c == -1 past end of input) and
  // dispatches on the current state, mirroring the reference's
  // `loop { state()(input) }` with one-char-consume state bodies.
  private def run(): Unit = {
    var done = false
    while (!done) {
      (state: @annotation.switch) match {
        // ---- text groups ----
        case S_DATA =>
          if (consumeUntil('<')) { emitText(); state = S_TAG_OPEN }
          else { emitText(); emitEof(); done = true }

        case S_PLAINTEXT =>
          nextPos = len + 1
          emitText(); emitEof(); done = true

        case S_CDATA =>
          if (consumeUntil(']')) { emitText(); state = S_CDATA_BRACKET }
          else { emitText(); emitEof(); done = true }

        case S_CDATA_BRACKET =>
          val c = consume()
          if (c == -1) { emitText(); emitEof(); done = true }
          else if (seq("]>", ignoreCase = false)) {
            emitRawWithoutToken(inclusive = true)
            lastTextType = Data // leave_cdata
            state = S_DATA
          } else { emitText(); reconsume(); state = S_CDATA }

        case S_RCDATA =>
          if (consumeUntil('<')) { emitText(); state = S_RCDATA_LT }
          else { emitText(); emitEof(); done = true }

        case S_RCDATA_LT =>
          val c = consume()
          if (c == '/') state = S_RCDATA_END_TAG_OPEN
          else if (c == -1) { emitText(); emitEof(); done = true }
          else { emitText(); reconsume(); state = S_RCDATA }

        case S_RCDATA_END_TAG_OPEN =>
          val c = consume()
          if (isAlpha(c)) {
            createEndTag(); tokenPartStart = pos; updateTagNameHash()
            state = S_RCDATA_END_TAG_NAME
          } else if (c == -1) { emitText(); emitEof(); done = true }
          else { emitText(); reconsume(); state = S_RCDATA }

        case S_RCDATA_END_TAG_NAME =>
          state = textEndTagNameState(S_RCDATA, S_RCDATA_END_TAG_NAME)
          if (state == -1) done = true

        case S_RAWTEXT =>
          if (consumeUntil('<')) { emitText(); state = S_RAWTEXT_LT }
          else { emitText(); emitEof(); done = true }

        case S_RAWTEXT_LT =>
          val c = consume()
          if (c == '/') state = S_RAWTEXT_END_TAG_OPEN
          else if (c == -1) { emitText(); emitEof(); done = true }
          else { emitText(); reconsume(); state = S_RAWTEXT }

        case S_RAWTEXT_END_TAG_OPEN =>
          val c = consume()
          if (isAlpha(c)) {
            createEndTag(); tokenPartStart = pos; updateTagNameHash()
            state = S_RAWTEXT_END_TAG_NAME
          } else if (c == -1) { emitText(); emitEof(); done = true }
          else { emitText(); reconsume(); state = S_RAWTEXT }

        case S_RAWTEXT_END_TAG_NAME =>
          state = textEndTagNameState(S_RAWTEXT, S_RAWTEXT_END_TAG_NAME)
          if (state == -1) done = true

        // ---- script data ----
        case S_SD =>
          if (consumeUntil('<')) { emitText(); state = S_SD_LT }
          else { emitText(); emitEof(); done = true }

        case S_SD_LT =>
          val c = consume()
          if (c == '/') state = S_SD_END_TAG_OPEN
          else if (c == '!') state = S_SD_ESCAPE_START
          else if (c == -1) { emitText(); emitEof(); done = true }
          else { emitText(); reconsume(); state = S_SD }

        case S_SD_END_TAG_OPEN =>
          val c = consume()
          if (isAlpha(c)) {
            createEndTag(); tokenPartStart = pos; updateTagNameHash()
            state = S_SD_END_TAG_NAME
          } else if (c == -1) { emitText(); emitEof(); done = true }
          else { emitText(); reconsume(); state = S_SD }

        case S_SD_END_TAG_NAME =>
          state = textEndTagNameState(S_SD, S_SD_END_TAG_NAME)
          if (state == -1) done = true

        case S_SD_ESCAPE_START =>
          val c = consume()
          if (c == -1) { emitText(); emitEof(); done = true }
          else if (seq("--", ignoreCase = false)) state = S_SD_ESCAPED_DASH_DASH
          else { emitText(); reconsume(); state = S_SD }

        case S_SD_ESCAPED =>
          val c = consume()
          if (c == -1) { emitText(); emitEof(); done = true }
          else if (seq("--", ignoreCase = false)) state = S_SD_ESCAPED_DASH_DASH
          else if (c == '<') { emitText(); state = S_SD_ESCAPED_LT }
          else ()

        case S_SD_ESCAPED_DASH_DASH =>
          val c = consume()
          if (c == '-') ()
          else if (c == '<') { emitText(); state = S_SD_ESCAPED_LT }
          else if (c == '>') { emitText(); reconsume(); state = S_SD }
          else if (c == -1) { emitText(); emitEof(); done = true }
          else state = S_SD_ESCAPED

        case S_SD_ESCAPED_LT =>
          val c = consume()
          if (c == -1) { emitText(); emitEof(); done = true }
          else if (seq("SCRIPT", ignoreCase = true)) state = S_SD_DBL_START
          else if (c == '/') state = S_SD_ESCAPED_END_TAG_OPEN
          else { emitText(); reconsume(); state = S_SD_ESCAPED }

        case S_SD_ESCAPED_END_TAG_OPEN =>
          val c = consume()
          if (isAlpha(c)) {
            createEndTag(); tokenPartStart = pos; updateTagNameHash()
            state = S_SD_ESCAPED_END_TAG_NAME
          } else if (c == -1) { emitText(); emitEof(); done = true }
          else { emitText(); reconsume(); state = S_SD_ESCAPED }

        case S_SD_ESCAPED_END_TAG_NAME =>
          state = textEndTagNameState(S_SD_ESCAPED, S_SD_ESCAPED_END_TAG_NAME)
          if (state == -1) done = true

        case S_SD_DBL_START =>
          val c = consume()
          if (isWs(c) || c == '/' || c == '>') state = S_SD_DBL
          else if (c == -1) { emitText(); emitEof(); done = true }
          else { reconsume(); state = S_SD_ESCAPED }

        case S_SD_DBL =>
          val c = consume()
          if (c == -1) { emitText(); emitEof(); done = true }
          else if (seq("--", ignoreCase = false)) state = S_SD_DBL_DASH_DASH
          else if (c == '<') { emitText(); state = S_SD_DBL_LT }
          else ()

        case S_SD_DBL_DASH_DASH =>
          val c = consume()
          if (c == '-') ()
          else if (c == '<') state = S_SD_DBL_LT
          else if (c == '>') { emitText(); reconsume(); state = S_SD }
          else if (c == -1) { emitText(); emitEof(); done = true }
          else state = S_SD_DBL

        case S_SD_DBL_LT =>
          val c = consume()
          if (c == '/') state = S_SD_DBL_END_TAG_NAME
          else if (c == -1) { emitText(); emitEof(); done = true }
          else { reconsume(); state = S_SD_DBL }

        case S_SD_DBL_END_TAG_NAME =>
          val c = consume()
          if (c == -1) { emitText(); emitEof(); done = true }
          else if (seq("SCRIPT", ignoreCase = true)) state = S_SD_DBL_END
          else { reconsume(); state = S_SD_DBL }

        case S_SD_DBL_END =>
          val c = consume()
          if (isWs(c) || c == '/' || c == '>') state = S_SD_ESCAPED
          else if (c == -1) { emitText(); emitEof(); done = true }
          else { reconsume(); state = S_SD_DBL }

        // ---- tags ----
        case S_TAG_OPEN =>
          val c = consume()
          if (isAlpha(c)) {
            createStartTag(); tokenPartStart = pos
            state = S_TAG_NAME
          } else if (c == '!') state = S_MARKUP_DECL_OPEN
          else if (c == '/') state = S_END_TAG_OPEN
          else if (c == '?') {
            tokenPartStart = pos; createComment(); state = S_BOGUS_COMMENT
          } else if (c == -1) { emitText(); emitEof(); done = true }
          else { emitText(); reconsume(); state = S_DATA }

        case S_END_TAG_OPEN =>
          val c = consume()
          if (isAlpha(c)) {
            createEndTag(); tokenPartStart = pos
            state = S_TAG_NAME
          } else if (c == '>') { emitRawWithoutToken(inclusive = true); state = S_DATA }
          else if (c == -1) { emitText(); emitEof(); done = true }
          else {
            tokenPartStart = pos; createComment(); reconsume(); state = S_BOGUS_COMMENT
          }

        case S_MARKUP_DECL_OPEN =>
          // enter action: start_token_part (covers bogus comment content)
          tokenPartStart = nextPos
          val c = consume()
          if (c == -1) { createComment(); reconsume(); state = S_BOGUS_COMMENT }
          else if (seq("--", ignoreCase = false)) {
            // comment_start_state enter actions
            tokenPartStart = nextPos; createComment(); state = S_COMMENT_START
          } else if (seq("DOCTYPE", ignoreCase = true)) state = S_DOCTYPE
          else if (seq("[CDATA[", ignoreCase = false)) {
            if (cdataAllowed) {
              emitRawWithoutToken(inclusive = true)
              lastTextType = CDataSection // enter_cdata
              state = S_CDATA
            } else { createComment(); state = S_BOGUS_COMMENT }
          } else { createComment(); reconsume(); state = S_BOGUS_COMMENT }

        case S_TAG_NAME =>
          // hot state: stay in a tight inner loop over the name chars
          // instead of re-entering the dispatch switch per char; the
          // common case (another name char) is one table load
          var spin = true
          while (spin) {
            val c = consume()
            if (c >= 0 && !Lexer.NameDelim(c)) () // name char: keep spinning
            else if (isWs(c)) { finishTagName(); state = S_BEFORE_ATTR_NAME; spin = false }
            else if (c == '>') { finishTagName(); state = emitTag(); spin = false }
            else if (c == '/') { finishTagName(); state = S_SELF_CLOSING_START_TAG; spin = false }
            else { emitRawWithoutToken(inclusive = false); emitEof(); done = true; spin = false }
          }

        case S_SELF_CLOSING_START_TAG =>
          val c = consume()
          if (c == '>') { tSelfClosing = true; state = emitTag() }
          else if (c == -1) { emitRawWithoutToken(inclusive = false); emitEof(); done = true }
          else { reconsume(); state = S_BEFORE_ATTR_NAME }

        // ---- attributes ----
        case S_BEFORE_ATTR_NAME =>
          if (tSkipAttrs) {
            val next = skipAttrs()
            if (next < 0) { emitEof(); done = true } else state = next
          } else {
            val c = consume()
            if (isWs(c)) ()
            else if (c == '/') state = S_SELF_CLOSING_START_TAG
            else if (c == '>') state = emitTag()
            else if (c == -1) { emitRawWithoutToken(inclusive = false); emitEof(); done = true }
            else { startAttr(); state = S_ATTR_NAME }
          }

        case S_ATTR_NAME =>
          var spin = true
          while (spin) {
            val c = consume()
            if (isWs(c)) { finishAttrName(); state = S_AFTER_ATTR_NAME; spin = false }
            else if (c == '=') { finishAttrName(); state = S_BEFORE_ATTR_VALUE; spin = false }
            else if (c == '/') { finishAttrName(); finishAttr(); state = S_SELF_CLOSING_START_TAG; spin = false }
            else if (c == '>') { finishAttrName(); finishAttr(); state = emitTag(); spin = false }
            else if (c == -1) { emitRawWithoutToken(inclusive = false); emitEof(); done = true; spin = false }
          }

        case S_AFTER_ATTR_NAME =>
          val c = consume()
          if (isWs(c)) ()
          else if (c == '/') { finishAttr(); state = S_SELF_CLOSING_START_TAG }
          else if (c == '=') state = S_BEFORE_ATTR_VALUE
          else if (c == '>') { finishAttr(); state = emitTag() }
          else if (c == -1) { emitRawWithoutToken(inclusive = false); emitEof(); done = true }
          else { finishAttr(); startAttr(); state = S_ATTR_NAME }

        case S_BEFORE_ATTR_VALUE =>
          val c = consume()
          if (isWs(c)) ()
          else if (c == '"') { closingQuote = '"'; tokenPartStart = nextPos; state = S_ATTR_VALUE_DQ }
          else if (c == '\'') { closingQuote = '\''; tokenPartStart = nextPos; state = S_ATTR_VALUE_SQ }
          else if (c == '>') { finishAttr(); state = emitTag() }
          else if (c == -1) { emitRawWithoutToken(inclusive = false); emitEof(); done = true }
          else { reconsume(); tokenPartStart = nextPos; state = S_ATTR_VALUE_UNQ }

        case S_ATTR_VALUE_DQ =>
          if (consumeUntil('"')) {
            finishAttrValue(); finishAttr(); state = S_BEFORE_ATTR_NAME
          } else { emitRawWithoutToken(inclusive = false); emitEof(); done = true }

        case S_ATTR_VALUE_SQ =>
          if (consumeUntil('\'')) {
            finishAttrValue(); finishAttr(); state = S_BEFORE_ATTR_NAME
          } else { emitRawWithoutToken(inclusive = false); emitEof(); done = true }

        case S_ATTR_VALUE_UNQ =>
          var spin = true
          while (spin) {
            val c = consume()
            if (isWs(c)) { finishAttrValue(); finishAttr(); state = S_BEFORE_ATTR_NAME; spin = false }
            else if (c == '>') { finishAttrValue(); finishAttr(); state = emitTag(); spin = false }
            else if (c == -1) { emitRawWithoutToken(inclusive = false); emitEof(); done = true; spin = false }
          }

        // ---- comments ----
        case S_BOGUS_COMMENT =>
          if (consumeUntil('>')) {
            cTextEnd = pos; emitCurrentToken(inclusive = true); state = S_DATA
          } else { cTextEnd = pos; emitCurrentToken(inclusive = false); emitEof(); done = true }

        case S_COMMENT_START =>
          val c = consume()
          if (c == '-') { cTextEnd = pos; state = S_COMMENT_START_DASH }
          else if (c == '>') { cTextEnd = pos; emitCurrentToken(inclusive = true); state = S_DATA }
          else { reconsume(); state = S_COMMENT }

        case S_COMMENT =>
          val c = consume()
          if (c == '-') { cTextEnd = pos; state = S_COMMENT_END_DASH }
          else if (c == '<') state = S_COMMENT_LT
          else if (c == -1) { cTextEnd = pos; emitCurrentToken(inclusive = false); emitEof(); done = true }
          else cTextEnd = pos

        case S_COMMENT_START_DASH =>
          val c = consume()
          if (c == '-') state = S_COMMENT_END
          else if (c == '>') { emitCurrentToken(inclusive = true); state = S_DATA }
          else if (c == -1) { emitCurrentToken(inclusive = false); emitEof(); done = true }
          else { reconsume(); state = S_COMMENT }

        case S_COMMENT_END_DASH =>
          val c = consume()
          if (c == '-') state = S_COMMENT_END
          else if (c == -1) { emitCurrentToken(inclusive = false); emitEof(); done = true }
          else { reconsume(); state = S_COMMENT }

        case S_COMMENT_END =>
          val c = consume()
          if (c == '>') { emitCurrentToken(inclusive = true); state = S_DATA }
          else if (c == '!') state = S_COMMENT_END_BANG
          else if (c == '-') cTextEnd += 1
          else if (c == -1) { emitCurrentToken(inclusive = false); emitEof(); done = true }
          else { cTextEnd += 2; reconsume(); state = S_COMMENT }

        case S_COMMENT_LT =>
          val c = consume()
          if (c == '!') { cTextEnd = pos; state = S_COMMENT_LT_BANG }
          else if (c == '<') cTextEnd = pos
          else if (c == -1) { cTextEnd = pos; reconsume(); state = S_COMMENT }
          else { cTextEnd = pos; reconsume(); state = S_COMMENT }

        case S_COMMENT_LT_BANG =>
          val c = consume()
          if (c == '-') { cTextEnd = pos; state = S_COMMENT_LT_BANG_DASH }
          else if (c == -1) { cTextEnd = pos; reconsume(); state = S_COMMENT }
          else { cTextEnd = pos; reconsume(); state = S_COMMENT }

        case S_COMMENT_LT_BANG_DASH =>
          val c = consume()
          if (c == '-') state = S_COMMENT_LT_BANG_DASH_DASH
          else { reconsume(); state = S_COMMENT_END_DASH }

        case S_COMMENT_LT_BANG_DASH_DASH =>
          consume()
          reconsume(); state = S_COMMENT_END

        case S_COMMENT_END_BANG =>
          val c = consume()
          if (c == '-') { cTextEnd += 3; state = S_COMMENT_END_DASH }
          else if (c == '>') { emitCurrentToken(inclusive = true); state = S_DATA }
          else if (c == -1) { emitCurrentToken(inclusive = false); emitEof(); done = true }
          else { cTextEnd += 3; reconsume(); state = S_COMMENT }

        // ---- doctype ----
        case S_DOCTYPE =>
          val c = consume()
          if (isWs(c)) state = S_BEFORE_DOCTYPE_NAME
          else if (c == '>') { createDoctype(); dForceQuirks = true; emitCurrentToken(inclusive = true); state = S_DATA }
          else if (c == -1) { createDoctype(); dForceQuirks = true; emitCurrentToken(inclusive = false); emitEof(); done = true }
          else { reconsume(); state = S_BEFORE_DOCTYPE_NAME }

        case S_BEFORE_DOCTYPE_NAME =>
          val c = consume()
          if (isWs(c)) ()
          else if (c == '>') { createDoctype(); dForceQuirks = true; emitCurrentToken(inclusive = true); state = S_DATA }
          else if (c == -1) { createDoctype(); dForceQuirks = true; emitCurrentToken(inclusive = false); emitEof(); done = true }
          else { createDoctype(); tokenPartStart = pos; state = S_DOCTYPE_NAME }

        case S_DOCTYPE_NAME =>
          val c = consume()
          if (isWs(c)) { dNameStart = tokenPartStart; dNameEnd = pos; dHasName = true; state = S_AFTER_DOCTYPE_NAME }
          else if (c == '>') { dNameStart = tokenPartStart; dNameEnd = pos; dHasName = true; emitCurrentToken(inclusive = true); state = S_DATA }
          else if (c == -1) { dNameStart = tokenPartStart; dNameEnd = pos; dHasName = true; dForceQuirks = true; emitCurrentToken(inclusive = false); emitEof(); done = true }
          else ()

        case S_AFTER_DOCTYPE_NAME =>
          val c = consume()
          if (isWs(c)) ()
          else if (c == '>') { emitCurrentToken(inclusive = true); state = S_DATA }
          else if (c == -1) { dForceQuirks = true; emitCurrentToken(inclusive = false); emitEof(); done = true }
          else if (seq("PUBLIC", ignoreCase = true)) state = S_AFTER_DT_PUBLIC_KW
          else if (seq("SYSTEM", ignoreCase = true)) state = S_AFTER_DT_SYSTEM_KW
          else { dForceQuirks = true; state = S_BOGUS_DOCTYPE }

        case S_AFTER_DT_PUBLIC_KW =>
          val c = consume()
          if (isWs(c)) state = S_BEFORE_DT_PUBLIC_ID
          else if (c == '"') { closingQuote = '"'; tokenPartStart = nextPos; state = S_DT_PUBLIC_ID }
          else if (c == '\'') { closingQuote = '\''; tokenPartStart = nextPos; state = S_DT_PUBLIC_ID }
          else if (c == '>') { dForceQuirks = true; emitCurrentToken(inclusive = true); state = S_DATA }
          else if (c == -1) { dForceQuirks = true; emitCurrentToken(inclusive = false); emitEof(); done = true }
          else { dForceQuirks = true; state = S_BOGUS_DOCTYPE }

        case S_AFTER_DT_SYSTEM_KW =>
          val c = consume()
          if (isWs(c)) state = S_BEFORE_DT_SYSTEM_ID
          else if (c == '"') { closingQuote = '"'; tokenPartStart = nextPos; state = S_DT_SYSTEM_ID }
          else if (c == '\'') { closingQuote = '\''; tokenPartStart = nextPos; state = S_DT_SYSTEM_ID }
          else if (c == '>') { dForceQuirks = true; emitCurrentToken(inclusive = true); state = S_DATA }
          else if (c == -1) { dForceQuirks = true; emitCurrentToken(inclusive = false); emitEof(); done = true }
          else { dForceQuirks = true; state = S_BOGUS_DOCTYPE }

        case S_BEFORE_DT_PUBLIC_ID =>
          val c = consume()
          if (isWs(c)) ()
          else if (c == '"') { closingQuote = '"'; tokenPartStart = nextPos; state = S_DT_PUBLIC_ID }
          else if (c == '\'') { closingQuote = '\''; tokenPartStart = nextPos; state = S_DT_PUBLIC_ID }
          else if (c == '>') { dForceQuirks = true; emitCurrentToken(inclusive = true); state = S_DATA }
          else if (c == -1) { dForceQuirks = true; emitCurrentToken(inclusive = false); emitEof(); done = true }
          else { dForceQuirks = true; state = S_BOGUS_DOCTYPE }

        case S_BEFORE_DT_SYSTEM_ID =>
          val c = consume()
          if (isWs(c)) ()
          else if (c == '"') { closingQuote = '"'; tokenPartStart = nextPos; state = S_DT_SYSTEM_ID }
          else if (c == '\'') { closingQuote = '\''; tokenPartStart = nextPos; state = S_DT_SYSTEM_ID }
          else if (c == '>') { dForceQuirks = true; emitCurrentToken(inclusive = true); state = S_DATA }
          else if (c == -1) { dForceQuirks = true; emitCurrentToken(inclusive = false); emitEof(); done = true }
          else { dForceQuirks = true; state = S_BOGUS_DOCTYPE }

        case S_DT_PUBLIC_ID =>
          val c = consume()
          if (c == closingQuote) { dPublicStart = tokenPartStart; dPublicEnd = pos; dHasPublic = true; state = S_AFTER_DT_PUBLIC_ID }
          else if (c == '>') { dPublicStart = tokenPartStart; dPublicEnd = pos; dHasPublic = true; dForceQuirks = true; emitCurrentToken(inclusive = true); state = S_DATA }
          else if (c == -1) { dPublicStart = tokenPartStart; dPublicEnd = pos; dHasPublic = true; dForceQuirks = true; emitCurrentToken(inclusive = false); emitEof(); done = true }
          else ()

        case S_DT_SYSTEM_ID =>
          val c = consume()
          if (c == closingQuote) { dSystemStart = tokenPartStart; dSystemEnd = pos; dHasSystem = true; state = S_AFTER_DT_SYSTEM_ID }
          else if (c == '>') { dSystemStart = tokenPartStart; dSystemEnd = pos; dHasSystem = true; dForceQuirks = true; emitCurrentToken(inclusive = true); state = S_DATA }
          else if (c == -1) { dSystemStart = tokenPartStart; dSystemEnd = pos; dHasSystem = true; dForceQuirks = true; emitCurrentToken(inclusive = false); emitEof(); done = true }
          else ()

        case S_AFTER_DT_PUBLIC_ID =>
          val c = consume()
          if (isWs(c)) state = S_BETWEEN_DT_PUBLIC_SYSTEM
          else if (c == '>') { emitCurrentToken(inclusive = true); state = S_DATA }
          else if (c == '"') { closingQuote = '"'; tokenPartStart = nextPos; state = S_DT_SYSTEM_ID }
          else if (c == '\'') { closingQuote = '\''; tokenPartStart = nextPos; state = S_DT_SYSTEM_ID }
          else if (c == -1) { dForceQuirks = true; emitCurrentToken(inclusive = false); emitEof(); done = true }
          else { dForceQuirks = true; state = S_BOGUS_DOCTYPE }

        case S_AFTER_DT_SYSTEM_ID =>
          val c = consume()
          if (isWs(c)) ()
          else if (c == '>') { emitCurrentToken(inclusive = true); state = S_DATA }
          else if (c == -1) { dForceQuirks = true; emitCurrentToken(inclusive = false); emitEof(); done = true }
          else state = S_BOGUS_DOCTYPE

        case S_BETWEEN_DT_PUBLIC_SYSTEM =>
          val c = consume()
          if (isWs(c)) ()
          else if (c == '>') { emitCurrentToken(inclusive = true); state = S_DATA }
          else if (c == '"') { closingQuote = '"'; tokenPartStart = nextPos; state = S_DT_SYSTEM_ID }
          else if (c == '\'') { closingQuote = '\''; tokenPartStart = nextPos; state = S_DT_SYSTEM_ID }
          else if (c == -1) { dForceQuirks = true; emitCurrentToken(inclusive = false); emitEof(); done = true }
          else { dForceQuirks = true; state = S_BOGUS_DOCTYPE }

        case S_BOGUS_DOCTYPE =>
          if (consumeUntil('>')) { emitCurrentToken(inclusive = true); state = S_DATA }
          else { emitCurrentToken(inclusive = false); emitEof(); done = true }
      }
    }
  }

  /** Scan-mode attribute walker (the tag scanner's attribute handling):
    * same grammar as the S_ATTR_* states — identical tag-end positions,
    * quote semantics, and self-closing detection — but records no
    * attribute outlines and runs as one tight loop. Returns the next
    * state, or -1 at EOF (raw already flushed; caller emits EOF).
    */
  private def skipAttrs(): Int = {
    // modes: 0 between attrs, 1 in attr name, 2 after attr name,
    //        3 before value, 4 in unquoted value
    var mode = 0
    while (true) {
      val c = consume()
      if (c == -1) { emitRawWithoutToken(inclusive = false); return -1 }
      if (mode <= 2) {
        if (c == '>') return emitTag()
        else if (c == '/') {
          // self-closing only when '/' is immediately followed by '>'
          val n = consume()
          if (n == '>') { tSelfClosing = true; return emitTag() }
          else if (n == -1) { emitRawWithoutToken(inclusive = false); return -1 }
          else { reconsume(); mode = 0 }
        }
        else if (isWs(c)) { if (mode == 1) mode = 2 }
        else if (c == '=') mode = if (mode == 0) 1 else 3 // leading '=' is a name char
        else mode = 1
      } else if (mode == 3) {
        if (isWs(c)) ()
        else if (c == '>') return emitTag()
        else if (c == '"') {
          if (!consumeUntil('"')) { emitRawWithoutToken(inclusive = false); return -1 }
          mode = 0
        } else if (c == '\'') {
          if (!consumeUntil('\'')) { emitRawWithoutToken(inclusive = false); return -1 }
          mode = 0
        } else mode = 4
      } else { // unquoted value: quotes, '/', '=' are value characters
        if (isWs(c)) mode = 0
        else if (c == '>') return emitTag()
      }
    }
    -1 // unreachable
  }

  @inline private def consume(): Int = {
    val c = if (nextPos < len) input(nextPos) & 0xff else -1
    nextPos += 1
    c
  }

  @inline private def reconsume(): Unit = nextPos -= 1

  /** Shared body of the four `*_end_tag_name` states (rcdata / rawtext /
    * script / script-escaped). Returns the next state, or -1 at EOF.
    */
  private def textEndTagNameState(textSt: Int, self: Int): Int = {
    val c = consume()
    if (isWs(c)) {
      if (isAppropriateEndTag) { finishTagName(); S_BEFORE_ATTR_NAME }
      else { emitText(); reconsume(); textSt }
    } else if (c == '/') {
      if (isAppropriateEndTag) { finishTagName(); S_SELF_CLOSING_START_TAG }
      else { emitText(); reconsume(); textSt }
    } else if (c == '>') {
      if (isAppropriateEndTag) { finishTagName(); emitTag() }
      else { emitText(); reconsume(); textSt }
    } else if (isAlpha(c)) { updateTagNameHash(); self }
    else if (c == -1) { emitText(); emitEof(); -1 }
    else { emitText(); reconsume(); textSt }
  }
}

object Lexer {
  /** Little-endian long view over byte arrays for the SWAR memchr. */
  private[core] val LongView: java.lang.invoke.VarHandle =
    java.lang.invoke.MethodHandles.byteArrayViewVarHandle(
      classOf[Array[Long]], java.nio.ByteOrder.LITTLE_ENDIAN)

  /** Range-bounded SWAR memchr (same zero-byte trick as the lexer's
    * internal [[Lexer.indexOf]]): first index of `b` in
    * `input[from, until)`, or -1. Shared with the dispatcher's
    * class-token probe, where an early-exit byte loop defeats
    * auto-vectorization just like in the lexer hot path.
    */
  private[graft] def memchrRange(input: Array[Byte], b: Int, from: Int, until: Int): Int = {
    var i = from
    val limit = until - 8
    if (i <= limit) {
      val pattern = 0x0101010101010101L * (b & 0xffL)
      while (i <= limit) {
        val w = (LongView.get(input, i): Long) ^ pattern
        val found = (w - 0x0101010101010101L) & ~w & 0x8080808080808080L
        if (found != 0L)
          return i + (java.lang.Long.numberOfTrailingZeros(found) >> 3)
        i += 8
      }
    }
    // unsigned compare: the SWAR half matches b & 0xff, and for b in
    // 128..255 a signed `input(i) == b` tail would disagree with it —
    // results must not depend on whether the match lands in the word
    // loop or the tail
    while (i < until) { if ((input(i) & 0xff) == (b & 0xff)) return i; i += 1 }
    -1
  }

  /** Tag-name delimiters (whitespace, '/', '>'): one load classifies the
    * common "another name char" case in the S_TAG_NAME spin loop.
    */
  private[core] val NameDelim: Array[Boolean] = {
    val t = new Array[Boolean](256)
    t(' ') = true; t('\n') = true; t('\r') = true; t('\t') = true; t(0x0c) = true
    t('/') = true; t('>') = true
    t
  }
}

/** Scan-mode policy table: must a start tag with this name have its
  * attributes recorded? True when the selector program could match it
  * (matched elements expose attributes to handlers) or an attribute
  * predicate targets it. The lexer additionally forces recording for all
  * foreign-content tags and never records end-tag attributes.
  *
  * A concrete final class (not a trait): the check runs once per start
  * tag inside the lexer's hottest dispatch, and a monomorphic call the
  * JIT can inline measurably beats an interface call there.
  *
  * Every selector type name is keyed by its [[NameKey]], so names the
  * hash can't encode (custom elements, non-ASCII names) take the same
  * probe as the rest. A key collision only records attributes a tag did
  * not need. `hashes` and `names` are kept for the dump alone: FNV keys
  * cannot be decoded back to names.
  */
final class AttrNeedTable private (val allTags: Boolean, keys: LongIndex,
                                   hashes: Seq[Long], names: Seq[String]) {
  /** Debug views for the selectors_ast-style dump (graft.DumpAst). */
  private[graft] def dumpHashes: Seq[Long] = hashes.distinct
  private[graft] def dumpNames: Seq[String] = names

  def needsAttrs(nameKey: Long): Boolean = allTags || keys.get(nameKey) >= 0
}

object AttrNeedTable {
  /** Build from the selector type names: 5-bit hashes of the names the
    * hash encodes, lowercase strings of the rest (allTags forces every
    * tag).
    */
  def apply(allTags: Boolean, hashes: Seq[Long], names: Seq[String]): AttrNeedTable = {
    val keys = new LongIndex
    hashes.foreach(keys.getOrAdd)
    names.foreach(n => keys.getOrAdd(NameKey.of(n)))
    new AttrNeedTable(allTags, keys, hashes, names)
  }

  /** Record attributes for no tag at all (test hook). */
  val SkipAll: AttrNeedTable = apply(allTags = false, Nil, Nil)
}
