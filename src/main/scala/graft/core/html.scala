package graft.core

/** Text parsing contexts of the HTML5 tokenizer.
  *
  * Mirrors the 6-valued `TextType` of the reference
  * (/root/reference/src/html/text_type.rs:21-49).
  */
object TextType {
  final val Data = 0
  final val PlainText = 1
  final val RCData = 2
  final val RawText = 3
  final val ScriptData = 4
  final val CDataSection = 5

  def name(t: Int): String = t match {
    case Data         => "Data"
    case PlainText    => "PlainText"
    case RCData       => "RCData"
    case RawText      => "RawText"
    case ScriptData   => "ScriptData"
    case CDataSection => "CDataSection"
    case _            => "Unknown"
  }
}

/** Element namespaces (/root/reference/src/html/namespace.rs:3-8). */
object Ns {
  final val Html = 0
  final val Svg = 1
  final val MathML = 2
}

/** Tag-name dictionary encoding: 5 bits per char, <=12 chars, digits 1-6
  * reserved as 0-5, letters a-z as 6-31. Integer compare replaces string
  * compare for tag names. Re-implemented from the reference
  * (/root/reference/src/html/local_name.rs:37-133); constants validated
  * against /root/reference/src/html/tag.rs:19-100 in TagHashSpec.
  */
object TagHash {
  /** Sentinel for names not representable in the encoding (all bits set). */
  final val Empty: Long = -1L

  // byte -> 5-bit code + 1 (0 = unrepresentable): one load replaces the
  // four-compare ladder in the per-name-character hot path
  private val Enc5: Array[Byte] = {
    val t = new Array[Byte](256)
    var c = 'a'.toInt
    while (c <= 'z') { t(c) = (((c & 0x1f) + 5) + 1).toByte; t(c ^ 0x20) = t(c); c += 1 }
    c = '1'.toInt
    while (c <= '6') { t(c) = (((c & 0x0f) - 1) + 1).toByte; c += 1 }
    t
  }

  /** Incremental update with one byte; returns Empty once unrepresentable. */
  @inline def update(h: Long, ch: Byte): Long = {
    val v = Enc5(ch & 0xff)
    if (v != 0 && (h >>> 59) == 0L) (h << 5) | (v - 1L)
    else Empty
  }

  /** Hash of a name given as a string; non-ASCII chars are unrepresentable
    * (their low byte must not alias a letter: `š` is U+0161).
    */
  def of(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      h = if (c < 0x80) update(h, c.toByte) else Empty
      i += 1
    }
    h
  }

  // Precomputed hashes for the tags the engine special-cases
  // (values match /root/reference/src/html/tag.rs:19-100).
  final val A = of("a")
  final val Area = of("area")
  final val B = of("b")
  final val Base = of("base")
  final val Basefont = of("basefont")
  final val Bgsound = of("bgsound")
  final val Big = of("big")
  final val Blockquote = of("blockquote")
  final val Body = of("body")
  final val Br = of("br")
  final val Center = of("center")
  final val Code = of("code")
  final val Col = of("col")
  final val Dd = of("dd")
  final val Desc = of("desc")
  final val Div = of("div")
  final val Dl = of("dl")
  final val Dt = of("dt")
  final val Em = of("em")
  final val Embed = of("embed")
  final val Font = of("font")
  final val ForeignObject = of("foreignObject")
  final val Frameset = of("frameset")
  final val H1 = of("h1")
  final val H2 = of("h2")
  final val H3 = of("h3")
  final val H4 = of("h4")
  final val H5 = of("h5")
  final val H6 = of("h6")
  final val Head = of("head")
  final val Hr = of("hr")
  final val I = of("i")
  final val Iframe = of("iframe")
  final val Img = of("img")
  final val Input = of("input")
  final val Keygen = of("keygen")
  final val Li = of("li")
  final val Link = of("link")
  final val Listing = of("listing")
  final val Math = of("math")
  final val Menu = of("menu")
  final val Meta = of("meta")
  final val Mi = of("mi")
  final val Mn = of("mn")
  final val Mo = of("mo")
  final val Ms = of("ms")
  final val Mtext = of("mtext")
  final val Nobr = of("nobr")
  final val Noembed = of("noembed")
  final val Noframes = of("noframes")
  final val Noscript = of("noscript")
  final val Ol = of("ol")
  final val P = of("p")
  final val Param = of("param")
  final val Plaintext = of("plaintext")
  final val Pre = of("pre")
  final val Ruby = of("ruby")
  final val S = of("s")
  final val Script = of("script")
  final val Select = of("select")
  final val Small = of("small")
  final val Source = of("source")
  final val Span = of("span")
  final val Strike = of("strike")
  final val Strong = of("strong")
  final val Style = of("style")
  final val Sub = of("sub")
  final val Sup = of("sup")
  final val Svg = of("svg")
  final val Table = of("table")
  final val Template = of("template")
  final val Textarea = of("textarea")
  final val Title = of("title")
  final val Track = of("track")
  final val Tt = of("tt")
  final val U = of("u")
  final val Ul = of("ul")
  final val Var = of("var")
  final val Xmp = of("xmp")
  final val Wbr = of("wbr")

  /** Decode a hash back to the lowercase tag name (debug / error messages). */
  def toName(hash: Long): String = {
    if (hash == Empty) return "n/a"
    val sb = new StringBuilder
    var h = hash
    while ({
      val v = (h & 31).toInt
      sb.insert(0, if (v >= 6) ('a' + v - 6).toChar else ('1' + v).toChar)
      h >>>= 5
      h != 0
    }) ()
    sb.toString
  }
}

/** The one tag-name key, the analog of the reference's `LocalName`
  * (`src/html/local_name.rs:139-216`): the [[TagHash]] when
  * the hash can encode the name, else the name's ASCII-case-folded
  * FNV-1a with bit 63 set. Valid hashes are >= 6 and the FNV key is never
  * 0, so 0 stays free as [[LongIndex]]'s empty slot.
  *
  * Equal names always give equal keys; the converse is not structural.
  * Bit 63 biases FNV keys away from hashes, but a 13-char dashless name
  * whose first letter is c..j packs with bit 63 set (`TagHash.update`
  * checks `h >>> 59` before its shift, as the reference does), so keys
  * are a necessary condition only: whoever must be exact confirms a hit
  * by hash, or by a case-folded compare of the name bytes.
  */
object NameKey {
  /** Key of the name `in(s until e)` whose [[TagHash]] is `hash`; only
    * names the hash can't encode pay a pass over their bytes.
    */
  @inline def of(hash: Long, in: Array[Byte], s: Int, e: Int): Long =
    if (hash != TagHash.Empty) hash else fnv(in, s, e) | Long.MinValue

  /** Key of a lowercase selector name; a document tag spelled with the
    * same UTF-8 bytes, in any ASCII case, gets the same key.
    */
  def of(name: String): Long = {
    val b = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    of(TagHash.of(name), b, 0, b.length)
  }

  /** ASCII-case-folded FNV-1a of `in(s until e)`. */
  private def fnv(in: Array[Byte], s: Int, e: Int): Long = {
    var f = 0xcbf29ce484222325L
    var i = s
    while (i < e) {
      val b = in(i)
      val c = if (b >= 'A' && b <= 'Z') b + 32 else b & 0xff
      f = (f ^ c) * 0x100000001b3L
      i += 1
    }
    f
  }
}

object HtmlUtil {
  /** ASCII-case-insensitive equality of an input slice vs a lowercase literal. */
  def eqIgnoreCase(input: Array[Byte], start: Int, end: Int, lower: String): Boolean = {
    if (end - start != lower.length) return false
    var i = 0
    while (i < lower.length) {
      val c = input(start + i) & 0xff
      val lc = if (c >= 'A' && c <= 'Z') c + 32 else c
      if (lc != lower.charAt(i)) return false
      i += 1
    }
    true
  }

  def lowerAscii(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      i += 1
    }
    sb.toString
  }

  /** HTML void elements: never pushed on the open-element stack
    * (/root/reference/src/selectors_vm/stack.rs:13-41).
    */
  def isVoidElement(nameHash: Long): Boolean = {
    import TagHash._
    nameHash == Area || nameHash == Base || nameHash == Basefont ||
    nameHash == Bgsound || nameHash == Br || nameHash == Col ||
    nameHash == Embed || nameHash == Hr || nameHash == Img ||
    nameHash == Input || nameHash == Keygen || nameHash == Link ||
    nameHash == Meta || nameHash == Param || nameHash == Source ||
    nameHash == Track || nameHash == Wbr
  }
}
