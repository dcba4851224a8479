package graft.spark.ops

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow,
  ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext,
  ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A quality-signal struct over one text column: one [[QualityKernel]]
  * call per evaluation. The generated code calls the kernel's static
  * method (the [[graft.spark.RollingHash]] shape), so the funnel runs
  * inside its whole-stage-codegen stage with no lambda and no
  * per-element expression. Never null: a null text gives the struct the
  * column formulation gives, whose `size(null)` is null, or -1 under
  * Spark's legacy size-of-null rule (`legacySizeOfNull`, fixed at
  * construction like Catalyst's `Size`). Field nullability follows the
  * same formulation, so schemas do not change.
  */
sealed abstract class QualitySignals extends UnaryExpression with ImplicitCastInputTypes {
  def legacySizeOfNull: Boolean

  /** Size-like fields are nullable only for a nullable text outside the legacy rule. */
  protected def sizeNullable: Boolean = child.nullable && !legacySizeOfNull
  protected def compute(text: UTF8String): InternalRow
  /** The Java call of the kernel method on the text expression `text`. */
  protected def kernelCall(text: String): String

  override def inputTypes: Seq[StringType] = Seq(StringType)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val text = s"${c.isNull} ? null : ${c.value}"
    ev.copy(code = code"""${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.spark.ops.QualityKernel.${kernelCall(text)};""", isNull = FalseLiteral)
  }
}

/** C4 line cleaning (t23): struct(n_lines, n_kept, clean_text, kept). */
case class C4Signals(child: Expression, minWords: Int, minKeptLines: Int,
    legacySizeOfNull: Boolean = SQLConf.get.legacySizeOfNull) extends QualitySignals {
  override def dataType: DataType = StructType(Seq(
    StructField("n_lines", IntegerType, sizeNullable),
    StructField("n_kept", IntegerType, sizeNullable),
    StructField("clean_text", StringType, child.nullable),
    StructField("kept", BooleanType, child.nullable)))
  override protected def compute(text: UTF8String): InternalRow =
    QualityKernel.c4(text, minWords, minKeptLines, legacySizeOfNull)
  override protected def kernelCall(text: String): String =
    s"c4($text, $minWords, $minKeptLines, $legacySizeOfNull)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "c4_signals"
}

/** Gopher document battery (t25): struct(n_words, mean_wlen, sym_frac,
  * bullet_frac, ellipsis_frac, alpha_frac, n_stop, kept). */
case class GopherSignals(child: Expression, minWords: Int, maxWords: Int,
    legacySizeOfNull: Boolean = SQLConf.get.legacySizeOfNull) extends QualitySignals {
  override def dataType: DataType = StructType(
    StructField("n_words", IntegerType, sizeNullable) +:
      Seq("mean_wlen", "sym_frac", "bullet_frac", "ellipsis_frac", "alpha_frac")
        .map(StructField(_, DoubleType, nullable = true)) :+
      StructField("n_stop", IntegerType, sizeNullable) :+
      StructField("kept", BooleanType, nullable = true))
  override protected def compute(text: UTF8String): InternalRow =
    QualityKernel.gopher(text, minWords, maxWords, legacySizeOfNull)
  override protected def kernelCall(text: String): String =
    s"gopher($text, $minWords, $maxWords, $legacySizeOfNull)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "gopher_signals"
}

/** Gopher duplicate lines (t24): struct(n_lines, n_dup_lines,
  * dup_line_frac, dup_char_frac, kept). */
case class DupLineSignals(child: Expression,
    legacySizeOfNull: Boolean = SQLConf.get.legacySizeOfNull) extends QualitySignals {
  override def dataType: DataType = StructType(Seq(
    StructField("n_lines", IntegerType, sizeNullable),
    StructField("n_dup_lines", IntegerType, nullable = true),
    StructField("dup_line_frac", DoubleType, nullable = true),
    StructField("dup_char_frac", DoubleType, nullable = true),
    StructField("kept", BooleanType, nullable = true)))
  override protected def compute(text: UTF8String): InternalRow =
    QualityKernel.dupLines(text, legacySizeOfNull)
  override protected def kernelCall(text: String): String =
    s"dupLines($text, $legacySizeOfNull)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "dup_line_signals"
}

/** The quality funnel's row kernel: each signal family is one pass over
  * the text decoded once to a Java String (the decoding Spark's `split`
  * applies, so invalid UTF-8 reads as U+FFFD exactly as there). Lines
  * are the pieces between '\n'; Gopher words the pieces between runs of
  * ' '/'\n', leading and trailing empty pieces included (Java
  * `split(_, -1)`); lengths count code points; ratios round HALF_UP to
  * 4 places as Spark's `round` does.
  */
object QualityKernel {

  private def row(values: Any*): InternalRow = new GenericInternalRow(values.toArray)

  /** `round(n / d, 4)` as Spark rounds a double (d > 0, so n / d is finite). */
  private def frac(n: Int, d: Int): Double =
    JBigDecimal.valueOf(n.toDouble / d).setScale(4, RoundingMode.HALF_UP).doubleValue

  private val Brace = UTF8String.fromString("{")
  private val Lorem = UTF8String.fromString("lorem ipsum")
  private val StopWords = Array("the", "be", "to", "of", "and", "that", "have", "with")

  /** C4 (Raffel et al. 2020): a line survives iff it has at least
    * `minWords` space-separated pieces, ends in . ! ? or " and does not
    * contain "javascript"; the document iff it has no '{', no "lorem
    * ipsum" and at least `minKeptLines` surviving lines.
    */
  def c4(text: UTF8String, minWords: Int, minKeptLines: Int,
      legacySizeOfNull: Boolean): InternalRow = {
    if (text == null)
      return if (legacySizeOfNull) row(-1, -1, null, false) else row(null, null, null, null)
    val s = text.toString
    val clean = new java.lang.StringBuilder(s.length)
    var nLines = 0
    var nKept = 0
    var a = 0
    while (a <= s.length) {
      var b = s.indexOf('\n', a)
      if (b < 0) b = s.length
      nLines += 1
      if (c4Keeps(s, a, b, minWords)) {
        if (nKept > 0) clean.append('\n')
        clean.append(s, a, b)
        nKept += 1
      }
      a = b + 1
    }
    val docOk = !text.contains(Brace) && !text.contains(Lorem)
    row(nLines, nKept, UTF8String.fromString(clean.toString), docOk && nKept >= minKeptLines)
  }

  /** The C4 line rule on s[a, b). */
  private def c4Keeps(s: String, a: Int, b: Int, minWords: Int): Boolean = {
    var pieces = 1
    var i = a
    while (i < b) {
      val c = s.charAt(i)
      if (c == ' ') pieces += 1
      else if (c == 'j' && s.startsWith("javascript", i)) return false
      i += 1
    }
    pieces >= minWords && endsTerminal(s, a, b)
  }

  private def isTerminal(c: Char): Boolean = c == '.' || c == '!' || c == '?' || c == '"'

  /** `[.!?"]$` on s[a, b): Java's `$` also matches before one final
    * line terminator other than '\n' (which never occurs in a line). */
  private def endsTerminal(s: String, a: Int, b: Int): Boolean = b > a && {
    val last = s.charAt(b - 1)
    isTerminal(last) || (b - a >= 2 && isTerminal(s.charAt(b - 2)) &&
      (last == '\r' || last == '\u0085' || last == '\u2028' || last == '\u2029'))
  }

  /** Gopher battery (Rae et al. 2021, table A1): word-count band,
    * mean word length in [3, 10], '#' or '...' words <= 0.1, bullet
    * lines <= 0.9, ellipsis-ended lines <= 0.3, words with an ASCII
    * letter >= 0.8, and at least 2 of the 8 stopwords. `kept` compares
    * the rounded ratios.
    */
  def gopher(text: UTF8String, minWords: Int, maxWords: Int,
      legacySizeOfNull: Boolean): InternalRow = {
    if (text == null)
      return if (legacySizeOfNull) row(-1, null, 1.0, 1.0, 1.0, 1.0, -1, false)
      else new GenericInternalRow(8)
    val s = text.toString
    val n = s.length
    var nWords, wordChars, nSym, nAlpha, nStop = 0
    var nLines, nBullet, nEll = 0
    var line = 0 // start of the current line
    var w = 0    // start of the current word
    var i = 0
    var more = true
    while (more) {
      var alpha = false
      var dots = 0
      var ellipsis = false
      while (i < n && s.charAt(i) != ' ' && s.charAt(i) != '\n') {
        val c = s.charAt(i)
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) alpha = true
        if (c == '.') { dots += 1; if (dots >= 3) ellipsis = true } else dots = 0
        i += 1
      }
      val len = i - w
      nWords += 1
      wordChars += s.codePointCount(w, i)
      if (ellipsis || (len == 1 && s.charAt(w) == '#')) nSym += 1
      if (alpha) nAlpha += 1
      if (isStopWord(s, w, len)) nStop += 1
      // the separator run after the word; each '\n' in it ends a line
      more = i < n
      while (i < n && (s.charAt(i) == ' ' || s.charAt(i) == '\n')) {
        if (s.charAt(i) == '\n') {
          nLines += 1
          if (s.startsWith("- ", line)) nBullet += 1
          if (i - line >= 3 && s.startsWith("...", i - 3)) nEll += 1
          line = i + 1
        }
        i += 1
      }
      w = i
    }
    nLines += 1
    if (s.startsWith("- ", line)) nBullet += 1
    if (n - line >= 3 && s.startsWith("...", n - 3)) nEll += 1

    val meanW = frac(wordChars, nWords)
    val symF = frac(nSym, nWords)
    val bulF = frac(nBullet, nLines)
    val ellF = frac(nEll, nLines)
    val alpF = frac(nAlpha, nWords)
    row(nWords, meanW, symF, bulF, ellF, alpF, nStop,
      nWords >= minWords && nWords <= maxWords && meanW >= 3.0 && meanW <= 10.0 &&
        symF <= 0.1 && bulF <= 0.9 && ellF <= 0.3 && alpF >= 0.8 && nStop >= 2)
  }

  private def isStopWord(s: String, w: Int, len: Int): Boolean = {
    var k = 0
    while (k < StopWords.length) {
      if (StopWords(k).length == len && s.startsWith(StopWords(k), w)) return true
      k += 1
    }
    false
  }

  /** Gopher duplicate lines: the share of lines that equal another line
    * of the document (every copy counts) and the share of characters in
    * them; kept iff they are at most 0.30 and 0.20. Lines are grouped by
    * sorting (hash, line) keys, then by exact comparison inside each
    * equal-hash run, so the work is linear in the text plus a sort of
    * the line count.
    */
  def dupLines(text: UTF8String, legacySizeOfNull: Boolean): InternalRow = {
    if (text == null) return row(if (legacySizeOfNull) -1 else null, null, 0.0, 0.0, true)
    val s = text.toString
    val n = s.length
    var nLines = 1
    var p = s.indexOf('\n')
    while (p >= 0) { nLines += 1; p = s.indexOf('\n', p + 1) }
    // line k is s[start(k), start(k + 1) - 1)
    val start = new Array[Int](nLines + 1)
    val keys = new Array[Long](nLines)
    var k = 0
    var h = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == '\n') {
        keys(k) = (h.toLong << 32) | k
        k += 1
        start(k) = i + 1
        h = 0
      } else h = 31 * h + s.charAt(i)
      i += 1
    }
    java.util.Arrays.sort(keys)

    def lineOf(key: Long): Int = (key & 0xffffffffL).toInt
    def sameLine(x: Int, y: Int): Boolean = {
      val len = start(x + 1) - start(x)
      len == start(y + 1) - start(y) && s.regionMatches(start(x), s, start(y), len - 1)
    }
    var dupN, dupC = 0
    var g = 0
    while (g < nLines) {
      // keys[g, e) share a hash; move the copies of line(g) to keys[g, m)
      var e = g + 1
      while (e < nLines && (keys(e) >>> 32) == (keys(g) >>> 32)) e += 1
      while (g < e) {
        val rep = lineOf(keys(g))
        var m = g + 1
        var j = g + 1
        while (j < e) {
          if (sameLine(rep, lineOf(keys(j)))) {
            val t = keys(m); keys(m) = keys(j); keys(j) = t
            m += 1
          }
          j += 1
        }
        if (m - g >= 2) {
          dupN += m - g
          dupC += (m - g) * s.codePointCount(start(rep), start(rep + 1) - 1)
        }
        g = m
      }
    }
    val totC = s.codePointCount(0, n) - (nLines - 1)
    val dupF = frac(dupN, nLines)
    val charF = if (totC > 0) frac(dupC, totC) else 0.0
    row(nLines, dupN, dupF, charF, dupF <= 0.30 && charF <= 0.20)
  }
}
