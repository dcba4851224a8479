package graft.spark.ops

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The column formulation of the quality signals that the native kernel
  * replaced, kept verbatim as the reference for [[QualityKernelSpec]]:
  * Spark higher-order functions (interpreted lambdas) over split arrays.
  */
object HofQualitySignals {

  def c4Signals(text: Column, minWords: Int = 5, minKeptLines: Int = 3): Column = {
    val lines = split(text, "\n")
    val keptLines = filter(lines, l =>
      size(split(l, " ")) >= minWords &&
        l.rlike("[.!?\"]$") &&
        !l.contains("javascript"))
    val docOk = !text.contains("{") && !text.contains("lorem ipsum")
    struct(
      size(lines).as("n_lines"),
      size(keptLines).as("n_kept"),
      array_join(keptLines, "\n").as("clean_text"),
      (docOk && size(keptLines) >= minKeptLines).as("kept"))
  }

  def dupLineSignals(text: Column): Column = {
    val lines = split(text, "\n")
    // one fold over the SORTED line array (the t19/topTokenShare shape:
    // the lambda touches only its own state + element, so no outer
    // Column subtree is re-evaluated per element): a line in an
    // equal-run of length >= 2 is a duplicate; when a run REACHES 2 the
    // first copy is credited retroactively
    val folded = aggregate(array_sort(lines),
      struct(lit("").as("prev"), lit(0).as("run"),
        lit(0).as("dup_n"), lit(0).as("dup_c"), lit(0).as("tot_c")),
      (st, l) => {
        val run = when(l === st.getField("prev"), st.getField("run") + 1)
          .otherwise(lit(1))
        val add = when(run === 2, lit(2)).when(run > 2, lit(1)).otherwise(lit(0))
        struct(l.as("prev"), run.as("run"),
          (st.getField("dup_n") + add).as("dup_n"),
          (st.getField("dup_c") + add * length(l)).as("dup_c"),
          (st.getField("tot_c") + length(l)).as("tot_c"))
      })
    val nL = size(lines)
    val dupN = folded.getField("dup_n")
    val dupFrac = when(nL > 0,
      round(dupN.cast("double") / nL, 4)).otherwise(0.0)
    val charFrac = when(folded.getField("tot_c") > 0,
      round(folded.getField("dup_c").cast("double") / folded.getField("tot_c"), 4))
      .otherwise(0.0)
    struct(
      nL.as("n_lines"),
      dupN.as("n_dup_lines"),
      dupFrac.as("dup_line_frac"),
      charFrac.as("dup_char_frac"),
      (dupFrac <= 0.30 && charFrac <= 0.20).as("kept"))
  }

  def gopherQualitySignals(text: Column,
      minWords: Int = 15, maxWords: Int = 90): Column = {
    val words = split(text, "[ \n]+")
    val lines = split(text, "\n")
    val nW = size(words)
    val nL = size(lines)
    val wChars = aggregate(words, lit(0), (a, w) => a + length(w))
    val nSym = size(filter(words, w => w === "#" || w.contains("...")))
    val nBullet = size(filter(lines, l => l.startsWith("- ")))
    val nEll = size(filter(lines, l => l.endsWith("...")))
    val nAlpha = size(filter(words, w => w.rlike("[a-zA-Z]")))
    val nStop = size(filter(words, w =>
      w.isin("the", "be", "to", "of", "and", "that", "have", "with")))
    def frac(n: Column, d: Column) = round(n.cast("double") / d, 4)
    val meanW = frac(wChars, nW)
    val symF = frac(nSym, nW)
    val bulF = frac(nBullet, nL)
    val ellF = frac(nEll, nL)
    val alpF = frac(nAlpha, nW)
    struct(
      nW.as("n_words"), meanW.as("mean_wlen"), symF.as("sym_frac"),
      bulF.as("bullet_frac"), ellF.as("ellipsis_frac"),
      alpF.as("alpha_frac"), nStop.as("n_stop"),
      (nW >= minWords && nW <= maxWords &&
        meanW >= 3.0 && meanW <= 10.0 && symF <= 0.1 &&
        bulF <= 0.9 && ellF <= 0.3 && alpF >= 0.8 && nStop >= 2)
        .as("kept"))
  }
}

/** Differential spec: every [[TextOps]] quality-signal builder (native
  * kernel) gives the same schema, nullability included, and the same
  * value in every field, doubles bit for bit, as its
  * [[HofQualitySignals]] reference, on every row of the t23/t24/t25/p5
  * constructions over sf0.01 documents and on an adversarial list; in
  * generated code, interpreted, and under the legacy size-of-null rule.
  */
class QualityKernelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.01"
  private var spark: SparkSession = _
  private var adversarialDir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-quality-kernel")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // parquet, not a local relation: the optimizer would evaluate a
    // projection over local rows itself, bypassing the generated code
    val sp = spark; import sp.implicits._
    adversarialDir = java.nio.file.Files.createTempDirectory("qkernel").resolve("texts").toString
    val valid = adversarial.zipWithIndex.map { case (t, i) =>
      (i.toLong, Option(t).map(_.getBytes(UTF_8)).orNull)
    }
    val invalid = invalidUtf8.zipWithIndex.map { case (b, i) => (1000L + i, b) }
    (valid ++ invalid).toDF("doc_id", "bin")
      .select(col("doc_id"), col("bin").cast("string").as("text"))
      .repartition(2).write.parquet(adversarialDir)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val adversarial: Seq[String] = Seq(
    null, "", "\n", "\n\n\n", " ", "   ", " \n ", "\n \n", "a", "#", "...",
    "a line with five words.\n",
    "one two three four end.\r\nfive words end here now.\r\nthird line with five words.\r",
    "two returns after it.\r\r\nends in a return then text.\rx",
    "next line ends here now.\u0085\nline sep ends here now.\u2028\npara sep ends here now.\u2029",
    "a lone \r in the middle.\nends with a tab.\t\nquote ends \"the line\"",
    "  leading spaces before the words.\ndouble  spaces  between  the  words.\ntrailing space. ",
    "tab\tseparated\twords\tare\tone\tpiece.\ntabs\tand spaces mix here fine.",
    "emoji \uD83D\uDE00 in a line of words.\ncombining e\u0301 marks the of and.\n" +
      "\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00\n\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00\ne\u0301\ne\u0301",
    "# ## #... ...# . .. ... .... a...b\nthe # of ... and",
    "wait... what ... and...\nsoon...\n- bullet line\n-no bullet\n- \n-\n...",
    "Enable Javascript to view this line.\nenable javascript to view this line.\n" +
      "JAVASCRIPT is shouted in this line.\nthe word javascrip is cut here.",
    "THE The the BE be TO to OF of AND and THAT that HAVE have WITH with thE",
    "Lorem Ipsum is fine in this line.\nlorem ipsum kills the doc here.",
    "a { brace kills the document.\nthe rest of it is fine here.\nand a third fine line here.",
    // equal Java String hashes on different lines: Aa/BB, AaAa/BBBB/AaBB/BBAa
    "Aa\nBB\nAa\nAaAa\nBBBB\nAaBB\nBBAa\nAaAa",
    "x\nx\nx\nx\ny",
    "dup\ndup\ndup\n1\n2\n3\n4\n5\n6\n7",
    "\n\nsame\n\nsame\n",
    ("the of " * 50).trim,
    ("the and word " * 30).trim,
    ("the and words " * 5).trim,
    "short\nlines only\nno keepers",
    // 1/20000 = 5.0E-5: the sym fraction rounds HALF_UP to 1.0E-4
    ("#" +: Seq.fill(19999)("ab")).mkString(" "),
    (1 to 2000).map(i => s"line ${i % 7} of the document ends here.").mkString("\n"),
    ("- item with the words that have to be\n" * 40) + "... the end...",
    "12345 67890 the of 3.14 ... ###")

  private val invalidUtf8: Seq[Array[Byte]] = Seq(
    Array(0xff, 0xfe, 0x20, 'a', '.'),
    Array('a', 'b', 'c', 0x20, 0xc3, '\n', 0xe2, 0x80, 0x20, 'd', 'e', 'f', '.', '\n'),
    Array(0xc3, '{', 0x20, 'x', '.'),
    Array(0xed, 0xa0, 0x80, 0x20, 't', 'h', 'e', '\n', 0xed, 0xa0, 0x80, 0x20, 't', 'h', 'e'),
    Array(0xc0, 0xaf, '.', '.', '.', 0x80, 0x80, '\n', 0xc0, 0xaf, '.', '.', '.', 0x80, 0x80),
    Array(0xf0, 0x9f, 0x98, 0x20, 'o', 'f', 0x20, 't', 'o', 0x20, 'a', 'n', 'd', '.', 0xf0)
  ).map(_.map(_.toByte))

  private case class Builder(name: String, kernel: Column => Column, reference: Column => Column)

  private val builders = Seq(
    Builder("c4Signals", TextOps.c4Signals(_), HofQualitySignals.c4Signals(_)),
    Builder("c4Signals(1, 0)",
      TextOps.c4Signals(_, 1, 0), HofQualitySignals.c4Signals(_, 1, 0)),
    Builder("c4Signals(8, 1)",
      TextOps.c4Signals(_, 8, 1), HofQualitySignals.c4Signals(_, 8, 1)),
    Builder("gopherQualitySignals",
      TextOps.gopherQualitySignals(_), HofQualitySignals.gopherQualitySignals(_)),
    Builder("gopherQualitySignals(3, 90)",
      TextOps.gopherQualitySignals(_, 3, 90), HofQualitySignals.gopherQualitySignals(_, 3, 90)),
    Builder("dupLineSignals", TextOps.dupLineSignals, HofQualitySignals.dupLineSignals))

  /** Doubles compare by bits; everything else by equality. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case _ => a == b
  }

  /** Every builder over `texts`' text column, kernel against reference.
    * Returns the number of rows compared. */
  private def assertSame(texts: DataFrame, what: String): Long = {
    val text = col("text")
    val out = texts.select(col("doc_id") +: builders.zipWithIndex.flatMap { case (b, i) =>
      Seq(b.kernel(text).as(s"k$i"), b.reference(text).as(s"r$i"))
    }: _*)
    for ((b, i) <- builders.zipWithIndex) {
      val (k, r) = (out.schema(s"k$i"), out.schema(s"r$i"))
      assert(k.dataType == r.dataType && k.nullable == r.nullable,
        s"$what ${b.name}: schema ${k.dataType.simpleString}/${k.nullable} " +
          s"!= ${r.dataType.simpleString}/${r.nullable}")
    }
    val rows = out.collect()
    val diffs = for {
      row <- rows.toSeq
      (b, i) <- builders.zipWithIndex
      k = row.getAs[Row](s"k$i")
      r = row.getAs[Row](s"r$i")
      f <- r.schema.fieldNames.indices
      if !same(k.get(f), r.get(f))
    } yield s"$what ${b.name} doc ${row.getLong(0)} ${r.schema.fieldNames(f)}: " +
      s"kernel ${k.get(f)} != reference ${r.get(f)}"
    assert(diffs.isEmpty, diffs.take(10).mkString("\n"))
    rows.length
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def adversarialTexts = spark.read.parquet(adversarialDir)

  test("t23, t24, t25 and p5 constructions: kernel equals the reference on every row") {
    import graft.SparkEntry.{c4FilterText, dupLinesText, gopherPollutedText, qualityFunnelText}
    val n = docs.count()
    for ((name, t) <- Seq("t23" -> c4FilterText, "t24" -> dupLinesText,
        "t25" -> gopherPollutedText, "p5" -> qualityFunnelText))
      assert(assertSame(docs.select(col("doc_id"), t.as("text")), name) == n)
    // p5's second stage reads the cleaned text
    val cleaned = docs.select(col("doc_id"),
      HofQualitySignals.c4Signals(qualityFunnelText).getField("clean_text").as("text"))
    assert(assertSame(cleaned, "p5 clean_text") == n)
  }

  test("adversarial texts: kernel equals the reference in generated code") {
    // no silent fallback to interpreted evaluation
    withConf("spark.sql.codegen.fallback" -> "false") {
      assert(assertSame(adversarialTexts, "adversarial") == adversarial.size + invalidUtf8.size)
      // a text that cannot be null: non-null size fields in both schemas
      assertSame(adversarialTexts.where(col("text").isNotNull)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text")), "non-null")
    }
  }

  test("adversarial texts: kernel equals the reference interpreted") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assertSame(adversarialTexts, "interpreted")
    }
  }

  test("adversarial texts: kernel equals the reference under legacy size(null) = -1") {
    withConf("spark.sql.ansi.enabled" -> "false") {
      assertSame(adversarialTexts, "legacy")
    }
  }
}
