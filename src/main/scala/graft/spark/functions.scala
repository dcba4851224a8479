package graft.spark

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ExpressionColumns
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import graft.core.IntBuf
import graft.extract.{ExtractPolicy, Extractor}

/** One thread's extraction state for one policy: the engine plus the row
  * scratch [[ExtractInterleaved]] reuses. Not thread-safe: obtained from
  * the per-thread cache ([[ExtractInterleaved.workerFor]]) and only used
  * by the thread that created it.
  */
private[spark] final class EngineWorker(policy: ExtractPolicy) {
  private val owner = Thread.currentThread()
  val engine = new Extractor(policy)
  /** Text fragments of the current row, gathered by the single pass. */
  var texts = new Array[UTF8String](64)
  /** Media refs (copied out of the input row) and their html offsets;
    * primitive offsets, since an ArrayBuffer[Int] would box each one.
    */
  val mediaRefs = new scala.collection.mutable.ArrayBuffer[UTF8String](4)
  val mediaOffsets = new IntBuf(8)

  def ownedByCurrentThread: Boolean = owner eq Thread.currentThread()
}

/** A per-row engine call as a codegen'd expression. Interpreted `eval` and
  * the generated code run the same body, [[run]]; they differ only in how
  * they find the thread's [[EngineWorker]]. `eval` looks it up per row
  * (expression instances are shared by local-mode task threads). The
  * generated class keeps it in a field, resolved on its first row and
  * again only if another thread calls it, so the policy-keyed lookup runs
  * once per partition. Being codegen'd (not `CodegenFallback`) lets
  * `CollapseCodegenStages` fuse the scan, the extraction and its
  * consumers into one stage, with no UnsafeRow copy of the input spans
  * before the call or of the output spans after it.
  */
private[spark] trait EngineExpression extends UnaryExpression {
  def policy: ExtractPolicy

  /** The row body: `input` is the non-null child value. */
  def run(input: Any, w: EngineWorker): Any

  def worker(): EngineWorker = ExtractInterleaved.workerFor(policy)

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = run(input, worker())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj(prettyName, this)
    val w = ctx.addMutableState(classOf[EngineWorker].getName, "worker")
    nullSafeCodeGen(ctx, ev, c =>
      s"""if ($w == null || !$w.ownedByCurrentThread()) $w = $self.worker();
         |${ev.value} = (${CodeGenerator.javaType(dataType)}) $self.run($c, $w);""".stripMargin)
  }
}

/** `extract_spans(html)` — the engine as a Catalyst expression, the SQL
  * analog of the reference's one-off `rewrite_str`
  * (/root/reference/src/rewriter/mod.rs:307-340). Returns the ordered
  * span array `array<struct<kind,text,media_ref,offset>>` for a whole
  * HTML document string. Codegen'd through [[EngineExpression]], so it
  * sits inside the surrounding whole-stage-codegen stage.
  */
case class ExtractSpans(child: Expression) extends EngineExpression with Serializable {

  override def policy: ExtractPolicy = ExtractPolicy.Default
  override def dataType: DataType = ExtractSpans.SpanArrayType

  override def run(input: Any, w: EngineWorker): Any = {
    // a fresh copy: the text spans view this buffer (see spanArray)
    val doc = input.asInstanceOf[UTF8String]
    val html = new Array[Byte](doc.numBytes())
    doc.writeToMemory(html, Platform.BYTE_ARRAY_OFFSET)
    w.mediaRefs.clear()
    w.mediaOffsets.clear()
    ExtractInterleaved.spanArray(
      w.engine.extractRaw(html, html.length, w.mediaOffsets), html, w.mediaRefs)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "extract_spans"
}

object ExtractSpans {
  val SpanType: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("media_ref", StringType, nullable = false),
    StructField("offset", IntegerType, nullable = false)))
  val SpanArrayType: DataType = ArrayType(SpanType, containsNull = false)

  /** Register `extract_spans` for SQL and the Column surface. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "extract_spans", exprs => ExtractSpans(exprs.head), "scala_udf")

  /** Column surface; needs no registration. */
  def extract_spans(html: Column): Column =
    ExpressionColumns.column(ExtractSpans(ExpressionColumns.expression(html)))
}

/** The whole-pipeline expression: interleaved input span array in,
  * `struct(spans, error)` out — the engine runs directly over Catalyst's
  * columnar data (UTF8String fragments copied once into the engine's
  * document buffer), with NO Dataset encoder materialization on either
  * side. This is the hot path ExtractPipeline uses: at 10^12-row scale
  * the per-row object churn of a typed `Dataset[InterleavedDoc]` decode
  * (tens of boxed objects + strings per document) would dominate GC.
  * Codegen'd through [[EngineExpression]]: over a parquet table the
  * scan, this expression, the projection of its fields and a partial
  * aggregate above it run as one whole-stage-codegen stage.
  */
case class ExtractInterleaved(child: Expression,
                              policy: ExtractPolicy = ExtractPolicy.Default)
    extends EngineExpression with Serializable {

  override def dataType: DataType = ExtractInterleaved.ResultType

  // field ordinals resolved BY NAME from the child's physical struct:
  // external parquet may order the span struct differently (e.g.
  // alphabetized), and .as[] resolves by name without reordering the
  // physical layout
  @transient private lazy val (kindOrd, textOrd, refOrd, numFields) =
    child.dataType match {
      case ArrayType(st: StructType, _) =>
        (st.fieldIndex("kind"), st.fieldIndex("text"), st.fieldIndex("media_ref"), st.length)
      case other =>
        throw new IllegalStateException(s"extract_interleaved over $other")
    }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case ArrayType(st: StructType, _) =>
        val missing = Seq("kind", "text", "media_ref").filter(f =>
          !st.fields.exists(sf => sf.name == f && sf.dataType == StringType))
        if (missing.isEmpty) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"extract_interleaved needs array<struct> with string fields kind/text/media_ref; " +
            s"missing or mistyped: ${missing.mkString(", ")} in ${st.simpleString}")
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"extract_interleaved needs array<struct<kind,text,media_ref,...>>, got ${other.simpleString}")
    }
  }

  override def run(input: Any, w: EngineWorker): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (w.texts.length < n) w.texts = new Array[UTF8String](math.max(n, 2 * w.texts.length))
    val texts = w.texts
    val mediaRefs = w.mediaRefs
    val mediaOffsets = w.mediaOffsets
    mediaRefs.clear()
    mediaOffsets.clear()
    // one pass over the fragments: each kind and text is read once; text
    // fragments are kept for the copy below, and a media fragment's
    // offset is the text byte count so far. A null fragment is skipped.
    var nTexts = 0
    var total = 0
    var i = 0
    while (i < n) {
      val frag = arr.getStruct(i, numFields)
      if (frag != null) {
        val kind = frag.getUTF8String(kindOrd)
        if (kind != null && kind.equals(ExtractInterleaved.TEXT)) {
          val t = frag.getUTF8String(textOrd)
          if (t != null) {
            texts(nTexts) = t
            nTexts += 1
            total += t.numBytes()
          }
        } else {
          // copied: the input row's memory may be reused for the next row
          val r = frag.getUTF8String(refOrd)
          mediaRefs += (if (r == null) UTF8String.EMPTY_UTF8 else r.clone())
          mediaOffsets += total
        }
      }
      i += 1
    }
    // fresh per-row buffer: A/B-measured FASTER than a reused grow-only
    // buffer (short-lived TLAB arrays die in young GC for ~free, while
    // reuse pays old-gen write traffic)
    val html = new Array[Byte](total)
    var off = 0
    i = 0
    while (i < nTexts) {
      val t = texts(i)
      texts(i) = null // the worker must not pin input memory past this row
      t.writeToMemory(html, Platform.BYTE_ARRAY_OFFSET + off)
      off += t.numBytes()
      i += 1
    }
    val res = w.engine.extractRaw(html, total, mediaOffsets)
    new GenericInternalRow(Array[Any](ExtractInterleaved.spanArray(res, html, mediaRefs),
      if (res.error == null) null else UTF8String.fromString(res.error)))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "extract_interleaved"
}

object ExtractInterleaved {
  val ResultType: StructType = StructType(Seq(
    StructField("spans", ExtractSpans.SpanArrayType, nullable = false),
    StructField("error", StringType, nullable = true)))

  // per-thread worker cache keyed by policy (expression instances can be
  // shared across local-mode task threads)
  private val workers: ThreadLocal[java.util.HashMap[ExtractPolicy, EngineWorker]] =
    ThreadLocal.withInitial(() => new java.util.HashMap[ExtractPolicy, EngineWorker]())

  private[spark] def workerFor(policy: ExtractPolicy): EngineWorker = {
    val m = workers.get()
    var w = m.get(policy)
    if (w == null) { w = new EngineWorker(policy); m.put(policy, w) }
    w
  }

  private[spark] val TEXT = UTF8String.fromString("text")
  private[spark] val MEDIA = UTF8String.fromString("media")

  /** One extraction's `array<struct<kind,text,media_ref,offset>>`. Text
    * spans are zero-copy UTF8Strings over `html` (the document's own
    * bytes, invalid UTF-8 included), so `html` must be a per-row buffer;
    * media spans take their ref from `mediaRefs`.
    */
  private[spark] def spanArray(res: Extractor#RawSpans, html: Array[Byte],
                               mediaRefs: collection.IndexedSeq[UTF8String]): GenericArrayData = {
    val out = new Array[Any](res.count)
    var i = 0
    while (i < res.count) {
      val start = res.starts(i)
      out(i) = new GenericInternalRow(
        if (res.kinds(i) == 0)
          Array[Any](TEXT, UTF8String.fromBytes(html, start, res.ends(i) - start),
            UTF8String.EMPTY_UTF8, start)
        else
          Array[Any](MEDIA, UTF8String.EMPTY_UTF8, mediaRefs(res.mediaIdx(i)), start))
      i += 1
    }
    new GenericArrayData(out)
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "extract_interleaved", exprs => ExtractInterleaved(exprs.head), "scala_udf")
}

/** Row-local rolling polynomial fingerprint (base 131 mod 1e9+7) as a
  * native codegen'd expression. Replaces the per-character interpreted
  * higher-order-function formulation (`aggregate(transform(split(text,
  * "")))`) which materialized one single-char String per character and
  * ran an interpreted lambda per element (~100x the work of this loop).
  * Semantics preserved exactly: one step per UTF-16 char unit with the
  * char's code-unit value, the same sequence Spark's split-per-char +
  * ascii() produced for BMP text (bit-identical on the corpus; a parity
  * test pins it).
  */
case class RollingHash(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    RollingHashFn.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spark.RollingHashFn.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "rolling_hash"
}

object RollingHashFn {
  final val Mod = 1000000007L

  /** Register `rolling_hash` for SQL and the Column surface. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_hash", exprs => RollingHash(exprs.head), "scala_udf")

  /** h_{i+1} = (h_i * 131 + char_i) mod 1e9+7 over UTF-16 code units. */
  def compute(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      h = (h * 131L + str.charAt(i)) % Mod
      i += 1
    }
    h
  }
}
