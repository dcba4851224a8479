package graft.spark

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Mode equivalence of the extraction expression: the generated code
  * (inside a whole-stage-codegen stage over a columnar parquet scan) and
  * interpreted `eval` (whole-stage codegen off, no expression codegen)
  * must give the same `(doc_id, spans, error)` rows.
  */
class ExtractModeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.01"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** Extracted rows of the parquet table at `dir` under `conf`, sorted by
    * doc_id, and whether the plan had a whole-stage-codegen stage.
    */
  private def extracted(dir: String, conf: Seq[(String, String)]): (Seq[Row], Boolean) = {
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = ExtractPipeline.extractDF(spark.read.parquet(dir))
        .select(col("doc_id"), col("spans"), col("error"))
      val rows = df.collect().toSeq.sortBy(_.getString(0))
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val codegen = plan.exists(_.isInstanceOf[WholeStageCodegenExec])
      (rows, codegen)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def assertSameInBothModes(input: DataFrame, expectRows: Int): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_modes").toString
    input.write.mode("overwrite").parquet(dir)
    val (gen, genCodegen) = extracted(dir, Nil)
    val (interp, interpCodegen) = extracted(dir, interpreted)
    assert(genCodegen && !interpCodegen)
    assert(gen.length == expectRows && interp.length == expectRows)
    gen.zip(interp).foreach { case (a, b) => assert(a == b, s"generated $a\ninterpreted $b") }
  }

  test("sf0.01 interleaved table: generated and interpreted extraction agree") {
    assertSameInBothModes(InterleavedGen.table(spark, sf).toDF(), 500)
  }

  test("span struct in another field order: both modes agree") {
    val df = spark.sql(
      "select '1' as doc_id, array(" +
        "named_struct('media_ref', '', 'offset', 0, 'kind', 'text', 'text', '<p>hi '), " +
        "named_struct('media_ref', 'media://1/0', 'offset', 6, 'kind', 'media', 'text', ''), " +
        "named_struct('media_ref', '', 'offset', 6, 'kind', 'text', 'text', 'there</p>')" +
        ") as spans")
    assertSameInBothModes(df, 1)
  }

  test("null text, kind, ref, fragment and span array: both modes agree") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      InterleavedDoc("a", Seq(InSpan("text", "<p>x</p>", "", 0))),
      InterleavedDoc("b", Seq(InSpan("text", "<p>y", "", 0),
        InSpan("media", null, "media://b/0", 4), InSpan("text", "</p>", "", 4))),
      InterleavedDoc("c", Seq(InSpan("text", "<p>", "", 0), InSpan("text", null, "", 3),
        InSpan(null, "", null, 3), InSpan("media", "", null, 3), InSpan("text", "z</p>", "", 3))),
      InterleavedDoc("d", Seq(InSpan("text", "<p>w", "", 0), null, InSpan("text", "</p>", "", 4))),
      InterleavedDoc("e", null),
      InterleavedDoc("f", Seq.empty)).toDS()
    assertSameInBothModes(docs.toDF(), 6)
  }
}
