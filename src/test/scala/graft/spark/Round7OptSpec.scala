package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.spark.ops.{DedupOps, Par, SimOps}

/** Round-7 optimization internals: the changes must be PERFORMANCE-only,
  * so each gets an equivalence/behavior pin.
  *  - cosineSeq: the typed sequential fold that replaced the interpreted
  *    HOF cosine in the hot verify/scoring paths must be bit-identical
  *    to the column form (same IEEE operation order).
  *  - Par.spreadBy: raises a below-parallelism scan to the cluster
  *    floor, and is an exact no-op (same object) at/above it.
  *  - session memos (star CC, embedding pairs):
  *    semantically identical inputs share ONE computation; the clear
  *    hooks cascade so stale derived views can never be served.
  */
class Round7OptSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  test("cosineSeq is bit-identical to the interpreted HOF cosine column") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(42)
    val rows = Seq.tabulate(64) { i =>
      val n = 1 + rnd.nextInt(96)
      val a = Array.fill(n)((rnd.nextGaussian() * (i + 1)).toFloat)
      val b =
        if (i % 7 == 0) a.map(_ * 2.0f) // exact same-direction pair
        else Array.fill(n)((rnd.nextGaussian() - 0.25).toFloat)
      (i.toLong, a, b)
    }
    val df = rows.toDF("id", "a", "b")
    val viaColumn = df
      .select(col("id"), SimOps.cosine(col("a"), col("b")).as("cos"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, a, b) =>
      val seq = DedupOps.cosineSeq(a, b)
      assert(java.lang.Double.doubleToRawLongBits(seq) ==
        java.lang.Double.doubleToRawLongBits(viaColumn(id)),
        s"id=$id: cosineSeq=$seq column=${viaColumn(id)}")
    }
  }

  test("Par.spreadBy raises a 1-partition scan to defaultParallelism and is a no-op above it") {
    val sp = spark
    import sp.implicits._
    val one = (0L until 100L).toDF("doc_id").coalesce(1)
    val spreadDf = Par.spreadBy(one, col("doc_id"))
    assert(spreadDf.rdd.getNumPartitions == sp.sparkContext.defaultParallelism)
    // same rows, just redistributed
    assert(spreadDf.agg(sum("doc_id")).head.getLong(0) == 4950L)
    // at/above the floor: the INPUT OBJECT comes back (no repartition node)
    val wide = (0L until 100L).toDF("doc_id")
      .repartition(sp.sparkContext.defaultParallelism + 2, col("doc_id"))
    assert(Par.spreadBy(wide, col("doc_id")) eq wide)
  }

  test("CC + embedding-pair memos: one computation per semantic input, clear cascades") {
    val sp = spark
    import sp.implicits._
    DedupOps.clearShingleCache()
    def base = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    def pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val first = DedupOps.clusterIdsStar(base, pairs)
    // second call with a SEMANTICALLY identical (freshly built) input
    // returns the SAME materialized result — no second iteration runs
    assert(DedupOps.clusterIdsStar(base, pairs) eq first)
    assert(first.orderBy("doc_id").collect().map(_.getLong(1)).toSeq ==
      Seq(1L, 1L, 1L, 4L))
    // clearPairsCache cascades to the CC memo (stale pairs => stale labels)
    DedupOps.clearPairsCache()
    val recomputed = DedupOps.clusterIdsStar(base, pairs)
    assert(!(recomputed eq first))
    // embedding-pair memo: keyed on the BASE plan, so a fresh call with
    // an equal plan reuses the pair list object
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(2.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val ep = DedupOps.embCosineDupPairs(emb, 0.9)
    assert(DedupOps.embCosineDupPairs(
      Seq((1L, Array(1.0f, 0.0f)), (2L, Array(2.0f, 0.0f)),
        (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding"), 0.9) eq ep)
    assert(ep.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    DedupOps.clearShingleCache() // leave no state for other suites
  }
}
