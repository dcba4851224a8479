package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._
import graft.spark.ops.{DedupOps, SessionMemo}

/** Session memos (see [[SessionMemo]]): evicting a memo entry must never
  * make a DataFrame a caller still holds unreadable, and the memos' Spark
  * storage must stay bounded however many distinct views a session builds.
  *
  * A plain re-`collect()` of a held Dataset reuses that Dataset's shuffle
  * outputs, so it cannot show a released checkpoint; `.where(lit(true))`
  * plans the held result again and reads every materialized input anew.
  */
class MemoSpec extends AnyFunSuite with BeforeAndAfterAll with Eventually {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    DedupOps.clearShingleCache()
    if (spark != null) spark.stop()
  }

  /** 30 documents of 40 seeded words, each with a near-duplicate (every
    * 17th word dropped) at id + 1000.
    */
  private def docs: DataFrame = {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    val originals = (0L until 30L).map(id =>
      (id, Seq.fill(40)(s"w${rnd.nextInt(400)}").mkString(" ")))
    val variants = originals.map { case (id, t) =>
      (id + 1000L, t.split(" ").zipWithIndex.collect { case (w, i) if (i + 1) % 17 != 0 => w }
        .mkString(" "))
    }
    (originals ++ variants).toDF("doc_id", "text")
  }

  /** A 3-node chain (more than one CC round), a pair and an isolated node. */
  private def graph: (DataFrame, DataFrame) = {
    val sp = spark
    import sp.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (10L, 11L))
    val nodes = (0L to 2L) ++ Seq(10L, 11L, 20L)
    (nodes.toDF("doc_id"), edges.toDF("id_a", "id_b"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString(",")).sorted.toSeq

  test("SessionMemo keeps the MaxEntries most recently used entries and clears its dependents") {
    val released = scala.collection.mutable.ArrayBuffer[String]()
    val child = new SessionMemo[String](released += _)
    val memo = new SessionMemo[String](released += _, child)
    var builds = 0
    def get(k: Int): String = memo.getOrBuild(spark, k) { builds += 1; s"v$k" }
    (0 until SessionMemo.MaxEntries).foreach(get)
    assert(get(0) == "v0" && builds == SessionMemo.MaxEntries) // a hit, and 1 is now eldest
    get(SessionMemo.MaxEntries)
    assert(released == Seq("v1"))
    assert(get(1) == "v1" && builds == SessionMemo.MaxEntries + 2) // rebuilt after eviction
    child.getOrBuild(spark, "k")("c")
    released.clear()
    memo.clear()
    assert(released.sorted == (Seq("c") ++ (0 to SessionMemo.MaxEntries).filter(_ != 2).map(k => s"v$k")).sorted)
  }

  /** Hold view 0, build views 1..5 through the same memo (enough to evict
    * view 0's entries), then plan the held result again.
    */
  private def heldSurvivesEviction(view: Int => DataFrame): Unit = {
    DedupOps.clearShingleCache()
    val held = view(0)
    val want = rows(held)
    assert(want.nonEmpty)
    (1 to 5).foreach(i => view(i).collect())
    assert(rows(held.where(lit(true))) == want)
    DedupOps.clearShingleCache()
  }

  test("a held ngramJaccardPairs result stays readable after its memo entries are evicted") {
    val base = docs
    heldSurvivesEviction(i => DedupOps.ngramJaccardPairs(base.where(col("doc_id") =!= i), 0.6))
  }

  test("a held clusterIdsStar result stays readable after its memo entry is evicted") {
    val (nodes, pairs) = graph
    heldSurvivesEviction(i => DedupOps.clusterIdsStar(nodes, pairs.where(col("id_a") =!= i)))
  }

  test("a held result stays readable after a clear") {
    DedupOps.clearShingleCache()
    val (nodes, pairs) = graph
    val star = DedupOps.clusterIdsStar(nodes, pairs)
    val d2 = DedupOps.ngramJaccardPairs(docs, 0.6)
    val (wantStar, wantD2) = (rows(star), rows(d2))
    DedupOps.clearShingleCache()
    assert(rows(star.where(lit(true))) == wantStar)
    assert(rows(d2.where(lit(true))) == wantD2)
  }

  test("persistent RDDs stay bounded across more distinct views than the memo keeps") {
    DedupOps.clearShingleCache()
    val base = docs
    val (nodes, pairs) = graph
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val views = SessionMemo.MaxEntries + 2
    (1 to views).foreach { i =>
      DedupOps.ngramJaccardPairs(base.where(col("doc_id") =!= i), 0.6).collect()
      DedupOps.clusterIdsStar(nodes, pairs.where(col("id_a") =!= i)).collect()
    }
    // each live entry keeps at most one persisted or checkpointed RDD per
    // memo it fills: shingles, postings, star labels and their final edge
    // list. Evicted entries' RDDs go once nothing references them (the
    // map holds them weakly; ContextCleaner frees their blocks).
    val bound = 4 * SessionMemo.MaxEntries
    eventually(timeout(30.seconds), interval(200.millis)) {
      System.gc()
      val grown = sc.getPersistentRDDs.size - before
      assert(grown <= bound, s"persistent RDDs grew by $grown over $views views (bound $bound)")
    }
    DedupOps.clearShingleCache()
  }
}
