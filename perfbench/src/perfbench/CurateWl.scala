package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.spark.{ExtractPipeline, InSpan}
import graft.spark.ops.{DedupOps, SimOps, TextOps}

final case class CurateRow(doc_id: Long, spans: Seq[InSpan])

/** curate: the composed curation run, timed wall to wall. Extraction ->
  * the p5 quality funnel (C4 lines, Gopher battery, duplicate lines) ->
  * MinHash-LSH near-duplicate pairs -> star connected components ->
  * one representative per cluster -> deterministic split -> parquet
  * written partitioned by split into a fresh directory. Shuffles,
  * checkpoints and the write dominate; the engine is a minority share.
  */
object CurateWl {
  /** Per-layer metrics this pipeline does not touch: scaling is measured on extract. */
  val Untouched: Set[String] = Set("spark.scaling_eff")

  val Threads = 2
  val Docs = 2000
  val Threshold = 0.6

  /** The sf0.1 documents' vocabulary, sorted. */
  def vocab(spark: SparkSession, cfg: Cfg): IndexedSeq[String] =
    ExtractWl.sourceDocs(spark, cfg).iterator.flatMap(_.text.split(" ")).filter(_.nonEmpty)
      .toSet.toIndexedSeq.sorted

  private def writeInput(spark: SparkSession, c: CurateGen.Corpus, seed: Long, path: String): Long = {
    import spark.implicits._
    val docs = c.docs.map(d => Gen.interleaved(seed, d.id, d.text, "en", s"src${d.id % 20}"))
    spark.createDataset(docs.map(g => CurateRow(g.docId, g.spans))).write.parquet(path)
    val bytes = docs.map(_.htmlBytes.toLong).sum
    val frags = docs.map(_.fragments.toDouble)
    println(f"# input: ${docs.length} docs, ${bytes / 1e6}%.3f MB html, fragments/doc p50 " +
      f"${Stats.median(frags)}%.0f p99 ${Stats.percentile(frags, 99)}%.0f, vocabulary from sf0.1 documents, " +
      s"planted clusters ${c.clusters.length} (sizes: ${c.clusters.map(_.length).groupBy(identity).toSeq
        .sortBy(_._1).map { case (k, v) => s"$k x${v.length}" }.mkString(" ")}), " +
      s"planted failures ${c.failures.toSeq.sorted.map { case (k, n) => s"$k=$n" }.mkString(" ")}, " +
      s"expected kept ${c.kept.size}")
    bytes
  }

  private def clearMemos(): Unit = {
    DedupOps.clearShingleCache()
    DedupOps.clearPostingsCache()
    DedupOps.clearPairsCache()
    DedupOps.clearEmbPairsCache()
    SimOps.clearCodebookCache()
  }

  private def textOf(spans: org.apache.spark.sql.Column) =
    array_join(transform(filter(spans, s => s("kind") === "text"), s => s("text")), "")

  /** One pipeline run. Returns (docs with an extraction error, LSH pairs). */
  def pipeline(spark: SparkSession, input: String, out: String): (Long, DataFrame) = {
    val sc = spark.sparkContext
    def stage[A](name: String)(f: => A): A = {
      sc.setJobDescription(s"curate.$name")
      Trace.span(s"ops.$name")(f)
    }
    try {
      val extracted = stage("extract") {
        ExtractPipeline.extractDF(spark.read.parquet(input))
          .select(col("doc_id"), textOf(col("spans")).as("text"), col("error"))
          .localCheckpoint()
      }
      val errors = extracted.where(col("error").isNotNull).count()
      val survivors = stage("quality") {
        val c4 = TextOps.c4Signals(col("text"))
        val step1 = extracted.where(col("error").isNull).select(col("doc_id"),
          c4.getField("clean_text").as("clean_text"), c4.getField("kept").as("kept_c4"))
        val gq = TextOps.gopherQualitySignals(col("clean_text"))
        val dl = TextOps.dupLineSignals(col("clean_text"))
        step1.where(col("kept_c4") && gq.getField("kept") && dl.getField("kept"))
          .select(col("doc_id"), col("clean_text").as("text"))
          .localCheckpoint()
      }
      val pairs = stage("lsh") {
        val p = DedupOps.minhashLshPairs(survivors, Threshold)
        p.count()
        p
      }
      val clusters = stage("cc")(DedupOps.clusterIdsStar(survivors, pairs))
      stage("split_write") {
        val reps = clusters.where(col("doc_id") === col("cluster_id")).select("doc_id")
        TextOps.withSplit(survivors.join(reps, "doc_id")).write.partitionBy("split").parquet(out)
      }
      (errors, pairs)
    } finally sc.setJobDescription(null)
  }

  /** Untimed: the written output keeps exactly the ground-truth set (so
    * at most one doc per planted cluster) and every doc sits in the split
    * TextOps.splitNameOf gives it.
    */
  private def check(spark: SparkSession, out: String, c: CurateGen.Corpus, rep: Report): (Boolean, Int) = {
    val rows = spark.read.parquet(out)
      .select(col("doc_id"), col("split"), TextOps.splitNameOf(col("doc_id")).as("want")).collect()
    val ids = rows.map(_.getLong(0))
    val idSet = ids.toSet
    val multi = c.clusters.count(cl => cl.count(idSet) > 1)
    val wrongSplit = rows.count(r => r.getString(1) != r.getString(2))
    val missing = c.kept -- idSet
    val extra = idSet -- c.kept
    val ok = ids.length == idSet.size && multi == 0 && wrongSplit == 0 && missing.isEmpty && extra.isEmpty
    if (!ok) rep.note(s"CHECK FAILED curate: rows=${ids.length} distinct=${idSet.size} clusters_with_2+=$multi " +
      s"wrong_split=$wrongSplit missing=${missing.take(5)} (${missing.size}) extra=${extra.take(5)} (${extra.size})")
    (ok, ids.length)
  }

  def run(cfg: Cfg, rep: Report): Outcome = {
    val gen = SparkRun.session(cfg, Threads)
    val input = cfg.work.resolve("curate-input").toString
    val ((corpus, htmlBytes), genS) = SparkRun.seconds {
      val c = CurateGen.generate(cfg.seed, Docs, vocab(gen, cfg))
      (c, writeInput(gen, c, cfg.seed, input))
    }

    var outN = 0
    def freshOut(): String = { outN += 1; cfg.work.resolve(s"curate-out-$outN").toString }

    // set-up: session, listener and a fixed warm-up of one pipeline
    val probe = SparkRun.setUp(rep, cfg, Threads, gen, genS) { s =>
      val out = freshOut()
      pipeline(s, input, out)
      SparkRun.deleteTree(Paths.get(out))
    }
    val spark = probe.spark

    var attempted = 0L
    var failed = 0L
    var correct = true
    var heap = 0.0
    var lastPairs: Set[(Long, Long)] = Set.empty
    var lastFiles = 0
    var lastKept = 0
    def loop(seconds: Double, traced: Boolean): Seq[Iter] = {
      val iters = ArrayBuffer[Iter]()
      val end = System.nanoTime() + (seconds * 1e9).toLong
      while (iters.isEmpty || System.nanoTime() < end) {
        clearMemos()
        val out = freshOut()
        val ((errors, pairs), it) = probe.iteration(Trace.span("curate.pipeline")(pipeline(spark, input, out)))
        attempted += corpus.docs.length
        failed += errors
        iters += it
        val (ok, kept) = check(spark, out, corpus, rep)
        correct &= ok
        lastKept = kept
        if (traced) {
          lastPairs = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0) min r.getLong(1), r.getLong(0) max r.getLong(1))).toSet
          lastFiles = Files.walk(Paths.get(out)).iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
        }
        SparkRun.deleteTree(Paths.get(out))
        heap = math.max(heap, Jvm.oldGenAfterGcMb())
      }
      iters.toSeq
    }

    val timed = loop(if (cfg.trace) cfg.seconds / 2.0 else cfg.seconds, traced = false)
    SparkMetrics.endToEnd(rep, timed, corpus.docs.length, htmlBytes, heap)

    if (cfg.trace) {
      Trace.on = true
      probe.traceQueries()
      val traced = loop(cfg.seconds / 2.0, traced = true)
      SparkMetrics.perLayer(rep, traced, Threads)
      rep.put("bench.trace_overhead", Stats.median(traced.map(_.wall)) / Stats.median(timed.map(_.wall)) - 1,
        traced.length)
      rep.put("bench.gen_s", genS)
      for (s <- Seq("extract", "quality", "lsh", "cc", "split_write")) {
        val spans = Trace.named(s"ops.$s").map(_.seconds)
        rep.put(s"ops.${s}_s", Stats.median(spans), spans.length)
      }
      val planted = corpus.plantedPairs
      rep.put("ops.pairs", lastPairs.size.toDouble)
      rep.put("ops.pair_recall", (lastPairs & planted).size.toDouble / planted.size, planted.size)
      rep.note(s"pair recall base: ${planted.size} planted pairs (all pairs inside ${corpus.clusters.length} clusters); " +
        s"${(lastPairs -- planted).size} found pairs are unplanted")
      rep.put("ops.kept_docs", lastKept.toDouble)
      def writeTasks(i: Iter) = i.tasks.filter(t => t.desc == "curate.split_write" && t.written > 0)
      rep.put("write.s", Stats.median(traced.map(writeTasks(_).map(_.runMs / 1e3).sum)), traced.length)
      rep.put("write.mb", Stats.median(traced.map(writeTasks(_).map(_.written / 1e6).sum)), traced.length)
      rep.put("write.files", lastFiles.toDouble)
      val sample = corpus.docs.map(d => Gen.interleaved(cfg.seed, d.id, d.text, "en", s"src${d.id % 20}").html)
      val meanUs = Trace.span("curate.layers")(EngineLayers.measure(sample, rep))
      rep.put("spark.engine_cpu_share",
        corpus.docs.length * meanUs / 1e6 / rep.get("spark.task_cpu_s").get, traced.length)
    }
    spark.stop()
    Outcome(correct, attempted, failed)
  }
}
