package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.spark.{ExtractPipeline, InSpan, InterleavedDoc}

/** One row of the extract corpus: the interleaved document plus what its
  * extraction must give back (read only by the output check).
  */
final case class ExtractRow(doc_id: String, spans: Seq[InSpan], src_text: String, media: Seq[String],
                            frags: Int, html_bytes: Int)

/** Spark-side measurement shared by the Spark workloads: one timed
  * iteration's wall time with the tasks and queries it ran.
  */
final case class Iter(wall: Double, tasks: Seq[TaskRec], queries: Seq[QueryRec], gcCount: Long, gcS: Double)

final class SparkProbe(val spark: SparkSession) {
  val tasks = new TaskStats
  val queries = new QueryStats
  spark.sparkContext.addSparkListener(tasks)

  /** Records planning phases and exchanges of every later action. */
  def traceQueries(): Unit = spark.listenerManager.register(queries)

  def iteration[A](f: => A): (A, Iter) = {
    val tm = tasks.mark
    val qm = queries.mark
    val (gc0, gcs0) = Jvm.gc()
    val (a, wall) = SparkRun.seconds(f)
    val (gc1, gcs1) = Jvm.gc()
    Jvm.drain(spark)
    (a, Iter(wall, tasks.since(tm), queries.since(qm), gc1 - gc0, gcs1 - gcs0))
  }
}

object SparkMetrics {
  /** End-to-end metrics common to the Spark workloads. */
  def endToEnd(rep: Report, iters: Seq[Iter], docs: Long, htmlBytes: Long, heapMb: Double): Unit = {
    val wall = Stats.median(iters.map(_.wall))
    rep.put("wall_s", wall, iters.length)
    rep.put("docs_per_s", docs / wall, iters.length)
    rep.put("mb_per_s", htmlBytes / wall / 1e6, iters.length)
    val task = iters.flatMap(_.tasks.map(_.durationMs.toDouble))
    rep.put("call_p50_ms", Stats.median(task), task.length)
    rep.put("call_p99_ms", Stats.percentile(task, 99), task.length)
    rep.put("heap_peak_mb", heapMb, iters.length)
    rep.note(f"iterations: ${iters.length}, walls (s): ${iters.map(i => f"${i.wall}%.3f").mkString(" ")}")
    rep.note(s"tasks: ${task.length}, tail percentile with >=10 samples beyond: ${Stats.tailPercentile(task.length)}")
  }

  /** Per-layer Spark, shuffle and JVM metrics of traced iterations
    * (per-iteration medians; task latencies over all tasks).
    */
  def perLayer(rep: Report, iters: Seq[Iter], threads: Int): Unit = {
    def med(f: Iter => Double) = Stats.median(iters.map(f))
    def sum(i: Iter)(f: TaskRec => Double) = i.tasks.map(f).sum
    rep.put("spark.task_cpu_s", med(sum(_)(_.cpuNs / 1e9)), iters.length)
    rep.put("spark.task_run_s", med(sum(_)(_.runMs / 1e3)), iters.length)
    rep.put("spark.gc_s", med(sum(_)(_.gcMs / 1e3)), iters.length)
    rep.put("spark.scan_mb", med(sum(_)(_.readBytes / 1e6)), iters.length)
    rep.put("spark.tasks", med(_.tasks.length.toDouble), iters.length)
    val task = iters.flatMap(_.tasks.map(_.durationMs.toDouble))
    rep.put("spark.task_p50_ms", Stats.median(task), task.length)
    rep.put("spark.task_p99_ms", Stats.percentile(task, 99), task.length)
    rep.put("spark.busy_frac", med(i => sum(i)(_.runMs / 1e3) / (i.wall * threads)), iters.length)
    rep.put("spark.plan_ms", med(_.queries.map(_.planMs).sum), iters.length)
    rep.put("ops.shuffle_write_mb", med(sum(_)(_.shuffleWrite / 1e6)), iters.length)
    rep.put("ops.shuffle_read_mb", med(sum(_)(_.shuffleRead / 1e6)), iters.length)
    rep.put("ops.spill_mb", med(sum(_)(_.spill / 1e6)), iters.length)
    rep.put("ops.exchanges", med(_.queries.map(_.exchanges).sum.toDouble), iters.length)
    rep.put("jvm.gc_s", Stats.mean(iters.map(_.gcS)), iters.length)
    rep.put("jvm.gc_count", Stats.mean(iters.map(_.gcCount.toDouble)), iters.length)
  }
}

/** extract: the north-rule headline job. Parquet scan ->
  * ExtractPipeline.extract -> count documents and sum spans, at local[2].
  * Documents are about 1 KB, so per-row engine and expression cost
  * dominate; there is no shuffle beyond the final aggregate.
  */
object ExtractWl {
  /** Per-layer metrics of the dedup pipeline and the write, which this job does not run. */
  val Untouched: Set[String] = Set("ops.extract_s", "ops.quality_s", "ops.lsh_s", "ops.cc_s", "ops.split_write_s",
    "ops.pairs", "ops.pair_recall", "ops.kept_docs", "write.s", "write.mb", "write.files")

  /** Task threads of the timed job. Two of the four cores: with one task
    * thread per core, the JIT compiler, GC and Spark's own threads take
    * time from task threads, and iteration times drift and scatter.
    */
  val Threads = 2
  /** Task threads of the untimed input generation. */
  val GenThreads = 4
  val Replicas = 12
  val Files = 32
  val SampleDocs = 2000
  /** Jobs per set-up. Job time kept falling for about 15 jobs after JVM
    * start, so the three set-ups run 15 before the first timed one.
    */
  val WarmupJobs = 5

  def sourceDocs(spark: SparkSession, cfg: Cfg): Array[SourceDoc] = {
    import spark.implicits._
    spark.read.parquet(cfg.data.resolve("documents.parquet").toString)
      .select("doc_id", "text", "lang", "source").as[SourceDoc].collect().sortBy(_.doc_id)
  }

  /** Replica r of source doc d gets id d + r * 10^7, as InterleavedGen.tableReplicated. */
  def docAt(base: Array[SourceDoc], seed: Long, i: Long): GenDoc = {
    val s = base((i % base.length).toInt)
    Gen.interleaved(seed, s.doc_id + (i / base.length) * 10000000L, s.text, s.lang, s.source)
  }

  private def writeInput(spark: SparkSession, cfg: Cfg, base: Array[SourceDoc], path: String): (Long, Long) = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(base)
    val seed = cfg.seed
    spark.range(0L, base.length.toLong * Replicas, 1L, Files).as[Long].mapPartitions { it =>
      val b = bc.value
      it.map { i =>
        val g = docAt(b, seed, i)
        ExtractRow(g.docId.toString, g.spans, g.text, g.media, g.fragments, g.htmlBytes)
      }
    }.write.parquet(path)
    val st = spark.read.parquet(path).agg(count(lit(1)), sum("html_bytes"),
      expr("percentile(frags, 0.5)"), expr("percentile(frags, 0.99)")).head()
    println(f"# input: ${st.getLong(0)} docs, ${st.getLong(1) / 1e6}%.3f MB html, fragments/doc p50 " +
      f"${st.getDouble(2)}%.0f p99 ${st.getDouble(3)}%.0f, ${Files} files, planted clusters 0")
    (st.getLong(0), st.getLong(1))
  }

  /** The input as a dataset. Resolving it reads a parquet footer in a
    * Spark job of its own, so it is done once per session, untimed.
    */
  private def input(spark: SparkSession, path: String): Dataset[InterleavedDoc] = {
    import spark.implicits._
    spark.read.parquet(path).select("doc_id", "spans").as[InterleavedDoc]
  }

  /** The timed job. Returns (docs, spans, docs with an error). */
  private def job(ds: Dataset[InterleavedDoc]): (Long, Long, Long) = {
    val r = ExtractPipeline.extract(ds).toDF()
      .agg(count(lit(1)), sum(size(col("spans"))), count(col("error"))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Untimed: every doc's text spans concatenate to its source text and
    * its media refs come back in order. Returns the number of bad docs.
    */
  private def check(spark: SparkSession, path: String, rep: Report): Long = {
    val out = ExtractPipeline.extractDF(spark.read.parquet(path).select("doc_id", "spans", "src_text", "media"))
    val got = out.select(col("doc_id"), col("error"), col("src_text"), col("media"),
      array_join(transform(filter(col("spans"), s => s("kind") === "text"), s => s("text")), "").as("text"),
      transform(filter(col("spans"), s => s("kind") === "media"), s => s("media_ref")).as("got_media"))
    val bad = got.where(col("error").isNotNull || !(col("text") <=> col("src_text")) ||
      !(col("got_media") <=> col("media")))
    val n = bad.count()
    if (n > 0) bad.select("doc_id", "error").limit(3).collect().foreach(r =>
      rep.note(s"CHECK FAILED extract doc ${r.getString(0)} error=${r.getString(1)}"))
    n
  }

  def run(cfg: Cfg, rep: Report): Outcome = {
    val gen = SparkRun.session(cfg, GenThreads)
    val path = cfg.work.resolve("extract-input").toString
    val ((docs, htmlBytes), genS) = SparkRun.seconds {
      val base = sourceDocs(gen, cfg)
      writeInput(gen, cfg, base, path)
    }

    // set-up: session, listener and a fixed warm-up of WarmupJobs jobs
    val probe = SparkRun.setUp(rep, cfg, Threads, gen, genS) { s =>
      val ds = input(s, path)
      (0 until WarmupJobs).foreach(_ => job(ds))
    }
    var spark = probe.spark
    val ds = input(spark, path)

    var attempted = 0L
    var failed = 0L
    var heap = 0.0
    def loop(seconds: Double): Seq[Iter] = {
      val iters = ArrayBuffer[Iter]()
      val end = System.nanoTime() + (seconds * 1e9).toLong
      while (iters.isEmpty || System.nanoTime() < end) {
        val ((d, _, errs), it) = probe.iteration(Trace.span("extract.job")(job(ds)))
        attempted += d
        failed += errs
        iters += it
        heap = math.max(heap, Jvm.oldGenAfterGcMb())
      }
      iters.toSeq
    }

    val timed = loop(if (cfg.trace) cfg.seconds / 2.0 else cfg.seconds)
    SparkMetrics.endToEnd(rep, timed, docs, htmlBytes, heap)

    if (cfg.trace) {
      Trace.on = true
      probe.traceQueries()
      val traced = Trace.span("extract.timed")(loop(cfg.seconds / 2.0))
      SparkMetrics.perLayer(rep, traced, Threads)
      rep.put("bench.trace_overhead", Stats.median(traced.map(_.wall)) / Stats.median(timed.map(_.wall)) - 1,
        traced.length)
      rep.put("bench.gen_s", genS)
      val base = sourceDocs(spark, cfg)
      val sample = (0L until SampleDocs.toLong).map(i => docAt(base, cfg.seed, i * (docs / SampleDocs)).html)
      val meanUs = Trace.span("extract.layers")(EngineLayers.measure(sample, rep))
      // engine share of task CPU: docs x mean single-thread extractRaw time
      rep.put("spark.engine_cpu_share", docs * meanUs / 1e6 / rep.get("spark.task_cpu_s").get, traced.length)

      // scaling: the same job at local[1]
      val wallT = Stats.median(traced.map(_.wall))
      spark.stop()
      spark = SparkRun.session(cfg, 1)
      val wall1 = Trace.span("extract.local1") {
        val ds1 = input(spark, path)
        job(ds1)
        Stats.median((0 until 2).map(_ => SparkRun.seconds(job(ds1))._2))
      }
      rep.put("spark.scaling_eff", wall1 / (Threads * wallT), 2)
      rep.note(f"scaling: local[1] job $wall1%.3f s, local[$Threads] job $wallT%.3f s")
    }

    val bad = check(spark, path, rep)
    if (bad == 0) rep.note(s"check ok: all $docs docs round-trip text and media")
    spark.stop()
    Outcome(bad == 0, attempted, failed)
  }
}
