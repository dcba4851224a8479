package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Cfg(root: Path, work: Path, workload: String, seed: Long, seconds: Int, trace: Boolean) {
  def data: Path = root.resolve("perfbench/data")
  def pinned: Path = root.resolve("perfbench/pinned")
}

/** What a workload run reports besides its metrics. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long)

/** The metric names, units and directions; BENCHMARK.json lists the same. */
object Metrics {
  final case class M(name: String, unit: String, better: String)

  val EndToEnd: Seq[M] = Seq(
    M("setup_s", "s", "lower"),
    M("wall_s", "s", "lower"),
    M("docs_per_s", "docs/s", "higher"),
    M("mb_per_s", "MB/s", "higher"),
    M("heap_peak_mb", "MB", "lower"))

  val PerLayer: Seq[M] = Seq(
    M("call_p50_ms", "ms", "lower"),
    M("call_p99_ms", "ms", "lower"),
    M("core.lex_mb_per_s", "MB/s", "higher"),
    M("core.tags", "count", "higher"),
    M("selectors.scan_mb_per_s", "MB/s", "higher"),
    M("selectors.mix_mb_per_s", "MB/s", "higher"),
    M("selectors.matches", "count", "higher"),
    M("selectors.compile_us", "us", "lower"),
    M("rewrite.rename_mb_per_s", "MB/s", "higher"),
    M("rewrite.remove_mb_per_s", "MB/s", "higher"),
    M("rewrite.out_bytes", "bytes", "lower"),
    M("extract.html_mb_per_s", "MB/s", "higher"),
    M("extract.doc_us_p50", "us", "lower"),
    M("extract.doc_us_p99", "us", "lower"),
    M("extract.spans_per_doc", "spans", "higher"),
    M("spark.task_cpu_s", "s", "lower"),
    M("spark.task_run_s", "s", "lower"),
    M("spark.gc_s", "s", "lower"),
    M("spark.scan_mb", "MB", "lower"),
    M("spark.tasks", "count", "lower"),
    M("spark.task_p50_ms", "ms", "lower"),
    M("spark.task_p99_ms", "ms", "lower"),
    M("spark.busy_frac", "ratio", "higher"),
    M("spark.plan_ms", "ms", "lower"),
    M("spark.scaling_eff", "ratio", "higher"),
    M("spark.engine_cpu_share", "ratio", "lower"),
    M("ops.extract_s", "s", "lower"),
    M("ops.quality_s", "s", "lower"),
    M("ops.lsh_s", "s", "lower"),
    M("ops.cc_s", "s", "lower"),
    M("ops.split_write_s", "s", "lower"),
    M("ops.shuffle_write_mb", "MB", "lower"),
    M("ops.shuffle_read_mb", "MB", "lower"),
    M("ops.spill_mb", "MB", "lower"),
    M("ops.exchanges", "count", "lower"),
    M("ops.pairs", "count", "higher"),
    M("ops.pair_recall", "ratio", "higher"),
    M("ops.kept_docs", "count", "higher"),
    M("write.s", "s", "lower"),
    M("write.mb", "MB", "lower"),
    M("write.files", "count", "lower"),
    M("jvm.gc_s", "s", "lower"),
    M("jvm.gc_count", "count", "lower"),
    M("jvm.cold_setup_s", "s", "lower"),
    M("bench.gen_s", "s", "lower"),
    M("bench.trace_overhead", "ratio", "lower"),
    M("bench.error_rate", "ratio", "lower"))

  val NameFormat = "[A-Za-z0-9_.-]+"
}

/** Metric values of one run, with their sample counts. End-to-end
  * metrics come from untraced timing; per-layer ones from the traced
  * part of a `--trace 1` run. Each workload names the per-layer metrics
  * its path does not touch (Spark on engine_docs, the dedup operators on
  * extract); those read 0, and every other metric must be measured.
  */
final class Report {
  private val values = mutable.LinkedHashMap[String, (Double, Int)]()

  def put(name: String, value: Double, samples: Int = 1): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    values(name) = (value, samples)
  }

  def get(name: String): Option[Double] = values.get(name).map(_._1)

  def note(s: String): Unit = println(s"# $s")

  /** Prints the report lines and returns the result JSON. `untouched`
    * are the per-layer metrics the workload's path does not touch.
    */
  def result(trace: Boolean, o: Outcome, untouched: Set[String]): String = {
    val wanted = if (trace) Metrics.PerLayer else Metrics.EndToEnd
    val missing = wanted.map(_.name).filter(n => !values.contains(n)).toSet
    val expected = if (trace) untouched else Set.empty[String]
    require(missing == expected, s"metrics not measured: ${(missing -- expected).mkString(", ")}; " +
      s"measured but listed as untouched: ${(expected -- missing).mkString(", ")}")
    missing.foreach(put(_, 0.0, 0))
    val rate = if (o.attempted == 0) 1.0 else o.failed.toDouble / o.attempted
    note(f"error_rate = $rate%.6f ratio (failed ${o.failed} of ${o.attempted} attempted)")
    wanted.foreach { m =>
      val (v, n) = values(m.name)
      note(s"metric ${m.name} = $v ${m.unit} (n=$n)")
    }
    val body = wanted.map { m =>
      s""""${m.name}": {"value": ${values(m.name)._1}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": ${o.correct}, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": {$body}}"""
  }
}

object SparkRun {
  /** A local session that keeps every file it writes inside the run's
    * work directory.
    */
  def session(cfg: Cfg, threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", threads.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", cfg.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", cfg.work.resolve("hadoop-tmp").toString)
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Set-up, `Main.SetupRepeats` times: stop the live session, start a
    * new one at `threads` with its probe, then `warmUp`. The first set-up
    * is the cold one: it stops the session `gen` that made the inputs and
    * counts from JVM start, with `genS`, the input generation, left out.
    * Returns the probe of the last session.
    */
  def setUp(rep: Report, cfg: Cfg, threads: Int, gen: SparkSession, genS: Double)
           (warmUp: SparkSession => Unit): SparkProbe = {
    var live = gen
    var probe: SparkProbe = null
    val times = (0 until Main.SetupRepeats).map { i =>
      val t0 = if (i == 0) Jvm.startNs + (genS * 1e9).toLong else System.nanoTime()
      live.stop()
      probe = new SparkProbe(session(cfg, threads))
      live = probe.spark
      warmUp(live)
      (System.nanoTime() - t0) / 1e9
    }
    Main.putSetup(rep, times)
    probe
  }

  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
}

object Main {

  /** Set-up is repeated this many times in a run; setup_s is the median. */
  val SetupRepeats = 3

  /** setup_s is the median set-up; jvm.cold_setup_s the first, from JVM start. */
  def putSetup(rep: Report, times: Seq[Double]): Unit = {
    rep.put("setup_s", Stats.median(times), times.length)
    rep.put("jvm.cold_setup_s", times.head)
    rep.note(s"setup runs (s): ${times.map(x => f"$x%.3f").mkString(" ")}")
  }

  private def parse(args: Array[String]): Cfg = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Cfg(Paths.get(need("root")), Paths.get(need("work")), need("workload"), need("seed").toLong,
      need("seconds").toInt, need("trace") == "1")
  }

  def main(args: Array[String]): Unit =
    try run(parse(args))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.flush()
        sys.exit(1)
    }

  private def run(cfg: Cfg): Unit = {
    Files.createDirectories(cfg.work)
    val rep = new Report
    rep.note(s"workload=${cfg.workload} seed=${cfg.seed} seconds=${cfg.seconds} trace=${cfg.trace} " +
      s"cores=${Runtime.getRuntime.availableProcessors}")
    val (outcome, untouched) = cfg.workload match {
      case "extract" => (ExtractWl.run(cfg, rep), ExtractWl.Untouched)
      case "engine_docs" => (EngineDocsWl.run(cfg, rep), EngineDocsWl.Untouched)
      case "curate" => (CurateWl.run(cfg, rep), CurateWl.Untouched)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (cfg.trace) {
      val side = cfg.root.resolve(s".bench_build/trace/${cfg.workload}-seed${cfg.seed}-${Trace.runId}.jsonl")
      Trace.write(side)
      rep.note(s"trace spans written to $side")
    }
    rep.put("bench.error_rate", if (outcome.attempted == 0) 1.0 else outcome.failed.toDouble / outcome.attempted)
    println(rep.result(cfg.trace, outcome, untouched))
    System.out.flush()
    sys.exit(if (outcome.correct) 0 else 1)
  }
}
