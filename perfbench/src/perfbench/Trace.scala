package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Bench-side spans around calls into the program's layers: name, start,
  * end, parent span and run id. Kept in memory while tracing is on and
  * written as JSON lines at exit. The benchmark drives every layer from
  * one thread, so the open-span stack needs no locking.
  */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  @volatile var on = false
  val runId: String = s"${ProcessHandle.current().pid()}-${System.currentTimeMillis()}"
  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 1

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = System.nanoTime()
      try f
      finally {
        open = open.tail
        spans += Span(id, parent, name, t0, System.nanoTime())
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.id).map(s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}

/** Metrics of one finished Spark task, tagged with its job description. */
final case class TaskRec(desc: String, durationMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                         readBytes: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
                         written: Long)

/** Collects task metrics grouped by job description, and job and stage
  * counts. Read it only after [[Jvm.drain]].
  */
final class TaskStats extends SparkListener {
  private val stageDesc = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val recs = ArrayBuffer[TaskRec]()
  @volatile var jobs = 0
  @volatile var stages = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val d = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    e.stageIds.foreach(stageDesc.put(_, d))
    jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val r = TaskRec(stageDesc.getOrDefault(e.stageId, ""), e.taskInfo.duration,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
      recs.synchronized(recs += r)
    }
  }

  def mark: Int = recs.synchronized(recs.length)
  def since(mark: Int): Seq[TaskRec] = recs.synchronized(recs.drop(mark).toSeq)
}

/** One action's planning-phase times (analysis, optimization, planning)
  * from its QueryPlanningTracker, and the shuffle exchanges of its final
  * (adaptive) plan.
  */
final case class QueryRec(planMs: Double, exchanges: Int)

final class QueryStats extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val recs = ArrayBuffer[QueryRec]()

  private def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    val r = QueryRec(planMs, exchanges(qe.executedPlan))
    recs.synchronized(recs += r)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def mark: Int = recs.synchronized(recs.length)
  def since(mark: Int): Seq[QueryRec] = recs.synchronized(recs.drop(mark).toSeq)
}

/** JVM-level probes: GC totals and old-generation occupancy after GC. */
object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.isCollectionUsageThresholdSupported && p.getName.matches(".*(Old|Tenured).*"))

  /** (collections, collection seconds) since JVM start. */
  def gc(): (Long, Double) =
    (gcs.map(_.getCollectionCount.max(0L)).sum, gcs.map(_.getCollectionTime.max(0L)).sum / 1e3)

  /** Returns old-generation occupancy in MB after a full collection, a
    * pause and a second full collection. The pause lets Spark's
    * ContextCleaner drop the blocks and shuffle files the first
    * collection released, before the next timed iteration starts instead
    * of during it; the second collection frees them, so the reading is
    * memory still held, not blocks awaiting clean-up.
    */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(SettleMs)
    System.gc()
    oldGen.map(p => p.getCollectionUsage.getUsed / 1048576.0).getOrElse(
      (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1048576.0)
  }

  val SettleMs = 300L

  /** JVM start on the System.nanoTime() scale, so set-up can be timed from process start. */
  def startNs: Long =
    System.nanoTime() - (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L

  def drain(spark: SparkSession): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
}
