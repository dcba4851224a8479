package graft.spark

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.util.CollectionAccumulator

/** The resumable bucketed-run protocol, owned in one place: the
  * `_ledger.jsonl` format and its commit rule. [[CheckpointedExtract]]
  * and the dedup staging tables (`DedupOps.stageShingles`,
  * `DedupOps.stageSpanGrams`) supply only their identity fields, their
  * per-pass frame and their counters.
  *
  * The input is split into `buckets` disjoint slices by
  * `pmod(hash(doc_id), buckets)`. The ledger is JSON, one object a line:
  * a header
  *   {"header":1,<the caller's identity fields, in the caller's order>}
  * written on the first run and validated field by field on resume (a
  * resume with another bucket count, policy, source or gram width would
  * silently mix two partitionings — fail fast instead), then one line per
  * committed bucket:
  *   {"bucket":i,<the caller's counters>[,"wall_ms":n]}
  * A ledger that does not start with this caller's header (one written
  * before headers existed, or by another kind of run) is refused: stamping
  * the current parameters on it would legitimize a mismatched resume.
  *
  * Each pass computes all of its pending buckets in ONE scan of the input:
  * the caller's frame over the bucketed slice is written with
  * `partitionBy("bucket")` and dynamic partition overwrite, and only after
  * that write succeeds are the pass's bucket lines appended by atomic
  * rename. A killed pass leaves orphan parquet that the resume overwrites,
  * never a ledger line for uncommitted data, so a resume has no duplicate
  * or lost documents; it keys on bucket PRESENCE only. `maxBucketsPerPass`
  * bounds the work a mid-pass kill loses: scans = ceil(pending /
  * maxBucketsPerPass), a knob between one-scan throughput and per-bucket
  * commit granularity.
  *
  * Counters are tallied by [[BucketLedger.Tally]] inside the write job's
  * result stage, so Spark applies each successful task's update once (no
  * read-back of the written parquet); under speculative execution they may
  * over-count, which is why resume never reads them.
  */
private[graft] object BucketLedger {

  /** One bucket committed by a pass: the caller's counters, in the order
    * of its counter names, and the wall time of the pass.
    */
  final case class Committed(bucket: Int, counts: Array[Long], wallMs: Long)

  /** The per-bucket counters of one pass. */
  final class Tally private[BucketLedger] (
      acc: CollectionAccumulator[(Int, Array[Long])], width: Int) extends Serializable {

    /** Passes `rows` through unchanged, adding each row's `add` to the
      * counters of its `bucket`; the task publishes them to the accumulator
      * once, when `rows` is exhausted.
      */
    def apply[A](rows: Iterator[A])(bucket: A => Int)(add: (A, Array[Long]) => Unit): Iterator[A] =
      new Iterator[A] {
        private val perBucket = new java.util.HashMap[Int, Array[Long]]()
        private var flushed = false
        def hasNext: Boolean = {
          val h = rows.hasNext
          if (!h && !flushed) {
            flushed = true
            perBucket.forEach((b, v) => acc.add((b, v)))
          }
          h
        }
        def next(): A = {
          val r = rows.next()
          add(r, perBucket.computeIfAbsent(bucket(r), _ => new Array[Long](width)))
          r
        }
      }
  }

  /** Runs (or resumes) a bucketed run of `input` into `dir` and returns the
    * buckets committed by THIS call (already-done buckets are skipped).
    *
    * `identity` is the ledger header's ordered fields (Int or String
    * values); it holds an Int `buckets` > 0. Its String values are embedded
    * in JSON verbatim, so they are restricted to a filename-like alphabet.
    * `frame` gets a pass's slice of `input` (its columns plus `bucket`) and
    * a tally with one slot per name in `counters`; it returns a frame with a
    * `bucket` column. `timed` adds the pass's wall time to each bucket line
    * as `wall_ms`.
    */
  def run(dir: String, identity: Seq[(String, Any)], input: DataFrame, maxBucketsPerPass: Int,
          counters: Seq[String], timed: Boolean = false)(
      frame: (DataFrame, Tally) => DataFrame): Seq[Committed] = {
    val buckets = identity.collectFirst { case ("buckets", n: Int) => n }
      .getOrElse(throw new IllegalArgumentException("a ledger header needs an Int buckets field"))
    require(buckets > 0, s"buckets must be positive; got $buckets")
    identity.foreach {
      case (k, s: String) => require(s.matches("[A-Za-z0-9._/-]*"),
        s"$k must match [A-Za-z0-9._/-]* (embedded in the ledger header); got '$s'")
      case _ =>
    }
    Files.createDirectories(Paths.get(dir))
    val ls = lines(dir)
    if (ls.isEmpty)
      append(dir, Seq((("header" -> 1) +: identity).map { case (k, v) => s""""$k":${json(v)}""" }
        .mkString("{", ",", "}")))
    else check(dir, ls, identity.map(_._1), identity)

    val done = doneIn(ls)
    val width = counters.size
    (0 until buckets).filterNot(done).grouped(math.max(1, maxBucketsPerPass)).toList.flatMap { group =>
      val t0 = System.nanoTime()
      val acc = new CollectionAccumulator[(Int, Array[Long])]()
      input.sparkSession.sparkContext.register(acc, "graft_bucket_ledger")
      val slice = input.withColumn("bucket", pmod(hash(col("doc_id")), lit(buckets)))
        .where(col("bucket").isInCollection(group))
      frame(slice, new Tally(acc, width))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(dir)
      val wallMs = (System.nanoTime() - t0) / 1000000
      val merged = new java.util.HashMap[Int, Array[Long]]()
      acc.value.forEach { case (b, v) =>
        val t = merged.computeIfAbsent(b, _ => new Array[Long](width))
        var i = 0; while (i < width) { t(i) += v(i); i += 1 }
      }
      val committed = group.map(b =>
        Committed(b, merged.getOrDefault(b, new Array[Long](width)), wallMs))
      append(dir, committed.map { c =>
        val fields = (s""""bucket":${c.bucket}""" +: counters.zip(c.counts).map {
          case (name, v) => s""""$name":$v"""
        }) ++ (if (timed) Seq(s""""wall_ms":${c.wallMs}""") else Nil)
        fields.mkString("{", ",", "}")
      })
      committed
    }
  }

  /** Fails unless `dir` holds a ledger whose header has exactly the fields
    * `keys` (which include `buckets`), agrees with `expect`, and whose every
    * bucket is committed: the check a reader of a staged table makes.
    */
  def requireComplete(dir: String, keys: Seq[String], expect: (String, Any)*): Unit = {
    val ls = lines(dir)
    require(ls.nonEmpty, s"no ledger at $dir")
    check(dir, ls, keys, expect)
    val done = doneIn(ls)
    val missing = (0 until header(ls)("buckets").toInt).filterNot(done)
    require(missing.isEmpty,
      s"run at $dir is incomplete (missing buckets: ${missing.take(8).mkString(",")}...)")
  }

  private def ledgerPath(dir: String) = Paths.get(dir, "_ledger.jsonl")

  private def lines(dir: String): Seq[String] = {
    val p = ledgerPath(dir)
    if (!Files.exists(p)) Nil
    else Files.readAllLines(p, StandardCharsets.UTF_8).toArray(Array.empty[String])
      .toSeq.filter(_.nonEmpty)
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s + "\""
    case n => n.toString
  }

  private val headerField = """"([A-Za-z_]+)":("[^"]*"|-?\d+)""".r

  /** The first line's fields after `"header":1`, as raw JSON values; empty
    * unless that line is a header.
    */
  private def header(ls: Seq[String]): ListMap[String, String] =
    if (!ls.head.startsWith("""{"header":1,""")) ListMap.empty
    else ListMap.from(headerField.findAllMatchIn(ls.head)
      .map(m => m.group(1) -> m.group(2)).filter(_._1 != "header"))

  private def check(dir: String, ls: Seq[String], keys: Seq[String],
                    expect: Seq[(String, Any)]): Unit = {
    val found = header(ls)
    require(found.keys.toSeq == keys,
      s"ledger at $dir does not start with a header of fields (${keys.mkString(", ")}): " +
        s"'${ls.head}'; run into an empty directory")
    def plain(raw: String) = raw.stripPrefix("\"").stripSuffix("\"")
    for ((k, v) <- expect if found(k) != json(v))
      throw new IllegalArgumentException(s"resume with $k=${plain(json(v))}, " +
        s"but the ledger was written with $k=${plain(found(k))}")
  }

  private val bucketLine = """"bucket"\s*:\s*(\d+)""".r

  private def doneIn(ls: Seq[String]): Set[Int] =
    ls.flatMap(l => bucketLine.findFirstMatchIn(l).map(_.group(1).toInt)).toSet

  // atomic commit: copy-on-write + rename (one rename per pass)
  private def append(dir: String, add: Seq[String]): Unit = {
    val p = ledgerPath(dir)
    val tmp = Paths.get(dir, "_ledger.tmp")
    val prev = if (Files.exists(p)) Files.readAllBytes(p) else Array.emptyByteArray
    Files.write(tmp, prev ++ add.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }
}
