package graft

import org.apache.spark.sql.SparkSession
import graft.spark._

/** spark-submit entry point for the extraction job:
  *
  *   spark-submit --class graft.ExtractJob <jar> \
  *     <input-table-path> <output-path> [buckets] [maxBucketsPerPass]
  *
  * Input: parquet/Iceberg-style table with
  * (doc_id string, spans array<struct<kind,text,media_ref,offset>>).
  * Output: extracted spans + error column, written as a resumable
  * bucketed run with a per-bucket lineage/metrics ledger — re-submitting
  * after a failure resumes mid-table. On a cluster, size `buckets` to a
  * few times the executor count; each bucket is an independently
  * committed slice. `maxBucketsPerPass` (default: all pending buckets in
  * one pass) bounds the work a kill mid-pass loses.
  */
object ExtractJob {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ExtractJob <input> <output> [buckets] [maxBucketsPerPass]")
    val input = args(0)
    val output = args(1)
    val buckets = if (args.length > 2) args(2).toInt else 256
    val perPass = if (args.length > 3) args(3).toInt else Int.MaxValue

    val spark = SparkSession.builder()
      .appName("graft-extract")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    import spark.implicits._

    val docs = spark.read.parquet(input).as[InterleavedDoc]
    val results = CheckpointedExtract.run(docs, output, buckets,
      maxBucketsPerPass = perPass)
    results.foreach(r => println(
      s"bucket=${r.bucket} docs=${r.docs} text=${r.textSpans} media=${r.mediaSpans} " +
        s"errors=${r.errors} bytes=${r.bytes} wall_ms=${r.wallMs}"))
    println(s"completed ${results.size} buckets (previously done: " +
      s"${buckets - results.size})")
    spark.stop()
  }
}
