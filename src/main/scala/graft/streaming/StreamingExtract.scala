package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.spark._
import graft.extract.ExtractPolicy

/** Structured Streaming surface of the extraction pipeline: document
  * micro-batches in, extracted span rows out — the Spark-native analog of
  * the reference's chunked streaming `write()/end()` API at corpus
  * granularity (whole documents arrive per row; the engine streams
  * internally).
  *
  * The transformation is the SAME typed code as the batch path
  * (ExtractPipeline.extract) — one engine, two execution modes.
  */
object StreamingExtract {

  val inputSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("kind", StringType),
      StructField("text", StringType),
      StructField("media_ref", StringType),
      StructField("offset", IntegerType)))))))

  /** Extraction over any streaming DataFrame with the interleaved schema. */
  def extractStream(docs: DataFrame,
                    policy: ExtractPolicy = ExtractPolicy.Default): Dataset[ExtractedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    ExtractPipeline.extract(docs.as[InterleavedDoc], policy)
  }

  /** File-source streaming job: watch `inDir` for parquet document
    * batches, extract, append to `outDir`, with per-batch metrics.
    */
  def run(spark: SparkSession, inDir: String, outDir: String,
          checkpointDir: String): StreamingQuery = {
    val in = spark.readStream.schema(inputSchema).parquet(inDir)
    extractStream(in).toDF()
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** In-stream exact dedup: drop re-crawled/duplicate documents by content
    * fingerprint inside the watermark horizon (state is bounded — the
    * classic requirement for unbounded streams; an unwatermarked
    * dropDuplicates would grow state forever at crawl scale). Emits the
    * first-seen row per fingerprint.
    */
  def dedupStream(docs: DataFrame, watermark: String = "30 seconds"): DataFrame = {
    docs
      .withColumn("fp", md5(to_json(col("spans"))))
      .withColumn("arrival", current_timestamp())
      .withWatermark("arrival", watermark)
      .dropDuplicatesWithinWatermark("fp")
      .drop("arrival")
  }

  /** The production ingest loop as a stream: each arriving micro-batch of
    * (doc_id, text) rows is verdict-checked against the STAGED corpus
    * shingle postings (d14's staged path — the corpus is shingled once,
    * resumably, never self-joined), verdicts append to `verdictDir`, and
    * NOVEL documents append to `acceptedDir` — the continuously-running
    * crawl-dedup front door. foreachBatch rather than a stateful
    * operator on purpose: the dedup state (corpus postings) is a
    * DISK-RESIDENT staged table shared with the batch path and updated
    * by periodic re-staging, not per-event stream state — at crawl scale
    * the postings do not fit (and do not belong) in streaming state
    * store. Delivery is AT-LEAST-ONCE (ADVICE r6): the writes are plain
    * appends, so a micro-batch retried after a mid-write failure can
    * duplicate rows in either sink; both sinks carry `batch_id` so a
    * downstream consumer can deduplicate on (batch_id, doc_id) — or
    * swap the appends for batchId-keyed partition overwrites for
    * exactly-once.
    */
  def ingestDedupStream(spark: SparkSession, inDir: String, stagedShingleDir: String,
                        verdictDir: String, acceptedDir: String, checkpointDir: String,
                        threshold: Double = 0.6): StreamingQuery = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val in = spark.readStream.schema(schema).parquet(inDir)
    in.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val verdicts = graft.spark.ops.DedupOps
          .incrementalDupVerdictStaged(spark, stagedShingleDir, batch.toDF(), threshold)
          .withColumn("batch_id", lit(batchId))
        verdicts.persist()
        try {
          verdicts.write.mode("append").parquet(verdictDir)
          batch.toDF()
            .join(verdicts.where(!col("is_dup")).select(col("doc_id")), "doc_id")
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(acceptedDir)
        } finally verdicts.unpersist()
        ()
      }
      .start()
  }
}
