package graft.spark

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import graft.extract.ExtractPolicy
import java.nio.charset.StandardCharsets

/** Resumable, bucketed extraction run with a per-partition lineage +
  * metrics ledger (the north rule's mid-table resume requirement), on the
  * [[BucketLedger]] protocol: all not-yet-done buckets are extracted in
  * ONE scan of the input and committed to the ledger only after the write
  * succeeds, so a killed job resumes mid-table with no duplicate or lost
  * documents, and the input is never re-read once per bucket (at 100 TB x
  * 1,000 buckets a per-bucket filter loop would read 100 PB). At real
  * scale the same pattern runs per Iceberg partition/file-group; buckets
  * here stand in for file-scan task groups.
  *
  * Ledger header `{"header":1,"buckets":N,"policy":"<id>"}`: a resume with
  * a different bucket count or extraction policy fails fast. Bucket lines
  *   {"bucket":i,"docs":n,"text_spans":n,"media_spans":n,"errors":n,
  *    "bytes":n,"wall_ms":n}
  * carry the per-bucket metrics, tallied while the rows stream to the
  * writer. `bytes` counts UTF-8 octets of extracted text; `wall_ms` is the
  * wall time of the pass that committed the bucket.
  */
object CheckpointedExtract {

  final case class BucketResult(bucket: Int, docs: Long, textSpans: Long,
                                mediaSpans: Long, errors: Long, bytes: Long, wallMs: Long)

  /** Policy identity for the ledger header: a 64-bit FNV-1a digest of an
    * explicit canonical serialization of every policy field. Unlike the
    * case-class hashCode this cannot silently change meaning if a future
    * field hashes by object identity, and 64 bits make an accidental
    * collision legitimizing a mismatched resume vanishingly unlikely.
    */
  private def policyId(policy: ExtractPolicy): String = {
    val canonical = Seq(
      "stripSelectors=" + policy.stripSelectors.mkString("[", ",", "]"),
      "keepRcData=" + policy.keepRcData,
      "keepCData=" + policy.keepCData,
      "dropWhitespaceOnlyNodes=" + policy.dropWhitespaceOnlyNodes,
      "strict=" + policy.strict,
      "maxDocBytes=" + policy.maxDocBytes
    ).mkString(";")
    var h = 0xcbf29ce484222325L
    canonical.getBytes(StandardCharsets.UTF_8).foreach { b =>
      h ^= (b & 0xffL); h *= 0x100000001b3L
    }
    f"$h%016x"
  }

  /** Run (or resume) an extraction over `docs` into `outDir`. Returns the
    * per-bucket results of THIS invocation (already-done buckets are
    * skipped). Fails fast if `buckets` is not positive, if `outDir` holds
    * a ledger of another kind of run, or if `buckets`/`policy` differ from
    * the original run recorded in the ledger header.
    */
  def run(docs: Dataset[InterleavedDoc], outDir: String, buckets: Int,
          policy: ExtractPolicy = ExtractPolicy.Default,
          maxBucketsPerPass: Int = Int.MaxValue): Seq[BucketResult] = {
    val spark = docs.sparkSession
    import spark.implicits._
    BucketLedger.run(outDir, Seq("buckets" -> buckets, "policy" -> policyId(policy)),
        docs.toDF(), maxBucketsPerPass,
        Seq("docs", "text_spans", "media_spans", "errors", "bytes"), timed = true) { (slice, tally) =>
      ExtractPipeline.extractDF(slice, policy)
        .select(col("doc_id"), col("spans"), col("error"), col("bucket"))
        .as[(String, Seq[InSpan], String, Int)]
        .mapPartitions(it => tally(it)(_._4) { (r, v) =>
          v(0) += 1
          r._2.foreach { s =>
            if (s.kind == "text") { v(1) += 1; v(4) += ExtractPipeline.utf8Bytes(s.text) }
            else v(2) += 1
          }
          if (r._3 != null) v(3) += 1
        })
        .toDF("doc_id", "spans", "error", "bucket")
    }.map(c => BucketResult(c.bucket, c.counts(0), c.counts(1), c.counts(2), c.counts(3),
      c.counts(4), c.wallMs))
  }
}
