package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExpressionColumns
import graft.extract._

/** Row model of the interleaved-documents table (BASELINE.json input_hint):
  * `kind` is "text" (HTML fragment in `text`) or "media" (opaque ref in
  * `media_ref`); `offset` is the byte offset in the logical concatenated
  * HTML stream.
  */
final case class InSpan(kind: String, text: String, media_ref: String, offset: Int)
final case class InterleavedDoc(doc_id: String, spans: Seq[InSpan])
final case class ExtractedDoc(doc_id: String, spans: Seq[InSpan], error: String)

/** Deterministic synthetic interleaved-document generator, driven by the
  * provided `documents` parquet table (TESTDATA.md) so DuckDB oracles can
  * recompute expected extraction output with plain SQL:
  *
  *  - boilerplate (head/script/style/nav/aside/footer/comment) wraps the
  *    document text, which is split into two `<p>` paragraphs;
  *  - `doc_id % 5` media placeholders are interleaved *inside* the
  *    paragraph text at deterministic offsets (they split text nodes);
  *  - text fragments are further split every ~97 bytes to exercise
  *    fragment-boundary invariance.
  *
  * Extraction invariant: concatenation of extracted text spans == the
  * original `text` column; media spans survive in order.
  */
object InterleavedGen {

  final case class DocRow(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  def preamble(docId: Long, lang: String, source: String): String =
    s"""<!doctype html><html><head><title>Doc $docId</title><meta charset="utf-8">""" +
      s"""<script>var docId=$docId;if(docId<0){document.write("<div>")}</script>""" +
      s"""<style>p{margin:0} /* $lang */</style></head><body>""" +
      s"""<nav><ul><li><a href="/$source/$docId">nav-$docId</a></li></ul></nav>""" +
      s"""<article data-doc="$docId"><p>"""

  val midPiece = "</p><p>"

  def postamble(docId: Long, lang: String): String =
    s"""</p></article><aside class="ad">ad-$docId</aside>""" +
      s"""<footer><span>footer-$docId</span> $lang</footer><!-- end $docId --></body></html>"""

  /** Media insertion points (char offsets into `text`), strictly inside. */
  def mediaCuts(docId: Long, len: Int): Seq[Int] = {
    val k = (docId % 5).toInt
    (1 to k).map(j => ((j.toLong * len) / (k + 1)).toInt)
      .filter(p => p > 0 && p < len).distinct
  }

  /** Build the ordered input spans for one document. */
  def spansFor(d: DocRow, fragBytes: Int = 97): Seq[InSpan] = {
    val text = if (d.text == null) "" else d.text
    val n1 = text.length / 2
    val cuts = mediaCuts(d.doc_id, text.length)

    // assemble (isText, payload) pieces in order: the text is walked once,
    // inserting the paragraph break at n1 and media at the cut positions
    // (paragraph break first on ties)
    val pieces = scala.collection.mutable.ArrayBuffer[(Boolean, String)]()
    pieces += ((true, preamble(d.doc_id, d.lang, d.source)))
    val positions = (cuts :+ n1).distinct.sorted
    var pos = 0
    var mediaIdx = 0
    for (p <- positions) {
      if (p > pos) pieces += ((true, text.substring(pos, p)))
      pos = p
      if (p == n1) pieces += ((true, midPiece))
      if (cuts.contains(p)) {
        pieces += ((false, s"media://${d.doc_id}/$mediaIdx"))
        mediaIdx += 1
      }
    }
    if (text.length > pos) pieces += ((true, text.substring(pos)))
    pieces += ((true, postamble(d.doc_id, d.lang)))

    // split text pieces every fragBytes and assign offsets
    val out = scala.collection.mutable.ArrayBuffer[InSpan]()
    var off = 0
    for ((isText, payload) <- pieces) {
      if (isText) {
        var i = 0
        while (i < payload.length) {
          val end = math.min(payload.length, i + fragBytes)
          val frag = payload.substring(i, end)
          out += InSpan("text", frag, "", off)
          off += frag.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
          i = end
        }
      } else {
        out += InSpan("media", "", payload, off)
      }
    }
    out.toSeq
  }

  /** The interleaved table for an sf dir, as a typed Dataset. */
  def table(spark: SparkSession, sfDir: String): Dataset[InterleavedDoc] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .as[DocRow]
      .map(d => InterleavedDoc(d.doc_id.toString, spansFor(d)))
  }

  /** Bench-only: the same table replicated `factor`x (deterministic ids)
    * to reach a corpus size where sustained throughput, not job overhead,
    * is measured. Partition count is scaled so each core gets several
    * splits (AQE-friendly, mirrors many-file scans at real scale).
    */
  def tableReplicated(spark: SparkSession, sfDir: String, factor: Int,
                      partitions: Int): Dataset[InterleavedDoc] = {
    import spark.implicits._
    // the replica range is the parallel (partitioned) side; the small docs
    // table is broadcast — expansion is shuffle-free and evenly spread
    val reps = spark.range(0, factor, 1, partitions).toDF("rep")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    reps.join(broadcast(docs))
      .select(($"doc_id" + $"rep" * 10000000L).as("doc_id"),
        $"text", $"lang", $"source", $"n_chars")
      .as[DocRow]
      .map(d => InterleavedDoc(d.doc_id.toString, spansFor(d)))
  }
}

/** The Spark-side extraction pipeline: the per-row engine as one
  * codegen'd Catalyst expression ([[ExtractInterleaved]]) projected over
  * the interleaved table, with per-thread engine reuse, optional salting
  * for balanced partitions, and per-partition metrics.
  *
  * Scale notes (100 TB design): the engine is row-local, so the plan has
  * NO shuffle — extraction runs map-only over the scan's file-split tasks
  * and parallelism equals input splits. Salting (`balanced`) adds one
  * round-robin shuffle for the rare case of pathological file-level skew;
  * AQE handles post-shuffle coalescing. Per-doc memory is bounded by the
  * document size; oversized docs should be length-capped upstream.
  */
object ExtractPipeline {

  /** Ledger/metrics "bytes" are UTF-8 octets, not chars — single source
    * of truth in [[graft.core.Utf8]] so metrics and the extractor's
    * buffer sizing can never drift apart.
    */
  private[spark] def utf8Bytes(s: String): Long = graft.core.Utf8.encodedLength(s)

  /** DataFrame-level extraction: the engine runs as a Catalyst expression
    * directly over columnar data (no encoder round-trip). The `spans`
    * column is replaced with the extracted spans and an `error` column is
    * appended; all other input columns pass through unchanged.
    */
  def extractDF(df: DataFrame,
                policy: ExtractPolicy = ExtractPolicy.Default): DataFrame = {
    val x = ExpressionColumns.column(
      ExtractInterleaved(ExpressionColumns.expression(col("spans")), policy))
    df.withColumn("_x", x)
      .withColumn("spans", col("_x.spans"))
      .withColumn("error", col("_x.error"))
      .drop("_x")
  }

  def extract(ds: Dataset[InterleavedDoc],
              policy: ExtractPolicy = ExtractPolicy.Default): Dataset[ExtractedDoc] = {
    import ds.sparkSession.implicits._
    extractDF(ds.toDF(), policy).as[ExtractedDoc]
  }

  /** Byte-aware balanced extraction for size-skewed corpora (SURVEY §4
    * physical-layout row). A hash repartition balances row counts, not
    * bytes: a handful of 100x documents land on random tasks and the
    * stage's wall clock becomes the unlucky task's. This runs a
    * size-histogram pre-pass (one cheap aggregate over per-doc octet
    * counts), derives the partition count from `targetBytesPerPartition`,
    * and builds an explicit partition key:
    *
    *  - giant docs (bytes >= 1/4 of the per-partition byte budget) are
    *    enumerated and striped round-robin, one per partition, in
    *    descending size order (LPT-style). The threshold bounds the giant
    *    COUNT by construction: at most 4x the partition count of them can
    *    exist, so the single-task enumeration window stays O(partitions)
    *    at any corpus size (a quantile-based threshold would make it
    *    O(corpus fraction) — unusable at 10^12 rows);
    *  - the small tail is hash-spread by doc_id (law of large numbers
    *    balances sub-threshold docs per task).
    *
    * The partition id is mapped EXACTLY onto shuffle partitions: hash
    * partitioning computes pmod(murmur3(key), P), so we precompute (on the
    * driver, O(P) probes) one key value per partition index and route each
    * row through that lookup — no sampling, no two ids colliding on one
    * task. Extraction then runs map-only. Documents larger than the target
    * byte budget cannot be split (extraction is per-row); they are still
    * isolated one-per-task.
    */
  def extractSizeBalanced(ds: Dataset[InterleavedDoc],
                          targetBytesPerPartition: Long = 64L << 20,
                          minPartitions: Int = 32,
                          policy: ExtractPolicy = ExtractPolicy.Default): Dataset[ExtractedDoc] = {
    val spark = ds.sparkSession
    import org.apache.spark.sql.expressions.Window
    // null-safe: a null spans array or null span text must not make the
    // byte count NULL (a NULL fails both threshold predicates below and
    // the document would silently vanish from the output)
    val withBytes = ds.toDF().withColumn("_bytes",
      coalesce(aggregate(col("spans"), lit(0L),
        (acc, s) => acc + coalesce(octet_length(s.getField("text")), lit(0))), lit(0L)))
    // pre-pass: one aggregate over the size column only
    val stats = withBytes.agg(
      sum(col("_bytes")).as("total"),
      avg(col("_bytes")).as("mean")).head()
    val total = if (stats.isNullAt(0)) 0L else stats.getLong(0)
    val mean = if (stats.isNullAt(1)) 0.0 else stats.getDouble(1)
    val numParts = math.max(minPartitions,
      math.ceil(total.toDouble / targetBytesPerPartition).toInt)
    // effective per-task byte budget (the explicit target, or what the
    // partition count implies); giants fill >= 1/4 of a task
    val budget = math.max(total.toDouble / numParts, 1.0)
    val giantThreshold = math.max(4.0 * mean, budget / 4.0)

    val giants = withBytes.where(col("_bytes") >= giantThreshold)
      .withColumn("_pid",
        ((row_number().over(Window.orderBy(col("_bytes").desc, col("doc_id"))) - 1)
          % numParts).cast("int"))
    val tail = withBytes.where(col("_bytes") < giantThreshold)
      .withColumn("_pid", pmod(hash(col("doc_id")), lit(numParts)).cast("int"))

    // key value per partition index such that pmod(murmur3(key), P) == index
    val keyFor = new Array[Int](numParts)
    val found = new Array[Boolean](numParts)
    var x = 0
    var remaining = numParts
    while (remaining > 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(x, 42)
      val p = ((h % numParts) + numParts) % numParts
      if (!found(p)) { found(p) = true; keyFor(p) = x; remaining -= 1 }
      x += 1
    }
    val keyed = giants.unionByName(tail)
      .withColumn("_key", element_at(array(keyFor.map(lit).toSeq: _*), col("_pid") + 1))
      .repartition(numParts, col("_key"))
      .drop("_bytes", "_pid", "_key")
    extract(keyed.as[InterleavedDoc](spark.implicits.newProductEncoder), policy)
  }
}
