package graft.spark.ops

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExpressionColumns
import graft.spark.BucketLedger

/** Deduplication operators for the training-data pipeline: exact
  * (hash-groupBy), word-shingle Jaccard similarity join, MinHash+LSH
  * (shingle -> 64 minhashes -> banded bucket-join -> exact-Jaccard
  * verify), and SimHash near-dup sketches.
  *
  * Scale notes: signatures are computed row-locally (no shuffle); the only
  * shuffles are the bucket/shingle joins, which key on high-cardinality
  * values (band hash, shingle) so they distribute evenly; candidate
  * verification joins the (small) pair list back to signatures and is
  * broadcast-friendly when the candidate count is small relative to the
  * corpus.
  */
object DedupOps {

  /** The dedup working set: documents plus deterministic near-duplicate
    * variants (every 17th word dropped, id offset by 1,000,000). Planted
    * variants give the near-dup operators guaranteed positives at any SF.
    */
  def withVariants(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    docs.unionAll(variantBatch(docs))
  }

  /** The variant half of [[withVariants]] alone — used as the "incoming
    * crawl batch" side of the incremental ingest dedup (d14), where the
    * originals play the existing corpus.
    */
  def variantBatch(docs: DataFrame): DataFrame =
    docs.select(
      (col("doc_id") + lit(1000000L)).as("doc_id"),
      array_join(filter(split(col("text"), " "),
        (x, i) => (i + lit(1)) % 17 =!= 0), " ").as("text"))

  /** Exact dedup: md5-keyed group, keep min doc_id. Map-side combine makes
    * this one shuffle of (hash -> partial min/count).
    */
  def exactDedup(base: DataFrame): DataFrame =
    base.groupBy(md5(encode(col("text"), "UTF-8")).as("fp"))
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))

  /** Word 3-gram shingle set as a column expression. Built with
    * arrays_zip over three shifted slices so the per-element lambda never
    * re-evaluates `split` (higher-order lambdas are interpreted; a lambda
    * referencing the tokens array would re-split the text per element).
    */
  def shingles(text: Column): Column = {
    val toks = split(text, " ")
    val n = size(toks)
    val z = arrays_zip(
      slice(toks, lit(1), greatest(n - 2, lit(0))),
      slice(toks, lit(2), greatest(n - 2, lit(0))),
      slice(toks, lit(3), greatest(n - 2, lit(0))))
    array_distinct(transform(z, s =>
      concat_ws(" ", s.getField("0"), s.getField("1"), s.getField("2"))))
  }

  /** Plain-Scala twin of [[shingles]] — bit-identical output for non-null
    * text (same empty-token handling as Spark's regex split with limit
    * -1, same keep-first distinct); null text maps to an EMPTY set where
    * the column expression would propagate NULL. Catalyst higher-order
    * lambdas are interpreted; shingling the whole corpus through them
    * dominated the cold path of every shingle-based operator.
    */
  def shingleSet(text: String): Array[String] = ngramSet(text, 3)

  /** Distinct word `n`-gram set (keep-first order), the [[shingleSet]]
    * generalization — same empty-token handling as Spark's split with
    * limit -1; null text maps to an empty set.
    */
  def ngramSet(text: String, n: Int): Array[String] = {
    val toks = if (text == null) Array("") else text.split(" ", -1)
    val count = toks.length - (n - 1)
    if (count <= 0) return Array.empty
    val seen = new java.util.LinkedHashSet[String](count * 2)
    var i = 0
    while (i < count) {
      var len = n - 1
      var j = 0
      while (j < n) { len += toks(i + j).length; j += 1 }
      val sb = new java.lang.StringBuilder(len)
      j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** Benchmark decontamination (the GPT-3/C4 recipe): a corpus document
    * is contaminated iff it shares at least one word `n`-gram (default
    * 13) with any benchmark document — such documents must be dropped
    * from training data so evals stay meaningful.
    *
    * Scale shape: the benchmark n-gram set is small by definition (eval
    * sets are megabytes against a 100 TB corpus), so it is broadcast and
    * the corpus side is ONE map-only scan (row-local n-grams + explode +
    * broadcast-hash semi-join) — no corpus shuffle except the final
    * per-doc distinct over the (rare) contaminated hits. Returns
    * (doc_id, contaminated) for every corpus document.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 13): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def grams(df: DataFrame) =
      Par.spreadBy(df.select(col("doc_id"), col("text")), col("doc_id"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) => (id, ngramSet(t, n)) })
        .toDF("doc_id", "grams")
    val bGrams = grams(benchmark).select(explode(col("grams")).as("g")).distinct()
    val hits = grams(corpus)
      .select(col("doc_id"), explode(col("grams")).as("g"))
      .join(broadcast(bGrams), "g")
      .select("doc_id").distinct()
      .withColumn("hit", lit(true))
    corpus.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("contaminated"))
  }

  /** d15: Bloom-filter decontamination — [[decontaminate]]'s scale path
    * for when the eval-set n-gram table outgrows a broadcast hash set
    * (multi-benchmark suites at 100 TB). The filter is built DISTRIBUTED
    * by Catalyst's own `BloomFilterAggregate` (the expression behind
    * Spark's runtime row-group filtering) over xxhash64(gram); only the
    * finished bit array (KB-MB) returns to the driver and is re-injected
    * as a foldable literal under `BloomFilterMightContain` — exactly how
    * Spark injects its runtime filters, so the probe is codegen'd inside
    * the corpus scan with NO join and NO shuffle on the corpus side.
    *
    * Determinism/gating (the t18 logic): Bloom merge ORs bits, so the
    * filter is identical under any partitioning for fixed sizing; "no
    * false negatives" is structural, and the emitted `bloom_hit` column
    * equals the exact verdict whenever the sized false-positive rate
    * (~1e-9 at the default 2^22 bits for eval-scale gram counts) doesn't
    * fire — the exact side is computed alongside purely as the gate.
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, n: Int = 13,
      estItems: Long = 1L << 19, numBits: Long = 1L << 22): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def grams(df: DataFrame) =
      Par.spreadBy(df.select(col("doc_id"), col("text")), col("doc_id"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) => (id, ngramSet(t, n)) })
        .toDF("doc_id", "grams")
    val bGrams = grams(benchmark).select(explode(col("grams")).as("g")).distinct()
    val bloom = evalGramBloom(benchmark, n, estItems, numBits)
    val probed = grams(corpus)
      .select(col("doc_id"), explode(col("grams")).as("g"))
      .withColumn("bh", ExpressionColumns.column(BloomFilterMightContain(
        ExpressionColumns.expression(lit(bloom)),
        ExpressionColumns.expression(xxhash64(col("g"))))))
      .join(broadcast(bGrams.withColumn("ex", lit(true))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(max(coalesce(col("ex"), lit(false))).as("ex"), max(col("bh")).as("bh"))
    corpus.select(col("doc_id")).join(probed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ex"), lit(false)).as("contaminated"),
        coalesce(col("bh"), lit(false)).as("bloom_hit"),
        (coalesce(col("bh"), lit(false)) ||
          !coalesce(col("ex"), lit(false))).as("no_false_neg"))
  }

  /** The distributed eval-set Bloom build shared by [[decontaminateBloom]]
    * and the streaming probe: distinct row-local grams -> xxhash64 ->
    * BloomFilterAggregate; only the finished bit array (KB-MB) reaches
    * the driver.
    */
  def evalGramBloom(benchmark: DataFrame, n: Int,
      estItems: Long, numBits: Long): Array[Byte] = {
    val spark = benchmark.sparkSession
    import spark.implicits._
    benchmark.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (_, t) => ngramSet(t, n) })
      .toDF("grams")
      .select(explode(col("grams")).as("g")).distinct()
      .select(xxhash64(col("g")).as("h"))
      .agg(ExpressionColumns.column(new BloomFilterAggregate(
        ExpressionColumns.expression(col("h")), Literal(estItems), Literal(numBits))
        .toAggregateExpression()))
      .head().getAs[Array[Byte]](0)
  }

  // ---- session memos (see SessionMemo for keys, bound and release) ----
  // Clear cascade: shingles -> grams, postings, pairs, embedding pairs;
  // pairs -> cluster ids.
  private val ccMemo = SessionMemo.frames()
  private val pairsMemo = SessionMemo.frames(ccMemo)
  private val gramMemo = SessionMemo.frames()
  private val postingsMemo = SessionMemo.frames()
  private val embPairsMemo = SessionMemo.frames()
  private val shingleMemo =
    SessionMemo.frames(gramMemo, postingsMemo, pairsMemo, embPairsMemo)

  /** Clears every text-derived memo (shingles and everything built on them). */
  def clearShingleCache(): Unit = shingleMemo.clear()
  def clearPostingsCache(): Unit = postingsMemo.clear()
  /** Clears the pair lists and the cluster-id memo built on them. */
  def clearPairsCache(): Unit = pairsMemo.clear()
  def clearEmbPairsCache(): Unit = embPairsMemo.clear()

  /** The shingled corpus (doc_id, text, sh), persisted (MEMORY_AND_DISK)
    * and memoized by the base plan: MinHash verification and the inverted
    * index each consume it from several subtrees, and an unpersisted
    * DataFrame subtree recomputes its whole lineage (scan + split +
    * shingle) once per consumer. At 100 TB this is a staging table write
    * ([[stageShingles]]).
    */
  private def shingled(base: DataFrame): DataFrame =
    shingleMemo.getOrBuild(base.sparkSession, base.queryExecution.analyzed.semanticHash()) {
      val spark = base.sparkSession
      import spark.implicits._
      base.select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, t) => (id, t, shingleSet(t)) })
        .toDF("doc_id", "text", "sh")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  // ---- shingle staging table (resumable; the 100 TB path) ----------------

  /** Stage the shingled corpus to a parquet staging table on the
    * [[BucketLedger]] protocol, so a killed shingling job resumes
    * mid-corpus without re-shingling completed buckets. This is the
    * "staging table write" the in-memory [[shingled]] view's doc points
    * at: at 100 TB the shingle set is written ONCE and every dedup
    * consumer (d2's inverted index, d3's signatures + verification)
    * reads the staged parquet instead of re-deriving it per query.
    *
    * Layout: parquet files under `dir/bucket=i/` with columns (doc_id, sh);
    * bucket = pmod(hash(doc_id), buckets). Ledger header
    * {"header":1,"buckets":N,"source":"<id>"} (a resume with a different
    * bucketing or source fails fast), then one {"bucket":i,"docs":n} line
    * per committed bucket.
    *
    * Returns (bucket, docs) for buckets completed by THIS invocation —
    * already-done buckets are never recomputed (resume evidence). The
    * `docs` counts are informational: resume keys on bucket presence only.
    */
  def stageShingles(base: DataFrame, dir: String, buckets: Int = 64,
                    maxBucketsPerPass: Int = Int.MaxValue,
                    sourceId: String = ""): Seq[(Int, Long)] = {
    val spark = base.sparkSession
    import spark.implicits._
    BucketLedger.run(dir, Seq("buckets" -> buckets, "source" -> sourceId),
        base, maxBucketsPerPass, Seq("docs")) { (slice, tally) =>
      slice.select(col("doc_id"), col("text"), col("bucket")).as[(Long, String, Int)]
        .mapPartitions(it => tally(it)(_._3)((_, v) => v(0) += 1)
          .map { case (id, t, b) => (id, shingleSet(t), b) })
        .toDF("doc_id", "sh", "bucket")
    }.map(c => (c.bucket, c.counts(0)))
  }

  /** Read a staged shingle table (doc_id, sh) written by [[stageShingles]].
    * Fails if any bucket is missing from the ledger (partial staging).
    */
  def stagedShingles(spark: SparkSession, dir: String): DataFrame = {
    BucketLedger.requireComplete(dir, Seq("buckets", "source"))
    spark.read.parquet(dir).select(col("doc_id"), col("sh"))
  }

  /** Default document-frequency cap on inverted-index shingle buckets: a
    * shingle shared by more than this many documents (boilerplate at web
    * scale) is dropped instead of expanding O(df^2) pairs in one row. The
    * number of dropped shingles is surfaced as an observed metric
    * ("dropped_shingles") on the result's query execution.
    */
  val DefaultShingleDfCap = 1000

  /** Lazy ordered-pair iterator over a bucket's sorted id list: O(1)
    * memory per bucket instead of buffering the full O(n^2/2) tuple list
    * in an ArrayBuffer before the runtime consumes it (a 10k-member
    * bucket would otherwise stage ~50M tuples / ~1.6 GB in one task).
    */
  private[ops] def orderedPairs(ids: Seq[Long]): Iterator[(Long, Long)] =
    orderedPairsOf(ids)

  /** [[orderedPairs]] generalized to members carrying a payload (e.g.
    * (doc_id, simhash) structs): lazily yields every ordered pair of a
    * bucket's members in input order, O(1) memory per bucket.
    */
  private[ops] def orderedPairsOf[T](items: Seq[T]): Iterator[(T, T)] = {
    val arr = items.toIndexedSeq
    val n = arr.length
    new scala.collection.AbstractIterator[(T, T)] {
      private var i = 0
      private var j = 1
      def hasNext: Boolean = i < n - 1
      def next(): (T, T) = {
        val out = (arr(i), arr(j))
        j += 1
        if (j >= n) { i += 1; j = i + 1 }
        out
      }
    }
  }

  /** Positional k-grams of one document (1-based positions), shared by
    * the in-memory and staged span-dedup paths.
    */
  private def posGramsOf(t: String, k: Int): Iterator[(Int, String)] = {
    val toks = if (t == null) Array("") else t.split(" ", -1)
    val cnt = toks.length - (k - 1)
    if (cnt <= 0) Iterator.empty
    else Iterator.range(1, cnt + 1).map { i =>
      val sb = new java.lang.StringBuilder
      var j = i - 1
      val e = i - 1 + k
      while (j < e) { if (j > i - 1) sb.append(' '); sb.append(toks(j)); j += 1 }
      (i, sb.toString)
    }
  }

  /** The corpus positional-gram table (doc_id, pos, g) with grams
    * exchanged as xxhash64 keys — one row-local scan, no HOFs. Memoized
    * per session: d12, d13 and p2 each consume the SAME gram table (at
    * 100 TB it is staged once via [[stageSpanGrams]]; in-session the memo
    * cuts two redundant tokenize+hash scans). Grams are text-derived, so
    * [[clearShingleCache]] clears them too.
    */
  private def posGrams(base: DataFrame, k: Int): DataFrame =
    gramMemo.getOrBuild(base.sparkSession, (base.queryExecution.analyzed.semanticHash(), k)) {
      val spark = base.sparkSession
      import spark.implicits._
      base.select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, t) =>
          posGramsOf(t, k).map { case (i, g) => (id, i, g) }
        })
        .toDF("doc_id", "pos", "gram")
        .select(col("doc_id"), col("pos"), xxhash64(col("gram")).as("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** d12: SUBSTRING-level span dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): find every token
    * position whose `k`-gram occurs more than once ANYWHERE in the
    * corpus (other documents or elsewhere in the same one), and merge
    * the hit positions into maximal duplicated spans per document —
    * the operator that doc-level dedup (d1/d2/d3) cannot express:
    * boilerplate paragraphs inside otherwise-unique pages.
    *
    * Plan shape (one corpus scan, two shuffles, no self-join, no cache):
    * positional k-grams are generated row-locally in `mapPartitions`
    * (Catalyst higher-order lambdas are interpreted — the same reason
    * [[ngramSet]] exists) and exchanged as xxhash64 keys (8 bytes, not
    * ~80-byte gram strings; a 64-bit collision marks a false duplicate
    * span — negligible below ~2^30 distinct grams, same trust level as
    * the d2/d3 shingle keys); duplication is decided by a count window
    * PARTITIONED BY GRAM (high cardinality — one shuffle and no second
    * scan of the gram generation, where a join-back against a
    * `HAVING count>1` aggregate would recompute or cache the lineage);
    * per-doc sorted positions then fold into merged `[p, p+k)` intervals
    * with a single `aggregate` expression (adjacent duplicated runs
    * merge: gap <= k). Returns (doc_id, dup_spans, dup_tokens) for
    * EVERY corpus document, zeros for clean ones.
    */
  def spanDedup(base: DataFrame, k: Int = 13): DataFrame =
    spanDedupFrom(base, posGrams(base, k), k)

  /** d12 core over an arbitrary gram source ((doc_id, pos, g) — in-memory
    * or the staged table).
    */
  def spanDedupFrom(base: DataFrame, grams: DataFrame, k: Int): DataFrame = {
    val hits = grams
      .withColumn("c", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")))
      .filter(col("c") > 1)
      .select(col("doc_id"), col("pos"))
    val merged = hits.groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), expr(
        s"""aggregate(ps,
              named_struct('ns', 0, 'nt', 0, 'st', -1, 'en', -1),
              (a, p) -> CASE
                WHEN a.st < 0 THEN named_struct('ns', a.ns, 'nt', a.nt, 'st', p, 'en', p + $k)
                WHEN p <= a.en THEN named_struct('ns', a.ns, 'nt', a.nt, 'st', a.st, 'en', p + $k)
                ELSE named_struct('ns', a.ns + 1, 'nt', a.nt + (a.en - a.st), 'st', p, 'en', p + $k)
              END,
              a -> CASE WHEN a.st < 0 THEN named_struct('ns', a.ns, 'nt', a.nt)
                        ELSE named_struct('ns', a.ns + 1, 'nt', a.nt + (a.en - a.st)) END
            )""").as("m"))
    base.select(col("doc_id"))
      .join(merged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("m.ns"), lit(0)).as("dup_spans"),
        coalesce(col("m.nt"), lit(0)).as("dup_tokens"))
  }

  /** d13: span-dedup APPLY — the second half of [[spanDedup]]: rewrite
    * every document with all-but-the-globally-first occurrence of each
    * duplicated `k`-gram run REMOVED (Lee et al.'s "keep one copy"
    * policy; global order = (doc_id, pos), so the earliest occurrence in
    * the lowest-id document survives and every later copy is excised).
    *
    * Same plan skeleton as [[spanDedup]] with `row_number` instead of
    * `count` in the per-gram window (rk > 1 marks removable
    * occurrences); removal positions merge into maximal spans with the
    * same fold, and the cleaned text is rebuilt from the tokens outside
    * the spans with built-in HOFs (filter/exists/transform over the
    * bound token array — no UDF). Whitespace-lossless for the ' '
    * split/join pair (empty tokens survive the roundtrip). Returns
    * (doc_id, clean_text, removed_tokens).
    */
  def spanDedupApply(base: DataFrame, k: Int = 13): DataFrame =
    spanDedupApplyFrom(base, posGrams(base, k), k)

  /** d13 core over an arbitrary gram source (see [[spanDedupFrom]]). */
  def spanDedupApplyFrom(base: DataFrame, grams: DataFrame, k: Int): DataFrame = {
    val removable = grams
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")
          .orderBy(col("doc_id"), col("pos"))))
      .filter(col("rk") > 1)
      .select(col("doc_id"), col("pos"))
    val spans = removable.groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), expr(
        s"""aggregate(ps,
              named_struct('sp', CAST(array() AS ARRAY<STRUCT<st: INT, en: INT>>), 'st', -1, 'en', -1),
              (a, p) -> CASE
                WHEN a.st < 0 THEN named_struct('sp', a.sp, 'st', p, 'en', p + $k)
                WHEN p <= a.en THEN named_struct('sp', a.sp, 'st', a.st, 'en', p + $k)
                ELSE named_struct('sp', array_append(a.sp, named_struct('st', a.st, 'en', a.en)), 'st', p, 'en', p + $k)
              END,
              a -> CASE WHEN a.st < 0 THEN a.sp
                        ELSE array_append(a.sp, named_struct('st', a.st, 'en', a.en)) END
            )""").as("sp"))
    base.select(col("doc_id"), col("text"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"), col("sp"),
        split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        when(col("sp").isNull, col("text")).otherwise(expr(
          """array_join(transform(
               filter(sequence(1, size(tk)),
                      i -> !exists(sp, v -> i >= v.st AND i < v.en)),
               i -> element_at(tk, i)), ' ')""")).as("clean_text"),
        when(col("sp").isNull, lit(0)).otherwise(expr(
          "aggregate(sp, 0, (a, v) -> a + (v.en - v.st))"))
          .as("removed_tokens"))
  }

  /** Stage the POSITIONAL k-gram table (doc_id, pos, g) for span dedup
    * on the same [[BucketLedger]] protocol as [[stageShingles]]. The header
    * {"header":1,"kind":"posgrams","buckets":N,"k":K,"source":"<id>"}
    * also records `k` — a resume with a different gram width would
    * silently mix gram spaces, so it fails fast. Gram strings never reach
    * disk: they are hashed by the same `xxhash64` column expression the
    * in-memory path uses, inside the staging job.
    */
  def stageSpanGrams(base: DataFrame, dir: String, k: Int = 13, buckets: Int = 64,
                     maxBucketsPerPass: Int = Int.MaxValue,
                     sourceId: String = ""): Seq[(Int, Long)] = {
    val spark = base.sparkSession
    import spark.implicits._
    BucketLedger.run(dir,
        Seq("kind" -> "posgrams", "buckets" -> buckets, "k" -> k, "source" -> sourceId),
        base, maxBucketsPerPass, Seq("docs")) { (slice, tally) =>
      slice.select(col("doc_id"), col("text"), col("bucket")).as[(Long, String, Int)]
        .mapPartitions(it => tally(it)(_._3)((_, v) => v(0) += 1)
          .flatMap { case (id, t, b) => posGramsOf(t, k).map { case (i, g) => (id, i, g, b) } })
        .toDF("doc_id", "pos", "gram", "bucket")
        .select(col("doc_id"), col("pos"), xxhash64(col("gram")).as("g"), col("bucket"))
    }.map(c => (c.bucket, c.counts(0)))
  }

  /** Read a staged positional-gram table written by [[stageSpanGrams]];
    * fails on partial staging or a gram-width mismatch.
    */
  def stagedSpanGrams(spark: SparkSession, dir: String, k: Int = 13): DataFrame = {
    BucketLedger.requireComplete(dir,
      Seq("kind", "buckets", "k", "source"), "kind" -> "posgrams", "k" -> k)
    spark.read.parquet(dir).select(col("doc_id"), col("pos"), col("g"))
  }

  /** d12 over a staged gram table — the 100 TB path: shingle the corpus
    * once (resumably), then every span-dedup pass reads the staged
    * parquet instead of re-tokenizing 100 TB of text.
    */
  def spanDedupStaged(base: DataFrame, dir: String, k: Int = 13): DataFrame =
    spanDedupFrom(base, stagedSpanGrams(base.sparkSession, dir, k), k)

  /** d13 over a staged gram table (see [[spanDedupStaged]]). */
  def spanDedupApplyStaged(base: DataFrame, dir: String, k: Int = 13): DataFrame =
    spanDedupApplyFrom(base, stagedSpanGrams(base.sparkSession, dir, k), k)

  /** Exact n-gram Jaccard similarity join via shingle inverted index.
    * Plan shape: the inverted index (shingle hash -> sorted doc ids) is
    * read from the session postings memo ([[postingsOf]], a row-format
    * localCheckpoint, so a `Scan ExistingRDD` leaf) -> buckets over
    * `dfCap` dropped (observed) -> each bucket's ordered pairs expanded in
    * place -> co-occurrences counted per pair -> joined to per-doc set
    * sizes, read from the persisted shingle view as a column expression
    * -> Jaccard filter. The explode + group-by that builds the index
    * runs once per session, when the memo is built, not in this plan
    * (PlanSpec pins no Generate node). Avoids the naive self-join, which
    * would recompute and shuffle the exploded table twice. Returns
    * (id_a, id_b, jaccard).
    */
  def ngramJaccardPairs(base: DataFrame, threshold: Double,
                        dfCap: Int = DefaultShingleDfCap): DataFrame = {
    // Fed from the postings memo SINCE the memo became a row-format
    // localCheckpoint (round 7, measured three ways): against the
    // original columnar persist() memo, reading the array-valued
    // postings back out of cached column batches cost MORE than
    // recomputing (steady ran slower than cold) and inline won; against
    // the final localCheckpoint memo an interleaved same-JVM A/B read
    // memo ~1.35 s vs inline ~1.65 s median AND the inline path's
    // transient 4-5 s GC-burst spikes (the explode+groupBy exchange)
    // disappeared entirely.
    val withSh = shingled(base).select(col("doc_id"), col("sh"))
    ngramJaccardPairsCore(withSh, postingsOf(withSh), threshold, dfCap)
  }

  /** Session-scoped shingle-POSTINGS memo (round 7): the inverted index
    * (xxhash64(shingle) -> sorted member list) is the shared expensive
    * subplan of d2, d2b, d14 and d17 — each execution was re-running the
    * explode + groupBy exchange over every shingle occurrence. The
    * production analog is [[stageShingles]]: postings are derived once
    * per corpus and every consumer reads them. Keyed on the shingled
    * view's plan. The `*Staged` paths BYPASS this memo on purpose — a
    * re-staged directory must be re-read (the staging specs re-stage
    * in-session). Consumers apply their own df-cap filters and `observe`
    * metrics over the (vocabulary-sized) memoized table, so every op's
    * observed metrics still fire on every execution.
    */
  private def postingsOf(withSh: DataFrame): DataFrame =
    postingsMemo.getOrBuild(withSh.sparkSession, withSh.queryExecution.analyzed.semanticHash()) {
      // materialized as a LAZY localCheckpoint rather than persist()
      // (round 7): persist registers the plan fragment with the
      // CacheManager, which then silently substituted the COLUMNAR
      // cache into d2/d2b's structurally identical inline postings
      // subplans — and deserializing the array-valued buckets out of
      // cached column batches made their pair expansion ~2x slower
      // than recomputing. A checkpoint is a LogicalRDD (row format,
      // never pattern-matched into other plans): row reads are fast
      // enough that d2/d2b now feed from here too (A/B evidence at
      // [[ngramJaccardPairs]]). Its blocks live while any DataFrame
      // references the RDD (a held d2 result included); eviction only
      // drops it from the memo.
      rawPostings(withSh).localCheckpoint(false)
    }

  /** The inverted index itself: every bucket kept (consumers filter),
    * members sorted for deterministic in-row pair expansion. The
    * exchange keys on xxhash64 of the shingle, not the string — 8 bytes
    * instead of ~20-char trigrams (collision odds documented at
    * [[ngramJaccardPairsCore]]).
    */
  private def rawPostings(withSh: DataFrame): DataFrame =
    withSh.select(col("doc_id"), explode(col("sh")).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("sh"))
      .groupBy("sh").agg(sort_array(collect_list(col("doc_id"))).as("ids"))

  /** d18: PAIR EVIDENCE — the dedup explainability row: for every
    * near-dup pair, the number of shared shingles and the
    * lexicographically first one (the "why were these deduped" answer
    * an ops console shows). The memoized pair list is the SMALL side of
    * both joins (broadcast), so the corpus is never shuffled — two
    * passes over the persisted shingle table, each map-side.
    */
  def pairEvidence(base: DataFrame, threshold: Double): DataFrame = {
    val sh = shingled(base).select(col("doc_id"), col("sh"))
    val pairs = minhashLshPairs(base, threshold).select(col("id_a"), col("id_b"))
    val withA = sh.join(broadcast(pairs), col("doc_id") === col("id_a"))
      .select(col("id_a"), col("id_b"), col("sh").as("sh_a"))
    val both = sh.join(broadcast(withA), col("doc_id") === col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh").as("sh_b"))
    val common = array_intersect(col("sh_a"), col("sh_b"))
    both.select(col("id_a"), col("id_b"),
      size(common).as("n_common"),
      array_min(common).as("top_shingle"))
  }

  /** d17: shingle-postings SKEW AUDIT — the capacity-planning numbers
    * behind the df-cap design: distinct shingles, the hottest shingle's
    * document frequency, singleton/pairable/capped bucket counts, and
    * `pair_work` = sum over pairable buckets of df*(df-1)/2 — the EXACT
    * candidate-pair fan-out the capped dedup join will materialize.
    * Run this BEFORE a 100 TB dedup pass to size the shuffle and pick
    * the cap; reuses the memoized shingle table (no extra corpus scan),
    * then one exchange on the shingle key + a single-row aggregate.
    */
  def shingleSkewAudit(base: DataFrame,
      dfCap: Int = DefaultShingleDfCap): DataFrame = {
    // round 7: derived from the memoized postings table the capped join
    // actually uses (hash-keyed — the audit sizes THAT join, and the
    // counts are identical absent a 64-bit collision, which would make
    // d2's own oracle mismatch first)
    val withSh = shingled(base).select(col("doc_id"), col("sh"))
    val posts = postingsOf(withSh).select(size(col("ids")).cast("long").as("df"))
    posts.agg(
        count(lit(1)).as("n_shingles"),
        max(col("df")).cast("int").as("max_df"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_singleton"),
        sum(when(col("df").between(2, dfCap), 1L).otherwise(0L)).as("n_pairable"),
        sum(when(col("df") > dfCap, 1L).otherwise(0L)).as("n_capped"),
        sum(when(col("df").between(2, dfCap),
          col("df") * (col("df") - 1)).otherwise(0L)).as("pw2"))
      .select(col("n_shingles"), col("max_df"), col("n_singleton"),
        col("n_pairable"), col("n_capped"),
        expr("pw2 div 2").as("pair_work"))
  }

  /** d2 over a pre-staged shingle table (see [[stageShingles]]): the
    * 100 TB shape — the corpus is shingled once, resumably, and the join
    * reads the staged parquet (columnar, re-readable per consumer with no
    * recompute or executor-storage pin).
    */
  def ngramJaccardPairsStaged(spark: SparkSession, dir: String, threshold: Double,
                              dfCap: Int = DefaultShingleDfCap): DataFrame = {
    val withSh = stagedShingles(spark, dir)
    ngramJaccardPairsCore(withSh, rawPostings(withSh), threshold, dfCap)
  }

  /** Core of d2 given a postings table (memoized or freshly built).
    * Keying on xxhash64: a 64-bit collision would need ~2^32 distinct
    * shingles to appear at even odds; at that point inter counts drift
    * by at most 1.
    */
  private def ngramJaccardPairsCore(withSh: DataFrame, posts: DataFrame,
                                    threshold: Double, dfCap: Int): DataFrame = {
    val sizes = withSh.select(col("doc_id"), size(col("sh")).as("set_size"))
    val spark = withSh.sparkSession
    import spark.implicits._
    val inverted = posts
      .observe("ngram_shingle_buckets",
        sum(when(size(col("ids")) > dfCap, 1L).otherwise(0L)).as("dropped_shingles"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= dfCap)
    // ordered pair expansion inside the row (df is bounded; no skew
    // blowup), streamed lazily so no bucket's pair list is buffered
    val pairs = inverted.select(col("ids")).as[Seq[Long]]
      .flatMap(ids => orderedPairs(ids))
      .toDF("id_a", "id_b")
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("set_size", "size_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("set_size", "size_b"), "id_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("size_a") + col("size_b") - col("inter")), 4))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Default per-bucket member cap for [[ngramJaccardPairsCapped]]: each
    * shingle bucket expands pairs only among its first this-many members
    * (ascending doc_id), bounding per-bucket pair output to C(cap, 2)
    * regardless of duplicate-cluster multiplicity.
    */
  val DefaultPairMemberCap = 64

  /** d2b: bounded-output variant of [[ngramJaccardPairs]]. Identical
    * inverted-index plan and `dfCap` whole-bucket drop, but pair
    * expansion inside each kept bucket is limited to the bucket's first
    * `memberCap` members (ascending doc_id — deterministic). Co-occurrence
    * counts (`inter`) can therefore only shrink vs d2, so the emitted
    * jaccard is a LOWER BOUND and pairs whose overlap lives beyond the
    * cap are missing — by definition: a web-scale duplicate cluster of n
    * docs appears in ~every shared shingle bucket, and exact enumeration
    * (d2) emits O(n^2) rows per cluster where this emits at most
    * C(memberCap, 2). Buckets that were member-capped are surfaced via
    * the observed metric "capped_shingle_buckets" (0 means the result
    * equals d2 exactly). Use d2 for verification-scale exactness, d3+d10
    * for web-scale dedup, and d2b when bounded exact-Jaccard evidence on
    * cluster HEADS (lowest-id members) is wanted at scale.
    */
  def ngramJaccardPairsCapped(base: DataFrame, threshold: Double,
                              memberCap: Int = DefaultPairMemberCap,
                              dfCap: Int = DefaultShingleDfCap): DataFrame = {
    // postings memo, same evidence as [[ngramJaccardPairs]]
    val withSh = shingled(base).select(col("doc_id"), col("sh"))
    val sizes = withSh.select(col("doc_id"), size(col("sh")).as("set_size"))
    val spark = withSh.sparkSession
    import spark.implicits._
    val inverted = postingsOf(withSh)
      .observe("ngram_capped_buckets",
        sum(when(size(col("ids")) > dfCap, 1L).otherwise(0L)).as("dropped_shingles_capped"),
        sum(when(size(col("ids")).between(memberCap + 1, dfCap), 1L).otherwise(0L))
          .as("capped_shingle_buckets"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= dfCap)
      // the member cap: first `memberCap` ids of the (already sorted) list
      .select(slice(col("ids"), 1, memberCap).as("ids"))
    val pairs = inverted.select(col("ids")).as[Seq[Long]]
      .flatMap(ids => orderedPairs(ids)) // lazy: O(1) memory per bucket
      .toDF("id_a", "id_b")
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("set_size", "size_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("set_size", "size_b"), "id_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("size_a") + col("size_b") - col("inter")), 4))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** d14: incremental ingest dedup — the shape a 100 TB pipeline runs on
    * every new crawl: the existing corpus is shingled ONCE (staged via
    * [[stageShingles]] at scale) and each incoming batch is verified
    * against it, producing one verdict row per batch document:
    * `(doc_id, is_dup, dup_of, jaccard)` where `dup_of` is the minimum-id
    * corpus document among those with the maximal (4-dp-rounded) Jaccard
    * >= `threshold`; non-dup rows carry null `dup_of`/`jaccard`. Unlike
    * d2/d2b/d3 (intra-corpus PAIRS) the output is one row per batch doc —
    * the corpus never joins against itself, so output is bounded by the
    * batch size regardless of corpus-side duplicate-cluster multiplicity.
    *
    * Plan shape: corpus postings = one explode + groupBy keyed on
    * xxhash64(shingle) (8-byte exchange); postings with corpus document
    * frequency > `dfCap` (boilerplate shingles, exactly the candidate
    * fan-out killers at web scale) are dropped whole and surfaced via the
    * observed metric "dropped_corpus_shingles". The batch side is
    * exploded once and hash-joined; candidate counts group on
    * (batch_id, corpus_id) — bounded by true near-dup candidates — then
    * set sizes join in as column expressions (no second explode) and the
    * per-batch-doc argmax is a single struct max (jaccard desc, corpus id
    * asc via negation), no window.
    */
  def incrementalDupVerdict(corpus: DataFrame, batch: DataFrame, threshold: Double,
                            dfCap: Int = DefaultShingleDfCap): DataFrame = {
    val corpusSh = shingled(corpus).select(col("doc_id"), col("sh"))
    incrementalDupVerdictCore(corpusSh, postingsOf(corpusSh), batch, threshold, dfCap)
  }

  /** d14 over a pre-staged corpus shingle table (see [[stageShingles]]) —
    * the production shape: stage the corpus once, run every ingest batch
    * against the staged parquet with no corpus re-shingling.
    */
  def incrementalDupVerdictStaged(spark: SparkSession, dir: String, batch: DataFrame,
                                  threshold: Double,
                                  dfCap: Int = DefaultShingleDfCap): DataFrame = {
    val corpusSh = stagedShingles(spark, dir)
    incrementalDupVerdictCore(corpusSh, rawPostings(corpusSh), batch, threshold, dfCap)
  }

  private def incrementalDupVerdictCore(corpusSh: DataFrame, posts: DataFrame,
                                        batch: DataFrame,
                                        threshold: Double, dfCap: Int): DataFrame = {
    val cSizes = corpusSh.select(col("doc_id").as("cid"), size(col("sh")).as("size_c"))
    val bSh = shingled(batch).select(col("doc_id"), col("sh"))
    val bSizes = bSh.select(col("doc_id").as("bid"), size(col("sh")).as("size_b"))
    // single-member postings are kept (unlike the intra-corpus pair ops'
    // `> 1` floor): a batch doc can match a corpus doc through a shingle
    // no OTHER corpus doc shares
    val postings = posts
      .observe("incr_corpus_postings",
        sum(when(size(col("ids")) > dfCap, 1L).otherwise(0L)).as("dropped_corpus_shingles"))
      .where(size(col("ids")) <= dfCap)
    val bExploded = bSh.select(col("doc_id").as("bid"), explode(col("sh")).as("sh"))
      .select(col("bid"), xxhash64(col("sh")).as("sh"))
    val inter = bExploded.join(postings, "sh")
      .select(col("bid"), explode(col("ids")).as("cid"))
      .groupBy("bid", "cid").agg(count(lit(1)).as("inter"))
    val flagged = inter
      .join(bSizes, "bid").join(cSizes, "cid")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("size_b") + col("size_c") - col("inter")), 4))
      .where(col("jaccard") >= threshold)
    val best = flagged.groupBy(col("bid"))
      .agg(max(struct(col("jaccard"), (-col("cid")).as("negcid"))).as("m"))
      .select(col("bid").as("doc_id"), (-col("m.negcid")).as("dup_of"),
        col("m.jaccard").as("jaccard"))
    batch.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("jaccard"))
  }

  // ---- MinHash ----

  /** Deterministic 64-bit mix (splitmix64 finalizer). */
  @inline def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  val NumHashes = 64
  val Bands = 32 // x 2 rows per band

  private val seeds: Array[Long] =
    Array.tabulate(NumHashes)(i => mix64((i + 1).toLong * 0x9e3779b97f4a7c15L))

  /** MinHash signature of a shingle set (row-local, no shuffle). */
  def signature(shingleSet: Iterable[String]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    shingleSet.foreach { s =>
      val h0 = mix64(s.hashCode.toLong * 0x9e3779b97f4a7c15L + 0x165667b19e3779f9L)
      var i = 0
      while (i < NumHashes) {
        val h = mix64(h0 ^ seeds(i))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** Default cap on LSH band-bucket membership for [[minhashLshPairs]]: a
    * band bucket larger than this (a web-scale duplicate cluster — 1M
    * docs sharing one band key would otherwise expand O(n^2) candidate
    * pairs) is dropped instead of pair-expanded; dedup-apply wants
    * cluster representatives, not every edge of a mega-cluster. Dropped
    * buckets are surfaced via the observed metric "dropped_band_buckets".
    */
  val DefaultLshBucketCap = 2000

  /** MinHash+LSH near-dup pairs, exact-Jaccard verified. Stages:
    *  1. row-local: shingle set + 64-way signature
    *  2. banded bucket keys (32 bands x 2 rows) -> exploded, grouped into
    *     sorted per-bucket id lists (NO self-join: a degenerate bucket of
    *     n docs would turn a bucket join into n^2 rows inside one shuffle
    *     partition; buckets over `bucketCap` are dropped + counted)
    *  3. candidate pairs expanded lazily in-row (O(1) memory per bucket)
    *  4. verify with exact Jaccard on the shingle arrays (array_intersect)
    * Returns (id_a, id_b, jaccard) with jaccard >= threshold.
    *
    * RECALL NOTE (round 4 behavior change): `bucketCap` is ON BY DEFAULT
    * — any band bucket with more than `bucketCap` members is dropped
    * WHOLE, so pairs that the uncapped (round-3 self-join) formulation
    * emitted can be missing on data with mega-duplicate-clusters. Monitor
    * the observed metric `dropped_band_buckets` (0 means the result is
    * exact); pass `bucketCap = Int.MaxValue` to restore exact recall at
    * the cost of O(n^2) expansion inside giant buckets.
    *
    * Memoized per session on (base plan, threshold, bucketCap) and
    * persisted: d6, d8, d9, d10 and p1 each consume the SAME pair list —
    * at 100 TB it is computed once and every dedup-apply / clustering
    * consumer reads it. The `dropped_band_buckets` observed metric fires
    * on the FIRST materialization only (cache reads do not re-run the
    * banding stage).
    */
  def minhashLshPairs(base: DataFrame, threshold: Double,
                      bucketCap: Int = DefaultLshBucketCap): DataFrame =
    pairsMemo.getOrBuild(base.sparkSession,
        (base.queryExecution.analyzed.semanticHash(), threshold, bucketCap)) {
      // the shingled() memo already avoids re-shingling; this one avoids
      // re-running signatures + banding + verification per consumer
      minhashLshPairsFromShingled(
        shingled(base).select(col("doc_id"), col("sh")), threshold, bucketCap)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** d3 over a pre-staged shingle table (see [[stageShingles]]). */
  def minhashLshPairsStaged(spark: SparkSession, dir: String, threshold: Double,
                            bucketCap: Int = DefaultLshBucketCap): DataFrame =
    minhashLshPairsFromShingled(stagedShingles(spark, dir), threshold, bucketCap)

  /** d16: MinHash ESTIMATOR accuracy gate — for every verified d3 pair,
    * the signature-agreement estimate (fraction of the 64 slots where
    * the two signatures coincide, the textbook unbiased Jaccard
    * estimator) must land within `tol` of the exact Jaccard. The
    * estimate is a DETERMINISTIC function of the fixed corpus and the
    * fixed seed set, so the verdict column is oracle-gatable the same
    * way t15 gates HLL and e2 gates ANN recall (the oracle recomputes
    * the exact Jaccard and expects TRUE). At 64 permutations the
    * standard error is sqrt(J(1-J)/64) <= 0.062, so `tol` = 0.3 is a
    * ~5-sigma band: a real estimator regression (seed drift, slot
    * corruption, band packing bug) trips it, sampling noise cannot.
    *
    * Plan shape: the pair list rides the session memo (shared with
    * d6/d8/d9/d10/p1); signatures are recomputed row-locally from the
    * memoized shingle table and joined to the BROADCAST pair list —
    * the corpus is never shuffled.
    */
  def minhashEstimateGate(base: DataFrame, threshold: Double,
                          tol: Double = 0.3): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val pairs = minhashLshPairs(base, threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val sigs = shingled(base).select(col("doc_id"), col("sh"))
      .as[(Long, Seq[String])]
      .map { case (id, sh) => (id, signature(sh)) }
      .toDF("doc_id", "sig")
    val withA = sigs.join(broadcast(pairs), col("doc_id") === col("id_a"))
      .select(col("id_a"), col("id_b"), col("jaccard"), col("sig").as("sig_a"))
    val est = size(filter(zip_with(col("sig_a"), col("sig"), (a, b) => a === b),
      x => x)).cast("double") / NumHashes
    sigs.join(broadcast(withA), col("doc_id") === col("id_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        (abs(est - col("jaccard")) <= tol).as("est_in_band"))
  }

  private def minhashLshPairsFromShingled(withSh: DataFrame, threshold: Double,
                                          bucketCap: Int): DataFrame = {
    val spark = withSh.sparkSession
    import spark.implicits._

    val sig = withSh.as[(Long, Seq[String])].map { case (id, sh) =>
      val s = signature(sh)
      val bandKeys = Array.tabulate(Bands)(b => mix64(s(2 * b) ^ mix64(s(2 * b + 1) ^ b.toLong)))
      (id, bandKeys)
    }.toDF("doc_id", "band_keys")

    val buckets = sig.select(col("doc_id"), posexplode(col("band_keys")).as(Seq("band", "key")))
    val cand = buckets.groupBy("band", "key")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .observe("lsh_band_buckets",
        sum(when(size(col("ids")) > bucketCap, 1L).otherwise(0L)).as("dropped_band_buckets"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= bucketCap)
      .select(col("ids")).as[Seq[Long]]
      .flatMap(ids => orderedPairs(ids)) // lazy: O(1) memory per bucket
      .toDF("id_a", "id_b")
      .distinct()

    val shSets = withSh.select(col("doc_id"), col("sh"))
    cand
      .join(shSets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shSets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 4))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Rounds the last [[clusterIdsStar]] call ran; every one changed the
    * edge list and ran as one Spark job together with its star-forest
    * check (test evidence for the O(log n) bound and the per-call job
    * count; not thread-safe, diagnostics only).
    */
  private[graft] var lastStarRounds = 0

  /** Connected-component cluster ids over a near-dup pair list: every
    * document gets the MIN doc_id of its duplicate component (the
    * scale-correct dedup-apply primitive — dropping `id_b` of each pair,
    * as d6 does, over-deletes on chains A~B~C). O(log n) rounds
    * regardless of component diameter: alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * 2014). Returns (doc_id, cluster_id), persisted (MEMORY_AND_DISK);
    * the memo owns the result. Memoized per session on (base plan, pairs
    * plan): d8, d9, d10 and p1 all run the IDENTICAL
    * clusterIdsStar(withVariants, pairs) computation — at 100 TB the
    * cluster-assignment table is computed once per corpus and every
    * apply/curate/audit consumer reads it.
    *
    * Scale notes: the rounds run over an `RDD[(Long, Long)]` of (big,
    * small) edges. One `HashPartitioner` (the session's shuffle partition
    * count) keys every step, so each min aggregate (`reduceByKey`) and
    * each join of two sides keyed by it is narrow: a round and its
    * star-forest check are ONE Spark job, where DataFrames under AQE paid
    * a query-stage job (and generated classes) per exchange. Shuffles
    * carry primitive `(Long, Long)` or `(Long, Int)` records, for which
    * Spark picks Kryo on its own. Set semantics: the edge list is keyed
    * by u, so every copy of an edge lands in one partition, where a hash
    * set drops it (one partition's distinct edges in memory; a round maps
    * each edge to at most one edge, so never more than the input pairs).
    * Both star operations are min aggregates plus a join, never a
    * collected neighbor list, and the mins combine map-side, so the root
    * of a large component (the only high-degree key) is reduced before
    * it shuffles. Known trade-off: RDD joins lose AQE's skew-join split.
    * The loop stops on the first star forest (every u has exactly one v,
    * no v is also a u): edges are oriented (big, small) and both star
    * operations preserve components, so each star's centre is its
    * component's minimum — no confirming round. Each round's edge list is
    * materialized with lineage TRUNCATION (`localCheckpoint`); on a real
    * cluster with executor churn, set a checkpoint dir and swap in
    * `checkpoint()` for fault-tolerant truncation.
    */
  def clusterIdsStar(base: DataFrame, pairs: DataFrame): DataFrame =
    ccMemo.getOrBuild(base.sparkSession, (base.queryExecution.analyzed.semanticHash(),
        pairs.queryExecution.analyzed.semanticHash())) {
      clusterIdsStarUncached(base, pairs)
    }

  // a node's roles in the star-forest check, summed per node: its
  // out-edge count (saturated at 2) in the low bits, and whether it is
  // some edge's v
  private val OneOut: Int = 1
  private val IsV: Int = 4
  private def addRoles(a: Int, b: Int): Int = math.min((a & 3) + (b & 3), 2) | ((a | b) & IsV)

  /** One action, one read of each edge (as its u and v roles): every `u`
    * of the distinct, oriented edge list has exactly one `v`, and no `v`
    * is also a `u`.
    */
  private def isStarForest(edges: RDD[(Long, Long)], part: Partitioner): Boolean =
    edges.flatMap { case (u, v) => Iterator((u, OneOut), (v, IsV)) }
      .reduceByKey(part, addRoles _)
      .filter { case (_, r) => (r & 3) > 1 || r == (OneOut | IsV) }
      .count() == 0

  /** Edges keyed on u by `part`, duplicates dropped: every copy of an edge
    * shares its u, so one partition sees them all.
    */
  private def distinctEdges(edges: RDD[(Long, Long)], part: Partitioner): RDD[(Long, Long)] =
    edges.partitionBy(part).mapPartitions({ it =>
      val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
      it.filter(seen.add)
    }, preservesPartitioning = true)

  private def clusterIdsStarUncached(base: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val part = new HashPartitioner(spark.sessionState.conf.numShufflePartitions)
    val nodes = base.select(col("doc_id")).distinct()
    // canonical orientation (big, small); drop self-pairs. LAZY
    // checkpoints throughout: the star-forest test that follows each one
    // is its first action, so it materializes the checkpoint in the same
    // job — an eager checkpoint would pay a separate job per round
    var edges = distinctEdges(pairs.select(
        greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v"))
      .as[(Long, Long)].rdd, part)
      .localCheckpoint()
    var rounds = 0
    var done = isStarForest(edges, part)
    while (!done) {
      // large-star: edges are (big, small), so min(N(a) ∪ {a}) is a's
      // smallest v (a itself if it has none); every edge (u, a) becomes
      // (u, that minimum)
      val minV = edges.reduceByKey(part, math.min(_, _))
      val large = edges.map(_.swap).partitionBy(part)
        .leftOuterJoin(minV, part)
        .map { case (a, (u, m)) => (u, m.getOrElse(a)) }
        .partitionBy(part)
      // small-star: every small neighbor of u other than its min m joins m;
      // u's own edge to m stays
      val minS = large.reduceByKey(part, math.min(_, _))
      val next = distinctEdges(large.join(minS, part).map {
        case (u, (v, m)) => if (v == m) (u, m) else (v, m)
      }, part).localCheckpoint()
      done = isStarForest(next, part)
      edges.unpersist(blocking = false) // materializing `next` was its last read
      edges = next
      rounds += 1
    }
    lastStarRounds = rounds
    // a star forest: each member's one edge points at its component root
    val labels = nodes
      .join(edges.toDF("doc_id", "root"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    labels.count()
    // the final edge list stays: it is the lineage the persisted labels
    // recompute from once the memo unpersists them
    labels
  }

  // ---- Embedding-cosine near-dup ----

  /** Embedding working set: vectors plus planted same-direction duplicates
    * (component-wise x2 — exact in floating point, so cosine is exactly
    * 1.0 — id offset by 1,000,000). `maxId` bounds the set so the exact
    * all-pairs oracle stays cheap at every SF.
    */
  def withEmbVariants(spark: SparkSession, sfDir: String, maxId: Long = 500): DataFrame = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") < maxId)
      .select(col("vec_id"), col("embedding"))
    emb.unionAll(emb.select(
      (col("vec_id") + lit(1000000L)).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
  }

  /** Number of sign-projection planes for the near-dup blocking code. */
  val EmbDupPlanes = 24

  /** Row-local sign-projection code: vectors with the same direction get
    * the same code deterministically (sign(v . p) is invariant under
    * positive scaling), so exact-duplicate directions always collide.
    */
  def embDupCode(v: Array[Float]): Int = {
    var code = 0
    var p = 0
    while (p < EmbDupPlanes) {
      var s = 0.0
      var d = 0
      // plane family offset 4096 decorrelates from SimOps.annTopK planes
      while (d < v.length) { s += v(d) * SimOps.planeComp(4096 + p, d); d += 1 }
      if (s > 0) code |= (1 << p)
      p += 1
    }
    code
  }

  /** Sequential three-accumulator cosine in double precision — the SAME
    * operation order as [[SimOps.cosine]]'s per-accumulator folds
    * (acc + x(i).toDouble * y(i).toDouble, ascending i), so the result
    * is bit-identical to the interpreted-HOF column form and to DuckDB's
    * list_dot_product contract. A Scala loop instead of three
    * interpreted aggregate() lambdas per candidate pair: the verify
    * stage of the embedding near-dup join was >80% interpreted-HOF
    * evaluation (guide §4 — built-ins or compiled code in the hot path).
    */
  def cosineSeq(x: Array[Float], y: Array[Float]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val xd = x(i).toDouble; val yd = y(i).toDouble
      ab += xd * yd; aa += xd * xd; bb += yd * yd
      i += 1
    }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  /** Embedding-cosine near-dup pairs: sign-projection blocking (one
    * 24-bit code per vector -> bucket) -> in-row ordered pair expansion
    * (the inverted-index shape, no all-pairs join) -> exact cosine verify
    * in double precision (sequential fold, DuckDB-bit-compatible).
    * Blocking recall is exactly 1.0 for same-direction duplicates; for
    * fuzzy angular thresholds use multi-table probing as in
    * [[SimOps.annTopK]]. Returns (id_a, id_b, cos >= threshold).
    *
    * `bucketCap` bounds the in-row pair expansion: a web-scale corpus has
    * million-member duplicate clusters (and degenerate all-zero vectors
    * share code 0), whose O(n^2) pair lists are useless — dedup-apply
    * wants cluster representatives, not every edge. Oversized buckets are
    * dropped and surfaced via the observed metric "dropped_buckets".
    *
    * Memoized per session on (base plan, threshold, bucketCap) and
    * persisted (round 7): e4 and p3 both consume the pair list, and an
    * embCosine plan contains typed-closure nodes whose semantic hash is
    * NOT stable across invocations, so the downstream CC memo could never
    * hit through a fresh pairs plan; returning the SAME DataFrame object
    * makes the consumer-side plan hashes stable.
    */
  def embCosineDupPairs(base: DataFrame, threshold: Double,
                        bucketCap: Int = 2000): DataFrame =
    embPairsMemo.getOrBuild(base.sparkSession,
        (base.queryExecution.analyzed.semanticHash(), threshold, bucketCap)) {
      embCosineDupPairsUncached(base, threshold, bucketCap)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private def embCosineDupPairsUncached(base: DataFrame, threshold: Double,
                                        bucketCap: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val coded = Par.spreadBy(base.select(col("vec_id"), col("embedding")), col("vec_id"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, embDupCode(v)) }
      .toDF("vec_id", "code")
    val pairs = coded.groupBy("code")
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .observe("embdup_buckets",
        sum(when(size(col("ids")) > bucketCap, 1L).otherwise(0L)).as("dropped_buckets"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= bucketCap)
      .select(col("ids")).as[Seq[Long]]
      .flatMap(ids => orderedPairs(ids)) // lazy: O(1) memory per bucket
      .toDF("id_a", "id_b")
      .distinct()
    val vecs = base.select(col("vec_id"), col("embedding"))
    pairs
      .join(vecs.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), "id_a")
      .join(vecs.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("emb_a"), col("emb_b"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .mapPartitions(_.map { case (a, b, va, vb) => (a, b, cosineSeq(va, vb)) })
      .toDF("id_a", "id_b", "cos")
      .withColumn("cos", round(col("cos"), 4))
      .where(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  // ---- SimHash ----

  /** 60-bit SimHash over whitespace tokens; token hash = first 15 hex
    * chars of md5 (so the DuckDB oracle can recompute it exactly).
    * Row-local.
    */
  def simhash60(text: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val sums = new Array[Int](60)
    var start = 0
    val n = text.length
    while (start < n) {
      var end = start
      while (end < n && text.charAt(end) != ' ') end += 1
      if (end > start) {
        val tok = text.substring(start, end)
        val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // first 15 hex chars = 60 bits: 7.5 bytes
        var h = 0L
        var i = 0
        while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
        h = h >>> 4 // keep top 60 bits of the first 8 bytes = first 15 hex chars
        var b = 0
        while (b < 60) {
          sums(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      start = end + 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (sums(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Per-doc SimHash sketch column (doc_id, simhash). */
  def simhashSketch(base: DataFrame): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    Par.spreadBy(base.select(col("doc_id"), col("text")), col("doc_id"))
      .as[(Long, String)]
      .map { case (id, t) => (id, simhash60(if (t == null) "" else t)) }
      .toDF("doc_id", "simhash")
  }

  /** Default cap on simhash chunk-bucket membership for
    * [[simhashPairs]] — same rationale as [[DefaultLshBucketCap]];
    * dropped buckets surface via "dropped_chunk_buckets".
    */
  val DefaultSimhashBucketCap = 2000

  /** SimHash near-dup pairs via chunk-PAIR bucketing: the 60-bit sketch
    * splits into 6 chunks of 10 bits; hamming distance <= 4 flips bits in
    * at most 4 chunks, leaving >= 2 intact, so at least one of the
    * C(6,2) = 15 chunk PAIRS matches exactly (pigeonhole; this operator
    * verifies <= `maxHamming`, which must be <= 4 for exact recall).
    * Keys are 20-bit chunk-pair values — 15 x 2^20 ~ 15.7M possible
    * buckets, vs 4 x 2^15 = 131k for single 15-bit chunks, whose bounded
    * cardinality made bucket size (and the candidate pair count) grow
    * quadratically with corpus size BY CONSTRUCTION.
    *
    * Plan shape: one corpus pass (sketch + 15-key explode), one groupBy
    * shuffle into sorted (doc_id, simhash) member lists (capped, dropped
    * buckets counted), then lazy in-row pair expansion with the exact
    * hamming verify applied BEFORE the distinct's exchange — failed
    * candidates never shuffle. No self-join anywhere.
    *
    * RECALL NOTE (round 4 behavior change): `bucketCap` is ON BY DEFAULT
    * — a chunk-pair bucket with more than `bucketCap` members is dropped
    * WHOLE, so some pairs the uncapped formulation emitted can be missing
    * on mega-duplicate-cluster data. Monitor the observed metric
    * `dropped_chunk_buckets` (0 means exact recall for hamming <=
    * `maxHamming`); pass `bucketCap = Int.MaxValue` to restore exact
    * recall at O(n^2) cost inside giant buckets.
    */
  def simhashPairs(base: DataFrame, maxHamming: Int,
                   bucketCap: Int = DefaultSimhashBucketCap): DataFrame = {
    require(maxHamming <= 4, "chunk-pair pigeonhole guarantees recall only for hamming <= 4")
    val spark = base.sparkSession
    import spark.implicits._
    val sk = simhashSketch(base)
    val combos = for { i <- 0 until 6; j <- (i + 1) until 6 } yield (i, j)
    val keyCols = combos.zipWithIndex.map { case ((i, j), c) =>
      lit(c.toLong << 20) +
        shiftleft(shiftright(col("simhash"), i * 10).bitwiseAND(lit(0x3ffL)), 10) +
        shiftright(col("simhash"), j * 10).bitwiseAND(lit(0x3ffL))
    }
    val hm = maxHamming
    sk.select(col("doc_id"), col("simhash"), explode(array(keyCols: _*)).as("ck"))
      .groupBy("ck")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("members"))
      .observe("simhash_chunk_buckets",
        sum(when(size(col("members")) > bucketCap, 1L).otherwise(0L)).as("dropped_chunk_buckets"))
      .where(size(col("members")) > 1 && size(col("members")) <= bucketCap)
      .select(col("members")).as[Seq[(Long, Long)]]
      .flatMap { ms =>
        orderedPairsOf(ms).flatMap { case ((ia, ha), (ib, hb)) =>
          val d = java.lang.Long.bitCount(ha ^ hb)
          if (d <= hm) Iterator.single((ia, ib, d)) else Iterator.empty
        }
      }
      .toDF("id_a", "id_b", "hamming")
      .distinct()
  }
}
