package graft.spark.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExpressionColumns

/** Text-analysis operators for a large-scale training-data pipeline, all
  * expressed as Catalyst column expressions (whole-stage codegen, no UDFs):
  * token counting (whitespace + regex "BPE-ish" pre-tokenizer), language-ID
  * stopword heuristic, quality scoring, and document fingerprinting.
  *
  * Every function has an exact ANSI-SQL twin used as the DuckDB oracle —
  * see SparkEntry.oracleSql.
  */
object TextOps {

  /** Whitespace tokens (split on runs of whitespace, ignoring leading /
    * trailing) — matches DuckDB's
    * `len(list_filter(string_split_regex(text,'\s+'), x -> x != ''))`.
    */
  def tokenCountWs(text: Column): Column =
    size(filter(split(text, "\\s+"), t => t =!= lit("")))

  /** "BPE-ish" pre-tokenizer: letter runs, digit runs, or single
    * non-alnum-non-space symbols (the usual byte-pair pre-split shape).
    */
  val BpeTokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenRe), lit(0)))

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deterministic and SQL-replicable.
    */
  val StopEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
  val StopDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf")
  val StopEs: Seq[String] = Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "con")
  val StopFr: Seq[String] = Seq("le", "la", "de", "et", "un", "est", "que", "pour", "dans", "sur")

  private def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= lit(""))

  def stopwordHits(text: Column, stops: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(stops)))

  /** Language-ID: stopword-hit argmax over {en,de,es,fr} with 'und'
    * (undetermined) when no list hits; ties break in list order.
    */
  def langId(text: Column): Column = {
    val en = stopwordHits(text, StopEn)
    val de = stopwordHits(text, StopDe)
    val es = stopwordHits(text, StopEs)
    val fr = stopwordHits(text, StopFr)
    val m = greatest(en, de, es, fr)
    when(m === 0, lit("und"))
      .when(en === m, lit("en"))
      .when(de === m, lit("de"))
      .when(es === m, lit("es"))
      .otherwise(lit("fr"))
  }

  /** Quality score in [0,1]: mean of three bounded ratios —
    * length saturation (chars/500 capped), alpha-char ratio, and
    * mean-word-length band (3..12 chars). Rounded to 4 dp.
    */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("double")
    val nTok = tokenCountWs(text).cast("double")
    val alpha = length(regexp_replace(text, "[^A-Za-z]", "")).cast("double")
    val lenScore = least(nChars / lit(500.0), lit(1.0))
    val alphaRatio = when(nChars > 0, alpha / nChars).otherwise(lit(0.0))
    val meanWord = when(nTok > 0, (alpha / nTok)).otherwise(lit(0.0))
    val wordScore = when(meanWord >= 3 && meanWord <= 12, lit(1.0)).otherwise(lit(0.0))
    round((lenScore + alphaRatio + wordScore) / lit(3.0), 4)
  }

  /** Exact document fingerprint: md5 of the raw text (dedup key). */
  /** Gopher-style repetition signals: fraction of repeated tokens
    * (1 - distinct/total) and the most frequent token's share —
    * boilerplate and spam score high on both. Pure Catalyst columns.
    */
  def repetitionRatio(text: Column): Column = {
    val t = tokens(text)
    when(size(t) > 0,
      round(lit(1.0) - size(array_distinct(t)).cast("double") / size(t), 4))
      .otherwise(lit(0.0))
  }

  def topTokenShare(text: Column): Column = {
    val t = tokens(text)
    // max token frequency as the longest equal-run of the SORTED token
    // array: one aggregate pass whose lambda touches only its own state
    // and element (a lambda referencing the outer token array would
    // re-evaluate the split per element — interpreted HOFs)
    val maxRun = aggregate(array_sort(t),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (st, tok) => {
        val run = when(tok === st.getField("prev"), st.getField("run") + 1).otherwise(lit(1))
        struct(tok.as("prev"), run.as("run"),
          greatest(st.getField("best"), run).as("best"))
      },
      st => st.getField("best"))
    when(size(t) > 0, round(maxRun.cast("double") / size(t), 4))
      .otherwise(lit(0.0))
  }

  def fingerprint(text: Column): Column = md5(encode(text, "UTF-8"))

  /** Shared-arithmetic guard for every Knuth-hash decision below: doc_id
    * is folded to its low 31 bits BEFORE the multiply, so the product fits
    * in a signed 64-bit value in every engine. Without the mask the
    * contract silently breaks past doc_id ~4.1e9: Spark wraps the Long
    * overflow while DuckDB raises a BIGINT out-of-range error. Cost: ids
    * differing only above bit 31 share a bucket — irrelevant for bucketing
    * (the multiplier mixes the low bits) and fully deterministic.
    */
  private def hid: Column = col("doc_id").bitwiseAND(lit(2147483647L))

  /** Deterministic reproducible train/val/test assignment — the standard
    * split primitive for training corpora: multiplicative (Knuth) hashing
    * of the stable doc_id into 1000 buckets, thresholded by cumulative
    * fractions. Pure integer arithmetic so the assignment is identical in
    * any engine (the DuckDB oracle replays the same expression), stable
    * under repartitioning/reruns, and adding documents never reassigns
    * existing ones. Map-only: no shuffle, no RNG, no sampling drift.
    */
  def deterministicSplit(df: DataFrame,
                         trainPct: Int = 900, valPct: Int = 50): DataFrame =
    withSplit(df, trainPct, valPct).select("doc_id", "split_bucket", "split")

  /** The split decision as a pure function of an arbitrary id column —
    * the single source of the t4 arithmetic, so audits that re-derive a
    * document's split from a pair/edge id (t22) can never drift from
    * [[withSplit]].
    */
  def splitBucketOf(id: Column): Column =
    pmod(id.bitwiseAND(lit(2147483647L)) * lit(2654435761L), lit(1000L))

  def splitNameOf(id: Column, trainPct: Int = 900, valPct: Int = 50): Column = {
    val bucket = splitBucketOf(id)
    when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** [[deterministicSplit]] in composition form: appends the split
    * columns to the input row instead of projecting them out, so
    * composed pipelines don't need a join-back by doc_id to recover
    * their other columns.
    */
  def withSplit(df: DataFrame, trainPct: Int = 900, valPct: Int = 50): DataFrame =
    df.withColumn("split_bucket", splitBucketOf(col("doc_id")).cast("int"))
      .withColumn("split", splitNameOf(col("doc_id"), trainPct, valPct))

  /** Per-domain quota sampling — the C4/RefinedWeb-style per-source cap:
    * keep at most `k` documents per source, chosen by a deterministic
    * hash order (multiplicative hash of the stable doc_id, ties broken by
    * doc_id) so the sample is rerun- and repartition-stable and
    * engine-replicable (the DuckDB oracle replays the same expression as
    * a rank window).
    *
    * Scale shape: NOT a bare `Window.partitionBy(source)` — at web scale
    * a giant domain would funnel its entire membership into one window
    * task. Instead a map-side bounded heap keeps at most k candidates
    * per (partition, source), so the single shuffle carries <= k x P
    * rows per domain regardless of domain size; the final per-source
    * reduction sorts <= k x P candidates and emits the global top k with
    * ranks. Exactly equal to the window formulation (total order), skew-
    * immune by construction. Returns (doc_id, source, rn), rn in 1..k.
    */
  def domainQuota(df: DataFrame, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.select(col("source"),
        pmod(hid * lit(2654435761L), lit(1000000007L)).as("okey"),
        col("doc_id"))
      .as[(String, Long, Long)]
    val pruned = keyed.mapPartitions { it =>
      // max-heap on (okey, doc_id): the root is the worst candidate kept
      val cmp = new java.util.Comparator[(Long, Long)] {
        def compare(a: (Long, Long), b: (Long, Long)): Int = {
          val c = java.lang.Long.compare(b._1, a._1)
          if (c != 0) c else java.lang.Long.compare(b._2, a._2)
        }
      }
      val m = new java.util.HashMap[String, java.util.PriorityQueue[(Long, Long)]]()
      it.foreach { case (src, okey, id) =>
        val q = m.computeIfAbsent(src, _ => new java.util.PriorityQueue(k + 1, cmp))
        q.add((okey, id))
        if (q.size > k) q.poll()
      }
      val out = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
      m.forEach((src, q) => q.forEach(t => out += ((src, t._1, t._2))))
      out.iterator
    }
    pruned.toDF("source", "okey", "doc_id")
      .groupBy("source")
      .agg(slice(sort_array(collect_list(struct(col("okey"), col("doc_id")))), 1, k).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("rank0", "t")))
      .select(col("t.doc_id").as("doc_id"), col("source"),
        (col("rank0") + 1).cast("int").as("rn"))
  }

  /** PII scrubbing patterns — deliberately in the regex dialect subset
    * shared by Java regex and RE2, so the DuckDB oracle applies the
    * byte-identical patterns.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** PII redaction over the text column: emails, dotted-quad IPs, and
    * NNN-NNN-NNNN phone numbers are replaced by typed placeholders, with
    * per-kind match counts. Replacement order (email -> ip -> phone) is
    * part of the operator's semantics and mirrored by the oracle. Pure
    * Catalyst regexp expressions — map-only, codegen, no shuffle.
    */
  def piiScrub(df: DataFrame): DataFrame = {
    val t = col("text")
    df.select(
      col("doc_id"),
      regexp_count(t, lit(EmailRe)).cast("int").as("n_emails"),
      regexp_count(t, lit(Ipv4Re)).cast("int").as("n_ips"),
      regexp_count(t, lit(PhoneRe)).cast("int").as("n_phones"),
      regexp_replace(regexp_replace(regexp_replace(t,
        lit(EmailRe), lit("<EMAIL>")),
        lit(Ipv4Re), lit("<IP>")),
        lit(PhoneRe), lit("<PHONE>")).as("scrubbed"))
  }

  /** Training-sequence packing: assign documents (in deterministic doc_id
    * order) to fixed-token-budget packs — the standard pretraining
    * "concat and chunk" step. A document starting at cumulative token
    * offset c lands in pack floor(c / budget) (long documents spill into
    * following packs, as concatenated pretraining streams do). Returns
    * (doc_id, n_tok, tok_offset, pack_id).
    *
    * Scale shape: the naive formulation is a GLOBAL window prefix-sum
    * (`sum over (order by doc_id)`) — one total-sort task through which
    * the whole corpus funnels. Here it is the classic two-phase
    * distributed scan: range-partition by doc_id (contiguous ordered
    * ranges), compute per-partition token sums (one pass), prefix-sum
    * the P partial sums on the driver (P longs), broadcast the offsets,
    * and emit per-row cumulative offsets in a second partition-local
    * pass. The partitioned input is persisted between the passes —
    * range partitioning SAMPLES to pick boundaries, so recomputing it
    * between passes could shift rows across partitions and corrupt the
    * offsets.
    */
  def packSequences(df: DataFrame, budget: Long, partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val p = if (partitions > 0) partitions
            else spark.sessionState.conf.numShufflePartitions
    // the range-partition index is frozen INTO the data (spark_partition_id
    // evaluated at cache materialization) rather than read from
    // TaskContext at use time: a downstream coalesce/merge (e.g. a
    // coalesce(1) write) runs several source partitions inside one task,
    // where TaskContext would report the MERGED task's id and silently
    // misalign every offset
    val toks = df.select(col("doc_id"), tokenCountWs(col("text")).cast("long").as("n_tok"))
      .repartitionByRange(p, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .as[(Long, Long, Int)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val partSums = toks.groupBy(col("pid")).agg(sum(col("n_tok")).as("s"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val offsets = new Array[Long](p + 1)
    var i = 0
    while (i < p) { offsets(i + 1) = offsets(i) + partSums.getOrElse(i, 0L); i += 1 }
    val bc = spark.sparkContext.broadcast(offsets)
    toks
      .mapPartitions { it =>
        // rows of each source partition stay contiguous and ordered even
        // when partitions are merged downstream; re-base the running
        // offset whenever the frozen pid changes
        var curPid = -1
        var c = 0L
        it.map { case (id, n, pid) =>
          if (pid != curPid) { curPid = pid; c = bc.value(pid) }
          val off = c
          c += n
          (id, n, off, off / budget)
        }
      }
      .toDF("doc_id", "n_tok", "tok_offset", "pack_id")
  }

  /** The per-doc stats frame used by the qX text queries. The rolling
    * polynomial fingerprint (base 131 mod 1e9+7) runs as the native
    * codegen'd [[graft.spark.RollingHash]] expression — the interpreted
    * HOF formulation it replaced (`aggregate(transform(split(text,"")))`)
    * allocated one single-char String per character;
    * RollingHashParitySpec pins bit-identical output.
    */
  def docStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Par.spreadBy(
      spark.read.parquet(s"$sfDir/documents.parquet"), col("doc_id"))
    docs.select(
      col("doc_id"),
      tokenCountWs(col("text")).as("n_tok_ws"),
      tokenCountBpe(col("text")).as("n_tok_bpe"),
      stopwordHits(col("text"), StopEn).as("hits_en"),
      langId(col("text")).as("lang_pred"),
      qualityScore(col("text")).as("quality"),
      fingerprint(col("text")).as("fp_md5"),
      ExpressionColumns.column(
        graft.spark.RollingHash(ExpressionColumns.expression(col("text")))).as("fp_roll")
    )
  }

  /** t9: deterministic weighted mixture sampling — the corpus-assembly
    * step that downsamples every source to its target mixture weight
    * (the C4/Pile/DoReMi-shaped "data mixing" knob). Keep decision:
    * Knuth-hash the stable doc_id into 1000 buckets with a DIFFERENT
    * multiplier than [[deterministicSplit]] (the two decisions must be
    * decorrelated — sampling must not bias which split bucket survives)
    * and keep the document iff its bucket falls below the source's
    * permille rate. Map-only (no shuffle, no RNG, no sampling drift):
    * adding documents never flips existing keep decisions, reruns and
    * repartitions are stable, and the oracle replays the identical
    * integer arithmetic. Sources absent from `ratesPermille` take
    * `defaultPermille`. Returns one row per input document
    * (doc_id, source, mix_bucket, rate_permille, kept).
    */
  val MixHashMultiplier = 2246822519L // decorrelated from deterministicSplit's 2654435761

  def mixtureSample(df: DataFrame, ratesPermille: Map[String, Int],
                    defaultPermille: Int = 1000): DataFrame = {
    require(defaultPermille >= 0 && defaultPermille <= 1000 &&
      ratesPermille.values.forall(r => r >= 0 && r <= 1000),
      "mixture rates are permille values in [0, 1000]")
    val rate = coalesce(
      element_at(typedLit(ratesPermille), col("source")), lit(defaultPermille))
    val bucket = pmod(hid * lit(MixHashMultiplier), lit(1000L)).cast("int")
    df.select(col("doc_id"), col("source"),
      bucket.as("mix_bucket"),
      rate.cast("int").as("rate_permille"),
      (bucket < rate).as("kept"))
  }

  /** t11: temperature-scaled source balancing — the multilingual /
    * data-mixing standard (mBERT/XLM-R exponent-sampling shape): keep
    * probability proportional to count^(alpha-1) with alpha = 0.5
    * ("square-root temperature"), i.e. rate_s = 1000*sqrt(min_count /
    * count_s) permille — the smallest source keeps everything, larger
    * sources are downsampled TOWARD (not onto) balance. Unlike t9 the
    * rates are computed FROM the corpus, not supplied.
    *
    * The fixed sqrt temperature is what makes this oracle-exact: IEEE
    * division and sqrt are correctly-rounded in both Spark and DuckDB,
    * so the permille rates replay bit-identically — libm `pow` with an
    * arbitrary alpha is NOT correctly rounded and could flip a floor()
    * by one ULP between engines.
    *
    * Keep decision: the t9 Knuth-hash permille bucket with a THIRD
    * decorrelated multiplier. Plan shape at 100 TB: one partial-agg
    * count per source (tiny result), a broadcast of the one-row min
    * onto it, and a broadcast join of the per-source rates back onto
    * the corpus — the data itself is touched map-only, no wide shuffle.
    * Returns (doc_id, source, src_count, rate_permille, kept).
    */
  val TempHashMultiplier = 3266489917L // decorrelated from split's and t9's

  def temperatureMixture(df: DataFrame): DataFrame = {
    val counts = df.groupBy(col("source")).agg(count(lit(1)).as("src_count"))
    val minDf = counts.agg(min(col("src_count")).as("min_count"))
    val rates = counts.crossJoin(broadcast(minDf))
      .withColumn("rate_permille",
        floor(lit(1000.0) * sqrt(col("min_count").cast("double") / col("src_count")))
          .cast("int"))
      .select(col("source"), col("src_count"), col("rate_permille"))
    val bucket = pmod(hid * lit(TempHashMultiplier), lit(1000L))
    df.select(col("doc_id"), col("source"))
      .join(broadcast(rates), "source")
      .select(col("doc_id"), col("source"), col("src_count"),
        col("rate_permille"), (bucket < col("rate_permille")).as("kept"))
  }

  /** t20: exact-k deterministic corpus sample — "bottom-k by hash": the k
    * documents with the smallest decorrelated Knuth-hash keys are an
    * exact uniform-without-replacement sample (carving an eval/audit set
    * out of a 100 TB corpus in one pass). Rerun- and repartition-stable,
    * engine-replicable (the oracle replays the identical integer
    * arithmetic), and NESTED by construction: bottom-k is a subset of
    * bottom-(k+m), so growing the sample never resamples.
    *
    * Scale shape: Catalyst plans orderBy+limit as TakeOrderedAndProject —
    * a bounded k-element heap per partition and one k-row merge on the
    * driver. No global sort, no shuffle of the corpus; the exact
    * distributed top-k the t5 quota op hand-builds per group, for free on
    * the global key. Ties on the hash break by doc_id so the sample is a
    * total order in every engine.
    */
  val SampleHashMultiplier = 2971215073L // decorrelated from split/mix/temperature multipliers

  def bottomKSample(df: DataFrame, k: Int = 50): DataFrame = {
    val okey = pmod(hid * lit(SampleHashMultiplier), lit(1000000007L))
    df.select(col("doc_id"), col("source"), okey.as("okey"))
      .orderBy(col("okey"), col("doc_id"))
      .limit(k)
  }

  /** t21: per-source length winsorization at an EXACT integer-rank p95 —
    * the length-outlier trimming step (truncate the pathological tail —
    * concatenated crawls, minified blobs — before token budgeting skews
    * toward it). Deliberately NOT the interpolating percentile: the
    * cut is the rank-ceil(n*95/100) smallest `n_chars` per source, pure
    * integer arithmetic on both engines (Spark's `percentile` and
    * DuckDB's `quantile_cont` interpolate with different float formulas
    * — a ULP trap; r11 handles the sketched variant with a tolerance
    * gate instead).
    *
    * Scale shape: the order statistic runs on a PROJECTION-ONLY pass
    * (source, n_chars, doc_id — never the text), one exchange by source
    * + per-source sort; the resulting stats table is one row per source
    * so the apply joins it back by BROADCAST — the corpus itself is
    * touched map-only. Ties in n_chars break by doc_id so the rank is a
    * total order in every engine.
    */
  def winsorizeLengths(df: DataFrame, permille: Int = 950): DataFrame = {
    // ADVICE r6: permille <= 0 would rank 0, match no stats row, and
    // silently drop every document (mixtureSample's validation, mirrored)
    require(permille >= 1 && permille <= 1000,
      s"permille must be in [1, 1000], got $permille")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
    val ranked = df.select(col("source"), col("n_chars"), col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
    // rank = ceil(n * permille / 1000) in pure longs
    val stats = ranked
      .filter(col("rn") === expr(s"(n * $permille + 999) div 1000"))
      .select(col("source"), col("n_chars").as("p95_len"))
    df.join(broadcast(stats), "source")
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("p95_len"),
        least(col("n_chars"), col("p95_len")).as("clipped_len"),
        (col("n_chars") > col("p95_len")).cast("int").as("is_outlier"))
  }

  /** t13: corpus vocabulary stats — the top-K tokens by total count with
    * a deterministic rank (count desc, token asc). Plan shape: explode +
    * hash-aggregate WITH map-side partial aggregation (the exchange
    * carries one row per (partition, token), not per occurrence), then a
    * rank window over the AGGREGATED table only — that table is
    * vocab-sized, orders of magnitude smaller than the corpus, so the
    * single-task window is fine at any corpus scale (the corpus itself
    * is never globally sorted).
    */
  def vocabTopK(df: DataFrame, k: Int = 20): DataFrame = {
    val toks = df.select(
      explode(filter(split(col("text"), "\\s+"), x => x =!= "")).as("token"))
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
    counts.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("token"), col("cnt"), col("rank"))
  }

  /** t18: count-min-sketch frequency estimation — the point-frequency
    * member of the sketch trio (t15 HLL = distinct cardinality, r11
    * approx_percentile = order statistics). The sketch is built by Spark's
    * native `count_min_sketch` aggregate in ONE pass with width*depth
    * counters of state regardless of corpus size; the exact top-k counts
    * exist only to GATE it (the e2/t15 recall-gate style — the emitted
    * columns are the oracle-matchable exact counts plus a deterministic
    * sketch verdict). Determinism: CMS merge SUMS cells, so unlike most
    * sketches the estimate is identical under any partitioning/merge
    * order for a fixed seed; `estimate >= count` is a structural CMS
    * guarantee (cells only ever over-count) and the upper gate is the
    * formal eps*N error bound. The 100 TB story: point frequency of any
    * token from KB of state vs a full-vocabulary shuffle — and the
    * sketch column is mergeable across shards/days for incremental
    * corpus monitoring.
    */
  def cmsFrequency(df: DataFrame, k: Int = 50, eps: Double = 1e-4): DataFrame = {
    val toks = df.select(
      explode(filter(split(col("text"), "\\s+"), x => x =!= "")).as("token"))
    val row = toks.agg(
      expr(s"count_min_sketch(token, CAST($eps AS DOUBLE), CAST(0.999 AS DOUBLE), 42)").as("cms"),
      count(lit(1)).as("n")).head()
    val sketch = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(row.getAs[Array[Byte]](0))
    val bound = math.ceil(row.getLong(1) * eps).toLong
    val est = udf((t: String) => sketch.estimateCount(t))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
    toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .withColumn("est", est(col("token")))
      .select(col("token"), col("cnt"), col("rank"),
        (col("est") >= col("cnt") &&
          col("est") - col("cnt") <= lit(bound)).as("cms_ok"))
  }

  /** t14: per-document TF-IDF keywords — the top-k tokens of each document
    * by tf * idf, where idf is the INTEGER-ONLY surrogate
    * `(N * 1_000_000) div df` (N = corpus doc count, df = number of docs
    * containing the token). The classic `ln(N/df)` is deliberately avoided:
    * libm `log` is not correctly rounded, so a float idf could rank-flip
    * between engines by one ULP (the t11 lesson) — integer division is
    * exact and identical in Spark and DuckDB, and it is monotone in N/df,
    * so the ranking is a faithful TF-IDF ordering. Plan shape: one
    * explode + (doc_id, token) partial agg, a vocab-sized df aggregate
    * joined back ON TOKEN (vocab << corpus; AQE picks broadcast when it
    * fits), a 1-row broadcast for N, then a row_number window partitioned
    * by doc_id — per-doc cardinality is bounded by doc length, so the
    * window has no skew at any corpus scale. Deterministic ties:
    * score desc, token asc.
    */
  def keywords(df: DataFrame, k: Int = 3): DataFrame = {
    val toks = df.select(col("doc_id"),
      explode(filter(split(col("text"), "\\s+"), x => x =!= "")).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, "token").crossJoin(broadcast(n))
      .withColumn("score", expr("tf * ((n * 1000000) div df)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("token"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("score"), col("rank"))
  }

  /** t17: lexical-rarity scoring — the integer perplexity proxy: each
    * document's total token "surprise" under the corpus unigram
    * distribution, scored as sum over tokens of tf * ((N * 1_000_000)
    * div df) with the same exact integer idf surrogate as [[keywords]]
    * (no libm log, so both engines agree bit-for-bit). High-rarity docs
    * are OOV/noise-heavy; low-rarity docs are boilerplate — the classic
    * KenLM-window filter, with the model derived from the corpus itself
    * in the same two aggregates t14 already pays for.
    */
  def rarityScore(df: DataFrame): DataFrame = {
    val toks = df.select(col("doc_id"),
      explode(filter(split(col("text"), "\\s+"), x => x =!= "")).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    tf.join(dfreq, "token").crossJoin(broadcast(n))
      .withColumn("w", expr("tf * ((n * 1000000) div df)"))
      .groupBy(col("doc_id")).agg(
        sum(col("tf")).as("ntok"),
        sum(col("w")).as("rarity"))
  }

  /** t19: Gopher-style n-gram repetition suite (Rae et al. 2021, table A1)
    * — the three repetition rules [[repetitionRatio]]/[[topTokenShare]]
    * don't cover: the character share of the most frequent word 2-gram
    * and 3-gram, and the fraction of duplicated 5-gram occurrences.
    * Boilerplate and spam score high on all three; the `kept` verdict
    * ANDs the per-signal thresholds (documents EXCEEDING any are
    * dropped, the Gopher direction).
    *
    * Definitions (the NeMo-Curator/Dolma convention): `topN_share` =
    * count(top gram) * chars(top gram) / chars(doc) — overlapping
    * occurrences are all counted, so degenerate runs ("w w w w") can
    * exceed 1.0, which only strengthens the verdict; ties on count
    * resolve to the lexicographically smallest gram. `dup5_frac` =
    * duplicated 5-gram occurrences / total 5-gram occurrences.
    *
    * Shape: entirely row-local Catalyst HOFs — grams via
    * transform(sequence)+slice, the top gram via one aggregate() fold
    * over the SORTED gram array (the [[topTokenShare]] run-length trick,
    * extended to carry the winning gram; the lambda touches only its own
    * state and element, so the interpreted-HOF re-evaluation gotcha does
    * not apply). Map-only: no explode, no shuffle, nothing leaves the
    * row. The DuckDB oracle replays the same integer arithmetic with a
    * per-doc rank window, and the single int/int->double division is
    * correctly-rounded IEEE in both engines.
    */
  def gopherRepetition(df: DataFrame, top2Max: Double = 0.20,
      top3Max: Double = 0.18, dup5Max: Double = 0.30): DataFrame = {
    val nChars = length(col("text"))
    // positional n-grams via arrays_zip over n shifted slices (the
    // DedupOps.shingles pattern): the per-element lambda touches only its
    // zip struct — a lambda referencing the token array would re-evaluate
    // the split() subtree per gram (interpreted HOFs)
    def grams(n: Int): Column = {
      val t = col("tk")
      val m = greatest(size(t) - lit(n - 1), lit(0))
      val z = arrays_zip((1 to n).map(j => slice(t, lit(j), m)): _*)
      transform(z, s => concat_ws(" ", (0 until n).map(j => s.getField(j.toString)): _*))
    }
    // (cnt, gram) of the most frequent n-gram: longest equal-run of the
    // sorted gram array; strict > keeps the FIRST (lex-smallest) gram
    // reaching the maximum
    def top(gs: Column): Column = aggregate(array_sort(gs),
      struct(lit("").as("prev"), lit(0).as("run"),
        lit(0).as("best"), lit("").as("bestg")),
      (st, g) => {
        val run = when(g === st.getField("prev"), st.getField("run") + 1)
          .otherwise(lit(1))
        val better = run > st.getField("best")
        struct(g.as("prev"), run.as("run"),
          when(better, run).otherwise(st.getField("best")).as("best"),
          when(better, g).otherwise(st.getField("bestg")).as("bestg"))
      },
      st => struct(st.getField("best").as("cnt"), st.getField("bestg").as("gram")))
    def share(topc: Column): Column =
      when(topc.getField("cnt") > 0 && nChars > 0,
        (topc.getField("cnt") * length(topc.getField("gram"))).cast("double") /
          nChars.cast("double"))
        .otherwise(lit(0.0))
    // tokens and the 5-gram array are real projected columns: each is
    // consumed by several expressions, and CollapseProject keeps a
    // multi-referenced non-cheap alias materialized instead of inlining
    // the gram build once per consumer
    val g5 = col("g5")
    val dup5 = when(size(g5) > 0,
      (size(g5) - size(array_distinct(g5))).cast("double") / size(g5).cast("double"))
      .otherwise(lit(0.0))
    val out = Par.spreadBy(df, col("doc_id"))
      .withColumn("tk", tokens(col("text")))
      .withColumn("g5", grams(5))
      .withColumn("t2", top(grams(2)))
      .withColumn("t3", top(grams(3)))
      .select(col("doc_id"),
        col("t2").getField("gram").as("top2_gram"),
        col("t2").getField("cnt").cast("int").as("top2_cnt"),
        share(col("t2")).as("top2_share"),
        col("t3").getField("gram").as("top3_gram"),
        col("t3").getField("cnt").cast("int").as("top3_cnt"),
        share(col("t3")).as("top3_share"),
        dup5.as("dup5_frac"))
    out.withColumn("kept",
      col("top2_share") <= top2Max && col("top3_share") <= top3Max &&
        col("dup5_frac") <= dup5Max)
  }

  /** t12: banned-phrase scan — content-policy filtering against a small
    * plan-literal phrase list: per document, the pipe-joined sorted list
    * of phrases found (substring match), their count, and a keep verdict.
    * Pure Catalyst HOF (filter over an array literal + contains) —
    * map-only, no UDF, no shuffle; the right shape for policy lists up
    * to a few thousand entries (beyond that, d11's broadcast n-gram
    * join is the tool). The HOF lambda references the row's text as a
    * bare attribute, so the CLAUDE.md interpreted-lambda gotcha (outer
    * SUBTREE re-evaluation per element) does not apply.
    */
  def bannedPhrases(df: DataFrame, phrases: Seq[String]): DataFrame = {
    val matched = bannedMatches(col("text"), phrases)
    df.select(col("doc_id"),
      array_join(matched, "|").as("matched"),
      size(matched).as("n_matched"),
      (size(matched) === 0).as("kept"))
  }

  /** The t12 match predicate as a bare column expression, for composed
    * pipelines that want the policy verdict inline (no join-back). */
  def bannedMatches(text: Column, phrases: Seq[String]): Column = {
    require(phrases.nonEmpty, "empty phrase list")
    filter(typedLit(phrases.sorted), p => contains(text, p))
  }

  /** t10: URL canonicalization — the C4/RefinedWeb prep step before
    * URL-level dedup: lowercase scheme and host, strip default ports
    * (http:80 / https:443, keeping explicit non-defaults), default an
    * empty path to '/', drop the fragment, drop `utm_*` tracking
    * parameters and SORT the surviving query parameters so
    * parameter-order variants collapse to one key. Pure Catalyst
    * regexp/string/array expressions — map-only, codegen, no UDF — and
    * every rule is replayed verbatim by the DuckDB oracle (shared regex
    * dialect, like t6). Returns the normalized URL; pair with md5 for
    * the dedup key.
    */
  def normalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    // the host charclass excludes ':' so the port never leaks into it
    val h = lower(regexp_extract(url, "^[^:]+://([^/:?#]+)", 1))
    val port = regexp_extract(url, "^[^:]+://[^/:?#]+:([0-9]+)", 1)
    val keepPort = port =!= "" &&
      !(scheme === "https" && port === "443") &&
      !(scheme === "http" && port === "80")
    val path = regexp_extract(url, "^[^:]+://[^/?#]*([^?#]*)", 1)
    val q = regexp_extract(url, "\\?([^#]*)", 1)
    val params = array_join(array_sort(
      filter(split(q, "&"), p => p =!= lit("") && !p.rlike("^utm_"))), "&")
    concat(
      scheme, lit("://"), h,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
      when(path === "", lit("/")).otherwise(path),
      when(params =!= "", concat(lit("?"), params)).otherwise(lit("")))
  }

  /** t8: context-window chunking — split every document into sliding
    * windows of at most `maxTokens` whitespace tokens with `overlap`
    * tokens of context carried between consecutive chunks (the
    * embedding/fine-tuning prep step; sequence PACKING t7 is its dual).
    * Chunk starts are `1 + i*(maxTokens-overlap)`; a document emits
    * `1 + ceil((n - maxTokens) / step)` chunks (one when `n <=
    * maxTokens`), so a trailing window fully covered by the previous one
    * is never emitted. Map-only (no shuffle — PlanSpec asserts it);
    * deterministic, rerun-stable. Returns (doc_id, chunk_id, chunk_text,
    * n_tokens).
    */
  /** t23: C4-style line-level cleaning (Raffel et al. 2020, §2.2 "we
    * only retained lines that ended in a terminal punctuation mark",
    * the javascript-line rule and the lorem-ipsum / curly-brace
    * document rules). A line survives iff it has at least `minWords`
    * space-separated words, ends in terminal punctuation (. ! ? ") and
    * does not mention "javascript"; the DOCUMENT survives iff it
    * contains no '{', no "lorem ipsum", and at least `minKeptLines`
    * lines survived. Returns (doc_id, n_lines, n_kept, clean_text,
    * kept) with clean_text the surviving lines re-joined by newline.
    *
    * Map-only (one projection, no shuffle — every rule is row-local).
    * The signals are one codegen'd [[C4Signals]] expression: a single
    * pass of [[QualityKernel.c4]] over the row's lines, with no line
    * array, no lambda and no regex. The oracle replays the identical
    * rules via DuckDB list_filter.
    */
  /** Column-level C4 signals over any text column (so composed
    * pipelines like p5 stay ONE map-only projection — no join-back per
    * stage). Struct fields: n_lines, n_kept, clean_text, kept.
    */
  def c4Signals(text: Column, minWords: Int = 5, minKeptLines: Int = 3): Column =
    native(C4Signals(_, minWords, minKeptLines))(text)

  def c4LineFilter(df: DataFrame, minWords: Int = 5, minKeptLines: Int = 3): DataFrame = {
    val s = c4Signals(col("text"), minWords, minKeptLines)
    df.select(
      col("doc_id"),
      s.getField("n_lines").as("n_lines"),
      s.getField("n_kept").as("n_kept"),
      s.getField("clean_text").as("clean_text"),
      s.getField("kept").as("kept"))
  }

  /** t24: Gopher duplicate-LINE quality signals (Rae et al. 2021 table
    * A1 — the line-level family next to t19's n-gram shares): the
    * fraction of lines that are duplicates of another line in the same
    * document, and the fraction of characters contained in such lines
    * (ALL copies count — a 3x-repeated boilerplate line contributes all
    * three). Drop thresholds follow the paper: dup_line_frac > 0.30 or
    * dup_char_frac > 0.20. Entirely row-local (no explode, no shuffle):
    * one codegen'd [[DupLineSignals]] expression whose kernel
    * ([[QualityKernel.dupLines]]) groups the row's lines by a sort of
    * (hash, line) keys, linear in the text plus that sort, so it is
    * map-only at any corpus scale.
    */
  /** Column-level dup-line signals (fields: n_lines, n_dup_lines,
    * dup_line_frac, dup_char_frac, kept). */
  def dupLineSignals(text: Column): Column = native(DupLineSignals(_))(text)

  def gopherDupLines(df: DataFrame): DataFrame = {
    val s = dupLineSignals(col("text"))
    df.select(col("doc_id"),
      s.getField("n_lines").as("n_lines"),
      s.getField("n_dup_lines").as("n_dup_lines"),
      s.getField("dup_line_frac").as("dup_line_frac"),
      s.getField("dup_char_frac").as("dup_char_frac"),
      s.getField("kept").as("kept"))
  }

  /** t25: the Gopher document-level quality battery (Rae et al. 2021
    * table A1 — the non-repetition rules; t19/t24 cover the repetition
    * family): word-count band, mean-word-length band [3,10], symbol-word
    * ratio <= 0.1 ('#' words or '...'-bearing words), bullet-started
    * line fraction <= 0.9, ellipsis-ended line fraction <= 0.3,
    * alphabetic-word fraction >= 0.8, and >= 2 hits from the paper's
    * 8-stopword list. Every signal is row-local (no explode, no
    * shuffle): one codegen'd [[GopherSignals]] expression whose kernel
    * ([[QualityKernel.gopher]]) counts words and lines in one pass over
    * the text; `kept` compares the ROUNDED ratios so the oracle's replay
    * agrees at rule boundaries.
    */
  /** Column-level Gopher battery signals (fields: n_words, mean_wlen,
    * sym_frac, bullet_frac, ellipsis_frac, alpha_frac, n_stop, kept). */
  def gopherQualitySignals(text: Column,
      minWords: Int = 15, maxWords: Int = 90): Column =
    native(GopherSignals(_, minWords, maxWords))(text)

  /** `text` wrapped in a native quality-signal expression. */
  private def native(signals: Expression => QualitySignals)(text: Column): Column =
    ExpressionColumns.column(signals(ExpressionColumns.expression(text)))

  def gopherQualityRules(df: DataFrame,
      minWords: Int = 15, maxWords: Int = 90): DataFrame = {
    val s = gopherQualitySignals(col("text"), minWords, maxWords)
    df.select((col("doc_id") +:
      Seq("n_words", "mean_wlen", "sym_frac", "bullet_frac",
        "ellipsis_frac", "alpha_frac", "n_stop", "kept")
        .map(f => s.getField(f).as(f))): _*)
  }

  /** t27: sentence segmentation stats — the pre-tokenization pass that
    * feeds sentence-level packing/dedup: split on terminal punctuation
    * followed by a space (a character-class split, NOT a lookbehind —
    * DuckDB's RE2 has no lookbehind, so the rule is chosen to mean the
    * same thing in both engines), then count, mean length, and longest.
    * Row-local, map-only.
    */
  def sentenceStats(df: DataFrame): DataFrame = {
    val sents = split(col("text"), "[.!?] ")
    val n = size(sents)
    val lens = transform(sents, s => length(s))
    val total = aggregate(lens, lit(0), (a, x) => a + x)
    df.select(col("doc_id"),
      n.as("n_sentences"),
      round(total.cast("double") / n, 4).as("mean_sent_len"),
      array_max(lens).as("max_sent_len"))
  }

  def chunkDocuments(df: DataFrame, maxTokens: Int = 128, overlap: Int = 16): DataFrame = {
    require(maxTokens > overlap && overlap >= 0,
      s"need maxTokens > overlap >= 0; got $maxTokens/$overlap")
    val spark = df.sparkSession
    import spark.implicits._
    val step = maxTokens - overlap
    df.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        val toks = if (t == null) Array("") else t.split(" ", -1)
        val n = toks.length
        val chunks = if (n <= maxTokens) 1 else 1 + (n - maxTokens + step - 1) / step
        Iterator.range(0, chunks).map { i =>
          val s = i * step
          val e = math.min(s + maxTokens, n)
          (id, i, toks.slice(s, e).mkString(" "), e - s)
        }
      })
      .toDF("doc_id", "chunk_id", "chunk_text", "n_tokens")
  }
}
