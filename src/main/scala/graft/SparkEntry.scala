package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.spark._
import graft.spark.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query groups (one entry per implemented operator family):
  *  - x*: the extraction engine over the interleaved-documents table
  *    (synthesized deterministically from documents.parquet so DuckDB can
  *    recompute expected output with plain SQL)
  *  - t*: text analysis (token counting, language-ID, quality, fingerprints)
  *  - d*: deduplication (exact, n-gram Jaccard join, MinHash+LSH, SimHash)
  *  - e*: embedding similarity search (brute-force + LSH-bucketed ANN)
  *  - m*: multimodal — fake-format byte plumbing (m1-m5) + REAL
  *    PNG/WAV codec chains via the JDK's own imageio/sound (m6-m8)
  *  - r*: stock relational coverage (agg / join / window / time-window)
  */
object SparkEntry {

  /** Flagship: full extraction over the interleaved table at sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val docs = InterleavedGen.table(spark, "/root/testdata/sf0.001")
    ExtractPipeline.extract(docs).toDF()
  }

  private def extracted(s: SparkSession, dir: String) =
    ExtractPipeline.extract(InterleavedGen.table(s, dir)).toDF()

  private def docsTable(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/documents.parquet")

  /** The t25/t26 pollution table: doc_id%8 selects a text mutation that
    * trips exactly one Gopher rule family (mirrored in both oracles). */
  private[graft] def gopherPollutedText: org.apache.spark.sql.Column = {
    val did = col("doc_id")
    val r = (did % 8).cast("int")
    val ell = "\nto be continued soon..."
    val bl = "- item line with the words"
    when(r === 1, concat(col("text"), lit(ell + ell + ell)))
      .when(r === 2, concat(repeat(lit(bl + "\n"), 9), lit(bl)))
      .when(r === 3, concat(col("text"), repeat(lit(" #"), 30)))
      .when(r === 4, concat(col("text"), repeat(lit(" 12345"), 30)))
      .when(r === 5, lit("tiny doc only"))
      .when(r === 6, concat(col("text"), repeat(lit(" filler"), 100)))
      .when(r === 7, concat(lit("the that"),
        repeat(lit(" pneumonoultramicroscopic"), 19)))
      .otherwise(col("text"))
  }

  /** The t23 multi-line text over documents(doc_id, text): every C4
    * rule bites somewhere — two planted lines fail (javascript mention;
    * under 5 words), one fails terminal punctuation, and the %11 / %13
    * residues plant the lorem-ipsum / curly-brace document kills. */
  private[graft] def c4FilterText: org.apache.spark.sql.Column = {
    val did = col("doc_id")
    concat(
      lit("document "), did.cast("string"), lit(" begins here with several words.\n"),
      col("text"), lit(".\n"),
      lit("enable javascript to view this content now.\n"),
      lit("short line\n"),
      lit("this line has many words but no terminal punctuation at all"),
      when(did % 11 === 0, lit("\nlorem ipsum dolor sit amet.")).otherwise(lit("")),
      when(did % 13 === 0, lit("\nvar config = { mode: 1 };")).otherwise(lit("")),
      lit("\nthe footer mentions privacy and cookies today."))
  }

  /** The p5 funnel text over documents(doc_id, text, source): t23's
    * lines plus doc_id%4 surviving boilerplate copies, so C4 kills (%11
    * lorem), the battery kills (word count > 90 on long docs) and
    * dup-lines kill (%4 >= 2) each bite independently. */
  private[graft] def qualityFunnelText: org.apache.spark.sql.Column = {
    val did = col("doc_id")
    val boiler = concat(lit("all rights reserved to "), col("source"), lit(" today.\n"))
    concat(
      lit("document "), did.cast("string"), lit(" begins here with several words.\n"),
      col("text"), lit(".\n"),
      lit("enable javascript to view this content now.\n"),
      lit("short line\n"),
      when(did % 11 === 0, lit("lorem ipsum dolor sit amet.\n")).otherwise(lit("")),
      call_function("repeat", boiler, (did % 4).cast("int")),
      lit("the footer mentions privacy and cookies today."))
  }

  /** The t24 text over documents(doc_id, text, source): the text split
    * into two distinct halves plus doc_id%4 copies of a boilerplate
    * line, so docs carry 0..3 duplicates and the 0.30/0.20 thresholds
    * bite. */
  private[graft] def dupLinesText: org.apache.spark.sql.Column = {
    val half = floor(length(col("text")) / 2).cast("int")
    val boiler = concat(lit("\nall rights reserved to "), col("source"), lit("."))
    concat(
      col("text").substr(lit(1), half), lit("\n"),
      col("text").substr(half + 1, length(col("text"))),
      call_function("repeat", boiler, (col("doc_id") % 4).cast("int")))
  }

  /** The t10/t16 deterministic URL synthesis (mirrored in UrlNormCte's
    * `u` CTE): scheme-case, default/explicit ports, empty paths, utm
    * params, unsorted params, and fragments all vary by doc_id. */
  private def syntheticUrl(did: org.apache.spark.sql.Column,
      source: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat(
    when(pmod(did, lit(4L)) === 0, lit("HTTP")).otherwise(lit("HtTpS")),
    lit("://"), source, lit(".Example.COM"),
    when(pmod(did, lit(7L)) === 0, lit(":8080"))
      .when(pmod(did, lit(4L)) === 0, lit(":80")).otherwise(lit(":443")),
    when(pmod(did, lit(5L)) === 0, lit(""))
      .otherwise(concat(lit("/Docs/"), did.cast("string"))),
    when(pmod(did, lit(6L)) === 0, lit("?utm_medium=x"))
      .otherwise(concat(lit("?utm_source=t"), pmod(did, lit(3L)).cast("string"),
        lit("&b=2&a="), pmod(did, lit(5L)).cast("string"))),
    lit("#s"), did.cast("string"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- extraction engine ----
    "x1_extract_text" -> ((s, dir) => {
      extracted(s, dir).select(
        col("doc_id"),
        array_join(transform(filter(col("spans"),
          sp => sp.getField("kind") === "text"), sp => sp.getField("text")), "")
          .as("main_text"))
    }),
    "x2_extract_media" -> ((s, dir) => {
      extracted(s, dir).select(
        col("doc_id"),
        size(filter(col("spans"), sp => sp.getField("kind") === "media")).as("n_media"),
        array_join(transform(filter(col("spans"),
          sp => sp.getField("kind") === "media"), sp => sp.getField("media_ref")), ",")
          .as("media_refs"),
        length(array_join(transform(filter(col("spans"),
          sp => sp.getField("kind") === "text"), sp => sp.getField("text")), ""))
          .as("n_text_chars"))
    }),

    // x3: rewrite mode — boilerplate subtrees removed, remaining HTML
    // re-serialized verbatim (the reference's primary use-case)
    "x3_clean_html" -> ((s, dir) =>
      HtmlClean.clean(HtmlClean.generatedHtml(s, dir)).toDF()),

    // x4: selector queries with attribute predicates — ordered a[href]
    // link extraction over the generated corpus
    "x4_links" -> ((s, dir) =>
      HtmlClean.links(HtmlClean.generatedHtml(s, dir))),

    // x5/x6: non-UTF-8 corpora (single-byte and multi-byte) through
    // meta-charset detection + per-row re-decode; the suffix forces
    // non-ASCII bytes so a decode bug is observable
    "x5_encoded_cp1252" -> ((s, dir) =>
      HtmlClean.encodedRoundtrip(s, dir, "windows-1252", " Äußerst café — résumé")),
    "x6_encoded_sjis" -> ((s, dir) =>
      HtmlClean.encodedRoundtrip(s, dir, "Shift_JIS", " 日本語のテスト文書")),

    // x7: rewrite mode with the transcoding OUTPUT sink — cleaned HTML is
    // re-encoded in the document's charset, then decoded back for compare
    "x7_clean_encoded" -> ((s, dir) =>
      HtmlClean.cleanEncodedRoundtrip(s, dir, "windows-1252", " déjà-vu™")),

    // x8: graceful bail-out + memory limiter (D16/D17) — planted
    // ambiguous/oversized documents become error rows with partial spans
    // instead of failing the task
    "x8_bailouts" -> ((s, dir) => HtmlClean.bailoutExtract(s, dir)),

    // x9: a third non-UTF-8 corpus through the WHATWG label resolver
    // (koi8-r is NOT a JVM-default-decoded superset of ASCII punctuation:
    // a decode bug mojibakes every Cyrillic byte)
    "x9_encoded_koi8r" -> ((s, dir) =>
      HtmlClean.encodedRoundtrip(s, dir, "koi8-r", " Русская проверка текста")),

    // x10: streaming mutation handlers (the reference streaming! surface)
    // + literal whole-element replace, end-to-end under the oracle
    "x10_streamed_clean" -> ((s, dir) => HtmlClean.streamedClean(s, dir)),

    // x11: Element source-location ranges (sourceStart/sourceEnd, the
    // reference Element::source_location) — oracle recomputes the <a>
    // start tag's byte range by string arithmetic over the template
    "x11_source_ranges" -> ((s, dir) =>
      HtmlClean.sourceRanges(HtmlClean.generatedHtml(s, dir))),

    // x13: EndTag/Doctype source-location ranges (round 5) — the oracle
    // recomputes both byte ranges via template string arithmetic
    "x13_endtag_ranges" -> ((s, dir) =>
      HtmlClean.endTagRanges(HtmlClean.generatedHtml(s, dir))),

    // x15: rewrite-mode graceful bail-out (reference v3.0.0 BailOut unit
    // + append_bail_out_handler): memory and handler-error bail-outs emit
    // the handler's marker before the raw flush; the oracle replays all
    // three branches via template arithmetic
    "x15_bailout_rewrite" -> ((s, dir) => HtmlClean.bailoutRewrite(s, dir)),

    // x16: absolute-URL rebasing of a[href]/img[src] against a base page
    // (the canonical HTMLRewriter production use) — scheme-qualified and
    // #fragment refs pass through raw, //protocol-relative, /rooted and
    // bare-relative refs resolve; the oracle replays the template
    "x16_rebase_links" -> ((s, dir) => HtmlClean.rebaseLinks(s, dir)),

    // x17: head-metadata extraction (canonical/OpenGraph/robots) — the
    // `^=` prefix attribute operator under the oracle; %9 residue plants
    // the noindex branch
    "x17_head_meta" -> ((s, dir) => HtmlClean.headMeta(s, dir)),

    // x18: structured table extraction — tr row frames + th/td cell
    // capture; the decoy nav list and boilerplate must contribute nothing
    "x18_table_extract" -> ((s, dir) => HtmlClean.tableExtract(s, dir)),

    // x19: HTML -> Markdown — one in-order streaming pass, markers
    // injected around a single body-text capture
    "x19_markdown" -> ((s, dir) => HtmlClean.markdownConvert(s, dir)),

    // x20: JSON-LD harvest — typed-script ScriptData capture only; the
    // untyped decoy script contributes nothing
    "x20_jsonld" -> ((s, dir) => HtmlClean.jsonLdExtract(s, dir)),

    // x12: DOM-heuristic main-content extraction (the north rule's third
    // branch) — link-density + length block scoring must recover the
    // document text with NO boilerplate selectors configured
    "x12_heuristic_extract" -> ((s, dir) =>
      HtmlClean.heuristicExtract(HtmlClean.generatedHtml(s, dir))),

    // x14: the JusText context rule (keepShortNearGood) — planted
    // short-near-good / isolated-short / link-dense blocks; only the
    // good block and its short neighbor must survive
    "x14_heuristic_context" -> ((s, dir) =>
      HtmlClean.contextHeuristicExtract(s, dir)),

    // t2: tokenizer counts over the generated corpus (fixed template =>
    // fixed counts; the script body contains markup-in-string, so the
    // ScriptData states are under the oracle too)
    "t2_token_counts" -> ((s, dir) =>
      HtmlClean.tokenCounts(HtmlClean.generatedHtml(s, dir))),

    // ---- text analysis ----
    "t1_text_stats" -> ((s, dir) => TextOps.docStats(s, dir)),
    // t3: Gopher-style repetition quality signals
    "t3_repetition" -> ((s, dir) =>
      // interpreted-HOF repetition signals over a locally single-partition
      // scan: spread first (no-op at real scale, see Par.spreadBy)
      Par.spreadBy(s.read.parquet(s"$dir/documents.parquet"), col("doc_id")).select(
        col("doc_id"),
        TextOps.repetitionRatio(col("text")).as("rep_ratio"),
        TextOps.topTokenShare(col("text")).as("top_share"))),
    // t4: deterministic reproducible train/val/test split (multiplicative
    // hash of the stable id -> bucket thresholds; map-only, rerun-stable)
    "t4_split" -> ((s, dir) =>
      TextOps.deterministicSplit(s.read.parquet(s"$dir/documents.parquet"))),
    // t5: per-domain quota sampling (C4/RefinedWeb per-source cap) —
    // deterministic hash order, skew-immune two-phase top-k (no bare
    // per-source window)
    "t5_domain_quota" -> ((s, dir) =>
      TextOps.domainQuota(s.read.parquet(s"$dir/documents.parquet"), 10)),
    // t7: training-sequence packing — fixed-token-budget pack assignment
    // in deterministic doc order via a two-phase distributed prefix-sum
    // (no global-window funnel)
    "t7_pack" -> ((s, dir) =>
      TextOps.packSequences(s.read.parquet(s"$dir/documents.parquet"), 512)),
    // t8: context-window chunking (sliding <=128-token windows, 16-token
    // overlap) — map-only, the embedding/fine-tuning prep dual of t7
    "t8_chunk" -> ((s, dir) =>
      TextOps.chunkDocuments(s.read.parquet(s"$dir/documents.parquet"))),
    // t9: per-source weighted mixture sampling — deterministic
    // hash-threshold keep decision under per-source permille rates (four
    // sources deliberately absent from the map take the default rate)
    "t9_mixture" -> ((s, dir) =>
      TextOps.mixtureSample(s.read.parquet(s"$dir/documents.parquet"),
        MixRates, MixDefaultPermille)),
    // t13: corpus vocabulary top-K (count desc, token asc rank) — the
    // partial-agg explode shape; the rank window sees only the
    // vocab-sized aggregate
    "t13_vocab" -> ((s, dir) =>
      TextOps.vocabTopK(s.read.parquet(s"$dir/documents.parquet"))),
    // t20: exact-k deterministic corpus sample — bottom-k by decorrelated
    // Knuth hash; plans as TakeOrderedAndProject (per-partition bounded
    // heaps + a k-row driver merge, no global sort)
    "t20_bottomk_sample" -> ((s, dir) =>
      TextOps.bottomKSample(s.read.parquet(s"$dir/documents.parquet"))),
    // t21: per-source length winsorization at the exact integer-rank p95
    // — order statistic on a projection-only pass, per-source cut joined
    // back by broadcast, corpus touched map-only
    "t21_winsorize" -> ((s, dir) =>
      TextOps.winsorizeLengths(s.read.parquet(s"$dir/documents.parquet"))),
    // t18: count-min-sketch token-frequency estimation — one-pass native
    // count_min_sketch aggregate gated by the exact top-50 counts
    // (CMS cells SUM under merge, so the verdict is partitioning-
    // independent; estimate >= count is structural, upper gate = eps*N)
    "t18_cms_freq" -> ((s, dir) =>
      TextOps.cmsFrequency(s.read.parquet(s"$dir/documents.parquet"))),
    // t14: per-doc TF-IDF keywords — integer-only idf surrogate
    // (N*1e6 div df) so both engines rank bit-identically (no libm log)
    "t14_keywords" -> ((s, dir) =>
      TextOps.keywords(s.read.parquet(s"$dir/documents.parquet"))),
    // t17: lexical-rarity score (integer perplexity proxy) — sum of
    // tf * idf-surrogate per doc, the KenLM-style quality signal
    "t17_rarity" -> ((s, dir) =>
      TextOps.rarityScore(s.read.parquet(s"$dir/documents.parquet"))),
    // t19: Gopher n-gram repetition suite — top-2/3-gram character share
    // + duplicated-5-gram fraction, entirely row-local HOFs (map-only,
    // nothing leaves the row); kept = all three under their thresholds
    "t19_gopher_rep" -> ((s, dir) =>
      TextOps.gopherRepetition(s.read.parquet(s"$dir/documents.parquet"))),
    // t12: banned-phrase content-policy scan — plan-literal phrase list,
    // pipe-joined matches + keep verdict, map-only HOF (one phrase
    // deliberately matches nothing)
    "t12_banned" -> ((s, dir) =>
      TextOps.bannedPhrases(s.read.parquet(s"$dir/documents.parquet"),
        BannedPhraseList)),
    // t23: C4 line-level cleaning over a synthesized multi-line corpus
    // (c4FilterText: every rule bites somewhere). Map-only.
    "t23_c4_filter" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextOps.c4LineFilter(docs.select(col("doc_id"), c4FilterText.as("text")))
    }),
    // p5: composed QUALITY FUNNEL — C4 line cleaning -> the Gopher
    // document battery AND dup-line signals over the CLEANED text, all
    // via the column-level signal builders so the whole three-stage
    // pipeline is ONE map-only projection (no join-back per stage), over
    // qualityFunnelText (each stage bites independently)
    "p5_quality_funnel" -> ((s, dir) => {
      // NOT spread (round 7): p5's contract is ONE map-only projection
      // with zero exchanges (SparkOpsSpec pins it; the same stateless
      // shape is what lets the funnel run unchanged under readStream)
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val did = col("doc_id")
      val c4 = TextOps.c4Signals(qualityFunnelText)
      val step1 = docs.select(did,
        c4.getField("clean_text").as("clean_text"),
        c4.getField("n_kept").as("n_kept"),
        c4.getField("kept").as("kept_c4"))
      val gq = TextOps.gopherQualitySignals(col("clean_text"))
      val dl = TextOps.dupLineSignals(col("clean_text"))
      step1.select(col("doc_id"), col("n_kept"),
        gq.getField("n_words").as("n_words"),
        dl.getField("dup_line_frac").as("dup_line_frac"),
        col("kept_c4"),
        gq.getField("kept").as("kept_gq"),
        dl.getField("kept").as("kept_dl"),
        (col("kept_c4") && gq.getField("kept") && dl.getField("kept")).as("kept"))
    }),
    // t24: Gopher duplicate-line signals over dupLinesText (0..3
    // duplicates per doc, so the 0.30/0.20 thresholds bite)
    "t24_dup_lines" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextOps.gopherDupLines(docs.select(col("doc_id"), dupLinesText.as("text")))
    }),
    // t25: Gopher document-level quality battery — doc_id%8 selects a
    // pollution that trips exactly one rule family (ellipsis lines,
    // bullet lines, '#' symbols, numeric words, too short, too long,
    // over-long words) against a clean residue
    "t25_gopher_quality" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextOps.gopherQualityRules(
        docs.select(col("doc_id"), gopherPollutedText.as("text")))
    }),
    // t26: per-source quality REPORT — the dashboard row: aggregate the
    // t25 battery verdicts by source (docs, kept, rate, total words);
    // one partial-agg groupBy over the same map-only signals
    "t26_quality_report" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val gq = TextOps.gopherQualitySignals(col("text"))
      docs.select(col("source"), gopherPollutedText.as("text"))
        .select(col("source"),
          gq.getField("kept").cast("int").as("k"),
          gq.getField("n_words").cast("long").as("nw"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("k")).as("n_kept"),
          round(sum(col("k")).cast("double") / count(lit(1)), 4).as("keep_rate"),
          sum(col("nw")).as("sum_words"))
    }),
    // t27: sentence segmentation stats over planted multi-sentence docs
    // (base corpus text has no terminal punctuation, so the sentence
    // boundaries are exactly the planted ones)
    "t27_sentence_stats" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val did = col("doc_id")
      val ml = concat(col("text"), lit(". short one! then a question? "),
        lit("tail sentence number "), (did % 5).cast("string"))
      TextOps.sentenceStats(docs.select(did, ml.as("text")))
    }),
    // t11: temperature-scaled source balancing (alpha = 0.5) — rates
    // DERIVED from per-source counts (1000*sqrt(min/count) permille);
    // sqrt/division are correctly-rounded IEEE in both engines, so the
    // oracle replays the rates bit-identically
    "t11_temperature_mix" -> ((s, dir) =>
      TextOps.temperatureMixture(s.read.parquet(s"$dir/documents.parquet"))),
    // t10: URL canonicalization over deterministically synthesized URLs
    // (mixed-case scheme/host, default + explicit ports, empty paths,
    // utm_* tracking params, unsorted params, fragments) — the prep step
    // before URL-level dedup
    "t10_url_norm" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val did = col("doc_id")
      val url = syntheticUrl(did, col("source"))
      val norm = TextOps.normalizeUrl(url)
      docs.select(did, url.as("url"), norm.as("url_norm"),
        md5(encode(norm, "UTF-8")).as("url_key"))
    }),
    // t16: URL-level dedup APPLY composed on t10's canonicalization —
    // order-parameter/port/scheme-case variants collapse to one key and
    // only the min-doc_id holder of each canonical URL is kept. One
    // exchange (window partitioned by url_norm, no orderBy => plain
    // per-partition aggregate window) — the C4/RefinedWeb first-stage
    // dedup at crawl scale.
    "t16_url_dedup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val did = col("doc_id")
      val norm = TextOps.normalizeUrl(syntheticUrl(did, col("source")))
      val w = Window.partitionBy(col("url_norm"))
      docs.select(did, norm.as("url_norm"))
        .withColumn("kept", col("doc_id") === min(col("doc_id")).over(w))
    }),
    // t6: PII redaction (emails / dotted-quad IPs / phone numbers) over
    // deterministically planted PII; counts + scrubbed text under oracle
    "t6_pii_scrub" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextOps.piiScrub(docs.select(col("doc_id"), concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail"), pmod(col("doc_id"), lit(7L)).cast("string"), lit(".example.com"),
        lit(" from 10."), pmod(col("doc_id"), lit(256L)).cast("string"),
        lit(".0."), pmod(col("doc_id") * 7, lit(256L)).cast("string"),
        lit(" tel 555-"), (pmod(col("doc_id"), lit(900L)) + 100).cast("string"),
        lit("-"), (pmod(col("doc_id"), lit(9000L)) + 1000).cast("string")).as("text")))
    }),

    // ---- dedup ----
    "d1_exact_dedup" -> ((s, dir) =>
      DedupOps.exactDedup(DedupOps.withVariants(s, dir))),
    "d2_ngram_pairs" -> ((s, dir) =>
      DedupOps.ngramJaccardPairs(DedupOps.withVariants(s, dir), 0.6)),
    // d2b: bounded-output pair variant — per-bucket pair expansion capped
    // to the first DefaultPairMemberCap sorted members (the oracle encodes
    // the identical capped semantics via a rank window)
    "d2b_ngram_pairs_capped" -> ((s, dir) =>
      DedupOps.ngramJaccardPairsCapped(DedupOps.withVariants(s, dir), 0.6)),
    "d3_minhash_pairs" -> ((s, dir) =>
      DedupOps.minhashLshPairs(DedupOps.withVariants(s, dir), 0.6)),
    // d16: MinHash estimator accuracy gate — the signature-agreement
    // estimate must land within a 5-sigma band of the exact Jaccard for
    // every d3 pair (t15/e2 verdict-gate style; pair list memoized,
    // corpus never shuffled)
    "d16_minhash_gate" -> ((s, dir) =>
      DedupOps.minhashEstimateGate(DedupOps.withVariants(s, dir), 0.6)),
    // d17: shingle-postings skew audit — df distribution + exact pair
    // fan-out, the pre-flight capacity numbers for the capped dedup join
    "d17_shingle_skew" -> ((s, dir) =>
      DedupOps.shingleSkewAudit(DedupOps.withVariants(s, dir))),
    // d18: pair evidence — shared-shingle count + lex-first shared
    // shingle per near-dup pair; pair list broadcast, corpus map-side
    "d18_pair_evidence" -> ((s, dir) =>
      DedupOps.pairEvidence(DedupOps.withVariants(s, dir), 0.6)),
    // t22: split-leakage audit — near-dup pairs whose endpoints land in
    // DIFFERENT t4 splits (a test doc with a train near-dup = eval
    // contamination). The split is a pure function of the id
    // (TextOps.splitNameOf == withSplit's arithmetic), so the audit is
    // MAP-ONLY over the memoized d3 pair list: no join-backs.
    "t22_split_leakage" -> ((s, dir) => {
      val pairs = DedupOps.minhashLshPairs(DedupOps.withVariants(s, dir), 0.6)
      pairs.select(col("id_a"), col("id_b"),
        TextOps.splitNameOf(col("id_a")).as("split_a"),
        TextOps.splitNameOf(col("id_b")).as("split_b"))
        .withColumn("leaky", col("split_a") =!= col("split_b"))
    }),
    "d4_simhash" -> ((s, dir) =>
      DedupOps.simhashSketch(DedupOps.withVariants(s, dir))),
    "d5_simhash_pairs" -> ((s, dir) =>
      DedupOps.simhashPairs(DedupOps.withVariants(s, dir), 3)),
    // d7: embedding-cosine near-dup — sign-projection blocking + exact
    // cosine verify over planted same-direction duplicates
    "d7_embdup_pairs" -> ((s, dir) =>
      DedupOps.embCosineDupPairs(DedupOps.withEmbVariants(s, dir), 0.9)),
    // e4: SemDeDup-style semantic dedup — d7's embedding-cosine pairs
    // fed through d9's large-star/small-star components; the min-id
    // member of each semantic cluster survives. Same 100-TB shape as
    // d9/d10 (sign-blocked candidate generation, O(log n) star rounds,
    // no pair-list materialization beyond the capped buckets).
    "e4_semantic_dedup" -> ((s, dir) => {
      val base = DedupOps.withEmbVariants(s, dir)
      val pairs = DedupOps.embCosineDupPairs(base, 0.9)
        .select(col("id_a"), col("id_b"))
      DedupOps.clusterIdsStar(base.select(col("vec_id").as("doc_id")), pairs)
        .select(col("doc_id").as("vec_id"), col("cluster_id"),
          (col("doc_id") === col("cluster_id")).as("survivor"))
    }),
    // d8: connected-component cluster assignment over the near-dup pair
    // list (each doc labelled with its component's min doc_id); the same
    // memoized computation as d9, so a session builds the table once
    "d8_dedup_clusters" -> ((s, dir) => {
      val base = DedupOps.withVariants(s, dir)
      DedupOps.clusterIdsStar(base, DedupOps.minhashLshPairs(base, 0.6))
    }),
    // d9: the same cluster table, large-star/small-star — O(log n) rounds
    // independent of component diameter (the 100 TB deep-graph path)
    "d9_cc_star" -> ((s, dir) => {
      val base = DedupOps.withVariants(s, dir)
      DedupOps.clusterIdsStar(base, DedupOps.minhashLshPairs(base, 0.6))
    }),
    // d10: cluster-representative dedup APPLY — the principled fix for
    // d6's pair-drop over-deletion on chains A~B~C: survivors are the one
    // representative (min doc_id == cluster_id) per d9 component;
    // singletons are their own component and always survive
    "d10_cluster_apply" -> ((s, dir) => {
      val base = DedupOps.withVariants(s, dir)
      val clusters = DedupOps.clusterIdsStar(base, DedupOps.minhashLshPairs(base, 0.6))
      clusters.where(col("doc_id") === col("cluster_id"))
        .select(col("doc_id"))
        .join(base, "doc_id")
        .select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("fp"))
    }),
    // d11: benchmark decontamination — drop training docs sharing any
    // 13-gram with an eval set (benchmark = every 50th document; planted
    // near-variants of benchmark docs must flag too)
    "d11_decontaminate" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val benchmark = docs.where(pmod(col("doc_id"), lit(50L)) === 0)
        .select(col("doc_id"), col("text"))
      DedupOps.decontaminate(DedupOps.withVariants(s, dir), benchmark)
    }),
    // d15: Bloom-filter decontamination — d11's scale path: the eval-set
    // gram filter built by Catalyst's BloomFilterAggregate, probed as a
    // foldable literal (no corpus-side join); exact verdict computed
    // alongside as the gate (bits OR under merge => deterministic)
    "d15_bloom_decon" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val benchmark = docs.where(pmod(col("doc_id"), lit(50L)) === 0)
        .select(col("doc_id"), col("text"))
      DedupOps.decontaminateBloom(DedupOps.withVariants(s, dir), benchmark)
    }),
    // d14: incremental ingest dedup — the planted variants play the
    // incoming crawl batch, the originals the existing corpus; one
    // verdict row per batch doc with its best corpus match
    "d14_incremental" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      DedupOps.incrementalDupVerdict(docs, DedupOps.variantBatch(docs), 0.6)
    }),
    // d12: substring-level span dedup (duplicated 13-gram runs merged
    // into maximal per-doc spans) — the boilerplate-paragraph case
    // doc-level dedup can't see
    "d12_span_dedup" -> ((s, dir) =>
      DedupOps.spanDedup(s.read.parquet(s"$dir/documents.parquet"))),
    // d13: span-dedup APPLY — every later copy of a duplicated 13-gram
    // run excised, the globally-first occurrence kept
    "d13_span_apply" -> ((s, dir) =>
      DedupOps.spanDedupApply(s.read.parquet(s"$dir/documents.parquet"))),
    // p2: composed SPAN-level curation (the round-6 counterpart of p1):
    // d13 clean text -> t12 policy filter + length floor -> t11
    // temperature mixture (rates derived from the SURVIVORS) -> t4 split
    "p2_curate_spans" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val cleaned = DedupOps.spanDedupApply(docs).select(col("doc_id"), col("clean_text"))
      // ONE doc_id-keyed join in the whole pipeline (clean text back to
      // its source): the policy verdict and the split are inline column
      // expressions, and the mixture's output already carries
      // (doc_id, source) — no join-backs, no extra exchanges at 100 TB
      val withSrc = cleaned.join(docs.select(col("doc_id"), col("source")), "doc_id")
      val ok = withSrc.where(
        size(TextOps.bannedMatches(col("clean_text"), BannedPhraseList)) === 0 &&
          length(col("clean_text")) >= 50)
      TextOps.withSplit(
          TextOps.temperatureMixture(ok).where(col("kept")))
        .select(col("doc_id"), col("source"), col("split_bucket"), col("split"))
    }),
    // p1: the composed curation pipeline a training-data user actually
    // runs — near-dup cluster representatives (d9/d10), quality filters
    // (length + repetition), then deterministic split assignment: every
    // stage is individually oracle-gated; this gates their composition
    // p3: MULTI-SIGNAL curation — MinHash text pairs and embedding-cosine
    // semantic pairs UNION into one duplicate graph (the real
    // SemDeDup+MinHash production shape: one CC pass over all signals,
    // one representative per multi-signal cluster), then quality floor +
    // split. Each doc's embedding is assigned deterministically
    // (doc_id % 250, base docs only) so semantic duplicates CROSS-CUT
    // the textual variant pairs — each component {k, k+250, 1e6+k,
    // 1e6+k+250} needs BOTH signals to form, so both bite — and the
    // oracle replays the semantic edges as exact key equality (identical
    // vectors cosine 1.0; cross-key max measured 0.48 << 0.9 at both sf).
    "p3_curate_multisignal" -> ((s, dir) => {
      val base = DedupOps.withVariants(s, dir)
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
        .where(col("vec_id") < 250).select(col("vec_id"), col("embedding"))
      val docsEmb = base.where(col("doc_id") < 1000000L)
        .select(col("doc_id"), expr("doc_id % 250").as("emb_key"))
        .join(broadcast(emb), col("emb_key") === col("vec_id"))
        .select(col("doc_id").as("vec_id"), col("embedding"))
      val semPairs = DedupOps.embCosineDupPairs(docsEmb, 0.9)
        .select(col("id_a"), col("id_b"))
      val textPairs = DedupOps.minhashLshPairs(base, 0.6)
        .select(col("id_a"), col("id_b"))
      val clusters = DedupOps.clusterIdsStar(base.select(col("doc_id")),
        textPairs.unionByName(semPairs))
      val reps = clusters.where(col("doc_id") === col("cluster_id")).select("doc_id")
      val kept = base.join(reps, "doc_id").where(length(col("text")) >= 50)
      TextOps.deterministicSplit(kept)
    }),
    // p4: RELEASE ASSEMBLY — the publish-side composition of the round-6
    // ops: t16 URL-level dedup (min-doc_id keeper per canonical URL) ->
    // t21 length floor (drop per-source p95 outliers, cut computed over
    // the SURVIVORS) -> t20 exact-50 eval carve-out (bottom-k by hash,
    // nested so a later k-bump never resamples) -> t4 split for the rest.
    // One url_norm exchange + one source exchange; the 50-row eval set
    // joins back by broadcast; the split is an inline expression.
    "p4_release" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val did = col("doc_id")
      val norm = TextOps.normalizeUrl(syntheticUrl(did, col("source")))
      val w = Window.partitionBy(col("url_norm"))
      val kept = docs.select(did, col("source"), col("n_chars"), norm.as("url_norm"))
        .withColumn("kept", did === min(did).over(w))
        .where(col("kept")).select("doc_id", "source", "n_chars")
      val floored = TextOps.winsorizeLengths(kept)
        .where(col("is_outlier") === 0).select("doc_id", "source")
      val evalIds = TextOps.bottomKSample(floored, 50)
        .select(col("doc_id").as("eval_id"))
      TextOps.withSplit(floored)
        .join(broadcast(evalIds), col("doc_id") === col("eval_id"), "left")
        .select(col("doc_id"), col("source"),
          when(col("eval_id").isNotNull, lit("eval"))
            .otherwise(col("split")).as("bucket"))
    }),
    "p1_curate" -> ((s, dir) => {
      val base = DedupOps.withVariants(s, dir)
      val clusters = DedupOps.clusterIdsStar(base, DedupOps.minhashLshPairs(base, 0.6))
      val reps = clusters.where(col("doc_id") === col("cluster_id")).select("doc_id")
      val kept = base.join(reps, "doc_id")
        .where(length(col("text")) >= 50 &&
          TextOps.repetitionRatio(col("text")) <= lit(0.6))
      TextOps.deterministicSplit(kept)
    }),

    // ---- embedding similarity ----
    "e1_cosine_topk" -> ((s, dir) =>
      SimOps.bruteForceTopK(s.read.parquet(s"$dir/embeddings.parquet"), 0L to 9L, 10)),
    // e2/e3: both ANN scale paths end-to-end (multi-probe LSH and IVF
    // inverted lists), gated on recall vs brute force — the only
    // oracle-expressible property of an approximate operator
    "e2_ann_recall" -> ((s, dir) =>
      SimOps.annRecallGate(s.read.parquet(s"$dir/embeddings.parquet"), 0L to 9L, 10)),
    // e5: cluster-balanced sampling — nearest-centroid assignment as a
    // MAP-ONLY argmax over a collected literal codebook (e3 pattern),
    // then the t5 skew-immune per-cluster quota
    "e5_cluster_balance" -> ((s, dir) =>
      SimOps.clusterBalance(s.read.parquet(s"$dir/embeddings.parquet"), 0L to 3L, 100)),
    "e3_ivf_recall" -> ((s, dir) =>
      SimOps.ivfRecallGate(s.read.parquet(s"$dir/embeddings.parquet"), 0L to 9L, 10)),

    // m2: non-HTML payload routing — deterministic PDFs through the
    // DocRouter branch; extracted text must equal the source text
    "m2_pdf_branch" -> ((s, dir) =>
      HtmlClean.routedText(HtmlClean.pdfAssets(s, dir))),

    // d6: dedup APPLY — survivors after dropping the larger id of every
    // near-dup pair (left-anti join against the verified pair list)
    "d6_dedup_apply" -> ((s, dir) => {
      val base = DedupOps.withVariants(s, dir)
      val pairs = DedupOps.minhashLshPairs(base, 0.6).select(col("id_b")).distinct()
      base.join(pairs, base("doc_id") === pairs("id_b"), "left_anti")
        .select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("fp"))
    }),

    // ---- multimodal plumbing ----
    "m1_multimodal_meta" -> ((s, dir) =>
      MultimodalOps.decodeMeta(MultimodalOps.assets(s, dir))),
    // m3/m4/m5: resize, frame-sample (explode shape + byte-offset math
    // under the oracle), and feature extraction over the decoded payload
    "m3_multimodal_resize" -> ((s, dir) =>
      MultimodalOps.resizeMeta(MultimodalOps.assets(s, dir), 64, 48)),
    "m4_multimodal_frames" -> ((s, dir) =>
      MultimodalOps.sampleFrames(MultimodalOps.assets(s, dir), 2)),
    "m5_multimodal_features" -> ((s, dir) =>
      MultimodalOps.extractFeatures(MultimodalOps.assets(s, dir))),
    // m6/m7: the REAL image codec branch — JDK javax.imageio PNGs with
    // deterministic pixels; the oracle recomputes decoded dimensions and
    // probed pixel values, gating decode (m6) and the full decode ->
    // nearest-neighbor resize -> re-encode -> re-decode chain (m7)
    "m6_png_decode" -> ((s, dir) =>
      MultimodalOps.pngDecode(MultimodalOps.pngAssets(s, dir))),
    // m9: header-only IHDR probe — dimensions/bit-depth/color-type via
    // codegen'd byte peeks, no decoder; the oracle recomputes the
    // generator formulas + the PNG writer's fixed 8-bit truecolor header
    "m9_png_header" -> ((s, dir) =>
      MultimodalOps.pngHeaderProbe(MultimodalOps.pngAssets(s, dir))),
    // m11: JPEG SOF marker-walk probe — the variable-length-header
    // sibling of m9/m10: dimensions recovered by folding over the
    // APPn/DQT segment chain to the SOF frame header, projection-only
    "m11_jpeg_header" -> ((s, dir) =>
      MultimodalOps.jpegSofProbe(MultimodalOps.jpegAssets(s, dir))),
    // m12: REAL multi-frame container (animated GIF via the JDK's
    // sequence writer) — frame count + m4's every-Nth keyframe stride
    // with per-frame pixel probes, all formula-recomputable
    "m12_gif_frames" -> ((s, dir) =>
      MultimodalOps.gifFrameSample(MultimodalOps.gifAssets(s, dir))),
    "m7_png_resize" -> ((s, dir) =>
      MultimodalOps.pngResizeProbe(MultimodalOps.pngAssets(s, dir))),
    // m8: the REAL audio codec branch — javax.sound WAV containers with
    // deterministic PCM16 samples; format + frame count + sample probes
    // recomputed by the oracle
    "m8_wav_decode" -> ((s, dir) =>
      MultimodalOps.wavDecode(MultimodalOps.wavAssets(s, dir))),
    // m13: real audio downsample — stride-2 decimation re-encoded at
    // 8 kHz and RE-DECODED; probes recomputed from the sample formula
    "m13_wav_downsample" -> ((s, dir) =>
      MultimodalOps.wavDownsample(MultimodalOps.wavAssets(s, dir))),
    // m14: header-only GIF probe — logical-screen-descriptor byte peeks,
    // dims recomputed by the oracle from the encoder formulas
    "m14_gif_header" -> ((s, dir) =>
      MultimodalOps.gifHeaderProbe(MultimodalOps.gifAssets(s, dir))),
    // m15: media-type sniff router over a MIXED blob column — magic-byte
    // classification + type-appropriate geometry in one projection
    "m15_media_sniff" -> ((s, dir) =>
      MultimodalOps.mediaSniff(MultimodalOps.mixedAssets(s, dir))),
    // m16: real audio features — zero crossings / abs energy / peak over
    // decoded PCM, every value integer-exact under the oracle
    "m16_wav_features" -> ((s, dir) =>
      MultimodalOps.wavFeatures(MultimodalOps.wavAssets(s, dir))),
    // m10: header-only WAV probe (the m9 pattern for audio) — format and
    // frame count from codegen'd byte peeks, no decoder touched
    "m10_wav_header" -> ((s, dir) =>
      MultimodalOps.wavHeaderProbe(MultimodalOps.wavAssets(s, dir))),

    // ---- stock relational coverage ----
    "r1_lineitem_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("double").as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("revenue_c4"),
          count(lit(1)).as("n_rows"))
    }),
    "r2_customer_revenue" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("revenue_c4"),
          countDistinct(col("o_orderkey")).as("n_orders"))
    }),
    "r3_events_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("rn", row_number().over(w))
        .withColumn("running_value",
          round(sum(col("value")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 4))
        .select(col("event_id"), col("user_id"), col("rn"), col("running_value"))
    }),
    "r5_sessionize" -> ((s, dir) => {
      // 30-min-gap sessionization: the training-pipeline classic, as pure
      // window functions (gap flag -> running sum per user)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("ep", col("ts").cast("timestamp").cast("long"))
        .withColumn("gap_s", col("ep") - lag(col("ep"), 1).over(w))
        .withColumn("session_id",
          sum(when(col("gap_s") > 1800, 1).otherwise(0))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
        .select(col("event_id"), col("user_id"), col("session_id"))
    }),
    "r6_rollup" -> ((s, dir) => {
      // multi-level aggregation (ROLLUP) with grouping indicators
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("price_c"),
          grouping(col("l_returnflag")).cast("int").as("g1"),
          grouping(col("l_linestatus")).cast("int").as("g2"))
    }),
    // r12: pivot (conditional cross-tabulation) — per-source document
    // counts spread across the FIXED language set. The pivot values are
    // a literal list, so Catalyst plans ONE partial-aggregated groupBy
    // (no driver-side distinct-values job — the trap of the 2-arg pivot
    // at 100 TB); empty cells are coalesced to 0 to match the oracle's
    // FILTERed counts.
    "r12_pivot" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val langs = Seq("de", "en", "es", "fr", "zh")
      val p = docs.groupBy(col("source")).pivot("lang", langs).count()
      p.select(col("source") +:
        langs.map(l => coalesce(col(l), lit(0L)).as(s"n_$l")): _*)
    }),
    // r13: CUBE — all four grouping combinations in one pass (ROLLUP's
    // sibling, r6); integer-cents sums, grouping() indicators
    "r13_cube" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("price_c"),
          grouping(col("l_returnflag")).cast("int").as("g1"),
          grouping(col("l_linestatus")).cast("int").as("g2"))
    }),
    // r14: explicit GROUPING SETS — the general form of r6/r13; the set
    // list skips the (linestatus-only) level so it is neither rollup nor
    // cube, still one partial-agg pass with grouping() discriminators
    "r14_grouping_sets" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("price_c"),
          grouping(col("l_returnflag")).cast("int").as("g1"),
          grouping(col("l_linestatus")).cast("int").as("g2"))
    }),
    "r7_percentiles" -> ((s, dir) => {
      // exact interpolated percentiles (sort-based) per group
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90"),
          round(expr("percentile(l_quantity, 0.99)"), 4).as("p99"))
    }),
    "r9_asof" -> ((s, dir) => {
      // as-of join (last-touch attribution): each event is joined to the
      // most recent STRICTLY-prior purchase by the same user. Generic
      // union+window form — one exchange on user_id, no join operator,
      // no range explosion (see AsofJoin). DuckDB oracles it with a
      // native ASOF LEFT JOIN on `e.ts > p.ts`; (user_id, ts) is unique
      // in the events table so the tie contract is satisfied.
      val ev = s.read.parquet(s"$dir/events.parquet")
      val purch = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purch_id"),
          col("ts").cast("timestamp").cast("long").as("purch_sec"))
      AsofJoin.asofJoin(
        ev.select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
          col("ts").cast("timestamp").cast("long").as("ev_sec")),
        purch, "user_id", "ts", "ts", Seq("purch_id", "purch_sec"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("purch_id"), (col("ev_sec") - col("purch_sec")).as("gap_s"))
    }),
    "r10_range_join" -> ((s, dir) => {
      // bucketed range join: events (points, in exact integer cents) vs
      // 100 OVERLAPPING price bands — exploded-bucket equi-join, never a
      // BroadcastNestedLoop/cartesian (see RangeJoin). Bands are
      // deterministic arithmetic on spark.range so DuckDB regenerates
      // them; floor(value*100) is the same IEEE multiply+floor in both.
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), floor(col("value") * 100).cast("long").as("cents"))
      val bands = s.range(0, 100).select(
        col("id").as("band_id"),
        (col("id") * 500).as("lo"),
        (col("id") * 500 + 1200).as("hi"))
      RangeJoin.pointInInterval(ev, "cents", bands, "lo", "hi", 512L)
        .select(col("event_id"), col("cents"), col("band_id"))
    }),
    // r11: quantile SKETCH (the t15 pattern for order statistics) —
    // approx_percentile's rank error is <= 1/accuracy = 1% here, so the
    // sketch median must land inside the exact [p45, p55] value window
    // regardless of partitioning/merge order; the emitted columns are
    // the exact median (oracle-matchable) + that deterministic verdict.
    // At 100 TB the sketch is one pass + KB of state per group where
    // exact percentile sorts the column.
    "r11_quantile_sketch" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag")).agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_exact"),
          expr("approx_percentile(l_quantity, 0.5, 100)").as("approx"),
          expr("percentile(l_quantity, 0.45)").as("lo"),
          expr("percentile(l_quantity, 0.55)").as("hi"))
        .select(col("l_returnflag"), col("p50_exact"),
          (col("approx") >= col("lo") && col("approx") <= col("hi"))
            .as("within_rank_bound"))
    }),
    // t15: sketch-based distinct counting — HLL++ approx_count_distinct
    // of the token vocabulary per source, gated like e2/e3's recall rows:
    // the emitted column is the EXACT count (oracle-matchable) plus a
    // within-5% accuracy verdict on the sketch (HLL register merge is
    // max() — commutative/associative, so the approx value is
    // partitioning-independent and the verdict deterministic). The 100 TB
    // story: the sketch is one pass + constant memory per group where
    // the exact path shuffles the full token set.
    "t15_hll_tokens" -> ((s, dir) => {
      // round 7: (source, token) is deduplicated FIRST, then one plain
      // aggregate — countDistinct alongside another aggregate planned an
      // Expand (every exploded row duplicated per aggregate group); the
      // explicit distinct is one partial-agg exchange of vocab-sized
      // rows, and approx_count_distinct over the distinct set builds the
      // IDENTICAL HLL sketch (register updates are idempotent), so both
      // emitted values are unchanged.
      val toks = s.read.parquet(s"$dir/documents.parquet").select(col("source"),
        explode(filter(split(col("text"), "\\s+"), x => x =!= "")).as("token"))
      toks.distinct().groupBy(col("source")).agg(
        count(col("token")).as("exact_tokens"),
        approx_count_distinct(col("token"), 0.02).as("approx"))
        .select(col("source"), col("exact_tokens"),
          (abs(col("approx") - col("exact_tokens")) <=
            col("exact_tokens") * 0.05).as("within_5pct"))
    }),
    "r8_setops" -> ((s, dir) => {
      // set operators: brands selling large parts EXCEPT brands selling
      // small parts, plus intersect count as a scalar column
      val p = s.read.parquet(s"$dir/part.parquet")
      val large = p.where(col("p_size") >= 40).select(col("p_brand"))
      val small = p.where(col("p_size") <= 10).select(col("p_brand"))
      val ex = large.except(small).withColumn("op", lit("except"))
      val in = large.intersect(small).withColumn("op", lit("intersect"))
      ex.unionAll(in)
    }),
    "r4_events_hourly" -> ((s, dir) => {
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,8)")).cast("decimal(20,4)").cast("double").as("sum_value"))
    })
  )

  // DuckDB-runnable oracle SQL. The variant/base CTE mirrors
  // DedupOps.withVariants exactly (1-based indexed list_filter).
  private val BaseCte =
    "WITH base AS (SELECT doc_id, text FROM documents UNION ALL " +
      "SELECT doc_id + 1000000 AS doc_id, " +
      "array_to_string(list_filter(string_split(text, ' '), (x,i) -> i % 17 != 0), ' ') AS text " +
      "FROM documents)"

  // `pairs` is the exact co-occurrence count (MinHash verification is
  // uncapped); `pairsc` applies d2's document-frequency cap on shingle
  // buckets — the cap is part of that operator's DEFINED semantics
  // (DedupOps.DefaultShingleDfCap), so its oracle must apply the
  // identical cap: co-occurrence counts exclude over-frequent shingles
  // while set sizes keep them
  private val ShinglesCte =
    BaseCte + ", sh AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, greatest(len(string_split(text,' ')) - 1, 1)), " +
      "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))) AS sh " +
      "FROM base WHERE len(string_split(text,' ')) >= 3), " +
      "sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id), " +
      "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
      "FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)"

  private val CappedPairsCte =
    ShinglesCte +
      s", shok AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) BETWEEN 2 AND ${DedupOps.DefaultShingleDfCap}), " +
      "pairsc AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
      "FROM sh a JOIN sh b USING (sh) JOIN shok USING (sh) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)"

  /** d2's oracle: capped pairs (the operator's semantics). */
  private val JaccardPairsCappedSql =
    CappedPairsCte +
      " SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter), 4) AS jaccard " +
      "FROM pairsc JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.6"

  /** d2b's oracle: d2's df-capped pairs PLUS the per-bucket member cap —
    * co-occurrence counts only among each shingle's first
    * DefaultPairMemberCap members by ascending doc_id (a rank window,
    * mirroring Spark's sort_array + slice exactly).
    */
  private val JaccardPairsMemberCappedSql =
    ShinglesCte +
      s", shok AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) BETWEEN 2 AND ${DedupOps.DefaultShingleDfCap}), " +
      "shr AS (SELECT sh, doc_id, row_number() OVER (PARTITION BY sh ORDER BY doc_id) AS rn " +
      "FROM sh JOIN shok USING (sh)), " +
      s"pairsb AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
      s"FROM shr a JOIN shr b USING (sh) WHERE a.doc_id < b.doc_id " +
      s"AND a.rn <= ${DedupOps.DefaultPairMemberCap} AND b.rn <= ${DedupOps.DefaultPairMemberCap} GROUP BY 1, 2) " +
      "SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter), 4) AS jaccard " +
      "FROM pairsb JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.6"

  /** t9's mixture weights: per-source permille rates derived
    * deterministically from the source name (what a mixture config table
    * would carry); src16..src19 are deliberately absent so the default
    * rate path is under the oracle too.
    */
  private[graft] val MixDefaultPermille = 500
  private[graft] val MixRates: Map[String, Int] =
    (0 until 16).map(i => s"src$i" -> (900 - 40 * (i % 10))).toMap

  /** SQL mirror of [[gopherPollutedText]] (shared by t25 and t26). */
  private val GopherPollutionCase =
    "CASE CAST(doc_id % 8 AS INT) " +
      "WHEN 1 THEN text || repeat(chr(10) || 'to be continued soon...', 3) " +
      "WHEN 2 THEN repeat('- item line with the words' || chr(10), 9) || '- item line with the words' " +
      "WHEN 3 THEN text || repeat(' #', 30) " +
      "WHEN 4 THEN text || repeat(' 12345', 30) " +
      "WHEN 5 THEN 'tiny doc only' " +
      "WHEN 6 THEN text || repeat(' filler', 100) " +
      "WHEN 7 THEN 'the that' || repeat(' pneumonoultramicroscopic', 19) " +
      "ELSE text END"

  /** The full Gopher battery keep-verdict over a CTE exposing (ws, ls)
    * word/line arrays (shared by t25's columns and t26's aggregate). */
  private val GopherKeptExpr =
    "(len(ws) BETWEEN 15 AND 90 " +
      "AND round(CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE)/len(ws), 4) >= 3.0 " +
      "AND round(CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE)/len(ws), 4) <= 10.0 " +
      "AND round(CAST(len(list_filter(ws, x -> x = '#' OR contains(x, '...'))) AS DOUBLE)/len(ws), 4) <= 0.1 " +
      "AND round(CAST(len(list_filter(ls, l -> starts_with(l, '- '))) AS DOUBLE)/len(ls), 4) <= 0.9 " +
      "AND round(CAST(len(list_filter(ls, l -> ends_with(l, '...'))) AS DOUBLE)/len(ls), 4) <= 0.3 " +
      "AND round(CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)/len(ws), 4) >= 0.8 " +
      "AND len(list_filter(ws, x -> list_contains(['the','be','to','of','and','that','have','with'], x))) >= 2)"

  private val MixRateCase =
    "CASE source " + MixRates.toSeq.sortBy(_._1).map { case (s, r) =>
      s"WHEN '$s' THEN $r "
    }.mkString + s"ELSE $MixDefaultPermille END"

  /** d13's span-clean CTE chain, ending in
    * cln(doc_id, clean_text, removed_tokens) — shared by the d13 oracle
    * and p2's composed oracle. duckdb array_to_string([]) is NULL where
    * Spark array_join([]) is '' — hence the coalesce on the
    * fully-deduplicated-doc case.
    */
  private val SpanCleanCte =
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
      "g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(tk) - 11, 1)), " +
      "i -> struct_pack(pos := i, gram := array_to_string(tk[i:i+12], ' ')))) AS pg FROM t), " +
      "g2 AS (SELECT doc_id, pg.pos AS pos, pg.gram AS gram FROM g), " +
      "r AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rk FROM g2), " +
      "hit AS (SELECT doc_id, pos FROM r WHERE rk > 1), " +
      "b AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER " +
      "(PARTITION BY doc_id ORDER BY pos) <= 13 THEN 0 ELSE 1 END AS brk FROM hit), " +
      "s AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS sid FROM b), " +
      "sp AS (SELECT doc_id, sid, min(pos) AS st, max(pos) + 13 AS en FROM s GROUP BY doc_id, sid), " +
      "spl AS (SELECT doc_id, list(struct_pack(st := st, en := en)) AS sp, " +
      "SUM(en - st) AS rem FROM sp GROUP BY doc_id), " +
      "cln AS (SELECT t.doc_id, CASE WHEN l.sp IS NULL THEN array_to_string(tk, ' ') " +
      "ELSE coalesce(array_to_string(list_transform(list_filter(range(1, len(tk) + 1), " +
      "i -> len(list_filter(l.sp, v -> i >= v.st AND i < v.en)) = 0), i -> tk[i]), ' '), '') END AS clean_text, " +
      "CAST(coalesce(l.rem, 0) AS INT) AS removed_tokens " +
      "FROM t LEFT JOIN spl l USING (doc_id))"

  /** t12 phrase list (two-word phrases over the generator vocabulary so
    * each matches a real subset; the last matches nothing by design).
    * Kept sorted — both sides emit matches in sorted-list order.
    */
  private[graft] val BannedPhraseList =
    Seq("big query", "data column", "slow fast", "vector table", "zz never zz")
  private val BannedSqlList = BannedPhraseList.map(p => s"'$p'").mkString("[", ", ", "]")

  /** d14's oracle: cross-set (batch vs corpus) inverted-index verify with
    * the corpus-side document-frequency cap and a per-batch-doc argmax
    * verdict (max rounded jaccard, ties to the minimum corpus id).
    */
  private val IncrementalSql =
    "WITH corpus AS (SELECT doc_id, text FROM documents), " +
      "batch AS (SELECT doc_id + 1000000 AS doc_id, " +
      "array_to_string(list_filter(string_split(text, ' '), (x,i) -> i % 17 != 0), ' ') AS text FROM documents), " +
      "csh AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, greatest(len(string_split(text,' ')) - 1, 1)), " +
      "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))) AS sh " +
      "FROM corpus WHERE len(string_split(text,' ')) >= 3), " +
      "bsh AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, greatest(len(string_split(text,' ')) - 1, 1)), " +
      "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))) AS sh " +
      "FROM batch WHERE len(string_split(text,' ')) >= 3), " +
      "csz AS (SELECT doc_id, count(*) AS set_size FROM csh GROUP BY 1), " +
      "bsz AS (SELECT doc_id, count(*) AS set_size FROM bsh GROUP BY 1), " +
      s"cok AS (SELECT sh FROM csh GROUP BY sh HAVING count(*) <= ${DedupOps.DefaultShingleDfCap}), " +
      "icnt AS (SELECT b.doc_id AS bid, c.doc_id AS cid, count(*) AS inter " +
      "FROM bsh b JOIN csh c USING (sh) JOIN cok USING (sh) GROUP BY 1, 2), " +
      "f AS (SELECT bid, cid, jac FROM (SELECT bid, cid, " +
      "round(CAST(inter AS DOUBLE) / (bs.set_size + cs.set_size - inter), 4) AS jac " +
      "FROM icnt JOIN bsz bs ON bs.doc_id = bid JOIN csz cs ON cs.doc_id = cid) WHERE jac >= 0.6), " +
      "best AS (SELECT bid, max(jac) AS jaccard FROM f GROUP BY 1), " +
      "pick AS (SELECT f.bid, min(f.cid) AS dup_of, b.jaccard " +
      "FROM f JOIN best b ON f.bid = b.bid AND f.jac = b.jaccard GROUP BY 1, 3) " +
      "SELECT bt.doc_id, (p.bid IS NOT NULL) AS is_dup, p.dup_of, p.jaccard " +
      "FROM batch bt LEFT JOIN pick p ON p.bid = bt.doc_id"

  /** d3's oracle: exact uncapped Jaccard ground truth. */
  private val JaccardPairsSql =
    ShinglesCte +
      " SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter), 4) AS jaccard " +
      "FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.6"

  private val SimhashCte =
    BaseCte + ", tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS t FROM base), " +
      "th AS (SELECT doc_id, (CAST(('0x' || substr(md5(t), 1, 16)) AS UBIGINT) >> 4) AS h FROM tok), " +
      "bits AS (SELECT doc_id, b.b AS b, sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s " +
      "FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS b) b GROUP BY 1, 2), " +
      "sig AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS UBIGINT) << b ELSE 0 END) AS BIGINT) AS simhash " +
      "FROM bits GROUP BY 1)"

  // connected components over the thresholded pair list via a recursive
  // CTE (label = min reachable id)
  private val ClustersCte =
    "WITH RECURSIVE " + ShinglesCte.stripPrefix("WITH ") +
      ", jp AS (SELECT id_a, id_b FROM pairs JOIN sizes sa ON sa.doc_id = id_a " +
      "JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.6), " +
      "sym AS (SELECT id_a AS a, id_b AS b FROM jp UNION ALL SELECT id_b AS a, id_a AS b FROM jp), " +
      "r(id, lab) AS (SELECT doc_id, doc_id FROM base " +
      "UNION SELECT s.b, r.lab FROM r JOIN sym s ON s.a = r.id)"

  private val ClustersSql =
    ClustersCte + " SELECT id AS doc_id, min(lab) AS cluster_id FROM r GROUP BY 1"

  // d10: survivors = the min-id representative of each component
  private val ClusterApplySql =
    ClustersCte +
      ", cl AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM r GROUP BY 1) " +
      "SELECT b.doc_id, md5(b.text) AS fp FROM base b " +
      "JOIN cl ON b.doc_id = cl.doc_id WHERE cl.cluster_id = b.doc_id"

  // p1: composed curation — representatives of each component, filtered
  // by length + repetition, with split assignment
  private val CurateSql =
    ClustersCte +
      ", cl AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM r GROUP BY 1), " +
      "reps AS (SELECT doc_id FROM cl WHERE doc_id = cluster_id), " +
      "stats AS (SELECT doc_id, len(toks) AS ntok, len(list_distinct(toks)) AS ndist " +
      "FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks FROM base)), " +
      "kept AS (SELECT b.doc_id FROM base b JOIN reps ON b.doc_id = reps.doc_id " +
      "JOIN stats st ON st.doc_id = b.doc_id " +
      "WHERE length(b.text) >= 50 AND " +
      "(CASE WHEN st.ntok > 0 THEN round(1 - CAST(st.ndist AS DOUBLE) / st.ntok, 4) ELSE 0.0 END) <= 0.6) " +
      "SELECT doc_id, CAST(((doc_id & 2147483647) * 2654435761) % 1000 AS INT) AS split_bucket, " +
      "CASE WHEN ((doc_id & 2147483647) * 2654435761) % 1000 < 900 THEN 'train' " +
      "WHEN ((doc_id & 2147483647) * 2654435761) % 1000 < 950 THEN 'val' ELSE 'test' END AS split " +
      "FROM kept"

  // p3: multi-signal duplicate graph = jaccard pairs UNION same-embedding
  // pairs, one CC, min-id reps, length floor, split
  private val P3Sql =
    "WITH RECURSIVE " + ShinglesCte.stripPrefix("WITH ") +
      ", jp AS (SELECT id_a, id_b FROM pairs JOIN sizes sa ON sa.doc_id = id_a " +
      "JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.6), " +
      "ek AS (SELECT doc_id, doc_id % 250 AS k FROM base WHERE doc_id < 1000000), " +
      "sem AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM ek a JOIN ek b " +
      "ON a.k = b.k AND a.doc_id < b.doc_id), " +
      "alle AS (SELECT id_a, id_b FROM jp UNION SELECT id_a, id_b FROM sem), " +
      "sym AS (SELECT id_a AS a, id_b AS b FROM alle UNION ALL SELECT id_b AS a, id_a AS b FROM alle), " +
      "r(id, lab) AS (SELECT doc_id, doc_id FROM base " +
      "UNION SELECT s.b, r.lab FROM r JOIN sym s ON s.a = r.id), " +
      "cl AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM r GROUP BY 1), " +
      "reps AS (SELECT doc_id FROM cl WHERE doc_id = cluster_id), " +
      "kept AS (SELECT b.doc_id FROM base b JOIN reps ON b.doc_id = reps.doc_id " +
      "WHERE length(b.text) >= 50) " +
      "SELECT doc_id, CAST(((doc_id & 2147483647) * 2654435761) % 1000 AS INT) AS split_bucket, " +
      "CASE WHEN ((doc_id & 2147483647) * 2654435761) % 1000 < 900 THEN 'train' " +
      "WHEN ((doc_id & 2147483647) * 2654435761) % 1000 < 950 THEN 'val' ELSE 'test' END AS split " +
      "FROM kept"

  def oracleSql: Map[String, String] = Map(
    "p3_curate_multisignal" -> P3Sql,
    "p1_curate" -> CurateSql,
    "d8_dedup_clusters" -> ClustersSql,
    "d9_cc_star" -> ClustersSql,
    "d10_cluster_apply" -> ClusterApplySql,
    "d11_decontaminate" ->
      (BaseCte + ", bg AS (SELECT DISTINCT unnest(list_transform(" +
        "range(1, greatest(len(string_split(text, ' ')) - 11, 1)), " +
        "i -> array_to_string(string_split(text, ' ')[i:i+12], ' '))) AS g " +
        "FROM documents WHERE doc_id % 50 = 0), " +
        "cg AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
        "range(1, greatest(len(string_split(text, ' ')) - 11, 1)), " +
        "i -> array_to_string(string_split(text, ' ')[i:i+12], ' ')))) AS g FROM base), " +
        "hit AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (g)) " +
        "SELECT b.doc_id, (h.doc_id IS NOT NULL) AS contaminated " +
        "FROM base b LEFT JOIN hit h ON b.doc_id = h.doc_id"),
    "d15_bloom_decon" ->
      (BaseCte + ", bg AS (SELECT DISTINCT unnest(list_transform(" +
        "range(1, greatest(len(string_split(text, ' ')) - 11, 1)), " +
        "i -> array_to_string(string_split(text, ' ')[i:i+12], ' '))) AS g " +
        "FROM documents WHERE doc_id % 50 = 0), " +
        "cg AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
        "range(1, greatest(len(string_split(text, ' ')) - 11, 1)), " +
        "i -> array_to_string(string_split(text, ' ')[i:i+12], ' ')))) AS g FROM base), " +
        "hit AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (g)) " +
        "SELECT b.doc_id, (h.doc_id IS NOT NULL) AS contaminated, " +
        "(h.doc_id IS NOT NULL) AS bloom_hit, TRUE AS no_false_neg " +
        "FROM base b LEFT JOIN hit h ON b.doc_id = h.doc_id"),

    "d12_span_dedup" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
        "g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(tk) - 11, 1)), " +
        "i -> struct_pack(pos := i, gram := array_to_string(tk[i:i+12], ' ')))) AS pg FROM t), " +
        "g2 AS (SELECT doc_id, pg.pos AS pos, pg.gram AS gram FROM g), " +
        "dupg AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) > 1), " +
        "hit AS (SELECT doc_id, pos FROM g2 JOIN dupg USING (gram)), " +
        "b AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER " +
        "(PARTITION BY doc_id ORDER BY pos) <= 13 THEN 0 ELSE 1 END AS brk FROM hit), " +
        "s AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS sid FROM b), " +
        "sp AS (SELECT doc_id, sid, min(pos) AS st, max(pos) + 13 AS en FROM s GROUP BY doc_id, sid), " +
        "agg AS (SELECT doc_id, count(*) AS ns, sum(en - st) AS nt FROM sp GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(coalesce(a.ns, 0) AS INT) AS dup_spans, " +
        "CAST(coalesce(a.nt, 0) AS INT) AS dup_tokens " +
        "FROM documents d LEFT JOIN agg a USING (doc_id)"),
    "d13_span_apply" ->
      (SpanCleanCte + " SELECT doc_id, clean_text, removed_tokens FROM cln"),

    // p2: composed span-level curation — every stage individually gated
    // (d13 clean, t12 policy, length, t11 mixture over the SURVIVORS'
    // counts, t4 split); this row gates their composition under one SQL
    "p2_curate_spans" ->
      (SpanCleanCte +
        ", src AS (SELECT doc_id, source FROM documents)" +
        s", ok AS (SELECT c.doc_id, s2.source FROM cln c JOIN src s2 USING (doc_id) " +
        s"WHERE length(c.clean_text) >= 50 AND " +
        s"len(list_filter($BannedSqlList, p -> contains(c.clean_text, p))) = 0)" +
        ", cnt AS (SELECT source, count(*) AS sc FROM ok GROUP BY 1)" +
        ", mnv AS (SELECT min(sc) AS m FROM cnt)" +
        ", rt AS (SELECT source, CAST(floor(1000.0 * sqrt(CAST(m AS DOUBLE) / sc)) AS INT) AS rp " +
        "FROM cnt, mnv)" +
        ", keepd AS (SELECT ok.doc_id, ok.source FROM ok JOIN rt USING (source) " +
        "WHERE ((ok.doc_id & 2147483647) * 3266489917) % 1000 < rt.rp) " +
        "SELECT doc_id, source, " +
        "CAST(((doc_id & 2147483647) * 2654435761) % 1000 AS INT) AS split_bucket, " +
        "CASE WHEN ((doc_id & 2147483647) * 2654435761) % 1000 < 900 THEN 'train' " +
        "WHEN ((doc_id & 2147483647) * 2654435761) % 1000 < 950 THEN 'val' ELSE 'test' END AS split " +
        "FROM keepd"),
    "x1_extract_text" ->
      "SELECT CAST(doc_id AS VARCHAR) AS doc_id, text AS main_text FROM documents",
    "x12_heuristic_extract" ->
      "SELECT CAST(doc_id AS VARCHAR) AS doc_id, text AS main_text FROM documents",
    "x14_heuristic_context" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, " +
        "text || 's' || CAST(doc_id % 7 AS VARCHAR) AS main_text FROM documents"),
    "x2_extract_media" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, " +
        "CAST(doc_id % 5 AS INT) AS n_media, " +
        "CASE WHEN doc_id % 5 = 0 THEN '' ELSE " +
        "  list_aggregate(list_transform(range(0, CAST(doc_id % 5 AS BIGINT)), " +
        "    j -> 'media://' || CAST(doc_id AS VARCHAR) || '/' || CAST(j AS VARCHAR)), 'string_agg', ',') " +
        "END AS media_refs, " +
        "CAST(length(text) AS INT) AS n_text_chars FROM documents"),

    "x3_clean_html" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, " +
        "'<!doctype html><html><body><article data-doc=\"' || CAST(doc_id AS VARCHAR) || '\"><p>' || " +
        "substr(text, 1, CAST(floor(length(text)/2) AS INT)) || '</p><p>' || " +
        "substr(text, CAST(floor(length(text)/2) AS INT) + 1) || " +
        "'</p></article><!-- end ' || CAST(doc_id AS VARCHAR) || ' --></body></html>' AS html " +
        "FROM documents"),
    "x4_links" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, 0 AS link_idx, " +
        "'/' || source || '/' || CAST(doc_id AS VARCHAR) AS href FROM documents"),
    "x5_encoded_cp1252" ->
      "SELECT CAST(doc_id AS VARCHAR) AS doc_id, text || ' Äußerst café — résumé' AS main_text FROM documents",
    "x6_encoded_sjis" ->
      "SELECT CAST(doc_id AS VARCHAR) AS doc_id, text || ' 日本語のテスト文書' AS main_text FROM documents",
    "x7_clean_encoded" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, " +
        "'<!doctype html><html><body><article><p>' || text || ' déjà-vu™' || " +
        "'</p></article></body></html>' AS cleaned FROM documents"),
    // x8 mirrors HtmlClean.bailoutExtract's planting rules; the oversized
    // document's byte length is template(68) + pad(budget 8192 + 16)
    "x8_bailouts" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, " +
        "CASE WHEN doc_id % 7 = 0 THEN 'parsing_ambiguity:style' " +
        "WHEN doc_id % 5 = 0 THEN 'memory_limit_exceeded:8260' " +
        "ELSE '' END AS error, " +
        "CAST(CASE WHEN doc_id % 7 = 0 THEN 1 WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END AS INT) AS n_spans, " +
        "CASE WHEN doc_id % 7 != 0 AND doc_id % 5 = 0 THEN '' ELSE text END AS main_text " +
        "FROM documents"),
    "x9_encoded_koi8r" ->
      "SELECT CAST(doc_id AS VARCHAR) AS doc_id, text || ' Русская проверка текста' AS main_text FROM documents",
    // x15 branches: %5 => memory bail BEFORE parse (marker + whole doc
    // raw, pad = budget+16 x's); %7 => handler bail mid-doc (nav already
    // replaced by <hr>, marker, then the unemitted suffix raw); else
    // normal rewrite. Budget fixed at 8192.
    "x15_bailout_rewrite" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, " +
        "CASE WHEN doc_id % 5 = 0 THEN '<!--bail:memory_limit_exceeded:8192-->' || " +
        "'<html><body><nav>n-' || CAST(doc_id AS VARCHAR) || '</nav><article><p>' || " +
        "repeat('x', 8208) || '</p></article></body></html>' " +
        "WHEN doc_id % 7 = 0 THEN '<html><body><hr>' || '<!--bail:content_handler_error-->' || " +
        "'<article data-fail=\"1\"><p>' || text || '</p></article></body></html>' " +
        "ELSE '<html><body><hr><article><p>' || text || '</p></article></body></html>' END AS rewritten, " +
        "CASE WHEN doc_id % 5 = 0 THEN 'memory_limit_exceeded:8192' " +
        "WHEN doc_id % 7 = 0 THEN 'content_handler_error' ELSE '' END AS bail_error " +
        "FROM documents"),
    // a_start = |seg1| + |did| + |seg2| + |did| + |seg3| + |lang| + |seg4|
    // with the four template segment lengths 38/48/68/37 (sum 191), and
    // the <a> tag itself is '<a href="/' + source + '/' + did + '">'
    // (13 constant chars); the generator emits pure ASCII so chars==bytes
    "x11_source_ranges" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, " +
        "CAST(191 + 2 * length(CAST(doc_id AS VARCHAR)) + length(lang) AS INT) AS a_start, " +
        "CAST(191 + 2 * length(CAST(doc_id AS VARCHAR)) + length(lang) + " +
        "13 + length(source) + length(CAST(doc_id AS VARCHAR)) AS INT) AS a_end, " +
        "'<a href=\"/' || source || '/' || CAST(doc_id AS VARCHAR) || '\">' AS a_raw " +
        "FROM documents"),
    // dt = '<!doctype html>' (constant [0,15)); nav_start = a_end (see
    // x11: 204 + 3*len(did) + len(lang) + len(source)) + len('nav-') +
    // len(did) + len('</a></li></ul>') = 222 + 4*len(did) + len(lang) +
    // len(source); '</nav>' is 6 bytes
    "x13_endtag_ranges" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(0 AS INT) AS dt_start, " +
        "CAST(15 AS INT) AS dt_end, " +
        "CAST(222 + 4 * length(CAST(doc_id AS VARCHAR)) + length(lang) + length(source) AS INT) AS nav_start, " +
        "CAST(228 + 4 * length(CAST(doc_id AS VARCHAR)) + length(lang) + length(source) AS INT) AS nav_end, " +
        "'</nav>' AS nav_raw FROM documents"),
    "x10_streamed_clean" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, " +
        "'<html><body><hr><article data-doc=\"' || CAST(doc_id AS VARCHAR) || '\"><mark>' || " +
        "CAST(doc_id AS VARCHAR) || ' &lt;ok&gt;</mark></article></body></html>' AS rewritten " +
        "FROM documents"),
    "t2_token_counts" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, 17 AS n_start_tags, " +
        "16 AS n_end_tags, 1 AS n_comments, 1 AS n_doctypes FROM documents"),
    "t1_text_stats" ->
      ("SELECT doc_id, " +
        "CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS INT) AS n_tok_ws, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_tok_bpe, " +
        "CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) AS INT) AS hits_en, " +
        "CASE WHEN greatest(" +
        "  len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t)))," +
        "  len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit','auf'], t)))," +
        "  len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['el','la','de','que','y','en','un','es','por','con'], t)))," +
        "  len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['le','la','de','et','un','est','que','pour','dans','sur'], t)))) = 0 THEN 'und' " +
        "WHEN len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) = greatest(" +
        "  len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t)))," +
        "  len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit','auf'], t)))," +
        "  len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['el','la','de','que','y','en','un','es','por','con'], t)))," +
        "  len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['le','la','de','et','un','est','que','pour','dans','sur'], t)))) THEN 'en' " +
        "WHEN len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit','auf'], t))) = greatest(" +
        "  len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t)))," +
        "  len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit','auf'], t)))," +
        "  len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['el','la','de','que','y','en','un','es','por','con'], t)))," +
        "  len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['le','la','de','et','un','est','que','pour','dans','sur'], t)))) THEN 'de' " +
        "WHEN len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['el','la','de','que','y','en','un','es','por','con'], t))) = greatest(" +
        "  len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t)))," +
        "  len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit','auf'], t)))," +
        "  len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['el','la','de','que','y','en','un','es','por','con'], t)))," +
        "  len(list_filter(string_split_regex(text,'\\s+'), t -> list_contains(['le','la','de','et','un','est','que','pour','dans','sur'], t)))) THEN 'es' " +
        "ELSE 'fr' END AS lang_pred, " +
        "round((least(length(text)/500.0, 1.0) + " +
        "  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)/length(text) ELSE 0.0 END + " +
        "  CASE WHEN len(list_filter(string_split_regex(text,'\\s+'), x -> x != '')) > 0 AND " +
        "    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)/len(list_filter(string_split_regex(text,'\\s+'), x -> x != '')) BETWEEN 3 AND 12 " +
        "  THEN 1.0 ELSE 0.0 END) / 3.0, 4) AS quality, " +
        "md5(text) AS fp_md5, " +
        "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))), (a,b) -> (a*131+b) % 1000000007) AS fp_roll " +
        "FROM documents"),

    "t3_repetition" ->
      ("SELECT doc_id, " +
        "CASE WHEN ntok > 0 THEN round(1 - CAST(ndist AS DOUBLE) / ntok, 4) ELSE 0.0 END AS rep_ratio, " +
        "CASE WHEN ntok > 0 THEN round(CAST(maxc AS DOUBLE) / ntok, 4) ELSE 0.0 END AS top_share " +
        "FROM (SELECT doc_id, len(toks) AS ntok, len(list_distinct(toks)) AS ndist, " +
        "list_max(list_transform(list_distinct(toks), x -> len(list_filter(toks, y -> y = x)))) AS maxc " +
        "FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks FROM documents))"),

    "t4_split" ->
      ("SELECT doc_id, CAST(((doc_id & 2147483647) * 2654435761) % 1000 AS INT) AS split_bucket, " +
        "CASE WHEN ((doc_id & 2147483647) * 2654435761) % 1000 < 900 THEN 'train' " +
        "WHEN ((doc_id & 2147483647) * 2654435761) % 1000 < 950 THEN 'val' ELSE 'test' END AS split " +
        "FROM documents"),

    "t5_domain_quota" ->
      ("SELECT doc_id, source, CAST(rn AS INT) AS rn FROM (" +
        "SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
        "ORDER BY ((doc_id & 2147483647) * 2654435761) % 1000000007, doc_id) AS rn FROM documents) " +
        "WHERE rn <= 10"),

    "t7_pack" ->
      ("SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, " +
        "CAST(cum - n_tok AS BIGINT) AS tok_offset, " +
        "CAST((cum - n_tok) // 512 AS BIGINT) AS pack_id FROM (" +
        "SELECT doc_id, len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS n_tok, " +
        "sum(len(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))) " +
        "OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM documents)"),

    "t8_chunk" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk, " +
        "len(string_split(text, ' ')) AS n FROM documents), " +
        "c AS (SELECT doc_id, tk, n, unnest(range(0, " +
        "CASE WHEN n <= 128 THEN 1 ELSE 1 + (n - 128 + 111) // 112 END)) AS chunk_id FROM t) " +
        "SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id, " +
        "array_to_string(tk[chunk_id * 112 + 1 : least(chunk_id * 112 + 128, n)], ' ') AS chunk_text, " +
        "CAST(least(chunk_id * 112 + 128, n) - chunk_id * 112 AS INT) AS n_tokens FROM c"),

    "t10_url_norm" -> (UrlNormCte +
        "SELECT doc_id, url, url_norm, md5(url_norm) AS url_key FROM n2"),

    // t16: URL-level dedup APPLY over the t10 normalization — the first
    // (min doc_id) holder of each canonical URL is kept
    "t16_url_dedup" -> (UrlNormCte +
        "SELECT doc_id, url_norm, doc_id = min(doc_id) OVER (PARTITION BY url_norm) AS kept FROM n2"),

    // p4: release assembly — t16 keepers -> t21 p95 floor over the
    // survivors -> t20 bottom-50 eval carve -> t4 split; every stage's
    // arithmetic is the same CTE the standalone row uses
    "p4_release" -> (UrlNormCte +
        ", keep AS (SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY url_norm) AS kept FROM n2)" +
        ", k1 AS (SELECT d.doc_id, d.source, d.n_chars FROM documents d " +
        "JOIN keep USING (doc_id) WHERE keep.kept)" +
        ", ranked AS (SELECT source, n_chars, doc_id, " +
        "row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn, " +
        "count(*) OVER (PARTITION BY source) AS n FROM k1)" +
        ", p AS (SELECT source, n_chars AS p95 FROM ranked WHERE rn = (n * 950 + 999) // 1000)" +
        ", k2 AS (SELECT k1.doc_id, k1.source FROM k1 JOIN p USING (source) " +
        "WHERE k1.n_chars <= p.p95)" +
        ", ev AS (SELECT doc_id FROM k2 " +
        "ORDER BY (doc_id & 2147483647) * 2971215073 % 1000000007, doc_id LIMIT 50) " +
        "SELECT k2.doc_id, k2.source, " +
        "CASE WHEN ev.doc_id IS NOT NULL THEN 'eval' " +
        "WHEN (k2.doc_id & 2147483647) * 2654435761 % 1000 < 900 THEN 'train' " +
        "WHEN (k2.doc_id & 2147483647) * 2654435761 % 1000 < 950 THEN 'val' " +
        "ELSE 'test' END AS bucket " +
        "FROM k2 LEFT JOIN ev ON k2.doc_id = ev.doc_id")
  ) ++ oracleSqlCont

  // the t10/t16 shared normalization pipeline (url synthesis + canonical
  // form) — factored so the two oracles can never drift apart
  private val UrlNormCte =
      ("WITH u AS (SELECT doc_id, " +
        "(CASE WHEN doc_id % 4 = 0 THEN 'HTTP' ELSE 'HtTpS' END) || '://' || source || '.Example.COM' || " +
        "(CASE WHEN doc_id % 7 = 0 THEN ':8080' WHEN doc_id % 4 = 0 THEN ':80' ELSE ':443' END) || " +
        "(CASE WHEN doc_id % 5 = 0 THEN '' ELSE '/Docs/' || CAST(doc_id AS VARCHAR) END) || " +
        "(CASE WHEN doc_id % 6 = 0 THEN '?utm_medium=x' ELSE '?utm_source=t' || CAST(doc_id % 3 AS VARCHAR) || '&b=2&a=' || CAST(doc_id % 5 AS VARCHAR) END) || " +
        "'#s' || CAST(doc_id AS VARCHAR) AS url FROM documents), " +
        "n AS (SELECT doc_id, url, " +
        "lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme, " +
        "lower(regexp_extract(url, '^[^:]+://([^/:?#]+)', 1)) AS host, " +
        "regexp_extract(url, '^[^:]+://[^/:?#]+:([0-9]+)', 1) AS port, " +
        "regexp_extract(url, '^[^:]+://[^/?#]*([^?#]*)', 1) AS path, " +
        "array_to_string(list_sort(list_filter(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'), " +
        "p -> p != '' AND NOT regexp_matches(p, '^utm_'))), '&') AS params FROM u), " +
        "n2 AS (SELECT doc_id, url, scheme || '://' || host || " +
        "(CASE WHEN port != '' AND NOT (scheme = 'https' AND port = '443') " +
        "AND NOT (scheme = 'http' AND port = '80') THEN ':' || port ELSE '' END) || " +
        "(CASE WHEN path = '' THEN '/' ELSE path END) || " +
        "(CASE WHEN params != '' THEN '?' || params ELSE '' END) AS url_norm FROM n) ")

  private def oracleSqlCont: Map[String, String] = Map(
    // t23 replays the line construction, then the identical C4 rules via
    // list_filter; clean_text joins kept lines with chr(10) (coalesce:
    // duckdb array_to_string([]) is NULL where Spark array_join is '')
    "t23_c4_filter" ->
      ("WITH p AS (SELECT doc_id, " +
        "'document ' || CAST(doc_id AS VARCHAR) || ' begins here with several words.' || chr(10) || " +
        "text || '.' || chr(10) || " +
        "'enable javascript to view this content now.' || chr(10) || " +
        "'short line' || chr(10) || " +
        "'this line has many words but no terminal punctuation at all' || " +
        "CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END || " +
        "CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'var config = { mode: 1 };' ELSE '' END || " +
        "chr(10) || 'the footer mentions privacy and cookies today.' AS text FROM documents), " +
        "k AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines, " +
        "list_filter(string_split(text, chr(10)), l -> " +
        "len(string_split(l, ' ')) >= 5 AND regexp_matches(l, '[.!?\"]$') " +
        "AND NOT contains(l, 'javascript')) AS kl FROM p) " +
        "SELECT doc_id, CAST(len(lines) AS INT) AS n_lines, CAST(len(kl) AS INT) AS n_kept, " +
        "coalesce(array_to_string(kl, chr(10)), '') AS clean_text, " +
        "(NOT contains(text, '{') AND NOT contains(text, 'lorem ipsum') AND len(kl) >= 3) AS kept " +
        "FROM k"),

    "r13_cube" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_c, " +
        "CAST(grouping(l_returnflag) AS INT) AS g1, CAST(grouping(l_linestatus) AS INT) AS g2 " +
        "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"),

    "r14_grouping_sets" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_c, " +
        "CAST(grouping(l_returnflag) AS INT) AS g1, CAST(grouping(l_linestatus) AS INT) AS g2 " +
        "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())"),

    // t24 replays the two-halves + repeated-boilerplate construction;
    // the dup set is computed the DIRECT quadratic way (count per line)
    // — provably equal to the Spark side's sorted-run fold
    "t24_dup_lines" ->
      ("WITH p AS (SELECT doc_id, " +
        "substr(text, 1, len(text)//2) || chr(10) || substr(text, len(text)//2 + 1) || " +
        "repeat(chr(10) || 'all rights reserved to ' || source || '.', CAST(doc_id % 4 AS INT)) AS text " +
        "FROM documents), " +
        "s AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM p), " +
        "k AS (SELECT doc_id, lines, " +
        "list_filter(lines, l -> len(list_filter(lines, x -> x = l)) > 1) AS dl FROM s), " +
        "c AS (SELECT doc_id, len(lines) AS n_lines, len(dl) AS n_dup, " +
        "coalesce(list_sum(list_transform(lines, l -> len(l))), 0) AS tot_c, " +
        "coalesce(list_sum(list_transform(dl, l -> len(l))), 0) AS dup_c FROM k), " +
        "f AS (SELECT doc_id, n_lines, n_dup, " +
        "CASE WHEN n_lines > 0 THEN round(CAST(n_dup AS DOUBLE) / n_lines, 4) ELSE 0.0 END AS dlf, " +
        "CASE WHEN tot_c > 0 THEN round(CAST(dup_c AS DOUBLE) / tot_c, 4) ELSE 0.0 END AS dcf FROM c) " +
        "SELECT doc_id, CAST(n_lines AS INT) AS n_lines, CAST(n_dup AS INT) AS n_dup_lines, " +
        "dlf AS dup_line_frac, dcf AS dup_char_frac, " +
        "(dlf <= 0.30 AND dcf <= 0.20) AS kept FROM f"),

    // p5: the construction, the C4 rules, the full Gopher battery and
    // the quadratic dup-line count — each stage's SQL reused verbatim
    // from the standalone t23/t25/t24 oracles, chained over clean_text
    "p5_quality_funnel" ->
      ("WITH p AS (SELECT doc_id, " +
        "'document ' || CAST(doc_id AS VARCHAR) || ' begins here with several words.' || chr(10) || " +
        "text || '.' || chr(10) || " +
        "'enable javascript to view this content now.' || chr(10) || " +
        "'short line' || chr(10) || " +
        "CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet.' || chr(10) ELSE '' END || " +
        "repeat('all rights reserved to ' || source || ' today.' || chr(10), CAST(doc_id % 4 AS INT)) || " +
        "'the footer mentions privacy and cookies today.' AS text FROM documents), " +
        "k AS (SELECT doc_id, text, " +
        "list_filter(string_split(text, chr(10)), l -> " +
        "len(string_split(l, ' ')) >= 5 AND regexp_matches(l, '[.!?\"]$') " +
        "AND NOT contains(l, 'javascript')) AS kl FROM p), " +
        "c AS (SELECT doc_id, CAST(len(kl) AS INT) AS n_kept, " +
        "coalesce(array_to_string(kl, chr(10)), '') AS clean, " +
        "(NOT contains(text, '{') AND NOT contains(text, 'lorem ipsum') AND len(kl) >= 3) AS kept_c4 FROM k), " +
        "g AS (SELECT doc_id, n_kept, clean, kept_c4, " +
        "regexp_split_to_array(clean, '[ \\n]+') AS ws, " +
        "string_split(clean, chr(10)) AS ls FROM c), " +
        "g2 AS (SELECT doc_id, n_kept, kept_c4, ls, len(ws) AS nw, " +
        "list_sum(list_transform(ws, x -> len(x))) AS wc, " +
        "len(list_filter(ws, x -> x = '#' OR contains(x, '...'))) AS nsym, " +
        "len(list_filter(ls, l -> starts_with(l, '- '))) AS nbul, " +
        "len(list_filter(ls, l -> ends_with(l, '...'))) AS nell, " +
        "len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS nalpha, " +
        "len(list_filter(ws, x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS nstop, " +
        "len(ls) AS nl FROM g), " +
        "g3 AS (SELECT doc_id, n_kept, kept_c4, ls, CAST(nw AS INT) AS n_words, " +
        "(nw BETWEEN 15 AND 90 AND round(CAST(wc AS DOUBLE)/nw, 4) >= 3.0 AND round(CAST(wc AS DOUBLE)/nw, 4) <= 10.0 " +
        "AND round(CAST(nsym AS DOUBLE)/nw, 4) <= 0.1 AND round(CAST(nbul AS DOUBLE)/nl, 4) <= 0.9 " +
        "AND round(CAST(nell AS DOUBLE)/nl, 4) <= 0.3 AND round(CAST(nalpha AS DOUBLE)/nw, 4) >= 0.8 " +
        "AND nstop >= 2) AS kept_gq FROM g2), " +
        "d AS (SELECT doc_id, n_kept, n_words, kept_c4, kept_gq, len(ls) AS nl, " +
        "len(list_filter(ls, l -> len(list_filter(ls, x -> x = l)) > 1)) AS ndup, " +
        "coalesce(list_sum(list_transform(ls, l -> len(l))), 0) AS totc, " +
        "coalesce(list_sum(list_transform(list_filter(ls, l -> len(list_filter(ls, x -> x = l)) > 1), l -> len(l))), 0) AS dupc FROM g3), " +
        "f AS (SELECT doc_id, n_kept, n_words, kept_c4, kept_gq, " +
        "CASE WHEN nl > 0 THEN round(CAST(ndup AS DOUBLE) / nl, 4) ELSE 0.0 END AS dup_line_frac, " +
        "(CASE WHEN nl > 0 THEN round(CAST(ndup AS DOUBLE) / nl, 4) ELSE 0.0 END <= 0.30 AND " +
        "CASE WHEN totc > 0 THEN round(CAST(dupc AS DOUBLE) / totc, 4) ELSE 0.0 END <= 0.20) AS kept_dl FROM d) " +
        "SELECT doc_id, n_kept, n_words, dup_line_frac, kept_c4, kept_gq, kept_dl, " +
        "(kept_c4 AND kept_gq AND kept_dl) AS kept FROM f"),

    // t26: the same pollution + battery, aggregated per source
    "t26_quality_report" ->
      (s"WITH p AS (SELECT doc_id, source, $GopherPollutionCase AS text FROM documents), " +
        "w AS (SELECT doc_id, source, regexp_split_to_array(text, '[ \\n]+') AS ws, " +
        "string_split(text, chr(10)) AS ls FROM p), " +
        s"v AS (SELECT source, CASE WHEN $GopherKeptExpr THEN 1 ELSE 0 END AS k, " +
        "len(ws) AS nw FROM w) " +
        "SELECT source, count(*) AS n_docs, CAST(sum(k) AS BIGINT) AS n_kept, " +
        "round(CAST(sum(k) AS DOUBLE) / count(*), 4) AS keep_rate, " +
        "CAST(sum(nw) AS BIGINT) AS sum_words FROM v GROUP BY source"),

    // t27: identical construction + the same character-class split
    "t27_sentence_stats" ->
      ("WITH p AS (SELECT doc_id, text || '. short one! then a question? ' || " +
        "'tail sentence number ' || CAST(doc_id % 5 AS VARCHAR) AS text FROM documents), " +
        "s AS (SELECT doc_id, regexp_split_to_array(text, '[.!?] ') AS sents FROM p) " +
        "SELECT doc_id, CAST(len(sents) AS INT) AS n_sentences, " +
        "round(CAST(list_sum(list_transform(sents, x -> len(x))) AS DOUBLE) / len(sents), 4) AS mean_sent_len, " +
        "CAST(list_aggregate(list_transform(sents, x -> len(x)), 'max') AS INT) AS max_sent_len FROM s"),

    // t25 replays the doc_id%8 pollution table, then recomputes every
    // Gopher signal with DuckDB list functions over the same word/line
    // splits; kept compares the same ROUNDED ratios
    "t25_gopher_quality" ->
      (s"WITH p AS (SELECT doc_id, $GopherPollutionCase AS text FROM documents), " +
        "w AS (SELECT doc_id, regexp_split_to_array(text, '[ \\n]+') AS ws, " +
        "string_split(text, chr(10)) AS ls FROM p), " +
        "c AS (SELECT doc_id, len(ws) AS nw, len(ls) AS nl, " +
        "list_sum(list_transform(ws, x -> len(x))) AS wc, " +
        "len(list_filter(ws, x -> x = '#' OR contains(x, '...'))) AS nsym, " +
        "len(list_filter(ls, l -> starts_with(l, '- '))) AS nbul, " +
        "len(list_filter(ls, l -> ends_with(l, '...'))) AS nell, " +
        "len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS nalpha, " +
        "len(list_filter(ws, x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS nstop " +
        "FROM w), " +
        "f AS (SELECT doc_id, CAST(nw AS INT) AS n_words, " +
        "round(CAST(wc AS DOUBLE) / nw, 4) AS mean_wlen, " +
        "round(CAST(nsym AS DOUBLE) / nw, 4) AS sym_frac, " +
        "round(CAST(nbul AS DOUBLE) / nl, 4) AS bullet_frac, " +
        "round(CAST(nell AS DOUBLE) / nl, 4) AS ellipsis_frac, " +
        "round(CAST(nalpha AS DOUBLE) / nw, 4) AS alpha_frac, " +
        "CAST(nstop AS INT) AS n_stop FROM c) " +
        "SELECT doc_id, n_words, mean_wlen, sym_frac, bullet_frac, " +
        "ellipsis_frac, alpha_frac, n_stop, " +
        "(n_words BETWEEN 15 AND 90 AND mean_wlen >= 3.0 AND mean_wlen <= 10.0 " +
        "AND sym_frac <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3 " +
        "AND alpha_frac >= 0.8 AND n_stop >= 2) AS kept FROM f"),

    // r12: conditional aggregation is the ANSI twin of pivot
    "r12_pivot" ->
      ("SELECT source, " +
        "CAST(count(*) FILTER (WHERE lang = 'de') AS BIGINT) AS n_de, " +
        "CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_en, " +
        "CAST(count(*) FILTER (WHERE lang = 'es') AS BIGINT) AS n_es, " +
        "CAST(count(*) FILTER (WHERE lang = 'fr') AS BIGINT) AS n_fr, " +
        "CAST(count(*) FILTER (WHERE lang = 'zh') AS BIGINT) AS n_zh " +
        "FROM documents GROUP BY source"),

    "x17_head_meta" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, " +
        "'https://example.org/c/' || CAST(doc_id AS VARCHAR) AS canonical, " +
        "'Doc ' || CAST(doc_id AS VARCHAR) AS og_title, " +
        "'article' AS og_type, " +
        "CASE WHEN doc_id % 9 = 0 THEN 'noindex,nofollow' ELSE 'index,follow' END AS robots, " +
        "doc_id % 9 != 0 AS indexable FROM documents"),

    // x19: the full markdown string rebuilt from the template
    "x19_markdown" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, " +
        "'# Title ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) || " +
        "'intro with **bold ' || CAST(doc_id AS VARCHAR) || '** and *italic* words.' || chr(10) || chr(10) || " +
        "'## Items' || chr(10) || chr(10) || " +
        "'- alpha ' || CAST(doc_id AS VARCHAR) || chr(10) || " +
        "'- beta ' || CAST(doc_id % 10 AS VARCHAR) || chr(10) || chr(10) || " +
        "'see [doc ' || CAST(doc_id AS VARCHAR) || '](https://ex.org/d/' || CAST(doc_id AS VARCHAR) || ') end.' || chr(10) || chr(10) " +
        "AS markdown FROM documents"),

    // x20: the raw JSON rebuilt from the template (documents.lang is in
    // the payload so the capture is data-dependent, not a constant)
    "x20_jsonld" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, " +
        "'{\"@type\":\"Article\",\"id\":' || CAST(doc_id AS VARCHAR) || " +
        "',\"lang\":\"' || lang || '\",\"name\":\"doc ' || CAST(doc_id AS VARCHAR) || '\"}' " +
        "AS ldjson FROM documents"),

    // x18: every cell recomputed from the planted-table template
    "x18_table_extract" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, r AS row_idx, " +
        "CASE r WHEN 0 THEN 'key|value' " +
        "WHEN 1 THEN 'name|doc ' || CAST(doc_id AS VARCHAR) " +
        "ELSE 'score|' || CAST((doc_id * 7) % 100 AS VARCHAR) END AS cells " +
        "FROM documents, (SELECT CAST(unnest([0, 1, 2]) AS INT) AS r)"),

    // x16: the rebased output recomputed by template arithmetic — only
    // the /rooted, bare-relative and //protocol-relative refs change
    "x16_rebase_links" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, " +
        "'<html><body><a href=\"https://example.org/p/' || CAST(doc_id AS VARCHAR) || '\">r</a>' || " +
        "'<a href=\"https://example.org/dir/img/' || CAST(doc_id AS VARCHAR) || '?q=1\">s</a>' || " +
        "'<a href=\"https://other.example/abs/' || CAST(doc_id AS VARCHAR) || '\">t</a>' || " +
        "'<a href=\"#sec-' || CAST(doc_id AS VARCHAR) || '\">u</a>' || " +
        "'<a href=\"https://cdn.example/lib.js\">v</a>' || " +
        "'<img src=\"https://example.org/dir/img/' || CAST(doc_id AS VARCHAR) || '.png\"></body></html>' " +
        "AS rewritten FROM documents"),

    "t9_mixture" ->
      ("SELECT doc_id, source, CAST(((doc_id & 2147483647) * 2246822519) % 1000 AS INT) AS mix_bucket, " +
        s"CAST($MixRateCase AS INT) AS rate_permille, " +
        s"((doc_id & 2147483647) * 2246822519) % 1000 < $MixRateCase AS kept FROM documents"),

    "t14_keywords" ->
      ("WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS token FROM documents), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2), " +
        "dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) AS n FROM documents) " +
        "SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(score AS BIGINT) AS score, CAST(rank AS INT) AS rank FROM (" +
        "SELECT tf.doc_id, tf.token, tf.tf, tf.tf * ((n.n * 1000000) // dfq.df) AS score, " +
        "row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf * ((n.n * 1000000) // dfq.df) DESC, tf.token) AS rank " +
        "FROM tf, dfq, n WHERE tf.token = dfq.token) WHERE rank <= 3"),

    "r10_range_join" ->
      ("SELECT e.event_id, CAST(floor(e.value * 100) AS BIGINT) AS cents, b.band_id " +
        "FROM events e JOIN " +
        "(SELECT CAST(k AS BIGINT) AS band_id, CAST(k * 500 AS BIGINT) AS lo, " +
        "CAST(k * 500 + 1200 AS BIGINT) AS hi FROM range(0, 100) t(k)) b " +
        "ON floor(e.value * 100) >= b.lo AND floor(e.value * 100) < b.hi"),

    "r11_quantile_sketch" ->
      ("SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 4) AS p50_exact, " +
        "TRUE AS within_rank_bound FROM lineitem GROUP BY 1"),

    "t15_hll_tokens" ->
      ("SELECT source, CAST(count(DISTINCT token) AS BIGINT) AS exact_tokens, TRUE AS within_5pct " +
        "FROM (SELECT source, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS token " +
        "FROM documents) GROUP BY source"),

    "t18_cms_freq" ->
      ("SELECT token, CAST(cnt AS BIGINT) AS cnt, CAST(rank AS INT) AS rank, TRUE AS cms_ok FROM (" +
        "SELECT token, count(*) AS cnt, " +
        "row_number() OVER (ORDER BY count(*) DESC, token) AS rank FROM (" +
        "SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS token " +
        "FROM documents) GROUP BY token) WHERE rank <= 50"),

    "t17_rarity" ->
      ("WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS token FROM documents), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2), " +
        "dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) AS n FROM documents) " +
        "SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS ntok, " +
        "CAST(sum(tf.tf * ((n.n * 1000000) // dfq.df)) AS BIGINT) AS rarity " +
        "FROM tf, dfq, n WHERE tf.token = dfq.token GROUP BY tf.doc_id"),

    "t20_bottomk_sample" ->
      ("SELECT doc_id, source, " +
        "(doc_id & 2147483647) * 2971215073 % 1000000007 AS okey " +
        "FROM documents ORDER BY okey, doc_id LIMIT 50"),

    "t21_winsorize" ->
      ("WITH ranked AS (SELECT source, n_chars, doc_id, " +
        "row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn, " +
        "count(*) OVER (PARTITION BY source) AS n FROM documents), " +
        "p AS (SELECT source, n_chars AS p95_len FROM ranked " +
        "WHERE rn = (n * 950 + 999) // 1000) " +
        "SELECT d.doc_id, d.source, d.n_chars, p.p95_len, " +
        "LEAST(d.n_chars, p.p95_len) AS clipped_len, " +
        "CAST(CASE WHEN d.n_chars > p.p95_len THEN 1 ELSE 0 END AS INTEGER) AS is_outlier " +
        "FROM documents d JOIN p USING (source)"),

    "t19_gopher_rep" ->
      ("WITH t AS (SELECT doc_id, text, " +
        "list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS tk FROM documents), " +
        "g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)), " +
        "i -> array_to_string(tk[i:i+1], ' '))) AS g FROM t WHERE len(tk) >= 2), " +
        "c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2), " +
        "t2 AS (SELECT doc_id, g, c FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM c2) WHERE rn = 1), " +
        "g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1), " +
        "i -> array_to_string(tk[i:i+2], ' '))) AS g FROM t WHERE len(tk) >= 3), " +
        "c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2), " +
        "t3 AS (SELECT doc_id, g, c FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM c3) WHERE rn = 1), " +
        "d5 AS (SELECT doc_id, len(l) AS tot, len(list_distinct(l)) AS dst FROM " +
        "(SELECT doc_id, list_transform(range(1, greatest(len(tk) - 3, 1)), " +
        "i -> array_to_string(tk[i:i+4], ' ')) AS l FROM t)), " +
        "j AS (SELECT t.doc_id, coalesce(t2.g, '') AS top2_gram, " +
        "CAST(coalesce(t2.c, 0) AS INT) AS top2_cnt, " +
        "CASE WHEN t2.c IS NOT NULL AND len(t.text) > 0 THEN " +
        "CAST(t2.c * len(t2.g) AS DOUBLE) / len(t.text) ELSE 0.0 END AS top2_share, " +
        "coalesce(t3.g, '') AS top3_gram, " +
        "CAST(coalesce(t3.c, 0) AS INT) AS top3_cnt, " +
        "CASE WHEN t3.c IS NOT NULL AND len(t.text) > 0 THEN " +
        "CAST(t3.c * len(t3.g) AS DOUBLE) / len(t.text) ELSE 0.0 END AS top3_share, " +
        "CASE WHEN d5.tot > 0 THEN CAST(d5.tot - d5.dst AS DOUBLE) / d5.tot " +
        "ELSE 0.0 END AS dup5_frac " +
        "FROM t LEFT JOIN t2 ON t.doc_id = t2.doc_id " +
        "LEFT JOIN t3 ON t.doc_id = t3.doc_id JOIN d5 ON t.doc_id = d5.doc_id) " +
        "SELECT *, (top2_share <= 0.20 AND top3_share <= 0.18 AND dup5_frac <= 0.30) " +
        "AS kept FROM j"),

    "r9_asof" ->
      ("SELECT e.event_id, e.user_id, e.event_type, p.event_id AS purch_id, " +
        "epoch_us(e.ts) // 1000000 - epoch_us(p.ts) // 1000000 AS gap_s " +
        "FROM events e ASOF LEFT JOIN " +
        "(SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p " +
        "ON e.user_id = p.user_id AND e.ts > p.ts"),

    "t13_vocab" ->
      ("SELECT token, CAST(cnt AS BIGINT) AS cnt, CAST(rank AS INT) AS rank FROM (" +
        "SELECT token, count(*) AS cnt, " +
        "row_number() OVER (ORDER BY count(*) DESC, token) AS rank FROM (" +
        "SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS token " +
        "FROM documents) GROUP BY token) WHERE rank <= 20"),

    "t12_banned" ->
      (s"WITH f AS (SELECT doc_id, list_filter($BannedSqlList, p -> contains(text, p)) AS m " +
        "FROM documents) " +
        // duckdb array_to_string([]) is NULL where Spark array_join([]) is ''
        "SELECT doc_id, coalesce(array_to_string(m, '|'), '') AS matched, " +
        "CAST(len(m) AS INT) AS n_matched, len(m) = 0 AS kept FROM f"),

    "t11_temperature_mix" ->
      ("WITH c AS (SELECT source, count(*) AS src_count FROM documents GROUP BY 1), " +
        "m AS (SELECT min(src_count) AS mn FROM c), " +
        "r AS (SELECT source, src_count, " +
        "CAST(floor(1000.0 * sqrt(CAST(mn AS DOUBLE) / src_count)) AS INT) AS rate_permille " +
        "FROM c, m) " +
        "SELECT d.doc_id, d.source, CAST(r.src_count AS BIGINT) AS src_count, r.rate_permille, " +
        "((d.doc_id & 2147483647) * 3266489917) % 1000 < r.rate_permille AS kept " +
        "FROM documents d JOIN r ON d.source = r.source"),

    "d14_incremental" -> IncrementalSql,

    "t6_pii_scrub" ->
      ("WITH p AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com from 10.' || " +
        "CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) || " +
        "' tel 555-' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-' || " +
        "CAST(doc_id % 9000 + 1000 AS VARCHAR) AS text FROM documents) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails, " +
        "CAST(len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ips, " +
        "CAST(len(regexp_extract_all(text, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS INT) AS n_phones, " +
        "regexp_replace(regexp_replace(regexp_replace(text, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'), " +
        "'\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g') AS scrubbed " +
        "FROM p"),

    "d1_exact_dedup" ->
      (BaseCte + " SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS n_copies FROM base GROUP BY 1"),
    "d2_ngram_pairs" -> JaccardPairsCappedSql,
    "d2b_ngram_pairs_capped" -> JaccardPairsMemberCappedSql,
    // d3 (MinHash+LSH with exact-Jaccard verify) must equal the exact
    // ground truth at this threshold; recall is deterministic and checked
    // locally (banding: 32 bands x 2 rows)
    "d3_minhash_pairs" -> JaccardPairsSql,
    // d16: exact Jaccard recomputed; the estimator verdict must be TRUE
    // for every pair (deterministic — fixed corpus, fixed seeds)
    "d16_minhash_gate" ->
      (ShinglesCte +
        " SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter), 4) AS jaccard, " +
        "TRUE AS est_in_band " +
        "FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
        "WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.6"),

    // d17: the same shingle CTE grouped by shingle — df distribution +
    // the exact pairable fan-out under the operator's df cap
    "d17_shingle_skew" ->
      (ShinglesCte +
        ", dfc AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_shingles, CAST(max(df) AS INT) AS max_df, " +
        "CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singleton, " +
        s"CAST(sum(CASE WHEN df BETWEEN 2 AND ${DedupOps.DefaultShingleDfCap} THEN 1 ELSE 0 END) AS BIGINT) AS n_pairable, " +
        s"CAST(sum(CASE WHEN df > ${DedupOps.DefaultShingleDfCap} THEN 1 ELSE 0 END) AS BIGINT) AS n_capped, " +
        s"CAST(sum(CASE WHEN df BETWEEN 2 AND ${DedupOps.DefaultShingleDfCap} THEN df*(df-1)//2 ELSE 0 END) AS BIGINT) AS pair_work " +
        "FROM dfc"),

    // d18: the same verified-pair CTE joined back to per-doc shingle
    // lists; n_common == the pairs CTE's inter by construction
    "d18_pair_evidence" ->
      (ShinglesCte +
        ", lists AS (SELECT doc_id, list(sh) AS shl FROM sh GROUP BY doc_id), " +
        "jp AS (SELECT id_a, id_b FROM pairs " +
        "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
        "WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.6) " +
        "SELECT id_a, id_b, " +
        "CAST(len(list_intersect(a.shl, b.shl)) AS INT) AS n_common, " +
        "list_aggregate(list_intersect(a.shl, b.shl), 'min') AS top_shingle " +
        "FROM jp JOIN lists a ON a.doc_id = id_a JOIN lists b ON b.doc_id = id_b"),

    // t22: d3's pair semantics + the t4 split arithmetic re-derived per
    // endpoint — leaky = the endpoints fall in different splits
    "t22_split_leakage" -> (ShinglesCte +
      ", jp AS (SELECT id_a, id_b FROM pairs " +
      "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.6)" +
      ", sp AS (SELECT id_a, id_b, " +
      "CASE WHEN (id_a & 2147483647) * 2654435761 % 1000 < 900 THEN 'train' " +
      "WHEN (id_a & 2147483647) * 2654435761 % 1000 < 950 THEN 'val' ELSE 'test' END AS split_a, " +
      "CASE WHEN (id_b & 2147483647) * 2654435761 % 1000 < 900 THEN 'train' " +
      "WHEN (id_b & 2147483647) * 2654435761 % 1000 < 950 THEN 'val' ELSE 'test' END AS split_b " +
      "FROM jp) " +
      "SELECT id_a, id_b, split_a, split_b, split_a != split_b AS leaky FROM sp"),
    "d4_simhash" -> (SimhashCte + " SELECT doc_id, simhash FROM sig"),
    "d5_simhash_pairs" ->
      (SimhashCte + " SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming " +
        "FROM sig a, sig b WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3"),

    "e4_semantic_dedup" ->
      ("WITH RECURSIVE e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500 " +
        "UNION ALL SELECT vec_id + 1000000 AS vec_id, " +
        "list_transform(embedding, x -> x * CAST(2.0 AS FLOAT)) AS embedding " +
        "FROM embeddings WHERE vec_id < 500), " +
        "d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM e), " +
        "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM d a JOIN d b ON a.vec_id < b.vec_id " +
        "WHERE round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.9), " +
        "sym AS (SELECT id_a AS a, id_b AS b FROM p UNION ALL SELECT id_b AS a, id_a AS b FROM p), " +
        "r(id, lab) AS (SELECT vec_id, vec_id FROM e " +
        "UNION SELECT s.b, r.lab FROM r JOIN sym s ON s.a = r.id) " +
        "SELECT id AS vec_id, CAST(min(lab) AS BIGINT) AS cluster_id, " +
        "min(lab) = id AS survivor FROM r GROUP BY id"),

    "d7_embdup_pairs" ->
      ("WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500 " +
        "UNION ALL SELECT vec_id + 1000000 AS vec_id, " +
        "list_transform(embedding, x -> x * CAST(2.0 AS FLOAT)) AS embedding " +
        "FROM embeddings WHERE vec_id < 500), " +
        "d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM e) " +
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos " +
        "FROM d a JOIN d b ON a.vec_id < b.vec_id " +
        "WHERE round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.9"),

    // e5: the argmax replays cosine exactly (list_dot_product over
    // DOUBLE[] == the Spark sequential fold, same division shape), the
    // quota replays t5's hash-order window
    "e5_cluster_balance" ->
      ("WITH c AS (SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS ce " +
        "FROM embeddings WHERE vec_id <= 3), " +
        "s AS (SELECT e.vec_id, c.cent_id, " +
        "list_dot_product(c.ce, CAST(e.embedding AS DOUBLE[])) / " +
        "(sqrt(list_dot_product(c.ce, c.ce)) * " +
        "sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) AS sim " +
        "FROM embeddings e CROSS JOIN c), " +
        "a AS (SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id " +
        "ORDER BY sim DESC, cent_id ASC) AS r FROM s), " +
        "asg AS (SELECT vec_id, 'c' || CAST(cent_id AS VARCHAR) AS cluster FROM a WHERE r = 1), " +
        "q AS (SELECT vec_id, cluster, row_number() OVER (PARTITION BY cluster " +
        "ORDER BY ((vec_id & 2147483647) * 2654435761) % 1000000007, vec_id) AS rn FROM asg) " +
        "SELECT vec_id, cluster, CAST(rn AS INT) AS rn FROM q WHERE rn <= 100"),

    "e1_cosine_topk" ->
      ("WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10), " +
        "scored AS (SELECT q.query_id, e.vec_id AS neighbor_id, " +
        "round(list_dot_product(CAST(q.q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) / " +
        " (sqrt(list_dot_product(CAST(q.q_emb AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[]))) * " +
        "  sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))), 4) AS sim " +
        "FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id), " +
        "ranked AS (SELECT query_id, neighbor_id, sim, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM scored) " +
        "SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sim FROM ranked WHERE rank <= 10"),

    "e2_ann_recall" ->
      "SELECT 10 AS n_queries, 10 AS k, true AS recall_ok",
    "e3_ivf_recall" ->
      "SELECT 10 AS n_queries, 10 AS k, true AS recall_ok",
    "m2_pdf_branch" ->
      "SELECT CAST(doc_id AS VARCHAR) AS doc_id, text AS extracted_text FROM documents",
    "d6_dedup_apply" ->
      (ShinglesCte +
        ", dropped AS (SELECT DISTINCT id_b FROM pairs JOIN sizes sa ON sa.doc_id = id_a " +
        "JOIN sizes sb ON sb.doc_id = id_b " +
        "WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.6) " +
        "SELECT doc_id, md5(text) AS fp FROM base WHERE doc_id NOT IN (SELECT id_b FROM dropped)"),
    "m1_multimodal_meta" ->
      ("SELECT vec_id, CAST(32 + (vec_id % 7) * 16 AS INT) AS width, " +
        "CAST(24 + (label % 5) * 12 AS INT) AS height, 3 AS channels, " +
        "CAST(len(embedding) * 4 AS INT) AS payload_bytes, true AS ok FROM embeddings"),
    "m3_multimodal_resize" ->
      ("SELECT vec_id, 64 AS width, 48 AS height, 3 AS channels, " +
        "CAST(len(embedding) / 2 * 4 AS INT) AS payload_bytes, true AS ok FROM embeddings"),
    // the resized payload keeps every other 4-byte group; the frame
    // sampler reads float f*4+1 of the ORIGINAL payload (frame = 4 floats)
    "m4_multimodal_frames" ->
      ("SELECT vec_id, CAST(f AS INT) AS frame_idx, 16 AS frame_bytes, " +
        "round(CAST(embedding[CAST(f * 4 + 1 AS INT)] AS DOUBLE), 4) AS lead " +
        "FROM embeddings, unnest(range(0, CAST(len(embedding) / 4 AS BIGINT), 2)) AS t(f)"),
    // m6/m7 pixel probes: px = r*65536 + g*256 + b with the generation
    // formulas r=(id+x)%256, g=(label+y)%256, b=(id*7+x*3+y*5)%256;
    // m6 probes (0,0) and (w-1,h-1); m7's resize samples source (2x,2y),
    // so its probes are source (0,0) and (w-2,h-2)
    "m9_png_header" ->
      ("SELECT vec_id, TRUE AS is_png, CAST(32 + (vec_id % 7) * 16 AS INT) AS width, " +
        "CAST(24 + (label % 5) * 12 AS INT) AS height, " +
        "CAST(8 AS INT) AS bit_depth, CAST(2 AS INT) AS color_type FROM embeddings"),
    "m11_jpeg_header" ->
      ("SELECT vec_id, TRUE AS is_jpeg, CAST(192 AS INT) AS sof_marker, " +
        "CAST(32 + (vec_id % 7) * 16 AS INT) AS width, " +
        "CAST(24 + (label % 5) * 12 AS INT) AS height FROM embeddings"),
    // m12: gray g => rgb g*65793; stride-2 keyframes from 0, last
    // sampled frame = ((n_frames-1) // 2) * 2
    "m12_gif_frames" ->
      ("SELECT vec_id, TRUE AS is_gif, " +
        "CAST(3 + vec_id % 4 AS INT) AS n_frames, " +
        "CAST(16 + (vec_id % 5) * 8 AS INT) AS width, " +
        "CAST(12 + (label % 4) * 6 AS INT) AS height, " +
        "CAST((3 + vec_id % 4 + 1) // 2 AS INT) AS n_sampled, " +
        "CAST(((vec_id * 31 + label * 17) % 256) * 65793 AS INT) AS px_first, " +
        "CAST(((vec_id * 31 + label * 17 + (16 + (vec_id % 5) * 8 - 1) * 3 + " +
        "(12 + (label % 4) * 6 - 1) * 5 + (((3 + vec_id % 4 - 1) // 2) * 2) * 7) % 256) " +
        "* 65793 AS INT) AS px_last FROM embeddings"),
    "m6_png_decode" ->
      ("SELECT vec_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CAST((vec_id % 256) * 65536 + (label % 256) * 256 + ((vec_id * 7) % 256) AS INT) AS px00, " +
        "CAST(((vec_id + w - 1) % 256) * 65536 + ((label + h - 1) % 256) * 256 + " +
        "((vec_id * 7 + (w - 1) * 3 + (h - 1) * 5) % 256) AS INT) AS pxwh " +
        "FROM (SELECT vec_id, label, 32 + (vec_id % 7) * 16 AS w, " +
        "24 + (label % 5) * 12 AS h FROM embeddings)"),
    "m7_png_resize" ->
      ("SELECT vec_id, CAST(w // 2 AS INT) AS width, CAST(h // 2 AS INT) AS height, " +
        "CAST((vec_id % 256) * 65536 + (label % 256) * 256 + ((vec_id * 7) % 256) AS INT) AS px00, " +
        "CAST(((vec_id + w - 2) % 256) * 65536 + ((label + h - 2) % 256) * 256 + " +
        "((vec_id * 7 + (w - 2) * 3 + (h - 2) * 5) % 256) AS INT) AS pxwh " +
        "FROM (SELECT vec_id, label, 32 + (vec_id % 7) * 16 AS w, " +
        "24 + (label % 5) * 12 AS h FROM embeddings)"),
    // m8 sample probes: s(i) = ((vec_id*13 + i*7) % 65536) - 32768 over
    // n = 64 + vec_id % 100 frames of mono 16 kHz PCM16
    "m10_wav_header" ->
      ("SELECT vec_id, TRUE AS is_wav, 1 AS channels, 16000 AS sample_rate, " +
        "16 AS bits, CAST(64 + vec_id % 100 AS INT) AS n_frames FROM embeddings"),
    "m8_wav_decode" ->
      ("SELECT vec_id, 16000 AS sample_rate, 1 AS channels, 16 AS bits, " +
        "CAST(64 + vec_id % 100 AS INT) AS n_frames, " +
        "CAST((vec_id * 13) % 65536 - 32768 AS INT) AS s_first, " +
        "CAST((vec_id * 13 + (64 + vec_id % 100 - 1) * 7) % 65536 - 32768 AS INT) AS s_last " +
        "FROM embeddings"),
    // m13: stride-2 decimation — output frame j carries input sample 2j;
    // n_out = ceil(n/2), last output probes input index 2*(n_out-1)
    "m13_wav_downsample" ->
      ("SELECT vec_id, CAST(n AS INT) AS n_in, CAST((n + 1) // 2 AS INT) AS n_out, " +
        "8000 AS rate_out, " +
        "CAST((vec_id * 13) % 65536 - 32768 AS INT) AS s0, " +
        "CAST((vec_id * 13 + 2 * ((n + 1) // 2 - 1) * 7) % 65536 - 32768 AS INT) AS s_last " +
        "FROM (SELECT vec_id, 64 + vec_id % 100 AS n FROM embeddings)"),
    // m14: logical-screen dims from the m12 encoder formulas; the JDK's
    // GIF writer emits an 89a signature and a 256-entry global table for
    // the indexed-gray palette
    "m14_gif_header" ->
      ("SELECT vec_id, TRUE AS is_gif, CAST(16 + (vec_id % 5) * 8 AS INT) AS width, " +
        "CAST(12 + (label % 4) * 6 AS INT) AS height, 256 AS gct_size FROM embeddings"),
    // m16: signal stats replayed exactly — correlated ranges over the
    // sample formula; zero crossings test i-1/i products on [1, n)
    "m16_wav_features" ->
      ("SELECT vec_id, CAST(n AS INT) AS n_frames, " +
        "CAST(len(list_filter(range(1, n), i -> " +
        "((vec_id*13 + (i-1)*7) % 65536 - 32768) * ((vec_id*13 + i*7) % 65536 - 32768) < 0)) AS INT) AS zero_crossings, " +
        "CAST(list_sum(list_transform(range(0, n), i -> abs((vec_id*13 + i*7) % 65536 - 32768))) AS BIGINT) AS abs_energy, " +
        "CAST(list_aggregate(list_transform(range(0, n), i -> abs((vec_id*13 + i*7) % 65536 - 32768)), 'max') AS INT) AS peak " +
        "FROM (SELECT vec_id, 64 + vec_id % 100 AS n FROM embeddings)"),

    // m15: type from the vec_id%4 routing residue; dims from each
    // encoder's formulas (PNG/JPEG share theirs; WAV = rate/frames)
    "m15_media_sniff" ->
      ("SELECT vec_id, " +
        "CASE CAST(vec_id % 4 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' " +
        "WHEN 2 THEN 'gif' ELSE 'wav' END AS mtype, " +
        "CAST(CASE CAST(vec_id % 4 AS INT) " +
        "WHEN 0 THEN 32 + (vec_id % 7) * 16 WHEN 1 THEN 32 + (vec_id % 7) * 16 " +
        "WHEN 2 THEN 16 + (vec_id % 5) * 8 ELSE 16000 END AS INT) AS dim1, " +
        "CAST(CASE CAST(vec_id % 4 AS INT) " +
        "WHEN 0 THEN 24 + (label % 5) * 12 WHEN 1 THEN 24 + (label % 5) * 12 " +
        "WHEN 2 THEN 12 + (label % 4) * 6 ELSE 64 + vec_id % 100 END AS INT) AS dim2 " +
        "FROM embeddings"),
    "m5_multimodal_features" ->
      ("SELECT vec_id, CAST(len(embedding) AS INT) AS n_comp, " +
        "round(list_reduce(list_prepend(CAST(0 AS DOUBLE), CAST(embedding AS DOUBLE[])), (a, b) -> a + b) / len(embedding), 4) AS mean, " +
        "round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 4) AS l2 " +
        "FROM embeddings"),

    "r1_lineitem_agg" ->
      // CAST the sum itself: DuckDB sum(BIGINT) yields HUGEINT, which the
      // driver's pandas canonicalization turns into float64 and the value
      // hash then disagrees with Spark's int64 even when values are equal
      ("SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c4, count(*) AS n_rows " +
        "FROM lineitem GROUP BY 1, 2"),
    "r2_customer_revenue" ->
      ("SELECT c_custkey, c_name, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c4, " +
        "count(DISTINCT o_orderkey) AS n_orders " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY 1, 2"),
    "r3_events_window" ->
      ("SELECT event_id, user_id, CAST(row_number() OVER w AS INT) AS rn, " +
        "round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"),
    "r6_rollup" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_c, " +
        "CAST(grouping(l_returnflag) AS INT) AS g1, CAST(grouping(l_linestatus) AS INT) AS g2 " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"),
    "r7_percentiles" ->
      ("SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 4) AS p50, " +
        "round(quantile_cont(l_quantity, 0.9), 4) AS p90, " +
        "round(quantile_cont(l_quantity, 0.99), 4) AS p99 FROM lineitem GROUP BY 1"),
    "r8_setops" ->
      ("SELECT p_brand, 'except' AS op FROM " +
        "(SELECT DISTINCT p_brand FROM part WHERE p_size >= 40 EXCEPT SELECT DISTINCT p_brand FROM part WHERE p_size <= 10) " +
        "UNION ALL " +
        "SELECT p_brand, 'intersect' AS op FROM " +
        "(SELECT DISTINCT p_brand FROM part WHERE p_size >= 40 INTERSECT SELECT DISTINCT p_brand FROM part WHERE p_size <= 10)"),
    "r5_sessionize" ->
      ("SELECT event_id, user_id, CAST(sum(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS INT) AS session_id " +
        "FROM (SELECT *, CAST(epoch(ts) AS BIGINT) - lag(CAST(epoch(ts) AS BIGINT)) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s FROM events)"),
    "r4_events_hourly" ->
      ("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type, " +
        "count(*) AS n, CAST(CAST(sum(CAST(value AS DECIMAL(20,8))) AS DECIMAL(20,4)) AS DOUBLE) AS sum_value FROM events GROUP BY 1, 2")
  )
}
