package graft.spark.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and an LSH-bucketed
  * (sign-random-projection) approximate variant as the scale path.
  *
  * Scale notes: brute force is a broadcast nested loop of the (small)
  * query set against the corpus — one pass, no shuffle of the big side;
  * the LSH variant buckets the corpus once (row-local code computation +
  * one shuffle on bucket id) and probes only matching buckets, turning
  * top-k into a per-bucket local problem.
  */
object SimOps {

  /** Cosine similarity of two float-array columns, computed in double
    * precision with sequential accumulation (bit-compatible with the
    * DuckDB oracle's list_dot_product over DOUBLE[]).
    */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Exact brute-force cosine top-k for the query vectors (vec_id in
    * `queryIds`), excluding self-matches. Returns
    * (query_id, neighbor_id, rank, sim rounded to 4dp).
    */
  def bruteForceTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val queries = emb.where(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // the exact-cosine scoring is the CPU-heavy stage: spread the locally
    // single-partition scan before fanning out (no-op at real scale), and
    // score with the sequential Scala fold — bit-identical operation
    // order to the interpreted-HOF column form it replaces (round 7,
    // guide §4; see DedupOps.cosineSeq)
    val scored = Par.spreadBy(
        emb.select(col("vec_id").as("neighbor_id"), col("embedding")), col("neighbor_id"))
      .crossJoin(broadcast(queries))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("q_emb"), col("embedding"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .mapPartitions(_.map { case (q, n, qe, e) =>
        (q, n, DedupOps.cosineSeq(qe, e))
      })
      .toDF("query_id", "neighbor_id", "sim")
      .withColumn("sim", round(col("sim"), 4))
    topKPerQuery(scored.select(col("query_id"), col("neighbor_id"), col("sim")), k)
  }

  /** Two-phase exact top-k per query instead of a per-query rank window:
    * a `Window.partitionBy(query_id)` funnels ALL scored rows into
    * n_queries sort tasks. Here a map-side bounded heap keeps the k best
    * (sim desc, id asc) per (partition, query), so the single shuffle
    * carries <= k x P rows per query regardless of scored-row count; the
    * final per-query reduction sorts those candidates and emits ranks.
    * Identical total order to the window formulation — the heap
    * comparator mirrors Spark's float ordering (NaN greatest,
    * -0.0 == 0.0), and the tie-break negates the id (exact for longs) so
    * one descending struct sort gives (sim desc, id asc). Input columns:
    * (query_id, <id>, sim); output (query_id, neighbor_id, rank, sim).
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    def simLess(a: Double, b: Double): Boolean =
      if (java.lang.Double.isNaN(a)) false
      else if (java.lang.Double.isNaN(b)) true
      else a < b
    val pruned = scored
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        // head of the queue = worst candidate kept (lowest sim, then
        // largest id)
        val cmp = new java.util.Comparator[(Long, Double)] {
          def compare(a: (Long, Double), b: (Long, Double)): Int =
            if (simLess(a._2, b._2)) -1
            else if (simLess(b._2, a._2)) 1
            else java.lang.Long.compare(b._1, a._1)
        }
        val m = new java.util.HashMap[Long, java.util.PriorityQueue[(Long, Double)]]()
        it.foreach { case (q, id, sim) =>
          val heap = m.computeIfAbsent(q, _ => new java.util.PriorityQueue(k + 1, cmp))
          heap.add((id, sim))
          if (heap.size > k) heap.poll()
        }
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
        m.forEach((q, heap) => heap.forEach(t => out += ((q, t._1, t._2))))
        out.iterator
      }
    pruned.toDF("query_id", "neighbor_id", "sim")
      .groupBy("query_id")
      .agg(slice(sort_array(collect_list(
        struct(col("sim"), (-col("neighbor_id")).as("neg_id"))), asc = false), 1, k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rank0", "t")))
      .select(col("query_id"), (-col("t.neg_id")).as("neighbor_id"),
        (col("rank0") + 1).cast("int").as("rank"), col("t.sim").as("sim"))
  }

  // ---- LSH-bucketed ANN (scale path) ----
  // Multi-table sign-random-projection LSH (OR-amplification): L tables of
  // b hyperplane bits each; queries probe their bucket plus all hamming-1
  // buckets per table. Tunables trade candidate volume for recall — the
  // defaults hit >=0.9 recall on the near-uniform synthetic embeddings
  // while scanning a fraction of the corpus; clustered real embeddings
  // allow far fewer probes.

  val Tables = 8
  val BitsPerTable = 4

  /** Deterministic pseudo-random hyperplane component for (plane, dim). */
  @inline private[ops] def planeComp(p: Int, d: Int): Double = {
    val h = DedupOps.mix64(p.toLong * 1048573L + d.toLong + 0x9e3779b97f4a7c15L)
    // map to [-1, 1)
    (h >> 11).toDouble / (1L << 52).toDouble
  }

  /** Per-table sign-projection codes (row-local, no shuffle). */
  def bucketCodes(v: Array[Float]): Array[Int] = {
    Array.tabulate(Tables) { t =>
      var code = 0
      var bp = 0
      while (bp < BitsPerTable) {
        val p = t * BitsPerTable + bp
        var s = 0.0
        var d = 0
        while (d < v.length) { s += v(d) * planeComp(p, d); d += 1 }
        if (s > 0) code |= (1 << bp)
        bp += 1
      }
      code
    }
  }

  /** Approximate cosine top-k via multi-table multi-probe LSH. Recall vs
    * brute force asserted in SparkOpsSpec and oracle-gated by
    * e2_ann_recall.
    *
    * Candidate generation and dedup operate on (query_id, vec_id) ID PAIRS
    * only — the full float vectors are attached afterwards via two
    * broadcast joins, so no embedding payload is ever shuffled or hashed
    * through the distinct() (at 768-dim float that payload would dominate
    * the exchange).
    */
  def annTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val coded = emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        bucketCodes(v).zipWithIndex.map { case (c, t) => (id, t, c) }
      }
      .toDF("vec_id", "table", "code")

    val probes = emb.where(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        bucketCodes(v).zipWithIndex.flatMap { case (c, t) =>
          (Seq(c) ++ (0 until BitsPerTable).map(bp => c ^ (1 << bp)))
            .map(pc => (id, t, pc))
        }
      }
      .toDF("query_id", "table", "code")

    // map-only over the coded corpus (probes broadcast), then a shuffle of
    // bare id pairs for the multi-table dedup
    val candIds = coded.join(broadcast(probes), Seq("table", "code"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    rankCandidates(emb, candIds, queryIds, k)
  }

  /** Shared ANN tail: attach one vector copy per side (candidate id list
    * and query vectors broadcast, big side map-only), exact-cosine score,
    * top-k per query. Both approximate paths MUST rank identically —
    * this is the single definition of the tie-break order.
    */
  private def rankCandidates(emb: DataFrame, candIds: DataFrame,
                             queryIds: Seq[Long], k: Int): DataFrame = {
    val qVecs = emb.where(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val spark = emb.sparkSession
    import spark.implicits._
    // typed sequential-fold scoring, bit-identical to the interpreted
    // column form (see bruteForceTopK / DedupOps.cosineSeq)
    val scored = Par.spreadBy(emb, col("vec_id")).join(broadcast(candIds), "vec_id")
      .join(broadcast(qVecs), "query_id")
      .select(col("query_id"), col("vec_id"), col("q_emb"), col("embedding"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .mapPartitions(_.map { case (q, v, qe, e) =>
        (q, v, DedupOps.cosineSeq(qe, e))
      })
      .toDF("query_id", "vec_id", "sim")
      .withColumn("sim", round(col("sim"), 4))
    // same two-phase top-k as the brute-force path: candidate volume per
    // query grows with the corpus at fixed bucket fractions, so a bare
    // per-query window would re-create the funnel on the pruned set
    topKPerQuery(scored.select(col("query_id"), col("vec_id"), col("sim")), k)
  }

  /** Shared recall gate: both approximate paths assert the SAME property
    * against the same brute-force ground truth.
    */
  private def recallGate(bf: DataFrame, approx: DataFrame, k: Int,
                         minRecall: Double): DataFrame = {
    val hits = approx.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    bf.select(col("query_id"), col("neighbor_id"))
      .join(hits, Seq("query_id", "neighbor_id"), "left")
      .agg(
        countDistinct(col("query_id")).cast("int").as("n_queries"),
        lit(k).as("k"),
        (sum(coalesce(col("hit"), lit(0L))) / count(lit(1)) >= minRecall).as("recall_ok"))
  }

  // ---- IVF (inverted-file) ANN: the second scale path ----
  // Coarse quantizer: k centroids trained driver-side on a deterministic
  // sample (the standard IVF recipe — at 100 TB you train on a ~0.1%
  // sample and broadcast the codebook); each vector is assigned to its
  // nearest centroid (one inverted list per centroid), queries probe the
  // `nprobe` nearest lists only.

  /** Deterministic k-means (Lloyd) on a sample taken by vec_id order.
    * Seeded farthest-point init; empty clusters re-seeded from the
    * farthest sample point. Returns k centroids.
    */
  def trainIvfCentroids(emb: DataFrame, k: Int, iters: Int = 8,
                        sampleN: Int = 2048): Array[Array[Float]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sample = emb.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(sampleN)
      .as[(Long, Array[Float])].collect().map(_._2)
    require(sample.nonEmpty, "empty embedding table")
    val dim = sample(0).length
    val cents = new Array[Array[Float]](math.min(k, sample.length))

    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // farthest-point init from a fixed seed point
    cents(0) = sample((((DedupOps.mix64(1L) >>> 1) % sample.length).toInt)).clone()
    var c = 1
    while (c < cents.length) {
      var best = -1.0
      var bestIdx = 0
      var i = 0
      while (i < sample.length) {
        var nearest = Double.MaxValue
        var j = 0
        while (j < c) { val d = d2(sample(i), cents(j)); if (d < nearest) nearest = d; j += 1 }
        if (nearest > best) { best = nearest; bestIdx = i }
        i += 1
      }
      cents(c) = sample(bestIdx).clone()
      c += 1
    }
    // Lloyd iterations over the sample
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Int](cents.length)
      var i = 0
      while (i < sample.length) {
        val a = nearestCentroid(sample(i), cents)
        counts(a) += 1
        var d = 0
        while (d < dim) { sums(a)(d) += sample(i)(d); d += 1 }
        i += 1
      }
      var j = 0
      while (j < cents.length) {
        if (counts(j) > 0) {
          var d = 0
          while (d < dim) { cents(j)(d) = (sums(j)(d) / counts(j)).toFloat; d += 1 }
        } else {
          // empty cluster: re-seed from the sample point farthest from
          // its current centroid (otherwise the dead list never recovers)
          var best = -1.0
          var bestIdx = 0
          var s = 0
          while (s < sample.length) {
            val dd = d2(sample(s), cents(nearestCentroid(sample(s), cents)))
            if (dd > best) { best = dd; bestIdx = s }
            s += 1
          }
          cents(j) = sample(bestIdx).clone()
        }
        j += 1
      }
      it += 1
    }
    cents
  }

  def nearestCentroid(v: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = Double.MaxValue
    var bi = 0
    var j = 0
    while (j < cents.length) {
      var s = 0.0
      var i = 0
      val cj = cents(j)
      while (i < v.length) { val d = v(i) - cj(i); s += d * d; i += 1 }
      if (s < best) { best = s; bi = j }
      j += 1
    }
    bi
  }

  /** `n` nearest centroid ids for a query vector (probe list). */
  def nearestCentroids(v: Array[Float], cents: Array[Array[Float]], n: Int): Array[Int] = {
    val ds = cents.indices.map { j =>
      var s = 0.0
      var i = 0
      while (i < v.length) { val d = v(i) - cents(j)(i); s += d * d; i += 1 }
      (s, j)
    }
    ds.sortBy(_._1).take(n).map(_._2).toArray
  }

  /** IVF approximate cosine top-k: assign the corpus to inverted lists
    * (one row-local pass with the broadcast codebook), probe the nprobe
    * nearest lists per query, dedup candidates on bare ids, attach
    * vectors via broadcast joins, exact-cosine rank. Same id-only
    * exchange discipline as [[annTopK]].
    */
  def ivfTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
              centroids: Array[Array[Float]], nprobe: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    val coded = emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, v) => (id, nearestCentroid(v, bc.value)) }
      .toDF("vec_id", "list")
    val probes = emb.where(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .flatMap { case (id, v) => nearestCentroids(v, bc.value, nprobe).map(l => (id, l)) }
      .toDF("query_id", "list")
    val candIds = coded.join(broadcast(probes), Seq("list"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    rankCandidates(emb, candIds, queryIds, k)
  }

  /** One-row IVF quality gate (same shape as [[annRecallGate]]). Defaults
    * tuned on the synthetic tables: near-uniform embeddings are IVF's
    * worst case (neighbors spread across lists), needing a high probe
    * fraction (24/32 lists -> recall 0.94-0.95 at sf0.01/sf0.1); clustered
    * real-world-shaped embeddings need far fewer probes — IvfClusteredSpec
    * measures recall >= 0.9 at nprobe 4/32 (and >= 0.8 at 2/32) on
    * deterministic Gaussian blobs, the intended production regime.
    */
  def ivfRecallGate(emb: DataFrame, queryIds: Seq[Long], k: Int,
                    nCentroids: Int = 32, nprobe: Int = 24,
                    minRecall: Double = 0.9): DataFrame = {
    val cents = trainIvfCentroidsCached(emb, nCentroids)
    recallGate(bruteForceTopK(emb, queryIds, k),
      ivfTopK(emb, queryIds, k, cents, nprobe), k, minRecall)
  }

  // Session-scoped codebook memo (see SessionMemo): at real scale the
  // coarse quantizer is trained ONCE and reused across every query/batch
  // — retraining the single-threaded driver k-means per invocation made
  // e3 the second-most driver-contention-sensitive query in the round-4
  // bench (14.4 s contended vs 1.4 s quiet). Keyed on the embedding
  // table's plan + (k, sampleN): same source => same deterministic
  // sample => same codebook. A codebook holds no Spark storage, so
  // release is a no-op.
  private val codebookMemo = new SessionMemo[Array[Array[Float]]](_ => ())

  /** [[trainIvfCentroids]] with a session memo (see the note above). */
  def trainIvfCentroidsCached(emb: DataFrame, k: Int, iters: Int = 8,
                              sampleN: Int = 2048): Array[Array[Float]] =
    codebookMemo.getOrBuild(emb.sparkSession,
        (emb.queryExecution.analyzed.semanticHash(), k, sampleN)) {
      trainIvfCentroids(emb, k, iters, sampleN)
    }

  /** Drops memoized codebooks. */
  def clearCodebookCache(): Unit = codebookMemo.clear()

  /** One-row ANN quality gate: recall of [[annTopK]] against
    * [[bruteForceTopK]] on the same queries. Deterministic (both sides
    * are), so the driver oracle can assert it as a constant row.
    */
  def annRecallGate(emb: DataFrame, queryIds: Seq[Long], k: Int,
                    minRecall: Double = 0.9): DataFrame =
    recallGate(bruteForceTopK(emb, queryIds, k),
      annTopK(emb, queryIds, k), k, minRecall)

  /** e5: cluster-balanced sampling — the D4/DoReMi-style semantic
    * diversity step: assign every embedding to its nearest centroid
    * (cosine argmax, ties to the lowest centroid id) and keep at most
    * `k` per cluster in the deterministic t5 hash order, so no topic
    * region dominates the mixture.
    *
    * Scale shape: the centroids come from designated corpus vectors and
    * are COLLECTED (a few KB — the e3 codebook pattern), so assignment
    * is a MAP-ONLY argmax over literal vectors: no cross join, no
    * assignment exchange. Dot products use [[cosine]]'s sequential
    * double fold (bit-compatible with DuckDB's list_dot_product), so
    * the oracle replays the argmax exactly. The per-cluster cap reuses
    * [[TextOps.domainQuota]]'s skew-immune two-phase top-k — a giant
    * cluster never funnels into one window task.
    */
  def clusterBalance(emb: DataFrame, centroidIds: Seq[Long], k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = emb.where(col("vec_id").isInCollection(centroidIds))
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    require(cents.nonEmpty,
      s"clusterBalance: none of the centroid ids ${centroidIds.take(8)} exist in the table")
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    // hoist the row norm (shared by every candidate — interpreted HOFs
    // see no codegen CSE) and fold each centroid's norm to a driver-side
    // constant with the SAME sequential double accumulation, so the
    // expression keeps [[cosine]]'s exact arithmetic shape
    // dot / (sqrt(dot(c,c)) * sqrt(dot(b,b))) and the oracle still
    // replays it bit-for-bit.
    val withNorm = emb.withColumn("nb", sqrt(dot(col("embedding"), col("embedding"))))
    // argmax via array_max over (sim, -cent_id) structs: larger sim wins,
    // equal sims fall to the LOWEST centroid id (negation flips the order)
    val cand = cents.map { case (cid, v) =>
      val cn = math.sqrt(v.foldLeft(0.0)((a, f) => a + f.toDouble * f.toDouble))
      struct((dot(typedLit(v.toSeq), col("embedding")) / (lit(cn) * col("nb"))).as("sim"),
        lit(-cid).as("nid"))
    }
    val best = array_max(array(cand.toIndexedSeq: _*))
    val assigned = withNorm.select(
      concat(lit("c"), (-best.getField("nid")).cast("string")).as("source"),
      col("vec_id").as("doc_id"))
    TextOps.domainQuota(assigned, k)
      .select(col("doc_id").as("vec_id"), col("source").as("cluster"), col("rn"))
  }
}
