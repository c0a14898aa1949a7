package graft.operators

import graft.core.withPersisted
import graft.functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Three paths, trading exactness for scale:
  *  - brute force: exact top-K, O(Q·N) — the correctness baseline. Queries are
  *    broadcast, so the big side never shuffles.
  *  - LSH: sign-random-projection buckets, multi-table; candidates are the
  *    bucket collisions only, one shuffle by (table, bucket).
  *  - IVF: coarse-quantize to centroids, probe the nearest `nprobe` cells;
  *    one shuffle by cell id; centroids (O(k·dim)) are broadcast.
  */
object Ann {

  /** Exact cosine top-K of each query vector against the candidate set.
    * `queries` is expected to be small (it is broadcast); candidates stream
    * map-side through the fused single-pass [[CosineSim]] kernel, and the
    * only shuffle is the final tiny per-query top-K window.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = candidates.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(q).crossJoin(c)
      .select(col("query_id"), col("neighbor_id"),
        cosine_sim(col("qv"), col("cv")).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Exact all-pairs cosine ≥ τ. O(N²) by construction — the oracle-checked
    * baseline the banded variants are spec-tested against; at scale use
    * [[lshTopK]]/[[ivfTopK]] buckets to prune the pair space.
    */
  def pairsAboveThreshold(vectors: DataFrame, minCosine: Double): DataFrame = {
    val a = vectors.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = vectors.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine_sim(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= minCosine)
      .orderBy("id_a", "id_b")
  }

  /** Multi-table sign-random-projection LSH top-K: `numTables` independent
    * `numBits`-bit bucketings; candidates = bucket collisions in any table.
    * Scale: one shuffle keyed by (table, bucket); recall grows with tables,
    * candidate count shrinks with bits.
    */
  /** @param polySigns use the LCG sign source
    *        ([[graft.functions.Kernels.signRandomProjectionPoly]]) instead
    *        of Murmur3 — same LSH family and recall behavior, but the
    *        bucket assignment is plain BIGINT arithmetic a DuckDB oracle
    *        replays exactly (the r9 promotion of ann_lsh from a rows-only
    *        recall spec to a full standing oracle). */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      numTables: Int = 8, numBits: Int = 4, polySigns: Boolean = false): DataFrame = {
    val srp: (Column, Int, Int) => Column =
      if (polySigns) (c, b, s) => sign_random_projection_poly(c, b, s)
      else (c, b, s) => sign_random_projection(c, b, s)
    def bucketed(df: DataFrame, idCol: String, vecCol: String): DataFrame =
      df.select(col("vec_id").as(idCol), col("embedding").as(vecCol),
          posexplode(array((0 until numTables).map(t =>
            srp(col("embedding"), numBits, 1000 + t)): _*)))
        .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "bucket"))
    val q = bucketed(queries, "query_id", "qv")
    val c = bucketed(candidates, "neighbor_id", "cv")
    val cand = broadcast(q).join(c, Seq("tbl", "bucket"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("cv"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    cand.select(col("query_id"), col("neighbor_id"),
        cosine_sim(col("qv"), col("cv")).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Multi-probe LSH top-K: each query probes its own SRP bucket PLUS every
    * bucket at Hamming distance 1 (one flipped hyperplane sign) in each
    * table — the Lv et al. (VLDB'07) trade: a near neighbor that lands just
    * across ONE hyperplane is still found, so fewer tables reach the recall
    * that plain LSH needs many tables for. Cost model at 100 TB: probes
    * multiply only the tiny broadcast QUERY side (numTables·(1+numBits)
    * rows per query); the corpus is still bucketed ONCE per table — the
    * index memory (the scale bottleneck of multi-table LSH) does not grow
    * with probes. Same single (tbl, bucket) equi-join shape as [[lshTopK]].
    */
  def lshMultiProbeTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      numTables: Int = 4, numBits: Int = 4, polySigns: Boolean = false): DataFrame = {
    val srp: (Column, Int, Int) => Column =
      if (polySigns) (c, b, s) => sign_random_projection_poly(c, b, s)
      else (c, b, s) => sign_random_projection(c, b, s)
    // candidate side: one bucket per table (identical to lshTopK's side)
    val c = candidates.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
        posexplode(array((0 until numTables).map(t =>
          srp(col("embedding"), numBits, 1000 + t)): _*)))
      .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "bucket"))
    // query side: base bucket + all numBits single-bit flips of it
    val probes = (vb: Column) => array((0 until numTables).flatMap { t =>
      val base = srp(vb, numBits, 1000 + t)
      (base +: (0 until numBits).map(j => base.bitwiseXOR(lit(1 << j))))
        .map(b => struct(lit(t).as("tbl"), b.as("bucket")))
    }: _*)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        explode(probes(col("embedding"))).as("p"))
      .select(col("query_id"), col("qv"), col("p.tbl").as("tbl"), col("p.bucket").as("bucket"))
    val cand = broadcast(q).join(c, Seq("tbl", "bucket"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("cv"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    cand.select(col("query_id"), col("neighbor_id"),
        cosine_sim(col("qv"), col("cv")).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** SRP-banded near-dup pairs — the scale path for [[pairsAboveThreshold]]:
    * vectors meet only inside an (table, bucket) collision, so the pair space
    * shrinks from N²/2 to the bucket co-occupancy; survivors are verified
    * with the exact cosine. Approximate in recall (a τ-pair may collide in no
    * table), spec-bounded in AnnSpec.
    */
  def lshPairs(vectors: DataFrame, minCosine: Double,
      numTables: Int = 8, numBits: Int = 4, polySigns: Boolean = false): DataFrame = {
    val srp: (Column, Int, Int) => Column =
      if (polySigns) (c, b, s) => sign_random_projection_poly(c, b, s)
      else (c, b, s) => sign_random_projection(c, b, s)
    val bucketed = vectors.select(col("vec_id"), col("embedding"),
        posexplode(array((0 until numTables).map(t =>
          srp(col("embedding"), numBits, 2000 + t)): _*)))
      .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "bucket"))
    withPersisted(bucketed) { bucketed =>
      bucketed.as("a").join(bucketed.as("b"), Seq("tbl", "bucket"))
        .filter(col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          col("a.embedding").as("va"), col("b.embedding").as("vb"))
        .dropDuplicates("id_a", "id_b")
        .select(col("id_a"), col("id_b"), cosine_sim(col("va"), col("vb")).as("cosine"))
        .filter(col("cosine") >= minCosine)
        .orderBy("id_a", "id_b")
        .localCheckpoint()
    }
  }

  /** Exact k-nearest-neighbor GRAPH: the top-k cosine neighbors of EVERY
    * vector among all the others (self excluded) — the input shape for
    * graph-based dedup audits, cluster balancing, and retrieval-quality
    * checks. O(N²) by construction, like [[pairsAboveThreshold]] the
    * oracle-checked baseline; [[knnGraphLsh]] is the banded scale path.
    */
  def knnGraphExact(vectors: DataFrame, k: Int): DataFrame = {
    val a = vectors.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val b = vectors.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    a.crossJoin(b).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine_sim(col("qv"), col("cv")).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Banded kNN graph — the scale path for [[knnGraphExact]]: every node
    * ranks only the peers it collides with in at least one SRP table, so
    * the pair space drops from N² to bucket co-occupancy and the heavy join
    * shuffles once by (table, bucket). Approximate in recall (a true
    * neighbor may share no bucket — recall floor spec-checked in AnnSpec);
    * nodes colliding with fewer than k peers emit fewer than k edges.
    */
  def knnGraphLsh(vectors: DataFrame, k: Int,
      numTables: Int = 8, numBits: Int = 4, polySigns: Boolean = false): DataFrame = {
    val srp: (Column, Int, Int) => Column =
      if (polySigns) (c, b, s) => sign_random_projection_poly(c, b, s)
      else (c, b, s) => sign_random_projection(c, b, s)
    val bucketed = vectors.select(col("vec_id"), col("embedding"),
        posexplode(array((0 until numTables).map(t =>
          srp(col("embedding"), numBits, 3000 + t)): _*)))
      .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "bucket"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    withPersisted(bucketed) { bucketed =>
      bucketed.as("a").join(bucketed.as("b"), Seq("tbl", "bucket"))
        .filter(col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
          col("a.embedding").as("qv"), col("b.embedding").as("cv"))
        .dropDuplicates("query_id", "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          cosine_sim(col("qv"), col("cv")).as("cosine"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
        .orderBy("query_id", "rank")
        .localCheckpoint()
    }
  }

  /** Seed base for the secondary SRP banding inside oversized SemDeDup
    * clusters — shared with the spec that measures the banded pair space.
    */
  val SemDedupSubSeed = 4000

  /** SemDeDup-style semantic deduplication: cluster the embeddings with
    * distributed k-means ([[KMeans.lloyd]]), find cosine ≥ τ pairs ONLY
    * within each cluster (pairwise work bounded by cluster occupancy — one
    * shuffle keyed by cluster, never the N² cross join), collapse pair
    * groups with [[NearDup.connectedComponents]], and keep each group's
    * minimum id plus every unpaired doc. Deterministic end-to-end (k-means
    * init, fixed-order cosine, min-id canonicalization). Recall is
    * approximate — a τ-pair split across two clusters is missed — which is
    * the SemDeDup trade; soundness (every drop has a kept near-dup witness
    * in its cluster) is spec-checked against an independent replay.
    *
    * The `(vec_id, embedding)` input is persisted once and k-means fits on
    * it; each row's cluster is then computed ONCE from those rows with the
    * fitted codebook (the same kernel and centroids as lloyd's own final
    * assignment) and materialized, so the cluster sizes, both pair sides and
    * the final anti-join read it instead of re-running the upstream plan.
    *
    * A skewed codebook is not allowed to re-create the N² problem: clusters
    * above `maxClusterSize` are sub-split by a secondary SRP banding
    * ([[clusterPairs]]), so per-task pair counts stay bounded by bucket
    * co-occupancy even when one hot cluster swallows the corpus.
    */
  def semanticDedup(vectors: DataFrame, minCosine: Double,
      k: Int = 8, iters: Int = 3, maxClusterSize: Int = 4096,
      subTables: Int = 8, subBits: Int = 4): DataFrame = {
    val av = withPersisted(vectors.select(col("vec_id"), col("embedding"))) { in =>
      val r = KMeans.lloyd(in, "vec_id", "embedding", k, iters,
        trackInertia = false)
      in.withColumn("cluster",
          nearest_centroid(col("embedding"), r.centroids).getField("cluster"))
        .localCheckpoint()
    }
    val pairs = clusterPairs(av, minCosine, maxClusterSize, subTables, subBits)
    val dropped = NearDup.connectedComponents(pairs)
      .filter(col("doc_id") =!= col("component_id"))
      .select(col("doc_id").as("vec_id"))
    av.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster"))
      .orderBy("vec_id")
  }

  /** [[semanticDedup]] in the ORACLE-CHECKABLE integer discipline: clusters
    * come from [[KMeans.lloydQuantized]] (units of 10^-`log scale`,
    * truncating integer means — the kmeans_embeddings fixed point), and the
    * within-cluster admission test is division-free integer arithmetic on
    * the SAME quantized vectors:
    *
    *   cos(a,b) ≥ τ  ⇔  dot > 0  ∧  dot²·tauDenSq ≥ tauNumSq·‖a‖²·‖b‖²
    *
    * with τ² = tauNumSq/tauDenSq and the products in DECIMAL(38,0) (dot² is
    * ~10¹⁸ at this scale — BIGINT would overflow; DuckDB mirrors with
    * HUGEINT). No floats anywhere ⇒ bit-exact against an unrolled SQL
    * replay, making SemDeDup itself driver-checkable, not just spec-backed.
    * The float [[semanticDedup]] (with its SRP hot-cluster sub-split)
    * remains the production path; this variant pairs clusters exactly, so
    * keep it to corpora whose cluster sizes are audited (the oracle's own
    * pair space is the same quadratic).
    */
  /** @param maxClusterSize loud-failure skew cap on the largest cluster.
    *        Default 4096 ≈ 8.4M intra-cluster pairs on one cluster-keyed
    *        shuffle partition — the same order as the float path's SRP
    *        sub-split trigger; the r8 default (65536 ≈ 2.1e9 pairs) let a
    *        single hot cluster re-create the exact N² straggler this guard
    *        documents preventing. Callers with a bigger executor budget
    *        raise it EXPLICITLY, sized to pairs ≈ cap²/2 per task. */
  def semanticDedupQuantized(vectors: DataFrame, tauNumSq: Long, tauDenSq: Long,
      k: Int = 8, iters: Int = 3, scale: Long = 1000L,
      maxClusterSize: Long = 4096L): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val r = KMeans.lloydQuantized(vectors, "vec_id", "embedding", k, iters, scale)
    val q = vectors.select(col("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => floor(x * scale + 0.5).cast("long")).as("v"))
    // the skew guard below plus the pair build and the survivor anti-join
    // all read the assignments, which lloydQuantized returns lazy
    withPersisted(r.assignments.select(col("id").as("vec_id"), col("cluster"))) { av =>
      // this exact-pair variant is deliberately sub-split-free (the oracle
      // replays the identical pair space) — so a skewed codebook must fail
      // LOUDLY before one hot cluster quietly re-creates the N² straggler
      // the production float path's SRP sub-split exists to prevent
      val biggest = av.groupBy(col("cluster")).count()
        .agg(coalesce(max(col("count")), lit(0L))).head.getLong(0)
      require(biggest <= maxClusterSize,
        s"semanticDedupQuantized: cluster of $biggest members exceeds " +
          s"maxClusterSize $maxClusterSize — use the SRP-sub-split " +
          "semanticDedup for skewed codebooks (its pair space stays bounded)")
      val withV = av.join(q, "vec_id")
      val a = withV.select(col("cluster"), col("vec_id").as("id_a"), col("v").as("va"))
      val b = withV.select(col("cluster"), col("vec_id").as("id_b"), col("v").as("vb"))
      val pairs = a.join(b, Seq("cluster")).filter(col("id_a") < col("id_b"))
        .withColumn("dot",
          aggregate(zip_with(col("va"), col("vb"), (x, y) => x * y),
            lit(0L), (acc, t) => acc + t))
        .withColumn("na2", aggregate(col("va"), lit(0L), (acc, x) => acc + x * x))
        .withColumn("nb2", aggregate(col("vb"), lit(0L), (acc, x) => acc + x * x))
        .filter(col("dot") > 0 &&
          col("dot").cast(d38) * col("dot").cast(d38) * lit(tauDenSq).cast(d38) >=
            lit(tauNumSq).cast(d38) * col("na2").cast(d38) * col("nb2").cast(d38))
        .select(col("id_a"), col("id_b"))
        val dropped = NearDup.connectedComponents(pairs)
        .filter(col("doc_id") =!= col("component_id"))
        .select(col("doc_id").as("vec_id"))
      av.join(dropped, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cluster"))
        .orderBy("vec_id")
        .localCheckpoint()
    }
  }

  /** Within-cluster cosine ≥ τ pairs with a bounded pair space. Clusters at
    * or below `maxClusterSize` pair exactly (all member pairs, one shuffle
    * keyed by cluster). Oversized clusters — the skew case where one hot
    * cluster would otherwise degrade to quadratic work and a single
    * straggler task — are banded by `subTables` secondary sign-random
    * projections, so their members meet only inside a (cluster, table,
    * bucket) collision, exactly the [[lshPairs]] discipline. Every emitted
    * pair carries the TRUE cosine (verification is exact); recall inside an
    * oversized cluster is approximate, the same trade the LSH paths make.
    *
    * The O(k) cluster sizes are collected first, and the banded branch is
    * built only when some cluster is oversized.
    */
  private[graft] def clusterPairs(av: DataFrame, minCosine: Double,
      maxClusterSize: Int, subTables: Int, subBits: Int): DataFrame = {
    val big = av.groupBy("cluster").count()
      .filter(col("count") > maxClusterSize).select("cluster")
      .collect().map(_.get(0)).toSeq
    val small = if (big.isEmpty) av else av.filter(!col("cluster").isin(big: _*))
    val a = small.select(col("cluster"), col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = small.select(col("cluster"), col("vec_id").as("id_b"), col("embedding").as("vb"))
    val smallPairs = a.join(b, Seq("cluster")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("va"), col("vb"))
    val pairs = if (big.isEmpty) smallPairs else {
      val bucketed = av.filter(col("cluster").isin(big: _*))
        .select(col("cluster"), col("vec_id"), col("embedding"),
          posexplode(array((0 until subTables).map(t =>
            sign_random_projection(col("embedding"), subBits, seed = SemDedupSubSeed + t)): _*)))
        .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "bucket"))
      val bigPairs = bucketed.as("x").join(bucketed.as("y"), Seq("cluster", "tbl", "bucket"))
        .filter(col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
          col("x.embedding").as("va"), col("y.embedding").as("vb"))
        .dropDuplicates("id_a", "id_b")
      smallPairs.unionByName(bigPairs)
    }
    pairs.select(col("id_a"), col("id_b"), cosine_sim(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** e3-quantize an embedding frame (the shared integer-twin discipline):
    * `floor(x·scale + 0.5)` per coordinate as BIGINT — replayed verbatim by
    * every quantized-family DuckDB oracle. */
  private def quantized(df: DataFrame, id: String, vec: String,
      scale: Long): DataFrame =
    df.select(col("vec_id").as(id),
      transform(col("embedding").cast("array<double>"),
        x => floor(x * scale + 0.5).cast("long")).as(vec))

  /** Integer squared L2 between two quantized vectors (codegen'd HOF fold). */
  private def l2sqQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, t) => acc + t)

  /** Exact integer-L2² top-K over e3-quantized vectors — the GROUND TRUTH
    * twin of [[ivfTopKQuantized]] (same metric, same quantization, no
    * pruning), so recall evaluation compares like against like. Queries
    * broadcast; candidates stream map-side; the only shuffle is the tiny
    * per-query top-K window.
    */
  def bruteForceTopKQuantized(queries: DataFrame, candidates: DataFrame,
      k: Int, scale: Long = 1000L): DataFrame = {
    val q = quantized(queries, "query_id", "qv", scale)
    val c = quantized(candidates, "neighbor_id", "cv", scale)
    val w = Window.partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
    broadcast(q).crossJoin(c)
      .select(col("query_id"), col("neighbor_id"), l2sqQ(col("qv"), col("cv")).as("d2"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("d2"))
      .orderBy("query_id", "rank")
  }

  /** Max-min MMR diversification (Carbonell & Goldstein 1998, the distance
    * form): per query, greedily pick `k` results from the `shortlist`
    * nearest candidates maximizing
    *   score = (lamDen−lamNum)·min_{s∈selected} d²(c,s) − lamNum·d²(q,c)
    * — relevance (near the query) traded against diversity (far from what
    * is already picked), λ = lamNum/lamDen. All-integer on the e3-quantized
    * vectors, ties break toward the lower neighbor_id, the first pick is
    * pure relevance (rank 1 by d²). Scale: the shortlist is O(k·rerank) per
    * query (the corpus never enters the greedy loop), pairwise distances
    * are shortlist², and the k rounds unroll as a lazy plan — no
    * driver-side collect.
    *
    * @return (query_id, round, neighbor_id, d2q, div_min, score10) — one
    *         row per greedy pick; div_min/score10 are NULL on round 1.
    */
  def mmrDiversifiedTopK(queries: DataFrame, candidates: DataFrame,
      shortlist: Int, k: Int, lamNum: Long = 7L, lamDen: Long = 10L,
      scale: Long = 1000L, checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1 && shortlist >= k, "need shortlist >= k >= 1")
    // λ = lamNum/lamDen must be a rational in [0, 1]: lamNum > lamDen (or a
    // non-positive lamDen) flips the sign of the (lamDen−lamNum) diversity
    // weight and silently INVERTS the trade-off instead of balancing it
    require(lamDen > 0 && lamNum >= 0 && lamNum <= lamDen,
      s"lambda must satisfy 0 <= lamNum <= lamDen with lamDen > 0, got $lamNum/$lamDen")
    val ckpt = new Checkpointer(checkpointDir)
    val q = quantized(queries, "query_id", "qv", scale)
    val c = quantized(candidates, "neighbor_id", "cv", scale)
    val wSl = Window.partitionBy("query_id").orderBy(col("d2q"), col("neighbor_id"))
    val sl = broadcast(q).crossJoin(c)
      .select(col("query_id"), col("neighbor_id"), col("cv"),
        l2sqQ(col("qv"), col("cv")).as("d2q"))
      .withColumn("srank", row_number().over(wSl))
      .filter(col("srank") <= shortlist)
    withPersisted(sl) { sl =>
      // pairwise integer L2² within each query's shortlist: O(shortlist²)
      // per query — tiny, but its min-join re-enters every greedy round,
      // so truncate it once (the rounds then read blocks, not the corpus)
      val pairs = ckpt(sl.select(col("query_id"), col("neighbor_id").as("cid"), col("cv"))
        .join(sl.select(col("query_id"), col("neighbor_id").as("sid"),
          col("cv").as("sv")), "query_id")
        .filter(col("cid") =!= col("sid"))
        .select(col("query_id"), col("cid"), col("sid"),
          l2sqQ(col("cv"), col("sv")).as("d2cs")))
      val cand = ckpt(sl.select(col("query_id"), col("neighbor_id"), col("d2q")))
      var selected = ckpt(sl.filter(col("srank") === 1)
        .select(col("query_id"), lit(1L).as("round"), col("neighbor_id"),
          col("d2q"), lit(null).cast("long").as("div_min"),
          lit(null).cast("long").as("score10")))
      for (r <- 2 to k) {
        val selIds = selected.select(col("query_id"), col("neighbor_id").as("sid"))
        val rem = cand.join(selIds.withColumnRenamed("sid", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_anti")
        val wPick = Window.partitionBy("query_id")
          .orderBy(col("score10").desc, col("neighbor_id"))
        val next = rem
          .join(pairs.withColumnRenamed("cid", "neighbor_id"), Seq("query_id", "neighbor_id"))
          .join(selIds, Seq("query_id", "sid"))
          .groupBy(col("query_id"), col("neighbor_id"), col("d2q"))
          .agg(min(col("d2cs")).as("div_min"))
          .withColumn("score10",
            lit(lamDen - lamNum) * col("div_min") - lit(lamNum) * col("d2q"))
          .withColumn("rn", row_number().over(wPick))
          .filter(col("rn") === 1)
          .select(col("query_id"), lit(r.toLong).as("round"), col("neighbor_id"),
            col("d2q"), col("div_min"), col("score10"))
        val prev = selected
        selected = ckpt(selected.unionByName(next))
        ckpt.retire(prev)
      }
      selected.orderBy("query_id", "round")
    }
  }

  /** Per-dimension mean vector per `label` — the deterministic stand-in for a
    * k-means codebook (at scale: train on a sample, broadcast the codebook).
    * Computed distributedly via posexplode + per-(label,pos) avg.
    */
  def centroids(vectors: DataFrame): DataFrame =
    vectors.select(col("label"), posexplode(col("embedding")))
      .groupBy("label", "pos").agg(avg(col("col")).as("m"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("centroid"))

  /** IVF top-K: assign every candidate to its nearest centroid (broadcast
    * codebook, deterministic min-struct tiebreak), probe the `nprobe` nearest
    * cells per query, search only those cells. One shuffle keyed by cell.
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, cents: DataFrame,
      k: Int, nprobe: Int = 2): DataFrame = {
    val cs = broadcast(cents.select(col("label").as("cell"), col("centroid")))
    def withCell(df: DataFrame, id: String, vec: String, keep: Int): DataFrame = {
      val scored = df.select(col("vec_id").as(id), col("embedding").as(vec))
        .crossJoin(cs)
        .select(col(id), col(vec), col("cell"),
          cosine_sim(col(vec), col("centroid")).as("csim"))
      val w = Window.partitionBy(id).orderBy(col("csim").desc, col("cell"))
      scored.withColumn("crank", row_number().over(w))
        .filter(col("crank") <= keep).drop("csim", "crank")
    }
    val c = withCell(candidates, "neighbor_id", "cv", keep = 1)
    val q = withCell(queries, "query_id", "qv", keep = nprobe)
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(q).join(c, "cell")
      .select(col("query_id"), col("neighbor_id"),
        cosine_sim(col("qv"), col("cv")).as("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** INTEGER-EXACT IVF twin of [[ivfTopK]] — the kmeans_embeddings /
    * semantic_dedup oracle discipline applied to the whole IVF pipeline:
    * codebook = [[KMeans.lloydQuantized]] over the CANDIDATE set (floor
    * quantization, truncating integer means), candidate cell = that
    * training run's own argmin assignment, query probes = the `nprobe`
    * integer-L2²-nearest final centroids (ties toward the lower cell id),
    * within-cell ranking = integer L2² ascending with a neighbor_id
    * tiebreak. Every number from training to ranking is BIGINT-valued, so
    * the ENTIRE chain — not just the final cosine — replays bit-exact as
    * unrolled SQL. The float [[ivfTopK]] stays the production path (recall
    * specs in AnnSpec); this is the registered oracle surface.
    *
    * Same scale shape as [[ivfTopK]]: O(kCells·d) codebook broadcast both
    * for training and probing, candidates shuffle once by cell.
    */
  def ivfTopKQuantized(queries: DataFrame, candidates: DataFrame, k: Int,
      nprobe: Int = 2, kCells: Int = 8, iters: Int = 3,
      scale: Long = 1000L): DataFrame = {
    val r = KMeans.lloydQuantized(candidates, "vec_id", "embedding", kCells, iters, scale)
    def quant(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(col("vec_id").as(id),
        transform(col("embedding").cast("array<double>"),
          x => floor(x * scale + 0.5).cast("long")).as(vec))
    val cand = quant(candidates, "neighbor_id", "cv")
      .join(r.assignments.select(col("id").as("neighbor_id"),
        col("cluster").as("cell")), "neighbor_id")
    // final centroids as a tiny exploded frame: integer-valued by
    // construction (truncating means of integer sums)
    val spark = queries.sparkSession
    import spark.implicits._
    val centDf = r.centroids.zipWithIndex
      .map { case (v, i) => (i, v.map(_.toLong).toSeq) }.toSeq
      .toDF("cell", "centv")
    def l2sq(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, t) => acc + t)
    val wProbe = Window.partitionBy("query_id").orderBy(col("cd2"), col("cell"))
    val probes = quant(queries, "query_id", "qv")
      .crossJoin(broadcast(centDf))
      .withColumn("cd2", l2sq(col("qv"), col("centv")))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qv"), col("cell"))
    val wRank = Window.partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
    broadcast(probes).join(cand, "cell")
      .select(col("query_id"), col("neighbor_id"), l2sq(col("qv"), col("cv")).as("d2"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("d2"))
      .orderBy("query_id", "rank")
  }
}
