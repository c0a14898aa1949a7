package graft.operators

import graft.core.withPersisted
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) ANN — the memory-bound scale path for
  * similarity search. A 64-dim float vector costs 256 bytes; its PQ code is
  * `m` small integers (8 here, one per subspace) — a ~30× compression that
  * is what makes a 100 TB embedding corpus SEARCHABLE: the codes table fits
  * in executor memory / page cache where the raw vectors never would, and
  * queries scan codes + a tiny lookup table instead of touching raw floats
  * (IVFADC, Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011).
  *
  * Pipeline:
  *  - [[train]]: split each vector into `m` contiguous `subDim`-slices and
  *    train ALL m subspace codebooks in one joint distributed Lloyd (one
  *    assignment scan + one (subspace, cluster, dim) mean shuffle per
  *    iteration) → an `m × k × subDim` codebook, O(m·k·subDim) driver-held —
  *    the same bounded-artifact contract as the IVF coarse quantizer. (At
  *    100 TB you train on a sample; the codebook does not grow with data.)
  *  - [[encode]]: one projection — `m` fused [[graft.functions.NearestCentroid]]
  *    kernels (codegen reference objects, plan stays O(1) in k) emit the
  *    code array per vector. One scan, no shuffle.
  *  - [[ivfAdcTopK]]: asymmetric distance computation. Each query
  *    precomputes an `m × k` table of exact subspace distances to every
  *    codeword (O(m·k·subDim) per query, driver-side — queries are the
  *    bounded side, same contract as [[Ann.bruteForceTopK]]'s broadcast);
  *    a candidate's approximate distance is then `m` table lookups summed —
  *    no float math against raw vectors at scan time. An IVF coarse
  *    quantizer (k-means over the full vectors) routes each query to its
  *    `nprobe` nearest cells so only those cells' codes are scanned; the
  *    candidate join is a broadcast equi-join on cell id and the only
  *    shuffle is the final tiny per-query top-K window.
  *
  * Approximate in ranking (quantization error; recall floor spec-checked in
  * AnnSpec against [[Ann.bruteForceTopK]]); deterministic end-to-end
  * (k-means seeding and tie-breaks are deterministic, ADC sums are
  * fixed-order per row).
  */
object Pq {

  /** `codebooks(j)(c)` = centroid `c` of subspace `j`, length `subDim`. */
  final case class Model(m: Int, k: Int, subDim: Int,
      codebooks: Array[Array[Array[Double]]])

  /** Driver-side cap on the ADC query set. Per-query LUTs and probe cells
    * are built on the driver (O(queries · m · k) memory — the right shape
    * for bounded probe/eval sets, the same contract as
    * [[Ann.bruteForceTopK]]'s broadcast side), but nothing used to ENFORCE
    * the bound: a caller passing a 10⁷-row query batch would OOM the driver
    * inside collect(). Fail loudly at the documented bound instead; batches
    * beyond it should be chunked into successive calls. */
  val MaxAdcQueries: Int = 100000

  /** `collect()` with the [[MaxAdcQueries]] bound enforced: reads at most
    * bound+1 rows (never the whole oversized set) and raises a sized,
    * actionable error instead of an opaque driver OOM. */
  private def collectBounded[T](ds: org.apache.spark.sql.Dataset[T],
      what: String): Array[T] = {
    val rows = ds.limit(MaxAdcQueries + 1).collect()
    require(rows.length <= MaxAdcQueries,
      s"$what holds more than $MaxAdcQueries rows — the per-query ADC LUT " +
        "build is driver-side and bounded by design; chunk the query set " +
        "into successive calls")
    rows
  }

  /** One-call IVFADC+R pipeline — the r8 fast path behind `ann_ivf_pq`.
    * Identical math to `train` + `ivfAdcTopK`, reshaped for job count and
    * scan reuse:
    *  - the candidate frame is NORMALIZED ONCE and persisted; seeding,
    *    training, encoding and the exact re-rank all read that one
    *    materialization instead of re-normalizing the parquet scan four
    *    times;
    *  - the IVF coarse quantizer trains INSIDE the joint PQ Lloyd: the
    *    explode emits `m` subspace rows PLUS one full-vector row (j = m)
    *    per vector, so each iteration is still ONE assignment scan + ONE
    *    (j, cluster, dim) mean shuffle — covering all m codebooks AND the
    *    coarse centroids. 1 + iters jobs replace the separate coarse
    *    Lloyd's 1 + iters (same per-subspace seeds, same argmin
    *    tie-breaks — output is bit-identical to the two-phase path,
    *    PqSpec-checked).
    */
  def ivfPq(queries: DataFrame, candidates: DataFrame, m: Int, k: Int,
      iters: Int, topK: Int, coarseK: Int = 8, nprobe: Int = 2,
      rerank: Int = 10): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val unit = normalized(candidates)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    withPersisted(unit) { unit =>
      // ONE seeding action for both geometries: the max(k, coarseK)
      // lowest-id unit vectors; PQ books slice them, the coarse book is the
      // first coarseK rows whole — exactly the seeds the two-phase path picks
      val seeds = unit.orderBy(col("vec_id")).limit(math.max(k, coarseK))
        .select(col("embedding")).as[Seq[Double]].collect().map(_.toArray)
      require(seeds.length >= math.max(k, coarseK),
        s"need ${math.max(k, coarseK)} vectors to seed, got ${seeds.length}")
      val dim = seeds(0).length
      require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
      val subDim = dim / m
      // j = 0..m-1: the subspace slices; j = m: the whole vector (coarse)
      val sub = unit.select(col("vec_id"), posexplode(array(
          (0 until m).map(j => slice(col("embedding"), j * subDim + 1, subDim)) :+
            col("embedding"): _*)))
        .withColumnsRenamed(Map("pos" -> "j", "col" -> "sub"))
      var books: Array[Array[Array[Double]]] =
        Array.tabulate(m, k)((j, c) => seeds(c).slice(j * subDim, (j + 1) * subDim))
      var coarse: Array[Array[Double]] = seeds.take(coarseK)
      for (_ <- 1 to iters) {
        val cluster = (0 until m).foldRight(
          graft.functions.nearest_centroid(col("sub"), coarse).getField("cluster")) {
          (j, acc) => when(col("j") === j,
            graft.functions.nearest_centroid(col("sub"), books(j)).getField("cluster"))
            .otherwise(acc)
        }
        val next = sub.select(col("j"), cluster.as("cluster"),
            posexplode(col("sub")).as(Seq("dim", "x")))
          .groupBy(col("j"), col("cluster"), col("dim")).agg(avg(col("x")).as("mean"))
          .groupBy(col("j"), col("cluster"))
          .agg(transform(array_sort(collect_list(struct(col("dim"), col("mean")))),
            s => s.getField("mean")).as("centroid"))
          .as[(Int, Int, Seq[Double])].collect()
        val ub = books.map(_.clone()); val uc = coarse.clone()
        next.foreach { case (j, c, v) => // empty clusters keep their centroid
          if (j == m) uc(c) = v.toArray else ub(j)(c) = v.toArray }
        books = ub; coarse = uc
      }
      val model = Model(m, k, subDim, books)
      adcQuery(queries, unit, model, coarse, topK, nprobe, rerank,
        preNormalized = true)
    }
  }

  /** INTEGER-EXACT twin of [[ivfPq]] — the ann_ivf (r10) / ann_sq8 (r11)
    * oracle-promotion playbook applied to the PQ codebook path, completing
    * the similarity family's banding audits: vectors quantize to e3 longs
    * (`floor(x·scale + 0.5)`), the joint Lloyd (all m subspace codebooks AND
    * the IVF coarse quantizer in ONE assignment scan + ONE (j, cluster, dim)
    * shuffle per iteration — [[ivfPq]]'s exact shape) trains with truncating
    * integer means (`sum DIV count`, toward zero — DuckDB `//`), the ADC
    * lookup tables are integer subspace L2² against the driver-held books,
    * routing probes the `nprobe` integer-L2²-nearest coarse cells, and the
    * k·rerank shortlist re-ranks by exact integer L2² over the full
    * quantized vectors. Every number from training to the final rank is
    * BIGINT-valued (all magnitudes ≤ ~2.6e8 at dim 64 / e3 units — exact in
    * the double-typed argmin kernel far below 2^53), so the ENTIRE
    * train+encode+route+ADC+re-rank chain replays as unrolled DuckDB SQL
    * hash-exact. The float [[ivfPq]] stays the production path (true cosine
    * output, recall-spec-backed in PqSpec); this is the registered oracle
    * surface. Returns (query_id, rank, neighbor_id, d2); rank 1 = nearest
    * by integer L2², ties toward lower neighbor id.
    *
    * Scale shape unchanged from [[ivfPq]]: books are O(m·k·subDim + coarseK·dim)
    * bounded driver artifacts, queries are the bounded collected side
    * (O(Q·m·k) lookup tables broadcast), candidates shuffle once per training
    * iteration and stream map-side through encode/ADC.
    */
  def ivfPqQuantized(queries: DataFrame, candidates: DataFrame, m: Int, k: Int,
      iters: Int, topK: Int, coarseK: Int = 8, nprobe: Int = 2,
      rerank: Int = 10, scale: Long = 1000L): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    // e3 grid, carried as integer-VALUED doubles so the fused NearestCentroid
    // kernel does the argmin (exact: components ≤ ~2e3, L2² ≤ ~2.6e8 « 2^53);
    // persisted for the duration of training like ivfPq's unit frame
    withPersisted(candidates.select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => floor(x * scale + 0.5).cast("double")).as("v"))) { q =>
      val seeds = q.orderBy(col("vec_id")).limit(math.max(k, coarseK))
        .select(col("v")).as[Seq[Double]].collect().map(_.toArray)
      require(seeds.length >= math.max(k, coarseK),
        s"need ${math.max(k, coarseK)} vectors to seed, got ${seeds.length}")
      val dim = seeds(0).length
      require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
      val subDim = dim / m
      // j = 0..m-1: subspace slices; j = m: the whole vector (coarse)
      val sub = q.select(col("vec_id"), posexplode(array(
          (0 until m).map(j => slice(col("v"), j * subDim + 1, subDim)) :+
            col("v"): _*)))
        .withColumnsRenamed(Map("pos" -> "j", "col" -> "sv"))
      var books: Array[Array[Array[Double]]] =
        Array.tabulate(m, k)((j, c) => seeds(c).slice(j * subDim, (j + 1) * subDim))
      var coarse: Array[Array[Double]] = seeds.take(coarseK)
      for (_ <- 1 to iters) {
        val cluster = (0 until m).foldRight(
          graft.functions.nearest_centroid(col("sv"), coarse).getField("cluster")) {
          (j, acc) => when(col("j") === j,
            graft.functions.nearest_centroid(col("sv"), books(j)).getField("cluster"))
            .otherwise(acc)
        }
        // ONE shuffle for all m books + the coarse geometry: (j, cluster,
        // dim) integer sums + counts; the truncating mean happens on the
        // driver over the O((m·k + coarseK)·dim) collected statistics
        val next = sub.select(col("j"), cluster.as("cluster"),
            posexplode(col("sv")).as(Seq("dim", "x")))
          .groupBy(col("j"), col("cluster"), col("dim"))
          .agg(sum(col("x")).cast("long").as("s"), count(lit(1)).as("n"))
          .groupBy(col("j"), col("cluster"))
          .agg(transform(array_sort(collect_list(struct(col("dim"), col("s")))),
              t => t.getField("s")).as("sums"),
            first(col("n")).as("n"))
          .as[(Int, Int, Seq[Long], Long)].collect()
        val ub = books.map(_.clone()); val uc = coarse.clone()
        next.foreach { case (j, c, sums, n) => // empty clusters keep their centroid
          val cent = sums.map(s => (s / n).toDouble).toArray // trunc ≡ DuckDB //
          if (j == m) uc(c) = cent else ub(j)(c) = cent
        }
        books = ub; coarse = uc
      }
      // encode: m PQ codes + the coarse cell per candidate, one projection
      val codes = q.select(col("vec_id").as("neighbor_id"),
        array((0 until m).map { j =>
          graft.functions.nearest_centroid(
            slice(col("v"), j * subDim + 1, subDim), books(j)).getField("cluster")
        }: _*).as("codes"),
        graft.functions.nearest_centroid(col("v"), coarse)
          .getField("cluster").as("cell"),
        col("v").as("cv"))
      // queries: bounded, collected — integer LUTs + probe cells driver-side
      // (the bound is ENFORCED: an oversized batch fails loudly, never OOMs)
      val qs = collectBounded(queries.select(col("vec_id"),
          transform(col("embedding").cast("array<double>"),
            x => floor(x * scale + 0.5).cast("long")).as("v"))
        .as[(Long, Array[Long])], "PQ query set")
      def distSq(a: Array[Long], b: Array[Double], off: Int): Long = {
        var s = 0L; var i = 0
        while (i < b.length) { val d = a(off + i) - b(i).toLong; s += d * d; i += 1 }
        s
      }
      val lutRows = qs.toSeq.map { case (qid, qv) =>
        val lut: Seq[Seq[Long]] = (0 until m).map { j =>
          (0 until k).map(c => distSq(qv, books(j)(c), j * subDim))
        }
        val cells: Seq[Int] = coarse.zipWithIndex
          .map { case (cv, c) => (distSq(qv, cv, 0), c) }
          .sortBy { case (dist, c) => (dist, c) }.take(nprobe).map(_._2).toSeq
        (qid, qv.toSeq, lut, cells)
      }
      val luts = lutRows.toDF("query_id", "qv", "lut", "cells")
        .select(col("query_id"), col("lut"), explode(col("cells")).as("cell"))
      // ADC = m integer table lookups summed; per-query k·rerank shortlist
      val wS = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
      val shortlist = broadcast(luts)
        .join(codes.select(col("neighbor_id"), col("codes"), col("cell")), "cell")
        .select(col("query_id"), col("neighbor_id"),
          aggregate(zip_with(col("codes"), col("lut"), (c, row) => element_at(row, c + 1)),
            lit(0L), (acc, x) => acc + x).as("adist"))
        .withColumn("srank", row_number().over(wS))
        .filter(col("srank") <= topK * rerank)
        .select(col("query_id"), col("neighbor_id"))
      // exact integer L2² re-rank of the tiny shortlist only
      val qFrame = lutRows.map { case (qid, qv, _, _) => (qid, qv) }
        .toDF("query_id", "qv")
      val d2 = aggregate(zip_with(col("qv"), col("cv"),
          (x, y) => (x - y.cast("long")) * (x - y.cast("long"))),
        lit(0L), (acc, t) => acc + t)
      val wR = Window.partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
      shortlist
        .join(codes.select(col("neighbor_id"), col("cv")), "neighbor_id")
        .join(broadcast(qFrame), "query_id")
        .select(col("query_id"), col("neighbor_id"), d2.as("d2"))
        .withColumn("rank", row_number().over(wR).cast("long"))
        .filter(col("rank") <= topK)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("d2"))
        .orderBy("query_id", "rank")
    }
  }

  /** The whole pipeline runs on L2-NORMALIZED vectors: on unit vectors
    * ‖a−b‖² = 2 − 2·cos(a,b), so the ADC L2 ranking is exactly the cosine
    * ranking the rest of the similarity stack ([[Ann]]) uses — without
    * normalization, L2-PQ against a cosine baseline is comparing different
    * orderings, not approximating one. One codegen'd projection per scan.
    */
  private def normalized(emb: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val n = sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x))
    val d = greatest(n, lit(1e-300)) // zero vectors stay zero, never NaN
    emb.withColumn("embedding", transform(v, x => x / d))
  }

  /** Train all `m` per-subspace codebooks with ONE joint distributed Lloyd:
    * the vectors explode once into (vec_id, subspace, subvector) — cached
    * for the duration of training — and every iteration is a single
    * assignment scan plus a single (subspace, cluster, dim) mean shuffle
    * covering all subspaces at once. Same math as m independent
    * [[KMeans.lloyd]] runs (identical lowest-id seeding per subspace,
    * identical argmin tie-breaks), but 1 + iters Spark jobs total instead of
    * m × (2 × iters + 1) — the job-count difference between ~1 s and ~50 s
    * of pure scheduling overhead when training is a small fraction of the
    * corpus, and the same single-pass-per-iteration shape a 100 TB training
    * sample wants.
    */
  def train(emb: DataFrame, m: Int, k: Int, iters: Int): Model = {
    val spark = emb.sparkSession
    import spark.implicits._
    val unit = normalized(emb)
    // Seeding: the k lowest-id unit vectors, sliced driver-side — the same
    // per-subspace seeds as k lowest-id rows of each sub-frame. ONE action:
    // the vector dimension is read off the first seed instead of a separate
    // size() probe job.
    val seeds = unit.orderBy(col("vec_id")).limit(k)
      .select(col("embedding").cast("array<double>")).as[Seq[Double]]
      .collect().map(_.toArray)
    require(seeds.length == k, s"need at least $k vectors to seed, got ${seeds.length}")
    val dim = seeds(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val sub = unit.select(col("vec_id"), posexplode(array((0 until m).map(j =>
        slice(col("embedding"), j * subDim + 1, subDim).cast("array<double>")): _*)))
      .withColumnsRenamed(Map("pos" -> "j", "col" -> "sub"))
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m, k)((j, c) => seeds(c).slice(j * subDim, (j + 1) * subDim))
    withPersisted(sub) { sub =>
      for (_ <- 1 to iters) {
        // per-row argmin against the row's OWN subspace codebook: a
        // j-dispatched chain over m fused NearestCentroid kernels (tree grows
        // O(m), m is small and fixed; each branch stays codegen'd)
        val cluster = (0 until m).foldRight(lit(-1): org.apache.spark.sql.Column) {
          (j, acc) => when(col("j") === j,
            graft.functions.nearest_centroid(col("sub"), books(j)).getField("cluster"))
            .otherwise(acc)
        }
        // ONE shuffle for every subspace: (j, cluster, dim) partial means
        val next = sub.select(col("j"), cluster.as("cluster"),
            posexplode(col("sub")).as(Seq("dim", "x")))
          .groupBy(col("j"), col("cluster"), col("dim")).agg(avg(col("x")).as("mean"))
          .groupBy(col("j"), col("cluster"))
          .agg(transform(array_sort(collect_list(struct(col("dim"), col("mean")))),
            s => s.getField("mean")).as("centroid"))
          .as[(Int, Int, Seq[Double])].collect()
        val updated = books.map(_.clone())
        next.foreach { case (j, c, v) => updated(j)(c) = v.toArray } // empty clusters keep their centroid
        books = updated
      }
    }
    Model(m, k, subDim, books)
  }

  /** (vec_id, codes array<int>) — the compressed representation. */
  def encode(emb: DataFrame, model: Model): DataFrame = {
    val codeCols = (0 until model.m).map { j =>
      graft.functions.nearest_centroid(
        slice(col("embedding"), j * model.subDim + 1, model.subDim),
        model.codebooks(j)).getField("cluster")
    }
    normalized(emb).select(col("vec_id"), array(codeCols: _*).as("codes"))
  }

  /** IVF-routed ADC top-K with exact re-ranking (IVFADC+R): `queries`
    * (bounded, collected — O(Q·m·k) lookup tables) against `candidates`,
    * both (vec_id, embedding). ADC over the codes selects a
    * `k × rerank` shortlist per query (the scan that must be cheap at
    * 100 TB — codes only, no raw floats); the shortlist alone — O(Q·k·rerank)
    * rows, broadcast — is then re-ranked by exact cosine against the raw
    * vectors. Quantization error decides only who makes the shortlist,
    * never the final order; on a weakly-similar corpus (top-k cosine
    * margins smaller than quantization error) pure-ADC ordering is noise
    * while the re-ranked order stays sharp — spec-measured in PqSpec.
    * `rerank = 0` skips re-ranking and returns the raw ADC ordering with
    * `adist` (approximate squared L2 on unit vectors = 2 − 2·cos).
    * Returns (query_id, rank, neighbor_id, cosine|adist); rank 1 =
    * nearest, ties toward lower neighbor id.
    */
  def ivfAdcTopK(queries: DataFrame, candidates: DataFrame, model: Model,
      k: Int, coarseK: Int = 8, coarseIters: Int = 3, nprobe: Int = 2,
      rerank: Int = 10): DataFrame = {
    val coarse = KMeans.lloyd(normalized(candidates), "vec_id", "embedding",
      coarseK, coarseIters, trackInertia = false)
    adcQuery(queries, candidates, model, coarse.centroids, k, nprobe, rerank,
      preNormalized = false)
  }

  /** The ADC + re-rank stage against an already-trained model and coarse
    * codebook; `preNormalized` skips the unit-normalization projections when
    * the caller already materialized unit vectors ([[ivfPq]]). */
  private def adcQuery(queries: DataFrame, candidates: DataFrame, model: Model,
      coarseCentroids: Array[Array[Double]], k: Int, nprobe: Int,
      rerank: Int, preNormalized: Boolean): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._

    val candUnit = if (preNormalized) candidates else normalized(candidates)
    val codes = candUnit.select(col("vec_id"),
      array((0 until model.m).map { j =>
        graft.functions.nearest_centroid(
          slice(col("embedding"), j * model.subDim + 1, model.subDim),
          model.codebooks(j)).getField("cluster")
      }: _*).as("codes"),
      graft.functions.nearest_centroid(col("embedding"), coarseCentroids)
        .getField("cluster").as("cell"))

    // Per query: the m×k ADC table plus its nprobe nearest coarse cells —
    // both exact driver-side float math over the driver-held codebooks.
    val qs = collectBounded(normalized(queries)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Double])], "PQ query set")
    def distSq(a: Array[Double], b: Array[Double], off: Int): Double = {
      var s = 0.0; var i = 0
      while (i < b.length) { val d = a(off + i) - b(i); s += d * d; i += 1 }
      s
    }
    val lutRows = qs.toSeq.map { case (qid, qv) =>
      val lut: Seq[Seq[Double]] = (0 until model.m).map { j =>
        (0 until model.k).map(c => distSq(qv, model.codebooks(j)(c), j * model.subDim))
      }
      val cells: Seq[Int] = coarseCentroids.zipWithIndex
        .map { case (cv, c) => (distSq(qv, cv, 0), c) }
        .sortBy { case (dist, c) => (dist, c) }.take(nprobe).map(_._2).toSeq
      (qid, lut, cells)
    }
    val luts = lutRows.toDF("query_id", "lut", "cells")
      .select(col("query_id"), col("lut"), explode(col("cells")).as("cell"))

    // adist = sum_j lut(j)(code_j): zip the code array with the query's
    // table — m element_at lookups, zero float ops against raw vectors.
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    val shortN = if (rerank > 0) k * rerank else k
    val adc = broadcast(luts).join(codes.withColumnRenamed("vec_id", "neighbor_id"), "cell")
      .select(col("query_id"), col("neighbor_id"),
        aggregate(zip_with(col("codes"), col("lut"), (c, row) => element_at(row, c + 1)),
          lit(0.0), (acc, x) => acc + x).as("adist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= shortN)
    if (rerank == 0) {
      adc.select(col("query_id"), col("rank"), col("neighbor_id"), col("adist"))
        .orderBy("query_id", "rank")
    } else {
      // exact re-rank of the tiny shortlist: broadcast its ids, stream the
      // raw-vector table through one hash join, fused cosine kernel
      val wx = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
      val qraw = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val craw = candidates.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      broadcast(adc.select(col("query_id"), col("neighbor_id")))
        .join(craw, "neighbor_id")
        .join(broadcast(qraw), "query_id")
        .select(col("query_id"), col("neighbor_id"),
          graft.functions.cosine_sim(col("qv"), col("cv")).as("cosine"))
        .withColumn("rank", row_number().over(wx).cast("long"))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
        .orderBy("query_id", "rank")
    }
  }
}
