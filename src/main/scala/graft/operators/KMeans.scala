package graft.operators

import graft.functions.nearest_centroid
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an embedding column — the training step
  * that produces [[Ann]]'s IVF coarse-quantizer centroids.
  *
  * Scale shape per iteration: centroids broadcast (O(k·d) — driver-held, the
  * same contract as Ann's centroid list), assignment is a per-row argmin over
  * the broadcast array (no join, no shuffle), and the centroid update is ONE
  * shuffle: explode the d dimensions → groupBy (cluster, dim) partial-avg,
  * whose k·d rows are collected and assembled into centroids on the driver.
  * Everything driver-side is O(k·d) per iteration; the data never leaves
  * executors. Deterministic end-to-end: init picks the k lowest-id vectors,
  * per-row distance arithmetic is a fixed-order fused kernel
  * ([[graft.functions.Kernels.nearestCentroid]] — one expression whatever k
  * is), and argmin ties break toward the lower cluster id — reruns give
  * identical assignments (no rand(), task-retry-safe).
  *
  * With mean centroids and squared-L2 assignment, Lloyd's inertia is
  * non-increasing per iteration — asserted in KMeansSpec.
  */
object KMeans {

  final case class Result(
      assignments: DataFrame,            // (id, cluster, dist_sq)
      centroids: Array[Array[Double]],   // k × d
      inertia: Seq[Double])              // per completed iteration

  def lloyd(emb: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int,
      checkpointDir: Option[String] = None, trackInertia: Boolean = true): Result = {
    require(k >= 1 && iters >= 1, "k and iters must be positive")
    // The iterate state (the codebook) is driver-held, so unlike PageRank
    // there is no growing lineage to truncate — but every iteration re-scans
    // `emb`. With a checkpointDir, the projected input is materialized ONCE
    // to reliable storage: iterations re-read the checkpoint instead of
    // re-running the upstream plan (and an executor loss costs a file
    // re-read, not an upstream recompute). Without one, the projected input
    // is persisted for the duration of the loop ([[graft.core.withPersisted]])
    // so the seeding action and each iteration's update read the
    // materialized rows. Bit-identical every way.
    // `trackInertia = false` skips the per-iteration inertia aggregate — one
    // fewer job per iteration for callers that only want the codebook
    // ([[Pq]]'s coarse quantizer); `Result.inertia` is then empty.
    val proj = emb.select(col(idCol), col(vecCol))
    checkpointDir match {
      case Some(_) => fit(new Checkpointer(checkpointDir)(proj), idCol, vecCol, k, iters, trackInertia)
      case None => graft.core.withPersisted(proj)(fit(_, idCol, vecCol, k, iters, trackInertia))
    }
  }

  /** [[lloyd]]'s loop over its materialized input. The returned assignments
    * are lazy: once the caller releases `embP`, evaluating them re-scans
    * the source once, exactly as an uncached final pass would. */
  private def fit(embP: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int,
      trackInertia: Boolean): Result = {
    val spark = embP.sparkSession
    import spark.implicits._

    // deterministic seeding: the k lowest-id vectors
    var centroids: Array[Array[Double]] = embP
      .select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast("array<double>")).as[Seq[Double]]
      .collect().map(_.toArray)

    def assigned(): DataFrame = {
      // argmin over the driver-held codebook in ONE fused expression
      // (NearestCentroid carries the matrix as a codegen reference object):
      // the expression tree stays O(1) however large k gets, where a fold of
      // per-centroid when() branches would grow O(k) and leave codegen
      val best = nearest_centroid(col(vecCol), centroids)
      embP.select(col(idCol).as("id"), col(vecCol).as("vec"), best.as("best"))
        .select($"id", $"vec", $"best.cluster".as("cluster"), $"best.dist_sq".as("dist_sq"))
    }

    val inertias = scala.collection.mutable.ArrayBuffer[Double]()
    for (_ <- 1 to iters) {
      val current = assigned()
      if (trackInertia) inertias += current.agg(sum($"dist_sq")).head().getDouble(0)
      // ONE shuffle: (cluster, dim) partial means, k·d rows collected and
      // assembled into centroids on the driver
      val next = current
        .select($"cluster", posexplode($"vec".cast("array<double>")).as(Seq("dim", "x")))
        .groupBy($"cluster", $"dim").agg(avg($"x").as("m"))
        .as[(Int, Int, Double)].collect()
      val updated = centroids.clone()
      next.groupBy(_._1).foreach { case (c, ms) => // empty clusters keep their centroid
        updated(c) = ms.sortBy(_._2).map(_._3)
      }
      centroids = updated
    }
    Result(assigned().drop("vec"), centroids, inertias.toSeq)
  }

  /** INTEGER-EXACT Lloyd over vectors quantized to units of `1/scale`:
    * `q = floor(x·scale + 0.5)` per component, squared-L2 assignment on the
    * integer grid (exact in doubles far below 2^53), and a truncating
    * integer mean (`sum / count`, toward zero — DuckDB's `//`) as the
    * centroid update. Every step is order-independent integer arithmetic,
    * so — unlike [[lloyd]]'s float averages, which drift with reduction
    * order — the whole 5-iteration fixed point is bit-exact on any engine
    * and ORACLE-checKable against an unrolled SQL replay (the
    * scaled-integer PageRank discipline applied to clustering).
    *
    * Same per-iteration scale shape as [[lloyd]]: broadcast O(k·d) codebook,
    * argmin in one fused kernel, ONE (cluster, dim) shuffle per update whose
    * k·d integer sums and counts are collected; the truncating mean is taken
    * on the driver.
    * Quantization costs ≤ 0.5/scale per component — at scale=1000 the
    * centroids of any well-separated clustering agree with the float fit.
    */
  def lloydQuantized(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, scale: Long = 1000L): Result = {
    require(k >= 1 && iters >= 1, "k and iters must be positive")
    val spark = emb.sparkSession
    import spark.implicits._
    graft.core.withPersisted(emb.select(col(idCol),
        transform(col(vecCol).cast("array<double>"),
          x => floor(x * scale + 0.5).cast("double")).as("vec"))) { q => // floor → LONG; kernel wants doubles
      var centroids: Array[Array[Double]] = q
        .orderBy(col(idCol)).limit(k)
        .select(col("vec")).as[Seq[Double]]
        .collect().map(_.toArray)

      def assigned(): DataFrame = {
        val best = nearest_centroid(col("vec"), centroids)
        q.select(col(idCol).as("id"), col("vec"), best.as("best"))
          .select($"id", $"vec", $"best.cluster".as("cluster"), $"best.dist_sq".as("dist_sq"))
      }

      for (_ <- 1 to iters) {
        // ONE shuffle: (cluster, dim) integer sums + counts; the truncating
        // mean happens on the driver over the O(k·d) collected sufficient
        // statistics — never on floats
        val next = assigned()
          .select($"cluster", posexplode($"vec").as(Seq("dim", "x")))
          .groupBy($"cluster", $"dim")
          .agg(sum($"x").cast("long").as("s"), count(lit(1)).as("n"))
          .as[(Int, Int, Long, Long)].collect()
        val updated = centroids.map(_.clone())
        next.groupBy(_._1).foreach { case (c, sn) =>
          updated(c) = sn.sortBy(_._2).map { case (_, _, s, n) => (s / n).toDouble } // trunc ≡ DuckDB //
        }
        centroids = updated
      }
      Result(assigned().drop("vec"), centroids, Seq.empty)
    }
  }
}
