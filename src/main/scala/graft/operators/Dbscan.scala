package graft.operators

import graft.core.withPersisted
import graft.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DBSCAN-style density clustering over the embedding store — the
  * NON-CENTROIDAL companion to [[KMeans]]: clusters are density-connected
  * regions of arbitrary shape, k is not chosen up front, and sparse points
  * come out as NOISE instead of being force-assigned to the nearest
  * centroid (the property k-means structurally cannot give a curation
  * pipeline hunting "is this embedding region dense enough to be a
  * near-dup family / topic cluster?").
  *
  * DETERMINISTIC canonical variant in the repo's quantized-integer
  * discipline (the kmeans_embeddings / semantic_dedup fixed point):
  *  - vectors quantize to units of 10^-3 (`floor(x·scale + 0.5)` longs);
  *    the ε-test is integer L2²: `Σ (a_i−b_i)² ≤ epsSq` — exact in both
  *    engines, no float tie ambiguity;
  *  - CORE point: ≥ `minPts` neighbors within ε (self excluded);
  *  - clusters: connected components of the core-core ε-graph
  *    ([[NearDup.connectedComponents]] min-label propagation — cluster id
  *    = min core vec_id, so labels are canonical, not visit-order
  *    dependent like textbook DBSCAN);
  *  - BORDER point: non-core with ≥ 1 core ε-neighbor — assigned to the
  *    MINIMUM cluster id among its core neighbors (textbook DBSCAN gives
  *    border ties to whichever cluster scans first; the min rule makes the
  *    output a pure function of the data);
  *  - NOISE: everything else (cluster −1).
  *
  * Two neighbor-generation paths, trading recall for scale (the
  * [[Ann.pairsAboveThreshold]] / [[Ann.lshPairs]] stance):
  *  - [[dbscanQuantized]]: the EXACT all-pairs ε-join — the oracle-checked
  *    correctness baseline, O(N²) pair space by construction;
  *  - [[dbscanBanded]]: vectors meet only inside an SRP (table, bucket)
  *    collision ([[Ann.lshPairs]] banding, LCG signs so the banding itself
  *    is SQL-replayable), survivors verified with the identical integer
  *    ε-test — the 100 TB path. Approximate in recall (an ε-pair may share
  *    no bucket, which can split a cluster or demote a core point);
  *    banded ≡ exact on dense-blob corpora is spec-checked in DbscanSpec.
  *
  * Degree counting, component propagation, and border assignment are all
  * keyed shuffles with no driver-side state.
  */
object Dbscan {

  /** Shared labeling tail over a SYMMETRIC ε-neighbor list (both
    * directions present): core rule → min-label components of the
    * core-core subgraph → min-cluster border assignment → noise. The
    * output is materialized eagerly (localCheckpoint) so callers can
    * release the neighbor list without a recompute hazard.
    */
  private def label(nbr: DataFrame, allIds: DataFrame, minPts: Int): DataFrame = {
    val core = nbr.groupBy(col("id_a")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= minPts)
      .select(col("id_a").as("cid"))
    // components over the core-core subgraph; self-pairs keep isolated core
    // points (all their ε-neighbors are border) in the node set
    val coreEdges = nbr
      .join(core.withColumnRenamed("cid", "id_a"), Seq("id_a"))
      .join(core.withColumnRenamed("cid", "id_b"), Seq("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .unionByName(core.select(col("cid").as("id_a"), col("cid").as("id_b")))
    val comp = NearDup.connectedComponents(coreEdges)
      .select(col("doc_id").as("cid"), col("component_id"))
    // border: non-core with ≥1 core ε-neighbor → min neighboring cluster id
    val border = nbr
      .join(core.withColumnRenamed("cid", "id_b"), Seq("id_b"))
      .join(core.withColumnRenamed("cid", "id_a"), Seq("id_a"), "left_anti")
      .join(comp.withColumnRenamed("cid", "id_b"), Seq("id_b"))
      .groupBy(col("id_a")).agg(min(col("component_id")).as("cluster"))
      .select(col("id_a").as("vec_id"), col("cluster"))
    val coreOut = comp.select(col("cid").as("vec_id"),
      col("component_id").as("cluster"), lit(true).as("is_core"))
    allIds
      .join(coreOut, Seq("vec_id"), "left")
      .join(border.withColumnRenamed("cluster", "bcluster"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster"), col("bcluster"), lit(-1L)).as("cluster"),
        coalesce(col("is_core"), lit(false)).as("is_core"))
      .orderBy(col("vec_id"))
      .localCheckpoint(true)
  }

  private def quantized(vectors: DataFrame, scale: Long): DataFrame =
    vectors.select(col("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => floor(x * scale + 0.5).cast("long")).as("v"))

  private def intL2Filter(pairs: DataFrame, epsSq: Long): DataFrame = pairs
    .withColumn("d2",
      aggregate(zip_with(col("va"), col("vb"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, t) => acc + t))
    .filter(col("d2") <= epsSq)
    .select(col("id_a"), col("id_b"))

  /** Exact all-pairs variant — the correctness baseline.
    * @return (vec_id, cluster, is_core) for EVERY input vector; noise rows
    *         carry cluster = −1. */
  def dbscanQuantized(vectors: DataFrame, epsSq: Long, minPts: Int,
      scale: Long = 1000L): DataFrame = {
    val q = quantized(vectors, scale)
    val a = q.select(col("vec_id").as("id_a"), col("v").as("va"))
    val b = q.select(col("vec_id").as("id_b"), col("v").as("vb"))
    // symmetric ε-neighbor list (both directions — degree and border
    // assignment read it per id_a); integer L2², no floats
    withPersisted(intL2Filter(a.join(b, col("id_a") =!= col("id_b")), epsSq))(
      label(_, vectors.select(col("vec_id")), minPts))
  }

  /** SRP-banded variant — the scale path: candidate pairs are the
    * (table, bucket) collisions of [[Ann.lshPairs]]-style sign-random-
    * projection banding (LCG sign source, seed base `seedBase`, so the
    * banding replays in SQL), verified with the IDENTICAL integer ε-test.
    * The pair space drops from N² to bucket co-occupancy and the heavy
    * join shuffles once by (table, bucket). Recall is approximate: an
    * ε-pair colliding in no table is missed, which can only DROP edges —
    * degrees never inflate, so banded core ⊆ exact core.
    */
  def dbscanBanded(vectors: DataFrame, epsSq: Long, minPts: Int,
      scale: Long = 1000L, numTables: Int = 8, numBits: Int = 4,
      seedBase: Int = 5000): DataFrame =
    bandedNeighbors(vectors, epsSq, scale, numTables, numBits, seedBase) { nbr =>
      withPersisted(nbr)(label(_, vectors.select(col("vec_id")), minPts))
    }

  /** Runs `f` on the banded symmetric ε-neighbor list (lazy) while the
    * bucket table both sides of its candidate self-join read is persisted —
    * exposed so DbscanSpec can audit the candidate join's physical plan
    * (no cartesian) pre-checkpoint. */
  private[graft] def bandedNeighbors[T](vectors: DataFrame, epsSq: Long,
      scale: Long, numTables: Int, numBits: Int, seedBase: Int)(f: DataFrame => T): T = {
    val bucketed = vectors.select(col("vec_id"),
        posexplode(array((0 until numTables).map(t =>
          sign_random_projection_poly(col("embedding"), numBits, seedBase + t)): _*)))
      .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "bucket"))
    withPersisted(bucketed) { bucketed =>
      // a ≠ b keeps BOTH directions of every collision → symmetric list.
      // Dedup on the BARE id pair first — the multi-table dedup shuffle moves
      // O(collisions) id pairs, not O(collisions × dim) quantized longs — then
      // re-attach the vectors by id for the ε-verify (two narrow equi-joins
      // AQE can broadcast when the id×vector table is small).
      val cand = bucketed.as("a").join(bucketed.as("b"), Seq("tbl", "bucket"))
        .filter(col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      val q = quantized(vectors, scale)
      val wide = cand
        .join(q.select(col("vec_id").as("id_a"), col("v").as("va")), Seq("id_a"))
        .join(q.select(col("vec_id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      f(intL2Filter(wide, epsSq))
    }
  }
}
