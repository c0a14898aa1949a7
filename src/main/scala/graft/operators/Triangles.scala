package graft.operators

import graft.core.withPersisted
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting via the degree-ordered wedge join — the
  * standard shape for counting at scale (Suri & Vassilvitskii's MR-friendly
  * formulation): orient every undirected edge from its (degree, id)-smaller
  * endpoint to the larger, form wedges only from a node's OUT-edges, and
  * close each wedge against the canonical edge set.
  *
  * Why this survives skew: a hub with degree D would naively generate
  * O(D²) wedges; degree orientation caps every node's out-degree at
  * O(√m) (a node keeps an out-edge only toward HIGHER-degree neighbors, and
  * at most √(2m) nodes have degree ≥ √(2m)), so total wedge count is
  * ≤ O(m^1.5) regardless of the degree distribution, and the hub's fan-out
  * collapses to whichever few neighbors out-rank it. Every step is an
  * equi-join or keyed aggregation — no cross product, no driver state.
  *
  * Orientation uses (deg, id) lexicographic order, so ties are broken
  * deterministically and each triangle is produced by EXACTLY one wedge
  * (the one centered at its order-minimal vertex).
  */
object Triangles {

  /** Per-node triangle counts over an undirected simple graph given as
    * canonical edges (`u` < `v`, distinct). Returns (node, n_triangles) for
    * every node in at least one triangle.
    */
  def perNode(edges: DataFrame): DataFrame =
    withTriangles(edges) { triangles =>
      triangles
        .select(explode(array(col("c"), col("u"), col("v"))).as("node"))
        .groupBy(col("node"))
        .agg(count(lit(1)).as("n_triangles"))
        .localCheckpoint()
    }

  /** Runs `f` on the triangles of canonical `edges`, one (c, u, v) row per
    * triangle with `c` its order-minimal vertex and u < v. The oriented
    * edge frame both wedge sides read is persisted while `f` runs. */
  private[operators] def withTriangles[T](edges: DataFrame)(f: DataFrame => T): T = {
    val deg = edges.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

    // orient u->v iff (deg(u), u) < (deg(v), v)
    val oriented = edges
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))

    withPersisted(oriented) { oriented =>
      // wedges from out-edge pairs at a common center; t1 < t2 dedups the pair
      val wedges = oriented.as("a")
        .join(oriented.as("b"),
          col("a.s") === col("b.s") && col("a.t") < col("b.t"))
        .select(col("a.s").as("c"),
          least(col("a.t"), col("b.t")).as("u"),
          greatest(col("a.t"), col("b.t")).as("v"))
      // close against the CANONICAL edges (equi-join — an OR-of-orientations
      // join would degrade to nested-loop)
      f(wedges.join(edges, Seq("u", "v")))
    }
  }
}
