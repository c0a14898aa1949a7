package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-TRUSS extraction — the TRIANGLE-supported cohesion subgraph, one rung
  * stronger than [[KCore]]'s degree rule: the maximal subgraph in which
  * every edge participates in at least k−2 triangles (within the
  * subgraph). Degree counts friends; truss counts friends-in-common — the
  * community-backbone / spam-subgraph primitive (an edge survives only if
  * its endpoints share enough neighbors that also survive).
  *
  * Iterative peel to the fixpoint: per round, per-edge triangle SUPPORT via
  * the degree-ordered wedge join ([[Triangles]]' skew-safe shape — oriented
  * out-degrees are O(√m), wedges O(m^1.5) worst case regardless of hubs),
  * each triangle crediting its three canonical edges, then edges under
  * k−2 peel. Every step is an equi-join or keyed aggregate; iterates are
  * [[Checkpointer]]-truncated and retired; a loud round cap guards the
  * pathological cascade. Support-0 edges (no triangle at all) drop in
  * round one, since k ≥ 3 ⇒ k−2 ≥ 1.
  */
object KTruss {

  /** @param edges0 undirected edges (u, v); orientation/duplicates/self
    *                loops normalized away.
    * @return the k-truss edge set, canonical (u < v), ordered. */
  def edges(edges0: DataFrame, k: Int, checkpointDir: Option[String] = None,
      maxRounds: Int = 50): DataFrame =
    peel(edges0, k, checkpointDir, maxRounds)._1

  /** Number of peeling rounds [[edges]] takes to reach the fixpoint —
    * exposed so the unrolled-round oracle replays (graph_ktruss pins 6
    * rounds in SQL while the engine peels to fixpoint) can ASSERT the
    * engine converges within their unroll count at every gated SF instead
    * of trusting a measured-once comment (KTrussSpec). */
  def convergenceRounds(edges0: DataFrame, k: Int,
      maxRounds: Int = 50): Int =
    peel(edges0, k, None, maxRounds)._2

  private def peel(edges0: DataFrame, k: Int, checkpointDir: Option[String],
      maxRounds: Int): (DataFrame, Int) = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val ckpt = new Checkpointer(checkpointDir)
    var e = ckpt(edges0.select(
        least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    var n = e.count()
    var rounds = 0
    var converged = n == 0
    while (!converged) {
      rounds += 1
      require(rounds <= maxRounds,
        s"k-truss did not converge in $maxRounds peeling rounds")
      val next = Triangles.withTriangles(e) { tri =>
        ckpt(e.join(support(tri), Seq("u", "v"))
          .filter(col("cnt") >= (k - 2).toLong)
          .select(col("u"), col("v")))
      }
      val n2 = next.count()
      ckpt.retire(e)
      converged = n2 == n || n2 == 0
      e = next
      n = n2
    }
    (e.orderBy("u", "v"), rounds)
  }

  /** Per-edge triangle support over canonical edges (u < v): each
    * triangle of [[Triangles.withTriangles]] explodes to its three canonical
    * edges, counted. Only edges with support ≥ 1 appear. */
  private def support(tri: DataFrame): DataFrame =
    tri.select(explode(array(
        struct(least(col("c"), col("u")).as("u"), greatest(col("c"), col("u")).as("v")),
        struct(least(col("c"), col("v")).as("u"), greatest(col("c"), col("v")).as("v")),
        struct(col("u").as("u"), col("v").as("v")))).as("ed"))
      .select(col("ed.u").as("u"), col("ed.v").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cnt"))
}
