package graft

import graft.operators.KTruss

/** [[KTruss.edges]] vs a driver-side iterative-peel reference: deterministic
  * structures (clique, clique-plus-tendril, two cliques sharing an edge)
  * and randomized graphs. The truss is orientation/duplicate-insensitive.
  */
class KTrussSpec extends SparkSpec {
  import KTrussSpec._

  private def run(edges: Seq[(Long, Long)], k: Int): Set[(Long, Long)] = {
    import spark.implicits._
    KTruss.edges(edges.toDF("u", "v"), k).as[(Long, Long)].collect().toSet
  }

  test("clique, tendril pruning, shared-edge cliques") {
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    // K5 is a 5-truss (every edge in 3 triangles) but not a 6-truss
    val k5 = clique(1L to 5L)
    assert(run(k5, 5) == k5.toSet)
    assert(run(k5, 6).isEmpty)
    // a tendril hanging off the clique peels away
    val withTail = k5 ++ Seq((5L, 10L), (10L, 11L))
    assert(run(withTail, 4) == k5.toSet)
    // two K4s sharing one edge: that edge has 4 common neighbors but they
    // split across the cliques — the 4-truss keeps both cliques
    val twoK4 = clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(3L, 4L, 5L, 6L))
    assert(run(twoK4, 4) == reference(twoK4, 4))
  }

  test("randomized graphs match the iterative-peel reference") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 18
      val edges = Seq.fill(n * 5)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      for (k <- Seq(3, 4, 5))
        assert(run(edges, k) == reference(edges, k), s"trial $trial k=$k")
    }
  }

  test("reversed/duplicate input edges normalize away") {
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L), (1L, 1L))
    assert(run(e, 3) == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("graph_ktruss converges within the oracle's 6 unrolled rounds at the gated SFs") {
    // The graph_ktruss DuckDB oracle unrolls a FIXED 6 peel rounds while the
    // engine peels to fixpoint — this pins the assumption that keeps them
    // equivalent: on the gated corpora the engine must converge within 6
    // rounds (extra unrolled rounds are no-ops on a converged set, so
    // rounds <= 6 ⇒ replay-exact). If a future corpus/SF needs more rounds,
    // this fails loudly instead of the sweep diverging for a non-bug reason.
    import org.apache.spark.sql.functions._
    for (dir <- Seq("sf0.001", "sf0.01")) {
      val li = spark.read.parquet(s"${sf(dir)}/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"))
      val e = li.as("a")
        .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
        .select(least(col("a.l_partkey"), col("b.l_partkey")).as("u"),
          greatest(col("a.l_partkey"), col("b.l_partkey")).as("v"))
        .distinct()
      val rounds = KTruss.convergenceRounds(e, k = 12)
      assert(rounds <= 6, s"$dir: k-truss took $rounds rounds; the SQL oracle " +
        "unrolls only 6 — raise the oracle's rounds parameter in queries/Graph.scala")
    }
  }
}

object KTrussSpec {
  def reference(edges: Seq[(Long, Long)], k: Int): Set[(Long, Long)] = {
    var cur = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).toSet
    var done = false
    while (!done) {
      val adj = (cur.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) })
        .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
        .withDefaultValue(Set.empty[Long])
      val next = cur.filter { case (a, b) => (adj(a) & adj(b)).size >= k - 2 }
      done = next == cur
      cur = next
    }
    cur
  }
}
