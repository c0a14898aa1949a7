package graft

import graft.operators.PageRank
import org.apache.spark.sql.functions._

/** PageRank invariants: the distributed fixed-point equals an independent
  * local replay of the same scaled-integer recurrence (including dangling
  * redistribution), mass stays conserved up to integer-floor loss, and
  * reruns are bit-identical.
  */
class PageRankSpec extends SparkSpec {
  import PageRankSpec._
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    PageRank.run(edges.toDF("src", "dst"), iters, Scale)
      .as[(Long, Long)].collect().toMap

  test("matches the sequential replay on a graph WITH dangling nodes") {
    // 4 -> sink (no out-edges): exercises the dangling-mass redistribution
    val edges = Seq[(Long, Long)]((1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (3, 4))
    assert(run(edges, 5) == replay(edges, 5))
  }

  test("matches the replay on a denser random digraph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(400)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }
    assert(run(edges, 4) == replay(edges, 4))
  }

  test("mass is conserved up to integer-floor loss, and a hub outranks leaves") {
    // star: every leaf points at the hub, hub points back at leaf 1
    val edges = (2L to 20L).map(l => (l, 1L)) :+ ((1L, 2L))
    val r = run(edges, 6)
    val total = r.values.sum
    // every DIV can only lose mass; it can never create it
    assert(total <= Scale)
    assert(total > (Scale * 9) / 10, s"lost >10% of mass: $total")
    assert(r(1L) > r(3L) * 5, s"hub should dominate: ${r(1L)} vs ${r(3L)}")
  }

  test("reruns are bit-identical (integer arithmetic has no reduction-order drift)") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    assert(run(edges, 3) == run(edges, 3))
  }

  // ---- personalized (random walk with restart) ----------------------------

  /** The seed-restricted recurrence, sequentially: teleport and dangling
    * mass go only to `sources` (∩ nodes), everything else as [[replay]]. */
  private def replayPpr(edges: Seq[(Long, Long)], sources: Seq[Long],
      iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val deg = e.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
    val srcs = sources.distinct.filter(nodes.contains).toSet
    val m = srcs.size.toLong
    val init = Scale / m
    val tele = (15L * init) / 100L
    var r: Map[Long, Long] = nodes.map(v => v -> (if (srcs(v)) init else 0L)).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(deg.contains).map(r).sum
      val infl = e.groupBy(_._2).map { case (d, in) =>
        d -> in.map { case (s, _) => r(s) / deg(s) }.sum
      }
      r = nodes.map { v =>
        val restart = if (srcs(v)) tele else 0L
        val dShare = if (srcs(v)) dang / m else 0L
        v -> (restart + (85L * (infl.getOrElse(v, 0L) + dShare)) / 100L)
      }.toMap
    }
    r
  }

  private def runPpr(edges: Seq[(Long, Long)], sources: Seq[Long],
      iters: Int): Map[Long, Long] =
    PageRank.personalized(edges.toDF("src", "dst"), sources.toDF("node"), iters, Scale)
      .as[(Long, Long)].collect().toMap

  test("personalized: matches the sequential replay, dangling mass returns to seeds") {
    // 4 is a sink: its mass must flow back to the seed set, not uniformly
    val edges = Seq[(Long, Long)]((1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (3, 4))
    assert(runPpr(edges, Seq(1L), 5) == replayPpr(edges, Seq(1L), 5))
  }

  test("personalized: matches the replay on a random digraph with multiple seeds") {
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(400)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }
    val seeds = Seq(0L, 1L, 2L, 99L) // 99 absent from the graph: must be ignored
    assert(runPpr(edges, seeds, 4) == replayPpr(edges, seeds, 4))
  }

  test("personalized: nodes unreachable from the seeds rank 0, locality holds") {
    // Two disjoint cycles; seeding in the first must leave the second at 0.
    // Seed-outranks-neighbor is a CONVERGENCE property: on a 3-cycle the mass
    // oscillates for small iteration counts (at iters=4, r(2) > r(1)), so we
    // run to iters=20 where the fixed point (r1≈0.389 > r2≈0.330) has settled,
    // and pin the exact values against the sequential replay as well.
    val c1 = Seq[(Long, Long)]((1, 2), (2, 3), (3, 1))
    val c2 = Seq[(Long, Long)]((10, 11), (11, 12), (12, 10))
    val iters = 20
    val r = runPpr(c1 ++ c2, Seq(1L), iters)
    assert(r == replayPpr(c1 ++ c2, Seq(1L), iters))
    assert(Seq(10L, 11L, 12L).forall(r(_) == 0L), s"leaked mass: $r")
    assert(r(1L) > r(2L), "seed should outrank its downstream neighbor at convergence")
  }
}

object PageRankSpec {
  val Scale = 1000000000000L

  /** The same recurrence, sequentially: ranks in a Map, integer ops only. */
  def replay(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val deg = e.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
    var r: Map[Long, Long] = nodes.map(_ -> Scale / n).toMap
    val base = (15L * (Scale / n)) / 100L
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(deg.contains).map(r).sum
      val infl = e.groupBy(_._2).map { case (d, in) =>
        d -> in.map { case (s, _) => r(s) / deg(s) }.sum
      }
      r = nodes.map(v => v -> (base + (85L * (infl.getOrElse(v, 0L) + dang / n)) / 100L)).toMap
    }
    r
  }
}
