package graft

import graft.operators.Kmv
import org.apache.spark.sql.functions._

/** Bottom-k (KMV) sketch: exact recovery when unsaturated, bounded error when
  * saturated, union closure, and partitioning-independence of the
  * distributed build — the guarantees `approx_distinct_intersection` rests
  * on in place of a SQL oracle.
  */
class KmvSpec extends SparkSpec {
  import spark.implicits._

  private val K = 64

  /** Distributed sketch build — same pipeline as the driver query. */
  private def sketchOf(ids: Seq[Long], parts: Int = 8): Array[Long] =
    ids.toDF("id").repartition(parts)
      .select(xxhash64($"id").as("h")).distinct()
      .agg(graft.functions.topk_pairs($"h", $"h", K).as("tk"))
      .head().getSeq[org.apache.spark.sql.Row](0).map(_.getLong(0)).toArray.sorted

  test("unsaturated sketch recovers the exact distinct count") {
    val s = sketchOf(Seq(1L, 2L, 3L, 2L, 1L, 42L))
    assert(s.length == 4)
    assert(Kmv.estimate(s, K) == 4.0)
  }

  test("saturated estimate is within 30% of the true cardinality") {
    for (n <- Seq(200, 1000, 5000)) {
      val s = sketchOf((1L to n.toLong).map(_ * 7919L))
      assert(s.length == K)
      val est = Kmv.estimate(s, K)
      assert(math.abs(est - n) / n < 0.30, s"n=$n est=$est")
    }
  }

  test("union of sketches equals the sketch of the union (mergeability)") {
    val a = (1L to 500L).map(_ * 13L)
    val b = (300L to 900L).map(_ * 13L) // overlaps a
    val merged = Kmv.union(sketchOf(a), sketchOf(b), K)
    val direct = sketchOf((a ++ b).distinct)
    assert(merged.toSeq == direct.toSeq,
      "bottom-k must be closed under union — merged and directly-built sketches differ")
  }

  test("intersection estimate tracks the true overlap") {
    val a = (1L to 1000L)
    val b = (601L to 1600L) // |A ∩ B| = 400, |A ∪ B| = 1600
    val (j, inter) = Kmv.intersection(sketchOf(a), sketchOf(b), K)
    assert(j > 0.05 && j < 0.6, s"jaccard estimate $j implausible for true 0.25")
    assert(math.abs(inter - 400.0) / 400.0 < 0.5, s"intersection estimate $inter vs true 400")
    // disjoint sets: exactly zero (no union-sketch hash can be in both)
    val (j0, i0) = Kmv.intersection(sketchOf(1L to 500L), sketchOf(10001L to 10500L), K)
    assert(j0 == 0.0 && i0 == 0.0)
  }

  test("sketch build is partitioning-independent") {
    val ids = (1L to 3000L).map(_ * 31L)
    assert(sketchOf(ids, parts = 2).toSeq == sketchOf(ids, parts = 32).toSeq)
  }

  test("native xxhash64 path: estimates within 35% of exact on events") {
    // the full-range-hash production pipeline (double-math estimators),
    // kept as Relational.approxDistinctIntersectionNative since the
    // registered row flipped to the replayable integer twin (r14)
    val d = sf("sf0.001")
    val out = graft.queries.Relational.approxDistinctIntersectionNative(spark, d).collect()
    assert(out.nonEmpty)
    val exact = core.eventsTable(spark, d).select($"event_type", $"user_id").distinct()
      .collect().groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getLong(1)).toSet }
    out.foreach { r =>
      val (ta, tb) = (r.getString(0), r.getString(1))
      val (sa, sb) = (exact(ta), exact(tb))
      def ok(est: Long, truth: Int, what: String): Unit =
        assert(truth == 0 && est == 0 || math.abs(est - truth).toDouble / math.max(truth, 1) < 0.35,
          s"$ta x $tb $what: est=$est truth=$truth")
      ok(r.getLong(2), sa.size, "est_a")
      ok(r.getLong(3), sb.size, "est_b")
      ok(r.getLong(4), (sa ++ sb).size, "est_union")
      ok(r.getLong(5), (sa & sb).size, "est_inter")
    }
  }

  test("driver query: estimates within 35% of exact on events, deterministic") {
    val d = sf("sf0.001")
    val out = SparkEntry.queries("approx_distinct_intersection")(spark, d).collect()
    assert(out.nonEmpty)
    val exact = core.eventsTable(spark, d).select($"event_type", $"user_id").distinct()
      .collect().groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getLong(1)).toSet }
    out.foreach { r =>
      val (ta, tb) = (r.getString(0), r.getString(1))
      val (sa, sb) = (exact(ta), exact(tb))
      def ok(est: Long, truth: Int, what: String): Unit =
        assert(truth == 0 && est == 0 || math.abs(est - truth).toDouble / math.max(truth, 1) < 0.35,
          s"$ta x $tb $what: est=$est truth=$truth")
      ok(r.getLong(2), sa.size, "est_a")
      ok(r.getLong(3), sb.size, "est_b")
      ok(r.getLong(4), (sa ++ sb).size, "est_union")
      ok(r.getLong(5), (sa & sb).size, "est_inter")
    }
    val again = SparkEntry.queries("approx_distinct_intersection")(spark, d).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq, "estimates must be deterministic")
  }

  test("the LCG oracle twin tracks ground truth like the xxhash production row (r13)") {
    // kmv_intersection_replayable swaps xxhash64 for the SQL-replayable
    // LCG-mod-Mersenne hash; KMV only needs hash uniformity, so its
    // estimates must satisfy the same error envelope against exact truth
    val d = sf("sf0.001")
    val out = SparkEntry.queries("kmv_intersection_replayable")(spark, d)
      .as[(String, String, Long, Long, Long)].collect()
    assert(out.length == 10)
    val ev = core.eventsTable(spark, d).select($"event_type", $"user_id").distinct()
    val exact = ev.collect().groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getLong(1)).toSet }
    out.foreach { case (ta, tb, nBoth, estU, estI) =>
      val (sa, sb) = (exact(ta), exact(tb))
      assert(nBoth >= 0L && nBoth <= 64L && estI <= estU)
      val truthU = (sa ++ sb).size
      assert(math.abs(estU - truthU).toDouble / math.max(truthU, 1) < 0.35,
        s"$ta x $tb union: est=$estU truth=$truthU")
      val truthI = (sa & sb).size
      assert(truthI == 0 && estI <= truthU / 8 ||
        math.abs(estI - truthI).toDouble / math.max(truthI, 1) < 0.5,
        s"$ta x $tb inter: est=$estI truth=$truthI")
    }
  }
}
