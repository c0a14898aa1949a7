package graft

import graft.core._
import graft.operators.{Ann, Sq8}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recall of the approximate ANN paths against the exact brute-force top-K,
  * plus exactness/determinism properties of the brute-force baseline. */
class AnnSpec extends SparkSpec {
  import spark.implicits._
  import AnnSpec._

  private lazy val emb = core.table(spark, sf("sf0.01"), "embeddings")
  private lazy val queries = emb.filter($"vec_id" < 10)
  private lazy val cands = emb.filter($"vec_id" >= 10)

  private def topkSets(df: DataFrame): Map[Long, Set[Long]] =
    df.select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private def recallVsExact(approx: DataFrame, k: Int): Double = {
    val exact = topkSets(Ann.bruteForceTopK(queries, cands, k))
    val got = topkSets(approx)
    val per = exact.map { case (q, truth) =>
      got.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    per.sum / per.size
  }

  test("brute-force top-k is deterministic and correctly ranked") {
    val r1 = Ann.bruteForceTopK(queries, cands, 5).collect()
    val r2 = Ann.bruteForceTopK(queries, cands, 5).collect()
    assert(r1.toSeq == r2.toSeq)
    // ranks within each query strictly ordered by (cosine desc, neighbor_id)
    r1.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(hi, lo) =>
          val (ch, cl) = (hi.getDouble(3), lo.getDouble(3))
          assert(ch > cl || (ch == cl && hi.getLong(2) < lo.getLong(2)))
        case _ =>
      }
    }
  }

  test("LSH ANN recall@5 beats random-candidate baseline by a wide margin") {
    val recall = recallVsExact(Ann.lshTopK(queries, cands, 5), 5)
    // 490 candidates, top-5: random buckets would land ~1% recall.
    assert(recall >= 0.3, s"LSH recall@5 = $recall")
    // the poly (LCG, SQL-replayable) sign source — the registered ann_lsh
    // path since its r9 oracle promotion — is the same LSH family and must
    // clear the same recall floor
    val polyRecall = recallVsExact(
      Ann.lshTopK(queries, cands, 5, polySigns = true), 5)
    assert(polyRecall >= 0.3, s"poly-sign LSH recall@5 = $polyRecall")
  }

  test("multi-probe LSH recall@5 >= same-table-budget plain LSH, above the floor") {
    // Same 4-table × 4-bit budget: multi-probe adds the Hamming-1 probes on
    // the query side only, so its candidate set is a superset of plain
    // LSH's per table — recall can only rise for the same index memory.
    // poly signs on both sides: the registered query path since the r9
    // oracle promotion, and an apples-to-apples same-budget comparison
    val plain = recallVsExact(Ann.lshTopK(queries, cands, 5,
      numTables = 4, numBits = 4, polySigns = true), 5)
    val multi = recallVsExact(Ann.lshMultiProbeTopK(queries, cands, 5,
      numTables = 4, numBits = 4, polySigns = true), 5)
    assert(multi >= plain, s"multi-probe $multi < plain $plain")
    assert(multi >= 0.3, s"multi-probe recall@5 = $multi")
  }

  test("SQ8 ANN recall@5 is near-exact (int8 error is per-element, not per-subspace)") {
    val recall = recallVsExact(Sq8.topK(queries, cands, 5), 5)
    // max-abs int8 quantization perturbs each element by <= scale/254, so the
    // approximate order rarely strays outside a 4x-deep shortlist; this floor
    // is far above what LSH/IVF/PQ manage on the same weakly-similar corpus
    assert(recall >= 0.85, s"SQ8 recall@5 = $recall")
  }

  test("SQ8 ANN is deterministic and its codes respect the int8 range") {
    val r1 = Sq8.topK(queries, cands, 5).collect().toSeq
    val r2 = Sq8.topK(queries, cands, 5).collect().toSeq
    assert(r1 == r2)
    val codes = Sq8.quantize(cands, "embedding")
      .select(explode($"sq8_codes").as("c")).as[Byte].collect()
    assert(codes.forall(c => c >= -127 && c <= 127), "codes must fit [-127, 127]")
    assert(codes.exists(c => math.abs(c.toInt) > 100),
      "max-abs scaling must use most of the int8 range")
  }

  test("IVF ANN recall@5 beats random-candidate baseline by a wide margin") {
    val recall = recallVsExact(
      Ann.ivfTopK(queries, cands, Ann.centroids(emb), 5), 5)
    assert(recall >= 0.3, s"IVF recall@5 = $recall")
  }

  test("SRP-banded pairs recall a majority of the exact tau-pairs") {
    val exact = Ann.pairsAboveThreshold(emb, 0.45)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val banded = Ann.lshPairs(emb, 0.45, polySigns = true) // the registered path (r9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(banded.subsetOf(exact), "banded pairs must be exact-verified")
    val recall = banded.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"banded pair recall = $recall")
  }

  test("banded kNN graph: edges are a subset of true-cosine edges with bounded recall loss") {
    val k = 3
    val exact = topkSets(Ann.knnGraphExact(emb, k))
    // poly (LCG) signs: the registered knn_graph_lsh path since its r9
    // oracle promotion — the recall floor audits the same variant
    val banded = Ann.knnGraphLsh(emb, k, polySigns = true)
    // every banded edge carries the TRUE cosine (verification is exact) and
    // ranks only co-bucketed peers, so per-node neighbors are a plausible
    // subset; recall is the quality metric
    val got = topkSets(banded)
    val perNode = exact.map { case (q, truth) =>
      got.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val recall = perNode.sum / perNode.size
    // 500 nodes, top-3 of 499: random candidates would land < 2% recall
    assert(recall >= 0.3, s"banded kNN graph recall@3 = $recall")
    // determinism: seeded SRP tables make the graph rerun-stable
    assert(banded.collect().toSeq ==
      Ann.knnGraphLsh(emb, k, polySigns = true).collect().toSeq)
  }

  test("pairsAboveThreshold matches per-pair cosine recomputation") {
    val rows = Ann.pairsAboveThreshold(emb, 0.45).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(2) >= 0.45))
  }

  test("semantic dedup equals an independent local replay (cosine + union-find)") {
    val kept = Ann.semanticDedup(emb, 0.45, k = 8, iters = 3)
      .as[(Long, Int)].collect().toMap
    // independent replay: engine cluster assignments (themselves verified in
    // KMeansSpec), then local fixed-order cosine + union-find over
    // within-cluster pairs, min id kept per component
    val assigns = graft.operators.KMeans.lloyd(emb, "vec_id", "embedding", 8, 3)
      .assignments.select($"id", $"cluster").as[(Long, Int)].collect().toMap
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    assert(kept.keySet == keptByReplay(assigns, vecs)(cosine(_, _) >= 0.45))
    assert(kept.size < vecs.size, "the sf0.01 corpus has near-dup pairs; some drops expected")
    kept.foreach { case (id, cl) => assert(assigns(id) == cl) }
  }

  test("semantic dedup leaves no cached frame behind for the caller") {
    // its input persist and lloyd's own cache are both released by the
    // time the result is collected
    val kept = Ann.semanticDedup(emb, 0.45, k = 8, iters = 3).collect()
    assert(kept.nonEmpty)
    assert(spark.sharedState.cacheManager.isEmpty,
      "semanticDedup left a cached frame in the session's cache manager")
  }

  test("quantized semantic dedup equals an independent local integer replay") {
    // the oracle-checked r8 variant: quantized Lloyd clusters + the
    // division-free integer cosine admission; replayed here with plain
    // BigInt union-find, independent of the engine's join/components code
    val kept = graft.operators.Ann
      .semanticDedupQuantized(emb, tauNumSq = 2025L, tauDenSq = 10000L, k = 8, iters = 3)
      .as[(Long, Int)].collect().toMap
    val assigns = graft.operators.KMeans
      .lloydQuantized(emb, "vec_id", "embedding", 8, 3)
      .assignments.select($"id", $"cluster").as[(Long, Int)].collect().toMap
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    assert(kept.keySet == keptByReplay(assigns, vecs)(admitQuantized(_, _, 2025L, 10000L)))
    assert(kept.size < vecs.size, "the corpus has near-dup pairs; some drops expected")
    kept.foreach { case (id, cl) => assert(assigns(id) == cl) }
  }

  test("semantic dedup bounds per-task pair work under an adversarial skewed codebook") {
    // Worst-case skew: k = 1 puts the WHOLE corpus in one cluster. Without
    // the sub-split this is the all-pairs N² shape again (one straggler task
    // computing n·(n-1)/2 cosines); with it, members meet only inside a
    // (cluster, table, bucket) SRP collision.
    val n = emb.count()
    val allPairs = n * (n - 1) / 2
    val cap = 64
    val kept = Ann.semanticDedup(emb, 0.45, k = 1, iters = 1, maxClusterSize = cap)
      .as[(Long, Int)].collect()

    // The banded pair space, measured with the engine's own bucketing (same
    // seeds): per-task candidate pairs are bucket-occupancy-choose-2.
    val taskPairs = emb.select($"vec_id",
        posexplode(array((0 until 8).map(t =>
          graft.functions.sign_random_projection($"embedding", 4, seed = Ann.SemDedupSubSeed + t)): _*)))
      .groupBy($"pos", $"col").count()
      .select(($"count" * ($"count" - 1) / 2).cast("long").as("pairs"))
      .as[Long].collect()
    assert(taskPairs.max < allPairs / 4,
      s"hot-cluster sub-split failed: max per-task pairs ${taskPairs.max} vs all-pairs $allPairs")

    // Soundness survives the banding: every dropped doc has a KEPT witness
    // with true cosine >= tau (k = 1, so the cluster constraint is vacuous).
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0; val m = math.min(a.length, b.length)
      while (i < m) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; nx += x * x; ny += y * y; i += 1
      }
      val denom = math.sqrt(nx) * math.sqrt(ny)
      if (denom == 0.0) 0.0 else dot / denom
    }
    val keptIds = kept.map(_._1).toSet
    val droppedIds = vecs.keySet -- keptIds
    assert(droppedIds.nonEmpty, "adversarial run should still find near-dups to drop")
    // What connectedComponents actually guarantees is TRANSITIVE: a dropped
    // doc's component representative is kept, but its only direct >=tau
    // neighbor may itself be dropped (chain a—b—c keeps only a). So the
    // soundness assertion is reachability through the >=tau pair graph to a
    // kept doc — not a direct kept witness, which is corpus-dependent and
    // can flake if the embedding corpus or SRP seeds change.
    val parent2 = scala.collection.mutable.HashMap.empty[Long, Long]
    def find2(x: Long): Long = {
      val p = parent2.getOrElse(x, x)
      if (p == x) x else { val r = find2(p); parent2(x) = r; r }
    }
    val allIds = vecs.keys.toSeq.sorted
    for (i <- allIds.indices; j <- i + 1 until allIds.length) {
      val (a, b) = (allIds(i), allIds(j))
      if (cos(vecs(a), vecs(b)) >= 0.45) {
        val (ra, rb) = (find2(a), find2(b))
        if (ra != rb) parent2(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val keptRoots = keptIds.map(find2)
    droppedIds.foreach { d =>
      assert(keptRoots.contains(find2(d)),
        s"dropped $d has no kept doc reachable through the >=tau pair graph")
    }

    // Seeded SRP tables keep the banded path rerun-deterministic.
    val again = Ann.semanticDedup(emb, 0.45, k = 1, iters = 1, maxClusterSize = cap)
      .as[(Long, Int)].collect()
    assert(kept.toSeq == again.toSeq)
  }

  test("embedding_label_outliers: quantized-integer replay from the raw vectors") {
    val got = SparkEntry.queries("embedding_label_outliers")(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Long)].collect()
    val vecs = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .selectExpr("vec_id", "CAST(label AS BIGINT)", "CAST(embedding AS ARRAY<DOUBLE>)")
      .as[(Long, Long, Seq[Double])].collect()
      .map { case (id, l, v) =>
        (id, l, v.map(x => math.floor(x * 1000 + 0.5).toLong).toArray)
      }
    val byLabel = vecs.groupBy(_._2)
    val want = byLabel.toSeq.flatMap { case (label, vs) =>
      val dims = vs.head._3.length
      val cent = (0 until dims).map { d =>
        val s = vs.map(_._3(d)).sum; val n = vs.length.toLong
        if (s >= 0) s / n else -((-s) / n)
      }
      vs.map { case (id, _, q) =>
        val d2 = q.zip(cent).map { case (v, c) => (v - c) * (v - c) }.sum
        (label, id, d2)
      }.sortBy { case (_, id, d2) => (-d2, id) }
        .take(5).zipWithIndex
        .map { case ((l, id, d2), i) => (l, id, d2, (i + 1).toLong) }
    }.sortBy(r => (r._1, r._4))
    assert(got.toSeq == want)
    assert(got.nonEmpty && got.map(_._1).distinct.length > 1)
  }
}

object AnnSpec {
  /** Fixed-order float cosine, as the engine's kernel computes it. */
  def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0; val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; nx += x * x; ny += y * y; i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** The quantized admission test, cos ≥ τ with τ² = tauNumSq/tauDenSq, in
    * BigInt arithmetic on the e3 grid. */
  def admitQuantized(a: Seq[Float], b: Seq[Float], tauNumSq: Long, tauDenSq: Long): Boolean = {
    def qz(v: Seq[Float]): Seq[BigInt] = v.map(x => BigInt(math.floor(x.toDouble * 1000L + 0.5).toLong))
    val (qa, qb) = (qz(a), qz(b))
    val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
    dot > 0 && dot * dot * tauDenSq >= tauNumSq * qa.map(x => x * x).sum * qb.map(x => x * x).sum
  }

  /** Semantic-dedup replay: union-find over the same-cluster pairs that
    * `linked` admits; each component keeps its minimum id. */
  def keptByReplay(assigns: Map[Long, Int], vecs: Map[Long, Seq[Float]])(
      linked: (Seq[Float], Seq[Float]) => Boolean): Set[Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val ids = vecs.keys.toSeq.sorted
    for (i <- ids.indices; j <- i + 1 until ids.length) {
      val (a, b) = (ids(i), ids(j))
      if (assigns(a) == assigns(b) && linked(vecs(a), vecs(b))) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    ids.filter(id => find(id) == id).toSet
  }
}
