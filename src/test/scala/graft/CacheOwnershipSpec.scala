package graft

import graft.functions._
import graft.operators._
import graft.sinks.{ConstrainedWrite, GraftTableWriter}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cache ownership, one row per operator or query that persists a frame it
  * reads more than once (`core.withPersisted`): the session's cache manager
  * is empty when the call returns and again once its result is collected,
  * so no cached plan outlives the call or gets substituted into a later
  * query. Each row also checks the result against the reference its own
  * spec uses.
  */
class CacheOwnershipSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = core.table(spark, sf("sf0.001"), "documents")
  private lazy val emb = core.table(spark, sf("sf0.01"), "embeddings")
  private lazy val small = core.table(spark, sf("sf0.001"), "embeddings")
  private lazy val queries = small.filter($"vec_id" < 10)
  private lazy val cands = small.filter($"vec_id" >= 10)

  private def cache = spark.sharedState.cacheManager

  /** One row: `call` runs the operator and returns its result frame;
    * `check` compares the collected rows with the expected result. */
  private def owns(name: String)(call: => DataFrame)(check: Array[Row] => Unit): Unit =
    test(s"$name: no cached frame after it returns or after its result is collected") {
      assert(cache.isEmpty, "the cache manager was not empty before the call")
      val result = call
      assert(cache.isEmpty, s"$name returned with a frame in the cache manager")
      val rows = result.collect()
      assert(cache.isEmpty, s"collecting $name's result left a frame in the cache manager")
      check(rows)
    }

  private def pairs(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet

  private def neighbors(rows: Array[Row]): Map[Long, Set[Long]] =
    rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }

  private def vecsOf(df: DataFrame): Map[Long, Seq[Float]] =
    df.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap

  // ---- the operators that returned a lazy frame over a persisted one ----

  owns("Ann.lshPairs")(Ann.lshPairs(emb, 0.45, polySigns = true)) { rows =>
    val exact = pairs(Ann.pairsAboveThreshold(emb, 0.45).collect())
    assert(pairs(rows).subsetOf(exact), "banded pairs must be exact-verified")
    assert(pairs(rows).size >= exact.size * 0.5, s"${pairs(rows).size} of ${exact.size}")
  }

  owns("Ann.knnGraphLsh")(Ann.knnGraphLsh(emb, 3, polySigns = true)) { rows =>
    val (exact, got) = (neighbors(Ann.knnGraphExact(emb, 3).collect()), neighbors(rows))
    val recall = exact.map { case (q, truth) =>
      got.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }.sum / exact.size
    assert(recall >= 0.3, s"banded kNN graph recall@3 = $recall")
  }

  owns("NearDup.exactJaccardPairs")(NearDup.exactJaccardPairs(docs, 0.5)) { rows =>
    assert(pairs(rows) == NearDupSpec.bruteJaccard(docs, 0.5))
  }

  owns("NearDup.minhashLshPairs")(NearDup.minhashLshPairs(docs, 0.5)) { rows =>
    assert(pairs(rows) == NearDupSpec.bruteJaccard(docs, 0.5))
  }

  owns("NearDup.simhashPairs")(NearDup.simhashPairs(docs, 3)) { rows =>
    val hs = docs.select($"doc_id", simhash64(ascii_tokens($"text")).as("h"))
    val brute = hs.select($"doc_id".as("id_a"), $"h".as("ha"))
      .crossJoin(hs.select($"doc_id".as("id_b"), $"h".as("hb")))
      .filter($"id_a" < $"id_b" && bit_count($"ha".bitwiseXOR($"hb")) <= 3)
    assert(pairs(rows) == pairs(brute.collect()))
  }

  private val graph: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(5)
    Seq.fill(150)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct
  }

  owns("Triangles.perNode")(Triangles.perNode(graph.toDF("u", "v"))) { rows =>
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap == TrianglesSpec.reference(graph))
  }

  owns("ExactSubstr.duplicateSpans")(ExactSubstr.duplicateSpans(docs, 8)) { rows =>
    val corpus = docs.select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._1, r._2)).toSeq == ExactSubstrSpec.reference(corpus, 8))
  }

  private val blobs = DbscanSpec.mkBlobs(120, 8, 11)

  owns("Dbscan.dbscanBanded")(Dbscan.dbscanBanded(blobs.toDF("vec_id", "embedding"),
      40000L, minPts = 3, numTables = 16, numBits = 4)) { rows =>
    assert(rows.map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap ==
      DbscanSpec.localReplay(blobs, 40000L, minPts = 3, scale = 1000L))
  }

  owns("pipeline_training_data")(
      SparkEntry.queries("pipeline_training_data")(spark, sf("sf0.001"))) { rows =>
    // the keep-first-of-each-normalized-text dedup as a window, then the
    // per-language rollup on the driver
    val kept = docs
      .select($"doc_id", $"lang", normalize_text($"text").as("norm"),
        size(ascii_tokens($"text")).as("n_words"),
        size(regexp_extract_all($"text", lit(bpeIshPattern), lit(0))).cast("long").as("bpe"))
      .filter($"n_words" >= 10)
      .withColumn("first", min($"doc_id").over(Window.partitionBy("norm")))
      .filter($"doc_id" === $"first")
      .select($"doc_id", $"lang", $"bpe").as[(Long, String, Long)].collect()
    val embedded = small.select($"vec_id").as[Long].collect().toSet
    val want = kept.groupBy(_._2).toSeq.sortBy(_._1).map { case (lang, ds) =>
      (lang, ds.length.toLong, ds.map(_._3).sum, ds.count(d => embedded(d._1)).toLong,
        ds.map(_._1).min, ds.map(_._1).max)
    }
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5))).toSeq == want)
  }

  // ---- the operators that already released, now through withPersisted ----

  owns("ConstrainedWrite.append") {
    val base = "/tmp/graft_cache_ownership_cw"
    GraftTableWriter.drop(spark, s"$base/t"); GraftTableWriter.drop(spark, s"$base/q")
    val df = Seq((7L, 1L), (101L, 2L), (8L, -1L), (200L, -5L)).toDF("k", "v")
    Seq(ConstrainedWrite.append(df, s"$base/t", s"$base/q",
      Seq("v_pos" -> (col("v") > 0), "k_small" -> (col("k") < 100L)))).toDF("acc", "quar")
  } { rows => assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 3L))) }

  owns("KMeans.lloyd")(KMeans.lloyd(small, "vec_id", "embedding", 6, 2).assignments) { rows =>
    // the reliable-checkpoint input path never persists: bit-identical fit
    val dir = "/tmp/graft_cache_ownership_ckpt"
    GraftTableWriter.drop(spark, dir)
    val reliable = KMeans.lloyd(small, "vec_id", "embedding", 6, 2, checkpointDir = Some(dir))
    assert(rows.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1).toSeq ==
      reliable.assignments.as[(Long, Int, Double)].collect().sortBy(_._1).toSeq)
  }

  {
    var centroids = Array.empty[Array[Double]]
    owns("KMeans.lloydQuantized") {
      val r = KMeans.lloydQuantized(small, "vec_id", "embedding", 6, 2)
      centroids = r.centroids
      r.assignments
    } { rows =>
      val q = vecsOf(small).map { case (id, v) => id -> v.map(x => math.floor(x * 1000.0 + 0.5)) }
      rows.foreach { r =>
        val d2 = centroids.map(c => q(r.getLong(0)).zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
        assert(r.getInt(1) == d2.indexOf(d2.min), s"vec ${r.getLong(0)} is not at its nearest centroid")
      }
    }
  }

  owns("Ann.semanticDedup")(Ann.semanticDedup(emb, 0.45, k = 8, iters = 3)) { rows =>
    val assigns = KMeans.lloyd(emb, "vec_id", "embedding", 8, 3)
      .assignments.select($"id", $"cluster").as[(Long, Int)].collect().toMap
    assert(rows.map(_.getLong(0)).toSet ==
      AnnSpec.keptByReplay(assigns, vecsOf(emb))(AnnSpec.cosine(_, _) >= 0.45))
  }

  owns("Ann.semanticDedupQuantized")(Ann.semanticDedupQuantized(emb,
      tauNumSq = 2025L, tauDenSq = 10000L, k = 8, iters = 3)) { rows =>
    val assigns = KMeans.lloydQuantized(emb, "vec_id", "embedding", 8, 3)
      .assignments.select($"id", $"cluster").as[(Long, Int)].collect().toMap
    assert(rows.map(_.getLong(0)).toSet ==
      AnnSpec.keptByReplay(assigns, vecsOf(emb))(AnnSpec.admitQuantized(_, _, 2025L, 10000L)))
  }

  owns("Pq.train")(Pq.encode(cands, Pq.train(cands, m = 8, k = 16, iters = 2))) { rows =>
    assert(rows.length == cands.count())
    rows.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.size == 8 && codes.forall(c => c >= 0 && c < 16), s"codes $codes")
    }
  }

  owns("Pq.ivfPq")(Pq.ivfPq(queries, cands, m = 8, k = 16, iters = 3, topK = 5,
      coarseK = 8, nprobe = 4)) { rows =>
    val model = Pq.train(cands, m = 8, k = 16, iters = 3)
    val twoPhase = Pq.ivfAdcTopK(queries, cands, model, k = 5, coarseK = 8,
      coarseIters = 3, nprobe = 4).collect()
    def ranked(rs: Array[Row]) = rs.map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"))).toSeq
    assert(ranked(rows) == ranked(twoPhase))
  }

  owns("Pq.ivfPqQuantized")(Pq.ivfPqQuantized(queries, cands, m = 8, k = 16, iters = 3,
      topK = 5, coarseK = 8, nprobe = 4)) { rows =>
    val exact = Ann.bruteForceTopKQuantized(queries, cands, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val got = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert((exact & got).size >= exact.size * 0.6, s"recall@5 ${(exact & got).size} of ${exact.size}")
  }

  private val mmrVecs = MmrSpec.vecs(7, 40, 6)

  owns("Ann.mmrDiversifiedTopK") {
    val (qs, cs) = mmrVecs.partition(_._1 < 3)
    Ann.mmrDiversifiedTopK(qs.toDF("vec_id", "embedding"), cs.toDF("vec_id", "embedding"),
      shortlist = 12, k = 5)
  } { rows =>
    val (qs, cs) = mmrVecs.partition(_._1 < 3)
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      Option(r.get(4)).map(_.asInstanceOf[Long]), Option(r.get(5)).map(_.asInstanceOf[Long])))
    assert(got.toSeq.sortBy(r => (r._1, r._2)) ==
      MmrSpec.replay(qs, cs, shortlist = 12, k = 5).sortBy(r => (r._1, r._2)))
  }

  private val digraph = Seq[(Long, Long)]((1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (3, 4))

  owns("PageRank.run")(PageRank.run(digraph.toDF("src", "dst"), 6, PageRankSpec.Scale)) { rows =>
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap == PageRankSpec.replay(digraph, 6))
  }

  private val trussGraph = {
    val k5 = for (a <- 1L to 5L; b <- 1L to 5L if a < b) yield (a, b)
    k5 ++ Seq[(Long, Long)]((5, 6), (6, 7), (5, 7), (7, 8))
  }

  owns("KTruss.edges")(KTruss.edges(trussGraph.toDF("u", "v"), 4)) { rows =>
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == KTrussSpec.reference(trussGraph, 4))
  }

  private val dbVecs = DbscanSpec.mkVecs(120, 8, 11)

  owns("Dbscan.dbscanQuantized")(Dbscan.dbscanQuantized(dbVecs.toDF("vec_id", "embedding"),
      40000L, minPts = 3)) { rows =>
    assert(rows.map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap ==
      DbscanSpec.localReplay(dbVecs, 40000L, minPts = 3, scale = 1000L))
  }
}
