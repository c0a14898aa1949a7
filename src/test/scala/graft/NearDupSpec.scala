package graft

import graft.core._
import graft.functions._
import graft.operators.NearDup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The banded/filtered near-dup paths must equal brute force exactly —
  * the prefix/position-filter bounds and the pigeonhole banding are proved
  * here against O(N²) references on the sf0.001 corpus.
  */
class NearDupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = core.table(spark, sf("sf0.001"), "documents")

  private def bruteJaccard(minJ: Double): Set[(Long, Long)] = NearDupSpec.bruteJaccard(docs, minJ)

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet

  test("prefix+position-filtered exact Jaccard equals brute force") {
    for (tau <- Seq(0.3, 0.5, 0.8)) {
      assert(pairsOf(NearDup.exactJaccardPairs(docs, tau)) == bruteJaccard(tau),
        s"mismatch at tau=$tau")
    }
  }

  test("minhash LSH with exact verification equals brute force at tau=0.5") {
    assert(pairsOf(NearDup.minhashLshPairs(docs, 0.5)) == bruteJaccard(0.5))
  }

  test("property: PPJoin equals brute force on random small-vocab corpora") {
    // adversarial shape for the prefix filter: a tiny vocabulary makes every
    // shingle hot and pushes pair Jaccards onto the tau boundary, where an
    // unsound position/length bound drops true pairs (the bug class the
    // r2 memory records). Fixed seed - deterministic.
    import org.scalacheck.{Gen => G}
    import org.scalacheck.rng.Seed
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val docGen = G.chooseNum(1, 12).flatMap(n => G.listOfN(n, G.oneOf(vocab)))
      .map(_.mkString(" "))
    for (round <- 1 to 3) {
      val texts = G.listOfN(40, docGen)
        .pureApply(G.Parameters.default, Seed(round * 101L))
      val corpus = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      for (tau <- Seq(0.34, 0.5, 0.72)) {
        assert(pairsOf(NearDup.exactJaccardPairs(corpus, tau)) == NearDupSpec.bruteJaccard(corpus, tau),
          s"round=$round tau=$tau")
      }
    }
  }

  test("simhash banded pairs equal brute-force Hamming pairs") {
    val hs = docs.select($"doc_id", simhash64(ascii_tokens($"text")).as("h"))
    val a = hs.select($"doc_id".as("id_a"), $"h".as("ha"))
    val b = hs.select($"doc_id".as("id_b"), $"h".as("hb"))
    // includes k where (k+1) does NOT divide 64 — the truncated-chunk trap:
    // a last chunk that drops 64 % chunks bits would admit pairs whose true
    // 64-bit Hamming exceeds k
    for (k <- Seq(1, 2, 3, 4, 5, 7)) {
      val brute = a.crossJoin(b).filter($"id_a" < $"id_b")
        .filter(bit_count($"ha".bitwiseXOR($"hb")) <= k)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(pairsOf(NearDup.simhashPairs(docs, k)) == brute, s"mismatch at k=$k")
    }
  }

  test("near-dup output jaccard values are internally consistent") {
    val rows = NearDup.exactJaccardPairs(docs, 0.5)
      .select($"n_common", $"n_union", $"jaccard").as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty, "sf0.001 corpus should contain planted near-dups")
    rows.foreach { case (c, u, j) =>
      assert(j == c.toDouble / u && j >= 0.5 && c <= u)
    }
  }
}

object NearDupSpec {
  /** O(N²) reference: cross-join + exact set Jaccard. */
  def bruteJaccard(docs: DataFrame, minJ: Double): Set[(Long, Long)] = {
    val sets = NearDup.shingled(docs)
    val a = sets.select(col("doc_id").as("id_a"), col("shingles").as("sa"))
    val b = sets.select(col("doc_id").as("id_b"), col("shingles").as("sb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("double").as("c"),
        (size(col("sa")) + size(col("sb"))).cast("double").as("t"))
      .filter(col("c") / (col("t") - col("c")) >= minJ)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }
}
