package graft

import graft.operators.Ann
import org.apache.spark.sql.functions._

/** Ann.mmrDiversifiedTopK: the unrolled greedy max-min MMR equals a
  * sequential per-query replay (quantize → shortlist → greedy picks with
  * the exact score and tie rules), picks are distinct, and round 1 is pure
  * relevance.
  */
class MmrSpec extends SparkSpec {
  import MmrSpec._
  import spark.implicits._

  test("unrolled greedy equals the sequential per-query replay") {
    val all = vecs(7, 40, 6)
    val (qs, cs) = all.partition(_._1 < 3)
    val qDf = qs.toDF("vec_id", "embedding")
    val cDf = cs.toDF("vec_id", "embedding")
    val got = Ann.mmrDiversifiedTopK(qDf, cDf, shortlist = 12, k = 5)
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().toSeq.sortBy(r => (r._1, r._2))
    val want = replay(qs, cs, shortlist = 12, k = 5)
      .sortBy(r => (r._1, r._2))
    assert(got == want)
  }

  test("picks are distinct per query, k rounds each, round 1 is the nearest") {
    val all = vecs(23, 30, 5)
    val (qs, cs) = all.partition(_._1 < 4)
    val out = Ann.mmrDiversifiedTopK(qs.toDF("vec_id", "embedding"),
        cs.toDF("vec_id", "embedding"), shortlist = 10, k = 4)
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])].collect()
    val byQ = out.groupBy(_._1)
    assert(byQ.size == 4)
    byQ.foreach { case (qid, rows) =>
      assert(rows.length == 4)
      assert(rows.map(_._3).distinct.length == 4, s"duplicate pick for query $qid")
      val first = rows.find(_._2 == 1L).get
      // round 1 = min (d2, id) over the full candidate set
      val q = quant(qs.find(_._1 == qid).get._2)
      val nearest = cs.map { case (cid, cv) => (cid, d2(q, quant(cv))) }
        .minBy { case (cid, dd) => (dd, cid) }
      assert(first._3 == nearest._1 && first._4 == nearest._2)
      assert(first._5.isEmpty && first._6.isEmpty)
    }
  }

  test("diversification bites: a tight near-duplicate cluster is not over-picked") {
    // 1 query at origin; 5 near-IDENTICAL candidates at radius² ≈ 20000
    // (e3 units) + spread candidates at radius² ≈ 40000 in different
    // directions. Plain top-3 takes three near-dups; under the MMR score
    // 3·div − 7·d2q a second dup scores ≈ −140000 (div ≈ 0) while a spread
    // candidate at div ≥ 80000 scores ≥ −40000 — so at most ONE dup
    // survives the greedy.
    val q = Seq((100L, Seq(0f, 0f)))
    val dup = (0 until 5).map(i => (i.toLong, Seq(0.1f + i * 0.0002f, 0.1f)))
    val far = Seq((10L, Seq(0f, -0.2f)), (11L, Seq(-0.2f, 0f)),
      (12L, Seq(0.2f, 0.2f)), (13L, Seq(0.28f, 0f)), (14L, Seq(0f, 0.28f)))
    val out = Ann.mmrDiversifiedTopK(q.toDF("vec_id", "embedding"),
        (dup ++ far).toDF("vec_id", "embedding"), shortlist = 10, k = 3)
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])].collect()
    val picked = out.map(_._3).toSet
    assert(picked.count(_ < 10L) == 1, s"picked $picked — over-picked the dup cluster")
    assert(picked.count(_ >= 10L) == 2, s"picked $picked — no spread candidates")
  }

  test("lambda outside [0,1] fails loudly instead of inverting the diversity term (r14)") {
    val q = Seq((0L, Array.fill(4)(0.5))).toDF("vec_id", "embedding")
    val c = (1L to 8L).map(i => (i, Array.fill(4)(i / 8.0))).toDF("vec_id", "embedding")
    // lamNum > lamDen flips the sign of (lamDen - lamNum); lamDen <= 0 is nonsense
    intercept[IllegalArgumentException](
      Ann.mmrDiversifiedTopK(q, c, shortlist = 4, k = 2, lamNum = 11L, lamDen = 10L))
    intercept[IllegalArgumentException](
      Ann.mmrDiversifiedTopK(q, c, shortlist = 4, k = 2, lamNum = 1L, lamDen = 0L))
    intercept[IllegalArgumentException](
      Ann.mmrDiversifiedTopK(q, c, shortlist = 4, k = 2, lamNum = -1L, lamDen = 10L))
  }
}

object MmrSpec {
  val lamNum = 7L; private val lamDen = 10L; private val scale = 1000L

  def quant(v: Seq[Float]): Seq[Long] =
    v.map(x => math.floor(x.toDouble * scale + 0.5).toLong)

  def d2(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  /** Sequential greedy replay of the operator's contract. */
  def replay(queries: Seq[(Long, Seq[Float])],
      cands: Seq[(Long, Seq[Float])], shortlist: Int, k: Int)
      : Seq[(Long, Long, Long, Long, Option[Long], Option[Long])] =
    queries.flatMap { case (qid, qv) =>
      val q = quant(qv)
      val sl = cands.map { case (cid, cv) => (cid, quant(cv)) }
        .map { case (cid, cv) => (cid, cv, d2(q, cv)) }
        .sortBy { case (cid, _, dd) => (dd, cid) }
        .take(shortlist)
      var selected = Vector((sl.head._1, sl.head._2, sl.head._3, Option.empty[Long], Option.empty[Long]))
      for (_ <- 2 to k) {
        val rem = sl.filterNot(c => selected.exists(_._1 == c._1))
        val scored = rem.map { case (cid, cv, dq) =>
          val div = selected.map(s => d2(cv, s._2)).min
          (cid, cv, dq, div, (lamDen - lamNum) * div - lamNum * dq)
        }
        val pick = scored.minBy { case (cid, _, _, _, sc) => (-sc, cid) }
        selected = selected :+ ((pick._1, pick._2, pick._3, Some(pick._4), Some(pick._5)))
      }
      selected.zipWithIndex.map { case ((cid, _, dq, div, sc), i) =>
        (qid, i + 1L, cid, dq, div, sc)
      }
    }

  def vecs(seed: Int, n: Int, dim: Int): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 2f - 1f)))
  }
}
