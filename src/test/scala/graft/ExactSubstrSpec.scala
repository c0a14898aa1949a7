package graft

import graft.operators.ExactSubstr
import org.apache.spark.sql.DataFrame

/** ExactSubstr (positional n-gram substring dedup) vs a sequential local
  * reference, plus the adversarial span-merge geometries: nested hits,
  * adjacency, within-doc repetition, and sub-threshold docs.
  */
class ExactSubstrSpec extends SparkSpec {
  import ExactSubstrSpec._

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def run(rows: Seq[(Long, String)], n: Int): Seq[(Long, Long, Long, Long)] =
    ExactSubstr.duplicateSpans(df(rows), n)
      .orderBy("doc_id", "span_start")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq

  test("matches the sequential reference on the sf0.001 documents corpus") {
    val rows = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = run(rows, 8)
    val want = reference(rows, 8)
    assert(got == want)
    assert(got.nonEmpty, "corpus has exact-dup docs; spans must be found")
  }

  test("cross-doc duplicated run is found with exact boundaries") {
    val shared = ('a' to 'j').map(c => s"w$c").mkString(" ")
    val rows = Seq(
      1L -> s"alpha beta $shared gamma delta",
      2L -> s"zeta $shared eta theta iota kappa")
    // doc 1: tokens 1..14, shared run at 3..12; doc 2: shared at 2..11
    assert(run(rows, 8) == Seq((1L, 3L, 12L, 3L), (2L, 2L, 11L, 3L)))
  }

  test("overlapping and nested hits merge into one maximal span; disjoint spans stay split") {
    val a = ('a' to 'l').map(c => s"q$c").mkString(" ")
    val b = ('a' to 'i').map(c => s"b$c").mkString(" ")
    // per-doc unique separators (> n tokens) so no gram crosses between runs
    val mid = ('a' to 'j').map(c => s"m$c").mkString(" ")
    val mid2 = ('a' to 'j').map(c => s"n$c").mkString(" ")
    val rows = Seq(
      1L -> s"$a $mid $b",
      2L -> s"$a $mid2 $b")
    val got = run(rows, 8).filter(_._1 == 1L)
    assert(got == Seq((1L, 1L, 12L, 5L), (1L, 23L, 31L, 2L)),
      s"expected two maximal spans for doc 1, got $got")
  }

  test("within-doc repetition is a duplicate even with no second document") {
    val run8 = ('a' to 'h').map(c => s"r$c").mkString(" ")
    val rows = Seq(1L -> s"$run8 pad one two three four five six seven $run8")
    val got = run(rows, 8)
    // two islands: tokens 1..8 and 17..24
    assert(got == Seq((1L, 1L, 8L, 1L), (1L, 17L, 24L, 1L)))
  }

  test("docs shorter than n emit no spans but keep a scrub row with ratio 1.0") {
    val rows = Seq(
      1L -> "tiny doc",
      2L -> (('a' to 'i').map(c => s"c$c").mkString(" ")),
      3L -> (('a' to 'i').map(c => s"c$c").mkString(" ")))
    assert(run(rows, 8).forall(_._1 != 1L))
    val scrub = ExactSubstr.scrubStats(df(rows), 8).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(scrub == Seq((1L, 2L, 0L, 1.0), (2L, 9L, 9L, 0.0), (3L, 9L, 9L, 0.0)))
  }

  test("scrub stats reconcile with the span table on the real corpus") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val spans = ExactSubstr.duplicateSpans(docs, 8)
    val scrub = ExactSubstr.scrubStats(docs, 8)
    val fromSpans = spans.groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.expr("span_end - span_start + 1")).as("dt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromScrub = scrub.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fromScrub.filter(_._2 > 0) == fromSpans)
    assert(fromScrub.values.forall(_ >= 0))
  }
}

object ExactSubstrSpec {
  /** Sequential reference: same positional-n-gram formulation, computed with
    * plain Scala collections (corpus gram multiset -> per-doc hit positions
    * -> linear maximal-span sweep). */
  def reference(rows: Seq[(Long, String)], n: Int): Seq[(Long, Long, Long, Long)] = {
    val toks = rows.map { case (id, t) => id -> "[a-z]+".r.findAllIn(t.toLowerCase).toVector }
    val gramCount = scala.collection.mutable.Map.empty[String, Int]
    for ((_, w) <- toks; i <- 0 to w.length - n)
      gramCount.updateWith(w.slice(i, i + n).mkString(" "))(c => Some(c.getOrElse(0) + 1))
    toks.flatMap { case (id, w) =>
      val hits = (0 to w.length - n)
        .filter(i => gramCount(w.slice(i, i + n).mkString(" ")) > 1)
        .map(i => (i + 1, i + n)) // 1-based inclusive
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      for ((p, e) <- hits) {
        if (spans.nonEmpty && p <= spans.last._2 + 1)
          spans(spans.length - 1) = (spans.last._1, math.max(spans.last._2, e), spans.last._3 + 1)
        else spans += ((p, e, 1))
      }
      spans.map { case (s0, e0, g) => (id, s0.toLong, e0.toLong, g.toLong) }
    }.sortBy(r => (r._1, r._2))
  }
}
