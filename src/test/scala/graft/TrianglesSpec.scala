package graft

import graft.operators.Triangles
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Degree-ordered wedge-join triangle counting vs known-answer graphs and a
  * brute-force triple enumeration, including the hub-skew case the degree
  * orientation exists for.
  */
class TrianglesSpec extends SparkSpec {
  import spark.implicits._

  private def edges(pairs: (Long, Long)*): DataFrame =
    pairs.toSeq.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("u", "v")

  private def count(df: DataFrame): Map[Long, Long] =
    Triangles.perNode(df).as[(Long, Long)].collect().toMap

  private def reference(df: DataFrame): Map[Long, Long] =
    TrianglesSpec.reference(df.as[(Long, Long)].collect().toSeq)

  test("K4: four triangles, every node in three") {
    val k4 = edges((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))
    assert(count(k4) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangle-free graphs produce no rows") {
    assert(count(edges((1, 2), (2, 3), (3, 4))).isEmpty) // path
    assert(count(edges((1, 2), (1, 3), (1, 4), (1, 5))).isEmpty) // star
  }

  test("two triangles sharing an edge") {
    val g = edges((1, 2), (1, 3), (2, 3), (2, 4), (3, 4))
    assert(count(g) == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("hub skew: high-degree center, triangles only among spokes") {
    // hub 100 connects to 20 spokes; one triangle among spokes {1,2,3} plus
    // hub-spoke-spoke triangles through edges (1,2),(2,3),(1,3)
    val spokes = (1L to 20L).map(s => (100L, s))
    val g = edges(spokes ++ Seq((1L, 2L), (2L, 3L), (1L, 3L)): _*)
    val got = count(g)
    assert(got == reference(g), s"got $got")
    // the orientation must not explode the hub: spot the exact expectation
    // {1,2,3} triangle + 3 triangles (hub, a, b) for each spoke edge
    assert(got(100L) == 3L && got(1L) == 3L && got(2L) == 3L && got(3L) == 3L)
  }

  test("matches brute force on a pseudo-random graph") {
    val rnd = (1 to 300).map { i =>
      val a = (i * 7919L) % 40; val b = (i * 104729L) % 40
      (a, b)
    }.filter { case (a, b) => a != b }
    val g = edges(rnd: _*)
    assert(count(g) == reference(g))
  }

  test("matches brute force on the sf0.001 co-purchase graph") {
    val li = core.table(spark, sf("sf0.001"), "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val e = li.as("a")
      .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") =!= col("b.l_partkey"))
      .select(least(col("a.l_partkey"), col("b.l_partkey")).as("u"),
        greatest(col("a.l_partkey"), col("b.l_partkey")).as("v"))
      .distinct()
    val got = count(e)
    assert(got == reference(e))
    assert(got.nonEmpty, "co-purchase graph should contain triangles")
  }
}

object TrianglesSpec {
  /** Brute force: enumerate all vertex triples over the collected edge set. */
  def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.map { case (a, b) => Set(a, b) }.toSet
    val nodes = es.flatten.toSeq.sorted
    val tri = for {
      i <- nodes.indices; j <- i + 1 until nodes.size; k <- j + 1 until nodes.size
      (a, b, c) = (nodes(i), nodes(j), nodes(k))
      if es(Set(a, b)) && es(Set(b, c)) && es(Set(a, c))
    } yield Seq(a, b, c)
    tri.flatten.groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
  }
}
