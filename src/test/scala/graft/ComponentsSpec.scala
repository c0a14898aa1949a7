package graft

import graft.operators.NearDup

/** Graph cases for the connected-components dedup grouping: hand-built
  * shapes, edge cases, and a seeded random graph against a union-find replay. */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("min-label propagation finds components of chains, stars and isolated pairs") {
    // chain 1-2-3-4, star 10-{11,12,13}, pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L)).toDF("id_a", "id_b")
    val got = NearDup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L)
    assert(got == expected)
  }

  test("a long path still converges (diameter > iteration-1)") {
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = NearDup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(got == (1L to 12L).map(_ -> 1L).toMap)
  }

  /** Local union-find replay: every node that appears in a pair → the
    * smallest id reachable from it. */
  private def replay(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("a seeded random graph of stars, a long path and isolated pairs matches union-find") {
    val rnd = new scala.util.Random(20231017)
    val ids = rnd.shuffle((1L to 1000L).toList).iterator // ids unordered along each shape
    val path = Seq.fill(40)(ids.next())
    val pathPairs = path.zip(path.tail)
    val starPairs = (1 to 16).flatMap { _ =>
      val hub = ids.next()
      Seq.fill(4 + rnd.nextInt(11))(ids.next()).map(leaf => (hub, leaf))
    }
    val isolated = (1 to 45).map(_ => (ids.next(), ids.next()))
    val used = (pathPairs ++ starPairs ++ isolated).flatMap(p => Seq(p._1, p._2)).distinct
    // a few random bridges merge some of the shapes
    val bridges = Seq.fill(15)((used(rnd.nextInt(used.size)), used(rnd.nextInt(used.size))))
    val pairs = rnd.shuffle(pathPairs ++ starPairs ++ isolated ++ bridges)
    val got = NearDup.connectedComponents(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect()
    assert(got.map(_._1).toSeq == got.map(_._1).sorted.toSeq, "rows are ordered by doc_id")
    assert(got.toMap == replay(pairs))
    assert(got.length == used.size)
  }

  test("an empty pair set yields no rows") {
    val got = NearDup.connectedComponents(Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(got.collect().isEmpty)
  }

  test("duplicate, reversed and self-loop pairs do not change the components") {
    val pairs = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (5L, 4L), (4L, 5L), (5L, 5L))
    val got = NearDup.connectedComponents(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect()
    assert(got.toSeq == Seq(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 4L))
    assert(got.toMap == replay(pairs))
  }

  test("Int-typed ids keep their type through the propagation") {
    val pairs = Seq((3, 1), (1, 2), (7, 9), (9, 8)).toDF("id_a", "id_b")
    val out = NearDup.connectedComponents(pairs)
    assert(out.schema.map(_.dataType) ==
      Seq(org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.IntegerType))
    assert(out.as[(Int, Int)].collect().toSeq ==
      Seq(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7, 8 -> 7, 9 -> 7))
  }
}
