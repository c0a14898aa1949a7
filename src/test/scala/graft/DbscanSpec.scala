package graft

import graft.operators.Dbscan

/** Dbscan.dbscanQuantized ≡ an independent local replay (quantize →
  * ε-neighbor lists → core rule → union-find over core-core edges →
  * min-cluster border assignment), plus the DBSCAN semantic invariants.
  */
class DbscanSpec extends SparkSpec {
  import DbscanSpec._
  import spark.implicits._

  test("distributed DBSCAN equals the sequential union-find replay") {
    for (seed <- Seq(11, 23)) {
      val vecs = mkVecs(120, 8, seed)
      val df = vecs.toDF("vec_id", "embedding")
      val epsSq = 40000L // (0.2 * 1000)^2 per-dim budget over 8 dims
      val got = Dbscan.dbscanQuantized(df, epsSq, minPts = 3)
        .as[(Long, Long, Boolean)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val want = localReplay(vecs, epsSq, minPts = 3, scale = 1000L)
      assert(got == want, s"seed $seed: ${got.toSeq.diff(want.toSeq).take(5)}")
    }
  }

  test("semantic invariants: cluster ids, noise, border rules") {
    val vecs = mkVecs(120, 8, 7)
    val df = vecs.toDF("vec_id", "embedding")
    val rows = Dbscan.dbscanQuantized(df, 40000L, minPts = 3)
      .as[(Long, Long, Boolean)].collect()
    assert(rows.length == 120, "every input vector present exactly once")
    val clustered = rows.filter(_._2 >= 0)
    assert(clustered.nonEmpty && rows.exists(_._2 == -1L),
      "the test corpus must produce both clusters and noise")
    // a cluster's id is the min core vec_id inside it
    clustered.groupBy(_._2).foreach { case (cl, members) =>
      val coreMembers = members.filter(_._3).map(_._1)
      assert(coreMembers.nonEmpty, s"cluster $cl has no core point")
      assert(coreMembers.min == cl, s"cluster $cl id is not its min core id")
    }
    // noise is never core
    assert(rows.filter(_._2 == -1L).forall(!_._3))
  }

  /** Pure tight blobs, centers pushed away from the origin: every ε-pair is
    * intra-blob with a small ANGLE (SRP is an angular hash — L2-close pairs
    * with near-origin norms can straddle hyperplanes, which is exactly the
    * recall trade the demote-only test below covers on the noisy corpus). */

  test("banded DBSCAN equals exact on the dense-blob corpus") {
    // tight blobs → intra-blob directions nearly identical → every ε-pair
    // collides in at least one of 16 SRP tables; deterministic LCG signs
    // make this a standing equivalence, not a flaky sample
    for (seed <- Seq(11, 23)) {
      val vecs = mkBlobs(120, 8, seed)
      val df = vecs.toDF("vec_id", "embedding")
      val exact = Dbscan.dbscanQuantized(df, 40000L, minPts = 3)
        .as[(Long, Long, Boolean)].collect().sortBy(_._1)
      val banded = Dbscan.dbscanBanded(df, 40000L, minPts = 3,
          numTables = 16, numBits = 4)
        .as[(Long, Long, Boolean)].collect().sortBy(_._1)
      assert(banded.sameElements(exact),
        s"seed $seed: ${banded.toSeq.diff(exact.toSeq).take(5)}")
    }
  }

  test("banded neighbor recall: missed edges only ever demote, never invent") {
    // at the default 8 tables a banded edge is always a true ε-pair
    // (exact verify inside collisions), so banded core ⊆ exact core and
    // every banded non-noise vector is non-noise in the exact run too
    val vecs = mkVecs(120, 8, 7)
    val df = vecs.toDF("vec_id", "embedding")
    val exact = Dbscan.dbscanQuantized(df, 40000L, minPts = 3)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    val banded = Dbscan.dbscanBanded(df, 40000L, minPts = 3)
      .as[(Long, Long, Boolean)].collect()
    banded.foreach { case (id, cl, core) =>
      if (core) assert(exact(id)._3, s"banded invented core point $id")
      if (cl >= 0) assert(exact(id)._2 >= 0, s"banded invented cluster member $id")
    }
  }

  test("banded candidate join is a hash join on (table, bucket), no cartesian") {
    val df = mkVecs(60, 8, 3).toDF("vec_id", "embedding")
    val plan = Dbscan.bandedNeighbors(df, 40000L, 1000L, 8, 4, 5000)(
      _.queryExecution.executedPlan.toString)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }
}

object DbscanSpec {
  def localReplay(vecs: Seq[(Long, Seq[Float])], epsSq: Long,
      minPts: Int, scale: Long): Map[Long, (Long, Boolean)] = {
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * scale + 0.5).toLong)
    }.toMap
    def d2(a: Long, b: Long): Long =
      q(a).zip(q(b)).map { case (x, y) => (x - y) * (x - y) }.sum
    val ids = vecs.map(_._1)
    val nbrs = ids.map(a => a -> ids.filter(b => b != a && d2(a, b) <= epsSq)).toMap
    val core = ids.filter(a => nbrs(a).size >= minPts).toSet
    // union-find over core-core edges
    val parent = scala.collection.mutable.Map(core.toSeq.map(c => c -> c): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    for (a <- core; b <- nbrs(a) if core(b)) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comp = core.map(c => c -> find(c)).toMap
    // min-label canonicalization: find() roots are already the min of each
    // tree because union always points the larger root at the smaller
    ids.map { a =>
      if (core(a)) a -> (comp(a), true)
      else {
        val coreNbrs = nbrs(a).filter(core)
        if (coreNbrs.nonEmpty) a -> (coreNbrs.map(comp).min, false)
        else a -> (-1L, false)
      }
    }.toMap
  }

  def mkVecs(n: Int, dim: Int, seed: Int): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    // a few dense blobs + uniform noise, the shape DBSCAN is for
    val centers = Seq.fill(3)(Seq.fill(dim)(rnd.nextFloat() * 2 - 1))
    (0 until n).map { i =>
      val v =
        if (i % 4 == 3) Seq.fill(dim)(rnd.nextFloat() * 2 - 1) // noise-ish
        else centers(i % 3).map(c => (c + (rnd.nextFloat() - 0.5f) * 0.1f))
      (i.toLong, v.map(_.toFloat))
    }
  }

  def mkBlobs(n: Int, dim: Int, seed: Int): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    val centers = Seq.fill(3) {
      val c = Seq.fill(dim)(rnd.nextFloat() * 2 - 1)
      val norm = math.sqrt(c.map(x => x * x).sum)
      c.map(x => (x / norm * 1.5).toFloat)
    }
    (0 until n).map { i =>
      (i.toLong, centers(i % 3).map(c => c + (rnd.nextFloat() - 0.5f) * 0.06f))
    }
  }
}
