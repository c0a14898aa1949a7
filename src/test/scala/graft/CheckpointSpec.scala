package graft

import graft.operators.{Bfs, KMeans, NearDup, PageRank}
import org.apache.spark.sql.functions._

/** Reliable-checkpoint mode for the iterative operators: with a
  * `checkpointDir`, every lineage-truncation point goes through
  * `SparkContext.setCheckpointDir` + `Dataset.checkpoint` (survives executor
  * loss on a cluster) instead of `localCheckpoint` (executor-local blocks,
  * lost with their executor). The strategy changes WHERE the iterate is
  * materialized, never its value — each operator must produce BIT-IDENTICAL
  * results in both modes, and the reliable run must actually write
  * checkpoint data under the given directory.
  */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_ckpt/$tag"
    val root = java.nio.file.Paths.get(d)
    if (java.nio.file.Files.exists(root)) {
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    d
  }

  private def filesUnder(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else java.nio.file.Files.walk(root)
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
  }

  private val rnd = new scala.util.Random(42)
  private val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    .filter { case (a, b) => a != b }

  test("PageRank.run: reliable checkpoint is bit-identical and writes to the dir") {
    val dir = freshDir("pagerank")
    val local = PageRank.run(edges.toDF("src", "dst"), 4)
      .as[(Long, Long)].collect().toSeq
    val reliable = PageRank.run(edges.toDF("src", "dst"), 4,
        checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toSeq
    assert(local == reliable)
    assert(filesUnder(dir) > 0, "reliable mode must materialize under the dir")
  }

  test("PageRank.personalized: reliable checkpoint is bit-identical") {
    val dir = freshDir("ppr")
    val seeds = Seq(1L, 2L).toDF("node")
    val local = PageRank.personalized(edges.toDF("src", "dst"), seeds, 4)
      .as[(Long, Long)].collect().toSeq
    val reliable = PageRank.personalized(edges.toDF("src", "dst"),
        Seq(1L, 2L).toDF("node"), 4, checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toSeq
    assert(local == reliable)
    assert(filesUnder(dir) > 0)
  }

  test("Bfs.shortestPaths and weightedShortestPaths: reliable mode bit-identical") {
    val dir = freshDir("bfs")
    val e = edges.toDF("src", "dst")
    val src = Seq(0L, 1L).toDF("node")
    val local = Bfs.shortestPaths(e, src, 4)
      .as[(Long, Long)].collect().toSet
    val reliable = Bfs.shortestPaths(e, Seq(0L, 1L).toDF("node"), 4,
        checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toSet
    assert(local == reliable)
    val we = edges.map { case (a, b) => (a, b, (a + b) % 7 + 1) }
      .toDF("src", "dst", "w")
    val wLocal = Bfs.weightedShortestPaths(we, src, 4)
      .as[(Long, Long)].collect().toSet
    val wReliable = Bfs.weightedShortestPaths(we, Seq(0L, 1L).toDF("node"), 4,
        checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toSet
    assert(wLocal == wReliable)
    assert(filesUnder(dir) > 0)
  }

  test("NearDup.connectedComponents: reliable mode bit-identical") {
    val dir = freshDir("cc")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (10L, 11L), (11L, 12L))
      .toDF("id_a", "id_b")
    val local = NearDup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toSeq
    val reliable = NearDup.connectedComponents(pairs, Some(dir))
      .as[(Long, Long)].collect().toSeq
    assert(local == reliable)
    assert(filesUnder(dir) > 0)
  }

  private def rddDirsUnder(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Seq.empty
    else {
      val it = java.nio.file.Files.walk(root).iterator()
      val out = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("rdd-")) out += p.toString
      }
      out.toSeq
    }
  }

  test("retire: superseded iterates are deleted — checkpoint dir stays bounded") {
    // Without retire, PageRank leaves one rdd-* dir per truncation point
    // plus the static frames: O(iters) growth, exactly what a multi-hour
    // 100 TB iterate cannot afford (Spark only deletes checkpoints itself
    // when spark.cleaner.referenceTracking.cleanCheckpoints is on). With
    // retire, what remains is independent of iteration count: the two
    // static frames (eDeg, base) plus AT MOST one live truncation point
    // (this graph is dangling-free — the r11 lazy path checkpoints only
    // every 8th iteration and retires the superseded point).
    val dir = freshDir("retire")
    val r = PageRank.run(edges.toDF("src", "dst"), 20, checkpointDir = Some(dir))
    r.count() // materialize the (lazy) final projection before counting dirs
    val remaining = rddDirsUnder(dir)
    assert(remaining.size == 3,
      s"expected 3 surviving checkpoints (2 static + the live truncation " +
        s"point) after 20 iterations, got ${remaining.size}: $remaining")
    // and the result itself must still be readable from its files
    assert(r.count() > 0)
  }

  test("KMeans.lloyd: reliable input checkpoint leaves the fit bit-identical") {
    val dir = freshDir("kmeans")
    val vecRnd = new scala.util.Random(7)
    val emb = (1L to 60L).map(i =>
      (i, Array.fill(8)(vecRnd.nextInt(100).toDouble))).toDF("id", "vec")
    val local = KMeans.lloyd(emb, "id", "vec", 4, 3)
    val reliable = KMeans.lloyd(emb, "id", "vec", 4, 3,
        checkpointDir = Some(dir))
    assert(local.centroids.map(_.toSeq).toSeq ==
      reliable.centroids.map(_.toSeq).toSeq)
    assert(local.inertia == reliable.inertia)
    assert(local.assignments.as[(Long, Int, Double)].collect().sortBy(_._1).toSeq ==
      reliable.assignments.as[(Long, Int, Double)].collect().sortBy(_._1).toSeq)
    assert(filesUnder(dir) > 0)
  }

  test("staging a layout never switches AQE off for a concurrent reader of the session") {
    // Checkpointer.staged plans its frame with AQE off; that must stay a
    // conf of the staging thread, not a session-wide flip another query sees
    val key = "spark.sql.adaptive.enabled"
    val sawOff = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var staging = true
    val reader = new Thread(() =>
      while (staging) if (spark.conf.get(key) == "false") sawOff.set(true))
    reader.start()
    try {
      val edges = Seq[(Long, Long)]((1, 2), (2, 3), (3, 1), (3, 4)).toDF("src", "dst")
      for (_ <- 1 to 3) PageRank.run(edges, 2).collect()
    } finally { staging = false; reader.join() }
    assert(spark.conf.get(key) == "true")
    assert(!sawOff.get, s"a concurrent reader saw $key=false while PageRank staged")
  }
}
