package graft

import graft.sinks.{GraftTableWriter, VersionedTable}

/** Compaction ([[VersionedTable.compact]], [[VersionedTable.compactSmall]]):
  * only small-dir debris is rewritten, healthy dirs survive
  * byte-identically, sub-threshold situations are no-ops, and on
  * merge-on-read tables every version reads as it would have without the
  * rewrite, also while a stream commits beside it.
  */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def parquetBytes(dir: java.io.File): Map[String, Long] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length()).toMap

  test("compactSmall rewrites only the debris; the healthy dir survives byte-identical") {
    val p = "/tmp/graft_tables/spec_binpack"
    GraftTableWriter.drop(spark, p)
    VersionedTable.append((0L until 5000L).map(i => (i, s"v$i")).toDF("id", "v"), p)
    for (i <- 0L until 4L)
      VersionedTable.append(Seq((5000L + i, "small")).toDF("id", "v"), p)
    val snapBefore = VersionedTable.readManifestForTest(spark, p, 5)
    val bigDir = snapBefore.dirs.head
    val bigFiles = parquetBytes(new java.io.File(p, bigDir))

    val v = VersionedTable.compactSmall(spark, p, smallThresholdRows = 100,
      targetRowsPerFile = 1000)
    assert(v == 6)
    val snap = VersionedTable.readManifestForTest(spark, p, 6)
    assert(snap.dirs.size == 2, s"want [healthy, merged], got ${snap.dirs}")
    assert(snap.dirs.head == bigDir, "healthy dir must be carried, not rewritten")
    assert(parquetBytes(new java.io.File(p, bigDir)) == bigFiles,
      "healthy dir files changed")
    val got = VersionedTable.read(spark, p).as[(Long, String)].collect().toSet
    val want = (0L until 5000L).map(i => (i, s"v$i")).toSet ++
      (0L until 4L).map(i => (5000L + i, "small"))
    assert(got == want)
    // one merged dir (4 rows) is still < threshold, but a single small dir
    // is nothing to binpack: no-op, no new version
    assert(VersionedTable.compactSmall(spark, p, 100, 1000) == 6)
    assert(VersionedTable.versions(spark, p).last == 6)
  }

  test("readAsOf pins the snapshot current at a wall-clock instant") {
    val p = "/tmp/graft_tables/spec_asof_ts"
    GraftTableWriter.drop(spark, p)
    VersionedTable.overwrite(Seq((1L, "a")).toDF("id", "v"), p)
    Thread.sleep(200)
    val betweenCommits = System.currentTimeMillis()
    Thread.sleep(200)
    VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), p)
    assert(VersionedTable.versionAsOf(spark, p, betweenCommits) == 1)
    assert(VersionedTable.readAsOf(spark, p, betweenCommits)
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
    assert(VersionedTable.versionAsOf(spark, p, System.currentTimeMillis()) == 2)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.versionAsOf(spark, p, 0L) // predates all retained history
    }
    assert(e.getMessage.contains("no snapshot"))
  }

  private def dump(p: String, v: Int): Seq[(Long, String)] =
    VersionedTable.readVersion(spark, p, v).as[(Long, String)].collect().toSeq.sorted

  test("compactSmall on a MOR table reads the same as before, at every later version") {
    // the same commits on two tables; only `p` is compacted midway, so
    // each of its later versions must read as the twin's version one below
    val p = "/tmp/graft_tables/spec_binpack_mor"
    val twin = s"${p}_twin"
    val keys = Seq("id")
    Seq(p, twin).foreach(GraftTableWriter.drop(spark, _))
    def both(op: String => Any): Unit = Seq(p, twin).foreach(op)
    both(VersionedTable.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), _))
    both(VersionedTable.upsertMor(Seq((2L, "B")).toDF("id", "v"), _, keys))
    both(VersionedTable.deleteWhereKeys(Seq(Tuple1(3L)).toDF("id"), _, keys))
    both(VersionedTable.upsertMor(Seq((1L, "A"), (4L, "d")).toDF("id", "v"), _, keys))
    assert(VersionedTable.compactSmall(spark, p, 100, 1000) == 5)
    assert(dump(p, 5) == dump(p, 4))
    both(VersionedTable.upsertMor(Seq((2L, "B2"), (5L, "e")).toDF("id", "v"), _, keys))
    both(VersionedTable.deleteWhereKeys(Seq(Tuple1(1L)).toDF("id"), _, keys))
    both(VersionedTable.append(Seq((3L, "c2")).toDF("id", "v"), _))
    both(p => assert(VersionedTable.upsertMorOnce(Seq((4L, "D")).toDF("id", "v"), p, keys, 9L)))
    for (v <- 5 to 9) assert(dump(p, v) == dump(twin, v - 1), s"v$v")
    assert(dump(p, 9) == Seq((2L, "B2"), (3L, "c2"), (4L, "D"), (5L, "e")))
  }

  test("a partial compactSmall on a MOR table keeps the deletes an older dir still needs") {
    val p = "/tmp/graft_tables/spec_binpack_mor_partial"
    GraftTableWriter.drop(spark, p)
    val keys = Seq("id")
    var model = (0L until 2000L).map(i => i -> s"v$i").toMap
    val want = scala.collection.mutable.Map.empty[Int, Seq[(Long, String)]]
    def record(v: Int): Unit = want(v) = model.toSeq.sorted
    VersionedTable.upsertMor(model.toSeq.toDF("id", "v"), p, keys); record(1) // the big dir
    // small upserts that supersede some of the big dir's keys
    for (i <- 2 to 5) {
      val rows = Seq((i * 10L, s"u$i"), (i * 10L + 1, s"u$i"), (5000L + i, s"n$i"))
      VersionedTable.upsertMor(rows.toDF("id", "v"), p, keys)
      model ++= rows; record(i)
    }
    val pre = VersionedTable.readManifestForTest(spark, p, 5)
    val big = pre.dirs.head
    val small = pre.dirs.tail
    assert(VersionedTable.compactSmall(spark, p, smallThresholdRows = 100,
      targetRowsPerFile = 1000) == 6)
    record(6)
    val snap = VersionedTable.readManifestForTest(spark, p, 6)
    assert(snap.dirs.size == 2 && snap.dirs.head == big, snap.dirs)
    assert(snap.dataSeq(snap.dirs(1)) == 5, "the rewritten dir takes the sequence it read")
    // the rewritten upsert dirs still delete the big dir's older versions
    assert(snap.deletes.map(_._1).toSet == small.toSet, snap.deletes)
    VersionedTable.upsertMor(Seq((20L, "w"), (5003L, "w")).toDF("id", "v"), p, keys)
    model ++= Seq((20L, "w"), (5003L, "w")); record(7)
    VersionedTable.deleteWhereKeys(Seq(30L, 5004L, 7L).toDF("id"), p, keys)
    model --= Seq(30L, 5004L, 7L); record(8)
    for ((v, rows) <- want) assert(dump(p, v) == rows, s"v$v")
    val v8 = VersionedTable.readManifestForTest(spark, p, 8)
    assert(v8.dirs.head == big && small.toSet.subsetOf(v8.deletes.map(_._1).toSet), v8.deletes)
    assert(VersionedTable.compact(spark, p, 100000L) == 9)
    val compacted = VersionedTable.readManifestForTest(spark, p, 9)
    assert(compacted.deletes.isEmpty && compacted.dirs.size == 1, compacted)
    assert(dump(p, 9) == want(8))
    assert(VersionedTable.countFromMetadata(spark, p) == Some(want(8).size.toLong))
  }

  test("compaction after a publish or a clone reads the same: borrowed sequences stay ordered") {
    val keys = Seq("id")
    val Seq(main, branch, clone) = Seq("main", "branch", "clone")
      .map(n => s"/tmp/graft_tables/spec_compact_borrowed_$n")
    Seq(main, branch, clone).foreach(GraftTableWriter.drop(spark, _))
    def upsert(p: String, rows: (Long, String)*): Int =
      VersionedTable.upsertMor(rows.toDF("id", "v"), p, keys)
    upsert(main, (1L, "a"), (2L, "a"), (3L, "a"))
    VersionedTable.cloneAt(spark, main, branch, 1)
    upsert(branch, (1L, "b")); upsert(branch, (1L, "c"), (2L, "c")); upsert(branch, (1L, "d"))
    // main v2 lists the branch's sequences 2-4 above its own version
    assert(VersionedTable.publish(spark, branch, main, 1) == 2)
    val published = Seq((1L, "d"), (2L, "c"), (3L, "a"))
    assert(dump(main, 2) == published)
    assert(VersionedTable.compactSmall(spark, main, 100, 1000) == 3)
    assert(dump(main, 3) == published)
    // a commit after the publish supersedes the borrowed rows of its keys
    assert(upsert(main, (1L, "e"), (3L, "e")) == 4)
    val updated = Seq((1L, "e"), (2L, "c"), (3L, "e"))
    assert(dump(main, 4) == updated)
    assert(VersionedTable.compact(spark, main, 1000L) == 5)
    assert(dump(main, 5) == updated)
    assert(VersionedTable.readManifestForTest(spark, main, 5).deletes.isEmpty)
    assert(upsert(main, (2L, "f")) == 6)
    assert(dump(main, 6) == Seq((1L, "e"), (2L, "f"), (3L, "e")))
    // a clone's v1 borrows the branch's v4, sequences 1-4
    VersionedTable.cloneAt(spark, branch, clone, 4)
    assert(VersionedTable.compact(spark, clone, 1000L) == 2)
    assert(dump(clone, 2) == published)
    upsert(clone, (2L, "g")); upsert(clone, (3L, "h"))
    assert(VersionedTable.compactSmall(spark, clone, 100, 1000) == 5)
    for (v <- 4 to 5) assert(dump(clone, v) == Seq((1L, "d"), (2L, "g"), (3L, "h")), s"v$v")
  }

  test("compact and compactSmall commit beside a stream of merge-on-read upserts") {
    val p = "/tmp/graft_tables/spec_compact_beside_stream"
    GraftTableWriter.drop(spark, p)
    val keys = Seq("id")
    // unique keys within a batch, overlapping across batches
    def batch(i: Int): Seq[(Long, String)] =
      (0 until 8).map(j => ((i * 5 + j * 3) % 40).toLong -> s"b$i")
    val batches = 24
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stream = new Thread(() =>
      try (1 to batches).foreach { i =>
        assert(VersionedTable.upsertMorOnce(batch(i).toDF("id", "v"), p, keys, i.toLong))
      } catch { case e: Throwable => failure.set(e) }
      finally done.set(true))
    VersionedTable.upsertMor(batch(0).toDF("id", "v"), p, keys)
    stream.start()
    var rounds = 0
    try while (!done.get) {
      VersionedTable.compact(spark, p, 1000L)
      VersionedTable.compactSmall(spark, p, 1000L, 1000L)
      rounds += 1
    } finally stream.join()
    assert(failure.get == null, s"the stream failed: ${failure.get}")
    val model = (0 to batches).flatMap(batch).toMap
    assert(dump(p, VersionedTable.versions(spark, p).last) == model.toSeq.sorted)
    // a compaction's version drops dirs of the version below it, and reads
    // the same as that version
    val vs = VersionedTable.versions(spark, p)
    val compactions = vs.tail.filter { v =>
      val (a, b) = (VersionedTable.readManifestForTest(spark, p, v - 1),
        VersionedTable.readManifestForTest(spark, p, v))
      !a.dirs.forall(b.dirs.contains)
    }
    compactions.foreach(v => assert(dump(p, v) == dump(p, v - 1), s"compaction v$v"))
    assert(vs.size == 1 + batches + compactions.size, s"versions $vs, compactions $compactions")
    // at least one compaction committed between two stream commits
    val streamed = vs.tail.filterNot(compactions.contains)
    assert(compactions.exists(_ < streamed.max), s"no compaction ran beside the stream: $compactions")
    info(s"$rounds compaction rounds, ${compactions.size} commits beside $batches batches")
  }
}
