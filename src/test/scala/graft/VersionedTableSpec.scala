package graft

import graft.sinks.{GraftTableWriter, VersionedTable}
import org.apache.spark.sql.functions._

/** Snapshot semantics of the versioned table format: immutable data dirs,
  * rename-as-commit manifests, time travel, isolation of pinned readers,
  * append-without-rewrite, schema evolution, snapshot expiry, and optimistic
  * concurrency between racing committers.
  */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def fileBytes(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val out = scala.collection.mutable.Map[String, Seq[Byte]]()
    java.nio.file.Files.walk(root).forEach { p =>
      if (java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        out(root.relativize(p).toString) = java.nio.file.Files.readAllBytes(p).toSeq
    }
    out.toMap
  }

  test("overwrite/append/upsert produce time-travelable snapshots; append never rewrites") {
    val path = "/tmp/graft_tables/spec_vt"
    GraftTableWriter.drop(spark, path)
    val v1 = VersionedTable.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    val dirsAfterV1 = fileBytes(path)
    val v2 = VersionedTable.append(Seq((3L, "c")).toDF("id", "v"), path)
    val v3 = VersionedTable.upsert(Seq((2L, "B2"), (4L, "d")).toDF("id", "v"), path, Seq("id"))
    assert((v1, v2, v3) == (1, 2, 3))
    assert(VersionedTable.versions(spark, path) == Seq(1, 2, 3))

    // append added a dir; every v1 data file is still byte-identical
    val afterAll = fileBytes(path)
    dirsAfterV1.foreach { case (rel, bytes) =>
      assert(afterAll.get(rel).contains(bytes), s"append/upsert mutated v1 file $rel")
    }

    def rows(v: Int) = VersionedTable.readVersion(spark, path, v)
      .as[(Long, String)].collect().toSet
    assert(rows(1) == Set((1L, "a"), (2L, "b")))
    assert(rows(2) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(rows(3) == Set((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))
    assert(VersionedTable.read(spark, path).as[(Long, String)].collect().toSet == rows(3))
  }

  test("a pinned reader is isolated from later commits") {
    val path = "/tmp/graft_tables/spec_vt_iso"
    GraftTableWriter.drop(spark, path)
    VersionedTable.overwrite(Seq((1L, "x")).toDF("id", "v"), path)
    val pinned = VersionedTable.readVersion(spark, path, 1) // resolve dirs NOW
    VersionedTable.upsert(Seq((1L, "y")).toDF("id", "v"), path, Seq("id"))
    VersionedTable.append(Seq((9L, "z")).toDF("id", "v"), path)
    // the pinned plan still reads only v1's immutable dirs
    assert(pinned.as[(Long, String)].collect().toSet == Set((1L, "x")))
    assert(VersionedTable.read(spark, path).as[(Long, String)].collect().toSet ==
      Set((1L, "y"), (9L, "z")))
  }

  test("schema evolves across snapshots at read time") {
    val path = "/tmp/graft_tables/spec_vt_schema"
    GraftTableWriter.drop(spark, path)
    VersionedTable.overwrite(Seq((1L, "a")).toDF("id", "v"), path)
    VersionedTable.append(Seq((2L, "b", 7.5)).toDF("id", "v", "score"), path)
    val got = VersionedTable.read(spark, path)
      .select($"id", $"v", $"score").as[(Long, String, Option[Double])]
      .collect().toSet
    assert(got == Set((1L, "a", None), (2L, "b", Some(7.5))))
  }

  test("expire drops old snapshots and their unreferenced data dirs only") {
    val path = "/tmp/graft_tables/spec_vt_expire"
    GraftTableWriter.drop(spark, path)
    VersionedTable.overwrite(Seq((1L, "a")).toDF("id", "v"), path)   // v1: dir A
    VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), path)      // v2: dirs A,B
    VersionedTable.overwrite(Seq((3L, "c")).toDF("id", "v"), path)   // v3: dir C
    VersionedTable.expire(spark, path, keep = 1)
    assert(VersionedTable.versions(spark, path) == Seq(3))
    // dirs A and B are gone, C survives
    val dataDirs = new java.io.File(path).listFiles.filter(_.getName.startsWith("d-"))
    assert(dataDirs.length == 1)
    assert(VersionedTable.read(spark, path).as[(Long, String)].collect().toSet ==
      Set((3L, "c")))
    intercept[IllegalArgumentException](VersionedTable.readVersion(spark, path, 1))
  }

  test("removeOrphans deletes uncommitted data dirs only; every snapshot stays byte-intact") {
    val path = "/tmp/graft_tables/spec_vt_orphans"
    GraftTableWriter.drop(spark, path)
    VersionedTable.overwrite(Seq((1L, "a")).toDF("id", "v"), path)
    VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), path)
    // debris of a writer that died between data write and manifest commit:
    // a d-* dir no manifest references
    Seq((99L, "zz")).toDF("id", "v")
      .write.parquet(s"$path/d-000orphan-1")
    // a NON d-* foreign dir must never be touched
    Seq((98L, "yy")).toDF("id", "v")
      .write.parquet(s"$path/user_export")
    val before = fileBytes(path)
    // a fresh uncommitted dir is INSIDE the grace window: default-arg GC
    // must leave it (it may be a live writer mid-commit)
    assert(VersionedTable.removeOrphans(spark, path).isEmpty,
      "grace window must protect recent uncommitted dirs")
    val removed = VersionedTable.removeOrphans(spark, path, olderThanMs = 0)
    assert(removed == Seq("d-000orphan-1"), removed)
    // second pass is a no-op
    assert(VersionedTable.removeOrphans(spark, path, olderThanMs = 0).isEmpty)
    // both snapshots still read exactly; surviving files byte-identical
    assert(VersionedTable.readVersion(spark, path, 1).as[(Long, String)]
      .collect().toSet == Set((1L, "a")))
    assert(VersionedTable.readVersion(spark, path, 2).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
    val after = fileBytes(path)
    assert(after == before.filter { case (f, _) => !f.startsWith("d-000orphan-1") })
    assert(after.keys.exists(_.startsWith("user_export")), "foreign dir must survive")
  }

  test("shallow clone: zero-copy branch, two-way divergence isolation, expire never touches borrowed dirs") {
    val src = "/tmp/graft_tables/spec_vt_clone_src"
    val dst = "/tmp/graft_tables/spec_vt_clone_dst"
    GraftTableWriter.drop(spark, src); GraftTableWriter.drop(spark, dst)
    VersionedTable.overwrite(Seq((1L, "a")).toDF("id", "v"), src)  // src v1
    VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), src)     // src v2
    def rows(p: String, v: Int) = VersionedTable.readVersion(spark, p, v)
      .as[(Long, String)].collect().toSet

    // branch from HISTORY (src v1), not just the head
    val cv = VersionedTable.cloneAt(spark, src, dst, version = 1)
    assert(cv == 1)
    assert(rows(dst, 1) == Set((1L, "a")))
    // zero-copy: the clone dir holds NO data dirs of its own yet
    assert(!new java.io.File(dst).listFiles.exists(_.getName.startsWith("d-")))

    // divergence: clone writes never reach the source, and vice versa
    VersionedTable.append(Seq((10L, "clone-only")).toDF("id", "v"), dst)
    VersionedTable.append(Seq((3L, "src-only")).toDF("id", "v"), src)
    assert(VersionedTable.read(spark, dst).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (10L, "clone-only")))
    assert(VersionedTable.read(spark, src).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "src-only")))

    // the clone's expire must never delete borrowed source dirs
    VersionedTable.overwrite(Seq((99L, "z")).toDF("id", "v"), dst) // dst v3 drops refs
    VersionedTable.expire(spark, dst, keep = 1)
    assert(rows(src, 1) == Set((1L, "a")), "clone expire deleted borrowed source data")
    assert(VersionedTable.read(spark, src).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "src-only")))
  }

  test("rollback restores an old snapshot as a new commit; history stays; roll-forward works") {
    val path = "/tmp/graft_tables/spec_vt_rollback"
    GraftTableWriter.drop(spark, path)
    VersionedTable.overwrite(Seq((1L, "good")).toDF("id", "v"), path)   // v1
    VersionedTable.overwrite(Seq((2L, "bad")).toDF("id", "v"), path)    // v2: bad batch
    def now() = VersionedTable.read(spark, path).as[(Long, String)].collect().toSet
    val v3 = VersionedTable.rollback(spark, path, toVersion = 1)
    assert(v3 == 3 && now() == Set((1L, "good")))
    // the bad snapshot is still auditable, not erased
    assert(VersionedTable.readVersion(spark, path, 2)
      .as[(Long, String)].collect().toSet == Set((2L, "bad")))
    // roll-forward = rollback to the later version
    VersionedTable.rollback(spark, path, toVersion = 2)
    assert(now() == Set((2L, "bad")))
    // rollback of a MOR snapshot carries its delete state intact
    VersionedTable.upsertMor(Seq((2L, "fixed")).toDF("id", "v"), path, Seq("id")) // v5
    VersionedTable.overwrite(Seq((9L, "z")).toDF("id", "v"), path)               // v6
    VersionedTable.rollback(spark, path, toVersion = 5)
    assert(now() == Set((2L, "fixed")))
  }

  test("merge-on-read upsert: O(batch) writes, Iceberg delete-sequence semantics, compact reclaims") {
    val mor = "/tmp/graft_tables/spec_vt_mor"
    val cow = "/tmp/graft_tables/spec_vt_cow"
    GraftTableWriter.drop(spark, mor); GraftTableWriter.drop(spark, cow)
    val base = (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v")
    val batch1 = Seq((1L, "up1"), (2L, "up2"), (2000L, "new")).toDF("id", "v")
    val batch2 = Seq((1L, "up1b"), (3L, "up3")).toDF("id", "v")
    def rows(p: String) = VersionedTable.read(spark, p)
      .as[(Long, String)].collect().toSet

    VersionedTable.overwrite(base, mor); VersionedTable.overwrite(base, cow)
    VersionedTable.upsertMor(batch1, mor, Seq("id"))
    VersionedTable.upsert(batch1, cow, Seq("id"))
    VersionedTable.upsertMor(batch2, mor, Seq("id"))
    VersionedTable.upsert(batch2, cow, Seq("id"))
    assert(rows(mor) == rows(cow), "MOR must equal the COW merge")

    // write amplification: every MOR dir after the base holds O(batch) rows,
    // never the table (the COW path rewrites all ~1001 rows each time)
    val snap = VersionedTable.readManifestForTest(spark, mor,
      VersionedTable.versions(spark, mor).last)
    val batchDirs = snap.dirs.filter(d => snap.dataSeq.getOrElse(d, 0) > 1)
    assert(batchDirs.nonEmpty)
    batchDirs.foreach { d =>
      val n = spark.read.parquet(s"$mor/$d").count()
      assert(n <= 3, s"MOR data dir $d holds $n rows — table-sized rewrite leaked in")
    }

    // equality DELETE, then a LATER append of the same key must survive
    // (delete sequence covers only earlier data — the Iceberg rule)
    VersionedTable.deleteWhereKeys(Seq(Tuple1(5L)).toDF("id"), mor, Seq("id"))
    assert(!rows(mor).exists(_._1 == 5L), "deleted key still visible")
    VersionedTable.append(Seq((5L, "reborn")).toDF("id", "v"), mor)
    assert(rows(mor).contains((5L, "reborn")), "post-delete append must survive")

    // mixed equality fields fail loudly WHILE deletes are outstanding
    // (after compact clears them, re-keying is legitimately allowed)
    intercept[IllegalArgumentException] {
      VersionedTable.upsertMor(Seq((1L, "x")).toDF("id", "v"), mor, Seq("v"))
    }

    // compact materializes the merge: same rows, zero delete dirs, and the
    // pre-compact MOR snapshot still time-travels correctly
    val before = rows(mor)
    val vPre = VersionedTable.versions(spark, mor).last
    VersionedTable.compact(spark, mor, targetRowsPerFile = 10000)
    assert(rows(mor) == before)
    val compacted = VersionedTable.readManifestForTest(spark, mor,
      VersionedTable.versions(spark, mor).last)
    assert(compacted.deletes.isEmpty, "compact must clear the delete list")
    assert(VersionedTable.readVersion(spark, mor, vPre)
      .as[(Long, String)].collect().toSet == before)
  }

  test("compaction collapses small files, keeps data identical, leaves old snapshots intact") {
    val path = "/tmp/graft_tables/spec_vt_compact"
    GraftTableWriter.drop(spark, path)
    val df = spark.range(1000).select(col("id"), (col("id") % 7).as("v"))
    for (i <- 0L until 5L) VersionedTable.append(df.filter(col("id") % 5 === i), path)
    val before = fileBytes(path)
    val vPre = VersionedTable.versions(spark, path).max
    val preRows = VersionedTable.read(spark, path).orderBy("id").collect().toSeq
    VersionedTable.compact(spark, path, targetRowsPerFile = 1000000L)
    // data unchanged
    assert(VersionedTable.read(spark, path).orderBy("id").collect().toSeq == preRows)
    // fewer data files in the compacted snapshot than across the appends
    val after = fileBytes(path)
    val newFiles = after.keySet -- before.keySet
    assert(newFiles.nonEmpty && newFiles.size < 5, s"expected 1 compacted file, got $newFiles")
    // pre-compaction snapshot still time-travelable, its files untouched
    assert(VersionedTable.readVersion(spark, path, vPre).count() == 1000)
    assert(before.forall { case (k, bytes) => after.get(k).contains(bytes) })
  }

  test("manifest column metrics prune non-overlapping data dirs from the scan") {
    val path = "/tmp/graft_tables/spec_vt_prune"
    GraftTableWriter.drop(spark, path)
    val df = spark.range(400).select(col("id"), (col("id") * 2).as("v"))
    // 4 range-disjoint batches with stats + 1 stats-less append
    for (i <- 0L until 4L)
      VersionedTable.appendWithStats(
        df.filter(col("id") >= i * 100 && col("id") < (i + 1) * 100), path, "id")
    // a stats-less append: never prunable, must always be scanned
    VersionedTable.append(
      spark.range(1000, 1010).select(col("id"), (col("id") * 2).as("v")), path)
    val pruned = VersionedTable.readPruned(spark, path, 150, 180)
    // scan opens only batch-1's dir (the overlap) and the stats-less dir
    val dirsTouched = pruned.inputFiles.map(_.split("/").takeRight(2).head).distinct
    assert(dirsTouched.length <= 2, s"expected <=2 dirs, scanned ${dirsTouched.mkString(",")}")
    // superset guarantee: the residual filter gives exactly the range
    val got = pruned.filter(col("id").between(150, 180)).orderBy("id")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == (150L to 180L))
    // stats survived the plain append; the full read still sees every dir
    assert(VersionedTable.read(spark, path).count() == 410)
  }

  test("multi-column metrics: a 2-predicate scan opens only dirs overlapping BOTH bounds") {
    import VersionedTable.{LongRange, StringRange}
    val path = "/tmp/graft_tables/spec_vt_prune_multi"
    GraftTableWriter.drop(spark, path)
    // 4 dirs = 2 id-ranges × 2 name-ranges, both columns tracked per dir
    val df = spark.range(400).select(col("id"),
      concat(lit("n"), lpad((col("id") % 20).cast("string"), 2, "0")).as("name"))
    for (i <- 0L until 2L; lowNames <- Seq(true, false))
      VersionedTable.appendWithStats(
        df.filter(col("id") >= i * 200 && col("id") < (i + 1) * 200
          && (if (lowNames) col("name") < "n10" else col("name") >= "n10")),
        path, Seq("id", "name"))
    val ranges = Seq(LongRange("id", 50, 120), StringRange("name", "n00", "n05"))
    // ground truth from the manifest: exactly 1 of 4 dirs overlaps both
    val snap = VersionedTable.versions(spark, path).last
    val manifest = VersionedTable.readManifestForTest(spark, path, snap)
    val overlapping = VersionedTable.prunedDirs(manifest, ranges)
    assert(overlapping.size == 1, s"expected 1 overlapping dir, got $overlapping")
    // a long-only predicate alone would keep 2 dirs — the string bound is
    // what cuts the scan to 1, i.e. the second column genuinely prunes
    assert(VersionedTable.prunedDirs(manifest, ranges.take(1)).size == 2)
    val pruned = VersionedTable.readPruned(spark, path, ranges)
    val dirsTouched = pruned.inputFiles.map(_.split("/").takeRight(2).head).distinct
    assert(dirsTouched.toSet.subsetOf(overlapping.toSet),
      s"scan touched ${dirsTouched.mkString(",")} beyond overlapping $overlapping")
    // superset guarantee: residual filter gives exactly the predicate rows
    val got = pruned.filter(col("id").between(50, 120)
        && col("name") >= "n00" && col("name") <= "n05")
      .select("id").collect().map(_.getLong(0)).toSet
    val want = (50L to 120L).filter(i => i % 20 <= 5).toSet
    assert(got == want)
  }

  test("all-NULL stats column records no bounds: the dir is never pruned on it") {
    import VersionedTable.{LongRange, StringRange}
    val path = "/tmp/graft_tables/spec_vt_prune_null"
    GraftTableWriter.drop(spark, path)
    VersionedTable.appendWithStats(
      spark.range(10).select(col("id"), lit(null).cast("string").as("name")), path,
      Seq("id", "name"))
    // name has no bounds -> any name range keeps the dir; id bounds still prune
    assert(VersionedTable.readPruned(spark, path,
      Seq(StringRange("name", "zzz", "zzzz"))).count() == 10)
    assert(VersionedTable.readPruned(spark, path,
      Seq(LongRange("id", 5000, 6000))).count() == 0)
  }

  test("a pruned range overlapping no dir returns empty, not an error") {
    val path = "/tmp/graft_tables/spec_vt_prune_empty"
    GraftTableWriter.drop(spark, path)
    VersionedTable.appendWithStats(
      spark.range(100).select(col("id"), (col("id") * 2).as("v")), path, "id")
    val out = VersionedTable.readPruned(spark, path, 5000, 6000)
    assert(out.count() == 0 && out.columns.toSeq == Seq("id", "v"))
  }

  test("changes() emits exact I/U/D rows and is empty between identical snapshots") {
    val path = "/tmp/graft_tables/spec_vt_changes"
    GraftTableWriter.drop(spark, path)
    val v1 = spark.range(10).select(col("id"), (col("id") * 10).as("v"))
    VersionedTable.overwrite(v1, path)
    // v2: drop id 3, update id 5, insert id 100
    val v2 = v1.filter(col("id") =!= 3)
      .withColumn("v", org.apache.spark.sql.functions.when(col("id") === 5, 999L).otherwise(col("v")))
      .unionByName(spark.range(100, 101).select(col("id"), (col("id") * 10).as("v")))
    VersionedTable.overwrite(v2, path)
    VersionedTable.overwrite(v2, path) // v3 == v2
    val diff = VersionedTable.changes(spark, path, 1, 2, Seq("id"))
      .orderBy("op", "id").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(diff == Seq(("D", 3L, 30L), ("I", 100L, 1000L), ("U", 5L, 999L)))
    assert(VersionedTable.changes(spark, path, 2, 3, Seq("id")).count() == 0)
  }

  test("property: random append/upsert/overwrite sequences match a reference model; every version stays time-travelable") {
    import org.scalacheck.{Gen => G}
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val bGen = G.chooseNum(1, 6)
      .flatMap(n => G.listOfN(n, G.zip(G.chooseNum(0L, 9L), G.chooseNum(0L, 99L))))
      .map(_.groupBy(_._1).map(_._2.head).toSeq) // unique keys per batch
    val opGen = G.zip(G.chooseNum(0, 2), bGen)
    for (round <- 1 to 2) {
      val path = s"/tmp/graft_tables/spec_vt_model_$round"
      GraftTableWriter.drop(spark, path)
      val ops = G.listOfN(6, opGen).pureApply(G.Parameters.default, Seed(round * 31L))
      var model = Vector.empty[(Long, Long)]
      var history = Vector.empty[Vector[(Long, Long)]]
      for ((kind, batch) <- ops) {
        val df = batch.toDF("k", "v")
        kind match {
          case 0 => VersionedTable.append(df, path); model = model ++ batch
          case 1 => VersionedTable.overwrite(df, path); model = batch.toVector
          case _ =>
            VersionedTable.upsert(df, path, Seq("k"))
            model = model.filterNot(r => batch.exists(_._1 == r._1)) ++ batch
        }
        history :+= model
        val got = VersionedTable.read(spark, path).as[(Long, Long)].collect().toVector
        assert(got.sorted == model.sorted, s"round=$round after $kind")
      }
      // every intermediate version reads exactly as it was committed
      val vs = VersionedTable.versions(spark, path)
      assert(vs.size == ops.size)
      for ((v, snap) <- vs.zip(history)) {
        val got = VersionedTable.readVersion(spark, path, v).as[(Long, Long)].collect().toVector
        assert(got.sorted == snap.sorted, s"round=$round v=$v")
      }
    }
  }

  test("appendOnce is idempotent under batch replay; lastBatch survives maintenance") {
    val path = "/tmp/graft_tables/spec_append_once"
    GraftTableWriter.drop(spark, path)
    assert(VersionedTable.appendOnce(Seq((1L, "a")).toDF("id", "v"), path, batchId = 0))
    assert(VersionedTable.appendOnce(Seq((2L, "b")).toDF("id", "v"), path, batchId = 1))
    // the at-least-once redelivery: same batch id again — must be a no-op
    assert(!VersionedTable.appendOnce(Seq((2L, "b")).toDF("id", "v"), path, batchId = 1))
    assert(!VersionedTable.appendOnce(Seq((9L, "x")).toDF("id", "v"), path, batchId = 0))
    assert(VersionedTable.read(spark, path).collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L)))
    // a replay skip commits nothing: no new snapshot, no orphan data dir
    val versionsBefore = VersionedTable.versions(spark, path)
    assert(versionsBefore.size == 2, versionsBefore.toString)
    // maintenance (plain append, compaction) must not forget the watermark
    VersionedTable.append(Seq((3L, "c")).toDF("id", "v"), path)
    VersionedTable.compact(spark, path, targetRowsPerFile = 100)
    assert(!VersionedTable.appendOnce(Seq((2L, "b")).toDF("id", "v"), path, batchId = 1))
    assert(VersionedTable.appendOnce(Seq((4L, "d")).toDF("id", "v"), path, batchId = 2))
    assert(VersionedTable.read(spark, path).collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 3L, 4L)))
  }

  test("an empty batch-id batch commits nothing, leaves no dir, and does not consume its id") {
    val path = "/tmp/graft_tables/spec_empty_once"
    GraftTableWriter.drop(spark, path)
    val empty = Seq.empty[(Long, String)].toDF("id", "v")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def dataDirs(): Set[String] =
      if (!fs.exists(new org.apache.hadoop.fs.Path(path))) Set.empty
      else fs.listStatus(new org.apache.hadoop.fs.Path(path)).map(_.getPath.getName)
        .filter(_.startsWith("d-")).toSet
    assert(!VersionedTable.appendOnce(empty, path, batchId = 0))
    assert(!VersionedTable.upsertMorOnce(empty, path, Seq("id"), batchId = 0))
    assert(!VersionedTable.applyCdcOnce(empty, empty.select("id"), path, Seq("id"), batchId = 0))
    assert(VersionedTable.versions(spark, path).isEmpty)
    assert(dataDirs().isEmpty, s"empty batches left dirs behind: ${dataDirs()}")
    // the id an empty delivery carried is still free for rows
    assert(VersionedTable.appendOnce(Seq((1L, "a")).toDF("id", "v"), path, batchId = 0))
    assert(!VersionedTable.upsertMorOnce(empty, path, Seq("id"), batchId = 1))
    // a pure-delete CDC batch holds rows in its delete dir, so it commits
    assert(VersionedTable.applyCdcOnce(empty, Seq(Tuple1(1L)).toDF("id"), path, Seq("id"), 1))
    assert(VersionedTable.read(spark, path).count() == 0L)
    assert(VersionedTable.versions(spark, path).size == 2)
    // the append's dir, plus the CDC batch's delete dir: its data dir
    // observed no rows, so it was deleted and left out of the commit
    assert(dataDirs().size == 2, dataDirs().toString)
    val snap = VersionedTable.readManifestForTest(spark, path, 2)
    assert(snap.dirs.size == 1 && snap.deletes.size == 1 &&
      !snap.dirs.contains(snap.deletes.head._1), snap)
  }

  test("upsertMorOnce skips a replayed batch; the applied batch merges by sequence") {
    val path = "/tmp/graft_tables/spec_vt_moronce"
    GraftTableWriter.drop(spark, path)
    VersionedTable.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    val batch = Seq((2L, "b2"), (3L, "c")).toDF("id", "v")
    assert(VersionedTable.upsertMorOnce(batch, path, Seq("id"), batchId = 0))
    // at-least-once redelivery of the same batch: recognized, skipped
    assert(!VersionedTable.upsertMorOnce(batch, path, Seq("id"), batchId = 0))
    val rows = VersionedTable.read(spark, path).as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "a"), (2L, "b2"), (3L, "c")), rows)
    // and the replay really wrote nothing: still exactly one delete dir
    val snap = VersionedTable.readManifestForTest(spark, path,
      VersionedTable.versions(spark, path).last)
    assert(snap.deletes.size == 1, snap.deletes)
  }

  test("upsertOnce merges by key exactly once under replay") {
    val path = "/tmp/graft_tables/spec_upsert_once"
    GraftTableWriter.drop(spark, path)
    assert(VersionedTable.upsertOnce(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path, Seq("id"), 0))
    assert(VersionedTable.upsertOnce(Seq((2L, "B"), (3L, "c")).toDF("id", "v"), path, Seq("id"), 1))
    assert(!VersionedTable.upsertOnce(Seq((2L, "B"), (3L, "c")).toDF("id", "v"), path, Seq("id"), 1))
    val got = VersionedTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(got.sameElements(Array((1L, "a"), (2L, "B"), (3L, "c"))))
  }

  test("applyCdcOnce: upserts + deletes land as ONE atomic batch, replay refused (r15)") {
    val path = "/tmp/graft_tables/spec_apply_cdc_once"
    GraftTableWriter.drop(spark, path)
    assert(VersionedTable.appendOnce(
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"), path, 0))
    // one batch: update 2 and 4, delete 5 and 6 — a SINGLE commit
    assert(VersionedTable.applyCdcOnce(
      Seq((2L, "V2"), (4L, "V4")).toDF("id", "v"),
      Seq(Tuple1(5L), Tuple1(6L)).toDF("id"), path, Seq("id"), 1))
    assert(VersionedTable.versions(spark, path) == Seq(1, 2),
      "the mixed batch must be exactly one snapshot")
    val got = VersionedTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == Seq((1L, "v1"), (2L, "V2"), (3L, "v3"), (4L, "V4")))
    // replay (same and lower ids): refused, nothing changes
    assert(!VersionedTable.applyCdcOnce(
      Seq((2L, "V2"), (4L, "V4")).toDF("id", "v"),
      Seq(Tuple1(5L)).toDF("id"), path, Seq("id"), 1))
    assert(!VersionedTable.applyCdcOnce(
      Seq((1L, "XX")).toDF("id", "v"), Seq.empty[Tuple1[Long]].toDF("id"),
      path, Seq("id"), 0))
    assert(VersionedTable.versions(spark, path) == Seq(1, 2))
    // a key both upserted and deleted IN THE SAME BATCH: the upsert image
    // survives (it sits at the delete's own sequence — callers wanting
    // delete-wins fold per key FIRST, the streaming_debezium_apply shape)
    assert(VersionedTable.applyCdcOnce(
      Seq((3L, "V3")).toDF("id", "v"), Seq(Tuple1(3L)).toDF("id"),
      path, Seq("id"), 2))
    assert(VersionedTable.read(spark, path).filter($"id" === 3L).count() == 1)
  }

  test("racing committers both land via optimistic retry") {
    val path = "/tmp/graft_tables/spec_vt_race"
    GraftTableWriter.drop(spark, path)
    VersionedTable.overwrite(Seq((0L, "base")).toDF("id", "v"), path)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = VersionedTable.append(Seq((i.toLong, s"r$i")).toDF("id", "v"), path)
        })
      }
      val versions = futures.map(_.get())
      assert(versions.toSet.size == 8, s"committers collided on a version: $versions")
    } finally pool.shutdown()
    assert(VersionedTable.versions(spark, path).size == 9)
    assert(VersionedTable.read(spark, path).count() == 9)
  }

  // ---- metadata-only COUNT(*) + files metadata ---------------------------

  test("countFromMetadata answers without opening any data file (dirs physically removed)") {
    val path = "/tmp/graft_tables/spec_meta_count"
    GraftTableWriter.drop(spark, path)
    val df = (1L to 100L).toDF("id")
    VersionedTable.overwrite(df.filter($"id" <= 40), path)
    VersionedTable.append(df.filter($"id" > 40), path)
    assert(VersionedTable.countFromMetadata(spark, path) == Some(100L))
    assert(VersionedTable.countFromMetadata(spark, path, Some(1)) == Some(40L),
      "time-traveled metadata count must see only v1's dirs")
    // THE no-data-read proof: move every parquet file away; the manifest
    // stays; the metadata count still answers while a scan would now fail
    val root = java.nio.file.Paths.get(path)
    java.nio.file.Files.walk(root).forEach { p =>
      if (java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        java.nio.file.Files.move(p, p.resolveSibling(p.getFileName.toString + ".hidden"))
    }
    assert(VersionedTable.countFromMetadata(spark, path) == Some(100L),
      "count must come from the manifest alone, not from data files")
  }

  /** Strip the recorded row counts from manifest `v` (a legacy table's
    * manifest), through the Hadoop filesystem so its checksum file stays
    * consistent. The counts are the manifest's last field. */
  private def stripRowCounts(path: String, v: Int): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$path/_graft_meta", f"v$v%05d.json")
    val in = fs.open(p)
    val doc = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val at = doc.indexOf(",\"rowCounts\":[")
    assert(at > 0, s"v$v records no row counts")
    val out = fs.create(p, true)
    try out.write((doc.substring(0, at) + "}").getBytes("UTF-8")) finally out.close()
    assert(VersionedTable.readManifestForTest(spark, path, v).rowCounts.isEmpty)
  }

  test("compactSmall plans from the recorded row counts: no count job per dir") {
    val path = "/tmp/graft_tables/spec_compact_small_plan"
    GraftTableWriter.drop(spark, path)
    for (i <- 0 until 6)
      VersionedTable.append(spark.range(i * 50L, i * 50L + 50L).toDF("id"), path)
    val v = VersionedTable.versions(spark, path).max
    // no dir is below the threshold: planning alone decides, and it reads
    // only the manifest
    var got = 0
    val n = jobsLaunchedBy {
      got = VersionedTable.compactSmall(spark, path, smallThresholdRows = 10, targetRowsPerFile = 1000)
    }
    assert(got == v)
    assert(n == 0, s"planning a 6-dir table launched $n jobs")
    // a legacy manifest (no recorded counts) falls back to a count scan
    stripRowCounts(path, v)
    val m = jobsLaunchedBy(VersionedTable.compactSmall(spark, path, 10, 1000))
    assert(m >= 1, "a dir without a recorded count must be counted from its data")
    // every dir below the threshold: the rewrite binpacks them into one
    assert(VersionedTable.compactSmall(spark, path, 100, 1000) == v + 1)
    assert(VersionedTable.readManifestForTest(spark, path, v + 1).dirs.size == 1)
    assert(VersionedTable.read(spark, path).count() == 300L)
    assert(VersionedTable.countFromMetadata(spark, path) == Some(300L))
  }

  test("compact of a legacy manifest counts the rows it rewrites once, not once per dir") {
    val Seq(recorded, legacy) = Seq("recorded", "legacy")
      .map(n => s"/tmp/graft_tables/spec_compact_legacy_$n")
    val jobs = Seq(recorded, legacy).map { path =>
      GraftTableWriter.drop(spark, path)
      for (i <- 0 until 6)
        VersionedTable.append(spark.range(i * 50L, i * 50L + 50L).toDF("id"), path)
      if (path == legacy) stripRowCounts(path, 6)
      val n = jobsLaunchedBy(assert(VersionedTable.compact(spark, path, 100) == 7))
      assert(VersionedTable.readManifestForTest(spark, path, 7).dirs.size == 1)
      assert(VersionedTable.read(spark, path).count() == 300L)
      n
    }
    // one count (its scan and its final aggregate under AQE); a count per
    // dir would add at least 6
    assert(jobs(1) <= jobs(0) + 2, s"recorded counts: ${jobs(0)} jobs, legacy: ${jobs(1)}")
  }

  test("countFromMetadata refuses while MOR deletes are outstanding, answers after compact") {
    val path = "/tmp/graft_tables/spec_meta_count_mor"
    GraftTableWriter.drop(spark, path)
    val df = (1L to 50L).map(i => (i, i * 10)).toDF("k", "v")
    VersionedTable.overwrite(df, path)
    VersionedTable.upsertMor(Seq((7L, 999L)).toDF("k", "v"), path, Seq("k"))
    assert(VersionedTable.countFromMetadata(spark, path).isEmpty,
      "equality deletes outstanding: row liveness depends on data, metadata must refuse")
    VersionedTable.compact(spark, path, 1000000L)
    assert(VersionedTable.countFromMetadata(spark, path) == Some(50L))
    assert(VersionedTable.read(spark, path).count() == 50L)
  }

  test("countFromMetadata degrades to None when a dir has no recorded count") {
    val path = "/tmp/graft_tables/spec_meta_count_nosc"
    GraftTableWriter.drop(spark, path)
    VersionedTable.overwrite((1L to 30L).toDF("id"), path)
    assert(VersionedTable.countFromMetadata(spark, path) == Some(30L))
    stripRowCounts(path, 1)
    assert(VersionedTable.countFromMetadata(spark, path).isEmpty,
      "a dir without a count (older build) must fall off the metadata path, not guess")
    assert(VersionedTable.filesMetadata(spark, path).select("n_rows").as[Long]
      .collect().toSeq == Seq(-1L))
    assert(new java.io.File(path).listFiles.filter(_.isDirectory)
      .forall(d => !d.list().exists(_.contains("rowcount"))), "a write left a count file")
  }

  test("minMaxFromMetadata folds manifest bounds; refuses on stats-less dirs and MOR deletes") {
    val path = "/tmp/graft_tables/spec_meta_minmax"
    GraftTableWriter.drop(spark, path)
    val df = Seq((5L, "m"), (17L, "a"), (9L, "z")).toDF("k", "s")
    val df2 = Seq((2L, "q"), (30L, "b")).toDF("k", "s")
    VersionedTable.appendWithStats(df, path, Seq("k", "s"))
    VersionedTable.appendWithStats(df2, path, Seq("k", "s"))
    val k = VersionedTable.minMaxFromMetadata(spark, path, "k").get
    assert((k.lo.toLong, k.hi.toLong) == (2L, 30L))
    val s2 = VersionedTable.minMaxFromMetadata(spark, path, "s").get
    assert((s2.lo, s2.hi) == ("a", "z"))
    // version-pinned: v1 saw only the first batch
    val k1 = VersionedTable.minMaxFromMetadata(spark, path, "k", Some(1)).get
    assert((k1.lo.toLong, k1.hi.toLong) == (5L, 17L))
    // no-data-read proof: remove the parquet files, bounds still answer
    val root = java.nio.file.Paths.get(path)
    java.nio.file.Files.walk(root).forEach { p =>
      if (java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        java.nio.file.Files.delete(p)
    }
    assert(VersionedTable.minMaxFromMetadata(spark, path, "k").isDefined)
    // a dir WITHOUT stats poisons the metadata path (could hold the extreme)
    val path2 = "/tmp/graft_tables/spec_meta_minmax_nostats"
    GraftTableWriter.drop(spark, path2)
    VersionedTable.appendWithStats(df, path2, Seq("k"))
    VersionedTable.append(df2, path2)
    assert(VersionedTable.minMaxFromMetadata(spark, path2, "k").isEmpty,
      "a stats-less dir must refuse the metadata answer, not guess")
    // outstanding MOR deletes: the extreme row may be dead, refuse
    val path3 = "/tmp/graft_tables/spec_meta_minmax_mor"
    GraftTableWriter.drop(spark, path3)
    VersionedTable.appendWithStats(df, path3, Seq("k"))
    VersionedTable.upsertMor(Seq((17L, "gone")).toDF("k", "s"), path3, Seq("k"))
    assert(VersionedTable.minMaxFromMetadata(spark, path3, "k").isEmpty)
  }

  test("minMaxFromMetadata folds string bounds in UTF-8 byte order, matching the data path") {
    // "�" (REPLACEMENT CHARACTER, UTF-16 code unit 0xFFFD) sorts ABOVE
    // "😀" (emoji, surrogate pair starting 0xD83D) under Java
    // String order, but BELOW it under the UTF-8 byte order Spark's min/max
    // computed the per-dir bounds with (4-byte emoji encoding > 3-byte
    // U+FFFD). The folded metadata answer must agree with the data path.
    val path = "/tmp/graft_tables/spec_meta_minmax_utf8"
    GraftTableWriter.drop(spark, path)
    val emoji = new String(Character.toChars(0x1F600))
    VersionedTable.appendWithStats(Seq((1L, "�")).toDF("k", "s"), path, Seq("s"))
    VersionedTable.appendWithStats(Seq((2L, emoji)).toDF("k", "s"), path, Seq("s"))
    val b = VersionedTable.minMaxFromMetadata(spark, path, "s").get
    val Seq(dataLo, dataHi) = VersionedTable.read(spark, path)
      .agg(min($"s"), max($"s")).as[(String, String)].collect().toSeq
      .flatMap(t => Seq(t._1, t._2))
    assert((b.lo, b.hi) == (dataLo, dataHi),
      s"metadata fold (${b.lo}, ${b.hi}) diverged from data path ($dataLo, $dataHi)")
    assert(b.hi == emoji, "UTF-8 byte order must rank the 4-byte emoji highest")
  }

  test("filesMetadata lists live dirs with sequences and sidecar counts; clones inherit") {
    val path = "/tmp/graft_tables/spec_files_meta"
    GraftTableWriter.drop(spark, path)
    val df = (1L to 90L).toDF("id")
    VersionedTable.overwrite(df.filter($"id" <= 30), path)
    VersionedTable.append(df.filter($"id" > 30 && $"id" <= 60), path)
    VersionedTable.append(df.filter($"id" > 60), path)
    val rows = VersionedTable.filesMetadata(spark, path)
      .orderBy($"file_ordinal")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(rows == Seq((1L, 30L), (2L, 30L), (3L, 30L)), rows.toString)
    // a zero-copy clone references the same dirs absolutely — their
    // recorded counts ride along and the clone's metadata count works
    // immediately
    val clonePath = "/tmp/graft_tables/spec_files_meta_clone"
    GraftTableWriter.drop(spark, clonePath)
    VersionedTable.cloneAt(spark, path, clonePath,
      VersionedTable.versions(spark, path).max)
    assert(VersionedTable.countFromMetadata(spark, clonePath) == Some(90L))
  }

  test("every additive write shape carries the prior snapshot forward; every *Once shape refuses a committed batch id") {
    val path = "/tmp/graft_tables/spec_vt_carry"
    GraftTableWriter.drop(spark, path)
    val keys = Seq("id")
    var vCol = "v" // the value column's logical name; renamed midway
    def rows(lo: Long, n: Int) =
      (lo until lo + n).map(i => (i, s"s$i", i * 7 % 23)).toDF("id", vCol, "n")
    def manifest(v: Int) = VersionedTable.readManifestForTest(spark, path, v)
    def latestV = VersionedTable.versions(spark, path).last
    var committed = Set.empty[Long]

    // every batch id any shape committed is a replay for every *Once shape:
    // each reports false and no version is added
    def refuseCommitted(): Unit = {
      val v0 = latestV
      for (b <- committed) {
        val df = rows(900, 2)
        assert(!VersionedTable.appendOnce(df, path, b), s"appendOnce re-applied batch $b")
        assert(!VersionedTable.upsertMorOnce(df, path, keys, b), s"upsertMorOnce re-applied batch $b")
        assert(!VersionedTable.applyCdcOnce(df, df.select("id"), path, keys, b),
          s"applyCdcOnce re-applied batch $b")
        assert(!VersionedTable.upsertOnce(df, path, keys, b), s"upsertOnce re-applied batch $b")
      }
      assert(latestV == v0, "a refused replay committed a version")
    }

    // one commit of `label`; batch = the id a *Once shape commits
    def step(label: String, batch: Option[Long] = None)(write: => Any): Unit = {
      val before = VersionedTable.versions(spark, path).lastOption
      write
      val v = latestV
      val cur = manifest(v)
      before.foreach { pv =>
        assert(v == pv + 1, s"$label must add exactly one version")
        val prev = manifest(pv)
        assert(cur.dirs.startsWith(prev.dirs), s"$label dropped or reordered dirs")
        prev.dirs.foreach { d =>
          assert(cur.dataSeq.get(d) == prev.dataSeq.get(d), s"$label changed the sequence of $d")
          assert(cur.colStats.get(d) == prev.colStats.get(d), s"$label changed the bounds of $d")
          assert(cur.sortOrders.get(d) == prev.sortOrders.get(d),
            s"$label changed the sort order of $d")
          assert(cur.schemas.get(d) == prev.schemas.get(d), s"$label changed the schema of $d")
        }
        assert(cur.deletes.startsWith(prev.deletes), s"$label dropped deletes")
        if (prev.deleteKeys.nonEmpty)
          assert(cur.deleteKeys == prev.deleteKeys, s"$label changed the equality fields")
        if (label == "renameColumn")
          assert(cur.renames.startsWith(prev.renames) && cur.renames.size == prev.renames.size + 1)
        else assert(cur.renames == prev.renames, s"$label dropped the rename chain")
        assert(cur.lastBatch == batch.orElse(prev.lastBatch), s"$label lost lastBatch")
        // whatever this commit added sits at this commit's sequence
        cur.dirs.drop(prev.dirs.size).foreach(d => assert(cur.dataSeq.get(d).contains(v)))
        cur.deletes.drop(prev.deletes.size).foreach { case (_, sq) => assert(sq == v) }
      }
      committed ++= batch
      refuseCommitted()
    }

    step("append")(VersionedTable.append(rows(0, 4), path))
    step("appendWithStats")(VersionedTable.appendWithStats(rows(10, 4), path, Seq("n")))
    step("appendSorted")(VersionedTable.appendSorted(rows(20, 4), path, Seq("n" -> "desc")))
    step("upsertMor")(VersionedTable.upsertMor(rows(0, 2), path, keys))
    step("appendOnce", Some(10L))(assert(VersionedTable.appendOnce(rows(30, 3), path, 10L)))
    step("renameColumn")(VersionedTable.renameColumn(spark, path, "v", "w"))
    vCol = "w"
    step("appendWithHiddenStats")(VersionedTable.appendWithHiddenStats(rows(40, 3), path,
      "n_bucket", ($"n" / 5).cast("long")))
    step("appendWithBloom")(VersionedTable.appendWithBloom(rows(50, 3), path, "id"))
    step("upsertMorOnce", Some(11L))(assert(VersionedTable.upsertMorOnce(rows(10, 2), path,
      keys, 11L, statsCols = Seq("n"))))
    step("applyCdcOnce", Some(12L))(assert(VersionedTable.applyCdcOnce(rows(20, 2),
      Seq(Tuple1(30L)).toDF("id"), path, keys, 12L)))
    step("deleteWhereKeys")(VersionedTable.deleteWhereKeys(
      Seq(Tuple1(40L), Tuple1(50L)).toDF("id"), path, keys))

    val ids = VersionedTable.read(spark, path).select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(0L, 1, 2, 3, 10, 11, 12, 13, 20, 21, 22, 23, 31, 32, 41, 42, 51, 52), ids)
  }

  test("a manifest holding five dirs or five equality keys parses no phantom column bounds") {
    // five string literals in a row have the shape of one colStats entry
    val path = "/tmp/graft_tables/spec_vt_five"
    GraftTableWriter.drop(spark, path)
    val cols = Seq("a", "b", "c", "d", "e")
    def row(i: Long) = Seq((i, i, i, i, i)).toDF(cols: _*)
    (1L to 5L).foreach(i => VersionedTable.append(row(i), path))
    def latest = VersionedTable.readManifestForTest(spark, path,
      VersionedTable.versions(spark, path).last)
    assert(latest.dirs.size == 5 && latest.colStats.isEmpty, latest.colStats)
    VersionedTable.deleteWhereKeys(row(1L), path, cols)
    assert(latest.deleteKeys == cols && latest.colStats.isEmpty, latest.colStats)
  }

  /** The Spark schema a dir's first parquet footer embeds, read directly. */
  private def footerSchema(dir: String): org.apache.spark.sql.types.StructType = {
    val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath), spark.sparkContext.hadoopConfiguration))
    try org.apache.spark.sql.types.DataType.fromJson(r.getFooter.getFileMetaData
      .getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    finally r.close()
  }

  test("every write shape records each new dir's schema, equal to its footer's") {
    val path = "/tmp/graft_tables/spec_vt_schemas"
    val clone = "/tmp/graft_tables/spec_vt_schemas_clone"
    Seq(path, clone).foreach(GraftTableWriter.drop(spark, _))
    val keys = Seq("id")
    // id and n are non-nullable, v nullable: the record keeps nullability
    def rows(lo: Long, n: Int) =
      (lo until lo + n).map(i => (i, s"s$i", i * 7 % 23)).toDF("id", "v", "n")
    def checkLatest(label: String, p: String = path): Unit = {
      val snap = VersionedTable.readManifestForTest(spark, p, VersionedTable.versions(spark, p).last)
      (snap.dirs ++ snap.deletes.map(_._1)).foreach { d =>
        val dir = if (d.startsWith("/")) d else s"$p/$d"
        assert(snap.schemas.get(d).contains(footerSchema(dir)),
          s"$label: dir $d records ${snap.schemas.get(d)}, footer ${footerSchema(dir)}")
      }
      assert(snap.schemas.keySet == (snap.dirs ++ snap.deletes.map(_._1)).toSet,
        s"$label: schema entries for dirs the snapshot does not list")
    }
    VersionedTable.overwrite(rows(0, 4), path); checkLatest("overwrite")
    VersionedTable.append(rows(10, 4), path); checkLatest("append")
    VersionedTable.appendWithStats(rows(20, 4).withColumn("x", $"n" * 2), path, Seq("n"))
    checkLatest("appendWithStats (added column)")
    VersionedTable.appendSorted(rows(30, 4), path, Seq("n" -> "desc")); checkLatest("appendSorted")
    VersionedTable.appendWithHiddenStats(rows(40, 4), path, "n_b", ($"n" / 5).cast("long"))
    checkLatest("appendWithHiddenStats")
    VersionedTable.appendWithBloom(rows(50, 4), path, "id"); checkLatest("appendWithBloom")
    assert(VersionedTable.appendOnce(rows(60, 4), path, 1L)); checkLatest("appendOnce")
    VersionedTable.upsert(rows(0, 2).withColumn("x", $"n" * 2), path, keys); checkLatest("upsert")
    (0 until 3).foreach(i => VersionedTable.append(rows(100 + 10 * i, 2), path))
    VersionedTable.compactSmall(spark, path, 5L, 100L); checkLatest("compactSmall")
    VersionedTable.upsertMor(rows(1, 2), path, keys); checkLatest("upsertMor")
    assert(VersionedTable.upsertMorOnce(rows(2, 2), path, keys, 2L)); checkLatest("upsertMorOnce")
    assert(VersionedTable.applyCdcOnce(rows(3, 2), Seq(Tuple1(100L)).toDF("id"), path, keys, 3L))
    checkLatest("applyCdcOnce")
    VersionedTable.deleteWhereKeys(Seq(Tuple1(110L)).toDF("id"), path, keys)
    checkLatest("deleteWhereKeys")
    val beforeClone = VersionedTable.versions(spark, path).last
    VersionedTable.cloneAt(spark, path, clone, beforeClone); checkLatest("cloneAt", clone)
    VersionedTable.append(rows(200, 2), clone); checkLatest("append to the clone", clone)
    VersionedTable.publish(spark, clone, path, beforeClone); checkLatest("publish")
    VersionedTable.compact(spark, path, 100L); checkLatest("compact")
    VersionedTable.renameColumn(spark, path, "v", "w"); checkLatest("renameColumn")
    VersionedTable.rollback(spark, path, beforeClone); checkLatest("rollback")
  }

  test("a manifest without recorded schemas (a legacy table) reads the same rows and schema") {
    val path = "/tmp/graft_tables/spec_vt_legacy"
    GraftTableWriter.drop(spark, path)
    val keys = Seq("id")
    def rows(lo: Long, n: Int) =
      (lo until lo + n).map(i => (i, s"s$i", i * 7 % 23)).toDF("id", "v", "n")
    VersionedTable.append(rows(0, 6), path)
    VersionedTable.upsertMor(rows(2, 3).withColumn("x", $"n" + 1), path, keys)
    VersionedTable.renameColumn(spark, path, "v", "w")
    VersionedTable.upsertMor(rows(4, 3).withColumnRenamed("v", "w"), path, keys)
    VersionedTable.deleteWhereKeys(Seq(Tuple1(0L)).toDF("id"), path, keys)
    val versions = VersionedTable.versions(spark, path)
    def dump(v: Int) = {
      val df = VersionedTable.readVersion(spark, path, v)
      (df.schema, df.collect().map(_.toString).sorted.toSeq)
    }
    val before = versions.map(dump)
    // strip the schema entries from every manifest, through the Hadoop
    // filesystem so its checksum files stay consistent
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    versions.foreach { v =>
      val p = new org.apache.hadoop.fs.Path(s"$path/_graft_meta", f"v$v%05d.json")
      val in = fs.open(p)
      val doc = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val at = doc.indexOf(",\"schemaIds\":[")
      assert(at > 0, s"v$v records no schemas")
      val out = fs.create(p, true)
      try out.write((doc.substring(0, at) + "}").getBytes("UTF-8")) finally out.close()
      assert(VersionedTable.readManifestForTest(spark, path, v).schemas.isEmpty)
    }
    assert(versions.map(dump) == before)
  }

  test("a listed dir whose data files were removed out of band fails the read loudly") {
    val path = "/tmp/graft_tables/spec_vt_lost_files"
    GraftTableWriter.drop(spark, path)
    VersionedTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    VersionedTable.upsertMor(Seq((2L, "B"), (3L, "c")).toDF("id", "v"), path, Seq("id"))
    VersionedTable.deleteWhereKeys(Seq(Tuple1(1L)).toDF("id"), path, Seq("id"))
    assert(VersionedTable.read(spark, path).count() == 2L)
    val snap = VersionedTable.readManifestForTest(spark, path, 3)
    // remove every data file of a dir; its dir, sidecar and checksums stay
    def strip(d: String): Unit = new java.io.File(s"$path/$d").listFiles
      .filter(_.getName.endsWith(".parquet")).foreach(f => assert(f.delete()))
    val keyDir = snap.deletes.last._1
    assert(!snap.dirs.contains(keyDir))
    strip(keyDir)
    val k = intercept[IllegalStateException](VersionedTable.read(spark, path))
    assert(k.getMessage.contains(s"lists dir $keyDir, which holds no data file"), k.getMessage)
    // v2 does not list the key dir; then its data dir loses its files too
    assert(VersionedTable.readVersion(spark, path, 2).count() == 3L)
    strip(snap.dirs(1))
    val e = intercept[IllegalStateException](VersionedTable.readVersion(spark, path, 2))
    assert(e.getMessage.contains(s"lists dir ${snap.dirs(1)}"), e.getMessage)
    // an older snapshot that lists neither still reads
    assert(VersionedTable.readVersion(spark, path, 1).count() == 2L)
  }

  test("an empty append still reads as empty, alone and beside other dirs") {
    val path = "/tmp/graft_tables/spec_vt_empty_append"
    GraftTableWriter.drop(spark, path)
    val empty = Seq.empty[(Long, String)].toDF("id", "v")
    VersionedTable.append(empty, path)
    assert(VersionedTable.read(spark, path).count() == 0L)
    VersionedTable.append(Seq((1L, "a")).toDF("id", "v"), path)
    VersionedTable.append(empty.repartition(3), path)
    VersionedTable.upsertMor(Seq((1L, "A")).toDF("id", "v"), path, Seq("id"))
    assert(VersionedTable.read(spark, path).as[(Long, String)].collect().toSeq == Seq((1L, "A")))
  }

  test("self-deleting dirs, key-only deletes, a legacy key-dir upsert, an added column and a rename match a reference at every version") {
    val path = "/tmp/graft_tables/spec_vt_mor_chain"
    GraftTableWriter.drop(spark, path)
    val keys = Seq("id")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    // the reference: id -> (value, n, x); x is the column added midway
    type Ref = Map[Long, (String, Int, Option[Long])]
    var ref: Ref = Map.empty
    val refs = scala.collection.mutable.Map.empty[Int, Ref]
    def latestV = VersionedTable.versions(spark, path).last
    def record(): Unit = refs(latestV) = ref
    var vCol = "v"
    def batch(ids: Seq[Long], tag: String, withX: Boolean): org.apache.spark.sql.DataFrame = {
      val df = ids.map(i => (i, s"$tag$i", (i * 7 % 5).toInt)).toDF("id", vCol, "n")
      if (withX) df.withColumn("x", $"id" * 10) else df
    }
    def put(ids: Seq[Long], tag: String, withX: Boolean): Unit =
      ref ++= ids.map(i => i -> ((s"$tag$i", (i * 7 % 5).toInt, if (withX) Some(i * 10) else None)))

    VersionedTable.appendWithStats(batch(1L to 20L, "a", withX = false), path, Seq("n"))
    put(1L to 20L, "a", withX = false); record()
    VersionedTable.upsertMor(batch(5L to 10L, "b", withX = false), path, keys, statsCols = Seq("n"))
    put(5L to 10L, "b", withX = false); record()
    // a legacy upsert: the manifest lists a separate key-only delete dir
    // (with no recorded schema) instead of the data dir deleting its keys
    VersionedTable.upsertMor(batch(8L to 12L, "c", withX = false), path, keys, statsCols = Seq("n"))
    put(8L to 12L, "c", withX = false)
    val legacy = "d-legacy-keys"
    (8L to 12L).toDF("id").write.parquet(s"$path/$legacy")
    val mp = new org.apache.hadoop.fs.Path(s"$path/_graft_meta", f"v$latestV%05d.json")
    val root = {
      val in = fs.open(mp)
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode] finally in.close()
    }
    val dels = root.get("deletes").asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    val own = dels.get(dels.size - 1).asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    own.set(0, new com.fasterxml.jackson.databind.node.TextNode(legacy))
    val out = fs.create(mp, true)
    try out.write(root.toString.getBytes("UTF-8")) finally out.close()
    val legacySnap = VersionedTable.readManifestForTest(spark, path, latestV)
    assert(legacySnap.deletes.last._1 == legacy && !legacySnap.schemas.contains(legacy))
    record()
    VersionedTable.deleteWhereKeys(Seq(1L, 2L, 9L).toDF("id"), path, keys)
    ref --= Seq(1L, 2L, 9L); record()
    VersionedTable.upsertMor(batch(Seq(3L, 9L, 21L), "d", withX = true), path, keys,
      statsCols = Seq("n"))
    put(Seq(3L, 9L, 21L), "d", withX = true); record()
    VersionedTable.renameColumn(spark, path, "v", "w"); vCol = "w"; record()
    assert(VersionedTable.upsertMorOnce(batch(Seq(4L, 10L), "e", withX = true), path, keys, 1L,
      statsCols = Seq("n")))
    put(Seq(4L, 10L), "e", withX = true); record()
    assert(VersionedTable.applyCdcOnce(batch(Seq(11L, 22L), "f", withX = true),
      Seq(12L, 5L, 12L).toDF("id"), path, keys, 2L))
    put(Seq(11L, 22L), "f", withX = true); ref --= Seq(12L, 5L); record()
    // a plain append of a deleted key brings it back (a later sequence)
    VersionedTable.append(batch(Seq(1L), "g", withX = true), path)
    put(Seq(1L), "g", withX = true); record()

    val last = VersionedTable.readManifestForTest(spark, path, latestV)
    // each upsertMor/upsertMorOnce commit added ONE dir, listed in both lists
    assert(last.dirs.size == 7, last.dirs)
    assert(last.deletes.map(_._1).count(last.dirs.contains) == 4, last.deletes)
    assert(last.deletes.size == 7, last.deletes)

    def got(df: org.apache.spark.sql.DataFrame, name: String): Ref =
      df.collect().map { r =>
        val x = if (r.schema.fieldNames.contains("x") && !r.isNullAt(r.fieldIndex("x")))
          Some(r.getAs[Long]("x")) else None
        r.getAs[Long]("id") -> ((r.getAs[String](name), r.getAs[Int]("n"), x))
      }.toMap
    def check(label: String): Unit = refs.toSeq.sortBy(_._1).foreach { case (v, want) =>
      val df = VersionedTable.readVersion(spark, path, v)
      val name = if (df.columns.contains("w")) "w" else "v"
      val rows = df.collect()
      assert(rows.length == want.size, s"$label v$v: ${rows.length} rows, want ${want.size}")
      assert(got(df, name) == want, s"$label v$v")
    }
    check("chain")
    // pruned reads: a dir left out by its bounds still deletes its keys
    for (n <- 0 to 4) {
      val pruned = VersionedTable.readPruned(spark, path,
        Seq(VersionedTable.LongRange("n", n.toLong, n.toLong))).filter($"n" === n)
      assert(got(pruned, "w") == ref.filter(_._2._2 == n), s"readPruned n = $n")
    }
    VersionedTable.compact(spark, path, 100L)
    assert(VersionedTable.readManifestForTest(spark, path, latestV).deletes.isEmpty)
    assert(got(VersionedTable.read(spark, path), "w") == ref, "compact")
    check("after compact")
  }
}
