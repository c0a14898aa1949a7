package graft

import graft.sinks.VersionedTable
import graft.sources.ShardedIngest
import graft.streaming.JdbcPollStream
import org.apache.spark.sql.{SaveMode, DataFrame}
import org.apache.spark.sql.functions._

/** [[JdbcPollStream]] — the reference deployment running AS a stream —
  * under the failure modes the registered query does not inject:
  * crash BEFORE the sink commit (at-least-once redelivery must re-poll the
  * same offsets and commit once), a HARD KILL with a cold restart (fresh
  * runUntilDrained call over the same checkpoint + table), and the
  * offset-recovery invariant itself (committed per-shard counts ≡ offsets).
  * The registered `streaming_jdbc_ingest` covers crash-AFTER-commit (batch
  * id replayed and refused) plus live shard re-discovery.
  */
class JdbcStreamSpec extends SparkSpec {
  import spark.implicits._

  private def freshDirs(name: String): (String, String) = {
    val base = s"/tmp/graft_stream/jdbc_spec_$name"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    (s"$base/table", s"$base/ck")
  }

  /** Two shards × 25 rows each, ordered by `ord`; `mode` Append inserts
    * them into an existing table. */
  private def stage(url: String, mode: SaveMode = SaveMode.Overwrite): DataFrame = {
    val df = (for { sh <- Seq("a", "b"); i <- 1 to 25 }
      yield (sh, i.toLong)).toDF("shard", "ord")
    df.write.format("jdbc").option("url", url).option("dbtable", "t")
      .option("createTableColumnTypes", "shard VARCHAR(32)")
      .mode(mode).save()
    df
  }

  private def cfg(url: String, tablePath: String, ck: String): JdbcPollStream.Config =
    JdbcPollStream.Config(url = url, table = "t", shardCol = "shard",
      sortCols = Seq("ord"), pageSize = 10L, tablePath = tablePath,
      checkpointDir = ck)

  /** Ground truth with the page→cycle map: cycle = (rank-1)/10 + 1. */
  private def expected: Seq[(String, Long, Long)] =
    for { sh <- Seq("a", "b"); i <- 1 to 25 }
      yield (sh, i.toLong, ((i - 1) / 10 + 1).toLong)

  private def readBack(tablePath: String): Seq[(String, Long, Long)] =
    VersionedTable.read(spark, tablePath)
      .select($"shard", $"ord", $"cycle")
      .as[(String, Long, Long)].collect().sorted.toSeq

  test("clean run drains with exact page boundaries; offsets ≡ committed counts") {
    val url = "jdbc:derby:memory:jps_clean;create=true"
    val (table, ck) = freshDirs("clean")
    stage(url)
    JdbcPollStream.runUntilDrained(spark, cfg(url, table, ck))
    assert(readBack(table) == expected.sorted)
    // one commit per non-empty cycle: 3 pages per shard, aligned cycles
    assert(VersionedTable.versions(spark, table).size == 3)
    // the recovery invariant: committed per-shard counts ARE the offsets
    assert(JdbcPollStream.committedOffsets(spark, table, "shard") ==
      Map("a" -> 25L, "b" -> 25L))
  }

  test("an empty source table drains with no restart and no commit; rows inserted later drain on the next run") {
    val url = "jdbc:derby:memory:jps_empty;create=true"
    val (table, ck) = freshDirs("empty")
    Seq.empty[(String, Long)].toDF("shard", "ord")
      .write.format("jdbc").option("url", url).option("dbtable", "t")
      .option("createTableColumnTypes", "shard VARCHAR(32)")
      .mode(SaveMode.Overwrite).save()
    // maxRestarts = 0: a failing cycle propagates instead of restarting
    JdbcPollStream.runUntilDrained(spark, cfg(url, table, ck).copy(maxRestarts = 0))
    assert(VersionedTable.versions(spark, table).isEmpty, "an empty source must commit nothing")
    stage(url, SaveMode.Append)
    // the once-per-run schema probe resolves the generic page read's schema
    val shards = ShardedIngest.discoverShardsJdbc(spark, url, "t", "shard")
    assert(ShardedIngest.tableSchema(spark, url, "t") ==
      ShardedIngest.viaJdbc(spark, url, "t", "shard", Seq("ord"), Map.empty, 10L, shards).schema)
    JdbcPollStream.runUntilDrained(spark, cfg(url, table, ck).copy(maxRestarts = 0))
    assert(readBack(table) == expected.sorted)
    assert(JdbcPollStream.committedOffsets(spark, table, "shard") ==
      Map("a" -> 25L, "b" -> 25L))
  }

  test("a binary (FOR BIT DATA) column drains exactly once") {
    // every page reads through Spark's own JDBC row converter, so a column
    // type outside the poll loop's usual scalars pages like any other
    val url = "jdbc:derby:memory:jps_binary;create=true"
    val (table, ck) = freshDirs("binary")
    val c = java.sql.DriverManager.getConnection(url)
    try {
      c.createStatement().executeUpdate(
        """CREATE TABLE t ("shard" VARCHAR(32), "ord" BIGINT,
          |"payload" VARCHAR(16) FOR BIT DATA)""".stripMargin)
      val ins = c.prepareStatement("INSERT INTO t VALUES (?, ?, ?)")
      for { sh <- Seq("a", "b"); i <- 1 to 25 } {
        ins.setString(1, sh); ins.setLong(2, i.toLong)
        if (i % 5 == 0) ins.setNull(3, java.sql.Types.VARBINARY)
        else ins.setBytes(3, Array.tabulate(i % 7 + 1)(j => (i * 31 + j).toByte))
        ins.executeUpdate()
      }
    } finally c.close()
    JdbcPollStream.runUntilDrained(spark, cfg(url, table, ck).copy(maxRestarts = 0))
    val got = VersionedTable.read(spark, table).select($"shard", $"ord", $"payload", $"cycle")
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getAs[Array[Byte]](2)).map(_.toSeq), r.getLong(3))).sortBy(r => (r._1, r._2)).toSeq
    val want = for { sh <- Seq("a", "b"); i <- 1 to 25 } yield (sh, i.toLong,
      if (i % 5 == 0) None else Some(Array.tabulate(i % 7 + 1)(j => (i * 31 + j).toByte).toSeq),
      ((i - 1) / 10 + 1).toLong)
    assert(got == want)
    assert(VersionedTable.versions(spark, table).size == 3)
  }

  test("crash BEFORE the sink commit: redelivery re-polls the same offsets, commits once") {
    val url = "jdbc:derby:memory:jps_precrash;create=true"
    val (table, ck) = freshDirs("precrash")
    stage(url)
    @volatile var crashed = false
    JdbcPollStream.runUntilDrained(spark, cfg(url, table, ck).copy(
      beforeCommit = { cycle =>
        if (cycle == 2L && !crashed) {
          crashed = true
          throw new RuntimeException("injected crash: before sink commit")
        }
      }))
    assert(crashed)
    // the redelivered batch re-derived offsets from committed data (cycle 1
    // only) and committed cycle 2 exactly once — no gap, no duplicate
    assert(readBack(table) == expected.sorted)
    assert(VersionedTable.versions(spark, table).size == 3)
  }

  test("exactly-once when the source grows under a page and its blocks are lost") {
    // the live-source fault: rows land at the tail of a shard whose page is
    // short, and any cached page block is evicted, between the page's
    // planning and its commit. A page that is counted once and written from
    // a second read commits more rows than its offsets advance by, and the
    // next cycle re-reads them; the offsets must be the counts of the rows
    // the commit holds.
    val url = "jdbc:derby:memory:jps_grow;create=true"
    val (table, ck) = freshDirs("grow")
    stage(url)
    val tail = (26 to 28).map(i => ("a", i.toLong))
    @volatile var injected = false
    JdbcPollStream.runUntilDrained(spark, cfg(url, table, ck).copy(
      beforeCommit = { cycle =>
        if (cycle == 3L && !injected) {
          injected = true
          tail.toDF("shard", "ord").write.format("jdbc").option("url", url)
            .option("dbtable", "t").mode(SaveMode.Append).save()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        }
      }))
    assert(injected)
    val source = (for { sh <- Seq("a", "b"); i <- 1 to 25 } yield (sh, i.toLong)) ++ tail
    val got = VersionedTable.read(spark, table).select($"shard", $"ord")
      .as[(String, Long)].collect().toSeq
    assert(got.size == got.distinct.size, s"${got.size - got.distinct.size} duplicated rows")
    assert(got.sorted == source.sorted)
    assert(JdbcPollStream.committedOffsets(spark, table, "shard") ==
      Map("a" -> 28L, "b" -> 25L))
    assert(spark.sharedState.cacheManager.isEmpty, "the poll loop left a cached frame")
  }

  test("hard kill + cold restart: a fresh run over the same checkpoint finishes exactly-once") {
    val url = "jdbc:derby:memory:jps_kill;create=true"
    val (table, ck) = freshDirs("kill")
    stage(url)
    // process death modeled as restarts EXHAUSTED mid-run: the crash at
    // cycle 2 propagates out of runUntilDrained (maxRestarts = 0), leaving
    // a committed prefix + a checkpoint, like a killed driver would
    @volatile var crashed = false
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      JdbcPollStream.runUntilDrained(spark, cfg(url, table, ck).copy(
        maxRestarts = 0,
        afterCommit = { cycle =>
          if (cycle == 2L && !crashed) {
            crashed = true
            throw new RuntimeException("injected kill: after sink commit")
          }
        }))
    }
    val committedAtKill = VersionedTable.versions(spark, table).size
    assert(committedAtKill >= 2, s"kill left $committedAtKill commits")
    // cold restart: a brand-new run (fresh driver state, same dirs) must
    // refuse the replayed batch id, re-derive offsets, and finish exact
    JdbcPollStream.runUntilDrained(spark, cfg(url, table, ck))
    assert(readBack(table) == expected.sorted)
    assert(VersionedTable.versions(spark, table).size == 3)
  }

  test("timestamp+incrementing stream captures a LIVE same-timestamp race (r15)") {
    // the composite CDC mode under ProcessingTime: rows committing AT the
    // high-watermark timestamp with higher ids, injected mid-stream after
    // the first committed cycle — the `timestamp`-only predicate would
    // never see them; the (ts, id) lexicographic watermark must pull
    // exactly them and then drain quiescent
    val url = "jdbc:derby:memory:jps_race;create=true"
    val (table, ck) = freshDirs("race")
    // 20 rows sharing TWO timestamps (10, 20) — collisions by construction
    val base = (1 to 20).map(i => (i.toLong, if (i <= 10) 10L else 20L, i * 7L))
    base.toDF("id", "ts", "v")
      .write.format("jdbc").option("url", url).option("dbtable", "t")
      .mode(SaveMode.Overwrite).save()
    @volatile var injected = false
    JdbcPollStream.runCdcUntilDrained(spark, JdbcPollStream.CdcConfig(
      url = url, table = "t", keys = Seq("id"), tsCol = "ts",
      tablePath = table, checkpointDir = ck, incCol = Some("id"),
      afterCommit = { cycle =>
        if (cycle == 1L && !injected) {
          injected = true
          // the race: ids 21..25 land AT the watermark timestamp (20)
          (21 to 25).map(i => (i.toLong, 20L, i * 7L)).toDF("id", "ts", "v")
            .write.format("jdbc").option("url", url).option("dbtable", "t")
            .mode(SaveMode.Append).save()
        }
      }))
    assert(injected, "the race must have been staged after cycle 1")
    val got = VersionedTable.read(spark, table)
      .select($"id", $"ts", $"v").as[(Long, Long, Long)].collect().toSet
    val want = (base ++ (21 to 25).map(i => (i.toLong, 20L, i * 7L))).toSet
    assert(got == want, s"raced rows missing or duplicated: got ${got.size}")
    // the derived composite hwm is the lexicographic max
    assert(JdbcPollStream.committedHwmInc(spark, table, "ts", "id") == ((20L, 25L)))
  }

  test("hwm derivation is metadata-only: zero Spark jobs once dirs track the watermark") {
    val (table, _) = freshDirs("hwm_meta")
    // batch 0: plain mode bounds; batch 1 stages the pair trap — the row
    // with the max ts (30) carries a LOW id (3), while the max id (9) sits
    // at ts 25: naive (max ts_hi, max inc_hi) = (30, 9) would overstate
    // the pair and skip raced source rows forever; the exact pair bound is
    // (30, 3).
    assert(VersionedTable.upsertMorOnce(
      Seq((1L, 10L, 1L), (2L, 20L, 2L)).toDF("id", "ts", "v"),
      table, Seq("id"), 0L,
      statsCols = Seq("ts", "id"), pairCols = Some(("ts", "id"))))
    assert(VersionedTable.upsertMorOnce(
      Seq((3L, 30L, 3L), (9L, 25L, 9L)).toDF("id", "ts", "v"),
      table, Seq("id"), 1L,
      statsCols = Seq("ts", "id"), pairCols = Some(("ts", "id"))))
    var h = 0L
    var hp = (0L, 0L)
    val n = jobsLaunchedBy {
      h = JdbcPollStream.committedHwm(spark, table, "ts")
      hp = JdbcPollStream.committedHwmInc(spark, table, "ts", "id")
    }
    assert(n == 0, s"hwm derivation launched $n Spark jobs; must be manifest-only")
    assert(h == 30L)
    assert(hp == ((30L, 3L)), s"pair hwm must be the exact lexicographic max, got $hp")
    // and both agree with the scan-derived truth
    import org.apache.spark.sql.functions.{max, struct}
    assert(VersionedTable.read(spark, table).agg(max($"ts")).head.getLong(0) == h)
    val r = VersionedTable.read(spark, table)
      .agg(max(struct($"ts", $"id"))).head.getStruct(0)
    assert((r.getLong(0), r.getLong(1)) == hp)
  }

  test("compact keeps the watermark bounds: hwm derivation stays metadata-only") {
    val (table, _) = freshDirs("hwm_compact")
    assert(VersionedTable.upsertMorOnce(
      Seq((1L, 10L, 1L), (2L, 20L, 2L)).toDF("id", "ts", "v"), table, Seq("id"), 0L,
      statsCols = Seq("ts", "id"), pairCols = Some(("ts", "id"))))
    assert(VersionedTable.upsertMorOnce(
      Seq((3L, 30L, 3L), (9L, 25L, 9L), (2L, 26L, 5L)).toDF("id", "ts", "v"),
      table, Seq("id"), 1L, statsCols = Seq("ts", "id"), pairCols = Some(("ts", "id"))))
    VersionedTable.compact(spark, table, targetRowsPerFile = 1000L)
    import org.apache.spark.sql.functions.{max, struct}
    val merged = VersionedTable.read(spark, table)
    val scanTs = merged.agg(max($"ts")).head.getLong(0)
    val r = merged.agg(max(struct($"ts", $"id"))).head.getStruct(0)
    var h = 0L
    var hp = (0L, 0L)
    val n = jobsLaunchedBy {
      h = JdbcPollStream.committedHwm(spark, table, "ts")
      hp = JdbcPollStream.committedHwmInc(spark, table, "ts", "id")
    }
    assert(n == 0, s"hwm derivation after compact launched $n Spark jobs")
    assert(h == scanTs && h == 30L)
    assert(hp == ((r.getLong(0), r.getLong(1))) && hp == ((30L, 3L)))
  }

  test("compactSmall keeps the watermark bounds: hwm derivation stays metadata-only") {
    val (table, _) = freshDirs("hwm_compact_small")
    assert(VersionedTable.upsertMorOnce(
      Seq((1L, 10L, 1L), (2L, 20L, 2L)).toDF("id", "ts", "v"), table, Seq("id"), 0L,
      statsCols = Seq("ts", "id"), pairCols = Some(("ts", "id"))))
    assert(VersionedTable.upsertMorOnce(
      Seq((3L, 30L, 3L), (9L, 25L, 9L), (2L, 26L, 5L)).toDF("id", "ts", "v"),
      table, Seq("id"), 1L, statsCols = Seq("ts", "id"), pairCols = Some(("ts", "id"))))
    assert(VersionedTable.compactSmall(spark, table, smallThresholdRows = 1000L,
      targetRowsPerFile = 1000L) == 3)
    import org.apache.spark.sql.functions.{max, struct}
    val merged = VersionedTable.read(spark, table)
    val scanTs = merged.agg(max($"ts")).head.getLong(0)
    val r = merged.agg(max(struct($"ts", $"id"))).head.getStruct(0)
    var h = 0L
    var hp = (0L, 0L)
    val n = jobsLaunchedBy {
      h = JdbcPollStream.committedHwm(spark, table, "ts")
      hp = JdbcPollStream.committedHwmInc(spark, table, "ts", "id")
    }
    assert(n == 0, s"hwm derivation after compactSmall launched $n Spark jobs")
    assert(h == scanTs && h == 30L)
    assert(hp == ((r.getLong(0), r.getLong(1))) && hp == ((30L, 3L)))
  }

  test("hwm falls back to the scan when a dir is untracked, and stays correct") {
    val (table, _) = freshDirs("hwm_fallback")
    assert(VersionedTable.upsertMorOnce(
      Seq((1L, 10L, 1L)).toDF("id", "ts", "v"), table, Seq("id"), 0L,
      statsCols = Seq("ts"), pairCols = Some(("ts", "id"))))
    // a legacy (non-tracking) writer commits a dir with no bounds
    VersionedTable.upsertMor(
      Seq((2L, 40L, 2L)).toDF("id", "ts", "v"), table, Seq("id"))
    assert(VersionedTable.manifestHwm(spark, table, "ts").isEmpty,
      "an untracked dir must disqualify the metadata path")
    assert(VersionedTable.manifestHwmPair(spark, table, "ts", "id").isEmpty)
    // the public hwm API still answers — via the scan fallback
    assert(JdbcPollStream.committedHwm(spark, table, "ts") == 40L)
    assert(JdbcPollStream.committedHwmInc(spark, table, "ts", "id") == ((40L, 2L)))
  }

  test("empty / absent tables derive MinValue watermarks without scanning") {
    val (table, _) = freshDirs("hwm_empty")
    val n = jobsLaunchedBy {
      assert(JdbcPollStream.committedHwm(spark, table, "ts") == Long.MinValue)
      assert(JdbcPollStream.committedHwmInc(spark, table, "ts", "id") ==
        ((Long.MinValue, Long.MinValue)))
    }
    assert(n == 0, s"absent-table hwm launched $n jobs")
  }

  test("a quiescent CDC cycle leaves no staged dir and adds no version") {
    val url = "jdbc:derby:memory:jps_quiet;create=true"
    val (table, ck) = freshDirs("cdc_quiet")
    (1 to 6).map(i => (i.toLong, i * 10L, i * 7L)).toDF("id", "ts", "v")
      .write.format("jdbc").option("url", url).option("dbtable", "t")
      .mode(SaveMode.Overwrite).save()
    def cdc(): Unit = JdbcPollStream.runCdcUntilDrained(spark, JdbcPollStream.CdcConfig(
      url = url, table = "t", keys = Seq("id"), tsCol = "ts", tablePath = table,
      checkpointDir = ck))
    def onDisk(): Set[String] =
      new java.io.File(table).listFiles.map(_.getName).filter(_.startsWith("d-")).toSet
    def latest = VersionedTable.readManifestForTest(spark, table,
      VersionedTable.versions(spark, table).last)
    cdc() // one commit, then a quiescent cycle drains the run
    assert(VersionedTable.versions(spark, table) == Seq(1))
    assert(latest.dirs.size == 1 && latest.deletes == Seq(latest.dirs.head -> 1),
      "the commit must add one dir, listed as data and as its own deletes")
    assert(onDisk() == latest.dirs.toSet, s"staged dirs left behind: ${onDisk()}")
    cdc() // the same checkpoint: the first cycle is already quiescent
    assert(VersionedTable.versions(spark, table) == Seq(1))
    assert(onDisk() == latest.dirs.toSet, s"a quiescent cycle left a staged dir: ${onDisk()}")
    // an in-place update lands as one more self-deleting dir
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().executeUpdate("""UPDATE t SET "ts" = 100, "v" = -1 WHERE "id" = 3""")
    finally c.close()
    cdc()
    assert(VersionedTable.versions(spark, table) == Seq(1, 2))
    assert(latest.dirs.size == 2 && latest.deletes.map(_._1) == latest.dirs)
    assert(onDisk() == latest.dirs.toSet, s"staged dirs left behind: ${onDisk()}")
    val got = VersionedTable.read(spark, table).select($"id", $"ts", $"v")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(got == (1 to 6).map(i => if (i == 3) (3L, 100L, -1L) else (i.toLong, i * 10L, i * 7L)))
  }

  test("a task failure in upsertMorOnce's write leaves nothing visible; the redelivered batch commits once") {
    val (table, _) = freshDirs("mor_task_fail")
    def rows = VersionedTable.read(spark, table).select($"id", $"ts", $"v")
      .as[(Long, Long, Long)].collect().toSet
    assert(VersionedTable.upsertMorOnce(Seq((1L, 10L, 1L), (2L, 20L, 2L)).toDF("id", "ts", "v"),
      table, Seq("id"), 0L, statsCols = Seq("ts")))
    val before = rows
    val boom = udf { (id: Long) =>
      if (JdbcStreamSpec.failWrites.get()) throw new IllegalStateException("injected task failure")
      id
    }
    val batch = Seq((2L, 30L, 20L), (3L, 30L, 3L)).toDF("id", "ts", "v")
      .withColumn("id", boom($"id"))
    JdbcStreamSpec.failWrites.set(true)
    try intercept[Exception](
      VersionedTable.upsertMorOnce(batch, table, Seq("id"), 1L, statsCols = Seq("ts")))
    finally JdbcStreamSpec.failWrites.set(false)
    assert(VersionedTable.versions(spark, table) == Seq(1), "the failed write committed")
    assert(rows == before)
    assert(JdbcPollStream.committedHwm(spark, table, "ts") == 20L)
    // the redelivery of batch 1 commits once; a second one is refused
    assert(VersionedTable.upsertMorOnce(batch, table, Seq("id"), 1L, statsCols = Seq("ts")))
    assert(!VersionedTable.upsertMorOnce(batch, table, Seq("id"), 1L, statsCols = Seq("ts")))
    assert(VersionedTable.versions(spark, table) == Seq(1, 2))
    assert(rows == Set((1L, 10L, 1L), (2L, 30L, 20L), (3L, 30L, 3L)))
    assert(JdbcPollStream.committedHwm(spark, table, "ts") == 30L)
  }
}

object JdbcStreamSpec {
  /** Makes the injected UDF throw inside a write task while set. */
  val failWrites = new java.util.concurrent.atomic.AtomicBoolean(false)
}
