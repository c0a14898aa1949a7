package graft

import graft.operators.{Ann, NearDup}
import graft.sinks.{GraftTableWriter, VersionedTable}
import graft.streaming.JdbcPollStream
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col

/** Recorded Spark-job counts for operators whose plan is known: the jobs
  * launched while each call runs and its result is collected, in this
  * suite's session (local[8], 8 shuffle partitions, AQE on). A budget is the
  * count the current plan launches, so a regression that adds work per
  * round (a second join and count in every connected-components round, a
  * re-run of semantic dedup's upstream plan per consumer) fails here. */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents on a 12-node path stays within its job budget") {
    // 10 propagation rounds after the folded first hop; the plan with a
    // separate init round and a join-and-count convergence test took 98
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val jobs = jobsLaunchedBy(NearDup.connectedComponents(pairs).collect())
    assert(jobs <= 50, s"connectedComponents launched $jobs jobs, budget 50")
  }

  test("semanticDedup on the sf0.01 embeddings stays within its job budget") {
    // the plan that re-joined lazy assignments per consumer took 48
    val emb = core.table(spark, sf("sf0.01"), "embeddings")
    val jobs = jobsLaunchedBy(Ann.semanticDedup(emb, 0.45, k = 8, iters = 3).collect())
    assert(jobs <= 26, s"semanticDedup launched $jobs jobs, budget 26")
  }

  private def freshTable(name: String): String = {
    val p = s"/tmp/graft_tables/job_budget_$name"
    GraftTableWriter.drop(spark, p)
    p
  }

  private def rows = (1L to 200L).map(i => (i, i * 3, s"s${i % 17}")).toDF("id", "ts", "k")

  // The stats-tracking writes take their bounds from the observation on the
  // data-dir write itself, so they launch only their dir writes: a plain
  // append or an upsertMorOnce (one data dir, deleting its own keys) is 1
  // job, and a sorted write 3. The plans with a separate bounds aggregate
  // took 2 more jobs each (3, 3, 5 and 5), and the upsert's separate
  // distinct key dir 2 more.
  test("stats-tracking writes launch no job besides their dir writes") {
    val stats = jobsLaunchedBy(
      VersionedTable.appendWithStats(rows, freshTable("stats"), Seq("ts", "k")))
    assert(stats <= 1, s"appendWithStats launched $stats jobs, budget 1")
    val hidden = jobsLaunchedBy(VersionedTable.appendWithHiddenStats(
      rows, freshTable("hidden"), "ts_bucket", (col("ts") / 10).cast("long")))
    assert(hidden <= 1, s"appendWithHiddenStats launched $hidden jobs, budget 1")
    val sorted = jobsLaunchedBy(
      VersionedTable.appendSorted(rows, freshTable("sorted"), Seq("ts" -> "desc")))
    assert(sorted <= 3, s"appendSorted launched $sorted jobs, budget 3")
    val mor = jobsLaunchedBy(VersionedTable.upsertMorOnce(rows, freshTable("mor"),
      Seq("id"), 0L, statsCols = Seq("ts", "id"), pairCols = Some(("ts", "id"))))
    assert(mor <= 1, s"upsertMorOnce with stats launched $mor jobs, budget 1")
  }

  // compact plans from the row counts the manifest records, so it launches
  // only its rewrite's jobs: the repartition's map stage and the write. The
  // plan that counted the table's rows first took 4.
  test("compact launches only its write's jobs") {
    val p = freshTable("compact")
    (0 until 4).foreach(i => VersionedTable.appendWithStats(rows.filter(col("id") % 4 === i),
      p, Seq("ts")))
    val jobs = jobsLaunchedBy(VersionedTable.compact(spark, p, 1000L))
    assert(VersionedTable.read(spark, p).count() == 200L)
    assert(jobs <= 2, s"compact launched $jobs jobs, budget 2")
  }

  test("one non-empty poll cycle: its page is read only by its write") {
    // the run stops at the first commit (a throw in afterCommit with no
    // restart allowed), so exactly one non-empty cycle is counted. The plan
    // that persisted the page and counted it with its own job took 2.
    val url = "jdbc:derby:memory:job_budget_poll;create=true"
    val base = "/tmp/graft_stream/job_budget_poll"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    (for { sh <- Seq("a", "b"); i <- 1 to 5 } yield (sh, i.toLong)).toDF("shard", "ord")
      .write.format("jdbc").option("url", url).option("dbtable", "t")
      .option("createTableColumnTypes", "shard VARCHAR(32)").mode(SaveMode.Overwrite).save()
    val jobs = jobsLaunchedBy {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        JdbcPollStream.runUntilDrained(spark, JdbcPollStream.Config(
          url = url, table = "t", shardCol = "shard", sortCols = Seq("ord"), pageSize = 10L,
          tablePath = s"$base/table", checkpointDir = s"$base/ck", maxRestarts = 0,
          afterCommit = _ => throw new RuntimeException("stop after the first commit")))
      }
    }
    assert(VersionedTable.read(spark, s"$base/table").count() == 10L)
    assert(jobs <= 1, s"one non-empty poll cycle launched $jobs jobs, budget 1")
  }

  test("one non-empty CDC cycle: its delta is read only by its one write") {
    // stopped at the first commit, as above. The plan that checkpointed the
    // delta, tested it for emptiness and wrote a distinct key dir took 5.
    val url = "jdbc:derby:memory:job_budget_cdc;create=true"
    val base = "/tmp/graft_stream/job_budget_cdc"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    (1 to 10).map(i => (i.toLong, i * 10L, i * 3L)).toDF("id", "ts", "v")
      .write.format("jdbc").option("url", url).option("dbtable", "t")
      .mode(SaveMode.Overwrite).save()
    val jobs = jobsLaunchedBy {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        JdbcPollStream.runCdcUntilDrained(spark, JdbcPollStream.CdcConfig(
          url = url, table = "t", keys = Seq("id"), tsCol = "ts", tablePath = s"$base/table",
          checkpointDir = s"$base/ck", incCol = Some("id"), maxRestarts = 0,
          afterCommit = _ => throw new RuntimeException("stop after the first commit")))
      }
    }
    val snap = VersionedTable.readManifestForTest(spark, s"$base/table", 1)
    assert(snap.dirs.size == 1 && snap.deletes == Seq(snap.dirs.head -> 1))
    assert(VersionedTable.read(spark, s"$base/table").count() == 10L)
    assert(jobs <= 1, s"one non-empty CDC cycle launched $jobs jobs, budget 1")
  }

  // The manifest records every dir's schema, so a read is built from
  // metadata: one scan under the recorded schemas and no inference job.
  // Each upsert dir deletes its own keys, so that one scan also yields the
  // delete sequences and counting takes one exchange. The plan that
  // inferred each dir's schema launched one job per data and delete dir to
  // BUILD the read (12 here) and 16 to count; the one that scanned separate
  // key dirs and joined them counted in 4.
  test("a merge-on-read table with a rename builds its read with no job") {
    val p = freshTable("mor_read")
    (0 until 6).foreach { i =>
      val batch = rows.filter(col("id") % 6 === i)
      VersionedTable.upsertMor(if (i < 3) batch else batch.withColumn("extra", col("ts") + 1),
        p, Seq("id"))
    }
    VersionedTable.renameColumn(spark, p, "k", "kind")
    val snap = VersionedTable.readManifestForTest(spark, p, VersionedTable.versions(spark, p).last)
    assert(snap.dirs.size == 6 && snap.deletes.map(_._1) == snap.dirs)
    val build = jobsLaunchedBy(VersionedTable.read(spark, p))
    assert(build == 0, s"building the read launched $build jobs")
    var n = 0L
    val count = jobsLaunchedBy { n = VersionedTable.read(spark, p).count() }
    assert(n == 200L)
    assert(count <= 3, s"counting the read launched $count jobs, budget 3")
  }
}
