package perfbench

import graft.sinks.IcebergExport
import graft.sources.{IcebergRead, ShardedIngest}
import graft.streaming.JdbcPollStream
import java.sql.Connection
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The backlog part of the `ingest` workload: the reference deployment
  * draining a warehouse backlog. Derby holds the events of the start
  * shards; the late shards are inserted after cycle 1 commits; every cycle
  * ends with an Iceberg snapshot (`export` after cycle 1,
  * `exportIncremental` after each later one); one crash is injected right
  * after cycle 2's commit. It gives the workload's `rows_per_s`. */
object Backlog {
  val Table = "events"
  val SortCols = Seq("ts_us", "event_id")
  val CrashAfterCycle = 2L
  val MinRounds = 2

  final case class Round(setupS: Double, drainS: Double, rows: Long,
      exportMs: Seq[(Long, Double)], cycles: Int, restarts: Long, recoveryMs: Double,
      verifyReadMs: Double, jdbcDataRows: Long, db: String, tablePath: String,
      exportPath: String)

  private def insert(c: Connection, events: Seq[Gen.Event]): Unit = {
    c.setAutoCommit(false)
    val ps = c.prepareStatement(s"INSERT INTO $Table VALUES (?, ?, ?, ?, ?, ?)")
    try {
      events.foreach { e =>
        ps.setLong(1, e.id); ps.setString(2, e.shard); ps.setLong(3, e.tsUs)
        ps.setInt(4, e.userId); ps.setLong(5, e.amountE2); ps.setString(6, e.note)
        ps.addBatch()
      }
      ps.executeBatch()
      c.commit()
    } finally { ps.close(); c.setAutoCommit(true) }
  }

  /** Stage the start shards and build the covering index on the shard and
    * sort keys, so every page is an index range scan. */
  private def stage(db: String, in: Gen.Backlog): Unit = Derby.withConn(db, create = true) { c =>
    Derby.exec(c, s"""CREATE TABLE $Table ("event_id" BIGINT NOT NULL,
      "shard" VARCHAR(16) NOT NULL, "ts_us" BIGINT NOT NULL, "user_id" INT NOT NULL,
      "amount_e2" BIGINT NOT NULL, "note" VARCHAR(32) NOT NULL)""")
    insert(c, in.startEvents)
    Derby.exec(c, s"""CREATE INDEX ${Table}_poll ON $Table ("shard", "ts_us", "event_id")""")
  }

  /** One drain of a freshly staged backlog, checked against the source. */
  private def round(ctx: Ctx, in: Gen.Backlog, expCycle: Map[Long, Long],
      traced: Boolean): Round = {
    val spark = ctx.spark
    val tr = ctx.tracer
    tr.enabled = traced
    val t0 = System.nanoTime()
    val db = s"backlog${ctx.next()}"
    stage(db, in)
    val setupS = Clock.secondsSince(t0)

    val dir = ctx.fresh("backlog")
    val tablePath = s"$dir/table"
    val exportPath = s"$dir/iceberg"
    val before = new ConcurrentHashMap[Long, Long]()
    val cycleEnd = new ConcurrentHashMap[Long, Long]()
    val exportMs = new ConcurrentHashMap[Long, Double]()
    @volatile var lastHookEnd = Clock.ms()
    @volatile var lateDone = false
    @volatile var lateInsertS = 0.0
    @volatile var crashedAt = 0L
    @volatile var recoveryMs = 0.0
    val restarts0 = ctx.restarts.get()
    CountingJdbc.dataRows.set(0L)
    lastHookEnd = Clock.ms()
    val s0 = System.nanoTime()
    JdbcPollStream.runUntilDrained(spark, JdbcPollStream.Config(
      url = Derby.url(db, counting = traced), table = Table, shardCol = "shard",
      sortCols = SortCols, pageSize = in.pageSize, tablePath = tablePath,
      checkpointDir = s"$dir/ck", timeoutMs = 120000L,
      beforeCommit = c => before.put(c, Clock.ms()),
      afterCommit = c => {
        val committed = Clock.ms()
        val b = before.getOrDefault(c, committed)
        tr.add(Span("streaming.read", c, lastHookEnd, b, None))
        tr.add(Span("sinks.commit", c, b, committed, None))
        if (crashedAt > 0L && recoveryMs == 0.0) recoveryMs = (committed - crashedAt).toDouble
        val (_, ms) = Clock.timeMs(tr.span(spark, "sinks.export", c, group = false) {
          if (c == 1L) IcebergExport.export(spark, tablePath, exportPath)
          else IcebergExport.exportIncremental(spark, tablePath, exportPath)
        })
        exportMs.put(c, ms)
        val end = Clock.ms()
        cycleEnd.put(c, end)
        tr.add(Span("streaming.cycle", c, lastHookEnd, end, None))
        lastHookEnd = end
        if (c == 1L && !lateDone) {
          val i0 = System.nanoTime()
          Derby.withConn(db)(insert(_, in.lateEvents))
          lateInsertS = Clock.secondsSince(i0)
          lateDone = true
          lastHookEnd = Clock.ms()
        }
        if (c == CrashAfterCycle && crashedAt == 0L) {
          crashedAt = Clock.ms()
          throw new RuntimeException("injected crash: sink committed, checkpoint not")
        }
      }))
    // the late insert is the benchmark's work on the stream thread, not graft's
    val drainS = Clock.secondsSince(s0) - lateInsertS
    val jdbcRows = CountingJdbc.dataRows.get()
    ctx.drainEvents()
    val restarts = ctx.restarts.get() - restarts0
    val cycles = cycleEnd.size
    (0 until cycles).foreach(_ => ctx.out.op(true))
    // the injected crash is the one expected restart
    ctx.out.check("backlog.restarts", restarts == 1L, s"$restarts restarts, 1 injected")

    val (rows, verifyMs) = Clock.timeMs(tr.span(spark, "sources.iceberg_read", 0L) {
      IcebergRead.read(spark, exportPath)
        .select("event_id", "shard", "ts_us", "user_id", "amount_e2", "note", "cycle")
        .collect()
    })
    val byId = in.events.map(e => e.id -> e).toMap
    val ids = rows.map(_.getAs[Number](0).longValue)
    ctx.out.check("backlog.no_duplicate", ids.distinct.length == ids.length,
      s"${ids.length - ids.distinct.length} duplicated rows")
    ctx.out.check("backlog.no_gap", ids.toSet == byId.keySet,
      s"${(byId.keySet -- ids).size} rows missing, ${(ids.toSet -- byId.keySet).size} foreign")
    val mismatched = rows.count { r =>
      byId.get(r.getAs[Number](0).longValue).forall { e =>
        e.shard != r.getString(1) || e.tsUs != r.getAs[Number](2).longValue ||
        e.userId != r.getAs[Number](3).intValue || e.amountE2 != r.getAs[Number](4).longValue ||
        e.note != r.getString(5) || expCycle(e.id) != r.getAs[Number](6).longValue
      }
    }
    ctx.out.check("backlog.rows_and_cycles", mismatched == 0,
      s"$mismatched rows differ from the source or landed in the wrong cycle")
    Round(setupS, drainS, in.events.size.toLong, exportMs.asScala.toSeq.sortBy(_._1),
      cycles, restarts, recoveryMs, verifyMs, jdbcRows, db, tablePath, exportPath)
  }

  private def cleanup(r: Round): Round = {
    Derby.drop(r.db)
    Disk.rmrf(new java.io.File(r.tablePath).getParent)
    r
  }

  def run(ctx: Ctx): Unit = {
    val in = Gen.backlog(ctx.seed)
    val expCycle = in.expectedCycle
    val out = ctx.out
    // one full round first, not reported: class loading, JIT and code
    // generation are paid before timing. A quarter-size round costs as much
    // (first-use costs dominate) and leaves the first timed round slower.
    val w0 = System.nanoTime()
    cleanup(round(ctx, in, expCycle, traced = false))
    out.detail("backlog_warmup_s") = Clock.secondsSince(w0)
    if (!ctx.traced) {
      // the ingest workload's --seconds are shared with the live part; two
      // drains take longer than half of them
      val t0 = System.nanoTime()
      val rounds = ArrayBuffer.empty[Round]
      while (rounds.size < MinRounds || Clock.secondsSince(t0) < ctx.seconds / 2.0)
        rounds += cleanup(round(ctx, in, expCycle, traced = false))
      ctx.stagingS += Stats.median(rounds.map(_.setupS))
      out.e2e("rows_per_s") = Stats.median(rounds.map(r => r.rows / r.drainS))
      out.detail("backlog_rounds") = rounds.size
      out.detail("drain_s") = rounds.map(_.drainS)
    } else traced(ctx, in, expCycle)
  }

  private def traced(ctx: Ctx, in: Gen.Backlog, expCycle: Map[Long, Long]): Unit = {
    val spark = ctx.spark
    val out = ctx.out
    val plain = cleanup(round(ctx, in, expCycle, traced = false))
    val t0 = System.nanoTime()
    val rounds = ArrayBuffer.empty[Round]
    while (rounds.isEmpty || Clock.secondsSince(t0) < ctx.seconds / 2.0) {
      rounds.lastOption.foreach(cleanup)
      rounds += round(ctx, in, expCycle, traced = true)
    }
    val last = rounds.last
    // untraced rounds on both sides of the traced ones, so that the run
    // still warming up does not count as tracing cost
    val plainAfter = cleanup(round(ctx, in, expCycle, traced = false))
    val tr = ctx.tracer
    def durs(name: String) = tr.named(name).map(s => (s.endMs - s.startMs).toDouble)
    val L = out.layer
    out.addLayer("trace.overhead_ms",
      (Stats.median(rounds.map(_.drainS)) - (plain.drainS + plainAfter.drainS) / 2) * 1000)
    L("streaming.cycle_ms.p50") = Stats.percentile(durs("streaming.cycle"), 0.5)
    L("streaming.cycle_ms.p95") = Stats.percentile(durs("streaming.cycle"), 0.95)
    L("streaming.read_ms.p50") = Stats.percentile(durs("streaming.read"), 0.5)
    L("streaming.recovery_ms") = Stats.median(rounds.map(_.recoveryMs))
    L("streaming.cycles") = Stats.median(rounds.map(_.cycles.toDouble))
    out.addLayer("streaming.restarts", Stats.median(rounds.map(_.restarts.toDouble)))

    // layer probes against the last traced round's live source and table
    val url = Derby.url(last.db, counting = false)
    val shards = ShardedIngest.discoverShardsJdbc(spark, url, Table, "shard")
    out.addLayer("sources.jdbc_records_read", last.jdbcDataRows.toDouble)
    L("sources.read_amplification") = last.jdbcDataRows.toDouble / last.rows
    L("sources.discover_ms.p50") = Stats.median((0 until 15).map(_ =>
      Clock.timeMs(ShardedIngest.discoverShardsJdbc(spark, url, Table, "shard"))._2))
    val mid = in.events.groupBy(_.shard).map { case (s, es) => s -> (es.size / 2).toLong }
    val schema = ShardedIngest.viaJdbc(spark, url, Table, "shard", SortCols, mid,
      in.pageSize, shards).schema
    L("sources.page_ms.p50") = Stats.median((0 until 10).map(_ => Clock.timeMs(
      ShardedIngest.viaJdbcResolved(spark, url, Table, "shard", SortCols, mid, in.pageSize,
        shards, ShardedIngest.PagingDialect.OffsetFetch, schema)
        .write.format("noop").mode("overwrite").save())._2))
    L("sources.offsets_recover_ms") = Stats.median((0 until 5).map(_ => Clock.timeMs {
      val offs = JdbcPollStream.committedOffsets(spark, last.tablePath, "shard")
      out.check("backlog.recovered_offsets", offs.values.sum == in.events.size,
        s"offsets sum to ${offs.values.sum}, ${in.events.size} rows committed")
    }._2))
    L("sources.iceberg_read_ms") = Stats.median(rounds.map(_.verifyReadMs))

    L("sinks.commit_ms.p50") = Stats.percentile(durs("sinks.commit"), 0.5)
    L("sinks.commit_ms.p95") = Stats.percentile(durs("sinks.commit"), 0.95)
    // exportIncremental runs after cycles 2 on (cycle 1 runs the full
    // export); cycle c exports version c, so the slope on c is the growth
    // per version
    val exports = rounds.flatMap(_.exportMs).filter(_._1 > 1L).toSeq
    L("sinks.export_ms.p50") = Stats.percentile(exports.map(_._2), 0.5)
    L("sinks.export_ms.p95") = Stats.percentile(exports.map(_._2), 0.95)
    L("sinks.export_ms_per_100_versions") =
      100 * Stats.slope(exports.map(_._1.toDouble), exports.map(_._2))
    Storage.describe(ctx, last.tablePath, last.exportPath, last.rows)
    Seq("streaming.cycle", "sinks.export").foreach { s =>
      ctx.spanCounts(s, s).foreach { case (k, v) => L(k) = v }
    }
    cleanup(last)
  }
}
