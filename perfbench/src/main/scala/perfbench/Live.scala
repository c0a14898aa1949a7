package perfbench

import graft.sinks.VersionedTable
import graft.streaming.JdbcPollStream
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._

/** The live part of the `ingest` workload: an open loop of source
  * mutations at a fixed rate, under the timestamp+incrementing CDC stream
  * at graft's default poll interval, with one closed-loop reader of the
  * merged table. It gives the workload's `freshness_*` and `read_p50_ms`.
  * One generator thread on one Derby connection applies mutation i at its
  * due time t0 + i/rate, stamping the due time into `updated_us` and its
  * sequence number into `seq`. Each mutation locks the table for its
  * transaction, so every poll sees a prefix of the mutation sequence, the
  * consistency a warehouse snapshot gives. */
object Live {
  val Table = "live_rows"
  val WarmupSeconds = 1.5

  final case class Window(setupS: Double, mutations: Int, freshnessMs: Seq[Double],
      readsMs: Seq[Double], cycleMs: Seq[Double], earlyDrains: Int, restarts: Long,
      genLateMs: Seq[Double], backlogMax: Long, rowsPerS: Double, jdbcRows: Long,
      readRows: Long, db: String, tablePath: String)

  private def stage(db: String, in: Gen.Live): Unit = {
    Derby.withConn(db, create = true) { c =>
      Derby.exec(c, s"""CREATE TABLE $Table ("k" BIGINT NOT NULL PRIMARY KEY,
        "v" BIGINT NOT NULL, "grp" VARCHAR(8) NOT NULL, "updated_us" BIGINT NOT NULL,
        "seq" BIGINT NOT NULL)""")
      c.setAutoCommit(false)
      val ps = c.prepareStatement(s"INSERT INTO $Table VALUES (?, ?, ?, 1, ?)")
      in.initial.foreach { r =>
        ps.setLong(1, r.key); ps.setLong(2, r.value); ps.setString(3, r.grp)
        ps.setLong(4, r.key + 1); ps.addBatch()
      }
      ps.executeBatch(); ps.close(); c.commit(); c.setAutoCommit(true)
      // the CDC predicate ranges over (updated_us, seq)
      Derby.exec(c, s"""CREATE INDEX ${Table}_clock ON $Table ("updated_us", "seq")""")
    }
  }

  private def window(ctx: Ctx, in: Gen.Live, seconds: Double, traced: Boolean): Window = {
    val spark = ctx.spark
    val tr = ctx.tracer
    tr.enabled = traced
    val db = s"live${ctx.next()}"
    val s0 = System.nanoTime()
    stage(db, in)
    val setupS = Clock.secondsSince(s0)
    val dir = ctx.fresh("live")
    val tablePath = s"$dir/table"
    val k0 = in.initial.size.toLong
    val n = math.min(in.mutations.size, math.max(1, (in.rate * seconds).toInt))
    val dueNs = new Array[Long](n)
    val lateMs = new Array[Double](n)
    val commits = new ConcurrentLinkedQueue[(Long, Long)]() // (commit end ns, hwm seq)
    val reads = new ConcurrentLinkedQueue[java.lang.Double]()
    val cycles = new ConcurrentLinkedQueue[java.lang.Double]()
    val readRows = new AtomicLong()
    val issued = new AtomicLong()
    @volatile var genDone = false
    @volatile var genError: Option[Throwable] = None
    @volatile var lastHookEnd = Clock.ms()
    @volatile var backlogMax = 0L
    @volatile var cycle = 0L
    CountingJdbc.dataRows.set(0L)
    val restarts0 = ctx.restarts.get()

    val genStart = System.nanoTime()
    val epochUs0 = System.currentTimeMillis() * 1000L
    val gen = new Thread(() => {
      try Derby.withConn(db) { c =>
        c.setAutoCommit(false)
        val lock = c.createStatement()
        val ins = c.prepareStatement(s"INSERT INTO $Table VALUES (?, ?, ?, ?, ?)")
        val upd = c.prepareStatement(
          s"""UPDATE $Table SET "v" = ?, "grp" = ?, "updated_us" = ?, "seq" = ? WHERE "k" = ?""")
        var i = 0
        while (i < n) {
          val due = genStart + (i * 1e9 / in.rate).toLong
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          dueNs(i) = due
          lateMs(i) = (now - due) / 1e6
          val m = in.mutations(i)
          val ts = epochUs0 + (due - genStart) / 1000L
          lock.execute(s"LOCK TABLE $Table IN EXCLUSIVE MODE")
          if (m.insert) {
            ins.setLong(1, m.key); ins.setLong(2, m.value); ins.setString(3, m.grp)
            ins.setLong(4, ts); ins.setLong(5, m.seq); ins.executeUpdate()
          } else {
            upd.setLong(1, m.value); upd.setString(2, m.grp); upd.setLong(3, ts)
            upd.setLong(4, m.seq); upd.setLong(5, m.key); upd.executeUpdate()
          }
          c.commit()
          issued.set(i + 1L)
          i += 1
        }
      } catch { case e: Throwable => genError = Some(e) }
      genDone = true
    }, "perfbench-generator")

    val reader = new Thread(() => {
      spark.sparkContext.setJobGroup("perfbench.sinks.read", "merged reads")
      var i = 0L
      while (!genDone) {
        if (VersionedTable.versions(spark, tablePath).isEmpty) Thread.sleep(20)
        else {
          val t0 = Clock.ms()
          val n0 = System.nanoTime()
          val got = try Some(VersionedTable.read(spark, tablePath).count())
          catch { case e: Exception =>
            System.err.println(s"[perfbench] read failed: $e"); None }
          val ms = Clock.msSince(n0)
          ctx.out.op(got.isDefined)
          got.foreach { rows =>
            reads.add(ms)
            readRows.addAndGet(rows)
            tr.add(Span("sinks.read", i, t0, Clock.ms(), Some("perfbench.sinks.read")))
          }
          i += 1
        }
      }
    }, "perfbench-reader")

    val hook: Long => Unit = _ => {
      val t = System.nanoTime()
      val end = Clock.ms()
      cycle += 1
      tr.add(Span("streaming.cdc_cycle", cycle, lastHookEnd, end, None))
      cycles.add((end - lastHookEnd).toDouble)
      lastHookEnd = end
      val hwm = JdbcPollStream.committedHwmInc(spark, tablePath, "updated_us", "seq")._2
      commits.add((t, hwm))
      backlogMax = math.max(backlogMax, issued.get() - math.max(0L, hwm - k0))
      ctx.out.op(true)
    }

    gen.start()
    reader.start()
    var early = 0
    var done = false
    while (!done) {
      val genFinishedBefore = genDone
      JdbcPollStream.runCdcUntilDrained(spark, JdbcPollStream.CdcConfig(
        url = Derby.url(db, counting = traced), table = Table, keys = Seq("k"),
        tsCol = "updated_us", tablePath = tablePath, checkpointDir = s"$dir/ck",
        incCol = Some("seq"), timeoutMs = 120000L,
        afterCommit = hook))
      if (genFinishedBefore) done = true
      else if (!genDone) early += 1 // drained while the generator still ran
    }
    reader.join()
    gen.join()
    val jdbcRows = CountingJdbc.dataRows.get()
    ctx.out.check("live.generator", genError.isEmpty, s"generator failed: ${genError.orNull}")
    ctx.drainEvents()
    val restarts = ctx.restarts.get() - restarts0
    ctx.out.check("live.restarts", restarts == 0L, s"$restarts unexpected restarts")

    // the merged table must equal Derby's final state, row for row
    val want = Derby.withConn(db) { c =>
      val rs = c.createStatement().executeQuery(
        s"""SELECT "k", "v", "grp", "updated_us", "seq" FROM $Table""")
      val b = Set.newBuilder[(Long, Long, String, Long, Long)]
      while (rs.next()) b += ((rs.getLong(1), rs.getLong(2), rs.getString(3), rs.getLong(4), rs.getLong(5)))
      b.result()
    }
    val got = VersionedTable.read(spark, tablePath).select("k", "v", "grp", "updated_us", "seq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    ctx.out.check("live.merged_equals_source", got.length == want.size && got.toSet == want,
      s"table has ${got.length} rows, source ${want.size}; ${(want -- got).size} source rows absent")

    // mutation i is readable at the first commit whose watermark covers it
    val cs = commits.asScala.toSeq.sortBy(_._1)
    var j = 0
    val fresh = (0 until n).flatMap { i =>
      val seq = k0 + i + 1
      while (j < cs.size && cs(j)._2 < seq) j += 1
      if (j < cs.size) Some((cs(j)._1 - dueNs(i)) / 1e6) else None
    }
    ctx.out.check("live.all_mutations_committed", fresh.size == n,
      s"${n - fresh.size} of $n mutations never covered by a commit")
    val spanS = (cs.last._1 - genStart) / 1e9
    Window(setupS, n, fresh, reads.asScala.map(_.doubleValue).toSeq,
      cycles.asScala.map(_.doubleValue).toSeq, early, restarts,
      lateMs.toSeq, backlogMax, n / spanS, jdbcRows, readRows.get(), db, tablePath)
  }

  private def cleanup(w: Window): Window = {
    Derby.drop(w.db)
    Disk.rmrf(new java.io.File(w.tablePath).getParent)
    w
  }

  def run(ctx: Ctx): Unit = {
    val in = Gen.live(ctx.seed, ctx.seconds.toDouble, ctx.liveRate)
    val out = ctx.out
    val w0 = System.nanoTime()
    cleanup(window(ctx, in, WarmupSeconds, traced = false))
    out.detail("live_warmup_s") = Clock.secondsSince(w0)
    if (!ctx.traced) {
      val w = cleanup(window(ctx, in, ctx.seconds.toDouble, traced = false))
      ctx.stagingS += w.setupS
      out.e2e("freshness_p50_ms") = Stats.percentile(w.freshnessMs, 0.5)
      out.e2e("freshness_p95_ms") = Stats.percentile(w.freshnessMs, 0.95)
      out.e2e("read_p50_ms") = Stats.percentile(w.readsMs, 0.5)
      out.detail("mutations") = w.mutations
      // pinned just under the offered rate while the stream keeps up
      out.detail("committed_per_s") = w.rowsPerS
      out.detail("reads_ms") = w.readsMs.map(math.round)
      out.detail("early_drains") = w.earlyDrains
      out.detail("cycles") = w.cycleMs.size
      out.detail("backlog_rows_max") = w.backlogMax
      out.detail("gen_late_ms_p95") = Stats.percentile(w.genLateMs, 0.95)
    } else {
      val half = math.max(WarmupSeconds, ctx.seconds / 2.0)
      val plain = cleanup(window(ctx, in, half, traced = false))
      val w = window(ctx, in, half, traced = true)
      // untraced windows on both sides of the traced one, so that the run
      // still warming up does not count as tracing cost
      val plainAfter = cleanup(window(ctx, in, half, traced = false))
      val spark = ctx.spark
      val L = out.layer
      out.addLayer("trace.overhead_ms", Stats.percentile(w.freshnessMs, 0.5) -
        (Stats.percentile(plain.freshnessMs, 0.5) + Stats.percentile(plainAfter.freshnessMs, 0.5)) / 2)
      out.addLayer("streaming.restarts", w.restarts.toDouble)
      out.addLayer("sources.jdbc_records_read", w.jdbcRows.toDouble)
      L("streaming.cdc_cycle_ms.p50") = Stats.percentile(w.cycleMs, 0.5)
      L("streaming.cdc_cycle_ms.p95") = Stats.percentile(w.cycleMs, 0.95)
      L("streaming.cdc_cycles") = w.cycleMs.size.toDouble
      L("streaming.early_drains") = w.earlyDrains.toDouble
      L("streaming.backlog_rows.max") = w.backlogMax.toDouble
      L("streaming.gen_late_ms.p95") = Stats.percentile(w.genLateMs, 0.95)
      L("sources.cdc_read_amplification") = w.jdbcRows.toDouble / (in.initial.size + w.mutations)
      L("sources.hwm_recover_ms") = Stats.median((0 until 5).map(_ => Clock.timeMs(
        JdbcPollStream.committedHwmInc(spark, w.tablePath, "updated_us", "seq"))._2))
      L("sinks.delete_dirs") = Storage.deleteDirs(spark, w.tablePath).toDouble
      ctx.drainEvents()
      val readJobs = ctx.tracer.named("sinks.read").flatMap(s => ctx.listener.get.jobsOf(s))
      L("sinks.read_ms.p95") = Stats.percentile(w.readsMs, 0.95)
      L("sinks.read_records_per_live_row") =
        readJobs.map(_.inputRecords).sum.toDouble / math.max(1L, w.readRows)
      Seq("streaming.cdc_cycle", "sinks.read").foreach { s =>
        ctx.spanCounts(s, s).foreach { case (k, v) => L(k) = v }
      }
      cleanup(w)
    }
  }
}
