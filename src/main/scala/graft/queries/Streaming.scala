package graft.queries

import graft.Q
import graft.core._
import graft.sinks.VersionedTable
import graft.streaming.{OffsetTracker, ShardEvent, Streams}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** §2.1 items 11–14 — the reference's streaming pipeline surface on
  * Structured Streaming: bounded `Trigger.AvailableNow` runs over a staged
  * multi-file source (one micro-batch per file), results committed through
  * the checkpointed sink and read back, so every query is deterministic and
  * oracle-checkable against batch SQL on the same events table.
  */
object Streaming {

  /** Per-shard offsets "recovered from a previous run" (the reference's
    * checkpointed ValueState), as in [[Ingestion]]'s incremental read. */
  private val storedOffsets: Map[String, Long] =
    Map("click" -> 500L, "view" -> 500L, "error" -> 50L, "purchase" -> 100L, "signup" -> 100L)

  private def offsetsCaseSql: String =
    "CASE " + storedOffsets.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN event_type = '$k' THEN $v" }
      .mkString(" ") + " ELSE 0 END"

  /** Unrolled greedy sequential admission replaying streaming_neardup_ingest
    * (see that query's registration comment): seed = even doc_ids, then four
    * batches — slice k (doc_id % 8 = 2k+1) plus verbatim copies (id + 1e6)
    * of the previous slice (slice 0 carries copies of the % 8 = 0 seeds) —
    * each admitted iff NO prior admission reaches word-3-gram Jaccard ≥ 0.5.
    * Shingle construction mirrors NearDup.wordShingles3 (the shared DuckDB
    * pattern: coalesce(w[i], '') out-of-range positions). */
  private val neardupIngestReplaySql: String = {
    // rejection as an UNCORRELATED join + NOT IN (DuckDB cannot correlate an
    // outer column through list_intersect inside an EXISTS subquery)
    val batches = (0 until 4).map { k =>
      val copySrc = if (k == 0) "doc_id % 8 = 0" else s"doc_id % 8 = ${2 * (k - 1) + 1}"
      s"""b$k AS (SELECT doc_id, s FROM sh WHERE doc_id % 8 = ${2 * k + 1}
          UNION ALL SELECT doc_id + 1000000, s FROM sh WHERE $copySrc),
        r$k AS (SELECT DISTINCT x.doc_id FROM b$k x JOIN adm$k a
          ON len(list_intersect(a.s, x.s))::DOUBLE
            / (len(a.s) + len(x.s) - len(list_intersect(a.s, x.s))) >= 0.5),
        k$k AS (SELECT doc_id, s FROM b$k
          WHERE doc_id NOT IN (SELECT doc_id FROM r$k)),
        adm${k + 1} AS (SELECT * FROM adm$k UNION ALL SELECT * FROM k$k)"""
    }
    s"""WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
        FROM documents),
      sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 1)),
        i -> coalesce(w[i],'') || ' ' || coalesce(w[i+1],'') || ' ' || coalesce(w[i+2],''))) AS s
        FROM tok),
      adm0 AS (SELECT doc_id, s FROM sh WHERE doc_id % 2 = 0),
      ${batches.mkString(",\n      ")}
      SELECT doc_id FROM adm4 ORDER BY doc_id"""
  }

  val defs: Seq[(String, Q)] = Seq(

    "streaming_ingest" -> Q(
      (s, d) => {
        val (src, out, ck) = Streams.workDirs("streaming_ingest")
        val staged = Streams.stagedStream(eventsTable(s, d), src, nFiles = 4)
        val xform = staged.select(col("event_id"), micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        Streams.runAppend(xform, out, ck)
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        FROM events"""),
      "AvailableNow micro-batch ingest (4 files -> 4 batches) through the parquet commit log."),

    "streaming_windowed_agg" -> Q(
      (s, d) => {
        val (src, out, ck) = Streams.workDirs("streaming_windowed_agg")
        val staged = Streams.stagedStream(eventsTable(s, d), src, nFiles = 4)
        val agg = staged
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), moneyE(sum(dec4(col("value"))), 4).as("sum_value_e4"))
          .select(micros(col("window.start")).as("bucket_us"), col("event_type"),
            col("n"), col("sum_value_e4"))
        Streams.runCompleteOverwrite(agg, out, ck)
      },
      Some(s"""SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type,
        COUNT(*) AS n, ${moneyESql("SUM(CAST(value AS DECIMAL(18,4)))", 4)} AS sum_value_e4
        FROM events GROUP BY 1, 2"""),
      "Event-time windowed aggregation with a 1h watermark, complete-mode foreachBatch sink."),

    "streaming_hopping_agg" -> Q(
      (s, d) => {
        // Hopping (sliding) event-time windows: 1-hour windows advancing
        // every 30 minutes, so each event lands in exactly two overlapping
        // windows - the smoothing shape dashboards want. State is two
        // window slots per (window, type) key, purged by the watermark.
        val (src, out, ck) = Streams.workDirs("streaming_hopping_agg")
        val staged = Streams.stagedStream(eventsTable(s, d), src, nFiles = 4)
        val agg = staged
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"), moneyE(sum(dec4(col("value"))), 4).as("sum_value_e4"))
          .select(micros(col("window.start")).as("bucket_us"), col("event_type"),
            col("n"), col("sum_value_e4"))
        Streams.runCompleteOverwrite(agg, out, ck)
      },
      Some(s"""WITH e AS (SELECT event_type, value,
            (epoch_us(ts) // 1800000000) * 1800000000 AS slot FROM events),
        x AS (SELECT event_type, value, slot FROM e
              UNION ALL SELECT event_type, value, slot - 1800000000 FROM e)
        SELECT slot AS bucket_us, event_type, COUNT(*) AS n,
          ${moneyESql("SUM(CAST(value AS DECIMAL(18,4)))", 4)} AS sum_value_e4
        FROM x GROUP BY 1, 2"""),
      "Hopping-window aggregation (1h windows every 30min; each event in two windows)."),

    "streaming_dedup" -> Q(
      (s, d) => {
        val (src, out, ck) = Streams.workDirs("streaming_dedup")
        val staged = Streams.stagedStream(eventsTable(s, d), src, nFiles = 4)
        val dedup = staged.select(col("user_id"), col("event_type")).dropDuplicates()
        Streams.runAppend(dedup, out, ck)
      },
      Some("SELECT DISTINCT user_id, event_type FROM events"),
      "Streaming exact dedup: cross-micro-batch key state via dropDuplicates."),

    "streaming_dedup_watermarked" -> Q(
      (s, d) => {
        // The BOUNDED-STATE dedup (the 100 TB path): dropDuplicates holds
        // every key forever, dropDuplicatesWithinWatermark evicts key state
        // once the watermark passes it — unbounded runs stay O(watermark
        // window), dedup stays exact for duplicates arriving within the
        // delay. Here the delay exceeds the staged disorder, so the result
        // equals exact DISTINCT and the batch oracle applies.
        val (src, out, ck) = Streams.workDirs("streaming_dedup_watermarked")
        val ev = eventsTable(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
        val staged = Streams.stagedStream(ev.union(ev), src, nFiles = 4)
        val deduped = staged
          .withWatermark("ts", "35 days")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("user_id"), col("event_type"),
            micros(col("ts")).as("ts_us"))
        Streams.runAppend(deduped, out, ck)
      },
      Some("""SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        FROM events"""),
      "Bounded-state streaming dedup: dropDuplicatesWithinWatermark evicts " +
        "expired key state (duplicated input collapses exactly)."),

    "streaming_dim_join" -> Q(
      (s, d) => {
        // Stream-static enrichment: the micro-batch stream joins the static
        // dimension snapshot per batch (broadcast — the dim is read once per
        // batch, never shuffled with the stream).
        val (src, out, ck) = Streams.workDirs("streaming_dim_join")
        val staged = Streams.stagedStream(
          eventsTable(s, d).select(col("event_id"), col("user_id"), col("event_type")),
          src, nFiles = 4)
        val dim = table(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val joined = staged.join(broadcast(dim), staged("user_id") === dim("c_custkey"))
          .select(col("event_id"), col("user_id"), col("event_type"), col("c_mktsegment"))
        Streams.runAppend(joined, out, ck)
      },
      Some("""SELECT event_id, user_id, event_type, c_mktsegment
        FROM events JOIN customer ON user_id = c_custkey"""),
      "Stream-static dimension enrichment join (broadcast dim per micro-batch)."),

    "streaming_temporal_join" -> Q(
      (s, d) => {
        import s.implicits._
        // Flink's temporal-table join (`FOR SYSTEM_TIME AS OF` on event
        // time) — the hallmark enrichment of the reference's framework:
        // each streaming fact joins the dimension VERSION that was valid at
        // the fact's EVENT time, not the latest snapshot per micro-batch
        // (which is what `streaming_dim_join` models). The SCD2 dim (lead()-
        // built [valid_from, valid_to) intervals) is static and broadcast:
        // the user_id equality drives a BroadcastHashJoin and the interval
        // containment rides along as the residual condition — stateless on
        // the stream side, zero shuffles of the fact stream. At 100 TB of
        // facts the dim stays O(dim versions); a dim too big to broadcast
        // swaps to the batch as-of shape (scd2_point_in_time_join) inside
        // foreachBatch, same semantics.
        val (src, out, ck) = Streams.workDirs("streaming_temporal_join")
        val ev = eventsTable(s, d)
        val dimW = org.apache.spark.sql.expressions.Window
          .partitionBy($"dim_user").orderBy($"valid_from_us", $"dim_version")
        val dim = ev.filter($"event_type" === "click")
          .select($"user_id".as("dim_user"), $"event_id".as("dim_version"),
            micros($"ts").as("valid_from_us"), $"value".as("dim_value"))
          .withColumn("valid_to_us", lead($"valid_from_us", 1).over(dimW))
        val facts = Streams.stagedStream(
            ev.filter($"event_type" === "purchase")
              .select($"event_id", $"user_id", micros($"ts").as("ts_us"), $"value"),
            src, nFiles = 4)
        val joined = facts.join(broadcast(dim),
            facts("user_id") === dim("dim_user") &&
              facts("ts_us") >= dim("valid_from_us") &&
              (dim("valid_to_us").isNull || facts("ts_us") < dim("valid_to_us")),
            "left_outer")
          .select($"event_id", $"user_id", $"ts_us", $"value",
            $"dim_version", $"dim_value")
        Streams.runAppend(joined, out, ck)
      },
      Some("""WITH dim AS (
          SELECT user_id AS dim_user, event_id AS dim_version,
            epoch_us(ts) AS valid_from_us, value AS dim_value,
            lead(epoch_us(ts)) OVER (PARTITION BY user_id
              ORDER BY epoch_us(ts), event_id) AS valid_to_us
          FROM events WHERE event_type = 'click'),
        f AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
          FROM events WHERE event_type = 'purchase')
        SELECT f.event_id, f.user_id, f.ts_us, f.value, dim.dim_version, dim.dim_value
        FROM f LEFT JOIN dim ON f.user_id = dim.dim_user
          AND f.ts_us >= dim.valid_from_us
          AND (dim.valid_to_us IS NULL OR f.ts_us < dim.valid_to_us)"""),
      "Flink temporal-table join re-expressed: streaming facts enriched with the " +
        "SCD2 dim version valid at the fact's event time (broadcast + residual interval)."),

    "streaming_retract_agg" -> Q(
      (s, d) => {
        import s.implicits._
        // Flink's retract stream re-expressed: a per-user SUM over the
        // LATEST row per (user_id, event_type) key, kept current while the
        // keyed CDC stream keeps UPDATING keys — each update must retract
        // the key's old contribution and add the new one, which is exactly
        // what Flink's -U/+U changelog rows carry. Spark-first per batch:
        // (1) compact the batch per key, (2) join the O(batch) affected
        // keys against the replica for old images, (3) the winner per key
        // is decided by the event_id logical clock (so ANY batch order and
        // stale replays converge — no coupling to staging order), (4) emit
        // signed deltas (+winner −old) and fold them into the agg table,
        // (5) upsert winners into the replica. Everything is O(batch) per
        // micro-batch: the 100 TB base table is only ever touched by the
        // keyed upsert, never re-aggregated. Agg commits BEFORE replica
        // (both batch-id-stamped): a crash between them replays the same
        // deltas from the unchanged replica and the agg skip makes the
        // pair converge — the two-table exactly-once ordering.
        val (src, out, ck) = Streams.workDirs("streaming_retract_agg")
        val repPath = s"$out/replica"; val aggPath = s"$out/agg"
        val keys = Seq("user_id", "event_type")
        val ev = eventsTable(s, d)
          .select($"user_id", $"event_type", $"event_id",
            round($"value" * 100).cast("long").as("v_c"))
        graft.sinks.GraftTableWriter.drop(s, repPath)
        graft.sinks.GraftTableWriter.drop(s, aggPath)
        VersionedTable.overwrite(ev.filter(lit(false)), repPath)
        VersionedTable.overwrite(
          ev.filter(lit(false))
            .select($"user_id", $"v_c".as("sum_v_c"), $"event_id".as("n_types")),
          aggPath)
        val staged = Streams.stagedStream(ev, src, nFiles = 4)
        val q = staged.writeStream
          .option("checkpointLocation", ck)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            graft.operators.RetractAgg.applyBatch(s, batch, repPath, aggPath, keys, batchId)
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        VersionedTable.read(s, aggPath).orderBy($"user_id")
      },
      Some("""WITH latest AS (SELECT user_id, event_type, v_c FROM (
            SELECT user_id, event_type,
              CAST(round(value * 100) AS BIGINT) AS v_c,
              row_number() OVER (PARTITION BY user_id, event_type
                ORDER BY event_id DESC) AS rn
            FROM events) t WHERE rn = 1)
        SELECT user_id, CAST(SUM(v_c) AS BIGINT) AS sum_v_c, COUNT(*) AS n_types
        FROM latest GROUP BY user_id ORDER BY user_id"""),
      "Flink retract-stream aggregate: per-user SUM over latest-per-key state " +
        "maintained by signed deltas (+new -old), O(batch) per micro-batch."),

    "stream_stream_join" -> Q(
      (s, d) => {
        // Watermarked stream-stream interval join: purchases match clicks of
        // the same user within the following 30 minutes. Both sides carry a
        // watermark, and the time-interval predicate bounds the join state
        // Spark must hold (state is purged as the watermark passes — the
        // requirement for an unbounded run); inner-join matches emit as soon
        // as both rows arrive. The watermark delay must exceed the source's
        // event-time DISORDER: the staged files are randomly partitioned, so
        // rows arrive up to the full 30-day table span out of order and the
        // delay is sized above it (a production feed with bounded lateness
        // would use minutes).
        val (srcC, out, ck) = Streams.workDirs("stream_stream_join")
        val srcP = srcC + "_p"
        val ev = eventsTable(s, d)
        val clicks = Streams.stagedStream(
          ev.filter(col("event_type") === "click")
            .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts")),
          srcC, nFiles = 3)
          .withWatermark("click_ts", "35 days")
        val purchases = Streams.stagedStream(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
              col("ts").as("purchase_ts")),
          srcP, nFiles = 3)
          .withWatermark("purchase_ts", "35 days")
        val joined = clicks.join(purchases,
            col("user_id") === col("p_user_id") &&
              col("purchase_ts") >= col("click_ts") &&
              col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
          .select(col("click_id"), col("purchase_id"), col("user_id"),
            micros(col("click_ts")).as("click_us"), micros(col("purchase_ts")).as("purchase_us"))
        Streams.runAppend(joined, out, ck)
      },
      Some("""SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
        epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE"""),
      "Watermarked stream-stream interval join (click->purchase attribution window; " +
        "bounded state, purged by watermark)."),

    "streaming_sessionize" -> Q(
      (s, d) => {
        // Streaming sessionization via session_window: per-user sessions
        // merge while consecutive events are < 30 minutes apart; a session
        // only emits once the watermark passes its end (until then a new
        // event could still extend it). Same restart-driven catch-up as
        // stream_stream_left_join: far-future sentinel batches advance the
        // watermark so every real session closes - the unbounded-run shape
        // a production job gets from time simply passing.
        val (src, out, ck) = Streams.workDirs("streaming_sessionize")
        val ev = eventsTable(s, d).select(col("user_id"), col("ts"))
        val staged = Streams.stagedStream(ev, src, nFiles = 3)
        val sessions = staged
          .withWatermark("ts", "35 days")
          .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            micros(col("sw.start")).as("session_start_us"),
            micros(col("sw.end")).as("session_end_us"),
            col("n_events"))
        Streams.runAppend(sessions, out, ck)
        for (i <- Seq(1, 2)) {
          s.range(1).select(lit(-1L).as("user_id"), ts(s"2100-0$i-01 00:00:00").as("ts"))
            .write.mode("append").parquet(src)
        }
        Streams.runAppend(sessions, out, ck)
          .filter(col("user_id") =!= -1L)
      },
      Some("""WITH m AS (SELECT user_id, ts,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        i AS (SELECT user_id, ts, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM m)
        SELECT user_id, epoch_us(min(ts)) AS session_start_us,
          epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
          count(*) AS n_events
        FROM i GROUP BY user_id, island
        ORDER BY user_id, session_start_us"""),
      "Streaming session windows (30-min gap) with watermark-gated emission; " +
        "sessions close via restart-driven catch-up."),

    "streaming_sessionize_dynamic" -> Q(
      (s, d) => {
        // DYNAMIC-GAP session windows — the per-event-gap form of
        // streaming_sessionize (a purchase keeps the visit alive for 90
        // minutes, anything else 30): Spark's session_window takes the gap
        // as an EXPRESSION, so the merge rule is event-dependent; a new
        // event joins the session iff it starts before the running
        // session end max(ts + gap(event)). Same watermark-gated emission
        // and restart-driven sentinel catch-up as the static-gap query;
        // the oracle replays the merge rule as a running-max
        // gaps-and-islands build.
        val (src, out, ck) = Streams.workDirs("streaming_sessionize_dynamic")
        val ev = eventsTable(s, d).select(col("user_id"), col("ts"), col("event_type"))
        val staged = Streams.stagedStream(ev, src, nFiles = 3)
        val gap = when(col("event_type") === "purchase", "90 minutes")
          .otherwise("30 minutes")
        val sessions = staged
          .withWatermark("ts", "35 days")
          .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            micros(col("sw.start")).as("session_start_us"),
            micros(col("sw.end")).as("session_end_us"),
            col("n_events"))
        Streams.runAppend(sessions, out, ck)
        for (i <- Seq(1, 2)) {
          s.range(1).select(lit(-1L).as("user_id"), ts(s"2100-0$i-01 00:00:00").as("ts"),
            lit("view").as("event_type"))
            .write.mode("append").parquet(src)
        }
        Streams.runAppend(sessions, out, ck)
          .filter(col("user_id") =!= -1L)
      },
      Some("""WITH e AS (SELECT user_id, ts,
            CASE WHEN event_type = 'purchase' THEN INTERVAL 90 MINUTE
              ELSE INTERVAL 30 MINUTE END AS gap
          FROM events),
        m AS (SELECT user_id, ts, gap,
            max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          FROM e),
        b AS (SELECT user_id, ts, gap,
            CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END AS brk
          FROM m),
        i AS (SELECT user_id, ts, gap, SUM(brk) OVER (PARTITION BY user_id
            ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM b)
        SELECT user_id, epoch_us(min(ts)) AS session_start_us,
          epoch_us(max(ts + gap)) AS session_end_us,
          count(*) AS n_events
        FROM i GROUP BY user_id, island
        ORDER BY user_id, session_start_us"""),
      "Dynamic-gap streaming session windows (purchase extends the visit " +
        "90 min, others 30): the gap is a per-event expression; oracle = " +
        "the running-max gaps-and-islands replay of the merge rule."),

    "stream_stream_left_join" -> Q(
      (s, d) => {
        // LEFT OUTER stream-stream join: clicks with no purchase in the
        // following 30 minutes must ALSO emit (with NULL purchase columns) -
        // which Spark only does once the watermark passes a click's match
        // window, since until then a matching purchase could still arrive.
        // With AvailableNow the watermark stops at max(event_ts) - delay, so
        // the tail of unmatched clicks would stay in state forever; the
        // production shape is an unbounded run where time keeps flowing. We
        // reproduce that by RESTARTING the query from its checkpoint on two
        // staged far-future sentinel batches (user_id -1, filtered from the
        // output): batch one advances the watermark, batch two evicts with
        // it - exactly the catch-up a restarted production job performs.
        val (srcC, out, ck) = Streams.workDirs("stream_stream_left_join")
        val srcP = srcC + "_p"
        val ev = eventsTable(s, d)
        val clicks = Streams.stagedStream(
          ev.filter(col("event_type") === "click")
            .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts")),
          srcC, nFiles = 3)
          .withWatermark("click_ts", "35 days")
        val purchases = Streams.stagedStream(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
              col("ts").as("purchase_ts")),
          srcP, nFiles = 3)
          .withWatermark("purchase_ts", "35 days")
        val joined = clicks.join(purchases,
            col("user_id") === col("p_user_id") &&
              col("purchase_ts") >= col("click_ts") &&
              col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
            "leftOuter")
          .select(col("click_id"), col("purchase_id"), col("user_id"),
            micros(col("click_ts")).as("click_us"), micros(col("purchase_ts")).as("purchase_us"))
        Streams.runAppend(joined, out, ck)
        // Sentinels: two per side (maxFilesPerTrigger=1 -> two more batches),
        // both far past every real click's eviction threshold.
        for ((dir, idc, tsc) <- Seq((srcC, "click_id", "click_ts"), (srcP, "purchase_id", "purchase_ts"))) {
          val puser = if (dir == srcP) "p_user_id" else "user_id"
          for (i <- Seq(1, 2)) {
            s.range(1).select(lit(-i.toLong).as(idc), lit(-1L).as(puser),
              ts(s"2100-0$i-01 00:00:00").as(tsc))
              .write.mode("append").parquet(dir)
          }
        }
        Streams.runAppend(joined, out, ck)
          .filter(col("user_id") =!= -1L)
      },
      Some("""SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
        epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE"""),
      "Stream-stream LEFT OUTER interval join: unmatched clicks emit with NULLs " +
        "once the watermark passes their window (restart-driven catch-up)."),

    "stream_stream_full_join" -> Q(
      (s, d) => {
        // FULL OUTER stream-stream join — the completion of the interval-join
        // family (inner: stream_stream_join, left: stream_stream_left_join):
        // clicks with no purchase in their 30-minute window AND purchases
        // with no preceding click BOTH emit NULL-padded, each once the
        // watermark passes its side's match window. State bounds and the
        // restart-driven sentinel catch-up are inherited verbatim from the
        // left-outer variant; the output key is the COALESCED user id so
        // right-only rows stay keyed.
        val (srcC, out, ck) = Streams.workDirs("stream_stream_full_join")
        val srcP = srcC + "_p"
        val ev = eventsTable(s, d)
        val clicks = Streams.stagedStream(
          ev.filter(col("event_type") === "click")
            .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts")),
          srcC, nFiles = 3)
          .withWatermark("click_ts", "35 days")
        val purchases = Streams.stagedStream(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
              col("ts").as("purchase_ts")),
          srcP, nFiles = 3)
          .withWatermark("purchase_ts", "35 days")
        val joined = clicks.join(purchases,
            col("user_id") === col("p_user_id") &&
              col("purchase_ts") >= col("click_ts") &&
              col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
            "fullOuter")
          .select(col("click_id"), col("purchase_id"),
            coalesce(col("user_id"), col("p_user_id")).as("uid"),
            micros(col("click_ts")).as("click_us"), micros(col("purchase_ts")).as("purchase_us"))
        Streams.runAppend(joined, out, ck)
        for ((dir, idc, tsc) <- Seq((srcC, "click_id", "click_ts"), (srcP, "purchase_id", "purchase_ts"))) {
          val puser = if (dir == srcP) "p_user_id" else "user_id"
          for (i <- Seq(1, 2)) {
            s.range(1).select(lit(-i.toLong).as(idc), lit(-1L).as(puser),
              ts(s"2100-0$i-01 00:00:00").as(tsc))
              .write.mode("append").parquet(dir)
          }
        }
        Streams.runAppend(joined, out, ck)
          .filter(col("uid") =!= -1L)
      },
      Some("""SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        coalesce(c.user_id, p.user_id) AS uid,
        epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE"""),
      "Stream-stream FULL OUTER interval join: both sides' unmatched rows " +
        "emit NULL-padded as the watermark passes their windows — the " +
        "interval-join family completed (inner/left/full)."),

    "streaming_upsert_pipeline" -> Q(
      (s, d) => {
        // The reference's actual topology end-to-end: stream -> per-batch CDC
        // compaction -> equality-field upsert into the managed table
        // (IcebergSinkBuilder.java:40-44's upsert mode via foreachBatch).
        // The version-aware upsert keeps the max-event_id row per key, so the
        // final table is deterministic whatever order micro-batches arrive in.
        val (src, out, ck) = Streams.workDirs("streaming_upsert_pipeline")
        val input = eventsTable(s, d)
          .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
          .repartitionByRange(4, col("event_id"))
        input.write.mode("overwrite").parquet(src)
        val staged = s.readStream.schema(s.read.parquet(src).schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val keys = Seq("user_id", "event_type")
        val tablePath = s"$out/table"
        val q = staged.writeStream
          .option("checkpointLocation", ck)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val compacted = graft.operators.Upsert.latestByKey(
              batch, keys, Seq(col("event_id").desc))
            graft.sinks.GraftTableWriter.upsertVersioned(
              compacted, tablePath, keys, Seq(col("event_id").desc))
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(tablePath)
      },
      Some("""SELECT user_id, event_type, event_id, value FROM (
          SELECT user_id, event_type, event_id, value,
            row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) AS rn
          FROM events) WHERE rn = 1"""),
      "End-to-end streaming CDC: micro-batch -> per-batch compaction -> equality-field " +
        "upsert into the managed table (the reference's stream->Iceberg-upsert loop)."),

    "streaming_exactly_once_sink" -> Q(
      (s, d) => {
        // Exactly-once through a CRASH, not just a clean run. foreachBatch
        // delivery is at-least-once: a batch whose sink write succeeded but
        // whose checkpoint commit didn't is REDELIVERED on restart, and a
        // plain append sink would double those rows. The transactional-sink
        // pattern commits the batch id atomically WITH the data
        // (VersionedTable.appendOnce — Iceberg's max-committed-checkpoint-id);
        // the replayed delivery is recognized and skipped. Staged here for
        // real: the sink dies right AFTER committing batch 1, the restarted
        // query redelivers batch 1, and the result still equals the batch
        // ground truth exactly.
        val (src, out, ck) = Streams.workDirs("streaming_exactly_once_sink")
        val staged = Streams.stagedStream(
          eventsTable(s, d).select(col("event_id"), micros(col("ts")).as("ts_us"),
            col("user_id"), col("event_type"), col("value")),
          src, nFiles = 4)
        val tablePath = s"$out/table"
        var crashInjected = false
        def run(): Unit = {
          val q = staged.writeStream
            .option("checkpointLocation", ck)
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
              graft.sinks.VersionedTable.appendOnce(batch, tablePath, batchId)
              if (batchId == 1 && !crashInjected) {
                crashInjected = true
                throw new RuntimeException("injected crash: sink committed, checkpoint not")
              }
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        try run()
        catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
        run() // restart from the checkpoint: batch 1 is redelivered and skipped
        graft.sinks.VersionedTable.read(s, tablePath)
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        FROM events"""),
      "Exactly-once foreachBatch sink: batch id committed atomically with the data; " +
        "an injected crash after the sink commit replays the batch, which is skipped."),

    "streaming_neardup_ingest" -> Q(
      // ORACLE-CHECKED since r8: the admitted set replays as an unrolled
      // greedy sequential admission in DuckDB — per batch, a doc survives
      // iff NO already-admitted doc reaches word-3-gram Jaccard ≥ 0.5
      // against it (NOT EXISTS over the admitted CTE), and survivors join
      // the admitted set for the next batch's CTE. The engine gates through
      // MinHash band collisions BEFORE the exact-Jaccard verify; banding is
      // recall-lossy in general, so this oracle doubles as a standing
      // recall audit: measured lossless on this corpus (replay ≡ admission,
      // 485/485 at sf0.01) — if a band parameterization change ever loses a
      // true pair, the driver hash-mismatches instead of silently shipping.
      (s, d) => {
        // The production corpus-growth loop composed END-TO-END: documents
        // arrive in micro-batches, each batch is near-dup-gated against the
        // PERSISTED MinHash band index (NearDup.dedupAgainstIndex — scans
        // the index parquet, zero corpus-side recompute), survivors are
        // appended exactly-once to the corpus table AND to the index, so
        // batch N+1 deduplicates against everything batch N admitted.
        //
        // Batch layout (deterministic): seed corpus = even doc_ids, indexed
        // up-front; four stream slices carry the odd ids split by
        // doc_id % 8, and every slice k >= 1 also carries verbatim copies
        // (id + 1e6) of slice k-1's docs — duplicates that can ONLY be
        // rejected if the index actually grew after batch k-1. Slice 0
        // carries copies of seed docs (rejected via the initial index).
        //
        // Exactly-once: the accepted table goes through appendOnce (batch id
        // committed atomically with the data). The index appends are plain
        // appends — a replayed batch would only duplicate band/set rows,
        // which widens candidate generation but never changes a verdict.
        val (src, out, ck) = Streams.workDirs("streaming_neardup_ingest")
        val idx = s"$out/index"
        val accepted = s"$out/accepted"
        val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
        val seed = docs.filter(col("doc_id") % 2 === 0)
        graft.operators.NearDup.buildBandIndex(seed, idx)
        graft.sinks.VersionedTable.overwrite(seed, accepted)

        val copies = (prev: org.apache.spark.sql.DataFrame) =>
          prev.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        val slice = (k: Int) => docs.filter(col("doc_id") % 8 === 2 * k + 1)
        val slices = Seq(
          slice(0).unionByName(copies(
            docs.filter(col("doc_id") % 8 === 0))), // seed dups -> initial index rejects
          slice(1).unionByName(copies(slice(0))),
          slice(2).unionByName(copies(slice(1))),
          slice(3).unionByName(copies(slice(2))))
        // sequential single-file appends: mod-time order fixes batch order
        slices.foreach(_.coalesce(1).write.mode("append").parquet(src))

        val stream = s.readStream
          .schema(docs.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(src)
        val q = stream.writeStream
          .option("checkpointLocation", ck)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            val kept = graft.operators.NearDup
              .dedupAgainstIndex(batch, idx, minJaccard = 0.5)
              .localCheckpoint(true) // one computation feeds both sinks
            if (graft.sinks.VersionedTable.appendOnce(kept, accepted, batchId))
              graft.operators.NearDup.appendToBandIndex(kept, idx)
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        graft.sinks.VersionedTable.read(s, accepted)
          .select(col("doc_id")).orderBy(col("doc_id"))
      },
      Some(neardupIngestReplaySql),
      "Streaming near-dup-gated ingest against the persisted band index: " +
        "per-batch dedupAgainstIndex -> exactly-once corpus append -> index growth, " +
        "so later batches dedup against earlier admissions; admitted set replays " +
        "as an unrolled greedy sequential admission (and audits banding recall)."),

    "stateful_offset_stream" -> Q(
      (s, d) => {
        val (src, out, ck) = Streams.workDirs("stateful_offset_stream")
        // Single staged file: the per-shard sequence numbering then equals the
        // global event_id order (multi-batch carry-over is spec-tested with a
        // MemoryStream in StreamingSpec).
        val staged = Streams.stagedStream(
          eventsTable(s, d).select(col("event_type"), col("event_id")), src, nFiles = 1)
        import s.implicits._
        val tracked = OffsetTracker.track(staged.as[ShardEvent], storedOffsets)
        Streams.runAppend(tracked.toDF(), out, ck)
      },
      Some(s"""WITH r AS (SELECT event_id, event_type,
          row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS seq
        FROM events)
        SELECT event_id, event_type, seq FROM r WHERE seq > $offsetsCaseSql"""),
      "Per-shard offset state across micro-batches via flatMapGroupsWithState " +
        "(the reference's ValueState offset loop, SnowflakeProcessFunction.java:88-122)."),

    "streaming_new_shard_discovery" -> Q(
      (s, d) => {
        import s.implicits._
        // CONTINUOUS shard re-discovery (ColumnSource.java:39-54: the
        // reference re-polls `SELECT DISTINCT shard` in an interval loop
        // FOREVER, so a shard value that first appears after job start
        // still enters the keyed stream). Composed end-to-end here: only
        // click/view exist at "job start" (they alone carry stored
        // offsets); error surfaces in micro-batch 2 and purchase/signup in
        // micro-batch 3 — each brand-new key reaches OffsetTracker's
        // flatMapGroupsWithState with NO state and NO stored offset, so it
        // starts at offset 0 and loses no rows, exactly the interval
        // loop's pick-it-up-next-poll behavior. Batches are staged with
        // per-shard monotone event_id ranges, so the cross-batch
        // sequence numbering equals one global per-shard row_number and
        // the whole composition stays oracle-checkable.
        val (src, out, ck) = Streams.workDirs("streaming_new_shard_discovery")
        val ev = eventsTable(s, d).select($"event_type", $"event_id")
        val maxId = ev.agg(max($"event_id")).head.getLong(0)
        val (q1, q2) = (maxId / 3, 2 * maxId / 3)
        val old = $"event_type".isin("click", "view")
        val batches = Seq(
          ev.filter(old && $"event_id" <= q1),
          ev.filter((old && $"event_id" > q1 && $"event_id" <= q2) ||
            ($"event_type" === "error" && $"event_id" <= q2)),
          ev.filter((old || $"event_type" === "error") && $"event_id" > q2 ||
            $"event_type".isin("purchase", "signup")))
        val staged = Streams.stageOrderedBatches(batches, src)
        // offsets for ONLY the shards known at job start — a re-discovered
        // shard must fall through to getOrElse(0L), never a stale entry
        val startOffsets = storedOffsets.view.filterKeys(Set("click", "view")).toMap
        val tracked = OffsetTracker.track(staged.as[ShardEvent], startOffsets)
        Streams.runAppend(tracked.toDF(), out, ck).orderBy($"event_type", $"seq")
      },
      Some("""WITH r AS (SELECT event_id, event_type,
          row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS seq
        FROM events)
        SELECT event_id, event_type, seq FROM r
        WHERE seq > (CASE WHEN event_type IN ('click', 'view') THEN 500 ELSE 0 END)
        ORDER BY event_type, seq"""),
      "Continuous shard re-discovery (ColumnSource's forever poll loop): " +
        "shards first appearing in later micro-batches enter the offset " +
        "tracker at offset 0 with zero row loss, composed with the stored-" +
        "offset resume of the shards known at start."),

    "streaming_jdbc_ingest" -> Q(
      (s, d) => {
        import s.implicits._
        // THE reference pipeline LIVE, end-to-end (VERDICT r12 "Next round"
        // #1 — the one reference behavior not previously running AS a
        // stream): a ProcessingTime streaming query whose micro-batches
        // each execute one JDBC poll cycle against in-process Derby —
        // shard re-discovery (SELECT DISTINCT, ColumnSource.java:39-54's
        // forever interval loop) then per-shard ORDER BY/OFFSET/FETCH pages
        // pushed into the database (SnowflakeProcessFunction.java:88-122)
        // — with per-shard offsets recovered from the exactly-once
        // committed table itself (graft.streaming.JdbcPollStream: the
        // committed data IS the offset state, so no second store can
        // diverge). Three reference behaviors composed in ONE live run:
        //  1. paging: cycle c takes each shard's ranks ((c-1)·P, c·P];
        //  2. continuous shard re-discovery: only click/view exist at job
        //     start; error/purchase/signup are INSERTED into Derby after
        //     cycle 1 commits and are discovered by cycle 2, entering at
        //     offset 0 (so their cycle = rank page + 1);
        //  3. kill/restart exactly-once: an injected crash right AFTER
        //     cycle 2's sink commit (checkpoint not yet advanced) forces a
        //     restart that REDELIVERS the batch id — appendOnce refuses it,
        //     offsets re-derive from committed data, and the final table
        //     has no duplicate and no gap (the oracle's exact rank↔cycle
        //     map would hash-fail on either).
        // The per-row `cycle` column pins WHICH poll cycle ingested every
        // row, so the oracle checks the page boundaries themselves, not
        // just the drained union.
        val (_, out, ck) = Streams.workDirs("streaming_jdbc_ingest")
        val url = "jdbc:derby:memory:graft_stream;create=true"
        val jdbcTable = "events_stream"
        val tablePath = s"$out/table"
        val pageSize = 700L
        val ev = eventsTable(s, d)
          .select($"event_id", $"event_type", micros($"ts").as("tsu"))
        val startShards = Seq("click", "view")
        ev.filter($"event_type".isin(startShards: _*))
          .write.format("jdbc").option("url", url).option("dbtable", jdbcTable)
          .option("createTableColumnTypes", "event_type VARCHAR(32)")
          .mode(SaveMode.Overwrite).save()
        // covering index on (shard, sort keys) (r16, guide §1.2): every poll
        // page is `WHERE shard = ? ORDER BY tsu, event_id OFFSET … FETCH …`,
        // and without the index Derby re-sorts the whole shard per page —
        // measured 18-50 ms/page vs 5-9 ms as an index range scan, ×5 shards
        // ×~30 cycles. The production analogue of clustering the warehouse
        // table by its poll sort key; page contents are unchanged (the sort
        // is total: event_id is unique).
        locally {
          val c = java.sql.DriverManager.getConnection(url)
          try c.createStatement().execute(
            s"CREATE INDEX ${jdbcTable}_poll_idx ON $jdbcTable " +
              """("event_type", "tsu", "event_id")""")
          finally c.close()
        }
        @volatile var lateShardsStaged = false
        @volatile var crashInjected = false
        graft.streaming.JdbcPollStream.runUntilDrained(s,
          graft.streaming.JdbcPollStream.Config(
            url = url, table = jdbcTable, shardCol = "event_type",
            sortCols = Seq("tsu", "event_id"), pageSize = pageSize,
            tablePath = tablePath, checkpointDir = ck,
            afterCommit = { cycle =>
              if (cycle == 1L && !lateShardsStaged) {
                // late shard arrival: rows the forever-poll must pick up
                ev.filter(!$"event_type".isin(startShards: _*))
                  .write.format("jdbc").option("url", url)
                  .option("dbtable", jdbcTable)
                  .mode(SaveMode.Append).save()
                lateShardsStaged = true
              }
              if (cycle == 2L && !crashInjected) {
                crashInjected = true
                throw new RuntimeException(
                  "injected crash: sink committed, checkpoint not")
              }
            }))
        VersionedTable.read(s, tablePath)
          .select($"event_id", $"event_type", $"tsu", $"cycle")
          .orderBy($"event_id")
      },
      Some("""SELECT event_id, event_type, tsu,
          CAST(((rn - 1) // 700) + (CASE WHEN event_type IN ('click', 'view')
            THEN 1 ELSE 2 END) AS BIGINT) AS cycle
        FROM (SELECT event_id, event_type, epoch_us(ts) AS tsu,
            row_number() OVER (PARTITION BY event_type
              ORDER BY epoch_us(ts), event_id) AS rn
          FROM events)
        ORDER BY event_id"""),
      "LIVE streaming JDBC ingest (ColumnSource's forever poll + per-shard " +
        "pushed-down pages AS ONE ProcessingTime stream): offsets recovered " +
        "from the exactly-once committed table, late shards re-discovered " +
        "mid-stream, injected crash after a sink commit replayed and " +
        "refused — the reference deployment running end-to-end."),

    "streaming_jdbc_cdc" -> Q(
      (s, d) => {
        import s.implicits._
        // The STREAMING twin of jdbc_timestamp_cdc (r13 — Kafka Connect
        // JDBC's timestamp mode live): a ProcessingTime query whose every
        // micro-batch pulls `WHERE updated_us > hwm` from Derby (pushed
        // into the database) and MOR-upserts the delta by key EXACTLY-ONCE
        // (upsertMorOnce), the high-watermark derived from the committed
        // merged table itself. Composed live: after the initial-snapshot
        // commit, odd rows are INSERTED and every %100==0 row UPDATED IN
        // PLACE via live SQL (monotone update clock); the next cycle pulls
        // exactly that delta; a crash injected right AFTER its sink commit
        // forces a restart whose redelivered batch finds hwm already
        // advanced (re-derived from committed data — nothing re-applied,
        // nothing lost), and the quiescent zero-row cycle drains the run.
        // In-place updates are the case rank paging cannot see — this row
        // and streaming_jdbc_ingest together cover both incremental modes
        // as live streams.
        val (_, out, ck) = Streams.workDirs("streaming_jdbc_cdc")
        val url = "jdbc:derby:memory:graft_cdc_stream;create=true"
        val jt = "events_cdc_s"
        val tablePath = s"$out/table"
        val ev = eventsTable(s, d).select($"event_id", $"event_type",
          (dec4($"value") * 10000).cast("long").as("value_e4"),
          micros($"ts").as("updated_us"))
        ev.filter($"event_id" % 2 === 0)
          .write.format("jdbc").option("url", url).option("dbtable", jt)
          .option("createTableColumnTypes", "event_type VARCHAR(32)")
          .mode(SaveMode.Overwrite).save()
        @volatile var staged = false
        @volatile var crashed = false
        graft.streaming.JdbcPollStream.runCdcUntilDrained(s,
          graft.streaming.JdbcPollStream.CdcConfig(
            url = url, table = jt, keys = Seq("event_id"),
            tsCol = "updated_us", tablePath = tablePath, checkpointDir = ck,
            afterCommit = { cycle =>
              if (cycle == 1L && !staged) {
                // live source mutations while the stream runs: inserts +
                // an in-place update (clock beyond any event epoch-micros)
                ev.filter($"event_id" % 2 =!= 0)
                  .withColumn("updated_us", lit(3000000000000000L) + $"event_id")
                  .write.format("jdbc").option("url", url)
                  .option("dbtable", jt).mode(SaveMode.Append).save()
                val c = java.sql.DriverManager.getConnection(url)
                try {
                  val st = c.createStatement()
                  st.executeUpdate( // Derby spells modulo MOD(), not %
                    """UPDATE events_cdc_s SET "value_e4" = "value_e4" + 5550000,
                      |"updated_us" = 4000000000000000 + "event_id"
                      |WHERE MOD("event_id", 100) = 0""".stripMargin)
                  st.close()
                } finally c.close()
                staged = true
              }
              if (cycle == 2L && !crashed) {
                crashed = true
                throw new RuntimeException(
                  "injected crash: sink committed, checkpoint not")
              }
            }))
        VersionedTable.read(s, tablePath)
          .select($"event_id", $"event_type", $"value_e4")
          .orderBy($"event_id")
      },
      Some("""SELECT event_id, event_type,
          CASE WHEN event_id % 100 = 0
            THEN CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) + 5550000
            ELSE CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) END AS value_e4
        FROM events ORDER BY event_id"""),
      "LIVE timestamp-watermark JDBC CDC stream: per-micro-batch " +
        "WHERE updated_us > hwm pulls pushed into Derby, exactly-once MOR " +
        "upserts by key, hwm derived from the committed merged table, " +
        "in-place updates captured mid-stream, injected post-commit crash " +
        "recovered by re-derivation - both JDBC incremental modes now run " +
        "as streams."),

    "streaming_jdbc_inc_cdc" -> Q(
      (s, d) => {
        import s.implicits._
        // The streaming transport of the `timestamp+incrementing`
        // COMPOSITE mode (r15, the live twin of jdbc_timestamp_inc_cdc):
        // CdcConfig(incCol) makes every micro-batch push
        //   ts > hwm OR (ts = hwm AND id > hwm_id)
        // into Derby, with the LEXICOGRAPHIC (ts, id) watermark derived
        // from the committed table. The production race runs LIVE: after
        // cycle 1's snapshot commit, new rows land AT the high-watermark
        // timestamp (second-granular clock — collisions by construction)
        // with higher ids; pure `ts >` polling would never see them; the
        // composite pull captures exactly them in cycle 2, a crash
        // injected right AFTER that commit restarts the query, and the
        // redelivered batch re-derives (hwm covers the raced rows — no
        // re-apply, no loss) before the quiescent cycle drains.
        val (_, out, ck) = Streams.workDirs("streaming_jdbc_inc_cdc")
        val url = "jdbc:derby:memory:graft_cdc_inc_stream;create=true"
        val jt = "events_cdc_inc_s"
        val tablePath = s"$out/table"
        val ev = eventsTable(s, d).select($"event_id", $"event_type",
          (dec4($"value") * 10000).cast("long").as("value_e4"),
          (micros($"ts") - micros($"ts") % 1000000L).as("updated_us"))
        ev.write.format("jdbc").option("url", url).option("dbtable", jt)
          .option("createTableColumnTypes", "event_type VARCHAR(32)")
          .mode(SaveMode.Overwrite).save()
        val maxTs = ev.agg(max($"updated_us")).head.getLong(0)
        @volatile var staged = false
        @volatile var crashed = false
        graft.streaming.JdbcPollStream.runCdcUntilDrained(s,
          graft.streaming.JdbcPollStream.CdcConfig(
            url = url, table = jt, keys = Seq("event_id"),
            tsCol = "updated_us", tablePath = tablePath, checkpointDir = ck,
            incCol = Some("event_id"),
            afterCommit = { cycle =>
              if (cycle == 1L && !staged) {
                // the race, staged while the stream runs
                ev.filter($"event_id" % 101 === 0)
                  .select(($"event_id" + 20000000L).as("event_id"),
                    $"event_type", ($"value_e4" + 1230000L).as("value_e4"),
                    lit(maxTs).as("updated_us"))
                  .write.format("jdbc").option("url", url)
                  .option("dbtable", jt).mode(SaveMode.Append).save()
                staged = true
              }
              if (cycle == 2L && !crashed) {
                crashed = true
                throw new RuntimeException(
                  "injected crash: sink committed, checkpoint not")
              }
            }))
        VersionedTable.read(s, tablePath)
          .select($"event_id", $"event_type", $"value_e4")
          .orderBy($"event_id")
      },
      Some("""WITH ev AS (SELECT event_id, event_type,
          CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS value_e4
        FROM events)
        SELECT event_id, event_type, value_e4 FROM ev
        UNION ALL
        SELECT event_id + 20000000, event_type, value_e4 + 1230000
        FROM ev WHERE event_id % 101 = 0
        ORDER BY event_id"""),
      "LIVE timestamp+incrementing composite CDC stream: the lexicographic " +
        "(ts, id) watermark and OR-tie-break predicate pushed into Derby " +
        "per micro-batch, a same-timestamp race staged mid-stream and " +
        "captured exactly once through an injected post-commit crash."),

    "streaming_debezium_apply" -> Q(
      (s, d) => {
        import s.implicits._
        // Debezium envelopes AS A STREAM (r15 — the streaming transport of
        // cdc_debezium_apply): each micro-batch carries a MIXED bag of
        // c/u/d envelopes, parsed by the same pinned from_json projection
        // with the loud unknown-op guard, and applied as ONE atomic
        // exactly-once commit per batch (VersionedTable.applyCdcOnce: the
        // batch's upserts land as a data dir deleting its own keys, the
        // delete keys as a key-only dir — splitting into upsert + delete commits
        // would let a crash between them replay into a half-applied
        // batch). Idempotence is asserted IN-ROW: a second AvailableNow
        // run over the same checkpoint+source replays batch ids the sink
        // refuses, committing nothing.
        val (src, out, ck) = Streams.workDirs("streaming_debezium")
        val tablePath = s"$out/table"
        val o = table(s, d, "orders").select($"o_orderkey", $"o_custkey",
          (dec2($"o_totalprice") * 100).cast("long").as("price_c"))
        val creates = o.select(to_json(struct(
          lit("c").as("op"), lit(1L).as("ts_ms"),
          struct($"o_orderkey", $"o_custkey", $"price_c").as("after"))).as("e"))
        val changes = o.filter($"o_orderkey" % 7 === 0).select(to_json(struct(
            lit("u").as("op"), lit(2L).as("ts_ms"),
            struct($"o_orderkey", $"o_custkey",
              ($"price_c" + 777L).as("price_c")).as("after"))).as("e"))
          .unionByName(o.filter($"o_orderkey" % 10 === 3).select(to_json(struct(
            lit("d").as("op"), lit(3L).as("ts_ms"),
            struct($"o_orderkey", $"o_custkey", $"price_c").as("before"))).as("e")))
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "op STRING, ts_ms BIGINT, " +
            "before STRUCT<o_orderkey: BIGINT, o_custkey: BIGINT, price_c: BIGINT>, " +
            "after STRUCT<o_orderkey: BIGINT, o_custkey: BIGINT, price_c: BIGINT>")
        def applyBatch(df: DataFrame, batchId: Long): Unit = {
          val parsed = df.select(from_json(col("e"), schema).as("m"))
            .select(col("m.op").as("op"), col("m.ts_ms").as("ts_ms"),
              col("m.before").as("before"), col("m.after").as("after"))
            .withColumn("op", when(col("op").isin("c", "r", "u", "d"), col("op"))
              .otherwise(raise_error(concat(lit("debezium: unknown op "),
                coalesce(col("op"), lit("<null envelope>"))))))
          // per-key LATEST-op fold WITHIN the batch (Debezium consumers'
          // standard compaction): a key updated at ts 2 and deleted at
          // ts 3 in one batch must die — applying both raw would let the
          // upsert image survive the same-sequence delete
          val latest = parsed
            .withColumn("k", coalesce(col("after.o_orderkey"), col("before.o_orderkey")))
            .withColumn("rn", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(col("k")).orderBy(col("ts_ms").desc)))
            .filter(col("rn") === 1)
            .localCheckpoint(true) // parse+fold once; feeds both splits
          VersionedTable.applyCdcOnce(
            latest.filter(col("op").isin("c", "r", "u")).select(col("after.*")),
            latest.filter(col("op") === "d")
              .select(col("before.o_orderkey").as("o_orderkey")),
            tablePath, Seq("o_orderkey"), batchId)
        }
        def runOnce(stream: DataFrame, ckDir: String): Unit = {
          val q = stream.writeStream
            .option("checkpointLocation", ckDir)
            .foreachBatch((df: DataFrame, id: Long) => applyBatch(df, id))
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        runOnce(Streams.stageOrderedBatches(Seq(creates, changes), src), ck)
        val vFirst = VersionedTable.versions(s, tablePath).size
        require(vFirst == 2, s"expected 2 exactly-once commits, got $vFirst")
        // FULL replay: a fresh checkpoint re-reads every staged file with
        // batch ids restarting at 0 — the at-least-once worst case. The
        // SINK-side guard (lastBatch high-water in the committed manifest)
        // must refuse both ids; nothing double-applies.
        runOnce(s.readStream.schema(s.read.parquet(src).schema)
          .option("maxFilesPerTrigger", "1").parquet(src), s"$ck-replay")
        require(VersionedTable.versions(s, tablePath).size == vFirst,
          "replayed batches must commit nothing")
        VersionedTable.read(s, tablePath)
          .select($"o_orderkey", $"o_custkey", $"price_c")
          .orderBy($"o_orderkey")
      },
      Some("""WITH o AS (SELECT o_orderkey, o_custkey,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
        FROM orders)
        SELECT o_orderkey, o_custkey,
          CASE WHEN o_orderkey % 7 = 0 THEN price_c + 777 ELSE price_c END AS price_c
        FROM o WHERE o_orderkey % 10 <> 3
        ORDER BY o_orderkey"""),
      "Debezium envelopes as a stream: mixed c/u/d micro-batches parsed by " +
        "the pinned projection and applied as ONE atomic exactly-once MOR " +
        "commit per batch (upserts + deletes in a single snapshot); a full " +
        "checkpoint replay commits nothing, asserted in-row."),

    "streaming_attribution" -> Q(
      (s, d) => {
        import s.implicits._
        // Last-touch attribution as KEYED STREAMING STATE: per user the
        // single most recent click rides GroupState, and a purchase
        // arriving micro-batches later attributes against it with no
        // reprocessing (the cross-batch case a per-batch join replay
        // cannot cover). Batches are staged by EVENT-TIME slices, so
        // per-user arrival order equals global (us, event_id) order and
        // the composition replays as one batch SQL pass (last non-null
        // click over the per-user (us, id)-ordered sequence).
        val (src, out, ck) = Streams.workDirs("streaming_attribution")
        val ev = eventsTable(s, d)
          .filter($"event_type".isin("click", "purchase"))
          .select($"user_id", micros($"ts").as("us"), $"event_id", $"event_type",
            when($"event_type" === "purchase", round($"value" * 100).cast("long"))
              .otherwise(0L).as("rev_c"))
        val Seq(q1, q2) = Seq(0.33, 0.66).map(q =>
          ev.stat.approxQuantile("us", Array(q), 0.0).head.toLong)
        val staged = Streams.stageOrderedBatches(Seq(
          ev.filter($"us" <= q1),
          ev.filter($"us" > q1 && $"us" <= q2),
          ev.filter($"us" > q2)), src)
        val att = graft.streaming.StreamingAttribution
          .attribute(staged, lookbackUs = 7L * 86400000000L)
        Streams.runAppend(att.toDF(), out, ck).orderBy($"event_id")
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
            CASE WHEN event_type = 'purchase'
              THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS rev_c
          FROM events WHERE event_type IN ('click', 'purchase')),
        w AS (SELECT *,
            last_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_us,
            last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_id
          FROM ev)
        SELECT event_id, user_id, us AS purchase_us, rev_c,
          CASE WHEN c_us IS NOT NULL AND us - c_us <= 604800000000
            THEN c_id END AS click_id,
          (c_us IS NOT NULL AND us - c_us <= 604800000000) AS attributed
        FROM w WHERE event_type = 'purchase' ORDER BY event_id"""),
      "Last-touch attribution as keyed streaming state (one click per user " +
        "in GroupState, O(1) per key): purchases attribute across micro-batch " +
        "boundaries with no reprocessing; replays as the batch last-non-null " +
        "window rule."),

    "streaming_funnel" -> Q(
      (s, d) => {
        import s.implicits._
        // The per-stage-window funnel run LIVE: each user's stage
        // transition is emitted exactly once from O(1) keyed state (the
        // stateful twin of funnel_conversion_windows — same 1d/2d
        // windows, so the two surfaces cross-validate). Time-sliced
        // staging keeps per-user arrival order equal to global
        // (us, event_id) order, making the transition stream replayable
        // as the batch first-qualifying-event rules.
        val (src, out, ck) = Streams.workDirs("streaming_funnel")
        val ev = eventsTable(s, d)
          .filter($"event_type".isin("view", "click", "purchase"))
          .select($"user_id", micros($"ts").as("us"), $"event_id", $"event_type")
        val Seq(q1, q2) = Seq(0.33, 0.66).map(q =>
          ev.stat.approxQuantile("us", Array(q), 0.0).head.toLong)
        val staged = Streams.stageOrderedBatches(Seq(
          ev.filter($"us" <= q1),
          ev.filter($"us" > q1 && $"us" <= q2),
          ev.filter($"us" > q2)), src)
        val tr = graft.streaming.StreamingFunnel.transitions(staged,
          w1Us = 86400000000L, w2Us = 2L * 86400000000L)
        Streams.runAppend(tr.toDF(), out, ck).orderBy($"user_id", $"stage")
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type
          FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        v AS (SELECT user_id, min(us) AS t_view FROM ev
          WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id, min(e.us) AS t_click FROM ev e
          JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.us > v.t_view
            AND e.us <= v.t_view + 86400000000
          GROUP BY e.user_id),
        p AS (SELECT e.user_id, min(e.us) AS t_purchase FROM ev e
          JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.us > c.t_click
            AND e.us <= c.t_click + 172800000000
          GROUP BY e.user_id)
        SELECT user_id, '1_view' AS stage, t_view AS us FROM v
        UNION ALL SELECT user_id, '2_click', t_click FROM c
        UNION ALL SELECT user_id, '3_purchase', t_purchase FROM p
        ORDER BY user_id, stage"""),
      "Per-stage-window funnel as keyed streaming state: stage transitions " +
        "emitted exactly once, O(1) per user, cross-validating the batch " +
        "funnel_conversion_windows rules."),

    "streaming_constrained_ingest" -> Q(
      (s, d) => {
        import s.implicits._
        // Write-side CHECK constraints INSIDE the streaming ingest (the
        // constrained_append fork per micro-batch, effectively-once both
        // ways): each batch's clean rows commit via appendOnce (batch-id
        // high-water — replays land zero duplicates) and its violators
        // overwrite a per-batch quarantine subdir (replays rewrite, never
        // double-append). Readback proves no row was lost or duplicated
        // across the fork: accepted + per-constraint quarantine buckets
        // with exact money sums, identical to the batch rule replay.
        val (src, out, ck) = Streams.workDirs("streaming_constrained_ingest")
        val tablePath = s"$out/accepted"; val qPath = s"$out/quarantine"
        val srcRows = table(s, d, "orders").select(
          $"o_orderkey".cast("long").as("o_orderkey"),
          when($"o_orderkey" % 211 === 0, -round($"o_totalprice" * 100).cast("long"))
            .otherwise(round($"o_totalprice" * 100).cast("long")).as("price_c"),
          when($"o_orderkey" % 199 === 0, lit("ZZ"))
            .otherwise($"o_orderstatus").as("status"))
        val staged = Streams.stagedStream(srcRows, src, nFiles = 3)
        val q = staged.writeStream
          .option("checkpointLocation", ck)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            graft.sinks.ConstrainedWrite.appendOnce(batch, tablePath, qPath,
              batchId, Seq(
                "price_positive" -> (col("price_c") > 0),
                "status_known" -> col("status").isin("F", "O", "P")))
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val acc = VersionedTable.read(s, tablePath)
          .agg(lit("accepted").as("bucket"), count(lit(1)).as("n_rows"),
            sum($"price_c").as("price_sum_c"))
        val quar = s.read.parquet(qPath)
          .groupBy(concat(lit("q:"), $"_violated").as("bucket"))
          .agg(count(lit(1)).as("n_rows"), sum($"price_c").as("price_sum_c"))
        acc.unionByName(quar).orderBy($"bucket")
      },
      Some("""WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
            CASE WHEN o_orderkey % 211 = 0
              THEN -CAST(round(o_totalprice * 100) AS BIGINT)
              ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS price_c,
            CASE WHEN o_orderkey % 199 = 0 THEN 'ZZ' ELSE o_orderstatus END AS status
          FROM orders),
        tagged AS (SELECT *,
            CASE WHEN NOT (price_c > 0) THEN 'price_positive'
                 WHEN NOT (status IN ('F', 'O', 'P')) THEN 'status_known'
            END AS v
          FROM src)
        SELECT 'accepted' AS bucket, count(*) AS n_rows,
          CAST(sum(price_c) AS BIGINT) AS price_sum_c
        FROM tagged WHERE v IS NULL
        UNION ALL
        SELECT 'q:' || v, count(*), CAST(sum(price_c) AS BIGINT)
        FROM tagged WHERE v IS NOT NULL GROUP BY v
        ORDER BY bucket"""),
      "Streaming CHECK-constrained ingest: per-micro-batch fork, accepted " +
        "side exactly-once via appendOnce, quarantine side idempotent " +
        "per-batch overwrite — no loss, no duplication, no bad row in the " +
        "table."),

    "streaming_token_budget" -> Q(
      (s, d) => {
        import s.implicits._
        // LIVE TOKEN-BUDGET enforcement per source (the
        // token_budget_apportionment allocations enforced at ingest time):
        // each source carries a running token count in GroupState and the
        // moment a document pushes it past the source's budget (60% of its
        // corpus total — so every source crosses mid-stream) ONE crossing
        // row is emitted naming the crossing doc and the exact cumulative
        // count. Docs are staged in global hash-order slices, so per-source
        // arrival order is deterministic and the crossing replays as a
        // batch prefix-sum rule. O(1) state per source; crossings are
        // emitted exactly once (state carries a crossed flag).
        val (src, out, ck) = Streams.workDirs("streaming_token_budget")
        val docsT = table(s, d, "documents").select($"doc_id", $"source",
          size(graft.functions.ascii_tokens($"text")).cast("long").as("n_tokens"),
          md5(concat(lit("tb:"), $"doc_id".cast("string"))).as("hk"))
        val budgets = docsT.groupBy($"source")
          .agg(idiv(sum($"n_tokens") * 60L, lit(100L)).as("budget"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val Seq(q1, q2) = Seq("55555555", "aaaaaaaa").map(h => h) // hex thirds
        val staged = Streams.stageOrderedBatches(Seq(
          docsT.filter($"hk" <= q1),
          docsT.filter($"hk" > q1 && $"hk" <= q2),
          docsT.filter($"hk" > q2)), src)
        val crossings = graft.streaming.TokenBudget.crossings(staged, budgets)
        Streams.runAppend(crossings.toDF(), out, ck).orderBy($"source")
      },
      Some("""WITH t AS (SELECT doc_id, source,
            CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_tokens,
            md5('tb:' || CAST(doc_id AS VARCHAR)) AS hk
          FROM documents),
        b AS (SELECT source, (CAST(sum(n_tokens) AS BIGINT) * 60) // 100 AS budget
          FROM t GROUP BY source),
        c AS (SELECT t.*, b.budget,
            CAST(sum(n_tokens) OVER (PARTITION BY t.source ORDER BY hk, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM t JOIN b ON t.source = b.source),
        r AS (SELECT *, row_number() OVER (PARTITION BY source, cum >= budget
            ORDER BY hk, doc_id) AS rn FROM c)
        SELECT source, doc_id AS crossing_doc_id, cum AS cum_tokens, budget
        FROM r WHERE cum >= budget AND rn = 1 ORDER BY source"""),
      "Per-source token budgets enforced live: running counts in GroupState, " +
        "one crossing row per source the moment its budget is passed — " +
        "replays as the batch prefix-sum first-crossing rule."),

    "streaming_cdc_replication" -> Q(
      (s, d) => {
        import s.implicits._
        // The full CDC replication pipeline as a STREAM: the source table
        // evolves through three commits, each changelog (changes v→v+1, the
        // producer half) is staged as one micro-batch, and the consumer
        // applies batches in order with applyChanges — so the replica
        // converges to the source's final state having only ever shipped
        // deltas. This is the reference's Snowflake→Iceberg job shape
        // end-to-end under Structured Streaming; the oracle recomputes the
        // final state directly from the mutation rules. Money flows as
        // exact integer cents.
        val (src, out, ck) = Streams.workDirs("streaming_cdc_replication")
        val srcTable = s"$out/source"; val repTable = s"$out/replica"
        val v1 = table(s, d, "orders")
          .select($"o_orderkey", $"o_custkey",
            round($"o_totalprice" * 100).cast("long").as("price_c"))
        val v2 = v1.filter($"o_orderkey" % 1000 =!= 7)
          .withColumn("price_c", when($"o_orderkey" % 100 === 0, $"price_c" + 10000L)
            .otherwise($"price_c"))
        val v3 = v2.unionByName(v1.filter($"o_orderkey" % 997 === 0)
          .select(($"o_orderkey" + 90000000L).as("o_orderkey"), $"o_custkey", $"price_c"))
        val v4 = v3.filter($"o_orderkey" % 500 =!= 3)
          .withColumn("price_c", when($"o_orderkey" % 250 === 0, $"price_c" + 100L)
            .otherwise($"price_c"))
        graft.sinks.GraftTableWriter.drop(s, srcTable)
        graft.sinks.GraftTableWriter.drop(s, repTable)
        Seq(v1, v2, v3, v4).foreach(graft.sinks.VersionedTable.overwrite(_, srcTable))
        // replica seeded at v1; the stream carries only the three changelogs,
        // staged sequentially so mod-time order = commit order
        graft.sinks.VersionedTable.overwrite(
          graft.sinks.VersionedTable.readVersion(s, srcTable, 1), repTable)
        val chSchema = graft.sinks.VersionedTable
          .changes(s, srcTable, 1, 2, Seq("o_orderkey")).schema
        (1 to 3).foreach { v =>
          graft.sinks.VersionedTable.changes(s, srcTable, v, v + 1, Seq("o_orderkey"))
            .coalesce(1).write.mode("append").parquet(src)
        }
        val stream = s.readStream.schema(chSchema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val q = stream.writeStream
          .option("checkpointLocation", ck)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            graft.sinks.VersionedTable.applyChanges(batch, repTable, Seq("o_orderkey"))
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        graft.sinks.VersionedTable.read(s, repTable).orderBy($"o_orderkey")
      },
      Some("""WITH v1 AS (SELECT o_orderkey, o_custkey,
            CAST(round(o_totalprice * 100) AS BIGINT) AS price_c FROM orders),
        v2 AS (SELECT o_orderkey, o_custkey,
            CASE WHEN o_orderkey % 100 = 0 THEN price_c + 10000 ELSE price_c END AS price_c
          FROM v1 WHERE o_orderkey % 1000 <> 7),
        v3 AS (SELECT * FROM v2 UNION ALL
          SELECT o_orderkey + 90000000, o_custkey, price_c FROM v1 WHERE o_orderkey % 997 = 0),
        v4 AS (SELECT o_orderkey, o_custkey,
            CASE WHEN o_orderkey % 250 = 0 THEN price_c + 100 ELSE price_c END AS price_c
          FROM v3 WHERE o_orderkey % 500 <> 3)
        SELECT o_orderkey, o_custkey, price_c FROM v4 ORDER BY o_orderkey"""),
      "CDC replication as a stream: per-commit changelogs staged as micro-batches, " +
        "applyChanges per batch — the replica converges to the source shipping only deltas."),

    "streaming_iceberg_export" -> Q(
      (s, d) => {
        import s.implicits._
        // The reference deployment COMPOSED end-to-end (r13): a live CDC
        // upsert stream commits MOR micro-batches exactly-once into the
        // graft table AND extends the Iceberg v2 export incrementally
        // inside the SAME foreachBatch — the downstream lakehouse sees
        // every micro-batch as a real Iceberg snapshot the moment it
        // commits (IcebergSinkBuilder.java:40-44's equalityFieldColumns +
        // upsert(true), continuously exported). Exactly-once composition:
        // upsertMorOnce's batch-id high-water refuses replayed batches
        // (export skipped too — the chain didn't grow), and a crash
        // BETWEEN commit and export self-heals because exportIncremental
        // exports every graft version past the hint — the next batch's
        // export covers the orphaned commit. Readback = the merged final
        // state computed from the EXPORTED metadata alone (IcebergRead,
        // zero shared code with the exporter). Scale: per batch this
        // writes O(batch) data + delete files and O(1) manifests/lists —
        // nothing existing is rewritten, the export cost is O(new
        // commits), independent of table size.
        val (src, out, ck) = Streams.workDirs("streaming_iceberg_export")
        val tablePath = s"$out/table"; val ice = s"$out/iceberg"
        graft.sinks.GraftTableWriter.drop(s, tablePath)
        graft.sinks.GraftTableWriter.drop(s, ice)
        val base = table(s, d, "orders").select($"o_orderkey", $"o_custkey",
          round($"o_totalprice" * 100).cast("long").as("price_c"))
        graft.sinks.VersionedTable.append(base, tablePath) // v1: the seed
        graft.sinks.IcebergExport.export(s, tablePath, ice) // exported at v1
        // three upsert changelogs staged sequentially (mod-time = order):
        // updates re-derive from BASE prices, so MOR last-writer-wins is
        // the oracle's CASE priority (b2 overwrites b1 on %500 keys)
        val b1 = base.filter($"o_orderkey" % 100 === 0)
          .withColumn("price_c", $"price_c" + 10000L)
          .unionByName(base.filter($"o_orderkey" % 997 === 0)
            .select(($"o_orderkey" + 90000000L).as("o_orderkey"),
              $"o_custkey", $"price_c"))
        val b2 = base.filter($"o_orderkey" % 250 === 0)
          .withColumn("price_c", $"price_c" + 100L)
        val b3 = base.filter($"o_orderkey" % 499 === 0)
          .select(($"o_orderkey" + 180000000L).as("o_orderkey"),
            $"o_custkey", $"price_c")
        Seq(b1, b2, b3).foreach(_.coalesce(1).write.mode("append").parquet(src))
        val staged = s.readStream.schema(s.read.parquet(src).schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val q = staged.writeStream
          .option("checkpointLocation", ck)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            if (graft.sinks.VersionedTable.upsertMorOnce(batch, tablePath,
                Seq("o_orderkey"), batchId))
              graft.sinks.IcebergExport.exportIncremental(s, tablePath, ice)
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        graft.sources.IcebergRead.read(s, ice).orderBy($"o_orderkey")
      },
      Some("""WITH base AS (SELECT o_orderkey, o_custkey,
            CAST(round(o_totalprice * 100) AS BIGINT) AS price_c FROM orders),
        fin AS (SELECT o_orderkey, o_custkey,
            CASE WHEN o_orderkey % 250 = 0 THEN price_c + 100
              WHEN o_orderkey % 100 = 0 THEN price_c + 10000
              ELSE price_c END AS price_c
          FROM base
          UNION ALL
          SELECT o_orderkey + 90000000, o_custkey, price_c FROM base
          WHERE o_orderkey % 997 = 0
          UNION ALL
          SELECT o_orderkey + 180000000, o_custkey, price_c FROM base
          WHERE o_orderkey % 499 = 0)
        SELECT o_orderkey, o_custkey, price_c FROM fin ORDER BY o_orderkey"""),
      "Live CDC stream with a PER-BATCH incremental Iceberg export: " +
        "exactly-once MOR commits (batch-id high-water) each extend the " +
        "exported v2 metadata in the same foreachBatch — the lakehouse " +
        "sees every micro-batch as a real Iceberg snapshot; readback from " +
        "the exported metadata alone."),

    "streaming_upsert_mor" -> Q(
      (s, d) => {
        // The reference's sink mechanism VERBATIM: a streaming upsert into
        // an Iceberg-v2 table is merge-on-read equality deletes guarded by
        // max-committed-checkpoint-id — here upsertMorOnce per micro-batch
        // (one self-deleting data dir + batch id in ONE commit, O(batch)
        // written, nothing rewritten; streaming_upsert_pipeline is the same
        // topology on the copy-on-write path). Batches are staged
        // sequentially (slice k = event_id % 4) so MOR's last-writer-wins
        // is deterministic: the final row per key is the max-event_id row
        // of the key's HIGHEST slice — exactly what the oracle's
        // (slice DESC, event_id DESC) ranking computes.
        val (src, out, ck) = Streams.workDirs("streaming_upsert_mor")
        val tablePath = s"$out/table"
        val input = eventsTable(s, d)
          .select(col("user_id"), col("event_type"), col("event_id"),
            round(col("value") * 100).cast("long").as("v_c"))
        (0 until 4).foreach { k => // sequential appends: mod-time = batch order
          input.filter(col("event_id") % 4 === k)
            .coalesce(1).write.mode("append").parquet(src)
        }
        val keys = Seq("user_id", "event_type")
        val staged = s.readStream.schema(s.read.parquet(src).schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val q = staged.writeStream
          .option("checkpointLocation", ck)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            val compacted = graft.operators.Upsert.latestByKey(
              batch, keys, Seq(col("event_id").desc))
            graft.sinks.VersionedTable.upsertMorOnce(compacted, tablePath, keys, batchId)
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        graft.sinks.VersionedTable.read(s, tablePath)
          .orderBy(col("user_id"), col("event_type"))
      },
      Some("""SELECT user_id, event_type, event_id, v_c FROM (
          SELECT user_id, event_type, event_id,
            CAST(round(value * 100) AS BIGINT) AS v_c,
            row_number() OVER (PARTITION BY user_id, event_type
              ORDER BY event_id % 4 DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1 ORDER BY user_id, event_type"""),
      "The reference's sink verbatim: streaming CDC upsert as merge-on-read equality " +
        "deletes + batch-id exactly-once (O(batch) per commit, nothing rewritten)."),

    "streaming_topk" -> Q(
      (s, d) => {
        val (src, out, ck) = Streams.workDirs("streaming_topk")
        val staged = Streams.stagedStream(eventsTable(s, d), src, nFiles = 4)
        // Continuous leaderboard: top-3 events by value per (hour, type),
        // maintained by the custom TopKPairs TypedImperativeAggregate INSIDE
        // the streaming state store — each micro-batch merges into the O(k)
        // heap buffer, so state is 3 pairs per group, not the full history
        // (a row_number window would need every event retained). This is the
        // operator's incremental-execution proof: the same kernel as
        // grouped_topk, now surviving buffer serialization across 4 batches.
        val pr = (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4))
          * 10000).cast("long")
        val agg = staged
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(graft.functions.topk_pairs(pr, col("event_id"), 3,
            descending = true).as("tk"))
          .select(micros(col("window.start")).as("bucket_us"), col("event_type"),
            explode(col("tk")).as("e"))
          .select(col("bucket_us"), col("event_type"),
            col("e.v").as("event_id"), col("e.p").as("value_e4"))
        Streams.runCompleteOverwrite(agg, out, ck)
      },
      Some("""SELECT bucket_us, event_type, event_id, value_e4 FROM (
          SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type, event_id,
            CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS value_e4,
            row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
              ORDER BY CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) DESC,
                event_id) AS rn
          FROM events) WHERE rn <= 3"""),
      "Streaming per-(hour,type) top-3 leaderboard through the bounded-state " +
        "TopKPairs aggregate: O(k) heap buffers in the state store, merged " +
        "incrementally across micro-batches — no full-history retention."),

    "streaming_prefix_anomaly" -> Q(
      (s, d) => {
        // Online 3σ anomaly gate: each event is scored against the running
        // (n, S, SS) of every STRICTLY EARLIER event of its series — O(1)
        // state per key where the batch window replay retains the full
        // partition. Arrival order is the semantics here, so the staging is
        // TIME-SLICED (quartile ranges of ts written sequentially, mod-time
        // = batch order — the streaming_upsert_mor idiom): every event of
        // batch k precedes batch k+1, ties can't split because slices cut
        // on ts value. Warmup 30 mutes the noisy cold start.
        val (src, out, ck) = Streams.workDirs("streaming_prefix_anomaly")
        val ev = eventsTable(s, d).select(col("event_type"),
          micros(col("ts")).as("ts_us"), col("event_id"),
          (dec2(col("value")) * 100).cast("long").as("value_c"))
        // O(3) driver scalars; boundary precision is irrelevant to the
        // result (any ts-respecting cut yields the same prefix order)
        val cuts = ev.stat.approxQuantile("ts_us", Array(0.25, 0.5, 0.75), 0.001)
          .map(_.toLong)
        val slices = Seq(
          col("ts_us") < cuts(0),
          col("ts_us") >= cuts(0) && col("ts_us") < cuts(1),
          col("ts_us") >= cuts(1) && col("ts_us") < cuts(2),
          col("ts_us") >= cuts(2))
        slices.foreach { p => // sequential appends: mod-time = batch order
          ev.filter(p).coalesce(1).write.mode("append").parquet(src)
        }
        val staged = s.readStream.schema(s.read.parquet(src).schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        // this query's oracle is the FULL-HISTORY prefix: state must never
        // expire mid-stream (eviction would restart the warmup and change
        // the flags) — exactly the operator's drop-free unbounded default
        // (r9); open-ended production monitors opt into bounds by passing
        // lateToleranceUs >= 0
        val flags = graft.streaming.PrefixAnomaly
          .flagged(staged, warmup = 30L, thresholdE6 = 9000000L)
        Streams.runAppend(flags.toDF(), out, ck).orderBy(col("event_id"))
      },
      Some("""WITH v AS (SELECT event_id, event_type, ts,
              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_c
            FROM events),
          w AS (SELECT event_id, event_type, value_c,
              count(*) OVER pre AS n,
              CAST(coalesce(sum(value_c) OVER pre, 0) AS BIGINT) AS s,
              CAST(coalesce(sum(value_c * value_c) OVER pre, 0) AS BIGINT) AS ss
            FROM v WINDOW pre AS (PARTITION BY event_type ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
          z AS (SELECT event_id, event_type, value_c,
              CAST((1000000 * CAST(n * value_c - s AS HUGEINT)
                            * CAST(n * value_c - s AS HUGEINT))
                   // greatest(CAST(n AS HUGEINT) * ss
                              - CAST(s AS HUGEINT) * s, 1) AS BIGINT) AS z2_e6
            FROM w WHERE n >= 30)
        SELECT event_id, event_type, value_c, z2_e6 FROM z
        WHERE z2_e6 > 9000000 ORDER BY event_id"""),
      "Online prefix z-score anomaly gate: flatMapGroupsWithState with " +
        "THREE BIGINTs of state per series vs the full-partition batch " +
        "window replay — integer-exact across 4 time-sliced micro-batches."),

    "streaming_late_dim_backfill" -> Q(
      (s, d) => {
        // The CDC race the reference's topology assumes away: the fact feed
        // outruns the dimension feed. Facts with no dim yet buffer in keyed
        // state and re-emit enriched when the late dim lands; the final
        // output is EXACTLY the batch inner join (nothing dropped, nothing
        // null-padded), and was_buffered records which facts had to wait —
        // deterministic from the staging rule, so the oracle predicts it:
        // batch order is facts(even event_id) → dims(even user) →
        // facts(odd event_id) → dims(odd user), hence a fact buffered iff
        // it was in batch 1 (no dims at all yet) or its user's dim is odd.
        val (src, out, ck) = Streams.workDirs("streaming_late_dim_backfill")
        val ev = eventsTable(s, d)
        val facts = ev.select(lit("f").as("kind"), col("user_id"),
          col("event_id"), (dec2(col("value")) * 100).cast("long").as("value_c"),
          lit("").as("segment"))
        val dims = ev.select(col("user_id")).distinct()
          .select(lit("d").as("kind"), col("user_id"),
            lit(-1L).as("event_id"), lit(0L).as("value_c"),
            concat(lit("S"), (col("user_id") % 5).cast("string")).as("segment"))
        Seq(facts.filter(col("event_id") % 2 === 0),
            dims.filter(col("user_id") % 2 === 0),
            facts.filter(col("event_id") % 2 === 1),
            dims.filter(col("user_id") % 2 === 1))
          .foreach { b => // sequential appends: mod-time = batch order
            b.coalesce(1).write.mode("append").parquet(src)
          }
        val staged = s.readStream.schema(s.read.parquet(src).schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val joined = graft.streaming.LateDimJoin.joined(staged)
        Streams.runAppend(joined.toDF(), out, ck).orderBy(col("event_id"))
      },
      Some("""WITH f AS (SELECT event_id, user_id,
              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_c
            FROM events),
          dm AS (SELECT DISTINCT user_id,
              'S' || CAST(user_id % 5 AS VARCHAR) AS segment FROM events)
        SELECT f.event_id, f.user_id, f.value_c, dm.segment,
          (f.event_id % 2 = 0 OR f.user_id % 2 = 1) AS was_buffered
        FROM f JOIN dm ON f.user_id = dm.user_id ORDER BY f.event_id"""),
      "Late-dimension backfill join: facts buffer in keyed state until the " +
        "lagging dim arrives, then drain enriched — output ≡ the batch " +
        "inner join, state O(race window) not O(history)."),

    "streaming_scd2" -> Q(
      (s, d) => {
        // INCREMENTAL SCD2 maintenance: the history table of
        // cdc_scd2_history built micro-batch by micro-batch instead of in
        // one windowed pass. Per batch, work is O(batch + affected open
        // rows): new versions get their intra-batch [from, to) intervals
        // from a lead() window, the previously-OPEN row of each touched key
        // is fetched back (broadcast semi-join of batch keys against the
        // open slice; at 100 TB that fetch is the bloom-sidecar point-read
        // path, bloom_point_lookup) and closed at the first new version's
        // valid_from, and both sets flow through the versioned equality
        // upsert keyed by (user, type, event_id) — the closed copy of a row
        // replaces its open copy because non-null valid_to wins the upsert
        // ordering. Batches arrive in event_id order (range-staged files),
        // matching the CDC source contract; the final table is
        // row-identical to the batch window build.
        val (src, out, ck) = Streams.workDirs("streaming_scd2")
        val input = eventsTable(s, d)
          .select(col("user_id"), col("event_type"), col("event_id"),
            col("value"), micros(col("ts")).as("valid_from_us"))
        // CDC arrives in commit order: stage 4 contiguous event_id slices as
        // SEQUENTIAL appends (file-source mod-time order = slice order).
        val mx = input.agg(max(col("event_id"))).head.getLong(0)
        (1 to 4).foreach { i =>
          val lo = if (i == 1) Long.MinValue else (i - 1) * (mx / 4)
          val hi = if (i == 4) Long.MaxValue else i * (mx / 4)
          input.filter(col("event_id") > lo && col("event_id") <= hi)
            .coalesce(1).write.mode("append").parquet(src)
        }
        val staged = s.readStream.schema(s.read.parquet(src).schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val tablePath = s"$out/table"
        val keys = Seq("user_id", "event_type", "event_id")
        val q = staged.writeStream
          .option("checkpointLocation", ck)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val sp = batch.sparkSession
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy("user_id", "event_type").orderBy("event_id")
            val b = batch
              .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
            val firstPerKey = b.groupBy(col("user_id"), col("event_type"))
              .agg(min(struct(col("event_id"), col("valid_from_us"))).as("f"))
              .select(col("user_id"), col("event_type"),
                col("f.valid_from_us").as("next_from"))
            val closers =
              if (graft.sinks.GraftTableWriter.exists(sp, tablePath))
                sp.read.parquet(tablePath)
                  .filter(col("valid_to_us").isNull)
                  .join(broadcast(firstPerKey), Seq("user_id", "event_type"))
                  .withColumn("valid_to_us", col("next_from"))
                  .drop("next_from")
              else b.limit(0)
            graft.sinks.GraftTableWriter.upsertVersioned(
              b.unionByName(closers), tablePath, keys,
              Seq(col("valid_to_us").desc_nulls_last))
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(tablePath)
          .withColumn("is_current", col("valid_to_us").isNull)
          .select(col("user_id"), col("event_type"), col("event_id"),
            col("value"), col("valid_from_us"), col("valid_to_us"), col("is_current"))
          .orderBy(col("user_id"), col("event_type"), col("event_id"))
      },
      Some("""SELECT user_id, event_type, event_id, value,
          epoch_us(ts) AS valid_from_us,
          lead(epoch_us(ts)) OVER w AS valid_to_us,
          lead(epoch_us(ts)) OVER w IS NULL AS is_current
        FROM events
        WINDOW w AS (PARTITION BY user_id, event_type ORDER BY event_id)
        ORDER BY user_id, event_type, event_id"""),
      "Micro-batch-incremental SCD2: per batch, lead() intervals within the " +
        "batch + close-the-open-row fetch-back, through the versioned " +
        "equality upsert — O(batch) maintenance, row-identical to the " +
        "batch window build."),

    "streaming_drift_monitor" -> Q(
      (s, d) => {
        // Continuous distribution-drift monitoring — the live counterpart
        // of histogram_drift_tvd: every micro-batch folds to a 10-band
        // value histogram (state O(bands), emitted online, never the
        // rows), and each batch's total-variation distance against the
        // FIRST batch (the reference window) is the drift verdict. TVD in
        // the common-denominator integer form Σ|c_b·N₀ − c₀·N_b| ÷
        // 2·N_b·N₀ — one e6 floor, HUGEINT-free since counts are
        // per-batch. Batches arrive in commit order (sequential
        // event_id-slice staging, the SCD2 pattern).
        val (src, out, ck) = Streams.workDirs("streaming_drift_monitor")
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val input = eventsTable(s, d)
          .select(col("event_id"),
            (dec2(col("value")) * 100).cast("long").as("value_c"))
        val mx = input.agg(max(col("event_id"))).head.getLong(0)
        (1 to 4).foreach { i =>
          val lo = if (i == 1) Long.MinValue else (i - 1) * (mx / 4)
          val hi = if (i == 4) Long.MaxValue else i * (mx / 4)
          input.filter(col("event_id") > lo && col("event_id") <= hi)
            .coalesce(1).write.mode("append").parquet(src)
        }
        val histDir = s"$out/hist"
        val staged = s.readStream.schema(s.read.parquet(src).schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val q = staged.writeStream
          .option("checkpointLocation", ck)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            batch
              .select(least(greatest(idiv(col("value_c"), lit(10000L)), lit(0L)),
                lit(9L)).as("band"))
              .groupBy(col("band")).agg(count(lit(1)).as("cnt"))
              .withColumn("batch_id", lit(batchId))
              .coalesce(1).write.mode("append").parquet(histDir)
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // dense (batch × band) grid: a band EMPTY in one batch but present
        // in the other must still contribute its |c_b·N0 − c0·N_b| term
        val hist = s.read.parquet(histDir)
        val totals = hist.groupBy(col("batch_id")).agg(sum(col("cnt")).as("n"))
        val bands = s.range(0, 10).select(col("id").as("band"))
        val ref = bands.join(hist.filter(col("batch_id") === 0L), Seq("band"), "left")
          .select(col("band"), coalesce(col("cnt"), lit(0L)).as("c0"))
        val refN = totals.filter(col("batch_id") === 0L)
          .select(col("n").as("n0"))
        totals.crossJoin(broadcast(bands))
          .join(hist, Seq("batch_id", "band"), "left")
          .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
          .join(broadcast(ref), "band")
          .crossJoin(broadcast(refN))
          .groupBy(col("batch_id"), col("n"), col("n0"))
          .agg(sum(abs(col("cnt").cast(d38) * col("n0").cast(d38) -
            col("c0").cast(d38) * col("n").cast(d38))).as("num"))
          .select(col("batch_id"), col("n").as("n_rows"),
            idiv(lit(1000000L).cast(d38) * col("num"),
              lit(2L).cast(d38) * col("n").cast(d38) * col("n0").cast(d38))
              .as("tvd_e6"))
          .orderBy(col("batch_id"))
      },
      Some("""WITH mx AS (SELECT max(event_id) AS m FROM events),
        sl AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_c,
            CASE WHEN event_id <= (SELECT m // 4 FROM mx) THEN 0
                 WHEN event_id <= 2 * (SELECT m // 4 FROM mx) THEN 1
                 WHEN event_id <= 3 * (SELECT m // 4 FROM mx) THEN 2
                 ELSE 3 END AS batch_id
          FROM events),
        h AS (SELECT batch_id,
            least(greatest(value_c // 10000, 0), 9) AS band, count(*) AS cnt
          FROM sl GROUP BY 1, 2),
        t AS (SELECT batch_id, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
        bands AS (SELECT unnest(generate_series(0, 9)) AS band),
        r AS (SELECT b.band, coalesce(h.cnt, 0) AS c0
          FROM bands b LEFT JOIN h ON h.band = b.band AND h.batch_id = 0),
        rn AS (SELECT n AS n0 FROM t WHERE batch_id = 0),
        j AS (SELECT t.batch_id, t.n, b.band, coalesce(h.cnt, 0) AS cnt
          FROM t CROSS JOIN bands b
          LEFT JOIN h ON h.batch_id = t.batch_id AND h.band = b.band),
        a AS (SELECT j.batch_id, j.n, rn.n0,
            sum(abs(CAST(j.cnt AS HUGEINT) * rn.n0 - CAST(r.c0 AS HUGEINT) * j.n)) AS num
          FROM j JOIN r ON j.band = r.band, rn
          GROUP BY 1, 2, 3)
        SELECT CAST(batch_id AS BIGINT) AS batch_id, n AS n_rows,
          CAST((1000000 * num) // (2 * CAST(n AS HUGEINT) * n0) AS BIGINT) AS tvd_e6
        FROM a ORDER BY batch_id"""),
      "Streaming drift monitor: per-micro-batch 10-band histograms (O(bands) " +
        "state, emitted online), total-variation distance vs the first batch " +
        "in common-denominator integer form — the live histogram_drift_tvd."),

    "streaming_cep" -> Q(
      (s, d) => {
        // Flink-CEP on Structured Streaming: the batch cep_pattern_match
        // state machine (strict view→click→purchase contiguity over the
        // type-filtered stream, 1-day bound) with O(1) keyed state — the
        // last TWO relevant events per user — so matches spanning
        // micro-batch boundaries fire where a per-batch window would drop
        // them. Event-id slices stage in time order (event_id order ≡ time
        // order in this CDC stream, and the fold re-sorts within batch).
        // Output ≡ the batch window build, row for row.
        val (src, out, ck) = Streams.workDirs("streaming_cep")
        val input = eventsTable(s, d)
          .filter(col("event_type").isin("view", "click", "purchase"))
          .select(col("user_id"), micros(col("ts")).as("us"),
            col("event_id"), col("event_type"))
        val mx = input.agg(max(col("event_id"))).head.getLong(0)
        (1 to 4).foreach { i =>
          val lo = if (i == 1) Long.MinValue else (i - 1) * (mx / 4)
          val hi = if (i == 4) Long.MaxValue else i * (mx / 4)
          input.filter(col("event_id") > lo && col("event_id") <= hi)
            .coalesce(1).write.mode("append").parquet(src)
        }
        val staged = s.readStream.schema(s.read.parquet(src).schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        // idle eviction must DOMINATE the pattern window to be provably
        // output-preserving (CepMatch Scaladoc): an evicted prefix can then
        // only have matched a purchase the windowUs guard rejects anyway
        // bounded state is opted into EXPLICITLY (r9: the operator default
        // reverted to drop-free/unbounded): 1 h watermark + 2×window idle
        // eviction, the production-monitor configuration
        val m = graft.streaming.CepMatch.matches(staged,
          windowUs = 86400000000L, idleTimeoutUs = 2L * 86400000000L,
          lateToleranceUs = 3600000000L)
        Streams.runAppend(m.toDF(), out, ck)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_matches"), min(col("view_us")).as("first_match_us"))
          .orderBy(col("user_id"))
      },
      Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
          FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        m AS (SELECT user_id, us, event_type,
            lead(event_type, 1) OVER w AS t1,
            lead(event_type, 2) OVER w AS t2,
            lead(us, 2) OVER w AS u2
          FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        SELECT user_id, count(*) AS n_matches, min(us) AS first_match_us
        FROM m
        WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
          AND u2 - us <= 86400000000
        GROUP BY user_id ORDER BY user_id"""),
      "Streaming CEP (Flink-CEP next semantics as keyed state): last-two-" +
        "events O(1) state per user, cross-batch matches fire, output ≡ " +
        "the batch strict-contiguity window build."),

    "streaming_cep_followedby" -> Q(
      (s, d) => {
        // Flink-CEP's DEFAULT semantic on Structured Streaming: the batch
        // cep_followed_by relaxed-contiguity pattern (view →followedBy
        // click →followedBy purchase within 1 day) as a keyed state
        // machine — pending-view / pending-pair lists bounded by the
        // within window (CepFollowedBy Scaladoc), so matches whose stages
        // land in different micro-batches fire where any per-batch window
        // replay would drop them. Output ≡ the batch following-min build.
        val (src, out, ck) = Streams.workDirs("streaming_cep_followedby")
        val input = eventsTable(s, d)
          .filter(col("event_type").isin("view", "click", "purchase"))
          .select(col("user_id"), micros(col("ts")).as("us"),
            col("event_id"), col("event_type"))
        val mx = input.agg(max(col("event_id"))).head.getLong(0)
        (1 to 4).foreach { i =>
          val lo = if (i == 1) Long.MinValue else (i - 1) * (mx / 4)
          val hi = if (i == 4) Long.MaxValue else i * (mx / 4)
          input.filter(col("event_id") > lo && col("event_id") <= hi)
            .coalesce(1).write.mode("append").parquet(src)
        }
        val staged = s.readStream.schema(s.read.parquet(src).schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val m = graft.streaming.CepFollowedBy.matches(staged,
          windowUs = 86400000000L, idleTimeoutUs = 2L * 86400000000L,
          lateToleranceUs = 3600000000L)
        Streams.runAppend(m.toDF(), out, ck)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_matches"), min(col("view_us")).as("first_match_us"))
          .orderBy(col("user_id"))
      },
      Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
          FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        r AS (SELECT *, row_number() OVER (PARTITION BY user_id
            ORDER BY us, event_id) AS rn FROM ev),
        n AS (SELECT *,
            min(CASE WHEN event_type = 'click' THEN rn END) OVER f AS next_click_rn,
            min(CASE WHEN event_type = 'purchase' THEN rn END) OVER f AS next_purchase_rn
          FROM r WINDOW f AS (PARTITION BY user_id ORDER BY rn
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
        m AS (SELECT v.user_id, v.us AS view_us, p.us AS purchase_us
          FROM n v
          JOIN n c ON v.user_id = c.user_id AND c.rn = v.next_click_rn
          JOIN n p ON c.user_id = p.user_id AND p.rn = c.next_purchase_rn
          WHERE v.event_type = 'view' AND p.us - v.us <= 86400000000)
        SELECT user_id, count(*) AS n_matches, min(view_us) AS first_match_us
        FROM m GROUP BY user_id ORDER BY user_id"""),
      "Streaming relaxed-contiguity CEP (Flink-CEP followedBy as keyed " +
        "state): within-window-bounded pending lists per user, cross-batch " +
        "matches fire, output ≡ the batch following-min build."),

    "streaming_cep_one_or_more" -> Q(
      (s, d) => {
        // The GREEDY KLEENE quantifier live (Flink-CEP click.oneOrMore):
        // the batch cep_one_or_more pattern as keyed state — pending pairs
        // carry their absorbed click COUNT, each further click increments
        // every open pair, the closing purchase emits (view, purchase,
        // group size). Same within-window state bound, staging, and
        // cross-batch guarantees as streaming_cep_followedby; gated by the
        // batch query's prefix-count-difference oracle.
        val (src, out, ck) = Streams.workDirs("streaming_cep_one_or_more")
        val input = eventsTable(s, d)
          .filter(col("event_type").isin("view", "click", "purchase"))
          .select(col("user_id"), micros(col("ts")).as("us"),
            col("event_id"), col("event_type"))
        val mx = input.agg(max(col("event_id"))).head.getLong(0)
        (1 to 4).foreach { i =>
          val lo = if (i == 1) Long.MinValue else (i - 1) * (mx / 4)
          val hi = if (i == 4) Long.MaxValue else i * (mx / 4)
          input.filter(col("event_id") > lo && col("event_id") <= hi)
            .coalesce(1).write.mode("append").parquet(src)
        }
        val staged = s.readStream.schema(s.read.parquet(src).schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val m = graft.streaming.CepOneOrMore.matches(staged,
          windowUs = 86400000000L, idleTimeoutUs = 2L * 86400000000L,
          lateToleranceUs = 3600000000L)
        Streams.runAppend(m.toDF(), out, ck)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_matches"),
            sum(col("n_clicks")).as("clicks_absorbed"),
            min(col("view_us")).as("first_match_us"))
          .orderBy(col("user_id"))
      },
      Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
          FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        r AS (SELECT *, row_number() OVER (PARTITION BY user_id
            ORDER BY us, event_id) AS rn FROM ev),
        n AS (SELECT *,
            min(CASE WHEN event_type = 'click' THEN rn END) OVER f AS next_click_rn,
            min(CASE WHEN event_type = 'purchase' THEN rn END) OVER f AS next_purchase_rn,
            sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER c AS cum_clicks
          FROM r
          WINDOW f AS (PARTITION BY user_id ORDER BY rn
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
          c AS (PARTITION BY user_id ORDER BY rn
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        m AS (SELECT v.user_id, v.us AS view_us,
            p.cum_clicks - v.cum_clicks AS n_clicks
          FROM n v
          JOIN n c1 ON v.user_id = c1.user_id AND c1.rn = v.next_click_rn
          JOIN n p ON c1.user_id = p.user_id AND p.rn = c1.next_purchase_rn
          WHERE v.event_type = 'view' AND p.us - v.us <= 86400000000)
        SELECT user_id, count(*) AS n_matches,
          CAST(sum(n_clicks) AS BIGINT) AS clicks_absorbed,
          min(view_us) AS first_match_us
        FROM m GROUP BY user_id ORDER BY user_id"""),
      "Streaming greedy oneOrMore CEP: pending pairs carry absorbed click " +
        "counts in keyed state, cross-batch matches fire, output ≡ the " +
        "batch prefix-count build."),

    "streaming_holt_forecast" -> Q(
      (s, d) => {
        // The ONLINE form of holt_linear_smoothing: each daily point of a
        // series updates O(1) keyed state (level, trend) and emits its
        // smoothed row + one-step forecast the moment it lands — the live
        // forecast monitor, where the batch fold re-reads the whole
        // series. Row-identical to the batch operator by construction
        // (same truncating-division recurrences), so the SAME recursive-
        // CTE oracle gates both. Staging is TIME-SLICED (quartile ranges
        // of day_us written sequentially — the streaming_prefix_anomaly
        // idiom): every point of batch k precedes batch k+1, so carried
        // level/trend state is load-bearing across all three boundaries
        // (HoltStreamSpec proves a per-batch reset changes the output).
        val (src, out, ck) = Streams.workDirs("streaming_holt_forecast")
        val byDay = eventsTable(s, d)
          .groupBy(col("event_type").as("k"),
            micros(date_trunc("day", col("ts"))).as("t"))
          .agg(sum((dec2(col("value")) * 100).cast("long")).as("v"))
        val cuts = byDay.stat.approxQuantile("t", Array(0.25, 0.5, 0.75), 0.001)
          .map(_.toLong)
        val slices = Seq(
          col("t") < cuts(0),
          col("t") >= cuts(0) && col("t") < cuts(1),
          col("t") >= cuts(1) && col("t") < cuts(2),
          col("t") >= cuts(2))
        slices.foreach { p =>
          byDay.filter(p).coalesce(1).write.mode("append").parquet(src)
        }
        val staged = s.readStream.schema(s.read.parquet(src).schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val sm = graft.streaming.HoltStream.smoothed(staged)
        Streams.runAppend(
            sm.toDF().select(col("k").as("event_type"), col("t").as("day_us"),
              col("v").as("v_c"), col("level").as("level_c"),
              col("trend").as("trend_c"), col("forecast1").as("forecast1_c")),
            out, ck)
          .orderBy(col("event_type"), col("day_us"))
      },
      Some(Analytics.holtOracleSql),
      "Streaming Holt forecast: flatMapGroupsWithState with two longs of " +
        "state per series vs the batch fold's full re-read — row-identical " +
        "across 4 time-sliced micro-batches, gated by the same recursive-" +
        "CTE oracle as holt_linear_smoothing."),

    "streaming_croston_forecast" -> Q(
      (s, d) => {
        // The ONLINE form of croston_intermittent (r13): each demand
        // occurrence of a part updates O(1) keyed state (size EWMA,
        // interval EWMA, last demand day) and emits its live demand-rate
        // forecast — the replenishment monitor, where the batch fold
        // re-reads the whole history. Row-identical to operators.Croston
        // by construction, so the SAME recursive-CTE oracle gates both.
        // Time-sliced staging (quartiles of the demand-day index) keeps
        // per-key arrival order equal to day order, so the carried state
        // is load-bearing across all three boundaries (CrostonSpec proves
        // a per-batch reset diverges). State is 3 longs per part that
        // ever sold — O(SKUs), nothing worth evicting.
        val (src, out, ck) = Streams.workDirs("streaming_croston_forecast")
        val day = 86400000000L
        val demands = table(s, d, "lineitem")
          .groupBy(col("l_partkey"),
            idiv(micros(col("l_shipdate")), lit(day)).as("t"))
          .agg(sum(col("l_quantity").cast("long")).as("v"))
          .select(col("l_partkey").cast("string").as("k"), col("t"), col("v"))
        val cuts = demands.stat.approxQuantile("t", Array(0.25, 0.5, 0.75), 0.001)
          .map(_.toLong)
        val slices = Seq(
          col("t") < cuts(0),
          col("t") >= cuts(0) && col("t") < cuts(1),
          col("t") >= cuts(1) && col("t") < cuts(2),
          col("t") >= cuts(2))
        slices.foreach { p =>
          demands.filter(p).coalesce(1).write.mode("append").parquet(src)
        }
        val staged = s.readStream.schema(s.read.parquet(src).schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val fc = graft.streaming.CrostonStream.forecast(staged)
        Streams.runAppend(fc.toDF(), out, ck).orderBy(col("k"), col("t"))
      },
      Some(Analytics.crostonOracleSql),
      "Streaming Croston: flatMapGroupsWithState with three longs of state " +
        "per SKU emits the live intermittent-demand rate — row-identical " +
        "across 4 time-sliced micro-batches, gated by the same recursive-" +
        "CTE oracle as croston_intermittent."),

    "streaming_burst_gate" -> Q(
      (s, d) => {
        // The LIVE twin of bot_burst_detection: the gate fires the moment
        // a user's run of sub-4h inter-arrivals reaches 4 events — the
        // actionable point an abuse gate throttles at, where the batch
        // query is the post-hoc census. O(1) keyed state (last time, run
        // length, run start); time-sliced staging so arrival order =
        // event-time order (the streaming_prefix_anomaly idiom); the
        // oracle replays each qualifying run's 4th event from the batch
        // gaps-and-islands build.
        val (src, out, ck) = Streams.workDirs("streaming_burst_gate")
        val ev = eventsTable(s, d)
          .select(col("user_id"), micros(col("ts")).as("us"), col("event_id"))
        val cuts = ev.stat.approxQuantile("us", Array(0.25, 0.5, 0.75), 0.001)
          .map(_.toLong)
        val slices = Seq(
          col("us") < cuts(0),
          col("us") >= cuts(0) && col("us") < cuts(1),
          col("us") >= cuts(1) && col("us") < cuts(2),
          col("us") >= cuts(2))
        slices.foreach { p =>
          ev.filter(p).coalesce(1).write.mode("append").parquet(src)
        }
        val staged = s.readStream.schema(s.read.parquet(src).schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val fl = graft.streaming.BurstGate.flags(staged,
          gapUs = 14400000000L, flagAt = 4L)
        Streams.runAppend(fl.toDF(), out, ck)
          .orderBy(col("user_id"), col("run_start_us"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        g AS (SELECT user_id, event_id, us,
            us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap
          FROM e),
        b AS (SELECT *, CASE WHEN gap IS NULL OR gap >= 14400000000 THEN 1 ELSE 0 END AS brk
          FROM g),
        i AS (SELECT user_id, us, event_id, SUM(brk) OVER (PARTITION BY user_id
            ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS run_id FROM b),
        r AS (SELECT user_id, run_id, us,
            row_number() OVER (PARTITION BY user_id, run_id ORDER BY us, event_id) AS rn,
            min(us) OVER (PARTITION BY user_id, run_id) AS run_start_us
          FROM i)
        SELECT user_id, run_start_us, us AS flag_us
        FROM r WHERE rn = 4 ORDER BY user_id, run_start_us"""),
      "Live bot-burst gate: fires at each run's 4th sub-threshold event " +
        "with three longs of keyed state — the actionable moment, where " +
        "the batch scan is the census; oracle = the islands replay's " +
        "4th-event rows."),

    "streaming_holt_winters" -> Q(
      (s, d) => {
        // The online form of holt_winters_additive: each daily point
        // updates O(period) keyed state (level, trend, the 7-slot seasonal
        // ring) and emits smoothed row + seasonal one-step forecast live —
        // the same staging, ordering, and no-eviction contracts as
        // streaming_holt_forecast, gated by the SAME list-ring recursive-
        // CTE oracle as the batch operator (row-identical by construction).
        val (src, out, ck) = Streams.workDirs("streaming_holt_winters")
        val byDay = eventsTable(s, d)
          .groupBy(col("event_type").as("k"),
            micros(date_trunc("day", col("ts"))).as("t"))
          .agg(sum((dec2(col("value")) * 100).cast("long")).as("v"))
        val cuts = byDay.stat.approxQuantile("t", Array(0.25, 0.5, 0.75), 0.001)
          .map(_.toLong)
        val slices = Seq(
          col("t") < cuts(0),
          col("t") >= cuts(0) && col("t") < cuts(1),
          col("t") >= cuts(1) && col("t") < cuts(2),
          col("t") >= cuts(2))
        slices.foreach { p =>
          byDay.filter(p).coalesce(1).write.mode("append").parquet(src)
        }
        val staged = s.readStream.schema(s.read.parquet(src).schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val sm = graft.streaming.HoltWintersStream.smoothed(staged, period = 7)
        Streams.runAppend(
            sm.toDF().select(col("k").as("event_type"), col("t").as("day_us"),
              col("v").as("v_c"), col("level").as("level_c"),
              col("trend").as("trend_c"), col("seasonal").as("seasonal_c"),
              col("forecast1").as("forecast1_c")),
            out, ck)
          .orderBy(col("event_type"), col("day_us"))
      },
      Some(Analytics.holtWintersOracleSql),
      "Streaming Holt-Winters: the seasonal forecast live — O(period) " +
        "keyed state (level, trend, seasonal ring) per series across 4 " +
        "time-sliced micro-batches, gated by the same list-ring recursive-" +
        "CTE oracle as the batch fold."))
}
