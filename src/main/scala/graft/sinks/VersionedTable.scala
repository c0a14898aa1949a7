package graft.sinks

import graft.operators.Upsert
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import scala.jdk.CollectionConverters._

/** Snapshot-versioned table format over parquet: the mechanics the reference
  * gets from Iceberg format v2 (IcebergTableManager.java:83-90 — snapshots,
  * ACID commits, time travel), re-implemented on any Hadoop filesystem with
  * two invariants:
  *
  *  1. **Data dirs are immutable.** Every commit writes a fresh
  *     `d-<id>` directory; no commit ever mutates or deletes a dir that an
  *     earlier snapshot references (until [[expire]]).
  *  2. **Rename is the commit.** A snapshot is one manifest JSON listing its
  *     data dirs; it is staged as a temp file and `rename`d to
  *     `_graft_meta/v<NNNNN>.json`. The rename is the atomic commit point —
  *     a crash before it leaves no visible change, and a competing committer
  *     loses the rename and retries against the new latest snapshot
  *     (optimistic concurrency, exactly Iceberg's model).
  *
  * Readers resolve the latest manifest (or any pinned version — time travel)
  * and read only the dirs it lists, so they are isolated from concurrent
  * commits. [[append]] adds one data dir and re-lists the old ones — an
  * append to a 100 TB table writes only the new rows plus a manifest of
  * O(dirs) strings. The manifest records the schema each dir was written
  * with (Iceberg's `schemas` list plus a schema id per dir), so readers
  * take the schema from metadata and never infer it; schema evolution
  * across snapshots is the fold of the recorded schemas at read time.
  */
object VersionedTable {

  private[sinks] val MetaDir = "_graft_meta"

  /** The CATALOG SEAM (r14): every commit, latest-snapshot resolution and
    * version listing routes through this [[GraftCatalog]] — swap in a
    * remote (REST-shaped) catalog and the whole table stack follows; the
    * default is the version-hint file protocol. `private[graft]` so specs
    * can interpose a counting / fault-injecting wrapper and prove the seam
    * carries every commit (CatalogSpec; the multi-writer torture soak runs
    * through it by construction). */
  @volatile private[graft] var catalog: GraftCatalog = HadoopPathCatalog
  private val counter = new java.util.concurrent.atomic.AtomicLong()

  /** Per-table intra-JVM commit locks. Across processes the atomic claim is
    * the manifest rename itself — HDFS rename fails when the destination
    * exists. POSIX local rename REPLACES an existing destination, so two
    * committers in different JVMs on a bare local path could claim the same
    * version; within one JVM (every Spark driver) this lock closes that
    * window. */
  private val lockMap = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Per-dir [min, max] of one column, typed: `typ` is `"long"` (numeric
    * compare) or `"string"` (lexicographic compare) — the two bound kinds
    * Iceberg's per-file metrics carry for scan planning. Bounds are stored
    * as strings in the manifest; `typ` picks the comparison. */
  final case class ColBounds(lo: String, hi: String, typ: String) {
    def overlaps(qLo: String, qHi: String): Boolean = typ match {
      case "long" => qHi.toLong >= lo.toLong && qLo.toLong <= hi.toLong
      case _      => qHi >= lo && qLo <= hi
    }
  }

  /** A conjunctive scan predicate for [[readPruned]]: `col BETWEEN lo AND hi`. */
  sealed trait ScanRange { def col: String; def loS: String; def hiS: String }
  final case class LongRange(col: String, lo: Long, hi: Long) extends ScanRange {
    def loS: String = lo.toString; def hiS: String = hi.toString
  }
  final case class StringRange(col: String, lo: String, hi: String) extends ScanRange {
    def loS: String = lo; def hiS: String = hi
  }

  /** `colStats` holds optional per-dir (min, max) column metrics — dir →
    * column → typed bounds, Iceberg's per-file column metrics (one entry per
    * tracked column, not just one column per table), the basis of
    * scan-planning pruning. Dirs without bounds for a queried column are
    * never pruned on it (always read). `lastBatch` is the highest streaming
    * batch id applied to the table (Iceberg's
    * `flink.max-committed-checkpoint-id` analogue) — the one integer that
    * makes a foreachBatch sink exactly-once under replay. */
  /** `dataSeq` and `deletes` are the merge-on-read state (Iceberg v2
    * equality deletes, the mechanism the reference's upsert sink configures
    * via `equalityFieldColumns` + `upsert(true)`): every dir carries the
    * commit sequence that added it ([[nextSeq]]; absent → 0, pre-MOR
    * legacy), `deletes` lists equality-delete dirs as (dir, seq), and
    * `deleteKeys` names the table's equality fields. A delete dir is
    * either key-only or one of `dirs` itself (an [[upsertMor]] data dir
    * deleting its own keys). The read-time rule is Iceberg's: a data row
    * with sequence s is dropped iff some delete dir with sequence > s
    * contains its key. */
  /** `renames` is the table's accumulated COLUMN-RENAME chain, in commit
    * order (Iceberg's rename-via-field-id semantics re-expressed): each
    * [[renameColumn]] commit appends one (from, to) pair, every later
    * commit carries the chain forward (enforced centrally in the commit
    * path, so no write shape can silently drop it), and reads apply the
    * chain to each data dir — a dir written before the rename surfaces its
    * physical column under the current logical name. Time travel uses the
    * chain AS OF the read snapshot, so v1 still shows the old name. */
  /** `schemas` maps each data and delete dir to the Spark schema its write
    * held (`df.schema`, which equals the schema the writer embeds in the
    * dir's parquet footers). Like `renames` and `sortOrders` it is carried
    * centrally in the commit path. A dir committed before schemas were
    * recorded has no entry; [[dirSchema]] falls back to its footer.
    * `rowCounts` maps each data and delete dir to the rows its write
    * observed (Iceberg's `record_count`), carried the same way; a dir
    * committed before counts were recorded has none. */
  final case class Snapshot(version: Int, dirs: Seq[String],
      colStats: Map[String, Map[String, ColBounds]] = Map.empty,
      lastBatch: Option[Long] = None,
      dataSeq: Map[String, Int] = Map.empty,
      deletes: Seq[(String, Int)] = Nil,
      deleteKeys: Seq[String] = Nil,
      renames: Seq[(String, String)] = Nil,
      sortOrders: Map[String, Seq[(String, String)]] = Map.empty,
      schemas: Map[String, StructType] = Map.empty,
      rowCounts: Map[String, Long] = Map.empty)

  /** Create version 1 or replace the visible contents with a new snapshot
    * (prior snapshots stay readable via [[readVersion]] until expired). */
  def overwrite(df: DataFrame, path: String): Int = {
    val w = writeDataDir(df, path)
    commit(df.sparkSession, path, cur => {
      guardRenamedAway(df.columns.toSeq, cur)
      w.into(Snapshot(0, Seq(w.dir)))
    })
  }

  /** Append without rewriting: prior data dirs are referenced, not copied.
    * Concurrent appends are safe — a committer that loses the manifest race
    * recomputes its dir list against the winner's snapshot and retries, so
    * no append is ever silently dropped. Existing per-dir stats are carried;
    * the new dir has none, so pruned reads always include it. */
  def append(df: DataFrame, path: String): Int =
    commitAdd(df.sparkSession, path, df.columns.toSeq)(writeDataDir(df, path).added()).get

  /** Merge-on-read equality-field upsert (Iceberg v2 equality deletes — the
    * mechanism the reference's sink turns on with
    * `.equalityFieldColumns(keys).upsert(true)`,
    * IcebergSinkBuilder.java:40-44): ONE commit writes the batch as ONE data
    * dir and lists that dir both as data and as an equality-delete set at
    * this snapshot's sequence — an upsert's delete keys are exactly its
    * rows' keys, so no key copy is written. Because a delete applies only
    * to rows of a strictly lower sequence, the dir never deletes its own
    * rows, and it deletes every older version of its keys. Nothing old is
    * rewritten — an upsert into a 100 TB table writes O(batch), not
    * O(table) (the copy-on-write [[upsert]] rewrites the table). The cost
    * moves to READ time: scans drop rows whose key a LATER delete covers,
    * until [[compact]] materializes the merge and clears the delete list —
    * exactly the Iceberg MOR/COW trade. Key columns are a table-level
    * property; a mismatch with an earlier MOR commit fails loudly (mixed
    * equality fields would silently mis-merge).
    *
    * `statsCols` attaches per-dir column metrics to the data dir (the
    * [[appendWithStats]] stats contract under merge-on-read), so
    * identity-partitioned MOR chains stay exportable
    * ([[graft.sinks.IcebergExport]] needs a degenerate partition bound per
    * data dir) and [[readPruned]] can skip MOR data dirs too. A pruned dir
    * still deletes: [[readSnapshot]] reads its keys. Equality deletes are
    * partition-agnostic by construction.
    *
    * `pairCols = Some((c1, c2))` additionally records the batch's exact
    * LEXICOGRAPHIC (c1, c2) [min, max] under [[pairStatsKey]] — the
    * composite `timestamp+incrementing` CDC watermark's per-dir bound
    * (independent per-column bounds can NOT reconstruct it: the row with
    * max c1 need not carry max c2), feeding [[manifestHwmPair]]. With no
    * stats and no pair, no metrics job runs. */
  def upsertMor(df: DataFrame, path: String, keys: Seq[String],
      statsCols: Seq[String] = Nil, pairCols: Option[(String, String)] = None): Int =
    morCommit(df, path, keys, None, statsCols, pairCols)._1.get

  /** The body [[upsertMor]] and [[upsertMorOnce]] share: one data dir with
    * its observed metrics, deleting its own keys, one commit. Returns the
    * committed version and the rows the write observed (None when the
    * batch id was refused before any write ran). */
  private def morCommit(df: DataFrame, path: String, keys: Seq[String],
      batchId: Option[Long], statsCols: Seq[String],
      pairCols: Option[(String, String)]): (Option[Int], Option[Long]) = {
    var seen: Option[Long] = None
    val committed = commitAdd(df.sparkSession, path, df.columns.toSeq, Some(keys), batchId) {
      val added = writeTracked(df, path, statsCols, pairCols.toSeq)
      seen = added.data.map(_.rows)
      added.copy(deletesOwnKeys = true)
    }
    (committed, seen)
  }

  /** The manifest key a composite (c1, c2) pair bound is stored under. The
    * `,` separator cannot appear in a parquet-writable column name, so
    * the key can never shadow a real column in [[readPruned]] lookups. */
  private[graft] def pairStatsKey(c1: String, c2: String): String = s"$c1,$c2"

  /** A stats column's bound kind: `"long"` (integral, numeric compare),
    * `"string"` (lexicographic), or none for any other type. */
  private def boundKind(df: DataFrame, c: String): Option[String] = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    df.schema(c).dataType match {
      case LongType | IntegerType | ShortType | ByteType => Some("long")
      case StringType                                    => Some("string")
      case _                                             => None
    }
  }

  /** Write `df` as a data dir whose observed write also records per-column
    * [min, max] for `statsCols` (the [[appendWithStats]] typing rules, see
    * [[boundKind]]) plus, for each of `pairCols`, the exact lexicographic
    * (c1, c2) [min, max] (both columns integral), encoded `"v1:v2"` under
    * [[pairStatsKey]]. All-NULL columns get no entry. The bounds come from
    * the write job itself, so no second pass over the input runs. */
  private def writeTracked(df: DataFrame, path: String, statsCols: Seq[String],
      pairCols: Seq[(String, String)]): Added = {
    import org.apache.spark.sql.functions.{col, max, min, struct}
    val typs = statsCols.map(c => c -> boundKind(df, c).getOrElse(
      throw new IllegalArgumentException(
        s"stats column $c: unsupported type ${df.schema(c).dataType} (integral and string only)")))
    pairCols.foreach { case (a, b) =>
      require(boundKind(df, a).contains("long") && boundKind(df, b).contains("long"),
        s"pair bound columns ($a, $b) must both be integral")
    }
    val aggs = statsCols.flatMap(c => Seq(min(col(c)).cast("string"), max(col(c)).cast("string"))) ++
      pairCols.flatMap { case (a, b) =>
        val p = struct(col(a).cast("long"), col(b).cast("long"))
        Seq(min(p), max(p))
      }
    val w = writeDataDir(df, path, aggs)
    val row = w.observed
    val colBounds = typs.zipWithIndex.flatMap { case ((c, typ), i) =>
      if (row.isNullAt(2 * i)) None
      else Some(c -> ColBounds(row.getString(2 * i), row.getString(2 * i + 1), typ))
    }
    val pairBounds = pairCols.zipWithIndex.flatMap { case ((a, b), j) =>
      val base = 2 * (statsCols.size + j)
      if (row.isNullAt(base)) None
      else {
        def enc(i: Int): String = {
          val s = row.getStruct(i); s"${s.getLong(0)}:${s.getLong(1)}"
        }
        Some(pairStatsKey(a, b) -> ColBounds(enc(base), enc(base + 1), "string"))
      }
    }
    w.added((colBounds ++ pairBounds).toMap)
  }

  /** METADATA-ONLY high watermark: the max over the current snapshot's data
    * dirs' recorded upper bounds for `tsCol` — O(dirs) driver-side manifest
    * arithmetic, ZERO Spark jobs, no table scan. This is the 100 TB form of
    * the CDC no-second-store watermark ([[graft.streaming.JdbcPollStream]]):
    * the poll loop's per-cycle `max(tsCol)` must not pay a full scan of the
    * very table it grows. Returns None when any data dir lacks a long-typed
    * `tsCol` bound (a dir written without tracking it) — the caller
    * falls back to the scan, correctness never depends on the metadata.
    *
    * MOR deletes don't undercut the bound: the watermark contract is "the
    * highest update-clock value ever COMMITTED" (pull strictly newer source
    * rows), and a superseded or deleted row's clock value was still
    * committed — so the max over all data-dir upper bounds is exactly right
    * even when the physical max row is no longer visible. */
  def manifestHwm(spark: SparkSession, path: String, tsCol: String): Option[Long] =
    latest(spark, path) match {
      case None                      => Some(Long.MinValue)
      case Some(s) if s.dirs.isEmpty => Some(Long.MinValue)
      case Some(s) =>
        val bounds = s.dirs.map(d => s.colStats.get(d).flatMap(_.get(tsCol)))
        if (bounds.exists(!_.exists(_.typ == "long"))) None
        else Some(bounds.flatten.map(_.hi.toLong).max)
    }

  /** [[manifestHwm]] for the composite `timestamp+incrementing` watermark:
    * the LEXICOGRAPHIC (tsCol, incCol) max over per-dir pair bounds written
    * by `pairCols`-tracking commits. Per-column bounds are deliberately NOT
    * combined (max ts_hi paired with max inc_hi can overstate inc and skip
    * raced source rows forever); only the exact pair bound qualifies. */
  def manifestHwmPair(spark: SparkSession, path: String, tsCol: String,
      incCol: String): Option[(Long, Long)] =
    latest(spark, path) match {
      case None                      => Some((Long.MinValue, Long.MinValue))
      case Some(s) if s.dirs.isEmpty => Some((Long.MinValue, Long.MinValue))
      case Some(s) =>
        val key = pairStatsKey(tsCol, incCol)
        val his = s.dirs.map(d => s.colStats.get(d).flatMap(_.get(key)).map { b =>
          val Array(a, c) = b.hi.split(':'); (a.toLong, c.toLong)
        })
        if (his.exists(_.isEmpty)) None else Some(his.flatten.max)
    }

  /** [[upsertMor]] under the exactly-once batch-id contract (the
    * [[appendOnce]] rule): the id commits atomically with the data dir, so
    * an at-least-once foreachBatch redelivery is recognized and skipped.
    * This is the reference's sink verbatim — a streaming upsert into an
    * Iceberg-v2 table IS equality-delete MOR guarded by
    * max-committed-checkpoint-id. Returns false on replay, and on an empty
    * batch, which commits nothing ([[appendOnce]]'s rule).
    *
    * `statsCols`/`pairCols` attach [[writeTracked]] metrics to the data
    * dir — the CDC poll loop passes its watermark columns here so
    * [[manifestHwm]]/[[manifestHwmPair]] stay derivable without a scan. */
  def upsertMorOnce(df: DataFrame, path: String, keys: Seq[String], batchId: Long,
      statsCols: Seq[String] = Nil,
      pairCols: Option[(String, String)] = None): Boolean =
    upsertMorOnceObserved(df, path, keys, batchId, statsCols, pairCols)._1

  /** [[upsertMorOnce]] that also returns the rows its write observed, or
    * None when the batch id was refused before any write ran (the
    * [[appendOnceObserved]] shape). With it the CDC loop tells a refused
    * replay (None), a quiescent cycle (Some(0), nothing committed) and a
    * commit apart without a job of its own. */
  private[graft] def upsertMorOnceObserved(df: DataFrame, path: String, keys: Seq[String],
      batchId: Long, statsCols: Seq[String],
      pairCols: Option[(String, String)]): (Boolean, Option[Long]) = {
    val (committed, rows) = morCommit(df, path, keys, Some(batchId), statsCols, pairCols)
    (committed.isDefined, rows)
  }

  /** One CDC batch — upserts AND deletes — as a SINGLE exactly-once MOR
    * commit (r15, the Debezium-apply shape): the data dir carries the
    * upserted AFTER images and deletes its own keys' older versions, as in
    * [[upsertMor]]; a key-only delete dir carries `deleteKeysDf` (those
    * keys die outright, no new image). Either dir is left out of the
    * commit when its write observed no rows. Splitting the batch into
    * upsertMorOnce + deleteWhereKeys would be TWO commits — a crash between
    * them replays into a half-applied batch — so the whole batch is one
    * atomic snapshot under the [[appendOnce]] batch-id contract. Returns
    * false on replay, and when both sides are empty, which commits nothing
    * ([[appendOnce]]'s rule). */
  def applyCdcOnce(upserts: DataFrame, deleteKeysDf: DataFrame, path: String,
      keys: Seq[String], batchId: Long): Boolean =
    commitAdd(upserts.sparkSession, path, upserts.columns.toSeq, Some(keys), Some(batchId)) {
      writeDataDir(upserts, path).added().copy(deletesOwnKeys = true,
        keyDelete = Some(writeKeys(deleteKeysDf, path, keys)))
    }.isDefined

  /** Equality DELETE as a merge-on-read commit: rows whose key is in
    * `keysDf` disappear from subsequent reads without touching any data
    * file — an O(keys) write against a 100 TB table. Same read-time rule
    * and [[compact]] reclamation as [[upsertMor]]. */
  def deleteWhereKeys(keysDf: DataFrame, path: String, keys: Seq[String]): Int =
    // no data dir, so no column name for the renamed-away guard to check
    commitAdd(keysDf.sparkSession, path, Nil, Some(keys)) {
      Added(None, keyDelete = Some(writeKeys(keysDf, path, keys)))
    }.get

  /** A key-only equality-delete dir of `df`'s `keys`. Keys are not
    * de-duplicated: under the max-sequence read rule a repeated key is
    * harmless (Iceberg equality-delete files may repeat keys too), and
    * `distinct` would cost a shuffle. */
  private def writeKeys(df: DataFrame, path: String, keys: Seq[String]): Written =
    writeDataDir(df.select(keys.map(org.apache.spark.sql.functions.col): _*), path)

  /** Rename a column as a METADATA-ONLY commit (Iceberg `ALTER TABLE …
    * RENAME COLUMN`, the operation field ids exist for): no data dir is
    * touched — the new snapshot lists the same dirs plus one appended
    * (from, to) pair in the rename chain, and reads surface old dirs'
    * physical `from` under the logical `to` from this version on. Time
    * travel below this version still shows `from` (each manifest carries
    * the chain as of ITS commit).
    *
    * Guards (all loud): `from` must be a current logical column; `to` must
    * be fresh — not a current column and never mentioned in the existing
    * chain (re-using a renamed-away name would make the chain ambiguous —
    * the same hazard Iceberg documents for name mapping); `from` must not
    * be one of a MOR table's equality fields (delete dirs store physical
    * key columns, and re-keying them is a different operation). Stats
    * recorded under the physical name stop matching the logical name, so
    * pruned reads of a renamed column fall back to the always-read
    * superset — safe, never wrong. */
  def renameColumn(spark: SparkSession, path: String, from: String, to: String): Int =
    commit(spark, path, cur => {
      val snap = cur.getOrElse(throw new IllegalStateException(
        s"renameColumn: no snapshots at $path"))
      val logical = readSnapshot(spark, path, snap).schema.fieldNames.toSeq
      require(logical.contains(from),
        s"renameColumn: no column $from (have ${logical.mkString(",")})")
      require(!logical.contains(to),
        s"renameColumn: column $to already exists")
      require(!snap.renames.exists(p => p._1 == to || p._2 == to),
        s"renameColumn: $to was already used in the rename chain ${snap.renames}")
      require(!snap.deleteKeys.contains(from),
        s"renameColumn: $from is an equality-delete key — re-keying MOR " +
          "state is not a rename")
      snap.copy(version = 0, renames = snap.renames :+ (from -> to))
    })

  /** Refuse a write whose schema re-introduces a name some column was
    * renamed AWAY from. Iceberg can re-add an old name because field ids
    * disambiguate old files from new ones; this name-chain model cannot —
    * [[readSnapshot]]'s alias folding would silently coalesce the NEW
    * column's values into the renamed field and drop the new column from
    * the output (silent corruption). Run INSIDE the commit lock so it sees
    * the post-race chain; [[renameColumn]] guards the `to` side, this
    * guards the `from` side for every subsequent data write. */
  private def guardRenamedAway(cols: Seq[String], cur: Option[Snapshot]): Unit = {
    val froms = cur.map(_.renames.map(_._1)).getOrElse(Nil).toSet
    if (froms.nonEmpty) {
      val bad = cols.filter(froms)
      require(bad.isEmpty,
        s"write schema re-uses renamed-away column name(s) ${bad.mkString(", ")}; " +
          s"the rename chain ${cur.map(_.renames).getOrElse(Nil).mkString(",")} would " +
          "fold them into the renamed field on read — pick a fresh name")
    }
  }

  /** Fold a merged-scan frame's physical ALIAS columns (one per name a
    * field ever had under `renames`) into single logical columns:
    * coalesce(newest … oldest alias). Correct because a data file carries
    * exactly one alias of a field, so at most one alias is non-null per
    * row — and a genuinely-NULL value has every alias NULL. Keeps the
    * single multi-path scan plan (no per-dir union). With no renames the
    * frame is returned as it is. */
  private def coalesceAliases(df: DataFrame,
      renames: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col}
    if (renames.isEmpty) return df
    def fin(n: String): String =
      renames.foldLeft(n) { case (x, (f, t)) => if (x == f) t else x }
    val present = df.columns.toSeq
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    val cols = present.flatMap { c =>
      val logical = fin(c)
      if (!seen.add(logical)) None
      else {
        // aliases of this field present in the merged frame, newest first:
        // the chain is append-ordered, so later names come later in it
        val alts = present.filter(p => fin(p) == logical)
        val ordered = alts.sortBy { p =>
          val i = renames.lastIndexWhere(_._2 == p)
          -(if (p == logical) Int.MaxValue else i) // logical (newest) first
        }
        Some(
          if (ordered.size == 1 && ordered.head == logical) col(logical)
          else coalesce(ordered.map(col): _*).as(logical))
      }
    }
    df.select(cols: _*)
  }

  /** The highest sequence `s` lists over its data dirs and deletes (0 when
    * none). A borrowed snapshot ([[cloneAt]], [[publish]]) keeps its
    * source's sequences, so this can exceed `s.version`. */
  private def lastSeq(s: Snapshot): Int =
    (s.dirs.map(s.dataSeq.getOrElse(_, 0)) ++ s.deletes.map(_._2)).foldLeft(0)(math.max)

  /** The sequence a new commit's dirs and deletes take: above the current
    * version and above every sequence the current snapshot lists (Iceberg's
    * `last-sequence-number` + 1), so a commit after a clone or publish is
    * never older than a borrowed delete. */
  private def nextSeq(cur: Option[Snapshot]): Int =
    cur.map(c => math.max(c.version, lastSeq(c))).getOrElse(0) + 1

  /** Roll the table back to snapshot `toVersion` AS A NEW COMMIT (Iceberg's
    * rollback_to_snapshot): history is preserved — the bad snapshots stay
    * time-travelable and a roll-FORWARD is just another rollback — and no
    * data moves; the new manifest re-references the old version's dirs.
    * The operational undo button for a bad ingest batch. */
  def rollback(spark: SparkSession, path: String, toVersion: Int): Int = {
    val target = snapshot(spark, path, toVersion).getOrElse(
      throw new IllegalArgumentException(s"no snapshot v$toVersion at $path"))
    commit(spark, path, cur => target.copy(version = 0,
      lastBatch = cur.flatMap(_.lastBatch)))
  }

  /** What one additive commit adds: a data dir (with its per-column bounds
    * and optional declared sort order) that, with `deletesOwnKeys`, is also
    * the equality-delete set of its own keys, and/or a key-only
    * equality-delete dir. */
  private final case class Added(data: Option[Written],
      bounds: Map[String, ColBounds] = Map.empty,
      sortOrder: Option[Seq[(String, String)]] = None,
      deletesOwnKeys: Boolean = false,
      keyDelete: Option[Written] = None)

  /** The one commit path of every ADDITIVE write shape (the appends,
    * [[upsertMor]], [[applyCdcOnce]], [[deleteWhereKeys]]): `write` stages
    * the new dirs, and the commit lays them on top of whatever snapshot is
    * current, carrying everything that snapshot records forward. The new
    * data dir and every new delete (a self-deleting data dir, a key-only
    * dir) take this commit's sequence. Each safety check runs here and
    * nowhere else:
    *  - `batchId` (the [[appendOnce]] contract): an obvious replay is
    *    skipped before `write` runs, and the guard re-runs inside the commit
    *    lock, so of two concurrent deliveries of one batch only the first
    *    lands;
    *  - `keys` (the table's equality fields): checked before `write`, so a
    *    conflicting commit writes no dir, and again in the lock, where the
    *    post-race snapshot is authoritative;
    *  - `columns` (the data dir's schema) may not re-use a renamed-away
    *    name ([[guardRenamedAway]]).
    * A `batchId` commit deletes each staged dir whose write observed zero
    * rows and leaves it out; when no dir is left it commits nothing (an
    * empty batch advances no batch id). So a pure-delete CDC batch commits
    * its key dir alone. Returns the committed version, or None when
    * `batchId` was a replay or the batch was empty. */
  private def commitAdd(spark: SparkSession, path: String, columns: Seq[String],
      keys: Option[Seq[String]] = None, batchId: Option[Long] = None)(
      write: => Added): Option[Int] = {
    lazy val pre = graft.core.trace("table.precheck")(latest(spark, path))
    if (batchId.exists(replayed(pre, _))) return None
    keys.foreach(requireKeys(pre, _))
    val added = graft.core.trace("table.write")(write)
    val (empty, kept) = (added.data ++ added.keyDelete).toSeq
      .partition(w => batchId.isDefined && w.rows == 0L)
    empty.foreach(w => fs(spark, path).delete(new Path(path, w.dir), true))
    if (batchId.isDefined && kept.isEmpty) return None
    val data = added.data.filter(kept.contains).map(_.dir).toSeq
    val deletes = (if (added.deletesOwnKeys) data else Nil) ++
      added.keyDelete.filter(kept.contains).map(_.dir)
    try Some(graft.core.trace("table.commit")(commit(spark, path, { cur =>
      batchId.foreach(guardBatch(cur, _))
      guardRenamedAway(columns, cur)
      keys.foreach(requireKeys(cur, _))
      val sq = nextSeq(cur)
      val base = cur.getOrElse(Snapshot(0, Nil))
      kept.foldLeft(base.copy(version = 0,
        dirs = base.dirs ++ data,
        colStats = base.colStats ++ data.map(_ -> added.bounds),
        lastBatch = batchId.orElse(base.lastBatch),
        dataSeq = base.dataSeq ++ data.map(_ -> sq),
        deletes = base.deletes ++ deletes.map(_ -> sq),
        deleteKeys = keys.getOrElse(base.deleteKeys),
        sortOrders = base.sortOrders ++ data.zip(added.sortOrder)))((s, w) => w.into(s))
    })))
    catch { case _: CommitAborted => None }
  }

  /** Whether `batchId` is at or below the snapshot's committed batch id. */
  private def replayed(s: Option[Snapshot], batchId: Long): Boolean =
    s.exists(_.lastBatch.exists(_ >= batchId))

  /** The in-lock exactly-once guard: abandon the commit of a batch id the
    * current snapshot already holds. */
  private def guardBatch(cur: Option[Snapshot], batchId: Long): Unit =
    if (replayed(cur, batchId)) throw new CommitAborted(s"batch $batchId already committed")

  /** Mixed equality fields would silently mis-merge: `keys` must match the
    * snapshot's recorded equality fields, if it has any. */
  private def requireKeys(s: Option[Snapshot], keys: Seq[String]): Unit =
    require(s.forall(x => x.deleteKeys.isEmpty || x.deleteKeys == keys),
      s"merge-on-read keys $keys conflict with the table's recorded " +
        s"equality fields ${s.map(_.deleteKeys).getOrElse(Nil)}")

  /** Idempotent append keyed by a monotonically increasing batch id — the
    * sink half of Spark's exactly-once contract. `foreachBatch` delivery is
    * at-least-once: a batch whose sink write succeeded but whose checkpoint
    * commit didn't IS redelivered after a crash, and a plain append would
    * double its rows. Recording the batch id IN the same atomic manifest
    * commit as the data (Iceberg stores `max-committed-checkpoint-id` the
    * same way) lets the replayed delivery be recognized and skipped.
    *
    * Returns true when the batch was applied, false when it was a replay
    * (`batchId <=` the manifest's `lastBatch`). Batch ids must be applied in
    * ascending order — exactly what one streaming query produces, so
    * concurrent batch-id WRITERS must be externally serialized.
    *
    * An EMPTY batch (its write observed zero rows) commits nothing and
    * returns false: its staged dir is deleted, and its batch id is not
    * recorded, so a later delivery of the same id can still commit rows. */
  def appendOnce(df: DataFrame, path: String, batchId: Long): Boolean =
    appendOnceObserved(df, path, batchId, Nil)._1

  /** [[appendOnce]] that also returns what its write observed: the values of
    * `observe` (aggregates over the written rows, evaluated in the write
    * job's result stage), or None when the batch id was refused before any
    * write ran. The poll loop passes its per-shard counts here, so the
    * offsets it advances are the counts of the committed files. */
  private[graft] def appendOnceObserved(df: DataFrame, path: String, batchId: Long,
      observe: Seq[Column]): (Boolean, Option[Row]) = {
    var seen: Option[Row] = None
    val committed = commitAdd(df.sparkSession, path, df.columns.toSeq, batchId = Some(batchId)) {
      val w = writeDataDir(df, path, observe)
      seen = Some(w.observed)
      w.added()
    }
    (committed.isDefined, seen)
  }

  /** Idempotent equality-field upsert keyed by batch id — [[appendOnce]]'s
    * contract for the CDC-upsert sink shape ([[upsert]] semantics under
    * at-least-once foreachBatch delivery). */
  def upsertOnce(df: DataFrame, path: String, keys: Seq[String], batchId: Long): Boolean =
    rewrite("upsertOnce", df.sparkSession, path, Some(batchId))(upserted(df, path, keys)).isDefined

  /** Append with per-dir column metrics (Iceberg's file-level min/max
    * stats, IcebergTableManager.java:22-25 metrics config): the write's own
    * observation records each tracked column's [min, max] in the manifest
    * (integral columns as numeric bounds, string columns as lexicographic
    * bounds), and [[readPruned]] later skips the dir when a scan range can't
    * overlap it. This is the metadata half of scan planning — at 100 TB it
    * is the difference between listing every file and reading only the
    * ingest window a query touches. All-NULL columns get no bounds for the
    * dir (never pruned on that column). */
  def appendWithStats(df: DataFrame, path: String, statsCols: Seq[String]): Int =
    commitAdd(df.sparkSession, path, df.columns.toSeq)(
      writeTracked(df, path, statsCols, Nil)).get

  /** Single-column convenience form of [[appendWithStats]]. */
  def appendWithStats(df: DataFrame, path: String, statsCol: String): Int =
    appendWithStats(df, path, Seq(statsCol))

  /** Append with a DECLARED sort order (r16, VERDICT r15 "Next round" #6):
    * the batch is globally sorted by `sortCols` ((column, "asc"|"desc")
    * pairs — a range exchange + per-partition sort, linear at 100 TB, the
    * standard clustered-rewrite shape) so EVERY written file is sorted by
    * the order, and the order is recorded per-dir in the manifest. The
    * Iceberg exporter surfaces it as a real `sort-orders` entry with
    * per-file `sort_order_id` (spec §Sort Orders); plain appends keep
    * order-id 0. Ascending sorts place nulls first, descending nulls last
    * (Spark's defaults — recorded as the spec's null-order verbatim).
    * Min/max stats are recorded for the supported-type sort columns, so
    * the sorted layout also feeds [[readPruned]] file skipping. */
  def appendSorted(df: DataFrame, path: String,
      sortCols: Seq[(String, String)]): Int = {
    require(sortCols.nonEmpty, "appendSorted: empty sort order")
    sortCols.foreach { case (c, dir) =>
      require(dir == "asc" || dir == "desc",
        s"appendSorted: direction must be asc|desc, got '$dir' for $c")
      require(df.columns.contains(c), s"appendSorted: no column $c")
      require(!c.contains(",") && !c.contains(" "),
        s"appendSorted: column name '$c' may not contain ',' or ' ' " +
          "(manifest sort-spec encoding)")
    }
    import org.apache.spark.sql.functions.col
    val sorted = df.sort(sortCols.map {
      case (c, "asc") => col(c).asc
      case (c, _)     => col(c).desc
    }: _*)
    val statsCols = sortCols.map(_._1).filter(boundKind(df, _).isDefined)
    commitAdd(df.sparkSession, path, df.columns.toSeq)(
      writeTracked(sorted, path, statsCols, Nil).copy(sortOrder = Some(sortCols))).get
  }

  /** Append with HIDDEN-partitioning metrics — Iceberg's partition
    * transforms (`days(ts)`, `months(ts)`, `truncate(w, col)`): per-dir
    * [min, max] bounds are recorded for `name` = `transform` evaluated over
    * the batch, while the transform column itself is NEVER written to the
    * data files. Readers keep querying the BASE column; a monotone
    * transform translates base-column predicates to transform-domain
    * ranges exactly (Iceberg's projection rules), so
    * `readPruned(LongRange(name, f(lo), f(hi)))` + the residual base
    * filter is a correct, pruned scan. The transform must be long-typed
    * (cast first). This is what lets a 100 TB table change users' query
    * columns never, and its partitioning whenever. */
  def appendWithHiddenStats(df: DataFrame, path: String, name: String,
      transform: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions.{max, min}
    require(!df.columns.contains(name),
      s"hidden stats name $name collides with a data column; use appendWithStats")
    commitAdd(df.sparkSession, path, df.columns.toSeq) {
      val w = writeDataDir(df, path,
        Seq(min(transform), max(transform)).map(_.cast("long").cast("string")))
      val row = w.observed
      w.added(
        if (row.isNullAt(0)) Map.empty
        else Map(name -> ColBounds(row.getString(0), row.getString(1), "long")))
    }.get
  }

  /** Scan with manifest-level file skipping: only data dirs whose recorded
    * bounds can satisfy EVERY range in the conjunction are read at all
    * (a dir without bounds for some queried column is never pruned on that
    * column). Callers still apply the row filter — like Iceberg, the
    * metadata prune is a superset guarantee, not a predicate evaluation. */
  def readPruned(spark: SparkSession, path: String, ranges: Seq[ScanRange]): DataFrame = {
    require(ranges.nonEmpty, "readPruned needs at least one scan range")
    val snap = latest(spark, path).getOrElse(
      throw new IllegalStateException(s"no snapshots at $path"))
    val keep = prunedDirs(snap, ranges)
    if (keep.isEmpty) // nothing can overlap: empty result, schema preserved
      readSnapshot(spark, path, snap).filter(org.apache.spark.sql.functions.lit(false))
    else readSnapshot(spark, path, snap.copy(dirs = keep))
  }

  /** The dirs of `snap` a conjunctive range scan must read (exposed so specs
    * can assert `inputFiles ⊆ overlapping dirs` mechanically). */
  def prunedDirs(snap: Snapshot, ranges: Seq[ScanRange]): Seq[String] =
    snap.dirs.filter { d =>
      val stats = snap.colStats.getOrElse(d, Map.empty)
      ranges.forall(r => stats.get(r.col).forall(_.overlaps(r.loS, r.hiS)))
    }

  /** Append with a dir-level Bloom-filter sidecar on `column` — the
    * Iceberg Puffin-blob shape: point lookups on a HIGH-CARDINALITY key
    * can't be helped by min/max bounds when every dir spans the full key
    * range (hash-distributed ingest always does this), but a per-dir bloom
    * proves absence and skips the dir. The sidecar lives inside the data
    * dir (underscore-prefixed, so parquet scans ignore it) and therefore
    * travels with [[cloneAt]]/[[publish]] for free. Costs one extra scan
    * of the freshly-written dir to build the filter — O(batch), off the
    * table's read path. */
  def appendWithBloom(df: DataFrame, path: String, column: String,
      expectedItems: Long = 1L << 20, fpp: Double = 0.01): Int = {
    val spark = df.sparkSession
    commitAdd(spark, path, df.columns.toSeq) {
      val w = writeDataDir(df, path)
      val dirPath = new Path(path, w.dir)
      val bf = spark.read.schema(w.schema).parquet(dirPath.toString)
        .stat.bloomFilter(column, expectedItems, fpp)
      val out = fs(spark, path).create(new Path(dirPath, s"_bloom_$column"), true)
      bf.writeTo(out)
      out.close()
      w.added()
    }.get
  }

  /** The dirs a point lookup `column == value` must read: a dir whose bloom
    * sidecar proves absence is skipped; a dir without a sidecar is always
    * read — the same superset rule as [[prunedDirs]] (pruning is a
    * guarantee, never a predicate evaluation; false positives only cost an
    * extra dir read). */
  def bloomKeptDirs(spark: SparkSession, path: String, column: String,
      value: Long): Seq[String] = {
    val snap = latest(spark, path).getOrElse(
      throw new IllegalStateException(s"no snapshots at $path"))
    val filesystem = fs(spark, path)
    snap.dirs.filter { d =>
      val side = new Path(new Path(path, d), s"_bloom_$column")
      if (!filesystem.exists(side)) true
      else {
        val in = filesystem.open(side)
        try org.apache.spark.util.sketch.BloomFilter.readFrom(in).mightContainLong(value)
        finally in.close()
      }
    }
  }

  /** Point lookup through the bloom sidecars: reads only [[bloomKeptDirs]]
    * and applies the exact equality filter on top. */
  def readPoint(spark: SparkSession, path: String, column: String,
      value: Long): DataFrame = {
    val snap = latest(spark, path).getOrElse(
      throw new IllegalStateException(s"no snapshots at $path"))
    val keep = bloomKeptDirs(spark, path, column, value)
    val base =
      if (keep.isEmpty)
        readSnapshot(spark, path, snap).filter(org.apache.spark.sql.functions.lit(false))
      else readSnapshot(spark, path, snap.copy(dirs = keep))
    base.filter(org.apache.spark.sql.functions.col(column) === value)
  }

  /** Single-long-range convenience form of [[readPruned]] over the table's
    * one tracked long column (fails when zero or several are tracked). */
  def readPruned(spark: SparkSession, path: String, lo: Long, hi: Long): DataFrame = {
    val snap = latest(spark, path).getOrElse(
      throw new IllegalStateException(s"no snapshots at $path"))
    val cols = snap.colStats.values.flatten.collect { case (c, b) if b.typ == "long" => c }.toSet
    require(cols.size == 1,
      s"table at $path tracks ${cols.size} long stats columns; name one via ScanRange")
    readPruned(spark, path, Seq(LongRange(cols.head, lo, hi)))
  }

  /** Copy-on-write equality-field upsert: the table's rows with the batch
    * merged in by `keys`, committed as one snapshot of one data dir through
    * [[rewrite]] — a concurrent commit re-plans the merge, never loses its
    * rows. */
  def upsert(df: DataFrame, path: String, keys: Seq[String]): Int =
    rewrite("upsert", df.sparkSession, path)(upserted(df, path, keys)).get

  /** The [[upsert]] merge against a planned snapshot (`df` alone when the
    * table has none). */
  private def upserted(df: DataFrame, path: String, keys: Seq[String])(
      planned: Option[Snapshot]): DataFrame =
    planned.fold(df)(snap => Upsert.upsert(readSnapshot(df.sparkSession, path, snap), df, keys))

  /** The VALIDATED copy-on-write body of [[upsert]], [[upsertOnce]] and
    * [[applyChanges]] (the Iceberg copy-on-write MERGE protocol): `plan`
    * computes the table's new contents from the snapshot read at planning
    * time, they are written as one data dir, and the commit callback
    * re-checks — inside the table lock — that the table is STILL at that
    * snapshot. A concurrent commit (append, MOR upsert, anything) aborts the
    * attempt and [[replanning]] re-plans against the new state, so no
    * concurrent writer's rows are ever silently overwritten; the abandoned
    * data dir is ordinary [[removeOrphans]] debris. With a `batchId` the
    * exactly-once guard runs before planning and again in the lock, and the
    * id commits with the rows (a concurrent redelivery's re-plan then sees
    * the batch as replayed). Returns the committed version, or None when
    * `batchId` was a replay. */
  private def rewrite(op: String, spark: SparkSession, path: String,
      batchId: Option[Long] = None)(plan: Option[Snapshot] => DataFrame): Option[Int] =
    replanning(op, path) {
      val planned = latest(spark, path)
      if (batchId.exists(replayed(planned, _))) None
      else {
        val w = writeDataDir(plan(planned), path)
        Some(commit(spark, path, { cur =>
          batchId.foreach(guardBatch(cur, _))
          if (cur.map(_.version) != planned.map(_.version))
            throw new CommitAborted(s"table advanced past " +
              s"v${planned.map(_.version).getOrElse(0)} during the $op rewrite")
          guardRenamedAway(w.schema.fieldNames.toSeq, cur)
          w.into(Snapshot(0, Seq(w.dir), lastBatch = batchId.orElse(cur.flatMap(_.lastBatch))))
        }))
      }
    }

  /** Run one planned attempt of a VALIDATED optimistic rewrite ([[rewrite]],
    * [[rewriteDirs]]) and re-plan it when its commit aborts in the lock (a
    * commit its in-lock check refuses landed after the planning read) or
    * its planning read went stale. Bounded: at some contention level a
    * rewrite should fail loudly rather than starve. */
  private def replanning[T](op: String, path: String)(attempt: => T): T = {
    var attempts = 0
    while (true) {
      attempts += 1
      try return attempt
      catch {
        case _: CommitAborted if attempts < 10 => // re-plan against the new state
        case e: CommitAborted => throw new IllegalStateException(
          s"$op lost the optimistic race $attempts times at $path: ${e.why}")
        // A planning read can see its snapshot's dirs vanish mid-merge when
        // concurrent rewrites + expire outpace it (retention < merge
        // duration — Iceberg's VACUUM-vs-reader caveat). For a WRITER the
        // recovery is mechanical: re-plan against the current snapshot.
        case e: Throwable if isStaleRead(e) && attempts < 10 =>
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** A read that failed because a planned snapshot's data dirs were
    * rewritten away and expired while the operation ran — the retryable
    * stale-planning signature, as opposed to a genuine error. */
  private def isStaleRead(t: Throwable): Boolean = {
    var c: Throwable = t
    while (c != null) {
      if (c.isInstanceOf[java.io.FileNotFoundException]) return true
      val m = c.getMessage
      if (m != null && (m.contains("PATH_NOT_FOUND") ||
        m.contains("FileNotFoundException"))) return true
      c = if (c.getCause eq c) null else c.getCause
    }
    false
  }

  /** Small-file compaction (Iceberg's rewrite_data_files / OPTIMIZE): rewrite
    * every data dir of the latest snapshot into one dir of right-sized files
    * and commit that as a new snapshot. The DATA is unchanged — only the
    * file layout — and prior snapshots keep referencing the small files
    * until [[expire]] reclaims them. `targetRowsPerFile` is the local
    * analogue of Iceberg's write.target-file-size-bytes: the streaming-ingest
    * maintenance op that keeps scan task counts bounded after thousands of
    * tiny micro-batch appends. It materializes every outstanding equality
    * delete, so on a table nothing wrote to meanwhile the delete list ends
    * empty. [[rewriteDirs]] is the body, shared with [[compactSmall]]: it
    * commits beside concurrent appends and upserts, and re-records the
    * tracked bounds, so [[manifestHwm]]/[[manifestHwmPair]] stay
    * metadata-only afterwards. */
  def compact(spark: SparkSession, path: String, targetRowsPerFile: Long): Int = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    rewriteDirs("compact", spark, path, targetRowsPerFile)((dirs, _) => dirs)
  }

  /** Selective small-file compaction (Iceberg's binpack
    * `rewrite_data_files`): only dirs below `smallThresholdRows` are
    * rewritten — binpacked into one dir of ~`targetRowsPerFile`-row files —
    * while every healthy dir is carried into the new snapshot untouched,
    * stats and all. This is the compaction a 100 TB table actually runs:
    * streaming sinks deposit one small dir per micro-batch, and collecting
    * that debris must cost O(debris), never an O(table) rewrite ([[compact]]
    * is the full rewrite). Works on merge-on-read tables: the rewrite
    * applies the deletes that cover the small dirs, and a rewritten upsert
    * dir stays listed as a key-only delete while an older dir still holds
    * keys it supersedes. No-op — current version returned, no commit — when
    * fewer than two dirs qualify. Body: [[rewriteDirs]]. */
  def compactSmall(spark: SparkSession, path: String, smallThresholdRows: Long,
      targetRowsPerFile: Long): Int = {
    require(smallThresholdRows > 0 && targetRowsPerFile > 0,
      "thresholds must be positive")
    rewriteDirs("compactSmall", spark, path, targetRowsPerFile) { (dirs, rows) =>
      val small = dirs.filter(rows(_) < smallThresholdRows)
      if (small.size < 2) Nil else small
    }
  }

  /** The one rewrite body of [[compact]] and [[compactSmall]], Iceberg's
    * `rewrite_data_files` with `use-starting-sequence-number`:
    *  1. Read snapshot S and let `choose` pick the dirs to rewrite from
    *     S's data dirs and their row counts — the manifest's record, or a
    *     count of that dir for a legacy dir without one, taken only when
    *     `choose` asks. Nothing chosen: no commit, S's version is returned.
    *  2. Read the chosen dirs under S's deletes ([[readSnapshot]], which
    *     also folds the rename chain, so the new files carry only logical
    *     names) and write them through [[writeTracked]], re-recording every
    *     bound and pair S tracked that the rows still carry.
    *  3. Commit the new dir at S's sequence: the highest sequence S lists
    *     ([[lastSeq]]; a borrowed snapshot can hold it above its version),
    *     so no delete S lists applies to the rewritten rows. The in-lock
    *     check is that every data dir and delete of S is still listed at
    *     its sequence and that everything else the table lists is newer
    *     than S's sequence. Stream commits take sequences above it
    *     ([[nextSeq]]), so they never abort the rewrite, and their deletes
    *     apply to the rewritten rows as they did to the originals.
    *     An overwrite, a copy-on-write rewrite, a rollback, a publish or a
    *     second compaction aborts it, and [[replanning]] plans it again.
    *  4. A delete stays listed iff some remaining data dir has a lower
    *     sequence; a rewritten upsert dir may stay as a key-only delete. */
  private def rewriteDirs(op: String, spark: SparkSession, path: String,
      targetRowsPerFile: Long)(choose: (Seq[String], String => Long) => Seq[String]): Int =
    replanning(op, path) {
      val snap = latest(spark, path).getOrElse(
        throw new IllegalStateException(s"no snapshots at $path"))
      val counts = scala.collection.mutable.Map(snap.rowCounts.toSeq: _*)
      val chosen = choose(snap.dirs, d => counts.getOrElseUpdate(d,
        readSnapshot(spark, path, snap.copy(dirs = Seq(d), deletes = Nil)).count()))
      if (chosen.isEmpty) snap.version
      else {
        val s = lastSeq(snap)
        val gone = chosen.toSet
        def seq(x: Snapshot, d: String): Int = x.dataSeq.getOrElse(d, 0)
        // a delete no newer than the oldest chosen dir drops none of its rows
        val oldest = chosen.map(seq(snap, _)).min
        val data = readSnapshot(spark, path,
          snap.copy(dirs = chosen, deletes = snap.deletes.filter(_._2 > oldest)))
        // a legacy dir without a count sizes the rewrite by one count job
        val total = if (chosen.forall(counts.contains)) chosen.map(counts).sum else data.count()
        val parts = math.max(1L, (total + targetRowsPerFile - 1) / targetRowsPerFile).toInt
        // re-record every bound S tracked that the rows still carry (a pair
        // key only matches as a pair)
        val tracked = snap.colStats.values.flatMap(_.keys).toSeq.distinct.sorted
        def kind(c: String) = if (data.columns.contains(c)) boundKind(data, c) else None
        val pairs = tracked.map(_.split(',')).collect {
          case Array(a, b) if kind(a).contains("long") && kind(b).contains("long") => (a, b)
        }
        val added = writeTracked(data.repartition(parts), path,
          tracked.filter(kind(_).isDefined), pairs)
        val w = added.data.get
        def entries(x: Snapshot): Seq[Set[(String, Int)]] =
          Seq(x.dirs.map(d => d -> seq(x, d)).toSet, x.deletes.toSet)
        commit(spark, path, { cur =>
          val c = cur.getOrElse(Snapshot(0, Nil))
          val onlyNewer = entries(snap).zip(entries(c)).forall { case (was, now) =>
            was.subsetOf(now) && (now -- was).forall(_._2 > s) }
          if (!onlyNewer) throw new CommitAborted(
            s"a commit at or below sequence $s replaced dirs during the $op rewrite")
          val (before, after) = c.dirs.span(!gone(_))
          val dirs = before ++ (w.dir +: after.filterNot(gone))
          val dataSeq = c.dataSeq -- chosen + (w.dir -> s)
          val seqs = dirs.map(dataSeq.getOrElse(_, 0))
          w.into(c.copy(version = 0, dirs = dirs,
            colStats = c.colStats -- chosen + (w.dir -> added.bounds), dataSeq = dataSeq,
            deletes = c.deletes.filter { case (_, x) => seqs.exists(_ < x) }))
        })
      }
    }

  /** The newest version whose manifest was committed at or before
    * `tsMillis` — Delta's `TIMESTAMP AS OF` / Iceberg's as-of-timestamp
    * read. The manifest file's modification time IS the commit instant:
    * the rename-as-commit makes claiming the manifest name the atomic
    * point of the commit, so its mtime is the only clock needed. Fails
    * when `tsMillis` predates the first retained snapshot (same contract
    * as both systems: expired history is not readable). */
  def versionAsOf(spark: SparkSession, path: String, tsMillis: Long): Int = {
    val filesystem = fs(spark, path)
    val eligible = manifests(filesystem, path)
      .filter { case (_, p) => filesystem.getFileStatus(p).getModificationTime <= tsMillis }
      .map(_._1)
    if (eligible.isEmpty)
      throw new IllegalArgumentException(
        s"no snapshot at $path committed at or before $tsMillis")
    eligible.max
  }

  /** Read the snapshot current as of wall-clock `tsMillis` (see
    * [[versionAsOf]]). */
  def readAsOf(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    readVersion(spark, path, versionAsOf(spark, path, tsMillis))

  /** The table's commit history as a DataFrame — Iceberg's `snapshots`
    * metadata table / Delta's DESCRIBE HISTORY: one row per retained
    * snapshot with its data/delete dir counts and the streaming batch-id
    * high-water mark. `n_delete_dirs` counts every dir listed as an
    * equality delete: key-only dirs and the self-deleting data dirs of
    * [[upsertMor]] (which `n_data_dirs` counts too). O(manifests) driver
    * work; nothing scans data. */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val filesystem = fs(spark, path)
    manifests(filesystem, path).map(_._1).sorted.map { v =>
      val s = readManifest(filesystem, path, v)
      (v.toLong, s.dirs.size.toLong, s.deletes.size.toLong,
        s.lastBatch.getOrElse(-1L))
    }.toDF("version", "n_data_dirs", "n_delete_dirs", "last_batch")
  }

  /** Change data feed between two snapshots (Iceberg's changelog scan):
    * every key that was inserted (`I`), updated (`U` — any non-key column
    * differs), or deleted (`D`) going from `fromV` to `toV`, with the
    * surviving row's columns (the old row's for deletes). One full-outer
    * join keyed on `keys` — both sides shuffle once by key, same cost
    * profile as the upsert that produced the delta. Assumes NULL-free
    * non-key columns for the U comparison (struct equality is not
    * null-safe); keys must identify rows uniquely in both snapshots. */
  def changes(spark: SparkSession, path: String, fromV: Int, toV: Int,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col}
    val ch = changesWithImages(spark, path, fromV, toV, keys)
    val nonKeys = ch.schema("after").dataType.asInstanceOf[StructType].fieldNames.toSeq
    ch.select(col("op") +: keys.map(col) ++:
      nonKeys.map(c => coalesce(col(s"after.$c"), col(s"before.$c")).as(c)): _*)
  }

  /** [[changes]] with BOTH row images — the Iceberg/Delta change-data-feed
    * `update_before`/`update_after` shape: `op`, the key columns, and
    * `before`/`after` structs of the non-key columns (NULL on the absent
    * side of an I/D). This is what incremental aggregate maintenance needs:
    * an update's delta is `f(after) − f(before)`, which the new-image-only
    * [[changes]] cannot provide. Same single keyed full-outer join.
    */
  def changesWithImages(spark: SparkSession, path: String, fromV: Int, toV: Int,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, struct, when}
    val a = readVersion(spark, path, fromV)
    val b = readVersion(spark, path, toV)
    require(a.columns.toSeq == b.columns.toSeq,
      s"changes(v$fromV -> v$toV): snapshots have different columns " +
        s"(${a.columns.mkString(",")} vs ${b.columns.mkString(",")}) - diff after " +
        "projecting to the common columns")
    val nonKeys = a.columns.filterNot(keys.contains).toSeq
    val ka = a.select(keys.map(col) :+ struct(nonKeys.map(col): _*).as("before"): _*)
    val kb = b.select(keys.map(col) :+ struct(nonKeys.map(col): _*).as("after"): _*)
    ka.join(kb, keys, "full_outer")
      .withColumn("op",
        when(col("before").isNull, "I")
          .when(col("after").isNull, "D")
          .when(col("before") =!= col("after"), "U"))
      .filter(col("op").isNotNull)
      .select(col("op") +: keys.map(col) ++: Seq(col("before"), col("after")): _*)
  }

  /** Apply an I/U/D changelog (the [[changes]] output shape: `op` plus the
    * full row image) to a replica table — the CONSUMER half of the CDC
    * pipeline, [[changes]] being the producer half. Deletes drop rows by
    * key; inserts and updates take the new image. One keyed anti join plus
    * a union, committed as one snapshot, so replaying a table's changelog
    * version by version reproduces every snapshot exactly (asserted in
    * CdcReplicationSpec). The replica is itself snapshot-versioned: each
    * applied batch is time-travelable, and an exactly-once variant under
    * at-least-once delivery is one [[appendOnce]]-style batch-id check away.
    * The rewrite commits through [[rewrite]], so a commit that lands on the
    * replica meanwhile re-plans it instead of being overwritten. The join
    * shuffles once by key like the upsert that produced the delta. */
  def applyChanges(ch: DataFrame, path: String, keys: Seq[String]): Int = {
    import org.apache.spark.sql.functions.col
    val touched = ch.select(keys.map(col): _*)
    val ups = ch.filter(col("op").isin("I", "U")).drop("op")
    rewrite("applyChanges", ch.sparkSession, path) { planned =>
      val snap = planned.getOrElse(throw new IllegalStateException(s"no snapshots at $path"))
      readSnapshot(ch.sparkSession, path, snap).join(touched, keys, "left_anti").unionByName(ups)
    }.get
  }

  /** Latest snapshot contents. */
  def read(spark: SparkSession, path: String): DataFrame =
    readSnapshot(spark, path, latest(spark, path).getOrElse(
      throw new IllegalStateException(s"no snapshots at $path")))

  /** Time travel: the table exactly as of snapshot `version`. */
  def readVersion(spark: SparkSession, path: String, version: Int): DataFrame =
    readSnapshot(spark, path, snapshot(spark, path, version).getOrElse(
      throw new IllegalArgumentException(s"no snapshot v$version at $path")))

  /** All snapshot versions, ascending. */
  def versions(spark: SparkSession, path: String): Seq[Int] =
    catalog.tableVersions(spark, path)

  /** The parsed manifest of one version — exposed so specs can assert
    * pruning decisions ([[prunedDirs]]) against the recorded bounds. */
  def readManifestForTest(spark: SparkSession, path: String, v: Int): Snapshot =
    readManifest(fs(spark, path), path, v)

  /** Drop all but the last `keep` snapshots and delete data dirs no
    * remaining snapshot references (Iceberg's expire_snapshots). Borrowed
    * dirs (absolute paths a [[cloneAt]] clone references inside ANOTHER
    * table) are never deleted here — the clone does not own them. The
    * inverse hazard is inherent to shallow clones (exactly as in
    * Delta/Iceberg): expiring the SOURCE is clone-unaware and can orphan
    * clones that still reference the expired dirs. */
  def expire(spark: SparkSession, path: String, keep: Int): Unit = {
    require(keep >= 1, "must keep at least the latest snapshot")
    val filesystem = fs(spark, path)
    val all = manifests(filesystem, path)
    val (drop, stay) = all.splitAt(math.max(all.size - keep, 0))
    if (drop.isEmpty) return
    def allDirs(s: Snapshot): Seq[String] = (s.dirs ++ s.deletes.map(_._1)).distinct
    // A concurrent expire may delete a to-be-dropped manifest between our
    // listing and our read: treat a vanished manifest as already expired
    // (its dirs were handled by whoever deleted it) instead of failing.
    def tryRead(v: Int): Option[Snapshot] =
      try Some(readManifest(filesystem, path, v))
      catch { case _: java.io.IOException | _: java.io.FileNotFoundException => None }
    // Liveness is a PATH-IDENTITY property, not a string property: after a
    // [[publish]], the kept manifests reference this table's own dirs by
    // ABSOLUTE path (re-qualified through the branch) while dropped old
    // manifests hold the same dirs RELATIVE — compare everything absolute,
    // or expire deletes a dir the latest snapshot still reads.
    val pathAbs = filesystem.makeQualified(new Path(path)).toUri.getPath
    def absOf(d: String): String = if (d.startsWith("/")) d else s"$pathAbs/$d"
    // kept manifests are never deleted by any expire — read them strictly
    // (an unreadable KEPT manifest must abort, or `live` would undercount
    // and a referenced dir could be deleted)
    val live = stay.flatMap { case (v, _) => allDirs(readManifest(filesystem, path, v)) }
      .map(absOf).toSet
    drop.foreach { case (v, p) =>
      tryRead(v).foreach { s =>
        val dead = allDirs(s).filterNot(d => live(absOf(d)))
          .filterNot(_.startsWith("/")) // borrowed (clone-referenced) dirs are not ours
        filesystem.delete(p, false)
        dead.foreach(d => filesystem.delete(new Path(path, d), true))
      }
    }
  }

  /** Zero-copy shallow clone (Delta SHALLOW CLONE / an Iceberg branch):
    * commit a snapshot at `dstPath` that references `srcPath`'s version-`v`
    * data dirs BY ABSOLUTE PATH — no data moves. The clone then diverges
    * independently: its own commits write local dirs, the source never sees
    * them, and the clone's [[expire]] never deletes borrowed dirs (it does
    * not own them). The standard shallow-clone caveat applies in the other
    * direction: expiring the SOURCE's old snapshots can delete dirs a clone
    * still references, exactly as Delta's VACUUM breaks shallow clones —
    * callers keep source history as long as clones live. Returns the
    * clone's committed version.
    */
  def cloneAt(spark: SparkSession, srcPath: String, dstPath: String, version: Int): Int = {
    val snap = snapshot(spark, srcPath, version).getOrElse(
      throw new IllegalArgumentException(s"no snapshot v$version at $srcPath"))
    commit(spark, dstPath, _ => borrowed(spark, srcPath, snap))
  }

  /** `snap` of the table at `path` as another table commits it: every dir
    * referenced by ABSOLUTE path (no data moves), with its bounds,
    * sequences, deletes, schema and row count, and `snap`'s rename chain —
    * the borrowed dirs' physical names need the chain of the table that
    * wrote them. Shared by [[cloneAt]] and [[publish]]. */
  private def borrowed(spark: SparkSession, path: String, snap: Snapshot): Snapshot = {
    val pathAbs = fs(spark, path).makeQualified(new Path(path)).toUri.getPath
    def abs(d: String): String = if (d.startsWith("/")) d else s"$pathAbs/$d"
    def byAbs[V](m: Map[String, V]): Map[String, V] = m.map { case (d, x) => abs(d) -> x }
    Snapshot(0, snap.dirs.map(abs), byAbs(snap.colStats), None, byAbs(snap.dataSeq),
      snap.deletes.map { case (d, s) => abs(d) -> s }, snap.deleteKeys, snap.renames,
      schemas = byAbs(snap.schemas), rowCounts = byAbs(snap.rowCounts))
  }

  /** Write-audit-publish fast-forward (Iceberg's WAP / `fast_forward`
    * procedure, IcebergTableManager.java:77-92's table-swap analogue):
    * atomically re-point `mainPath` at the audited state of a branch cut
    * with [[cloneAt]]. Pure metadata — the branch's dirs are re-qualified
    * to absolute paths and committed onto main as ONE new version; no data
    * moves, however many TB the branch holds. `expectedMainVersion` (the
    * version the branch was cut from) is the optimistic-concurrency guard:
    * if main advanced past it, the swap would silently drop the concurrent
    * writer's rows, so publish refuses and the caller re-cuts the branch.
    * Main's streaming `lastBatch` high-water mark survives the publish
    * (the exactly-once contract is main's, not the branch's). Borrowed-dir
    * rule as in [[cloneAt]]: the branch directory must outlive main's
    * reference to it (publish-then-drop-branch breaks main, exactly like
    * expiring a cloned source).
    */
  def publish(spark: SparkSession, branchPath: String, mainPath: String,
      expectedMainVersion: Int): Int = {
    val snap = latest(spark, branchPath).getOrElse(
      throw new IllegalArgumentException(s"publish: no snapshot at $branchPath"))
    commit(spark, mainPath, { cur =>
      val curV = cur.map(_.version).getOrElse(0)
      if (curV != expectedMainVersion)
        throw new IllegalStateException(s"publish conflict: $mainPath is at " +
          s"v$curV but the branch was cut from v$expectedMainVersion")
      borrowed(spark, branchPath, snap).copy(lastBatch = cur.flatMap(_.lastBatch))
    })
  }

  /** Delete data directories under `path` that no snapshot references —
    * Iceberg's remove_orphan_files. Orphans are the debris of writers that
    * died between materializing a data dir and committing the manifest
    * (the [[commit]] rename): invisible to every reader, but at 100 TB they
    * silently hold storage forever. Only dirs matching the internal `d-*`
    * naming are candidates, so foreign files and the meta dir are never
    * touched.
    *
    * `olderThanMs` is the concurrent-writer guard (Iceberg's
    * `older_than` for the same reason): a LIVE writer that has materialized
    * its data dir but not yet committed looks exactly like an orphan, so
    * only dirs whose modification time predates the grace window are
    * eligible. The default (24 h) is safe for any sanely-timed commit;
    * tests pass 0 to collect immediately. Returns the deleted dir names
    * (sorted) for audit logging.
    */
  def removeOrphans(spark: SparkSession, path: String,
      olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val filesystem = fs(spark, path)
    val live = manifests(filesystem, path)
      .flatMap { case (v, _) =>
        val s = readManifest(filesystem, path, v); s.dirs ++ s.deletes.map(_._1) }.toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val orphans = filesystem.listStatus(new Path(path))
      .filter(st => st.isDirectory && st.getModificationTime <= cutoff)
      .map(_.getPath.getName)
      .filter(n => n.startsWith("d-") && !live(n))
      .toSeq.sorted
    orphans.foreach(n => filesystem.delete(new Path(path, n), true))
    orphans
  }

  // ---- internals ---------------------------------------------------------

  /** A written dir, its row count, the caller's observed aggregates and
    * the schema the write held. */
  private final case class Written(dir: String, rows: Long, observed: Row,
      schema: StructType) {
    /** `s` with this dir's schema and row count recorded. */
    def into(s: Snapshot): Snapshot =
      s.copy(schemas = s.schemas + (dir -> schema), rowCounts = s.rowCounts + (dir -> rows))
    def added(bounds: Map[String, ColBounds] = Map.empty): Added =
      Added(Some(this), bounds)
  }

  /** Write `df` as a fresh data dir — the one place a commit learns what a
    * dir holds. One `Observation` directly above the write counts the rows
    * and evaluates `observe` in the write job's result stage, so the numbers
    * are those of the committed files (a failed task attempt contributes
    * nothing) and no second pass over the input runs. The commit records
    * the count (Iceberg's `record_count`, read by [[countFromMetadata]],
    * [[filesMetadata]] and compaction planning) and the written schema,
    * `df.schema`, in the manifest ([[Written.into]]); no file is written
    * beside the data. */
  private def writeDataDir(df: DataFrame, path: String,
      observe: Seq[Column] = Nil): Written = {
    import org.apache.spark.sql.functions.{count, lit}
    val d = s"d-${System.nanoTime()}-${counter.incrementAndGet()}"
    val obs = org.apache.spark.sql.Observation()
    val metrics = (count(lit(1)) +: observe).zipWithIndex.map { case (c, i) => c.as(s"m$i") }
    graft.core.trace("table.write.parquet")(df.observe(obs, metrics.head, metrics.tail: _*)
      .write.parquet(new Path(path, d).toString))
    val got = obs.get
    Written(d, got("m0").asInstanceOf[Long],
      Row.fromSeq(observe.indices.map(i => got(s"m${i + 1}"))), df.schema)
  }

  /** Metadata-only `COUNT(*)` — Iceberg's aggregate pushdown: answered by
    * summing the manifest's per-dir row counts of the (current or
    * time-traveled) snapshot, without opening ANY file. Returns None
    * when metadata alone cannot be exact:
    *  - outstanding equality deletes (merge-on-read: row liveness depends
    *    on data until [[compact]] materializes the merge), or
    *  - any dir without a recorded count (committed by an older build).
    * Callers fall back to `read(...).count()` — same contract as Iceberg
    * falling off the metadata path when a file lacks metrics. */
  def countFromMetadata(spark: SparkSession, path: String,
      version: Option[Int] = None): Option[Long] = {
    val snap = version match {
      case Some(v) => snapshot(spark, path, v)
      case None    => latest(spark, path)
    }
    snap.filter(sn => sn.deletes.isEmpty && sn.dirs.forall(sn.rowCounts.contains))
      .map(sn => sn.dirs.map(sn.rowCounts).sum)
  }

  /** Metadata-only MIN/MAX of a stats-tracked column (the aggregate-pushdown
    * sibling of [[countFromMetadata]]): folds the per-dir manifest bounds —
    * min of los, max of his, compared per the recorded type — without
    * opening any data file. Exact because per-dir bounds are true min/max of
    * the dir's non-NULL values, and SQL MIN/MAX ignore NULLs. Refuses
    * (None) whenever metadata cannot be exact:
    *  - outstanding MOR equality deletes (a delete may remove the extreme
    *    row),
    *  - ANY dir lacking bounds for the column — indistinguishable between
    *    "stats never recorded" and "column all-NULL in that dir", and the
    *    former would make a metadata answer wrong, so both refuse. */
  def minMaxFromMetadata(spark: SparkSession, path: String, column: String,
      version: Option[Int] = None): Option[ColBounds] = {
    val snap = version match {
      case Some(v) => snapshot(spark, path, v)
      case None    => latest(spark, path)
    }
    snap.flatMap { sn =>
      if (sn.deletes.nonEmpty) None
      else {
        val bs = sn.dirs.map(d => sn.colStats.get(d).flatMap(_.get(column)))
        if (bs.isEmpty || bs.exists(_.isEmpty)) None
        else {
          val all = bs.flatten
          val typ = all.head.typ
          if (all.exists(_.typ != typ)) None
          else if (typ == "long")
            Some(ColBounds(all.map(_.lo.toLong).min.toString,
              all.map(_.hi.toLong).max.toString, typ))
          else {
            // The per-dir bounds were recorded by Spark min/max over
            // UTF8String — UTF-8 BYTE order, which disagrees with Java
            // String's UTF-16 code-unit order for supplementary-plane
            // characters. Fold with the same UTF-8 byte comparison the
            // bounds were computed under, or the metadata answer could
            // differ from the data-path answer on non-ASCII extremes.
            val utf8: Ordering[String] = (a: String, b: String) =>
              org.apache.spark.unsafe.types.UTF8String.fromString(a)
                .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
            Some(ColBounds(all.map(_.lo).min(utf8), all.map(_.hi).max(utf8), typ))
          }
        }
      }
    }
  }

  /** The `files` metadata table (Iceberg's `table$files`): one row per live
    * data dir of the current snapshot — commit sequence, record count (−1
    * when the manifest records none), and how many columns carry manifest
    * bounds — all from the manifest, no file opened. Ordinal is the
    * position in the snapshot's dir list (dir names themselves are uniqued
    * by wall clock, deliberately not exposed in query results). */
  def filesMetadata(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    latest(spark, path).map { sn =>
      sn.dirs.zipWithIndex.map { case (d, i) =>
        ((i + 1).toLong,
          sn.dataSeq.get(d).map(_.toLong).getOrElse(0L),
          sn.rowCounts.getOrElse(d, -1L),
          sn.colStats.get(d).map(_.size.toLong).getOrElse(0L))
      }.toDF("file_ordinal", "commit_seq", "n_rows", "n_stat_cols")
    }.getOrElse(Seq.empty[(Long, Long, Long, Long)]
      .toDF("file_ordinal", "commit_seq", "n_rows", "n_stat_cols"))
  }

  /** Commit a snapshot whose dir list is a FUNCTION of the snapshot it lands
    * on top of: the loser of a manifest race recomputes `dirsFor` against
    * the winner's snapshot before retrying, which is what makes concurrent
    * appends conflict-free. */
  private def commit(spark: SparkSession, path: String,
      dirsFor: Option[Snapshot] => Snapshot): Int = {
    val lock = lockMap.computeIfAbsent(path, _ => new Object)
    lock.synchronized { commitLocked(spark, path, dirsFor) }
  }

  /** Thrown by a commit callback to abandon the commit while holding the
    * table lock — the in-lock guard path for ops whose precondition must be
    * re-validated against the CURRENT snapshot (exactly-once batch ids, a
    * rewrite whose planned dirs a concurrent commit replaced). Callers map
    * it to their no-op result or re-plan ([[replanning]]); no manifest is
    * written, and the op's staged data dir becomes ordinary
    * [[removeOrphans]] debris. */
  private final class CommitAborted(val why: String) extends RuntimeException(why)

  private def commitLocked(spark: SparkSession, path: String,
      dirsFor: Option[Snapshot] => Snapshot): Int = {
    var attempt = 0
    while (true) {
      // resolve + commit through the CATALOG seam: load the current
      // snapshot, build against it, and attempt the optimistic swap naming
      // the version this commit expects to supersede — a lost race (false)
      // re-plans against the winner's snapshot and retries
      val cur = latest(spark, path)
      val v = cur.map(_.version).getOrElse(0) + 1
      // build the snapshot BEFORE the catalog write: a throwing callback
      // (publish conflict, CommitAborted guard) must not leak a commit
      val built = dirsFor(cur)
      // the rename chain is carried CENTRALLY: every commit shape keeps the
      // table's accumulated renames unless it explicitly extends them
      // ([[renameColumn]]) or seeds them from another table ([[cloneAt]] /
      // [[publish]]) — so no write path can silently drop the chain and
      // orphan old dirs' physical column names
      val withRenames = if (built.renames.isEmpty)
        built.copy(renames = cur.map(_.renames).getOrElse(Nil))
      else built
      // per-dir SORT ORDERS (r16), SCHEMAS and ROW COUNTS are carried
      // centrally too: every commit keeps the recorded layout, schema and
      // count of the dirs it retains — a write shape that doesn't know
      // about them cannot silently strip them from existing dirs (each
      // shape adds only its new dirs' entries)
      val live = (built.dirs ++ built.deletes.map(_._1)).toSet
      def carried[V](f: Snapshot => Map[String, V]): Map[String, V] =
        (cur.map(f).getOrElse(Map.empty) ++ f(built)).filter { case (d, _) => live(d) }
      val snap = withRenames.copy(sortOrders = carried(_.sortOrders),
        schemas = carried(_.schemas), rowCounts = carried(_.rowCounts))
      if (catalog.commitTable(spark, path, v - 1, manifestJson(v, snap)))
        return v
      attempt += 1
      if (attempt > 100) throw new java.io.IOException(s"cannot commit to $path after $attempt attempts")
    }
    -1 // unreachable
  }

  /** The one read path of every snapshot. The data dirs are ONE
    * multi-path scan under the fold of their recorded schemas
    * ([[dirSchema]], [[foldSchemas]]), so building the read launches no
    * schema-inference job; the rename chain's physical aliases fold into
    * logical columns ([[coalesceAliases]]). A listed dir that holds no data
    * file fails the read (checked against the scan's own file listing): the
    * manifest lists dirs, not files, so files removed out of band would
    * otherwise read as silently empty.
    *
    * Merge-on-read scans every file ONCE. Each data row takes `__seq`, the
    * sequence of its file's dir, and `__own`, that dir's delete sequence
    * when the dir is also listed in `deletes` (an upsert's self-deleting
    * dir), else null. The delete dirs that are not scanned as data (key-only
    * [[deleteWhereKeys]]/[[applyCdcOnce]] dirs, legacy upsert key dirs, and
    * deleting dirs [[readPruned]] left out) join the scan as key rows that
    * carry only `__own`. `max(__own)` over each key is the key's delete
    * sequence, and a data row survives iff that is null or ≤ its `__seq`
    * (Iceberg's rule: only a strictly later delete drops a row). One scan
    * and one exchange by key — the cost [[upsertMor]] deferred;
    * [[compact]] materializes it away. A row with a NULL key is never
    * deleted, as no equality matches NULL. */
  private def readSnapshot(spark: SparkSession, path: String, snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{coalesce, col, concat, lit, max, raise_error,
      regexp_replace, typedLit, when}
    require(snap.dirs.nonEmpty, s"snapshot v${snap.version} is empty")
    val filesystem = fs(spark, path)
    // a dir's FULL path, the name space a file's dir is looked up in: a
    // clone's borrowed absolute dirs and its local dirs share it. Scheme and
    // authority are cut from both sides (the scan reports local files as
    // file:/… while a qualified path prints file:///…)
    def fullPath(d: String): String = filesystem.makeQualified(new Path(path, d)).toUri.getRawPath
    def scan(dirs: Seq[String], schema: StructType): DataFrame = {
      val df = spark.read.schema(schema).parquet(dirs.map(d => new Path(path, d).toString): _*)
      val listed = df.inputFiles.map { f =>
        val p = new java.net.URI(f).getRawPath; p.substring(0, p.lastIndexOf('/')) }.toSet
      dirs.find(d => !listed(fullPath(d))).foreach(d => throw new IllegalStateException(
        s"snapshot v${snap.version} of $path lists dir $d, which holds no data file"))
      df
    }
    def schemaOf(dirs: Seq[String]): StructType =
      foldSchemas(dirs.map(dirSchema(filesystem, path, snap, _)))
    val data = scan(snap.dirs, schemaOf(snap.dirs))
    if (snap.deletes.isEmpty) return coalesceAliases(data, snap.renames)
    val keys = snap.deleteKeys.map(col)
    def withDir(df: DataFrame): DataFrame = df.withColumn("__dir", regexp_replace(
      df.metadataColumn("_metadata").getField("file_path"),
      "^[a-zA-Z][-a-zA-Z0-9+.]*:(//[^/]*)?|/[^/]*$", ""))
    def byDir(seqs: Seq[(String, Int)]): Column =
      typedLit(seqs.map { case (d, sq) => fullPath(d) -> sq }.toMap).apply(col("__dir"))
    def known(seq: Column): Column =
      coalesce(seq, raise_error(concat(lit("no sequence recorded for "), col("__dir"))))
    // a NULL key matches no delete, and deletes nothing
    def ifKeyed(c: Column): Column = when(keys.map(_.isNotNull).reduce(_ && _), c)
    val scanned = snap.dirs.toSet
    val (own, keyOnly) = snap.deletes.partition(d => scanned(d._1))
    val rows = coalesceAliases(withDir(data)
      .withColumn("__seq", known(byDir(snap.dirs.map(d => d -> snap.dataSeq.getOrElse(d, 0)))))
      .withColumn("__own", ifKeyed(byDir(own)))
      .drop("__dir"), snap.renames)
    val all =
      if (keyOnly.isEmpty) rows
      else {
        val dirs = keyOnly.map(_._1)
        val folded = schemaOf(dirs)
        val keyRows = scan(dirs, StructType(snap.deleteKeys.map(folded(_))))
        rows.unionByName(withDir(keyRows)
          .select(keys :+ ifKeyed(known(byDir(keyOnly))).as("__own"): _*),
          allowMissingColumns = true)
      }
    all.withColumn("__dseq", max(col("__own")).over(Window.partitionBy(keys: _*)))
      .filter(col("__seq").isNotNull && (col("__dseq").isNull || col("__dseq") <= col("__seq")))
      .drop("__seq", "__own", "__dseq")
  }

  /** The schema `dir` was written with: the snapshot's record, or, for a
    * dir committed before schemas were recorded, the one its parquet
    * footer embeds ([[footerSchema]]). */
  private[sinks] def dirSchema(filesystem: FileSystem, path: String, snap: Snapshot,
      dir: String): StructType =
    snap.schemas.getOrElse(dir, footerSchema(filesystem, new Path(path, dir)))

  /** A dir's Spark schema from ONE raw parquet footer (~2 ms, no Spark
    * job) — NOT via `spark.read.parquet(dir).schema`, whose DataFrame setup
    * costs ~45 ms per call and launches an inference job. The file is the
    * dir's first data file by Spark's rule (names starting with `_` or `.`
    * are not data). Prefers the exact Spark schema the writer embedded in
    * the footer key-value metadata; falls back to Spark's own parquet-type
    * converter. */
  private def footerSchema(filesystem: FileSystem, dir: Path): StructType = {
    val first = filesystem.listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName).headOption.getOrElse(
        throw new IllegalArgumentException(s"no data files in $dir"))
    val conf = filesystem.getConf
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(first.getPath, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val md = r.getFooter.getFileMetaData
      Option(md.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
        .map(j => DataType.fromJson(j).asInstanceOf[StructType])
        .getOrElse(new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(conf).convert(md.getSchema))
    } finally r.close()
  }

  /** The read schema of several dirs: their schemas folded by field name
    * in first-appearance order, new fields appended — the rule of Spark's
    * parquet schema merge. A field recorded with two types fails loudly, as
    * that merge does. */
  private def foldSchemas(schemas: Seq[StructType]): StructType =
    schemas.distinct.reduce(mergeType(_, _).asInstanceOf[StructType])

  private def mergeType(a: DataType, b: DataType): DataType = (a, b) match {
    case (x: StructType, y: StructType) =>
      val merged = x.fields.map(f => y.fields.find(_.name == f.name).fold(f)(g =>
        f.copy(dataType = mergeType(f.dataType, g.dataType), nullable = f.nullable || g.nullable)))
      StructType(merged ++ y.fields.filterNot(g => x.fieldNames.contains(g.name)))
    case (ArrayType(x, n), ArrayType(y, m))     => ArrayType(mergeType(x, y), n || m)
    case (MapType(k, v, n), MapType(k2, v2, m)) => MapType(mergeType(k, k2), mergeType(v, v2), n || m)
    case _ if a == b                            => a
    case _ => throw new IllegalArgumentException(
      s"cannot merge incompatible data types $a and $b across data dirs")
  }

  private def latest(spark: SparkSession, path: String): Option[Snapshot] =
    catalog.loadTable(spark, path).map { case (_, json) => parseManifest(json) }

  private def snapshot(spark: SparkSession, path: String, v: Int): Option[Snapshot] =
    catalog.readVersion(spark, path, v).map(parseManifest)

  private def manifests(filesystem: FileSystem, path: String): Seq[(Int, Path)] = {
    val meta = new Path(path, MetaDir)
    if (!filesystem.exists(meta)) return Nil
    filesystem.listStatus(meta).toSeq
      .map(_.getPath)
      .flatMap { p =>
        val n = p.getName
        if (n.startsWith("v") && n.endsWith(".json"))
          n.stripPrefix("v").stripSuffix(".json").toIntOption.map(_ -> p)
        else None
      }
      .sortBy(_._1)
  }

  private def readManifest(filesystem: FileSystem, path: String, v: Int): Snapshot = {
    val p = new Path(new Path(path, MetaDir), manifestName(v))
    val in = filesystem.open(p)
    try parseManifest(new String(in.readAllBytes(), "UTF-8")) finally in.close()
  }

  /** Manifest JSON — one object per snapshot, order-fixed:
    * `{"version":3,"dirs":["d-...","d-..."],
    *   "colStats":[["d-...","col","long|string","lo","hi"],...],
    *   "lastBatch":7,"seqs":[["d-...",2],...],
    *   "deletes":[["d-...",3],...],"deleteKeys":["id"],
    *   "renames":[["from","to"],...],"sortOrders":[["d-...","c1 asc,c2 desc"],...],
    *   "schemaIds":[["d-...",0],...],"schemas":[{"type":"struct",...},...],
    *   "rowCounts":[["d-...",1200],...]}`
    * Every field after dirs is optional; bound values are strings compared
    * per their recorded type at read time. `schemas` lists each distinct
    * dir schema once, as Spark's schema JSON, and `schemaIds` gives each
    * data and delete dir its index in that list — Iceberg's `schemas` +
    * schema-id shape, O(dirs) small entries. `rowCounts` gives each data
    * and delete dir the rows its write observed (Iceberg's `record_count`);
    * a manifest without it is a legacy table, whose dirs have no count. */
  private def manifestJson(v: Int, snap: Snapshot): String = {
    val root = manifestMapper.createObjectNode().put("version", v)
    // an array of rows of strings and numbers, omitted when empty
    def rows(field: String, rs: Seq[Seq[Any]]): Unit = if (rs.nonEmpty) {
      val arr = root.putArray(field)
      rs.foreach { r =>
        val row = arr.addArray()
        r.foreach {
          case i: Int  => row.add(i)
          case n: Long => row.add(n)
          case x       => row.add(x.toString)
        }
      }
    }
    val dirs = root.putArray("dirs")
    snap.dirs.foreach(d => dirs.add(d))
    rows("colStats", for {
      d <- snap.dirs; (c, b) <- snap.colStats.getOrElse(d, Map.empty).toSeq.sortBy(_._1)
    } yield Seq(d, c, b.typ, b.lo, b.hi))
    snap.lastBatch.foreach(b => root.put("lastBatch", b))
    rows("seqs", snap.dataSeq.toSeq.sortBy(_._1).map { case (d, sq) => Seq(d, sq) })
    rows("deletes", snap.deletes.map { case (d, sq) => Seq(d, sq) })
    if (snap.deletes.nonEmpty) {
      val keys = root.putArray("deleteKeys")
      snap.deleteKeys.foreach(k => keys.add(k))
    }
    rows("renames", snap.renames.map { case (f, t) => Seq(f, t) })
    // per-dir sort orders (r16): [dir, "col1 asc,col2 desc"] pairs —
    // column names are validated comma/space-free at appendSorted time,
    // so the joined spec string round-trips unambiguously
    rows("sortOrders", snap.sortOrders.toSeq.sortBy(_._1).map { case (d, o) =>
      Seq(d, o.map { case (c, dir) => s"$c $dir" }.mkString(","))
    })
    val listed = (snap.dirs ++ snap.deletes.map(_._1)).distinct
    val recorded = listed.flatMap(d => snap.schemas.get(d).map(d -> _))
    val distinct = recorded.map(_._2).distinct
    val id = distinct.zipWithIndex.toMap
    rows("schemaIds", recorded.map { case (d, sc) => Seq(d, id(sc)) })
    if (distinct.nonEmpty) {
      val schemas = root.putArray("schemas")
      distinct.foreach(sc => schemas.add(manifestMapper.readTree(sc.json)))
    }
    rows("rowCounts", listed.flatMap(d => snap.rowCounts.get(d).map(Seq(d, _))))
    manifestMapper.writeValueAsString(root)
  }

  private def parseManifest(doc: String): Snapshot = {
    import com.fasterxml.jackson.databind.JsonNode
    val root = manifestMapper.readTree(doc)
    if (root == null || !root.has("version") || !root.has("dirs"))
      throw new java.io.IOException(s"bad manifest: $doc")
    def rows(field: String): Seq[IndexedSeq[JsonNode]] = Option(root.get(field)).toSeq
      .flatMap(_.elements().asScala.map(_.elements().asScala.toIndexedSeq))
    def strings(field: String): Seq[String] =
      Option(root.get(field)).toSeq.flatMap(_.elements().asScala.map(_.asText))
    def byDir(field: String): Seq[(String, Int)] = rows(field).map(r => r(0).asText -> r(1).asInt)
    val schemaList = Option(root.get("schemas")).toSeq.flatMap(_.elements().asScala)
      .map(n => DataType.fromJson(n.toString).asInstanceOf[StructType]).toIndexedSeq
    Snapshot(root.get("version").asInt, strings("dirs"),
      colStats = rows("colStats").groupBy(_(0).asText).map { case (d, es) =>
        d -> es.map(e => e(1).asText -> ColBounds(e(3).asText, e(4).asText, e(2).asText)).toMap
      },
      lastBatch = Option(root.get("lastBatch")).map(_.asLong),
      dataSeq = byDir("seqs").toMap,
      deletes = byDir("deletes"),
      deleteKeys = strings("deleteKeys"),
      renames = rows("renames").map(r => r(0).asText -> r(1).asText),
      sortOrders = rows("sortOrders").map { r =>
        r(0).asText -> r(1).asText.split(",").toSeq.map { part =>
          val Array(c, dir) = part.split(" ", 2)
          (c, dir)
        }
      }.toMap,
      schemas = byDir("schemaIds").map { case (d, i) => d -> schemaList(i) }.toMap,
      rowCounts = rows("rowCounts").map(r => r(0).asText -> r(1).asLong).toMap)
  }

  // manifests written by the earlier hand-rolled codec escaped only
  // backslash and quote, so a bound string may hold raw control characters
  private val manifestMapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .enable(com.fasterxml.jackson.core.json.JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .build()

  private def manifestName(v: Int): String = f"v$v%05d.json"

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
}
