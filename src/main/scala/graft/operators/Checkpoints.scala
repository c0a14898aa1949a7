package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage-truncation strategy for the iterative operators (PageRank, Bfs,
  * KMeans.lloyd, NearDup.connectedComponents).
  *
  * The default, `localCheckpoint`, materializes the iterate to EXECUTOR-LOCAL
  * block storage: fastest (no distributed filesystem round-trip), but the
  * blocks live only as long as their executor. On a real cluster, losing one
  * executor mid-iteration kills the whole job, because the truncated lineage
  * can no longer recompute the lost blocks — acceptable for short interactive
  * runs, not for a 100 TB multi-hour iterate.
  *
  * Passing `checkpointDir = Some(path)` switches every truncation point to a
  * RELIABLE checkpoint (`SparkContext.setCheckpointDir` +
  * `Dataset.checkpoint`), backed by any Hadoop filesystem — HDFS/object store
  * at cluster scale. Executor loss then costs a re-read of the checkpoint
  * files, not the job. The analytical results are BIT-IDENTICAL either way
  * (the strategy changes only WHERE the iterate is materialized, never its
  * value — CheckpointSpec proves equality per operator); the trade is
  * per-iteration write amplification for fault tolerance.
  *
  * Superseded iterates do not accumulate: Spark deletes reliable checkpoint
  * files only when `spark.cleaner.referenceTracking.cleanCheckpoints` is on
  * (default off), so a long iterate would otherwise leave O(iters × state)
  * files behind. Operators call [[retire]] on an iterate once the NEXT
  * generation is materialized — a checkpointed Dataset re-reads its own
  * files, never its parent's, so the previous generation's files are dead
  * the moment the successor exists — and this Checkpointer deletes exactly
  * the `rdd-*` directories it recorded for that frame ([[apply]] diffs the
  * checkpoint dir around each materialization to learn them).
  *
  * One SparkContext has ONE active checkpoint dir: concurrent use of two
  * Checkpointers with different dirs on the same context is unsupported
  * (each (re)set would misroute the other's files) — the active-dir guard
  * compares the requested dir against the PARENT of the active UUID subdir
  * exactly, never by substring, so `/data/ckpt` vs `/data/ckpt2` cannot
  * false-positive.
  *
  * Mirrors the reference's durable-state stance for long-running jobs
  * (checkpointed Flink state: streaming-ingestion-from-snowflake reference,
  * SnowflakeProcessFunction.java — operator state survives task loss), but
  * for batch iteration.
  */
final class Checkpointer(dir: Option[String]) extends Serializable {
  import org.apache.hadoop.fs.Path

  /** checkpointed frame (by identity) → the rdd-* dirs it materialized */
  @transient private lazy val owned =
    new java.util.IdentityHashMap[DataFrame, Seq[Path]]()

  private def rddDirs(df: DataFrame): Set[Path] = {
    val sc = df.sparkSession.sparkContext
    sc.getCheckpointDir.map { active =>
      val p = new Path(active)
      val fs = p.getFileSystem(sc.hadoopConfiguration)
      if (fs.exists(p))
        fs.listStatus(p).map(_.getPath).filter(_.getName.startsWith("rdd-")).toSet
      else Set.empty[Path]
    }.getOrElse(Set.empty)
  }

  /** [[apply]] for a STAGED frame whose downstream consumers rely on its
    * partitioning and ordering surviving into the checkpoint — e.g. an edge
    * table `repartition(n, key).sortWithinPartitions(key)`-staged once so
    * that every loop iteration's join reads it exchange- and sort-free.
    *
    * Why a separate entry point: `Dataset.checkpoint` records the executed
    * plan's `outputPartitioning`/`outputOrdering` in the LogicalRDD it
    * returns, but under AQE the executed plan is an `AdaptiveSparkPlanExec`
    * whose exposed partitioning is the SparkPlan default
    * `UnknownPartitioning(0)` — so the checkpointed side of every downstream
    * join was re-exchanged AND re-sorted per iteration (observed:
    * plans/r16/graph_pagerank_after.txt, 26 exchanges / 12 sorts for a
    * 4-iteration chain; the r16 pre-sort was dead weight for this reason).
    * Materializing this one query with AQE off makes the executed plan the
    * plain physical plan, whose root partitioning/ordering IS the staging
    * layout, and the checkpoint carries it. AQE is switched off in a conf
    * scoped to the calling thread, so the session's conf never changes: AQE
    * stays on for every other query, concurrent ones included, and for the
    * loop queries that read the checkpoint (they still
    * coalesce/skew-split/broadcast their OWN shuffles at runtime).
    *
    * Must be called on a frame that has not been planned yet (the AQE flag
    * is read at physical-planning time); operators construct and stage in
    * one expression, which satisfies that.
    */
  def staged(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.shims.withThreadConf(df.sparkSession,
      "spark.sql.adaptive.enabled", "false")(apply(df))

  /** Truncate `df`'s lineage eagerly under the chosen strategy. */
  def apply(df: DataFrame): DataFrame = dir match {
    case Some(d) =>
      val sc = df.sparkSession.sparkContext
      // setCheckpointDir mints a fresh UUID subdir per call — only (re)set
      // when the ACTIVE dir's parent is not exactly the requested dir.
      val requested = new Path(d)
      val qualified = requested.getFileSystem(sc.hadoopConfiguration)
        .makeQualified(requested)
      val active = sc.getCheckpointDir.map(a => new Path(a).getParent)
      if (!active.contains(qualified)) sc.setCheckpointDir(d)
      val before = rddDirs(df)
      val out = df.checkpoint() // eager, reliable
      val created = (rddDirs(out) -- before).toSeq
      if (created.nonEmpty) owned.put(out, created)
      out
    case None => df.localCheckpoint(true) // eager, executor-local
  }

  /** Delete the checkpoint files behind a frame this Checkpointer
    * materialized, once its successor generation exists. No-op for frames
    * it didn't checkpoint and in localCheckpoint mode (executor-local
    * blocks are evicted by the block manager / GC'd with the RDD).
    */
  def retire(df: DataFrame): Unit = Option(owned.remove(df)).foreach { dirs =>
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    dirs.foreach { p => p.getFileSystem(conf).delete(p, true) }
  }
}
