package graft.operators

import graft.core.withPersisted
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over a directed edge list — the iterative graph
  * primitive behind link-quality scoring of a crawl corpus (the classic
  * pre-training data-curation signal) and influence ranking over any
  * entity-interaction graph.
  *
  * Arithmetic is SCALED-INTEGER end to end: ranks are units of
  * `scale = 10^12` mass, contributions are `rank DIV outdeg`, and the
  * damping step is `(15·(scale DIV n)) DIV 100 + (85·inflow) DIV 100`.
  * Integer sums are order-independent, so the result is bit-exact however
  * Spark schedules the aggregation — the same determinism discipline as the
  * money aggregates (core.moneyE), and what makes the query oracle-checkable
  * against an unrolled SQL replay (floating-point PageRank would drift with
  * reduction order on both engines).
  *
  * Scale shape per iteration (the canonical distributed PageRank):
  *  - contributions: edges ⋈ ranks keyed by src — one shuffle by src (the
  *    edge table is pre-joined with out-degrees ONCE and checkpointed, so
  *    the degree join is not repaid per iteration);
  *  - inflow: groupBy dst with partial aggregation — one shuffle by dst;
  *  - dangling mass (nodes with no out-edges): one O(1) scalar aggregate
  *    over the in-memory iterate, re-entered as a broadcast one-row side —
  *    the r8 A/B winner over a per-iteration driver collect (the broadcast
  *    stage overlaps the inflow shuffle inside one job; the collect blocks
  *    between two jobs — SURVEY §4);
  *  - ranks are checkpointed per iteration to truncate lineage
  *    ([[Checkpointer]]: executor-local by default, reliable when a
  *    `checkpointDir` is given — the executor-loss-safe cluster mode).
  * Nothing driver-side ever exceeds O(1) per iteration; at 100 TB the two
  * shuffles per iteration are the whole cost, and AQE coalesces/skew-splits
  * them like any other keyed exchange.
  */
object PageRank {

  /** @param edges (src: long, dst: long); duplicates are collapsed.
    * @return (node: long, rank_scaled: long) — ranks in units of 10^-12 of
    *         the total mass `scale`, every node present.
    */
  def run(edges: DataFrame, iters: Int, scale: Long = 1000000000000L,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val ckpt = new Checkpointer(checkpointDir)
    val shufflePartitions = edges.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    // Setup frames: only the two the LOOP re-reads (eDeg, base) are
    // checkpointed; `e` is a persisted intermediate the two
    // materializations share, released before the loop starts. (r11: the r10
    // shape checkpointed e/nodes/eDeg/ranks separately — 4 eager
    // materializations whose job-scheduling overhead, not shuffle volume,
    // dominated the sf0.1 bench.)
    val (eDeg, base) = withPersisted(edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")).distinct()) { e =>
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      // (src, dst, deg) staged once — iterations re-scan it, never re-join it.
      // Pre-partitioned BY THE JOIN KEY and pre-sorted within partitions, and
      // checkpointed through [[Checkpointer.staged]] (r17): under AQE a plain
      // checkpoint records UnknownPartitioning(0), so r16's plan still
      // exchanged AND sorted this side in EVERY iteration
      // (plans/r16/graph_pagerank_after.txt). With the layout actually carried
      // into the LogicalRDD, the edge table (the big side at 100 TB) is
      // shuffled and sorted once per RUN, not once per iteration.
      val eDeg = ckpt.staged(e.join(deg, "src")
        .repartition(shufflePartitions, col("src"))
        .sortWithinPartitions("src"))
      // Static per-node frame (node, is_dang): every iteration's update join
      // reads THIS — not the previous iterate — so the iterate is referenced
      // exactly once per round (see the loop). Partitioned by node: both the
      // scatter join (src = node) and the update join (node = dst) find it
      // pre-distributed.
      val base = ckpt.staged(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .join(deg.select(col("src").as("node"), lit(1).as("has_out")), Seq("node"), "left")
        .select(col("node"), col("has_out").isNull.as("is_dang"))
        .repartition(shufflePartitions, col("node"))
        .sortWithinPartitions("node")) // pre-sorted for the update join, as eDeg
      (eDeg, base)
    }
    // Dangling-freeness is a STATIC graph property (the dangling set never
    // changes across iterations), so decide it ONCE: a graph where every
    // node has an out-edge (e.g. any symmetric graph) carries zero dangling
    // mass in every iteration, and the per-iteration dangling aggregate +
    // broadcast re-entry drop out of the loop entirely — one aggregate per
    // round instead of two (the r9 pagerank job-count cut). Fused with the
    // node count into ONE aggregate job over the just-checkpointed base
    // (r16 — two separate jobs repaid scheduling overhead for one scan).
    val nRow = base.agg(count(lit(1)),
      sum(when(col("is_dang"), 1L).otherwise(0L))).head
    val n = nRow.getLong(0)
    val init = scale / n // integer floor division, mirrored by `scale // n`
    val hasDang = nRow.getLong(1) > 0L
    if (!hasDang) {
      // Dangling-free fast path (r11): each iteration references the
      // previous iterate ONCE (the scatter join) and rebuilds the node set
      // from the static `base`, so the whole loop is a LINEAR lazy chain —
      // no per-iteration materialization, no per-iteration job scheduling;
      // Spark executes all `iters` rounds as one multi-stage query with one
      // shuffle per round (the inflow groupBy — eDeg and base are
      // pre-partitioned on their join keys). Lineage is truncated every
      // `ckptEvery` rounds so a deep iterate can't blow up the plan; values
      // are integer-exact either way. Measured (sf0.1, local[32], QTime
      // min): 10.9 s → see SURVEY §4 pagerank_lazy_ab.
      val ckptEvery = 8
      var ranks = base.select(col("node"), lit(init).as("r"))
      var lastCkpt: Option[DataFrame] = None
      for (i <- 1 to iters) {
        val inflow = eDeg.join(ranks, eDeg("src") === ranks("node"))
          .select(col("dst"), expr("r DIV deg").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("infl"))
        ranks = base.join(inflow, base("node") === inflow("dst"), "left")
          .select(base("node"),
            expr(s"CAST(${(15L * init) / 100L} AS BIGINT) + " +
              "(85 * coalesce(infl, CAST(0 AS BIGINT))) DIV 100").as("r"))
        if (i % ckptEvery == 0 && i < iters) {
          ranks = ckpt(ranks)
          lastCkpt.foreach(ckpt.retire) // superseded truncation point
          lastCkpt = Some(ranks)
        }
      }
      return ranks.select(col("node"), col("r").as("rank_scaled")).orderBy("node")
    }
    // Dangling path: the iterate is read twice per round (scatter + the
    // dangling-mass aggregate), so each round stays eagerly checkpointed —
    // a lazy chain would recompute the full lineage per reference.
    var ranks = ckpt(base.select(col("node"), lit(init).as("r"), col("is_dang")))
    for (_ <- 1 to iters) {
      // dangling mass: rank held by nodes with no out-edges, redistributed
      // uniformly — a one-row aggregate re-entered as a broadcast side (the
      // r8 A/B winner over a per-iteration driver collect, SURVEY §4)
      val inflow = eDeg.join(ranks, eDeg("src") === ranks("node"))
        .select(col("dst"), expr("r DIV deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("infl"))
      val prev = ranks
      val updated = ranks.join(inflow, ranks("node") === inflow("dst"), "left")
      val dang = ranks.filter(col("is_dang"))
        .agg(coalesce(sum(col("r")), lit(0L)).as("dang"))
      ranks = ckpt(updated.crossJoin(broadcast(dang))
        .select(ranks("node"),
          expr(s"CAST(${(15L * init) / 100L} AS BIGINT) + " +
            s"(85 * (coalesce(infl, CAST(0 AS BIGINT)) + dang DIV CAST($n AS BIGINT))) DIV 100")
            .as("r"),
          ranks("is_dang")))
      ckpt.retire(prev) // superseded iterate: files dead once ranks exists
    }
    ranks.select(col("node"), col("r").as("rank_scaled")).orderBy("node")
  }

  /** PERSONALIZED PageRank (random walk with restart): the teleport mass —
    * and the dangling mass — return only to the `sources` set instead of
    * uniformly to every node, so ranks measure proximity to the seeds (the
    * recommendation / local-community primitive). Same scaled-integer
    * discipline and per-iteration shape as [[run]]: two keyed shuffles, an
    * O(1) dangling scalar, [[Checkpointer]] lineage truncation; the only new
    * plan element is a broadcast-sized `is_src` flag join (|S| rows).
    *
    * Sources not present in the edge set are ignored (mirroring the SQL
    * replay, which intersects the seed predicate with `nodes`).
    *
    * @return (node, rank_scaled): units of 10^-12 of the restart mass; nodes
    *         unreachable from the sources rank 0.
    */
  def personalized(edges: DataFrame, sources: DataFrame, iters: Int,
      scale: Long = 1000000000000L,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val ckpt = new Checkpointer(checkpointDir)
    val shufflePartitions = edges.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val e = ckpt(edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .distinct())
    val nodes = ckpt(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // Staged like [[run]]'s eDeg (r17): partitioned+sorted by the scatter
    // key and checkpointed with the layout actually carried into the
    // LogicalRDD ([[Checkpointer.staged]]), so the edge side of every
    // iteration's join is neither re-exchanged nor re-sorted.
    val eDeg = ckpt.staged(e.join(deg, "src")
      .repartition(shufflePartitions, col("src"))
      .sortWithinPartitions("src"))
    val srcs = ckpt(sources.select(col("node").cast("long").as("node")).distinct()
      .join(nodes, Seq("node"), "left_semi"))
    val m = srcs.count()
    require(m >= 1, "no source node present in the graph")
    val init = scale / m
    val tele = (15L * init) / 100L

    // Both static per-node flags (is_src: teleport target; is_dang: no
    // out-edges) ride in the iterate itself — no per-iteration lookup joins,
    // same shape as [[run]].
    var ranks = ckpt(nodes
      .join(srcs.withColumn("s", lit(1)), Seq("node"), "left")
      .join(deg.select(col("src").as("node"), lit(1).as("has_out")), Seq("node"), "left")
      .select(col("node"),
        when(col("s").isNotNull, lit(init)).otherwise(lit(0L)).as("r"),
        col("s").isNotNull.as("is_src"),
        col("has_out").isNull.as("is_dang")))
    // static dangling-freeness check, once — see [[run]]
    val hasDang = ranks.filter(col("is_dang")).limit(1).count() > 0
    for (_ <- 1 to iters) {
      val inflow = eDeg.join(ranks, eDeg("src") === ranks("node"))
        .select(col("dst"), expr("r DIV deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("infl"))
      val prev = ranks
      ranks = ckpt(if (!hasDang) {
        ranks.join(inflow, ranks("node") === inflow("dst"), "left")
          .select(ranks("node"),
            expr(s"CASE WHEN is_src THEN CAST($tele AS BIGINT) " +
              "ELSE CAST(0 AS BIGINT) END + " +
              "(85 * coalesce(infl, CAST(0 AS BIGINT))) DIV 100").as("r"),
            ranks("is_src"), ranks("is_dang"))
      } else {
        // same broadcast one-row dangling mechanics as [[run]] (r8 A/B
        // winner): the scalar's stage overlaps the inflow shuffle in one job
        val dang = ranks.filter(col("is_dang"))
          .agg(coalesce(sum(col("r")), lit(0L)).as("dang"))
        ranks.join(inflow, ranks("node") === inflow("dst"), "left")
          .crossJoin(broadcast(dang))
          .select(ranks("node"),
            expr(s"CASE WHEN is_src THEN CAST($tele AS BIGINT) " +
              "ELSE CAST(0 AS BIGINT) END + " +
              s"(85 * (coalesce(infl, CAST(0 AS BIGINT)) + " +
              s"CASE WHEN is_src THEN dang DIV CAST($m AS BIGINT) " +
              "ELSE CAST(0 AS BIGINT) END)) DIV 100").as("r"),
            ranks("is_src"), ranks("is_dang"))
      })
      ckpt.retire(prev)
    }
    ranks.select(col("node"), col("r").as("rank_scaled")).orderBy("node")
  }
}
