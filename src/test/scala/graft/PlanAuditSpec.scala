package graft

import graft.core._
import graft.operators.{Ann, PageRank}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan audits (SURVEY.md §4): filters and projections must reach
  * the parquet scans, small dimensions must broadcast, and the hot paths must
  * run inside WholeStageCodegen. These are the properties that decide whether
  * a plan survives a 100× scale-up, so they are asserted, not eyeballed. */
class PlanAuditSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The executed plans of EVERY SQL execution `body` runs, captured by a
    * QueryExecutionListener once the listener bus has drained. An operator
    * that materializes its result internally (localCheckpoint, iterate
    * checkpoints) runs its joins in those executions, not in the plan of
    * the frame it returns. */
  private def executedPlans(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.graft.TestShims.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    plans.toArray(Array.empty[String]).toSeq
  }

  /** Whether some plan runs a hash or sort-merge join whose first equi-join
    * key is the column `key`. */
  private def joinsOn(plans: Seq[String], key: String): Boolean = {
    val join = s"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[$key#".r
    plans.exists(join.findFirstIn(_).nonEmpty)
  }

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf("sf0.001"))

  test("dynamic partition pruning fires on a partitioned fact x filtered dim join") {
    // At 100 TB the fact table is partition-laid-out and the dim filter is
    // only known at run time — DPP is what keeps the scan from reading
    // every partition. Assert Spark actually plants the dynamicpruning
    // subquery in the fact scan's partition filters for our layout.
    // Two conditions this audit documents (both bit us while writing it):
    // the dim must be a real SCAN (a LocalRelation's filter constant-folds
    // away and DPP finds no filtering predicate), and the fact side must
    // read actual data columns (a partition-column-only scan is tiny and
    // gets chosen as the broadcast BUILD side, which disqualifies pruning).
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val p = "/tmp/graft_tables/dpp_audit"
    val dimP = "/tmp/graft_tables/dpp_dim"
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    fs.delete(new org.apache.hadoop.fs.Path(dimP), true)
    core.eventsTable(spark, sf("sf0.001"))
      .write.partitionBy("event_type").mode("overwrite").parquet(p)
    Seq(("click", 1L), ("view", 2L), ("purchase", 3L),
      ("signup", 4L), ("error", 5L)).toDF("event_type", "w")
      .write.mode("overwrite").parquet(dimP)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // the reuse-broadcast DPP path (the production shape)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
      val df = spark.read.parquet(p)
        .join(spark.read.parquet(dimP).filter($"w" <= 2), "event_type")
        .groupBy($"event_type").agg(sum($"value").as("s"))
      df.collect()
      val plan = planOf(df)
      assert(plan.contains("dynamicpruning"),
        "expected a dynamic-partition-pruning subquery in the fact scan:\n" +
          plan.take(4000))
      assert(plan.contains("SubqueryBroadcast") || plan.contains("dynamicpruning#"),
        plan.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q6 selective filter is pushed down to the parquet scan") {
    val plan = planOf(q("q6_forecast_revenue"))
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    // plan.toString truncates the filter list, so match the prefix
    assert(plan.contains("GreaterThanOrEqual(l_shipda") || plan.contains("GreaterThan(l_shipda"),
      "expected shipdate pushdown\n" + plan.take(2000))
  }

  test("q6 scan reads only the referenced columns") {
    val scan = planOf(q("q6_forecast_revenue"))
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // 4 referenced lineitem columns, not the full 16-column table
    assert(Seq("l_shipdate", "l_discount", "l_quantity", "l_extendedprice")
      .forall(scan.contains), scan)
    assert(!scan.contains("l_comment") && !scan.contains("l_orderkey"), scan)
  }

  test("q3 joins its dimension side via broadcast") {
    assert(planOf(q("q3_shipping_priority")).contains("BroadcastHashJoin"))
  }

  test("brute-force ANN broadcasts the query side (no shuffle of candidates)") {
    val emb = table(spark, sf("sf0.001"), "embeddings")
    val plan = planOf(Ann.bruteForceTopK(
      emb.filter(col("vec_id") < 10), emb.filter(col("vec_id") >= 10), 5))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("q1 aggregation runs inside WholeStageCodegen with partial aggregation") {
    val df = q("q1_pricing_summary")
    df.collect() // AQE: the final plan (with codegen stages) exists only after execution
    val plan = planOf(df)
    assert(plan.contains("*("), plan.take(3000)) // WholeStageCodegen stage marker
    // partial (map-side) aggregate before the shuffle
    assert(plan.contains("partial_sum"), plan.take(3000))
  }

  test("near-dup joins never degrade to cartesian products") {
    // each query's candidate join, by its first key: the shingle prefix
    // join, the (band, bucket|chunk) bucket joins, and the cluster self-join
    for ((name, key) <- Seq("ngram_jaccard_pairs" -> "shingle", "dedup_minhash_lsh" -> "band",
        "dedup_simhash" -> "band", "dedup_incremental" -> "band", "semantic_dedup" -> "cluster")) {
      val plans = executedPlans(q(name).collect())
      assert(joinsOn(plans, key), s"$name: no hash or sort-merge join on $key in " +
        s"${plans.size} executions")
      for (plan <- plans) {
        assert(!plan.contains("CartesianProduct"), s"$name has a cartesian product")
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name has a nested-loop join")
      }
    }
  }

  test("PPJoin never force-broadcasts the O(vocabulary) document-frequency table") {
    // dfreq has one row per distinct shingle — billions at corpus scale —
    // so the plan must not contain an unconditional broadcast of it. With no
    // hint, both sides of the dfreq join arrive hash-partitioned by shingle;
    // AQE may still auto-broadcast under the size threshold, which is the
    // legitimate (guarded) case. Assert by disabling auto-broadcast: any
    // remaining BroadcastHashJoin would be a forced hint.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plans = executedPlans(q("ngram_jaccard_pairs").collect()) // AQE-final plans
      assert(joinsOn(plans, "shingle"), s"no dfreq/prefix join in ${plans.size} executions")
      for (plan <- plans) {
        assert(!plan.contains("BroadcastHashJoin"),
          "forced broadcast survives autoBroadcastJoinThreshold=-1:\n" + plan.take(3000))
        assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed join is exchange-free on the join itself") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so co-location is the ONLY way to avoid a shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = q("bucketed_join_agg")
      df.collect()
      // AQE's toString appends an "== Initial Plan ==" section that repeats
      // every operator — count exchanges in the FINAL plan only
      val plan = planOf(df).split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan.take(2000))
      assert(plan.contains("Bucketed: true"), "scan is not bucketed\n" + plan.take(3000))
      // exactly one exchange: the final group-by; the join reads co-located buckets
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected only the agg exchange, got $exchanges\n" + plan.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("upsert resolves to a broadcast anti join for a small update batch") {
    val df = q("upsert_merge")
    df.collect() // AQE finalizes join strategies at runtime
    val plan = planOf(df)
    assert(plan.contains("LeftAnti"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("sharded page read shuffles exactly once (the keyBy analogue)") {
    val plan = planOf(q("sharded_page_read"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges\n" + plan.take(3000))
  }

  test("offset page read group-limits BELOW the shuffle (bounded rows per shard)") {
    // The per-shard rank bound (max offset + pageSize) is a plan-time
    // constant, so InferWindowGroupLimit must plant a partial
    // WindowGroupLimit on the MAP side of the window's exchange: each
    // scan task forwards only its top-bound rows per shard and the shuffle
    // carries O(shards · bound) rows however large the table is (r12 —
    // before this, incremental_offset_read shuffled the full scan and sat
    // 1.4× over its bench pin).
    for (name <- Seq("incremental_offset_read", "sharded_page_read")) {
      val plan = planOf(q(name))
      val limits = "WindowGroupLimit".r.findAllIn(plan).size
      assert(limits >= 2, s"$name: expected a partial+final WindowGroupLimit " +
        s"pair, found $limits\n" + plan.take(3000))
      val partialFirst = plan.indexOf("Partial") // partial mode printed on the map-side op
      assert(partialFirst >= 0, s"$name: no Partial WindowGroupLimit\n" + plan.take(3000))
    }
  }

  test("bloom prefilter probes inside the scan stage and preserves the exact join") {
    import org.apache.spark.sql.functions.col
    val dir = sf("sf0.001")
    val dim = table(spark, dir, "customer")
      .filter(col("c_mktsegment") === "AUTOMOBILE")
      .select(col("c_custkey"))
    val fact = table(spark, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
    val bf = graft.operators.BloomJoin.buildFilter(dim, "c_custkey", 10000L)
    val filtered = graft.operators.BloomJoin.prefilter(fact, "o_custkey", bf)
    // no false negatives: the prefilter keeps every row that actually joins
    val plainJoin = fact.join(dim, col("o_custkey") === col("c_custkey"))
    val bloomJoin = filtered.join(dim, col("o_custkey") === col("c_custkey"))
    assert(bloomJoin.count() == plainJoin.count())
    // the probe actually prunes: AUTOMOBILE customers are a strict subset
    val (nAll, nKept) = (fact.count(), filtered.count())
    assert(nKept < nAll, s"bloom kept all $nAll rows")
    // join result at 1% fpp keeps the superset tight (not a no-op filter)
    assert(nKept < nAll / 2, s"bloom kept $nKept of $nAll - filter not selective")
    // plan shape: the probe is a codegen'd Filter upstream of any exchange
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("bloommightcontain") || plan.contains("BloomMightContain"),
      plan.take(2000))
    assert(!plan.contains("Exchange"), "prefilter must not shuffle\n" + plan.take(2000))
  }

  test("bloom build refuses dimension sides past the memory cap") {
    val dim = table(spark, sf("sf0.001"), "customer").select(col("c_custkey"))
    intercept[IllegalArgumentException] {
      graft.operators.BloomJoin.buildFilter(dim, "c_custkey", 1000000000L)
    }
  }

  test("z-order layout tightens per-file ranges on BOTH columns vs single-column clustering") {
    import org.apache.spark.sql.functions.{input_file_name, max => smax, min => smin, avg}
    val o = table(spark, sf("sf0.001"), "orders")
      .select(col("o_custkey"), col("o_orderkey"))
    def avgSpans(layout: org.apache.spark.sql.DataFrame, dir: String): (Double, Double) = {
      layout.write.mode("overwrite").parquet(dir)
      val per = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((smax("o_custkey") - smin("o_custkey")).as("ck"),
          (smax("o_orderkey") - smin("o_orderkey")).as("ok"))
        .agg(avg("ck"), avg("ok")).head()
      (per.getDouble(0), per.getDouble(1))
    }
    val zed = graft.operators.ZOrderLayout.cluster(o, "o_custkey", "o_orderkey", 8)
    val linear = o.repartitionByRange(8, col("o_custkey")).sortWithinPartitions(col("o_custkey"))
    val (zCk, zOk) = avgSpans(zed, "/tmp/graft_tables/spec_zorder_z")
    val (lCk, lOk) = avgSpans(linear, "/tmp/graft_tables/spec_zorder_l")
    val g = o.agg(
      (smax("o_custkey") - smin("o_custkey")).as("a"),
      (smax("o_orderkey") - smin("o_orderkey")).as("b")).head()
    val (gCk, gOk) = (g.getLong(0), g.getLong(1))
    // single-column clustering leaves the OTHER column's span near-global...
    assert(lOk > gOk * 0.8, s"linear layout should not cluster o_orderkey (got $lOk of $gOk)")
    // ...z-order tightens BOTH dimensions well below global span
    assert(zCk < gCk * 0.6 && zOk < gOk * 0.6,
      s"z-order spans too wide: custkey $zCk/$gCk orderkey $zOk/$gOk")
  }

  test("bucketed range join never degrades to a nested-loop/cartesian plan") {
    // q19's broadcast-NL is fine for a 3-row band table; range_join_bucketed
    // is the large-interval-table path, so its join must be an equi-join on
    // the grid cell even with broadcast disabled.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = q("range_join_bucketed")
      df.collect() // AQE-final plan
      val plan = planOf(df).split("== Initial Plan ==").head
      assert(!plan.contains("CartesianProduct"), plan.take(3000))
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("spatial distance join stays a cell-keyed equi-join with broadcast disabled") {
    // the 2-D grid join must never fall back to the N² nested loop its
    // oracle replays — even when the broadcast path is off, the join is
    // an equi-join on (cx, cy)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = q("spatial_distance_join")
      df.collect()
      val plan = planOf(df).split("== Initial Plan ==").head
      assert(!plan.contains("CartesianProduct"), plan.take(3000))
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("exact-substring dedup joins by gram only — no cartesian, no nested loop") {
    val plans = executedPlans(q("exact_substring_spans").collect())
    for (plan <- plans) {
      assert(!plan.contains("CartesianProduct"), plan.take(3000))
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    }
    // r15: the one corpus-sized shuffle is keyed by the 128-bit gram HASH
    // (two xxhash64 lanes), not the n-token gram string — 16-byte wire keys
    assert(joinsOn(plans, "h1"), s"no gram-hash join in ${plans.size} executions")
    assert(plans.exists(_.contains("xxhash64")), plans.mkString("\n").take(3000))
  }

  test("real-codec decode rows are pure projections: no shuffle before the output sort (r15)") {
    // PngEncode/ImageDecode (and the WAV pair) run per-row inside the scan
    // projection — the ONLY exchange either plan may carry is the final
    // orderBy's range partitioning; a hash exchange would mean the codec
    // path picked up a join or aggregate it does not need.
    for (name <- Seq("multimodal_decode_real", "multimodal_audio_decode_real")) {
      val plan = planOf(q(name))
      assert(!plan.contains("Exchange hashpartitioning"), s"$name:\n${plan.take(3000)}")
      assert(!plan.contains("CartesianProduct"), name)
    }
  }

  test("triangle counting is equi-joins only (an OR-of-orientations close would be a nested loop)") {
    val plans = executedPlans(q("graph_triangles").collect())
    assert(joinsOn(plans, "s"), s"no wedge join in ${plans.size} executions")
    for (plan <- plans) {
      assert(!plan.contains("CartesianProduct"), plan.take(3000))
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    }
  }

  test("PageRank's staged edge side is exchanged and sorted once per run, not per iteration") {
    // eDeg is staged partitioned + sorted by src (Checkpointer.staged); if
    // the checkpoint lost that layout, every iteration's sort-merge scatter
    // join would add an Exchange and a Sort above the edge scan
    import org.apache.spark.sql.execution.{RDDScanExec, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    val ring = (0L until 40L).flatMap(i => Seq((i, (i + 1) % 40), (i, (i + 7) % 40)))
      .toDF("src", "dst") // every node has out-edges: the lazy dangling-free loop
    def edgeScan(p: SparkPlan): Boolean = p match {
      case s: RDDScanExec => s.output.exists(_.name == "deg")
      case _: ShuffleExchangeExec | _: SortExec => false
      case o => o.children.size == 1 && edgeScan(o.children.head)
    }
    def edgeSide(iters: Int): (Int, String) = {
      val plan = PageRank.run(ring, iters).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      (plan.collect { case x @ (_: ShuffleExchangeExec | _: SortExec) if edgeScan(x.children.head) => x }
        .size, plan.toString)
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // sort-merge joins
      val (two, plan2) = edgeSide(2)
      val (four, _) = edgeSide(4)
      assert(plan2.contains("SortMergeJoin"), plan2.take(3000))
      assert(four == two, s"edge-side Exchange/Sort: $two at iters=2, $four at iters=4")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned readback prunes partitions at the source") {
    val plan = planOf(q("partitioned_write_readback"))
    // identity-partitioned parquet: the partition filter must not appear as
    // a post-scan Filter on the partition column
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("PartitionFilters: \\[[^\\]]*\\]", "")
        .linesIterator.filter(_.contains("Filter "))
        .forall(!_.contains("o_orderpriority")), plan.take(3000))
  }

  test("ranked retrieval tops out as TakeOrderedAndProject, postings filtered pre-shuffle") {
    val df = q("ranked_retrieval")
    df.collect() // AQE-final plan
    val plan = planOf(df).split("== Initial Plan ==").head
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    // the query-term IN filter runs before the tf/df aggregation exchanges
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("edit-distance join is a variant-keyed equi-join — no cartesian, no nested loop") {
    val plan = planOf(q("edit_distance_join"))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("co-occurrence top-50 runs as TakeOrderedAndProject (no global sort)") {
    val df = q("co_occurrence_pairs")
    df.collect()
    val plan = planOf(df).split("== Initial Plan ==").head
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("window suite shares one exchange+sort across all four window functions") {
    val df = q("window_functions_suite")
    df.collect()
    val plan = planOf(df).split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 shuffle for the shared window order, got $exchanges\n" + plan.take(3000))
    val sorts = "Sort \\[".r.findAllIn(plan).size
    assert(sorts <= 2, s"expected the window sort (+ output order) only, got $sorts\n" + plan.take(3000))
  }

  test("temporal join broadcasts the dim; the fact side never shuffles") {
    // The batch shape of streaming_temporal_join's per-batch join: user_id
    // equality must drive a BroadcastHashJoin with the interval containment
    // as the residual condition. A SortMergeJoin (fact shuffle) or a
    // nested-loop (equality lost to the residual) would not survive a
    // 100 TB fact stream.
    import org.apache.spark.sql.expressions.Window
    val ev = eventsTable(spark, sf("sf0.001"))
    val dimW = Window.partitionBy(col("dim_user"))
      .orderBy(col("valid_from_us"), col("dim_version"))
    val dim = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("dim_user"), col("event_id").as("dim_version"),
        micros(col("ts")).as("valid_from_us"), col("value").as("dim_value"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(dimW))
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), micros(col("ts")).as("ts_us"))
    val joined = facts.join(broadcast(dim),
      facts("user_id") === dim("dim_user") &&
        facts("ts_us") >= dim("valid_from_us") &&
        (dim("valid_to_us").isNull || facts("ts_us") < dim("valid_to_us")),
      "left_outer")
    joined.collect()
    val plan = planOf(joined)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("delta-join IVM keeps every delta join an equi-join") {
    val plan = planOf(q("incremental_join_maintenance"))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("sparse cosine join stays on the shingle inverted index — no cartesian, no nested loop") {
    val df = q("sparse_cosine_join")
    df.collect()
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // the dot-product reduction pre-aggregates map-side before its exchange
    assert(plan.contains("partial_sum") || plan.contains("partial_count"), plan.take(3000))
  }

  test("corr_matrix computes every pair from ONE aggregation over ONE scan") {
    val df = q("corr_matrix")
    df.collect()
    val plan = planOf(df)
    // one lineitem scan feeding a shared aggregate; the three pair
    // projections expand from it (explode), not three union branches.
    // AQE's toString appends an "== Initial Plan ==" copy — count final only.
    val finalPlan = plan.split("== Initial Plan ==").head
    val scans = finalPlan.linesIterator.count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scans == 1, s"expected 1 lineitem scan, got $scans\n" + plan.take(3000))
    assert(plan.contains("ReusedExchange") || plan.contains("partial_sum"), plan.take(3000))
  }

  test("sliding_distinct joins its day dimension via broadcast (no per-day state, no range window)") {
    val df = q("sliding_distinct")
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("Window"), "expansion trick must not fall back to a window\n" + plan.take(3000))
  }

  test("changepoint_cusum windows only the pre-aggregated daily series") {
    val df = q("changepoint_cusum")
    df.collect()
    val plan = planOf(df)
    // the heavy reduction (groupBy day) happens BEFORE the single-partition
    // window: a partial aggregate must appear, and the window's exchange is
    // a SinglePartition over O(days) rows, never raw orders
    assert(plan.contains("partial_sum"), plan.take(3000))
    assert(plan.contains("Window"), plan.take(3000))
  }

  test("ohlc_bars folds open/close into ONE hash aggregate — no per-bucket window sort") {
    val df = q("ohlc_bars")
    df.collect()
    val plan = planOf(df)
    assert(!plan.contains("Window"), "arg-extrema must not fall back to a window\n" + plan.take(3000))
    // partial (map-side) min_by/max_by before the (type, day) exchange
    assert(plan.contains("partial_min") || plan.contains("partial_max"), plan.take(3000))
    val finalPlan = plan.split("== Initial Plan ==").head
    val scans = finalPlan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected 1 events scan, got $scans\n" + plan.take(3000))
  }

  test("golden_record survivorship is ONE aggregate pass — no per-column self-joins") {
    val df = q("golden_record")
    df.collect()
    val plan = planOf(df)
    val finalPlan = plan.split("== Initial Plan ==").head
    val scans = finalPlan.linesIterator.count(l => l.contains("FileScan parquet") && l.contains("orders"))
    assert(scans == 1, s"expected 1 orders scan, got $scans\n" + plan.take(3000))
    assert(!finalPlan.contains("Join"), "per-column recency must not join\n" + plan.take(3000))
    assert(plan.contains("partial_max"), plan.take(3000))
  }

  test("association_rules joins per-part counts broadcast; pair join stays equi") {
    val df = q("association_rules")
    df.collect()
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // top-100 must not materialize a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("time_weighted_avg windows raw events but aggregates before emission") {
    val df = q("time_weighted_avg")
    df.collect()
    val plan = planOf(df)
    // one sort per type partition for lead(), then partial-aggregated stats
    assert(plan.contains("Window"), plan.take(3000))
    assert(plan.contains("partial_sum"), plan.take(3000))
  }

  test("salted join spreads the key space: join keys include the salt, dim " +
    "replicates via explode, aggregation is partial before the exchange") {
    val df = q("salted_join_agg")
    df.collect()
    val plan = planOf(df)
    // the join must be keyed by (key, salt) — the salt IS the skew dissolver
    assert(plan.contains("__salt"), plan.take(3000))
    // dim replication is a generator (explode of the salt sequence), never a
    // cartesian with a salt-range table
    assert(plan.contains("Generate explode"), plan.take(3000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // map-side combine before the segment exchange: the post-join aggregate
    // shrinks to O(groups) per task regardless of how hot any key was
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      plan.take(3000))
  }

  test("anomaly_zscore broadcasts the O(series) stats frame and never sorts the scan") {
    val df = q("anomaly_zscore")
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // the design claim: no window, so no per-partition sort on the scan side
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      plan.take(3000))
  }

  test("link prediction stays equi-join end to end (wedges, anti-join, degrees)") {
    val df = q("graph_link_prediction")
    df.collect()
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // top-100 with a deterministic order must not global-sort the candidates
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("clamped_running_balance has no Window operator (fold, not window sum)") {
    val df = q("clamped_running_balance")
    df.collect()
    val plan = planOf(df)
    assert(!plan.contains("Window"), plan.take(3000))
    // per-key fold = one hash aggregate exchange, partial where possible
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate") ||
      plan.contains("HashAggregate"), plan.take(3000))
  }

  test("shingle_novelty's attribution join is co-partitioned on the shingle key") {
    val df = q("shingle_novelty")
    df.collect()
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // exactly two shingle-keyed exchanges per plan: the (doc_id, g)
    // distinct and the g-keyed min-doc aggregate — the join back adds NO
    // further shuffle (broadcast here, g-co-partitioned at scale). The AQE
    // plan string prints the final AND initial plans, so each appears
    // twice; more than 4 would mean the join added an unkeyed reshuffle.
    val gExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && l.contains("g#"))
    assert(gExchanges <= 4, s"expected <=4 shingle-keyed exchange prints, got $gExchanges\n" +
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("vwap_bars is one partial-aggregating pass reading only 4 columns") {
    val df = q("vwap_bars")
    df.collect()
    val plan = planOf(df)
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.contains("partial_sum") || plan.contains("partial"), plan.take(3000))
    val scan = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(Seq("l_shipdate", "l_returnflag", "l_extendedprice", "l_quantity")
      .forall(scan.contains), scan)
    assert(!scan.contains("l_partkey") && !scan.contains("l_orderkey"), scan)
  }

  test("max_drawdown stacks both windows over ONE per-user sort") {
    val df = q("max_drawdown")
    df.collect()
    val plan = planOf(df)
    // the two window functions (running sum, running max) must share a
    // single sort: exactly one Sort node keyed by (user_id, ts, event_id)
    val sorts = plan.linesIterator.count(l => l.trim.startsWith("Sort ") ||
      l.contains("+- Sort "))
    assert(sorts <= 2, s"expected the windows to share one sort (<=2 prints incl AQE), got $sorts\n" +
      plan.linesIterator.filter(_.contains("Sort")).mkString("\n"))
  }

  test("equi_depth_histogram has no single-partition window") {
    val df = q("equi_depth_histogram")
    df.collect()
    val plan = planOf(df)
    assert(!plan.contains("Window"), "global rank must come from GlobalOrder, " +
      "not row_number over an empty partition:\n" + plan.take(3000))
  }

  test("t_closeness broadcasts every O(bands)/O(groups) side") {
    val df = q("t_closeness")
    df.collect()
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the only non-broadcast exchanges allowed are the (QI, band) aggregate
    // ones — the dense-grid, global-cum and total joins all ride broadcast
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(3000))
  }

  test("target_encode_smoothed joins orders->customer broadcast and folds once") {
    val df = q("target_encode_smoothed")
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("graph_hits iterations never collect: plan is joins + aggregates only") {
    val df = q("graph_hits")
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("tolerance-bounded as-of queries run on the NATIVE exec, no Window") {
    // r8: asof_join_tolerance and attribution_last_touch route through
    // plans.AsOfJoinExec with the bound in the merge loop — the plan must
    // carry the custom node and no window fallback anywhere
    for (name <- Seq("asof_join_tolerance", "attribution_last_touch")) {
      val plan = planOf(q(name))
      assert(plan.contains("AsOfJoin ["), s"$name missing native exec\n" + plan.take(3000))
      assert(!plan.contains("Window"),
        s"$name fell back to the union+window encoding\n" + plan.take(3000))
    }
  }

  test("q13_custdist second aggregate runs on O(distinct counts) rows") {
    val df = q("q13_custdist")
    df.collect()
    val plan = planOf(df)
    // outer join + both aggregates partial-combine before their exchanges
    assert(plan.contains("partial_count"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("seasonal_decompose windows the DAILY aggregate, not the raw events") {
    val df = q("seasonal_decompose")
    df.collect()
    val plan = planOf(df)
    // the Window's child must be the (event_type, day) aggregate — the scan
    // side aggregates BEFORE any window touches it
    val lines = plan.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window"))
    assert(winIdx >= 0, plan.take(3000))
    assert(lines.drop(winIdx).exists(_.contains("HashAggregate")),
      "window must sit above the daily aggregate\n" + plan.take(3000))
    // per-dow seasonal means join back broadcast (O(series×7) rows)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("multimodal_phash joins the DCT basis broadcast; one doc-keyed aggregate (r13)") {
    val df = q("multimodal_phash")
    df.collect()
    val plan = planOf(df)
    // the 1984-row basis must broadcast into the exploded block rows
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      plan.take(3000))
    // (doc, k) coefficients partial-combine before the exchange
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"),
      plan.take(3000))
  }

  test("mmr greedy rounds read checkpointed blocks, never re-scan the corpus (r13)") {
    val df = q("mmr_diversified_topk")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val plan = planOf(df)
    // the final plan unions checkpointed per-round picks: ExistingRDD scans,
    // no cartesian anywhere (the one crossJoin ran inside the truncated
    // shortlist lineage, not in the emitted plan)
    assert(plan.contains("ExistingRDD") || plan.contains("LocalTableScan"),
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("dtw runs the DP inside mapPartitions — no wavefront joins (r13)") {
    val df = q("dtw_series_distance")
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("MapPartitions"), plan.take(3000))
    // the only join is the tiny k x k pair build; no exchange after it
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("croston folds per key after ONE series exchange (the holt shape) (r13)") {
    val df = q("croston_intermittent")
    val plan = planOf(df)
    assert(plan.contains("MapPartitions"), plan.take(3000))
    assert(plan.contains("hashpartitioning(_1"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }
}
