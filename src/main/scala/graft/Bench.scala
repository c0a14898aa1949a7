package graft

/** Headline benchmark (SURVEY.md §6): one warm-up pass over every query,
  * then K=3 INTERLEAVED timed rounds (round 1 runs all queries in suite
  * order, then round 2, then round 3 — same JVM, same session). The
  * reported per-query number is the MIN across rounds: host contention only
  * ever adds time, so the min is the reproducible cost of the code, and
  * interleaving means a single contended window can inflate at most one
  * round of each query rather than every sample of one query (the failure
  * mode that flipped the r7 gate: identical code measured 27.6 s on a quiet
  * host and 45.4 s in the driver's run). Per-round times are emitted in the
  * JSON (`rounds`) so contention is visible in the artifact itself.
  * Timing is end-to-end plan execution (`count()` materializes the full
  * result without collecting it to the driver).
  *
  * SELF-DEFENDING ARTIFACT (r14, VERDICT r13 "Next round" #1 — the r13
  * artifact was contamination-poisoned: a contended window spanning whole
  * rounds defeated min-of-3, six queries read over the 2× gate on a host a
  * clean re-run measured at 1.24×): the artifact now records the evidence a
  * judge needs to tell contention from regression, and widens its own
  * sample when the evidence says the minimum is not yet trustworthy.
  *  - the 1-minute system load average is sampled before every round and at
  *    exit (`load_avg`): a load far above the benchmark's own footprint IS
  *    the contention signature, recorded in-artifact instead of recoverable
  *    only by a later re-run;
  *  - after the base rounds, any query whose within-artifact round spread
  *    (max/min) exceeds [[SpreadGate]] triggers EXTRA full interleaved
  *    rounds (up to [[MaxRounds]] total): a transient window inflates one
  *    round, so more rounds recover the true min;
  *  - if the spread still exceeds the gate at the round cap, the artifact
  *    flags `"contended": true` and names the offenders (`contended_queries`)
  *    — the gate record then says "this number is polluted, re-measure",
  *    never silently "this code got slower".
  */
object Bench {
  /** Per-query within-artifact round spread (max/min over successful
    * rounds) above which the min is presumed contention-polluted: clean
    * local runs spread ≤ ~1.4× (§4 pq_unpersist_blocking), so 3× is far
    * outside code-caused variance. */
  val SpreadGate = 3.0
  /** Hard cap on total interleaved rounds (base + adaptive extras). */
  val MaxRounds = 6

  /** Headline queries, each with its PINNED reference seconds at sf0.1 /
    * local[32] (SURVEY §6 BENCH_BASELINE). RE-PINNED in r7: the r6 pins for
    * the five families added that round did not reproduce on the same code
    * and host (ann_ivf_pq "1.0 s" measured 52 s — the pinning run was
    * invalid) and masked real many-small-jobs overhead that r7 then fixed
    * (joint PQ training, cached Lloyd, PageRank flag-carrying iterate).
    * These numbers are the per-query MIN of two complete back-to-back
    * `graft.Bench` runs on a quiet host after those fixes — min, not mean,
    * because host contention only ever adds time, so the min is the
    * reproducible cost of the code. Per-round regressions are judged
    * against these stored numbers, not against cross-round host noise.
    */
  private[graft] val headline: Seq[(String, Double)] = Seq(
    "q1_pricing_summary" -> 0.586, "q3_shipping_priority" -> 1.138,
    "q5_local_supplier" -> 1.098, "q6_forecast_revenue" -> 0.201,
    "q15_topk_orders" -> 0.170, "q16_time_bucket" -> 0.251,
    "dedup_exact" -> 0.249, "dedup_minhash_lsh" -> 0.967,
    "ngram_jaccard_pairs" -> 2.367, "embedding_cosine_topk" -> 0.301,
    "text_token_count" -> 0.128, "text_langid" -> 0.127,
    "upsert_merge" -> 0.307, "incremental_offset_read" -> 0.295,
    "pipeline_training_data" -> 0.577,
    "graph_pagerank" -> 5.160, "exact_substring_spans" -> 1.819,
    "interval_overlap_join" -> 0.687, "incremental_join_maintenance" -> 2.223,
    // NOTE (r12): the registered ann_ivf_pq is now the integer-quantized
    // oracle twin (same joint-Lloyd shape, quantization instead of
    // normalization) — it measures 0.4-0.5x this float-path pin; the pin is
    // kept unchanged (conservative) rather than re-pinned downward mid-round
    "ann_ivf_pq" -> 4.381,
    // r14 (VERDICT r13 "Next round" #8): standing perf accountability for
    // the two biggest post-r4 families. Pins = per-query MIN of THREE
    // back-to-back graft.Bench runs at sf0.1 (the r7 re-pin protocol;
    // spreads across the three runs were ≤ 1.3x for streaming_jdbc_ingest
    // and ≤ 1.06x for iceberg_export_incremental, 1-min load ≤ ~2 on a
    // 32-core box). Both are END-TO-END compositions, not scans:
    // streaming_jdbc_ingest stages Derby, runs the full ProcessingTime
    // poll-cycle stream (incl. the injected crash/restart + exactly-once
    // replay) and reads the committed table back; iceberg_export_incremental
    // builds a 3-commit chain, exports it, appends, re-exports
    // incrementally and reads back through the exported metadata.
    "streaming_jdbc_ingest" -> 32.820,
    "iceberg_export_incremental" -> 2.095,
    // r15 (VERDICT r14 "Next round" #7): bench breadth for the r14 families
    // — Snowflake VARIANT shredding and a second graph iterate. Pins = the
    // r7 protocol (per-query MIN of back-to-back quiet-host graft.Bench
    // runs); the pinning runs' rounds + load averages are committed in
    // BENCH_PINS.json (ask #9), not just asserted here.
    "variant_shred" -> 0.242,
    "graph_betweenness_sampled" -> 6.340,
    // r16 (VERDICT r15 "Next round" #8): the real-codec multimodal family
    // carries a standing pin — deterministic gray grid -> genuine PNG
    // encode -> ImageIO decode -> pixel aggregates, a pure per-row codec
    // projection (no shuffle). Pin = min of two back-to-back quiet-host
    // runs (load 1.6-1.9, zero adaptive rounds); provenance with per-round
    // samples + load averages in BENCH_PINS.json.
    "multimodal_decode_real" -> 0.785)

  /** Authoritative pins live in the committed BENCH_PINS.json artifact
    * (VERDICT r14 "Next round" #9): each pin carries the pinning run's
    * per-round times and load averages so pin provenance is auditable the
    * same way a round's run is. The compiled-in [[headline]] list above is
    * only the fallback when the artifact is absent (e.g. Bench invoked
    * outside the repo root), and the membership list stays in sync with it.
    */
  private[graft] def loadPins(): Seq[(String, Double)] = {
    // resolution is explicit-or-local ONLY (ADVICE r15): the env override,
    // else the working directory's artifact. No absolute host path — on
    // another machine that would silently judge regressions against a
    // different checkout's pins.
    val candidates =
      sys.env.get("SPARK_GRAFT_PINS").toSeq ++ Seq("BENCH_PINS.json")
    candidates.map(new java.io.File(_)).find(_.isFile) match {
      case Some(f) =>
        try {
          val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
          val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
          val it = root.get("pins").elements()
          while (it.hasNext) {
            val n = it.next()
            buf += (n.get("query").asText() -> n.get("sec").asDouble())
          }
          require(buf.nonEmpty, s"no pins in $f")
          buf.toSeq
        } catch {
          case e: Exception =>
            System.err.println(s"[bench] failed to read pins from $f (${e.getMessage}) — " +
              "falling back to compiled-in pins")
            headline
        }
      case None =>
        System.err.println("[bench] BENCH_PINS.json not found — using compiled-in fallback pins")
        headline
    }
  }

  /** 1-minute system load average (−1 where the JVM can't provide one). */
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** MEASUREMENT-HYGIENE FIX (r16, declared in OPTIMIZATION_r16.md): drop
    * every cached plan and persistent RDD after each query invocation.
    * Operators may persist REUSED intermediates within one action (a real
    * optimization), but Spark's CacheManager substitutes cached data into
    * ANY later plan with the same canonical form — so without this, round
    * N+1 of a query would silently read round N's cached intermediates
    * instead of recomputing from the parquet inputs (exactly the
    * cross-run caching the bench must not do), and the leaked blocks
    * degrade later queries in the shared JVM (storage-pool pressure).
    * Every timed round computes from parquet; rounds are independent. */
  def dropCaches(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs = SparkEntry.queries
    val baseRounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "3").toInt
    val maxRounds = math.max(baseRounds, MaxRounds)
    val present = loadPins().filter { case (n, _) => qs.contains(n) }
    // warm-up pass: JIT + codegen + file listing, untimed
    val alive = present.filter { case (name, _) =>
      try { qs(name)(spark, sfDir).count(); dropCaches(spark); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
    }.map(_._1).toSet
    // Interleaved timed rounds: full suite per round, per-query MIN
    // reported. A query that fails ANY round is reported failed outright
    // (-1, named, excluded from both totals) — min-of-surviving-rounds
    // would read an intermittently-crashing query as healthy.
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val roundFailed = scala.collection.mutable.Set.empty[String]
    val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
    def runRound(): Unit = {
      loads += loadAvg()
      for ((name, _) <- present if alive(name)) {
        try {
          val t0 = System.nanoTime()
          qs(name)(spark, sfDir).count()
          times(name) = times(name) :+ (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          roundFailed += name
          System.err.println(s"[bench] $name round failed: ${e.getMessage}")
        }
        dropCaches(spark) // untimed: rounds stay independent (see above)
      }
    }
    def spreadOf(name: String): Double = {
      val rs = times(name)
      if (rs.size < 2 || rs.min <= 0) 1.0 else rs.max / rs.min
    }
    def overGate: Seq[String] =
      present.map(_._1).filter(n => alive(n) && !roundFailed(n) && spreadOf(n) > SpreadGate)
    for (_ <- 1 to baseRounds) runRound()
    // adaptive widening: a >SpreadGate within-artifact spread means some
    // round of that query ran inside a contended window — the min is only
    // trustworthy once an uncontended round exists, so run more full
    // interleaved rounds (bounded) until the spread closes or the cap flags
    var extraRounds = 0
    while (overGate.nonEmpty && (baseRounds + extraRounds) < maxRounds) {
      System.err.println(s"[bench] spread > ${SpreadGate}x for " +
        s"${overGate.mkString(",")} — running an extra interleaved round")
      runRound()
      extraRounds += 1
    }
    val contendedQueries = overGate
    val contended = contendedQueries.nonEmpty
    loads += loadAvg()
    val results = present.map { case (name, base) =>
      val rs = times(name)
      val ok = rs.nonEmpty && !roundFailed(name)
      (name, if (ok) rs.min else -1.0, base, rs)
    }
    val qJson = results.map { case (k, v, _, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val bJson = results.map { case (k, _, b, _) => "\"" + k + "\":" + f"$b%.3f" }
      .mkString("{", ",", "}")
    val rJson = results.map { case (k, _, _, rs) =>
      "\"" + k + "\":" + rs.map(r => f"$r%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // both totals over the same set: a failed query (timed -1) contributes
    // to neither, so total-vs-baseline_total stays a like-for-like ratio;
    // the dropped queries are named so a shrunken comparison set is visible
    val ok = results.filter(_._2 >= 0)
    val total = ok.map(_._2).sum
    val baseTotal = ok.map(_._3).sum
    val failed = results.filter(_._2 < 0).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val loadJson = loads.map(l => f"$l%.2f").mkString("[", ",", "]")
    val contJson = contendedQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qJson,"baseline":$bJson,"baseline_total":$baseTotal%.3f,"rounds":$rJson,"failed":$failed,"load_avg":$loadJson,"extra_rounds":$extraRounds,"contended":$contended,"contended_queries":$contJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
