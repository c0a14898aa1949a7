package graft.tools

import graft.GraftSession
import graft.operators.NearDup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling validation for the banded near-dup paths: replicate the sf0.1
  * documents table K× with a per-replica word prefix (`x<k>foo x<k>bar …`),
  * which keeps every replica's shingle vocabulary DISJOINT from the others —
  * cross-replica Jaccard is exactly 0, so the true pair set (and the pair
  * density per document) is constant per replica and the ideal runtime is
  * LINEAR in K. A quadratic path (all-pairs, or candidate blowup through hot
  * shingles) would show t(K)/t(1) ≈ K²; the banded paths must stay ≈ K.
  *
  * Usage: `runMain graft.tools.ScaleBench [sfDir] [outDir]`. Prints one JSON
  * line per (query, K) with seconds and result rows, then a summary line with
  * the growth ratios. Results are recorded in SURVEY.md §4.
  */
object ScaleBench {

  private def scaled(docs: DataFrame, k: Int): DataFrame = {
    val n = 1000000L
    (0 until k).map { r =>
      // LETTER-ONLY replica prefix (za, zb, …): the shingle tokenizer keeps
      // only [a-z] runs, so a digit in the prefix would split off and leave
      // every replica sharing the same tokens — i.e. 10 near-identical copies
      // of each doc and a quadratic pair blowup, the opposite of the intended
      // disjoint-vocabulary scaling.
      // two tag letters support K up to 676 replicas (one ran out at 26)
      val tag = "z" + ('a' + r / 26).toChar + ('a' + r % 26).toChar
      docs.select(
        (col("doc_id") + lit(r * n)).as("doc_id"),
        // prefix every word with the tag: intra-replica shingle structure is
        // preserved (same near-dup pairs, shifted ids), replicas never collide
        regexp_replace(col("text"), "([A-Za-z]+)", s"$tag$$1").as("text"))
    }.reduce(_ unionByName _)
  }

  private def time[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_scale")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark: SparkSession = GraftSession.getOrCreate(s"local[$cpus]", cpus.toInt)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")

    // 30× (≈ 150 k docs) probes past the fixed-overhead regime: at 10× the
    // banded paths still measured ≈ 1.2× wall, i.e. overhead dominated and
    // the true slope was unmeasured (r4 verdict item 5). The two banded
    // near-dup paths additionally run 100× (≈ 500 k docs, r5 verdict item
    // 7) — the factor where a quadratic candidate path would already be
    // ~100× over budget.
    val factors = Seq(1, 3, 10, 30)
    val nearDupFactors = Seq(1, 3, 10, 30, 100)
    val docQueryNames = Set("dedup_minhash_lsh", "ngram_jaccard_pairs",
      "doc_lm_score", "deterministic_shuffle", "grouped_prefix_sum",
      "shingle_novelty")
    val earlyOnly: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    // materialize each scaled corpus so staging cost never pollutes the timing
    val nearDupWanted = Set("dedup_minhash_lsh", "ngram_jaccard_pairs")
      .exists(n => earlyOnly.forall(_.contains(n)))
    val stagedFactors =
      if (nearDupWanted) nearDupFactors.toSet ++ factors else factors.toSet
    val staged: Map[Int, String] =
      if (docQueryNames.exists(n => earlyOnly.forall(_.contains(n))))
        stagedFactors.toSeq.sorted.map { k =>
          val p = s"$outDir/docs_x$k"
          scaled(docs, k).write.mode("overwrite").parquet(p)
          k -> p
        }.toMap
      else Map.empty

    // ---- adversarial skew corpora (r5 verdict item 7) -------------------
    // Hot-SHINGLE skew: every 5th doc gains one UNPREFIXED boilerplate
    // sentence, shared across ALL replicas — its shingles' posting lists
    // grow with the whole corpus (20% of docs), the classic boilerplate
    // hot-key. True τ=0.8 pairs are unchanged (a handful of common shingles
    // cannot push two otherwise-disjoint docs over τ), so any superlinear
    // growth here is candidate blowup through the hot shingles: the
    // prefix-filter (ngram) and banding (minhash) must shrug it off.
    val Boiler = "all rights reserved terms of service apply contact the site operator"
    def skewedDocs(k: Int): DataFrame =
      scaled(docs, k).withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" " + Boiler)))
          .otherwise(col("text")))
    val skewDocNames = Set("ngram_jaccard_skew", "minhash_lsh_skew")
    val stagedSkew: Map[Int, String] =
      if (skewDocNames.exists(n => earlyOnly.forall(_.contains(n))))
        factors.map { k =>
          val p = s"$outDir/docs_skew_x$k"
          skewedDocs(k).write.mode("overwrite").parquet(p)
          k -> p
        }.toMap
      else Map.empty

    // Power-law KEY skew for the salted join: half the fact rows land on
    // ONE key, the rest spread uniformly — the single-melted-reducer case.
    // The salted join must grow linearly (the hot key spreads over
    // numSalts reducers); the same join UNSALTED and non-broadcast is the
    // AQE-skew-split audit subject below.
    def skewedFact(k: Int): DataFrame =
      spark.range(600000L * k).select(
        when(col("id") % 2 === 0, lit(0L)).otherwise(col("id") % 10000L).as("k"),
        (col("id") % 997L).as("v"))
    val skewDim = spark.range(10000L)
      .select(col("id").as("k"), (col("id") % 5).as("seg"))
    val stagedFact: Map[Int, String] =
      if (earlyOnly.forall(_.contains("salted_join_skew")))
        factors.map { k =>
          val p = s"$outDir/fact_skew_x$k"
          skewedFact(k).write.mode("overwrite").parquet(p)
          k -> p
        }.toMap
      else Map.empty

    // doc_lm_score's shape inline (corpus bigram counts joined back to doc
    // bigrams, both shuffles keyed by bigram): the disjoint replica
    // vocabularies grow the count table ~K×, so linear growth here validates
    // the whole token-keyed-join family (doc_lm_score, inverted_index,
    // doc_top_terms, freq_tokens_topk).
    def lmScore(d: DataFrame): Long = {
      val toks = graft.functions.ascii_tokens(col("text"))
      val bg = d.select(col("doc_id"),
        explode(filter(
          zip_with(toks, slice(toks, 2, 1000000), (a, b) => concat(a, lit(" "), b)),
          x => x.isNotNull)).as("bigram"))
      val corpus = bg.groupBy(col("bigram")).agg(count(lit(1)).as("cn"))
      bg.join(corpus, "bigram").groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("cn")).as("lm_sum")).count()
    }
    // the two distributed-scan primitives (GlobalOrder / PrefixSum): ideal
    // growth is linear — the range exchange and both offset jobs are O(rows),
    // with only O(partitions [× groups]) ever on the driver.
    def globalShuffle(d: DataFrame): Long = {
      val keyed = d.select(col("doc_id"),
        md5(concat(lit("e:"), col("doc_id").cast("string"))).as("k"))
      graft.operators.GlobalOrder
        .withGlobalIndex(keyed, Seq(col("k"), col("doc_id")), "row_idx")
        .filter(col("row_idx") % 97 === 0).count()
    }
    def groupedScan(d: DataFrame): Long = {
      val t = d.select(col("doc_id"), (col("doc_id") % 5).as("g"),
        md5(col("doc_id").cast("string")).as("hk"),
        length(col("text")).cast("long").as("v"))
      graft.operators.PrefixSum
        .groupedRunningTotal(t, Seq("g"), Seq(col("hk"), col("doc_id")), "v", "cum")
        .filter(col("cum") % 97 === 0).count()
    }
    // orders-derived paths (r5): each replica offsets BOTH keys, so customers
    // stay disjoint across replicas — per-replica overlap pairs are constant
    // and the ideal growth of the interval join is linear. The skyline's
    // distinct-x aggregation + prefix scan are O(rows) by construction.
    def intervalOverlapScaled(d: DataFrame): Long = {
      val dayUs = 86400000000L
      val o = d.select(col("o_orderkey"), col("o_custkey"),
        org.apache.spark.sql.functions.unix_micros(col("o_orderdate").cast("timestamp")).as("start_us"))
        .withColumn("end_us", col("start_us") + (col("o_orderkey") % 28 + 1) * dayUs)
      val a = o.select(col("o_custkey"), col("o_orderkey").as("ok_a"),
        col("start_us").as("alo"), col("end_us").as("ahi"))
      val b = o.select(col("o_custkey"), col("o_orderkey").as("ok_b"),
        col("start_us").as("blo"), col("end_us").as("bhi"))
      graft.operators.RangeJoin.intervalOverlap(a, b, "alo", "ahi", "blo", "bhi",
          bucketWidth = 7.0 * dayUs, keys = Seq("o_custkey"))
        .filter(col("ok_a") < col("ok_b")).count()
    }
    def skylineScaled(d: DataFrame): Long =
      graft.operators.Skyline.frontier2D(
        d.select(col("o_orderkey"),
          (col("o_totalprice") * 100).cast("long").as("x"),
          (col("o_orderkey") % 9973).as("y")), "x", "y").count()

    // as-of join, window encoding vs the native physical operator
    // (plans.AsOfJoinExec), on identical frames: left = every order probing
    // at its date (+ a deterministic sub-day offset so probe times straddle
    // right times), right = per-(customer, day) maxima. Replicas offset both
    // keys, so per-replica match structure is constant and ideal growth is
    // linear for BOTH; the delta between the two curves is the padded-union
    // window sort vs the O(n+m) merge.
    def asofScaled(native: Boolean)(d: DataFrame): Long = {
      val left = d.select(col("o_orderkey").as("event_id"),
        col("o_custkey").as("k"),
        (org.apache.spark.sql.functions.unix_micros(col("o_orderdate").cast("timestamp"))
          + col("o_orderkey") % 86400000000L).as("t"))
      val right = d.groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_totalprice")).as("o_val"))
        .select(col("o_custkey").as("rk"),
          org.apache.spark.sql.functions.unix_micros(col("o_orderdate").cast("timestamp")).as("rt"),
          org.apache.spark.sql.functions.unix_micros(col("o_orderdate").cast("timestamp")).as("asof_t"),
          col("o_val"))
      val j =
        if (native) graft.operators.AsOfJoin.leftAsOfNative(
          left, right, "k", "rk", "t", "rt", Seq("asof_t", "o_val"))
        else graft.operators.AsOfJoin.leftAsOf(
          left, right, "k", "rk", "t", "rt", Seq("asof_t", "o_val"))
      j.filter(col("o_val").isNotNull).count()
    }

    // shingle_novelty's shape inline: the disjoint replica vocabularies grow
    // the first-occurrence table exactly K×, so linear wall here validates
    // the min-doc attribution join (one g-keyed aggregate + one join back).
    def noveltyScaled(d: DataFrame): Long = {
      val sh = d.select(col("doc_id"),
        explode(graft.functions.word_shingles(col("text"), 3)).as("g")).distinct()
      val fd = sh.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
      sh.join(fd, "g").groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .count()
    }

    // graph_link_prediction's wedge pass on replicated lineitem (both keys
    // offset → K disjoint co-purchase subgraphs, per-replica wedge count
    // constant): ideal wall is linear; a superlinear slope would mean the
    // wedge join is leaking across replicas or re-shuffling unkeyed.
    def linkPredScaled(li0: DataFrame): Long = {
      val li = li0.select(col("l_orderkey"), col("l_partkey"))
      val e0 = li.as("a")
        .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
        .select(least(col("a.l_partkey"), col("b.l_partkey")).as("u"),
          greatest(col("a.l_partkey"), col("b.l_partkey")).as("v"))
        .distinct()
      val e = e0.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(e0.select(col("v").as("src"), col("u").as("dst")))
      // seeds replicate with the graph (src % replicaStride < 500)
      val wedges = e.filter(col("src") % 100000000L < 500)
        .select(col("src").as("u"), col("dst").as("w"))
        .join(e.select(col("src").as("w"), col("dst").as("v")), "w")
        .filter(col("v") =!= col("u"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
      wedges.join(e.select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"), "left_anti").count()
    }

    def saltedSkewJoin(d: DataFrame): Long =
      graft.operators.SkewJoin.saltedJoin(d, skewDim, "k")
        .groupBy(col("seg")).agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
        .count()

    val queries: Seq[(String, DataFrame => Long)] = Seq(
      "dedup_minhash_lsh" -> (d => NearDup.minhashLshPairs(d, 0.8).count()),
      "ngram_jaccard_pairs" -> (d => NearDup.exactJaccardPairs(d, 0.8).count()),
      "doc_lm_score" -> lmScore,
      "deterministic_shuffle" -> globalShuffle,
      "grouped_prefix_sum" -> groupedScan,
      "shingle_novelty" -> noveltyScaled)
    val skewQueries: Seq[(String, DataFrame => Long)] = Seq(
      "ngram_jaccard_skew" -> (d => NearDup.exactJaccardPairs(d, 0.8).count()),
      "minhash_lsh_skew" -> (d => NearDup.minhashLshPairs(d, 0.8).count()))
    val factQueries: Seq[(String, DataFrame => Long)] = Seq(
      "salted_join_skew" -> saltedSkewJoin)
    // the two new iterative graph operators on the replicated-orders
    // bipartite graph (custkey → pseudo-supplier, both keys offset per
    // replica → K disjoint subgraphs): per-replica structure is constant,
    // so ideal wall is linear in K for both. HITS: per-round work is two
    // edge joins + aggregates over the whole edge set. Temporal
    // reachability: seeds replicate with the graph (custkey % stride ≤ 20),
    // so frontier work also replicates.
    // ONE pseudo-supplier key per (custkey-group, orderkey-residue): the
    // shared replica graph all three iterate scale rows run on — factored
    // so an edit cannot silently desynchronize the benchmark family
    def replicaDst = lit(2000000000L) + col("o_custkey") - col("o_custkey") % 1000L + col("o_orderkey") % 1000L
    def hitsScaled(d: DataFrame): Long = {
      val e = d.select(col("o_custkey").as("src"), replicaDst.as("dst")).distinct()
      graft.operators.Hits.run(e, rounds = 3).count()
    }
    // Min-label components at scale (graph_components' operator): the
    // replicated customer-supplier graph — each replica is a disjoint
    // key-shifted copy, so component count grows K× while per-replica
    // structure (and thus propagation-round count) stays CONSTANT; wall
    // must track the per-round shuffles linearly, never the rounds.
    def componentsScaled(d: DataFrame): Long = {
      val pairs = d.select(col("o_custkey").as("id_a"), replicaDst.as("id_b")).distinct()
      graft.operators.NearDup.connectedComponents(pairs)
        .select(countDistinct(col("component_id"))).head.getLong(0)
    }
    def temporalScaled(d: DataFrame): Long = {
      val base = d.select(col("o_custkey").as("cust"), replicaDst.as("supp"),
        org.apache.spark.sql.functions.unix_micros(
          col("o_orderdate").cast("timestamp")).as("t")).distinct()
      val e = base.select(col("cust").as("src"), col("supp").as("dst"), col("t"))
        .unionByName(base.select(col("supp").as("src"), col("cust").as("dst"), col("t")))
      val seeds = d.select(col("o_custkey").as("node"))
        .filter(col("o_custkey") % 100000000L <= 20).distinct()
      graft.operators.Bfs.temporalReachability(e, seeds, maxHops = 3).count()
    }

    // The same two as-of children, exchanged + sorted exactly as
    // AsOfJoinExec requires, but WITHOUT the merge: the asof_native −
    // asof_children delta is the iterator merge loop's true share of
    // runtime — the number that bounds what a CodegenSupport
    // implementation of the merge could ever win (SURVEY §4).
    def asofChildrenOnly(d: DataFrame): Long = {
      val left = d.select(col("o_orderkey").as("event_id"),
        col("o_custkey").as("k"),
        (org.apache.spark.sql.functions.unix_micros(col("o_orderdate").cast("timestamp"))
          + col("o_orderkey") % 86400000000L).as("t"))
      val right = d.groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_totalprice")).as("o_val"))
        .select(col("o_custkey").as("rk"),
          org.apache.spark.sql.functions.unix_micros(col("o_orderdate").cast("timestamp")).as("rt"),
          col("o_val"))
      // count() would let EliminateSorts strip the local sort from the
      // logical plan (an order-agnostic aggregate above a Sort) and the
      // baseline would silently measure exchange-only; toRdd materializes
      // the physical plan AS PLANNED — SortExec included — without the
      // row-encoder overhead of .rdd
      left.repartition(col("k")).sortWithinPartitions(col("k"), col("t"))
        .queryExecution.toRdd.count() +
        right.repartition(col("rk")).sortWithinPartitions(col("rk"), col("rt"))
          .queryExecution.toRdd.count()
    }

    // Arbitrary-depth closure (operators.Closure / hierarchy_closure_full)
    // on the replicated key-shifted hierarchy (parent = base div 7 inside
    // each replica): per-replica depth is CONSTANT (log_7 of the base key
    // space), so rounds don't grow with K and ideal wall is linear — a
    // superlinear slope would mean the frontier join is leaking across
    // replicas or the emptiness probes are rescanning history.
    def closureScaled(d: DataFrame): Long = {
      val base = col("o_orderkey") % 100000000L
      val off = col("o_orderkey") - base
      val e = d.select(col("o_orderkey").as("id"),
          (off + expr("o_orderkey % 100000000 div 7")).as("pid"))
        .filter(base >= 7)
        .distinct()
      graft.operators.Closure.ancestors(e).count()
    }

    val orderQueries: Seq[(String, DataFrame => Long)] = Seq(
      "closure_frontier" -> closureScaled,
      "interval_overlap" -> intervalOverlapScaled,
      "skyline_prefix_max" -> skylineScaled,
      "asof_window" -> asofScaled(native = false),
      "asof_native" -> asofScaled(native = true),
      "asof_children" -> asofChildrenOnly,
      "hits_iterate" -> hitsScaled,
      "components_minlabel" -> componentsScaled,
      "temporal_reachability" -> temporalScaled)
    val lineitemQueries: Seq[(String, DataFrame => Long)] = Seq(
      "link_prediction_wedges" -> linkPredScaled)

    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    def wanted(n: String) = only.forall(_.contains(n))

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val stagedOrders: Map[Int, String] =
      if (orderQueries.exists { case (n, _) => wanted(n) })
        factors.map { k =>
          val p = s"$outDir/orders_x$k"
          (0 until k).map(r => orders
              .withColumn("o_orderkey", col("o_orderkey") + lit(r * 100000000L))
              .withColumn("o_custkey", col("o_custkey") + lit(r * 100000000L)))
            .reduce(_ unionByName _).write.mode("overwrite").parquet(p)
          k -> p
        }.toMap
      else Map.empty

    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey")
    val stagedLineitem: Map[Int, String] =
      if (lineitemQueries.exists { case (n, _) => wanted(n) })
        factors.map { k =>
          val p = s"$outDir/lineitem_x$k"
          (0 until k).map(r => lineitem
              .withColumn("l_orderkey", col("l_orderkey") + lit(r * 100000000L))
              .withColumn("l_partkey", col("l_partkey") + lit(r * 100000000L)))
            .reduce(_ unionByName _).write.mode("overwrite").parquet(p)
          k -> p
        }.toMap
      else Map.empty

    def factorsOf(name: String): Seq[Int] =
      if (Set("dedup_minhash_lsh", "ngram_jaccard_pairs")(name)) nearDupFactors
      else factors
    val plans: Seq[(String, Int, String, DataFrame => Long)] =
      (for ((name, run) <- queries if wanted(name); k <- factorsOf(name))
        yield (name, k, staged(k), run)) ++
      (for ((name, run) <- skewQueries if wanted(name); k <- factors)
        yield (name, k, stagedSkew(k), run)) ++
      (for ((name, run) <- factQueries if wanted(name); k <- factors)
        yield (name, k, stagedFact(k), run)) ++
      (for ((name, run) <- orderQueries if wanted(name); k <- factors)
        yield (name, k, stagedOrders(k), run)) ++
      (for ((name, run) <- lineitemQueries if wanted(name); k <- factors)
        yield (name, k, stagedLineitem(k), run))

    val results = plans.map { case (name, k, path, run) =>
      val d = spark.read.parquet(path)
      run(d) // warm the input file listing + JIT once per (query, K)
      val (sec, rows) = time(run(d))
      println(s"""{"query":"$name","factor":$k,"sec":${f"$sec%.2f"},"pairs":$rows}""")
      (name, k, sec, rows)
    }

    val summary = (queries ++ skewQueries ++ factQueries ++ orderQueries ++ lineitemQueries)
      .filter { case (n, _) => wanted(n) }
      .map { case (name, _) =>
        val byK = results.filter(_._1 == name).map(r => r._2 -> r._3).toMap
        val growths = byK.keys.toSeq.sorted.filter(_ > 1)
          .map(k => s""""growth_${k}x":${f"${byK(k) / byK(1)}%.1f"}""")
        val times = byK.toSeq.sorted
          .map { case (k, s) => s""""t$k":${f"$s%.2f"}""" }
        s""""$name":{${(times ++ growths).mkString(",")}}"""
      }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_growth","factors":${factors.mkString("[", ",", "]")},"detail":$summary}""")

    // ---- AQE skew-split audit (r5 verdict item 7) -----------------------
    // The UNSALTED skewed join, denied its broadcast (the 100 TB case where
    // the dim is too big to ship): does AQE's OptimizeSkewedJoin split the
    // melted partition? Recorded, not asserted — the salted path above is
    // the deterministic layout; AQE is the safety net when nobody salted.
    if (earlyOnly.forall(_.contains("salted_join_skew")) && stagedFact.nonEmpty) {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def measure(): (Double, Boolean) = {
        val d = spark.read.parquet(stagedFact(factors.max))
        val plain = d.join(skewDim, "k")
          .groupBy(col("seg")).agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
        // inspect THIS QueryExecution after running it — count() would spin
        // up its own and leave plain's AQE plan unfinalized
        val (sec, _) = time(plain.collect())
        (sec, plain.queryExecution.executedPlan.toString.contains("skew=true"))
      }
      try {
        // Default thresholds: skew detection is COMPRESSED-byte-based, and
        // the constant hot key lz4-compresses ~50×, so the melted partition
        // reads far under the 256 MB default at this toy scale (real 100 TB
        // shuffle data doesn't compress like a constant column — defaults
        // hold there).
        val (sec, engaged) = measure()
        // thresholds scaled to the corpus's compressed size: the melted
        // partition now clears them and OptimizeSkewedJoin must split it
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
        val (secTuned, engagedTuned) = measure()
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        println(s"""{"metric":"aqe_skew_audit","factor":${factors.max},""" +
          s""""unsalted_sec":${f"$sec%.2f"},"aqe_skew_split":$engaged,""" +
          s""""unsalted_sec_tuned":${f"$secTuned%.2f"},"aqe_skew_split_tuned":$engagedTuned}""")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }

    // ---- streaming MOR commit-cost row (r12, VERDICT r11 item 7) --------
    // The batch side has 10×/30× curves; this is the STREAMING entry: the
    // streaming_upsert_mor topology (foreachBatch → upsertMorOnce, the
    // reference's sink mechanism) run as a real Structured Streaming query
    // against a table seeded at K× base size, feeding a FIXED stream of 8
    // micro-batches × 2 000-key updates. The claim under test is the O(batch)
    // commit contract: each commit writes one data dir (which is also the
    // equality-delete set of its keys) + the manifest, never rewriting the
    // table — so the timed chain must stay ~FLAT as the seeded table grows
    // 1× → 30× (the growth_30x that matters at 100 TB, where an O(table)
    // commit is a non-starter). Seeding is untimed (it IS O(table) by
    // definition). The read side is the MOR trade (VersionedTable.compact
    // clears it): `read_sec` is the median of 3 timed merged-read counts of
    // the final table, which grows with K.
    if (earlyOnly.exists(_.contains("streaming_mor_commit"))) {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ordersBase = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") * 100).cast("long").as("price_c"))
      for (k <- factors) {
        val tbl = s"$outDir/stream_mor_x$k"
        val ck = s"$outDir/stream_mor_ck_x$k"
        val hfs = new org.apache.hadoop.fs.Path(tbl)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        hfs.delete(new org.apache.hadoop.fs.Path(tbl), true)
        hfs.delete(new org.apache.hadoop.fs.Path(ck), true)
        val seeded = (0 until k).map(r => ordersBase
            .withColumn("o_orderkey", col("o_orderkey") + lit(r * 100000000L)))
          .reduce(_ unionByName _)
        graft.sinks.VersionedTable.overwrite(seeded, tbl) // untimed O(table) seed
        val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
        val q = in.toDF().toDF("o_orderkey", "price_c")
          .withColumn("o_custkey", lit(-1L))
          .writeStream
          .option("checkpointLocation", ck)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            graft.sinks.VersionedTable.upsertMorOnce(
              batch, tbl, Seq("o_orderkey"), batchId)
            ()
          }
          .start()
        val batches = 8; val batchRows = 2000
        val (sec, _) = time {
          for (b <- 0 until batches) {
            in.addData((0 until batchRows).map(i =>
              ((b * batchRows + i).toLong % 100000L + 1L, b * 1000000L + i.toLong)))
            q.processAllAvailable()
          }
          0L
        }
        q.stop(); q.awaitTermination()
        val versions = graft.sinks.VersionedTable.versions(spark, tbl).size
        val reads = (1 to 3).map(_ => time(graft.sinks.VersionedTable.read(spark, tbl).count()))
        val readSec = reads.map(_._1).sorted.apply(1)
        println(s"""{"query":"streaming_mor_commit","factor":$k,"sec":${f"$sec%.2f"},""" +
          s""""batches":$batches,"batch_rows":$batchRows,"versions":$versions,""" +
          s""""read_sec":${f"$readSec%.2f"},"read_rows":${reads.head._2}}""")
      }
    }

    // ---- interval-overlap grid-width A/B (r13, VERDICT r12 item 4) ------
    // interval_overlap_join has been the worst pinned bench ratio two
    // rounds running (1.29×, 1.43× — a sub-second entry). The plan shape is
    // scale-correct (reference-cell dedup, no nested loop); the open
    // question is GRID-WIDTH sensitivity at sf0.1: wider cells = fewer
    // replicas but denser cells (more false pairs filtered post-join),
    // narrower = the reverse. Sweep the width at sf0.1 (the bench's exact
    // query, min-of-3 per width), and measure the 1×→10× scale slope at the
    // production width to separate fixed overhead from a real defect.
    if (earlyOnly.exists(_.contains("interval_overlap_ab"))) {
      val dayUs = 86400000000L
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"),
          org.apache.spark.sql.functions.unix_micros(col("o_orderdate")
            .cast("timestamp")).as("start_us"))
        .withColumn("end_us", col("start_us") + (col("o_orderkey") % 28 + 1) * lit(dayUs))
        .cache()
      o.count()
      def run(src: DataFrame, widthDays: Double): Long = {
        val a = src.select(col("o_custkey"), col("o_orderkey").as("ok_a"),
          col("start_us").as("alo"), col("end_us").as("ahi"))
        val b = src.select(col("o_custkey"), col("o_orderkey").as("ok_b"),
          col("start_us").as("blo"), col("end_us").as("bhi"))
        graft.operators.RangeJoin.intervalOverlap(a, b, "alo", "ahi", "blo", "bhi",
            bucketWidth = widthDays * dayUs, keys = Seq("o_custkey"))
          .filter(col("ok_a") < col("ok_b")).count()
      }
      for (w <- Seq(3.5, 7.0, 14.0, 28.0, 56.0)) {
        val secs = (1 to 3).map(_ => time(run(o, w))._1)
        println(s"""{"metric":"interval_overlap_ab","width_days":$w,""" +
          s""""sec_min":${f"${secs.min}%.3f"},"runs":[${secs.map(s => f"$s%.3f").mkString(",")}]}""")
      }
      // scale slope at the production width (7d): 1× vs 10× replicated
      // orders (disjoint custkey spaces — pair density constant per replica)
      val o10 = (0 until 10).map(r => o
          .withColumn("o_custkey", col("o_custkey") + lit(r * 10000000L))
          .withColumn("o_orderkey", col("o_orderkey") + lit(r * 100000000L)))
        .reduce(_ unionByName _).cache()
      o10.count()
      val s1 = (1 to 3).map(_ => time(run(o, 7.0))._1).min
      val s10 = (1 to 3).map(_ => time(run(o10, 7.0))._1).min
      println(s"""{"metric":"interval_overlap_scale","width_days":7.0,""" +
        s""""sec_1x":${f"$s1%.3f"},"sec_10x":${f"$s10%.3f"},"growth_10x":${f"${s10 / s1}%.2f"}}""")
      o.unpersist(); o10.unpersist()
    }

    // ---- Iceberg export scale curve (r13, VERDICT r12 item 8) -----------
    // The O(metadata) export claim measured: a C-commit chain at K× data
    // size exports in time ~FLAT in K (the export never reads data — only
    // parquet FOOTERS, one distributed pass, O(files) of them) and ~LINEAR
    // in C (manifests + manifest lists are per-commit). Seeding is untimed.
    if (earlyOnly.exists(_.contains("iceberg_export_scale"))) {
      val ordersBase = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") * 100).cast("long").as("price_c"))
      val hfs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def chain(k: Int, commits: Int): String = {
        val tbl = s"$outDir/iceberg_scale_x${k}_c$commits"
        hfs.delete(new org.apache.hadoop.fs.Path(tbl), true)
        val seeded = (0 until k).map(r => ordersBase
            .withColumn("o_orderkey", col("o_orderkey") + lit(r * 100000000L)))
          .reduce(_ unionByName _)
          .withColumn("__slice", org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.hash(col("o_orderkey")), lit(commits)))
          .cache()
        seeded.count()
        for (c <- 0 until commits) // untimed O(table) staging
          graft.sinks.VersionedTable.append(
            seeded.filter(col("__slice") === c).drop("__slice").coalesce(2), tbl)
        seeded.unpersist()
        tbl
      }
      // K sweep at fixed commits: flat-in-table-size claim
      for (k <- Seq(1, 10, 30)) {
        val tbl = chain(k, commits = 50)
        val out = s"$outDir/iceberg_scale_out_x$k"
        hfs.delete(new org.apache.hadoop.fs.Path(out), true)
        val (sec, _) = time(graft.sinks.IcebergExport.export(spark, tbl, out))
        println(s"""{"metric":"iceberg_export_scale","factor":$k,"commits":50,""" +
          s""""sec":${f"$sec%.2f"}}""")
      }
      // commit sweep at fixed K: linear-in-commits claim
      for (c <- Seq(200)) {
        val tbl = chain(1, commits = c)
        val out = s"$outDir/iceberg_scale_out_c$c"
        hfs.delete(new org.apache.hadoop.fs.Path(out), true)
        val (sec, _) = time(graft.sinks.IcebergExport.export(spark, tbl, out))
        println(s"""{"metric":"iceberg_export_scale","factor":1,"commits":$c,""" +
          s""""sec":${f"$sec%.2f"}}""")
        // incremental extension: 5 more commits onto the 200-commit export —
        // must cost ~O(5), not O(205) (exported history never re-read)
        val extra = ordersBase.limit(5000)
          .withColumn("o_orderkey", col("o_orderkey") + lit(900000000L))
        for (i <- 0 until 5)
          graft.sinks.VersionedTable.append(
            extra.withColumn("o_orderkey", col("o_orderkey") + lit(i * 10000L))
              .coalesce(2), tbl)
        val (incSec, _) = time(graft.sinks.IcebergExport.exportIncremental(spark, tbl, out))
        println(s"""{"metric":"iceberg_export_incremental_scale","base_commits":$c,""" +
          s""""new_commits":5,"sec":${f"$incSec%.2f"}}""")
      }
    }

    // ---- renamed-table read overhead (r13) ------------------------------
    // A renamed table still reads as ONE multi-path scan, under the fold of
    // the dir schemas its manifest records: the alias columns fold with
    // coalesce(newest..oldest) in a single projection
    // (VersionedTable.coalesceAliases). The first cut here used a per-dir
    // union instead and this row caught it: a FLAT ~1.5 s of per-dir plan
    // overhead at 20 dirs (2.3/2.0/2.0 s vs 0.4 s plain at 1×/10×/30×) —
    // constant in data, linear in dirs. With the schemas read from the
    // manifest (no inference job), one run on 4 cores read renamed
    // 0.27/0.28/0.29 s vs plain 0.42/0.29/0.40 s at 1×/10×/30×.
    if (earlyOnly.exists(_.contains("rename_read_scale"))) {
      val ordersBase = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") * 100).cast("long").as("price_c"))
      val hfs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      for (k <- Seq(1, 10, 30)) {
        val tbl = s"$outDir/rename_scale_x$k"
        hfs.delete(new org.apache.hadoop.fs.Path(tbl), true)
        val seeded = (0 until k).map(r => ordersBase
            .withColumn("o_orderkey", col("o_orderkey") + lit(r * 100000000L)))
          .reduce(_ unionByName _)
          .withColumn("__slice", org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.hash(col("o_orderkey")), lit(20)))
          .cache()
        seeded.count()
        for (c <- 0 until 20) // untimed staging: 20 dirs at every factor
          graft.sinks.VersionedTable.append(
            seeded.filter(col("__slice") === c).drop("__slice").coalesce(2), tbl)
        seeded.unpersist()
        val (plainSec, n0) = time(graft.sinks.VersionedTable.read(spark, tbl)
          .agg(org.apache.spark.sql.functions.sum(col("price_c"))).head.getLong(0))
        graft.sinks.VersionedTable.renameColumn(spark, tbl, "price_c", "price2_c")
        val (renSec, n1) = time(graft.sinks.VersionedTable.read(spark, tbl)
          .agg(org.apache.spark.sql.functions.sum(col("price2_c"))).head.getLong(0))
        require(n0 == n1, s"rename changed the aggregate: $n0 vs $n1")
        println(s"""{"metric":"rename_read_scale","factor":$k,"dirs":20,""" +
          s""""plain_sec":${f"$plainSec%.2f"},"renamed_sec":${f"$renSec%.2f"}}""")
      }
    }

    // ---- chain-closure A/B (r9 verdict item 7) --------------------------
    // The pathological-depth regime: a linked list `depth` deep, where the
    // frontier shape pays one shuffle round PER LEVEL and the path-doubling
    // shape converges in ~log2(depth) self-join rounds. Data is tiny by
    // construction — this measures ROUND-COUNT cost (the scheduler+shuffle
    // floor an O(depth) iterate pays at any data size), which is exactly
    // what breaks frontier closure on deep hierarchies at 100 TB where a
    // driver round-trip per level is the bottleneck, not bytes.
    if (earlyOnly.exists(_.contains("closure_chain_ab"))) {
      import spark.implicits._
      val depth = 1000
      val chain = (1L to depth.toLong).map(i => (i, i - 1)).toDF("id", "pid")
        .repartition(4).cache()
      chain.count()
      val (dblSec, dblRows) = time(graft.operators.Closure.ancestorsDoubling(chain).count())
      val (froSec, froRows) = time(graft.operators.Closure.ancestors(chain).count())
      require(dblRows == froRows, s"A/B row mismatch: $dblRows vs $froRows")
      println(s"""{"metric":"closure_chain_ab","depth":$depth,"rows":$froRows,""" +
        s""""frontier_sec":${f"$froSec%.2f"},"doubling_sec":${f"$dblSec%.2f"},""" +
        s""""speedup":${f"${froSec / dblSec}%.1f"}}""")
    }
    spark.stop()
  }
}
