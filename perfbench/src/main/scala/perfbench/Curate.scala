package perfbench

import graft.functions.{minhash_bands, normalize_text, word_shingles}
import graft.operators.{Ann, ExactSubstr, NearDup}
import graft.sinks.{IcebergExport, VersionedTable}
import graft.sources.IcebergRead
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** `curate_batch`: one batch through the curation operators and a single
  * commit. normalize_text and exact dedup, MinHash-LSH near-duplicate
  * pairs, connected components, duplicated spans, semantic dedup, then
  * one `VersionedTable.append` and one `IcebergExport.export`. Every stage
  * is materialized before the next, so each operator's time is its own. */
object Curate {
  val Jaccard = 0.7
  val SpanGram = 20
  val Cosine = 0.95
  val ReadsPerRound = 10
  val Ops = Seq("exact_dedup", "minhash_lsh", "components", "substr", "semantic_dedup")

  final case class Round(setupS: Double, wallS: Double, opMs: Map[String, Double],
      appendMs: Double, exportMs: Double, readsMs: Seq[Double], verifyReadMs: Double,
      pairs: Set[(Long, Long)], kept: Int, tablePath: String, exportPath: String)

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("embedding", ArrayType(DoubleType, containsNull = false), nullable = false)))

  private def stage(ctx: Ctx, c: Gen.Corpus, path: String): Unit = {
    val rows = c.docs.map(d => Row(d.id, d.text, d.emb.toSeq))
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, ctx.nproc), schema)
      .write.mode("overwrite").parquet(path)
  }

  private def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** One pipeline over a freshly staged corpus, then `reads` timed full
    * reads of its export (rounds whose reads are not reported make one). */
  private def round(ctx: Ctx, seed: Long, traced: Boolean,
      reads: Int = ReadsPerRound): Round = {
    val spark = ctx.spark
    val tr = ctx.tracer
    tr.enabled = traced
    val s0 = System.nanoTime()
    val c = Gen.corpus(seed)
    val dir = ctx.fresh("curate")
    stage(ctx, c, s"$dir/corpus")
    val setupS = Clock.secondsSince(s0)

    val opMs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def op[T](name: String)(f: => T): T = {
      val (r, ms) = Clock.timeMs(tr.span(spark, s"operators.$name", 0L)(f))
      opMs(name) = ms
      r
    }
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(s"$dir/corpus")
    // exact dedup keeps the lowest id per normalized text
    val survivors = op("exact_dedup") {
      materialize(docs.select(col("doc_id"), normalize_text(col("text")).as("text"))
        .groupBy("text").agg(min("doc_id").as("doc_id")).select("doc_id", "text"))
    }
    val pairs = op("minhash_lsh")(materialize(NearDup.minhashLshPairs(survivors, Jaccard)))
    val distinct = op("components") {
      val comps = NearDup.connectedComponents(pairs)
      materialize(survivors.join(
        comps.filter(col("doc_id") =!= col("component_id")).select("doc_id"),
        Seq("doc_id"), "left_anti"))
    }
    val spans = op("substr")(materialize(ExactSubstr.duplicateSpans(distinct, SpanGram)))
    val kept = op("semantic_dedup") {
      materialize(Ann.semanticDedup(
        distinct.join(docs.select(col("doc_id"), col("embedding")), "doc_id")
          .select(col("doc_id").as("vec_id"), col("embedding")), Cosine))
    }
    val out = distinct.join(kept.select(col("vec_id").as("doc_id")), "doc_id")
      .join(spans.groupBy("doc_id").agg(sum(col("span_end") - col("span_start") + 1)
        .as("dup_tokens")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"), coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
    val tablePath = s"$dir/table"
    val exportPath = s"$dir/iceberg"
    val (_, appendMs) = Clock.timeMs(tr.span(spark, "sinks.append", 0L)(
      VersionedTable.append(out, tablePath)))
    val (_, exportMs) = Clock.timeMs(tr.span(spark, "sinks.export", 0L)(
      IcebergExport.export(spark, tablePath, exportPath)))
    val wallS = Clock.secondsSince(t0)

    // checks against the planted structure
    val foundPairs = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val spanRows = spans.select("doc_id", "span_start", "span_end").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = c.expectedSpanDocs
    ctx.out.check("curate.span_docs", spanRows.map(_._1).toSet == want.keySet,
      s"${spanRows.map(_._1).toSet.size} docs with spans, ${want.size} planted")
    ctx.out.check("curate.spans_cover_boilerplate", want.forall { case (id, (a, b)) =>
      spanRows.exists(s => s._1 == id && s._2 <= a && s._3 >= b) },
      "a planted boilerplate paragraph is not inside a reported span")
    val (keptIds, verifyMs) = Clock.timeMs(tr.span(spark, "sources.iceberg_read", 0L) {
      IcebergRead.read(spark, exportPath).select("doc_id").collect().map(_.getLong(0))
    })
    ctx.out.check("curate.kept_set", keptIds.length == keptIds.distinct.length &&
      keptIds.toSet == c.expectedKept,
      s"kept ${keptIds.length} docs, planted structure implies ${c.expectedKept.size}; " +
        s"${(c.expectedKept -- keptIds).size} missing, ${(keptIds.toSet -- c.expectedKept).size} extra")
    val readsMs = (0 until reads).map { i =>
      val (n, ms) = Clock.timeMs(tr.span(spark, "sinks.read", i.toLong)(
        IcebergRead.read(spark, exportPath).count()))
      ctx.out.op(n == c.expectedKept.size)
      ms
    }
    spark.catalog.clearCache() // the next round starts with no blocks of this one
    Round(setupS, wallS, opMs.toMap, appendMs, exportMs, readsMs, verifyMs, foundPairs,
      keptIds.length, tablePath, exportPath)
  }

  /** Drop the round's files, and its heap garbage outside any timing: the
    * blocks a round persisted otherwise linger in the old generation for
    * as long as the collector chooses, and move the process's peak
    * resident set from run to run. */
  private def cleanup(r: Round): Round = {
    Disk.rmrf(new java.io.File(r.tablePath).getParent)
    System.gc()
    r
  }

  def run(ctx: Ctx): Unit = {
    val out = ctx.out
    val corpus = Gen.corpus(ctx.seed)
    val docs = corpus.docs.size.toDouble
    val w0 = System.nanoTime()
    // one full round first, not reported: class loading, JIT and code
    // generation are paid before timing. A 300-document round costs as
    // much: first-use costs, not the corpus, set its length.
    cleanup(round(ctx, ctx.seed, traced = false, reads = 1))
    out.detail("warmup_s") = Clock.secondsSince(w0)
    if (!ctx.traced) {
      val t0 = System.nanoTime()
      val rounds = ArrayBuffer.empty[Round]
      while (rounds.isEmpty || Clock.secondsSince(t0) < ctx.seconds)
        rounds += cleanup(round(ctx, ctx.seed, traced = false))
      ctx.stagingS += Stats.median(rounds.map(_.setupS))
      out.e2e("rows_per_s") = Stats.median(rounds.map(r => docs / r.wallS))
      // every document is due at the first read and readable when the
      // export is done, so within a round all percentiles are the wall time
      out.e2e("freshness_p50_ms") = Stats.median(rounds.map(_.wallS * 1000))
      out.e2e("freshness_p95_ms") = out.e2e("freshness_p50_ms")
      val reads = rounds.flatMap(_.readsMs).toSeq
      out.e2e("read_p50_ms") = Stats.percentile(reads, 0.5)
      out.detail("rounds") = rounds.size
      out.detail("wall_s") = rounds.map(_.wallS)
      out.detail("ops_ms") = rounds.map(r => (r.opMs ++ Map("append" -> r.appendMs,
        "export" -> r.exportMs)).map { case (k, v) => k -> math.round(v) })
      out.detail("read_samples") = reads.size
    } else {
      val plain = cleanup(round(ctx, ctx.seed, traced = false, reads = 1))
      val t0 = System.nanoTime()
      val rounds = ArrayBuffer.empty[Round]
      while (rounds.isEmpty || Clock.secondsSince(t0) < ctx.seconds)
        rounds += round(ctx, ctx.seed, traced = true)
      // untraced rounds on both sides of the traced ones, so that the run
      // still warming up does not count as tracing cost
      val plainAfter = cleanup(round(ctx, ctx.seed, traced = false, reads = 1))
      val spark = ctx.spark
      val L = out.layer
      val last = rounds.last
      val untracedS = (plain.wallS + plainAfter.wallS) / 2
      L("trace.overhead_ms") = (Stats.median(rounds.map(_.wallS)) - untracedS) * 1000
      Ops.foreach(o => L(s"operators.${o}_ms") = Stats.median(rounds.map(_.opMs(o))))
      val planted = corpus.plantedPairs(Jaccard)
      val hit = (last.pairs intersect planted).size.toDouble
      L("operators.neardup_recall") = if (planted.isEmpty) 1.0 else hit / planted.size
      L("operators.neardup_precision") = if (last.pairs.isEmpty) 1.0 else hit / last.pairs.size
      L("operators.kept_docs") = last.kept.toDouble
      L("sinks.append_ms") = Stats.median(rounds.map(_.appendMs))
      L("sinks.export_full_ms") = Stats.median(rounds.map(_.exportMs))
      L("sources.iceberg_read_ms") = Stats.median(rounds.map(_.verifyReadMs))
      L("sinks.read_ms.p95") = Stats.percentile(rounds.flatMap(_.readsMs).toSeq, 0.95)
      Storage.describe(ctx, last.tablePath, last.exportPath, last.kept)

      // kernel probe: shingling and MinHash banding alone, projection only
      val corpusPath = new java.io.File(last.tablePath).getParent + "/corpus"
      val text = spark.read.parquet(corpusPath).select(normalize_text(col("text")).as("t"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      text.count()
      L("functions.shingle_minhash_ms") = Stats.median((0 until 3).map(_ => Clock.timeMs(
        text.select(minhash_bands(word_shingles(col("t"), 3), 64, 16)).write.format("noop")
          .mode("overwrite").save())._2))
      text.unpersist(true)
      ctx.drainEvents()
      val readJobs = ctx.tracer.named("sinks.read").flatMap(s => ctx.listener.get.jobsOf(s))
      L("sinks.read_records_per_live_row") = readJobs.map(_.inputRecords).sum.toDouble /
        (last.kept.toDouble * ctx.tracer.named("sinks.read").size)
      (Ops.map(o => s"operators.$o") ++ Seq("sinks.export", "sinks.read")).foreach { s =>
        ctx.spanCounts(s, s).foreach { case (k, v) => L(k) = v }
      }
      rounds.foreach(cleanup)

      // the same round on one core, for the parallel speedup
      ctx.spark = Main.restartSession(ctx, 1)
      val serial = cleanup(round(ctx, ctx.seed, traced = false, reads = 1))
      L("operators.parallel_speedup") = serial.wallS / untracedS
    }
  }
}
