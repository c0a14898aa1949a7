package graft.sources

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types.{LongType, StructType}

/** Spark-first re-expression of the reference's sharded incremental source.
  *
  * The reference (ColumnSource.java:44-56) polls `SELECT DISTINCT shard FROM t`
  * and fans each shard value out to a KeyedProcessFunction that pages with
  * `... WHERE shard=? ORDER BY sortCol LIMIT size OFFSET state` and keeps the
  * per-shard offset in Flink ValueState (SnowflakeProcessFunction.java:88-122).
  *
  * Here the whole poll cycle is ONE declarative plan: a row_number window
  * partitioned by the shard column (single shuffle — the exact analogue of
  * Flink's keyBy) filtered against a broadcast offset map. Page extraction,
  * offset filtering and downstream projection all fuse into the same
  * whole-stage-codegen span. The offset map is O(shards) and lives in the
  * plan as a literal — never shuffled, checkpointable as JSON.
  */
object ShardedIngest {

  /** Distinct shard values (the reference's ColumnSource poll). */
  def discoverShards(df: DataFrame, shardCol: String): DataFrame =
    df.select(shardCol).distinct()

  /** One polling page per shard: rows with per-shard rank in
    * (offset, offset + pageSize], ranked by `sortCols` (must form a total
    * order within a shard for deterministic paging). Missing shards start at
    * offset 0. Emits the rank as `page_rn`.
    */
  def page(
      df: DataFrame,
      shardCol: String,
      sortCols: Seq[String],
      offsets: Map[String, Long],
      pageSize: Long): DataFrame = {
    val w = Window.partitionBy(col(shardCol)).orderBy(sortCols.map(col): _*)
    val off =
      if (offsets.isEmpty) lit(0L)
      else coalesce(element_at(typedLit(offsets), col(shardCol)), lit(0L))
    // No shard's page reaches past max(offset) + pageSize, and that bound is
    // a PLAN-TIME CONSTANT — filtering on it first (before the exact
    // per-shard map-lookup bounds, which are not constants) lets Catalyst's
    // InferWindowGroupLimit insert a partial top-k BELOW the window's
    // exchange: each mapper forwards only its per-shard top maxBound rows
    // instead of the whole scan, so the shuffle carries O(shards · bound)
    // rows however big the table is (r12; incremental_offset_read sat 1.4×
    // over its pin while shuffling the full scan).
    // the rank filter must hit the UNCAST rank attribute with an int literal
    // for InferWindowGroupLimit to match; the long page_rn projects after
    val maxBound = math.min(offsets.values.foldLeft(0L)(math.max) + pageSize,
      Int.MaxValue.toLong).toInt
    df.withColumn("page_rn", row_number().over(w))
      .filter(col("page_rn") <= maxBound)
      .withColumn("page_rn", col("page_rn").cast(LongType))
      .withColumn("__off", off)
      .filter(col("page_rn") > col("__off") && col("page_rn") <= col("__off") + pageSize)
      .drop("__off")
  }

  /** How a target database spells keyset-free pagination — the one clause
    * that differs across warehouse dialects. The page SEMANTICS (total order
    * within a shard, offset from checkpointed state) are dialect-invariant.
    */
  sealed trait PagingDialect {
    /** The trailing page clause for (offset, pageSize). */
    def pageClause(offset: Long, pageSize: Long): String
    /** How this database spells a case-exact column reference. ANSI default:
      * double-quote the identifier verbatim (Derby/PostgreSQL/Oracle fold
      * UNQUOTED identifiers, so quoting preserves whatever case the writer
      * created). Dialects with a different fold direction override. */
    def quoteIdentifier(ident: String): String =
      "\"" + ident.replace("\"", "\"\"") + "\""
  }
  object PagingDialect {
    /** ANSI `OFFSET … ROWS FETCH NEXT … ROWS ONLY` — Derby, SQL Server
      * 2012+, Oracle 12c+, DB2. The live-proven dialect
      * (JdbcSpec runs it against embedded Derby). */
    case object OffsetFetch extends PagingDialect {
      def pageClause(offset: Long, pageSize: Long): String =
        s"OFFSET $offset ROWS FETCH NEXT $pageSize ROWS ONLY"
    }
    /** `LIMIT … OFFSET …` — PostgreSQL, MySQL/MariaDB, SQLite, H2, DuckDB.
      * SQL generation is spec-pinned; no LIMIT-dialect engine ships in this
      * sandbox (only Derby), so live coverage is documented as
      * OffsetFetch-only — the clause is the sole moving part. */
    case object LimitOffset extends PagingDialect {
      def pageClause(offset: Long, pageSize: Long): String =
        s"LIMIT $pageSize OFFSET $offset"
    }
    /** Snowflake: the page clause is the reference's EXACT emission —
      * `LIMIT n OFFSET k` (SnowflakeProcessFunction.java:100's
      * `"… ORDER BY %s LIMIT %d OFFSET %d"`). Identifier quoting follows
      * Snowflake's fold direction: UNQUOTED DDL creates UPPERCASE
      * identifiers, so a plain (unquoted-safe) name is uppercased before
      * quoting — `shard` must reach the wire as `"SHARD"` or the query
      * misses the column a normal CREATE TABLE made; a name that was
      * case-sensitively quoted at creation (any char outside
      * [A-Za-z0-9_$], or lowercase-on-purpose via quotes) is quoted
      * verbatim, which is the only way to reference it. Type mapping for
      * this dialect lives in [[SnowflakeTypes]]. */
    case object Snowflake extends PagingDialect {
      def pageClause(offset: Long, pageSize: Long): String =
        s"LIMIT $pageSize OFFSET $offset"
      override def quoteIdentifier(ident: String): String = {
        val unquotedSafe = ident.nonEmpty &&
          ident.forall(c => c.isLetterOrDigit && c < 128 || c == '_' || c == '$') &&
          !ident.head.isDigit
        val name = if (unquotedSafe) ident.toUpperCase(java.util.Locale.ROOT) else ident
        "\"" + name.replace("\"", "\"\"") + "\""
      }
    }
  }

  /** The exact per-shard poll SQL the live page reads emit — factored out
    * so the dialect matrix is unit-checkable without a live endpoint. With
    * the default `columns = Nil, residual = None` this is BYTE-IDENTICAL to
    * the reference's emission (`SELECT * …`, SnowflakeProcessFunction.java:100).
    *
    * PROJECTION + residual-PREDICATE pushdown (r15): the first thing a
    * 100-column Snowflake table needs — `SELECT *` ships every column of
    * every page across the wire, a pruned column list plus a pushed
    * residual predicate ships only what the pipeline consumes, and the
    * warehouse evaluates both. `columns` are dialect-quoted (Snowflake's
    * uppercase fold included); `residual` is a caller-spelled SQL condition
    * AND-ed under the shard equality (the caller owns its identifier
    * quoting — it is passed to the warehouse verbatim). PAGING COMPOSES
    * with the predicate: ranks are offsets into the FILTERED ordered row
    * set, so offsets checkpointed against a residual only replay against
    * the same residual. */
  def pageSql(table: String, shardCol: String, sortCols: Seq[String],
      shard: String, offset: Long, pageSize: Long, dialect: PagingDialect,
      columns: Seq[String] = Nil, residual: Option[String] = None): String = {
    val proj =
      if (columns.isEmpty) "*"
      else columns.map(dialect.quoteIdentifier).mkString(", ")
    val pred = residual.map(r => s" AND ($r)").getOrElse("")
    s"""SELECT $proj FROM $table WHERE ${dialect.quoteIdentifier(shardCol)} = ${sqlStringLiteral(shard)}$pred
       |ORDER BY ${sortCols.map(dialect.quoteIdentifier).mkString(", ")}
       |${dialect.pageClause(offset, pageSize)}""".stripMargin
  }

  /** Live-database analogue of [[page]]: the same
    * `(table, shardCol, sortCols, offsets, pageSize)` contract executed
    * against a real JDBC endpoint, with the paging pushed INTO the database —
    * per shard, the emitted SQL is exactly the reference's poll query
    * (SnowflakeProcessFunction.java:88-122):
    *
    * {{{ SELECT * FROM t WHERE shard = ? ORDER BY sortCols <page clause> }}}
    *
    * where the page clause is dialect-selected ([[PagingDialect]]): ANSI
    * `OFFSET … FETCH` by default, `LIMIT … OFFSET` for the
    * PostgreSQL/MySQL family. The page schema is probed once, from the first
    * shard's query (`columns` shape it), and every shard's page is one
    * partition of one [[jdbcScan]] — one task per shard, the analogue of
    * one keyed Flink subtask, so shards page in parallel while the database
    * does the ordering/limiting and only page-sized row sets cross the
    * wire. `shards` normally comes from [[discoverShardsJdbc]]; shard
    * values are bound via the SQL literal of the string value.
    */
  def viaJdbc(
      spark: SparkSession,
      url: String,
      table: String,
      shardCol: String,
      sortCols: Seq[String],
      offsets: Map[String, Long],
      pageSize: Long,
      shards: Seq[String],
      dialect: PagingDialect = PagingDialect.OffsetFetch,
      columns: Seq[String] = Nil,
      residual: Option[String] = None): DataFrame = {
    require(shards.nonEmpty, "viaJdbc needs at least one shard value")
    val sqls = shards.map(sh => pageSql(table, shardCol, sortCols, sh,
      offsets.getOrElse(sh, 0L), pageSize, dialect, columns, residual))
    jdbcScan(spark, url, sqls, querySchema(spark, url, sqls.head))
  }

  /** Distinct shard values polled from the database itself
    * (ColumnSource.java:44-56 runs `SELECT DISTINCT shard FROM t`).
    * O(shards) rows — collected to drive the per-shard page scans.
    *
    * Executed as ONE direct driver-side JDBC statement (r16, guide §1.2:
    * remove work the result does not need). The DISTINCT runs inside the
    * database either way and only O(shards) values cross the wire, but the
    * previous `spark.read.format("jdbc")` form paid a schema-probe query
    * plus a full Spark job (closure cleaning, scheduling, one-task stage)
    * per poll — pure overhead in the reference's hottest loop, where this
    * is called once per 50 ms cycle. Same rows, same sort, no Spark job.
    */
  def discoverShardsJdbc(
      spark: SparkSession, url: String, table: String, shardCol: String,
      dialect: PagingDialect = PagingDialect.OffsetFetch): Seq[String] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT DISTINCT ${dialect.quoteIdentifier(shardCol)} AS shard FROM $table")
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (rs.next()) buf += rs.getString(1)
      buf.toSeq.sorted
    } finally conn.close()
  }

  private def sqlStringLiteral(v: String): String = "'" + v.replace("'", "''") + "'"

  /** [[viaJdbc]]'s default (`SELECT *`) page read under a schema the caller
    * resolved once ([[tableSchema]]) — the poll loop's per-cycle form (r16,
    * guide §1.2 — remove per-cycle fixed costs): the page schema cannot
    * change mid-run, so it skips [[viaJdbc]]'s schema-probe round-trip. */
  def viaJdbcResolved(
      spark: SparkSession,
      url: String,
      table: String,
      shardCol: String,
      sortCols: Seq[String],
      offsets: Map[String, Long],
      pageSize: Long,
      shards: Seq[String],
      dialect: PagingDialect,
      schema: StructType): DataFrame = {
    require(shards.nonEmpty, "viaJdbcResolved needs at least one shard value")
    jdbcScan(spark, url, shards.map(sh => pageSql(table, shardCol, sortCols, sh,
      offsets.getOrElse(sh, 0L), pageSize, dialect)), schema)
  }

  /** The schema of `SELECT * FROM table`, from the Spark JDBC source's own
    * schema probe (one `WHERE 1=0` round-trip, no Spark job).
    * Every page and delta query of the poll loops selects all columns of
    * one table, so this is the schema [[viaJdbcResolved]] and [[jdbcScan]]
    * read them under — resolved once per run, before the first cycle. */
  def tableSchema(spark: SparkSession, url: String, table: String): StructType =
    querySchema(spark, url, s"SELECT * FROM $table")

  /** The result schema of `query`, from the JDBC source's schema probe. */
  private def querySchema(spark: SparkSession, url: String, query: String): StructType =
    spark.read.format("jdbc").option("url", url).option("query", query).load().schema

  /** JDBC cursor batch (rows per network round-trip) of every [[jdbcScan]]
    * query, so a big page streams instead of arriving in one buffer. */
  private val FetchSize = 1000

  /** The one live-source read: each element of `sqls` runs in its own task
    * (partition i ↔ sqls(i)) and its result set is converted under the
    * KNOWN `schema` by Spark's own JDBC row converter
    * (`JdbcUtils.resultSetToSparkInternalRows` under the URL's
    * [[JdbcDialects]] dialect — the conversion the generic JDBC source's
    * scan runs, so every type it reads reads the same here). The rows stay
    * in Catalyst form: `resultSetToRows` would build an external-Row
    * encoder for every query (3.4 ms each on a 4-core host, against 0.1 ms
    * to read a 30-row page), and `createDataFrame` would convert each row
    * back. Page reads ([[viaJdbc]], [[viaJdbcResolved]]) and the CDC loop's
    * delta pull all come through here; rows per query are bounded by the
    * caller's paging/delta predicate, exactly like the generic source's
    * per-partition result sets. */
  def jdbcScan(spark: SparkSession, url: String, sqls: Seq[String],
      schema: StructType): DataFrame = {
    val rdd = spark.sparkContext.parallelize(sqls, math.max(sqls.size, 1))
      .mapPartitions { it =>
        val dialect = JdbcDialects.get(url)
        val metrics = TaskContext.get().taskMetrics().inputMetrics
        it.flatMap { q =>
          val conn = java.sql.DriverManager.getConnection(url)
          try {
            val st = conn.createStatement()
            st.setFetchSize(FetchSize)
            // the converter refills one mutable row: copy each before the
            // connection closes
            shims.jdbcInternalRows(st.executeQuery(q), dialect, schema, metrics)
              .map(_.copy()).toVector
          } finally conn.close()
        }
      }
    shims.internalCreateDataFrame(spark, rdd, schema)
  }

  /** Advance the offset state after a page read: offset' = offset + rows
    * actually read (the reference's `offset += rowCount`,
    * SnowflakeProcessFunction.java:113). Collects O(shards) counts only.
    */
  def nextOffsets(
      pageResult: DataFrame,
      shardCol: String,
      prior: Map[String, Long]): Map[String, Long] = {
    val counts = pageResult
      .groupBy(col(shardCol)).agg(count(lit(1)).as("__n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    (prior.keySet ++ counts.keySet)
      .map(k => k -> (prior.getOrElse(k, 0L) + counts.getOrElse(k, 0L)))
      .toMap
  }
}
