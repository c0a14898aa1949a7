package graft

import graft.sources.ShardedIngest
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** The JDBC sharded page read (per-shard ORDER BY/OFFSET/FETCH pushed into
  * the database) must return exactly what the declarative parquet-side pager
  * returns for the same (shard, sortCols, offsets, pageSize) contract —
  * Derby in-process stands in for the warehouse endpoint.
  */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graft_spec;create=true"

  test("viaJdbc pages equal the parquet pager's pages") {
    val base = graft.core.eventsTable(spark, sf("sf0.001"))
      .select($"event_id", $"event_type", graft.core.micros($"ts").as("tsu"))
    base.write.format("jdbc")
      .option("url", url).option("dbtable", "events_spec")
      .option("createTableColumnTypes", "event_type VARCHAR(32)")
      .mode(SaveMode.Overwrite).save()

    val offsets = Map("click" -> 7L, "view" -> 123L)
    val shards = ShardedIngest.discoverShardsJdbc(spark, url, "events_spec", "event_type")
    assert(shards == base.select("event_type").distinct()
      .collect().map(_.getString(0)).toSeq.sorted)

    val viaDb = ShardedIngest.viaJdbc(spark, url, "events_spec", "event_type",
        Seq("tsu", "event_id"), offsets, 250L, shards)
      .select($"event_id", $"event_type", $"tsu")
      .as[(Long, String, Long)].collect().toSet
    val viaParquet = ShardedIngest.page(base, "event_type",
        Seq("tsu", "event_id"), offsets, 250L)
      .select($"event_id", $"event_type", $"tsu")
      .as[(Long, String, Long)].collect().toSet
    assert(viaDb == viaParquet && viaDb.nonEmpty)
  }

  test("dialect matrix: page SQL per dialect; LIMIT-dialect scope documented") {
    import ShardedIngest.PagingDialect
    // OffsetFetch (ANSI: Derby/SQL Server/Oracle/DB2) — live-proven in
    // the tests above; LimitOffset (PostgreSQL/MySQL/SQLite/H2/DuckDB) —
    // SQL-generation pinned here. No LIMIT-dialect engine ships in this
    // sandbox (Derby only), so live coverage is single-dialect BY SCOPE:
    // the page clause is the only dialect-dependent token in the query.
    val ansi = ShardedIngest.pageSql("t", "shard", Seq("ts", "id"),
      "cli'ck", offset = 7L, pageSize = 250L, PagingDialect.OffsetFetch)
    assert(ansi ==
      """SELECT * FROM t WHERE "shard" = 'cli''ck'
        |ORDER BY "ts", "id"
        |OFFSET 7 ROWS FETCH NEXT 250 ROWS ONLY""".stripMargin, ansi)
    val lim = ShardedIngest.pageSql("t", "shard", Seq("ts", "id"),
      "view", offset = 0L, pageSize = 100L, PagingDialect.LimitOffset)
    assert(lim ==
      """SELECT * FROM t WHERE "shard" = 'view'
        |ORDER BY "ts", "id"
        |LIMIT 100 OFFSET 0""".stripMargin, lim)
    // Derby itself parses the LIMIT clause nowhere — assert the live path
    // rejects the wrong dialect loudly rather than silently mis-paging
    val e = intercept[Exception] {
      ShardedIngest.viaJdbc(spark, url, "events_spec", "event_type",
        Seq("tsu", "event_id"), Map.empty, 10L, Seq("click"),
        dialect = PagingDialect.LimitOffset).collect()
    }
    assert(e.getMessage != null)
  }

  test("Snowflake dialect: reference-exact page clause, fold-aware quoting, types") {
    import ShardedIngest.PagingDialect
    import graft.sources.SnowflakeTypes
    import org.apache.spark.sql.types._
    // the page clause is the reference's exact emission
    // (SnowflakeProcessFunction.java:100: "… ORDER BY %s LIMIT %d OFFSET %d");
    // unquoted-safe identifiers are uppercased-then-quoted, matching what
    // unquoted CREATE TABLE DDL stored in Snowflake's catalog
    val sf = ShardedIngest.pageSql("CUSTOMERS", "shard", Seq("ts", "id"),
      "vi'ew", offset = 40L, pageSize = 20L, PagingDialect.Snowflake)
    assert(sf ==
      """SELECT * FROM CUSTOMERS WHERE "SHARD" = 'vi''ew'
        |ORDER BY "TS", "ID"
        |LIMIT 20 OFFSET 40""".stripMargin, sf)
    // an identifier that could only exist via quoted DDL passes verbatim —
    // uppercasing it would reference a different (nonexistent) column
    assert(PagingDialect.Snowflake.quoteIdentifier("weird col") == "\"weird col\"")
    assert(PagingDialect.Snowflake.quoteIdentifier("2col") == "\"2col\"")
    assert(PagingDialect.Snowflake.quoteIdentifier("shard_2") == "\"SHARD_2\"")
    // NUMBER(p,s) through the shared Avro-decimal path; integer synonyms are
    // NUMBER(38,0) in the catalog; NTZ is wall-clock, LTZ/TZ are instants
    assert(SnowflakeTypes.toSparkType("NUMBER(38,0)") == DecimalType(38, 0))
    assert(SnowflakeTypes.toSparkType("number(18, 2)") == DecimalType(18, 2))
    assert(SnowflakeTypes.toSparkType("INTEGER") == DecimalType(38, 0))
    assert(SnowflakeTypes.toSparkType("TIMESTAMP_NTZ(9)") == TimestampNTZType)
    assert(SnowflakeTypes.toSparkType("TIMESTAMP_LTZ(9)") == TimestampType)
    assert(SnowflakeTypes.toSparkType("VARCHAR(16777216)") == StringType)
    assert(SnowflakeTypes.toSparkType("FLOAT") == DoubleType)
    assert(SnowflakeTypes.toSparkType("VARIANT") == StringType)
    assert(SnowflakeTypes.toStructType(Seq(
      "C_ID" -> "NUMBER(38,0)", "C_NAME" -> "VARCHAR(64)",
      "C_TS" -> "TIMESTAMP_NTZ(9)")) == StructType(Seq(
      StructField("C_ID", DecimalType(38, 0)),
      StructField("C_NAME", StringType),
      StructField("C_TS", TimestampNTZType))))
    // loud on the unknown and on precision beyond Spark's decimal ceiling
    intercept[IllegalArgumentException](SnowflakeTypes.toSparkType("GEOGRAPHY"))
    intercept[IllegalArgumentException](SnowflakeTypes.toSparkType("NUMBER(39,0)"))
  }

  test("pruned page SQL: projection + residual pushdown pinned; default stays SELECT * (r15)") {
    import ShardedIngest.PagingDialect
    // the pruned Snowflake-dialect emission, byte-pinned: quoted-uppercase
    // projection list, residual AND-ed under the shard equality, the
    // reference's exact page clause
    val sf = ShardedIngest.pageSql("CUSTOMERS", "shard", Seq("ts", "id"),
      "vi'ew", offset = 40L, pageSize = 20L, PagingDialect.Snowflake,
      columns = Seq("id", "shard", "ts"), residual = Some(""""AMT" > 100"""))
    assert(sf ==
      """SELECT "ID", "SHARD", "TS" FROM CUSTOMERS WHERE "SHARD" = 'vi''ew' AND ("AMT" > 100)
        |ORDER BY "TS", "ID"
        |LIMIT 20 OFFSET 40""".stripMargin, sf)
    // no columns + no residual reproduces the reference emission EXACTLY
    assert(ShardedIngest.pageSql("t", "shard", Seq("ts"), "x", 0L, 10L,
      PagingDialect.Snowflake, Nil, None) ==
      ShardedIngest.pageSql("t", "shard", Seq("ts"), "x", 0L, 10L,
        PagingDialect.Snowflake))
    // live against Derby: only the projected columns come back, the
    // residual is database-evaluated, paging offsets index the FILTERED set
    val pruned = ShardedIngest.viaJdbc(spark, url, "events_spec", "event_type",
      Seq("tsu", "event_id"), Map.empty, 5L, Seq("click"),
      columns = Seq("event_id", "event_type"),
      residual = Some(""""event_id" > 3"""))
    assert(pruned.columns.toSeq == Seq("event_id", "event_type"))
    val ids = pruned.select("event_id").as[Long].collect().toSeq.sorted
    assert(ids.forall(_ > 3L) && ids.size <= 5)
  }

  /** The old per-shard generic JDBC relations, unioned: the reference
    * reading each page through Spark's own JDBC source. */
  private def generic(sqls: Seq[String]) = sqls.map(q =>
    spark.read.format("jdbc").option("url", url).option("query", q).load())
    .reduce(_ unionByName _)

  private def sortedRows(df: org.apache.spark.sql.DataFrame,
      key: String = "event_id"): Seq[org.apache.spark.sql.Row] =
    df.collect().toSeq.sortBy(_.getAs[Long](key))

  test("viaJdbc and viaJdbcResolved read what the generic JDBC source reads, default and pruned") {
    import ShardedIngest.PagingDialect.OffsetFetch
    val shards = ShardedIngest.discoverShardsJdbc(spark, url, "events_spec", "event_type")
    val offsets = Map("click" -> 11L, "view" -> 40L)
    def sqls(columns: Seq[String], residual: Option[String]) = shards.map(sh =>
      ShardedIngest.pageSql("events_spec", "event_type", Seq("tsu", "event_id"), sh,
        offsets.getOrElse(sh, 0L), 60L, OffsetFetch, columns, residual))
    // default page: SELECT *
    val via = ShardedIngest.viaJdbc(spark, url, "events_spec", "event_type",
      Seq("tsu", "event_id"), offsets, 60L, shards)
    val resolved = ShardedIngest.viaJdbcResolved(spark, url, "events_spec", "event_type",
      Seq("tsu", "event_id"), offsets, 60L, shards, OffsetFetch, via.schema)
    val ref = generic(sqls(Nil, None))
    assert(via.schema == ref.schema && resolved.schema == ref.schema)
    assert(sortedRows(via).nonEmpty)
    assert(sortedRows(via) == sortedRows(ref) && sortedRows(resolved) == sortedRows(ref))
    // pruned page: projection + residual, read under the probed schema
    val cols = Seq("event_id", "tsu")
    val res = Some(""""event_id" > 40""")
    val pruned = ShardedIngest.viaJdbc(spark, url, "events_spec", "event_type",
      Seq("tsu", "event_id"), offsets, 60L, shards, columns = cols, residual = res)
    val prunedResolved = ShardedIngest.jdbcScan(spark, url, sqls(cols, res), pruned.schema)
    val prunedRef = generic(sqls(cols, res))
    assert(pruned.columns.toSeq == cols && pruned.schema == prunedRef.schema)
    assert(sortedRows(pruned).nonEmpty)
    assert(sortedRows(pruned) == sortedRows(prunedRef) &&
      sortedRows(prunedResolved) == sortedRows(prunedRef))
  }

  test("jdbcScan converts every column type the generic JDBC source reads") {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      c.createStatement().executeUpdate(
        """CREATE TABLE typed_spec (shard VARCHAR(8), id BIGINT, i INT, si SMALLINT,
          |d DECIMAL(12, 3), x DOUBLE, r REAL, ok BOOLEAN, dt DATE, ts TIMESTAMP,
          |b VARCHAR(16) FOR BIT DATA, txt CLOB)""".stripMargin)
      val ins = c.prepareStatement(
        "INSERT INTO typed_spec VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?)")
      for (k <- 1 to 12) {
        ins.setString(1, if (k % 2 == 0) "even" else "odd")
        ins.setLong(2, k.toLong)
        if (k % 4 == 0) {
          import java.sql.Types._
          Seq(INTEGER, SMALLINT, DECIMAL, DOUBLE, REAL, BOOLEAN, DATE, TIMESTAMP,
            VARBINARY, CLOB).zipWithIndex.foreach { case (t, j) => ins.setNull(j + 3, t) }
        } else {
          ins.setInt(3, k * 1000); ins.setShort(4, k.toShort)
          ins.setBigDecimal(5, new java.math.BigDecimal(s"$k.125"))
          ins.setDouble(6, k / 3.0); ins.setFloat(7, k / 7.0f)
          ins.setBoolean(8, k % 3 == 0)
          ins.setDate(9, java.sql.Date.valueOf(s"2024-01-${10 + k}"))
          ins.setTimestamp(10, java.sql.Timestamp.valueOf(s"2024-02-03 04:05:${10 + k}.123456"))
          ins.setBytes(11, Array.tabulate(k)(j => (k * 17 + j).toByte))
          ins.setString(12, s"row $k")
        }
        ins.executeUpdate()
      }
    } finally c.close()
    val shards = ShardedIngest.discoverShardsJdbc(spark, url, "typed_spec", "SHARD")
    val via = ShardedIngest.viaJdbc(spark, url, "typed_spec", "SHARD", Seq("ID"),
      Map("odd" -> 1L), 4L, shards)
    val ref = generic(shards.map(sh => ShardedIngest.pageSql("typed_spec", "SHARD", Seq("ID"),
      sh, if (sh == "odd") 1L else 0L, 4L, ShardedIngest.PagingDialect.OffsetFetch)))
    assert(via.schema == ref.schema)
    assert(via.schema.map(_.dataType).contains(org.apache.spark.sql.types.BinaryType))
    val got = sortedRows(via, "ID")
    assert(got.size == 8 && got == sortedRows(ref, "ID"))
  }

  test("viaJdbc offset advance replays the incremental contract") {
    val shards = ShardedIngest.discoverShardsJdbc(spark, url, "events_spec", "event_type")
    val page1 = ShardedIngest.viaJdbc(spark, url, "events_spec", "event_type",
      Seq("tsu", "event_id"), Map.empty, 100L, shards)
    val next = ShardedIngest.nextOffsets(page1, "event_type", Map.empty)
    val page2 = ShardedIngest.viaJdbc(spark, url, "events_spec", "event_type",
      Seq("tsu", "event_id"), next, 100L, shards)
    // pages are disjoint and contiguous: together they equal the first 200/shard
    val bothPages = page1.select("event_id").unionByName(page2.select("event_id"))
      .as[Long].collect().toSet
    val base = graft.core.eventsTable(spark, sf("sf0.001"))
      .select($"event_id", $"event_type", graft.core.micros($"ts").as("tsu"))
    val first200 = ShardedIngest.page(base, "event_type",
        Seq("tsu", "event_id"), Map.empty, 200L)
      .select("event_id").as[Long].collect().toSet
    assert(page1.count() + page2.count() == bothPages.size) // disjoint
    assert(bothPages == first200)
  }
}
