package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** INDEPENDENT reader of Apache Iceberg format-v2 metadata — the consumer
  * side of [[graft.sinks.IcebergExport]], sharing NO code with it: the
  * metadata JSON is parsed with Jackson, the manifest lists and manifests
  * are decoded as generic Avro, and every structure is resolved per the
  * PUBLIC Iceberg table spec (metadata.json → current-snapshot-id →
  * snapshot.manifest-list → manifest_file.manifest_path → manifest_entry
  * .data_file.file_path), so it reads what any external Iceberg tool would
  * read — the proof that the exporter's output is real Iceberg metadata and
  * not a private dialect. Field-id conformance is checked, not assumed:
  * [[manifestListFieldIds]] / [[manifestEntryFieldIds]] surface the `field-id`
  * attributes actually present in the Avro schemas for the spec to assert
  * against the spec's reserved ids (500-517 for manifest lists, 0-4/100-134
  * for manifest entries).
  *
  * Resolution starts at `metadata/version-hint.text` (the HadoopCatalog
  * convention) or an explicit metadata.json path. Time travel: any
  * snapshot-id in the metadata's snapshot list is readable
  * ([[readSnapshot]]), exactly as Iceberg's own `snapshot-id` read option.
  */
object IcebergRead {

  final case class SnapshotInfo(snapshotId: Long, sequenceNumber: Long,
      timestampMs: Long, manifestList: String, schemaId: Int)

  /** Schema fields as (id, name, iceberg type name). `schemaFields` is the
    * CURRENT schema; `schemas` carries every schema version in the metadata
    * (additive evolution: each snapshot resolves its own via
    * [[SnapshotInfo.schemaId]], the spec's schemas-list model). */
  final case class TableMeta(formatVersion: Int, tableUuid: String,
      currentSnapshotId: Long, snapshots: Seq[SnapshotInfo],
      schemaFields: Seq[(Int, String, String)],
      partitionFields: Seq[(String, String, Int)],
      schemas: Map[Int, Seq[(Int, String, String)]] = Map.empty,
      refs: Map[String, (Long, String)] = Map.empty,
      nameMapping: Map[String, Int] = Map.empty,
      sortOrders: Map[Int, Seq[(Int, String, String)]] = Map.empty) {
    def schemaFieldNames: Seq[String] = schemaFields.map(_._2)
    /** Resolve a snapshot REFERENCE (spec "Snapshot References": a named
      * branch or tag) to its snapshot id — the named time-travel handle
      * (`VERSION AS OF '<name>'`). Loud on unknown names; the resolved id
      * must exist in the snapshot list (readSnapshot re-checks). */
    def refSnapshotId(name: String): Long =
      refs.getOrElse(name, throw new IllegalArgumentException(
        s"no snapshot ref '$name' in metadata (have ${refs.keys.toSeq.sorted.mkString(",")})"))._1
    def schemaFieldsOf(schemaId: Int): Seq[(Int, String, String)] =
      schemas.getOrElse(schemaId,
        throw new IllegalArgumentException(s"no schema with id $schemaId"))
    def fieldName(id: Int): String = fieldOf(id)._2
    def fieldType(id: Int): String = fieldOf(id)._3
    private def fieldOf(id: Int): (Int, String, String) =
      schemaFields.find(_._1 == id).getOrElse(
        throw new IllegalArgumentException(s"no schema field with id $id"))
  }

  /** One referenced file: path, content (0 = data, 2 = equality deletes),
    * its data/delete sequence number, partition values (by partition field
    * name, stringified), equality field ids (delete files), counts, and the
    * per-file column bounds (field id → raw spec-serialized bytes). */
  final case class DataFileInfo(path: String, content: Int, sequenceNumber: Long,
      partition: Map[String, String], equalityIds: Seq[Int],
      recordCount: Long, sizeBytes: Long,
      lowerBounds: Map[Int, Array[Byte]] = Map.empty,
      upperBounds: Map[Int, Array[Byte]] = Map.empty,
      sortOrderId: Option[Int] = None)

  /** Deserialize a spec Appendix-D single value for the bound kinds this
    * reader prunes on, by the TYPE'S byte width — `long` is 8-byte LE but
    * `int` is 4-byte LE per the spec, so an external table with bounds on
    * an int column must decode with getInt, not getLong (which would throw
    * BufferUnderflowException on a conformant 4-byte buffer; ADVICE r12).
    * `string` is UTF-8. */
  private def boundValue(icebergType: String, bytes: Array[Byte]): Either[Long, String] =
    icebergType match {
      case "long" if bytes.length == 4 =>
        // a PRE-PROMOTION manifest on an int→long promoted chain: the old
        // manifests keep the narrow 4-byte encoding and the reader widens
        // on read (spec Schema Evolution; r15)
        Left(java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt.toLong)
      case "long" =>
        Left(java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong)
      case "int" =>
        Left(java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt.toLong)
      case "string" => Right(new String(bytes, "UTF-8"))
      case other => throw new IllegalArgumentException(
        s"range pruning on $other bounds not supported")
    }

  private val mapper = new ObjectMapper()

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readBytes(filesystem: FileSystem, p: Path): Array[Byte] = {
    val in = filesystem.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** Resolve the current metadata.json of a table root via
    * `metadata/version-hint.text` (HadoopCatalog convention). */
  def currentMetadataPath(spark: SparkSession, tableRoot: String): String = {
    val filesystem = fs(spark, tableRoot)
    val hint = new Path(new Path(tableRoot, "metadata"), "version-hint.text")
    require(filesystem.exists(hint), s"no version-hint.text under $tableRoot/metadata")
    val v = new String(readBytes(filesystem, hint), "UTF-8").trim.toInt
    filesystem.makeQualified(
      new Path(new Path(tableRoot, "metadata"), s"v$v.metadata.json")).toString
  }

  /** Parse a metadata.json per the v2 spec. */
  def tableMeta(spark: SparkSession, metadataPath: String): TableMeta = {
    val filesystem = fs(spark, metadataPath)
    val root = mapper.readTree(readBytes(filesystem, new Path(metadataPath)))
    val fv = root.get("format-version").asInt()
    require(fv == 2, s"expected format-version 2, got $fv")
    val currentSchemaId = root.get("current-schema-id").asInt()
    val allSchemas: Map[Int, Seq[(Int, String, String)]] =
      iter(root.get("schemas")).map { s =>
        s.get("schema-id").asInt() -> iter(s.get("fields"))
          .map(f => (f.get("id").asInt(), f.get("name").asText(),
            f.get("type").asText())).toSeq
      }.toMap
    val fields = allSchemas.getOrElse(currentSchemaId,
      throw new IllegalArgumentException(
        s"current-schema-id $currentSchemaId not in schemas"))
    val defaultSpecId = root.get("default-spec-id").asInt()
    val spec = iter(root.get("partition-specs"))
      .find(_.get("spec-id").asInt() == defaultSpecId)
      .getOrElse(throw new IllegalArgumentException(
        s"default-spec-id $defaultSpecId not in partition-specs"))
    val partFields = iter(spec.get("fields")).map { f =>
      (f.get("name").asText(), f.get("transform").asText(), f.get("source-id").asInt())
    }.toSeq
    val snaps = iter(root.get("snapshots")).map { s =>
      // schema-id is optional per the spec; absent ⇒ the current schema
      val sid = Option(s.get("schema-id")).map(_.asInt()).getOrElse(currentSchemaId)
      SnapshotInfo(s.get("snapshot-id").asLong(), s.get("sequence-number").asLong(),
        s.get("timestamp-ms").asLong(), s.get("manifest-list").asText(), sid)
    }.toSeq
    // refs are optional in the spec (older writers omit them)
    val refs: Map[String, (Long, String)] = Option(root.get("refs")).map { r =>
      import scala.jdk.CollectionConverters._
      r.properties().asScala.map { e =>
        e.getKey -> (e.getValue.get("snapshot-id").asLong(),
          e.getValue.get("type").asText())
      }.toMap
    }.getOrElse(Map.empty)
    // schema.name-mapping.default (spec "Name Mapping Serialization"): the
    // physical-file-column-name → field-id map for data files without
    // embedded ids — the spec's answer to RENAMED columns over name-mapped
    // files. A JSON array serialized as a string property.
    val nameMapping: Map[String, Int] = (for {
      props <- Option(root.get("properties"))
      nm <- Option(props.get("schema.name-mapping.default"))
    } yield {
      iter(mapper.readTree(nm.asText())).flatMap { entry =>
        val id = entry.get("field-id").asInt()
        iter(entry.get("names")).map(_.asText() -> id)
      }.toMap
    }).getOrElse(Map.empty)
    // sort-orders (spec §Sort Orders; r16): order-id → identity-transform
    // (source-id, direction, null-order) fields. Order 0 is the reserved
    // unsorted order (empty fields). Optional — a foreign writer may omit
    // the list entirely.
    val sortOrders: Map[Int, Seq[(Int, String, String)]] =
      Option(root.get("sort-orders")).map { so =>
        iter(so).map { o =>
          o.get("order-id").asInt() -> iter(o.get("fields")).map { f =>
            (f.get("source-id").asInt(), f.get("direction").asText(),
              f.get("null-order").asText())
          }.toSeq
        }.toMap
      }.getOrElse(Map.empty)
    TableMeta(fv, root.get("table-uuid").asText(),
      root.get("current-snapshot-id").asLong(), snaps, fields, partFields,
      allSchemas, refs, nameMapping, sortOrders)
  }

  private def iter(n: JsonNode): Iterator[JsonNode] = {
    import scala.jdk.CollectionConverters._
    n.elements().asScala
  }

  private def avroRecords(filesystem: FileSystem, p: Path): (org.apache.avro.Schema, Seq[GenericRecord]) = {
    val reader = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(readBytes(filesystem, p)),
      new GenericDatumReader[GenericRecord]())
    try {
      val out = scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
      while (reader.hasNext) out += reader.next()
      (reader.getSchema, out.toSeq)
    } finally reader.close()
  }

  /** The `field-id` attribute of each top-level field in a manifest LIST's
    * Avro schema — for spec conformance assertions. */
  def manifestListFieldIds(spark: SparkSession, manifestListPath: String): Map[String, Int] = {
    val (schema, _) = avroRecords(fs(spark, manifestListPath), new Path(manifestListPath))
    fieldIds(schema)
  }

  /** field-ids of the manifest_entry schema (top level + the data_file
    * struct's fields, prefixed "data_file."). */
  def manifestEntryFieldIds(spark: SparkSession, manifestPath: String): Map[String, Int] = {
    val (schema, _) = avroRecords(fs(spark, manifestPath), new Path(manifestPath))
    val top = fieldIds(schema)
    val df = schema.getField("data_file").schema()
    top ++ fieldIds(df).map { case (k, v) => s"data_file.$k" -> v }
  }

  private def fieldIds(schema: org.apache.avro.Schema): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    schema.getFields.asScala.flatMap { f =>
      Option(f.getObjectProp("field-id")).collect {
        case i: java.lang.Integer => f.name() -> i.intValue()
        case l: java.lang.Long    => f.name() -> l.intValue()
      }
    }.toMap
  }

  /** Every live file of a snapshot (data AND equality-delete files):
    * manifest list → manifests → entries with status != DELETED(2). */
  def allFiles(spark: SparkSession, meta: TableMeta, snapshotId: Long): Seq[DataFileInfo] = {
    val snap = meta.snapshots.find(_.snapshotId == snapshotId).getOrElse(
      throw new IllegalArgumentException(s"snapshot $snapshotId not in metadata " +
        s"(have ${meta.snapshots.map(_.snapshotId).mkString(",")})"))
    val filesystem = fs(spark, snap.manifestList)
    val (_, manifests) = avroRecords(filesystem, new Path(snap.manifestList))
    manifests.flatMap { m =>
      val mPath = m.get("manifest_path").toString
      val (_, entries) = avroRecords(filesystem, new Path(mPath))
      entries.filter(_.get("status").asInstanceOf[Int] != 2).map { e =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        val part = df.get("partition").asInstanceOf[GenericRecord]
        // OPTIONAL fields: a foreign writer may omit them entirely, and a
        // delete manifest under a different spec carries an empty partition
        // struct — Avro's Record.get(name) THROWS on an absent field, so
        // resolve through the record's own schema first
        def opt(rec: GenericRecord, name: String): Option[AnyRef] =
          Option(rec.getSchema.getField(name)).flatMap(f => Option(rec.get(f.pos())))
        val partVals = meta.partitionFields.map { case (name, _, _) =>
          name -> String.valueOf(opt(part, name).orNull)
        }.toMap
        val eqIds = opt(df, "equality_ids").toSeq.flatMap { ids =>
          import scala.jdk.CollectionConverters._
          ids.asInstanceOf[java.util.List[Integer]].asScala.map(_.intValue()).toSeq
        }
        def bounds(field: String): Map[Int, Array[Byte]] =
          opt(df, field).map { l =>
            import scala.jdk.CollectionConverters._
            l.asInstanceOf[java.util.List[GenericRecord]].asScala.map { kv =>
              val buf = kv.get("value").asInstanceOf[java.nio.ByteBuffer]
              val arr = new Array[Byte](buf.remaining()); buf.duplicate().get(arr)
              kv.get("key").asInstanceOf[Int] -> arr
            }.toMap
          }.getOrElse(Map.empty)
        DataFileInfo(df.get("file_path").toString,
          df.get("content").asInstanceOf[Int],
          e.get("sequence_number").asInstanceOf[Long],
          partVals, eqIds,
          df.get("record_count").asInstanceOf[Long],
          df.get("file_size_in_bytes").asInstanceOf[Long],
          bounds("lower_bounds"), bounds("upper_bounds"),
          opt(df, "sort_order_id").map(_.asInstanceOf[java.lang.Integer].intValue()))
      }
    }
  }

  /** The DATA files of a snapshot (content 0). */
  def dataFiles(spark: SparkSession, meta: TableMeta, snapshotId: Long): Seq[DataFileInfo] =
    allFiles(spark, meta, snapshotId).filter(_.content == 0)

  /** The EQUALITY-DELETE files of a snapshot (content 2). */
  def deleteFiles(spark: SparkSession, meta: TableMeta, snapshotId: Long): Seq[DataFileInfo] =
    allFiles(spark, meta, snapshotId).filter(_.content == 2)

  /** Read the CURRENT snapshot of the table rooted at `tableRoot`. */
  def read(spark: SparkSession, tableRoot: String): DataFrame = {
    val meta = tableMeta(spark, currentMetadataPath(spark, tableRoot))
    readSnapshot(spark, meta, meta.currentSnapshotId)
  }

  /** Spark type for an Iceberg primitive type name — used to NULL-backfill
    * a schema column no live data file physically carries (a just-added
    * column in an evolution chain). */
  private def sparkType(icebergType: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    icebergType match {
      case "long"        => LongType
      case "int"         => IntegerType
      case "string"      => StringType
      case "double"      => DoubleType
      case "float"       => FloatType
      case "boolean"     => BooleanType
      case "date"        => DateType
      case "timestamptz" => TimestampType
      case "timestamp"   => TimestampNTZType
      case "binary"      => BinaryType
      case d if d.startsWith("decimal") =>
        val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")").split(",").map(_.trim.toInt)
        DecimalType(p, s)
      case other => throw new IllegalArgumentException(s"unsupported iceberg type $other")
    }
  }

  /** Canonical form of a file URI for position-delete matching: writers
    * disagree on `file:/p` vs `file:///p`; the spec key is the data file's
    * full URI, so both sides normalize before the equality join. */
  private def canonUri(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_replace(c, "^file:/+", "file:///")

  /** Time travel: read a specific snapshot-id listed in the metadata,
    * projected to THAT snapshot's schema (resolved through the metadata's
    * schemas list by the snapshot's schema-id; columns no live file carries
    * are NULL-backfilled — the spec's read-time evolution rule). Applies
    * the v2 MERGE-ON-READ rules when the snapshot carries delete files:
    *
    *  - POSITION deletes (content 1, r13): a `(file_path, pos)` row deletes
    *    that ordinal row of that data file, for data files with sequence
    *    number ≤ the delete's — matched here against the parquet reader's
    *    own `_metadata.file_path` / `_metadata.row_index` (no row-id
    *    column needed in the data), one anti join;
    *  - EQUALITY deletes (content 2): apply to data files with STRICTLY
    *    LOWER data sequence — per key, a row survives iff no later delete
    *    file contains its key (key columns resolved from `equality_ids`).
    *    ONE key-hash join — exactly the trade Iceberg's own readers make. */
  def readSnapshot(spark: SparkSession, meta: TableMeta, snapshotId: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, max}
    val files = allFiles(spark, meta, snapshotId)
    val datas = files.filter(_.content == 0)
    val posDels = files.filter(_.content == 1)
    val eqDels = files.filter(_.content == 2)
    require(datas.nonEmpty, s"snapshot $snapshotId lists no data files")
    val snapInfo = meta.snapshots.find(_.snapshotId == snapshotId).get
    // the snapshot's OWN schema (fall back to current for fixtures whose
    // metadata predates the schemas map)
    val outFields: Seq[(Int, String, String)] =
      if (meta.schemas.nonEmpty) meta.schemaFieldsOf(snapInfo.schemaId)
      else meta.schemaFields
    // field ids whose type differs across the schemas list: a PROMOTED
    // chain (int→long / float→double, spec Schema Evolution) — its data
    // files physically disagree on the column type, so the single
    // declared-schema read must give way to per-sequence reads widened to
    // the snapshot schema (r15)
    val promotedIds: Set[Int] = meta.schemas.values.flatten
      .groupBy(_._1).collect { case (id, fs) if fs.map(_._3).toSet.size > 1 => id }.toSet
    def project(df: DataFrame): DataFrame = {
      val present = df.columns.toSet
      val filled = outFields.foldLeft(df) { case (d, (_, name, typ)) =>
        if (present(name)) d else d.withColumn(name, lit(null).cast(sparkType(typ)))
      }
      // cast pins the output to the SNAPSHOT schema's types (a no-op on
      // unpromoted chains; the widen-on-read on promoted ones)
      filled.select(outFields.map(f => col(f._2).cast(sparkType(f._3)).as(f._2)): _*)
    }
    /** Widen a file group's promoted columns to the snapshot schema type
      * so cross-sequence unionByName never sees conflicting types. */
    def widen(df: DataFrame): DataFrame =
      outFields.filter(f => promotedIds.contains(f._1)).foldLeft(df) {
        case (d, (_, name, typ)) =>
          if (d.columns.contains(name)) d.withColumn(name, col(name).cast(sparkType(typ)))
          else d
      }
    // name mapping (renamed chains): a file's PHYSICAL column resolves by
    // mapped field id to the snapshot schema's logical name; unmapped or
    // not-in-this-schema columns pass through (project drops extras)
    def applyMapping(df: DataFrame): DataFrame =
      if (meta.nameMapping.isEmpty) df
      else df.columns.foldLeft(df) { (d, c) =>
        (for {
          id <- meta.nameMapping.get(c)
          (_, logical, _) <- outFields.find(_._1 == id) if logical != c
        } yield d.withColumnRenamed(c, logical)).getOrElse(d)
      }
    if (posDels.isEmpty && eqDels.isEmpty && meta.nameMapping.isEmpty &&
        promotedIds.isEmpty)
      // the snapshot schema is metadata: read with it, no inference job
      // (columns no file carries read as NULL, and project only reorders)
      project(spark.read.schema(org.apache.spark.sql.types.StructType(outFields.map {
        case (_, name, typ) => org.apache.spark.sql.types.StructField(name, sparkType(typ))
      })).parquet(datas.map(_.path): _*))
    else {
      // per-sequence groups: a commit is wholly pre- or post-rename (and
      // pre- or post-promotion), so the mapping applies uniformly within a
      // group, widen() lifts promoted columns to the snapshot type, and
      // unionByName merges the logical columns across groups
      var dataDf = datas.groupBy(_.sequenceNumber).toSeq.sortBy(_._1).map { case (s, fs) =>
        val base = widen(applyMapping(
          spark.read.option("mergeSchema", "true").parquet(fs.map(_.path): _*)))
        val tagged = if (posDels.isEmpty) base
          else base.withColumn("__fp", canonUri(col("_metadata.file_path")))
            .withColumn("__pos", col("_metadata.row_index"))
        tagged.withColumn("__seq", lit(s))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      if (posDels.nonEmpty) {
        val pd = posDels.groupBy(_.sequenceNumber).toSeq.map { case (s, fs) =>
          spark.read.parquet(fs.map(_.path): _*)
            .select(canonUri(col("file_path")).as("__dfp"), col("pos").as("__dpos"),
              lit(s).as("__pdseq"))
        }.reduce(_ unionByName _)
        dataDf = dataDf.join(pd,
          dataDf("__fp") === pd("__dfp") && dataDf("__pos") === pd("__dpos") &&
            dataDf("__seq") <= pd("__pdseq"),
          "left_anti")
      }
      val merged =
        if (eqDels.isEmpty) dataDf
        else {
          val keyNames = {
            val idSets = eqDels.map(_.equalityIds).distinct
            require(idSets.size == 1 && idSets.head.nonEmpty,
              s"inconsistent equality_ids across delete files: $idSets")
            idSets.head.map(meta.fieldName)
          }
          // only the equality fields of a delete file count: the spec lets
          // it carry other columns (a data file listed as its own deletes)
          val delDf = eqDels.groupBy(_.sequenceNumber).toSeq.map { case (s, fs) =>
            widen(applyMapping(spark.read.parquet(fs.map(_.path): _*)))
              .select(keyNames.map(col) :+ lit(s).as("__dseq"): _*)
          }.reduce(_ unionByName _)
          val delMax = delDf.groupBy(keyNames.map(col): _*)
            .agg(max(col("__dseq")).as("__dseq"))
          dataDf.join(delMax, keyNames, "left_outer")
            .filter(col("__dseq").isNull || col("__dseq") <= col("__seq"))
        }
      project(merged.drop("__seq", "__dseq", "__fp", "__pos"))
    }
  }

  /** Metadata-level partition pruning: read only the files whose identity
    * partition value for `col` equals `value` — the file-skipping any
    * Iceberg-aware engine performs from the manifests alone. */
  def readPartition(spark: SparkSession, meta: TableMeta, snapshotId: Long,
      col: String, value: String): DataFrame = {
    require(meta.partitionFields.exists(f => f._1 == col && f._2 == "identity"),
      s"$col is not an identity partition field of this table")
    val files = dataFiles(spark, meta, snapshotId).filter(_.partition(col) == value)
    require(files.nonEmpty, s"no files for partition $col=$value")
    spark.read.parquet(files.map(_.path): _*)
  }

  /** The data files a `col BETWEEN lo AND hi` scan must open, decided from
    * the manifests' per-file lower/upper bounds alone (spec field ids
    * 125/128, Appendix-D value decoding via the schema's field type) — the
    * file skipping any Iceberg engine performs. SUPERSET contract: files
    * without bounds for `col` are always kept; callers apply the residual
    * filter. */
  def prunedDataFiles(spark: SparkSession, meta: TableMeta, snapshotId: Long,
      col: String, lo: String, hi: String): Seq[DataFileInfo] = {
    val id = meta.schemaFields.find(_._2 == col).map(_._1).getOrElse(
      throw new IllegalArgumentException(s"no schema field named $col"))
    val typ = meta.fieldType(id)
    dataFiles(spark, meta, snapshotId).filter { f =>
      (f.lowerBounds.get(id), f.upperBounds.get(id)) match {
        case (Some(l), Some(u)) =>
          (boundValue(typ, l), boundValue(typ, u)) match {
            case (Left(fl), Left(fu))   => fu >= lo.toLong && fl <= hi.toLong
            case (Right(sl), Right(su)) => su >= lo && sl <= hi
            case _                      => true
          }
        case _ => true // no recorded bounds: never pruned
      }
    }
  }

  /** Range scan through the exported metadata: open only the bound-
    * overlapping files (superset; apply the residual filter on top). */
  def readRange(spark: SparkSession, meta: TableMeta, snapshotId: Long,
      col: String, lo: String, hi: String): DataFrame = {
    val files = prunedDataFiles(spark, meta, snapshotId, col, lo, hi)
    require(files.nonEmpty, s"no files overlap $col in [$lo, $hi]")
    spark.read.parquet(files.map(_.path): _*)
  }

  /** HIDDEN-partition pruning (r14 day/hour; r15 adds month/year): the
    * data files a `sourceCol` micros range scan must open, decided from
    * the partition TRANSFORM values in the manifests alone — the predicate
    * is on the SOURCE column (queries never name the partition field, the
    * whole point of Iceberg hidden partitioning), and this reader projects
    * it through the spec's transform (day/hour fixed-width micros
    * ordinals, month/year CALENDAR-width ordinals via
    * [[IcebergTransforms.timeOrdinal]] — all four MONOTONE in micros, so
    * the range maps exactly). SUPERSET contract like [[prunedDataFiles]]:
    * a file whose partition value is absent (a different spec / foreign
    * writer) is always kept. */
  def prunedDataFilesByTransform(spark: SparkSession, meta: TableMeta,
      snapshotId: Long, sourceCol: String, loMicros: Long,
      hiMicros: Long): Seq[DataFileInfo] = {
    import IcebergTransforms._
    val srcId = meta.schemaFields.find(_._2 == sourceCol).map(_._1).getOrElse(
      throw new IllegalArgumentException(s"no schema field named $sourceCol"))
    val timeTransforms = Set[Transform](Day, Hour, Month, Year)
    val pf = meta.partitionFields.flatMap { case (n, t, sid) =>
      IcebergTransforms.parse(t).filter(tr => sid == srcId && timeTransforms(tr))
        .map(tr => (n, tr))
    }.headOption.getOrElse(throw new IllegalArgumentException(
      s"no time-transform partition field over $sourceCol " +
        s"(partition fields: ${meta.partitionFields.mkString(",")})"))
    val (name, transform) = pf
    val (pLo, pHi) = (timeOrdinal(transform, loMicros), timeOrdinal(transform, hiMicros))
    dataFiles(spark, meta, snapshotId).filter { f =>
      f.partition.get(name).filterNot(_ == "null").map(_.toLong) match {
        case Some(v) => v >= pLo && v <= pHi
        case None    => true // no recorded transform value: never pruned
      }
    }
  }

  /** EQUALITY-probe pruning through a `bucket[N]` or `truncate[W]`
    * partition spec (r15, VERDICT r14 "Next round" #3): hash (or truncate)
    * the probe key exactly as the spec defines — Iceberg murmur3 of the
    * long / UTF-8 form for bucket, floor-to-width for truncate — and keep
    * only files whose manifest partition value matches. From manifests
    * alone; same superset contract (files without a recorded value are
    * kept, and callers apply the residual `sourceCol = key` filter — the
    * bucket is a hash, many keys share it). */
  def prunedDataFilesByKey(spark: SparkSession, meta: TableMeta,
      snapshotId: Long, sourceCol: String,
      key: Either[Long, String]): Seq[DataFileInfo] = {
    import IcebergTransforms._
    val srcId = meta.schemaFields.find(_._2 == sourceCol).map(_._1).getOrElse(
      throw new IllegalArgumentException(s"no schema field named $sourceCol"))
    val pf = meta.partitionFields.flatMap { case (n, t, sid) =>
      IcebergTransforms.parse(t).collect {
        case tr: Bucket if sid == srcId   => (n, tr: Transform)
        case tr: Truncate if sid == srcId => (n, tr: Transform)
      }
    }.headOption.getOrElse(throw new IllegalArgumentException(
      s"no bucket/truncate partition field over $sourceCol " +
        s"(partition fields: ${meta.partitionFields.mkString(",")})"))
    val (name, transform) = pf
    val want: String = (transform, key) match {
      case (Bucket(n), Left(v))    => bucketLong(v, n).toString
      case (Bucket(n), Right(s))   => bucketString(s, n).toString
      case (Truncate(w), Left(v))  => truncateLong(v, w).toString
      case (Truncate(w), Right(s)) => s.take(w.toInt)
      case _ => throw new IllegalStateException("unreachable")
    }
    dataFiles(spark, meta, snapshotId).filter { f =>
      f.partition.get(name).filterNot(_ == "null") match {
        case Some(v) => v == want
        case None    => true // no recorded value: never pruned
      }
    }
  }

  /** Point-lookup scan through a bucket/truncate spec: open only the
    * matching-partition files. Callers apply the residual equality filter
    * (a bucket is a hash — other keys share it). */
  def readKeyThroughBucket(spark: SparkSession, meta: TableMeta,
      snapshotId: Long, sourceCol: String, key: Either[Long, String]): DataFrame = {
    val files = prunedDataFilesByKey(spark, meta, snapshotId, sourceCol, key)
    require(files.nonEmpty, s"no files match $sourceCol probe $key")
    spark.read.parquet(files.map(_.path): _*)
  }

  /** Source-column range scan through the TRANSFORM spec: open only the
    * partition-matching files (superset when the range is not
    * transform-aligned; callers apply the residual source filter). */
  def readSourceRange(spark: SparkSession, meta: TableMeta, snapshotId: Long,
      sourceCol: String, loMicros: Long, hiMicros: Long): DataFrame = {
    val files = prunedDataFilesByTransform(spark, meta, snapshotId,
      sourceCol, loMicros, hiMicros)
    require(files.nonEmpty,
      s"no files overlap $sourceCol in [$loMicros, $hiMicros] micros")
    spark.read.parquet(files.map(_.path): _*)
  }
}
