package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Write-side CHECK constraints — the Delta `ADD CONSTRAINT CHECK` /
  * Iceberg write-validation surface, with a QUARANTINE instead of a batch
  * abort: an append forks into rows satisfying every constraint
  * (committed to the target table) and violating rows (landed in a
  * sibling quarantine table carrying the FIRST violated constraint's
  * name). No row is silently dropped, and no bad row ever reaches the
  * table — the write-side complement of csv_quarantine_ingest's read-side
  * fork.
  *
  * The fork is ONE pass: the violation tag is a single projection
  * (codegen'd chain of the constraint predicates, first hit wins —
  * deterministic because the constraint order is the caller's), then two
  * filtered writes of the same staged frame. At 100 TB both writes stream
  * partition-local — no shuffle is introduced by the fork itself.
  */
object ConstrainedWrite {

  /** Tag each row with the first violated constraint name (null = clean). */
  def violationTag(constraints: Seq[(String, Column)]): Column =
    constraints.foldRight(lit(null).cast("string")) { case ((name, c), acc) =>
      when(!coalesce(c, lit(false)), lit(name)).otherwise(acc)
    }

  /** [[append]] with STREAMING exactly-once semantics for `foreachBatch`:
    * the clean side commits through [[VersionedTable.appendOnce]] (batch-id
    * high-water guard — a replayed micro-batch after a crash lands zero
    * duplicate rows), and the quarantine side writes to a PER-BATCH
    * subdirectory in overwrite mode, so a replay rewrites the identical
    * files instead of appending them twice. Both sides are idempotent per
    * batchId — the whole fork is effectively-once.
    */
  def appendOnce(df: DataFrame, path: String, quarantinePath: String,
      batchId: Long, constraints: Seq[(String, Column)]): Unit = {
    require(constraints.nonEmpty, "constraints must be non-empty")
    graft.core.withPersisted(df.withColumn("_violated", violationTag(constraints))) { tagged =>
      VersionedTable.appendOnce(tagged.filter(col("_violated").isNull).drop("_violated"),
        path, batchId)
      tagged.filter(col("_violated").isNotNull)
        .write.mode("overwrite").parquet(s"$quarantinePath/batch=$batchId")
    }
  }

  /** Append `df` to `path` under the constraints; violators (tagged with
    * `_violated`) land in `quarantinePath`. Returns (accepted, quarantined)
    * row counts. */
  def append(df: DataFrame, path: String, quarantinePath: String,
      constraints: Seq[(String, Column)]): (Long, Long) = {
    require(constraints.nonEmpty, "constraints must be non-empty")
    graft.core.withPersisted(df.withColumn("_violated", violationTag(constraints))) { tagged =>
      val clean = tagged.filter(col("_violated").isNull).drop("_violated")
      val dirty = tagged.filter(col("_violated").isNotNull)
      VersionedTable.append(clean, path)
      dirty.write.mode("append").parquet(quarantinePath)
      (clean.count(), dirty.count())
    }
  }
}
