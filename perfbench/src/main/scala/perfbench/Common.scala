package perfbench

import graft.sinks.VersionedTable
import java.sql.{Connection, DriverManager, SQLException}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Operation accounting, output checks and the metrics of one run. */
final class Outcome {
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  @volatile var correct = true
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]

  /** Add to a per-layer metric that both parts of a workload contribute to. */
  def addLayer(name: String, v: Double): Unit = layer(name) = layer.getOrElse(name, 0.0) + v

  def op(ok: Boolean): Unit = {
    attempted.incrementAndGet()
    if (!ok) failed.incrementAndGet()
  }

  /** An output check: one operation, and the run is incorrect if it fails. */
  def check(name: String, ok: Boolean, why: => String): Unit = {
    op(ok)
    if (!ok) {
      correct = false
      System.err.println(s"[perfbench] check failed: $name: $why")
    }
  }
}

/** Everything a workload needs: the session, a private work directory,
  * the arguments, the tracer and (traced runs only) the job listener. */
final class Ctx(var spark: SparkSession, val work: String, val seed: Long,
    val seconds: Int, val traced: Boolean, val nproc: Int) {
  val tracer = new Tracer
  val listener: Option[JobListener] = if (traced) Some(new JobListener) else None
  val out = new Outcome
  /** Streaming queries that ended with an error, counted from outside. */
  val restarts = new AtomicLong()
  /** Seconds from process start of the runner to a ready session. */
  var sessionStartS = 0.0
  /** Mutations per second of the live part's generator. */
  var liveRate: Double = Gen.LiveRate
  /** Median input staging time of each part of the workload, summed. */
  var stagingS = 0.0
  private val n = new AtomicInteger()

  def fresh(name: String): String = s"$work/$name-${n.incrementAndGet()}"
  def next(): Int = n.incrementAndGet()

  def attach(): Unit = {
    listener.foreach(spark.sparkContext.addSparkListener)
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.exception.isDefined) restarts.incrementAndGet()
    })
  }

  /** Wait until every listener event posted so far has been delivered. */
  def drainEvents(): Unit = org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)

  /** Listener counts for every instance of span `name`, under `prefix`. */
  def spanCounts(prefix: String, name: String): Seq[(String, Double)] = {
    drainEvents()
    listener.map(_.spanCounts(prefix, tracer.named(name))).getOrElse(Nil)
  }
}

object Clock {
  def ms(): Long = System.currentTimeMillis()
  def secondsSince(t0Nanos: Long): Double = (System.nanoTime() - t0Nanos) / 1e9
  def msSince(t0Nanos: Long): Double = (System.nanoTime() - t0Nanos) / 1e6

  def timeMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, msSince(t0))
  }
}

/** In-process Derby standing in for the warehouse. Column names are
  * created quoted and lower case, as graft quotes them in its queries. */
object Derby {
  def url(db: String, counting: Boolean): String =
    (if (counting) CountingJdbc.Prefix else "jdbc:derby:") + s"memory:$db"

  def withConn[T](db: String, create: Boolean = false)(f: Connection => T): T = {
    val c = DriverManager.getConnection(s"jdbc:derby:memory:$db" + (if (create) ";create=true" else ""))
    try f(c) finally c.close()
  }

  def exec(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.execute(sql) finally st.close()
  }

  def drop(db: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
    catch { case _: SQLException => () } // Derby reports a successful drop as an exception
}

/** Storage facts of a table directory tree. */
object Disk {
  def files(root: String): Seq[java.io.File] = {
    def go(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(go) else Seq(f)
    go(new java.io.File(root.stripPrefix("file:")))
  }

  def parquetFiles(root: String): Seq[java.io.File] =
    files(root).filter(f => f.getName.endsWith(".parquet"))

  def bytes(root: String): Long = files(root).map(_.length).sum

  def rmrf(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(go))
      f.delete(); ()
    }
    go(new java.io.File(path))
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** Storage metrics of a versioned table and its Iceberg export. */
object Storage {
  def describe(ctx: Ctx, tablePath: String, exportPath: String, liveRows: Long): Unit = {
    val L = ctx.out.layer
    val files = Disk.parquetFiles(tablePath)
    L("sinks.versions") = VersionedTable.versions(ctx.spark, tablePath).size.toDouble
    L("sinks.data_files") = files.size.toDouble
    L("sinks.data_bytes_per_row") = files.map(_.length).sum.toDouble / math.max(1L, liveRows)
    L("sinks.iceberg_metadata_bytes") = Disk.bytes(s"$exportPath/metadata").toDouble
  }

  /** Merge-on-read delete directories in the latest version. */
  def deleteDirs(spark: SparkSession, tablePath: String): Int = {
    val versions = VersionedTable.versions(spark, tablePath)
    VersionedTable.readManifestForTest(spark, tablePath, versions.last).deletes.size
  }
}
