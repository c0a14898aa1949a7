package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement, ResultSet, Statement}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary, in wall-clock ms. `id` is the
  * poll cycle (or round) the span belongs to. Jobs are attributed to a span
  * by `group` when the span's thread set that Spark job group, otherwise by
  * time window (the stream thread, whose group Spark sets per query). */
final case class Span(name: String, id: Long, startMs: Long, endMs: Long,
    group: Option[String])

/** In-memory span store, summarized when the run ends. Disabled, `span`
  * is a plain call. */
final class Tracer {
  @volatile var enabled = false
  val spans = new ConcurrentLinkedQueue[Span]()

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Time `f` as span `name`; with `group`, Spark jobs `f` launches from
    * this thread carry that job group. */
  def span[T](spark: org.apache.spark.sql.SparkSession, name: String, id: Long,
      group: Boolean = true)(f: => T): T = {
    if (!enabled) f
    else {
      val g = if (group) Some(s"perfbench.$name") else None
      g.foreach(spark.sparkContext.setJobGroup(_, name))
      val t0 = System.currentTimeMillis()
      try f
      finally {
        add(Span(name, id, t0, System.currentTimeMillis(), g))
        if (g.isDefined) spark.sparkContext.clearJobGroup()
      }
    }
  }

  def named(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq
}

/** What one Spark job did, filled in from listener events. */
final class JobRec(val id: Int, val group: Option[String], val startMs: Long) {
  @volatile var endMs: Long = Long.MaxValue
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
}

/** The one listener the benchmark attaches from outside the program:
  * per job its group, interval, task count, shuffle-write and spill bytes,
  * and input records. */
final class JobListener extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Integer, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Integer, Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.put(e.jobId, new JobRec(e.jobId, g, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    j.foreach { rec =>
      rec.synchronized {
        rec.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          rec.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          rec.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }
  }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)

  /** Jobs of one span: those of its job group, or, for a span without one,
    * jobs outside every benchmark group that started inside its window. */
  def jobsOf(s: Span): Seq[JobRec] = all.filter { j =>
    val inWindow = j.startMs >= s.startMs && j.startMs <= s.endMs
    s.group match {
      case Some(g) => j.group.contains(g) && inWindow
      case None => inWindow && !j.group.exists(_.startsWith("perfbench."))
    }
  }

  /** Per-span listener counts, as the median over the span's instances:
    * jobs, tasks, shuffle-write bytes, spill bytes, and driver-only ms
    * (span wall time minus the union of its jobs' intervals). */
  def spanCounts(prefix: String, spans: Seq[Span]): Seq[(String, Double)] = {
    val rows = spans.map { s =>
      val js = jobsOf(s)
      val busy = Stats.unionLength(js.map(j => (j.startMs, math.min(j.endMs, s.endMs))),
        s.startMs, s.endMs)
      (js.size.toDouble, js.map(_.tasks).sum.toDouble, js.map(_.shuffleBytes).sum.toDouble,
        js.map(_.spillBytes).sum.toDouble, (s.endMs - s.startMs - busy).toDouble)
    }
    def med(f: ((Double, Double, Double, Double, Double)) => Double): Double =
      if (rows.isEmpty) 0.0 else Stats.median(rows.map(f))
    Seq(s"$prefix.jobs" -> med(_._1), s"$prefix.tasks" -> med(_._2),
      s"$prefix.shuffle_bytes" -> med(_._3), s"$prefix.spill_bytes" -> med(_._4),
      s"$prefix.driver_only_ms" -> med(_._5))
  }
}

/** Counts the rows graft pulls over JDBC, from outside the program: a
  * driver for `jdbc:derbycount:` URLs that delegates to Derby's embedded
  * driver and counts `ResultSet.next()` rows. Spark picks its Derby dialect
  * for this URL too (the prefix starts with `jdbc:derby`), so queries are
  * unchanged. Shard-discovery rows (`SELECT DISTINCT`) are not data rows
  * and are not counted. Only traced runs use it. */
object CountingJdbc {
  val Prefix = "jdbc:derbycount:"
  val dataRows = new AtomicLong()
  @volatile private var installed = false

  def install(): Unit = synchronized {
    if (!installed) {
      DriverManager.registerDriver(new CountingDriver)
      installed = true
    }
  }

  private def proxy[T](iface: Class[T], target: AnyRef)(
      after: (Method, Array[AnyRef], AnyRef) => AnyRef): T =
    java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
      Array[Class[_]](iface), new InvocationHandler {
        def invoke(p: AnyRef, m: Method, a: Array[AnyRef]): AnyRef = {
          val r = try m.invoke(target, (if (a == null) Array.empty[AnyRef] else a): _*)
          catch { case e: InvocationTargetException => throw e.getCause }
          after(m, a, r)
        }
      }).asInstanceOf[T]

  private def counted(rs: ResultSet, sql: String): ResultSet =
    if (sql != null && sql.toUpperCase.contains("DISTINCT")) rs
    else proxy(classOf[ResultSet], rs) { (m, _, r) =>
      if (m.getName == "next" && r == java.lang.Boolean.TRUE) dataRows.incrementAndGet()
      r
    }

  private def statement[T <: Statement](iface: Class[T], st: T, sql: String): T =
    proxy(iface, st) { (m, a, r) =>
      m.getName match {
        case "executeQuery" =>
          counted(r.asInstanceOf[ResultSet], if (a != null && a.nonEmpty) a(0).toString else sql)
        case "getResultSet" if r != null => counted(r.asInstanceOf[ResultSet], sql)
        case _ => r
      }
    }

  private[perfbench] def connection(c: Connection): Connection =
    proxy(classOf[Connection], c) { (m, a, r) =>
      m.getName match {
        case "prepareStatement" =>
          statement(classOf[PreparedStatement], r.asInstanceOf[PreparedStatement], a(0).toString)
        case "createStatement" => statement(classOf[Statement], r.asInstanceOf[Statement], null)
        case _ => r
      }
    }
}

final class CountingDriver extends Driver {
  private def inner: Driver = DriverManager.getDriver("jdbc:derby:")
  private def target(url: String) = "jdbc:derby:" + url.stripPrefix(CountingJdbc.Prefix)
  def acceptsURL(url: String): Boolean = url != null && url.startsWith(CountingJdbc.Prefix)
  def connect(url: String, info: java.util.Properties): Connection =
    if (!acceptsURL(url)) null
    else CountingJdbc.connection(inner.connect(target(url), info))
  def getPropertyInfo(url: String, info: java.util.Properties): Array[DriverPropertyInfo] =
    inner.getPropertyInfo(target(url), info)
  def getMajorVersion: Int = inner.getMajorVersion
  def getMinorVersion: Int = inner.getMinorVersion
  def jdbcCompliant(): Boolean = false
  def getParentLogger: java.util.logging.Logger = inner.getParentLogger
}
