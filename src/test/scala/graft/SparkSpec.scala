package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture (same session config as Verify/Bench). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Suite-wide cache-ownership guard: a test that starts with an empty
    * cache manager fails if it ends with an entry (operators release what
    * they persist, `core.withPersisted`). The leaked entries are dropped so
    * the tests after it stay guarded. */
  override def withFixture(test: NoArgTest): org.scalatest.Outcome = {
    val cache = spark.sharedState.cacheManager
    val startedEmpty = cache.isEmpty
    val outcome = super.withFixture(test)
    if (!startedEmpty || cache.isEmpty) outcome
    else {
      cache.clearCache()
      if (!outcome.isSucceeded) outcome
      else org.scalatest.Failed(s"'${test.name}' left a cached frame in the session's cache manager")
    }
  }

  /** Counts the Spark jobs `body` launches. Non-marker job starts are
    * counted, then one marker job serves as an ordering barrier: listener
    * delivery is in-order, so once the marker's start has been observed
    * every earlier job start has been delivered too. */
  def jobsLaunchedBy(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var markerSeen = false
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .map(_.getProperty("spark.job.description")).orNull
        if (desc == "graft-job-count-marker") markerSeen = true
        else jobs.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      spark.sparkContext.setJobDescription("graft-job-count-marker")
      try spark.range(1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(markerSeen, "marker job never observed — listener bus stalled")
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
