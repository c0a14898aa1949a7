package graft.tools

/** Dev utility: time individual `SparkEntry.queries` by name (warm-up +
  * timed run each, the same protocol as [[graft.Bench]]) without running the
  * whole headline set. `runMain graft.tools.QTime q1_pricing_summary ...`;
  * scale dir from SPARK_GRAFT_SF_DIR (default sf0.1).
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.sql.autoBroadcastJoinThreshold", "64m") // as graft.Bench
      .getOrCreate()
    // ad-hoc experiments: SPARK_EXTRA_CONF="key=value;key=value"
    sys.env.get("SPARK_EXTRA_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val durs = java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.put(j.jobId, j.time)
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(jobs.get(j.jobId)).foreach(t0 => durs.add((j.time - t0) / 1e3))
    })
    val verbose = sys.env.contains("QTIME_JOBS")
    val qs = graft.SparkEntry.queries
    args.foreach { name =>
      qs.get(name) match {
        case Some(fn) =>
          fn(spark, sfDir).count()
          // graft.Bench's r16 measurement hygiene: the timed run cannot read
          // the warm-up run's persisted intermediates
          graft.Bench.dropCaches(spark)
          durs.clear()
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          val secs = (System.nanoTime() - t0) / 1e9
          Thread.sleep(100) // let listener events drain
          val ds = durs.toArray(Array.empty[java.lang.Double]).map(_.doubleValue)
          println(f"QTIME $name%-35s $secs%8.3f s  ($n rows, ${ds.length} jobs, " +
            f"job-time ${ds.sum}%.2f s)")
          if (verbose) println("  jobs: " + ds.map(d => f"$d%.2f").mkString(", "))
          graft.Bench.dropCaches(spark)
        case None => println(s"QTIME $name UNKNOWN")
      }
    }
    spark.stop()
  }
}
