package org.apache.spark.graft

import org.apache.spark.{SparkConf, SparkContext}

/** Test-only access to the LIVE SparkContext conf (`sc.conf` is
  * `private[spark]`; `sc.getConf` returns a defensive copy). ExtensionsSpec
  * needs it because `spark.sql.extensions` is a static conf that
  * `SparkSession.Builder.getOrCreate` reads from the context's conf — the
  * spec plants the class name there to exercise the exact code path
  * `--conf spark.sql.extensions=graft.GraftExtensions` takes on
  * spark-submit, against the suite's already-running context.
  */
object TestShims {
  def liveConf(sc: SparkContext): SparkConf = sc.conf

  /** Blocks until every event posted so far has reached every listener
    * (`listenerBus` is `private[spark]`). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
