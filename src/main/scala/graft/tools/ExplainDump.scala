package graft.tools

import java.nio.file.{Files, Paths}

/** Dev utility (r16 optimization round): dump `.explain("formatted")` for
  * named `SparkEntry.queries` entries to files — the before/after plan
  * artifacts under plans/r16/. Usage:
  * `runMain graft.tools.ExplainDump <outDir> <suffix> <query> [<query> ...]`
  * writes `<outDir>/<query>_<suffix>.txt`. Scale dir from SPARK_GRAFT_SF_DIR
  * (default sf0.1 — plan shape, not timing, so any SF works; sf0.1 matches
  * the bench's AQE statistics).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.sql.autoBroadcastJoinThreshold", "64m") // as graft.Bench
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val qs = graft.SparkEntry.queries
    names.foreach { name =>
      qs.get(name) match {
        case Some(fn) =>
          try {
            val plan = fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
            println(s"[explain] wrote $outDir/${name}_$suffix.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[explain] $name failed: ${e.getMessage}")
          }
        case None => System.err.println(s"[explain] unknown query $name")
      }
    }
    spark.stop()
  }
}
