package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap

/** Benchmark runner for one workload in one process:
  *
  * {{{
  * perfbench.Main --workload <ingest|curate_batch>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> [--live-rate <mutations/s>]
  * }}}
  *
  * It prints one line `PERFBENCH_RESULT {json}` holding the operation
  * counts, the end-to-end metrics (untraced runs) or the per-layer metrics
  * (traced runs), and run details. perfbench/run.py builds the classpath,
  * starts this, and turns that line into the benchmark's result. */
object Main {
  val Workloads = Seq("ingest", "curate_batch")

  def session(ctx: Ctx, cores: Int): SparkSession = {
    val spark = GraftSession.builder(s"local[$cores]")
      .config("spark.local.dir", s"${ctx.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.install(spark)
  }

  /** Stop the session and start one on `cores` cores. */
  def restartSession(ctx: Ctx, cores: Int): SparkSession = {
    ctx.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    session(ctx, cores)
  }

  private def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"unexpected argument $k")
      k.stripPrefix("--") -> v
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(args)
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val traced = a.getOrElse("trace", "0") == "1"
    val nproc = Runtime.getRuntime.availableProcessors()
    val ctx = new Ctx(null, a("work"), a("seed").toLong, a("seconds").toInt, traced, nproc)
    a.get("live-rate").foreach(r => ctx.liveRate = r.toDouble)
    ctx.spark = session(ctx, nproc)
    ctx.sessionStartS = Clock.secondsSince(t0)
    if (traced) CountingJdbc.install()
    ctx.attach()
    val code = try {
      workload match {
        // one JVM for both ingest parts, so the pair costs less than two
        // runs; the live part first, on a fresh session as it would be
        // standalone, and the backlog part starts on the session it warmed
        case "ingest" => Live.run(ctx); Backlog.run(ctx)
        case "curate_batch" => Curate.run(ctx)
      }
      val out = ctx.out
      if (traced)
        out.layer("checks.failed_op_ratio") = out.failed.get.toDouble / math.max(1L, out.attempted.get)
      else {
        out.e2e("setup_s") = ctx.sessionStartS + ctx.stagingS
        out.e2e("peak_rss_mb") = Disk.peakRssMb()
      }
      out.detail("nproc") = nproc
      out.detail("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576
      out.detail("seed") = ctx.seed
      val json = new ObjectMapper().registerModule(DefaultScalaModule)
      println("PERFBENCH_RESULT " + json.writeValueAsString(ListMap(
        "correct" -> (out.correct && out.failed.get == 0),
        "attempted" -> out.attempted.get,
        "failed" -> out.failed.get,
        "e2e" -> out.e2e,
        "layer" -> out.layer,
        "detail" -> out.detail)))
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $workload failed:")
        e.printStackTrace()
        1
    }
    try ctx.spark.stop() catch { case _: Throwable => () }
    System.out.flush()
    sys.exit(code)
  }
}
