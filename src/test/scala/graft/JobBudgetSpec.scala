package graft

import graft.operators.{Ann, NearDup}

/** Recorded Spark-job counts for operators whose plan is known: the jobs
  * launched while each call runs and its result is collected, in this
  * suite's session (local[8], 8 shuffle partitions, AQE on). A budget is the
  * count the current plan launches, so a regression that adds work per
  * round (a second join and count in every connected-components round, a
  * re-run of semantic dedup's upstream plan per consumer) fails here. */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents on a 12-node path stays within its job budget") {
    // 10 propagation rounds after the folded first hop; the plan with a
    // separate init round and a join-and-count convergence test took 98
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val jobs = jobsLaunchedBy(NearDup.connectedComponents(pairs).collect())
    assert(jobs <= 50, s"connectedComponents launched $jobs jobs, budget 50")
  }

  test("semanticDedup on the sf0.01 embeddings stays within its job budget") {
    // the plan that re-joined lazy assignments per consumer took 48
    val emb = core.table(spark, sf("sf0.01"), "embeddings")
    val jobs = jobsLaunchedBy(Ann.semanticDedup(emb, 0.45, k = 8, iters = 3).collect())
    assert(jobs <= 26, s"semanticDedup launched $jobs jobs, budget 26")
  }
}
