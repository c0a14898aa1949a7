package perfbench

/** Self-tests of the benchmark's own logic, no Spark needed:
  * the percentile rule, the job-interval union behind driver-only time,
  * and generator determinism per seed. Exits 1 on any failure.
  * Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def expect(name: String, ok: Boolean, got: => Any): Unit =
    if (ok) passed += 1
    else { failures += 1; System.err.println(s"FAIL $name: got $got") }

  def main(args: Array[String]): Unit = {
    val hundred = (1 to 100).map(_.toDouble)
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-9
    expect("p50 of 1..100", close(Stats.percentile(hundred, 0.5), 50.5), Stats.percentile(hundred, 0.5))
    expect("p95 of 1..100", close(Stats.percentile(hundred, 0.95), 95.05), Stats.percentile(hundred, 0.95))
    expect("p100 is the max", Stats.percentile(hundred, 1.0) == 100.0, Stats.percentile(hundred, 1.0))
    expect("p0 is the min", Stats.percentile(hundred, 0.0) == 1.0, Stats.percentile(hundred, 0.0))
    expect("one sample", Stats.percentile(Seq(7.0), 0.95) == 7.0, Stats.percentile(Seq(7.0), 0.95))
    expect("unsorted input", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, Stats.median(Seq(3.0, 1.0, 2.0)))
    expect("median of an even count is the middle mean", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5,
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)))
    expect("p95 of 1..20 interpolates", close(Stats.percentile((1 to 20).map(_.toDouble), 0.95), 19.05),
      Stats.percentile((1 to 20).map(_.toDouble), 0.95))
    expect("p25 between two samples", close(Stats.percentile(Seq(10.0, 20.0), 0.25), 12.5),
      Stats.percentile(Seq(10.0, 20.0), 0.25))
    expect("quantile outside [0, 1] refused",
      scala.util.Try(Stats.percentile(Seq(1.0), 1.5)).isFailure, "a value")
    expect("no samples refused",
      scala.util.Try(Stats.percentile(Nil, 0.5)).isFailure, "a value")

    def u(iv: Seq[(Long, Long)], lo: Long, hi: Long) = Stats.unionLength(iv, lo, hi)
    expect("union of overlapping", u(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25,
      u(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100))
    expect("touching intervals merge", u(Seq((5L, 10L), (0L, 5L)), 0, 100) == 10,
      u(Seq((5L, 10L), (0L, 5L)), 0, 100))
    expect("nested interval counts once", u(Seq((0L, 100L), (10L, 20L)), 0, 100) == 100,
      u(Seq((0L, 100L), (10L, 20L)), 0, 100))
    expect("clipped to the span", u(Seq((0L, 10L), (50L, 200L)), 5, 60) == 15,
      u(Seq((0L, 10L), (50L, 200L)), 5, 60))
    expect("outside the span", u(Seq((0L, 10L)), 20, 30) == 0, u(Seq((0L, 10L)), 20, 30))
    expect("no jobs", u(Nil, 0, 10) == 0, u(Nil, 0, 10))
    expect("slope", Stats.slope(Seq(1.0, 2.0, 3.0), Seq(2.0, 4.0, 6.0)) == 2.0,
      Stats.slope(Seq(1.0, 2.0, 3.0), Seq(2.0, 4.0, 6.0)))

    val gens: Seq[(String, Long => Any)] = Seq(
      "backlog" -> (s => Gen.backlog(s)),
      "live" -> (s => Gen.live(s, 10.0)),
      "corpus" -> (s => Gen.corpus(s)))
    gens.foreach { case (name, g) =>
      val a = Gen.digest(g(1L))
      expect(s"$name: same seed, same inputs", a == Gen.digest(g(1L)), "a different digest")
      expect(s"$name: another seed, other inputs", a != Gen.digest(g(2L)), "the same digest")
    }

    val b = Gen.backlog(3L)
    expect("backlog: row count", b.events.size == Gen.BacklogRows, b.events.size)
    expect("backlog: unique ids", b.events.map(_.id).distinct.size == b.events.size, "duplicates")
    expect("backlog: late shards are not the head shard",
      b.late.size == Gen.BacklogLateRanks.size && !b.late.contains(b.shards.head), b.late)
    val c = Gen.corpus(3L)
    expect("corpus: near-duplicate pairs planted", c.plantedPairs(Curate.Jaccard).nonEmpty, 0)
    expect("corpus: shared boilerplate planted", c.expectedSpanDocs.nonEmpty, 0)
    expect("corpus: dedup removes docs", c.expectedKept.size < c.familyReps.size &&
      c.familyReps.size < c.docs.size, (c.expectedKept.size, c.familyReps.size))
    val foreign = Gen.maxForeignCosine(c, c.familyReps)
    expect("corpus: vectors separable", foreign < Curate.Cosine - 0.05, foreign)

    println(s"selftest: $passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
