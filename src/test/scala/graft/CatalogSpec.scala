package graft

import graft.sinks.{GraftCatalog, HadoopPathCatalog, VersionedTable}
import org.apache.spark.sql.SparkSession

/** The catalog seam (r14): every VersionedTable commit / resolution routes
  * through [[GraftCatalog]]. A counting, fault-injecting wrapper proves the
  * seam is load-bearing — all commits pass through it, an injected
  * optimistic-swap loss is retried safely (no lost or duplicated commit),
  * and concurrent writers through the wrapper serialize exactly like the
  * direct protocol (the torture soak's guarantees hold through the seam).
  */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  /** Delegating wrapper: counts calls, and rejects each FIRST commit
    * attempt per version when `injectLoss` — the remote-catalog contention
    * signature (a requirement check failing server-side). */
  private final class CountingCatalog(injectLoss: Boolean) extends GraftCatalog {
    val loads = new java.util.concurrent.atomic.AtomicLong()
    val commits = new java.util.concurrent.atomic.AtomicLong()
    val rejected = new java.util.concurrent.atomic.AtomicLong()
    private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def loadTable(s: SparkSession, t: String): Option[(Int, String)] = {
      loads.incrementAndGet(); HadoopPathCatalog.loadTable(s, t)
    }
    def commitTable(s: SparkSession, t: String, expected: Int, json: String): Boolean = {
      commits.incrementAndGet()
      if (injectLoss && seen.add(s"$t#$expected")) {
        rejected.incrementAndGet(); false // simulated lost optimistic swap
      } else HadoopPathCatalog.commitTable(s, t, expected, json)
    }
    def tableVersions(s: SparkSession, t: String): Seq[Int] =
      HadoopPathCatalog.tableVersions(s, t)
    def readVersion(s: SparkSession, t: String, v: Int): Option[String] =
      HadoopPathCatalog.readVersion(s, t, v)
  }

  /** Delegating wrapper that runs `inject` once, just before the next
    * commit attempt reaches the catalog — a concurrent writer landing
    * between a rewrite's planning read and its commit. */
  private final class InjectingCatalog(inject: () => Unit) extends GraftCatalog {
    private val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    def loadTable(s: SparkSession, t: String): Option[(Int, String)] =
      HadoopPathCatalog.loadTable(s, t)
    def commitTable(s: SparkSession, t: String, expected: Int, json: String): Boolean = {
      if (armed.getAndSet(false)) inject()
      HadoopPathCatalog.commitTable(s, t, expected, json)
    }
    def tableVersions(s: SparkSession, t: String): Seq[Int] =
      HadoopPathCatalog.tableVersions(s, t)
    def readVersion(s: SparkSession, t: String, v: Int): Option[String] =
      HadoopPathCatalog.readVersion(s, t, v)
  }

  private def withCatalog[T](c: GraftCatalog)(body: => T): T = {
    val prev = VersionedTable.catalog
    VersionedTable.catalog = c
    try body finally VersionedTable.catalog = prev
  }

  private def fresh(name: String): String = {
    val p = s"/tmp/graft_tables/catalog_spec_$name"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    p
  }

  test("every commit and resolution passes through the seam") {
    val p = fresh("count")
    val c = new CountingCatalog(injectLoss = false)
    withCatalog(c) {
      VersionedTable.append(Seq((1L, "a")).toDF("id", "v"), p)
      VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), p)
      VersionedTable.upsertMor(Seq((1L, "a2")).toDF("id", "v"), p, Seq("id"))
      assert(VersionedTable.versions(spark, p) == Seq(1, 2, 3))
      assert(VersionedTable.read(spark, p).count() == 2)
    }
    assert(c.commits.get() == 3, s"expected 3 commits through the seam, saw ${c.commits.get()}")
    assert(c.loads.get() >= 3) // every commit resolves current state first
  }

  test("injected optimistic-swap losses retry safely: no lost, no duplicated commit") {
    val p = fresh("inject")
    val c = new CountingCatalog(injectLoss = true)
    withCatalog(c) {
      VersionedTable.append(Seq((1L, "a")).toDF("id", "v"), p)   // first try rejected
      VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), p)
      assert(VersionedTable.versions(spark, p) == Seq(1, 2))
      val rows = VersionedTable.read(spark, p).as[(Long, String)].collect().toSet
      assert(rows == Set((1L, "a"), (2L, "b")))
    }
    assert(c.rejected.get() >= 2, "each version's first attempt must have been rejected")
    assert(c.commits.get() >= 4) // ≥ one retry per commit
  }

  test("concurrent writers through the seam serialize like the direct protocol") {
    val p = fresh("conc")
    val c = new CountingCatalog(injectLoss = false)
    withCatalog(c) {
      val threads = (1 to 8).map { i =>
        new Thread(() =>
          VersionedTable.append(Seq((i.toLong, s"w$i")).toDF("id", "v"), p))
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(VersionedTable.versions(spark, p) == (1 to 8))
      val rows = VersionedTable.read(spark, p).as[(Long, String)].collect().toSet
      assert(rows == (1 to 8).map(i => (i.toLong, s"w$i")).toSet,
        "every concurrent append must land exactly once")
    }
    assert(c.commits.get() == 8)
  }

  test("an append landing mid-rewrite survives applyChanges, upsert and upsertOnce") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    val late = (10L, "late")
    val cases: Seq[(String, String => Unit, Set[(Long, String)])] = Seq(
      ("applyChanges", p => VersionedTable.applyChanges(
        Seq(("U", 2L, "b2"), ("D", 3L, "c")).toDF("op", "id", "v"), p, Seq("id")),
        Set((1L, "a"), (2L, "b2"), late)),
      ("upsert", p => VersionedTable.upsert(Seq((2L, "b2")).toDF("id", "v"), p, Seq("id")),
        Set((1L, "a"), (2L, "b2"), (3L, "c"), late)),
      ("upsertOnce", p => assert(VersionedTable.upsertOnce(
        Seq((2L, "b2")).toDF("id", "v"), p, Seq("id"), batchId = 1L)),
        Set((1L, "a"), (2L, "b2"), (3L, "c"), late)))
    for ((op, rewrite, want) <- cases) {
      val p = fresh(s"midrewrite_$op")
      VersionedTable.append(base.toDF("id", "v"), p)
      withCatalog(new InjectingCatalog(() =>
        VersionedTable.append(Seq(late).toDF("id", "v"), p))) {
        rewrite(p)
      }
      // v2 is the injected append, v3 the rewrite re-planned on top of it
      assert(VersionedTable.versions(spark, p) == Seq(1, 2, 3), op)
      assert(VersionedTable.read(spark, p).as[(Long, String)].collect().toSet == want,
        s"$op dropped the concurrent append")
    }
  }

  test("an upsertMorOnce landing inside a compaction's commit does not abort it") {
    val p = fresh("midcompact_stream")
    val keys = Seq("id")
    VersionedTable.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), p)
    VersionedTable.upsertMor(Seq((2L, "B")).toDF("id", "v"), p, keys)
    withCatalog(new InjectingCatalog(() => assert(VersionedTable.upsertMorOnce(
      Seq((3L, "C"), (4L, "d")).toDF("id", "v"), p, keys, 1L)))) {
      // v3 is the injected upsert, v4 the compaction's one commit
      assert(VersionedTable.compact(spark, p, 1000L) == 4)
    }
    val want = Set((1L, "a"), (2L, "B"), (3L, "C"), (4L, "d"))
    for (v <- Seq(3, 4))
      assert(VersionedTable.readVersion(spark, p, v).as[(Long, String)].collect().toSet == want)
    // the rewrite sits at the sequence it read, below the upsert's delete
    val snap = VersionedTable.readManifestForTest(spark, p, 4)
    val upsertDir = VersionedTable.readManifestForTest(spark, p, 3).dirs.last
    assert(snap.dirs.size == 2 && snap.dataSeq(snap.dirs.head) == 2)
    assert(snap.deletes == Seq(upsertDir -> 3), snap.deletes)
    assert(VersionedTable.removeOrphans(spark, p, olderThanMs = 0).isEmpty,
      "an aborted compaction attempt left its rewrite behind")
  }

  test("a rollback landing inside a compaction's commit aborts it; the rewrite re-plans") {
    val p = fresh("midcompact_rollback")
    VersionedTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), p)
    VersionedTable.append(Seq((3L, "c")).toDF("id", "v"), p)
    VersionedTable.upsertMor(Seq((1L, "A")).toDF("id", "v"), p, Seq("id"))
    withCatalog(new InjectingCatalog(() => VersionedTable.rollback(spark, p, 1))) {
      // v4 is the injected rollback, v5 the compaction planned again on it
      assert(VersionedTable.compact(spark, p, 1000L) == 5)
    }
    assert(VersionedTable.versions(spark, p) == Seq(1, 2, 3, 4, 5))
    assert(VersionedTable.read(spark, p).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")), "the compaction resurrected rolled-back rows")
    assert(VersionedTable.readManifestForTest(spark, p, 5).dirs.size == 1)
  }

  // ---- REST catalog (r15, VERDICT r14 "Next round" #6): the seam's second
  // implementation — VersionedTable commits/resolutions carried over real
  // HTTP to an in-process server, proving the r14 interface wasn't shaped
  // around the path-file protocol.

  private def withRestCatalog[T](body: graft.sinks.RestCatalog => T): T = {
    val server = graft.sinks.RestCatalogServer.start(spark, HadoopPathCatalog)
    try body(new graft.sinks.RestCatalog(server.uri))
    finally server.stop()
  }

  test("HTTP: full table lifecycle through the REST catalog client") {
    val p = fresh("http_lifecycle")
    withRestCatalog { rest =>
      withCatalog(rest) {
        VersionedTable.append(Seq((1L, "a")).toDF("id", "v"), p)
        VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), p)
        VersionedTable.upsertMor(Seq((1L, "a2")).toDF("id", "v"), p, Seq("id"))
        assert(VersionedTable.versions(spark, p) == Seq(1, 2, 3))
        assert(VersionedTable.read(spark, p).as[(Long, String)].collect().toSet ==
          Set((1L, "a2"), (2L, "b")))
        // time travel resolves through GET /versions/{v}
        assert(VersionedTable.readVersion(spark, p, 1).as[(Long, String)]
          .collect().toSet == Set((1L, "a")))
      }
      // direct client probes: 404s map to None, not exceptions
      assert(rest.loadTable(spark, fresh("http_missing")).isEmpty)
      assert(rest.readVersion(spark, p, 99).isEmpty)
      assert(rest.tableVersions(spark, p) == Seq(1, 2, 3))
    }
  }

  test("HTTP: losing commit gets a 409 and maps to false, winner state intact") {
    val p = fresh("http_409")
    withRestCatalog { rest =>
      assert(rest.commitTable(spark, p, 0, """{"version":1,"dirs":[]}"""))
      // stale expected-version: the server's requirement check answers 409
      assert(!rest.commitTable(spark, p, 0, """{"version":1,"dirs":[]}"""))
      assert(rest.loadTable(spark, p).map(_._1).contains(1))
    }
  }

  test("HTTP: a 500 from the server is a loud outage, not a lost race (r15)") {
    // a broken backing (storage outage) must surface as an exception at
    // the client — mapping 500 to `false` would make callers retry a
    // commit forever against a dead catalog
    val broken = new GraftCatalog {
      def loadTable(s: SparkSession, t: String) = throw new RuntimeException("disk gone")
      def commitTable(s: SparkSession, t: String, e: Int, j: String) =
        throw new RuntimeException("disk gone")
      def tableVersions(s: SparkSession, t: String) = throw new RuntimeException("disk gone")
      def readVersion(s: SparkSession, t: String, v: Int) =
        throw new RuntimeException("disk gone")
    }
    val server = graft.sinks.RestCatalogServer.start(spark, broken)
    try {
      val rest = new graft.sinks.RestCatalog(server.uri)
      val e1 = intercept[IllegalArgumentException](rest.loadTable(spark, "/tmp/x"))
      assert(e1.getMessage.contains("500"))
      val e2 = intercept[IllegalArgumentException](
        rest.commitTable(spark, "/tmp/x", 0, "{}"))
      assert(e2.getMessage.contains("500"))
    } finally server.stop()
  }

  test("HTTP: the multi-writer torture serializes through the REST catalog") {
    val p = fresh("http_torture")
    withRestCatalog { rest =>
      withCatalog(rest) {
        val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = (1 to 8).map { i =>
          new Thread(() =>
            try VersionedTable.append(Seq((i.toLong, s"w$i")).toDF("id", "v"), p)
            catch { case t: Throwable => failures.add(t) })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        assert(failures.isEmpty, s"writer failed: ${failures.peek()}")
        assert(VersionedTable.versions(spark, p) == (1 to 8))
        assert(VersionedTable.read(spark, p).as[(Long, String)].collect().toSet ==
          (1 to 8).map(i => (i.toLong, s"w$i")).toSet,
          "every concurrent append through HTTP must land exactly once")
      }
    }
  }
}
