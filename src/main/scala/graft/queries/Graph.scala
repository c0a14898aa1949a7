package graft.queries

import graft.Q
import graft.core._
import graft.operators.{PageRank, Triangles}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the customer–supplier interaction graph
  * (edges = distinct (customer, supplier) pairs that share a line item, both
  * directions, so every node has out-edges). PageRank in scaled-integer
  * arithmetic — see [[graft.operators.PageRank]] for why integers: order-
  * independent sums make the fixed-point iterate bit-exact on both engines,
  * so an ITERATIVE operator becomes oracle-checkable against DuckDB (the
  * oracle unrolls the same four iterations as chained CTEs — floating-point
  * PageRank would drift with reduction order and need a tolerance gate).
  */
object Graph {

  private val Iters = 4
  private val Scale = 1000000000000L
  private[graft] val SuppOffset = 1000000L

  private[graft] def edges(s: SparkSession, d: String): DataFrame = {
    val li = table(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
    val cs = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct()
    cs.select(col("cust").as("src"), (col("supp") + SuppOffset).as("dst"))
      .unionByName(cs.select((col("supp") + SuppOffset).as("src"), col("cust").as("dst")))
  }

  /** [[edges]] with a deterministic integer weight per undirected edge
    * (both directions share it), derived identically in the DuckDB oracle. */
  private def weightedEdges(s: SparkSession, d: String): DataFrame = {
    val li = table(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
    val cs = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct()
      .withColumn("w", lit(1L) + (col("cust") * 31 + col("supp")) % 9)
    cs.select(col("cust").as("src"), (col("supp") + SuppOffset).as("dst"), col("w"))
      .unionByName(cs.select((col("supp") + SuppOffset).as("src"), col("cust").as("dst"), col("w")))
  }

  /** The same fixed-point unrolled: r0 → (dangling, inflow, r_i) per
    * iteration. `//` is DuckDB's integer floor division = Spark's `DIV` on
    * the all-positive ranks; sums are CAST back to BIGINT because DuckDB
    * widens sum(BIGINT) to HUGEINT. */
  private def pagerankSql(iters: Int): String = {
    val head = s"""WITH ed0 AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (SELECT cust AS src, supp + $SuppOffset AS dst FROM ed0
        UNION ALL SELECT supp + $SuppOffset, cust FROM ed0),
      nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
      nn AS (SELECT count(*) AS n FROM nodes),
      r0 AS (SELECT node, $Scale // (SELECT n FROM nn) AS r FROM nodes)"""
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s"""d$i AS (SELECT coalesce(CAST(sum(r.r) AS BIGINT), 0) AS dang
          FROM r$p r LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
        c$i AS (SELECT e.dst AS node, CAST(sum(r.r // dg.deg) AS BIGINT) AS infl
          FROM edges e JOIN r$p r ON e.src = r.node JOIN deg dg ON e.src = dg.src
          GROUP BY e.dst),
        r$i AS (SELECT n.node,
            (15 * ($Scale // (SELECT n FROM nn))) // 100
            + (85 * (coalesce(c.infl, 0)
                     + (SELECT dang FROM d$i) // (SELECT n FROM nn))) // 100 AS r
          FROM nodes n LEFT JOIN c$i c ON n.node = c.node)"""
    }
    (head +: steps).mkString(",\n      ") +
      s"\n      SELECT node, r AS rank_scaled FROM r$iters ORDER BY node"
  }

  /** [[pagerankSql]] with the teleport (and dangling) mass restarting only at
    * the seed set (customers ≤ 20) — the personalized-PageRank recurrence,
    * unrolled. Seeds in SQL are `node <= 20`: custkeys sit below
    * `SuppOffset`, so that predicate over `nodes` is exactly the
    * sources-present-in-graph intersection the operator computes. */
  private def pprSql(iters: Int): String = {
    val head = s"""WITH ed0 AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (SELECT cust AS src, supp + $SuppOffset AS dst FROM ed0
        UNION ALL SELECT supp + $SuppOffset, cust FROM ed0),
      nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
      srcs AS (SELECT node FROM nodes WHERE node <= 20),
      mm AS (SELECT count(*) AS m FROM srcs),
      r0 AS (SELECT n.node, CASE WHEN s.node IS NOT NULL
            THEN $Scale // (SELECT m FROM mm) ELSE 0 END AS r
          FROM nodes n LEFT JOIN srcs s ON n.node = s.node)"""
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s"""d$i AS (SELECT coalesce(CAST(sum(r.r) AS BIGINT), 0) AS dang
          FROM r$p r LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
        c$i AS (SELECT e.dst AS node, CAST(sum(r.r // dg.deg) AS BIGINT) AS infl
          FROM edges e JOIN r$p r ON e.src = r.node JOIN deg dg ON e.src = dg.src
          GROUP BY e.dst),
        r$i AS (SELECT n.node,
            CASE WHEN s.node IS NOT NULL
              THEN (15 * ($Scale // (SELECT m FROM mm))) // 100 ELSE 0 END
            + (85 * (coalesce(c.infl, 0)
                     + CASE WHEN s.node IS NOT NULL
                         THEN (SELECT dang FROM d$i) // (SELECT m FROM mm)
                         ELSE 0 END)) // 100 AS r
          FROM nodes n LEFT JOIN c$i c ON n.node = c.node
            LEFT JOIN srcs s ON n.node = s.node)"""
    }
    (head +: steps).mkString(",\n      ") +
      s"\n      SELECT node, r AS rank_scaled FROM r$iters ORDER BY node"
  }

  /** Unrolled SQL replay of [[graft.operators.Hits.run]]: per round an
    * authority half-step (in-edge sum of hub scores, sum-normalized to
    * Scale) then a hub half-step over the fresh authorities. The `Scale·raw`
    * products ride HUGEINT ≡ the engine's DECIMAL(38,0); `//` ≡ DIV on the
    * all-positive scores. */
  private def hitsSql(rounds: Int): String = {
    val head = s"""WITH ed0 AS (SELECT DISTINCT o_custkey AS src, l_suppkey + $SuppOffset AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      hubs AS (SELECT DISTINCT src AS node FROM ed0),
      nh AS (SELECT count(*) AS n FROM hubs),
      h0 AS (SELECT node, $Scale // (SELECT n FROM nh) AS h FROM hubs)"""
    val steps = (1 to rounds).map { i =>
      val p = i - 1
      s"""ra$i AS (SELECT e.dst AS node, CAST(sum(h.h) AS BIGINT) AS raw
          FROM ed0 e JOIN h$p h ON e.src = h.node GROUP BY 1),
        ta$i AS (SELECT CAST(sum(raw) AS HUGEINT) AS t FROM ra$i),
        a$i AS (SELECT node, CAST((CAST($Scale AS HUGEINT) * raw) // (SELECT t FROM ta$i) AS BIGINT) AS a
          FROM ra$i),
        rh$i AS (SELECT e.src AS node, CAST(sum(a.a) AS BIGINT) AS raw
          FROM ed0 e JOIN a$i a ON e.dst = a.node GROUP BY 1),
        th$i AS (SELECT CAST(sum(raw) AS HUGEINT) AS t FROM rh$i),
        h$i AS (SELECT node, CAST((CAST($Scale AS HUGEINT) * raw) // (SELECT t FROM th$i) AS BIGINT) AS h
          FROM rh$i)"""
    }
    (head +: steps).mkString(",\n      ") +
      s"""\n      SELECT node, 'hub' AS role, h AS score_scaled FROM h$rounds
      UNION ALL SELECT node, 'auth', a FROM a$rounds
      ORDER BY role, node"""
  }

  /** Unrolled SQL replay of [[graft.operators.KCore.kCore]]: `rounds`
    * peel steps as chained CTEs (keep-set = degree ≥ k, both endpoints must
    * survive). Peeling is monotone, so extra rounds past convergence are
    * no-ops and the fixed unroll equals the engine's early-exited fixpoint. */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val head = s"""WITH e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
          greatest(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      r0 AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0)"""
    val steps = (1 to rounds).map { i =>
      val p = i - 1
      // MATERIALIZED: each round is referenced three times (twice via IN,
      // once as the next round's base) — inlined, the expansion grows 3^i
      // and the replay never finishes; materialized, it is linear in rounds
      s"""k$i AS MATERIALIZED (SELECT src FROM r$p GROUP BY src HAVING count(*) >= $k),
        r$i AS MATERIALIZED (SELECT src, dst FROM r$p
          WHERE src IN (SELECT src FROM k$i) AND dst IN (SELECT src FROM k$i))"""
    }
    (head +: steps).mkString(",\n      ") +
      s"\n      SELECT src AS node, count(*) AS core_degree FROM r$rounds" +
      "\n      GROUP BY src ORDER BY node"
  }

  /** Unrolled replay of [[graft.operators.KTruss.edges]]: per round the
    * degree-ordered wedge join recomputes per-edge triangle support over
    * the survivors, then edges under k−2 peel. MATERIALIZED per round for
    * the same 3^i-expansion reason as [[kcoreSql]]. */
  private def ktrussSql(k: Int, rounds: Int): String = {
    val head = s"""WITH e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
          greatest(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      r0 AS MATERIALIZED (SELECT u, v FROM e0)"""
    val steps = (1 to rounds).map { i =>
      val p = i - 1
      s"""deg$i AS MATERIALIZED (SELECT node, count(*) AS dg
          FROM (SELECT u AS node FROM r$p UNION ALL SELECT v FROM r$p) GROUP BY 1),
        o$i AS MATERIALIZED (SELECT
            CASE WHEN (d1.dg, rr.u) < (d2.dg, rr.v) THEN rr.u ELSE rr.v END AS s,
            CASE WHEN (d1.dg, rr.u) < (d2.dg, rr.v) THEN rr.v ELSE rr.u END AS t
          FROM r$p rr JOIN deg$i d1 ON rr.u = d1.node JOIN deg$i d2 ON rr.v = d2.node),
        tri$i AS MATERIALIZED (SELECT w.c, w.u, w.v FROM (
            SELECT a.s AS c, least(a.t, b.t) AS u, greatest(a.t, b.t) AS v
            FROM o$i a JOIN o$i b ON a.s = b.s AND a.t < b.t) w
          JOIN r$p USING (u, v)),
        supp$i AS MATERIALIZED (SELECT eu AS u, ev AS v, count(*) AS cnt FROM (
            SELECT least(c, u) AS eu, greatest(c, u) AS ev FROM tri$i
            UNION ALL SELECT least(c, v), greatest(c, v) FROM tri$i
            UNION ALL SELECT u, v FROM tri$i) GROUP BY 1, 2),
        r$i AS MATERIALIZED (SELECT r$p.u, r$p.v FROM r$p
          JOIN supp$i USING (u, v) WHERE cnt >= ${k - 2})"""
    }
    (head +: steps).mkString(",\n      ") +
      s"\n      SELECT u, v FROM r$rounds ORDER BY u, v"
  }

  /** Unrolled SQL replay of [[graft.operators.LabelProp.run]]: per round,
    * (node, label) in-neighbor counts then the argmax with smallest-label
    * tie-break. The oracle's row_number window is output-identical to the
    * engine's `max(struct(cnt, −label))` one-pass aggregate — the engine
    * runs the shape that scales. MATERIALIZED for the same 3^i-expansion
    * reason as [[kcoreSql]]. */
  private def labelPropCtes(rounds: Int): String = {
    val head = s"""WITH e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
          greatest(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      edges AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
      l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""
    val steps = (1 to rounds).map { i =>
      val p = i - 1
      s"""c$i AS MATERIALIZED (SELECT e.dst AS node, l.label, count(*) AS cnt
          FROM edges e JOIN l$p l ON e.src = l.node GROUP BY 1, 2),
        l$i AS MATERIALIZED (SELECT node, label FROM (SELECT node, label,
            row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
          FROM c$i) WHERE rn = 1)"""
    }
    (head +: steps).mkString(",\n      ")
  }

  private def labelPropSql(rounds: Int): String =
    labelPropCtes(rounds) +
      s"\n      SELECT node, label FROM l$rounds ORDER BY node"

  /** Newman modularity of the round-`rounds` LPA partition, all-integer:
    * per community c, q_e9 = 10⁹·(in_c·m2 − tot_c²) ÷ m2² with the products
    * in HUGEINT (mirrors the engine's DECIMAL(38,0)) and the signed floor
    * division SIGN-SPLIT so DuckDB's floor `//` equals Spark's truncating
    * `DIV` (they differ on negatives; both divide non-negatives here). */
  private def modularitySql(rounds: Int): String =
    labelPropCtes(rounds) + s""",
      el AS (SELECT e.src, e.dst, la.label AS ls, lb.label AS ld
        FROM edges e JOIN l$rounds la ON e.src = la.node
          JOIN l$rounds lb ON e.dst = lb.node),
      m2 AS (SELECT count(*) AS m2 FROM el),
      dg AS (SELECT src, ls, count(*) AS deg FROM el GROUP BY 1, 2),
      tot AS (SELECT ls AS community, CAST(sum(deg) AS BIGINT) AS tot_degree,
          count(*) AS n_nodes FROM dg GROUP BY 1),
      wi AS (SELECT ls AS community, count(*) AS in_edges FROM el
        WHERE ls = ld GROUP BY 1),
      pc AS (SELECT t.community, t.n_nodes, coalesce(w.in_edges, 0) AS in_edges,
          t.tot_degree,
          CAST(coalesce(w.in_edges, 0) AS HUGEINT) * CAST(m2.m2 AS HUGEINT)
            - CAST(t.tot_degree AS HUGEINT) * CAST(t.tot_degree AS HUGEINT) AS num,
          CAST(m2.m2 AS HUGEINT) * CAST(m2.m2 AS HUGEINT) AS den
        FROM tot t LEFT JOIN wi w ON t.community = w.community, m2)
      SELECT community, n_nodes, in_edges, tot_degree,
        CAST(CASE WHEN num >= 0 THEN (1000000000 * num) // den
             ELSE -((1000000000 * (-num)) // den) END AS BIGINT) AS q_e9
      FROM pc ORDER BY community"""

  val defs: Seq[(String, Q)] = Seq(

    "graph_label_propagation" -> Q(
      (s, d) => {
        // Community detection on the part co-purchase graph (the k-core /
        // triangles edge set — non-bipartite, so labels actually mix).
        // 4 synchronous rounds, deterministic min-label tie-break; the
        // fixed unroll is what the SQL replay mirrors (synchronous LPA has
        // no convergence guarantee to wait for).
        val li = table(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        val e0 = li.as("a")
          .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
          .select(least(col("a.l_partkey"), col("b.l_partkey")).as("u"),
            greatest(col("a.l_partkey"), col("b.l_partkey")).as("v"))
          .distinct()
        val e = e0.select(col("u").as("src"), col("v").as("dst"))
          .unionByName(e0.select(col("v").as("src"), col("u").as("dst")))
        graft.operators.LabelProp.run(e, rounds = 4)
      },
      Some(labelPropSql(rounds = 4)),
      "Synchronous label propagation (4 rounds, min-label tie-break) on the " +
        "part co-purchase graph: one join + two hash aggregates per round " +
        "(struct-argmax, no per-node window), bit-exact vs the unrolled replay."),

    "graph_modularity" -> Q(
      (s, d) => {
        // Partition-quality audit of the LPA communities: per-community
        // Newman modularity contribution q_c = in_c/m2 − (tot_c/m2)², scaled
        // to e9 integer arithmetic with the products in DECIMAL(38,0)
        // (tot_c² overflows BIGINT once tot_c > ~3·10⁹, i.e. long before
        // 100 TB). The division is sign-split because the contribution CAN
        // be negative and floor (DuckDB //) ≠ truncation (Spark DIV) on
        // negatives — both engines only ever divide non-negatives here.
        // Shapes: two label joins on the edge list (co-partitioned), then
        // O(communities) aggregates; the m2 scalar is a broadcast.
        val li = table(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        val e0 = li.as("a")
          .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
          .select(least(col("a.l_partkey"), col("b.l_partkey")).as("u"),
            greatest(col("a.l_partkey"), col("b.l_partkey")).as("v"))
          .distinct()
        val e = e0.select(col("u").as("src"), col("v").as("dst"))
          .unionByName(e0.select(col("v").as("src"), col("u").as("dst")))
        val lab = graft.operators.LabelProp.run(e, rounds = 4)
        val el = e
          .join(lab.select(col("node").as("src"), col("label").as("ls")), "src")
          .join(lab.select(col("node").as("dst"), col("label").as("ld")), "dst")
        val m2df = el.agg(count(lit(1)).as("m2"))
        val deg = el.groupBy(col("src"), col("ls")).agg(count(lit(1)).as("deg"))
        val tot = deg.groupBy(col("ls").as("community"))
          .agg(sum(col("deg")).as("tot_degree"), count(lit(1)).as("n_nodes"))
        val win = el.filter(col("ls") === col("ld"))
          .groupBy(col("ls").as("community")).agg(count(lit(1)).as("in_edges"))
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val joined = tot.join(win, Seq("community"), "left")
          .withColumn("in_edges", coalesce(col("in_edges"), lit(0L)))
          .crossJoin(broadcast(m2df))
        val num = col("in_edges").cast(d38) * col("m2").cast(d38) -
          col("tot_degree").cast(d38) * col("tot_degree").cast(d38)
        val den = col("m2").cast(d38) * col("m2").cast(d38)
        joined
          .withColumn("num", num).withColumn("den", den)
          .withColumn("q_e9",
            when(col("num") >= 0, idiv(lit(1000000000L).cast(d38) * col("num"), col("den")))
              .otherwise(-idiv(lit(1000000000L).cast(d38) * -col("num"), col("den"))))
          .select(col("community"), col("n_nodes"), col("in_edges"),
            col("tot_degree"), col("q_e9"))
          .orderBy("community")
      },
      Some(modularitySql(rounds = 4)),
      "Newman modularity of the LPA partition in e9 integer arithmetic " +
        "(DECIMAL(38,0)/HUGEINT products, sign-split floor-vs-trunc-safe " +
        "division): per-community in/total-degree aggregates, broadcast m2."),

    "graph_kcore" -> Q(
      (s, d) => {
        // k-core of the part co-purchase graph (the triangles edge set):
        // peel nodes of degree < 80 until stable — the "dense enough to
        // matter" curation filter. Converges in 5 rounds at sf0.01/sf0.1;
        // rounds=6 is the fixed unroll both engines replay (monotone:
        // post-convergence rounds are no-ops, so early exit ≡ fixed count).
        val li = table(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        val e0 = li.as("a")
          .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
          .select(least(col("a.l_partkey"), col("b.l_partkey")).as("u"),
            greatest(col("a.l_partkey"), col("b.l_partkey")).as("v"))
          .distinct()
        val e = e0.select(col("u").as("src"), col("v").as("dst"))
          .unionByName(e0.select(col("v").as("src"), col("u").as("dst")))
        graft.operators.KCore.kCore(e, k = 80, rounds = 6)
      },
      Some(kcoreSql(k = 80, rounds = 6)),
      "k-core extraction by iterative peeling (degree >= 80 fixpoint on the part " +
        "co-purchase graph): one degree aggregate + two semi-joins per round, " +
        "integer-exact vs the unrolled-CTE peel replay."),

    "graph_scc" -> Q(
      (s, d) => {
        // STRONGLY connected components — the directed completion of
        // graph_components' undirected question: the same national trading
        // blocs, but each customer-supplier edge now DIRECTED by key parity
        // ((cust+supp) even → customer pays supplier, odd → supplier
        // rebates customer — a deterministic, SQL-replayable direction
        // split), so mutual reachability requires an alternating-parity
        // cycle. operators.Scc: trim (DAG tendrils peel as singletons) →
        // forward min-color → backward extract, all keyed joins; the
        // oracle replays mutual reachability as a recursive-CTE closure
        // self-join (quadratic by nature — sf0.01-gated like
        // graph_components).
        val li = table(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        val o = table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
        val c = table(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
        val su = table(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        val pairs = li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
          .filter(col("c_nationkey") === col("s_nationkey"))
          .select(col("o_custkey").as("cust"),
            (col("l_suppkey") + SuppOffset).as("supp"))
          .distinct()
        val e = pairs.select(
          when((col("cust") + col("supp")) % 2 === 0, col("cust"))
            .otherwise(col("supp")).as("src"),
          when((col("cust") + col("supp")) % 2 === 0, col("supp"))
            .otherwise(col("cust")).as("dst"))
        graft.operators.Scc.run(e).orderBy("node")
      },
      Some(s"""WITH RECURSIVE ed0 AS (
          SELECT DISTINCT o_custkey AS cust, l_suppkey + $SuppOffset AS supp
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN supplier ON s_suppkey = l_suppkey
          WHERE c_nationkey = s_nationkey),
        ed AS (SELECT CASE WHEN (cust + supp) % 2 = 0 THEN cust ELSE supp END AS src,
                      CASE WHEN (cust + supp) % 2 = 0 THEN supp ELSE cust END AS dst
               FROM ed0),
        nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
        reach(a, b) AS (
          SELECT node, node FROM nodes
          UNION
          SELECT r.a, e.dst FROM reach r JOIN ed e ON r.b = e.src)
        SELECT r1.a AS node, CAST(min(r1.b) AS BIGINT) AS scc_id
        FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
        GROUP BY 1 ORDER BY node"""),
      "Strongly connected components of the parity-directed domestic trade " +
        "graph (operators.Scc: trim + color + extract peeling, keyed joins " +
        "only) vs the mutual-reachability recursive-CTE replay."),

    "graph_reciprocity" -> Q(
      (s, d) => {
        // Directed RECIPROCITY of the parity-directed trade graph — the
        // mutual-link share (reciprocated edges / all edges, exact e6)
        // that separates broadcast-shaped digraphs from conversational
        // ones; the one-number companion to graph_degree_assortativity.
        // One self-semi-join on the reversed key — no closure, no
        // iteration.
        val li = table(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        val o = table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
        // direction by ORDER-KEY parity this time (per-pair, multiple
        // orders can point both ways) — a pair is reciprocated iff it
        // traded under both parities
        val e = li.join(o, li("l_orderkey") === o("o_orderkey"))
          .select(
            when(col("o_orderkey") % 2 === 0, col("o_custkey"))
              .otherwise(col("l_suppkey") + SuppOffset).as("src"),
            when(col("o_orderkey") % 2 === 0, col("l_suppkey") + SuppOffset)
              .otherwise(col("o_custkey")).as("dst"))
          .distinct()
        val recip = e.as("a").join(e.as("b"),
            col("a.src") === col("b.dst") && col("a.dst") === col("b.src"), "left_semi")
        e.agg(count(lit(1)).as("n_edges")).crossJoin(
            recip.agg(count(lit(1)).as("n_recip")))
          .select(col("n_edges"), col("n_recip"),
            // den=0 guard: an empty edge set reads as 0 reciprocity on BOTH
            // sides (Spark's IntegralDivide would yield NULL where DuckDB's
            // // raises — the spearman/cross_correlation divergence class)
            when(col("n_edges") === 0, lit(0L))
              .otherwise(graft.core.idiv(lit(1000000L) * col("n_recip"), col("n_edges")))
              .as("reciprocity_e6"))
      },
      Some(s"""WITH ed AS (SELECT DISTINCT
            CASE WHEN o_orderkey % 2 = 0 THEN o_custkey
              ELSE l_suppkey + $SuppOffset END AS src,
            CASE WHEN o_orderkey % 2 = 0 THEN l_suppkey + $SuppOffset
              ELSE o_custkey END AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        SELECT (SELECT count(*) FROM ed) AS n_edges,
          (SELECT count(*) FROM ed a
            WHERE EXISTS (SELECT 1 FROM ed b
              WHERE a.src = b.dst AND a.dst = b.src)) AS n_recip,
          CASE WHEN (SELECT count(*) FROM ed) = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((1000000 * (SELECT count(*) FROM ed a
              WHERE EXISTS (SELECT 1 FROM ed b
                WHERE a.src = b.dst AND a.dst = b.src)))
              // (SELECT count(*) FROM ed) AS BIGINT) END AS reciprocity_e6"""),
      "Directed reciprocity (mutual-link share, exact e6): one reversed-key " +
        "self-semi-join — no closure, no iteration."),

    "graph_condensation" -> Q(
      (s, d) => {
        // The CONDENSATION DAG of graph_scc's components — what downstream
        // DAG algorithms (topological order, longest dependency chain,
        // cycle-free scheduling) actually consume: one node per SCC, one
        // edge per ordered SCC pair with the original edge multiplicity.
        // Same parity-directed domestic graph; the SCC labeling is
        // operators.Scc, the projection two broadcast-joinable label
        // lookups + one (scc_a, scc_b) aggregate.
        val li = table(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        val o = table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
        val c = table(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
        val su = table(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        val pairs = li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
          .filter(col("c_nationkey") === col("s_nationkey"))
          .select(col("o_custkey").as("cust"),
            (col("l_suppkey") + SuppOffset).as("supp"))
          .distinct()
        val e = pairs.select(
          when((col("cust") + col("supp")) % 2 === 0, col("cust"))
            .otherwise(col("supp")).as("src"),
          when((col("cust") + col("supp")) % 2 === 0, col("supp"))
            .otherwise(col("cust")).as("dst"))
        val scc = graft.operators.Scc.run(e)
        e.join(scc.select(col("node").as("src"), col("scc_id").as("scc_a")), "src")
          .join(scc.select(col("node").as("dst"), col("scc_id").as("scc_b")), "dst")
          .filter(col("scc_a") =!= col("scc_b"))
          .groupBy(col("scc_a"), col("scc_b"))
          .agg(count(lit(1)).as("n_edges"))
          .orderBy(col("scc_a"), col("scc_b"))
      },
      Some(s"""WITH RECURSIVE ed0 AS (
          SELECT DISTINCT o_custkey AS cust, l_suppkey + $SuppOffset AS supp
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN supplier ON s_suppkey = l_suppkey
          WHERE c_nationkey = s_nationkey),
        ed AS (SELECT CASE WHEN (cust + supp) % 2 = 0 THEN cust ELSE supp END AS src,
                      CASE WHEN (cust + supp) % 2 = 0 THEN supp ELSE cust END AS dst
               FROM ed0),
        nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
        reach(a, b) AS (
          SELECT node, node FROM nodes
          UNION
          SELECT r.a, e.dst FROM reach r JOIN ed e ON r.b = e.src),
        scc AS (SELECT r1.a AS node, CAST(min(r1.b) AS BIGINT) AS scc_id
          FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
          GROUP BY 1)
        SELECT sa.scc_id AS scc_a, sb.scc_id AS scc_b, count(*) AS n_edges
        FROM ed JOIN scc sa ON ed.src = sa.node JOIN scc sb ON ed.dst = sb.node
        WHERE sa.scc_id <> sb.scc_id
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      "SCC condensation DAG (one node per component, inter-SCC edges with " +
        "multiplicity) — the cycle-free projection downstream DAG " +
        "algorithms consume; Scc labeling + two label lookups."),

    "graph_components" -> Q(
      (s, d) => {
        // Connected components of the NATIONAL supply networks: an edge
        // links a customer and a supplier of the SAME nation that share a
        // line item (domestic trade only), so the graph fragments into one
        // component per trading bloc — the entity-graph partitioning
        // primitive behind community datasets and per-tenant sharding.
        // Distributed min-label propagation to convergence
        // (NearDup.connectedComponents: one join + one min-agg per round,
        // checkpoint-truncated lineage); the oracle replays the closure as
        // a recursive CTE. Both dims broadcast; one shuffle builds edges.
        val li = table(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        val o = table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
        val c = table(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
        val su = table(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        val pairs = li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
          .filter(col("c_nationkey") === col("s_nationkey"))
          .select(col("o_custkey").as("id_a"),
            (col("l_suppkey") + SuppOffset).as("id_b"))
          .distinct()
        graft.operators.NearDup.connectedComponents(pairs)
          .select(col("doc_id").as("node"), col("component_id"))
          .orderBy("node")
      },
      Some(s"""WITH RECURSIVE ed0 AS (
          SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN supplier ON s_suppkey = l_suppkey
          WHERE c_nationkey = s_nationkey),
        pairs AS (SELECT cust AS id_a, supp + $SuppOffset AS id_b FROM ed0),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach(src, dst) AS (SELECT DISTINCT src, src FROM edges
          UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        SELECT src AS node, min(dst) AS component_id FROM reach
        GROUP BY src ORDER BY node"""),
      "Connected components of the nation-restricted customer-supplier graph " +
        "(min-label propagation to convergence vs a recursive-CTE closure): " +
        "one component per domestic trading bloc."),

    "graph_pagerank" -> Q(
      (s, d) => PageRank.run(edges(s, d), Iters, Scale),
      Some(pagerankSql(Iters)),
      "Fixed-iteration PageRank in scaled-integer arithmetic: two shuffles per iteration " +
        "(edges-by-src join, inflow-by-dst agg), O(1) driver scalars, bit-exact vs the " +
        "unrolled SQL replay."),

    "graph_clustering_coeff" -> Q(
      (s, d) => {
        // LOCAL CLUSTERING COEFFICIENT per node — the normalized readout of
        // graph_triangles (how close each node's neighborhood is to a
        // clique: cc = 2·tri/(deg·(deg−1))), emitted as the exact e6
        // integer quotient; degree-1 nodes read 0 (guarded division,
        // mirrored). Triangle counts ride the same skew-safe wedge join.
        val li = table(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        val e = li.as("a")
          .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
          .select(least(col("a.l_partkey"), col("b.l_partkey")).as("u"),
            greatest(col("a.l_partkey"), col("b.l_partkey")).as("v"))
          .distinct()
        val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
          .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        val tri = Triangles.perNode(e)
        deg.join(tri, Seq("node"), "left")
          .select(col("node"), col("deg"),
            coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
            when(col("deg") < 2, 0L).otherwise(
              graft.core.idiv(lit(2000000L) * coalesce(col("n_triangles"), lit(0L)),
                col("deg") * (col("deg") - 1L))).as("cc_e6"))
          .orderBy(col("node"))
      },
      Some("""WITH e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
            greatest(a.l_partkey, b.l_partkey) AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        deg AS (SELECT node, count(*) AS deg FROM (
            SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1),
        tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM e0 e1 JOIN e0 e2 ON e1.v = e2.u JOIN e0 e3
            ON e3.u = e1.u AND e3.v = e2.v),
        pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
            SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri) GROUP BY 1)
        SELECT deg.node, CAST(deg AS BIGINT) AS deg,
          coalesce(n_triangles, 0) AS n_triangles,
          CAST(CASE WHEN deg < 2 THEN 0
            ELSE (2000000 * coalesce(n_triangles, 0)) // (deg * (deg - 1))
            END AS BIGINT) AS cc_e6
        FROM deg LEFT JOIN pn ON deg.node = pn.node
        ORDER BY deg.node"""),
      "Local clustering coefficient (2·tri/(deg·(deg−1)) as exact e6): the " +
        "normalized per-node readout of the triangle census, degree-1 " +
        "guard mirrored on both engines."),

    "graph_ktruss" -> Q(
      (s, d) => {
        // k-truss of the part co-purchase graph (k = 12: every surviving
        // edge sits in ≥ 10 triangles among survivors) — the triangle-
        // supported cohesion backbone one rung above graph_kcore's degree
        // rule. Engine peels to the FIXPOINT; the oracle unrolls 6 rounds
        // (≥ the measured convergence at both gated SFs; extra rounds are
        // no-ops on a converged set, so the replay is round-count-safe).
        val li = table(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        val e = li.as("a")
          .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
          .select(least(col("a.l_partkey"), col("b.l_partkey")).as("u"),
            greatest(col("a.l_partkey"), col("b.l_partkey")).as("v"))
          .distinct()
        graft.operators.KTruss.edges(e, k = 12)
      },
      Some(ktrussSql(k = 12, rounds = 6)),
      "k-truss extraction (k = 12): iterative triangle-support peel via the " +
        "degree-ordered wedge join (skew-safe O(m^1.5) wedges), each " +
        "triangle crediting its three canonical edges — fixpoint engine vs " +
        "the unrolled-round replay."),

    "graph_triangles" -> Q(
      (s, d) => {
        // Co-purchase graph: canonical edge {u < v} between two parts that
        // share an order. The customer-supplier graph above is bipartite
        // (triangle-free by construction), so the triangle surface uses this
        // one. Self-join keyed on the order id; order sizes are bounded, so
        // the per-key pair fan-out is too.
        val li = table(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        val e = li.as("a")
          .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
          .select(least(col("a.l_partkey"), col("b.l_partkey")).as("u"),
            greatest(col("a.l_partkey"), col("b.l_partkey")).as("v"))
          .distinct()
        Triangles.perNode(e).orderBy(col("node"))
      },
      Some("""WITH e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
            greatest(a.l_partkey, b.l_partkey) AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM e0 e1 JOIN e0 e2 ON e2.u = e1.v
          JOIN e0 e3 ON e3.u = e1.u AND e3.v = e2.v),
        corners AS (SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
        SELECT node, count(*) AS n_triangles FROM corners
        GROUP BY node ORDER BY node"""),
      "Per-node triangle counts on the part co-purchase graph via the degree-ordered " +
        "wedge join (out-degree capped at O(sqrt(m)) by orientation — hub-skew-proof) " +
        "vs the canonical a<b<c triple-join oracle."),

    "graph_shortest_paths" -> Q(
      (s, d) => {
        // Multi-source unweighted shortest paths to depth 4 over the
        // customer–supplier graph: proper frontier BFS (anti-join settled,
        // frontier carries only NEWLY reached nodes — state O(reached),
        // shrinking frontier). The oracle uses the naive walk-level
        // expansion + MIN, output-equivalent (min walk length = shortest
        // distance) but the shape that would NOT scale — the engine runs
        // the one that does.
        val sources = table(s, d, "customer")
          .filter(col("c_custkey") <= 20)
          .select(col("c_custkey").as("node"))
        graft.operators.Bfs.shortestPaths(edges(s, d), sources, 4)
          .orderBy(col("node"))
      },
      Some(s"""WITH ed0 AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          edges AS (SELECT cust AS src, supp + $SuppOffset AS dst FROM ed0
            UNION ALL SELECT supp + $SuppOffset, cust FROM ed0),
          l0 AS (SELECT DISTINCT c_custkey AS node FROM customer WHERE c_custkey <= 20),
          l1 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN l0 ON e.src = l0.node),
          l2 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN l1 ON e.src = l1.node),
          l3 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN l2 ON e.src = l2.node),
          l4 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN l3 ON e.src = l3.node),
          alld AS (SELECT node, 0 AS dist FROM l0
            UNION ALL SELECT node, 1 FROM l1
            UNION ALL SELECT node, 2 FROM l2
            UNION ALL SELECT node, 3 FROM l3
            UNION ALL SELECT node, 4 FROM l4)
        SELECT node, CAST(min(dist) AS BIGINT) AS dist
        FROM alld GROUP BY node ORDER BY node"""),
      "Bounded-depth multi-source BFS as shrinking-frontier iterative joins " +
        "(anti-join settled each hop) vs the naive walk-level + MIN oracle."),

    "graph_weighted_paths" -> Q(
      (s, d) => {
        // Weighted companion of graph_shortest_paths: cheapest ≤4-edge path
        // by Bellman–Ford delta relaxation (only nodes whose distance
        // improved last round relax their out-edges). Integer edge weights
        // 1 + (cust*31 + supp) % 9 — deterministic, derived identically on
        // both engines — keep every distance bit-exact, so the iterative
        // fixed point is oracle-checkable with no tolerance gate. The oracle
        // unrolls the textbook (non-delta) relaxation: identical output by
        // the Bellman–Ford invariant, quadratically more relaxation work —
        // the engine runs the shape that scales.
        val sources = table(s, d, "customer")
          .filter(col("c_custkey") <= 20)
          .select(col("c_custkey").as("node"))
        graft.operators.Bfs.weightedShortestPaths(weightedEdges(s, d), sources, 4)
          .orderBy(col("node"))
      },
      Some(s"""WITH ed0 AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          edw AS (SELECT cust, supp, 1 + (cust*31 + supp) % 9 AS w FROM ed0),
          edges AS (SELECT cust AS src, supp + $SuppOffset AS dst, w FROM edw
            UNION ALL SELECT supp + $SuppOffset, cust, w FROM edw),
          d0 AS (SELECT c_custkey AS node, 0 AS dist FROM customer WHERE c_custkey <= 20),
          d1 AS (SELECT node, min(dist) AS dist FROM (SELECT node, dist FROM d0
            UNION ALL SELECT e.dst, d0.dist + e.w FROM edges e JOIN d0 ON e.src = d0.node) GROUP BY node),
          d2 AS (SELECT node, min(dist) AS dist FROM (SELECT node, dist FROM d1
            UNION ALL SELECT e.dst, d1.dist + e.w FROM edges e JOIN d1 ON e.src = d1.node) GROUP BY node),
          d3 AS (SELECT node, min(dist) AS dist FROM (SELECT node, dist FROM d2
            UNION ALL SELECT e.dst, d2.dist + e.w FROM edges e JOIN d2 ON e.src = d2.node) GROUP BY node),
          d4 AS (SELECT node, min(dist) AS dist FROM (SELECT node, dist FROM d3
            UNION ALL SELECT e.dst, d3.dist + e.w FROM edges e JOIN d3 ON e.src = d3.node) GROUP BY node)
        SELECT node, CAST(dist AS BIGINT) AS dist FROM d4 ORDER BY node"""),
      "Bounded-hop weighted shortest paths via delta-relaxation Bellman-Ford " +
        "(frontier = improved nodes only) vs the unrolled textbook relaxation, " +
        "bit-exact on integer weights."),

    "graph_pagerank_personalized" -> Q(
      (s, d) => {
        // Random walk with restart from customers ≤ 20: teleport AND
        // dangling mass return only to the seed set, so rank_scaled measures
        // proximity to those customers (the recommendation / local-community
        // signal) rather than global link quality. Same scaled-integer
        // bit-exact iterate as graph_pagerank; the oracle unrolls the
        // seed-restricted recurrence.
        val sources = table(s, d, "customer")
          .filter(col("c_custkey") <= 20)
          .select(col("c_custkey").as("node"))
        PageRank.personalized(edges(s, d), sources, Iters, Scale)
      },
      Some(pprSql(Iters)),
      "Personalized PageRank (random walk with restart to the seed set) in " +
        "scaled-integer arithmetic — bit-exact vs the unrolled seed-restricted " +
        "SQL replay; two shuffles per iteration plus a |S|-row flag join."),

    "graph_link_prediction" -> Q(
      (s, d) => {
        // Link prediction for a seed cohort (parts < 500) on the co-purchase
        // graph: common-neighbor counts over NON-adjacent pairs, with the
        // neighborhood-Jaccard tiebreak in e6 integer arithmetic — the
        // candidate-generation pass of a recommender. Shapes: the wedge
        // join fans out ONLY from the seed side (cost O(Σ_{u∈seeds} deg(u)²
        // /avg), not the full graph's wedge count); existing edges drop via
        // a co-partitioned anti-join; the O(nodes) degree frame joins twice
        // (AQE picks broadcast at small |V|, shuffled-hash beyond — nothing
        // requires the broadcast). Hub skew on the intermediate-node side is
        // the same exposure as any wedge pass — production caps hub degree
        // before the join; here order baskets bound the degrees.
        val li = table(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        val e0 = li.as("a")
          .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
          .select(least(col("a.l_partkey"), col("b.l_partkey")).as("u"),
            greatest(col("a.l_partkey"), col("b.l_partkey")).as("v"))
          .distinct()
        val e = e0.select(col("u").as("src"), col("v").as("dst"))
          .unionByName(e0.select(col("v").as("src"), col("u").as("dst")))
        val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val wedges = e.filter(col("src") < 500)
          .select(col("src").as("u"), col("dst").as("w"))
          .join(e.select(col("src").as("w"), col("dst").as("v")), "w")
          .filter(col("v") =!= col("u"))
          .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
        wedges
          .join(e.select(col("src").as("u"), col("dst").as("v")),
            Seq("u", "v"), "left_anti")
          .join(deg.select(col("src").as("u"), col("deg").as("deg_u")), "u")
          .join(deg.select(col("src").as("v"), col("deg").as("deg_v")), "v")
          .withColumn("jaccard_e6",
            idiv(lit(1000000L) * col("cn"), col("deg_u") + col("deg_v") - col("cn")))
          .select(col("u"), col("v"), col("cn"), col("deg_u"), col("deg_v"),
            col("jaccard_e6"))
          .orderBy(desc("cn"), desc("jaccard_e6"), col("u"), col("v"))
          .limit(100)
      },
      Some("""WITH e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
            greatest(a.l_partkey, b.l_partkey) AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        e AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
        deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        wed AS (SELECT a.src AS u, b.dst AS v, count(*) AS cn
          FROM e a JOIN e b ON a.dst = b.src AND b.dst <> a.src
          WHERE a.src < 500 GROUP BY 1, 2),
        na AS (SELECT w.u, w.v, w.cn FROM wed w
          LEFT JOIN e ON e.src = w.u AND e.dst = w.v WHERE e.src IS NULL)
        SELECT na.u, na.v, na.cn, du.deg AS deg_u, dv.deg AS deg_v,
          (1000000 * na.cn) // (du.deg + dv.deg - na.cn) AS jaccard_e6
        FROM na JOIN deg du ON na.u = du.src JOIN deg dv ON na.v = dv.src
        ORDER BY cn DESC, jaccard_e6 DESC, u, v LIMIT 100"""),
      "Common-neighbor link prediction from a seed cohort: seed-side wedge " +
        "join, anti-join out existing edges, e6 neighborhood-Jaccard " +
        "tiebreak — deterministic top-100 candidate pairs."),

    "graph_hits" -> Q(
      (s, d) => {
        // HITS hubs & authorities on the DIRECTED customer→supplier edge
        // set (the natural bipartite orientation: customers point at the
        // suppliers they buy from, so hub scores rank customers and
        // authority scores rank suppliers). Same scaled-integer discipline
        // as PageRank: each half-step is one edge join + one aggregate,
        // then a sum-normalization back to Scale via a broadcast one-row
        // total with the product in DECIMAL(38,0) (Scale·raw overflows
        // BIGINT immediately: 10¹²·10¹⁶). 3 rounds, bit-exact vs the
        // unrolled replay.
        val li = table(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        val o = table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
        val e = li.join(o, li("l_orderkey") === o("o_orderkey"))
          .select(col("o_custkey").as("src"), (col("l_suppkey") + SuppOffset).as("dst"))
          .distinct()
        graft.operators.Hits.run(e, rounds = 3, scale = Scale)
      },
      Some(hitsSql(rounds = 3)),
      "HITS hubs/authorities (3 rounds, scaled-integer with DECIMAL(38,0) " +
        "normalization products): two join+aggregate half-steps per round " +
        "plus broadcast one-row totals — bit-exact vs the unrolled SQL replay."),

    "graph_temporal_reachability" -> Q(
      (s, d) => {
        // Time-respecting reachability from customers ≤ 20: each hop must
        // use an order STRICTLY LATER than the arrival at its source — the
        // propagation semantics structural BFS gets wrong. Edge timestamp =
        // the order date (both directions share it); 3 hops of
        // delta-relaxation (operators.Bfs.temporalReachability), earliest
        // arrival in epoch µs, integer-exact vs the unrolled full-relaxation
        // replay (equivalent by the label-correcting invariant — the
        // engine runs the delta shape that scales).
        val li = table(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        val o = table(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        val ed = li.join(o, li("l_orderkey") === o("o_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("t"))
          .distinct() // keep PARALLEL edges: later re-orders open later paths
        val e = ed.select(col("cust").as("src"), (col("supp") + SuppOffset).as("dst"), col("t"))
          .unionByName(ed.select((col("supp") + SuppOffset).as("src"),
            col("cust").as("dst"), col("t")))
        val sources = table(s, d, "customer")
          .filter(col("c_custkey") <= 20)
          .select(col("c_custkey").as("node"))
        graft.operators.Bfs.temporalReachability(e, sources, maxHops = 3)
          .select(col("node"), col("arr").as("arrival_us"))
          .orderBy(col("node"))
      },
      Some(s"""WITH ed AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp,
            epoch_us(o_orderdate) AS t
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS (SELECT cust AS src, supp + $SuppOffset AS dst, t FROM ed
          UNION ALL SELECT supp + $SuppOffset, cust, t FROM ed),
        r0 AS (SELECT c_custkey AS node, CAST(0 AS BIGINT) AS arr
          FROM customer WHERE c_custkey <= 20),
        r1 AS (SELECT node, min(arr) AS arr FROM (SELECT node, arr FROM r0
          UNION ALL SELECT e.dst, e.t FROM edges e JOIN r0 p
            ON e.src = p.node AND e.t > p.arr) GROUP BY node),
        r2 AS (SELECT node, min(arr) AS arr FROM (SELECT node, arr FROM r1
          UNION ALL SELECT e.dst, e.t FROM edges e JOIN r1 p
            ON e.src = p.node AND e.t > p.arr) GROUP BY node),
        r3 AS (SELECT node, min(arr) AS arr FROM (SELECT node, arr FROM r2
          UNION ALL SELECT e.dst, e.t FROM edges e JOIN r2 p
            ON e.src = p.node AND e.t > p.arr) GROUP BY node)
        SELECT node, CAST(arr AS BIGINT) AS arrival_us FROM r3 ORDER BY node"""),
      "Time-respecting temporal reachability (edges usable only strictly " +
        "after arrival at their source): 3-hop delta-relaxation earliest " +
        "arrival, integer-exact vs the unrolled full-relaxation replay."),

    "graph_degree_assortativity" -> Q(
      (s, d) => {
        // Degree assortativity of the part co-purchase graph: does a
        // high-degree part link to other high-degree parts (assortative,
        // r > 0) or to leaves (disassortative, r < 0)? Pearson r over the
        // (deg(src), deg(dst)) pairs of the symmetric edge list — Sy/Syy
        // fold into Sx/Sxx by symmetry. sqrt-free emission: sign(cov) plus
        // r²·10⁶ from the ONE-floor-per-factor reduction cov_e = cov_n DIV
        // n, var_e = var_n DIV n (raw cov_n² would cross DECIMAL(38,0)
        // around 10⁸ edges; the reduced squares stay inside it to ~10¹⁹ —
        // both engines replay the identical floors). One degree aggregate,
        // two co-partitioned joins, a single global sufficient-stats fold.
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val li = table(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        val e0 = li.as("a")
          .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
          .select(least(col("a.l_partkey"), col("b.l_partkey")).as("u"),
            greatest(col("a.l_partkey"), col("b.l_partkey")).as("v"))
          .distinct()
        val e = e0.select(col("u").as("src"), col("v").as("dst"))
          .unionByName(e0.select(col("v").as("src"), col("u").as("dst")))
        val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val pairs = e
          .join(deg.select(col("src"), col("deg").as("x")), "src")
          .join(deg.select(col("src").as("dst"), col("deg").as("y")), "dst")
        val sums = pairs.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
          sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"))
        val covN = col("n").cast(d38) * col("sxy") - col("sx").cast(d38) * col("sx").cast(d38)
        val varN = col("n").cast(d38) * col("sxx") - col("sx").cast(d38) * col("sx").cast(d38)
        sums
          .withColumn("cov_e",
            when(covN >= 0, idiv(covN, col("n").cast(d38)))
              .otherwise(-idiv(-covN, col("n").cast(d38))))
          .withColumn("var_e", idiv(varN, col("n").cast(d38)))
          .select(col("n").as("n_pairs"),
            signum(col("cov_e")).cast("long").as("r_sign"),
            idiv(lit(1000000L).cast(d38) * col("cov_e").cast(d38) * col("cov_e").cast(d38),
              col("var_e").cast(d38) * col("var_e").cast(d38)).as("r2_e6"))
      },
      Some("""WITH e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
            greatest(a.l_partkey, b.l_partkey) AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        e AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
        dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        p AS (SELECT dx.deg AS x, dy.deg AS y FROM e
          JOIN dg dx ON e.src = dx.src JOIN dg dy ON e.dst = dy.src),
        s AS (SELECT count(*) AS n, CAST(sum(x) AS HUGEINT) AS sx,
            sum(CAST(x AS HUGEINT) * x) AS sxx,
            sum(CAST(x AS HUGEINT) * y) AS sxy
          FROM p),
        f AS (SELECT n,
            CASE WHEN n * sxy - sx * sx >= 0
              THEN (n * sxy - sx * sx) // n
              ELSE -((-(n * sxy - sx * sx)) // n) END AS cov_e,
            (n * sxx - sx * sx) // n AS var_e
          FROM s)
        SELECT n AS n_pairs,
          CAST(CASE WHEN cov_e > 0 THEN 1 WHEN cov_e < 0 THEN -1 ELSE 0 END AS BIGINT) AS r_sign,
          CAST((1000000 * cov_e * cov_e) // (var_e * var_e) AS BIGINT) AS r2_e6
        FROM f"""),
      "Degree assortativity (sign + r2 in e6, sqrt-free): one degree " +
        "aggregate, two co-partitioned endpoint joins, a single " +
        "sufficient-stats fold with replayed DIV-n reductions."),

    "graph_closeness_sampled" -> Q(
      (s, d) => {
        // Sampled-landmark HARMONIC closeness (Eppstein–Wang estimator
        // family): per-source BFS distances from 10 pivot customers to
        // depth 4, then per node Σ ⌊10⁶/d⌋ over the pivots that reach it —
        // harmonic, so unreached pivots contribute 0 instead of an
        // infinite term, and the per-term integer floor keeps the sum
        // order-independent (bit-exact on both engines). Exact closeness
        // is one BFS per NODE — O(V·E), a non-starter; the landmark
        // estimate is |pivots| BFS sweeps, each one keyed shuffle +
        // distinct + anti-join per hop with state O(pivots · reached).
        val sources = table(s, d, "customer")
          .filter(col("c_custkey") <= 10)
          .select(col("c_custkey").as("node"))
        graft.operators.Bfs.perSourceDistances(edges(s, d), sources, 4)
          .groupBy(col("node"))
          .agg(count(lit(1)).as("n_sources"),
            sum(when(col("dist") >= 1, idiv(lit(1000000L), col("dist")))
              .otherwise(0L)).as("harm_e6"))
          .orderBy(col("node"))
      },
      Some(s"""WITH ed0 AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          edges AS MATERIALIZED (SELECT cust AS src, supp + $SuppOffset AS dst FROM ed0
            UNION ALL SELECT supp + $SuppOffset, cust FROM ed0),
          l0 AS MATERIALIZED (SELECT c_custkey AS s, c_custkey AS node FROM customer
            WHERE c_custkey <= 10),
          l1 AS MATERIALIZED (SELECT DISTINCT l0.s, e.dst AS node FROM edges e
            JOIN l0 ON e.src = l0.node),
          l2 AS MATERIALIZED (SELECT DISTINCT l1.s, e.dst AS node FROM edges e
            JOIN l1 ON e.src = l1.node),
          l3 AS MATERIALIZED (SELECT DISTINCT l2.s, e.dst AS node FROM edges e
            JOIN l2 ON e.src = l2.node),
          l4 AS MATERIALIZED (SELECT DISTINCT l3.s, e.dst AS node FROM edges e
            JOIN l3 ON e.src = l3.node),
          alld AS MATERIALIZED (SELECT s, node, 0 AS dist FROM l0
            UNION ALL SELECT s, node, 1 FROM l1
            UNION ALL SELECT s, node, 2 FROM l2
            UNION ALL SELECT s, node, 3 FROM l3
            UNION ALL SELECT s, node, 4 FROM l4),
          md AS MATERIALIZED (SELECT s, node, min(dist) AS d FROM alld GROUP BY s, node)
        SELECT node, count(*) AS n_sources,
          CAST(sum(CASE WHEN d >= 1 THEN 1000000 // d ELSE 0 END) AS BIGINT) AS harm_e6
        FROM md GROUP BY node ORDER BY node"""),
      "Sampled-landmark harmonic closeness: per-source BFS to depth 4 from " +
        "10 pivots, per-node Σ floor(1e6/dist) — the Eppstein–Wang estimate " +
        "in order-independent integer arithmetic vs the naive walk-level + " +
        "MIN replay."),

    "graph_betweenness_sampled" -> Q(
      (s, d) => {
        // Brandes betweenness from 10 sampled pivots, paths ≤ 3 edges
        // (Brandes–Pich pivot sampling + a depth bound): forward per-level
        // σ path counts as exact BIGINT sums, backward dependency sweep as
        // e6-floored per-edge terms δ(v) += ⌊σ_v·(10⁶+δ(w))/σ_w⌋ — every
        // step integer, so the whole two-pass algorithm replays bit-exact
        // as unrolled SQL. See operators.Betweenness for the scale shape.
        val sources = table(s, d, "customer")
          .filter(col("c_custkey") <= 10)
          .select(col("c_custkey").as("node"))
        graft.operators.Betweenness.sampled(edges(s, d), sources, maxDepth = 3)
      },
      Some(s"""WITH ed0 AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          edges AS MATERIALIZED (SELECT cust AS src, supp + $SuppOffset AS dst FROM ed0
            UNION ALL SELECT supp + $SuppOffset, cust FROM ed0),
          f0 AS MATERIALIZED (SELECT c_custkey AS s, c_custkey AS node,
            CAST(1 AS BIGINT) AS sigma FROM customer WHERE c_custkey <= 10),
          f1 AS MATERIALIZED (SELECT x.s, x.node, x.sigma FROM (
              SELECT f0.s, e.dst AS node, CAST(sum(f0.sigma) AS BIGINT) AS sigma
              FROM edges e JOIN f0 ON e.src = f0.node GROUP BY f0.s, e.dst) x
            LEFT JOIN f0 p ON x.s = p.s AND x.node = p.node
            WHERE p.node IS NULL),
          s1 AS MATERIALIZED (SELECT s, node FROM f0 UNION ALL SELECT s, node FROM f1),
          f2 AS MATERIALIZED (SELECT x.s, x.node, x.sigma FROM (
              SELECT f1.s, e.dst AS node, CAST(sum(f1.sigma) AS BIGINT) AS sigma
              FROM edges e JOIN f1 ON e.src = f1.node GROUP BY f1.s, e.dst) x
            LEFT JOIN s1 p ON x.s = p.s AND x.node = p.node
            WHERE p.node IS NULL),
          s2 AS MATERIALIZED (SELECT s, node FROM s1 UNION ALL SELECT s, node FROM f2),
          f3 AS MATERIALIZED (SELECT x.s, x.node, x.sigma FROM (
              SELECT f2.s, e.dst AS node, CAST(sum(f2.sigma) AS BIGINT) AS sigma
              FROM edges e JOIN f2 ON e.src = f2.node GROUP BY f2.s, e.dst) x
            LEFT JOIN s2 p ON x.s = p.s AND x.node = p.node
            WHERE p.node IS NULL),
          d3 AS MATERIALIZED (SELECT s, node, CAST(0 AS BIGINT) AS delta FROM f3),
          a2 AS MATERIALIZED (SELECT v.s, v.node,
              CAST(sum((CAST(v.sigma AS HUGEINT) * (1000000 + dd.delta)) // w.sigma)
                AS BIGINT) AS delta
            FROM f2 v JOIN edges e ON e.src = v.node
            JOIN f3 w ON w.s = v.s AND w.node = e.dst
            JOIN d3 dd ON dd.s = v.s AND dd.node = e.dst
            GROUP BY v.s, v.node),
          d2 AS MATERIALIZED (SELECT f.s, f.node, coalesce(a.delta, CAST(0 AS BIGINT)) AS delta
            FROM f2 f LEFT JOIN a2 a ON a.s = f.s AND a.node = f.node),
          a1 AS MATERIALIZED (SELECT v.s, v.node,
              CAST(sum((CAST(v.sigma AS HUGEINT) * (1000000 + dd.delta)) // w.sigma)
                AS BIGINT) AS delta
            FROM f1 v JOIN edges e ON e.src = v.node
            JOIN f2 w ON w.s = v.s AND w.node = e.dst
            JOIN d2 dd ON dd.s = v.s AND dd.node = e.dst
            GROUP BY v.s, v.node),
          d1 AS MATERIALIZED (SELECT f.s, f.node, coalesce(a.delta, CAST(0 AS BIGINT)) AS delta
            FROM f1 f LEFT JOIN a1 a ON a.s = f.s AND a.node = f.node)
        SELECT node, CAST(sum(delta) AS BIGINT) AS bc_e6
        FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
        GROUP BY node ORDER BY node"""),
      "Sampled-pivot bounded-depth Brandes betweenness: exact integer σ " +
        "path counts forward, e6-floored dependency sweep backward — both " +
        "passes replay bit-exact as unrolled SQL; state O(pivots·reached).")
  )
}
