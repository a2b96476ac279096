package graft
package gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Graphs
import Fixtures._

/** Graph gates (`graph_*`): traversal, centrality, link prediction and
  * communities over the co-purchase graph and the per-user topology
  * snapshots.
  */
object GraphGates {

  def gates: Seq[Gate] = Seq(

    Gate("graph_bfs_hops", { (s, dir) =>
      // multi-source BFS over the co-purchase graph (same support-2
      // edge recipe as graph_triangles): hop distances from the
      // partkey%50==0 seed set, depth-capped at 3. Frontier-expansion
      // equi-joins — per round only frontier-adjacent edges move, never
      // a transitive closure; distances are exact integers (no
      // fixed-point lane needed, unlike pagerank's ranks).
      val edges = copurchaseEdges(s, dir)
      val seeds = edges.select(col("u").as("v"))
        .unionAll(edges.select(col("v")))
        .where(col("v") % 50 === 0).distinct()
      Graphs.bfsDistances(edges, seeds, maxHops = 3).orderBy("v")
    },
      // same support-2 co-purchase edges as graph_triangles; the
      // UNION-dedup recursion keeps state bounded by V x maxHops, and
      // min(dist) over enumerated (v, dist) pairs IS the BFS hop count
      """WITH RECURSIVE lp AS (SELECT DISTINCT l_orderkey, l_partkey
        |  FROM lineitem),
        |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        |seeds AS (SELECT DISTINCT k AS v FROM
        |    (SELECT u AS k FROM e UNION ALL SELECT v FROM e)
        |  WHERE k % 50 = 0),
        |walk AS (SELECT v, CAST(0 AS BIGINT) AS dist FROM seeds
        |  UNION
        |  SELECT und.v, walk.dist + 1 FROM walk
        |  JOIN und ON und.u = walk.v WHERE walk.dist < 3)
        |SELECT v, min(dist) AS dist FROM walk GROUP BY v
        |ORDER BY v""".stripMargin),

    Gate("graph_sssp", { (s, dir) =>
      // WEIGHTED shortest paths on the co-purchase graph (the weighted
      // sibling of graph_bfs_hops): edge length 10⁶ div support — strong
      // links are short — 4 fixed Bellman–Ford rounds from the smallest
      // vertex. Integer lengths keep every relaxation exact; fixed
      // rounds make it a deterministic function of the edge set
      // (unrolled AS MATERIALIZED CTEs on the oracle side). O(E) per
      // round — relax-and-min, never path enumeration.
      val edges = copurchaseEdges(s, dir)
        .withColumn("w", expr("1000000 div support"))
        .localCheckpoint(true) // feeds seeds + 4 relaxation rounds
      val seeds = edges.agg(min("u").as("v"))
      Graphs.ssspDistances(edges, seeds, rounds = 4).orderBy("v")
    },
      // 4 unrolled Bellman–Ford rounds (fixed-round iterative rule); a
      // bounded recursion would enumerate PATHS — combinatorial on this
      // graph — where relax-and-min keeps state V-bounded per round
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v,
        |    1000000 // CAST(count(*) AS BIGINT) AS w
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS MATERIALIZED (SELECT u, v, w FROM e0
        |  UNION ALL SELECT v AS u, u AS v, w FROM e0),
        |d0 AS MATERIALIZED (SELECT min(u) AS v, CAST(0 AS BIGINT) AS dist
        |  FROM und),
        |d1 AS MATERIALIZED (SELECT v, min(dist) AS dist FROM (
        |  SELECT v, dist FROM d0 UNION ALL
        |  SELECT und.v, d0.dist + und.w FROM und JOIN d0 ON und.u = d0.v)
        |  GROUP BY v),
        |d2 AS MATERIALIZED (SELECT v, min(dist) AS dist FROM (
        |  SELECT v, dist FROM d1 UNION ALL
        |  SELECT und.v, d1.dist + und.w FROM und JOIN d1 ON und.u = d1.v)
        |  GROUP BY v),
        |d3 AS MATERIALIZED (SELECT v, min(dist) AS dist FROM (
        |  SELECT v, dist FROM d2 UNION ALL
        |  SELECT und.v, d2.dist + und.w FROM und JOIN d2 ON und.u = d2.v)
        |  GROUP BY v),
        |d4 AS MATERIALIZED (SELECT v, min(dist) AS dist FROM (
        |  SELECT v, dist FROM d3 UNION ALL
        |  SELECT und.v, d3.dist + und.w FROM und JOIN d3 ON und.u = d3.v)
        |  GROUP BY v)
        |SELECT v, dist FROM d4 ORDER BY v""".stripMargin),

    Gate("graph_jaccard_links", { (s, dir) =>
      // link prediction on the co-purchase graph (same support-2 edges):
      // neighbor-set Jaccard over unlinked 2-path pairs, top 20 — the
      // "customers who bought X also bought Y" candidate scorer. Exact
      // BIGINT counts + one IEEE division ⇒ raw-double ranking is safe
      // cross-engine (no rounding lane needed).
      val edges = copurchaseEdges(s, dir)
      Graphs.jaccardLinks(edges)
        .orderBy(col("jaccard").desc, col("a"), col("c")).limit(20)
    },
      // same support-2 edges; exact integer counts, one division
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
        |  FROM und GROUP BY u),
        |paths AS (SELECT x.u AS a, y.v AS c FROM und x
        |  JOIN und y ON x.v = y.u WHERE x.u < y.v),
        |cnt AS (SELECT a, c, CAST(count(*) AS BIGINT) AS cn
        |  FROM paths GROUP BY a, c),
        |nl AS (SELECT cnt.a, cnt.c, cnt.cn FROM cnt
        |  LEFT JOIN e0 ON e0.u = cnt.a AND e0.v = cnt.c
        |  WHERE e0.u IS NULL)
        |SELECT nl.a, nl.c, nl.cn,
        |  CAST(nl.cn AS DOUBLE) / (da.deg + dc.deg - nl.cn) AS jaccard
        |FROM nl JOIN deg da ON da.u = nl.a JOIN deg dc ON dc.u = nl.c
        |ORDER BY jaccard DESC, a, c LIMIT 20""".stripMargin),

    Gate("graph_ra_links", { (s, dir) =>
      // link prediction #2 on the same co-purchase graph: the
      // resource-allocation index (Σ 1/deg over common neighbors) —
      // degree-penalized where Jaccard is size-normalized, so hub
      // midpoints stop dominating. Scored entirely in the exact integer
      // lane (10⁹ div deg per midpoint, BIGINT sum): no ln, no float
      // summation order, same 2-path + left-anti plan as jaccardLinks.
      val edges = copurchaseEdges(s, dir)
      Graphs.resourceAllocationLinks(edges)
        .orderBy(col("ra_ppb").desc, col("a"), col("c")).limit(20)
    },
      // same support-2 edges; midpoint degree joins BEFORE the per-pair
      // agg, score is the exact 10⁹-div-deg BIGINT sum
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
        |  FROM und GROUP BY u),
        |paths AS (SELECT x.u AS a, x.v AS b, y.v AS c FROM und x
        |  JOIN und y ON x.v = y.u WHERE x.u < y.v),
        |sc AS (SELECT p.a, p.c, CAST(count(*) AS BIGINT) AS cn,
        |    CAST(sum(1000000000 // d.deg) AS BIGINT) AS ra_ppb
        |  FROM paths p JOIN deg d ON d.u = p.b GROUP BY p.a, p.c)
        |SELECT sc.a, sc.c, sc.cn, sc.ra_ppb FROM sc
        |LEFT JOIN e0 ON e0.u = sc.a AND e0.v = sc.c WHERE e0.u IS NULL
        |ORDER BY ra_ppb DESC, a, c LIMIT 20""".stripMargin),

    Gate("graph_snapshot_stats", { (s, dir) =>
      // graph value type (SURVEY §1.4) end-to-end: per (user, day) the
      // event sequence becomes a topology snapshot {v:[{i}], e:[{f,t}]}
      // serialized as the stream's JSON value, then parsed back through
      // Graphs.snapshotStats. The oracle computes the same stats
      // relationally (vertices = distinct types, edges = transitions).
      Graphs.snapshotStats(graphSnapshots(s, dir))
        .select(col("user_id"), col("day"),
          col("n_vertices").cast("long").as("n_vertices"),
          col("n_edges").cast("long").as("n_edges"), col("mean_degree"))
        .orderBy("user_id", "day")
    },
      """SELECT user_id, CAST(ts AS DATE) AS day,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_vertices,
        |  CAST(count(*) - 1 AS BIGINT) AS n_edges,
        |  2.0 * (count(*) - 1) / count(DISTINCT event_type) AS mean_degree
        |FROM events WHERE user_id < 8
        |GROUP BY user_id, CAST(ts AS DATE)
        |ORDER BY user_id, day""".stripMargin),

    Gate("graph_churn", { (s, dir) =>
      // temporal graph analytics: per-user edge churn between consecutive
      // day snapshots (first snapshot counts all edges as added)
      Graphs.churn(graphSnapshots(s, dir), Seq("user_id"), "day")
        .select("user_id", "day", "n_added", "n_removed")
        .orderBy("user_id", "day")
    },
      // distinct transition edges per (user, day), day-ordered set diff;
      // days with a single event have no edges and carry no row (same as
      // the Spark edges explode)
      """WITH seq AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                          ORDER BY event_id) AS prev
        |  FROM events WHERE user_id < 8),
        |ed AS (SELECT DISTINCT user_id, day, prev || ' ' || event_type AS edge
        |  FROM seq WHERE prev IS NOT NULL),
        |g AS (SELECT user_id, day, list(edge) AS es FROM ed GROUP BY user_id, day),
        |o AS (SELECT user_id, day, es,
        |    lag(es) OVER (PARTITION BY user_id ORDER BY day) AS prev FROM g)
        |SELECT user_id, day,
        |  CAST(CASE WHEN prev IS NULL THEN len(es)
        |       ELSE len(list_filter(es, e -> NOT list_contains(prev, e))) END AS BIGINT) AS n_added,
        |  CAST(CASE WHEN prev IS NULL THEN 0
        |       ELSE len(list_filter(prev, e -> NOT list_contains(es, e))) END AS BIGINT) AS n_removed
        |FROM o ORDER BY user_id, day""".stripMargin),

    Gate("graph_edge_degree", { (s, dir) =>
      // explode the stored snapshots back into relational edges and rank
      // event-type transition sources by out-degree
      Graphs.edges(graphSnapshots(s, dir))
        .groupBy(col("edge_from"))
        .agg(count(lit(1)).as("out_degree"),
          countDistinct("edge_to").as("n_targets"))
        .orderBy("edge_from")
    },
      """WITH seq AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                          ORDER BY event_id) AS prev
        |  FROM events WHERE user_id < 8)
        |SELECT prev AS edge_from, count(*) AS out_degree,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_targets
        |FROM seq WHERE prev IS NOT NULL
        |GROUP BY prev ORDER BY edge_from""".stripMargin),

    Gate("graph_pagerank", { (s, dir) =>
      // link analysis over the event-type transition graph: damped
      // weighted PageRank by INTEGER-exact power iteration (BIGINT
      // fixed-point, floor division — Graphs.pageRank) so the oracle
      // reproduces every step bit-for-bit; float ranks would diverge in
      // summation order across engines
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).where(col("user_id") < 8)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id", "day").orderBy("event_id")
      val edges = ev.withColumn("prev", lag("event_type", 1).over(w))
        .where(col("prev").isNotNull)
        .groupBy(col("prev").as("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("w"))
      Graphs.pageRank(edges, iters = 3).orderBy("v")
    },
      // integer-exact damped power iteration (3 rounds), mirrored
      // division-for-division: rank0 = scale//n, contrib = (r*w)//out_w,
      // r' = base + (85*inflow)//100. DuckDB's sum() widens to HUGEINT —
      // exact, cast back to BIGINT at the edges.
      """WITH seq AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                          ORDER BY event_id) AS prev
        |  FROM events WHERE user_id < 8),
        |ed AS (SELECT prev AS src, event_type AS dst,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type),
        |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w
        |  FROM ed GROUP BY src),
        |vs AS (SELECT DISTINCT v FROM
        |  (SELECT src AS v FROM ed UNION ALL SELECT dst FROM ed)),
        |pr AS (SELECT CAST(1000000000000 // count(*) AS BIGINT) AS r0,
        |    CAST(((1000000000000 // count(*)) * 15) // 100 AS BIGINT) AS base
        |  FROM vs),
        |it0 AS (SELECT v, r0 AS rank FROM vs CROSS JOIN pr),
        |f1 AS (SELECT ed.dst AS v,
        |    CAST(sum((it.rank * ed.w) // ow.out_w) AS BIGINT) AS inflow
        |  FROM ed JOIN ow USING (src) JOIN it0 it ON it.v = ed.src
        |  GROUP BY ed.dst),
        |it1 AS (SELECT vs.v,
        |    CAST(pr.base + (85 * coalesce(f1.inflow, 0)) // 100 AS BIGINT) AS rank
        |  FROM vs CROSS JOIN pr LEFT JOIN f1 ON f1.v = vs.v),
        |f2 AS (SELECT ed.dst AS v,
        |    CAST(sum((it.rank * ed.w) // ow.out_w) AS BIGINT) AS inflow
        |  FROM ed JOIN ow USING (src) JOIN it1 it ON it.v = ed.src
        |  GROUP BY ed.dst),
        |it2 AS (SELECT vs.v,
        |    CAST(pr.base + (85 * coalesce(f2.inflow, 0)) // 100 AS BIGINT) AS rank
        |  FROM vs CROSS JOIN pr LEFT JOIN f2 ON f2.v = vs.v),
        |f3 AS (SELECT ed.dst AS v,
        |    CAST(sum((it.rank * ed.w) // ow.out_w) AS BIGINT) AS inflow
        |  FROM ed JOIN ow USING (src) JOIN it2 it ON it.v = ed.src
        |  GROUP BY ed.dst),
        |it3 AS (SELECT vs.v,
        |    CAST(pr.base + (85 * coalesce(f3.inflow, 0)) // 100 AS BIGINT) AS rank
        |  FROM vs CROSS JOIN pr LEFT JOIN f3 ON f3.v = vs.v)
        |SELECT v, rank FROM it3 ORDER BY v""".stripMargin),

    Gate("graph_hits", { (s, dir) =>
      // hubs & authorities over the same event-type transition graph —
      // the directed-asymmetry question PageRank can't answer (a type
      // that FOLLOWS many types vs one many types LEAD TO). Two rounds
      // of the integer-exact mutual recursion (BIGINT floor-div
      // renormalization per side) so the oracle replays every round.
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).where(col("user_id") < 8)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id", "day").orderBy("event_id")
      val edges = ev.withColumn("prev", lag("event_type", 1).over(w))
        .where(col("prev").isNotNull)
        .groupBy(col("prev").as("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("w"))
      Graphs.hits(edges, iters = 2).orderBy("v")
    },
      // HITS: 2 unrolled rounds of the integer mutual recursion, each side
      // renormalized by x // greatest(1, sum(x) // scale) — mirrored
      // division-for-division (all terms non-negative, so DuckDB // ≡
      // Spark div)
      """WITH seq AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                          ORDER BY event_id) AS prev
        |  FROM events WHERE user_id < 8),
        |ed AS (SELECT prev AS src, event_type AS dst,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type),
        |vs AS (SELECT DISTINCT v FROM
        |  (SELECT src AS v FROM ed UNION ALL SELECT dst FROM ed)),
        |h0 AS (SELECT v, CAST(1000000000 AS BIGINT) AS hub FROM vs),
        |a1r AS (SELECT ed.dst AS v, CAST(sum(ed.w * h.hub) AS BIGINT) AS auth
        |  FROM ed JOIN h0 h ON h.v = ed.src GROUP BY ed.dst),
        |qa1 AS (SELECT greatest(1, CAST(sum(auth) AS BIGINT) // 1000000000) AS q
        |  FROM a1r),
        |a1 AS (SELECT vs.v,
        |    CAST(coalesce(a1r.auth, 0) // qa1.q AS BIGINT) AS auth
        |  FROM vs CROSS JOIN qa1 LEFT JOIN a1r ON a1r.v = vs.v),
        |h1r AS (SELECT ed.src AS v, CAST(sum(ed.w * a.auth) AS BIGINT) AS hub
        |  FROM ed JOIN a1 a ON a.v = ed.dst GROUP BY ed.src),
        |qh1 AS (SELECT greatest(1, CAST(sum(hub) AS BIGINT) // 1000000000) AS q
        |  FROM h1r),
        |h1 AS (SELECT vs.v,
        |    CAST(coalesce(h1r.hub, 0) // qh1.q AS BIGINT) AS hub
        |  FROM vs CROSS JOIN qh1 LEFT JOIN h1r ON h1r.v = vs.v),
        |a2r AS (SELECT ed.dst AS v, CAST(sum(ed.w * h.hub) AS BIGINT) AS auth
        |  FROM ed JOIN h1 h ON h.v = ed.src GROUP BY ed.dst),
        |qa2 AS (SELECT greatest(1, CAST(sum(auth) AS BIGINT) // 1000000000) AS q
        |  FROM a2r),
        |a2 AS (SELECT vs.v,
        |    CAST(coalesce(a2r.auth, 0) // qa2.q AS BIGINT) AS auth
        |  FROM vs CROSS JOIN qa2 LEFT JOIN a2r ON a2r.v = vs.v),
        |h2r AS (SELECT ed.src AS v, CAST(sum(ed.w * a.auth) AS BIGINT) AS hub
        |  FROM ed JOIN a2 a ON a.v = ed.dst GROUP BY ed.src),
        |qh2 AS (SELECT greatest(1, CAST(sum(hub) AS BIGINT) // 1000000000) AS q
        |  FROM h2r),
        |h2 AS (SELECT vs.v,
        |    CAST(coalesce(h2r.hub, 0) // qh2.q AS BIGINT) AS hub
        |  FROM vs CROSS JOIN qh2 LEFT JOIN h2r ON h2r.v = vs.v)
        |SELECT vs.v, h2.hub, a2.auth
        |FROM vs JOIN h2 ON h2.v = vs.v JOIN a2 ON a2.v = vs.v
        |ORDER BY vs.v""".stripMargin),

    Gate("graph_ppr", { (s, dir) =>
      // personalized PageRank from the 'signup' seed over the same
      // event-type transition graph: "relevance to the signup flow" —
      // the seed-restarted random walk. Integer-exact power iteration
      // (BIGINT fixed point, floor division, teleport mass on the seed
      // set only) so the oracle replays all 3 rounds bit-for-bit.
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).where(col("user_id") < 8)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id", "day").orderBy("event_id")
      val edges = ev.withColumn("prev", lag("event_type", 1).over(w))
        .where(col("prev").isNotNull)
        .groupBy(col("prev").as("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("w"))
      val seeds = s.createDataFrame(Seq(Tuple1("signup"))).toDF("v")
      Graphs.personalizedPageRank(edges, seeds, iters = 3).orderBy("v")
    },
      // personalized teleport: r0/base mass lands on the seed set only;
      // same mirrored floor divisions as graph_pagerank (all terms
      // non-negative, so DuckDB // ≡ Spark div; sums widen to HUGEINT —
      // cast back at the edges)
      """WITH seq AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                          ORDER BY event_id) AS prev
        |  FROM events WHERE user_id < 8),
        |ed AS (SELECT prev AS src, event_type AS dst,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type),
        |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w
        |  FROM ed GROUP BY src),
        |vs AS (SELECT DISTINCT v FROM
        |  (SELECT src AS v FROM ed UNION ALL SELECT dst FROM ed)),
        |sd AS (SELECT 'signup' AS v),
        |vf AS (SELECT vs.v,
        |    CASE WHEN sd.v IS NOT NULL THEN 1 ELSE 0 END AS is_seed
        |  FROM vs LEFT JOIN sd ON sd.v = vs.v),
        |pr AS (SELECT
        |    CAST(1000000000000 // sum(is_seed) AS BIGINT) AS r0,
        |    CAST(((1000000000000 // sum(is_seed)) * 15) // 100 AS BIGINT)
        |      AS base
        |  FROM vf),
        |it0 AS (SELECT v, CAST(is_seed * r0 AS BIGINT) AS rank
        |  FROM vf CROSS JOIN pr),
        |f1 AS (SELECT ed.dst AS v,
        |    CAST(sum((it.rank * ed.w) // ow.out_w) AS BIGINT) AS inflow
        |  FROM ed JOIN ow USING (src) JOIN it0 it ON it.v = ed.src
        |  GROUP BY ed.dst),
        |it1 AS (SELECT vf.v,
        |    CAST(vf.is_seed * pr.base
        |      + (85 * coalesce(f1.inflow, 0)) // 100 AS BIGINT) AS rank
        |  FROM vf CROSS JOIN pr LEFT JOIN f1 ON f1.v = vf.v),
        |f2 AS (SELECT ed.dst AS v,
        |    CAST(sum((it.rank * ed.w) // ow.out_w) AS BIGINT) AS inflow
        |  FROM ed JOIN ow USING (src) JOIN it1 it ON it.v = ed.src
        |  GROUP BY ed.dst),
        |it2 AS (SELECT vf.v,
        |    CAST(vf.is_seed * pr.base
        |      + (85 * coalesce(f2.inflow, 0)) // 100 AS BIGINT) AS rank
        |  FROM vf CROSS JOIN pr LEFT JOIN f2 ON f2.v = vf.v),
        |f3 AS (SELECT ed.dst AS v,
        |    CAST(sum((it.rank * ed.w) // ow.out_w) AS BIGINT) AS inflow
        |  FROM ed JOIN ow USING (src) JOIN it2 it ON it.v = ed.src
        |  GROUP BY ed.dst),
        |it3 AS (SELECT vf.v,
        |    CAST(vf.is_seed * pr.base
        |      + (85 * coalesce(f3.inflow, 0)) // 100 AS BIGINT) AS rank
        |  FROM vf CROSS JOIN pr LEFT JOIN f3 ON f3.v = vf.v)
        |SELECT v, rank FROM it3 ORDER BY v""".stripMargin),

    Gate("graph_closeness", { (s, dir) =>
      // landmark closeness over the co-purchase graph (same support-2
      // edges): hop distances from the partkey%50==0 landmark set via
      // ONE label-carrying multi-source BFS (state (v, lm, dist) — job
      // count independent of |L|), folded per vertex into n_reached /
      // sum_dist / the integer harmonic-permille sum. All-integer row.
      val edges = copurchaseEdges(s, dir)
      val landmarks = edges.select(col("u").as("v"))
        .unionAll(edges.select(col("v")))
        .where(col("v") % 50 === 0).distinct()
      Graphs.landmarkCloseness(edges, landmarks, maxHops = 3)
        .orderBy("v")
    },
      // label-carrying BFS: the recursion walks (v, landmark, dist)
      // tuples (UNION-deduped, V×L×hops bounded), min(dist) per (v, lm)
      // is the hop distance, then the per-vertex closeness fold —
      // integer harmonic permille via 1000 // dist
      """WITH RECURSIVE lp AS (SELECT DISTINCT l_orderkey, l_partkey
        |  FROM lineitem),
        |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        |lms AS (SELECT DISTINCT k AS lm FROM
        |    (SELECT u AS k FROM e UNION ALL SELECT v FROM e)
        |  WHERE k % 50 = 0),
        |walk AS (SELECT lm AS v, lm, CAST(0 AS BIGINT) AS dist FROM lms
        |  UNION
        |  SELECT und.v, walk.lm, walk.dist + 1 FROM walk
        |  JOIN und ON und.u = walk.v WHERE walk.dist < 3),
        |d AS (SELECT v, lm, min(dist) AS dist FROM walk GROUP BY v, lm)
        |SELECT v, CAST(count(*) AS BIGINT) AS n_reached,
        |  CAST(sum(dist) AS BIGINT) AS sum_dist,
        |  CAST(sum(CASE WHEN dist > 0 THEN 1000 // dist ELSE 0 END)
        |    AS BIGINT) AS harmonic_pm,
        |  CAST(max(dist) AS BIGINT) AS ecc_hops
        |FROM d GROUP BY v ORDER BY v""".stripMargin),

    Gate("graph_betweenness", { (s, dir) =>
      // landmark betweenness (truncated Brandes) on the co-purchase
      // graph: σ path counts forward, dependencies backward in
      // fixed-point ppm with floor division only — the δ recurrence
      // replays level-for-level in the oracle's unrolled CTEs. The
      // "broker" products no degree rank can see. depth 3, same
      // partkey%50==0 landmark set as graph_closeness.
      val edges = copurchaseEdges(s, dir)
      val landmarks = edges.select(col("u").as("v"))
        .unionAll(edges.select(col("v")))
        .where(col("v") % 50 === 0).distinct()
      Graphs.betweenness(edges, landmarks, depth = 3).orderBy("v")
    },
      // truncated Brandes unrolled: 3 forward σ levels (anti-joined
      // against all shallower levels), then δ folds backward with the
      // mirrored floor division (σ_parent · (10⁶ + δ_child)) // σ_child;
      // BC sums δ over sources excluding v = s
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS MATERIALIZED (SELECT u, v FROM e
        |  UNION ALL SELECT v AS u, u AS v FROM e),
        |l0 AS MATERIALIZED (SELECT DISTINCT k AS s, k AS v,
        |    CAST(1 AS BIGINT) AS sigma FROM
        |    (SELECT u AS k FROM e UNION ALL SELECT v FROM e)
        |  WHERE k % 50 = 0),
        |l1 AS MATERIALIZED (SELECT x.s, x.v,
        |    CAST(sum(x.sigma) AS BIGINT) AS sigma
        |  FROM (SELECT l0.s, und.v, l0.sigma
        |        FROM l0 JOIN und ON und.u = l0.v) x
        |  WHERE NOT EXISTS (SELECT 1 FROM l0 p
        |    WHERE p.s = x.s AND p.v = x.v)
        |  GROUP BY x.s, x.v),
        |l2 AS MATERIALIZED (SELECT x.s, x.v,
        |    CAST(sum(x.sigma) AS BIGINT) AS sigma
        |  FROM (SELECT l1.s, und.v, l1.sigma
        |        FROM l1 JOIN und ON und.u = l1.v) x
        |  WHERE NOT EXISTS (SELECT 1 FROM l0 p
        |    WHERE p.s = x.s AND p.v = x.v)
        |   AND NOT EXISTS (SELECT 1 FROM l1 p
        |    WHERE p.s = x.s AND p.v = x.v)
        |  GROUP BY x.s, x.v),
        |l3 AS MATERIALIZED (SELECT x.s, x.v,
        |    CAST(sum(x.sigma) AS BIGINT) AS sigma
        |  FROM (SELECT l2.s, und.v, l2.sigma
        |        FROM l2 JOIN und ON und.u = l2.v) x
        |  WHERE NOT EXISTS (SELECT 1 FROM l0 p
        |    WHERE p.s = x.s AND p.v = x.v)
        |   AND NOT EXISTS (SELECT 1 FROM l1 p
        |    WHERE p.s = x.s AND p.v = x.v)
        |   AND NOT EXISTS (SELECT 1 FROM l2 p
        |    WHERE p.s = x.s AND p.v = x.v)
        |  GROUP BY x.s, x.v),
        |d3 AS MATERIALIZED (SELECT s, v, sigma,
        |    CAST(0 AS BIGINT) AS delta FROM l3),
        |d2 AS MATERIALIZED (SELECT l2.s, l2.v, l2.sigma,
        |    CAST(coalesce(sum((l2.sigma * (1000000 + c.delta))
        |      // c.sigma), 0) AS BIGINT) AS delta
        |  FROM l2 LEFT JOIN (
        |    SELECT d3.s, und.u AS pv, d3.sigma, d3.delta
        |    FROM und JOIN d3 ON und.v = d3.v) c
        |  ON c.s = l2.s AND c.pv = l2.v
        |  GROUP BY l2.s, l2.v, l2.sigma),
        |d1 AS MATERIALIZED (SELECT l1.s, l1.v, l1.sigma,
        |    CAST(coalesce(sum((l1.sigma * (1000000 + c.delta))
        |      // c.sigma), 0) AS BIGINT) AS delta
        |  FROM l1 LEFT JOIN (
        |    SELECT d2.s, und.u AS pv, d2.sigma, d2.delta
        |    FROM und JOIN d2 ON und.v = d2.v) c
        |  ON c.s = l1.s AND c.pv = l1.v
        |  GROUP BY l1.s, l1.v, l1.sigma)
        |SELECT v, CAST(sum(delta) AS BIGINT) AS bc_ppm FROM (
        |  SELECT s, v, delta FROM d1 UNION ALL
        |  SELECT s, v, delta FROM d2 UNION ALL
        |  SELECT s, v, delta FROM d3)
        |WHERE v <> s GROUP BY v ORDER BY v""".stripMargin),

    Gate("graph_walks", { (s, dir) =>
      // derandomized random-walk corpus over the co-purchase graph
      // (the DeepWalk/node2vec sampling step as a deterministic md5
      // election — same 15-hex-char BIGINT lane as the dedup hashes):
      // 3 hops from every partkey%50==0 start; each hop is one
      // frontier join + one (h, v) struct-min election.
      val edges = copurchaseEdges(s, dir)
      val starts = edges.select(col("u").as("v"))
        .unionAll(edges.select(col("v")))
        .where(col("v") % 50 === 0).distinct()
      Graphs.hashWalks(edges, starts, steps = 3)
        .orderBy("start", "step")
    },
      // same md5→BIGINT election per hop: row_number over (hash, v) ≡
      // Spark's struct min; BIGINT || VARCHAR concatenation renders
      // identically on both engines
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS MATERIALIZED (SELECT u, v FROM e
        |  UNION ALL SELECT v AS u, u AS v FROM e),
        |w0 AS MATERIALIZED (SELECT DISTINCT k AS start, k AS node FROM
        |    (SELECT u AS k FROM e UNION ALL SELECT v FROM e)
        |  WHERE k % 50 = 0),
        |w1 AS MATERIALIZED (SELECT start, node FROM (
        |  SELECT w0.start, und.v AS node, row_number() OVER (
        |      PARTITION BY w0.start ORDER BY
        |      ('0x' || substring(md5(w0.start || ':1:' || und.v), 1, 15))
        |        ::BIGINT, und.v) AS rn
        |  FROM w0 JOIN und ON und.u = w0.node) WHERE rn = 1),
        |w2 AS MATERIALIZED (SELECT start, node FROM (
        |  SELECT w1.start, und.v AS node, row_number() OVER (
        |      PARTITION BY w1.start ORDER BY
        |      ('0x' || substring(md5(w1.start || ':2:' || und.v), 1, 15))
        |        ::BIGINT, und.v) AS rn
        |  FROM w1 JOIN und ON und.u = w1.node) WHERE rn = 1),
        |w3 AS MATERIALIZED (SELECT start, node FROM (
        |  SELECT w2.start, und.v AS node, row_number() OVER (
        |      PARTITION BY w2.start ORDER BY
        |      ('0x' || substring(md5(w2.start || ':3:' || und.v), 1, 15))
        |        ::BIGINT, und.v) AS rn
        |  FROM w2 JOIN und ON und.u = w2.node) WHERE rn = 1)
        |SELECT start, CAST(0 AS INT) AS step, node FROM w0
        |UNION ALL SELECT start, CAST(1 AS INT), node FROM w1
        |UNION ALL SELECT start, CAST(2 AS INT), node FROM w2
        |UNION ALL SELECT start, CAST(3 AS INT), node FROM w3
        |ORDER BY start, step""".stripMargin),

    Gate("graph_triangles", { (s, dir) =>
      // co-purchase affinity triangles: parts sharing an order become an
      // edge at support>=2 (sparsifies 1.2M -> 3.6k edges at sf0.1), then
      // exact per-vertex triangle counts via the degree-ordered two-join
      // (out-degree bounded O(sqrt E) — the orientation that survives
      // power-law hubs). Top-30 corners, total (n_tri desc, vertex) order.
      // the memoized fixture is already checkpointed, so triangleCounts'
      // 3 consumers (degree agg + both endpoint joins) read the
      // materialized frame — the 16.9 CPU s lineage re-run this barrier
      // originally fixed can't recur
      val edges = copurchaseEdges(s, dir)
      Graphs.triangleCounts(edges)
        .orderBy(col("n_tri").desc, col("vertex"))
        .limit(30)
    },
      // same support-2 sparsification and (deg, id) orientation; the
      // row-tuple compare mirrors Spark's struct ordering
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (SELECT k, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS k FROM e0 UNION ALL SELECT v FROM e0)
        |  GROUP BY k),
        |e AS (SELECT
        |    CASE WHEN (du.deg, e0.u) < (dv.deg, e0.v) THEN e0.u ELSE e0.v END AS s,
        |    CASE WHEN (du.deg, e0.u) < (dv.deg, e0.v) THEN e0.v ELSE e0.u END AS t
        |  FROM e0 JOIN d du ON du.k = e0.u JOIN d dv ON dv.k = e0.v),
        |tri AS (SELECT p1.s AS a, p1.t AS b, p2.t AS c
        |  FROM e p1 JOIN e p2 ON p2.s = p1.t
        |  JOIN e p3 ON p3.s = p1.s AND p3.t = p2.t)
        |SELECT vertex, CAST(count(*) AS BIGINT) AS n_tri
        |FROM (SELECT a AS vertex FROM tri
        |      UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri)
        |GROUP BY vertex ORDER BY n_tri DESC, vertex LIMIT 30""".stripMargin),

    Gate("graph_kcore", { (s, dir) =>
      // k-core peeling profile of the co-purchase graph: 4 fixed peel
      // rounds at k=6 — the standard "dense-core extraction" pass before
      // community/embedding work. Fixed rounds (not run-to-fixpoint) keep
      // the output a deterministic unrollable function of the input; a
      // converged round shows n_removed = 0. k=6 bites at every testdata
      // SF (the support-2 graph's degree profile shifts with SF: median
      // 23 at sf0.001, 3 at sf0.01, 1 at sf0.1). All-integer row, exact.
      val edges = copurchaseEdges(s, dir)
      Graphs.kCorePeel(edges, k = 6, rounds = 4).orderBy("round")
    },
      // same support-2 co-purchase edges; 4 peel rounds unrolled as
      // MATERIALIZED CTEs (a re-inlined chain re-runs the edge build
      // exponentially) — every count is an exact BIGINT
      """WITH lp AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d1 AS MATERIALIZED (SELECT vtx, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS vtx FROM e0 UNION ALL SELECT v FROM e0)
        |  GROUP BY vtx),
        |k1 AS MATERIALIZED (SELECT vtx FROM d1 WHERE deg >= 6),
        |e1 AS MATERIALIZED (SELECT u, v FROM e0
        |  WHERE u IN (SELECT vtx FROM k1) AND v IN (SELECT vtx FROM k1)),
        |d2 AS MATERIALIZED (SELECT vtx, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS vtx FROM e1 UNION ALL SELECT v FROM e1)
        |  GROUP BY vtx),
        |k2 AS MATERIALIZED (SELECT vtx FROM d2 WHERE deg >= 6),
        |e2 AS MATERIALIZED (SELECT u, v FROM e1
        |  WHERE u IN (SELECT vtx FROM k2) AND v IN (SELECT vtx FROM k2)),
        |d3 AS MATERIALIZED (SELECT vtx, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS vtx FROM e2 UNION ALL SELECT v FROM e2)
        |  GROUP BY vtx),
        |k3 AS MATERIALIZED (SELECT vtx FROM d3 WHERE deg >= 6),
        |e3 AS MATERIALIZED (SELECT u, v FROM e2
        |  WHERE u IN (SELECT vtx FROM k3) AND v IN (SELECT vtx FROM k3)),
        |d4 AS MATERIALIZED (SELECT vtx, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS vtx FROM e3 UNION ALL SELECT v FROM e3)
        |  GROUP BY vtx),
        |k4 AS MATERIALIZED (SELECT vtx FROM d4 WHERE deg >= 6),
        |e4 AS MATERIALIZED (SELECT u, v FROM e3
        |  WHERE u IN (SELECT vtx FROM k4) AND v IN (SELECT vtx FROM k4))
        |SELECT CAST(1 AS BIGINT) AS round,
        |  (SELECT CAST(count(*) AS BIGINT) FROM d1) AS n_active,
        |  (SELECT CAST(count(*) AS BIGINT) FROM d1 WHERE deg < 6)
        |    AS n_removed,
        |  (SELECT CAST(count(*) AS BIGINT) FROM e1) AS n_edges_left
        |UNION ALL SELECT 2,
        |  (SELECT count(*) FROM d2),
        |  (SELECT count(*) FROM d2 WHERE deg < 6),
        |  (SELECT count(*) FROM e2)
        |UNION ALL SELECT 3,
        |  (SELECT count(*) FROM d3),
        |  (SELECT count(*) FROM d3 WHERE deg < 6),
        |  (SELECT count(*) FROM e3)
        |UNION ALL SELECT 4,
        |  (SELECT count(*) FROM d4),
        |  (SELECT count(*) FROM d4 WHERE deg < 6),
        |  (SELECT count(*) FROM e4)
        |ORDER BY round""".stripMargin),

    Gate("graph_richclub", { (s, dir) =>
      // rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k−1)) in exact
      // integer ppm for k ∈ {2, 4, 8} — do high-degree parts
      // preferentially co-occur with each other? (the top-of-
      // distribution complement of graph_assortativity). One degree
      // pass, one edge×degree join checkpointed to feed the per-k
      // aggregations, all-integer elections.
      import s.implicits._
      val edges = copurchaseEdges(s, dir)
      val deg = edges.select(explode(array(col("u"), col("v"))).as("vtx"))
        .groupBy("vtx").agg(count(lit(1)).as("deg"))
        .localCheckpoint(true) // feeds n_k AND both endpoint joins
      val ek = edges
        .join(deg.select(col("vtx").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("vtx").as("v"), col("deg").as("dv")), "v")
        .select("du", "dv")
        .localCheckpoint(true)
      val ks = Seq(2L, 4L, 8L).toDF("k")
      val nk = deg.crossJoin(broadcast(ks)).where(col("deg") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_k"))
      val ec = ek.crossJoin(broadcast(ks))
        .where(col("du") > col("k") && col("dv") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("e_k"))
      nk.join(ec, Seq("k"), "left")
        .select(col("k"), col("n_k"),
          coalesce(col("e_k"), lit(0L)).as("e_k"),
          expr("CASE WHEN n_k >= 2 THEN 2 * coalesce(e_k, 0L) * 1000000L" +
            " div (n_k * (n_k - 1)) ELSE 0L END").as("phi_ppm"))
        .orderBy("k")
    },
      // same support-2 edges; φ(k) all-integer with // division
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (SELECT vtx, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS vtx FROM e0 UNION ALL SELECT v FROM e0)
        |  GROUP BY vtx),
        |ks AS (SELECT CAST(unnest([2, 4, 8]) AS BIGINT) AS k),
        |ek AS (SELECT du.deg AS du, dv.deg AS dv FROM e0
        |  JOIN d du ON du.vtx = e0.u JOIN d dv ON dv.vtx = e0.v),
        |nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_k FROM d, ks
        |  WHERE deg > k GROUP BY k),
        |ec AS (SELECT k, CAST(count(*) AS BIGINT) AS e_k FROM ek, ks
        |  WHERE du > k AND dv > k GROUP BY k)
        |SELECT nk.k, nk.n_k, coalesce(ec.e_k, 0) AS e_k,
        |  CASE WHEN nk.n_k >= 2 THEN CAST(2 * coalesce(ec.e_k, 0)
        |    * 1000000 // (nk.n_k * (nk.n_k - 1)) AS BIGINT)
        |    ELSE 0 END AS phi_ppm
        |FROM nk LEFT JOIN ec ON ec.k = nk.k ORDER BY nk.k""".stripMargin),

    Gate("graph_degree_dist", { (s, dir) =>
      // power-of-two degree histogram of the co-purchase graph — the
      // skew diagnostic you run BEFORE choosing join strategies (a heavy
      // tail here is what forces the degree-ordered orientation in
      // graph_triangles). Bucket = bit-length of the degree
      // (length(bin(deg)) ≡ floor(log2)+1, exact integers both engines —
      // no float log anywhere). One degree hash-agg + one 9-row agg.
      val edges = copurchaseEdges(s, dir)
      // explode both endpoints in ONE pass — a union of edges.select(u)
      // and edges.select(v) would plan the edge build TWICE (Union =
      // two full subtrees; measured +40% CPU at sf0.1)
      val deg = edges.select(explode(array(col("u"), col("v"))).as("vtx"))
        .groupBy("vtx").agg(count(lit(1)).as("deg"))
      deg.groupBy(length(bin(col("deg"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_vertices"), min("deg").as("min_deg"),
          max("deg").as("max_deg"))
        .orderBy("bucket")
    },
      // same support-2 edges; bucket = bit-length of the degree
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (SELECT vtx, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS vtx FROM e0 UNION ALL SELECT v FROM e0)
        |  GROUP BY vtx)
        |SELECT CAST(length(bin(deg)) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_vertices,
        |  min(deg) AS min_deg, max(deg) AS max_deg
        |FROM d GROUP BY 1 ORDER BY bucket""".stripMargin),

    Gate("graph_lpa_communities", { (s, dir) =>
      // community detection on the co-purchase graph: 2 fixed rounds of
      // synchronous label propagation (most-frequent neighbor label,
      // ties to the smallest — the packed-BIGINT election). Fixed rounds
      // keep the result an unrollable deterministic function of the
      // edge set; output is the community-size table.
      val edges = copurchaseEdges(s, dir)
      Graphs.labelPropagation(edges, rounds = 2)
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy("community")
    },
      // same support-2 edges; 2 synchronous LPA rounds unrolled as
      // MATERIALIZED CTEs with the identical packed (count, label)
      // election key
      """WITH lp AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS MATERIALIZED (SELECT u AS vtx, v AS nbr FROM e0
        |  UNION ALL SELECT v, u FROM e0),
        |l0 AS MATERIALIZED (SELECT DISTINCT vtx,
        |  CAST(vtx AS BIGINT) AS label FROM und),
        |c1 AS MATERIALIZED (SELECT und.vtx, l0.label,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM und JOIN l0 ON und.nbr = l0.vtx GROUP BY 1, 2),
        |l1 AS MATERIALIZED (SELECT vtx, 999999999 -
        |    (max(cnt * 1000000000 + (999999999 - label)) % 1000000000)
        |    AS label
        |  FROM c1 GROUP BY vtx),
        |c2 AS MATERIALIZED (SELECT und.vtx, l1.label,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM und JOIN l1 ON und.nbr = l1.vtx GROUP BY 1, 2),
        |l2 AS MATERIALIZED (SELECT vtx, 999999999 -
        |    (max(cnt * 1000000000 + (999999999 - label)) % 1000000000)
        |    AS label
        |  FROM c2 GROUP BY vtx)
        |SELECT CAST(label AS BIGINT) AS community,
        |  CAST(count(*) AS BIGINT) AS n_members
        |FROM l2 GROUP BY label ORDER BY community""".stripMargin),

    Gate("graph_lpa_modularity", { (s, dir) =>
      // partition-quality audit for the LPA communities: per community,
      // intra-community edge count e_c, total degree d_c, and the EXACT
      // modularity numerator 4·m·e_c − d_c² (global Q = Σ/(4m²) — an
      // exact BIGINT fraction, no float division anywhere; headroom:
      // m ≤ 10⁶ edges ⇒ |terms| ≤ 4·10¹²). Edge list and label table
      // are checkpointed once for their 3 consumers each.
      val edges = copurchaseEdges(s, dir)
      val lab = Graphs.labelPropagation(edges, rounds = 2)
      val intra = edges
        .join(lab.select(col("vtx").as("u"), col("label").as("lu")), "u")
        .join(lab.select(col("vtx").as("v"), col("label").as("lv")), "v")
        .where(col("lu") === col("lv"))
        .groupBy(col("lu").as("community")).agg(count(lit(1)).as("e_intra"))
      val degs = edges.select(explode(array(col("u"), col("v"))).as("vtx"))
        .join(lab, "vtx")
        .groupBy(col("label").as("community")).agg(count(lit(1)).as("d_total"))
      val mem = lab.groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_members"))
      val m = edges.agg(count(lit(1)).as("m"))
      mem.join(intra, Seq("community"), "left").na.fill(0L, Seq("e_intra"))
        .join(degs, "community")
        .crossJoin(broadcast(m))
        .withColumn("q_num", expr("4 * m * e_intra - d_total * d_total"))
        .select("community", "n_members", "e_intra", "d_total", "q_num")
        .orderBy("community")
    },
      // the LPA chain (identical packed election) extended with the
      // exact-integer modularity accounting
      """WITH lp AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS MATERIALIZED (SELECT u AS vtx, v AS nbr FROM e0
        |  UNION ALL SELECT v, u FROM e0),
        |l0 AS MATERIALIZED (SELECT DISTINCT vtx,
        |  CAST(vtx AS BIGINT) AS label FROM und),
        |c1 AS MATERIALIZED (SELECT und.vtx, l0.label,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM und JOIN l0 ON und.nbr = l0.vtx GROUP BY 1, 2),
        |l1 AS MATERIALIZED (SELECT vtx, 999999999 -
        |    (max(cnt * 1000000000 + (999999999 - label)) % 1000000000)
        |    AS label
        |  FROM c1 GROUP BY vtx),
        |c2 AS MATERIALIZED (SELECT und.vtx, l1.label,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM und JOIN l1 ON und.nbr = l1.vtx GROUP BY 1, 2),
        |l2 AS MATERIALIZED (SELECT vtx, CAST(999999999 -
        |    (max(cnt * 1000000000 + (999999999 - label)) % 1000000000)
        |    AS BIGINT) AS label
        |  FROM c2 GROUP BY vtx),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
        |intra AS (SELECT la.label AS community,
        |    CAST(count(*) AS BIGINT) AS e_intra
        |  FROM e0 JOIN l2 la ON e0.u = la.vtx JOIN l2 lb ON e0.v = lb.vtx
        |  WHERE la.label = lb.label GROUP BY 1),
        |degs AS (SELECT la.label AS community,
        |    CAST(count(*) AS BIGINT) AS d_total
        |  FROM (SELECT u AS vtx FROM e0 UNION ALL SELECT v FROM e0) x
        |  JOIN l2 la ON x.vtx = la.vtx GROUP BY 1),
        |mem AS (SELECT label AS community,
        |    CAST(count(*) AS BIGINT) AS n_members FROM l2 GROUP BY 1)
        |SELECT mem.community, mem.n_members,
        |  CAST(coalesce(intra.e_intra, 0) AS BIGINT) AS e_intra,
        |  degs.d_total,
        |  4 * m.m * CAST(coalesce(intra.e_intra, 0) AS BIGINT)
        |    - degs.d_total * degs.d_total AS q_num
        |FROM mem
        |LEFT JOIN intra ON intra.community = mem.community
        |JOIN degs ON degs.community = mem.community, m
        |ORDER BY mem.community""".stripMargin),

    Gate("graph_assortativity", { (s, dir) =>
      // degree-assortativity SUFFICIENT STATISTICS of the co-purchase
      // graph, all exact BIGINTs (Pearson r over edge-endpoint degrees
      // derives as (m·s_prod − (s_sum/2)²·…)/… downstream — the float
      // step stays out of the gate): m, Σd_u·d_v, Σ(d_u+d_v),
      // Σ(d_u²+d_v²). One degree agg + two broadcast-joins + one row.
      val edges = copurchaseEdges(s, dir)
      val deg = edges.select(explode(array(col("u"), col("v"))).as("vtx"))
        .groupBy("vtx").agg(count(lit(1)).as("deg"))
      edges
        .join(broadcast(deg.select(col("vtx").as("u"), col("deg").as("du"))), "u")
        .join(broadcast(deg.select(col("vtx").as("v"), col("deg").as("dv"))), "v")
        .agg(count(lit(1)).as("m"),
          sum(col("du") * col("dv")).as("s_prod"),
          sum(col("du") + col("dv")).as("s_sum"),
          sum(col("du") * col("du") + col("dv") * col("dv")).as("s_sq"))
    },
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (SELECT vtx, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS vtx FROM e0 UNION ALL SELECT v FROM e0)
        |  GROUP BY vtx)
        |SELECT CAST(count(*) AS BIGINT) AS m,
        |  CAST(sum(du.deg * dv.deg) AS BIGINT) AS s_prod,
        |  CAST(sum(du.deg + dv.deg) AS BIGINT) AS s_sum,
        |  CAST(sum(du.deg * du.deg + dv.deg * dv.deg) AS BIGINT) AS s_sq
        |FROM e0
        |JOIN d du ON e0.u = du.vtx
        |JOIN d dv ON e0.v = dv.vtx""".stripMargin))
}
