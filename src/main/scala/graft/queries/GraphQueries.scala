package graft
package queries

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Graph kernels over the lineitem order-part graph: ranks, traversals,
  * components, cores, triangles and walks. */
object GraphQueries {

  val defs: Seq[QueryDef] = Seq(
    // Fixed-point PageRank over the undirected order↔part bipartite
    // graph: 3 damped propagation rounds, all-integer arithmetic so the
    // iterative loop itself is oracle-checked bit-for-bit (the graph
    // analog of the reference's TigerGraph rank/centrality workloads).
    QueryDef("q65_pagerank", (s, dir) => {
      // dedup the (order, part) pairs BEFORE doubling directions — the
      // two directed sets are disjoint (odd/even node spaces), so the
      // union needs no second distinct and the dedup shuffle carries
      // half the rows
      val pairs = Tables.lineitem(s, dir).select(
        (col("l_orderkey") * 2).as("o"), (col("l_partkey") * 2 + 1).as("p"))
        .distinct()
      val edges = pairs.select(col("o").as("src"), col("p").as("dst"))
        .unionByName(pairs.select(col("p").as("src"), col("o").as("dst")))
      Graph.pageRankFixedPoint(edges, iterations = 3, symmetric = true)
        .orderBy("id")
    }, {
      val iters = (1 to 3).map { k =>
        s"""r$k AS (
           |  SELECT n.id, CAST(150000 + (850000 * COALESCE(s.c, 0)) // 1000000
           |    AS BIGINT) AS rank
           |  FROM n LEFT JOIN (
           |    SELECT e.dst AS id, CAST(sum(r.rank // d.deg) AS BIGINT) AS c
           |    FROM e JOIN r${k - 1} r ON r.id = e.src
           |           JOIN deg d ON d.id = e.src
           |    GROUP BY e.dst) s ON s.id = n.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT DISTINCT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
         |  FROM lineitem
         |  UNION
         |  SELECT DISTINCT l_partkey * 2 + 1, l_orderkey * 2 FROM lineitem),
         |n AS (SELECT DISTINCT src AS id FROM e
         |      UNION SELECT DISTINCT dst FROM e),
         |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM n),
         |$iters
         |SELECT id, rank FROM r3 ORDER BY id""".stripMargin
    },
      tags = Set(QueryDef.WarmAtTargetSf)),

    // Exact per-part triangle counts on the co-order part graph (parts
    // sharing an order = the entity-linkage shape of "wallets sharing a
    // transaction"). The PART graph stays ~0.5%-dense as sf grows (the
    // supplier projection saturates toward a complete graph — measured
    // 15 s vs ~3 s at sf0.1). Edge generation is ONE fact-table shuffle:
    // CollectLongsDistinctCapped dedups AND hub-guards per order inside
    // the groupBy (vs distinct → window-count → self-join = 3 shuffles +
    // a sort), pairs explode map-side. Inside Graph.triangleCounts the
    // degree orientation bounds wedge volume at O(m^1.5) under any skew.
    QueryDef("q111_triangles", (s, dir) =>
      Graph.triangleCounts(
        Graph.coOccurrenceEdges(
          Tables.lineitem(s, dir)
            .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
          "o", "p", maxGroupSize = 8))
        .orderBy("id"),
      """WITH os0 AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |os AS (
        |  SELECT o, p FROM (
        |    SELECT o, p, count(*) OVER (PARTITION BY o) AS ns FROM os0)
        |  WHERE ns <= 8),
        |e0 AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM os x JOIN os y ON x.o = y.o AND x.p < y.p),
        |deg AS (
        |  SELECT id, count(*) AS d FROM (
        |    SELECT a AS id FROM e0 UNION ALL SELECT b AS id FROM e0)
        |  GROUP BY id),
        |og AS (
        |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |              THEN e0.a ELSE e0.b END AS u,
        |         CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |              THEN e0.b ELSE e0.a END AS v
        |  FROM e0 JOIN deg da ON da.id = e0.a JOIN deg db ON db.id = e0.b),
        |tri AS (
        |  SELECT o1.u, o1.v, o2.v AS w
        |  FROM og o1 JOIN og o2 ON o1.u = o2.u AND o1.v < o2.v
        |  JOIN e0 ON e0.a = o1.v AND e0.b = o2.v),
        |t AS (
        |  SELECT id, count(*) AS n FROM (
        |    SELECT u AS id FROM tri UNION ALL SELECT v AS id FROM tri
        |    UNION ALL SELECT w AS id FROM tri)
        |  GROUP BY id)
        |SELECT deg.id AS id, CAST(COALESCE(t.n, 0) AS BIGINT) AS triangles
        |FROM deg LEFT JOIN t ON t.id = deg.id ORDER BY id""".stripMargin,
      tags = Set(QueryDef.WarmAtTargetSf)),

    // Deterministic synchronous label propagation on the co-order part
    // graph: 3 mode-vote rounds (smallest label wins ties) — the
    // community-detection complement to CC (q48), PageRank (q65) and
    // triangles (q111). All-integer, so the iterative loop itself is
    // oracle-checked bit-for-bit against 3 unrolled DuckDB CTE rounds.
    QueryDef("q114_label_prop", (s, dir) => {
      val canon = Graph.coOccurrenceEdges(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
        "o", "p", maxGroupSize = 8).distinct()
      val edges = canon.unionByName(
        canon.select(col("dst").as("src"), col("src").as("dst")))
      Graph.labelPropagation(edges, iterations = 3).orderBy("id")
    }, {
      val rounds = (1 to 3).map { k =>
        s"""v$k AS (
           |  SELECT e.dst AS id, l.lbl, count(*) AS c
           |  FROM e JOIN l${k - 1} l ON l.id = e.src GROUP BY e.dst, l.lbl),
           |l$k AS (
           |  SELECT id, lbl FROM (
           |    SELECT id, lbl, row_number() OVER (
           |      PARTITION BY id ORDER BY c DESC, lbl) AS rn FROM v$k)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH os0 AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |os AS (
         |  SELECT o, p FROM (
         |    SELECT o, p, count(*) OVER (PARTITION BY o) AS ns FROM os0)
         |  WHERE ns <= 8),
         |e0 AS (
         |  SELECT DISTINCT x.p AS a, y.p AS b
         |  FROM os x JOIN os y ON x.o = y.o AND x.p < y.p),
         |e AS (
         |  SELECT a AS src, b AS dst FROM e0
         |  UNION ALL SELECT b AS src, a AS dst FROM e0),
         |l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM e),
         |$rounds
         |SELECT id, lbl AS label FROM l3 ORDER BY id""".stripMargin
    },
      tags = Set(QueryDef.WarmAtTargetSf)),

    // Robust outlier detection: median/MAD (the z-score that doesn't
    // blow up on the outliers it hunts — complements q96's mean/stddev).
    // Values go to integer CENTS first, so every median/MAD lands on a
    // dyadic rational (x.0/x.5) that both engines interpolate EXACTLY —
    // only f∈{0,.5} percentiles are cross-engine-safe on doubles (q44's
    // lesson generalized). Three passes by necessity (med → dev → MAD
    // gate); the events projection is cached narrow, group tables
    // broadcast back.
    // k-core decomposition (k=3, 4 peel rounds) of the co-order part
    // graph — iterative degree peeling where each round is one node-id
    // partial-agg shuffle + two broadcast semi-joins (the edge table
    // never re-shuffles in broadcast regime). All-integer, so the whole
    // loop is oracle-checked bit-for-bit against 4 unrolled DuckDB CTE
    // rounds; early-exit on a no-op round is oracle-transparent.
    QueryDef("q122_kcore", (s, dir) =>
      Graph.kCore(
        Graph.coOccurrenceEdges(
          Tables.lineitem(s, dir)
            .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
          "o", "p", maxGroupSize = 8),
        k = 3, maxRounds = 4)
        .orderBy("id"), {
      // MATERIALIZED is load-bearing: each e_i is referenced ~3× by round
      // i+1 (degree count + two IN-subqueries); without it DuckDB inlines
      // the CTE chain and re-evaluates e0 3^rounds times (observed: >75
      // CPU-min at sf0.1 vs seconds materialized).
      val rounds = (1 to 4).map { i =>
        s"""d${i - 1} AS MATERIALIZED (
           |  SELECT id, count(*) AS c FROM (
           |    SELECT a AS id FROM e${i - 1}
           |    UNION ALL SELECT b AS id FROM e${i - 1})
           |  GROUP BY id),
           |k${i - 1} AS MATERIALIZED (SELECT id FROM d${i - 1} WHERE c >= 3),
           |e$i AS MATERIALIZED (
           |  SELECT a, b FROM e${i - 1}
           |  WHERE a IN (SELECT id FROM k${i - 1})
           |    AND b IN (SELECT id FROM k${i - 1}))""".stripMargin
      }.mkString(",\n")
      s"""WITH os0 AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |os AS MATERIALIZED (
         |  SELECT o, p FROM (
         |    SELECT o, p, count(*) OVER (PARTITION BY o) AS ns FROM os0)
         |  WHERE ns <= 8),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT x.p AS a, y.p AS b
         |  FROM os x JOIN os y ON x.o = y.o AND x.p < y.p),
         |$rounds
         |SELECT id, count(*) AS deg FROM (
         |  SELECT a AS id FROM e4 UNION ALL SELECT b AS id FROM e4)
         |GROUP BY id ORDER BY id""".stripMargin
    },
      tags = Set(QueryDef.WarmAtTargetSf)),

    // Personalized PageRank from a seed set (orders divisible by 25) on
    // the doubled order↔part graph — teleport mass returns to seeds, so
    // the rank table is FRONTIER-sized (r0 = |seeds| rows), the edge
    // table never re-shuffles, and the whole fixed-point integer loop is
    // oracle-checked bit-for-bit against 3 unrolled MATERIALIZED CTE
    // rounds.
    QueryDef("q125_ppr", (s, dir) => {
      val pairs = Tables.lineitem(s, dir).select(
        (col("l_orderkey") * 2).as("o"), (col("l_partkey") * 2 + 1).as("p"))
        .distinct()
      val edges = pairs.select(col("o").as("src"), col("p").as("dst"))
        .unionByName(pairs.select(col("p").as("src"), col("o").as("dst")))
      val seeds = pairs.select(col("o").as("id")).filter(col("id") % 50 === 0)
      Graph.personalizedPageRank(edges, seeds, iterations = 3)
        .orderBy("id")
    }, {
      val rounds = (1 to 3).map { k =>
        s"""r$k AS MATERIALIZED (
           |  SELECT id, CAST(sum(r) AS BIGINT) AS rank FROM (
           |    SELECT id, CAST(150000 AS BIGINT) AS r FROM s0
           |    UNION ALL
           |    SELECT c.id, (850000 * c.c) // 1000000 FROM (
           |      SELECT e.dst AS id,
           |             CAST(sum(r.rank // d.deg) AS BIGINT) AS c
           |      FROM e JOIN r${k - 1} r ON r.id = e.src
           |             JOIN deg d ON d.id = e.src
           |      GROUP BY e.dst) c) u
           |  GROUP BY id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
         |  FROM lineitem
         |  UNION
         |  SELECT DISTINCT l_partkey * 2 + 1, l_orderkey * 2 FROM lineitem),
         |deg AS MATERIALIZED (
         |  SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
         |s0 AS MATERIALIZED (
         |  SELECT DISTINCT src AS id FROM e WHERE src % 50 = 0),
         |r0 AS MATERIALIZED (
         |  SELECT id, CAST(1000000 AS BIGINT) AS rank FROM s0),
         |$rounds
         |SELECT id, rank FROM r3 ORDER BY id""".stripMargin
    },
      tags = Set(QueryDef.WarmAtTargetSf)),

    // HITS hubs/authorities over the bipartite order→part graph (same
    // 2x / 2x+1 node encoding as q65 so order and part ids never
    // collide). Two full rounds, unnormalized integer fixed point —
    // bit-exact against the unrolled oracle.
    QueryDef("q131_hits", (s, dir) =>
      Graph.hits(
        Tables.lineitem(s, dir).select(
          (col("l_orderkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst")).distinct(),
        iterations = 2)
        .orderBy("id"),
      """WITH e AS (
        |  SELECT DISTINCT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
        |  FROM lineitem),
        |n AS (SELECT DISTINCT src AS id FROM e
        |      UNION SELECT DISTINCT dst FROM e),
        |a1 AS (SELECT dst AS id, count(*) AS a FROM e GROUP BY 1),
        |h1 AS (SELECT e.src AS id, sum(a1.a) AS h
        |       FROM e JOIN a1 ON a1.id = e.dst GROUP BY 1),
        |a2 AS (SELECT e.dst AS id, sum(h1.h) AS a
        |       FROM e JOIN h1 ON h1.id = e.src GROUP BY 1),
        |h2 AS (SELECT e.src AS id, sum(a2.a) AS h
        |       FROM e JOIN a2 ON a2.id = e.dst GROUP BY 1)
        |SELECT n.id, CAST(COALESCE(h2.h, 0) AS BIGINT) AS hub,
        |       CAST(COALESCE(a2.a, 0) AS BIGINT) AS auth
        |FROM n LEFT JOIN h2 ON h2.id = n.id LEFT JOIN a2 ON a2.id = n.id
        |ORDER BY n.id""".stripMargin,
      tags = Set(QueryDef.WarmAtTargetSf)),

    // Multi-source BFS over the undirected order↔part graph: exact hop
    // distance from the seed parts (partkey ≡ 0 mod 97) within 4 hops.
    // Frontier-sized per-round state — the reached set never re-joins.
    QueryDef("q136_bfs", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      val edges = fwd
        .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val seeds = li.filter(col("l_partkey") % 97 === 0)
        .select((col("l_partkey") * 2 + 1).as("id")).distinct()
      Graph.bfsDistances(edges, seeds, maxHops = 4).orderBy("id")
    }, {
      val rounds = (1 to 4).map { k =>
        s"""d$k AS (
           |  SELECT id, min(dist) AS dist FROM (
           |    SELECT id, dist FROM d${k - 1}
           |    UNION ALL
           |    SELECT e.dst AS id, d.dist + 1 AS dist
           |    FROM e JOIN d${k - 1} d ON d.id = e.src)
           |  GROUP BY id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT DISTINCT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
         |  FROM lineitem
         |  UNION
         |  SELECT DISTINCT l_partkey * 2 + 1, l_orderkey * 2 FROM lineitem),
         |d0 AS (
         |  SELECT DISTINCT l_partkey * 2 + 1 AS id, CAST(0 AS BIGINT) AS dist
         |  FROM lineitem WHERE l_partkey % 97 = 0),
         |$rounds
         |SELECT id, CAST(dist AS BIGINT) AS dist FROM d4 ORDER BY id""".stripMargin
    },
      tags = Set(QueryDef.WarmAtTargetSf)),

    // q48's clustering FORCED through the big-graph co-bucketed CC
    // regime (both thresholds 0): the bucketed-table loop that round-6's
    // crossover grid made the >24M-edge production route runs here under
    // the driver's own DuckDB oracle — hash-checked end-to-end, not just
    // parity-tested against its sibling in GraphSpec. Same answer as
    // q48 by construction (same integer hash-min fixpoint).
    QueryDef("q145_cc_cobucket", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        blockCols = Seq("lang", "source"), threshold = 0.08, shingleSize = 2)
      Dedup.duplicateClusters(docs, "doc_id", pairs,
        localEdgeThreshold = 0L, coBucketEdgeThreshold = 0L)
        .orderBy("doc_id")
    },
      // identical semantics to q48 — the Spark side routes through the
      // co-bucketed big-graph CC regime instead of the small-graph paths
      """WITH RECURSIVE t AS (SELECT doc_id, lang, source,
        |  list_distinct(list_transform(
        |    generate_series(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
        |    i -> string_split_regex(lower(trim(text)), '\s+')[i] || ' ' ||
        |         string_split_regex(lower(trim(text)), '\s+')[i+1])) AS tk
        | FROM documents),
        |j AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.tk, b.tk))) >= 0.08),
        |edges AS (
        | SELECT id_a AS src, id_b AS dst FROM j
        | UNION SELECT id_b, id_a FROM j),
        |reach(id, comp) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id)
        |SELECT id AS doc_id, min(comp) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
      tags = Set(QueryDef.ForcedRegime, QueryDef.WarmAtTargetSf)),

    // Weighted shortest paths (bounded-round Bellman-Ford, delta
    // frontier) over the order↔part graph with integer edge weights
    // (min linenumber-derived weight per pair): exact minimum ≤4-edge
    // path weight from the seed parts. Only improved nodes re-enter the
    // relaxation; the best table rewrites O(reached)/round. The oracle
    // replays all four relaxation rounds CTE-for-CTE (relaxing from the
    // full table is min-equivalent to the frontier form).
    QueryDef("q150_sssp", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val e0 = li.groupBy((col("l_orderkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
        .agg(min(col("l_linenumber") % 5 + 1).cast("long").as("w"))
      val edges = e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      val seeds = li.filter(col("l_partkey") % 97 === 0)
        .select((col("l_partkey") * 2 + 1).as("id")).distinct()
      Graph.ssspDistances(edges, seeds, maxRounds = 4).orderBy("id")
    }, {
      val rounds = (1 to 4).map { k =>
        s"""d$k AS (
           |  SELECT id, min(dist) AS dist FROM (
           |    SELECT id, dist FROM d${k - 1}
           |    UNION ALL
           |    SELECT e.dst AS id, d.dist + e.w AS dist
           |    FROM e JOIN d${k - 1} d ON d.id = e.src)
           |  GROUP BY id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst,
         |         CAST(min(l_linenumber % 5 + 1) AS BIGINT) AS w
         |  FROM lineitem GROUP BY 1, 2),
         |e AS (
         |  SELECT src, dst, w FROM e0
         |  UNION ALL
         |  SELECT dst, src, w FROM e0),
         |d0 AS (
         |  SELECT DISTINCT l_partkey * 2 + 1 AS id, CAST(0 AS BIGINT) AS dist
         |  FROM lineitem WHERE l_partkey % 97 = 0),
         |$rounds
         |SELECT id, CAST(dist AS BIGINT) AS dist FROM d4 ORDER BY id""".stripMargin
    },
      tags = Set(QueryDef.WarmAtTargetSf)),

    // Deterministic random walks (node2vec corpus prep) from the seed
    // parts over the doubled order↔part graph: 3 hops, each step an
    // md5-argmin neighbor choice — reproducible walk corpora with no
    // RNG, replayed step-for-step by the oracle.
    QueryDef("q152_walks", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      val edges = fwd
        .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val seeds = li.filter(col("l_partkey") % 97 === 0)
        .select((col("l_partkey") * 2 + 1).as("id")).distinct()
      Graph.deterministicWalks(edges, seeds, steps = 3)
        .orderBy("walk", "step")
    }, {
      val stepCte = (1 to 3).map { t =>
        s"""w$t AS (
           |  SELECT walk, dst AS node FROM (
           |    SELECT w.walk, e.dst,
           |      ('0x'||substr(md5(CAST(w.walk AS VARCHAR)||':$t:'||
           |        CAST(e.dst AS VARCHAR)),1,8))::BIGINT AS h
           |    FROM w${t - 1} w JOIN e ON e.src = w.node)
           |  QUALIFY row_number() OVER (PARTITION BY walk
           |    ORDER BY h, dst) = 1)""".stripMargin
      }.mkString(",\n")
      val unions = (0 to 3).map(t =>
        s"SELECT walk, CAST($t AS BIGINT) AS step, node FROM w$t")
        .mkString("\nUNION ALL\n")
      s"""WITH e AS (
         |  SELECT DISTINCT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
         |  FROM lineitem
         |  UNION
         |  SELECT DISTINCT l_partkey * 2 + 1, l_orderkey * 2 FROM lineitem),
         |w0 AS (
         |  SELECT DISTINCT l_partkey * 2 + 1 AS walk, l_partkey * 2 + 1 AS node
         |  FROM lineitem WHERE l_partkey % 97 = 0),
         |$stepCte
         |$unions
         |ORDER BY walk, step""".stripMargin
    }),

    // Bounded SCC coloring (FW-BW / Orzan): fwd_min = min id reached
    // within 3 hops, bwd_min = min id reaching the node within 3 hops,
    // scc_id set exactly when they agree (a sound SCC certificate —
    // the bound only limits how far it looks). Directed graph from the
    // order→part incidence folded into one 16384-id space; two
    // delta-frontier min-label passes share the regime discipline of
    // bfs/sssp.
    QueryDef("q160_scc", (s, dir) => {
      val e = Tables.lineitem(s, dir)
        .select((col("l_orderkey") % 16384).as("src"),
          (col("l_partkey") % 16384).as("dst"))
        .distinct()
      Graph.sccColoring(e, maxRounds = 3).orderBy("id")
    }, {
      def pass(p: String, joinOn: String, emit: String) = (1 to 3).map { k =>
        s"""$p$k AS (
           |  SELECT id, min(lbl) AS lbl FROM (
           |    SELECT id, lbl FROM $p${k - 1}
           |    UNION ALL
           |    SELECT e.$emit AS id, l.lbl
           |    FROM e JOIN $p${k - 1} l ON l.id = e.$joinOn)
           |  GROUP BY id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT DISTINCT l_orderkey % 16384 AS src,
         |                  l_partkey % 16384 AS dst
         |  FROM lineitem),
         |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |f0 AS (SELECT id, CAST(id AS BIGINT) AS lbl FROM n),
         |${pass("f", "dst", "src")},
         |b0 AS (SELECT id, CAST(id AS BIGINT) AS lbl FROM n),
         |${pass("b", "src", "dst")}
         |SELECT f.id, f.lbl AS fwd_min, b.lbl AS bwd_min,
         |  CASE WHEN f.lbl = b.lbl THEN f.lbl END AS scc_id
         |FROM f3 f JOIN b3 b USING (id) ORDER BY f.id""".stripMargin
    }),

    // k-truss kernel: per-edge triangle support over q111's
    // co-occurrence graph — same oriented enumeration, fanned out to
    // the three canonical edges of each triangle instead of the three
    // vertices.
    QueryDef("q162_edge_support", (s, dir) =>
      Graph.edgeSupport(
        Graph.coOccurrenceEdges(
          Tables.lineitem(s, dir)
            .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
          "o", "p", maxGroupSize = 8))
        .orderBy("a", "b"),
      """WITH os0 AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |os AS (
        |  SELECT o, p FROM (
        |    SELECT o, p, count(*) OVER (PARTITION BY o) AS ns FROM os0)
        |  WHERE ns <= 8),
        |e0 AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM os x JOIN os y ON x.o = y.o AND x.p < y.p),
        |deg AS (
        |  SELECT id, count(*) AS d FROM (
        |    SELECT a AS id FROM e0 UNION ALL SELECT b AS id FROM e0)
        |  GROUP BY id),
        |og AS (
        |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |              THEN e0.a ELSE e0.b END AS u,
        |         CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |              THEN e0.b ELSE e0.a END AS v
        |  FROM e0 JOIN deg da ON da.id = e0.a JOIN deg db ON db.id = e0.b),
        |tri AS (
        |  SELECT o1.u, o1.v, o2.v AS w
        |  FROM og o1 JOIN og o2 ON o1.u = o2.u AND o1.v < o2.v
        |  JOIN e0 ON e0.a = o1.v AND e0.b = o2.v),
        |sup AS (
        |  SELECT a, b, count(*) AS support FROM (
        |    SELECT least(u, v) AS a, greatest(u, v) AS b FROM tri
        |    UNION ALL SELECT least(u, w), greatest(u, w) FROM tri
        |    UNION ALL SELECT least(v, w), greatest(v, w) FROM tri)
        |  GROUP BY 1, 2)
        |SELECT e0.a, e0.b, CAST(COALESCE(sup.support, 0) AS BIGINT) AS support
        |FROM e0 LEFT JOIN sup USING (a, b)
        |ORDER BY e0.a, e0.b""".stripMargin),

    // Bounded 4-truss peel (2 rounds): keep edges whose triangle
    // support stays ≥ 2 as weaker edges peel away — the community
    // backbone extraction on a third of the co-occurrence graph
    // (orderkey ≡ 0 mod 3).
    QueryDef("q163_truss_peel", (s, dir) =>
      Graph.trussPeel(
        Graph.coOccurrenceEdges(
          Tables.lineitem(s, dir).filter(col("l_orderkey") % 3 === 0)
            .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
          "o", "p", maxGroupSize = 8),
        k = 4, maxRounds = 2)
        .orderBy("a", "b"), {
      // Every CTE referenced more than once is MATERIALIZED — DuckDB
      // inlines plain CTEs, so the un-hinted 2-round chain recomputed
      // the triangle enumeration exponentially (>79 GB of temp spill
      // at sf0.1 before the IO error).
      def round(i: Int) =
        s"""deg$i AS MATERIALIZED (
           |  SELECT id, count(*) AS d FROM (
           |    SELECT a AS id FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
           |  GROUP BY id),
           |og$i AS MATERIALIZED (
           |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
           |              THEN e.a ELSE e.b END AS u,
           |         CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
           |              THEN e.b ELSE e.a END AS v
           |  FROM e${i - 1} e JOIN deg$i da ON da.id = e.a
           |  JOIN deg$i db ON db.id = e.b),
           |tri$i AS MATERIALIZED (
           |  SELECT o1.u, o1.v, o2.v AS w
           |  FROM og$i o1 JOIN og$i o2 ON o1.u = o2.u AND o1.v < o2.v
           |  JOIN e${i - 1} e ON e.a = o1.v AND e.b = o2.v),
           |sup$i AS MATERIALIZED (
           |  SELECT a, b, count(*) AS support FROM (
           |    SELECT least(u, v) AS a, greatest(u, v) AS b FROM tri$i
           |    UNION ALL SELECT least(u, w), greatest(u, w) FROM tri$i
           |    UNION ALL SELECT least(v, w), greatest(v, w) FROM tri$i)
           |  GROUP BY 1, 2),
           |e$i AS MATERIALIZED (SELECT a, b FROM sup$i WHERE support >= 2)"""
        .stripMargin
      s"""WITH os0 AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
         |  WHERE l_orderkey % 3 = 0),
         |os AS MATERIALIZED (
         |  SELECT o, p FROM (
         |    SELECT o, p, count(*) OVER (PARTITION BY o) AS ns FROM os0)
         |  WHERE ns <= 8),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT x.p AS a, y.p AS b
         |  FROM os x JOIN os y ON x.o = y.o AND x.p < y.p),
         |${round(1)},
         |${round(2)}
         |SELECT a, b FROM e2 ORDER BY a, b""".stripMargin
    }),

    // Bit-packed multi-source BFS: per-landmark hop distances from the
    // 16 smallest seed parts in ONE shared sweep (64-bit mask state) —
    // contrast q136, which keeps only min-over-seeds. Landmark distance
    // features for graph ML.
    QueryDef("q166_msbfs", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      val edges = fwd
        .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val seeds = li.filter(col("l_partkey") % 97 === 0)
        .select((col("l_partkey") * 2 + 1).as("id")).distinct()
        .orderBy("id").limit(16)
      Graph.multiSourceBfs(edges, seeds, maxHops = 2)
        .orderBy("id", "src")
    }, {
      // Per-landmark BFS replayed as two unrolled min-dist rounds per
      // (src, id) — the bitmask is an execution encoding, not semantics.
      val rounds = (1 to 2).map { k =>
        s"""d$k AS (
           |  SELECT src, id, min(dist) AS dist FROM (
           |    SELECT src, id, dist FROM d${k - 1}
           |    UNION ALL
           |    SELECT d.src, e.dst AS id, d.dist + 1 AS dist
           |    FROM e JOIN d${k - 1} d ON d.id = e.src)
           |  GROUP BY src, id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT DISTINCT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
         |  FROM lineitem
         |  UNION
         |  SELECT DISTINCT l_partkey * 2 + 1, l_orderkey * 2 FROM lineitem),
         |sd AS (
         |  SELECT DISTINCT l_partkey * 2 + 1 AS id FROM lineitem
         |  WHERE l_partkey % 97 = 0 ORDER BY id LIMIT 16),
         |d0 AS (SELECT id AS src, id, CAST(0 AS BIGINT) AS dist FROM sd),
         |$rounds
         |SELECT id, src, CAST(dist AS BIGINT) AS dist FROM d2
         |ORDER BY id, src""".stripMargin
    }),

    // Time-respecting earliest arrival over the user↔entity interaction
    // graph (edge time = event time, both directions): exposure within
    // 3 strictly-time-increasing hops from the seed users. Plain BFS
    // walks backwards in time; this can't.
    QueryDef("q167_temporal_reach", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(get_json_object(col("props"), "$.k").isNotNull)
        .select((col("user_id") * 2).as("u"),
          (get_json_object(col("props"), "$.k").cast("long") * 2 + 1)
            .as("kk"),
          expr("ts_ns div 1000").as("t"))
      val edges = ev.select(col("u").as("src"), col("kk").as("dst"), col("t"))
        .unionByName(
          ev.select(col("kk").as("src"), col("u").as("dst"), col("t")))
      val seeds = Tables.events(s, dir).filter(col("user_id") % 17 === 0)
        .select((col("user_id") * 2).as("id")).distinct()
      Graph.temporalEarliestArrival(edges, seeds, maxRounds = 3)
        .orderBy("id")
    }, {
      // Temporal earliest arrival replayed as three unrolled full-table
      // relaxation rounds (the delta frontier is an optimization, not a
      // semantics change — non-improved nodes re-contribute identical
      // candidates that the min folds away).
      val rounds = (1 to 3).map { k =>
        s"""a$k AS (
           |  SELECT id, min(arr) AS arr FROM (
           |    SELECT id, arr FROM a${k - 1}
           |    UNION ALL
           |    SELECT e.dst AS id, e.t AS arr
           |    FROM e JOIN a${k - 1} a ON a.id = e.src AND e.t > a.arr)
           |  GROUP BY id)""".stripMargin
      }.mkString(",\n")
      s"""WITH ev AS (
         |  SELECT user_id * 2 AS u,
         |    CAST(props->>'k' AS BIGINT) * 2 + 1 AS kk,
         |    epoch_us(ts) AS t
         |  FROM events WHERE props->>'k' IS NOT NULL),
         |e AS (SELECT u AS src, kk AS dst, t FROM ev
         |      UNION ALL SELECT kk, u, t FROM ev),
         |a0 AS (SELECT DISTINCT user_id * 2 AS id, CAST(-1 AS BIGINT) AS arr
         |       FROM events WHERE user_id % 17 = 0),
         |$rounds
         |SELECT id, CAST(arr AS BIGINT) AS arr FROM a3 ORDER BY id""".stripMargin
    }),

    // Local clustering coefficient over q111's co-occurrence graph:
    // exact integer-ppm neighborhood-clique density per node (the
    // oriented triangle core plus one node-sized degree agg).
    QueryDef("q170_clustering_coeff", (s, dir) =>
      Graph.clusteringCoefficient(
        Graph.coOccurrenceEdges(
          Tables.lineitem(s, dir)
            .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
          "o", "p", maxGroupSize = 8))
        .orderBy("id"),
      // q111's triangle pipeline extended with the degree join and the
      // integer-ppm clique-density formula.
      """WITH os0 AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |os AS (
        |  SELECT o, p FROM (
        |    SELECT o, p, count(*) OVER (PARTITION BY o) AS ns FROM os0)
        |  WHERE ns <= 8),
        |e0 AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM os x JOIN os y ON x.o = y.o AND x.p < y.p),
        |deg AS (
        |  SELECT id, count(*) AS d FROM (
        |    SELECT a AS id FROM e0 UNION ALL SELECT b AS id FROM e0)
        |  GROUP BY id),
        |og AS (
        |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |              THEN e0.a ELSE e0.b END AS u,
        |         CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |              THEN e0.b ELSE e0.a END AS v
        |  FROM e0 JOIN deg da ON da.id = e0.a JOIN deg db ON db.id = e0.b),
        |tri AS (
        |  SELECT o1.u, o1.v, o2.v AS w
        |  FROM og o1 JOIN og o2 ON o1.u = o2.u AND o1.v < o2.v
        |  JOIN e0 ON e0.a = o1.v AND e0.b = o2.v),
        |t AS (
        |  SELECT id, count(*) AS n FROM (
        |    SELECT u AS id FROM tri UNION ALL SELECT v AS id FROM tri
        |    UNION ALL SELECT w AS id FROM tri)
        |  GROUP BY id)
        |SELECT deg.id AS id, CAST(deg.d AS BIGINT) AS degree,
        |  CAST(COALESCE(t.n, 0) AS BIGINT) AS triangles,
        |  CAST(CASE WHEN deg.d >= 2 THEN
        |    (2000000 * COALESCE(t.n, 0)) // (deg.d * (deg.d - 1))
        |    ELSE 0 END AS BIGINT) AS cc_ppm
        |FROM deg LEFT JOIN t ON t.id = deg.id ORDER BY id""".stripMargin),

    // Volume-weighted PageRank over the order↔part graph: mass splits
    // by total line quantity instead of edge count (multi-edges folded
    // first — per-row flooring is semantics, see weightedPageRank).
    QueryDef("q177_weighted_pagerank", (s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        (col("l_orderkey") * 2).as("o"), (col("l_partkey") * 2 + 1).as("p"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("q"))
      val e = li.select(col("o").as("src"), col("p").as("dst"), col("q"))
        .unionByName(
          li.select(col("p").as("src"), col("o").as("dst"), col("q")))
        .groupBy("src", "dst").agg(sum("q").as("w"))
      // the union construction makes the edge set symmetric by
      // construction — declares it so the loop skips the exact node
      // table and the per-round node left-join (results identical:
      // every node has an in-edge)
      Graph.weightedPageRank(e, iterations = 2, symmetric = true)
        .orderBy("id")
    }, {
      // Two unrolled weight-proportional rank rounds, integer floor at
      // every division exactly as the loop computes them.
      def round(k: Int, prev: String) =
        s"""s$k AS (SELECT e.dst AS id,
           |    sum(($prev * e.w) // wo.wout) AS s
           |  FROM e JOIN wout wo ON wo.src = e.src
           |  ${if (k == 1) "" else s"JOIN r${k - 1} r ON r.id = e.src"}
           |  GROUP BY e.dst),
           |r$k AS (SELECT n.id,
           |    150000 + (850000 * COALESCE(s$k.s, 0)) // 1000000 AS rank
           |  FROM n LEFT JOIN s$k ON s$k.id = n.id)""".stripMargin
      s"""WITH li AS (SELECT l_orderkey * 2 AS o, l_partkey * 2 + 1 AS p,
         |  CAST(round(l_quantity) AS BIGINT) AS q FROM lineitem),
         |e AS (SELECT src, dst, CAST(sum(q) AS BIGINT) AS w FROM (
         |  SELECT o AS src, p AS dst, q FROM li
         |  UNION ALL SELECT p, o, q FROM li) GROUP BY 1, 2),
         |wout AS (SELECT src, sum(w) AS wout FROM e GROUP BY 1),
         |n AS (SELECT DISTINCT id FROM (
         |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |${round(1, "1000000")},
         |${round(2, "r.rank")}
         |SELECT id, CAST(rank AS BIGINT) AS rank FROM r2
         |ORDER BY id""".stripMargin
    }),

    // Bipartite cohesion: per-part butterfly (4-cycle) counts over the
    // order↔part incidence — bipartite graphs have no triangles, the
    // butterfly is their clustering primitive. Hub-capped like q111.
    QueryDef("q178_butterflies", (s, dir) =>
      Graph.butterflyCounts(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
        "o", "p", maxGroupSize = 8)
        .orderBy("id"),
      """WITH os0 AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |os AS (
        |  SELECT o, p FROM (
        |    SELECT o, p, count(*) OVER (PARTITION BY o) AS ns FROM os0)
        |  WHERE ns <= 8),
        |pw AS (SELECT x.p AS a, y.p AS b, count(*) AS w
        |  FROM os x JOIN os y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2)
        |SELECT id, CAST(sum((w * (w - 1)) // 2) AS BIGINT) AS butterflies
        |FROM (SELECT a AS id, w FROM pw UNION ALL SELECT b, w FROM pw)
        |GROUP BY id ORDER BY id""".stripMargin),

    // Degree assortativity of the co-occurrence graph — do high-degree
    // parts co-occur with high-degree parts? Pearson over (deg_src,
    // deg_dst) of every directed edge, through the exact DECIMAL(38,0)
    // moment machinery of q149 (hash-exact where corr() cannot be).
    QueryDef("q182_assortativity", (s, dir) => {
      val e = Graph.coOccurrenceEdges(
          Tables.lineitem(s, dir)
            .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
          "o", "p", maxGroupSize = 8)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint(true)
      // deg feeds BOTH endpoint joins; left lazy it is planned as two
      // independent Generate+agg subtrees (no exchange reuse across the
      // differently-aliased broadcast builds) — a whole duplicate pass
      // over the edge set (round-16; the shared-branch rule, guide §5).
      // Node-sized, so the checkpoint is cheap and both broadcasts
      // build from the materialized table.
      val deg = e.select(explode(array(col("a"), col("b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("d"))
        .localCheckpoint(true)
      val dir2 = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      val xy = dir2
        .join(deg.select(col("id").as("a"), col("d").as("dx")), Seq("a"))
        .join(deg.select(col("id").as("b"), col("d").as("dy")), Seq("b"))
        .select(lit("all").as("g"), col("dx"), col("dy"))
      Aggregations.groupedPearson(xy, Seq("g"), "dx", "dy").orderBy("g")
    },
      // The q149 exact-moment Pearson over edge endpoint degrees.
      """WITH os0 AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |os AS (
        |  SELECT o, p FROM (
        |    SELECT o, p, count(*) OVER (PARTITION BY o) AS ns FROM os0)
        |  WHERE ns <= 8),
        |e0 AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM os x JOIN os y ON x.o = y.o AND x.p < y.p),
        |deg AS (
        |  SELECT id, count(*) AS d FROM (
        |    SELECT a AS id FROM e0 UNION ALL SELECT b AS id FROM e0)
        |  GROUP BY id),
        |d2 AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        |t AS (SELECT 'all' AS g, da.d AS x, db.d AS y
        |  FROM d2 JOIN deg da ON da.id = d2.a JOIN deg db ON db.id = d2.b),
        |m AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM t GROUP BY 1)
        |SELECT g, CAST(n AS BIGINT) AS n,
        |  CAST(sxy * n - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(sxx * n - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(syy * n - sy * sy AS DOUBLE))) AS r
        |FROM m
        |WHERE sxx * n - sx * sx > 0 AND syy * n - sy * sy > 0
        |ORDER BY g""".stripMargin),

    // Iteration-convergence monitor: L1 and max deltas between PR
    // iterations 2 and 3 in exact scaled integers — the fixed-point
    // stopping-criterion telemetry an operator dashboard needs.
    QueryDef("q186_pr_convergence", (s, dir) => {
      val fwd = Tables.lineitem(s, dir)
        .select((col("l_orderkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
      val edges = fwd
        .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      // ONE fixed-point loop with the round-2 iterate captured (each
      // round already localCheckpoints, so the capture is a free
      // reference) — running two independent loops would recompute
      // rounds 1-2, the edge cache, the degree window and the stats job
      // (the round-9 shared-branch lesson across loop invocations).
      val its = Graph.pageRankIterates(edges, iterations = 3,
        captureAt = Set(2), symmetric = true)
      val (r2, r3) = (its(2), its(3))
      r2.withColumnRenamed("rank", "rank2")
        .join(r3.withColumnRenamed("rank", "rank3"), Seq("id"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(abs(col("rank3") - col("rank2"))).as("l1_delta"),
          max(abs(col("rank3") - col("rank2"))).as("max_delta"))
    }, {
      // q65's unrolled rank rounds, diffed between iterations 2 and 3.
      val iters = (1 to 3).map { k =>
        s"""r$k AS (
           |  SELECT n.id, CAST(150000 + (850000 * COALESCE(s.c, 0)) // 1000000
           |    AS BIGINT) AS rank
           |  FROM n LEFT JOIN (
           |    SELECT e.dst AS id, CAST(sum(r.rank // d.deg) AS BIGINT) AS c
           |    FROM e JOIN r${k - 1} r ON r.id = e.src
           |           JOIN deg d ON d.id = e.src
           |    GROUP BY e.dst) s ON s.id = n.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT DISTINCT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
         |  FROM lineitem
         |  UNION
         |  SELECT DISTINCT l_partkey * 2 + 1, l_orderkey * 2 FROM lineitem),
         |n AS (SELECT DISTINCT src AS id FROM e
         |      UNION SELECT DISTINCT dst FROM e),
         |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM n),
         |$iters
         |SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(sum(abs(r3.rank - r2.rank)) AS BIGINT) AS l1_delta,
         |  CAST(max(abs(r3.rank - r2.rank)) AS BIGINT) AS max_delta
         |FROM r2 JOIN r3 USING (id)""".stripMargin
    }),

    // Landmark harmonic centrality over the bit-packed msbfs core
    // (q166's 16 seeds, 2 hops): Σ 1e6 div dist per node, top 100 by
    // score (Graph.harmonicCentrality).
    QueryDef("q200_harmonic", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      val edges = fwd
        .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val seeds = li.filter(col("l_partkey") % 97 === 0)
        .select((col("l_partkey") * 2 + 1).as("id")).distinct()
        .orderBy("id").limit(16)
      Graph.harmonicCentrality(edges, seeds, maxHops = 2)
        .orderBy(col("harmonic_ppm").desc, col("id")).limit(100)
    }, {
      val rounds = (1 to 2).map { k =>
        s"""d$k AS MATERIALIZED (
           |  SELECT src, id, min(dist) AS dist FROM (
           |    SELECT src, id, dist FROM d${k - 1}
           |    UNION ALL
           |    SELECT d.src, e.dst AS id, d.dist + 1 AS dist
           |    FROM e JOIN d${k - 1} d ON d.id = e.src)
           |  GROUP BY src, id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
         |  FROM lineitem
         |  UNION
         |  SELECT DISTINCT l_partkey * 2 + 1, l_orderkey * 2 FROM lineitem),
         |sd AS (
         |  SELECT DISTINCT l_partkey * 2 + 1 AS id FROM lineitem
         |  WHERE l_partkey % 97 = 0 ORDER BY id LIMIT 16),
         |d0 AS (SELECT id AS src, id, CAST(0 AS BIGINT) AS dist FROM sd),
         |$rounds
         |SELECT id, CAST(count(*) AS BIGINT) AS n_reached,
         |  CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_ppm
         |FROM d2 WHERE dist > 0 GROUP BY id
         |ORDER BY harmonic_ppm DESC, id LIMIT 100""".stripMargin
    }),

    // Per-landmark reach curve over the q200 msbfs core — landmark-side
    // frontier-growth report (Graph.landmarkReachProfile: one 64-seed
    // bit-packed sweep, |seeds|×hops output rows).
    QueryDef("q208_landmark_reach", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      val edges = fwd
        .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val seeds = li.filter(col("l_partkey") % 97 === 0)
        .select((col("l_partkey") * 2 + 1).as("id")).distinct()
        .orderBy("id").limit(16)
      Graph.landmarkReachProfile(edges, seeds, maxHops = 2)
        .orderBy("src", "dist")
    }, {
      val rounds = (1 to 2).map { k =>
        s"""d$k AS MATERIALIZED (
           |  SELECT src, id, min(dist) AS dist FROM (
           |    SELECT src, id, dist FROM d${k - 1}
           |    UNION ALL
           |    SELECT d.src, e.dst AS id, d.dist + 1 AS dist
           |    FROM e JOIN d${k - 1} d ON d.id = e.src)
           |  GROUP BY src, id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
         |  FROM lineitem
         |  UNION
         |  SELECT DISTINCT l_partkey * 2 + 1, l_orderkey * 2 FROM lineitem),
         |sd AS (
         |  SELECT DISTINCT l_partkey * 2 + 1 AS id FROM lineitem
         |  WHERE l_partkey % 97 = 0 ORDER BY id LIMIT 16),
         |d0 AS (SELECT id AS src, id, CAST(0 AS BIGINT) AS dist FROM sd),
         |$rounds
         |SELECT src, dist, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM d2 WHERE dist > 0 GROUP BY src, dist
         |ORDER BY src, dist""".stripMargin
    }),

    // GraphSAGE-style neighbor feature aggregation over the co-order
    // part graph: per node, degree + sum/max of neighbor degrees, top
    // 100 by aggregated popularity (Graph.neighborFeatureAgg — one
    // node-keyed join, no iteration).
    QueryDef("q213_neighbor_agg", (s, dir) => {
      val canon = Graph.coOccurrenceEdges(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
        "o", "p", maxGroupSize = 8).distinct()
      val edges = canon.unionByName(
        canon.select(col("dst").as("src"), col("src").as("dst")))
      Graph.neighborFeatureAgg(edges)
        .orderBy(col("sum_nbr_deg").desc, col("id")).limit(100)
    },
      """WITH os0 AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |os AS (
        |  SELECT o, p FROM (
        |    SELECT o, p, count(*) OVER (PARTITION BY o) AS ns FROM os0)
        |  WHERE ns <= 8),
        |e0 AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM os x JOIN os y ON x.o = y.o AND x.p < y.p),
        |ed AS (SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT src AS id, count(*) AS deg FROM ed GROUP BY 1)
        |SELECT ed.src AS id, CAST(count(*) AS BIGINT) AS deg,
        |  CAST(sum(d2.deg) AS BIGINT) AS sum_nbr_deg,
        |  CAST(max(d2.deg) AS BIGINT) AS max_nbr_deg
        |FROM ed JOIN deg d2 ON d2.id = ed.dst
        |GROUP BY 1 ORDER BY sum_nbr_deg DESC, id LIMIT 100""".stripMargin),

    // Link prediction over the co-order part graph: common neighbors,
    // integer resource-allocation index, neighborhood Jaccard for the
    // top-100 non-edges (Graph.linkPredictionFeatures — wedge stream
    // capped at middle-degree 64: hub middles carry ~zero RA weight
    // and uncapped wedges measured 236M vs 1.5M at sf0.1).
    QueryDef("q217_link_prediction", (s, dir) => {
      val canon = Graph.coOccurrenceEdges(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
        "o", "p", maxGroupSize = 8).distinct()
      Graph.linkPredictionFeatures(canon)
        .orderBy(col("ra_ppm").desc, col("id_a"), col("id_b")).limit(100)
    },
      """WITH os0 AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |os AS (
        |  SELECT o, p FROM (
        |    SELECT o, p, count(*) OVER (PARTITION BY o) AS ns FROM os0)
        |  WHERE ns <= 8),
        |e0 AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM os x JOIN os y ON x.o = y.o AND x.p < y.p),
        |ed AS (SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT src AS id, count(*) AS deg FROM ed GROUP BY 1),
        |legs AS (SELECT ed.src AS v, ed.dst, dv.deg AS dvd
        |  FROM ed JOIN deg dv ON dv.id = ed.src AND dv.deg <= 64),
        |wed AS (SELECT x.dst AS a, y.dst AS b, count(*) AS common,
        |    sum(1000000 // x.dvd) AS ra_ppm
        |  FROM legs x JOIN legs y ON x.v = y.v AND x.dst < y.dst
        |  GROUP BY 1, 2),
        |ne AS (SELECT wed.a, wed.b, wed.common, wed.ra_ppm
        |  FROM wed LEFT JOIN e0 ON e0.a = wed.a AND e0.b = wed.b
        |  WHERE e0.a IS NULL)
        |SELECT ne.a AS id_a, ne.b AS id_b,
        |  CAST(common AS BIGINT) AS common,
        |  CAST(ra_ppm AS BIGINT) AS ra_ppm,
        |  CAST((common * 1000000) // (da.deg + db.deg - common) AS BIGINT)
        |    AS jaccard_ppm
        |FROM ne JOIN deg da ON da.id = ne.a JOIN deg db ON db.id = ne.b
        |ORDER BY ra_ppm DESC, id_a, id_b LIMIT 100""".stripMargin),

    // Skip-gram co-occurrence over deterministic walks
    // (Graph.walkCooccurrence) — the corpus-prep step between walking
    // and training graph features (DeepWalk pair extraction, PPMI/
    // GloVe-style association counts): q152's walk graph and seeds,
    // 4 steps, window 2; unordered pairs with count >= 2 scored by the
    // integer PMI ratio lift_ppm = c_ab·T²·10⁶ div (c_a·c_b·P) — the
    // pre-log PMI, exact in 64-bit integers where a float log would
    // diverge between engines.
    QueryDef("q237_walk_cooccurrence", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      val edges = fwd
        .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val seeds = li.filter(col("l_partkey") % 97 === 0)
        .select((col("l_partkey") * 2 + 1).as("id")).distinct()
      Graph.walkCooccurrence(edges, seeds, steps = 4, window = 2)
        .orderBy("na", "nb")
    }, {
      // q152's walk replay extended to 4 steps, then the pair/count
      // algebra — lead() unrolled per offset (window = 2)
      val stepCte = (1 to 4).map { t =>
        s"""w$t AS (
           |  SELECT walk, dst AS node FROM (
           |    SELECT w.walk, e.dst,
           |      ('0x'||substr(md5(CAST(w.walk AS VARCHAR)||':$t:'||
           |        CAST(e.dst AS VARCHAR)),1,8))::BIGINT AS h
           |    FROM w${t - 1} w JOIN e ON e.src = w.node)
           |  QUALIFY row_number() OVER (PARTITION BY walk
           |    ORDER BY h, dst) = 1)""".stripMargin
      }.mkString(",\n")
      val unions = (0 to 4).map(t =>
        s"SELECT walk, CAST($t AS BIGINT) AS step, node FROM w$t")
        .mkString("\n  UNION ALL ")
      s"""WITH e AS (
         |  SELECT DISTINCT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
         |  FROM lineitem
         |  UNION
         |  SELECT DISTINCT l_partkey * 2 + 1, l_orderkey * 2 FROM lineitem),
         |w0 AS (
         |  SELECT DISTINCT l_partkey * 2 + 1 AS walk, l_partkey * 2 + 1 AS node
         |  FROM lineitem WHERE l_partkey % 97 = 0),
         |$stepCte,
         |pos AS MATERIALIZED (
         |  $unions),
         |pr AS (
         |  SELECT least(u, v) AS na, greatest(u, v) AS nb FROM (
         |    SELECT node AS u, lead(node, 1) OVER (
         |      PARTITION BY walk ORDER BY step) AS v FROM pos
         |    UNION ALL
         |    SELECT node, lead(node, 2) OVER (
         |      PARTITION BY walk ORDER BY step) FROM pos)
         |  WHERE v IS NOT NULL AND u <> v),
         |pc AS MATERIALIZED (
         |  SELECT na, nb, count(*) AS c_ab FROM pr GROUP BY 1, 2),
         |occ AS (SELECT node, count(*) AS c FROM pos GROUP BY 1),
         |tt AS (SELECT count(*) AS t FROM pos),
         |pp AS (SELECT sum(c_ab) AS p FROM pc)
         |SELECT pc.na, pc.nb, pc.c_ab,
         |  CAST((pc.c_ab * tt.t * tt.t * 1000000)
         |    // (oa.c * ob.c * pp.p) AS BIGINT) AS lift_ppm
         |FROM pc JOIN occ oa ON oa.node = pc.na
         |        JOIN occ ob ON ob.node = pc.nb, tt, pp
         |WHERE pc.c_ab >= 2 ORDER BY na, nb""".stripMargin
    })
  )
}
