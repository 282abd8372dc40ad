package graft
package queries

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embeddings: ANN (brute force, LSH, IVF, PQ), vector statistics,
  * k-means, spectral directions and coreset selection. */
object VectorQueries {

  /** DuckDB integer dist² between two named 64-long-list columns —
    * shared by the fps/coverage oracles. */
  private def duckDist2(a: String, b: String): String =
    s"list_aggregate(list_transform(range(64), i -> " +
      s"($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1])), 'sum')"

  /** The greedy selection CTE chain (q through `sel`), parameterized by
    * the corpus predicate; pre-stripped — callers CONCATENATE their
    * suffix (never re-stripMargin over it, the q139 pipe lesson). */
  private def fpsCtes(where: String): String = {
    val rounds = (1 until 8).map { i =>
      val notIn = (0 until i).map(j => s"SELECT id FROM s$j")
        .mkString(" UNION ALL ")
      val dcte =
        if (i == 1)
          s"""d1 AS MATERIALIZED (
             |  SELECT q.id, q.v, ${duckDist2("q.v", "s.v")} AS d
             |  FROM q, s0 s),""".stripMargin
        else
          s"""d$i AS MATERIALIZED (
             |  SELECT p.id, p.v, LEAST(p.d, ${duckDist2("p.v", "s.v")}) AS d
             |  FROM d${i - 1} p, s${i - 1} s),""".stripMargin
      s"""$dcte
         |s$i AS MATERIALIZED (
         |  SELECT id, v, d FROM d$i
         |  WHERE id NOT IN ($notIn)
         |  ORDER BY d DESC, id LIMIT 1),""".stripMargin
    }.mkString("\n")
    val sel = (0 until 8).map(i =>
      s"SELECT CAST($i AS BIGINT) AS ord, id, d, v FROM s$i")
      .mkString("\n  UNION ALL ")
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id AS id, list_transform(embedding, x ->
       |    CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v
       |  FROM embeddings
       |  $where),
       |s0 AS MATERIALIZED (
       |  SELECT id, v, 0::BIGINT AS d FROM q ORDER BY id LIMIT 1),
       |$rounds
       |sel AS MATERIALIZED (
       |  $sel)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    // Brute-force cosine top-k ANN baseline.
    QueryDef("q31_ann_bruteforce", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Ann.bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 10)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    },
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |           WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    row_number() OVER (PARTITION BY q.qid ORDER BY
        |      list_sum(list_transform(list_zip(q.qe, e.embedding),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(q.qe,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(e.embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
        |      e.vec_id) AS rnk
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid)
        |SELECT qid AS query_id, vec_id AS neighbor_id, CAST(rnk AS INT) AS rank
        |FROM scored WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin),

    // LSH-bucketed ANN (scale path), md5-seeded Rademacher hyperplanes so
    // bucketing — and therefore the exact candidate set — is reproduced
    // by the DuckDB oracle; recall vs q31 measured in AnnSpec.
    QueryDef("q32_ann_lsh", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Ann.lshTopK(e, e.filter(col("vec_id") < 5), k = 10, nBits = 6,
        nTables = 16, portableHash = true)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    },
      // Exact mirror of the portable Rademacher-LSH ANN: sign components
      // from md5('hp{t}_{bit}_{d}'), 16 tables × 6 bits, candidates =
      // bucket collisions, exact cosine re-rank.
      """WITH sgn AS (
        |  SELECT tt.t, bb.bit, list_transform(range(64), d ->
        |    CASE WHEN strpos('0123456789abcdef',
        |      substr(md5('hp' || tt.t || '_' || bb.bit || '_' || d), 1, 1)) - 1 < 8
        |    THEN 1.0 ELSE -1.0 END) AS sgns
        |  FROM range(16) tt(t), range(6) bb(bit)),
        |vb AS (
        |  SELECT e.vec_id, s.t,
        |    sum(CASE WHEN list_sum(list_transform(list_zip(e.embedding, s.sgns),
        |          p -> CAST(p[1] AS DOUBLE) * p[2])) >= 0
        |        THEN (1::BIGINT << CAST(5 - s.bit AS INT)) ELSE 0 END) AS bucket
        |  FROM embeddings e, sgn s GROUP BY e.vec_id, s.t),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |  FROM vb q JOIN vb c ON q.t = c.t AND q.bucket = c.bucket
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
        |scored AS (
        |  SELECT cand.query_id, cand.neighbor_id,
        |    row_number() OVER (PARTITION BY cand.query_id ORDER BY
        |      list_sum(list_transform(list_zip(qe.embedding, ce.embedding),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(qe.embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(ce.embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
        |      cand.neighbor_id) AS rnk
        |  FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
        |            JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
        |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank
        |FROM scored WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin),

    // Embedding stats per label (codegen'd vector math over array<float>).
    QueryDef("q33_embed_stats", (s, dir) => {
      val n2 = graft.expressions.VectorExpressions.norm2F(col("embedding"))
      Tables.embeddings(s, dir).groupBy("label").agg(
        count(lit(1)).as("n"),
        max(n2.cast("decimal(28,10)")).cast("double").as("max_norm_sq"),
        min(n2.cast("decimal(28,10)")).cast("double").as("min_norm_sq"))
        .orderBy("label")
    },
      """SELECT label, count(*) AS n,
        | CAST(max(CAST(list_sum(list_transform(embedding,
        |   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS DECIMAL(28,10)))
        |   AS DOUBLE) AS max_norm_sq,
        | CAST(min(CAST(list_sum(list_transform(embedding,
        |   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS DECIMAL(28,10)))
        |   AS DOUBLE) AS min_norm_sq
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin),

    // Embedding-cosine near-duplicate pairs (exact quadratic; the LSH
    // variant is q32's bucketing applied as a pre-filter at scale).
    QueryDef("q40_embed_neardup", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("sim",
          graft.expressions.VectorExpressions.cosineF(col("va"), col("vb")))
        .filter(col("sim") >= 0.3)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    },
      """WITH p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(b.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b FROM p WHERE sim >= 0.3 ORDER BY id_a, id_b""".stripMargin),

    // IVF ANN: sampled coarse quantizer (centroids = lowest-id vectors,
    // no Lloyd refinement) + probe — fully deterministic, oracle-checked;
    // the k-means-refined variant is exercised in SkewIvfSpec.
    QueryDef("q43_ann_ivf", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Ann.ivfTopK(e, e.filter(col("vec_id") < 5), k = 10,
        nCentroids = 8, nProbe = 4, lloydIterations = 0, initById = true)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    },
      // Exact mirror of the sampled-coarse-quantizer IVF: centroids = the 8
      // lowest-id vectors, assignment/probe by cosine (ties → larger cell
      // index, matching array_max on struct(sim, idx)), probe 4 cells,
      // exact cosine re-rank within probed cells.
      """WITH cent AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, embedding AS cv
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
        |asg AS (
        |  SELECT id, v, cell FROM (
        |    SELECT e.vec_id AS id, e.embedding AS v, c.ci AS cell,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(e.embedding, c.cv),
        |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(e.embedding,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |           * sqrt(list_sum(list_transform(c.cv,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
        |        c.ci DESC) AS rn
        |    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
        |prb AS (
        |  SELECT query_id, qv, cell FROM (
        |    SELECT q.vec_id AS query_id, q.embedding AS qv, c.ci AS cell,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.embedding, c.cv),
        |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(q.embedding,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |           * sqrt(list_sum(list_transform(c.cv,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
        |        c.ci DESC) AS rn
        |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 5)
        |  WHERE rn <= 4),
        |cand AS (
        |  SELECT p.query_id, p.qv, a.id, a.v
        |  FROM prb p JOIN asg a USING (cell) WHERE a.id <> p.query_id),
        |scored AS (
        |  SELECT query_id, id, row_number() OVER (PARTITION BY query_id ORDER BY
        |      list_sum(list_transform(list_zip(qv, v),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(qv,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(v,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
        |      id ASC) AS rnk
        |  FROM cand)
        |SELECT query_id, id AS neighbor_id, CAST(rnk AS INT) AS rank
        |FROM scored WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin),

    // Contrastive positive-pair generation: within-label self-join
    // (label blocking keeps it |label-class|² not corpus²), ordered
    // a<b, thinned by the deterministic md5 pair hash — the
    // reproducible pair-sampling step of an embedding training prep.
    QueryDef("q83_contrastive_pairs", (s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("label"), col("vec_id"))
      e.select(col("label"), col("vec_id").as("a"))
        .join(e.select(col("label"), col("vec_id").as("b")), Seq("label"))
        .filter(col("a") < col("b"))
        .filter(conv(substring(md5(concat(col("a").cast("string"), lit("_"),
          col("b").cast("string")).cast("binary")), 1, 8), 16, 10)
          .cast("bigint") < 1073741824L)
        .orderBy("label", "a", "b")
    },
      """SELECT a.label, a.vec_id AS a, b.vec_id AS b
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE ('0x' || substr(md5(CAST(a.vec_id AS VARCHAR) || '_' ||
        |        CAST(b.vec_id AS VARCHAR)), 1, 8))::BIGINT < 1073741824
        |ORDER BY a.label, a, b""".stripMargin),

    // Label-centroid cosine similarity matrix (embedding-space class
    // analytics). Float-sum order-dependence would break the oracle, so
    // components are quantized to exact 1e-4 integer units at the scan;
    // centroid cosines reduce to integer sum-vector cosines (the counts
    // cancel), exact 64-bit until the final division and two
    // correctly-rounded sqrts. Shuffle keys are (label, pos) — O(labels
    // × dims) — and the pairwise stage is label-count-sized.
    QueryDef("q98_centroid_sim", (s, dir) => {
      val q = Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("label"), col("pos"),
          floor(col("x").cast("double") * 10000.0 + 0.5).cast("long").as("qx"))
      val sums = q.groupBy("label", "pos").agg(sum(col("qx")).as("sv"))
      val norms = sums.groupBy("label").agg(sum(col("sv") * col("sv")).as("nrm"))
      sums.as("a").join(sums.as("b"), Seq("pos"))
        .filter(col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
        .agg(sum(col("a.sv") * col("b.sv")).as("dot"))
        .join(norms.select(col("label").as("label_a"), col("nrm").as("na")),
          Seq("label_a"))
        .join(norms.select(col("label").as("label_b"), col("nrm").as("nb")),
          Seq("label_b"))
        .select(col("label_a"), col("label_b"),
          (col("dot").cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
            .as("cos_sim"))
        .orderBy("label_a", "label_b")
    },
      """WITH q AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS pos,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
        |           AS BIGINT) AS qx
        |  FROM embeddings),
        |s AS (SELECT label, pos, CAST(sum(qx) AS BIGINT) AS sv
        |      FROM q GROUP BY 1, 2),
        |n AS (SELECT label, CAST(sum(sv * sv) AS BIGINT) AS nrm
        |      FROM s GROUP BY 1),
        |d AS (SELECT a.label AS label_a, b.label AS label_b,
        |             CAST(sum(a.sv * b.sv) AS BIGINT) AS dot
        |      FROM s a JOIN s b ON a.pos = b.pos AND a.label < b.label
        |      GROUP BY 1, 2)
        |SELECT d.label_a, d.label_b,
        |  CAST(dot AS DOUBLE)
        |    / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
        |    AS cos_sim
        |FROM d JOIN n na ON d.label_a = na.label
        |       JOIN n nb ON d.label_b = nb.label
        |ORDER BY 1, 2""".stripMargin),

    // SemDeDup (semantic dedup): cluster-assign each embedding to its
    // nearest of 8 deterministic seed centroids (broadcast — assignment
    // is a scan-stage argmax), then near-dup ONLY within clusters
    // (greedy keep-min over cosine ≥ 0.3 pairs). The cluster blocking is
    // what keeps the quadratic survivable at corpus scale — pairs never
    // cross clusters, mirroring q30's (lang, source) blocking in
    // embedding space. Cosine parity with DuckDB is the q40-proven
    // in-order float→double summation.
    QueryDef("q108_semantic_dedup", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val seeds = e.orderBy("vec_id").limit(8)
        .select(col("vec_id").as("seed_id"), col("embedding").as("sv"))
      val w = Window.partitionBy("vec_id")
        .orderBy(col("sim").desc, col("seed_id").asc)
      val assign = e.crossJoin(broadcast(seeds))
        .select(col("vec_id"), col("seed_id"),
          graft.expressions.VectorExpressions.cosineF(col("embedding"), col("sv"))
            .as("sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("seed_id").as("cluster"))
      val v = e.join(assign, Seq("vec_id"))
      val dropped = v.as("a").join(v.as("b"),
          col("a.cluster") === col("b.cluster") &&
            col("a.vec_id") < col("b.vec_id"))
        .filter(graft.expressions.VectorExpressions.cosineF(
          col("a.embedding"), col("b.embedding")) >= 0.3)
        .select(col("b.vec_id").as("vec_id")).distinct()
      v.join(dropped.withColumn("__d", lit(1)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"), col("__d").isNull.as("kept"))
        .orderBy("vec_id")
    },
      """WITH seeds AS (
        |  SELECT vec_id AS seed_id, embedding AS sv
        |  FROM embeddings ORDER BY vec_id LIMIT 8),
        |sims AS (
        |  SELECT e.vec_id, s.seed_id,
        |    list_sum(list_transform(list_zip(e.embedding, s.sv),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(s.sv,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
        |  FROM embeddings e CROSS JOIN seeds s),
        |assign AS (
        |  SELECT vec_id, seed_id AS cluster FROM (
        |    SELECT vec_id, seed_id,
        |      row_number() OVER (PARTITION BY vec_id
        |                         ORDER BY sim DESC, seed_id) AS rn
        |    FROM sims) WHERE rn = 1),
        |v AS (
        |  SELECT e.vec_id, e.embedding, a.cluster
        |  FROM embeddings e JOIN assign a USING (vec_id)),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM v a JOIN v b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.3)
        |SELECT v.vec_id, v.cluster, d.vec_id IS NULL AS kept
        |FROM v LEFT JOIN dropped d ON v.vec_id = d.vec_id
        |ORDER BY v.vec_id""".stripMargin),

    // Product-quantization ANN (Ann.pqTopK): corpus compressed to 8
    // codes/vector against 8×16 subspace codebooks, queries scored by
    // LUT lookups (ADC) — the scan side is the codes table, never the
    // raw embeddings. initById + 0 Lloyd rounds makes codebooks, code
    // assignment (tie → larger codeword) and subspace-ascending ADC sums
    // engine-independent, so the DuckDB oracle reproduces ranks exactly
    // (q43's determinism trick applied to PQ).
    QueryDef("q126_ann_pq", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.pqTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
        numSubspaces = 8, codebookSize = 16, lloydIterations = 0,
        initById = true)
        .orderBy("query_id", "rank")
    }, """
      |WITH seed AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, embedding AS cv
      |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id
      |        LIMIT 16)),
      |cb AS MATERIALIZED (
      |  SELECT m.m, s.ci, list_slice(s.cv, m.m*8+1, m.m*8+8) AS cent
      |  FROM seed s CROSS JOIN
      |       (SELECT unnest([0,1,2,3,4,5,6,7]) AS m) m),
      |codes AS MATERIALIZED (
      |  SELECT id, m, ci AS code FROM (
      |    SELECT e.vec_id AS id, c.m, c.ci,
      |      row_number() OVER (PARTITION BY e.vec_id, c.m ORDER BY
      |        list_sum(list_transform(
      |          list_zip(list_slice(e.embedding, c.m*8+1, c.m*8+8), c.cent),
      |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) DESC,
      |        c.ci DESC) AS rn
      |    FROM embeddings e CROSS JOIN cb c) WHERE rn = 1),
      |lut AS MATERIALIZED (
      |  SELECT q.vec_id AS query_id, c.m, c.ci,
      |    list_sum(list_transform(
      |      list_zip(list_slice(q.embedding, c.m*8+1, c.m*8+8), c.cent),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS d
      |  FROM embeddings q CROSS JOIN cb c WHERE q.vec_id < 5),
      |scored AS (
      |  SELECT l.query_id, cd.id, list_sum(list(l.d ORDER BY l.m)) AS score
      |  FROM codes cd JOIN lut l ON l.m = cd.m AND l.ci = cd.code
      |  WHERE cd.id <> l.query_id
      |  GROUP BY l.query_id, cd.id),
      |r AS (
      |  SELECT query_id, id, row_number() OVER (PARTITION BY query_id
      |           ORDER BY score DESC, id ASC) AS rnk
      |  FROM scored)
      |SELECT query_id, id AS neighbor_id, CAST(rnk AS INT) AS rank
      |FROM r WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin),

    // Int8 Gram matrix over absmax-quantized embeddings (the similarity
    // / covariance precompute of an embedding pipeline, in the int8
    // arithmetic a serving stack would use): quantization is a
    // scan-stage array expression, and the d·(d+1)/2 = 2080 cells
    // accumulate in ONE GramUpperTriangleAgg buffer (a 16.6 KB long
    // array per partition, folded with a tight multiply-add loop) —
    // no per-row struct explode, no 41.6M-row hash agg; the only thing
    // that ever moves is P partial buffers. Sums are exact 64-bit
    // (|q|≤127 ⇒ ~5.7e14 rows of headroom per cell).
    QueryDef("q140_int8_gram", (s, dir) => {
      val q = Tables.embeddings(s, dir)
        .select(col("vec_id"), expr(
          "aggregate(embedding, CAST(0.0 AS DOUBLE), " +
            "(m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))").as("maxabs"),
          col("embedding"))
        .filter(col("maxabs") > 0)
        .select(expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0" +
            " / maxabs + 0.5) AS BIGINT))").as("q"))
      q.agg(graft.expressions.GramAggregate.gramUpperTriangle(col("q"))
          .as("cells"))
        .select(explode(col("cells")).as("cell"))
        .select(col("cell.i").as("i"), col("cell.j").as("j"),
          col("cell.g").as("g"))
        .orderBy("i", "j")
    },
      """WITH m AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs + 0.5)
        |         AS BIGINT)) AS q
        |  FROM (SELECT embedding,
        |          list_max(list_transform(embedding,
        |            x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        |        FROM embeddings)
        |  WHERE maxabs > 0)
        |SELECT CAST(u.i AS BIGINT) AS i, CAST(v.j AS BIGINT) AS j,
        |  CAST(sum(q[u.i] * q[v.j]) AS BIGINT) AS g
        |FROM m, UNNEST(generate_series(1, len(q))) AS u(i),
        |        UNNEST(generate_series(1, len(q))) AS v(j)
        |WHERE v.j >= u.i
        |GROUP BY 1, 2 ORDER BY i, j""".stripMargin),

    // Semantic clustering: MULTI-ROUND Lloyd k-means under the oracle
    // gate — the whole loop runs on an integer grid (fixed-point
    // quantize, exact integer L2, grid-rounded centroid means), so
    // round 2's assignment is bit-reproducible in DuckDB. q43's IVF
    // had to ship its oracle with lloydIterations = 0; this is the
    // refined-centroid path done honestly. Corpus never shuffles —
    // assignment maps against k·dim centroid literals; each update is
    // one k·dim-row partial agg.
    QueryDef("q159_kmeans", (s, dir) =>
      KMeans.integerLloydAssign(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 8, rounds = 2, scale = 1000)
        .orderBy("vec_id"),
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |    CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v
        |  FROM embeddings),
        |c0 AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v
        |  FROM q ORDER BY vec_id LIMIT 8),
        |a1 AS (
        |  SELECT vec_id, v, cl FROM (
        |    SELECT q.vec_id, q.v, c.cl,
        |      list_aggregate(list_transform(range(64), i ->
        |        (q.v[i+1] - c.v[i+1]) * (q.v[i+1] - c.v[i+1])), 'sum') AS d2
        |    FROM q, c0 c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY d2, cl) = 1),
        |m1 AS (
        |  SELECT cl, i,
        |    CAST(floor(sum(v[i+1])::DOUBLE / count(*) + 0.5) AS BIGINT) AS m
        |  FROM a1, range(64) t(i) GROUP BY cl, i),
        |c1n AS (SELECT cl, list(m ORDER BY i) AS v FROM m1 GROUP BY cl),
        |c1 AS (SELECT c0.cl, COALESCE(c1n.v, c0.v) AS v
        |       FROM c0 LEFT JOIN c1n USING (cl)),
        |a2 AS (
        |  SELECT vec_id, cl, d2 FROM (
        |    SELECT q.vec_id, c.cl,
        |      list_aggregate(list_transform(range(64), i ->
        |        (q.v[i+1] - c.v[i+1]) * (q.v[i+1] - c.v[i+1])), 'sum') AS d2
        |    FROM q, c1 c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY d2, cl) = 1)
        |SELECT vec_id, CAST(cl AS BIGINT) AS cluster,
        |  CAST(d2 AS BIGINT) AS dist2
        |FROM a2 ORDER BY vec_id""".stripMargin),

    // Dominant principal direction of the embedding Gram matrix:
    // two fixed-point power-iteration rounds, every half-matvec
    // re-normalized to max-abs = 1e6 with truncating integer division
    // (identical in Spark div and DuckDB //) — bit-exact spectral
    // analytics, d-row state, corpus never leaves the two matvec aggs.
    QueryDef("q171_power_iteration", (s, dir) =>
      Spectral.dominantDirection(Tables.embeddings(s, dir),
        "vec_id", "embedding", rounds = 2)
        .select(col("pos").cast("long").as("pos"), col("v"))
        .orderBy("pos"), {
      // Two unrolled power-iteration rounds; // and div both truncate
      // toward zero on integers (measured), so the normalization steps
      // replay exactly.
      val rounds = (1 to 2).map { k =>
        s"""u$k AS (SELECT vid, sum(qx * v) AS u
           |  FROM q JOIN v${k - 1} USING (pos) GROUP BY vid),
           |mu$k AS (SELECT max(abs(u)) AS m FROM u$k),
           |un$k AS (SELECT vid, (u * 1000000) // m AS un FROM u$k, mu$k),
           |w$k AS (SELECT pos, sum(qx * un) AS w
           |  FROM q JOIN un$k USING (vid) GROUP BY pos),
           |mw$k AS (SELECT max(abs(w)) AS m FROM w$k),
           |v$k AS (SELECT pos, (w * 1000000) // m AS v FROM w$k, mw$k)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH q AS (
         |  SELECT vec_id AS vid,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
         |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
         |      AS BIGINT) AS qx
         |  FROM embeddings),
         |v0 AS (SELECT DISTINCT pos, CAST(1000000 AS BIGINT) AS v FROM q),
         |$rounds
         |SELECT pos, CAST(v AS BIGINT) AS v FROM v2 ORDER BY pos""".stripMargin
    }),

    // Embedding drift monitor: per-label mean projection onto the
    // 2-round dominant direction — when a class's mass moves along the
    // corpus's leading axis, this number moves first.
    QueryDef("q172_label_drift", (s, dir) =>
      Spectral.labelProjections(Tables.embeddings(s, dir),
        "vec_id", "embedding", "label", rounds = 2)
        .orderBy("label"), {
      // q171's unrolled iteration plus the projection and label agg.
      val rounds = (1 to 2).map { k =>
        s"""u$k AS (SELECT vid, sum(qx * v) AS u
           |  FROM q JOIN v${k - 1} USING (pos) GROUP BY vid),
           |mu$k AS (SELECT max(abs(u)) AS m FROM u$k),
           |un$k AS (SELECT vid, (u * 1000000) // m AS un FROM u$k, mu$k),
           |w$k AS (SELECT pos, sum(qx * un) AS w
           |  FROM q JOIN un$k USING (vid) GROUP BY pos),
           |mw$k AS (SELECT max(abs(w)) AS m FROM w$k),
           |v$k AS (SELECT pos, (w * 1000000) // m AS v FROM w$k, mw$k)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH q AS (
         |  SELECT vec_id AS vid, CAST(label AS BIGINT) AS label,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
         |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
         |      AS BIGINT) AS qx
         |  FROM embeddings),
         |v0 AS (SELECT DISTINCT pos, CAST(1000000 AS BIGINT) AS v FROM q),
         |$rounds,
         |pr AS (SELECT vid, label, sum(qx * v) AS proj
         |  FROM q JOIN v2 USING (pos) GROUP BY vid, label)
         |SELECT label, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(proj) // count(*) AS BIGINT) AS mean_proj
         |FROM pr GROUP BY label ORDER BY label""".stripMargin
    }),

    // Co-visitation item similarity: binary-incidence cosine² in exact
    // ppm — cos²(a,b) = shared² / (deg_a · deg_b), top-200 via
    // TakeOrdered. The squared cosine avoids sqrt entirely, keeping the
    // ranking integer-exact.
    QueryDef("q184_item_sim", (s, dir) => {
      // ONE order-keyed shuffle (the coOccurrenceEdges discipline,
      // round-16): CollectLongsDistinctCapped dedups AND hub-guards per
      // order inside the groupBy — the old construction paid a (o, p)
      // distinct exchange, an order-keyed window pass and an order-keyed
      // SELF-JOIN for the pair explosion. Pairs now explode map-side
      // over the checkpointed capped groups; the degree table is a
      // second narrow scan of the same groups. Identical qualifying
      // orders (a >8-distinct group collects cap+1 items and is
      // filtered, exactly the old ns <= 8 window test), identical
      // pair counts and degrees — oracle re-proven at all three SFs.
      val grouped = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(graft.expressions.CollectCapped.collectLongsDistinctCapped(
          col("l_partkey").cast("long"), 8).as("items"))
        .filter(size(col("items")) <= 8)
        .localCheckpoint(true)
      val deg = grouped.select(explode(col("items")).as("id"))
        .groupBy("id").agg(count(lit(1)).as("d"))
      val pw = grouped.select(explode(expr(
          "filter(flatten(transform(items, x -> transform(items, " +
            "y -> named_struct('a', x, 'b', y)))), s -> s.a < s.b)"))
          .as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
      pw.join(deg.select(col("id").as("a"), col("d").as("da")), Seq("a"))
        .join(deg.select(col("id").as("b"), col("d").as("db")), Seq("b"))
        .select(col("a"), col("b"), col("w"),
          expr("(w * w * 1000000) div (da * db)").as("cos2_ppm"))
        .orderBy(col("cos2_ppm").desc, col("a"), col("b")).limit(200)
        .orderBy("a", "b")
    },
      """WITH os0 AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |os AS (
        |  SELECT o, p FROM (
        |    SELECT o, p, count(*) OVER (PARTITION BY o) AS ns FROM os0)
        |  WHERE ns <= 8),
        |deg AS (SELECT p AS id, count(*) AS d FROM os GROUP BY p),
        |pw AS (SELECT x.p AS a, y.p AS b, count(*) AS w
        |  FROM os x JOIN os y ON x.o = y.o AND x.p < y.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sc AS (SELECT a, b, CAST(w AS BIGINT) AS w,
        |    CAST((w * w * 1000000) // (da.d * db.d) AS BIGINT) AS cos2_ppm
        |  FROM pw JOIN deg da ON da.id = pw.a JOIN deg db ON db.id = pw.b),
        |top AS (SELECT * FROM sc
        |  ORDER BY cos2_ppm DESC, a, b LIMIT 200)
        |SELECT a, b, w, cos2_ppm FROM top ORDER BY a, b""".stripMargin),

    // Cluster-label purity: q159's integer Lloyd assignment judged
    // against the embedding labels — per-cluster majority share in ppm
    // (deterministic count-desc/label-asc majority tie-break).
    QueryDef("q187_cluster_purity", (s, dir) => {
      val a = KMeans.integerLloydAssign(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 8, rounds = 2, scale = 1000)
      val lab = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"))
      val cl = a.join(lab, Seq("vec_id"))
        .groupBy("cluster", "label").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("cluster")
        .orderBy(col("cnt").desc, col("label"))
      cl.withColumn("rk", row_number().over(w))
        .withColumn("n", sum("cnt").over(Window.partitionBy("cluster")))
        .filter(col("rk") === 1)
        .select(col("cluster"), col("n"),
          col("label").as("top_label"), col("cnt").as("top_n"),
          expr("(cnt * 1000000) div n").as("purity_ppm"))
        .orderBy("cluster")
    },
      // q159's assignment CTEs joined to labels, majority per cluster.
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |    CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v
        |  FROM embeddings),
        |c0 AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v
        |  FROM q ORDER BY vec_id LIMIT 8),
        |a1 AS (
        |  SELECT vec_id, v, cl FROM (
        |    SELECT q.vec_id, q.v, c.cl,
        |      list_aggregate(list_transform(range(64), i ->
        |        (q.v[i+1] - c.v[i+1]) * (q.v[i+1] - c.v[i+1])), 'sum') AS d2
        |    FROM q, c0 c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY d2, cl) = 1),
        |m1 AS (
        |  SELECT cl, i,
        |    CAST(floor(sum(v[i+1])::DOUBLE / count(*) + 0.5) AS BIGINT) AS m
        |  FROM a1, range(64) t(i) GROUP BY cl, i),
        |c1n AS (SELECT cl, list(m ORDER BY i) AS v FROM m1 GROUP BY cl),
        |c1 AS (SELECT c0.cl, COALESCE(c1n.v, c0.v) AS v
        |       FROM c0 LEFT JOIN c1n USING (cl)),
        |a2 AS (
        |  SELECT vec_id, cl FROM (
        |    SELECT q.vec_id, c.cl,
        |      list_aggregate(list_transform(range(64), i ->
        |        (q.v[i+1] - c.v[i+1]) * (q.v[i+1] - c.v[i+1])), 'sum') AS d2
        |    FROM q, c1 c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY d2, cl) = 1),
        |j AS (SELECT a2.cl AS cluster, CAST(e.label AS BIGINT) AS label
        |  FROM a2 JOIN embeddings e USING (vec_id)),
        |g AS (SELECT cluster, label, count(*) AS cnt
        |  FROM j GROUP BY 1, 2),
        |t AS (SELECT cluster, label, cnt,
        |    sum(cnt) OVER (PARTITION BY cluster) AS n,
        |    row_number() OVER (PARTITION BY cluster
        |      ORDER BY cnt DESC, label) AS rk
        |  FROM g)
        |SELECT CAST(cluster AS BIGINT) AS cluster, CAST(n AS BIGINT) AS n,
        |  label AS top_label, CAST(cnt AS BIGINT) AS top_n,
        |  CAST((cnt * 1000000) // n AS BIGINT) AS purity_ppm
        |FROM t WHERE rk = 1 ORDER BY cluster""".stripMargin),

    // Top-2 drift plane: dominant direction + exactly-deflated second
    // direction (Spectral.deflatedDirections — integer deflation, the
    // residual pass in DECIMAL(38,0) ≙ DuckDB HUGEINT, oracle replays
    // both loops round-for-round).
    QueryDef("q197_drift_plane", (s, dir) =>
      Spectral.deflatedDirections(Tables.embeddings(s, dir),
        "vec_id", "embedding", rounds = 2), {
      def loop(pfx: String, src: String, acc: String) = (1 to 2).map { k =>
        val prev = if (k == 1) s"${pfx}0" else s"$pfx${k - 1}"
        s"""${pfx}u$k AS MATERIALIZED (SELECT vid, sum($acc * v) AS u
           |  FROM $src JOIN $prev USING (pos) GROUP BY vid),
           |${pfx}mu$k AS MATERIALIZED (SELECT max(abs(u)) AS m FROM ${pfx}u$k),
           |${pfx}un$k AS MATERIALIZED (SELECT vid, (u * 1000000) // m AS un
           |  FROM ${pfx}u$k, ${pfx}mu$k),
           |${pfx}w$k AS MATERIALIZED (SELECT pos, sum($acc * un) AS w
           |  FROM $src JOIN ${pfx}un$k USING (vid) GROUP BY pos),
           |${pfx}mw$k AS MATERIALIZED (SELECT max(abs(w)) AS m FROM ${pfx}w$k),
           |$pfx$k AS MATERIALIZED (SELECT pos, (w * 1000000) // m AS v
           |  FROM ${pfx}w$k, ${pfx}mw$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS MATERIALIZED (
         |  SELECT vec_id AS vid,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
         |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
         |      AS BIGINT) AS qx
         |  FROM embeddings),
         |a0 AS MATERIALIZED (SELECT DISTINCT pos, CAST(1000000 AS BIGINT) AS v FROM q),
         |${loop("a", "q", "qx")},
         |g AS MATERIALIZED (SELECT sum(v * v) AS g FROM a2),
         |pj AS MATERIALIZED (SELECT vid, sum(qx * v) AS p
         |  FROM q JOIN a2 USING (pos) GROUP BY vid),
         |r AS MATERIALIZED (SELECT q.vid, q.pos,
         |  CAST(qx AS HUGEINT) * g.g - CAST(pj.p AS HUGEINT) * a2.v AS qr
         |  FROM q JOIN pj USING (vid) JOIN a2 USING (pos) CROSS JOIN g),
         |b0 AS MATERIALIZED (SELECT DISTINCT pos, CAST(1000000 AS BIGINT) AS v FROM r),
         |${loop("b", "r", "qr")}
         |SELECT a2.pos, CAST(a2.v AS BIGINT) AS v1, CAST(b2.v AS BIGINT) AS v2
         |FROM a2 JOIN b2 USING (pos) ORDER BY a2.pos""".stripMargin
    }),

    // Label-noise screen: cell-blocked all-kNN over the embedding
    // corpus, per-label neighbor-agreement report (Ann.
    // cellKnnLabelConsistency — IVF-blocked, never all-pairs; float
    // cosine ranks only, agreement math integer ppm). The cell count
    // is DERIVED from the corpus (Ann.resolveCellCount: 2^(bitlen(N)
    // div 2) ≈ √N, logged), not an SF-baked constant — per-cell pair
    // work stays ~N, and the oracle derives the identical count from
    // the identical corpus with the same integer rule.
    QueryDef("q207_knn_label_consistency", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.cellKnnLabelConsistency(emb,
        k = 5, nCentroids = Ann.resolveCellCount(emb))
        .orderBy("label")
    },
      """WITH nc AS (
        |  SELECT 1 << (length(bin(count(*))) // 2) AS n FROM embeddings),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, embedding AS cv
        |  FROM embeddings
        |  QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT n FROM nc)),
        |asg AS (
        |  SELECT id, v, lab, cell FROM (
        |    SELECT e.vec_id AS id, e.embedding AS v,
        |      CAST(e.label AS BIGINT) AS lab, c.ci AS cell,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(e.embedding, c.cv),
        |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(e.embedding,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |           * sqrt(list_sum(list_transform(c.cv,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
        |        c.ci DESC) AS rn
        |    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
        |knn AS (
        |  SELECT qid, qlab, nlab FROM (
        |    SELECT x.id AS qid, x.lab AS qlab, y.lab AS nlab,
        |      row_number() OVER (PARTITION BY x.id ORDER BY
        |        list_sum(list_transform(list_zip(x.v, y.v),
        |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(x.v,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |           * sqrt(list_sum(list_transform(y.v,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
        |        y.id ASC) AS rnk
        |    FROM asg x JOIN asg y ON x.cell = y.cell AND x.id <> y.id)
        |  WHERE rnk <= 5),
        |pv AS (SELECT qid, qlab, count(*) AS kn,
        |    sum(CASE WHEN nlab = qlab THEN 1 ELSE 0 END) AS agree
        |  FROM knn GROUP BY 1, 2)
        |SELECT qlab AS label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum((agree * 1000000) // kn) // count(*) AS BIGINT)
        |    AS avg_agree_ppm,
        |  CAST(sum(CASE WHEN agree * 2 < kn THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_suspect
        |FROM pv GROUP BY 1 ORDER BY label""".stripMargin),

    // Clustering-quality gate: per-cluster simplified silhouette over
    // the q159 integer-Lloyd clustering (KMeans.simplifiedSilhouette —
    // a and b from ONE per-row distance map, k-row rollup).
    QueryDef("q211_cluster_silhouette", (s, dir) =>
      KMeans.simplifiedSilhouette(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 8, rounds = 2, scale = 1000)
        .orderBy("cluster"),
      // q159's two-round integer-Lloyd replay, extended with the
      // silhouette arithmetic over the final centroid set. sc feeds two
      // branches (own, oth) — MATERIALIZED per the q197 CTE lesson.
      """WITH q AS MATERIALIZED (
        |  SELECT vec_id, list_transform(embedding, x ->
        |    CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v
        |  FROM embeddings),
        |c0 AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v
        |  FROM q ORDER BY vec_id LIMIT 8),
        |a1 AS MATERIALIZED (
        |  SELECT vec_id, v, cl FROM (
        |    SELECT q.vec_id, q.v, c.cl,
        |      list_aggregate(list_transform(range(64), i ->
        |        (q.v[i+1] - c.v[i+1]) * (q.v[i+1] - c.v[i+1])), 'sum') AS d2
        |    FROM q, c0 c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY d2, cl) = 1),
        |m1 AS (
        |  SELECT cl, i,
        |    CAST(floor(sum(v[i+1])::DOUBLE / count(*) + 0.5) AS BIGINT) AS m
        |  FROM a1, range(64) t(i) GROUP BY cl, i),
        |c1n AS (SELECT cl, list(m ORDER BY i) AS v FROM m1 GROUP BY cl),
        |c1 AS MATERIALIZED (SELECT c0.cl, COALESCE(c1n.v, c0.v) AS v
        |       FROM c0 LEFT JOIN c1n USING (cl)),
        |sc AS MATERIALIZED (
        |  SELECT q.vec_id, c.cl,
        |    list_aggregate(list_transform(range(64), i ->
        |      (q.v[i+1] - c.v[i+1]) * (q.v[i+1] - c.v[i+1])), 'sum') AS d2
        |  FROM q, c1 c),
        |own AS (SELECT vec_id, cl, d2 AS a FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY d2, cl) = 1),
        |oth AS (SELECT sc.vec_id, min(sc.d2) AS b FROM sc
        |  JOIN own ON sc.vec_id = own.vec_id AND sc.cl <> own.cl
        |  GROUP BY 1),
        |sp AS (SELECT own.cl,
        |    CASE WHEN greatest(a, b) = 0 THEN 0
        |         ELSE ((b - a) * 1000000) // greatest(a, b) END AS sp
        |  FROM own JOIN oth USING (vec_id))
        |SELECT CAST(cl AS BIGINT) AS cluster, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(sp) // count(*) AS BIGINT) AS avg_sil_ppm
        |FROM sp GROUP BY cl ORDER BY cluster""".stripMargin),

    // Persisted ANN index probe (Ann.ivfIndex / ivfProbeIndex) — the
    // embedding-space sibling of q218's signature store: the corpus
    // (vec_id % 10 != 0) is clustered ONCE into a persistable
    // (centroids, cell-assignments) pair; the batch (vec_id % 10 == 0)
    // probes its nProbe closest cells WITHOUT re-clustering, and the
    // store scan is filtered to the probed cells only (IN on the
    // STORED cell column — partition pruning on a cell-partitioned
    // store). Deterministic smallest-id centroids, no Lloyd (q43's
    // oracle discipline: float cosine affects rank only). Both index
    // tables materialized like the real flow (the q218 pattern — they
    // ARE parquet tables a pipeline reads back).
    QueryDef("q230_ivf_index_probe", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val (cent, asg) = Ann.ivfIndex(e.filter(col("vec_id") % 10 =!= 0),
        nCentroids = 8, initById = true)
      Ann.ivfProbeIndex(cent.localCheckpoint(true),
          asg.localCheckpoint(true),
          e.filter(col("vec_id") % 10 === 0), k = 5, nProbe = 2)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    },
      """WITH cent AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, embedding AS cv
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |        WHERE vec_id % 10 <> 0 ORDER BY vec_id LIMIT 8)),
        |asg AS (
        |  SELECT id, v, cell FROM (
        |    SELECT e.vec_id AS id, e.embedding AS v, c.ci AS cell,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(e.embedding, c.cv),
        |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(e.embedding,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |           * sqrt(list_sum(list_transform(c.cv,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
        |        c.ci DESC) AS rn
        |    FROM embeddings e CROSS JOIN cent c WHERE e.vec_id % 10 <> 0)
        |  WHERE rn = 1),
        |prb AS (
        |  SELECT query_id, qv, cell FROM (
        |    SELECT q.vec_id AS query_id, q.embedding AS qv, c.ci AS cell,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.embedding, c.cv),
        |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(q.embedding,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |           * sqrt(list_sum(list_transform(c.cv,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
        |        c.ci DESC) AS rn
        |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id % 10 = 0)
        |  WHERE rn <= 2),
        |cand AS (
        |  SELECT p.query_id, p.qv, a.id, a.v
        |  FROM prb p JOIN asg a USING (cell) WHERE a.id <> p.query_id),
        |scored AS (
        |  SELECT query_id, id, row_number() OVER (PARTITION BY query_id ORDER BY
        |      list_sum(list_transform(list_zip(qv, v),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(qv,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(v,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
        |      id ASC) AS rnk
        |  FROM cand)
        |SELECT query_id, id AS neighbor_id, CAST(rnk AS INT) AS rank
        |FROM scored WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin),

    // Persisted PQ index probe (Ann.pqIndex / pqProbeIndex) — q230's
    // compressed sibling: the corpus (vec_id % 10 != 0) encodes ONCE
    // into the ~32x-smaller codes table; the batch (vec_id % 10 == 0)
    // scores by ADC lookups against the codes STORE — raw corpus
    // embeddings are never re-read or re-encoded. q126's determinism
    // discipline (smallest-id seeds, no Lloyd, tie → larger codeword,
    // subspace-ascending ADC sums); index tables materialized like the
    // real flow (q218 pattern).
    QueryDef("q232_pq_index_probe", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val (cbk, codes) = Ann.pqIndex(e.filter(col("vec_id") % 10 =!= 0),
        numSubspaces = 8, codebookSize = 16, initById = true)
      Ann.pqProbeIndex(cbk.localCheckpoint(true),
          codes.localCheckpoint(true),
          e.filter(col("vec_id") % 10 === 0), k = 5)
        .orderBy("query_id", "rank")
    }, """
      |WITH seed AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, embedding AS cv
      |  FROM (SELECT vec_id, embedding FROM embeddings
      |        WHERE vec_id % 10 <> 0 ORDER BY vec_id LIMIT 16)),
      |cb AS MATERIALIZED (
      |  SELECT m.m, s.ci, list_slice(s.cv, m.m*8+1, m.m*8+8) AS cent
      |  FROM seed s CROSS JOIN
      |       (SELECT unnest([0,1,2,3,4,5,6,7]) AS m) m),
      |codes AS MATERIALIZED (
      |  SELECT id, m, ci AS code FROM (
      |    SELECT e.vec_id AS id, c.m, c.ci,
      |      row_number() OVER (PARTITION BY e.vec_id, c.m ORDER BY
      |        list_sum(list_transform(
      |          list_zip(list_slice(e.embedding, c.m*8+1, c.m*8+8), c.cent),
      |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) DESC,
      |        c.ci DESC) AS rn
      |    FROM embeddings e CROSS JOIN cb c WHERE e.vec_id % 10 <> 0)
      |  WHERE rn = 1),
      |lut AS MATERIALIZED (
      |  SELECT q.vec_id AS query_id, c.m, c.ci,
      |    list_sum(list_transform(
      |      list_zip(list_slice(q.embedding, c.m*8+1, c.m*8+8), c.cent),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS d
      |  FROM embeddings q CROSS JOIN cb c WHERE q.vec_id % 10 = 0),
      |scored AS (
      |  SELECT l.query_id, cd.id, list_sum(list(l.d ORDER BY l.m)) AS score
      |  FROM codes cd JOIN lut l ON l.m = cd.m AND l.ci = cd.code
      |  WHERE cd.id <> l.query_id
      |  GROUP BY l.query_id, cd.id),
      |r AS (
      |  SELECT query_id, id, row_number() OVER (PARTITION BY query_id
      |           ORDER BY score DESC, id ASC) AS rnk
      |  FROM scored)
      |SELECT query_id, id AS neighbor_id, CAST(rnk AS INT) AS rank
      |FROM r WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin),

    // Composed IVF∘PQ probe (Ann.ivfPqIndex / ivfPqProbeIndex) — q230's
    // cell pruning and q232's ADC scoring in ONE store: the batch
    // probes its nProbe closest cells, the codes store is scan-pruned
    // to those cells, and scoring is LUT lookups over the pruned
    // ~32x-narrower codes — candidate work nProbe/nCentroids of q232's,
    // raw embeddings never re-read. Same determinism disciplines as
    // both parents (smallest-id centroids AND seeds, no Lloyd, ties to
    // the larger id, subspace-ascending ADC sums); index tables
    // materialized like the real flow (q218 pattern).
    QueryDef("q233_ivfpq_index_probe", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val (cent, cbk, codes) = Ann.ivfPqIndex(
        e.filter(col("vec_id") % 10 =!= 0), nCentroids = 8,
        numSubspaces = 8, codebookSize = 16, initById = true)
      Ann.ivfPqProbeIndex(cent.localCheckpoint(true),
          cbk.localCheckpoint(true), codes.localCheckpoint(true),
          e.filter(col("vec_id") % 10 === 0), k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    }, """
      |WITH cent AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, embedding AS cv
      |  FROM (SELECT vec_id, embedding FROM embeddings
      |        WHERE vec_id % 10 <> 0 ORDER BY vec_id LIMIT 8)),
      |seed AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, embedding AS cv
      |  FROM (SELECT vec_id, embedding FROM embeddings
      |        WHERE vec_id % 10 <> 0 ORDER BY vec_id LIMIT 16)),
      |cb AS MATERIALIZED (
      |  SELECT m.m, s.ci, list_slice(s.cv, m.m*8+1, m.m*8+8) AS cent
      |  FROM seed s CROSS JOIN
      |       (SELECT unnest([0,1,2,3,4,5,6,7]) AS m) m),
      |asg AS MATERIALIZED (
      |  SELECT id, cell FROM (
      |    SELECT e.vec_id AS id, c.ci AS cell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_sum(list_transform(list_zip(e.embedding, c.cv),
      |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |        / (sqrt(list_sum(list_transform(e.embedding,
      |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |           * sqrt(list_sum(list_transform(c.cv,
      |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
      |        c.ci DESC) AS rn
      |    FROM embeddings e CROSS JOIN cent c WHERE e.vec_id % 10 <> 0)
      |  WHERE rn = 1),
      |codes AS MATERIALIZED (
      |  SELECT id, m, ci AS code FROM (
      |    SELECT e.vec_id AS id, c.m, c.ci,
      |      row_number() OVER (PARTITION BY e.vec_id, c.m ORDER BY
      |        list_sum(list_transform(
      |          list_zip(list_slice(e.embedding, c.m*8+1, c.m*8+8), c.cent),
      |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) DESC,
      |        c.ci DESC) AS rn
      |    FROM embeddings e CROSS JOIN cb c WHERE e.vec_id % 10 <> 0)
      |  WHERE rn = 1),
      |prb AS MATERIALIZED (
      |  SELECT query_id, cell FROM (
      |    SELECT q.vec_id AS query_id, c.ci AS cell,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        list_sum(list_transform(list_zip(q.embedding, c.cv),
      |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |        / (sqrt(list_sum(list_transform(q.embedding,
      |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |           * sqrt(list_sum(list_transform(c.cv,
      |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
      |        c.ci DESC) AS rn
      |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id % 10 = 0)
      |  WHERE rn <= 2),
      |lut AS MATERIALIZED (
      |  SELECT q.vec_id AS query_id, c.m, c.ci,
      |    list_sum(list_transform(
      |      list_zip(list_slice(q.embedding, c.m*8+1, c.m*8+8), c.cent),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS d
      |  FROM embeddings q CROSS JOIN cb c WHERE q.vec_id % 10 = 0),
      |scored AS (
      |  SELECT p.query_id, a.id, list_sum(list(l.d ORDER BY l.m)) AS score
      |  FROM prb p
      |  JOIN asg a USING (cell)
      |  JOIN codes cd ON cd.id = a.id
      |  JOIN lut l ON l.query_id = p.query_id
      |            AND l.m = cd.m AND l.ci = cd.code
      |  WHERE a.id <> p.query_id
      |  GROUP BY p.query_id, a.id),
      |r AS (
      |  SELECT query_id, id, row_number() OVER (PARTITION BY query_id
      |           ORDER BY score DESC, id ASC) AS rnk
      |  FROM scored)
      |SELECT query_id, id AS neighbor_id, CAST(rnk AS INT) AS rank
      |FROM r WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin),

    // Greedy farthest-point (k-center) coreset selection over the
    // embeddings (KMeans.farthestPointSample) — the diversity-sampling
    // primitive: seed = lowest id, then 7 rounds of argmax min-dist²
    // against the selected set (already-selected ids excluded, ties to
    // the lower id), plus the nearest-center census giving the coreset
    // WEIGHTS. The whole greedy loop runs on the q159 fixed-point
    // integer grid (exact integer squared-L2, grid quantize), so an
    // 8-step sequential selection replays bit-exactly as a chained
    // materialized-CTE oracle.
    QueryDef("q235_coreset_fps", (s, dir) =>
      KMeans.farthestPointSample(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 8, scale = 1000)
        .orderBy("ord"),
      // q235's greedy farthest-point replay: the k-step selection is
      // inherently sequential, so the oracle unrolls it as a chained
      // materialized-CTE loop (the q197 deflation discipline — DuckDB
      // inlines plain CTEs and re-expansion goes combinatorial). Each
      // round keeps the RUNNING min-dist² frame (d{i} = LEAST(d{i-1},
      // dist² to the newest center)), equal by construction to the Spark
      // side's min over all selected centers. Built by a string loop —
      // eight near-identical CTE pairs are less reviewable handwritten.
      fpsCtes("") + ",\n" +
        s"""best AS (
           |  SELECT id, ord FROM (
           |    SELECT q.id, sel.ord, ${duckDist2("q.v", "sel.v")} AS dd
           |    FROM q, sel)
           |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY dd, ord) = 1),
           |cnt AS (SELECT ord, count(*) AS n_members FROM best GROUP BY ord)
           |SELECT sel.ord, sel.id AS vec_id, CAST(sel.d AS BIGINT) AS radius2,
           |  COALESCE(cnt.n_members, 0) AS n_members
           |FROM sel LEFT JOIN cnt USING (ord) ORDER BY ord""".stripMargin),

    // Hot-cell split maintenance for the persisted IVF store
    // (Ann.splitHotCells): cells grown past the mean count
    // split in two via deterministic integer 2-means (seed A = lowest
    // id, seed B = farthest member on the fixed-point grid, members
    // move iff strictly closer, grid-rounded mean re-centering);
    // everything else untouched. The census reports every post-split
    // cell with its parent, member count, and quantized-centroid
    // checksum. A cell splits only when provably non-degenerate
    // (max dist² > 0 — seed B always moves), so new ids stay
    // contiguous and the updated store revalidates. Index built with
    // q230's assignment discipline (smallest-id centroids, no Lloyd,
    // cosine ties to the larger cell); both index tables materialized
    // like the real flow (q218 pattern).
    QueryDef("q236_ivf_split_hotcells", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val (cent, asg) = Ann.ivfIndex(e, nCentroids = 8, initById = true)
      val n = e.count()
      val (census, _, _) = Ann.splitHotCells(cent.localCheckpoint(true),
        asg.localCheckpoint(true), maxCellRows = n / 8L)
      census.orderBy("cell")
    },
      """WITH cent AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, embedding AS cv
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |        ORDER BY vec_id LIMIT 8)),
        |asg AS MATERIALIZED (
        |  SELECT id, v, cell FROM (
        |    SELECT e.vec_id AS id, e.embedding AS v, c.ci AS cell,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(e.embedding, c.cv),
        |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(e.embedding,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |           * sqrt(list_sum(list_transform(c.cv,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
        |        c.ci DESC) AS rn
        |    FROM embeddings e CROSS JOIN cent c)
        |  WHERE rn = 1),
        |cnt AS MATERIALIZED (SELECT cell, count(*) AS n FROM asg GROUP BY cell),
        |tot AS (SELECT count(*) AS nn FROM embeddings),
        |hot AS (SELECT cell FROM cnt, tot WHERE n > nn // 8),
        |hm AS MATERIALIZED (
        |  SELECT a.cell, a.id, list_transform(a.v, x ->
        |    CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
        |  FROM asg a JOIN hot USING (cell)),
        |sa AS (SELECT cell, qv AS av FROM hm
        |  QUALIFY row_number() OVER (PARTITION BY cell ORDER BY id) = 1),
        |da AS MATERIALIZED (
        |  SELECT hm.cell, hm.id, hm.qv,
        |    list_aggregate(list_transform(range(64), i ->
        |      (hm.qv[i+1] - sa.av[i+1]) * (hm.qv[i+1] - sa.av[i+1])),
        |      'sum') AS dA
        |  FROM hm JOIN sa USING (cell)),
        |sp AS MATERIALIZED (
        |  SELECT cell, row_number() OVER (ORDER BY cell) - 1 AS j
        |  FROM (SELECT cell FROM da GROUP BY cell HAVING max(dA) > 0)),
        |sb AS (SELECT cell, qv AS bv FROM da JOIN sp USING (cell)
        |  QUALIFY row_number() OVER (PARTITION BY cell
        |    ORDER BY dA DESC, id) = 1),
        |re AS MATERIALIZED (
        |  SELECT da.cell, da.id, da.qv,
        |    CASE WHEN list_aggregate(list_transform(range(64), i ->
        |        (da.qv[i+1] - sb.bv[i+1]) * (da.qv[i+1] - sb.bv[i+1])),
        |        'sum') < da.dA
        |      THEN 8 + sp.j ELSE da.cell END AS newcell
        |  FROM da JOIN sb USING (cell) JOIN sp USING (cell)),
        |hme AS (
        |  SELECT newcell, min(cell) AS parent, i,
        |    CAST(floor(sum(qv[i+1])::DOUBLE / count(*) + 0.5) AS BIGINT) AS m,
        |    count(*) AS c
        |  FROM re, range(64) t(i) GROUP BY newcell, i),
        |hcen AS (
        |  SELECT newcell AS cell, min(parent) AS parent_cell,
        |    max(c) AS n_members, sum(abs(m)) AS chk
        |  FROM hme GROUP BY newcell),
        |cold AS (
        |  SELECT c.ci AS cell, c.ci AS parent_cell,
        |    COALESCE(cnt.n, 0) AS n_members,
        |    list_sum(list_transform(c.cv, x ->
        |      abs(CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)))) AS chk
        |  FROM cent c LEFT JOIN cnt ON cnt.cell = c.ci
        |  WHERE c.ci NOT IN (SELECT cell FROM sp))
        |SELECT CAST(cell AS BIGINT) AS cell,
        |  CAST(parent_cell AS BIGINT) AS parent_cell,
        |  CAST(n_members AS BIGINT) AS n_members,
        |  CAST(chk AS BIGINT) AS centroid_chk
        |FROM (SELECT * FROM cold UNION ALL SELECT * FROM hcen)
        |ORDER BY cell""".stripMargin),

    // Coreset coverage audit (KMeans.coresetCoverage) — the maintenance
    // op of the coreset family: the corpus (vec_id % 10 != 0) selects
    // its 8-center coreset ONCE (materialized like a store, q218
    // pattern, vectors re-joined from the corpus); the batch (vec_id %
    // 10 == 0) is assigned against the center literals without re-
    // running the greedy loop. Radius budget = the coreset's own
    // tightest selection radius; per center: batch members, worst
    // dist², integer mean dist², over-budget count. All fixed-point —
    // the q235 determinism carried through the audit.
    QueryDef("q240_coreset_coverage", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val corpus = e.filter(col("vec_id") % 10 =!= 0)
      val coreset = KMeans.farthestPointSample(corpus, "vec_id",
        "embedding", k = 8).localCheckpoint(true)
      val centers = coreset.join(corpus, Seq("vec_id"))
        .select(col("ord"), col("embedding"))
      val thr = coreset.filter(col("ord") >= 1)
        .agg(min("radius2")).first().getLong(0)
      KMeans.coresetCoverage(centers,
        e.filter(col("vec_id") % 10 === 0), maxRadius2 = thr)
        .orderBy("ord")
    },
      (fpsCtes("WHERE vec_id % 10 <> 0") + ",\n" +
        s"""bq AS (
           |  SELECT vec_id, list_transform(embedding, x ->
           |    CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v
           |  FROM embeddings WHERE vec_id % 10 = 0),
           |ba AS (
           |  SELECT vec_id, ord, dd FROM (
           |    SELECT b.vec_id, sel.ord, ${duckDist2("b.v", "sel.v")} AS dd
           |    FROM bq b, sel)
           |  QUALIFY row_number() OVER (PARTITION BY vec_id
           |    ORDER BY dd, ord) = 1),
           |thr AS (SELECT CAST(min(d) AS BIGINT) AS r FROM sel
           |  WHERE ord >= 1),
           |agg AS (
           |  SELECT ord, count(*) AS n_batch, max(dd) AS max_d2,
           |    sum(dd) // count(*) AS avg_d2,
           |    sum(CASE WHEN dd > thr.r THEN 1 ELSE 0 END) AS n_over
           |  FROM ba, thr GROUP BY ord)
           |SELECT sel.ord, CAST(COALESCE(agg.n_batch, 0) AS BIGINT) AS n_batch,
           |  CAST(COALESCE(agg.max_d2, 0) AS BIGINT) AS max_d2,
           |  CAST(COALESCE(agg.avg_d2, 0) AS BIGINT) AS avg_d2,
           |  CAST(COALESCE(agg.n_over, 0) AS BIGINT) AS n_over
           |FROM sel LEFT JOIN agg USING (ord) ORDER BY sel.ord""".stripMargin)),

    // Coreset extension (KMeans.extendCoreset) — the lifecycle's third
    // op: q240's 8-center coreset (selected on the % 10 != 0 corpus,
    // materialized like a store) is EXTENDED with 4 more centers over
    // the full drifted corpus (batch included) — the greedy loop
    // continues from the stored centers, so existing center ids stay
    // stable and only append rows ship. Output = the 4 new (ord, id,
    // radius2) rows, ord continuing after the store.
    QueryDef("q242_coreset_extend", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val corpus = e.filter(col("vec_id") % 10 =!= 0)
      val coreset = KMeans.farthestPointSample(corpus, "vec_id",
        "embedding", k = 8).localCheckpoint(true)
      val centers = coreset.join(corpus, Seq("vec_id"))
        .select(col("ord"), col("vec_id"), col("embedding"))
      KMeans.extendCoreset(centers, e, "vec_id", "embedding", kAdd = 4)
        .orderBy("ord")
    }, {
      val rounds = (1 to 4).map { i =>
        val notIn = ("SELECT id FROM sel" +:
          (1 until i).map(j => s"SELECT id FROM t$j")).mkString(" UNION ALL ")
        val ecte =
          if (i == 1)
            s"""e1 AS MATERIALIZED (
               |  SELECT id, v, dd AS d FROM (
               |    SELECT id, v, dd,
               |      row_number() OVER (PARTITION BY id ORDER BY dd) AS rn
               |    FROM (SELECT q2.id, q2.v, ${duckDist2("q2.v", "sel.v")}
               |            AS dd FROM q2, sel))
               |  WHERE rn = 1),""".stripMargin
          else
            s"""e$i AS MATERIALIZED (
               |  SELECT p.id, p.v, LEAST(p.d, ${duckDist2("p.v", "t.v")}) AS d
               |  FROM e${i - 1} p, t${i - 1} t),""".stripMargin
        s"""$ecte
           |t$i AS MATERIALIZED (
           |  SELECT id, v, d FROM e$i
           |  WHERE id NOT IN ($notIn)
           |  ORDER BY d DESC, id LIMIT 1),""".stripMargin
      }.mkString("\n")
      val out = (1 to 4).map(i =>
        s"SELECT CAST(${7 + i} AS BIGINT) AS ord, id AS vec_id, " +
          s"CAST(d AS BIGINT) AS radius2 FROM t$i")
        .mkString("\n  UNION ALL ")
      fpsCtes("WHERE vec_id % 10 <> 0") + ",\n" +
        s"""q2 AS MATERIALIZED (
           |  SELECT vec_id AS id, list_transform(embedding, x ->
           |    CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v
           |  FROM embeddings),
           |$rounds
           |ext AS (
           |  $out)
           |SELECT ord, vec_id, radius2 FROM ext ORDER BY ord""".stripMargin
    })
  )
}
