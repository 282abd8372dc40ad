package graft
package queries

import graft.operators._
import graft.functions.TextFunctions
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Dedup and text similarity: exact, MinHash/SimHash, containment, span,
  * winnow and fuzzy-string near-duplicates, and their clusters. */
object DedupQueries {

  /** q218's replay, shared verbatim by q234: the bucket-stats path is
    * purely physical (the hot-cell set is identical whether recomputed
    * or read from the persisted counts), so both keys gate against the
    * same SQL. */
  private val incdedupOracleSql =
    """WITH tk AS (
      |  SELECT doc_id AS id,
      |    string_split_regex(lower(trim(text)), '\s+') AS t0
      |  FROM documents),
      |sets AS (
      |  SELECT id, list_sort(list_distinct(list_transform(
      |    list_transform(generate_series(1, len(t0) - 1),
      |                   i -> t0[i] || ' ' || t0[i+1]),
      |    sh -> ('0x' || substr(md5(sh), 1, 8))::BIGINT % 2147483647))) AS sh
      |  FROM tk),
      |sigs AS (
      |  SELECT id, list_transform(range(64), i ->
      |    list_min(list_transform(sh, h ->
      |      ((((i+1)*1103515245 + 12345) % 2147483646 + 1) * h
      |        + ((i+7)*69069 + 1) % 2147483647) % 2147483647))) AS sig
      |  FROM sets WHERE len(sh) > 0),
      |corp0 AS (
      |  SELECT s.id, r.b, s.sig[2*r.b + 1] AS s1, s.sig[2*r.b + 2] AS s2
      |  FROM sigs s, range(32) r(b) WHERE s.id % 10 <> 0),
      |corp AS (
      |  SELECT id, b, s1, s2 FROM (
      |    SELECT id, b, s1, s2,
      |      count(*) OVER (PARTITION BY b, s1, s2) AS bn
      |    FROM corp0)
      |  WHERE bn <= 64),
      |newb AS (
      |  SELECT s.id, r.b, s.sig[2*r.b + 1] AS s1, s.sig[2*r.b + 2] AS s2
      |  FROM sigs s, range(32) r(b) WHERE s.id % 10 = 0),
      |cand AS (
      |  SELECT DISTINCT n.id AS new_id, c.id AS corpus_id
      |  FROM newb n JOIN corp c USING (b, s1, s2)),
      |est AS (
      |  SELECT cand.new_id, cand.corpus_id,
      |    CAST(len(list_filter(range(64), i -> sa.sig[i+1] = sb.sig[i+1]))
      |      AS DOUBLE) / 64 AS jaccard
      |  FROM cand JOIN sigs sa ON sa.id = cand.new_id
      |            JOIN sigs sb ON sb.id = cand.corpus_id)
      |SELECT new_id, corpus_id, jaccard FROM est WHERE jaccard >= 0.10
      |ORDER BY new_id, corpus_id""".stripMargin

  /** Shared portable MinHash-LSH replay (q28 / q241), through the
    * signature-agreement `est` CTE; pre-stripped — callers concatenate
    * their threshold/rollup suffix. */
  private val minhashPairsCtes: String =
    """WITH tk AS (
      |  SELECT doc_id AS id,
      |    string_split_regex(lower(trim(text)), '\s+') AS t0
      |  FROM documents),
      |sets AS (
      |  SELECT id, list_sort(list_distinct(list_transform(
      |    list_transform(generate_series(1, len(t0) - 1),
      |                   i -> t0[i] || ' ' || t0[i+1]),
      |    sh -> ('0x' || substr(md5(sh), 1, 8))::BIGINT % 2147483647))) AS sh
      |  FROM tk),
      |sigs AS (
      |  SELECT id, list_transform(range(64), i ->
      |    list_min(list_transform(sh, h ->
      |      ((((i+1)*1103515245 + 12345) % 2147483646 + 1) * h
      |        + ((i+7)*69069 + 1) % 2147483647) % 2147483647))) AS sig
      |  FROM sets WHERE len(sh) > 0),
      |banded AS (
      |  SELECT s.id, r.b, s.sig[2*r.b + 1] AS s1, s.sig[2*r.b + 2] AS s2
      |  FROM sigs s, range(32) r(b)),
      |ok AS (
      |  SELECT b, s1, s2 FROM banded GROUP BY b, s1, s2
      |  HAVING count(*) <= 64),
      |pruned AS (SELECT banded.* FROM banded JOIN ok USING (b, s1, s2)),
      |cand AS (
      |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
      |  FROM pruned x JOIN pruned y USING (b, s1, s2) WHERE x.id < y.id),
      |est AS (
      |  SELECT c.id_a, c.id_b,
      |    CAST(len(list_filter(range(64), i -> sa.sig[i+1] = sb.sig[i+1]))
      |      AS DOUBLE) / 64 AS jaccard
      |  FROM cand c JOIN sigs sa ON sa.id = c.id_a
      |              JOIN sigs sb ON sb.id = c.id_b)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // D1 exact dedup groups (keep-min-id survivor rule); byte-exact
    // grouping to match the oracle's GROUP BY raw text.
    QueryDef("q23_dedup_exact", (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text",
        normalize = false)
        .select("keep_id", "n_dups").orderBy("keep_id"),
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin),

    // MinHash+LSH near-duplicate pairs, portable md5-based hash family so
    // banding + signature estimation are reproduced exactly by the DuckDB
    // oracle. Signature-estimate verification: candidate joins carry 64
    // longs, not shingle sets — the scale path for low thresholds.
    QueryDef("q28_minhash_neardup", (s, dir) =>
      Dedup.minHashNearDuplicates(Tables.documents(s, dir), "doc_id", "text",
        shingleSize = 2, numHashes = 64, bands = 32, threshold = 0.10,
        exactVerify = false, portableHash = true)
        .orderBy("id_a", "id_b"),
      // Exact mirror of the portable MinHash-LSH path: md5-31 shingle
      // hashes, affine family hᵢ=(aᵢh+bᵢ) mod 2³¹−1, 32 bands × 2 rows,
      // hot-bucket cap 64, signature-agreement Jaccard estimate ≥ 0.10.
      (minhashPairsCtes + "\n" +
        """SELECT id_a, id_b, jaccard FROM est WHERE jaccard >= 0.10
          |ORDER BY id_a, id_b""".stripMargin)),

    // SimHash 64-bit signatures (portable md5 bit votes, hex output —
    // oracle-checked bit-for-bit).
    QueryDef("q29_simhash", (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        Dedup.simHashHex(col("text")).as("simhash"))
        .orderBy("doc_id"),
      // Exact mirror of the portable SimHash: distinct lowercase tokens,
      // bit j of token = bit (j mod 8) of md5 byte ⌊j/8⌋ (hex chars
      // high-nibble-first), vote ≥ 0 → 1, bytes rendered as lowercase hex.
      """WITH d AS (
        |  SELECT doc_id, list_transform(
        |    list_distinct(string_split_regex(lower(trim(text)), '\s+')),
        |    tkn -> md5(tkn)) AS hs
        |  FROM documents),
        |bits AS (
        |  SELECT doc_id, list_transform(range(64), j ->
        |    CASE WHEN list_sum(list_transform(hs, h ->
        |      CASE WHEN ((strpos('0123456789abcdef',
        |          substr(h, 2*(j//8) + CASE WHEN j%8 < 4 THEN 2 ELSE 1 END, 1)) - 1)
        |          >> (CASE WHEN j%8 < 4 THEN j%8 ELSE j%8 - 4 END)) & 1 = 1
        |      THEN 1 ELSE -1 END)) >= 0 THEN 1 ELSE 0 END) AS b
        |  FROM d)
        |SELECT doc_id, array_to_string(list_transform(range(8), k ->
        |    substr('0123456789abcdef',
        |      1 + b[8*k+5] + 2*b[8*k+6] + 4*b[8*k+7] + 8*b[8*k+8], 1) ||
        |    substr('0123456789abcdef',
        |      1 + b[8*k+1] + 2*b[8*k+2] + 4*b[8*k+3] + 8*b[8*k+4], 1)), '')
        |  AS simhash
        |FROM bits ORDER BY doc_id""".stripMargin),

    // n-gram (2-gram shingle) Jaccard similarity self-join, blocked on
    // (lang, source): low thresholds defeat prefix filtering, so the
    // economical exact plan is tight blocking + per-block quadratic —
    // block sizes stay O(corpus/|lang×source|), pairs never cross blocks.
    QueryDef("q30_jaccard_pairs", (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        blockCols = Seq("lang", "source"), threshold = 0.08, shingleSize = 2)
        .orderBy("id_a", "id_b"),
      """WITH t AS (SELECT doc_id, lang, source,
        |  list_distinct(list_transform(
        |    generate_series(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
        |    i -> string_split_regex(lower(trim(text)), '\s+')[i] || ' ' ||
        |         string_split_regex(lower(trim(text)), '\s+')[i+1])) AS tk
        | FROM documents),
        |j AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.tk, b.tk))) AS jaccard
        | FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.08
        |ORDER BY id_a, id_b""".stripMargin),

    // Near-duplicate clustering: connected components (hash-min label
    // propagation) over the q30 pair graph — every doc mapped to the min
    // doc_id of its duplicate component.
    QueryDef("q48_dup_clusters", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        blockCols = Seq("lang", "source"), threshold = 0.08, shingleSize = 2)
      Dedup.duplicateClusters(docs, "doc_id", pairs)
        .orderBy("doc_id")
    },
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
      tags = Set(QueryDef.WarmAtTargetSf)),

    // Keep-best dedup policy: per exact-content cluster (md5 of the
    // normalized text) keep the longest doc, smallest doc_id on ties —
    // ONE aggregation (min of a (-n_chars, doc_id) struct), O(clusters)
    // shuffle bytes, where the window realization would sort every
    // cluster. The canonical "canonical document" selection.
    QueryDef("q82_keep_best", (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(TextFunctions.md5Fingerprint(col("text")).as("fp"))
        .agg(min(struct((-col("n_chars")).as("neg"), col("doc_id").as("doc_id")))
          .as("m"))
        .select(col("fp"), col("m.doc_id").as("keep_doc_id"),
          (-col("m.neg")).as("n_chars"))
        .orderBy("fp"),
      """SELECT fp, doc_id AS keep_doc_id, n_chars
        |FROM (SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |        AS fp, doc_id, n_chars,
        |        row_number() OVER (
        |          PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |          ORDER BY n_chars DESC, doc_id) AS rn
        |      FROM documents)
        |WHERE rn = 1 ORDER BY fp""".stripMargin),

    // Blocked fuzzy string matching (entity resolution): part names
    // within edit distance 12, candidates generated by a (brand, size)
    // equi-join — the quadratic runs only inside blocks, and the
    // levenshtein evaluates only on candidates. Both engines implement
    // the same integer edit distance → exact oracle.
    QueryDef("q99_fuzzy_match", (s, dir) => {
      val p = Tables.part(s, dir)
        .select("p_partkey", "p_brand", "p_size", "p_name")
      p.as("a").join(p.as("b"),
          col("a.p_brand") === col("b.p_brand") &&
            col("a.p_size") === col("b.p_size") &&
            col("a.p_partkey") < col("b.p_partkey"))
        .select(col("a.p_partkey").as("id_a"), col("b.p_partkey").as("id_b"),
          levenshtein(col("a.p_name"), col("b.p_name")).as("dist"))
        .filter(col("dist") <= 12)
        .orderBy("id_a", "id_b")
    },
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        | AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 12
        |ORDER BY id_a, id_b""".stripMargin),

    // SimHash hamming-radius retrieval: pigeonhole banding (4 bands of
    // 16 bits > radius 3 ⇒ recall 1.0) generates candidates, exact
    // xor-popcount verifies — the radius-k retrieval SimHash exists for,
    // not just exact-band collisions. Portable md5 signatures.
    QueryDef("q102_simhash_radius", (s, dir) =>
      Dedup.simHashNearDuplicates(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 3, bands = 4, maxBucketSize = 1 << 16,
        portableHash = true)
        .orderBy("id_a", "id_b"),
      // q29's signature CTEs + pigeonhole bands (4 hex chars = 16 bits),
      // candidate pairs share a band, exact hamming via half-word
      // xor/bit_count (64-bit hex exceeds signed BIGINT; 32-bit halves
      // don't). CAST: bit_count yields TINYINT, Spark emits BIGINT.
      """WITH d AS (
        |  SELECT doc_id, list_transform(
        |    list_distinct(string_split_regex(lower(trim(text)), '\s+')),
        |    tkn -> md5(tkn)) AS hs
        |  FROM documents),
        |bits AS (
        |  SELECT doc_id, list_transform(range(64), j ->
        |    CASE WHEN list_sum(list_transform(hs, h ->
        |      CASE WHEN ((strpos('0123456789abcdef',
        |          substr(h, 2*(j//8) + CASE WHEN j%8 < 4 THEN 2 ELSE 1 END, 1)) - 1)
        |          >> (CASE WHEN j%8 < 4 THEN j%8 ELSE j%8 - 4 END)) & 1 = 1
        |      THEN 1 ELSE -1 END)) >= 0 THEN 1 ELSE 0 END) AS b
        |  FROM d),
        |sigs AS (
        |  SELECT doc_id AS id, array_to_string(list_transform(range(8), k ->
        |      substr('0123456789abcdef',
        |        1 + b[8*k+5] + 2*b[8*k+6] + 4*b[8*k+7] + 8*b[8*k+8], 1) ||
        |      substr('0123456789abcdef',
        |        1 + b[8*k+1] + 2*b[8*k+2] + 4*b[8*k+3] + 8*b[8*k+4], 1)), '')
        |    AS sig
        |  FROM bits),
        |bnd AS (
        |  SELECT id, bb.band, substr(sig, 4*bb.band + 1, 4) AS bucket
        |  FROM sigs, (SELECT unnest([0,1,2,3]) AS band) bb),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, c.id AS id_b
        |  FROM bnd a JOIN bnd c
        |    ON a.band = c.band AND a.bucket = c.bucket AND a.id < c.id),
        |ham AS (
        |  SELECT c.id_a, c.id_b,
        |    CAST(bit_count(xor(('0x'||substr(sa.sig,1,8))::BIGINT,
        |                       ('0x'||substr(sb.sig,1,8))::BIGINT)) +
        |         bit_count(xor(('0x'||substr(sa.sig,9,8))::BIGINT,
        |                       ('0x'||substr(sb.sig,9,8))::BIGINT)) AS BIGINT)
        |      AS hamming
        |  FROM cand c JOIN sigs sa ON sa.id = c.id_a
        |              JOIN sigs sb ON sb.id = c.id_b)
        |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    // CCNet-style span-level dedup: consecutive 8-token spans, global
    // first-occurrence survivorship, per-doc duplicated-span fraction.
    // Spans shuffle as 16-byte hashes, never text; window groups are
    // duplicate-cluster-sized.
    QueryDef("q107_span_dedup", (s, dir) =>
      Dedup.spanDedup(Tables.documents(s, dir), "doc_id", "text",
        spanTokens = 8)
        .orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents WHERE len(string_split_regex(lower(trim(text)), '\s+')) > 0),
        |s AS (
        |  SELECT doc_id, i AS span_idx,
        |    md5(array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' ')) AS h
        |  FROM t, UNNEST(generate_series(0, (len(toks) + 7) // 8 - 1)) AS u(i)),
        |r AS (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, span_idx) AS rn
        |  FROM s),
        |g AS (
        |  SELECT doc_id, count(*) AS n_spans,
        |    sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept
        |  FROM r GROUP BY doc_id)
        |SELECT doc_id, n_spans, CAST(n_kept AS BIGINT) AS n_kept,
        |  CAST(n_spans - n_kept AS DOUBLE) / CAST(n_spans AS DOUBLE)
        |    AS dup_span_frac
        |FROM g ORDER BY doc_id""".stripMargin),

    // Asymmetric near-dup: n-gram CONTAINMENT |A∩B|/|A| — fires when a
    // short doc is quoted inside a long one, where Jaccard stays near
    // |A|/|B| and misses it. Directed pairs within (lang, source)
    // blocks; merge-scan containment is one codegen'd expression over
    // the cached shingle table.
    QueryDef("q115_containment", (s, dir) =>
      Dedup.ngramContainmentPairs(Tables.documents(s, dir), "doc_id", "text",
        blockCols = Seq("lang", "source"), threshold = 0.5, shingleSize = 2)
        .orderBy("id_a", "id_b"),
      """WITH t AS (SELECT doc_id, lang, source,
        |  list_distinct(list_transform(
        |    generate_series(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
        |    i -> string_split_regex(lower(trim(text)), '\s+')[i] || ' ' ||
        |         string_split_regex(lower(trim(text)), '\s+')[i+1])) AS tk
        | FROM documents),
        |j AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) / len(a.tk)
        |    AS containment
        | FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id <> b.doc_id
        | WHERE len(a.tk) > 0 AND len(b.tk) > 0)
        |SELECT id_a, id_b, containment FROM j WHERE containment >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),

    // Sorted-neighborhood near-dup: sort by (lang, n_chars, doc_id),
    // compare each doc to its 8 successors, verify by exact SimHash
    // hamming. The rank is the distributed prefix sum — no
    // single-partition window anywhere (see Dedup scaladoc).
    QueryDef("q134_sorted_neighborhood", (s, dir) =>
      Dedup.sortedNeighborhoodPairs(Tables.documents(s, dir), "doc_id",
          "text", sortCols = Seq("lang", "n_chars"), windowSize = 8,
          maxHamming = 3)
        .orderBy("id_a", "id_b"),
      """WITH d AS (
        |  SELECT doc_id, list_transform(
        |    list_distinct(string_split_regex(lower(trim(text)), '\s+')),
        |    tkn -> md5(tkn)) AS hs
        |  FROM documents),
        |bits AS (
        |  SELECT doc_id, list_transform(range(64), j ->
        |    CASE WHEN list_sum(list_transform(hs, h ->
        |      CASE WHEN ((strpos('0123456789abcdef',
        |          substr(h, 2*(j//8) + CASE WHEN j%8 < 4 THEN 2 ELSE 1 END, 1)) - 1)
        |          >> (CASE WHEN j%8 < 4 THEN j%8 ELSE j%8 - 4 END)) & 1 = 1
        |      THEN 1 ELSE -1 END)) >= 0 THEN 1 ELSE 0 END) AS b
        |  FROM d),
        |sigs AS (
        |  SELECT doc_id AS id, array_to_string(list_transform(range(8), k ->
        |      substr('0123456789abcdef',
        |        1 + b[8*k+5] + 2*b[8*k+6] + 4*b[8*k+7] + 8*b[8*k+8], 1) ||
        |      substr('0123456789abcdef',
        |        1 + b[8*k+1] + 2*b[8*k+2] + 4*b[8*k+3] + 8*b[8*k+4], 1)), '')
        |    AS sig
        |  FROM bits),
        |r AS (
        |  SELECT s.id, s.sig,
        |    row_number() OVER (ORDER BY m.lang, m.n_chars, m.doc_id) AS rnk
        |  FROM sigs s JOIN documents m ON m.doc_id = s.id),
        |pairs AS (
        |  SELECT a.id AS ia, b.id AS ib,
        |    bit_count(xor(('0x'||substr(a.sig,1,8))::BIGINT,
        |                  ('0x'||substr(b.sig,1,8))::BIGINT)) +
        |    bit_count(xor(('0x'||substr(a.sig,9,8))::BIGINT,
        |                  ('0x'||substr(b.sig,9,8))::BIGINT)) AS hamming
        |  FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 8)
        |SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
        |       CAST(hamming AS BIGINT) AS hamming
        |FROM pairs WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin),

    // Winnowed fingerprints (MOSS): per-doc sliding-window minima over
    // md5-31 gram hashes, rightmost-on-ties — the sub-linear local
    // fingerprinting sketch behind plagiarism / near-clone detection.
    // One doc-keyed window shuffle; everything else is scan-stage.
    QueryDef("q164_winnow", (s, dir) =>
      Corpus.winnowedFingerprints(Tables.documents(s, dir),
        "doc_id", "text", n = 3, w = 4)
        .orderBy("doc_id", "pos"),
      // Winnowing replayed literally: gram hashes via the portable md5-31
      // family, the rightmost-on-ties rule via the same arithmetic key
      // (h·2³² + (2³²−1 − pos), window min ⇒ smallest hash / largest pos).
      """WITH tk AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS t0 FROM documents),
        |gi AS (SELECT doc_id, t0,
        |  unnest(generate_series(1, len(t0) - 2)) AS i
        | FROM tk WHERE len(t0) >= 3),
        |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |  ('0x' || substr(md5(t0[i] || ' ' || t0[i+1] || ' ' || t0[i+2]),
        |    1, 8))::BIGINT % 2147483647 AS h
        | FROM gi),
        |k AS (SELECT doc_id, pos,
        |  min(h * 4294967296 + (4294967295 - pos)) OVER (
        |    PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mk
        | FROM g),
        |sel AS (SELECT DISTINCT doc_id, mk FROM k WHERE pos >= 3)
        |SELECT doc_id, CAST(4294967295 - mk % 4294967296 AS BIGINT) AS pos,
        |  CAST(mk // 4294967296 AS BIGINT) AS fp
        |FROM sel ORDER BY doc_id, pos""".stripMargin),

    // Near-clone candidates from the winnow sketch: pairs sharing ≥ 2
    // fingerprints after dropping stop-fingerprints (df > 8). The fp
    // blocking bounds every bucket at maxDf docs BEFORE the self-join —
    // recall-exact, no silent cap.
    QueryDef("q165_winnow_pairs", (s, dir) =>
      Corpus.winnowedNearClonePairs(Tables.documents(s, dir),
        "doc_id", "text", n = 3, w = 4, minShared = 2, maxDf = 8)
        .orderBy("id_a", "id_b"),
      // q164's winnow pipeline, then the df-filtered fp self-join.
      """WITH tk AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS t0 FROM documents),
        |gi AS (SELECT doc_id, t0,
        |  unnest(generate_series(1, len(t0) - 2)) AS i
        | FROM tk WHERE len(t0) >= 3),
        |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |  ('0x' || substr(md5(t0[i] || ' ' || t0[i+1] || ' ' || t0[i+2]),
        |    1, 8))::BIGINT % 2147483647 AS h
        | FROM gi),
        |kk AS (SELECT doc_id, pos,
        |  min(h * 4294967296 + (4294967295 - pos)) OVER (
        |    PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mk
        | FROM g),
        |fp AS (SELECT DISTINCT doc_id AS id, mk // 4294967296 AS fp
        |  FROM kk WHERE pos >= 3),
        |kept AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 8),
        |bl AS MATERIALIZED (
        |  SELECT f.id, f.fp FROM fp f JOIN kept USING (fp))
        |SELECT x.id AS id_a, y.id AS id_b,
        |  CAST(count(*) AS BIGINT) AS shared
        |FROM bl x JOIN bl y ON x.fp = y.fp AND x.id < y.id
        |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b""".stripMargin),

    // Near-clone CLUSTERS: the q165 winnow candidate pairs closed into
    // connected components (hash-min CC over the measured regime
    // ladder) — the dedup unit a curation pipeline actually deletes by.
    QueryDef("q183_clone_clusters", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Corpus.winnowedNearClonePairs(docs, "doc_id", "text",
        n = 3, w = 4, minShared = 2, maxDf = 8)
      Dedup.duplicateClusters(docs, "doc_id", pairs).orderBy("doc_id")
    },
      // q165's winnow-pair pipeline closed by a recursive reachability
      // CTE (the q48 closure pattern), min id as cluster label.
      """WITH RECURSIVE tk AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS t0 FROM documents),
        |gi AS (SELECT doc_id, t0,
        |  unnest(generate_series(1, len(t0) - 2)) AS i
        | FROM tk WHERE len(t0) >= 3),
        |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |  ('0x' || substr(md5(t0[i] || ' ' || t0[i+1] || ' ' || t0[i+2]),
        |    1, 8))::BIGINT % 2147483647 AS h
        | FROM gi),
        |kk AS (SELECT doc_id, pos,
        |  min(h * 4294967296 + (4294967295 - pos)) OVER (
        |    PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mk
        | FROM g),
        |fp AS (SELECT DISTINCT doc_id AS id, mk // 4294967296 AS fp
        |  FROM kk WHERE pos >= 3),
        |kept AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 8),
        |bl AS MATERIALIZED (
        |  SELECT f.id, f.fp FROM fp f JOIN kept USING (fp)),
        |pr AS (SELECT x.id AS id_a, y.id AS id_b
        |  FROM bl x JOIN bl y ON x.fp = y.fp AND x.id < y.id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
        |  UNION SELECT id_b, id_a FROM pr),
        |reach(id, comp) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id)
        |SELECT id AS doc_id, min(comp) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),

    // Containment-family canonicalization: q115's asymmetric-containment
    // pairs → CC clusters → keep the LONGEST doc per family (the
    // curation rule for quoted-in/extended-by families that symmetric
    // near-dup misses). The keep decision is encoded arithmetically
    // ((1e8 − n_chars)·1e10 + doc_id, one min agg) so the tie-break is
    // total and engine-exact.
    QueryDef("q201_containment_canonical", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramContainmentPairs(docs, "doc_id", "text",
          blockCols = Seq("lang", "source"), threshold = 0.5,
          shingleSize = 2)
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
        .distinct()
      Dedup.duplicateClusters(docs, "doc_id", pairs)
        .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_docs"),
          min((lit(100000000L) - col("n_chars")) * 10000000000L +
            col("doc_id")).as("__k"))
        .select(col("cluster_id"), col("n_docs"),
          expr("__k % 10000000000").as("keep_id"),
          expr("100000000 - __k div 10000000000").as("keep_chars"))
        .orderBy("cluster_id")
    },
      """WITH RECURSIVE t AS MATERIALIZED (SELECT doc_id, lang, source, n_chars,
        |  list_distinct(list_transform(
        |    generate_series(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
        |    i -> string_split_regex(lower(trim(text)), '\s+')[i] || ' ' ||
        |         string_split_regex(lower(trim(text)), '\s+')[i+1])) AS tk
        | FROM documents),
        |j AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id <> b.doc_id
        | WHERE len(a.tk) > 0 AND len(b.tk) > 0
        |   AND CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) / len(a.tk)
        |     >= 0.5),
        |pr AS MATERIALIZED (SELECT DISTINCT least(id_a, id_b) AS id_a,
        |  greatest(id_a, id_b) AS id_b FROM j),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
        |  UNION SELECT id_b, id_a FROM pr),
        |reach(id, comp) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        |cl AS (SELECT id AS doc_id, min(comp) AS cluster_id
        |  FROM reach GROUP BY id)
        |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min((100000000 - n_chars) * 10000000000 + d.doc_id)
        |    % 10000000000 AS BIGINT) AS keep_id,
        |  CAST(100000000 - min((100000000 - n_chars) * 10000000000 + d.doc_id)
        |    // 10000000000 AS BIGINT) AS keep_chars
        |FROM cl JOIN documents d USING (doc_id)
        |GROUP BY cluster_id ORDER BY cluster_id""".stripMargin),

    // Content-defined chunking dedup accounting per source — identical
    // passages chunk identically regardless of offset shifts
    // (Corpus.cdcChunkDedup: cut rule and chunk hash both portable
    // md5-32, one (source, chunk-hash) exchange).
    QueryDef("q206_cdc_chunks", (s, dir) =>
      Corpus.cdcChunkDedup(Tables.documents(s, dir), "source", "text",
        modulus = 16)
        .orderBy("source"),
      """WITH t AS (SELECT source,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |c AS (SELECT source,
        |    list_concat(list_concat([CAST(0 AS BIGINT)],
        |      list_filter(generate_series(CAST(1 AS BIGINT),
        |          CAST(len(toks) AS BIGINT)),
        |        i -> ('0x' || substr(md5(toks[i]), 1, 8))::BIGINT % 16 = 0)),
        |      [CAST(len(toks) AS BIGINT)]) AS cuts, toks
        |  FROM t),
        |ch AS (SELECT source, unnest(list_transform(
        |    generate_series(1, len(cuts) - 1),
        |    j -> array_to_string(toks[cuts[j] + 1 : cuts[j + 1]], ' ')))
        |    AS chunk
        |  FROM c),
        |h AS (SELECT source, ('0x' || substr(md5(chunk), 1, 8))::BIGINT AS h
        |  FROM ch WHERE chunk <> ''),
        |ph AS (SELECT source, h, count(*) AS c FROM h GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_chunks,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST((sum(c) - count(*)) * 1000000 // sum(c) AS BIGINT) AS dup_ppm
        |FROM ph GROUP BY 1 ORDER BY source""".stripMargin),

    // Incremental near-dup against a persisted signature store: the
    // daily-ingest batch (doc_id % 10 = 0) screens against the corpus
    // store (the rest) WITHOUT re-banding the corpus — store scanned
    // once, batch broadcast, agreement computed map-side at match time
    // (Dedup.signatureStore + incrementalNearDuplicates; portable
    // md5-31 family, q28's parameters). The parquet round-trip of the
    // store is IncrementalDedupSpec's job; this gates the join
    // semantics through DuckDB.
    QueryDef("q218_incremental_neardup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // materialized like the real flow (the store IS a parquet table a
      // pipeline reads back): composing build+probe into one lazy plan
      // lets Catalyst's inferred posexplode filters re-derive the whole
      // signing below the scan, 64-pass MinHash x32 per row (measured
      // 11.5 s -> 3 s; see incrementalNearDuplicates' scaladoc)
      val store = Dedup.signatureStore(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
        .localCheckpoint(true)
      Dedup.incrementalNearDuplicates(store,
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          threshold = 0.10)
        .orderBy("new_id", "corpus_id")
    },
      // q28's portable minhash31 replay, split store-vs-batch: candidates
      // = packed r=2 band-slice equality across the split, estimate =
      // agreeing components / 64 (exact in binary).
      incdedupOracleSql),

    // Fuzzy entity resolution end-to-end: collapse to DISTINCT name
    // strings first (fuzzy-match the vocabulary, never the rows),
    // banded edit-distance candidate pairs within first-word blocks
    // (Dedup.blockedEditDistancePairs — pair work Σ block², DP cost
    // O(maxDist·len) via Spark's 3-arg levenshtein), then connected
    // components resolve transitive matches into entities with the
    // canonical (min-id) spelling and member count. q99 is the raw
    // blocked-pair screen; this is the resolution step a
    // record-linkage pipeline runs on top of it.
    QueryDef("q219_fuzzy_er_clusters", (s, dir) => {
      val ents = Tables.part(s, dir)
        .select(concat(col("p_name"), lit(" "), col("p_type")).as("nm"),
          col("p_partkey"))
        .groupBy("nm").agg(min(col("p_partkey")).as("ent_id"))
        .withColumn("blk", split(col("nm"), " ").getItem(0))
        .localCheckpoint(true) // feeds the pair legs AND the node frame
      val pairs = Dedup.blockedEditDistancePairs(
        ents, "ent_id", "nm", Seq("blk"), maxDist = 4)
      Dedup.duplicateClusters(ents.select(col("ent_id")), "ent_id", pairs)
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_entities"))
        .join(ents.select(col("ent_id").as("cluster_id"),
          col("nm").as("canon_nm")), Seq("cluster_id"))
        .orderBy("cluster_id")
    },
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT p_name || ' ' || p_type AS nm, min(p_partkey) AS ent_id
        |  FROM part GROUP BY 1),
        |b AS (SELECT ent_id, nm, string_split(nm, ' ')[1] AS blk FROM e),
        |pr AS MATERIALIZED (
        |  SELECT x.ent_id AS id_a, y.ent_id AS id_b
        |  FROM b x JOIN b y ON x.blk = y.blk AND x.ent_id < y.ent_id
        |  WHERE levenshtein(x.nm, y.nm) BETWEEN 1 AND 4),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
        |  UNION SELECT id_b, id_a FROM pr),
        |reach(id, comp) AS (
        |  SELECT ent_id, ent_id FROM e
        |  UNION
        |  SELECT ed.dst, r.comp FROM reach r JOIN edges ed ON ed.src = r.id),
        |cl AS (SELECT id AS ent_id, min(comp) AS cluster_id
        |  FROM reach GROUP BY id)
        |SELECT cl.cluster_id, CAST(count(*) AS BIGINT) AS n_entities,
        |  min(ce.nm) AS canon_nm
        |FROM cl JOIN e ce ON ce.ent_id = cl.cluster_id
        |GROUP BY 1 ORDER BY cluster_id""".stripMargin),

    // q218's screen with the hot-cell list read from persisted
    // METADATA instead of a store-wide bucket scan per micro-batch
    // (Dedup.bucketCounts / mergeBucketCounts — VERDICT r13 #4): two
    // "append generations" of the store each contribute their own
    // counts, merged additively, exactly how a pipeline maintains the
    // sibling table on append. The stats path is purely physical (the
    // hot set is identical), so the oracle is q218's.
    QueryDef("q234_incdedup_bucketstats", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val store = Dedup.signatureStore(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
        .localCheckpoint(true)
      val stats = Dedup.mergeBucketCounts(
        Dedup.bucketCounts(store.filter(col("id") % 2 === 0)),
        Dedup.bucketCounts(store.filter(col("id") % 2 =!= 0)))
      Dedup.incrementalNearDuplicates(store,
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          threshold = 0.10, bucketStats = Some(stats))
        .orderBy("new_id", "corpus_id")
    }, incdedupOracleSql),

    // Split-leakage audit: near-duplicate pairs (q28's portable
    // MinHash-LSH) whose members land in DIFFERENT train/val/test
    // splits under the stable md5 split (q55) — the eval-contamination
    // check every held-out set needs (a test doc with a near-dup in
    // train inflates the benchmark). One row per unordered split pair
    // with its pair count and a leak flag; cross-split rows > 0 mean
    // dedup must run BEFORE splitting, or splits must be assigned per
    // duplicate CLUSTER, not per doc.
    QueryDef("q241_split_leakage", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minHashNearDuplicates(docs, "doc_id", "text",
        shingleSize = 2, numHashes = 64, bands = 32, threshold = 0.10,
        exactVerify = false, portableHash = true)
      val split = docs.select(col("doc_id"),
        TextFunctions.stableSplit(col("doc_id")).as("split"))
      pairs
        .join(split.select(col("doc_id").as("id_a"),
          col("split").as("sa")), Seq("id_a"))
        .join(split.select(col("doc_id").as("id_b"),
          col("split").as("sb")), Seq("id_b"))
        .select(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"))
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("is_leak",
          (col("split_a") =!= col("split_b")).cast("long"))
        .orderBy("split_a", "split_b")
    },
      (minhashPairsCtes + ",\n" +
        """pairs AS (SELECT id_a, id_b FROM est WHERE jaccard >= 0.10),
          |sp AS (SELECT doc_id,
          |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('d','e')
          |       THEN 'val'
          |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'
          |       THEN 'test' ELSE 'train' END AS split
          |  FROM documents),
          |lab AS (
          |  SELECT least(a.split, b.split) AS split_a,
          |         greatest(a.split, b.split) AS split_b
          |  FROM pairs JOIN sp a ON a.doc_id = pairs.id_a
          |             JOIN sp b ON b.doc_id = pairs.id_b)
          |SELECT split_a, split_b, count(*) AS n_pairs,
          |  CAST(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS BIGINT)
          |    AS is_leak
          |FROM lab GROUP BY split_a, split_b
          |ORDER BY split_a, split_b""".stripMargin))
  )
}
