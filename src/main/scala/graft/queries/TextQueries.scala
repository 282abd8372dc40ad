package graft
package queries

import graft.operators._
import graft.functions.TextFunctions
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis and corpus curation: token statistics, quality and language
  * signals, sampling and mixing, BPE, n-gram models and retrieval scores. */
object TextQueries {

  /** Shared BPE train+encode replay (q139 / q239): tokenize → doc-token
    * counts (`dt`) → vocabulary → 5 greedy merge rounds → per-token
    * subword widths (`widths`). Ends at the `widths` CTE; callers
    * append their own rollup over `dt JOIN widths`. */
  private val bpeEncodeCtes: String = {
    val k = 5
    val rounds = (1 to k).map { i =>
      s"""p$i AS (
         |  SELECT pr, sum(wc) AS c FROM (
         |    SELECT s.wc, s.syms[u.i] || ' ' || s.syms[u.i + 1] AS pr
         |    FROM (SELECT string_split_regex(trim(w), '\\s+') AS syms, wc
         |          FROM w${i - 1}) s,
         |         UNNEST(generate_series(1, len(s.syms) - 1)) AS u(i))
         |  GROUP BY pr),
         |m$i AS (SELECT pr FROM p$i ORDER BY c DESC, pr LIMIT 1),
         |w$i AS (
         |  SELECT tok, replace(w,
         |    ' ' || split_part(pr, ' ', 1) || '  ' ||
         |      split_part(pr, ' ', 2) || ' ',
         |    ' ' || replace(pr, ' ', '') || ' ') AS w, wc
         |  FROM w${i - 1}, m$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT doc_id, u.tok FROM (
       |    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
       |    FROM documents) t, UNNEST(tk) AS u(tok)
       |  WHERE length(u.tok) > 0),
       |dt AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
       |v AS (SELECT tok, count(*) AS wc FROM toks GROUP BY tok),
       |w0 AS (
       |  SELECT tok, ' ' || array_to_string(list_transform(
       |    generate_series(1, length(tok)), i -> substr(tok, i, 1)), '  ')
       |    || ' ' AS w, wc FROM v),
       |$rounds,
       |widths AS (SELECT tok,
       |  CAST(len(string_split_regex(trim(w), '\\s+')) AS BIGINT) AS n_sub
       |  FROM w$k)""".stripMargin
  }

  /** q238's fixed-point log2 over a named BIGINT expression — DuckDB
    * spelling of `Corpus.importanceWeights`' lgS (shiftright ≡ >>). */
  private def duckLg(x: String): String =
    s"((length(bin($x)) - 1) * 1048576 + " +
      s"((($x) << 20) >> (length(bin($x)) - 1)) - 1048576)"

  val defs: Seq[QueryDef] = Seq(
    // Token counting (training-pipeline text op).
    QueryDef("q24_token_stats", (s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        size(array_distinct(TextFunctions.tokens(lower(col("text"))))).as("n_distinct"),
        length(col("text")).as("n_len"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        | CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
        | CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS INT)
        |   AS n_distinct,
        | CAST(length(text) AS INT) AS n_len
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Quality scoring: stopword ratio, mean token length, composite score.
    QueryDef("q25_quality", (s, dir) => {
      val stop = Seq("the", "a", "of", "and", "to")
      Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.stopwordRatio(col("text"), stop).as("stop_ratio"),
        TextFunctions.meanTokenLength(col("text")).as("mean_tok_len"))
        .orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS toks,
        |  string_split_regex(trim(text), '\s+') AS rawtoks
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
        |   / greatest(len(toks), 1) AS stop_ratio,
        | CAST(list_sum(list_transform(rawtoks, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
        |   / greatest(len(rawtoks), 1) AS mean_tok_len
        |FROM t ORDER BY doc_id""".stripMargin),

    // Language-ID heuristic (stopword-marker argmax).
    QueryDef("q26_lang_id", (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.langId(col("text"), Seq(
          "en" -> Seq("the", "a", "of"),
          "de" -> Seq("der", "die", "das"),
          "fr" -> Seq("le", "la", "les"))).as("predicted_lang"))
        .orderBy("doc_id"),
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |h AS (SELECT doc_id,
        |  len(list_filter(toks, x -> x IN ('the','a','of'))) AS h_en,
        |  len(list_filter(toks, x -> x IN ('der','die','das'))) AS h_de,
        |  len(list_filter(toks, x -> x IN ('le','la','les'))) AS h_fr
        | FROM t)
        |SELECT doc_id,
        | CASE WHEN h_fr >= h_en AND h_fr >= h_de THEN 'fr'
        |      WHEN h_en >= h_de THEN 'en' ELSE 'de' END AS predicted_lang
        |FROM h ORDER BY doc_id""".stripMargin),

    // Document fingerprinting (MD5 content hash — cross-engine standard).
    QueryDef("q27_fingerprint", (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.md5Fingerprint(col("text")).as("fp_md5"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        | md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // BPE-ish sub-word token estimate (whitespace + boundary-transition
    // pre-tokenizer heuristic), RE2-portable and oracle-checked.
    QueryDef("q47_subword_count", (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.subwordCount(col("text")).as("n_subwords"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        | CAST(len(string_split_regex(trim(text), '\s+'))
        |   + len(regexp_extract_all(text, '[a-z][A-Z0-9]|[0-9][A-Za-z]')) AS INT)
        |   AS n_subwords,
        | CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Deterministic train/val/test split + per-split stratified counts.
    QueryDef("q55_train_split", (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("split", TextFunctions.stableSplit(col("doc_id")))
        .groupBy("split", "lang").agg(count(lit(1)).as("n"))
        .orderBy("split", "lang"),
      """WITH s AS (SELECT lang,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('d','e')
        |       THEN 'val'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'
        |       THEN 'test' ELSE 'train' END AS split
        | FROM documents)
        |SELECT split, lang, count(*) AS n FROM s
        |GROUP BY split, lang ORDER BY split, lang""".stripMargin),

    // Training-data prep flagship: exact dedup (keep min id) → quality
    // gate (length + stopword incidence) → deterministic split →
    // stratified per-split/lang stats. The whole prep is one lazy plan:
    // dedup's groupBy is the only wide stage before the final count agg.
    QueryDef("q56_training_prep", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // exact dedup via one window over the 128-bit content hash (keep
      // min doc_id): one shuffle on a narrow 16-byte key — the full text
      // is never a shuffle key, and no keep-set join is needed. md5 (not
      // xxhash64): at 1e10 docs a 64-bit key expects collisions (n²/2⁶⁵),
      // a 128-bit one doesn't (n²/2¹²⁹ ≈ 1e-19); adversarial md5
      // collisions would need a within-group byte-compare pass.
      val w = Window.partitionBy(md5(col("text").cast("binary"))).orderBy("doc_id")
      val deduped = docs.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      val stop = Seq("the", "a", "of", "and", "to")
      val gated = deduped
        .withColumn("n_tok", TextFunctions.tokenCount(col("text")))
        .withColumn("stop_ratio", TextFunctions.stopwordRatio(col("text"), stop))
        .filter(col("n_tok") >= 20 && col("stop_ratio") >= 0.02)
      gated.withColumn("split", TextFunctions.stableSplit(col("doc_id")))
        .groupBy("split", "lang").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok").cast("bigint")).cast("bigint").as("n_tokens"))
        .orderBy("split", "lang")
    },
      """WITH keep AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |dd AS (
        |  SELECT d.* FROM documents d
        |  WHERE EXISTS (SELECT 1 FROM keep k WHERE k.doc_id = d.doc_id)),
        |gated AS (
        |  SELECT doc_id, lang,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tok,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
        |      / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1)
        |      AS stop_ratio
        |  FROM dd),
        |split_assigned AS (
        |  SELECT lang, n_tok,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('d','e')
        |         THEN 'val'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'
        |         THEN 'test' ELSE 'train' END AS split
        |  FROM gated WHERE n_tok >= 20 AND stop_ratio >= 0.02)
        |SELECT split, lang, count(*) AS n_docs,
        |  CAST(sum(CAST(n_tok AS BIGINT)) AS BIGINT) AS n_tokens
        |FROM split_assigned GROUP BY split, lang ORDER BY split, lang""".stripMargin),

    // Per-group top-k (window rank): top 3 orders per customer.
    QueryDef("q57_group_topk", (s, dir) =>
      Corpus.topKPerGroup(
        Tables.orders(s, dir).select("o_custkey", "o_orderkey", "o_totalprice"),
        Seq("o_custkey"), Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .orderBy("o_custkey", "rank"),
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rank
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rank""".stripMargin),

    // Vocabulary building: global token frequencies, top-50 with stable
    // tie-break — the map-side-combine shape (shuffle is O(|vocab|)).
    QueryDef("q59_vocab", (s, dir) =>
      Corpus.vocabulary(Tables.documents(s, dir), "text", 50),
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
        |        AS token FROM documents)
        |WHERE token <> '' GROUP BY token
        |ORDER BY n DESC, token LIMIT 50""".stripMargin),

    // Deterministic stratified cap: ≤20 docs per (lang, source) chosen
    // by md5(id) order — reproducible unbiased downsampling.
    QueryDef("q60_stratified_cap", (s, dir) =>
      Corpus.stratifiedCap(
        Tables.documents(s, dir).select("doc_id", "lang", "source"),
        "doc_id", Seq("lang", "source"), cap = 20)
        .orderBy("doc_id"),
      """SELECT doc_id, lang, source
        |FROM (SELECT doc_id, lang, source,
        |        row_number() OVER (PARTITION BY lang, source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |      FROM documents)
        |WHERE rn <= 20 ORDER BY doc_id""".stripMargin),

    // Composite quality score (C4/Gopher-style heuristic stack) with the
    // engine-portable punctuation class; all-double arithmetic in a
    // fixed evaluation order so the oracle matches bit-for-bit.
    QueryDef("q61_quality_score", (s, dir) => {
      val stop = Seq("the", "a", "of", "and", "to")
      val lenScore = least(length(col("text")).cast("double") / lit(200.0), lit(1.0))
      val punct = (length(col("text")) -
          length(regexp_replace(col("text"), "[.,;:!?]", ""))).cast("double") /
        greatest(length(col("text")), lit(1)).cast("double")
      val stopR = TextFunctions.stopwordRatio(col("text"), stop)
      Tables.documents(s, dir).select(col("doc_id"),
        lenScore.as("len_score"), punct.as("punct_ratio"), stopR.as("stop_ratio"),
        least(greatest(
          lenScore * lit(0.4) + (lit(1.0) - punct) * lit(0.3) +
            least(stopR * lit(5.0), lit(1.0)) * lit(0.3),
          lit(0.0)), lit(1.0)).as("quality"))
        .orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id, text,
        |  string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |x AS (SELECT doc_id,
        |  least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) AS len_score,
        |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
        |    AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
        |  CAST(len(list_filter(toks, tk -> tk IN ('the','a','of','and','to')))
        |    AS DOUBLE) / greatest(len(toks), 1) AS stop_ratio
        | FROM t)
        |SELECT doc_id, len_score, punct_ratio, stop_ratio,
        | least(greatest(len_score * 0.4 + (1.0 - punct_ratio) * 0.3 +
        |   least(stop_ratio * 5.0, 1.0) * 0.3, 0.0), 1.0) AS quality
        |FROM x ORDER BY doc_id""".stripMargin),

    // Sequence packing (concat-and-chunk): documents concatenated in
    // deterministic order within each split, cut every 2048 tokens —
    // each doc mapped to its [start_win, end_win] context-window span.
    // One window shuffle per split partition; integer division
    // throughout (no float boundary drift).
    QueryDef("q62_seq_pack", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.stableSplit(col("doc_id")).as("split"),
        TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tok"))
      val w = Window.partitionBy("split").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("doc_id"), col("split"), col("n_tok"),
          expr("(cum - n_tok) div 2048").as("start_win"),
          expr("(cum - 1) div 2048").as("end_win"))
        .orderBy("doc_id")
    },
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) IN ('d','e')
        |       THEN 'val'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) = 'f'
        |       THEN 'test' ELSE 'train' END AS split,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
        | FROM documents),
        |c AS (SELECT doc_id, split, n_tok,
        |  sum(n_tok) OVER (PARTITION BY split ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d)
        |SELECT doc_id, split, n_tok,
        |  CAST((cum - n_tok) // 2048 AS BIGINT) AS start_win,
        |  CAST((cum - 1) // 2048 AS BIGINT) AS end_win
        |FROM c ORDER BY doc_id""".stripMargin),

    // Train/heldout contamination detection via n-gram collision (the
    // standard 13-gram decontamination check, 8-gram at this doc size):
    // a train doc is contaminated iff it shares any 8-token shingle with
    // a val/test doc. Joins carry 31-bit shingle hashes, never text.
    QueryDef("q63_contamination", (s, dir) => {
      val sh = Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.stableSplit(col("doc_id")).as("split"),
        explode(graft.expressions.TextHash.shingleHashes31(col("text"), 8)).as("g"))
      val heldout = sh.filter(col("split") =!= "train").select("g").distinct()
      sh.filter(col("split") === "train")
        .join(heldout, Seq("g"), "left_semi")
        .select("doc_id").distinct().orderBy("doc_id")
    }, {
      val cat = (0 until 8).map(k => if (k == 0) "t0[i]" else s"t0[i+$k]")
        .mkString(" || ' ' || ")
      s"""WITH tk AS (SELECT doc_id,
         |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) IN ('d','e')
         |       THEN 'val'
         |       WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) = 'f'
         |       THEN 'test' ELSE 'train' END AS split,
         |  string_split_regex(lower(trim(text)), '\\s+') AS t0
         | FROM documents),
         |sh AS (SELECT doc_id, split,
         |  unnest(list_distinct(list_transform(generate_series(1, len(t0) - 7),
         |    i -> ('0x' || substr(md5($cat), 1, 8))::BIGINT % 2147483647))) AS g
         | FROM tk)
         |SELECT DISTINCT doc_id FROM sh WHERE split = 'train'
         |  AND g IN (SELECT g FROM sh WHERE split <> 'train')
         |ORDER BY doc_id""".stripMargin
    }),

    // Per-doc distinctive terms: TF-IDF with the rational idf N/df (no
    // transcendental — libm ln differs in the last ulp across engines),
    // top 5 per document, stable tie-break on token.
    QueryDef("q66_tfidf", (s, dir) =>
      Corpus.tfIdfTopK(Tables.documents(s, dir), "doc_id", "text", 5)
        .orderBy("doc_id", "rnk"),
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+'))
        |    AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
        |       WHERE token <> '' GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (SELECT t.doc_id, t.token, t.tf, d.df,
        |    t.tf * (CAST(n.n_docs AS DOUBLE) / d.df) AS score
        |  FROM tf t JOIN dfreq d USING (token) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, token) AS rnk FROM scored)
        |SELECT doc_id, rnk, token, tf, df, score FROM r WHERE rnk <= 5
        |ORDER BY doc_id, rnk""".stripMargin),

    // Deterministic 10% Bernoulli sample by md5(doc_id) — reproducible
    // across engines/reruns/partitionings, no RNG state to seed.
    QueryDef("q69_hash_sample", (s, dir) =>
      Corpus.hashSample(Tables.documents(s, dir), "doc_id", 0.1)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
      """SELECT doc_id, lang, source FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      < 429496729
        |ORDER BY doc_id""".stripMargin),

    // Bigram vocabulary: adjacent-token pairs built by a codegen'd
    // expression at the scan (no self-join on position — that would
    // shuffle the posting table twice; and no HOF transform — lambda
    // expressions are CodegenFallback and drop the stage to interpreted
    // eval), then the same O(|vocab|) partial-agg shuffle as the
    // unigram vocabulary.
    QueryDef("q80_bigrams", (s, dir) =>
      Tables.documents(s, dir)
        .select(graft.expressions.TextHash.adjacentPairs(
          TextFunctions.tokens(lower(trim(col("text"))))).as("pairs"))
        .select(explode(col("pairs")).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(40),
      """WITH t AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT toks[i] || ' ' || toks[i + 1] AS bigram
        |  FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 2)
        |SELECT bigram, count(*) AS n FROM b
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 40""".stripMargin),

    // Gopher-style repetition quality signals, per document: fraction of
    // bigram occurrences consumed by the single most-repeated bigram, and
    // fraction of tokens that are repeats. Two-stage hash aggregation —
    // (doc_id, bigram) counts then per-doc extrema — both partial-agg
    // map-side, so shuffle bytes are O(distinct per-doc bigrams), never
    // O(token occurrences); the bigrams come from the same codegen'd
    // scan-stage expression as q80. Int-valued double division only —
    // cross-engine exact.
    QueryDef("q88_repetition", (s, dir) => {
      val bi = Tables.documents(s, dir)
        .select(col("doc_id"),
          TextFunctions.tokens(lower(trim(col("text")))).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).as("n_tok"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          explode(graft.expressions.TextHash.adjacentPairs(col("toks")))
            .as("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(max("n_tok").as("n_tok"), max("n_distinct").as("n_distinct"),
          count(lit(1)).as("c"))
      bi.groupBy("doc_id").agg(
          (max(col("c")).cast("double") / sum(col("c")).cast("double"))
            .as("top_bigram_frac"),
          ((max(col("n_tok")) - max(col("n_distinct"))).cast("double") /
            max(col("n_tok")).cast("double")).as("rep_token_frac"))
        .orderBy("doc_id")
    },
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, CAST(len(toks) AS INT) AS n_tok,
        |         CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
        |         toks[i] || ' ' || toks[i + 1] AS bigram
        |  FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 2),
        |c AS (
        |  SELECT doc_id, bigram, max(n_tok) AS n_tok,
        |         max(n_distinct) AS n_distinct, count(*) AS c
        |  FROM b GROUP BY doc_id, bigram)
        |SELECT doc_id,
        |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_bigram_frac,
        |  CAST(max(n_tok) - max(n_distinct) AS DOUBLE) / CAST(max(n_tok) AS DOUBLE)
        |    AS rep_token_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Deterministic mixture sampling: per-source Bernoulli rates hit a
    // target corpus mixture (full src0, half src1, quarter src2, eighth
    // everything else) with the same portable md5 uniform as q69 —
    // thresholds are exact driver-side longs, the filter is scan-stage,
    // and the kept set nests monotonically as weights are re-tuned.
    QueryDef("q89_mixture_sample", (s, dir) =>
      Corpus.mixtureSample(Tables.documents(s, dir), "doc_id", "source",
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
        defaultRate = 0.125)
        .groupBy("source").agg(count(lit(1)).as("n"))
        .orderBy("source"),
      """SELECT source, count(*) AS n FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      < CASE source WHEN 'src0' THEN 4294967296
        |                    WHEN 'src1' THEN 2147483648
        |                    WHEN 'src2' THEN 1073741824
        |                    ELSE 536870912 END
        |GROUP BY source ORDER BY source""".stripMargin),

    // Exact-substring duplication signal (the distributed shape of
    // suffix-array train-data dedup): per document, the fraction of its
    // distinct 8-token windows that also occur in ANOTHER document.
    // Two partial-agg shuffles over primitive (gram, doc) longs + one
    // semi join — the gram table is O(corpus tokens) but 16 bytes/row,
    // and nothing ever carries text. Same portable 31-bit md5 gram
    // family as q63, so the whole pipeline is oracle-exact.
    QueryDef("q93_dup_ngram_coverage", (s, dir) => {
      val sh = Tables.documents(s, dir).select(col("doc_id"),
        explode(graft.expressions.TextHash.shingleHashes31(col("text"), 8))
          .as("g"))
      // shingleHashes31 is per-doc distinct, so count(*) counts docs
      val dup = sh.groupBy("g").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).select("g")
      val tot = sh.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val cov = sh.join(dup, Seq("g"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
      tot.join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams").cast("int").as("n_grams"),
          (coalesce(col("n_dup"), lit(0L)).cast("double") /
            col("n_grams").cast("double")).as("dup_frac"))
        .orderBy("doc_id")
    }, {
      val cat = (0 until 8).map(k => if (k == 0) "t0[i]" else s"t0[i+$k]")
        .mkString(" || ' ' || ")
      s"""WITH tk AS (SELECT doc_id,
         |  string_split_regex(lower(trim(text)), '\\s+') AS t0 FROM documents),
         |sh AS (SELECT doc_id,
         |  unnest(list_distinct(list_transform(generate_series(1, len(t0) - 7),
         |    i -> ('0x' || substr(md5($cat), 1, 8))::BIGINT % 2147483647))) AS g
         | FROM tk),
         |dup AS (SELECT g FROM sh GROUP BY g HAVING count(*) >= 2),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id),
         |cov AS (SELECT doc_id, count(*) AS n_dup FROM sh
         |        WHERE g IN (SELECT g FROM dup) GROUP BY doc_id)
         |SELECT t.doc_id, CAST(t.n_grams AS INT) AS n_grams,
         |  CAST(coalesce(c.n_dup, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE)
         |    AS dup_frac
         |FROM tot t LEFT JOIN cov c USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin
    }),

    // Token-balanced shard assignment over the GLOBAL doc order: each
    // document's shard = its starting token offset div 20k. Computed by
    // the distributed prefix sum (range partition → per-partition totals
    // → broadcast offsets → carry pass), NEVER the single-partition
    // window Spark would plan for an unpartitioned running sum — the
    // oracle IS that window spelling, so the gate proves the distributed
    // plan reproduces it exactly.
    QueryDef("q94_shard_assign", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tok"))
      PrefixSum.globalRunningSum(d, "doc_id", "n_tok", "cum")
        .select(col("doc_id"), col("n_tok").cast("int").as("n_tok"),
          expr("(cum - n_tok) div 20000").as("shard"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, CAST(n_tok AS INT) AS n_tok,
        |       CAST((cum - n_tok) // 20000 AS BIGINT) AS shard
        |FROM (SELECT doc_id, n_tok,
        |        sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM (SELECT doc_id,
        |              len(string_split_regex(trim(text), '\s+')) AS n_tok
        |            FROM documents))
        |ORDER BY doc_id""".stripMargin),

    // Overlapping-window document chunking (embedding / RAG prep): each
    // doc explodes into 64-token chunks at stride 48. All row-local —
    // the explode happens in the scan stage, no shuffle until the final
    // determinism sort; chunk counts are ceil((n-64)/48)+1 via the
    // sequence of start offsets. Emits (doc_id, chunk_id, n_tokens).
    QueryDef("q95_chunking", (s, dir) => {
      val win = 64; val stride = 48
      // last start is the largest stride multiple ≤ n-(win-stride)-1 (or
      // 0): any later start would yield a tail chunk fully contained in
      // the previous window — redundant downstream. Empty/whitespace
      // texts are excluded on the text itself (a tokenizer on "" yields
      // [""], n=1 — not a real token).
      Tables.documents(s, dir)
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          size(TextFunctions.tokens(trim(col("text")))).as("n"))
        .select(col("doc_id"), col("n"),
          posexplode(sequence(lit(0),
            greatest(col("n") - lit(win - stride + 1), lit(0)), lit(stride)))
            .as(Seq("chunk_id", "start")))
        .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
          least(lit(win), col("n") - col("start")).cast("int").as("n_tokens"))
        .orderBy("doc_id", "chunk_id")
    },
      """WITH d AS (
        |  SELECT doc_id,
        |         len(string_split_regex(trim(text), '\s+')) AS n
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (
        |  SELECT doc_id, n,
        |         unnest(generate_series(0, greatest(n - 17, 0), 48)) AS start
        |  FROM d)
        |SELECT doc_id, CAST(start // 48 AS INT) AS chunk_id,
        |       CAST(least(64, n - start) AS INT) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),

    // Cross-source contamination matrix: for every source pair, how many
    // distinct 8-grams they share — the curation diagnostic that tells
    // you which corpora overlap before you budget dedup between them.
    // The gram table is distinct (source, gram) pairs (primitive longs);
    // the self-join shuffles on the gram key, counts partial-agg. Same
    // portable gram family as q63/q93 → hash-exact oracle.
    QueryDef("q97_source_overlap", (s, dir) => {
      val sh = Tables.documents(s, dir).select(col("source"),
        explode(graft.expressions.TextHash.shingleHashes31(col("text"), 8))
          .as("g")).distinct()
      sh.as("a").join(sh.as("b"), Seq("g"))
        .filter(col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("source_a", "source_b")
    }, {
      val cat = (0 until 8).map(k => if (k == 0) "t0[i]" else s"t0[i+$k]")
        .mkString(" || ' ' || ")
      s"""WITH tk AS (SELECT source,
         |  string_split_regex(lower(trim(text)), '\\s+') AS t0 FROM documents),
         |sh AS (SELECT DISTINCT source,
         |  unnest(list_distinct(list_transform(generate_series(1, len(t0) - 7),
         |    i -> ('0x' || substr(md5($cat), 1, 8))::BIGINT % 2147483647))) AS g
         | FROM tk)
         |SELECT a.source AS source_a, b.source AS source_b,
         |       count(*) AS n_shared
         |FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    }),

    // Collocation extraction (lift ≥ liftNum/liftDen, exact integer
    // cross-multiplication — the no-log PMI): bigram + unigram partial
    // aggs, vocab-sized broadcasts, corpus never re-shuffles.
    QueryDef("q106_collocations", (s, dir) =>
      Corpus.collocations(Tables.documents(s, dir), "text",
        minPairCount = 3L, liftNum = 13L, liftDen = 10L)
        .orderBy("w1", "w2"),
      """WITH t AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |uni AS (
        |  SELECT u.w FROM t, UNNEST(toks) AS u(w) WHERE u.w <> ''),
        |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
        |n AS (SELECT count(*) AS n_uni FROM uni),
        |bi AS (
        |  SELECT toks[i] AS w1, toks[i + 1] AS w2, count(*) AS c_xy
        |  FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 2
        |  GROUP BY 1, 2
        |  HAVING count(*) >= 3)
        |SELECT w1, w2, c_xy, x.c AS c_x, y.c AS c_y, n_uni
        |FROM bi JOIN uc x ON bi.w1 = x.w JOIN uc y ON bi.w2 = y.w, n
        |WHERE c_xy * n_uni * 10 >= 13 * x.c * y.c
        |ORDER BY w1, w2""".stripMargin),

    // Corpus-frequency fluency proxy (the no-LM perplexity stand-in a
    // curation pipeline uses before an LM is available): per document,
    // the mean corpus frequency of its bigram occurrences. Two
    // partial-agg shuffles (global bigram counts, per-doc sums) + a
    // bigram-keyed join (vocab-sized → broadcast); integer sums with
    // ONE final int-ratio division, so the doubles verify exactly.
    QueryDef("q109_bigram_fluency", (s, dir) => {
      val bi = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.expressions.TextHash.adjacentPairs(
            TextFunctions.tokens(lower(trim(col("text")))))).as("bigram"))
      val freq = bi.groupBy("bigram").agg(count(lit(1)).as("c"))
      bi.join(broadcast(freq), Seq("bigram"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bi"), sum(col("c")).as("freq_sum"))
        .select(col("doc_id"), col("n_bi"), col("freq_sum"),
          (col("freq_sum").cast("double") / col("n_bi").cast("double"))
            .as("fluency"))
        .orderBy("doc_id")
    },
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bigram
        |  FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 2),
        |f AS (SELECT bigram, count(*) AS c FROM b GROUP BY bigram)
        |SELECT doc_id, count(*) AS n_bi,
        |  CAST(sum(c) AS BIGINT) AS freq_sum,
        |  CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS fluency
        |FROM b JOIN f USING (bigram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // First BPE merge-step candidates: within-token adjacent CHARACTER
    // pair counts over the corpus (space never pairs across tokens —
    // the word-boundary discipline of BPE). Scan-stage double explode,
    // one partial-agg shuffle of O(|char-pair vocab|) rows, global
    // top-40 via TakeOrdered.
    QueryDef("q110_bpe_pairs", (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextFunctions.tokens(lower(trim(col("text"))))).as("tok"))
        .filter(length(col("tok")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(40),
      """WITH tok AS (
        |  SELECT u.tok FROM (
        |    SELECT string_split_regex(lower(trim(text)), '\s+') AS toks
        |    FROM documents) t, UNNEST(toks) AS u(tok)
        |  WHERE length(u.tok) >= 2),
        |p AS (
        |  SELECT substr(tok, i, 2) AS pair
        |  FROM tok, UNNEST(generate_series(1, length(tok) - 1)) AS u(i))
        |SELECT pair, count(*) AS n FROM p
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 40""".stripMargin),

    // Length-proportional importance sampling: keep each document with
    // probability n_chars/max(n_chars) — the token-budget downsampling
    // that biases survival toward long documents. All-integer acceptance
    // test (portable md5 uniform), scan-stage filter, one scalar agg
    // broadcast back for the max.
    QueryDef("q112_weighted_sample", (s, dir) =>
      Corpus.weightedSample(Tables.documents(s, dir), "doc_id", "n_chars")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id"),
      """WITH m AS (SELECT max(n_chars) AS mxw FROM documents)
        |SELECT doc_id, source, n_chars FROM documents, m
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |        * CAST(mxw AS BIGINT)
        |      < CAST(n_chars AS BIGINT) * 4294967296
        |ORDER BY doc_id""".stripMargin),

    // Distributed BPE merge training, 5 rounds: the corpus collapses to
    // a vocab-sized (word, count) table in ONE scan, then every round is
    // a narrow pair-count shuffle + a 1-row argmax collect + a map-side
    // literal replace on the double-space symbol encoding (greedy
    // left-to-right merge semantics identical in every engine — the
    // whole loop is oracle-checked). q110 is round-0 candidates only.
    QueryDef("q116_bpe_train", (s, dir) =>
      Bpe.trainMerges(Tables.documents(s, dir), "text", steps = 5)
        .orderBy("step"), {
      val k = 5
      val rounds = (1 to k).map { i =>
        s"""p$i AS (
           |  SELECT pr, sum(wc) AS c FROM (
           |    SELECT s.wc, s.syms[u.i] || ' ' || s.syms[u.i + 1] AS pr
           |    FROM (SELECT string_split_regex(trim(w), '\\s+') AS syms, wc
           |          FROM w${i - 1}) s,
           |         UNNEST(generate_series(1, len(s.syms) - 1)) AS u(i))
           |  GROUP BY pr),
           |m$i AS (SELECT pr, c FROM p$i ORDER BY c DESC, pr LIMIT 1),
           |w$i AS (
           |  SELECT replace(w,
           |    ' ' || split_part(pr, ' ', 1) || '  ' ||
           |      split_part(pr, ' ', 2) || ' ',
           |    ' ' || replace(pr, ' ', '') || ' ') AS w, wc
           |  FROM w${i - 1}, m$i)""".stripMargin
      }.mkString(",\n")
      val union = (1 to k)
        .map(i => s"SELECT $i AS step, pr AS pair, CAST(c AS BIGINT) AS c FROM m$i")
        .mkString("\n  UNION ALL ")
      s"""WITH toks AS (
         |  SELECT u.tok FROM (
         |    SELECT string_split_regex(lower(trim(text)), '\\s+') AS toks
         |    FROM documents) t, UNNEST(toks) AS u(tok)
         |  WHERE length(u.tok) > 0),
         |v AS (SELECT tok, count(*) AS wc FROM toks GROUP BY tok),
         |w0 AS (
         |  SELECT ' ' || array_to_string(list_transform(
         |    generate_series(1, length(tok)), i -> substr(tok, i, 1)), '  ')
         |    || ' ' AS w, wc FROM v),
         |$rounds
         |SELECT * FROM (
         |  $union)
         |ORDER BY step""".stripMargin
    }),

    // Capped inverted index: token → df + top-3 "doc:tf" postings. The
    // cap is a bounded-heap AGGREGATE (O(k) map-side state even for
    // stopword tokens), not a window sort over the hot-token partition;
    // shuffle bytes O(|vocab|·k). df≥5 prunes the long hapax tail.
    QueryDef("q120_inverted_index", (s, dir) =>
      Corpus.invertedIndex(Tables.documents(s, dir), "doc_id", "text",
        k = 3, minDf = 5L)
        .orderBy("token"),
      """WITH tf AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |    FROM documents)
        |  WHERE token <> '' GROUP BY token, doc_id),
        |r AS (
        |  SELECT token, doc_id, tf,
        |    row_number() OVER (PARTITION BY token
        |                       ORDER BY tf DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY token) AS df
        |  FROM tf)
        |SELECT token, df,
        |  string_agg(doc_id || ':' || tf, ',' ORDER BY rn) AS postings
        |FROM r WHERE rn <= 3 AND df >= 5
        |GROUP BY token, df ORDER BY token""".stripMargin),

    // Mixture epoch balancing: per-source token budgets + exact integer
    // repeat factors ("repeat scarce sources until every source matches
    // the largest") — ONE corpus scan, metrics-sized everything after.
    QueryDef("q137_mix_epochs", (s, dir) =>
      Corpus.mixtureEpochs(Tables.documents(s, dir), "source", "text")
        .orderBy("source"),
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split_regex(lower(trim(text)), '\s+')))
        |      AS BIGINT) AS n_toks
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(max(n_toks) AS BIGINT) AS mx,
        |               CAST(sum(n_toks) AS BIGINT) AS tot FROM per)
        |SELECT source, n_docs, n_toks,
        |  CAST((mx + n_toks - 1) // n_toks AS BIGINT) AS repeats,
        |  CAST(n_toks * ((mx + n_toks - 1) // n_toks) AS BIGINT) AS eff_toks,
        |  CAST((n_toks * 1000000) // tot AS BIGINT) AS share_ppm
        |FROM per, tot ORDER BY source""".stripMargin),

    // BPE train-then-encode: learn 5 merges, size every document in
    // subword tokens. The corpus tokenizes once (cached doc-token
    // pairs feed trainer AND encoder); the merge chain itself is
    // oracle-replayed CTE-for-CTE in DuckDB.
    QueryDef("q139_bpe_encode", (s, dir) =>
      Bpe.encodeCounts(Tables.documents(s, dir), "doc_id", "text", steps = 5)
        .orderBy("doc_id"),
      // bpeEncodeCtes is already margin-stripped — concatenate, never
      // re-stripMargin over it (a second strip eats one pipe of a `||`
      // concat continuation line)
      (bpeEncodeCtes + "\n" +
        """SELECT dt.doc_id, CAST(sum(dt.cnt) AS BIGINT) AS n_tokens,
          |  CAST(sum(dt.cnt * widths.n_sub) AS BIGINT) AS n_subwords
          |FROM dt JOIN widths ON dt.tok = widths.tok
          |GROUP BY dt.doc_id ORDER BY doc_id""".stripMargin)),

    // Benchmark decontamination: per-doc 8-gram containment of every
    // non-benchmark document in the src0/src1 "benchmark" gram set —
    // map-side per-doc gram dedup, broadcast benchmark probe, one
    // (doc_id) partial-agg shuffle. Same portable gram family as
    // q97 → hash-exact oracle; flag threshold 20% in integer ppm.
    QueryDef("q147_contamination", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val isBench = col("source").isin("src0", "src1")
      Corpus.benchmarkContamination(
        docs.filter(!isBench), "doc_id", "text",
        docs.filter(isBench), "text",
        shingleSize = 8, thresholdPpm = 200000L)
        .orderBy("doc_id")
    }, {
      val cat = (0 until 8).map(k => if (k == 0) "t0[i]" else s"t0[i+$k]")
        .mkString(" || ' ' || ")
      s"""WITH tk AS (SELECT doc_id, source,
         |  string_split_regex(lower(trim(text)), '\\s+') AS t0 FROM documents),
         |dg AS (SELECT doc_id, source,
         |  unnest(list_distinct(list_transform(generate_series(1, len(t0) - 7),
         |    i -> ('0x' || substr(md5($cat), 1, 8))::BIGINT % 2147483647))) AS g
         | FROM tk),
         |bench AS (SELECT DISTINCT g FROM dg WHERE source IN ('src0', 'src1'))
         |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(count(b.g) AS BIGINT) AS n_hit,
         |  CAST(CASE WHEN count(b.g) * 1000000 >= 200000 * count(*)
         |       THEN 1 ELSE 0 END AS INT) AS contaminated
         |FROM dg d LEFT JOIN bench b ON d.g = b.g
         |WHERE d.source NOT IN ('src0', 'src1')
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
    }),

    // Perplexity-style quality filter: add-one-smoothed bigram LM
    // trained on the corpus itself, every doc scored by its mean
    // transition probability in integer ppm — exact cross-engine
    // arithmetic, no float/log anywhere.
    QueryDef("q161_bigram_lm", (s, dir) =>
      Corpus.bigramLmScore(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 2),
        |db AS (SELECT doc_id, w1, w2, count(*) AS k FROM bi GROUP BY 1, 2, 3),
        |bc AS (SELECT w1, w2, sum(k) AS c_xy FROM db GROUP BY 1, 2),
        |pc AS (SELECT w1, sum(c_xy) AS c_x FROM bc GROUP BY 1),
        |v AS (SELECT count(DISTINCT u.w) AS v
        |      FROM t, UNNEST(toks) AS u(w) WHERE u.w <> ''),
        |s AS (
        |  SELECT db.doc_id, db.k,
        |    (1000000 * (bc.c_xy + 1)) // (pc.c_x + v.v) AS ppm
        |  FROM db JOIN bc USING (w1, w2) JOIN pc USING (w1), v)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_pairs,
        |  CAST(sum(k * ppm) // sum(k) AS BIGINT) AS lm_ppm
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // BM25 lexical retrieval in exact integer ppm (rational plus-one
    // odds-ratio IDF — see Corpus.bm25Scores): one corpus scan, tf via
    // scan-stage filter() expressions, 1-row broadcast stats join; the
    // only exchange is the single-row stats agg.
    QueryDef("q168_bm25", (s, dir) =>
      Corpus.bm25Scores(Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "merge", "window"))
        .orderBy("doc_id"), {
      // BM25 integer-ppm arithmetic replayed term by term (k1=1.2, b=0.75
      // in milli units; every division is integer floor).
      val terms = Seq("spark", "merge", "window")
      val tf = terms.zipWithIndex.map { case (t, i) =>
        s"len(list_filter(t0, x -> x = '$t')) AS tf$i" }.mkString(",\n|  ")
      val dfs = terms.indices.map(i =>
        s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
      val contrib = terms.indices.map(i =>
        s"""CASE WHEN tf$i > 0 THEN
           |   (((1000000 * (n - df$i + 1)) // (df$i + 1)) *
           |    ((tf$i * 2200 * 1000000000) //
           |     (tf$i * 1000000 + 1200 * nm))) // 1000000
           | ELSE 0 END""".stripMargin).mkString(" +\n|")
      s"""WITH tk AS (SELECT doc_id,
         |  string_split_regex(lower(trim(text)), '\\s+') AS t0 FROM documents),
         |d AS (SELECT doc_id, CAST(len(t0) AS BIGINT) AS len,
         |  $tf
         | FROM tk),
         |st AS (SELECT count(*) AS n, sum(len) // count(*) AS avglen,
         |  $dfs FROM d),
         |sc AS (SELECT doc_id, len, tf0, tf1, tf2, n, df0, df1, df2,
         |  250 + (750 * len) // avglen AS nm FROM d, st)
         |SELECT doc_id, CAST($contrib AS BIGINT) AS score_ppm
         |FROM sc WHERE tf0 + tf1 + tf2 > 0 ORDER BY doc_id""".stripMargin
    }),

    // Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    // ranking (q168) and the bigram-LM fluency ranking (q161), top-100
    // each. Both candidate lists reduce via TakeOrdered top-k — the
    // fusion join touches <= 200 rows regardless of corpus size.
    QueryDef("q169_rrf_fusion", (s, dir) => {
      val lex = Corpus.bm25Scores(Tables.documents(s, dir), "doc_id",
          "text", Seq("spark", "merge", "window"))
        .select(col("doc_id").as("id"), col("score_ppm").as("score"))
      val lm = Corpus.bigramLmScore(Tables.documents(s, dir), "doc_id",
          "text")
        .select(col("doc_id").as("id"), col("lm_ppm").as("score"))
      Corpus.rrfFuse(Seq(lex, lm), kRrf = 60L, topK = 100)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
      // RRF over the q168 BM25 ranking and the q161 LM ranking: both CTE
      // pipelines inlined, row_number with id tie-break, top-100 cut,
      // 1e6/(60+rank) integer contributions.
      """WITH tk AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS t0 FROM documents),
        |d AS (SELECT doc_id, CAST(len(t0) AS BIGINT) AS len,
        |  len(list_filter(t0, x -> x = 'spark')) AS tf0,
        |  len(list_filter(t0, x -> x = 'merge')) AS tf1,
        |  len(list_filter(t0, x -> x = 'window')) AS tf2
        | FROM tk),
        |st AS (SELECT count(*) AS n, sum(len) // count(*) AS avglen,
        |  sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |  sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |  sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2 FROM d),
        |sc AS (SELECT doc_id, len, tf0, tf1, tf2, n, df0, df1, df2,
        |  250 + (750 * len) // avglen AS nm FROM d, st),
        |bm AS (SELECT doc_id,
        |  CASE WHEN tf0 > 0 THEN
        |   (((1000000 * (n - df0 + 1)) // (df0 + 1)) *
        |    ((tf0 * 2200 * 1000000000) //
        |     (tf0 * 1000000 + 1200 * nm))) // 1000000 ELSE 0 END +
        |  CASE WHEN tf1 > 0 THEN
        |   (((1000000 * (n - df1 + 1)) // (df1 + 1)) *
        |    ((tf1 * 2200 * 1000000000) //
        |     (tf1 * 1000000 + 1200 * nm))) // 1000000 ELSE 0 END +
        |  CASE WHEN tf2 > 0 THEN
        |   (((1000000 * (n - df2 + 1)) // (df2 + 1)) *
        |    ((tf2 * 2200 * 1000000000) //
        |     (tf2 * 1000000 + 1200 * nm))) // 1000000 ELSE 0 END
        |  AS score_ppm
        | FROM sc WHERE tf0 + tf1 + tf2 > 0),
        |t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 2),
        |db AS (SELECT doc_id, w1, w2, count(*) AS k FROM bi GROUP BY 1, 2, 3),
        |bc AS (SELECT w1, w2, sum(k) AS c_xy FROM db GROUP BY 1, 2),
        |pc AS (SELECT w1, sum(c_xy) AS c_x FROM bc GROUP BY 1),
        |v AS (SELECT count(DISTINCT u.w) AS v
        |      FROM t, UNNEST(toks) AS u(w) WHERE u.w <> ''),
        |s AS (
        |  SELECT db.doc_id, db.k,
        |    (1000000 * (bc.c_xy + 1)) // (pc.c_x + v.v) AS ppm
        |  FROM db JOIN bc USING (w1, w2) JOIN pc USING (w1), v),
        |lm AS (SELECT doc_id, sum(k * ppm) // sum(k) AS lm_ppm
        |  FROM s GROUP BY doc_id),
        |ra AS (SELECT doc_id AS id, row_number()
        |    OVER (ORDER BY score_ppm DESC, doc_id) AS rank0
        |  FROM bm QUALIFY rank0 <= 100),
        |rb AS (SELECT doc_id AS id, row_number()
        |    OVER (ORDER BY lm_ppm DESC, doc_id) AS rank1
        |  FROM lm QUALIFY rank1 <= 100)
        |SELECT COALESCE(ra.id, rb.id) AS doc_id,
        |  CAST(COALESCE(rank0, 0) AS BIGINT) AS rank0,
        |  CAST(COALESCE(rank1, 0) AS BIGINT) AS rank1,
        |  CAST(COALESCE(1000000 // (60 + rank0), 0)
        |     + COALESCE(1000000 // (60 + rank1), 0) AS BIGINT) AS rrf_ppm
        |FROM ra FULL OUTER JOIN rb ON ra.id = rb.id
        |ORDER BY doc_id""".stripMargin),

    // Vocabulary-free featurization: signed feature hashing into 64
    // bins (portable md5 bin + sign), the linear-probe input that needs
    // no vocab table and no OOV handling.
    QueryDef("q173_feature_hash", (s, dir) =>
      Corpus.hashedBagOfWords(Tables.documents(s, dir), "doc_id", "text",
        bins = 64)
        .orderBy("doc_id", "bin"),
      // Signed feature hashing: md5-31 bin, independent md5-nibble sign.
      """WITH tk AS (SELECT doc_id,
        |  unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        | FROM documents)
        |SELECT doc_id,
        |  ('0x' || substr(md5(tok), 1, 8))::BIGINT % 2147483647 % 64 AS bin,
        |  CAST(sum(1 - 2 * (('0x' || substr(md5(tok), 9, 1))::BIGINT % 2))
        |    AS BIGINT) AS v
        |FROM tk WHERE tok <> ''
        |GROUP BY doc_id, bin ORDER BY doc_id, bin""".stripMargin),

    // Corpus originality: fraction of a doc's distinct 3-gram hashes
    // that appear in NO other document (df = 1) — the inverse of q147's
    // contamination. Gram df is one gram-keyed agg; the doc score is a
    // doc-keyed agg over the df join (the TF-IDF shuffle shape).
    QueryDef("q180_originality", (s, dir) => {
      val dg = Tables.documents(s, dir)
        .select(col("doc_id"),
          TextFunctions.tokens(lower(trim(col("text")))).as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(0, size(toks) - 3)," +
            " i -> CAST(conv(substring(md5(concat_ws(' '," +
            " slice(toks, i + 1, 3))), 1, 8), 16, 10) AS BIGINT)" +
            " % 2147483647))")).as("g"))
      val df = dg.groupBy("g").agg(count(lit(1)).as("df"))
      dg.join(df, Seq("g"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
        .select(col("doc_id"), col("n_grams"), col("n_unique"),
          expr("(n_unique * 1000000) div n_grams").as("originality_ppm"))
        .orderBy("doc_id")
    }, {
      val cat = (0 until 3).map(k => if (k == 0) "t0[i]" else s"t0[i+$k]")
        .mkString(" || ' ' || ")
      s"""WITH tk AS (SELECT doc_id,
         |  string_split_regex(lower(trim(text)), '\\s+') AS t0 FROM documents),
         |dg AS (SELECT doc_id,
         |  unnest(list_distinct(list_transform(generate_series(1, len(t0) - 2),
         |    i -> ('0x' || substr(md5($cat), 1, 8))::BIGINT % 2147483647)))
         |    AS g
         | FROM tk WHERE len(t0) >= 3),
         |df AS (SELECT g, count(*) AS df FROM dg GROUP BY g)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unique,
         |  CAST((sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000)
         |    // count(*) AS BIGINT) AS originality_ppm
         |FROM dg JOIN df USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),

    // Dataset card: the one-row corpus summary a data release ships
    // with. Each count(DISTINCT) lives in its OWN single-row aggregate
    // crossJoined together — never several distincts in one Aggregate
    // (the q105 Expand lesson: Catalyst would replicate every input row
    // once per distinct).
    QueryDef("q188_dataset_card", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("lang"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("tok"),
        md5(col("text")).as("h"))
      d.agg(count(lit(1)).as("n_docs"), sum("tok").as("total_tokens"))
        .crossJoin(d.agg(countDistinct("lang").as("n_langs")))
        .crossJoin(d.agg(countDistinct("source").as("n_sources")))
        .crossJoin(d.agg((count(lit(1)) - countDistinct("h"))
          .as("redundant_docs")))
    },
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
        |  (SELECT CAST(sum(len(string_split_regex(trim(text), '\s+')))
        |     AS BIGINT) FROM documents) AS total_tokens,
        |  (SELECT CAST(count(DISTINCT lang) AS BIGINT) FROM documents)
        |    AS n_langs,
        |  (SELECT CAST(count(DISTINCT source) AS BIGINT) FROM documents)
        |    AS n_sources,
        |  (SELECT CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
        |     FROM documents) AS redundant_docs""".stripMargin),

    // Lexical diversity: per-doc Gini impurity of the token
    // distribution in exact ppm (1e6 = every token distinct, 0 = one
    // token repeated) — the q88 repetition score's distribution-shaped
    // sibling. Shares are ppm floors, so the contract is integer-exact.
    QueryDef("q189_token_gini", (s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextFunctions.tokens(lower(trim(col("text"))))).as("t"))
        .filter(col("t") =!= "")
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      tf.withColumn("n", sum("c").over(Window.partitionBy("doc_id")))
        .withColumn("share", expr("(c * 1000000) div n"))
        .groupBy("doc_id")
        .agg(max("n").as("n_tokens"), count(lit(1)).as("n_types"),
          (lit(1000000L) - sum(expr("(share * share) div 1000000")))
            .as("gini_ppm"))
        .orderBy("doc_id")
    },
      """WITH tk AS (SELECT doc_id,
        |  unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
        | FROM documents),
        |tf AS (SELECT doc_id, t, count(*) AS c FROM tk
        |  WHERE t <> '' GROUP BY 1, 2),
        |sh AS (SELECT doc_id, c,
        |  sum(c) OVER (PARTITION BY doc_id) AS n FROM tf)
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(1000000 - sum((((c * 1000000) // n) * ((c * 1000000) // n))
        |    // 1000000) AS BIGINT) AS gini_ppm
        |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // First-seen bigram novelty curve per 50-doc ingest bucket — the
    // marginal-value telemetry that gates further ingestion from a
    // source (Corpus.ngramNovelty: map-side gram dedup, partial-agg
    // first-seen — no gram-keyed window, so df-skewed stopword grams
    // collapse map-side — then two bucket-sized aggs joined).
    QueryDef("q193_ngram_novelty", (s, dir) =>
      Corpus.ngramNovelty(Tables.documents(s, dir), "doc_id", "text",
        shingleSize = 2, bucketSize = 50L),
      """WITH tk AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS t0 FROM documents),
        |dg AS (SELECT doc_id,
        |  unnest(list_distinct(list_transform(generate_series(1, len(t0) - 1),
        |    i -> ('0x' || substr(md5(t0[i] || ' ' || t0[i+1]), 1, 8))::BIGINT
        |      % 2147483647))) AS g
        | FROM tk),
        |fs AS (SELECT doc_id, g,
        |  min(doc_id) OVER (PARTITION BY g) AS first_id FROM dg)
        |SELECT doc_id // 50 AS bucket, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new,
        |  CAST((sum(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END) * 1000000)
        |    // count(*) AS BIGINT) AS novelty_ppm
        |FROM fs GROUP BY 1 ORDER BY bucket""".stripMargin),

    // Greedy quality-ordered budget mix: spend half the corpus's token
    // budget on the highest-avg-quality sources first — the mixture
    // planning step in front of q89's mixture sampler. Source-count-
    // sized window, integer ppm allocation.
    QueryDef("q202_budget_mix", (s, dir) => {
      val agg = Tables.documents(s, dir)
        .select(col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("tok"),
          col("n_chars"))
        .groupBy("source")
        .agg(sum(col("tok")).as("toks"),
          expr("sum(n_chars) div count(1)").as("avg_chars"))
        // feeds the budget agg AND the allocation window — materialize
        // the source-count-sized frame once (shared-branch rule)
        .localCheckpoint(true)
      val w = Window.orderBy(col("avg_chars").desc, col("source"))
      agg.crossJoin(broadcast(
          agg.agg(expr("sum(toks) div 2").as("budget"))))
        .withColumn("cum", sum(col("toks")).over(w))
        .select(col("source"), col("toks"), col("avg_chars"),
          greatest(lit(0L), least(col("toks"),
            col("budget") - (col("cum") - col("toks")))).as("alloc"))
        .withColumn("alloc_ppm", expr("(alloc * 1000000) div toks"))
        .orderBy("source")
    },
      """WITH s AS (SELECT source,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |    AS toks,
        |  sum(n_chars) // count(*) AS avg_chars
        | FROM documents GROUP BY 1),
        |b AS (SELECT sum(toks) // 2 AS budget FROM s),
        |c AS (SELECT source, toks, avg_chars,
        |  sum(toks) OVER (ORDER BY avg_chars DESC, source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM s)
        |SELECT source, toks, CAST(avg_chars AS BIGINT) AS avg_chars,
        |  CAST(greatest(0, least(toks, budget - (cum - toks))) AS BIGINT)
        |    AS alloc,
        |  CAST((greatest(0, least(toks, budget - (cum - toks))) * 1000000)
        |    // toks AS BIGINT) AS alloc_ppm
        |FROM c CROSS JOIN b ORDER BY source""".stripMargin),

    // Exact total-variation token-mix drift per source vs the whole
    // corpus — the integer-exact sibling of KL composition drift
    // (Corpus.tokenMixDrift: one (source, token) agg checkpointed for
    // three branches, dense grid incl. absent tokens, DECIMAL(38,0)).
    QueryDef("q203_tv_drift", (s, dir) =>
      Corpus.tokenMixDrift(Tables.documents(s, dir), "source", "text")
        .orderBy("source"),
      """WITH tk AS (SELECT source AS s,
        |  unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
        | FROM documents WHERE source IS NOT NULL),
        |cnt AS (SELECT s, t, count(*) AS c FROM tk
        |  WHERE t <> '' GROUP BY 1, 2),
        |tt AS (SELECT t, sum(c) AS ct FROM cnt GROUP BY 1),
        |st AS (SELECT s, sum(c) AS ns FROM cnt GROUP BY 1),
        |m AS (SELECT CAST(sum(ct) AS HUGEINT) AS n FROM tt),
        |grid AS (SELECT st.s, st.ns, tt.ct, coalesce(cnt.c, 0) AS c
        |  FROM tt CROSS JOIN st
        |  LEFT JOIN cnt ON cnt.t = tt.t AND cnt.s = st.s)
        |SELECT s AS source, CAST(max(ns) AS BIGINT) AS n_tokens,
        |  CAST((sum(abs(CAST(c AS HUGEINT) * m.n - CAST(ct AS HUGEINT) * ns))
        |    * 1000000) // (2 * max(CAST(ns AS HUGEINT) * m.n)) AS BIGINT)
        |    AS tv_ppm
        |FROM grid CROSS JOIN m GROUP BY s ORDER BY source""".stripMargin),

    // Sentence-df boilerplate screen per source — the C4-style template
    // cleaning report (Corpus.boilerplate: one (doc, sentence-hash)
    // exchange checkpointed for the df and ratio branches). The
    // synthetic corpus is template-free (max sentence df = 2), so a
    // deterministic footer is stamped on every third doc — the q196
    // injection discipline: exercise the flag-and-ratio path at every
    // SF instead of asserting on an all-zeros column.
    QueryDef("q205_boilerplate", (s, dir) =>
      Corpus.boilerplate(
        Tables.documents(s, dir).withColumn("text",
          when(col("doc_id") % 3 === 0,
            concat(col("text"),
              lit(". Subscribe to our newsletter for updates.")))
            .otherwise(col("text"))),
        "doc_id", "source", "text", minDf = 5L)
        .orderBy("source"),
      """WITH d AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 3 = 0 THEN text ||
        |      '. Subscribe to our newsletter for updates.' ELSE text END
        |      AS text FROM documents),
        |sn AS (SELECT doc_id, source, trim(s) AS s FROM
        |    (SELECT doc_id, source,
        |       unnest(string_split_regex(text, '[.!?]+')) AS s
        |     FROM d)),
        |pdh AS (SELECT doc_id, source,
        |    ('0x' || substr(md5(s), 1, 8))::BIGINT AS h,
        |    sum(len(s)) AS chars
        |  FROM sn WHERE s <> '' GROUP BY 1, 2, 3),
        |fl AS (SELECT h FROM
        |    (SELECT h, count(*) AS df FROM pdh GROUP BY 1) WHERE df >= 5),
        |pd AS (SELECT doc_id, source, sum(chars) AS tot,
        |    sum(CASE WHEN h IN (SELECT h FROM fl) THEN chars ELSE 0 END)
        |      AS boiler
        |  FROM pdh GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tot) AS BIGINT) AS total_chars,
        |  CAST(sum(boiler) AS BIGINT) AS boiler_chars,
        |  CAST(sum(CASE WHEN boiler * 2 > tot THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_mostly_boiler,
        |  CAST((sum(boiler) * 1000000) // sum(tot) AS BIGINT) AS boiler_ppm
        |FROM pd GROUP BY source ORDER BY source""".stripMargin),

    // Deterministic 80/10/10 train/val/test split manifest: assignment
    // = portable md5-32 of the doc id reduced to ppm, so the split is
    // reproducible from the id alone (no RNG, no state — re-running
    // the pipeline or adding documents never reshuffles existing
    // assignments); per (source, split): docs and whitespace tokens.
    // Scan-stage hash + one grouped agg.
    QueryDef("q214_split_manifest", (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("__p",
          conv(substring(md5(col("doc_id").cast("string").cast("binary")),
            1, 8), 16, 10).cast("long") % 1000000L)
        .withColumn("split",
          when(col("__p") < 800000L, "train")
            .when(col("__p") < 900000L, "val").otherwise("test"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text")).cast("long"))
            .as("n_tokens"))
        .orderBy("source", "split"),
      """WITH d AS (SELECT source, text,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 1000000 AS p FROM documents)
        |SELECT source,
        |  CASE WHEN p < 800000 THEN 'train'
        |       WHEN p < 900000 THEN 'val' ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |    AS n_tokens
        |FROM d GROUP BY 1, 2 ORDER BY source, split""".stripMargin),

    // DSIR importance weights (Corpus.importanceWeights): every raw
    // document (doc_id % 7 != 0) scored by how target-like (doc_id % 7
    // == 0 plays the curated domain) its hashed-token bag is — the
    // pretraining data-selection recipe. log2 runs in 2⁻²⁰ fixed point
    // (bitlength + shifts — pure integer, engine-exact where a float
    // log2 breaks hash parity); buckets ride the q173 portable md5
    // spelling.
    QueryDef("q238_importance_weights", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Corpus.importanceWeights(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", bins = 256)
        .orderBy("doc_id")
    },
      s"""WITH rtk AS MATERIALIZED (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 2147483647 % 256 AS b
         |  FROM (SELECT doc_id,
         |          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |        FROM documents WHERE doc_id % 7 <> 0)
         |  WHERE tok <> ''),
         |ttk AS MATERIALIZED (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 2147483647 % 256 AS b
         |  FROM (SELECT doc_id,
         |          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |        FROM documents WHERE doc_id % 7 = 0)
         |  WHERE tok <> ''),
         |cr AS MATERIALIZED (SELECT b, count(*) AS cr FROM rtk GROUP BY 1),
         |ct AS MATERIALIZED (SELECT b, count(*) AS ct FROM ttk GROUP BY 1),
         |bs AS (
         |  SELECT cr.b,
         |    ${duckLg("COALESCE(ct.ct, 0) + 1")}
         |      - ${duckLg("cr.cr + 1")} AS lg_b
         |  FROM cr LEFT JOIN ct USING (b)),
         |tt AS (
         |  SELECT CAST((SELECT sum(cr) FROM cr) AS BIGINT) + 256 AS rp,
         |         CAST((SELECT sum(ct) FROM ct) AS BIGINT) + 256 AS tp),
         |c0 AS (SELECT ${duckLg("rp")} - ${duckLg("tp")} AS c FROM tt),
         |d AS (SELECT doc_id, b, count(*) AS cnt FROM rtk GROUP BY 1, 2)
         |SELECT d.doc_id, CAST(sum(cnt) AS BIGINT) AS n_toks,
         |  CAST(sum(cnt * (lg_b + c0.c)) AS BIGINT) AS dsir_fp
         |FROM d JOIN bs USING (b), c0
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),

    // Tokenizer fertility audit per language (Bpe.encodeCounts + lang
    // rollup): subwords per million tokens and chars per million
    // subwords by lang — the "is the tokenizer fair to every language"
    // check a multilingual pretraining budget runs (high fertility =
    // that language pays more sequence length per word). q139's
    // train+encode replay, rolled up over the documents dimension.
    QueryDef("q239_tokenizer_fertility", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Bpe.encodeCounts(docs, "doc_id", "text", steps = 5)
        .join(docs.select(col("doc_id"), col("lang"), col("n_chars")),
          Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          sum("n_subwords").as("n_subwords"),
          expr("(sum(n_subwords) * 1000000) div sum(n_tokens)")
            .as("fertility_ppm"),
          expr("(sum(n_chars) * 1000000) div sum(n_subwords)")
            .as("chars_per_subword_ppm"))
        .orderBy("lang")
    },
      (bpeEncodeCtes + ",\n" +
        """enc AS (
          |  SELECT dt.doc_id, sum(dt.cnt) AS n_tokens,
          |    sum(dt.cnt * widths.n_sub) AS n_subwords
          |  FROM dt JOIN widths ON dt.tok = widths.tok
          |  GROUP BY dt.doc_id)
          |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(enc.n_tokens) AS BIGINT) AS n_tokens,
          |  CAST(sum(enc.n_subwords) AS BIGINT) AS n_subwords,
          |  CAST((sum(enc.n_subwords) * 1000000) // sum(enc.n_tokens)
          |    AS BIGINT) AS fertility_ppm,
          |  CAST((sum(d.n_chars) * 1000000) // sum(enc.n_subwords)
          |    AS BIGINT) AS chars_per_subword_ppm
          |FROM enc JOIN documents d USING (doc_id)
          |GROUP BY d.lang ORDER BY lang""".stripMargin))
  )
}
