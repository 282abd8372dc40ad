package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines — exact, MinHash-LSH,
  * SimHash and n-gram-Jaccard near-dup detection.
  *
  * Reference analog: the reference deduplicates storage-side with
  * `OPTIMIZE TABLE … FINAL DEDUPLICATE` per month partition
  * (`clickhouse/v1/utils.py:159-193`, SURVEY.md §2.9 D1/D2); here the same
  * semantics are `dropDuplicates`/groupBy over natural keys, extended with
  * the near-dup family a 100 TB text corpus needs.
  *
  * Scale design:
  *  - exact dedup = one hash shuffle on the (hashed) key, never on the
  *    full text — group on a 128-bit fingerprint, keep min id.
  *  - MinHash-LSH = per-row signature (narrow), explode to (band,
  *    bucket-hash) keys, shuffle on band-hash only, pair within buckets.
  *    Candidate pairs are verified with true Jaccard so false positives
  *    from banding never survive. Signature width and band count are the
  *    standard precision/recall dials (r rows × b bands, s-curve
  *    threshold ≈ (1/b)^(1/r)).
  *  - SimHash = 64-bit per-row signature; near-dups within hamming radius
  *    k via pigeonhole banding ([[simHashNearDuplicates]]): with
  *    bands > k, a pair differing in ≤ k bits must agree exactly on at
  *    least bands − k bands, so generating candidates from every band
  *    gives recall 1.0 at radius k — strictly stronger than
  *    perturbation-style multi-probe, with the same bucketed cost shape
  *    as MinHash-LSH (Manku et al., WWW'07).
  */
object Dedup {

  /** D1 — exact duplicate groups by content fingerprint: one row per
    * distinct text with the surviving (min) id and the duplicate count.
    * Grouping on xxhash64(text) keeps shuffle rows narrow; the min-id
    * survivor rule matches "keep first". `normalize` lowercases and
    * collapses whitespace first (the training-pipeline default); pass
    * false for byte-exact dedup semantics (GROUP BY raw text). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String,
      normalize: Boolean = true): DataFrame = {
    val key = if (normalize) fingerprint(col(textCol))
              else xxhash64(col(textCol))
    df.groupBy(key.as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
  }

  /** D1 as a filter: keep one representative row per distinct text
    * (lowest id wins). `key` overrides the dedup key — e.g.
    * `md5(col("text").cast("binary"))` for the 128-bit raw-content key
    * the curation pipeline uses (collision odds n²/2¹²⁹ at corpus
    * scale, where a 64-bit key expects collisions past ~1e9 rows). */
  def dropTextDuplicates(df: DataFrame, idCol: String, textCol: String,
      key: Option[Column] = None): DataFrame = {
    val w = Window.partitionBy(key.getOrElse(fingerprint(col(textCol))))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Sub-document (span-level) dedup, CCNet/RefinedWeb line-dedup shape:
    * each document splits into consecutive `spanTokens`-token spans; a
    * span survives only at its globally FIRST occurrence (min (id,
    * span_idx) across the corpus — within-document repeats deduplicate
    * too). Returns per-document span counts + the duplicated-span
    * fraction, the signal used to drop boilerplate-heavy documents.
    *
    * Scale shape: spans never shuffle as text — each span md5-hashes at
    * the scan stage and the exchange carries (16-byte hash, id,
    * span_idx). The first-occurrence window partitions by span hash, so
    * sort groups are duplicate-cluster-sized (bounded by a span's
    * corpus-wide multiplicity), not document- or partition-sized.
    * Integer-ratio double for the fraction — cross-engine exact. */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    val spans = df
      .select(col(idCol).as("__id"),
        tokens(lower(trim(col(textCol)))).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("__id"), posexplode(expr(
        s"""transform(sequence(0, (size(toks) + ${spanTokens - 1}) div $spanTokens - 1),
           |          i -> array_join(slice(toks, i * $spanTokens + 1, $spanTokens), ' '))"""
          .stripMargin)))
      .select(col("__id"), col("pos").as("span_idx"),
        md5(col("col").cast("binary")).as("__h"))
    val w = Window.partitionBy("__h").orderBy("__id", "span_idx")
    spans.withColumn("__rn", row_number().over(w))
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_kept"))
      .withColumn("dup_span_frac",
        (col("n_spans") - col("n_kept")).cast("double")
          / col("n_spans").cast("double"))
  }

  /** MinHash signature: for each of `numHashes` hash functions, the min
    * over the document's shingle set of an independent 64-bit hash.
    * Single fused codegen'd pass (graft.expressions.MinHashSig). */
  def minHashSignature(shingles: Column, numHashes: Int): Column =
    graft.expressions.MinHashSig.minhash(shingles, numHashes)

  /** MinHash-LSH candidate pairs with Jaccard verification.
    *
    * Scale shape: the banded self-join carries only (band, bucket, id) —
    * never the shingle sets — so the shuffle is narrow even when a bucket
    * is hot. Candidate pairs are deduplicated BEFORE verification, then
    * the shingle sets are joined back by id for the exact-Jaccard check,
    * bounding the expensive array work to distinct candidates.
    *
    * @param bands  number of LSH bands (b); rowsPerBand = numHashes / b;
    *               s-curve midpoint ≈ (1/b)^(b/numHashes)
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold
    */
  def minHashNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, exactVerify: Boolean = true,
      maxBucketSize: Int = 64, portableHash: Boolean = false): DataFrame = {
    val r = numHashes / bands
    // shingle sets as sorted long-hash arrays (fused codegen pass) — all
    // downstream set math runs on primitive longs.
    // `portableHash` switches both the shingle hash and the affine MinHash
    // family to the md5-based formulation any engine reproduces (the
    // oracle-checkable path); band buckets are then the raw signature
    // slices (array<long> join keys) instead of a murmur of them, so
    // candidate generation is engine-independent too.
    // Cached: the plan references sets/banded from both sides of two
    // self-joins — without persistence the shingle+signature pass would
    // recompute ~6×. (The cluster-scale analog: materialize signatures
    // once, they are ~100× smaller than the corpus.)
    def signature(sh: Column) =
      if (portableHash) graft.expressions.TextHash.minhash31(sh, numHashes)
      else graft.expressions.TextHash.minhashFromHashes(sh, numHashes)
    // one cached pass: shingle → signature; everything downstream (banding,
    // verification joins) references this narrow table. In the estimate
    // path the shingle sets are dropped before caching — at scale the
    // signature table is ~100× smaller than the corpus and is what a real
    // pipeline would materialize.
    val sigs = {
      val s = df.select(col(idCol).as("id"),
        (if (portableHash)
           graft.expressions.TextHash.shingleHashes31(col(textCol), shingleSize)
         else
           graft.expressions.TextHash.shingleHashes(col(textCol), shingleSize)).as("sh"))
        .filter(size(col("sh")) > 0)
        .withColumn("sig", signature(col("sh")))
      (if (exactVerify) s else s.drop("sh")).cache()
    }
    // Band bucket keys: the portable family joins on the raw signature
    // slice (engine-independent); r ≤ 2 packs the two 31-bit components
    // into one long so the shuffle key is primitive. The fast path hashes
    // the slice (murmur) — fine when no SQL oracle has to reproduce it.
    def bucketOf(b: Int): Column =
      if (!portableHash) hash(slice(col("sig"), b * r + 1, r), lit(b)).cast("long")
      else if (r == 1) element_at(col("sig"), b * r + 1)
      else if (r == 2) shiftleft(element_at(col("sig"), b * r + 1), 31)
        .bitwiseOR(element_at(col("sig"), b * r + 2))
      else hash(slice(col("sig"), b * r + 1, r)).cast("long")
    require(portableHash == false || r <= 2,
      "portable banding join keys support r <= 2 (pack) only")
    val banded = sigs.select(col("id"),
      posexplode(array((0 until bands).map(bucketOf): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // One shuffle does bucketing, the hot-bucket cap AND pair generation:
    // group to (band, bucket) → member list; buckets over `maxBucketSize`
    // are dropped (the standard LSH-at-scale guard — an oversized bucket
    // is a non-discriminative band hash, b² candidates and ~no new true
    // positives); pairs explode map-side from the member lists. The
    // capped collect stops buffering at maxBucketSize+1 elements, so a
    // degenerate bucket costs O(cap) memory, not O(bucket) — the guard
    // cannot OOM on the very skew it guards against.
    val cand = bucketPairs(banded, maxBucketSize)
    if (exactVerify)
      cand
        .join(sigs.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(sigs.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          graft.expressions.TextHash.jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    else
      // estimate Jaccard from signature agreement (unbiased MinHash
      // estimator): joins carry 64 longs instead of full shingle sets —
      // the scale path when candidate volume is large.
      cand
        .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
        .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          graft.expressions.MinHashSig.overlap(col("sig_a"), col("sig_b")).as("jaccard"))
        .filter(col("jaccard") >= threshold)
  }

  /** Banded MinHash signature store — the parquet table an INCREMENTAL
    * dedup pipeline maintains: one row per document with its portable
    * md5-31 MinHash signature and the packed per-band bucket keys
    * precomputed, so tomorrow's batch joins against the store WITHOUT
    * re-shingling, re-hashing, or re-banding the corpus. The portable
    * family (TextHash.shingles31/minhash31 — CLAUDE.md hash discipline)
    * keeps every stored value engine-replayable; the band keys are the
    * r = 2 signature-slice pack (s₁ << 31 | s₂ — 31-bit components
    * never collide with the shift), the same key
    * [[minHashNearDuplicates]] joins on.
    *
    * Scale shape: one corpus scan, all column math in the scan stage,
    * no shuffle at all — the store is ~100× narrower than the corpus
    * and appends day over day.
    *
    * @return (id, sig array<long>[numHashes], buckets array<long>[bands]) */
  /** Spread a CPU-dense signing input across the session's cores when
    * its scan parallelism is below them: a sub-split-size parquet
    * source is ONE split (the q143 lesson), which fuses the whole
    * sign→band→probe pipeline into a single task — measured 9 s
    * single-task vs ~1.5 s spread on q218's store build. The shuffle
    * moves the raw text once, negligible next to the 64-pass MinHash
    * it parallelizes; at real corpus sizes the scan already has
    * ≥ cores splits and this is a no-op. */
  private def spreadForSigning(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target) else df
  }

  def signatureStore(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 2, numHashes: Int = 64,
      bands: Int = 32): DataFrame = {
    require(bands * 2 == numHashes,
      "portable banded store packs r = 2 signature slices")
    spreadForSigning(df).select(col(idCol).as("id"),
        graft.expressions.TextHash
          .shingleHashes31(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig",
        graft.expressions.TextHash.minhash31(col("sh"), numHashes))
      .withColumn("buckets", array((0 until bands).map(b =>
        shiftleft(element_at(col("sig"), b * 2 + 1), 31)
          .bitwiseOR(element_at(col("sig"), b * 2 + 2))): _*))
      .drop("sh")
  }

  /** Incremental near-duplicate screen: a (small) new batch against a
    * persisted [[signatureStore]], emitting only NEW-vs-CORPUS pairs —
    * the daily-ingest sibling of [[minHashNearDuplicates]] (which
    * re-bands the whole corpus every run) and the near-dup complement
    * of exact-key stream dedup.
    *
    * Scale shape — the corpus NEVER shuffles its text: the batch is
    * signed and banded (batch-sized), then ROUTED — broadcast only when
    * a proven row bound (Catalyst stats, else an exact count of the
    * already-checkpointed signed batch, one cheap job) shows the
    * exploded batch fits `graft.dedup.broadcastBatchBytes` (default
    * 256 MB); a large ingest batch (at 100 TB corpus scale a daily
    * batch is itself many GB of signatures) falls back to the shuffle
    * band join on (band, bucket) instead of dying at the broadcast
    * limit. Either regime computes the signature-agreement estimate AT
    * MATCH TIME, map-side (both signatures are present on the probe
    * row — the carry-the-payload-into-the-bucket rule), so the only
    * other exchange is the candidate-pair dedup groupBy, already
    * filtered to ≥ `threshold`.
    *
    * Hot-bucket discipline is NOT delegated to store maintenance:
    * near-dup-free ≠ discriminative (q102's measured lesson — a
    * boilerplate-heavy corpus put 1,473 docs in one band slice with
    * zero near-dups), so store-side (band, bucket) cells with more
    * than `maxBucketSize` members are dropped, the same guard as
    * [[minHashNearDuplicates]]'s bucketPairs. The hot-cell list comes
    * from `bucketStats` when the pipeline maintains one (a persisted
    * [[bucketCounts]] sibling table, updated on append via
    * [[mergeBucketCounts]] — at daily cadence over a 100 TB store the
    * default recompute is a full metadata scan per micro-batch,
    * VERDICT r13 #4); absent stats it is recomputed by one
    * column-pruned pass over the store's `buckets` column (a key-sized
    * partial+final agg — the probe-side sig payload is never aboard).
    * Either way the store explode anti-joins the tiny hot list (AQE
    * sizes it into a broadcast on its own — not forced, per the
    * proven-fit discipline).
    *
    * The estimate is the unbiased MinHash Jaccard (agreeing components
    * / numHashes — exact in binary for power-of-two numHashes), so the
    * whole operator replays cross-engine; exact-Jaccard verification
    * would need corpus TEXT, which the store deliberately does not
    * carry.
    *
    * @param store [[signatureStore]] output (typically read back from
    *              parquet; schema (id, sig, buckets))
    * @param maxBucketSize drop store-side (band, bucket) cells larger
    *              than this (0 disables the cap — test seam)
    * @param bucketStats persisted [[bucketCounts]] of `store` — when
    *              given, the hot-cell pass reads it instead of
    *              re-scanning the store's buckets column (purely
    *              physical: spec-asserted equal to the recompute)
    * @return (new_id, corpus_id, jaccard ≥ threshold) */
  def incrementalNearDuplicates(store: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      shingleSize: Int = 2, numHashes: Int = 64, bands: Int = 32,
      threshold: Double = 0.1, maxBucketSize: Int = 64,
      bucketStats: Option[DataFrame] = None): DataFrame = {
    // batch-sized eager materialization, for three reasons: the count
    // probe below must not re-sign, the broadcast build job re-executes
    // its child plan anyway, and Catalyst's inferred not-null/size
    // filters on the posexplode otherwise substitute the WHOLE buckets
    // projection below the scan — re-evaluating the 64-pass MinHash up
    // to 32x per row (measured 10 s -> 3 s on q218 with both sides
    // materialized; a store read from parquet never hits this, the
    // inferred filter lands on the stored column)
    val signed =
      signatureStore(batch, idCol, textCol, shingleSize, numHashes, bands)
        .localCheckpoint(true)
    val newSide = signed
      .select(col("id").as("new_id"), col("sig").as("new_sig"),
        posexplode(col("buckets")).as(Seq("band", "bucket")))
    // Proven-fit broadcast routing (the GraphTuning discipline): the
    // broadcast relation is batchRows × bands exploded rows, each
    // carrying the numHashes-long signature. A bound only LICENSES the
    // broadcast when it proves the fit; otherwise count exactly (the
    // signed batch is checkpointed — one cheap job).
    val spark = store.sparkSession
    val budget = GraphTuning.confBytes(spark,
      "graft.dedup.broadcastBatchBytes", 256L << 20)
    val bytesPerBatchRow = bands.toLong * (numHashes.toLong * 8L + 48L)
    val limitRows = budget / bytesPerBatchRow
    // signed is checkpointed — the exact-count fallback is one cheap job
    val (fits, est, src) = GraphTuning.broadcastFitsRows(signed, limitRows)
    GraphTuning.logRouting(
      s"[graft.dedup] incrementalNearDuplicates regime=" +
        (if (fits) "broadcast" else "shuffle-band-join") +
        s" batchRows=$est($src) limitRows=$limitRows" +
        s" budgetBytes=$budget bands=$bands")
    val exploded = store
      .select(col("id").as("corpus_id"), col("sig"),
        posexplode(col("buckets")).as(Seq("band", "bucket")))
    val capped =
      if (maxBucketSize <= 0) exploded
      else {
        val hot = bucketStats
          .map(_.filter(col("n") > maxBucketSize).select("band", "bucket"))
          .getOrElse(store
            .select(posexplode(col("buckets")).as(Seq("band", "bucket")))
            .groupBy("band", "bucket").agg(count(lit(1)).as("__n"))
            .filter(col("__n") > maxBucketSize)
            .select("band", "bucket"))
        exploded.join(hot, Seq("band", "bucket"), "left_anti")
      }
    capped
      .join(if (fits) broadcast(newSide) else newSide, Seq("band", "bucket"))
      .withColumn("jaccard", graft.expressions.MinHashSig
        .overlap(col("sig"), col("new_sig")))
      .filter(col("jaccard") >= threshold)
      .groupBy("new_id", "corpus_id")
      .agg(max(col("jaccard")).as("jaccard"))
  }

  /** Per-(band, bucket) member counts of a [[signatureStore]] — the
    * hot-cell METADATA a pipeline persists as a sibling table of the
    * store so [[incrementalNearDuplicates]] screens a batch without a
    * store-wide bucket scan per micro-batch (at daily cadence over a
    * 100 TB store the recompute is a full metadata pass each time —
    * VERDICT r13 #4). Counts are additive, so the table is maintained
    * incrementally on append: write `bucketCounts(signedBatch)` of the
    * just-appended survivors and re-reduce via [[mergeBucketCounts]] —
    * spec-asserted equal to recomputing from the whole store.
    *
    * @return (band, bucket, n) */
  def bucketCounts(store: DataFrame): DataFrame =
    store.select(posexplode(col("buckets")).as(Seq("band", "bucket")))
      .groupBy("band", "bucket").agg(count(lit(1)).as("n"))

  /** Additive merge of [[bucketCounts]] tables (the persisted counts +
    * each appended batch's own counts) — key-sized partial+final agg,
    * the append-time maintenance op of the hot-cell metadata. */
  def mergeBucketCounts(counts: DataFrame*): DataFrame = {
    require(counts.nonEmpty, "mergeBucketCounts needs at least one table")
    counts.reduce(_ unionByName _)
      .groupBy("band", "bucket").agg(sum(col("n")).as("n"))
  }

  /** Portable SimHash (md5 bit votes, hex-string signature) — the
    * oracle-checkable variant; one fused codegen pass per row. */
  def simHashHex(textCol: Column): Column =
    graft.expressions.TextHash.simHash64Hex(textCol)

  /** SimHash: 64-bit signature = sign of per-bit ±1 vote sums over the
    * distinct-token hash bits (xxhash64 family — the fast path; use
    * [[simHashHex]] when an oracle needs to reproduce it). One fused
    * codegen pass: the per-bit HOF `aggregate()` spelling this replaces
    * planned 64 interpreted array traversals per row (~30× slower). */
  def simHash(textCol: Column): Column =
    graft.expressions.TextHash.simHash64Fast(textCol)

  /** SimHash near-duplicate pairs within hamming radius `maxHamming`.
    *
    * Candidate generation is pigeonhole banding over the 64-bit
    * signature: the signature splits into `bands` equal slices, and a
    * pair with ≤ `maxHamming` differing bits can dirty at most
    * `maxHamming` slices, so it matches exactly on at least
    * `bands − maxHamming` of them. With `bands > maxHamming`, EVERY
    * within-radius pair shares at least one band bucket → recall 1.0,
    * no probing heuristics. Precision comes from the verification step:
    * candidates are deduplicated, then exact hamming distance
    * (popcount of xor) filters to the radius.
    *
    * Scale shape mirrors [[minHashNearDuplicates]]: the banded shuffle
    * carries (band, slice, id) only; hot buckets (a non-discriminative
    * slice — e.g. a boilerplate-heavy corpus where one 16-bit slice is
    * constant) are capped by `maxBucketSize` with O(cap) memory; the
    * signature table is cached once and is ~100× narrower than the
    * corpus. Growing `bands` trades larger candidate volume for a wider
    * guaranteed radius (bands = k+1 is the minimum for radius k).
    *
    * `portableHash` switches to the md5 bit-vote signature
    * ([[simHashHex]]) with hex-substring band keys and half-word xor
    * popcounts — reproducible in any engine for oracle checking.
    *
    * @return (id_a, id_b, hamming) with id_a < id_b, hamming ≤ maxHamming
    */
  def simHashNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bands: Int = 4, maxBucketSize: Int = 64,
      portableHash: Boolean = false): DataFrame = {
    require(bands > maxHamming,
      s"pigeonhole recall needs bands > maxHamming ($bands <= $maxHamming)")
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    val bitsPerBand = 64 / bands
    // The 64-bit signature travels INTO the band buckets as the pair
    // payload (CollectLongPairsCapped), so exact hamming verification
    // runs map-side at pair-explosion time — candidates are filtered to
    // the radius BEFORE anything shuffles. Versus the join-back
    // formulation (bucketPairs + two signature joins + candidate-wide
    // dedup), the only post-bucket shuffle is the pair dedup over TRUE
    // near-dups (≤ bands × |result| rows): measured 2.3× faster at
    // sf0.1, where one hot 16-bit slice put 1473 docs in a bucket and
    // the candidate stream hit 1.9M pairs.
    val sigs =
      if (portableHash) {
        require(bitsPerBand % 4 == 0,
          s"portable banding needs hex-aligned bands (64/$bands bits)")
        // 64-bit hex exceeds a signed BIGINT conv; pack the two 32-bit
        // halves — xor/popcount over the packed word equals the DuckDB
        // half-word arithmetic exactly (disjoint bit ranges).
        df.select(col(idCol).as("id"), simHashHex(col(textCol)).as("sighex"))
          .select(col("id"),
            shiftleft(conv(substring(col("sighex"), 1, 8), 16, 10).cast("long"), 32)
              .bitwiseOR(conv(substring(col("sighex"), 9, 8), 16, 10).cast("long"))
              .as("sig"))
      } else df.select(col(idCol).as("id"), simHash(col(textCol)).as("sig"))
    val mask = (1L << bitsPerBand) - 1
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until bands).map(b =>
        // band 0 = the MOST significant slice, matching the hex-substring
        // banding of the portable oracle
        shiftrightunsigned(col("sig"), 64 - (b + 1) * bitsPerBand)
          .bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    banded.groupBy("band", "bucket")
      .agg(graft.expressions.CollectCapped
        .collectLongPairsCapped(col("id"), col("sig"), maxBucketSize).as("m"))
      .filter(size(col("m")).between(2, maxBucketSize))
      .select(col("m"), explode(col("m")).as("x"))
      .select(col("x.a").as("id_a"), col("x.b").as("sig_a"),
        explode(col("m")).as("y"))
      .filter(col("id_a") < col("y.a"))
      .select(col("id_a"), col("y.a").as("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("y.b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Sorted-neighborhood near-duplicate detection (Hernández & Stolfo
    * 1995) — the third blocking family next to LSH banding and exact
    * blocking: sort the corpus by a domain key that co-locates likely
    * duplicates, compare each record only to its `windowSize` successors
    * in the total order, verify candidates by exact SimHash hamming
    * distance.
    *
    * The classic realization is a sliding window over ONE sorted list —
    * on Spark that would be a single-partition window (the 100 TB
    * anti-pattern). Here the total-order position comes from
    * [[PrefixSum.globalRunningSum]] (a range-partitioned distributed
    * rank), and "the next w records" becomes a self equi-join on
    * rank offsets: each record explodes to (rank+1 … rank+w) probe keys
    * and joins back on the rank — narrow integer keys, ordinary hash
    * shuffle, no single-task stage anywhere. Candidate volume is
    * exactly N·w by construction (vs LSH's data-dependent buckets);
    * recall is whatever the sort key co-locates, the method's documented
    * trade-off.
    *
    * @param sortCols  blocking sort key; `idCol` is appended as the
    *                  tie-break so the order (and the oracle's
    *                  row_number) is total
    * @return (id_a, id_b, hamming), id_a < id_b, hamming ≤ maxHamming */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, textCol: String,
      sortCols: Seq[String], windowSize: Int = 8,
      maxHamming: Int = 3): DataFrame = {
    val sigs = df.select(col(idCol).as("id") +:
      simHashHex(col(textCol)).as("__hex") +: sortCols.map(col): _*)
      .select(col("id") +:
        shiftleft(conv(substring(col("__hex"), 1, 8), 16, 10).cast("long"), 32)
          .bitwiseOR(conv(substring(col("__hex"), 9, 8), 16, 10).cast("long"))
          .as("sig") +: sortCols.map(col): _*)
    sortedNeighborhoodPairsFromSigs(sigs, "id", "sig", sortCols,
      windowSize, maxHamming)
  }

  /** [[sortedNeighborhoodPairs]] over PRE-COMPUTED 64-bit signatures —
    * the reusable verification core for any perceptual fingerprint
    * (text simHash above; image dHash / audio fingerprints compose the
    * same way). `sigs0` carries (idCol, sigCol, sortCols…); the id is
    * appended to the sort key so the total order (and therefore the
    * candidate set) is deterministic. */
  def sortedNeighborhoodPairsFromSigs(sigs0: DataFrame, idCol: String,
      sigCol: String, sortCols: Seq[String], windowSize: Int = 8,
      maxHamming: Int = 3): DataFrame = {
    require(windowSize >= 1, "windowSize must be >= 1")
    val sigs = sigs0.select(col(idCol).as("id"),
      struct(sortCols.map(col) :+ col(idCol): _*).as("__key"),
      col(sigCol).as("sig"))
    // checkpointed inside globalRunningSum — both join sides below read
    // the materialized rank, not a recomputation
    val ranked = PrefixSum.globalRunningSum(
      sigs.withColumn("__one", lit(1L)), "__key", "__one", "rnk")
      .select(col("id"), col("sig"), col("rnk"))
    val probes = ranked.select(
      col("id").as("id_x"), col("sig").as("sig_x"),
      explode(sequence(col("rnk") + 1, col("rnk") + windowSize)).as("rnk"))
    probes.join(ranked, Seq("rnk"))
      .select(
        least(col("id_x"), col("id")).as("id_a"),
        greatest(col("id_x"), col("id")).as("id_b"),
        bit_count(col("sig_x").bitwiseXOR(col("sig"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Pigeonhole-banded hamming near-dup pairs over PRE-COMPUTED 64-bit
    * signatures — [[simHashNearDuplicates]]'s recall-1.0 banding
    * (bands > maxHamming ⇒ every within-radius pair shares a band)
    * generalized to any perceptual fingerprint (image dHash, audio
    * fingerprints), with the capped-collect kernel swapped for a plain
    * band self-join so an external oracle can replay the candidate set
    * exactly: the cap drops hot buckets data-dependently, which no SQL
    * replay can reproduce (this was the blocker that kept image hamming
    * pairs off the oracle gate until now).
    *
    * Feed it signature CLASSES — distinct signatures with a canonical
    * id, i.e. run exact perceptual dedup first — so band fan-out is
    * bounded by signature diversity, not corpus size. At scale a
    * non-discriminative band slice becomes a skewed join key: that is
    * AQE skew-join territory (split, not dropped), and the capped
    * [[simHashNearDuplicates]] kernel remains the raw-corpus fast path
    * when bounded memory matters more than replayable recall.
    *
    * @return (id_a, id_b, hamming) with id_a < id_b, hamming ≤ maxHamming */
  def hammingBandedPairsFromSigs(sigs0: DataFrame, idCol: String,
      sigCol: String, maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(bands > maxHamming,
      s"pigeonhole recall needs bands > maxHamming ($bands <= $maxHamming)")
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    val bitsPerBand = 64 / bands
    val mask = (1L << bitsPerBand) - 1
    val sigs = sigs0.select(col(idCol).as("id"), col(sigCol).as("sig"))
    // band 0 = the most significant slice (matches the hi/lo half-word
    // slicing an oracle does on the two 32-bit halves)
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("sig"), 64 - (b + 1) * bitsPerBand)
          .bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    banded.select(col("band"), col("bucket"),
        col("id").as("id_a"), col("sig").as("sig_a"))
      .join(banded.select(col("band"), col("bucket"),
        col("id").as("id_b"), col("sig").as("sig_b")), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Shared LSH bucket→pair kernel: one shuffle groups (band, bucket),
    * caps hot buckets at O(cap) memory via the early-stopping collect,
    * explodes member pairs map-side, and deduplicates candidates. */
  private def bucketPairs(banded: DataFrame, maxBucketSize: Int): DataFrame =
    banded.groupBy("band", "bucket")
      .agg(graft.expressions.CollectCapped
        .collectLongsCapped(col("id"), maxBucketSize).as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")

  /** Exact n-gram-Jaccard similarity join via prefix filtering
    * (AllPairs/PPJoin family): tokens are globally ordered by document
    * frequency (rarest first); a pair with J ≥ t MUST share a token in
    * each side's first |x| − ⌈t·|x|⌉ + 1 tokens, so candidates are
    * generated from an inverted index over prefixes only, deduplicated,
    * then verified with true Jaccard. Returns exactly the same pairs as
    * the quadratic formulation — at a cost proportional to candidate
    * pairs, not n² — which is what survives a 100× corpus scale-up.
    *
    * Shuffles: token-frequency agg, per-doc window, prefix-token join,
    * pair dedup, two id-joins for verification. All on narrow keys. */
  def prefixJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, blockCols: Seq[String],
      shingleSize: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sets = df.select(col(idCol).as("id") +:
        graft.expressions.TextHash.shingleHashes(col(textCol), shingleSize).as("tk") +:
        blockCols.map(col): _*)
      .filter(size(col("tk")) > 0)
      .withColumn("n", size(col("tk")))
      .cache() // read by the prefix index AND both verification joins
    val toks = sets.select(Seq(col("id"), col("n"), explode(col("tk")).as("t")) ++
      blockCols.map(col): _*)
    val freq = toks.groupBy("t").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("id").orderBy(col("df").asc, col("t").asc)
    val prefix = toks.join(freq, Seq("t"))
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= col("n") - ceil(col("n") * threshold) + 1)
    val a = prefix.select(Seq(col("t"), col("id").as("id_a")) ++ blockCols.map(col): _*)
    val b = prefix.select(Seq(col("t"), col("id").as("id_b")) ++ blockCols.map(col): _*)
    val cand = a.join(b, "t" +: blockCols)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    cand
      .join(sets.select(col("id").as("id_a"), col("tk").as("tk_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("tk").as("tk_b")), Seq("id_b"))
      .withColumn("jaccard",
        graft.expressions.TextHash.jaccardSortedGE(col("tk_a"), col("tk_b"), threshold))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Duplicate clustering: connected components over a near-duplicate
    * pair graph (the step after candidate detection in a real dedup
    * pipeline — each cluster keeps one canonical document).
    *
    * Hash-min label propagation: every node starts labeled with its own
    * id; each round every node takes the min label in its neighborhood;
    * converges in O(component diameter) rounds. Each round is one
    * shuffle join + one aggregation — the standard scalable CC for
    * short-diameter dedup graphs (near-dup components are dense, so
    * diameters are tiny; `maxIterations` guards pathological chains).
    *
    * @return (id, cluster_id) for every id in `ids`; cluster_id = min id
    *         of the component (singletons map to themselves). */
  def duplicateClusters(
      ids: DataFrame, idCol: String, pairs: DataFrame,
      maxIterations: Int = 20,
      localEdgeThreshold: Long = 1L << 21,
      coBucketEdgeThreshold: Long = 24000000L): DataFrame = {
    val nodes = ids.select(col(idCol).as("id")).distinct().cache()
    val edgesPlan = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
    // Job-free regime fast path: when Catalyst plan statistics already
    // bound the (pre-checkpoint) edge plan under the local threshold,
    // skip the exact-count job — the bound over-counts rows, so the
    // driver collect it licenses stays within the threshold. Because
    // the bound licenses a DRIVER-SIDE collect (not just a perf
    // regime), the size-based branch carries an 8× rows-per-byte
    // margin: a heavily RLE-compressed parquet edge list under 1 B/row
    // could otherwise pass the threshold with far more rows than it
    // promises (round-8 advice — driver-memory risk). A join-heavy
    // `pairs` plan reports multiplicative (huge) sizes and falls back
    // to the exact count, which is also what the fixpoint regimes use.
    // Provenance is logged either way.
    val edgeBound = GraphTuning.rowUpperBound(edgesPlan, rowsPerByteMargin = 8L)
    val edges = edgesPlan.localCheckpoint(true)
    // Three measured regimes, split by edge count (the same statistic
    // the fixpoint test already needs):
    //  - ≤ localEdgeThreshold: collect the edge list and union-find on
    //    the driver (exact, O(E α(E)), no per-round job overhead).
    //  - ≤ coBucketEdgeThreshold: the distributed hash-min/pointer-jump
    //    shuffle loop. Round-5 warm interleaved A/B: faster than the
    //    bucketed-table regime at 6.4 s vs 7.8 s / 1.06M edges and
    //    14.9 s vs 17.0 s / 21M edges (the co-bucketed layout's table
    //    writes cost more than the edge re-shuffles they save there);
    //    an earlier cold-JVM reading that favored co-bucketed 1.7x was
    //    run-order bias.
    //  - above: [[graft.operators.Graph.connectedComponentsCoBucketed]].
    //    The round-6 crossover grid (graft.Crossover, CROSSOVER.json;
    //    warm, interleaved, min-of-2) measured the shuffle loop LOSING
    //    4.2x at 32M edges (49.1 s vs 11.7 s), 5.1x at 42M (96.2 s vs
    //    18.7 s), 6.7x at 64M (125.7 s vs 18.6 s), 7.8x at 128M
    //    (240.2 s vs 30.8 s), and FAILING OUTRIGHT at 213M edges
    //    (broadcast-build OOM inside the loop's planned joins) where
    //    co-bucketed finished in 50 s — per-round edge re-shuffles are
    //    the bottleneck exactly as the exchange profile predicts (2
    //    node-sized exchanges/round vs 3 edge-sized). The 24M default
    //    sits between the last measured shuffle-loop win (21M) and the
    //    first measured co-bucketed win (32M).
    val (edgeCount, edgeCountSource) = edgeBound match {
      case Some((u, s)) if u <= localEdgeThreshold => (u, s)
      case _ => (edges.count(), "exact-count")
    }
    GraphTuning.logRouting(
      s"[graft.graph] duplicateClusters regime=" +
        (if (edgeCount <= localEdgeThreshold) "driver-union-find"
         else if (edgeCount > coBucketEdgeThreshold) "co-bucketed-cc"
         else "hash-min-shuffle") +
        s" edges=$edgeCount($edgeCountSource)" +
        s" localThreshold=$localEdgeThreshold" +
        s" coBucketThreshold=$coBucketEdgeThreshold")
    if (edgeCount <= localEdgeThreshold) {
      val spark = ids.sparkSession
      import spark.implicits._
      val es = edges.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val labelMap = (es.map(_._1) ++ es.map(_._2)).distinct
        .map(x => x -> find(x)).toMap
      val labelsDf = labelMap.toSeq.toDF("id", "label")
      return nodes.join(broadcast(labelsDf), Seq("id"), "left")
        .select(col("id").as(idCol),
          coalesce(col("label"), col("id")).as("cluster_id"))
    }
    if (edgeCount > coBucketEdgeThreshold) {
      val labels = graft.operators.Graph
        .connectedComponentsCoBucketed(edges, maxIterations)
      return nodes.join(labels, Seq("id"), "left")
        .select(col("id").as(idCol),
          coalesce(col("label"), col("id")).as("cluster_id"))
    }
    // iterate ONLY over nodes that participate in a pair — in a dedup
    // graph that's a small fraction of the corpus; untouched nodes are
    // singleton clusters and join back at the end
    val labels = Graph.ccShuffleLoop(edges, maxIterations)
    nodes.join(labels, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("label"), col("id")).as("cluster_id"))
  }

  /** Empty `blockCols` means a TRUE cross product — n² pairs with no
    * blocking to bound it. That is only sane for small inputs (unit
    * tests, a pre-filtered candidate set), so the unblocked path counts
    * the join input — rows with a non-empty shingle set, exactly the n
    * that gets squared — and refuses above `maxUnblockedRows`: at scale
    * the caller must either pass blocking keys or use
    * [[prefixJaccardPairs]]. The count is one action over the
    * already-cached shingle table, so the guard runs EAGERLY at call
    * time on the unblocked path (the blocked path stays fully lazy). */
  private def guardUnblocked(base: DataFrame, blockCols: Seq[String],
      maxUnblockedRows: Long, fn: String): Unit =
    if (blockCols.isEmpty) {
      val n = base.count()
      require(n <= maxUnblockedRows,
        s"$fn called with no blocking columns on $n non-empty-shingle rows " +
        s"(> $maxUnblockedRows): an unblocked cross join is O(n^2). Pass " +
        "blockCols (e.g. lang, length bucket), use prefixJaccardPairs, or " +
        "raise maxUnblockedRows explicitly.")
    }

  /** Blocked edit-distance pairs — the entity-resolution candidate
    * primitive (near-identical names, typo'd titles, serial-number
    * collisions): within each block, every id pair whose strings are
    * within `maxDist` Levenshtein edits, id_a < id_b.
    *
    * Scale contract (the ER blocking discipline):
    *  - pair work is Σ block² — the caller picks blockCols that bound
    *    block size (first token, length bucket, phonetic key), and the
    *    unblocked path refuses above `maxUnblockedRows` like the rest
    *    of the pair family ([[ngramContainmentPairs]]'s guard);
    *  - callers should collapse to DISTINCT strings first (fuzzy-match
    *    the vocabulary, not the rows — identical strings are exact-dup
    *    territory, [[exactDuplicates]]); q219 shows the pattern;
    *  - the DP itself is BANDED: Spark's 3-arg `levenshtein` stops at
    *    `maxDist` (O(maxDist·len) per pair, -1 when exceeded) instead
    *    of filling the O(len²) matrix, and a |length delta| ≤ maxDist
    *    pre-filter discards most pairs before any DP cell — both are
    *    Spark-side-only optimizations that cannot change the result
    *    (a length delta beyond maxDist forces dist > maxDist).
    * Oracle portability: classical unit-cost Levenshtein — DuckDB's
    * `levenshtein(a, b)` computes the same integer.
    *
    * @return (id_a, id_b, dist), 1 ≤ dist ≤ maxDist */
  def blockedEditDistancePairs(
      df: DataFrame, idCol: String, nameCol: String,
      blockCols: Seq[String], maxDist: Int,
      maxUnblockedRows: Long = 10000L): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val base = df.select(col(idCol).as("id") +: col(nameCol).as("nm") +:
      blockCols.map(col): _*)
      .filter(col("nm").isNotNull)
      .cache()
    guardUnblocked(base, blockCols, maxUnblockedRows,
      "blockedEditDistancePairs")
    val l = base.select(col("id").as("id_a") +: col("nm").as("nm_a") +:
      blockCols.map(col): _*)
    val r = base.select(col("id").as("id_b") +: col("nm").as("nm_b") +:
      blockCols.map(col): _*)
    val joined =
      if (blockCols.nonEmpty) l.join(r, blockCols) else l.crossJoin(r)
    joined.filter(col("id_a") < col("id_b"))
      .filter(abs(length(col("nm_a")) - length(col("nm_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("nm_a"), col("nm_b"), maxDist))
      .filter(col("dist") >= 1)
      .select("id_a", "id_b", "dist")
  }

  /** n-gram CONTAINMENT join: ordered pairs (a, b), a ≠ b, with
    * |grams(a) ∩ grams(b)| / |grams(a)| ≥ threshold — the asymmetric
    * near-dup measure that catches a short document quoted inside a long
    * one (Jaccard stays near |a|/|b| there and never fires). Same
    * blocked-cross-product scale shape as [[ngramJaccardPairs]]: one
    * cached shingle pass, pairs only within cheap blocking keys, the
    * merge-scan containment a single codegen'd expression. Emitted both
    * directions when both clear the threshold (containment is directed).
    */
  def ngramContainmentPairs(
      df: DataFrame, idCol: String, textCol: String, blockCols: Seq[String],
      threshold: Double, shingleSize: Int = 1,
      maxUnblockedRows: Long = 10000L): DataFrame = {
    val base = df.select(col(idCol).as("id") +:
      graft.expressions.TextHash.shingleHashes(col(textCol), shingleSize).as("tk") +:
      blockCols.map(col): _*)
      .filter(size(col("tk")) > 0)
      .cache()
    guardUnblocked(base, blockCols, maxUnblockedRows, "ngramContainmentPairs")
    val l = base.select(col("id").as("id_a") +: col("tk").as("tk_a") +: blockCols.map(col): _*)
    val r = base.select(col("id").as("id_b") +: col("tk").as("tk_b") +: blockCols.map(col): _*)
    val joined = if (blockCols.nonEmpty) l.join(r, blockCols) else l.crossJoin(r)
    joined.filter(col("id_a") =!= col("id_b"))
      .withColumn("containment",
        graft.expressions.TextHash.containmentSorted(col("tk_a"), col("tk_b")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** n-gram Jaccard similarity join: all pairs (within an optional
    * blocking key) with word-set Jaccard ≥ threshold. O(n²) within a
    * block — callers block on cheap keys (lang, length bucket) so the
    * cross product never materializes globally. Kept as the reference
    * formulation; [[prefixJaccardPairs]] is the scale path. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, blockCols: Seq[String],
      threshold: Double, shingleSize: Int = 1,
      maxUnblockedRows: Long = 10000L): DataFrame = {
    // cached: both join legs read it — one shingle pass, not two (the
    // cluster-scale analog: materialize the shingle table once)
    val base = df.select(col(idCol).as("id") +:
      graft.expressions.TextHash.shingleHashes(col(textCol), shingleSize).as("tk") +:
      blockCols.map(col): _*)
      .filter(size(col("tk")) > 0)
      .cache()
    guardUnblocked(base, blockCols, maxUnblockedRows, "ngramJaccardPairs")
    val l = base.select(col("id").as("id_a") +: col("tk").as("tk_a") +: blockCols.map(col): _*)
    val r = base.select(col("id").as("id_b") +: col("tk").as("tk_b") +: blockCols.map(col): _*)
    val joined = if (blockCols.nonEmpty) l.join(r, blockCols) else l.crossJoin(r)
    joined.filter(col("id_a") < col("id_b"))
      .withColumn("jaccard",
        graft.expressions.TextHash.jaccardSortedGE(col("tk_a"), col("tk_b"), threshold))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }
}
