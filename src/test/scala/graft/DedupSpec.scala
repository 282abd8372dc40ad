package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup
    (4L, "completely different content about spark query engines and columnar formats"),
    (5L, "another unrelated text describing distributed joins and shuffle exchanges"))
    .toDF("doc_id", "text")

  test("exactGroups keeps min id and counts duplicates") {
    val out = Dedup.exactGroups(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(out.length == 4)
    assert(out(0).getAs[Long]("keep_id") == 1L && out(0).getAs[Long]("n_dups") == 2L)
  }

  test("dropTextDuplicates keeps one representative per distinct text") {
    val out = Dedup.dropTextDuplicates(docs, "doc_id", "text")
    assert(out.count() == 4)
    assert(out.filter(col("doc_id") === 2L).count() == 0)
  }

  test("minhash LSH finds planted exact and near duplicates, verified by jaccard") {
    val pairs = Dedup.minHashNearDuplicates(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 64, bands = 32, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))  // exact dup always survives
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated text never pairs
  }

  test("minhash signature of identical texts is identical") {
    val sigs = docs.filter(col("doc_id").isin(1, 2))
      .select(Dedup.minHashSignature(
        graft.functions.TextFunctions.wordShingles(col("text"), 2), 32).as("sig"))
      .as[Seq[Long]].collect()
    assert(sigs(0) == sigs(1))
  }

  test("simhash: identical texts equal; near-dups within small hamming distance") {
    val h = docs.select(col("doc_id"), Dedup.simHash(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(h(1L) == h(2L))
    val hamming13 = java.lang.Long.bitCount(h(1L) ^ h(3L))
    val hamming14 = java.lang.Long.bitCount(h(1L) ^ h(4L))
    assert(hamming13 < hamming14) // near dup closer than unrelated
    assert(hamming13 <= 16)
  }

  test("simHashNearDuplicates equals brute-force hamming at the radius (both paths)") {
    // Pigeonhole banding promises recall 1.0 within maxHamming; after
    // exact verification, output must EQUAL all-pairs brute force.
    val corpus = sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).unionByName(docs)
    for (portable <- Seq(false, true); k <- Seq(0, 3)) {
      val got = Dedup.simHashNearDuplicates(corpus, "doc_id", "text",
        maxHamming = k, bands = 4, maxBucketSize = 1 << 16,
        portableHash = portable)
        .select("id_a", "id_b", "hamming")
        .as[(Long, Long, Long)].collect().toSet
      val sigCol = if (portable)
        shiftleft(conv(substring(Dedup.simHashHex(col("text")), 1, 8), 16, 10)
          .cast("long"), 32).bitwiseOR(
          conv(substring(Dedup.simHashHex(col("text")), 9, 8), 16, 10).cast("long"))
      else Dedup.simHash(col("text"))
      val sigs = corpus.select(col("doc_id"), sigCol.as("s"))
        .as[(Long, Long)].collect()
      val want = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
        h = java.lang.Long.bitCount(sa ^ sb) if h <= k
      } yield (ia, ib, h.toLong)).toSet
      assert(got == want, s"portable=$portable k=$k got=${got.size} want=${want.size}")
    }
  }

  test("simHashNearDuplicates caps hot buckets and validates parameters") {
    intercept[IllegalArgumentException](
      Dedup.simHashNearDuplicates(docs, "doc_id", "text", maxHamming = 4, bands = 4))
    intercept[IllegalArgumentException](
      Dedup.simHashNearDuplicates(docs, "doc_id", "text", maxHamming = 2, bands = 5))
    // 1+2 are exact dups: with a bucket cap of 1 every bucket with both
    // members overflows and is dropped — no pairs survive.
    val capped = Dedup.simHashNearDuplicates(docs, "doc_id", "text",
      maxHamming = 0, bands = 4, maxBucketSize = 1)
    assert(capped.count() == 0)
  }

  test("hammingBandedPairsFromSigs equals brute force, incl. sign-bit and far-order pairs") {
    // Signatures chosen so numeric sort order separates true near-dups:
    // 1 vs 2 differ ONLY in bit 63 (opposite ends of a signed sort —
    // the pair a sorted-neighborhood window misses), 3 vs 4 differ in
    // 3 low bits, 5 is far from everything.
    val sigs = Seq(
      (1L, 0x0123456789ABCDEFL),
      (2L, 0x0123456789ABCDEFL ^ (1L << 63)),
      (3L, 0x7EDCBA9876543210L),
      (4L, 0x7EDCBA9876543217L),
      (5L, 0x5555AAAA5555AAAAL)).toDF("id", "sig")
    for (k <- Seq(0, 1, 3)) {
      val got = Dedup.hammingBandedPairsFromSigs(sigs, "id", "sig",
        maxHamming = k, bands = 4)
        .select("id_a", "id_b", "hamming")
        .as[(Long, Long, Long)].collect().toSet
      val raw = sigs.as[(Long, Long)].collect()
      val want = (for {
        (ia, sa) <- raw; (ib, sb) <- raw if ia < ib
        h = java.lang.Long.bitCount(sa ^ sb) if h <= k
      } yield (ia, ib, h.toLong)).toSet
      assert(got == want, s"k=$k got=$got want=$want")
    }
    intercept[IllegalArgumentException](
      Dedup.hammingBandedPairsFromSigs(sigs, "id", "sig", maxHamming = 4, bands = 4))
    intercept[IllegalArgumentException](
      Dedup.hammingBandedPairsFromSigs(sigs, "id", "sig", maxHamming = 2, bands = 5))
  }

  test("duplicateClusters: chains collapse into one component, singletons stay") {
    val ids = (1L to 6L).map(Tuple1(_)).toDF("doc_id")
    // chain 1-2, 2-3 → {1,2,3}; pair 4-5 → {4,5}; 6 singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L)
    val local = Dedup.duplicateClusters(ids, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(local == expected)
    // force the distributed hash-min/pointer-jump path; must agree
    val dist = Dedup.duplicateClusters(ids, "doc_id", pairs,
      localEdgeThreshold = 0L).as[(Long, Long)].collect().toMap
    assert(dist == expected)
    // force the big-graph co-bucketed route (round-6 measured regime);
    // must agree bit-for-bit too
    val cb = Dedup.duplicateClusters(ids, "doc_id", pairs,
      localEdgeThreshold = 0L, coBucketEdgeThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(cb == expected)
    // the routed loop's work tables are dropped on exit
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_cc_")))
  }

  test("duplicateClusters shuffle regime: convergence count rides the " +
      "round checkpoint (fused jobs)") {
    // a long path needs many pointer-jump rounds, so maxIterations 1/2/3
    // all run the full round body without early convergence; forcing
    // localEdgeThreshold = 0 drives the mid-scale hash-min shuffle loop
    // (at bench SFs these inputs route to driver union-find, which is
    // why the round-15 fusion there was bench-invisible — VERDICT-r15 #7)
    val n = 32L
    val ids = (1L to n).map(Tuple1(_)).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def run(iters: Int): Int = countJobs {
      Dedup.duplicateClusters(ids, "doc_id", pairs, maxIterations = iters,
        localEdgeThreshold = 0L)
        .orderBy("doc_id").collect()
      ()
    }
    val j1 = run(1); val j2 = run(2); val j3 = run(3)
    // a round is ONE fused checkpoint (changed-count observed in the
    // checkpoint job, GraphTuningSpec proves that primitive is one job)
    // plus its joins' broadcast builds and AQE stage jobs — the exact
    // marginal varies with the round's frontier shape, but it must stay
    // bounded; an unfused loop pays one more full-table action per round
    val m12 = j2 - j1; val m23 = j3 - j2
    assert(m12 <= 7 && m23 <= 7,
      s"per-round marginal job cost too high: jobs=$j1/$j2/$j3")
    // the observed changed-count drives convergence: a path-32 graph
    // converges in << 20 pointer-jump rounds, so raising maxIterations
    // past convergence must not add a single job
    val j20 = run(20); val j40 = run(40)
    assert(j20 == j40,
      s"observed convergence must stop the loop early: jobs(20)=$j20 jobs(40)=$j40")
  }

  test("duplicateClusters: local and distributed paths agree on a random graph") {
    val rnd = new scala.util.Random(23)
    val n = 200L
    val ids = (1L to n).map(Tuple1(_)).toDF("doc_id")
    val pairs = (1 to 150).map { _ =>
      val a = rnd.nextInt(n.toInt) + 1L; val b = rnd.nextInt(n.toInt) + 1L
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val local = Dedup.duplicateClusters(ids, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.duplicateClusters(ids, "doc_id", pairs,
      localEdgeThreshold = 0L).as[(Long, Long)].collect().toMap
    assert(local == dist)
    val cb = Dedup.duplicateClusters(ids, "doc_id", pairs,
      localEdgeThreshold = 0L, coBucketEdgeThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(local == cb)
  }

  test("unblocked ngram pair joins refuse oversized inputs") {
    val many = (1L to 50L).map(i => (i, s"tok$i a b c")).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException](
      Dedup.ngramJaccardPairs(many, "doc_id", "text", Nil,
        threshold = 0.5, maxUnblockedRows = 10L).count())
    assert(e1.getMessage.contains("O(n^2)"))
    val e2 = intercept[IllegalArgumentException](
      Dedup.ngramContainmentPairs(many, "doc_id", "text", Nil,
        threshold = 0.5, maxUnblockedRows = 10L).count())
    assert(e2.getMessage.contains("O(n^2)"))
    // under the cap, the unblocked path still works
    assert(Dedup.ngramJaccardPairs(many.limit(5), "doc_id", "text", Nil,
      threshold = 0.99).count() == 0L)
  }

  test("ngramJaccardPairs finds the near-dup family within blocks") {
    val blocked = docs.withColumn("lang", lit("en"))
    val pairs = Dedup.ngramJaccardPairs(blocked, "doc_id", "text",
      Seq("lang"), threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.contains((4L, 5L)))
  }

  // 40 far-apart base docs (distinct token soup) + a dup planted next to
  // doc 1 in the sort key and a dup of doc 5 planted > windowSize away
  private def snmDocs = {
    val base = (1L to 40L).map(i =>
      (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e", "en", i * 10L))
    val adjacentDup = (41L, base(0)._2, "en", 10L)    // sorts beside doc 1
    val farDup = (42L, base(4)._2, "en", 400L)        // 35 ranks from doc 5
    (base :+ adjacentDup :+ farDup)
      .toDF("doc_id", "text", "lang", "n_chars")
  }

  test("sorted-neighborhood: adjacent planted dup found, far dup missed") {
    val pairs = Dedup.sortedNeighborhoodPairs(snmDocs, "doc_id", "text",
      sortCols = Seq("lang", "n_chars"), windowSize = 8, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 41L)), s"adjacent dup not found: $pairs")
    assert(!pairs.contains((5L, 42L)),
      "window-limited method must miss the far pair — recall trade-off")
  }

  test("sorted-neighborhood is partitioning-independent") {
    val a = Dedup.sortedNeighborhoodPairs(snmDocs.repartition(1), "doc_id",
      "text", Seq("lang", "n_chars"), 8, 64)
      .as[(Long, Long, Long)].collect().toSet
    val b = Dedup.sortedNeighborhoodPairs(snmDocs.repartition(13), "doc_id",
      "text", Seq("lang", "n_chars"), 8, 64)
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
    // candidate volume is N·w by construction; at radius 64 every
    // candidate passes, so the bound is exact on the last-w tail too
    assert(a.size <= 42 * 8)
  }

  test("blockedEditDistancePairs: exact distances, block fence, band cut") {
    val ents = Seq(
      (1L, "acme corp", "x"), (2L, "acme c0rp", "x"), // dist 1
      (3L, "acme incorporated", "x"),                 // far from both
      (4L, "acme corp", "y"),  // identical to 1 but other block → no pair
      (5L, "zcme corp", "y")   // dist 1 from 4 within y
    ).toDF("id", "nm", "blk")
    val got = Dedup.blockedEditDistancePairs(ents, "id", "nm",
      Seq("blk"), maxDist = 2)
      .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._2)).toSeq
    // (1,2) d=1 and (4,5) d=1; (1,3)/(2,3) exceed 2; cross-block (1,4)
    // and the dist-0 (would-be) identical pair never appear
    assert(got == Seq((1L, 2L, 1), (4L, 5L, 1)))
    // banded threshold parity: the 3-arg levenshtein's -1 sentinel must
    // drop pairs exactly where the unbanded distance exceeds maxDist
    // (exact distances hand-verified: (1,3)=8, (2,3)=9)
    val wide = Dedup.blockedEditDistancePairs(ents, "id", "nm",
      Seq("blk"), maxDist = 12)
      .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(wide == Seq((1L, 2L, 1), (1L, 3L, 8), (2L, 3L, 9), (4L, 5L, 1)))
    // unblocked path: allowed under the row cap, refused above it
    val small = Dedup.blockedEditDistancePairs(ents, "id", "nm",
      Seq(), maxDist = 2, maxUnblockedRows = 10L)
      .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(small == Seq((1L, 2L, 1), (1L, 5L, 1), (2L, 4L, 1),
      (2L, 5L, 2), (4L, 5L, 1)))
    intercept[IllegalArgumentException] {
      Dedup.blockedEditDistancePairs(ents, "id", "nm",
        Seq(), maxDist = 2, maxUnblockedRows = 2L).count()
    }
  }
}
