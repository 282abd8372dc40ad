package graft

import graft.operators.{Aggregations, Corpus, Dedup, Enrichment, Graph, GraphTuning, LogIndex, Sessions, Skew}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up evidence harness: runs the heavy operator shapes on 1× and
  * N× copies of the sf0.1 data (keys shifted so cardinalities scale too)
  * and prints per-shape runtimes. The point is the RATIO: a shape whose
  * runtime grows ~linearly with input is cluster-ready; superlinear
  * growth exposes a plan that would not survive 100 TB.
  *
  * Usage: runMain graft.Scale [multiplier] [shapePrefixes]
  *   (default 10; an optional comma list like `triangles,kcore,rolling`
  *   runs only the shapes whose name starts with a listed prefix —
  *   everything else is skipped lazily, nothing is materialized)
  */
object Scale {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val only: Set[String] = args.drop(1).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val spark = GraftSession.local("scale", 32)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Pin the quantile family to its bracket+exact (scale-path) plan:
    // production routing would run the 1x rows one-window and the 10x
    // rows bracket, and a cross-REGIME ratio proves nothing. Scale's
    // job is the growth ratio of the plan that survives 100 TB.
    spark.conf.set("graft.agg.oneWindowRowLimit", "0")

    def amplify(df: DataFrame, keyCols: Seq[String]): DataFrame =
      (0 until mult).map { i =>
        keyCols.foldLeft(df) { (d, k) =>
          d.withColumn(k, col(k) + lit(i.toLong * 100000000L)) }
      }.reduce(_ unionByName _)

    // Each SCALE row also records WHICH regime actually ran (the
    // GraphTuning decision/routing the shape took, with the limit's
    // provenance) — scaling evidence is only meaningful when the
    // regime at each multiplier is known, not assumed.
    def time(name: String)(f: => Long): Unit =
      if (only.nonEmpty && !only.exists(name.startsWith)) ()
      else {
        GraphTuning.resetLast()
        val t0 = System.nanoTime()
        val n = f
        val sec = (System.nanoTime() - t0) / 1e9
        val regime = GraphTuning.lastDecision.map(d =>
          s" regime=${if (d.broadcast) "broadcast" else "shuffle/co-bucketed"}" +
            s" limitSource=${d.limitSource}")
          .orElse(GraphTuning.lastRouting.map(msg =>
            " regime=" + msg.split("regime=").lift(1).map(_.takeWhile(_ != ' '))
              .getOrElse("?") + " limitSource=routing"))
          .getOrElse("")
        println(f"SCALE $name rows=$n%d sec=$sec%.2f$regime")
      }

    val li1 = Tables.lineitem(spark, dir)
    val liN = amplify(li1, Seq("l_orderkey"))
    val ev1 = Tables.events(spark, dir)
    val evN = amplify(ev1, Seq("event_id", "user_id"))

    def enrichShape(li: DataFrame): Long = {
      val txns = LogIndex.addLogIndex(
        li.select(col("l_orderkey").as("transaction_id"), col("l_linenumber"),
          col("l_partkey").as("token_address"),
          col("l_extendedprice").as("coin_value"), col("l_tax").as("fee"),
          (col("l_linenumber") % 3).as("type"), col("l_shipdate")),
        "transaction_id",
        Seq("l_shipdate" -> true, "l_linenumber" -> true,
          "token_address" -> true, "coin_value" -> true, "fee" -> true))
      val part = Tables.part(spark, dir)
      val meta = part.select(col("p_partkey").as("token_address"),
        col("p_brand").as("symbol"), (col("p_size") % 4).as("decimals"))
      val price = part.groupBy(col("p_brand").as("symbol"))
        .agg((max(col("p_retailprice")) / 1000.0).as("coin_price_usd"))
      Enrichment.enrich(txns, Enrichment.dims(meta, price), tronFeeRule = true).count()
    }

    def aggShape(ev: DataFrame): Long =
      Aggregations.transactionsAgg(ev.select(
        col("user_id").as("transaction_id"),
        (col("event_id") % 3).cast("int").as("type"),
        col("value").as("coin_value"), (col("value") * 1.5).as("coin_value_usd"),
        (col("value") * 0.25).as("fee"), (col("value") * 0.375).as("fee_usd"),
        col("ts").cast("date").as("block_date_time"))).count()

    def saltShape(ev: DataFrame): Long =
      Skew.saltedAggregate(ev.select(col("event_type"), col("value")),
        Seq("event_type"),
        Seq(Skew.SaltedAgg(col("value").cast("decimal(28,10)"), "sum", "s"),
          Skew.count_("n")), buckets = 64).count()

    def minhashShape(docs: DataFrame): Long =
      Dedup.minHashNearDuplicates(docs, "doc_id", "text", shingleSize = 2,
        numHashes = 64, bands = 32, threshold = 0.10, exactVerify = false).count()

    val docs1 = Tables.documents(spark, dir)
    val docsN = (0 until mult).map(i =>
      docs1.withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L))
        .withColumn("text", concat(col("text"), lit(" tail" + i)))
    ).reduce(_ unionByName _)

    println(s"== multiplier $mult, base $dir ==")
    time("enrich_1x") { enrichShape(li1) }
    time(s"enrich_${mult}x") { enrichShape(liN) }
    time("txnagg_1x") { aggShape(ev1) }
    time(s"txnagg_${mult}x") { aggShape(evN) }
    time("saltagg_1x") { saltShape(ev1) }
    time(s"saltagg_${mult}x") { saltShape(evN) }
    time("minhash_1x") { minhashShape(docs1) }
    time(s"minhash_${mult}x") { minhashShape(docsN) }

    // incremental near-dup, the 10x BATCH axis with the STORE HELD
    // constant (VERDICT r12 #1): the signed batch broadcast is routed
    // by a proven row bound, and the forced-shuffle arm exercises the
    // over-budget fallback (shuffle band join) on the same inputs.
    // Store built once in its OWN timed arm — the axis is the batch,
    // not store signing (a prefix filter of `incdedup` runs all four).
    var incStore: DataFrame = null
    time("incdedup_store_build") {
      incStore = Dedup.signatureStore(
        docs1.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
        .localCheckpoint(true)
      incStore.count()
    }
    def incdedupShape(batch: DataFrame): Long =
      Dedup.incrementalNearDuplicates(incStore, batch, "doc_id", "text",
        threshold = 0.10).count()
    time("incdedup_1x") { incdedupShape(docs1.filter(col("doc_id") % 10 === 0)) }
    time(s"incdedup_${mult}x") { incdedupShape(docsN.filter(col("doc_id") % 10 === 0)) }
    time(s"incdedup_shuffle_${mult}x") {
      spark.conf.set("graft.dedup.broadcastBatchBytes", "0")
      try incdedupShape(docsN.filter(col("doc_id") % 10 === 0))
      finally spark.conf.unset("graft.dedup.broadcastBatchBytes")
    }
    // IVF probe-index, the 10x BATCH axis with the STORE HELD constant
    // (VERDICT r13 #1, the q218 axis applied to the embedding side):
    // the probe-batch broadcast is routed by the proven-fit license;
    // the forced arm exercises the over-budget fallback (shuffle hash
    // join on cell — the store stays scan-pruned) on the same inputs.
    // Index built once in its OWN timed arm, the incdedup pattern.
    var ivfCent: DataFrame = null
    var ivfAsg: DataFrame = null
    time("ivfprobe_index_build") {
      val (c0, a0) = graft.operators.Ann.ivfIndex(
        Tables.embeddings(spark, dir).filter(col("vec_id") % 10 =!= 0),
        nCentroids = 32, initById = true)
      ivfCent = c0.localCheckpoint(true)
      ivfAsg = a0.localCheckpoint(true)
      ivfAsg.count()
    }
    val probe1 = Tables.embeddings(spark, dir).filter(col("vec_id") % 10 === 0)
    val probeN = (0 until mult).map(i =>
        probe1.withColumn("vec_id", col("vec_id") + lit(i.toLong * 100000000L)))
      .reduce(_ unionByName _)
    def ivfProbeShape(batch: DataFrame): Long =
      graft.operators.Ann.ivfProbeIndex(ivfCent, ivfAsg, batch,
        k = 5, nProbe = 4).count()
    time("ivfprobe_1x") { ivfProbeShape(probe1) }
    time(s"ivfprobe_${mult}x") { ivfProbeShape(probeN) }
    time(s"ivfprobe_shuffle_${mult}x") {
      spark.conf.set(graft.operators.Ann.BroadcastBatchBytesKey, "0")
      try ivfProbeShape(probeN)
      finally spark.conf.unset(graft.operators.Ann.BroadcastBatchBytesKey)
    }
    // Composed IVF∘PQ probe on the same axis — candidate work bounded
    // by the probed cells, codes-only scan; forced arm = the same
    // shuffle cell-join fallback (the composition IS pqProbeIndex's
    // scale path).
    var pqCent: DataFrame = null
    var pqCbk: DataFrame = null
    var pqCodes: DataFrame = null
    time("ivfpqprobe_index_build") {
      val (c0, b0, k0) = graft.operators.Ann.ivfPqIndex(
        Tables.embeddings(spark, dir).filter(col("vec_id") % 10 =!= 0),
        nCentroids = 32, numSubspaces = 8, codebookSize = 16,
        initById = true)
      pqCent = c0.localCheckpoint(true)
      pqCbk = b0.localCheckpoint(true)
      pqCodes = k0.localCheckpoint(true)
      pqCodes.count()
    }
    def ivfPqProbeShape(batch: DataFrame): Long =
      graft.operators.Ann.ivfPqProbeIndex(pqCent, pqCbk, pqCodes, batch,
        k = 5, nProbe = 4).count()
    time("ivfpqprobe_1x") { ivfPqProbeShape(probe1) }
    time(s"ivfpqprobe_${mult}x") { ivfPqProbeShape(probeN) }
    time(s"ivfpqprobe_shuffle_${mult}x") {
      spark.conf.set(graft.operators.Ann.BroadcastBatchBytesKey, "0")
      try ivfPqProbeShape(probeN)
      finally spark.conf.unset(graft.operators.Ann.BroadcastBatchBytesKey)
    }
    // vocabulary = explode → partial+final agg: shuffle bytes O(|vocab|),
    // so N× corpus at ~constant vocab must scale by scan cost only
    time("vocab_1x") { Corpus.vocabulary(docs1, "text", 1000).count() }
    time(s"vocab_${mult}x") { Corpus.vocabulary(docsN, "text", 1000).count() }
    // pagerank: N× orderkeys share the part-node space, so the amplified
    // graph has 10× edges AND 10× hotter part-node degrees — exercises
    // the iteration loop under skew, not just under volume
    def pagerankShape(li: DataFrame): Long = {
      val pairs = li.select((col("l_orderkey") * 2).as("o"),
        (col("l_partkey") * 2 + 1).as("p")).distinct()
      val edges = pairs.select(col("o").as("src"), col("p").as("dst"))
        .unionByName(pairs.select(col("p").as("src"), col("o").as("dst")))
      Graph.pageRankFixedPoint(edges, iterations = 3, symmetric = true).count()
    }
    time("pagerank_1x") { pagerankShape(li1) }
    time(s"pagerank_${mult}x") { pagerankShape(liN) }
    // co-bucketed big-graph regime: the edge table shuffles ONCE at
    // layout; each round is a bucketed join (zero Exchange) + one
    // narrow (dst, c) agg — growth must track the layout write, with
    // the per-round cost rank-table-bound
    def pagerankBucketShape(li: DataFrame): Long = {
      val pairs = li.select((col("l_orderkey") * 2).as("o"),
        (col("l_partkey") * 2 + 1).as("p")).distinct()
      val edges = pairs.select(col("o").as("src"), col("p").as("dst"))
        .unionByName(pairs.select(col("p").as("src"), col("o").as("dst")))
      Graph.pageRankCoBucketed(edges, iterations = 3).count()
    }
    time("pagerank_cobucket_1x") { pagerankBucketShape(li1) }
    time(s"pagerank_cobucket_${mult}x") { pagerankBucketShape(liN) }
    // cross-source overlap (q97 shape): the self-join runs on distinct
    // (source, gram) pairs — N× corpus with a ~fixed source set must be
    // tokenize/distinct-bound, not join-bound
    def overlapShape(docs: DataFrame): Long = {
      val sh = docs.select(col("source"),
        explode(graft.expressions.TextHash.shingleHashes31(col("text"), 8))
          .as("g")).distinct()
      sh.as("a").join(sh.as("b"), Seq("g"))
        .filter(col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared")).count()
    }
    time("srcoverlap_1x") { overlapShape(docs1) }
    time(s"srcoverlap_${mult}x") { overlapShape(docsN) }
    // staged funnel (q100 shape): chained conditional-min partial aggs
    // on the session key — no per-session sort/collect anywhere, so N×
    // events must stay agg-bound
    def funnelShape(ev: DataFrame): Long = {
      val sess = Sessions.sessionize(ev.select("user_id", "ts_ns", "event_type"),
        "user_id", "ts_ns", gapNanos = 3600L * 1000000000L)
      val v = sess.groupBy("user_id", "session_id")
        .agg(min(when(col("event_type") === "view", col("ts_ns"))).as("t_view"))
        .filter(col("t_view").isNotNull)
      val c = sess.join(v, Seq("user_id", "session_id"))
        .filter(col("event_type") === "click" && col("ts_ns") > col("t_view"))
        .groupBy("user_id", "session_id").agg(min("ts_ns").as("t_click"))
      val p = sess.join(c, Seq("user_id", "session_id"))
        .filter(col("event_type") === "purchase" && col("ts_ns") > col("t_click"))
        .groupBy("user_id", "session_id").agg(min("ts_ns").as("t_purchase"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_full_funnel"))).count()
    }
    time("funnel_1x") { funnelShape(ev1) }
    time(s"funnel_${mult}x") { funnelShape(evN) }
    // CMS sketch (q101 shape, post-single-scan fix): one tokenize pass
    // into a distinct-token frequency table; counters and top-20 both
    // derive from it — growth must track the tokenize scan
    def cmsShape(docs: DataFrame): Long = {
      val freq = docs.select(explode(graft.functions.TextFunctions
          .tokens(lower(trim(col("text"))))).as("tok"))
        .filter(col("tok") =!= "").groupBy("tok").agg(count(lit(1)).as("n"))
      def bucket(tok: Column, r: Column): Column =
        pmod(conv(substring(md5(concat(tok, lit("#"), r.cast("string"))
          .cast("binary")), 1, 8), 16, 10).cast("bigint"), lit(1024L))
      val rowIds = array((0 until 4).map(lit(_)): _*)
      val counters = freq.select(col("tok"), col("n"), explode(rowIds).as("r"))
        .select(col("r"), bucket(col("tok"), col("r")).as("bucket"), col("n"))
        .groupBy("r", "bucket").agg(sum(col("n")).as("c"))
      freq.orderBy(col("n").desc, col("tok").asc).limit(20)
        .select(col("tok"), col("n"), explode(rowIds).as("r"))
        .select(col("tok"), col("n"), col("r"),
          bucket(col("tok"), col("r")).as("bucket"))
        .join(counters, Seq("r", "bucket"))
        .groupBy("tok", "n").agg(min(col("c")).as("cms_estimate")).count()
    }
    time("cms_1x") { cmsShape(docs1) }
    time(s"cms_${mult}x") { cmsShape(docsN) }
    // simhash radius (q102 shape): banded candidates with the hot-bucket
    // cap active — N× templated corpus makes buckets hotter, the cap
    // keeps candidate volume bounded
    def simhashShape(docs: DataFrame): Long =
      Dedup.simHashNearDuplicates(docs, "doc_id", "text",
        maxHamming = 3, bands = 4, maxBucketSize = 256).count()
    time("simhash_radius_1x") { simhashShape(docs1) }
    time(s"simhash_radius_${mult}x") { simhashShape(docsN) }
    time("tfidf_1x") { Corpus.tfIdfTopK(docs1, "doc_id", "text", 5).count() }
    time(s"tfidf_${mult}x") { Corpus.tfIdfTopK(docsN, "doc_id", "text", 5).count() }
    // broadcast as-of: the probe side is amplified N×, the broadcast
    // timeline stays fixed — runtime must scale by probe scan cost only
    // (no exchange, no sort; the window realization would re-sort N×)
    def asofShape(ev: DataFrame): Long = {
      val probes = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts_ns")
      val timeline = ev1.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_ns"), col("value").as("pv"))
      operators.AsOfJoin.asofBroadcast(probes, timeline,
        Seq("user_id"), "ts_ns", Seq("pv")).count()
    }
    time("asof_bcast_1x") { asofShape(ev1) }
    time(s"asof_bcast_${mult}x") { asofShape(evN.withColumn("user_id",
      col("user_id") % lit(100000000L))) } // keep probe keys in the timeline key space
    // bounded-heap top-k: group count scales N×, per-group state stays k
    def topkShape(ev: DataFrame): Long =
      ev.filter(col("event_type") === "purchase").groupBy("user_id")
        .agg(expressions.TopKHeap.topKPairs(col("value"), col("event_id"), 3)
          .as("top")).count()
    time("topk_agg_1x") { topkShape(ev1) }
    time(s"topk_agg_${mult}x") { topkShape(evN) }
    // distributed prefix sum: N× rows through the carry pass — must be
    // scan-bound (the offsets stage is P longs regardless of N)
    def prefixShape(ev: DataFrame): Long =
      operators.PrefixSum.globalRunningSum(
        ev.select(col("event_id"), col("value").cast("long").as("v")),
        "event_id", "v", "cum").count()
    time("prefixsum_1x") { prefixShape(ev1) }
    time(s"prefixsum_${mult}x") { prefixShape(evN) }
    // bloom prune (q103 shape): probe side scales N×, the filter build
    // stays dim-bound and the probe is a zero-shuffle scan predicate —
    // runtime must track the fact scan
    def bloomShape(li: DataFrame): Long = {
      val dim = Tables.part(spark, dir).filter(col("p_size") <= 5)
        .select("p_partkey")
      operators.Bloom.pruneJoin(li, "l_partkey", dim, "p_partkey",
        mBits = 1 << 16).count()
    }
    time("bloom_prune_1x") { bloomShape(li1) }
    time(s"bloom_prune_${mult}x") { bloomShape(liN) }
    // kmv sketch (q104 shape) keyed on the AMPLIFIED key: the distinct
    // shuffle carries O(ndv) rows (ndv grows N×), the heap agg stays
    // O(groups·k) — growth must be distinct-bound, never sort-bound
    def kmvShape(li: DataFrame): Long =
      operators.Sketch.kmvDistinct(li, "l_orderkey", Seq("l_returnflag"),
        k = 256).count()
    time("kmv_1x") { kmvShape(li1) }
    time(s"kmv_${mult}x") { kmvShape(liN) }
    // span dedup (q107 shape): the N× corpus repeats every span body N
    // times (copies differ only at the tail), so hash-window duplicate
    // clusters grow to ~N members — the worst case for the
    // first-occurrence window, which must stay cluster-sized
    def spanShape(docs: DataFrame): Long =
      Dedup.spanDedup(docs, "doc_id", "text", spanTokens = 8).count()
    time("spandedup_1x") { spanShape(docs1) }
    time(s"spandedup_${mult}x") { spanShape(docsN) }
    // collocations (q106 shape): bigram/unigram aggs are vocab-bound —
    // N× corpus at ~fixed vocab must be scan/agg-bound with tiny
    // broadcasts either way
    def collocShape(docs: DataFrame): Long =
      Corpus.collocations(docs, "text", minPairCount = 3L,
        liftNum = 13L, liftDen = 10L).count()
    time("colloc_1x") { collocShape(docs1) }
    time(s"colloc_${mult}x") { collocShape(docsN) }

    // Degree-oriented triangle counting on the co-order supplier graph
    // (q111). Suppliers shift WITH orders so the amplified input is mult
    // disjoint copies of the graph — nodes, edges and triangles all ×mult;
    // the orientation's O(m^1.5) wedge bound is what must hold.
    def triangleShape(li: DataFrame): Long =
      Graph.triangleCounts(Graph.coOccurrenceEdges(
        li.select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
        "o", "p", maxGroupSize = 8)).count()
    val liT = amplify(li1, Seq("l_orderkey", "l_partkey"))
    time("triangles_1x") { triangleShape(li1) }
    time(s"triangles_${mult}x") { triangleShape(liT) }

    // Synchronous LPA on the doubled co-order part graph (q114 shape):
    // mult disjoint graph copies, 3 rounds each.
    def lpaShape(li: DataFrame): Long = {
      val canon = Graph.coOccurrenceEdges(
        li.select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
        "o", "p", maxGroupSize = 8).distinct()
      Graph.labelPropagation(canon.unionByName(
        canon.select(col("dst").as("src"), col("src").as("dst"))), 3).count()
    }
    time("labelprop_1x") { lpaShape(li1) }
    time(s"labelprop_${mult}x") { lpaShape(liT) }

    // k-core peeling (q122 shape): mult disjoint copies of the co-order
    // part graph — every round's degree agg and survivor semi-joins scale
    // with the edge count, and the broadcast regime flips to shuffle
    // semi-joins once 2m crosses broadcastNodeLimit (exercised at 20x).
    def kcoreShape(li: DataFrame): Long =
      Graph.kCore(Graph.coOccurrenceEdges(
        li.select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
        "o", "p", maxGroupSize = 8), k = 3, maxRounds = 4).count()
    time("kcore_1x") { kcoreShape(li1) }
    time(s"kcore_${mult}x") { kcoreShape(liT) }

    // interval overlap join (q123 shape): bin equi-join against the tiny
    // broadcast window dim — fact side never shuffles, cost is the scan
    // plus the ~(span/binWidth + 1) bin explosion
    def intervalShape(li: DataFrame): Long = {
      val sup = Tables.supplier(spark, dir)
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey").as("nk"))
      val facts = li.join(broadcast(sup), Seq("l_suppkey"))
        .select(col("nk"), col("l_orderkey"),
          to_date(col("l_shipdate")).as("ls"),
          date_add(to_date(col("l_shipdate")),
            col("l_quantity").cast("int") % 28).as("le"))
      val win = Tables.nation(spark, dir)
        .select(col("n_nationkey").as("nk"),
          explode(sequence(lit(0), lit(3))).as("w"))
        .select(col("nk"), col("w"),
          date_add(to_date(lit("1992-01-01")),
            col("nk").cast("int") * 30 + col("w").cast("int") * 400).as("ws"))
        .withColumn("we", date_add(col("ws"), 45))
      operators.IntervalJoin.overlapJoin(facts, win, "ls", "le", "ws", "we",
        keyCols = Seq("nk"), binWidth = 64L, broadcastRight = true).count()
    }
    time("intervaljoin_1x") { intervalShape(li1) }
    time(s"intervaljoin_${mult}x") { intervalShape(liN) }

    // CDC merge (q124 shape): object-hash latest-by-key — shuffle bytes
    // bounded by distinct keys per map task, so N× changelog over the
    // same key space must grow by scan cost, not shuffle cost
    def mergeShape(ev: DataFrame): Long = {
      val base = Tables.customer(spark, dir)
        .select(col("c_custkey").as("k"), col("c_acctbal").as("v"))
      val chg = ev.select(col("user_id").as("k"), col("value").as("v"),
        col("event_id").as("seq"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"))
      operators.Merge.mergeChangelog(base, chg, Seq("k"), "seq", "op",
        baseSeq = -1L).count()
    }
    time("cdcmerge_1x") { mergeShape(ev1) }
    time(s"cdcmerge_${mult}x") { mergeShape(evN) }

    // personalized PageRank (q125 shape): rank state is frontier-sized;
    // N× disjoint-ish graph with N× seeds ⇒ state and edges both ×N,
    // per-round cost must stay ~linear
    def pprShape(li: DataFrame): Long = {
      val pairs = li.select((col("l_orderkey") * 2).as("o"),
        (col("l_partkey") * 2 + 1).as("p")).distinct()
      val edges = pairs.select(col("o").as("src"), col("p").as("dst"))
        .unionByName(pairs.select(col("p").as("src"), col("o").as("dst")))
      val seeds = pairs.select(col("o").as("id")).filter(col("id") % 50 === 0)
      Graph.personalizedPageRank(edges, seeds, iterations = 3).count()
    }
    time("ppr_1x") { pprShape(li1) }
    time(s"ppr_${mult}x") { pprShape(liT) }

    // rolling range-frame window (q128 shape): pre-agg to (user, day)
    // shrinks the window input; N× events over N× users keeps per-user
    // partitions constant
    def rollingShape(ev: DataFrame): Long = {
      import org.apache.spark.sql.expressions.Window
      val daily = ev.groupBy(col("user_id"),
          expr("ts_ns div 86400000000000").as("day"))
        .agg(sum(col("value").cast("decimal(28,10)")).as("d"))
      val w = Window.partitionBy("user_id").orderBy("day").rangeBetween(-6, 0)
      daily.select(col("user_id"), col("day"),
        sum(col("d")).over(w).cast("double").as("r")).count()
    }
    time("rolling_1x") { rollingShape(ev1) }
    time(s"rolling_${mult}x") { rollingShape(evN) }

    // BPE training (q116 shape): amplified docs repeat the same text, so
    // the vocab — and with it EVERY per-round cost — is identical at
    // mult×; only the one corpus scan grows. That invariance is the
    // operator's whole scale claim.
    def bpeShape(docs: DataFrame): Long =
      operators.Bpe.trainMerges(docs, "text", steps = 3).count()
    time("bpe_1x") { bpeShape(docs1) }
    time(s"bpe_${mult}x") { bpeShape(docsN) }

    // BPE train-then-encode (q139 shape): one cached tokenize feeds
    // trainer and encoder; the width join is a vocab-keyed shuffle, so
    // N× docs over the same vocab grow only the scan and the doc rollup
    def bpeEncShape(docs: DataFrame): Long =
      operators.Bpe.encodeCounts(docs, "doc_id", "text", steps = 3).count()
    time("bpeenc_1x") { bpeEncShape(docs1) }
    time(s"bpeenc_${mult}x") { bpeEncShape(docsN) }

    // int8 Gram matrix (q140 shape, GramUpperTriangleAgg formulation):
    // quantization is a scan-stage array kernel and the 2080 cells
    // accumulate in one 16.6 KB buffer per partition — the ONLY thing
    // shuffled is P partial buffers regardless of row count, so the
    // runtime must track the scan and nothing else
    val emb1 = Tables.embeddings(spark, dir)
    val embN = amplify(emb1, Seq("vec_id"))
    def gramShape(emb: DataFrame): Long = {
      val q = emb
        .select(col("vec_id"), expr(
          "aggregate(embedding, CAST(0.0 AS DOUBLE), " +
            "(m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))").as("maxabs"),
          col("embedding"))
        .filter(col("maxabs") > 0)
        .select(expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0" +
            " / maxabs + 0.5) AS BIGINT))").as("q"))
      q.agg(expressions.GramAggregate.gramUpperTriangle(col("q")).as("cells"))
        .select(explode(col("cells")).as("cell")).count()
    }
    time("gram_1x") { gramShape(emb1) }
    time(s"gram_${mult}x") { gramShape(embN) }

    // multi-source BFS (q136 shape): frontier-based — per-round join
    // input is last round's discoveries only; amplified graph = mult
    // disjoint copies with mult× seeds, so frontier AND edges both ×N
    // and per-round cost must stay ~linear
    def bfsShape(li: DataFrame): Long = {
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      val edges = fwd
        .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val seeds = li.filter(col("l_partkey") % 97 === 0)
        .select((col("l_partkey") * 2 + 1).as("id")).distinct()
      Graph.bfsDistances(edges, seeds, maxHops = 4).count()
    }
    time("bfs_1x") { bfsShape(li1) }
    time(s"bfs_${mult}x") { bfsShape(liT) }

    // bit-packed multi-source BFS: the 64-landmark mask state is 64×
    // denser than per-source frontier rows, so the broadcast regime
    // must stretch much further than k separate BFS runs would
    def msbfsShape(li: DataFrame): Long = {
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      val edges = fwd
        .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val seeds = li.filter(col("l_partkey") % 97 === 0)
        .select((col("l_partkey") * 2 + 1).as("id")).distinct()
        .orderBy("id").limit(16)
      Graph.multiSourceBfs(edges, seeds, maxHops = 2).count()
    }
    time("msbfs_1x") { msbfsShape(li1) }
    time(s"msbfs_${mult}x") { msbfsShape(liT) }

    // time-respecting earliest arrival: temporal Bellman-Ford over the
    // user↔entity interaction graph (frontier = improved nodes only)
    def temporalShape(ev: DataFrame): Long = {
      val base = ev
        .filter(get_json_object(col("props"), "$.k").isNotNull)
        .select((col("user_id") * 2).as("u"),
          (get_json_object(col("props"), "$.k").cast("long") * 2 + 1)
            .as("kk"),
          expr("ts_ns div 1000").as("t"))
      val edges = base
        .select(col("u").as("src"), col("kk").as("dst"), col("t"))
        .unionByName(
          base.select(col("kk").as("src"), col("u").as("dst"), col("t")))
      val seeds = ev.filter(col("user_id") % 17 === 0)
        .select((col("user_id") * 2).as("id")).distinct()
      Graph.temporalEarliestArrival(edges, seeds, maxRounds = 3).count()
    }
    time("temporal_1x") { temporalShape(ev1) }
    time(s"temporal_${mult}x") { temporalShape(evN) }

    // HITS (q131 shape): two cached edge layouts (by src / by dst) make
    // each half-round a broadcast join + exchange-free agg; N× disjoint
    // copies grow the score tables and edges together — per-round cost
    // must stay ~linear, the edge tables must never re-shuffle
    def hitsShape(li: DataFrame): Long =
      Graph.hits(
        li.select((col("l_orderkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst")).distinct(),
        iterations = 2).count()
    time("hits_1x") { hitsShape(li1) }
    time(s"hits_${mult}x") { hitsShape(liT) }

    // weighted SSSP (q150 shape): delta-frontier Bellman-Ford — mult
    // disjoint graph copies with mult× seeds: frontier, best table and
    // edges all ×N, so per-round cost must stay ~linear (the O(reached)
    // best rewrite is the watched term)
    def ssspShape(li: DataFrame): Long = {
      val e0 = li.groupBy((col("l_orderkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
        .agg(min(col("l_linenumber") % 5 + 1).cast("long").as("w"))
      val edges = e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      val seeds = li.filter(col("l_partkey") % 97 === 0)
        .select((col("l_partkey") * 2 + 1).as("id")).distinct()
      Graph.ssspDistances(edges, seeds, maxRounds = 4).count()
    }
    time("sssp_1x") { ssspShape(li1) }
    time(s"sssp_${mult}x") { ssspShape(liT) }

    // deterministic walks (q152 shape): walk state is SEED-sized and
    // mult disjoint copies multiply walks and edges together — the
    // per-step join + argmin agg must stay ~linear
    def walksShape(li: DataFrame): Long = {
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst"))).distinct()
      val seeds = li.filter(col("l_partkey") % 97 === 0)
        .select((col("l_partkey") * 2 + 1).as("id")).distinct()
      Graph.deterministicWalks(edges, seeds, steps = 3).count()
    }
    time("walks_1x") { walksShape(li1) }
    time(s"walks_${mult}x") { walksShape(liT) }

    // image dHash (q153 shape): encode+decode+hash all scan-stage,
    // payloads never shuffle, the agg input is (id, hash) — growth must
    // be decode-bound (linear in images)
    def dhashShape(docs: DataFrame): Long =
      graft.multimodal.Multimodal.imageDHash(
        graft.multimodal.Multimodal.fromSyntheticImages(docs)).count()
    time("dhash_1x") { dhashShape(docs1) }
    time(s"dhash_${mult}x") { dhashShape(docsN) }

    // exact heavy hitters (q151 shape): the Misra-Gries pass emits
    // partitions×capacity summary rows regardless of corpus size and
    // the exact pass is scan + broadcast semi-join + O(candidates)
    // agg — the N× corpus at ~fixed vocab must stay scan-bound
    def hhShape(docs: DataFrame): Long =
      Corpus.heavyHitters(docs, "text", thresholdPpm = 25000L,
        capacity = 4096).count()
    time("heavyhitters_1x") { hhShape(docs1) }
    time(s"heavyhitters_${mult}x") { hhShape(docsN) }

    // co-bucketed crossovers: same shapes as labelprop/bfs above
    // but in the bucketed-table regime — the edge table shuffles once at
    // layout and each round plans ≤ 1 Exchange; growth must track the
    // layout write, with per-round cost state-bound
    def lpaBucketShape(li: DataFrame): Long = {
      val canon = Graph.coOccurrenceEdges(
        li.select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
        "o", "p", maxGroupSize = 8).distinct()
      Graph.labelPropagationCoBucketed(canon.unionByName(
        canon.select(col("dst").as("src"), col("src").as("dst"))), 3).count()
    }
    time("labelprop_cobucket_1x") { lpaBucketShape(li1) }
    time(s"labelprop_cobucket_${mult}x") { lpaBucketShape(liT) }

    def bfsBucketShape(li: DataFrame): Long = {
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      val edges = fwd
        .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val seeds = li.filter(col("l_partkey") % 97 === 0)
        .select((col("l_partkey") * 2 + 1).as("id")).distinct()
      Graph.bfsDistancesCoBucketed(edges, seeds, maxHops = 4).count()
    }
    time("bfs_cobucket_1x") { bfsBucketShape(li1) }
    time(s"bfs_cobucket_${mult}x") { bfsBucketShape(liT) }

    // connected components (dedup-clustering backbone): the plain
    // shuffle loop (duplicateClusters' distributed regime, called
    // directly so the A/B stays honest regardless of how
    // duplicateClusters routes)
    // vs the co-bucketed regime (edges shuffle once at layout; 2
    // node-sized exchanges per round). Warm interleaved A/B: the
    // shuffle loop wins at local[32] scales; the co-bucketed loop's
    // case is cluster-scale edge tables whose per-round re-shuffle is
    // the bottleneck.
    def ccEdges(li: DataFrame): DataFrame = {
      val canon = Graph.coOccurrenceEdges(
        li.select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
        "o", "p", maxGroupSize = 8).distinct()
      canon.unionByName(
        canon.select(col("dst").as("src"), col("src").as("dst")))
    }
    def ccShuffleLoopShape(li: DataFrame): Long =
      Graph.ccShuffleLoop(ccEdges(li).localCheckpoint(true), 20).count()
    time("cc_shuffleloop_1x") { ccShuffleLoopShape(li1) }
    time(s"cc_shuffleloop_${mult}x") { ccShuffleLoopShape(liT) }
    def ccBucketShape(li: DataFrame): Long =
      Graph.connectedComponentsCoBucketed(ccEdges(li)).count()
    time("cc_cobucket_1x") { ccBucketShape(li1) }
    time(s"cc_cobucket_${mult}x") { ccBucketShape(liT) }

    def hitsBucketShape(li: DataFrame): Long =
      Graph.hitsCoBucketed(
        li.select((col("l_orderkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst")).distinct(),
        iterations = 2).count()
    time("hits_cobucket_1x") { hitsBucketShape(li1) }
    time(s"hits_cobucket_${mult}x") { hitsBucketShape(liT) }

    // KMV set algebra (q141 shape): after the two base scans everything
    // is k-sized array math on one row — N× keys change the estimates,
    // not the work profile beyond the scans
    def kmvOpsShape(ev: DataFrame): Long =
      operators.Sketch.kmvSetOps(
        ev.filter(col("event_type") === "view").select(col("user_id")),
        ev.filter(col("event_type") === "click").select(col("user_id")),
        "user_id", k = 256).count()
    time("kmvops_1x") { kmvOpsShape(ev1) }
    time(s"kmvops_${mult}x") { kmvOpsShape(evN) }

    // exact weighted median (q142 shape): the window sorts one row per
    // distinct value — N× lineitems over the same price grid grow the
    // collapse scan, not the window
    def wmedShape(li: DataFrame): Long =
      operators.Aggregations.weightedMedian(
        li.select(col("l_returnflag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty")),
        Seq("l_returnflag"), "price_c", "qty").count()
    time("wmedian_1x") { wmedShape(li1) }
    time(s"wmedian_${mult}x") { wmedShape(liN) }

    // spectral power iteration (q171 shape): the quantized triple store
    // caches once; each round is one (vid)-keyed agg + one (pos)-keyed
    // agg with the d-row iterate BROADCAST into the scan (no GraphTuning
    // regime — the iterate state is d rows at any corpus size), so N×
    // vectors must scale by the two matvec aggs, ~linearly
    def spectralShape(e: DataFrame): Long =
      operators.Spectral.dominantDirection(e, "vec_id", "embedding",
        rounds = 2).count()
    time("spectral_1x") { spectralShape(emb1) }
    time(s"spectral_${mult}x") { spectralShape(embN) }

    // integer Lloyd assignment (q159 shape): centroids are a k-row
    // driver-collected state per round (the licensed k-bounded collect);
    // assignment is scan-stage Column math + one k-row agg — N× vectors
    // must stay scan-bound
    def kmeansShape(e: DataFrame): Long =
      operators.KMeans.integerLloydAssign(e, "vec_id", "embedding", k = 8,
        rounds = 2, scale = 1000).count()
    time("kmeans_1x") { kmeansShape(emb1) }
    time(s"kmeans_${mult}x") { kmeansShape(embN) }

    // farthest-point coreset (q235 shape): k scans against selected-
    // center literals, each into a top-1 TakeOrderedAndProject, plus
    // the census scan — N× vectors must stay scan-bound (no shuffle of
    // the corpus at any round)
    def fpsShape(e: DataFrame): Long =
      operators.KMeans.farthestPointSample(e, "vec_id", "embedding",
        k = 8, scale = 1000).count()
    time("fps_1x") { fpsShape(emb1) }
    time(s"fps_${mult}x") { fpsShape(embN) }

    // IVF hot-cell split (q236 shape): trigger pass is a cell-only
    // count; member work (seeding, reassign, re-center) touches hot
    // cells only — N× corpus with the same nCells makes every cell hot
    // and ~N× bigger, so the split machinery itself must scale ~linear
    def ivfsplitShape(e: DataFrame): Long = {
      val (cent, asg) = operators.Ann.ivfIndex(e, nCentroids = 8,
        initById = true)
      val n = e.count()
      val (census, _, _) = operators.Ann.splitHotCells(
        cent.localCheckpoint(true), asg.localCheckpoint(true),
        maxCellRows = n / 8L)
      census.count()
    }
    time("ivfsplit_1x") { ivfsplitShape(emb1) }
    time(s"ivfsplit_${mult}x") { ivfsplitShape(embN) }

    // walk co-occurrence (q237 shape): pairs ride ONE lead-array window
    // over the walk table; mult disjoint graph copies multiply walks,
    // positions, and pairs together — window + two count aggs must
    // stay ~linear (the scalar T/P totals are one-row broadcasts)
    def walkcoocShape(li: DataFrame): Long = {
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst"))).distinct()
      val seeds = li.filter(col("l_partkey") % 97 === 0)
        .select((col("l_partkey") * 2 + 1).as("id")).distinct()
      Graph.walkCooccurrence(edges, seeds, steps = 4, window = 2).count()
    }
    time("walkcooc_1x") { walkcoocShape(li1) }
    time(s"walkcooc_${mult}x") { walkcoocShape(liT) }

    // first-seen n-gram novelty (q193 shape, post-window-fix): the
    // amplified corpus repeats every text ~mult times, so EVERY gram's
    // document frequency scales ×mult — exactly the stopword-skew
    // profile that straggled the old gram-keyed window on one task.
    // With partial-agg first-seen, hot grams collapse map-side and the
    // gram exchange carries O(distinct grams) rows — growth must be
    // scan-bound, with no task proportional to a gram's df
    def noveltyShape(docs: DataFrame): Long =
      Corpus.ngramNovelty(docs, "doc_id", "text", shingleSize = 2,
        bucketSize = 50L).count()
    time("novelty_1x") { noveltyShape(docs1) }
    time(s"novelty_${mult}x") { noveltyShape(docsN) }

    // winsorized sums (q199 shape): exact two-sided winsorization is a
    // provable two-scan floor (cutoffs depend on the full distribution)
    // with group-sized BROADCAST cutoffs — N× rows over the same flag
    // set must cost ~two scans, never a value-keyed exchange
    def winsorShape(li: DataFrame): Long =
      Aggregations.winsorizedSums(
        li.select(col("l_returnflag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c")),
        Seq("l_returnflag"), "price_c", 50000L, 950000L).count()
    time("winsorize_1x") { winsorShape(li1) }
    time(s"winsorize_${mult}x") { winsorShape(liN) }

    // landmark harmonic centrality (q200 shape): one bit-packed
    // 16-landmark msbfs sweep + an explode/agg — mult disjoint graph
    // copies grow edges ×N while the landmark set stays fixed, so the
    // mask-state frontier and the per-round joins must scale ~linearly
    def harmonicShape(li: DataFrame): Long = {
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      val edges = fwd
        .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val seeds = li.filter(col("l_partkey") % 97 === 0)
        .select((col("l_partkey") * 2 + 1).as("id")).distinct()
        .orderBy("id").limit(16)
      Graph.harmonicCentrality(edges, seeds, maxHops = 2).count()
    }
    time("harmonic_1x") { harmonicShape(li1) }
    time(s"harmonic_${mult}x") { harmonicShape(liT) }

    // containment-family canonicalization (q201 shape): blocked
    // containment pairs → CC → keep-longest. The verifier is
    // Σ block² by DESIGN (guardUnblocked rejects unblocked corpora),
    // so the honest scale axis is MORE BLOCKS, not fatter ones: each
    // amplified copy gets its own source suffix — blocks ×N at
    // constant size, pairs ×N, and the CC + arithmetic keep-key agg
    // carry the growth. GraphTuning's CC decision is recorded per row.
    val docsB = (0 until mult).map(i =>
      docs1.withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L))
        .withColumn("source", concat(col("source"), lit("_" + i)))
    ).reduce(_ unionByName _)
    def containShape(docs: DataFrame): Long = {
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
        .count()
    }
    time("containment_1x") { containShape(docs1) }
    time(s"containment_${mult}x") { containShape(docsB) }

    // total-variation mix drift (q203 shape): the corpus exchange is
    // the (source, token) count agg and the dense grid is vocab ×
    // sources — N× corpus at ~fixed vocab and fixed sources must be
    // scan-bound, with the grid unchanged
    def tvDriftShape(docs: DataFrame): Long =
      Corpus.tokenMixDrift(docs, "source", "text").count()
    time("tvdrift_1x") { tvDriftShape(docs1) }
    time(s"tvdrift_${mult}x") { tvDriftShape(docsN) }

    // CDC chunking (q206 shape): cut selection, chunk assembly and
    // hashing are scan-stage; the (source, chunk-hash) exchange is
    // O(distinct chunks) — the templated N× corpus repeats chunks, so
    // the exchange stays near-constant while the scan grows ×N
    def cdcShape(docs: DataFrame): Long =
      Corpus.cdcChunkDedup(docs, "source", "text", modulus = 16).count()
    time("cdc_1x") { cdcShape(docs1) }
    time(s"cdc_${mult}x") { cdcShape(docsN) }

    // boilerplate screen (q205 shape): N× corpus with ~N× sentence df
    // on every repeated sentence — the df agg must collapse map-side
    // (same partial-agg discipline as the novelty fix)
    def boilerShape(docs: DataFrame): Long =
      Corpus.boilerplate(docs, "doc_id", "source", "text", minDf = 5L)
        .count()
    time("boilerplate_1x") { boilerShape(docs1) }
    time(s"boilerplate_${mult}x") { boilerShape(docsN) }

    // cell-blocked all-kNN (q207 shape): the designed discipline is
    // nCentroids ~ sqrt(N) so cell size stays bounded — centroid count
    // scales WITH the corpus here, keeping per-cell pair work constant
    // and total pair work ~linear
    def knnShape(e: DataFrame, cents: Int): Long =
      operators.Ann.cellKnnLabelConsistency(e, k = 5, nCentroids = cents)
        .count()
    time("knnlabel_1x") { knnShape(emb1, 8) }
    time(s"knnlabel_${mult}x") { knnShape(embN, 8 * mult) }

    // exact equi-depth histogram (q204 shape, post-bracket+exact
    // rewrite): the VALUE CARDINALITY grows ×N here (each amplified
    // copy's prices shift to a disjoint cent range via the orderkey
    // copy index) while the group count stays 3 — exactly the
    // distinct ≈ rows axis that put one group's whole value set on a
    // single window task under the old one-window quantilesDisc. With
    // bracket+exact, every window partition is ≤ one log-bucket's
    // values, so growth must track the two corpus scans with no
    // distinct-value-sized straggler
    def equidepthShape(li: DataFrame): Long =
      Aggregations.equiDepthHistogram(
        li.select(col("l_returnflag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT) * 100 + " +
            "(l_orderkey div 100000000)").as("price_c")),
        Seq("l_returnflag"), "price_c", buckets = 10).count()
    time("equidepth_1x") { equidepthShape(li1) }
    time(s"equidepth_${mult}x") { equidepthShape(liN) }

    // link prediction (q217 shape): mult disjoint copies of the
    // co-order graph (both keys shifted) — edges ×N with per-copy
    // degree structure unchanged, so the degree-64 hub cap binds
    // identically in every copy and the wedge stream must grow
    // ~linearly (maxMiddleDegree·m), never re-approaching the
    // uncapped Σdeg² blowup (236M wedges measured at 1× uncapped)
    def linkpredShape(li: DataFrame): Long = {
      val canon = Graph.coOccurrenceEdges(
        li.select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
        "o", "p", maxGroupSize = 8).distinct()
      Graph.linkPredictionFeatures(canon).count()
    }
    time("linkpred_1x") { linkpredShape(li1) }
    time(s"linkpred_${mult}x") { linkpredShape(liT) }

    // percentile ranks (q220 shape): the same 10x value-cardinality
    // axis as equidepth, but EVERY distinct value gets a rank (output
    // ×N too) — the within-bucket windows carry the growth and stay
    // (group, bucket)-bounded, never group-wide
    def rankppmShape(li: DataFrame): Long =
      Aggregations.percentileRanksPpm(
        li.select(col("l_returnflag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT) * 100 + " +
            "(l_orderkey div 100000000)").as("price_c"))
          .withColumn("__w", lit(1L)),
        Seq("l_returnflag"), "price_c", "__w").count()
    time("rankppm_1x") { rankppmShape(li1) }
    time(s"rankppm_${mult}x") { rankppmShape(liN) }

    // session baskets (q227 shape): amplified user ids make ×N users
    // with the same per-user session structure — sessions ×N, basket
    // self-join keyed by (user, session) with ≤ |types| rows per key,
    // so pair volume scales with sessions, never users²
    def basketShape(ev: DataFrame): Long = {
      val sess = Sessions.sessionize(
        ev.select("user_id", "ts_ns", "event_type"),
        "user_id", "ts_ns", gapNanos = 3600L * 1000000000L)
      val baskets = sess.select(col("user_id"), col("session_id"),
        col("event_type").as("t")).distinct().localCheckpoint(true)
      val n = baskets.select("user_id", "session_id").distinct()
        .agg(count(lit(1)).as("__n"))
      val singles = baskets.groupBy(col("t")).agg(count(lit(1)).as("c"))
      baskets.as("a").join(baskets.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.session_id") === col("b.session_id") &&
            col("a.t") < col("b.t"))
        .groupBy(col("a.t").as("t_a"), col("b.t").as("t_b"))
        .agg(count(lit(1)).as("c_ab"))
        .join(singles.select(col("t").as("t_a"), col("c").as("c_a")), "t_a")
        .join(singles.select(col("t").as("t_b"), col("c").as("c_b")), "t_b")
        .crossJoin(broadcast(n))
        .count()
    }
    time("basket_1x") { basketShape(ev1) }
    time(s"basket_${mult}x") { basketShape(evN) }
    spark.stop()
  }
}
