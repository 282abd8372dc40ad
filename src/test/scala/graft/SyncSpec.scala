package graft

import graft.checks.Validations
import graft.streaming.{MicroBatchRunner, SyncState, SyncStatus}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SyncSpec extends SparkSpec {

  test("advance: lag subtraction, batch cap, go/no-go (T2)") {
    // head far ahead → capped at last+batch
    assert(SyncState.advance(100, 10000, streamingLag = 50, batchSize = 500) == (600, true))
    // head within lag → no-go
    assert(SyncState.advance(100, 140, streamingLag = 50, batchSize = 500) == (90, false))
    // monotone: never advances backwards past last_synced
    assert(SyncState.advance(100, 100, streamingLag = 0, batchSize = 500) == (100, false))
  }

  test("state store round-trips and overwrites atomically (T1)") {
    val dir = Files.createTempDirectory("sync").toString
    val st = new SyncState(dir)
    val k = st.key("bitcoin", "clickhouse", "tg")
    assert(k == "tg_bitcoin_clickhouse_sync_status")
    assert(st.get(k).isEmpty)
    st.put(k, SyncStatus(42L, "2024-01-01", 100L, "2024-01-02"))
    assert(st.get(k).contains(SyncStatus(42L, "2024-01-01", 100L, "2024-01-02")))
    st.put(k, SyncStatus(100L, "2024-01-02", 200L, "2024-01-03"))
    assert(st.get(k).get.lastSyncedBlock == 100L)
  }

  test("micro-batch loop processes every event exactly once in bounded ranges (T2-T5)") {
    val dir = Files.createTempDirectory("mb").toString
    val sink = s"$dir/sink"
    val events = Tables.events(spark, sfDir).select("event_id", "event_type", "value")
    val total = events.count()
    val maxId = events.agg(max("event_id")).head().getLong(0)
    val res = MicroBatchRunner.run(spark, events, "event_id",
      new SyncState(s"$dir/state"), "test_sync",
      streamingLag = 0, batchSize = 150,
      pipeline = df => df.withColumn("tagged", lit(1)), sinkPath = sink)
    // loop starts from watermark -1, so it covers (−1, maxId] in 150-block steps
    assert(res.batchesRun == math.ceil((maxId + 1) / 150.0).toInt)
    val landed = spark.read.parquet(sink)
    assert(landed.count() == total)                       // exactly once
    assert(landed.select("event_id").distinct().count() == total)
  }

  test("crash between sink write and state commit: restart replays the " +
      "uncommitted range, key-dedup restores exactly-once (T4/T5)") {
    val dir = Files.createTempDirectory("mbcrash").toString
    val sink = s"$dir/sink"
    val events = Tables.events(spark, sfDir).select("event_id", "event_type", "value")
    val total = events.count()
    val maxId = events.agg(max("event_id")).head().getLong(0)
    val state = new SyncState(s"$dir/state")
    val key = "crash_sync"

    // CRASHED attempt: the runner's step 4 (sink write) lands for the
    // first range, then the process dies BEFORE step 5's state commit —
    // the state store still has no entry (last_synced = -1).
    val (latest1, go) = SyncState.advance(-1L, maxId, streamingLag = 0, batchSize = 150)
    assert(go)
    events.filter(col("event_id") > -1L && col("event_id") <= latest1)
      .withColumn("tagged", lit(1))
      .write.mode("append").parquet(sink)
    assert(state.get(key).isEmpty) // the crash: write landed, commit did not

    // RESTART: the loop re-derives its offset from the COMMITTED state,
    // so it must replay the first range (at-least-once into the sink) —
    // never skip past uncommitted work (that would lose data if the
    // crashed write had failed halfway).
    val res = MicroBatchRunner.run(spark, events, "event_id", state, key,
      streamingLag = 0, batchSize = 150,
      pipeline = df => df.withColumn("tagged", lit(1)), sinkPath = sink)
    assert(res.ranges.head == ((-1L, latest1)), "first range must replay")
    assert(res.batchesRun == math.ceil((maxId + 1) / 150.0).toInt)
    val landed = spark.read.parquet(sink)
    val firstRangeRows =
      events.filter(col("event_id") <= latest1).count()
    // pre-dedup the sink holds exactly one duplicate copy of range 1...
    assert(landed.count() == total + firstRangeRows)

    // ...and T5 key-dedup restores exactly-once: no duplicates, no gaps.
    assert(landed.dropDuplicates("event_id").count() == total)
    assert(events.select("event_id")
      .join(landed.select("event_id"), Seq("event_id"), "left_anti").isEmpty,
      "no gaps: every source event must be present after restart")
    // and the committed watermark reached the head
    assert(state.get(key).get.lastSyncedBlock == maxId)
  }

  test("no head (empty source, all-null block column): no batch, no write, state unchanged") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mbempty").toString
    val sink = s"$dir/sink"
    val state = new SyncState(s"$dir/state")
    val committed = SyncStatus(5L, "", 5L, "")
    state.put("synced", committed)
    val empty = Tables.events(spark, sfDir).select("event_id", "value")
      .filter(col("event_id") < 0)
    val allNull = Seq[(Option[Long], Double)]((None, 1.0), (None, 2.0))
      .toDF("event_id", "value")
    for (src <- Seq(empty, allNull); key <- Seq("synced", "fresh")) {
      val res = MicroBatchRunner.run(spark, src, "event_id", state, key,
        streamingLag = 0, batchSize = 10, pipeline = identity, sinkPath = sink)
      assert(res == MicroBatchRunner.BatchResult(Nil, 0, 0))
    }
    assert(!Files.exists(java.nio.file.Paths.get(sink)))
    assert(state.get("synced").contains(committed))
    assert(state.get("fresh").isEmpty)
  }

  test("rowsWritten sums to the sink's growth over repeated maxBatches = 1 runs") {
    val dir = Files.createTempDirectory("mbrows").toString
    val sink = s"$dir/sink"
    val events = Tables.events(spark, sfDir).select("event_id", "event_type", "value")
    val pipeline = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("event_type") === "click").withColumn("tagged", lit(1))
    // the sink already holds rows another writer landed
    events.filter(col("event_id") < 100).withColumn("tagged", lit(0))
      .write.parquet(sink)
    val before = spark.read.parquet(sink).count()
    val state = new SyncState(s"$dir/state")
    var written = 0L
    var calls = 0
    var res: MicroBatchRunner.BatchResult = null
    do {
      res = MicroBatchRunner.run(spark, events, "event_id", state, "rows",
        streamingLag = 0, batchSize = 250, pipeline = pipeline,
        sinkPath = sink, maxBatches = 1)
      written += res.rowsWritten
      calls += 1
    } while (res.batchesRun == 1)
    assert(calls > 3, s"expected several batches, got ${calls - 1}")
    assert(before > 0 && written > 0)
    assert(written == spark.read.parquet(sink).count() - before)
    assert(written == pipeline(events).count())
  }

  test("run(maxBatches = 1) costs one head job plus the pipeline's write jobs") {
    val dir = Files.createTempDirectory("mbjobs").toString
    val sink = s"$dir/sink"
    val events = Tables.events(spark, sfDir).select("event_id", "event_type", "value")
    val pipeline = (df: org.apache.spark.sql.DataFrame) => df.withColumn("tagged", lit(1))
    val state = new SyncState(s"$dir/state")
    def runOne() = MicroBatchRunner.run(spark, events, "event_id", state, "jobs",
      streamingLag = 0, batchSize = 150, pipeline = pipeline, sinkPath = sink,
      maxBatches = 1)
    runOne() // the sink now holds rows a recount would have to read
    val last = state.get("jobs").get.lastSyncedBlock
    // the next range written on its own: the pipeline's write jobs
    val writeJobs = countJobs {
      pipeline(events.filter(col("event_id") > last && col("event_id") <= last + 150))
        .write.parquet(s"$dir/alone")
    }
    var res: MicroBatchRunner.BatchResult = null
    val runJobs = countJobs { res = runOne() }
    assert(res.ranges == Seq((last, last + 150)))
    // any read of the sink (a recount) would add at least one job
    assert(runJobs == 1 + writeJobs, s"run: $runJobs jobs, the write alone: $writeJobs")
  }

  test("the next batch and its parity check compile no class") {
    val dir = Files.createTempDirectory("mbcompile").toString
    val sink = s"$dir/sink"
    val events = Tables.events(spark, sfDir).select("event_id", "event_type", "value")
    val state = new SyncState(s"$dir/state")
    // one sync run: one batch, then V1 parity of the sink against the
    // source over the batch's range
    def sync(): Unit = {
      val res = MicroBatchRunner.run(spark, events, "event_id", state, "compiles",
        streamingLag = 0, batchSize = 150, pipeline = _.withColumn("tagged", lit(1)),
        sinkPath = sink, maxBatches = 1)
      val Seq((lo, hi)) = res.ranges
      val chk = Validations.countParity(spark.read.parquet(sink), events,
        col("event_id") > lo && col("event_id") <= hi)
      assert(chk.passed, chk.detail)
    }
    sync()
    // the range bounds change; the generated code must not
    assert(countCompiles(sync()) == 0)
  }

  test("stateful dedup suppresses replayed keys across micro-batches (T5)") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StatefulDedup
    import spark.implicits._
    val dir = Files.createTempDirectory("sdd").toString
    val src = s"$dir/src"; val ckpt = s"$dir/ckpt"; val out = s"$dir/out"
    new java.io.File(src).mkdirs()

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("key LONG, payload STRING").parquet(src).as[StatefulDedup.Keyed]
      val q = StatefulDedup.firstOccurrences(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }

    // batch 1: keys 1,2,3 (3 duplicated within the batch)
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (3L, "c2")).toDF("key", "payload")
      .coalesce(1).write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(out).count() == 3)

    // batch 2 (same checkpoint): replay of 2,3 + new key 4 → only 4 emits
    Seq((2L, "b-replay"), (3L, "c-replay"), (4L, "d")).toDF("key", "payload")
      .coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val all = spark.read.parquet(out).as[StatefulDedup.Keyed].collect()
    assert(all.length == 4)
    assert(all.map(_.key).toSet == Set(1L, 2L, 3L, 4L))
    assert(all.count(_.key == 3L) == 1, all.mkString(","))
  }

  test("structured streaming: windowed aggregation with watermark over events") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("ss").toString
    // copy a bounded slice of events to a streaming source dir as parquet
    val src = s"$dir/src"
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    ev.write.parquet(src)
    val stream = spark.readStream.schema(ev.schema).parquet(src)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("agg_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.table("agg_out")
    assert(out.count() > 0)
    val totalN = out.agg(sum("n")).head().getLong(0)
    assert(totalN == ev.count())
  }

  test("structured streaming: dropDuplicatesWithinWatermark suppresses replays") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("ssdd").toString
    val src = s"$dir/src"
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("value")).limit(500)
    // replayed source: every event written twice (the at-least-once
    // delivery the reference's lag/dedup machinery tolerates — T5)
    ev.unionByName(ev).write.parquet(src)
    val q = spark.readStream.schema(ev.schema).parquet(src)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.table("dedup_out").count() == ev.count())
  }

  test("structured streaming: stream-stream interval join equals the batch join") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("ssj").toString
    val src = s"$dir/src"
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    ev.write.parquet(src)
    def clicksOf(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
        col("user_id").as("c_user"))
    def buysOf(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
        col("user_id").as("p_user"))
    val cond = expr(
      "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 1 hour")
    val streamed = clicksOf(
      spark.readStream.schema(ev.schema).parquet(src))
      .withWatermark("c_ts", "2 hours")
      .join(buysOf(spark.readStream.schema(ev.schema).parquet(src))
        .withWatermark("p_ts", "2 hours"), cond)
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("ssj_out").select("c_id", "p_id")
    val want = clicksOf(ev).join(buysOf(ev), cond).select("c_id", "p_id")
    // both watermarks cover the whole bounded slice, so the streamed
    // result must be EXACTLY the batch join, not merely a subset
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.join(want, Seq("c_id", "p_id"), "left_anti").isEmpty)
  }

  test("stateful gap sessions: event-time timeout finalizes sessions at the watermark") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StatefulSessions
    import spark.implicits._
    val dir = Files.createTempDirectory("sgs").toString
    val src = s"$dir/src"; val ckpt = s"$dir/ckpt"; val out = s"$dir/out"
    new java.io.File(src).mkdirs()
    val H = 3600L * 1000L // one hour in millis
    def ts(ms: Long) = new java.sql.Timestamp(ms)

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("user_id LONG, ts TIMESTAMP").parquet(src)
        .withWatermark("ts", "1 minute").as[StatefulSessions.Ev]
      val q = StatefulSessions.gapSessions(stream, gapMillis = 10 * 60 * 1000L)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }

    // run 1: user 1 has two events 3 min apart, then one 57 min later —
    // the in-batch gap > 10 min closes the first session IMMEDIATELY.
    // AvailableNow then runs a final empty batch with the advanced
    // watermark (10:59), which times out user 2's session (close time
    // 10:10) but NOT user 1's open one (close time 11:10).
    Seq((1L, ts(10 * H)), (1L, ts(10 * H + 3 * 60000L)), (1L, ts(11 * H)),
      (2L, ts(10 * H))).toDF("user_id", "ts")
      .coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val afterR1 = spark.read.parquet(out).as[StatefulSessions.SessionOut].collect()
    assert(afterR1.toSet == Set(
      StatefulSessions.SessionOut(1L, 10 * H, 10 * H + 3 * 60000L, 2L),
      StatefulSessions.SessionOut(2L, 10 * H, 10 * H, 1L)))

    // run 2 (same checkpoint): an event at 13:00 advances the watermark
    // to 12:59 → user 1's second session (close 11:10) finalizes; user
    // 3's fresh session (close 13:10) stays open
    Seq((3L, ts(13 * H))).toDF("user_id", "ts")
      .coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val afterR2 = spark.read.parquet(out).as[StatefulSessions.SessionOut].collect()
    assert(afterR2.toSet == afterR1.toSet +
      StatefulSessions.SessionOut(1L, 11 * H, 11 * H, 1L))

    // run 3: watermark 13:59 → user 3 finalizes; user 99 stays open
    Seq((99L, ts(14 * H))).toDF("user_id", "ts")
      .coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val afterB3 = spark.read.parquet(out).as[StatefulSessions.SessionOut].collect()
    assert(afterB3.toSet == afterR2.toSet +
      StatefulSessions.SessionOut(3L, 13 * H, 13 * H, 1L))

    // and the emitted sessions agree with the batch operator's grouping
    val batchSessions = operators.Sessions.sessionize(
      spark.read.parquet(src).withColumn("ts_ms", col("ts").cast("long") * 1000L),
      "user_id", "ts_ms", gapNanos = 10 * 60 * 1000L) // ts_ms is millis → gap in millis
      .groupBy("user_id", "session_id")
      .agg(min("ts_ms").as("s"), max("ts_ms").as("e"), count(lit(1)).as("n"))
      .select(col("user_id"), col("s"), col("e"), col("n"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(afterB3.map(o =>
      (o.user_id, o.session_start, o.session_end, o.n_events)).toSet
      .subsetOf(batchSessions))
  }

  test("structured streaming: native session windows agree with the batch operator") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("sssw").toString
    val src = s"$dir/src"
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"))
    ev.write.parquet(src)
    val q = spark.readStream.schema(ev.schema).parquet(src)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "2 hours"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("sess_out")
      .select(col("user_id"), col("session_window.start").as("start"), col("n"))
    // append mode only emits sessions finalized by the watermark; each
    // emitted session must match the batch computation exactly
    val batch = ev.groupBy(session_window(col("ts"), "2 hours"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("start"), col("n"))
    assert(streamed.count() > 0)
    assert(streamed.join(batch, Seq("user_id", "start", "n"), "left_anti").isEmpty)
  }
}
