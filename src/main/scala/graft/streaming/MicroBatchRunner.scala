package graft.streaming

import graft.operators.GraphTuning
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** T2-T5 — the reference's manual micro-batch loop
  * (`clickhouse/v1/operator.py:440-499` + `airflow/bitquery.py:208-351`),
  * re-expressed as a driver loop over bounded block ranges:
  *
  *   0. source head                           → observed `max`, one job
  *   1. read state (T1)                       → SyncState.get
  *   2. advance decision w/ lag + cap (T2)    → SyncState.advance
  *   3. bounded batch read (T3)               → filter block ∈ (last, latest]
  *   4. user pipeline + sink append; the landed rows are OBSERVED in the
  *      append job itself (a `count` riding the write), so the sink is
  *      never re-read
  *   5. commit the END of the processed range (T4) — only after the
  *      write has landed, so a crash between write and commit replays
  *      the range (idempotent with dedup, T5) instead of skipping it.
  *
  * This matches the reference's crash semantics exactly (SURVEY.md §7.4
  * risk 5) and is equivalent to `Trigger.AvailableNow` with
  * `maxOffsetsPerTrigger`-style admission control. A source with no
  * non-null block has no head: the run writes nothing and leaves the
  * state as it was.
  */
object MicroBatchRunner {

  /** @param rowsWritten rows this call appended to the sink */
  final case class BatchResult(
      ranges: Seq[(Long, Long)], batchesRun: Int, rowsWritten: Long)

  def run(
      spark: SparkSession,
      source: DataFrame,
      blockCol: String,
      state: SyncState,
      stateKey: String,
      streamingLag: Long,
      batchSize: Long,
      pipeline: DataFrame => DataFrame,
      sinkPath: String,
      maxBatches: Int = Int.MaxValue): BatchResult = {

    // None over an empty or all-null block column — never 0, which would
    // admit a batch
    val head = GraphTuning.observeLongs(source.select(col(blockCol)),
      Seq("head" -> max(col(blockCol)))).get("head")
    var st = state.get(stateKey).getOrElse(SyncStatus(-1L, "", -1L, ""))
    var ranges = Vector.empty[(Long, Long)]
    var rows = 0L
    var n = 0
    var go = head.isDefined
    while (go && n < maxBatches) {
      val (latest, proceed) = SyncState.advance(st.lastSyncedBlock, head.get, streamingLag, batchSize)
      go = proceed
      if (proceed) {
        val prevLast = st.lastSyncedBlock
        val batch = source.filter(col(blockCol) > prevLast && col(blockCol) <= latest)
        rows += GraphTuning.observeLongs(pipeline(batch), Seq("n" -> count(lit(1))),
          _.write.mode("append").parquet(sinkPath))("n")
        // The loop watermark advances to the END of the processed range —
        // an empty or fully-filtered batch must still make progress
        // (deriving it from the sink's max would loop forever on sparse
        // ranges). The destination remains the recovery authority: on a
        // crash between write and commit the state file still points at
        // the last committed range end, the batch replays, and replay
        // duplicates are handled by dedup (T5, SURVEY.md §7.4 risk 5).
        st = SyncStatus(latest, "", latest, "")
        state.put(stateKey, st)
        ranges :+= (prevLast, latest)
        n += 1
      }
    }
    BatchResult(ranges, n, rows)
  }
}
