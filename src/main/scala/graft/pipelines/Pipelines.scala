package graft.pipelines

import graft.operators.{Aggregations, Enrichment, LogIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end pipeline compositions (SURVEY.md §3.1 / §3.2).
  *
  * §3.1 (ClickHouse streaming enrichment): scan → log_index window →
  * dims join → scale/USD → per-chain rules → sink. All of the
  * reference's six process boundaries collapse into one lazy plan whose
  * only shuffle is the log_index window's hash partition by transaction.
  *
  * §3.2 (TigerGraph projection): ONE enriched frame, checkpointed lazily,
  * fanned into three grouped aggregations (vertices + two edge sets) and
  * a global chain-state aggregate — the first output's action fills the
  * checkpoint and the other three read it, so the enrichment runs once,
  * not four times, exactly the multi-sink pattern a 100 TB run needs
  * (compute-once, write-many). The ContextCleaner reclaims the blocks
  * once the four outputs are unreferenced.
  */
object Pipelines {

  final case class GraphProjection(
      transactions: DataFrame, linkInputs: DataFrame,
      linkOutputs: DataFrame, chainState: DataFrame)

  /** §3.1: the enrichment spine. `txns` must carry
    * (transaction_id, token_address, coin_value, fee, type) + sort cols. */
  def enrichmentPipeline(
      txns: DataFrame,
      metadata: DataFrame,
      prices: DataFrame,
      sortSpec: Seq[(String, Boolean)],
      tronFeeRule: Boolean): DataFrame = {
    val indexed = LogIndex.addLogIndex(txns, "transaction_id", sortSpec)
    Enrichment.enrich(indexed, Enrichment.dims(metadata, prices), tronFeeRule)
  }

  /** §3.2: fan one enriched frame into the graph projection. The input
    * must carry sender_address / receiver_address / block_date_time in
    * addition to the enrichment outputs. */
  def graphProjection(enriched: DataFrame, chainName: String,
      blockCol: String = "block_number"): GraphProjection = {
    val shared = enriched.localCheckpoint(false)
    // block_number comes from the caller-designated block column (the
    // reference pivots max over `block`, streaming_operator.py:151-158);
    // falls back to transaction_id only when no block column exists.
    val blockSrc = if (shared.columns.contains(blockCol)) blockCol else "transaction_id"
    val chainState = shared
      .withColumn("chain", lit(chainName))
      .groupBy("chain").agg(
        max(col("coin_price_usd")).as("price_usd"),
        max(col("block_date_time")).as("block_date_time"),
        max(col(blockSrc)).as("block_number"))
    GraphProjection(
      Aggregations.transactionsAgg(shared),
      Aggregations.linkInputsAgg(shared),
      Aggregations.linkOutputsAgg(shared),
      chainState)
  }
}
