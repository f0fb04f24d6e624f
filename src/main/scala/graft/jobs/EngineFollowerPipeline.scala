package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Model
import graft.ops.{EngineConfig, EngineOps}
import graft.sink.{KvPubSubSink, PublishMode}
import graft.streaming.JsonlReplaySource

/** Sidechain `meeseeker sync hive_engine` lifecycle (SURVEY §3.2). */
object EngineFollowerPipeline {

  def parseEngineBlocks(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), Model.engineBlockSchema).as("b")).select("b.*")

  /** Per-batch pending key — see BlockFollowerPipeline.pendingSummaryKey
    * for the retry-idempotence rationale. */
  def pendingSummaryKey(cfg: EngineConfig, batchId: Long): String =
    s"${cfg.chainKeyPrefix}:graft:pending_summary:$batchId"

  /** As BlockFollowerPipeline.processBatch; the carried summary's channel
    * follows the batch's first record ([[EngineOps.carriedSummaryChannel]]). */
  def processBatch(
      blocks: DataFrame,
      cfg: EngineConfig,
      backendName: String,
      carrySummaries: Boolean = false,
      batchId: Long = 0L,
      publishMode: PublishMode = PublishMode.Strict): Unit = {
    // the carried summary is the one corrected mode places last
    val messageCfg = if (carrySummaries) cfg.copy(strictParity = false) else cfg
    val checkpoint = KvPubSubSink.Checkpoint(
      cfg.chainKeyPrefix + ":block", cfg.chainKeyPrefix + Model.LastBlockNumKeySuffix)
    FollowerBatch.run(blocks, backendName, checkpoint, cfg.ttlSeconds,
        Option.when(carrySummaries)((id: Long) => pendingSummaryKey(cfg, id)), batchId) {
        (prev, follower) =>
      val trxs = EngineOps.explodeEngineTrxs(blocks)
      KvPubSubSink.publishCarrying(
        EngineOps.channelMessagesFrom(trxs, EngineOps.keyedTrxs(trxs, cfg), messageCfg),
        backendName, EngineOps.messageSortCols, publishMode,
        Option.when(carrySummaries)(KvPubSubSink.Carry(prev, EngineOps.carriedSummaryChannel(cfg))),
        Some(follower))
    }
  }

  def runStream(
      spark: SparkSession,
      blocksJsonl: String,
      cfg: EngineConfig,
      backendName: String,
      checkpointDir: String,
      linesPerTrigger: Long = 2L): StreamingQuery =
    FollowerBatch.stream(JsonlReplaySource.stream(spark, blocksJsonl, linesPerTrigger),
        checkpointDir, Trigger.AvailableNow()) { (batch, batchId) =>
      processBatch(parseEngineBlocks(batch), cfg, backendName,
        carrySummaries = true, batchId = batchId)
    }
}
