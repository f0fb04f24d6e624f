package graft.jobs

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{KvBackends, KvPubSubSink, PublishMode}

/** One chain's frames for a follower micro-batch, built over its cached records;
  * `carriedChannel` picks the carried summary's channel from the first message. */
private[jobs] final case class FollowerBatch(
    keyed: DataFrame,
    checkpoints: DataFrame,
    messages: DataFrame,
    sortCols: Seq[String],
    carriedChannel: Row => String)

/** The micro-batch skeleton both follower chains share: the reference's one
  * ordered pass per block (block_follower_job.rb:55-56,161-167) as KV
  * writes, then checkpoints, then the ordered publish drain. */
private[jobs] object FollowerBatch {

  /** With `pendingKey` (the streaming path; messages built in corrected
    * mode) the drain publishes the summary parked under
    * `pendingKey(batchId - 1)` first and hands back this batch's final
    * summary, parked under `pendingKey(batchId)`; a batch without records
    * carries the parked one forward. */
  def run(
      records: DataFrame,
      backendName: String,
      ttlSeconds: Long,
      publishMode: PublishMode,
      pendingKey: Option[Long => String],
      batchId: Long)(frames: DataFrame => FollowerBatch): Unit = {
    val cached = records.cache()
    try {
      val batch = frames(cached)
      // a batch without records has no checkpoints or messages: skip
      // planning and running their plans over empty input
      val written = KvPubSubSink.writeKv(batch.keyed, backendName, ttlSeconds)
      if (written > 0) KvPubSubSink.writeCheckpoints(batch.checkpoints, backendName)
      val backend = KvBackends(backendName)
      val prev = pendingKey.flatMap(key => backend.get(key(batchId - 1)))
      val tail =
        if (written == 0) None
        else KvPubSubSink.publishCarrying(batch.messages, backendName, batch.sortCols,
          publishMode, pendingKey.map(_ => KvPubSubSink.Carry(prev, batch.carriedChannel)))
      pendingKey.foreach { key =>
        tail.orElse(prev).foreach(t => backend.set(key(batchId), t))
        backend.del(Seq(key(batchId - 2)))
        // explicit durability barrier: the pending-summary SET must be on
        // the wire before this micro-batch commits. (The del above happens
        // to round-trip on pipelined backends, but that is incidental —
        // making it conditional would silently lose the summary on crash.)
        backend.flush()
      }
    } finally cached.unpersist()
  }

  def stream(raw: DataFrame, checkpointDir: String, trigger: Trigger)(
      batch: (DataFrame, Long) => Unit): StreamingQuery =
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (frame: DataFrame, batchId: Long) => batch(frame, batchId) }
      .start()
}
