package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{KvBackends, KvPubSubSink}

/** One chain's frames for a follower micro-batch, built over its cached
  * records: the keyed records the KV write stores, and the ordered publish
  * drain, which publishes the summary carried in first, SETs the checkpoint
  * key at each block publish, and returns the batch-final summary it
  * withholds (on the streaming path). */
private[jobs] final case class FollowerBatch(
    keyed: DataFrame,
    drain: Option[String] => Option[String])

/** The micro-batch skeleton both follower chains share: the reference's one
  * ordered pass per block (block_follower_job.rb:55-56,161-167) as KV
  * writes, then the ordered publish drain. */
private[jobs] object FollowerBatch {

  /** With `pendingKey` (the streaming path) the drain publishes the summary
    * parked under `pendingKey(batchId - 1)` first and hands back this
    * batch's final summary, parked under `pendingKey(batchId)`; a batch
    * without records carries the parked one forward.
    *
    * `input` is the batch's source frame (a scan or a cached relation, no
    * exchange): a batch whose input plans zero partitions — a fresh
    * stream's first batch, or any batch with start == end — is told apart
    * driver-side, without a Spark job, and runs no cache, frames or KV job. */
  def run(
      input: DataFrame,
      records: DataFrame,
      backendName: String,
      ttlSeconds: Long,
      pendingKey: Option[Long => String],
      batchId: Long)(frames: DataFrame => FollowerBatch): Unit = {
    val backend = KvBackends(backendName)
    val prev = pendingKey.flatMap(key => backend.get(key(batchId - 1)))
    val tail =
      if (input.queryExecution.toRdd.getNumPartitions == 0) prev
      else {
        val cached = records.cache()
        try {
          val batch = frames(cached)
          // the KV write job counts the records: a batch without any has
          // no messages, so its drain is not planned or run
          if (KvPubSubSink.writeKv(batch.keyed, backendName, ttlSeconds) == 0) prev
          else batch.drain(prev)
        } finally cached.unpersist()
      }
    pendingKey.foreach { key =>
      tail.foreach(t => backend.set(key(batchId), t))
      backend.del(Seq(key(batchId - 2)))
      // explicit durability barrier: the pending-summary SET must be on
      // the wire before this micro-batch commits. (The del above happens
      // to round-trip on pipelined backends, but that is incidental —
      // making it conditional would silently lose the summary on crash.)
      backend.flush()
    }
  }

  def stream(raw: DataFrame, checkpointDir: String, trigger: Trigger)(
      batch: (DataFrame, Long) => Unit): StreamingQuery =
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (frame: DataFrame, batchId: Long) => batch(frame, batchId) }
      .start()
}
