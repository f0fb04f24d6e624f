package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{KvBackends, KvPubSubSink}

/** The micro-batch skeleton both follower chains share: the reference's one
  * ordered pass per block (block_follower_job.rb:55-56,79-93,161-167) as
  * one ordered drain that SETs each record right before it publishes the
  * record's notification ([[KvPubSubSink.FollowerDrain]]). */
private[jobs] object FollowerBatch {

  /** Run one batch's drain, `drain(prev, follower)`, which publishes `prev`
    * first and returns the batch-final summary it withholds. With
    * `pendingKey` (the streaming path) `prev` is the summary parked under
    * `pendingKey(batchId - 1)`, and the returned one is parked under
    * `pendingKey(batchId)`; a batch without records carries `prev` forward.
    *
    * `input` is the batch's source frame (a scan or a cached relation, no
    * exchange). Its partition count is read driver-side, without a Spark
    * job: a batch over zero partitions — a fresh stream's first batch, or
    * any batch with start == end — runs no Spark job, only the pending-key
    * steps. Otherwise `input` is cached for the batch, so the drain's legs
    * read the source once, and the drain gathers its rows with
    * `coalesce(1)` over a one-partition input (narrow: the batch is one
    * task in one job), else with `repartition(1)`, which keeps the input's
    * partitions fetching in parallel. */
  def run(
      input: DataFrame,
      backendName: String,
      checkpoint: KvPubSubSink.Checkpoint,
      ttlSeconds: Long,
      pendingKey: Option[Long => String],
      batchId: Long)(drain: (Option[String], KvPubSubSink.FollowerDrain) => Option[String]): Unit = {
    val backend = KvBackends(backendName)
    val prev = pendingKey.flatMap(key => backend.get(key(batchId - 1)))
    val partitions = input.queryExecution.toRdd.getNumPartitions
    val tail =
      if (partitions == 0) prev
      else {
        input.cache()
        try drain(prev, KvPubSubSink.FollowerDrain(checkpoint, ttlSeconds,
          if (partitions == 1) _.coalesce(1) else _.repartition(1)))
        finally input.unpersist()
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
