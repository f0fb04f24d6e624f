package graft.sink

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** The materialization + notify sink (B1/B2/B3), designed per SURVEY §4.2:
  *
  *  - KV writes (SET + EXPIRE) run fully parallel via foreachPartition —
  *    they are idempotent by key, so order and replay don't matter;
  *  - channel publishes are tiny (a few rows per block) but order-sensitive,
  *    so the message frame is sorted on the reference's publish order in one
  *    partition (no range-sampling job) and drained by a single
  *    executor-side writer, never collected to the driver; the drain also
  *    runs a follower micro-batch's summary carry ([[KvPubSubSink.Carry]]);
  *  - the checkpoint key is written after the batch's KV writes, ascending,
  *    so its final value is the batch's max block.
  *
  * `backendName` indirection keeps the backend out of task closures; each
  * task resolves it from [[KvBackends]] (local/tests) — a cluster deployment
  * resolves a connection pool instead.
  */
/** How a batch's channel messages are sequenced onto the backend. */
sealed trait PublishMode
object PublishMode {
  /** Reference parity: EVERY message drains through one ordered writer —
    * the exact total publish order of the reference's sequential loop.
    * O(messages) through one task; fine up to moderate scale, the bench
    * parity mode, and the default. */
  case object Strict extends PublishMode

  /** Scale mode: control messages (rank <= 1 — trx summaries + block
    * headers) keep the strict single-writer total order, while the
    * much-larger rank >= 2 per-op notification stream fans out across
    * block-hash partitions. The guarantee is PER-BLOCK RELATIVE ORDER: one
    * block's notifications are published in reference order by a single
    * task, but tasks run concurrently, so messages of DIFFERENT blocks may
    * interleave on the backend — a subscriber must key off the block id in
    * the payload, not off contiguity. At-least-once, like every publish
    * path. */
  case object RelaxedPerBlock extends PublishMode
}

object KvPubSubSink {

  /** Write one batch of keyed records: (key, kv_value) + TTL policy.
    * Returns how many were written, counted by the write job itself. */
  def writeKv(keyed: DataFrame, backendName: String, ttlSeconds: Long): Long = {
    val ttl = ttlSeconds
    keyed.select("key", "kv_value").mapPartitions { (rows: Iterator[Row]) =>
      val backend = KvBackends(backendName)
      var n = 0L
      rows.foreach { r =>
        val key = r.getString(0)
        backend.set(key, r.getString(1))
        if (ttl != -1L) backend.expire(key, ttl)
        n += 1
      }
      backend.flush()
      Iterator(n)
    }(Encoders.scalaLong).collect().sum
  }

  /** A follower micro-batch's summary carry, run by the ordered drain:
    * `prev`, handed on by the previous batch, is published first, on the
    * channel `channelOf` picks from the batch's first message (the record
    * that triggers it, follower_job.rb:44-50); the batch-final summary
    * (corrected mode, sorted last at `blockCol = Long.MaxValue`) is
    * withheld and returned. */
  final case class Carry(prev: Option[String], channelOf: Row => String)

  /** Publish one batch of (channel, payload) messages in exact order. The
    * input must carry its sort columns; volume per batch is O(messages), not
    * O(data), so the single ordered partition is not a scale bottleneck. */
  def publishOrdered(messages: DataFrame, backendName: String, sortCols: Seq[String]): Unit =
    drain(messages.repartition(1), backendName, sortCols, None, "o_block")

  /** Publish each partition in publish order from one task; with a [[Carry]]
    * (on the one-partition drain), returns the withheld summary. */
  private def drain(
      partitioned: DataFrame, backendName: String, sortCols: Seq[String],
      carry: Option[Carry], blockCol: String): Option[String] = {
    val sorted = partitioned.sortWithinPartitions(sortCols.map(col): _*)
    val (ci, pi) = (sorted.schema.fieldIndex("channel"), sorted.schema.fieldIndex("payload"))
    val bi = if (carry.isDefined) sorted.schema.fieldIndex(blockCol) else -1
    sorted.mapPartitions { (rows: Iterator[Row]) =>
      val backend = KvBackends(backendName)
      val buffered = rows.buffered
      for (c <- carry; p <- c.prev if buffered.hasNext) backend.publish(c.channelOf(buffered.head), p)
      var tail = Option.empty[String]
      buffered.foreach { r =>
        if (bi >= 0 && r.getLong(bi) == Long.MaxValue) tail = Some(r.getString(pi))
        else backend.publish(r.getString(ci), r.getString(pi))
      }
      backend.flush()
      tail.iterator
    }(Encoders.STRING).collect().headOption
  }

  /** Per-block-ordered parallel publish: messages are hash-partitioned by
    * `blockCol` and sorted within each partition on the full publish order,
    * so one block's messages are published in order by the task owning the
    * block — no single-writer drain. Messages of different blocks may
    * interleave across concurrent tasks (see
    * [[PublishMode.RelaxedPerBlock]]). */
  def publishPerBlock(
      messages: DataFrame, backendName: String,
      sortCols: Seq[String], blockCol: String): Unit =
    drain(messages.repartition(col(blockCol)), backendName, sortCols, None, blockCol)

  /** Mode-dispatching publish entry (see [[PublishMode]]). Message frames
    * carry rank 0/1 for control messages (summaries, block headers) and
    * rank >= 2 for per-op notifications in both follower chains. */
  def publish(
      messages: DataFrame, backendName: String, sortCols: Seq[String],
      mode: PublishMode, rankCol: String = "o_rank", blockCol: String = "o_block"): Unit =
    publishCarrying(messages, backendName, sortCols, mode, None, rankCol, blockCol)

  /** [[publish]] with a [[Carry]]; summaries are rank-0 control messages,
    * so a relaxed publish carries them through its ordered drain too. */
  private[graft] def publishCarrying(
      messages: DataFrame, backendName: String, sortCols: Seq[String],
      mode: PublishMode, carry: Option[Carry],
      rankCol: String = "o_rank", blockCol: String = "o_block"): Option[String] = {
    val ordered = if (mode == PublishMode.Strict) messages else messages.filter(col(rankCol) <= 1)
    val tail = drain(ordered.repartition(1), backendName, sortCols, carry, blockCol)
    if (mode == PublishMode.RelaxedPerBlock)
      publishPerBlock(messages.filter(col(rankCol) >= 2), backendName, sortCols, blockCol)
    tail
  }

  /** Write checkpoint keys ascending, from one task, so the last write is
    * the max block (no TTL: the key is the follower's resume point). */
  def writeCheckpoints(checkpoints: DataFrame, backendName: String): Unit =
    writeKv(checkpoints.repartition(1).sortWithinPartitions("block_num"), backendName, -1L)
}
