package graft.sink

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The materialization + notify sink (B1/B2/B3), designed per SURVEY §4.2:
  *
  *  - channel publishes are order-sensitive, so the message frame is sorted
  *    on the reference's publish order in one partition (no range-sampling
  *    job) and drained by a single executor-side writer, never collected to
  *    the driver. A drain task runs a body over its sorted rows:
  *    ready-placed messages with an optional summary carry
  *    ([[KvPubSubSink.Carry]]), or the Hive follower's Strict pass that
  *    places summaries and block headers itself
  *    ([[KvPubSubSink.publishPlaced]]);
  *  - a follower's KV writes (SET + EXPIRE) ride the same drain
  *    ([[KvPubSubSink.FollowerDrain]]): each record is SET right before its
  *    notification is published, as in the reference's one loop
  *    (block_follower_job.rb:55-56,83), so a batch is one ordered pass.
  *    The trade-off: under `Strict` they share the drain's one pipelined
  *    connection with the publishes ([[RedisKvBackend]]), in order, instead
  *    of fanning out over parallel writers, so a large catch-up batch
  *    writes at one connection's pipeline rate. They stay idempotent by
  *    key, so replay is safe;
  *  - the follower's checkpoint key is SET by the ordered drain at each
  *    block-channel publish ([[KvPubSubSink.Checkpoint]]), ascending, so
  *    its final value is the batch's max block.
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

  /** Write one batch of keyed records: (key, kv_value) + TTL policy, fully
    * parallel (idempotent by key, so order and replay don't matter). */
  def writeKv(keyed: DataFrame, backendName: String, ttlSeconds: Long): Unit = {
    val ttl = ttlSeconds
    keyed.select("key", "kv_value").foreachPartition { (rows: Iterator[Row]) =>
      val backend = KvBackends(backendName)
      rows.foreach { r =>
        val key = r.getString(0)
        backend.set(key, r.getString(1))
        if (ttl != -1L) backend.expire(key, ttl)
      }
      backend.flush()
    }
  }

  /** The follower's checkpoint: the ordered drain SETs `key` (no TTL) to a
    * block's number just before that block's `blockChannel` publish
    * (block_follower_job.rb:78-79), so the key's last value is the batch's
    * max block. */
  final case class Checkpoint(blockChannel: String, key: String)

  /** A follower micro-batch's side of its drain. The drain SETs each
    * record right before it publishes the record's notification
    * (block_follower_job.rb:55-56,83): a row with a non-null `kv_key` (a
    * record's one rank-2 notification) SETs it to its `kv_value`, then
    * EXPIREs it after `ttlSeconds` unless that is -1. It SETs the
    * [[Checkpoint]] too. `gather` brings the batch's rows into the ordered
    * drain's one partition. */
  final case class FollowerDrain(
      checkpoint: Checkpoint, ttlSeconds: Long, gather: DataFrame => DataFrame)

  /** A follower micro-batch's summary carry, run by the ordered drain:
    * `prev`, handed on by the previous batch, is published first, on the
    * channel `channelOf` picks from the batch's first message (the record
    * that triggers it, follower_job.rb:44-50); the batch-final summary
    * (corrected mode, sorted last at `blockCol = Long.MaxValue`) is
    * withheld and returned. A batch without messages returns `prev`. */
  final case class Carry(prev: Option[String], channelOf: Row => String)

  /** What a drain body writes through, in call order on its task's backend:
    * `store(row)` SETs the row's record, if it carries one
    * ([[FollowerDrain]]); `publish(channel, payload, block)` publishes it. */
  trait DrainOut {
    def store(row: Row): Unit
    def publish(channel: String, payload: String, block: Long): Unit
  }

  /** A drain task's pass: given the sorted frame's schema, it writes one
    * partition's rows in order through a [[DrainOut]] and returns the
    * summary the batch withholds, if any. */
  type DrainBody = StructType => (Iterator[Row], DrainOut) => Option[String]

  /** Publish one batch of (channel, payload) messages in exact order. The
    * input must carry its sort columns; volume per batch is O(messages), not
    * O(data), so the single ordered partition is not a scale bottleneck. */
  def publishOrdered(messages: DataFrame, backendName: String, sortCols: Seq[String]): Unit =
    drain(messages.repartition(1), backendName, sortCols, None)(publishRows(None, None))

  /** Sort each partition on `sortCols` and run `body` over it from one task;
    * on the one-partition drain, returns what the body withholds. */
  private def drain(
      partitioned: DataFrame, backendName: String, sortCols: Seq[String],
      follower: Option[FollowerDrain])(body: DrainBody): Option[String] = {
    val sorted = partitioned.sortWithinPartitions(sortCols.map(col): _*)
    val pass = body(sorted.schema)
    val checkpoint = follower.map(_.checkpoint)
    val records = follower.map(f =>
      (sorted.schema.fieldIndex("kv_key"), sorted.schema.fieldIndex("kv_value"), f.ttlSeconds))
    sorted.mapPartitions { (rows: Iterator[Row]) =>
      val backend = KvBackends(backendName)
      val tail = pass(rows, new DrainOut {
        def store(r: Row): Unit = for ((ki, vi, ttl) <- records if !r.isNullAt(ki)) {
          val key = r.getString(ki)
          backend.set(key, r.getString(vi))
          if (ttl != -1L) backend.expire(key, ttl)
        }
        def publish(channel: String, payload: String, block: Long): Unit = {
          for (c <- checkpoint if channel == c.blockChannel) backend.set(c.key, block.toString)
          backend.publish(channel, payload)
        }
      })
      backend.flush()
      tail.iterator
    }(Encoders.STRING).collect().headOption
  }

  /** The body for ready-placed messages: each row as is, its record SET
    * first; with a [[Carry]], the carried summary first and the
    * `Long.MaxValue` row withheld. The carry and the checkpoint read
    * `blockCol`; a frame that needs neither may have none. */
  private def publishRows(carry: Option[Carry], blockCol: Option[String]): DrainBody = schema => {
    val (ci, pi, bi) = (schema.fieldIndex("channel"), schema.fieldIndex("payload"),
      blockCol.fold(-1)(schema.fieldIndex))
    (rows, out) => {
      val buffered = rows.buffered
      for (c <- carry; p <- c.prev if buffered.hasNext)
        out.publish(c.channelOf(buffered.head), p, buffered.head.getLong(bi))
      var tail = if (buffered.hasNext) None else carry.flatMap(_.prev)
      buffered.foreach { r =>
        val block = if (bi < 0) -1L else r.getLong(bi)
        if (carry.isDefined && block == Long.MaxValue) tail = Some(r.getString(pi))
        else {
          out.store(r)
          out.publish(r.getString(ci), r.getString(pi), block)
        }
      }
      tail
    }
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
    drain(messages.repartition(col(blockCol)), backendName, sortCols, None)(publishRows(None, None))

  /** Mode-dispatching publish entry (see [[PublishMode]]). Message frames
    * carry rank 0/1 for control messages (summaries, block headers) and
    * rank >= 2 for per-op notifications in both follower chains. */
  def publish(
      messages: DataFrame, backendName: String, sortCols: Seq[String],
      mode: PublishMode, rankCol: String = "o_rank", blockCol: String = "o_block"): Unit =
    publishCarrying(messages, backendName, sortCols, mode, None, None, rankCol, blockCol)

  /** [[publish]] for a follower micro-batch, with a [[Carry]] and its
    * [[FollowerDrain]]; summaries and block headers are control messages, so
    * a relaxed publish runs both through its ordered drain too, and SETs the
    * records in the per-block tasks that publish their notifications. */
  private[graft] def publishCarrying(
      messages: DataFrame, backendName: String, sortCols: Seq[String],
      mode: PublishMode, carry: Option[Carry], follower: Option[FollowerDrain],
      rankCol: String = "o_rank", blockCol: String = "o_block"): Option[String] = {
    val ordered = if (mode == PublishMode.Strict) messages else messages.filter(col(rankCol) <= 1)
    val gather = follower.fold((_: DataFrame).repartition(1))(_.gather)
    val tail = drain(gather(ordered), backendName, sortCols, follower)(publishRows(carry, Some(blockCol)))
    if (mode == PublishMode.RelaxedPerBlock)
      drain(messages.filter(col(rankCol) >= 2).repartition(col(blockCol)), backendName, sortCols,
        follower)(publishRows(None, None))
    tail
  }

  /** Strict publish of rows that `body` places itself — the Hive
    * follower's drain, which places transaction summaries and block headers
    * in its one ordered pass ([[graft.ops.BlockOps.placeSummaries]]). */
  private[graft] def publishPlaced(
      rows: DataFrame, backendName: String, sortCols: Seq[String],
      follower: FollowerDrain, body: DrainBody): Option[String] =
    drain(follower.gather(rows), backendName, sortCols, Some(follower))(body)
}
