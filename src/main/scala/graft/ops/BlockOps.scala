package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Follower pipeline configuration (defaults mirror meeseeker.rb:95-100). */
final case class FollowerConfig(
    chain: String = "hive",
    includeVirtual: Boolean = true,
    includeBlockHeader: Boolean = true,
    publishOpCustomId: Boolean = false,
    /** Replicate the reference's stream-end quirk exactly: the last trx
      * prefix of the stream never gets a transaction summary
      * (block_follower_job.rb:26-33 only fires on the NEXT prefix).
      * `false` = corrected mode, emit the final summary too. */
    strictParity: Boolean = true,
    ttlSeconds: Long = 86400L,
)

/** The mainnet block-follower operator chain (SURVEY.md §2.C/§2.D) as pure
  * DataFrame -> DataFrame transforms — the reference's per-record `yield`
  * loop (block_follower_job.rb:17-94) re-expressed as one declarative plan:
  *
  *   blocks --posexplode--> ops --withColumns--> keys + kv payloads
  *      |                       \--select------> op notifications --+
  *      \--select------------------------------> block headers -----+
  *                                                                  |
  *   Strict drain (one sorted task): trx summaries + headers placed in
  *   its pass over the op rows ([[placeSummaries]]); the checkpoint key
  *   is SET at each header publish
  *
  *   Relational form (RelaxedPerBlock, the golden API): trx summaries by
  *   window + Stitch lead, headers by aggregate + join ([[channelMessages]])
  *
  * posexplode hands out transaction_num and trx_index statelessly (and
  * per-partition-parallel), replacing the reference's global run-length
  * counter (block_follower_job.rb:21-37) — same values, no sequential state.
  *
  * Every message row carries sort columns (block_num, virt, otrx, oidx,
  * rank) reproducing the reference's exact publish order; the sink sorts a
  * micro-batch on them before publishing (SURVEY §4.2), and the follower's
  * drain SETs each op's record right before its notification, as the
  * reference's loop does.
  */
object BlockOps {

  import graft.model.Model.VirtualTrxId

  /** Large sentinel so virtual ops order after all real ops in a block. */
  private val VirtOrd = Int.MaxValue

  /** blocks -> one row per operation:
    * (block_num, timestamp, trx_id, transaction_num, trx_index,
    *  op_type_raw, value(raw JSON), is_virtual).
    * C1/C2/C7: double posexplode + parent-column carry. */
  def explodeOps(blocks: DataFrame): DataFrame =
    blocks
      .select(
        col("block_num"), col("timestamp"), col("transaction_ids"),
        posexplode(col("transactions")).as(Seq("transaction_num", "trx")))
      .select(
        col("block_num"), col("timestamp"),
        element_at(col("transaction_ids"), (col("transaction_num") + 1).cast("int")).as("trx_id"),
        col("transaction_num").cast("int").as("transaction_num"),
        posexplode(col("trx.operations")).as(Seq("trx_index", "op")))
      .select(
        col("block_num"), col("timestamp"), col("trx_id"), col("transaction_num"),
        col("trx_index").cast("int").as("trx_index"),
        col("op.type").as("op_type_raw"),
        col("op.value").as("value"),
        lit(false).as("is_virtual"))

  /** Virtual ops (get_ops_in_block shape) -> the same envelope. The
    * reference's run-length counter gives all vops of a block one shared
    * trx_index sequence (they share the sentinel trx id) — replicated with
    * row_number over the block partition (SURVEY §7.4). C4. */
  def normalizeVops(vops: DataFrame): DataFrame = {
    val w = Window.partitionBy("block").orderBy("virtual_op")
    vops.select(
      col("block").as("block_num"), col("timestamp"), col("trx_id"),
      lit(VirtOrd).as("transaction_num"),
      (row_number().over(w) - 1).as("trx_index"),
      element_at(col("op"), 1).as("op_type_raw"),
      element_at(col("op"), 2).as("value"),
      lit(true).as("is_virtual"))
  }

  /** Real + virtual ops in stream order (E5 union; C10 include gate). */
  def allOps(blocks: DataFrame, vops: DataFrame, cfg: FollowerConfig): DataFrame = {
    val real = explodeOps(blocks)
    if (cfg.includeVirtual) real.unionByName(normalizeVops(vops)) else real
  }

  /** C3: strip the `_operation` suffix (key/channel name only — the stored
    * payload keeps the raw type, exactly like the reference, which
    * normalizes for the key at block_follower_job.rb:39-43 but SETs the
    * unmodified op at :55). */
  def normalizeOpType(raw: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(raw, "_operation$", "")

  /** C6 key derivation + B1 kv payload. The kv value embeds the raw-JSON
    * `value` verbatim (concat, not to_json) so the open op union is stored
    * untouched, with the block timestamp merged in (C2). */
  def keyedOps(ops: DataFrame, cfg: FollowerConfig): DataFrame =
    ops
      .withColumn("op_type", normalizeOpType(col("op_type_raw")))
      .withColumn("key",
        concat_ws(":", lit(cfg.chain), col("block_num"), col("trx_id"), col("trx_index"), col("op_type")))
      .withColumn("kv_value",
        concat(
          lit("{\"type\":\""), col("op_type_raw"),
          lit("\",\"value\":"), col("value"),
          lit(",\"timestamp\":\""), col("timestamp"), lit("\"}")))

  /** Transaction summaries (D1/D2 + the §7.4 off-by-design quirk).
    *
    * Reference semantics (block_follower_job.rb:21-37,59): the summary for
    * prefix i is published when prefix i+1 begins; `transaction_num` works
    * out to the 0-based index of a real trx within its block, and for the
    * virtual sentinel to (#real - 1) clamped at 0 (the first trx of each
    * block is wiped from `block_transactions` by the reset at :59, and the
    * sentinel is never appended).
    *
    * A prefix is a run of consecutive ops, in publish order, under one
    * (block, is_virtual, transaction_num, trx_id) — the reference's
    * run-length loop: vops that alternate trx ids form one prefix per run.
    *
    * Output: one row per prefix with payload + the sort position it is
    * published at (the NEXT prefix's first op, via lead()); in
    * strict-parity mode the stream-final prefix emits nothing.
    */
  def trxSummaries(ops: DataFrame, cfg: FollowerConfig): DataFrame = {
    val realCount = ops.filter(!col("is_virtual"))
      .groupBy(col("block_num").as("rc_block")).agg(countDistinct("trx_id").as("n_real"))

    // summary_num counts only OP-PRODUCING transactions: a zero-op trx never
    // yields in the reference and so never enters block_transactions — the
    // rank among prefixes (not the raw transactions-array position) is the
    // faithful value when empty transactions exist.
    val wRealRank = Window.partitionBy("block_num", "is_virtual").orderBy("transaction_num")
    // run id = op rank in its (block, is_virtual, transaction_num) slot -
    // op rank under its trx id there: constant along a run (C7)
    val slot = Seq("block_num", "is_virtual", "transaction_num")
    val wSlot = Window.partitionBy(slot.map(col): _*).orderBy("trx_index")
    val wRun = Window.partitionBy((slot :+ "trx_id").map(col): _*).orderBy("trx_index")
    val prefixes = ops
      .withColumn("run", row_number().over(wSlot) - row_number().over(wRun))
      .groupBy("block_num", "trx_id", "is_virtual", "transaction_num", "run")
      .agg(min("trx_index").as("first_oidx"))
      .join(realCount, col("block_num") === col("rc_block"), "left")
      .withColumn("summary_num",
        when(!col("is_virtual"), row_number().over(wRealRank) - 1)
          .otherwise(greatest(coalesce(col("n_real"), lit(0L)) - 1, lit(0L)).cast("int")))

    // lead over the global prefix order, computed per block-range bucket with
    // boundary stitching (Stitch) — no unpartitioned WindowExec in the plan.
    // Virtual prefixes share the sentinel transaction_num; their first op's
    // trx_index orders them.
    val withNext = Stitch.leadStitched(
        prefixes,
        floor(col("block_num") / Stitch.DefaultRange),
        Seq(col("block_num"), col("is_virtual"), col("transaction_num"), col("first_oidx")),
        struct(
          col("block_num").as("b"),
          col("is_virtual").cast("int").as("v"),
          col("transaction_num").as("t"),
          col("first_oidx").as("i")),
        "nxt")
      .withColumn("pub_block", col("nxt.b"))
      .withColumn("pub_virt", col("nxt.v"))
      .withColumn("pub_otrx", col("nxt.t"))
      .withColumn("pub_oidx", col("nxt.i"))
      .drop("nxt")

    // The stream-final prefix has no successor: in strict parity it emits
    // nothing (the reference quirk); in corrected mode it is placed at the
    // end (o_block = Long.MaxValue). A RelaxedPerBlock stream builds its
    // messages in corrected mode and its ordered control drain withholds
    // that row, carrying it into the next micro-batch instead (exact
    // parity across batch boundaries — KvPubSubSink.Carry).
    val placed =
      if (cfg.strictParity) withNext.filter(col("pub_block").isNotNull)
      else withNext
        .withColumn("pub_block", coalesce(col("pub_block"), lit(Long.MaxValue)))
        .withColumn("pub_virt", coalesce(col("pub_virt"), lit(0)))
        .withColumn("pub_otrx", coalesce(col("pub_otrx"), lit(0)))
        .withColumn("pub_oidx", coalesce(col("pub_oidx"), lit(0)))

    placed.select(
      concat(lit(cfg.chain), lit(":transaction")).as("channel"),
      to_json(struct(
        col("block_num"),
        col("trx_id").as("transaction_id"),
        col("summary_num").as("transaction_num"))).as("payload"),
      col("pub_block").as("o_block"),
      col("pub_virt").as("o_virt"),
      col("pub_otrx").as("o_otrx"),
      col("pub_oidx").as("o_oidx"),
      lit(0).as("o_rank"))
  }

  /** B2 block-channel payloads: one per block that produced at least one op
    * (a block with no ops never triggers processing in the reference),
    * published at the block's first op with rank 1 (after the summary,
    * before the op notify). C11 gates the header fields. */
  def blockMessages(blocks: DataFrame, ops: DataFrame, cfg: FollowerConfig): DataFrame = {
    val firstOp = ops.groupBy(col("block_num").as("fo_block"))
      .agg(
        min(struct(col("is_virtual").cast("int").as("v"), col("transaction_num").as("t"))).as("fo"))
    blocks
      .join(firstOp, col("block_num") === col("fo_block"))
      .select(
        lit(blockChannel(cfg)).as("channel"),
        headerPayload(cfg).as("payload"),
        col("block_num").as("o_block"),
        col("fo.v").as("o_virt"),
        col("fo.t").as("o_otrx"),
        lit(0).as("o_oidx"),
        lit(1).as("o_rank"))
  }

  def blockChannel(cfg: FollowerConfig): String = s"${cfg.chain}:block"

  /** The `{chain}:block` payload, C11-gated header fields. */
  private def headerPayload(cfg: FollowerConfig): org.apache.spark.sql.Column =
    if (cfg.includeBlockHeader)
      to_json(struct(
        col("block_num"), col("previous"), col("timestamp"), col("witness"),
        col("transaction_merkle_root"), col("extensions")))
    else to_json(struct(col("block_num")))

  /** B2 per-op notifications: `{chain}:op:{type}` always, plus the gated
    * `{chain}:op:{type}:{custom_id}` fan-out (custom* ops with a non-empty
    * value.id — block_follower_job.rb:85-93). Channels are data-derived:
    * built per row, never enumerated. Rows keep the op's `trx_id`, which the
    * Strict drain keys its prefixes on; each op's one rank-2 row carries its
    * record (`kv_key`, `kv_value`), which the follower drain SETs right
    * before publishing the row. */
  def opMessages(keyed: DataFrame, cfg: FollowerConfig): DataFrame = {
    val base = keyed.select(
      concat(lit(cfg.chain), lit(":op:"), col("op_type")).as("channel"),
      to_json(struct(col("key"))).as("payload"),
      col("block_num").as("o_block"),
      col("is_virtual").cast("int").as("o_virt"),
      col("transaction_num").as("o_otrx"),
      col("trx_id"),
      col("trx_index").as("o_oidx"),
      lit(2).as("o_rank"),
      col("key").as("kv_key"),
      col("kv_value"))
    if (!cfg.publishOpCustomId) base
    else {
      val customId = get_json_object(col("value"), "$.id")
      val custom = keyed
        .filter(col("op_type").isin("custom", "custom_binary", "custom_json"))
        .withColumn("custom_id", customId)
        .filter(length(col("custom_id")) > 0)
        .select(
          concat(lit(cfg.chain), lit(":op:"), col("op_type"), lit(":"), col("custom_id")).as("channel"),
          to_json(struct(col("key"))).as("payload"),
          col("block_num").as("o_block"),
          col("is_virtual").cast("int").as("o_virt"),
          col("transaction_num").as("o_otrx"),
          col("trx_id"),
          col("trx_index").as("o_oidx"),
          lit(3).as("o_rank"))
      base.unionByName(custom, allowMissingColumns = true)
    }
  }

  val messageSortCols: Seq[String] =
    Seq("o_block", "o_virt", "o_otrx", "o_oidx", "o_rank", "channel")

  /** Notify stream from precomputed frames, UNSORTED — the sink applies the
    * one load-bearing sort. Callers that already built (ops, keyed) use this
    * to avoid re-deriving the explode chain. */
  def channelMessagesFrom(
      blocks: DataFrame, ops: DataFrame, keyed: DataFrame, cfg: FollowerConfig): DataFrame =
    trxSummaries(ops, cfg)
      .unionByName(blockMessages(blocks, ops, cfg))
      .unionByName(opMessages(keyed, cfg).drop("trx_id"), allowMissingColumns = true)

  /** The Strict drain's input, two narrow frames: one header row per block
    * (o_virt = -1, so it sorts ahead of the block's ops) and the op
    * notifications with their `trx_id`. No window, join or aggregate: the
    * drain places summaries and headers itself ([[placeSummaries]]). */
  def drainRows(blocks: DataFrame, keyed: DataFrame, cfg: FollowerConfig): DataFrame =
    blocks.select(
        lit(blockChannel(cfg)).as("channel"),
        headerPayload(cfg).as("payload"),
        col("block_num").as("o_block"),
        lit(-1).as("o_virt"),
        lit(0).as("o_otrx"),
        lit(null).cast("string").as("trx_id"),
        lit(0).as("o_oidx"),
        lit(1).as("o_rank"))
      .unionByName(opMessages(keyed, cfg), allowMissingColumns = true)

  /** The Strict drain's pass over [[drainRows]] sorted on
    * [[messageSortCols]]: the reference's one ordered loop
    * (block_follower_job.rb:21-37,59,78-93) with [[trxSummaries]]'
    * numbering and [[blockMessages]]' placement.
    *
    * When an op row starts a new prefix (block, is_virtual,
    * transaction_num, trx_id) in publish order, the previous prefix's
    * summary is published; then the row's record is SET; when the row also
    * starts a new block, the block's held header follows (a block without
    * ops publishes none); then the op row. A real prefix is numbered by its
    * op-producing rank in the block, a virtual one by max(#real trx - 1, 0).
    *
    * `prev` is the summary carried in from the previous micro-batch: it is
    * published at the batch's first prefix. The batch-final summary is
    * returned with `withhold` (the streaming carry), else dropped in strict
    * parity and published last in corrected mode. */
  def placeSummaries(cfg: FollowerConfig, prev: Option[String], withhold: Boolean)(
      schema: org.apache.spark.sql.types.StructType)
      : (Iterator[Row], graft.sink.KvPubSubSink.DrainOut) => Option[String] = {
    val Seq(ci, pi, bi, vi, ti, ii) =
      Seq("channel", "payload", "o_block", "o_virt", "o_otrx", "trx_id").map(schema.fieldIndex)
    val trxChannel = s"${cfg.chain}:transaction"
    val strictParity = cfg.strictParity
    (rows, out) => {
      var pending = prev
      var header: Row = null
      // the current prefix, and the real prefixes seen in its block (a
      // block's trx ids are distinct, so this is trxSummaries' #real trx)
      var (block, virt, otrx, trxId) = (Long.MinValue, -1, 0, null: String)
      var realPrefixes = 0
      rows.foreach { r =>
        val b = r.getLong(bi)
        val v = r.getInt(vi)
        if (v < 0) header = r
        else {
          val t = r.getInt(ti)
          val id = r.getString(ii)
          val starts = b != block || v != virt || t != otrx || id != trxId
          if (starts) pending.foreach(out.publish(trxChannel, _, block))
          out.store(r)
          if (starts) {
            if (b != block) {
              if (header != null && header.getLong(bi) == b)
                out.publish(header.getString(ci), header.getString(pi), b)
              header = null
              realPrefixes = 0
            }
            val num =
              if (v == 0) { realPrefixes += 1; realPrefixes - 1 }
              else math.max(realPrefixes - 1, 0)
            pending = Some(summaryJson(b, id, num))
            block = b; virt = v; otrx = t; trxId = id
          }
          out.publish(r.getString(ci), r.getString(pi), b)
        }
      }
      if (withhold) pending
      else {
        if (!strictParity) pending.foreach(out.publish(trxChannel, _, block))
        None
      }
    }
  }

  /** The summary payload exactly as [[trxSummaries]]' `to_json` writes it:
    * Jackson's string quoting, and a null trx id left out. */
  private def summaryJson(block: Long, trxId: String, num: Int): String = {
    val id =
      if (trxId == null) ""
      else "\"transaction_id\":\"" +
        new String(com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance.quoteAsString(trxId)) + "\","
    s"""{"block_num":$block,$id"transaction_num":$num}"""
  }

  /** The full notify stream in exact reference publish order (consumer /
    * golden-test API). */
  def channelMessages(blocks: DataFrame, vops: DataFrame, cfg: FollowerConfig): DataFrame = {
    val ops = allOps(blocks, vops, cfg)
    channelMessagesFrom(blocks, ops, keyedOps(ops, cfg), cfg)
      .orderBy(messageSortCols.map(col): _*)
  }
}
