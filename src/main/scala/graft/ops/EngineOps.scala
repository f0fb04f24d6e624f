package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sidechain follower configuration (hive_engine / steem_engine). */
final case class EngineConfig(
    chainKeyPrefix: String = "hive_engine",
    strictParity: Boolean = true,
    ttlSeconds: Long = 86400L,
)

/** Sidechain (Steem/Hive Engine) follower operator chain
  * (steem_engine/follower_job.rb:20-83), mirroring [[BlockOps]] with the
  * Engine-specific semantics:
  *
  *  - one record per transaction (no nested operations array);
  *  - virtual transactions get their id rewritten to `{40-zeros}-{n}`
  *    (follower_job.rb:173-177) and the prefix trx id is the id's first
  *    `-`-segment (C8), so multi-action transactions (`abc-1`, `abc-2`) and
  *    all virtual transactions share a prefix and run up trx_index;
  *  - keys are 6-part: `{prefix}:{block}:{trx}:{i}:{contract}:{action}`;
  *  - `block_transactions` appends unconditionally (follower_job.rb:42), so
  *    the published transaction_num is the 0-based *run* index within the
  *    block — including the virtual run;
  *  - the summary for run i goes to `{prefix}:virtual_transaction` iff the
  *    run that TRIGGERS the publish (i+1) is virtual (follower_job.rb:44-50
  *    keys the channel off the current record, not the summarized one);
  *  - per-record notifications on `{prefix}:{contract}` and
  *    `{prefix}:{contract}:{action}` (follower_job.rb:81-82).
  *
  * trx_index is a true run-length (gaps-and-islands with two row_numbers),
  * not a per-id counter, preserving the reference's reset-on-interleave
  * behavior for pathological orderings.
  */
object EngineOps {

  import graft.model.Model.VirtualTrxId

  /** `ord` offset of virtual records: they order after a block's real ones. */
  private val VirtualOrd: Int = Int.MaxValue / 2

  /** C12 chain-name prettify: 'hive_engine' -> 'Hive Engine'
    * (follower_job.rb:9-11). */
  def chainName(chainKeyPrefix: String): String =
    chainKeyPrefix.split('_').map(_.capitalize).mkString(" ")

  /** engine blocks -> one row per (real ++ virtual) transaction in stream
    * order, ids rewritten, block timestamp merged (follower_job.rb:164-180). */
  def explodeEngineTrxs(blocks: DataFrame): DataFrame = {
    val real = blocks.select(
      col("blockNumber").as("block_num"), col("timestamp"),
      posexplode(col("transactions")).as(Seq("pos", "trx")),
      lit(false).as("is_virtual"))
    val virt = blocks.select(
      col("blockNumber").as("block_num"), col("timestamp"),
      posexplode(col("virtualTransactions")).as(Seq("pos", "trx")),
      lit(true).as("is_virtual"))
      .withColumn("trx", col("trx").withField("transactionId",
        // dash-less source ids rewrite to "{40 zeros}-" like the reference's
        // nil interpolation (follower_job.rb:173-177) — try_element_at, since
        // ANSI element_at throws on the missing second segment
        concat(lit(VirtualTrxId), lit("-"),
          coalesce(expr("try_element_at(split(trx.transactionId, '-'), 2)"), lit("")))))

    val all = real.unionByName(virt)
      .select(
        col("block_num"), col("timestamp"), col("is_virtual"),
        // virtual records order after all real records within a block
        (col("is_virtual").cast("int") * lit(VirtualOrd) + col("pos")).as("ord"),
        col("trx.transactionId").as("transactionId"),
        col("trx.refSteemBlockNumber").as("refSteemBlockNumber"),
        col("trx.refHiveBlockNumber").as("refHiveBlockNumber"),
        col("trx.sender").as("sender"),
        col("trx.contract").as("contract"),
        col("trx.action").as("action"),
        col("trx.payload").as("payload"))
      .withColumn("trx_id", element_at(split(col("transactionId"), "-"), 1))

    // run-length trx_index over consecutive identical (block, trx_id)
    // prefixes: island id = overall rank - per-prefix rank (C7).
    val wAll = Window.partitionBy("block_num").orderBy("ord")
    val wPrefix = Window.partitionBy("block_num", "trx_id").orderBy("ord")
    val withIsland = all
      .withColumn("rn_all", row_number().over(wAll))
      .withColumn("island", col("rn_all") - row_number().over(wPrefix))
    val wRun = Window.partitionBy("block_num", "trx_id", "island").orderBy("ord")
    withIsland
      .withColumn("trx_index", row_number().over(wRun) - 1)
      .drop("rn_all")
  }

  /** 6-part key (follower_job.rb:57) + kv payload: the full transaction
    * (rewritten id, merged timestamp) as JSON; null ref-block fields drop
    * out, matching a hash that never had them. */
  def keyedTrxs(trxs: DataFrame, cfg: EngineConfig): DataFrame =
    trxs
      .withColumn("key", concat_ws(":",
        lit(cfg.chainKeyPrefix), col("block_num"), col("trx_id"),
        col("trx_index"), col("contract"), col("action")))
      .withColumn("kv_value", to_json(struct(
        col("transactionId"), col("refSteemBlockNumber"), col("refHiveBlockNumber"),
        col("sender"), col("contract"), col("action"), col("payload"), col("timestamp"))))

  /** Run-level transaction summaries with the Engine quirks: run index =
    * published transaction_num; channel keyed off the NEXT run's
    * virtual-ness; stream-final run silent in strict parity. */
  def trxSummaries(trxs: DataFrame, cfg: EngineConfig): DataFrame = {
    val runs = trxs
      .groupBy("block_num", "trx_id", "island", "is_virtual")
      .agg(min("ord").as("run_ord"))
    val wBlock = Window.partitionBy("block_num").orderBy("run_ord")
    // global-order lead via block-range buckets + boundary stitching (Stitch)
    // instead of an unpartitioned window over every run.
    val withNext = Stitch.leadStitched(
        runs.withColumn("run_idx", row_number().over(wBlock) - 1),
        floor(col("block_num") / Stitch.DefaultRange),
        Seq(col("block_num"), col("run_ord")),
        struct(
          col("block_num").as("b"),
          col("run_ord").as("o"),
          col("is_virtual").as("v")),
        "nxt")
      .withColumn("pub_block", col("nxt.b"))
      .withColumn("pub_ord", col("nxt.o"))
      .withColumn("pub_virtual", col("nxt.v"))
      .drop("nxt")

    val placed =
      if (cfg.strictParity) withNext.filter(col("pub_block").isNotNull)
      else withNext
        .withColumn("pub_block", coalesce(col("pub_block"), lit(Long.MaxValue)))
        .withColumn("pub_ord", coalesce(col("pub_ord"), lit(0L)))
        .withColumn("pub_virtual", coalesce(col("pub_virtual"), col("is_virtual")))

    placed.select(
      when(col("pub_virtual"), lit(cfg.chainKeyPrefix + ":virtual_transaction"))
        .otherwise(lit(cfg.chainKeyPrefix + ":transaction")).as("channel"),
      to_json(struct(
        col("block_num"),
        col("trx_id").as("transaction_id"),
        col("run_idx").as("transaction_num"))).as("payload"),
      col("pub_block").as("o_block"),
      col("pub_ord").as("o_ord"),
      lit(0).as("o_rank"))
  }

  /** `{prefix}:block` payload (`{"block_num":N}` — no header on Engine,
    * follower_job.rb:71-79), at the block's first record, rank 1. */
  def blockMessages(trxs: DataFrame, cfg: EngineConfig): DataFrame =
    trxs.groupBy("block_num").agg(min("ord").as("first_ord"))
      .select(
        lit(cfg.chainKeyPrefix + ":block").as("channel"),
        to_json(struct(col("block_num"))).as("payload"),
        col("block_num").as("o_block"),
        col("first_ord").as("o_ord"),
        lit(1).as("o_rank"))

  /** Contract/action notifications (follower_job.rb:81-82), ranks 2 and 3.
    * The rank-2 row carries the record (`kv_key`, `kv_value`), which the
    * follower drain SETs right before publishing it. */
  def contractMessages(keyed: DataFrame, cfg: EngineConfig): DataFrame = {
    val contract = keyed.select(
      concat(lit(cfg.chainKeyPrefix + ":"), col("contract")).as("channel"),
      to_json(struct(col("key"))).as("payload"),
      col("block_num").as("o_block"), col("ord").as("o_ord"), lit(2).as("o_rank"),
      col("key").as("kv_key"), col("kv_value"))
    val action = keyed.select(
      concat(lit(cfg.chainKeyPrefix + ":"), col("contract"), lit(":"), col("action")).as("channel"),
      to_json(struct(col("key"))).as("payload"),
      col("block_num").as("o_block"), col("ord").as("o_ord"), lit(3).as("o_rank"))
    contract.unionByName(action, allowMissingColumns = true)
  }

  /** Channel of the summary a micro-batch carries in from its predecessor
    * (KvPubSubSink.Carry): keyed off the record that triggers the publish,
    * the batch's first (follower_job.rb:44). The batch's first message sits
    * at that record's `o_ord`, which is virtual past [[VirtualOrd]]. */
  def carriedSummaryChannel(cfg: EngineConfig): org.apache.spark.sql.Row => String = first =>
    cfg.chainKeyPrefix +
      (if (first.getAs[Number]("o_ord").longValue >= VirtualOrd) ":virtual_transaction" else ":transaction")

  val messageSortCols: Seq[String] = Seq("o_block", "o_ord", "o_rank", "channel")

  /** Notify stream from precomputed frames, unsorted (sink sorts). */
  def channelMessagesFrom(trxs: DataFrame, keyed: DataFrame, cfg: EngineConfig): DataFrame =
    trxSummaries(trxs, cfg)
      .unionByName(blockMessages(trxs, cfg))
      .unionByName(contractMessages(keyed, cfg), allowMissingColumns = true)

  /** Full ordered notify stream for the sidechain. */
  def channelMessages(blocks: DataFrame, cfg: EngineConfig): DataFrame = {
    val trxs = explodeEngineTrxs(blocks)
    channelMessagesFrom(trxs, keyedTrxs(trxs, cfg), cfg)
      .orderBy(messageSortCols.map(col): _*)
  }
}
