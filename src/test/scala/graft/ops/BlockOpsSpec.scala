package graft.ops

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.model.Model

/** Golden-file tests of the mainnet follower chain against hand-derived
  * expectations from the reference semantics (block_follower_job.rb:17-94):
  * exact key set, stored payloads, and the precise ordered
  * publish log including the §7.4 quirks (sentinel trx_index sharing,
  * transaction_num off-by-design, stream-final summary loss).
  */
class BlockOpsSpec extends SparkSpec {

  private val Z40 = "0" * 40
  private val cfg = FollowerConfig(
    chain = "hive", publishOpCustomId = true, strictParity = true)

  private def blocks: DataFrame =
    spark.read.schema(Model.blockSchema).json(resource("blocks.jsonl"))
  private def vops: DataFrame =
    spark.read.schema(Model.vopSchema).json(resource("vops.jsonl"))

  private def keyed = BlockOps.keyedOps(BlockOps.allOps(blocks, vops, cfg), cfg)

  test("key derivation matches the reference grammar incl. sentinel and suffix-less types") {
    val keys = keyed.select("key").collect().map(_.getString(0)).toSet
    assert(keys === Set(
      "hive:100:t0aaa:0:vote",
      "hive:100:t0aaa:1:custom_json",
      "hive:100:t1bbb:0:transfer",
      s"hive:100:$Z40:0:producer_reward",
      "hive:101:t2ccc:0:comment",
      s"hive:102:$Z40:0:producer_reward",
      s"hive:102:$Z40:1:comment_benefactor_reward",
      "hive:103:t3ddd:0:custom_json",
      "hive:103:t3ddd:1:interest",
    ))
  }

  test("stored payload keeps the raw op type and embeds value verbatim with merged timestamp") {
    val m = keyed.select("key", "kv_value").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("hive:100:t0aaa:0:vote") ===
      """{"type":"vote_operation","value":{"voter":"alice","author":"bob","permlink":"test-post","weight":10000},"timestamp":"2024-01-01T00:00:00"}""")
    assert(m(s"hive:100:$Z40:0:producer_reward") ===
      """{"type":"producer_reward","value":{"producer":"w100","vesting_shares":{"amount":"394","precision":6,"nai":"@@000000037"}},"timestamp":"2024-01-01T00:00:00"}""")
    assert(m("hive:103:t3ddd:1:interest") ===
      """{"type":"interest","value":{"owner":"dave","interest":{"amount":"7","precision":3,"nai":"@@000000013"}},"timestamp":"2024-01-01T00:00:09"}""")
  }

  test("ordered publish log matches the reference trace exactly") {
    val log = BlockOps.channelMessages(blocks, vops, cfg)
      .select("channel", "payload").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

    val b = (n: Int, p: String, w: String, m: String, ts: String) =>
      s"""{"block_num":$n,"previous":"$p","timestamp":"$ts","witness":"$w","transaction_merkle_root":"$m","extensions":[]}"""
    val t = (n: Int, id: String, num: Int) =>
      s"""{"block_num":$n,"transaction_id":"$id","transaction_num":$num}"""
    val k = (key: String) => s"""{"key":"$key"}"""

    val expected = Seq(
      "hive:block" -> b(100, "p100", "w100", "m100", "2024-01-01T00:00:00"),
      "hive:op:vote" -> k("hive:100:t0aaa:0:vote"),
      "hive:op:custom_json" -> k("hive:100:t0aaa:1:custom_json"),
      "hive:op:custom_json:sm_team_reveal" -> k("hive:100:t0aaa:1:custom_json"),
      "hive:transaction" -> t(100, "t0aaa", 0),
      "hive:op:transfer" -> k("hive:100:t1bbb:0:transfer"),
      "hive:transaction" -> t(100, "t1bbb", 1),
      "hive:op:producer_reward" -> k(s"hive:100:$Z40:0:producer_reward"),
      // sentinel summary: transaction_num = #real - 1 (quirk)
      "hive:transaction" -> t(100, Z40, 1),
      "hive:block" -> b(101, "p101", "w101", "m101", "2024-01-01T00:00:03"),
      "hive:op:comment" -> k("hive:101:t2ccc:0:comment"),
      // summary of 101's trx published while processing 102's first vop
      "hive:transaction" -> t(101, "t2ccc", 0),
      "hive:block" -> b(102, "p102", "w102", "m102", "2024-01-01T00:00:06"),
      "hive:op:producer_reward" -> k(s"hive:102:$Z40:0:producer_reward"),
      "hive:op:comment_benefactor_reward" -> k(s"hive:102:$Z40:1:comment_benefactor_reward"),
      // vop-only block: sentinel summary num clamps to 0
      "hive:transaction" -> t(102, Z40, 0),
      "hive:block" -> b(103, "p103", "w103", "m103", "2024-01-01T00:00:09"),
      "hive:op:custom_json" -> k("hive:103:t3ddd:0:custom_json"),
      "hive:op:interest" -> k("hive:103:t3ddd:1:interest"),
      // stream-final prefix (103, t3ddd) emits no summary in parity mode
    )
    assert(log === expected)
  }

  test("corrected mode emits the stream-final summary too; zero-op trxs don't count") {
    val log = BlockOps.channelMessages(blocks, vops, cfg.copy(strictParity = false))
      .select("channel", "payload").collect().map(r => (r.getString(0), r.getString(1)))
    // block 103's transactions array is [zero-op t3zzz, t3ddd]: the reference
    // never sees t3zzz (it yields no ops), so t3ddd's transaction_num is 0 —
    // the rank among OP-PRODUCING trxs, not the array position (1)
    assert(log.last === ("hive:transaction" ->
      """{"block_num":103,"transaction_id":"t3ddd","transaction_num":0}"""))
    assert(log.length === 20)
  }

  test("custom-id fan-out is gated and skips ops without value.id") {
    val noCustom = BlockOps.channelMessages(blocks, vops, cfg.copy(publishOpCustomId = false))
      .select("channel").collect().map(_.getString(0))
    assert(!noCustom.exists(_.startsWith("hive:op:custom_json:")))
    // with the gate on, the id-less custom_json in block 103 still publishes
    // only the base channel
    val withCustom = BlockOps.channelMessages(blocks, vops, cfg)
      .select("channel").collect().map(_.getString(0))
    assert(withCustom.count(_ == "hive:op:custom_json") === 2)
    assert(withCustom.count(_.startsWith("hive:op:custom_json:")) === 1)
  }

  test("include_virtual=false drops vops entirely (C10)") {
    val keys = BlockOps.keyedOps(
      BlockOps.allOps(blocks, vops, cfg.copy(includeVirtual = false)), cfg)
      .select("key").collect().map(_.getString(0))
    assert(!keys.exists(_.contains(Z40)))
    assert(keys.length === 6)
  }

  test("include_block_header=false publishes bare block_num payloads (C11)") {
    val blockPayloads = BlockOps.channelMessages(blocks, vops, cfg.copy(includeBlockHeader = false))
      .filter(org.apache.spark.sql.functions.col("channel") === "hive:block")
      .select("payload").collect().map(_.getString(0))
    assert(blockPayloads.toSeq === Seq(
      """{"block_num":100}""", """{"block_num":101}""",
      """{"block_num":102}""", """{"block_num":103}"""))
  }
}
