package graft.ops

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.model.Model

/** Sidechain golden tests (steem_engine/follower_job.rb:20-83): 6-part keys,
  * virtual id rewrite, run-length trx_index over multi-action transactions,
  * unconditional-append transaction_num, and the summary-channel-picked-by-
  * NEXT-record quirk.
  */
class EngineOpsSpec extends SparkSpec {

  private val Z40 = "0" * 40
  private val cfg = EngineConfig(chainKeyPrefix = "hive_engine", strictParity = true)

  private def blocks: DataFrame =
    spark.read.schema(Model.engineBlockSchema).json(resource("engine_blocks.jsonl"))

  test("6-part keys with virtual rewrite and multi-action run-length index") {
    val keys = EngineOps.keyedTrxs(EngineOps.explodeEngineTrxs(blocks), cfg)
      .select("key").collect().map(_.getString(0)).toSet
    assert(keys === Set(
      "hive_engine:18000:e0aaa:0:tokens:transfer",
      "hive_engine:18000:e1bbb:0:sc:c1",
      "hive_engine:18000:e1bbb:1:sc:c2",
      s"hive_engine:18000:$Z40:0:tokens:checkPendingUnstake",
      "hive_engine:18001:e2ccc:0:market:buy",
    ))
  }

  test("stored payload: full transaction with rewritten id and merged timestamp") {
    val m = EngineOps.keyedTrxs(EngineOps.explodeEngineTrxs(blocks), cfg)
      .select("key", "kv_value").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("hive_engine:18000:e0aaa:0:tokens:transfer") ===
      """{"transactionId":"e0aaa","refHiveBlockNumber":100,"sender":"alice","contract":"tokens","action":"transfer","payload":"{\"symbol\":\"BEE\",\"to\":\"bob\",\"quantity\":\"1.0\"}","timestamp":"2024-01-01T00:00:00"}""")
    assert(m(s"hive_engine:18000:$Z40:0:tokens:checkPendingUnstake") ===
      s"""{"transactionId":"$Z40-0","refHiveBlockNumber":100,"contract":"tokens","action":"checkPendingUnstake","payload":"{}","timestamp":"2024-01-01T00:00:00"}""")
  }

  test("ordered publish log with the virtual_transaction channel quirk") {
    val log = EngineOps.channelMessages(blocks, cfg)
      .select("channel", "payload").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val t = (n: Int, id: String, num: Int) =>
      s"""{"block_num":$n,"transaction_id":"$id","transaction_num":$num}"""
    val k = (key: String) => s"""{"key":"$key"}"""
    assert(log === Seq(
      "hive_engine:block" -> """{"block_num":18000}""",
      "hive_engine:tokens" -> k("hive_engine:18000:e0aaa:0:tokens:transfer"),
      "hive_engine:tokens:transfer" -> k("hive_engine:18000:e0aaa:0:tokens:transfer"),
      "hive_engine:transaction" -> t(18000, "e0aaa", 0),
      "hive_engine:sc" -> k("hive_engine:18000:e1bbb:0:sc:c1"),
      "hive_engine:sc:c1" -> k("hive_engine:18000:e1bbb:0:sc:c1"),
      "hive_engine:sc" -> k("hive_engine:18000:e1bbb:1:sc:c2"),
      "hive_engine:sc:c2" -> k("hive_engine:18000:e1bbb:1:sc:c2"),
      // e1bbb's summary goes to :virtual_transaction because the NEXT record
      // (the virtual trx) triggers the publish (follower_job.rb:44-50)
      "hive_engine:virtual_transaction" -> t(18000, "e1bbb", 1),
      "hive_engine:tokens" -> k(s"hive_engine:18000:$Z40:0:tokens:checkPendingUnstake"),
      "hive_engine:tokens:checkPendingUnstake" -> k(s"hive_engine:18000:$Z40:0:tokens:checkPendingUnstake"),
      // sentinel run index counts ALL runs (unconditional append)
      "hive_engine:transaction" -> t(18000, Z40, 2),
      "hive_engine:block" -> """{"block_num":18001}""",
      "hive_engine:market" -> k("hive_engine:18001:e2ccc:0:market:buy"),
      "hive_engine:market:buy" -> k("hive_engine:18001:e2ccc:0:market:buy"),
    ))
  }

  test("dash-less virtual transactionId rewrites to sentinel+'-' (never null)") {
    import spark.implicits._
    val raw = Seq(
      """{"blockNumber":19000,"timestamp":"2024-01-01T00:01:00","transactions":[],"virtualTransactions":[{"transactionId":"nodashid","refHiveBlockNumber":100,"contract":"c","action":"a","payload":"{}"}]}""")
    val blk = spark.read.schema(Model.engineBlockSchema).json(raw.toDS())
    val rows = EngineOps.keyedTrxs(EngineOps.explodeEngineTrxs(blk), cfg).collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[String]("transactionId") === s"$Z40-")
    assert(rows(0).getAs[String]("key") === s"hive_engine:19000:$Z40:0:c:a")
  }
}
