package graft.jobs

import java.nio.file.Files

import graft.SparkSpec
import graft.model.Model
import graft.ops.{EngineConfig, FollowerConfig}
import graft.sink.{InMemoryKvBackend, KvBackends, PublishMode}

/** End-to-end pipeline tests: batch and streaming (custom replay source +
  * foreachBatch sink) must materialize the identical KV state, checkpoint,
  * and per-batch-ordered publish stream.
  */
class PipelineSpec extends SparkSpec {

  private val cfg = FollowerConfig(chain = "hive", publishOpCustomId = true)

  private def freshBackend(name: String): InMemoryKvBackend = {
    val b = new InMemoryKvBackend
    KvBackends.register(name, b)
    b
  }

  test("batch pipeline materializes keys, TTLs, checkpoint, ordered publishes") {
    val backend = freshBackend("batch-test")
    val blocks = spark.read.schema(Model.blockSchema).json(resource("blocks.jsonl"))
    val vops = spark.read.schema(Model.vopSchema).json(resource("vops.jsonl"))
    BlockFollowerPipeline.processBatch(blocks, vops, cfg, "batch-test")

    assert(backend.size === 10) // 9 op keys + checkpoint
    assert(backend.get("hive:meeseeker:last_block_num") === Some("103"))
    assert(backend.ttlOf("hive:100:t0aaa:0:vote") === Some(86400L))
    // checkpoint key carries no TTL
    assert(backend.ttlOf("hive:meeseeker:last_block_num") === None)
    val log = backend.publishLog
    assert(log.size === 19)
    assert(log.head._1 === "hive:block")
    assert(log.count(_._1 == "hive:transaction") === 5)
  }

  test("ttl=-1 skips expiry (B1)") {
    val backend = freshBackend("ttl-test")
    val blocks = spark.read.schema(Model.blockSchema).json(resource("blocks.jsonl"))
    val vops = spark.read.schema(Model.vopSchema).json(resource("vops.jsonl"))
    BlockFollowerPipeline.processBatch(blocks, vops, cfg.copy(ttlSeconds = -1L), "ttl-test")
    assert(backend.ttlOf("hive:100:t0aaa:0:vote") === None)
  }

  test("streaming replay in one micro-batch equals batch output exactly") {
    val backend = freshBackend("stream-one")
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    val q = BlockFollowerPipeline.runStream(
      spark, resource("blocks.jsonl"), Some(resource("vops.jsonl")),
      cfg, "stream-one", ckpt, linesPerTrigger = 1000L)
    q.awaitTermination(60000)

    val batchBackend = freshBackend("stream-one-ref")
    val blocks = spark.read.schema(Model.blockSchema).json(resource("blocks.jsonl"))
    val vops = spark.read.schema(Model.vopSchema).json(resource("vops.jsonl"))
    BlockFollowerPipeline.processBatch(blocks, vops, cfg, "stream-one-ref")

    assert(backend.get("hive:meeseeker:last_block_num") === Some("103"))
    // streaming additionally parks the stream-final summary in the control key
    assert(backend.size === batchBackend.size + 1)
    assert(backend.publishLog === batchBackend.publishLog)
  }

  test("streaming with small micro-batches: EXACT publish-sequence parity via summary carry") {
    val backend = freshBackend("stream-chunked")
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    val q = BlockFollowerPipeline.runStream(
      spark, resource("blocks.jsonl"), Some(resource("vops.jsonl")),
      cfg, "stream-chunked", ckpt, linesPerTrigger = 2L)
    q.awaitTermination(60000)

    // KV materialization is batch-size-invariant (idempotent by key); the
    // per-batch pending keys park the batch-final summaries (batch 0's key
    // is only cleaned two batches later, so two linger at stream end)
    assert(backend.size === 12) // 9 op keys + checkpoint + pending:0 + pending:1
    assert(backend.get("hive:meeseeker:last_block_num") === Some("103"))
    assert(backend.get(BlockFollowerPipeline.pendingSummaryKey(cfg, 1L)) ===
      Some("""{"block_num":103,"transaction_id":"t3ddd","transaction_num":0}"""))

    // the full publish sequence across N micro-batches equals the
    // single-continuous-run sequence: the batch-final summary is carried in
    // the control key and fired at the head of the next batch
    val batchBackend = freshBackend("stream-chunked-ref")
    val blocks = spark.read.schema(Model.blockSchema).json(resource("blocks.jsonl"))
    val vops = spark.read.schema(Model.vopSchema).json(resource("vops.jsonl"))
    BlockFollowerPipeline.processBatch(blocks, vops, cfg, "stream-chunked-ref")
    assert(backend.publishLog === batchBackend.publishLog)
  }

  test("carry is idempotent under micro-batch RETRY (foreachBatch at-least-once)") {
    val backend = freshBackend("retry-test")
    val blocks = spark.read.schema(Model.blockSchema).json(resource("blocks.jsonl"))
    val vops = spark.read.schema(Model.vopSchema).json(resource("vops.jsonl"))
    val b0 = blocks.filter(org.apache.spark.sql.functions.col("block_num") <= 101)
    val b1 = blocks.filter(org.apache.spark.sql.functions.col("block_num") >= 102)
    BlockFollowerPipeline.processBatch(b0, vops, cfg, "retry-test", carrySummaries = true, batchId = 0L)
    BlockFollowerPipeline.processBatch(b1, vops, cfg, "retry-test", carrySummaries = true, batchId = 1L)
    val pendingAfter = backend.get(BlockFollowerPipeline.pendingSummaryKey(cfg, 1L))
    val logAfter = backend.publishLog
    // simulate Spark re-running batch 1 after a crash-before-offset-commit:
    // batch 0's pending key must still be there, so the retry re-publishes
    // the SAME carried summary (at-least-once) and re-parks the same tail
    BlockFollowerPipeline.processBatch(b1, vops, cfg, "retry-test", carrySummaries = true, batchId = 1L)
    assert(backend.get(BlockFollowerPipeline.pendingSummaryKey(cfg, 1L)) === pendingAfter)
    val retried = backend.publishLog.drop(logAfter.size)
    val original = logAfter.drop(logAfter.size - retried.size)
    assert(retried === original) // byte-identical replay, no content corruption
  }

  test("corrected mode streams every transaction summary exactly once across micro-batches") {
    val corrected = cfg.copy(strictParity = false)
    val backend = freshBackend("stream-corrected")
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    val q = BlockFollowerPipeline.runStream(
      spark, resource("blocks.jsonl"), Some(resource("vops.jsonl")),
      corrected, "stream-corrected", ckpt, linesPerTrigger = 1L)
    q.awaitTermination(60000)

    val summaries = backend.publishLog.filter(_._1 == "hive:transaction").map(_._2)
    assert(summaries.nonEmpty)
    assert(summaries.distinct === summaries) // no summary published twice

    // the stream-final summary stays parked in the last batch's control key;
    // with it appended, the stream's sequence is the single corrected run's
    val lastBatch = backend.keys("hive:graft:pending_summary:*").map(_.split(':').last.toLong).max
    val parked = backend.get(BlockFollowerPipeline.pendingSummaryKey(corrected, lastBatch))
    val ref = freshBackend("stream-corrected-ref")
    val blocks = spark.read.schema(Model.blockSchema).json(resource("blocks.jsonl"))
    val vops = spark.read.schema(Model.vopSchema).json(resource("vops.jsonl"))
    BlockFollowerPipeline.processBatch(blocks, vops, corrected, "stream-corrected-ref")
    assert(backend.publishLog ++ parked.map("hive:transaction" -> _) === ref.publishLog)
  }

  test("RelaxedPerBlock stream over small micro-batches: control order and message multiset of one batch run") {
    val backend = freshBackend("stream-relaxed")
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    val raw = spark.readStream
      .format("graft.streaming.JsonlReplaySource")
      .option("path", resource("blocks.jsonl"))
      .option("linesPerTrigger", "1")
      .load()
    val q = BlockFollowerPipeline.runStreamFrom(
      spark, raw, Some(resource("vops.jsonl")), cfg, "stream-relaxed", ckpt,
      publishMode = PublishMode.RelaxedPerBlock)
    q.awaitTermination(60000)

    val ref = freshBackend("stream-relaxed-ref")
    val blocks = spark.read.schema(Model.blockSchema).json(resource("blocks.jsonl"))
    val vops = spark.read.schema(Model.vopSchema).json(resource("vops.jsonl"))
    BlockFollowerPipeline.processBatch(blocks, vops, cfg, "stream-relaxed-ref")

    def isControl(m: (String, String)): Boolean = !m._1.contains(":op:")
    val log = backend.publishLog
    assert(log.count(_._1 == "hive:transaction") > 0)
    assert(log.filter(isControl) === ref.publishLog.filter(isControl))
    assert(log.groupBy(identity).view.mapValues(_.size).toMap ===
      ref.publishLog.groupBy(identity).view.mapValues(_.size).toMap)
  }

  test("engine carry is idempotent under micro-batch RETRY") {
    val ecfg = EngineConfig()
    val backend = freshBackend("engine-retry")
    val blocks = spark.read.schema(Model.engineBlockSchema).json(resource("engine_blocks.jsonl"))
    val b0 = blocks.filter(org.apache.spark.sql.functions.col("blockNumber") === 18000)
    val b1 = blocks.filter(org.apache.spark.sql.functions.col("blockNumber") === 18001)
    EngineFollowerPipeline.processBatch(b0, ecfg, "engine-retry", carrySummaries = true, batchId = 0L)
    EngineFollowerPipeline.processBatch(b1, ecfg, "engine-retry", carrySummaries = true, batchId = 1L)
    val carried = backend.get(EngineFollowerPipeline.pendingSummaryKey(ecfg, 0L))
    val pendingAfter = backend.get(EngineFollowerPipeline.pendingSummaryKey(ecfg, 1L))
    val logAfter = backend.publishLog
    assert(carried.isDefined && pendingAfter.isDefined)

    // a re-run of batch 1 re-publishes batch 0's carried summary first, on
    // the channel of batch 1's first record, and re-parks the same tail
    EngineFollowerPipeline.processBatch(b1, ecfg, "engine-retry", carrySummaries = true, batchId = 1L)
    assert(backend.get(EngineFollowerPipeline.pendingSummaryKey(ecfg, 1L)) === pendingAfter)
    val retried = backend.publishLog.drop(logAfter.size)
    assert(retried.head === ("hive_engine:transaction" -> carried.get))
    assert(retried === logAfter.drop(logAfter.size - retried.size))
  }

  test("engine carry: a batch whose first record is virtual takes the summary in on virtual_transaction") {
    val ecfg = EngineConfig()
    val b0 = spark.read.schema(Model.engineBlockSchema).json(resource("engine_blocks.jsonl"))
      .filter(org.apache.spark.sql.functions.col("blockNumber") === 18000)
    val b1 = {
      import spark.implicits._
      spark.read.schema(Model.engineBlockSchema).json(Seq(
        """{"blockNumber":18002,"timestamp":"2024-01-01T00:00:06","transactions":[],""" +
          """"virtualTransactions":[{"transactionId":"18002-0","refHiveBlockNumber":102,""" +
          """"contract":"tokens","action":"checkPendingUnstake","payload":"{}"}]}""").toDS())
    }
    val backend = freshBackend("engine-virtual-first")
    EngineFollowerPipeline.processBatch(b0, ecfg, "engine-virtual-first", carrySummaries = true, batchId = 0L)
    val carried = backend.get(EngineFollowerPipeline.pendingSummaryKey(ecfg, 0L))
    val before = backend.publishLog.size
    EngineFollowerPipeline.processBatch(b1, ecfg, "engine-virtual-first", carrySummaries = true, batchId = 1L)
    assert(carried.isDefined)
    assert(backend.publishLog(before) === ("hive_engine:virtual_transaction" -> carried.get))

    val ref = freshBackend("engine-virtual-first-ref")
    EngineFollowerPipeline.processBatch(b0.unionByName(b1), ecfg, "engine-virtual-first-ref")
    assert(backend.publishLog === ref.publishLog)
  }

  test("engine streaming chunked: exact parity incl. carried-summary channel quirk") {
    val backend = freshBackend("engine-chunked")
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    val q = EngineFollowerPipeline.runStream(
      spark, resource("engine_blocks.jsonl"), graft.ops.EngineConfig(), "engine-chunked",
      ckpt, linesPerTrigger = 1L)
    q.awaitTermination(60000)
    val batchBackend = freshBackend("engine-chunked-ref")
    val blocks = spark.read.schema(Model.engineBlockSchema).json(resource("engine_blocks.jsonl"))
    EngineFollowerPipeline.processBatch(blocks, graft.ops.EngineConfig(), "engine-chunked-ref")
    assert(backend.publishLog === batchBackend.publishLog)
  }

  test("engine batch pipeline end-to-end") {
    val backend = freshBackend("engine-test")
    val blocks = spark.read.schema(Model.engineBlockSchema).json(resource("engine_blocks.jsonl"))
    EngineFollowerPipeline.processBatch(blocks, EngineConfig(), "engine-test")
    assert(backend.size === 6) // 5 trx keys + checkpoint
    assert(backend.get("hive_engine:meeseeker:last_block_num") === Some("18001"))
    assert(backend.publishLog.size === 15)
  }

  test("engine streaming replay equals batch") {
    val backend = freshBackend("engine-stream")
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    val q = EngineFollowerPipeline.runStream(
      spark, resource("engine_blocks.jsonl"), EngineConfig(), "engine-stream",
      ckpt, linesPerTrigger = 1000L)
    q.awaitTermination(60000)
    assert(backend.size === 7) // 5 trx keys + checkpoint + parked summary
    assert(backend.publishLog.size === 15)
  }
}
