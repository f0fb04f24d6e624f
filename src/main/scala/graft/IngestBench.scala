package graft

import java.io.{File, PrintWriter}

import graft.jobs.BlockFollowerPipeline
import graft.model.Model
import graft.ops.FollowerConfig
import graft.sink.{InMemoryKvBackend, KvBackends}

/** Ingest-throughput benchmark vs the reference's implied envelope
  * (BASELINE.md: 0.33 blocks/s, RPC-bound). Generates a synthetic block
  * fixture (same shape as blocks.jsonl), replays it through the full
  * follower pipeline (explode -> normalize -> key -> KV + ordered publish),
  * and reports blocks/s and ops/s as one JSON line.
  */
object IngestBench {

  def main(args: Array[String]): Unit = {
    val nBlocks = args.headOption.map(_.toInt).getOrElse(5000)
    val trxPerBlock = 4
    val opsPerTrx = 3

    val spark = Sessions.build("graft-ingestbench")

    val path = File.createTempFile("ingest-blocks-", ".jsonl")
    path.deleteOnExit()
    writeFixture(path, nBlocks, trxPerBlock, opsPerTrx)

    val backend = new InMemoryKvBackend
    KvBackends.register("ingest-bench", backend)
    val cfg = FollowerConfig(chain = "hive", includeVirtual = false, publishOpCustomId = false)

    val blocks = spark.read.schema(Model.blockSchema).json(path.getAbsolutePath)
    // warm: parse+plan once
    blocks.count()

    // One untimed warm pass PER MODE (JIT/codegen dominate a cold run, and
    // the relaxed plan has its own repartition/fan-out code path to warm —
    // warming only strict would bias the comparison against relaxed).
    val warmBackend = new InMemoryKvBackend
    KvBackends.register("ingest-bench-warm", warmBackend)
    BlockFollowerPipeline.processBatch(
      blocks, BlockFollowerPipeline.emptyVops(spark), cfg, "ingest-bench-warm")
    val warmBackend2 = new InMemoryKvBackend
    KvBackends.register("ingest-bench-warm2", warmBackend2)
    BlockFollowerPipeline.processBatch(
      blocks, BlockFollowerPipeline.emptyVops(spark), cfg, "ingest-bench-warm2",
      publishMode = graft.sink.PublishMode.RelaxedPerBlock)

    val relaxedBackend = new InMemoryKvBackend
    KvBackends.register("ingest-bench-relaxed", relaxedBackend)
    val t1 = System.nanoTime()
    BlockFollowerPipeline.processBatch(
      blocks, BlockFollowerPipeline.emptyVops(spark), cfg, "ingest-bench-relaxed",
      publishMode = graft.sink.PublishMode.RelaxedPerBlock)
    val relaxedSec = (System.nanoTime() - t1) / 1e9

    val t0 = System.nanoTime()
    BlockFollowerPipeline.processBatch(
      blocks, BlockFollowerPipeline.emptyVops(spark), cfg, "ingest-bench")
    val sec = (System.nanoTime() - t0) / 1e9

    val nOps = nBlocks.toLong * trxPerBlock * opsPerTrx
    require(backend.size == nOps + 1, s"unexpected kv size ${backend.size}") // ops + checkpoint key
    require(relaxedBackend.publishLog.size == backend.publishLog.size,
      "relaxed mode lost messages")

    val bps = nBlocks / sec
    println(
      s"""{"metric":"ingest_blocks_per_sec","value":$bps,"unit":"blocks/sec",""" +
        s""""ops_per_sec":${nOps / sec},"blocks":$nBlocks,"elapsed_sec":$sec,""" +
        s""""relaxed_blocks_per_sec":${nBlocks / relaxedSec},""" +
        s""""reference_blocks_per_sec":0.33,"speedup":${bps / 0.33}}""")
    spark.stop()
  }

  private def writeFixture(f: File, nBlocks: Int, trxPerBlock: Int, opsPerTrx: Int): Unit = {
    val w = new PrintWriter(f)
    try {
      var b = 0
      while (b < nBlocks) {
        val n = 1000000 + b
        val ts = f"2024-01-01T${(b / 1200) % 24}%02d:${(b / 20) % 60}%02d:${(b * 3) % 60}%02d"
        val trxIds = (0 until trxPerBlock).map(t => s""""t$n-$t"""").mkString(",")
        val trxs = (0 until trxPerBlock).map { t =>
          val ops = (0 until opsPerTrx).map { o =>
            s"""{"type":"vote_operation","value":{"voter":"u$t","author":"a$o","permlink":"p$b","weight":10000}}"""
          }.mkString(",")
          s"""{"operations":[$ops]}"""
        }.mkString(",")
        w.println(
          s"""{"block_num":$n,"previous":"p$n","timestamp":"$ts","witness":"w${b % 21}",""" +
            s""""transaction_merkle_root":"m$n","extensions":[],""" +
            s""""transaction_ids":[$trxIds],"transactions":[$trxs]}""")
        b += 1
      }
    } finally w.close()
  }
}
