package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.jobs.BlockFollowerPipeline
import graft.ops.FollowerConfig
import graft.sink.{InMemoryKvBackend, KvBackends, PublishMode}

/** `follow`: the block follower against a stub JSON-RPC node, wired as
  * `SyncMain` wires it (irreversible mode, 100 blocks per trigger, strict
  * publish, default `FollowerConfig`) but with `Trigger.ProcessingTime(0)`.
  *
  * After a small warm-up batch, phase 1 drains a fixed backlog that
  * appears at once. Phase 2 starts once the backlog's batch has
  * committed and is an open loop: the node's last irreversible block
  * advances one block every `1 / LiveRate` seconds for the run's length,
  * and each block's lag runs from when it was due to when the sink
  * received its `{chain}:block` publish.
  */
object Follow {
  val TrxPerBlock = 30
  val BlocksPerTrigger = 100
  val WarmBlocks = 10
  val Backlog = 100 // one full batch
  // blocks/s, about a third of the catch-up rate (9-16 blocks/s at 4
  // cores): a micro-batch ends well before the next one's blocks pile up,
  // so the lag settles within a batch and does not grow with the run's
  // length
  val LiveRate = 4.0
  val SetupRepeats = 3
  val Cfg: FollowerConfig = FollowerConfig()

  /** Progress events, each with the node's last irreversible block at
    * the time it arrived. */
  private final class Progress(lib: () => Long) extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[(StreamingQueryListener.QueryProgressEvent, Long)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add((e, lib()))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def start(ctx: Main.Ctx, node: StubNode, backend: String, first: Long,
      ck: String, trigger: Trigger): StreamingQuery = {
    val raw = ctx.spark.readStream
      .format("graft.streaming.JsonRpcBlockSource")
      .option("endpoints", node.endpoint)
      .option("mode", "irreversible")
      .option("blocksPerTrigger", BlocksPerTrigger.toString)
      .option("startBlock", first.toString)
      .load()
    BlockFollowerPipeline.runStreamFrom(ctx.spark, raw, None, Cfg, backend, ck,
      publishMode = PublishMode.Strict, trigger = trigger)
  }

  private def awaitReceipt(kv: TimedKv, block: Long, q: StreamingQuery, timeoutS: Double): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!kv.blockReceipt.containsKey(block)) {
      q.exception.foreach(e => throw e)
      if (System.nanoTime() > deadline) sys.error(s"block $block not published in ${timeoutS}s")
      Thread.sleep(2)
    }
  }

  /** Wait until a committed micro-batch has taken in `block`. */
  private def awaitCommit(progress: Progress, block: Long, q: StreamingQuery, timeoutS: Double): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    def committed = progress.events.asScala.exists { case (e, _) =>
      e.progress.sources.headOption.flatMap(s => Option(s.endOffset)).exists(_.toLong > block)
    }
    while (!committed) {
      q.exception.foreach(e => throw e)
      if (System.nanoTime() > deadline) sys.error(s"block $block not committed in ${timeoutS}s")
      Thread.sleep(2)
    }
  }

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val chain = ctx.span("gen") {
      new Chain(ctx.seed, 1000000L, WarmBlocks + Backlog + (ctx.seconds * LiveRate).toInt,
        TrxPerBlock)
    }
    // set-up: start the follower against a node with nothing to fetch yet
    // and let it stop, repeated; each repeat is a fresh stream and
    // checkpoint. The repeats run while the measured stream is idle
    // between catch-up and the live phase, so every one times a warm
    // start, and the live phase starts on a JVM they have warmed further.
    def setups(): Seq[Double] = (0 until SetupRepeats).map { i =>
      val setupNode = new StubNode(chain, ctx.nproc)
      val name = s"perfbench-setup-$i"
      KvBackends.register(name, new InMemoryKvBackend)
      try ctx.span("setup") {
        ctx.scoped("setup") {
          val t0 = System.nanoTime()
          start(ctx, setupNode, name, chain.first, s"${ctx.work}/ck-setup-$i",
            Trigger.AvailableNow()).awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
      } finally setupNode.stop()
    }

    val node = new StubNode(chain, ctx.nproc)
    val kv = new TimedKv(new InMemoryKvBackend, s"${Cfg.chain}:block")
    KvBackends.register("perfbench-follow", kv)
    val progress = new Progress(() => node.lib)
    spark.streams.addListener(progress)
    // a first batch of `WarmBlocks` warms the JIT and codegen; then the
    // backlog appears at once and catch-up runs from then to the sink's
    // receipt of its last block
    val warmEnd = chain.first + WarmBlocks - 1
    val backlogEnd = warmEnd + Backlog
    node.advanceTo(warmEnd)
    val q = start(ctx, node, "perfbench-follow", chain.first, s"${ctx.work}/ck-follow",
      Trigger.ProcessingTime(0L))
    val schedule = Array.newBuilder[(Long, Long, Long)] // (block, due, made available)
    try {
      ctx.span("warmup") { awaitReceipt(kv, warmEnd, q, 120) }
      ctx.out("warmup_s") = (kv.blockReceipt.get(warmEnd) - node.firstFetch.get) / 1e9
      // catch-up and the live schedule each start on an idle stream
      awaitCommit(progress, warmEnd, q, 120)
      ctx.span("catchup") {
        node.advanceTo(backlogEnd)
        awaitReceipt(kv, backlogEnd, q, 120)
      }
      val catchupS = (kv.blockReceipt.get(backlogEnd) - node.availableAt.get(backlogEnd)) / 1e9
      ctx.out("catchup_bps") = Backlog / catchupS
      ctx.out("catchup_s") = catchupS
      awaitCommit(progress, backlogEnd, q, 120)
      ctx.out("setup_s") = setups()

      ctx.span("live") {
        val liveStart = System.nanoTime()
        var b = backlogEnd + 1
        while (b <= chain.last) {
          val due = liveStart + ((b - backlogEnd - 1) / LiveRate * 1e9).toLong
          var now = System.nanoTime()
          while (now < due) {
            val ms = (due - now) / 1000000L
            if (ms > 1) Thread.sleep(ms - 1) else Thread.onSpinWait()
            now = System.nanoTime()
          }
          node.advanceTo(b)
          schedule += ((b, due, node.availableAt.get(b)))
          q.exception.foreach(e => throw e)
          b += 1
        }
        awaitReceipt(kv, chain.last, q, 120)
      }
    } finally {
      q.stop()
      node.stop()
      spark.streams.removeListener(progress)
    }
    val live = schedule.result()
    val origin = live.head._2
    ctx.out("live") = Map(
      "due_s" -> live.map(x => (x._2 - origin) / 1e9),
      "available_s" -> live.map(x => (x._3 - origin) / 1e9),
      "received_s" -> live.map(x => (kv.blockReceipt.get(x._1) - origin) / 1e9))

    ctx.span("check") { check(ctx, chain, kv) }

    // per-layer numbers: the stub node (source side), the micro-batch
    // phases (StreamingQueryListener), the batch body and the sink
    val mine = progress.events.asScala.toSeq.filter(_._1.progress.id == q.id)
    val ev = mine.map(_._1.progress)
    val data = ev.filter(_.numInputRows > 0)
    def phase(k: String): Double =
      ev.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    // blocks available at the node but not yet in a committed batch
    val backlog = mine.map { case (e, lib) =>
      val end = e.progress.sources.headOption.flatMap(s => Option(s.endOffset))
        .map(_.toLong).getOrElse(chain.first)
      math.max(0L, lib + 1 - end)
    }
    ctx.layer("streaming.rpc_get_block_calls", node.getBlockCalls.get)
    ctx.layer("streaming.rpc_dgpo_calls", node.dgpoCalls.get)
    ctx.layer("streaming.rpc_serve_s", node.serveNs.get / 1e9)
    ctx.layer("streaming.backlog_blocks_max", if (backlog.isEmpty) 0L else backlog.max)
    ctx.layer("streaming.gen_late_s",
      if (live.isEmpty) 0.0 else live.map(x => x._3 - x._2).max / 1e9)
    ctx.layer("streaming.triggers", node.dgpoCalls.get)
    ctx.layer("streaming.data_batch_frac",
      data.size.toDouble / math.max(1L, node.dgpoCalls.get))
    ctx.layer("streaming.latest_offset_s", phase("latestOffset"))
    ctx.layer("streaming.query_planning_s", phase("queryPlanning"))
    ctx.layer("streaming.wal_commit_s", phase("walCommit"))
    ctx.layer("streaming.commit_offsets_s", phase("commitOffsets"))
    ctx.layer("jobs.add_batch_s", phase("addBatch"))
    ctx.layer("jobs.blocks_per_batch_p50", Stats.median(data.map(_.numInputRows.toDouble)))
    ctx.layer("sink.set_calls", kv.sets.get)
    ctx.layer("sink.expire_calls", kv.expires.get)
    ctx.layer("sink.publish_calls", kv.publishes.get)
    ctx.layer("sink.flush_calls", kv.flushes.get)
    ctx.layer("sink.busy_s", kv.busyNs.get / 1e9)
    ctx.layer("sink.set_per_key", kv.sets.get.toDouble / math.max(1, kv.inner.size))
    ctx.out("batches") = data.size
    // per data batch: blocks, and its trigger and foreachBatch times
    ctx.out("batch_phases") = data.map(p => Map("blocks" -> p.numInputRows,
      "trigger_s" -> p.durationMs.get("triggerExecution").longValue / 1e3,
      "add_batch_s" -> p.durationMs.get("addBatch").longValue / 1e3))
  }

  /** Every op materialized with the right key, value and TTL; every
    * block's publishes in reference order, none lost or duplicated. */
  private def check(ctx: Main.Ctx, chain: Chain, kv: TimedKv): Unit = {
    val want = chain.expectedKv(Cfg.chain, Cfg.ttlSeconds)
    val wrongOps = want.count { case (k, (v, ttl)) =>
      !kv.inner.get(k).contains(v) || kv.ttls.get(k) != ttl
    }
    ctx.check("follow kv (key, value, ttl)", want.size, wrongOps)
    val control = s"${Cfg.chain}:graft:pending_summary:"
    val lastKey = Cfg.chain + graft.model.Model.LastBlockNumKeySuffix
    val stray = kv.inner.keys("*").count(k =>
      !want.contains(k) && !k.startsWith(control) && k != lastKey)
    ctx.check("follow kv (no stray keys)", 1, if (stray == 0) 0 else 1)
    ctx.check("follow checkpoint key", 1,
      if (kv.inner.get(lastKey).contains(chain.last.toString)) 0 else 1)

    // publishes grouped by the block each message names, in log order
    val expected = chain.expectedPublishes(Cfg.chain)
    val actual = kv.publishLog.toVector
    def blockOf(m: (String, String)): Long = {
      val p = m._2
      if (p.startsWith("{\"block_num\":"))
        p.stripPrefix("{\"block_num\":").takeWhile(_.isDigit).toLong
      else p.split(':')(2).toLong // {"key":"chain:block:trx:idx:type"}
    }
    val exp = expected.groupBy(blockOf)
    val act = actual.groupBy(blockOf)
    val badBlocks = chain.blocks.count(b =>
      exp.getOrElse(b.num, Vector.empty) != act.getOrElse(b.num, Vector.empty))
    ctx.check("follow publish order per block", chain.count, badBlocks)
    ctx.check("follow publish sequence (no loss, duplicate or reorder)", 1,
      if (expected == actual) 0 else 1)
    ctx.out("ops") = chain.opCount
    ctx.out("publishes") = actual.size
  }
}
