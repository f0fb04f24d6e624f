package graft.jobs

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.model.Model
import graft.ops.{BlockOps, EngineConfig, FollowerConfig}
import graft.sink.{InMemoryKvBackend, KvBackends, PublishMode}
import graft.streaming.{ConcurrentStubRpcServer, StubRpcServer}

/** The follower micro-batch skeleton: the checkpoint key the ordered drain
  * SETs, a batch over no input that runs no Spark job yet carries the
  * parked summary on, the shape of a Strict Hive batch's plans and its job
  * count, and each record SET before any publish names it.
  */
class FollowerBatchSpec extends SparkSpec {

  /** An in-memory backend that also records every SET in order. */
  private final class SetLog extends InMemoryKvBackend {
    val sets = new ConcurrentLinkedQueue[(String, String)]()
    override def set(key: String, value: String): Unit = {
      sets.add(key -> value)
      super.set(key, value)
    }
    def setsOf(key: String): Seq[String] = sets.asScala.filter(_._1 == key).map(_._2).toSeq
  }

  /** An in-memory backend that logs SET, EXPIRE and PUBLISH in one
    * sequence, across concurrent tasks. */
  private final class OpLog extends InMemoryKvBackend {
    val ops = new ConcurrentLinkedQueue[(String, String)]()
    override def set(key: String, value: String): Unit = {
      ops.add("set" -> key)
      super.set(key, value)
    }
    override def expire(key: String, ttlSeconds: Long): Unit = {
      ops.add("expire" -> key)
      super.expire(key, ttlSeconds)
    }
    override def publish(channel: String, payload: String): Unit = {
      ops.add("publish" -> payload)
      super.publish(channel, payload)
    }
  }

  private def register[B <: InMemoryKvBackend](name: String, b: B): B = {
    KvBackends.register(name, b)
    b
  }

  private def blocks: DataFrame = spark.read.schema(Model.blockSchema).json(resource("blocks.jsonl"))
  private def vops: DataFrame = spark.read.schema(Model.vopSchema).json(resource("vops.jsonl"))

  test("checkpoint key: SET ascending at each block publish, no TTL") {
    val key = "hive:meeseeker:last_block_num"
    Seq(PublishMode.Strict, PublishMode.RelaxedPerBlock).foreach { mode =>
      val name = s"ckpt-hive-$mode"
      val backend = register(name, new SetLog)
      BlockFollowerPipeline.processBatch(blocks, vops, FollowerConfig(), name, publishMode = mode)
      assert(backend.setsOf(key) === Seq("100", "101", "102", "103"), mode)
      assert(backend.get(key) === Some("103"))
      assert(backend.ttlOf(key) === None)
    }
  }

  test("engine checkpoint key: SET ascending at each block publish, no TTL") {
    val key = "hive_engine:meeseeker:last_block_num"
    val backend = register("ckpt-engine", new SetLog)
    val engineBlocks = spark.read.schema(Model.engineBlockSchema).json(resource("engine_blocks.jsonl"))
    EngineFollowerPipeline.processBatch(engineBlocks, EngineConfig(), "ckpt-engine")
    assert(backend.setsOf(key) === Seq("18000", "18001"))
    assert(backend.ttlOf(key) === None)
  }

  test("a batch over no input partitions runs no Spark job and carries the parked summary on") {
    val cfg = FollowerConfig(publishOpCustomId = true)
    def slice(lo: Long, hi: Long) =
      (blocks.filter(col("block_num").between(lo, hi)), vops.filter(col("block").between(lo, hi)))
    val (b0, v0) = slice(100, 101)
    val (b2, v2) = slice(102, 103)
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), Model.blockSchema)

    val backend = register("carry-empty", new InMemoryKvBackend)
    BlockFollowerPipeline.processBatch(b0, v0, cfg, "carry-empty", carrySummaries = true, batchId = 0L)
    val parked = backend.get(BlockFollowerPipeline.pendingSummaryKey(cfg, 0L))
    assert(parked.isDefined)
    val jobs = jobsOf {
      BlockFollowerPipeline.processBatch(empty, vops.filter(lit(false)), cfg, "carry-empty",
        carrySummaries = true, batchId = 1L)
    }
    assert(jobs === 0)
    assert(backend.get(BlockFollowerPipeline.pendingSummaryKey(cfg, 1L)) === parked)
    BlockFollowerPipeline.processBatch(b2, v2, cfg, "carry-empty", carrySummaries = true, batchId = 2L)

    val ref = register("carry-empty-ref", new InMemoryKvBackend)
    BlockFollowerPipeline.processBatch(blocks, vops, cfg, "carry-empty-ref")
    assert(backend.publishLog === ref.publishLog)
  }

  test("a fresh follower's empty batch 0 runs no Spark job") {
    val srv = new StubRpcServer(resource("blocks.jsonl"))
    // the node has nothing at or past the start block yet
    srv.headBlock = 99L
    srv.lastIrreversible = 99L
    val backend = register("empty-first", new InMemoryKvBackend)
    val jobs = new ConcurrentLinkedQueue[(String, String)]() // (query id, batch id)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Option(e.properties).foreach { p =>
        for (q <- Option(p.getProperty("sql.streaming.queryId"));
             b <- Option(p.getProperty("streaming.sql.batchId"))) jobs.add(q -> b)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val raw = spark.readStream
        .format("graft.streaming.JsonRpcBlockSource")
        .option("endpoints", srv.endpoint)
        .option("mode", "irreversible")
        .option("startBlock", "100")
        .load()
      val q = BlockFollowerPipeline.runStreamFrom(spark, raw, None, FollowerConfig(), "empty-first",
        Files.createTempDirectory("graft-ckpt-").toString)
      q.awaitTermination(60000)
      assert(q.exception.isEmpty)
      assert(q.recentProgress.exists(p => p.batchId == 0L && p.numInputRows == 0L),
        "batch 0 did not run")
      drainListenerBus()
      assert(jobs.asScala.count(_ == (q.id.toString -> "0")) === 0)
      assert(backend.size === 0 && backend.publishLog.isEmpty)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      srv.close()
    }
  }

  /** Every operator of a physical plan, through adaptive plans (as planned
    * and as run: at run time AQE drops a subtree over an empty shuffle, but
    * the plan still runs that shuffle's job), query stages, subqueries and
    * cached relations. */
  private def operators(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.inputPlan, a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    p +: (p.children ++ p.subqueries ++ inner).flatMap(operators)
  }

  test("no vops source: the optimizer drops the whole vops leg") {
    val plan = BlockOps.allOps(blocks, BlockFollowerPipeline.emptyVops(spark), FollowerConfig())
      .queryExecution.optimizedPlan
    val legs = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(legs.isEmpty, plan.treeString)
  }

  test("a Strict Hive batch's KV-write and drain plans hold no window, join or aggregate") {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    register("plan-shape", new InMemoryKvBackend)
    spark.listenerManager.register(listener)
    try {
      BlockFollowerPipeline.processBatch(blocks, BlockFollowerPipeline.emptyVops(spark),
        FollowerConfig(publishOpCustomId = true), "plan-shape", carrySummaries = true, batchId = 0L)
      drainListenerBus()
    } finally spark.listenerManager.unregister(listener)

    assert(plans.size === 1) // the ordered drain, which SETs the records too
    plans.asScala.foreach { p =>
      val relational = operators(p).filter {
        case _: WindowExecBase | _: BaseJoinExec | _: BaseAggregateExec => true
        case _ => false
      }
      assert(relational.isEmpty, p.treeString)
    }
  }

  test("a Strict Hive batch over a one-partition input runs one Spark job") {
    val input = blocks
    assert(input.rdd.getNumPartitions === 1)
    val backend = register("one-job", new InMemoryKvBackend)
    val cfg = FollowerConfig(publishOpCustomId = true)
    val jobs = jobsOf {
      BlockFollowerPipeline.processBatch(input, BlockFollowerPipeline.emptyVops(spark), cfg,
        "one-job", carrySummaries = true, batchId = 0L)
    }
    assert(jobs === 1)
    assert(backend.get("hive:100:t0aaa:0:vote").isDefined)
    assert(backend.publishLog.nonEmpty)
  }

  test("a Strict Hive batch over four input partitions requests each height once") {
    val srv = new ConcurrentStubRpcServer(height = 40, delayMs = 1L)
    try {
      val raw = spark.read
        .format("graft.streaming.JsonRpcBlockSource")
        .option("endpoints", srv.endpoint)
        .option("startBlock", "1")
        .option("endBlock", "41")
        .option("numPartitions", "4")
        .load()
      val input = BlockFollowerPipeline.parseBlocks(raw)
      assert(input.rdd.getNumPartitions === 4)
      val backend = register("two-jobs", new InMemoryKvBackend)
      val jobs = jobsOf {
        BlockFollowerPipeline.processBatch(input, BlockFollowerPipeline.emptyVops(spark),
          FollowerConfig(), "two-jobs", carrySummaries = true, batchId = 0L)
      }
      // the exchange of repartition(1) puts the drain under adaptive
      // execution, which loads the input cache in one table-cache stage per
      // drain leg before the shuffle's map and result stages
      assert(jobs === 4)
      assert(srv.heightCalls.asScala.map { case (h, n) => h -> n.get }.toMap ===
        (1L to 40L).map(_ -> 1).toMap)
    } finally srv.close()
  }

  /** Every publish whose payload names a record key comes after that key's
    * SET and EXPIRE; every record is published. */
  private def assertSetBeforePublish(log: OpLog, recordKey: String => Boolean): Unit = {
    val ops = log.ops.asScala.toIndexedSeq
    val Named = """\{"key":"(.*)"\}""".r
    val firstPublish = ops.zipWithIndex.collect { case (("publish", Named(k)), i) => k -> i }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val records = ops.collect { case ("set", k) if recordKey(k) => k }.toSet
    assert(records.nonEmpty)
    assert(firstPublish.keySet === records)
    records.foreach { k =>
      Seq("set", "expire").foreach { op =>
        val at = ops.indexOf(op -> k)
        assert(at >= 0 && at < firstPublish(k), s"$op $k at $at, first publish at ${firstPublish(k)}")
      }
    }
  }

  test("each record is SET and EXPIREd before the first publish that names it") {
    val cfg = FollowerConfig(publishOpCustomId = true)
    val hiveRecord = (k: String) => k.startsWith("hive:") && !k.contains(":meeseeker:") && !k.contains(":graft:")
    Seq(PublishMode.Strict, PublishMode.RelaxedPerBlock).foreach { mode =>
      val name = s"set-first-hive-$mode"
      val log = register(name, new OpLog)
      Seq((100L, 101L), (102L, 103L)).zipWithIndex.foreach { case ((lo, hi), i) =>
        BlockFollowerPipeline.processBatch(blocks.filter(col("block_num").between(lo, hi)),
          vops.filter(col("block").between(lo, hi)), cfg, name,
          carrySummaries = true, batchId = i.toLong, publishMode = mode)
      }
      assertSetBeforePublish(log, hiveRecord)
    }

    val engineBlocks = spark.read.schema(Model.engineBlockSchema).json(resource("engine_blocks.jsonl"))
    val log = register("set-first-engine", new OpLog)
    Seq(18000L, 18001L).zipWithIndex.foreach { case (n, i) =>
      EngineFollowerPipeline.processBatch(engineBlocks.filter(col("blockNumber") === n),
        EngineConfig(), "set-first-engine", carrySummaries = true, batchId = i.toLong)
    }
    assertSetBeforePublish(log, k => !k.contains(":meeseeker:") && !k.contains(":graft:"))
  }
}
