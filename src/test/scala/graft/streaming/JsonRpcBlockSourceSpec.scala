package graft.streaming

import java.net.InetSocketAddress
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.model.Model

/** Stub JSON-RPC chain node: serves get_dynamic_global_properties and
  * get_block from the blocks.jsonl fixture over HTTP (JDK HttpServer), with
  * optional fault injection (first `failFirst` get_block calls return 500) —
  * the local stand-in for block_follower_job.rb:141-167's live node.
  */
class StubRpcServer(blocksJsonl: String, failFirst: Int = 0) {
  private val mapper = new ObjectMapper()

  /** block_num -> raw block JSON line */
  val blocks: Map[Long, String] =
    scala.io.Source.fromFile(blocksJsonl).getLines().filter(_.trim.nonEmpty)
      .map { line => mapper.readTree(line).get("block_num").asLong() -> line }
      .toMap

  @volatile var headBlock: Long = blocks.keys.max
  @volatile var lastIrreversible: Long = blocks.keys.max
  val getBlockCalls = new AtomicInteger(0)
  val requestCount = new AtomicInteger(0)
  private val failuresLeft = new AtomicInteger(failFirst)
  /** Lagging-node simulation: this height returns result:null for the
    * first `lagCount` requests (node behind the offset range). */
  @volatile var lagHeight: Long = -1L
  val lagLeft = new AtomicInteger(0)

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => {
    requestCount.incrementAndGet()
    val req = mapper.readTree(ex.getRequestBody)
    val method = req.get("method").asText()
    def reply(status: Int, body: String): Unit = {
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(status, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }
    method match {
      case m if m.endsWith("get_dynamic_global_properties") =>
        reply(200,
          s"""{"jsonrpc":"2.0","id":1,"result":{"head_block_number":$headBlock,"last_irreversible_block_num":$lastIrreversible}}""")
      case m if m.endsWith("get_block") =>
        getBlockCalls.incrementAndGet()
        if (failuresLeft.getAndDecrement() > 0) reply(500, "transient")
        else {
          val h = req.get("params").get(0).asLong()
          if (h == lagHeight && lagLeft.getAndDecrement() > 0)
            reply(200, """{"jsonrpc":"2.0","id":1,"result":null}""")
          else blocks.get(h) match {
            case Some(b) => reply(200, s"""{"jsonrpc":"2.0","id":1,"result":$b}""")
            case None => reply(200, """{"jsonrpc":"2.0","id":1,"result":null}""")
          }
        }
      case other => reply(200, s"""{"jsonrpc":"2.0","id":1,"error":"unknown method $other"}""")
    }
  })
  server.start()
  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/"
  def close(): Unit = server.stop(0)
}

/** Stub node that serves requests concurrently (a thread-pool executor),
  * with synthetic blocks 1..`height`. Each `get_block` takes `delayMs`, and
  * the most `get_block` requests served at once is recorded. `nullHeight`
  * answers result:null to its first `nullLeft` requests (by default all of
  * them: a node that never gets the block).
  */
class ConcurrentStubRpcServer(height: Long, delayMs: Long = 25L) {
  private val mapper = new ObjectMapper()
  val getBlockCalls = new AtomicInteger(0)
  /** get_block requests per requested height. */
  val heightCalls = new java.util.concurrent.ConcurrentHashMap[Long, AtomicInteger]()
  private val serving = new AtomicInteger(0)
  val maxInFlight = new AtomicInteger(0)
  @volatile var nullHeight: Long = -1L
  val nullLeft = new AtomicInteger(Int.MaxValue)

  private val pool = Executors.newFixedThreadPool(16)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => {
    val req = mapper.readTree(ex.getRequestBody)
    val body =
      if (req.get("method").asText().endsWith("get_block")) {
        getBlockCalls.incrementAndGet()
        val now = serving.incrementAndGet()
        maxInFlight.accumulateAndGet(now, math.max)
        try {
          Thread.sleep(delayMs)
          val h = req.get("params").get(0).asLong()
          heightCalls.computeIfAbsent(h, _ => new AtomicInteger(0)).incrementAndGet()
          if (h < 1 || h > height || (h == nullHeight && nullLeft.getAndDecrement() > 0)) "null"
          else s"""{"block_num":$h}"""
        } finally serving.decrementAndGet()
      } else s"""{"head_block_number":$height,"last_irreversible_block_num":$height}"""
    val b = s"""{"jsonrpc":"2.0","id":1,"result":$body}""".getBytes("UTF-8")
    ex.sendResponseHeaders(200, b.length)
    ex.getResponseBody.write(b)
    ex.close()
  })
  server.start()
  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/"
  def close(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

class JsonRpcBlockSourceSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private def fixture = resource("blocks.jsonl")

  test("batch read pulls the height range in parallel and matches the file") {
    val srv = new StubRpcServer(fixture)
    try {
      val lo = srv.blocks.keys.min
      val hi = srv.blocks.keys.max
      val df = spark.read
        .format("graft.streaming.JsonRpcBlockSource")
        .option("endpoints", srv.endpoint)
        .option("startBlock", lo.toString)
        .option("endBlock", (hi + 1).toString)
        .option("numPartitions", "3")
        .load()
      val got = df.select("idx").as[Long].collect().sorted
      assert(got === (lo to hi).toArray)
      // payloads parse with the block schema and round-trip block_num == idx
      val parsed = df.select(col("idx"), from_json(col("value"), Model.blockSchema).as("b"))
        .select(col("idx"), col("b.block_num")).as[(Long, Long)].collect()
      parsed.foreach { case (idx, bn) => assert(idx === bn) }
    } finally srv.close()
  }

  test("streaming: chunked catch-up with admission control, retries survive 500s") {
    val srv = new StubRpcServer(fixture, failFirst = 2)
    try {
      val lo = srv.blocks.keys.min
      val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream
        .format("graft.streaming.JsonRpcBlockSource")
        .option("endpoints", srv.endpoint)
        .option("startBlock", lo.toString)
        .option("blocksPerTrigger", "2")
        .option("retryBaseSec", "0.01")
        .option("numPartitions", "2")
        .load()
        .writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("rpc-ck").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = batch.select("idx").as[Long](org.apache.spark.sql.Encoders.scalaLong)
            .collect().sorted
          this.synchronized { batchSizes += rows.length.toLong; seen ++= rows }
          ()
        }
        .start()
      q.awaitTermination(60000)
      val expected = (lo to srv.blocks.keys.max).toSeq
      assert(seen.sorted === expected)
      // admission control actually chunked the replay (not one big batch)
      assert(batchSizes.count(_ > 0) === math.ceil(expected.size / 2.0).toInt)
      assert(batchSizes.forall(_ <= 2))
      // and the injected 500s forced visible retries
      assert(srv.getBlockCalls.get() > expected.size)
    } finally srv.close()
  }

  test("offsets track dgpo head growth per mode (head catch-up, A4)") {
    val srv = new StubRpcServer(fixture)
    try {
      val cfg = RpcConfig(Seq(srv.endpoint), "irreversible", Some(1L), None,
        blocksPerTrigger = 10L, numPartitions = 2, maxRetries = 1,
        retryBaseSec = 0.01, rpcMethod = "condenser_api.get_block",
        dgpoMethod = "condenser_api.get_dynamic_global_properties")
      val stream = new RpcMicroBatchStream(cfg)
      srv.lastIrreversible = 5L
      val end1 = stream.latestOffset(BlockHeightOffset(1L), ReadLimit.allAvailable())
      assert(end1.asInstanceOf[BlockHeightOffset].next === 6L)
      // the chain advances; the next trigger sees the new irreversible head
      srv.lastIrreversible = 9L
      val end2 = stream.latestOffset(end1, ReadLimit.allAvailable())
      assert(end2.asInstanceOf[BlockHeightOffset].next === 10L)
      // head mode reads the other dgpo field
      srv.headBlock = 42L
      assert(RpcClient.headFor(cfg.copy(mode = "head")) === 42L)
      // admission control caps the advance
      val capped = stream.latestOffset(BlockHeightOffset(1L), ReadLimit.maxRows(3))
      assert(capped.asInstanceOf[BlockHeightOffset].next === 4L)
    } finally srv.close()
  }

  test("a lagging node's null result is retried, not a task failure") {
    val srv = new StubRpcServer(fixture)
    try {
      val lo = srv.blocks.keys.min
      srv.lagHeight = lo + 1
      srv.lagLeft.set(2) // null twice, then the block appears
      val df = spark.read
        .format("graft.streaming.JsonRpcBlockSource")
        .option("endpoints", srv.endpoint)
        .option("startBlock", lo.toString)
        .option("endBlock", (lo + 3).toString)
        .option("retryBaseSec", "0.01")
        .option("maxRetries", "4")
        .load()
      assert(df.select("idx").as[Long].collect().sorted === Array(lo, lo + 1, lo + 2))
    } finally srv.close()
  }

  test("endpoint failover: dead node is skipped, healthy node serves (A7)") {
    val srv = new StubRpcServer(fixture)
    try {
      // port 1 refuses connections instantly; the pool must fail over
      val lo = srv.blocks.keys.min
      val df = spark.read
        .format("graft.streaming.JsonRpcBlockSource")
        .option("endpoints", s"http://127.0.0.1:1/,${srv.endpoint}")
        .option("startBlock", lo.toString)
        .option("endBlock", (lo + 2).toString)
        .option("retryBaseSec", "0.01")
        .option("maxRetries", "4")
        .load()
      assert(df.count() === 2)
    } finally srv.close()
  }

  private def rangeRead(srv: ConcurrentStubRpcServer, from: Long, until: Long,
      partitions: Int, maxRetries: Int = 3) =
    spark.read
      .format("graft.streaming.JsonRpcBlockSource")
      .option("endpoints", srv.endpoint)
      .option("startBlock", from.toString)
      .option("endBlock", until.toString)
      .option("numPartitions", partitions.toString)
      .option("maxRetries", maxRetries.toString)
      .option("retryBaseSec", "0.01")
      .load()

  private def fetchThreads(): Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith(RpcClient.FetchThreadPrefix))

  /** Fetch threads exit on the interrupt `close()` sends; wait for them. */
  private def assertNoFetchThreads(): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
    while (fetchThreads().nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    assert(fetchThreads().map(_.getName) === Nil)
  }

  test("in-flight window: a one-partition read yields its 16 heights in order") {
    val srv = new ConcurrentStubRpcServer(height = 16)
    try {
      val got = rangeRead(srv, 1, 17, partitions = 1).select("idx").as[Long].collect()
      assert(got === (1L to 16L).toArray)
    } finally srv.close()
  }

  test("in-flight window: more than one and at most 8 get_block calls at once") {
    val srv = new ConcurrentStubRpcServer(height = 16)
    try {
      assert(rangeRead(srv, 1, 17, partitions = 1).count() === 16)
      assert(srv.maxInFlight.get > 1)
      assert(srv.maxInFlight.get <= RpcClient.FetchWindow)
      assert(RpcClient.FetchWindow === 8)
    } finally srv.close()
  }

  test("in-flight window: a one-block partition has one call in flight") {
    val srv = new ConcurrentStubRpcServer(height = 16)
    try {
      assert(rangeRead(srv, 5, 6, partitions = 1).select("idx").as[Long].collect() === Array(5L))
      assert(srv.maxInFlight.get === 1)
      assert(srv.getBlockCalls.get === 1)
    } finally srv.close()
  }

  test("in-flight window: without faults each height is requested once") {
    val srv = new ConcurrentStubRpcServer(height = 16)
    try {
      // 3 ranges of 6, 6 and 4 heights: no request past a range's end
      val got = rangeRead(srv, 1, 17, partitions = 3).select("idx").as[Long].collect().sorted
      assert(got === (1L to 16L).toArray)
      assert(srv.getBlockCalls.get === 16)
      assert(srv.heightCalls.asScala.map { case (h, n) => h -> n.get }.toMap ===
        (1L to 16L).map(_ -> 1).toMap)
    } finally srv.close()
  }

  test("in-flight window: a height null past maxRetries fails the read with the retry IOException") {
    val srv = new ConcurrentStubRpcServer(height = 16)
    try {
      srv.nullHeight = 9L
      val e = intercept[Exception] {
        rangeRead(srv, 1, 17, partitions = 1, maxRetries = 2).select("idx").as[Long].collect()
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(!chain.exists(_.isInstanceOf[java.util.concurrent.ExecutionException]))
      val io = chain.collectFirst { case x: java.io.IOException => x }
      assert(io.map(_.getMessage) === Some("rpc failed after 2 retries"))
      assert(io.get.getCause.getMessage.startsWith("block 9 not yet available"))
      // height 9: the first try and 2 retries; nothing past the range
      assert(srv.heightCalls.get(9L).get === 3)
      assert(srv.heightCalls.keySet.asScala.forall(h => h >= 1 && h <= 16))
    } finally srv.close()
  }

  test("in-flight window: no fetch thread outlives a finished or a failed read") {
    val srv = new ConcurrentStubRpcServer(height = 16)
    try {
      assert(rangeRead(srv, 1, 17, partitions = 2).count() === 16)
      assertNoFetchThreads()
      srv.nullHeight = 3L
      intercept[Exception](rangeRead(srv, 1, 17, partitions = 2, maxRetries = 1).count())
      assertNoFetchThreads()
    } finally srv.close()
  }

  test("the scan node reports get_block calls, retries and fetch time, in the read's one job") {
    val srv = new ConcurrentStubRpcServer(height = 16)
    try {
      srv.nullHeight = 4L
      srv.nullLeft.set(1) // null once, then the block
      val ds = rangeRead(srv, 1, 17, partitions = 2).select("idx").as[Long]
      var rows = 0
      assert(jobsOf { rows = ds.collect().length } === 1)
      assert(rows === 16)
      val scan = collect(ds.queryExecution.executedPlan) { case s: BatchScanExec => s }
      assert(scan.size === 1)
      val m = scan.head.metrics
      assert(m(RpcMetrics.GetBlockCalls).value === 17)
      assert(m(RpcMetrics.GetBlockRetries).value === 1)
      assert(m(RpcMetrics.FetchMs).value > 0)
    } finally srv.close()
  }
}
