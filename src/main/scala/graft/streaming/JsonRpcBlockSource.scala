package graft.streaming

import java.util
import java.util.concurrent.{Callable, ExecutionException, Executors, Future}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Policies

/** Production JSON-RPC polling source — the live leg of A1/A3 that
  * [[JsonlReplaySource]] replays from fixtures. The reference's ingest loop
  * (block_follower_job.rb:141-167 stream, steem_engine/agent.rb:47-67 poll)
  * re-expressed in the DataSource V2 offset model:
  *
  *  - OFFSETS ARE BLOCK HEIGHTS: `latestOffset` polls
  *    get_dynamic_global_properties and exposes head or last-irreversible
  *    (option `mode`, A4) as the available end — the driver-side poll is one
  *    tiny RPC per trigger;
  *  - `planInputPartitions` fans the height range out as contiguous fetch
  *    ranges (`numPartitions`, each at least 8 heights long, so a range of
  *    8 or fewer is one partition), so executors pull `get_block` IN PARALLEL —
  *    the ordered-sink sort restores publish order downstream, which is how
  *    the 0.33 blocks/s sequential reference loop becomes cluster-rate;
  *  - each partition reader keeps up to `RpcClient.FetchWindow` (8)
  *    `get_block` calls of its range in flight, capped by the range's
  *    length, and still yields rows in ascending height order; a node
  *    therefore sees at most `numPartitions` x 8 concurrent requests
  *    (32 at the default 4 partitions). The reader reports its calls,
  *    retries and fetch wall time as DSv2 custom metrics on the scan node;
  *  - each height retries with the engine backoff curve
  *    (Policies.engineBackoff, A3) and fails over across endpoints with the
  *    NodePool seeded by the height (A7); a height whose block is still
  *    null after retries (lagging node) fails the task with the retry
  *    loop's IOException — Spark retries the partition, the offset range
  *    is immutable, so delivery stays exactly-once into the micro-batch;
  *  - admission control (`blocksPerTrigger`, B4) bounds catch-up batches;
  *    with Trigger.AvailableNow the end is frozen at start, giving bounded
  *    backfill runs.
  *
  * Output schema matches the replay source: (idx = block height, value =
  * the raw `result` JSON of the block) — `BlockFollowerPipeline.parseBlocks`
  * consumes either interchangeably.
  *
  * Options: endpoints (comma-separated, required), mode
  * (irreversible|head), startBlock, endBlock (batch mode), blocksPerTrigger,
  * numPartitions, maxRetries, retryBaseSec, rpcMethod, dgpoMethod.
  */
class JsonRpcBlockSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    JsonlReplaySource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val endpoints = opts.get("endpoints")
    require(endpoints != null, "json-rpc source requires an 'endpoints' option")
    new RpcTable(RpcConfig(
      endpoints = endpoints.split(',').map(_.trim).filter(_.nonEmpty).toSeq,
      mode = opts.getOrDefault("mode", "irreversible"),
      startBlock = Option(opts.get("startBlock")).map(_.toLong),
      endBlock = Option(opts.get("endBlock")).map(_.toLong),
      blocksPerTrigger = opts.getLong("blocksPerTrigger", Long.MaxValue),
      numPartitions = opts.getInt("numPartitions", 4),
      maxRetries = opts.getInt("maxRetries", 3),
      retryBaseSec = Option(opts.get("retryBaseSec")).map(_.toDouble).getOrElse(0.1),
      rpcMethod = opts.getOrDefault("rpcMethod", "condenser_api.get_block"),
      dgpoMethod = opts.getOrDefault("dgpoMethod", "condenser_api.get_dynamic_global_properties"),
    ))
  }
}

private[graft] final case class RpcConfig(
    endpoints: Seq[String],
    mode: String,
    startBlock: Option[Long],
    endBlock: Option[Long],
    blocksPerTrigger: Long,
    numPartitions: Int,
    maxRetries: Int,
    retryBaseSec: Double,
    rpcMethod: String,
    dgpoMethod: String)

private[streaming] class RpcTable(cfg: RpcConfig) extends Table with SupportsRead {
  override def name(): String = s"json-rpc(${cfg.endpoints.mkString(",")})"
  override def schema(): StructType = JsonlReplaySource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = JsonlReplaySource.schema

        override def supportedCustomMetrics(): Array[CustomMetric] = RpcMetrics.all

        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new RpcMicroBatchStream(cfg)

        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] = {
            val start = cfg.startBlock.getOrElse(
              sys.error("batch read requires 'startBlock'"))
            val end = cfg.endBlock.getOrElse(RpcClient.headFor(cfg) + 1)
            RpcMicroBatchStream.splitHeights(cfg, start, end)
          }
          override def createReaderFactory(): PartitionReaderFactory =
            RpcClient.readerFactory
        }
      }
    }
}

/** Offset = next block height to fetch (exclusive end of what's consumed). */
private[streaming] case class BlockHeightOffset(next: Long) extends Offset {
  override def json(): String = next.toString
}

private[streaming] object RpcMicroBatchStream {
  /** `[from, until)` in at most `numPartitions` ranges of at least
    * [[RpcClient.FetchWindow]] heights: one reader already keeps that many
    * calls in flight, so a range that short is one partition (a live
    * micro-batch then runs as one task, see `FollowerBatch.run`). */
  def splitHeights(cfg: RpcConfig, from: Long, until: Long): Array[InputPartition] = {
    val count = until - from
    if (count <= 0) Array.empty
    else {
      val per = math.max(RpcClient.FetchWindow.toLong,
        math.ceil(count.toDouble / cfg.numPartitions).toLong)
      (from until until by per)
        .map(s => HeightRangePartition(cfg, s, math.min(s + per, until)): InputPartition)
        .toArray
    }
  }
}

private[streaming] class RpcMicroBatchStream(cfg: RpcConfig)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  @volatile private var availableNowTarget: Option[Long] = None

  /** Exclusive end of the currently fetchable range per A4 mode. */
  private def availableEnd(): Long = RpcClient.headFor(cfg) + 1

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(availableEnd())

  override def initialOffset(): Offset =
    BlockHeightOffset(cfg.startBlock.getOrElse(availableEnd() - 1))

  override def deserializeOffset(json: String): Offset = BlockHeightOffset(json.toLong)

  override def getDefaultReadLimit: ReadLimit =
    if (cfg.blocksPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(cfg.blocksPerTrigger)

  override def latestOffset(): Offset = BlockHeightOffset(availableEnd())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[BlockHeightOffset].next
    val end = availableNowTarget.getOrElse(availableEnd())
    limit match {
      case rows: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        BlockHeightOffset(math.max(s, math.min(s + rows.maxRows(), end)))
      case _ => BlockHeightOffset(math.max(s, end))
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    RpcMicroBatchStream.splitHeights(
      cfg,
      start.asInstanceOf[BlockHeightOffset].next,
      end.asInstanceOf[BlockHeightOffset].next)

  override def createReaderFactory(): PartitionReaderFactory = RpcClient.readerFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[streaming] case class HeightRangePartition(cfg: RpcConfig, from: Long, until: Long)
    extends InputPartition

/** Driver- and executor-side JSON-RPC plumbing. Uses the JDK HTTP stack and
  * Spark's bundled Jackson — no extra dependencies. */
private[graft] object RpcClient {

  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

  private val mapper = new ObjectMapper()

  /** One POST, returning the parsed `result` node (null result => None). */
  def rpcCall(endpoint: String, method: String, params: String): Option[JsonNode] = {
    val url = java.net.URI.create(endpoint).toURL
    val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(30000)
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/json")
    val body = s"""{"jsonrpc":"2.0","id":1,"method":"$method","params":$params}"""
    try {
      val os = conn.getOutputStream
      os.write(body.getBytes("UTF-8")); os.close()
      val code = conn.getResponseCode
      if (code != 200) throw new java.io.IOException(s"HTTP $code from $endpoint")
      val root = mapper.readTree(conn.getInputStream)
      val err = root.get("error")
      if (err != null && !err.isNull) throw new java.io.IOException(s"rpc error: $err")
      Option(root.get("result")).filterNot(_.isNull)
    } finally conn.disconnect()
  }

  /** Retry `call` across the node pool with the A3 backoff curve. A failing
    * endpoint is blacklisted so the next attempt prefers a different node
    * (A7); when every endpoint is blacklisted the pool resets and the same
    * nodes are retried after backoff — the reference never gives up on its
    * whole node list, only on the retry budget. */
  def withRetry[T](cfg: RpcConfig, seed: Long)(call: String => Option[T]): Option[T] = {
    var pool = new Policies.NodePool(cfg.endpoints, seed)
    var attempt = 0
    var last: Throwable = null
    while (attempt <= cfg.maxRetries) {
      val ep = pool.pick().getOrElse {
        pool = new Policies.NodePool(cfg.endpoints, seed + attempt)
        pool.pick().get // endpoints is non-empty by construction
      }
      try return call(ep)
      catch {
        case e: java.io.IOException =>
          last = e
          pool.markProblem(ep)
          attempt += 1
          if (attempt <= cfg.maxRetries)
            Thread.sleep(math.max(1L,
              (Policies.engineBackoff(attempt, maxIntervalSec = 18.0)
                * cfg.retryBaseSec / 0.2 * 1000).toLong))
      }
    }
    throw new java.io.IOException(s"rpc failed after ${cfg.maxRetries} retries", last)
  }

  /** Current fetchable height per `cfg.mode` (A4): head or last-irreversible
    * from get_dynamic_global_properties. */
  def headFor(cfg: RpcConfig): Long =
    withRetry(cfg, seed = 1L) { ep =>
      val dgpo = rpcCall(ep, cfg.dgpoMethod, "[]").getOrElse(
        // null result is RETRYABLE (bad node) — thrown inside the lambda so
        // the pool fails over instead of killing the stream on first touch
        throw new java.io.IOException(s"null dgpo result from $ep"))
      val field =
        if (cfg.mode == "head") "head_block_number"
        else "last_irreversible_block_num"
      val n = dgpo.get(field)
      if (n == null) throw new java.io.IOException(s"dgpo from $ep missing $field")
      Some(n.asLong())
    }.get

  /** Most `get_block` calls one partition reader keeps in flight. */
  val FetchWindow = 8

  /** Name prefix of the readers' fetch threads. */
  val FetchThreadPrefix = "rpc-get-block"

  val readerFactory: PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
      new HeightRangeReader(partition.asInstanceOf[HeightRangePartition])
  }

  /** Yields `[from, until)` in ascending height order while up to
    * [[FetchWindow]] `get_block` calls of the range are in flight, each on
    * its own fetch thread. The window is filled in height order and never
    * runs past `until`. */
  private final class HeightRangeReader(p: HeightRangePartition)
      extends PartitionReader[InternalRow] {
    private val window = math.min(FetchWindow.toLong, p.until - p.from).toInt
    private val pool = Executors.newFixedThreadPool(window, { (r: Runnable) =>
      val t = new Thread(r, s"$FetchThreadPrefix-${p.from}-${p.until}")
      t.setDaemon(true)
      t
    })
    private val inFlight = new util.ArrayDeque[Future[String]]()
    private var nextHeight = p.from
    private var height = p.from - 1
    private var current: String = _
    private val calls, retries = new AtomicLong()
    /** Wall time the task spent in `next()`, waiting for its blocks. */
    private var fetchNs = 0L

    /** One height's block. A null result (lagging node whose head is behind
      * the offset range) is RETRYABLE — thrown inside the retry lambda so
      * the backoff/failover loop gets another node or a later poll, rather
      * than failing the task on the first lag. Only an exhausted retry
      * budget fails the task (partition retry re-fetches the immutable
      * range, so delivery stays exactly-once into the batch). */
    private def fetch(h: Long): String = {
      var tries = 0
      withRetry(p.cfg, seed = h) { ep =>
        tries += 1
        calls.incrementAndGet()
        if (tries > 1) retries.incrementAndGet()
        val r = rpcCall(ep, p.cfg.rpcMethod, s"[$h]")
        if (r.isEmpty) throw new java.io.IOException(s"block $h not yet available on $ep")
        r.map(_.toString)
      }.get
    }

    override def next(): Boolean = {
      val t0 = System.nanoTime()
      try {
        while (inFlight.size < window && nextHeight < p.until) {
          val h = nextHeight
          inFlight.add(pool.submit((() => fetch(h)): Callable[String]))
          nextHeight += 1
        }
        val head = inFlight.poll()
        if (head == null) return false
        // the height's own exception (the retry loop's IOException), not its wrapper
        current = try head.get() catch { case e: ExecutionException => throw e.getCause }
        height += 1
        true
      } finally fetchNs += System.nanoTime() - t0
    }

    override def get(): InternalRow =
      InternalRow(height, UTF8String.fromString(current))

    override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
      RpcMetrics.task(RpcMetrics.GetBlockCalls, calls.get),
      RpcMetrics.task(RpcMetrics.GetBlockRetries, retries.get),
      RpcMetrics.task(RpcMetrics.FetchMs, fetchNs / 1000000L))

    /** Interrupts fetches still in flight (a failed or cancelled task) and
      * lets the idle threads exit. */
    override def close(): Unit = pool.shutdownNow()
  }
}

/** The partition readers' DSv2 custom metrics, summed over tasks into the
  * scan node's SQL metrics. Spark re-instantiates each class by name on the
  * driver, so each is a top-level class with a no-arg constructor. */
private[graft] object RpcMetrics {
  val GetBlockCalls = "getBlockCalls"
  val GetBlockRetries = "getBlockRetries"
  val FetchMs = "getBlockFetchMs"

  def all: Array[CustomMetric] =
    Array(new GetBlockCallsMetric, new GetBlockRetriesMetric, new GetBlockFetchMsMetric)

  def task(metric: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = metric
    override def value(): Long = v
  }
}

sealed abstract class RpcSumMetric(metric: String, desc: String) extends CustomSumMetric {
  override def name(): String = metric
  override def description(): String = desc
}

class GetBlockCallsMetric extends RpcSumMetric(RpcMetrics.GetBlockCalls, "get_block calls")
class GetBlockRetriesMetric extends RpcSumMetric(RpcMetrics.GetBlockRetries, "get_block retries")
class GetBlockFetchMsMetric
    extends RpcSumMetric(RpcMetrics.FetchMs, "get_block fetch wall time (ms)")
