package graft.streaming

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Ordered fixture-replay source (SURVEY §7.3 "ordered polling source"):
  * a DataSource V2 `MicroBatchStream` whose offsets are line indexes into a
  * JSONL file of blocks — the natural monotonic offset, exactly like the
  * reference's block heights (block_follower_job.rb:141-167).
  *
  * Usage:
  * {{{
  *   spark.readStream
  *     .format("graft.streaming.JsonlReplaySource")
  *     .option("path", "/path/blocks.jsonl")
  *     .option("linesPerTrigger", "2")   // micro-batch admission control
  *     .load()                           // => (idx: long, value: string)
  * }}}
  *
  * Admission control (`linesPerTrigger`) is the Spark-native form of the
  * reference's one-block-at-a-time poll/backpressure loop (B4): the SOURCE
  * throttles; executors never sleep. Batch read is also supported so the
  * identical plan runs in batch mode.
  *
  * A production chain source swaps the file for a JSON-RPC client: offsets
  * become block heights resolved from dynamic-global-properties (A4),
  * `planInputPartitions` fans the height range out as fetch ranges, and the
  * per-partition reader pulls blocks with the retry/backoff policy of §2.A.
  */
class JsonlReplaySource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    JsonlReplaySource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // the raw properties map preserves option case — go through the
    // case-insensitive wrapper or "linesPerTrigger" silently misses
    val opts = new CaseInsensitiveStringMap(properties)
    val path = opts.get("path")
    require(path != null, "jsonl replay source requires a 'path' option")
    val perTrigger = opts.getLong("linesPerTrigger", Long.MaxValue)
    val numPartitions = opts.getInt("numPartitions", 4)
    new ReplayTable(path, perTrigger, numPartitions)
  }
}

object JsonlReplaySource {
  val schema: StructType = StructType(Seq(
    StructField("idx", LongType, nullable = false),
    StructField("value", StringType, nullable = false),
  ))

  /** The replay stream over `path`, `linesPerTrigger` lines a micro-batch. */
  def stream(spark: SparkSession, path: String, linesPerTrigger: Long): DataFrame =
    spark.readStream
      .format("graft.streaming.JsonlReplaySource")
      .option("path", path)
      .option("linesPerTrigger", linesPerTrigger.toString)
      .load()
}

private[streaming] class ReplayTable(path: String, perTrigger: Long, numPartitions: Int)
    extends Table with SupportsRead {

  override def name(): String = s"jsonl-replay($path)"
  override def schema(): StructType = JsonlReplaySource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = JsonlReplaySource.schema

        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ReplayMicroBatchStream(path, perTrigger, numPartitions)

        override def toBatch: Batch = new Batch {
          private lazy val total = ReplayIO.countLines(path)
          override def planInputPartitions(): Array[InputPartition] =
            ReplayIO.splitRange(path, 0L, total, numPartitions)
          override def createReaderFactory(): PartitionReaderFactory =
            ReplayIO.readerFactory
        }
      }
    }
}

/** Offset = number of lines (blocks) consumed. */
private[streaming] case class LineOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

private[streaming] class ReplayMicroBatchStream(
    path: String, perTrigger: Long, numPartitions: Int)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private lazy val total: Long = ReplayIO.countLines(path)
  // Without SupportsTriggerAvailableNow, Trigger.AvailableNow silently
  // collapses the whole replay into ONE batch (ignoring admission control);
  // implementing it freezes the end offset and batches up to it.
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(total)

  override def initialOffset(): Offset = LineOffset(0L)

  override def deserializeOffset(json: String): Offset = LineOffset(json.toLong)

  override def getDefaultReadLimit: ReadLimit =
    if (perTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(perTrigger)

  override def latestOffset(): Offset = LineOffset(total)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[LineOffset].n
    val end = availableNowTarget.getOrElse(total)
    limit match {
      case rows: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        LineOffset(math.min(s + rows.maxRows(), end))
      case _ => LineOffset(end)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    ReplayIO.splitRange(
      path, start.asInstanceOf[LineOffset].n, end.asInstanceOf[LineOffset].n, numPartitions)

  override def createReaderFactory(): PartitionReaderFactory = ReplayIO.readerFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[streaming] case class LineRangePartition(path: String, from: Long, until: Long)
    extends InputPartition

private[streaming] object ReplayIO {

  def countLines(path: String): Long = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().count(_.trim.nonEmpty).toLong
    finally src.close()
  }

  /** Split [from, until) into up to `n` contiguous line ranges — order is
    * restored downstream by sorting on `idx`, so ranges read in parallel. */
  def splitRange(path: String, from: Long, until: Long, n: Int): Array[InputPartition] = {
    val count = until - from
    if (count <= 0) Array.empty
    else {
      val per = math.max(1L, math.ceil(count.toDouble / n).toLong)
      (from until until by per)
        .map(s => LineRangePartition(path, s, math.min(s + per, until)): InputPartition)
        .toArray
    }
  }

  val readerFactory: PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val p = partition.asInstanceOf[LineRangePartition]
      new PartitionReader[InternalRow] {
        private val source = scala.io.Source.fromFile(p.path)
        // Long line counter (zipWithIndex is Int and would wrap past 2^31
        // lines). Each partition re-scans from line 0 — O(file) per
        // partition, fine for fixture replay, NOT the pattern for a real
        // source (JsonRpcBlockSource seeks by height instead).
        private val it = source.getLines().filter(_.trim.nonEmpty)
          .zip(Iterator.iterate(0L)(_ + 1L))
          .dropWhile(_._2 < p.from)
          .takeWhile(_._2 < p.until)
        private var current: (String, Long) = _
        override def next(): Boolean = {
          if (it.hasNext) { current = it.next(); true } else false
        }
        override def get(): InternalRow =
          InternalRow(current._2, UTF8String.fromString(current._1))
        override def close(): Unit = source.close()
      }
    }
  }
}
