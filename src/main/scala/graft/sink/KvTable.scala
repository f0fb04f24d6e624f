package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Glob

/** In-engine KV materialization (the B1 alternative to an external Redis):
  * a parquet table partitioned by `(chain, block_bucket)` with keys sorted
  * within files.
  *
  * Layout rationale for 100 TB:
  *  - `chain` partitioning makes `{prefix}:*` sweeps (reset/verify, G6)
  *    touch exactly one partition subtree;
  *  - `block_bucket = block_num / bucketSize` keeps each partition a
  *    bounded, time-ordered slice — point lookups and per-block queries
  *    (G3/G7) prune to one bucket via partition filters, and TTL retention
  *    (the reference's 24h EXPIRE) becomes a cheap partition DROP instead
  *    of per-key deletes;
  *  - `sortWithinPartitions(key)` gives parquet min/max key stats, so
  *    key-range predicates (the literal prefix of a glob) skip row groups.
  */
object KvTable {

  val DefaultBucketSize = 100000L

  /** Write (append) keyed records. Input needs (key, kv_value, block_num)
    * and a chain literal.
    *
    * NOTE on idempotence: parquet append is NOT idempotent by key — a
    * retried micro-batch duplicates its rows. Callers replaying batches
    * must either overwrite the affected (chain, block_bucket) partitions
    * (dynamic partition overwrite of a batch's buckets is idempotent, since
    * buckets are block-aligned) or dedup on read with last-write-wins. The
    * KvBackend SET path keeps true per-key idempotence; this table is the
    * scan-side materialization. */
  def write(
      keyed: DataFrame,
      chain: String,
      path: String,
      bucketSize: Long = DefaultBucketSize): Unit =
    keyed
      .select(
        col("key"), col("kv_value"), col("block_num"),
        lit(chain).as("chain"),
        (col("block_num") / bucketSize).cast("long").as("block_bucket"))
      .repartition(col("chain"), col("block_bucket"))
      .sortWithinPartitions("key")
      .write.mode("append")
      .partitionBy("chain", "block_bucket")
      .parquet(path)

  /** Idempotent write for replayable batches: dynamic partition overwrite
    * rewrites exactly the (chain, block_bucket) partitions present in this
    * frame — a retried batch lands byte-identically instead of duplicating.
    * Requires batches aligned to bucket boundaries (a bucket is written by
    * one batch), which block-ordered ingestion gives for free when
    * bucketSize is a multiple of the blocks-per-trigger.
    *
    * The precondition is ENFORCED at runtime at BLOCK granularity: before
    * overwriting, the affected buckets' existing DISTINCT block set is
    * anti-joined against the batch's — any existing block the batch does
    * not carry (outside its range OR an interior gap) would be silently
    * deleted by the overwrite, so the call refuses (IllegalStateException)
    * and points at [[writeVersioned]], the alignment-free idempotent path.
    * The check reads only the partition-pruned buckets' block_num column.
    * KEYS within a re-sent block are deliberately not compared: a batch
    * that re-derives a present block with a different key set is a
    * legitimate rewrite (reorg repair) and wins; writers needing key-level
    * idempotence belong on [[writeVersioned]]/[[loadLatest]]. */
  def overwriteBuckets(
      keyed: DataFrame,
      chain: String,
      path: String,
      bucketSize: Long = DefaultBucketSize): Unit = {
    val spark = keyed.sparkSession
    val frame = keyed
      .select(
        col("key"), col("kv_value"), col("block_num"),
        lit(chain).as("chain"),
        (col("block_num") / bucketSize).cast("long").as("block_bucket"))
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(new Path(path)) &&
      fs.listStatus(new Path(path)).exists(_.getPath.getName.startsWith("chain="))
    if (hasData) {
      val b = frame.agg(collect_set("block_bucket").as("buckets")).head()
      if (!b.isNullAt(0) && b.getSeq[Long](0).nonEmpty) {
        val buckets = b.getSeq[Long](0)
        val batchBlocks = frame.select("block_bucket", "block_num").distinct()
        val orphaned = load(spark, path)
          .filter(col("chain") === chain && col("block_bucket").isin(buckets: _*))
          .select("block_bucket", "block_num").distinct()
          .join(batchBlocks, Seq("block_bucket", "block_num"), "left_anti")
          .orderBy("block_num")
          .limit(5).collect()
        if (orphaned.nonEmpty)
          throw new IllegalStateException(
            s"overwriteBuckets would delete existing rows: blocks " +
              orphaned.map(_.getLong(1)).mkString("[", ",", ",...]") +
              s" live in buckets ${buckets.sorted.mkString(",")} but are absent from this batch " +
              "(misaligned range or interior gap). Batches must own whole buckets " +
              "(bucketSize a multiple of blocks-per-trigger) — " +
              "use writeVersioned/loadLatest for alignment-free idempotent replay.")
      }
    }
    frame
      .repartition(col("chain"), col("block_bucket"))
      .sortWithinPartitions("key")
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("chain", "block_bucket")
      .parquet(path)
  }

  /** Alignment-free idempotent write: append with a `w_version` column (the
    * micro-batch id / any monotone replay-stable version). A retried batch
    * re-appends byte-identical rows under the SAME version, and
    * [[loadLatest]]'s last-write-wins dedup collapses them — exactly-once
    * semantics without any bucket-alignment precondition, at the cost of a
    * dedup on read until [[compact]] folds it in. */
  def writeVersioned(
      keyed: DataFrame,
      chain: String,
      path: String,
      version: Long,
      bucketSize: Long = DefaultBucketSize): Unit =
    keyed
      .select(
        col("key"), col("kv_value"), col("block_num"),
        lit(version).as("w_version"),
        lit(chain).as("chain"),
        (col("block_num") / bucketSize).cast("long").as("block_bucket"))
      .repartition(col("chain"), col("block_bucket"))
      .sortWithinPartitions("key")
      .write.mode("append")
      .partitionBy("chain", "block_bucket")
      .parquet(path)

  /** Read a versioned table with last-write-wins per key: the max
    * (w_version, kv_value) struct per key — one hash aggregation keyed by
    * `key` (no global window), partition-prunable like any other read. */
  def loadLatest(spark: SparkSession, path: String): DataFrame =
    load(spark, path)
      .groupBy("key")
      .agg(max(struct(
        col("w_version"), col("kv_value"), col("block_num"),
        col("chain"), col("block_bucket"))).as("r"))
      .select(
        col("key"), col("r.kv_value").as("kv_value"), col("r.block_num").as("block_num"),
        col("r.w_version").as("w_version"), col("r.chain").as("chain"),
        col("r.block_bucket").as("block_bucket"))

  /** Fold the dedup in: rewrite every (chain, bucket) at or below
    * `upToBucket` (closed buckets — the stream has moved past them) to one
    * sorted, last-write-wins-unique file per bucket. Read-side dedup cost on
    * compacted buckets drops to zero; the versioned layout is preserved so
    * mixed compacted/live reads keep working through [[loadLatest]]. */
  def compact(
      spark: SparkSession,
      path: String,
      chain: String,
      upToBucket: Long): Seq[Long] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val chainDir = new Path(path, s"chain=$chain")
    if (!fs.exists(chainDir)) return Seq.empty
    val buckets = fs.listStatus(chainDir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("block_bucket="))
      .map(_.stripPrefix("block_bucket=").toLong)
      .filter(_ <= upToBucket)
      .sorted
    if (buckets.isEmpty) return Seq.empty
    // Stage the deduped rows to an underscore-prefixed dir (invisible to
    // parquet readers of `path`) BEFORE overwriting the live buckets — the
    // rewrite never reads the files it is replacing, so a mid-write crash
    // leaves the live table untouched and the staging dir reaped next run.
    val staging = new Path(path, "_compact_staging")
    fs.delete(staging, true)
    loadLatest(spark, path)
      .filter(col("chain") === chain && col("block_bucket").isin(buckets: _*))
      .write.mode("overwrite").parquet(staging.toString)
    Tables.read(spark, staging.toString)
      .repartition(col("chain"), col("block_bucket"))
      .sortWithinPartitions("key")
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("chain", "block_bucket")
      .parquet(path)
    fs.delete(staging, true)
    buckets
  }

  def load(spark: SparkSession, path: String): DataFrame =
    Tables.read(spark, path)

  /** G7 point GET: equality on key plus derived partition predicates so the
    * scan prunes to a single (chain, bucket) partition. */
  /** ASCII-digit check: `Character.isDigit` accepts Unicode digits that
    * `toLong` then rejects, and is vacuously true on "". */
  private def isAsciiNumeric(s: String): Boolean =
    s.nonEmpty && s.forall(c => c >= '0' && c <= '9')

  def pointGet(
      table: DataFrame,
      key: String,
      bucketSize: Long = DefaultBucketSize): DataFrame = {
    val parts = key.split(':')
    val base = table.filter(col("key") === key)
    if (parts.length >= 2 && isAsciiNumeric(parts(1)))
      base.filter(col("chain") === parts(0) &&
        col("block_bucket") === parts(1).toLong / bucketSize)
    else if (parts.nonEmpty) base.filter(col("chain") === parts(0))
    else base
  }

  /** G1–G6 glob query with partition-pruning assists: a literal chain
    * segment prunes the chain partition; a literal block segment prunes to
    * its bucket; everything else falls back to the compiled glob predicate
    * (which itself carries a startsWith for row-group skipping). */
  def globQuery(
      table: DataFrame,
      pattern: String,
      bucketSize: Long = DefaultBucketSize): DataFrame = {
    val segs = pattern.split(':')
    def isLiteral(s: String): Boolean = !s.exists(c => c == '*' || c == '?' || c == '[' || c == '\\')
    val chainLiteral = segs.nonEmpty && isLiteral(segs(0))
    var df = table
    if (chainLiteral)
      df = df.filter(col("chain") === segs(0))
    // the block-bucket prune is only sound when the FIRST segment is also
    // literal: a wildcard there crosses colons (Redis semantics), so the
    // pattern's second segment need not align with the key's block segment
    if (chainLiteral && segs.length >= 2 && isLiteral(segs(1)) && isAsciiNumeric(segs(1)))
      df = df.filter(col("block_bucket") === segs(1).toLong / bucketSize)
    df.filter(Glob.matches(col("key"), pattern))
  }

  /** TTL retention as partition drop (the 24h EXPIRE at scale): delete every
    * (chain, bucket) partition whose bucket is strictly below the horizon
    * bucket. Metadata-only work — no row rewrite, no per-key deletes. */
  def expireBelow(
      spark: SparkSession,
      path: String,
      chain: String,
      horizonBlockNum: Long,
      bucketSize: Long = DefaultBucketSize): Seq[String] = {
    val horizonBucket = horizonBlockNum / bucketSize
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val chainDir = new Path(path, s"chain=$chain")
    if (!fs.exists(chainDir)) Seq.empty
    else fs.listStatus(chainDir).toSeq
      .map(_.getPath)
      .filter { p =>
        p.getName.startsWith("block_bucket=") &&
          p.getName.stripPrefix("block_bucket=").toLong < horizonBucket
      }
      .map { p => fs.delete(p, true); p.getName }
  }
}
