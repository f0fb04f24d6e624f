package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * `events.ts` is parquet TIMESTAMP(MICROS) with no UTC adjustment, which
  * Spark surfaces as TIMESTAMP_NTZ. [[events]] casts it to session-zone
  * TimestampType; DuckDB (the correctness oracle) reads the same
  * wall-clock microsecond values.
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  /** Small-input parallelism guard for the COMPUTE-HEAVY-PER-BYTE tables
    * only (documents/embeddings: 16 md5s per shingle, simhash bit votes,
    * 64-dim folds per vector). Parquet splits at row-group granularity and
    * these local files are a single row group — one task per scan no matter
    * how low `spark.sql.files.maxPartitionBytes` goes, serializing all that
    * compute on one core (measured: q21 6.2->3.5s, q22 3.4->1.0s). When the
    * scan yields fewer splits than cores, repartition to full parallelism;
    * at 100 TB the scan has thousands of row-group splits, the condition is
    * false, and this is a no-op. Deliberately NOT applied to the relational
    * tables: their queries are shuffle-bound, and a blanket exchange added
    * 0.3-1.5s to every scan-light query for nothing (measured). */
  private def parallelized(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < target) df.repartition(target) else df
  }

  def documents(spark: SparkSession, dir: String): DataFrame =
    parallelized(table(spark, dir, "documents"))
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    parallelized(table(spark, dir, "embeddings"))

  /** Documents WITHOUT the parallelism guard — for scan-light queries
    * (simple projections, pre-shuffle aggregations, keyed windows) where
    * the guard's exchange of full text payloads costs 0.6-1.2 s and buys
    * nothing: the query either does trivial per-row work or immediately
    * reshuffles on its own key anyway (measured: q17a 1.6 s guarded vs
    * 0.35 s raw). Keep [[documents]] for the compute-heavy-per-byte
    * consumers (shingling, hashing kernels, codecs, explodes feeding
    * aggregation). */
  def documentsRaw(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")

  /** `ts` surfaced as session-zone TimestampType microseconds: TIMESTAMP
    * (MICROS, no UTC adjustment) reads as TIMESTAMP_NTZ and is cast —
    * wall-clock preserving under the UTC session zone every session sets
    * ([[Sessions]]); Spark pushes a `ts` bound through that cast to the
    * parquet scan. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _: org.apache.spark.sql.types.TimestampType => df
      // any OTHER encoding a future testdata generation introduces (e.g.
      // TIMESTAMP(MILLIS), int64 nanos) must fail HERE at load, not
      // silently diverge from the DuckDB oracle at verdict time
      case other => throw new IllegalStateException(
        s"events.ts: unhandled parquet encoding $other — extend Tables.events")
    }
  }
}
