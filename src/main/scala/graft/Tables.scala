package graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._

/** The one parquet open ([[read]]) and the loaders for the
  * driver-generated testdata tables (TESTDATA.md), which go through it.
  *
  * `events.ts` is parquet TIMESTAMP(MICROS) with no UTC adjustment, which
  * Spark surfaces as TIMESTAMP_NTZ. [[events]] casts it to session-zone
  * TimestampType; DuckDB (the correctness oracle) reads the same
  * wall-clock microsecond values.
  */
object Tables {

  /** `path` opened as a parquet table with the schema inference gives,
    * but without inference's Spark job.
    *
    * An untyped parquet read runs a distributed job to infer the schema,
    * even for a single-file table; without `mergeSchema` that job reads one
    * footer, of the first data file by path. This does the same step on
    * the driver: it lists `path`, takes the first file Spark's listing
    * keeps (by path, skipping `_`/`.`-prefixed names), reads its footer
    * and converts it with the same `ParquetFileFormat.readSchemaFromFooter`
    * and session-conf converter the job uses. That step takes Spark's row
    * metadata when the writer left it and converts the parquet schema
    * otherwise (the DuckDB-written testdata).
    *
    * Falls back to the plain inference read, with its results and error
    * shapes, when `path` holds a subdirectory (a `k=v` partitioned
    * layout), a `_metadata`/`_common_metadata` summary file (inference
    * reads those first), or no data file, and on any exception (a missing
    * path, a glob, a bad footer). No schema is cached: a rewrite of `path`
    * is read with its new schema. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val schema =
      try {
        val p = new Path(path)
        val conf = spark.sparkContext.hadoopConfiguration
        val listed = p.getFileSystem(conf).listStatus(p)
        def summary(n: String): Boolean =
          n.startsWith("_metadata") || n.startsWith("_common_metadata")
        def hidden(n: String): Boolean =
          (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
        if (listed.exists(st => st.isDirectory || summary(st.getPath.getName))) None
        else listed.filterNot(st => hidden(st.getPath.getName))
          .sortBy(_.getPath.toString).headOption.map { st =>
            val footer = ParquetFooterReader.readFooter(
              HadoopInputFile.fromStatus(st, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
            ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, footer),
              new ParquetToSparkSchemaConverter(spark.sessionState.conf))
          }
      } catch { case NonFatal(_) => None }
    schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

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
