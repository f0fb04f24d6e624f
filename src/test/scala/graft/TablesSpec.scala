package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** `events.ts` is parquet TIMESTAMP(MICROS) in every testdata scale: Spark
  * reads it as TIMESTAMP_NTZ and Tables.events casts it to the session
  * zone. Spark pushes a `ts` bound through that cast to the parquet scan,
  * so row-group pruning on the time column needs no rule of our own; any
  * other on-disk encoding fails at load.
  *
  * `Tables.read` opens a parquet table with no Spark job and the schema
  * inference gives, and falls back to inference where the layout needs it.
  * A source scan keeps every single-path parquet read on it. */
class TablesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** A Spark-written table with nested, array, map, decimal, binary,
    * timestamp and timestamp_ntz columns, and a non-nullable id. */
  private def writeTyped(path: String): Unit =
    spark.range(5).selectExpr(
      "id",
      "named_struct('a', cast(id as int), 'b', array(named_struct('c', cast(id as string)))) as nested",
      "array(id, id * 2) as arr",
      "map(cast(id as string), cast(id as double)) as m",
      "cast(id * 1.5 as decimal(12, 3)) as dec",
      "cast(cast(id as string) as binary) as bin",
      "timestamp_seconds(id * 86400) as ts",
      "cast(timestamp_seconds(id * 3600) as timestamp_ntz) as ts_ntz")
      .coalesce(1).write.mode("overwrite").parquet(path)

  private def assertSameAsInference(path: String): Unit = {
    val opened = Tables.read(spark, path)
    val inferred = spark.read.parquet(path)
    assert(opened.schema === inferred.schema, path)
    assert(opened.schema.json === inferred.schema.json, path)
    assert(opened.collect().toSeq === inferred.collect().toSeq, path)
  }

  private def testdataTables: Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Raw on-disk type of `events.ts`: TIMESTAMP(MICROS) reads as NTZ. */
  private def assertMicros(): Unit =
    assert(Tables.table(spark, dir, "events").schema("ts").dataType === TimestampNTZType,
      "events.ts is not TIMESTAMP(MICROS)")

  test("micros era: native pushdown prunes the scan through the NTZ cast") {
    assertMicros()
    val df = Tables.events(spark, dir)
      .filter(col("ts") < lit("2024-01-15").cast("timestamp"))
      .select("event_id")
    val plan = planOf(df)
    // the session-zone cast must not strand the predicate above the scan:
    // PushedFilters carries a ts bound for parquet row-group pruning
    assert(plan.contains("LessThan(ts,"), plan)
    // and the filter semantics hold
    assert(df.count() > 0)
  }

  test("micros era: range predicate pushes both NTZ bounds") {
    assertMicros()
    val df = Tables.events(spark, dir).filter(
      col("ts") >= lit("2024-01-05").cast("timestamp") &&
        col("ts") < lit("2024-01-06").cast("timestamp"))
    val plan = planOf(df)
    assert(plan.contains("GreaterThanOrEqual(ts,") || plan.contains("GreaterThan(ts,"), plan)
    assert(plan.contains("LessThan(ts,"), plan)
  }

  test("boundary exactness: events at exactly the bound are not dropped") {
    val e = Tables.events(spark, dir)
    val v = e.selectExpr("max(ts) as m").collect()(0).getTimestamp(0)
    val cnt = e.filter(col("ts") <= lit(v)).count()
    assert(cnt === e.count())
  }

  test("an INT64 ts column (the old nanosecond encoding) fails at load") {
    val tmp = java.nio.file.Files.createTempDirectory("int64_events_").toString
    val base = 1704067200000000000L // 2024-01-01T00:00:00Z in ns
    spark.range(10)
      .select(col("id").as("event_id"), (lit(base) + col("id") * lit(600000000000L)).as("ts"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, tmp))
    assert(e.getMessage.contains("extend Tables.events"), e.getMessage)
  }

  test("Tables.read: every DuckDB-written testdata table opens with inference's schema and rows") {
    assert(testdataTables.size === 10)
    testdataTables.foreach(assertSameAsInference)
  }

  test("Tables.read: a Spark-written table of nested and typed columns opens as inference does") {
    val path = tmpDir("typed_table_")
    writeTyped(path)
    assertSameAsInference(path)
    assert(Tables.read(spark, path).schema.fieldNames.toSeq ===
      Seq("id", "nested", "arr", "m", "dec", "bin", "ts", "ts_ntz"))
  }

  test("Tables.read: the open runs no Spark job") {
    val path = tmpDir("typed_jobs_")
    writeTyped(path)
    val paths = testdataTables :+ path
    assert(jobsOf(paths.foreach(p => Tables.read(spark, p).schema)) === 0)
    // the counter sees the inference job the open replaces
    assert(jobsOf(spark.read.parquet(path).schema) >= 1)
  }

  test("Tables.read falls back: a missing path and a _SUCCESS-only dir fail as inference does") {
    def condition(open: String => DataFrame, path: String): String =
      intercept[AnalysisException](open(path)).getCondition
    val missing = s"${tmpDir("missing_")}/absent"
    assert(condition(Tables.read(spark, _), missing) ===
      condition(spark.read.parquet(_), missing))
    val bare = tmpDir("success_only_")
    Files.createFile(Paths.get(bare, "_SUCCESS"))
    assert(condition(Tables.read(spark, _), bare) ===
      condition(spark.read.parquet(_), bare))
  }

  test("Tables.read falls back: _common_metadata and k=v layouts give the inferred schema") {
    // inference reads `_common_metadata` first: a footer of another schema
    // there shows which footer the open took
    val other = tmpDir("other_schema_")
    spark.range(3).selectExpr("cast(id as string) as x").coalesce(1)
      .write.mode("overwrite").parquet(other)
    val summarized = tmpDir("common_metadata_")
    writeTyped(summarized)
    val otherFile = Files.list(Paths.get(other)).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    Files.copy(otherFile, Paths.get(summarized, "_common_metadata"),
      StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.read(spark, summarized).schema === spark.read.parquet(summarized).schema)
    assert(Tables.read(spark, summarized).schema.fieldNames.toSeq === Seq("x"))

    val parted = tmpDir("partitioned_")
    spark.range(6).selectExpr("id", "cast(id % 2 as int) as k")
      .write.mode("overwrite").partitionBy("k").parquet(parted)
    assertSameAsInference(parted)
    assert(Tables.read(spark, parted).schema.fieldNames.toSeq === Seq("id", "k"))
  }

  test("Tables.read: a rewrite of the path with another schema reads the new schema") {
    val path = tmpDir("rewrite_")
    spark.range(3).selectExpr("id as a").write.mode("overwrite").parquet(path)
    assert(Tables.read(spark, path).schema.fieldNames.toSeq === Seq("a"))
    spark.range(3).selectExpr("cast(id as string) as b", "id as c")
      .write.mode("overwrite").parquet(path)
    assertSameAsInference(path)
    assert(Tables.read(spark, path).schema.fieldNames.toSeq === Seq("b", "c"))
  }

  test("every single-path parquet read in src/main goes through Tables.read") {
    // exempt: the fallback inside Tables.read, the compaction's multi-path
    // reads (no single path to open) and graft.Bench's fixed-work warm-up
    // probe, whose reported time must stay comparable across versions
    val exempt = Set(
      "Tables.scala" -> "schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))",
      "StandingState.scala" -> "rewrite(spark.read.parquet(f0.map(_.toString): _*))",
      "StandingState.scala" -> "spark.read.parquet(delta.map(_.toString): _*)",
      "Bench.scala" -> "spark.read.parquet(s\"$sfDir/lineitem.parquet\").count()")
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val found = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("read.parquet(") =>
            (f.getFileName.toString, line.trim, s"$f:${i + 1}")
        }
      }
    val offending = found.filterNot { case (file, line, _) => exempt((file, line)) }
    assert(offending.isEmpty,
      "untyped parquet reads outside Tables.read (each runs a schema-inference job):\n" +
        offending.map { case (_, line, at) => s"  $at: $line" }.mkString("\n"))
  }
}
