package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** `events.ts` is parquet TIMESTAMP(MICROS) in every testdata scale: Spark
  * reads it as TIMESTAMP_NTZ and Tables.events casts it to the session
  * zone. Spark pushes a `ts` bound through that cast to the parquet scan,
  * so row-group pruning on the time column needs no rule of our own; any
  * other on-disk encoding fails at load. */
class TablesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

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
}
