package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.RebalancePartitions
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The barrier policy: derived DAGs materialize once, bare sources (table
  * scans, local rows, prior checkpoints) re-scan — the 100 TB standing-table
  * posture of [[CorpusPipeline.prepareIncremental]]. */
class FramesSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("bare sources: parquet scan, attribute projection, local rows, checkpoint") {
    val scan = spark.read.parquet(s"$dir/documents.parquet")
    assert(Frames.isBareSource(scan), "raw parquet scan")
    assert(Frames.isBareSource(scan.select("doc_id", "text")), "pruned scan")
    assert(Frames.isBareSource(scan.alias("s")), "aliased scan")
    assert(Frames.isBareSource(Seq((1L, "a")).toDF("doc_id", "text")), "local rows")
    val ck = scan.localCheckpoint(false)
    assert(Frames.isBareSource(ck), "materialized checkpoint")
    assert(Frames.barrier(scan) eq scan, "barrier must pass a bare scan through")
  }

  test("derived DAGs get the barrier") {
    val scan = spark.read.parquet(s"$dir/documents.parquet")
    assert(!Frames.isBareSource(scan.filter(col("doc_id") > 10)), "filter")
    assert(!Frames.isBareSource(scan.withColumn("n", length(col("text")))), "computed column")
    assert(!Frames.isBareSource(scan.groupBy("source").count()), "aggregate")
    val derived = scan.filter(col("doc_id") > 10)
    assert(!(Frames.barrier(derived) eq derived), "barrier must checkpoint a derived DAG")
  }

  test("prepareIncremental result is unchanged by the standing-frame policy") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "source")
    val incoming = docs.filter(col("doc_id") % 3 === 0)
    val standingScan = docs.filter(col("doc_id") % 3 =!= 0)
    // derived standing (barrier fires) vs its checkpointed twin (barrier
    // skipped): identical survivors
    val a = CorpusPipeline.prepareIncremental(incoming, standingScan)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = CorpusPipeline.prepareIncremental(incoming, standingScan.localCheckpoint(false))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("sizedWrite: rebalance under AQE; with AQE off the hint plans no shuffle") {
    val df = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "source")
    def shuffles(d: DataFrame): Int =
      d.queryExecution.executedPlan.collect { case e: ShuffleExchangeLike => e }.size
    assert(Frames.sizedWrite(df).queryExecution.analyzed
      .collectFirst { case r: RebalancePartitions => r }.nonEmpty, "AQE on: hint kept")
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try assert(shuffles(Frames.sizedWrite(df)) === shuffles(df))
    finally spark.conf.set(key, prev)
  }
}
