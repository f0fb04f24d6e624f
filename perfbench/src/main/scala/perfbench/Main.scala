package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, inside one JVM.
  *
  * {{{
  *   perfbench.Main --workload follow|query --seed N
  *     --seconds S --trace 0|1 --work DIR --out FILE [--data DIR]
  * }}}
  *
  * Writes one raw JSON record to `--out`: the session conf, the set-up
  * times, the timing samples, the correctness tally, engine counters and
  * (with `--trace 1`) the spans. `run.py` turns it into the metrics.
  */
object Main {

  /** Writes the raw record and the oracle's SQL. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Everything a workload needs and fills in. */
  final class Ctx(
      val spark: SparkSession,
      val seed: Long,
      val seconds: Double,
      val tracer: Tracer,
      val work: String,
      val data: Option[String],
      val nproc: Int) {
    val out = mutable.LinkedHashMap.empty[String, Any]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    /** One correctness check over `n` outputs, `bad` of them wrong. */
    def check(what: String, n: Long, bad: Long): Unit = {
      attempted += n
      failed += bad
      if (bad > 0) failures += s"$what: $bad of $n wrong"
    }

    def layer(name: String, v: Any): Unit = out.getOrElseUpdate("layers",
      mutable.LinkedHashMap.empty[String, Any]).asInstanceOf[mutable.Map[String, Any]]
      .update(name, v)

    def span[T](name: String)(body: => T): T = tracer.span(name)(body)

    def scoped[T](scope: String)(body: => T): T =
      Collector.withScope(spark.sparkContext, scope)(body)
  }

  /** The session the production entry point for the workload builds:
    * `SyncMain` for the follower, `graft.Bench` for the declared queries,
    * the near-duplicate detectors and the intake a traced `query` run
    * drives. */
  def session(workload: String, nproc: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // keep every file a run writes inside its work directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (workload == "query")
      b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val trace = args("trace") == "1"
    val work = args("work")
    val nproc = Runtime.getRuntime.availableProcessors()
    new File(work).mkdirs()

    val t0 = System.nanoTime()
    val spark = session(workload, nproc, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val collector = if (trace) Some(new Collector) else None
    collector.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, seed, args("seconds").toDouble,
      new Tracer(trace, s"$workload-$seed-${System.currentTimeMillis()}"),
      work, args.get("data"), nproc)
    val confKeys = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.session.timeZone", "spark.sql.extensions",
      "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.codegen.cache.maxEntries")
    ctx.out("workload") = workload
    ctx.out("seed") = seed
    ctx.out("trace") = trace
    ctx.out("nproc") = nproc
    ctx.out("session_s") = sessionS
    ctx.out("conf") = confKeys.flatMap(k => spark.conf.getOption(k).map(k -> _)).toMap
    try {
      ctx.span("run") {
        workload match {
          case "follow" => Follow.run(ctx)
          case "query" => Query.run(ctx)
          case other => sys.error(s"unknown workload '$other'")
        }
      }
      collector.foreach { c =>
        Collector.drain(spark.sparkContext)
        val tot = c.total()
        val batches = c.scopeNames.count(_.startsWith("batch:"))
        ctx.layer("spark.jobs", tot.jobs)
        ctx.layer("spark.jobs_per_batch",
          if (batches == 0) 0.0
          else c.total(_.startsWith("batch:")).jobs.toDouble / batches)
        ctx.layer("spark.tasks", tot.tasks)
        ctx.layer("spark.executor_cpu_s", tot.cpuNs / 1e9)
        ctx.layer("spark.gc_s", tot.gcMs / 1e3)
        ctx.layer("spark.shuffle_read_mb", tot.shuffleRead / 1e6)
        ctx.layer("spark.shuffle_write_mb", tot.shuffleWrite / 1e6)
        ctx.layer("spark.output_mb", tot.output / 1e6)
        ctx.out("scopes") = c.scopeNames.map(s => s -> c.snapshotOf(s).toJson).toMap
      }
      ctx.out("spans") = ctx.tracer.spans
    } catch {
      case e: Throwable =>
        ctx.failures += s"run aborted: $e"
        ctx.failed = math.max(ctx.failed, 1L)
        ctx.attempted = math.max(ctx.attempted, ctx.failed)
        ctx.out("aborted") = e.toString
        e.printStackTrace()
    } finally {
      ctx.out("attempted") = ctx.attempted
      ctx.out("failed") = ctx.failed
      ctx.out("failures") = ctx.failures.toSeq
      ctx.out("peak_rss_mb") = peakRssMb()
      Files.writeString(Paths.get(args("out")), json.writeValueAsString(ctx.out))
      spark.stop()
    }
  }

  /** The JVM's resident-set high-water mark (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
