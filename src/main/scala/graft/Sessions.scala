package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every entry point builds: the
  * production mains (`SyncMain`, `PrepareMain`), the drivers (`Bench`,
  * `Verify`, `JobAudit`, `PlanDump`, `ScaleBench`, `IngestBench`) and the
  * specs (`SparkSpec`). One configuration means the kernels, time zone and
  * codegen cache a spec or bench measures are the ones production runs.
  *
  *  - master: `SPARK_MASTER`, else `local[cpus]`;
  *  - `cpus`: `SPARK_GRAFT_CPUS`, else the machine's core count; shuffle
  *    partitions equal `cpus`;
  *  - UTC session time zone (`Tables.events` casts the NTZ `ts` column
  *    wall-clock preserving under it);
  *  - UI off;
  *  - [[graft.plans.GraftExtensions]]: every `graft_*` kernel the
  *    operators call is registered, so a missing registration is an
  *    analysis error, never a silent slowdown;
  *  - the generated-class cache sized by [[CodegenCacheEntries]].
  */
object Sessions {

  /** `spark.sql.codegen.cache.maxEntries`. The default of 100 thrashes
    * under a 107-query session: every round of every query re-COMPILES
    * every codegen stage it evicted, which the r18->r19 bisect measured at
    * up to ~2.5 s/round on the GD-chain/fused-gate queries (q102
    * 6.03 -> 3.44, q95 5.81 -> 3.82 min-of-5 with the cache sized to hold
    * the session's stages). This is SESSION warmth, not result caching —
    * the classes a long-lived production driver keeps hot anyway — and it
    * is scale-independent (same win on a cluster driver). Bench's
    * `SPARK_GRAFT_BENCH_EXTRA_CONF` hook overrides it for bisects. */
  val CodegenCacheEntries = 4096

  /** `SPARK_GRAFT_CPUS`, defaulting to the machine's core count. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Builds (or returns the JVM's existing) session; `conf` entries are
    * applied last, so they override the defaults above. */
  def build(
      appName: String,
      cpus: Int = defaultCpus,
      conf: Seq[(String, String)] = Seq.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
