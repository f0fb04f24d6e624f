package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-job audit for one declared query (guide §1/§7: find where the
  * wall time actually goes before changing anything): runs the query
  * once warm, then once measured with a listener recording every Spark
  * job's wall time, task count and description. The jobs-per-query and
  * their latency distribution are the driver-overhead evidence behind
  * the intake-diet line items in OPTIMIZATION_r*.md.
  *
  * Usage: runMain graft.JobAudit <sfDir> <queryName>
  */
object JobAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val spark = Sessions.build("graft-jobaudit")
    val fn = SparkEntry.queries(name)
    // warm pass: session init, codegen cache, parquet footers
    fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    final case class J(id: Int, t0: Long, var wallMs: Long, var nTasks: Int,
        desc: String)
    val jobs = new ConcurrentLinkedQueue[J]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .filter(_.nonEmpty)
          // fall back to the result stage's callsite — the query paths set
          // no job description, and the stage name (e.g. "parquet at
          // Dedup.scala:247") is what attributes a job to a code line
          .orElse(e.stageInfos.lastOption.map(_.name))
          .getOrElse("")
        // the first graft frame in the stage details attributes an
        // AQE-submitted stage (whose name is a CompletableFuture frame)
        // back to the operator that built the subtree
        val g = e.stageInfos.lastOption.map(_.details).getOrElse("")
          .linesIterator.find(l => l.contains("graft.") && !l.contains("JobAudit"))
          .map(_.trim).getOrElse("")
        val j = J(e.jobId, e.time, 0L,
          e.stageInfos.map(_.numTasks).sum, if (g.nonEmpty) s"$d | $g" else d)
        starts.put(e.jobId, j)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = starts.remove(e.jobId)
        if (j != null) { j.wallMs = e.time - j.t0; jobs.add(j) }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // per-ACTION wall: one line per query execution (count/collect/write),
    // with the callsite-bearing first line of the logical plan — the job
    // listener can't attribute AQE-submitted stages, this can
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        val root = qe.analyzed.toString.linesIterator.take(1).mkString.take(70)
        println(f"@@ qe ${durationNs / 1e6}%8.1fms $funcName%-10s $root")
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(qeListener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500) // let the listener bus drain
    import scala.jdk.CollectionConverters._
    val js = jobs.asScala.toSeq.sortBy(_.id)
    println(f"@@ $name: wall=$wall%.2fs jobs=${js.size} " +
      f"jobWallSum=${js.map(_.wallMs).sum / 1e3}%.2fs " +
      f"tasks=${js.map(_.nTasks).sum}")
    js.foreach { j =>
      println(f"@@ job=${j.id}%4d ${j.wallMs}%6dms tasks=${j.nTasks}%4d ${j.desc.take(90)}")
    }
    spark.stop()
  }
}
