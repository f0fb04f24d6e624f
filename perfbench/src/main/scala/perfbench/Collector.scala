package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** Engine counters for one run, from Spark's public listener API.
  *
  * Every job is attributed to a scope: the `perfbench.scope` local
  * property the calling thread sets (workload phase, query name), or, for
  * jobs a streaming query runs, its micro-batch id. Tasks inherit the
  * scope of the job that submitted their stage. Codegen compiles come
  * from `CodegenMetrics`, a process-wide counter, read around each query.
  */
final class Collector extends SparkListener {
  import Collector._

  private val scopes = new ConcurrentHashMap[String, Counters]()
  private val stageScope = new ConcurrentHashMap[Int, String]()

  private def counters(scope: String): Counters =
    scopes.computeIfAbsent(scope, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val batch = props.flatMap(p => Option(p.getProperty(BatchIdKey)))
    val scope = batch.map(b => s"batch:$b")
      .orElse(props.flatMap(p => Option(p.getProperty(ScopeKey))))
      .getOrElse("other")
    e.stageIds.foreach(id => stageScope.put(id, scope))
    counters(scope).jobs.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageScope.getOrDefault(e.stageId, "other"))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.output.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Counters of the scopes `keep` accepts, summed. */
  def total(keep: String => Boolean = _ => true): Snapshot =
    scopes.asScala.collect { case (s, c) if s != DrainScope && keep(s) => c.snapshot }
      .foldLeft(Snapshot.zero)(_ + _)

  def scopeNames: Seq[String] = scopes.keySet().asScala.toSeq.sorted

  def snapshotOf(scope: String): Snapshot =
    Option(scopes.get(scope)).map(_.snapshot).getOrElse(Snapshot.zero)
}

object Collector {
  val ScopeKey = "perfbench.scope"
  // set by Spark's micro-batch execution on every job a batch runs
  val BatchIdKey = "streaming.sql.batchId"

  final class Counters {
    val jobs, tasks, cpuNs, gcMs, shuffleRead, shuffleWrite, output = new AtomicLong()
    def snapshot: Snapshot = Snapshot(jobs.get, tasks.get, cpuNs.get, gcMs.get,
      shuffleRead.get, shuffleWrite.get, output.get)
  }

  final case class Snapshot(jobs: Long, tasks: Long, cpuNs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, output: Long) {
    def +(o: Snapshot): Snapshot = Snapshot(jobs + o.jobs, tasks + o.tasks,
      cpuNs + o.cpuNs, gcMs + o.gcMs, shuffleRead + o.shuffleRead,
      shuffleWrite + o.shuffleWrite, output + o.output)
    def -(o: Snapshot): Snapshot = Snapshot(jobs - o.jobs, tasks - o.tasks,
      cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleRead - o.shuffleRead,
      shuffleWrite - o.shuffleWrite, output - o.output)
    def toJson: Map[String, Any] = Map(
      "jobs" -> jobs, "tasks" -> tasks, "executor_cpu_s" -> cpuNs / 1e9,
      "gc_s" -> gcMs / 1e3, "shuffle_read_mb" -> shuffleRead / 1e6,
      "shuffle_write_mb" -> shuffleWrite / 1e6, "output_mb" -> output / 1e6)
  }
  object Snapshot { val zero: Snapshot = Snapshot(0, 0, 0, 0, 0, 0, 0) }

  /** Janino compiles so far in this JVM. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def withScope[T](sc: SparkContext, scope: String)(body: => T): T = {
    val prev = sc.getLocalProperty(ScopeKey)
    sc.setLocalProperty(ScopeKey, scope)
    try body finally sc.setLocalProperty(ScopeKey, prev)
  }

  /** All listener events delivered: counters read after this are final. */
  def drain(sc: SparkContext): Unit = {
    // the listener bus is private; the end event of a marker job, queued
    // behind every earlier event, is the public way to wait for delivery
    val done = new java.util.concurrent.CountDownLatch(1)
    val marker = new SparkListener {
      @volatile private var jobId = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(ScopeKey) == DrainScope))
          jobId = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == jobId) done.countDown()
    }
    sc.addSparkListener(marker)
    withScope(sc, DrainScope)(sc.parallelize(Seq(1), 1).count())
    done.await(30, java.util.concurrent.TimeUnit.SECONDS)
    sc.removeSparkListener(marker)
  }
  val DrainScope = "drain"
}
