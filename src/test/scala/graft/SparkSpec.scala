package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs: the production [[Sessions]]
  * configuration, one JVM-wide session, with a fixed small core count and
  * shuffle fan-out for test speed. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def resource(name: String): String =
    getClass.getResource(s"/$name").getPath

  private val SpecScope = "graft.spec.scope"

  /** Every listener event posted so far is delivered: the end event of a
    * marker job queues behind them. */
  def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val done = new CountDownLatch(1)
    val marker = new SparkListener {
      @volatile private var jobId = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SpecScope) == "drain")) jobId = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == jobId) done.countDown()
    }
    sc.addSparkListener(marker)
    try {
      sc.setLocalProperty(SpecScope, "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(SpecScope, null)
      assert(done.await(30, TimeUnit.SECONDS), "listener bus did not drain")
    } finally sc.removeSparkListener(marker)
  }

  /** Spark jobs `body` submits from this thread. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SpecScope) == "counted")) jobs.add(e.jobId)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(SpecScope, "counted")
      try body finally sc.setLocalProperty(SpecScope, null)
      drainListenerBus()
    } finally sc.removeSparkListener(listener)
    jobs.size
  }
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.build("graft-test", cpus = 4)
}
