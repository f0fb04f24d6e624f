package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.llm.StandingState
import graft.streaming.CorpusIntakeJob

/** The state-fed text intake, closed loop with one client, run after the
  * timed pass of a traced `query` run for the `llm` state layer.
  *
  * It builds a standing state over `Standing` seeded documents
  * (`StandingState.write`). Then the client adds one `BatchDocs`-document
  * micro-batch to a `MemoryStream`, waits for its commit and adds the
  * next. A batch is a seeded mix of novel documents, exact and near
  * copies (one token changed) of standing documents, and in-batch copies
  * of its own novel documents. Every `RetentionEvery` batches a
  * `Retention` predicate expires the next-oldest 1% of the standing ids,
  * and one `StandingState.compact` runs alongside one batch. Batch 0
  * warms the JIT and codegen and is not timed; then `TimedBatches`
  * batches are timed, a fixed number, so the samples do not change with
  * the program's speed. A batch's latency runs from `addData` to the
  * progress event of its commit.
  *
  * The benchmark's own `foreachBatch` calls `StandingState.expire` and
  * `CorpusIntakeJob.ingestTextBatch` in the order
  * `CorpusIntakeJob.runTextStream` does, so each call becomes a span.
  */
object Intake {
  val Standing = 1000
  val BatchDocs = 60
  val TimedBatches = 3
  // retention is due before batches 0 and 2; the compaction runs
  // alongside batch 1 and ends before batch 2 is added; batch 3 is plain
  val RetentionEvery = 2L
  val CompactAtBatch = 1
  val Tau = 0.8
  // standing ids below this may expire; copies only target ids above it
  val ExpirableIds: Long = Standing / 5

  /** The expire horizon the next due retention pass applies. */
  val horizon = new AtomicLong(0L)

  final case class Doc(doc_id: Long, text: String)

  /** One batch and the ids the intake must admit from it. */
  final case class Batch(docs: Seq[Doc], admit: Set[Long])

  def batches(seed: Long, standing: IndexedSeq[Doc], n: Int): Iterator[Batch] = {
    val g = new Docs.Gen(seed * 7919 + 1)
    var next = standing.size.toLong + 1000L
    Iterator.continually {
      val docs = mutable.ArrayBuffer.empty[Doc]
      val novel = mutable.ArrayBuffer.empty[Doc]
      def add(t: String): Doc = { val d = Doc(next, t); next += 1; docs += d; d }
      while (docs.size < n) {
        val pick = g.nextInt(100)
        def target: Doc = standing(ExpirableIds.toInt + g.nextInt(standing.size - ExpirableIds.toInt))
        if (pick < 55 || novel.isEmpty) novel += add(g.text())
        else if (pick < 70) add(target.text)
        else if (pick < 85) add(g.nearCopy(target.text))
        else add(novel(g.nextInt(novel.size)).text) // later id: the copy drops
      }
      Batch(docs.toSeq, novel.map(_.doc_id).toSet)
    }
  }

  private final class Commits extends StreamingQueryListener {
    val done = new LinkedBlockingQueue[(Long, Long)]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) {
        progress.add(e.progress)
        done.put((e.progress.batchId, System.nanoTime()))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def writeStanding(spark: SparkSession, docs: Seq[Doc], corpus: String, state: String): Unit = {
    import spark.implicits._
    val df = docs.toDF().repartition(spark.sparkContext.defaultParallelism)
    df.write.mode("overwrite").parquet(corpus)
    StandingState.write(spark.read.parquet(corpus), state)
  }

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val g = new Docs.Gen(ctx.seed)
    val standing = (0 until Standing).map(i => Doc(i.toLong, g.text()))

    val corpus = s"${ctx.work}/intake-corpus"
    val state = s"${ctx.work}/intake-state"
    ctx.span("llm.state_write") {
      ctx.scoped("intake:state_write")(writeStanding(spark, standing, corpus, state))
    }

    // retention: the predicate reads the horizon the client sets before
    // each due batch, so pass k expires the ids below (k + 1)% of standing
    val belowHorizon = udf((id: Long) => id < horizon.get).asNondeterministic()
    val retention = CorpusIntakeJob.Retention(belowHorizon(col("doc_id")), RetentionEvery)
    val step = math.max(1L, Standing / 100L)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Doc]
    val commits = new Commits
    spark.streams.addListener(commits)
    val timing = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def timed[T](name: String)(body: => T): T = ctx.span(name) {
      val t0 = System.nanoTime()
      try body finally timing.synchronized { timing(name) += (System.nanoTime() - t0) / 1e9 }
    }
    // runTextStream's body, call by call
    timed("llm.repair") { StandingState.repairTextArtifacts(spark, state, corpus) }
    val q = input.toDF().writeStream
      .option("checkpointLocation", s"${ctx.work}/ck-intake")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        ctx.span("batch") {
          if (id % RetentionEvery == 0L)
            timed("llm.expire") {
              StandingState.expire(b.sparkSession, state, corpus, retention.expired)
            }
          timed("llm.ingest_text_batch") {
            CorpusIntakeJob.ingestTextBatch(b.toDF(), state, corpus, Tau)
          }
        }
        ()
      }
      .start()

    val latencies = mutable.ArrayBuffer.empty[Double]
    val admitted = mutable.Set.empty[Long]
    var submitted, timedDocs = 0L
    var compactor: Option[Thread] = None
    var compactErr: Option[Throwable] = None
    val it = batches(ctx.seed, standing, BatchDocs)
    var k = 0
    try {
      // batch 0 warms the JIT and codegen and is not timed
      while (k <= TimedBatches) {
        val b = it.next()
        if (k % RetentionEvery == 0) horizon.set(math.min(ExpirableIds, (k / RetentionEvery + 1) * step))
        val added = System.nanoTime()
        if (k == CompactAtBatch) {
          val th = new Thread(() => {
            try timed("llm.compact") { StandingState.compact(spark, state, Some(corpus)) }
            catch { case e: Throwable => compactErr = Some(e) }
          })
          th.start()
          compactor = Some(th)
        }
        input.addData(b.docs)
        val (id, at) = commits.done.poll(120, TimeUnit.SECONDS) match {
          case null => q.exception.foreach(e => throw e); sys.error(s"batch $k not committed in 120s")
          case x => x
        }
        require(id == k, s"committed batch $id, expected $k")
        if (k > 0) {
          latencies += (at - added) / 1e9
          timedDocs += b.docs.size
        }
        admitted ++= b.admit
        submitted += b.docs.size
        if (k == CompactAtBatch) compactor.foreach(_.join())
        k += 1
      }
    } finally {
      q.stop()
      spark.streams.removeListener(commits)
    }
    compactErr.foreach(e => ctx.failures += s"live compaction failed: $e")
    if (compactErr.nonEmpty) ctx.check("intake live compaction", 1, 1)
    ctx.out("intake_batch_s") = latencies.toSeq
    ctx.out("intake_docs") = submitted
    ctx.out("intake_docs_per_s") = timedDocs / latencies.sum

    ctx.span("check") {
      val expiredBelow = horizon.get
      val corpusIds = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
      val batchIds = corpusIds.filter(_ >= Standing)
      val wrong = (batchIds -- admitted).size + (admitted -- batchIds).size
      ctx.check("intake admitted ids", submitted, wrong)
      val wantStanding = (expiredBelow until Standing.toLong).toSet
      val standingLeft = corpusIds.filter(_ < Standing)
      ctx.check("intake expired ids", Standing, (standingLeft -- wantStanding).size +
        (wantStanding -- standingLeft).size)
      val st = StandingState.load(spark, state)
      val digestIds = st.digests.select("doc_id").distinct().count()
      val bandIds = st.bands.select("doc_id").distinct().count()
      ctx.check("intake corpus and state counts agree", 2,
        Seq(digestIds, bandIds).count(_ != corpusIds.size.toLong))
      ctx.out("intake_corpus_rows") = corpusIds.size
      ctx.out("intake_state_doc_ids") = Seq(digestIds, bandIds)
    }

    val prog = commits.progress.asScala.toSeq
    def phase(k: String): Double =
      prog.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    ctx.layer("streaming.latest_offset_s", phase("latestOffset"))
    ctx.layer("streaming.query_planning_s", phase("queryPlanning"))
    ctx.layer("streaming.wal_commit_s", phase("walCommit"))
    ctx.layer("streaming.commit_offsets_s", phase("commitOffsets"))
    ctx.layer("streaming.triggers", prog.size.toLong)
    ctx.layer("streaming.data_batch_frac", if (prog.isEmpty) 0.0 else 1.0)
    ctx.layer("llm.ingest_text_batch_s", timing("llm.ingest_text_batch"))
    ctx.layer("llm.expire_s", timing("llm.expire"))
    ctx.layer("llm.compact_s", timing("llm.compact"))
    ctx.layer("llm.repair_s", timing("llm.repair"))
    ctx.layer("llm.admit_frac", admitted.size.toDouble / math.max(1L, submitted))
    val files = listFiles(new java.io.File(state))
    ctx.layer("llm.state_files", files.count(_.getName.endsWith(".parquet")).toLong)
    ctx.layer("llm.state_mb", files.map(_.length).sum / 1e6)
  }

  private def listFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(listFiles) else Seq(f)
}
