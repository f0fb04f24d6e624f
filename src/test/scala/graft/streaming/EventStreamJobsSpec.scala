package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

final case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)
final case class Sched(fetched_at: Timestamp, next_shuffle_block_num: Long, payload: String)
final case class StreamDoc(ts: Timestamp, doc_id: Long, text: String)
final case class StreamVec(ts: Timestamp, vec_id: Long, embedding: Seq[Float])

/** Streaming semantics of the watermarked window/dedup jobs, driven through
  * MemoryStream micro-batches including late data beyond the watermark. */
class EventStreamJobsSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("watermarked tumbling window aggregates per day/type and drops too-late data") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    // Update mode: watermark filters too-late input and evicts state (in
    // Complete mode Spark retains everything and late data still counts)
    val q = EventStreamJobs.windowedEventCounts(in.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(
        Ev(ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(ts("2024-01-01 11:00:00"), 2, "click", 1.0),
        Ev(ts("2024-01-02 09:00:00"), 1, "error", 1.0))
      q.processAllAvailable()
      // advance watermark far past Jan 1, then send a too-late Jan 1 event
      in.addData(Ev(ts("2024-01-05 00:00:00"), 3, "click", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 10:30:00"), 9, "click", 1.0)) // late beyond watermark
      q.processAllAvailable()
      // memory sink in update mode appends row versions: take the latest
      // (max) count per key — counts are monotone
      val rows = spark.table("win_counts")
        .groupBy("day", "event_type")
        .agg(org.apache.spark.sql.functions.max("n_events").as("n"))
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      assert(rows === Set(
        ("2024-01-01 00:00:00.0", "click", 2L), // late event NOT counted
        ("2024-01-02 00:00:00.0", "error", 1L),
        ("2024-01-05 00:00:00.0", "click", 1L)))
    } finally q.stop()
  }

  test("stateful jobs run on the RocksDB state store with identical results") {
    implicit val sqlCtx = spark.sqlContext
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    EventStreamJobs.withRocksDbState(spark)
    val ck = java.nio.file.Files.createTempDirectory("rocks-ck").toString
    try {
      val in = MemoryStream[Ev]
      val q = EventStreamJobs.windowedEventCounts(in.toDF(), watermark = "1 hour")
        .writeStream.format("memory").queryName("win_rocks")
        .option("checkpointLocation", ck)
        .outputMode(OutputMode.Update()).start()
      try {
        in.addData(
          Ev(ts("2024-01-01 10:00:00"), 1, "click", 1.0),
          Ev(ts("2024-01-01 11:00:00"), 2, "click", 1.0),
          Ev(ts("2024-01-02 09:00:00"), 1, "error", 1.0))
        q.processAllAvailable()
        in.addData(Ev(ts("2024-01-05 00:00:00"), 3, "click", 1.0))
        q.processAllAvailable()
        val rows = spark.table("win_rocks")
          .groupBy("day", "event_type")
          .agg(org.apache.spark.sql.functions.max("n_events").as("n"))
          .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
        assert(rows === Set(
          ("2024-01-01 00:00:00.0", "click", 2L),
          ("2024-01-02 00:00:00.0", "error", 1L),
          ("2024-01-05 00:00:00.0", "click", 1L)))
      } finally q.stop()
      // non-vacuous: the checkpoint must hold RocksDB artifacts (changelog /
      // zip snapshots), not the HDFS provider's .delta files
      val stateFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(ck, "state"))
        .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
      val names = scala.jdk.CollectionConverters.IteratorHasAsScala(stateFiles)
        .asScala.map(_.getFileName.toString).toVector
      assert(names.exists(n => n.endsWith(".changelog") || n.endsWith(".zip")),
        s"no RocksDB state artifacts under $ck: $names")
      assert(!names.exists(_.endsWith(".delta")), "HDFS provider files present")
    } finally {
      prior match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      spark.conf.unset("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      spark.conf.unset("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage")
    }
  }

  test("streaming schedule dedup publishes once per next_shuffle_block_num") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sched]
    val q = EventStreamJobs.dedupSchedules(in.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("sched_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        Sched(ts("2024-01-01 00:00:00"), 63L, "a"),
        Sched(ts("2024-01-01 00:00:30"), 63L, "b"),
        Sched(ts("2024-01-01 00:01:00"), 84L, "c"))
      q.processAllAvailable()
      in.addData(Sched(ts("2024-01-01 00:02:00"), 84L, "d")) // duplicate round
      q.processAllAvailable()
      val out = spark.table("sched_dedup")
        .collect().map(r => (r.getLong(1), r.getString(2))).toSet
      assert(out === Set((63L, "a"), (84L, "c")))
    } finally q.stop()
  }

  test("custom-state sessions (flatMapGroupsWithState) close on gap and on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreamJobs.customSessions(
        in.toDF(), gapMs = 30L * 60 * 1000, watermark = "10 minutes")
      .writeStream.format("memory").queryName("custom_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        Ev(ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(ts("2024-01-01 10:20:00"), 1, "click", 1.0), // same session
        Ev(ts("2024-01-01 11:30:00"), 1, "click", 1.0), // in-batch gap: closes #1
        Ev(ts("2024-01-01 10:05:00"), 2, "click", 1.0))
      q.processAllAvailable()
      // watermark far ahead: event-time timeouts close the open sessions
      in.addData(Ev(ts("2024-01-02 00:00:00"), 99, "click", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-03 00:00:00"), 99, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("custom_sessions")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
        .toSet
      // user 1: session 10:00-10:20 (2 events) closed by in-batch gap;
      // session 11:30 (1 event) closed by timeout. user 2: 10:05 by timeout.
      assert(rows.contains((1L, "2024-01-01 10:00:00.0", "2024-01-01 10:20:00.0", 2L)))
      assert(rows.contains((1L, "2024-01-01 11:30:00.0", "2024-01-01 11:30:00.0", 1L)))
      assert(rows.contains((2L, "2024-01-01 10:05:00.0", "2024-01-01 10:05:00.0", 1L)))
      // matches the built-in session_window's grouping for the same data
      assert(rows.count(_._1 == 1L) === 2)
    } finally q.stop()
  }

  test("streaming exact dedup: cross-batch suppression, bounded state horizon") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamDoc]
    val q = EventStreamJobs.streamingExactDedup(
        in.toDF(), tsCol = "ts", watermark = "30 minutes")
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(StreamDoc(ts("2024-01-01 10:00:00"), 1, "alpha"))
      q.processAllAvailable()
      // cross-micro-batch duplicate within the horizon -> suppressed;
      // fresh doc admitted
      in.addData(
        StreamDoc(ts("2024-01-01 10:05:00"), 2, "alpha"),
        StreamDoc(ts("2024-01-01 10:10:00"), 3, "beta"))
      q.processAllAvailable()
      // far-future doc advances the watermark past alpha's expiry...
      in.addData(StreamDoc(ts("2024-01-01 20:00:00"), 4, "gamma"))
      q.processAllAvailable()
      // ...so a re-arrival AFTER the horizon is admitted again (state was
      // evicted — this is what keeps dedup state bounded forever)
      in.addData(StreamDoc(ts("2024-01-01 20:30:00"), 5, "alpha"))
      q.processAllAvailable()
      val ids = spark.table("stream_dedup").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 3L, 4L, 5L))
    } finally q.stop()
  }

  test("streaming trending terms: closed windows rank top-k, late data honored") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamDoc]
    val q = EventStreamJobs.windowedTermCounts(
        in.toDF(), tsCol = "ts", windowLen = "1 hour", watermark = "30 minutes")
      .writeStream.format("memory").queryName("trending")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        StreamDoc(ts("2024-01-01 10:05:00"), 1, "spark spark shuffle"),
        StreamDoc(ts("2024-01-01 10:40:00"), 2, "spark window state"))
      q.processAllAvailable()
      // a LATE doc still inside the watermark lands in the 10:00 window
      in.addData(StreamDoc(ts("2024-01-01 10:50:00"), 3, "shuffle shuffle shuffle"))
      q.processAllAvailable()
      // advance the watermark far: the 10:00 window closes and is emitted
      in.addData(StreamDoc(ts("2024-01-02 00:00:00"), 9, "later"))
      q.processAllAvailable()
      in.addData(StreamDoc(ts("2024-01-03 00:00:00"), 9, "later"))
      q.processAllAvailable()
      val top = EventStreamJobs.topTermsPerWindow(spark.table("trending"), 2)
        .filter($"window_start" === ts("2024-01-01 10:00:00"))
        .select("term", "n", "rnk")
        .as[(String, Long, Int)].collect().toSet
      // 10:00 window term counts: shuffle=4, spark=3, window=1, state=1
      assert(top === Set(("shuffle", 4L, 1), ("spark", 3L, 2)))
    } finally q.stop()
  }

  test("streaming near-exact dedup suppresses signature-identical docs") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamDoc]
    val q = EventStreamJobs.streamingNearExactDedup(
        in.toDF(), tsCol = "ts", watermark = "30 minutes")
      .writeStream.format("memory").queryName("stream_neardedup")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        StreamDoc(ts("2024-01-01 10:00:00"), 1, "x y z x y z"),
        StreamDoc(ts("2024-01-01 10:00:00"), 2, "a b")) // too short to sign
      q.processAllAvailable()
      // doc 3 has a DIFFERENT text but the IDENTICAL 3-shingle set (cyclic
      // repetition) -> same signature -> suppressed; doc 4 is a new text;
      // doc 5 is a short exact dup -> suppressed by the raw-text fallback
      in.addData(
        StreamDoc(ts("2024-01-01 10:05:00"), 3, "x y z x y z x y z"),
        StreamDoc(ts("2024-01-01 10:06:00"), 4, "totally different words here"),
        StreamDoc(ts("2024-01-01 10:07:00"), 5, "a b"))
      q.processAllAvailable()
      val ids = spark.table("stream_neardedup").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("streaming band collisions surface partial-signature near-dups") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamDoc]
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val near = "the quick brown fox jumps over the lazy dog again and often"
    val q = EventStreamJobs.streamingBandCollisions(
        in.toDF(), tsCol = "ts", watermark = "30 minutes",
        horizonMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("band_collisions")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(StreamDoc(ts("2024-01-01 10:00:00"), 1, base))
      q.processAllAvailable()
      in.addData(
        StreamDoc(ts("2024-01-01 10:05:00"), 2, base),  // exact dup: every band
        StreamDoc(ts("2024-01-01 10:06:00"), 3, near),  // near-dup: some bands
        StreamDoc(ts("2024-01-01 10:07:00"), 4, "completely unrelated content with other words entirely"))
      q.processAllAvailable()
      val got = spark.table("band_collisions")
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(got.contains((1L, 2L)), "exact dup must collide")
      assert(got.contains((1L, 3L)),
        "near-dup sharing most shingles must collide on some band")
      assert(!got.exists { case (a, b) => a == 4L || b == 4L },
        "unrelated doc must not collide")
      // full-signature count for the exact dup: all nBands collide
      val n12 = spark.table("band_collisions")
        .filter($"doc_a" === 1L && $"doc_b" === 2L).count()
      assert(n12 === 8L, s"exact dup should collide on all 8 bands, got $n12")
      // expiry: advance the watermark past the horizon; the band anchors
      // for doc 1 expire, so a twin arriving later re-anchors instead of
      // pairing with the long-gone doc 1
      in.addData(StreamDoc(ts("2024-01-02 00:00:00"), 9, "watermark advancer text payload"))
      q.processAllAvailable()
      in.addData(StreamDoc(ts("2024-01-02 00:01:00"), 5, base))
      q.processAllAvailable()
      in.addData(StreamDoc(ts("2024-01-02 00:02:00"), 6, base))
      q.processAllAvailable()
      val late = spark.table("band_collisions")
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(!late.contains((1L, 5L)), "expired anchor must not pair")
      assert(late.contains((5L, 6L)), "re-anchored key must pair new twins")
    } finally q.stop()
  }

  test("streaming band collisions run on RocksDB with identical results") {
    implicit val sqlCtx = spark.sqlContext
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    EventStreamJobs.withRocksDbState(spark)
    val ck = java.nio.file.Files.createTempDirectory("rocks-band-ck").toString
    try {
      val in = MemoryStream[StreamDoc]
      val base = "the quick brown fox jumps over the lazy dog again and again"
      val q = EventStreamJobs.streamingBandCollisions(
          in.toDF(), tsCol = "ts", watermark = "30 minutes",
          horizonMs = 30L * 60 * 1000)
        .writeStream.format("memory").queryName("band_rocks")
        .option("checkpointLocation", ck)
        .outputMode(OutputMode.Append()).start()
      try {
        in.addData(StreamDoc(ts("2024-01-01 10:00:00"), 1, base))
        q.processAllAvailable()
        in.addData(StreamDoc(ts("2024-01-01 10:05:00"), 2, base))
        q.processAllAvailable()
        val got = spark.table("band_rocks")
          .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
        assert(got === Set((1L, 2L)))
        assert(spark.table("band_rocks").count() === 8L)
      } finally q.stop()
      val stateFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(ck, "state"))
        .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
      val names = scala.jdk.CollectionConverters.IteratorHasAsScala(stateFiles)
        .asScala.map(_.getFileName.toString).toVector
      assert(names.exists(n => n.endsWith(".changelog") || n.endsWith(".zip")),
        s"no RocksDB state artifacts under $ck: $names")
      assert(!names.exists(_.endsWith(".delta")), "HDFS provider files present")
    } finally {
      prior match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      spark.conf.unset("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      spark.conf.unset("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage")
    }
  }

  test("streaming embedding dedup suppresses vectors sharing a PQ cell") {
    implicit val sqlCtx = spark.sqlContext
    // codebooks trained OFFLINE on the real embeddings (the production
    // split: batch training, streaming application)
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cbs = graft.llm.Pq.trainCodebooks(emb, m = 8, k = 16)
    // pick two corpus vectors with DIFFERENT signatures, plus a tiny
    // perturbation of the first that provably shares its cell
    val rows = emb.filter(org.apache.spark.sql.functions.col("vec_id").isin(0L, 1L))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val v0 = rows(0L)
    val v0tweak = v0.updated(0, v0.head + 1e-4f)
    val sigs = emb.filter(org.apache.spark.sql.functions.col("vec_id").isin(0L, 1L))
      .select(org.apache.spark.sql.functions.col("vec_id"),
        graft.llm.Pq.codeSignature(cbs).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assume(sigs(0L) != sigs(1L), "corpus vectors 0/1 quantized identically — pick others")
    val in = MemoryStream[StreamVec]
    val q = EventStreamJobs.streamingEmbeddingDedup(
        in.toDF(), "ts", watermark = "30 minutes", codebooks = cbs)
      .writeStream.format("memory").queryName("stream_embdedup")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        StreamVec(ts("2024-01-01 10:00:00"), 100, v0),
        StreamVec(ts("2024-01-01 10:00:01"), 101, rows(1L)))
      q.processAllAvailable()
      in.addData(
        StreamVec(ts("2024-01-01 10:05:00"), 102, v0),      // exact re-arrival
        StreamVec(ts("2024-01-01 10:06:00"), 103, v0tweak)) // same PQ cell
      q.processAllAvailable()
      val ids = spark.table("stream_embdedup").select("vec_id")
        .collect().map(_.getLong(0)).toSet
      // 103 admitted only if the perturbation crossed a cell wall — check
      val tweakSig = Seq((104L, v0tweak)).toDF("vec_id", "embedding")
        .select(graft.llm.Pq.codeSignature(cbs)).collect()(0).getString(0)
      if (tweakSig == sigs(0L)) assert(ids === Set(100L, 101L))
      else assert(ids === Set(100L, 101L, 103L))
    } finally q.stop()
  }

  test("custom-state sessions merge adjacent late events like session_window") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreamJobs.customSessions(
        in.toDF(), gapMs = 30L * 60 * 1000, watermark = "6 hours")
      .writeStream.format("memory").queryName("custom_sessions_late")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Ev(ts("2024-01-01 12:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // three LATE events: 11:00 and 11:10 are disjoint from the open
      // session (12:00 - 30min gap = 11:30) but within gap of EACH OTHER;
      // 11:35 overlaps and extends the open session's start back to 11:35,
      // which brings it within gap of the 11:00-11:10 chain — the whole
      // batch must collapse into ONE session 11:00-12:00 (x4), exactly
      // what the built-in session_window computes for these timestamps.
      in.addData(
        Ev(ts("2024-01-01 11:00:00"), 1, "click", 1.0),
        Ev(ts("2024-01-01 11:10:00"), 1, "click", 1.0),
        Ev(ts("2024-01-01 11:35:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // advance the watermark so the timeout closes the merged session
      in.addData(Ev(ts("2024-01-02 00:00:00"), 99, "click", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-03 00:00:00"), 99, "click", 1.0))
      q.processAllAvailable()
      val user1 = spark.table("custom_sessions_late")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
        .filter(_._1 == 1L).toSet
      assert(user1 === Set((1L, "2024-01-01 11:00:00.0", "2024-01-01 12:00:00.0", 4L)))
    } finally q.stop()
  }

  test("streaming session windows merge within gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreamJobs.sessionizedCounts(in.toDF(), gap = "30 minutes", watermark = "1 hour")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(
        Ev(ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(ts("2024-01-01 10:20:00"), 1, "click", 1.0), // same session
        Ev(ts("2024-01-01 11:30:00"), 1, "click", 1.0), // new session
        Ev(ts("2024-01-01 10:05:00"), 2, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).toSet
      assert(rows === Set(
        (1L, "2024-01-01 10:00:00.0", 2L),
        (1L, "2024-01-01 11:30:00.0", 1L),
        (2L, "2024-01-01 10:05:00.0", 1L)))
    } finally q.stop()
  }
}
