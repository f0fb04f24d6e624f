package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

final case class IntakeVec(vec_id: Long, embedding: Array[Float], label: String)

/** The composed streaming intake: quality gate -> PII scrub -> watermarked
  * dedup, driven through MemoryStream micro-batches. Pins the composition
  * properties (gate drops junk, scrub rewrites text BEFORE fingerprinting,
  * cross-batch duplicates suppressed) rather than the per-op semantics the
  * individual specs already cover. */
class CorpusIntakeJobSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // 25 words, 3 distinct stopwords, top term 'the' x2 (frac 0.08)
  private val goodText =
    "the quick brown fox jumps over a lazy dog while many other animals " +
      "watch from distant hills and rivers flowing gently toward the open sea"
  private val otherText =
    "a careful reader finds the hidden meaning inside every long paragraph " +
      "because patient study of context and structure rewards attention with " +
      "clear understanding today"
  // base for the PII pair — fully distinct from goodText so only the email
  // difference decides whether docs 3 and 4 collapse
  private val piiBase =
    "please send the final report and a signed copy of those documents " +
      "before friday evening so our remote team can review budget numbers " +
      "during monday planning contact"

  test("intake: gate drops junk, scrub precedes dedup, cross-batch dups suppressed") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamDoc]
    val out = CorpusIntakeJob.intake(in.toDF(), "ts", watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("intake")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        StreamDoc(ts("2024-01-01 10:00:00"), 1, goodText),
        StreamDoc(ts("2024-01-01 10:00:01"), 2, "too short"), // gate drops
        StreamDoc(ts("2024-01-01 10:00:02"), 3,
          piiBase + " bob@example.com for details"), // PII doc: scrubbed, survives
        // differs from doc 3 ONLY in the email: after scrub the texts are
        // identical, so dedup MUST collapse it (scrub-before-dedup)
        StreamDoc(ts("2024-01-01 10:00:03"), 4,
          piiBase + " eve@other.org for details"))
      q.processAllAvailable()
      in.addData(
        StreamDoc(ts("2024-01-01 10:30:00"), 5, goodText), // cross-batch exact dup
        StreamDoc(ts("2024-01-01 10:30:01"), 6, otherText)) // genuinely new: survives
      q.processAllAvailable()
      val rows = spark.table("intake")
        .select("doc_id", "text").as[(Long, String)].collect().toMap
      assert(rows.keySet === Set(1L, 3L, 6L))
      assert(rows(3L).contains("<EMAIL>") && !rows(3L).contains("bob@"))
      assert(rows(1L) === goodText)
    } finally q.stop()
  }

  private def runNearDupIntake(
      verifyTau: Option[Double],
      checkpoint: Option[String] = None)(
      feed: (MemoryStream[StreamDoc], org.apache.spark.sql.streaming.StreamingQuery) => Unit)
    : Set[Long] = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamDoc]
    val admitted = scala.collection.mutable.Set.empty[Long]
    val verdicts = CorpusIntakeJob.intakeNearDup(in.toDF(), "ts",
      watermark = "1 hour", horizonMs = 60L * 60 * 1000, verifyTau = verifyTau)
    val writer = verdicts.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        admitted.synchronized {
          admitted ++= CorpusIntakeJob.admittedDocs(b)
            .select("doc_id").as[Long].collect()
        }
        ()
      }
    val q = checkpoint.fold(writer)(ck => writer.option("checkpointLocation", ck)).start()
    try feed(in, q) finally q.stop()
    admitted.toSet
  }

  test("intakeNearDup: partial-signature near-dups drop end-to-end; scrub precedes banding") {
    val admitted = runNearDupIntake(verifyTau = None) { (in, q) =>
      in.addData(
        StreamDoc(ts("2024-01-01 10:00:00"), 1, goodText),
        StreamDoc(ts("2024-01-01 10:00:01"), 2, "too short")) // gate drops
      q.processAllAvailable()
      in.addData(
        // near-dup of doc 1 (one appended word, J ~ 0.96): full-signature
        // equality would ADMIT this — the banded path must drop it
        StreamDoc(ts("2024-01-01 10:05:00"), 3, goodText + " appended"),
        StreamDoc(ts("2024-01-01 10:05:01"), 4,
          piiBase + " bob@example.com for details"),
        // differs from doc 4 ONLY in the email: post-scrub texts identical,
        // so every band collides (scrub-before-fingerprint, within-batch)
        StreamDoc(ts("2024-01-01 10:05:02"), 5,
          piiBase + " eve@other.org for details"),
        StreamDoc(ts("2024-01-01 10:05:03"), 6, otherText)) // novel: admitted
      q.processAllAvailable()
    }
    assert(admitted === Set(1L, 4L, 6L))
  }

  test("intakeNearDup verifyTau: sub-tau collisions are admitted, true dups still drop") {
    val admitted = runNearDupIntake(verifyTau = Some(0.99)) { (in, q) =>
      in.addData(StreamDoc(ts("2024-01-01 10:00:00"), 1, goodText))
      q.processAllAvailable()
      in.addData(
        // bands collide (J ~ 0.96) but the exact verification rejects the
        // drop at tau = 0.99 -> admitted
        StreamDoc(ts("2024-01-01 10:05:00"), 2, goodText + " appended"),
        // byte-identical twin: J = 1.0 -> dropped
        StreamDoc(ts("2024-01-01 10:05:01"), 3, goodText))
      q.processAllAvailable()
    }
    assert(admitted === Set(1L, 2L))
  }

  test("intakeNearDup runs on RocksDB with identical admissions and state artifacts") {
    import scala.jdk.CollectionConverters._
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    EventStreamJobs.withRocksDbState(spark)
    val ck = java.nio.file.Files.createTempDirectory("rocks-intake-ck").toString
    try {
      val admitted = runNearDupIntake(verifyTau = None, checkpoint = Some(ck)) { (in, q) =>
        in.addData(StreamDoc(ts("2024-01-01 10:00:00"), 1, goodText))
        q.processAllAvailable()
        in.addData(
          StreamDoc(ts("2024-01-01 10:05:00"), 3, goodText + " appended"),
          StreamDoc(ts("2024-01-01 10:05:01"), 6, otherText))
        q.processAllAvailable()
      }
      assert(admitted === Set(1L, 6L))
      // non-vacuous: the checkpoint must hold RocksDB artifacts (changelog /
      // snapshot zips), and none of the HDFS provider's .delta files
      val names = java.nio.file.Files.walk(java.nio.file.Paths.get(ck, "state"))
        .iterator().asScala.map(_.getFileName.toString).toVector
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

  test("runStream e2e: planted near-dup stream -> KV sink holds only admitted docs") {
    implicit val sqlCtx = spark.sqlContext
    val backend = new graft.sink.InMemoryKvBackend
    graft.sink.KvBackends.register("intake-e2e", backend)
    val in = MemoryStream[StreamDoc]
    val ck = java.nio.file.Files.createTempDirectory("intake-e2e-ck").toString
    val q = CorpusIntakeJob.runStream(
      in.toDF(), "intake-e2e", ck,
      keyPrefix = "corpus:doc", watermark = "1 hour",
      horizonMs = 60L * 60 * 1000, ttlSeconds = 3600L,
      notifyChannel = Some("corpus:admitted"))
    try {
      in.addData(
        StreamDoc(ts("2024-01-01 10:00:00"), 1, goodText),
        StreamDoc(ts("2024-01-01 10:00:01"), 2, "too short")) // gate drops
      q.processAllAvailable()
      in.addData(
        // cross-batch near-dup of doc 1 -> banded state drops it
        StreamDoc(ts("2024-01-01 10:05:00"), 3, goodText + " appended"),
        StreamDoc(ts("2024-01-01 10:05:01"), 4,
          piiBase + " bob@example.com for details"), // scrubbed, admitted
        StreamDoc(ts("2024-01-01 10:05:02"), 6, otherText)) // novel, admitted
      q.processAllAvailable()
    } finally q.stop()

    // the sink holds EXACTLY the admitted docs, keyed <prefix>:<doc_id>
    assert(backend.keys("corpus:doc:*").sorted ===
      Seq("corpus:doc:1", "corpus:doc:4", "corpus:doc:6"))
    // values are the JSON record; doc 4's text is the SCRUBBED form
    assert(backend.get("corpus:doc:1").get.contains("\"doc_id\":1"))
    val d4 = backend.get("corpus:doc:4").get
    assert(d4.contains("<EMAIL>") && !d4.contains("bob@"))
    // TTL policy applied per key; admissions notified in doc_id order
    assert(backend.ttlOf("corpus:doc:6") === Some(3600L))
    assert(backend.publishLog.filter(_._1 == "corpus:admitted").map(_._2) ===
      Seq("1", "4", "6"))
  }

  test("runEmbeddingStream: persisted-state dedup closes the cycle in-stream; replay self-heals") {
    import org.apache.spark.sql.functions.lit
    implicit val sqlCtx = spark.sqlContext
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 31 + i) * 0.5).toFloat)
    // day-0 standing vectors + their persisted bucket table
    val standingDir = java.nio.file.Files.createTempDirectory("emb_intake_vecs_").toString
    Seq((1L, vec(1)), (2L, vec(2))).toDF("vec_id", "embedding")
      .withColumn("label", lit("s"))
      .write.mode("overwrite").parquet(standingDir)
    val statePath = java.nio.file.Files.createTempDirectory("emb_intake_state_").toString
    graft.llm.StandingState.writeEmbBuckets(spark.read.parquet(standingDir), statePath)

    val ck = java.nio.file.Files.createTempDirectory("emb_intake_ck_").toString
    val in = MemoryStream[IntakeVec]
    val q = CorpusIntakeJob.runEmbeddingStream(
      in.toDF(), statePath, standingDir, ck, tau = 0.999)
    def tableIds: Set[Long] = spark.read.parquet(standingDir)
      .select("vec_id").as[Long].collect().toSet
    try {
      in.addData(
        IntakeVec(10L, vec(1), "b"), // replica of standing 1 -> dropped
        IntakeVec(11L, vec(11), "b")) // novel -> admitted + appended
      q.processAllAvailable()
      assert(tableIds === Set(1L, 2L, 11L))
      in.addData(
        IntakeVec(20L, vec(11), "b"), // replica of batch-1 ADMITTED 11 -> dropped
        IntakeVec(21L, vec(21), "b")) // novel -> admitted
      q.processAllAvailable()
      assert(tableIds === Set(1L, 2L, 11L, 21L))
    } finally q.stop()
    // replayed micro-batch (recovery): its vectors already live in the
    // standing table, so every one collides with its own copy and the
    // replay admits nothing — no duplicate appends, no admission lost
    val replayed = Seq((21L, vec(21))).toDF("vec_id", "embedding")
    val n = CorpusIntakeJob.ingestEmbeddingBatch(
      replayed, statePath, standingDir, tau = 0.999)
    assert(n === 0L)
    assert(tableIds === Set(1L, 2L, 11L, 21L))
  }

  test("runTextStream: state-fed intake drops standing replicas mid-stream, admits+appends novel docs") {
    implicit val sqlCtx = spark.sqlContext
    val thirdText =
      "every morning the village bakers prepare a fresh batch of warm bread " +
        "while children gather near windows to watch golden loaves emerge " +
        "from ancient stone ovens"
    val fourthText =
      "astronomers across the northern observatory carefully measure distant " +
        "starlight and record subtle variations of brightness to understand " +
        "how massive galaxies slowly drift apart over countless quiet eons"
    val fifthText =
      "seasoned travelers often describe the winding mountain roads of this " +
        "remote region and insist that patient climbers discover a hidden " +
        "valley filled with wildflowers in early summer"
    // day-0 standing corpus (already prepared: text is the SCRUBBED form)
    // + its persisted digest/band state
    val corpusDir = java.nio.file.Files.createTempDirectory("text_intake_docs_").toString
    Seq(
      (1L, goodText),
      (2L, otherText),
      (3L, piiBase + " <EMAIL> for details"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files.createTempDirectory("text_intake_state_").toString
    graft.llm.StandingState.write(spark.read.parquet(corpusDir), statePath)
    // TORN APPEND survivor: doc 4's text landed before a crash, its
    // artifacts did not — runTextStream's startup repair must cover it
    // before any batch runs
    Seq((4L, fifthText)).toDF("doc_id", "text")
      .write.mode("append").parquet(corpusDir)

    val ck = java.nio.file.Files.createTempDirectory("text_intake_ck_").toString
    val in = MemoryStream[StreamDoc]
    val q = CorpusIntakeJob.runTextStream(
      in.toDF(), statePath, corpusDir, ck, tau = 0.5)
    def tableIds: Set[Long] = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().toSet
    try {
      in.addData(
        StreamDoc(ts("2024-01-01 10:00:00"), 10, thirdText), // novel -> admitted
        StreamDoc(ts("2024-01-01 10:00:01"), 11, "too short")) // gate drops
      q.processAllAvailable()
      assert(tableIds === Set(1L, 2L, 3L, 4L, 10L))
      in.addData(
        // byte replica of STANDING doc 1 -> exact leg vs persisted digests
        StreamDoc(ts("2024-01-01 10:05:00"), 20, goodText),
        // near-dup of STANDING doc 2 -> LSH leg vs persisted bands
        StreamDoc(ts("2024-01-01 10:05:01"), 21, otherText + " appended"),
        // byte replica of batch-1's ADMITTED doc 10 -> the appended state
        StreamDoc(ts("2024-01-01 10:05:02"), 22, thirdText),
        // differs from standing doc 3 only by the raw email: the scrub
        // runs BEFORE fingerprinting, so the digest matches -> dropped
        StreamDoc(ts("2024-01-01 10:05:03"), 23,
          piiBase + " bob@example.com for details"),
        // replica of the TORN doc 4 -> dropped (startup repair worked)
        StreamDoc(ts("2024-01-01 10:05:04"), 25, fifthText),
        StreamDoc(ts("2024-01-01 10:05:05"), 24, fourthText)) // novel -> admitted
      q.processAllAvailable()
      assert(tableIds === Set(1L, 2L, 3L, 4L, 10L, 24L))
    } finally q.stop()
    // replayed micro-batch (recovery): its admitted docs already sit in
    // the corpus with their digests, so the replay admits nothing — no
    // duplicate corpus rows, no admission lost
    val n = CorpusIntakeJob.ingestTextBatch(
      Seq((24L, fourthText)).toDF("doc_id", "text"),
      statePath, corpusDir, tau = 0.5)
    assert(n === 0L)
    assert(spark.read.parquet(corpusDir).count() === 6L)
    // the state grew by exactly the admitted docs' artifacts
    assert(spark.read.parquet(s"$statePath/digests").distinct().count() === 6L)
  }

  test("live weight rotation: overwritten table flips admissions on the next DUE batch, zero lost batches") {
    import org.apache.spark.sql.functions.lit
    implicit val sqlCtx = spark.sqlContext
    def words(i: Int): String =
      "the tale of and to in " + (1 to 18).map(j => s"rw${i}x$j").mkString(" ")
    val goodMark = (1 to 6).map(_ => " rqgoodmark").mkString
    val badMark = (1 to 6).map(_ => " rqbadmark").mkString
    val trainQ = (1 to 8).map { i =>
      val good = i % 2 == 1
      (100L + i, words(i) + (if (good) goodMark else badMark),
        if (good) 1 else 0)
    }.toDF("doc_id", "text", "label")
    val qw = graft.llm.QualityLr.trainQualityLr(trainQ, m = 64, steps = 2, lr = 0.5)
    val byY = graft.llm.QualityLr.scoreQualityLr(trainQ, qw, m = 64)
      .join(trainQ.select("doc_id", "label"), "doc_id")
      .groupBy("label")
      .agg(org.apache.spark.sql.functions.sum("score_micros").as("s"),
        org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Int]("label") ->
        ((r.getAs[Long]("s"), r.getAs[Long]("n")))).toMap
    val qThr = math.floor(
      (byY(1)._1.toDouble / byY(1)._2 + byY(0)._1.toDouble / byY(0)._2) / 2.0).toLong
    // the RE-TRAINED model: every weight negated — sigmoid(-z) mirrors
    // the scores around 500000, so under the same calibrated midpoint
    // the admitted polarity provably FLIPS (good drops, bad admits)
    val qwFlipped = qw.map(-_)
    val corpusDir = java.nio.file.Files
      .createTempDirectory("rot_corpus_").toString
    Seq((1L, words(90))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files
      .createTempDirectory("rot_state_").toString
    graft.llm.StandingState.write(spark.read.parquet(corpusDir), statePath)
    val qwPath = java.nio.file.Files
      .createTempDirectory("rot_qw_").toString + "/w"
    graft.llm.QualityLr.writeWeights(spark, qw, qwPath)
    val ck = java.nio.file.Files.createTempDirectory("rot_ck_").toString
    val in = MemoryStream[StreamDoc]
    // reloadEvery = 2: batches 0 and 1 run the launch-time weights even
    // though the table is overwritten before batch 1 — the rotation is a
    // CADENCE, not a per-batch table read — and batch 2 flips
    val q = CorpusIntakeJob.runTextStream(
      in.toDF(), statePath, corpusDir, ck, tau = 0.5,
      gates = CorpusIntakeJob.TrainedGates(
        qualitySource = Some((qwPath, qThr)), reloadEvery = 2L))
    def tableIds: Set[Long] = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().toSet
    try {
      // batch 0: initial load from the table — good admits, bad drops
      in.addData(
        StreamDoc(ts("2024-01-01 10:00:00"), 10, words(50) + goodMark),
        StreamDoc(ts("2024-01-01 10:00:01"), 11, words(51) + badMark))
      q.processAllAvailable()
      assert(tableIds === Set(1L, 10L))
      // the re-train lands mid-stream (swap-written table overwrite)
      graft.llm.QualityLr.writeWeights(spark, qwFlipped, qwPath)
      // batch 1 (NOT due at reloadEvery=2): still the old gate
      in.addData(
        StreamDoc(ts("2024-01-01 10:01:00"), 20, words(52) + goodMark),
        StreamDoc(ts("2024-01-01 10:01:01"), 21, words(53) + badMark))
      q.processAllAvailable()
      assert(tableIds === Set(1L, 10L, 20L),
        "batch before the due cadence must still run the old weights")
      // batch 2 (due): admissions flip to the re-trained model — and no
      // batch was lost or double-gated along the way
      in.addData(
        StreamDoc(ts("2024-01-01 10:02:00"), 30, words(54) + goodMark),
        StreamDoc(ts("2024-01-01 10:02:01"), 31, words(55) + badMark))
      q.processAllAvailable()
      assert(tableIds === Set(1L, 10L, 20L, 31L),
        "due batch must run the overwritten table's weights")
    } finally q.stop()
  }

  test("trained gates ride the text intake: batch==stream parity, raw-text scoring, gated-out docs never block") {
    import org.apache.spark.sql.functions.{col, expr, lit}
    // stopword-bearing base: the default rule gate (stage 1) runs in both
    // forms, and a stopword-free synthetic doc would fail its ok_stop rule
    def words(i: Int): String =
      "the tale of and to in " + (1 to 18).map(j => s"w${i}x$j").mkString(" ")
    // QUALITY training: the GOOD marker is an EMAIL token, so a correct
    // (pre-scrub) gate sees it while a wrongly post-scrub gate would see
    // only <EMAIL> and score everything at the bias — the raw-text order
    // is observable, not just asserted
    val goodMark = (1 to 6).map(_ => " goodsig@mark.example.com").mkString
    val badMark = (1 to 6).map(_ => " qbadmark").mkString
    val trainQ = (1 to 8).map { i =>
      val good = i % 2 == 1
      (100L + i, words(i) + (if (good) goodMark else badMark),
        if (good) 1 else 0)
    }.toDF("doc_id", "text", "label")
    val qw = graft.llm.QualityLr.trainQualityLr(trainQ, m = 64, steps = 2, lr = 0.5)
    // calibrated midpoint threshold (the q103 recipe)
    val byY = graft.llm.QualityLr.scoreQualityLr(trainQ, qw, m = 64)
      .join(trainQ.select("doc_id", "label"), "doc_id")
      .groupBy("label")
      .agg(org.apache.spark.sql.functions.sum("score_micros").as("s"),
        org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Int]("label") ->
        ((r.getAs[Long]("s"), r.getAs[Long]("n")))).toMap
    val qThr = math.floor(
      (byY(1)._1.toDouble / byY(1)._2 + byY(0)._1.toDouble / byY(0)._2) / 2.0).toLong
    // LANGUAGE training: planted lang markers, two classes
    val trainL = (1 to 8).map { i =>
      val en = i % 2 == 1
      (200L + i, words(40 + i) + (if (en) " zzenmark" else " zzdemark") * 6,
        if (en) "en" else "de")
    }.toDF("doc_id", "text", "lang")
    val models = graft.llm.QualityLr.trainOneVsRestLr(
      trainL, "lang", Seq("de", "en"), m = 64, steps = 2, lr = 0.5)
    val gates = CorpusIntakeJob.TrainedGates(
      qualityGate = Some((qw.toSeq, 64, qThr)),
      keepLangs = Some((
        models.map { case (c, w) => (c, w.toSeq) }, 64, Set("en"))))

    // standing corpus + state; incoming exercises every gate + both dedup legs
    val standingText = words(90) + " <EMAIL>" * 6 + " zzenmark" * 4
    def mkCorpus(): (String, String) = {
      val corpusDir = java.nio.file.Files.createTempDirectory("tg_docs_").toString
      Seq((1L, standingText)).toDF("doc_id", "text")
        .withColumn("source", lit("s"))
        .write.mode("overwrite").parquet(corpusDir)
      val statePath = java.nio.file.Files.createTempDirectory("tg_state_").toString
      graft.llm.StandingState.write(spark.read.parquet(corpusDir), statePath)
      (corpusDir, statePath)
    }
    val incoming = Seq(
      (30L, words(50) + goodMark + " zzenmark" * 4), // admitted
      (31L, words(51) + badMark + " zzenmark" * 4),  // 1b drops
      (32L, words(52) + goodMark + " zzdemark" * 4), // 1c drops
      // near-dup of 30 (one extra word) -> dedup drops AFTER the gates
      (33L, words(50) + goodMark + " zzenmark" * 4 + " extraword"),
      // scrubs to the standing doc's stored (pre-scrubbed) text -> the
      // exact leg drops it, which also pins scrub-before-fingerprint
      (34L, words(90) + goodMark + " zzenmark" * 4))
      .toDF("doc_id", "text").withColumn("source", lit("s"))

    // STREAM form (the batch leg)
    val (corpusDir, statePath) = mkCorpus()
    val n = CorpusIntakeJob.ingestTextBatch(
      incoming, statePath, corpusDir, tau = 0.5, gates = gates)
    assert(n === 1L)
    val streamIds = spark.read.parquet(corpusDir)
      .filter(col("doc_id") >= 30L).select("doc_id").as[Long].collect().toSet
    assert(streamIds === Set(30L),
      "1b must drop 31, 1c must drop 32, dedup must drop 33/34, 30 must admit " +
        "on its RAW text (the good signal is an email the scrub erases)")

    // BATCH form: prepareIncrementalWithState under the same config —
    // membership parity is the judge's batch==stream contract
    val (corpusDir2, statePath2) = mkCorpus()
    val cfg = graft.llm.CorpusPipeline.Config(
      qualityGate = Some((qw.toSeq, 64, qThr)),
      keepLangs = Some((
        models.map { case (c, w) => (c, w.toSeq) }, 64, Set("en"))),
      nearDupTau = 0.5)
    val batchFed = graft.llm.CorpusPipeline.prepareIncrementalWithState(
      incoming, spark.read.parquet(corpusDir2),
      graft.llm.StandingState.load(spark, statePath2), cfg = cfg)
    assert(batchFed.select("doc_id").as[Long].collect().toSet === streamIds)

    // gated-out docs were never admitted to the state: a later replica of
    // 1b-dropped doc 31 has NO blocker and must admit (a gate that ran
    // after dedup — or leaked gated docs into the state — would drop it)
    val n2 = CorpusIntakeJob.ingestTextBatch(
      Seq((40L, words(51) + goodMark + " zzenmark" * 4))
        .toDF("doc_id", "text").withColumn("source", lit("s")),
      statePath, corpusDir, tau = 0.5, gates = gates)
    assert(n2 === 1L)
  }

  test("ingestTextBatch sequence == frame-fed sequential dedup on a randomized corpus") {
    import org.apache.spark.sql.functions.col
    // random corpus with planted exact dups and near-dups scattered across
    // three ingest batches: the persisted-artifact path (state + corpus
    // tables, ingestTextBatch x3) must land exactly where the frame-fed
    // library calls land when applied sequentially in memory — the
    // q71-style state-invisibility guarantee, randomized and multi-batch
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    def doc(): String =
      Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val standingRows = (0L until 20L).map(i => (i, doc()))
    val batchRows = (0 until 3).map { b =>
      (0 until 15).map { j =>
        val id = 100L * (b + 1) + j
        rnd.nextInt(4) match {
          case 0 => (id, standingRows(rnd.nextInt(standingRows.size))._2) // exact standing dup
          case 1 => // near-dup of a standing doc (one appended word)
            (id, standingRows(rnd.nextInt(standingRows.size))._2 + " " +
              vocab(rnd.nextInt(vocab.size)))
          case _ => (id, doc()) // novel-ish (random; may still collide)
        }
      }
    }
    val tau = 0.5
    // PATH A: persisted state + corpus table, the streaming batch leg
    val corpusDir = java.nio.file.Files.createTempDirectory("rand_intake_docs_").toString
    standingRows.toDF("doc_id", "text").write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files.createTempDirectory("rand_intake_state_").toString
    graft.llm.StandingState.write(spark.read.parquet(corpusDir), statePath)
    batchRows.foreach { rows =>
      CorpusIntakeJob.ingestTextBatch(rows.toDF("doc_id", "text"),
        statePath, corpusDir, tau, gate = false, scrub = false)
    }
    val stateFed = spark.read.parquet(corpusDir)
      .filter(col("doc_id") >= 100L).select("doc_id").as[Long].collect().toSet
    // PATH B: frame-fed reference — the same library ops applied
    // sequentially on in-memory frames, no persistence anywhere
    var standing = standingRows.toDF("doc_id", "text")
    var admitted = Set.empty[Long]
    batchRows.foreach { rows =>
      val exact = graft.llm.Dedup.exactIncremental(
        rows.toDF("doc_id", "text"), standing)
      val surv = graft.llm.Dedup.dedupNearLshIncremental(exact, standing, tau)
        .localCheckpoint(true)
      admitted ++= surv.select("doc_id").as[Long].collect()
      standing = standing.unionByName(surv.select("doc_id", "text"))
        .localCheckpoint(true)
    }
    assert(stateFed === admitted)
    assert(stateFed.nonEmpty && stateFed.size < 45,
      s"vacuous: expected some drops and some admissions, got ${stateFed.size}/45")
  }

  test("bare ingestTextBatch retry after a mid-append crash: no duplicate corpus rows, artifacts completed") {
    // crash shape: the batch's text landed in the corpus, the process died
    // BEFORE the state append, and the caller retries the batch directly —
    // no runTextStream startup repair in between. The half-committed docs
    // have no digests, so without the batch-scoped id-presence repair
    // their replays would re-admit and duplicate corpus rows.
    val novelA = "quiet rivers carve deep canyons through patient stone over centuries"
    val novelB = "distant lighthouses blink coded warnings across the midnight harbor waters"
    val novelC = "wandering merchants trade bright silks for jars of mountain honey"
    val standA = "ancient libraries preserve fragile scrolls beneath cool vaulted ceilings"
    val standB = "migrating cranes trace silver arcs above the flooded rice fields"
    val corpusDir = java.nio.file.Files.createTempDirectory("retry_docs_").toString
    Seq((1L, standA), (2L, standB)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files.createTempDirectory("retry_state_").toString
    graft.llm.StandingState.write(spark.read.parquet(corpusDir), statePath)
    // the crashed first attempt: docs 10/11 were admitted and their text
    // appended; doc 12 (a standing replica) was dropped; no state append
    Seq((10L, novelA), (11L, novelB)).toDF("doc_id", "text")
      .write.mode("append").parquet(corpusDir)
    // the bare retry of the SAME batch
    val batch = Seq((10L, novelA), (11L, novelB), (12L, standA))
      .toDF("doc_id", "text")
    val n = CorpusIntakeJob.ingestTextBatch(
      batch, statePath, corpusDir, tau = 0.5, gate = false, scrub = false)
    assert(n === 0L, "a retry repairs, it does not re-admit")
    // no duplicate corpus rows
    val idRows = spark.read.parquet(corpusDir).select("doc_id").as[Long].collect()
    assert(idRows.length === idRows.distinct.length,
      s"corpus has duplicate rows: ${idRows.sorted.mkString(",")}")
    assert(idRows.toSet === Set(1L, 2L, 10L, 11L))
    // artifacts were COMPLETED in place: byte replicas (fresh ids) of the
    // torn docs now drop via the exact leg, a near-dup via the band leg
    val n2 = CorpusIntakeJob.ingestTextBatch(
      Seq((20L, novelA), (21L, novelB + " postscript"), (22L, novelC))
        .toDF("doc_id", "text"),
      statePath, corpusDir, tau = 0.5, gate = false, scrub = false)
    assert(n2 === 1L)
    assert(spark.read.parquet(corpusDir).select("doc_id").as[Long].collect().toSet
      === Set(1L, 2L, 10L, 11L, 22L))
    // idempotent: a second full retry is a no-op
    assert(CorpusIntakeJob.ingestTextBatch(
      batch, statePath, corpusDir, tau = 0.5, gate = false, scrub = false) === 0L)
    assert(spark.read.parquet(corpusDir).count() === 5L)
  }

  test("live compaction coexists with a running text stream: no lost admissions, file counts drop") {
    implicit val sqlCtx = spark.sqlContext
    // per-id DISTINCT token bodies (a shared sentence with only the id
    // token changed would be a genuine near-dup at tau 0.5 and everything
    // would correctly drop — vacuous)
    val mk: Int => String = i =>
      "the tale of and to in " + (1 to 18).map(j => s"lc${i}x$j").mkString(" ")
    val corpusDir = java.nio.file.Files.createTempDirectory("livecompact_docs_").toString
    (0L until 5L).map(i => (i, mk(i.toInt))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files.createTempDirectory("livecompact_state_").toString
    graft.llm.StandingState.write(spark.read.parquet(corpusDir), statePath)
    // grow the tables with several appended micro-batches first, so the
    // compaction has real file-count work to do
    (0 until 4).foreach { b =>
      CorpusIntakeJob.ingestTextBatch(
        Seq((100L + b, mk(100 + b))).toDF("doc_id", "text"),
        statePath, corpusDir, tau = 0.5, gate = false, scrub = false)
    }
    def nFiles(dir: String): Int = {
      val d = new java.io.File(dir)
      d.listFiles().count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".") && !f.getName.endsWith(".crc"))
    }
    val filesBeforeCorpus = nFiles(corpusDir)
    val filesBeforeDigests = nFiles(s"$statePath/digests")
    assert(filesBeforeCorpus >= 5, s"setup vacuous: $filesBeforeCorpus corpus files")

    val ck = java.nio.file.Files.createTempDirectory("livecompact_ck_").toString
    val in = MemoryStream[StreamDoc]
    val q = CorpusIntakeJob.runTextStream(
      in.toDF(), statePath, corpusDir, ck, tau = 0.5,
      minWords = 5, maxWords = 100000)
    try {
      in.addData(StreamDoc(ts("2024-01-01 10:00:00"), 200, mk(200)))
      q.processAllAvailable()
      // compact EVERYTHING (state tables + the corpus) while the stream is
      // live — the swap windows must be ridden through, not fatal
      graft.llm.StandingState.compact(spark, statePath, Some(corpusDir))
      in.addData(
        StreamDoc(ts("2024-01-01 10:00:05"), 201, mk(100)), // replica of appended 100 -> drop
        StreamDoc(ts("2024-01-01 10:00:06"), 202, mk(0)),   // replica of standing 0 -> drop
        StreamDoc(ts("2024-01-01 10:00:07"), 203, mk(203))) // novel -> admit
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
    } finally q.stop()
    val idsAfter = spark.read.parquet(corpusDir).select("doc_id").as[Long].collect()
    assert(idsAfter.length === idsAfter.distinct.length, "duplicate corpus rows")
    assert(idsAfter.toSet ===
      ((0L until 5L) ++ (100L until 104L) ++ Seq(200L, 203L)).toSet,
      "an admission was lost or a dup admitted across the compaction")
    // the compaction actually compacted: fewer files than the appended state
    assert(nFiles(corpusDir) < filesBeforeCorpus,
      s"corpus file count did not drop: ${nFiles(corpusDir)} vs $filesBeforeCorpus")
    assert(nFiles(s"$statePath/digests") <= filesBeforeDigests)
    // post-compaction the state still serves: replicas of every admitted
    // doc drop via the exact leg
    val state = graft.llm.StandingState.load(spark, statePath)
    val replicas = Seq((900L, mk(203)), (901L, mk(100)))
      .toDF("doc_id", "text")
    assert(graft.llm.Dedup.exactIncrementalVsDigests(replicas, state.digests)
      .count() === 0L)
  }

  test("expire coexists with a running text stream: expired docs unblock, no lost admissions") {
    implicit val sqlCtx = spark.sqlContext
    // distinct token bodies per id — see the live-compaction test's note
    val mk: Int => String = i =>
      "the tale of and to in " + (1 to 18).map(j => s"ex${i}x$j").mkString(" ")
    val corpusDir = java.nio.file.Files.createTempDirectory("liveexpire_docs_").toString
    (0L until 6L).map(i => (i, mk(i.toInt))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files.createTempDirectory("liveexpire_state_").toString
    graft.llm.StandingState.write(spark.read.parquet(corpusDir), statePath)
    val ck = java.nio.file.Files.createTempDirectory("liveexpire_ck_").toString
    val in = MemoryStream[StreamDoc]
    val q = CorpusIntakeJob.runTextStream(
      in.toDF(), statePath, corpusDir, ck, tau = 0.5,
      minWords = 5, maxWords = 100000)
    try {
      in.addData(StreamDoc(ts("2024-01-01 10:00:00"), 200, mk(200)))
      q.processAllAvailable()
      // TTL the even-id STANDING docs mid-run (one lease hold: artifact
      // rebuild from the retained corpus + corpus filter-swap); the
      // predicate spares the stream-admitted 200
      val nExp = graft.llm.StandingState.expire(
        spark, statePath, corpusDir,
        org.apache.spark.sql.functions.expr("doc_id % 2 = 0 AND doc_id < 100"))
      assert(nExp === 3L) // standing 0, 2, 4
      in.addData(
        StreamDoc(ts("2024-01-01 10:00:05"), 201, mk(0)),   // replica of EXPIRED 0 -> now ADMITS
        StreamDoc(ts("2024-01-01 10:00:06"), 202, mk(1)),   // replica of retained 1 -> drops
        StreamDoc(ts("2024-01-01 10:00:07"), 203, mk(200)), // replica of stream-admitted 200 -> drops
        StreamDoc(ts("2024-01-01 10:00:08"), 204, mk(204))) // novel -> admits
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
    } finally q.stop()
    val ids = spark.read.parquet(corpusDir).select("doc_id").as[Long].collect()
    assert(ids.length === ids.distinct.length, "duplicate corpus rows")
    assert(ids.toSet === Set(1L, 3L, 5L, 200L, 201L, 204L),
      "retention/admission divergence across the mid-run expire")
    // the post-expire state still blocks replicas of everything retained
    // or admitted — including the re-admitted body of the expired doc
    val state = graft.llm.StandingState.load(spark, statePath)
    val replicas = Seq((900L, mk(0)), (901L, mk(1)), (902L, mk(204)))
      .toDF("doc_id", "text")
    assert(graft.llm.Dedup.exactIncrementalVsDigests(replicas, state.digests)
      .count() === 0L)
  }

  test("expireEmbeddings coexists with a running embedding stream: expired vectors unblock, no lost admissions") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.lit
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 31 + i) * 0.5).toFloat)
    val vecsDir = java.nio.file.Files.createTempDirectory("eexp_stream_vecs_").toString
    (0L until 6L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
      .withColumn("label", lit("s"))
      .write.mode("overwrite").parquet(vecsDir)
    val statePath = java.nio.file.Files.createTempDirectory("eexp_stream_state_").toString
    graft.llm.StandingState.writeEmbBuckets(spark.read.parquet(vecsDir), statePath)
    val ck = java.nio.file.Files.createTempDirectory("eexp_stream_ck_").toString
    val in = MemoryStream[IntakeVec]
    val q = CorpusIntakeJob.runEmbeddingStream(
      in.toDF(), statePath, vecsDir, ck, tau = 0.999)
    try {
      in.addData(IntakeVec(200L, vec(200), "b"))
      q.processAllAvailable()
      // TTL the even-id STANDING vectors mid-run (anti-join subtraction;
      // the lease is held only for each table's delta+swap, so the live
      // stream rides through); the predicate spares stream-admitted 200
      val nExp = graft.llm.StandingState.expireEmbeddings(
        spark, statePath, vecsDir,
        org.apache.spark.sql.functions.expr("vec_id % 2 = 0 AND vec_id < 100"))
      assert(nExp === 3L) // standing 0, 2, 4
      in.addData(
        IntakeVec(201L, vec(0), "b"),   // replica of EXPIRED 0 -> now ADMITS
        IntakeVec(202L, vec(1), "b"),   // replica of retained 1 -> drops
        IntakeVec(203L, vec(200), "b"), // replica of stream-admitted 200 -> drops
        IntakeVec(204L, vec(204), "b")) // novel -> admits
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
    } finally q.stop()
    val ids = spark.read.parquet(vecsDir).select("vec_id").as[Long].collect()
    assert(ids.length === ids.distinct.length, "duplicate vec rows")
    assert(ids.toSet === Set(1L, 3L, 5L, 200L, 201L, 204L),
      "retention/admission divergence across the mid-run expire")
    // the post-expire state still blocks replicas of everything retained
    // or admitted — including the re-admitted body of the expired vector
    assert(CorpusIntakeJob.ingestEmbeddingBatch(
      Seq((900L, vec(0)), (901L, vec(1)), (902L, vec(204)))
        .toDF("vec_id", "embedding"),
      statePath, vecsDir, tau = 0.999) === 0L)
  }

  test("expireMedia coexists with a running media stream: expired items unblock, no lost admissions") {
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Multimodal
    // engineered bright/dark rasters — see the runMediaStream spec's aHash note
    val mk: Int => String = i =>
      (0 until 20).map { j =>
        if (((i.toLong * 2654435761L >> j) & 1L) == 1L) "!!!!!" else "zzzzz"
      }.mkString(" ")
    def mediaOf(rows: (Long, String)*) =
      Multimodal.asMedia(rows.toDF("doc_id", "text"))
    val mediaDir = java.nio.file.Files.createTempDirectory("mexp_stream_m_").toString
    mediaOf((0L until 6L).map(i => i -> mk(i.toInt)): _*)
      .write.mode("overwrite").parquet(mediaDir)
    val statePath = java.nio.file.Files.createTempDirectory("mexp_stream_s_").toString
    graft.llm.StandingState.writeMediaState(
      Multimodal.imagePhash(spark.read.parquet(mediaDir)), statePath)
    val ck = java.nio.file.Files.createTempDirectory("mexp_stream_ck_").toString
    val in = MemoryStream[(Long, String, Long, Array[Byte])]
    val q = CorpusIntakeJob.runMediaStream(
      in.toDF().toDF("media_id", "mime", "n_bytes", "payload"),
      statePath, mediaDir, ck, maxHamming = 8)
    def rec(id: Long, text: String): (Long, String, Long, Array[Byte]) = {
      val r = mediaOf(id -> text).head()
      (r.getAs[Long]("media_id"), r.getAs[String]("mime"),
        r.getAs[Long]("n_bytes"), r.getAs[Array[Byte]]("payload"))
    }
    try {
      in.addData(rec(200, mk(200)))
      q.processAllAvailable()
      val nExp = graft.llm.StandingState.expireMedia(
        spark, statePath, mediaDir,
        org.apache.spark.sql.functions.expr("media_id % 2 = 0 AND media_id < 100"))
      assert(nExp === 3L) // standing 0, 2, 4
      in.addData(
        rec(201, mk(0)),   // byte replica of EXPIRED 0 -> now ADMITS
        rec(202, mk(1)),   // replica of retained 1 -> drops
        rec(203, mk(200)), // replica of stream-admitted 200 -> drops
        rec(204, mk(204))) // novel -> admits
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
    } finally q.stop()
    val ids = spark.read.parquet(mediaDir).select("media_id").as[Long].collect()
    assert(ids.length === ids.distinct.length, "duplicate media rows")
    assert(ids.toSet === Set(1L, 3L, 5L, 200L, 201L, 204L),
      "retention/admission divergence across the mid-run expire")
    // post-expire the state still blocks near-replicas of retained/admitted
    assert(CorpusIntakeJob.ingestMediaBatch(
      mediaOf(900L -> mk(0), 901L -> (mk(1) + " !!"), 902L -> mk(204)),
      statePath, mediaDir) === 0L)
  }

  test("Retention config: the text stream ITSELF runs the expire on its cadence; same-trigger re-admission") {
    implicit val sqlCtx = spark.sqlContext
    val mk: Int => String = i =>
      "the tale of and to in " + (1 to 18).map(j => s"rt${i}x$j").mkString(" ")
    val corpusDir = java.nio.file.Files.createTempDirectory("ttl_docs_").toString
    (0L until 6L).map(i => (i, mk(i.toInt))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files.createTempDirectory("ttl_state_").toString
    graft.llm.StandingState.write(spark.read.parquet(corpusDir), statePath)
    val ck = java.nio.file.Files.createTempDirectory("ttl_ck_").toString
    val in = MemoryStream[StreamDoc]
    // TTL policy rides the stream: expire even ids below 100 every 2nd
    // micro-batch (batch ids 0 and 2 are due, 1 is not)
    val q = CorpusIntakeJob.runTextStream(
      in.toDF(), statePath, corpusDir, ck, tau = 0.5,
      minWords = 5, maxWords = 100000,
      retention = Some(CorpusIntakeJob.Retention(
        org.apache.spark.sql.functions.expr("doc_id % 2 = 0 AND doc_id < 100"),
        everyBatches = 2L)))
    def tableIds: Set[Long] = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().toSet
    try {
      // batch 0 (DUE): retention runs BEFORE the ingest, so a replica of
      // a doc expired by THIS trigger admits within the same trigger
      in.addData(StreamDoc(ts("2024-01-01 10:00:00"), 300, mk(0)))
      q.processAllAvailable()
      assert(tableIds === Set(1L, 3L, 5L, 300L),
        "due batch: evens expired by the stream, their replica re-admitted same-trigger")
      // plant a NEW standing doc matching the policy via the batch leg
      // (id 50 is even and < 100) — the next non-due batch must NOT
      // expire it
      assert(CorpusIntakeJob.ingestTextBatch(
        Seq((50L, mk(50))).toDF("doc_id", "text"),
        statePath, corpusDir, tau = 0.5, gate = false, scrub = false) === 1L)
      // batch 1 (NOT due): no expire — the replica of 50 still DROPS,
      // and a novel doc still admits (zero lost admissions off-cadence)
      in.addData(
        StreamDoc(ts("2024-01-01 10:01:00"), 301, mk(50)),
        StreamDoc(ts("2024-01-01 10:01:01"), 310, mk(310)))
      q.processAllAvailable()
      assert(tableIds === Set(1L, 3L, 5L, 300L, 50L, 310L),
        "non-due batch must not expire; replica of still-standing 50 must drop")
      // batch 2 (DUE): the stream expires 50, and its replica re-admits
      // in the same trigger
      in.addData(StreamDoc(ts("2024-01-01 10:02:00"), 302, mk(50)))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
    } finally q.stop()
    val ids = spark.read.parquet(corpusDir).select("doc_id").as[Long].collect()
    assert(ids.length === ids.distinct.length, "duplicate corpus rows")
    assert(ids.toSet === Set(1L, 3L, 5L, 300L, 310L, 302L))
    // the state still blocks replicas of everything retained or admitted
    val state = graft.llm.StandingState.load(spark, statePath)
    val replicas = Seq((900L, mk(1)), (901L, mk(0)), (902L, mk(50)))
      .toDF("doc_id", "text")
    assert(graft.llm.Dedup.exactIncrementalVsDigests(replicas, state.digests)
      .count() === 0L)
  }

  test("Retention config: embedding and media streams run their expire twins in-stream") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{expr, lit}
    // EMBEDDING twin, everyBatches = 1: expire fires before every ingest
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 31 + i) * 0.5).toFloat)
    val vecsDir = java.nio.file.Files.createTempDirectory("ttl_vecs_").toString
    (0L until 6L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
      .withColumn("label", lit("s"))
      .write.mode("overwrite").parquet(vecsDir)
    val vStatePath = java.nio.file.Files.createTempDirectory("ttl_vstate_").toString
    graft.llm.StandingState.writeEmbBuckets(spark.read.parquet(vecsDir), vStatePath)
    val vCk = java.nio.file.Files.createTempDirectory("ttl_vck_").toString
    val vIn = MemoryStream[IntakeVec]
    val vQ = CorpusIntakeJob.runEmbeddingStream(
      vIn.toDF(), vStatePath, vecsDir, vCk, tau = 0.999,
      retention = Some(CorpusIntakeJob.Retention(
        expr("vec_id % 2 = 0 AND vec_id < 100"))))
    try {
      vIn.addData(
        IntakeVec(201L, vec(0), "b"),   // replica of a vector expired THIS trigger -> admits
        IntakeVec(202L, vec(1), "b"),   // replica of retained 1 -> drops
        IntakeVec(204L, vec(204), "b")) // novel -> admits
      vQ.processAllAvailable()
      assert(vQ.exception.isEmpty, s"stream died: ${vQ.exception}")
    } finally vQ.stop()
    val vIds = spark.read.parquet(vecsDir).select("vec_id").as[Long].collect()
    assert(vIds.length === vIds.distinct.length, "duplicate vec rows")
    assert(vIds.toSet === Set(1L, 3L, 5L, 201L, 204L))

    // MEDIA twin, everyBatches = 1 (engineered rasters — see the aHash note)
    import graft.llm.Multimodal
    val mk: Int => String = i =>
      (0 until 20).map { j =>
        if (((i.toLong * 2654435761L >> j) & 1L) == 1L) "!!!!!" else "zzzzz"
      }.mkString(" ")
    def mediaOf(rows: (Long, String)*) =
      Multimodal.asMedia(rows.toDF("doc_id", "text"))
    val mediaDir = java.nio.file.Files.createTempDirectory("ttl_media_").toString
    mediaOf((0L until 6L).map(i => i -> mk(i.toInt)): _*)
      .write.mode("overwrite").parquet(mediaDir)
    val mStatePath = java.nio.file.Files.createTempDirectory("ttl_mstate_").toString
    graft.llm.StandingState.writeMediaState(
      Multimodal.imagePhash(spark.read.parquet(mediaDir)), mStatePath)
    val mCk = java.nio.file.Files.createTempDirectory("ttl_mck_").toString
    val mIn = MemoryStream[(Long, String, Long, Array[Byte])]
    val mQ = CorpusIntakeJob.runMediaStream(
      mIn.toDF().toDF("media_id", "mime", "n_bytes", "payload"),
      mStatePath, mediaDir, mCk, maxHamming = 8,
      retention = Some(CorpusIntakeJob.Retention(
        expr("media_id % 2 = 0 AND media_id < 100"))))
    def rec(id: Long, text: String): (Long, String, Long, Array[Byte]) = {
      val r = mediaOf(id -> text).head()
      (r.getAs[Long]("media_id"), r.getAs[String]("mime"),
        r.getAs[Long]("n_bytes"), r.getAs[Array[Byte]]("payload"))
    }
    try {
      mIn.addData(
        rec(201, mk(0)),   // replica of an item expired THIS trigger -> admits
        rec(202, mk(1)),   // replica of retained 1 -> drops
        rec(204, mk(204))) // novel -> admits
      mQ.processAllAvailable()
      assert(mQ.exception.isEmpty, s"stream died: ${mQ.exception}")
    } finally mQ.stop()
    val mIds = spark.read.parquet(mediaDir).select("media_id").as[Long].collect()
    assert(mIds.length === mIds.distinct.length, "duplicate media rows")
    assert(mIds.toSet === Set(1L, 3L, 5L, 201L, 204L))
  }

  test("ingest appends WAIT through a held lease (compaction swap window) instead of dying") {
    // distinct token bodies per id — see the live-compaction test's note
    val mk: Int => String = i =>
      "the tale of and to in " + (1 to 18).map(j => s"lw${i}x$j").mkString(" ")
    val corpusDir = java.nio.file.Files.createTempDirectory("leasewait_docs_").toString
    Seq((1L, mk(1))).toDF("doc_id", "text").write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files.createTempDirectory("leasewait_state_").toString
    graft.llm.StandingState.write(spark.read.parquet(corpusDir), statePath)
    val lease = java.nio.file.Paths.get(statePath, "_lease")
    // (a) a lease that NEVER frees: the retry is bounded — after the
    // configured timeout the commit fails loudly naming the holder (a
    // crashed holder needs breakLease; spinning forever would be silent)
    java.nio.file.Files.write(lease, "op=compact pid=7 at=now".getBytes("UTF-8"))
    spark.conf.set("spark.graft.lease.retryTimeoutMs", "800")
    try {
      val e = intercept[IllegalStateException](CorpusIntakeJob.ingestTextBatch(
        Seq((20L, mk(20))).toDF("doc_id", "text"),
        statePath, corpusDir, tau = 0.5, gate = false, scrub = false))
      assert(e.getMessage.contains("lease held") && e.getMessage.contains("pid=7"))
      // the failed commit was atomic: nothing landed in either table
      assert(spark.read.parquet(corpusDir).count() === 1L)
    } finally spark.conf.set("spark.graft.lease.retryTimeoutMs", "60000")
    // (b) a lease released mid-wait (the real compaction-swap shape): the
    // SAME batch commits once the holder frees — the stream-side append
    // WAITS instead of dying
    val releaser = new Thread(() => {
      Thread.sleep(1200); java.nio.file.Files.deleteIfExists(lease); ()
    })
    releaser.start()
    val n = CorpusIntakeJob.ingestTextBatch(
      Seq((10L, mk(10))).toDF("doc_id", "text"),
      statePath, corpusDir, tau = 0.5, gate = false, scrub = false)
    releaser.join()
    assert(n === 1L, "the batch must commit once the lease frees")
    assert(spark.read.parquet(corpusDir).select("doc_id").as[Long].collect().toSet
      === Set(1L, 10L))
  }

  test("runMediaStream: persisted-phash dedup drops standing/near/batch dups, admits+appends novel media") {
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Multimodal
    // per-id DISTINCT luminance patterns: ordinary prose rasters are all
    // near-uniform ASCII and their aHashes land within hamming 8 of each
    // other (everything would correctly "near-dup" — vacuous). Tokens
    // alternate dark '!'(33) / bright 'z'(122) keyed by a per-id bit mix,
    // so distinct ids hash far apart while replicas stay identical. 20
    // 5-char tokens = 119 bytes -> height 3 with margin, so the 3-byte
    // ' !!' variant keeps the same geometry (tiny hamming, drops).
    val mk: Int => String = i =>
      (0 until 20).map { j =>
        if (((i.toLong * 2654435761L >> j) & 1L) == 1L) "!!!!!" else "zzzzz"
      }.mkString(" ")
    def mediaOf(rows: (Long, String)*) =
      Multimodal.asMedia(rows.toDF("doc_id", "text"))
    // standing corpus of real PPM images + its persisted phash state
    val mediaDir = java.nio.file.Files.createTempDirectory("media_intake_m_").toString
    mediaOf(1L -> mk(1), 2L -> mk(2)).write.mode("overwrite").parquet(mediaDir)
    val statePath = java.nio.file.Files.createTempDirectory("media_intake_s_").toString
    graft.llm.StandingState.writeMediaState(
      Multimodal.imagePhash(spark.read.parquet(mediaDir)), statePath)
    // TORN APPEND survivor: media row landed, artifacts did not — the
    // startup repair must cover it before any batch runs
    mediaOf(3L -> mk(3)).write.mode("append").parquet(mediaDir)

    val ck = java.nio.file.Files.createTempDirectory("media_intake_ck_").toString
    val in = MemoryStream[(Long, String, Long, Array[Byte])]
    val q = CorpusIntakeJob.runMediaStream(
      in.toDF().toDF("media_id", "mime", "n_bytes", "payload"),
      statePath, mediaDir, ck, maxHamming = 8)
    def rec(id: Long, text: String): (Long, String, Long, Array[Byte]) = {
      val r = mediaOf(id -> text).head()
      (r.getAs[Long]("media_id"), r.getAs[String]("mime"),
        r.getAs[Long]("n_bytes"), r.getAs[Array[Byte]]("payload"))
    }
    def tableIds: Set[Long] = spark.read.parquet(mediaDir)
      .select("media_id").as[Long].collect().toSet
    try {
      in.addData(
        rec(10, mk(10)),          // novel -> admitted
        rec(11, mk(1)))           // byte replica of STANDING 1 -> dropped
      q.processAllAvailable()
      assert(tableIds === Set(1L, 2L, 3L, 10L))
      in.addData(
        rec(20, mk(10)),          // replica of batch-1's ADMITTED 10 -> dropped
        rec(21, mk(3)),           // replica of the TORN doc 3 -> dropped (startup repair)
        rec(22, mk(2) + " !!"),   // near-identical raster of standing 2 -> dropped
        rec(23, mk(23)),          // novel -> admitted
        rec(24, mk(23)))          // within-batch replica of 23 (lower id wins) -> dropped
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
      assert(tableIds === Set(1L, 2L, 3L, 10L, 23L))
    } finally q.stop()
    // the state grew by exactly the admitted items' artifacts, and a
    // replayed batch admits nothing (self-healing replay)
    val n = CorpusIntakeJob.ingestMediaBatch(
      mediaOf(23L -> mk(23)), statePath, mediaDir)
    assert(n === 0L)
    assert(spark.read.parquet(s"$statePath/media_phashes")
      .select("media_id").as[Long].collect().toSet === Set(1L, 2L, 3L, 10L, 23L))
    assert(spark.read.parquet(mediaDir).count() === 5L)
  }

  test("ingestEmbeddingBatch rejects zero-norm vectors (no cosine direction, no replay hole)") {
    import org.apache.spark.sql.functions.lit
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 31 + i) * 0.5).toFloat)
    val standingDir = java.nio.file.Files.createTempDirectory("emb_zero_vecs_").toString
    Seq((1L, vec(1))).toDF("vec_id", "embedding").withColumn("label", lit("s"))
      .write.mode("overwrite").parquet(standingDir)
    val statePath = java.nio.file.Files.createTempDirectory("emb_zero_state_").toString
    graft.llm.StandingState.writeEmbBuckets(spark.read.parquet(standingDir), statePath)
    val zero = Array.fill(64)(0.0f)
    val batch = Seq((30L, zero), (31L, vec(31))).toDF("vec_id", "embedding")
    // only the non-zero vector is admitted; the zero vector is rejected at
    // the door (it could never collide with its own standing copy, so a
    // replay would re-append it forever)
    assert(CorpusIntakeJob.ingestEmbeddingBatch(
      batch, statePath, standingDir, tau = 0.999) === 1L)
    assert(spark.read.parquet(standingDir).select("vec_id").as[Long].collect().toSet
      === Set(1L, 31L))
    // replaying the zero vector is a no-op every time — tables stay clean
    val zeroOnly = Seq((30L, zero)).toDF("vec_id", "embedding")
    assert(CorpusIntakeJob.ingestEmbeddingBatch(
      zeroOnly, statePath, standingDir, tau = 0.999) === 0L)
    assert(CorpusIntakeJob.ingestEmbeddingBatch(
      zeroOnly, statePath, standingDir, tau = 0.999) === 0L)
    assert(spark.read.parquet(standingDir).count() === 2L)
    assert(spark.read.parquet(s"$statePath/emb_buckets").count() === 2L)
  }

  test("bare ingestEmbeddingBatch retry after a mid-append crash: no duplicate vectors, buckets completed") {
    // the embedding twin of the text retry test: vectors landed in the
    // standing table, the process died before the bucket append, and the
    // caller retries directly — id-presence must route the replays to
    // repair, never re-append
    import org.apache.spark.sql.functions.lit
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 31 + i) * 0.5).toFloat)
    val standingDir = java.nio.file.Files.createTempDirectory("emb_retry_vecs_").toString
    Seq((1L, vec(1))).toDF("vec_id", "embedding").withColumn("label", lit("s"))
      .write.mode("overwrite").parquet(standingDir)
    val statePath = java.nio.file.Files.createTempDirectory("emb_retry_state_").toString
    graft.llm.StandingState.writeEmbBuckets(spark.read.parquet(standingDir), statePath)
    // crashed first attempt: vectors 10/11 admitted + appended, NO buckets
    Seq((10L, vec(10)), (11L, vec(11))).toDF("vec_id", "embedding")
      .withColumn("label", lit(null).cast("string"))
      .write.mode("append").parquet(standingDir)
    // the bare retry of the SAME batch (12 is a replica of standing 1)
    val batch = Seq((10L, vec(10)), (11L, vec(11)), (12L, vec(1)))
      .toDF("vec_id", "embedding")
    assert(CorpusIntakeJob.ingestEmbeddingBatch(
      batch, statePath, standingDir, tau = 0.999) === 0L,
      "a retry repairs, it does not re-admit")
    val ids = spark.read.parquet(standingDir).select("vec_id").as[Long].collect()
    assert(ids.length === ids.distinct.length, "duplicate vector rows")
    assert(ids.toSet === Set(1L, 10L, 11L))
    // buckets completed in place: replicas (fresh ids) of the torn
    // vectors now collide and drop
    assert(CorpusIntakeJob.ingestEmbeddingBatch(
      Seq((20L, vec(10)), (21L, vec(11)), (22L, vec(22)))
        .toDF("vec_id", "embedding"),
      statePath, standingDir, tau = 0.999) === 1L)
    assert(spark.read.parquet(standingDir).select("vec_id").as[Long].collect().toSet
      === Set(1L, 10L, 11L, 22L))
    // idempotent: a second full retry is a no-op
    assert(CorpusIntakeJob.ingestEmbeddingBatch(
      batch, statePath, standingDir, tau = 0.999) === 0L)
    assert(spark.read.parquet(standingDir).count() === 4L)
  }

  test("bare ingestMediaBatch retry after a mid-append crash: no duplicate media rows, artifacts completed") {
    // the media twin of the text and embedding retry tests: the records
    // landed in the media table, the process died before the artifact
    // append, and the caller retries the batch directly — id-presence
    // must route the replays to repair, never re-append
    import graft.llm.Multimodal
    // engineered bright/dark rasters — see the runMediaStream spec's
    // aHash note: prose rasters all hash within hamming 8 of each other
    val mk: Int => String = i =>
      (0 until 20).map { j =>
        if (((i.toLong * 2654435761L >> j) & 1L) == 1L) "!!!!!" else "zzzzz"
      }.mkString(" ")
    def mediaOf(rows: (Long, String)*) =
      Multimodal.asMedia(rows.toDF("doc_id", "text"))
    val mediaDir = java.nio.file.Files.createTempDirectory("media_retry_m_").toString
    mediaOf(1L -> mk(1), 2L -> mk(2)).write.mode("overwrite").parquet(mediaDir)
    val statePath = java.nio.file.Files.createTempDirectory("media_retry_s_").toString
    graft.llm.StandingState.writeMediaState(
      Multimodal.imagePhash(spark.read.parquet(mediaDir)), statePath)
    // crashed first attempt: items 10/23 admitted + appended, NO artifacts
    mediaOf(10L -> mk(10), 23L -> mk(23)).write.mode("append").parquet(mediaDir)
    // the bare retry of the SAME batch (12 is a replica of standing 1)
    val batch = mediaOf(10L -> mk(10), 23L -> mk(23), 12L -> mk(1))
    assert(CorpusIntakeJob.ingestMediaBatch(batch, statePath, mediaDir) === 0L,
      "a retry repairs, it does not re-admit")
    def tableIds: Seq[Long] =
      spark.read.parquet(mediaDir).select("media_id").as[Long].collect().toSeq
    assert(tableIds.length === tableIds.distinct.length, "duplicate media rows")
    assert(tableIds.toSet === Set(1L, 2L, 10L, 23L))
    // artifacts completed in place, in BOTH artifact tables
    Seq("media_phashes", "media_bands").foreach { t =>
      assert(spark.read.parquet(s"$statePath/$t").select("media_id").as[Long]
        .collect().toSet === Set(1L, 2L, 10L, 23L), s"$t not completed")
    }
    // replicas (fresh ids) of the torn items now drop — a byte replica and
    // a near-identical raster — while a novel item admits
    assert(CorpusIntakeJob.ingestMediaBatch(
      mediaOf(20L -> mk(10), 21L -> (mk(23) + " !!"), 22L -> mk(200)),
      statePath, mediaDir) === 1L)
    assert(tableIds.toSet === Set(1L, 2L, 10L, 23L, 22L))
    // idempotent: a second full retry is a no-op
    assert(CorpusIntakeJob.ingestMediaBatch(batch, statePath, mediaDir) === 0L)
    assert(spark.read.parquet(mediaDir).count() === 5L)
  }

  test("embedding and media streams restart after a crashed primary swap: the startup repair heals the table") {
    // crash shape: an in-stream expire rewrote the primary table through
    // its snapshot-delta swap and died between the two renames, leaving
    // only `<table>__retired`. The restarted stream's startup repair must
    // heal it back in place instead of failing to read the table.
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.lit
    import graft.llm.{Multimodal, StandingState}
    implicit val sqlCtx = spark.sqlContext
    def strand(dir: String): Unit =
      Files.move(Paths.get(dir), Paths.get(dir + "__retired"))
    def healed(dir: String): Boolean =
      Files.exists(Paths.get(dir)) && !Files.exists(Paths.get(dir + "__retired"))

    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 31 + i) * 0.5).toFloat)
    val vecsDir = Files.createTempDirectory("emb_restart_vecs_").toString
    Seq((1L, vec(1)), (2L, vec(2))).toDF("vec_id", "embedding")
      .withColumn("label", lit("s"))
      .write.mode("overwrite").parquet(vecsDir)
    val vState = Files.createTempDirectory("emb_restart_state_").toString
    StandingState.writeEmbBuckets(spark.read.parquet(vecsDir), vState)
    strand(vecsDir)
    val vIn = MemoryStream[IntakeVec]
    val vq = CorpusIntakeJob.runEmbeddingStream(vIn.toDF(), vState, vecsDir,
      Files.createTempDirectory("emb_restart_ck_").toString, tau = 0.999)
    try {
      assert(healed(vecsDir), "startup repair left the vector table stranded")
      vIn.addData(
        IntakeVec(10L, vec(1), "b"),   // replica of standing 1 -> dropped
        IntakeVec(11L, vec(11), "b"))  // novel -> admitted
      vq.processAllAvailable()
      assert(vq.exception.isEmpty, s"stream died: ${vq.exception}")
    } finally vq.stop()
    assert(spark.read.parquet(vecsDir).select("vec_id").as[Long].collect().toSet
      === Set(1L, 2L, 11L))

    val mk: Int => String = i =>
      (0 until 20).map { j =>
        if (((i.toLong * 2654435761L >> j) & 1L) == 1L) "!!!!!" else "zzzzz"
      }.mkString(" ")
    def mediaOf(rows: (Long, String)*) =
      Multimodal.asMedia(rows.toDF("doc_id", "text"))
    def rec(id: Long, text: String): (Long, String, Long, Array[Byte]) = {
      val r = mediaOf(id -> text).head()
      (r.getAs[Long]("media_id"), r.getAs[String]("mime"),
        r.getAs[Long]("n_bytes"), r.getAs[Array[Byte]]("payload"))
    }
    val mediaDir = Files.createTempDirectory("media_restart_m_").toString
    mediaOf(1L -> mk(1), 2L -> mk(2)).write.mode("overwrite").parquet(mediaDir)
    val mState = Files.createTempDirectory("media_restart_s_").toString
    StandingState.writeMediaState(
      Multimodal.imagePhash(spark.read.parquet(mediaDir)), mState)
    strand(mediaDir)
    val mIn = MemoryStream[(Long, String, Long, Array[Byte])]
    val mq = CorpusIntakeJob.runMediaStream(
      mIn.toDF().toDF("media_id", "mime", "n_bytes", "payload"), mState, mediaDir,
      Files.createTempDirectory("media_restart_ck_").toString, maxHamming = 8)
    try {
      assert(healed(mediaDir), "startup repair left the media table stranded")
      mIn.addData(
        rec(10, mk(1)),    // replica of standing 1 -> dropped
        rec(11, mk(10)))   // novel -> admitted
      mq.processAllAvailable()
      assert(mq.exception.isEmpty, s"stream died: ${mq.exception}")
    } finally mq.stop()
    assert(spark.read.parquet(mediaDir).select("media_id").as[Long].collect().toSet
      === Set(1L, 2L, 11L))
  }

  test("intake: exact mode dedups on redacted text; distinct texts all pass") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamDoc]
    val out = CorpusIntakeJob.intake(in.toDF(), "ts", watermark = "1 hour",
      nearExact = false)
    val q = out.writeStream.format("memory").queryName("intake_exact")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        StreamDoc(ts("2024-01-01 10:00:00"), 1, goodText),
        StreamDoc(ts("2024-01-01 10:00:01"), 2, otherText))
      q.processAllAvailable()
      in.addData(StreamDoc(ts("2024-01-01 10:10:00"), 3, goodText))
      q.processAllAvailable()
      val ids = spark.table("intake_exact").select("doc_id").as[Long].collect().toSet
      assert(ids === Set(1L, 2L))
    } finally q.stop()
  }

  test("live compaction coexists with a running embedding stream: no lost admissions, file counts drop") {
    // the text-stream twin (above) for runEmbeddingStream: a full
    // compact() of the bucket state AND the standing vector table lands
    // between two micro-batches of a LIVE stream — the swap windows must
    // be ridden through via the lease, with zero lost admissions and no
    // duplicate appends, and the compacted state must still serve dedup
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.lit
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 31 + i) * 0.5).toFloat)
    val standingDir = java.nio.file.Files.createTempDirectory("emb_compact_vecs_").toString
    Seq((1L, vec(1)), (2L, vec(2))).toDF("vec_id", "embedding")
      .withColumn("label", lit("s"))
      .write.mode("overwrite").parquet(standingDir)
    val statePath = java.nio.file.Files.createTempDirectory("emb_compact_state_").toString
    graft.llm.StandingState.writeEmbBuckets(spark.read.parquet(standingDir), statePath)
    // grow the tables with appended micro-batches so compaction has work
    (0 until 4).foreach { b =>
      CorpusIntakeJob.ingestEmbeddingBatch(
        Seq((100L + b, vec(100 + b))).toDF("vec_id", "embedding"),
        statePath, standingDir, tau = 0.999)
    }
    def nFiles(dir: String): Int = {
      val d = new java.io.File(dir)
      d.listFiles().count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".") && !f.getName.endsWith(".crc"))
    }
    val filesBeforeVecs = nFiles(standingDir)
    val filesBeforeBuckets = nFiles(s"$statePath/emb_buckets")
    assert(filesBeforeVecs >= 5, s"setup vacuous: $filesBeforeVecs vec files")

    val ck = java.nio.file.Files.createTempDirectory("emb_compact_ck_").toString
    val in = MemoryStream[IntakeVec]
    val q = CorpusIntakeJob.runEmbeddingStream(
      in.toDF(), statePath, standingDir, ck, tau = 0.999)
    try {
      in.addData(IntakeVec(200L, vec(200), "b"))
      q.processAllAvailable()
      graft.llm.StandingState.compact(spark, statePath, Some(standingDir))
      in.addData(
        IntakeVec(201L, vec(100), "b"), // replica of appended 100 -> drop
        IntakeVec(202L, vec(1), "b"),   // replica of standing 1 -> drop
        IntakeVec(203L, vec(203), "b")) // novel -> admit
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
    } finally q.stop()
    val idsAfter = spark.read.parquet(standingDir).select("vec_id").as[Long].collect()
    assert(idsAfter.length === idsAfter.distinct.length, "duplicate vec rows")
    assert(idsAfter.toSet ===
      (Seq(1L, 2L) ++ (100L until 104L) ++ Seq(200L, 203L)).toSet,
      "an admission was lost or a dup admitted across the compaction")
    assert(nFiles(standingDir) < filesBeforeVecs,
      s"vec file count did not drop: ${nFiles(standingDir)} vs $filesBeforeVecs")
    assert(nFiles(s"$statePath/emb_buckets") <= filesBeforeBuckets)
    // post-compaction the state still serves: replicas of admitted vecs drop
    assert(CorpusIntakeJob.ingestEmbeddingBatch(
      Seq((900L, vec(203)), (901L, vec(100))).toDF("vec_id", "embedding"),
      statePath, standingDir, tau = 0.999) === 0L)
  }

  test("live compaction coexists with a running media stream: no lost admissions, file counts drop") {
    // the text-stream twin for runMediaStream: engineered bright/dark
    // rasters (see the runMediaStream spec's aHash note) so distinct ids
    // hash far apart while replicas collide
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Multimodal
    val mk: Int => String = i =>
      (0 until 20).map { j =>
        if (((i.toLong * 2654435761L >> j) & 1L) == 1L) "!!!!!" else "zzzzz"
      }.mkString(" ")
    def mediaOf(rows: (Long, String)*) =
      Multimodal.asMedia(rows.toDF("doc_id", "text"))
    val mediaDir = java.nio.file.Files.createTempDirectory("media_compact_m_").toString
    mediaOf(1L -> mk(1), 2L -> mk(2)).write.mode("overwrite").parquet(mediaDir)
    val statePath = java.nio.file.Files.createTempDirectory("media_compact_s_").toString
    graft.llm.StandingState.writeMediaState(
      Multimodal.imagePhash(spark.read.parquet(mediaDir)), statePath)
    (0 until 4).foreach { b =>
      CorpusIntakeJob.ingestMediaBatch(
        mediaOf((100L + b) -> mk(100 + b)), statePath, mediaDir)
    }
    def nFiles(dir: String): Int = {
      val d = new java.io.File(dir)
      d.listFiles().count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".") && !f.getName.endsWith(".crc"))
    }
    val filesBeforeMedia = nFiles(mediaDir)
    val filesBeforePhash = nFiles(s"$statePath/media_phashes")
    assert(filesBeforeMedia >= 5, s"setup vacuous: $filesBeforeMedia media files")

    val ck = java.nio.file.Files.createTempDirectory("media_compact_ck_").toString
    val in = MemoryStream[(Long, String, Long, Array[Byte])]
    val q = CorpusIntakeJob.runMediaStream(
      in.toDF().toDF("media_id", "mime", "n_bytes", "payload"),
      statePath, mediaDir, ck, maxHamming = 8)
    def rec(id: Long, text: String): (Long, String, Long, Array[Byte]) = {
      val r = mediaOf(id -> text).head()
      (r.getAs[Long]("media_id"), r.getAs[String]("mime"),
        r.getAs[Long]("n_bytes"), r.getAs[Array[Byte]]("payload"))
    }
    try {
      in.addData(rec(200, mk(200)))
      q.processAllAvailable()
      graft.llm.StandingState.compact(spark, statePath, Some(mediaDir))
      in.addData(
        rec(201, mk(100)),          // replica of appended 100 -> drop
        rec(202, mk(1)),            // replica of standing 1 -> drop
        rec(203, mk(2) + " !!"),    // near-identical raster of standing 2 -> drop
        rec(204, mk(204)))          // novel -> admit
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
    } finally q.stop()
    val idsAfter = spark.read.parquet(mediaDir).select("media_id").as[Long].collect()
    assert(idsAfter.length === idsAfter.distinct.length, "duplicate media rows")
    assert(idsAfter.toSet ===
      (Seq(1L, 2L) ++ (100L until 104L) ++ Seq(200L, 204L)).toSet,
      "an admission was lost or a dup admitted across the compaction")
    assert(nFiles(mediaDir) < filesBeforeMedia,
      s"media file count did not drop: ${nFiles(mediaDir)} vs $filesBeforeMedia")
    assert(nFiles(s"$statePath/media_phashes") <= filesBeforePhash)
    // post-compaction the state still serves: a replay admits nothing
    assert(CorpusIntakeJob.ingestMediaBatch(
      mediaOf(900L -> mk(204)), statePath, mediaDir) === 0L)
  }

  test("censusDeepEvery: planted compensating per-source drift heals on the next DUE batch of a restartless stream") {
    implicit val sqlCtx = spark.sqlContext
    def words(i: Int): String =
      "the tale of and to in " + (1 to 18).map(j => s"cde${i}x$j").mkString(" ")
    val corpusDir = java.nio.file.Files
      .createTempDirectory("cde_corpus_").toString
    Seq((1L, words(1), "a"), (2L, words(2), "a"), (3L, words(3), "b"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files
      .createTempDirectory("cde_state_").toString
    graft.llm.StandingState.write(spark.read.parquet(corpusDir), statePath)
    graft.llm.StandingState.writeSourceCensus(spark, statePath, corpusDir)
    def censusMap: Map[String, Long] =
      graft.llm.StandingState.loadSourceCensus(spark, statePath)
        .as[(String, Long)].collect().toMap
    val ck = java.nio.file.Files.createTempDirectory("cde_ck_").toString
    val in = MemoryStream[(Timestamp, Long, String, String)]
    // no retention, never restarted: without the cadence the deep witness
    // would never run again after startup
    val q = CorpusIntakeJob.runTextStream(
      in.toDF().toDF("ts", "doc_id", "text", "source"),
      statePath, corpusDir, ck, tau = 0.5,
      censusDeepEvery = 2L)
    try {
      in.addData((ts("2024-01-01 10:00:00"), 10L, words(10), "a"))
      q.processAllAvailable() // batch 0
      assert(censusMap === Map("a" -> 3L, "b" -> 1L))
      in.addData((ts("2024-01-01 10:01:00"), 11L, words(11), "b"))
      q.processAllAvailable() // batch 1 (not due)
      assert(censusMap === Map("a" -> 3L, "b" -> 2L))
      // plant the COMPENSATING drift (total preserved at 5, split skewed)
      // — the per-batch cheap witness and every commit path are blind to
      // it; only the deep cadence can heal a restartless stream
      Seq(("a", 1L), ("b", 4L)).toDF("source", "n")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$statePath/source_census")
      assert(censusMap === Map("a" -> 1L, "b" -> 4L))
      in.addData((ts("2024-01-01 10:02:00"), 12L, words(12), "a"))
      q.processAllAvailable() // batch 2: DUE — deep reconcile then ingest
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
      // heal recounts {1,2,3,10,11} -> a=3,b=2; the batch then admits 12(a)
      assert(censusMap === Map("a" -> 4L, "b" -> 2L),
        "due batch must heal the planted drift AND fold its own admission")
    } finally q.stop()
  }

  test("failed gate reload DEGRADES to last-good weights (lenient default); strict mode halts") {
    // ADVICE r17: a torn/legacy weight table landing on a DUE rotation
    // batch must not kill a long-running stream that still holds
    // known-good weights in memory — and once the table is repaired,
    // the next due batch picks it up.
    import org.apache.spark.sql.functions.lit
    implicit val sqlCtx = spark.sqlContext
    def words(i: Int): String =
      "the tale of and to in " + (1 to 18).map(j => s"dg${i}x$j").mkString(" ")
    val goodMark = (1 to 6).map(_ => " dqgoodmark").mkString
    val badMark = (1 to 6).map(_ => " dqbadmark").mkString
    val trainQ = (1 to 8).map { i =>
      val good = i % 2 == 1
      (100L + i, words(i) + (if (good) goodMark else badMark),
        if (good) 1 else 0)
    }.toDF("doc_id", "text", "label")
    val qw = graft.llm.QualityLr.trainQualityLr(trainQ, m = 64, steps = 2, lr = 0.5)
    val byY = graft.llm.QualityLr.scoreQualityLr(trainQ, qw, m = 64)
      .join(trainQ.select("doc_id", "label"), "doc_id")
      .groupBy("label")
      .agg(org.apache.spark.sql.functions.sum("score_micros").as("s"),
        org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Int]("label") ->
        ((r.getAs[Long]("s"), r.getAs[Long]("n")))).toMap
    val qThr = math.floor(
      (byY(1)._1.toDouble / byY(1)._2 + byY(0)._1.toDouble / byY(0)._2) / 2.0).toLong
    val corpusDir = java.nio.file.Files
      .createTempDirectory("dgr_corpus_").toString
    Seq((1L, words(90))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files
      .createTempDirectory("dgr_state_").toString
    graft.llm.StandingState.write(spark.read.parquet(corpusDir), statePath)
    val qwPath = java.nio.file.Files
      .createTempDirectory("dgr_qw_").toString + "/w"
    graft.llm.QualityLr.writeWeights(spark, qw, qwPath)
    // a LEGACY table (no regime stamp): the loader's guard refuses it
    // immediately (IllegalArgumentException — final, no retry stall)
    def corruptTable(): Unit =
      Seq((0L, 1L)).toDF("bucket", "wm")
        .write.mode("overwrite").parquet(qwPath)
    val ck = java.nio.file.Files.createTempDirectory("dgr_ck_").toString
    val in = MemoryStream[StreamDoc]
    val q = CorpusIntakeJob.runTextStream(
      in.toDF(), statePath, corpusDir, ck, tau = 0.5,
      gates = CorpusIntakeJob.TrainedGates(
        qualitySource = Some((qwPath, qThr)), reloadEvery = 1L))
    def tableIds: Set[Long] = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().toSet
    try {
      // batch 0: initial load — good admits, bad drops
      in.addData(
        StreamDoc(ts("2024-01-01 10:00:00"), 10, words(50) + goodMark),
        StreamDoc(ts("2024-01-01 10:00:01"), 11, words(51) + badMark))
      q.processAllAvailable()
      assert(tableIds === Set(1L, 10L))
      // the re-train artifact lands BROKEN; batch 1 is DUE
      corruptTable()
      in.addData(
        StreamDoc(ts("2024-01-01 10:01:00"), 20, words(52) + goodMark),
        StreamDoc(ts("2024-01-01 10:01:01"), 21, words(53) + badMark))
      q.processAllAvailable()
      assert(q.exception.isEmpty,
        s"lenient reload must not kill the stream: ${q.exception}")
      assert(tableIds === Set(1L, 10L, 20L),
        "degraded rotation must keep admitting on the LAST-GOOD weights")
      // the table is REPAIRED with the flipped model; the next due batch
      // picks it up (the degrade did not freeze the rotation)
      graft.llm.QualityLr.writeWeights(spark, qw.map(-_), qwPath)
      in.addData(
        StreamDoc(ts("2024-01-01 10:02:00"), 30, words(54) + goodMark),
        StreamDoc(ts("2024-01-01 10:02:01"), 31, words(55) + badMark))
      q.processAllAvailable()
      assert(tableIds === Set(1L, 10L, 20L, 31L),
        "post-repair due batch must rotate to the repaired weights")
    } finally q.stop()

    // STRICT mode: the same broken artifact on a due batch halts the
    // stream (deployments that would rather stop than admit on stale
    // weights)
    graft.llm.QualityLr.writeWeights(spark, qw, qwPath)
    val ck2 = java.nio.file.Files.createTempDirectory("dgr_ck2_").toString
    val in2 = MemoryStream[StreamDoc]
    val q2 = CorpusIntakeJob.runTextStream(
      in2.toDF(), statePath, corpusDir, ck2, tau = 0.5,
      gates = CorpusIntakeJob.TrainedGates(
        qualitySource = Some((qwPath, qThr)), reloadEvery = 1L,
        reloadStrict = true))
    try {
      in2.addData(StreamDoc(ts("2024-01-01 11:00:00"), 40, words(60) + goodMark))
      q2.processAllAvailable()
      corruptTable()
      in2.addData(StreamDoc(ts("2024-01-01 11:01:00"), 41, words(61) + goodMark))
      val died = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
        throw q2.exception.getOrElse(
          fail("strict reload must halt the stream on a broken table"))
      }
      assert(died.getMessage.contains("regime stamp") ||
        died.getCause != null)
    } finally q2.stop()
  }
}
