package graft.jobs

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The prepare CLI end-to-end over real parquet round-trips: batch mode
  * with the attrition report, and the state-fed daily-ingest cycle across
  * two runs (append closes the loop — run 2 drops a replica of run 1's
  * admitted doc without recomputing the standing side from text). */
class PrepareMainSpec extends SparkSpec {
  import spark.implicits._

  private def base(i: Int): String =
    "the tale of and to in " + (1 to 18).map(j => s"word${i}x$j").mkString(" ")

  private def writeDocs(rows: (Long, String)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("prep_docs_").toString
    rows.toDF("doc_id", "text").withColumn("source", lit("s"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("parseArgs: full surface + mode preconditions") {
    val a = PrepareMain.parseArgs(Array(
      "--in=/i", "--out=/o", "--eval=/e", "--embeddings=/m",
      "--standing=/st", "--state=/sp", "--appendState", "--compactState",
      "--tau=0.9", "--minWords=5", "--maxWords=50", "--normalize",
      "--packBudget=512"))
    assert(a.in === "/i" && a.out === "/o" && a.eval === Some("/e"))
    assert(a.standing === Some("/st") && a.state === Some("/sp") && a.appendState)
    assert(a.compactState)
    assert(a.tau === 0.9 && a.minWords === 5 && a.normalize)
    assert(a.packBudget === 512L)
    val b = PrepareMain.parseArgs(Array("--in=/i", "--out=/o", "--report=/r"))
    assert(b.report === Some("/r"))
    intercept[IllegalArgumentException] {
      PrepareMain.parseArgs(Array("--in=/i")) // no --out
    }
    intercept[IllegalArgumentException] {
      PrepareMain.parseArgs(Array("--in=/i", "--out=/o", "--state=/sp"))
    }
    // --report exists only in batch mode; silently ignoring it would
    // strand scripting that reads the report path
    intercept[IllegalArgumentException] {
      PrepareMain.parseArgs(Array("--in=/i", "--out=/o", "--standing=/st", "--report=/r"))
    }
    // maintenance-only invocation: state upkeep without a prepare pass
    val m = PrepareMain.parseArgs(
      Array("--state=/sp", "--breakStateLease", "--compactState"))
    assert(m.breakStateLease && m.compactState && m.in.isEmpty)
    intercept[IllegalArgumentException] {
      PrepareMain.parseArgs(Array("--breakStateLease")) // needs --state
    }
    intercept[IllegalArgumentException] {
      // appendState has no maintenance-only form (nothing to append)
      PrepareMain.parseArgs(Array("--state=/sp", "--appendState"))
    }
  }

  test("maintenance-only: --breakStateLease recovers a crashed holder, --compactState then runs") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("prepare_maint_").toString
    val standing = Seq((1L, "the tale of and to in " +
      (1 to 18).map(j => s"w$j").mkString(" "))).toDF("doc_id", "text")
      .withColumn("source", lit("s"))
    graft.llm.StandingState.write(standing, path)
    // a crashed mutator's lease blocks compact...
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "_lease"),
      "op=append pid=1 at=then".getBytes("UTF-8"))
    intercept[IllegalStateException](
      PrepareMain.run(spark, PrepareMain.Args(state = Some(path), compactState = true)))
    // ...and the documented recovery flow — re-run with --breakStateLease —
    // clears it and completes the compaction in one invocation
    val (n, mode) = PrepareMain.run(spark, PrepareMain.Args(
      state = Some(path), breakStateLease = true, compactState = true))
    assert(n === 0L && mode === "maintenance")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_lease")))
  }

  test("CLI retention ops: --expireState runs the TTL loop") {
    // day 0: a state over a prepared standing corpus
    val corpus0 = writeDocs(1L -> base(1), 2L -> base(2), 3L -> base(3))
    val standingPrep = graft.llm.CorpusPipeline.prepare(
      spark.read.parquet(corpus0)).localCheckpoint(true)
    val standingDir = tmp("ret_standing_")
    standingPrep.select("doc_id", "source", "text")
      .write.mode("overwrite").parquet(standingDir)
    val statePath = tmp("ret_state_")
    graft.llm.StandingState.write(spark.read.parquet(standingDir), statePath)

    // flag precondition
    intercept[IllegalArgumentException] {
      PrepareMain.parseArgs(Array("--state=/sp", "--expireState=doc_id < 2"))
    } // needs --standing

    // CLI retention: expire doc 1 — corpus row dropped, rows_out reports it
    val (nExp, modeExp) = PrepareMain.run(spark, PrepareMain.parseArgs(Array(
      s"--state=$statePath", s"--standing=$standingDir",
      "--expireState=doc_id < 2", "--compactState")))
    assert(modeExp === "maintenance")
    assert(nExp === 1L)
    assert(spark.read.parquet(standingDir).select("doc_id").as[Long]
      .collect().sorted.toSeq === Seq(2L, 3L))

    // the TTL loop's point: a replica of the EXPIRED doc re-admits, a
    // replica of a RETAINED doc still drops
    val in = writeDocs(10L -> base(1), 11L -> base(2))
    val out = tmp("ret_out_")
    val (nAdm, _) = PrepareMain.run(spark, PrepareMain.parseArgs(Array(
      s"--in=$in", s"--out=$out",
      s"--standing=$standingDir", s"--state=$statePath")))
    assert(nAdm === 1L)
    assert(spark.read.parquet(out).select("doc_id").as[Long]
      .collect().toSeq === Seq(10L))
  }

  test("CLI retention twins: --expireEmbeddings / --expireMedia run the vector/media TTL loops") {
    // preconditions: maintenance-only; a COMBINED invocation must name
    // each twin's table explicitly (--standing covers a twin only when
    // that twin is the sole expire flag)
    intercept[IllegalArgumentException] {
      PrepareMain.parseArgs(Array("--in=/i", "--out=/o", "--state=/sp",
        "--standing=/st", "--expireEmbeddings=vec_id < 2"))
    }
    intercept[IllegalArgumentException] {
      PrepareMain.parseArgs(Array("--state=/sp", "--standing=/st",
        "--expireState=doc_id < 2", "--expireMedia=media_id < 2"))
    }
    // EMBEDDING twin e2e
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 31 + i) * 0.5).toFloat)
    val vecsDir = tmp("cli_vecs_")
    Seq((1L, vec(1)), (2L, vec(2))).toDF("vec_id", "embedding")
      .withColumn("label", lit("s"))
      .write.mode("overwrite").parquet(vecsDir)
    val vState = tmp("cli_vstate_")
    graft.llm.StandingState.writeEmbBuckets(spark.read.parquet(vecsDir), vState)
    val (nV, modeV) = PrepareMain.run(spark, PrepareMain.parseArgs(Array(
      s"--state=$vState", s"--standing=$vecsDir",
      "--expireEmbeddings=vec_id = 1")))
    assert(modeV === "maintenance" && nV === 1L)
    assert(spark.read.parquet(vecsDir).select("vec_id").as[Long]
      .collect().toSeq === Seq(2L))
    // the expired vector's replica re-admits; the retained one's drops
    assert(graft.streaming.CorpusIntakeJob.ingestEmbeddingBatch(
      Seq((900L, vec(1)), (901L, vec(2))).toDF("vec_id", "embedding"),
      vState, vecsDir, tau = 0.999) === 1L)
    // MEDIA twin e2e (engineered rasters — see the aHash note)
    val mk: Int => String = i =>
      (0 until 20).map { j =>
        if (((i.toLong * 2654435761L >> j) & 1L) == 1L) "!!!!!" else "zzzzz"
      }.mkString(" ")
    def mediaOf(rows: (Long, String)*) =
      graft.llm.Multimodal.asMedia(rows.toDF("doc_id", "text"))
    val mediaDir = tmp("cli_media_")
    mediaOf(1L -> mk(1), 2L -> mk(2)).write.mode("overwrite").parquet(mediaDir)
    val mState = tmp("cli_mstate_")
    graft.llm.StandingState.writeMediaState(
      graft.llm.Multimodal.imagePhash(spark.read.parquet(mediaDir)), mState)
    val (nM, _) = PrepareMain.run(spark, PrepareMain.parseArgs(Array(
      s"--state=$mState", s"--standing=$mediaDir",
      "--expireMedia=media_id = 1")))
    assert(nM === 1L)
    assert(graft.streaming.CorpusIntakeJob.ingestMediaBatch(
      mediaOf(900L -> mk(1)), mState, mediaDir) === 1L)
    assert(graft.streaming.CorpusIntakeJob.ingestMediaBatch(
      mediaOf(901L -> mk(2)), mState, mediaDir) === 0L)
  }

  test("one-invocation full-state TTL: the three expire flags combine and run sequentially") {
    // ONE state dir carries all three artifact families (text digests/
    // bands + emb buckets + media phashes/bands) — the deployment shape
    // the combined invocation exists for: one JVM, one flag set, three
    // independent lease cycles over disjoint tables
    val corpusDir = writeDocs(1L -> base(1), 2L -> base(2), 3L -> base(3))
    val statePath = tmp("full_ttl_state_")
    graft.llm.StandingState.write(spark.read.parquet(corpusDir), statePath)
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 31 + i) * 0.5).toFloat)
    val vecsDir = tmp("full_ttl_vecs_")
    Seq((1L, vec(1)), (2L, vec(2))).toDF("vec_id", "embedding")
      .withColumn("label", lit("s"))
      .write.mode("overwrite").parquet(vecsDir)
    graft.llm.StandingState.writeEmbBuckets(spark.read.parquet(vecsDir), statePath)
    val mk: Int => String = i =>
      (0 until 20).map { j =>
        if (((i.toLong * 2654435761L >> j) & 1L) == 1L) "!!!!!" else "zzzzz"
      }.mkString(" ")
    val mediaDir = tmp("full_ttl_media_")
    graft.llm.Multimodal.asMedia(
        Seq(1L -> mk(1), 2L -> mk(2)).toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(mediaDir)
    graft.llm.StandingState.writeMediaState(
      graft.llm.Multimodal.imagePhash(spark.read.parquet(mediaDir)), statePath)

    val (n, mode) = PrepareMain.run(spark, PrepareMain.parseArgs(Array(
      s"--state=$statePath", s"--standing=$corpusDir",
      s"--standingVecs=$vecsDir", s"--standingMedia=$mediaDir",
      "--expireState=doc_id = 1", "--expireEmbeddings=vec_id = 1",
      "--expireMedia=media_id = 1")))
    assert(mode === "maintenance")
    assert(n === 3L) // one row dropped per table, summed
    assert(spark.read.parquet(corpusDir).select("doc_id").as[Long]
      .collect().sorted.toSeq === Seq(2L, 3L))
    assert(spark.read.parquet(vecsDir).select("vec_id").as[Long]
      .collect().toSeq === Seq(2L))
    assert(spark.read.parquet(mediaDir).select("media_id").as[Long]
      .collect().toSeq === Seq(2L))
    // each family's artifacts subtracted too (no ghost blockers left)
    assert(spark.read.parquet(s"$statePath/digests")
      .filter(col("doc_id") === 1L).count() === 0L)
    assert(spark.read.parquet(s"$statePath/emb_buckets")
      .filter(col("vec_id") === 1L).count() === 0L)
    assert(spark.read.parquet(s"$statePath/media_phashes")
      .filter(col("media_id") === 1L).count() === 0L)
  }

  test("batch mode: gate + dedup land in the output, report table written") {
    val in = writeDocs(
      1L -> base(1),
      2L -> base(1), // exact dup of 1 -> dropped
      3L -> "too short", // gate drops
      4L -> base(4))
    val out = tmp("prep_out_")
    val rp = tmp("prep_report_")
    val (n, mode) = PrepareMain.run(spark, PrepareMain.parseArgs(Array(
      s"--in=$in", s"--out=$out", s"--report=$rp")))
    assert(mode === "batch+report")
    assert(n === 2L)
    val ids = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 4L))
    val stages = spark.read.parquet(rp).select("stage").as[String].collect()
    assert(stages.nonEmpty && stages.contains("0_input") && stages.contains("8_packed"))
  }

  test("state-fed ingest cycle across two runs: append makes run 2 drop run 1's replica") {
    // day 0: prepared standing corpus + persisted state
    val corpus0 = writeDocs(1L -> base(1), 2L -> base(2))
    val standingPrep = graft.llm.CorpusPipeline.prepare(
      spark.read.parquet(corpus0)).localCheckpoint(true)
    val standingDir = tmp("prep_standing_")
    standingPrep.select("doc_id", "source", "text")
      .write.mode("overwrite").parquet(standingDir)
    val statePath = tmp("prep_state_")
    graft.llm.StandingState.write(
      spark.read.parquet(standingDir), statePath)

    // run 1: a replica of standing doc 1 (dropped) + novel doc 10 (admitted)
    val in1 = writeDocs(9L -> base(1), 10L -> base(10))
    val out1 = tmp("prep_out1_")
    val (n1, mode1) = PrepareMain.run(spark, PrepareMain.parseArgs(Array(
      s"--in=$in1", s"--out=$out1",
      s"--standing=$standingDir", s"--state=$statePath",
      "--appendState", "--compactState")))
    assert(mode1 === "incremental-state")
    assert(n1 === 1L)
    assert(spark.read.parquet(out1).select("doc_id").as[Long].collect().toSeq === Seq(10L))

    // the corpus table grows by the admitted rows (the caller's append leg)
    spark.read.parquet(out1).select("doc_id", "source", "text")
      .write.mode("append").parquet(standingDir)

    // run 2: a replica of run 1's admitted doc 10 MUST drop — its digest
    // and band rows came from --appendState, not from re-deriving standing
    val in2 = writeDocs(20L -> base(10), 21L -> base(21))
    val out2 = tmp("prep_out2_")
    val (n2, _) = PrepareMain.run(spark, PrepareMain.parseArgs(Array(
      s"--in=$in2", s"--out=$out2",
      s"--standing=$standingDir", s"--state=$statePath")))
    assert(n2 === 1L)
    assert(spark.read.parquet(out2).select("doc_id").as[Long].collect().toSeq === Seq(21L))
  }
}
