package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted standing-corpus artifact store: state-fed incremental
  * preparation must equal the frame-fed form exactly, the write/load/append
  * cycle must survive a multi-ingest sequence, and a state built under one
  * fingerprint regime must refuse to serve another. */
class StandingStateSpec extends SparkSpec {
  import spark.implicits._

  private def base(i: Int): String =
    "the tale of and to in " + (1 to 18).map(j => s"word${i}x$j").mkString(" ")

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text").withColumn("source", lit("s"))

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("doc_id").as[Long].collect().sorted.toSeq

  test("state-fed == frame-fed on planted exact/near/batch-internal dups") {
    val standing = docs(1L -> base(1), 2L -> base(2))
    val incoming = docs(
      10L -> base(1),                  // exact dup of standing 1
      11L -> (base(2) + " extraword"), // near dup of standing 2
      12L -> base(12),                 // novel
      13L -> (base(12) + " extraword"), // near dup of batch 12
      14L -> base(14))                 // novel
    val cfg = CorpusPipeline.Config(nearDupTau = 0.8)
    val frameFed = CorpusPipeline.prepareIncremental(incoming, standing, cfg = cfg)
    val state = StandingState.build(standing, cfg)
    val stateFed = CorpusPipeline.prepareIncrementalWithState(
      incoming, standing, state, cfg = cfg)
    assert(ids(stateFed) === ids(frameFed))
    assert(ids(stateFed) === Seq(12L, 14L))
    assert(stateFed.orderBy("doc_id").collect().map(_.toString).toSeq ===
      frameFed.orderBy("doc_id").collect().map(_.toString).toSeq)
  }

  test("state-fed == frame-fed under normalizeFingerprints") {
    val standing = docs(1L -> base(1))
    val variant = "the tale of and to in " +
      (1 to 18).map(j => s"WORD1X$j,").mkString(" ") + " extraword"
    val incoming = docs(10L -> variant, 11L -> base(11))
    val cfg = CorpusPipeline.Config(nearDupTau = 0.8, normalizeFingerprints = true)
    val state = StandingState.build(standing, cfg)
    val stateFed = CorpusPipeline.prepareIncrementalWithState(
      incoming, standing, state, cfg = cfg)
    assert(ids(stateFed) ===
      ids(CorpusPipeline.prepareIncremental(incoming, standing, cfg = cfg)))
    assert(ids(stateFed) === Seq(11L))
  }

  test("frozen centroids ride the state: semantic stage drops the paraphrase") {
    val standing = docs(1L -> base(1))
    val incoming = docs(20L -> base(20), 21L -> base(21), 22L -> base(22))
    val v = Seq.fill(8)(1.0f)
    val o = (0 until 8).map(i => if (i % 2 == 0) 1.0f else -1.0f)
    val emb = Seq((1L, v), (20L, v), (21L, o)).toDF("doc_id", "embedding")
    val cfg = CorpusPipeline.Config(semDedupTau = 0.95, semDedupNCentroids = 1)
    val state = StandingState.build(standing, cfg, embeddings = Some(emb))
    assert(state.centroids.isDefined)
    val out = CorpusPipeline.prepareIncrementalWithState(
      incoming, standing, state, cfg = cfg, embeddings = Some(emb))
    assert(ids(out) === Seq(21L, 22L))
    assert(ids(out) === ids(CorpusPipeline.prepareIncremental(
      incoming, standing, cfg = cfg, embeddings = Some(emb))))
  }

  test("write/load roundtrip preserves artifacts, meta, and centroids") {
    val dir = java.nio.file.Files.createTempDirectory("standing_state_").toString
    val standing = docs(1L -> base(1), 2L -> base(2))
    val emb = Seq((1L, Seq.fill(8)(1.0f)), (2L, Seq.fill(8)(-1.0f)))
      .toDF("doc_id", "embedding")
    val cfg = CorpusPipeline.Config(nearDupTau = 0.8, semDedupNCentroids = 2)
    val written = StandingState.write(standing, dir, cfg, embeddings = Some(emb))
    val loaded = StandingState.load(spark, dir)
    assert(loaded.meta === written.meta)
    assert(loaded.centroids === written.centroids)
    assert(loaded.digests.orderBy("digest").collect().toSeq ===
      written.digests.orderBy("digest").collect().toSeq)
    assert(loaded.bands.orderBy("doc_id", "band").collect().toSeq ===
      written.bands.orderBy("doc_id", "band").collect().toSeq)
    // loaded state drives an ingest identically to the frame-fed form
    val incoming = docs(10L -> base(1), 11L -> base(11))
    assert(ids(CorpusPipeline.prepareIncrementalWithState(
      incoming, standing, loaded, cfg = cfg)) ===
      ids(CorpusPipeline.prepareIncremental(incoming, standing, cfg = cfg)))
  }

  test("append closes the ingest cycle: run 2 sees run 1's admitted docs") {
    val dir = java.nio.file.Files.createTempDirectory("standing_state_").toString
    val cfg = CorpusPipeline.Config(nearDupTau = 0.8)
    val standing = docs(1L -> base(1))
    StandingState.write(standing, dir, cfg)

    // ingest 1: one novel doc admitted
    val batch1 = docs(10L -> base(10))
    val admitted1 = CorpusPipeline.prepareIncrementalWithState(
      batch1, standing, StandingState.load(spark, dir), cfg = cfg)
      .localCheckpoint(true)
    assert(ids(admitted1) === Seq(10L))
    StandingState.append(admitted1.select("doc_id", "text", "source"), dir, cfg)
    val standing2 = standing.unionByName(
      admitted1.select("doc_id", "text", "source"))

    // ingest 2: dups of the ORIGINAL standing doc, of ingest 1's admitted
    // doc (exact + near), and a novel doc
    val batch2 = docs(
      20L -> base(1),                   // exact dup of original standing
      21L -> base(10),                  // exact dup of ingest-1 admission
      22L -> (base(10) + " extraword"), // near dup of ingest-1 admission
      23L -> base(23))                  // novel
    val stateFed = CorpusPipeline.prepareIncrementalWithState(
      batch2, standing2, StandingState.load(spark, dir), cfg = cfg)
    assert(ids(stateFed) === Seq(23L))
    assert(ids(stateFed) ===
      ids(CorpusPipeline.prepareIncremental(batch2, standing2, cfg = cfg)))
  }

  test("span stage: state-fed == frame-fed on standing and within-batch runs") {
    val srun = (1 to 25).map(i => s"srun$i").mkString(" ")
    val brun = (1 to 25).map(i => s"brun$i").mkString(" ")
    val standing = docs(1L -> (base(1) + " " + srun))
    val incoming = docs(
      // carries the STANDING run at a different offset -> standing-index leg
      10L -> ("the tale of and to in xa xb " + srun + " " +
        (1 to 10).map(j => s"w10x$j").mkString(" ")),
      // 11 and 12 share a FRESH run -> within-batch census leg (minDocs=2)
      11L -> (base(11) + " " + brun),
      12L -> ("the tale of and to in ya yb " + brun + " " +
        (1 to 10).map(j => s"w12x$j").mkString(" ")),
      13L -> base(13)) // untouched
    val cfg = CorpusPipeline.Config(removeDupSpans = Some((20, 2)))
    val frameFed = CorpusPipeline.prepareIncremental(incoming, standing, cfg = cfg)
    val state = StandingState.build(standing, cfg)
    assert(state.spanIndex.isDefined && state.spanIndex.get._2 === 20)
    val stateFed = CorpusPipeline.prepareIncrementalWithState(
      incoming, standing, state, cfg = cfg)
    assert(stateFed.orderBy("doc_id").collect().map(_.toString).toSeq ===
      frameFed.orderBy("doc_id").collect().map(_.toString).toSeq)
    assert(ids(stateFed) === Seq(10L, 11L, 12L, 13L))
    val text = stateFed.orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split(" ").toSet).toMap
    assert(!text(10L).contains("srun1") && !text(10L).contains("srun25"))
    assert(!text(11L).contains("brun1") && !text(12L).contains("brun13"))
    assert(text(13L) === base(13).split(" ").toSet)
  }

  test("span cycle: write/load carries the index, append closes it") {
    val dir = java.nio.file.Files.createTempDirectory("standing_span_").toString
    val xrun = (1 to 25).map(i => s"xrun$i").mkString(" ")
    val cfg = CorpusPipeline.Config(removeDupSpans = Some((20, 2)))
    val standing = docs(1L -> base(1))
    val written = StandingState.write(standing, dir, cfg)
    val loaded = StandingState.load(spark, dir)
    assert(loaded.spanIndex.isDefined && loaded.spanIndex.get._2 === 20)
    // compare the hash column (the consumer's projection)
    assert(loaded.spanIndex.get._1.select("h").as[String].collect().sorted.toSeq ===
      written.spanIndex.get._1.select("h").as[String].collect().sorted.toSeq)

    // ingest 1 INTRODUCES the run (df=1 in batch, absent from standing ->
    // survives intact); append closes the cycle for ingest 2
    val batch1 = docs(10L -> ("the tale of and to in pa pb " + xrun + " " +
      (1 to 10).map(j => s"w10x$j").mkString(" ")))
    val admitted1 = CorpusPipeline.prepareIncrementalWithState(
      batch1, standing, loaded, cfg = cfg).localCheckpoint(true)
    assert(ids(admitted1) === Seq(10L))
    assert(admitted1.head.getAs[String]("text").split(" ").toSet.contains("xrun1"))
    StandingState.append(admitted1.select("doc_id", "text", "source"), dir, cfg)
    val standing2 = standing.unionByName(
      admitted1.select("doc_id", "text", "source"))

    // ingest 2 carries the SAME run -> stripped via the appended hashes
    val batch2 = docs(20L -> ("the tale of and to in qa qb " + xrun + " " +
      (1 to 10).map(j => s"w20x$j").mkString(" ")))
    val stateFed = CorpusPipeline.prepareIncrementalWithState(
      batch2, standing2, StandingState.load(spark, dir), cfg = cfg)
    assert(ids(stateFed) === Seq(20L))
    val t20 = stateFed.head.getAs[String]("text").split(" ").toSet
    assert(!t20.contains("xrun1") && !t20.contains("xrun25"))
    assert(stateFed.orderBy("doc_id").collect().map(_.toString).toSeq ===
      CorpusPipeline.prepareIncremental(batch2, standing2, cfg = cfg)
        .orderBy("doc_id").collect().map(_.toString).toSeq)
  }

  test("span-regime guards: missing index and width mismatch fail loudly") {
    val standing = docs(1L -> base(1))
    val incoming = docs(10L -> base(10))
    val spanCfg = CorpusPipeline.Config(removeDupSpans = Some((20, 2)))
    val noSpan = StandingState.build(standing, CorpusPipeline.Config())
    intercept[IllegalArgumentException] {
      CorpusPipeline.prepareIncrementalWithState(
        incoming, standing, noSpan, cfg = spanCfg)
    }
    val w20 = StandingState.build(standing, spanCfg)
    intercept[IllegalArgumentException] {
      CorpusPipeline.prepareIncrementalWithState(
        incoming, standing, w20,
        cfg = CorpusPipeline.Config(removeDupSpans = Some((10, 2))))
    }
  }

  test("cluster labels persist and update incrementally across two ingests") {
    val path = java.nio.file.Files.createTempDirectory("standing_clusters_").toString
    // day 0: batch CC over the initial pair set
    val day0 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("doc_a", "doc_b")
    StandingState.writeClusters(Dedup.duplicateClusters(day0), path)
    // ingest 1: doc 100 bridges {1,2,3} and {10,11}; {200,201} is new-only
    val ing1 = Seq((100L, 3L), (100L, 10L), (200L, 201L)).toDF("doc_a", "doc_b")
    StandingState.updateClusters(path, ing1)
    // ingest 2: doc 300 attaches to the day-0-untouched {20,21}; a
    // redundant intra-cluster edge (1,2) must be a no-op
    val ing2 = Seq((300L, 21L), (1L, 2L)).toDF("doc_a", "doc_b")
    val updated = StandingState.updateClusters(path, ing2)
    val expect = Dedup.duplicateClusters(day0.unionByName(ing1).unionByName(ing2))
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Int)].collect().toSet
    val got = updated.select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === expect)
    // the persisted table IS the updated state (survives a fresh load)
    val reloaded = StandingState.loadClusters(spark, path)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Int)].collect().toSet
    assert(reloaded === expect)
    assert(got.contains((300L, 20L, 3)))
    assert(got.contains((100L, 1L, 6)))
  }

  test("cluster labels: randomized multi-ingest sequence == batch CC over everything") {
    // four random ingests folded one at a time through the persisted
    // table must end exactly where one batch CC over all pairs ends —
    // merges, new-only clusters, and duplicate edges land in arbitrary
    // ingests
    val rnd = new scala.util.Random(9091)
    val ingests = Vector.fill(4) {
      (0 until 60).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter { case (a, b) => a != b }
    }
    val path = java.nio.file.Files.createTempDirectory("standing_clusters_rand_").toString
    StandingState.writeClusters(
      Dedup.duplicateClusters(ingests.head.toDF("doc_a", "doc_b")), path)
    ingests.tail.foreach { ing =>
      StandingState.updateClusters(path, ing.toDF("doc_a", "doc_b"))
    }
    val got = StandingState.loadClusters(spark, path)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Int)].collect().toSet
    val expect = Dedup.duplicateClusters(ingests.flatten.toDF("doc_a", "doc_b"))
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("emb buckets: state-fed == frame-fed; append cycle; regime mismatch is loud") {
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 31 + i) * 0.5).toFloat)
    // the embeddings-table shape (vec_id, embedding, label) —
    // hyperplaneBuckets carries the label column through
    val standing = Seq(
      (1L, vec(1)), (2L, vec(2)), (3L, vec(3))).toDF("vec_id", "embedding")
      .withColumn("label", lit("s"))
    val incoming = Seq(
      (10L, vec(1)),   // replica of standing 1 -> dropped vs standing
      (11L, vec(11)),  // novel -> survives
      (12L, vec(11)),  // replica of incoming 11 -> dropped by lower-id leg
      (13L, vec(13))).toDF("vec_id", "embedding")
      .withColumn("label", lit("b"))
    val frameFed = Dedup.dedupByEmbeddingLshIncremental(
      incoming, standing, tau = 0.999)
      .select("vec_id").as[Long].collect().sorted.toSeq
    val path = java.nio.file.Files.createTempDirectory("emb_buckets_").toString
    StandingState.writeEmbBuckets(standing, path)
    val stateFed = Dedup.dedupByEmbeddingLshIncrementalVsBuckets(
      incoming, StandingState.loadEmbBuckets(spark, path),
      standing.select("vec_id", "embedding"), tau = 0.999)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(stateFed === frameFed)
    assert(stateFed === Seq(11L, 13L))
    // append the admitted batch; a second ingest replicating vec 11 must
    // now drop against the APPENDED standing side
    val admitted = incoming.filter(col("vec_id").isin(11L, 13L))
    StandingState.appendEmbBuckets(admitted, path)
    val standing2 = standing.unionByName(admitted)
    val incoming2 = Seq((20L, vec(11)), (21L, vec(21))).toDF("vec_id", "embedding")
      .withColumn("label", lit("b2"))
    val run2 = Dedup.dedupByEmbeddingLshIncrementalVsBuckets(
      incoming2, StandingState.loadEmbBuckets(spark, path),
      standing2.select("vec_id", "embedding"), tau = 0.999)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(run2 === Seq(21L))
    // hyperplane-regime mismatch must refuse, not silently miss near-dups
    val ex = intercept[IllegalArgumentException] {
      StandingState.loadEmbBuckets(spark, path, nPlanes = 8)
    }
    assert(ex.getMessage.contains("nPlanes"))
  }

  test("repairEmbBuckets restores the vector<->bucket invariant after a torn append") {
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 31 + i) * 0.5).toFloat)
    val standingDir = java.nio.file.Files.createTempDirectory("emb_repair_vecs_").toString
    Seq((1L, vec(1)), (2L, vec(2))).toDF("vec_id", "embedding")
      .withColumn("label", lit("s"))
      .write.mode("overwrite").parquet(standingDir)
    val statePath = java.nio.file.Files.createTempDirectory("emb_repair_state_").toString
    StandingState.writeEmbBuckets(spark.read.parquet(standingDir), statePath)

    // TORN APPEND (crash between the ingest's two appends): vector 5
    // landed in the table, its bucket rows did not — a replica of 5 would
    // be admitted (no bucket row to collide with) until repaired
    Seq((5L, vec(5))).toDF("vec_id", "embedding").withColumn("label", lit("b"))
      .write.mode("append").parquet(standingDir)
    val (added, ghosts) = StandingState.repairEmbBuckets(spark, statePath, standingDir)
    assert(added === 1L && ghosts === 0L)
    val replica = Seq((50L, vec(5))).toDF("vec_id", "embedding")
      .withColumn("label", lit("b2"))
    val out = Dedup.dedupByEmbeddingLshIncrementalVsBuckets(
      replica, StandingState.loadEmbBuckets(spark, statePath),
      spark.read.parquet(standingDir).select("vec_id", "embedding"), tau = 0.999)
      .select("vec_id").as[Long].collect()
    assert(out.isEmpty, "post-repair, the torn vector's replica must drop")

    // GHOST rows (the reversed tear): bucket rows whose vector never
    // landed — repair drops them and is then a no-op
    StandingState.appendEmbBuckets(
      Seq((9L, vec(9))).toDF("vec_id", "embedding").withColumn("label", lit("g")),
      statePath)
    val (a2, g2) = StandingState.repairEmbBuckets(spark, statePath, standingDir)
    assert(a2 === 0L && g2 > 0L)
    assert(StandingState.repairEmbBuckets(spark, statePath, standingDir) === ((0L, 0L)))
  }

  test("compact: duplicate appended rows collapse; dedup results unchanged") {
    val standing = docs(1L -> base(1), 2L -> base(2))
    val path = java.nio.file.Files.createTempDirectory("standing_compact_").toString
    StandingState.write(standing, path)
    val batch = docs(50L -> base(50))
    // the same admitted batch appended TWICE (simulating a replayed
    // micro-batch) doubles its rows in both tables
    StandingState.append(batch, path)
    StandingState.append(batch, path)
    def counts = (
      spark.read.parquet(s"$path/digests").count(),
      spark.read.parquet(s"$path/bands").count())
    val (dupD, dupB) = counts
    StandingState.compact(spark, path)
    val (cD, cB) = counts
    assert(cD < dupD && cB < dupB, s"compact must shrink: $dupD->$cD, $dupB->$cB")
    assert(cD === spark.read.parquet(s"$path/digests").distinct().count())
    // the compacted state still serves the ingest identically: a replica
    // of the appended doc drops, a novel one survives
    val incoming = docs(60L -> base(50), 61L -> base(61))
    val out = CorpusPipeline.prepareIncrementalWithState(
      incoming, standing.unionByName(batch), StandingState.load(spark, path))
    assert(ids(out) === Seq(61L))
  }

  test("partitioned clusters: identical labels to the full-rewrite path; untouched partitions' files untouched") {
    val day0 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (30L, 31L))
      .toDF("doc_a", "doc_b")
    val ing1 = Seq((100L, 3L), (100L, 10L), (200L, 201L)).toDF("doc_a", "doc_b")
    val ing2 = Seq((300L, 21L), (1L, 2L)).toDF("doc_a", "doc_b")
    // the full-rewrite reference: one batch CC over every pair
    val expect = Dedup.duplicateClusters(
      day0.unionByName(ing1).unionByName(ing2)).as[(Long, Long, Int)].collect().toSet
    // bucketed table: day-0 labels, then the two ingests folded in
    val partPath = java.nio.file.Files.createTempDirectory("clusters_part_").toString
    StandingState.writeClusters(
      Dedup.duplicateClusters(day0), partPath, nParts = 8)
    def fileSnapshot(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(partPath, "clusters"))
        .iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
    }
    val before = fileSnapshot()
    StandingState.updateClusters(partPath, ing1)
    val mid = fileSnapshot()
    StandingState.updateClusters(partPath, ing2)
    val got = StandingState.loadClusters(spark, partPath)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === expect)
    // IO tracks touched clusters, not the table: ingest 1 touches the
    // components rooted 1 and 10 (merged via doc 100) and creates
    // {200, 201} — the partitions of the UNTOUCHED clusters {20,21} and
    // {30,31} (cpart 20%8=4, 30%8=6) must keep their exact files
    val untouchedParts = Set("cpart=4", "cpart=6")
    val keptBefore = before.filter { case (p, _) => untouchedParts.exists(p.contains) }
    val keptMid = mid.filter { case (p, _) => untouchedParts.exists(p.contains) }
    assert(keptBefore.nonEmpty, "vacuous: expected files in the untouched partitions")
    assert(keptMid === keptBefore,
      "untouched partitions were rewritten — the partitioned update must bound its IO")
    // and some partition DID change (non-vacuity of the comparison)
    assert(mid !== before)
  }

  test("partitioned clusters: crash between commit marker and renames rolls FORWARD on load") {
    val day0 = Seq((1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    val path = java.nio.file.Files.createTempDirectory("clusters_crash_").toString
    StandingState.writeClusters(Dedup.duplicateClusters(day0), path, nParts = 4)
    // manufacture the mid-commit crash state BY HAND: stage a replacement
    // for the partition holding cluster {1,2,3} (cpart = 1 % 4 = 1) plus
    // the marker — exactly what a crash right after the commit point
    // leaves behind
    val merged = Dedup.duplicateClusters(
      day0.unionByName(Seq((100L, 2L)).toDF("doc_a", "doc_b")))
    merged.filter(col("cluster_id") === 1L)
      .withColumn("cpart", pmod(col("cluster_id"), lit(4L)))
      .write.mode("overwrite").partitionBy("cpart")
      .parquet(s"$path/clusters__parts_staged")
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(path, "clusters__parts_commit"))
    // while the (crashed or live) mutator's lease is still present, a
    // reader must NOT roll forward (recovering concurrently would race a
    // live mutator's own renames) — and it must not READ either: the
    // table is mixed-generation (some partitions new, some old), so the
    // load fails LOUDLY naming the holder instead of returning silently
    // wrong labels; the crashed case recovers after breakLease (the
    // documented operator flow)
    val lease = java.nio.file.Paths.get(path, "_lease")
    java.nio.file.Files.write(lease, "op=updateClusters pid=1".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](StandingState.loadClusters(spark, path))
    assert(e.getMessage.contains("pending partition commit") &&
      e.getMessage.contains("pid=1"),
      s"mixed-generation read must be loud and name the holder: ${e.getMessage}")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "clusters__parts_commit")),
      "recovery must be skipped while the lease is held")
    java.nio.file.Files.delete(lease)
    // the next load completes the commit: staged partition swapped in,
    // marker + staging gone, labels == the merged result
    val got = StandingState.loadClusters(spark, path)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === merged.as[(Long, Long, Int)].collect().toSet)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "clusters__parts_commit")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "clusters__parts_staged")))
    // a staging dir WITHOUT a marker (crash before the commit point)
    // rolls back: deleted, table unchanged
    merged.limit(1).withColumn("cpart", lit(0L))
      .write.mode("overwrite").partitionBy("cpart")
      .parquet(s"$path/clusters__parts_staged")
    val again = StandingState.loadClusters(spark, path)
      .as[(Long, Long, Int)].collect().toSet
    assert(again === got)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "clusters__parts_staged")))
  }

  test("state lease: compact vs appender mutual exclusion is loud; breakLease recovers a crash") {
    val path = java.nio.file.Files.createTempDirectory("standing_lease_").toString
    StandingState.write(docs(1L -> base(1)), path)
    // simulate a concurrent (or crashed) appender holding the lease — the
    // exact artifact a mutator that died mid-write leaves behind
    val lease = java.nio.file.Paths.get(path, "_lease")
    java.nio.file.Files.write(lease,
      "op=append pid=424242 at=2026-08-14T00:00:00Z".getBytes("UTF-8"))
    // compact RETRIES its acquire (it must wait through live stream
    // commits) — bound the wait so the crashed-holder case stays a fast,
    // loud failure in this spec
    spark.conf.set("spark.graft.lease.retryTimeoutMs", "500")
    val e1 =
      try intercept[IllegalStateException](StandingState.compact(spark, path))
      finally spark.conf.set("spark.graft.lease.retryTimeoutMs", "60000")
    assert(e1.getMessage.contains("lease held") && e1.getMessage.contains("424242"),
      s"compact must name the holder: ${e1.getMessage}")
    // symmetric: an append while compact (or anyone) holds the lease fails
    // loudly instead of racing the snapshot->swap window
    val e2 = intercept[IllegalStateException](
      StandingState.append(docs(2L -> base(2)), path))
    assert(e2.getMessage.contains("lease held"))
    // crashed-lease recovery: operator confirms the holder is dead, breaks
    assert(StandingState.breakLease(spark, path))
    StandingState.compact(spark, path)
    StandingState.append(docs(2L -> base(2)), path)
    // successful mutators release: no lease file remains
    assert(!java.nio.file.Files.exists(lease))
    // and the state still serves: the appended doc's replica drops
    val out = CorpusPipeline.prepareIncrementalWithState(
      docs(10L -> base(2), 11L -> base(11)),
      docs(1L -> base(1), 2L -> base(2)),
      StandingState.load(spark, path))
    assert(ids(out) === Seq(11L))
  }

  test("a crashed table swap self-heals on the next load") {
    val path = java.nio.file.Files.createTempDirectory("standing_heal_").toString
    val day0 = Seq((1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    StandingState.writeClusters(Dedup.duplicateClusters(day0), path)
    val expect = StandingState.loadClusters(spark, path)
      .as[(Long, Long, Int)].collect().toSet
    // simulate the crash window between swapTable's two renames: the live
    // dir is gone, the complete pre-swap table sits at clusters__retired
    val live = java.nio.file.Paths.get(path, "clusters")
    val retired = java.nio.file.Paths.get(path, "clusters__retired")
    java.nio.file.Files.move(live, retired)
    // loadClusters heals (renames retired back) instead of throwing
    val healed = StandingState.loadClusters(spark, path)
      .as[(Long, Long, Int)].collect().toSet
    assert(healed === expect)
    assert(java.nio.file.Files.exists(live) && !java.nio.file.Files.exists(retired))
    // a post-heal update proceeds normally
    val updated = StandingState.updateClusters(
      path, Seq((100L, 2L)).toDF("doc_a", "doc_b"))
    assert(updated.as[(Long, Long, Int)].collect().toSet ===
      Dedup.duplicateClusters(day0.unionByName(Seq((100L, 2L)).toDF("doc_a", "doc_b")))
        .as[(Long, Long, Int)].collect().toSet)
  }

  test("repairTextArtifacts restores the corpus<->artifact invariant after a torn append") {
    val corpusDir = java.nio.file.Files.createTempDirectory("text_repair_docs_").toString
    docs(1L -> base(1), 2L -> base(2)).write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files.createTempDirectory("text_repair_state_").toString
    StandingState.write(spark.read.parquet(corpusDir), statePath)

    // TORN APPEND (crash between the ingest's corpus append and its state
    // append): doc 5's text landed in the corpus table, its digest + band
    // rows did not — replicas of 5 would be re-admitted until repaired
    docs(5L -> base(5)).write.mode("append").parquet(corpusDir)
    val (drift, ghosts) = StandingState.repairTextArtifacts(spark, statePath, corpusDir)
    assert(drift === 1L && ghosts === 0L)
    val state = StandingState.load(spark, statePath)
    // post-repair: a byte replica of the torn doc drops via the exact leg
    assert(ids(Dedup.exactIncrementalVsDigests(
      docs(50L -> base(5)), state.digests)).isEmpty)
    // ... and a NEAR-dup of it drops via the repaired band rows
    assert(ids(Dedup.dedupNearLshIncrementalVsBands(
      docs(51L -> (base(5) + " extraword")), state.bands,
      spark.read.parquet(corpusDir).select("doc_id", "text"),
      tau = 0.8)).isEmpty)

    // GHOST band rows (artifacts whose doc never landed in the corpus —
    // only a manual reversed write produces this): dropped by the rewrite
    StandingState.append(docs(9L -> base(9)), statePath)
    val (d2, g2) = StandingState.repairTextArtifacts(spark, statePath, corpusDir)
    assert(d2 === 0L && g2 > 0L)
    // idempotent once consistent
    assert(StandingState.repairTextArtifacts(spark, statePath, corpusDir) === ((0L, 0L)))
  }

  test("repairMediaArtifacts restores the media<->artifact invariant after a torn append") {
    // engineered bright/dark rasters — see the runMediaStream spec's
    // aHash note: prose rasters all hash within hamming 8 of each other
    val mk: Int => String = i =>
      (0 until 20).map { j =>
        if (((i.toLong * 2654435761L >> j) & 1L) == 1L) "!!!!!" else "zzzzz"
      }.mkString(" ")
    def mediaOf(rows: (Long, String)*) =
      Multimodal.asMedia(rows.toDF("doc_id", "text"))
    val mediaDir = java.nio.file.Files.createTempDirectory("media_repair_m_").toString
    val statePath = java.nio.file.Files.createTempDirectory("media_repair_state_").toString
    def artifactIds(t: String): Set[Long] =
      spark.read.parquet(s"$statePath/$t").select("media_id").as[Long].collect().toSet
    mediaOf(1L -> mk(1), 2L -> mk(2)).write.mode("overwrite").parquet(mediaDir)
    StandingState.writeMediaState(
      Multimodal.imagePhash(spark.read.parquet(mediaDir)), statePath)

    // TORN APPEND (crash between the ingest's media append and its
    // artifact append): item 5 landed in the media table, its phash and
    // band rows did not — a replica of 5 would be admitted until repaired
    mediaOf(5L -> mk(5)).write.mode("append").parquet(mediaDir)
    val (drift, ghosts) = StandingState.repairMediaArtifacts(spark, statePath, mediaDir)
    assert(drift === 1L && ghosts === 0L)
    Seq("media_phashes", "media_bands").foreach { t =>
      assert(artifactIds(t) === Set(1L, 2L, 5L), s"$t not completed")
    }
    val (ph, bands, nBands) = StandingState.loadMediaState(spark, statePath)
    val survivors = Multimodal.phashNearDupIncrementalVsBands(
      Multimodal.imagePhash(mediaOf(50L -> mk(5))), bands, ph, nBands, 8)
      .select("media_id").as[Long].collect()
    assert(survivors.isEmpty, "post-repair, the torn item's replica must drop")

    // GHOST rows in BOTH artifact tables (artifacts whose item never
    // landed in the media table — the reversed tear): written directly,
    // then dropped by the repair, which is then a no-op
    val ghostPh = Multimodal.imagePhash(mediaOf(9L -> mk(9))).select("media_id", "phash")
    ghostPh.write.mode("append").parquet(s"$statePath/media_phashes")
    Multimodal.phashBandRows(ghostPh, nBands)
      .select(col("doc_id").as("media_id"), col("band"), col("sig"))
      .write.mode("append").parquet(s"$statePath/media_bands")
    val (d2, g2) = StandingState.repairMediaArtifacts(spark, statePath, mediaDir)
    assert(d2 === 0L && g2 === 1L + nBands, "one phash row + one row per band")
    Seq("media_phashes", "media_bands").foreach { t =>
      assert(artifactIds(t) === Set(1L, 2L, 5L), s"$t ghost rows survived")
    }
    assert(StandingState.repairMediaArtifacts(spark, statePath, mediaDir) === ((0L, 0L)))
  }

  test("optional-table probe is a filesystem check: directory shapes, no Spark job") {
    import java.nio.file.{Files, Paths}
    val statePath = Files.createTempDirectory("census_probe_").toString
    val census = Paths.get(statePath, "source_census")
    val group = s"census-probe-${System.nanoTime()}"
    def probe(at: String = statePath): Boolean = {
      spark.sparkContext.setJobGroup(group, "existence probe")
      try StandingState.sourceCensusExists(spark, at)
      finally spark.sparkContext.clearJobGroup()
    }
    // absent: no directory, an empty one, one holding only bookkeeping
    assert(!probe())
    Files.createDirectories(census)
    assert(!probe())
    Files.createFile(census.resolve("_SUCCESS"))
    Files.createFile(census.resolve(".hidden.crc"))
    assert(!probe())
    // present: a data file at the top level ...
    val corpusDir = Files.createTempDirectory("census_probe_docs_").toString
    docs(1L -> base(1)).write.mode("overwrite").parquet(corpusDir)
    StandingState.writeSourceCensus(spark, statePath, corpusDir)
    assert(probe())
    // ... or only below a partition directory (the bucketed `cpart=*` shape)
    val nested = Files.createTempDirectory("census_probe_nested_").toString
    val parted = Paths.get(nested, "source_census", "cpart=0")
    Files.createDirectories(parted)
    Files.createFile(Paths.get(nested, "source_census", "_SUCCESS"))
    Files.copy(Files.list(census).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().get(), parted.resolve("part-00000.parquet"))
    assert(probe(nested))
    // none of the probes above submitted a Spark job
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty,
      "the existence probe ran a Spark job")
  }

  test("incompatible config is refused loudly") {
    val standing = docs(1L -> base(1))
    val state = StandingState.build(standing, CorpusPipeline.Config(shingleSize = 3))
    val e1 = intercept[IllegalArgumentException](
      CorpusPipeline.prepareIncrementalWithState(
        docs(10L -> base(10)), standing, state,
        cfg = CorpusPipeline.Config(shingleSize = 5)))
    assert(e1.getMessage.contains("shingleSize"))
    val e2 = intercept[IllegalArgumentException](
      CorpusPipeline.prepareIncrementalWithState(
        docs(10L -> base(10)), standing, state,
        cfg = CorpusPipeline.Config(normalizeFingerprints = true)))
    assert(e2.getMessage.contains("normalizedFingerprints"))
  }

  test("snapshot-delta compact: appends racing the rewrite are never lost") {
    // compact's O(table) rewrite runs WITHOUT the lease; appends landing
    // during it must survive via the under-lease delta catch-up, and
    // appends hitting the swap window retry through. Whatever the
    // interleaving, NO appended doc's artifacts may vanish.
    val path = java.nio.file.Files.createTempDirectory("compact_race_").toString
    StandingState.write(docs(1L -> base(1)), path)
    (0 until 6).foreach(i => StandingState.append(docs((10L + i) -> base(10 + i)), path))
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val appender = new Thread(() => {
      (0 until 8).foreach { i =>
        var done = false
        var tries = 0
        while (!done && tries < 300) {
          try { StandingState.append(docs((50L + i) -> base(50 + i)), path); done = true }
          catch { case scala.util.control.NonFatal(_) => tries += 1; Thread.sleep(5) }
        }
        if (!done) failures.incrementAndGet()
        ()
      }
    })
    appender.start()
    StandingState.compact(spark, path)
    appender.join(120000)
    assert(failures.get() === 0, "an append never landed")
    // every doc appended before, during, or after the compaction still
    // drops its replica — nothing was lost to the swap
    val state = StandingState.load(spark, path)
    val replicas = docs(
      ((0 until 6).map(i => (300L + i) -> base(10 + i)) ++
        (0 until 8).map(i => (400L + i) -> base(50 + i))): _*)
    assert(ids(Dedup.exactIncrementalVsDigests(replicas, state.digests)).isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_lease")))
    // and a second, quiescent compact is idempotent
    StandingState.compact(spark, path)
    assert(ids(Dedup.exactIncrementalVsDigests(
      replicas, StandingState.load(spark, path).digests)).isEmpty)
  }

  test("crash matrix: every unpartitioned swap crash shape recovers or fails loudly") {
    // the touched-partition commit's crash shapes are pinned by the
    // roll-forward test above; this is the whole-table swapTable twin
    // (the exact relabel's commit) over the bucketed labels table —
    // every reachable on-disk shape of a crashed swap must either
    // self-heal or fail loudly, never serve wrong labels silently
    import org.apache.spark.sql.DataFrame
    val day0 = Seq((1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    def fresh(): (String, Set[(Long, Long, Int)]) = {
      val path = java.nio.file.Files.createTempDirectory("swap_matrix_").toString
      StandingState.writeClusters(Dedup.duplicateClusters(day0), path)
      (path, StandingState.loadClusters(spark, path)
        .as[(Long, Long, Int)].collect().toSet)
    }
    def labels(path: String): Set[(Long, Long, Int)] =
      StandingState.loadClusters(spark, path).as[(Long, Long, Int)].collect().toSet
    def stageGarbage(path: String): Unit =
      Seq((99L, 99L, 1)).toDF("doc_id", "cluster_id", "cluster_size")
        .write.mode("overwrite").parquet(s"$path/clusters__staged")

    // shape A — crash BEFORE any rename (staged leftover, live intact):
    // live serves; the stale staged dir is inert (overwritten by the
    // next maintenance pass)
    locally {
      val (path, expect) = fresh()
      stageGarbage(path)
      assert(labels(path) === expect)
    }
    // shape B — crash BETWEEN the renames (live gone, retired complete,
    // staged complete): load heals retired back; the staged rewrite is
    // deliberately NOT promoted (retired is the KNOWN-good state)
    locally {
      val (path, expect) = fresh()
      stageGarbage(path)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(path, "clusters"),
        java.nio.file.Paths.get(path, "clusters__retired"))
      assert(labels(path) === expect)
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(path, "clusters")))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "clusters__retired")))
    }
    // shape C — shape B with the crashed holder's lease still present:
    // healing is skipped (a LIVE holder mid-swap owns the dirs), so the
    // read fails LOUDLY (path-not-found — there IS no live table), and
    // heals after breakLease
    locally {
      val (path, expect) = fresh()
      java.nio.file.Files.move(
        java.nio.file.Paths.get(path, "clusters"),
        java.nio.file.Paths.get(path, "clusters__retired"))
      java.nio.file.Files.write(java.nio.file.Paths.get(path, "_lease"),
        "op=updateClusters pid=31337".getBytes("UTF-8"))
      intercept[Exception](labels(path))
      assert(StandingState.breakLease(spark, path))
      assert(labels(path) === expect)
    }
  }

  test("racing updateClusters: lease serializes the whole read-modify-write (no lost update)") {
    // Two mutators race the SAME state with different new pairs. The lease
    // wraps the whole read-modify-write, so either they serialize (both
    // effects land) or a loser fails loudly at acquire and retries. A
    // load->acquire window outside the lease would let both read the same
    // snapshot and the second commit silently erase the first's update —
    // the final assertion (labels == both pairs applied) would then fail.
    val path = java.nio.file.Files.createTempDirectory("clusters_race_").toString
    val day0 = Seq((1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    StandingState.writeClusters(Dedup.duplicateClusters(day0), path)
    val pairsA = Seq((100L, 2L)).toDF("doc_a", "doc_b")
    val pairsB = Seq((200L, 11L)).toDF("doc_a", "doc_b")
    def applyWithRetry(pairs: org.apache.spark.sql.DataFrame): Unit = {
      var done = false
      var attempts = 0
      while (!done) {
        try { StandingState.updateClusters(path, pairs); done = true }
        catch {
          // lease-held at acquire, or the documented transient-reader
          // window of the OTHER mutator's swap (re-applying the same
          // pairs is idempotent, so a blanket retry is sound here)
          case scala.util.control.NonFatal(_) =>
            attempts += 1
            assert(attempts < 200, "retry storm: lease never released")
            Thread.sleep(20)
        }
      }
    }
    val ta = new Thread(() => applyWithRetry(pairsA))
    val tb = new Thread(() => applyWithRetry(pairsB))
    ta.start(); tb.start(); ta.join(30000); tb.join(30000)
    val got = StandingState.loadClusters(spark, path)
      .as[(Long, Long, Int)].collect().toSet
    val expect = Dedup.duplicateClusters(
        day0.unionByName(pairsA).unionByName(pairsB))
      .as[(Long, Long, Int)].collect().toSet
    assert(got === expect, "an update was lost under the race")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_lease")))
  }

  test("local-fs lease acquire is atomic: racing appenders never both win") {
    // RawLocalFileSystem's create(overwrite=false) is exists()-then-create;
    // the file: scheme must route through java.io.File.createNewFile
    // (genuinely atomic) so two racing local mutators cannot both succeed.
    // Each thread appends a distinct doc with retry-on-held; afterwards the
    // digest table must hold exactly the union of all appended docs'
    // digests — a torn/raced append would lose or duplicate artifacts.
    val path = java.nio.file.Files.createTempDirectory("lease_atomic_").toString
    StandingState.write(docs(1L -> base(1)), path)
    val n = 6
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until n).map { i =>
      new Thread(() => {
        var done = false
        var attempts = 0
        while (!done && attempts < 300) {
          try {
            StandingState.append(docs((100L + i) -> base(100 + i)), path)
            done = true
          } catch {
            // lease-held is the expected loser path; anything else still
            // counts an attempt so an unexpected failure mode surfaces as
            // failures > 0 instead of a dead thread passing silently
            case scala.util.control.NonFatal(_) =>
              attempts += 1; Thread.sleep(10)
          }
        }
        if (!done) failures.incrementAndGet()
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(failures.get() === 0, "an appender never acquired the lease")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_lease")))
    // every appended doc's replica now drops via the exact leg — all n
    // appends landed (none raced away with another's write window)
    val state = StandingState.load(spark, path)
    val replicas = docs((0 until n).map(i => (500L + i) -> base(100 + i)): _*)
    assert(ids(Dedup.exactIncrementalVsDigests(replicas, state.digests)).isEmpty)
  }

  test("compact aborts a stale snapshot when a full-table rewrite lands mid-compaction") {
    // compact's delta diff assumes only APPENDS happen between the
    // unleased snapshot pin and the leased diff. A full-table rewrite in
    // that window (a repair's ghost-drop, a writeSpanIndex overwrite)
    // replaces every pinned file; appending the post-rewrite files onto
    // the stale staged snapshot would RESURRECT the deliberately-dropped
    // rows. The vanished-f0 check must abort the stale snapshot and
    // re-pin — and the rewrite's drop must stick.
    val path = java.nio.file.Files.createTempDirectory("compact_gen_").toString
    val w = 6
    val keepDoc = (1 to 12).map(i => s"kp$i").mkString(" ")
    val ghostDoc = (1 to 12).map(i => s"gh$i").mkString(" ")
    val both = Seq(1L -> keepDoc, 2L -> ghostDoc).toDF("doc_id", "text")
    val keepOnly = Seq(1L -> keepDoc).toDF("doc_id", "text")
    StandingState.writeSpanIndex(both, path, w)
    // a few appends so the table has multiple files worth compacting
    (0 until 3).foreach { i =>
      StandingState.appendSpanHashes(
        Seq((10L + i) -> s"filler$i ${(1 to 6).map(j => s"fl${i}x$j").mkString(" ")}")
          .toDF("doc_id", "text"), path)
    }
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    StandingState.compactPostStageHook = { table =>
      if (table == "span_hashes" && fired.getAndIncrement() == 0) {
        // the repair-shaped full rewrite: ghost windows deliberately dropped
        StandingState.writeSpanIndex(keepOnly, path, w)
      }
    }
    try StandingState.compact(spark, path)
    finally StandingState.compactPostStageHook = _ => ()
    assert(fired.get() >= 1, "the injection point never fired")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_lease")))
    // the drop must STICK through the compaction: a lone ghost replica
    // finds nothing to collide with, while keep content still fires
    val (h, w2) = StandingState.loadSpanIndex(spark, path)
    val probe = Seq(90L -> ghostDoc, 91L -> keepDoc).toDF("doc_id", "text")
    val out = TextOps.removeDuplicatedSpansIncremental(probe, h, w2)
      .select("doc_id", "n_tokens", "n_removed")
      .as[(Long, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(90L)._3 === 0,
      "ghost windows were resurrected by a stale staged snapshot")
    assert(out(91L)._3 === out(91L)._2, "keep windows must still be indexed")
    // pathological: a rewrite racing EVERY snapshot attempt fails loudly
    // instead of publishing a stale snapshot or spinning forever
    StandingState.compactPostStageHook = { table =>
      if (table == "span_hashes") StandingState.writeSpanIndex(keepOnly, path, w)
    }
    val e = try intercept[IllegalStateException](StandingState.compact(spark, path))
    finally StandingState.compactPostStageHook = _ => ()
    assert(e.getMessage.contains("fully rewritten"), e.getMessage)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_lease")))
  }

  test("expire drops corpus rows and ALL their artifacts; shared digests survive via retained docs") {
    // the reference's key-TTL twin: expired docs must stop blocking
    // replicas of their own text, while artifacts shared with RETAINED
    // docs (identical text -> identical digest) must keep blocking
    // fully per-id-distinct tokens: a shared w-token prefix across the
    // TTL cut would legitimately keep the expired doc's first window
    // covered via the retained docs and make the span assertion vacuous
    val mk: Int => String = i => (1 to 24).map(j => s"ex${i}x$j").mkString(" ")
    val corpusDir = java.nio.file.Files.createTempDirectory("expire_docs_").toString
    // doc 3 is a byte replica of doc 2 (shared digest across the TTL cut)
    Seq((1L, mk(1)), (2L, mk(2)), (3L, mk(2)))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files.createTempDirectory("expire_state_").toString
    StandingState.write(spark.read.parquet(corpusDir), statePath,
      cfg = graft.llm.CorpusPipeline.Config(removeDupSpans = Some((6, 2))))
    // appended micro-batch so every table has multiple files
    assert(graft.streaming.CorpusIntakeJob.ingestTextBatch(
      Seq((100L, mk(100))).toDF("doc_id", "text"),
      statePath, corpusDir, tau = 0.5, gate = false, scrub = false) === 1L)

    val n = StandingState.expire(spark, statePath, corpusDir,
      col("doc_id") === 1L || col("doc_id") === 2L)
    assert(n === 2L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(statePath, "_lease")))
    assert(spark.read.parquet(corpusDir).select("doc_id").as[Long].collect().toSet
      === Set(3L, 100L))
    // span windows of the expired UNIQUE doc are no longer covered...
    val (h, w) = StandingState.loadSpanIndex(spark, statePath)
    val probe = Seq(90L -> mk(1), 91L -> mk(100)).toDF("doc_id", "text")
    val spanOut = TextOps.removeDuplicatedSpansIncremental(probe, h, w)
      .select("doc_id", "n_tokens", "n_removed")
      .as[(Long, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(spanOut(90L)._3 === 0, "expired doc's span windows still block")
    // ...while the retained appended doc's windows still are
    assert(spanOut(91L)._3 === spanOut(91L)._2,
      "retained doc's span windows must survive the rebuild")
    // a replica of the expired unique text now ADMITS end to end
    assert(graft.streaming.CorpusIntakeJob.ingestTextBatch(
      Seq((900L, mk(1))).toDF("doc_id", "text"),
      statePath, corpusDir, tau = 0.5, gate = false, scrub = false) === 1L)
    // a replica of the SHARED text still drops (doc 3 retained)
    assert(graft.streaming.CorpusIntakeJob.ingestTextBatch(
      Seq((901L, mk(2))).toDF("doc_id", "text"),
      statePath, corpusDir, tau = 0.5, gate = false, scrub = false) === 0L)
    // idempotent: the expired ids are gone, so a re-run drops nothing
    assert(StandingState.expire(spark, statePath, corpusDir,
      col("doc_id") === 1L || col("doc_id") === 2L) === 0L)
    assert(spark.read.parquet(corpusDir).select("doc_id").as[Long].collect().toSet
      === Set(3L, 100L, 900L))
  }

  test("keyed expire == StandingState.build over the retained corpus") {
    // the O(expired) anti-join pass must be RESULT-INVISIBLE vs building
    // the artifacts from scratch over the retained corpus: same retained
    // rows, same consumer-visible artifact sets
    val mk: Int => String = i => (1 to 24).map(j => s"dx${i}x$j").mkString(" ")
    val cfg = CorpusPipeline.Config(removeDupSpans = Some((6, 2)))
    val rows = Seq((1L, mk(1)), (2L, mk(2)), (3L, mk(2)), (4L, mk(4)))
    val corpusDir = java.nio.file.Files.createTempDirectory("dexp_docs_").toString
    rows.toDF("doc_id", "text").write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files.createTempDirectory("dexp_state_").toString
    StandingState.write(spark.read.parquet(corpusDir), statePath, cfg)
    val pred = col("doc_id") === 1L || col("doc_id") === 2L
    assert(StandingState.expire(spark, statePath, corpusDir, pred) === 2L)
    assert(spark.read.parquet(corpusDir).orderBy("doc_id").collect().map(_.toString).toSeq ===
      rows.toDF("doc_id", "text").filter(!pred).orderBy("doc_id").collect().map(_.toString).toSeq)
    // the pure reference: the artifacts of the retained rows, built fresh
    val ref = StandingState.build(rows.toDF("doc_id", "text").filter(!pred), cfg)
    // consumer projections: the exact leg's digest set, the span leg's
    // hash set, the LSH leg's band rows
    def digestSet(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("digest").distinct().as[String].collect().toSet
    def spanSet(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("h").distinct().as[String].collect().toSet
    def bandRows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("doc_id", "band", "sig", "n").distinct().collect().map(_.toString).toSet
    val loaded = StandingState.load(spark, statePath)
    assert(digestSet(loaded.digests) === digestSet(ref.digests))
    assert(spanSet(loaded.spanIndex.get._1) === spanSet(ref.spanIndex.get._1))
    assert(bandRows(loaded.bands) === bandRows(ref.bands))
    assert(digestSet(loaded.digests).nonEmpty && bandRows(loaded.bands).nonEmpty)
    // the shared-digest invariant: doc 3 (replica of expired 2) is
    // retained, so the shared digest must still stand
    val replica = Seq((900L, mk(2))).toDF("doc_id", "text")
    assert(Dedup.exactIncrementalVsDigests(replica, loaded.digests).count() === 0L)
  }

  test("expire retains NULL-predicate rows") {
    // a destructive maintenance op must not treat don't-know as expired:
    // a row where the predicate evaluates NULL (null ts) is RETAINED
    val mk: Int => String = i => (1 to 24).map(j => s"nx${i}x$j").mkString(" ")
    val corpusDir = java.nio.file.Files.createTempDirectory("nexp_docs_").toString
    Seq((1L, mk(1), Some("2024-01-01 00:00:00")),
        (2L, mk(2), None),
        (3L, mk(3), Some("2024-06-01 00:00:00")))
      .toDF("doc_id", "text", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files.createTempDirectory("nexp_state_").toString
    StandingState.write(spark.read.parquet(corpusDir), statePath)
    val n = StandingState.expire(spark, statePath, corpusDir,
      col("ts") < lit("2024-03-01 00:00:00").cast("timestamp"))
    assert(n === 1L, "only the positively-matching row drops")
    assert(spark.read.parquet(corpusDir).select("doc_id").as[Long]
      .collect().toSet === Set(2L, 3L), "the NULL-ts row must be retained")
  }

  test("expireEmbeddings: expired vectors unblock replicas end to end") {
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 31 + i) * 0.5).toFloat)
    val vecsDir = java.nio.file.Files.createTempDirectory("eexp_vecs_").toString
    Seq((1L, vec(1)), (2L, vec(2))).toDF("vec_id", "embedding")
      .withColumn("label", lit("s"))
      .write.mode("overwrite").parquet(vecsDir)
    val statePath = java.nio.file.Files.createTempDirectory("eexp_state_").toString
    StandingState.writeEmbBuckets(spark.read.parquet(vecsDir), statePath)
    // appended batch so both tables carry multiple files across the pass
    assert(graft.streaming.CorpusIntakeJob.ingestEmbeddingBatch(
      Seq((3L, vec(3))).toDF("vec_id", "embedding"),
      statePath, vecsDir, tau = 0.999) === 1L)

    val n = StandingState.expireEmbeddings(spark, statePath, vecsDir,
      col("vec_id") === 1L)
    assert(n === 1L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(statePath, "_lease")))
    assert(spark.read.parquet(vecsDir).select("vec_id").as[Long]
      .collect().toSet === Set(2L, 3L))
    assert(spark.read.parquet(s"$statePath/emb_buckets").select("vec_id")
      .as[Long].collect().toSet === Set(2L, 3L),
      "expired vector's bucket rows must be subtracted")
    // a replica of the EXPIRED vector now admits end to end...
    assert(graft.streaming.CorpusIntakeJob.ingestEmbeddingBatch(
      Seq((900L, vec(1))).toDF("vec_id", "embedding"),
      statePath, vecsDir, tau = 0.999) === 1L)
    // ...while replicas of retained/appended vectors still drop
    assert(graft.streaming.CorpusIntakeJob.ingestEmbeddingBatch(
      Seq((901L, vec(2)), (902L, vec(3))).toDF("vec_id", "embedding"),
      statePath, vecsDir, tau = 0.999) === 0L)
    // idempotent: the expired id is gone, so a re-run drops nothing
    assert(StandingState.expireEmbeddings(spark, statePath, vecsDir,
      col("vec_id") === 1L) === 0L)
  }

  test("relabelClusters after expire: ghosts drop, sizes recount, singletons drop, coarsening pinned") {
    val mk: Int => String = i =>
      "the tale of and to in " + (1 to 18).map(j => s"rc${i}x$j").mkString(" ")
    val corpusDir = java.nio.file.Files
      .createTempDirectory("relabel_docs_").toString
    Seq(1L, 2L, 3L, 10L, 11L, 20L).map(i => (i, mk(i.toInt)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files
      .createTempDirectory("relabel_state_").toString
    StandingState.write(spark.read.parquet(corpusDir), statePath)
    // cluster A = {1,2,3} connected THROUGH bridge doc 2; B = {10,11}
    StandingState.writeClusters(Dedup.duplicateClusters(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")), statePath, 4)
    // expire the bridge of A and one member of B, hygiene folded in
    val n = StandingState.expire(spark, statePath, corpusDir,
      expr("doc_id IN (2, 11)"), relabelClusters = true)
    assert(n === 2L)
    val labels = StandingState.loadClusters(spark, statePath)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Int)].collect().toSet
    // ghosts (2, 11) gone; B shrank to singleton {10} and DROPPED;
    // the pinned COARSENING: 1 and 3 were connected only through the
    // expired bridge 2, but the pair edges are not persisted, so they
    // stay co-labeled with the size recounted to the retained members
    assert(labels === Set((1L, 1L, 2), (3L, 1L, 2)))
    // the bucketed layout survives the rewrite (cpart dirs + meta)
    assert(spark.read.parquet(s"$statePath/clusters")
      .columns.contains("cpart"), "bucketed layout lost")
    assert(spark.read.parquet(s"$statePath/clusters_meta")
      .head().getAs[Int]("n_parts") === 4)
    // idempotent: no ghosts left -> 0, table untouched
    assert(StandingState.relabelClusters(spark, statePath, corpusDir) === 0L)
    // labels never affect ADMISSION: a replica of the EXPIRED bridge
    // re-admits and a replica of a RETAINED doc drops, cluster rows or
    // not — admission reads digests/bands only
    assert(graft.streaming.CorpusIntakeJob.ingestTextBatch(
      Seq((900L, mk(2)), (901L, mk(1))).toDF("doc_id", "text"),
      statePath, corpusDir, tau = 0.5, gate = false, scrub = false) === 1L)
    assert(spark.read.parquet(corpusDir).filter(col("doc_id") === 900L)
      .count() === 1L)
  }

  test("relabelClusters bucketed: only ghost-bearing partitions rewritten, rest byte-untouched") {
    val mk: Int => String = i =>
      "the tale of and to in " + (1 to 18).map(j => s"tp${i}x$j").mkString(" ")
    val corpusDir = java.nio.file.Files
      .createTempDirectory("tpart_docs_").toString
    // 4 two-member clusters whose cluster_ids (= min member) land in 4
    // DISTINCT cparts under nParts = 4: 1 % 4 = 1, 10 % 4 = 2,
    // 20 % 4 = 0, 31 % 4 = 3
    val members = Seq(1L, 2L, 10L, 11L, 20L, 21L, 31L, 32L)
    members.map(i => (i, mk(i.toInt))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files
      .createTempDirectory("tpart_state_").toString
    StandingState.write(spark.read.parquet(corpusDir), statePath)
    StandingState.writeClusters(
      Dedup.duplicateClusters(
        Seq((1L, 2L), (10L, 11L), (20L, 21L), (31L, 32L))
          .toDF("doc_a", "doc_b")),
      statePath, 4)
    // snapshot every partition's file census (name, size, mtime)
    def census(): Map[String, Set[(String, Long, Long)]] = {
      import scala.jdk.CollectionConverters._
      def listed[T](d: java.nio.file.Path)(
          f: Iterator[java.nio.file.Path] => T): T = {
        val st = java.nio.file.Files.list(d)
        try f(st.iterator().asScala) finally st.close()
      }
      val dir = java.nio.file.Paths.get(statePath, "clusters")
      listed(dir)(_.filter(_.getFileName.toString.startsWith("cpart="))
        .map { p =>
          p.getFileName.toString ->
            listed(p)(_.map(f =>
              (f.getFileName.toString, java.nio.file.Files.size(f),
                java.nio.file.Files.getLastModifiedTime(f).toMillis)).toSet)
        }.toMap)
    }
    val before = census()
    assert(before.keySet === Set("cpart=0", "cpart=1", "cpart=2", "cpart=3"))
    // expire doc 2 (ghosts cluster 1, cpart=1 -> partner 1 drops as a
    // singleton) and doc 11 (ghosts cluster 10, cpart=2 -> partner 10
    // drops) — cparts 0 and 3 must not be opened for write
    assert(StandingState.expire(spark, statePath, corpusDir,
      expr("doc_id IN (2, 11)"), relabelClusters = true) === 2L)
    val after = census()
    assert(after("cpart=0") === before("cpart=0"), "untouched partition rewritten")
    assert(after("cpart=3") === before("cpart=3"), "untouched partition rewritten")
    assert(after("cpart=1") !== before("cpart=1"))
    assert(after("cpart=2") !== before("cpart=2"))
    // row-identical to the whole-rewrite semantics: clusters 1 and 10
    // emptied to singletons and dropped; 20 and 31 intact
    assert(StandingState.loadClusters(spark, statePath)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Int)].collect().toSet ===
      Set((20L, 20L, 2), (21L, 20L, 2), (31L, 31L, 2), (32L, 31L, 2)))
    assert(spark.read.parquet(s"$statePath/clusters_meta")
      .head().getAs[Int]("n_parts") === 4)
    // idempotent re-scan is a no-op — and rewrites NOTHING
    val afterNoop = census()
    assert(StandingState.relabelClusters(spark, statePath, corpusDir) === 0L)
    assert(census() === afterNoop, "no-op pass must not rewrite any partition")
  }

  test("relabelClusters bucketed crash shapes: parts_staged rollback, parts_commit roll-forward") {
    val mk: Int => String = i =>
      "the tale of and to in " + (1 to 18).map(j => s"pc${i}x$j").mkString(" ")
    val corpusDir = java.nio.file.Files
      .createTempDirectory("pcrash_docs_").toString
    Seq(1L, 2L, 3L, 10L, 11L).map(i => (i, mk(i.toInt)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files
      .createTempDirectory("pcrash_state_").toString
    StandingState.write(spark.read.parquet(corpusDir), statePath)
    StandingState.writeClusters(
      Dedup.duplicateClusters(
        Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")),
      statePath, 4)
    // (a) LEFTOVER parts_staged WITHOUT a marker (crash mid-stage: the
    // live table was never touched) — the next relabel pass must
    // overwrite it and proceed, and the junk must not leak into labels
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(statePath, "clusters__parts_staged", "cpart=1"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(
        statePath, "clusters__parts_staged", "cpart=1", "junk"),
      "junk".getBytes("UTF-8"))
    assert(StandingState.expire(spark, statePath, corpusDir,
      expr("doc_id = 2"), relabelClusters = true) === 1L)
    // bridge coarsening: 1 and 3 stay co-labeled, size recounted
    assert(StandingState.loadClusters(spark, statePath)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Int)].collect().toSet ===
      Set((1L, 1L, 2), (3L, 1L, 2), (10L, 10L, 2), (11L, 10L, 2)))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(statePath, "clusters__parts_staged")),
      "staging area must be cleared after the commit")
    // (b) CRASH AFTER THE MARKER: the staged partitions are
    // authoritative and the next load must roll them FORWARD. Simulate
    // by staging a hand-built replacement for cpart=2 (cluster 10
    // shrunk to nothing -> empty dir) plus the marker.
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(statePath, "clusters__parts_staged", "cpart=2"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(statePath, "clusters__parts_commit"))
    assert(StandingState.loadClusters(spark, statePath)
      .select("doc_id").as[Long].collect().toSet === Set(1L, 3L),
      "marker must roll the staged empty partition forward on load")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(statePath, "clusters__parts_commit")))
  }

  test("relabelClusters crash shapes: leftover staged dir, stranded table, emptied labels") {
    val mk: Int => String = i =>
      "the tale of and to in " + (1 to 18).map(j => s"rx${i}x$j").mkString(" ")
    val corpusDir = java.nio.file.Files
      .createTempDirectory("rcrash_docs_").toString
    Seq(1L, 2L, 10L, 11L).map(i => (i, mk(i.toInt)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files
      .createTempDirectory("rcrash_state_").toString
    StandingState.write(spark.read.parquet(corpusDir), statePath)
    StandingState.writeClusters(Dedup.duplicateClusters(
      Seq((1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")), statePath, 4)
    // (a) LEFTOVER STAGED DIR from a crashed whole-table swap: inert for
    // the touched-partition pass, which must proceed
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(statePath, "clusters__staged"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(statePath, "clusters__staged", "junk"),
      "junk".getBytes("UTF-8"))
    assert(StandingState.expire(spark, statePath, corpusDir,
      expr("doc_id = 2"), relabelClusters = true) === 1L)
    assert(StandingState.loadClusters(spark, statePath)
      .select("doc_id").as[Long].collect().toSet === Set(10L, 11L))
    // (b) STRANDED TABLE: simulate a crash between swapTable's two
    // renames (live missing, only __retired) — relabel must heal and
    // run, not read "no labels" and no-op forever
    val live = java.nio.file.Paths.get(statePath, "clusters")
    val retired = java.nio.file.Paths.get(statePath, "clusters__retired")
    java.nio.file.Files.move(live, retired)
    // strand a ghost by expiring WITHOUT the hygiene first
    assert(StandingState.expire(spark, statePath, corpusDir,
      expr("doc_id = 11")) === 1L)
    assert(StandingState.relabelClusters(spark, statePath, corpusDir) === 1L,
      "stranded table must heal, then drop the ghost")
    // 11's ghost dropped -> 10 is a singleton -> cluster B gone: the
    // labels EMPTIED, and the table must stay readable in its layout
    assert(StandingState.loadClusters(spark, statePath).count() === 0L)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(statePath, "clusters_meta")))
    // idempotent after the empty rewrite
    assert(StandingState.relabelClusters(spark, statePath, corpusDir) === 0L)
  }

  test("empty labels: writeClusters and a relabel to zero keep the bucketed layout; updateClusters repopulates") {
    def cpartDirs(statePath: String): Set[String] = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(statePath, "clusters"))
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("cpart=")).toSet
      finally st.close()
    }
    def labelsOf(statePath: String): Set[(Long, Long, Int)] =
      StandingState.loadClusters(spark, statePath)
        .as[(Long, Long, Int)].collect().toSet
    // (a) writeClusters over ZERO labels: loads as zero rows with the
    // label schema, in the bucketed layout
    val emptyPath = java.nio.file.Files.createTempDirectory("empty_labels_").toString
    StandingState.writeClusters(
      Dedup.duplicateClusters(Seq((1L, 2L)).toDF("doc_a", "doc_b")).limit(0),
      emptyPath, 4)
    val empty = StandingState.loadClusters(spark, emptyPath)
    assert(empty.count() === 0L)
    assert(empty.columns.toSeq === Seq("doc_id", "cluster_id", "cluster_size"))
    assert(cpartDirs(emptyPath).nonEmpty)
    StandingState.updateClusters(emptyPath, Seq((5L, 6L)).toDF("doc_a", "doc_b"))
    assert(labelsOf(emptyPath) === Set((5L, 5L, 2), (6L, 5L, 2)))

    // (b) relabel DOWN to zero labels over a populated table: every
    // cluster loses a member to expire, so every touched partition ends
    // empty
    val mk: Int => String = i =>
      "the tale of and to in " + (1 to 18).map(j => s"ez${i}x$j").mkString(" ")
    val corpusDir = java.nio.file.Files.createTempDirectory("ezero_docs_").toString
    Seq(1L, 2L, 10L, 11L).map(i => (i, mk(i.toInt))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files.createTempDirectory("ezero_state_").toString
    StandingState.write(spark.read.parquet(corpusDir), statePath)
    StandingState.writeClusters(Dedup.duplicateClusters(
      Seq((1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")), statePath, 4)
    val before = cpartDirs(statePath)
    assert(before === Set("cpart=1", "cpart=2"))
    assert(StandingState.expire(spark, statePath, corpusDir,
      expr("doc_id IN (2, 11)"), relabelClusters = true) === 2L)
    // zero rows loaded in between, same layout: cpart dirs + meta row
    assert(labelsOf(statePath).isEmpty)
    assert(cpartDirs(statePath) === before)
    assert(spark.read.parquet(s"$statePath/clusters_meta")
      .head().getAs[Int]("n_parts") === 4)
    // the next ingest's pairs repopulate through the touched-partition
    // commit
    StandingState.updateClusters(statePath,
      Seq((1L, 10L), (20L, 21L)).toDF("doc_a", "doc_b"))
    assert(labelsOf(statePath) ===
      Set((1L, 1L, 2), (10L, 1L, 2), (20L, 20L, 2), (21L, 20L, 2)))
    assert(spark.read.parquet(s"$statePath/clusters").columns.contains("cpart"))
  }

  test("DSIR ratios: torn/partial tables refuse at load, re-fit swaps, crashed swap heals") {
    val corpusDir = java.nio.file.Files
      .createTempDirectory("dsirt_docs_").toString
    docs(1L -> base(1), 2L -> base(2), 3L -> base(3))
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files
      .createTempDirectory("dsirt_state_").toString
    StandingState.write(spark.read.parquet(corpusDir), statePath)
    val standing = spark.read.parquet(corpusDir)
    val ratios = TextOps.dsirLogRatios(
      standing, standing.filter(col("doc_id") === 1L), m = 16, lambda = 1.0)
    StandingState.writeDsirRatios(ratios, statePath, m = 16, lambda = 1.0)
    assert(StandingState.loadDsirRatios(spark, statePath, 16, 1.0).count() === 16L)
    // (a) PARTIALLY-COMMITTED table (the torn-overwrite shape a direct
    // mode("overwrite") could leave): surviving rows carry a
    // self-consistent regime, but the bucket set is not dense — the
    // regime guard alone would pass while dsirScoresWithRatios' inner
    // join silently zeroed the missing buckets. Must refuse at LOAD.
    val full = StandingState.loadDsirRatios(spark, statePath, 16, 1.0)
      .localCheckpoint(true)
    full.filter(col("bucket") < 8)
      .select(col("bucket"), col("log_ratio"),
        lit(16).as("m"), lit(1.0).as("lambda"))
      .write.mode("overwrite").parquet(s"$statePath/dsir_ratios")
    val e = intercept[IllegalArgumentException](
      StandingState.loadDsirRatios(spark, statePath, 16, 1.0))
    assert(e.getMessage.contains("densely"))
    // (b) MIXED-REGIME rows (two writes torn together): refuse loudly
    full.select(col("bucket"), col("log_ratio"),
        when(col("bucket") < 8, lit(16)).otherwise(lit(32)).as("m"),
        lit(1.0).as("lambda"))
      .write.mode("overwrite").parquet(s"$statePath/dsir_ratios")
    val e2 = intercept[IllegalArgumentException](
      StandingState.loadDsirRatios(spark, statePath, 16, 1.0))
    assert(e2.getMessage.contains("regimes"))
    // (c) RE-FIT over the broken table goes through the stage-and-swap
    // (live table replaced whole) and load passes again
    StandingState.writeDsirRatios(ratios, statePath, m = 16, lambda = 1.0)
    assert(StandingState.loadDsirRatios(spark, statePath, 16, 1.0).count() === 16L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(statePath, "dsir_ratios__retired")),
      "completed swap must clear the retired snapshot")
    // (d) CRASHED SWAP (live missing, complete __retired): load heals
    java.nio.file.Files.move(
      java.nio.file.Paths.get(statePath, "dsir_ratios"),
      java.nio.file.Paths.get(statePath, "dsir_ratios__retired"))
    assert(StandingState.loadDsirRatios(spark, statePath, 16, 1.0).count() === 16L)
  }

  test("expire on a KEYED state stranded at digests__retired heals and stays keyed (no regime downgrade)") {
    val mk: Int => String = i =>
      "the tale of and to in " + (1 to 18).map(j => s"sd${i}x$j").mkString(" ")
    val corpusDir = java.nio.file.Files
      .createTempDirectory("strand_docs_").toString
    (0L until 4L).map(i => (i, mk(i.toInt))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files
      .createTempDirectory("strand_state_").toString
    StandingState.write(spark.read.parquet(corpusDir), statePath) // keyed
    // simulate a crash between swapTable's two renames: the KEYED
    // digests live only at __retired
    java.nio.file.Files.move(
      java.nio.file.Paths.get(statePath, "digests"),
      java.nio.file.Paths.get(statePath, "digests__retired"))
    // expire must HEAL (not read "no digests") and run the keyed
    // subtraction over the healed table
    assert(StandingState.expire(spark, statePath, corpusDir,
      col("doc_id") === 0L) === 1L)
    assert(spark.read.parquet(s"$statePath/digests")
      .columns.contains("doc_id"), "keyed regime must survive the heal")
    // the expired doc's replica re-admits; a retained doc's still drops
    assert(graft.streaming.CorpusIntakeJob.ingestTextBatch(
      Seq((900L, mk(0)), (901L, mk(1))).toDF("doc_id", "text"),
      statePath, corpusDir, tau = 0.5, gate = false, scrub = false) === 1L)
    assert(spark.read.parquet(corpusDir).filter(col("doc_id") === 900L)
      .count() === 1L)
  }

  test("expireEmbeddings counts dropped ROWS, not distinct ids (crash-window double appends)") {
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 31 + i) * 0.5).toFloat)
    val vecsDir = java.nio.file.Files.createTempDirectory("edup_vecs_").toString
    // vec_id 1 appears TWICE (a transient crash-window double append);
    // the return contract is "vector rows dropped", matching expire's
    Seq((1L, vec(1)), (1L, vec(1)), (2L, vec(2)))
      .toDF("vec_id", "embedding").withColumn("label", lit("s"))
      .write.mode("overwrite").parquet(vecsDir)
    val statePath = java.nio.file.Files.createTempDirectory("edup_state_").toString
    StandingState.writeEmbBuckets(spark.read.parquet(vecsDir), statePath)
    assert(StandingState.expireEmbeddings(spark, statePath, vecsDir,
      col("vec_id") === 1L) === 2L)
    assert(spark.read.parquet(vecsDir).select("vec_id").as[Long]
      .collect().toSeq === Seq(2L))
  }

  test("expireMedia: expired items unblock replicas end to end") {
    // engineered bright/dark rasters — see the runMediaStream spec's
    // aHash note: prose rasters all hash within hamming 8 of each other
    val mk: Int => String = i =>
      (0 until 20).map { j =>
        if (((i.toLong * 2654435761L >> j) & 1L) == 1L) "!!!!!" else "zzzzz"
      }.mkString(" ")
    def mediaOf(rows: (Long, String)*) =
      Multimodal.asMedia(rows.toDF("doc_id", "text"))
    val mediaDir = java.nio.file.Files.createTempDirectory("mexp_media_").toString
    mediaOf(1L -> mk(1), 2L -> mk(2)).write.mode("overwrite").parquet(mediaDir)
    val statePath = java.nio.file.Files.createTempDirectory("mexp_state_").toString
    StandingState.writeMediaState(
      Multimodal.imagePhash(spark.read.parquet(mediaDir)), statePath)
    assert(graft.streaming.CorpusIntakeJob.ingestMediaBatch(
      mediaOf(3L -> mk(3)), statePath, mediaDir) === 1L)

    val n = StandingState.expireMedia(spark, statePath, mediaDir,
      col("media_id") === 1L)
    assert(n === 1L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(statePath, "_lease")))
    assert(spark.read.parquet(mediaDir).select("media_id").as[Long]
      .collect().toSet === Set(2L, 3L))
    Seq("media_phashes", "media_bands").foreach { t =>
      assert(spark.read.parquet(s"$statePath/$t").select("media_id")
        .as[Long].collect().toSet === Set(2L, 3L),
        s"expired item's $t rows must be subtracted")
    }
    // a byte replica of the EXPIRED item now admits end to end...
    assert(graft.streaming.CorpusIntakeJob.ingestMediaBatch(
      mediaOf(900L -> mk(1)), statePath, mediaDir) === 1L)
    // ...while a near-replica of a RETAINED item still drops
    assert(graft.streaming.CorpusIntakeJob.ingestMediaBatch(
      mediaOf(901L -> (mk(2) + " !!")), statePath, mediaDir) === 0L)
    // idempotent re-run
    assert(StandingState.expireMedia(spark, statePath, mediaDir,
      col("media_id") === 1L) === 0L)
  }

  test("a staged dir deleted mid-compaction (cross-host staged-GC) re-pins cleanly") {
    // A concurrent same-table compactor on ANOTHER host can age-GC this
    // run's staged dir (pid-scoping only protects same-host runs). The
    // victim must treat the vanished staged dir like a stale snapshot —
    // abort, heal if the loss surfaced mid-swap, re-pin — NOT die on a
    // files-vanished FS error. The hook deletes the staged dir after
    // phase 2, so the failure surfaces at the phase-3 staged->live
    // rename: the nastiest shape, with the table already at __retired.
    import scala.jdk.CollectionConverters._
    val path = java.nio.file.Files.createTempDirectory("staged_gc_race_").toString
    val w = 6
    val d1 = (1 to 12).map(i => s"aa$i").mkString(" ")
    StandingState.writeSpanIndex(Seq(1L -> d1).toDF("doc_id", "text"), path, w)
    (0 until 3).foreach { i =>
      StandingState.appendSpanHashes(
        Seq((10L + i) -> (1 to 8).map(j => s"b${i}x$j").mkString(" "))
          .toDF("doc_id", "text"), path)
    }
    val before = StandingState.loadSpanIndex(spark, path)._1
      .collect().map(_.toString).sorted.toSeq
    def rmRecursive(p: java.nio.file.Path): Unit =
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    StandingState.compactPostStageHook = { table =>
      if (table == "span_hashes" && fired.getAndIncrement() == 0) {
        val st = java.nio.file.Files.list(java.nio.file.Paths.get(path))
        try st.iterator().asScala
          .filter(_.getFileName.toString.startsWith("span_hashes__staged_"))
          .foreach(rmRecursive)
        finally st.close()
      }
    }
    try StandingState.compact(spark, path)
    finally StandingState.compactPostStageHook = _ => ()
    assert(fired.get() >= 1, "the injection point never fired")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_lease")))
    val after = StandingState.loadSpanIndex(spark, path)._1
      .collect().map(_.toString).sorted.toSeq
    assert(after === before, "re-pinned compaction must preserve content")
  }

  test("staged-GC is pid-scoped: an aged live-pid staged dir survives, a dead-pid one is collected") {
    val path = java.nio.file.Files.createTempDirectory("staged_gc_pid_").toString
    val w = 6
    StandingState.writeSpanIndex(
      Seq(1L -> (1 to 12).map(i => s"cc$i").mkString(" ")).toDF("doc_id", "text"),
      path, w)
    (0 until 2).foreach { i =>
      StandingState.appendSpanHashes(
        Seq((20L + i) -> (1 to 8).map(j => s"d${i}x$j").mkString(" "))
          .toDF("doc_id", "text"), path)
    }
    val parent = java.nio.file.Paths.get(path)
    val livePid = ProcessHandle.current().pid()
    // 999999999 exceeds any Linux pid_max -> never alive
    val liveDir = parent.resolve(s"span_hashes__staged_${livePid}_1")
    val deadDir = parent.resolve(s"span_hashes__staged_999999999_1")
    Seq(liveDir, deadDir).foreach { d =>
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve("part-stub.parquet"), Array[Byte](1))
      java.nio.file.Files.setLastModifiedTime(d,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 48L * 3600 * 1000))
    }
    StandingState.compact(spark, path) // successful swap runs the GC
    assert(java.nio.file.Files.exists(liveDir),
      "a staged dir whose pid is alive on this host must survive age-GC " +
        "(it may be a >24h phase-2 rewrite)")
    assert(!java.nio.file.Files.exists(deadDir),
      "a crashed (dead-pid) compactor's aged staged dir must be collected")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_lease")))
  }

  test("pair edges: expire subtracts, exact relabel == fresh CC over retained pairs, coarse default stays") {
    val mk: Int => String = i => (1 to 24).map(j => s"pe${i}x$j").mkString(" ")
    def labelsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select("doc_id", "cluster_id", "cluster_size")
        .as[(Long, Long, Int)].collect().toSet
    val corpusDir = java.nio.file.Files.createTempDirectory("pe_docs_").toString
    (1 to 5).map(i => (i.toLong, mk(i), "s"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files.createTempDirectory("pe_state_").toString
    StandingState.write(spark.read.parquet(corpusDir), statePath)
    // 3 BRIDGES 1 and 2 (no direct 1-2 edge); 4-5 is a direct pair
    val pairs = Seq((1L, 3L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    StandingState.writeClusters(Dedup.duplicateClusters(pairs), statePath, nParts = 4)
    StandingState.writePairEdges(pairs, statePath)
    // keyed expire of the bridge doc subtracts its edges like every
    // other doc-keyed artifact (an edge drops when EITHER end expires)
    assert(StandingState.expire(
      spark, statePath, corpusDir, col("doc_id") === 3L) === 1L)
    assert(StandingState.loadPairEdges(spark, statePath)
      .as[(Long, Long)].collect().toSet === Set((4L, 5L)))
    // COARSE default first: 1 and 2 stay co-labeled (documented
    // coarsening), sizes recounted
    assert(StandingState.relabelClusters(spark, statePath, corpusDir) === 1L)
    val coarse = labelsOf(StandingState.loadClusters(spark, statePath))
    assert(coarse.filter(r => Set(1L, 2L)(r._1)).map(_._3) === Set(2),
      "coarse form must keep the bridged pair co-labeled")
    // EXACT relabel: the bridge is gone, so 1 and 2 split to singletons
    // and drop; result == fresh CC over the retained verified pairs
    assert(StandingState.relabelClusters(
      spark, statePath, corpusDir, exact = true) === 2L)
    val exact = labelsOf(StandingState.loadClusters(spark, statePath))
    assert(exact === labelsOf(
      Dedup.duplicateClusters(Seq((4L, 5L)).toDF("doc_a", "doc_b"))),
      "exact relabel must equal fresh CC over retained pairs")
    // idempotent: a re-run removes nothing further
    assert(StandingState.relabelClusters(
      spark, statePath, corpusDir, exact = true) === 0L)
    // updateClusters MAINTAINS the edge table once present: a new
    // direct 1-2 pair appends and survives the next exact relabel
    StandingState.updateClusters(statePath, Seq((1L, 2L)).toDF("doc_a", "doc_b"))
    assert(StandingState.loadPairEdges(spark, statePath)
      .as[(Long, Long)].collect().toSet === Set((4L, 5L), (1L, 2L)))
    assert(StandingState.relabelClusters(
      spark, statePath, corpusDir, exact = true) === 0L)
    assert(labelsOf(StandingState.loadClusters(spark, statePath)) ===
      labelsOf(Dedup.duplicateClusters(
        Seq((4L, 5L), (1L, 2L)).toDF("doc_a", "doc_b"))))
    // exact without edges fails loudly — silently falling back to the
    // coarse form would misreport the semantics the caller asked for
    val corpusDir2 = java.nio.file.Files.createTempDirectory("pe_docs2_").toString
    Seq((1L, mk(1), "s")).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(corpusDir2)
    val statePath2 = java.nio.file.Files.createTempDirectory("pe_state2_").toString
    StandingState.writeClusters(
      Dedup.duplicateClusters(Seq((1L, 2L)).toDF("doc_a", "doc_b")), statePath2)
    intercept[IllegalArgumentException](
      StandingState.relabelClusters(spark, statePath2, corpusDir2, exact = true))
  }

  test("source census: maintained == recount after init, each ingest append, and expire; consumers agree") {
    val mk: Int => String = i => (1 to 24).map(j => s"sc${i}x$j").mkString(" ")
    val corpusDir = java.nio.file.Files.createTempDirectory("census_docs_").toString
    Seq((1L, mk(1), "a"), (2L, mk(2), "a"), (3L, mk(3), "b"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files.createTempDirectory("census_state_").toString
    StandingState.write(spark.read.parquet(corpusDir), statePath)
    StandingState.writeSourceCensus(spark, statePath, corpusDir)
    def censusMap: Map[String, Long] =
      StandingState.loadSourceCensus(spark, statePath)
        .as[(String, Long)].collect().toMap
    def recountMap: Map[String, Long] =
      spark.read.parquet(corpusDir).groupBy("source").count()
        .as[(String, Long)].collect().toMap
    assert(censusMap === Map("a" -> 2L, "b" -> 1L))
    // ingest 1: two admitted docs (one novel source), one dropped replica
    assert(graft.streaming.CorpusIntakeJob.ingestTextBatch(
      Seq((10L, mk(10), "a"), (11L, mk(11), "c"), (12L, mk(1), "b"))
        .toDF("doc_id", "text", "source"),
      statePath, corpusDir, tau = 0.5, gate = false, scrub = false) === 2L)
    assert(censusMap === Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    assert(censusMap === recountMap)
    // ingest 2: the maintained fold composes across sequential ingests
    assert(graft.streaming.CorpusIntakeJob.ingestTextBatch(
      Seq((20L, mk(20), "b")).toDF("doc_id", "text", "source"),
      statePath, corpusDir, tau = 0.5, gate = false, scrub = false) === 1L)
    assert(censusMap === recountMap)
    // expire: the recount-shaped upkeep preserves the equality
    assert(StandingState.expire(
      spark, statePath, corpusDir, col("source") === "a") === 3L)
    assert(censusMap === recountMap)
    assert(censusMap === Map("b" -> 2L, "c" -> 1L))
    // manufactured drift (the crash window: corpus appended, census not)
    // heals through the witness on the startup repair pass
    Seq((30L, mk(30), "c")).toDF("doc_id", "text", "source")
      .write.mode("append").parquet(corpusDir)
    assert(censusMap !== recountMap)
    StandingState.repairTextArtifacts(spark, statePath, corpusDir)
    assert(censusMap === recountMap)
    // consumers: the maintained census feeds the incremental cap and the
    // temperature mix exactly like a fresh recount frame would
    val batch = (100 to 140).map(i => (i.toLong, mk(i),
      if (i % 2 == 0) "b" else "c")).toDF("doc_id", "text", "source")
    val viaState = Mixing.capPerKeyIncremental(
      batch, StandingState.loadSourceCensus(spark, statePath), maxPerKey = 5)
    val viaRecount = Mixing.capPerKeyIncremental(
      batch, spark.read.parquet(corpusDir).groupBy("source")
        .agg(count(lit(1)).as("n")), maxPerKey = 5)
    assert(ids(viaState) === ids(viaRecount))
    val mixState = Mixing.temperatureSampleCounts(
      batch, targetDocs = 10L, StandingState.loadSourceCensus(spark, statePath))
    val mixOver = Mixing.temperatureSample(
      batch, targetDocs = 10L,
      censusOver = Some(spark.read.parquet(corpusDir)))
    assert(ids(mixState) === ids(mixOver))
  }

  test("census deep witness: a compensating equal-total drift heals per-source; cheap witness is blind to it") {
    val mk: Int => String = i => (1 to 24).map(j => s"cw${i}x$j").mkString(" ")
    val corpusDir = java.nio.file.Files.createTempDirectory("censusw_docs_").toString
    Seq((1L, mk(1), "a"), (2L, mk(2), "a"), (3L, mk(3), "b"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files.createTempDirectory("censusw_state_").toString
    StandingState.write(spark.read.parquet(corpusDir), statePath)
    StandingState.writeSourceCensus(spark, statePath, corpusDir)
    def censusMap: Map[String, Long] =
      StandingState.loadSourceCensus(spark, statePath)
        .as[(String, Long)].collect().toMap
    // plant the COMPENSATING drift: total preserved (3), per-source split
    // skewed — two crash shapes with no reconcile between them
    Seq(("a", 1L), ("b", 2L)).toDF("source", "n")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$statePath/source_census")
    assert(censusMap === Map("a" -> 1L, "b" -> 2L))
    // the cheap (total-only) witness is documented-blind to this shape
    assert(!StandingState.reconcileSourceCensus(spark, statePath, corpusDir))
    assert(censusMap === Map("a" -> 1L, "b" -> 2L))
    // the deep (per-source) witness fires and heals by recount
    assert(StandingState.reconcileSourceCensus(
      spark, statePath, corpusDir, deep = true))
    assert(censusMap === Map("a" -> 2L, "b" -> 1L))
    // idempotent: a healthy census passes the deep witness without a swap
    assert(!StandingState.reconcileSourceCensus(
      spark, statePath, corpusDir, deep = true))
    // a source present on only ONE side also fires the deep witness
    // (full-outer: census names a source the corpus no longer has, with
    // another source absorbing its count — total still 3)
    Seq(("a", 2L), ("zz", 1L)).toDF("source", "n")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$statePath/source_census")
    assert(!StandingState.reconcileSourceCensus(spark, statePath, corpusDir))
    assert(StandingState.reconcileSourceCensus(
      spark, statePath, corpusDir, deep = true))
    assert(censusMap === Map("a" -> 2L, "b" -> 1L))
    // expire runs the DEEP witness end-to-end: plant a census whose total
    // will MATCH the post-expire corpus count (2) while the split is
    // wrong — the cheap witness would be blind, so only the deep pass
    // inside expire can explain the heal
    Seq(("a", 1L), ("b", 1L)).toDF("source", "n")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$statePath/source_census")
    assert(StandingState.expire(
      spark, statePath, corpusDir, col("doc_id") === 3L) === 1L)
    assert(censusMap === Map("a" -> 2L))
    // NULL sources: groupBy counts them as a group on both sides, and
    // the deep witness joins NULL-SAFELY — a healthy census over a
    // NULL-bearing corpus must NOT flag phantom drift (a plain equality
    // join would leave the two NULL rows unmatched forever)
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          org.apache.spark.sql.Row(50L, mk(50), null: String))),
        spark.read.parquet(corpusDir).schema)
      .write.mode("append").parquet(corpusDir)
    assert(StandingState.reconcileSourceCensus(
      spark, statePath, corpusDir, deep = true),
      "the NULL-source append is genuine drift once — heals by recount")
    assert(!StandingState.reconcileSourceCensus(
      spark, statePath, corpusDir, deep = true),
      "healthy NULL-bearing census must not flag phantom drift")
    val withNull = StandingState.loadSourceCensus(spark, statePath)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(withNull === Map(Some("a") -> 2L, None -> 1L))
  }

  test("DSIR ratios: regime-guarded state artifact — mismatch loud, expire leaves it untouched") {
    val corpusDir = java.nio.file.Files.createTempDirectory("dsir_docs_").toString
    docs(1L -> base(1), 2L -> base(2), 3L -> base(3))
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files.createTempDirectory("dsir_state_").toString
    StandingState.write(spark.read.parquet(corpusDir), statePath)
    val standing = spark.read.parquet(corpusDir)
    val ratios = TextOps.dsirLogRatios(
      standing, standing.filter(col("doc_id") === 1L), m = 64, lambda = 1.0)
    StandingState.writeDsirRatios(ratios, statePath, m = 64, lambda = 1.0)
    // scoring through the state path == scoring the in-session ratios
    val batch = docs(10L -> base(10))
    val viaState = TextOps.dsirScoresWithRatios(
      batch, StandingState.loadDsirRatios(spark, statePath, 64, 1.0), m = 64)
    val direct = TextOps.dsirScoresWithRatios(batch, ratios, m = 64)
    assert(viaState.collect().map(_.toString).toSeq ===
      direct.collect().map(_.toString).toSeq)
    // regime mismatch fails loudly on BOTH axes — cross-regime scoring
    // would silently mis-weight every bucket
    intercept[IllegalArgumentException](
      StandingState.loadDsirRatios(spark, statePath, m = 128, lambda = 1.0))
    intercept[IllegalArgumentException](
      StandingState.loadDsirRatios(spark, statePath, m = 64, lambda = 0.5))
    // retention leaves the fitted model untouched (centroid rule): the
    // ratio table's file census is byte-identical across an expire
    def census(sub: String): Seq[(String, Long, Long)] = {
      val d = java.nio.file.Paths.get(statePath, sub)
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.list(d)
      try st.iterator().asScala
        .filter(p => !p.getFileName.toString.startsWith("_"))
        .map(p => (p.getFileName.toString, java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSeq.sorted
      finally st.close()
    }
    val before = census("dsir_ratios")
    assert(StandingState.expire(
      spark, statePath, corpusDir, col("doc_id") === 2L) === 1L)
    assert(census("dsir_ratios") === before,
      "expire must not touch the fitted DSIR model")
    assert(StandingState.loadDsirRatios(spark, statePath, 64, 1.0)
      .count() === 64L)
  }

  test("payload-free digests and unbucketed clusters fail at load with the rewrite message") {
    val mk: Int => String = i => (1 to 24).map(j => s"pf${i}x$j").mkString(" ")
    val corpusDir = java.nio.file.Files.createTempDirectory("pfree_docs_").toString
    Seq((1L, mk(1)), (2L, mk(2))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files.createTempDirectory("pfree_state_").toString
    val cfg = CorpusPipeline.Config(removeDupSpans = Some((6, 2)))
    StandingState.write(spark.read.parquet(corpusDir), statePath, cfg)
    // plant the payload-free layout of older code: hash rows, no doc_id
    def stripDocId(table: String, hash: String): Unit =
      spark.read.parquet(s"$statePath/$table").select(hash).distinct()
        .localCheckpoint(true)
        .write.mode("overwrite").parquet(s"$statePath/$table")
    stripDocId("digests", "digest")
    val e1 = intercept[IllegalStateException](StandingState.load(spark, statePath))
    assert(e1.getMessage.contains("digests") &&
      e1.getMessage.contains("rewrite it via StandingState.write"), e1.getMessage)
    val e2 = intercept[IllegalStateException](StandingState.expire(
      spark, statePath, corpusDir, col("doc_id") === 1L))
    assert(e2.getMessage.contains("rewrite it via StandingState.write"), e2.getMessage)
    assert(spark.read.parquet(corpusDir).count() === 2L,
      "the refusal must come before any mutation")
    // the span index likewise, after a rewrite restored the digests
    StandingState.write(spark.read.parquet(corpusDir), statePath, cfg)
    stripDocId("span_hashes", "h")
    val e3 = intercept[IllegalStateException](StandingState.load(spark, statePath))
    assert(e3.getMessage.contains("span_hashes") &&
      e3.getMessage.contains("rewrite it via StandingState.write"), e3.getMessage)
    intercept[IllegalStateException](StandingState.loadSpanIndex(spark, statePath))
    StandingState.write(spark.read.parquet(corpusDir), statePath, cfg)
    assert(StandingState.load(spark, statePath).spanIndex.isDefined)
    // an unbucketed clusters/ table (no clusters_meta): loud at load and
    // at update, healthy again after writeClusters
    val labels = Dedup.duplicateClusters(Seq((1L, 2L)).toDF("doc_a", "doc_b"))
    labels.write.mode("overwrite").parquet(s"$statePath/clusters")
    val e4 = intercept[IllegalStateException](StandingState.loadClusters(spark, statePath))
    assert(e4.getMessage.contains("clusters_meta") &&
      e4.getMessage.contains("rewrite it via StandingState.writeClusters"), e4.getMessage)
    intercept[IllegalStateException](StandingState.updateClusters(
      statePath, Seq((2L, 3L)).toDF("doc_a", "doc_b")))
    StandingState.writeClusters(labels, statePath)
    assert(StandingState.loadClusters(spark, statePath).count() === 2L)
  }

  test("a failed overwrite of an existing state never loads as complete") {
    // parent dir name "overwrite_tear_" selects the state whose centroids
    // write the test committer fails at job commit (below)
    val path = java.nio.file.Files.createTempDirectory("overwrite_tear_").toString
    val emb = Seq((1L, Seq.fill(8)(1.0f)), (2L, Seq.fill(8)(-1.0f)),
        (3L, Seq.fill(8)(0.5f)), (4L, Seq.fill(8)(-0.5f)))
      .toDF("doc_id", "embedding")
    val cfg = CorpusPipeline.Config(semDedupNCentroids = 2)
    StandingState.write(docs(1L -> base(1), 2L -> base(2)), path, cfg,
      embeddings = Some(emb))
    assert(StandingState.load(spark, path).centroids.isDefined)
    // overwrite with a new corpus: the digest/band legs land, the
    // centroids leg fails
    val key = "spark.sql.parquet.output.committer.class"
    spark.conf.set(key, classOf[FailingCentroidsCommitter].getName)
    try intercept[Exception](StandingState.write(
      docs(3L -> base(3), 4L -> base(4)), path, cfg, embeddings = Some(emb)))
    finally spark.conf.unset(key)
    // the old meta must not vouch for the mixed tables
    val e = intercept[Exception](StandingState.load(spark, path))
    assert(e.getMessage.contains("meta"), e.getMessage)
    // a completed rewrite loads again
    StandingState.write(docs(3L -> base(3), 4L -> base(4)), path, cfg,
      embeddings = Some(emb))
    val loaded = StandingState.load(spark, path)
    assert(loaded.centroids.isDefined)
    assert(ids(loaded.digests) === Seq(3L, 4L))
  }

  test("expire's parallel compactors queue within the JVM for the lease") {
    // the digests and bands subtractions run concurrently; released into
    // phase 3 together with a zero lease-retry timeout, a compactor that
    // found its SIBLING holding the lease would fail the whole expire.
    // Only holders outside the JVM may count against the timeout.
    val mk: Int => String = i => (1 to 24).map(j => s"pq${i}x$j").mkString(" ")
    val corpusDir = java.nio.file.Files.createTempDirectory("pcomp_docs_").toString
    (1L to 4L).map(i => (i, mk(i.toInt))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusDir)
    val statePath = java.nio.file.Files.createTempDirectory("pcomp_state_").toString
    StandingState.write(spark.read.parquet(corpusDir), statePath)
    val atPhase3 = new java.util.concurrent.CountDownLatch(2)
    StandingState.compactPostStageHook = { table =>
      if (table == "digests" || table == "bands") {
        atPhase3.countDown()
        atPhase3.await(60, java.util.concurrent.TimeUnit.SECONDS)
      }
    }
    spark.conf.set("spark.graft.lease.retryTimeoutMs", "0")
    try assert(StandingState.expire(
      spark, statePath, corpusDir, col("doc_id") === 1L) === 1L)
    finally {
      StandingState.compactPostStageHook = _ => ()
      spark.conf.set("spark.graft.lease.retryTimeoutMs", "60000")
    }
    assert(atPhase3.getCount === 0L, "both compactors must reach phase 3")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(statePath, "_lease")))
    val state = StandingState.load(spark, statePath)
    assert(ids(state.digests) === Seq(2L, 3L, 4L))
    assert(ids(state.bands.select("doc_id").distinct()) === Seq(2L, 3L, 4L))
  }
}

/** Parquet committer that fails the job commit of a `centroids` table
  * under a dir named `overwrite_tear_*` and commits everything else
  * normally — the injected failure of one [[StandingState.write]] leg. */
class FailingCentroidsCommitter(
    out: org.apache.hadoop.fs.Path,
    ctx: org.apache.hadoop.mapreduce.TaskAttemptContext)
    extends org.apache.parquet.hadoop.ParquetOutputCommitter(out, ctx) {
  override def commitJob(job: org.apache.hadoop.mapreduce.JobContext): Unit =
    if (out.getName == "centroids" &&
        out.getParent.getName.startsWith("overwrite_tear_"))
      throw new java.io.IOException(s"injected commit failure for $out")
    else super.commitJob(job)
}
