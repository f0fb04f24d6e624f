package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** PERSISTED standing-corpus state for the ingest cycle — the artifact
  * store that makes [[CorpusPipeline.prepareIncremental]] truly
  * batch-shaped RUN-OVER-RUN, not just within one run.
  *
  * Without it, every daily ingest recomputes the standing side from the
  * corpus text: the exact leg re-digests every standing doc, the LSH leg
  * re-runs the shingle + minhash projection over every standing doc, and
  * the semantic leg (absent passed centroids) re-runs a Lloyd training —
  * all O(standing), i.e. O(100 TB), for a batch-sized result. This state
  * persists exactly those standing-side derivations as parquet tables:
  *
  *  - `digests/`   — (doc_id, digest) rows ([[Dedup.digestCol]] of the
  *                   scrubbed text), the [[Dedup.exactIncrementalVsDigests]]
  *                   side: 16 + 8 bytes per standing doc;
  *  - `bands/`     — LSH band rows (doc_id, band, sig, n) over the
  *                   (optionally normalized) text, the
  *                   [[Dedup.dedupNearLshIncrementalVsBands]] side;
  *  - `centroids/` — frozen SemDeDup centroids (when an embeddings frame
  *                   was supplied): k x dim doubles;
  *  - `meta/`      — one row recording the fingerprint parameters
  *                   (shingleSize, numHashes, bandRows, normalization)
  *                   so a state cannot silently be used under a different
  *                   [[CorpusPipeline.Config]].
  *
  * Standing TEXT is deliberately NOT part of the state: the incremental
  * legs touch standing text only for batch-shaped candidate verification
  * and censuses, which read the standing corpus table directly (with
  * semi-join pruning). [[append]] closes the cycle: after admitting a
  * prepared batch, its digests and band rows append to the tables, so the
  * next ingest's standing side is one table scan of precomputed artifacts
  * regardless of corpus size.
  */
final case class StandingState(
    digests: DataFrame,
    bands: DataFrame,
    centroids: Option[Seq[Seq[Double]]],
    meta: StandingState.Meta,
    spanIndex: Option[(DataFrame, Int)] = None) {

  /** Fail loudly when a state trained under one fingerprint regime is fed
    * to a pipeline configured with another — mixed band rows would
    * silently miss near-dups. The span check is index-presence + window
    * width: a pipeline with the span stage on fed a state without a span
    * index would silently skip standing-side span coverage, and mixed
    * window widths would never hash-match. */
  def requireCompatible(cfg: CorpusPipeline.Config): Unit = {
    StandingState.requireMetaCompatible(meta, cfg)
    cfg.removeDupSpans.foreach { case (w, _) =>
      require(spanIndex.isDefined,
        "standing state has no span index but the config enables span dedup " +
          "(removeDupSpans) — rebuild/rewrite the state under this config")
      require(spanIndex.get._2 == w,
        s"standing state span index has w=${spanIndex.get._2}, config wants $w")
    }
  }
}

object StandingState {

  /** The fingerprint regime a state was written under (the `meta/` row). */
  final case class Meta(
      shingleSize: Int,
      numHashes: Int,
      bandRows: Int,
      normalizedFingerprints: Boolean)

  /** The regime-compatibility check behind [[StandingState.requireCompatible]],
    * meta-only so the append paths can run it without a loaded state. */
  private[llm] def requireMetaCompatible(meta: Meta, cfg: CorpusPipeline.Config): Unit = {
    require(meta.shingleSize == cfg.shingleSize,
      s"standing state has shingleSize ${meta.shingleSize}, config wants ${cfg.shingleSize}")
    require(meta.normalizedFingerprints == cfg.normalizeFingerprints,
      s"standing state normalizedFingerprints=${meta.normalizedFingerprints}, " +
        s"config wants ${cfg.normalizeFingerprints}")
  }

  /** The fingerprint projection the state persists for a corpus frame
    * under `cfg`: digests over the raw (scrubbed) text — exact dedup is
    * byte-exact by design — and band rows over the normalized text when
    * the config normalizes fingerprints, mirroring
    * [[CorpusPipeline.prepareIncremental]]'s legs exactly. */
  private def artifacts(
      corpus: DataFrame, cfg: CorpusPipeline.Config,
      numHashes: Int, bandRows: Int): (DataFrame, DataFrame) = {
    // DOC-KEYED digests carry the contributing doc_id (one row per doc) —
    // the schema that makes retention SUBTRACTION sound: an expired doc's
    // row drops by anti-join while a retained doc sharing the digest
    // keeps its own row, so the digest stays standing
    // ([[Dedup.exactIncrementalVsDigests]] projects
    // `select("digest").distinct()`).
    val digests = corpus.select(col("doc_id"), Dedup.digestCol("text").as("digest"))
    val fpCorpus =
      if (cfg.normalizeFingerprints) TextOps.normalized(corpus) else corpus
    val bands = TextOps.bandRowsSizedDF(
      fpCorpus, cfg.shingleSize, numHashes, bandRows)
      .select("doc_id", "band", "sig", "n")
    (digests, bands)
  }

  /** IN-SESSION state for an already-prepared standing corpus — no IO;
    * [[write]] is this plus persistence. `embeddings` (covering at least
    * the standing doc_ids) trains and freezes the SemDeDup centroids.
    * The digest and span-hash rows are keyed by contributing doc_id,
    * which is what makes [[expire]] an O(expired) anti-join pass. */
  def build(
      standing: DataFrame,
      cfg: CorpusPipeline.Config = CorpusPipeline.Config(),
      embeddings: Option[DataFrame] = None,
      numHashes: Int = 16,
      bandRows: Int = 2): StandingState = {
    val (digests, bands) = artifacts(standing, cfg, numHashes, bandRows)
    val cs = embeddings.map { ef =>
      val standVecs = ef.join(standing.select("doc_id"), Seq("doc_id"), "left_semi")
        .select(col("doc_id").as("vec_id"), col("embedding"))
        .localCheckpoint(false)
      Dedup.semDedupCentroids(standVecs, cfg.semDedupNCentroids)
    }
    val spans = cfg.removeDupSpans.map { case (w, _) =>
      (TextOps.spanWindowHashesKeyed(standing, w), w)
    }
    StandingState(digests, bands, cs,
      Meta(cfg.shingleSize, numHashes, bandRows, cfg.normalizeFingerprints),
      spans)
  }

  /** Persist the state for `standing` under `path` (overwrites). One pass
    * computes digests and band rows; the optional Lloyd run is the same
    * deterministic training the frame-fed pipeline would do per-ingest —
    * done ONCE here. */
  def write(
      standing: DataFrame,
      path: String,
      cfg: CorpusPipeline.Config = CorpusPipeline.Config(),
      embeddings: Option[DataFrame] = None,
      numHashes: Int = 16,
      bandRows: Int = 2): StandingState = {
    val spark = standing.sparkSession
    import spark.implicits._
    // one materialization of the scrubbed standing text feeds both legs
    val st = Frames.barrier(standing)
    val state = build(st, cfg, embeddings, numHashes, bandRows)
    // an overwrite must not leave the OLD meta row valid while the tables
    // below are replaced: a failure mid-group would otherwise load as a
    // complete state over a mix of old and new tables. Meta goes first
    // and commits strictly LAST, so a state dir without meta is exactly
    // an incomplete write, and [[load]] refuses it.
    deleteDir(spark, s"$path/meta")
    // the four data tables are independent projections of the same
    // barriered corpus — write them CONCURRENTLY (guide §2.6; the lazy
    // checkpoint races are benign: whichever job computes a partition
    // first caches it for the others).
    inParallel(Seq(
      () => Frames.sizedWrite(state.digests)
        .write.mode("overwrite").parquet(s"$path/digests"),
      () => Frames.sizedWrite(state.bands)
        .write.mode("overwrite").parquet(s"$path/bands")) ++
      state.centroids.map(cs => () =>
        cs.zipWithIndex.map { case (c, i) => (i, c) }.toDF("idx", "c")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")) ++
      state.spanIndex.map { case (hashes, w) => () => {
        Frames.sizedWrite(hashes)
          .write.mode("overwrite").parquet(s"$path/span_hashes")
        // span_meta rides behind its own hashes (the spans' completion
        // marker), inside the parallel group — only the STATE meta row
        // below marks the whole write complete
        Seq(w).toDF("w")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/span_meta")
      } })
    Seq((state.meta.shingleSize, state.meta.numHashes, state.meta.bandRows,
      state.meta.normalizedFingerprints))
      .toDF("shingle_size", "num_hashes", "band_rows", "normalized")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    state
  }

  /** Load a persisted state. The digest/band frames are lazy table scans —
    * nothing is read until an ingest uses them.
    *
    * The META and SPAN-REGIME rows are content-cached across calls:
    * a streaming intake loads the state every micro-batch, and without
    * the cache each load pays one Spark job per regime row (meta.head,
    * span_meta.head) for values that are WRITE-TIME CONSTANTS of the
    * state. The cache key is the regime table's own part-file listing
    * (parquet part names carry a per-write UUID), so any rewrite —
    * however fast — changes the key and re-reads; no mtime-granularity
    * aliasing, and the per-batch cost drops to one driver-side
    * directory listing per regime table.
    *
    * A state whose digest or span-hash rows carry no `doc_id` (the
    * payload-free layout of older code) fails here, loudly: retention
    * cannot subtract from it. */
  def load(spark: SparkSession, path: String): StandingState = {
    Seq("digests", "bands").foreach(heal(spark, path, _))
    val digests = requireDocKeyed(Tables.read(spark, s"$path/digests"), path, "digests")
    val (meta, spanW) = textRegime(spark, path)
    val cs =
      if (!tableExists(spark, s"$path/centroids")) None
      else Some(Tables.read(spark, s"$path/centroids")
        .orderBy("idx").collect()
        .map(r => r.getSeq[Double](r.fieldIndex("c")).toSeq).toSeq)
    val spans = spanW.map { w =>
      heal(spark, path, "span_hashes")
      (requireDocKeyed(Tables.read(spark, s"$path/span_hashes"), path, "span_hashes"), w)
    }
    StandingState(
      digests,
      Tables.read(spark, s"$path/bands"),
      cs, meta, spans)
  }

  /** The text state's fingerprint regime and span-index width (Some iff
    * the state carries a span index), read from the content-cached
    * regime rows — write-time constants, so no Spark job. */
  private def textRegime(spark: SparkSession, path: String): (Meta, Option[Int]) = {
    val m = cachedRegimeRow(spark, s"$path/meta")
    val meta = Meta(m.getAs[Int]("shingle_size"), m.getAs[Int]("num_hashes"),
      m.getAs[Int]("band_rows"), m.getAs[Boolean]("normalized"))
    val spanW =
      if (!tableExists(spark, s"$path/span_meta")) None
      else Some(cachedRegimeRow(spark, s"$path/span_meta").getAs[Int]("w"))
    (meta, spanW)
  }

  /** `table` as read, or a loud failure when its rows carry no `doc_id`:
    * payload-free digest and span-hash rows were written by older code,
    * and no anti-join can subtract an expired doc from them. Checks the
    * schema only (no Spark job). */
  private def requireDocKeyed(
      table: DataFrame, statePath: String, name: String): DataFrame = {
    if (!table.columns.contains("doc_id"))
      throw new IllegalStateException(
        s"StandingState: $name under $statePath has no doc_id column — a " +
          "payload-free state written by older code; rewrite it via " +
          "StandingState.write")
    table
  }

  /** Single-row regime tables (meta, span_meta), cached by the table
    * dir's part-file listing — see [[load]]. Superseded writes are
    * evicted by key replacement per table path; CROSS-path growth is
    * bounded by [[RegimeCacheMax]] — a driver that touches many
    * distinct state paths over its lifetime clears the cache when it
    * crosses the cap (a full re-read per table is one single-row
    * parquet fetch, so the miss penalty is trivial vs. an unbounded
    * Row-per-path map). */
  private val RegimeCacheMax = 128
  private val regimeRowCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Row)]()

  private def cachedRegimeRow(spark: SparkSession, tablePath: String): Row = {
    import org.apache.hadoop.fs.{Path => HPath}
    val p = new HPath(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key =
      try fs.listStatus(p).map(_.getPath.getName).sorted.mkString(",")
      catch { case _: java.io.FileNotFoundException => "" }
    val cached = regimeRowCache.get(tablePath)
    if (cached != null && cached._1 == key && key.nonEmpty) cached._2
    else {
      val r = Tables.read(spark, tablePath).head()
      if (regimeRowCache.size >= RegimeCacheMax) regimeRowCache.clear()
      regimeRowCache.put(tablePath, (key, r))
      r
    }
  }

  /** Close the ingest cycle: append an ADMITTED batch's digests and band
    * rows to the persisted tables (batch-shaped work — the standing corpus
    * is untouched). The caller appends the batch rows to the corpus table
    * itself; centroids stay frozen (re-train deliberately, via [[write]]).
    * Duplicate digests across appends are fine — the exact leg dedupes.
    *
    * The band regime (numHashes, bandRows) is READ FROM THE STATE's meta
    * row, never passed: a state written under 32/4 must not accumulate
    * 16/2 band rows (sigs would never match and near-dups of appended
    * docs would silently sail through — same reason [[appendEmbBuckets]]
    * reads `emb_meta`). `cfg` must still match the persisted shingle /
    * normalization regime, checked loudly. */
  def append(
      batch: DataFrame,
      path: String,
      cfg: CorpusPipeline.Config = CorpusPipeline.Config()): Unit = {
    val spark = batch.sparkSession
    val state = load(spark, path)
    val (digests, bands) = artifactsFor(batch, cfg, state.meta)
    // the span index (when the state keeps one) closes its cycle the same
    // way, under the state's PERSISTED window width — hashes of another
    // width would never match
    val spans = state.spanIndex.map { case (_, w) =>
      TextOps.spanWindowHashesKeyed(batch, w)
    }
    withLease(spark, path, "append") {
      writeArtifacts(digests, bands, path, spans)
    }
  }

  /** The artifact projection of [[append]] split from its write, so the
    * ingest batch leg can compute lazily and commit the corpus append +
    * artifact append under ONE (retried) lease hold. */
  private[graft] def artifactsFor(
      batch: DataFrame,
      cfg: CorpusPipeline.Config,
      meta: Meta): (DataFrame, DataFrame) = {
    requireMetaCompatible(meta, cfg)
    val b = Frames.barrier(batch)
    artifacts(b, cfg, meta.numHashes, meta.bandRows)
  }

  /** The write half of [[append]] — caller MUST hold the lease.
    * Digests and span hashes commit CONCURRENTLY (independent tables,
    * both projections of the same checkpointed admitted frame — round-19
    * append fusion: overlapping them cuts one append's wall time from
    * every span-indexed ingest batch), bands strictly LAST: a crash
    * anywhere before the band write leaves docs with no band rows —
    * exactly the drift [[repairTextArtifacts]] detects (bands-absence is
    * the single witness) and repairs by re-appending
    * everything (duplicates are set-semantic on every table). A failure
    * in EITHER parallel leg propagates before the band write, so every
    * crash/failure shape still leaves the drifted docs missing from
    * `bands/`. */
  private[graft] def writeArtifacts(
      digests: DataFrame, bands: DataFrame, path: String,
      spans: Option[DataFrame] = None): Unit = {
    // every append is output-file-sized (Frames.sizedWrite — guide §6):
    // the state tables are re-scanned every batch and re-listed by every
    // swap, so one advisory-sized file per append beats one tiny file
    // per upstream partition on both the write and every later read
    spans match {
      case None =>
        Frames.sizedWrite(digests).write.mode("append").parquet(s"$path/digests")
      case Some(sp) =>
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        implicit val ec = artifactWriteEc
        val fd = Future(
          Frames.sizedWrite(digests).write.mode("append").parquet(s"$path/digests"))
        val fs = Future(
          Frames.sizedWrite(sp).write.mode("append").parquet(s"$path/span_hashes"))
        // await BOTH before bands (and surface the first failure — a
        // half-committed parallel phase must not reach the band write)
        val errs = Seq(fd, fs).flatMap(f =>
          scala.util.Try(Await.result(f, Duration.Inf)).failed.toOption)
        errs.headOption.foreach(throw _)
    }
    Frames.sizedWrite(bands).write.mode("append").parquet(s"$path/bands")
  }

  /** Two daemon threads for [[writeArtifacts]]' parallel phase — the
    * writes are tiny (batch-shaped appends) and mostly driver-side
    * commit latency, so a fixed pool of 2 is the whole win. */
  private lazy val artifactWriteEc =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(2, r => {
        val t = new Thread(r, "graft-artifact-write")
        t.setDaemon(true)
        t
      }))

  /** Submit INDEPENDENT state-table jobs concurrently and await them all
    * (guide §2.6 — actions are only sequential because driver code calls
    * them sequentially): used where several tables derive from the same
    * input and carry no cross-table crash-ordering constraint among
    * themselves ([[write]]'s initial table writes, [[expireKind]]'s
    * artifact subtractions). EVERY task is awaited before the first
    * failure propagates — a caller sequencing a crash-ordered step after
    * this (meta write, corpus subtraction) must know no parallel job is
    * still in flight. Runs single tasks inline (no pool round-trip). */
  private[llm] def inParallel(tasks: Seq[() => Unit]): Unit = {
    if (tasks.sizeIs <= 1) tasks.foreach(_.apply())
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec = stateJobEc
      val errs = tasks.map(t => Future(t()))
        .flatMap(f => scala.util.Try(Await.result(f, Duration.Inf)).failed.toOption)
      errs.headOption.foreach(throw _)
    }
  }

  /** Pool for [[inParallel]] — four daemon threads: the widest parallel
    * group today is [[expire]]'s artifact tables (digests,
    * span_hashes, bands, pair_edges); the jobs are mostly driver-side
    * commit/rename latency plus small Spark jobs, so a deeper pool buys
    * nothing. */
  private lazy val stateJobEc =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4, r => {
        val t = new Thread(r, "graft-state-job")
        t.setDaemon(true)
        t
      }))

  /** Persist duplicate-CLUSTER labels (`clusters/` — the
    * [[Dedup.duplicateClusters]] output shape (doc_id, cluster_id,
    * cluster_size)) as part of the standing state (overwrites). Written
    * once from a batch CC run; each ingest then maintains them with
    * [[updateClusters]] instead of re-running connected components over
    * the standing graph.
    *
    * The table is BUCKETED by cluster_id (`cpart = pmod(cluster_id,
    * nParts)` partition dirs): every row of one cluster lands in one
    * partition, so an ingest's [[updateClusters]] rewrites ONLY the
    * partitions holding touched components — O(touched clusters) write
    * IO instead of O(standing labels). `nParts` is pinned in a
    * `clusters_meta` row (like every other state regime) so updates can
    * never bucket under a different modulus. The row is deleted before
    * the table is rewritten and committed after it, so a labels table
    * without its meta row is exactly an interrupted write, which
    * [[loadClusters]] refuses. */
  def writeClusters(
      labels: DataFrame, path: String, nParts: Int = DefaultClusterParts): Unit = {
    val spark = labels.sparkSession
    import spark.implicits._
    require(nParts > 0, s"nParts must be positive, got $nParts")
    deleteDir(spark, s"$path/clusters_meta")
    writeBucketed(labels, s"$path/clusters", nParts)
    Seq(nParts).toDF("n_parts")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/clusters_meta")
  }

  /** Persist the VERIFIED PAIR EDGES behind the duplicate-cluster labels
    * (`pair_edges/` — (doc_a, doc_b) rows, set-semantic): the OPT-IN
    * artifact that makes exact post-retention re-clustering incremental.
    * [[relabelClusters]]' default coarsening keeps two retained docs
    * co-labeled when their only connection ran THROUGH an expired bridge
    * doc, because labels alone cannot tell a direct edge from a
    * transitive one; with the edges persisted,
    * `relabelClusters(exact = true)` re-runs connected components over
    * the RETAINED edges instead — no fresh [[Dedup.duplicateClusters]]
    * pass over the corpus text. Maintained automatically once present:
    * [[updateClusters]] appends each ingest's new pairs (same lease
    * hold, before the label rewrite — a crash leaves extra edges, which
    * are set-semantic and only ever re-assert pairs the retried update
    * re-delivers; crash-retried duplicates are folded by [[compact]]'s
    * distinct rewrite like every other append-grown artifact), and
    * [[expire]] subtracts rows touching an expired endpoint exactly
    * like every other doc-keyed artifact (an edge is doubly keyed: it
    * drops when EITHER endpoint expires). Cost: one (id, id) row per
    * verified pair — the q43 pair relation, orders of magnitude below
    * the corpus. */
  def writePairEdges(pairs: DataFrame, path: String): Unit =
    pairs.select("doc_a", "doc_b")
      .write.mode("overwrite").parquet(s"$path/pair_edges")

  /** Lazy scan of the persisted pair edges: (doc_a, doc_b). */
  def loadPairEdges(spark: SparkSession, path: String): DataFrame = {
    heal(spark, path, "pair_edges")
    Tables.read(spark, s"$path/pair_edges")
  }

  /** Default cluster_id bucket count for [[writeClusters]]. */
  val DefaultClusterParts = 64

  private def cpartCol(c: Column, nParts: Int): Column =
    pmod(c.cast("long"), lit(nParts.toLong))

  /** The label columns of `labels` bucketed under `nParts` into the
    * table dir `dir` (overwrites). A zero-row `partitionBy` write emits
    * no partition dir, and a parquet table without a data file has no
    * schema to read back — so an empty input leaves one schema-bearing
    * empty part file under `cpart=0`, and the table loads as zero label
    * rows in the same layout. */
  private def writeBucketed(labels: DataFrame, dir: String, nParts: Int): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val rows = labels.select("doc_id", "cluster_id", "cluster_size")
    rows.withColumn("cpart", cpartCol(col("cluster_id"), nParts))
      .write.mode("overwrite").partitionBy("cpart").parquet(dir)
    val d = new HPath(dir)
    val fs = d.getFileSystem(labels.sparkSession.sparkContext.hadoopConfiguration)
    if (!fs.listStatus(d).exists(_.getPath.getName.startsWith("cpart=")))
      writeEmptyLabels(rows, new HPath(d, "cpart=0").toString)
  }

  /** One zero-row part file carrying `rows`' schema, written to `dir`. */
  private def writeEmptyLabels(rows: DataFrame, dir: String): Unit =
    rows.limit(0).write.mode("overwrite").parquet(dir)

  /** Fail loudly when `clusters/` has no `clusters_meta` row: the
    * unbucketed layout of older code, or a [[writeClusters]] interrupted
    * between its table and meta writes. Neither can be updated in place
    * — the bucket modulus is unknown. */
  private def requireClustersMeta(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val meta = new HPath(path, "clusters_meta")
    if (!meta.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(meta))
      throw new IllegalStateException(
        s"StandingState: clusters under $path has no clusters_meta — the " +
          "unbucketed layout of older code or an interrupted writeClusters; " +
          "rewrite it via StandingState.writeClusters")
  }

  /** Lazy scan of the persisted cluster labels (self-healing first: a
    * crashed whole-table swap via [[healTable]], a crashed partition
    * commit via [[recoverClusterParts]]).
    *
    * A commit marker that SURVIVES the recovery pass means the lease is
    * held (recovery skips) — either a live mutator is mid-commit (its
    * renames finish in milliseconds; retry) or a crashed holder left the
    * table MIXED-GENERATION: some partitions new, some old, possibly one
    * deleted-but-not-yet-renamed. A reader cannot tell the two apart any
    * better than a mutator can, so the safe default is to FAIL LOUDLY
    * naming the holder instead of returning silently wrong labels (run
    * [[breakLease]] after confirming a crashed holder; the next load's
    * recovery then rolls the commit forward). A table without its
    * `clusters_meta` row fails loudly as well (see
    * [[requireClustersMeta]]). */
  def loadClusters(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    heal(spark, path, "clusters")
    recoverClusterParts(spark, path)
    val base = new HPath(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new HPath(base, "clusters__parts_commit")))
      throw new IllegalStateException(
        s"StandingState: clusters table under $path has a pending partition " +
          s"commit and the lease is held by [${readHolder(fs, base)}] — " +
          "reading now would return mixed-generation labels. If the holder " +
          "is live, retry after its commit; if it crashed, verify it is " +
          "gone and run StandingState.breakLease (the next load rolls the " +
          "commit forward).")
    val df = Tables.read(spark, s"$path/clusters")
    requireClustersMeta(spark, path)
    df.drop("cpart")
  }

  /** [[loadClusters]] for a caller that ALREADY HOLDS the state lease —
    * the read half of every leased read-modify-write ([[updateClusters]]
    * and [[relabelClusters]]), returned with the table's pinned bucket
    * count. Recovery mutations (crashed-commit roll-forward/back,
    * crashed-swap heal) run DIRECTLY: the lease we hold is exactly the
    * exclusion recovery needs. Loading under the lease is what makes the
    * subsequent rewrite sound — a snapshot pinned before the acquire
    * could be silently overwritten by a mutator that commits in the
    * load->acquire window (a lost update, contradicting the lease's
    * fails-loudly contract). */
  private def loadClustersLeased(
      spark: SparkSession, path: String): (DataFrame, Int) = {
    import org.apache.hadoop.fs.{Path => HPath}
    val base = new HPath(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new HPath(base, "clusters__parts_commit")))
      commitClusterParts(fs, base)
    else {
      val staged = new HPath(base, "clusters__parts_staged")
      if (fs.exists(staged)) fs.delete(staged, true)
    }
    healTable(fs, base, "clusters")
    val df = Tables.read(spark, s"$path/clusters")
    requireClustersMeta(spark, path)
    (df.drop("cpart"),
      cachedRegimeRow(spark, s"$path/clusters_meta").getAs[Int]("n_parts"))
  }

  /** CLUSTER-LABEL HYGIENE after retention — [[expire]] deliberately
    * leaves `clusters/` untouched (labels are a REPORTING artifact, not
    * an admission input: none of the dedup legs read them, spec-pinned),
    * which strands GHOST rows (expired doc_ids) and stale cluster_size
    * values. This pass makes the documented rebuild recipe executable in
    * its cheap, subtraction-shaped form: drop label rows whose doc_id is
    * no longer in the corpus, recount cluster_size over the surviving
    * members, and drop clusters shrunk below two members (a singleton is
    * not a duplicate cluster — [[Dedup.duplicateClusters]]' own
    * `cluster_size >= 2` invariant).
    *
    * SEMANTICS: the result is the HISTORICAL pair graph's components
    * restricted to retained docs — two retained docs whose only
    * connection ran THROUGH an expired bridge doc stay co-labeled (a
    * deliberate coarsening: labels alone cannot tell a direct edge from
    * a transitive one; `exact = true` below re-clusters from persisted
    * pair edges instead; sizes here are exact retained-member counts
    * either way). Ghost detection is an anti-join against the corpus id
    * column, so the pass needs no expired-id input, is idempotent, and
    * can run any time after one or MORE [[expire]] passes — or fold into
    * the pass itself via `expire(..., relabelClusters = true)`. Only the
    * ghost-bearing partitions are rewritten: `cpart = pmod(cluster_id,
    * nParts)` is a pure function of cluster_id, so every member of a
    * ghost cluster lives in that cluster's partition, sizes change
    * nowhere else, and a partition without ghosts is bit-identical
    * before and after the recount — its files are never opened for
    * write. The rewrite rides the same staged-partition roll-forward
    * protocol as [[updateClusters]] (stage -> marker -> per-partition
    * rename; crash before the marker rolls back, after it rolls
    * forward). Returns the number of ghost label rows dropped. */
  def relabelClusters(
      spark: SparkSession,
      statePath: String,
      corpusPath: String,
      exact: Boolean = false): Long = {
    // a clusters table stranded at __retired by a crashed swap must be
    // healed, not read as "no labels" — the skip would silently no-op
    // the hygiene pass forever (the ghosts resurrect on the next
    // reader-side heal with their stale sizes intact)
    healStranded(spark, statePath, "clusters", "relabelClusters:heal")
    if (!tableExists(spark, s"$statePath/clusters")) return 0L
    // EXACT relabel (opt-in, needs persisted [[writePairEdges]] edges):
    // re-run connected components over the RETAINED edges instead of
    // accepting the coarsening — two retained docs bridged only by an
    // expired doc SPLIT here, exactly as a fresh
    // [[Dedup.duplicateClusters]] over the retained corpus's verified
    // pairs would label them (spec-pinned equality). The rewrite is
    // whole-table BY NATURE (a re-clustering can move any label), so it
    // stages the full bucketed table and swaps it in; the cheap
    // ghost-bearing-partitions path remains the default. Returns the
    // SIGNED label-row delta (rows removed — ghosts + split-off
    // singletons — in the common case; NEGATIVE when persisted edges
    // outran the labels, e.g. an updateClusters crash after its edge
    // append but before the label commit, where the exact pass ADDS the
    // missing co-labels).
    if (exact) {
      healStranded(spark, statePath, "pair_edges", "relabelClusters:healEdges")
      require(tableExists(spark, s"$statePath/pair_edges"),
        "relabelClusters(exact = true) needs a persisted pair_edges table " +
          "(StandingState.writePairEdges) — without the edges only the " +
          "coarsening default is computable")
      return withLeaseRetry(spark, statePath, "relabelClusters:exact") {
        val (labels, nParts) = loadClustersLeased(spark, statePath)
        val before = labels.count()
        val corpusIds = Tables.read(spark, corpusPath)
          .select("doc_id").distinct()
        // restrict BOTH endpoints to retained docs: expire already
        // subtracts, but the exact pass may run standalone after a
        // manual corpus edit
        val edges = Tables.read(spark, s"$statePath/pair_edges")
          .join(corpusIds.withColumnRenamed("doc_id", "doc_a"),
            Seq("doc_a"), "left_semi")
          .join(corpusIds.withColumnRenamed("doc_id", "doc_b"),
            Seq("doc_b"), "left_semi")
        val relabeled = Dedup.duplicateClusters(edges)
          .select("doc_id", "cluster_id", "cluster_size")
          .localCheckpoint(true)
        swapTable(spark, statePath, "clusters") { staged =>
          writeBucketed(relabeled, staged, nParts)
        }
        before - relabeled.count()
      }
    }
    withLeaseRetry(spark, statePath, "relabelClusters") {
      val (labels, nParts) = loadClustersLeased(spark, statePath)
      val corpusIds = Tables.read(spark, corpusPath)
        .select("doc_id").distinct()
      // ghost ROWS, not just a count — the touched-partition list is
      // keyed by their cluster_ids. One anti-join scan; the lease is held
      // through this phase and concurrent ingests wait on it.
      // Checkpointed so the count and the partition collect don't re-run
      // the anti-join.
      val ghostRows = labels.join(corpusIds, Seq("doc_id"), "left_anti")
        .select("cluster_id").localCheckpoint(true)
      val ghosts = ghostRows.count()
      if (ghosts > 0L) {
        // TOUCHED partitions = the ghost clusters' cparts: cpart is a
        // pure function of cluster_id, so a ghost's co-members (whose
        // sizes change) live in the same partition, and every other
        // partition is bit-identical after the recount. <= nParts
        // values collected.
        val parts = ghostRows
          .select(cpartCol(col("cluster_id"), nParts).as("p"))
          .distinct().collect().map(_.getLong(0)).sorted
        val touched = labels.join(corpusIds, Seq("doc_id"), "left_semi")
          .filter(cpartCol(col("cluster_id"), nParts).isin(parts.toIndexedSeq: _*))
        // recount sizes over the surviving members and drop clusters
        // shrunk below two members
        val recounted = touched
          .drop("cluster_size")
          .join(
            touched.groupBy("cluster_id")
              .agg(count(lit(1)).cast("int").as("cluster_size")),
            Seq("cluster_id"))
          .filter(col("cluster_size") >= 2)
        stageAndCommitClusterParts(spark, statePath, recounted, parts, nParts)
      }
      ghosts
    }
  }

  /** Ingest-cycle cluster maintenance: fold a batch's verified pairs into
    * the persisted labels via [[Dedup.duplicateClustersIncrementalParts]]
    * (star rounds over the contracted batch-shaped graph only; exact
    * batch-on-union equality) and rewrite only the partitions whose
    * content can change. Every changed or moved row's OLD location is
    * keyed by a merged standing root (`rootMap.old_root`) and its NEW
    * location by a touched component's final id
    * (`touchedRows.cluster_id`) — both batch-shaped frames, so the
    * touched-partition list is a <= nParts-value collect. Untouched
    * partitions' files are never opened for write. Returns the updated
    * labels (a scan of the new table).
    *
    * Commit protocol (roll-FORWARD): the replacement rows for ALL
    * touched partitions are staged under `clusters__parts_staged/`
    * first, then a `clusters__parts_commit` marker makes the staged set
    * authoritative, then each staged partition dir replaces its live
    * twin. A crash before the marker rolls back (staged dir deleted on
    * next load); a crash after it rolls forward ([[recoverClusterParts]]
    * completes the remaining per-partition renames — idempotent, runs on
    * every load). A reader scanning ACROSS the rename instant can see a
    * transiently missing partition, the same transient-reader caveat as
    * [[swapTable]]; mutators are excluded by the lease. */
  def updateClusters(path: String, newPairs: DataFrame): DataFrame = {
    val spark = newPairs.sparkSession
    // the WHOLE read-modify-write holds the lease: the standing load, the
    // incremental CC, the touched-partition collect, and the staged
    // commit — a mutator that committed between an unleased load and the
    // acquire would otherwise have its update silently overwritten by a
    // rewrite computed from the pre-commit snapshot
    withLease(spark, path, "updateClusters") {
      // edge upkeep FIRST (opt-in, iff the state persists pair edges):
      // a crash after this append leaves edges whose label update never
      // landed — set-semantic extras the retried update re-delivers
      if (tableExists(spark, s"$path/pair_edges"))
        Frames.sizedWrite(newPairs.select("doc_a", "doc_b"))
          .write.mode("append").parquet(s"$path/pair_edges")
      val (standing, nParts) = loadClustersLeased(spark, path)
      val (updated, rootMap, touchedRows) =
        Dedup.duplicateClustersIncrementalParts(standing, newPairs)
      val parts = rootMap.select(cpartCol(col("old_root"), nParts).as("p"))
        .union(touchedRows.select(cpartCol(col("cluster_id"), nParts).as("p")))
        .distinct().collect().map(_.getLong(0)).sorted
      if (parts.nonEmpty)
        stageAndCommitClusterParts(spark, path, updated, parts, nParts)
    }
    loadClusters(spark, path)
  }

  /** Steps 1–3 of the touched-partition commit, shared by
    * [[updateClusters]] and [[relabelClusters]]: stage the replacement
    * rows for every partition in `parts` under `clusters__parts_staged/`
    * (plus an explicit EMPTY dir for any touched partition whose rows all
    * merged or dropped away, so the commit still clears its live twin —
    * otherwise the stale rows would survive at their old location), drop
    * the `clusters__parts_commit` marker, then roll each staged partition
    * forward over its live twin. The first emptied partition gets a
    * schema-bearing empty part file rather than a bare dir: if every
    * other partition ends empty too, the table still has a file to read
    * its schema from, and loads as zero rows in the same layout (see
    * [[writeBucketed]]). Caller must hold the state lease and must not
    * mutate the live table first — the staged write is the last reader
    * of the pre-commit rows (live dirs are only touched after it
    * completes). */
  private def stageAndCommitClusterParts(
      spark: SparkSession,
      path: String,
      rows: DataFrame,
      parts: Array[Long],
      nParts: Int): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val base = new HPath(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new HPath(base, "clusters__parts_staged")
    // a leftover staging dir from a crashed pass (no marker -> the live
    // table was never touched) is overwritten, not a path-exists error
    if (fs.exists(staged)) fs.delete(staged, true)
    // 1. STAGE
    val labels = rows.select("doc_id", "cluster_id", "cluster_size")
    labels.withColumn("cpart", cpartCol(col("cluster_id"), nParts))
      .filter(col("cpart").isin(parts.toIndexedSeq: _*))
      .write.mode("overwrite").partitionBy("cpart").parquet(staged.toString)
    val emptied = parts.map(p => new HPath(staged, s"cpart=$p")).filterNot(fs.exists)
    emptied.headOption.foreach(d => writeEmptyLabels(labels, d.toString))
    emptied.foreach(fs.mkdirs)
    // 2. COMMIT POINT: marker makes the staged partitions authoritative
    val marker = new HPath(base, "clusters__parts_commit")
    fs.create(marker, true).close()
    // 3. per-partition swap + cleanup (idempotent; recovery re-runs it)
    commitClusterParts(fs, base)
  }

  /** Step 3 of the partitioned commit: move each staged partition dir
    * over its live twin, then clear the marker and staging area.
    * Idempotent — partitions already moved have no staged dir left. */
  private def commitClusterParts(
      fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val staged = new HPath(base, "clusters__parts_staged")
    val live = new HPath(base, "clusters")
    if (fs.exists(staged)) {
      fs.listStatus(staged).filter(_.getPath.getName.startsWith("cpart="))
        .foreach { st =>
          val target = new HPath(live, st.getPath.getName)
          if (fs.exists(target)) fs.delete(target, true)
          if (!fs.rename(st.getPath, target))
            throw new java.io.IOException(
              s"commitClusterParts: rename ${st.getPath} -> $target failed")
        }
      fs.delete(staged, true)
    }
    fs.delete(new HPath(base, "clusters__parts_commit"), false)
  }

  /** Crash recovery for the partitioned commit, run on every
    * [[loadClusters]]: a marker without a completed commit rolls FORWARD
    * (the staged partitions are authoritative — finish the renames); a
    * staging dir without a marker is an incomplete stage and rolls BACK
    * (deleted; the live table was never touched).
    *
    * Recovery MUTATES the directories, so it runs UNDER THE LEASE: if
    * the lease is unavailable the pass is skipped — either a live
    * mutator is mid-commit (its own commitClusterParts finishes the
    * work; recovering concurrently would race its renames) or a crashed
    * holder blocks mutation until [[breakLease]], after which the next
    * load's recovery acquires the lease and rolls forward. */
  private def recoverClusterParts(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val base = new HPath(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return
    val marker = new HPath(base, "clusters__parts_commit")
    val staged = new HPath(base, "clusters__parts_staged")
    if (!fs.exists(marker) && !fs.exists(staged)) return // the common case
    if (leaseHeld(fs, base)) return // live mutator or crashed holder — skip
    try withLease(spark, path, "recoverClusterParts") {
      // re-check under the lease: the mutator we raced may have finished
      if (fs.exists(marker)) commitClusterParts(fs, base)
      else if (fs.exists(staged)) fs.delete(staged, true)
    } catch {
      case _: IllegalStateException => () // lost the acquire race — skip
    }
  }

  /** Rewrite-and-swap one state table: write the replacement to
    * `<table>__staged`, then swap via two renames through the Hadoop
    * FileSystem API (so the state path may be any Hadoop-addressable URI —
    * hdfs://, s3a://, file: — exactly like the parquet IO around it;
    * java.nio cannot address those). The two renames are NOT one atomic
    * operation: a crash between them leaves no live table but a complete
    * `<table>__retired/` (the pre-swap rows, kept until the swap fully
    * succeeds) — recovery is SELF-HEALING: [[healTable]] renames retired
    * back, and runs both here (before the next swap) and on every load
    * path, so a crashed swap never needs manual intervention. A
    * metastore-backed deployment swaps a table pointer instead. */
  private def swapTable(spark: SparkSession, path: String, table: String)(
      writeStaged: String => Unit): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val base = new HPath(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    healTable(fs, base, table)
    val staged = new HPath(base, s"${table}__staged")
    writeStaged(staged.toString)
    AtomicSwap.commitStaged(fs, new HPath(base, table), staged, "swapTable")
  }

  /** Recover a table from a crash in [[swapTable]]'s two-rename window:
    * live dir missing but a complete `<table>__retired/` present — rename
    * retired back. (The staged dir, if any, is complete too — it was
    * written before the renames began — but retired is the KNOWN-good
    * pre-swap state; the staged rewrite re-runs on the next maintenance
    * pass. A leftover staged dir is overwritten by that pass.) Idempotent
    * and cheap (one existence probe in the common healthy case), so every
    * load path runs it — the reader self-heals instead of throwing
    * path-not-found. */
  private def healTable(
      fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path,
      table: String): Unit =
    healDir(fs, new org.apache.hadoop.fs.Path(base, table))

  /** [[healTable]] on a direct table dir (the corpus table lives outside
    * the state dir). Caller must hold — or have excluded — the lease. */
  private def healDir(
      fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path): Unit =
    AtomicSwap.heal(fs, live)

  /** [[healTable]] from a path-string context — the load-site form.
    * SKIPPED while the state lease is held: a live mutator mid-swap owns
    * the directories (healing concurrently would race its renames — the
    * reader would restore `__retired` while the writer renames
    * `__staged` in, failing the writer spuriously), and a crashed holder
    * blocks all mutation until [[breakLease]] anyway, after which the
    * next load heals. */
  private def heal(spark: SparkSession, path: String, table: String): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val base = new HPath(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(base) && !leaseHeld(fs, base)) healTable(fs, base, table)
  }

  /** MUTATOR-side heal of a state table — the maintenance passes' form.
    * Unlike the reader-side [[heal]] (which SKIPS while the lease is
    * held — correct for loads, where a live holder's own commit path
    * finishes the work), a retention or append pass must not
    * silently treat a table stranded at `__retired` by an old crashed
    * swap as ABSENT: the skip would pass an existence filter, the
    * pass's other swaps would still land, and the stranded rows would
    * resurrect on the next load-side heal — permanently blocking
    * re-admission (expire) — or be orphaned behind a fresh live dir
    * (span appends). So when — and only when — the table is
    * actually stranded, WAIT for the lease ([[withLeaseRetry]]: a live
    * ingest's brief hold passes; a crashed holder fails loudly with its
    * identity) and heal under it. The healthy path costs two existence
    * probes and never touches the lease; [[healDir]] re-checks under
    * the lease, so losing the acquire race to another healer is a
    * no-op. */
  private def healStranded(
      spark: SparkSession, statePath: String,
      table: String, op: String): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val base = new HPath(statePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new HPath(base, table)
    if (fs.exists(base) && !fs.exists(live) &&
        fs.exists(sibling(live, "__retired")))
      withLeaseRetry(spark, statePath, op) { healDir(fs, live) }
  }

  /** Name of the mutual-exclusion lease file under the state dir. */
  private val LeaseFile = "_lease"

  /** Best-effort mutual exclusion over the state's MUTATING operations —
    * the mechanism behind [[compact]]'s quiesce requirement (previously a
    * scaladoc convention; an append racing compact's snapshot->swap window
    * would be silently deleted with the old directory). Every mutator
    * ([[append]], [[appendEmbBuckets]], [[updateClusters]], [[compact]],
    * the repair passes' appends and rewrites) takes the lease for its write window:
    * an exclusive-create of `_lease` under the state dir. ATOMICITY is
    * scheme-dependent: on HDFS, `create(overwrite=false)` is a single
    * atomic namenode op; on the LOCAL filesystem Hadoop's
    * RawLocalFileSystem implements the overwrite=false check as
    * exists()-then-create (no O_EXCL) — two local mutators racing the
    * acquire could BOTH succeed — so the `file:` scheme routes through
    * `java.io.File.createNewFile` instead, which the JDK documents as
    * atomic (exactly the SyncMain intakeState + PrepareMain maintenance
    * deployment shape). Object stores without atomic create remain
    * best-effort — a metastore lock row replaces this there. A held lease
    * fails the second mutator LOUDLY with the holder's identity instead
    * of losing rows.
    *
    * CRASHED-LEASE RECOVERY: a mutator that dies without releasing leaves
    * the lease file behind, and every subsequent mutator fails with its
    * holder string (op, pid, timestamp). After confirming the holder
    * process is gone, run [[breakLease]] (or the PrepareMain
    * `--breakStateLease` flag) — deliberately manual, because no timeout
    * can distinguish a crashed holder from a slow compaction over a large
    * table. */
  private def withLease[T](spark: SparkSession, path: String, op: String)(
      body: => T): T = {
    import org.apache.hadoop.fs.{Path => HPath}
    val base = new HPath(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) fs.mkdirs(base)
    val lease = new HPath(base, LeaseFile)
    def failHeld(): Nothing =
      throw new IllegalStateException(
        s"StandingState: cannot $op under $path — lease held by " +
          s"[${readHolder(fs, base)}]. If that holder crashed, verify it " +
          "is gone and run StandingState.breakLease to recover.")
    val holderInfo =
      s"op=$op pid=${ProcessHandle.current().pid()} at=${java.time.Instant.now()}"
    // the CREATE is the lock; holder info is best-effort metadata.
    // AtomicSwap.atomicCreate routes the file: scheme through
    // java.io.File.createNewFile (RawLocalFileSystem's
    // create(overwrite=false) is exists()-then-create, not O_EXCL) and
    // deletes a half-born lease if the metadata write fails.
    if (!AtomicSwap.atomicCreate(fs, lease, holderInfo)) failHeld()
    try body finally fs.delete(lease, false)
  }

  /** [[withLease]] with ACQUIRE RETRY — the ingest batch leg's form
    * ([[graft.streaming.CorpusIntakeJob.ingestTextBatch]]): a live
    * compaction holds the lease for its O(delta + rename) swap window,
    * and a streaming append racing it must WAIT (bounded exponential
    * backoff) rather than die and kill the streaming query. The timeout
    * (`spark.graft.lease.retryTimeoutMs`, default 60s) still fails
    * loudly with the holder identity — a CRASHED holder blocks forever
    * by design (no timeout can tell crashed from slow; [[breakLease]] is
    * the operator recovery), and a stream stuck behind one should say so
    * rather than spin silently. */
  private[graft] def withLeaseRetry[T](
      spark: SparkSession, path: String, op: String)(body: => T): T = {
    val baseMs = spark.conf.get("spark.graft.lease.retryMs", "100").toLong
    val timeoutMs =
      spark.conf.get("spark.graft.lease.retryTimeoutMs", "60000").toLong
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var delay = math.max(1L, baseMs)
    while (true) {
      try return withLease(spark, path, op)(body)
      catch {
        case e: IllegalStateException if e.getMessage.contains("lease held") =>
          if (System.nanoTime() > deadline) throw e
          Thread.sleep(delay)
          delay = math.min(delay * 2, 2000L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Best-effort read of the lease file's holder string (op, pid,
    * timestamp) for loud-failure messages. */
  private def readHolder(
      fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path): String =
    try {
      val in = fs.open(new org.apache.hadoop.fs.Path(base, LeaseFile))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    } catch { case _: Exception => "<unreadable>" }

  /** True iff the state lease is currently held. Used by the reader-side
    * recovery passes: a held lease means either a LIVE mutator is
    * mid-write (its own commit path will finish the work — a concurrent
    * reader-side recovery would RACE its renames) or a crashed holder is
    * blocking all mutation until [[breakLease]] — in both cases the
    * reader must not touch the directories. */
  private def leaseHeld(
      fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(base, LeaseFile))

  /** Remove a crashed holder's lease (see [[withLease]]). Returns true if
    * a lease file existed. ONLY safe after confirming the recorded holder
    * process is dead — breaking a live holder's lease reintroduces the
    * lost-append race the lease exists to prevent. */
  def breakLease(spark: SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.{Path => HPath}
    val base = new HPath(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new HPath(base, LeaseFile), false)
  }

  /** Default target output-file size for compaction rewrites. */
  val DefaultCompactTargetBytes: Long = 128L * 1024 * 1024

  /** One STATE KIND — text, embeddings or media — as the shared intake
    * protocol sees it. Every kind is a PRIMARY table of id-keyed rows
    * (the corpus, the standing vectors, the standing media) plus
    * artifact tables derived from those rows and keyed by the same id,
    * and every kind runs the same three paths over it: the ingest batch
    * skeleton ([[graft.streaming.CorpusIntakeJob]]), the id-keyed
    * retention pass ([[expireKind]]) and the drift repair
    * ([[repairKind]]).
    *
    *  - `id`        — the id column shared by the primary and its artifacts;
    *  - `primary`   — the primary table's path (it may live outside the
    *                  state dir; the state's lease still serializes it);
    *  - `artifacts` — the artifact tables in WRITE order. The last one is
    *                  the drift WITNESS: every crash shape of a commit
    *                  (primary first, artifacts after, witness last) leaves
    *                  the torn rows' ids missing from it;
    *  - `ghosts`    — the artifact tables the repair scans for rows whose
    *                  id left the primary;
    *  - `appendFor` — the artifact rows for a primary-shaped frame,
    *                  computed lazily now; the returned thunk appends them
    *                  and MUST run under the lease. */
  private[graft] final case class Kind(
      name: String,
      id: String,
      primary: String,
      artifacts: Seq[String],
      ghosts: Seq[String],
      appendFor: DataFrame => () => Unit) {
    def witness: String = artifacts.last
  }

  /** The text kind: corpus rows -> digests, span hashes (when the state
    * keeps a span index) and band rows, under the state's PERSISTED
    * fingerprint regime (read per call from the cached regime rows). */
  private[graft] def textKind(
      spark: SparkSession, statePath: String, corpusPath: String): Kind =
    Kind("Text", "doc_id", corpusPath, Seq("digests", "span_hashes", "bands"),
      Seq("bands"), { rows =>
        val (meta, spanW) = textRegime(spark, statePath)
        val cfg = CorpusPipeline.Config(
          shingleSize = meta.shingleSize,
          normalizeFingerprints = meta.normalizedFingerprints)
        val (digests, bands) = artifactsFor(rows, cfg, meta)
        val spans = spanW.map(TextOps.spanWindowHashesKeyed(rows, _))
        () => writeArtifacts(digests, bands, statePath, spans)
      })

  /** The embedding kind: vectors -> sign-LSH bucket rows under the
    * persisted hyperplane regime (`emb_meta`). */
  private[graft] def embeddingKind(
      spark: SparkSession, statePath: String, vecsPath: String): Kind =
    Kind("Embedding", "vec_id", vecsPath, Seq("emb_buckets"), Seq("emb_buckets"), {
      rows =>
        val buckets = embBucketRowsFor(rows, statePath)
        () => Frames.sizedWrite(buckets)
          .write.mode("append").parquet(s"$statePath/emb_buckets")
    })

  /** The media kind: records -> phash rows, then band rows (the witness)
    * under the persisted band regime (`media_meta`). A frame that already
    * carries `phash` (the ingest's admitted rows) is never decoded again;
    * any other frame is decoded and hashed executor-side by `phashOf`. */
  private[graft] def mediaKind(
      spark: SparkSession, statePath: String, mediaPath: String,
      phashOf: DataFrame => DataFrame = Multimodal.imagePhash): Kind = {
    val tables = Seq("media_phashes", "media_bands")
    Kind("Media", "media_id", mediaPath, tables, tables, { rows =>
      val nBands =
        cachedRegimeRow(spark, s"$statePath/media_meta").getAs[Int]("n_bands")
      val ph = Frames.barrier(
        (if (rows.columns.contains("phash")) rows else phashOf(rows))
          .select("media_id", "phash"))
      val bands = Multimodal.phashBandRows(ph, nBands)
        .select(col("doc_id").as("media_id"), col("band"), col("sig"))
      () => {
        Frames.sizedWrite(ph).write.mode("append").parquet(s"$statePath/media_phashes")
        Frames.sizedWrite(bands).write.mode("append").parquet(s"$statePath/media_bands")
      }
    })
  }

  /** Heal a kind's primary and the given state tables where a crashed
    * swap stranded them at `<table>__retired` — the MUTATOR-side heal
    * ([[healStranded]]'s contract, extended to the primary, which may
    * live outside the state dir): a maintenance pass must not read a
    * stranded table as absent. */
  private def healKind(
      spark: SparkSession, statePath: String, kind: Kind,
      tables: Seq[String], op: String): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val live = new HPath(kind.primary)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live) && fs.exists(sibling(live, "__retired")))
      withLeaseRetry(spark, statePath, s"$op:healPrimary") { healDir(fs, live) }
    tables.foreach(healStranded(spark, statePath, _, s"$op:healArtifacts"))
  }

  /** RETENTION, one pass for every kind — the reference's key TTL
    * (it expires every materialized key after `expire_keys` seconds,
    * `lib/meeseeker.rb:99`): drop the primary rows matching `expired`
    * and EVERY artifact row keyed by their ids, so expired items no
    * longer block replicas of themselves from (re-)admission.
    *
    * Expire is SUBTRACTION: the primary and every artifact table are
    * healed first (a table stranded at `__retired` must be subtracted,
    * not skipped — the skip would resurrect its expired rows on the next
    * load's heal), then the expired-id set is pinned and each artifact
    * table anti-joins it under the snapshot-delta discipline
    * ([[compactDirLive]]): the O(table) rewrite holds NO lease (intake
    * appends proceed freely), and the lease is held only for each
    * table's delta catch-up + two renames. No row is ever re-featurized.
    *
    * NULL-predicate rows are RETAINED: a row where `expired` evaluates to
    * NULL does not POSITIVELY match the retention policy, and a
    * destructive maintenance op must not treat don't-know as expired.
    *
    * Crash-safety: artifact tables mutate FIRST (concurrently, via
    * [[inParallel]] — no ordering among them), the primary LAST with the
    * SAME pinned id set — a crash anywhere earlier leaves the expired
    * rows in the primary, so a re-run finds pending work and completes
    * the pass (the anti-joins are idempotent). A repair racing a crash
    * window can re-append a still-present expired row's artifacts; the
    * re-run subtracts them again. A row appended DURING the pass that
    * matches the predicate is outside the pinned set and falls to the
    * next pass. `extra` adds artifact tables with their own subtraction
    * (given the pinned ids) to the same parallel group. Returns the
    * number of primary ROWS dropped (a transient crash-window double
    * append counts twice). */
  private def expireKind(
      spark: SparkSession,
      statePath: String,
      kind: Kind,
      expired: Column,
      extra: Seq[(String, DataFrame => DataFrame => DataFrame)] = Nil): Long = {
    import org.apache.hadoop.fs.{Path => HPath}
    healKind(spark, statePath, kind, kind.artifacts ++ extra.map(_._1),
      s"expire${kind.name}")
    // BARRIER + COUNT in one job (round-19 diet): the lazy checkpoint
    // materializes — fully pinned — inside the count's single RDD job
    val expiredIds = Tables.read(spark, kind.primary)
      .filter(coalesce(expired, lit(false)))
      .select(kind.id).distinct().localCheckpoint(false)
    val n =
      if (expiredIds.queryExecution.toRdd.count() == 0L) 0L
      else Tables.read(spark, kind.primary)
        .join(expiredIds, Seq(kind.id), "left_semi").count()
    if (n > 0L) {
      val subtract: DataFrame => DataFrame =
        _.join(expiredIds, Seq(kind.id), "left_anti")
      inParallel(
        (kind.artifacts.map(_ -> subtract) ++
          extra.map { case (t, rewrite) => t -> rewrite(expiredIds) })
          .filter { case (t, _) => tableExists(spark, s"$statePath/$t") }
          .map { case (t, rewrite) => () =>
            compactDirLive(spark, statePath, new HPath(s"$statePath/$t"), rewrite)
          })
      compactDirLive(spark, statePath, new HPath(kind.primary), subtract)
    }
    n
  }

  /** Restore a kind's primary <-> artifact invariant after a crash in
    * the ingest's commit window (primary appended, artifacts not, or only
    * partly) — one pass for every kind:
    *
    *  - heal the primary and the artifact tables (a crashed swap's
    *    `__retired` leftover is renamed back, so a restarted stream
    *    starts instead of failing to read its table);
    *  - DRIFT: primary rows whose id is missing from the witness table
    *    get ALL their artifacts recomputed and appended under the lease
    *    (an artifact row that did land re-appends as a set-semantic
    *    duplicate — harmless, [[compact]] folds it);
    *  - GHOSTS: rows of the kind's ghost tables whose id left the primary
    *    (the reversed tear, or a manual write) are dropped by a rewrite
    *    swap — ONLY when some exist, so the healthy call never rewrites.
    *
    * Idempotent. Returns (drift rows repaired, ghost rows dropped). */
  private def repairKind(spark: SparkSession, statePath: String, kind: Kind): (Long, Long) = {
    val op = s"repair${kind.name}"
    healKind(spark, statePath, kind, kind.artifacts, op)
    val primary = Tables.read(spark, kind.primary)
    val drift = primary
      .join(Tables.read(spark, s"$statePath/${kind.witness}").select(kind.id).distinct(),
        Seq(kind.id), "left_anti")
      .localCheckpoint(true) // consumed by the artifact append AND the count
    val nDrift = drift.count()
    if (nDrift > 0L) {
      val append = kind.appendFor(drift)
      withLeaseRetry(spark, statePath, s"$op:append")(append())
    }
    val ids = primary.select(kind.id).distinct().localCheckpoint(false)
    val nGhosts = kind.ghosts.map { table =>
      val rows = Tables.read(spark, s"$statePath/$table")
      val ghosts = rows.join(ids, Seq(kind.id), "left_anti").count()
      if (ghosts > 0L) {
        val keep = rows.join(ids, Seq(kind.id), "left_semi").localCheckpoint(true)
        withLeaseRetry(spark, statePath, s"$op:rewrite:$table") {
          swapTable(spark, statePath, table) { staged =>
            keep.write.mode("overwrite").parquet(staged)
          }
        }
      }
      ghosts
    }.sum
    (nDrift, nGhosts)
  }

  /** RETENTION for the TEXT state — [[expireKind]] over the corpus and
    * its digests, span hashes and band rows, plus the text-only steps
    * around it. Subtraction is SOUND because the digest and span-hash
    * rows are keyed by doc_id: a retained doc that shares a digest or
    * window with an expired doc keeps its OWN row, so the value stays
    * standing. A state whose rows carry no doc_id (written by older code)
    * fails loudly before any mutation. Pair edges are DOUBLY keyed and
    * subtract in the same group: an edge drops when EITHER endpoint
    * expires (keeping it would let the exact relabel resurrect a
    * connection through a doc that no longer exists).
    *
    * SemDeDup centroids are untouched (frozen training state, not a
    * per-doc blocker); cluster LABELS are untouched by DEFAULT — they are
    * a reporting artifact, not an admission input, and a bare anti-join
    * would leave stale cluster_size values — pass `relabelClusters =
    * true` (or run [[relabelClusters]] any time later) to drop ghost
    * rows, recount sizes and drop shrunk-to-singleton clusters, with the
    * documented coarsening semantics (a fresh [[Dedup.duplicateClusters]]
    * + [[writeClusters]] rebuild remains the exact re-clustering path).
    * The census, when kept, is reconciled LAST.
    *
    * `expired` is a boolean predicate over corpus rows (an ingest-time
    * timestamp column, a doc_id horizon, a source policy — schema is
    * the caller's). Returns the number of corpus rows dropped. */
  def expire(
      spark: SparkSession,
      statePath: String,
      corpusPath: String,
      expired: Column,
      relabelClusters: Boolean = false): Long = {
    // payload-free rows (older code) cannot be subtracted — refuse before
    // any mutation instead of silently leaving unreachable rows
    Seq("digests", "span_hashes")
      .filter(t => tableExists(spark, s"$statePath/$t"))
      .foreach(t => requireDocKeyed(Tables.read(spark, s"$statePath/$t"), statePath, t))
    val pairEdges = (ids: DataFrame) => (edges: DataFrame) =>
      edges
        .join(ids.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_anti")
        .join(ids.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_anti")
        .select("doc_a", "doc_b") // joins reorder; keep the schema
    val n = expireKind(spark, statePath, textKind(spark, statePath, corpusPath),
      expired, Seq("pair_edges" -> pairEdges))
    // optional label hygiene, AFTER the corpus swap (the ghost detection
    // anti-joins the post-expire corpus); crash between the swap and
    // here just leaves the ghosts for the next relabel — see
    // [[relabelClusters]]'s idempotence contract
    if (relabelClusters) this.relabelClusters(spark, statePath, corpusPath)
    // census upkeep LAST: a completed expire preserves sum(census) ==
    // count(corpus) via one recount; a crash anywhere above leaves the
    // mismatch this same call heals on the re-run (no-op when the state
    // maintains no census). DEEP witness here: the pass already paid
    // corpus-shaped work, so the per-source compare (which also catches
    // a compensating equal-total drift) is marginal.
    reconcileSourceCensus(spark, statePath, corpusPath, deep = true)
    n
  }

  /** RETENTION for the EMBEDDING state — [[expireKind]] over the
    * standing vectors and their `emb_buckets` rows, so an expired vector
    * no longer blocks replicas of itself from (re-)admission through
    * [[graft.streaming.CorpusIntakeJob.ingestEmbeddingBatch]]. Returns
    * the number of vector rows dropped. */
  def expireEmbeddings(
      spark: SparkSession,
      statePath: String,
      standingVecsPath: String,
      expired: Column): Long =
    expireKind(spark, statePath, embeddingKind(spark, statePath, standingVecsPath), expired)

  /** RETENTION for the MEDIA state — [[expireKind]] over the standing
    * media and their `media_phashes` + `media_bands` rows, so an expired
    * item's perceptual hash no longer blocks near-replicas from
    * (re-)admission through
    * [[graft.streaming.CorpusIntakeJob.ingestMediaBatch]]. Returns the
    * number of media rows dropped. */
  def expireMedia(
      spark: SparkSession,
      statePath: String,
      standingMediaPath: String,
      expired: Column): Long =
    expireKind(spark, statePath, mediaKind(spark, statePath, standingMediaPath), expired)

  /** Compact the APPEND-ONLY state tables — and, when `corpusPath` is
    * given, the standing CORPUS table itself (the largest append-grown
    * table of the intake cycle, and previously the only one with no
    * maintenance path: [[graft.streaming.CorpusIntakeJob.ingestTextBatch]]
    * appends files to it every micro-batch, ~28,800/day at the 3-second
    * reference cadence, degrading every file listing).
    *
    * [[append]]/[[appendEmbBuckets]] and replayed micro-batches leave
    * duplicate rows in the state tables — harmless for correctness (every
    * consuming leg has set semantics: the exact leg dedupes digests,
    * band/bucket collisions are distinct()-ed), but they grow the
    * per-ingest scan linearly with sloppy history. State tables get a
    * distinct() rewrite; the corpus table (rows already unique by doc_id)
    * gets a pure FILE-COUNT rewrite sized to `targetFileBytes` outputs.
    * Cluster labels are rewritten partition-wise by [[updateClusters]].
    *
    * LIVE-STREAM COEXISTENCE: compaction must NOT require stopping the
    * intake stream (the reference's own posture is continuous operation —
    * `bin/meeseeker:25-33` restarts forever). Each table compacts
    * SNAPSHOT-DELTA: (1) pin the live file list, (2) rewrite exactly
    * those files into `<table>__staged` — the O(table) work — with NO
    * lease held, so concurrent appends proceed; (3) under the lease,
    * append the DELTA files (anything appended during the rewrite,
    * read raw — duplicates are set-semantic for state tables and
    * impossible for the corpus) to the staged dir and swap it in with
    * the two-rename discipline. Appends are excluded only for the
    * O(delta + rename) window of step 3, which
    * [[graft.streaming.CorpusIntakeJob.ingestTextBatch]] rides through
    * by retrying its lease acquire with backoff ([[withLeaseRetry]])
    * instead of dying. Concurrent READERS are unaffected up to the
    * rename instant; a scan straddling the swap retries against the
    * fresh table (the documented transient-reader caveat).
    *
    * The CORPUS swap is serialized by the STATE's lease even though the
    * table lives outside the state dir — sound because every corpus
    * mutator (the ingest batch leg) appends under that same lease; a
    * manual corpus writer must hold it too (or quiesce). */
  def compact(spark: SparkSession, path: String): Unit =
    compact(spark, path, None)

  def compact(
      spark: SparkSession,
      path: String,
      corpusPath: Option[String],
      targetFileBytes: Long = DefaultCompactTargetBytes): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    Seq("digests", "bands", "emb_buckets", "media_phashes", "media_bands",
        "span_hashes", "pair_edges")
      .foreach { table =>
        compactDirLive(spark, path, new HPath(s"$path/$table"), _.distinct())
      }
    corpusPath.foreach { cp =>
      compactDirLive(spark, path, new HPath(cp), { df =>
        val fs = new HPath(cp).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val bytes =
          if (fs.exists(new HPath(cp))) fs.getContentSummary(new HPath(cp)).getLength
          else 0L
        val parts = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
        df.repartition(parts.toInt)
      })
    }
  }

  /** One table's snapshot-delta compaction (see [[compact]]). `rewrite`
    * is the leaseless O(table) transform (distinct / repartition); the
    * lease covers only the delta catch-up and the two renames.
    *
    * The delta diff is sound ONLY if nothing but appends happened between
    * the unleased snapshot pin and the leased diff. Two realistic
    * violators exist: a lease-held FULL-TABLE REWRITE in that window (the
    * repair passes' swapTable ghost-drop, a writeMediaState /
    * writeSpanIndex / writeEmbBuckets overwrite — all replace every file,
    * so every post-rewrite file would count as "delta" appended onto the
    * STALE staged snapshot, silently resurrecting rows the rewrite
    * deliberately dropped), and ANOTHER compact() of the same table
    * (whose swap also replaces every file). Both are caught by one check
    * inside the phase-3 lease: every pinned f0 file must still exist —
    * appends never remove files, so a vanished f0 file is proof of a
    * rewrite, and the run ABORTS its stale snapshot and re-pins from
    * scratch (bounded attempts, then a loud failure). Each invocation
    * stages under a UNIQUE `<table>__staged_<pid>_<nanos>` dir, so two
    * compactors can never clobber each other's phase-2 output; a crashed
    * run's leftover staged dir is garbage-collected by the next
    * successful swap once it is a day old (no live phase-2 rewrite runs
    * that long — and a deleted-anyway victim just re-pins). */
  private def compactDirLive(
      spark: SparkSession,
      leasePath: String,
      live: org.apache.hadoop.fs.Path,
      rewrite: DataFrame => DataFrame,
      attempts: Int = 3): Unit = {
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live)) {
      // a crashed prior swap may have left the table at __retired only —
      // heal (mutates, so under the lease), then re-check
      if (!fs.exists(sibling(live, "__retired"))) return
      withLeaseRetry(spark, leasePath, s"compact-heal:${live.getName}") {
        healDir(fs, live)
      }
      if (!fs.exists(live)) return
    }
    var attempt = 0
    var lastAbort: Throwable = null
    while (attempt < attempts) {
      attempt += 1
      // PHASE 1 — pin the snapshot: the exact data files the rewrite covers
      val f0 = listDataFiles(fs, live)
      if (f0.isEmpty) return
      val staged = sibling(live,
        s"__staged_${ProcessHandle.current().pid()}_${System.nanoTime()}")
      // create the staged dir EAGERLY: the vanished-staged abort below
      // keys on its absence, and only a dir that EXISTED can vanish — a
      // phase-2 failure thrown before Spark created the dir (an eager
      // collect inside the rewrite callback) must propagate with its
      // real cause, not be swallowed as a cross-host GC race
      fs.mkdirs(staged)
      // Staged-dir-vanished guard: a CONCURRENT same-table compactor's
      // post-swap [[gcStaleStaged]] can delete this run's staged dir if
      // the run is pathologically old (>24h in phase 2, or stuck that
      // long waiting on the lease) or the host clocks disagree. pid-
      // scoped GC makes that impossible same-host; cross-host it
      // remains reachable, and without this guard the victim dies on a
      // confusing files-vanished FS error. With it, a failure whose
      // staged dir is GONE is treated exactly like the pinned-file-
      // vanished case: abort the stale snapshot and re-pin (and if the
      // abort hit between the two phase-3 renames, the table sits at
      // __retired — heal it first, same as the entry-time crash path).
      def abortIfStagedVanished(e: Throwable): Boolean = {
        val vanished = try !fs.exists(staged)
        catch { case _: java.io.IOException => false }
        if (vanished && !fs.exists(live) &&
            fs.exists(sibling(live, "__retired")))
          withLeaseRetry(spark, leasePath, s"compact-heal:${live.getName}") {
            healDir(fs, live)
          }
        vanished
      }
      val swapped =
        try {
          // PHASE 2 — the O(table) rewrite, NO lease: appends continue freely
          rewrite(spark.read.parquet(f0.map(_.toString): _*))
            .write.mode("overwrite").parquet(staged.toString)
          compactPostStageHook(live.getName)
          // PHASE 3 — delta catch-up + swap, the only excluded window. The
          // acquire RETRIES: against a live intake stream the lease is briefly
          // held every few seconds by batch commits, and the compactor must
          // wait its turn like any other mutator (the bounded timeout still
          // surfaces a crashed holder loudly). Sibling compactors of this
          // JVM (expire's parallel artifact group) queue on a per-state
          // monitor instead of racing each other for the lease, so only
          // holders outside the JVM count against the retry timeout.
          phase3Monitor(leasePath).synchronized {
            withLeaseRetry(spark, leasePath, s"compact:${live.getName}") {
              val f0set = f0.map(_.toString).toSet
              val current = listDataFiles(fs, live)
              if (!f0set.forall(current.map(_.toString).toSet)) {
                // a full-table rewrite replaced the pinned snapshot — the
                // staged output is stale; drop it and re-pin
                fs.delete(staged, true)
                false
              } else {
                val delta = current.filterNot(p => f0set(p.toString))
                if (delta.nonEmpty)
                  spark.read.parquet(delta.map(_.toString): _*)
                    .write.mode("append").parquet(staged.toString)
                val retired = sibling(live, "__retired")
                if (fs.exists(retired)) fs.delete(retired, true)
                if (!fs.rename(live, retired))
                  throw new java.io.IOException(
                    s"compact: rename $live -> $retired failed")
                if (!fs.rename(staged, live))
                  throw new java.io.IOException(
                    s"compact: rename $staged -> $live failed — pre-swap rows intact at $retired")
                fs.delete(retired, true)
                gcStaleStaged(fs, live)
                true
              }
            }
          }
        } catch {
          case scala.util.control.NonFatal(e) if abortIfStagedVanished(e) =>
            lastAbort = e // preserved as the cause if every attempt aborts
            false
        }
      if (swapped) return
    }
    val fail = new IllegalStateException(
      s"compact: $live was fully rewritten during each of $attempts " +
        "snapshot attempts (a repair/maintenance rewrite or another " +
        "compactor keeps replacing the table) — compact during a quieter " +
        "window")
    if (lastAbort != null) fail.initCause(lastAbort)
    throw fail
  }

  /** One monitor per state path, serializing [[compactDirLive]]'s phase-3
    * lease entry within this JVM. */
  private val phase3Monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def phase3Monitor(leasePath: String): Object =
    phase3Monitors.computeIfAbsent(leasePath, _ => new Object)

  /** TEST-ONLY injection point: invoked with the table dir's name after
    * each [[compactDirLive]] phase-2 rewrite (staged snapshot written,
    * phase-3 lease not yet acquired) — the window the
    * rewrite-vs-compaction race specs exercise deterministically. */
  @volatile private[graft] var compactPostStageHook: String => Unit = _ => ()

  /** Delete crashed compactors' leftover `<table>__staged_*` dirs (>= 1
    * day old) beside a table. Runs under the phase-3 lease right after a
    * successful swap. Scope guard: a dir whose embedded pid is STILL
    * ALIVE on this host is skipped regardless of age — a same-host
    * compactor legitimately >24h into phase 2 (the O(table) corpus
    * rewrite at the 100 TB posture) must not have its snapshot deleted
    * out from under it. A cross-host compactor's pid can't be probed;
    * there the age cutoff stands, and the victim recovers via
    * [[compactDirLive]]'s vanished-staged abort (clean re-pin, not an
    * FS error). An alive-but-unrelated pid collision merely defers GC
    * to a later swap. */
  private def gcStaleStaged(
      fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path): Unit = {
    val prefix = live.getName + "__staged_"
    val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
    def pidAlive(name: String): Boolean =
      name.stripPrefix(prefix).split('_').headOption
        .flatMap(p => scala.util.Try(p.toLong).toOption)
        .exists(p => ProcessHandle.of(p).isPresent)
    try fs.listStatus(live.getParent).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix) &&
        st.getModificationTime < cutoff && !pidAlive(st.getPath.getName))
      .foreach(st => fs.delete(st.getPath, true))
    catch { case _: java.io.IOException => () } // GC is best-effort
  }

  /** Recursively delete `path` if it exists. */
  private def deleteDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** `<dir>__suffix` beside `dir`. */
  private def sibling(
      dir: org.apache.hadoop.fs.Path, suffix: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(dir.getParent, dir.getName + suffix)

  /** Data files of a parquet table dir (skips `_SUCCESS`, checksums and
    * other `_`/`.`-prefixed bookkeeping). */
  private def listDataFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      .map(_.getPath)

  /** Parquet-table existence as a filesystem probe: the path holds a
    * data file — a name not starting with `_` or `.`, at any depth (the
    * bucketed `clusters/cpart=*` layout counts) — so an empty directory
    * or one holding only `_SUCCESS` reads as absent. Hadoop FS, not
    * java.io.File: the state path may be any Hadoop-addressable URI
    * (hdfs://, s3a://, file:), where a local-File check is always false
    * (which would e.g. silently drop the frozen centroids and re-run a
    * Lloyd training every ingest). No Spark job: an untyped parquet
    * read runs a schema-inference job, and even a [[Tables.read]] open
    * would read a footer for a yes/no answer. One probe idiom for every
    * optional state table. */
  private def tableExists(spark: SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.{FileStatus, Path => HPath}
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def holdsData(st: FileStatus): Boolean =
      st.isFile || fs.listStatus(st.getPath).exists { c =>
        val n = c.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") && holdsData(c)
      }
    try holdsData(fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => false }
  }

  /** Restore the vector-table <-> bucket-table invariant after a crash in
    * the ingest's commit window ([[repairKind]] over the embedding kind):
    * vectors MISSING bucket rows get them recomputed under the persisted
    * hyperplane regime and appended — otherwise they would never collide
    * with future replicas — and GHOST bucket rows (vec_id absent from the
    * vector table) are dropped. Idempotent;
    * [[graft.streaming.CorpusIntakeJob.runEmbeddingStream]] runs it once
    * at startup. Returns (bucket rows added, ghost rows dropped). */
  def repairEmbBuckets(
      spark: SparkSession, statePath: String, standingVecsPath: String): (Long, Long) =
    repairKind(spark, statePath, embeddingKind(spark, statePath, standingVecsPath))

  /** Restore the corpus-table <-> digest/band-table invariant after a
    * crash in the TEXT ingest's commit window ([[repairKind]] over the
    * text kind): corpus docs MISSING from `bands/` get their digests, band
    * rows and span hashes recomputed under the state's persisted regime
    * and appended — otherwise byte-replicas of them would be re-admitted
    * — and GHOST band rows (doc_id absent from the corpus) are dropped.
    *
    * Docs whose FINGERPRINT text is shorter than the shingle size can
    * never carry band rows, so they re-appear as drift every run and
    * re-append only their digest (idempotent up to set-semantic
    * duplicates). The gated intake never admits them (minWords >=
    * shingle size) — they arise only from manually-built corpus tables.
    *
    * The state is [[load]]ed first, so a payload-free state written by
    * older code is refused before anything appends to it, and the
    * census (when kept) is reconciled last with the DEEP witness:
    * startup runs once and already scans the corpus, and the per-source
    * compare also catches a compensating equal-total drift the cheap
    * witness cannot see. Idempotent;
    * [[graft.streaming.CorpusIntakeJob.runTextStream]] runs it once at
    * startup. Returns (drift docs repaired, ghost band rows dropped). */
  def repairTextArtifacts(
      spark: SparkSession, statePath: String, standingDocsPath: String): (Long, Long) = {
    load(spark, statePath)
    val repaired =
      repairKind(spark, statePath, textKind(spark, statePath, standingDocsPath))
    reconcileSourceCensus(spark, statePath, standingDocsPath, deep = true)
    repaired
  }

  /** Persist the standing corpus' PERCEPTUAL-HASH artifacts for the
    * MEDIA dedup cycle — the image/audio/video counterpart of `digests`/`bands`:
    * `media_phashes/` (media_id, phash — 8 bytes of state per standing
    * item, the fingerprint-then-discard shape: standing payloads are
    * never decoded again) + `media_bands/` (media_id, band, sig — the
    * [[Multimodal.phashBandRows]] projection) + a `media_meta` row
    * pinning the band regime. `phashes` is any [[Multimodal.imagePhash]]
    * / `audioPhash` / `videoPhash` output — the state machinery is
    * representation-agnostic over the 64-bit hash string. */
  def writeMediaState(
      phashes: DataFrame, path: String, nBands: Int = 4): Unit = {
    val spark = phashes.sparkSession
    import spark.implicits._
    val ph = Frames.barrier(phashes.select("media_id", "phash"))
    ph.write.mode("overwrite").parquet(s"$path/media_phashes")
    Multimodal.phashBandRows(ph, nBands)
      .select(col("doc_id").as("media_id"), col("band"), col("sig"))
      .write.mode("overwrite").parquet(s"$path/media_bands")
    Seq(nBands).toDF("n_bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/media_meta")
  }

  /** Lazy scans of the persisted media artifacts: (phashes, bands,
    * nBands). Heals crashed swaps first (skip-when-held, like every
    * load path). */
  def loadMediaState(spark: SparkSession, path: String): (DataFrame, DataFrame, Int) = {
    Seq("media_phashes", "media_bands").foreach(heal(spark, path, _))
    // regime row + schemas fetched driver-side (cachedRegimeRow /
    // Tables.read) — the media intake loads this every micro-batch, and
    // the uncached form paid one head() job + two schema-inference jobs
    // per batch for write-time constants
    val nBands = cachedRegimeRow(spark, s"$path/media_meta").getAs[Int]("n_bands")
    (Tables.read(spark, s"$path/media_phashes"),
      Tables.read(spark, s"$path/media_bands"), nBands)
  }

  /** Restore the media-table <-> phash/band-table invariant after a crash
    * in the media ingest's commit window ([[repairKind]] over the media
    * kind): standing media rows missing from `media_bands/` get BOTH
    * artifacts recomputed (a per-partition payload decode over the drift
    * rows only, via `phashOf`) and appended; ghost rows in either
    * artifact table (media_id absent from the media table) are dropped.
    * Returns (drift items repaired, ghost rows dropped). */
  def repairMediaArtifacts(
      spark: SparkSession,
      statePath: String,
      standingMediaPath: String,
      phashOf: DataFrame => DataFrame = Multimodal.imagePhash): (Long, Long) =
    repairKind(spark, statePath, mediaKind(spark, statePath, standingMediaPath, phashOf))

  /** Persist the standing corpus' SPAN-DEDUP window-hash index
    * (`span_hashes/` — one (doc_id, 16-byte md5) row per doc x DISTINCT
    * w-token window in it, the [[TextOps.spanWindowHashesKeyed]]
    * projection — plus a `span_meta` row pinning `w`): the standing side
    * of [[TextOps.removeDuplicatedSpansIncremental]]. O(corpus tokens)
    * rows — the exact-substring index's honest, published cost, paid
    * once as a table instead of a census rebuild per ingest. */
  def writeSpanIndex(docs: DataFrame, path: String, w: Int = 20): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    // heal a crashed swap BEFORE the overwrite: a span_hashes table
    // stranded at __retired would be orphaned by the fresh overwrite
    // below (its live dir then blocks healDir's rename — standing hashes
    // silently lost)
    healStranded(spark, path, "span_hashes", "writeSpanIndex:healSpans")
    TextOps.spanWindowHashesKeyed(docs, w)
      .write.mode("overwrite").parquet(s"$path/span_hashes")
    Seq(w).toDF("w")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/span_meta")
  }

  /** Lazy scan of the persisted span index: (hashes, w). Refuses a
    * payload-free index (see [[load]]). */
  def loadSpanIndex(spark: SparkSession, path: String): (DataFrame, Int) = {
    heal(spark, path, "span_hashes")
    val w = Tables.read(spark, s"$path/span_meta").head().getAs[Int]("w")
    (requireDocKeyed(Tables.read(spark, s"$path/span_hashes"), path, "span_hashes"), w)
  }

  /** Close the span-dedup cycle: append the CLEANED admitted batch's
    * distinct window hashes under the persisted `w` (duplicates across
    * appends are set-semantic; [[compact]] folds them). */
  def appendSpanHashes(cleanedBatch: DataFrame, path: String): Unit = {
    val spark = cleanedBatch.sparkSession
    // heal a crashed span_hashes swap BEFORE the append: in the crash
    // window the append would write into a FRESH live dir, and that live
    // dir would block healDir's rename — the retired rows orphaned
    // (standing hashes silently lost, under-dedup)
    healStranded(spark, path, "span_hashes", "appendSpanHashes:heal")
    val w = Tables.read(spark, s"$path/span_meta").head().getAs[Int]("w")
    val rows = TextOps.spanWindowHashesKeyed(cleanedBatch, w)
    withLease(spark, path, "appendSpanHashes") {
      Frames.sizedWrite(rows).write.mode("append").parquet(s"$path/span_hashes")
    }
  }

  /** Initialize the MAINTAINED PER-SOURCE CENSUS (`source_census/` —
    * (source, n) rows): the standing-corpus count frame
    * [[Mixing.capPerKeyIncremental]] and [[Mixing.temperatureSampleCounts]]
    * consume. SURVEY §2.H's "at 100 TB a maintained census table, not a
    * corpus scan" made real: written once from one corpus recount, then
    * maintained by every [[graft.streaming.CorpusIntakeJob.ingestTextBatch]]
    * admission (a #sources-row rewrite under the batch's own lease hold —
    * the table is tiny, so the whole-table swap is the cheap operation
    * here) and recounted by [[expire]]. The artifact is OPT-IN: the
    * ingest maintains it iff this table exists.
    *
    * CRASH DISCIPLINE: the census updates LAST in the ingest commit
    * (corpus -> artifacts -> census), so every crash shape leaves it
    * UNDER-counting — the witness [[reconcileSourceCensus]] keys on
    * (sum(census) != count(corpus) — two metadata-cheap counts), run at
    * stream startup via [[repairTextArtifacts]] and at the end of every
    * [[expire]]. Deltas are never subtracted blindly (a crash-retried
    * subtraction would double-count); healing is always a recount. */
  def writeSourceCensus(
      spark: SparkSession, statePath: String, corpusPath: String): Unit =
    Tables.read(spark, corpusPath)
      .groupBy("source").agg(count(lit(1)).as("n"))
      .coalesce(1).write.mode("overwrite").parquet(s"$statePath/source_census")

  /** Lazy scan of the maintained census: (source, n). */
  def loadSourceCensus(spark: SparkSession, statePath: String): DataFrame = {
    heal(spark, statePath, "source_census")
    Tables.read(spark, s"$statePath/source_census")
  }

  /** True iff the census artifact exists at this state path (the ingest's
    * maintain-iff-present probe). */
  private[graft] def sourceCensusExists(
      spark: SparkSession, statePath: String): Boolean =
    tableExists(spark, s"$statePath/source_census")

  /** Fold an ADMITTED batch's per-source counts into the census — caller
    * MUST hold the state lease (the ingest commit's hold). One union +
    * re-aggregate over (#sources + batch-sources) rows, checkpointed so
    * the swap never re-reads the live table it replaces. */
  private[graft] def bumpSourceCensus(
      spark: SparkSession, statePath: String, admitted: DataFrame): Unit = {
    val merged = Tables.read(spark, s"$statePath/source_census")
      .unionByName(
        admitted.groupBy("source").agg(count(lit(1)).as("n")))
      .groupBy("source").agg(sum("n").as("n"))
      .localCheckpoint(true)
    swapTable(spark, statePath, "source_census") { staged =>
      merged.coalesce(1).write.mode("overwrite").parquet(staged)
    }
  }

  /** Heal census drift from a crash between a corpus mutation and its
    * census update: when the census exists and its total disagrees with
    * the corpus row count (appends and expires both preserve the
    * equality when they complete), recount from the corpus and swap —
    * idempotent, under the lease. Returns true iff a recount ran. The
    * healthy path costs one census sum + one parquet-footer corpus
    * count.
    *
    * WITNESS GRANULARITY: the default (cheap) witness is total-only, so
    * a drift that PRESERVES the total but skews the per-source split —
    * two compensating crash shapes with no reconcile between them —
    * passes it. `deep = true` compares the census against the recount
    * PER SOURCE (one corpus groupBy + a full-outer join with the
    * #sources-row census — any disagreement, including the compensating
    * shape, fires the heal). The deep witness costs a corpus scan, so
    * it rides the passes that already pay corpus-shaped work — [[expire]]
    * and the stream-startup [[repairTextArtifacts]] — while the
    * per-batch replay reconcile stays cheap. */
  def reconcileSourceCensus(
      spark: SparkSession, statePath: String, corpusPath: String,
      deep: Boolean = false): Boolean = {
    healStranded(spark, statePath, "source_census", "reconcileCensus:heal")
    if (!sourceCensusExists(spark, statePath)) return false
    def drifted(): Boolean =
      if (deep) {
        // per-source witness: full-outer join so a source present on
        // only one side (admitted-then-crashed, or expired-to-zero)
        // disagrees with the other side's absence. NULL-SAFE key equality
        // (<=>): groupBy counts NULL sources as a group on BOTH sides, so
        // a plain equality join would leave the two NULL rows forever
        // unmatched and flag phantom drift that no recount can heal
        val cen = Tables.read(spark, s"$statePath/source_census")
          .select(col("source").as("__cs"), col("n").as("__cn"))
        val rec = Tables.read(spark, corpusPath)
          .groupBy("source").agg(count(lit(1)).as("__rn"))
        rec.join(cen, col("source") <=> col("__cs"), "full_outer")
          .filter(coalesce(col("__cn"), lit(0L)) =!= coalesce(col("__rn"), lit(0L)))
          .limit(1).count() > 0
      } else {
        val total = Tables.read(spark, s"$statePath/source_census")
          .agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
        total != Tables.read(spark, corpusPath).count()
      }
    // unleased fast path: the healthy case never touches the lease
    if (!drifted()) false
    else withLeaseRetry(spark, statePath, "reconcileSourceCensus") {
      // RE-CHECK and RECOUNT under the lease: a recount computed outside
      // it could land AFTER a concurrent ingest's census bump and clobber
      // that batch's counts with a stale snapshot (the lost-update race
      // the lease exists to exclude — ingest commits hold it for the
      // corpus append + bump pair, so under the lease the pair is
      // consistent). Drift is a crash-heal rarity; holding the lease for
      // one corpus recount is the price of a sound heal.
      if (!drifted()) false
      else {
        val recount = Tables.read(spark, corpusPath)
          .groupBy("source").agg(count(lit(1)).as("n"))
          .localCheckpoint(true)
        swapTable(spark, statePath, "source_census") { staged =>
          recount.coalesce(1).write.mode("overwrite").parquet(staged)
        }
        true
      }
    }
  }

  /** Persist a fitted DSIR log-ratio table (`dsir_ratios/`) — the
    * [[TextOps.dsirLogRatios]] output as a REGIME-GUARDED state artifact
    * instead of a bare parquet path: the frozen-model discipline the
    * SemDeDup centroids already get (fit once over the standing corpora,
    * score every batch against the frozen table), with the same loud
    * failure on a regime mismatch — ratios fit under one (m, lambda)
    * scored under another would silently mis-weight every bucket, the
    * exact drift [[loadDsirRatios]]' check refuses. The (m, lambda)
    * regime rides as CONSTANT COLUMNS on the ratio rows themselves
    * rather than a sibling meta table: two separate writes can tear (a
    * crash between them would leave new-regime ratios guarded by
    * old-regime meta, and the guard would then PASS a cross-regime
    * score — the exact silent failure it exists to refuse), while a
    * single self-describing table can only be fully old, fully new, or
    * loudly unreadable. The table is a FITTED MODEL, not a per-doc
    * artifact: [[expire]] deliberately leaves it untouched (an expired
    * doc's feature mass stays in the fitted distribution until the
    * model is deliberately re-fit — the centroid rule), and [[compact]]
    * skips it (m rows, nothing to fold). */
  def writeDsirRatios(
      ratios: DataFrame, path: String, m: Int, lambda: Double): Unit = {
    require(m >= 1, s"m must be positive, got $m")
    // A RE-fit routes through swapTable (stage + two renames + the
    // load-side heal) instead of overwriting the live dir in place:
    // mode("overwrite") deletes the live files before the new ones land,
    // so a crash mid-write could leave a partially-committed table whose
    // surviving rows still carry a self-consistent (m, lambda) — the
    // regime guard would pass while dsirScoresWithRatios' inner join on
    // bucket silently zeroed the missing buckets' contribution. The
    // first-ever write has no live dir to retire and writes directly;
    // loadDsirRatios' dense-coverage check is the belt to this suspender.
    val spark = ratios.sparkSession
    val out = ratios.select(col("bucket"), col("log_ratio"),
      lit(m).as("m"), lit(lambda).as("lambda"))
    if (tableExists(spark, s"$path/dsir_ratios"))
      // the swap holds the STATE LEASE like every other swapTable caller:
      // loadDsirRatios' heal skips only while the lease is held, so an
      // unleased re-fit racing a concurrent scorer's heal would have its
      // __retired renamed back mid-swap and fail spuriously
      withLeaseRetry(spark, path, "writeDsirRatios") {
        swapTable(spark, path, "dsir_ratios") { staged =>
          out.write.mode("overwrite").parquet(staged)
        }
      }
    else out.write.mode("overwrite").parquet(s"$path/dsir_ratios")
  }

  /** Lazy scan of the persisted DSIR ratio table, refusing an (m, lambda)
    * regime mismatch loudly (see [[writeDsirRatios]]). The caller feeds
    * the result to [[TextOps.dsirScoresWithRatios]] with the SAME m.
    *
    * The guard validates the WHOLE table, not just the head row:
    * [[TextOps.dsirLogRatios]] emits exactly one row per bucket 0..m-1,
    * so (a) every row must carry the same (m, lambda) — a mixed-regime
    * table can only come from a torn write and must not score — and (b)
    * the bucket set must cover 0..m-1 densely — a partially-committed
    * table would otherwise pass the regime check on any surviving row
    * while `dsirScoresWithRatios`' inner join on bucket silently zeroed
    * the missing buckets' contribution. One m-row aggregation. */
  def loadDsirRatios(
      spark: SparkSession, path: String, m: Int, lambda: Double): DataFrame = {
    heal(spark, path, "dsir_ratios")
    val df = Tables.read(spark, s"$path/dsir_ratios")
    val st = df.agg(
      count(lit(1)).as("rows"),
      countDistinct(col("bucket")).as("nb"),
      min(col("bucket").cast("long")).as("bmin"),
      max(col("bucket").cast("long")).as("bmax"),
      countDistinct(col("m"), col("lambda")).as("nreg"),
      first("m").as("pm"), first("lambda").as("pl")).head()
    require(st.getAs[Long]("rows") > 0L,
      s"persisted DSIR ratio table at $path/dsir_ratios is empty — " +
        "re-fit (writeDsirRatios) before scoring")
    require(st.getAs[Long]("nreg") == 1L,
      s"persisted DSIR ratio table at $path/dsir_ratios carries " +
        s"${st.getAs[Long]("nreg")} distinct (m, lambda) regimes — a torn " +
        "write; re-fit (writeDsirRatios) before scoring")
    val (pm, pl) = (st.getAs[Int]("pm"), st.getAs[Double]("pl"))
    require(pm == m && pl == lambda,
      s"persisted DSIR ratios were fit under m=$pm, lambda=$pl; " +
        s"caller wants m=$m, lambda=$lambda — re-fit (writeDsirRatios) " +
        "under the new regime instead of scoring across regimes")
    require(st.getAs[Long]("rows") == m.toLong &&
        st.getAs[Long]("nb") == m.toLong &&
        st.getAs[Long]("bmin") == 0L && st.getAs[Long]("bmax") == (m - 1).toLong,
      s"persisted DSIR ratio table at $path/dsir_ratios must cover buckets " +
        s"0..${m - 1} densely (got ${st.getAs[Long]("rows")} rows, " +
        s"${st.getAs[Long]("nb")} distinct buckets in " +
        s"[${st.getAs[Long]("bmin")}, ${st.getAs[Long]("bmax")}]) — a " +
        "partially-committed write; re-fit (writeDsirRatios)")
    df.select("bucket", "log_ratio")
  }

  /** Persist the standing corpus' sign-LSH bucket rows for the EMBEDDING
    * dedup cycle (`emb_buckets/` + an `emb_meta/` row pinning the
    * hyperplane regime) — the vector counterpart of the `bands/` table: a daily
    * ingest feeds [[Dedup.dedupByEmbeddingLshIncrementalVsBuckets]] a
    * scan of precomputed (vec_id, bucket) rows instead of re-projecting
    * every standing float vector against the hyperplanes. */
  def writeEmbBuckets(
      standingVecs: DataFrame,
      path: String,
      nPlanes: Int = 4,
      dim: Int = 64): Unit = {
    val spark = standingVecs.sparkSession
    import spark.implicits._
    VectorOps.hyperplaneBuckets(standingVecs, nPlanes, dim)
      .select("vec_id", "bucket")
      .write.mode("overwrite").parquet(s"$path/emb_buckets")
    Seq((nPlanes, dim)).toDF("n_planes", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/emb_meta")
  }

  /** Load the persisted bucket rows, refusing a hyperplane-regime
    * mismatch loudly (buckets from different planes would silently miss
    * near-dups). Returns a lazy scan. */
  def loadEmbBuckets(
      spark: SparkSession, path: String,
      nPlanes: Int = 4, dim: Int = 64): DataFrame = {
    heal(spark, path, "emb_buckets")
    val m = cachedRegimeRow(spark, s"$path/emb_meta")
    require(m.getAs[Int]("n_planes") == nPlanes && m.getAs[Int]("dim") == dim,
      s"persisted emb buckets use nPlanes=${m.getAs[Int]("n_planes")}, " +
        s"dim=${m.getAs[Int]("dim")}; caller wants nPlanes=$nPlanes, dim=$dim")
    Tables.read(spark, s"$path/emb_buckets")
  }

  /** Close the embedding cycle: append an ADMITTED batch's bucket rows
    * under the SAME persisted hyperplane regime (read from `emb_meta` —
    * batch-shaped work, standing untouched). */
  def appendEmbBuckets(batchVecs: DataFrame, path: String): Unit = {
    val spark = batchVecs.sparkSession
    val rows = embBucketRowsFor(batchVecs, path)
    withLease(spark, path, "appendEmbBuckets") {
      Frames.sizedWrite(rows).write.mode("append").parquet(s"$path/emb_buckets")
    }
  }

  /** The bucket projection of [[appendEmbBuckets]] split from its write
    * (the PERSISTED hyperplane regime, read from `emb_meta`) — the
    * embedding kind's artifact rows ([[embeddingKind]]). */
  private[graft] def embBucketRowsFor(batchVecs: DataFrame, path: String): DataFrame = {
    val spark = batchVecs.sparkSession
    val m = cachedRegimeRow(spark, s"$path/emb_meta")
    VectorOps.hyperplaneBuckets(
        batchVecs, m.getAs[Int]("n_planes"), m.getAs[Int]("dim"))
      .select("vec_id", "bucket")
  }

}
