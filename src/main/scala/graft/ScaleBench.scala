package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{CorpusPipeline, Dedup, StandingState, TextOps, VectorOps}

/** Empirical scale probe for the 100 TB-posture claims:
  * `runMain graft.ScaleBench [factor]` replicates the sf0.1 documents /
  * embeddings tables `factor`x (disjoint id ranges, exact-duplicate text —
  * the duplicate-HEAVY worst case for near-dup machinery: every LSH bucket
  * holds `factor` colliding docs) and times the scale-path operators on the
  * result. The point is the SHAPE of the scaling curve: candidate counts
  * bounded by banding + caps, wall time ~linear in corpus size, no
  * collect()s — printed as one JSON line per operator.
  */
object ScaleBench {

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Factor-x id-shifted replication. The per-copy stride ADAPTS to the
    * observed max id (one max() over the id column, driver-side scalar):
    * a fixed stride silently collides — and corrupts every fixed-point
    * probe (survivors==0, frequency-scaling) — as soon as the input is
    * itself a replicate() output (the hot-key probe) or a larger testdata
    * generation. Base corpora with ids under 10M keep the historical 10M
    * stride, so those probes' id spaces are unchanged. */
  def replicate(df: DataFrame, idCol: String, factor: Int): DataFrame = {
    // descriptive failures over a bare getLong: an empty frame yields a
    // NULL max (NPE), a non-integral id column a ClassCastException —
    // neither names the actual precondition
    val maxId = Option(df.agg(max(col(idCol))).head().get(0)) match {
      case Some(n: Number) => n.longValue()
      case Some(other) => throw new IllegalArgumentException(
        s"replicate: $idCol must be an integral column, got value '$other' " +
          s"of ${other.getClass.getSimpleName}")
      case None => throw new IllegalArgumentException(
        s"replicate: input frame is empty — nothing to replicate")
    }
    // stride growth and the per-copy shift are Long math: bound them so a
    // 63-bit-hash id space fails loudly instead of wrapping the stride
    // negative (non-terminating loop) or colliding shifted copies
    require(maxId < 1000000000000000L,
      s"replicate: max($idCol)=$maxId — id space too large for stride shifting")
    var stride = 10000000L
    while (stride <= maxId) stride *= 10
    require(stride <= Long.MaxValue / math.max(factor, 1),
      s"replicate: factor=$factor x stride=$stride overflows Long")
    (0 until factor)
      .map(i => df.withColumn(idCol, col(idCol) + lit(i.toLong * stride)))
      .reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(20)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.defaultCpus
    val spark = Sessions.build("graft-scalebench", cpus)
    spark.range(1000).selectExpr("sum(id)").collect()

    val docs = replicate(Tables.documents(spark, sfDir), "doc_id", factor)
      .localCheckpoint(true) // replicate once, measure operators not the union
    val nDocs = docs.count()

    val (nPairs, tLsh) = timed {
      TextOps.lshNearDupPairs(docs, 3, 16, 2).filter(col("jaccard") >= 0.5).count()
    }
    println(s"""{"op":"lsh_near_dup","docs":$nDocs,"verified_pairs":$nPairs,"sec":$tLsh}""")

    val (nSurv, tDedup) = timed { Dedup.dedupNearLsh(docs, tau = 0.5).count() }
    println(s"""{"op":"dedup_near_lsh","docs":$nDocs,"survivors":$nSurv,"sec":$tDedup}""")

    val (nExact, tExact) = timed { Dedup.exact(docs).count() }
    println(s"""{"op":"dedup_exact","docs":$nDocs,"survivors":$nExact,"sec":$tExact}""")

    // payload-free exact dedup: must land on the SAME survivor count as
    // the byte-equality form — the fixed point the md5-collision argument
    // rests on — while shuffling only (doc_id, digest) pairs
    val (nExactH, tExactH) = timed { Dedup.exactByHash(docs).count() }
    println(s"""{"op":"dedup_exact_hash","docs":$nDocs,"survivors":$nExactH,"survivors_match":${nExactH == nExact},"sec":$tExactH}""")

    // incremental dedup: a batch that replicates corpus CONTENT (fresh
    // ids) must be annihilated against the standing corpus — survivors
    // == 0 exactly — and the candidate work is batch-shaped, not
    // corpus-shaped (pairs form only around incoming docs)
    val batch = Tables.documents(spark, sfDir)
      .withColumn("doc_id", col("doc_id") + lit(900000000L))
      .localCheckpoint(true)
    val nBatch = batch.count()
    val (nIncSurv, tInc) = timed {
      Dedup.dedupNearLshIncremental(batch, docs, tau = 0.5).count()
    }
    println(s"""{"op":"incremental_dedup","standing":$nDocs,"batch":$nBatch,"survivors":$nIncSurv,"all_dropped":${nIncSurv == 0L},"sec":$tInc}""")

    // SKEWED-BUCKET near-dup: every doc gets the same boilerplate suffix,
    // so shared tail shingles drive some band minhashes identical across
    // large doc populations — the bucket whose pair emission is quadratic
    // in its size (the q65 pathology; round-8's size-bound emission +
    // native kernels exist for exactly this). Fixed point: the batch
    // replicates suffixed standing CONTENT under fresh ids, so survivors
    // == 0 exactly — while the wall stays batch-shaped, not
    // bucket-quadratic.
    val suffixed = Tables.documents(spark, sfDir)
      .withColumn("text", concat(col("text"),
        lit(" all rights reserved contact support at example dot com for details")))
      .localCheckpoint(true)
    val standingSkew = replicate(suffixed, "doc_id", math.min(factor, 5))
      .localCheckpoint(true)
    val nSkewStand = standingSkew.count()
    val skewBatch = suffixed.withColumn("doc_id", col("doc_id") + lit(900000000L))
      .localCheckpoint(true)
    val (nSkewSurv, tSkew) = timed {
      Dedup.dedupNearLshIncremental(skewBatch, standingSkew, tau = 0.5).count()
    }
    println(s"""{"op":"skewed_bucket_neardup","standing":$nSkewStand,"batch":${suffixed.count()},"survivors":$nSkewSurv,"all_dropped":${nSkewSurv == 0L},"sec":$tSkew}""")

    // composed incremental pipeline: standing corpus = a full prepare()
    // run; the batch replicates the PREPARED standing text under fresh
    // ids (factor-capped x), so every batch doc is an exact duplicate of
    // a standing doc and the daily-ingest run must annihilate it —
    // survivors == 0 EXACTLY (the gate passes prepared text, PII scrub
    // is idempotent on redacted text, and the incremental exact dedup's
    // digest semi-join sweeps the rest). Wall is compared against the
    // full re-prepare of standing+batch: the incremental form does
    // batch-shaped candidate work, the re-prepare pays corpus-shaped
    // near-dup all over again — the gap is the daily-ingest win.
    val standingPrep = CorpusPipeline.prepare(Tables.documents(spark, sfDir))
      .select("doc_id", "source", "text").localCheckpoint(true)
    val nStandPrep = standingPrep.count()
    val incFactor = math.min(factor, 5)
    val incBatch = replicate(standingPrep, "doc_id", incFactor)
      .withColumn("doc_id", col("doc_id") + lit(900000000L))
      .localCheckpoint(true)
    val nIncBatch = incBatch.count()
    val (nPrepSurv, tPrepInc) = timed {
      CorpusPipeline.prepareIncremental(incBatch, standingPrep).count()
    }
    val (_, tPrepFull) = timed {
      CorpusPipeline.prepare(standingPrep.unionByName(incBatch)).count()
    }
    println(s"""{"op":"prepare_incremental","standing":$nStandPrep,"batch":$nIncBatch,"survivors":$nPrepSurv,"all_dropped":${nPrepSurv == 0L},"incremental_sec":$tPrepInc,"full_reprepare_sec":$tPrepFull}""")

    // persisted standing state at the DAILY-INGEST shape (standing >>
    // batch — the regime the artifact store exists for): standing is the
    // prepared corpus replicated under shifted ids, the batch is one
    // un-replicated copy (every doc an exact dup of a standing doc ->
    // survivors == 0). The frame-fed twin re-digests and re-minhashes the
    // whole standing corpus per ingest; the state-fed run's standing cost
    // is a scan of the precomputed tables. Standing lives as a parquet
    // TABLE for both legs (the honest posture: at 100 TB standing is a
    // table, not a cached frame — a cached frame-fed twin understates
    // what re-derivation costs).
    // ...probed at TWO standing scales: after the driver-side Lloyd fast
    // path removed the per-ingest training cost, the crossover where
    // state-fed beats frame-fed sits above ~30k standing docs — a single
    // point there reads as a state loss when the CURVE is the claim
    // (frame-fed cost grows with standing, state-fed tracks the batch).
    val smallBatch = standingPrep
      .withColumn("doc_id", col("doc_id") + lit(900000000L))
      .localCheckpoint(true)
    val nSmallBatch = smallBatch.count()
    for (standFactor <- Seq(10, 40)) {
      val standingTblDir = java.nio.file.Files
        .createTempDirectory(s"scalebench_standing_tbl_${standFactor}_").toString
      replicate(standingPrep, "doc_id", standFactor)
        .write.mode("overwrite").parquet(standingTblDir)
      val bigStanding = Tables.read(spark, standingTblDir)
      val nBigStanding = bigStanding.count()
      val statePath = java.nio.file.Files
        .createTempDirectory(s"scalebench_standing_state_${standFactor}_").toString
      // untimed warm pass: JIT, codegen, and the standing-table scan
      // warm-up must not land in whichever timed leg runs first
      CorpusPipeline.prepareIncremental(smallBatch, bigStanding).count()
      val (nFrameSurv, tFrameFed) = timed {
        CorpusPipeline.prepareIncremental(smallBatch, bigStanding).count()
      }
      val (_, tStateWrite) = timed {
        StandingState.write(bigStanding, statePath)
      }
      val (nStateSurv, tStateFed) = timed {
        CorpusPipeline.prepareIncrementalWithState(
          smallBatch, bigStanding, StandingState.load(spark, statePath)).count()
      }
      println(s"""{"op":"prepare_incremental_state","standing_factor":$standFactor,"standing":$nBigStanding,"batch":$nSmallBatch,"survivors":$nStateSurv,"survivors_match":${nStateSurv == nFrameSurv},"all_dropped":${nStateSurv == 0L},"write_state_sec":$tStateWrite,"state_fed_sec":$tStateFed,"frame_fed_sec":$tFrameFed}""")
    }

    // BPE merge learning: uniform factor-x replication multiplies every
    // word frequency by the factor, so the merge SEQUENCE must be
    // bit-identical to the base corpus' and every pair_freq exactly
    // factor x — the vocab-bound-training invariant in one fixed point
    val baseDocs = Tables.documents(spark, sfDir)
    val (bpeOk, tBpe) = timed {
      val base = TextOps.learnBpeMerges(baseDocs, 8)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      val repl = TextOps.learnBpeMerges(docs, 8)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      base.length == repl.length && base.zip(repl).forall {
        case ((br, bl, brr, bf), (rr, rl, rrr, rf)) =>
          br == rr && bl == rl && brr == rrr && rf == bf * factor
      }
    }
    println(s"""{"op":"bpe_merges","docs":$nDocs,"rounds":8,"sequence_and_freq_scale_exact":$bpeOk,"sec":$tBpe}""")

    val emb = replicate(Tables.embeddings(spark, sfDir), "vec_id", factor)
      .localCheckpoint(true)
    val nVec = emb.count()
    val (nAnn, tAnn) = timed {
      VectorOps.lshTopK(emb, _ < 10, 4, 64, 3).count()
    }
    println(s"""{"op":"ann_lsh","vectors":$nVec,"results":$nAnn,"sec":$tAnn}""")

    // as-of join over replicated events: one keyed window over |L|+|R|
    // rows — wall time should track row count, never pair count
    val events = replicate(Tables.events(spark, sfDir), "event_id", factor)
      .localCheckpoint(true)
    val nEv = events.count()
    val clicks = events.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val errs = events.filter(col("event_type") === "error")
      .select("user_id", "ts", "event_id", "value")
    val (nAsof, tAsof) = timed {
      graft.ops.AsOfJoin.lastAtOrBefore(
        clicks, errs, Seq("user_id"), "ts", "event_id",
        Seq("event_id", "value"), "err_").count()
    }
    println(s"""{"op":"asof_join","events":$nEv,"rows":$nAsof,"sec":$tAsof}""")

    // hot-key worst case: EVERY event on one user, corpus replicated a
    // further SPARK_GRAFT_HOT_FACTOR x (disjoint event ids, same time
    // range — rows per time slice grow, slice count doesn't). The flat
    // as-of form funnels all rows through one window task; the bucketed
    // form bounds tasks by time slice — same results. Locally the flat
    // single-task sort stays competitive until ~50M+ rows on the key
    // (measured crossover: 80M rows -> flat 1.9 s vs bucketed 1.5 s);
    // the bucketed form's real value is bounded per-task memory.
    val hot = replicate(events, "event_id", sys.env.getOrElse("SPARK_GRAFT_HOT_FACTOR", "10").toInt)
      .withColumn("user_id", lit(7L)).localCheckpoint(true)
    val hotClicks = hot.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val hotErrs = hot.filter(col("event_type") === "error")
      .select("user_id", "ts", "event_id", "value")
    val (nFlat, tFlat) = timed {
      graft.ops.AsOfJoin.lastAtOrBefore(
        hotClicks, hotErrs, Seq("user_id"), "ts", "event_id",
        Seq("event_id", "value"), "err_").count()
    }
    val (nBuck, tBuck) = timed {
      graft.ops.AsOfJoin.lastAtOrBeforeBucketed(
        hotClicks, hotErrs, Seq("user_id"), "ts", "event_id",
        Seq("event_id", "value"), "err_", bucketMicros = 3600L * 1000000L).count()
    }
    println(s"""{"op":"asof_hotkey","events":$nEv,"flat_sec":$tFlat,"bucketed_sec":$tBuck,"rows_equal":${nFlat == nBuck}}""")

    // duplicate-cluster connected components on a synthetic graph:
    // star components of size 8 (the shallow shape real duplicate
    // clusters take) PLUS one 4096-deep chain — the diameter adversary
    // that would cost propagation 4096 rounds; the large-star/small-star
    // algorithm pays ~log2(n) rounds bounded by the CHAIN, not the
    // million shallow components. Wall time should track edge count x
    // rounds.
    val starSize = 8
    val nEdgeRows = sys.env.getOrElse("SPARK_GRAFT_CC_EDGES", "1000000").toLong
    val stars = spark.range(nEdgeRows).toDF("i")
      .filter(pmod(col("i"), lit(starSize)) =!= 0)
      .select(
        (col("i") - pmod(col("i"), lit(starSize))).as("doc_a"),
        col("i").as("doc_b"))
    val chainBase = nEdgeRows + 1000L
    val chain = spark.range(4096).toDF("j")
      .select((col("j") + chainBase).as("doc_a"), (col("j") + chainBase + 1).as("doc_b"))
    val ccEdges = stars.unionByName(chain).localCheckpoint(true)
    val nEdges = ccEdges.count()
    // FORCED-DISTRIBUTED star rounds first — the log-round claim is about
    // this path (the over-cap regime a corpus-wide pair graph lands in)
    spark.conf.set("spark.graft.cc.localCap", "0")
    val ((nCcRows, nClusters), tCc) =
      try timed {
        val labels = Dedup.duplicateClusters(ccEdges).localCheckpoint(false)
        (labels.count(), labels.select("cluster_id").distinct().count())
      } finally spark.conf.unset("spark.graft.cc.localCap")
    // same edges through the default driver union-find fast path (879k
    // edges fit the 2M cap) — the under-cap regime a day's verified pairs
    // land in; labels kept for the incremental probe below
    var ccLabels: org.apache.spark.sql.DataFrame = null
    val (nCcLocal, tCcLocal) = timed {
      ccLabels = Dedup.duplicateClusters(ccEdges).localCheckpoint(true)
      ccLabels.count()
    }
    println(s"""{"op":"dup_clusters","edges":$nEdges,"vertices":$nCcRows,"clusters":$nClusters,"distributed_sec":$tCc,"local_sec":$tCcLocal,"vertices_match":${nCcRows == nCcLocal}}""")

    // INCREMENTAL cluster maintenance at the daily-ingest shape: 1,000
    // batch edges (500 bridging adjacent standing stars — real cross-batch
    // merges over the 1M-vertex standing labels — plus a fresh 500-chain
    // of brand-new docs) folded into the standing labels. The cost to
    // watch: batch-shaped (contracted CC + broadcast relabel + two label
    // scans), NOT a function of the standing edge count — vs the full
    // re-run, which is.
    val ccBridge = spark.range(500).toDF("k")
      .select((col("k") * (2L * starSize)).as("doc_a"),
        (col("k") * (2L * starSize) + starSize).as("doc_b"))
    val ccFreshBase = chainBase + 100000L
    val ccFresh = spark.range(500).toDF("k")
      .select((col("k") + ccFreshBase).as("doc_a"),
        (col("k") + ccFreshBase + 1L).as("doc_b"))
    val (nIncCc, tIncCc) = timed {
      Dedup.duplicateClustersIncremental(
        ccLabels, ccBridge.unionByName(ccFresh)).count()
    }
    println(s"""{"op":"dup_clusters_incremental","standing_vertices":$nCcLocal,"batch_edges":1000,"vertices":$nIncCc,"new_vertices_ok":${nIncCc == nCcLocal + 501},"sec":$tIncCc,"full_rerun_sec":$tCcLocal}""")

    // PARTITIONED cluster-state maintenance: the same standing labels
    // persisted bucketed by cluster_id, the same 1,000-edge batch folded
    // through the persisted table — the probe is WHICH partitions'
    // files change. The bridge roots are multiples of 8, so they land in
    // 8 of the 64 buckets (+1 for the fresh chain): rewrite IO must
    // track the touched components, never the 1M-vertex table.
    val partDir = java.nio.file.Files.createTempDirectory("scale_clusters_part_").toString
    StandingState.writeClusters(ccLabels, partDir, nParts = 64)
    def partFiles(): Map[String, Set[(String, Long)]] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(partDir, "clusters"))
        .iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map { p =>
          val cpart = p.getParent.getFileName.toString
          cpart -> (p.getFileName.toString,
            java.nio.file.Files.getLastModifiedTime(p).toMillis)
        }
        .toVector.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    }
    val partsBefore = partFiles()
    val (nPartCc, tPartCc) = timed {
      StandingState.updateClusters(partDir, ccBridge.unionByName(ccFresh)).count()
    }
    val partsAfter = partFiles()
    val allParts = partsBefore.keySet ++ partsAfter.keySet
    val rewritten = allParts.count(p => partsBefore.get(p) != partsAfter.get(p))
    println(s"""{"op":"dup_clusters_partitioned","parts_total":64,"parts_rewritten":$rewritten,"rewrite_bounded":${rewritten > 0 && rewritten <= 16},"vertices":$nPartCc,"vertices_match":${nPartCc == nIncCc},"sec":$tPartCc}""")

    // passage dedup over the replicated corpus (duplicate-HEAVY: every
    // chunk occurs factor x) — only hashes shuffle, doc text never moves
    val (nPass, tPass) = timed {
      TextOps.passageStats(docs, 20).agg(sum("n_dup_passages")).head().getLong(0)
    }
    println(s"""{"op":"passage_dedup","docs":$nDocs,"dup_passages":$nPass,"sec":$tPass}""")

    // boilerplate rewrite under duplicate-heavy replication: every chunk
    // occurs factor x across disjoint-id copies, so EVERY chunk must be
    // removed — all rows survive with empty text (the all-boilerplate
    // fixed point), and n_removed must sweep the full chunk census
    val (rw, tRw) = timed {
      val agg = TextOps.removeDuplicatedPassages(docs, 20).agg(
        count(lit(1)),
        sum(when(col("text") =!= "", 1L).otherwise(0L)),
        sum(col("n_removed").cast("long")),
        sum(col("n_chunks").cast("long"))).head()
      (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
    }
    println(s"""{"op":"remove_dup_passages","docs":$nDocs,"rows":${rw._1},"all_rewritten":${rw._1 == nDocs && rw._2 == 0L && rw._3 == rw._4},"sec":$tRw}""")

    // SemDeDup over replicated embeddings: the within-cluster join is
    // quadratic in cluster SIZE, so k must scale with n (the SemDeDup
    // recipe — k ~ n/200 here). k=8 vs k=200 at 40 k vectors measured
    // 19 s vs 30 s: at this probe size the O(n x k x dim) assignment
    // dominates, but scaled k cuts candidate pairs 25x (100 M -> 4 M),
    // which is the term that survives a 100x corpus scale-up.
    val kSem = math.max(8L, nVec / 200L).toInt
    val (nSem, tSem) = timed { Dedup.semDedup(emb, tau = 0.99, nCentroids = kSem).count() }
    println(s"""{"op":"semdedup","vectors":$nVec,"k":$kSem,"survivors":$nSem,"sec":$tSem}""")

    // vocabulary construction over replicated docs: map-side-combinable
    // (source, term) agg; result size is vocab-bound, not corpus-bound
    val (nVocab, tVocab) = timed {
      docs.select(col("source"), col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("source", "term")
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .count()
    }
    println(s"""{"op":"vocab","docs":$nDocs,"terms":$nVocab,"sec":$tVocab}""")

    // sequence packing on a ONE-source corpus — the worst case for the
    // flat per-source running-sum window (all rows through one task).
    // The two-level prefix sum's sequential step is only the per-bucket
    // heads frame (1/8192nd of the corpus); wall time should track the
    // parallel local windows, flat should track the single-task sort.
    val oneSrc = docs
      .select(col("doc_id"), lit("s").as("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .localCheckpoint(true)
    val (nPacked, tPack) = timed {
      graft.llm.Packing.packSequences(oneSrc, budget = 2048)
        .agg(count(lit(1)), max("bin"), sum("pos_in_bin")).head().getLong(0)
    }
    import org.apache.spark.sql.expressions.Window
    val (_, tPackFlat) = timed {
      val w = Window.partitionBy("source").orderBy("doc_id")
      oneSrc
        .withColumn("tok_before",
          coalesce(sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("bin", (col("tok_before") / 2048).cast("long"))
        .agg(max("bin"), sum("tok_before")).head()
    }
    println(s"""{"op":"seq_packing_1src","docs":$nPacked,"two_level_sec":$tPack,"flat_window_sec":$tPackFlat}""")

    // curriculum staging on a large synthetic score frame — same story as
    // packing: the flat global-order ntile window is ONE task over the
    // whole corpus; the hierarchical form (score buckets + control fetch +
    // partitioned ranks) keeps every heavy step parallel. Results must be
    // identical (checksum of stage x id), wall time should diverge with
    // row count.
    val nCurr = sys.env.getOrElse("SPARK_GRAFT_CURR_ROWS", "10000000").toLong
    val scored = spark.range(nCurr).toDF("doc_id")
      .withColumn("score",
        pmod(col("doc_id") * lit(2654435761L), lit(1000003L)).cast("double") / 1000003.0)
      .localCheckpoint(true)
    val (sumHier, tCurrHier) = timed {
      graft.llm.Mixing.curriculumStages(scored, col("score"), 10)
        .agg(sum(col("stage").cast("long") * col("doc_id"))).head().getLong(0)
    }
    val (sumFlat, tCurrFlat) = timed {
      scored.withColumn("stage",
          ntile(10).over(Window.orderBy(col("score").asc, col("doc_id").asc)))
        .agg(sum(col("stage").cast("long") * col("doc_id"))).head().getLong(0)
    }
    println(s"""{"op":"curriculum","rows":$nCurr,"hier_sec":$tCurrHier,"flat_window_sec":$tCurrFlat,"equal":${sumHier == sumFlat}}""")

    // hash split on a large synthetic corpus: a pure per-row projection
    // (zero shuffle at any scale), so wall time is the scan; the check
    // that MATTERS is growth stability — every id in the half-corpus gets
    // the SAME split after the corpus doubles (the property that keeps
    // yesterday's val set out of tomorrow's train set). Fixed point:
    // mismatches must be exactly 0.
    val nSplit = sys.env.getOrElse("SPARK_GRAFT_SPLIT_ROWS", "10000000").toLong
    val splitCorpus = spark.range(nSplit).toDF("doc_id").localCheckpoint(true)
    val fractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val (splitCounts, tSplit) = timed {
      graft.llm.Mixing.hashSplit(splitCorpus, fractions)
        .groupBy("split").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val halfAssign = graft.llm.Mixing
      .hashSplit(splitCorpus.filter(col("doc_id") < nSplit / 2), fractions)
      .select(col("doc_id"), col("split").as("half_split"))
    val nUnstable = graft.llm.Mixing.hashSplit(splitCorpus, fractions)
      .join(halfAssign, "doc_id")
      .filter(col("split") =!= col("half_split"))
      .count()
    println(s"""{"op":"hash_split","rows":$nSplit,"train":${splitCounts.getOrElse("train", 0L)},"val":${splitCounts.getOrElse("val", 0L)},"test":${splitCounts.getOrElse("test", 0L)},"growth_unstable":$nUnstable,"sec":$tSplit}""")

    // seeded training-shard export on the packed one-source corpus: the
    // write is repartition(source, shard) + per-shard sort — every heavy
    // step parallel per shard, the intra-shard shuffle a per-row md5.
    // Fixed point: the shard layout preserves the row multiset exactly
    // (count + doc_id checksum), shard count = ceil(bins/binsPerShard).
    val packedForWrite = graft.llm.Packing.packSequences(oneSrc, budget = 2048)
      .localCheckpoint(true)
    val inStats = packedForWrite
      .agg(count(lit(1)), sum("doc_id"), (max("bin") + 1).as("bins")).head()
    val tmpShards = java.nio.file.Files.createTempDirectory("shards_probe")
    try {
      val (_, tShard) = timed {
        graft.llm.Packing.writeShards(
          packedForWrite, s"$tmpShards/out", binsPerShard = 64L, shuffleSeed = Some(42L))
      }
      val back = Tables.read(spark, s"$tmpShards/out")
      val outStats = back.agg(count(lit(1)), sum("doc_id")).head()
      val nShards = back.select("source", "shard").distinct().count()
      val wantShards = (inStats.getLong(2) + 63L) / 64L
      println(s"""{"op":"write_shards","rows":${inStats.getLong(0)},"shards":$nShards,"multiset_ok":${inStats.getLong(0) == outStats.getLong(0) && inStats.getLong(1) == outStats.getLong(1)},"shards_ok":${nShards == wantShards},"sec":$tShard}""")
    } finally {
      val files = java.nio.file.Files.walk(tmpShards)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator()
      while (files.hasNext) java.nio.file.Files.deleteIfExists(files.next())
    }

    // perceptual-hash image near-dup over the replicated corpus: 100k
    // REAL PPM images (decode + 8x8 aHash per partition), banded pair
    // generation through the capped bucket machinery. Duplicate-HEAVY
    // worst case: every raster occurs factor x, so each distinct-raster
    // band bucket holds >= factor colliding images, and the all-padding
    // zero band is the boilerplate hot bucket the cap must bound. The
    // numbers to watch: pair count bounded (no O(n^2) blowup), wall
    // tracking the decode scan.
    val ((nPhPairs, nPhZero), tPhash) = timed {
      val ph = graft.llm.Multimodal.imagePhash(
        graft.llm.Multimodal.asMedia(docs)).localCheckpoint(true)
      val pairs = graft.llm.Multimodal.phashNearDupPairs(ph).localCheckpoint(false)
      (pairs.count(), pairs.filter(col("hamming") === 0).count())
    }
    println(s"""{"op":"phash_near_dup","images":$nDocs,"pairs":$nPhPairs,"hamming0_pairs":$nPhZero,"sec":$tPhash}""")

    // product quantization on the replicated embeddings, train and rank
    // timed SEPARATELY: codebooks train ONCE on a deterministic id-sample
    // and serve every query batch after (the production split), while the
    // rank path — encode + ADC over codes + exact re-rank — is what scans
    // the corpus per query batch. Locally rank CPU is comparable to brute
    // force (same pair count, cheaper bytes); at 100 TB the candidate scan
    // reads m codes + 1 norm instead of dim floats (~20x less IO), which
    // is the term that dominates a real cluster.
    val (cbsPq, tPqTrain) = timed {
      graft.llm.Pq.trainCodebooks(emb, m = 8, k = 16,
        trainFrac = math.min(1.0, 20000.0 / nVec))
    }
    val (nPq, tPqRank) = timed {
      graft.llm.Pq.pqTopKWith(emb, _ < 10, cbsPq, k = 5, refine = 4,
        queryRowsHint = Some(10L)).count()
    }
    val (nBf, tBf) = timed {
      VectorOps.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, 5).count()
    }
    println(s"""{"op":"pq_topk","vectors":$nVec,"results":$nPq,"train_sec":$tPqTrain,"rank_sec":$tPqRank,"bruteforce_sec":$tBf,"bf_results":$nBf}""")

    // ANN RECALL REPORT — the recall/cost dial as a measured artifact, not
    // scaladoc prose: every approximate retrieval path vs brute-force
    // ground truth at the same k, over the RAW (unreplicated) embeddings —
    // replication plants factor-many exact ties per vector, which turns
    // recall into a tie-break lottery and measures nothing about the
    // index. recall@k = |approx ∩ exact| / |exact| per the usual ANN-bench
    // definition, computed as one semi-join + count per path (the truth
    // set stays distributed; only counts reach the driver). Floors gate
    // "the index is not broken" — a bucketing bug, a sign flip, or a
    // rank-off-by-one collapses recall to ~0 — NOT "the index is
    // well-tuned": the synthetic embeddings are near-isotropic random
    // vectors, the ADVERSARIAL case for every pruning index (no
    // Matryoshka front-loading for truncation, no cluster structure for
    // IVF/LSH to exploit), so measured recalls here are a lower bound on
    // what structured real-corpus embeddings give the same parameters.
    // Measured at sf0.01 (500 vecs): truncated_d16 0.10, lsh 0.15,
    // ivf 0.60, pq_adc 0.49, ivf_pq 0.47, residual 0.42 — the ordering
    // itself is the interesting artifact (data-adaptive k-means pruning
    // beats data-oblivious hyperplanes/truncation on unstructured data).
    val rawEmb = Tables.embeddings(spark, sfDir).localCheckpoint(true)
    val nRawVec = rawEmb.count()
    val annK = 5
    val annQ = (c: org.apache.spark.sql.Column) => c < 20
    val truth = VectorOps.bruteForceTopK(
        rawEmb.filter(annQ(col("vec_id"))), rawEmb, annK)
      .select("vec_id", "neighbor_id")
      .localCheckpoint(true)
    val nTruth = truth.count()
    def recallOf(df: => DataFrame): (Double, Double) = {
      val (hits, sec) = timed {
        df.select("vec_id", "neighbor_id")
          .join(truth, Seq("vec_id", "neighbor_id"), "left_semi").count()
      }
      (hits.toDouble / nTruth, sec)
    }
    val (cbsRaw, _) = timed {
      graft.llm.Pq.trainCodebooks(rawEmb, m = 8, k = 16)
    }
    val annPaths: Seq[(String, Double, () => DataFrame)] = Seq(
      ("truncated_d16", 0.04, () =>
        VectorOps.truncatedTopK(rawEmb.filter(annQ(col("vec_id"))), rawEmb, 16, annK)),
      ("lsh", 0.06, () => VectorOps.lshTopK(rawEmb, annQ, 4, 64, annK)),
      ("ivf", 0.30, () => VectorOps.ivfTopK(rawEmb, annQ, 16, 4, annK)),
      ("pq_adc", 0.15, () => graft.llm.Pq.pqTopKWith(rawEmb, annQ, cbsRaw, annK, queryRowsHint = Some(10L))),
      ("ivf_pq", 0.20, () => graft.llm.Pq.ivfPqTopK(rawEmb, annQ, 16, 4, 8, annK, queryRowsHint = Some(10L))),
      ("ivf_pq_residual", 0.20, () =>
        graft.llm.Pq.ivfPqTopK(rawEmb, annQ, 16, 4, 8, annK, residual = true,
          queryRowsHint = Some(10L))),
    )
    val annResults = annPaths.map { case (name, floor, build) =>
      val (recall, sec) = recallOf(build())
      (name, floor, recall, sec)
    }
    val annOk = annResults.forall { case (_, floor, recall, _) => recall >= floor }
    val recallJson = annResults.map { case (name, floor, recall, sec) =>
      s""""$name":{"recall":$recall,"floor":$floor,"sec":$sec}"""
    }.mkString(",")
    println(s"""{"op":"ann_recall","vectors":$nRawVec,"k":$annK,"queries":20,"truth_rows":$nTruth,$recallJson,"all_above_floor":$annOk}""")

    // streaming embedding dedup over the replicated (duplicate-HEAVY:
    // every vector occurs factor x) corpus, as a REAL streaming run: the
    // corpus is staged to parquet and consumed through the file streaming
    // source (executor-side reads — no driver-side MemoryStream data
    // path), codebooks come from the offline training above (the
    // batch-train/stream-apply split). Fixed point: survivors across all
    // micro-batches == the 1x corpus's distinct code-signature count —
    // replicas quantize identically, so the state (one entry per distinct
    // cell) must admit each cell exactly once no matter the factor.
    val tmpStream = java.nio.file.Files.createTempDirectory("stream_dedup_probe")
    try {
      emb.select(col("vec_id"), col("embedding"),
          expr("timestamp_micros(vec_id)").as("ts"))
        .write.mode("overwrite").parquet(s"$tmpStream/in")
      val distinctCells = graft.llm.Pq
        .encode(Tables.embeddings(spark, sfDir), cbsPq)
        .select("codes").distinct().count()
      val survivors = new java.util.concurrent.atomic.AtomicLong(0L)
      val (_, tStream) = timed {
        val in = spark.readStream
          .schema(Tables.read(spark, s"$tmpStream/in").schema)
          .parquet(s"$tmpStream/in")
        val q = graft.streaming.EventStreamJobs
          .streamingEmbeddingDedup(in, "ts", "1 hour", cbsPq)
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$tmpStream/ckpt")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            survivors.addAndGet(batch.count()); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      println(s"""{"op":"streaming_embedding_dedup","vectors":$nVec,"survivors":${survivors.get()},"distinct_cells":$distinctCells,"survivors_constant":${survivors.get() == distinctCells},"sec":$tStream}""")
    } finally {
      val files = java.nio.file.Files.walk(tmpStream)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator()
      while (files.hasNext) java.nio.file.Files.deleteIfExists(files.next())
    }

    // STREAMING TEXT INTAKE under file growth: runTextStream over N
    // micro-batches against a persisted standing state at replicated
    // scale. ZERO Structured-Streaming state means per-batch cost is
    // O(batch + collisions), so per-batch latency must stay FLAT as the
    // corpus/state tables accrue appended files — and a MID-RUN live
    // compaction (snapshot-delta, lease-retried) must drop the file
    // counts without killing the stream or losing admissions.
    locally {
      import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
      import java.util.concurrent.atomic.AtomicLong
      import scala.jdk.CollectionConverters._
      import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.CorpusIntakeJob
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val tmp = java.nio.file.Files.createTempDirectory("text_intake_stream")
      try {
        val corpusDir = s"$tmp/corpus"
        val statePath = s"$tmp/state"
        docs.select(col("doc_id"), col("text"))
          .write.mode("overwrite").parquet(corpusDir)
        StandingState.write(Tables.read(spark, corpusDir), statePath)
        def mkBatch(b: Int, n: Int): Seq[(Long, String)] =
          (0 until n).map { j =>
            (5000000000L + b * 100000L + j,
              "the tale of and to in " +
                (1 to 18).map(k => s"ib${b}x${j}x$k").mkString(" "))
          }
        val in = MemoryStream[(Long, String)]
        val q = CorpusIntakeJob.runTextStream(
          in.toDF().toDF("doc_id", "text"), statePath, corpusDir,
          s"$tmp/ck", tau = 0.5)
        def nFiles(dir: String): Int = {
          val d = new java.io.File(dir)
          if (!d.exists()) 0
          else d.listFiles().count(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))
        }
        def intakeFiles: Int =
          nFiles(corpusDir) + nFiles(s"$statePath/digests") + nFiles(s"$statePath/bands")
        val nB = 6
        val perBatch = new Array[Double](nB)
        // JOBS PER BATCH: the round-17 finding — ingestTextBatch's fixed
        // driver-side machinery (state loads, probes, empty appends) caps
        // stream throughput at high trigger cadence regardless of data
        // volume. Count Spark jobs per micro-batch so the fixed overhead
        // is a measured number, not a log-archaeology exercise. Jobs are
        // keyed by their `streaming.sql.batchId` local property (-1 outside
        // the stream) and read only once a marker job's start event, queued
        // behind every earlier one on the asynchronous listener bus, has
        // arrived: a read right after processAllAvailable misses late ones.
        val drainProp = "graft.scalebench.drain"
        val jobsByBatch = new ConcurrentHashMap[Long, AtomicLong]()
        def jobsOf(batchId: Long): Long = jobsByBatch.getOrDefault(batchId, new AtomicLong).get
        @volatile var drained = new CountDownLatch(0)
        val jobListener = new SparkListener {
          override def onJobStart(js: SparkListenerJobStart): Unit = {
            val props = Option(js.properties).getOrElse(new java.util.Properties)
            if (props.getProperty(drainProp) != null) drained.countDown()
            else jobsByBatch.computeIfAbsent(props.getProperty("streaming.sql.batchId", "-1").toLong,
              _ => new AtomicLong).incrementAndGet()
            ()
          }
        }
        def drainListenerBus(): Unit = {
          drained = new CountDownLatch(1)
          spark.sparkContext.setLocalProperty(drainProp, "1")
          try spark.sparkContext.parallelize(Seq(1), 1).count()
          finally spark.sparkContext.setLocalProperty(drainProp, null)
          drained.await(30, TimeUnit.SECONDS)
        }
        spark.sparkContext.addSparkListener(jobListener)
        var filesBefore = 0
        var filesAfter = 0
        var compactSec = 0.0
        try {
          (0 until nB).foreach { b =>
            in.addData(mkBatch(b, 500): _*)
            val (_, t) = timed(q.processAllAvailable())
            perBatch(b) = t
            if (b == 2) { // live compaction mid-run, stream still open
              filesBefore = intakeFiles
              val (_, tc) = timed(StandingState.compact(spark, statePath, Some(corpusDir)))
              compactSec = tc
              filesAfter = intakeFiles
            }
          }
          require(q.exception.isEmpty, s"intake stream died: ${q.exception}")
        } finally q.stop()
        drainListenerBus()
        val jobsPerBatch = jobsByBatch.keySet.asScala.toSeq.filter(_ >= 0).sorted.map(jobsOf)
        // ADMIT-NOTHING fixed machinery (the round-17 "44 jobs, 5-6 s at
        // sf0.1 admitting nothing" measurement, re-taken per round): a
        // replay of batch 0 through the bare batch leg — every doc's id
        // already sits in the corpus, so the call runs the full gate +
        // dedup + self-repair machinery and commits nothing. Its job
        // count and latency ARE the per-call overhead a high-frequency
        // trigger pays regardless of data.
        val (replayJobs, replaySec) =
          try {
            val j0 = jobsOf(-1)
            val (n, t) = timed(CorpusIntakeJob.ingestTextBatch(
              mkBatch(0, 500).toDF("doc_id", "text"),
              statePath, corpusDir, tau = 0.5))
            require(n == 0L, s"replay batch must admit nothing, admitted $n")
            drainListenerBus()
            (jobsOf(-1) - j0, t)
          } finally spark.sparkContext.removeSparkListener(jobListener)
        val admitted = Tables.read(spark, corpusDir)
          .filter(col("doc_id") >= 5000000000L).count()
        // flat = the last (post-compaction, most-appended) batch costs no
        // more than the early batches modulo noise — the zero-SS-state
        // claim under file growth
        val flat = perBatch.last <= 3.0 * perBatch.take(3).min + 0.5
        println(s"""{"op":"text_intake_stream","standing":$nDocs,"batches":$nB,"batch_docs":500,"admitted":$admitted,"admitted_all":${admitted == nB * 500L},"batch_secs":[${perBatch.map(t => f"$t%.2f").mkString(",")}],"jobs_per_batch":[${jobsPerBatch.mkString(",")}],"replay_jobs":$replayJobs,"replay_sec":${f"$replaySec%.2f"},"flat":$flat,"compact_sec":${f"$compactSec%.2f"},"files_before_compact":$filesBefore,"files_after_compact":$filesAfter,"files_dropped":${filesAfter < filesBefore}}""")
      } finally {
        val files = java.nio.file.Files.walk(tmp)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator()
        while (files.hasNext) java.nio.file.Files.deleteIfExists(files.next())
      }
    }

    // MEDIA intake cycle at scale: the factor-replicated corpus as REAL
    // PPM images with a persisted phash state. Fixed point: a batch
    // replicating standing CONTENT under fresh ids is annihilated
    // (replica phash hamming == 0 always collides on every band) with
    // batch-shaped candidate work — standing payloads are never
    // re-decoded (the state is 8 bytes/item). A synthetic-pattern novel
    // batch then admits and appends through the same leg (count
    // reported; prose rasters can genuinely near-dup each other, so no
    // all-admitted claim is sound there).
    locally {
      import graft.llm.Multimodal
      import graft.streaming.CorpusIntakeJob
      import spark.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("media_intake_scale")
      try {
        val mediaDir = s"$tmp/media"
        val statePath = s"$tmp/state"
        val (_, tBuild) = timed {
          Multimodal.asMedia(docs.select(col("doc_id"), col("text")))
            .write.mode("overwrite").parquet(mediaDir)
          StandingState.writeMediaState(
            Multimodal.imagePhash(Tables.read(spark, mediaDir)), statePath)
        }
        val replicaBatch = Multimodal.asMedia(
          Tables.documents(spark, sfDir)
            .select((col("doc_id") + 910000000L).as("doc_id"), col("text")))
          .localCheckpoint(true)
        val nBatch = replicaBatch.count()
        val (nAdmitted, tReplica) = timed {
          CorpusIntakeJob.ingestMediaBatch(replicaBatch, statePath, mediaDir)
        }
        val novel = (0 until 500).map { i =>
          (920000000L + i,
            (0 until 20).map { j =>
              if (((i.toLong * 2654435761L >> j) & 1L) == 1L) "!!!!!" else "zzzzz"
            }.mkString(" "))
        }
        val novelBatch = Multimodal.asMedia(novel.toDF("doc_id", "text"))
          .localCheckpoint(true)
        val (nNovel, tNovel) = timed {
          CorpusIntakeJob.ingestMediaBatch(novelBatch, statePath, mediaDir)
        }
        println(s"""{"op":"media_intake_cycle","standing":$nDocs,"build_state_sec":${f"$tBuild%.2f"},"replica_batch":$nBatch,"replica_admitted":$nAdmitted,"all_dropped":${nAdmitted == 0L},"replica_sec":${f"$tReplica%.2f"},"novel_batch":500,"novel_admitted":$nNovel,"novel_sec":${f"$tNovel%.2f"}}""")
      } finally {
        val files = java.nio.file.Files.walk(tmp)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator()
        while (files.hasNext) java.nio.file.Files.deleteIfExists(files.next())
      }
    }

    // EXACT-SUBSTRING span index at scale: the window-hash table over the
    // replicated corpus (O(corpus tokens) 16-byte rows — the published
    // algorithm's cost, persisted once), then an incremental clean of a
    // batch replicating standing content. Fixed point: every batch doc
    // with >= w tokens is FULLY covered (all its windows sit in
    // standing); the incremental pass is batch-shaped vs the full census
    // rebuild over the union.
    locally {
      val tmp = java.nio.file.Files.createTempDirectory("span_index_scale")
      try {
        val w = 20
        val (_, tIndex) = timed {
          StandingState.writeSpanIndex(docs, tmp.toString, w)
        }
        val nHashes = Tables.read(spark, s"$tmp/span_hashes").count()
        val batch = Tables.documents(spark, sfDir)
          .select((col("doc_id") + 930000000L).as("doc_id"), col("text"))
          .localCheckpoint(true)
        val (hashes, _) = StandingState.loadSpanIndex(spark, tmp.toString)
        val (fixedPoint, tInc) = timed {
          val out = TextOps.removeDuplicatedSpansIncremental(batch, hashes, w)
            .localCheckpoint(true)
          out.filter(col("n_tokens") >= w)
            .filter(col("n_removed") =!= col("n_tokens")).count() == 0L
        }
        val (_, tFull) = timed {
          TextOps.removeDuplicatedSpans(
            docs.select("doc_id", "text").unionByName(batch), w)
            .filter(col("doc_id") >= 930000000L)
            .write.mode("overwrite").format("noop").save()
        }
        println(s"""{"op":"span_dedup_incremental","standing":$nDocs,"window_hashes":$nHashes,"index_build_sec":${f"$tIndex%.2f"},"batch":${batch.count()},"replicas_fully_covered":$fixedPoint,"incremental_sec":${f"$tInc%.2f"},"full_rebuild_sec":${f"$tFull%.2f"}}""")
      } finally {
        val files = java.nio.file.Files.walk(tmp)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator()
        while (files.hasNext) java.nio.file.Files.deleteIfExists(files.next())
      }
    }

    // DENSE-SPAN worst case for the span REWRITE: two copies of one
    // 100k-token doc mean EVERY window is cross-doc duplicated — ~100k
    // marked span starts in a single row. The per-token exists fold was
    // O(tokens x spans) ~ 10^10 operations inside that ONE row (a
    // straggler no partitioning can split — a boilerplate-laden book is
    // exactly this shape); the gap-slice rewrite is O(tokens + spans).
    // Fixed point: both docs come back fully covered (empty).
    locally {
      import spark.implicits._
      val nTok = 100000
      val w = 20
      val shared = (0 until nTok).map(i => s"d${i % 9973}x$i").mkString(" ")
      val dense = Seq((1L, shared), (2L, shared)).toDF("doc_id", "text")
        .repartition(2).localCheckpoint(true)
      val (allCovered, tDense) = timed {
        val out = TextOps.removeDuplicatedSpans(dense, w).localCheckpoint(true)
        out.filter(col("n_removed") =!= col("n_tokens")).count() == 0L
      }
      println(s"""{"op":"span_rewrite_dense_doc","tokens_per_doc":$nTok,"marked_spans_per_doc":${nTok - w + 1},"fully_covered":$allCovered,"rewrite_sec":${f"$tDense%.2f"}}""")
    }

    // the claim behind PQ — candidate SCAN BYTES — measured on disk: the
    // float corpus vs the encoded (tinyint codes + float norm) corpus,
    // both snappy parquet. This byte ratio is what a 100 TB ANN scan
    // actually pays; local CPU comparisons can't show it. All three
    // tables are written as ONE file: at 100 TB row groups hold millions
    // of rows, so per-file/per-column-chunk metadata is amortized away —
    // writing 32 files of ~1k rows each (the default here) buries the
    // layout signal under fixed overhead (measured: the SAME data reads
    // 9.2x row / 4.2x columnar at 32 files vs 38.6x / 54.5x at one).
    def dirBytes(p: java.nio.file.Path): Long = {
      val it = java.nio.file.Files.walk(p).iterator()
      var total = 0L
      while (it.hasNext) { val f = it.next(); if (java.nio.file.Files.isRegularFile(f)) total += java.nio.file.Files.size(f) }
      total
    }
    val tmpPq = java.nio.file.Files.createTempDirectory("pq_bytes")
    try {
      emb.select(col("vec_id"), col("embedding"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmpPq/floats")
      graft.llm.Pq.encode(emb, cbsPq)
        .select(col("vec_id"),
          col("codes").cast("array<tinyint>").as("codes"),
          col("vn").cast("float").as("vn"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmpPq/codes")
      graft.llm.Pq.encodeColumnar(emb.coalesce(1), cbsPq)
        .write.mode("overwrite").parquet(s"$tmpPq/codes_columnar")
      val fb = dirBytes(java.nio.file.Paths.get(s"$tmpPq/floats"))
      val cb = dirBytes(java.nio.file.Paths.get(s"$tmpPq/codes"))
      val cc = dirBytes(java.nio.file.Paths.get(s"$tmpPq/codes_columnar"))
      println(s"""{"op":"pq_scan_bytes","vectors":$nVec,"float_bytes":$fb,"code_bytes":$cb,"ratio":${fb.toDouble / cb},"columnar_bytes":$cc,"columnar_ratio":${fb.toDouble / cc}}""")
    } finally {
      // repeated bench runs must not accumulate corpus-sized data in /tmp
      val files = java.nio.file.Files.walk(tmpPq)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator()
      while (files.hasNext) java.nio.file.Files.deleteIfExists(files.next())
    }

    // Round-13 mixing/selection ops. cap_per_key measures the plan that
    // InferWindowGroupLimit buys: the row_number() <= k idiom keeps <= k
    // rows per key per MAP partition before the exchange, vs the same
    // window with the rule excluded, where every row of every key rides
    // the shuffle and a mega-key is one task's full sort. Same result set
    // by construction — the probe pins that too.
    locally {
      val cap = 7
      val (nCap, tCap) = timed {
        graft.llm.Mixing.capPerKey(docs, cap, keyCol = "source").count()
      }
      val excl = "org.apache.spark.sql.catalyst.optimizer.InferWindowGroupLimit"
      spark.conf.set("spark.sql.optimizer.excludedRules", excl)
      val (nFull, tFull) = try timed {
        graft.llm.Mixing.capPerKey(docs, cap, keyCol = "source").count()
      } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
      println(s"""{"op":"cap_per_key","rows":$nDocs,"kept":$nCap,"group_limit_sec":${f"$tCap%.2f"},"full_window_sec":${f"$tFull%.2f"},"equal":${nCap == nFull}}""")
    }

    // temperature mixing at factor-x scale: the census is a control-plane
    // fetch (#sources rows) and the keep is a per-row hash filter — the
    // probe pins the kept count tracking the target within sampling noise
    // (no clamped source at this target) and the wall time staying in the
    // one-scan class.
    locally {
      val target = nDocs / 2
      val (nKept, tMix) = timed {
        graft.llm.Mixing.temperatureSample(docs, target, alpha = 0.5).count()
      }
      val tracks = math.abs(nKept - target).toDouble / target < 0.05
      println(s"""{"op":"temperature_mix","rows":$nDocs,"target":$target,"kept":$nKept,"tracks_target":$tracks,"sec":${f"$tMix%.2f"}}""")
    }

    // incremental DSIR: the ratio fit is ONE O(standing) census pass
    // (one-off / refreshed on corpus change), after which every daily
    // batch scores in O(batch) against the frozen m-row table — fit_sec
    // is exactly the per-day cost the incremental path deletes.
    locally {
      val target = docs.filter(col("lang") === "en")
      val batch = Tables.documents(spark, sfDir)
      val nBatch = batch.count()
      val (ratios, tFit) = timed {
        graft.llm.TextOps.dsirLogRatios(docs, target, 1024)
          .localCheckpoint(true)
      }
      val (nScored, tScore) = timed {
        graft.llm.TextOps.dsirScoresWithRatios(batch, ratios, 1024).count()
      }
      println(s"""{"op":"dsir_incremental","standing":$nDocs,"batch":$nBatch,"fit_sec":${f"$tFit%.2f"},"batch_score_sec":${f"$tScore%.2f"},"scored_all":${nScored == nBatch}}""")
    }

    // quality-classifier training at factor-x scale: 3 full-batch GD
    // rounds over the replicated corpus (labels = source parity), then
    // one scoring pass. Training is 2 map-side-combinable aggregations +
    // a <= m+1-row collect per round — the probe pins wall time linear-ish
    // in rounds and the scored count complete.
    locally {
      val labeled = docs.withColumn("label",
        expr("try_cast(substring(source, 4) as int) % 2"))
      val (w, tTrain) = timed {
        graft.llm.QualityLr.trainQualityLr(labeled, m = 64, steps = 3, lr = 0.5)
      }
      val (nScored, tScore) = timed {
        graft.llm.QualityLr.scoreQualityLr(docs, w, m = 64).count()
      }
      println(s"""{"op":"quality_lr","docs":$nDocs,"steps":3,"train_sec":${f"$tTrain%.2f"},"score_sec":${f"$tScore%.2f"},"scored_all":${nScored == nDocs}}""")
    }

    // KEYED retention at replicated scale: expire ~1% of a persisted
    // corpus. The pass is anti-join subtraction (columnar IO only,
    // snapshot-delta, lease held just for delta+swap windows). A
    // concurrent probe thread repeatedly acquires the state lease and
    // records its worst wait — the ingest-visible blocking of the pass.
    locally {
      def leaseProbe(statePath: String)(body: => Unit): Double = {
        val worst = new java.util.concurrent.atomic.AtomicLong(0L)
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val t = new Thread(() => {
          while (!stop.get()) {
            val t0 = System.nanoTime()
            try StandingState.withLeaseRetry(
              spark, statePath, "scalebench-lease-probe")(())
            catch { case _: Throwable => () }
            val dt = System.nanoTime() - t0
            worst.updateAndGet(m => math.max(m, dt))
            Thread.sleep(20)
          }
        })
        t.start()
        try body finally { stop.set(true); t.join() }
        worst.get() / 1e9
      }
      // ~200-token docs (the testdata's ~20-token rows x10): real corpora
      // run hundreds of tokens per doc
      val expireDocs = docs
        .select(col("doc_id"),
          expr("rtrim(repeat(text || ' ', 10))").as("text"))
        .localCheckpoint(true)
      val tmp = java.nio.file.Files.createTempDirectory("expire_keyed")
      val corpusK = s"$tmp/corpus"
      val stateK = s"$tmp/state"
      expireDocs.write.mode("overwrite").parquet(corpusK)
      StandingState.write(Tables.read(spark, corpusK), stateK)
      val pred = col("doc_id") % 97 === 0 // ~1% of the corpus
      val corpus0 = Tables.read(spark, corpusK)
      val nTotal = corpus0.count()
      val nExpected = corpus0
        .join(corpus0.filter(pred).select("doc_id"), Seq("doc_id"), "left_semi")
        .count()
      var nK = 0L
      var tKeyed = 0.0
      val blockedK = leaseProbe(stateK) {
        val (n, t) = timed(StandingState.expire(spark, stateK, corpusK, pred))
        nK = n; tKeyed = t
      }
      val resultsEqual = nK == nExpected &&
        Tables.read(spark, corpusK).count() == nTotal - nExpected
      println(s"""{"op":"keyed_expire","corpus":$nDocs,"expired":$nK,"keyed_sec":${f"$tKeyed%.2f"},"lease_blocked_keyed_sec":${f"$blockedK%.2f"},"results_equal":$resultsEqual}""")
    }

    // Per-key rate maps at DOMAIN cardinality (~100k keys): above
    // spark.graft.mix.literalRateCap the rates broadcast-join instead of
    // folding a 100k-arm when-chain into the plan (analyzer/codegen cost
    // O(#keys)). The probe pins the join form completing fast at 100k
    // keys and the kept fraction tracking the rate-weighted expectation.
    locally {
      import spark.implicits._
      val nKeys = 100000
      val rows = spark.range(200000L)
        .select(col("id").as("doc_id"),
          concat(lit("k"), pmod(col("id"), lit(nKeys.toLong))).as("source"),
          lit("x").as("text"))
        .localCheckpoint(true)
      val fractions = (0 until nKeys).map(k => s"k$k" -> (k % 10) / 10.0).toMap
      val (nKept, tJoin) = timed {
        graft.llm.Mixing.stratifiedSample(rows, fractions, defaultFrac = 0.0)
          .count()
      }
      // E[kept] = sum over keys of frac * rows_per_key = 2 * mean(frac) * nKeys
      val expected = fractions.valuesIterator.sum * 2.0
      val tracks = math.abs(nKept - expected) / expected < 0.05
      println(s"""{"op":"stratified_rate_join","rows":200000,"keys":$nKeys,"kept":$nKept,"expected":${expected.toLong},"tracks_expected":$tracks,"sec":${f"$tJoin%.2f"}}""")
    }

    // Post-expire cluster-label hygiene at label scale: 100k labels in
    // 50k two-member clusters over a keyed state, bucketed under
    // nParts = 64 — cluster_id is the even member, so only the 32 EVEN
    // cparts hold data. Every expired doc's partner becomes a singleton
    // and must DROP with it, so labels_after == labels - 2 * expired.
    // The expiry is
    // CONCENTRATED on clusters whose cpart is in {0, 2}: the predicate
    // `even && doc_id % 64 < 4` ghosts ~3,125 clusters all living in 2
    // of the 32 populated partitions. The probe pins the touched-
    // partition claim DIRECTLY: a per-partition file census (name, size,
    // mtime) taken before and after must show exactly the 2 ghost-
    // bearing partitions rewritten and the other 30 byte-identical —
    // plus the usual fixed points (zero ghosts, exact sizes, no-op
    // re-scan).
    locally {
      val tmp = java.nio.file.Files.createTempDirectory("relabel_bucketed")
      val corpusDir = s"$tmp/corpus"
      val statePath = s"$tmp/state"
      val nLab = 100000L
      val nParts = 64
      val corpus = spark.range(nLab).select(
        col("id").as("doc_id"),
        concat_ws(" ", lit("the tale of and to in"),
          concat(lit("b"), col("id")), concat(lit("c"), col("id")),
          concat(lit("d"), col("id"))).as("text"))
      corpus.write.mode("overwrite").parquet(corpusDir)
      StandingState.write(Tables.read(spark, corpusDir), statePath)
      StandingState.writeClusters(
        spark.range(nLab).select(
          col("id").as("doc_id"),
          (col("id") - pmod(col("id"), lit(2L))).as("cluster_id"),
          lit(2).as("cluster_size")),
        statePath, nParts)
      def census(): Map[String, Set[(String, Long, Long)]] = {
        import scala.jdk.CollectionConverters._
        // Files.list streams hold open directory handles until closed —
        // drain each inside a closing block
        def listed[T](d: java.nio.file.Path)(
            f: Iterator[java.nio.file.Path] => T): T = {
          val st = java.nio.file.Files.list(d)
          try f(st.iterator().asScala) finally st.close()
        }
        val dir = java.nio.file.Paths.get(statePath, "clusters")
        listed(dir)(_.filter(_.getFileName.toString.startsWith("cpart="))
          .map { p =>
            p.getFileName.toString ->
              listed(p)(_.map(f => (f.getFileName.toString,
                  java.nio.file.Files.size(f),
                  java.nio.file.Files.getLastModifiedTime(f).toMillis))
                .toSet)
          }.toMap)
      }
      val before = census()
      val (nExp, tExpire) = timed {
        StandingState.expire(spark, statePath, corpusDir,
          col("doc_id") % 2 === 0 && pmod(col("doc_id"), lit(64L)) < 4,
          relabelClusters = true)
      }
      val after = census()
      val changed = after.keySet.filter(k => before.get(k) != after.get(k)) ++
        (before.keySet -- after.keySet)
      val lab = Tables.read(spark, s"$statePath/clusters")
        .localCheckpoint(true)
      val ghosts = lab.join(
        Tables.read(spark, corpusDir).select("doc_id"),
        Seq("doc_id"), "left_anti").count()
      val sizesOk = lab.groupBy("cluster_id", "cluster_size")
        .agg(count(lit(1)).as("m"))
        .filter(col("m") =!= col("cluster_size") || col("cluster_size") < 2)
        .count() == 0L
      val nAfter = lab.count()
      val (noop, tRescan) = timed {
        StandingState.relabelClusters(spark, statePath, corpusDir)
      }
      val noopUntouched = census() == after
      println(s"""{"op":"relabel_clusters_bucketed","labels":$nLab,"parts_populated":${before.size},"expired":$nExp,"expire_relabel_sec":${f"$tExpire%.2f"},"rescan_sec":${f"$tRescan%.2f"},"parts_rewritten":${changed.size},"parts_expected":2,"touched_only":${changed == Set("cpart=0", "cpart=2")},"ghosts_after":$ghosts,"labels_after":$nAfter,"labels_expected":${nLab - 2 * nExp},"sizes_consistent":$sizesOk,"rescan_noop":${noop == 0L && noopUntouched}}""")
    }

    // Trained-LR weight delivery at fastText-production m (2^18 hash
    // buckets): above spark.graft.lr.literalWeightCap the m+1-entry
    // weight map becomes a broadcast-joined (bucket, weight) frame —
    // element_at on a typedlit map is a per-row O(m) linear key scan
    // that also re-serializes the map into every task binary. The probe
    // trains (2 GD steps, each collecting <= m+1 gradient rows), scores
    // the replicated corpus through the join path, and pins (a) join
    // scores == literal scores bit-for-bit on a subsample (the literal
    // form forced via a raised cap) and (b) planted-quality separation
    // surviving at scale-m.
    locally {
      import graft.llm.QualityLr
      val m = 262144 // 2^18
      val pos = (0L until 12L).map(i =>
        (i, s"informative careful prose number n$i with varied useful words", 1))
      val neg = (12L until 24L).map(i =>
        (i, "spam spam spam buy now spam spam spam spam", 0))
      import spark.implicits._
      val labeled = (pos ++ neg).toDF("doc_id", "text", "label")
      val (w, tTrain) = timed { QualityLr.trainQualityLr(labeled, m, 2, 0.5) }
      val lab = QualityLr.scoreQualityLr(labeled.select("doc_id", "text"), w, m)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val separates =
        pos.map(t => lab(t._1)).min > neg.map(t => lab(t._1)).max
      val (nScored, tScore) = timed {
        QualityLr.scoreQualityLr(docs.select("doc_id", "text"), w, m).count()
      }
      // literal-vs-join at full m on a subsample: the literal form's
      // per-row 262k-key scan is measurable even at 500 docs
      val sub = docs.select("doc_id", "text").limit(500).localCheckpoint(true)
      def scoreSub(): Seq[(Long, Long)] =
        QualityLr.scoreQualityLr(sub, w, m)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val (sJoin, tJoin) = timed(scoreSub())
      spark.conf.set("spark.graft.lr.literalWeightCap", (m + 2).toString)
      val (sLit, tLit) =
        try timed(scoreSub())
        finally spark.conf.unset("spark.graft.lr.literalWeightCap")
      println(s"""{"op":"lr_weight_join","m":$m,"train_steps":2,"train_sec":${f"$tTrain%.2f"},"score_docs":$nScored,"score_sec":${f"$tScore%.2f"},"probe_docs":500,"join_sec":${f"$tJoin%.2f"},"literal_sec":${f"$tLit%.2f"},"scores_equal":${sJoin == sLit},"separates":$separates}""")
    }

    // Maintained source census at corpus scale: the INIT pays one
    // O(corpus) recount; each ingest FOLD is a #sources-row union +
    // swap whose cost is independent of corpus size (the point of
    // maintaining it — an incremental mix should never recount 100 TB);
    // the healthy-path reconcile is two counts (census sum + parquet
    // footers). Fixed points: census == recount exactly after init and
    // after the fold, and the no-drift reconcile reports false.
    locally {
      val tmp = java.nio.file.Files.createTempDirectory("census_probe")
      val corpusDir = s"$tmp/corpus"
      val statePath = s"$tmp/state"
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(statePath))
      val nRows = 2000000L
      spark.range(nRows).select(
          col("id").as("doc_id"),
          concat(lit("src"), pmod(col("id"), lit(50L))).as("source"),
          lit("x").as("text"))
        .write.mode("overwrite").parquet(corpusDir)
      val (_, tInit) = timed {
        StandingState.writeSourceCensus(spark, statePath, corpusDir)
      }
      val batch = spark.range(nRows, nRows + 500L).select(
          col("id").as("doc_id"),
          concat(lit("src"), pmod(col("id"), lit(50L))).as("source"),
          lit("y").as("text"))
        .localCheckpoint(true)
      batch.write.mode("append").parquet(corpusDir)
      // the fold runs under the state lease — bumpSourceCensus' documented
      // calling convention (the ingest commit's hold); the single-process
      // bench would be safe bare, but the probe should model production
      val (_, tFold) = timed {
        StandingState.withLeaseRetry(spark, statePath, "scalebench:censusFold") {
          StandingState.bumpSourceCensus(spark, statePath, batch)
        }
      }
      def censusMap(): Map[String, Long] =
        StandingState.loadSourceCensus(spark, statePath)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val recount = Tables.read(spark, corpusDir)
        .groupBy("source").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = censusMap() == recount
      val (drift, tRec) = timed {
        StandingState.reconcileSourceCensus(spark, statePath, corpusDir)
      }
      println(s"""{"op":"source_census_fold","corpus":${nRows + 500L},"sources":50,"init_sec":${f"$tInit%.2f"},"fold_sec":${f"$tFold%.2f"},"reconcile_noop_sec":${f"$tRec%.2f"},"census_exact":$exact,"reconcile_noop":${!drift}}""")
    }

    // QUIET-GATE PARALLEL PROBE under SYNTHESIZED half-load: the round-16
    // gate read "quiet" (serial probe within 1.4% of floor) while 32-way
    // throughput ran ~15% high — the serial probe cannot see a co-tenant
    // stealing parallel cores. This probe measures this container's own
    // quiet baselines for BOTH probes, spins busy threads on HALF the
    // cores, and re-probes: the dual-floor gate must flag the loaded
    // state through the PARALLEL band (Bench.loadedVsPar) — and the
    // recorded serial verdict shows whether the old single-probe gate
    // would have sailed through (it does whenever ambient noise keeps
    // the serial probe inside its wider 1.5x + 0.3s band). ok keys on
    // the parallel flag: that is the new signal this round exists to
    // prove; the serial contrast is informational (an ALREADY-loaded
    // container can legitimately flag both).
    locally {
      // quiet baselines: best of 3 (min — the same basis shape the
      // bench's floor ratchet converges to)
      def serialProbe(): Double = {
        val t0 = System.nanoTime()
        spark.range(1000).selectExpr("sum(id)").collect()
        Tables.read(spark, s"$sfDir/lineitem.parquet").count()
        (System.nanoTime() - t0) / 1e9
      }
      val perCore = Bench.DefaultParPerCore / 2 // ~0.25s/probe: the probe
      // is about RATIOS under synthetic load, not absolute floors
      Bench.parallelProbe(spark, cpus, perCore); serialProbe() // warm
      val serFloor = (1 to 3).map(_ => serialProbe()).min
      val parFloor = (1 to 3).map(_ =>
        Bench.parallelProbe(spark, cpus, perCore)).min
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val spinners = (1 to cpus / 2).map { _ =>
        val th = new Thread(() => {
          var x = 1L
          while (!stop.get()) {
            x = x * 6364136223846793005L + 1442695040888963407L
          }
          if (x == 42L) println(x) // keep the loop un-eliminable
        })
        th.setDaemon(true); th.start(); th
      }
      val (serLoaded, parLoaded) =
        try {
          Thread.sleep(300)
          ((1 to 2).map(_ => serialProbe()).min,
            (1 to 2).map(_ => Bench.parallelProbe(spark, cpus, perCore)).min)
        } finally {
          stop.set(true)
          spinners.foreach(_.join(1000))
        }
      val parFlags = Bench.loadedVsPar(parLoaded, parFloor)
      val serFlags = Bench.loadedVs(serLoaded, serFloor)
      println(s"""{"op":"quiet_gate_parallel","cpus":$cpus,"spinners":${cpus / 2},"ser_floor":${f"$serFloor%.3f"},"ser_loaded":${f"$serLoaded%.3f"},"par_floor":${f"$parFloor%.3f"},"par_loaded":${f"$parLoaded%.3f"},"par_flags_loaded":$parFlags,"serial_gate_blind":${!serFlags},"ok":$parFlags}""")

      // CLOSING-VERDICT FLIP (round-19 ask): drive Bench.closingVerdict
      // — the exact shipping arithmetic — with this container's own
      // measured quiet floors and the synthetic-co-tenant probes above.
      // Three shapes must hold: (a) a run that started AND ended at its
      // floors with no flagged spans keeps its startup "quiet"; (b) a
      // startup-quiet run whose CLOSING probes carry the half-load
      // contention downgrades to "contended" (the r18 driver-artifact
      // shape the field exists to catch); (c) >= k flagged spans alone
      // downgrade even with quiet closing probes (sustained mid-run
      // contention that quiesced before the end).
      val vQuiet = Bench.closingVerdict(
        "quiet", 0, 3, serFloor, Some(serFloor), parFloor, Some(parFloor))
      val vClosing = Bench.closingVerdict(
        "quiet", 0, 3, serLoaded, Some(serFloor), parLoaded, Some(parFloor))
      val vSpans = Bench.closingVerdict(
        "quiet", 3, 3, serFloor, Some(serFloor), parFloor, Some(parFloor))
      val flipOk = vQuiet == "quiet" && vClosing == "contended" &&
        vSpans == "contended"
      println(s"""{"op":"bench_contended_verdict","quiet_stays":"$vQuiet","closing_loaded_flips":"$vClosing","flagged_spans_flip":"$vSpans","ok":$flipOk}""")
    }

    // WEIGHT-SWAP CHURN at realistic table size (round-19 ask):
    // AtomicSwapSpec races 30 back-to-back swaps on toy (m=8/16) tables;
    // the 10 s readRetryTimeoutMs reader deadline was untested against a
    // weight table big enough that the listing-to-fetch window is wide.
    // Here a writer thread swaps an m=2^18 table (262,145 rows — the
    // realistic ceiling for a hashed-feature LR gate) in a tight loop
    // through the production writeWeights two-rename path while the
    // reader hammers loadWeights; every reload must return a FULLY
    // one-generation vector within the deadline, and the latency
    // percentiles tell whether the default has headroom (p_max well
    // under the 10 s deadline) or needs adjusting.
    locally {
      import graft.llm.QualityLr
      val tmp = java.nio.file.Files.createTempDirectory("swap_churn_")
      val wPath = s"$tmp/w"
      val mW = 1 << 18
      val wA = Array.tabulate(mW + 1)(i => i.toLong + 1L) // all-positive
      val wB = wA.map(-_)                                 // all-negative
      QualityLr.writeWeights(spark, wA, wPath)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val swaps = new java.util.concurrent.atomic.AtomicLong(0L)
      val writerFail =
        new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val writer = new Thread(() => {
        var i = 0
        try while (!stop.get()) {
          QualityLr.writeWeights(spark, if (i % 2 == 0) wB else wA, wPath)
          swaps.incrementAndGet()
          i += 1
        } catch { case t: Throwable => writerFail.set(t); stop.set(true) }
      })
      writer.setDaemon(true)
      writer.start()
      val lats = scala.collection.mutable.ArrayBuffer.empty[Double]
      var loadFails = 0
      var torn = 0
      val deadlineNs = System.nanoTime() + 30L * 1000000000L
      while (System.nanoTime() < deadlineNs && !stop.get()) {
        val s0 = System.nanoTime()
        try {
          val (w, m) = QualityLr.loadWeights(spark, wPath)
          // fully one generation: every entry shares the write's sign
          if (m != mW || w(1).sign != w(mW - 1).sign ||
              math.abs(w(1)) != 2L) torn += 1
        } catch { case scala.util.control.NonFatal(_) => loadFails += 1 }
        lats += (System.nanoTime() - s0) / 1e9
      }
      stop.set(true)
      writer.join(30000)
      val sorted = lats.sorted
      def pct(p: Double): Double =
        if (sorted.isEmpty) -1.0
        else sorted(math.min(sorted.size - 1, (p * sorted.size).toInt))
      val readDeadline = 10.0 // QualityLr readRetryTimeoutMs default
      val ok = writerFail.get() == null && loadFails == 0 && torn == 0 &&
        sorted.nonEmpty && sorted.last <= readDeadline / 2.0
      println(s"""{"op":"weight_swap_churn","m":$mW,"swaps":${swaps.get()},"reloads":${sorted.size},"load_fails":$loadFails,"torn":$torn,"writer_failed":${writerFail.get() != null},"p50_sec":${f"${pct(0.5)}%.3f"},"p95_sec":${f"${pct(0.95)}%.3f"},"max_sec":${f"${if (sorted.nonEmpty) sorted.last else -1.0}%.3f"},"read_deadline_sec":$readDeadline,"ok":$ok}""")
      val files = java.nio.file.Files.walk(tmp)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator()
      while (files.hasNext) java.nio.file.Files.deleteIfExists(files.next())
    }

    spark.stop()
  }
}
