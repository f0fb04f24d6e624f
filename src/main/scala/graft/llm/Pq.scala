package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for embedding columns — the similarity-search
  * compression that makes a 100 TB ANN scan tractable: each vector is cut
  * into `m` subvectors, each subvector is replaced by the index of its
  * nearest centroid in a per-subspace codebook (k centroids, trained by the
  * same seeded/rounded Lloyd recipe as [[VectorOps.trainCentroids]], but
  * under the L2 metric PQ reconstruction requires), so a dim-float vector
  * becomes `m` small codes + one stored norm. With m=8, k=16 a 64-float
  * (256-byte) embedding compresses to 8 codes + 4 bytes — ~20x less scan
  * IO than the float corpus and 5x less than int8 ([[Quantize]]).
  *
  * Ranking is asymmetric-distance (ADC): the QUERY stays float, each
  * candidate scores via its RECONSTRUCTED vector (concatenated codebook
  * centroids — a pure per-row literal lookup, no shuffle), normalized by
  * the candidate's TRUE stored norm; an exact re-rank of the top
  * `refine * k` ADC survivors against their true embeddings recovers
  * brute-force precision at the top (recall pinned by spec). This linear
  * ADC scan is the kernel IVF composes with at scale (probe buckets, then
  * ADC within them); training at 100 TB runs on a [[Mixing]] hash sample
  * (`trainFrac`), never the full corpus.
  *
  * Code assignment runs through the native `graft_pq_codes` kernel (one
  * static call per row for all m subspaces; PqSpec cross-checks it
  * against the bit-identical interpreted slice / zip_with-fold HOF tree),
  * the ADC dot through `graft_dot_fd`, both registered by
  * [[graft.plans.GraftExtensions]]; codebooks are m x k x dim/m literals
  * collected driver-side exactly like the IVF trainer. Deterministic: md5-hash seed
  * picks, id tie-breaks, 1e-6 floor-rounded means.
  */
object Pq {

  private def arrSql(c: Seq[Double]): String =
    c.map(v => s"${v}D").mkString("array(", ", ", ")")

  /** L2 distance of a float-array column slice to a centroid literal, as a
    * left-to-right double fold (same cross-engine discipline as the dots). */
  private def l2(colName: String, c: Seq[Double]): Column = expr(
    s"""aggregate(zip_with($colName, ${arrSql(c)},
       |  (x, w) -> (CAST(x AS DOUBLE) - w) * (CAST(x AS DOUBLE) - w)),
       |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)

  /** Index of the nearest codebook centroid (L2, index tie-break) — the
    * interpreted HOF form; [[codesCol]] is the kernel the pipelines run
    * (bit-identical, PqSpec cross-checks). */
  private[llm] def nearestCodeHof(colName: String, cb: Seq[Seq[Double]]): Column =
    array_sort(array(cb.zipWithIndex.map { case (c, i) =>
      struct(l2(colName, c).as("dist"), lit(i).as("idx"))
    }: _*)).getField("idx")(0)

  /** All m codes in ONE kernel call, through `call_function` +
    * `typedlit` — an `expr(...)` SQL string would embed the m x k x
    * subDim tensor as ~20 KB of nested array(...) literals, and PARSING
    * that string cost more than the training jobs it fed (measured 5.8 s
    * of a 7.7 s pqTopK at 16k vectors; the typedlit form builds the
    * Literal directly). */
  private[llm] def codesCol(
      codebooks: Seq[Seq[Seq[Double]]], colName: String = "embedding"): Column =
    call_function("graft_pq_codes", col(colName), typedlit(codebooks))

  /** The interpreted HOF reference for [[codesCol]] (PqSpec) — matches the
    * kernel: fails loudly on a present-but-short vector instead of letting
    * zip_with null-pad into silently different codes, but passes a NULL
    * embedding through as NULL codes (the kernel's null-safe eval). */
  private[llm] def codesColHof(
      codebooks: Seq[Seq[Seq[Double]]], subDim: Int,
      colName: String = "embedding"): Column = {
    val need = codebooks.size * subDim
    val guard = assert_true(size(col(colName)) >= lit(need),
      lit(s"graft_pq_codes: embedding shorter than m*subDim = $need"))
    when(col(colName).isNotNull,
      when(guard.isNull, array(codebooks.zipWithIndex.map { case (cb, j) =>
        nearestCodeHof(s"slice($colName, ${j * subDim + 1}, $subDim)", cb)
      }: _*)))
  }

  /** m codebooks seeded from full-dim seed vectors (each seed sliced into
    * its per-subspace initial centroid). */
  private def seedCodebooks(
      seeds: Seq[Seq[Double]], m: Int, subDim: Int): Seq[Seq[Seq[Double]]] =
    (0 until m).map(j =>
      seeds.map(v => v.slice(j * subDim, (j + 1) * subDim)))

  /** The per-subspace avg aggregates of one PQ Lloyd pass — same rounding
    * discipline as the coarse trainer (and the q54 oracle replay). */
  private def pqDimAggs(subDim: Int): Seq[Column] =
    (0 until subDim).map(i =>
      (floor(avg(element_at(col("embedding"), col("j") * subDim + i + 1).cast("double"))
        * lit(1e6) + lit(0.5)) / lit(1e6)).as(s"m$i"))

  /** The Lloyd loop of [[trainCodebooks]] from pre-built initial codebooks,
    * over a frame the CALLER has materialized (the loop makes `iterations`
    * passes). Lets [[pqTopK]] / [[ivfPqTopK]] skip the public entry's
    * defensive checkpoint and seed job when they already hold both. */
  private[llm] def codebookLloyd(
      e: DataFrame, init: Seq[Seq[Seq[Double]]], subDim: Int,
      iterations: Int): Seq[Seq[Seq[Double]]] = LocalLloyd.sample(e) match {
    case Some(s) => LocalLloyd.lloydPq(s, init, subDim, iterations)
    case None => codebookLloydDistributed(e, init, subDim, iterations)
  }

  /** The distributed fallback of [[codebookLloyd]] for frames past the
    * [[LocalLloyd]] sample cap. */
  private[llm] def codebookLloydDistributed(
      e: DataFrame, init: Seq[Seq[Seq[Double]]], subDim: Int,
      iterations: Int): Seq[Seq[Seq[Double]]] = {
    var cbs = init
    for (_ <- 0 until iterations) {
      // element_at is 1-based; row (j, code) carries the full embedding and
      // averages its own subspace's dims — same value sets, same rounding
      // as the per-subspace formulation (and the q54 oracle)
      val dimAggs = pqDimAggs(subDim)
      val means = e
        .withColumn("codes", codesCol(cbs))
        .select(posexplode(col("codes")).as(Seq("j", "code")), col("embedding"))
        .groupBy("j", "code")
        .agg(dimAggs.head, dimAggs.tail: _*)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> (2 until 2 + subDim).map(r.getDouble).toSeq)
        .toMap
      cbs = cbs.indices.map(j =>
        cbs(j).indices.map(c => means.getOrElse((j, c), cbs(j)(c))))
    }
    cbs
  }

  /** Train all `m` codebooks. `trainFrac` < 1 trains on the deterministic
    * md5 id-sample (the 100 TB posture — codebook quality needs a sample,
    * not the corpus); encoding still covers every vector.
    *
    * Job shape: ONE seed fetch (the k seed vectors, sliced driver-side)
    * plus ONE pass per Lloyd iteration covering ALL m subspaces — codes
    * come from a single kernel call, the (subspace, code) melt is a
    * posexplode, and the per-dimension means are one m*k-group aggregate.
    * The first cut trained each subspace separately (8 x 3 = 24 jobs);
    * the per-job overhead, not per-row compute, dominated its wall time. */
  def trainCodebooks(
      emb: DataFrame,
      m: Int,
      k: Int = 16,
      iterations: Int = 2,
      dim: Int = 64,
      trainFrac: Double = 1.0): Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val base =
      if (trainFrac >= 1.0) emb
      else emb.filter(Mixing.hashKeep(col("vec_id"), lit(trainFrac)))
    val sel = base.select(col("vec_id"), col("embedding"))
    // LocalLloyd gate first: the local path needs no checkpoint (one fetch,
    // no repeated passes) and folds the seed job into the same sample
    LocalLloyd.sample(sel) match {
      case Some(s) =>
        LocalLloyd.lloydPq(s, seedCodebooks(LocalLloyd.seeds(s, k), m, subDim),
          subDim, iterations)
      case None =>
        val e = sel.localCheckpoint(false)
        codebookLloydDistributed(e, seedCodebooks(VectorOps.seedRows(e, k), m, subDim),
          subDim, iterations)
    }
  }

  /** FUSED IVF + PQ training for the non-residual case — the two
    * optimizations are independent (coarse k-means clusters raw vectors; PQ
    * codebooks quantize the same raw vectors), so their Lloyd recipes can
    * share jobs without changing a single trained value:
    *
    *  - ONE seed job: both seed sets are prefixes of the same
    *    (samplingHash, vec_id) ordering ([[VectorOps.seedRows]]).
    *  - ONE job per Lloyd iteration instead of two: the coarse bucket means
    *    and the PQ (subspace, code) means are computed as two independent
    *    aggregate branches of a single `unionByName` (normalized to
    *    (kind, g1, g2, means)) and collected together. Each branch is the
    *    exact per-iteration plan of its separate trainer — same grouping,
    *    same rounding, same checkpointed input partitions — so the fused
    *    results are bit-identical (spec-pinned against the sequential
    *    form on real data).
    *
    * At sf0.1 this halves the training job count, which IS the cost there
    * (per-job plan compile + schedule, not per-row compute — PERF.md); at
    * 100 TB it halves the number of passes over the training sample. */
  private[llm] def trainIvfPqJoint(
      e: DataFrame,
      nCentroids: Int,
      m: Int,
      nCodes: Int,
      iterations: Int,
      dim: Int): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    // LocalLloyd gate: the coarse and PQ updates are independent (fusion
    // only shares jobs), so running them separately off one in-memory
    // sample trains the same values — the WHOLE training becomes one
    // bounded fetch.
    LocalLloyd.sample(e) match {
      case Some(s) =>
        val sd = dim / m
        val localSeeds = LocalLloyd.seeds(s, math.max(nCentroids, nCodes))
        return (
          LocalLloyd.lloydCoarse(s, localSeeds.take(nCentroids), iterations),
          LocalLloyd.lloydPq(s, seedCodebooks(localSeeds.take(nCodes), m, sd), sd, iterations))
      case None => ()
    }
    val subDim = dim / m
    val seeds = VectorOps.seedRows(e, math.max(nCentroids, nCodes))
    var coarse: Seq[Seq[Double]] = seeds.take(nCentroids)
    var cbs = seedCodebooks(seeds.take(nCodes), m, subDim)
    for (_ <- 0 until iterations) {
      val coarseAggs = (0 until dim).map(i =>
        (floor(avg(col("embedding")(i).cast("double")) * lit(1e6) + lit(0.5)) / lit(1e6))
          .as(s"m$i"))
      val coarseMeans = VectorOps.withRanks(e, coarse)
        .withColumn("bucket", col("__ranks")(0))
        .groupBy("bucket")
        .agg(coarseAggs.head, coarseAggs.tail: _*)
        .select(lit(0).as("kind"), col("bucket").as("g1"), lit(0).as("g2"),
          array((0 until dim).map(i => col(s"m$i")): _*).as("means"))
      val dimAggs = pqDimAggs(subDim)
      val pqMeans = e
        .withColumn("codes", codesCol(cbs))
        .select(posexplode(col("codes")).as(Seq("j", "code")), col("embedding"))
        .groupBy("j", "code")
        .agg(dimAggs.head, dimAggs.tail: _*)
        .select(lit(1).as("kind"), col("j").as("g1"), col("code").as("g2"),
          array((0 until subDim).map(i => col(s"m$i")): _*).as("means"))
      val rows = coarseMeans.unionByName(pqMeans).collect()
      val cMap = rows.filter(_.getInt(0) == 0)
        .map(r => r.getInt(1) -> r.getSeq[Double](3).toSeq).toMap
      val pMap = rows.filter(_.getInt(0) == 1)
        .map(r => (r.getInt(1), r.getInt(2)) -> r.getSeq[Double](3).toSeq).toMap
      coarse = coarse.indices.map(i => cMap.getOrElse(i, coarse(i)))
      cbs = cbs.indices.map(j =>
        cbs(j).indices.map(c => pMap.getOrElse((j, c), cbs(j)(c))))
    }
    (coarse, cbs)
  }

  /** Already-materialized frames (a localCheckpoint's LogicalRDD) pass
    * through; anything else gets the defensive checkpoint. Keeps the
    * public compose-from-parts entries safe to call directly while letting
    * [[pqTopK]] -> [[pqTopKWith]] chains avoid re-materializing the same
    * frame (a full extra pass per redundant checkpoint). */
  private def materialized(df: DataFrame): DataFrame =
    df.queryExecution.logical match {
      case _: org.apache.spark.sql.execution.LogicalRDD => df
      case _ => df.localCheckpoint(false)
    }

  /** (vec_id, embedding, ...) -> (vec_id, codes: array<int>[m], vn, ...):
    * per-row nearest-centroid codes + the true norm ADC needs. */
  def encode(emb: DataFrame, codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    emb
      .withColumn("codes", codesCol(codebooks))
      .withColumn("vn", expr(VectorOps.normExpr("embedding")))
      .drop("embedding")

  /** COLUMNAR code layout — the on-disk shape for a 100 TB ADC scan.
    *
    * [[encode]]'s `codes: array<tinyint>` is row-oriented inside parquet:
    * every element drags repetition/definition levels, and one column
    * chunk interleaves all m subspaces, so dictionary/RLE can't exploit
    * the per-subspace value distribution — PERF.md measured the on-disk
    * scan-byte win diluted to ~9.7x vs the ~21x raw ratio. This layout
    * splits the codes into one TINYINT COLUMN PER SUBSPACE (`c0..c{m-1}`):
    * parquet column-chunks each subspace separately, each chunk holds at
    * most k distinct values (dictionary + RLE/bit-packing: ~log2(k) bits
    * per code), and a within-partition sort by (c0, c1, ...) turns the
    * leading subspaces into long RLE runs. `vn` stays float32 (ADC divides
    * by it; re-rank uses exact embeddings, so float precision only
    * perturbs shortlist near-ties the refine margin absorbs). The sort is
    * sortWithinPartitions — NO shuffle; row order is semantically free
    * because `vec_id` rides along.
    *
    * Layout only: [[codesFromColumnar]] restores [[encode]]'s shape with
    * BIT-IDENTICAL codes (spec-pinned), so every ranking path — and the
    * q54/q55/q56 oracles — is layout-agnostic. */
  def encodeColumnar(emb: DataFrame, codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = codebooks.size
    // codes are stored SIGNED tinyint: k > 128 centroids would wrap
    // negative and break the documented bit-identical roundtrip
    require(codebooks.forall(_.size <= 128),
      s"encodeColumnar: k > 128 wraps signed tinyint codes " +
        s"(max k here ${codebooks.map(_.size).max}); use smallint or the row layout")
    val cols = col("vec_id") +:
      (0 until m).map(j => col("codes")(j).cast("tinyint").as(s"c$j")) :+
      col("vn").cast("float").as("vn")
    encode(emb, codebooks)
      .select(cols: _*)
      .sortWithinPartitions((0 until m).map(j => col(s"c$j")): _*)
  }

  /** Inverse of [[encodeColumnar]]: back to the (vec_id, codes, vn) shape
    * [[pqTopKWithCodes]] consumes. Codes roundtrip bit-identically; vn
    * widens float32 -> double. */
  def codesFromColumnar(df: DataFrame, m: Int): DataFrame =
    df.select(
      col("vec_id"),
      array((0 until m).map(j => col(s"c$j").cast("int")): _*).as("codes"),
      col("vn").cast("double").as("vn"))

  /** The m codes as one string — a near-exact SEMANTIC identity key for an
    * embedding: two vectors quantizing to the same cell in every subspace
    * are near-duplicates at codebook resolution. This is the key the
    * streaming embedding dedup
    * ([[graft.streaming.EventStreamJobs.streamingEmbeddingDedup]]) holds in
    * watermark-bounded state: codebooks are trained OFFLINE on a corpus
    * sample and applied per-row here — no state beyond one entry per
    * recent distinct cell. */
  def codeSignature(codebooks: Seq[Seq[Seq[Double]]]): Column =
    concat_ws(",", codesCol(codebooks).cast("array<string>"))

  /** Reconstructed (approximate) embedding from codes: per subspace, the
    * codebook centroid the code names — flatten of literal-array lookups. */
  private def reconstruct(codebooks: Seq[Seq[Seq[Double]]]): Column =
    flatten(array(codebooks.zipWithIndex.map { case (cb, j) =>
      element_at(typedlit(cb), col("codes")(j) + 1)
    }: _*))

  /** Byte budget for the ANN rankers' EXPLICIT broadcast hints
    * (`spark.graft.ann.broadcastCapBytes`, default 64 MB). The hinted
    * frames are bounded — |queries| rows for the query sides, |queries| *
    * refine * k for the slim shortlist — so the hints are almost always
    * right. But |queries| is caller-controlled: a query batch that is a
    * large fraction of the corpus drives the broadcast collect toward the
    * 8 GB hard cap, where the un-hinted strategies (shuffle joins on the
    * equi-keyed sites; a streamed pair scan on the pairwise-by-design ADC
    * site) degrade gracefully instead of failing the job. Above the
    * budget every hint is DROPPED and AQE picks from runtime sizes. */
  private def annBroadcastCap(df: DataFrame): Long =
    df.sparkSession.conf.getOption("spark.graft.ann.broadcastCapBytes")
      .map(_.toLong).getOrElse(64L << 20)

  private def hintIfSmall(df: DataFrame, small: Boolean): DataFrame =
    if (small) broadcast(df) else df

  /** |queries| for the broadcast-size estimate: the caller's hint when it
    * knows (free — the production pattern: a rank service knows its batch
    * size), else ONE bounded `limit(cap+1).count()` probe — the same
    * cap-gate discipline as [[LocalLloyd.sample]]: past the cap the exact
    * count is irrelevant, only "too big" is. */
  private def queryRowCount(
      e: DataFrame, queryIds: Column => Column,
      hint: Option[Long], rowCap: Long): Long =
    hint.getOrElse {
      val lim = math.min(rowCap + 1, Int.MaxValue.toLong).toInt
      e.filter(queryIds(col("vec_id"))).limit(lim).count()
    }

  /** Per-row broadcast byte estimates: a query row carries the float
    * embedding (+ id, norm, row overhead); a slim shortlist row is three
    * scalars + overhead. Conservative round numbers — the cap is a
    * safety rail, not an optimizer. */
  private def qRowBytes(dim: Int): Long = 40L + 4L * dim
  private val SlimShortlistRowBytes = 40L

  /** PQ ANN top-k with exact re-rank: ADC-rank every candidate from its
    * codes (scan reads m codes + 1 norm per vector, never the floats),
    * keep the top `refine * k` per query, then re-rank those few against
    * their true embeddings. Output: (vec_id, neighbor_id, rnk, cos) — cos
    * is the EXACT cosine of the refined survivors. */
  def pqTopK(
      emb: DataFrame,
      queryIds: Column => Column,
      m: Int,
      k: Int,
      nCodes: Int = 16,
      refine: Int = 4,
      iterations: Int = 2,
      dim: Int = 64,
      trainFrac: Double = 1.0,
      queryRowsHint: Option[Long] = None): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val e = emb.localCheckpoint(false)
    // full-corpus training reuses e directly (one materialize, one seed
    // job, `iterations` passes — no inner re-checkpoint); the sampled path
    // keeps trainCodebooks' own checkpoint of the filtered frame
    val cbs =
      if (trainFrac >= 1.0) {
        val subDim = dim / m
        val sel = e.select(col("vec_id"), col("embedding"))
        LocalLloyd.sample(sel) match {
          case Some(s) =>
            LocalLloyd.lloydPq(s, seedCodebooks(LocalLloyd.seeds(s, nCodes), m, subDim),
              subDim, iterations)
          case None =>
            codebookLloydDistributed(sel,
              seedCodebooks(VectorOps.seedRows(e, nCodes), m, subDim),
              subDim, iterations)
        }
      } else trainCodebooks(e, m, nCodes, iterations, dim, trainFrac)
    pqTopKWith(e, queryIds, cbs, k, refine, queryRowsHint)
  }

  /** Residual IVF-PQ training with a SHARED seed job: coarse seeds and PQ
    * seed rows are prefixes of the same (samplingHash, vec_id) ordering,
    * and the PQ seeds' residual vectors (x - coarse[bucket]) are computed
    * DRIVER-SIDE from the fetched rows — the bucket pick via
    * [[VectorOps.nearestCentroid]] (bit-identical replica of the executed
    * assignment) and the subtraction the same double-minus-double
    * cast-to-float as the `__pqvec` projection. The codebook Lloyd passes
    * re-derive the residual projection per pass from the materialized
    * frame (per-row work; at real scale use `trainFrac` < 1, which takes
    * the legacy checkpointed-sample path). Spec-pinned equal to the
    * sequential two-job-per-step form on real data. */
  private[llm] def trainIvfPqResidual(
      e: DataFrame,
      nCentroids: Int,
      m: Int,
      nCodes: Int,
      iterations: Int,
      dim: Int): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    // LocalLloyd gate: seed pick, coarse Lloyd, residual projection
    // ((x - w) through float, the executed cast) and the PQ Lloyd all run
    // off one bounded in-memory fetch — same values post-rounding.
    LocalLloyd.sample(e) match {
      case Some(s) =>
        val sd = dim / m
        val localSeeds = LocalLloyd.seeds(s, math.max(nCentroids, nCodes))
        val coarseL = LocalLloyd.lloydCoarse(s, localSeeds.take(nCentroids), iterations)
        val pqSeedsL = localSeeds.take(nCodes).map { v =>
          val b = VectorOps.nearestCentroid(v, coarseL)
          v.zip(coarseL(b)).map { case (x, w) => (x - w).toFloat.toDouble }
        }
        val residS = LocalLloyd.residual(s, coarseL)
        return (coarseL,
          LocalLloyd.lloydPq(residS, seedCodebooks(pqSeedsL, m, sd), sd, iterations))
      case None => ()
    }
    val subDim = dim / m
    val seeds = VectorOps.seedRows(e, math.max(nCentroids, nCodes))
    val coarse = VectorOps.trainCentroidsFrom(e, seeds.take(nCentroids), iterations)
    val pqSeeds = seeds.take(nCodes).map { v =>
      val b = VectorOps.nearestCentroid(v, coarse)
      v.zip(coarse(b)).map { case (x, w) => (x - w).toFloat.toDouble }
    }
    val coarseLit = typedlit(coarse)
    val resid = VectorOps.withRanks(e, coarse)
      .withColumn("bucket", col("__ranks")(0))
      .select(col("vec_id"),
        zip_with(col("embedding"), element_at(coarseLit, col("bucket") + 1),
          (x, w) => (x.cast("double") - w).cast("float")).as("embedding"))
    // this branch only runs when `e` is already past the LocalLloyd cap;
    // `resid` has the same row count, so go straight to the distributed
    // loop instead of re-probing the gate (a limit(cap+1) collect that
    // would evaluate the residual projection for 131k rows and discard it)
    (coarse, codebookLloydDistributed(
      resid, seedCodebooks(pqSeeds, m, subDim), subDim, iterations))
  }

  /** IVF-PQ — the production ANN shape at 100 TB, composing the two
    * pruning axes this library already has: the coarse k-means buckets of
    * [[VectorOps.ivfTopK]] prune WHICH candidates are scanned (a query
    * reads only its nProbe nearest buckets), and PQ codes prune WHAT is
    * read per candidate (m codes + 1 norm instead of dim floats). The ADC
    * step is an EQUI-join on bucket id — no pairwise scan survives in the
    * plan — followed by the usual exact re-rank of the refine*k shortlist.
    * Both trainings are the reproducible seeded/rounded recipe, so the
    * whole pipeline replays in the q55 oracle. */
  def ivfPqTopK(
      emb: DataFrame,
      queryIds: Column => Column,
      nCentroids: Int,
      nProbe: Int,
      m: Int,
      k: Int,
      nCodes: Int = 16,
      refine: Int = 4,
      iterations: Int = 2,
      dim: Int = 64,
      trainFrac: Double = 1.0,
      residual: Boolean = false,
      queryRowsHint: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = materialized(emb)
    // broadcast gate (see pqTopKWithCodes): the ADC query side here is
    // EXPLODED by nProbe bucket probes, so its row estimate scales with
    // nProbe; every join in this ranker is equi-keyed (qbucket / nid /
    // qid), so dropped hints degrade to shuffle joins, never a pair scan
    val cap = annBroadcastCap(e)
    val nqCapQ = cap / (qRowBytes(dim) * math.max(nProbe, 1))
    val nqCapSl = cap / (SlimShortlistRowBytes * refine * k)
    val nq = queryRowCount(e, queryIds, queryRowsHint, math.max(nqCapQ, nqCapSl))
    val qSmall = nq <= nqCapQ
    val slSmall = nq <= nqCapSl
    // Full-corpus training (the declared-query shape) runs through the
    // job-fused trainers: one shared seed fetch, and — non-residual — one
    // combined job per Lloyd iteration. Sampled training (trainFrac < 1)
    // keeps the legacy two-step shape: the PQ sample is a different frame,
    // so there is nothing to fuse.
    val trainedOpt: Option[(Seq[Seq[Double]], Seq[Seq[Seq[Double]]])] =
      if (trainFrac < 1.0) None
      else if (residual) Some(trainIvfPqResidual(e, nCentroids, m, nCodes, iterations, dim))
      else Some(trainIvfPqJoint(e, nCentroids, m, nCodes, iterations, dim))
    val coarse = trainedOpt.map(_._1)
      .getOrElse(VectorOps.trainCentroids(e, nCentroids, iterations))
    val assigned = VectorOps.withRanks(e, coarse)
      .withColumn("bucket", col("__ranks")(0))
      .select(col("vec_id"), col("embedding"), col("bucket"))
    // TRUE IVF-PQ (`residual = true`): codebooks quantize x - centroid[b]
    // rather than raw x — residuals are smaller and better centered, so the
    // same code budget spends its resolution where the information is.
    // Reconstruction adds the centroid back (x^ = c_b + recon(codes)); the
    // exact re-rank is unchanged, so full probe + full refine still
    // degenerates to brute force EXACTLY (spec-pinned). The subtraction is
    // double math cast back to float (deterministic IEEE, reproducible).
    val coarseLit = typedlit(coarse)
    val withVec = if (!residual) assigned.withColumn("__pqvec", col("embedding"))
      else assigned.withColumn("__pqvec",
        zip_with(col("embedding"), element_at(coarseLit, col("bucket") + 1),
          (x, w) => (x.cast("double") - w).cast("float")))
    val codebooks = trainedOpt.map(_._2).getOrElse(trainCodebooks(
      withVec.filter(Mixing.hashKeep(col("vec_id"), lit(trainFrac)))
        .select(col("vec_id"), col("__pqvec").as("embedding")),
      m, nCodes, iterations, dim, trainFrac = 1.0))
    val recons =
      if (!residual) reconstruct(codebooks)
      else zip_with(element_at(coarseLit, col("bucket") + 1), reconstruct(codebooks),
        (c, r) => c + r)
    val enc = withVec
      .withColumn("codes", codesCol(codebooks, "__pqvec"))
      .withColumn("nn", expr(VectorOps.normExpr("embedding")))
      .select(col("vec_id").as("nid"), col("codes"), col("nn"), col("bucket"))
      .withColumn("approx", recons)
      .localCheckpoint(false)
    val q = hintIfSmall(
      VectorOps.withRanks(e.filter(queryIds(col("vec_id"))), coarse)
        .select(
          col("vec_id").as("qid"), col("embedding").as("qe"),
          explode(slice(col("__ranks"), 1, nProbe)).as("qbucket"))
        .withColumn("qn", expr(VectorOps.normExpr("qe"))),
      qSmall)
    val adcDot = expr("graft_dot_fd(qe, approx)")
    val wAdc = Window.partitionBy("qid").orderBy(col("adc").desc, col("nid"))
    val shortlist = enc
      .join(q, col("bucket") === col("qbucket") && col("qid") =!= col("nid"))
      .withColumn("adc",
        when(col("qn") * col("nn") === 0, lit(-2.0))
          .otherwise(adcDot / (col("qn") * col("nn"))))
      .withColumn("arnk", row_number().over(wAdc))
      .filter(col("arnk") <= refine * k)
      .select("qid", "qn", "nid")
    val wX = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    // the shortlist is BOUNDED at |queries| * refine * k rows by the arnk
    // filter — hint it SLIM (three scalars per row, no embedding) so the
    // exact re-rank probes the corpus side without shuffling either side;
    // the query embeddings re-join from their own bounded hint (|queries|
    // rows) instead of riding every shortlist row at 64-float width,
    // keeping the collected broadcast ~10x smaller for large query
    // batches. Past the byte budget both hints drop (equi joins — AQE
    // picks shuffle strategies from runtime sizes).
    val qFlat = hintIfSmall(e.filter(queryIds(col("vec_id")))
      .select(col("vec_id").as("qid"), col("embedding").as("qe")), qSmall)
    hintIfSmall(shortlist, slSmall)
      .join(e.select(col("vec_id").as("nid"), col("embedding").as("ne")), Seq("nid"))
      .join(qFlat, Seq("qid"))
      .withColumn("nn", expr(VectorOps.normExpr("ne")))
      .withColumn("cos",
        when(col("qn") * col("nn") === 0, lit(-2.0))
          .otherwise(expr(VectorOps.dotExpr("qe", "ne")) / (col("qn") * col("nn"))))
      .withColumn("rnk", row_number().over(wX))
      .filter(col("rnk") <= k)
      .select(col("qid").as("vec_id"), col("nid").as("neighbor_id"), col("rnk"), col("cos"))
  }

  /** [[pqTopK]] against PRE-TRAINED codebooks — the production split
    * (codebooks train once on a sample, rank many query batches; also what
    * lets ScaleBench report train and rank cost separately). */
  def pqTopKWith(
      emb: DataFrame,
      queryIds: Column => Column,
      codebooks: Seq[Seq[Seq[Double]]],
      k: Int,
      refine: Int = 4,
      queryRowsHint: Option[Long] = None): DataFrame = {
    val e = materialized(emb)
    pqTopKWithCodes(e, encode(e, codebooks), queryIds, codebooks, k, refine,
      queryRowsHint)
  }

  /** The ADC rank + exact re-rank core against a PRE-ENCODED codes frame
    * (vec_id, codes, vn) — either [[encode]]'s output or a stored table in
    * the [[encodeColumnar]] layout read back through [[codesFromColumnar]].
    * This is the 100 TB production split: codes live on disk in the
    * columnar layout, the scan reads m code chunks + one norm per
    * candidate, and only the refine*k shortlist ever touches the float
    * corpus. `emb` supplies queries and the exact re-rank; pass a stable
    * (checkpointed / table-backed) frame, as it is scanned twice. */
  def pqTopKWithCodes(
      emb: DataFrame,
      encoded: DataFrame,
      queryIds: Column => Column,
      codebooks: Seq[Seq[Seq[Double]]],
      k: Int,
      refine: Int = 4,
      queryRowsHint: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb
    // broadcast gate: estimate |queries| once (hint or bounded probe) and
    // size all three hinted frames against the byte budget. dim comes from
    // the codebooks (sum of per-subspace widths == the embedding dim).
    val dim = codebooks.map(_.head.size).sum
    val cap = annBroadcastCap(e)
    val nqCapQ = cap / qRowBytes(dim)
    val nqCapSl = cap / (SlimShortlistRowBytes * refine * k)
    val nq = queryRowCount(e, queryIds, queryRowsHint, math.max(nqCapQ, nqCapSl))
    val qSmall = nq <= nqCapQ
    val slSmall = nq <= nqCapSl
    // materialize the encoded candidates: without the barrier Catalyst
    // collapses the encode/reconstruct projections INTO the query join and
    // recomputes the per-ROW codes once per PAIR — measured 20 s vs 1.4 s
    // brute force at 40k vectors; with it the ADC scan costs what it
    // should (codes + one dot per pair)
    val enc = encoded
      .select(col("vec_id").as("nid"), col("codes"), col("vn").as("nn"))
      .withColumn("approx", reconstruct(codebooks))
      .localCheckpoint(false)
    // the ADC scan is pairwise BY DESIGN (non-equi: every query scores
    // every candidate's codes) — hinted small, it is a broadcast pair
    // scan; over the cap the hint drops and Spark streams the pair scan
    // instead of collecting an oversized query batch onto the driver
    val q = hintIfSmall(
      e.filter(queryIds(col("vec_id")))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .withColumn("qn", expr(VectorOps.normExpr("qe"))),
      qSmall)
    // ADC: dot(query float, candidate reconstruction) / (|q| * true |n|)
    // through the float x double kernel
    val adcDot = expr("graft_dot_fd(qe, approx)")
    val wAdc = Window.partitionBy("qid").orderBy(col("adc").desc, col("nid"))
    val shortlist = enc
      .join(q, col("qid") =!= col("nid"))
      .withColumn("adc",
        when(col("qn") * col("nn") === 0, lit(-2.0))
          .otherwise(adcDot / (col("qn") * col("nn"))))
      .withColumn("arnk", row_number().over(wAdc))
      .filter(col("arnk") <= refine * k)
      .select("qid", "qn", "nid")
    // exact re-rank of the shortlist only — hinted broadcast: bounded at
    // |queries| * refine * k rows by the arnk filter, so the corpus side
    // is probed in place instead of shuffled. The shortlist broadcasts
    // SLIM (no embedding); query embeddings re-join from their own
    // |queries|-row broadcast rather than riding every shortlist row.
    // Both joins are EQUI-keyed (nid / qid), so past the cap the dropped
    // hints degrade to shuffle joins AQE sizes at runtime.
    val wX = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    val qFlat = hintIfSmall(e.filter(queryIds(col("vec_id")))
      .select(col("vec_id").as("qid"), col("embedding").as("qe")), qSmall)
    hintIfSmall(shortlist, slSmall)
      .join(e.select(col("vec_id").as("nid"), col("embedding").as("ne")), Seq("nid"))
      .join(qFlat, Seq("qid"))
      .withColumn("nn", expr(VectorOps.normExpr("ne")))
      .withColumn("cos",
        when(col("qn") * col("nn") === 0, lit(-2.0))
          .otherwise(expr(VectorOps.dotExpr("qe", "ne")) / (col("qn") * col("nn"))))
      .withColumn("rnk", row_number().over(wX))
      .filter(col("rnk") <= k)
      .select(col("qid").as("vec_id"), col("nid").as("neighbor_id"), col("rnk"), col("cos"))
  }
}
