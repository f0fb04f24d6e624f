package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-vector operators over the `embeddings` table
  * (vec_id, embedding: array<float>[64], label).
  *
  * Dot products are computed as an explicit left-to-right fold in DOUBLE
  * (float -> double widening is exact), so the result is bit-identical to any
  * engine that sums the products sequentially — which is what the DuckDB
  * oracle does. The folds are native codegen'd kernels (`graft_dot_f`,
  * `graft_norm_f`, `graft_dot_fd`, `graft_centroid_ranks`, registered by
  * GraftExtensions on every [[graft.Sessions]] session); the specs pin
  * them against the interpreted `zip_with`/`aggregate` forms.
  *
  * Scale path: brute-force top-k is a broadcast nested-loop join (fine when
  * one side — the query set — is small); all-pairs similarity goes through
  * the sign-LSH bucketing in [[hyperplaneBuckets]] so candidate generation is
  * an equi-join on bucket id instead of an O(n^2) cross product.
  */
object VectorOps {

  /** Left-to-right double-precision dot product of two float-array columns
    * (as a SQL expression string): exact float->double widening, strict
    * sequential accumulation — the DuckDB oracle's arithmetic. */
  private[llm] def dotExpr(a: String, b: String): String = s"graft_dot_f($a, $b)"

  /** L2 norm of a float-array column as a SQL expression string. */
  private[llm] def normExpr(a: String): String = s"graft_norm_f($a)"

  /** L2 norm of a float-array column as a Column — the public face of
    * [[normExpr]] for callers outside this package (e.g. the streaming
    * intake's zero-norm gate). */
  def norm(a: String): Column = expr(normExpr(a))

  /** Brute-force cosine top-k: for each query vector (small side, broadcast),
    * rank all candidate vectors by cosine desc with id tie-break.
    * Norms are projected ONCE PER VECTOR before the join (O(n+q) instead of
    * O(n*q) norm folds — same doubles, 3x less work per pair).
    * Output: (vec_id, neighbor_id, rnk, cos). */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("qn", expr(normExpr("qe"))))
    val c = candidates.select(col("vec_id").as("nid"), col("embedding").as("ne"))
      .withColumn("nn", expr(normExpr("ne")))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    c.join(q, col("qid") =!= col("nid"))
      // zero-norm vectors: ANSI mode THROWS on the 0-divisor (it never
      // reaches NaN), so the guard must short-circuit BEFORE the divide —
      // CaseWhen evaluates the division only on the matched branch. Rank
      // them last (-2 < any true cosine) instead of erroring the job or
      // (non-ANSI) letting NaN win every top-k slot. Same guard in
      // ivfTopK/lshTopK; assignment-phase distances are guarded inside
      // withRanks and the native kernel (dist = 2.0).
      .withColumn("cos",
        when(col("qn") * col("nn") === 0, lit(-2.0))
          .otherwise(expr(dotExpr("qe", "ne")) / (col("qn") * col("nn"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid").as("vec_id"), col("nid").as("neighbor_id"), col("rnk"), col("cos"))
  }

  /** Matryoshka-style truncated retrieval: rank by cosine over only the
    * FIRST `d` dimensions. Matryoshka-trained embeddings front-load
    * information, so truncation buys a dim/d scan-and-compute reduction at
    * modest recall cost — the standard cheap first stage before full-dim
    * re-ranking (compose: truncatedTopK for a shortlist, bruteForceTopK on
    * it). Implemented as a projection of both sides to `slice(embedding,
    * 1, d)` feeding the SAME ranking machinery (same guards, ties,
    * kernels); d = dim degenerates to [[bruteForceTopK]] exactly. */
  def truncatedTopK(
      queries: DataFrame, candidates: DataFrame, d: Int, k: Int): DataFrame = {
    require(d >= 1, "d must be >= 1")
    def cut(df: DataFrame) =
      df.select(col("vec_id"), slice(col("embedding"), 1, d).as("embedding"))
    bruteForceTopK(cut(queries), cut(candidates), k)
  }

  /** All-pairs cosine >= tau within an id-sampled subset (exact near-dup on
    * embeddings). Output: (vec_a, vec_b, cos), vec_a < vec_b. */
  def cosineNearDupPairs(emb: DataFrame, sampleMod: Int, tau: Double): DataFrame = {
    val sub = emb.filter(col("vec_id") % sampleMod === 0)
    val a = sub.select(col("vec_id").as("vec_a"), col("embedding").as("qe"))
      .withColumn("na", expr(normExpr("qe")))
    val b = sub.select(col("vec_id").as("vec_b"), col("embedding").as("ne"))
      .withColumn("nb", expr(normExpr("ne")))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", // zero-norm guard: -2 never verifies (see bruteForceTopK)
        when(col("na") * col("nb") === 0, lit(-2.0))
          .otherwise(expr(dotExpr("qe", "ne")) / (col("na") * col("nb"))))
      .filter(col("cos") >= tau)
      .select("vec_a", "vec_b", "cos")
  }

  /** Component i of pseudo-random hyperplane p: the first 8 md5 hex chars
    * of "p:i" as an unsigned 32-bit value, mapped to [-0.5, 0.5). Computed
    * DRIVER-SIDE (bit-identical to the SQL
    * `conv(substring(md5(concat(p, ':', i)), 1, 8), 16, 10)` the oracle
    * uses) so the planes enter the plan as array literals — the expression
    * form re-ran 64 x nPlanes md5s PER ROW because Catalyst does not
    * constant-fold higher-order functions. */
  private[llm] def planeComponents(p: Int, dim: Int): Seq[Double] =
    (0 until dim).map { i =>
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p:$i".getBytes("UTF-8"))
      val hex = digest.take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0 - 0.5
    }

  /** Sign-LSH bucket id: `nPlanes` pseudo-random hyperplanes with components
    * derived deterministically from md5(plane:dim), mapped to [-0.5, 0.5).
    * bucket = bits of sign(dot(plane, v)) packed into a long. This is the
    * scale path for ANN: bucket is an equi-join/groupBy key. */
  def hyperplaneBuckets(emb: DataFrame, nPlanes: Int, dim: Int): DataFrame = {
    // float-embedding x double-plane-literal dot through the native
    // kernel: this projection runs once per plane per row, on every path
    // that consumes buckets
    val planeDot: Int => String = p => s"graft_dot_fd(embedding, plane$p)"
    val withPlanes = (0 until nPlanes).foldLeft(emb) { (df, p) =>
      df.withColumn(s"plane$p", typedLit(planeComponents(p, dim)))
    }
    val bucketBits = (0 until nPlanes).map(p =>
      when(expr(planeDot(p)) > 0, lit(1L)).otherwise(lit(0L)))
    // nPlanes=0 -> one global bucket (degenerates to exact all-pairs)
    val bucket =
      if (bucketBits.isEmpty) lit(0L) else bucketBits.reduce((a, b) => a * 2 + b)
    withPlanes
      .withColumn("bucket", bucket)
      .select(col("vec_id"), col("embedding"), col("label"), col("bucket"))
  }

  /** IVF (inverted-file) ANN — the centroid-bucketed alternative to the
    * sign-LSH path, as pure DataFrame ops:
    *
    *  1. TRAIN: `nCentroids` seed centroids = the vectors with the smallest
    *     md5 sampling hash of vec_id (deterministic sample), refined by
    *     `iterations` Lloyd steps. Assignment is per-row (argmin over
    *     centroid literals, no shuffle); the mean update is a groupBy whose
    *     result is k x dim rows — the only driver collect, O(k*dim), never
    *     O(n).
    *  2. ASSIGN: every vector gets its nearest-centroid bucket — per-row
    *     compute against broadcast-literal centroids, no shuffle.
    *  3. PROBE: each query expands to its `nProbe` nearest centroid ids and
    *     equi-joins candidates on bucket — same join shape as [[lshTopK]],
    *     recall tuned by nProbe instead of plane count. With
    *     nProbe == nCentroids this is EXACTLY brute force (spec-pinned).
    *
    * All distances are double-precision cosine (dot via the native
    * kernel). Deterministic: seeded sample, fixed iteration count, id
    * tie-breaks. */
  // Centroid ranking — the ONE definition of the metric, shared by
  // training assignment (ranks[0]), query probing (ranks[0..nProbe)), and
  // semantic-dedup cluster scoping: a fix applied here cannot diverge
  // between consumers, which is what keeps the spec-pinned "full probe ==
  // brute force" invariant safe. Zero norms (degenerate vector or empty
  // cluster) score the MAX cosine distance 2.0 instead of NaN — NaN inside
  // the sort comparisons makes assignment and probe order undefined.
  //
  // One native `graft_centroid_ranks` call per row: a stable static call
  // whose centroid matrix is a codegen reference object, so re-planning
  // each Lloyd iteration reuses the compiled class.
  private def centroidsSql(cs: Seq[Seq[Double]]): String =
    cs.map(c => c.map(v => s"${v}D").mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")

  /** df + `__ranks`: all centroid indices ordered by (distance, index). */
  private[llm] def withRanks(df: DataFrame, cs: Seq[Seq[Double]]): DataFrame =
    df.withColumn("__ranks", expr(s"graft_centroid_ranks(embedding, ${centroidsSql(cs)})"))

  /** The `n` deterministic seed vectors — the rows with the smallest
    * (md5 sampling hash, vec_id), exactly the ordering every trainer here
    * uses. ONE fetch of max(k_coarse, k_pq) rows serves BOTH trainings in
    * the fused IVF-PQ path ([[Pq.ivfPqTopK]]): the coarse seeds are the
    * first `nCentroids` rows and the PQ seeds the first `nCodes` of the
    * SAME prefix, so sharing the job changes nothing about the values. */
  private[llm] def seedRows(e: DataFrame, n: Int): Seq[Seq[Double]] =
    e.select(col("vec_id"), col("embedding"))
      .orderBy(Mixing.samplingHash(col("vec_id")), col("vec_id"))
      .limit(n)
      .collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq

  /** DRIVER-SIDE replica of [[withRanks]]' rank-0 pick (nearest centroid by
    * cosine distance, index tie-break) for a single vector already widened
    * float->double. Bit-identical arithmetic by construction: the dot and
    * norm are the same left-to-right double folds as the native kernel
    * (exact float->double widening, sequential accumulation), cNorm is the
    * same Scala sum-of-squares, and zero norms score the max distance 2.0. Used to derive residual PQ seed vectors
    * without an extra Spark job ([[Pq.ivfPqTopK]] residual path); the spec
    * pins it against the executed assignment on real data. */
  private[llm] def nearestCentroid(v: Seq[Double], cs: Seq[Seq[Double]]): Int = {
    val vn = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
    var best = 0
    var bestDist = Double.MaxValue
    for (i <- cs.indices) {
      val c = cs(i)
      val cNorm = math.sqrt(c.map(x => x * x).sum)
      val dist =
        if (cNorm == 0 || vn == 0) 2.0
        else 1.0 - v.zip(c).foldLeft(0.0) { case (a, (x, w)) => a + x * w } / (vn * cNorm)
      if (dist < bestDist) { bestDist = dist; best = i }
    }
    best
  }

  /** Deterministic k-means: seed centroids = the vectors with the smallest
    * md5 sampling hash of vec_id ([[Mixing.samplingHash]] — ties impossible
    * on ids; md5 rather than xxhash64 so an external engine can reproduce
    * the seed pick), refined by `iterations` Lloyd steps. Assignment is
    * per-row against centroid literals (no shuffle); the mean update is one
    * avg agg per dimension whose k x dim result is the only driver
    * collect — never O(n). Each mean is rounded to 1e-6 via the
    * floor(x*1e6 + 0.5) form (bit-deterministic given the same input,
    * unlike decimal-string round): the quantum absorbs partial-agg
    * ordering ulps, making the trained centroids reproducible run-to-run
    * AND cross-engine (the q33 oracle replays this training in SQL); the
    * <= 5e-7 per-component perturbation is immaterial for clustering.
    * Callers pass an already-checkpointed frame (the loop makes
    * `iterations`+1 passes).
    *
    * Gated through [[LocalLloyd]]: when the frame fits the bounded sample
    * cap the whole training (seed pick + every Lloyd pass) runs driver-side
    * off ONE fetch — same values post-rounding (differential spec), one
    * Spark job instead of `iterations`+1. */
  private[llm] def trainCentroids(
      e: DataFrame, nCentroids: Int, iterations: Int): Seq[Seq[Double]] =
    LocalLloyd.sample(e) match {
      case Some(s) => LocalLloyd.lloydCoarse(s, LocalLloyd.seeds(s, nCentroids), iterations)
      case None => trainCentroidsFrom(e, seedRows(e, nCentroids), iterations)
    }

  /** The Lloyd loop of [[trainCentroids]] from pre-fetched seed vectors —
    * lets the fused IVF-PQ trainer share one seed job across both
    * trainings. Identical per-iteration plans and rounding. */
  private[llm] def trainCentroidsFrom(
      e: DataFrame, init: Seq[Seq[Double]], iterations: Int): Seq[Seq[Double]] = {
    var centroids: Seq[Seq[Double]] = init
    val dim = if (centroids.isEmpty) 0 else centroids.head.length
    for (_ <- 0 until iterations) {
      // per-bucket mean, one avg agg per dimension (k x dim result values —
      // tiny, collected to the driver to become the next round's literals).
      // Map-side partial aggregation over WIDE rows: vs the posexplode melt
      // this is one narrow stage pair instead of a k*dim-row exchange.
      val dimAggs = (0 until dim).map(i =>
        (floor(avg(col("embedding")(i).cast("double")) * lit(1e6) + lit(0.5)) / lit(1e6))
          .as(s"m$i"))
      val means = withRanks(e, centroids)
        .withColumn("bucket", col("__ranks")(0))
        .groupBy("bucket")
        .agg(dimAggs.head, dimAggs.tail: _*)
        .collect()
        .map(r => r.getInt(0) -> (1 to dim).map(r.getDouble).toSeq)
        .toMap
      // empty clusters keep their previous centroid
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i)))
    }
    centroids
  }

  def ivfTopK(
      emb: DataFrame,
      queryIds: Column => Column,
      nCentroids: Int,
      nProbe: Int,
      k: Int,
      iterations: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    // The training loop + final assign + probe make iterations+3 passes over
    // the embedding frame: materialize it ONCE (lazy localCheckpoint — the
    // standard iterative-ML shape; storage is freed with the plan). Without
    // this every pass re-runs the scan (and the small-input repartition).
    val e = emb.localCheckpoint(false)

    // --- 1. TRAIN ------------------------------------------------------
    val centroids = trainCentroids(e, nCentroids, iterations)

    // --- 2. ASSIGN + 3. PROBE -----------------------------------------
    val assigned = withRanks(e, centroids)
      .withColumn("bucket", col("__ranks")(0))
      .select(col("vec_id"), col("embedding"), col("bucket"))

    val q = broadcast(
      withRanks(e.filter(queryIds(col("vec_id"))), centroids)
        .select(
          col("vec_id").as("qid"), col("embedding").as("qe"),
          explode(slice(col("__ranks"), 1, nProbe)).as("qbucket"))
        .withColumn("qn", expr(normExpr("qe"))))

    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    assigned
      .select(col("vec_id").as("nid"), col("embedding").as("ne"), col("bucket"))
      .withColumn("nn", expr(normExpr("ne")))
      .join(q, col("bucket") === col("qbucket") && col("qid") =!= col("nid"))
      .withColumn("cos", // zero-norm guard: see bruteForceTopK
        when(col("qn") * col("nn") === 0, lit(-2.0))
          .otherwise(expr(dotExpr("qe", "ne")) / (col("qn") * col("nn"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid").as("vec_id"), col("nid").as("neighbor_id"), col("rnk"), col("cos"))
  }

  /** Default per-bucket candidate cap for [[lshTopK]] — see
    * [[TextOps.DefaultMaxBucketSize]] for the rationale. A degenerate hot
    * bucket (near-zero vectors, clustered corpora) otherwise fans the
    * broadcast join out by O(bucket) per query hitting it. */
  val DefaultMaxBucketSize = 100000

  /** LSH-bucketed approximate top-k: queries are ranked only against
    * candidates sharing their hyperplane bucket. Buckets larger than
    * `maxBucketSize` are deterministically thinned to ~maxBucketSize
    * candidates (hash-of-id subsample) BEFORE the join: the hot-bucket
    * census is a tiny count aggregation (bucket column only — embeddings
    * are pruned from that scan) broadcast back as a filter, so the
    * candidate side itself is never shuffled. */
  def lshTopK(emb: DataFrame, queryIds: Column => Column, nPlanes: Int, dim: Int, k: Int,
              maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = hyperplaneBuckets(emb, nPlanes, dim)
    val q = broadcast(
      bucketed.filter(queryIds(col("vec_id")))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket").as("qbucket"))
        .withColumn("qn", expr(normExpr("qe"))))
    // hot buckets only (<= n/maxBucketSize of them by definition): broadcast
    // the census, keep ~1/ceil(cnt/cap) of each hot bucket's candidates.
    // COST: the census is a second full pass of the plane folds (bucket is
    // derived from the embedding, so nothing can be pruned from that scan) —
    // the price of the skew guard. Opt out with maxBucketSize=Int.MaxValue
    // when the corpus is known well-spread; the census is skipped entirely.
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    val candBase = bucketed
      .select(col("vec_id").as("nid"), col("embedding").as("ne"), col("bucket"))
    val cand =
      if (maxBucketSize == Int.MaxValue) candBase
      else {
        val hot = bucketed.groupBy("bucket").agg(count(lit(1)).as("bcnt"))
          .filter(col("bcnt") > maxBucketSize)
        candBase
          .join(broadcast(hot), Seq("bucket"), "left")
          .filter(col("bcnt").isNull ||
            pmod(xxhash64(col("nid")), ceil(col("bcnt") / maxBucketSize).cast("long")) === 0)
          .drop("bcnt")
      }
    cand
      .withColumn("nn", expr(normExpr("ne")))
      .join(q, col("bucket") === col("qbucket") && col("qid") =!= col("nid"))
      .withColumn("cos", // zero-norm guard: see bruteForceTopK
        when(col("qn") * col("nn") === 0, lit(-2.0))
          .otherwise(expr(dotExpr("qe", "ne")) / (col("qn") * col("nn"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid").as("vec_id"), col("nid").as("neighbor_id"), col("rnk"), col("cos"))
  }
}
