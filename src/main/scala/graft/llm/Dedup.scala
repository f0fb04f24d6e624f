package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-facing corpus deduplication: each operator takes the `documents`
  * shape (doc_id, text, ...) or `embeddings` shape (vec_id, embedding, ...)
  * and returns the SURVIVING rows — the API a training-data pipeline calls,
  * built on the pair/candidate machinery in [[TextOps]]/[[VectorOps]].
  *
  * Survivor policy is greedy-by-id: the lowest doc_id of a duplicate group
  * survives; any row that is a (near-)duplicate of a lower-id row is
  * dropped (drop set = right side of verified pairs). Deterministic, one
  * anti-join, no iterative connected components — the standard large-corpus
  * policy; transitive chains collapse to their minimum id.
  */
object Dedup {

  /** Exact dedup on a column (default `text`): keep the min-doc_id row per
    * identical value. Hash-partitioned by the value — one shuffle, but the
    * shuffled rows CARRY the value column; at corpus scale prefer
    * [[exactByHash]], which moves only ids and 16-byte digests. Kept as
    * the byte-equality reference form (and the shape the oracles state). */
  def exact(docs: DataFrame, on: String = "text"): DataFrame = {
    val w = Window.partitionBy(on).orderBy("doc_id")
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** [[exact]] via 128-bit content digest: the dedup shuffle moves only
    * (doc_id, md5-of-value) — the payload never enters an exchange — and
    * survivors return through a doc_id-keyed anti-join, the partitioning
    * every downstream dedup stage reuses. Result-identical to [[exact]]
    * barring an md5 collision (~2^-64 odds at 1e12 docs; the standard
    * content-defined-dedup tradeoff), spec-pinned equal on randomized
    * duplicate-heavy corpora. The form [[CorpusPipeline]] runs. */
  def exactByHash(docs: DataFrame, on: String = "text"): DataFrame = {
    val w = Window.partitionBy("__h").orderBy("doc_id")
    val drop = docs.select(col("doc_id"), md5(col(on).cast("binary")).as("__h"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select("doc_id")
      .localCheckpoint(false) // a lineage barrier for the one consumer (the
      // anti-join). Not lazy: the call turns the plan into an RDD, and under
      // AQE that runs every shuffle and broadcast stage below it as a job
      // here; only the last stage runs inside the consumer. An eager
      // checkpoint would add a separate blocking job for that stage's rows
    docs.join(drop, Seq("doc_id"), "left_anti")
  }

  /** Near-dedup the corpus: drop every doc that is a verified near-dup of a
    * lower-id doc — on the FUSED LSH pipeline (one shuffle over shingle
    * rows, skew-capped buckets). The drop set is eagerly materialized with
    * severed lineage (localCheckpoint) and never collected to the driver
    * (it can be a large fraction of the corpus). */
  def dedupNearLsh(
      docs: DataFrame,
      tau: Double,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bandRows: Int = 2): DataFrame = {
    val drop = TextOps.lshNearDupPairs(docs, shingleSize, numHashes, bandRows,
      tauPrefilter = Some(tau))
      .filter(col("jaccard") >= tau)
      .select(col("doc_b").as("doc_id")).distinct()
      .localCheckpoint(false) // one consumer; not lazy (see exactByHash)
    docs.join(drop, Seq("doc_id"), "left_anti")
  }

  /** Near-dedup keeping the BEST doc per duplicate cluster instead of the
    * min-id one — representative selection, the policy real curation runs
    * want ("keep the longest/highest-quality duplicate", RefinedWeb-style)
    * where [[dedupNearLsh]]'s min-id keep is an arbitrary tiebreak.
    * Clusters are the verified near-dup graph's connected components
    * ([[duplicateClusters]] over the tau-thresholded LSH pairs — pairwise
    * drop decisions would be ORDER-DEPENDENT inside a chain a-b-c where
    * only adjacent docs collide; component-then-argmax is order-free);
    * the representative is the max-`score` member, ties to the smallest
    * doc_id. Docs in no cluster survive untouched.
    *
    * Shape at scale: the LSH chain + the O(log n) CC (both existing scale
    * paths), one cluster-keyed argmax aggregation, one anti-join — the
    * drop set never reaches the driver. */
  def dedupNearLshKeepBest(
      docs: DataFrame,
      tau: Double,
      score: Column,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bandRows: Int = 2): DataFrame = {
    val pairs = TextOps.lshNearDupPairs(docs, shingleSize, numHashes, bandRows,
      tauPrefilter = Some(tau))
      .filter(col("jaccard") >= tau)
    val clusters = duplicateClusters(pairs).select("doc_id", "cluster_id")
    // argmax by (score desc, doc_id asc) as a single min(struct) aggregate
    // (negation is exact, so the min picks the max score): no window, no
    // self-join
    val members = clusters
      .join(docs.select(col("doc_id"), score.as("__score")), "doc_id")
    val reps = members.groupBy("cluster_id")
      .agg(min(struct((-col("__score")).as("neg"), col("doc_id").as("id")))
        .as("best"))
      .select(col("best.id").as("doc_id"))
    val drop = clusters.select("doc_id")
      .join(reps, Seq("doc_id"), "left_anti")
      .localCheckpoint(false) // one consumer; not lazy (see exactByHash)
    docs.join(drop, Seq("doc_id"), "left_anti")
  }

  /** INCREMENTAL exact dedup — [[exactByHash]]'s batch-vs-corpus form:
    * drop every incoming doc whose content digest already exists in the
    * standing corpus (id order irrelevant), then keep the min-id row per
    * digest within the batch. Returns surviving incoming rows only. The
    * standing side reduces to a digest projection — at 100 TB the daily
    * run reads the corpus' digest column (or a precomputed digest table)
    * and shuffles 16-byte digests, never text. */
  def exactIncremental(
      incoming: DataFrame,
      standing: DataFrame,
      on: String = "text"): DataFrame =
    exactIncrementalVsDigests(incoming,
      standing.select(digestCol(on).as("digest")).distinct(), on)

  /** The content digest of [[exactIncremental]] / the standing-state digest
    * table: md5 of the UTF-8 bytes, NULL digesting to a sentinel (not an
    * md5 hex string, so no collision) so a standing NULL drops an incoming
    * NULL through the semi-join — matching exact()/exactByHash(), whose
    * window partitioning groups NULLs together. */
  private[llm] def digestCol(on: String): Column =
    coalesce(md5(col(on).cast("binary")), lit("<null>"))

  /** [[exactIncremental]] against a PRECOMPUTED standing digest frame
    * (one `digest` string column — [[CorpusPipeline.StandingState]]'s
    * persisted table, possibly with append-duplicates; deduped here).
    * This is the ingest-cycle fast path: the standing corpus is never
    * scanned, the batch shuffles 16-byte digests against the digest
    * table only. */
  def exactIncrementalVsDigests(
      incoming: DataFrame,
      standingDigests: DataFrame,
      on: String = "text"): DataFrame = {
    val dig = digestCol(on)
    val seen = standingDigests.select(col("digest").as("__h"))
    val w = Window.partitionBy("__h").orderBy("doc_id")
    // ONE pass computes both drop conditions: the left join against the
    // standing digests flags vs-standing dups, and the window over the
    // SAME __h partitioning — which the join's output already carries,
    // so no second shuffle — flags within-batch non-minima. `seen` is
    // deliberately NOT distinct'd (round-19): duplicate standing digests
    // (set-semantic append dups a compaction hasn't folded yet) can only
    // multiply rows whose __seen is non-null — dropped regardless of
    // multiplicity or row_number — while fresh-digest rows have no
    // standing match, so each appears exactly once and the window's min
    // is exact; the distinct bought no correctness and cost a dedicated
    // aggregation stage over the corpus-scale digest table EVERY batch.
    // Result-identical to the two-leg form: drop = {digest in standing}
    // ∪ {not the min id of its in-batch digest group}; duplicate doc_ids
    // in `drop` are absorbed by the anti-join.
    val drop = incoming.select(col("doc_id"), dig.as("__h"))
      .join(seen.withColumn("__seen", lit(1)), Seq("__h"), "left")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__seen").isNotNull || col("__rn") > 1)
      .select("doc_id")
      .localCheckpoint(false) // one consumer; not lazy (see exactByHash)
    incoming.join(drop, Seq("doc_id"), "left_anti")
  }

  /** INCREMENTAL near-dedup — the production daily-ingest case: dedup an
    * incoming batch against a STANDING corpus without ever re-deduping the
    * corpus against itself. An incoming doc is dropped when it is a
    * verified near-dup (jaccard >= tau) of ANY standing doc (id order
    * irrelevant — the standing corpus always wins) or of a LOWER-id
    * incoming doc (the same greedy policy as [[dedupNearLsh]]). Returns
    * the surviving incoming rows; the standing frame is never modified.
    * doc_ids must be disjoint across the two frames.
    *
    * Shape at scale: both sides project per-row band keys
    * ([[TextOps.bandRowsDF]] — no corpus shuffle); candidate generation is
    * one band-key groupBy emitting pairs ONLY for incoming docs
    * ([[TextOps.incrementalBucketPairs]] — a standing-heavy bucket does
    * zero standing x standing work, the term that dominates when the
    * corpus dwarfs the batch); verification computes shingle sets for
    * candidate docs only (semi-join). When the standing ids all precede
    * the incoming ids this is result-identical to running [[dedupNearLsh]]
    * over the union and keeping the incoming survivors (spec-pinned), at
    * a fraction of the candidate work. */
  def dedupNearLshIncremental(
      incoming: DataFrame,
      standing: DataFrame,
      tau: Double,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bandRows: Int = 2,
      maxBucketSize: Int = TextOps.DefaultMaxBucketSize): DataFrame =
    dedupNearLshIncrementalVsBands(incoming,
      TextOps.bandRowsSizedDF(standing, shingleSize, numHashes, bandRows),
      standing.select("doc_id", "text"),
      tau, shingleSize, numHashes, bandRows, maxBucketSize)

  /** [[dedupNearLshIncremental]] against PRECOMPUTED standing band rows
    * ((doc_id, band, sig, n) — [[CorpusPipeline.StandingState]]'s persisted
    * table) — the ingest-cycle fast path: the standing corpus' shingle +
    * minhash projection (its full-text scan) is never recomputed; standing
    * TEXT is touched only for the batch-shaped candidate verification via
    * `standingText` (a bare table scan — the semi-join prunes it to
    * candidate docs). `standingText` must be the SAME text the band rows
    * were computed over (normalized if they were). */
  def dedupNearLshIncrementalVsBands(
      incoming: DataFrame,
      standingBands: DataFrame,
      standingText: DataFrame,
      tau: Double,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bandRows: Int = 2,
      maxBucketSize: Int = TextOps.DefaultMaxBucketSize): DataFrame = {
    val standing = standingText
    val bi = TextOps.bandRowsSizedDF(incoming, shingleSize, numHashes, bandRows)
      .withColumn("inc", lit(1L))
    val bs = standingBands.select("doc_id", "band", "sig", "n")
      .withColumn("inc", lit(0L))
    // the sound tau size bound runs INSIDE pair emission
    // ([[TextOps.incrementalBucketPairsSized]]): a boilerplate-skewed band
    // bucket emits a pair frame quadratic in the bucket, and most of it
    // dies on the (na, nb) check before the distinct() shuffle or any
    // shingle array copy — results identical to the unsized form, since a
    // size-culled pair cannot reach jaccard >= tau (spec-pinned)
    val pairs = TextOps.incrementalBucketPairsSized(
      bi.unionByName(bs), maxBucketSize, tau)
      .localCheckpoint(false)
    val candIds = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val corpus = standing.select("doc_id", "text")
      .unionByName(incoming.select("doc_id", "text"))
    val sets = corpus.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), TextOps.shingleCol(shingleSize).as("sset"))
      .localCheckpoint(false)
    // 64-bit-hash pre-screen ([[TextOps.hashScreenPairs]]): a boilerplate-
    // skewed bucket's surviving pair frame is still large after the size
    // cull (every same-length doc shares suffix shingles), and shipping
    // two STRING shingle arrays per pair through the verify joins was the
    // q65 chain's single heaviest leg; the screen intersects long-hash
    // projections (primitive kernel, ~4x narrower rows) and the exact
    // string verify below runs only on pairs whose hash Jaccard reaches
    // tau — the drop set is string-exact, sub-tau pairs are the only cull
    val drop = TextOps.hashScreenPairs(pairs, sets, tau)
      .join(sets.select(col("doc_id").as("doc_a"), col("sset").as("sa")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sset").as("sb")), Seq("doc_b"))
      .withColumn("common", TextOps.isectSize(col("sa"), col("sb")))
      .filter(col("common").cast("double") / (col("na") + col("nb") - col("common")) >= tau)
      .select(col("doc_b").as("doc_id")).distinct()
      .localCheckpoint(false) // one consumer; not lazy (see exactByHash)
    incoming.join(drop, Seq("doc_id"), "left_anti")
  }

  /** Embedding-space near-dedup: drop vectors whose cosine to a lower-id
    * vector meets tau — [[VectorOps.cosineNearDupPairs]] over the full frame
    * (sampleMod=1). EXACT but pairwise (O(n^2) non-equi join): small
    * corpora / sampled audits only; the scale path is
    * [[dedupByEmbeddingLsh]]. */
  def dedupByEmbedding(emb: DataFrame, tau: Double): DataFrame = {
    val drop = VectorOps.cosineNearDupPairs(emb, sampleMod = 1, tau)
      .select(col("vec_b").as("vec_id")).distinct()
    emb.join(drop, Seq("vec_id"), "left_anti")
  }

  /** Cell-level embedding dedup via PQ code signatures — the batch twin of
    * [[graft.streaming.EventStreamJobs.streamingEmbeddingDedup]] and the
    * CHEAPEST semantic dedup in the family: after one codebook training
    * (sample-sized) the whole pass is a per-row signature projection + one
    * min-id groupBy on short strings — no pair generation at all. Two
    * vectors collapse iff they quantize identically in EVERY subspace
    * (resolution = the m x nCodes codebook, not a cosine threshold; use
    * [[semDedup]]/[[dedupByEmbedding]] for threshold semantics). Keeps the
    * lowest vec_id per occupied cell. */
  def dedupByEmbeddingPq(
      emb: DataFrame,
      m: Int = 8,
      nCodes: Int = 16,
      iterations: Int = 2,
      dim: Int = 64,
      trainFrac: Double = 1.0): DataFrame = {
    val e = emb.localCheckpoint(false)
    val codebooks = Pq.trainCodebooks(e, m, nCodes, iterations, dim, trainFrac)
    val w = Window.partitionBy("__cell").orderBy("vec_id")
    e.withColumn("__cell", Pq.codeSignature(codebooks))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__cell", "__rn")
  }

  /** Connected components over verified near-dup pairs: every doc that
    * appears in a pair is labeled with the MINIMUM doc_id reachable through
    * the pair graph (the canonical duplicate-cluster id), plus the cluster
    * size — the cluster-then-keep-one view that complements the greedy
    * pairwise drop above (greedy collapses transitive chains implicitly;
    * this materializes them, which audits and per-cluster sampling need).
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR (the MapReduce CC
    * recipe of Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) over the edge frame itself — no separate label
    * table. Each round:
    *
    *  - large-star: every node u looks at its FULL neighborhood and
    *    re-attaches each strictly-larger neighbor to
    *    m = min(N(u) ∪ {u}) — one groupBy(node) for the mins + one
    *    equi-join to rewrite edges;
    *  - small-star: every node looks at its smaller neighbors only
    *    (exactly the canonical (hi, lo) edge form, no explode needed)
    *    and attaches itself and all of them to their min — one
    *    groupBy(hi) + one equi-join.
    *
    * Both operations strictly decrease the sum of the edges' smaller
    * endpoints until the graph is a union of min-rooted stars. Convergence
    * is detected STRUCTURALLY in one action per round: the edge set is a
    * star forest iff every `hi` carries exactly one edge and no `lo` ever
    * appears as a `hi` — and because the star rewrites preserve connected
    * components and keep `hi > lo`, a star forest here is necessarily
    * min-rooted per component, i.e. the final answer (one round earlier,
    * and one job per round cheaper, than re-checking edge-set equality).
    * The final edges ARE the labels: (member, component-min). Rounds are
    * O(log n) INDEPENDENT of component diameter — the property the
    * previous min-label-propagation + pointer-jumping form (kept as
    * [[duplicateClustersPropagation]], differentially spec-pinned) only
    * had in its jump term: measured star rounds on path graphs (the
    * diameter-adversarial case) are 7 / 11 / 15 for 41 / 1,001 / 10,001
    * nodes ~ log2(n) + 2, spec-pinned at <= 2·log2(n), where propagation
    * alone would need diameter rounds. Per round: 2 groupBys + 2 equi-joins, all keyed by
    * node id; each result is localCheckpoint'ed or the plan would double
    * per iteration. At 100 TB the edge frame is a tiny fraction of the
    * corpus (verified pairs only), and the star rewrites never grow it:
    * every emitted edge replaces an input edge.
    *
    * Input: (doc_a, doc_b) pairs, doc_a < doc_b (extra columns ignored).
    * Output: (doc_id, cluster_id, cluster_size), one row per doc present
    * in at least one pair; cluster_size >= 2 by construction.
    *
    * LOCAL FAST PATH (the [[LocalLloyd]] discipline): when the distinct
    * canonical edge set fits `spark.graft.cc.localCap` (default 2M edges;
    * 0 disables), ONE `limit(cap+1)` fetch pulls it to the driver and a
    * union-find labels components there — the distributed star rounds'
    * entire cost on small graphs is per-round stage toll (2 groupBys +
    * 2 joins + a convergence probe, each localCheckpointed), not data.
    * Identical output by construction: both paths label every node with
    * its component MINIMUM. Edge sets past the cap (the 100 TB batch-CC
    * case) fall back to the unchanged O(log n)-round star loop — ids are
    * cast to long on the local path, so feed integral ids (every caller
    * does). The incremental form ([[duplicateClustersIncremental]])
    * benefits doubly: its contracted graph is batch-shaped BY DESIGN, so
    * its inner CC is near-always local. */
  def duplicateClusters(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    val cap = pairs.sparkSession.conf
      .getOption("spark.graft.cc.localCap").map(_.toInt)
      .getOrElse(DefaultLocalCcCap)
    if (cap > 0 && integralIds(pairs)) {
      val canon = pairs
        .select(
          greatest(col("doc_a"), col("doc_b")).cast("long").as("hi"),
          least(col("doc_a"), col("doc_b")).cast("long").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct()
      // typed fetch, not Row collect: Row materializes a GenericRow + a
      // values array per edge (~an order of magnitude over the raw longs);
      // the tuple encoder deserializes straight into specialized
      // Tuple2[Long, Long]s, keeping driver heap near the stated ~32 MB
      // budget at the 2M-edge cap
      val fetched = canon.limit(cap + 1)
        .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong))
        .collect()
      if (fetched.length <= cap)
        return localClusters(pairs.sparkSession, fetched)
      // over-cap: reuse the canonical frame the probe just built (the
      // probe's distinct+limit pass is the one extra cost of the gate —
      // rebuilding canon from raw pairs would double it)
      return duplicateClustersCountedCanon(canon, maxRounds)._1
    }
    duplicateClustersCounted(pairs, maxRounds)._1
  }

  /** The local fast path (and the distributed canon's schema-stabilizing
    * cast) is gated on INTEGRAL id columns: a cast("long") on
    * string/decimal ids would yield nulls and silently drop every edge —
    * non-integral ids always take the distributed star rounds uncast,
    * which are type-agnostic (greatest/least on any orderable type). */
  private def integralIds(pairs: DataFrame): Boolean = {
    import org.apache.spark.sql.types._
    Seq("doc_a", "doc_b").forall { c =>
      pairs.schema.find(_.name == c).map(_.dataType) match {
        case Some(ByteType | ShortType | IntegerType | LongType) => true
        case _ => false
      }
    }
  }

  /** Driver-side edge budget for [[duplicateClusters]]'s local path —
    * 2M (hi, lo) pairs is ~32 MB of longs; a day's verified near-dup
    * pairs usually fit, a corpus-wide pair graph at scale does not and
    * falls back to the distributed star rounds. */
  val DefaultLocalCcCap = 2000000

  /** Union-find over a collected edge list, min-rooted like the star
    * rounds: every node labels to its component's minimum id; sizes per
    * label. Path-halving + union-by-attachment-to-min keeps it one pass
    * + finds. */
  private def localClusters(
      spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        // attach the larger root under the smaller: roots stay component
        // minima, so find() IS the final label
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val nodes = new java.util.HashSet[Long]()
    edges.foreach { case (a, b) => nodes.add(a); nodes.add(b) }
    import scala.jdk.CollectionConverters._
    val labels = nodes.asScala.toSeq.map(n => (n, find(n)))
    val sizes = labels.groupBy(_._2).map { case (c, m) => c -> m.size }
    labels.map { case (n, c) => (n, c, sizes(c)) }
      .toDF("doc_id", "cluster_id", "cluster_size")
  }

  /** [[duplicateClusters]] plus the number of star rounds it took — the
    * observable the round-complexity spec pins (a 10k-node path must
    * converge within ~2·log2(n) rounds). */
  private[llm] def duplicateClustersCounted(
      pairs: DataFrame, maxRounds: Int = 50): (DataFrame, Int) = {
    // integral ids are cast to long in the canon so the DISTRIBUTED path
    // emits the same (long, long, int) label schema as the local
    // union-find path — without it the output type would depend on edge
    // count / the localCap conf, and a persisted clusters/ table's column
    // types could drift between a batch write and later updateClusters
    // rewrites
    val toCanon: Column => Column =
      if (integralIds(pairs)) _.cast("long") else identity
    duplicateClustersCountedCanon(
      // canonical star-edge form: (hi, lo), hi > lo
      pairs
        .select(
          toCanon(greatest(col("doc_a"), col("doc_b"))).as("hi"),
          toCanon(least(col("doc_a"), col("doc_b"))).as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct(),
      maxRounds)
  }

  /** Star rounds over an already-canonical (hi, lo) edge frame — shared by
    * [[duplicateClustersCounted]] and [[duplicateClusters]]' over-cap
    * fallback (which has already built the canonical frame for its probe
    * and must not rebuild it from raw pairs). */
  private def duplicateClustersCountedCanon(
      canon: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    var edges = canon
      .localCheckpoint(true) // scanned every round — sever lineage once
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // LARGE-STAR: m over the FULL neighborhood (both directions), then
      // each strictly-larger neighbor re-attaches to m. m <= x < nbr, so
      // the (nbr, m) output keeps the hi > lo invariant and no self-loops
      // arise.
      val bidir = edges.select(col("hi").as("x"), col("lo").as("nbr"))
        .union(edges.select(col("lo").as("x"), col("hi").as("nbr")))
      val lmins = bidir.groupBy("x").agg(min("nbr").as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
      // NO distinct here: duplicates (two neighbors of `nbr` sharing one
      // min) survive into small-star, whose groupBy/join are set-identical
      // on multisets and whose own distinct restores canonical form — the
      // dedup shuffle per round buys nothing.
      val afterLarge = bidir.filter(col("nbr") > col("x"))
        .join(lmins, "x")
        .select(col("nbr").as("hi"), col("m").as("lo"))
        .localCheckpoint(false) // scanned 2x below (mins, join)
      // SMALL-STAR: the canonical form already keys every edge at its
      // larger endpoint, so the "smaller neighbors" view is the frame
      // itself; center hi and each smaller neighbor except the min m
      // re-attach to m.
      val smins = afterLarge.groupBy("hi").agg(min("lo").as("m"))
      val afterSmall = afterLarge.join(smins, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(smins.select(col("hi"), col("m").as("lo")))
        .distinct()
        .localCheckpoint(false) // materialized by the convergence probe
      // structural convergence: star forest iff no hi has two edges and no
      // lo is itself a hi. Components are preserved by both rewrites and
      // hi > lo always, so a star forest IS the min-rooted answer — no
      // need to burn a confirming round on edge-set equality. ONE
      // aggregation over the endpoint roles detects both violations
      // (hi-degree > 1, or a node playing both roles) — no self-join.
      converged = afterSmall.select(col("hi").as("v"), lit(1).as("isHi"))
        .union(afterSmall.select(col("lo").as("v"), lit(0).as("isHi")))
        .groupBy("v")
        .agg(sum("isHi").as("nHi"), count(lit(1)).as("deg"))
        .filter(col("nHi") > 1 || (col("nHi") >= 1 && col("deg") > col("nHi")))
        .isEmpty
      edges = afterSmall
      round += 1
    }
    // Returning unconverged labels would hand the caller WRONG cluster ids
    // with no signal — fail loudly instead. Star rounds are O(log n), so
    // hitting this means maxRounds is set far too low for the graph, not
    // that the algorithm is stuck.
    if (!converged) throw new IllegalStateException(
      s"duplicateClusters: labels not converged after $maxRounds rounds — " +
        "raise maxRounds (star rounds needed ~ 2 * log2 of the largest cluster size)")
    // converged edges are min-rooted stars: (member, component-min)
    val labels = edges.select(col("hi").as("doc_id"), col("lo").as("cluster_id"))
      .union(edges.select(col("lo").as("doc_id"), col("lo").as("cluster_id")))
      .distinct()
    val sizes = labels.groupBy("cluster_id")
      .agg(count(lit(1)).cast("int").as("cluster_size"))
    (labels.join(sizes, "cluster_id")
      .select("doc_id", "cluster_id", "cluster_size"), round)
  }

  /** The previous [[duplicateClusters]] algorithm — min-label propagation
    * with one pointer jump per round (rounds ~ O(log diameter), but each
    * round carries a label-table self-join the star form doesn't need).
    * Kept as the differential baseline: the spec pins star labels ==
    * propagation labels on random multi-component graphs. */
  private[llm] def duplicateClustersPropagation(
      pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .localCheckpoint(true) // scanned every round — sever lineage once
    // init = self min-ed with direct neighbors: the first propagation
    // round fused into one aggregation — 2-cliques (the overwhelmingly
    // common duplicate-cluster shape) converge after a single loop pass
    var labels = edges.groupBy("src")
      .agg(least(col("src"), min(col("dst"))).as("cluster_id"))
      .withColumnRenamed("src", "doc_id")
      .localCheckpoint(true)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst").as("doc_id"), col("cluster_id"))
      val propagated = labels.union(viaNeighbor)
        .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
      // pointer jump: follow the label one more hop through the label
      // table itself (left join — a root's label is its own id and may
      // join to itself or nothing after the rename; coalesce keeps it)
      val parents = propagated
        .select(col("doc_id").as("p_id"), col("cluster_id").as("p_label"))
      // LAZY checkpoint: the fixpoint probe below is the action that
      // materializes it — an eager checkpoint would pay a separate job
      // per round for the same result
      val next = propagated
        .join(parents, propagated("cluster_id") === parents("p_id"), "left")
        .select(
          propagated("doc_id"),
          coalesce(col("p_label"), propagated("cluster_id")).as("cluster_id"))
        .localCheckpoint(false)
      converged = next
        .join(labels.withColumnRenamed("cluster_id", "prev"), "doc_id")
        .filter(col("cluster_id") =!= col("prev"))
        .isEmpty
      labels = next
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"duplicateClustersPropagation: labels not converged after $maxRounds rounds")
    val sizes = labels.groupBy("cluster_id")
      .agg(count(lit(1)).cast("int").as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select("doc_id", "cluster_id", "cluster_size")
  }

  /** INCREMENTAL duplicate-cluster maintenance — the connected-components
    * member of the incremental family (exactIncremental /
    * dedupNearLshIncremental / semDedupIncremental): given the STANDING
    * labels of a previous [[duplicateClusters]] run and a batch of NEW
    * verified pairs (cross-batch edges allowed on either endpoint),
    * produce exactly `duplicateClusters(oldPairs UNION newPairs)` without
    * re-running star rounds over the standing graph.
    *
    * Correctness rests on two invariants of the standing labels: they are
    * component-preserving (label = component), and every cluster_id is its
    * component's MINIMUM doc id. So contracting each new-edge endpoint to
    * its standing root (identity for unseen docs) yields a graph whose
    * components are exactly the merged components, and whose per-component
    * min root/new-doc id IS the global min of the merged component —
    * [[duplicateClusters]] over the contracted graph returns the final
    * cluster ids directly. Standing clusters untouched by any contracted
    * edge keep their labels and sizes verbatim.
    *
    * Shape at scale (standing = corpus-sized labels table, batch = a daily
    * ingest's verified pairs): every join against standing broadcasts the
    * BATCH-shaped side — the endpoint semi-join that fetches roots, the
    * root-map relabel, and the touched-cluster size refresh; star rounds
    * run only on the contracted graph (O(touched components), not
    * O(standing)). Standing is scanned twice (once to fetch endpoint
    * roots, once to relabel) — both bare table scans, never materialized.
    * An edge landing INSIDE one standing cluster contracts to a self-loop
    * and vanishes before any shuffle.
    *
    * Input: `standing` = (doc_id, cluster_id, cluster_size) labels;
    * `newPairs` = (doc_a, doc_b) (extra columns ignored). Output: the same
    * label shape over the merged graph. */
  def duplicateClustersIncremental(
      standing: DataFrame,
      newPairs: DataFrame,
      maxRounds: Int = 50): DataFrame =
    duplicateClustersIncrementalParts(standing, newPairs, maxRounds)._1

  /** [[duplicateClustersIncremental]] plus the two TOUCHED-set frames the
    * bucketed state rewrite ([[StandingState.updateClusters]]) needs to
    * bound its IO: `rootMap` = (old_root,
    * new_root) for every standing root whose component merged (identity
    * rows included — a root that keeps its id but gains members still has
    * its size rewritten), and `touchedRows` = the full updated label rows
    * of exactly the touched components (relabeled standing members + new
    * docs, with refreshed sizes). Every changed or moved row's OLD
    * location is keyed by a rootMap.old_root and its NEW location by a
    * touchedRows.cluster_id — the two frames therefore name every
    * partition a bucketed-by-cluster_id table must rewrite. Both are
    * batch-shaped (O(touched components), never O(standing)). */
  private[llm] def duplicateClustersIncrementalParts(
      standing: DataFrame,
      newPairs: DataFrame,
      maxRounds: Int = 50): (DataFrame, DataFrame, DataFrame) = {
    val e = newPairs
      .select(
        greatest(col("doc_a"), col("doc_b")).as("hi"),
        least(col("doc_a"), col("doc_b")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint(false) // endpoints pass + two contraction joins
    val roots = standing.select(col("doc_id").as("node"), col("cluster_id").as("root"))
    // roots of the batch's endpoints only — batch-shaped, broadcastable
    // from here on (the ONLY join keyed into full standing; its build side
    // is the endpoint list)
    val endpoints = e.select(col("hi").as("node"))
      .union(e.select(col("lo").as("node"))).distinct()
    val touched = roots.join(broadcast(endpoints), Seq("node"))
      .localCheckpoint(false) // consumed by both contraction joins
    // contract endpoints to standing roots; flag which side was standing
    // so contracted-graph nodes split into standing-root vs brand-new-doc
    // without another pass over standing
    val contracted = e
      .join(broadcast(touched.select(col("node").as("hi"), col("root").as("hi_root"))),
        Seq("hi"), "left")
      .join(broadcast(touched.select(col("node").as("lo"), col("root").as("lo_root"))),
        Seq("lo"), "left")
      .select(
        coalesce(col("hi_root"), col("hi")).as("a"),
        coalesce(col("lo_root"), col("lo")).as("b"),
        col("hi_root").isNotNull.as("a_std"),
        col("lo_root").isNotNull.as("b_std"))
      .filter(col("a") =!= col("b")) // intra-cluster edge: nothing merges
      .localCheckpoint(false) // CC input + the node-role census below
    // star rounds over the contracted (touched-only) graph
    val mapping = duplicateClusters(
      contracted.select(col("a").as("doc_a"), col("b").as("doc_b")), maxRounds)
      .select(col("doc_id").as("node"), col("cluster_id").as("new_root"))
      .localCheckpoint(false) // root-map relabel + new-doc split
    // which contracted nodes are standing roots vs new docs
    val newNodes = contracted.filter(!col("a_std")).select(col("a").as("node"))
      .union(contracted.filter(!col("b_std")).select(col("b").as("node")))
      .distinct()
    val newDocLabels = mapping.join(broadcast(newNodes), Seq("node"))
      .select(col("node").as("doc_id"), col("new_root").as("cid"))
    // relabel standing in ONE scan: rows of touched clusters take the new
    // root, the rest pass through with their original size
    val rootMap = mapping.join(broadcast(newNodes), Seq("node"), "left_anti")
      .select(col("node").as("old_root"), col("new_root"))
    val relabeled = standing
      .join(broadcast(rootMap), standing("cluster_id") === rootMap("old_root"), "left")
      .select(col("doc_id"),
        coalesce(col("new_root"), col("cluster_id")).as("cid"),
        col("cluster_size"), col("new_root").isNotNull.as("is_touched"))
    val untouched = relabeled.filter(!col("is_touched"))
      .select(col("doc_id"), col("cid").as("cluster_id"), col("cluster_size"))
    val touchedMembers = relabeled.filter(col("is_touched")).select("doc_id", "cid")
      .union(newDocLabels)
      .localCheckpoint(false) // size census + final join
    val sizes = touchedMembers.groupBy("cid")
      .agg(count(lit(1)).cast("int").as("cluster_size"))
    val touchedRows = touchedMembers.join(broadcast(sizes), Seq("cid"))
      .select(col("doc_id"), col("cid").as("cluster_id"), col("cluster_size"))
    (untouched.unionByName(touchedRows), rootMap, touchedRows)
  }

  /** Per-cluster size cap for [[semDedup]]: clusters above this are split
    * into deterministic hash sub-cells of ~this size and the pairwise
    * check runs within a sub-cell only — candidate pairs per cluster fall
    * from O(s^2) to O(s * cap). The default never triggers on well-spread
    * corpora; a degenerate hot cluster (near-identical corpus) is bounded
    * instead of quadratic. */
  val DefaultMaxClusterSize = 100000

  /** SemDeDup-style semantic dedup: embeddings are clustered by a
    * deterministic trained k-means (seeded sample + Lloyd steps — the same
    * trainer as the IVF ANN path), and the pairwise cosine check runs only
    * WITHIN each cluster; the higher-id member of any within-cluster pair
    * with cosine >= tau is dropped. Data-adaptive clusters concentrate
    * semantic duplicates far better than data-oblivious hyperplane cuts,
    * at the cost of the (cheap, k x dim) training loop — complementary to
    * [[dedupByEmbeddingLsh]]. APPROXIMATE by construction: a near-dup pair
    * split across clusters (or, under the hot-cluster guard, across
    * sub-cells) is missed. With nCentroids=1 and the cap untriggered every
    * vector shares one cluster and this degenerates to the exact
    * [[dedupByEmbedding]] (spec-pinned).
    *
    * `nCentroids = 0` (the default) scales the cluster count with the
    * corpus: k = max(8, ceil(sqrt(n))) — the SemDeDup-paper regime, keeping
    * expected cluster size ~sqrt(n) so within-cluster pair counts grow
    * linearly, not quadratically, with the corpus. The count() behind it
    * doubles as the checkpoint materialization the training loop needs
    * anyway; training still collects only k x dim means (~sqrt(n) * dim —
    * an 80 MB broadcast at n = 1e11, dim = 64).
    *
    * Shape at scale: cluster assignment is per-row against centroid
    * literals; candidate generation is an equi-join on (cluster, sub-cell)
    * — no cross product, and the hot-cluster census ([[semDedupCandidates]])
    * bounds any single join key at ~maxClusterSize rows; the drop set is
    * checkpointed and anti-joined, never driver-collected. */
  def semDedup(
      emb: DataFrame,
      tau: Double,
      nCentroids: Int = 0,
      iterations: Int = 2,
      maxClusterSize: Int = DefaultMaxClusterSize): DataFrame = {
    val e = emb.localCheckpoint(false)
    val centroids = semDedupCentroids(e, nCentroids, iterations)
    val assigned = VectorOps.withRanks(e, centroids)
      .withColumn("bucket", col("__ranks")(0))
      .select(col("vec_id"), col("embedding"), col("bucket"))
    val drop = semDedupCandidates(assigned, maxClusterSize)
      .filter(col("cos") >= tau)
      .select(col("vec_b").as("vec_id")).distinct()
      .localCheckpoint(true)
    emb.join(drop, Seq("vec_id"), "left_anti")
  }

  /** The k-means run behind [[semDedup]], exposed so an incremental ingest
    * can FREEZE a standing run's centroids ([[semDedupIncremental]]):
    * `nCentroids = 0` applies the same auto-k = max(8, ceil(sqrt(n)))
    * regime, and training is deterministic (md5-hash seed pick + Lloyd
    * steps), so re-training on an identical frame reproduces the run.
    * Collects k x dim doubles — control-plane sized. Callers reusing
    * `emb` afterwards should pass a materialized (checkpointed) frame. */
  def semDedupCentroids(
      emb: DataFrame, nCentroids: Int = 0, iterations: Int = 2): Seq[Seq[Double]] = {
    val k =
      if (nCentroids > 0) nCentroids
      else math.max(8, math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    VectorOps.trainCentroids(emb, k, iterations)
  }

  /** [[semDedup]]'s batch-vs-corpus form — the daily-ingest case the
    * round-6 incremental family left open: dedup incoming vectors against
    * a STANDING corpus under SemDeDup semantics WITHOUT re-clustering the
    * corpus. The standing run's centroids arrive FROZEN (train once via
    * [[semDedupCentroids]], persist, reuse every ingest); both sides are
    * assigned per-row against the centroid literals, and candidate pairs
    * are generated ONLY for incoming docs ([[TextOps.incrementalBucketPairs]]
    * with the (cluster, sub-cell) id as the band key) — an incoming doc is
    * dropped when its cosine to ANY standing cell-mate (id order
    * irrelevant: the standing corpus always wins) or to a LOWER-id
    * incoming cell-mate meets tau. Returns surviving incoming rows; the
    * standing frame is never modified; vec_ids must be disjoint.
    *
    * The hot-cluster census runs over the UNION occupancy (standing +
    * incoming), so sub-cell splits are identical to what the batch form
    * would compute on the union — when standing ids precede incoming ids
    * and the centroids come from the union's own deterministic training,
    * this is result-identical to [[semDedup]] over the union restricted
    * to incoming survivors (spec-pinned). Same approximation contract as
    * [[semDedup]]: pairs split across clusters (or sub-cells) are missed.
    *
    * Shape at scale: standing contributes one per-row assignment
    * projection + its half of the (cluster, cell) groupBy — zero
    * standing x standing pair work, so the ingest costs O(batch x
    * cell-mates), not O(corpus). */
  def semDedupIncremental(
      incoming: DataFrame,
      standing: DataFrame,
      centroids: Seq[Seq[Double]],
      tau: Double,
      maxClusterSize: Int = DefaultMaxClusterSize): DataFrame = {
    def assign(df: DataFrame, inc: Long) = {
      val e = df.select(col("vec_id"), col("embedding"))
      VectorOps.withRanks(e, centroids)
        .withColumn("bucket", col("__ranks")(0))
        .select(col("vec_id"), col("bucket"), lit(inc).as("inc"))
    }
    val all = assign(standing, 0L).unionByName(assign(incoming, 1L))
      .localCheckpoint(false)
    // census + sub-cell split: the same hot-cluster discipline as
    // semDedupCandidates, over the union occupancy
    val hot = all.groupBy("bucket").agg(count(lit(1)).as("csize"))
      .filter(col("csize") > maxClusterSize)
    val celled = all.join(broadcast(hot), Seq("bucket"), "left")
      .withColumn("cell",
        when(col("csize").isNull, lit(0L))
          .otherwise(pmod(xxhash64(col("vec_id")),
            ceil(col("csize") / maxClusterSize).cast("long"))))
    val bands = celled.select(
      col("vec_id").as("doc_id"), lit(0).as("band"),
      concat_ws("#", col("bucket"), col("cell")).as("sig"), col("inc"))
    // no silencing cap: the sub-cell split already bounds every band key
    val pairs = TextOps.incrementalBucketPairs(bands, Int.MaxValue)
      .localCheckpoint(false)
    val corpus = standing.select("vec_id", "embedding")
      .unionByName(incoming.select("vec_id", "embedding"))
    val a = corpus.select(col("vec_id").as("doc_a"), col("embedding").as("qe"))
      .withColumn("na", expr(VectorOps.normExpr("qe")))
    val b = corpus.select(col("vec_id").as("doc_b"), col("embedding").as("ne"))
      .withColumn("nb", expr(VectorOps.normExpr("ne")))
    val drop = pairs.join(a, "doc_a").join(b, "doc_b")
      .filter(col("na") * col("nb") =!= 0 &&
        expr(VectorOps.dotExpr("qe", "ne")) / (col("na") * col("nb")) >= tau)
      .select(col("doc_b").as("vec_id")).distinct()
      .localCheckpoint(true)
    incoming.join(drop, Seq("vec_id"), "left_anti")
  }

  /** Within-cluster candidate pairs (vec_a < vec_b, with their cosine),
    * guarded against hot clusters: a census (tiny k-row aggregate,
    * broadcast back) finds clusters above `maxClusterSize`; their members
    * are split into ceil(size/cap) deterministic sub-cells by hashed id
    * and pairs are generated within a (cluster, cell) key only. Every join
    * key is thereby bounded at ~maxClusterSize rows — the same census
    * discipline as [[VectorOps.lshTopK]]'s hot-bucket thinning, but
    * partitioning instead of dropping candidates so every vector can still
    * be deduped against cell-mates. */
  private[llm] def semDedupCandidates(
      assigned: DataFrame,
      maxClusterSize: Int): DataFrame = {
    val hot = assigned.groupBy("bucket").agg(count(lit(1)).as("csize"))
      .filter(col("csize") > maxClusterSize)
    val celled = assigned
      .join(broadcast(hot), Seq("bucket"), "left")
      .withColumn("cell",
        when(col("csize").isNull, lit(0L))
          .otherwise(pmod(xxhash64(col("vec_id")),
            ceil(col("csize") / maxClusterSize).cast("long"))))
      .drop("csize")
    val a = celled
      .select(col("vec_id").as("vec_a"), col("embedding").as("qe"), col("bucket"), col("cell"))
      .withColumn("na", expr(VectorOps.normExpr("qe")))
    val b = celled
      .select(col("vec_id").as("vec_b"), col("embedding").as("ne"), col("bucket"), col("cell"))
      .withColumn("nb", expr(VectorOps.normExpr("ne")))
    a.join(b, Seq("bucket", "cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", // zero-norm guard: -2 never verifies
        when(col("na") * col("nb") === 0, lit(-2.0))
          .otherwise(expr(VectorOps.dotExpr("qe", "ne")) / (col("na") * col("nb"))))
      .select("vec_a", "vec_b", "cos")
  }

  /** [[dedupByEmbeddingLsh]]'s batch-vs-corpus form — the embedding twin
    * of [[dedupNearLshIncremental]]: drop every incoming vector whose
    * cosine to ANY standing vector (id order irrelevant) or to a lower-id
    * incoming vector meets tau, with candidates restricted to shared
    * sign-LSH buckets via the same [[TextOps.incrementalBucketPairs]]
    * generator (bucket id as the band key) — a standing-heavy bucket does
    * zero standing x standing work. Returns surviving incoming rows; the
    * standing frame is never modified; vec_ids must be disjoint. Same
    * approximation contract as [[dedupByEmbeddingLsh]]: cross-bucket
    * pairs are missed, nPlanes=0 degenerates to the exact form. */
  def dedupByEmbeddingLshIncremental(
      incoming: DataFrame,
      standing: DataFrame,
      tau: Double,
      nPlanes: Int = 4,
      dim: Int = 64,
      maxBucketSize: Int = TextOps.DefaultMaxBucketSize): DataFrame =
    dedupByEmbeddingLshIncrementalVsBuckets(
      incoming,
      VectorOps.hyperplaneBuckets(standing, nPlanes, dim)
        .select("vec_id", "bucket"),
      standing.select("vec_id", "embedding"),
      tau, nPlanes, dim, maxBucketSize)

  /** [[dedupByEmbeddingLshIncremental]] against PRECOMPUTED standing
    * bucket rows ((vec_id, bucket) — [[StandingState]]'s persisted
    * `emb_buckets` table) — the ingest-cycle fast path, the embedding
    * twin of [[dedupNearLshIncrementalVsBands]]: the standing corpus'
    * hyperplane projection (a full scan of its float vectors) is never
    * recomputed per ingest; standing EMBEDDINGS are touched only for the
    * batch-shaped cosine verification via `standingVecs` (a bare table
    * scan the candidate join prunes by vec_id). `standingVecs` must be
    * the same vectors the buckets were computed over, and the caller's
    * (nPlanes, dim) must match the bucket regime —
    * [[StandingState.loadEmbBuckets]] enforces that from its meta row. */
  def dedupByEmbeddingLshIncrementalVsBuckets(
      incoming: DataFrame,
      standingBuckets: DataFrame,
      standingVecs: DataFrame,
      tau: Double,
      nPlanes: Int = 4,
      dim: Int = 64,
      maxBucketSize: Int = TextOps.DefaultMaxBucketSize): DataFrame = {
    def toBands(buckets: DataFrame, inc: Long) =
      buckets.select(col("vec_id").as("doc_id"), lit(0).as("band"),
        col("bucket").cast("string").as("sig"), lit(inc).as("inc"))
    // single-consumer join tree: `pairs` feeds exactly one join chain and
    // `drop` exactly one anti-join, so neither needs a barrier — the one
    // non-eager checkpoint on `drop` only keeps the anti-join's build side
    // from re-deriving the full pair subtree under AQE re-planning. It is
    // not lazy: the stages below it run as jobs when it is called (see
    // exactByHash)
    val pairs = TextOps.incrementalBucketPairs(
      toBands(VectorOps.hyperplaneBuckets(incoming, nPlanes, dim), 1L)
        .unionByName(toBands(standingBuckets, 0L)), maxBucketSize)
    val corpus = standingVecs.select("vec_id", "embedding")
      .unionByName(incoming.select("vec_id", "embedding"))
    val a = corpus.select(col("vec_id").as("doc_a"), col("embedding").as("qe"))
      .withColumn("na", expr(VectorOps.normExpr("qe")))
    val b = corpus.select(col("vec_id").as("doc_b"), col("embedding").as("ne"))
      .withColumn("nb", expr(VectorOps.normExpr("ne")))
    val drop = pairs.join(a, "doc_a").join(b, "doc_b")
      .filter(col("na") * col("nb") =!= 0 &&
        expr(VectorOps.dotExpr("qe", "ne")) / (col("na") * col("nb")) >= tau)
      .select(col("doc_b").as("vec_id")).distinct()
      .localCheckpoint(false)
    incoming.join(drop, Seq("vec_id"), "left_anti")
  }

  /** The 100 TB embedding-dedup path: candidate pairs restricted to
    * sign-LSH hyperplane buckets (equi-join on bucket id — no cross
    * product), cosine-verified >= tau, greedy lower-id survivor policy.
    * APPROXIMATE by construction: a near-dup pair split across buckets is
    * missed; recall rises as nPlanes falls (coarser buckets) — the
    * standard recall/cost dial. With nPlanes=0 every vector shares one
    * bucket and this degenerates to the exact path (spec-pinned). */
  def dedupByEmbeddingLsh(
      emb: DataFrame,
      tau: Double,
      nPlanes: Int = 4,
      dim: Int = 64): DataFrame = {
    val b = VectorOps.hyperplaneBuckets(emb, nPlanes, dim)
    // norms projected once per vector BEFORE the bucket join (native
    // kernel), same discipline as the top-k paths
    val a = b.select(col("vec_id").as("vec_a"), col("embedding").as("qe"), col("bucket"))
      .withColumn("na", expr(VectorOps.normExpr("qe")))
    val c = b.select(col("vec_id").as("vec_b"), col("embedding").as("ne"), col("bucket"))
      .withColumn("nb", expr(VectorOps.normExpr("ne")))
    val drop = a.join(c, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(col("na") * col("nb") =!= 0 &&
        expr(VectorOps.dotExpr("qe", "ne")) / (col("na") * col("nb")) >= tau)
      .select(col("vec_b").as("vec_id")).distinct()
      .localCheckpoint(false) // one consumer; not lazy (see exactByHash)
    emb.join(drop, Seq("vec_id"), "left_anti")
  }
}
