package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared text-pipeline building blocks over the `documents` table
  * (doc_id, text, lang, source, n_chars). Deterministic and reproducible in
  * the DuckDB oracle. The per-row kernels (shingling, minhash, repetition
  * counters, simhash) are native codegen'd expressions
  * ([[graft.functions.TextKernels]], registered by GraftExtensions on
  * every [[graft.Sessions]] session). The bit-identical
  * higher-order-function forms (`hof*`, `*Hof`) are kept only as the
  * specs' cross-check references — HOFs evaluate interpreted per element
  * and measured 3-10x slower.
  *
  * Scale notes (100 TB posture): every transform here is per-row (no
  * shuffle) except the group-bys/joins that are explicitly keyed by shingle
  * or band; near-dup discovery goes through MinHash LSH (candidate
  * generation by band equality) to avoid the O(n^2) pairwise comparison,
  * and the LSH path computes signatures PER ROW — the full corpus is never
  * shuffled, only 8-per-doc band keys and the (tiny) candidate pairs.
  */
object TextOps {

  /** Whitespace tokens of `text` as an array column. */
  def tokens(text: Column): Column = split(text, " ")

  /** Text normalization for the FINGERPRINT path (opt-in): Unicode NFC ->
    * lowercase -> every non-letter/digit/whitespace run becomes one space
    * -> whitespace collapse -> trim. Every dedup/decontam signature in
    * this library (shingles, minhash, simhash, chunk hashes) is otherwise
    * case/punctuation/unicode-form sensitive — "Hello, World!" and
    * "hello world" would not even be CANDIDATES. Running fingerprints
    * over the normalized text (keep the RAW text for output — see
    * [[normalized]]) is the standard corpus-dedup practice; the pattern
    * mirrors the reference's own normalize-before-key discipline
    * (block_follower_job.rb:39-43 normalizes op types before keying).
    *
    * Per-row, no shuffle, codegen'd end to end. Cross-engine: DuckDB
    * replays it as `trim(regexp_replace(regexp_replace(lower(
    * nfc_normalize(text)), '[^\p{L}\p{N}\s]+', ' ', 'g'), '\s+', ' ',
    * 'g'))` — q58's oracle pins the equivalence on real data. NFC runs
    * through the `graft_nfc` kernel. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(call_function("graft_nfc", text)), "[^\\p{L}\\p{N}\\s]+", " "),
      "\\s+", " "))

  /** Opt-in pre-fingerprint normalization STAGE: `textCol` is replaced by
    * its [[normalizeText]] form and the original survives as `raw_text`,
    * so every downstream fingerprint op (shingleArrays, lshNearDupPairs,
    * simhash, decontamination) keys on normalized text with zero changes,
    * while emit paths can still surface the raw document. */
  def normalized(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("raw_text", col(textCol))
      .withColumn(textCol, normalizeText(col(textCol)))

  /** Distinct k-shingle array of `text`, first-occurrence order; empty for
    * docs shorter than k tokens (the `graft_shingles` kernel; its HOF
    * reference [[hofShingleCol]] is spec-pinned bit-identical). */
  def shingleCol(k: Int): Column = expr(s"graft_shingles(text, $k)")

  /** SQL for the distinct k-shingle array over `split(text, ' ')`. */
  private def hofShingleSql(k: Int): String = {
    val joined = (0 until k).map(j => s"split(text, ' ')[i + $j]")
      .mkString("concat_ws(' ', ", ", ", ")")
    s"array_distinct(transform(sequence(0, size(split(text, ' ')) - $k), i -> $joined))"
  }

  /** The pure-built-ins formulation of [[shingleCol]] (spec reference). */
  def hofShingleCol(k: Int): Column =
    expr(s"CASE WHEN size(split(text, ' ')) >= $k THEN ${hofShingleSql(k)} ELSE array() END")

  /** |distinct(a) ∩ distinct(b)| as BIGINT — the codegen'd
    * `graft_isect_size` kernel (one hash-set probe pass, no intersection
    * array materialized; bit-identical to `size(array_intersect(a, b))`
    * for null-free string arrays, spec-pinned). The verify joins run this
    * once per candidate pair, which makes it THE per-pair constant at a
    * skewed band bucket. */
  private[llm] def isectSize(a: Column, b: Column): Column =
    call_function("graft_isect_size", a, b)

  /** (doc_id, source, sset, n) — per-doc distinct shingle set and its size,
    * computed per row (no shuffle). Docs shorter than k tokens are dropped. */
  def shingleArrays(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(col("doc_id"), col("source"), shingleCol(k).as("sset"))
      .filter(size(col("sset")) > 0)
      .withColumn("n", size(col("sset")).cast("long"))

  /** (doc_id, source, shingle) rows: one per DISTINCT k-shingle per doc. */
  def shingleRows(docs: DataFrame, k: Int = 3): DataFrame =
    shingleArrays(docs, k)
      .select(col("doc_id"), col("source"), explode(col("sset")).as("shingle"))

  /** Exact pairwise Jaccard over per-doc shingle ARRAYS, restricted to pairs
    * sharing at least one shingle (the equi-join prunes disjoint pairs) and,
    * when `sameSourceOnly`, to pairs within one `source` partition. The
    * per-doc sizes ride along on the exploded rows, so the common-count
    * groupBy finishes the job — no separate count aggregation, no post-group
    * joins. Kept as the equi-join + map-side-countable groupBy: the
    * bucketized collect_list form (as in [[bucketPairs]]) measured 2.6x
    * SLOWER here — shingle buckets are mostly singletons, so the
    * list/explode machinery pays for itself only under LSH banding where
    * buckets mean collisions.
    * Input: [[shingleArrays]] output (cache/checkpoint it — both join sides
    * read it). Output: (doc_a, doc_b, common, na, nb, jaccard), doc_a <
    * doc_b. */
  def jaccardPairs(arrs: DataFrame, sameSourceOnly: Boolean): DataFrame = {
    val a = arrs.select(col("doc_id").as("doc_a"), col("source").as("src_a"),
      col("n").as("na"), explode(col("sset")).as("shingle"))
    val b = arrs.select(col("doc_id").as("doc_b"), col("source").as("src_b"),
      col("n").as("nb"), explode(col("sset")).as("shingle_b"))
    val cond0 = a("shingle") === b("shingle_b") && a("doc_a") < b("doc_b")
    val cond = if (sameSourceOnly) cond0 && a("src_a") === b("src_b") else cond0
    a.join(b, cond)
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"), first(col("na")).as("na"), first(col("nb")).as("nb"))
      .withColumn("jaccard", col("common").cast("double") / (col("na") + col("nb") - col("common")))
  }

  /** The minhash hash family shared by every path (and the DuckDB oracle):
    * h1/h2 = first/second 4 md5 bytes of the shingle as unsigned 32-bit
    * ints, h_k = (h1 + k*h2) mod 4294967311 (prime > 2^32). ONE md5 per
    * shingle, numHashes derived by integer math — vs the md5-per-(shingle,k)
    * scheme this cut 16x of the hashing. As SQL over a `shingle` column: */
  private def h1Expr = "cast(conv(substring(md5(shingle), 1, 8), 16, 10) as bigint)"
  private def h2Expr = "cast(conv(substring(md5(shingle), 9, 8), 16, 10) as bigint)"
  val MinHashPrime: Long = graft.functions.TextKernels.MinHashPrime

  /** MinHash signatures from DISTINCT shingle ROWS: `numHashes` minima of
    * the affine family over one md5 per row. Row-based twin of
    * [[minhashSigDF]] (one groupBy(doc_id) shuffle; use the per-row form
    * when starting from documents). Columns: doc_id, h0..h{numHashes-1}. */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val hashed = sh.select(col("doc_id"),
      expr(h1Expr).as("h1"), expr(h2Expr).as("h2"))
    val aggs = (0 until numHashes).map(k =>
      min(pmod(col("h1") + lit(k.toLong) * col("h2"), lit(MinHashPrime))).as(s"h$k"))
    hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Per-row minhash signatures: (doc_id, sig: array<long>[numHashes]) with
    * NO shuffle — the 100 TB shape (signature computation is embarrassingly
    * parallel; only band keys ever reach an exchange). */
  def minhashSigDF(docs: DataFrame, k: Int, numHashes: Int): DataFrame =
    docs.select(col("doc_id"), minhashSigCol(k, numHashes).as("sig"))
      .filter(col("sig").isNotNull)

  /** The per-row signature as a Column (NULL when < k tokens) — the
    * `graft_minhash` kernel. */
  def minhashSigCol(k: Int, numHashes: Int): Column =
    expr(s"graft_minhash(text, $k, $numHashes)")

  /** Pure-built-ins formulation of the per-row signature (NULL when < k
    * tokens, like the kernel). Spec cross-check only: the inlined
    * shingle+hash subtree re-evaluates per signature index. */
  def hofMinhashSig(k: Int, numHashes: Int): Column = {
    val hsSql =
      s"transform(${hofShingleSql(k)}, shingle -> named_struct('h1', $h1Expr, 'h2', $h2Expr))"
    val sigSql =
      s"""transform(sequence(0, ${numHashes - 1}), kk ->
         |  array_min(transform($hsSql, h -> pmod(h.h1 + kk * h.h2, ${MinHashPrime}L))))""".stripMargin
    expr(s"CASE WHEN size(split(text, ' ')) >= $k THEN $sigSql ELSE NULL END")
  }

  /** Default LSH bucket-size cap: buckets larger than this are dropped from
    * candidate generation. A degenerate popular band key (boilerplate docs,
    * empty-ish shingle sets) otherwise fans out O(bucket^2) pairs — the one
    * skew hazard of banded LSH at 100 TB. Dropping is sound for NEAR-DUP
    * semantics: a band shared by >cap docs carries no discriminating signal,
    * and true near-dup pairs still collide on their other (rarer) bands. */
  val DefaultMaxBucketSize = 10000

  /** Default cap on the distinct-word vocab [[learnBpeMergesCollected]]
    * may pull to the driver (10M words x ~60 bytes ≈ 600 MB worst-case
    * heap — the top of a comfortable driver budget; web-scale tails past
    * it fall back to the distributed trainer). */
  val DefaultBpeLocalCap = 10000000

  /** (band, sig) buckets -> candidate pairs, generated WITHIN each bucket
    * from the sorted doc-id list (doc_a < doc_b by construction) instead of
    * via a melted self-join: one small shuffle on the band key, no join, and
    * the bucket-size skew cap falls out of a plain size() filter. */
  /** Bucket pairs for INCREMENTAL dedup: `bands` carries an `inc` flag
    * (1L = incoming batch, 0L = standing corpus; doc_ids must be disjoint
    * across the two). Pairs are generated ONLY for incoming docs — each
    * incoming doc against every standing bucket-mate (id order does NOT
    * matter: the standing corpus always wins) and against strictly
    * lower-id incoming bucket-mates (the within-batch greedy policy) — so
    * a standing-heavy bucket emits ZERO standing x standing work, the
    * term that dominates when the standing corpus dwarfs the daily batch.
    * Output: (doc_a, doc_b) with doc_b always incoming. */
  def incrementalBucketPairs(bands: DataFrame, maxBucketSize: Int): DataFrame =
    bands.groupBy("band", "sig")
      .agg(collect_list(struct(col("doc_id"), col("inc"))).as("items"))
      .filter(size(col("items")) >= 2 &&
        size(col("items")) <= maxBucketSize &&
        expr("exists(items, x -> x.inc = 1L)"))
      .select(explode(expr(
        """flatten(transform(
          |  filter(items, x -> x.inc = 1L),
          |  x -> transform(filter(items, a -> a.inc = 0L OR a.doc_id < x.doc_id),
          |                 a -> named_struct('doc_a', a.doc_id, 'doc_b', x.doc_id))))""".stripMargin)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()

  /** [[incrementalBucketPairs]] with the sound size bound applied DURING
    * pair emission: band rows carry each doc's distinct-shingle count `n`
    * ([[bandRowsSizedDF]]), and a pair whose sizes cannot reach
    * `jaccard >= tau` (min < tau * max ⟹ J < tau) is never emitted —
    * at a boilerplate-skewed bucket (thousands of docs whose band minhashes
    * come from shared suffix/header shingles) this kills the quadratic
    * pair bulk inside the bucket aggregate, before the distinct() shuffle
    * and the verify joins ever see it. Emits (doc_a, doc_b, na, nb), so
    * the verify join needs no size lookup either. Post-`jaccard >= tau`
    * results are identical to the unsized form (spec-pinned). */
  def incrementalBucketPairsSized(
      bands: DataFrame, maxBucketSize: Int, tau: Double): DataFrame = {
    // a skewed bucket emits its pairs from ONE task: the codegen'd kernel
    // runs the O(bucket^2) emission loop natively (the HOF tree the specs
    // pin it against pays an interpreted lambda dispatch per candidate
    // combination — measured dominant at a 1,129-doc boilerplate bucket)
    val emit = call_function("graft_inc_band_pairs", col("items"), lit(tau))
    bands.groupBy("band", "sig")
      .agg(collect_list(struct(col("doc_id"), col("inc"), col("n"))).as("items"))
      .filter(size(col("items")) >= 2 &&
        size(col("items")) <= maxBucketSize &&
        expr("exists(items, x -> x.inc = 1L)"))
      .select(explode(emit).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.na").as("na"), col("p.nb").as("nb"))
      .distinct()
  }

  /** [[bucketPairs]]' size-aware twin (see [[incrementalBucketPairsSized]]):
    * within-corpus pairs, doc_a < doc_b, size-incompatible pairs never
    * emitted, (na, nb) riding along. */
  def bucketPairsSized(bands: DataFrame, maxBucketSize: Int, tau: Double): DataFrame = {
    // kernel note: see incrementalBucketPairsSized
    val emit = call_function("graft_band_pairs", col("ids"), lit(tau))
    bands.groupBy("band", "sig")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucketSize)
      .select(explode(emit).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.na").as("na"), col("p.nb").as("nb"))
      .distinct()
  }

  def bucketPairs(bands: DataFrame, maxBucketSize: Int): DataFrame =
    bands.groupBy("band", "sig")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucketSize)
      .select(explode(expr(
        """flatten(transform(ids, (a, i) ->
          |  transform(slice(ids, i + 2, size(ids) - i - 1),
          |            b -> named_struct('doc_a', a, 'doc_b', b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()

  /** Per-row LSH band-key rows (doc_id, band, sig) — the signature melt
    * shared by [[lshNearDupPairs]] and the incremental dedup path. Per-row
    * kernel signatures, no corpus shuffle. */
  def bandRowsDF(docs: DataFrame, k: Int, numHashes: Int, bandRows: Int): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must be divisible by bandRows")
    val nBands = numHashes / bandRows
    minhashSigDF(docs, k, numHashes)
      .select(col("doc_id"),
        posexplode(array(bandKeyCols(nBands, bandRows): _*)).as(Seq("band", "sig")))
  }

  /** [[bandRowsDF]] + each doc's distinct-shingle count `n` riding along
    * (one extra per-row kernel pass over the text — per-doc, never
    * per-pair) — the input shape of the size-aware pair emissions. */
  def bandRowsSizedDF(docs: DataFrame, k: Int, numHashes: Int, bandRows: Int): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must be divisible by bandRows")
    val nBands = numHashes / bandRows
    docs
      .select(col("doc_id"),
        minhashSigCol(k, numHashes).as("sig"),
        size(shingleCol(k)).cast("long").as("n"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), col("n"),
        posexplode(array(bandKeyCols(nBands, bandRows): _*)).as(Seq("band", "sig")))
  }

  /** Band-key columns over signature array column `sig`: bandRows
    * consecutive signature values joined with '#' (numbers need a separator
    * — bare concat would alias "1"+"23" with "12"+"3"). */
  private def bandKeyCols(nBands: Int, bandRows: Int): Seq[Column] =
    (0 until nBands).map { b =>
      concat_ws("#", (0 until bandRows).map(r => col("sig")(b * bandRows + r)): _*)
    }

  /** LSH candidate pairs from row-based signatures (h0..hN columns, as
    * produced by [[minhashSignatures]]): band = bandRows consecutive
    * signature values. */
  def lshCandidates(sigs: DataFrame, numHashes: Int, bandRows: Int,
                    maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must be divisible by bandRows")
    val nBands = numHashes / bandRows
    val bandCols = (0 until nBands).map { b =>
      concat_ws("#", (0 until bandRows).map(r => col(s"h${b * bandRows + r}")): _*)
    }
    val melted = sigs.select(
      col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "sig")),
    )
    bucketPairs(melted, maxBucketSize)
  }

  /** Fused MinHash+LSH near-dup pipeline, per-row signatures end to end:
    *
    *   docs -> graft_minhash per row (NO corpus shuffle)
    *        -> posexplode band keys (nBands small rows/doc, 16-byte-ish keys)
    *        -> [[bucketPairs]] (the only full-width shuffle: band keys)
    *        -> exact-Jaccard verify, shingle sets computed per row FOR
    *           CANDIDATE DOCS ONLY (semi-join on the candidate id set).
    *
    * vs the row-based twin ([[minhashSignatures]] + [[lshCandidates]] +
    * [[verifyCandidates]]): identical candidate semantics (pairs sharing
    * >= 1 full band, then exact Jaccard — spec-pinned equal), but the
    * full-corpus groupBy(doc_id) over shingle rows is gone entirely; at
    * 100 TB nothing corpus-sized is ever exchanged.
    * Output: (doc_a, doc_b, common, na, nb, jaccard), doc_a < doc_b. */
  def lshNearDupPairs(docs: DataFrame, k: Int, numHashes: Int, bandRows: Int,
                      maxBucketSize: Int = DefaultMaxBucketSize,
                      tauPrefilter: Option[Double] = None): DataFrame = {
    // pairs and the candidate doc sets are consumed by multiple joins within
    // this one returned plan: non-eager localCheckpoint, not cache() —
    // storage is freed when the plan becomes unreachable (GC +
    // ContextCleaner), a plain cache() with no caller-side handle would leak
    // for the session lifetime. Not lazy: the stages below each checkpoint
    // run as jobs when it is called (see [[graft.llm.Dedup.exactByHash]]).
    //
    // With `tauPrefilter` (the [[graft.llm.Dedup.dedupNearLsh]] path), the
    // sound size bound J >= tau ⟹ min(na,nb) >= tau * max(na,nb) is
    // applied DURING bucket pair emission ([[bucketPairsSized]]): a skewed
    // band bucket (shared boilerplate shingles minhashing identically for
    // thousands of docs) emits a pair frame quadratic in the bucket, and
    // most of it dies on the cheap size check before the distinct()
    // shuffle or any shingle array copy. Pairs that cannot reach
    // `jaccard >= tau` are the only ones missing from the output, so
    // post-threshold results are identical (spec-pinned).
    val pairs = (tauPrefilter match {
      case Some(tau) =>
        bucketPairsSized(bandRowsSizedDF(docs, k, numHashes, bandRows), maxBucketSize, tau)
      case None => bucketPairs(bandRowsDF(docs, k, numHashes, bandRows), maxBucketSize)
    }).localCheckpoint(false)
    val candIds = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val sets = docs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingleCol(k).as("sset"))
      .withColumn("n", size(col("sset")).cast("long"))
      .localCheckpoint(false)
    // sized pairs already carry (na, nb); the unsized path looks them up
    // from the candidate sets frame as before
    val withSizes =
      if (tauPrefilter.isDefined) pairs
      else pairs
        .join(sets.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
    // thresholded path: the 64-bit-hash pre-screen culls the pairs whose
    // hash-set Jaccard cannot reach tau BEFORE the string sets ride any
    // join — same missing-pairs contract as the size bound above
    // (sub-tau pairs only), and the surviving pairs' jaccard is still the
    // exact string intersection below
    val screened = tauPrefilter match {
      case Some(tau) => hashScreenPairs(withSizes, sets.select("doc_id", "sset"), tau)
      case None => withSizes
    }
    screened
      .join(sets.select(col("doc_id").as("doc_a"), col("sset").as("sa")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sset").as("sb")), Seq("doc_b"))
      .withColumn("common", isectSize(col("sa"), col("sb")))
      .withColumn("jaccard", col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .select("doc_a", "doc_b", "common", "na", "nb", "jaccard")
  }

  /** 64-bit-HASH verify pre-screen for tau-thresholded pair verification:
    * given candidate pairs carrying true distinct-shingle counts (doc_a,
    * doc_b, na, nb, ...) and the candidate shingle sets (doc_id, sset),
    * keep only pairs whose HASH-set Jaccard reaches tau. The screen
    * intersects xxhash64 projections of the sets — primitive long probes
    * (the [[isectSize]] kernel's long form), ~4x narrower rows than
    * string sets through the joins — and the exact STRING verification
    * still runs downstream on the survivors, so surviving pairs' jaccard
    * values stay byte-exact.
    *
    * SOUND under the same hash contract as [[graft.llm.Dedup.exactByHash]]'s
    * md5: hash unification can only INFLATE the intersection count
    * (distinct strings mapping to one hash), so J_hash >= J_true and a
    * screened-out pair truly cannot reach tau — except when two elements
    * OF THE INTERSECTION ITSELF collide (deflation), a ~2^-64-per-pair
    * event, the standard content-hashing tradeoff this library documents
    * everywhere it hashes. When no collision occurs (every real corpus),
    * ch == common exactly, so the screen's threshold decision is
    * bit-identical to the exact verify's and no boundary slack is needed. */
  private[llm] def hashScreenPairs(
      pairs: DataFrame, sets: DataFrame, tau: Double): DataFrame = {
    val hsets = sets
      .select(col("doc_id"),
        transform(col("sset"), s => xxhash64(s)).as("hs"))
      .localCheckpoint(false) // not lazy: the stages below run here (see Dedup.exactByHash)
    pairs
      .join(hsets.select(col("doc_id").as("doc_a"), col("hs").as("ha")), Seq("doc_a"))
      .join(hsets.select(col("doc_id").as("doc_b"), col("hs").as("hb")), Seq("doc_b"))
      .withColumn("__ch", isectSize(col("ha"), col("hb")))
      .filter(col("__ch").cast("double") / (col("na") + col("nb") - col("__ch")) >= tau)
      .select(pairs.columns.toIndexedSeq.map(col): _*)
  }

  /** Exact Jaccard evaluated only on candidate pairs (the LSH verify step).
    * Per-doc shingle sets are aggregated once, joined to the (small)
    * candidate-pair frame, and intersected as arrays — two hash joins on
    * doc_id instead of a shingle-level 3-way join. Counts are identical to
    * the join formulation (shingle rows are distinct per doc). */
  def verifyCandidates(cand: DataFrame, sh: DataFrame): DataFrame = {
    val docSets = sh.groupBy("doc_id")
      .agg(collect_set(col("shingle")).as("sset"), count(lit(1)).as("n"))
    cand
      .join(docSets.select(col("doc_id").as("doc_a"), col("sset").as("sa"), col("n").as("na")), "doc_a")
      .join(docSets.select(col("doc_id").as("doc_b"), col("sset").as("sb"), col("n").as("nb")), "doc_b")
      .withColumn("common", isectSize(col("sa"), col("sb")))
      .withColumn("jaccard", col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .select("doc_a", "doc_b", "common", "na", "nb", "jaccard")
  }

  /** (doc_id, simhash) — 60-bit SimHash of the token multiset as a bigint,
    * via the native codegen'd expression [[graft.functions.SimHash64]]
    * (registered as `graft_simhash64` by GraftExtensions). Per-row, no
    * shuffle, one md5 per token. [[simhashHofDF]] keeps the pure
    * built-in-functions formulation — bit-identical, the spec's
    * cross-check. */
  def simhashDF(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr("graft_simhash64(text)").as("simhash"))

  /** Higher-order-function formulation of the same simhash scheme: token
    * hash = first 15 hex chars of md5; bit votes; MSB-first fold. */
  def simhashHofDF(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        expr("transform(split(text, ' '), tk -> cast(conv(substring(md5(tk), 1, 15), 16, 10) as bigint))").as("hs"))
      .select(col("doc_id"),
        expr(
          """aggregate(
            |  transform(sequence(0, 59), j ->
            |    CASE WHEN aggregate(hs, 0L, (acc, h) -> acc + (shiftright(h, j) & 1L) * 2L - 1L) > 0L
            |         THEN 1L ELSE 0L END),
            |  0L, (acc, b) -> acc * 2L + b)""".stripMargin).as("simhash"))

  /** SimHash near-dup pairs — the hamming-distance twin of the MinHash
    * path: pairs whose 60-bit simhashes differ in at most `maxHamming`
    * bits. Candidate generation banded like LSH: `nBands` equal bit slices
    * as equi-join keys. By pigeonhole the banding is LOSSLESS whenever
    * maxHamming < nBands (a pair within hamming h differs in at most h
    * bands, so at least one band matches exactly) — this is exact near-dup
    * detection with LSH's scale shape: per-row signatures, a small
    * band-key shuffle, and a verify join on candidates only.
    * Output: (doc_a, doc_b, hamming), doc_a < doc_b. */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 3, nBands: Int = 4,
                          maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(maxHamming < nBands, "banding is lossless only when maxHamming < nBands")
    require(60 % nBands == 0, "nBands must divide the 60-bit signature")
    val bandBits = 60 / nBands
    val mask = (1L << bandBits) - 1
    // tiny frame (doc_id, simhash), consumed by the bands and both verify
    // joins — checkpoint once, same lifetime rationale as lshNearDupPairs
    val sh = simhashDF(docs).localCheckpoint(false)
    val bandCols = (0 until nBands).map(b =>
      shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask)))
    val bands = sh.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "sig")))
    bucketPairs(bands, maxBucketSize)
      .join(sh.select(col("doc_id").as("doc_a"), col("simhash").as("ha")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("simhash").as("hb")), Seq("doc_b"))
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Per-doc n-gram repetition statistics — the Gopher/C4-style repetition
    * quality filters: `dup_frac` = fraction of n-gram OCCURRENCES that are
    * repeats of an earlier occurrence (1 - distinct/total), `top_frac` =
    * fraction taken by the single most frequent n-gram. Per row, no
    * shuffle; the native kernel is one hash-map pass per row (the HOF
    * formulation's O(grams * distinct) filter-per-distinct-gram measured
    * ~10x slower and is kept as the spec cross-check). Docs shorter than n
    * tokens report 0 repetition. */
  def repetitionStats(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"), expr(s"graft_repstats(text, $n)").as("rs"))
      .select(
        col("doc_id"),
        col("rs.n_grams").as("n_grams"),
        when(col("rs.n_grams") > 0,
          lit(1.0) - col("rs.n_distinct").cast("double") / col("rs.n_grams"))
          .otherwise(lit(0.0)).as("dup_frac"),
        when(col("rs.n_grams") > 0,
          col("rs.top_count").cast("double") / col("rs.n_grams"))
          .otherwise(lit(0.0)).as("top_frac"),
      )

  /** Pure-built-ins formulation of [[repetitionStats]] (bit-identical;
    * spec reference). */
  def repetitionStatsHof(docs: DataFrame, n: Int): DataFrame = {
    val joined = (0 until n).map(j => s"t[i + $j]").mkString("concat_ws(' ', ", ", ", ")")
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      // the CASE gates the array accesses: ANSI subscripts throw on
      // out-of-bounds, so short docs must not build the transform at all
      .withColumn("grams", expr(
        s"CASE WHEN size(t) >= $n THEN transform(sequence(0, size(t) - $n), i -> $joined) ELSE array() END"))
      .withColumn("n_grams", size(col("grams")))
      .select(
        col("doc_id"),
        col("n_grams"),
        when(col("n_grams") > 0,
          lit(1.0) - size(array_distinct(col("grams"))).cast("double") / col("n_grams"))
          .otherwise(lit(0.0)).as("dup_frac"),
        when(col("n_grams") > 0,
          expr("array_max(transform(array_distinct(grams), g -> size(filter(grams, x -> x = g))))")
            .cast("double") / col("n_grams"))
          .otherwise(lit(0.0)).as("top_frac"),
      )
  }

  /** Eval-set decontamination: drop every training doc that shares at least
    * one n-gram with the eval corpus — the standard train/test overlap
    * guard. Candidate detection is an equi-join on the shingle (the same
    * scale shape as LSH candidate generation: no pairwise comparison), and
    * the contaminated-id set is applied with one anti-join. */
  def decontaminate(train: DataFrame, eval_ : DataFrame, n: Int): DataFrame = {
    val contaminated = contaminatedIds(train, eval_, n)
    train.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Distinct train doc_ids sharing >= 1 n-gram with the eval corpus.
    * The eval frame needs only (doc_id, text) — eval sets rarely carry a
    * `source`, so one is synthesized for the shingle expansion if absent. */
  def contaminatedIds(train: DataFrame, eval_ : DataFrame, n: Int): DataFrame = {
    val evalSrc =
      if (eval_.columns.contains("source")) eval_
      else eval_.withColumn("source", lit(""))
    val trainSh = shingleRows(train, n).select("doc_id", "shingle")
    val evalSh = shingleRows(evalSrc, n).select(col("shingle").as("e_shingle")).distinct()
    trainSh
      .join(evalSh, trainSh("shingle") === evalSh("e_shingle"), "left_semi")
      .select("doc_id").distinct()
  }

  /** Bloom-pre-filtered variant of [[contaminatedIds]] — the semi-join
    * reduction pattern for 100 TB: a compact Bloom filter over the eval
    * corpus' distinct shingles is built once (`bloom_filter_agg`, bounded
    * bytes regardless of corpus size) and applied to the train side's
    * shingle stream BEFORE the exact semi-join, so the shuffle carries
    * only probable matches instead of every train shingle. False
    * positives cost nothing but pass-through rows — the exact semi-join
    * behind the filter removes them, so the RESULT is identical to the
    * unfiltered form (spec-pinned). `expectedItems`/`numBits` size the
    * filter (defaults: 1M items / 8M bits ~ 1 MB, ~2% FPP). */
  def contaminatedIdsBloom(
      train: DataFrame,
      eval_ : DataFrame,
      n: Int,
      expectedItems: Long = 1000000L,
      numBits: Long = 8000000L): DataFrame = {
    val evalSh = shingleRows(eval_, n).select(col("shingle").as("e_shingle")).distinct()
      .localCheckpoint(false) // feeds the filter build AND the exact join
    // EAGER driver-side build: might_contain requires a CONSTANT filter
    // (Spark's own runtime bloom-join rule feeds it a scalar subquery).
    // This collects the bounded sketch (numBits/8 bytes), never data rows.
    val bf = evalSh
      .agg(expr(s"graft_bloom_agg(xxhash64(e_shingle), ${expectedItems}L, ${numBits}L)").as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val trainSh = shingleRows(train, n).select("doc_id", "shingle")
      .filter(call_function("graft_bloom_contains", lit(bf), xxhash64(col("shingle"))))
    trainSh
      .join(evalSh, trainSh("shingle") === evalSh("e_shingle"), "left_semi")
      .select("doc_id").distinct()
  }

  /** FUZZY cross-corpus decontamination: train doc_ids that are a verified
    * near-dup (Jaccard >= tau) of ANY doc in `other` — the
    * whole-document-similarity guard that catches paraphrased/trimmed eval
    * leakage a single-shingle overlap test ([[contaminatedIds]]) either
    * over-fires on (one common idiom) or, at large n, misses. Same scale
    * shape as [[lshNearDupPairs]]: per-row signatures on BOTH corpora,
    * band-key equi-join across them (never within one), shingle sets
    * computed for candidate docs only. Approximate with LSH's usual
    * recall; band collisions tune it. Output: distinct train doc_id. */
  def crossNearDupIds(
      train: DataFrame,
      other: DataFrame,
      tau: Double,
      k: Int = 3,
      numHashes: Int = 16,
      bandRows: Int = 2,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must be divisible by bandRows")
    val nBands = numHashes / bandRows
    def bandsOf(df: DataFrame): DataFrame =
      minhashSigDF(df, k, numHashes)
        .select(col("doc_id"), posexplode(array(bandKeyCols(nBands, bandRows): _*)).as(Seq("band", "sig")))
    // cross-corpus candidates: equi-join on (band, key) BETWEEN the frames
    // (bucket cap applied to the other side — a boilerplate-heavy eval
    // bucket otherwise fans out against every matching train doc)
    val otherBands = bandsOf(other)
    val otherCapped =
      if (maxBucketSize == Int.MaxValue) otherBands
      else {
        val hot = otherBands.groupBy("band", "sig").agg(count(lit(1)).as("bcnt"))
          .filter(col("bcnt") > maxBucketSize)
        otherBands.join(broadcast(hot), Seq("band", "sig"), "left_anti")
      }
    val cand = bandsOf(train)
      .join(otherCapped.select(col("band"), col("sig"), col("doc_id").as("o_id")), Seq("band", "sig"))
      .select(col("doc_id"), col("o_id")).distinct()
      .localCheckpoint(false)
    val trainSets = train
      .join(cand.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingleCol(k).as("ts"))
      .withColumn("tn", size(col("ts")).cast("long"))
    val otherSets = other
      .join(cand.select(col("o_id").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("o_id"), shingleCol(k).as("os"))
      .withColumn("on", size(col("os")).cast("long"))
    // sound size prefilter (J >= tau ⟹ min >= tau * max, slackened by the
    // shared SizeBoundSlack so boundary pairs always defer to the exact
    // verify below) ahead of the intersect kernel — same results, no
    // intersect for mismatched sizes
    cand
      .join(trainSets, Seq("doc_id"))
      .join(otherSets, Seq("o_id"))
      .filter(least(col("tn"), col("on")) >= lit(tau) * greatest(col("tn"), col("on"))
        * lit(graft.functions.BandPairKernels.SizeBoundSlack))
      .withColumn("common", isectSize(col("ts"), col("os")))
      .filter(col("common").cast("double")
        / (col("tn") + col("on") - col("common")) >= tau)
      .select("doc_id").distinct()
  }

  /** Language-ID scoring: marker-token hit counts per language, argmax with a
    * fixed priority-order tie-break (and 'und' when no marker hits at all).
    * The marker lists are tiny common-stopword sets — a standard n-gram/
    * stopword heuristic; deterministic and oracle-expressible. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "los", "y"),
    "de" -> Seq("der", "die", "das", "und", "ein"),
    "fr" -> Seq("le", "les", "et", "des", "un"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "wo3"),
  )

  /** Count of whitespace tokens of `text` in `words` — the native
    * hash-set kernel `graft_token_count_in`. */
  def tokenCountInCol(words: Seq[String]): Column = {
    val inList = words.map(w => s"'$w'").mkString(", ")
    expr(s"graft_token_count_in(text, array($inList))")
  }

  /** Passage-level duplication stats (the sub-document dedup pass of web
    * pipelines — boilerplate and syndicated spans recur across documents
    * that are NOT whole-doc near-dups). The corpus has no paragraph
    * delimiters, so passages are consecutive `w`-token chunks (the trailing
    * partial chunk included); a passage instance counts as duplicated when
    * its md5 occurs in >= 2 DISTINCT documents.
    *
    * Shape at scale: chunk hashing is per-row (one md5 per w tokens — far
    * cheaper than shingling); the document-frequency groupBy is keyed by
    * the 32-char hash, the join back reuses that partitioning, and the
    * per-doc rollup is the only other shuffle. No doc text ever moves —
    * only hashes.
    *
    * Output: (doc_id, n_passages, n_dup_passages, dup_frac). */
  /** Chunk-hash array as a Column — the `graft_chunk_hashes` kernel. */
  def chunkHashCol(w: Int): Column = expr(s"graft_chunk_hashes(text, $w)")

  /** Pure-built-ins formulation of [[chunkHashCol]] (spec reference). */
  def hofChunkHashes(w: Int): Column = expr(
    s"""transform(sequence(0, cast(ceil(size(split(text, ' ')) / ${w}.0D) as int) - 1),
       |  i -> md5(concat_ws(' ', slice(split(text, ' '), i * $w + 1, $w))))""".stripMargin)

  /** BPE merge-table learning — tokenizer TRAINING, the third leg next to
    * token counting (q25) and vocabulary construction (q38). Classic
    * word-level BPE (Sennrich et al. 2016, learn_bpe): words split to
    * character symbols; each round counts adjacent symbol pairs weighted
    * by word frequency (zip-overlap counting, the reference algorithm),
    * merges the most frequent pair — ties broken by (left, right)
    * ascending for determinism — and rewrites the vocabulary greedily
    * left-to-right (non-overlapping: a symbol merged this round does not
    * re-merge within the round). Stops early when no adjacent pair
    * remains.
    *
    * Shape at scale: ONE corpus pass builds the (word, freq) vocab; every
    * round after that runs on the VOCAB table — corpus-size-independent —
    * as one map-side-combinable pair-count aggregate, a 1-ROW driver
    * fetch (the argmax pair), and a per-row rewrite against literals.
    * The rewrite fold is pure built-ins (aggregate over the symbol
    * array), codegen-friendly, no UDF.
    *
    * Returns the ordered merge table (round, left, right, pair_freq) —
    * the artifact a tokenizer ships.
    *
    * Regime note: each round is a Spark job, so this form suits demo /
    * audit merge counts (tens to hundreds). A production 32k-merge train
    * should COLLECT the (word, freq) vocab — vocab-bound, a few MB — and
    * run the merge loop driver-side on it; the corpus-sized work (the one
    * vocab-building pass) is identical either way, and the per-round
    * argmax/rewrite over an in-memory vocab is microseconds, not a job. */
  def learnBpeMerges(docs: DataFrame, numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def q(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")
    var vocab = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      // explicit substring indexing: split(word, '') keeps a trailing ''
      // under Spark's limit = -1 semantics
      .select(expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"), col("freq"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    var round = 0
    while (round < numMerges && !exhausted) {
      val best = vocab
        // single-symbol words carry no pairs (and sequence(1, 0) DESCENDS
        // in Spark — it must never be built)
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] as l, syms[i] as r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("pf"))
        .orderBy(col("pf").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, pf) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((round, l, r, pf))
        // greedy left-to-right rewrite: fold state = (emitted, pending);
        // a merge emits l||r and clears pending so it cannot chain
        vocab = vocab.select(expr(
          s"""aggregate(syms,
             |  named_struct('acc', cast(array() as array<string>), 'prev', cast(null as string)),
             |  (st, s) -> if(st.prev = '${q(l)}' and s = '${q(r)}',
             |    named_struct('acc', concat(st.acc, array('${q(l + r)}')),
             |                 'prev', cast(null as string)),
             |    named_struct('acc',
             |      if(st.prev is null, st.acc, concat(st.acc, array(st.prev))),
             |      'prev', s)),
             |  st -> if(st.prev is null, st.acc, concat(st.acc, array(st.prev))))"""
            .stripMargin).as("syms"), col("freq"))
          .localCheckpoint(true)
        round += 1
      }
    }
    merges.toSeq.toDF("round", "left", "right", "pair_freq")
  }

  /** Code-point split of `w` — matches `substring(word, i, 1)` over
    * `length(word)` (both count code points, not UTF-16 units). */
  private def splitChars(w: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toArray
  }

  /** Unsigned UTF-8 byte comparison — the collation Spark's string
    * ORDER BY uses (UTF8String.compareTo), so the driver-side argmax
    * tie-break is bit-identical to the distributed `orderBy(l, r)`. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Greedy left-to-right non-overlapping (l, r) merge — the driver-side
    * twin of the `aggregate()` fold in [[learnBpeMerges]]: a merged
    * symbol never re-merges within the pass. */
  private def rewriteWord(
      syms: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** PRODUCTION-regime BPE training — the same algorithm as
    * [[learnBpeMerges]] (zip-overlap pair counts weighted by word freq,
    * (freq DESC, left, right) argmax, greedy non-overlapping rewrite)
    * with the merge loop run DRIVER-SIDE over the collected (word, freq)
    * vocab. The corpus-sized work — the one vocab-building pass — is the
    * identical Spark aggregate; everything after it is in-memory, so a
    * 32k-merge train is ONE Spark job plus microsecond rounds instead of
    * 32k jobs.
    *
    * Pair counts update incrementally: a pair -> word-ids inverted index
    * limits each round's rescan to the words that actually contain the
    * merged pair (the standard fast-BPE bookkeeping); stale index
    * entries are benign because the subtract/rewrite/re-add per word is
    * an exact identity for a word the pair has already left.
    *
    * Returns the identical (round, left, right, pair_freq) frame —
    * spec-pinned equal to [[learnBpeMerges]] on randomized corpora and
    * hash-matched against the same DuckDB training replay (q67 runs this
    * form against q64's oracle).
    *
    * The collect is CAP-GATED (`spark.graft.bpe.localCap`, default 10M
    * distinct words, 0 disables — the [[Dedup.duplicateClusters]] /
    * [[LocalLloyd]] bounded-control-plane-fetch discipline): "vocab-bound,
    * a few MB" holds for clean prose, but distinct whitespace tokens over
    * a 100 TB web corpus (URLs, typos, code identifiers) run to 10^8+ and
    * an unconditional collect would blow the driver. The `limit(cap+1)`
    * probe fetches at most cap+1 rows; past the cap the trainer FALLS
    * BACK LOUDLY to the distributed [[learnBpeMerges]] (identical
    * algorithm, per-round Spark jobs) instead of OOMing — under the cap,
    * capped == uncapped bit-for-bit because the fetch is the whole
    * vocab. */
  def learnBpeMergesCollected(docs: DataFrame, numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cap = spark.conf.getOption("spark.graft.bpe.localCap")
      .map(_.toInt).getOrElse(DefaultBpeLocalCap)
    val vocabDf = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val fetched: Array[(String, Long)] =
      (if (cap > 0) vocabDf.limit(cap + 1) else vocabDf)
        .as[(String, Long)].collect()
    if (cap > 0 && fetched.length > cap) {
      System.err.println(
        s"[graft] learnBpeMergesCollected: distinct vocab exceeds " +
          s"spark.graft.bpe.localCap=$cap — falling back to the " +
          "distributed learnBpeMerges (same algorithm, one Spark job per " +
          "merge round). Raise the cap if the driver heap allows.")
      return learnBpeMerges(docs, numMerges)
    }
    val vocab: Array[(Array[String], Long)] =
      fetched.map { case (w, f) => (splitChars(w), f) }
    val words = vocab.map(_._1)
    val freqs = vocab.map(_._2)
    val pairCounts =
      scala.collection.mutable.HashMap.empty[(String, String), Long]
    val pairWords =
      scala.collection.mutable.HashMap.empty[(String, String),
        scala.collection.mutable.Set[Int]]
    def tally(i: Int, sign: Long, index: Boolean): Unit = {
      val s = words(i); val f = freqs(i) * sign
      var j = 0
      while (j + 1 < s.length) {
        val p = (s(j), s(j + 1))
        val c = pairCounts.getOrElse(p, 0L) + f
        if (c == 0L) pairCounts.remove(p) else pairCounts(p) = c
        if (index)
          pairWords.getOrElseUpdate(
            p, scala.collection.mutable.Set.empty) += i
        j += 1
      }
    }
    words.indices.foreach(tally(_, 1L, index = true))
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var round = 0
    while (round < numMerges && pairCounts.nonEmpty) {
      var bl: String = null; var br: String = null; var bf = Long.MinValue
      pairCounts.foreach { case ((l, r), f) =>
        if (f > bf ||
            (f == bf && (utf8Lt(l, bl) || (l == bl && utf8Lt(r, br))))) {
          bl = l; br = r; bf = f
        }
      }
      merges += ((round, bl, br, bf))
      val affected = pairWords.remove((bl, br))
        .getOrElse(scala.collection.mutable.Set.empty[Int])
      affected.foreach { i =>
        tally(i, -1L, index = false)
        words(i) = rewriteWord(words(i), bl, br)
        tally(i, 1L, index = true)
      }
      round += 1
    }
    merges.toSeq.toDF("round", "left", "right", "pair_freq")
  }

  /** Apply a learned BPE merge table ([[learnBpeMerges]] output, ordered
    * by round) to the corpus: every word is char-split and each merge is
    * replayed in order with the same greedy left-to-right fold the
    * trainer used. Returns docs plus `bpe_tokens` (the per-doc token
    * array, words flattened in order) and `n_bpe_tokens`. Per-row, no
    * shuffle: the merge table rides along as ONE typedlit array literal
    * (the PERF.md large-literal discipline, same as the PQ codebook
    * tensor at [[graft.llm.Pq.codesCol]]) — the expr() string only names
    * it, so PARSE cost is constant in the merge count and a full
    * 32k-merge production table costs one Literal, not a 32k-element
    * SQL string. The fold nests HOF lambdas, no UDF. */
  def applyBpe(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val mergesLit = typedlit(merges).cast("array<struct<l:string,r:string>>")
    val tokensExpr =
      s"""flatten(transform(filter(split(text, ' '), w -> length(w) > 0), w ->
         |  aggregate(
         |    __graft_bpe_merges,
         |    transform(sequence(1, length(w)), i -> substring(w, i, 1)),
         |    (cur, m) ->
         |      aggregate(cur,
         |        named_struct('acc', cast(array() as array<string>),
         |                     'prev', cast(null as string)),
         |        (st, s) -> if(st.prev = m.l and s = m.r,
         |          named_struct('acc', concat(st.acc, array(concat(m.l, m.r))),
         |                       'prev', cast(null as string)),
         |          named_struct('acc',
         |            if(st.prev is null, st.acc, concat(st.acc, array(st.prev))),
         |            'prev', s)),
         |        st -> if(st.prev is null, st.acc, concat(st.acc, array(st.prev)))))))"""
        .stripMargin
    docs
      .withColumn("__graft_bpe_merges", mergesLit)
      .withColumn("bpe_tokens", expr(tokensExpr))
      .withColumn("n_bpe_tokens", size(col("bpe_tokens")))
      .drop("__graft_bpe_merges")
  }

  /** [[applyBpe]] keeping WORD BOUNDARIES: `bpe_word_tokens` is one token
    * array PER WORD (`array<array<string>>`) instead of the flattened
    * stream — the shape [[bpeDecode]] needs, because the flattened form
    * cannot reconstruct where one word's tokens end and the next begin.
    * Same greedy in-order merge fold, same one-literal merge table. */
  def applyBpeByWord(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val mergesLit = typedlit(merges).cast("array<struct<l:string,r:string>>")
    val tokensExpr =
      s"""transform(filter(split(text, ' '), w -> length(w) > 0), w ->
         |  aggregate(
         |    __graft_bpe_merges,
         |    transform(sequence(1, length(w)), i -> substring(w, i, 1)),
         |    (cur, m) ->
         |      aggregate(cur,
         |        named_struct('acc', cast(array() as array<string>),
         |                     'prev', cast(null as string)),
         |        (st, s) -> if(st.prev = m.l and s = m.r,
         |          named_struct('acc', concat(st.acc, array(concat(m.l, m.r))),
         |                       'prev', cast(null as string)),
         |          named_struct('acc',
         |            if(st.prev is null, st.acc, concat(st.acc, array(st.prev))),
         |            'prev', s)),
         |        st -> if(st.prev is null, st.acc, concat(st.acc, array(st.prev))))))"""
        .stripMargin
    docs
      .withColumn("__graft_bpe_merges", mergesLit)
      .withColumn("bpe_word_tokens", expr(tokensExpr))
      .withColumn("n_bpe_tokens",
        expr("aggregate(transform(bpe_word_tokens, ts -> size(ts)), 0, (a, v) -> a + v)"))
      .drop("__graft_bpe_merges")
  }

  /** The tokenizer's DECODE half: per-word token arrays back to text.
    * BPE tokens are contiguous substrings of their word, so decode is
    * concatenation within each word and a single space between words —
    * no merge table needed (the table only matters for choosing the
    * SPLIT, never the content). `bpeDecode(applyBpeByWord(docs, m))`
    * reproduces the whitespace-normalized text EXACTLY for every merge
    * table m — the roundtrip-identity contract q82 hash-gates (an encode
    * that dropped or duplicated a character anywhere would break it). */
  def bpeDecode(docs: DataFrame, tokensCol: String = "bpe_word_tokens"): DataFrame =
    docs.withColumn("decoded",
      expr(s"array_join(transform($tokensCol, ts -> array_join(ts, '')), ' ')"))

  /** OVERLAPPING context-window chunker — the RAG/pretraining staple the
    * positional chunkers here ([[passageStats]]'s fixed windows,
    * [[graft.llm.Packing]]'s budget packer) don't cover: slide a
    * `width`-token window by `stride` tokens (stride < width = overlap,
    * the standard recipe so no boundary context is lost), one output row
    * per window with its position and exact token count. Every doc
    * yields at least one chunk (short docs: one partial window);
    * windows never start past the text (`pos * stride < n_tokens`
    * except the mandatory first), and the LAST window is the first one
    * that reaches the end of the doc — trailing fully-redundant windows
    * are not emitted.
    *
    * Per-row explode, no shuffle: the window arithmetic is one
    * `sequence` + `slice` chain inside whole-stage codegen; at 100 TB
    * the operator is scan-shaped (chunk rows partition wherever their
    * doc partitioned, and the downstream embed/index stage reads them
    * without a repartition). */
  def chunkByTokens(docs: DataFrame, width: Int, stride: Int): DataFrame = {
    require(width > 0, s"chunk width $width must be positive")
    require(stride > 0 && stride <= width,
      s"stride $stride must be in [1, width=$width] (stride > width drops tokens)")
    val chunks = expr(
      s"""transform(
         |  sequence(0, int(greatest(0D, ceil((size(filter(split(text, ' '),
         |    w -> length(w) > 0)) - $width) / ${stride}.0D)))),
         |  p -> slice(filter(split(text, ' '), w -> length(w) > 0),
         |             p * $stride + 1, $width))""".stripMargin)
    docs
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_pos", "toks")))
      .select(
        col("doc_id"), col("chunk_pos"),
        concat_ws(" ", col("toks")).as("chunk_text"),
        size(col("toks")).as("n_tokens"))
  }

  /** EXACT-SUBSTRING (span) DEDUP — the SLIDING-window form of
    * [[removeDuplicatedPassages]], catching UNALIGNED cross-document
    * duplication: every `w`-token window at every start position (stride
    * 1) whose token string occurs in >= `minDocs` DISTINCT documents
    * marks its span, all tokens covered by ANY marked span are removed
    * from every document, and the survivors re-join in order. The
    * positional chunker misses a boilerplate paragraph that starts
    * mid-chunk (its fixed windows straddle the paragraph and each mixes
    * in doc-specific context); the sliding window finds the duplicated
    * run wherever it sits — the "Deduplicating Training Data" exact
    *-substring recipe re-expressed relationally. Duplication WITHIN one
    * doc only is kept (same contract as the positional form). Every
    * input doc returns a row; a fully-duplicated doc comes back with
    * text '' and n_removed == n_tokens. Whitespace is normalized (split,
    * drop empties, single-space join), like every tokenizing rewrite
    * here.
    *
    * Shape at scale: the window census shuffles one (16-byte md5,
    * doc_id) row per token position — the published algorithm's accepted
    * corpus-sized cost, against windows of w full token strings; the
    * rewrite joins each doc's marked span STARTS back as ONE grouped
    * array and emits the uncovered tokens via the O(tokens + spans)
    * sorted-gap pass of [[spanCoverageRewrite]] (no per-token shuffle,
    * no per-token exists probe). */
  def removeDuplicatedSpans(
      docs: DataFrame, w: Int = 20, minDocs: Int = 2): DataFrame = {
    require(w > 0, s"window width $w must be positive")
    require(minDocs >= 2, s"minDocs $minDocs must be >= 2 (1 would mark everything)")
    val base = docs
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> length(x) > 0)").as("toks"))
      .localCheckpoint(false) // feeds the census AND the rewrite join
    val wins = base
      .select(col("doc_id"), posexplode(expr(
        s"""if(size(toks) < $w, cast(array() as array<string>),
           |   transform(sequence(0, size(toks) - $w),
           |     p -> md5(cast(concat_ws(' ', slice(toks, p + 1, $w)) as binary))))"""
          .stripMargin)).as(Seq("pos", "h")))
      .localCheckpoint(false) // feeds the census AND the span lookup
    val dup = wins.select("h", "doc_id").groupBy("h")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= minDocs)
      .select("h")
    val spans = wins.join(dup, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(collect_list(col("pos")).as("spans"))
    spanCoverageRewrite(base, spans, w)
  }

  /** Shared rewrite tail of [[removeDuplicatedSpans]] /
    * [[removeDuplicatedSpansIncremental]]: join each doc's marked span
    * STARTS back as one grouped array and emit the uncovered tokens.
    *
    * O(tokens + spans) per row, not O(tokens x spans): with a CONSTANT
    * window width the sorted span starts have MONOTONE window ends
    * (`sps[i] + w`), so the merged coverage's gaps fall out of one
    * `transform` over consecutive start pairs — a gap opens between
    * spans i-1 and i exactly when `sps[i] > sps[i-1] + w` — plus the
    * head gap `[0, sps[0])` and the tail gap `[sps[last]+w, n)`. The
    * kept text is the flattened gap slices (disjoint, so total slice
    * work is O(kept tokens)); no per-token `exists` probe, so a
    * 100k-token boilerplate-laden doc with ~100k marked spans costs
    * ~2x10^5 operations instead of ~10^10 (a single-row straggler no
    * partitioning could split). */
  private def spanCoverageRewrite(
      base: DataFrame, spans: DataFrame, w: Int): DataFrame = {
    val kept =
      s"""if(size(sps) = 0, toks,
         |  flatten(concat(
         |    array(slice(toks, 1, sps[0])),
         |    if(size(sps) < 2, cast(array() as array<array<string>>),
         |       transform(sequence(1, size(sps) - 1),
         |         i -> if(sps[i] > sps[i-1] + $w,
         |                 slice(toks, sps[i-1] + $w + 1, sps[i] - sps[i-1] - $w),
         |                 cast(array() as array<string>)))),
         |    array(if(element_at(sps, -1) + $w >= size(toks),
         |             cast(array() as array<string>),
         |             slice(toks, element_at(sps, -1) + $w + 1,
         |                   size(toks) - element_at(sps, -1) - $w))))))"""
        .stripMargin
    base.join(spans, Seq("doc_id"), "left")
      .withColumn("sps",
        array_sort(coalesce(col("spans"), expr("cast(array() as array<int>)"))))
      .withColumn("kept", expr(kept))
      .select(
        col("doc_id"),
        concat_ws(" ", col("kept")).as("text"),
        size(col("toks")).as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("int").as("n_removed"))
  }

  /** INCREMENTAL [[removeDuplicatedSpans]] — the daily-ingest form: a
    * batch doc's token is covered (and removed) when a w-token window
    * over it matches ANY standing-corpus window (`standingHashes`, the
    * persisted hash set — the standing corpus is never re-scanned) or a
    * window occurring in >= `minDocs` DISTINCT batch docs (the
    * within-batch census, so two batch docs sharing a fresh boilerplate
    * run still clean each other). Standing docs are never modified —
    * they were cleaned when they were the batch.
    *
    * Shape at scale: batch-side window rows only (O(batch tokens));
    * the standing side is one semi-join against a 16-byte-hash table
    * (itself O(corpus tokens) — the exact-substring index's honest,
    * published cost, paid as a TABLE on disk instead of a rebuild per
    * ingest). Close the cycle by appending the CLEANED batch's window
    * hashes ([[spanWindowHashesKeyed]]) to the standing table. */
  def removeDuplicatedSpansIncremental(
      batch: DataFrame,
      standingHashes: DataFrame,
      w: Int = 20,
      minDocs: Int = 2): DataFrame = {
    require(w > 0, s"window width $w must be positive")
    require(minDocs >= 2, s"minDocs $minDocs must be >= 2 (1 would mark everything)")
    val base = batch
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> length(x) > 0)").as("toks"))
      .localCheckpoint(false)
    val wins = base
      .select(col("doc_id"), posexplode(expr(
        s"""if(size(toks) < $w, cast(array() as array<string>),
           |   transform(sequence(0, size(toks) - $w),
           |     p -> md5(cast(concat_ws(' ', slice(toks, p + 1, $w)) as binary))))"""
          .stripMargin)).as(Seq("pos", "h")))
      .localCheckpoint(false)
    val dupBatch = wins.select("h", "doc_id").groupBy("h")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= minDocs)
      .select("h")
    val dup = dupBatch.unionByName(
      wins.select("h").join(
        standingHashes.select(col("h")).distinct(), Seq("h"), "left_semi"))
      .distinct()
    val spans = wins.join(dup, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(collect_list(col("pos")).as("spans"))
    spanCoverageRewrite(base, spans, w)
  }

  /** The distinct w-token window hashes of `docs` — the standing side
    * [[removeDuplicatedSpansIncremental]] reads when it is recomputed
    * from a standing frame: one 16-byte hash per distinct window. The
    * persisted `StandingState` span index keeps the doc-keyed form,
    * [[spanWindowHashesKeyed]]. */
  def spanWindowHashes(docs: DataFrame, w: Int): DataFrame =
    docs.select(windowHashCol(w)).distinct()

  /** [[spanWindowHashes]] KEYED by the contributing document — one
    * (doc_id, h) row per doc x distinct-window-in-that-doc, the
    * persisted span index ([[StandingState]]; append the CLEANED
    * admitted batch's hashes after each ingest to close the cycle): the
    * extra 8-byte id per row is what makes retention SUBTRACTION sound
    * (an expired doc's rows drop by anti-join; a retained doc that
    * shares the window keeps its own row, so the hash stays standing).
    * [[removeDuplicatedSpansIncremental]] projects
    * `select("h").distinct()`, identical to [[spanWindowHashes]]' set
    * over the same docs. */
  def spanWindowHashesKeyed(docs: DataFrame, w: Int): DataFrame =
    docs.select(col("doc_id"), windowHashCol(w)).distinct()

  /** `h`: one row per w-token window of `text` (exploded md5 of the
    * window's tokens joined by single spaces; none when the doc is
    * shorter than w). */
  private def windowHashCol(w: Int): Column = {
    require(w > 0, s"window width $w must be positive")
    expr(
      s"""explode(if(size(filter(split(text, ' '), x -> length(x) > 0)) < $w,
         |  cast(array() as array<string>),
         |  transform(sequence(0, size(filter(split(text, ' '), x -> length(x) > 0)) - $w),
         |    p -> md5(cast(concat_ws(' ',
         |      slice(filter(split(text, ' '), x -> length(x) > 0), p + 1, $w)) as binary)))))"""
        .stripMargin).as("h")
  }

  /** RefinedWeb/CCNet-style BOILERPLATE REMOVAL — the rewrite counterpart
    * of [[passageStats]]: every `w`-token chunk (same positional chunking,
    * same md5 key) occurring in >= `minDocs` DISTINCT documents is removed
    * from EVERY document, and each document's surviving chunks are
    * re-joined in position order. A chunk repeated only WITHIN one doc is
    * kept (use [[repetitionStats]] for intra-doc repetition). Every input
    * doc returns a row — a fully-boilerplate doc comes back with text ''
    * and n_removed == n_chunks.
    *
    * Shape at scale: the duplicate-chunk census shuffles (md5, doc_id)
    * pairs only; chunk text moves in exactly one corpus-order shuffle
    * (the doc_id reassembly groupBy — unavoidable for a rewrite), with
    * the dup-set join AQE-broadcastable whenever boilerplate is sparse. */
  def removeDuplicatedPassages(
      docs: DataFrame, w: Int = 20, minDocs: Int = 2): DataFrame = {
    val chunkArr = expr(
      s"""transform(sequence(0, cast(ceil(size(split(text, ' ')) / ${w}.0D) as int) - 1),
         |  i -> concat_ws(' ', slice(split(text, ' '), i * $w + 1, $w)))""".stripMargin)
    val chunks = docs
      .select(col("doc_id"), posexplode(chunkArr).as(Seq("pos", "chunk")))
      .withColumn("h", md5(col("chunk").cast("binary")))
      .localCheckpoint(false) // feeds the census AND the rewrite join
    val dup = chunks.select("h", "doc_id").groupBy("h")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= minDocs)
      .select(col("h"), lit(1).as("__dup"))
    chunks.join(dup, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_chunks"),
        sum(when(col("__dup").isNotNull, 1L).otherwise(0L)).cast("int")
          .as("n_removed"),
        // collect_list skips the nulls the when() leaves on dup chunks;
        // array_sort on (pos, chunk) structs restores position order
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("__dup").isNull, struct(col("pos"), col("chunk"))))),
          x => x.getField("chunk"))).as("text"))
  }

  /** [[removeDuplicatedPassages]]'s INCREMENTAL form: the duplicate-chunk
    * census counts distinct docs across `docs` PLUS `reference` (doc_ids
    * must be disjoint — the [[CorpusPipeline.prepareIncremental]]
    * contract), but only `docs` rows are rewritten. Boilerplate an
    * incoming doc shares with the standing corpus is stripped exactly as
    * one batch pass over the union would strip it, without touching (or
    * reassembling) the standing side: `reference` contributes only
    * (hash, doc_id) census rows — no chunk text, no reassembly groupBy —
    * so the rewrite work stays increment-shaped at any standing size. */
  def removeDuplicatedPassagesAgainst(
      docs: DataFrame, reference: DataFrame,
      w: Int = 20, minDocs: Int = 2): DataFrame = {
    val chunkArr = expr(
      s"""transform(sequence(0, cast(ceil(size(split(text, ' ')) / ${w}.0D) as int) - 1),
         |  i -> concat_ws(' ', slice(split(text, ' '), i * $w + 1, $w)))""".stripMargin)
    val chunks = docs
      .select(col("doc_id"), posexplode(chunkArr).as(Seq("pos", "chunk")))
      .withColumn("h", md5(col("chunk").cast("binary")))
      .localCheckpoint(false) // feeds the census AND the rewrite join
    val refHashes = reference
      .select(col("doc_id"), explode(chunkArr).as("chunk"))
      .select(col("doc_id"), md5(col("chunk").cast("binary")).as("h"))
    val dup = chunks.select("h", "doc_id").unionByName(refHashes.select("h", "doc_id"))
      .groupBy("h")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= minDocs)
      .select(col("h"), lit(1).as("__dup"))
    chunks.join(dup, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_chunks"),
        sum(when(col("__dup").isNotNull, 1L).otherwise(0L)).cast("int")
          .as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("__dup").isNull, struct(col("pos"), col("chunk"))))),
          x => x.getField("chunk"))).as("text"))
  }

  def passageStats(docs: DataFrame, w: Int = 20): DataFrame = {
    // chunks feeds the df groupBy AND the join: hash the corpus once
    val chunks = docs.select(
      col("doc_id"),
      explode(chunkHashCol(w)).as("h"))
      .localCheckpoint(false)
    val freq = chunks.groupBy("h").agg(countDistinct("doc_id").as("df"))
    chunks.join(freq, "h")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_passages"),
        sum(when(col("df") >= 2, lit(1L)).otherwise(lit(0L))).as("n_dup_passages"))
      .withColumn("dup_frac",
        col("n_dup_passages").cast("double") / col("n_passages"))
  }

  /** Per-document TF-IDF (quality/topicality scoring): tf = term count in
    * doc, idf = ln(N / df) with df = number of docs containing the term.
    * Returns the top-scoring term per doc (ties broken by term asc) plus
    * the document's tfidf mass. The sum goes through the fixed-scale
    * decimal path (as RelationalQueries.dsum) — a naive double sum is
    * shuffle-order-dependent and breaks cross-engine hash equality.
    *
    * Shape at scale: one groupBy(doc_id, term) for tf, one groupBy(term)
    * for df (both map-side-combinable), a join keyed by term, and a keyed
    * window + rollup by doc_id. */
  def tfidfTopTerms(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    // Corpus size N as an eager count embedded as a literal: a 1-row
    // carrier frame plans as BroadcastNestedLoopJoin (constant-key hash
    // joins constant-fold back into cross products), which the plan audit
    // bans. count(*) over parquet is answered from row-group metadata —
    // cheap at any scale — and the literal keeps idf foldable per row.
    val n = docs.count()
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term")
      .withColumn("tfidf", col("tf") * log(lit(n.toDouble) / col("df")))
    // One aggregation carries both outputs — no window, no self-join:
    // min(struct(-tfidf, term)) picks the max tfidf with ties broken by
    // term ASC (negation is exact, so -(-x) round-trips bit-identically).
    // The sum is exact cross-engine: each element rounded to 6dp (both
    // engines' round() agree on the nearest-6dp double), then summed as
    // DECIMAL(25,6). The double->decimal CAST diverges between engines on
    // unrounded values (Spark rounds HALF_UP, DuckDB truncates the binary
    // expansion — the oracle compensates with a +5e-9 nudge before its
    // truncating cast); the final decimal->double is exact (unscaled value
    // < 2^53). Naive double sums are shuffle-order-dependent — never.
    scored.groupBy("doc_id")
      .agg(
        min(struct((-col("tfidf")).as("neg"), col("term").as("t"))).as("top"),
        sum(round(col("tfidf"), 6).cast(DecimalType(25, 6)))
          .cast("double").as("tfidf_sum"))
      .select(
        col("doc_id"),
        col("top.t").as("top_term"),
        (-col("top.neg")).as("top_tfidf"),
        col("tfidf_sum"))
  }

  /** Bigram language-model scoring (the CCNet-style perplexity quality
    * filter): an add-one-smoothed bigram model is fit on the corpus itself
    * and every document is scored by its average negative log-probability
    * -ln((c(w1,w2) + 1) / (c(w1) + V)) over its bigram instances. High
    * avg_nll = improbable word sequences (gibberish, boilerplate soup);
    * low = fluent under the corpus distribution.
    *
    * Shape at scale: bigram explode, two map-side-combinable groupBys for
    * the model (bigram and context counts), joins keyed by those counts'
    * own grouping keys, one per-doc rollup. A production run would prune
    * the model to top-K bigrams and broadcast it; here both sides stay
    * distributed (the model is corpus-sized). V (distinct token count) is
    * an eager scalar — a one-row aggregate embedded as a literal, for the
    * same BroadcastNestedLoopJoin reason as [[tfidfTopTerms]]'s N.
    *
    * The per-doc sum uses the rounded-element DECIMAL path (see
    * [[tfidfTopTerms]]); the final avg divides the exact sum-as-double by
    * the bigram count — identical operands in both engines.
    *
    * Output: (doc_id, n_bigrams, avg_nll) for docs with >= 2 tokens. */
  def bigramNll(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val v = docs
      .select(explode(tokens(col("text"))).as("tok"))
      .agg(countDistinct("tok")).head().getLong(0)
    // bi feeds THREE consumers (c12, c1, the scoring join). Materialize the
    // TOKENIZED frame once (lazy localCheckpoint, same discipline as
    // ivfTopK's embedding frame) so the corpus is scanned+split once, not
    // three times. The checkpoint sits BEFORE the explode on purpose: the
    // token-array frame is a fraction of the exploded bigram frame's size
    // (measured: checkpointing post-explode was a net LOSS at sf0.1 —
    // the store/reload outweighed the re-derivation), and each consumer's
    // explode fuses into its own aggregation stage.
    val toks = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .localCheckpoint(false)
    val bi = toks
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
    bi.join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .withColumn("nll", -log((col("c12") + lit(1.0)) / (col("c1") + lit(v.toDouble))))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(round(col("nll"), 6).cast(DecimalType(25, 6))).cast("double")
          / count(lit(1))).as("avg_nll"))
  }

  /** PII redaction patterns — the pre-training scrub pass. Kept to the
    * regex subset Java (Spark) and RE2 (DuckDB's regexp_*) interpret
    * identically: literal classes, bounded counts, ASCII `\b`; no
    * backrefs or lookaround (RE2 has neither). Order matters and is
    * fixed: emails first (an IPv4-shaped string inside a hostname must
    * not be double-counted as an IP), then IPs, then phones. */
  val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val Ipv4Re = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  val PhoneRe = """\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"""

  /** text column + id passthrough -> (ids..., n_email, n_ipv4, n_phone,
    * redacted) with category counts taken BEFORE the rewrite (counting
    * after would see the placeholders). Per-row, no shuffle: at 100 TB
    * this runs inside whole-stage codegen at scan parallelism —
    * regexp_count/regexp_replace are codegen'd Catalyst expressions, and
    * counts-then-rewrites of the same pattern share the compiled regex.
    * Placeholders are angle-bracket tokens a whitespace tokenizer keeps
    * as single (counted) units downstream. */
  def redactPii(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val afterEmail = regexp_replace(t, EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    docs
      .withColumn("n_email", regexp_count(t, lit(EmailRe)))
      .withColumn("n_ipv4", regexp_count(afterEmail, lit(Ipv4Re)))
      .withColumn("n_phone", regexp_count(afterIp, lit(PhoneRe)))
      .withColumn("redacted", regexp_replace(afterIp, PhoneRe, "<PHONE>"))
  }

  /** Pure-built-ins top-term count (most frequent token's occurrence
    * count) — the O(distinct * tokens) interpreted reference the spec
    * pins `graft_repstats(text, 1).top_count` against bit-identically. */
  private[llm] def gopherTopTermHof(toks: Column): Column =
    array_max(transform(
      array_distinct(toks),
      w => aggregate(toks, lit(0), (acc, x) => acc + when(x === w, 1).otherwise(0))))

  /** The four Gopher signal columns (word count, mean word length,
    * distinct stopwords, top-term fraction) over a `text` column — the
    * single definition both [[gopherRules]] and [[gopherGate]] build on,
    * so the stop list and signal arithmetic cannot drift between the
    * two forms. */
  private case class GopherSignals(
      nWords: Column, meanWordLen: Column, nStopDistinct: Column, topTermFrac: Column)

  private def gopherSignals: GopherSignals = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val toks = tokens(col("text"))
    val nWords = size(toks)
    // mean word length from char counts (spaces = words-1), not a HOF
    // re-walk of the array
    val meanLen = (length(col("text")) - (nWords - lit(1))).cast("double") / nWords
    val distinctStop = size(array_intersect(toks, typedLit(stop)))
    // top-term count through the one-pass graft_repstats kernel (n=1:
    // unigrams); the spec cross-checks it against the interpreted
    // nested-HOF form [[gopherTopTermHof]], O(distinct * tokens) per row
    val topTermN = expr("graft_repstats(text, 1).top_count")
    GopherSignals(nWords, meanLen, distinctStop, topTermN.cast("double") / nWords)
  }

  /** The four per-rule keep predicates over a [[GopherSignals]] — shared
    * rule arithmetic for [[gopherRules]] and [[gopherGate]]. */
  private def gopherKeepRules(
      s: GopherSignals,
      minWords: Int, maxWords: Int,
      minMeanWordLen: Double, maxMeanWordLen: Double,
      minDistinctStop: Int, maxTopTermFrac: Double): Seq[Column] = Seq(
    s.nWords >= minWords && s.nWords <= maxWords,
    s.meanWordLen >= minMeanWordLen && s.meanWordLen <= maxMeanWordLen,
    s.nStopDistinct >= minDistinctStop,
    s.topTermFrac <= maxTopTermFrac)

  /** Gopher-style quality gate (Rae et al. 2021 rules, the subset whose
    * signals exist in a whitespace corpus): word-count bounds, mean word
    * length bounds, min distinct stopwords, max single-term dominance
    * (the "repetition" family's cheapest member). One pass of per-row
    * expressions + nothing wider than the tokens array — no shuffle, no
    * UDF. Returns the per-rule booleans AND the conjunction: pipelines
    * audit rule hit-rates before enabling the filter, so the rules must
    * be observable individually. */
  def gopherRules(
      docs: DataFrame,
      minWords: Int = 20,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 2.0,
      maxMeanWordLen: Double = 12.0,
      minDistinctStop: Int = 2,
      maxTopTermFrac: Double = 0.20): DataFrame = {
    val s = gopherSignals
    val named = GopherSignals(
      col("n_words"), col("mean_word_len"), col("n_stop_distinct"), col("top_term_frac"))
    val rules = gopherKeepRules(named, minWords, maxWords,
      minMeanWordLen, maxMeanWordLen, minDistinctStop, maxTopTermFrac)
    docs.select(
      col("doc_id"),
      s.nWords.as("n_words"),
      s.meanWordLen.as("mean_word_len"),
      s.nStopDistinct.as("n_stop_distinct"),
      s.topTermFrac.as("top_term_frac"),
    ).select(
      col("*"),
      rules(0).as("ok_words"),
      rules(1).as("ok_word_len"),
      rules(2).as("ok_stop"),
      rules(3).as("ok_repetition"),
    ).withColumn("keep",
      col("ok_words") && col("ok_word_len") && col("ok_stop") && col("ok_repetition"))
  }

  /** Filter form of [[gopherRules]]: rows passing every rule, ALL input
    * columns preserved, no join — a pure per-row gate, so it composes into
    * STREAMING plans (a semi-join against gopherRules' stats frame would
    * be a stream-stream join) and costs one codegen'd projection at any
    * scale. Built on the same [[gopherSignals]]/[[gopherKeepRules]] as
    * gopherRules, so the two forms cannot drift (spec additionally pins
    * identical keep sets). */
  def gopherGate(
      docs: DataFrame,
      minWords: Int = 20,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 2.0,
      maxMeanWordLen: Double = 12.0,
      minDistinctStop: Int = 2,
      maxTopTermFrac: Double = 0.20): DataFrame = {
    val rules = gopherKeepRules(gopherSignals, minWords, maxWords,
      minMeanWordLen, maxMeanWordLen, minDistinctStop, maxTopTermFrac)
    docs.filter(rules.reduce(_ && _))
  }

  /** DSIR-style hashed n-gram featurization (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): one row per
    * feature INSTANCE — word unigrams plus adjacent-word bigrams — bucketed
    * into `[0, m)` by the first 8 md5 hex chars (a 32-bit value both
    * engines derive identically: Spark `conv(substring(md5(f),1,8),16,10)`,
    * DuckDB `('0x' || substr(md5(f),1,8))::BIGINT`) mod `m`.
    *
    * Shape at scale: a pure per-row explode feeding whatever aggregation
    * the caller keys on — no shuffle here, one md5 per feature instance
    * inside whole-stage codegen. Instance multiplicity is deliberate
    * (DSIR weights are sums over the document's feature VECTOR, so a
    * token occurring 5x contributes 5x its bucket's log-ratio). */
  def dsirFeatures(docs: DataFrame, m: Int): DataFrame =
    docs
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> length(x) > 0)").as("toks"))
      .select(col("doc_id"),
        explode(expr(
          """concat(toks,
            |  transform(slice(toks, 1, greatest(size(toks) - 1, 0)),
            |    (t, i) -> concat(t, ' ', toks[i + 1])))""".stripMargin))
          .as("feat"))
      .select(col("doc_id"),
        expr(s"cast(conv(substring(md5(feat), 1, 8), 16, 10) as bigint) % $m")
          .as("bucket"))

  /** The m-row DSIR bucket log-likelihood-ratio table:
    * `ln p_target(b) - ln p_raw(b)` with add-`lambda` smoothing over the
    * full bucket domain, where `p(b) = (count(b) + lambda) / (total +
    * lambda*m)`.
    *
    * Shape at scale: ONE feature census per corpus (explode ->
    * groupBy(bucket), map-side partial aggregation collapses each to
    * <= m rows per task), each collected as a bounded <= m-row
    * control-plane fetch; the totals are the sums of those censuses, so
    * neither corpus is featurized twice. The ratio table itself is built
    * driver-side over the full `[0, m)` domain and parallelized back —
    * m is a few thousand, so it broadcasts to every downstream scorer.
    * `Math.log` on the driver is the same `java.lang.Math.log` Spark's
    * `log` codegen calls, so the values are bit-identical to computing
    * the ratio as a per-row expression over the count frames. */
  def dsirLogRatios(
      raw: DataFrame,
      target: DataFrame,
      m: Int,
      lambda: Double = 1.0): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    def census(docs: DataFrame): Map[Long, Long] =
      dsirFeatures(docs, m).groupBy("bucket").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tCnt = census(target)
    val rCnt = census(raw)
    val tTotal = tCnt.valuesIterator.sum
    val rTotal = rCnt.valuesIterator.sum
    val rows = (0L until m.toLong).map { b =>
      val lr =
        math.log((tCnt.getOrElse(b, 0L) + lambda) / (tTotal + lambda * m)) -
        math.log((rCnt.getOrElse(b, 0L) + lambda) / (rTotal + lambda * m))
      (b, lr)
    }
    rows.toDF("bucket", "log_ratio")
  }

  /** Per-document DSIR log importance weight over `raw`: the sum of its
    * feature instances' bucket log-ratios, through the fixed-scale decimal
    * sum (each element rounded to 6dp, summed as DECIMAL(25,6) — naive
    * double sums are shuffle-order-dependent and break the cross-engine
    * hash; the q45 discipline). Documents with zero features keep a 0.0
    * weight via the restoring left join.
    *
    * Shape at scale: featurize (per-row) -> broadcast-join the m-row
    * ratio table -> groupBy(doc_id) with map-side partials. One shuffle,
    * keyed by doc_id, carrying (doc_id, 6dp-decimal partial) rows. */
  def dsirScores(
      raw: DataFrame,
      target: DataFrame,
      m: Int = 1024,
      lambda: Double = 1.0): DataFrame =
    dsirScoresWithRatios(raw, dsirLogRatios(raw, target, m, lambda), m)

  /** Score ANY doc frame against a PRECOMPUTED ratio table — the
    * INCREMENTAL DSIR path: [[dsirLogRatios]] runs once over the
    * raw/target corpora and its m-row output persists as a tiny table;
    * every daily batch then scores with one featurize pass + this
    * broadcast join, never re-censusing the corpora (the difference
    * between O(batch) and O(corpus) per day at 100 TB — the same freeze
    * discipline as SemDeDup's persisted centroids). Identical arithmetic
    * to the fused [[dsirScores]] by construction (it now delegates
    * here); docs with zero features score 0.0 with the usual coalesce. */
  def dsirScoresWithRatios(
      docs: DataFrame,
      ratios: DataFrame,
      m: Int = 1024): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val scored = dsirFeatures(docs, m)
      .join(broadcast(ratios), "bucket")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_feats"),
        sum(round(col("log_ratio"), 6).cast(DecimalType(25, 6)))
          .cast("double").as("log_w"))
    docs.select("doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("log_w"), lit(0.0)).as("log_w"))
  }

  /** Deterministic DSIR selection: the top-`k` raw documents by log
    * importance weight (ties -> doc_id asc). The paper's Gumbel-noise
    * sampling degenerates to exactly this under any fixed noise ordering;
    * determinism is what the cross-engine oracle (and reproducible data
    * curation) needs. orderBy+limit plans as TakeOrderedAndProject —
    * per-partition top-k then a k-row merge, never a single-task global
    * sort (and never the unpartitioned WindowExec the plan audit bans);
    * rank is implied by the (log_w desc, doc_id) order. */
  def dsirSelect(
      raw: DataFrame,
      target: DataFrame,
      m: Int = 1024,
      lambda: Double = 1.0,
      k: Int = 100): DataFrame =
    dsirScores(raw, target, m, lambda)
      .orderBy(col("log_w").desc, col("doc_id"))
      .limit(k)

  def langIdDF(docs: DataFrame): DataFrame = {
    val scored = langMarkers.zipWithIndex.map { case ((lang, words), idx) =>
      struct(
        tokenCountInCol(words).as("score"),
        lit(-idx).as("prio"),
        lit(lang).as("lang"),
      )
    }
    val best = greatest(scored: _*)
    docs.select(
      col("doc_id"),
      col("lang").as("actual_lang"),
      when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und")).as("pred_lang"),
    )
  }

  /** Per-source token-count distribution profile — the corpus census a
    * mixing/curriculum decision starts from: (source, n_docs, and one
    * EXACT linearly-interpolated percentile column per requested p).
    *
    * Exact percentiles WITHOUT buffering a group in memory (Spark's
    * `percentile` aggregate holds every value of a group — a 100 TB
    * source OOMs): token counts are small integers, so the distribution
    * compresses to a (source, value, count) frame first. One
    * map-side-combinable census, a window over the per-source DISTINCT
    * VALUES (bounded by the token-count domain, not the corpus), then
    * each percentile is a conditional aggregation picking the two
    * straddling order statistics plus the standard interpolation
    * `v1 + (p·(n−1) − ⌊p·(n−1)⌋)·(v2 − v1)`, rounded to 6dp. The
    * interpolation arithmetic is one fixed IEEE expression — the oracle
    * replays the identical formula over the identical counts rather than
    * trusting any engine's quantile built-in. */
  def sourceTokenProfile(
      docs: DataFrame,
      ps: Seq[Double] = Seq(0.25, 0.5, 0.95)): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "percentiles must be in [0, 1]")
    import org.apache.spark.sql.expressions.Window
    val vals = docs.select(col("source"),
      size(tokens(col("text"))).cast("long").as("v"))
    val counts = vals.groupBy("source", "v").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy("v")
    val cum = counts
      .withColumn("hi", sum("c").over(w)) // docs with value <= v
      .withColumn("lo", col("hi") - col("c")) // docs with value < v
      .withColumn("n", sum("c").over(Window.partitionBy("source")))
    val aggs = ps.flatMap { p =>
      val name = s"p${(p * 100).round}_tokens"
      // 0-based fractional rank r = p*(n-1); straddling order stats k1/k2
      val r = lit(p) * (col("n") - 1).cast("double")
      val k1 = floor(r)
      val k2 = ceil(r)
      val v1 = min(when(col("lo") <= k1 && k1 < col("hi"), col("v")))
      val v2 = min(when(col("lo") <= k2 && k2 < col("hi"), col("v")))
      Seq(round(v1.cast("double")
        + (max(r) - max(k1).cast("double"))
          * (v2 - v1).cast("double"), 6).as(name))
    }
    val aggCols = max(col("n")).as("n_docs") +: aggs
    cum.groupBy("source")
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("source") +: col("n_docs") +:
        ps.map(p => col(s"p${(p * 100).round}_tokens")): _*)
  }
}
