package graft.llm

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Correctness of the LLM-pipeline operators that have no SQL oracle:
  * MinHash-LSH recall against exact Jaccard, SimHash behavior, LSH-ANN
  * containment in the brute-force ranking, multimodal determinism.
  */
class LlmOpsSpec extends SparkSpec {

  import spark.implicits._

  private val docs = Seq(
    // near-identical pair (one token changed)
    (1L, "the quick brown fox jumps over the lazy dog again and again", "s1"),
    (2L, "the quick brown fox jumps over the lazy cat again and again", "s1"),
    // exact duplicate pair
    (3L, "spark shuffles data between stages using hash partitioning", "s1"),
    (4L, "spark shuffles data between stages using hash partitioning", "s1"),
    // unrelated
    (5L, "completely different content about databases and indexes here", "s2"),
    (6L, "another unrelated sentence mentioning streams and watermarks", "s2"),
  ).toDF("doc_id", "text", "source")

  test("minhash LSH finds exact and near duplicates, skips unrelated pairs") {
    val sh = TextOps.shingleRows(docs, 3)
    val sigs = TextOps.minhashSignatures(sh, 16)
    val cand = TextOps.lshCandidates(sigs, 16, 1)
    val verified = TextOps.verifyCandidates(cand, sh)
      .filter(col("jaccard") >= 0.4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(verified.contains((1L, 2L)))
    assert(verified.contains((3L, 4L)))
    assert(!verified.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("graft_isect_size kernel == size(array_intersect) on real shingle sets") {
    // every cross pair of 40 real docs' shingle arrays (includes empty
    // sets and heavy-overlap pairs); the kernel must be bit-identical to
    // the built-ins form
    assert(spark.catalog.functionExists("graft_isect_size"), "kernel not registered")
    val d = Tables.documentsRaw(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 40)
    val sets = d.select(col("doc_id"), TextOps.shingleCol(3).as("s"))
      .localCheckpoint(false)
    val diverged = sets.select(col("doc_id").as("ida"), col("s").as("sa"))
      .crossJoin(sets.select(col("doc_id").as("idb"), col("s").as("sb")))
      .withColumn("kc", call_function("graft_isect_size", col("sa"), col("sb")))
      .withColumn("hc", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .filter(col("kc") =!= col("hc"))
    assert(diverged.isEmpty, "kernel and array_intersect counts diverged")
  }

  test("sized pair emission == unsized pairs + post-filter (tau size bound soundness)") {
    // the size-aware bucket emission may only drop pairs that cannot
    // reach jaccard >= tau; over the real corpus the final verified drop
    // sets must be IDENTICAL
    val d = Tables.documentsRaw(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 300).select("doc_id", "text")
    val tau = 0.8
    val sizedPairs = TextOps.bucketPairsSized(
      TextOps.bandRowsSizedDF(d, 3, 16, 2), 100000, tau)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val unsized = TextOps.bucketPairs(TextOps.bandRowsDF(d, 3, 16, 2), 100000)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(sizedPairs.subsetOf(unsized), "sized emission invented a pair")
    // pairs culled by the size bound must all fail jaccard >= tau
    val culled = unsized -- sizedPairs
    if (culled.nonEmpty) {
      val cullDF = culled.toSeq.toDF("doc_a", "doc_b")
      val sets = d.select(col("doc_id"), TextOps.shingleCol(3).as("s"),
        size(TextOps.shingleCol(3)).cast("long").as("n"))
      val bad = cullDF
        .join(sets.select(col("doc_id").as("doc_a"), col("s").as("sa"), col("n").as("na")), Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("s").as("sb"), col("n").as("nb")), Seq("doc_b"))
        .withColumn("common", size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .filter(col("common").cast("double") / (col("na") + col("nb") - col("common")) >= tau)
      assert(bad.isEmpty, "size bound culled a pair that verifies at tau")
    }
  }

  test("band-pair emission kernels == HOF forms, multiset-exact, on a skewed corpus") {
    assert(spark.catalog.functionExists("graft_band_pairs"), "kernel not registered")
    // shared suffix -> boilerplate band buckets (the skew the kernels exist
    // for); 200 real docs, split standing/incoming for the incremental form
    val suffix = " common boilerplate tail shared by every doc in this corpus exactly"
    val d = Tables.documentsRaw(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 200)
      .withColumn("text", concat(col("text"), lit(suffix)))
    val tau = 0.8
    val bi = TextOps.bandRowsSizedDF(d.filter(col("doc_id") >= 100), 3, 16, 2)
      .withColumn("inc", lit(1L))
    val bs = TextOps.bandRowsSizedDF(d.filter(col("doc_id") < 100), 3, 16, 2)
      .withColumn("inc", lit(0L))
    val aggedInc = bi.unionByName(bs).groupBy("band", "sig")
      .agg(collect_list(struct(col("doc_id"), col("inc"), col("n"))).as("items"))
      .filter(size(col("items")) >= 2 && expr("exists(items, x -> x.inc = 1L)"))
      .localCheckpoint(false)
    val hofInc = expr(
      s"""flatten(transform(
         |  filter(items, x -> x.inc = 1L),
         |  x -> transform(
         |    filter(items, a -> (a.inc = 0L OR a.doc_id < x.doc_id)
         |                       AND least(a.n, x.n) >= $tau * greatest(a.n, x.n)),
         |    a -> named_struct('doc_a', a.doc_id, 'doc_b', x.doc_id,
         |                      'na', a.n, 'nb', x.n))))""".stripMargin)
    def emitted(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
      df.select(explode(c).as("p")).select("p.*")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(
      emitted(aggedInc, call_function("graft_inc_band_pairs", col("items"), lit(tau)))
        === emitted(aggedInc, hofInc))

    val aggedAll = TextOps.bandRowsSizedDF(d, 3, 16, 2).groupBy("band", "sig")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .localCheckpoint(false)
    val hofAll = expr(
      s"""flatten(transform(ids, (a, i) ->
         |  transform(
         |    filter(slice(ids, i + 2, size(ids) - i - 1),
         |           b -> least(a.n, b.n) >= $tau * greatest(a.n, b.n)),
         |    b -> named_struct('doc_a', a.doc_id, 'doc_b', b.doc_id,
         |                      'na', a.n, 'nb', b.n))))""".stripMargin)
    assert(
      emitted(aggedAll, call_function("graft_band_pairs", col("ids"), lit(tau)))
        === emitted(aggedAll, hofAll))
  }

  test("fused lshNearDupPairs matches the unfused signature/candidate/verify path") {
    val sh = TextOps.shingleRows(docs, 3)
    val unfused = TextOps.verifyCandidates(
      TextOps.lshCandidates(TextOps.minhashSignatures(sh, 16), 16, 2), sh)
      .select("doc_a", "doc_b", "common", "na", "nb", "jaccard")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    val fused = TextOps.lshNearDupPairs(docs, 3, 16, 2)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(fused === unfused)
    assert(fused.exists(p => p._1 == 3L && p._2 == 4L)) // non-vacuous
  }

  test("LSH bucket cap drops degenerate popular buckets, keeps normal ones") {
    // 40 identical boilerplate docs -> one full-band bucket of 40 in every
    // band; plus the distinct near-dup pair. With the cap below 40 the
    // boilerplate generates ZERO candidate pairs while the real pair (whose
    // buckets are size 2) survives.
    val boiler = (100L until 140L).map(i =>
      (i, "identical boilerplate header repeated across the whole corpus", "s1"))
    val d = (boiler ++ Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", "s1"),
      (2L, "the quick brown fox jumps over the lazy cat again and again", "s1"),
    )).toDF("doc_id", "text", "source")
    val capped = TextOps.lshNearDupPairs(d, 3, 16, 2, maxBucketSize = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped === Set((1L, 2L)))
    // and uncapped, the degenerate bucket contributes its 40*39/2 pairs
    val uncapped = TextOps.lshNearDupPairs(d, 3, 16, 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size === 40 * 39 / 2 + 1)
  }

  test("vector LSH hot-bucket thinning bounds candidates, keeps small buckets intact") {
    // 64 identical vectors all land in one bucket; thinning with cap 8 keeps
    // ~cnt/ceil(cnt/cap) of them, so each query ranks against far fewer than
    // the full bucket. Results stay top-k-shaped and deterministic.
    val dim = 8
    val hotRows = (0L until 64L).map(i => (i, Array.fill(dim)(1.0f), "hot"))
    val emb = hotRows.toDF("vec_id", "embedding", "label")
    val capped = VectorOps.lshTopK(emb, _ < 2, 4, dim, 3, maxBucketSize = 8)
    val out = capped.select("vec_id", "neighbor_id").as[(Long, Long)].collect()
    assert(out.nonEmpty && out.length <= 2 * 3)
    // determinism: same thinning decision on re-run
    val out2 = capped.select("vec_id", "neighbor_id").as[(Long, Long)].collect()
    assert(out.toSet === out2.toSet)
    // default cap leaves the q28-sized corpus untouched: identical results
    val real = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = VectorOps.lshTopK(real, _ < 5, 4, 64, 3)
      .select("vec_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val b = VectorOps.lshTopK(real, _ < 5, 4, 64, 3, maxBucketSize = Int.MaxValue)
      .select("vec_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(a === b)
  }

  test("exact duplicates have identical minhash signatures (full-band collision)") {
    val sh = TextOps.shingleRows(docs, 3)
    val sigs = TextOps.minhashSignatures(sh, 16).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toSeq).toMap
    assert(sigs(3L) === sigs(4L))
    assert(sigs(1L) !== sigs(5L))
  }

  test("native text kernels are bit-identical to the HOF formulations") {
    // shingles: native vs array_distinct(transform(...)), incl. a short doc
    val edge = docs.union(Seq((7L, "a b", "s1"), (8L, "", "s2")).toDF("doc_id", "text", "source"))
    val nat = edge.select($"doc_id", TextOps.shingleCol(3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val hof = edge.select($"doc_id", TextOps.hofShingleCol(3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(nat === hof)
    assert(nat(1L).nonEmpty && nat(7L).isEmpty && nat(8L).isEmpty)

    // per-row minhash: native kernel vs pure-built-ins, NULL on short docs
    val natSig = edge.select($"doc_id", expr("graft_minhash(text, 3, 16)").as("sig"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    val hofSig = edge.select($"doc_id", TextOps.hofMinhashSig(3, 16).as("sig"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    assert(natSig === hofSig)
    assert(natSig(7L).isEmpty && natSig(3L).nonEmpty)

    // per-row sigs == row-based groupBy sigs (the two public paths agree)
    val rowSigs = TextOps.minhashSignatures(TextOps.shingleRows(edge, 3), 16)
      .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toSeq).toMap
    assert(natSig.collect { case (id, Some(s)) => id -> s } === rowSigs)

    // repetition stats: native kernel vs HOF counters
    val repN = TextOps.repetitionStats(edge, 2).orderBy("doc_id")
      .as[(Long, Int, Double, Double)].collect().toSeq
    val repH = TextOps.repetitionStatsHof(edge, 2).orderBy("doc_id")
      .as[(Long, Int, Double, Double)].collect().toSeq
    assert(repN === repH)

    // token-set counting: native hash-set kernel vs IN-filter HOF
    val stop = Seq("the", "over", "a")
    val cntN = edge.select($"doc_id", TextOps.tokenCountInCol(stop).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cntH = edge.select($"doc_id",
        expr(s"size(filter(split(text, ' '), x -> x IN (${stop.map(w => s"'$w'").mkString(", ")})))").as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cntN === cntH)
    assert(cntN(1L) > 0)

    // winnow fingerprint: native min-shingle-md5 vs array_min-of-md5 HOF
    val wN = edge.select($"doc_id", expr("graft_min_shingle_md5(text, 3)").as("fp"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val wH = edge.select($"doc_id", $"text", split($"text", " ").as("t"))
      .select($"doc_id",
        when(size($"t") >= 3,
          array_min(expr(
            "transform(sequence(0, size(t) - 3), i -> md5(concat_ws(' ', t[i], t[i+1], t[i+2])))")))
          .as("fp"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(wN === wH)
    assert(wN(7L).isEmpty && wN(1L).nonEmpty)

    // chunk hashes: native kernel vs transform/slice/md5 HOF, incl. the
    // trailing-partial chunk and the empty-text single chunk
    val chN = edge.select($"doc_id", expr("graft_chunk_hashes(text, 5)").as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val chH = edge.select($"doc_id", TextOps.hofChunkHashes(5).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(chN === chH)
    assert(chN(1L).length === 3 && chN(8L).length === 1) // 12 toks -> 5,5,2
  }

  test("simhash: identical docs equal; near-dup hamming < unrelated hamming") {
    val hashes = TextOps.simhashDF(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hashes(3L) === hashes(4L))
    assert(hamming(hashes(1L), hashes(2L)) < hamming(hashes(1L), hashes(5L)))
  }

  test("native SimHash64 expression is bit-identical to the HOF formulation") {
    // the extension registers graft_simhash64 in the shared test session
    assert(spark.catalog.functionExists("graft_simhash64"))
    val native = TextOps.simhashDF(docs).orderBy("doc_id").collect().map(_.getLong(1)).toSeq
    val hof = TextOps.simhashHofDF(docs).orderBy("doc_id").collect().map(_.getLong(1)).toSeq
    assert(native === hof)
    // empty-ish text edge: single token, and a doc with double spaces
    val edge = Seq((1L, "solo"), (2L, "a  b")).toDF("doc_id", "text")
    val n2 = TextOps.simhashDF(edge).orderBy("doc_id").collect().map(_.getLong(1)).toSeq
    val h2 = TextOps.simhashHofDF(edge).orderBy("doc_id").collect().map(_.getLong(1)).toSeq
    assert(n2 === h2)
  }

  test("langid: marker-bearing docs classify; markerless fall back to 'und'") {
    val d = Seq(
      (1L, "the cat and the dog of the house", "en"),
      (2L, "el gato y la casa de los perros", "es"),
      (3L, "xyzzy plugh quux", "und"),
    ).toDF("doc_id", "text", "lang")
    val out = TextOps.langIdDF(d).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out === Map(1L -> "en", 2L -> "es", 3L -> "und"))
  }

  test("native dot/norm kernels are bit-identical to the HOF fold") {
    assert(spark.catalog.functionExists("graft_dot_f"))
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .limit(50).select(col("vec_id"), col("embedding").as("qe"))
      .crossJoin(graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
        .limit(50).select(col("embedding").as("ne")))
    val native = emb.selectExpr("graft_dot_f(qe, ne) AS d", "graft_norm_f(qe) AS n").collect()
    val hof = emb.selectExpr(
      "aggregate(zip_with(qe, ne, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS d",
      "sqrt(aggregate(transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)) AS n",
    ).collect()
    native.zip(hof).foreach { case (a, b) =>
      assert(a.getDouble(0) === b.getDouble(0)) // bit-exact, no tolerance
      assert(a.getDouble(1) === b.getDouble(1))
    }
  }

  test("native kernels reject non-float arrays and match the HOF on null elements") {
    // array<double>/array<int> are an ANALYSIS error, not silent garbage
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_dot_f(array(1.0D, 2.0D), array(1.0D, 2.0D))").collect()
    }
    assert(e1.getMessage.contains("ARRAY<FLOAT>"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_norm_f(array(1, 2))").collect()
    }
    assert(e2.getMessage.contains("ARRAY<FLOAT>"))
    // a null ELEMENT poisons both the native kernel and the HOF fold to NULL
    val r = spark.sql(
      """SELECT
        |  graft_dot_f(fa, fb) AS d_native,
        |  aggregate(zip_with(fa, fb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |            CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS d_hof,
        |  graft_norm_f(fa) AS n_native,
        |  graft_dot_f(fb, fb) AS d_clean
        |FROM (SELECT array(cast(1.0 AS float), cast(NULL AS float)) AS fa,
        |             array(cast(1.0 AS float), cast(2.0 AS float)) AS fb)""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    assert(r.getDouble(3) === 5.0)
  }

  test("LSH ANN results are contained in the brute-force ranking order") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = VectorOps.bruteForceTopK(emb.filter($"vec_id" < 5), emb, 50)
      .select("vec_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val ann = VectorOps.lshTopK(emb, _ < 5, 4, 64, 3)
      .select("vec_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect()
    assert(ann.nonEmpty)
    // every ANN neighbor must be a real vector ranked by true cosine; the
    // ANN ranking must preserve the brute-force relative order within the
    // candidates it kept
    ann.groupBy(_._1).foreach { case (qid, rows) =>
      val annOrder = rows.sortBy(_._3).map(_._2).toSeq
      val bruteOrder = brute(qid).filter(annOrder.contains)
      assert(annOrder === bruteOrder.take(annOrder.size))
    }
  }

  test("IVF ANN: full probe equals brute force; partial probe is contained in it") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = VectorOps.bruteForceTopK(emb.filter($"vec_id" < 5), emb, 3)
      .select("vec_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    // probing EVERY centroid degenerates IVF to an exact full scan
    val full = VectorOps.ivfTopK(emb, _ < 5, nCentroids = 8, nProbe = 8, k = 3)
      .select("vec_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(full === brute)
    // a partial probe returns top-k-shaped, deterministic results whose
    // per-query ranking respects the true cosine order
    val part = VectorOps.ivfTopK(emb, _ < 5, nCentroids = 8, nProbe = 2, k = 3)
      .select("vec_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect()
    assert(part.nonEmpty && part.groupBy(_._1).forall(_._2.length <= 3))
    val part2 = VectorOps.ivfTopK(emb, _ < 5, nCentroids = 8, nProbe = 2, k = 3)
      .select("vec_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect()
    assert(part.toSet === part2.toSet)
    val bruteOrder = VectorOps.bruteForceTopK(emb.filter($"vec_id" < 5), emb, 2000)
      .select("vec_id", "neighbor_id", "rnk").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    part.groupBy(_._1).foreach { case (qid, rows) =>
      val ivfOrder = rows.sortBy(_._3).map(_._2).toSeq
      val filtered = bruteOrder(qid).filter(ivfOrder.contains)
      assert(ivfOrder === filtered.take(ivfOrder.size))
    }
  }

  test("embedding LSH dedup: subset of exact survivors; nPlanes=0 degenerates to exact") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Dedup.dedupByEmbedding(emb, tau = 0.25)
      .select("vec_id").as[Long].collect().toSet
    val lsh = Dedup.dedupByEmbeddingLsh(emb, tau = 0.25, nPlanes = 4)
      .select("vec_id").as[Long].collect().toSet
    // LSH can only MISS drop-pairs (bucket splits), never invent them:
    // every exact survivor survives LSH too
    assert(exact.subsetOf(lsh))
    // one global bucket == the exact path
    val degenerate = Dedup.dedupByEmbeddingLsh(emb, tau = 0.25, nPlanes = 0)
      .select("vec_id").as[Long].collect().toSet
    assert(degenerate === exact)
    assert(exact.size < emb.count()) // non-vacuous: something was dropped
  }

  test("minhash family agrees across paths on randomized corpora") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val corpus = (0 until (5 + rnd.nextInt(10))).map { i =>
        val n = rnd.nextInt(12) // includes docs too short to shingle
        (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "), "s1")
      }.toDF("doc_id", "text", "source")

      // per-row kernel signatures == row-based groupBy signatures
      val perRow = TextOps.minhashSigDF(corpus, 3, 8).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val rowBased = TextOps.minhashSignatures(TextOps.shingleRows(corpus, 3), 8)
        .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toSeq).toMap
      assert(perRow === rowBased, s"seed=$seed signature paths diverge")

      // fused pipeline == unfused signature/candidate/verify pipeline
      val sh = TextOps.shingleRows(corpus, 3)
      val unfused = TextOps.verifyCandidates(
        TextOps.lshCandidates(TextOps.minhashSignatures(sh, 8), 8, 2), sh)
        .select("doc_a", "doc_b", "common", "na", "nb")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val fused = TextOps.lshNearDupPairs(corpus, 3, 8, 2)
        .select("doc_a", "doc_b", "common", "na", "nb")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(fused === unfused, s"seed=$seed fused/unfused diverge")
    }
  }

  test("simhash banding is lossless: banded pairs == brute-force hamming <= 3") {
    val real = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val hashes = TextOps.simhashDF(real).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, ha) <- hashes; (b, hb) <- hashes
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b, java.lang.Long.bitCount(ha ^ hb))).toSet
    val banded = TextOps.simhashNearDupPairs(real, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(banded === brute)
    assert(brute.nonEmpty) // non-vacuous on the planted near-dups
  }

  test("centroid-ranks kernel matches an independent struct/array_sort formulation") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // deterministic "trained-looking" centroids incl. a zero centroid (the
    // NaN-guard edge: must rank LAST-ish with dist 2.0, never poison sorts)
    val cents: Seq[Seq[Double]] = (0 until 7).map(c =>
      (0 until 64).map(d => math.sin(c * 64 + d))) :+ Seq.fill(64)(0.0)
    val sql = cents.map(c => c.map(v => s"${v}D").mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")
    val kernel = emb.select($"vec_id", expr(s"graft_centroid_ranks(embedding, $sql)").as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // independent formulation: explicit structs sorted by (dist, idx)
    val structs = cents.zipWithIndex.map { case (c, i) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      val dot = expr(
        s"""aggregate(zip_with(embedding, array(${c.map(v => s"${v}D").mkString(", ")}),
           |          (x, w) -> CAST(x AS DOUBLE) * w),
           |          CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
      val vn = expr("sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))")
      val dist = if (cn == 0) lit(2.0)
        else when(vn === 0, lit(2.0)).otherwise(lit(1.0) - dot / (vn * lit(cn)))
      struct(dist.as("dist"), lit(i).as("idx"))
    }
    val ref = emb.select($"vec_id", array_sort(array(structs: _*)).getField("idx").as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(kernel === ref)
    assert(kernel.values.forall(_.last == 7)) // zero centroid always ranks last here
  }

  test("Mixing: hash sampling is deterministic, monotone, and budget-tracking") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    // determinism + layout independence: same membership after repartition
    val a = Mixing.stratifiedSample(d, Map.empty, defaultFrac = 0.4)
      .select("doc_id").as[Long].collect().toSet
    val b = Mixing.stratifiedSample(d.repartition(13), Map.empty, defaultFrac = 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(a === b && a.nonEmpty)
    // monotone: the 0.4 sample is contained in the 0.7 sample
    val bigger = Mixing.stratifiedSample(d, Map.empty, defaultFrac = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(a.subsetOf(bigger) && bigger.size > a.size)
    // fraction tracks: ~40% +- sampling noise
    val n = d.count().toDouble
    assert(math.abs(a.size / n - 0.4) < 0.1)
    // per-source fractions apply independently
    val strat = Mixing.stratifiedSample(d, Map("src0" -> 1.0, "src1" -> 0.0), defaultFrac = 0.5)
    val bySrc = strat.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = d.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") === totals("src0"))
    assert(!bySrc.contains("src1"))
    // token-budget mixing: sampled token mass tracks the budget
    val budget = 2000L
    val mixed = Mixing.sampleToTokenBudget(d, budget, Map("src0" -> 1.0, "src1" -> 1.0))
    val toks = mixed
      .select(org.apache.spark.sql.functions.size(split($"text", " ")).cast("long").as("t"))
      .agg(org.apache.spark.sql.functions.sum("t")).head().getLong(0)
    assert(mixed.select("source").distinct().count() === 2) // weight-0 sources dropped
    assert(toks > 0 && math.abs(toks - budget) < budget) // right order of magnitude
  }

  test("Mixing.hashSplit: exhaustive, disjoint, layout-independent, growth-stable") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val labeled = Mixing.hashSplit(d, splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // every row labeled, only the declared labels
    assert(labeled.size === d.count())
    assert(labeled.values.toSet.subsetOf(Set("train", "val", "test")))
    // layout independence
    val re = Mixing.hashSplit(d.repartition(13), splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(re === labeled)
    // fractions track (80/10/10 +- sampling noise on 500 docs)
    val n = labeled.size.toDouble
    val byLabel = labeled.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(byLabel("train") / n - 0.8) < 0.08)
    assert(byLabel.getOrElse("val", 0) > 0 && byLabel.getOrElse("test", 0) > 0)
    // growth stability: a doc's split is unchanged when the corpus shrinks/grows
    val half = Mixing.hashSplit(d.filter($"doc_id" % 2 === 0), splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    half.foreach { case (id, s) => assert(labeled(id) === s) }
    // the split column agrees with the sampler's keep sets (same hash): the
    // train split IS the frac-0.8 stratified sample
    val kept = Mixing.stratifiedSample(d, Map.empty, defaultFrac = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(labeled.filter(_._2 == "train").keySet === kept)
  }

  test("Mixing rate maps above the literal cap broadcast-join; membership identical") {
    // the cap-and-degrade gate (spark.graft.mix.literalRateCap): above it
    // the when-chain of rate literals becomes a broadcast-joined rate
    // frame — membership must be IDENTICAL, including the two edge arms
    // (a source absent from the map, a NULL source -> defaultFrac)
    val d0 = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "text")
    val d = d0.unionByName(
      d0.limit(7).select(($"doc_id" + 100000L).as("doc_id"),
        lit(null).cast("string").as("source"), $"text"))
    val fractions = Map("src0" -> 1.0, "src1" -> 0.0, "src2" -> 0.25)
    def strat(): Set[Long] =
      Mixing.stratifiedSample(d, fractions, defaultFrac = 0.5)
        .select("doc_id").as[Long].collect().toSet
    def temp(): Set[Long] =
      Mixing.temperatureSample(d0, 200L, alpha = 0.5)
        .select("doc_id").as[Long].collect().toSet
    val (sLit, tLit) = (strat(), temp()) // default cap: literal form
    spark.conf.set("spark.graft.mix.literalRateCap", "0") // force join form
    try {
      assert(strat() === sLit)
      assert(temp() === tLit)
      // the join form preserves the caller's schema and column order
      assert(Mixing.stratifiedSample(d, fractions, defaultFrac = 0.5)
        .columns.toSeq === d.columns.toSeq)
      assert(Mixing.temperatureSample(d0, 200L, alpha = 0.5)
        .columns.toSeq === d0.columns.toSeq)
    } finally spark.conf.unset("spark.graft.mix.literalRateCap")
  }

  test("Mixing.temperatureSample: rates replay independently; alpha=1 is flat") {
    val d = graft.Tables.documentsRaw(spark, "/root/testdata/sf0.001")
    // skew by per-source sequence number (doc_id ≡ source index mod 20
    // in the testdata, so a doc_id-residue filter is constant per source)
    val u = d.filter(expr(
      "(doc_id div 20) % 10 < (try_cast(substring(source, 4) as int) % 5) + 2"))
    val target = 180L
    val got = Mixing.temperatureSample(u, target, alpha = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // layout independence
    val re = Mixing.temperatureSample(u.repartition(13), target, alpha = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(re === got && got.nonEmpty)
    // independent rate formulation: 6dp HALF_UP weights summed exactly as
    // BigDecimal, one double expression per source, then the q34 hash keep
    val census = u.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    def r6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val w6 = census.map { case (s, n) => s -> r6(math.sqrt(n.toDouble)) }.toMap
    val sTot = w6.values.sum.toDouble // decimal sum: exact, order-free
    val rates = census.map { case (s, n) =>
      s -> math.min(1.0,
        r6(w6(s).toDouble / sTot * target.toDouble / n.toDouble).toDouble)
    }.toMap
    // small sources keep a HIGHER fraction of themselves (the point of
    // temperature < 1), and at least one large source is below 1
    val (minSrc, _) = census.minBy(_._2)
    val (maxSrc, _) = census.maxBy(_._2)
    assert(rates(minSrc) > rates(maxSrc))
    assert(rates(maxSrc) < 1.0)
    val expected = u.select(col("doc_id"), col("source")).collect()
      .filter { r =>
        val id = r.getLong(0)
        val h = java.lang.Long.parseLong(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).substring(0, 8), 16)
        h < rates(r.getString(1)) * 4294967296.0
      }.map(_.getLong(0)).toSet
    assert(got === expected)
    // alpha = 1 is proportional: per-source rate round6(n_s/Σn * T / n_s)
    // collapses to the same value for every source — replay it and check
    // membership
    val alpha1 = Mixing.temperatureSample(u, target, alpha = 1.0)
      .select("doc_id").as[Long].collect().toSet
    val w1 = census.map { case (s, c) => s -> r6(c.toDouble) }.toMap
    val s1 = w1.values.sum.toDouble
    val rates1 = census.map { case (s, c) =>
      s -> math.min(1.0, r6(w1(s).toDouble / s1 * target.toDouble / c.toDouble).toDouble)
    }.toMap
    val expect1 = u.select(col("doc_id"), col("source")).collect()
      .filter { r =>
        val h = java.lang.Long.parseLong(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(r.getLong(0).toString).substring(0, 8), 16)
        h < rates1(r.getString(1)) * 4294967296.0
      }.map(_.getLong(0)).toSet
    assert(alpha1 === expect1)
    // scale shape: the OUTPUT plan is scan + per-row filter — the corpus
    // itself never shuffles (the census ran as separate bounded actions)
    val outPlan = Mixing.temperatureSample(u, target, alpha = 0.5)
      .queryExecution.executedPlan.toString
    assert(!outPlan.contains("Exchange"), outPlan.take(1500))
    // incremental form: rates over the WIDER census, batch rows filtered —
    // membership is a pure function of (id, source rate), so it equals
    // the union-sampled set restricted to the batch
    val standingIds = u.filter($"doc_id" < 250)
    val batchU = u.filter($"doc_id" >= 250)
    val incKept = Mixing.temperatureSample(
        batchU, target, alpha = 0.5, censusOver = Some(u))
      .select("doc_id").as[Long].collect().toSet
    val unionKept = Mixing.temperatureSample(u, target, alpha = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(incKept === unionKept.filter(_ >= 250L))
    assert(standingIds.count() > 0 && incKept.nonEmpty)
  }

  test("Mixing.capPerKey: exact per-key caps, stability, WindowGroupLimit plan") {
    val d = graft.Tables.documentsRaw(spark, "/root/testdata/sf0.001")
    val cap = 7
    val capped = Mixing.capPerKey(d, cap)
    val got = capped.select("doc_id", "source").as[(Long, String)]
      .collect().toMap
    // per-key counts == min(n_key, cap)
    val totals = d.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val byKey = got.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    totals.foreach { case (s, n) =>
      assert(byKey.getOrElse(s, 0L) === math.min(n, cap.toLong), s)
    }
    // layout independence
    val re = Mixing.capPerKey(d.repartition(13), cap)
      .select("doc_id").as[Long].collect().toSet
    assert(re === got.keySet)
    // the kept docs are exactly the cap smallest (hash, id) per key
    val expected = d.select(col("doc_id"), col("source")).collect()
      .map { r =>
        val id = r.getLong(0)
        val h = java.lang.Long.parseLong(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).substring(0, 8), 16)
        (r.getString(1), h, id)
      }
      .groupBy(_._1).values
      .flatMap(_.sortBy(t => (t._2, t._3)).take(cap).map(_._3)).toSet
    assert(got.keySet === expected)
    // eviction-only growth: dropping other docs never evicts a survivor
    val half = Mixing.capPerKey(d.filter($"doc_id" % 2 === 0), cap)
      .select("doc_id").as[Long].collect().toSet
    val fullEvens = got.keySet.filter(_ % 2 == 0)
    assert(fullEvens.subsetOf(half))
    // scale shape: the rank filter compiles to a WindowGroupLimit pass
    // (partial per-map-partition top-k before the exchange)
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("Mixing.capPerKeyIncremental: standing quota, standing wins, batch-form equality when empty") {
    val d = graft.Tables.documentsRaw(spark, "/root/testdata/sf0.001")
    val cap = 7
    val standing = d.filter(expr("doc_id < 250 AND (doc_id div 20) < (doc_id % 20)"))
    val counts = standing.groupBy("source").agg(count(lit(1)).as("n"))
    val batch = d.filter($"doc_id" >= 250)
    val admitted = Mixing.capPerKeyIncremental(batch, counts, cap)
      .select("doc_id", "source").as[(Long, String)].collect()
    // per-key admissions == max(0, cap - n_standing)
    val sn = counts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchKeys = batch.select("source").distinct().as[String].collect()
    val byKey = admitted.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    batchKeys.foreach { k =>
      val want = math.max(0L, cap.toLong - sn.getOrElse(k, 0L))
      assert(byKey.getOrElse(k, 0L) === want, s"key $k: n=${sn.getOrElse(k, 0L)}")
    }
    // admitted docs are the hash-smallest of the batch within each quota
    val full = Mixing.capPerKey(batch, cap)
      .select("doc_id", "source").as[(Long, String)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    admitted.groupBy(_._2).foreach { case (k, rows) =>
      assert(rows.map(_._1).toSet.subsetOf(full(k)),
        s"key $k admitted a doc outside the batch-form top-$cap")
    }
    // empty standing -> exactly the batch form
    val empty = counts.filter(lit(false))
    val asBatch = Mixing.capPerKeyIncremental(batch, empty, cap)
      .select("doc_id").as[Long].collect().toSet
    val batchForm = Mixing.capPerKey(batch, cap)
      .select("doc_id").as[Long].collect().toSet
    assert(asBatch === batchForm)
    // layout independence
    val re = Mixing.capPerKeyIncremental(batch.repartition(11), counts, cap)
      .select("doc_id").as[Long].collect().toSet
    assert(re === admitted.map(_._1).toSet)
  }

  test("Mixing NULL keys: census groups deliver — cap quota respected, temperature rate delivered, literal == join") {
    // NULL sources group in windows AND in groupBy censuses; the census
    // joins must match them null-safely or NULL-keyed docs silently get a
    // fresh cap quota / a zero temperature rate while their census mass
    // still dilutes everyone else
    val rows = (0L until 40L).map(i =>
      (i, if (i % 4 == 0) null else s"s${i % 4}"))
    val batch = rows.toDF("doc_id", "source")
    // standing census: NULL already holds 5 of the cap-7 quota; s1 holds 7
    val counts = Seq((null: String, 5L), ("s1", 7L)).toDF("source", "n")
    val capped = Mixing.capPerKeyIncremental(batch, counts, maxPerKey = 7)
      .select("doc_id", "source")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    val byKey = capped.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byKey.getOrElse(None, 0) === 2,
      "NULL key must get cap - standing = 7 - 5 = 2, not a fresh quota")
    assert(byKey.getOrElse(Some("s1"), 0) === 0, "s1's quota is exhausted")
    assert(byKey(Some("s2")) === 7 && byKey(Some("s3")) === 7)
    // temperature: the NULL census group's rate must DELIVER, in both the
    // literal when-chain and the broadcast-join delivery (identical sets)
    val lit0 = Mixing.temperatureSample(batch, targetDocs = 30L, alpha = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(batch.filter(col("source").isNull)
        .select("doc_id").as[Long].collect().toSet.intersect(lit0).nonEmpty,
      "NULL-source docs must sample at their census rate, not drop to 0")
    spark.conf.set("spark.graft.mix.literalRateCap", "0")
    val joined =
      try Mixing.temperatureSample(batch, targetDocs = 30L, alpha = 0.5)
        .select("doc_id").as[Long].collect().toSet
      finally spark.conf.unset("spark.graft.mix.literalRateCap")
    assert(joined === lit0, "literal and join deliveries must agree on NULL")
    // and the counts-fed form agrees with the self-censused form
    val viaCounts = Mixing.temperatureSampleCounts(
        batch, targetDocs = 30L,
        batch.groupBy("source").agg(count(lit(1)).as("n")))
      .select("doc_id").as[Long].collect().toSet
    assert(viaCounts === lit0)
  }

  test("QualityLr: GD loop matches a pure-Scala replay; planted quality separates") {
    import graft.llm.QualityLr
    val pos = (0L until 12L).map(i =>
      (i, s"informative careful prose number n$i with varied useful words", 1))
    val neg = (12L until 24L).map(i =>
      (i, "spam spam spam buy now spam spam spam spam", 0))
    val d = (pos ++ neg).toDF("doc_id", "text", "label")
    val m = 32; val steps = 3; val lr = 0.5
    val w = QualityLr.trainQualityLr(d, m, steps, lr)
    // independent replay: same integer-micros arithmetic, pure Scala
    // collections (BIGINT sums are order-free, so groupBy order is moot)
    val feats = QualityLr.lrFeatures(d.select("doc_id", "text"), m)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val labels = (pos ++ neg).map(t => t._1 -> t._3.toLong).toMap
    val n = labels.size
    var wr = Array.fill(m + 1)(0L)
    for (_ <- 1 to steps) {
      val z = feats.groupBy(_._1).map { case (id, fs) =>
        id -> fs.map { case (_, b, x) =>
          math.floor((wr(b.toInt) / 1e6 * x) * 1e6).toLong }.sum
      }
      val em = labels.map { case (id, y) =>
        val zm = z.getOrElse(id, 0L)
        id -> (math.floor(1e6 / (1.0 + math.exp(-(zm / 1e6)))).toLong - y * 1000000L)
      }
      val gm = feats.groupBy(_._2).map { case (b, fs) =>
        b -> fs.map { case (id, _, x) =>
          math.floor(((em(id) / 1e6) * x) * 1e6).toLong }.sum
      }
      wr = wr.zipWithIndex.map { case (wv, b) =>
        wv - math.floor(((lr * (gm.getOrElse(b.toLong, 0L) / 1e6)) / n.toDouble) * 1e6).toLong
      }
    }
    assert(w.toSeq === wr.toSeq)
    // scoring separates the planted quality classes completely (disjoint
    // vocab, 3 steps at lr=0.5)
    val scores = QualityLr.scoreQualityLr(d.select("doc_id", "text"), w, m)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val posMin = pos.map(t => scores(t._1)).min
    val negMax = neg.map(t => scores(t._1)).max
    assert(posMin > negMax, s"posMin=$posMin negMax=$negMax")
    // layout independence: training on a repartitioned frame is identical
    val w2 = QualityLr.trainQualityLr(d.repartition(13), m, steps, lr)
    assert(w2.toSeq === w.toSeq)
    // scores are bounded micros
    assert(scores.values.forall(s => s >= 0L && s <= 1000000L))
  }

  test("QualityLr one-vs-rest langid: planted languages separate; ties break to smallest class") {
    import graft.llm.QualityLr
    // three planted languages with DISJOINT vocabularies — the testdata
    // corpus shares one vocabulary across its lang labels, so real
    // separation is only provable on planted classes
    // pure class vocab (no per-doc filler — filler tokens would hash
    // into shared buckets at small m and erode the planted disjointness)
    val aa = (0L until 10L).map(i =>
      (i, (1 to 12).map(j => s"alef$j").mkString(" "), "aa"))
    val bb = (10L until 20L).map(i =>
      (i, (1 to 12).map(j => s"bet$j").mkString(" "), "bb"))
    val cc = (20L until 30L).map(i =>
      (i, (1 to 12).map(j => s"gimel$j").mkString(" "), "cc"))
    val d = (aa ++ bb ++ cc).toDF("doc_id", "text", "lang")
    val m = 128
    // classes passed UNSORTED — the trainer must emit sorted order (the
    // scorer's tie-break contract)
    val models = QualityLr.trainOneVsRestLr(
      d, "lang", Seq("cc", "aa", "bb"), m, steps = 3, lr = 0.5)
    assert(models.map(_._1) === Seq("aa", "bb", "cc"))
    val out = QualityLr.scoreOneVsRestLr(d.select("doc_id", "text"), models, m)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    (aa ++ bb ++ cc).foreach { case (id, _, lang) =>
      assert(out(id)._1 === lang, s"doc $id predicted ${out(id)._1}, wanted $lang")
    }
    assert(out.values.forall { case (_, s) => s >= 0L && s <= 1000000L })
    // tie-break: give classes aa and bb IDENTICAL weights — an aa-vocab
    // doc then scores exactly equal under both (and lower under cc, per
    // the separation above), so argmax must keep the lexicographically
    // smallest of the tied classes
    val wAa = models.find(_._1 == "aa").get._2
    val tiedModels = Seq(
      "aa" -> wAa, "bb" -> wAa, "cc" -> models.find(_._1 == "cc").get._2)
    val tied = QualityLr.scoreOneVsRestLr(
        Seq((99L, aa.head._2)).toDF("doc_id", "text"), tiedModels, m)
      .head()
    assert(tied.getString(1) === "aa")
    // layout independence: training on a repartitioned frame is identical
    val re = QualityLr.trainOneVsRestLr(
      d.repartition(7), "lang", Seq("aa", "bb", "cc"), m, steps = 3, lr = 0.5)
    assert(re.map { case (c, w) => c -> w.toSeq } ===
      models.map { case (c, w) => c -> w.toSeq })
    // the FUSED loop == an independent per-class trainQualityLr run,
    // weight for weight (fusing changes the plan, not one value)
    val indep = QualityLr.trainQualityLr(
      d.withColumn("label", ($"lang" === "bb").cast("int")), m, steps = 3, lr = 0.5)
    assert(models.find(_._1 == "bb").get._2.toSeq === indep.toSeq)
  }

  test("QualityLr weights above the literal cap broadcast-join; values identical") {
    import graft.llm.QualityLr
    // the cap-and-degrade gate (spark.graft.lr.literalWeightCap): above
    // it every weight delivery — trainQualityLr's per-step logit, the
    // fused one-vs-rest trainer, and both scorers — switches from
    // element_at on a typedlit map to a broadcast-joined (bucket, w)
    // frame. The arithmetic is term-for-term the same IEEE expression
    // over the same driver-side doubles with order-free BIGINT sums, so
    // weights and scores must be BIT-IDENTICAL across the switch.
    val pos = (0L until 12L).map(i =>
      (i, s"informative careful prose number n$i with varied useful words", 1))
    val neg = (12L until 24L).map(i =>
      (i, "spam spam spam buy now spam spam spam spam", 0))
    val d = (pos ++ neg).toDF("doc_id", "text", "label")
    val aa = (0L until 10L).map(i =>
      (i, (1 to 12).map(j => s"alef$j").mkString(" "), "aa"))
    val bb = (10L until 20L).map(i =>
      (i, (1 to 12).map(j => s"bet$j").mkString(" "), "bb"))
    val dl = (aa ++ bb).toDF("doc_id", "text", "lang")
    val m = 32
    def run(): (Seq[Long], Seq[(Long, Long)], Seq[(String, Seq[Long])], Seq[(Long, String, Long)]) = {
      val w = QualityLr.trainQualityLr(d, m, steps = 2, lr = 0.5)
      val s = QualityLr.scoreQualityLr(d.select("doc_id", "text"), w, m)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val models = QualityLr.trainOneVsRestLr(
        dl, "lang", Seq("aa", "bb"), m, steps = 2, lr = 0.5)
      val p = QualityLr.scoreOneVsRestLr(dl.select("doc_id", "text"), models, m)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
      (w.toSeq, s, models.map { case (c, wm) => c -> wm.toSeq }, p)
    }
    val lit4 = run() // default cap (1024 >= 33 and 2*33): literal form
    spark.conf.set("spark.graft.lr.literalWeightCap", "0") // force join form
    try {
      assert(run() === lit4)
      // and the join form really does plan a broadcast join carrying the
      // weight column (the doc_id restore join can broadcast too at spec
      // scale, so pin the __w_0 weight frame specifically)
      val w = lit4._1.toArray
      val plan = QualityLr.scoreQualityLr(d.select("doc_id", "text"), w, m)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && plan.contains("__w_0"),
        plan.take(2000))
    } finally spark.conf.unset("spark.graft.lr.literalWeightCap")
  }

  test("QualityLr.trainLrChains: mixed quality+langid chains == independent trainers; scoreOnFeats == scoreQualityLr") {
    import graft.llm.QualityLr
    import org.apache.spark.sql.functions.{col, lit}
    val rows = (0L until 16L).map { i =>
      val aa = i % 2 == 0
      (i,
        (if (aa) (1 to 10).map(j => s"alef$j") else (1 to 10).map(j => s"bet$j"))
          .mkString(" ") + s" tail$i",
        if (aa) "aa" else "bb",
        if (i % 4 < 2) 1 else 0)
    }.toDF("doc_id", "text", "lang", "label")
    val m = 32
    // one fused call trains the langid one-vs-rest chains AND the quality
    // binary over a single featurize — q103's recipe
    val chains = Seq("aa", "bb").map(c =>
      c -> (col("lang") === lit(c)).cast("long")) :+
      ("q" -> col("label").cast("long"))
    val (trained, feats) = QualityLr.trainLrChainsWithFeats(
      rows, chains, m, steps = 2, lr = 0.5)
    val byName = trained.toMap
    // == the standalone one-vs-rest trainer (itself fused, class-sorted)
    val models = QualityLr.trainOneVsRestLr(
      rows, "lang", Seq("aa", "bb"), m, steps = 2, lr = 0.5)
    models.foreach { case (c, w) =>
      assert(byName(c).toSeq === w.toSeq, s"class $c drifted in the fused call")
    }
    // == the standalone quality trainer
    val qw = QualityLr.trainQualityLr(rows, m, steps = 2, lr = 0.5)
    assert(byName("q").toSeq === qw.toSeq)
    // calibration path: scoring the trainer's own checkpointed feats ==
    // the full scoreQualityLr chain over the same docs
    val viaFeats = QualityLr.scoreOnFeats(feats, qw)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val viaFull = QualityLr.scoreQualityLr(rows.select("doc_id", "text"), qw, m)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(viaFeats === viaFull)
    // NULL label in ANY chain fails loudly, naming the chain
    val e = intercept[IllegalArgumentException] {
      QualityLr.trainLrChains(
        rows.withColumn("label",
          org.apache.spark.sql.functions.when(col("doc_id") === 3L, lit(null))
            .otherwise(col("label"))),
        chains, m, steps = 1, lr = 0.5)
    }
    assert(e.getMessage.contains("chain 'q'"))
  }

  test("QualityLr weight tables: regime stamped + derived, torn/partial refuse, re-train swaps, crashed swap heals") {
    import graft.llm.QualityLr
    val dir = java.nio.file.Files.createTempDirectory("qlr_guard_").toString
    val p = s"$dir/w"
    def exists(s: String): Boolean =
      java.nio.file.Files.exists(java.nio.file.Paths.get(s))
    // (a) round-trip with m DERIVED from the table; provenance stamped
    val w16 = Array.tabulate(17)(i => i.toLong * 1000L - 3L)
    QualityLr.writeWeights(spark, w16, p, steps = Some(3), lr = Some(0.5))
    val (back, m16) = QualityLr.loadWeights(spark, p)
    assert(back.toSeq === w16.toSeq && m16 === 16)
    val prov = spark.read.parquet(p).select("m", "steps", "lr")
      .distinct().collect()
    assert(prov.length === 1 && prov.head.getInt(0) === 16 &&
      prov.head.getInt(1) === 3 && prov.head.getDouble(2) === 0.5)
    // (b) RE-TRAIN at a different m: the load reports the NEW regime —
    // there is no caller flag left to drift out of sync — and the swap
    // leaves no staging debris
    val w8 = Array.tabulate(9)(i => -i.toLong)
    QualityLr.writeWeights(spark, w8, p)
    val (b2, m8) = QualityLr.loadWeights(spark, p)
    assert(b2.toSeq === w8.toSeq && m8 === 8)
    assert(!exists(p + "__retired") && !exists(p + "__staged"))
    // (c) PARTIALLY-COMMITTED table (the torn-overwrite shape a direct
    // mode("overwrite") could leave): self-consistent m, missing buckets
    val p2 = s"$dir/torn"
    Seq((0L, 1L, 8), (1L, 2L, 8)).toDF("bucket", "wm", "m")
      .write.mode("overwrite").parquet(p2)
    val e = intercept[IllegalArgumentException](QualityLr.loadWeights(spark, p2))
    assert(e.getMessage.contains("partially-committed"))
    // (d) MIXED-REGIME rows (two writes torn together)
    val p3 = s"$dir/mixed"
    (Seq.tabulate(9)((i: Int) => (i.toLong, 1L, 8)) :+ ((9L, 1L, 16)))
      .toDF("bucket", "wm", "m")
      .write.mode("overwrite").parquet(p3)
    val e2 = intercept[IllegalArgumentException](QualityLr.loadWeights(spark, p3))
    assert(e2.getMessage.contains("torn"))
    // (e) CRASHED SWAP (live missing, complete __retired): load heals
    java.nio.file.Files.move(
      java.nio.file.Paths.get(p), java.nio.file.Paths.get(p + "__retired"))
    val (b3, m3) = QualityLr.loadWeights(spark, p)
    assert(b3.toSeq === w8.toSeq && m3 === 8)
    // (f) the one-vs-rest twin: one shared m enforced at write, derived
    // at load; a ragged model set refuses before anything lands
    val pm = s"$dir/models"
    val models = Seq(
      "aa" -> Array.tabulate(9)(i => i.toLong),
      "bb" -> Array.tabulate(9)(i => -i.toLong))
    QualityLr.writeOneVsRestModels(spark, models, pm, steps = Some(2))
    val (mBack, mm) = QualityLr.loadOneVsRestModels(spark, pm)
    assert(mBack.map { case (c, w) => (c, w.toSeq) } ===
      models.map { case (c, w) => (c, w.toSeq) } && mm === 8)
    intercept[IllegalArgumentException](QualityLr.writeOneVsRestModels(
      spark, Seq("aa" -> Array.fill(9)(0L), "bb" -> Array.fill(17)(0L)),
      s"$dir/ragged"))
    assert(!exists(s"$dir/ragged"), "a refused write must not land")
    // a class whose bucket rows are incomplete refuses at load
    val p4 = s"$dir/classtorn"
    Seq(("aa", 0L, 1L, 1), ("aa", 1L, 2L, 1), ("bb", 0L, 3L, 1))
      .toDF("class", "bucket", "wm", "m")
      .write.mode("overwrite").parquet(p4)
    val e3 = intercept[IllegalArgumentException](
      QualityLr.loadOneVsRestModels(spark, p4))
    assert(e3.getMessage.contains("partially-committed"))
    // (g) LEGACY table (pre-regime-stamp (bucket, wm) shape): loud,
    // actionable refusal — not a raw unresolved-column AnalysisException
    val p5 = s"$dir/legacy"
    Seq((0L, 1L), (1L, 2L)).toDF("bucket", "wm")
      .write.mode("overwrite").parquet(p5)
    val e4 = intercept[IllegalArgumentException](QualityLr.loadWeights(spark, p5))
    assert(e4.getMessage.contains("no regime stamp"))
    val e5 = intercept[IllegalArgumentException](
      QualityLr.loadOneVsRestModels(spark, p5))
    assert(e5.getMessage.contains("no regime stamp"))
  }

  test("QualityLr weight-table swap lock: writes leave no lock, fresh lock blocks the reader heal, stale lock does not") {
    import graft.llm.QualityLr
    val dir = java.nio.file.Files.createTempDirectory("qlr_lock_").toString
    val p = s"$dir/w"
    def path(s: String) = java.nio.file.Paths.get(s)
    val w8 = Array.tabulate(9)(i => i.toLong)
    QualityLr.writeWeights(spark, w8, p)
    QualityLr.writeWeights(spark, w8.map(-_), p) // swap path
    assert(!java.nio.file.Files.exists(path(p + "__lock")),
      "a completed swap must release the lock")
    // crash shape: live stranded at __retired, plus a FRESH lock (a live
    // writer mid-swap) — the reader must NOT heal (racing the writer's
    // renames) and, the writer never finishing here, must fail loudly
    // after its bounded retries rather than hang
    java.nio.file.Files.move(path(p), path(p + "__retired"))
    java.nio.file.Files.createFile(path(p + "__lock"))
    intercept[Exception](QualityLr.loadWeights(spark, p))
    assert(java.nio.file.Files.exists(path(p + "__retired")),
      "reader must not heal under a fresh lock")
    // age the lock past the stale horizon: a crashed writer must not
    // block healing forever — the reader now heals and loads
    java.nio.file.Files.setLastModifiedTime(path(p + "__lock"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 11L * 60 * 1000))
    val (back, m) = QualityLr.loadWeights(spark, p)
    assert(back.toSeq === w8.map(-_).toSeq && m === 8)
    // a WRITER arriving at the (still present) stale lock breaks it and
    // proceeds
    QualityLr.writeWeights(spark, w8, p)
    assert(QualityLr.loadWeights(spark, p)._1.toSeq === w8.toSeq)
    assert(!java.nio.file.Files.exists(path(p + "__lock")))
  }

  test("Dedup.dedupNearLshKeepBest: max-score representative per cluster") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa one"
    val b = "red orange yellow green blue indigo violet umber sepia ochre two"
    val rows = Seq(
      (1L, a),                                 // cluster A, shortest
      (2L, a + " extra tail words here"),      // cluster A, LONGEST -> rep
      (3L, a + " extra"),                      // cluster A, middle
      (20L, b + " padding tokens making this the longest one"), // cluster B rep
      (21L, b),
      (30L, "completely unrelated unique document with its own distinct tokens"),
      (31L, "another standalone text sharing nothing with anything else at all"),
    )
    val d = rows.toDF("doc_id", "text")
    val best = Dedup.dedupNearLshKeepBest(d, tau = 0.5, length($"text"))
      .select("doc_id").as[Long].collect().toSet
    assert(best === Set(2L, 20L, 30L, 31L))
    // min-id policy keeps the same NUMBER per cluster, different members
    val minId = Dedup.dedupNearLsh(d, tau = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(minId === Set(1L, 20L, 30L, 31L))
    assert(minId.size === best.size)
    // layout independence
    val re = Dedup.dedupNearLshKeepBest(d.repartition(5), tau = 0.5, length($"text"))
      .select("doc_id").as[Long].collect().toSet
    assert(re === best)
    // tie on score -> min doc_id: equal-length exact replicas
    val ties = Seq((5L, a), (6L, a), (7L, a)).toDF("doc_id", "text")
    val t = Dedup.dedupNearLshKeepBest(ties, tau = 0.5, length($"text"))
      .select("doc_id").as[Long].collect().toSet
    assert(t === Set(5L))
  }

  test("TextOps.sourceTokenProfile: matches Spark's exact percentile aggregate") {
    val d = graft.Tables.documentsRaw(spark, "/root/testdata/sf0.001")
    val ps = Seq(0.25, 0.5, 0.95)
    val got = TextOps.sourceTokenProfile(d, ps)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // reference: the memory-buffering built-in (fine at spec scale)
    val ref = d
      .withColumn("v", size(split($"text", " ")).cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n"),
        round(expr("percentile(v, 0.25)"), 6).as("p25"),
        round(expr("percentile(v, 0.5)"), 6).as("p50"),
        round(expr("percentile(v, 0.95)"), 6).as("p95"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got === ref)
    // layout independence
    val re = TextOps.sourceTokenProfile(d.repartition(13), ps)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(re === got)
    // single-doc source edge: every percentile is that doc's count
    val one = Seq((1L, "a b c", "solo")).toDF("doc_id", "text", "source")
    val row = TextOps.sourceTokenProfile(one, ps).head()
    assert(row.getLong(1) === 1L)
    assert(Seq(2, 3, 4).map(row.getDouble) === Seq(3.0, 3.0, 3.0))
  }

  test("Mixing.curriculumStages: hierarchical rank == flat ntile, incl. edges") {
    import org.apache.spark.sql.expressions.Window
    // uneven N (not divisible by nStages), duplicate scores, out-of-range
    // scores (clamped for bucketing only), plus the N < nStages edge
    val rows = Seq(
      (1L, 0.91), (2L, 0.13), (3L, 0.13), (4L, 0.55), (5L, -0.2), // < lo: clamps
      (6L, 1.7), (7L, 0.55), (8L, 0.0), (9L, 0.42), (10L, 0.55),
      (11L, 0.99), (12L, 0.77), (13L, 0.13),
    ).toDF("doc_id", "score")
    for (nStages <- Seq(1, 3, 4, 20)) { // 20 > N=13: one row per tile
      val got = Mixing.curriculumStages(rows, $"score", nStages)
        .select("doc_id", "stage").as[(Long, Int)].collect().toMap
      val want = rows.coalesce(1)
        .withColumn("stage", ntile(nStages).over(
          Window.partitionBy(lit(1)).orderBy($"score".asc, $"doc_id".asc)))
        .select("doc_id", "stage").as[(Long, Int)].collect().toMap
      assert(got === want, s"nStages=$nStages")
    }
    // stages are contiguous in score order and balanced to within one row
    val staged = Mixing.curriculumStages(rows, $"score", 4)
      .select("stage").as[Int].collect()
    val sizes = staged.groupBy(identity).view.mapValues(_.size).values.toSet
    assert(sizes.max - sizes.min <= 1)
  }

  test("bloom-pre-filtered decontamination equals the exact form") {
    // real corpus split: eval = doc_id % 50 == 0, train = the rest (the
    // q36 shape) — the bloom pre-filter must not change the answer
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val eval_ = d.filter($"doc_id" % 50 === 0)
    val train = d.filter($"doc_id" % 50 =!= 0)
    val exact = TextOps.contaminatedIds(train, eval_, 5).as[Long].collect().toSet
    val bloom = TextOps.contaminatedIdsBloom(train, eval_, 5).as[Long].collect().toSet
    assert(bloom === exact)
    assert(exact.nonEmpty) // non-vacuous on the planted near-dups
    // and with a pathologically tiny filter (all-FP regime) it still
    // cannot over-report: the exact join behind it is the gate
    val tiny = TextOps.contaminatedIdsBloom(train, eval_, 5,
      expectedItems = 10L, numBits = 64L).as[Long].collect().toSet
    assert(tiny === exact)
  }

  test("crossNearDupIds: whole-doc similarity vs single-shingle overlap") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "s1"), // near-dup of eval
      (2L, "spark shuffles data between stages using hash partitioning", "s1"), // exact dup of eval
      (3L, "the quick brown completely different everything else here now", "s1"), // ONE shared shingle
      (4L, "unrelated content about databases and indexes in production", "s1"),
    ).toDF("doc_id", "text", "source")
    val eval_ = Seq(
      (100L, "the quick brown fox jumps over the lazy cat today", "e"),
      (101L, "spark shuffles data between stages using hash partitioning", "e"),
    ).toDF("doc_id", "text", "source")

    val fuzzy = TextOps.crossNearDupIds(train, eval_, tau = 0.5)
      .as[Long].collect().toSet
    assert(fuzzy === Set(1L, 2L)) // whole-doc similarity: 3 is NOT flagged
    // the single-shingle guard DOES flag doc 3 — the two operators answer
    // different questions, both needed
    val exactOverlap = TextOps.contaminatedIds(train, eval_, 3)
      .as[Long].collect().toSet
    assert(exactOverlap.contains(3L) && exactOverlap.contains(1L) && exactOverlap.contains(2L))
    assert(!exactOverlap.contains(4L))
  }

  test("repetitionStats flags repeated n-grams; decontaminate drops overlapping docs") {
    val d = Seq(
      (1L, "a b a b a b", "s"),            // "a b" 3x + "b a" 2x of 5 bigrams
      (2L, "all words here are unique ok", "s"),
      (3L, "x", "s"),                       // shorter than n
    ).toDF("doc_id", "text", "source")
    val rep = TextOps.repetitionStats(d, 2).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(rep(1L)._1 === 5)
    assert(math.abs(rep(1L)._2 - (1.0 - 2.0 / 5)) < 1e-9) // 2 distinct of 5
    assert(math.abs(rep(1L)._3 - 3.0 / 5) < 1e-9)         // "a b" 3 of 5
    assert(rep(2L)._2 === 0.0 && rep(2L)._3 === 1.0 / 5)
    assert(rep(3L) === ((0, 0.0, 0.0)))

    val train = Seq(
      (10L, "the quick brown fox jumps over the dog", "s"),
      (11L, "totally unrelated content with other tokens", "s"),
    ).toDF("doc_id", "text", "source")
    val eval_ = Seq(
      (90L, "we ask whether the quick brown fox jumps today", "s"),
    ).toDF("doc_id", "text", "source")
    val surv = TextOps.decontaminate(train, eval_, 4)
      .select("doc_id").as[Long].collect().toSet
    assert(surv === Set(11L)) // doc 10 shares the 4-gram "the quick brown fox"
    val flagged = TextOps.contaminatedIds(train, eval_, 4)
      .as[Long].collect().toSet
    assert(flagged === Set(10L))
  }

  test("Dedup.exact keeps the min-id row per identical text") {
    val out = Dedup.exact(docs).select("doc_id").as[Long].collect().toSet
    assert(out === Set(1L, 2L, 3L, 5L, 6L)) // doc 4 (== doc 3) dropped
  }

  test("incrementalBucketPairs: incoming-only pair gen, cap, standing-only silence") {
    // band buckets: b1 = {standing 1, 2; incoming 10, 11}, b2 = {standing
    // 3, 4} (no incoming -> NO pairs), b3 = {incoming 20, standing 30}
    // (standing id HIGHER than incoming -> pair still emitted)
    val bands = Seq(
      (1L, 0, "b1", 0L), (2L, 0, "b1", 0L), (10L, 0, "b1", 1L), (11L, 0, "b1", 1L),
      (3L, 0, "b2", 0L), (4L, 0, "b2", 0L),
      (20L, 0, "b3", 1L), (30L, 0, "b3", 0L),
    ).toDF("doc_id", "band", "sig", "inc")
    val pairs = TextOps.incrementalBucketPairs(bands, maxBucketSize = 100)
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set(
      (1L, 10L), (2L, 10L),            // incoming 10 vs both standing
      (1L, 11L), (2L, 11L), (10L, 11L), // incoming 11 vs standing + lower inc
      (30L, 20L),                       // standing wins though 30 > 20
    ))
    // the bucket cap silences oversized buckets entirely
    assert(TextOps.incrementalBucketPairs(bands, maxBucketSize = 3)
      .filter($"doc_b" === 10L || $"doc_b" === 11L).count() === 0L)
  }

  test("exactIncremental: standing digests drop incoming; batch min-id wins") {
    val standing = Seq((100L, "alpha"), (101L, "beta")).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "alpha"),  // already in standing (higher standing id) -> drops
      (2L, "gamma"),  // novel -> survives
      (3L, "gamma"),  // batch dup of 2 -> drops
      (4L, "delta"),  // novel -> survives
    ).toDF("doc_id", "text")
    val out = Dedup.exactIncremental(incoming, standing)
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(2L, 4L))
  }

  test("exactIncremental: NULL text matches exact()'s null grouping") {
    val standing = Seq((100L, null), (101L, "beta"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, null),    // standing NULL wins -> drops
      (2L, null),    // batch dup of a dropped null -> drops
      (3L, "gamma"), // novel -> survives
    ).toDF("doc_id", "text")
    val out = Dedup.exactIncremental(incoming, standing)
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(3L))
    // and with no standing null, the batch window groups nulls like exact()
    val out2 = Dedup.exactIncremental(incoming, standing.filter($"text".isNotNull))
      .select("doc_id").as[Long].collect().toSet
    assert(out2 === Set(1L, 3L))
  }

  test("dedupNearLshIncremental: standing wins at any id order; batch greedy by id") {
    val body = (1 to 30).map(j => s"w$j").mkString(" ")
    val other = (1 to 30).map(j => s"z$j").mkString(" ")
    // standing doc 100 has a HIGHER id than incoming 5 — must still win
    val standing = Seq((100L, body)).toDF("doc_id", "text")
      .withColumn("source", lit("s"))
    val incoming = Seq(
      (5L, body + " w31"),    // near-dup of standing 100 -> drops
      (6L, other),            // novel -> survives
      (7L, other + " z31"),   // near-dup of LOWER-id incoming 6 -> drops
    ).toDF("doc_id", "text").withColumn("source", lit("s"))
    val out = Dedup.dedupNearLshIncremental(incoming, standing, tau = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(6L))
  }

  test("dedupNearLshIncremental == union dedupNearLsh when standing ids precede") {
    val rnd = new scala.util.Random(77)
    def doc(seed: Int): String =
      (1 to 25).map(j => s"t${seed}x$j").mkString(" ")
    // 40 base texts; standing = ids 0-59, incoming = ids 1000+, with
    // near-dups planted across the boundary and inside the batch
    val standing = (0 until 60).map(i => (i.toLong, doc(rnd.nextInt(40))))
      .toDF("doc_id", "text").withColumn("source", lit("s"))
    val incoming = (0 until 60).map(i => (1000L + i, doc(rnd.nextInt(40))))
      .toDF("doc_id", "text").withColumn("source", lit("s"))
    val inc = Dedup.dedupNearLshIncremental(incoming, standing, tau = 0.8)
      .select("doc_id").as[Long].collect().toSet
    val viaUnion = Dedup.dedupNearLsh(standing.unionByName(incoming), tau = 0.8)
      .select("doc_id").as[Long].collect().toSet
      .filter(_ >= 1000L)
    assert(inc === viaUnion)
    assert(inc.nonEmpty && inc.size < 60) // non-vacuous: some dropped, some kept
  }

  test("learnBpeMerges: hand-computed merge sequence, greedy rewrite, early stop") {
    // freq: low 5, lower 2, newest 6, widest 3 — by hand:
    //   round 0: (e,s)=9 ties (s,t)=9, lexicographic -> (e,s)
    //   round 1: (es,t)=9
    //   round 2: (l,o)=7 ties (o,w)=7 -> (l,o)
    //   round 3: (lo,w)=7
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val merges = TextOps.learnBpeMerges(docs, 4)
      .orderBy("round")
      .select("round", "left", "right", "pair_freq")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(merges === Seq(
      (0, "e", "s", 9L), (1, "es", "t", 9L),
      (2, "l", "o", 7L), (3, "lo", "w", 7L)))
    // greedy non-overlap: "aaaa" merges (a,a) twice per word, not three
    // times — zip counting sees 3, the rewrite leaves exactly 2 symbols
    val aa = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val m2 = TextOps.learnBpeMerges(aa, 2)
      .orderBy("round")
      .select("left", "right", "pair_freq").as[(String, String, Long)].collect().toSeq
    assert(m2 === Seq(("a", "a", 6L), ("aa", "aa", 2L)))
    // early stop: single-char words run out of pairs
    val tiny = Seq((1L, "a b a b")).toDF("doc_id", "text")
    assert(TextOps.learnBpeMerges(tiny, 5).count() === 0L)

    // applyBpe replays the learned table in order: all 4 merges give
    // "low" = low (l,o then lo,w), "lower" = low|e|r, "newest" = n|e|w|est
    val learned = merges.map { case (_, l, r, _) => (l, r) }
    val enc = TextOps.applyBpe(
      Seq((1L, "low lower newest")).toDF("doc_id", "text"), learned)
      .select("bpe_tokens", "n_bpe_tokens")
      .as[(Seq[String], Int)].collect().head
    assert(enc._1 === Seq("low", "low", "e", "r", "n", "e", "w", "est"))
    assert(enc._2 === 8)
  }

  test("learnBpeMergesCollected == learnBpeMerges on randomized corpora") {
    val rnd = new scala.util.Random(64)
    for (trial <- 0 until 3) {
      // random words over a small alphabet force heavy pair collisions,
      // ties, overlapping runs (aaa...), and early exhaustion paths
      val words = Seq.fill(40)(
        (0 until (1 + rnd.nextInt(7))).map(_ => ('a' + rnd.nextInt(4)).toChar)
          .mkString)
      val docs = (0 until 20).map { i =>
        (i.toLong, Seq.fill(8)(words(rnd.nextInt(words.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val dist = TextOps.learnBpeMerges(docs, 15)
        .orderBy("round")
        .select("round", "left", "right", "pair_freq")
        .as[(Int, String, String, Long)].collect().toSeq
      val coll = TextOps.learnBpeMergesCollected(docs, 15)
        .orderBy("round")
        .select("round", "left", "right", "pair_freq")
        .as[(Int, String, String, Long)].collect().toSeq
      assert(coll === dist, s"trial $trial")
    }
  }

  test("bpe decode: roundtrip identity on randomized corpora; by-word == flattened stream") {
    val rnd = new scala.util.Random(4096)
    val words = Seq.fill(25)(
      (0 until (1 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(5)).toChar).mkString)
    val docs = (0 until 12).map { i =>
      // plant double spaces and trailing spaces — decode reproduces the
      // whitespace-NORMALIZED text (split, drop empties, single-space join)
      val sep = if (i % 3 == 0) "  " else " "
      (i.toLong, Seq.fill(7)(words(rnd.nextInt(words.size))).mkString(sep) +
        (if (i % 4 == 0) " " else ""))
    }.toDF("doc_id", "text")
    val merges = TextOps.learnBpeMergesCollected(docs, 8)
      .orderBy("round").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    assert(merges.nonEmpty)
    val byWord = TextOps.applyBpeByWord(docs, merges).localCheckpoint(true)
    // decode(encode(x)) == whitespace-normalized x, for every doc
    val decoded = TextOps.bpeDecode(byWord)
      .select("doc_id", "decoded").as[(Long, String)].collect().toMap
    val expected = docs.select(col("doc_id"),
        expr("array_join(filter(split(text, ' '), w -> length(w) > 0), ' ')"))
      .as[(Long, String)].collect().toMap
    assert(decoded === expected)
    // the by-word form flattens to exactly the q77 stream (same fold)
    val flatFromWords = byWord
      .select(col("doc_id"), expr("flatten(bpe_word_tokens)").as("t"), col("n_bpe_tokens"))
      .as[(Long, Seq[String], Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val flat = TextOps.applyBpe(docs, merges)
      .select(col("doc_id"), col("bpe_tokens"), col("n_bpe_tokens"))
      .as[(Long, Seq[String], Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(flatFromWords === flat)
  }

  test("chunkByTokens: overlapping windows cover every token; edges hand-verified") {
    val toks = (1 to 100).map(i => s"t$i")
    val docs = Seq(
      (1L, toks.mkString(" ")),              // 100 tokens: 3 windows at 40/30
      (2L, toks.take(95).mkString(" ")),     // partial last window (35 tokens)
      (3L, toks.take(40).mkString(" ")),     // exactly one full window
      (4L, toks.take(5).mkString(" ")),      // short doc: one partial window
      (5L, "")).toDF("doc_id", "text")       // empty doc: one empty chunk
    val out = TextOps.chunkByTokens(docs, width = 40, stride = 30)
      .orderBy("doc_id", "chunk_pos")
      .select("doc_id", "chunk_pos", "chunk_text", "n_tokens")
      .as[(Long, Int, String, Int)].collect().toSeq
    def win(a: Int, b: Int) = toks.slice(a - 1, b).mkString(" ")
    assert(out.filter(_._1 == 1L) === Seq(
      (1L, 0, win(1, 40), 40), (1L, 1, win(31, 70), 40), (1L, 2, win(61, 100), 40)))
    assert(out.filter(_._1 == 2L).map(c => (c._2, c._4)) === Seq((0, 40), (1, 40), (2, 35)))
    assert(out.filter(_._1 == 2L).last._3 === win(61, 95))
    assert(out.filter(_._1 == 3L) === Seq((3L, 0, win(1, 40), 40)))
    assert(out.filter(_._1 == 4L) === Seq((4L, 0, win(1, 5), 5)))
    assert(out.filter(_._1 == 5L) === Seq((5L, 0, "", 0)))
    // stride == width degenerates to disjoint fixed windows
    val disjoint = TextOps.chunkByTokens(docs.filter(col("doc_id") === 1L), 25, 25)
      .orderBy("chunk_pos").select("chunk_text", "n_tokens")
      .as[(String, Int)].collect().toSeq
    assert(disjoint === Seq((win(1, 25), 25), (win(26, 50), 25),
      (win(51, 75), 25), (win(76, 100), 25)))
    // every token of doc 1 appears in at least one window (coverage)
    val covered = out.filter(_._1 == 1L).flatMap(_._3.split(" ")).toSet
    assert(covered === toks.toSet)
    // invalid strides are loud
    intercept[IllegalArgumentException](TextOps.chunkByTokens(docs, 10, 11))
    intercept[IllegalArgumentException](TextOps.chunkByTokens(docs, 10, 0))
  }

  test("removeDuplicatedSpans: unaligned cross-doc runs removed exactly; intra-doc repetition kept") {
    val rnd = new scala.util.Random(2025)
    def uniq(n: Int): Seq[String] = Seq.fill(n)(
      "u" + rnd.alphanumeric.filter(_.isLetter).take(8).mkString.toLowerCase)
    val boiler = (1 to 12).map(i => s"shared$i")
    // doc 1/2: the 12-token boiler spliced at DIFFERENT offsets inside
    // otherwise-unique token streams — the unaligned case the positional
    // chunker (w-aligned) misses
    val d1 = (uniq(5) ++ boiler ++ uniq(9)).mkString(" ")
    val d2 = (uniq(3) ++ boiler ++ uniq(11)).mkString(" ")
    // doc 3: unique content only
    val d3u = uniq(20)
    val d3 = d3u.mkString(" ")
    // doc 4: an INTRA-doc repeated run (twice in the same doc, nowhere
    // else) — must be kept (cross-doc census only)
    val rep = (1 to 8).map(i => s"rep$i")
    val d4 = (rep ++ uniq(4) ++ rep ++ uniq(3)).mkString(" ")
    // doc 5: all boiler — comes back empty
    val d5 = boiler.mkString(" ")
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4), (5L, d5))
      .toDF("doc_id", "text")
    val out = TextOps.removeDuplicatedSpans(docs, w = 8, minDocs = 2)
      .orderBy("doc_id")
      .select("doc_id", "text", "n_tokens", "n_removed")
      .as[(Long, String, Int, Int)].collect().toSeq
    val byId = out.map(r => r._1 -> r).toMap
    // every boiler token (and only those) removed from docs 1/2 — the
    // unique context has no cross-doc 8-gram
    assert(byId(1L)._4 === 12 && !byId(1L)._2.contains("shared"))
    assert(byId(2L)._4 === 12 && !byId(2L)._2.contains("shared"))
    assert(byId(1L)._2.split(" ").length === byId(1L)._3 - 12)
    // unique doc untouched (whitespace-normalized passthrough)
    assert(byId(3L) === ((3L, d3, 20, 0)))
    // intra-doc repetition kept whole
    assert(byId(4L) === ((4L, d4, 23, 0)))
    // the all-boiler doc: its 12 tokens ARE the shared run -> empty
    assert(byId(5L)._2 === "" && byId(5L)._4 === 12)
    // and the POSITIONAL chunker misses the unaligned case entirely at
    // the same width (both docs' fixed chunks mix boiler with unique
    // context), which is exactly why the sliding form exists
    val positional = TextOps.removeDuplicatedPassages(
      Seq((1L, d1), (2L, d2)).toDF("doc_id", "text"), w = 8, minDocs = 2)
      .select("doc_id", "n_removed").as[(Long, Int)].collect().toMap
    assert(positional(1L) === 0 && positional(2L) === 0)
  }

  test("removeDuplicatedSpansIncremental == full sliding census restricted to batch; append closes the cycle") {
    val rnd = new scala.util.Random(86)
    def uniq(n: Int): Seq[String] = Seq.fill(n)(
      "v" + rnd.alphanumeric.filter(_.isLetter).take(7).mkString.toLowerCase)
    val boiler = (1 to 10).map(i => s"sp$i")
    // standing: one doc carries the run; batch: two docs carry it at
    // different offsets (one also matched by the within-batch leg via a
    // second batch-only run), plus clean docs
    val brun = (1 to 10).map(i => s"bo$i")
    val standing = Seq(
      (1L, (uniq(6) ++ boiler ++ uniq(5)).mkString(" ")),
      (2L, uniq(15).mkString(" ")))
    val batch = Seq(
      (10L, (uniq(2) ++ boiler ++ uniq(7)).mkString(" ")), // vs standing leg
      (11L, (brun ++ uniq(6)).mkString(" ")),              // within-batch leg...
      (12L, (uniq(4) ++ brun ++ uniq(2)).mkString(" ")),   // ...x2, unaligned
      (13L, uniq(14).mkString(" ")))                       // clean
    val w = 6
    val standingDf = standing.toDF("doc_id", "text")
    val batchDf = batch.toDF("doc_id", "text")
    val inc = TextOps.removeDuplicatedSpansIncremental(
        batchDf, TextOps.spanWindowHashes(standingDf, w), w, minDocs = 2)
      .orderBy("doc_id")
      .select("doc_id", "text", "n_tokens", "n_removed")
      .as[(Long, String, Int, Int)].collect().toSeq
    // at minDocs = 2, exactly the full census over standing UNION batch,
    // restricted to the batch rows (one standing occurrence + the batch
    // occurrence already makes two distinct docs)
    val full = TextOps.removeDuplicatedSpans(
        standingDf.unionByName(batchDf), w, minDocs = 2)
      .filter(col("doc_id") >= 10L)
      .orderBy("doc_id")
      .select("doc_id", "text", "n_tokens", "n_removed")
      .as[(Long, String, Int, Int)].collect().toSeq
    assert(inc === full)
    val byId = inc.map(r => r._1 -> r).toMap
    assert(byId(10L)._4 === 10 && !byId(10L)._2.contains("sp"))
    assert(byId(11L)._4 === 10 && byId(12L)._4 === 10,
      "the batch-only run must fall to the within-batch census")
    assert(byId(13L)._4 === 0)
    // CYCLE: persist the index, clean the batch, append the CLEANED
    // hashes; a later doc replicating batch-1's SURVIVING content is
    // scrubbed, while content that was REMOVED (and so never entered the
    // corpus) does not fire on a lone future replica
    val dir = java.nio.file.Files.createTempDirectory("span_index_").toString
    StandingState.writeSpanIndex(standingDf, dir, w)
    val (h0, w0) = StandingState.loadSpanIndex(spark, dir)
    val cleaned = TextOps.removeDuplicatedSpansIncremental(batchDf, h0, w0)
      .localCheckpoint(true)
    StandingState.appendSpanHashes(cleaned.select("doc_id", "text"), dir)
    val (h1, w1) = StandingState.loadSpanIndex(spark, dir)
    val doc13Survivor = byId(13L)._2 // admitted untouched -> in the index now
    val later = Seq(
      (20L, doc13Survivor),                       // replica of admitted content -> fully covered
      (21L, (brun ++ uniq(8)).mkString(" ")))     // lone replica of REMOVED content -> kept
      .toDF("doc_id", "text")
    val out2 = TextOps.removeDuplicatedSpansIncremental(later, h1, w1)
      .select("doc_id", "n_tokens", "n_removed")
      .as[(Long, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(out2(20L)._3 === out2(20L)._2, "admitted content must be indexed")
    assert(out2(21L)._3 === 0, "removed-from-corpus content has nothing to duplicate")
  }

  test("learnBpeMergesCollected cap gate: under-cap == uncapped; over-cap falls back, identically") {
    val rnd = new scala.util.Random(128)
    val words = Seq.fill(30)(
      (0 until (2 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(5)).toChar).mkString)
    val docs = (0 until 15).map { i =>
      (i.toLong, Seq.fill(6)(words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val uncapped = TextOps.learnBpeMergesCollected(docs, 10)
      .orderBy("round").select("round", "left", "right", "pair_freq")
      .as[(Int, String, String, Long)].collect().toSeq
    def withCap[T](cap: String)(body: => T): T = {
      spark.conf.set("spark.graft.bpe.localCap", cap)
      try body finally spark.conf.unset("spark.graft.bpe.localCap")
    }
    // a cap the vocab fits under: bit-identical to the default path
    val under = withCap("100000")(TextOps.learnBpeMergesCollected(docs, 10)
      .orderBy("round").select("round", "left", "right", "pair_freq")
      .as[(Int, String, String, Long)].collect().toSeq)
    assert(under === uncapped)
    // a cap the vocab EXCEEDS: the loud fallback to the distributed
    // trainer must run (no OOM-sized collect) and land on the same table
    val over = withCap("3")(TextOps.learnBpeMergesCollected(docs, 10)
      .orderBy("round").select("round", "left", "right", "pair_freq")
      .as[(Int, String, String, Long)].collect().toSeq)
    assert(over === uncapped)
    // cap 0 disables the gate entirely (collect whatever the vocab is)
    val disabled = withCap("0")(TextOps.learnBpeMergesCollected(docs, 10)
      .orderBy("round").select("round", "left", "right", "pair_freq")
      .as[(Int, String, String, Long)].collect().toSeq)
    assert(disabled === uncapped)
  }

  test("learnBpeMergesCollected: 1k merges in O(1) Spark jobs, prefix-stable") {
    // a corpus rich enough to sustain >= 1000 merges: 600 distinct
    // 10-char words over 12 letters (max merges ~ sum(len-1) = 5400)
    val rnd = new scala.util.Random(7)
    val words = (0 until 600).map(_ =>
      (0 until 10).map(_ => ('a' + rnd.nextInt(12)).toChar).mkString).distinct
    val docs = words.grouped(60).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val coll =
      try {
        val out = TextOps.learnBpeMergesCollected(docs, 1000)
          .orderBy("round")
          .select("round", "left", "right", "pair_freq")
          .as[(Int, String, String, Long)].collect().toSeq
        Thread.sleep(1000) // listener bus is async; let job-start events drain
        out
      } finally spark.sparkContext.removeSparkListener(listener)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(coll.size === 1000)
    // the ONLY distributed work is the vocab pass + the final toDF
    // collect in this assertion — a production 32k-merge train would
    // run the same handful of jobs (AQE stages the vocab aggregate, the
    // orderBy adds a range-sample). Distributed form: one job PER merge,
    // i.e. >= 1000 here.
    assert(jobs <= 8, s"expected O(1) Spark jobs, saw $jobs")
    assert(secs < 30.0, s"1k merges took $secs s — driver loop regressed")
    // greedy BPE is prefix-stable: the first k merges of a longer train
    // equal a k-merge train — so the distributed form at 25 merges must
    // match the collected form's 25-merge prefix exactly
    val dist = TextOps.learnBpeMerges(docs, 25)
      .orderBy("round")
      .select("round", "left", "right", "pair_freq")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(coll.take(25) === dist)
  }

  test("dedupByEmbeddingLshIncremental == union form; standing wins at any id order") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val standing = emb.filter($"vec_id" < 200)
    // incoming: fresh vectors PLUS exact copies of 30 standing vectors at
    // high ids — the copies must drop, bucket-identical by construction
    val incoming = emb.filter($"vec_id" >= 200 && $"vec_id" < 400)
      .unionByName(emb.filter($"vec_id" < 30)
        .withColumn("vec_id", $"vec_id" + 1000000L))
    val inc = Dedup.dedupByEmbeddingLshIncremental(incoming, standing, tau = 0.95)
      .select("vec_id").as[Long].collect().toSet
    val viaUnion = Dedup.dedupByEmbeddingLsh(
      standing.unionByName(incoming), tau = 0.95)
      .select("vec_id").as[Long].collect().toSet
      .filter(id => id >= 200L)
    assert(inc === viaUnion)
    // every planted copy dropped; non-vacuous survivors remain
    assert(inc.forall(_ < 1000000L) && inc.nonEmpty)
    // standing wins regardless of id order: a standing vector with a
    // HIGHER id than the incoming copy still knocks the copy out
    val hiStanding = emb.filter($"vec_id" < 10)
      .withColumn("vec_id", $"vec_id" + 5000000L)
    val loIncoming = emb.filter($"vec_id" < 10)
      .withColumn("vec_id", $"vec_id" + 100L)
    val survivors = Dedup.dedupByEmbeddingLshIncremental(
      loIncoming, hiStanding, tau = 0.95).count()
    assert(survivors === 0L)
  }

  test("removeDuplicatedPassages: cross-doc chunks drop, intra-doc repeats stay") {
    val shared = (1 to 20).map(i => s"s$i").mkString(" ")   // one aligned chunk
    val rep = (1 to 20).map(i => s"x$i").mkString(" ")      // intra-doc repeat
    val corpus = Seq(
      (1L, s"$shared tail1 a b"),
      (2L, s"$shared tail2 c d"),
      (3L, s"$rep $rep lonely tail"),
      (4L, shared), // fully boilerplate
    ).toDF("doc_id", "text")
    val out = TextOps.removeDuplicatedPassages(corpus, w = 20, minDocs = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_chunks", "n_removed", "text")
      .as[(Long, Int, Int, String)].collect()
    assert(out(0) === ((1L, 2, 1, "tail1 a b")))
    assert(out(1) === ((2L, 2, 1, "tail2 c d")))
    // doc 3: chunk repeated twice WITHIN the doc only — kept intact
    assert(out(2) === ((3L, 3, 0, s"$rep $rep lonely tail")))
    // doc 4: everything was boilerplate — row survives, text empties
    assert(out(3) === ((4L, 1, 1, "")))
  }

  test("Dedup.exactByHash == Dedup.exact on a randomized duplicate-heavy corpus") {
    // 300 docs drawn from 60 distinct texts — every survivor set must agree
    // with the byte-equality reference row for row, and the full surviving
    // frames (all columns) must match
    val rnd = new scala.util.Random(1234)
    val corpus = (1 to 300).map { i =>
      (i.toLong, s"dup text body number ${rnd.nextInt(60)}", s"s${i % 3}")
    }.toDF("doc_id", "text", "source")
    val ref = Dedup.exact(corpus).collect().map(_.toString).toSet
    val hashed = Dedup.exactByHash(corpus).collect().map(_.toString).toSet
    assert(hashed === ref)
    assert(Dedup.exactByHash(corpus).columns.toSeq === corpus.columns.toSeq)
  }

  test("Dedup.dedupNearLsh drops exact AND near duplicates of lower ids") {
    val survivors = Dedup.dedupNearLsh(docs, tau = 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors === Set(1L, 3L, 5L, 6L)) // 2 (near-dup of 1) and 4 (== 3) dropped
  }

  test("truncatedTopK: d = dim degenerates to brute force; shortlist composes") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 5)
    val full = VectorOps.truncatedTopK(q, emb, d = 64, k = 3)
      .collect().map(_.toString).toSet
    val bf = VectorOps.bruteForceTopK(q, emb, 3).collect().map(_.toString).toSet
    assert(full === bf)
    // the two-stage compose: truncated shortlist -> full-dim re-rank
    // returns k rows per query and only ids from the shortlist
    val short = VectorOps.truncatedTopK(q, emb, d = 16, k = 12)
      .select($"vec_id".as("qid2"), $"neighbor_id")
    val shortIds = short.as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val rerank = VectorOps.bruteForceTopK(
      q, emb.join(short.select($"neighbor_id".as("vec_id")).distinct(), Seq("vec_id"), "left_semi"), 3)
    rerank.select("vec_id", "neighbor_id").as[(Long, Long)].collect().foreach {
      case (qid, nid) => assert(shortIds.values.exists(_.contains(nid)), s"($qid,$nid) outside shortlist")
    }
  }

  test("Dedup.dedupByEmbeddingPq: exact duplicates collapse to min id, cells respected") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // plant exact duplicates of vectors 0 and 1 under higher ids
    val rows = emb.filter($"vec_id" < 2).select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    val planted = Seq((9001L, rows(0L), 0), (9002L, rows(1L), 0))
      .toDF("vec_id", "embedding", "label")
    val corpus = emb.unionByName(planted)
    val out = Dedup.dedupByEmbeddingPq(corpus)
    val kept = out.select("vec_id").as[Long].collect().toSet
    // exact duplicates share every code -> the planted higher ids drop
    assert(!kept.contains(9001L) && !kept.contains(9002L))
    assert(kept.contains(0L) && kept.contains(1L))
    // deterministic and layout-independent
    val again = Dedup.dedupByEmbeddingPq(corpus.repartition(7))
      .select("vec_id").as[Long].collect().toSet
    assert(again === kept)
    // agrees with the streaming twin's key: survivors have distinct cells
    val cbs = Pq.trainCodebooks(corpus, 8, 16)
    val sigs = out.select(Pq.codeSignature(cbs).as("s")).as[String].collect()
    assert(sigs.toSet.size === sigs.length, "two survivors share a PQ cell")
  }

  test("Dedup.dedupByEmbedding drops high-cosine vectors") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.999f, 0.04f, 0.0f)), // near-dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val out = Dedup.dedupByEmbedding(emb, tau = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(out === Set(1L, 3L))
  }

  test("duplicateClusters: min-label components incl. transitive chains") {
    // components: {1,2,3} via chain 1-2, 2-3 (no direct 1-3 edge);
    // {5,6}; a 4-deep path {10..14} forcing multiple propagation rounds;
    // 7 appears in no pair -> absent from the output
    val pairs = Seq(
      (1L, 2L), (2L, 3L),
      (5L, 6L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
    ).toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClusters(pairs)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Int)].collect().toSet
    assert(out === Set(
      (1L, 1L, 3), (2L, 1L, 3), (3L, 1L, 3),
      (5L, 5L, 2), (6L, 5L, 2),
      (10L, 10L, 5), (11L, 10L, 5), (12L, 10L, 5), (13L, 10L, 5), (14L, 10L, 5),
    ))
    // deterministic across runs (iteration count must not leak into labels)
    val again = Dedup.duplicateClusters(pairs)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Int)].collect().toSet
    assert(again === out)
  }

  test("duplicateClusters: star rounds converge deep chains; exhaustion fails loudly") {
    // a 40-deep path: plain min-label propagation needs ~40 rounds; the
    // large-star/small-star form is O(log n) — maxRounds=8 must suffice
    val chain = (0 until 40).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    // cap=0 forces the DISTRIBUTED star rounds — the local union-find
    // path would label this 41-node chain instantly and never exhaust
    spark.conf.set("spark.graft.cc.localCap", "0")
    try {
      val out = Dedup.duplicateClusters(chain, maxRounds = 8)
        .select("doc_id", "cluster_id").as[(Long, Long)].collect()
      assert(out.length === 41)
      assert(out.forall(_._2 === 0L), "all chain members must label to the min id")
      // forced non-convergence must THROW, never return wrong labels silently
      val ex = intercept[IllegalStateException] {
        Dedup.duplicateClusters(chain, maxRounds = 1).collect()
      }
      assert(ex.getMessage.contains("not converged"))
    } finally spark.conf.unset("spark.graft.cc.localCap")
  }

  test("duplicateClusters: non-integral ids bypass the local gate, labels stay correct") {
    // string ids would cast("long") to null in the local path's canonical
    // frame and silently drop every edge — the type gate must route them
    // to the (type-agnostic, lexically-ordered) distributed star rounds
    val pairs = Seq(("b", "a"), ("c", "b"), ("e", "d")).toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClusters(pairs)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(String, String, Int)].collect().toSet
    assert(out === Set(
      ("a", "a", 3), ("b", "a", 3), ("c", "a", 3),
      ("d", "d", 2), ("e", "d", 2)))
  }

  test("duplicateClusters: local union-find == forced-distributed star rounds") {
    // the multi-shape graph from the star/propagation differential plus a
    // second disjoint component family — every min-routing shape, labeled
    // by both paths
    val edges = Seq.newBuilder[(Long, Long)]
    edges ++= (100L until 140L).map(i => (i, i + 1))
    for (a <- 200L to 205L; b <- (a + 1) to 205L) edges += ((a, b))
    edges ++= (301L to 320L).map(i => (300L, i))
    edges ++= (400L until 410L).map(i => (i, i + 1)) += ((400L, 410L))
    edges += ((140L, 205L))
    val rnd = new scala.util.Random(777)
    edges ++= (0 until 200).map(_ => (rnd.nextInt(60).toLong + 500L, rnd.nextInt(60).toLong + 500L))
    val pairs = edges.result().filter { case (a, b) => a != b }.toDF("doc_a", "doc_b")
    val local = Dedup.duplicateClusters(pairs)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Int)].collect().toSet
    spark.conf.set("spark.graft.cc.localCap", "0")
    val dist =
      try Dedup.duplicateClusters(pairs)
        .select("doc_id", "cluster_id", "cluster_size")
        .as[(Long, Long, Int)].collect().toSet
      finally spark.conf.unset("spark.graft.cc.localCap")
    assert(local === dist)
    assert(local.nonEmpty)
  }

  test("duplicateClusters: 10k-deep path converges in <= 2*log2(n) star rounds") {
    // THE adversarial case for label propagation (a mirror-of-mirror crawl
    // chain): component diameter 10,000. Star rounds must be logarithmic
    // in n, not linear in diameter — the gate is 2 * log2(10001) ~ 27.
    val n = 10000
    val path = spark.range(n)
      .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
    val bound = math.ceil(2 * math.log(n + 1.0) / math.log(2.0)).toInt
    val (labels, rounds) = Dedup.duplicateClustersCounted(path, maxRounds = bound)
    val stats = labels.agg(
      count(lit(1)), countDistinct(col("cluster_id")),
      min(col("cluster_id")), max(col("cluster_size"))).collect()(0)
    assert(stats.getLong(0) === n + 1L)
    assert(stats.getLong(1) === 1L, "path must collapse to one component")
    assert(stats.getLong(2) === 0L)
    assert(stats.getInt(3) === n + 1)
    assert(rounds <= bound, s"took $rounds rounds, bound $bound")
  }

  test("duplicateClusters: star labels == propagation labels (differential)") {
    // a multi-component random-ish graph: chains, cliques, a star, and a
    // cycle — every shape that exercises min-routing differently
    val edges = Seq.newBuilder[(Long, Long)]
    edges ++= (100L until 140L).map(i => (i, i + 1))            // 41-chain
    for (a <- 200L to 205L; b <- (a + 1) to 205L) edges += ((a, b)) // clique
    edges ++= (301L to 320L).map(i => (300L, i))                 // star
    edges ++= (400L until 410L).map(i => (i, i + 1)) += ((400L, 410L)) // cycle
    edges += ((140L, 205L)) // bridge chain into clique
    val pairs = edges.result().toDF("doc_a", "doc_b")
    val star = Dedup.duplicateClusters(pairs)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Int)].collect().toSet
    val prop = Dedup.duplicateClustersPropagation(pairs)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Int)].collect().toSet
    assert(star === prop)
    assert(star.nonEmpty)
  }

  test("duplicateClustersIncremental: planted cross-batch merge == batch-on-union") {
    // standing graph: clusters {1,2,3}, {5,6}, {20,21} (untouched control)
    val oldPairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (20L, 21L)).toDF("doc_a", "doc_b")
    val standing = Dedup.duplicateClusters(oldPairs)
    // batch: doc 100 BRIDGES standing clusters {1,2,3} and {5,6} (the
    // cross-batch merge), docs 200-201 form a new-only cluster, edge (1,3)
    // lands inside an existing cluster (must be a no-op), and doc 0 — an id
    // SMALLER than every standing min — attaches to {1,2,3}, forcing a
    // root relabel of the whole merged component
    val newPairs = Seq(
      (100L, 3L), (100L, 5L),
      (200L, 201L),
      (1L, 3L),
      (0L, 2L),
    ).toDF("doc_a", "doc_b")
    val inc = Dedup.duplicateClustersIncremental(standing, newPairs)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Int)].collect().toSet
    val batch = Dedup.duplicateClusters(oldPairs.unionByName(newPairs))
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Int)].collect().toSet
    assert(inc === batch)
    // shape sanity: the merged component roots at 0 with 7 members; the
    // untouched {20,21} passes through verbatim
    assert(inc.contains((100L, 0L, 7)) && inc.contains((0L, 0L, 7)))
    assert(inc.contains((20L, 20L, 2)) && inc.contains((21L, 20L, 2)))
    assert(inc.contains((200L, 200L, 2)))
  }

  test("duplicateClustersIncremental: empty batch is identity; randomized differential") {
    val oldPairs = Seq((1L, 2L), (7L, 9L)).toDF("doc_a", "doc_b")
    val standing = Dedup.duplicateClusters(oldPairs)
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val idOut = Dedup.duplicateClustersIncremental(standing, none)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Int)].collect().toSet
    val std = standing.select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Int)].collect().toSet
    assert(idOut === std)

    // seeded random multigraphs split into standing/batch halves at
    // varying ratios: the incremental labels must equal batch CC over the
    // union for EVERY split — chains, merges, duplicate edges,
    // self-contained new docs, standing-free batches (tiny h1), and
    // batch-free merges (tiny h2)
    for ((seed, splitFrac) <- Seq((4242, 0.5), (77, 0.1), (91, 0.9), (1234, 0.3))) {
      val rnd = new scala.util.Random(seed)
      val all = (0 until 300).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter { case (a, b) => a != b }
      val (h1, h2) = all.splitAt((all.size * splitFrac).toInt)
      val s2 = Dedup.duplicateClusters(h1.toDF("doc_a", "doc_b"))
      val inc = Dedup.duplicateClustersIncremental(s2, h2.toDF("doc_a", "doc_b"))
        .select("doc_id", "cluster_id", "cluster_size")
        .as[(Long, Long, Int)].collect().toSet
      val batch = Dedup.duplicateClusters((h1 ++ h2).toDF("doc_a", "doc_b"))
        .select("doc_id", "cluster_id", "cluster_size")
        .as[(Long, Long, Int)].collect().toSet
      assert(inc === batch, s"seed=$seed splitFrac=$splitFrac")
    }
  }

  test("normalizeText: case/punct/unicode-form variants collapse to one form") {
    val docs = Seq(
      (1L, "Hello, World!"),
      (2L, "hello world"),
      (3L, "HELLO   world"),
      (4L, "café au lait"),        // precomposed e-acute
      (5L, "café au lait"),       // e + combining acute (NFD form)
      (6L, "  spaced   out\ttabs  "),
    ).toDF("doc_id", "text")
    val out = docs
      .withColumn("norm", TextOps.normalizeText(col("text")))
      .select("doc_id", "norm").as[(Long, String)].collect().toMap
    assert(out(1L) === "hello world")
    assert(out(2L) === "hello world")
    assert(out(3L) === "hello world")
    // NFC through the kernel: combining-accent form composes to the same
    // string as the precomposed form
    assert(spark.catalog.functionExists("graft_nfc"), "kernel not registered")
    assert(out(4L) === out(5L))
    assert(out(6L) === "spaced out tabs")
  }

  test("normalized: variant corpus near-dup pairs are a superset of raw pairs") {
    // planted variants: same text up to case + punctuation. Raw shingles
    // see entirely different token sets; normalized shingles are identical.
    val docs = Seq(
      (1L, "a", "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "a", "The QUICK brown fox, jumps over the lazy dog tonight!!"),
      (3L, "a", "completely unrelated text about spark query planning"),
    ).toDF("doc_id", "source", "text")
    def pairsOf(d: org.apache.spark.sql.DataFrame) =
      TextOps.jaccardPairs(TextOps.shingleArrays(d, 3), sameSourceOnly = false)
        .filter(col("jaccard") >= 0.8)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val raw = pairsOf(docs)
    val norm = pairsOf(TextOps.normalized(docs))
    assert(raw.subsetOf(norm), s"normalization lost raw pairs: $raw vs $norm")
    assert(norm.contains((1L, 2L)), "case/punct variant must surface normalized")
    assert(!raw.contains((1L, 2L)), "raw fingerprints should miss the variant (fixture)")
    // the raw text survives the stage for emit paths
    assert(TextOps.normalized(docs).columns.contains("raw_text"))
  }

  test("gopherRules: kernel top-term == HOF fallback; rules hand-check") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over a lazy dog and runs to all of " +
        "the green hills in the misty morning light with great speed today"),
      (2L, "spam spam spam spam spam"),
      (3L, ""),
    ).toDF("doc_id", "text")
    val out = TextOps.gopherRules(docs).orderBy("doc_id").collect()
    // doc 1: 26 words, stopwords present, no dominance -> keep
    assert(out(0).getAs[Int]("n_words") === 26)
    assert(out(0).getAs[Boolean]("keep") === true)
    // doc 2: one term is 100% of tokens AND under min words -> rejected
    assert(out(1).getAs[Double]("top_term_frac") === 1.0)
    assert(out(1).getAs[Boolean]("ok_words") === false)
    assert(out(1).getAs[Boolean]("ok_repetition") === false)
    assert(out(1).getAs[Boolean]("keep") === false)
    // empty text degenerates to one empty token, frac 1.0, no crash
    assert(out(2).getAs[Int]("n_words") === 1)
    assert(out(2).getAs[Double]("top_term_frac") === 1.0)
    // the kernel path must be bit-identical to the interpreted HOF form
    val toks = split(col("text"), " ")
    val hof = docs.select(col("doc_id"),
      (TextOps.gopherTopTermHof(toks).cast("double") / size(toks)).as("hof_frac"))
    val both = TextOps.gopherRules(docs).select("doc_id", "top_term_frac")
      .join(hof, "doc_id")
      .filter(col("top_term_frac") =!= col("hof_frac"))
    assert(both.isEmpty, "kernel and HOF top-term fractions diverged")
    // the streaming-safe filter form keeps exactly gopherRules' keep set
    // (here and on the real corpus)
    assert(TextOps.gopherGate(docs).select("doc_id").as[Long].collect().toSet
      === Set(1L))
    val real = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val keepSet = TextOps.gopherRules(real).filter(col("keep"))
      .select("doc_id").as[Long].collect().toSet
    val gateSet = TextOps.gopherGate(real)
      .select("doc_id").as[Long].collect().toSet
    assert(gateSet === keepSet)
  }

  test("redactPii: counts taken before rewrite, email -> ip -> phone order") {
    val docs = Seq(
      (1L, "mail bob@x.com or 1.2.3.4 call 555-123-4567 now"),
      (2L, "a@1.2.3.4.com is an email not an ip"),
      (3L, "nothing sensitive here"),
    ).toDF("doc_id", "text")
    val out = TextOps.redactPii(docs, "text")
      .select("doc_id", "n_email", "n_ipv4", "n_phone", "redacted")
      .orderBy("doc_id").collect()
    assert((out(0).getInt(1), out(0).getInt(2), out(0).getInt(3)) === ((1, 1, 1)))
    assert(out(0).getString(4) === "mail <EMAIL> or <IP> call <PHONE> now")
    // the IPv4-shaped hostname is consumed by the EMAIL pass, never
    // double-counted as an IP (the fixed pass order exists for this)
    assert((out(1).getInt(1), out(1).getInt(2), out(1).getInt(3)) === ((1, 0, 0)))
    assert(out(1).getString(4) === "<EMAIL> is an email not an ip")
    assert((out(2).getInt(1), out(2).getInt(2), out(2).getInt(3)) === ((0, 0, 0)))
    assert(out(2).getString(4) === "nothing sensitive here")
  }

  test("passageStats: aligned shared chunks count as duplicated instances") {
    val a = (1 to 40).map(i => s"tok$i").mkString(" ")   // chunks: [1..20], [21..40]
    val b = (1 to 20).map(i => s"tok$i").mkString(" ")   // == doc a's first chunk
    val c = (100 to 139).map(i => s"tok$i").mkString(" ") // disjoint
    val d = "short doc" // single partial chunk, unique
    val docs4 = Seq((1L, a), (2L, b), (3L, c), (4L, d)).toDF("doc_id", "text")
    val out = TextOps.passageStats(docs4, 20)
      .select("doc_id", "n_passages", "n_dup_passages")
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, dup) => id -> ((n, dup)) }.toMap
    assert(out(1L) === ((2L, 1L))) // first chunk shared with doc 2
    assert(out(2L) === ((1L, 1L)))
    assert(out(3L) === ((2L, 0L)))
    assert(out(4L) === ((1L, 0L)))
    // dup_frac is the instance ratio
    val fracs = TextOps.passageStats(docs4, 20)
      .select("doc_id", "dup_frac").as[(Long, Double)].collect().toMap
    assert(fracs(1L) === 0.5)
    assert(fracs(3L) === 0.0)
  }

  test("tfidfTopTerms: corpus-wide terms score zero; top term tie-breaks asc") {
    val docs3 = Seq(
      (1L, "common rare1 common common"), // tf(common)=3 but df=3 -> idf=0
      (2L, "common rare2 rare2"),
      (3L, "common zebra aaaa"),          // zebra/aaaa tie (tf=1, df=1) -> aaaa wins
    ).toDF("doc_id", "text")
    val out = TextOps.tfidfTopTerms(docs3)
      .select("doc_id", "top_term", "top_tfidf", "tfidf_sum")
      .as[(Long, String, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._2 === "rare1")
    assert(out(2L)._2 === "rare2")
    assert(math.abs(out(2L)._3 - 2.0 * math.log(3.0)) < 1e-12) // tf=2, idf=ln(3/1)
    assert(out(3L)._2 === "aaaa")              // lexicographic tie-break
    // idf(common)=ln(3/3)=0 contributes nothing to any sum
    assert(math.abs(out(1L)._4 - math.log(3.0)) < 1e-4)
  }

  test("semDedup: nCentroids=1 degenerates to exact; deterministic; tau-monotone") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // one cluster = the exact all-pairs path
    val sem1 = Dedup.semDedup(emb, tau = 0.5, nCentroids = 1)
      .select("vec_id").as[Long].collect().toSet
    val exact = Dedup.dedupByEmbedding(emb, tau = 0.5)
      .select("vec_id").as[Long].collect().toSet
    assert(sem1 === exact)
    // clustered: deterministic across runs, survivors are a superset of
    // the exact survivors (cluster scoping can only MISS pairs), non-trivial
    val semA = Dedup.semDedup(emb, tau = 0.5, nCentroids = 4)
      .select("vec_id").as[Long].collect().toSet
    val semB = Dedup.semDedup(emb, tau = 0.5, nCentroids = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(semA === semB)
    assert(exact.subsetOf(semA))
    // tau monotone: a stricter (higher) tau never drops more
    val strict = Dedup.semDedup(emb, tau = 0.9, nCentroids = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(semA.subsetOf(strict))
    // auto-k (nCentroids=0, the default): runs, deterministic, and still
    // a superset of the exact survivors
    val auto = Dedup.semDedup(emb, tau = 0.5)
      .select("vec_id").as[Long].collect().toSet
    assert(auto === Dedup.semDedup(emb, tau = 0.5)
      .select("vec_id").as[Long].collect().toSet)
    assert(exact.subsetOf(auto))
  }

  test("semDedupIncremental == batch semDedup restricted to incoming; standing wins") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val standing = emb.filter($"vec_id" < 300).localCheckpoint(false)
    val incoming = emb.filter($"vec_id" >= 300 && $"vec_id" < 500)
    val union = standing.unionByName(incoming).localCheckpoint(false)
    // centroids from the union's own deterministic training = exactly the
    // centroids batch semDedup(union) trains internally
    for (tau <- Seq(0.4, 0.6)) {
      val cs = Dedup.semDedupCentroids(union, nCentroids = 8)
      val batchInc = Dedup.semDedup(union, tau = tau, nCentroids = 8)
        .filter($"vec_id" >= 300)
        .select("vec_id").as[Long].collect().toSet
      val incr = Dedup.semDedupIncremental(incoming, standing, cs, tau = tau)
        .select("vec_id").as[Long].collect().toSet
      assert(incr === batchInc, s"tau=$tau")
    }
    // standing always wins, even when its ids are HIGHER than the batch's
    val vec = Seq.fill(8)(1.0f)
    val other = (0 until 8).map(i => if (i % 2 == 0) 1.0f else -1.0f)
    val stand2 = Seq((100L, vec)).toDF("vec_id", "embedding")
    val inc2 = Seq(
      (5L, vec),   // cosine 1 vs standing 100 -> drops despite lower id
      (6L, other), // novel -> survives
      (7L, other), // dup of LOWER-id incoming 6 -> drops
    ).toDF("vec_id", "embedding")
    val cs2 = Dedup.semDedupCentroids(
      stand2.unionByName(inc2), nCentroids = 1)
    val out2 = Dedup.semDedupIncremental(inc2, stand2, cs2, tau = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(out2 === Set(6L))
    // hot-cluster guard: degenerate identical-vector corpus stays bounded
    // (sub-cells), min-id incoming survivors only where no standing mate
    val standHot = (0 until 100).map(i => (i.toLong, vec))
      .toDF("vec_id", "embedding")
    val incHot = (100 until 200).map(i => (i.toLong, vec))
      .toDF("vec_id", "embedding")
    val unionHot = standHot.unionByName(incHot)
    val csHot = Dedup.semDedupCentroids(unionHot, nCentroids = 1)
    val outHot = Dedup.semDedupIncremental(
      incHot, standHot, csHot, tau = 0.9, maxClusterSize = 50)
      .select("vec_id").as[Long].collect().toSet
    // census runs over union occupancy, so sub-cells match the batch run's
    val batchHot = Dedup.semDedup(
      unionHot, tau = 0.9, nCentroids = 1, maxClusterSize = 50)
      .filter($"vec_id" >= 100)
      .select("vec_id").as[Long].collect().toSet
    assert(outHot === batchHot)
    assert(outHot.size <= 4, "at most one survivor per hash sub-cell")
  }

  test("semDedup hot-cluster guard bounds candidates on a degenerate corpus") {
    // 200 identical vectors -> ONE cluster: the worst case the cap exists
    // for. Uncapped, candidate pairs are all-pairs C(200,2) = 19900.
    val n = 200
    val emb = (0 until n).map(i => (i.toLong, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val e = emb.localCheckpoint(false)
    val centroids = VectorOps.trainCentroids(e, 1, 1)
    val assigned = VectorOps.withRanks(e, centroids)
      .withColumn("bucket", col("__ranks")(0))
      .select(col("vec_id"), col("embedding"), col("bucket"))
    val allPairs = Dedup.semDedupCandidates(assigned, maxClusterSize = n).count()
    assert(allPairs === n.toLong * (n - 1) / 2)
    // cap 50 -> 4 hash sub-cells: pairs collapse to within-cell only.
    // Hash cell sizes are uneven but the quadratic blowup is gone: even a
    // worst-realistic imbalance stays far under half of all-pairs.
    val capped = Dedup.semDedupCandidates(assigned, maxClusterSize = 50).count()
    assert(capped < allPairs / 2, s"capped=$capped not bounded vs $allPairs")
    // dedup semantics under the cap: min id still survives; at most one
    // survivor per sub-cell (identical vectors all verify at cos=1)
    val survivors = Dedup.semDedup(emb, tau = 0.9, nCentroids = 1, maxClusterSize = 50)
      .select("vec_id").as[Long].collect().sorted
    assert(survivors.head === 0L)
    assert(survivors.length >= 1 && survivors.length <= 4,
      s"expected <= ceil(200/50) survivors, got ${survivors.length}")
    // cap untriggered == legacy all-pairs behavior (q47 parity)
    val uncapped = Dedup.semDedup(emb, tau = 0.9, nCentroids = 1)
      .select("vec_id").as[Long].collect().toSeq
    assert(uncapped === Seq(0L))
  }

  test("bigramNll: add-one-smoothed scores match the hand calculation") {
    // corpus: V=3 (a,b,c); contexts c1(a)=3, c1(b)=2;
    // bigrams c12(a,b)=3, c12(b,a)=1, c12(b,c)=1
    val docs2 = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val out = TextOps.bigramNll(docs2)
      .select("doc_id", "n_bigrams", "avg_nll")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val nllAB = -math.log(4.0 / 6.0) // (3+1)/(3+3)
    val nllBA = -math.log(2.0 / 5.0) // (1+1)/(2+3)
    val nllBC = -math.log(2.0 / 5.0)
    assert(out(1L)._1 === 3L)
    assert(math.abs(out(1L)._2 - (2 * nllAB + nllBA) / 3) < 1e-4)
    assert(out(2L)._1 === 2L)
    assert(math.abs(out(2L)._2 - (nllAB + nllBC) / 2) < 1e-4)
    // single-token docs carry no bigram -> absent
    assert(!TextOps.bigramNll(docs2.union(Seq((3L, "x")).toDF("doc_id", "text")))
      .select("doc_id").as[Long].collect().contains(3L))
  }

  test("multimodal media frames decode to hand-computed features") {
    val d = Seq((1L, "hello world"), (2L, "")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val media = Multimodal.asMedia(d)
    assert(media.schema.fieldNames.toSeq ===
      Seq("media_id", "mime", "n_bytes", "payload"))
    val f1 = Multimodal.imageFeatures(media).orderBy("media_id").collect()
    val f2 = Multimodal.imageFeatures(media).orderBy("media_id").collect()
    assert(f1.map(_.toString).toSeq === f2.map(_.toString).toSeq)
    // "hello world" = 11 bytes -> one 16x1 RGB row, zero-padded
    val r = f1.head
    assert(r.getAs[Long]("media_id") === 1L)
    assert(r.getAs[Int]("width") === 16)
    assert(r.getAs[Int]("height") === 1)
    val textSum = "hello world".getBytes("UTF-8").map(_ & 0xff).sum.toLong
    assert(r.getAs[Long]("byte_sum") === textSum)
    assert(r.getAs[Double]("mean_byte") === textSum.toDouble / 48)
    // R channel = payload bytes at offsets 0,3,6,9 = 'h','l','w','l'
    val rSum = Seq('h', 'l', 'w', 'l').map(_.toInt).sum
    assert(r.getAs[Double]("mean_r") === rSum.toDouble / 16)
    // empty text still encodes a valid 16x1 all-zero image
    assert(f1(1).getAs[Int]("height") === 1)
    assert(f1(1).getAs[Long]("byte_sum") === 0L)
    val frames = Multimodal.sampleFrames(media, 4, 3).collect()
    assert(frames.forall(_.getAs[Seq[Array[Byte]]]("frames").nonEmpty))
    // real NN resize: output payloads are valid PPMs of the target size
    val resized = Multimodal.resizeImage(media, 4, 1).orderBy("media_id").collect()
    val p = Multimodal.PpmCodec.decode(resized(0).getAs[Array[Byte]]("payload"))
    assert((p.width, p.height) === (4, 1))
    // NN samples source columns 0,4,8,12 of "hello world" + padding
    assert(p.pixels.slice(0, 3).map(_.toChar).mkString === "hel")
    // WAV twin: sample = (byte - 128) * 256, header round-trips
    val wavMedia = Multimodal.asWavMedia(d, 8000)
    val wf = Multimodal.audioFeatures(wavMedia).orderBy("media_id").collect()
    assert(wf(0).getAs[Int]("sample_rate") === 8000)
    assert(wf(0).getAs[Long]("n_samples") === 11L)
    assert(wf(0).getAs[Long]("sample_sum") ===
      "hello world".getBytes("UTF-8").map(b => ((b & 0xff) - 128) * 256L).sum)
    assert(wf(1).getAs[Long]("n_samples") === 0L)
    // real decimation: every 4th sample survives, rate drops 4x
    val down = Multimodal.downsampleAudio(wavMedia, 4).orderBy("media_id").collect()
    val dw = Multimodal.WavCodec.decode(down(0).getAs[Array[Byte]]("payload"))
    assert(dw.sampleRate === 2000)
    // indices 0,4,8 of "hello world" -> 'h','o','r'
    assert(dw.samples.toSeq ===
      "hor".getBytes("UTF-8").map(b => (((b & 0xff) - 128) * 256).toShort).toSeq)
  }

  test("imagePhash + phashNearDupPairs: variants pair up, unrelated don't") {
    // 1/2: same long text up to 3 appended bytes -> near-identical rasters
    // -> tiny hamming. 3: unrelated content. 4: exact copy of 1 -> hamming 0.
    val baseText = ("the quick brown fox jumps over the lazy dog " * 8).trim
    val d = Seq(
      (1L, baseText),
      (2L, baseText + " !!"),
      (3L, "z" * 300),
      (4L, baseText),
    ).toDF("doc_id", "text")
    val ph = Multimodal.imagePhash(Multimodal.asMedia(d)).localCheckpoint(false)
    val hashes = ph.as[(Long, String)].collect().toMap
    assert(hashes.values.forall(h => h.length === 64 && h.forall(c => c == '0' || c == '1')))
    assert(hashes(1L) === hashes(4L), "identical payloads must hash identically")
    val pairs = Multimodal.phashNearDupPairs(ph, nBands = 4, maxHamming = 8)
      .as[(Long, Long, Int)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs.get((1L, 4L)) === Some(0))
    assert(pairs.contains((1L, 2L)), "appended-bytes variant must pair")
    assert(pairs((1L, 2L)) <= 8)
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      "unrelated raster must not pass the hamming gate")
    // determinism
    val again = Multimodal.phashNearDupPairs(ph, nBands = 4, maxHamming = 8)
      .as[(Long, Long, Int)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(again === pairs)
    // CONTAINER-INVARIANCE: the same rasters carried as real PNG blobs
    // must hash identically (the sniffing decode feeds the same pixels to
    // the same phash), so the near-dup pairs are payload-format-agnostic —
    // a corpus mixing fixture PPMs and production PNGs dedups as one
    val phPng = Multimodal.imagePhash(Multimodal.asPngMedia(d)).localCheckpoint(false)
    assert(phPng.as[(Long, String)].collect().toMap === hashes)
    val pairsPng = Multimodal.phashNearDupPairs(phPng, nBands = 4, maxHamming = 8)
      .as[(Long, Long, Int)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(pairsPng === pairs)
    // ... and a MIXED table (PPM rows + PNG rows of different docs)
    // feature-extracts uniformly through one decode dispatch
    val mixed = Multimodal.asMedia(d.filter(col("doc_id") <= 2))
      .unionByName(Multimodal.asPngMedia(d.filter(col("doc_id") > 2)))
    val feats = Multimodal.imageFeatures(mixed)
      .select("media_id", "byte_sum").as[(Long, Long)].collect().toMap
    val featsPpm = Multimodal.imageFeatures(Multimodal.asMedia(d))
      .select("media_id", "byte_sum").as[(Long, Long)].collect().toMap
    assert(feats === featsPpm)
  }

  test("audioPhash: anchored window, active-mean threshold, gain invariance") {
    val baseText = ("the quick brown fox jumps over the lazy dog " * 4).trim
    val d = Seq(
      (1L, baseText),
      (2L, baseText + " trailing tail beyond the anchored window"),
      (3L, baseText.substring(0, 10) + "~~~" + baseText.substring(13)),
      (4L, "unrelated content entirely different from the fox sentence etc"),
      (5L, "shortclip"), // 9 samples < 64: active-mean regime
    ).toDF("doc_id", "text")
    val ph = Multimodal.audioPhash(Multimodal.asWavMedia(d), frameLen = 1)
      .localCheckpoint(false)
    val hashes = ph.as[(Long, String)].collect().toMap
    assert(hashes.values.forall(h => h.length === 64 && h.forall(c => c == '0' || c == '1')))
    // appended tail lands beyond the 64-sample window -> identical hash
    assert(hashes(1L) === hashes(2L), "append-beyond-window must not change the hash")
    // interior 3-char edit flips only the touched frames (plus threshold ties)
    def hamming(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(hamming(hashes(1L), hashes(3L)) <= 8)
    assert(hamming(hashes(1L), hashes(4L)) > 8, "unrelated clips must differ")
    // short clip: frames past the clip are zero bits (active-mean keeps
    // the real frames from collapsing to all-ones against a zero-padded mean)
    assert(hashes(5L).drop(9).forall(_ == '0'))
    assert(hashes(5L).take(9).contains('1'))
    // uniform re-gain hashes identically: threshold is scale-free
    val spark2 = d.sparkSession
    import spark2.implicits._
    val samples = baseText.getBytes("UTF-8").map(b => (((b & 0xff) - 128) * 256).toShort)
    def media(id: Long, s: Array[Short]) = {
      val p = Multimodal.WavCodec.encode(s, 8000)
      Multimodal.MediaRecord(id, Multimodal.WavCodec.Mime, p.length.toLong, p)
    }
    val gained = Seq(
      media(10L, samples),
      media(11L, samples.map(v => (v / 2).toShort)),
    ).toDF()
    val gh = Multimodal.audioPhash(gained, frameLen = 1)
      .as[(Long, String)].collect().toMap
    assert(gh(10L) === gh(11L), "uniform gain must not change the hash")
    // banding end to end: the interior-edit variant pairs, unrelated doesn't
    val pairs = Multimodal.phashNearDupPairs(ph, nBands = 4, maxHamming = 8)
      .as[(Long, Long, Int)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs.get((1L, 2L)) === Some(0))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.contains((1L, 4L)))
  }

  test("videoPhash: stride sampling, append invariance, unsampled-frame blindness") {
    // 2x1 frames (2 bytes), stride 2 -> 256-byte anchored window; base is
    // 308 bytes, so all 64 sampled frames are active
    val baseText = ("the quick brown fox jumps over the lazy dog " * 7).trim
    val d = Seq(
      (1L, baseText),
      // appended tail beyond the 256-byte window: identical hash
      (2L, baseText + " trailing content far beyond the anchored sampling window"),
      // bytes 11-12 land in UNSAMPLED frame 5 (stride 2 samples even
      // frames only): the edit is invisible to the hash
      (3L, baseText.substring(0, 10) + "##" + baseText.substring(12)),
      // byte 13 lands in SAMPLED frame 6: at most that one bit flips
      (4L, baseText.substring(0, 12) + "#" + baseText.substring(13)),
      (5L, "totally different material with other words and rhythms present here"),
    ).toDF("doc_id", "text")
    val ph = Multimodal.videoPhash(
      Multimodal.asVideoMedia(d, width = 2, height = 1), stride = 2)
      .localCheckpoint(false)
    val hashes = ph.as[(Long, String)].collect().toMap
    assert(hashes.values.forall(h => h.length === 64 && h.forall(c => c == '0' || c == '1')))
    assert(hashes(1L) === hashes(2L), "append-beyond-window must not change the hash")
    assert(hashes(1L) === hashes(3L), "edit inside an unsampled frame must be invisible")
    def hamming(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(hamming(hashes(1L), hashes(4L)) <= 1, "sampled-frame edit flips at most its bit")
    assert(hamming(hashes(1L), hashes(5L)) > 8, "unrelated clips must differ")
    val pairs = Multimodal.phashNearDupPairs(ph, nBands = 4, maxHamming = 8)
      .as[(Long, Long, Int)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs.get((1L, 2L)) === Some(0))
    assert(pairs.get((1L, 3L)) === Some(0))
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.contains((1L, 5L)))
  }

  // Scala model of removeDuplicatedSpans with the DEFINITIONAL per-token
  // coverage probe (covered(i) <=> exists marked span start p with
  // p <= i < p + w) — the O(tokens x spans) form the production
  // gap-slice rewrite must stay bit-equal to.
  private def spanModel(
      docs: Seq[(Long, String)], w: Int, minDocs: Int): Map[Long, (String, Int, Int)] = {
    val toksBy = docs.map { case (id, t) =>
      id -> t.split(" ").filter(_.nonEmpty).toSeq }
    val wins = toksBy.flatMap { case (id, toks) =>
      (0 to toks.size - w).map(p => (id, p, toks.slice(p, p + w).mkString(" "))) }
    val dup = wins.groupBy(_._3)
      .filter(_._2.map(_._1).distinct.size >= minDocs).keySet
    toksBy.map { case (id, toks) =>
      val ps = wins.collect { case (i, p, s) if i == id && dup(s) => p }
      val covered = toks.indices.map(i => ps.exists(p => p <= i && i < p + w))
      val kept = toks.indices.filterNot(covered).map(toks)
      id -> ((kept.mkString(" "), toks.size, covered.count(identity)))
    }.toMap
  }

  test("span rewrite property: gap-slice pass == per-token exists model on randomized corpora") {
    // small vocab + random lengths -> organically dense, overlapping,
    // edge-touching span patterns (head/tail/adjacent/merged all occur)
    val rnd = new scala.util.Random(1207)
    val vocab = (0 until 14).map(i => s"t$i")
    for ((w, minDocs, nDocs, maxLen) <- Seq((3, 2, 40, 50), (5, 3, 30, 80))) {
      val corpus = (0 until nDocs).map { i =>
        val n = rnd.nextInt(maxLen + 1)
        (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val out = TextOps.removeDuplicatedSpans(
          corpus.toDF("doc_id", "text"), w, minDocs)
        .select("doc_id", "text", "n_tokens", "n_removed")
        .as[(Long, String, Int, Int)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(out === spanModel(corpus, w, minDocs),
        s"rewrite diverged from the exists model at w=$w minDocs=$minDocs")
    }
    // deliberate edge vectors: span at pos 0 (no head gap), span flush to
    // the end (no tail gap), two spans exactly w apart (merge boundary),
    // two spans w+1 apart (1-token gap), fully-covered doc
    val run = (1 to 4).map(i => s"r$i")
    val edge = Seq(
      (100L, (run ++ Seq("a1", "a2") ++ run).mkString(" ")),
      (101L, (Seq("b1") ++ run ++ Seq("b2", "b3", "b4") ++ run).mkString(" ")),
      (102L, run.mkString(" ")),
      (103L, (Seq("c1", "c2", "c3") ++ run).mkString(" ")))
    val out = TextOps.removeDuplicatedSpans(edge.toDF("doc_id", "text"), 4, 2)
      .select("doc_id", "text", "n_tokens", "n_removed")
      .as[(Long, String, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out === spanModel(edge, 4, 2))
    assert(out(100L)._1 === "a1 a2" && out(102L)._1 === "")
  }

  test("span rewrite property: dense long doc (every position a marked span) stays linear and exact") {
    // two copies of one 4000-token text: EVERY window is cross-doc
    // duplicated, so each doc carries ~4000 marked span starts — the
    // shape whose per-token exists probe was O(tokens x spans) ~ 1.6e7
    // per row (and 10^10 at 100k tokens); the gap-slice pass must return
    // the exact fully-covered result without that blowup. A unique tail
    // shorter than w on one doc exercises partial tail coverage: tokens
    // within w of the shared prefix are covered by overlap, the rest kept.
    val n = 4000
    val w = 20
    val shared = (0 until n).map(i => s"s${i % 997}x$i")
    val tail = (0 until 7).map(i => s"uniq$i")
    val corpus = Seq(
      (1L, shared.mkString(" ")),
      (2L, (shared ++ tail).mkString(" ")))
    val out = TextOps.removeDuplicatedSpans(corpus.toDF("doc_id", "text"), w, 2)
      .select("doc_id", "text", "n_tokens", "n_removed")
      .as[(Long, String, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out === spanModel(corpus, w, 2))
    assert(out(1L) === (("", n, n)), "fully-duplicated doc must empty")
    // doc 2: spans start at 0..n-w (shared windows); coverage ends at
    // (n-w)+w = n, so exactly the 7 unique tail tokens survive
    assert(out(2L) === ((tail.mkString(" "), n + 7, n)))
  }

  test("dsir: target == raw makes every log_w exactly 0; n_feats counts unigram+bigram instances") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta"),
      (3L, "eta"),
      (4L, "theta iota kappa theta iota"),
    ).toDF("doc_id", "text")
    val scores = TextOps.dsirScores(docs, docs, m = 64)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // identical distributions: every bucket ratio is log(x) - log(x) = 0.0
    // exactly (same float computation both sides), so every sum is 0
    assert(scores.values.forall(_._2 === 0.0))
    // k tokens -> k unigrams + (k-1) bigrams
    assert(scores(1L)._1 === 7 && scores(2L)._1 === 3 &&
      scores(3L)._1 === 1 && scores(4L)._1 === 9)
  }

  test("dsir: disjoint-vocab target ranks target-vocabulary docs strictly first") {
    val aDocs = (0 until 6).map(i =>
      (i.toLong, s"apple banana cherry date apple banana fig grape"))
    val bDocs = (6 until 12).map(i =>
      (i.toLong, s"xylem yarrow zinnia wisteria xylem yarrow vetch umbel"))
    val raw = (aDocs ++ bDocs).toDF("doc_id", "text")
    val target = aDocs.toDF("doc_id", "text")
    val scores = TextOps.dsirScores(raw, target, m = 1024)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val aMin = (0L until 6L).map(scores).min
    val bMax = (6L until 12L).map(scores).max
    assert(aMin > 0.0 && bMax < 0.0 && aMin > bMax,
      s"target-vocab docs must outrank non-target: aMin=$aMin bMax=$bMax")
    // and dsirSelect's top-6 is exactly the target-vocab half
    val top = TextOps.dsirSelect(raw, target, m = 1024, k = 6)
      .select("doc_id").as[Long].collect().toSet
    assert(top === (0L until 6L).toSet)
  }

  test("dsir: scores and selection are repartition-stable (decimal-sum discipline)") {
    val rnd = new scala.util.Random(87)
    val vocab = (0 until 40).map(i => s"w$i")
    val docs = (0 until 60).map { i =>
      val n = 3 + rnd.nextInt(30)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") < 15)
    def run(raw: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      TextOps.dsirSelect(raw, target, m = 256, k = 25)
        .as[(Long, Long, Double)].collect().toSeq
    val base = run(docs)
    assert(base === run(docs.repartition(7)),
      "log_w must be bit-identical under any partitioning")
    assert(base === run(docs.repartition(32).sortWithinPartitions("text")),
      "log_w must be bit-identical under any row order")
  }

  test("dsir incremental: frozen ratios score a batch bit-identically to the fused form") {
    val rnd = new scala.util.Random(98)
    val vocab = (0 until 40).map(i => s"w$i")
    val docs = (0 until 80).map { i =>
      val n = 3 + rnd.nextInt(30)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val standing = docs.filter($"doc_id" < 50)
    val target = standing.filter($"doc_id" < 15)
    val batch = docs.filter($"doc_id" >= 50)
    val ratios = TextOps.dsirLogRatios(standing, target, m = 256)
    // parquet round-trip: the production persist-and-reload shape
    val rdir = java.nio.file.Files.createTempDirectory("dsir_ratios_").toString
    ratios.write.mode("overwrite").parquet(rdir)
    val frozen = spark.read.parquet(rdir)
    def run(b: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      TextOps.dsirScoresWithRatios(b, frozen, m = 256)
        .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    val got = run(batch)
    // the fused form on the STANDING corpus equals scoring standing under
    // its own frozen ratios (the delegation contract)
    val fusedStanding = TextOps.dsirScores(standing, target, m = 256)
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    val frozenStanding = run(standing)
    assert(frozenStanding === fusedStanding)
    // batch scoring is layout-independent and deterministic post-reload
    assert(run(batch.repartition(7)) === got)
    assert(got.nonEmpty && got.forall(_._2 > 0))
  }

  test("dsirResample: weight-tilted keep, monotone in rate, layout-stable") {
    // thresholds: unclamped mean keep fraction is exactly rate, and they
    // strictly increase with stage (higher weight -> higher keep odds)
    val thr = Mixing.dsirStageThresholds(0.4, 20)
    assert(thr.size === 20 && thr === thr.sorted && thr.distinct === thr)
    assert(math.abs(thr.sum / 20 / 4294967296.0 - 0.4) < 1e-12)
    // rate 1 with 1 stage keeps everything (threshold = 2^32 > any hash)
    assert(Mixing.dsirStageThresholds(1.0, 1) === Seq(4294967296.0))

    val rnd = new scala.util.Random(89)
    val vocab = (0 until 40).map(i => s"w$i")
    val docs = (0 until 120).map { i =>
      val n = 3 + rnd.nextInt(30)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") < 30)
    def kept(rate: Double, raw: org.apache.spark.sql.DataFrame = docs): Map[Long, Int] =
      Mixing.dsirResample(raw, target, rate, m = 256, nStages = 10)
        .select("doc_id", "stage").as[(Long, Int)].collect().toMap
    val half = kept(0.5)
    // membership is monotone in rate (every stage threshold grows)
    assert(kept(0.2).keySet.subsetOf(half.keySet))
    // layout-independent: repartitioning changes neither membership nor stage
    assert(kept(0.5, docs.repartition(13)) === half)
    // the keep decision really is hash-under-stage-threshold: replay it
    val staged = Mixing.curriculumStages(
      TextOps.dsirScores(docs, target, m = 256), col("log_w"), 10)
      .select("doc_id", "stage").as[(Long, Int)].collect().toMap
    val thr05 = Mixing.dsirStageThresholds(0.5, 10)
    val want = staged.filter { case (id, s) =>
      val h = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(8), 16)
      h.toDouble < thr05(s - 1)
    }
    assert(half === want)
    assert(half.nonEmpty && half.size < 120)
  }
}
