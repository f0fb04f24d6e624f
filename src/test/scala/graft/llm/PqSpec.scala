package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Product quantization: code shape/determinism, recall of the ADC +
  * exact-re-rank pipeline against brute force, and the sampled-training
  * scale path. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def recallAtK(got: Map[Long, Seq[Long]], want: Map[Long, Seq[Long]]): Double = {
    val hits = want.toSeq.map { case (q, ws) =>
      ws.count(got.getOrElse(q, Seq.empty).contains).toDouble / ws.size
    }
    hits.sum / hits.size
  }

  private def neighborsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.select("vec_id", "rnk", "neighbor_id").as[(Long, Int, Long)]
      .collect().groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap

  test("codes: m per vector, in [0, nCodes), more than one code in use") {
    val emb = graft.Tables.embeddings(spark, dir)
    val cbs = Pq.trainCodebooks(emb, m = 8, k = 16)
    assert(cbs.size === 8 && cbs.forall(_.size === 16) && cbs.forall(_.forall(_.size === 8)))
    val enc = Pq.encode(emb, cbs)
    val codeStats = enc.select(
      min(array_min(col("codes"))), max(array_max(col("codes"))),
      min(size(col("codes"))), max(size(col("codes"))),
      countDistinct(col("codes")(0))).collect()(0)
    assert(codeStats.getInt(0) >= 0 && codeStats.getInt(1) <= 15)
    assert(codeStats.getInt(2) === 8 && codeStats.getInt(3) === 8)
    assert(codeStats.getLong(4) > 1L, "subspace 0 collapsed to a single code")
    // the native kernel (graft_pq_codes, active in this session) must be
    // bit-identical to the interpreted HOF formulation on the real corpus
    assert(spark.catalog.functionExists("graft_pq_codes"), "kernel not registered")
    val hof = array(cbs.zipWithIndex.map { case (cb, j) =>
      Pq.nearestCodeHof(s"slice(embedding, ${j * 8 + 1}, 8)", cb)
    }: _*)
    val diverged = emb
      .withColumn("kc", Pq.codesCol(cbs))
      .withColumn("hc", hof)
      .filter(col("kc") =!= col("hc"))
    assert(diverged.isEmpty, "kernel and HOF codes diverged")
  }

  test("trainIvfPqJoint: fused-job training == sequential trainings, bit for bit") {
    // the fused trainer shares one seed job and one aggregate job per Lloyd
    // iteration across the coarse and PQ trainings; on the real corpus its
    // outputs must equal the separate trainers' EXACTLY (same seeds, same
    // per-branch plans, same rounding)
    val e = graft.Tables.embeddings(spark, dir).localCheckpoint(false)
    val (coarseJ, cbsJ) = Pq.trainIvfPqJoint(e, nCentroids = 8, m = 8,
      nCodes = 16, iterations = 2, dim = 64)
    val coarseS = VectorOps.trainCentroids(e, 8, 2)
    val cbsS = Pq.trainCodebooks(e, m = 8, k = 16, iterations = 2, dim = 64)
    assert(coarseJ === coarseS)
    assert(cbsJ === cbsS)
  }

  test("trainIvfPqResidual: driver-side residual seeds == executed-plan seeds, bit for bit") {
    // the residual trainer computes PQ seed residuals on the driver
    // (nearestCentroid replica + double-minus-double cast float); compare
    // against the legacy form that ran the __pqvec projection and seed
    // fetch as Spark jobs
    val e = graft.Tables.embeddings(spark, dir).localCheckpoint(false)
    val (coarse, cbsFused) = Pq.trainIvfPqResidual(e, nCentroids = 8, m = 8,
      nCodes = 16, iterations = 2, dim = 64)
    assert(coarse === VectorOps.trainCentroids(e, 8, 2))
    val coarseLit = typedLit(coarse)
    val legacyResid = VectorOps.withRanks(e, coarse)
      .withColumn("bucket", col("__ranks")(0))
      .select(col("vec_id"),
        zip_with(col("embedding"), element_at(coarseLit, col("bucket") + 1),
          (x, w) => (x.cast("double") - w).cast("float")).as("embedding"))
    val cbsLegacy = Pq.trainCodebooks(legacyResid, m = 8, k = 16,
      iterations = 2, dim = 64)
    assert(cbsFused === cbsLegacy)
  }

  test("codes: NULL embedding -> NULL codes on kernel AND HOF fallback; short throws") {
    val cbs = Seq.fill(2)(Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)))
    val df = Seq(
      (1L, Some(Seq(0.1f, 0.2f, 0.9f, 0.8f))),
      (2L, None: Option[Seq[Float]]),
    ).toDF("vec_id", "embedding")
    val both = df
      .withColumn("kc", Pq.codesCol(cbs))
      .withColumn("hc", Pq.codesColHof(cbs, 2))
      .orderBy("vec_id")
      .select("kc", "hc").collect()
    assert(both(0).getSeq[Int](0) === both(0).getSeq[Int](1))
    assert(both(1).isNullAt(0) && both(1).isNullAt(1))
    // a present-but-short vector still fails loudly on the fallback path
    val short = Seq((3L, Seq(0.1f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      short.withColumn("hc", Pq.codesColHof(cbs, 2)).collect()
    }
    assert(e.getMessage.contains("shorter than m*subDim"))
  }

  test("encodeColumnar rejects k > 128 (signed-tinyint wrap)") {
    val emb = graft.Tables.embeddings(spark, dir)
    val big = Seq.fill(8)((0 until 129).map(i => Seq.fill(8)(i.toDouble)).toSeq)
    val e = intercept[IllegalArgumentException] {
      Pq.encodeColumnar(emb, big)
    }
    assert(e.getMessage.contains("tinyint"))
  }

  test("pqTopK: deterministic; refined recall beats ADC-only; tracks brute force") {
    val emb = graft.Tables.embeddings(spark, dir)
    val exact = neighborsOf(VectorOps.bruteForceTopK(emb.filter($"vec_id" < 10), emb, 3))
    // these near-random synthetic embeddings are PQ's worst case (no
    // cluster structure to exploit) — the measured recall curve is
    // (nCodes=16,refine=4)=0.23 ... (64,8)=0.80 ... (64,16)=0.93, so the
    // spec pins the 6-bit/refine-8 point with headroom
    val pq = Pq.pqTopK(emb, _ < 10, m = 8, k = 3, nCodes = 64, refine = 8)
    val pqN = neighborsOf(pq)
    // determinism across two full train+encode+rank runs
    val again = neighborsOf(Pq.pqTopK(emb, _ < 10, m = 8, k = 3, nCodes = 64, refine = 8))
    assert(pqN === again)
    // shape: 3 neighbors per query, exact cosines attached
    assert(pqN.keySet === exact.keySet)
    assert(pqN.values.forall(_.size === 3))
    val r8 = recallAtK(pqN, exact)
    // ADC-only (refine=1) must not beat the refined pipeline
    val r1 = recallAtK(
      neighborsOf(Pq.pqTopK(emb, _ < 10, m = 8, k = 3, nCodes = 64, refine = 1)), exact)
    assert(r8 >= r1, s"refine hurt recall: $r8 < $r1")
    assert(r8 >= 0.7, s"recall@3 too low: $r8") // measured 0.80
    // the cos column is the EXACT cosine (re-rank output), so any neighbor
    // shared with brute force must carry the identical double
    val exactCos = VectorOps.bruteForceTopK(emb.filter($"vec_id" < 10), emb, 3)
      .select("vec_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    pq.select("vec_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect().foreach { case (q, n, c) =>
        exactCos.get((q, n)).foreach(ec => assert(ec === c, s"cos mismatch for ($q,$n)"))
      }
  }

  test("ivfPqTopK: full probe degenerates to the PQ full scan; partial contained") {
    val emb = graft.Tables.embeddings(spark, dir)
    // nProbe == nCentroids probes every bucket -> candidate set = corpus,
    // and the codebooks train identically -> row-for-row equal to pqTopK
    val full = Pq.ivfPqTopK(emb, _ < 10, nCentroids = 8, nProbe = 8, m = 8, k = 3)
      .collect().map(_.toString).toSet
    val flat = Pq.pqTopK(emb, _ < 10, m = 8, k = 3)
      .collect().map(_.toString).toSet
    assert(full === flat)
    // partial probe returns k rows per query from a candidate subset;
    // deterministic across runs
    val part = Pq.ivfPqTopK(emb, _ < 10, nCentroids = 8, nProbe = 3, m = 8, k = 3)
    val a = neighborsOf(part)
    assert(a.values.forall(_.size === 3))
    val b = neighborsOf(
      Pq.ivfPqTopK(emb, _ < 10, nCentroids = 8, nProbe = 3, m = 8, k = 3))
    assert(a === b)
  }

  test("residual IVF-PQ: full probe + full refine == brute force exactly") {
    val emb = graft.Tables.embeddings(spark, dir)
    // refine * k >= corpus size: the exact re-rank sees EVERY candidate, so
    // whatever the (residual) codes scored, the output is brute force
    val full = Pq.ivfPqTopK(emb, _ < 3, nCentroids = 8, nProbe = 8, m = 8, k = 3,
      refine = 200, residual = true)
      .collect().map(_.toString).toSet
    val bf = VectorOps.bruteForceTopK(emb.filter(col("vec_id") < 3), emb, 3)
      .collect().map(_.toString).toSet
    assert(full === bf)
    // standard params: deterministic, k rows per query; residual ADC recall
    // tracks the raw-vector form on this corpus (informational floor)
    val res = neighborsOf(Pq.ivfPqTopK(emb, _ < 10,
      nCentroids = 8, nProbe = 3, m = 8, k = 3, residual = true))
    val res2 = neighborsOf(Pq.ivfPqTopK(emb, _ < 10,
      nCentroids = 8, nProbe = 3, m = 8, k = 3, residual = true))
    assert(res === res2)
    assert(res.values.forall(_.size === 3))
  }

  test("columnar layout: lossless codes roundtrip; ranking is layout-agnostic") {
    val emb = graft.Tables.embeddings(spark, dir).localCheckpoint(false)
    val cbs = Pq.trainCodebooks(emb, m = 8, k = 16)
    val enc = Pq.encode(emb, cbs).localCheckpoint(false)
    val colr = Pq.encodeColumnar(emb, cbs)
    // the shape parquet column-chunks: one tinyint column per subspace
    assert(colr.schema.fields.count(_.dataType ==
      org.apache.spark.sql.types.ByteType) === 8)
    val tmp = java.nio.file.Files.createTempDirectory("pq_columnar")
    try {
      colr.write.mode("overwrite").parquet(tmp.toString)
      val back = Pq.codesFromColumnar(spark.read.parquet(tmp.toString), 8)
        .localCheckpoint(false)
      assert(back.count() === enc.count())
      // codes survive the parquet roundtrip bit-identically
      val joined = enc.select(col("vec_id"), col("codes").as("rc"))
        .join(back.select(col("vec_id"), col("codes").as("cc")), Seq("vec_id"))
      assert(joined.filter(col("rc") =!= col("cc")).isEmpty,
        "columnar roundtrip changed codes")
      // ADC + exact re-rank through the stored columnar table == through
      // encode() directly: the layout is invisible to ranking
      val direct = Pq.pqTopKWithCodes(emb, enc, _ < 10, cbs, k = 3, refine = 8)
        .collect().map(_.toString).toSet
      val viaCol = Pq.pqTopKWithCodes(emb, back, _ < 10, cbs, k = 3, refine = 8)
        .collect().map(_.toString).toSet
      assert(direct === viaCol)
    } finally {
      val files = java.nio.file.Files.walk(tmp)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).iterator()
      while (files.hasNext) java.nio.file.Files.deleteIfExists(files.next())
    }
  }

  test("broadcast gate: an oversized query fraction drops every hint, results unchanged") {
    val emb = graft.Tables.embeddings(spark, dir).localCheckpoint(true)
    // query fraction = the whole corpus — the caller-controlled shape that
    // would otherwise drive the re-rank broadcasts toward the 8 GB cap
    val allIds: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      _ >= 0
    val cbs = Pq.trainCodebooks(emb, m = 8, k = 16)
    def hintsIn(df: org.apache.spark.sql.DataFrame): Int = {
      var n = 0
      df.queryExecution.analyzed.foreach {
        case _: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => n += 1
        case _ => ()
      }
      n
    }
    val hinted = Pq.pqTopKWith(emb, allIds, cbs, k = 3, refine = 2)
    val prior = spark.conf.getOption("spark.graft.ann.broadcastCapBytes")
    try {
      // cap of 1 byte: nothing qualifies — ALL explicit hints must vanish
      // and the plan falls to Spark/AQE strategy choice
      spark.conf.set("spark.graft.ann.broadcastCapBytes", "1")
      val gated = Pq.pqTopKWith(emb, allIds, cbs, k = 3, refine = 2)
      assert(hintsIn(gated) === 0, "hints survived an over-cap query batch")
      assert(hintsIn(hinted) > 0, "default plan lost its explicit hints")
      // identical rankings either way — the gate changes strategy, never
      // semantics
      assert(neighborsOf(gated) === neighborsOf(hinted))
      // the IVF-PQ ranker under the same over-cap gate: equi-keyed joins
      // only, so it must ALSO keep its no-pair-scan shape un-hinted
      val gatedIvf = Pq.ivfPqTopK(emb, allIds, nCentroids = 4, nProbe = 2,
        m = 8, k = 3, refine = 2)
      assert(hintsIn(gatedIvf) === 0)
      val nodes = {
        def collect(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
          val kids = p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              collect(a.inputPlan)
            case other => other.children.flatMap(collect)
          }
          p +: kids
        }
        collect(gatedIvf.queryExecution.executedPlan)
      }
      assert(!nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
        "un-hinted IVF-PQ must stay equi-join shaped, not fall to a cross product")
      spark.conf.set("spark.graft.ann.broadcastCapBytes", (64L << 20).toString)
      val ivfDefault = Pq.ivfPqTopK(emb, allIds, nCentroids = 4, nProbe = 2,
        m = 8, k = 3, refine = 2)
      assert(neighborsOf(gatedIvf) === neighborsOf(ivfDefault))
    } finally prior match {
      case Some(v) => spark.conf.set("spark.graft.ann.broadcastCapBytes", v)
      case None => spark.conf.unset("spark.graft.ann.broadcastCapBytes")
    }
  }

  test("sampled training (the 100 TB posture) still ranks and stays deterministic") {
    val emb = graft.Tables.embeddings(spark, dir)
    val a = neighborsOf(Pq.pqTopK(emb, _ < 10, m = 8, k = 3, trainFrac = 0.5))
    val b = neighborsOf(Pq.pqTopK(emb, _ < 10, m = 8, k = 3, trainFrac = 0.5))
    assert(a === b)
    assert(a.values.forall(_.size === 3))
  }
}
