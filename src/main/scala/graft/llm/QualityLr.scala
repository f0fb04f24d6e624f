package graft.llm

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.Tables

/** Trained document-quality classifier (the fastText-style linear model
  * behind "quality classifier" corpus filters, e.g. the GPT-3/LLaMA
  * WebText-vs-CommonCrawl filter): hashed unigram+bigram bag-of-words
  * features, logistic regression trained by full-batch gradient descent,
  * then one distributed scoring pass over the corpus.
  *
  * Everything is REPRODUCIBLE CROSS-ENGINE by the integer-micros
  * discipline (the reproducible-training recipe k-means and BPE already
  * follow, with fixed-point integers instead of 6dp decimals): every
  * accumulated quantity (per-doc logit, per-bucket gradient) is a sum of
  * `floor(term * 1e6)` BIGINTs — exact and order-free, so shuffle order,
  * partitioning and engine cannot move a result — and every scalar
  * rounding is `floor(x * 1e6) / 1e6`, one IEEE op sequence that Spark,
  * DuckDB and driver-side `math.floor` evaluate identically. The only
  * transcendental is the sigmoid's `exp`, floored to micros immediately
  * (ulp-level engine differences survive only within ~1e-10 of a micros
  * boundary — the same accepted residual as the 6dp-rounded ln/log paths).
  *
  * Shape at scale: TRAINING runs `steps` passes over the LABELED set —
  * a bounded curated sample in any real pipeline, not the corpus — each
  * pass two map-side-combinable aggregations (per-doc logit, per-bucket
  * gradient) with the <= m+1-row gradient collected as a control-plane
  * fetch and the weights re-broadcast as literals. SCORING is one pass
  * over the corpus: a broadcast m+1-row weight map, one groupBy(doc_id)
  * sum — no corpus-sized shuffle beyond the doc_id-keyed aggregation.
  */
object QualityLr {

  private val Micros = 1e6

  /** Total weight entries at or below this fold into literal `typedlit`
    * maps probed per row with `element_at` (zero-join; ideal at the
    * gated m=64, where a map is 65 entries and K-class training ships
    * K*65). Above it the weights deliver as a broadcast-joined
    * (bucket, weight) frame instead: a literal `MapData` lookup is a
    * per-row O(m) linear key scan and the map re-serializes into every
    * task binary, which at fastText-production m (2^18-2^21 buckets) is
    * a scale-killer — the DSIR ratio-table shape
    * ([[TextOps.dsirScoresWithRatios]]) and the Mixing rate-map
    * cap-and-degrade ([[Mixing.DefaultLiteralRateCap]]) are the house
    * precedents. Identical arithmetic on both sides by construction
    * (each term is `floor((w_b * x) * 1e6)` with the SAME driver-side
    * `wm / 1e6` double, summed as order-free BIGINTs), so the switch
    * can never move a result — differential-spec-pinned. Override via
    * `spark.graft.lr.literalWeightCap`. */
  val DefaultLiteralWeightCap = 1024

  private def literalWeightCap(df: DataFrame): Int =
    df.sparkSession.conf
      .get("spark.graft.lr.literalWeightCap", DefaultLiteralWeightCap.toString).toInt

  /** The per-doc logit pass shared by EVERY trainer and scorer (single
    * and one-vs-rest): for each weight vector, `sum(floor((w_bucket *
    * x) * 1e6))` as BIGINT grouped by doc_id — exact, order-free — with
    * all K sums fused into ONE doc_id-keyed aggregation. Weight
    * delivery cap-and-degrades on the TOTAL entry count across vectors
    * (the size that would embed in the plan): at or below
    * [[DefaultLiteralWeightCap]] each vector rides as a literal map
    * probed with `element_at`; above it the vectors pivot into one
    * broadcast (bucket, w_0..w_{K-1}) frame inner-joined on bucket
    * (complete over buckets 0..m, and every feature bucket is in
    * [0, m] by construction — [[lrFeatures]]' pmod buckets plus the
    * bias row — so the inner join drops nothing). ONE implementation so
    * the three callers cannot drift arithmetically. */
  private def logitPass(
      feats: DataFrame,
      weightVecs: Seq[Array[Long]],
      outNames: Seq[String]): DataFrame = {
    require(weightVecs.nonEmpty && weightVecs.length == outNames.length)
    val totalEntries = weightVecs.iterator.map(_.length.toLong).sum
    if (totalEntries <= literalWeightCap(feats)) {
      val aggs = weightVecs.zip(outNames).map { case (wv, nm) =>
        val wMap = typedlit(wv.zipWithIndex.map {
          case (v, b) => b.toLong -> (v / Micros)
        }.toMap)
        sum(floor((element_at(wMap, col("bucket")) * col("x")) * lit(Micros)))
          .as(nm)
      }
      feats.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    } else {
      val nW = weightVecs.head.length
      require(weightVecs.forall(_.length == nW),
        "all weight vectors must share a bucket space")
      val rows = (0 until nW).map { b =>
        Row.fromSeq(b.toLong +: weightVecs.map(_(b) / Micros))
      }
      val schema = StructType(
        StructField("bucket", LongType, nullable = false) +:
          outNames.indices.map(i =>
            StructField(s"__w_$i", DoubleType, nullable = false)))
      val wDf = feats.sparkSession.createDataFrame(rows.asJava, schema)
      val aggs = outNames.zipWithIndex.map { case (nm, i) =>
        sum(floor((col(s"__w_$i") * col("x")) * lit(Micros))).as(nm)
      }
      feats.join(broadcast(wDf), Seq("bucket"))
        .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    }
  }

  /** Hashed features with per-doc L1 normalization: one row per
    * (doc_id, bucket) with `x = count(bucket) / n_features(doc)`, plus a
    * bias row (bucket = m, x = 1) per doc — the mean-of-features form
    * (fastText), so long documents don't dominate the gradient. Buckets
    * are [[TextOps.dsirFeatures]]' md5 unigram+bigram buckets. Docs with
    * no features still get their bias row (they score at the bias). */
  def lrFeatures(docs: DataFrame, m: Int): DataFrame = {
    val counts = TextOps.dsirFeatures(docs, m)
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("doc_id").agg(sum("c").as("n"))
    val feats = counts.join(totals, "doc_id")
      .select(col("doc_id"), col("bucket"),
        (col("c").cast("double") / col("n").cast("double")).as("x"))
    val bias = docs.select(col("doc_id"), lit(m.toLong).as("bucket"),
      lit(1.0).as("x"))
    feats.unionByName(bias)
  }

  /** Per-doc logit micros under a weight map: `sum(floor((w_b * x) *
    * 1e6))` as BIGINT — exact, order-free. `weights` indexed by bucket,
    * size m+1 (bias last), in micros. Delivery via [[logitPass]] (cap-
    * and-degrades literal map -> broadcast weight frame above the cap). */
  private def logitMicros(feats: DataFrame, weightsMicros: Array[Long]): DataFrame =
    logitPass(feats, Seq(weightsMicros), Seq("zm"))

  /** `floor(1e6 / (1 + exp(-z)))` — sigmoid in micros, z from logit
    * micros. One fixed expression; both engines evaluate identically up
    * to exp ulps under the floor. */
  private def sigmoidMicros(zmCol: Column): Column =
    floor(lit(Micros) / (lit(1.0) + exp(-(zmCol.cast("double") / lit(Micros)))))

  /** Train by `steps` rounds of full-batch gradient descent on `labeled`
    * (doc_id, text, label in {0,1}). Returns m+1 weights in MICROS (bias
    * last). Every round: logit -> sigmoid -> error (all in micros) ->
    * per-bucket gradient (BIGINT sum, <= m+1 rows collected) -> driver
    * update `w -= floor(((lr * (grad/1e6)) / n) * 1e6)`. Weights start
    * at zero, so round 1's sigmoid is exactly 0.5 everywhere. */
  def trainQualityLr(
      labeled: DataFrame,
      m: Int,
      steps: Int,
      lr: Double): Array[Long] =
    trainLrChains(labeled, Seq("q" -> col("label")), m, steps, lr).head._2

  /** TRAINED language ID — one-vs-rest multiclass over the same hashed
    * features: one binary LR per class (label = 1 iff `classCol` equals
    * the class), every per-class weight WORD-FOR-WORD identical to an
    * independent [[trainQualityLr]] run on that class's binary labels
    * (spec-pinned) — the K trainings are FUSED into one GD loop via
    * [[trainLrChains]]. Returns (class -> micro-weights) in SORTED class
    * order — the order [[scoreOneVsRestLr]]'s argmax tie-break contract
    * depends on. NULL `classCol` rows fail loudly (the trainQualityLr
    * null-label rule — a NULL class is NULL in every chain's label). */
  def trainOneVsRestLr(
      labeled: DataFrame,
      classCol: String,
      classes: Seq[String],
      m: Int,
      steps: Int,
      lr: Double): Seq[(String, Array[Long])] = {
    require(classes.nonEmpty, "need at least one class")
    require(classes.distinct.size == classes.size, "classes must be distinct")
    trainLrChains(
      labeled,
      classes.sorted.map(c => c -> (col(classCol) === lit(c)).cast("long")),
      m, steps, lr)
  }

  /** Train SEVERAL independent binary LR chains over ONE shared feature
    * pass — the generalization both public trainers wrap, and the shape
    * a pipeline training its quality gate AND its one-vs-rest language
    * gates uses to pay a single featurize for all of them (q103's
    * train-both-gates recipe). `chains` maps name -> 0/1 label Column
    * over `labeled`'s rows (NULL labels fail loudly: a NULL would
    * contribute nothing to the gradient while still counting in the
    * divisor n, silently diluting the effective learning rate).
    *
    * Every chain's weights are WORD-FOR-WORD identical to an independent
    * [[trainQualityLr]] run on its labels (spec-pinned): the chains
    * never interact — the logit pass computes all K per-doc sums in a
    * single doc_id-keyed agg (K weight deliveries), the error columns
    * are per-row expressions, and the gradient pass computes all K
    * per-bucket sums in a single bucket-keyed agg — so fusing changes
    * the plan, not one arithmetic value. Per-step cost: 2 map-side-
    * combinable aggregations + ONE <= (m+1)-row collect REGARDLESS of K.
    * Results return in CALLER order. */
  def trainLrChains(
      labeled: DataFrame,
      chains: Seq[(String, Column)],
      m: Int,
      steps: Int,
      lr: Double): Seq[(String, Array[Long])] =
    trainLrChainsWithFeats(labeled, chains, m, steps, lr)._1

  /** [[trainLrChains]] that also exposes the CHECKPOINTED feature frame
    * it trained on, so a caller can run calibration scoring
    * ([[scoreOnFeats]]) without paying a second featurize over the
    * training set. */
  private[graft] def trainLrChainsWithFeats(
      labeled: DataFrame,
      chains: Seq[(String, Column)],
      m: Int,
      steps: Int,
      lr: Double): (Seq[(String, Array[Long])], DataFrame) = {
    require(chains.nonEmpty, "need at least one chain")
    require(chains.map(_._1).distinct.size == chains.size,
      "chain names must be distinct")
    require(m >= 1 && steps >= 1 && lr > 0.0, "m, steps >= 1; lr > 0")
    val ks = chains.indices
    // feats feed every round (and both aggregations within a round):
    // materialize once; sever lineage so nondeterministic upstreams can't
    // disagree between rounds (the curriculumStages discipline).
    // Internal columns are keyed by chain INDEX, not name — a name
    // containing column-resolution metacharacters (dots, backticks)
    // must not break col() resolution mid-training.
    val feats = lrFeatures(labeled, m).localCheckpoint(false)
    val labels = labeled.select(
      col("doc_id") +: chains.zipWithIndex.map { case ((_, c), i) =>
        c.cast("long").as(s"__y_$i")
      }: _*).localCheckpoint(false)
    val n = labels.count()
    require(n > 0, "labeled set is empty")
    // one pass counts every chain's NULL labels (curated training input;
    // fail loudly instead of silently diluting the learning rate)
    val nullRow = labels.agg(
      sum(col(s"__y_0").isNull.cast("long")).as("__n_0"),
      ks.tail.map(i =>
        sum(col(s"__y_$i").isNull.cast("long")).as(s"__n_$i")): _*).head()
    ks.foreach { i =>
      val nNull = nullRow.getLong(i)
      require(nNull == 0L,
        s"labeled set has $nNull NULL labels in chain '${chains(i)._1}' — " +
          "fix or filter them before training")
    }
    var w: IndexedSeq[Array[Long]] = ks.map(_ => Array.fill(m + 1)(0L))
    for (_ <- 1 to steps) {
      val z = logitPass(feats, w, ks.map(i => s"__zm_$i"))
      val err = ks.foldLeft(labels.join(z, Seq("doc_id"), "left")) {
        case (df, i) =>
          df.withColumn(s"__em_$i",
            sigmoidMicros(coalesce(col(s"__zm_$i"), lit(0L)))
              - col(s"__y_$i") * lit(1000000L))
      }.select(col("doc_id") +: ks.map(i => col(s"__em_$i")): _*)
      val gAggs = ks.map { i =>
        sum(floor(((col(s"__em_$i").cast("double") / lit(Micros)) * col("x"))
          * lit(Micros))).as(s"__gm_$i")
      }
      val grads = feats.join(err, "doc_id")
        .groupBy("bucket").agg(gAggs.head, gAggs.tail: _*)
        .collect()
      w = ks.map { i =>
        val gm = grads.map(r => r.getLong(0) -> r.getLong(i + 1)).toMap
        w(i).zipWithIndex.map { case (wm, b) =>
          wm - math.floor(((lr * (gm.getOrElse(b.toLong, 0L) / Micros))
            / n.toDouble) * Micros).toLong
        }
      }
    }
    (chains.map(_._1).zip(w.map(identity)), feats)
  }

  /** Per-doc quality scores over a PRE-FEATURIZED frame (a
    * [[trainLrChainsWithFeats]] return, or any [[lrFeatures]] output) —
    * the calibration path: score the training set under its own trained
    * weights without re-featurizing it. Same (doc_id, score_micros)
    * contract and arithmetic as [[scoreQualityLr]] (one weight delivery,
    * one doc_id-keyed agg; every doc has a bias row, so nothing drops). */
  private[graft] def scoreOnFeats(
      feats: DataFrame, weightsMicros: Array[Long]): DataFrame =
    logitPass(feats, Seq(weightsMicros), Seq("zm"))
      .select(col("doc_id"),
        sigmoidMicros(col("zm")).cast("long").as("score_micros"))

  /** Predict a class per doc under one-vs-rest models: (doc_id,
    * pred_lang, score_micros) where pred_lang is the argmax class by
    * sigmoid score with ties to the LEXICOGRAPHICALLY SMALLEST class
    * (models must arrive class-sorted, [[trainOneVsRestLr]]'s output
    * order — enforced). ONE features pass and ONE doc_id-keyed
    * aggregation computes every class's logit (K sums in a single
    * map-side-combinable agg, K broadcast weight maps — no per-class
    * corpus pass); the argmax is a per-row expression chain. */
  def scoreOneVsRestLr(
      docs: DataFrame,
      models: Seq[(String, Array[Long])],
      m: Int): DataFrame = {
    require(models.nonEmpty, "need at least one model")
    require(models.map(_._1) == models.map(_._1).sorted,
      "models must be sorted by class (trainOneVsRestLr's output order)")
    models.foreach { case (c, wm) =>
      require(wm.length == m + 1, s"class $c: need m+1=${m + 1} weights")
    }
    // internal columns keyed by class INDEX (see trainOneVsRestLr)
    val feats = lrFeatures(docs, m)
    val z = logitPass(feats, models.map(_._2),
      models.indices.map(i => s"__zm_$i"))
    val scored = models.indices.foldLeft(
      docs.select("doc_id").join(z, Seq("doc_id"), "left")) {
      case (df, i) =>
        df.withColumn(s"__s_$i",
          sigmoidMicros(coalesce(col(s"__zm_$i"), lit(0L))).cast("long"))
    }
    // strict > in ascending class order keeps the earlier (smaller)
    // class on ties — identical to ORDER BY score DESC, class ASC
    val classesSorted = models.map(_._1)
    val init = (lit(classesSorted.head), col("__s_0"))
    val (predC, bestS) = classesSorted.tail.zipWithIndex.foldLeft(init) {
      case ((pc, ps), (c, i0)) =>
        val s = col(s"__s_${i0 + 1}")
        (when(s > ps, lit(c)).otherwise(pc), when(s > ps, s).otherwise(ps))
    }
    scored.select(col("doc_id"), predC.as("pred_lang"),
      bestS.as("score_micros"))
  }

  /** The quality score AND the language argmax in ONE featurize + ONE
    * doc_id-keyed aggregation — the stage-1b+1c fused scorer behind
    * [[CorpusPipeline.applyTrainedGates]] (both gates must share m; the
    * caller falls back to the sequential transforms otherwise). All K+1
    * logits ride the same [[logitPass]] (one weight delivery, literal or
    * broadcast by the TOTAL entry count), and every per-doc value equals
    * the standalone scorers' exactly: scores are per-doc functions
    * (per-doc L1 feature normalization, per-doc logit sums), so the
    * cohort they are computed over cannot move them — spec-pinned.
    * Returns (doc_id, score_micros, pred_lang) with [[scoreOneVsRestLr]]'s
    * argmax tie-break (models must arrive class-sorted). */
  private[graft] def scoreGatesFused(
      docs: DataFrame,
      qualityWeights: Array[Long],
      models: Seq[(String, Array[Long])],
      m: Int): DataFrame = {
    require(models.nonEmpty, "need at least one model")
    require(models.map(_._1) == models.map(_._1).sorted,
      "models must be sorted by class (trainOneVsRestLr's output order)")
    require(qualityWeights.length == m + 1,
      s"quality: need m+1=${m + 1} weights, got ${qualityWeights.length}")
    models.foreach { case (c, wm) =>
      require(wm.length == m + 1, s"class $c: need m+1=${m + 1} weights")
    }
    val feats = lrFeatures(docs, m)
    val z = logitPass(feats, qualityWeights +: models.map(_._2),
      "zm" +: models.indices.map(i => s"__zm_$i"))
    val scored = models.indices.foldLeft(
      docs.select("doc_id").join(z, Seq("doc_id"), "left")) {
      case (df, i) =>
        df.withColumn(s"__s_$i",
          sigmoidMicros(coalesce(col(s"__zm_$i"), lit(0L))).cast("long"))
    }
    val classesSorted = models.map(_._1)
    val init = (lit(classesSorted.head), col("__s_0"))
    val (predC, _) = classesSorted.tail.zipWithIndex.foldLeft(init) {
      case ((pc, ps), (c, i0)) =>
        val s = col(s"__s_${i0 + 1}")
        (when(s > ps, lit(c)).otherwise(pc), when(s > ps, s).otherwise(ps))
    }
    scored.select(col("doc_id"),
      sigmoidMicros(coalesce(col("zm"), lit(0L))).cast("long")
        .as("score_micros"),
      predC.as("pred_lang"))
  }

  /** Persist trained micro-weights as a REGIME-GUARDED (bucket, wm, m)
    * parquet table — the ops-side handoff for the streaming intake's
    * trained gates ([[graft.jobs.SyncMain]] `--qualityWeights`): train
    * once offline ([[trainQualityLr]]), write here, and every stream
    * start reloads the same exact integers (micros are BIGINTs —
    * nothing lossy in the round-trip). m+1 rows; coalesced to one file.
    *
    * The feature regime `m` rides as a CONSTANT COLUMN on the weight
    * rows themselves — the `writeDsirRatios` discipline
    * ([[StandingState.writeDsirRatios]]): a weight table is only
    * meaningful under the m it was trained at, so [[loadWeights]]
    * DERIVES m from the table and verifies it against the row set
    * instead of trusting a caller-supplied flag (a table retrained at a
    * different m can then never silently become "the" table for a
    * caller passing the stale flag — the load reports the new regime
    * and the score-time `require` no longer depends on an operator
    * keeping two knobs in sync). Optional `steps`/`lr` stamp training
    * provenance (audit columns; the load does not act on them).
    *
    * A RE-train over an existing table routes through a stage-and-swap
    * (write to `<path>__staged`, retire the live dir, rename in) rather
    * than `mode("overwrite")`'s delete-then-write — a crash mid-write
    * could otherwise leave a partially-committed table whose surviving
    * rows carry a self-consistent m while whole buckets are missing.
    * Load heals a crashed swap (live missing, `__retired` complete). */
  def writeWeights(
      spark: SparkSession, weightsMicros: Array[Long], path: String,
      steps: Option[Int] = None, lr: Option[Double] = None): Unit = {
    import spark.implicits._
    require(weightsMicros.length >= 2,
      s"need at least m+1=2 weights (m >= 1), got ${weightsMicros.length}")
    val m = weightsMicros.length - 1
    val df = weightsMicros.zipWithIndex.toSeq.map { case (w, b) => (b.toLong, w) }
      .toDF("bucket", "wm")
      .withColumn("m", lit(m))
      .withColumn("steps", steps.map(lit(_)).getOrElse(lit(null).cast("int")))
      .withColumn("lr", lr.map(lit(_)).getOrElse(lit(null).cast("double")))
    swapDir(spark, path)(staged =>
      df.coalesce(1).write.mode("overwrite").parquet(staged))
  }

  /** Load [[writeWeights]]' table back as (micro-weight vector, m) —
    * bucket-indexed, bias last, with the TABLE's own trained regime. A
    * control-plane fetch: m+1 rows. Refuses loudly a table whose rows
    * disagree on m (a torn write) or whose bucket set does not cover
    * 0..m densely (a partial commit — scoring it would silently zero
    * the missing buckets' contribution). */
  def loadWeights(spark: SparkSession, path: String): (Array[Long], Int) = {
    val rows = readWithHeal(spark, path) {
      val raw = Tables.read(spark, path)
      require(raw.columns.contains("m"),
        s"weight table at $path carries no regime stamp (no 'm' column) — " +
          "it predates the regime-guarded writeWeights; re-write it " +
          "(writeWeights derives m from the vector) before loading")
      raw.select("bucket", "wm", "m").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    }
    require(rows.nonEmpty, s"weight table at $path is empty")
    val ms = rows.map(_._3).distinct
    require(ms.length == 1,
      s"weight table at $path carries ${ms.length} distinct m regimes " +
        s"(${ms.sorted.mkString(", ")}) — a torn write; re-train and re-write")
    val m = ms.head
    require(rows.length == m + 1 &&
        rows.map(_._1).toSeq == (0L to m.toLong),
      s"weight table at $path declares m=$m but covers " +
        s"${rows.length} buckets in [${rows.head._1}, ${rows.last._1}] — " +
        "a partially-committed write; re-train and re-write")
    (rows.map(_._2), m)
  }

  /** [[writeWeights]] for one-vs-rest models: (class, bucket, wm, m)
    * rows, all classes under ONE m (enforced — [[scoreOneVsRestLr]]
    * probes every model against the same feature pass). Same regime
    * stamp, provenance columns, and stage-and-swap discipline. */
  def writeOneVsRestModels(
      spark: SparkSession, models: Seq[(String, Array[Long])], path: String,
      steps: Option[Int] = None, lr: Option[Double] = None): Unit = {
    import spark.implicits._
    require(models.nonEmpty, "need at least one model")
    val lens = models.map(_._2.length).distinct
    require(lens.length == 1 && lens.head >= 2,
      s"all classes must share one bucket space with m >= 1; got " +
        s"lengths ${lens.sorted.mkString(", ")}")
    val m = lens.head - 1
    val df = models.toSeq.flatMap { case (c, w) =>
      w.zipWithIndex.toSeq.map { case (wm, b) => (c, b.toLong, wm) }
    }.toDF("class", "bucket", "wm")
      .withColumn("m", lit(m))
      .withColumn("steps", steps.map(lit(_)).getOrElse(lit(null).cast("int")))
      .withColumn("lr", lr.map(lit(_)).getOrElse(lit(null).cast("double")))
    swapDir(spark, path)(staged =>
      df.coalesce(1).write.mode("overwrite").parquet(staged))
  }

  /** Load [[writeOneVsRestModels]]' table back as (class-sorted models,
    * m) — the order [[scoreOneVsRestLr]] requires, with the TABLE's own
    * trained regime ([[loadWeights]]' derive-and-verify contract, per
    * class). K * (m+1) rows collected. */
  def loadOneVsRestModels(
      spark: SparkSession, path: String): (Seq[(String, Array[Long])], Int) = {
    val rows = readWithHeal(spark, path) {
      val raw = Tables.read(spark, path)
      require(raw.columns.contains("m"),
        s"model table at $path carries no regime stamp (no 'm' column) — " +
          "it predates the regime-guarded writeOneVsRestModels; re-write " +
          "it (m derives from the vectors) before loading")
      raw.select("class", "bucket", "wm", "m").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    }
    require(rows.nonEmpty, s"model table at $path is empty")
    val ms = rows.map(_._4).distinct
    require(ms.length == 1,
      s"model table at $path carries ${ms.length} distinct m regimes " +
        s"(${ms.sorted.mkString(", ")}) — a torn write; re-train and re-write")
    val m = ms.head
    val models = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, rs) =>
      val sorted = rs.sortBy(_._2)
      require(sorted.length == m + 1 &&
          sorted.map(_._2).toSeq == (0L to m.toLong),
        s"class $c at $path declares m=$m but covers ${sorted.length} " +
          "buckets — a partially-committed write; re-train and re-write")
      c -> sorted.map(_._3)
    }
    (models, m)
  }

  /** Replace a weight-table dir atomically-enough for a filesystem:
    * stage the replacement at `<path>__staged`, retire the live dir,
    * rename the staged dir in, drop the retired snapshot — the
    * [[StandingState]] swapTable protocol on a bare path (weight tables
    * live wherever the operator points them, not inside a state dir). A
    * crash between the two renames leaves no live dir but a complete
    * `__retired`; [[healDir]] (run by every load) renames it back. The
    * first-ever write has no live dir and skips the retire leg.
    *
    * WRITER-vs-READER exclusion: the whole swap holds a `<path>__lock`
    * marker (exclusive create; a stale lock older than
    * [[SwapLockStaleMs]] is broken — the writer is a short driver-side
    * rename sequence, so a lock that old can only be a crashed holder).
    * Without it, a LIVE READER's heal could rename `__retired` back in
    * the writer's two-rename window and fail the writer spuriously —
    * exactly the race [[StandingState]]'s heal avoids by skipping while
    * the state lease is held, re-created here because weight tables
    * live on bare paths with no state lease. Readers skip the heal and
    * RETRY the read while the lock is present ([[readWithHeal]]), so a
    * rotation reload landing mid-swap sees fully-old or fully-new
    * weights, never a tear and never a spurious path-not-found. */
  private def swapDir(spark: SparkSession, path: String)(
      writeStaged: String => Unit): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val live = new HPath(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new HPath(path + "__lock")
    // break a stale lock (crashed writer): the swap is driver-side
    // renames, never legitimately this old. The break is an ATOMIC
    // rename onto a unique tombstone (AtomicSwap.breakByRename) — of N
    // racing breakers exactly one wins, so breaker B can never delete
    // the fresh lock breaker A just re-created (the check-then-delete
    // hole the round-17 review flagged). Ownership after the create
    // needs no re-read: the create itself is atomic (createNewFile on
    // local FS via AtomicSwap.atomicCreate), so whoever's create
    // returned true IS the sole holder.
    try {
      if (fs.exists(lock) &&
          System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime
            > SwapLockStaleMs)
        AtomicSwap.breakByRename(
          fs, lock, java.util.UUID.randomUUID().toString)
    } catch { case _: java.io.FileNotFoundException => () }
    val holderInfo =
      s"op=writeWeights pid=${ProcessHandle.current().pid()} " +
        s"at=${java.time.Instant.now()}"
    if (!AtomicSwap.atomicCreate(fs, lock, holderInfo))
      throw new java.io.IOException(
        s"writeWeights: $lock is held by a concurrent writer — retry after " +
          "its swap completes (stale locks break after " +
          s"${SwapLockStaleMs / 1000}s)")
    try {
      AtomicSwap.heal(fs, live)
      val staged = new HPath(path + "__staged")
      if (fs.exists(staged)) fs.delete(staged, true)
      writeStaged(staged.toString)
      // commitStaged tolerates the one benign race left: a reader that
      // sampled the lock as free just before our create can heal
      // __retired back between our two renames; the writer re-retires
      // and retries once (see AtomicSwap.commitStaged).
      AtomicSwap.commitStaged(fs, live, staged, "writeWeights")
    } finally fs.delete(lock, false)
  }

  /** A swap lock this old can only belong to a crashed writer. */
  private val SwapLockStaleMs = 10L * 60 * 1000

  /** Reader-side load protocol: heal a crashed swap ONLY when no writer
    * holds the lock (healing concurrently would race its renames), and
    * retry the read under a WALL-CLOCK deadline
    * (`spark.graft.weights.readRetryTimeoutMs`, default 10s) so a
    * reload racing a live writer rides through to a clean table instead
    * of throwing path-not-found/file-not-exist into the caller (for the
    * stream gates, that caller is `foreachBatch` — a spurious throw
    * would kill the streaming query). A deadline, not an attempt count:
    * a parquet read's listing-to-fetch window can lose the race to a
    * complete swap (FILE_NOT_EXIST on the replaced part files), and
    * under BACK-TO-BACK re-trains a fixed small attempt budget can lose
    * it every time — churn failures are transient by construction, so
    * the reader keeps retrying until the deadline and only a failure
    * that outlives every concurrent swap propagates. The loaders' own
    * GUARD refusals (torn table, missing regime stamp —
    * IllegalArgumentException) stay final and fail immediately. */
  private def readWithHeal[T](spark: SparkSession, path: String)(
      read: => T): T = {
    import org.apache.hadoop.fs.{Path => HPath}
    val live = new HPath(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new HPath(path + "__lock")
    // a FRESH lock blocks the heal (a live writer owns the dirs); a
    // STALE one is a crashed writer and must not block healing forever —
    // readers treat it as absent (only writers delete locks)
    def lockBlocksHeal: Boolean =
      try {
        fs.exists(lock) &&
          System.currentTimeMillis() -
            fs.getFileStatus(lock).getModificationTime <= SwapLockStaleMs
      } catch { case _: java.io.FileNotFoundException => false }
    val timeoutMs = spark.conf
      .get("spark.graft.weights.readRetryTimeoutMs", "10000").toLong
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var last: Throwable = null
    var delay = 200L
    while (true) {
      // the lock re-check sits IMMEDIATELY before the heal to narrow the
      // sample-then-heal window; the residual race (writer acquires the
      // lock between our check and our heal rename) is tolerated on the
      // WRITER side — AtomicSwap.commitStaged re-retires and retries its
      // staged->live rename once, so a reader heal landing in the
      // writer's rename window degrades to a retried rename, not a
      // failed re-train.
      if (!lockBlocksHeal) AtomicSwap.heal(fs, live)
      try return read
      catch {
        case e: IllegalArgumentException => throw e // guard refusals are final
        case scala.util.control.NonFatal(e) =>
          last = e
          if (System.nanoTime() > deadline) throw last
          Thread.sleep(delay)
          delay = math.min(delay * 2, 1000L)
      }
    }
    throw last // unreachable
  }

  /** Score a corpus under trained micro-weights: (doc_id, score_micros)
    * with `score_micros = floor(1e6 * sigmoid(logit))` in [0, 1e6] —
    * an exact integer column, no float surface at all. One broadcast
    * weight map + one doc_id-keyed aggregation. */
  def scoreQualityLr(
      docs: DataFrame,
      weightsMicros: Array[Long],
      m: Int): DataFrame = {
    require(weightsMicros.length == m + 1,
      s"need m+1=${m + 1} weights, got ${weightsMicros.length}")
    val z = logitMicros(lrFeatures(docs, m), weightsMicros)
    docs.select("doc_id").join(z, Seq("doc_id"), "left")
      .select(col("doc_id"),
        sigmoidMicros(coalesce(col("zm"), lit(0L))).cast("long")
          .as("score_micros"))
  }
}
