package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Multimodal, TextOps}

/** The three batch near-duplicate detectors, run by the `query` workload
  * over its `documents` table, whose duplicate share the generator sets
  * (exact copies and one-token-changed copies of random documents; the
  * pairs it made are in `neardup_truth.json`).
  *
  * `TextOps.lshNearDupPairs`, `TextOps.simhashNearDupPairs`, and
  * `Multimodal.imagePhash` + `phashNearDupPairs` over `asMedia`. Each run
  * materializes its pair set and returns it with its count and an
  * order-free checksum. `candidates` counts a detector's candidate pairs
  * through the public candidate functions, apart from the detector, so
  * the count never adds to a detector's time.
  */
object NearDup {
  val Shingle = 3
  val NumHashes = 16
  val BandRows = 2
  val SimhashBands = 4
  val SimhashMaxHamming = 3
  val PhashBands = 4
  val PhashMaxHamming = 8
  val Tau = 0.8
  val Detectors: Seq[String] = Seq("lsh", "simhash", "phash")

  final case class Output(pairs: DataFrame, count: Long, checksum: Long)

  private def digest(pairs: DataFrame, a: String, b: String): Output = {
    val r = pairs.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col(a), col(b))), lit(0L))).head()
    Output(pairs, r.getLong(0), r.getLong(1))
  }

  /** Run one detector over `docs`. */
  def run(name: String, docs: DataFrame): Output = name match {
    case "lsh" =>
      digest(TextOps.lshNearDupPairs(docs, Shingle, NumHashes, BandRows).localCheckpoint(true),
        "doc_a", "doc_b")
    case "simhash" =>
      digest(TextOps.simhashNearDupPairs(docs, SimhashMaxHamming, SimhashBands)
        .localCheckpoint(true), "doc_a", "doc_b")
    case "phash" =>
      digest(Multimodal.phashNearDupPairs(Multimodal.imagePhash(Multimodal.asMedia(docs)),
        PhashBands, PhashMaxHamming).localCheckpoint(true), "media_a", "media_b")
  }

  /** The candidate pairs one detector verifies, counted on their own. */
  def candidates(name: String, docs: DataFrame): Long = name match {
    case "lsh" =>
      val sigs = TextOps.minhashSigDF(docs, Shingle, NumHashes)
      val hs = sigs.select(col("doc_id") +:
        (0 until NumHashes).map(i => col("sig")(i).as(s"h$i")): _*)
      TextOps.lshCandidates(hs, NumHashes, BandRows).count()
    case "simhash" =>
      // the detector's own banding: equal bit slices of the 60-bit hash
      val bits = 60 / SimhashBands
      val bands = TextOps.simhashDF(docs).select(col("doc_id"),
        posexplode(array((0 until SimhashBands).map(b =>
          shiftright(col("simhash"), b * bits).bitwiseAND(lit((1L << bits) - 1))): _*))
          .as(Seq("band", "sig")))
      TextOps.bucketPairs(bands, TextOps.DefaultMaxBucketSize).count()
    case "phash" =>
      TextOps.bucketPairs(Multimodal.phashBandRows(
        Multimodal.imagePhash(Multimodal.asMedia(docs)), PhashBands),
        TextOps.DefaultMaxBucketSize).count()
  }

  /** Every pair the generator made is found: exact copies at Jaccard 1
    * and Hamming 0 by all three, near copies at Jaccard >= `Tau` by LSH. */
  def check(ctx: Main.Ctx, out: Map[String, Output],
      exact: Set[(Long, Long)], near: Set[(Long, Long)]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val lsh = out("lsh").pairs.select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    ctx.check("lsh finds every exact copy", exact.size,
      (exact -- lsh.filter(_._3 == 1.0).map(p => (p._1, p._2))).size)
    ctx.check("lsh finds every near copy", near.size,
      (near -- lsh.filter(_._3 >= Tau).map(p => (p._1, p._2))).size)
    val sim0 = out("simhash").pairs.filter(col("hamming") === 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    ctx.check("simhash finds every exact copy", exact.size, (exact -- sim0).size)
    val ph0 = out("phash").pairs.filter(col("hamming") === 0)
      .select("media_a", "media_b").as[(Long, Long)].collect()
    ctx.check("phash finds every exact copy", exact.size, (exact -- ph0).size)
  }

  /** The near-dup layer's ratios, from the last pass's outputs. */
  def layers(ctx: Main.Ctx, out: Map[String, Output], counts: collection.Map[String, Long]): Unit = {
    val lshCand = counts.getOrElse("lsh", 0L)
    val phPairs = out("phash").count
    ctx.layer("llm.lsh_candidates", lshCand)
    ctx.layer("llm.lsh_verified_frac",
      out("lsh").pairs.filter(col("jaccard") >= Tau).count().toDouble / math.max(1L, lshCand))
    ctx.layer("llm.phash_candidates", counts.getOrElse("phash", 0L))
    ctx.layer("llm.phash_pairs", phPairs)
    ctx.layer("llm.phash_hamming0_frac",
      out("phash").pairs.filter(col("hamming") === 0).count().toDouble / math.max(1L, phPairs))
  }
}
