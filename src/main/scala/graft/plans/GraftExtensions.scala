package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** Session extension wiring: `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * ([[graft.Sessions]] sets it on every session). Registers the native
  * `graft_*` functions the operators call; a session without it fails
  * those queries at analysis. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Extract a literal INT argument (the kernel shape params: shingle size,
    * hash count) — analysis error otherwise, never a runtime surprise. */
  private def litInt(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn argument $pos must be an INT literal, got $other")
  }

  private def litDouble(e: Expression, fn: String, pos: Int): Double = e match {
    case Literal(v: Double, org.apache.spark.sql.types.DoubleType) => v
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v.toDouble
    // raw-SQL fractional literals (`graft_band_pairs(items, 0.8)`) parse as
    // exact DECIMAL — accept them with the standard toDouble conversion
    case Literal(v: org.apache.spark.sql.types.Decimal, _: org.apache.spark.sql.types.DecimalType) =>
      v.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn argument $pos must be a numeric literal, got $other")
  }

  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_shingles"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.ShingleSet].getName, "graft_shingles"),
      (children: Seq[Expression]) =>
        graft.functions.ShingleSet(children(0), litInt(children(1), "graft_shingles", 1)),
    ))
    extensions.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_minhash"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.MinHashSig].getName, "graft_minhash"),
      (children: Seq[Expression]) =>
        graft.functions.MinHashSig(children(0),
          litInt(children(1), "graft_minhash", 1), litInt(children(2), "graft_minhash", 2)),
    ))
    extensions.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_repstats"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.RepStats].getName, "graft_repstats"),
      (children: Seq[Expression]) =>
        graft.functions.RepStats(children(0), litInt(children(1), "graft_repstats", 1)),
    ))
    // Spark's Bloom-filter expressions exist only as internal plumbing for
    // the runtime bloom-join rule (not in the SQL registry); surface them
    // for the semi-join-reduction pattern (TextOps.contaminatedIdsBloom)
    extensions.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_bloom_agg"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1), children(2)),
    ))
    extensions.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_bloom_contains"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_bloom_contains"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1)),
    ))
    extensions.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_token_count_in"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.TokenCountIn].getName, "graft_token_count_in"),
      (children: Seq[Expression]) => {
        val w = children(1)
        require(w.foldable, "graft_token_count_in word list must be foldable")
        val words = w.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toObjectArray(org.apache.spark.sql.types.StringType)
          .map(_.toString).toSeq
        graft.functions.TokenCountIn(children(0), words)
      },
    ))
    extensions.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_nfc"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => graft.functions.NfcNormalize(children(0)),
    ))
    extensions.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_chunk_hashes"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.ChunkHashes].getName, "graft_chunk_hashes"),
      (children: Seq[Expression]) =>
        graft.functions.ChunkHashes(children(0), litInt(children(1), "graft_chunk_hashes", 1)),
    ))
    extensions.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_min_shingle_md5"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.MinShingleMd5].getName, "graft_min_shingle_md5"),
      (children: Seq[Expression]) =>
        graft.functions.MinShingleMd5(children(0), litInt(children(1), "graft_min_shingle_md5", 1)),
    ))
    extensions.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_centroid_ranks"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.CentroidRanks].getName, "graft_centroid_ranks"),
      (children: Seq[Expression]) => {
        val m = children(1)
        require(m.foldable, "graft_centroid_ranks centroid matrix must be foldable")
        val cents = m.eval() match {
          case a: org.apache.spark.sql.catalyst.util.ArrayData =>
            a.toObjectArray(m.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType)
              .map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray().toSeq)
              .toSeq
          case other => throw new IllegalArgumentException(
            s"graft_centroid_ranks argument 1 must be ARRAY<ARRAY<DOUBLE>>, got $other")
        }
        graft.functions.CentroidRanks(children(0), cents)
      },
    ))
    extensions.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_pq_codes"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.PqCodes].getName, "graft_pq_codes"),
      (children: Seq[Expression]) => {
        val m = children(1)
        require(m.foldable, "graft_pq_codes codebook tensor must be foldable")
        def elemType(dt: org.apache.spark.sql.types.DataType) =
          dt.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
        val cbs = m.eval() match {
          case a: org.apache.spark.sql.catalyst.util.ArrayData =>
            val sub = elemType(m.dataType)
            a.toObjectArray(sub).map { cbAny =>
              val cb = cbAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
              cb.toObjectArray(elemType(sub))
                .map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
                  .toDoubleArray().toSeq)
                .toSeq
            }.toSeq
          case other => throw new IllegalArgumentException(
            s"graft_pq_codes argument 1 must be ARRAY<ARRAY<ARRAY<DOUBLE>>>, got $other")
        }
        graft.functions.PqCodes(children(0), cbs)
      },
    ))
    extensions.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot_fd"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.DotProductFD].getName, "graft_dot_fd"),
      (children: Seq[Expression]) =>
        graft.functions.DotProductFD(children(0), children(1)),
    ))
    extensions.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_band_pairs"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.BandPairsExpr].getName, "graft_band_pairs"),
      (children: Seq[Expression]) =>
        graft.functions.BandPairsExpr(children(0),
          litDouble(children(1), "graft_band_pairs", 1)),
    ))
    extensions.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_inc_band_pairs"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.IncBandPairsExpr].getName, "graft_inc_band_pairs"),
      (children: Seq[Expression]) =>
        graft.functions.IncBandPairsExpr(children(0),
          litDouble(children(1), "graft_inc_band_pairs", 1)),
    ))
    extensions.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_isect_size"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.IntersectSize].getName, "graft_isect_size"),
      (children: Seq[Expression]) =>
        graft.functions.IntersectSize(children(0), children(1)),
    ))
    extensions.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_simhash64"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.SimHash64].getName, "graft_simhash64"),
      (children: Seq[Expression]) => graft.functions.SimHash64(children.head),
    ))
    extensions.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot_f"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.DotProductF].getName, "graft_dot_f"),
      (children: Seq[Expression]) =>
        graft.functions.DotProductF(children(0), children(1)),
    ))
    extensions.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_norm_f"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.NormF].getName, "graft_norm_f"),
      (children: Seq[Expression]) => graft.functions.NormF(children.head),
    ))
  }
}
