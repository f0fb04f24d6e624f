package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd text kernels — the per-row replacements for the
  * interpreted higher-order-function trees in TextOps (same 100x-class win
  * as [[SimHash64]]: HOF lambdas evaluate one interpreted call per element,
  * these run one tight JVM loop per row inside whole-stage codegen).
  *
  * All three mirror their HOF formulations exactly (the HOF forms remain in
  * TextOps as the specs' cross-check references):
  *
  *  - `graft_shingles(text, k)`: distinct k-token shingles in first-
  *    occurrence order == `array_distinct(transform(sequence(0, n-k),
  *    i -> concat_ws(' ', t[i..i+k-1])))` over `split(text, ' ', -1)`.
  *  - `graft_minhash(text, k, numHashes)`: minhash signature over the
  *    distinct shingle set. Hash family: h1/h2 = first/second 4 md5 bytes of
  *    the shingle as unsigned 32-bit ints, h_j = (h1 + j*h2) mod 4294967311
  *    (prime > 2^32; j*h2 <= 15*2^32 so the affine form never overflows a
  *    long). ONE md5 per shingle instead of numHashes — the classic
  *    two-hash universal family. NULL for docs with < k tokens (no
  *    shingle set to sign). Oracle-expressible: DuckDB computes h1/h2 via
  *    ('0x' || substr(md5(s), 1|9, 8))::BIGINT.
  *  - `graft_repstats(text, n)`: struct(n_grams, n_distinct, top_count) of
  *    the n-gram OCCURRENCE multiset (not distinct) — the Gopher/C4
  *    repetition-filter counters, one hash-map pass instead of the
  *    O(distinct * grams) filter-per-distinct-gram HOF.
  */
object TextKernels {

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  val MinHashPrime = 4294967311L // smallest prime > 2^32

  /** Whitespace tokens, keeping empties — same as Spark's split(text, ' '). */
  private def toks(text: UTF8String): Array[String] = text.toString.split(" ", -1)

  private def gram(t: Array[String], i: Int, k: Int): String = {
    val sb = new java.lang.StringBuilder(t(i))
    var j = 1
    while (j < k) { sb.append(' ').append(t(i + j)); j += 1 }
    sb.toString
  }

  /** Distinct k-shingles in first-occurrence order (array_distinct parity). */
  def shingles(text: UTF8String, k: Int): ArrayData = {
    val t = toks(text)
    if (t.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= t.length - k) { seen.add(gram(t, i, k)); i += 1 }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** Minhash signature over the distinct shingle set; null when < k tokens. */
  def minhash(text: UTF8String, k: Int, numHashes: Int): ArrayData = {
    val t = toks(text)
    if (t.length < k) return null
    val seen = new java.util.HashSet[String]()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val md = digest.get()
    var i = 0
    while (i <= t.length - k) {
      val g = gram(t, i, k)
      if (seen.add(g)) {
        md.reset()
        val d = md.digest(g.getBytes("UTF-8"))
        val h1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        val h2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) | ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        var j = 0
        while (j < numHashes) {
          val h = (h1 + j * h2) % MinHashPrime
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  private def toHex(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Count of whitespace tokens that are members of `words`. Equals
    * `size(filter(split(text, ' '), x -> x IN (...)))`. */
  def tokenCountIn(text: UTF8String, words: java.util.HashSet[String]): Int = {
    val t = toks(text)
    var n = 0
    var i = 0
    while (i < t.length) {
      if (words.contains(t(i))) n += 1
      i += 1
    }
    n
  }

  /** Lowercase-hex md5 of the minimum k-shingle digest (byte-wise unsigned
    * min == lexicographic min of the fixed-width hex, so this equals
    * `array_min(transform(shingles, s -> md5(s)))`); null when < k
    * tokens. */
  def minShingleMd5(text: UTF8String, k: Int): UTF8String = {
    val t = toks(text)
    if (t.length < k) return null
    val md = digest.get()
    var best: Array[Byte] = null
    var i = 0
    while (i <= t.length - k) {
      md.reset()
      val d = md.digest(gram(t, i, k).getBytes("UTF-8"))
      if (best == null || unsignedLess(d, best)) best = d
      i += 1
    }
    UTF8String.fromString(toHex(best))
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  /** md5 hex per consecutive w-token chunk, trailing partial included.
    * Equals `transform(sequence(0, ceil(n/w)-1),
    * i -> md5(concat_ws(' ', slice(t, i*w+1, w))))` over `split(text, ' ')`
    * (split of "" is [""], so every doc has >= 1 chunk). */
  def chunkHashes(text: UTF8String, w: Int): ArrayData = {
    val t = toks(text)
    val n = (t.length + w - 1) / w
    val md = digest.get()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val from = i * w
      val until = math.min(from + w, t.length)
      val sb = new java.lang.StringBuilder(t(from))
      var j = from + 1
      while (j < until) { sb.append(' ').append(t(j)); j += 1 }
      md.reset()
      out(i) = UTF8String.fromString(toHex(md.digest(sb.toString.getBytes("UTF-8"))))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Unicode NFC normalization (canonical composition). Fast path: text
    * already in NFC (all ASCII is) returns the input UTF8String untouched
    * — the isNormalized probe is a scan, not a rebuild. Mirrors DuckDB's
    * `nfc_normalize`, which is what makes the normalized-fingerprint
    * oracle (q58) cross-engine. */
  def nfc(text: UTF8String): UTF8String = {
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  /** |distinct(a) ∩ distinct(b)| over two string arrays — equals
    * `size(array_intersect(a, b))` for arrays without null elements (the
    * shingle-set contract), WITHOUT materializing the intersection array:
    * one hash set over the smaller side, one membership probe per element
    * of the larger. The LSH verify join runs this once per candidate pair —
    * at a skewed band bucket (thousands of docs sharing boilerplate
    * shingles) the pair count is quadratic in the bucket, so the per-pair
    * constant IS the verify stage's cost. */
  def intersectSize(a: ArrayData, b: ArrayData): Long = {
    val (small, large) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val ns = small.numElements()
    val set = new java.util.HashSet[UTF8String](ns * 2)
    var i = 0
    while (i < ns) { set.add(small.getUTF8String(i)); i += 1 }
    var count = 0L
    val nl = large.numElements()
    var j = 0
    // remove-on-hit counts each distinct common element once even when the
    // larger side carries duplicates (array_intersect dedups both sides)
    while (j < nl) { if (set.remove(large.getUTF8String(j))) count += 1; j += 1 }
    count
  }

  /** Long-array twin of [[intersectSize]] — the verify pre-screen's hot
    * loop: primitive getLong reads, no UTF8String materialization, no
    * per-element lambda dispatch. Same remove-on-hit distinct semantics. */
  def intersectSizeLong(a: ArrayData, b: ArrayData): Long = {
    val (small, large) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val ns = small.numElements()
    val set = new java.util.HashSet[java.lang.Long](ns * 2)
    var i = 0
    while (i < ns) { set.add(small.getLong(i)); i += 1 }
    var count = 0L
    val nl = large.numElements()
    var j = 0
    while (j < nl) { if (set.remove(large.getLong(j))) count += 1; j += 1 }
    count
  }

  /** (n_grams, n_distinct, top_count) over n-gram occurrences. */
  def repStats(text: UTF8String, n: Int): InternalRow = {
    val t = toks(text)
    if (t.length < n) return InternalRow(0, 0, 0)
    val total = t.length - n + 1
    val counts = new java.util.HashMap[String, Int]()
    var top = 0
    var i = 0
    while (i < total) {
      val c = counts.merge(gram(t, i, n), 1, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    InternalRow(total, counts.size, top)
  }
}

/** Base for the (text, intLiteral...) kernels: string child, literal params. */
sealed trait TextKernelExpr extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.catalogString}")
}

case class ShingleSet(child: Expression, k: Int) extends TextKernelExpr {
  require(k >= 1, s"graft_shingles: shingle size must be >= 1, got $k")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.shingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.shingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

case class MinHashSig(child: Expression, k: Int, numHashes: Int) extends TextKernelExpr {
  require(k >= 1, s"graft_minhash: shingle size must be >= 1, got $k")
  require(numHashes >= 1, s"graft_minhash: numHashes must be >= 1, got $numHashes")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // docs with < k tokens have no signature
  override def prettyName: String = "graft_minhash"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.minhash(input.asInstanceOf[UTF8String], k, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // freshName: two kernel calls in one codegen scope must not collide
      // (nullSafeExec emits this UNBRACED when the child is non-nullable)
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.TextKernels.minhash($c, $k, $numHashes);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

case class TokenCountIn(child: Expression, words: Seq[String]) extends TextKernelExpr {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_token_count_in"

  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    words.foreach(s.add)
    s
  }

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.tokenCountIn(input.asInstanceOf[UTF8String], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("words", set, "java.util.HashSet<String>")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.tokenCountIn($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenCountIn =
    copy(child = newChild)
}

case class MinShingleMd5(child: Expression, k: Int) extends TextKernelExpr {
  require(k >= 1, s"graft_min_shingle_md5: shingle size must be >= 1, got $k")
  override def dataType: DataType = StringType
  override def nullable: Boolean = true // docs with < k tokens
  override def prettyName: String = "graft_min_shingle_md5"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.minShingleMd5(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.unsafe.types.UTF8String $r =
         |  graft.functions.TextKernels.minShingleMd5($c, $k);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinShingleMd5 =
    copy(child = newChild)
}

/** `graft_nfc(text)` — Unicode NFC normalization; see [[TextKernels.nfc]].
  * There is no pure-built-ins Spark fallback (no NFC function in the SQL
  * surface), so consumers treat NFC as a no-op when the extension is
  * absent — correct for ASCII corpora, documented at the call site. */
case class NfcNormalize(child: Expression) extends TextKernelExpr {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

case class ChunkHashes(child: Expression, w: Int) extends TextKernelExpr {
  require(w >= 1, s"graft_chunk_hashes: chunk width must be >= 1, got $w")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_chunk_hashes"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.chunkHashes(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.chunkHashes($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): ChunkHashes =
    copy(child = newChild)
}

case class RepStats(child: Expression, n: Int) extends TextKernelExpr {
  require(n >= 1, s"graft_repstats: n-gram size must be >= 1, got $n")
  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("top_count", IntegerType, nullable = false)))
  override def prettyName: String = "graft_repstats"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.repStats(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.repStats($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): RepStats =
    copy(child = newChild)
}

/** `graft_isect_size(a, b)` — |distinct(a) ∩ distinct(b)| of two string
  * OR two long arrays as a BIGINT; equals `size(array_intersect(a, b))`
  * for arrays without null elements. The long form is the 64-bit-hash
  * verify pre-screen's kernel ([[TextKernels.intersectSizeLong]]). */
case class IntersectSize(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_isect_size requires two ARRAY<STRING> or two ARRAY<BIGINT> arguments, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_isect_size"

  private def isLong: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (isLong)
      TextKernels.intersectSizeLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      TextKernels.intersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isLong) "intersectSizeLong" else "intersectSize"
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextKernels.$fn($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectSize =
    copy(left = newLeft, right = newRight)
}

/** Kernels for the size-aware LSH bucket pair emission
  * ([[graft.llm.TextOps.bucketPairsSized]] /
  * `incrementalBucketPairsSized`): a skewed band bucket (thousands of
  * docs sharing boilerplate-derived band minhashes) emits its pairs from
  * ONE task, and the interpreted nested transform/filter HOF tree pays a
  * lambda dispatch per candidate combination — O(bucket^2) of them. These
  * run the identical loop (including the identical double-precision size
  * bound) natively inside codegen.
  *
  * The size bound is SLACKENED by [[BandPairKernels.SizeBoundSlack]]:
  * `min(na,nb) >= tau * max(na,nb) * (1 - 1e-12)`. The mathematical cull
  * condition (J >= tau ⟹ min >= tau * max) is exact over rationals, but
  * the three places that must agree — these kernels, the specs' HOF
  * reference SQL, and the final exact-jaccard filter — each round differently at
  * the last ulp; the slack guarantees a pair sitting ON the boundary is
  * always DEFERRED to the exact verify rather than culled, so the
  * prefiltered pair set equals the unprefiltered one for every tau, not
  * just taus whose double representation is exact. The HOF twins use the
  * same double arithmetic (`CAST(tau AS DOUBLE) * n * slack`, left
  * associated), keeping kernel and fallback bit-identical. */
object BandPairKernels {

  /** Shared slack factor for the size-bound cull — see the class doc. */
  val SizeBoundSlack: Double = 1.0 - 1e-12

  private def pair(a: Long, b: Long, na: Long, nb: Long): InternalRow =
    InternalRow(a, b, na, nb)

  val pairType: DataType = ArrayType(StructType(Seq(
    StructField("doc_a", LongType, nullable = false),
    StructField("doc_b", LongType, nullable = false),
    StructField("na", LongType, nullable = false),
    StructField("nb", LongType, nullable = false))), containsNull = false)

  /** Within-corpus form over (doc_id, n) items: all i<j pairs by doc_id
    * order passing the size bound. Input order is irrelevant (the output
    * is a SET that downstream `distinct()` normalizes). */
  def bandPairs(items: ArrayData, tau: Double): ArrayData = {
    val k = items.numElements()
    val ids = new Array[Long](k)
    val ns = new Array[Long](k)
    var i = 0
    while (i < k) {
      val r = items.getStruct(i, 2)
      ids(i) = r.getLong(0); ns(i) = r.getLong(1)
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    i = 0
    while (i < k) {
      var j = i + 1
      while (j < k) {
        val (a, b) = if (ids(i) < ids(j)) (i, j) else (j, i)
        val lo = math.min(ns(a), ns(b)).toDouble
        val hi = math.max(ns(a), ns(b)).toDouble
        if (lo >= tau * hi * SizeBoundSlack)
          out += pair(ids(a), ids(b), ns(a), ns(b))
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Incremental form over (doc_id, inc, n) items: pairs only FOR
    * incoming docs (doc_b), against standing docs or lower-id incoming
    * docs, passing the size bound. */
  def incBandPairs(items: ArrayData, tau: Double): ArrayData = {
    val k = items.numElements()
    val ids = new Array[Long](k)
    val inc = new Array[Boolean](k)
    val ns = new Array[Long](k)
    var i = 0
    while (i < k) {
      val r = items.getStruct(i, 3)
      ids(i) = r.getLong(0); inc(i) = r.getLong(1) == 1L; ns(i) = r.getLong(2)
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var x = 0
    while (x < k) {
      if (inc(x)) {
        var a = 0
        while (a < k) {
          if ((!inc(a) || ids(a) < ids(x))) {
            val lo = math.min(ns(a), ns(x)).toDouble
            val hi = math.max(ns(a), ns(x)).toDouble
            if (lo >= tau * hi * SizeBoundSlack)
              out += pair(ids(a), ids(x), ns(a), ns(x))
          }
          a += 1
        }
      }
      x += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `graft_band_pairs(items, tau)` — see [[BandPairKernels.bandPairs]]. */
case class BandPairsExpr(child: Expression, tau: Double) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _) if s.length == 2 &&
      s.fields.forall(_.dataType == LongType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_band_pairs requires ARRAY<STRUCT<doc_id BIGINT, n BIGINT>>, got ${other.catalogString}")
  }
  override def dataType: DataType = BandPairKernels.pairType
  override def prettyName: String = "graft_band_pairs"
  override protected def nullSafeEval(input: Any): Any =
    BandPairKernels.bandPairs(input.asInstanceOf[ArrayData], tau)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BandPairKernels.bandPairs($c, $tau)")
  override protected def withNewChildInternal(newChild: Expression): BandPairsExpr =
    copy(child = newChild)
}

/** `graft_inc_band_pairs(items, tau)` — see [[BandPairKernels.incBandPairs]]. */
case class IncBandPairsExpr(child: Expression, tau: Double) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _) if s.length == 3 &&
      s.fields.forall(_.dataType == LongType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_inc_band_pairs requires ARRAY<STRUCT<doc_id BIGINT, inc BIGINT, n BIGINT>>, got ${other.catalogString}")
  }
  override def dataType: DataType = BandPairKernels.pairType
  override def prettyName: String = "graft_inc_band_pairs"
  override protected def nullSafeEval(input: Any): Any =
    BandPairKernels.incBandPairs(input.asInstanceOf[ArrayData], tau)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BandPairKernels.incBandPairs($c, $tau)")
  override protected def withNewChildInternal(newChild: Expression): IncBandPairsExpr =
    copy(child = newChild)
}
