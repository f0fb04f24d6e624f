package graft.jobs

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.model.Model
import graft.ops.{BlockOps, FollowerConfig}
import graft.sink.{InMemoryKvBackend, KvBackends}

/** The Strict drain places transaction summaries and block headers in its
  * one ordered pass ([[BlockOps.placeSummaries]]); this checks, on
  * generated chains, that its publish sequence is the relational
  * [[BlockOps.channelMessages]] one — in strict parity, in corrected mode,
  * and split into micro-batches with the summary carry (empty batches
  * included). Driven with plain scalacheck (no scalatest bridge in the
  * offline deps), from a fixed seed.
  */
class DrainPlacementPropertySpec extends SparkSpec {

  private val Z40 = Model.VirtualTrxId

  /** `vops` are (trx id, type, value). */
  private final case class Block(
      num: Long, trxs: Seq[(String, Seq[(String, String)])], vops: Seq[(String, String, String)],
      extensions: Seq[String])

  private final case class Case(
      blocks: Seq[Block], customId: Boolean, header: Boolean, cuts: Seq[Int]) {
    def cfg: FollowerConfig =
      FollowerConfig(publishOpCustomId = customId, includeBlockHeader = header)
  }

  private val op: Gen[(String, String)] = for {
    k <- Gen.chooseNum(0, 99)
    o <- Gen.oneOf(
      "vote_operation" -> s"""{"voter":"u$k","weight":10000}""",
      "comment_operation" -> s"""{"author":"u$k","permlink":"p$k"}""",
      "transfer" -> s"""{"from":"u$k","amount":"1.000 HIVE"}""",
      "custom_json_operation" -> s"""{"id":"app$k","json":"{}"}""",
      "custom_json_operation" -> s"""{"json":"{}"}""",
      "custom_json" -> s"""{"id":"","json":"{}"}""")
  } yield o

  /** Mostly under the sentinel id, now and then under a trx id of its own
    * (an effective_comment_vote names the vote's trx). */
  private val vop: Gen[(String, String, String)] = for {
    k <- Gen.chooseNum(0, 99)
    id <- Gen.frequency(3 -> Gen.const(Z40), 1 -> Gen.oneOf("aa11", "bb22"))
    o <- Gen.oneOf(
      "producer_reward" -> s"""{"producer":"w$k"}""",
      "author_reward" -> s"""{"author":"u$k"}""",
      "interest_operation" -> s"""{"owner":"u$k"}""")
  } yield (id, o._1, o._2)

  /** Hex ids, now and then with characters JSON has to escape. */
  private val trxStem: Gen[String] = Gen.frequency(
    8 -> Gen.listOfN(6, Gen.hexChar).map(_.mkString.toLowerCase),
    1 -> Gen.oneOf("q\"t", "b\\s", "n\nl", "ét"))

  private val trx: Gen[(String, Seq[(String, String)])] = for {
    stem <- trxStem
    n <- Gen.frequency(1 -> Gen.const(0), 4 -> Gen.chooseNum(1, 3)) // zero-op trxs
    ops <- Gen.listOfN(n, op)
  } yield stem -> ops

  private def block(num: Long): Gen[Block] = for {
    nTrx <- Gen.frequency(1 -> Gen.const(0), 3 -> Gen.chooseNum(1, 3))
    trxs <- Gen.listOfN(nTrx, trx)
    nVops <- Gen.frequency(1 -> Gen.const(0), 1 -> Gen.chooseNum(1, 3))
    vops <- Gen.listOfN(nVops, vop)
    ext <- Gen.oneOf(Seq.empty[String], Seq("e1"))
  } yield Block(num, trxs.zipWithIndex.map { case ((s, ops), i) => s"$s-$num-$i" -> ops }, vops, ext)

  private val caseGen: Gen[Case] = for {
    first <- Gen.chooseNum(1L, 5000L)
    n <- Gen.chooseNum(2, 7)
    gaps <- Gen.listOfN(n, Gen.chooseNum(1L, 2L))
    blocks <- Gen.sequence[Seq[Block], Block](gaps.scanLeft(first)(_ + _).take(n).map(block))
    customId <- Gen.oneOf(true, false)
    header <- Gen.oneOf(true, false)
    nCuts <- Gen.chooseNum(1, 3)
    cuts <- Gen.listOfN(nCuts, Gen.chooseNum(0, n))
  } yield Case(blocks, customId, header, cuts.sorted)

  private def blockFrame(bs: Seq[Block]): DataFrame =
    spark.createDataFrame(bs.map { b =>
      Row(b.num, s"p${b.num}", s"2024-01-01T00:00:${b.num % 60}", s"w${b.num}", s"m${b.num}",
        b.extensions, b.trxs.map(_._1),
        b.trxs.map { case (_, ops) => Row(ops.map { case (t, v) => Row(t, v) }) })
    }.asJava, Model.blockSchema)

  private def vopFrame(bs: Seq[Block]): DataFrame =
    spark.createDataFrame(bs.flatMap { b =>
      b.vops.zipWithIndex.map { case ((id, t, v), i) =>
        Row(b.num, id, s"2024-01-01T00:00:${b.num % 60}", (i + 1).toLong, Seq(t, v))
      }
    }.asJava, Model.vopSchema)

  private var run = 0
  private def backend(): (String, InMemoryKvBackend) = {
    run += 1
    val b = new InMemoryKvBackend
    KvBackends.register(s"placement-$run", b)
    s"placement-$run" -> b
  }

  private def relational(c: Case, cfg: FollowerConfig): Seq[(String, String)] =
    BlockOps.channelMessages(blockFrame(c.blocks), vopFrame(c.blocks), cfg)
      .select("channel", "payload").collect().map(r => r.getString(0) -> r.getString(1)).toSeq

  private def drained(c: Case, cfg: FollowerConfig): Seq[(String, String)] = {
    val (name, b) = backend()
    BlockFollowerPipeline.processBatch(blockFrame(c.blocks), vopFrame(c.blocks), cfg, name)
    b.publishLog
  }

  /** The chain split at `cuts` (repeated or end cuts make empty batches),
    * run as carrying micro-batches. */
  private def carried(c: Case): Seq[(String, String)] = {
    val (name, b) = backend()
    val bounds = (0 +: c.cuts :+ c.blocks.size).sliding(2).toSeq
    bounds.zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      val slice = c.blocks.slice(lo, hi)
      BlockFollowerPipeline.processBatch(blockFrame(slice), vopFrame(slice), c.cfg, name,
        carrySummaries = true, batchId = i.toLong)
    }
    b.publishLog
  }

  test("the Strict drain's publish sequence equals the relational placement") {
    val seen = scala.collection.mutable.Set.empty[String]
    val prop = Prop.forAllNoShrink(caseGen) { c =>
      val strict = relational(c, c.cfg)
      val corrected = relational(c, c.cfg.copy(strictParity = false))
      assert(drained(c, c.cfg) === strict, "strict parity")
      assert(drained(c, c.cfg.copy(strictParity = false)) === corrected, "corrected mode")
      assert(carried(c) === strict, s"micro-batches cut at ${c.cuts}")

      val trxs = c.blocks.flatMap(_.trxs)
      if (trxs.exists(_._2.isEmpty)) seen += "zero-op trx"
      if (c.blocks.exists(b => b.trxs.forall(_._2.isEmpty) && b.vops.isEmpty)) seen += "block without ops"
      if (c.blocks.exists(_.vops.nonEmpty)) seen += "vops"
      if (c.blocks.exists(_.vops.map(_._1).distinct.size > 1)) seen += "vops under different trx ids"
      if (trxs.exists(_._1.exists(ch => ch == '"' || ch == '\\' || ch == '\n'))) seen += "escaped id"
      if (c.cuts.sliding(2).exists(w => w.size == 2 && w(0) == w(1)) || c.cuts.contains(0))
        seen += "empty batch"
      seen += s"customId=${c.customId}"
      seen += s"header=${c.header}"
      true
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12).withWorkers(1)
        .withInitialSeed(Seed(20261019L)),
      prop)
    assert(res.passed, res.status.toString)
    assert(seen === Set("zero-op trx", "block without ops", "vops", "vops under different trx ids",
      "escaped id", "empty batch", "customId=true", "customId=false", "header=true", "header=false"))
  }

  test("vops under different trx ids: the drain fires a summary at each trx id change; ops keep their order") {
    // A trx id that comes back after another one starts a prefix of its
    // own (the reference's run-length loop), in the drain and in the
    // relational form alike.
    val cfg = FollowerConfig(includeBlockHeader = false)
    val blocks = Seq(
      Block(500L, Seq("r1" -> Seq("vote_operation" -> """{"voter":"a"}""")), Nil, Nil),
      Block(501L, Seq("r2" -> Seq("comment_operation" -> """{"author":"b"}""")), Nil, Nil))
    val vops = spark.createDataFrame(Seq(("aa11", 1L), ("bb22", 2L), ("aa11", 3L)).map { case (id, n) =>
      Row(500L, id, "2024-01-01T00:00:00", n, Seq("effective_comment_vote", "{}"))
    }.asJava, Model.vopSchema)
    val (name, b) = backend()
    BlockFollowerPipeline.processBatch(blockFrame(blocks), vops, cfg, name)

    val t = (id: String) => "hive:transaction" -> s"""{"block_num":500,"transaction_id":"$id","transaction_num":0}"""
    val k = (key: String) => s"""{"key":"$key"}"""
    val ops = Seq(
      "hive:op:vote" -> k("hive:500:r1:0:vote"),
      "hive:op:effective_comment_vote" -> k("hive:500:aa11:0:effective_comment_vote"),
      "hive:op:effective_comment_vote" -> k("hive:500:bb22:1:effective_comment_vote"),
      "hive:op:effective_comment_vote" -> k("hive:500:aa11:2:effective_comment_vote"),
      "hive:op:comment" -> k("hive:501:r2:0:comment"))
    assert(b.publishLog === Seq(
      "hive:block" -> """{"block_num":500}""", ops(0),
      t("r1"), ops(1),
      t("aa11"), ops(2),
      t("bb22"), ops(3),
      t("aa11"), "hive:block" -> """{"block_num":501}""", ops(4)))
    val relational = BlockOps.channelMessages(blockFrame(blocks), vops, cfg)
      .select("channel", "payload").collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    assert(relational === b.publishLog)
  }
}
