package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** How the block source splits a micro-batch's height range into fetch
  * partitions. */
class SplitHeightsSpec extends AnyFunSuite {

  private val cfg = RpcConfig(Seq("http://127.0.0.1:1/"), "irreversible", Some(1L), None,
    blocksPerTrigger = 100L, numPartitions = 4, maxRetries = 1, retryBaseSec = 0.01,
    rpcMethod = "condenser_api.get_block",
    dgpoMethod = "condenser_api.get_dynamic_global_properties")

  private def ranges(from: Long, until: Long, c: RpcConfig = cfg): Seq[(Long, Long)] =
    RpcMicroBatchStream.splitHeights(c, from, until).toSeq.map {
      case p: HeightRangePartition => p.from -> p.until
    }

  test("a range of at most FetchWindow heights is one partition") {
    assert(ranges(7, 8) === Seq(7L -> 8L))
    assert(ranges(7, 15) === Seq(7L -> 15L))
    assert(ranges(7, 15, cfg.copy(numPartitions = 8)) === Seq(7L -> 15L))
    assert(ranges(7, 7).isEmpty)
  }

  test("100 heights at numPartitions 4 are 4 ranges of 25 inside [from, until)") {
    val rs = ranges(1, 101)
    assert(rs === Seq(1L -> 26L, 26L -> 51L, 51L -> 76L, 76L -> 101L))
    Seq((1L, 18L, 4), (5L, 30L, 3), (10L, 11L, 4), (3L, 1000L, 7)).foreach { case (from, until, n) =>
      val rs = ranges(from, until, cfg.copy(numPartitions = n))
      assert(rs.size <= n)
      assert(rs.head._1 === from && rs.last._2 === until)
      assert(rs.forall { case (lo, hi) => from <= lo && lo < hi && hi <= until })
      assert(rs.sliding(2).forall(w => w.size < 2 || w(0)._2 == w(1)._1))
    }
  }
}
