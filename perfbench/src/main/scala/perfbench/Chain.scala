package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sink.{InMemoryKvBackend, KvBackend}

/** Seeded Hive-shaped blocks and what the follower must make of them.
  *
  * Each block carries `trxPerBlock` transactions of 1 to 3 operations:
  * votes, comments, transfers and `custom_json` with a few dozen ids. The
  * expected KV entries and publish order are derived here from the
  * generated blocks alone, by the reference rules the follower reproduces,
  * so the check does not reuse the code it checks.
  */
final class Chain(seed: Long, val first: Long, val count: Int, trxPerBlock: Int) {
  import Chain._

  val blocks: IndexedSeq[Block] = {
    val rnd = new java.util.SplittableRandom(seed)
    def hex(n: Int): String = {
      val sb = new StringBuilder
      while (sb.length < n) sb.append(Integer.toHexString(rnd.nextInt(16)))
      sb.toString
    }
    def user(): String = Users(rnd.nextInt(Users.length))
    (0 until count).map { i =>
      val num = first + i
      val trxs = (0 until trxPerBlock).map { _ =>
        val ops = (0 until 1 + rnd.nextInt(3)).map { _ =>
          val pick = rnd.nextInt(100)
          if (pick < 45)
            Op("vote_operation", s"""{"voter":"${user()}","author":"${user()}","permlink":"p-${hex(6)}","weight":${rnd.nextInt(10001)}}""")
          else if (pick < 60)
            Op("comment_operation", s"""{"parent_author":"","parent_permlink":"hive","author":"${user()}","permlink":"post-${hex(8)}","title":"t ${hex(4)}","body":"b ${hex(12)}"}""")
          else if (pick < 75)
            Op("transfer_operation", s"""{"from":"${user()}","to":"${user()}","amount":"${rnd.nextInt(1000)}.${rnd.nextInt(10)}00 HIVE","memo":"m${hex(4)}"}""")
          else
            Op("custom_json_operation", s"""{"required_auths":[],"required_posting_auths":["${user()}"],"id":"${CustomIds(rnd.nextInt(CustomIds.length))}","json":"{\\"n\\":${rnd.nextInt(100)}}"}""")
        }
        Trx(hex(40), ops)
      }
      val secs = 1548708903L + i * 3L
      Block(num, f"${num - 1}%08x${hex(32)}",
        java.time.Instant.ofEpochSecond(secs).toString.stripSuffix("Z"),
        Users(rnd.nextInt(Users.length)), hex(40), trxs)
    }
  }

  private val byNum: Map[Long, String] = blocks.map(b => b.num -> b.json).toMap
  def json(num: Long): Option[String] = byNum.get(num)
  def last: Long = first + count - 1
  def opCount: Int = blocks.map(_.trxs.map(_.ops.size).sum).sum

  /** key -> (value, ttl) for every operation. */
  def expectedKv(chain: String, ttl: Long): Map[String, (String, Long)] =
    blocks.flatMap { b =>
      b.trxs.flatMap { t =>
        t.ops.zipWithIndex.map { case (op, i) =>
          s"$chain:${b.num}:${t.id}:$i:${op.short}" ->
            (s"""{"type":"${op.kind}","value":${op.value},"timestamp":"${b.timestamp}"}""", ttl)
        }
      }
    }.toMap

  /** The whole publish sequence in reference order: at the first op of
    * each transaction, the summary of the transaction before it, then the
    * block header if it is the block's first transaction, then one notice
    * per op. The summary of the stream's last transaction is never due. */
  def expectedPublishes(chain: String): Vector[(String, String)] = {
    val out = Vector.newBuilder[(String, String)]
    var prev: Option[String] = None
    blocks.foreach { b =>
      b.trxs.zipWithIndex.foreach { case (t, ti) =>
        prev.foreach(p => out += (s"$chain:transaction" -> p))
        if (ti == 0) out += (s"$chain:block" -> b.header)
        t.ops.zipWithIndex.foreach { case (op, i) =>
          out += (s"$chain:op:${op.short}" ->
            s"""{"key":"$chain:${b.num}:${t.id}:$i:${op.short}"}""")
        }
        prev = Some(s"""{"block_num":${b.num},"transaction_id":"${t.id}","transaction_num":$ti}""")
      }
    }
    out.result()
  }
}

object Chain {
  final case class Op(kind: String, value: String) {
    def short: String = kind.stripSuffix("_operation")
  }
  final case class Trx(id: String, ops: Seq[Op])
  final case class Block(num: Long, previous: String, timestamp: String,
      witness: String, merkle: String, trxs: Seq[Trx]) {
    def header: String =
      s"""{"block_num":$num,"previous":"$previous","timestamp":"$timestamp","witness":"$witness","transaction_merkle_root":"$merkle","extensions":[]}"""
    def json: String = {
      val ts = trxs.map { t =>
        t.ops.map(o => s"""{"type":"${o.kind}","value":${o.value}}""")
          .mkString("""{"operations":[""", ",", "]}")
      }
      s"""{"previous":"$previous","timestamp":"$timestamp","witness":"$witness","transaction_merkle_root":"$merkle","extensions":[],""" +
        s""""transactions":${ts.mkString("[", ",", "]")},""" +
        s""""transaction_ids":${trxs.map(t => "\"" + t.id + "\"").mkString("[", ",", "]")},"block_num":$num}"""
    }
  }

  val Users: IndexedSeq[String] = (0 until 200).map(i => f"user$i%03d")
  val CustomIds: IndexedSeq[String] = (0 until 36).map(i => f"app$i%02d")
}

/** A Hive JSON-RPC node on localhost serving a [[Chain]]. The last
  * irreversible block starts at `backlogEnd` and moves only when
  * [[advanceTo]] is called; the time each height became available is
  * stamped. Service time and calls are counted per method.
  */
final class StubNode(chain: Chain, threads: Int) {
  private val libHeight = new AtomicLong(chain.first - 1)
  val availableAt = new ConcurrentHashMap[Long, Long]()
  val getBlockCalls, dgpoCalls, serveNs = new AtomicLong()
  private val firstFetchNs = new AtomicReference[java.lang.Long](null)
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => serve(ex))
  server.start()

  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/"
  def firstFetch: Option[Long] = Option(firstFetchNs.get).map(_.longValue)
  def lib: Long = libHeight.get

  def advanceTo(height: Long): Unit = {
    val now = System.nanoTime()
    var h = libHeight.get + 1
    while (h <= height) { availableAt.put(h, now); h += 1 }
    libHeight.set(height)
  }

  private def serve(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val req = mapper.readTree(ex.getRequestBody)
      val method = req.get("method").asText()
      val result =
        if (method.endsWith("get_dynamic_global_properties")) {
          dgpoCalls.incrementAndGet()
          val l = libHeight.get
          s"""{"head_block_number":${l + 1},"last_irreversible_block_num":$l}"""
        } else {
          getBlockCalls.incrementAndGet()
          firstFetchNs.compareAndSet(null, t0)
          val h = req.get("params").get(0).asLong()
          (if (h <= libHeight.get) chain.json(h) else None).getOrElse("null")
        }
      val body = s"""{"jsonrpc":"2.0","id":1,"result":$result}""".getBytes(UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
    } finally {
      ex.close()
      serveNs.addAndGet(System.nanoTime() - t0)
    }
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

/** Counting, timing wrapper around the in-memory KV + pub/sub backend.
  * Stamps the receipt of every `{chain}:block` publish by block number. */
final class TimedKv(val inner: InMemoryKvBackend, blockChannel: String) extends KvBackend {
  val sets, expires, publishes, flushes, busyNs = new AtomicLong()
  val blockReceipt = new ConcurrentHashMap[Long, Long]()
  val ttls = new ConcurrentHashMap[String, Long]()
  private val log = new ConcurrentLinkedQueue[(String, String)]()

  private def timed[T](counter: AtomicLong)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      counter.incrementAndGet()
      busyNs.addAndGet(System.nanoTime() - t0)
    }
  }

  override def set(key: String, value: String): Unit = timed(sets)(inner.set(key, value))
  override def expire(key: String, ttlSeconds: Long): Unit = timed(expires) {
    inner.expire(key, ttlSeconds)
    ttls.put(key, ttlSeconds)
  }
  override def publish(channel: String, payload: String): Unit = timed(publishes) {
    inner.publish(channel, payload)
    log.add((channel, payload))
    if (channel == blockChannel) {
      val n = payload.stripPrefix("{\"block_num\":").takeWhile(_.isDigit).toLong
      blockReceipt.putIfAbsent(n, System.nanoTime())
    }
  }
  override def flush(): Unit = timed(flushes)(inner.flush())
  override def get(key: String): Option[String] = inner.get(key)
  override def keys(glob: String): Seq[String] = inner.keys(glob)
  override def del(ks: Seq[String]): Int = inner.del(ks)

  def publishLog: Seq[(String, String)] = log.asScala.toSeq
}
