package graftbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.model.EventSchema
import graft.sources.JsonRpcTransport

/** Shape of a seeded chain. Every block carries at least one log of each
  * registered event, so each streaming leg's frontier advances every block.
  */
final case class ChainSpec(
    blocks: Int,            // blocks 0 until `blocks` exist on the node
    confirmations: Int,     // reference default 2
    cap: Int,               // node response cap (-32005 above it)
    burstProb: Double,      // share of blocks carrying a Transfer burst
    transferMu: Double,     // log-normal per-block Transfer density
    memoMu: Double,         // log-normal per-block Memo density
    users: Int = 4096,      // address pool (Zipf-skewed draws)
    zipfS: Double = 1.1)

/** The two registered events and the noise the node also serves. */
object Chain {
  val TransferDecl = "Transfer(address indexed from, address indexed to, uint256 value)"
  val MemoDecl = "Memo(address indexed sender, uint256 amount, string note)"
  private val ApprovalDecl = "Approval(address indexed owner, address indexed spender, uint256 value)"

  val TokenA = "0x" + "a0" * 20 // emits Transfer (registered) + Approval (not)
  val TokenB = "0x" + "b0" * 20 // emits Memo (registered)
  /** Unregistered contracts: Transfer-shaped logs the server filter drops. */
  val Foreign: Array[String] = (1 to 8).map(i => "0x" + f"$i%02x" * 20).toArray

  val TransferTopic: String = EventSchema.parse(TransferDecl).topic0Hex
  val MemoTopic: String = EventSchema.parse(MemoDecl).topic0Hex
  val ApprovalTopic: String = EventSchema.parse(ApprovalDecl).topic0Hex

  // log kinds
  val KTransfer: Byte = 0; val KMemo: Byte = 1; val KApproval: Byte = 2; val KForeign: Byte = 3

  private val HexDigits = "0123456789abcdef".toCharArray
  private def word(sb: java.lang.StringBuilder, v: Long): Unit = {
    var i = 0
    while (i < 48) { sb.append('0'); i += 1 }
    var s = 60
    while (s >= 0) { sb.append(HexDigits(((v >>> s) & 0xf).toInt)); s -= 4 }
  }
  private def qty(v: Long): String = "0x" + java.lang.Long.toHexString(v)
  private def randHex(r: SplittableRandom, bytes: Int): String = {
    val sb = new java.lang.StringBuilder(2 + 2 * bytes).append("0x")
    var i = 0
    while (i < bytes) { val b = r.nextInt(256); sb.append(HexDigits(b >> 4)).append(HexDigits(b & 0xf)); i += 1 }
    sb.toString
  }
}

/** A seeded chain: every log pre-rendered as its `eth_getLogs` JSON entry,
  * plus the expected outputs computed here in plain Scala (no Spark):
  *  - netflow per address over both registered events;
  *  - the dense `(block, source, n_events, sum_cents)` cell spine.
  *
  * Density is heavy-tailed (log-normal per block, plus rare bursts that
  * push a `fetchBlocks` range over the node's response cap, so the engine's
  * -32005 bisection runs); about half the logs are unregistered
  * `(address, topic0)` pairs; addresses are Zipf-skewed.
  */
final class Chain(val seed: Long, val spec: ChainSpec) {
  import Chain._

  val users: Array[String] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    Array.fill(spec.users)(randHex(r, 20))
  }
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(spec.users)(i => 1.0 / math.pow(i + 1, spec.zipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private def zipf(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, spec.users - 1)
  }
  private def logNormal(r: SplittableRandom, mu: Double): Int =
    math.floor(math.exp(mu + r.nextGaussian())).toInt

  // columnar log store, block-major
  val blockStart = new Array[Int](spec.blocks + 1)
  private val kindB = mutable.ArrayBuilder.make[Byte]
  private val jsonB = mutable.ArrayBuilder.make[String]
  /** Per block and registered leg: (n_events, sum_cents). */
  val cellN: Array[Array[Long]] = Array.fill(2)(new Array[Long](spec.blocks))
  val cellSum: Array[Array[Long]] = Array.fill(2)(new Array[Long](spec.blocks))
  /** address → (netflow, memo note bytes) over the whole chain. */
  val netflow = mutable.HashMap.empty[String, (Long, Long)]
  var registeredLogs = 0L
  var renderedBytes = 0L

  /** Burst sizes by block: a fixed count at seeded positions, so the
    * total work varies little from seed to seed.
    */
  private val bursts: Map[Int, Int] = {
    val r = new SplittableRandom(seed ^ 0xb0b0L)
    val n = math.round(spec.burstProb * spec.blocks).toInt
    Iterator.continually(r.nextInt(spec.blocks)).distinct.take(n)
      .map(_ -> (spec.cap * (0.4 + 0.4 * r.nextDouble())).toInt).toMap
  }

  locally {
    val r = new SplittableRandom(seed)
    val sb = new java.lang.StringBuilder(1 << 12)
    var n = 0
    def bump(a: String, d: Long, notes: Long): Unit = {
      val (f, nb) = netflow.getOrElse(a, (0L, 0L))
      netflow(a) = (f + d, nb + notes)
    }
    var b = 0
    while (b < spec.blocks) {
      blockStart(b) = n
      val blockHash = randHex(r, 32)
      val nT = 1 + logNormal(r, spec.transferMu) + bursts.getOrElse(b, 0)
      val nM = 1 + logNormal(r, spec.memoMu)
      val nA = logNormal(r, 0.0)
      // unregistered share ≈ half of all logs (the server filter's work)
      val nF = nT + nM - nA
      val kinds = new Array[Byte](nT + nM + math.max(nA, 0) + math.max(nF, 0))
      var k = 0
      for ((c, kd) <- Seq(nT -> KTransfer, nM -> KMemo, nA -> KApproval, nF -> KForeign);
           _ <- 0 until math.max(c, 0)) { kinds(k) = kd; k += 1 }
      // shuffle the block's log order (Fisher-Yates on the seeded stream)
      var i = kinds.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t; i -= 1 }
      var li = 0
      while (li < kinds.length) {
        val kd = kinds(li)
        sb.setLength(0)
        val addr = kd match {
          case KTransfer | KApproval => TokenA
          case KMemo => TokenB
          case _ => Foreign(r.nextInt(Foreign.length))
        }
        sb.append("{\"address\":\"").append(addr).append("\",\"topics\":[\"")
        kd match {
          case KMemo =>
            val sender = users(zipf(r))
            val amount = 1L + r.nextInt(1000000)
            val noteLen = r.nextInt(65)
            val note = new Array[Byte](noteLen)
            var q = 0
            while (q < noteLen) { note(q) = (32 + r.nextInt(95)).toByte; q += 1 }
            sb.append(MemoTopic).append("\",\"0x").append("0" * 24).append(sender.substring(2))
              .append("\"],\"data\":\"0x")
            word(sb, amount); word(sb, 64); word(sb, noteLen)
            val padded = (noteLen + 31) / 32 * 32
            q = 0
            while (q < padded) {
              val v = if (q < noteLen) note(q) & 0xff else 0
              sb.append(HexDigits(v >> 4)).append(HexDigits(v & 0xf)); q += 1
            }
            sb.append('"')
            cellN(1)(b) += 1; cellSum(1)(b) += amount
            bump(sender, -amount, noteLen); registeredLogs += 1
          case _ =>
            val from = users(zipf(r)); val to = users(zipf(r))
            val v = 1L + r.nextInt(1000000)
            sb.append(if (kd == KApproval) ApprovalTopic else TransferTopic)
              .append("\",\"0x").append("0" * 24).append(from.substring(2))
              .append("\",\"0x").append("0" * 24).append(to.substring(2))
              .append("\"],\"data\":\"0x")
            word(sb, v)
            sb.append('"')
            if (kd == KTransfer) {
              cellN(0)(b) += 1; cellSum(0)(b) += v
              bump(to, v, 0L); bump(from, -v, 0L); registeredLogs += 1
            }
        }
        sb.append(",\"blockNumber\":\"").append(qty(b))
          .append("\",\"blockHash\":\"").append(blockHash)
          .append("\",\"transactionHash\":\"").append(randHex(r, 32))
          .append("\",\"transactionIndex\":\"").append(qty(li / 2))
          .append("\",\"logIndex\":\"").append(qty(li))
          .append("\",\"removed\":false}")
        kindB += kd
        val s = sb.toString
        jsonB += s
        renderedBytes += s.length
        n += 1; li += 1
      }
      b += 1
    }
    blockStart(spec.blocks) = n
  }
  val kind: Array[Byte] = kindB.result()
  val json: Array[String] = jsonB.result()

  /** Content digest of everything rendered and expected (generator self-test). */
  lazy val digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    json.foreach(s => md.update(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)))
    netflow.toSeq.sortBy(_._1).foreach { case (a, (f, nb)) => md.update(s"$a:$f:$nb;".getBytes) }
    for (l <- 0 to 1; b <- 0 until spec.blocks)
      md.update(s"${cellN(l)(b)}:${cellSum(l)(b)};".getBytes)
    md.digest().map("%02x".format(_)).mkString
  }

  def addressOf(i: Int): String = kind(i) match {
    case KTransfer | KApproval => TokenA
    case KMemo => TokenB
    case _ => json(i).substring(12, 54)
  }
  def topic0Of(i: Int): String = kind(i) match {
    case KTransfer | KForeign => TransferTopic
    case KMemo => MemoTopic
    case _ => ApprovalTopic
  }
}

/** The node the engine talks to during a run. All log JSON is rendered by
  * [[Chain]] during set-up; a call only looks answers up. An `eth_getLogs`
  * answer is memoized per request body (the backfill's warm-up job fills
  * the memo, so timed jobs are pure lookups); a request not seen before is
  * assembled by concatenating the pre-rendered entries of its range.
  * `eth_blockNumber` answers are pre-rendered for
  * every head value; during the live tail the head is a pure function of
  * the clock.
  */
final class BenchNode(val chain: Chain) {
  import Chain._
  private val mapper = new ObjectMapper()
  private val memo = new ConcurrentHashMap[String, String]()
  private val headAnswers: Array[String] =
    Array.tabulate(chain.spec.blocks + chain.spec.confirmations + 1)(h =>
      s"""{"jsonrpc":"2.0","id":1,"result":"0x${java.lang.Long.toHexString(h)}"}""")
  private val tooLarge =
    s"""{"jsonrpc":"2.0","id":1,"error":{"code":-32005,"message":"query returned more than ${chain.spec.cap} results"}}"""

  // head: fixed, or h0 + floor(rate × (now − t0)) capped at hMax
  @volatile private var fixedHead: Long = 0L
  @volatile private var clockT0: Long = 0L
  @volatile private var clockRate: Double = 0.0
  @volatile private var clockH0: Long = -1L
  @volatile private var clockHMax: Long = 0L
  def setFixedHead(h: Long): Unit = { fixedHead = h; clockH0 = -1L }
  def startClock(t0Nanos: Long, h0: Long, blocksPerSec: Double, hMax: Long): Unit = {
    clockT0 = t0Nanos; clockRate = blocksPerSec; clockHMax = hMax; clockH0 = h0
  }
  def headAt(nanos: Long): Long =
    if (clockH0 < 0) fixedHead
    else math.min(clockHMax, clockH0 + math.floor((nanos - clockT0) * 1e-9 * clockRate).toLong)

  /** Every `eth_getLogs` answer served so far. */
  def answers: Iterable[String] = scala.jdk.CollectionConverters.CollectionHasAsScala(memo.values()).asScala

  val calls = new AtomicLong; val splits = new AtomicLong
  val bytes = new AtomicLong
  def resetCounters(): Unit = Seq(calls, splits, bytes).foreach(_.set(0L))

  def call(request: String): String = {
    calls.incrementAndGet()
    val out =
      if (request.contains("\"eth_blockNumber\""))
        headAnswers(math.max(0L, headAt(System.nanoTime())).toInt)
      else {
        val hit = memo.get(request)
        if (hit != null) hit
        else { val a = assemble(request); memo.putIfAbsent(request, a); a }
      }
    if (out eq tooLarge) splits.incrementAndGet()
    bytes.addAndGet(out.length)
    out
  }

  private def list(n: JsonNode): Set[String] =
    if (n == null || n.isNull) Set.empty
    else if (n.isArray) { val b = Set.newBuilder[String]; n.elements().forEachRemaining(e => b += e.asText().toLowerCase); b.result() }
    else Set(n.asText().toLowerCase)

  private def assemble(request: String): String = {
    val f = mapper.readTree(request).path("params").get(0)
    def block(k: String) = java.lang.Long.parseLong(f.path(k).asText().substring(2), 16)
    val from = math.max(0L, block("fromBlock")).toInt
    val to = math.min(chain.spec.blocks - 1L, block("toBlock")).toInt
    val addrs = list(f.get("address"))
    val t = f.get("topics")
    val t0 = if (t != null && t.isArray && t.size() > 0) list(t.get(0)) else Set.empty[String]
    val sb = new java.lang.StringBuilder(1 << 16).append("""{"jsonrpc":"2.0","id":1,"result":[""")
    var n = 0
    var i = if (from <= to) chain.blockStart(from) else 0
    val end = if (from <= to) chain.blockStart(to + 1) else 0
    while (i < end) {
      if ((addrs.isEmpty || addrs.contains(chain.addressOf(i))) &&
          (t0.isEmpty || t0.contains(chain.topic0Of(i)))) {
        if (n > 0) sb.append(',')
        sb.append(chain.json(i)); n += 1
        if (n > chain.spec.cap) return tooLarge
      }
      i += 1
    }
    sb.append("]}").toString
  }
}

/** JVM-wide node registry: tasks carry only the key. */
object BenchNode {
  private val nodes = new ConcurrentHashMap[String, BenchNode]()
  def register(key: String, n: BenchNode): Unit = nodes.put(key, n)
  def get(key: String): BenchNode = nodes.get(key)
}

/** The transport handed to `rpc-logs`: serializes to its key only. */
final class BenchTransport(key: String) extends JsonRpcTransport {
  override def call(requestJson: String): String = BenchNode.get(key).call(requestJson)
}
