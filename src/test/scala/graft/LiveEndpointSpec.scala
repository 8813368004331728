package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{EthJsonRpc, HeadSubscription, HttpJsonRpcTransport, WsHeadFeed}

/** OPT-IN live-endpoint smoke — the reference's CI integration pattern
  * (eth_event_stream/src/stream.rs:317-322 reads its node URLs from env
  * secrets) applied to this engine: when `HTTP_NODE_URL` and
  * `WS_NODE_URL` are both set, drive the REAL `HttpJsonRpcTransport`,
  * the `rpc-logs` DSv2 batch scan, and `WsHeadFeed` through a tiny
  * bounded range and assert SHAPE — well-formed rows, plausible heads —
  * never counts, because public chains move between calls. With either
  * var unset (the offline-sandbox default) every test cancels cleanly
  * and the suite stays green.
  *
  * The in-process drills (`SimEthNode`, `MiniWsServer`) remain the
  * correctness story — reconnect, reorg, fragmentation, −32005
  * bisection are only provable against a fake; this suite exists to
  * close the loop against a real node the day network access exists.
  */
class LiveEndpointSpec extends AnyFunSuite {
  private val httpUrl = sys.env.get("HTTP_NODE_URL")
  private val wsUrl = sys.env.get("WS_NODE_URL")
  private def live = httpUrl.isDefined && wsUrl.isDefined

  // canonical public ERC-20 Transfer signature: keeps the log answer
  // small on busy chains AND exercises the topic0 server-side filter
  private val transferTopic0 = model.EventSchema.parse(
    "Transfer(address indexed from, address indexed to, uint value)").topic0Hex

  test("live HTTP: head parses; a confirmation-lagged 2-block getLogs answers well-formed logs") {
    assume(live, "HTTP_NODE_URL / WS_NODE_URL unset — live smoke skipped")
    val t = new HttpJsonRpcTransport(httpUrl.get)
    val head = EthJsonRpc.parseBlockNumber(
      t.call(EthJsonRpc.blockNumberRequest(1L)))
    assert(head > 0L, s"implausible head $head")
    // a 2-block range 6 behind head: confirmation-lagged (reorg-safe to
    // read twice) and bounded on any public provider's response budget
    val lo = head - 7; val hi = head - 6
    val logs = EthJsonRpc.parseLogs(t.call(EthJsonRpc.getLogsRequest(
      2L, lo, hi, topics = Seq(Seq(transferTopic0)))))
    logs.foreach { l =>
      assert(l.blockNumber >= lo && l.blockNumber <= hi,
        s"log outside requested range: ${l.blockNumber} not in [$lo,$hi]")
      assert(l.address.length == 20, "address must be 20 bytes")
      assert(l.topics.nonEmpty && l.topics.forall(_.length == 32),
        "topics must be 32-byte words")
      assert("0x" + model.Hex.encode(l.topics.head) == transferTopic0,
        "server-side topic0 filter not honored")
    }
  }

  test("live DSv2: rpc-logs batch scan over a bounded range yields schema-true rows") {
    assume(live, "HTTP_NODE_URL / WS_NODE_URL unset — live smoke skipped")
    val spark = TestSpark.spark
    val t = new HttpJsonRpcTransport(httpUrl.get)
    val head = EthJsonRpc.parseBlockNumber(
      t.call(EthJsonRpc.blockNumberRequest(1L)))
    val df = spark.read.format("rpc-logs")
      .option("url", httpUrl.get)
      .option("fromBlock", (head - 7).toString)
      .option("toBlock", (head - 6).toString)
      .option("confirmations", "0")
      .option("topic0", transferTopic0)
      .load()
    val rows = df.collect()
    // shape only: blocks inside the range, raw words 32-byte aligned
    rows.foreach { r =>
      val bn = r.getAs[Long]("block_number")
      assert(bn >= head - 7 && bn <= head - 6, s"row outside range: $bn")
      assert(r.getAs[Array[Byte]]("topic0").length == 32)
    }
  }

  test("live WS: newHeads subscription announces a plausible head the HTTP node agrees with") {
    assume(live, "HTTP_NODE_URL / WS_NODE_URL unset — live smoke skipped")
    val sub = new HeadSubscription(
      new WsHeadFeed(java.net.URI.create(wsUrl.get)))
    try {
      val first = sub.awaitFirst(30000L)
      assert(first.nonEmpty, "no head announcement within 30 s")
      assert(first.get > 0L, s"implausible WS head ${first.get}")
      Thread.sleep(2000L)
      val later = sub.currentHead()
      // cross-transport sanity: WS and HTTP see the same chain (within
      // a generous propagation window)
      val httpHead = EthJsonRpc.parseBlockNumber(
        new HttpJsonRpcTransport(httpUrl.get)
          .call(EthJsonRpc.blockNumberRequest(1L)))
      assert(math.abs(httpHead - later.get) < 100L,
        s"WS head ${later.get} and HTTP head $httpHead disagree wildly")
    } finally sub.close()
  }
}
