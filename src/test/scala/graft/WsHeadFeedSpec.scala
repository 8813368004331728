package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{HeadSubscription, WsHeadFeed}

/** Drills the REAL WebSocket transport for the head subscription
  * (reference: eth_event_stream/src/data_feed/block.rs:22-41) against an
  * in-process RFC 6455 server — handshake, subscribe round trip,
  * notification parse, fragmented frames, clean + abrupt disconnects, and
  * the full reconnect loop through [[HeadSubscription]].
  */
class WsHeadFeedSpec extends AnyFunSuite {

  test("parseHead: ack ignored, notification parsed, bad payload flagged") {
    assert(WsHeadFeed.parseHead(
      """{"jsonrpc":"2.0","id":1,"result":"0xcafe01"}""") == Right(None))
    assert(WsHeadFeed.parseHead(
      """{"method":"eth_subscription","params":{"subscription":"0x1",""" +
        """"result":{"number":"0x10"}}}""") == Right(Some(16L)))
    assert(WsHeadFeed.parseHead(
      """{"method":"eth_subscription","params":{"result":{}}}""").isLeft)
    assert(WsHeadFeed.parseHead("{not json").isLeft)
    // non-subscription server traffic (e.g. an unrelated reply) is ignored
    assert(WsHeadFeed.parseHead("""{"id":9,"result":[]}""") == Right(None))
    // a JSON-RPC error reply (subscribe rejected) is session-fatal
    assert(WsHeadFeed.parseHead(
      """{"jsonrpc":"2.0","id":1,"error":{"code":-32601}}""").isLeft)
  }

  test("one session: handshake, subscribe, heads in order, clean close ends the iterator") {
    val server = new MiniWsServer(Seq(Seq(5L, 6L, 7L)))
    try {
      val it = new WsHeadFeed(server.uri).connect()
      assert(it.toList == List(5L, 6L, 7L))
      assert(server.subscribesSeen == 1)
    } finally server.close()
  }

  test("fragmented notifications reassemble before parsing") {
    val server = new MiniWsServer(Seq(Seq(11L, 12L, 13L, 14L)), fragmentEvery = 2)
    try {
      val it = new WsHeadFeed(server.uri).connect()
      assert(it.toList == List(11L, 12L, 13L, 14L))
    } finally server.close()
  }

  test("connect() throws when no server listens (retry burst sees the failure)") {
    val server = new MiniWsServer(Nil) // closes its socket immediately
    server.close()
    Thread.sleep(20L)
    intercept[Exception](new WsHeadFeed(server.uri, connectTimeoutMs = 500L).connect())
  }

  test("HeadSubscription over WS: reconnects across sessions and serves the latest head") {
    // session 1 ends cleanly after 3 heads; session 2 (abrupt TCP close)
    // announces a REGRESSING head (9 after 10) then the true tip 12
    val server = new MiniWsServer(Seq(Seq(3L, 4L, 10L), Seq(9L, 12L)))
    val sub = new HeadSubscription(new WsHeadFeed(server.uri),
      triesPerConnect = 5, backoffMs = 5L)
    try {
      // generous UPPER bounds (round-19): under a fully loaded
      // parallel test run a 5 s deadline flaked once on the
      // reject->reconnect sequence — the bound is a hang guard, not a
      // latency assertion, so 30 s costs nothing when healthy
      assert(sub.awaitFirst(30000L).nonEmpty)
      val deadline = System.nanoTime() + 30000L * 1000000L
      while (sub.currentHead() != Some(12L) && System.nanoTime() < deadline)
        Thread.sleep(5L)
      assert(sub.currentHead() == Some(12L))
      assert(sub.connects >= 2L, "second WS session must have been opened")
    } finally { sub.close(); server.close() }
  }

  test("a full queue evicts the OLDEST heads (latest-value semantics) and End still lands") {
    // capacity 2, 6 announcements: a stalled reader must still observe
    // the LATEST head once it drains — dropping the newest would freeze
    // the frontier up to queueCapacity announcements stale
    val server = new MiniWsServer(Seq(Seq(1L, 2L, 3L, 4L, 5L, 6L)))
    try {
      val it = new WsHeadFeed(server.uri, queueCapacity = 2).connect()
      Thread.sleep(300L) // let the server outrun the un-drained queue
      val got = it.toList
      assert(got.lastOption.contains(6L),
        s"latest head must survive eviction, got $got")
      assert(got.size <= 2, s"capacity 2 must bound the backlog: $got")
    } finally server.close()
  }

  test("subscribe rejection ends the session (no head-less hang) and the next session recovers") {
    // connection 1 replies a JSON-RPC error and keeps the socket open —
    // the session must END (iterator exhausts) rather than hang, and the
    // reconnect loop must reach the healthy second session
    val server = new MiniWsServer(Seq(Nil, Seq(8L)), rejectSubscribes = 1)
    val sub = new HeadSubscription(new WsHeadFeed(server.uri),
      triesPerConnect = 5, backoffMs = 5L)
    try {
      assert(sub.awaitFirst(30000L) == Some(8L))
      assert(sub.connects >= 2L)
    } finally { sub.close(); server.close() }
  }

  test("rpc-logs stream with wsUrl drains blocks 0..12 exactly once across " +
      "a reconnect and a regressing head") {
    import graft.sources.{RpcLogSource, SimEthNode}
    import TestSpark.spark
    import spark.implicits._
    // head discovery over the real WS transport; log fetches over the
    // simulated HTTP transport — the reference's http_url + ws_url split.
    // The tip 12 comes on the second session, after a regressing 9.
    val server = new MiniWsServer(Seq(Seq(3L, 4L, 10L), Seq(9L, 12L)))
    RpcLogSource.registerTransport("fake_ws_stream",
      new SimEthNode(head = 12L, logsPerBlock = 1))
    try {
      val stream = spark.readStream.format("graft.sources.RpcLogProvider")
        .option("transport", "fake_ws_stream").option("confirmations", "0")
        .option("wsUrl", server.uri.toString).option("blockStep", "8").load()
      val q = stream.writeStream.format("memory").queryName("rpc_ws_stream")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .option("checkpointLocation", TestSpark.tempDir("graft-ws")).start()
      def blocks: Seq[Long] =
        spark.table("rpc_ws_stream").select($"block_number").as[Long].collect().toSeq
      try {
        // an idle trigger can come before the second session lands, so
        // wait for the tip rather than for the first drained trigger
        val deadline = System.nanoTime() + 30000L * 1000000L
        q.processAllAvailable()
        while (!blocks.contains(12L) && System.nanoTime() < deadline) {
          Thread.sleep(20L)
          q.processAllAvailable()
        }
      } finally q.stop()
      assert(blocks.sorted == (0L to 12L))
      assert(server.subscribesSeen >= 2)
    } finally server.close()
  }
}
