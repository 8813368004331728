package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.abi
import graft.model.Hex
import graft.operators.EventLog
import graft.sources.{BlockOffset, EthJsonRpc, HeadFeed, HeadSubscription, JsonRpcTransport, RpcLogProvider, RpcLogSource, RpcLogStream, SimEthNode}

/** Transport wrapper that records every (request, response) exchange in a
  * STATIC buffer — reader factories serialize transports per task, so an
  * instance field would record into a throwaway copy; local-mode tasks
  * share the JVM, so the companion buffer sees executor-side calls too.
  */
object RecordingNode {
  val exchanges = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
  def getLogs: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    exchanges.asScala.toSeq.filter(_._1.contains("eth_getLogs"))
  }
}
final class RecordingNode(inner: JsonRpcTransport) extends JsonRpcTransport {
  override def call(requestJson: String): String = {
    val resp = inner.call(requestJson)
    RecordingNode.exchanges.add((requestJson, resp))
    resp
  }
}

/** A node whose `eth_blockNumber` always fails with "down"; `eth_getLogs`
  * is served by a [[SimEthNode]] with head 10.
  */
final class HeadlessNode extends JsonRpcTransport {
  override def call(requestJson: String): String =
    if (requestJson.contains("eth_blockNumber")) throw new java.io.IOException("down")
    else new SimEthNode(head = 10L, logsPerBlock = 1).call(requestJson)
}

class RpcSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = TestSpark.tempDir("graft-rpc")

  test("codec: request shapes match the JSON-RPC wire format") {
    assert(EthJsonRpc.blockNumberRequest(7L) ==
      """{"jsonrpc":"2.0","id":7,"method":"eth_blockNumber","params":[]}""")
    assert(EthJsonRpc.getLogsRequest(1L, 16L, 255L) ==
      """{"jsonrpc":"2.0","id":1,"method":"eth_getLogs","params":""" +
        """[{"fromBlock":"0x10","toBlock":"0xff"}]}""")
    val filtered = EthJsonRpc.getLogsRequest(2L, 0L, 1L,
      addresses = Seq("0x" + "aa" * 20), topics = Seq(Seq("0x" + "cc" * 32)))
    assert(filtered.contains(""""address":"0x""" + "aa" * 20 + "\""))
    assert(filtered.contains(""""topics":["0x""" + "cc" * 32 + "\"]"))
    // LIST filters (build_filter takes address/topic lists, stream.rs:94-102):
    // two addresses → JSON array; two topic0 values → array in slot 0
    val multi = EthJsonRpc.getLogsRequest(3L, 0L, 1L,
      addresses = Seq("0x" + "aa" * 20, "0x" + "bb" * 20),
      topics = Seq(Seq("0x" + "cc" * 32, "0x" + "dd" * 32)))
    assert(multi.contains(
      """"address":["0x""" + "aa" * 20 + """","0x""" + "bb" * 20 + "\"]"))
    assert(multi.contains(
      """"topics":[["0x""" + "cc" * 32 + """","0x""" + "dd" * 32 + "\"]]"))
    // SLOT filters (the RPC spec's positional topics array): a wildcard
    // slot serializes as null, an indexed-param slot carries its value,
    // trailing wildcards are trimmed
    val slots = EthJsonRpc.getLogsRequest(4L, 0L, 1L,
      topics = Seq(Nil, Seq("0x" + "11" * 32), Nil, Nil))
    assert(slots.contains(""""topics":[null,"0x""" + "11" * 32 + "\"]"),
      s"slot-1 filter with trimmed trailing wildcards, got $slots")
  }

  test("codec: parses logs, quantities, removed flag; errors are loud") {
    val resp =
      """{"jsonrpc":"2.0","id":1,"result":[
        {"address":"0x""" + "ab" * 20 + """","topics":["0x""" + "01" * 32 +
        """","0x""" + "02" * 32 + """"],"data":"0x03ff",
         "blockNumber":"0x10","logIndex":"0x2",
         "transactionHash":"0x""" + "0d" * 32 + """","removed":true}]}"""
    val logs = EthJsonRpc.parseLogs(resp)
    assert(logs.size == 1)
    val l = logs.head
    assert(Hex.encode(l.address) == "ab" * 20)
    assert(l.topics.size == 2 && Hex.encode(l.topics(1)) == "02" * 32)
    assert(Hex.encode(l.data) == "03ff")
    assert(l.blockNumber == 16L && l.logIndex == 2L && l.removed)
    // JSON-RPC error envelope → IOException naming code and message
    val err = intercept[java.io.IOException] {
      EthJsonRpc.parseLogs(
        """{"jsonrpc":"2.0","id":1,"error":{"code":-32000,"message":"boom"}}""")
    }
    assert(err.getMessage.contains("-32000") && err.getMessage.contains("boom"))
    // pending entries (null blockNumber) must not silently ingest
    intercept[IllegalArgumentException] {
      EthJsonRpc.parseLogs(
        """{"jsonrpc":"2.0","id":1,"result":[{"address":"0x" ,
           "topics":[],"data":"0x","blockNumber":null,"logIndex":null,
           "transactionHash":"0x","removed":false}]}""")
    }
  }

  /** A poll-mode `rpc-logs` stream built the way Spark builds one:
    * provider, table, scan builder, scan.
    */
  private def pollStream(node: JsonRpcTransport, blockStep: Long): RpcLogStream = {
    val name = s"fake_guard_${java.util.UUID.randomUUID}"
    RpcLogSource.registerTransport(name, node)
    val opts = new CaseInsensitiveStringMap(java.util.Map.of("transport", name,
      "confirmations", "0", "blockStep", blockStep.toString))
    new RpcLogProvider().getTable(RpcLogSource.LogSchema, Array.empty, opts)
      .asInstanceOf[SupportsRead].newScanBuilder(opts).build()
      .toMicroBatchStream(tmp()).asInstanceOf[RpcLogStream]
  }

  /** The end offsets of `triggers` successive `latestOffset` calls from
    * block `from` (default: the initial offset), each starting where the
    * previous one ended, as the engine drives them.
    */
  private def ends(s: RpcLogStream, triggers: Int,
      from: Option[Long] = None): Seq[Long] = {
    var at: Offset = from.fold(s.initialOffset())(BlockOffset(_))
    (1 to triggers).map { _ =>
      at = s.latestOffset(at, s.getDefaultReadLimit)
      BlockOffset.of(at)
    }
  }

  test("head guard: stream end offsets never regress, transient head " +
      "failures retry, an outage keeps the last known head") {
    // heads 10, 8, 12: the 8 must not pull the end back below 10
    val regressing = pollStream(new SimEthNode(head = 12L, logsPerBlock = 1,
      headSequence = Seq(10L, 8L)), blockStep = 100L)
    assert(ends(regressing, 3) == Seq(10L, 10L, 12L))

    val flaky = new JsonRpcTransport {
      var calls = 0
      override def call(requestJson: String): String = {
        calls += 1
        if (calls <= 2) throw new java.io.IOException(s"transient $calls")
        new SimEthNode(9L, 1).call(requestJson)
      }
    }
    val retried = pollStream(flaky, blockStep = 100L)
    assert(ends(retried, 1) == Seq(9L))
    assert(retried.lastHeadError == null)

    // a dead node must NOT throw out of the trigger path (that would
    // kill the streaming query on the first brief outage — the
    // reference reconnects forever): no head yet → an empty range
    val dead = pollStream(new HeadlessNode, blockStep = 100L)
    assert(ends(dead, 2) == Seq(-1L, -1L))
    assert(dead.lastHeadError != null && dead.lastHeadError.getMessage == "down")

    // outage AFTER a head: the stream keeps admitting up to head 9
    class FlickerNode extends JsonRpcTransport {
      @volatile var up = true
      override def call(requestJson: String): String =
        if (up) new SimEthNode(9L, 1).call(requestJson)
        else throw new java.io.IOException("down")
    }
    val flicker = new FlickerNode
    val outage = pollStream(flicker, blockStep = 4L)
    assert(ends(outage, 1) == Seq(3L))
    flicker.up = false
    assert(ends(outage, 3, from = Some(3L)) == Seq(7L, 9L, 9L),
      "last known head must survive an outage")
    assert(outage.lastHeadError.getMessage == "down")
  }

  test("a batch scan fails with the node's error when eth_blockNumber " +
      "never answers") {
    RpcLogSource.registerTransport("fake_dead_head", new HeadlessNode)
    val err = intercept[Exception] {
      spark.read.format("graft.sources.RpcLogProvider")
        .option("transport", "fake_dead_head").option("confirmations", "0")
        .load().count()
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(causes.exists(e => String.valueOf(e.getMessage).contains("down")),
      s"error does not carry the node's failure: $err")
  }

  test("wsUrl must be a ws:// or wss:// URI, refused at load() otherwise") {
    RpcLogSource.registerTransport("fake_ws_scheme",
      new SimEthNode(head = 20L, logsPerBlock = 1))
    def load(wsUrl: String) = spark.readStream
      .format("graft.sources.RpcLogProvider")
      .option("transport", "fake_ws_scheme").option("wsUrl", wsUrl).load()
    // an http(s) URL fails every WebSocket connect: the subscription would
    // retry forever and each trigger wait out its first-head timeout
    for (bad <- Seq("https://node.example/ws", "http://127.0.0.1:8546",
        "127.0.0.1:8546", "ws://bad host")) {
      val msg = intercept[IllegalArgumentException](load(bad)).getMessage
      assert(msg.contains("wsUrl"), s"$bad: $msg")
    }
    load("ws://127.0.0.1:8546")
    load("WSS://node.example/ws")
  }

  test("streaming RPC source: confirmations, chunked admission, decodable payloads") {
    RpcLogSource.registerTransport("fake_stream",
      new SimEthNode(head = 40L, logsPerBlock = 3))
    val stream = spark.readStream.format("graft.sources.RpcLogProvider")
      .option("transport", "fake_stream")
      .option("blockStep", "10").option("fetchBlocks", "7")
      .option("confirmations", "2").load()
    val q = EventLog.assertNoRemoved(stream)
      .writeStream.format("memory").queryName("rpc_stream")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("rpc_stream")
    // head 40 − 2 confirmations ⇒ blocks 0..38 inclusive, 3 logs each
    assert(got.count() == 39L * 3)
    assert(got.agg(max("block_number")).head().getLong(0) == 38L)
    // chunked admission: ≥ range/blockStep micro-batches planned
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    // payloads decode through the standard ABI kernels: word = b*1000+i
    val bad = got.select($"block_number", $"log_index",
        abi.u256($"data").cast("long").as("v"))
      .filter($"v" =!= $"block_number" * 1000 + $"log_index").count()
    assert(bad == 0L)
    // topics split to fixed columns; only topic0 present in the fixture
    assert(got.filter($"topic0".isNull).count() == 0L)
    assert(got.filter($"topic1".isNotNull).count() == 0L)
  }

  test("server-side address filter reaches the node (S2 pushdown over RPC)") {
    RpcLogSource.registerTransport("fake_addr",
      new SimEthNode(head = 20L, logsPerBlock = 2))
    val got = spark.read.format("graft.sources.RpcLogProvider")
      .option("transport", "fake_addr").option("confirmations", "0")
      .option("address", "0x" + "aa" * 20).load()
    // only even log indexes live at 0xaa…aa
    assert(got.count() == 21L)
    assert(got.filter($"log_index" =!= 0).count() == 0L)
    assert(got.select(lower(hex($"address"))).distinct()
      .as[String].collect().toSeq == Seq("aa" * 20))
  }

  test("batch RPC scan equals the drained stream (same transport, same range)") {
    RpcLogSource.registerTransport("fake_batch",
      new SimEthNode(head = 25L, logsPerBlock = 2))
    val batch = spark.read.format("graft.sources.RpcLogProvider")
      .option("transport", "fake_batch").option("confirmations", "2")
      .option("fetchBlocks", "6").load()
      .select($"block_number", $"log_index").as[(Long, Long)]
      .collect().toSet
    val stream = spark.readStream.format("graft.sources.RpcLogProvider")
      .option("transport", "fake_batch").option("confirmations", "2")
      .option("blockStep", "9").load()
    val q = stream.writeStream.format("memory").queryName("rpc_batch_twin")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("rpc_batch_twin")
      .select($"block_number", $"log_index").as[(Long, Long)]
      .collect().toSet
    assert(batch == streamed && batch.nonEmpty)
  }

  test("removed log over RPC aborts the stream (reorg guard, stream.rs:174-181)") {
    RpcLogSource.registerTransport("fake_removed",
      new SimEthNode(head = 10L, logsPerBlock = 1, removedBlocks = Set(5L)))
    val stream = spark.readStream.format("graft.sources.RpcLogProvider")
      .option("transport", "fake_removed").option("confirmations", "0").load()
    val q = EventLog.assertNoRemoved(stream)
      .writeStream.format("noop")
      .option("checkpointLocation", tmp()).start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    val messages = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(messages.contains("removed (reorged) log"))
  }

  test("flagship over the wire: RPC stream → topic0 filter → ABI decode → netflow") {
    // a node serving REAL Transfer logs: topic0 = the keccak signature,
    // topics 1/2 = from/to address words, data = the value word — the
    // stream_multi flagship (stream_multi.rs:33-70) with the transport
    // swapped from parquet replay to JSON-RPC
    val schema = graft.model.EventSchema.parse(
      "Transfer(address indexed from, address indexed to, uint value)")
    final class TransferNode(head: Long) extends JsonRpcTransport {
      private def hexQty(v: Long): String = "0x" + java.lang.Long.toHexString(v)
      override def call(requestJson: String): String = {
        val req = new ObjectMapper().readTree(requestJson)
        req.path("method").asText() match {
          case "eth_blockNumber" =>
            s"""{"jsonrpc":"2.0","id":1,"result":"${hexQty(head)}"}"""
          case "eth_getLogs" =>
            val f = req.path("params").get(0)
            val from = EthJsonRpc.parseQuantityHex(f.path("fromBlock").asText())
            val to = EthJsonRpc.parseQuantityHex(f.path("toBlock").asText())
            val topic0 = Option(f.get("topics")).map(_.get(0).asText())
            assert(topic0.contains(schema.topic0Hex),
              "the registered topic0 filter must reach the node")
            val logs = (from to to).flatMap { b =>
              (0 until 2).map { i =>
                val u = (b + i) % 3
                s"""{"address":"0x${"aa" * 20}","topics":[
                   "${schema.topic0Hex}","0x${"%064x".format(u)}",
                   "0x${"%064x".format(u + 1)}"],
                   "data":"0x${"%064x".format(b * 10 + i)}",
                   "blockNumber":"${hexQty(b)}","logIndex":"${hexQty(i.toLong)}",
                   "transactionHash":"0x${"%064x".format(b)}",
                   "removed":false}""".replaceAll("\n\\s*", "")
              }
            }
            s"""{"jsonrpc":"2.0","id":1,"result":[${logs.mkString(",")}]}"""
          case other => s"""{"jsonrpc":"2.0","id":1,"error":{"code":-32601,"message":"$other"}}"""
        }
      }
    }
    val head = 30L
    RpcLogSource.registerTransport("fake_transfer", new TransferNode(head))
    val stream = spark.readStream.format("graft.sources.RpcLogProvider")
      .option("transport", "fake_transfer").option("confirmations", "0")
      .option("blockStep", "11")
      .option("topic0", schema.topic0Hex).load()
    val decoded = graft.operators.EventDecoder
      .decode(EventLog.assertNoRemoved(stream), schema)
      .select(lower(hex($"from")).as("from_hex"),
        $"value".cast("decimal(38,0)").as("v"))
    val q = decoded.groupBy($"from_hex")
      .agg(sum($"v").as("inflow"))
      .writeStream.format("memory").queryName("rpc_flagship")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("rpc_flagship")
      .select($"from_hex", $"inflow".cast("long"))
      .as[(String, Long)].collect().toMap
    // same pure function, folded directly
    val expected = (0L to head).flatMap(b => (0 until 2).map(i =>
        ("%040x".format((b + i) % 3), b * 10 + i)))
      .groupMapReduce(_._1)(_._2)(_ + _)
    assert(got == expected)
  }

  test("stream_multi over the wire: TWO registered events, ONE stream, " +
      "single-pass decodeAll dispatch") {
    // the reference's multi-event main loop (stream_multi.rs:33-70):
    // register N declarations, watch one log feed, route each log to its
    // stream by (address, topic0) — here as one rpc-logs stream through
    // EngineSession.decodeAll, so history crosses the wire ONCE for both
    val declT = "Transfer(address indexed from, address indexed to, uint value)"
    val declA = "Approval(address indexed owner, uint spent)"
    val sess = new EngineSession(spark,
      StreamConfig(fromBlock = 0L, toBlock = Long.MaxValue))
    val hT = sess.register("0x" + "aa" * 20, declT)
    val hA = sess.register("0x" + "bb" * 20, declA)
    final class TwoEventNode(head: Long) extends JsonRpcTransport {
      private def hexQty(v: Long): String = "0x" + java.lang.Long.toHexString(v)
      override def call(requestJson: String): String = {
        val req = new ObjectMapper().readTree(requestJson)
        req.path("method").asText() match {
          case "eth_blockNumber" =>
            s"""{"jsonrpc":"2.0","id":1,"result":"${hexQty(head)}"}"""
          case "eth_getLogs" =>
            val f = req.path("params").get(0)
            val from = EthJsonRpc.parseQuantityHex(f.path("fromBlock").asText())
            val to = EthJsonRpc.parseQuantityHex(f.path("toBlock").asText())
            val logs = (from to to).flatMap { b =>
              val t = s"""{"address":"0x${"aa" * 20}","topics":[
                 "${hT.schema.topic0Hex}","0x${"%064x".format(b % 5)}",
                 "0x${"%064x".format(b % 5 + 1)}"],
                 "data":"0x${"%064x".format(b * 10)}",
                 "blockNumber":"${hexQty(b)}","logIndex":"0x0",
                 "transactionHash":"0x${"%064x".format(b)}",
                 "removed":false}""".replaceAll("\n\\s*", "")
              val a = s"""{"address":"0x${"bb" * 20}","topics":[
                 "${hA.schema.topic0Hex}","0x${"%064x".format(b % 5)}"],
                 "data":"0x${"%064x".format(b * 10 + 1)}",
                 "blockNumber":"${hexQty(b)}","logIndex":"0x1",
                 "transactionHash":"0x${"%064x".format(b)}",
                 "removed":false}""".replaceAll("\n\\s*", "")
              Seq(t, a)
            }
            s"""{"jsonrpc":"2.0","id":1,"result":[${logs.mkString(",")}]}"""
          case other =>
            s"""{"jsonrpc":"2.0","id":1,"error":{"code":-32601,"message":"$other"}}"""
        }
      }
    }
    val head = 24L
    RpcLogSource.registerTransport("fake_two_events", new TwoEventNode(head))
    val stream = spark.readStream.format("graft.sources.RpcLogProvider")
      .option("transport", "fake_two_events").option("confirmations", "0")
      .option("blockStep", "10").load()
    val routed = sess.decodeAll(sess.rawLogFilter(stream))
      .select($"block_number", $"event_name",
        $"transfer.value".cast("long").as("t_value"),
        $"approval.spent".cast("long").as("a_spent"))
    val q = routed.writeStream.format("memory").queryName("rpc_decode_all")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("rpc_decode_all")
      .select($"block_number", $"event_name", $"t_value", $"a_spent")
      .as[(Long, String, Option[Long], Option[Long])].collect().toSet
    val expected = (0L to head).flatMap(b => Seq(
      (b, "transfer", Some(b * 10), None),
      (b, "approval", None, Some(b * 10 + 1)))).toSet
    assert(got == expected)
  }

  test("DSv2 pushdown: .filter() lands address/topic0/block bounds in eth_getLogs " +
      "and narrows the partition plan (stream.rs:94-102 build_filter parity)") {
    RecordingNode.exchanges.clear()
    RpcLogSource.registerTransport("fake_push",
      new RecordingNode(new SimEthNode(head = 60L, logsPerBlock = 2)))
    val df = spark.read.format("graft.sources.RpcLogProvider")
      .option("transport", "fake_push").option("confirmations", "0")
      .option("fetchBlocks", "10").load()
      .filter($"address" === lit(Hex.decode("aa" * 20)) &&
        $"topic0" === lit(Hex.decode("cc" * 32)) &&
        $"block_number".between(25L, 44L))
    // the scan itself must advertise the pushed filters (graft.Explain)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("rpc-logs, PushedFilters: ["), "no pushed-filter section")
    assert(plan.contains("EqualTo(address,") && plan.contains("EqualTo(topic0,"),
      "address/topic0 equality not pushed")
    assert(plan.contains("GreaterThanOrEqual(block_number,25") &&
      plan.contains("LessThanOrEqual(block_number,44"),
      "block bounds not pushed")

    // blocks 25..44, address 0xaa…aa ⇒ even log index only ⇒ 1 log/block
    val rows = df.select($"block_number", $"log_index").as[(Long, Long)]
      .collect().toSet
    assert(rows == (25L to 44L).map((_, 0L)).toSet)

    val gets = RecordingNode.getLogs
    // narrowed partition plan: 25..44 at fetchBlocks=10 = exactly 2
    // requests — pruned ranges are never fetched
    assert(gets.size == 2, s"expected 2 range fetches, saw ${gets.size}")
    gets.foreach { case (req, _) =>
      assert(req.contains(""""address":"0x""" + "aa" * 20 + "\""),
        "address filter missing from the wire request")
      assert(req.contains(""""topics":["0x""" + "cc" * 32 + "\"]"),
        "topic0 filter missing from the wire request")
      val m = new ObjectMapper().readTree(req).path("params").get(0)
      val from = EthJsonRpc.parseQuantityHex(m.path("fromBlock").asText())
      val to = EthJsonRpc.parseQuantityHex(m.path("toBlock").asText())
      assert(from >= 25L && to <= 44L, s"unnarrowed range [$from,$to]")
    }
    // fewer rows crossed the transport: the node served exactly the 20
    // matching logs, not the 2-per-block unfiltered range
    val served = gets.map { case (_, resp) => EthJsonRpc.parseLogs(resp).size }.sum
    assert(served == 20, s"node served $served rows, expected 20")
  }

  test("pushdown ∩ options contradiction plans ZERO partitions (no wire calls)") {
    RecordingNode.exchanges.clear()
    // option pins address to 0xaa…aa; the query filters to 0xbb…bb —
    // nothing can match, so the scan must not ask the node at all
    RpcLogSource.registerTransport("fake_contradict",
      new RecordingNode(new SimEthNode(head = 30L, logsPerBlock = 2)))
    val df = spark.read.format("graft.sources.RpcLogProvider")
      .option("transport", "fake_contradict").option("confirmations", "0")
      .option("address", "0x" + "aa" * 20).load()
      .filter($"address" === lit(Hex.decode("bb" * 20)))
    assert(df.count() == 0L)
    assert(RecordingNode.getLogs.isEmpty,
      "a satisfiable-by-nothing filter still reached the node")
  }

  test("In-list pushdown: isin over two contracts becomes the address LIST filter") {
    RecordingNode.exchanges.clear()
    RpcLogSource.registerTransport("fake_inlist",
      new RecordingNode(new SimEthNode(head = 20L, logsPerBlock = 4)))
    val df = spark.read.format("graft.sources.RpcLogProvider")
      .option("transport", "fake_inlist").option("confirmations", "0")
      .option("fetchBlocks", "21").load()
      .filter($"address".isin(Hex.decode("aa" * 20), Hex.decode("bb" * 20)) &&
        $"block_number" <= 9L)
    assert(df.count() == 10L * 4)
    val gets = RecordingNode.getLogs
    assert(gets.size == 1)
    assert(gets.head._1.contains(
      """"address":["0x""" + "aa" * 20 + """","0x""" + "bb" * 20 + "\"]"),
      "In-list did not serialize as the RPC address array")
  }

  test("topic-slot pushdown: topic1 equality + topic2 IN-list land in the " +
      "positional topics array (indexed-param filters, AND across slots)") {
    RecordingNode.exchanges.clear()
    RpcLogSource.registerTransport("fake_slots",
      new RecordingNode(new SimEthNode(head = 20L, logsPerBlock = 4,
        topicsPerLog = 3)))
    def word(v: Long): Array[Byte] = Hex.decode("%064x".format(v))
    def wordHex(v: Long): String = "0x" + "%064x".format(v)
    val df = spark.read.format("graft.sources.RpcLogProvider")
      .option("transport", "fake_slots").option("confirmations", "0")
      .option("fetchBlocks", "21").load()
      .filter($"topic1" === lit(word(2L)) &&
        $"topic2".isin(lit(word(0L)), lit(word(3L))))
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("EqualTo(topic1,") && plan.contains("In(topic2,"),
      s"slot filters not pushed: $plan")

    // fixture: topic1 = word(log index), topic2 = word(block % 5) —
    // i = 2, b % 5 ∈ {0, 3} over blocks 0..20
    val expected = (0L to 20L).filter(b => b % 5 == 0 || b % 5 == 3)
      .map((_, 2L)).toSet
    val rows = df.select($"block_number", $"log_index").as[(Long, Long)]
      .collect().toSet
    assert(rows == expected)

    val gets = RecordingNode.getLogs
    assert(gets.size == 1)
    val req = gets.head._1
    // slot 0 unconstrained → null wildcard; slot 1 bare value; slot 2 array
    assert(req.contains(""""topics":[null,"""" + wordHex(2L) + """",[""" +
      "\"" + wordHex(0L) + """","""" + wordHex(3L) + "\"]]"),
      s"positional slots malformed on the wire: $req")
    // the node itself enforced the slots: only matching logs crossed
    val served = EthJsonRpc.parseLogs(gets.head._2).size
    assert(served == expected.size, s"node served $served, expected ${expected.size}")
  }

  test("topic1..topic3 reader options feed the same slots (option ∩ pushdown meet)") {
    RecordingNode.exchanges.clear()
    RpcLogSource.registerTransport("fake_slot_opts",
      new RecordingNode(new SimEthNode(head = 10L, logsPerBlock = 4,
        topicsPerLog = 3)))
    def wordHex(v: Long): String = "0x" + "%064x".format(v)
    // option pins topic1 ∈ {word(1), word(2)}; the filter narrows to
    // word(2) — the meet is the singleton; topic2 rides as an option only
    val df = spark.read.format("graft.sources.RpcLogProvider")
      .option("transport", "fake_slot_opts").option("confirmations", "0")
      .option("fetchBlocks", "11")
      .option("topic1", wordHex(1L) + "," + wordHex(2L))
      .option("topic2", wordHex(0L)).load()
      .filter($"topic1" === lit(Hex.decode("%064x".format(2L))))
    val rows = df.select($"block_number", $"log_index").as[(Long, Long)]
      .collect().toSet
    assert(rows == (0L to 10L).filter(_ % 5 == 0).map((_, 2L)).toSet)
    val req = RecordingNode.getLogs.head._1
    assert(req.contains(""""topics":[null,"""" + wordHex(2L) + """","""" +
      wordHex(0L) + "\"]"), s"slot meet malformed on the wire: $req")
  }

  test("multi-address reader option: two-contract query over one filtered request") {
    RecordingNode.exchanges.clear()
    RpcLogSource.registerTransport("fake_multi",
      new RecordingNode(new SimEthNode(head = 15L, logsPerBlock = 4)))
    val got = spark.read.format("graft.sources.RpcLogProvider")
      .option("transport", "fake_multi").option("confirmations", "0")
      .option("fetchBlocks", "16")
      .option("address", "0x" + "aa" * 20 + ",0x" + "bb" * 20)
      .option("topic0", "0x" + "cc" * 32).load()
      .select(lower(hex($"address")).as("addr"), $"log_index")
    val byAddr = got.groupBy($"addr").count().as[(String, Long)].collect().toMap
    // 16 blocks × 4 logs: even indexes at 0xaa…aa, odd at 0xbb…bb
    assert(byAddr == Map("aa" * 20 -> 32L, "bb" * 20 -> 32L))
    val req = RecordingNode.getLogs.head._1
    assert(req.contains(""""address":["0x""" + "aa" * 20))
    assert(req.contains(""""topics":["0x""" + "cc" * 32 + "\"]"))
  }

  test("head subscription: latest-value channel, reconnects across " +
      "disconnects (block.rs:17-68)") {
    // each connect serves the next scripted session, blocking until one
    // is queued; a session's end is a disconnect
    val sessions = new java.util.concurrent.LinkedBlockingQueue[Seq[Long]]()
    sessions.put(Seq(5L, 7L))
    sessions.put(Seq(6L))
    val feed = new HeadFeed {
      override def connect(): Iterator[Long] = sessions.take().iterator
    }
    val sub = new HeadSubscription(feed, backoffMs = 1L)
    def await(h: Long): Unit = {
      val deadline = System.nanoTime() + 10000L * 1000000L
      while (sub.currentHead() != Some(h) && System.nanoTime() < deadline)
        Thread.sleep(1L)
      assert(sub.currentHead() == Some(h), s"channel never served head $h")
    }
    try {
      // the channel reports the latest announcement, a regressing one
      // included: the stream's guard is what keeps offsets monotonic
      await(6L)
      assert(sub.connects >= 2L, "a disconnect did not trigger re-subscription")
      sessions.put(Seq(20L))
      await(20L)
      assert(sub.connects >= 3L)
    } finally sub.close()
  }

  test("head subscription: connect failures retry with backoff (5-try inner, " +
      "infinite outer, block.rs:25-26, :54-61)") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = new HeadFeed {
      override def connect(): Iterator[Long] = {
        // fails 7 times: more than one 5-try burst, so the infinite
        // OUTER loop must also re-enter before the feed comes up
        if (attempts.incrementAndGet() <= 7) throw new java.io.IOException("ws down")
        Iterator.continually(42L).take(3)
      }
    }
    val sub = new HeadSubscription(flaky, triesPerConnect = 5, backoffMs = 1L)
    try {
      assert(sub.awaitFirst(10000L) == Some(42L),
        "subscription never recovered from connect failures")
      assert(attempts.get() >= 8)
    } finally sub.close()
    // close() is terminal: the channel keeps its last value, no new connects
    val after = attempts.get()
    Thread.sleep(20L)
    assert(attempts.get() == after, "pump survived close()")
  }

  test("RPC stream restart from checkpoint: no duplicate, no missing " +
      "(block_number, log_index) keys (S7 over the wire)") {
    val ckpt = tmp()
    val out = tmp()
    def run(head: Long): Unit = {
      RpcLogSource.registerTransport("fake_restart",
        new SimEthNode(head = head, logsPerBlock = 2))
      val q = spark.readStream.format("graft.sources.RpcLogProvider")
        .option("transport", "fake_restart").option("confirmations", "0")
        .option("blockStep", "4").load()
        .writeStream.format("parquet").outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt).option("path", out).start()
      try q.processAllAvailable() finally q.stop()
    }
    run(head = 15L) // kill mid-range: the chain will keep growing
    run(head = 27L) // restart from the SAME checkpoint, node advanced
    val keys = spark.read.parquet(out)
      .select($"block_number", $"log_index").as[(Long, Long)].collect().toSeq
    val expected = for (b <- 0L to 27L; i <- 0L to 1L) yield (b, i)
    assert(keys.size == keys.distinct.size, "restart re-emitted committed ranges")
    assert(keys.toSet == expected.toSet, "restart dropped or invented ranges")
  }

  test("decoded-param filter on a STREAMING rpc-logs source: correct " +
      "client-side (Spark has no streaming-scan filter pushdown); the " +
      "topic option is the wire-narrowing path and both results agree") {
    def run(withOption: Boolean): (Set[(Long, Long)], Seq[(String, String)]) = {
      RecordingNode.exchanges.clear()
      RpcLogSource.registerTransport("fake_stream_decoded",
        new RecordingNode(new SimEthNode(head = 12L, logsPerBlock = 4,
          topicsPerLog = 3)))
      val out = tmp()
      val reader = spark.readStream.format("graft.sources.RpcLogProvider")
        .option("transport", "fake_stream_decoded")
        .option("confirmations", "0").option("blockStep", "6")
      val withOpt =
        if (withOption) reader.option("topic2", "0x" + "%064x".format(2L))
        else reader
      // the idiomatic DECODED filter stays in both variants — Spark is
      // the correctness authority; the option only narrows the wire
      val q = withOpt.load()
        .filter(graft.functions.abi.u256($"topic2") === lit(2)) // word(b%5)
        .select($"block_number", $"log_index")
        .writeStream.format("parquet").outputMode(OutputMode.Append())
        .option("checkpointLocation", tmp()).option("path", out).start()
      try q.processAllAvailable() finally q.stop()
      (spark.read.parquet(out).as[(Long, Long)].collect().toSet,
        RecordingNode.getLogs)
    }
    val expected = (0L to 12L).filter(_ % 5 == 2)
      .flatMap(b => (0L until 4L).map((b, _))).toSet

    // bare decoded filter: correct, but every log crosses the transport —
    // streaming DSv2 scans are built from OPTIONS at stream start; Spark
    // offers no SupportsPushDownFilters hook there (batch DOES push: the
    // IndexedParamRewriteSpec rpc drill pins it)
    val (rows1, gets1) = run(withOption = false)
    assert(rows1 == expected)
    assert(gets1.map(g => EthJsonRpc.parseLogs(g._2).size).sum == 13 * 4,
      "without the option, the full range crosses the wire")

    // option + the same decoded filter: identical result, narrowed wire
    val (rows2, gets2) = run(withOption = true)
    assert(rows2 == expected)
    val word2 = "0x" + "%064x".format(2L)
    gets2.foreach { case (req, _) =>
      assert(req.contains(""""topics":[null,null,"""" + word2 + "\"]"),
        s"micro-batch request missing the slot option: $req")
    }
    assert(gets2.map(g => EthJsonRpc.parseLogs(g._2).size).sum == expected.size,
      "with the option, only matching logs cross")
  }

  test("range-limit rejections classify as RpcRangeTooLarge (deterministic, " +
      "not transient)") {
    intercept[graft.sources.RpcRangeTooLargeException] {
      EthJsonRpc.parseLogs(
        """{"jsonrpc":"2.0","id":1,"error":{"code":-32005,
           "message":"query returned more than 10000 results"}}""")
    }
    // message-shaped variant (providers differ on the code)
    intercept[graft.sources.RpcRangeTooLargeException] {
      EthJsonRpc.parseLogs(
        """{"jsonrpc":"2.0","id":1,"error":{"code":-32602,
           "message":"Log response size exceeded"}}""")
    }
    // ordinary errors stay plain IOException (and DO retry)
    val e = intercept[java.io.IOException] {
      EthJsonRpc.parseLogs(
        """{"jsonrpc":"2.0","id":1,"error":{"code":-32000,"message":"boom"}}""")
    }
    assert(!e.isInstanceOf[graft.sources.RpcRangeTooLargeException])
  }

  test("adaptive bisection: a capped node forces range splits, result stays " +
      "complete and the retry budget is not burned on the limit error") {
    RecordingNode.exchanges.clear()
    // 41 blocks × 3 logs = 123 logs; cap 10 ⇒ any range > 3 blocks rejects
    RpcLogSource.registerTransport("fake_capped",
      new RecordingNode(new SimEthNode(head = 40L, logsPerBlock = 3,
        maxLogsPerRequest = 10)))
    val got = spark.read.format("graft.sources.RpcLogProvider")
      .option("transport", "fake_capped").option("confirmations", "0")
      .option("fetchBlocks", "50").load()
      .select($"block_number", $"log_index").as[(Long, Long)].collect().toSet
    assert(got == (for (b <- 0L to 40L; i <- 0L to 2L) yield (b, i)).toSet)
    val gets = RecordingNode.getLogs
    // splits happened; every SUCCESSFUL response honors the cap; each
    // rejected range was asked exactly ONCE (retryIf skips the backoff)
    assert(gets.size > 2, "the capped node should force bisection")
    val (rejected, served) = gets.partition(_._2.contains("-32005"))
    assert(rejected.nonEmpty && served.nonEmpty)
    served.foreach { case (_, resp) =>
      assert(EthJsonRpc.parseLogs(resp).size <= 10)
    }
    assert(rejected.map(_._1).distinct.size == rejected.size,
      "a deterministic limit rejection was retried verbatim")
  }

  test("a single block over the node's cap fails loudly (cannot split further)") {
    RpcLogSource.registerTransport("fake_dense",
      new SimEthNode(head = 5L, logsPerBlock = 12, maxLogsPerRequest = 10))
    val ex = intercept[Exception] {
      spark.read.format("graft.sources.RpcLogProvider")
        .option("transport", "fake_dense").option("confirmations", "0")
        .load().count()
    }
    val messages = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(messages.contains("cannot split further"))
  }

  test("streaming over a capped node drains completely (splits inside each " +
      "micro-batch fetch)") {
    RpcLogSource.registerTransport("fake_capped_stream",
      new SimEthNode(head = 20L, logsPerBlock = 3, maxLogsPerRequest = 10))
    val stream = spark.readStream.format("graft.sources.RpcLogProvider")
      .option("transport", "fake_capped_stream").option("confirmations", "0")
      .option("blockStep", "20").option("fetchBlocks", "20").load()
    val q = stream.writeStream.format("memory").queryName("rpc_capped_stream")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("rpc_capped_stream").count() == 21L * 3)
  }

  test("Trigger.AvailableNow drains the snapshotted head then stops") {
    RpcLogSource.registerTransport("fake_avail",
      new SimEthNode(head = 30L, logsPerBlock = 1))
    val stream = spark.readStream.format("graft.sources.RpcLogProvider")
      .option("transport", "fake_avail").option("confirmations", "0")
      .option("blockStep", "8").load()
    val q = stream.writeStream.format("memory").queryName("rpc_avail")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", tmp()).start()
    assert(q.awaitTermination(120000), "AvailableNow query did not terminate")
    assert(spark.table("rpc_avail").count() == 31L)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
  }

  test("confirmations < 0 is refused at load(), with block-replay's message") {
    def refusal(load: => Any): String =
      intercept[IllegalArgumentException](load).getMessage
    // the window is validated before the path is read
    val replay = refusal(spark.readStream
      .format("graft.sources.BlockReplayProvider")
      .option("path", "unread.parquet")
      .option("confirmations", "-1").load())
    assert(replay.contains("confirmations must be >= 0"), replay)
    // a negative lag would set the synced end past the chain head: the
    // source would plan and commit blocks that are not mined yet
    RpcLogSource.registerTransport("fake_negative_lag",
      new SimEthNode(head = 20L, logsPerBlock = 1))
    val batch = refusal(spark.read.format("graft.sources.RpcLogProvider")
      .option("transport", "fake_negative_lag")
      .option("confirmations", "-1").load())
    val stream = refusal(spark.readStream
      .format("graft.sources.RpcLogProvider")
      .option("transport", "fake_negative_lag")
      .option("confirmations", "-1").load())
    assert(batch == replay && stream == replay, s"$batch / $stream / $replay")
  }

  test("source guard: one block-window core, one parse site per window option") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val lines = for {
      f <- java.nio.file.Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if !line.trim.startsWith("//") && !line.trim.startsWith("*")
    } yield (s"${root.relativize(f)}:${i + 1}", line)
    // a parse site reads the key from an option map: `get`, `getOrElse`,
    // or BlockWindow's `opt`, in either spelling of the key
    val checks = ("MicroBatchStream implemented" ->
      lines.filter(_._2.contains("extends MicroBatchStream"))) +:
      Seq("confirmations", "blockstep", "fromblock", "toblock").map { key =>
        val read = ("(?i)\\b(get|getOrElse|opt)\\(\"" + key + "\"").r
        s"option $key parsed" -> lines.filter(l => read.findFirstIn(l._2).isDefined)
      }
    val stray = checks.collect { case (what, sites) if sites.size != 1 =>
      s"$what at ${sites.size} sites: ${sites.map(_._1).mkString(", ")}"
    }
    assert(stray.isEmpty, stray.mkString("\n"))
  }
}
