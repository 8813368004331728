package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.Hex

/** The LIVE transport seam — the reference speaks `eth_getLogs` over
  * HTTP with retries (`eth_event_stream/src/stream.rs:159-183`) and
  * watches the head (`data_feed/block.rs:17-68`); this is that surface
  * re-expressed as a DataSource V2 over a pluggable [[JsonRpcTransport]]:
  *
  *  - the TRANSPORT is one `String => String` call (request body in,
  *    response body out), `Serializable` so per-range fetches run
  *    EXECUTOR-SIDE — a historical backfill fans the `eth_getLogs`
  *    range chunks across the cluster instead of trickling through the
  *    driver;
  *  - the CODEC ([[EthJsonRpc]]) is pure: builds `eth_getLogs` /
  *    `eth_blockNumber` requests (server-side address/topic0 filters —
  *    the S2 pushdown moved to the node) and parses responses into raw
  *    log rows with the engine's standard schema, so everything
  *    downstream (`withBlockKeys` is unnecessary — real block numbers
  *    ride along — decode, reorg guard) is shared with the replay path;
  *  - the STREAM shares the replay source's offset/admission core
  *    ([[BlockWindowStream]]): `BlockOffset` frontier, `blockStep`
  *    chunked admission, `confirmations` lag, `toBlock` clamp, monotonic
  *    head guard, `Trigger.AvailableNow` drain — checkpoint-compatible
  *    semantics, different byte source.
  *
  * The sandbox has no network, so the HTTP transport is exercised at the
  * request/URL level only; everything from the codec up runs end-to-end
  * in tests against [[graft.FakeEthNode]]-style canned transports.
  */
trait JsonRpcTransport extends Serializable {
  /** POST one JSON-RPC request body, return the response body. Failures
    * throw; callers wrap with [[Retry.withBackoff]] (B3 parity).
    */
  def call(requestJson: String): String
}

/** Real HTTP POST transport (java.net.http, JDK-native — no new deps).
  * Serializable by construction: only the URL and timeouts travel; the
  * client is rebuilt lazily per JVM.
  */
final class HttpJsonRpcTransport(url: String,
    connectTimeoutMs: Long = 5000L, requestTimeoutMs: Long = 30000L)
    extends JsonRpcTransport {
  @transient private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofMillis(connectTimeoutMs)).build()

  override def call(requestJson: String): String = {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofMillis(requestTimeoutMs))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(requestJson))
      .build()
    val resp = client.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(
        s"JSON-RPC HTTP ${resp.statusCode()} from $url")
    resp.body()
  }
}

/** The node rejected an `eth_getLogs` range as TOO LARGE — a
  * deterministic protocol answer (public providers cap results around
  * 10k entries / a response-size budget and answer code −32005 or a
  * "too large"-shaped message), not a transient: callers split the
  * range instead of retrying it.
  */
final class RpcRangeTooLargeException(message: String)
    extends java.io.IOException(message)

/** One parsed `eth_getLogs` entry in the engine's raw-log shape. */
final case class EthLog(
    address: Array[Byte], topics: Seq[Array[Byte]], data: Array[Byte],
    blockNumber: Long, logIndex: Long, transactionHash: Array[Byte],
    removed: Boolean)

/** Pure JSON-RPC codec for the two calls the reference makes. Jackson is
  * already on Spark's classpath; no new dependencies.
  */
object EthJsonRpc {
  private val mapper = new ObjectMapper()

  private def quantity(v: Long): String = "0x" + java.lang.Long.toHexString(v)

  /** Hex quantity → long ("0x" optional, per spec always present). */
  def parseQuantityHex(s: String): Long =
    java.lang.Long.parseLong(Hex.strip0x(s), 16)

  /** `eth_getLogs` request for `[fromBlock, toBlock]` (inclusive, like
    * the RPC spec) with optional server-side address / topic filters —
    * the reference builds exactly this filter from its registered
    * streams (stream.rs:94-102, :152-158), where `address` is a LIST of
    * contracts and EACH of the four topic slots may independently be a
    * LIST (OR within a slot, AND across slots — the spec's positional
    * semantics, which is how indexed event params filter server-side).
    * `topics(i)` empty = wildcard for slot i; wildcards serialize as
    * JSON `null`, trailing wildcards are trimmed, one entry serializes
    * as a bare string (the common wire shape), several as a JSON array.
    */
  def getLogsRequest(id: Long, fromBlock: Long, toBlock: Long,
      addresses: Seq[String] = Nil, topics: Seq[Seq[String]] = Nil): String = {
    require(topics.size <= 4, s"at most 4 topic slots, got ${topics.size}")
    val root = mapper.createObjectNode()
    root.put("jsonrpc", "2.0").put("id", id).put("method", "eth_getLogs")
    val filter = mapper.createObjectNode()
    filter.put("fromBlock", quantity(fromBlock))
    filter.put("toBlock", quantity(toBlock))
    addresses match {
      case Seq() =>
      case Seq(one) => filter.put("address", one)
      case many =>
        val arr = mapper.createArrayNode(); many.foreach(arr.add)
        filter.set[ObjectNode]("address", arr)
    }
    val slots = topics.reverse.dropWhile(_.isEmpty).reverse
    if (slots.nonEmpty) {
      val arr = mapper.createArrayNode()
      slots.foreach {
        case Seq()    => arr.addNull()
        case Seq(one) => arr.add(one)
        case many =>
          val slot = mapper.createArrayNode(); many.foreach(slot.add)
          arr.add(slot)
      }
      filter.set[ObjectNode]("topics", arr)
    }
    val params = mapper.createArrayNode(); params.add(filter)
    root.set[ObjectNode]("params", params)
    mapper.writeValueAsString(root)
  }

  def blockNumberRequest(id: Long): String = {
    val root = mapper.createObjectNode()
    root.put("jsonrpc", "2.0").put("id", id).put("method", "eth_blockNumber")
    root.set[ObjectNode]("params", mapper.createArrayNode())
    mapper.writeValueAsString(root)
  }

  /** Range-limit rejections, as public providers phrase them: code
    * −32005 ("limit exceeded") or a message naming a result/response
    * size cap. Deterministic — retrying the identical request cannot
    * succeed, so these classify separately from transients.
    */
  private def isRangeLimit(code: Int, message: String): Boolean = {
    val m = message.toLowerCase
    code == -32005 ||
      m.contains("more than") && m.contains("results") ||
      m.contains("response size") || m.contains("too large") ||
      m.contains("block range") && m.contains("limit") ||
      m.contains("query timeout exceeded")
  }

  /** Result node, or a loud error for the JSON-RPC error envelope (the
    * retry wrapper treats it as transient, like the reference's
    * `retry(..)` around every call, stream.rs:159-166).
    */
  private def result(responseJson: String): JsonNode = {
    val root = mapper.readTree(responseJson)
    val err = root.get("error")
    if (err != null && !err.isNull) {
      val code = err.path("code").asInt()
      val message = err.path("message").asText()
      if (isRangeLimit(code, message))
        throw new RpcRangeTooLargeException(s"JSON-RPC error $code: $message")
      throw new java.io.IOException(s"JSON-RPC error $code: $message")
    }
    val res = root.get("result")
    if (res == null) throw new java.io.IOException(
      s"JSON-RPC response has no result: $responseJson")
    res
  }

  def parseBlockNumber(responseJson: String): Long =
    parseQuantityHex(result(responseJson).asText())

  /** The node's head: one `eth_blockNumber`, retried with backoff (B3).
    * A node that stays down past the retry burst throws.
    */
  def blockNumber(transport: JsonRpcTransport): Long =
    Retry.withBackoff()(() =>
      parseBlockNumber(transport.call(blockNumberRequest(1L))))

  /** Parse an `eth_getLogs` response. Pending-log entries (null
    * blockNumber/logIndex per spec) are rejected — this engine ingests
    * only mined logs, like the reference's confirmed ranges.
    */
  def parseLogs(responseJson: String): Seq[EthLog] = {
    val res = result(responseJson)
    require(res.isArray, s"eth_getLogs result must be an array, got $res")
    res.asInstanceOf[ArrayNode].elements().asScala.map { n =>
      def hexField(name: String): Array[Byte] = Hex.decode(n.path(name).asText())
      val bn = n.path("blockNumber")
      val li = n.path("logIndex")
      require(!bn.isMissingNode && !bn.isNull && !li.isMissingNode && !li.isNull,
        s"pending log entry (null blockNumber/logIndex): $n")
      EthLog(
        address = hexField("address"),
        topics = n.path("topics").elements().asScala
          .map(t => Hex.decode(t.asText())).toSeq,
        data = hexField("data"),
        blockNumber = parseQuantityHex(bn.asText()),
        logIndex = parseQuantityHex(li.asText()),
        transactionHash = hexField("transactionHash"),
        removed = n.path("removed").asBoolean(false))
    }.toSeq
  }
}

/** One head-subscription SESSION — the seam a real deployment implements
  * over a WebSocket `eth_subscribe("newHeads")`. `connect()` either
  * returns the session's announcement iterator or throws (connection
  * failure); iterator exhaustion models the socket dropping. Pure
  * interface so the reconnect machinery is drillable offline.
  */
trait HeadFeed {
  def connect(): Iterator[Long]
}

/** PUSH-based head subscription — the reference's `BlockNotify` watcher
  * (data_feed/block.rs:17-68) re-expressed as a latest-value channel: a
  * daemon pump drains the feed into one atomic cell, and readers take the
  * latest announced head without ever touching the wire. The channel
  * reports what the feed says, a regressing head included; the stream
  * that reads it ([[BlockWindowStream]]) keeps offsets monotonic.
  * Reconnect policy matches the reference: up to
  * `triesPerConnect` backoff attempts per connect (block.rs:25-26), and
  * an INFINITE outer loop that re-subscribes after any disconnect or
  * exhausted retry burst (block.rs:54-61) until `close()`.
  */
final class HeadSubscription(feed: HeadFeed,
    triesPerConnect: Int = 5, backoffMs: Long = 10L,
    sleep: Long => Unit = Thread.sleep) extends AutoCloseable {
  private val latest = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
  @volatile private var closed = false
  /** Observability: connect attempts so far (tests drill the reconnect
    * policy through it) and the most recent connect/stream error.
    */
  @volatile private[graft] var connects = 0L
  @volatile private[graft] var lastError: Throwable = null

  private val pump = new Thread(() => {
    while (!closed) {
      try {
        val it = Retry.withBackoff(
          attempts = triesPerConnect, initialDelayMs = backoffMs,
          sleep = sleep)(() => { connects += 1; feed.connect() })
        while (!closed && it.hasNext) latest.set(it.next())
        // iterator exhausted = disconnect: fall through, outer loop
        // re-subscribes (the reference's `loop { … }`, block.rs:54-61)
      } catch {
        case _: InterruptedException => closed = true
        case scala.util.control.NonFatal(e) =>
          lastError = e
          try sleep(backoffMs) catch { case _: InterruptedException => closed = true }
      }
    }
  }, "graft-head-subscription")
  pump.setDaemon(true)
  pump.start()

  def currentHead(): Option[Long] = {
    val v = latest.get()
    if (v == Long.MinValue) None else Some(v)
  }

  /** Latest head, waiting up to `timeoutMs` for the FIRST announcement
    * to land (later reads are instant channel reads).
    */
  def awaitFirst(timeoutMs: Long): Option[Long] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var h = currentHead()
    while (h.isEmpty && !closed && System.nanoTime() < deadline) {
      Thread.sleep(1L)
      h = currentHead()
    }
    h
  }

  override def close(): Unit = {
    closed = true
    pump.interrupt()
    pump.join(2000L)
  }
}

object RpcLogSource {
  /** The engine's raw-log schema (FIXTURES.md §1.2): what
    * [[graft.operators.EventDecoder.decode]] consumes directly. Topics
    * are split to fixed columns (`topic1..3` null when absent).
    */
  val LogSchema: StructType = StructType(Seq(
    StructField("address", BinaryType),
    StructField("topic0", BinaryType),
    StructField("topic1", BinaryType),
    StructField("topic2", BinaryType),
    StructField("topic3", BinaryType),
    StructField("data", BinaryType),
    StructField("block_number", LongType, nullable = false),
    StructField("transaction_hash", BinaryType),
    StructField("log_index", LongType, nullable = false),
    StructField("removed", BooleanType, nullable = false)))

  private[sources] def toRow(l: EthLog): InternalRow = {
    def topic(i: Int): Array[Byte] =
      if (i < l.topics.size) l.topics(i) else null
    new GenericInternalRow(Array[Any](
      l.address, topic(0), topic(1), topic(2), topic(3), l.data,
      l.blockNumber, l.transactionHash, l.logIndex, l.removed))
  }

  /** Driver-side registry for non-URL transports (DSv2 options carry
    * only strings): tests and embedders register a transport under a
    * name and pass `transport=<name>`. Consulted at PLANNING time; the
    * instance itself is serialized to executors with the reader factory.
    */
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, JsonRpcTransport]()
  def registerTransport(name: String, t: JsonRpcTransport): Unit =
    registry.put(name, t)
  private[sources] def transportFor(o: collection.Map[String, String]): JsonRpcTransport =
    o.get("url").map(new HttpJsonRpcTransport(_)).orElse(
      o.get("transport").map { n =>
        val t = registry.get(n)
        require(t != null, s"no registered transport named '$n' " +
          "(RpcLogSource.registerTransport)")
        t
      }).getOrElse(throw new IllegalArgumentException(
        "rpc-logs requires a `url` or registered `transport` option"))
}

/** `addresses`/`topics(i)`: `None` = no server-side filter; `Some(xs)` =
  * filter to exactly `xs` (normalized lowercase `0x…`). `Some(Nil)` is a
  * satisfiable-by-nothing contradiction (e.g. an option filter
  * intersected with a disjoint pushed filter) — the scan plans ZERO
  * partitions instead of asking the node for an empty set. `topics` is
  * always 4 entries, one per RPC topic slot (slot 0 = signature, slots
  * 1..3 = indexed event params).
  */
private[sources] final case class RpcParams(
    transport: JsonRpcTransport, window: BlockWindow,
    fetchBlocks: Long, addresses: Option[Seq[String]],
    topics: Seq[Option[Seq[String]]], wsUrl: Option[String] = None) {
  require(fetchBlocks >= 1, "fetchBlocks must be >= 1")
  require(topics.size == 4, s"topics must carry 4 slots, got ${topics.size}")
  // any other scheme fails every WebSocket connect, which the subscription
  // would retry forever while each trigger waits out `awaitFirst`
  require(wsUrl.forall(u => Set("ws", "wss")(
      scala.util.Try(new java.net.URI(u).getScheme.toLowerCase).getOrElse(""))),
    s"wsUrl must be a ws:// or wss:// URI, got ${wsUrl.getOrElse("")}")

  def matchable: Boolean =
    addresses.forall(_.nonEmpty) && topics.forall(_.forall(_.nonEmpty))
  def addressList: Seq[String] = addresses.getOrElse(Nil)
  /** Wire shape: one list per slot, `Nil` = wildcard (trailing
    * wildcards trimmed by the codec).
    */
  def topicLists: Seq[Seq[String]] = topics.map(_.getOrElse(Nil))
}

private[sources] object RpcParams {
  /** Comma-separated hex list option → normalized filter (the RPC spec's
    * address/topic slots take one value or a list).
    */
  private def hexList(v: String): Seq[String] =
    v.split(',').iterator.map(_.trim).filter(_.nonEmpty)
      .map(s => "0x" + Hex.strip0x(s).toLowerCase).toSeq

  def apply(options: JMap[String, String]): RpcParams = {
    val o = options.asScala
    RpcParams(
      transport = RpcLogSource.transportFor(o),
      window = BlockWindow(o),
      // executor-side fetch granularity: one eth_getLogs call per
      // partition — the reference's block_step chunking
      // (stream.rs:214-226) mapped onto task parallelism
      fetchBlocks = o.getOrElse("fetchblocks", o.getOrElse("fetchBlocks", "100")).toLong,
      addresses = o.get("address").map(hexList),
      topics = (0 to 3).map(i => o.get(s"topic$i").map(hexList)),
      wsUrl = o.get("wsurl").orElse(o.get("wsUrl")))
  }
}

/** One inclusive block range fetched by one task. */
private[sources] final case class RpcRangePartition(from: Long, to: Long)
    extends InputPartition

/** Executor-side fetch: ONE `eth_getLogs` per partition, retried with
  * backoff (B3), parsed rows streamed out. The transport travels inside
  * this factory (Serializable). Task-context retry budget is trimmed
  * (3 tries from 5 ms) so transport-level backoff stays well under
  * Spark's own task-retry layer instead of stacking multiplicatively
  * on it — Spark retries cover everything past these fast transients.
  */
private[sources] final class RpcRangeReaderFactory(
    transport: JsonRpcTransport, addresses: Seq[String],
    topics: Seq[Seq[String]]) extends PartitionReaderFactory {

  /** Fetch `[from, to]`, ADAPTIVELY BISECTING on the node's range-limit
    * rejection (−32005 / "too large"): `fetchBlocks` is a static guess,
    * but a real provider's cap is dynamic (log density varies 100× block
    * to block) — at backfill scale the alternative is sizing every
    * partition for the densest block in 100 TB of history. The split is
    * lazy (the right half is not requested until the left half drains),
    * transients still retry per sub-range, and the limit error itself
    * never burns the retry budget (`retryIf` — the identical request
    * cannot succeed). A SINGLE block over the cap cannot split further
    * and fails loudly.
    */
  private def fetchRange(from: Long, to: Long): Iterator[EthLog] = {
    try Retry.withBackoff(attempts = 3, initialDelayMs = 5L,
        retryIf = !_.isInstanceOf[RpcRangeTooLargeException])(() =>
      EthJsonRpc.parseLogs(transport.call(EthJsonRpc.getLogsRequest(
        1L, from, to, addresses, topics)))).iterator
    catch {
      case e: RpcRangeTooLargeException =>
        if (from >= to) throw new java.io.IOException(
          s"eth_getLogs for the SINGLE block $from still exceeds the " +
            "node's response limit — cannot split further; use a node " +
            s"with a higher cap for this block (${e.getMessage})", e)
        val mid = from + (to - from) / 2
        fetchRange(from, mid) ++ fetchRange(mid + 1, to)
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val range = p.asInstanceOf[RpcRangePartition]
    new PartitionReader[InternalRow] {
      private var it: Iterator[InternalRow] = _
      private var current: InternalRow = _
      override def next(): Boolean = {
        if (it == null)
          it = fetchRange(range.from, range.to).map(RpcLogSource.toRow)
        if (it.hasNext) { current = it.next(); true } else false
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** Shared range → partitions split (`fetchBlocks` granularity). */
private[sources] object RpcRanges {
  def partitions(lo: Long, hi: Long, fetchBlocks: Long): Array[InputPartition] =
    (lo to hi by fetchBlocks).map(a =>
      RpcRangePartition(a, math.min(a + fetchBlocks - 1, hi)): InputPartition)
      .toArray
}

/** Streaming side: the [[BlockWindowStream]] core the replay source
  * shares, over the RPC transport. Offsets are the same inclusive
  * `BlockOffset` frontier, so checkpoints restart-resync structurally
  * (S7).
  *
  * `head()` reports the head it reads and leaves the monotonic guard to
  * [[BlockWindowStream]]. Without `wsUrl` it asks `eth_blockNumber` once
  * per trigger; a node that stays down past the retry burst yields None
  * (the stream keeps its last known head) and the error lands in
  * `lastHeadError`, so an outage never kills the query. With `wsUrl` it
  * reads a [[HeadSubscription]] over [[WsHeadFeed]], the reference's
  * `eth_subscribe("newHeads")` watcher with its reconnect policy
  * (data_feed/block.rs:17-68) — the trigger never blocks on the wire once
  * the first head lands.
  */
private[graft] class RpcLogStream private[sources] (params: RpcParams)
    extends BlockWindowStream(params.window) {
  import params._

  /** The last failed `eth_blockNumber` poll (observability). */
  @volatile private[graft] var lastHeadError: Throwable = null
  @volatile private var subscription: HeadSubscription = null
  override protected def head(): Option[Long] = wsUrl match {
    case Some(u) =>
      if (subscription == null) synchronized {
        if (subscription == null)
          subscription = new HeadSubscription(new WsHeadFeed(java.net.URI.create(u)))
      }
      subscription.awaitFirst(10000L)
    case None =>
      try Some(EthJsonRpc.blockNumber(transport))
      catch {
        case scala.util.control.NonFatal(e) => lastHeadError = e; None
      }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    if (!params.matchable) Array.empty
    else RpcRanges.partitions(
      BlockOffset.of(start) + 1, BlockOffset.of(end), fetchBlocks)

  override def createReaderFactory(): PartitionReaderFactory =
    new RpcRangeReaderFactory(transport, addressList, topicLists)

  override def stop(): Unit = {
    val s = subscription
    if (s != null) s.close()
  }
}

/** Batch side: the historical chunked scan (S3) over RPC — the
  * window's `[fromBlock, syncedEnd]` range split into `fetchBlocks`
  * partitions, fetched executor-side in parallel. A node that does not
  * answer `eth_blockNumber` fails the scan: an unknown head has no range
  * to plan.
  */
private[sources] class RpcLogBatch(params: RpcParams) extends Batch {
  override def planInputPartitions(): Array[InputPartition] = {
    if (!params.matchable) return Array.empty
    val window = params.window
    val hi = window.syncedEnd(Some(EthJsonRpc.blockNumber(params.transport)))
    RpcRanges.partitions(window.fromBlock, hi, params.fetchBlocks)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new RpcRangeReaderFactory(params.transport, params.addressList,
      params.topicLists)
}

private[sources] class RpcLogScan(params: RpcParams,
    pushed: Array[Filter]) extends Scan {
  override def readSchema(): StructType = RpcLogSource.LogSchema
  override def description(): String =
    "rpc-logs, PushedFilters: [" + pushed.mkString(", ") + "]"
  override def toBatch: Batch = new RpcLogBatch(params)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new RpcLogStream(params)
}

/** S2 as DSv2 FILTER PUSHDOWN — the idiomatic
  * `read.format("rpc-logs").load().filter(...)` lands address / topic0 /
  * block-range predicates in the `eth_getLogs` request itself
  * (`build_filter` parity, eth_event_stream/src/stream.rs:94-102)
  * instead of shipping every log in the range across the wire and
  * filtering client-side:
  *
  *  - `address`/`topic0` equality and IN-lists become the request's
  *    server-side filter lists (intersected with any `address`/`topic0`
  *    READER OPTIONS — both constrain the result, and a disjoint
  *    intersection plans zero partitions);
  *  - `block_number` bounds narrow `fromBlock`/`toBlock`, so the
  *    partition plan itself shrinks — pruned ranges are never fetched;
  *  - every pushed filter is ALSO kept as a Spark-side residual
  *    (`pushFilters` returns its input unchanged): the node filter is a
  *    transport-width optimization, Spark's own evaluation stays the
  *    correctness authority even against a sloppy node.
  *
  * Streaming reads keep using reader options for server-side filters —
  * micro-batch planning builds its scan before optimizer pushdown runs.
  */
private[sources] final class RpcScanBuilder(base: RpcParams)
    extends ScanBuilder with SupportsPushDownFilters {
  private var params = base
  private var accepted: Array[Filter] = Array.empty

  private def hexValue(v: Any): Option[String] = v match {
    case b: Array[Byte] => Some("0x" + Hex.encode(b).toLowerCase)
    case s: String => Some("0x" + Hex.strip0x(s).toLowerCase)
    case _ => None
  }

  /** Intersect an existing filter list with a pushed one: both must
    * hold, and `None` means unconstrained.
    */
  private def meet(cur: Option[Seq[String]], pushedVals: Seq[String]): Option[Seq[String]] =
    Some(cur.fold(pushedVals)(c => c.filter(pushedVals.toSet)))

  private def longValue(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  /** `topic0..topic3` → slot index (the four positional filter slots of
    * the RPC spec; slots 1..3 are where indexed event params land).
    */
  private def topicSlot(c: String): Option[Int] = {
    val l = c.toLowerCase
    if (l.length == 6 && l.startsWith("topic") && l.last >= '0' && l.last <= '3')
      Some(l.last - '0')
    else None
  }

  private def withTopic(p: RpcParams, slot: Int, hs: Seq[String]): RpcParams =
    p.copy(topics = p.topics.updated(slot, meet(p.topics(slot), hs)))

  private def within(p: RpcParams, lo: Long, hi: Long): RpcParams =
    p.copy(window = p.window.within(lo, hi))

  /** Fold one source filter into the params; None = not translatable. */
  private def translate(p: RpcParams, f: Filter): Option[RpcParams] = f match {
    case EqualTo(c, v) if c.equalsIgnoreCase("address") =>
      hexValue(v).map(h => p.copy(addresses = meet(p.addresses, Seq(h))))
    case EqualNullSafe(c, v) if c.equalsIgnoreCase("address") && v != null =>
      hexValue(v).map(h => p.copy(addresses = meet(p.addresses, Seq(h))))
    case In(c, vs) if c.equalsIgnoreCase("address") =>
      val hs = vs.toSeq.flatMap(hexValue)
      if (hs.size == vs.length) Some(p.copy(addresses = meet(p.addresses, hs)))
      else None
    case EqualTo(c, v) if topicSlot(c).isDefined =>
      hexValue(v).map(h => withTopic(p, topicSlot(c).get, Seq(h)))
    case EqualNullSafe(c, v) if topicSlot(c).isDefined && v != null =>
      hexValue(v).map(h => withTopic(p, topicSlot(c).get, Seq(h)))
    case In(c, vs) if topicSlot(c).isDefined =>
      val hs = vs.toSeq.flatMap(hexValue)
      if (hs.size == vs.length) Some(withTopic(p, topicSlot(c).get, hs))
      else None
    case EqualTo(c, v) if c.equalsIgnoreCase("block_number") =>
      longValue(v).map(b => within(p, b, b))
    case GreaterThan(c, v) if c.equalsIgnoreCase("block_number") =>
      longValue(v).map(b => within(p, b + 1, Long.MaxValue))
    case GreaterThanOrEqual(c, v) if c.equalsIgnoreCase("block_number") =>
      longValue(v).map(b => within(p, b, Long.MaxValue))
    case LessThan(c, v) if c.equalsIgnoreCase("block_number") =>
      longValue(v).map(b => within(p, Long.MinValue, b - 1))
    case LessThanOrEqual(c, v) if c.equalsIgnoreCase("block_number") =>
      longValue(v).map(b => within(p, Long.MinValue, b))
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val acc = Array.newBuilder[Filter]
    filters.foreach { f =>
      translate(params, f) match {
        case Some(np) => params = np; acc += f
        case None =>
      }
    }
    accepted = acc.result()
    // everything stays a residual — the pushed copy only narrows the wire
    filters
  }
  override def pushedFilters(): Array[Filter] = accepted
  override def build(): Scan = new RpcLogScan(params, accepted)
}

private[sources] class RpcLogTable(params: RpcParams)
    extends Table with SupportsRead {
  override def name(): String = "rpc-logs"
  override def schema(): StructType = RpcLogSource.LogSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RpcScanBuilder(params)
}

/** `spark.read/readStream.format("graft.sources.RpcLogProvider")`.
  *
  * Options: `url` (HTTP endpoint) OR `transport` (registered name);
  * `blockStep` (max blocks per micro-batch, default 1000);
  * `fetchBlocks` (blocks per eth_getLogs call/partition, default 100);
  * `confirmations` (default 2, ≥ 0); `fromBlock`/`toBlock`; optional
  * `address`/`topic0` server-side filters (comma-separated lists
  * allowed — the RPC spec's OR semantics); `wsUrl` (a `ws://` or
  * `wss://` URI; streams then take the head from a WebSocket
  * `eth_subscribe("newHeads")` [[HeadSubscription]] instead of one
  * `eth_blockNumber` per trigger — the reference's http-url + ws-url
  * pairing, block.rs:43-47).
  *
  * Batch reads additionally push `filter(...)` predicates on
  * `address`/`topic0`/`block_number` into the request — see
  * [[RpcScanBuilder]].
  */
class RpcLogProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "rpc-logs"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RpcLogSource.LogSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new RpcLogTable(RpcParams(properties))
}

/** Deterministic in-memory JSON-RPC node — the RPC twin of the parquet
  * replay harness (the sandbox has no network, so this SIMULATED node is
  * what drives the transport path end-to-end; swap in
  * [[HttpJsonRpcTransport]] against a real endpoint and nothing else
  * changes). Serves `eth_blockNumber` and `eth_getLogs` from a pure
  * function of the block range, so results are restatable relationally
  * (the correctness oracle) and identical on every call — a copy
  * travels to each task inside the reader factory, exactly like a real
  * URL transport.
  *
  * Log model: `logsPerBlock` logs per block; log `i` of block `b` comes
  * from contract 0xaa…aa (even i) or 0xbb…bb (odd i), topic0 0xcc…cc,
  * data = the 32-byte word of `b*1000 + i`; blocks in `removedBlocks`
  * serve `removed: true` (reorg-guard drills). `headSequence` pre-seeds
  * successive `eth_blockNumber` answers (head-regression drills), then
  * the fixed `head` serves forever. `topicsPerLog` (1..3) adds indexed
  * params: topic1 = the word of `i` (log index), topic2 = the word of
  * `b % 5` — both restatable relationally, so slot-filter drills have
  * an exact oracle.
  */
final class SimEthNode(head: Long, logsPerBlock: Int,
    removedBlocks: Set[Long] = Set.empty,
    headSequence: Seq[Long] = Nil,
    maxLogsPerRequest: Int = Int.MaxValue,
    topicsPerLog: Int = 1) extends JsonRpcTransport {
  require(topicsPerLog >= 1 && topicsPerLog <= 3,
    s"topicsPerLog must be 1..3, got $topicsPerLog")
  private val heads = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
  headSequence.foreach(h => heads.add(h))

  private def hexQty(v: Long): String = "0x" + java.lang.Long.toHexString(v)

  override def call(requestJson: String): String = {
    val m = new ObjectMapper()
    val req = m.readTree(requestJson)
    req.path("method").asText() match {
      case "eth_blockNumber" =>
        val h = Option(heads.poll()).map(_.longValue).getOrElse(head)
        s"""{"jsonrpc":"2.0","id":1,"result":"${hexQty(h)}"}"""
      case "eth_getLogs" =>
        val f = req.path("params").get(0)
        val from = EthJsonRpc.parseQuantityHex(f.path("fromBlock").asText())
        val to = EthJsonRpc.parseQuantityHex(f.path("toBlock").asText())
        // per the RPC spec both `address` and each topic slot accept one
        // value or a list (OR within a slot, AND across slots); honor
        // ALL FOUR slots so filtered requests are actually exercised —
        // a fixture that ignored a slot would let a broken pushdown
        // pass unnoticed
        def oneOrMany(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
          if (n == null || n.isNull) Nil
          else if (n.isArray) n.elements().asScala.map(_.asText().toLowerCase).toSeq
          else Seq(n.asText().toLowerCase)
        val addrFilter = oneOrMany(f.get("address"))
        val slotFilters: Seq[Seq[String]] = Option(f.get("topics"))
          .filter(_.isArray)
          .map(t => (0 until t.size()).map(i => oneOrMany(t.get(i))))
          .getOrElse(Nil)
        val fixtureTopic0 = "0x" + "cc" * 32
        def word(v: Long): String = "0x" + "%064x".format(v)
        val logs = (from to to).flatMap { b =>
          (0 until logsPerBlock).map { i =>
            val addr = if (i % 2 == 0) "0x" + "aa" * 20 else "0x" + "bb" * 20
            val topics = Seq(fixtureTopic0, word(i.toLong), word(b % 5))
              .take(topicsPerLog)
            (b, i, addr, topics)
          }
        }.filter { case (_, _, a, topics) =>
          (addrFilter.isEmpty || addrFilter.contains(a)) &&
            slotFilters.zipWithIndex.forall { case (fs, slot) =>
              // spec: a constrained slot requires the log to HAVE that
              // topic and match one of the slot's values
              fs.isEmpty || (slot < topics.size && fs.contains(topics(slot)))
            }
        }
          .map { case (b, i, addr, topics) =>
            val data = "0x" + ("%064x".format(b * 1000 + i))
            val tx = "0x" + ("%064x".format(b))
            val topicsJson = topics.map(t => s""""$t"""").mkString(",")
            s"""{"address":"$addr","topics":[$topicsJson],""" +
              s""""data":"$data","blockNumber":"${hexQty(b)}",""" +
              s""""logIndex":"${hexQty(i.toLong)}","transactionHash":"$tx",""" +
              s""""removed":${removedBlocks.contains(b)}}"""
          }
        // response cap: real providers reject oversized ranges with
        // −32005 instead of answering (the adaptive-split drill)
        if (logs.size > maxLogsPerRequest)
          s"""{"jsonrpc":"2.0","id":1,"error":{"code":-32005,""" +
            s""""message":"query returned more than $maxLogsPerRequest results"}}"""
        else
          s"""{"jsonrpc":"2.0","id":1,"result":[${logs.mkString(",")}]}"""
      case other =>
        s"""{"jsonrpc":"2.0","id":1,"error":{"code":-32601,"message":"method $other not found"}}"""
    }
  }
}
