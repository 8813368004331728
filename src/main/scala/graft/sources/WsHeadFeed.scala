package graft.sources

import java.net.URI
import java.net.http.{HttpClient, WebSocket}
import java.time.Duration
import java.util.concurrent.{CompletionException, CompletionStage, LinkedBlockingQueue}

import com.fasterxml.jackson.databind.ObjectMapper

/** Real WebSocket transport for the chain-head subscription — the
  * reference's `WebSocket::new(ws_url)` + `eth_subscribe(newHeads)`
  * (eth_event_stream/src/data_feed/block.rs:22-28) over the JDK 11+
  * `java.net.http.WebSocket` client (public platform API; no extra
  * dependency).
  *
  * One `connect()` = one subscription session, mirroring the reference's
  * `stream_blocks` call: open the socket, send
  * `eth_subscribe(["newHeads"])`, then surface each notification's block
  * `number` through the returned iterator. The iterator ENDS (never
  * throws) when the server closes or the transport errors mid-session —
  * exhaustion is the [[HeadFeed]] contract's "socket dropped" signal, so
  * [[HeadSubscription]]'s infinite outer loop re-subscribes, exactly like
  * the reference's `loop { stream_blocks(...) }` (block.rs:54-61).
  * `connect()` itself THROWS on handshake failure so the 5-try backoff
  * burst (block.rs:25-26) retries it; a JSON-RPC ERROR reply to the
  * (asynchronous) subscribe ends the session immediately — an endpoint
  * without pub/sub support cycles through the reconnect loop instead of
  * hanging a head-less socket forever.
  *
  * Parsing follows the Ethereum JSON-RPC pub/sub shape: the subscribe
  * reply `{"id":…,"result":"0xSUBID"}` is consumed silently; each
  * `{"method":"eth_subscription","params":{"result":{"number":"0x…"}}}`
  * yields one head. A notification without a parseable `number` ends the
  * session (the reference errors out on `block.number.is_none()`,
  * block.rs:35-37, and lets the outer loop reconnect). Head regressions
  * pass through unfiltered, here and in [[HeadSubscription]]: the
  * stream's guard ([[BlockWindowStream]]) keeps offsets monotonic.
  */
final class WsHeadFeed(uri: URI,
    connectTimeoutMs: Long = 10000L,
    queueCapacity: Int = 1024) extends HeadFeed {

  // ONE client per feed, not per session: HttpClient owns selector/worker
  // threads and (pre-JDK-21) has no close(), so a per-connect instance
  // would leak a thread set on every reconnect of the infinite outer loop
  private lazy val client = HttpClient.newHttpClient()
  // last session's socket, reaped at the next connect(): bounds the
  // close-race leak (pump exits between connect and first take) to at
  // most one socket per feed lifetime instead of one per reconnect
  @volatile private var lastWs: WebSocket = null

  override def connect(): Iterator[Long] = {
    val prev = lastWs
    if (prev != null) try prev.abort()
      catch { case scala.util.control.NonFatal(_) => }
    // one queue + listener per session; sentinel `End` marks disconnect
    val queue = new LinkedBlockingQueue[AnyRef](queueCapacity)
    val listener = new WsHeadFeed.HeadListener(queue)
    val ws =
      try {
        client.newWebSocketBuilder()
          .connectTimeout(Duration.ofMillis(connectTimeoutMs))
          .buildAsync(uri, listener)
          .join()
      } catch {
        // unwrap so Retry's NonFatal handling sees the real cause
        case e: CompletionException if e.getCause != null => throw e.getCause
      }
    lastWs = ws
    try ws.sendText(WsHeadFeed.subscribeRequest, true).join()
    catch {
      // a rejected subscribe frame must not leak the open socket into
      // the infinite reconnect loop (one live connection per attempt)
      case e: Throwable =>
        try ws.abort() catch { case scala.util.control.NonFatal(_) => }
        e match {
          case ce: CompletionException if ce.getCause != null => throw ce.getCause
          case _ => throw e
        }
    }

    new Iterator[Long] {
      private var nextHead: java.lang.Long = null
      private var ended = false

      override def hasNext: Boolean = {
        if (nextHead != null) return true
        if (ended) return false
        val item =
          try queue.take() // interruptible: pump close() unblocks here
          catch {
            case e: InterruptedException =>
              // HeadSubscription.close(): release the socket BEFORE the
              // pump thread dies, or the connection outlives the stream
              ended = true
              try ws.abort() catch { case scala.util.control.NonFatal(_) => }
              throw e
          }
        item match {
          case h: java.lang.Long => nextHead = h; true
          case _ =>
            ended = true
            // half-closed cleanup; ignore failures on a dead socket
            try ws.sendClose(WebSocket.NORMAL_CLOSURE, "").join()
            catch { case scala.util.control.NonFatal(_) => }
            try ws.abort() catch { case scala.util.control.NonFatal(_) => }
            false
        }
      }

      override def next(): Long = {
        if (!hasNext) throw new NoSuchElementException("head feed ended")
        val h = nextHead.longValue(); nextHead = null; h
      }
    }
  }
}

object WsHeadFeed {
  private val mapper = new ObjectMapper()
  private[graft] val subscribeRequest: String =
    """{"jsonrpc":"2.0","id":1,"method":"eth_subscribe","params":["newHeads"]}"""

  /** Queue sentinel: session over (server close, error, or bad payload). */
  private object End

  /** Accumulates (possibly fragmented) text messages and feeds parsed
    * heads into the session queue. JDK listener contract: we request one
    * more delivery after each invocation; `onOpen` must prime the first.
    */
  private final class HeadListener(queue: LinkedBlockingQueue[AnyRef])
      extends WebSocket.Listener {
    private val buf = new java.lang.StringBuilder()

    // never block the client's selector thread. A full queue evicts the
    // OLDEST entry: the reader wants the LATEST head (latest-value
    // channel), so dropping the newest would serve a frontier up to
    // queueCapacity announcements stale. `End` is terminal and MUST
    // land — if eviction pops it, the session is over anyway: re-seat
    // End and drop the stale head instead.
    private def offer(v: AnyRef): Unit = {
      while (!queue.offer(v)) {
        if (queue.poll().asInstanceOf[AnyRef] eq End) { offerEnd(); return }
      }
    }
    private def offerEnd(): Unit = while (!queue.offer(End)) queue.poll()

    override def onOpen(ws: WebSocket): Unit = ws.request(1)

    override def onText(ws: WebSocket, data: CharSequence,
        last: Boolean): CompletionStage[_] = {
      buf.append(data)
      if (last) {
        val msg = buf.toString; buf.setLength(0)
        parseHead(msg) match {
          case Right(Some(h)) => offer(java.lang.Long.valueOf(h))
          case Right(None)    => // subscribe ack / unrelated id: ignore
          case Left(_)        => offerEnd() // error reply / bad head ⇒ end
        }
      }
      ws.request(1)
      null
    }

    override def onClose(ws: WebSocket, statusCode: Int,
        reason: String): CompletionStage[_] = { offerEnd(); null }

    override def onError(ws: WebSocket, error: Throwable): Unit = offerEnd()
  }

  /** `Right(Some(head))` for a newHeads notification, `Right(None)` for
    * non-notification traffic (subscribe ack), `Left(reason)` for a
    * notification whose block number is absent/unparseable.
    */
  private[graft] def parseHead(msg: String): Either[String, Option[Long]] =
    try {
      val root = mapper.readTree(msg)
      if (root.hasNonNull("error"))
        // e.g. the endpoint rejects eth_subscribe (no pub/sub support):
        // the session can never produce heads — end it so the reconnect
        // loop surfaces the condition instead of waiting forever
        Left(s"JSON-RPC error reply: ${root.get("error")}")
      else if (!root.hasNonNull("method") ||
          root.get("method").asText() != "eth_subscription") Right(None)
      else {
        val num = root.path("params").path("result").path("number")
        if (num.isTextual)
          Right(Some(EthJsonRpc.parseQuantityHex(num.asText())))
        else Left("newHeads notification without a block number")
      }
    } catch {
      case scala.util.control.NonFatal(e) => Left(s"unparseable frame: $e")
    }
}
