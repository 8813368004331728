package graft.sources

import scala.collection.Map

import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}

/** Offset = highest block included so far (inclusive frontier). */
case class BlockOffset(block: Long) extends Offset {
  override def json: String = block.toString
}

object BlockOffset {
  def of(o: Offset): Long = o match {
    case BlockOffset(b) => b
    case other          => other.json.trim.toLong
  }
}

/** The block range a source reads, shared by `block-replay` and
  * `rpc-logs`: blocks `[fromBlock, toBlock]`, admitted at most `blockStep`
  * per micro-batch (chunked admission, stream.rs:214-226) and never past
  * `head − confirmations` (the reorg-safety lag, stream.rs:244-247).
  */
private[sources] final case class BlockWindow(
    fromBlock: Long, toBlock: Long, confirmations: Long, blockStep: Long) {
  require(blockStep >= 1, "blockStep must be >= 1")
  require(confirmations >= 0, "confirmations must be >= 0")

  /** Highest readable block: `head − confirmations` clamped to `toBlock`;
    * `fromBlock − 1` (an empty range) while no head is known.
    */
  def syncedEnd(head: Option[Long]): Long =
    head.map(h => math.min(h - confirmations, toBlock)).getOrElse(fromBlock - 1)

  /** This window narrowed to `[lo, hi]` (pushed `block_number` bounds). */
  def within(lo: Long, hi: Long): BlockWindow =
    copy(fromBlock = math.max(fromBlock, lo), toBlock = math.min(toBlock, hi))
}

private[sources] object BlockWindow {
  /** Options `fromBlock` (default 0), `toBlock` (default unbounded),
    * `confirmations` (default 2) and `blockStep` (default 1000), each
    * accepted as written or all lowercase.
    */
  def apply(o: Map[String, String]): BlockWindow = {
    def opt(key: String): Option[String] = o.get(key.toLowerCase).orElse(o.get(key))
    BlockWindow(
      fromBlock = opt("fromBlock").fold(0L)(_.toLong),
      toBlock = opt("toBlock").fold(Long.MaxValue)(_.toLong),
      confirmations = opt("confirmations").fold(2L)(_.toLong),
      blockStep = opt("blockStep").fold(1000L)(_.toLong))
  }
}

/** The live-tail loop of the reference (`stream_live_logs`,
  * stream.rs:229-258) as one DSv2 `MicroBatchStream`: a monotonic head
  * guard, then each micro-batch admits `(committed, head − confirmations]`
  * clamped to `toBlock`, at most `blockStep` blocks at a time. Offsets are
  * the inclusive [[BlockOffset]] frontier; the engine hands a restarted
  * query its checkpointed start, so it can never plan below its committed
  * frontier.
  *
  * `Trigger.AvailableNow` freezes the synced end at query start and drains
  * to it in `blockStep` chunks. Both sources report `allAvailable` as
  * their default limit, which is the only limit the engine passes a
  * source, so the budget is `blockStep` alone.
  *
  * The head guard here is the only one: a source's `head()` reports what
  * it reads, a regressing head included, and None when it cannot read
  * one; either leaves the highest head seen in place, so offsets never
  * decrease and an outage keeps serving the last known head.
  *
  * A source supplies the head and the reads: `head()`,
  * `planInputPartitions`, `createReaderFactory`, and `stop` if it holds a
  * resource.
  */
private[sources] abstract class BlockWindowStream(window: BlockWindow)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** The chain head as read now, or None when it cannot be read. */
  protected def head(): Option[Long]

  // a head that moves backwards (uncle/reorg resubmission) is ignored,
  // keeping offsets non-decreasing (stream.rs:236-242)
  private var maxSeenHead = Option.empty[Long]
  private def syncedEnd(): Long = {
    head().foreach(h => if (maxSeenHead.forall(h > _)) maxSeenHead = Some(h))
    window.syncedEnd(maxSeenHead)
  }

  private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(syncedEnd())

  override def initialOffset(): Offset = BlockOffset(window.fromBlock - 1)
  override def deserializeOffset(json: String): Offset =
    BlockOffset(json.trim.toLong)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "a block-window stream implements SupportsAdmissionControl; the " +
        "engine calls latestOffset(start, limit)")

  // progress reporting reuses the LAST synced end a trigger computed:
  // reportLatestOffset is called once per trigger right after
  // latestOffset, and re-running head discovery there doubled the
  // per-trigger metadata cost (recursive listing / head RPC) — worse, a
  // transient failure inside mere progress reporting killed the query
  @volatile private var lastSyncedEnd: Long = Long.MinValue

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = BlockOffset.of(start)
    val target = availableNowTarget.getOrElse(syncedEnd())
    lastSyncedEnd = math.max(lastSyncedEnd, target)
    val end = math.max(from, math.min(target, from + window.blockStep))
    if (end == from) start else BlockOffset(end)
  }

  override def reportLatestOffset(): Offset =
    BlockOffset(math.max(lastSyncedEnd, window.fromBlock - 1))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
