package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{EventSchema, Hex}
import graft.operators.{EventDecoder, EventLog}

/** S8 — the `StreamFactory` façade (reference:
  * eth_event_stream/src/stream.rs:33-90): shared range/confirmation/step
  * configuration plus a registry of `(address, topic0)` stream signatures
  * (the sink's `add_source`, sink.rs:175-179). Registration is frozen
  * before execution — `sink()` hands out the immutable registry, like
  * `get_sink` consuming the factory (stream.rs:87-89).
  */
final case class StreamConfig(
    fromBlock: Long = 0L,
    toBlock: Long = Long.MaxValue,
    confirmationBlocks: Long = 2L, // reference default, stream.rs:115-116
    blockStep: Long = 1000L)       // reference default, stream.rs:119

/** One registered stream: `StreamSignature(address, topic0)` parity
  * (sink.rs:34-35) plus the parsed schema for decode.
  */
final case class StreamHandle(address: Array[Byte], schema: EventSchema) {
  def topic0: Array[Byte] = schema.topic0
  def signatureHex: (String, String) =
    (Hex.toHex0x(address), schema.topic0Hex)
}

final class EngineSession(
    val spark: SparkSession,
    val config: StreamConfig = StreamConfig()) {

  // checkpoint files go through the fork-free local filesystem
  graft.streaming.NioLocalFs.install(spark)

  private val registry = mutable.LinkedHashMap.empty[(Seq[Byte], Seq[Byte]), StreamHandle]
  private var frozen = false

  /** `StreamFactory::make` parity: parse the declaration, register the
    * signature, return the handle. Duplicate signatures are rejected (the
    * sink documents duplicate-publish as a panic, sink.rs:20).
    *
    * ANONYMOUS events (reference parses the flag,
    * eth_event_macro/src/events.rs:53-58,74) carry no signature topic —
    * their topic0 slot holds the first indexed param — so they can only be
    * routed by ADDRESS. An anonymous registration therefore claims its
    * whole address: sharing that address with any other registration would
    * make routing ambiguous (every log of the address matches the
    * anonymous schema), and is rejected here rather than silently
    * mis-decoded.
    */
  def register(addressHex: String, eventDecl: String): StreamHandle = {
    require(!frozen, "session frozen: sink() was already taken (stream.rs:87-89)")
    val h = StreamHandle(Hex.address(addressHex), EventSchema.parse(eventDecl))
    val key = (h.address.toSeq, h.topic0.toSeq)
    require(!registry.contains(key),
      s"duplicate stream signature: ${h.signatureHex}")
    val sameAddr = registry.values.filter(_.address.sameElements(h.address))
    require(!(h.schema.anonymous && sameAddr.nonEmpty),
      s"anonymous event ${h.schema.name} would shadow other registrations on " +
        s"address ${Hex.toHex0x(h.address)} (anonymous events route by address)")
    require(!sameAddr.exists(_.schema.anonymous),
      s"address ${Hex.toHex0x(h.address)} is claimed by an anonymous event " +
        "registration (anonymous events route by address)")
    registry.put(key, h)
    h
  }

  /** Freeze and return the registered handles (the sink). */
  def sink(): Seq[StreamHandle] = { frozen = true; registry.values.toSeq }

  def sources: Seq[StreamHandle] = registry.values.toSeq

  /** Routing predicate for one handle: `(address, topic0)` for named
    * events; address alone for anonymous ones (whose topic0 is data, not a
    * signature — see `register`).
    */
  private def handleMatch(h: StreamHandle) =
    if (h.schema.anonymous) col("address") === lit(h.address)
    else col("address") === lit(h.address) && col("topic0") === lit(h.topic0)

  /** Live ingestion configured by this session: the replay stream with
    * the session's range, confirmation lag, and admission step — the
    * StreamFactory fields the reference threads into every stream
    * (stream.rs:115-119). [[rawLogFilter]] deliberately applies only the
    * RANGE: confirmation lag is a live-tail safety margin (head − N),
    * meaningless on an already-finalized replay frame.
    */
  def readStream(path: String): DataFrame =
    graft.streaming.StreamOps.readBlockStream(spark, path,
      blockStep = config.blockStep,
      confirmations = config.confirmationBlocks,
      fromBlock = config.fromBlock,
      toBlock = if (config.toBlock == Long.MaxValue) None
        else Some(config.toBlock))

  /** P1 over the whole registry: the source-side pushdown filter for a raw
    * log DataFrame — `(address, topic0) ∈ registry AND block ∈ range`
    * (`build_filter`, stream.rs:94-102, generalized to N streams).
    *
    * Applies the reorg guard first: a `removed=true` log aborts the query
    * (the reference's invariant, stream.rs:174-181) — checked on the rows
    * that SURVIVE the signature filter, matching the reference (it
    * validates the logs it is about to ingest, not the whole node feed).
    */
  def rawLogFilter(logs: DataFrame): DataFrame = {
    val sigMatch = sources.map(handleMatch)
      .reduceOption(_ || _)
      .getOrElse(lit(false))
    EventLog.assertNoRemoved(
      logs.filter(sigMatch &&
        col("block_number").between(config.fromBlock, config.toBlock)))
  }

  /** Decode the registered stream's rows out of a raw log DataFrame. */
  def decode(logs: DataFrame, handle: StreamHandle): DataFrame =
    EventDecoder.decode(logs.filter(handleMatch(handle)), handle.schema)

  /** Single-pass multi-event decode: the reference dispatches EACH log to
    * its stream by `(address, topic0)` once per log (sink.rs:86-99 routes
    * on the signature key), whereas per-handle `decode` re-reads the raw
    * frame once per registration — at backfill scale that is N scans of
    * history for N events. This is the one-scan shape: a single
    * projection routes every row (`event_name`) and decodes every
    * registered schema behind its own routing guard, so unmatched
    * structs are null and each log's decode work is only its own
    * handle's expressions (the `when` short-circuits per row).
    *
    * Output: `block_number`, `log_index`, `address`, `event_name`, then
    * one nullable struct column per registration holding the schema's
    * typed params, non-null exactly on the rows that routed to it.
    * Struct columns are named by the lower-cased event name; two
    * registrations of the same declaration on different addresses get
    * deterministic `_2`, `_3`… suffixes in registration order.
    *
    * Stays a pure narrow projection — no shuffle, codegen-friendly, and
    * column pruning reaches through the structs (selecting one event's
    * fields drops the other events' decode expressions from the plan).
    */
  def decodeAll(logs: DataFrame): DataFrame = {
    val hs = sources
    require(hs.nonEmpty, "decodeAll needs at least one registered stream")
    val counts = mutable.Map.empty[String, Int]
    val names = hs.map { h =>
      val base = h.schema.name.toLowerCase
      val n = counts.getOrElse(base, 0) + 1
      counts(base) = n
      if (n == 1) base else s"${base}_$n"
    }
    // loud name validation (decode() validates per-schema; the multi
    // decode adds two NEW collision classes): an event named like a base
    // output column duplicates it, and an explicit `foo_2` event collides
    // with the generated suffix of a second `foo`
    val baseCols = Set("block_number", "log_index", "address", "event_name")
    val clash = names.filter(baseCols)
    require(clash.isEmpty,
      s"decodeAll: event name(s) ${clash.mkString(", ")} collide with the " +
        "base output columns (block_number, log_index, address, event_name)")
    require(names.distinct.size == names.size,
      s"decodeAll: struct names collide after suffixing: " +
        names.diff(names.distinct).distinct.mkString(", "))
    val topics = Seq(col("topic0"), col("topic1"), col("topic2"), col("topic3"))
    val eventName = hs.zip(names).foldRight(lit(null).cast("string")) {
      case ((h, n), acc) => when(handleMatch(h), lit(n)).otherwise(acc)
    }
    val structs = hs.zip(names).map { case (h, n) =>
      // decode() parity: wide numerics carry their lossless `<p>_raw`
      // 32-byte twin INSIDE the struct — without it the one-scan path
      // silently nulls real on-chain values (max-uint256 approvals)
      // that the per-handle path preserves
      val fields = EventDecoder.decodedWithRaw(h.schema, topics, col("data"))
        .flatMap { case (pn, c, raw) =>
          (pn -> c) +: raw.map(w => s"${pn}_raw" -> w).toSeq
        }
        .map { case (pn, c) => c.as(pn) }
      when(handleMatch(h), struct(fields: _*)).as(n)
    }
    logs.select(Seq(col("block_number"), col("log_index"), col("address"),
      eventName.as("event_name")) ++ structs: _*)
  }

  /** J1 over the registry: the synchronized frontier across registered
    * `(address, topic0)` signatures — zero rows while any registered
    * stream has produced nothing (`synced_including` = None,
    * sink.rs:187-197).
    */
  def frontier(logs: DataFrame): DataFrame = {
    // zero registrations would emit one NULL-frontier row from the empty
    // global agg (0 === 0 synced) — loud, like decodeAll
    require(sources.nonEmpty, "frontier needs at least one registered stream")
    // delegate to the shared synced_including implementation, keyed by the
    // hex signature string — address alone for anonymous handles (their
    // logs' topic0 is payload, it can never equal the registered hash)
    val anonAddrs = sources.filter(_.schema.anonymous)
      .map(h => Hex.encode(h.address))
    val addrHex = lower(hex(col("address")))
    val sigKey = concat(addrHex, lit(":"), lower(hex(col("topic0"))))
    val srcKey =
      if (anonAddrs.isEmpty) sigKey
      else when(addrHex.isin(anonAddrs.map(a => a: Any): _*), addrHex)
        .otherwise(sigKey)
    val progress = logs.select(srcKey.as("source"),
      col("block_number").as("end_block"))
    val registered = sources.map(h =>
      if (h.schema.anonymous) Hex.encode(h.address)
      else s"${Hex.encode(h.address)}:${Hex.encode(h.topic0)}")
    EventLog.frontierFromProgress(progress, registered)
  }
}
