package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming layer: the reference's sync/consume surface rebuilt on
  * Structured Streaming (SURVEY §7 phase 5).
  *
  *  - exactly-once-per-range (S7) comes from the engine (checkpointed
  *    offsets); the multi-source min frontier (J1) is the flush state's
  *    own per-leg high-water marks, so a block is flushed by the trigger
  *    that reads it, with each leg's watermark (global = min) dropping
  *    rows for blocks already flushed;
  *  - the barrier (J3, sink.rs:200-213) is `processAllAvailable`;
  *  - keyed stateful reduction (A1) is `mapGroupsWithState`;
  *  - order-sensitive per-block reduction (A2) is `foreachBatch` over
  *    block-ascending, log_index-sorted micro-batches.
  */
object StreamOps {

  /** Open the block-replay stream (DSv2 `MicroBatchStream`, see
    * [[graft.sources.BlockReplayProvider]]). The source emits the raw
    * parquet schema; the derived `(block_number, log_index)` order keys and
    * the reorg guard (abort on `removed=true`) are plain expressions
    * applied here — identical per-row semantics to evaluating them inside
    * the source, but visible to Catalyst.
    *
    * A TIMESTAMP(NANOS) table loads only when the caller has set
    * `spark.sql.legacy.parquet.nanosAsLong` on `spark` (it then reads as
    * epoch-nano longs); without it the load fails with Spark's
    * `PARQUET_TYPE_ILLEGAL`. The engine never sets the flag. The bundled
    * sf0.001–sf0.1 events carry microseconds and need nothing.
    */
  def readBlockStream(
      spark: SparkSession,
      path: String,
      blockStep: Long = 1000L,
      confirmations: Long = 2L,
      fromBlock: Long = 0L,
      toBlock: Option[Long] = None,
      blockSize: Long = 10L): DataFrame = {
    val r = spark.readStream
      .format("graft.sources.BlockReplayProvider")
      .option("path", path)
      .option("blockSize", blockSize)
      .option("blockStep", blockStep)
      .option("confirmations", confirmations)
      .option("fromBlock", fromBlock)
    toBlock.foreach(t => r.option("toBlock", t))
    graft.operators.EventLog.assertNoRemoved(
      graft.operators.EventLog.withBlockKeys(r.load(), blockSize))
  }

  /** A3 as a streaming aggregate: same netflow transform, update/complete
    * mode — state lives in the state store, partitioned by key.
    */
  def netflowStream(stream: DataFrame, inflowType: String,
      outflowType: String, keyCol: String = "user_id"): DataFrame =
    graft.operators.EventLog.netflow(stream, inflowType, outflowType, keyCol)

  /** A1 — the `EventReducer` surface as explicit keyed state:
    * `mapGroupsWithState` folding (inflow − outflow) per key across
    * micro-batches. Emits the running netflow per key each update.
    *
    * State folds in DECIMAL (38,18 through the encoder; the inputs are
    * 2-dp values), exactly like every other netflow path
    * ([[graft.operators.EventLog.netflow]] folds decimal(38,2)) — a
    * double fold would read cancelled flows as ±1e-9 instead of exactly
    * 0, a semantic drift from the oracled batch result.
    */
  def statefulNetflow(
      stream: DataFrame, inflowType: String, outflowType: String,
      keyCol: String = "user_id"): Dataset[(Long, BigDecimal)] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val deltas = stream
      .filter(col("event_type").isin(inflowType, outflowType))
      .select(col(keyCol).cast("long"),
        when(col("event_type") === inflowType, col("value"))
          .otherwise(-col("value")).cast("decimal(38,18)"))
      .as[(Long, BigDecimal)]
    deltas.groupByKey(_._1)
      .mapGroupsWithState[BigDecimal, (Long, BigDecimal)](
        GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, BigDecimal)],
            state: GroupState[BigDecimal]) =>
          val sum = rows.foldLeft(
            state.getOption.getOrElse(BigDecimal(0)))(_ + _._2)
          state.update(sum)
          key -> sum
      }
  }

  /** A1/A2 — order-sensitive reducer driver: every micro-batch is iterated
    * block-ascending, each block's events sorted by `log_index` (J4 order),
    * and handed to the reducer with the full ordered slice — the
    * `reduce_synced_events` contract (sink.rs:134-151). The fold runs where
    * the reference's did (a single consumer), while upstream scan/decode
    * stays distributed.
    *
    * Each micro-batch is COLLECTED to the driver — that is the contract
    * (a sequential fold cannot distribute), so the batch size is the
    * driver-memory bound. `maxBatchRows` fails LOUDLY when a batch
    * exceeds it (a `limit(max+1)` inside the single collect action — a
    * separate count would recompute the batch from the source):
    * pointed at an unbounded stream with too coarse a `blockStep`, the
    * query dies with instructions instead of OOMing the driver.
    */
  def runOrderedReducer(
      stream: DataFrame,
      checkpoint: String,
      reduce: (Long, Seq[Row]) => Unit,
      maxBatchRows: Long = 1L << 22): StreamingQuery = {
    // the driver collect can never hold more than Int.MaxValue rows, so a
    // cap at or past it is a misconfiguration, not "unlimited": rejecting
    // it here keeps the limit(max+1) below overflow-free (Long.MaxValue+1
    // would wrap negative and silently collect zero rows)
    require(maxBatchRows > 0 && maxBatchRows < Int.MaxValue,
      s"maxBatchRows=$maxBatchRows must be in [1, ${Int.MaxValue - 1}]: " +
        "the ordered reducer collects each micro-batch to the driver, so " +
        "an effectively-unbounded cap cannot be honored")
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // ONE action: a separate count() would recompute the whole
        // micro-batch from the source (an rpc-logs batch re-fetches its
        // block range from the node). limit(max+1) bounds what can ever
        // reach the driver; the cap check runs on the collected size
        // BEFORE any row is handed to the reducer.
        val rows = batch
          .sort(col("block_number"), col("log_index"))
          .limit((maxBatchRows + 1).toInt)
          .collect()
        require(rows.length <= maxBatchRows,
          s"ordered reducer batch $batchId exceeds maxBatchRows=" +
            s"$maxBatchRows; the per-block fold collects each micro-batch " +
            "to the driver (the reference's single-consumer contract) — " +
            "lower blockStep so batches stay bounded, or raise maxBatchRows")
        rows
          .groupBy(_.getAs[Long]("block_number"))
          .toSeq.sortBy(_._1)
          .foreach { case (block, rws) => reduce(block, rws.toSeq) }
      }
      // default trigger + processAllAvailable (the J3 barrier); the DSv2
      // source also supports Trigger.AvailableNow (chunked drain-and-stop)
      .start()
  }

  /** W1 on an unbounded stream: the identical declarative transform as
    * batch — update/complete mode emits windows as they fill. State grows
    * with the window count; use [[tumblingWindowStreamEvicting]] for the
    * unbounded tail.
    */
  def tumblingWindowStream(stream: DataFrame, from: Long, step: Long): DataFrame =
    graft.operators.EventLog.tumblingWindow(stream, from, step)

  /** W1 with STATE EVICTION — the reference's flush-and-remove
    * (eth_event_stream/src/sink.rs:229-246): block numbers are mapped onto
    * a synthetic event-time axis (1 block = 1 second) and aggregated with
    * Spark's native streaming window under a watermark of `lateBlocks`
    * slack. Append mode emits each window EXACTLY ONCE when the frontier
    * (watermark) passes its end, then drops its state-store rows — state
    * stays bounded by windows-in-flight on an infinite tail, where the
    * complete-mode variant accumulates every window ever seen.
    *
    * Output schema matches the batch `EventLog.tumblingWindow` (window_id,
    * n_events, sum_value, window_from, window_to), so emitted windows are
    * directly comparable to the batch fold over the same blocks.
    */
  def tumblingWindowStreamEvicting(stream: DataFrame, from: Long, step: Long,
      lateBlocks: Long = 0L): DataFrame = {
    require(step >= 1, "step must be >= 1")
    stream
      .filter(col("block_number") >= from)
      .withColumn("block_ts", timestamp_seconds(col("block_number")))
      .withWatermark("block_ts", s"$lateBlocks seconds")
      .groupBy(window(col("block_ts"), s"$step seconds", s"$step seconds",
        s"${java.lang.Math.floorMod(from, step)} seconds"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,2)")).as("sum_value"),
        min("block_number").as("window_from"),
        max("block_number").as("window_to"))
      .select(
        expr(s"(unix_timestamp(window.start) - $from) DIV $step").as("window_id"),
        col("n_events"), col("sum_value"), col("window_from"), col("window_to"))
  }

  /** Flush state of [[flushCells]] — the reference sink's own sync
    * metadata (sink.rs:26-29): `lastFlushed` is its `bottom` (every
    * block at or below it is published), `frontiers` its `source_vals`
    * (per leg, the highest block that leg has closed) and `cells` the
    * open `source → block → (n_events, cents)`. Cents keep the fold
    * exact at 2 dp — the same decimal-exactness contract as the netflow
    * paths.
    */
  final case class FlushState(lastFlushed: Long, frontiers: Map[String, Long],
      cells: Map[String, Map[Long, (Long, Long)]])

  /** J2 on an unbounded stream — the reference's block-aligned
    * `flush_including` (sink.rs:229-246) as a streaming operator: one
    * DENSE `(block_number, source, n_events, sum_value)` row per block ×
    * source cell — EMPTY cells included, the defining J2 semantic —
    * emitted exactly once, by the trigger that reads the chain past the
    * block (one leg: the whole chain, frontier = max block −
    * `lateBlocks`).
    *
    * Every row moves the frontier, registered or not: trailing blocks
    * that carry only unregistered event types still close their cells,
    * and the dense spine agrees with the batch `blockAlign` oracle built
    * over all events. Only rows of a registered source count in a cell.
    * Every registered source is part of the state's emission (the
    * reference's `add_source` registration, sink.rs:175-179), so a
    * source with zero events in the stream still emits its zero cells —
    * no caller-side seeding.
    */
  def flushIncludingStream(stream: DataFrame, sources: Seq[String],
      fromBlock: Long = 0L, lateBlocks: Long = 0L): DataFrame = {
    val withWm = stream
      // +1 like dedupStream: block 0 must not sit AT the epoch
      .withColumn("block_ts", timestamp_seconds(col("block_number") + 1))
      .withWatermark("block_ts", s"$lateBlocks seconds")
      .select(lit("chain").as("leg"),
        when(col("event_type").isin(sources: _*), col("event_type"))
          .as("source"),
        col("block_number"), col("value"), col("block_ts"))
    flushCells(withWm, Seq("chain"), sources, fromBlock, lateBlocks)
  }

  /** J1 × J2 — the reference's defining topology: N INDEPENDENT source
    * streams synced by the MIN frontier (`stream_multi.rs:105-114`;
    * sink.rs:187-197). Each leg is one registered source; its frontier is
    * its own high-water mark (max block − `lateBlocks`), advancing at its
    * own rate, and a block is emitted by the trigger in which the SLOWEST
    * leg's frontier reaches it — never past it, and not one trigger
    * later. At drain the dense spine ends at `min(max block per leg)` —
    * the synced range.
    *
    * Each leg also keeps its own watermark. Under Spark's `min`
    * multi-watermark policy (the default) the global watermark after a
    * trigger is the min frontier + 1, so a late row for an already
    * emitted block is dropped. Any other policy drops the slower leg's
    * rows as late, so this refuses to build under one.
    *
    * Old checkpoints: the flush state is one group per query
    * ([[FlushState]]); checkpoints written by the earlier per-source
    * state (one group per source, keyed by the source string) fail on
    * restart with `STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE`. Start such a
    * query on a fresh checkpoint: the sources replay from their
    * configured start, and the drained cells equal the batch fold.
    */
  def flushIncludingSyncedStream(legs: Seq[(String, DataFrame)],
      fromBlock: Long = 0L, lateBlocks: Long = 0L): DataFrame = {
    require(legs.nonEmpty, "at least one source leg")
    val policyKey = "spark.sql.streaming.multipleWatermarkPolicy"
    val policy = legs.head._2.sparkSession.conf.get(policyKey, "min")
    require(policy.equalsIgnoreCase("min"),
      s"flushIncludingSyncedStream needs $policyKey=min, got '$policy': " +
        "under any other policy Spark drops the slower leg's rows as late " +
        "and the synced cells would be silently wrong")
    val unioned = legs.map { case (source, df) =>
      // each leg's frontier is its OWN high-water mark (sink.rs:26-29),
      // so its rows are the ones that survive the source filter
      df.filter(col("event_type") === source)
        .withColumn("block_ts", timestamp_seconds(col("block_number") + 1))
        .withWatermark("block_ts", s"$lateBlocks seconds")
        .select(col("event_type").as("leg"), col("event_type").as("source"),
          col("block_number"), col("value"), col("block_ts"))
    }.reduce(_ unionByName _)
    flushCells(unioned, legs.map(_._1), legs.map(_._1), fromBlock, lateBlocks)
  }

  /** Shared stateful core of the J2 flush variants. `rows` carries
    * `leg`, `source` (null for a row that counts in no cell),
    * `block_number`, `value` and a watermarked `block_ts` on the block+1
    * axis.
    *
    * Shape: `flatMapGroupsWithState` over ONE group per query holding a
    * [[FlushState]]. Each trigger folds its rows into the cells, moves
    * each leg's frontier to `max(frontier, block − lateBlocks)`, emits
    * the dense cells over `(lastFlushed, min(frontiers)]` for every
    * registered source — empty blocks synthesized as zero cells — and
    * evicts them. So a block is written by the trigger in which the last
    * leg reads it. State is O(open blocks × sources).
    *
    * The watermark closes nothing here. It is kept because the
    * event-time timeout drops rows at or below it as late — after a
    * trigger the (min) watermark is `min(frontiers) + 1`, so a row for an
    * emitted block never reopens its cell (the fold skips them too) —
    * and because Spark runs a no-data trigger after each watermark
    * advance, which `processAllAvailable` callers observe. That trigger
    * emits nothing; no timeout is ever armed.
    *
    * Exactness: values fold as integer CENTS under an ASSERTED 2-dp
    * contract — a value of a registered source with more than 2 decimal
    * places fails the query loudly (`assert_true`) instead of silently
    * rounding into the decimal(18,2) cast. The per-cell Long sum is exact
    * to 2^63; the final `/ 100.0` double is correctly rounded while
    * |sum_cents| ≤ 2^53 (≈ 9e13 cents PER CELL — a per-block-per-source
    * sum never near it; callers folding coarser cells should widen to a
    * decimal state like [[statefulNetflow]]).
    */
  private def flushCells(rows: DataFrame, legs: Seq[String],
      sources: Seq[String], fromBlock: Long, lateBlocks: Long): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val v2 = col("value").cast("decimal(18,2)")
    val cents = (v2 * 100).cast("long") +
      // null (assert passed) coalesces to +0; >2 dp throws mid-batch
      coalesce(
        assert_true(
          // raw-double roundtrip: a ≤2-dp value survives the
          // decimal(18,2) cast bit-exactly, so ANY >2-dp double fails —
          // no detection limit from comparing at a fixed wider scale
          v2.cast("double") === col("value").cast("double"),
          concat(lit("flushIncludingStream: value "),
            col("value").cast("string"),
            lit(" has more than 2 decimal places — the exact-cents fold " +
              "is a 2-dp contract; fold decimal (statefulNetflow) for " +
              "finer scales"))).cast("long"),
        lit(0L))
    val src = rows
      // the watermark column must reach the stateful operator — the
      // event-time-timeout checker rejects a plan whose watermark
      // attribute was projected away before flatMapGroupsWithState.
      // `when` evaluates the cents (and its assert) on counted rows only
      .select(col("leg"), col("source"), col("block_number"),
        when(col("source").isNotNull, cents).as("cents"), col("block_ts"))
      .as[(String, String, Long, Option[Long], java.sql.Timestamp)]
    val distinctSources = sources.distinct
    val seed = FlushState(fromBlock - 1,
      legs.map(_ -> (fromBlock - 1)).toMap, Map.empty)
    src.groupByKey(_ => 0)
      .flatMapGroupsWithState[FlushState, (Long, String, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Int,
            batch: Iterator[(String, String, Long, Option[Long], java.sql.Timestamp)],
            state: GroupState[FlushState]) =>
          val st = state.getOption.getOrElse(seed)
          val frontiers = mutable.HashMap.from(st.frontiers)
          val cells = mutable.HashMap.from(
            st.cells.map { case (s, m) => s -> mutable.HashMap.from(m) })
          batch.foreach { case (leg, source, b, c, _) =>
            frontiers(leg) = math.max(frontiers(leg), b - lateBlocks)
            if (source != null && b > st.lastFlushed) {
              val m = cells.getOrElseUpdate(source, mutable.HashMap.empty)
              val (n, sum) = m.getOrElse(b, (0L, 0L))
              m(b) = (n + 1, sum + c.getOrElse(0L))
            }
          }
          val hi = math.max(st.lastFlushed, legs.map(frontiers).min)
          // ITERATOR, never a materialized Seq: the dense spine is the
          // operator's contract, but a large flush span (fromBlock far
          // below the live range, or one corrupt far-future row moving
          // the frontiers) must stream through the state function, not
          // allocate span-many tuples at once. It reads `cells`, which
          // is never mutated after this point — the eviction below
          // builds the next state's maps instead
          val out = Iterator.iterate(st.lastFlushed + 1)(_ + 1)
            .takeWhile(_ <= hi).flatMap { b =>
              distinctSources.iterator.map { s =>
                val (n, sum) = cells.get(s).flatMap(_.get(b)).getOrElse((0L, 0L))
                (b, s, n, sum)
              }
            }
          state.update(FlushState(hi, frontiers.toMap,
            cells.iterator.map { case (s, m) => s -> m.filter(_._1 > hi).toMap }
              .filter(_._2.nonEmpty).toMap))
          out
      }
      .toDF("block_number", "source", "n_events", "sum_cents")
      // exact-cents ÷ 100.0: both operands exact ⇒ the correctly-rounded
      // double equals the oracle's decimal(18,2) → DOUBLE cast
      .select(col("block_number"), col("source"), col("n_events"),
        (col("sum_cents") / lit(100.0)).as("sum_value"))
  }

  /** W-session on an unbounded stream with STATE EVICTION: per-key
    * session windows over the block axis via Spark's native streaming
    * `session_window` (sessions merge across micro-batches in the state
    * store). Gap semantics match the batch [[graft.operators.EventLog
    * .sessionize]] exactly: batch keeps events in one session while the
    * block gap is ≤ `gapBlocks`; `session_window` merges windows that
    * overlap OR TOUCH (verified: gap == duration still merges), so the
    * duration is exactly `gapBlocks` seconds on the 1-block-=-1-second
    * axis. Append mode emits each session EXACTLY ONCE when the
    * watermark reaches its end (last block + gap; end <= watermark
    * emits — verified at the boundary), then drops its state — bounded
    * by sessions-in-flight on an infinite tail.
    *
    * Output (key, n_events, session_from, session_to) matches the batch
    * operator minus `session_seq` — an ordinal over a stream has no
    * fixed meaning until sessions close; callers can rank closed
    * sessions by `session_from` (closure only withholds the OPEN last
    * session per key, a suffix, so ranks of closed sessions are final).
    */
  def sessionizeStreamEvicting(stream: DataFrame, gapBlocks: Long,
      keyCol: String = "user_id", lateBlocks: Long = 0L): DataFrame = {
    require(gapBlocks >= 1, "gapBlocks must be >= 1 (a window needs duration)")
    stream
      .withColumn("block_ts", timestamp_seconds(col("block_number")))
      .withWatermark("block_ts", s"$lateBlocks seconds")
      .groupBy(col(keyCol),
        session_window(col("block_ts"), s"$gapBlocks seconds"))
      .agg(
        count(lit(1)).as("n_events"),
        min("block_number").as("session_from"),
        max("block_number").as("session_to"))
      .select(col(keyCol), col("n_events"),
        col("session_from"), col("session_to"))
  }

  /** Stream-stream INNER interval join with bounded state: rows of
    * `left` pair with `right` rows of the same `keyCol` whose block lies
    * in `[l.block − lowerBlocks, l.block + upperBlocks]`. Blocks map to
    * the synthetic event-time axis (1 block = 1 second, as everywhere in
    * this engine) and BOTH sides carry watermarks, so Spark's
    * symmetric-hash join evicts buffered rows once the other side's
    * watermark clears the interval bound — state is O(interval × rate),
    * not O(stream), on an infinite tail. Inner-join matches are emitted
    * as they form (append mode), so a drained stream yields exactly the
    * batch join's rows — the parity the oracle checks.
    *
    * Right-side columns come back prefixed with `r_` (a self-join of one
    * logical stream is the common case and the names would collide).
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      lowerBlocks: Long, upperBlocks: Long, keyCol: String = "user_id",
      lateBlocks: Long = 0L): DataFrame = {
    require(lowerBlocks >= 0 && upperBlocks >= 0,
      "interval bounds are non-negative offsets around the left block")
    // +1 like dedupStream: block 0 must not sit AT the epoch — the
    // initial watermark is 0 and buffered rows at-or-below it are
    // discarded as late, which would silently drop block-0 matches.
    // Both sides shift equally, so the interval is unchanged.
    val l = left
      .withColumn("l_ts", timestamp_seconds(col("block_number") + 1))
      .withWatermark("l_ts", s"$lateBlocks seconds")
    val r0 = right.columns.foldLeft(right)(
      (d, c) => d.withColumnRenamed(c, s"r_$c"))
    val r = r0
      .withColumn("r_ts", timestamp_seconds(col("r_block_number") + 1))
      .withWatermark("r_ts", s"$lateBlocks seconds")
    l.join(r,
        col(keyCol) === col(s"r_$keyCol") &&
          col("r_ts") >= col("l_ts") - expr(s"INTERVAL $lowerBlocks SECONDS") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL $upperBlocks SECONDS"))
      .drop("l_ts", "r_ts")
  }

  /** Exact streaming dedup with BOUNDED state: drop rows whose key was
    * already seen within `withinBlocks` of the block frontier. Block
    * numbers map to the synthetic event-time axis (1 block = 1 second,
    * as in the evicting window) and
    * `dropDuplicatesWithinWatermark` evicts a key's dedup state once the
    * watermark passes its horizon — on an infinite tail the state holds
    * only the last `withinBlocks` blocks' keys, where a plain streaming
    * `dropDuplicates` would grow forever. First occurrence is emitted
    * immediately (append); duplicates inside the horizon are dropped
    * exactly.
    */
  def dedupStream(stream: DataFrame, keys: Seq[String],
      withinBlocks: Long): DataFrame =
    stream
      // +1: block 0 must not sit AT the epoch — the initial watermark is
      // epoch 0 and the dedup operator drops records at-or-below it as
      // late, which would silently eat the whole first block
      .withColumn("block_ts", timestamp_seconds(col("block_number") + 1))
      .withWatermark("block_ts", s"$withinBlocks seconds")
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
      .drop("block_ts")

  /** Continuous near-dup ingest — the deployment shape of
    * [[graft.operators.Dedup.incrementalNearDupPairs]]: a document
    * stream drains micro-batch by micro-batch against a PERSISTED
    * MinHash band index that GROWS with the stream. Per epoch:
    *
    *  1. the batch's band rows (row-local) are written to
    *     `appendDir/ingest_batch=<id>` — the index append IS the
    *     signature materialization, nothing is shingled twice;
    *  2. those parquet-backed rows join against (base index ∪ appends
    *     of EARLIER epochs) via [[Dedup.bandedNearDupPairs]] — so a
    *     pair is emitted exactly once, in the later endpoint's epoch,
    *     regardless of how the source carves batches;
    *  3. the pairs land in `pairsDir/ingest_batch=<id>`.
    *
    * Both writes are [[IngestCompaction.writeEpoch]] — the one epoch
    * write [[BlockSink.writeBatch]] also runs: a replayed epoch — crash
    * between the two writes included — deterministically rewrites its
    * own partitions and no others, so the drained result equals the
    * one-shot batch run of `incrementalNearDupPairs` over the whole
    * stream. Epoch-exclusion
    * (`ingest_batch < id`) keeps a replayed epoch's own leftover bands
    * out of its index side, which would otherwise self-pair every doc.
    *
    * Scale: per epoch the only shuffle is the band-bucket join, whose
    * left side is partition-prunable parquet; state lives entirely in
    * the two directories, never in the state store — a year-long ingest
    * holds nothing in memory between epochs. `compactEvery = Some(m)`
    * closes the one growth path that leaves: every m-th epoch folds the
    * committed `ingest_batch` partitions of BOTH directories into
    * `ingest_batch=-1` ([[IngestCompaction.compact]], the fold
    * [[BlockSink.compactBucket]] runs on a sink bucket — crash-safe,
    * auto-recovering inside the micro-batch loop, which is the single
    * maintenance writer; a cadence with no new epoch rewrites nothing),
    * so the per-epoch re-list/re-union of the appends touches a bounded
    * partition count instead of one per epoch ever ingested.
    */
  def nearDupIngestStream(docStream: DataFrame, baseIndexDir: String,
      appendDir: String, pairsDir: String, checkpoint: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.7,
      maxBucketSize: Option[Int] = None,
      compactEvery: Option[Int] = None): StreamingQuery = {
    // resolve the base index ONCE at stream start (like annIngestStream's
    // frozen centroids): the base artifact is immutable by contract, so
    // its file listing (InMemoryFileIndex) must not be redone every
    // micro-batch — at corpus scale that is a full directory walk per
    // epoch for a directory that never changes
    val baseIndex = docStream.sparkSession.read.parquet(baseIndexDir)
      .select("doc_id", "sig", "band_idx", "band_key")
    bandIngestStream(docStream, baseIndex, MinHashIndexCols, appendDir,
      pairsDir, checkpoint, compactEvery,
      graft.operators.Dedup.minHashBandIndex(_, n, numHashes, bands),
      graft.operators.Dedup.bandedNearDupPairs(_, _, minJaccard,
        maxBucketSize))
  }

  /** Continuous IMAGE near-dup ingest — [[nearDupIngestStream]]'s
    * multimodal twin over the dHash band index
    * ([[graft.operators.Multimodal.dHashIncrementalPairs]]' streaming
    * deployment shape): identical epoch/idempotence/compaction contract
    * through the shared skeleton, with the band rows coming from the
    * perceptual-hash kernel and the pair join from
    * [[graft.operators.BandedHamming.incrementalPairJoin]] (optionally
    * under the scaled probed layout — `BandedHamming.autoLayout` of the
    * expected corpus size). `mediaStream` rows are `(doc_id, kind, payload)`;
    * persists are disabled inside epochs (both join sides are the
    * epoch's own parquet), so a year-long ingest caches nothing.
    * `decodePixels = true` routes each batch through the REAL PPM
    * decoder kernel — the base index must use the same kernel.
    */
  def dHashIngestStream(mediaStream: DataFrame, baseIndexDir: String,
      appendDir: String, pairsDir: String, checkpoint: String,
      maxHamming: Int = 6, bands: Int = 0, bandBits: Int = 16,
      headerLen: Int = 3, probeRadius: Int = 0,
      maxBucketSize: Option[Int] = None,
      compactEvery: Option[Int] = None,
      decodePixels: Boolean = false): StreamingQuery = {
    val baseIndex = mediaStream.sparkSession.read.parquet(baseIndexDir)
      .select("doc_id", "bands", "band_idx", "band_key")
    // bands = 0 (default): the layout is the BASE INDEX's — band keys
    // are layout-specific, so arriving batches must hash under the
    // layout the index was built with (the incremental path's
    // self-sizing, resolved ONCE at stream start)
    val (b, bb, pr) = graft.operators.BandedHamming.resolveIndexLayout(
      bands, bandBits, probeRadius, baseIndex)
    bandIngestStream(mediaStream, baseIndex, DHashIndexCols, appendDir,
      pairsDir, checkpoint, compactEvery,
      graft.operators.Multimodal.image(headerLen, decodePixels).rows(_, b, bb),
      graft.operators.BandedHamming.incrementalPairJoin(_, _, maxHamming,
        b, bb, pr, maxBucketSize, storage = None))
  }

  /** Continuous AUDIO near-dup ingest — [[dHashIngestStream]]'s audio
    * twin through the SAME shared skeleton: arriving WAV batches are
    * fingerprinted by the pure-JVM parse kernel
    * ([[graft.operators.Multimodal.audioFingerprintBandRows]]) and
    * joined against the persisted audio band index; identical epoch /
    * idempotence / compaction contract. `bands = 0` (default) derives
    * the layout from the base index at stream start.
    */
  def audioIngestStream(mediaStream: DataFrame, baseIndexDir: String,
      appendDir: String, pairsDir: String, checkpoint: String,
      maxHamming: Int = 6, bands: Int = 0, bandBits: Int = 16,
      probeRadius: Int = 0, maxBucketSize: Option[Int] = None,
      compactEvery: Option[Int] = None): StreamingQuery = {
    val baseIndex = mediaStream.sparkSession.read.parquet(baseIndexDir)
      .select("doc_id", "bands", "band_idx", "band_key")
    val (b, bb, pr) = graft.operators.BandedHamming.resolveIndexLayout(
      bands, bandBits, probeRadius, baseIndex)
    bandIngestStream(mediaStream, baseIndex, DHashIndexCols, appendDir,
      pairsDir, checkpoint, compactEvery,
      graft.operators.Multimodal.Audio.rows(_, b, bb),
      graft.operators.BandedHamming.incrementalPairJoin(_, _, maxHamming,
        b, bb, pr, maxBucketSize, storage = None))
  }

  private val MinHashIndexCols = Seq("doc_id", "sig", "band_idx", "band_key")
  private val DHashIndexCols = Seq("doc_id", "bands", "band_idx", "band_key")

  /** The ingest skeleton every index-append stream runs on (the band
    * indexes and the ANN codes): on the `compactEvery` cadence, fold
    * each directory's committed partitions FIRST ([[IngestCompaction]] —
    * recover+compact run inside `foreachBatch` before the epoch's own
    * work with `upTo = id − 1`, so only committed epochs fold and a
    * replay re-heals idempotently), then run `epoch` on a non-empty
    * batch. `compactions` pairs each directory with the columns its
    * folded files are ordered by.
    */
  private def ingestStream(in: DataFrame, checkpoint: String,
      compactEvery: Option[Int], compactions: Seq[(String, Seq[String])])(
      epoch: (DataFrame, Long) => Unit): StreamingQuery = {
    require(compactEvery.forall(_ >= 1),
      s"compactEvery=$compactEvery must be >= 1 (pass None to disable " +
        "compaction) — a zero cadence would divide by zero mid-stream")
    in.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        compactEvery.filter(m => id > 0 && id % m == 0).foreach { _ =>
          compactions.foreach { case (d, orderCols) =>
            IngestCompaction.recover(batch.sparkSession, d)
            IngestCompaction.compact(batch.sparkSession, d, id - 1,
              orderCols = orderCols)
          }
        }
        if (!batch.isEmpty) epoch(batch, id)
      }
      .start()
  }

  /** Band-index streams (MinHash text, dHash image, audio) on the
    * [[ingestStream]] skeleton: per epoch, write the batch's band rows
    * as the epoch's own `ingest_batch=id` partition, pair them against
    * (base ∪ earlier epochs) and write the pairs likewise.
    */
  private def bandIngestStream(inStream: DataFrame, baseIndex: DataFrame,
      indexCols: Seq[String], appendDir: String, pairsDir: String,
      checkpoint: String, compactEvery: Option[Int],
      bandRowsOf: DataFrame => DataFrame,
      pairsOf: (DataFrame, DataFrame) => DataFrame): StreamingQuery =
    ingestStream(inStream, checkpoint, compactEvery,
      Seq(appendDir -> Seq("band_idx", "band_key"), pairsDir -> Seq("d1", "d2"))) {
      (batch, id) => bandIngestEpoch(batch, baseIndex, indexCols, appendDir,
        pairsDir, id, bandRowsOf, pairsOf)
    }

  /** One epoch of the near-dup ingest, exposed so the replay-idempotence
    * contract is directly drillable: calling this twice with the same
    * `(batch, id)` — the crash-recovery path — rewrites the epoch's own
    * `ingest_batch=id` partitions with identical content and touches no
    * others. The `ingest_batch < id` screen keeps the (possibly
    * leftover) own-epoch bands out of the index side, which would
    * otherwise self-pair every doc of a replayed batch.
    */
  def nearDupIngestEpoch(batch: DataFrame, baseIndexDir: String,
      appendDir: String, pairsDir: String, id: Long,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.7,
      maxBucketSize: Option[Int] = None): Unit =
    nearDupIngestEpoch(batch,
      batch.sparkSession.read.parquet(baseIndexDir)
        .select("doc_id", "sig", "band_idx", "band_key"),
      appendDir, pairsDir, id, n, numHashes, bands, minJaccard,
      maxBucketSize)

  /** [[nearDupIngestEpoch]] over a pre-resolved base index frame — what
    * the stream uses so the immutable base artifact's file listing
    * happens once at stream start, never per micro-batch (the frozen-
    * centroids hoisting pattern applied to the band index).
    */
  def nearDupIngestEpoch(batch: DataFrame, baseIndex: DataFrame,
      appendDir: String, pairsDir: String, id: Long,
      n: Int, numHashes: Int, bands: Int,
      minJaccard: Double,
      maxBucketSize: Option[Int]): Unit =
    bandIngestEpoch(batch, baseIndex, MinHashIndexCols, appendDir,
      pairsDir, id,
      graft.operators.Dedup.minHashBandIndex(_, n, numHashes, bands),
      graft.operators.Dedup.bandedNearDupPairs(_, _, minJaccard,
        maxBucketSize))

  /** One epoch of the IMAGE ingest, exposed for the same replay drill
    * as [[nearDupIngestEpoch]]: calling it twice with the same
    * `(batch, id)` rewrites the epoch's own partitions into the same
    * state and touches no others.
    */
  def dHashIngestEpoch(batch: DataFrame, baseIndexDir: String,
      appendDir: String, pairsDir: String, id: Long,
      maxHamming: Int = 6, bands: Int = 0, bandBits: Int = 16,
      headerLen: Int = 3, probeRadius: Int = 0,
      maxBucketSize: Option[Int] = None,
      decodePixels: Boolean = false): Unit = {
    val baseIndex = batch.sparkSession.read.parquet(baseIndexDir)
      .select("doc_id", "bands", "band_idx", "band_key")
    val (b, bb, pr) = graft.operators.BandedHamming.resolveIndexLayout(
      bands, bandBits, probeRadius, baseIndex)
    bandIngestEpoch(batch, baseIndex,
      DHashIndexCols, appendDir, pairsDir, id,
      graft.operators.Multimodal.image(headerLen, decodePixels).rows(_, b, bb),
      graft.operators.BandedHamming.incrementalPairJoin(_, _, maxHamming,
        b, bb, pr, maxBucketSize, storage = None))
  }

  /** One epoch of either band-index ingest: both writes are
    * [[IngestCompaction.writeEpoch]] — a replayed epoch, crash between
    * the two writes included, deterministically rewrites its own
    * partitions and no others. The `ingest_batch < id` screen
    * keeps a replayed epoch's own leftover bands out of its index
    * side, which would otherwise self-pair every doc.
    */
  private def bandIngestEpoch(batch: DataFrame, baseIndex: DataFrame,
      indexCols: Seq[String], appendDir: String, pairsDir: String,
      id: Long, bandRowsOf: DataFrame => DataFrame,
      pairsOf: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = batch.sparkSession
    IngestCompaction.writeEpoch(bandRowsOf(batch), appendDir, id)
    val appended = spark.read.parquet(appendDir)
    val thisBanded = appended.filter(col("ingest_batch") === id)
      .drop("ingest_batch")
    val older = baseIndex
      .select(indexCols.map(col): _*)
      .unionByName(appended.filter(col("ingest_batch") < id)
        .drop("ingest_batch"))
    IngestCompaction.writeEpoch(pairsOf(older, thisBanded), pairsDir, id)
  }

  /** Streaming ANN index ingest — the PQ mirror of [[nearDupIngestStream]],
    * closing the maintenance triangle the MinHash band index already has
    * (persisted artifact / batch append / streaming append): each
    * micro-batch of new vectors is quantized under the FROZEN quantizer
    * at `indexDir/centroids` and its code rows land as the epoch's own
    * `ingest_batch=id` partition of `appendDir`. The served index is
    * `indexDir/codes ∪ appendDir`; because code rows are row-local and
    * deterministic under frozen centroids, append equals rebuild row for
    * row (the `sim_index_update` contract), so a drained stream leaves an
    * index indistinguishable from a batch rebuild — the gate
    * `stream_ann_ingest` asserts on the SERVED top-k. Retraining the
    * quantizer is by definition a rebuild, exactly as in the batch path.
    *
    * == Codebook-drift observability ==
    *
    * Freezing the quantizer is the contract, but nothing in the write
    * path would otherwise tell an operator WHEN the frozen codebook has
    * gone stale. Every epoch therefore observes
    * `ann_ingest_drift_<epoch>` — `(mean_rel_residual,
    * max_rel_residual, n_vectors)`, the
    * [[graft.operators.Similarity.relResidual]] reconstruction residual
    * relative to vector norm — as a `CollectMetrics` node riding the
    * epoch's own write (no extra job; one compiled codes self-dot per
    * row). Read it from a `QueryExecutionListener` on the session: the
    * epoch write is a batch query inside `foreachBatch`, so that is
    * where Spark surfaces `observedMetrics`.
    *
    * Rebuild-trigger guidance: record the build-time baseline
    * `Similarity.pqDriftStats(spark.read.parquet(s"$indexDir/codes"))`
    * — the identical expression, so the numbers compare directly. The
    * epoch mean rides ABOVE that baseline as the incoming distribution
    * leaves the training distribution, and the PQ approximate-score
    * error grows with it (the asim stage quantizes the residual, so
    * recall@nprobe decays as residual mass grows). A SUSTAINED epoch
    * mean ≥ ~1.5× baseline is the practical retrain point — past it the
    * measured recall dial (PERF.md's √n-nprobe table) no longer
    * predicts served recall. A single spiky epoch (one odd shard) is
    * not — which is why the metric is per-epoch, never cumulative.
    */
  def annIngestStream(vecStream: DataFrame, indexDir: String,
      appendDir: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      compactEvery: Option[Int] = None): StreamingQuery = {
    // load the frozen quantizer ONCE at stream start — per-epoch reloads
    // would re-collect nlist × dim doubles every micro-batch for a
    // codebook that cannot change under this contract
    val centroids = graft.operators.Similarity.loadIvfPqCentroids(
      vecStream.sparkSession, indexDir)
    // list-ordered folded files keep the serving join's nprobe filter
    // row-group-prunable after the fold
    ingestStream(vecStream, checkpoint, compactEvery,
      Seq(appendDir -> Seq("list"))) {
      (batch, id) => annIngestEpoch(batch, centroids, appendDir, id, idCol, vecCol)
    }
  }

  /** One epoch of the ANN ingest, exposed so the replay-idempotence
    * contract is directly drillable (the [[nearDupIngestEpoch]] story):
    * re-running the same `(batch, id)` — crash recovery — dynamically
    * overwrites only the epoch's own `ingest_batch=id` partition with
    * identical content and touches no others.
    */
  def annIngestEpoch(batch: DataFrame, centroids: Array[Array[Double]],
      appendDir: String, id: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    IngestCompaction.writeEpoch(
      graft.operators.Similarity.ivfPqCodeRows(batch, centroids, idCol, vecCol)
        // drift metric rides the epoch write (see annIngestStream's
        // codebook-drift scaladoc); epoch-unique name — replays re-emit
        // under the same name in their own (new) query execution
        .observe(s"ann_ingest_drift_$id",
          avg(graft.operators.Similarity.relResidual).as("mean_rel_residual"),
          max(graft.operators.Similarity.relResidual).as("max_rel_residual"),
          count(lit(1)).as("n_vectors")),
      appendDir, id)

  /** Row shape for [[distributedOrderedReducer]] — the reference's
    * event identity (block, intra-block order key, id, type), i.e. what
    * `reduce_synced_events` hands its reducer per slice
    * (eth_event_stream/src/sink.rs:134-151).
    */
  final case class OrderedEvent(block_number: Long, log_index: Long,
      event_id: Long, event_type: String)

  /** A1/A2 at cluster scale — the DISTRIBUTED twin of
    * [[runOrderedReducer]]: the same per-block ordered-slice fold
    * semantics WITHOUT the driver collect. Each block is one
    * `flatMapGroupsWithState` group (hash-distributed across
    * executors); rows buffer in the state store until the block CLOSES
    * — `block + 1 ≤ watermark`, the point where a late row would be
    * dropped, so the buffered slice is provably complete — then the
    * slice is sorted `(log_index, event_id)` (J4 order, the oracle's
    * tie-break) and handed to `fold` exactly once, after which the
    * group's state is removed. Suffix fan-out (`runSuffixReducer`'s
    * loop) is a plain loop inside the caller's `fold` — the slice is
    * already complete and ordered.
    *
    * What changes vs the driver contract: the reference's reducer is a
    * SINGLE consumer that may carry mutable state ACROSS blocks in
    * block order; `fold` here runs per block on executors, so
    * cross-block driver state is out — per-block results flow back as
    * ROWS (the returned `IterableOnce`), and cross-block aggregation
    * composes downstream as ordinary (stateful) operators. That is the
    * 100 TB shape: state O(open blocks' rows) per executor,
    * watermark-bounded; the driver never sees an event row, and there
    * is no `maxBatchRows` driver-memory cap to configure. StreamingSpec
    * pins result-parity against the driver-collect path on the same
    * chunked replay.
    */
  def distributedOrderedReducer[O](
      stream: DataFrame,
      fold: (Long, Seq[OrderedEvent]) => IterableOnce[O],
      lateBlocks: Long = 0L)(
      implicit outEnc: org.apache.spark.sql.Encoder[O]): Dataset[O] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val src = stream
      // the flush variants' +1 axis: block b is closed once b+1 ≤ watermark
      .withColumn("block_ts", timestamp_seconds(col("block_number") + 1))
      .withWatermark("block_ts", s"$lateBlocks seconds")
      // the watermark column must survive to the stateful operator
      .select(col("block_number"), col("log_index").cast("long"),
        col("event_id"), col("event_type"), col("block_ts"))
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
    src.groupByKey(_._1)
      .flatMapGroupsWithState[Seq[OrderedEvent], O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (block: Long,
            rows: Iterator[(Long, Long, Long, String, java.sql.Timestamp)],
            state: GroupState[Seq[OrderedEvent]]) =>
          val buf = state.getOption.getOrElse(Seq.empty) ++
            rows.map(r => OrderedEvent(r._1, r._2, r._3, r._4))
          val wmSec = state.getCurrentWatermarkMs() / 1000L
          if (block + 1 <= wmSec) {
            // closed: the slice is complete — fold once, free the state
            state.remove()
            fold(block, buf.sortBy(e => (e.log_index, e.event_id))).iterator
          } else {
            state.update(buf)
            // wake on the next watermark advance: timeouts fire only
            // when the watermark moves STRICTLY past the armed
            // timestamp, so arm 1 ms past it — a full second would miss
            // a final one-block advance and never fold the tail block
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
            Iterator.empty
          }
      }
  }

  /** A2 exact driver parity — `reduce_synced_events` hands every per-block
    * SUFFIX slice `events[i..]` to the reducer so it can pattern-match
    * multi-event sequences from each position (sink.rs:134-151, suffix
    * loop :140-148). Built on the ordered driver; the suffix fan-out is
    * driver-side by the reference's own contract.
    */
  def runSuffixReducer(
      stream: DataFrame,
      checkpoint: String,
      reduce: (Long, Seq[Row]) => Unit,
      maxBatchRows: Long = 1L << 22): StreamingQuery =
    runOrderedReducer(stream, checkpoint, (block, rows) => {
      var i = 0
      while (i < rows.size) { reduce(block, rows.drop(i)); i += 1 }
    }, maxBatchRows)

  /** In-memory monitorable state for reducers — the dashboard the flagship
    * example polls from the main thread (stream_multi.rs:118-143).
    *
    * Folds in `BigDecimal` like every other netflow path: an inflow and
    * its cancelling outflow are the SAME binary double negated, so the
    * decimal fold cancels to exactly 0 — no epsilon, no drift from the
    * oracled batch monitor.
    */
  final class NetflowState {
    private val flows = new ConcurrentHashMap[Long, BigDecimal]()
    def add(key: Long, delta: Double): Unit =
      flows.merge(key, BigDecimal(delta), (a, b) => a + b)
    def snapshot: Map[Long, BigDecimal] = {
      import scala.jdk.CollectionConverters._
      flows.asScala.toMap
    }
    /** (tracked keys, positive flows, negative flows) — exact. */
    def counts: (Long, Long, Long) = {
      val s = snapshot
      (s.size.toLong,
        s.count(_._2 > 0).toLong, s.count(_._2 < 0).toLong)
    }
  }
}
