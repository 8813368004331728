package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's core dataflow operators over a totally-ordered multi-source
  * event log, re-expressed as declarative DataFrame transforms.
  *
  * The reference models a stream as the logs of one `(address, topic0)` pair
  * ordered by `(block_number, log_index)` (reference:
  * eth_event_stream/src/stream.rs:14-30, sink.rs:13-24). The driver's
  * `events` test table plays the raw log role: `event_type` ≈ topic0 (stream
  * signature), `user_id` ≈ address, `event_id` provides the total order. We
  * derive `block_number = event_id div blockSize` and
  * `log_index = event_id mod blockSize`, mirroring the `(u64, u128)` composite
  * key extracted at stream.rs:190-198.
  *
  * Every transform below is a pure `DataFrame => DataFrame`, so Catalyst
  * handles pushdown/pruning and the same code runs under Structured
  * Streaming. Nothing here collects to the driver; all grouping keys are the
  * natural shuffle keys (`block_number`, source, user) that scale by
  * partitioning at 100 TB.
  */
object EventLog {

  /** Blocks-per-`blockSize` event ids. 10 gives multi-row blocks at sf0.001+. */
  val DefaultBlockSize = 10L

  /** Attach the `(block_number, log_index)` composite order key. */
  def withBlockKeys(events: DataFrame, blockSize: Long = DefaultBlockSize): DataFrame =
    events
      .withColumn("block_number", expr(s"event_id DIV $blockSize"))
      .withColumn("log_index", expr(s"event_id % $blockSize"))

  /** Reorg guard — the reference's hard data-quality invariant: any log
    * with `removed=true` (an uncle'd/reorged log resubmitted by the node)
    * ABORTS the stream rather than silently ingesting it (reference:
    * eth_event_stream/src/stream.rs:174-181). Expressed as an
    * `assert_true` INSIDE the filter predicate, so the check is evaluated
    * per-row, distributed, inside codegen — never a driver-side collect —
    * and cannot be pruned as a dead projection. DataFrames without a
    * `removed` column pass through untouched.
    */
  def assertNoRemoved(df: DataFrame): DataFrame =
    if (!df.columns.contains("removed")) df
    else {
      // name the offending row only by columns the frame actually has —
      // caller-supplied raw logs may carry `removed` without the block keys
      val where = Seq("block_number" -> " at block ", "log_index" -> ", log_index ")
        .filter { case (c, _) => df.columns.contains(c) }
        .flatMap { case (c, label) => Seq(lit(label), col(c)) }
      df.filter(
        assert_true(
          col("removed").isNull || !col("removed"),
          concat((lit("removed (reorged) log") +: where) :+
            lit(" — refusing to ingest uncle'd data (stream.rs:174-181)"): _*))
          .isNull)
    }

  /** Reorg quarantine — the permissive twin of [[assertNoRemoved]]: DROP
    * `removed=true` rows instead of aborting. The plain null-safe predicate
    * pushes down to the parquet scan. Use for replays of already-settled
    * history where removed logs are expected noise, not corruption.
    */
  def dropRemoved(df: DataFrame): DataFrame =
    if (!df.columns.contains("removed")) df
    else df.filter(col("removed").isNull || !col("removed"))

  /** P1 — stream-signature row predicate
    * (`log.address == sig.0 && log.topics[0] == sig.1`, reference:
    * sink.rs:38-42). Catalyst pushes this into the parquet scan.
    */
  def signatureFilter(df: DataFrame, eventType: String): DataFrame =
    df.filter(col("event_type") === eventType)

  /** S1/S2 — bounded range scan with source-side pushdown (reference:
    * stream.rs:94-102 `build_filter`, stream.rs:159-183 `get_logs`).
    * `from`/`to` inclusive, matching the reference's range semantics.
    *
    * `block_number` is derived (`event_id DIV blockSize`), which Catalyst
    * cannot push through to the parquet scan — so the equivalent raw-key
    * range `event_id ∈ [from·bs, (to+1)·bs)` is added explicitly and shows
    * up in `PushedFilters` (manual constraint propagation; on a physical
    * block column this is automatic).
    */
  def rangeScan(df: DataFrame, eventTypes: Seq[String], from: Long, to: Long,
      blockSize: Long = DefaultBlockSize): DataFrame =
    df.filter(col("event_type").isin(eventTypes: _*) &&
      col("event_id").between(from * blockSize, (to + 1) * blockSize - 1) &&
      col("block_number").between(from, to))

  /** S3 — historical chunked scan. The reference splits `[from,to]` into
    * `block_step`-sized chunks scanned sequentially (stream.rs:214-226);
    * Spark's analogue is a chunk column that becomes the unit of parallelism
    * (one input partition per chunk on a real source). Returned per-chunk
    * stats make the plan observable/testable.
    */
  def chunkedScanStats(df: DataFrame, blockStep: Long): DataFrame =
    df.groupBy(expr(s"block_number DIV $blockStep").as("chunk_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min("block_number").as("chunk_from"),
        max("block_number").as("chunk_to"))

  /** S5 — hybrid historical/live split. The reference compares the chain head
    * minus a confirmation lag against `to_block` to decide batch vs live
    * (stream.rs:263-301, `need_live` at :273). On bounded data the same
    * decision labels each row by phase.
    */
  def hybridPhases(df: DataFrame, confirmations: Long): DataFrame = {
    val head = df.agg(max("block_number").as("head"))
    df.crossJoin(broadcast(head))
      .withColumn(
        "phase",
        when(col("block_number") <= col("head") - confirmations, lit("historical"))
          .otherwise(lit("live")))
      .groupBy(col("phase"))
      .agg(
        count(lit(1)).as("n_events"),
        min("block_number").as("from_block"),
        max("block_number").as("to_block"))
  }

  /** J1 — min-watermark synchronization. The global synchronized frontier is
    * the `min` over per-source high-water marks (reference: sink.rs:187-197,
    * update path :266-277 keeps per-source `max`). A two-level aggregation:
    * partial max per source (map-side combinable) then a global min — no
    * wide shuffle beyond one row per source.
    */
  def frontier(df: DataFrame, sourceCol: String = "event_type"): DataFrame =
    highWaterMarks(df, sourceCol).agg(min("high_water").as("frontier"))

  /** Per-source high-water marks (the sink's `source_vals`, sink.rs:26-29). */
  def highWaterMarks(df: DataFrame, sourceCol: String = "event_type"): DataFrame =
    df.groupBy(col(sourceCol).as("source"))
      .agg(max("block_number").as("high_water"))

  /** J1 with the registered-source registry: `synced_including` returns
    * `None` until EVERY registered source has advanced (reference:
    * sink.rs:187-197 — a source still at `from_block` blocks the frontier).
    * A registered source absent from the data ⇒ zero-row result (= `None`).
    */
  def frontierOf(df: DataFrame, registered: Seq[String],
      sourceCol: String = "event_type"): DataFrame =
    frontierFromProgress(
      highWaterMarks(df, sourceCol), registered, "source", "high_water")

  /** J1 from scan-progress metadata rather than data presence: the
    * reference advances a source's high-water mark with an explicit
    * `end_block` even for EMPTY ranges (`put_multiple`, sink.rs:253-263) —
    * so the frontier must come from completed-range records, not from rows
    * (SURVEY §7.4). `progress` rows: `(source, end_block)` per completed
    * scan range; zero-event ranges still contribute.
    */
  def frontierFromProgress(progress: DataFrame, registered: Seq[String],
      sourceCol: String = "source",
      endBlockCol: String = "end_block"): DataFrame = {
    val spark = progress.sparkSession
    import spark.implicits._
    val reg = registered.distinct
    reg.toDF("source")
      .join(
        progress.groupBy(col(sourceCol).as("source"))
          .agg(max(endBlockCol).as("high_water")),
        Seq("source"), "left")
      .agg(min("high_water").as("frontier"),
        count("high_water").as("n_synced"))
      .filter(col("n_synced") === reg.size)
      .select("frontier")
  }

  /** J2 at event granularity — `flush_including` parity: for every
    * `(block, source)` cell in `[bottom, target]` × registered sources, the
    * intra-block-ordered event payloads, **empty arrays for absent cells**
    * (reference: sink.rs:216-249, empty insert :237-240). `payloadCols` are
    * carried per event; ordering comes from `sort_array` on the leading
    * `log_index` struct field — sorting happens inside each group, never a
    * global sort, so the transform scales with block parallelism.
    */
  def flushIncluding(
      df: DataFrame,
      sources: Seq[String],
      bottom: Long,
      target: Long,
      payloadCols: Seq[String],
      sourceCol: String = "event_type"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val spine = spark.range(1).select(
        explode(sequence(lit(bottom), lit(target))).as("block_number"))
      .crossJoin(sources.toDF("source"))
    val evStruct = struct((col("log_index") +: payloadCols.map(col)): _*)
    val grouped = df
      .filter(col("block_number").between(bottom, target))
      .groupBy(col("block_number"), col(sourceCol).as("source"))
      .agg(sort_array(collect_list(evStruct)).as("events"))
    spine.join(grouped, Seq("block_number", "source"), "left")
      .select(col("block_number"), col("source"),
        coalesce(col("events"), array().cast(grouped.schema("events").dataType))
          .as("events"))
  }

  /** J2 — block-aligned full-outer alignment. For every block in
    * `[bottom, target]` and every registered source, emit the (possibly
    * empty) group — the reference materializes empty vectors for absent
    * sources (sink.rs:216-249, empty insert :237-240). SQL `GROUP BY` drops
    * empty groups, so we synthesize the dense block × source spine with
    * `sequence()` and left-join the real aggregates (SURVEY §7.4).
    *
    * `sources` is passed explicitly (the sink knows its registered sources
    * up front via `add_source`, sink.rs:175-179) so a source with zero rows
    * anywhere still appears.
    */
  def blockAlign(
      df: DataFrame,
      sources: Seq[String],
      bottom: Long,
      target: Long,
      sourceCol: String = "event_type"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val spine = spark.range(1).select(
        explode(sequence(lit(bottom), lit(target))).as("block_number"))
      .crossJoin(sources.toDF("source"))
    val groups = df
      .filter(col("block_number").between(bottom, target))
      .groupBy(col("block_number"), col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,2)")).as("sum_value"))
    // spine is tiny (blocks × sources) relative to data ⇒ broadcastable side
    // is the spine, but left join must keep spine rows: broadcast the groups
    // side only when safe; AQE picks the strategy otherwise.
    spine.join(groups, Seq("block_number", "source"), "left")
      .select(
        col("block_number"), col("source"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sum_value"), lit(BigDecimal(0)).cast("decimal(38,2)"))
          .as("sum_value"))
  }

  /** J4 — ordered k-way merge: union N signature streams and restore the
    * total intra-block order by `log_index` (reference: sink.rs:103-122,
    * sort at :118-119). Order is materialized as an explicit rank so the
    * result is order-insensitive-comparable: ranking partitions by block —
    * never a global sort — so it scales with block-count parallelism.
    */
  def orderedMerge(streams: Seq[DataFrame],
      orderCols: Seq[String] = Seq("log_index", "event_id")): DataFrame = {
    val unioned = streams.reduce(_.unionByName(_))
    unioned.withColumn(
      "pos_in_block",
      row_number().over(
        Window.partitionBy(col("block_number"))
          .orderBy(orderCols.map(col): _*)))
  }

  /** W1 — tumbling block windows of `step` blocks starting at `from`
    * (reference: sink.rs:58-81). The reference has an off-by-one and an
    * operator-precedence bug in its remainder handling (SURVEY §2.4 W1);
    * this is the intended exact tumbling semantics.
    */
  def tumblingWindow(df: DataFrame, from: Long, step: Long): DataFrame = {
    require(step >= 1, "step must be >= 1") // reference panics too (sink.rs:68-70)
    df.filter(col("block_number") >= from)
      .groupBy(expr(s"(block_number - $from) DIV $step").as("window_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,2)")).as("sum_value"),
        min("block_number").as("window_from"),
        max("block_number").as("window_to"))
  }

  /** Shared window-coverage explosion for the sliding-window family:
    * block b (relative: q·slide + r) is covered by windows q−j for
    * j = 0..min(q, (size−1−r) div slide); r > size−1 ⇔ in a gap (only
    * possible when slide > size). Non-negative index arithmetic only
    * (DIV truncation vs floor agree solely on non-negatives) — one
    * implementation so [[slidingWindow]] and [[regexPatternWindow]] can
    * never diverge on the coverage math.
    */
  private def explodeToSlidingWindows(df: DataFrame, from: Long,
      size: Long, slide: Long): DataFrame = {
    require(size >= 1 && slide >= 1)
    val q = expr(s"(block_number - $from) DIV $slide")
    val r = expr(s"(block_number - $from) % $slide")
    val jmax = expr(s"($size - 1 - ((block_number - $from) % $slide)) DIV $slide")
    df.filter(col("block_number") >= from && r <= size - 1)
      .withColumn("window_id", explode(sequence(q - least(q, jmax), q)))
  }

  /** Per-block first-letter sequence string in the given total order —
    * the shared aggregation of the regex matchers ([[regexPattern]],
    * [[regexPatternWindow]]): events concatenate to one char each inside
    * a bounded group, never a corpus-wide sort.
    */
  private def seqStringAgg(grouped: org.apache.spark.sql.RelationalGroupedDataset,
      orderCols: Seq[String]): DataFrame =
    grouped.agg(concat_ws("",
      transform(
        array_sort(collect_list(struct(
          orderCols.map(col) :+ substring(col("event_type"), 1, 1).as("c"): _*))),
        x => x.getField("c"))).as("__seq"))

  /** W1 extension — SLIDING block windows of `size` blocks every `slide`
    * blocks starting at `from` (the reference has only tumbling; overlap
    * comes free declaratively). Each block explodes into the ≤⌈size/slide⌉
    * windows covering it, then one aggregation per window — the explode
    * factor is the overlap ratio, bounded and row-local. All index
    * arithmetic keeps numerators non-negative: integral division
    * truncates toward zero in Spark but floors in some engines
    * (DuckDB `//`), and the two only agree on non-negatives.
    */
  def slidingWindow(df: DataFrame, from: Long, size: Long, slide: Long): DataFrame = {
    explodeToSlidingWindows(df, from, size, slide)
      .groupBy(col("window_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,2)")).as("sum_value"),
        min("block_number").as("window_from"),
        max("block_number").as("window_to"))
  }

  /** Session windows over the block axis: per key, consecutive events
    * belong to one session until a gap of more than `gapBlocks` blocks;
    * the classic lag + running-sum-of-boundaries construction, windowed
    * BY KEY (a per-user timeline is small; the partition count is the
    * key cardinality — never a global sort). Session ids are
    * `(key, session_seq)` with per-session stats.
    */
  def sessionize(df: DataFrame, gapBlocks: Long,
      keyCol: String = "user_id"): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol))
      .orderBy(col("block_number"), col("log_index"), col("event_id"))
    val newSession = when(
      col("block_number") - lag(col("block_number"), 1).over(byKey)
        > gapBlocks, 1L).otherwise(0L)
    df.withColumn("session_seq",
        sum(newSession).over(byKey.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(keyCol), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min("block_number").as("session_from"),
        max("block_number").as("session_to"))
  }

  /** Explode interval rows to the fixed-width buckets they overlap.
    * Integer DIV, not floor(double /): block numbers are longs and a
    * double quotient loses precision past 2^53. One corrupt interval
    * spanning millions of buckets would otherwise materialize a
    * million-element array per row and OOM the executor — that fails
    * LOUDLY with the operator's name and the offending span instead.
    */
  private val MaxBucketsPerInterval = 1L << 20

  private def bucketSpan(df: DataFrame, startCol: String, endCol: String,
      width: Long): DataFrame = {
    require(!df.columns.contains("__bucket"),
      "the interval join reserves the __bucket column name; rename it")
    val (b0, b1) = (expr(s"$startCol DIV $width"), expr(s"$endCol DIV $width"))
    df.filter(col(startCol) <= col(endCol))
      .withColumn("__bucket", explode(sequence(b0,
        when(b1 - b0 >= MaxBucketsPerInterval, raise_error(concat(
          lit(s"interval join: span exceeds $MaxBucketsPerInterval buckets " +
            s"at bucketWidth=$width — raise bucketWidth or clean the span ["),
          col(startCol).cast("string"), lit(","),
          col(endCol).cast("string"), lit("]")))).otherwise(b1))))
  }

  /** Interval (range) join — pair every left "point" row with the right
    * interval rows whose `[startCol, endCol]` contain it (inclusive,
    * non-negative domain). Spark has no native interval join: a raw
    * `p BETWEEN s AND e` join condition plans as
    * BroadcastNestedLoopJoin — O(|points|·|intervals|) work and a driver
    * OOM once the interval side outgrows a broadcast. This composes the
    * classic bucketized shape instead: each interval EXPLODES to the
    * fixed-width buckets it overlaps, each point maps to exactly ONE
    * bucket, and the join is a plain shuffled equi-join on the bucket
    * key with the exact BETWEEN as a residual filter. A matching
    * (point, interval) pair meets in exactly one bucket — the point's —
    * so no post-join dedup is needed. Shuffle volume is
    * |points| + Σ(span/width) interval replicas; pick `bucketWidth`
    * near the typical interval length (wider = fewer replicas, narrower
    * = fewer false candidates per bucket). Both input relations keep
    * their columns; callers alias clashing names before the join
    * (`__bucket` itself is reserved and rejected).
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame,
      pointCol: String, startCol: String, endCol: String,
      bucketWidth: Long = 64L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be positive")
    require(!points.columns.contains("__bucket"),
      "the interval join reserves the __bucket column name; rename it")
    val pb = points.withColumn("__bucket",
      expr(s"$pointCol DIV $bucketWidth"))
    pb.join(bucketSpan(intervals, startCol, endCol, bucketWidth),
        Seq("__bucket"))
      .filter(col(pointCol) >= col(startCol) && col(pointCol) <= col(endCol))
      .drop("__bucket")
  }

  /** Interval OVERLAP join — pair left/right interval rows whose spans
    * intersect (`s1 <= e2 && s2 <= e1`, inclusive, non-negative domain).
    * Same bucketized scheme as [[rangeJoin]], plus a dedup-free meet
    * rule: both sides explode to their overlapped buckets, and a
    * candidate pair is accepted only in the bucket of
    * `max(start1, start2)` — `floor` is monotone, so that bucket is
    * `greatest(s1 DIV w, s2 DIV w)`, it lies inside BOTH intervals
    * whenever they overlap, and it is unique per pair: every overlapping
    * pair matches exactly once with no post-join `dropDuplicates`
    * shuffle. Callers alias clashing column names before the join
    * (`__bucket` itself is reserved and rejected).
    */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
      leftStart: String, leftEnd: String,
      rightStart: String, rightEnd: String,
      bucketWidth: Long = 64L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be positive")
    bucketSpan(left, leftStart, leftEnd, bucketWidth)
      .join(bucketSpan(right, rightStart, rightEnd, bucketWidth),
        Seq("__bucket"))
      .filter(col(leftStart) <= col(rightEnd) &&
        col(rightStart) <= col(leftEnd) &&
        col("__bucket") === greatest(
          expr(s"$leftStart DIV $bucketWidth"),
          expr(s"$rightStart DIV $bucketWidth")))
      .drop("__bucket")
  }

  /** W2 — per-block stepping with per-source event groups (reference:
    * sink.rs:84-98): one row per block, one column per registered source.
    */
  def perBlockBySource(df: DataFrame, sources: Seq[String],
      sourceCol: String = "event_type"): DataFrame = {
    val aggs = sources.map(s =>
      count(when(col(sourceCol) === s, 1)).as(s"n_$s"))
    df.groupBy(col("block_number")).agg(aggs.head, aggs.tail: _*)
  }

  /** A2 — suffix-slice sequence-pattern matching. The reference hands every
    * per-block ordered suffix `events[i..]` to each reducer so it can match
    * multi-event patterns like `[first, second, ..]`
    * (reference: sink.rs:134-151, suffix loop :140-148). The declarative
    * equivalent for 2-event patterns is `lead()` over the intra-block order
    * — each row sees the head of its own suffix — which stays inside
    * whole-stage codegen instead of materializing N² suffixes.
    */
  def adjacentPattern(df: DataFrame, first: String, second: String): DataFrame =
    // the 2-element case of the generalized matcher — one window
    // implementation, so the order key can never silently diverge
    sequencePattern(df, Seq(first, second))

  /** A2 generalized — k-event consecutive sequence pattern: count, per
    * block, the positions whose next k−1 events (in intra-block order)
    * match `pattern` exactly. `lead()` over the block window gives every
    * row the head of its own suffix slice (sink.rs:140-148) without
    * materializing N² suffixes.
    */
  def sequencePattern(df: DataFrame, pattern: Seq[String],
      orderCols: Seq[String] = Seq("log_index", "event_id")): DataFrame = {
    require(pattern.nonEmpty, "pattern must not be empty")
    val w = Window.partitionBy(col("block_number"))
      .orderBy(orderCols.map(col): _*)
    val conds = pattern.zipWithIndex.map { case (p, i) =>
      if (i == 0) col("event_type") === p
      else lead(col("event_type"), i).over(w) === p
    }
    df.withColumn("seq_match", conds.reduce(_ && _))
      .filter(col("seq_match"))
      .groupBy(col("block_number"))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** A2 generalized to a REGEX over the per-block type sequence — the
    * suffix-slice matcher (sink.rs:134-151) extended from fixed
    * adjacency to arbitrary patterns (quantifiers, alternation): each
    * event contributes one character (the first letter of its type —
    * distinct across the registered sources), the block's events
    * concatenate in the (log_index, event_id) total order, and
    * `regexp_count` counts non-overlapping leftmost matches. One
    * aggregation shuffle (the per-block collect is the J2 flush-cell
    * shape — blocks are bounded, never corpus-sized groups) and the
    * regex scan runs per block inside the engine, never a driver loop.
    */
  def regexPattern(df: DataFrame, pattern: String,
      orderCols: Seq[String] = Seq("log_index", "event_id")): DataFrame =
    seqStringAgg(df.groupBy(col("block_number")), orderCols)
      .select(col("block_number"),
        regexp_count(col("__seq"), lit(pattern)).cast("bigint").as("n_matches"))
      .filter(col("n_matches") > 0)

  /** A2 across BLOCK BOUNDARIES — the regex matcher widened from the
    * reference's per-block suffix scope to a SLIDING `size`-block
    * sequence every `slide` blocks: real monitoring patterns span
    * blocks (a `v+c` whose views close one block and whose click opens
    * the next never matches per-block). Same machinery as
    * [[slidingWindow]] (each event explodes into its ≤⌈size/slide⌉
    * covering windows — bounded, row-local fanout) composed with the
    * [[regexPattern]] aggregation; the per-window order key grows a
    * leading `block_number` so cross-block concatenation follows the
    * J4 total order. Groups are window-bounded (size × per-block rate),
    * never corpus-sized, and the regex scan stays inside the engine.
    */
  def regexPatternWindow(df: DataFrame, pattern: String, from: Long,
      size: Long, slide: Long,
      orderCols: Seq[String] = Seq("log_index", "event_id")): DataFrame = {
    seqStringAgg(
        explodeToSlidingWindows(df, from, size, slide)
          .groupBy(col("window_id")),
        "block_number" +: orderCols)
      .select(col("window_id"),
        regexp_count(col("__seq"), lit(pattern)).cast("bigint").as("n_matches"))
      .filter(col("n_matches") > 0)
  }

  /** Signed netflow delta of one event — shared by the direct and salted
    * folds so the two can never drift apart semantically. Each element
    * fits decimal(18,2); the cast goes straight to decimal(38,2) so the
    * SUM accumulates at max precision — a 100 TB fold over 18,2 elements
    * would sum in decimal(28,2) and can overflow past 1e26, which Spark
    * silently nulls under default (non-ANSI) conf. 38,2 gives 1e36 of
    * headroom and the fold stays exact and order-insensitive.
    */
  private def netflowDelta(inflowType: String): Column =
    when(col("event_type") === inflowType, col("value").cast("decimal(38,2)"))
      .otherwise(-col("value").cast("decimal(38,2)"))

  /** A3 — the reference's flagship netflow aggregate
    * (eth_event_stream/examples/stream_multi.rs:33-70): outflow events
    * subtract `value` from the key, inflow events add it. Decimal keeps the
    * fold order-insensitive and exactly mergeable across partitions —
    * map-side partial aggregation applies, one shuffle on the key.
    */
  def netflow(df: DataFrame, inflowType: String, outflowType: String,
      keyCol: String = "user_id"): DataFrame =
    df.filter(col("event_type").isin(inflowType, outflowType))
      .groupBy(col(keyCol))
      .agg(sum(netflowDelta(inflowType)).as("netflow"))

  /** Skew guard for hot keys: two-phase salted aggregation. Phase 1 groups
    * by `(key, salt)` — a hot key's rows spread over `saltBuckets` reducers
    * — phase 2 merges the partials per key. For algebraic aggregates
    * (sum/count here) the result is identical to the direct groupBy; use
    * when one key dominates (AQE's skew-join handles joins, this handles
    * aggregations).
    */
  def saltedNetflow(df: DataFrame, inflowType: String, outflowType: String,
      keyCol: String = "user_id", saltBuckets: Int = 16): DataFrame = {
    require(saltBuckets >= 1)
    df.filter(col("event_type").isin(inflowType, outflowType))
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(saltBuckets)))
      .groupBy(col(keyCol), col("salt"))
      .agg(sum(netflowDelta(inflowType)).as("partial"))
      .groupBy(col(keyCol))
      .agg(sum(col("partial")).as("netflow"))
  }

  /** A3 monitor — the derived dashboard counts the flagship example polls
    * (stream_multi.rs:118-143): tracked keys, positive flows, negative flows.
    */
  def netflowMonitor(netflows: DataFrame, keyCol: String = "user_id"): DataFrame =
    netflows.agg(
      count(col(keyCol)).as("n_addresses"),
      count(when(col("netflow") > 0, 1)).as("n_positive"),
      count(when(col("netflow") < 0, 1)).as("n_negative"))

  /** As-of join (extension — no reference counterpart): attach to every
    * left event the MOST RECENT right event at-or-before it in the log's
    * total order, per key — "state as of this event" (price at trade time,
    * last balance before a transfer). The natural lookup over a
    * totally-ordered event log once two signatures are synced (J1/J4).
    *
    * Spark-first shape: an inequality join would plan as a broadcast
    * nested loop (quadratic per key); a per-row subquery doesn't
    * distribute at all. Instead both sides UNION into one stream tagged
    * by side, and a single key-partitioned window ordered on the total
    * order carries the latest right payload forward (`last(...,
    * ignoreNulls)`) to each left row. ONE shuffle on the key, a linear
    * sorted scan within partitions — the same shape as sessionize, so it
    * survives 100× scale the same way. Ties on `orderCol` (impossible for
    * event_id, defensive otherwise) resolve right-before-left, i.e.
    * at-or-before semantics, matching DuckDB's `ASOF JOIN ... ON l.o >= r.o`.
    *
    * NULL keys match SQL ASOF equality: a null-keyed LEFT row passes
    * through unmatched (it still flows out — this is a left join), and a
    * null-keyed RIGHT row matches nothing. `Window.partitionBy` would
    * otherwise group all null keys into ONE partition and match them to
    * each other, so null-keyed right rows are dropped before the union —
    * the null-key window partition then holds only left rows with a null
    * carry, which is exactly "unmatched".
    */
  def asofJoin(left: DataFrame, right: DataFrame,
      keyCol: String = "user_id", orderCol: String = "event_id",
      rightPayload: Seq[String] = Seq("value"),
      matchedPrefix: String = "matched_"): DataFrame = {
    val leftCols = left.columns.toSeq
    val payload = struct(
      (col(orderCol).as(s"$matchedPrefix$orderCol") +:
        rightPayload.map(c => col(c).as(s"$matchedPrefix$c"))): _*)
    val l = left.select(col(keyCol).as("__k"), col(orderCol).as("__o"),
      lit(1).as("__side"), lit(null).cast(
        right.select(payload).schema.head.dataType).as("__asof"),
      struct(leftCols.map(col): _*).as("__row"))
    val r = right.filter(col(keyCol).isNotNull)
      .select(col(keyCol).as("__k"), col(orderCol).as("__o"),
        lit(0).as("__side"), payload.as("__asof"),
        lit(null).cast(l.schema("__row").dataType).as("__row"))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__o"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__m", last(col("__asof"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(c => col(s"__row.$c").as(c)) ++
        (s"$matchedPrefix$orderCol" +: rightPayload.map(matchedPrefix + _))
          .map(c => col(s"__m.$c").as(c)): _*)
  }
}
