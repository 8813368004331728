package graftbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.RpcLogSource
import graft.streaming.{BlockSink, StreamOps}

/** `synced_hybrid`: the reference's `stream_multi` topology as one
  * streaming query. Two `rpc-logs` legs (one per contract, `address`
  * option) admit at blockStep 1x and 3x, are decoded and tagged, synced by
  * `flushIncludingSyncedStream`, and written by `BlockSink.writeBatch` in
  * `foreachBatch`.
  *
  * Phase 1 (closed loop): a fresh query catches up over a fixed backlog,
  * [[CatchupRuns]] times; catch-up ends when the batch that ran with every
  * leg past the backlog has written. Phase 2 (open loop): the last query
  * keeps running while the head advances at [[Rate]] blocks/s.
  */
object Synced {
  /** Blocks per trigger on the faster leg (the slower admits 3x, as in
    * `j1_frontier_stream`); the backlog is two of its triggers, so a
    * catch-up is a few triggers and per-trigger cost dominates it.
    */
  val Step = 200
  val Backlog = 2 * Step
  /** The tail fills what is left of `--seconds` after phase 1, at [[Rate]]:
    * at least [[MinTail]] blocks (about 20 triggers), at most [[MaxTail]].
    */
  val MinTail = 1000
  val MaxTail = 3000
  /** Tail head rate, blocks/s. A sweep on the 4-vCPU baseline host (one run
    * per rate) gave a queue wait of about half a trigger at 25-100 blocks/s
    * (no queueing) and more than a trigger at 200 and 300: the tail
    * saturates near [[Step]] blocks per ~1.1 s trigger. 50 blocks/s is about
    * half the catch-up throughput and a quarter of that limit, so tail
    * latency measures response time, not queue growth.
    */
  val Rate = 50.0
  /** Percentile of the per-block tail latency reported as `latency_tail_ms`:
    * blocks close a trigger at a time, so the 99th percentile rests on the
    * one or two slowest triggers; the 90th spreads over many.
    */
  val TailPct = 90.0
  val CatchupRuns = 3
  val WarmupRuns = 2
  /** Tail latency limit: a tail block written later than this fails. Fixed
    * at about 3x the tail p90 (2.2-3.0 s) measured on the 4-core baseline
    * host.
    */
  val LimitMs = 8000.0
  /** Chain shape for a tail of `tailBlocks`. */
  def spec(tailBlocks: Int): ChainSpec = ChainSpec(blocks = Backlog + tailBlocks + 10,
    confirmations = 2, cap = 1500, burstProb = 0.002, transferMu = 0.5, memoMu = 0.0)
  def tailBlocks(seconds: Int): Int = math.max(MinTail, math.min(MaxTail, (seconds * Rate).toInt))
  private val Key = "bench_synced"
  private val Confirmations = 2

  final class Running(val sink: String, val writes: ConcurrentHashMap[Long, (Long, Long)]) {
    var q: StreamingQuery = _
    /** Span that owns this query's batches (-1: none): `foreachBatch` runs
      * on the stream thread, outside the span that waits for it.
      */
    @volatile var owner = -1
  }

  private def start(ctx: Ctx, tag: String, owner: Int): Running = {
    import ctx._
    val sess = Backfill.session(spark)
    def leg(addr: String, step: Int) = sess.decodeAll(sess.rawLogFilter(
      spark.readStream.format("graft.sources.RpcLogProvider")
        .option("transport", Key).option("address", addr)
        .option("blockStep", step.toString)
        .option("confirmations", Confirmations.toString).load()))
    val a = leg(Chain.TokenA, Step).select(lit("A").as("event_type"), col("block_number"),
      (col("transfer.value") / 100).cast("double").as("value"))
    val b = leg(Chain.TokenB, 3 * Step).select(lit("B").as("event_type"), col("block_number"),
      (col("memo.amount") / 100).cast("double").as("value"))
    val flushed = StreamOps.flushIncludingSyncedStream(Seq("A" -> a, "B" -> b))
    val r = new Running(dir(s"$tag/sink"), new ConcurrentHashMap[Long, (Long, Long)]())
    r.owner = owner
    r.q = flushed.writeStream
      .option("checkpointLocation", dir(s"$tag/ckpt"))
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (df: DataFrame, id: Long) =>
        val t0 = System.nanoTime()
        tracer.spanUnder("streaming.write_batch", r.owner)(BlockSink.writeBatch(df, id, r.sink))
        r.writes.put(id, (t0, System.nanoTime()))
        ()
      }
      .start()
    r
  }

  private def off(s: String): Long = if (s == null) -1L else s.trim.toLong

  /** Wait until a batch that ran with every leg's start offset ≥ `target`
    * has written (that batch flushed every block ≤ target), or `deadline`.
    */
  private def awaitFrontier(r: Running, target: Long, deadline: Long): Option[Long] = {
    while (System.nanoTime() < deadline) {
      r.q.exception.foreach(e => throw e)
      val done = r.q.recentProgress.find(p => p.sources.forall(s => off(s.startOffset) >= target))
      done.flatMap(p => Option(r.writes.get(p.batchId))) match {
        case Some((_, end)) => return Some(end)
        case None => Thread.sleep(10)
      }
    }
    None
  }

  /** Written cells keyed by (block, source) → (n, sum, ingest batch, copies). */
  private def readSink(ctx: Ctx, sink: String): Map[(Long, String), (Long, Double, Long, Int)] = {
    val rows: Array[Row] =
      if (!new java.io.File(sink).list().exists(_.startsWith("block_bucket="))) Array.empty
      else ctx.spark.read.parquet(sink)
        .select(col("block_number"), col("source"), col("n_events"), col("sum_value"),
          col("ingest_batch").cast("long")).collect()
    rows.groupBy(r => (r.getLong(0), r.getString(1))).map { case (k, rs) =>
      val r = rs.head
      k -> (r.getLong(2), r.getDouble(3), r.getLong(4), rs.length)
    }
  }

  /** Blocks of [0, upTo] whose two cells are missing, wrong or duplicated. */
  def badBlocks(chain: Chain, cells: Map[(Long, String), (Long, Double, Long, Int)],
      upTo: Long): Seq[Long] = {
    val bad = (0L to upTo).filter { b =>
      Seq("A" -> 0, "B" -> 1).exists { case (s, l) =>
        cells.get((b, s)) match {
          case Some((n, v, _, 1)) =>
            n != chain.cellN(l)(b.toInt) || v != chain.cellSum(l)(b.toInt) / 100.0
          case _ => true
        }
      }
    }
    val beyond = cells.keys.map(_._1).filter(_ > upTo).toSeq.distinct
    bad ++ beyond
  }

  def run(ctx: Ctx): Double = {
    import ctx._
    val capacity = tailBlocks(seconds)
    val (chain, renderS) = render(3)(new Chain(seed, spec(capacity)))
    val node = new BenchNode(chain)
    BenchNode.register(Key, node)
    RpcLogSource.registerTransport(Key, new BenchTransport(Key))
    val conf = Confirmations.toLong
    /** Start a fresh query on a backlog ending at `target`; return it and the
      * time from start to the return of the write that closed the backlog.
      */
    def catchUp(tag: String, target: Long): (Running, Double) = {
      node.setFixedHead(target + conf)
      val t0 = System.nanoTime()
      val r = start(ctx, tag, tracer.open)
      val end = awaitFrontier(r, target, t0 + 120L * 1000000000L)
        .getOrElse { r.q.stop(); throw new IllegalStateException(s"$tag: no catch-up") }
      (r, (end - t0) * 1e-9)
    }
    def verifyCatchup(r: Running, target: Long, what: String): Unit = {
      val bad = badBlocks(chain, readSink(ctx, r.sink), target)
      if (bad.nonEmpty) out.fail(s"$what: ${bad.size} bad blocks, first ${bad.min}")
    }

    val target = Backlog - 1L
    // warm-up: full catch-ups through the whole pipeline (the first query
    // of a JVM is several times slower than the ones after it)
    val (_, warmS) = timed {
      for (k <- 1 to WarmupRuns) {
        val (r, _) = catchUp(s"warmup$k", target)
        r.q.stop(); verifyCatchup(r, target, s"warm-up $k")
      }
    }

    beginMeasure()
    node.resetCounters()
    val catchS = collection.mutable.ArrayBuffer.empty[Double]
    val stopped = collection.mutable.ArrayBuffer.empty[Running]
    var live: Running = null
    val measured = collection.mutable.Set.empty[java.util.UUID]
    for (k <- 1 to CatchupRuns) {
      out.attempted += 1
      tracer.span("streaming.catchup") {
        val (r, s) = catchUp(s"catchup$k", target)
        measured += r.q.id
        catchS += s
        if (k < CatchupRuns) { r.q.stop(); stopped += r } else { r.owner = -1; live = r }
      }
    }

    // phase 2: open-loop live tail; block b is due when head ≥ b + conf
    // the tail fills the rest of `--seconds`, never under MinTail blocks
    val tail = math.max(MinTail, math.min(capacity, ((seconds - catchS.sum) * Rate).toInt))
    val t0 = System.nanoTime(); val t0Ms = System.currentTimeMillis()
    val last = target + tail
    tracer.span("streaming.tail") {
      live.owner = tracer.open
      node.startClock(t0, target + conf, Rate, last + conf)
      val tailEnd = t0 + (tail / Rate * 1e9).toLong
      awaitFrontier(live, last, tailEnd + (LimitMs * 1e6).toLong)
      live.q.stop()
    }
    endMeasure()
    out.attempted += tail

    // correctness, after the window: every stopped catch-up, then the live
    // query's sink up to the last block it wrote
    stopped.zipWithIndex.foreach { case (r, i) => verifyCatchup(r, target, s"catch-up ${i + 1}") }
    val cells = readSink(ctx, live.sink)
    val lastWritten = cells.keys.map(_._1).maxOption.getOrElse(-1L)
    val bad = badBlocks(chain, cells, lastWritten).toSet
    if (bad.exists(_ <= target)) out.fail(s"final catch-up: ${bad.count(_ <= target)} bad blocks")
    if (lastWritten > last) out.fail(s"blocks written beyond the tail's last block $last")
    val due = (b: Long) => t0 + ((b - target) / Rate * 1e9).toLong
    var late, wrong = 0
    val lat = ((target + 1) to last).flatMap { b =>
      // a block beyond the last one written was not written in time; one
      // below it that is missing, wrong or duplicated is a spine mismatch
      val ends = if (b > lastWritten || bad(b)) Nil
        else Seq("A", "B").flatMap(s => Option(live.writes.get(cells((b, s))._3))).map(_._2)
      if (b > lastWritten) { late += 1; None }
      else if (ends.size < 2) { wrong += 1; None }
      else Some((ends.max - due(b)) * 1e-6)
    }
    val over = lat.count(_ > LimitMs)
    out.failed += late + wrong + over
    if (wrong > 0) {
      out.correct = false
      out.note(s"FAILED: $wrong tail blocks missing, wrong or duplicated below block $lastWritten")
    }
    if (late > 0) out.note(s"$late tail blocks not written within ${LimitMs.toInt} ms of the tail's end")
    if (over > 0) out.note(s"$over tail blocks over the ${LimitMs.toInt} ms limit")

    // checker self-test: a dropped and a duplicated cell must be rejected
    val someKey = (target / 2, "A")
    if (cells.contains(someKey)) {
      if (badBlocks(chain, cells - someKey, target).isEmpty) out.fail("checker accepted a dropped cell")
      val dup = cells.updated(someKey, cells(someKey).copy(_4 = 2))
      if (badBlocks(chain, dup, target).isEmpty) out.fail("checker accepted a duplicated cell")
    }

    val medCatch = Stats.median(catchS.toSeq)
    out.e2e.put("throughput_per_s", (Backlog / medCatch, "1/s"))
    out.e2e.put("latency_p50_ms", (Stats.pct(lat, 50), "ms"))
    out.e2e.put("latency_tail_ms", (Stats.pct(lat, TailPct), "ms"))
    out.note(f"latency tail: p$TailPct%.0f of ${lat.size} samples")
    out.note(f"catch-up ${catchS.map(s => f"$s%.2f").mkString("/")} s -> ${Backlog / medCatch}%.0f blocks/s; " +
      f"tail n=${lat.size} p50=${Stats.pct(lat, 50)}%.0f ms p90=${Stats.pct(lat, 90)}%.0f ms " +
      f"p99=${Stats.pct(lat, 99)}%.0f ms max=${if (lat.isEmpty) 0.0 else lat.max}%.0f ms " +
      f"min=${if (lat.isEmpty) 0.0 else lat.min}%.0f ms")

    if (traced) {
      // untraced reference: catch-ups with spans off, after the window; the
      // tail is open loop (its wall time is set by the clock), so only the
      // catch-ups are replaced in the window's untraced wall time
      val ref = (1 to 2).map { k =>
        val (r, s) = tracer.untraced(catchUp(s"untraced$k", target))
        r.q.stop(); verifyCatchup(r, target, s"untraced catch-up $k")
        s
      }
      val untracedS = windowS - catchS.sum + CatchupRuns * Stats.median(ref)
      Layers.synced(ctx, node, live, measured.toSet, untracedS, t0Ms, t0, target, last, due)
    }
    renderS + warmS
  }
}
