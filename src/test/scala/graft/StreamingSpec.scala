package graft


import org.apache.spark.sql.GraftSessionShim.{privateSession, rebind}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventLog
import graft.streaming.{StateBackend, StreamOps}

/** Streaming layer on the sf0.001 events fixture: replay-source semantics
  * (confirmation lag, block_step chunking, bounded ranges), barrier, and
  * batch↔stream equivalence of the reducers.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val path = "/root/testdata/sf0.001/events.parquet"

  private lazy val batchEvents =
    EventLog.withBlockKeys(spark.read.parquet(path)).cache()
  private lazy val headBlock: Long =
    batchEvents.agg(max("block_number")).head().getLong(0)

  private def tmp(): String = TestSpark.tempDir("graft-stream")

  private def dataFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten.flatMap(f =>
      if (f.isDirectory && !f.getName.startsWith(".")) dataFiles(f.getPath)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil).sortBy(_.getPath)

  test("replay source honors confirmation lag and block_step chunking") {
    val stream = StreamOps.readBlockStream(spark, path,
      blockStep = 10L, confirmations = 2L)
    val q = stream.writeStream.format("memory").queryName("replay_all")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("replay_all")
    val expected = batchEvents.filter(col("block_number") <= headBlock - 2)
    assert(got.count() == expected.count())
    assert(got.agg(max("block_number")).head().getLong(0) == headBlock - 2)
    // chunking: ≥ range/blockStep micro-batches were planned
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
  }

  test("replay source clamps to toBlock (bounded range, stream.rs:252-254)") {
    val stream = StreamOps.readBlockStream(spark, path,
      blockStep = 50L, confirmations = 2L, fromBlock = 10L, toBlock = Some(40L))
    val q = stream.writeStream.format("memory").queryName("replay_bounded")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("replay_bounded")
    val expected = batchEvents.filter(col("block_number").between(10L, 40L))
    assert(got.count() == expected.count())
    val mm = got.agg(min("block_number"), max("block_number")).head()
    assert((mm.getLong(0), mm.getLong(1)) == ((10L, 40L)))
  }

  test("Trigger.AvailableNow drains all chunks then stops (DSv2 admission control)") {
    val stream = StreamOps.readBlockStream(spark, path,
      blockStep = 20L, confirmations = 2L)
    val q = stream.writeStream.format("memory").queryName("replay_avail_now")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", tmp()).start()
    // AvailableNow terminates by itself once the snapshotted head is drained
    assert(q.awaitTermination(120000), "AvailableNow query did not terminate")
    val got = spark.table("replay_avail_now")
    val expected = batchEvents.filter(col("block_number") <= headBlock - 2)
    assert(got.count() == expected.count())
    assert(got.agg(max("block_number")).head().getLong(0) == headBlock - 2)
    // drained in blockStep-sized chunks, not one snapshot batch
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
  }

  test("streaming netflow aggregate equals the batch fold (J3 barrier)") {
    val stream = StreamOps.readBlockStream(spark, path,
      blockStep = 25L, confirmations = 0L)
    val nf = StreamOps.netflowStream(stream, "purchase", "click")
    val q = nf.writeStream.format("memory").queryName("nf_complete")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop() // J3: wait_until_included
    val streamed = spark.table("nf_complete")
      .select($"user_id", $"netflow".cast("double"))
      .as[(Long, Double)].collect().toMap
    val batch = EventLog.netflow(batchEvents, "purchase", "click")
      .select($"user_id", $"netflow".cast("double"))
      .as[(Long, Double)].collect().toMap
    assert(streamed == batch)
  }

  test("streaming decodeAll equals the batch routed projection (P2/S8)") {
    // the one-pass multi-schema decode over the replay stream must emit
    // exactly the batch rows — decodeAll is stateless, so Append mode
    // and micro-batching cannot change the result set
    val sf = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"block_number", $"log_index", $"event_name",
        $"t_value", $"a_spent")
      .as[(Long, Long, String, Option[Long], Option[Long])].collect().toSet
    val batch = rows(SparkEntry.queries("p2_decode_multi")(spark, sf))
    val streamed = rows(SparkEntry.queries("p2_decode_multi_stream")(spark, sf))
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("mapGroupsWithState netflow converges to the batch result") {
    val stream = StreamOps.readBlockStream(spark, path,
      blockStep = 25L, confirmations = 0L)
    val nf = StreamOps.statefulNetflow(stream, "purchase", "click")
      .toDF("user_id", "netflow")
    val q = nf.writeStream.format("memory").queryName("nf_state")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    // last update per key = final state; the decimal fold must be
    // BIT-IDENTICAL to the batch decimal(38,2) netflow — cancelled
    // flows read exactly 0, never the double fold's ±1e-9
    val streamed = spark.table("nf_state")
      .groupBy($"user_id")
      .agg(last($"netflow").cast("decimal(38,2)").as("netflow"))
      .as[(Long, BigDecimal)].collect().toMap
    val batch = EventLog.netflow(batchEvents, "purchase", "click")
      .select($"user_id", $"netflow".cast("decimal(38,2)"))
      .as[(Long, BigDecimal)].collect().toMap
    assert(streamed == batch)
  }

  test("live tail: appended blocks are picked up by later triggers (S4/S6)") {
    val dir = tmp()
    val phase1 = batchEvents.filter($"block_number" < 40L)
    val phase2 = batchEvents.filter($"block_number".between(40L, 80L))
    phase1.write.mode("overwrite").parquet(dir + "/data")
    val stream = StreamOps.readBlockStream(spark, dir + "/data",
      blockStep = 15L, confirmations = 2L)
    val q = stream.writeStream.format("memory").queryName("tail_test")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      val afterPhase1 = spark.table("tail_test")
        .agg(max("block_number")).head().getLong(0)
      assert(afterPhase1 == 37L) // head 39 − confirmations 2
      // the chain advances: append new blocks, same directory
      phase2.write.mode("append").parquet(dir + "/data")
      q.processAllAvailable()
      val afterPhase2 = spark.table("tail_test")
        .agg(max("block_number")).head().getLong(0)
      assert(afterPhase2 == 78L) // new head 80 − 2
      // exactly-once: no block ingested twice
      val dupes = spark.table("tail_test")
        .groupBy("event_id").count().filter($"count" > 1).count()
      assert(dupes == 0L)
    } finally q.stop()
  }

  test("frontier from progress records: empty ranges still advance (J1)") {
    // source b scanned through block 9 but found NOTHING — the reference
    // still advances its high-water mark via the explicit end_block
    val progress = Seq(("a", 5L), ("a", 12L), ("b", 9L))
      .toDF("source", "end_block")
    val f = EventLog.frontierFromProgress(progress, Seq("a", "b"))
      .as[Long].collect()
    assert(f.toSeq == Seq(9L))
    // a registered source with no completed range at all ⇒ None
    val partial = Seq(("a", 5L)).toDF("source", "end_block")
    assert(EventLog.frontierFromProgress(partial, Seq("a", "b")).count() == 0)
  }

  test("streaming tumbling window equals the batch windows (W1)") {
    val stream = StreamOps.readBlockStream(spark, path,
      blockStep = 40L, confirmations = 0L)
    val q = StreamOps.tumblingWindowStream(stream, 0L, 10L)
      .withColumn("sum_value", $"sum_value".cast("double"))
      .writeStream.format("memory").queryName("w1_stream")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("w1_stream")
      .select("window_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().toSet
    val batch = EventLog.tumblingWindow(batchEvents, 0L, 10L)
      .withColumn("sum_value", $"sum_value".cast("double"))
      .select("window_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch)
  }

  test("evicting streaming window: emitted once, state bounded (W1 eviction)") {
    val stream = StreamOps.readBlockStream(spark, path,
      blockStep = 25L, confirmations = 0L)
    val w = StreamOps.tumblingWindowStreamEvicting(stream, 0L, 10L)
      .withColumn("sum_value", $"sum_value".cast("double"))
    val q = w.writeStream.format("memory").queryName("w1_evict")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("w1_evict")
      .select("window_id", "n_events", "sum_value", "window_from", "window_to")
      .as[(Long, Long, Double, Long, Long)].collect()
    // append mode: each finalized window emitted exactly once
    assert(got.map(_._1).distinct.length == got.length, "window re-emitted")
    // emitted windows match the batch fold exactly
    val batch = EventLog.tumblingWindow(batchEvents, 0L, 10L)
      .withColumn("sum_value", $"sum_value".cast("double"))
      .select("window_id", "n_events", "sum_value", "window_from", "window_to")
      .as[(Long, Long, Double, Long, Long)].collect().toSet
    got.foreach(g => assert(batch.contains(g), s"window $g diverges from batch"))
    // with blockStep=25, the watermark passes ≥ block 74 before the last
    // data batch — every window ending there must already be flushed
    val mustEmit = batch.map(_._1).filter(k => 10 * (k + 1) <= 74)
    assert(mustEmit.subsetOf(got.map(_._1).toSet),
      s"finalized windows missing: ${mustEmit -- got.map(_._1).toSet}")
    // ≥3 chunked micro-batches ran, and eviction kept the state store far
    // below the total window count (complete mode would hold all of them)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .lastOption.map(_.numRowsTotal).getOrElse(Long.MaxValue)
    assert(stateRows <= 4, s"state not evicted: $stateRows rows retained")
  }

  test("session_window boundary semantics: touching merges, end==watermark emits") {
    // these two boundaries are what make sessionizeStreamEvicting match
    // the batch gap-≤ rule with duration = gapBlocks exactly; pin them
    // so a Spark behavior change fails loudly here instead of as an
    // oracle mismatch
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)] // (user_id, block)
    // user 1: gap 21 == duration → merges; user 2: gap 22 → splits;
    // user 3: session ends at 79, end = 79+21 = 100 == watermark → emits
    mem.addData((1L, 0L), (1L, 21L), (2L, 0L), (2L, 22L), (3L, 58L),
      (3L, 79L), (9L, 100L))
    val df = mem.toDF.toDF("user_id", "block_number")
      .withColumn("block_ts", timestamp_seconds($"block_number"))
      .withWatermark("block_ts", "0 seconds")
      .groupBy($"user_id", session_window($"block_ts", "21 seconds"))
      .agg(count(lit(1)).as("n"), min("block_number").as("from"),
        max("block_number").as("to"))
      .select("user_id", "n", "from", "to")
    val q = df.writeStream.format("memory").queryName("sess_probe")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sess_probe")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 0L, 21L), (2L, 1L, 0L, 0L),
      (2L, 1L, 22L, 22L), (3L, 2L, 58L, 79L)))
  }

  test("streaming sessionize equals batch closed sessions; state evicted") {
    val stream = StreamOps.readBlockStream(spark, path,
      blockStep = 25L, confirmations = 0L)
    val q = StreamOps.sessionizeStreamEvicting(stream, gapBlocks = 5L)
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sess_stream")
      .select("user_id", "n_events", "session_from", "session_to")
      .as[(Long, Long, Long, Long)].collect()
    // exactly once per session
    assert(got.map(g => (g._1, g._3)).distinct.length == got.length)
    // emitted set == batch sessions whose window closed (end ≤ head)
    val batch = EventLog.sessionize(batchEvents, 5L)
      .select("user_id", "n_events", "session_from", "session_to")
      .as[(Long, Long, Long, Long)].collect()
      .filter(s => s._4 + 5L <= headBlock).toSet
    assert(got.toSet == batch,
      s"missing=${batch -- got.toSet} extra=${got.toSet -- batch}")
    // state bounded by sessions-in-flight: at most the OPEN last session
    // per user survives eviction (closed ones are dropped on emit)
    val nUsers = batchEvents.select("user_id").distinct().count()
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .lastOption.map(_.numRowsTotal).getOrElse(Long.MaxValue)
    assert(stateRows <= nUsers,
      s"session state not evicted: $stateRows rows for $nUsers users")
  }

  test("stream-stream interval join equals batch; buffered state evicted") {
    def side(t: String) = StreamOps.readBlockStream(spark, path,
        blockStep = 20L, confirmations = 0L)
      .filter($"event_type" === t)
      .select($"event_id", $"user_id", $"block_number")
    val joined = StreamOps.intervalJoinStream(side("purchase"), side("click"),
      lowerBlocks = 5L, upperBlocks = 5L)
    val q = joined.writeStream.format("memory").queryName("ssij")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("ssij")
      .select($"event_id", $"r_event_id").as[(Long, Long)].collect()
    val p = batchEvents.filter($"event_type" === "purchase")
      .select($"event_id".as("pe"), $"user_id".as("pu"), $"block_number".as("pb"))
    val c = batchEvents.filter($"event_type" === "click")
      .select($"event_id".as("ce"), $"user_id".as("cu"), $"block_number".as("cb"))
    val batch = p.join(c,
        $"pu" === $"cu" && $"cb".between($"pb" - 5, $"pb" + 5))
      .select($"pe", $"ce").as[(Long, Long)].collect().toSet
    assert(got.toSet == batch, "drained stream must equal the batch join")
    assert(got.length == batch.size, "append mode must not re-emit pairs")
    // the symmetric-hash join buffers only rows the other side's
    // watermark hasn't cleared — far fewer than the full input by the
    // final micro-batch
    val inputRows = p.count() + c.count()
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .lastOption.map(_.numRowsTotal).getOrElse(Long.MaxValue)
    assert(stateRows < inputRows / 2,
      s"join state not evicted: $stateRows of $inputRows buffered")
  }

  test("dedupStream: duplicates inside the horizon drop, keys re-admit after expiry") {
    val stream = StreamOps.readBlockStream(spark, path,
      blockStep = 20L, confirmations = 0L)
    // event_type repeats in (almost) every block — the natural recurring
    // key; horizon 5 blocks
    val dd = StreamOps.dedupStream(stream, Seq("event_type"), withinBlocks = 5L)
    val q = dd.writeStream.format("memory").queryName("dd_horizon")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val emitted = spark.table("dd_horizon")
      .select($"event_type", $"block_number")
      .as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val blocksPerType = batchEvents.select($"event_type", $"block_number")
      .distinct().as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.size).toMap
    emitted.foreach { case (t, blocks) =>
      // bounded state means the key is NOT suppressed forever…
      assert(blocks.size > 1, s"$t never re-admitted after state expiry")
      // …but everything inside the horizon is deduped
      assert(blocks.size < blocksPerType(t),
        s"$t emitted every occurrence — nothing deduped")
      // state expiry contract: re-emissions are > horizon blocks apart
      blocks.sliding(2).filter(_.length == 2).foreach { w =>
        assert(w(1) - w(0) > 5, s"$t re-emitted at gap ${w(1) - w(0)} ≤ horizon")
      }
    }
    // dedup state stays bounded by the number of live keys, not by rows
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .lastOption.map(_.numRowsTotal).getOrElse(Long.MaxValue)
    assert(stateRows <= 3 * emitted.size,
      s"dedup state not evicting: $stateRows rows for ${emitted.size} keys")
  }

  test("near-dup ingest: epochs seam-free vs batch; replayed epoch rewrites itself") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val half = docs.agg(max($"doc_id")).head.getLong(0) / 2
    val newDocs = docs.filter($"doc_id" > half)
    val base = tmp(); val inDir = tmp(); val run = tmp()
    graft.operators.Dedup.minHashBandIndex(docs.filter($"doc_id" <= half))
      .write.parquet(s"$base/index")
    newDocs.repartitionByRange(3, $"doc_id").write.parquet(s"$inDir/in")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$inDir/in")
    // minJaccard 0: every bucket-sharing candidate emits, so the drill
    // exercises the seam/replay mechanics on a non-trivial pair set
    val q = StreamOps.nearDupIngestStream(stream, s"$base/index",
      s"$run/append", s"$run/pairs", s"$run/ckpt", minJaccard = 0.0)
    try q.processAllAvailable() finally q.stop()
    def pairSet() = spark.read.parquet(s"$run/pairs")
      .select($"d1", $"d2", $"est_jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val drained = pairSet()
    // seam-free: micro-batch boundaries must not change the result —
    // the drained union equals the one-shot incremental run
    val oneShot = graft.operators.Dedup.incrementalNearDupPairs(
        newDocs, spark.read.parquet(s"$base/index"), minJaccard = 0.0,
        storage = None)
      .as[(Long, Long, Double)].collect().toSet
    assert(oneShot.nonEmpty, "fixture yields no candidate pairs — vacuous")
    assert(drained == oneShot,
      s"stream/batch seam: ${(drained -- oneShot).take(3)} extra, " +
        s"${(oneShot -- drained).take(3)} missing")
    // crash replay: re-run the LAST epoch with the same (batch, id) —
    // the epoch must rewrite its own partitions into the same state
    // (no duplicated pairs, no self-pairs from its leftover bands)
    val append = spark.read.parquet(s"$run/append")
    val lastId = append.agg(max($"ingest_batch").cast("long"))
      .head.getLong(0)
    val lastBatch = docs.join(
      append.filter($"ingest_batch" === lastId).select($"doc_id").distinct(),
      "doc_id")
    StreamOps.nearDupIngestEpoch(lastBatch, s"$base/index",
      s"$run/append", s"$run/pairs", lastId, minJaccard = 0.0)
    assert(pairSet() == drained, "replayed epoch changed the drained result")
  }

  test("image dHash ingest: epochs seam-free vs batch; replayed epoch " +
    "rewrites itself") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val half = docs.agg(max($"doc_id")).head.getLong(0) / 2
    val media = graft.operators.Multimodal.attachMedia(docs)
    val base = tmp(); val inDir = tmp(); val run = tmp()
    graft.operators.Multimodal.dHashBandRows(
        media.filter($"doc_id" <= half))
      .write.parquet(s"$base/index")
    val newMedia = media.filter($"doc_id" > half)
    newMedia.repartitionByRange(3, $"doc_id").write.parquet(s"$inDir/in")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$inDir/in").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$inDir/in")
    // maxHamming 64: every bucket-sharing candidate emits, so the drill
    // exercises the seam/replay mechanics on a non-trivial pair set
    val q = StreamOps.dHashIngestStream(stream, s"$base/index",
      s"$run/append", s"$run/pairs", s"$run/ckpt", maxHamming = 64)
    try q.processAllAvailable() finally q.stop()
    def pairSet() = spark.read.parquet(s"$run/pairs")
      .select($"d1", $"d2", $"hamming").as[(Long, Long, Long)]
      .collect().toSet
    val drained = pairSet()
    val oneShot = graft.operators.Multimodal.dHashIncrementalPairs(
        newMedia, spark.read.parquet(s"$base/index"), maxHamming = 64,
        storage = None)
      .as[(Long, Long, Long)].collect().toSet
    assert(oneShot.nonEmpty, "fixture yields no candidate pairs — vacuous")
    assert(drained == oneShot,
      s"stream/batch seam: ${(drained -- oneShot).take(3)} extra, " +
        s"${(oneShot -- drained).take(3)} missing")
    val append = spark.read.parquet(s"$run/append")
    val lastId = append.agg(max($"ingest_batch").cast("long"))
      .head.getLong(0)
    val lastBatch = media.join(
      append.filter($"ingest_batch" === lastId).select($"doc_id").distinct(),
      "doc_id")
    StreamOps.dHashIngestEpoch(lastBatch, s"$base/index",
      s"$run/append", s"$run/pairs", lastId, maxHamming = 64)
    assert(pairSet() == drained, "replayed epoch changed the drained result")
  }

  test("PNG image ingest (round-15): real-container payloads through " +
    "the decodePixels stream path — seam-free vs batch, replay " +
    "idempotent") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    // widen to every doc id (×3 keeps the image residue) so the halves
    // are non-trivial; payloads are REAL PNGs — the stream path must
    // route them through the magic-byte sniff → ImageIO → dHash kernel
    val media = graft.operators.Multimodal.attachPngImages(
      docs.select(($"doc_id" * 3).as("doc_id"), $"text"))
    val half = media.agg(max($"doc_id")).head.getLong(0) / 2
    val base = tmp(); val inDir = tmp(); val run = tmp()
    graft.operators.Multimodal.dHashImageBandRows(
        media.filter($"doc_id" <= half))
      .write.parquet(s"$base/index")
    val newMedia = media.filter($"doc_id" > half)
    newMedia.repartitionByRange(3, $"doc_id").write.parquet(s"$inDir/in")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$inDir/in").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$inDir/in")
    val q = StreamOps.dHashIngestStream(stream, s"$base/index",
      s"$run/append", s"$run/pairs", s"$run/ckpt", maxHamming = 64,
      decodePixels = true)
    try q.processAllAvailable() finally q.stop()
    val drained = spark.read.parquet(s"$run/pairs")
      .select($"d1", $"d2", $"hamming").as[(Long, Long, Long)]
      .collect().toSet
    val oneShot = graft.operators.Multimodal.dHashIncrementalPairs(
        newMedia, spark.read.parquet(s"$base/index"), maxHamming = 64,
        decodePixels = true, storage = None)
      .as[(Long, Long, Long)].collect().toSet
    assert(oneShot.nonEmpty, "fixture yields no candidate pairs — vacuous")
    assert(drained == oneShot,
      s"stream/batch seam: ${(drained -- oneShot).take(3)} extra, " +
        s"${(oneShot -- drained).take(3)} missing")
  }

  test("audio WAV ingest: epochs seam-free vs batch through the shared " +
    "skeleton; layout derived from the base index") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    // widen to EVERY doc id (not just %3==1) so the halves are non-
    // trivial: the operator only cares about kind/payload
    val media = graft.operators.Multimodal
      .attachWavAudio(docs.select(($"doc_id" * 3 + 1).as("doc_id"), $"text"))
    val half = media.agg(max($"doc_id")).head.getLong(0) / 2
    val base = tmp(); val inDir = tmp(); val run = tmp()
    graft.operators.Multimodal.audioFingerprintBandRows(
        media.filter($"doc_id" <= half))
      .write.parquet(s"$base/index")
    val newMedia = media.filter($"doc_id" > half)
    newMedia.repartitionByRange(3, $"doc_id").write.parquet(s"$inDir/in")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$inDir/in").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$inDir/in")
    // maxHamming 64: every bucket-sharing candidate emits — the drill
    // is about seam/replay mechanics, not the radius
    val q = StreamOps.audioIngestStream(stream, s"$base/index",
      s"$run/append", s"$run/pairs", s"$run/ckpt", maxHamming = 64)
    try q.processAllAvailable() finally q.stop()
    val drained = spark.read.parquet(s"$run/pairs")
      .select($"d1", $"d2", $"hamming").as[(Long, Long, Long)]
      .collect().toSet
    val oneShot = graft.operators.Multimodal.audioIncrementalPairs(
        newMedia, spark.read.parquet(s"$base/index"), maxHamming = 64,
        storage = None)
      .as[(Long, Long, Long)].collect().toSet
    assert(oneShot.nonEmpty, "fixture yields no candidate pairs — vacuous")
    assert(drained == oneShot,
      s"stream/batch seam: ${(drained -- oneShot).take(3)} extra, " +
        s"${(oneShot -- drained).take(3)} missing")
  }

  test("ANN ingest: streamed code rows equal the batch rebuild; replayed epoch rewrites itself") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val half = emb.agg(max($"vec_id")).head.getLong(0) / 2
    val newVecs = emb.filter($"vec_id" > half)
    val base = tmp(); val inDir = tmp(); val run = tmp()
    graft.operators.Similarity.saveIvfPqIndex(
      emb.filter($"vec_id" <= half), base, nlist = 8)
    newVecs.repartitionByRange(3, $"vec_id").write.parquet(s"$inDir/in")
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$inDir/in")
    val q = StreamOps.annIngestStream(stream, base, s"$run/append",
      s"$run/ckpt")
    try q.processAllAvailable() finally q.stop()
    val centroids = graft.operators.Similarity.loadIvfPqCentroids(spark, base)
    def codeSet() = spark.read.parquet(s"$run/append")
      .select($"vec_id", $"list", $"cnrm", $"qscale", $"codes")
      .as[(Long, Int, Double, Double, Array[Byte])].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5.toSeq)).toSet
    val drained = codeSet()
    assert(drained.nonEmpty, "no streamed code rows — vacuous drill")
    // seam-free: the streamed appends are row-for-row the batch
    // quantization of the new half under the frozen codebook
    val oneShot = graft.operators.Similarity
      .ivfPqCodeRows(newVecs, centroids)
      .select($"vec_id", $"list", $"cnrm", $"qscale", $"codes")
      .as[(Long, Int, Double, Double, Array[Byte])].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5.toSeq)).toSet
    assert(drained == oneShot,
      s"stream/batch seam: ${(drained -- oneShot).take(2)} extra, " +
        s"${(oneShot -- drained).take(2)} missing")
    // every streamed vector is indexed exactly once across epochs
    assert(drained.toSeq.map(_._1).distinct.size == newVecs.count(),
      "append partitions duplicate or drop vectors")
    // crash replay: same (batch, id) rewrites only its own partition
    val append = spark.read.parquet(s"$run/append")
    val lastId = append.agg(max($"ingest_batch").cast("long")).head.getLong(0)
    val lastBatch = emb.join(
      append.filter($"ingest_batch" === lastId).select($"vec_id").distinct(),
      "vec_id")
    StreamOps.annIngestEpoch(lastBatch, centroids, s"$run/append", lastId)
    assert(codeSet() == drained, "replayed epoch changed the drained index")
    // post-drain fold: all epochs committed (stream stopped) — compaction
    // must bound the partition count to one and preserve content verbatim
    graft.streaming.IngestCompaction.compact(spark, s"$run/append",
      upToEpoch = Long.MaxValue, orderCols = Seq("list"))
    assert(graft.streaming.IngestCompaction.listEpochs(spark, s"$run/append")
      .size == 1, "fold left more than one partition")
    assert(codeSet() == drained, "fold changed the served index content")
  }

  test("ANN ingest emits per-epoch codebook-drift metrics comparable to " +
    "the build-time baseline (CollectMetrics, no extra job)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val half = emb.agg(max($"vec_id")).head.getLong(0) / 2
    val newVecs = emb.filter($"vec_id" > half)
    val base = tmp(); val inDir = tmp(); val run = tmp()
    graft.operators.Similarity.saveIvfPqIndex(
      emb.filter($"vec_id" <= half), base, nlist = 8)
    newVecs.repartitionByRange(3, $"vec_id").write.parquet(s"$inDir/in")
    val seen = new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("ann_ingest_drift_")) seen.put(name, row)
        }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val stream = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$inDir/in")
      val q = StreamOps.annIngestStream(stream, base, s"$run/append",
        s"$run/ckpt")
      try q.processAllAvailable() finally q.stop()
      // listener delivery is async — wait for all 3 epochs' metrics
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.size < 3 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(seen.size == 3, s"expected 3 epoch drift metrics, got " +
        s"${seen.keySet()}")
      import scala.jdk.CollectionConverters._
      val rows = seen.asScala.values.toSeq
      val totalVecs = rows.map(_.getAs[Long]("n_vectors")).sum
      assert(totalVecs == newVecs.count(),
        "drift metric n_vectors does not cover every streamed vector")
      rows.foreach { r =>
        val mean = r.getAs[Double]("mean_rel_residual")
        assert(mean > 0 && mean.isFinite && mean < 10,
          s"implausible mean_rel_residual $mean")
        assert(r.getAs[Double]("max_rel_residual") >= mean)
      }
      // baseline comparability: the SAME expression over the build-time
      // codes — same-distribution epochs should sit within a small
      // factor of it (here the stream IS same-distribution fixture data)
      val baseline = graft.operators.Similarity.pqDriftStats(
          spark.read.parquet(s"$base/codes"))
        .head.getAs[Double]("mean_rel_residual")
      assert(baseline > 0)
      rows.foreach { r =>
        val mean = r.getAs[Double]("mean_rel_residual")
        assert(mean < baseline * 3,
          s"same-distribution epoch mean $mean vs baseline $baseline — " +
            "the drift signal would false-alarm immediately")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("ingest compaction: mid-run fold bounds partitions and leaves the " +
    "drained near-dup result unchanged") {
    import graft.streaming.IngestCompaction
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val half = docs.agg(max($"doc_id")).head.getLong(0) / 2
    val newDocs = docs.filter($"doc_id" > half)
    val base = tmp()
    graft.operators.Dedup.minHashBandIndex(docs.filter($"doc_id" <= half))
      .write.parquet(s"$base/index")
    val quarter = (docs.agg(max($"doc_id")).head.getLong(0) + half) / 2
    val slices = Seq(
      newDocs.filter($"doc_id" <= quarter)
        .filter($"doc_id" % 2 === 0),
      newDocs.filter($"doc_id" <= quarter).filter($"doc_id" % 2 === 1),
      newDocs.filter($"doc_id" > quarter).filter($"doc_id" % 2 === 0),
      newDocs.filter($"doc_id" > quarter).filter($"doc_id" % 2 === 1))
    // twin runs over identical epoch slices: A never compacts, B folds
    // the committed epochs between epoch 2 and epoch 3
    val runA = tmp(); val runB = tmp()
    slices.zipWithIndex.foreach { case (s, i) =>
      StreamOps.nearDupIngestEpoch(s, s"$base/index", s"$runA/append",
        s"$runA/pairs", i.toLong, minJaccard = 0.0)
    }
    slices.zipWithIndex.foreach { case (s, i) =>
      if (i == 3) { // the compactEvery hook's shape: fold before epoch 3
        Seq(s"$runB/append", s"$runB/pairs").foreach { d =>
          IngestCompaction.recover(spark, d)
          IngestCompaction.compact(spark, d, upToEpoch = 2,
            orderCols = if (d.endsWith("append"))
              Seq("band_idx", "band_key") else Seq("d1", "d2"))
        }
      }
      StreamOps.nearDupIngestEpoch(s, s"$base/index", s"$runB/append",
        s"$runB/pairs", i.toLong, minJaccard = 0.0)
    }
    def pairSet(run: String) = spark.read.parquet(s"$run/pairs")
      .select($"d1", $"d2", $"est_jaccard").as[(Long, Long, Double)]
      .collect().toSet
    def bandSet(run: String) = spark.read.parquet(s"$run/append")
      .select($"doc_id", $"band_idx", $"band_key")
      .as[(Long, Int, Long)].collect().toSet
    assert(pairSet(runA).nonEmpty, "vacuous drill: no pairs at all")
    assert(pairSet(runB) == pairSet(runA),
      "fold changed the drained pair set")
    assert(bandSet(runB) == bandSet(runA),
      "fold changed the band index content")
    // partition bound: folded 0..2 into -1 + epoch 3 = exactly 2
    assert(IngestCompaction.listEpochs(spark, s"$runB/append") == Seq(-1L, 3L),
      "append partitions not folded to {-1, 3}")
    // a second fold over the already-folded range is a no-op (the
    // replayed-compaction path inside a recovering foreachBatch)
    IngestCompaction.recover(spark, s"$runB/append")
    IngestCompaction.compact(spark, s"$runB/append", upToEpoch = 2,
      orderCols = Seq("band_idx", "band_key"))
    assert(bandSet(runB) == bandSet(runA))
  }

  test("ingest compaction: crash drills — pre-marker rollback, " +
    "mid-delete roll-forward, post-swap cleanup, marker blocks new runs") {
    import graft.streaming.IngestCompaction
    def writeEpochs(dir: String, n: Int): Unit =
      (0 until n).foreach(e => IngestCompaction.writeEpoch(
        spark.range(e * 10, e * 10 + 10).select($"id", ($"id" * 2).as("v")),
        dir, e.toLong))
    def rows(dir: String) = spark.read.parquet(dir)
      .select($"id", $"v").as[(Long, Long)].collect().toSet
    val full = (0L until 30L).map(i => (i, i * 2)).toSet

    // (a) pre-marker crash: stale tmp, no marker → recover rolls BACK.
    // Also: the HIDDEN staging dir is invisible to partition discovery —
    // a reader planned while a fold is staging must see the originals
    // exactly once, never a double-count of staged + original rows
    val a = tmp(); writeEpochs(a, 3)
    spark.read.parquet(a).filter($"ingest_batch" <= 1)
      .withColumn("ingest_batch", lit(-1L)).repartition(1)
      .write.partitionBy("ingest_batch").parquet(s"$a/.compact_fold.tmp")
    assert(rows(a) == full,
      "reader saw staged fold rows — hidden dir leaked into discovery")
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(s"$a/.compact_fold.tmp"))
    new java.io.File(s"$a/.compact_fold.tmp/junk").getParentFile.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$a/.compact_fold.tmp/junk"), "partial")
    IngestCompaction.recover(spark, a)
    assert(!new java.io.File(s"$a/.compact_fold.tmp").exists())
    assert(IngestCompaction.listEpochs(spark, a) == Seq(0L, 1L, 2L))
    assert(rows(a) == full)

    // (b) crash mid-delete (marker published, staging complete, one
    // original already deleted) → recover rolls FORWARD
    val b = tmp(); writeEpochs(b, 3)
    spark.read.parquet(b).filter($"ingest_batch" <= 2)
      .withColumn("ingest_batch", lit(-1L)).repartition(1)
      .write.partitionBy("ingest_batch").parquet(s"$b/.compact_fold.tmp")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$b/_folding"), "0\n1\n2\n#end:3")
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(s"$b/ingest_batch=0"))
    // a fresh compact REFUSES while the marker stands
    val err = intercept[java.io.IOException] {
      IngestCompaction.compact(spark, b, upToEpoch = 2)
    }
    assert(err.getMessage.contains("recover"))
    IngestCompaction.recover(spark, b)
    assert(IngestCompaction.listEpochs(spark, b) == Seq(-1L))
    assert(rows(b) == full, "roll-forward lost or duplicated rows")
    assert(!new java.io.File(s"$b/_folding").exists())

    // (c) crash after swap, before cleanup (marker + empty tmp remain,
    // folded partition already in place) → recover just cleans up
    val c = tmp(); writeEpochs(c, 3)
    IngestCompaction.compact(spark, c, upToEpoch = 2)
    assert(rows(c) == full)
    new java.io.File(s"$c/.compact_fold.tmp").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$c/_folding"), "0\n1\n2\n#end:3")
    IngestCompaction.recover(spark, c)
    assert(IngestCompaction.listEpochs(spark, c) == Seq(-1L))
    assert(rows(c) == full)
    assert(!new java.io.File(s"$c/_folding").exists() &&
      !new java.io.File(s"$c/.compact_fold.tmp").exists())
    // recover is idempotent
    IngestCompaction.recover(spark, c)
    assert(rows(c) == full)

    // (d) only -1 in range → no-op, no artifacts: an idle stream's
    // cadence never rewrites its folded partition
    val d = tmp(); writeEpochs(d, 3)
    IngestCompaction.compact(spark, d, upToEpoch = 1)
    assert(IngestCompaction.listEpochs(spark, d) == Seq(-1L, 2L))
    val folded = dataFiles(s"$d/ingest_batch=-1")
      .map(f => f.getPath -> f.lastModified)
    IngestCompaction.compact(spark, d, upToEpoch = 1)
    assert(dataFiles(s"$d/ingest_batch=-1")
      .map(f => f.getPath -> f.lastModified) == folded,
      "a fold with nothing new rewrote the folded partition")
    assert(IngestCompaction.listEpochs(spark, d) == Seq(-1L, 2L))
    assert(!new java.io.File(s"$d/_folding").exists() &&
      !new java.io.File(s"$d/.compact_fold.tmp").exists())
    assert(rows(d) == full)

    // (e) TORN marker (crash mid-publish: staging complete, terminator
    // missing — the object-storage-honest marker's detectable state):
    // no delete had run, so recover must roll BACK, never forward off a
    // partial epoch list (forward would delete originals the partial
    // list names while keeping the rest → duplicated survivors)
    val e = tmp(); writeEpochs(e, 3)
    spark.read.parquet(e).filter($"ingest_batch" <= 2)
      .withColumn("ingest_batch", lit(-1L)).repartition(1)
      .write.partitionBy("ingest_batch").parquet(s"$e/.compact_fold.tmp")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$e/_folding"), "0\n1") // torn: no #end
    // a fresh compact still refuses while the torn marker stands
    intercept[java.io.IOException] {
      IngestCompaction.compact(spark, e, upToEpoch = 2)
    }
    IngestCompaction.recover(spark, e)
    assert(IngestCompaction.listEpochs(spark, e) == Seq(0L, 1L, 2L),
      "torn marker must roll back to the untouched originals")
    assert(rows(e) == full)
    assert(!new java.io.File(s"$e/_folding").exists() &&
      !new java.io.File(s"$e/.compact_fold.tmp").exists())
    // ... and a wrong-count terminator is equally torn
    val e2 = tmp(); writeEpochs(e2, 3)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$e2/_folding"), "0\n1\n#end:3")
    IngestCompaction.recover(spark, e2)
    assert(IngestCompaction.listEpochs(spark, e2) == Seq(0L, 1L, 2L))
    assert(!new java.io.File(s"$e2/_folding").exists())
  }

  test("ingest compaction: one epoch written in many files folds to " +
    "targetFiles with the same rows") {
    import graft.streaming.IngestCompaction
    val dir = tmp()
    spark.range(0, 40).select($"id", ($"id" * 2).as("v"))
      .repartition(4).withColumn("ingest_batch", lit(0L))
      .write.mode("overwrite").partitionBy("ingest_batch").parquet(dir)
    def rows() = spark.read.parquet(dir).select($"id", $"v")
      .as[(Long, Long)].collect().toSeq.sorted
    val before = rows()
    assert(before.size == 40 && dataFiles(dir).size == 4)
    IngestCompaction.compact(spark, dir, upToEpoch = 0, targetFiles = 1)
    assert(dataFiles(dir).size == 1, "one epoch's files were not folded")
    assert(rows() == before, "the fold changed the rows")
  }

  test("non-atomic-rename filesystem: compaction DETECTS and refuses " +
    "before any destructive step; opt-in conf restores the protocol") {
    import graft.streaming.{BlockSink, FsCommit, IngestCompaction}
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.nonatomic.impl", classOf[NonAtomicRenameFileSystem].getName)
    hconf.setBoolean("fs.nonatomic.impl.disable.cache", true)
    def writeEpochs(dir: String, n: Int): Unit =
      (0 until n).foreach(e => IngestCompaction.writeEpoch(
        spark.range(e * 10, e * 10 + 10).select($"id", ($"id" * 2).as("v")),
        dir, e.toLong))
    val base = tmp()
    writeEpochs(base, 3)
    val dir = s"nonatomic://$base" // same files, untrusted scheme
    // (a) compact refuses with guidance, leaving the dir byte-untouched
    val err = intercept[java.io.IOException] {
      IngestCompaction.compact(spark, dir, upToEpoch = 2)
    }
    assert(err.getMessage.contains("atomic"), err.getMessage)
    assert(err.getMessage.contains(FsCommit.AtomicSchemesKey), err.getMessage)
    assert(IngestCompaction.listEpochs(spark, dir) == Seq(0L, 1L, 2L))
    assert(!new java.io.File(s"$base/_folding").exists() &&
      !new java.io.File(s"$base/.compact_fold.tmp").exists(),
      "guard must fire before any protocol artifact is created")
    // (b) BlockSink.compactBucket refuses the same way, pre-mutation
    val sink = tmp()
    spark.range(0, 20)
      .select($"id".as("block_number"), ($"id" % 4).as("log_index"))
      .withColumn("block_bucket", lit(0L))
      .withColumn("ingest_batch", lit(0L))
      .write.mode("overwrite")
      .partitionBy("block_bucket", "ingest_batch").parquet(sink)
    val err2 = intercept[java.io.IOException] {
      BlockSink.compactBucket(spark, s"nonatomic://$sink", 0L, 1)
    }
    assert(err2.getMessage.contains("atomic"), err2.getMessage)
    assert(!new java.io.File(s"$sink/block_bucket=0/_folding").exists() &&
      !new java.io.File(s"$sink/block_bucket=0/.compact_fold.tmp").exists(),
      "guard must fire before any protocol artifact is created")
    // (c) operator opt-in: the scheme asserted atomic → the full
    // protocol runs and the fold is content-identical to the local run
    hconf.set(FsCommit.AtomicSchemesKey, "nonatomic")
    try {
      IngestCompaction.recover(spark, dir)
      IngestCompaction.compact(spark, dir, upToEpoch = 2)
      assert(IngestCompaction.listEpochs(spark, dir) == Seq(-1L))
      assert(spark.read.parquet(base).select($"id", $"v")
        .as[(Long, Long)].collect().toSet ==
        (0L until 30L).map(i => (i, i * 2)).toSet)
    } finally hconf.unset(FsCommit.AtomicSchemesKey)
  }

  test("streaming flush emits the dense batch block-align cells once (J2)") {
    val sources = Seq("click", "error", "purchase", "signup", "view")
    val stream = StreamOps.readBlockStream(spark, path,
      blockStep = 25L, confirmations = 0L)
    val q = StreamOps.flushIncludingStream(stream, sources)
      .writeStream.format("memory").queryName("j2_flush_spec")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("j2_flush_spec")
      .select($"block_number", $"source", $"n_events", $"sum_value")
      .as[(Long, String, Long, Double)].collect()
    // exactly once: no (block, source) cell emitted twice across batches
    assert(streamed.map(r => (r._1, r._2)).distinct.length == streamed.length)
    val batch = EventLog.blockAlign(batchEvents, sources, 0L, headBlock)
      .select($"block_number", $"source", $"n_events",
        $"sum_value".cast("double"))
      .as[(Long, String, Long, Double)].collect()
    assert(streamed.toSet == batch.toSet,
      s"streamed ${streamed.length} cells != batch ${batch.length}")
    // density: every (block, source) cell of the full range is present
    assert(streamed.length == (headBlock + 1) * sources.length)
  }

  test("streaming flush drains the tail when the final advance is one block") {
    // regression: with the timeout armed a full second past the
    // watermark, a final one-block advance (wm+1s == new watermark,
    // never strictly exceeded) silently dropped the last block's cells
    val sources = Seq("click", "error", "purchase", "signup", "view")
    val stream = StreamOps.readBlockStream(spark, path,
      blockStep = headBlock, confirmations = 0L) // last batch = 1 block
    val q = StreamOps.flushIncludingStream(stream, sources)
      .writeStream.format("memory").queryName("j2_flush_tail")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("j2_flush_tail")
    assert(got.count() == (headBlock + 1) * sources.length,
      "tail cells missing after the final one-block watermark advance")
    assert(got.agg(max($"block_number")).head().getLong(0) == headBlock)
  }

  test("suffix reducer + NetflowState: monitor matches batch (A1/A2/B2)") {
    val stream = StreamOps.readBlockStream(spark, path,
      blockStep = 50L, confirmations = 0L)
    val state = new StreamOps.NetflowState
    var suffixPairs = 0L
    val q = StreamOps.runSuffixReducer(stream, tmp(), (_, suffix) => {
      // reducer 1: netflow over the suffix HEAD only (each event is the
      // head of exactly one suffix ⇒ every event folded exactly once)
      val head = suffix.head
      head.getAs[String]("event_type") match {
        case "purchase" =>
          state.add(head.getAs[Long]("user_id"), head.getAs[Double]("value"))
        case "click" =>
          state.add(head.getAs[Long]("user_id"), -head.getAs[Double]("value"))
        case _ => ()
      }
      // reducer 2: sequence-pattern on the suffix prefix [view, click, ..]
      if (suffix.length >= 2 &&
        suffix.head.getAs[String]("event_type") == "view" &&
        suffix(1).getAs[String]("event_type") == "click") suffixPairs += 1
    })
    try q.processAllAvailable() finally q.stop()
    val batchMon = EventLog.netflowMonitor(
        EventLog.netflow(batchEvents, "purchase", "click"))
      .as[(Long, Long, Long)].collect().head
    assert(state.counts == batchMon)
    val batchPairs = EventLog.adjacentPattern(batchEvents, "view", "click")
      .agg(sum("n_matches")).head().getLong(0)
    assert(suffixPairs == batchPairs)
  }

  test("streaming ABI decode: raw-log stream through decode + stateful fold") {
    // synthesize a raw-log parquet from events, stream it back through the
    // replay source, decode with the session registry, fold netflow —
    // the full reference pipeline under Structured Streaming
    val decl = "Transfer(address indexed from, address indexed to, uint value)"
    val addr = "0x" + "cc" * 20
    val session = new EngineSession(spark)
    val handle = session.register(addr, decl)
    val dir = tmp()
    import graft.operators.EventDecoder
    batchEvents.filter($"event_type" === "purchase")
      .select(
        $"event_id", // replay source needs it for block keys
        graft.functions.abi.address(addr).as("address"),
        graft.functions.abi.topic0(decl).as("topic0"),
        EventDecoder.encodeWordFromLong($"user_id").as("topic1"),
        EventDecoder.encodeWordFromLong($"user_id" + 1).as("topic2"),
        EventDecoder.encodeWordFromLong(
          ($"value".cast("decimal(18,2)") * 100).cast("bigint")).as("data"))
      .withColumn("topic3", lit(null).cast("binary"))
      .write.mode("overwrite").parquet(dir + "/rawlogs")

    val stream = StreamOps.readBlockStream(spark, dir + "/rawlogs",
      blockStep = 30L, confirmations = 0L)
    val decoded = session.decode(stream, handle)
      .groupBy($"from")
      .agg(sum($"value").cast("double").as("inflow_cents"))
    val q = decoded.writeStream.format("memory").queryName("decode_stream")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("decode_stream")
      .select(lower(hex($"from")).as("from_hex"), $"inflow_cents")
      .as[(String, Double)].collect().toMap
    val expected = batchEvents.filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(sum(($"value".cast("decimal(18,2)") * 100).cast("bigint"))
        .cast("double").as("cents"))
      .select(lpad(lower(hex($"user_id")), 40, "0"), $"cents")
      .as[(String, Double)].collect().toMap
    assert(streamed == expected)
  }

  test("ordered reducer sees blocks ascending with intra-block order (A2)") {
    val stream = StreamOps.readBlockStream(spark, path,
      blockStep = 30L, confirmations = 0L)
    var lastBlock = -1L
    var orderOk = true
    var matches = 0L
    val q = StreamOps.runOrderedReducer(stream, tmp(), (block, rows) => {
      if (block <= lastBlock) orderOk = false
      lastBlock = block
      val idx = rows.map(_.getAs[Long]("log_index"))
      if (idx != idx.sorted) orderOk = false
      // the A2 suffix pattern: view immediately followed by click
      matches += rows.map(_.getAs[String]("event_type")).sliding(2).count {
        case Seq("view", "click") => true
        case _                    => false
      }
    })
    try q.processAllAvailable() finally q.stop() // J3 barrier
    assert(orderOk, "blocks/not ordered")
    val batchMatches = EventLog.adjacentPattern(batchEvents, "view", "click")
      .agg(sum("n_matches")).head().getLong(0)
    assert(matches == batchMatches)
  }

  test("distributed ordered reducer: per-block slices complete and " +
    "ordered, result equals the driver-collect path, state evicted") {
    // the distributed twin folds each block on executors once its
    // watermark closes — parity vs runOrderedReducer on the SAME
    // chunked replay is the contract (same slices, same order, no
    // driver collect)
    def mkStream() = StreamOps.readBlockStream(spark, path,
      blockStep = 30L, confirmations = 0L)
    // driver path (the reference's single-consumer contract)
    val driverCounts = scala.collection.mutable.Map.empty[Long, Long]
    val q1 = StreamOps.runOrderedReducer(mkStream(), tmp(), (block, rows) => {
      val n = rows.map(_.getAs[String]("event_type")).sliding(2).count {
        case Seq("view", "click") => true
        case _                    => false
      }
      if (n > 0) driverCounts(block) = n.toLong
    })
    try q1.processAllAvailable() finally q1.stop()
    // distributed path: same fold as executor-side code over the
    // complete ordered slice
    val dist = StreamOps.distributedOrderedReducer[(Long, Long)](
      mkStream(),
      (block, events) => {
        // slice-completeness invariants checked IN the fold: ordered by
        // (log_index, event_id), all rows carry this block
        require(events.forall(_.block_number == block))
        val keys = events.map(e => (e.log_index, e.event_id))
        require(keys == keys.sorted, s"unsorted slice for block $block")
        val n = events.map(_.event_type).sliding(2).count {
          case Seq("view", "click") => true
          case _                    => false
        }
        if (n > 0) Some((block, n.toLong)) else None
      })
    val q2 = dist.toDF("block_number", "n_matches")
      .writeStream.format("memory").queryName("a1_dist_parity")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp()).start()
    try q2.processAllAvailable() finally q2.stop()
    val distCounts = spark.table("a1_dist_parity")
      .as[(Long, Long)].collect().toMap
    assert(distCounts == driverCounts.toMap,
      "distributed fold diverged from the driver-collect contract")
    assert(distCounts.nonEmpty, "vacuous fixture: no pattern matches")
    // each block folds EXACTLY once (append-mode emission is per close):
    // duplicate rows per block would mean a re-fold after state removal
    val dupBlocks = spark.table("a1_dist_parity")
      .groupBy($"block_number").count().filter($"count" > 1).count()
    assert(dupBlocks == 0, "a block folded more than once")
  }

  test("RocksDB state backend: reducer parity with the heap provider, " +
    "rocksdb artifacts in the checkpoint") {
    // the 100 TB state story: same stateful fold, state off-heap in
    // RocksDB instead of the executor-heap default — results must be
    // provider-independent, and the checkpoint must PROVE which
    // provider ran (zip/changelog for RocksDB vs the HDFS provider's
    // .delta files), so this can't silently pass on the default
    def run(ckpt: String, name: String, on: SparkSession): Map[Long, Long] = {
      val dist = StreamOps.distributedOrderedReducer[(Long, Long)](
        StreamOps.readBlockStream(spark, path,
          blockStep = 30L, confirmations = 0L),
        (block, events) => {
          val n = events.map(_.event_type).sliding(2).count {
            case Seq("view", "click") => true
            case _                    => false
          }
          if (n > 0) Some((block, n.toLong)) else None
        })
      val q = rebind(dist.toDF("block_number", "n_matches"), on)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      on.table(name).as[(Long, Long)].collect().toMap
    }
    def stateFiles(ckpt: String): Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$ckpt/state")).map(_.getName)
    }
    val defCkpt = tmp()
    val viaDefault = run(defCkpt, "sb_default", spark)
    val rockCkpt = tmp()
    // the RocksDB run starts on a private clone of a caller whose custom
    // provider (which would fail the query if it reached it) is untouched
    val customProvider = "graft.test.NonexistentStateStoreProvider"
    val caller = spark.newSession()
    caller.conf.set(
      "spark.sql.streaming.stateStore.providerClass", customProvider)
    val viaRocks = run(rockCkpt, "sb_rocksdb",
      privateSession(caller, StateBackend.RocksDb: _*))
    assert(caller.conf.get(
      "spark.sql.streaming.stateStore.providerClass") == customProvider,
      "the RocksDB run changed the caller's custom provider")
    assert(viaRocks.nonEmpty, "vacuous fixture: no pattern matches")
    assert(viaRocks == viaDefault,
      "state backend changed the fold's results")
    val rockFiles = stateFiles(rockCkpt)
    assert(rockFiles.exists(n =>
        n.endsWith(".zip") || n.endsWith(".changelog")),
      s"no RocksDB artifacts in $rockCkpt/state — provider did not engage")
    assert(!rockFiles.exists(_.endsWith(".delta")),
      "HDFS-provider delta files in the RocksDB checkpoint")
    assert(stateFiles(defCkpt).exists(_.endsWith(".delta")),
      "control run did not use the heap provider")
  }

  test("RocksDB parity sweep: every stateful family is provider-" +
    "independent (dedup, sessionize, evicting window, interval join, " +
    "netflow, frontier sync), each with RocksDB artifacts") {
    // VERDICT r13 #3: the reducer test above pins one operator; this
    // sweep runs EVERY stateful family once per provider and asserts
    // (a) identical drained results and (b) the RocksDB checkpoint
    // actually carries RocksDB artifacts — so a provider-dependent
    // behavior delta in any family fails loudly here
    def stream(step: Long) = StreamOps.readBlockStream(spark, path,
      blockStep = step, confirmations = 0L)
    def intervalSide(t: String) = stream(20L)
      .filter($"event_type" === t)
      .select($"event_id", $"user_id", $"block_number")
    val families: Seq[(String, () => org.apache.spark.sql.DataFrame,
        OutputMode)] = Seq(
      ("evict_window", () =>
        StreamOps.tumblingWindowStreamEvicting(stream(25L), 0L, 10L)
          .withColumn("sum_value", $"sum_value".cast("string")),
        OutputMode.Append()),
      ("sessionize", () =>
        StreamOps.sessionizeStreamEvicting(stream(25L), gapBlocks = 5L),
        OutputMode.Append()),
      ("dedup", () =>
        StreamOps.dedupStream(stream(20L), Seq("event_type"),
          withinBlocks = 5L).select($"event_type", $"block_number"),
        OutputMode.Append()),
      ("interval_join", () =>
        StreamOps.intervalJoinStream(intervalSide("purchase"),
          intervalSide("click"), lowerBlocks = 5L, upperBlocks = 5L)
          .select($"event_id", $"r_event_id"),
        OutputMode.Append()),
      ("netflow", () =>
        StreamOps.statefulNetflow(stream(25L), "purchase", "click")
          .toDF("user_id", "netflow")
          .select($"user_id", $"netflow".cast("string")),
        OutputMode.Update()),
      ("frontier_sync", () =>
        StreamOps.flushIncludingSyncedStream(
          Seq("purchase" -> stream(30L), "click" -> stream(45L))),
        OutputMode.Append()))
    def drained(name: String, df: org.apache.spark.sql.DataFrame,
        mode: OutputMode, ckpt: String): Seq[String] = {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      df.sparkSession.table(name).collect().map(_.toString).sorted.toSeq
    }
    def stateFilesOf(ckpt: String): Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$ckpt/state")).map(_.getName)
    }
    val rocks = privateSession(spark, StateBackend.RocksDb: _*)
    families.foreach { case (fam, mk, mode) =>
      val viaDefault = drained(s"sw_${fam}_d", mk(), mode, tmp())
      val rockCkpt = tmp()
      val viaRocks =
        drained(s"sw_${fam}_r", rebind(mk(), rocks), mode, rockCkpt)
      assert(viaDefault.nonEmpty, s"$fam: vacuous fixture — nothing drained")
      assert(viaRocks == viaDefault,
        s"$fam: results changed under the RocksDB provider — " +
          s"default=${viaDefault.size} rows, rocksdb=${viaRocks.size} rows")
      val rf = stateFilesOf(rockCkpt)
      assert(rf.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")),
        s"$fam: no RocksDB artifacts in $rockCkpt/state — provider " +
          "did not engage")
      assert(!rf.exists(_.endsWith(".delta")),
        s"$fam: heap-provider delta files in the RocksDB checkpoint")
    }
  }

  test("synced flush never emits past the slower source's frontier (J1 stream)") {
    // two INDEPENDENT replay streams at different rates: the purchase leg
    // crawls (~8 batches), the click leg drains in one — emission must
    // follow the MIN frontier, i.e. the slow leg (sink.rs:187-197)
    val slowStep = math.max(1L, headBlock / 8)
    val slow = StreamOps.readBlockStream(spark, path,
      blockStep = slowStep, confirmations = 0L)
    val fast = StreamOps.readBlockStream(spark, path,
      blockStep = headBlock + 1, confirmations = 0L)
    val out = StreamOps.flushIncludingSyncedStream(
      Seq("purchase" -> slow, "click" -> fast))
    // per-batch max emitted block (None for empty batches)
    val perBatch =
      new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val q = out.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val m = df.agg(max("block_number")).head()
        if (!m.isNullAt(0)) perBatch.put(id, m.getLong(0))
        ()
      }
      .start()
    val progress =
      try { q.processAllAvailable(); q.recentProgress.toSeq }
      finally q.stop()
    import scala.jdk.CollectionConverters._
    // each source's committed endOffset after batch i (a BlockOffset is
    // its block number); progress lists the sources in leg order —
    // purchase (slow), then click (fast, at the head after batch 0)
    val endsByBatch = progress.map { p =>
      p.batchId -> p.sources.map(_.endOffset.trim.toLong).toSeq
    }.toMap
    assert(endsByBatch(progress.map(_.batchId).min)(1) == headBlock,
      "progress did not list the fast click leg second")
    // the highest block of a leg's own event type it has delivered
    // through end offset `end`: its frontier
    val legBlocks = Seq("purchase", "click").map { t =>
      batchEvents.filter($"event_type" === t).select($"block_number")
        .as[Long].collect().sorted
    }
    def delivered(leg: Int, end: Long): Long =
      legBlocks(leg).takeWhile(_ <= end).lastOption.getOrElse(-1L)
    val emittedByBatch = perBatch.asScala.toMap
    var emittedThrough = -1L
    val checked = endsByBatch.keys.toSeq.sorted.flatMap { batchId =>
      val ends = endsByBatch(batchId)
      // safety: batch i emits nothing past the min frontier AFTER batch
      // i — mid-stream, that is the slow leg's offset
      val emitted = emittedByBatch.get(batchId).map { maxBlk =>
        assert(maxBlk <= ends.min,
          s"batch $batchId emitted block $maxBlk past the slower " +
            s"source's frontier ${ends.min}")
        emittedThrough = math.max(emittedThrough, maxBlk)
        batchId
      }
      // liveness: by the end of batch i, every block both legs have
      // delivered is emitted — no trigger of lag
      val live = ends.indices.map(l => delivered(l, ends(l))).min
      assert(emittedThrough >= live,
        s"by the end of batch $batchId only blocks ≤ $emittedThrough " +
          s"were emitted, but both legs had delivered through $live")
      emitted
    }
    assert(checked.size >= 2, "need ≥2 emitting batches to pin the bound")
    // emission genuinely happened MID-stream (before the final batch),
    // and the drained spine ends exactly at the synced min frontier
    val emitted = perBatch.asScala.toSeq.sortBy(_._1)
    assert(emitted.init.nonEmpty && emitted.init.exists(_._2 >= 0))
    val batchFrontier = batchEvents
      .filter($"event_type".isin("purchase", "click"))
      .groupBy($"event_type").agg(max($"block_number").as("hw"))
      .agg(min($"hw")).head().getLong(0)
    assert(emitted.map(_._2).max == batchFrontier)
  }

  test("registered source with zero events emits its zero cells (seeded J2)") {
    val stream = StreamOps.readBlockStream(spark, path,
      blockStep = 10L, confirmations = 0L, toBlock = Some(30L))
    val out = StreamOps.flushIncludingStream(stream,
      Seq("purchase", "ghost"))
    val q = out.writeStream.format("memory").queryName("seeded_flush")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("seeded_flush")
    // "ghost" never appears in the data: its dense zero cells come from
    // its registration alone
    val ghost = got.filter($"source" === "ghost")
      .select($"block_number", $"n_events", $"sum_value")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(ghost.map(_._1).toSeq == (0L to 30L),
      "ghost spine must densely cover the closed range")
    assert(ghost.forall(c => c._2 == 0L && c._3 == 0.0))
    // and the real source still matches the batch alignment
    val purchase = got.filter($"source" === "purchase")
      .select($"block_number", $"n_events").as[(Long, Long)].collect().toMap
    val expected = EventLog
      .blockAlign(batchEvents.filter($"block_number" <= 30L),
        Seq("purchase"), 0L, 30L)
      .select($"block_number", $"n_events").as[(Long, Long)].collect().toMap
    assert(purchase == expected)
  }

  test("flush cents assert reads registered rows only; unregistered rows " +
      "still close blocks") {
    // the 2-dp contract covers the cells' values: a >2-dp value of an
    // unregistered type never counts, so it must not fail the query
    val stream = StreamOps.readBlockStream(spark, path,
        blockStep = 4L, confirmations = 0L, toBlock = Some(20L))
      .withColumn("value", when($"event_type" === "purchase", $"value")
        .otherwise($"value" + lit(0.001)))
    val out = StreamOps.flushIncludingStream(stream, Seq("purchase"))
    val q = out.writeStream.format("memory").queryName("flush_unregistered_3dp")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("flush_unregistered_3dp")
      .select($"block_number", $"n_events", $"sum_value")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val want = EventLog
      .blockAlign(batchEvents.filter($"block_number" <= 20L), Seq("purchase"), 0L, 20L)
      .select($"block_number", $"n_events", $"sum_value".cast("double"))
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == want)
  }

  test("flush cents fold rejects >2-dp values loudly (2-dp contract)") {
    val stream = StreamOps.readBlockStream(spark, path,
        blockStep = 50L, confirmations = 0L, toBlock = Some(10L))
      .withColumn("value", col("value") + lit(0.001))
    val out = StreamOps.flushIncludingStream(stream, Seq("purchase"))
    val q = out.writeStream.format("memory").queryName("flush_3dp")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("2 decimal places")),
      s"expected the 2-dp contract failure, got: ${messages(e)}")
  }
}
