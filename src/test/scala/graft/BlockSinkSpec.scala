package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{EthJsonRpc, JsonRpcTransport, RpcLogSource, SimEthNode}
import graft.streaming.{BlockSink, IngestCompaction, StreamOps}

/** [[SimEthNode]] that records every `eth_getLogs` range it serves under
  * `tag`. The log lives in the companion object, JVM-global: each task
  * fetches through its own deserialized copy of the transport, so a field
  * would only count the copy's calls.
  */
final class RangeRecordingTransport(tag: String, node: SimEthNode)
    extends JsonRpcTransport {
  override def call(requestJson: String): String = {
    val req = new com.fasterxml.jackson.databind.ObjectMapper().readTree(requestJson)
    if (req.path("method").asText() == "eth_getLogs") {
      val f = req.path("params").get(0)
      RangeRecordingTransport.ranges
        .computeIfAbsent(tag, _ => new java.util.concurrent.ConcurrentLinkedQueue)
        .add((EthJsonRpc.parseQuantityHex(f.path("fromBlock").asText()),
          EthJsonRpc.parseQuantityHex(f.path("toBlock").asText())))
    }
    node.call(requestJson)
  }
}

object RangeRecordingTransport {
  val ranges = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]]()
  def requested(tag: String): Seq[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    Option(ranges.get(tag)).toSeq.flatMap(_.asScala)
  }
}

/** S7 write path: idempotent block-bucketed parquet ingest + compaction
  * (reference exactly-once contract, eth_event_stream/src/sink.rs:20).
  */
class BlockSinkSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = TestSpark.tempDir("graft-sink")

  private def rows(blocks: Range, perBlock: Int = 2) =
    blocks.flatMap(b => (0 until perBlock).map(i => (b.toLong, i.toLong, b * 10L + i)))
      .toDF("block_number", "log_index", "v")

  test("replaying the same epoch is a no-op (dynamic overwrite per " +
      "(bucket, epoch))") {
    val out = tmp()
    val batch = rows(0 until 20)
    BlockSink.writeBatch(batch, batchId = 7L, out, bucketBlocks = 16L)
    val first = spark.read.parquet(out)
      .select($"block_number", $"log_index", $"v").as[(Long, Long, Long)]
      .collect().toSet
    BlockSink.writeBatch(batch, batchId = 7L, out, bucketBlocks = 16L)
    val second = spark.read.parquet(out)
      .select($"block_number", $"log_index", $"v").as[(Long, Long, Long)]
      .collect().toSet
    assert(second == first, "replay duplicated rows")
    assert(first.size == 40)
  }

  test("distinct epochs sharing a block bucket never clobber each other") {
    val out = tmp()
    // bucketBlocks=16: epoch 0 writes blocks 0..9 (bucket 0), epoch 1
    // writes 10..19 (buckets 0 AND 1) — both land in bucket 0
    BlockSink.writeBatch(rows(0 until 10), batchId = 0L, out, bucketBlocks = 16L)
    BlockSink.writeBatch(rows(10 until 20), batchId = 1L, out, bucketBlocks = 16L)
    val got = spark.read.parquet(out)
      .select($"block_number").distinct().as[Long].collect().toSet
    assert(got == (0L until 20L).toSet,
      "an epoch's dynamic overwrite clobbered a neighbour epoch in the same bucket")
  }

  test("crash replay: a partial attempt's files are exactly replaced") {
    val out = tmp()
    val full = rows(0 until 20) // epoch 3's true content: buckets 0 and 1
    // crashed attempt flushed only bucket 0's half before dying
    BlockSink.writeBatch(full.filter($"block_number" < 16), batchId = 3L,
      out, bucketBlocks = 16L)
    // Spark replays epoch 3 with the same rows
    BlockSink.writeBatch(full, batchId = 3L, out, bucketBlocks = 16L)
    val got = spark.read.parquet(out)
      .select($"block_number", $"log_index", $"v").as[(Long, Long, Long)]
      .collect().toSeq
    assert(got.size == got.distinct.size, "crash replay duplicated rows")
    assert(got.size == 40, "crash replay dropped rows")
  }

  test("streaming ingest + restart from checkpoint: exactly-once " +
      "(block_number, log_index) coverage in the FILES") {
    val ckpt = tmp()
    val out = tmp()
    def run(head: Long): Unit = {
      RpcLogSource.registerTransport("fake_sink_restart",
        new SimEthNode(head = head, logsPerBlock = 2))
      val stream = spark.readStream.format("graft.sources.RpcLogProvider")
        .option("transport", "fake_sink_restart").option("confirmations", "0")
        .option("blockStep", "4").load()
        .select($"block_number", $"log_index",
          graft.functions.abi.u256($"data").cast("bigint").as("v"))
      val q = BlockSink.start(stream, out, ckpt, bucketBlocks = 8L)
      try q.processAllAvailable() finally q.stop()
    }
    run(head = 13L) // kill mid-chain
    run(head = 25L) // restart, node advanced
    val keys = spark.read.parquet(out)
      .select($"block_number", $"log_index").as[(Long, Long)].collect().toSeq
    val expected = for (b <- 0L to 25L; i <- 0L to 1L) yield (b, i)
    assert(keys.size == keys.distinct.size, "restart re-emitted committed ranges")
    assert(keys.toSet == expected.toSet, "restart dropped or invented ranges")
    // the layout a reader prunes on: block buckets of 8
    val buckets = spark.read.parquet(out)
      .select($"block_bucket".cast("long")).distinct().as[Long].collect().toSet
    assert(buckets == (0L to 3L).toSet)
  }

  test("compactBucket: content identical, files fewer, other buckets intact") {
    val out = tmp()
    // many epochs into bucket 0 → many small file sets
    (0 until 6).foreach(e =>
      BlockSink.writeBatch(rows(e * 2 until (e + 1) * 2), batchId = e.toLong,
        out, bucketBlocks = 16L))
    BlockSink.writeBatch(rows(16 until 18), batchId = 6L, out, bucketBlocks = 16L)
    val before = spark.read.parquet(out)
      .select($"block_number", $"log_index", $"v", $"block_bucket".cast("long"))
      .collect().toSet
    def dataFiles(dir: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir))
    }
    val filesBefore = dataFiles(s"$out/block_bucket=0").size
    assert(filesBefore >= 6, "expected one file set per epoch before compaction")

    BlockSink.compactBucket(spark, out, bucket = 0L, targetFiles = 1)

    val after = spark.read.parquet(out)
      .select($"block_number", $"log_index", $"v", $"block_bucket".cast("long"))
      .collect().toSet
    assert(after == before, "compaction changed the data")
    assert(dataFiles(s"$out/block_bucket=0").size == 1)
    // compacted files live under the sentinel epoch, keeping a uniform
    // two-level layout so root-level partition discovery still works
    assert(new java.io.File(s"$out/block_bucket=0/ingest_batch=-1").isDirectory)
    assert(dataFiles(s"$out/block_bucket=1").nonEmpty, "neighbour bucket touched")
  }

  test("double-compact is content-stable; a reader planned mid-compaction " +
      "still resolves (old files or new, never a torn mix)") {
    val out = tmp()
    (0 until 4).foreach(e =>
      BlockSink.writeBatch(rows(e * 2 until (e + 1) * 2), batchId = e.toLong,
        out, bucketBlocks = 16L))
    BlockSink.compactBucket(spark, out, bucket = 0L, targetFiles = 2)
    // one more epoch lands before the bucket is folded again, so the
    // second compaction rewrites the folded partition
    BlockSink.writeBatch(rows(8 until 10), batchId = 4L, out, bucketBlocks = 16L)
    val before = spark.read.parquet(out)
      .select($"block_number", $"log_index", $"v").collect().toSet
    assert(before.size == 20)
    // a reader whose plan was built BEFORE the second compaction captured
    // the pre-swap file list: it must either return the full consistent
    // set or fail CLEANLY with a missing-file error (retryable) — never a
    // torn mix of old and new files
    val planned = spark.read.parquet(out)
      .select($"block_number", $"log_index", $"v")
    BlockSink.compactBucket(spark, out, bucket = 0L, targetFiles = 1)
    try assert(planned.collect().toSet == before,
      "reader planned across a compaction saw torn data")
    catch { case e: org.apache.spark.SparkException =>
      assert(e.getMessage.contains("FILE_NOT_EXIST") ||
        e.getMessage.contains("does not exist"), e.getMessage)
    }
    // a reader planned AFTER the swap sees the consistent new view
    assert(spark.read.parquet(out)
      .select($"block_number", $"log_index", $"v").collect().toSet == before,
      "double-compact changed the data")
    assert(dataFiles(s"$out/block_bucket=0").size == 1)
    // compacting an already-compacted bucket rewrites nothing
    val files = dataFiles(out).map(_.getPath).sorted
    BlockSink.compactBucket(spark, out, bucket = 0L, targetFiles = 1)
    assert(dataFiles(out).map(_.getPath).sorted == files)
  }

  test("crashed compactor: marker/staged state refuses a new run instead " +
      "of deleting the only copy; recoverBucket restores each crash state") {
    val out = tmp()
    // bucket 0 holds epochs 0 and 1; bucket 1 (epoch 2) keeps the root
    // readable while bucket 0 is mid-crash
    BlockSink.writeBatch(rows(0 until 4), batchId = 0L, out, bucketBlocks = 16L)
    BlockSink.writeBatch(rows(4 until 8), batchId = 1L, out, bucketBlocks = 16L)
    BlockSink.writeBatch(rows(16 until 18), batchId = 2L, out, bucketBlocks = 16L)
    def read() = spark.read.parquet(out)
      .select($"block_number", $"log_index", $"v").as[(Long, Long, Long)]
      .collect().toSeq
    val want = read().toSet
    val bucket = s"$out/block_bucket=0"
    val staging = s"$bucket/.compact_fold.tmp"
    val marker = s"$bucket/_folding"
    def exists(f: String) = new java.io.File(f).exists()
    def write(f: String, text: String) =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f), text)
    def stage(): Unit = spark.read.parquet(bucket)
      .withColumn("ingest_batch", lit(IngestCompaction.Folded)).repartition(1)
      .write.partitionBy("ingest_batch").parquet(staging)
    def dropEpoch(e: Long) = org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(s"$bucket/ingest_batch=$e"))
    // the staging dir is HIDDEN (dot-prefixed, inside the bucket): a
    // reader planned mid-crash must never double-read the bucket nor
    // have the block_bucket partition type flip to string
    def midCrashRead(): Set[(Long, Long, Long)] = {
      val df = spark.read.parquet(out)
      assert(df.schema("block_bucket").dataType !=
        org.apache.spark.sql.types.StringType,
        "a staging sibling flipped the partition type to string")
      val got = df.select($"block_number", $"log_index", $"v")
        .as[(Long, Long, Long)].collect().toSeq
      assert(got.size == got.distinct.size,
        "a reader planned mid-crash double-read the bucket")
      got.toSet
    }
    def recovered(): Unit = {
      BlockSink.recoverBucket(spark, out, bucket = 0L)
      assert(!exists(marker) && !exists(staging), "recover left artifacts")
      assert(read().size == want.size && read().toSet == want,
        "recover did not restore the pre-compaction rows")
    }

    // state A: crash mid-staging — stale tmp, no marker: the staged rows
    // are invisible; recover rolls BACK to the untouched originals
    stage()
    assert(midCrashRead() == want, "staged fold rows leaked into a reader")
    recovered()
    assert(IngestCompaction.listEpochs(spark, bucket) == Seq(0L, 1L))

    // state B: TORN marker (crash mid-publish, terminator missing) — a
    // fresh compact refuses; recover rolls BACK
    stage(); write(marker, "0\n1")
    val exB = intercept[java.io.IOException](
      BlockSink.compactBucket(spark, out, bucket = 0L, targetFiles = 1))
    assert(exB.getMessage.contains("recover"), exB.getMessage)
    recovered()
    assert(IngestCompaction.listEpochs(spark, bucket) == Seq(0L, 1L))

    // state C: complete marker, one original deleted — a fresh compact
    // refuses and must not touch the staged copy; recover rolls FORWARD
    stage(); write(marker, "0\n1\n#end:2"); dropEpoch(0L)
    intercept[java.io.IOException](
      BlockSink.compactBucket(spark, out, bucket = 0L, targetFiles = 1))
    assert(exists(s"$staging/ingest_batch=-1"),
      "a refused run must not touch the staged copy")
    assert(midCrashRead().subsetOf(want))
    recovered()
    assert(IngestCompaction.listEpochs(spark, bucket) == Seq(-1L))

    // state C': every original deleted — the staged fold is the ONLY
    // copy of the bucket; recover must swap it in, never drop it
    BlockSink.writeBatch(rows(8 until 10), batchId = 3L, out, bucketBlocks = 16L)
    val want3 = read().toSet
    stage(); write(marker, "-1\n3\n#end:2"); dropEpoch(-1L); dropEpoch(3L)
    intercept[java.io.IOException](
      BlockSink.compactBucket(spark, out, bucket = 0L, targetFiles = 1))
    assert(midCrashRead() == want3 -- want3.filter(_._1 < 16L),
      "bucket 0 is mid-fold: hidden staging must not serve reads")
    BlockSink.recoverBucket(spark, out, bucket = 0L)
    assert(!exists(marker) && !exists(staging))
    assert(read().size == want3.size && read().toSet == want3,
      "recover lost the staged-only copy")

    // state D: crash after swap-in, before cleanup — recover keeps the
    // folded partition and drops the leftovers
    new java.io.File(staging).mkdirs(); write(marker, "-1\n3\n#end:2")
    BlockSink.recoverBucket(spark, out, bucket = 0L)
    assert(!exists(marker) && !exists(staging))
    assert(read().size == want3.size && read().toSet == want3)

    // recovered state compacts cleanly again
    BlockSink.writeBatch(rows(10 until 12), batchId = 4L, out, bucketBlocks = 16L)
    val want4 = read().toSet
    BlockSink.compactBucket(spark, out, bucket = 0L, targetFiles = 1)
    assert(IngestCompaction.listEpochs(spark, bucket) == Seq(-1L))
    assert(read().size == want4.size && read().toSet == want4)
  }

  private def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  private def bucketDirs(dir: String): Seq[String] =
    Option(new java.io.File(dir).list).toSeq.flatten
      .filter(_.startsWith("block_bucket="))

  private def offsetOf(s: String): Long = if (s == null) -1L else s.trim.toLong

  test("synced flush into writeBatch runs the state stage once per " +
      "micro-batch and writes the memory sink's cells") {
    RpcLogSource.registerTransport("fake_sink_synced",
      new SimEthNode(head = 60L, logsPerBlock = 2))
    def flushed(): DataFrame = {
      def leg(source: String, addr: String, step: Int) =
        spark.readStream.format("graft.sources.RpcLogProvider")
          .option("transport", "fake_sink_synced").option("confirmations", "0")
          .option("address", addr).option("blockStep", step.toString).load()
          .select(lit(source).as("event_type"), $"block_number",
            graft.functions.abi.u256($"data").cast("double").as("value"))
      StreamOps.flushIncludingSyncedStream(Seq(
        "A" -> leg("A", "0x" + "aa" * 20, 10),
        "B" -> leg("B", "0x" + "bb" * 20, 30)))
    }
    val mem = flushed().writeStream.format("memory").queryName("sink_synced_mem")
      .outputMode(OutputMode.Append()).option("checkpointLocation", tmp()).start()
    try mem.processAllAvailable() finally mem.stop()
    val expected = spark.table("sink_synced_mem")
      .select($"block_number", $"source", $"n_events", $"sum_value")
      .as[(Long, String, Long, Double)].collect().toSeq

    val out = tmp()
    val q = flushed().writeStream
      .outputMode(OutputMode.Append()).option("checkpointLocation", tmp())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        BlockSink.writeBatch(batch, id, out, bucketBlocks = 16L)
      }
      .start()
    val progress =
      try { q.processAllAvailable(); q.recentProgress.toSeq }
      finally q.stop()
    val stateful = progress.filter(_.stateOperators.nonEmpty)
    assert(stateful.nonEmpty, "no progress event carried a state operator")
    for (p <- stateful; op <- p.stateOperators)
      assert(op.numStateStoreInstances == op.numShufflePartitions,
        s"batch ${p.batchId}: ${op.numStateStoreInstances} state-store " +
          s"instances for ${op.numShufflePartitions} shuffle partitions — " +
          "the micro-batch ran its state stage more than once")

    val written = spark.read.parquet(out)
      .select($"block_number", $"source", $"n_events", $"sum_value")
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(expected.map(_._1).toSet == (0L to 60L).toSet,
      "vacuous fixture: the memory drain did not flush the whole chain")
    assert(written.sorted == expected.sorted,
      "writeBatch cells differ from the memory sink's drain of the same flush")

    // the flush cells carry no log_index: a bucket of them compacts on
    // block_number alone, into one file with the same cells
    val bucket0 = s"$out/block_bucket=0"
    assert(IngestCompaction.listEpochs(spark, bucket0).nonEmpty)
    BlockSink.compactBucket(spark, out, bucket = 0L, targetFiles = 1)
    assert(IngestCompaction.listEpochs(spark, bucket0) == Seq(-1L))
    assert(dataFiles(bucket0).size == 1,
      s"bucket 0 holds ${dataFiles(bucket0).size} data files after compaction")
    val compacted = spark.read.parquet(out)
      .select($"block_number", $"source", $"n_events", $"sum_value")
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(compacted.sorted == expected.sorted,
      "compaction changed the sink's cells")
  }

  test("stateless ingest: BlockSink.start fetches each planned range once") {
    val tag = "fake_sink_once"
    RangeRecordingTransport.ranges.remove(tag)
    RpcLogSource.registerTransport(tag,
      new RangeRecordingTransport(tag, new SimEthNode(head = 80L, logsPerBlock = 2)))
    val stream = spark.readStream.format("graft.sources.RpcLogProvider")
      .option("transport", tag).option("confirmations", "0")
      .option("blockStep", "20").option("fetchBlocks", "10").load()
      .select($"block_number", $"log_index")
    val q = BlockSink.start(stream, tmp(), tmp(), bucketBlocks = 16L)
    val progress =
      try { q.processAllAvailable(); q.recentProgress.toSeq }
      finally q.stop()
    // one eth_getLogs range per fetchBlocks partition of each batch's
    // (startOffset, endOffset] block span
    val planned = progress.flatMap { p =>
      val (lo, hi) = (offsetOf(p.sources.head.startOffset) + 1,
        offsetOf(p.sources.head.endOffset))
      (lo to hi by 10L).map(a => (a, math.min(a + 9L, hi)))
    }
    assert(planned.flatMap { case (a, b) => a to b }.sorted == (0L to 80L),
      "planned ranges must tile the chain")
    val requested = RangeRecordingTransport.requested(tag)
    val repeats = requested.groupBy(identity).collect {
      case (r, rs) if rs.size > 1 => r -> rs.size
    }
    assert(repeats.isEmpty, s"ranges fetched more than once: $repeats")
    assert(requested.sorted == planned.sorted)
  }

  test("writeBatch of an empty frame writes no data file and no bucket; " +
      "an empty epoch leaves earlier epochs intact") {
    val local = tmp()
    BlockSink.writeBatch(rows(0 until 0), batchId = 0L, local, bucketBlocks = 16L)
    // an empty micro-batch is usually NOT zero partitions but several
    // empty ones (e.g. after a shuffle)
    val split = tmp()
    BlockSink.writeBatch(rows(0 until 8).repartition(4).filter($"v" < 0),
      batchId = 0L, split, bucketBlocks = 16L)
    for (out <- Seq(local, split)) {
      assert(dataFiles(out).isEmpty, s"empty write left parquet files in $out")
      assert(bucketDirs(out).isEmpty, s"empty write left bucket dirs in $out")
    }

    val out = tmp()
    BlockSink.writeBatch(rows(0 until 20), batchId = 0L, out, bucketBlocks = 16L)
    def snapshot() = (
      spark.read.parquet(out)
        .select($"block_number", $"log_index", $"v", $"block_bucket".cast("long"),
          $"ingest_batch".cast("long"))
        .as[(Long, Long, Long, Long, Long)].collect().toSet,
      dataFiles(out).map(_.getPath).sorted)
    val before = snapshot()
    assert(before._1.size == 40)
    BlockSink.writeBatch(rows(0 until 20).filter($"v" < 0), batchId = 1L, out,
      bucketBlocks = 16L)
    assert(snapshot() == before, "an empty epoch changed earlier epochs' rows or files")
  }
}
