package graft

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQueryProgress}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventLog
import graft.sources.{RpcLogSource, SimEthNode}
import graft.streaming.{BlockSink, StreamOps}

/** The synced J2 flush (`flushIncludingSyncedStream`) against the
  * reference's sync contract (sink.rs:187-197, :253-263): a source's
  * `put_multiple` moves its high-water mark and the same call publishes
  * every block up to the min mark, so a block is written by the trigger
  * in which the last leg reads it.
  */
class SyncedFlushSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = TestSpark.tempDir("graft-synced")

  private val Head = 60L
  private val AddrA = "0x" + "aa" * 20
  private val AddrB = "0x" + "bb" * 20

  /** One dense [[SimEthNode]] leg: every block carries one log per
    * contract, so a leg's frontier after a batch is its end offset.
    */
  private def leg(s: SparkSession, transport: String, source: String,
      addr: String, step: Int): DataFrame =
    s.readStream.format("graft.sources.RpcLogProvider")
      .option("transport", transport).option("confirmations", "0")
      .option("address", addr).option("blockStep", step.toString).load()
      .select(lit(source).as("event_type"), col("block_number"),
        graft.functions.abi.u256(col("data")).cast("double").as("value"))

  private def legs(s: SparkSession, transport: String): Seq[(String, DataFrame)] =
    Seq("A" -> leg(s, transport, "A", AddrA, 10),
      "B" -> leg(s, transport, "B", AddrB, 30))

  /** The batch fold of both legs over `[0, head]`: the dense spine. */
  private def batchFold(transport: String, head: Long): Seq[(Long, String, Long, Double)] = {
    def batchLeg(source: String, addr: String) =
      spark.read.format("graft.sources.RpcLogProvider")
        .option("transport", transport).option("confirmations", "0")
        .option("address", addr).load()
        .select(lit(source).as("event_type"), $"block_number",
          graft.functions.abi.u256($"data").cast("double").as("value"))
    EventLog.blockAlign(batchLeg("A", AddrA).unionByName(batchLeg("B", AddrB)),
        Seq("A", "B"), 0L, head)
      .select($"block_number", $"source", $"n_events", $"sum_value".cast("double"))
      .as[(Long, String, Long, Double)].collect().toSeq.sorted
  }

  /** Drain `df` into a fresh `BlockSink` directory (a sink that, unlike
    * the memory sink, restarts from a checkpoint); returns the directory
    * and the query's progress, by batch.
    */
  private def drainTo(df: DataFrame, ckpt: String): (String, Seq[StreamingQueryProgress]) = {
    val out = tmp()
    val q = df.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        BlockSink.writeBatch(batch, id, out, bucketBlocks = 16L)
      }
      .start()
    try { q.processAllAvailable(); (out, q.recentProgress.toSeq.sortBy(_.batchId)) }
    finally q.stop()
  }

  private def drain(df: DataFrame, ckpt: String): Seq[(Long, String, Long, Double)] =
    spark.read.parquet(drainTo(df, ckpt)._1)
      .select($"block_number", $"source", $"n_events", $"sum_value")
      .as[(Long, String, Long, Double)].collect().toSeq.sorted

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  private def minEnd(p: StreamingQueryProgress): Long =
    p.sources.map(s => s.endOffset.trim.toLong).min

  test("synced flush writes each block in the trigger that reads it") {
    val transport = "synced_same_trigger"
    RpcLogSource.registerTransport(transport, new SimEthNode(head = Head, logsPerBlock = 2))
    val (out, progress) =
      drainTo(StreamOps.flushIncludingSyncedStream(legs(spark, transport)), tmp())
    val written = spark.read.parquet(out)
      .select($"ingest_batch".cast("long"), $"block_number", $"source")
      .as[(Long, Long, String)].collect().toSeq
      .groupBy(_._1).map { case (id, rs) => id -> rs.map(r => (r._2, r._3)) }
    val dataBatches = progress.filter(_.numInputRows > 0)
    assert(dataBatches.size >= 3, "vacuous fixture: need several data batches")
    // batch i reads each leg's blocks (start, end]; with dense legs each
    // leg's frontier is its end offset, so batch i must write exactly the
    // blocks past the previous batch's min end, through its own
    var prev = -1L
    for (p <- progress) {
      val cur = minEnd(p)
      val want = for (b <- (prev + 1) to cur; s <- Seq("A", "B")) yield (b, s)
      val got = written.getOrElse(p.batchId, Nil)
      assert(got.sorted == want.sorted,
        s"batch ${p.batchId} read through min end offset $cur (previous " +
          s"$prev) but wrote blocks ${got.map(_._1).distinct.sorted}")
      prev = cur
    }
    assert(prev == Head, s"the drain ended at block $prev, not the head $Head")
    // one state row per query: the reference's sync metadata
    for (p <- progress; op <- p.stateOperators)
      assert(op.numRowsTotal <= 1L,
        s"batch ${p.batchId}: ${op.numRowsTotal} state rows, want one per query")
  }

  test("a checkpoint of the per-source flush state refuses to restart; " +
      "a fresh checkpoint replays to the batch fold") {
    val transport = "synced_old_ckpt"
    RpcLogSource.registerTransport(transport, new SimEthNode(head = 30L, logsPerBlock = 2))
    val ckpt = tmp()
    val old = drain(SyncedFlushSpec.perSourceFlush(legs(spark, transport)), ckpt)
    assert(old.map(_._1).distinct.sorted == (0L to 30L),
      "vacuous fixture: the per-source flush did not drain the chain")
    // the chain grows, so the restart has a batch to plan over the old state
    RpcLogSource.registerTransport(transport, new SimEthNode(head = Head, logsPerBlock = 2))
    val e = intercept[Exception] {
      drain(StreamOps.flushIncludingSyncedStream(legs(spark, transport)), ckpt)
    }
    assert(messages(e).exists(_.contains("STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE")),
      s"expected a state key schema refusal, got: ${messages(e)}")
    val fresh = drain(StreamOps.flushIncludingSyncedStream(legs(spark, transport)), tmp())
    assert(fresh == batchFold(transport, Head))
  }

  test("synced flush refuses a non-min multipleWatermarkPolicy instead of " +
      "emitting wrong cells") {
    val transport = "synced_max_policy"
    RpcLogSource.registerTransport(transport, new SimEthNode(head = Head, logsPerBlock = 2))
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.multipleWatermarkPolicy", "max")
    val built = Try(StreamOps.flushIncludingSyncedStream(legs(s, transport)))
    // a build that is not refused must still drain to the batch fold
    built.foreach { df =>
      assert(drain(df, tmp()) == batchFold(transport, Head),
        "under the max policy the drained cells differ from the batch fold")
    }
    val e = built.failed.get
    assert(e.getMessage.contains("multipleWatermarkPolicy=min"),
      s"unclear refusal: ${e.getMessage}")
  }
}

object SyncedFlushSpec {
  /** Per-source state of the earlier synced flush (one group per source). */
  final case class FlushSrcState(lastFlushed: Long, cells: Map[Long, (Long, Long)])

  /** The earlier synced flush, kept here to write a checkpoint in its
    * state layout: one `flatMapGroupsWithState` group per source, keyed
    * by the source string, closing blocks on Spark's watermark.
    */
  def perSourceFlush(legs: Seq[(String, DataFrame)]): DataFrame = {
    val spark = legs.head._2.sparkSession
    import spark.implicits._
    val rows = legs.map { case (source, df) =>
      df.filter(col("event_type") === source)
        .withColumn("block_ts", timestamp_seconds(col("block_number") + 1))
        .withWatermark("block_ts", "0 seconds")
    }.reduce(_ unionByName _)
      .select(col("event_type").as("source"), col("block_number"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
        col("block_ts"))
      .as[(String, Long, Long, java.sql.Timestamp)]
    val initial = legs.map(_._1).distinct
      .map(s => s -> FlushSrcState(-1L, Map.empty[Long, (Long, Long)]))
      .toDS().groupByKey(_._1).mapValues(_._2)
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[FlushSrcState, (Long, String, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout(), initial) {
        (source: String, it: Iterator[(String, Long, Long, java.sql.Timestamp)],
            state: GroupState[FlushSrcState]) =>
          val st = state.getOption.getOrElse(FlushSrcState(-1L, Map.empty))
          val cells = it.foldLeft(st.cells) { case (m, (_, b, c, _)) =>
            val (n, sum) = m.getOrElse(b, (0L, 0L))
            m + (b -> (n + 1, sum + c))
          }
          val hi = state.getCurrentWatermarkMs() / 1000L - 1L
          val out = ((st.lastFlushed + 1) to hi).map { b =>
            val (n, sum) = cells.getOrElse(b, (0L, 0L))
            (b, source, n, sum)
          }
          state.update(FlushSrcState(math.max(st.lastFlushed, hi),
            cells.filter(_._1 > hi)))
          state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
          out.iterator
      }
      .toDF("block_number", "source", "n_events", "sum_cents")
      .select(col("block_number"), col("source"), col("n_events"),
        (col("sum_cents") / lit(100.0)).as("sum_value"))
  }
}
