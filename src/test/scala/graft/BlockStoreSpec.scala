package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventLog
import graft.sources.Retry
import graft.streaming.BlockSink

/** The at-rest block layout (BlockSink's `block_bucket` chunks, one
  * `ingest_batch` epoch store each): roundtrip, partition pruning in the
  * plan, append of later chunks, idempotent replay; retry-policy
  * semantics.
  */
class BlockStoreSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private lazy val events = EventLog.withBlockKeys(
    spark.read.parquet("/root/testdata/sf0.001/events.parquet"))

  private def store() = Files.createTempDirectory("blockstore").toString

  test("write/read roundtrip preserves rows; range scan matches filter") {
    val path = store()
    BlockSink.writeBatch(events, 0L, path, bucketBlocks = 20L)
    val back = spark.read.parquet(path)
    assert(back.count() == events.count())
    val scanned = BlockSink.rangeScan(spark, path, 15L, 47L, bucketBlocks = 20L)
      .select("event_id").as[Long].collect().toSet
    val expected = events.filter($"block_number".between(15L, 47L))
      .select("event_id").as[Long].collect().toSet
    assert(scanned == expected)
  }

  test("chunk predicate prunes partition directories at planning time") {
    val path = store()
    BlockSink.writeBatch(events, 0L, path, bucketBlocks = 20L)
    val scan = BlockSink.rangeScan(spark, path, 0L, 19L, bucketBlocks = 20L)
    assert(scan.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    // only bucket 0 of 5 survives pruning
    assert(scan.select("block_bucket").distinct().as[Long].collect().toSeq == Seq(0L))
  }

  test("append adds later chunks without rewriting earlier ones") {
    val path = store()
    val first = events.filter($"block_number" < 50L)
    val second = events.filter($"block_number" >= 50L)
    BlockSink.writeBatch(first, 0L, path, bucketBlocks = 20L)
    def epoch0Files() =
      org.apache.commons.io.FileUtils.listFiles(new java.io.File(path),
        Array("parquet"), true).toArray.map(_.toString)
        .filter(_.contains("ingest_batch=0")).toSet
    val written = epoch0Files()
    val stamps = written.map(f => f -> new java.io.File(f).lastModified())
    BlockSink.writeBatch(second, 1L, path, bucketBlocks = 20L)
    assert(spark.read.parquet(path).count() == events.count())
    assert(epoch0Files() == written &&
      written.map(f => f -> new java.io.File(f).lastModified()) == stamps,
      "a later epoch rewrote an earlier epoch's files")
  }

  test("a replayed block range leaves the store's row set unchanged") {
    val path = store()
    val range = events.filter($"block_number".between(20L, 59L))
    def rowsOf() = spark.read.parquet(path)
      .select($"event_id", $"block_number").as[(Long, Long)]
      .collect().toSeq.sorted
    BlockSink.writeBatch(range, 5L, path, bucketBlocks = 20L)
    val once = rowsOf()
    assert(once.size == range.count() && once.nonEmpty)
    // a crashed micro-batch is replayed under its own epoch id
    BlockSink.writeBatch(range, 5L, path, bucketBlocks = 20L)
    assert(rowsOf() == once, "the replayed range changed the stored rows")
  }

  test("retry: backoff sequence and eventual success/failure (B3)") {
    var sleeps = List.empty[Long]
    var calls = 0
    val out = Retry.withBackoff(attempts = 4, initialDelayMs = 10L,
      jitter = 0.0, sleep = d => sleeps :+= d) { () =>
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(out == "ok" && calls == 3)
    assert(sleeps == List(10L, 20L)) // exponential from 10 ms

    calls = 0
    val e = intercept[RuntimeException] {
      Retry.withBackoff(attempts = 4, initialDelayMs = 1L,
        jitter = 0.0, sleep = _ => ()) { () =>
        calls += 1; throw new RuntimeException(s"always $calls")
      }
    }
    assert(calls == 4 && e.getMessage == "always 4")
  }
}
