package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventLog
import graft.sources.{BlockStore, Retry}

/** Partitioned block-store layout: roundtrip, partition pruning in the
  * plan, append of later chunks; retry-policy semantics.
  */
class BlockStoreSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private lazy val events = EventLog.withBlockKeys(
    spark.read.parquet("/root/testdata/sf0.001/events.parquet"))

  test("write/read roundtrip preserves rows; range scan matches filter") {
    val path = Files.createTempDirectory("blockstore").toString
    BlockStore.write(events, path, blockStep = 20L)
    val back = BlockStore.read(spark, path)
    assert(back.count() == events.count())
    val scanned = BlockStore.rangeScan(spark, path, 15L, 47L, blockStep = 20L)
      .select("event_id").as[Long].collect().toSet
    val expected = events.filter($"block_number".between(15L, 47L))
      .select("event_id").as[Long].collect().toSet
    assert(scanned == expected)
  }

  test("chunk predicate prunes partition directories at planning time") {
    val path = Files.createTempDirectory("blockstore").toString
    BlockStore.write(events, path, blockStep = 20L)
    val plan = BlockStore.rangeScan(spark, path, 0L, 19L, blockStep = 20L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    // only chunk 0 of 5 survives pruning
    val scan = BlockStore.rangeScan(spark, path, 0L, 19L, blockStep = 20L)
    assert(scan.select("chunk_id").distinct().as[Long].collect().toSeq == Seq(0L))
  }

  test("append adds later chunks without rewriting earlier ones") {
    val path = Files.createTempDirectory("blockstore").toString
    val first = events.filter($"block_number" < 50L)
    val second = events.filter($"block_number" >= 50L)
    BlockStore.write(first, path, blockStep = 20L)
    BlockStore.write(second, path, blockStep = 20L, mode = "append")
    assert(BlockStore.read(spark, path).count() == events.count())
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
