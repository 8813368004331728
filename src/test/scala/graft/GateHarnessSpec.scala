package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** The shared gate harness: [[GateHarness.fixtureScratch]]'s cache
  * contract (reuse, re-key on a changed fixture, eviction of a
  * marker-less target, one winner under a race, the age-gated prune) and
  * [[GateHarness.sliceStream]]'s one-slice-per-trigger stream, which the
  * gates' mid-run `compactEvery = 2` folds depend on.
  */
class GateHarnessSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** A one-file fixture dir and a tag no other run shares; the tag's /tmp
    * scratch dirs are removed after `body`.
    */
  private def withFixture(body: (String, String) => Unit): Unit = {
    val fixture = TestSpark.tempDir("graft-gh-fixture")
    Files.write(Paths.get(s"$fixture/part-0"), "rows".getBytes(UTF_8))
    val tag = "ghspec" + java.util.UUID.randomUUID.toString.replace("-", "")
    try body(fixture, tag)
    finally tagDirs(tag).foreach(f => GateHarness.deleteRecursively(f.getPath))
  }

  private def tagDirs(tag: String): Seq[java.io.File] =
    Option(new java.io.File("/tmp").listFiles).toSeq.flatten
      .filter(_.getName.startsWith(s"graft_${tag}_cache_"))

  /** Populates `<root>/in` with a data file carrying `content` and the
    * `_SUCCESS` marker, counting the calls.
    */
  private def populator(calls: java.util.concurrent.atomic.AtomicInteger,
      content: => String = "v")(root: String): Unit = {
    calls.incrementAndGet()
    Files.createDirectories(Paths.get(s"$root/in"))
    Files.write(Paths.get(s"$root/in/data"), content.getBytes(UTF_8))
    Files.write(Paths.get(s"$root/in/_SUCCESS"), Array.emptyByteArray)
  }

  private def marked(root: String) = Files.exists(Paths.get(s"$root/in/_SUCCESS"))

  test("fixtureScratch: a second call with the same fixture reuses the dir " +
      "without populating again") {
    withFixture { (fixture, tag) =>
      val calls = new java.util.concurrent.atomic.AtomicInteger
      val first = GateHarness.fixtureScratch(spark, fixture, tag, "in")(
        populator(calls))
      val second = GateHarness.fixtureScratch(spark, fixture, tag, "in")(
        populator(calls))
      assert(first == second)
      assert(calls.get == 1, s"populate ran ${calls.get} times")
      assert(marked(first))
    }
  }

  test("fixtureScratch: a changed fixture gets a new dir; the stale one " +
      "survives the prune for an hour, then goes") {
    withFixture { (fixture, tag) =>
      val calls = new java.util.concurrent.atomic.AtomicInteger
      val old = GateHarness.fixtureScratch(spark, fixture, tag, "in")(
        populator(calls))
      val file = new java.io.File(s"$fixture/part-0")
      assert(file.setLastModified(file.lastModified() + 10000L))
      val fresh = GateHarness.fixtureScratch(spark, fixture, tag, "in")(
        populator(calls))
      assert(fresh != old, "a changed fixture reused the old scratch")
      assert(calls.get == 2)
      assert(marked(fresh))
      assert(Files.exists(Paths.get(old)),
        "a stale dir younger than an hour was pruned")

      assert(new java.io.File(old)
        .setLastModified(System.currentTimeMillis() - 2 * 3600L * 1000))
      assert(GateHarness.fixtureScratch(spark, fixture, tag, "in")(
        populator(calls)) == fresh)
      assert(calls.get == 2)
      assert(!Files.exists(Paths.get(old)), "a stale dir past an hour survived")
      assert(tagDirs(tag).map(_.getPath) == Seq(fresh))
    }
  }

  test("fixtureScratch: a target without the marker is evicted and " +
      "filled again") {
    withFixture { (fixture, tag) =>
      val calls = new java.util.concurrent.atomic.AtomicInteger
      val root = GateHarness.fixtureScratch(spark, fixture, tag, "in")(
        populator(calls, "first"))
      // a half-deleted dir: the data file stays, the marker is gone
      Files.delete(Paths.get(s"$root/in/_SUCCESS"))
      assert(GateHarness.fixtureScratch(spark, fixture, tag, "in")(
        populator(calls, "second")) == root)
      assert(calls.get == 2, "a marker-less target was served as filled")
      assert(marked(root))
      assert(new String(Files.readAllBytes(Paths.get(s"$root/in/data")),
        UTF_8) == "second")
      assert(tagDirs(tag).map(_.getPath) == Seq(root),
        "eviction left a sibling behind")
    }
  }

  test("fixtureScratch: two threads filling the same key leave one marked " +
      "dir and no temp siblings") {
    withFixture { (fixture, tag) =>
      val calls = new java.util.concurrent.atomic.AtomicInteger
      // both threads are inside populate before either renames
      val both = new java.util.concurrent.CyclicBarrier(2)
      def fill(): String =
        GateHarness.fixtureScratch(spark, fixture, tag, "in") { root =>
          populator(calls, Thread.currentThread.getName)(root)
          both.await(60, java.util.concurrent.TimeUnit.SECONDS)
        }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val a = pool.submit(() => fill())
        val b = pool.submit(() => fill())
        val (ra, rb) = (a.get(120, java.util.concurrent.TimeUnit.SECONDS),
          b.get(120, java.util.concurrent.TimeUnit.SECONDS))
        assert(ra == rb)
        assert(calls.get == 2)
        assert(marked(ra))
        assert(tagDirs(tag).map(_.getPath) == Seq(ra),
          s"left ${tagDirs(tag).map(_.getName)}")
      } finally pool.shutdownNow()
    }
  }

  test("sliceStream(…, 4) drains as 4 input batches covering every row") {
    val root = TestSpark.tempDir("graft-gh-slices")
    val frame = spark.range(0L, 200L).select(col("id").as("doc_id"),
      (col("id") * 3).as("v"))
    val stream = GateHarness.sliceStream(spark, frame, "doc_id", 4) { write =>
      write(root); root }
    var query: StreamingQuery = null
    val p = GateHarness.drain(spark, stream) { out =>
      query = out.writeStream.format("memory").queryName("gh_slices")
        .option("checkpointLocation", TestSpark.tempDir("graft-gh-ckpt"))
        .start()
      query
    }
    val fed = query.recentProgress.filter(_.numInputRows > 0)
    assert(fed.length == 4,
      s"input batches: ${fed.map(_.numInputRows).mkString(", ")}")
    assert(fed.map(_.numInputRows).sum == 200L)
    val got = p.table("gh_slices").as[(Long, Long)].collect()
    assert(got.length == 200 && got.toSet == (0L until 200L).map(i => (i, i * 3)).toSet)
  }
}
