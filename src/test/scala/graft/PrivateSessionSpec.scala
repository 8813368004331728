package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Operators and streaming drains never write the caller's session conf:
  * each drain, the `clusterLabels` loop and a RocksDB start run on a
  * private clone that holds its own conf. Every test runs on a fresh session at
  * width 8 — TestSpark's width (4) equals the drain width, so a test on
  * TestSpark could not tell the two apart.
  */
class PrivateSessionSpec extends AnyFunSuite {
  import TestSpark.spark

  private val Width = "spark.sql.shuffle.partitions"
  private val Provider = "spark.sql.streaming.stateStore.providerClass"
  private val Sf = "/root/testdata/sf0.01"

  /** Start a stateful query over `df` on the RocksDB provider the public
    * way: bound to a private clone of `s` that carries the provider. */
  private def startOnRocksDb(s: SparkSession, df: DataFrame)(
      start: DataFrame => StreamingQuery): StreamingQuery = {
    import org.apache.spark.sql.GraftSessionShim.{privateSession, rebind}
    start(rebind(df, privateSession(s, graft.streaming.StateBackend.RocksDb: _*)))
  }

  private def width8(conf: (String, String)*): SparkSession = {
    val s = spark.newSession()
    s.conf.set(Width, "8")
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** Every `Event` of type `E` the listener bus delivers while `body` runs. */
  private def recording[E <: SparkListenerEvent: scala.reflect.ClassTag, T](
      body: => T): (T, Seq[E]) = {
    val seen = new ConcurrentLinkedQueue[E]()
    def keep(e: SparkListenerEvent): Unit = e match {
      case m: E => seen.add(m)
      case _ => ()
    }
    val l = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = keep(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = keep(e)
    }
    val sc = spark.sparkContext
    GraftTestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      GraftTestBus.drain(sc)
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  private def progressOf(s: SparkSession, query: String)
      : (Seq[Row], Seq[StreamingQueryProgress]) = {
    val (rows, events) =
      recording[StreamingQueryListener.QueryProgressEvent, Seq[Row]](
        sorted(SparkEntry.queries(query)(s, Sf)))
    (rows, events.map(_.progress))
  }

  /** The shuffle width a batch aggregation on `s` is planned at. */
  private def plannedWidth(s: SparkSession): Set[Int] = {
    val plan = s.range(0, 64).groupBy((col("id") % 3).as("k")).count()
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    plan.collect { case e: ShuffleExchangeExec =>
      e.outputPartitioning.numPartitions }.toSet
  }

  private def chain(s: SparkSession): (DataFrame, DataFrame) = {
    import s.implicits._
    // a 12-link chain plus a pair: several label rounds before the loop
    // converges, so the loop runs long enough to be observed
    val docs = (1L to 60L).map(Tuple1(_)).toDF("doc_id")
    val pairs = ((1L to 12L).map(i => (i, i + 1)) :+ ((40L, 41L)))
      .toDF("d1", "d2")
    (docs, pairs)
  }

  test("a concurrent caller of the session keeps its width while " +
      "clusterLabels and a streaming gate run") {
    val s = width8()
    def work(): (Seq[Row], Seq[Row]) = {
      val (docs, pairs) = chain(s)
      val labels = sorted(Dedup.clusterLabels(docs, pairs))
      (labels, sorted(SparkEntry.queries("j1_frontier_stream")(s, Sf)))
    }
    val sequential = work()
    assert(sequential._2.nonEmpty, "vacuous fixture: the J1 gate drained nothing")

    val reads = new ConcurrentLinkedQueue[String]()
    val planned = new ConcurrentLinkedQueue[Set[Int]]()
    val done = new AtomicBoolean(false)
    val reader = new Thread(() =>
      while (!done.get()) {
        reads.add(s.conf.get(Width))
        planned.add(plannedWidth(s))
        Thread.sleep(3)
      })
    reader.start()
    val concurrent = try work() finally { done.set(true); reader.join() }

    assert(reads.size > 10, s"the reader sampled only ${reads.size} times")
    val readSet = reads.asScala.toSet
    assert(readSet == Set("8"),
      s"a concurrent reader of the session saw $Width values $readSet")
    val plannedSet = planned.asScala.toSet
    assert(plannedSet == Set(Set(8)),
      s"a concurrent batch query was planned at widths $plannedSet")
    assert(concurrent == sequential,
      "results under a concurrent reader differ from the sequential run")
  }

  test("streaming drains keep the drain width on a width-8 session") {
    val s = width8()
    // j2 (memory sink, stateful flush), a1 distributed (memory sink,
    // stateful, RocksDB), stream_decon_flag (parquet drain, stateless
    // semi join: its events carry no state operator) and the video decon
    // twin (parquet drain, two stateful dedups)
    for (q <- Seq("j2_flush_stream", "a1_distributed_reducer",
        "stream_decon_flag", "stream_mm_decon_video_flag")) {
      val (rows, progress) = progressOf(s, q)
      assert(rows.nonEmpty, s"$q: vacuous, no result rows")
      assert(progress.nonEmpty, s"$q: no progress event reached the bus")
      for (p <- progress; op <- p.stateOperators) {
        assert(op.numShufflePartitions == 4,
          s"$q batch ${p.batchId}: state width ${op.numShufflePartitions}")
        assert(op.numStateStoreInstances == op.numShufflePartitions,
          s"$q batch ${p.batchId}: ${op.numStateStoreInstances} state-store " +
            s"instances for ${op.numShufflePartitions} shuffle partitions")
      }
      if (q != "stream_decon_flag")
        assert(progress.exists(_.stateOperators.nonEmpty),
          s"$q: no progress event carried a state operator")
      if (q == "a1_distributed_reducer")
        assert(progress.flatMap(_.stateOperators)
            .forall(_.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb"))),
          "a1_distributed_reducer's state did not run on the RocksDB provider")
      assert(s.conf.get(Width) == "8", s"$q left the caller's width changed")
    }
    assert(s.conf.getOption(Provider).forall(!_.contains("RocksDB")),
      "the RocksDB provider leaked into the caller's session")
  }

  test("a RocksDB start leaves the caller's state-store provider untouched") {
    val s = width8()
    val own = s.conf.get(Provider)
    val ckpt = TestSpark.tempDir("graft-rocks-race")
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val samples = new java.util.concurrent.atomic.AtomicLong()
    val done = new AtomicBoolean(false)
    val reader = new Thread(() =>
      while (!done.get()) {
        seen.add(s.conf.get(Provider))
        samples.incrementAndGet()
        Thread.onSpinWait()
      })
    reader.start()
    val progress = try {
      while (samples.get() == 0) Thread.onSpinWait()
      val q = startOnRocksDb(s, graft.streaming.StreamOps.dedupStream(
        graft.streaming.StreamOps.readBlockStream(s,
          "/root/testdata/sf0.001/events.parquet",
          blockStep = 20L, confirmations = 0L),
        Seq("event_type"), withinBlocks = 5L)) {
          _.writeStream.format("noop").option("checkpointLocation", ckpt).start()
        }
      try { q.processAllAvailable(); q.recentProgress.toSeq } finally q.stop()
    } finally { done.set(true); reader.join() }

    assert(samples.get() > 10, s"the reader sampled only ${samples.get()} times")
    assert(seen.asScala.toSet == Set(own),
      s"a concurrent reader of the session saw providers ${seen.asScala.toSet}")
    assert(progress.exists(_.numInputRows > 0), "vacuous: the query read nothing")
    val stateFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt, "state"))
      .iterator().asScala.map(_.getFileName.toString).toSeq
    assert(stateFiles.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")),
      s"no RocksDB artifacts in $ckpt/state: the provider did not engage")
  }

  test("a drain's private session leaves no listener on the SparkContext's bus") {
    val s = width8()
    val sc = spark.sparkContext
    def buses(): Int = GraftTestBus.streamingBuses(sc)
    SparkEntry.queries("a1_suffix_reducer")(s, Sf).collect()
    val before = buses()
    for (_ <- 1 to 2) SparkEntry.queries("a1_suffix_reducer")(s, Sf).collect()
    assert(buses() == before,
      "each drain's private session left its streaming bus registered")
    // a STATEFUL query's own session clone (made by Spark at start())
    // registers a bus of its own; the drain detaches that one too
    for (_ <- 1 to 2) SparkEntry.queries("j2_flush_stream")(s, Sf).collect()
    assert(buses() == before,
      "each stateful drain left its query clone's streaming bus registered")
  }

  test("clusterLabels runs its loop at the loop width on a width-8 session") {
    // AQE off on this session only: every shuffle-reading stage then runs
    // exactly the planned number of partitions as tasks (no coalescing,
    // no local shuffle reader)
    val s = width8("spark.sql.adaptive.enabled" -> "false")
    val (docs, pairs) = chain(s)
    val edges = 2L * pairs.count()
    val loopParts = math.max(1L, math.min(8L, edges / 1000000L + 1L))
    val (labels, stages) = recording[SparkListenerStageSubmitted, DataFrame](
      Dedup.clusterLabels(docs, pairs))
    val reducing = stages.map(_.stageInfo).filter(_.parentIds.nonEmpty)
    assert(reducing.size >= 3, s"only ${reducing.size} shuffle stages observed")
    assert(reducing.forall(_.numTasks == loopParts),
      s"loop stages ran ${reducing.map(_.numTasks).distinct} tasks, " +
        s"expected $loopParts")
    assert(s.conf.get(Width) == "8")
    // the returned plan is bound to the caller's session and width
    assert(labels.sparkSession eq s)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // maxIter = 5 rounds carry the chain's min label five links
    assert(got(6L) == 1L && got(13L) == 8L && got(41L) == 40L && got(50L) == 50L)
  }

  test("source guard: main code writes session conf only at allowlisted sites") {
    // (file, key as written on the line, why that write is not a scoped
    // override of a key shared with other callers of the session)
    val allow = Seq(
      ("org/apache/spark/sql/GraftColumnShim.scala", "p.conf.set(k, v)",
        "the private session's own conf; the session is never shared"),
      ("graft/streaming/NioLocalFs.scala", "ContextKey",
        "installs the fork-free file: FileContext; idempotent, never undone"))
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val sites = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("conf.set(") || line.contains("conf.unset(")
      if !line.trim.startsWith("//") && !line.trim.startsWith("*")
    } yield (root.relativize(f).toString, i + 1, line.trim)
    val stray = sites.filterNot { case (f, _, line) =>
      allow.exists { case (af, key, _) => f == af && line.contains(key) }
    }
    assert(sites.nonEmpty, "vacuous: the scan found no conf write at all")
    assert(stray.isEmpty, "session conf written outside the allowlist:\n" +
      stray.map { case (f, n, l) => s"  $f:$n  $l" }.mkString("\n"))
    val stale = allow.filterNot { case (af, key, _) =>
      sites.exists { case (f, _, line) => f == af && line.contains(key) }
    }
    assert(stale.isEmpty, s"allowlist entries match no site: $stale")
  }
}
