package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, TextOps}
import graft.sources.EthJsonRpc

/** Per-layer metrics of a traced run. */
object Layers {
  /** Metrics every traced run of `rpc_backfill` and `synced_hybrid` prints. */
  val All: Seq[(String, String)] = Seq(
    "sources.rpc_calls" -> "count", "sources.rpc_range_splits" -> "count",
    "sources.rpc_useful_frac" -> "ratio", "sources.rpc_bytes_mb" -> "MB",
    "sources.scan_s" -> "s", "sources.parse_ns_per_log" -> "ns",
    "sources.latest_offset_ms_p50" -> "ms", "sources.leg_lag_blocks_max" -> "blocks",
    "functions.decode_s" -> "s", "functions.decode_ns_per_log" -> "ns",
    "operators.netflow_s" -> "s",
    "streaming.triggers" -> "count", "streaming.data_trigger_frac" -> "ratio",
    "streaming.trigger_ms_p50" -> "ms", "streaming.trigger_ms_p90" -> "ms",
    "streaming.query_planning_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.wal_commit_ms_p50" -> "ms", "streaming.commit_offsets_ms_p50" -> "ms",
    "streaming.state_commit_ms_p50" -> "ms", "streaming.state_rows_max" -> "count",
    "streaming.sink_write_ms_p50" -> "ms", "streaming.sink_files" -> "count",
    "streaming.queue_wait_ms_p50" -> "ms",
    "plans.planning_ms" -> "ms",
    "exec.cpu_util" -> "ratio", "exec.tasks" -> "count", "exec.shuffle_write_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.gc_s" -> "s", "exec.backfill_speedup_vs_local1" -> "ratio",
    "exec.peak_rss_mb" -> "MB", "exec.host_steal_frac" -> "ratio",
    "trace.window_s" -> "s", "trace.span_self_s" -> "s", "trace.untraced_s" -> "s",
    "trace.overhead_frac" -> "ratio")
  /** Extra metrics of a traced `corpus_build` run. */
  val Corpus: Seq[(String, String)] =
    Seq("functions.minhash_ns_per_doc" -> "ns", "functions.hash_embed_ns_per_doc" -> "ns") ++
    CorpusBuild.Stages.flatMap(s => Seq(s"operators.${s}_s" -> "s", s"operators.$s.cpu_util" -> "ratio")) ++
    Seq("operators.rows_in", "operators.rows_after_exact", "operators.near_dup_pairs",
      "operators.rows_after_decon", "operators.rows_after_semantic", "operators.rows_out")
      .map(_ -> "count")
  private val unitOf = (All ++ Corpus).toMap

  private def put(ctx: Ctx, name: String, v: Double): Unit = {
    require(unitOf.contains(name), s"undeclared layer metric $name")
    ctx.out.layer.put(name, (v, unitOf(name)))
  }
  /** A metric of the list the workload does not exercise reads 0. */
  private def fill(ctx: Ctx): Unit =
    All.foreach { case (n, u) => if (!ctx.out.layer.contains(n)) ctx.out.layer.put(n, (0.0, u)) }

  /** Force full evaluation of every column (no pruning, no collect). */
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def minOf(n: Int)(body: => Unit): Double =
    (1 to n).map { _ => val t = System.nanoTime(); body; (System.nanoTime() - t) * 1e-9 }.min

  /** Task, planning and coverage totals of the measured window, and the
    * window against the untraced wall time of the same work.
    */
  private def common(ctx: Ctx, topSpans: Seq[String], untracedS: Double): Unit =
    ctx.listeners.foreach { l =>
      val t = l.total
      put(ctx, "exec.cpu_util", t.runMs / (ctx.windowS * 1000.0 * ctx.cores))
      put(ctx, "exec.tasks", t.tasks.toDouble)
      put(ctx, "exec.shuffle_write_mb", t.shuffleWrite / 1e6)
      put(ctx, "exec.spill_mb", t.spill / 1e6)
      put(ctx, "exec.gc_s", t.gcMs / 1000.0)
      put(ctx, "plans.planning_ms", Stats.median(l.planningMs.asScala.map(_.doubleValue).toSeq))
      put(ctx, "exec.host_steal_frac", ctx.windowSteal)
      put(ctx, "trace.window_s", ctx.windowS)
      // self times partition each blocking span's interval: their sum is
      // the part of the window the blocking spans cover
      val spans = ctx.tracer.spans
      val tops = spans.filter(s => topSpans.contains(s.name)).map(_.id).toSet
      val kids = spans.groupBy(_.parent)
      def under(id: Int): Seq[Span] = kids.getOrElse(id, Nil).flatMap(s => s +: under(s.id))
      val self = spans.filter(s => tops(s.id)).flatMap(s => s +: under(s.id))
        .map(ctx.tracer.selfSeconds).sum
      put(ctx, "trace.span_self_s", self)
      put(ctx, "trace.untraced_s", untracedS)
      put(ctx, "trace.overhead_frac", ctx.windowS / untracedS - 1.0)
    }

  private def rpcCounters(ctx: Ctx, node: BenchNode): Unit = {
    val calls = node.calls.get.toDouble
    put(ctx, "sources.rpc_calls", calls)
    put(ctx, "sources.rpc_range_splits", node.splits.get.toDouble)
    put(ctx, "sources.rpc_useful_frac", if (calls == 0) 0.0 else (calls - node.splits.get) / calls)
    put(ctx, "sources.rpc_bytes_mb", node.bytes.get / 1e6)
  }

  /** Median duration of the spans `name` directly under a span `parent`. */
  private def medianUnder(ctx: Ctx, name: String, parent: String): Double = {
    val ps = ctx.tracer.named(parent).map(_.id).toSet
    Stats.median(ctx.tracer.named(name).filter(s => ps(s.parent)).map(_.seconds))
  }

  /** `job` runs one fused (untraced) job on a session and checks it. */
  def backfill(ctx: Ctx, chain: Chain, node: BenchNode, key: String,
      job: SparkSession => Boolean, tracedJobs: Int): Unit = {
    import ctx._
    put(ctx, "sources.scan_s", medianUnder(ctx, "sources.scan", "backfill.job"))
    put(ctx, "functions.decode_s", medianUnder(ctx, "functions.decode", "backfill.job"))
    put(ctx, "operators.netflow_s", medianUnder(ctx, "operators.netflow", "backfill.job"))

    // the fused job untraced: rpc counters over exactly one job, then the
    // untraced job time the traced window is compared with
    node.resetCounters()
    if (!job(spark)) out.fail("untraced reference job result mismatch")
    rpcCounters(ctx, node)
    val untraced = (1 to 5).map { _ =>
      val (ok, s) = timed(job(spark))
      if (!ok) out.fail("untraced reference job result mismatch")
      s
    }
    val untracedJob = Stats.median(untraced)
    common(ctx, Seq("backfill.job"), tracedJobs * untracedJob)

    // decodeAll over the persisted raw frame minus a plain projection
    val sess = Backfill.session(spark)
    val rawP = sess.rawLogFilter(Backfill.rawScan(spark, key)).persist(StorageLevel.MEMORY_ONLY)
    rawP.count()
    val cols = Seq("block_number", "log_index", "address", "topic0", "topic1", "topic2", "topic3", "data")
    val plainS = minOf(3)(noop(rawP.select(cols.map(col): _*)))
    val decS = minOf(3)(noop(sess.decodeAll(rawP)))
    put(ctx, "functions.decode_ns_per_log", math.max(0.0, decS - plainS) * 1e9 / chain.registeredLogs)
    rawP.unpersist()

    // EthJsonRpc.parseLogs over the workload's own answers, warmed
    val answers = node.answers.filter(_.contains("\"result\":[")).toArray
    def parseAll(): Long = answers.map(a => EthJsonRpc.parseLogs(a).size.toLong).sum
    parseAll()
    var n = 0L; val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 1000000000L) n += parseAll()
    put(ctx, "sources.parse_ns_per_log", (System.nanoTime() - t0).toDouble / n)

    // the same job on a single-threaded session
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val one = SparkSession.builder().master("local[1]").appName("graft-e2ebench-local1")
      .config("spark.sql.shuffle.partitions", "1").config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", runDir.resolve("spark-local1").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse1").toString)
      .getOrCreate()
    one.sparkContext.setLogLevel("ERROR")
    job(one)
    val oneS = minOf(1)(if (!job(one)) out.fail("local[1] job result mismatch"))
    put(ctx, "exec.backfill_speedup_vs_local1", oneS / untracedJob)
    fill(ctx)
  }

  def synced(ctx: Ctx, node: BenchNode, live: Synced.Running,
      measured: Set[java.util.UUID], untracedS: Double,
      t0Ms: Long, t0: Long, target: Long, last: Long, due: Long => Long): Unit = {
    common(ctx, Seq("streaming.catchup", "streaming.tail"), untracedS)
    rpcCounters(ctx, node)
    val ps = ctx.listeners.map(_.progress.asScala.toSeq).getOrElse(Nil).filter(p => measured(p.id))
    def d(k: String) = ps.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))
    put(ctx, "streaming.triggers", ps.size.toDouble)
    put(ctx, "streaming.data_trigger_frac",
      if (ps.isEmpty) 0.0 else ps.count(_.numInputRows > 0).toDouble / ps.size)
    put(ctx, "streaming.trigger_ms_p50", Stats.pct(d("triggerExecution"), 50))
    put(ctx, "streaming.trigger_ms_p90", Stats.pct(d("triggerExecution"), 90))
    put(ctx, "sources.latest_offset_ms_p50", Stats.pct(d("latestOffset"), 50))
    put(ctx, "streaming.query_planning_ms_p50", Stats.pct(d("queryPlanning"), 50))
    put(ctx, "streaming.add_batch_ms_p50", Stats.pct(d("addBatch"), 50))
    put(ctx, "streaming.wal_commit_ms_p50", Stats.pct(d("walCommit"), 50))
    put(ctx, "streaming.commit_offsets_ms_p50", Stats.pct(d("commitOffsets"), 50))
    val st = ps.flatMap(_.stateOperators.headOption)
    put(ctx, "streaming.state_commit_ms_p50", Stats.pct(st.map(_.commitTimeMs.toDouble), 50))
    put(ctx, "streaming.state_rows_max", if (st.isEmpty) 0.0 else st.map(_.numRowsTotal).max.toDouble)
    def off(s: String) = if (s == null) -1L else s.trim.toLong
    val lags = ps.map(p => p.sources.map(s => off(s.endOffset))).filter(_.length > 1)
      .map(e => (e.max - e.min).toDouble)
    put(ctx, "sources.leg_lag_blocks_max", if (lags.isEmpty) 0.0 else lags.max)
    put(ctx, "streaming.sink_write_ms_p50",
      Stats.pct(live.writes.values.asScala.map { case (a, b) => (b - a) * 1e-6 }.toSeq, 50))
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(live.sink))
    try put(ctx, "streaming.sink_files", files.iterator.asScala.count(_.toString.endsWith(".parquet")).toDouble)
    finally files.close()
    // queue wait: block due → start of the trigger that read it on the
    // later of the two legs (tail query only)
    val tail = ps.filter(_.id == live.q.id).map { p =>
      (java.time.Instant.parse(p.timestamp).toEpochMilli, p.sources.map(s => (off(s.startOffset), off(s.endOffset))))
    }
    val waits = ((target + 1) to last).flatMap { b =>
      val starts = (0 until 2).map(leg => tail.find { case (_, r) => r.length > leg && r(leg)._1 < b && b <= r(leg)._2 }.map(_._1))
      if (starts.forall(_.isDefined)) Some((starts.flatten.max - (t0Ms + (due(b) - t0) / 1000000L)).toDouble) else None
    }
    put(ctx, "streaming.queue_wait_ms_p50", Stats.pct(waits, 50))
    fill(ctx)
  }

  def corpus(ctx: Ctx, nDocs: Int, docsPath: String, funnel: Seq[(String, Long)],
      untracedS: Double): Unit = {
    import ctx._
    val passes = tracer.named("corpus.pass")
    common(ctx, Seq("corpus.pass"), untracedS)
    val passIds = passes.map(_.id).toSet
    CorpusBuild.Stages.foreach { s =>
      val spans = tracer.named(s"operators.$s").filter(sp => passIds(sp.parent))
      put(ctx, s"operators.${s}_s", Stats.median(spans.map(_.seconds)))
      put(ctx, s"operators.$s.cpu_util", Stats.median(spans.map(sp =>
        tracer.execUnder(sp.id).runMs / (sp.seconds * 1000.0 * cores))))
    }
    funnel.foreach { case (k, v) => put(ctx, s"operators.$k", v.toDouble) }
    val docs = spark.read.parquet(docsPath).persist(StorageLevel.MEMORY_ONLY)
    docs.count()
    val mh = docs.select(col("doc_id"), Dedup.minHashSignature(col("text")).as("sig"))
    noop(mh)
    put(ctx, "functions.minhash_ns_per_doc", minOf(3)(noop(mh)) * 1e9 / nDocs)
    val he = TextOps.hashEmbedUnit(docs)
    noop(he)
    put(ctx, "functions.hash_embed_ns_per_doc", minOf(3)(noop(he)) * 1e9 / nDocs)
    docs.unpersist()
    fill(ctx)
  }
}
