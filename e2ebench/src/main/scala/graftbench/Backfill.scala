package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{EngineSession, StreamConfig}
import graft.model.Hex
import graft.sources.{EthJsonRpc, RpcLogSource}

/** `rpc_backfill`: closed loop, one job at a time. Each job is a batch
  * `rpc-logs` scan of the whole seeded range with the two registered
  * contracts pushed into `eth_getLogs`, then `rawLogFilter`, `decodeAll`
  * (a static Transfer and a Memo with a dynamic `string`), then a
  * per-address netflow `groupBy`, collected and checked against the
  * generator's netflow.
  */
object Backfill {
  val Spec = ChainSpec(blocks = 3000, confirmations = 2, cap = 1500,
    burstProb = 0.004, transferMu = 1.0, memoMu = 0.3)
  val FetchBlocks = 100
  val WarmupJobs = 16
  private val Key = "bench_backfill"

  type Flows = Map[String, (Long, Long)]

  def session(spark: SparkSession): EngineSession = {
    val s = new EngineSession(spark, StreamConfig(confirmationBlocks = Spec.confirmations))
    s.register(Chain.TokenA, Chain.TransferDecl)
    s.register(Chain.TokenB, Chain.MemoDecl)
    s
  }

  def rawScan(spark: SparkSession, key: String): DataFrame =
    spark.read.format("graft.sources.RpcLogProvider")
      .option("transport", key)
      .option("fetchBlocks", FetchBlocks.toString)
      .option("confirmations", Spec.confirmations.toString)
      .load()
      .filter(col("address").isin(Hex.address(Chain.TokenA), Hex.address(Chain.TokenB)))

  /** Decoded frame → (address, netflow, note_bytes, n_logs). */
  def netflow(dec: DataFrame): DataFrame = {
    val e = when(col("transfer").isNotNull, array(
        struct(col("transfer.to").as("a"), col("transfer.value").as("d"),
          lit(0L).as("nb"), lit(1L).as("n")),
        struct(col("transfer.from").as("a"), (-col("transfer.value")).as("d"),
          lit(0L).as("nb"), lit(0L).as("n"))))
      .otherwise(array(
        struct(col("memo.sender").as("a"), (-col("memo.amount")).as("d"),
          length(col("memo.note")).cast("long").as("nb"), lit(1L).as("n"))))
    dec.select(explode(e).as("e"))
      .groupBy(col("e.a").as("address"))
      .agg(sum(col("e.d")).as("netflow"), sum(col("e.nb")).as("note_bytes"),
        sum(col("e.n")).as("n_logs"))
  }

  /** Collect a netflow frame: address map plus the total folded log count. */
  def collectFlows(df: DataFrame): (Flows, Long) = {
    val rows = df.select(concat(lit("0x"), lower(hex(col("address")))), col("netflow"),
      col("note_bytes"), col("n_logs")).collect()
    (rows.map(r => r.getString(0) -> (r.getDecimal(1).longValueExact(), r.getLong(2))).toMap,
      rows.map(_.getLong(3)).sum)
  }

  /** The job of a traced run: the same three steps, each persisted and
    * counted under its own span inside `backfill.job`, so the layer times
    * partition the job time. Staging costs time; `trace.overhead_frac`
    * reports how much against the fused job.
    */
  def stagedJob(s: SparkSession, key: String, tracer: Tracer): (Flows, Long) = {
    val sess = session(s)
    def staged(name: String, df: DataFrame): DataFrame = tracer.span(name) {
      val p = df.persist(StorageLevel.MEMORY_ONLY); p.count(); p
    }
    val raw = staged("sources.scan", sess.rawLogFilter(rawScan(s, key)))
    val dec = staged("functions.decode", sess.decodeAll(raw))
    try tracer.span("operators.netflow")(collectFlows(netflow(dec)))
    finally { dec.unpersist(); raw.unpersist() }
  }

  def check(chain: Chain, got: (Flows, Long)): Boolean =
    got._2 == chain.registeredLogs && got._1 == chain.netflow.toMap

  def run(ctx: Ctx): Double = {
    import ctx._
    val (chain, renderS) = render(3)(new Chain(seed, Spec))
    val node = new BenchNode(chain)
    node.setFixedHead(Spec.blocks - 1L + Spec.confirmations)
    BenchNode.register(Key, node)
    RpcLogSource.registerTransport(Key, new BenchTransport(Key))
    def jobOn(s: SparkSession): (Flows, Long) = {
      val sess = session(s)
      collectFlows(netflow(sess.decodeAll(sess.rawLogFilter(rawScan(s, Key)))))
    }
    def job(): (Flows, Long) = if (traced) stagedJob(spark, Key, tracer) else jobOn(spark)

    // warm-up: fills the node's answer memo; the JIT keeps improving job
    // times for about ten jobs on a 4-core host, so warm up that long
    val (_, warmS) = timed { (1 to WarmupJobs).foreach { _ =>
      if (!check(chain, job())) out.fail("warm-up job result mismatch")
    } }
    out.note(f"warm-up $warmS%.2f s")
    out.note(f"chain: ${Spec.blocks} blocks, ${chain.json.length} logs, " +
      f"${chain.registeredLogs} registered, ${chain.renderedBytes / 1e6}%.1f MB rendered, " +
      f"${chain.netflow.size} addresses")

    beginMeasure()
    val lat = collection.mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + seconds * 1000000000L
    var last: (Flows, Long) = null
    while (lat.size < 3 || System.nanoTime() < deadline) {
      out.attempted += 1
      try {
        val (got, s) = timed(tracer.span("backfill.job")(job()))
        lat += s
        if (!check(chain, got)) out.fail(s"job ${lat.size} netflow mismatch")
        last = got
      } catch { case e: Exception => out.fail(s"job threw: $e") }
    }
    endMeasure()

    // checker self-test: a netflow one unit (a cent) off must be rejected
    if (last != null) {
      val (a, (f, nb)) = last._1.head
      if (check(chain, (last._1.updated(a, (f + 1, nb)), last._2)))
        out.fail("checker accepted a netflow one unit off")
    }

    val med = Stats.median(lat.toSeq)
    out.e2e.put("throughput_per_s", (chain.registeredLogs / med, "1/s"))
    out.e2e.put("latency_p50_ms", (med * 1e3, "ms"))
    val (tp, tv) = Stats.tail(lat.toSeq)
    out.e2e.put("latency_tail_ms", (tv * 1e3, "ms"))
    out.note(f"latency tail: p$tp%.1f of ${lat.size} samples")
    out.note(f"jobs=${lat.size} median=${med}%.3fs logs/s=${chain.registeredLogs / med}%.0f")
    out.note("job s: " + lat.map(a => f"$a%.2f").mkString(" "))
    if (traced) Layers.backfill(ctx, chain, node, Key, s => check(chain, jobOn(s)), lat.size)
    renderS + warmS
  }
}
