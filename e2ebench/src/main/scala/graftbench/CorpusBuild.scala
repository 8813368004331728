package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.operators.{Dedup, TextOps}

/** `corpus_build`: closed loop over a seeded documents corpus. One pass runs
  * the two compositions that own a DuckDB oracle, stage by stage (each
  * stage persisted and counted, so the stage spans and funnel counts are
  * the same work in untraced and traced runs):
  *  - `pipeline_corpus_build`: exact dedup → 3-gram decon →
  *    `semanticDecontaminateIvfFlag` → `langQualityTokenStats`, then four
  *    epoch writes with epoch 0 replayed, and the manifest read back;
  *  - `dedup_representatives`: near-dup pairs → `keepRepresentatives`.
  * Results are checked against `SparkEntry.oracleSql` by run.py (DuckDB
  * over the generated parquet), after timing.
  */
object CorpusBuild {
  val Docs = 2500
  val Stages = Seq("exact_dedup", "gram_decon", "semantic_decon", "lang_quality",
    "epoch_write", "near_dup_pairs", "cluster_labels")

  final case class Pass(manifest: Seq[String], reps: Seq[Long], funnel: Seq[(String, Long)])

  private def staged(ctx: Ctx, stage: String, df: DataFrame): (DataFrame, Long) =
    ctx.tracer.span(s"operators.$stage") {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      (p, p.count())
    }

  def pass(ctx: Ctx, docsPath: String, scratch: String): Pass = {
    val spark = ctx.spark
    val docs = spark.read.parquet(docsPath)
    val evalSplit = docs.filter(col("doc_id") % 97 === 0)
    val (corpus, nExact) = staged(ctx, "exact_dedup", docs
      .join(Dedup.exact(docs).select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .filter(col("doc_id") % 97 =!= 0))
    val (deconned, nDecon) = staged(ctx, "gram_decon", Dedup.decontaminate(corpus, evalSplit, n = 3))
    val (selected, nSem) = staged(ctx, "semantic_decon", deconned.join(
      broadcast(TextOps.semanticDecontaminateIvfFlag(deconned, evalSplit)), Seq("doc_id"), "left_anti"))
    val (out, nOut) = staged(ctx, "lang_quality", TextOps.langQualityTokenStats(selected)
      .filter(col("quality") >= 0.5)
      .select(col("doc_id"), col("pred_lang"), col("n_ws_tokens").as("n_tokens")))
    val manifest = ctx.tracer.span("operators.epoch_write") {
      def epochWrite(e: Long): Unit =
        out.filter(pmod(col("doc_id"), lit(4)) === e)
          .withColumn("build_epoch", lit(e))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("build_epoch")
          .parquet(scratch)
      (0L to 3L).foreach(epochWrite)
      epochWrite(0L) // crash replay: rewrites only its own partition
      val written = spark.read.parquet(scratch)
      val eq = written.as("w").join(out.as("p"), Seq("doc_id"), "full")
        .agg((count(when(col("w.pred_lang").isNull || col("p.pred_lang").isNull
          || col("w.pred_lang") =!= col("p.pred_lang")
          || col("w.n_tokens") =!= col("p.n_tokens"), 1)) === 0).as("equal_ok"))
      written.groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .crossJoin(broadcast(eq))
        .collect().map(r => s"""["${r.getString(0)}",${r.getLong(1)},${r.getLong(2)},${r.getBoolean(3)}]""")
        .sorted.toSeq
    }
    Seq(corpus, deconned, selected, out).foreach(_.unpersist())

    val (pairs, nPairs) = staged(ctx, "near_dup_pairs",
      Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.8, maxGramDf = Some(64)))
    val reps = ctx.tracer.span("operators.cluster_labels") {
      Dedup.keepRepresentatives(docs, pairs, maxIter = 5).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
    }
    pairs.unpersist()
    Pass(manifest, reps, Seq("rows_in" -> Docs.toLong, "rows_after_exact" -> nExact,
      "near_dup_pairs" -> nPairs, "rows_after_decon" -> nDecon,
      "rows_after_semantic" -> nSem, "rows_out" -> nOut))
  }

  def writeDocs(spark: SparkSession, docs: Array[Corpus.Doc], path: String): Unit = {
    import spark.implicits._
    spark.createDataset(docs.toSeq).toDF().repartition(4).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(path)
  }

  def run(ctx: Ctx): Double = {
    import ctx._
    val (docs, renderS) = render(3)(Corpus.generate(seed, Docs))
    val docsPath = runDir.resolve("documents").toString
    val (_, writeS) = timed(writeDocs(spark, docs, docsPath))
    var scratchN = 0
    def scratch(): String = { scratchN += 1; runDir.resolve(s"corpus_$scratchN").toString }
    // warm-up: one full pass (JIT, codegen, shuffle machinery)
    val (warm, warmS) = timed(pass(ctx, docsPath, scratch()))
    out.note(f"render+write ${renderS + writeS}%.2f s, warm-up pass $warmS%.2f s")
    out.note(s"corpus: $Docs docs, funnel ${warm.funnel.map { case (k, v) => s"$k=$v" }.mkString(" ")}")

    beginMeasure()
    val lat = collection.mutable.ArrayBuffer.empty[Double]
    val results = collection.mutable.ArrayBuffer.empty[Pass]
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (lat.size < 3 || System.nanoTime() < deadline) {
      out.attempted += 2
      try {
        val (p, s) = timed(tracer.span("corpus.pass")(pass(ctx, docsPath, scratch())))
        lat += s; results += p
        out.note(f"pass ${lat.size}: $s%.2f s")
      } catch { case e: Exception => out.fail(s"pass threw: $e"); out.failed += 1 }
    }
    endMeasure()

    def grouped(f: Pass => String) =
      results.groupBy(f).map { case (rows, ps) => rows -> ps.size }.toSeq
    out.oracle += (("pipeline_corpus_build", SparkEntry.oracleSql("pipeline_corpus_build"),
      grouped(_.manifest.mkString("[", ",", "]"))))
    out.oracle += (("dedup_representatives", SparkEntry.oracleSql("dedup_representatives"),
      grouped(_.reps.map(id => s"[$id]").mkString("[", ",", "]"))))
    if (results.map(_.funnel).distinct.size > 1) out.fail("funnel counts differ between passes")

    val med = Stats.median(lat.toSeq)
    out.e2e.put("throughput_per_s", (Docs / med, "1/s"))
    out.e2e.put("latency_p50_ms", (med * 1e3, "ms"))
    val (tp, tv) = Stats.tail(lat.toSeq)
    out.e2e.put("latency_tail_ms", (tv * 1e3, "ms"))
    out.note(f"latency tail: p$tp%.1f of ${lat.size} samples")
    out.note(f"passes=${lat.size} median=${med}%.3fs docs/s=${Docs / med}%.0f")
    if (traced) {
      // untraced reference: one pass with spans off, after the window
      val (_, refS) = timed(tracer.untraced(pass(ctx, docsPath, scratch())))
      Layers.corpus(ctx, docs.length, docsPath, results.headOption.map(_.funnel).getOrElse(Nil),
        lat.size * refS)
    }
    renderS + writeS + warmS
  }
}
