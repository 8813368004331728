package graft

import org.apache.spark.sql.SparkSession

import graft.operators.Similarity

/** Scale-evidence harness: times the RAW ANN operators — no exact-verify
  * gates — at a given fixture dir, under the FIXED small-corpus IVF
  * sizing (`nlist = 16`, what the oracled gate queries pin) and under
  * the auto `√n` sizing (`nlist = 0`). The oracled `sim_*` queries are
  * deliberately self-VERIFYING (they compare against the O(n²) brute
  * baseline), so they are the wrong thing to time past bench scale;
  * this main measures what a deployment actually runs.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.ScaleProbe [tags…]"`
  * — prints one JSON line of seconds per (operator, sizing). Optional
  * args select a tag subset: at the 100× tier the PROBES whose OUTPUT is
  * corpus-quadratic by corpus semantics (simhash on the low-entropy
  * synthetic vocab) or whose sizing is the deliberately-degenerate
  * fixed-16 control are excluded rather than waited out — the 10× tier
  * already established their scaling stories (PERF.md).
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val only = args.toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shuffle partitions default to the core count (the bench config),
    // overridable: past the 100× tier a 5M-doc sort at 32 partitions
    // spills (156k docs × 64-long sigs per sort buffer); a cluster
    // would run AQE-coalesced hundreds — SPARK_GRAFT_SHUFFLE lets the
    // probe separate spill cost from operator cost
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up (Bench's discipline): JIT + codegen + shuffle machinery —
    // without it a single-tag run bills session startup to its first
    // timed row (measured as a ~5 s floor on otherwise-flat rows)
    spark.range(2000000L).selectExpr("sum(id * 2)").collect()
    spark.range(500000L).selectExpr("id % 1000 as k", "id as v")
      .groupBy("k").sum("v").count()
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = emb.count()
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)

    def time(tag: String)(body: => Long): Option[(String, Double, Long)] = {
      if (only.nonEmpty && !only(tag)) return None
      val t0 = System.nanoTime()
      val rows = CacheScope.withCaches(body)
      // stop the clock BEFORE teardown: unpersisting a cache-heavy
      // probe's disk-backed blocks is hygiene, not operator cost
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Some((tag, sec, rows))
    }

    // a fixture-keyed cache (GateHarness.fixtureScratch, the gates'
    // scratch) at `<root>/<name>`, filled untimed and only when `tag`
    // runs, so a tag subset fills no cache it does not read; "" when
    // `tag` is filtered out (its row never runs)
    def cached(tag: String, name: String)(populate: String => Unit): String =
      if (only.nonEmpty && !only(tag)) ""
      else GateHarness.fixtureScratch(spark, s"$sfDir/documents.parquet",
        s"probe_$name", name)(root => populate(s"$root/$name")) + s"/$name"

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDocs = docs.count()

    // per-tag recall/agreement metrics, attached to the JSON rows that
    // compute one (declared up front — dedup rows record recall too)
    val recalls = scala.collection.mutable.Map.empty[String, Double]

    val dedupRuns = Seq(
      time("dedup_exact_raw") {
        graft.operators.Dedup.exact(docs).count() },
      time("dedup_minhash_raw") {
        // 0.5 is the cut every gated/production call pins
        // (dedup_minhash_lsh, decon_minhash, incremental, streaming) —
        // the operator default 0.7 would time a config no query runs
        graft.operators.Dedup.minHashLshPairs(docs, minJaccard = 0.5).count() },
      time("dedup_minhash_capped") {
        // the band-bucket occupancy guard (maxGramDf's twin): on a
        // degenerate-entropy stratum the uncapped candidate count grows
        // ≈ n²/buckets — this row is the measured evidence the cap
        // restores ~linear growth at the 10×/100× tiers
        graft.operators.Dedup.minHashLshPairs(docs, minJaccard = 0.5,
          maxBucketSize = Some(256)).count() },
      time("dedup_simhash_raw") {
        // EXPLICIT 4×16 since round 14 (the operator default now
        // self-sizes): this row stays the fixed-layout control so its
        // numbers remain comparable across rounds
        graft.operators.Dedup.simHashPairs(docs,
          bands = 4, bandBits = 16).count() },
      time("dedup_simhash_auto_raw") {
        // pure defaults: past 1M docs the bands=0 default must resolve
        // the scaled layout from the corpus count on its own
        graft.operators.Dedup.simHashPairs(docs).count() },
      time("dedup_winnow_raw") {
        graft.operators.Dedup.winnowPairs(docs).count() },
      time("mm_dhash_raw") {
        // the multimodal member of the dedup family: banded gradient
        // hash + capped bucket join + Hamming verify (row-local hash,
        // one shuffle — the MinHash plan shape at image scale).
        // EXPLICIT 4×16 since round 14: this row is the deliberately
        // fixed-key-space control (the measured quadratic) now that
        // the operator default self-sizes
        graft.operators.Multimodal.dHashNearDupPairs(
          graft.operators.Multimodal.attachMedia(docs), maxHamming = 6,
          bands = 4, bandBits = 16,
          maxBucketSize = Some(256)).count() },
      time("mm_dhash_auto_raw") {
        // PURE DEFAULTS, no layout hint: past 1M images the bands=0
        // default must resolve the scaled 2×32+probe layout from the
        // corpus count on its own — this row proves the 1000× tier
        // takes the scaled path with no caller involvement (its time
        // should track mm_dhash_probed_raw, not mm_dhash_raw)
        graft.operators.Multimodal.dHashNearDupPairs(
          graft.operators.Multimodal.attachMedia(docs), maxHamming = 6,
          maxBucketSize = Some(256)).count() },
      time("mm_dhash_probed_raw") {
        // the SCALED layout (BandedHamming.autoLayout past 1M images): 2x32-bit
        // bands + radius-1 probing — same recall guarantee, band-key
        // space 2^32 instead of 2^16, so the coincidental-candidate
        // quadratic that bends mm_dhash_raw at this tier is gone
        graft.operators.Multimodal.dHashNearDupPairs(
          graft.operators.Multimodal.attachMedia(docs), maxHamming = 6,
          bands = 2, bandBits = 32, probeRadius = 1,
          maxBucketSize = Some(256)).count() },
      time("mm_dhash_decoded_raw") {
        // the REAL-decoder variant: in-plan PPM synthesis + pure-JVM
        // decode/resize/hash kernel — all row-local, so the row must
        // track mm_dhash_raw's ~linear shape (the only shuffle is the
        // shared banded join)
        graft.operators.Multimodal.dHashImageNearDupPairs(
          graft.operators.Multimodal.attachPpmImages(docs), maxHamming = 6,
          maxBucketSize = Some(256)).count() },
      time("mm_dhash_incremental_raw") {
        // the incremental deployment shape: a 1%-of-corpus shard joined
        // against the (in-plan) band index of the full corpus under the
        // scaled layout — what an ingest pays per arriving shard, vs
        // the full-recompute rows above
        import org.apache.spark.sql.functions.{col, max => smax}
        val m = (docs.agg(smax(col("doc_id"))).head.getLong(0) / 3 + 1) * 3
        val shard = docs.filter(col("doc_id") % 300 === 0)
          .select((col("doc_id") + m).as("doc_id"), col("text"))
        graft.operators.Multimodal.dHashIncrementalPairs(
          graft.operators.Multimodal.attachMedia(shard),
          graft.operators.Multimodal.dHashBandRows(
            graft.operators.Multimodal.attachMedia(docs),
            bands = 2, bandBits = 32),
          maxHamming = 6, bands = 2, bandBits = 32, probeRadius = 1,
          maxBucketSize = Some(256)).count() },
      time("mm_decon_raw") {
        // image decontamination at scale (round-18): benchmark = every
        // 300th image re-id'd (the incremental row's shard recipe, as
        // an eval suite) — corpus band rows row-local under the scaled
        // layout, benchmark broadcasts with its radius-1 ball into the
        // left-semi, one dedup exchange over the flagged subset. The
        // row should track the corpus's row-local hash pass, NOT the
        // near-dup join rows: clean images probe a hash map and move on
        import org.apache.spark.sql.functions.{col, max => smax}
        val m = (docs.agg(smax(col("doc_id"))).head.getLong(0) / 3 + 1) * 3
        val bench = docs.filter(col("doc_id") % 300 === 0)
          .select((col("doc_id") + m).as("doc_id"), col("text"))
        // single-file fixture split trap (PERF.md): the corpus pass is
        // row-local — fan out so it doesn't serialize on 1-5 splits
        graft.operators.Multimodal.dHashDecontaminateFlag(
          graft.operators.Multimodal.attachMedia(
            docs.repartition(cpus.toInt * 4)),
          graft.operators.Multimodal.attachMedia(bench),
          maxHamming = 6, bands = 2, bandBits = 32,
          probeRadius = 1).count() },
      time("mm_dhash_decoded_probed_raw") {
        // real decoder + scaled layout: the decoded twin of
        // mm_dhash_probed_raw
        graft.operators.Multimodal.dHashImageNearDupPairs(
          graft.operators.Multimodal.attachPpmImages(docs), maxHamming = 6,
          bands = 2, bandBits = 32, probeRadius = 1,
          maxBucketSize = Some(256)).count() },
      time("mm_dhash_png_raw") {
        // the REAL-FORMAT leg (round-15): in-plan PNG transcode (JDK
        // encoder) + magic-sniff ImageIO decode → shared dHash kernel.
        // Everything is row-local (encode AND decode ride one
        // projection), so the row measures raw codec throughput on top
        // of mm_dhash_decoded_probed_raw's join shape — still ~linear,
        // just a higher per-row constant than the PPM parse
        graft.operators.Multimodal.dHashImageNearDupPairs(
          graft.operators.Multimodal.attachPngImages(docs), maxHamming = 6,
          bands = 2, bandBits = 32, probeRadius = 1,
          maxBucketSize = Some(256)).count() },
      time("mm_audio_raw") {
        // the REAL audio member (round-14): in-plan WAV synthesis +
        // pure-JVM RIFF parse → energy/ZCR fingerprint kernel —
        // row-local like the image decode, banded join shared, so the
        // row must track mm_dhash_decoded_*'s ~linear shape. Defaults
        // self-size the layout (scaled past 1M audio docs).
        graft.operators.Multimodal.audioNearDupPairs(
          graft.operators.Multimodal.attachWavAudio(docs), maxHamming = 6,
          maxBucketSize = Some(256)).count() },
      time("mm_video_raw") {
        // the REAL video member (round-14): concatenated-PPM frame
        // parse + per-frame dHash (row-local), exact-key frame-hash
        // self-join (capped) — one shuffle keyed on the 64-bit hash,
        // key space scales with content so no fixed-space quadratic
        graft.operators.Multimodal.videoNearDupPairs(
          graft.operators.Multimodal.attachPpmVideo(docs),
          minSharedFrames = 1, maxBucketSize = Some(256)).count() },
      time("mm_audio_incremental_raw") {
        // the audio ingest deployment shape: a 1%-of-corpus WAV shard
        // against the (in-plan) audio band index of the full corpus —
        // what an arriving shard pays vs the mm_audio_raw recompute
        import org.apache.spark.sql.functions.{col, max => smax}
        val m = (docs.agg(smax(col("doc_id"))).head.getLong(0) / 3 + 1) * 3
        // % 300 == 1 keeps the shard on the audio residue (≡ 1 mod 3),
        // and + m (≡ 0 mod 3) preserves it while staying id-disjoint
        val shard = docs.filter(col("doc_id") % 300 === 1)
          .select((col("doc_id") + m).as("doc_id"), col("text"))
        // EXPLICIT layout on BOTH sides (the dHash incremental row's
        // convention, ADVICE r14 #4): bands=0 on an in-plan index would
        // pay a layout-derivation pass over the corpus fingerprints
        // before the join, blurring the shard-cost number this row
        // exists to isolate
        graft.operators.Multimodal.audioIncrementalPairs(
          graft.operators.Multimodal.attachWavAudio(shard),
          graft.operators.Multimodal.audioFingerprintBandRows(
            graft.operators.Multimodal.attachWavAudio(docs),
            bands = 2, bandBits = 32),
          maxHamming = 6, bands = 2, bandBits = 32, probeRadius = 1,
          maxBucketSize = Some(256)).count() },
      time("mm_video_fuzzy_raw") {
        // frame-level NEAR matching (round-14): banded join over ALL
        // sampled frame rows (4 per video) — the frame count crosses
        // the 1M layout threshold an order of magnitude before the
        // video count does, so the self-sizing default is what keeps
        // this row off the fixed-key-space quadratic
        graft.operators.Multimodal.videoNearDupPairsFuzzy(
          graft.operators.Multimodal.attachPpmVideo(docs),
          maxHamming = 6, maxBucketSize = Some(256)).count() },
      time("mm_audio_aiff_raw") {
        // AIFF container throughput (round-15): in-plan WAV→AIFF
        // transcode (javax.sound encode) + the container-routed
        // fingerprint's javax.sound decode per row, then the shared
        // banded join — the codec-cost row for the audio family, the
        // analogue of mm_dhash_png_raw for images. DEFAULT layout so
        // the pair count is comparable to mm_audio_raw's (an explicit
        // different layout changes the heuristic 4–6 Hamming tail —
        // the documented discontinuity, observed as 124 vs 136 pairs
        // at this tier before this row pinned the same convention)
        graft.operators.Multimodal.audioNearDupPairs(
          graft.operators.Multimodal.attachWavAudio(docs)
            .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("kind"),
              graft.functions.vec.wavToAiff(
                org.apache.spark.sql.functions.col("payload"))
                .as("payload")),
          maxHamming = 6, maxBucketSize = Some(256)).count() },
      time("mm_audio_normalize_raw") {
        // the ONE-TIME ingest cost of the normalize-once recipe
        // (round-16): an ALL-AIFF corpus — the worst case, every row
        // pays the javax.sound decode exactly once — normalized to
        // canonical PCM-16 WAV. Compare against mm_audio_norm_served:
        // this row is paid once, that row is every query thereafter
        graft.operators.Multimodal.normalizeAudio(
          graft.operators.Multimodal.attachWavAudio(docs)
            .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("kind"),
              graft.functions.vec.wavToAiff(
                org.apache.spark.sql.functions.col("payload"))
                .as("payload"))).count() },
      {
        // the SERVED side of normalize-once (round-16): near-dup over a
        // PERSISTED normalized corpus — what every downstream pass pays
        // after ingest normalization. Must track mm_audio_raw's
        // pure-parse shape, NOT mm_audio_aiff_raw's codec-bound one
        // (the round-15 433 s vs 10.2 s finding, operationalized).
        // Fixture-keyed /tmp cache, the dedup_pairs_served convention.
        val normDir = cached("mm_audio_norm_served", "audnorm") { dir =>
          graft.operators.Multimodal.normalizeAudio(
            graft.operators.Multimodal.attachWavAudio(docs)
              .select(org.apache.spark.sql.functions.col("doc_id"),
                org.apache.spark.sql.functions.col("kind"),
                graft.functions.vec.wavToAiff(
                  org.apache.spark.sql.functions.col("payload"))
                  .as("payload")))
            .write.mode("overwrite").parquet(dir)
        }
        time("mm_audio_norm_served") {
          graft.operators.Multimodal.audioNearDupPairs(
            spark.read.parquet(normDir), maxHamming = 6,
            maxBucketSize = Some(256)).count() }
      },
      time("mm_dhash_jpeg_recall") {
        // LOSSY re-encode recall at scale (round-16): block-aligned
        // smooth corpus + a JPEG twin per image, fuzzy join under the
        // self-sizing layout — recall must hold 1.0 (drift ≤ 3 is
        // inside BOTH auto layouts' pigeonhole guarantee), and the
        // row's cost tracks the other decoded dHash rows ~linearly
        // (JPEG encode+decode are row-local)
        import org.apache.spark.sql.functions.{col, max => smax}
        val v = graft.functions.vec
        val m = (docs.agg(smax(col("doc_id"))).head.getLong(0) / 3 + 1) * 3
        val smooth = graft.CacheScope.persist(
          graft.operators.Multimodal.attachPpmImages(docs, 9, 8)
            .select(col("doc_id"), col("kind"),
              v.ppmResize(col("payload"), 72, 64).as("payload")))
        val jpegs = smooth.select((col("doc_id") + m).as("doc_id"),
          col("kind"), v.ppmToJpeg(col("payload")).as("payload"))
        val pairs = graft.operators.Multimodal.dHashImageNearDupPairs(
          smooth.unionByName(jpegs), maxHamming = 6,
          maxBucketSize = Some(256))
        val total = smooth.count()
        val found = smooth
          .select(col("doc_id").as("d1"), (col("doc_id") + m).as("d2"))
          .join(pairs, Seq("d1", "d2"), "left_semi").count()
        require(total > 0, "mm_dhash_jpeg_recall: empty image corpus")
        recalls("mm_dhash_jpeg_recall") = found.toDouble / total
        found },
      time("mm_image_norm_mixed") {
        // mixed GRAY containers through normalize-once (round-17 —
        // mm_audio_norm_served's image twin, VERDICT r16 Next #4): the
        // SAME gray pixels arrive as raw P5, as a true TYPE_BYTE_GRAY
        // PNG (the round-16 raw-raster decode fix, exercised by a real
        // gray container at scale), and as a maxval-85 P5 (the
        // round-16 rescale fix), legs by doc residue. Normalized
        // payloads must be BYTE-IDENTICAL to the all-canonical run
        // (recall records the match rate; byte identity ⇒ identical
        // near-dup pairs, since dHash reads only the payload), then
        // the row times the near-dup pass over the normalized mixed
        // corpus. Base pixels are the maxval-85 quantization rescaled
        // back, so the maxval leg's round trip is exact (85 · 3 = 255).
        import org.apache.spark.sql.functions.{col, when}
        val v = graft.functions.vec
        // single-file fixture → one input split; fan out so the PNG
        // codec pass uses the machine (new row — no cross-round
        // comparability to preserve; the decon rows document the same)
        val m85seed = graft.operators.Multimodal.attachPgmImages(
            docs.repartition(cpus.toInt * 4))
          .select(col("doc_id"), col("kind"),
            v.pgmRescale(col("payload"), 85).as("payload"))
        val canon = graft.CacheScope.persist(
          m85seed.select(col("doc_id"), col("kind"),
            v.pgmRescale(col("payload"), 255).as("payload")))
        val leg = (col("doc_id") / 3) % 3
        val mixed = canon.select(col("doc_id"), col("kind"),
          when(leg === 0, col("payload"))
            .when(leg === 1, v.pgmToGrayPng(col("payload")))
            .otherwise(v.pgmRescale(col("payload"), 85)).as("payload"))
        val normMixed = graft.CacheScope.persist(
          graft.operators.Multimodal.normalizeImages(mixed))
        val normCanon = graft.operators.Multimodal.normalizeImages(canon)
        val total = canon.count()
        require(total > 0, "mm_image_norm_mixed: empty image corpus")
        val matched = normMixed.as("a")
          .join(normCanon.as("b"), Seq("doc_id"))
          .filter(col("a.payload") === col("b.payload")).count()
        recalls("mm_image_norm_mixed") = matched.toDouble / total
        require(matched == total && normMixed.count() == total,
          s"mm_image_norm_mixed: $matched/$total normalized payloads " +
            "match the canonical run — normalization diverged")
        graft.operators.Multimodal.dHashImageNearDupPairs(normMixed,
          maxHamming = 6, maxBucketSize = Some(256)).count() },
      time("mm_video_y4m_raw") {
        // real-container decode throughput (round-15): Y4M stream
        // header + FRAME markers + 4:2:0 plane walk, Y plane hashed
        // directly — row-local like the PPM frame path, so the row
        // must track mm_video_fuzzy_raw's exact-key twin ~linearly
        graft.operators.Multimodal.videoNearDupPairs(
          graft.operators.Multimodal.attachY4mVideo(docs),
          maxBucketSize = Some(256)).count() },
      time("mm_resize_raw") {
        // the REAL transcode (round-14): decode → box resize →
        // re-encode per image, zero shuffles — pure per-row kernel
        // throughput, must scale exactly linearly
        graft.operators.Multimodal.resizePpm(
          graft.operators.Multimodal.attachPpmImages(docs), 6, 5)
          .count() },
      {
        // serving pairs FROM THE PERSISTED BAND INDEX: index built once
        // per fixture (untimed — maintenance cost is the incremental
        // path's story); the row times index-rows-in → pairs-out, i.e.
        // what a deployment pays to re-ask "all near-dup pairs now"
        // without re-shingling a document. The cache dir is keyed on the
        // fixture's CONTENT identity (path + max mtime + total bytes,
        // the fixtureScratch convention) — a doc-count-only key would
        // silently serve a stale index after a fixture regeneration
        // with the same row count
        val idxDir = cached("dedup_pairs_served", "mhidx") { dir =>
          graft.operators.Dedup.minHashBandIndex(docs)
            .write.mode("overwrite").parquet(dir)
        }
        time("dedup_pairs_served") {
          graft.operators.Dedup.minHashLshPairsFromIndex(
            spark.read.parquet(idxDir), minJaccard = 0.5,
            maxBucketSize = Some(256)).count() }
      })

    // ---- streaming-ingest tail cost (round-12): the per-epoch
    // re-list/re-union of the append dir grows with epoch count; the
    // fold-in compaction bounds it. Two identical 48-epoch ingests
    // (base = odd ids, stream = even ids in 48 slices), one folding
    // every 8 epochs — "sec" is the LAST-8-epochs wall time (the tail a
    // year-long ingest lives in), "rows" the final append partition
    // count. Fixed work regardless of fixture SF (slice-sized batches).
    val ingestTail = Seq(None -> "ingest_tail_nofold",
        Some(8) -> "ingest_tail_fold8").flatMap { case (fold, tag) =>
      if (only.nonEmpty && !only(tag)) None
      else {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_probe_it").toString
        try {
          import org.apache.spark.sql.functions.col
          val base = docs.filter(col("doc_id") % 2 === 1)
          graft.operators.Dedup.minHashBandIndex(base)
            .write.parquet(s"$dir/index")
          val baseDf = spark.read.parquet(s"$dir/index")
            .select("doc_id", "sig", "band_idx", "band_key")
          // SPARK_GRAFT_IT_EPOCHS overrides for gap-growth evidence at
          // longer stream lifetimes (PERF.md has 48- and 96-epoch rows)
          val epochs = sys.env.get("SPARK_GRAFT_IT_EPOCHS")
            .map(_.toInt).getOrElse(48)
          var last8 = 0L
          (0 until epochs).foreach { e =>
            val batch = docs.filter(col("doc_id") % 2 === 0 &&
              (col("doc_id") / 2) % epochs === e)
            // timer covers the fold too: the cadence's compaction work
            // is part of the folding configuration's tail cost — timing
            // only the epochs would overstate the fold's win
            val t0 = System.nanoTime()
            fold.filter(m => e > 0 && e % m == 0).foreach { _ =>
              Seq(s"$dir/append", s"$dir/pairs").foreach { d =>
                graft.streaming.IngestCompaction.recover(spark, d)
                graft.streaming.IngestCompaction.compact(spark, d, e - 1L)
              }
            }
            graft.streaming.StreamOps.nearDupIngestEpoch(batch, baseDf,
              s"$dir/append", s"$dir/pairs", e.toLong,
              3, 64, 16, 0.5, None)
            if (e >= epochs - 8) last8 += System.nanoTime() - t0
          }
          val parts = graft.streaming.IngestCompaction
            .listEpochs(spark, s"$dir/append").size.toLong
          Some((tag, last8 / 1e9, parts))
        } finally org.apache.commons.io.FileUtils
          .deleteQuietly(new java.io.File(dir))
      }
    }.map(Option(_))

    val runs = dedupRuns ++ ingestTail ++ Seq(
      time("topk_ivf_fixed16") {
        Similarity.ivfTopK(emb, q, 10, nlist = 16, nprobe = 6).count() },
      time("topk_ivf_auto") {
        Similarity.ivfTopK(emb, q, 10, nprobe = 6).count() },
      time("topk_ivfpq_fixed16") {
        Similarity.ivfPQTopK(emb, q, 10, nlist = 16, nprobe = 6).count() },
      time("topk_ivfpq_auto") {
        Similarity.ivfPQTopK(emb, q, 10, nprobe = 6).count() },
      time("neardup_ivf_fixed16") {
        Similarity.ivfNearDupPairs(emb, 0.45, nlist = 16, nprobe = 3).count() },
      time("neardup_ivf_auto") {
        Similarity.ivfNearDupPairs(emb, 0.45, nprobe = 3).count() },
      time("neardup_ivfpq_fixed16") {
        Similarity.ivfPQNearDupPairs(emb, 0.45, nlist = 16, nprobe = 3).count() },
      time("neardup_ivfpq_auto") {
        Similarity.ivfPQNearDupPairs(emb, 0.45, nprobe = 3).count() },
      time("cluster_assign_raw") {
        // the SAME frozen codebook the oracled sim_cluster_assign pins
        Similarity.assignClusters(emb, SparkEntry.ClusterCentroids).count() },
      time("density_prune_raw") {
        // hardest-half prototype pruning — one cluster-hash exchange
        Similarity.densityPrune(emb, SparkEntry.ClusterCentroids,
          keepFrac = 0.5).count() },
      time("density_prune_approx_raw") {
        // the sort-free threshold path (mega-cluster escape hatch)
        Similarity.densityPruneApprox(emb, SparkEntry.ClusterCentroids,
          keepFrac = 0.5).count() },
      time("token_budget_raw") {
        graft.operators.Sampling
          .tokenBudgetSelect(docs, budget = nDocs * 20).count() },
      time("corpus_build_raw") {
        // the composite deployment chain (exact dedup → gram decon →
        // semantic decon, round-19: the prescreen × early-exit tier →
        // quality/lang gate) — the same definition the oracled
        // pipeline_corpus_build materializes and writes
        graft.operators.CorpusBuild.corpusBuildSelected(docs).count() },
      time("corpus_build_mm_raw") {
        // the MULTIMODAL capstone chain (round-15; round-19 adds the
        // semantic ivf_flag tier + the image-decon stage): exact text
        // dedup ∩ three real-decoder near-dup joins in one cluster
        // resolution ∩ semantic + image decon ∩ quality gate — the
        // same definition pipeline_corpus_build_mm materializes
        graft.operators.CorpusBuild.corpusBuildMmSelected(docs).count() },
      time("mm_decon_report_raw") {
        // the attribution report at scale (round-19): mm_decon_raw's
        // fixture through the INNER-join + eval-keyed count-distinct
        // shape — the delta over mm_decon_raw IS the attribution agg,
        // bounded by the contamination volume (the hit stream), never
        // the corpus
        import org.apache.spark.sql.functions.{col, max => smax}
        val m = (docs.agg(smax(col("doc_id"))).head.getLong(0) / 3 + 1) * 3
        val bench = docs.filter(col("doc_id") % 300 === 0)
          .select((col("doc_id") + m).as("doc_id"), col("text"))
        graft.operators.Multimodal.dHashDecontaminateReport(
          graft.operators.Multimodal.attachMedia(
            docs.repartition(cpus.toInt * 4)),
          graft.operators.Multimodal.attachMedia(bench),
          maxHamming = 6, bands = 2, bandBits = 32,
          probeRadius = 1).count() })

    // ---- recall at scale (VERDICT r10 #3): the oracled gates pin recall
    // floors at fixture scale only; this measures the √n-nlist +
    // constant-nprobe claim where it matters. ~100 modulo-spread sample
    // queries, exact brute top-10 on the sample as ground truth (the
    // brute guard caps the QUERY side — the corpus side is a linear
    // broadcast-probe scan), recall = fraction of exact top-10 rows the
    // approximate index returns. Collects are ≤ 100×10 rows.
    val recallRuns = {
      import org.apache.spark.sql.functions.col
      val sampleMod = math.max(1L, n / 100L)
      val qs = emb.filter(col("vec_id") % sampleMod === 0)
      var exact: Set[(Long, Long)] = Set.empty
      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
        import spark.implicits._
        df.select(col("query_id"), col("vec_id"))
          .as[(Long, Long)].collect().toSet
      }
      def recallRun(tag: String)(approx: => org.apache.spark.sql.DataFrame) = {
        // ground truth is ensured OUTSIDE the timed block: under a tag
        // filter that skips recall_brute_sample, the brute scan must not
        // be billed to the first selected recall tag's "sec"
        if ((only.isEmpty || only(tag)) && exact.isEmpty)
          exact = pairs(Similarity.bruteForceTopK(emb, qs, 10))
        time(tag) {
          // loud-failure convention: an empty exact top-k means a
          // degenerate fixture (no sample queries / no corpus), and a
          // 0/0 recall would print "recall":NaN — invalid JSON
          require(exact.nonEmpty, s"$tag: exact brute-force top-k is " +
            "empty — degenerate fixture, recall undefined")
          val a = pairs(approx)
          recalls(tag) = a.count(exact.contains).toDouble / exact.size
          a.size.toLong
        }
      }
      Seq(
        time("recall_brute_sample") {
          exact = pairs(Similarity.bruteForceTopK(emb, qs, 10))
          exact.size.toLong },
        recallRun("recall_ivf_auto") {
          Similarity.ivfTopK(emb, qs, 10, nprobe = 6) },
        recallRun("recall_ivfpq_auto") {
          Similarity.ivfPQTopK(emb, qs, 10, nprobe = 6, rerank = 4) }) ++ {
        // constant probe FRACTION (the gate queries' 6/16 = 0.375 of
        // lists) instead of constant nprobe: under √n auto-nlist a fixed
        // nprobe probes a shrinking corpus fraction, so recall decays
        // with scale — these rows measure what holding the fraction
        // (nprobe ∝ √n, scan cost ∝ √n per query) buys back.
        // The SAME sizing ivfTopK will use (√n with the [16,4096]
        // clamp) — a re-derived sqrt would drift off the actual list
        // count below 256 vectors and past the 4096 clamp. Computed
        // OUTSIDE the timed blocks: autoNlist runs a full corpus count,
        // which must not be billed to either row's "sec"
        val nlistAuto =
          if (only.isEmpty || only("recall_ivf_fracprobe") ||
              only("recall_ivfpq_fracprobe"))
            Similarity.autoNlist(emb, 0)
          else 0
        Seq(
          recallRun("recall_ivf_fracprobe") {
            Similarity.ivfTopK(emb, qs, 10,
              nprobe = math.max(6, math.ceil(0.375 * nlistAuto).toInt)) },
          // the recall-floor COST question: at the fraction that holds
          // recall, the probed lists are scanned exactly — PQ scans
          // them in 8-byte codes with a small exact rerank instead,
          // so this row measures what compression buys at the same
          // probe budget (the 1000× tier's fracprobe scan is 37.5% of
          // corpus — the dominant serving cost)
          recallRun("recall_ivfpq_fracprobe") {
            Similarity.ivfPQTopK(emb, qs, 10,
              nprobe = math.max(6, math.ceil(0.375 * nlistAuto).toInt),
              rerank = 4) })
      } :+
        time("density_prune_agree") {
          // exact-rank vs approx-threshold agreement where clusters are
          // 1000× the gate fixture's (the oracled gate pins ≥ 0.9 at
          // fixture scale only); distributive join count — no big
          // collect. SYMMETRIC metric |∩| / max(|exact|, |approx|): a
          // degenerate threshold that over-keeps must read < 1, not
          // hide inside a one-sided containment. rows = approx size.
          val exact = Similarity.densityPrune(emb,
            SparkEntry.ClusterCentroids, keepFrac = 0.5).cache()
          val approx = Similarity.densityPruneApprox(emb,
            SparkEntry.ClusterCentroids, keepFrac = 0.5).cache()
          val nEx = exact.count()
          val nAp = approx.count()
          require(nEx > 0, "density_prune_agree: empty exact prune — " +
            "degenerate fixture, agreement undefined")
          val hit = exact
            .join(approx, Seq("vec_id", "cluster")).count()
          exact.unpersist(); approx.unpersist()
          recalls("density_prune_agree") = hit.toDouble / math.max(nEx, nAp)
          nAp
        }
    }

    // ---- in-engine hashed text embeddings at scale (round 16): the
    // text → vector → ANN loop with no external model. The embed pass is
    // one row-local codegen'd projection and must track corpus size
    // ~linearly; serving reuses the ANN machinery over the PERSISTED
    // embeddings — the deployment shape (embed once at ingest, serve
    // every query after), fixture-keyed /tmp cache like the audio
    // normalize-once rows.
    val textEmbedRuns: Seq[Option[(String, Double, Long)]] = {
      import org.apache.spark.sql.functions.col
      def embed = graft.operators.TextOps.hashEmbedUnit(docs)
        .withColumnRenamed("doc_id", "vec_id")
      val embDir = cached("recall_text_embed", "textemb") { dir =>
        embed.write.mode("overwrite").parquet(dir)
      }
      Seq(
        time("text_embed_raw") {
          // the one-time embed pass: kernel + unit normalization
          embed.count() },
        time("decon_semantic_raw") {
          // semantic decon at deployment shape: FULL corpus × a small
          // broadcast benchmark (~0.02% — eval sets are small by
          // nature), integer-exact threshold fused into the join —
          // cost must track corpus × benchmark dots ~linearly
          graft.operators.TextOps.semanticDecontaminate(
            docs, docs.filter(col("doc_id") % 4909 === 0)).count() },
        {
          // served top-k from the persisted embeddings under the
          // FRACPROBE sizing (nprobe ∝ √n — the production recipe the
          // recall_ivf_fracprobe rows established: constant nprobe=6
          // measured 0.53 here at 500k docs, the documented fraction
          // decay); recall vs brute over ~100 modulo-spread sample
          // queries, computed in-row (the mm_dhash_jpeg_recall form —
          // the brute scan is the row's own ground truth). autoNlist
          // runs a corpus count — kept OUTSIDE the timed block.
          val nlistAuto =
            if (only.isEmpty || only("recall_text_embed"))
              Similarity.autoNlist(spark.read.parquet(embDir), 0)
            else 0
          time("recall_text_embed") {
            import spark.implicits._
            val embT = spark.read.parquet(embDir)
            val sampleMod = math.max(1L, nDocs / 100L)
            val qsT = embT.filter(col("vec_id") % sampleMod === 0)
            def pairs(df: org.apache.spark.sql.DataFrame) =
              df.select(col("query_id"), col("vec_id"))
                .as[(Long, Long)].collect().toSet
            val exact = pairs(Similarity.bruteForceTopK(embT, qsT, 10))
            require(exact.nonEmpty, "recall_text_embed: empty exact " +
              "top-k — degenerate fixture, recall undefined")
            val approx = pairs(Similarity.ivfTopK(embT, qsT, 10,
              nprobe = math.max(6, math.ceil(0.375 * nlistAuto).toInt)))
            recalls("recall_text_embed") =
              approx.count(exact.contains).toDouble / exact.size
            approx.size.toLong }
        })
    }

    // ---- IVF-prescreened semantic decon vs the exact tier under a
    // LARGE benchmark (~10k docs — a full eval-SUITE union, the regime
    // where the exact tier's corpus × benchmark dot stream is the last
    // intentional quadratic on the books; VERDICT r16 Next #1). The
    // decon_semantic_raw row above keeps the SMALL-benchmark deployment
    // shape for cross-round comparability; these rows measure the
    // crossover the prescreened tier exists for.
    val deconLshRuns: Seq[Option[(String, Double, Long)]] = {
      import org.apache.spark.sql.functions.{col, count, lit, when}
      val bigMod = math.max(1L, nDocs / 10000L)
      // the scale fixture is ONE ~60 MB parquet file → one input split
      // → the row-local embed/dot pipeline of the exact tier would run
      // on a single core (jstack'd: 1 of 32 workers busy for 24 min).
      // A deployment corpus is thousands of files; the probe measures
      // the OPERATOR, not the fixture's split accident — so the corpus
      // enters through one explicit fan-out repartition (≈2 s for the
      // 60 MB, excluded from nothing: it is billed to every row
      // equally and is noise against the dot pass it unblocks)
      def bigCorpus = docs.repartition(cpus.toInt * 4)
      def bigBench = docs.filter(col("doc_id") % bigMod === 0)
      Seq(
        time("decon_semantic_bigbench_raw") {
          // exact-tier control at the same benchmark size: one dot per
          // corpus × benchmark pair — the cost the prescreened tier must beat
          graft.operators.TextOps.semanticDecontaminate(
            bigCorpus, bigBench).count() },
        time("decon_semantic_flag_raw") {
          // the early-exit tier (binary drop/keep — what a corpus
          // build runs): broadcast LEFT-SEMI, Spark stops at the first
          // matching benchmark doc per corpus row. On this SATURATED
          // fixture (~99% of docs match some eval doc at cos ≥ 0.8)
          // the expected dots per doc collapse from |benchmark| to
          // ~1/P(pair match) — the measured shrink vs the bigbench
          // exact row
          graft.operators.TextOps.semanticDecontaminateFlag(
            bigCorpus, bigBench).count() },
        time("decon_semantic_ivf_raw") {
          // one row-local assignment + one broadcast probe per corpus
          // row; the exact integer verify runs only on ball-cover
          // candidates (output-sensitive — see the operator doc)
          graft.operators.TextOps.semanticDecontaminateIvf(
            bigCorpus, bigBench).count() },
        time("decon_semantic_report_raw") {
          // per-benchmark attribution at scale (round-19): the
          // ball-cover candidate stream aggregated by eval doc — the
          // row should track decon_semantic_ivf_raw (same candidate
          // join, the agg keys on the other side; benchmark-bounded)
          graft.operators.TextOps.semanticDecontaminateReport(
            bigCorpus, bigBench).count() },
        time("decon_semantic_ivf_flag_raw") {
          // the prescreen × early-exit tier on the SATURATED fixture —
          // the capstones' tier (round-19) measured in its WORST
          // regime: nearly every doc matches, so the flag tier's semi
          // join exits almost immediately and the prescreen's
          // quantizer + assignment + radius pass are pure overhead on
          // top. The delta vs decon_semantic_flag_raw IS that
          // overhead; the clustered probes (decon_clust_*) are where
          // the tier wins 6.4×
          graft.operators.TextOps.semanticDecontaminateIvfFlag(
            bigCorpus, bigBench).count() },
        time("decon_semantic_ivf_agree") {
          // flagged-set agreement at scale (in-row ground truth, the
          // mm_dhash_jpeg_recall form): full-outer join of both tiers'
          // outputs; recall = docs with IDENTICAL n_matches / union.
          // Pays both tiers again by construction — the proof row,
          // not the throughput row.
          val ex = graft.operators.TextOps.semanticDecontaminate(
            bigCorpus, bigBench)
          val ap = graft.operators.TextOps.semanticDecontaminateIvf(
            bigCorpus, bigBench)
          val r = ex.as("e").join(ap.as("a"), Seq("doc_id"), "full")
            .agg(count(lit(1)).as("n"),
              count(when(col("e.n_matches") === col("a.n_matches"), 1))
                .as("ok")).head
          val nAll = r.getLong(0); val ok = r.getLong(1)
          require(nAll > 0,
            "decon_semantic_ivf_agree: zero flagged docs — degenerate " +
              "fixture, agreement undefined")
          recalls("decon_semantic_ivf_agree") = ok.toDouble / nAll
          nAll })
    }

    // ---- CLUSTERED-corpus semantic decon (VERDICT r17 Next #1): the
    // saturated synthetic documents fixture is a recall-1 prescreen's
    // WORST case (mean pairwise hashed cosine 0.64, ~5% of all pairs
    // past the 0.8 threshold — nothing geometric can prune where
    // everything crowds the threshold; round 17 measured the IVF tier
    // at 780 s vs exact 542 s there). This section generates the
    // regime deployment corpora actually live in — kTopics TIGHT topic
    // clusters: within-topic cos ≈ 198/212 ≈ 0.93 ≫ 0.8 (docs share a
    // 200-char topic template, differ by a 12-hex-char tail),
    // cross-topic gram sets DISJOINT by construction (per-topic CJK
    // codepoint blocks), so cross-topic hashed cosine is only the
    // 64-dim collision noise (|N(0, 1/64)| ≈ 0.1 ≪ 0.8) — and
    // measures where the ball-cover prescreen actually prunes. The
    // benchmark draws from 10 of the 50 topics → 20% of the corpus is
    // contaminated, 80% clean: the clean docs are where the exact and
    // flag tiers burn their full |benchmark| dots and the IVF tier
    // pays one assignment + zero candidates. Opt-in by explicit tag
    // (the bkt_join convention); 500k docs × 10k benchmark to stay
    // comparable with the round-17 saturated-tier numbers.
    val deconClustRuns: Seq[Option[(String, Double, Long)]] =
      if (!only.exists(_.startsWith("decon_clust"))) Seq.empty
      else {
        import org.apache.spark.sql.functions.{broadcast, col, concat,
          count, lit, sha2, substring, when}
        import spark.implicits._
        val kTopics = 50
        // corpus size env-overridable (round-18): the 1000×-tier run
        // (5M docs) skips the exact control — 50·10⁹ dots is the
        // ~40 min extrapolation, not new information — and measures
        // where the flag-vs-ivf_flag crossover lands when the clean
        // docs' |benchmark|-linear semi scan is 10× the prescreen's
        // fixed cost
        val nCorpus = sys.env.getOrElse("SPARK_GRAFT_DECON_CLUST_N",
          "500000").toLong
        // benchmark size env-overridable too (round-18): the sizing
        // claim's OTHER axis — the flag tier's clean-doc scan is
        // linear in |benchmark| while the prescreen's assignment is
        // √|benchmark| — needs a large-benchmark cell to be measured,
        // not asserted
        val nBench = sys.env.getOrElse("SPARK_GRAFT_DECON_CLUST_BENCH",
          "10000").toLong
        val dir = s"/tmp/graft_probe_deconclust_${nCorpus}_$kTopics" +
          (if (nBench != 10000L) s"_b$nBench" else "")
        // deterministic seeded templates (fixture identity = the
        // parameters in the dir name; content is a pure function of
        // the seed)
        val rnd = new scala.util.Random(18)
        val templates = (0 until kTopics).map { t =>
          val base = 0x4E00 + t * 256
          (0 until 200).map(_ => (base + rnd.nextInt(256)).toChar).mkString
        }
        val tDf = templates.zipWithIndex.map { case (s, t) => (t, s) }
          .toDF("topic", "template")
        def gen(ids: org.apache.spark.sql.DataFrame) = ids
          .join(broadcast(tDf), Seq("topic"))
          .select(col("doc_id"), concat(col("template"), lit(" "),
            substring(sha2(col("doc_id").cast("string"), 256), 1, 12))
            .as("text"))
        if (!new java.io.File(s"$dir/corpus/_SUCCESS").exists()) {
          // the single-file split trap (PERF.md): row-local-heavy
          // passes need real input splits — write cpus*4 files
          gen(spark.range(nCorpus).select(col("id").as("doc_id"),
              (col("id") % kTopics).cast("int").as("topic")))
            .repartition(cpus.toInt * 4)
            .write.mode("overwrite").parquet(s"$dir/corpus")
          // benchmark ids offset past the corpus (a real eval suite is
          // a separate dataset — no id collisions, the self-exclusion
          // predicate stays vacuous)
          gen(spark.range(nBench)
              .select((col("id") + 1000000000L).as("doc_id"),
                (col("id") % 10).cast("int").as("topic")))
            .repartition(cpus.toInt)
            .write.mode("overwrite").parquet(s"$dir/bench")
        }
        def corpus = spark.read.parquet(s"$dir/corpus")
        def bench = spark.read.parquet(s"$dir/bench")
        Seq(
          time("decon_clust_exact_raw") {
            // control: one dot per corpus × benchmark pair, clustered
            // or not — the exact tier can't see the structure
            graft.operators.TextOps.semanticDecontaminate(
              corpus, bench).count() },
          time("decon_clust_flag_raw") {
            // the early-exit tier's weak regime: contaminated docs
            // (20%) exit after ~|bench|/|same-topic bench| ≈ 10 dots,
            // but every CLEAN doc (80%) still scans all 10k benchmark
            // docs before keeping — existence can't prune a negative
            graft.operators.TextOps.semanticDecontaminateFlag(
              corpus, bench).count() },
          time("decon_clust_ivf_raw") {
            // the geometric tier's home regime: benchmark docs
            // replicate only into same-topic balls, so clean-topic
            // corpus docs generate ZERO candidates — cost collapses to
            // the row-local assignment + the 20% contaminated slice.
            // SPARK_GRAFT_DECON_NLIST overrides the sizing for A/B
            // probes (0 = the operator default)
            graft.operators.TextOps.semanticDecontaminateIvf(
              corpus, bench, nlist = sys.env
                .getOrElse("SPARK_GRAFT_DECON_NLIST", "0").toInt).count() },
          time("decon_clust_ivf_flag_raw") {
            // both wins composed: prescreen deletes the clean docs'
            // candidate streams, the semi join exits each contaminated
            // doc at its first verified match — the deployment tier
            // for a clustered corpus with a binary decision
            graft.operators.TextOps.semanticDecontaminateIvfFlag(
              corpus, bench).count() },
          time("decon_clust_pair_ratio") {
            // the pair-stream claim measured (recall field = exact
            // pairs ÷ verified pairs): every doc here embeds (200+
            // chars, zero-norm impossible), so the exact tier's
            // stream is |corpus| × |bench| and the IVF stream is the
            // candidatesOnly count
            val verified = graft.operators.TextOps.semanticDecontaminateIvf(
              corpus, bench, candidatesOnly = true).count()
            require(verified > 0, "decon_clust_pair_ratio: empty " +
              "candidate stream — the ball cover lost every true pair?")
            recalls("decon_clust_pair_ratio") =
              (corpus.count().toDouble * bench.count()) / verified
            verified },
          time("decon_clust_ivf_agree") {
            // flagged-set equality at scale (the proof row, pays both
            // tiers): identical n_matches per doc across the full outer
            val ex = graft.operators.TextOps.semanticDecontaminate(
              corpus, bench)
            val ap = graft.operators.TextOps.semanticDecontaminateIvf(
              corpus, bench)
            val r = ex.as("e").join(ap.as("a"), Seq("doc_id"), "full")
              .agg(count(lit(1)).as("n"),
                count(when(col("e.n_matches") === col("a.n_matches"), 1))
                  .as("ok")).head
            val nAll = r.getLong(0); val ok = r.getLong(1)
            require(nAll > 0, "decon_clust_ivf_agree: zero flagged " +
              "docs — degenerate fixture, agreement undefined")
            recalls("decon_clust_ivf_agree") = ok.toDouble / nAll
            nAll })
      }

    // ---- bucketed-layout amortization: what one layout write buys
    // EVERY subsequent fact⋈fact join. Opt-in by EXPLICIT tag only
    // (lineitem.parquet exists in the ordinary bench fixtures too — an
    // existence guard would silently add timed rows + a /tmp write to
    // every full probe run and skew cross-round comparisons). Broadcast
    // disabled on a private clone of the session so all three rows
    // measure the fact⋈fact shape.
    val bktRuns: Seq[Option[(String, Double, Long)]] =
      if (!only.exists(_.startsWith("bkt_join"))) Seq.empty
      else {
        import org.apache.spark.sql.functions.{col, count, lit}
        import graft.operators.Layout
        require(new java.io.File(s"$sfDir/lineitem.parquet").exists(),
          s"bkt_join_* tags need lineitem/orders parquet in $sfDir " +
            "(gen_tpch_scale_fixture.py)")
        val noBroadcast = org.apache.spark.sql.GraftSessionShim.privateSession(
          spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        val run = java.util.UUID.randomUUID.toString.replace("-", "")
        def li = noBroadcast.read.parquet(s"$sfDir/lineitem.parquet")
          .select("l_orderkey", "l_extendedprice")
        def ord = noBroadcast.read.parquet(s"$sfDir/orders.parquet")
          .select("o_orderkey", "o_orderpriority")
        def joined(l: org.apache.spark.sql.DataFrame,
            o: org.apache.spark.sql.DataFrame): Long =
          l.join(o, col("l_orderkey") === col("o_orderkey"))
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1))).collect().map(_.getLong(1)).sum
        def buildTables(): Long = {
          Layout.ensureBucketedTable(li, s"graft_probe_li_$run",
            "l_orderkey", 32, s"/tmp/graft_probe_bkt/li_$run")
          Layout.ensureBucketedTable(ord, s"graft_probe_ord_$run",
            "o_orderkey", 32, s"/tmp/graft_probe_bkt/ord_$run")
          2L
        }
        // pre-build INSIDE the try: a failure there must still clean the
        // run's tables
        try {
          // a tag filter selecting served without layout must still
          // have the tables — build them untimed
          if (only("bkt_join_served") && !only("bkt_join_layout"))
            buildTables()
          Seq(
            time("bkt_join_raw") {
              // the per-query price WITHOUT layout: both sides shuffle
              joined(li, ord) },
            time("bkt_join_layout") {
              // the one-time layout write (both tables, 32 buckets)
              buildTables() },
            time("bkt_join_served") {
              // every join after the layout: zero fact exchanges
              joined(noBroadcast.table(s"graft_probe_li_$run"),
                noBroadcast.table(s"graft_probe_ord_$run")) })
        } finally {
          spark.sql(s"DROP TABLE IF EXISTS graft_probe_li_$run")
          spark.sql(s"DROP TABLE IF EXISTS graft_probe_ord_$run")
          // delete ONLY this run's subdirs — a concurrent probe owns
          // its own under the same root
          for (d <- Seq(s"li_$run", s"ord_$run"))
            org.apache.commons.io.FileUtils.deleteQuietly(
              new java.io.File(s"/tmp/graft_probe_bkt/$d"))
        }
      }

    // ---- streaming decon twins at scale (round-19, VERDICT r18 Next
    // #7): every BATCH decon member carries 100×/1000× rows; these pin
    // the micro-batch overhead curve of the in-flight drop gates. The
    // corpus drains as a file stream in 8 range-partitioned slices
    // (GateHarness.sliceStream → 8 micro-batches) through the gates'
    // drain (GateHarness.drainToParquet: private session, fork-free
    // checkpoint filesystem, listener buses detached) at the probe's
    // shuffle width; "sec" is the full
    // drain wall including the parquet sink + checkpoint I/O, rows =
    // the flagged count. Benchmark recipe matches mm_decon_raw (every
    // 300th doc), so the delta against the batch rows IS the
    // micro-batch overhead. The text twin runs the stream-static
    // broadcast semi with the fused cos_ge condition (no state store —
    // the decision is per-row); the mm twin's only state is the
    // flagged-id dedup, bounded by the contamination count.
    val streamDeconRuns: Seq[Option[(String, Double, Long)]] = {
      import org.apache.spark.sql.functions.{col, max => smax}
      val tags = Set("stream_decon_flag_raw", "stream_mm_decon_flag_raw")
      if (only.nonEmpty && only.intersect(tags).isEmpty) Seq.empty
      else {
        val m = (docs.agg(smax(col("doc_id"))).head.getLong(0) / 3 + 1) * 3
        val root = java.nio.file.Files
          .createTempDirectory("graft_probe_sd").toString
        try {
          val stream = GateHarness.sliceStream(spark,
            docs.select("doc_id", "text"), "doc_id", 8) { write =>
            write(root); root }
          def drain(out: org.apache.spark.sql.DataFrame,
              dir: String): Long = {
            GateHarness.drainToParquet(spark, out, dir,
              Seq("spark.sql.shuffle.partitions" -> shuffle))
            spark.read.parquet(s"$dir/out").count()
          }
          Seq(
            time("stream_decon_flag_raw") {
              drain(graft.operators.TextOps.semanticDecontaminateFlag(
                stream, docs.filter(col("doc_id") % 300 === 0)),
                s"$root/t") },
            time("stream_mm_decon_flag_raw") {
              val bench = graft.operators.Multimodal.attachMedia(
                docs.filter(col("doc_id") % 300 === 0)
                  .select((col("doc_id") + m).as("doc_id"), col("text")))
              drain(graft.operators.Multimodal.dHashDecontaminateFlag(
                graft.operators.Multimodal.attachMedia(stream), bench,
                maxHamming = 6, bands = 2, bandBits = 32,
                probeRadius = 1, nHint = nDocs), s"$root/m") })
        } finally GateHarness.deleteRecursively(root)
      }
    }

    val ran =
      (runs ++ recallRuns ++ textEmbedRuns ++ deconLshRuns ++
        deconClustRuns ++ bktRuns ++ streamDeconRuns).flatten
    // a tag filter matching nothing is a typo, not an empty result —
    // and must not emit the trailing-comma malformed JSON it used to
    require(only.isEmpty || ran.nonEmpty,
      s"no probe matches tags: ${only.mkString(", ")}")
    val fields = ran.map { case (tag, sec, rows) =>
      val r = recalls.get(tag)
        .map(v => f""",\"recall\":$v%.4f""").getOrElse("")
      f"""\"$tag\":{\"sec\":$sec%.3f,\"rows\":$rows$r}""" }
    println((Seq(s""""n_vecs":$n""", s""""n_docs":$nDocs""") ++ fields)
      .mkString("{", ",", "}"))
    spark.stop()
  }
}
