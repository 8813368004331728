package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The corpus-build selection chains behind `pipeline_corpus_build` and
  * `pipeline_corpus_build_mm`, shared with ScaleProbe's
  * `corpus_build_raw` / `corpus_build_mm_raw` rows: one definition each.
  */
private[graft] object CorpusBuild {

  /** The corpus-build selection chain (`pipeline_corpus_build`'s
    * operator composition, and ScaleProbe's `corpus_build_raw` scale
    * row — one definition): exact dedup (min-id winners) → benchmark
    * decontamination (mod-97 eval split, 3-grams) → SEMANTIC
    * decontamination over the in-engine hashed embeddings (round-19:
    * the PRESCREEN × EARLY-EXIT tier `semanticDecontaminateIvfFlag` —
    * round-18 measured it 6.4× cheaper than the plain flag tier at
    * the 5M clustered tier and parity at 500k, so the capstone runs
    * the measured-best tier; flagged set is IDENTICAL by the
    * recall-1 theorem, so the oracle replay is unchanged) → quality
    * gate ≥ 0.5 + language ID → `(doc_id, pred_lang, n_tokens)`. The
    * semantic stage runs over post-gram-decon SURVIVORS only (docs the
    * gram stage already dropped never embed), as do the lang+quality
    * and token-stats passes. `semCorpusKey` keys the quantizer's
    * centroid cache (the query passes the fixture key; probes may
    * leave it None to retrain per call).
    */
  def corpusBuildSelected(docs: DataFrame,
      semCorpusKey: Option[String] = None): DataFrame = {
    val winners = graft.operators.Dedup.exact(docs)
      .select(col("keep_id").as("doc_id"))
    val corpus = docs.join(winners, Seq("doc_id"), "left_semi")
      .filter(col("doc_id") % 97 =!= 0)
    val evalSplit = docs.filter(col("doc_id") % 97 === 0)
    val deconned = graft.operators.Dedup.decontaminate(corpus,
      evalSplit, n = 3)
    val semFlagged = graft.operators.TextOps.semanticDecontaminateIvfFlag(
      deconned, evalSplit, corpusKey = semCorpusKey)
    // the survivor frame persists: it feeds BOTH the lang/quality pass
    // and the token-stats pass below, and unpersisted each side re-ran
    // the whole exact-dedup → gram-decon → semantic-anti-join chain
    // (the corpusBuildMmSelected `base`-persist convention)
    val selected = graft.CacheScope.persist(
      deconned.join(broadcast(semFlagged), Seq("doc_id"), "left_anti"),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // lang/quality and token stats are both row-local: ONE survivor
    // pass (langQualityTokenStats) replaces two scans + an id-keyed
    // join — expressions identical, results bit-identical
    graft.operators.TextOps.langQualityTokenStats(selected)
      .filter(col("quality") >= 0.5)
      .select(col("doc_id"), col("pred_lang"),
        col("n_ws_tokens").as("n_tokens"))
  }

  /** The MULTIMODAL corpus-build selection (`pipeline_corpus_build_mm`'s
    * composition and ScaleProbe's `corpus_build_mm_raw` scale row — one
    * definition): re-id every 5th doc of every kind as an arriving
    * duplicate, then exact text dedup (min-id winners) ∩ media
    * near-dup representatives — a DELIBERATELY MIXED-CONTAINER corpus
    * (round-16: every other image arrives as a PNG transcode of the
    * same pixels, every other WAV as its AIFF transcode; videos stay
    * REAL YUV4MPEG2) run through the NORMALIZE-ONCE recipe
    * ([[graft.operators.Multimodal.normalizeImages]] /
    * `normalizeAudio`) so the near-dup joins downstream see ONE
    * canonical format per kind and pay pure-parse decode cost — the
    * deployment shape the round-15 AIFF cost finding (433 s/pass
    * javax.sound vs 10.2 s pure parse at 100×) prescribes, now
    * exercised end to end. Normalization is bit-preserving in the
    * fingerprint domain (the round-16 `mm_audio_normalize*` and
    * round-15 `mm_image_normalize` gates), so pairs, clusters, and the
    * manifest are IDENTICAL to the canonical-fixture run. Per-kind
    * pair sets union into ONE cluster resolution ∩ the lang/quality
    * gate ∩ (round-17) the SEMANTIC decontamination gate: the mod-97
    * eval split (by ORIGINAL id — a re-id'd duplicate carries its
    * source doc's verdict) is excluded and every doc whose hashed-
    * embedding cosine reaches 4/5 against any eval doc is dropped via
    * (round-19) the measured-best PRESCREEN × EARLY-EXIT tier
    * (`semanticDecontaminateIvfFlag` — flagged set identical to the
    * flag tier's by the recall-1 theorem, oracle unchanged) — the
    * text→vector→flag loop running inside the multimodal build —
    * ∩ (round-19) the IMAGE decontamination gate: corpus images
    * within Hamming 6 (byte dHash over the canonical-P6 body, the
    * pinned 4×16 layout) of ANY eval-split image are dropped via
    * `dHashDecontaminateFlag` — the media leg now decontaminates, not
    * just deduplicates, and the oracle replays the hash/band/verify
    * relationally
    * → `(doc_id, kind, pred_lang, n_tokens)`.
    */
  def corpusBuildMmSelected(docs: DataFrame,
      semCorpusKey: Option[String] = None,
      maxIdHint: Option[Long] = None): DataFrame = {
    // the re-id offset needs max(doc_id): the query passes the footer-
    // stats value (footerMaxId — no plan-time scan job); probe callers
    // without a fixture path fall back to the aggregate
    val maxId = maxIdHint.getOrElse(
      docs.agg(max(col("doc_id"))).head.getLong(0))
    val m = (maxId / 3 + 1) * 3
    val dups = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + m).as("doc_id"), col("text"))
    val base = graft.CacheScope.persist(
      docs.select(col("doc_id"), col("text")).unionByName(dups))
    val textWinners = graft.operators.Dedup.exact(base)
      .select(col("keep_id").as("doc_id"))
    // mixed containers ride the SAME synthesis projection (the split is
    // a row-local when(), not a second pass), then normalize-once
    // restores the canonical format before anything downstream decodes
    val mixedImages = graft.operators.Multimodal.attachPpmImages(base)
      .select(col("doc_id"), col("kind"),
        when((col("doc_id") / 3) % 2 === 0, col("payload"))
          .otherwise(graft.functions.vec.ppmToPng(col("payload")))
          .as("payload"))
    val mixedAudio = graft.operators.Multimodal.attachWavAudio(base)
      .select(col("doc_id"), col("kind"),
        when((col("doc_id") / 3) % 2 === 0, col("payload"))
          .otherwise(graft.functions.vec.wavToAiff(col("payload")))
          .as("payload"))
    val media = graft.CacheScope.persist(
      graft.operators.Multimodal.normalizeImages(mixedImages)
        .unionByName(graft.operators.Multimodal.normalizeAudio(mixedAudio))
        .unionByName(graft.operators.Multimodal.attachY4mVideo(base)))
    val pairs = graft.operators.Multimodal.dHashImageNearDupPairs(media,
        maxHamming = 6, maxBucketSize = Some(1024)).select("d1", "d2")
      .unionByName(graft.operators.Multimodal.audioNearDupPairs(media,
        maxHamming = 6, maxBucketSize = Some(1024)).select("d1", "d2"))
      .unionByName(graft.operators.Multimodal.videoNearDupPairs(media,
        minSharedFrames = 1, maxBucketSize = Some(1024))
        .select("d1", "d2"))
    val mediaReps = graft.operators.Dedup.keepRepresentatives(
      media.select(col("doc_id")), pairs)
    // ONE base pass for lang/quality + token stats (both row-local;
    // langQualityTokenStats) instead of two scans + two id-keyed
    // joins downstream — expressions identical, results bit-identical
    val qualityTokens = graft.operators.TextOps.langQualityTokenStats(base)
      .filter(col("quality") >= 0.5)
      .select(col("doc_id"), col("pred_lang"),
        col("n_ws_tokens").as("n_tokens"))
    // semantic decon by ORIGINAL id (a re-id'd dup shares its source
    // text, hence its flag): prescreen × early-exit flags against the
    // mod-97 eval split, computed once over the original docs
    // (round-19: the measured-best tier — flagged set equals the
    // plain flag tier's by the recall-1 theorem, oracle unchanged)
    val semFlagged = graft.operators.TextOps.semanticDecontaminateIvfFlag(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), corpusKey = semCorpusKey)
      .select(col("doc_id").as("orig_id"))
    // IMAGE decontamination (round-19, VERDICT r18 #1): the media leg
    // previously deduplicated but never decontaminated — flag corpus
    // images whose byte dHash (canonical-P6 body, 13-byte header)
    // lands within Hamming 6 of ANY eval-split image and drop them.
    // The pinned 4×16 layout keeps the oracle replay scale-independent;
    // flagged ids are image-kind only, so the anti join leaves audio/
    // video untouched.
    val evalImages = graft.operators.Multimodal.attachPpmImages(
      docs.filter(col("doc_id") % 97 === 0))
    val imgFlagged = graft.operators.Multimodal.dHashDecontaminateFlag(
      media, evalImages, maxHamming = 6, bands = 4, bandBits = 16,
      headerLen = 13)
    val origId =
      when(col("doc_id") >= m, col("doc_id") - m).otherwise(col("doc_id"))
    media.select(col("doc_id"), col("kind"))
      .withColumn("orig_id", origId)
      .filter(col("orig_id") % 97 =!= 0)
      .join(broadcast(semFlagged), Seq("orig_id"), "left_anti")
      .drop("orig_id")
      .join(broadcast(imgFlagged), Seq("doc_id"), "left_anti")
      .join(textWinners, Seq("doc_id"), "left_semi")
      .join(mediaReps.select("doc_id"), Seq("doc_id"), "left_semi")
      .join(qualityTokens, Seq("doc_id"))
  }
}
