package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Multimodal columns for training-data pipelines: image/audio/video ride
  * through the engine as opaque `BINARY` payloads plus typed metadata
  * columns; every decode/feature/hash step is a compiled row-local
  * Catalyst kernel — PPM through the pure-JVM parse, PNG/JPEG/GIF/BMP
  * through the JDK's headless `javax.imageio`, WAV (integer PCM and
  * IEEE float32) through the RIFF chunk walk, Y4M and concatenated-PPM
  * video through the frame walk. No external codec dependency, and (as
  * of round 15) no `mapPartitions` seam: the round-12 StubDecoder stub
  * was retired once every media path had a real kernel. Unsupported
  * payloads hash/feature to null and drop, so mixed-media tables route
  * themselves.
  *
  * The near-dup and decontamination family (image, audio, video) runs on
  * one banded-Hamming core ([[BandedHamming]]). What differs per media
  * kind is one private descriptor, [[Media]]: image bytes (`headerLen`),
  * image pixels, audio and video frames (`maxFrames`). It knows the
  * `kind` filter, the band rows for a resolved layout, what the
  * `bands = 0` sizing count runs over (the kind's rows; for video the
  * persisted composite `doc_id·64 + frame_idx` frame rows, which the
  * corpus side then bands from, so the decode kernel runs once) and, for
  * video only, how composite ids map back to videos. Each operator shape
  * (band rows, near-dup pairs, incremental pairs, decontamination flag
  * and report, benchmark-append flag) has one private implementation
  * carrying the streaming-corpus guard, the layout resolution, the
  * heuristic-tail warning and the [[BandedHamming]] call; the public
  * operators delegate to it.
  */
object Multimodal {

  /** Deterministically attach a media payload + metadata to each document:
    * kind cycles image/audio/video by id, the payload is a 3-byte tag plus
    * the sha-256 of the text (a stand-in for real bytes that any engine
    * can recompute), metadata derives from the id. All row-local SQL.
    */
  def attachMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      concat(
        substring(
          element_at(array(lit("IMG"), lit("AUD"), lit("VID")),
            (col("doc_id") % 3 + 1).cast("int")).cast("binary"), 1, 3),
        unhex(sha2(col("text").cast("binary"), 256))).as("payload"),
      (lit(16) + col("doc_id") % 64).cast("int").as("width"),
      (lit(16) + col("doc_id") % 48).cast("int").as("height"),
      (lit(8000) + (col("doc_id") % 4) * 4000).cast("int").as("sample_rate"),
      (lit(1000) + col("doc_id") % 9000).cast("int").as("duration_ms"))

  /** Deterministic REAL image fixture: for each image-kind doc
    * (`doc_id % 3 == 0`, the [[attachMedia]] convention) build an
    * actual binary PPM (P6) payload — a real header plus `w`×`h` RGB
    * pixels whose bytes are sha-256 chunks of the text. Fully in-plan
    * row-local SQL, engine-recomputable, and payload equality ⇔ text
    * equality — the property the decoded-dedup oracle pins. Stands in
    * for reading real image bytes off storage; everything downstream
    * treats the payload as opaque binary and must DECODE it to get at
    * pixels (unlike [[attachMedia]]'s tagged-sha stub payloads).
    */
  def attachPpmImages(docs: DataFrame, w: Int = 12, h: Int = 10): DataFrame = {
    require(w >= 1 && h >= 1 && w * h * 3 <= 32 * 64,
      s"fixture images are tiny by design, got ${w}x$h")
    val header = s"P6\n$w $h\n255\n"
    val headerLen = header.getBytes("US-ASCII").length
    val bodyLen = w * h * 3
    val chunks = (0 until (bodyLen + 31) / 32).map(i =>
      unhex(sha2(concat(col("text"), lit(s"#px$i")).cast("binary"), 256)))
    docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), lit("image").as("kind"),
        substring(concat((lit(header.getBytes("US-ASCII")) +: chunks): _*),
          1, headerLen + bodyLen).as("payload"))
  }

  /** Deterministic REAL-FORMAT image fixture (round-15): the
    * [[attachPpmImages]] pixels transcoded to PNG through the JDK
    * encoder (`ppm_to_png`) — what a real corpus of
    * PNG payloads looks like to the engine. PNG is lossless, so
    * payload-pixel equality ⇔ text equality still holds and the PNG
    * leg's dHash EQUALS the PPM leg's (the `mm_dhash_png` gate's pin).
    * Transcoding rides the same projection as the synthesis — one
    * row-local pass, no shuffle.
    */
  def attachPngImages(docs: DataFrame, w: Int = 12, h: Int = 10): DataFrame =
    attachPpmImages(docs, w, h)
      .select(col("doc_id"), col("kind"),
        graft.functions.vec.ppmToPng(col("payload")).as("payload"))

  /** Deterministic GRAYSCALE fixture (round-15): binary PGM (P5)
    * payloads — netpbm's grayscale sibling, common in grayscale ML
    * corpora — one sha-derived luma byte per pixel. Same in-plan
    * recipe and payload-equality ⇔ text-equality property as
    * [[attachPpmImages]]; the `mm_pgm_normalize` gate replays the
    * P5 → canonical-P6 gray embedding byte for byte.
    */
  def attachPgmImages(docs: DataFrame, w: Int = 12, h: Int = 10): DataFrame = {
    require(w >= 1 && h >= 1 && w * h <= 32 * 64,
      s"fixture images are tiny by design, got ${w}x$h")
    val header = s"P5\n$w $h\n255\n"
    val headerLen = header.getBytes("US-ASCII").length
    val bodyLen = w * h
    val chunks = (0 until (bodyLen + 31) / 32).map(i =>
      unhex(sha2(concat(col("text"), lit(s"#gy$i")).cast("binary"), 256)))
    docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), lit("image").as("kind"),
        substring(concat((lit(header.getBytes("US-ASCII")) +: chunks): _*),
          1, headerLen + bodyLen).as("payload"))
  }

  /** REAL feature extraction (round-15 — retires the round-12
    * StubDecoder seam, the last typed-`mapPartitions` media path): ONE
    * compiled row-local projection per media row — byte length and an
    * 8-hex content signature (bytes 4–7, past the 3-byte fixture tag /
    * inside any real header) for every kind, plus DECODED raster stats
    * for image payloads via the shared PPM/ImageIO parse
    * (`image_stats`): width, height, and the integer
    * milli-scaled ITU-R 601 mean luma (`Σ(299R+587G+114B) / (w·h)`,
    * one final division — relationally replayable from the fixture
    * recipe, the byte-exact oracle class). Non-raster payloads carry
    * null raster stats (the null-routing convention). Row-local: no
    * shuffle, input partitioning passes through untouched.
    */
  def extractFeatures(media: DataFrame): DataFrame =
    media.select(col("doc_id"), col("kind"),
        length(col("payload")).cast("bigint").as("byte_len"),
        lower(hex(substring(col("payload"), 4, 4))).as("sig8"),
        graft.functions.vec.imageStats(col("payload")).as("istats"))
      .select(col("doc_id"), col("kind"), col("byte_len"), col("sig8"),
        element_at(col("istats"), 1).as("width"),
        element_at(col("istats"), 2).as("height"),
        element_at(col("istats"), 3).as("luma_milli_mean"))

  /** Format normalization (round-15): transcode every image payload —
    * whatever container carried it (PPM incl. comment/whitespace
    * variants, PNG/JPEG/GIF/BMP via ImageIO) — to canonical P6, so
    * downstream raster kernels ([[resizePpm]], byte-level oracles) see
    * ONE format. Lossless containers round-trip byte-exactly (the
    * `mm_image_normalize` gate replays the normalized bytes from the
    * fixture recipe). One compiled row-local projection; undecodable
    * payloads null-drop.
    */
  def normalizeImages(media: DataFrame): DataFrame =
    media.filter(col("kind") === "image")
      .select(col("doc_id"), col("kind"),
        graft.functions.vec.imageToPpm(col("payload")).as("payload"))
      .filter(col("payload").isNotNull)

  /** Audio format normalization (round-16 — [[normalizeImages]]'
    * audio twin, VERDICT r15 Next #1): transcode every audio payload —
    * whatever container/encoding carried it (integer-PCM WAV,
    * IEEE-float32 WAV, AIFF via javax.sound) — to canonical PCM-16
    * WAV, so downstream fingerprint/near-dup/ingest passes pay the
    * 0.09 ms pure RIFF parse instead of the ~2.6 ms javax.sound
    * decode per row (the round-15 100× probe's 433 s vs 10.2 s
    * finding). Value-preserving in the engine's sample domain:
    * `audio_fingerprint64` of the normalized payload equals the
    * original's BIT-EXACTLY (the `mm_audio_normalize` gates), so
    * normalization never moves a near-dup cluster. One compiled
    * row-local projection; undecodable payloads null-drop.
    */
  def normalizeAudio(media: DataFrame): DataFrame =
    media.filter(col("kind") === "audio")
      .select(col("doc_id"), col("kind"),
        graft.functions.vec.audioToWav(col("payload")).as("payload"))
      .filter(col("payload").isNotNull)

  /** Resize via the METADATA contract: halves dimensions (floor, min 1)
    * without touching the payload — the path for non-raster kinds and
    * opaque payloads whose codec lives elsewhere. Raster payloads have
    * a REAL transcode: [[resizePpm]].
    */
  def resize(media: DataFrame): DataFrame =
    media
      .withColumn("width", greatest(expr("width DIV 2"), lit(1)).cast("int"))
      .withColumn("height", greatest(expr("height DIV 2"), lit(1)).cast("int"))

  /** REAL image resize transcode (closes the round-13 `mm_resize`
    * metadata-only seam): every image payload is decoded (P6 parse),
    * box-resized to `outW`×`outH` per RGB channel in pure integer
    * arithmetic, and re-encoded as a canonical P6 — payload AND
    * implied dimensions change, byte-deterministically, inside the
    * compiled `ppm_resize` kernel. One row-local
    * projection: no shuffle, scale-free. Non-PPM payloads resize to
    * null and drop (the null-drop routing convention), so mixed tables
    * route themselves.
    */
  def resizePpm(media: DataFrame, outW: Int, outH: Int): DataFrame =
    media.filter(col("kind") === "image")
      .select(col("doc_id"),
        graft.functions.vec.ppmResize(col("payload"), outW, outH)
          .as("payload"))
      .filter(col("payload").isNotNull)

  /** The [[dHashBandRows]] kernel UN-BANDED: one row-local 64-bit
    * byte-sequence dHash per image, `(doc_id, dhash)`. The band layout
    * is a pure bit-slicing of this hash (little-endian, band `b` =
    * bits `[b·bandBits, (b+1)·bandBits)` — the packing
    * [[BandedHamming.bandRows]] replays with `shiftright` + mask), so
    * a caller comparing SEVERAL layouts over the same media computes
    * the hash (payload synthesis + hex expansion + gradient kernel —
    * the expensive, row-local part) ONCE, persists this narrow frame,
    * and re-bands per layout via [[BandedHamming.bandRows]] instead of
    * paying one full kernel pass per layout. Null hash for sub-2-byte
    * bodies, exactly as [[dHashBandRows]] (the null row drops at the
    * band explode either way).
    */
  def dHash64(media: DataFrame, headerLen: Int = 3): DataFrame = {
    val body = expr(s"substring(payload, ${headerLen + 1}, " +
      s"length(payload) - $headerLen)")
    media.filter(col("kind") === "image")
      .select(col("doc_id"),
        element_at(graft.functions.vec.dHashBands(lower(hex(body)), 1, 64),
          1).as("dhash"))
  }

  /** Perceptual-hash band rows for image payloads — the MULTIMODAL
    * near-dup index, mirroring [[Dedup.minHashBandIndex]]'s layout
    * exactly (`doc_id`, the full hash as `bands`, one exploded
    * `(band_idx, band_key)` row per band): a difference-hash (dHash)
    * gradient over the image's byte content, packed into `bands` keys
    * of `bandBits` bits by the compiled
    * `dhash_bands` kernel, entirely row-local — the
    * banded self-join downstream is the only shuffle, the same plan
    * shape that carries MinHash at 100 TB.
    *
    * The GRADIENT SOURCE here is the payload's raw byte content — the
    * "pixel brightness sequence" is the hex expansion of the payload
    * body: deterministic, engine-recomputable (the oracle replays it
    * as `lower(sha256(text))`), and the right member for OPAQUE
    * (non-raster) payloads whose codec lives elsewhere. Raster
    * payloads take the REAL decoder member ([[dHashImageBandRows]] —
    * PPM/PNG/JPEG/GIF/BMP). The banding, occupancy cap, pair join,
    * and Hamming verify — the parts that carry the scale — are shared
    * either way.
    */
  def dHashBandRows(media: DataFrame, bands: Int = 0, bandBits: Int = 16,
      headerLen: Int = 3, nHint: Long = -1L): DataFrame =
    bandRowsOf(ImageBytes(headerLen), media, bands, bandBits, nHint)

  /** Image near-dup pairs: [[dHashBandRows]] → banded self-join (docs
    * sharing ≥1 band key are candidates — any pair within Hamming
    * distance < `bands` of each other is guaranteed to collide on some
    * band, pigeonhole) → exact Hamming verify over the full hash →
    * `(d1, d2, hamming ≤ maxHamming)`. The same
    * candidate-then-verify shape as [[Dedup.minHashLshPairs]], with
    * the same `maxBucketSize` occupancy guard
    * ([[Dedup.capBandBuckets]]) for degenerate strata (e.g. a corpus
    * that is 30% one template image): the band layout is shared, so
    * the guard is too.
    *
    * On the deterministic fixture payloads (sha-256 content) only
    * byte-identical images land within a small Hamming radius — the
    * "visually near" structure appears under the real decoder path
    * ([[dHashImageNearDupPairs]]); this variant remains the
    * byte-sequence member for opaque (non-raster) payloads, and both
    * share [[BandedHamming.pairJoin]] verbatim.
    *
    * SCALE: the DEFAULT `bands = 0` is SELF-SIZING — the layout
    * resolves from a cheap image count (or `nHint`, to skip the count
    * job when the caller already knows the size) via
    * [[BandedHamming.autoLayout]], so pointing the defaults at 5M images
    * takes the scaled 2×32+probe key space instead of silently re-entering
    * the fixed-2^16 quadratic measured at the 1000× tier
    * ([[BandedHamming]] scaladoc). Explicit `bands > 0` pins a layout
    * (the gate queries' convention).
    *
    * RECALL DISCONTINUITY under auto: both auto layouts GUARANTEE
    * pairs only to Hamming 3 (`bands·(probeRadius+1) − 1`); the
    * default `maxHamming = 6` keeps the 4–6 tail because re-encoded /
    * lightly-edited images land there routinely, but that tail is
    * heuristic — it surfaces only when a pair also collides on a band
    * — and therefore CHANGES when the corpus crosses the 1M layout
    * crossover (or an `nHint` flips the layout). A run whose
    * `maxHamming` exceeds the resolved completeness bound logs a
    * warning ([[BandedHamming.warnHeuristicTail]]); pin an explicit
    * `bands` layout to freeze the tail.
    */
  def dHashNearDupPairs(media: DataFrame, maxHamming: Int = 6,
      bands: Int = 0, bandBits: Int = 16, headerLen: Int = 3,
      maxBucketSize: Option[Int] = None,
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      probeRadius: Int = 0, nHint: Long = -1L): DataFrame =
    pairs(ImageBytes(headerLen), "dHashNearDupPairs", media, maxHamming,
      bands, bandBits, probeRadius, maxBucketSize, storage, nHint)

  /** [[dHashBandRows]] with the REAL decoder: the payload is decoded —
    * binary PPM (P6) through the pure-JVM parse, or PNG/JPEG/GIF/BMP
    * through the JDK's headless `javax.imageio.ImageIO` (magic-byte
    * sniffed; round-15, so real-world image corpora no longer
    * null-drop) — then integer luma → 9×8 box resize → classic 64-bit
    * dHash, entirely inside the compiled
    * `dhash_image_bands` kernel: row-local, one
    * projection, no external codec dependency. The hash arithmetic is
    * identical across decode paths, so a PPM and a PNG of the same
    * pixels land in the same buckets. Unsupported payloads hash to
    * null and drop out, so mixed-media tables route themselves.
    * This CLOSES the round-12 stub seam for images: the gradient
    * source is actual pixel luma, while banding/cap/join/verify stay
    * the shared, decoder-independent machinery.
    */
  def dHashImageBandRows(media: DataFrame, bands: Int = 0,
      bandBits: Int = 16, nHint: Long = -1L): DataFrame =
    bandRowsOf(ImagePixels, media, bands, bandBits, nHint)

  /** [[dHashNearDupPairs]] over REAL decoded pixels
    * ([[dHashImageBandRows]]): visually-near images (small dHash
    * Hamming distance on the resized luma grid) pair up, not merely
    * byte-identical ones. Identical plan shape and occupancy guard as
    * the byte-sequence variant — the kernel is the only difference.
    * `bands = 0` (default) self-sizes the layout as in
    * [[dHashNearDupPairs]].
    */
  def dHashImageNearDupPairs(media: DataFrame, maxHamming: Int = 6,
      bands: Int = 0, bandBits: Int = 16,
      maxBucketSize: Option[Int] = None,
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      probeRadius: Int = 0, nHint: Long = -1L): DataFrame =
    pairs(ImagePixels, "dHashImageNearDupPairs", media, maxHamming, bands,
      bandBits, probeRadius, maxBucketSize, storage, nHint)

  /** Incremental image near-dup — the production shape that completes
    * the multimodal dedup family exactly as
    * [[Dedup.incrementalNearDupPairs]] completes MinHash: a NEW shard
    * of media arrives and its near-dup pairs against the existing
    * corpus (and within itself) are found against a PERSISTED dHash
    * band index of the old side ([[dHashBandRows]] /
    * [[dHashImageBandRows]] output written to parquet,
    * partition-prunable by `band_idx`) — old payloads are never
    * re-decoded, re-hashed, or re-read beyond the narrow index rows.
    * Result EQUALS the full [[dHashNearDupPairs]] recompute over
    * (old ∪ new) restricted to pairs touching the shard; sides must
    * be id-disjoint. `bands = 0` (default) derives the layout FROM THE
    * INDEX ([[BandedHamming.layoutOfIndex]] — band keys are
    * layout-specific, so the shard must hash under whatever layout the
    * index was built with, not the corpus-count one); `decodePixels =
    * true` hashes the shard through the REAL PPM decoder kernel
    * ([[dHashImageBandRows]]) instead of the byte-gradient one — the
    * index must have been built with the same kernel (band keys are
    * kernel-specific).
    */
  def dHashIncrementalPairs(newMedia: DataFrame, index: DataFrame,
      maxHamming: Int = 6, bands: Int = 0, bandBits: Int = 16,
      headerLen: Int = 3, probeRadius: Int = 0,
      maxBucketSize: Option[Int] = None,
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      decodePixels: Boolean = false): DataFrame =
    incrementalPairs(image(headerLen, decodePixels), "dHashIncrementalPairs",
      newMedia, index, maxHamming, bands, bandBits, probeRadius,
      maxBucketSize, storage)

  /** Image decontamination — the MULTIMODAL member of the
    * decontamination family, the operation that removes eval-set
    * images (and their re-encodes/near-variants) from a training
    * crawl: flag every corpus image whose dHash lies within
    * `maxHamming` of ANY benchmark image's. Returns DISTINCT flagged
    * corpus `doc_id`s — the [[graft.operators.TextOps.semanticDecontaminateFlag]]
    * contract with the Hamming metric instead of cosine.
    *
    * Plan shape ([[BandedHamming.bipartiteFlagJoin]]): corpus band
    * rows are row-local projections; the benchmark side (an eval
    * suite — small by definition) persists once and BROADCASTS into a
    * hash LEFT-SEMI whose condition carries the exact full-hash
    * verify, so each corpus row exits at its first passing benchmark
    * entry and corpus payloads/hashes never shuffle — ONE exchange
    * total (the distinct over the flagged subset). NO occupancy cap,
    * deliberately: capping trades recall for bounded work, the right
    * trade for pair MINING and the wrong one for a DROP decision —
    * a silently-unflagged benchmark hit corrupts the eval (the same
    * reason [[semanticDecontaminateFlag]]'s tiers carry recall-1
    * theorems, not banding probabilities).
    *
    * Recall: pairs within Hamming `bands·(probeRadius+1) − 1` of each
    * other are GUARANTEED to collide on some (possibly probed) band
    * key (pigeonhole / multi-index substring argument — 3 under both
    * auto layouts); the 4–6 tail of the default `maxHamming = 6` is
    * heuristic exactly as in [[dHashNearDupPairs]], and a run whose
    * `maxHamming` exceeds the resolved bound logs
    * [[BandedHamming.warnHeuristicTail]]. `bands = 0` (default)
    * self-sizes the layout from the CORPUS count (the big side —
    * both sides must hash under one layout for the band keys to
    * meet); `decodePixels = true` routes both sides through the real
    * raster decoder kernel ([[dHashImageBandRows]]) so visually-near
    * re-encodes flag, not just byte-near payloads. NOTE the sizing
    * count runs ONCE PER CALL: cheap against parquet (footer
    * statistics) but a real scan on an expensive view — pass `nHint`
    * or an explicit `bands` for non-parquet corpora or repeated
    * batch invocations (a streaming corpus must: the guard refuses it
    * otherwise).
    */
  def dHashDecontaminateFlag(corpusMedia: DataFrame,
      benchmarkMedia: DataFrame, maxHamming: Int = 6, bands: Int = 0,
      bandBits: Int = 16, headerLen: Int = 3, probeRadius: Int = 0,
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      decodePixels: Boolean = false, nHint: Long = -1L): DataFrame =
    decontaminate(image(headerLen, decodePixels), "dHashDecontaminateFlag",
      corpusMedia, benchmarkMedia, maxHamming, bands, bandBits, probeRadius,
      storage, nHint, report = false)

  /** Benchmark-append incremental image decon — flags are MONOTONE
    * under benchmark append (a new eval suite can only ADD flags), so
    * the update job is [[dHashDecontaminateFlag]] over the
    * previously-UNFLAGGED remainder × the NEW benchmark only, unioned
    * with the carried flag set — the
    * [[graft.operators.TextOps.semanticDecontaminateIncr]] convention
    * for the Hamming metric. Result EQUALS a full re-flag against the
    * unioned benchmark, provided `prevFlagged` is the flag set against
    * the old suite (same `maxHamming`/layout/kernel). The branches are
    * disjoint by construction (`newly ⊆ corpus ∖ prevFlagged`), so the
    * union needs no distinct; an empty append degenerates to returning
    * `prevFlagged` after one anti join — old payloads are never
    * re-hashed for docs already flagged.
    *
    * Under `bands = 0` the layout resolves from the FULL corpus count
    * ([[decontaminateIncr]]): one extra metadata-cheap job against
    * parquet; pass `nHint` (or an explicit `bands`) to skip it on
    * expensive views or repeated incremental calls.
    */
  def dHashDecontaminateIncr(corpusMedia: DataFrame,
      prevFlagged: DataFrame, newBenchmarkMedia: DataFrame,
      maxHamming: Int = 6, bands: Int = 0, bandBits: Int = 16,
      headerLen: Int = 3, probeRadius: Int = 0,
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      decodePixels: Boolean = false, nHint: Long = -1L): DataFrame =
    decontaminateIncr(image(headerLen, decodePixels), corpusMedia,
      prevFlagged, bands, nHint)(dHashDecontaminateFlag(_,
        newBenchmarkMedia, maxHamming, bands, bandBits, headerLen,
        probeRadius, storage, decodePixels, _))

  /** Image decon ATTRIBUTION report (round-19 —
    * [[graft.operators.Dedup.contaminationReport]]'s contract for the
    * multimodal member): per benchmark image, how many corpus images
    * it flags and at what minimum Hamming, zero-hit items included —
    * the report an eval owner reads before deciding which suite
    * items leaked. [[BandedHamming.bipartiteHitPairs]] and
    * [[BandedHamming.reportFromHits]] over the
    * same band rows as [[dHashDecontaminateFlag]] (byte kernel or
    * `decodePixels` raster kernel); returns
    * `(eval_id, n_flagged, min_hamming)`. Same sizing/streaming
    * conventions as the flag member.
    */
  def dHashDecontaminateReport(corpusMedia: DataFrame,
      benchmarkMedia: DataFrame, maxHamming: Int = 6, bands: Int = 0,
      bandBits: Int = 16, headerLen: Int = 3, probeRadius: Int = 0,
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      decodePixels: Boolean = false, nHint: Long = -1L): DataFrame =
    decontaminate(image(headerLen, decodePixels), "dHashDecontaminateReport",
      corpusMedia, benchmarkMedia, maxHamming, bands, bandBits, probeRadius,
      storage, nHint, report = true)

  /** Frame sampling for video payloads: up to 8 evenly spaced frame
    * offsets into the payload body (offsets only — the METADATA
    * contract for opaque payloads, like [[resize]]). Real decoded
    * frame hashes: [[sampleFrameHashes]]. Row-local
    * `sequence`/`transform`, exploded to one row per frame.
    */
  def sampleFrames(media: DataFrame, maxFrames: Int = 8): DataFrame =
    media.filter(col("kind") === "video")
      .withColumn("n_frames",
        greatest(least(expr("duration_ms DIV 1000"), lit(maxFrames)), lit(1)))
      .select(col("doc_id"), col("n_frames"),
        posexplode(expr(
          "transform(sequence(0, n_frames - 1)," +
            " i -> 3 + (i * 32) DIV n_frames)"))
          .as(Seq("frame_idx", "frame_off")))
      .select(col("doc_id"), col("frame_idx").cast("bigint"),
        col("frame_off").cast("bigint"))

  // -------------------------------------------------------------------
  // REAL audio member (round-14): pure-JVM WAV parse → 64-bit windowed
  // energy/zero-crossing fingerprint → near-dup through the SAME
  // shared BandedHamming core that carries image dHash and text SimHash
  // -------------------------------------------------------------------

  /** 44-byte canonical PCM WAV header for `dataLen` bytes of 8-bit
    * mono audio at `sampleRate` Hz — the in-plan fixture's constant
    * prefix ([[attachWavAudio]]), byte-exact per the RIFF spec.
    */
  private[graft] def wavHeader(dataLen: Int,
      sampleRate: Int = 8000): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate) // byteRate = rate × 1 × 1
      .putShort(1).putShort(8) // blockAlign, bitsPerSample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    b.array()
  }

  /** Deterministic REAL audio fixture — [[attachPpmImages]]' recipe
    * for the audio member: for each audio-kind doc (`doc_id % 3 == 1`,
    * the [[attachMedia]] convention) build an actual binary PCM WAV
    * payload — the canonical 44-byte RIFF header plus `nChunks`
    * sha-256 chunks of the text as 8-bit mono samples. Fully in-plan
    * row-local SQL, engine-recomputable, payload equality ⇔ text
    * equality; downstream must PARSE the RIFF/fmt/data grammar to get
    * at samples.
    */
  def attachWavAudio(docs: DataFrame, nChunks: Int = 3): DataFrame = {
    require(nChunks >= 1 && nChunks <= 32,
      s"fixture audio is tiny by design, got $nChunks sha chunks")
    val chunks = (0 until nChunks).map(i =>
      unhex(sha2(concat(col("text"), lit(s"#au$i")).cast("binary"), 256)))
    docs.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), lit("audio").as("kind"),
        concat((lit(wavHeader(nChunks * 32)) +: chunks): _*).as("payload"))
  }

  /** Band rows for audio payloads: WAV parse + energy/ZCR fingerprint
    * inside the compiled `audio_fingerprint64` kernel
    * (row-local), banded by the shared [[BandedHamming.bandRows]] —
    * so the downstream join/cap/probe/verify machinery is the image
    * dHash one verbatim. Unparseable payloads fingerprint to null and
    * drop.
    */
  def audioFingerprintBandRows(media: DataFrame, bands: Int = 0,
      bandBits: Int = 16, nHint: Long = -1L): DataFrame =
    bandRowsOf(Audio, media, bands, bandBits, nHint)

  /** Audio near-dup pairs — the audio member of the multimodal dedup
    * family, same candidate-then-verify shape and occupancy guard as
    * [[dHashImageNearDupPairs]]; only the fingerprint kernel differs.
    * `bands = 0` (default) self-sizes the layout as everywhere else.
    */
  def audioNearDupPairs(media: DataFrame, maxHamming: Int = 6,
      bands: Int = 0, bandBits: Int = 16,
      maxBucketSize: Option[Int] = None,
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      probeRadius: Int = 0, nHint: Long = -1L): DataFrame =
    pairs(Audio, "audioNearDupPairs", media, maxHamming, bands, bandBits,
      probeRadius, maxBucketSize, storage, nHint)

  /** Incremental audio near-dup — the audio member of the maintenance
    * triangle, exactly [[dHashIncrementalPairs]]' shape: an arriving
    * shard of WAVs is fingerprinted and joined against the PERSISTED
    * audio band index ([[audioFingerprintBandRows]] output written to
    * parquet) — old payloads never re-parsed. `bands = 0` (default)
    * derives the layout from the index; sides must be id-disjoint.
    */
  def audioIncrementalPairs(newMedia: DataFrame, index: DataFrame,
      maxHamming: Int = 6, bands: Int = 0, bandBits: Int = 16,
      probeRadius: Int = 0, maxBucketSize: Option[Int] = None,
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)): DataFrame =
    incrementalPairs(Audio, "audioIncrementalPairs", newMedia, index,
      maxHamming, bands, bandBits, probeRadius, maxBucketSize, storage)

  /** Audio decontamination — [[dHashDecontaminateFlag]]'s contract for
    * the audio member: flag corpus audio whose 64-bit energy/ZCR
    * fingerprint lies within `maxHamming` of ANY benchmark clip's
    * (remove eval-set audio and near-re-encodes from a training
    * crawl). Same plan ([[BandedHamming.bipartiteFlagJoin]]): corpus
    * fingerprints row-local, benchmark broadcast into the left-semi
    * with the full-hash verify in the condition, distinct flagged ids
    * = one exchange, NO occupancy cap (drop decisions keep their
    * recall). Byte-identical copies are GUARANTEED to flag (identical
    * payload ⇒ identical fingerprint ⇒ hamming 0 ⇒ every band
    * collides); unparseable payloads fingerprint to null and never
    * flag. Streams with an explicit layout or `nHint`, like the image
    * member — and as there, the `bands = 0` sizing count runs once
    * per call: pass `nHint`/`bands` for expensive views or repeated
    * batch invocations.
    */
  def audioDecontaminateFlag(corpusMedia: DataFrame,
      benchmarkMedia: DataFrame, maxHamming: Int = 6, bands: Int = 0,
      bandBits: Int = 16, probeRadius: Int = 0,
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      nHint: Long = -1L): DataFrame =
    decontaminate(Audio, "audioDecontaminateFlag", corpusMedia,
      benchmarkMedia, maxHamming, bands, bandBits, probeRadius, storage,
      nHint, report = false)

  /** Benchmark-append incremental audio decon (round-19, closes the
    * audio corner of the incremental-decon triangle): the
    * [[dHashDecontaminateIncr]] monotone-append argument is
    * METRIC-AGNOSTIC — flags are existential over the benchmark side,
    * so the update is [[audioDecontaminateFlag]] over the
    * previously-UNFLAGGED remainder × the NEW benchmark clips only.
    * Result EQUALS a full re-flag against the unioned benchmark (same
    * `maxHamming`/layout). Pass `nHint`/`bands` to skip the sizing
    * count on expensive views or repeated calls.
    */
  def audioDecontaminateIncr(corpusMedia: DataFrame,
      prevFlagged: DataFrame, newBenchmarkMedia: DataFrame,
      maxHamming: Int = 6, bands: Int = 0, bandBits: Int = 16,
      probeRadius: Int = 0,
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      nHint: Long = -1L): DataFrame =
    decontaminateIncr(Audio, corpusMedia, prevFlagged, bands, nHint)(
      audioDecontaminateFlag(_, newBenchmarkMedia, maxHamming, bands,
        bandBits, probeRadius, storage, _))

  /** Audio decon ATTRIBUTION report (round-19 —
    * [[dHashDecontaminateReport]]'s contract for the audio member):
    * per benchmark clip, how many corpus clips it flags and at what
    * minimum Hamming, zero-hit items included. Same plan: corpus
    * fingerprints row-local, benchmark broadcast into the INNER join
    * with the full-hash verify, one benchmark-keyed count-distinct
    * agg. A byte-identical (or cross-carrier re-encoded) corpus copy
    * attributes at Hamming 0 — the fingerprint is carrier-invariant.
    */
  def audioDecontaminateReport(corpusMedia: DataFrame,
      benchmarkMedia: DataFrame, maxHamming: Int = 6, bands: Int = 0,
      bandBits: Int = 16, probeRadius: Int = 0,
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      nHint: Long = -1L): DataFrame =
    decontaminate(Audio, "audioDecontaminateReport", corpusMedia,
      benchmarkMedia, maxHamming, bands, bandBits, probeRadius, storage,
      nHint, report = true)

  // -------------------------------------------------------------------
  // REAL video member (round-14): the fixture "video codec" is
  // concatenated PPM frames; frame sampling DECODES the sampled frames
  // through the image dHash kernel, and video near-dup pairs videos by
  // shared frame hashes
  // -------------------------------------------------------------------

  /** Deterministic REAL video fixture: for each video-kind doc
    * (`doc_id % 3 == 2`) build `frames` back-to-back binary PPM frames
    * (each [[attachPpmImages]]' recipe with frame-salted sha chunks).
    * Payload equality ⇔ text equality; frame `f` of two equal texts is
    * byte-identical, so identical videos share EVERY frame hash.
    *
    * Default frame size is 12×10 — AT LEAST the dHash 9×8 grid: an
    * under-grid frame makes neighboring grid cells read the SAME
    * source pixel, so its 64 gradient bits are correlated (well under
    * 64 bits of entropy) and RADIUS matching over millions of such
    * frames goes output-quadratic on coincidental near-collisions.
    * Measured at the 1000× tier: 8×6 frames drove
    * `mm_video_fuzzy_raw` to 10.03M "pairs" from hash degeneracy
    * alone; full-resolution frames restore content-driven pairing.
    */
  def attachPpmVideo(docs: DataFrame, w: Int = 12, h: Int = 10,
      frames: Int = 4): DataFrame = {
    require(w >= 1 && h >= 1 && frames >= 1 && w * h * 3 <= 32 * 64 &&
      frames <= 16, s"fixture videos are tiny by design: ${w}x$h x$frames")
    val header = s"P6\n$w $h\n255\n"
    val headerLen = header.getBytes("US-ASCII").length
    val bodyLen = w * h * 3
    def frame(f: Int) = {
      val chunks = (0 until (bodyLen + 31) / 32).map(i =>
        unhex(sha2(concat(col("text"), lit(s"#f${f}px$i")).cast("binary"),
          256)))
      substring(concat((lit(header.getBytes("US-ASCII")) +: chunks): _*),
        1, headerLen + bodyLen)
    }
    docs.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"), lit("video").as("kind"),
        concat((0 until frames).map(frame): _*).as("payload"))
  }

  /** Deterministic REAL-FORMAT video fixture (round-15): actual
    * YUV4MPEG2 payloads — the public uncompressed interchange
    * container — with a real stream header (`YUV4MPEG2 W.. H.. F25:1
    * Ip A1:1 C420\n`), per-frame `FRAME\n` markers, and 4:2:0 planes
    * whose bytes are frame-salted sha chunks of the text (Y plane
    * hashed by the kernel, chroma skipped by size). Fully in-plan
    * row-local SQL; payload equality ⇔ text equality, the same
    * property every other fixture pins. `w`/`h` must be even (4:2:0
    * subsampling).
    */
  def attachY4mVideo(docs: DataFrame, w: Int = 12, h: Int = 10,
      frames: Int = 4): DataFrame = {
    require(w >= 2 && h >= 2 && (w % 2 == 0) && (h % 2 == 0) &&
      frames >= 1 && frames <= 16 && w * h * 3 / 2 <= 32 * 64,
      s"fixture videos are tiny by design: ${w}x$h x$frames, even dims")
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420\n"
      .getBytes("US-ASCII")
    val marker = "FRAME\n".getBytes("US-ASCII")
    val frameLen = w * h + 2 * ((w / 2) * (h / 2))
    def planes(f: Int) = {
      val chunks = (0 until (frameLen + 31) / 32).map(i =>
        unhex(sha2(concat(col("text"), lit(s"#y4m${f}p$i")).cast("binary"),
          256)))
      substring(concat(chunks: _*), 1, frameLen)
    }
    docs.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"), lit("video").as("kind"),
        concat(lit(header) +:
          (0 until frames).flatMap(f => Seq(lit(marker), planes(f))): _*)
          .as("payload"))
  }

  /** DECODED frame sampling — closes the offsets-only [[sampleFrames]]
    * seam: parse the payload's frame boundaries (container-routed by
    * magic bytes — YUV4MPEG2 via its Y plane, or concatenated-PPM, the
    * byte-exact fixture codec), dHash up to `maxFrames` evenly sampled
    * frames through the SAME 9×8 luma kernel as still images (one
    * compiled row-local projection —
    * `video_frame_dhashes`), one row per sampled frame.
    * A gray PPM rendering of a Y4M frame's Y plane hashes IDENTICALLY
    * (R=G=B=Y ⇒ integer luma = Y), so mixed-container corpora pair
    * across formats. Torn/malformed payloads hash to null and drop
    * whole.
    */
  def sampleFrameHashes(media: DataFrame, maxFrames: Int = 8): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("doc_id"),
        posexplode(
          graft.functions.vec.videoFrameDHashes(col("payload"), maxFrames))
          .as(Seq("frame_idx", "frame_hash")))
      .select(col("doc_id"), col("frame_idx").cast("bigint"),
        col("frame_hash"))

  /** Pre-join entropy screen over decoded frame hashes
    * ([[BandedHamming.fingerprintBiasStats]]): one row
    * `(n, min_p1, max_p1)` of per-bit set fractions. Run it before a
    * fuzzy frame join on a new corpus — a bit pinned near 0/1 means
    * the fingerprints carry less entropy than their width and radius
    * matching will go output-quadratic (the measured under-grid-frame
    * regime); exact-match or re-extract at higher resolution instead.
    */
  def frameHashBias(media: DataFrame, maxFrames: Int = 8): DataFrame =
    BandedHamming.fingerprintBiasStats(
      sampleFrameHashes(media, maxFrames), "frame_hash")

  /** [[frameHashBias]] for the audio fingerprint. */
  def audioFingerprintBias(media: DataFrame): DataFrame =
    BandedHamming.fingerprintBiasStats(
      media.filter(col("kind") === "audio")
        .select(graft.functions.vec.audioFingerprint64(col("payload"))
          .as("afp")),
      "afp")

  /** FUZZY video near-dup: frames within Hamming distance ≤
    * `maxHamming` of each other count as shared — the visually-near
    * semantics of [[dHashImageNearDupPairs]] lifted to the frame
    * level, riding the SAME [[BandedHamming.pairJoin]] core (third
    * operator on it, after image dHash and text SimHash). Sampled
    * frames get a composite row id ([[VideoFrames]]), band-join +
    * exact-verify finds near frame PAIRS, and the rollup
    * counts, per video pair, the DISTINCT frames of the lower-id video
    * with at least one near twin in the other — the same units
    * (bounded by the sampled-frame count) as [[videoNearDupPairs]]'
    * distinct-shared-hash count, so a `minSharedFrames` threshold
    * ports between the twins (a raw near-PAIR count would read up to
    * `maxFrames²` on a static-scene pair that shares one effective
    * frame). A re-encoded or slightly-edited frame (the [[resizePpm]]
    * output, a one-cell touch-up) still matches where the exact-key
    * join loses it. `bands = 0` self-sizes from the EXACT sampled-
    * frame count ([[VideoFrames]]).
    */
  def videoNearDupPairsFuzzy(media: DataFrame, maxHamming: Int = 6,
      minSharedFrames: Int = 1, maxFrames: Int = 8,
      bands: Int = 0, bandBits: Int = 16, probeRadius: Int = 0,
      maxBucketSize: Option[Int] = None,
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      nHint: Long = -1L): DataFrame = {
    val frames = VideoFrames(maxFrames)
    require(minSharedFrames >= 1,
      s"minSharedFrames must be >= 1, got $minSharedFrames")
    pairs(frames, "videoNearDupPairsFuzzy", media, maxHamming, bands,
        bandBits, probeRadius, maxBucketSize, storage, nHint)
      // pairJoin orients d1 < d2 on composite ids, and frame offsets
      // are < 64, so d1 always belongs to the lower-id video (the
      // arithmetic shift of [[VideoFrames]])
      .select(shiftright(col("d1"), 6).as("d1"),
        shiftright(col("d2"), 6).as("d2"),
        col("d1").as("lo_frame"))
      .filter(col("d1") =!= col("d2")) // within-video near frames are not evidence
      .groupBy("d1", "d2")
      .agg(countDistinct(col("lo_frame")).as("shared_frames"))
      .filter(col("shared_frames") >= minSharedFrames)
  }

  /** Video decontamination — the video member of the decon family:
    * flag corpus videos where ANY sampled frame's dHash lies within
    * `maxHamming` of ANY benchmark video's frame (an eval clip leaked
    * into a training crawl shares frames even when trimmed or
    * re-containered). [[videoNearDupPairsFuzzy]]'s composite-id frame
    * rows consumed through [[BandedHamming.bipartiteFlagJoin]]: corpus
    * frame hashes row-local, benchmark frames broadcast, full-hash
    * verify in the semi condition, then the composite ids shift back
    * to video ids and dedup. Two bounded exchanges (composite dedup +
    * video dedup), both over the flagged subset; NO occupancy cap
    * (drop decisions keep their recall). Sides may share ids —
    * round-19: the bipartite core carries no self-id exclusion, so a
    * corpus video that coincidentally shares a benchmark video's id
    * still flags on any fingerprint match. The `bands = 0` sizing
    * count decodes every corpus video's sampled frames once per call
    * — pass `nHint` (frame count) or `bands` to skip it.
    */
  def videoDecontaminateFlag(corpusMedia: DataFrame,
      benchmarkMedia: DataFrame, maxHamming: Int = 6, maxFrames: Int = 8,
      bands: Int = 0, bandBits: Int = 16, probeRadius: Int = 0,
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      nHint: Long = -1L): DataFrame =
    decontaminate(VideoFrames(maxFrames), "videoDecontaminateFlag",
      corpusMedia, benchmarkMedia, maxHamming, bands, bandBits, probeRadius,
      storage, nHint, report = false)

  /** Benchmark-append incremental video decon (round-19, closes the
    * video corner of the incremental-decon triangle): monotone-append
    * over [[videoDecontaminateFlag]] — flags are existential over the
    * benchmark frames; equals a full re-flag against the unioned
    * benchmark under a shared layout. Under `bands = 0` the layout
    * resolves from the FULL corpus FRAME count (the quantity the full
    * re-run sizes from), which decodes every corpus video's sampled
    * frames once — pass `nHint` (frame count, ≈ 8·|videos|) or an
    * explicit `bands` to skip that pass on repeated incremental calls.
    */
  def videoDecontaminateIncr(corpusMedia: DataFrame,
      prevFlagged: DataFrame, newBenchmarkMedia: DataFrame,
      maxHamming: Int = 6, maxFrames: Int = 8, bands: Int = 0,
      bandBits: Int = 16, probeRadius: Int = 0,
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      nHint: Long = -1L): DataFrame =
    decontaminateIncr(VideoFrames(maxFrames), corpusMedia, prevFlagged,
      bands, nHint)(videoDecontaminateFlag(_, newBenchmarkMedia, maxHamming,
        maxFrames, bands, bandBits, probeRadius, storage, _))

  /** Video decon ATTRIBUTION report (round-19): per benchmark VIDEO,
    * how many corpus videos share a near-dup sampled frame and the
    * minimum frame-pair Hamming — the report is keyed on videos, so
    * the composite (video, frame) hit stream re-keys BOTH sides to
    * video ids before the count-distinct agg, and
    * the zero-hit frame carries the distinct benchmark VIDEO ids. A
    * trimmed re-cut attributes at Hamming 0 through any shared frame.
    */
  def videoDecontaminateReport(corpusMedia: DataFrame,
      benchmarkMedia: DataFrame, maxHamming: Int = 6, maxFrames: Int = 8,
      bands: Int = 0, bandBits: Int = 16, probeRadius: Int = 0,
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      nHint: Long = -1L): DataFrame =
    decontaminate(VideoFrames(maxFrames), "videoDecontaminateReport",
      corpusMedia, benchmarkMedia, maxHamming, bands, bandBits, probeRadius,
      storage, nHint, report = true)

  /** Video near-dup pairs: videos sharing ≥ `minSharedFrames` sampled
    * frame hashes. Per-video DISTINCT frame hashes → exact-key
    * self-join on the 64-bit hash (one shuffle, the banded-join plan
    * shape with the full hash as the key — frame identity is exact by
    * construction, no Hamming radius needed at the frame level) →
    * per-pair shared count. `maxBucketSize` caps degenerate frame
    * strata (a black-frame bucket) through the shared
    * [[Dedup.capBandBuckets]] guard — the frame hash rides as the
    * band key.
    */
  def videoNearDupPairs(media: DataFrame, minSharedFrames: Int = 1,
      maxFrames: Int = 8, maxBucketSize: Option[Int] = None,
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)): DataFrame = {
    require(minSharedFrames >= 1,
      s"minSharedFrames must be >= 1, got $minSharedFrames")
    val banded = sampleFrameHashes(media, maxFrames)
      .select(col("doc_id"), col("frame_hash")).distinct()
      .select(col("doc_id"), lit(0).as("band_idx"),
        col("frame_hash").as("band_key"))
    val capped = maxBucketSize.fold(banded)(Dedup.capBandBuckets(banded, _))
    val rows = storage.fold(capped)(graft.CacheScope.persist(capped, _))
    rows.as("a")
      .join(rows.as("b"),
        col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= minSharedFrames)
  }

  // -------------------------------------------------------------------
  // The banded-Hamming media family: one descriptor per media kind and
  // one implementation per operator shape (header scaladoc)
  // -------------------------------------------------------------------

  /** How one media kind becomes banded-Hamming input. */
  private[graft] sealed abstract class Media(val kind: String) {
    /** The rows the `bands = 0` sizing count runs over and the corpus
      * side bands from; `storage` is set exactly when that count runs.
      */
    def sized(m: DataFrame, storage: Option[StorageLevel]): DataFrame =
      m.filter(col("kind") === kind)
    /** Band rows of [[sized]] output under a resolved layout. */
    def bands(sized: DataFrame, b: Int, bb: Int): DataFrame
    /** What the sizing counts, as the streaming guard names it. */
    def counts: String = "corpus"
    /** Flagged ids as media ids. */
    def flagged(ids: DataFrame): DataFrame = ids
    /** The attribution report from the verified hits and benchmark ids. */
    def report(hitsAndIds: (DataFrame, DataFrame)): DataFrame =
      BandedHamming.reportFromHits(hitsAndIds._1, hitsAndIds._2)
    final def rows(m: DataFrame, b: Int, bb: Int): DataFrame =
      bands(sized(m, None), b, bb)
  }

  private def explodeBands(hashed: DataFrame): DataFrame =
    // null-hash docs (payload too short for a gradient, undecodable
    // raster) drop via the posexplode, like minHashBandIndex's gramless
    // docs
    hashed.select(col("doc_id"), col("bands"),
      posexplode(col("bands")).as(Seq("band_idx", "band_key")))

  /** Byte-sequence dHash over the payload past `headerLen` bytes. */
  private[graft] final case class ImageBytes(headerLen: Int)
      extends Media("image") {
    def bands(sized: DataFrame, b: Int, bb: Int): DataFrame = {
      val body = expr(s"substring(payload, ${headerLen + 1}, " +
        s"length(payload) - $headerLen)")
      explodeBands(sized.select(col("doc_id"),
        graft.functions.vec.dHashBands(lower(hex(body)), b, bb).as("bands")))
    }
  }

  /** dHash over decoded pixels (PPM/PNG/JPEG/GIF/BMP). */
  private[graft] case object ImagePixels extends Media("image") {
    def bands(sized: DataFrame, b: Int, bb: Int): DataFrame =
      explodeBands(sized.select(col("doc_id"),
        graft.functions.vec.dHashImageBands(col("payload"), b, bb)
          .as("bands")))
  }

  private[graft] def image(headerLen: Int, decodePixels: Boolean): Media =
    if (decodePixels) ImagePixels else ImageBytes(headerLen)

  /** The 64-bit energy/zero-crossing WAV fingerprint. */
  private[graft] case object Audio extends Media("audio") {
    def bands(sized: DataFrame, b: Int, bb: Int): DataFrame =
      BandedHamming.bandRows(sized.select(col("doc_id"),
        graft.functions.vec.audioFingerprint64(col("payload")).as("afp")),
        "afp", b, bb)
  }

  /** Up to `maxFrames` sampled frame dHashes per video, one row per frame
    * under the composite id `doc_id·64 + frame_idx` (frame pairs from one
    * video must not collapse in a pair dedup). The sizing count needs the
    * exact frame count (a `videos × maxFrames` bound was measured
    * flipping a 666k-frame corpus across the 1M crossover), so the frame
    * rows persist once and feed both the count and the banding. Ids map
    * back by an ARITHMETIC shift, not DIV: integer DIV truncates toward
    * zero and would mis-attribute a negative video's frames to its
    * neighbor (doc ids must fit 57 bits either sign).
    */
  private[graft] final case class VideoFrames(maxFrames: Int)
      extends Media("video") {
    require(maxFrames >= 1 && maxFrames <= 64,
      s"maxFrames must be in [1, 64] (composite-id headroom), got $maxFrames")
    override def sized(m: DataFrame,
        storage: Option[StorageLevel]): DataFrame = {
      val frames = sampleFrameHashes(m, maxFrames)
        .select((col("doc_id") * 64 + col("frame_idx")).as("doc_id"),
          col("frame_hash"))
      storage.fold(frames)(graft.CacheScope.persist(frames, _))
    }
    def bands(sized: DataFrame, b: Int, bb: Int): DataFrame =
      BandedHamming.bandRows(sized, "frame_hash", b, bb)
    override def counts: String = "frames"
    override def flagged(ids: DataFrame): DataFrame =
      ids.select(shiftright(col("doc_id"), 6).as("doc_id"))
        .dropDuplicates("doc_id")
    override def report(hitsAndIds: (DataFrame, DataFrame)): DataFrame =
      BandedHamming.reportFromHits(
        hitsAndIds._1.select(shiftright(col("eval_id"), 6).as("eval_id"),
          shiftright(col("doc_id"), 6).as("doc_id"), col("hamming")),
        hitsAndIds._2.select(shiftright(col("eval_id"), 6).as("eval_id"))
          .distinct())
  }

  /** Band rows shape. `bands = 0` self-sizes the INDEX layout from the
    * media count: a persisted index built with the fixed 4x16 default at
    * 5M images would bake the measured key-space quadratic into every
    * incremental/streaming query deriving its layout from it.
    */
  private def bandRowsOf(media: Media, m: DataFrame, bands: Int,
      bandBits: Int, nHint: Long): DataFrame = {
    val (b, bb, _) = BandedHamming.resolveLayout(bands, bandBits, 0,
      if (nHint >= 0) nHint else media.sized(m, None).count())
    media.rows(m, b, bb)
  }

  /** The sized rows of `m` with the resolved layout: `bands`, `nHint`, or
    * the count over [[Media.sized]]; warns on a heuristic tail under
    * auto-sizing.
    */
  private def sizedLayout(media: Media, op: String, m: DataFrame,
      maxHamming: Int, bands: Int, bandBits: Int, probeRadius: Int,
      storage: Option[StorageLevel],
      nHint: Long): (DataFrame, (Int, Int, Int)) = {
    val sized = media.sized(m, if (bands == 0 && nHint < 0) storage else None)
    val layout @ (b, _, pr) = BandedHamming.resolveLayout(bands, bandBits,
      probeRadius, if (nHint >= 0) nHint else sized.count())
    if (bands == 0) BandedHamming.warnHeuristicTail(op, maxHamming, b, pr)
    (sized, layout)
  }

  /** Near-dup pairs shape: [[BandedHamming.pairJoin]]. */
  private def pairs(media: Media, op: String, m: DataFrame, maxHamming: Int,
      bands: Int, bandBits: Int, probeRadius: Int,
      maxBucketSize: Option[Int], storage: Option[StorageLevel],
      nHint: Long): DataFrame = {
    val (sized, (b, bb, pr)) = sizedLayout(media, op, m, maxHamming, bands,
      bandBits, probeRadius, storage, nHint)
    BandedHamming.pairJoin(media.bands(sized, b, bb), maxHamming, b, bb, pr,
      maxBucketSize, storage)
  }

  /** Incremental pairs shape: the layout comes from the index. */
  private def incrementalPairs(media: Media, op: String, newMedia: DataFrame,
      index: DataFrame, maxHamming: Int, bands: Int, bandBits: Int,
      probeRadius: Int, maxBucketSize: Option[Int],
      storage: Option[StorageLevel]): DataFrame = {
    val (b, bb, pr) = BandedHamming.resolveIndexLayout(
      bands, bandBits, probeRadius, index)
    if (bands == 0) BandedHamming.warnHeuristicTail(op, maxHamming, b, pr)
    BandedHamming.incrementalPairJoin(index, media.rows(newMedia, b, bb),
      maxHamming, b, bb, pr, maxBucketSize, storage)
  }

  /** Decontamination flag and report shape: the corpus sizes the layout
    * (the big side; both sides must hash under one layout for the band
    * keys to meet).
    */
  private def decontaminate(media: Media, op: String, corpus: DataFrame,
      bench: DataFrame, maxHamming: Int, bands: Int, bandBits: Int,
      probeRadius: Int, storage: Option[StorageLevel], nHint: Long,
      report: Boolean): DataFrame = {
    // a STREAMING corpus runs the same plan (stream-static broadcast
    // semi + stateful dedup), but auto-sizing counts the corpus —
    // impossible on an unbounded stream; demand the layout up front
    require(!corpus.isStreaming || bands > 0 || nHint >= 0,
      s"$op: a streaming corpus needs an explicit bands layout or an " +
        s"nHint — bands = 0 auto-sizing counts the ${media.counts}")
    val (sized, (b, bb, pr)) = sizedLayout(media, op, corpus, maxHamming,
      bands, bandBits, probeRadius, storage, nHint)
    val (c, e) = (media.bands(sized, b, bb), media.rows(bench, b, bb))
    if (report) media.report(BandedHamming.bipartiteHitPairs(c, e,
      maxHamming, b, bb, pr, storage))
    else media.flagged(BandedHamming.bipartiteFlagJoin(c, e, maxHamming,
      b, bb, pr, storage))
  }

  /** Benchmark-append flag shape: under `bands = 0` the layout resolves
    * from the FULL corpus count, never the post-anti-join remainder —
    * the full-re-run equality holds only when both runs hash under the
    * SAME layout, and a remainder-sized count could straddle the 1M
    * crossover the full re-run doesn't. `flag(remainder, nHint)` is the
    * kind's public flag operator.
    */
  private def decontaminateIncr(media: Media, corpus: DataFrame,
      prevFlagged: DataFrame, bands: Int, nHint: Long)(
      flag: (DataFrame, Long) => DataFrame): DataFrame = {
    val hint =
      if (bands > 0 || nHint >= 0) nHint
      else media.sized(corpus, None).count()
    TextOps.flagAppend(corpus, prevFlagged, "doc_id")(flag(_, hint))
  }
}
