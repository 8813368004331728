package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared banded Hamming-join core for 64-bit perceptual/content
  * fingerprints — the candidate-then-verify machinery behind BOTH
  * [[Multimodal.dHashNearDupPairs]] (image dHash) and
  * [[Dedup.simHashPairs]] (text SimHash): split the hash into `bands`
  * keys of `bandBits` bits, self-join per `(band_idx, band_key)`
  * bucket, verify with an exact `bit_count(xor)` over the full hash.
  *
  * The SCALE lesson (measured, PERF.md round 13): a FIXED band layout
  * fixes the band-key space, so coincidental collisions between
  * unrelated hashes grow as `bands · n² / 2^(bandBits+1)` — at 1.67M
  * docs the 4×16 layout spent 19× the time for 10× the rows while the
  * occupancy cap never engaged (average bucket n/2^16 ≈ 25). The key
  * space must scale with n: [[autoLayout]] switches past
  * [[ScaledLayoutMinDocs]] to 2 bands × 32 bits with radius-1
  * multi-index key probing ([[pairJoin]]'s `probeRadius`) on one join
  * side — the SAME ≤3-Hamming recall guarantee (some band has
  * per-band distance ≤ ⌊3/2⌋ = 1, the substring-probe argument of
  * multi-index hashing), with expected coincidental candidates down
  * `(2·33/2^32) / (4/2^16)` ≈ 4000×. Measured at the 1000× tier:
  * 183 → 24.7 s (dHash byte kernel), growth back to ~linear.
  */
private[graft] object BandedHamming {

  /** Corpus size where [[autoLayout]] switches to the scaled layout:
    * below it the 4×16 exact join is cheaper (no 33× probe-side
    * explode); above it the 2^16 key space is the quadratic term.
    * Crossover solves `4n + 3.1e-5·n² = 68n` → n ≈ 2M; 1M adds margin
    * for the candidate rows being ~4× wider than probe rows.
    */
  val ScaledLayoutMinDocs: Long = 1000000L

  /** `(bands, bandBits, probeRadius)` for `n` hashed documents — both
    * layouts carry the identical ≤3-Hamming completeness contract.
    */
  def autoLayout(n: Long): (Int, Int, Int) =
    if (n >= ScaledLayoutMinDocs) (2, 32, 1) else (4, 16, 0)

  /** Resolve a caller layout: `bands == 0` — the operator DEFAULT since
    * round 14 — means "size from the corpus": [[autoLayout]] of `n`
    * (evaluated lazily, so explicit layouts never pay the count). This
    * is [[Similarity.autoNlist]]'s `nlist = 0` convention: the scale
    * fix must not depend on the caller remembering it — a user pointing
    * the defaults at 5M images gets the scaled key space, not the
    * measured fixed-2^16 quadratic. Explicit `bands > 0` passes
    * through untouched (gate queries pin explicit layouts).
    */
  def resolveLayout(bands: Int, bandBits: Int, probeRadius: Int,
      n: => Long): (Int, Int, Int) =
    if (bands == 0) {
      // a custom probe radius or band width is part of a LAYOUT choice —
      // silently dropping either under auto-sizing would lose guaranteed
      // recall (e.g. a caller relying on 4x16+probe-1 completeness to 7)
      // or run a different key space than the caller typed
      require(probeRadius == 0 && bandBits == 16,
        s"bandBits = $bandBits / probeRadius = $probeRadius require an " +
          "explicit bands layout — bands = 0 (auto) resolves the whole " +
          "layout from the corpus size")
      autoLayout(n)
    } else {
      require(bands * bandBits == 64,
        s"bands x bandBits must cover the 64-bit hash, got $bands x $bandBits")
      (bands, bandBits, probeRadius)
    }

  /** [[resolveLayout]] for the incremental/streaming paths: `bands = 0`
    * derives the layout from the PERSISTED index ([[layoutOfIndex]] —
    * one full min/max scan that ALSO rejects a mixed-layout index
    * loudly) with the same loud guard on a stranded custom
    * `probeRadius`; explicit layouts pass through. Every call site is
    * a one-shot batch operator or a stream INITIALIZATION (the
    * streaming ingest loops resolve once at `start()` and close over
    * the result), so the scan amortizes — it never runs per
    * micro-batch (the round-14 regression ADVICE r15 #2 guards
    * against).
    */
  def resolveIndexLayout(bands: Int, bandBits: Int, probeRadius: Int,
      index: DataFrame): (Int, Int, Int) =
    if (bands == 0) {
      require(probeRadius == 0 && bandBits == 16,
        s"bandBits = $bandBits / probeRadius = $probeRadius require an " +
          "explicit bands layout — bands = 0 (auto) derives the whole " +
          "layout from the persisted index")
      layoutOfIndex(index)
    } else resolveLayout(bands, bandBits, probeRadius, 0L)

  /** Derive the layout a PERSISTED band index was built with — the
    * incremental path's auto-sizing: band keys are layout-specific, so
    * an arriving shard must hash under the INDEX's layout, not the
    * corpus-count one. `bands` is the stored full-hash array's length,
    * verified UNIFORM across the whole index in the same one-pass
    * min/max aggregation that reads it (round-16, ADVICE r15 #2: a
    * `limit(1)` peek was nondeterministic — on a mixed-layout index,
    * the exact corruption shards appended under a different layout
    * create, the derived layout could flap across calls and silently
    * miss pairs; deriving from min = max makes the corruption fail
    * loudly instead). One full scan of the narrow index — amortized,
    * because every auto-deriving call site is a one-shot operator or a
    * stream initialization, never a micro-batch loop. `probeRadius`
    * follows the [[autoLayout]] convention for the stored width
    * (32-bit keys probe at radius 1). Loud on an empty index — there
    * is nothing to derive from.
    */
  def layoutOfIndex(index: DataFrame): (Int, Int, Int) = {
    val head = index
      .agg(min(size(col("bands"))).as("lo"), max(size(col("bands"))).as("hi"))
      .head()
    require(!head.isNullAt(0),
      "cannot derive a band layout from an EMPTY index — pass bands explicitly")
    require(head.getInt(0) == head.getInt(1),
      s"index mixes band layouts (${head.getInt(0)}..${head.getInt(1)} " +
        "bands) — rebuild it under one layout before deriving from it")
    val bands = head.getInt(0)
    require(bands > 0 && 64 % bands == 0,
      s"index stores a $bands-band hash; 64 bits must split evenly")
    val bandBits = 64 / bands
    (bands, bandBits, if (bandBits >= 32) 1 else 0)
  }

  /** Full-scan uniformity check for a persisted band index: rejects a
    * MIXED-layout index (rows hashed under different band widths would
    * contribute garbage band keys and silently missed pairs). Since
    * round 16 [[layoutOfIndex]] runs the same check inline whenever a
    * layout is DERIVED; this standalone entry point remains for
    * maintenance audits of indexes whose layout the caller pins
    * explicitly (where nothing is derived, so nothing else would
    * scan).
    */
  def verifyUniformLayout(index: DataFrame): Unit = {
    val head = index
      .agg(min(size(col("bands"))).as("lo"), max(size(col("bands"))).as("hi"))
      .head()
    require(!head.isNullAt(0), "cannot verify the layout of an EMPTY index")
    require(head.getInt(0) == head.getInt(1),
      s"index mixes band layouts (${head.getInt(0)}..${head.getInt(1)} " +
        "bands) — rebuild it under one layout before deriving from it")
  }

  /** Warn for the HEURISTIC Hamming tail under auto-sizing: the banded
    * scheme only GUARANTEES pairs up to total distance
    * `bands·(probeRadius+1) − 1` (3 for BOTH auto layouts); beyond
    * that, recall is coincidental band-collision luck and therefore
    * LAYOUT-DEPENDENT — under the self-sizing `bands = 0` default the
    * 4–6 Hamming tail silently changes when a corpus crosses
    * [[ScaledLayoutMinDocs]] (or an `nHint` flips the layout).
    * [[Dedup.simHashPairs]] hard-rejects such a `maxDist`; the
    * multimodal operators keep the tail (a re-encoded image lands at
    * 4–6 routinely) but surface the discontinuity here (ADVICE r14 #2).
    */
  private[graft] def warnHeuristicTail(op: String, maxHamming: Int,
      bands: Int, probeRadius: Int): Unit = {
    val guaranteed = bands * (probeRadius + 1) - 1
    if (maxHamming > guaranteed)
      org.slf4j.LoggerFactory.getLogger("graft.operators.BandedHamming").warn(
        s"$op: maxHamming = $maxHamming exceeds the auto-resolved layout's " +
          s"completeness bound $guaranteed ($bands bands, probe radius " +
          s"$probeRadius) — pairs at distance ${guaranteed + 1}..$maxHamming " +
          "are heuristic and change across the corpus-size layout " +
          "crossover; pass an explicit bands layout to pin them")
  }

  /** Band rows for a single-`LONG` 64-bit hash column: one row per
    * `(doc_id, full-hash array, band_idx, band_key)` — band `b` is
    * bits `[b·bandBits, (b+1)·bandBits)`, little-endian, matching the
    * compiled dHash kernels' packing so [[pairJoin]] is kernel- and
    * operator-agnostic.
    */
  def bandRows(hashed: DataFrame, hashCol: String, bands: Int,
      bandBits: Int): DataFrame = {
    require(bands * bandBits == 64,
      s"bands x bandBits must cover the 64-bit hash, got $bands x $bandBits")
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1L
    hashed
      // a null hash yields a NULL array (not an array of nulls), so the
      // posexplode drops the whole row — the null-hash contract without
      // a filter (an IsNotNull constraint over a compiled-kernel alias
      // expands through the alias into source columns the downstream
      // index union no longer carries, breaking constraint rewriting)
      .select(col("doc_id"),
        expr(s"CASE WHEN $hashCol IS NULL THEN NULL ELSE " +
          s"transform(sequence(0, ${bands - 1}), " +
          s"b -> shiftright($hashCol, b * $bandBits) & ${mask}L) END")
          .as("bands"))
      .select(col("doc_id"), col("bands"),
        posexplode(col("bands")).as(Seq("band_idx", "band_key")))
  }

  /** Candidate-then-verify pair join over band rows
    * (`doc_id`, `bands`, `band_idx`, `band_key`):
    * optional occupancy cap ([[Dedup.capBandBuckets]], on EXACT keys)
    * → optional radius-`probeRadius` multi-index probe on ONE side
    * (each band row also joins under every key within that Hamming
    * distance of its own — ball masks are plan-time literals in a
    * single codegen'd projection; symmetric, so one-sided probing
    * covers a qualifying pair either way) → per-bucket self-join →
    * pair dedup → exact full-hash Hamming ≤ `maxHamming`. A pair
    * within total distance `bands·(probeRadius+1) − 1` is guaranteed
    * to surface (pigeonhole on per-band distances).
    */
  def pairJoin(rows0: DataFrame, maxHamming: Int, bands: Int,
      bandBits: Int, probeRadius: Int, maxBucketSize: Option[Int],
      storage: Option[org.apache.spark.storage.StorageLevel]): DataFrame = {
    require(maxHamming >= 0, "maxHamming must be >= 0")
    require(probeRadius >= 0 && probeRadius <= 2,
      s"probeRadius must be 0..2 (ball size C($bandBits,<=r) explodes " +
        s"combinatorially past that), got $probeRadius")
    val rows1 = maxBucketSize.fold(rows0)(Dedup.capBandBuckets(rows0, _))
    // materialize once — a DataFrame self-join re-evaluates its lineage
    // per side, doubling the hash projection AND the occupancy window
    // (the minHashLshPairs persist rationale, same operator shape)
    val rows = storage.fold(rows1)(graft.CacheScope.persist(rows1, _))
    val probed =
      if (probeRadius == 0) rows
      else rows.select(col("doc_id"), col("bands"), col("band_idx"),
        explode(array(ballMasks(bandBits, probeRadius).map(m =>
          col("band_key").bitwiseXOR(lit(m))): _*)).as("band_key"))
    val hamming = (0 until bands)
      .map(i => bit_count(element_at(col("b1"), i + 1)
        .bitwiseXOR(element_at(col("b2"), i + 1))))
      .reduce(_ + _).cast("bigint")
    probed.as("a")
      .join(rows.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.bands").as("b1"), col("b.bands").as("b2"))
      .dropDuplicates("d1", "d2")
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select("d1", "d2", "hamming")
  }

  /** Incremental twin of [[pairJoin]] — [[Dedup.bandedNearDupPairs]]'
    * shape for Hamming fingerprints: `index` holds the EXISTING
    * corpus's band rows (persisted parquet in deployment — the old
    * side is never re-hashed or re-read beyond these narrow rows),
    * `newRows` the arriving shard's. One join covers new↔old AND
    * new↔new: the left side is old ∪ new, the right side only the new
    * shard, so every pair with ≥1 new endpoint shares a bucket here
    * and old↔old pairs never form. Pair orientation is normalized
    * (`least`/`greatest`) and the result EQUALS the full
    * [[pairJoin]] recompute over (old ∪ new) restricted to pairs
    * touching the shard — same verify, same cap semantics (occupancy
    * counted over the UNION, so the cap is stable as shards
    * accumulate; the PROBE side derives from the capped union
    * restricted to new ids, exactly as [[pairJoin]] probes from capped
    * rows — a new row in a capped-out bucket must not probe NEIGHBOR
    * buckets the full recompute would never reach from it).
    * `probeRadius` explodes the ball on the NEW side only (the
    * smaller one). Sides must be id-disjoint
    * ([[Dedup.incrementalNearDupPairs]]' contract).
    */
  def incrementalPairJoin(index: DataFrame, newRows: DataFrame,
      maxHamming: Int, bands: Int, bandBits: Int, probeRadius: Int,
      maxBucketSize: Option[Int],
      storage: Option[org.apache.spark.storage.StorageLevel]): DataFrame = {
    require(maxHamming >= 0, "maxHamming must be >= 0")
    require(probeRadius >= 0 && probeRadius <= 2,
      s"probeRadius must be 0..2, got $probeRadius")
    val cols = Seq("doc_id", "bands", "band_idx", "band_key").map(col)
    // newSide doubles as the probe base ONLY on the radius-0/uncapped
    // branch — on the capped probed path (the auto layout past the
    // crossover) the probe base comes from the capped union instead,
    // so persisting the shard rows there would cache them twice for
    // nothing (ADVICE r14 #3)
    val newSideServesProbe = maxBucketSize.isEmpty || probeRadius == 0
    val newSide =
      if (newSideServesProbe)
        storage.fold(newRows)(graft.CacheScope.persist(newRows, _))
      else newRows
    // the new-side tag rides THROUGH the cap (ids are disjoint by
    // contract, so the flag is equivalent to an id-set membership test
    // without the extra join) — the capped union then serves both the
    // left join side and the probe base
    val all0 = index.select(cols: _*).withColumn("__is_new", lit(false))
      .unionByName(
        newSide.select(cols: _*).withColumn("__is_new", lit(true)))
    val all1 = maxBucketSize.fold(all0)(Dedup.capBandBuckets(all0, _))
    val allTagged = storage.fold(all1)(graft.CacheScope.persist(all1, _))
    val all = allTagged.drop("__is_new")
    // radius 0 probes exact keys only: a capped-out bucket has no left
    // rows either, so the uncapped newSide is equivalent AND skips the
    // tag filter; radius > 0 must probe from CAPPED new rows
    val probeBase =
      if (newSideServesProbe) newSide
      else allTagged.filter(col("__is_new")).drop("__is_new")
    val probed =
      if (probeRadius == 0) probeBase
      else probeBase.select(col("doc_id"), col("bands"), col("band_idx"),
        explode(array(ballMasks(bandBits, probeRadius).map(m =>
          col("band_key").bitwiseXOR(lit(m))): _*)).as("band_key"))
    val hamming = (0 until bands)
      .map(i => bit_count(element_at(col("b1"), i + 1)
        .bitwiseXOR(element_at(col("b2"), i + 1))))
      .reduce(_ + _).cast("bigint")
    all.as("a")
      .join(probed.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"),
        col("a.bands").as("b1"), col("b.bands").as("b2"))
      .dropDuplicates("d1", "d2")
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select("d1", "d2", "hamming")
  }

  /** Bipartite decontamination flag join — [[pairJoin]]'s machinery
    * pointed at TWO sides with a binary verdict: flag every corpus
    * doc whose full 64-bit fingerprint lies within `maxHamming` of
    * ANY benchmark doc's. The sides are DISTINCT TABLES, never a
    * self-join, so there is NO self-id exclusion (round-19): a corpus
    * doc that coincidentally shares an id with a benchmark doc is
    * still flagged when its fingerprint matches — the exact silent
    * recall loss the no-cap design exists to prevent. Callers need
    * no id-disjointness contract. The
    * [[graft.operators.TextOps.semanticDecontaminateFlag]] consumption
    * shape applied to Hamming fingerprints: the benchmark side (an
    * eval suite — small by definition) persists once and BROADCASTS,
    * the corpus band rows probe it in a hash LEFT-SEMI whose condition
    * carries the exact `bit_count(xor)` verify inline, so Spark exits
    * each corpus band row at its first passing benchmark entry and
    * corpus fingerprints never shuffle. `probeRadius` explodes the
    * ball on the BENCHMARK side (the small one), preserving the
    * scaled layout's ≤3-Hamming completeness contract.
    *
    * NO occupancy cap, deliberately: [[Dedup.capBandBuckets]] trades
    * bounded work for recall on degenerate strata, which is the right
    * trade for near-dup PAIR mining but the wrong one for a
    * decontamination DROP decision — silently unflagging a benchmark
    * hit corrupts the eval. The candidate work is bounded instead by
    * the broadcast semi join itself: one bucket probe per corpus band
    * row, iterating that bucket's entries until the first PASSING
    * pair (true hits exit at ~1 entry; a coincidental key collision
    * with a deep benchmark bucket iterates it once, failing the
    * verify). Deep-bucket iteration is contained by the layout, not a
    * cap: expected coincidental collisions per corpus row are
    * `bands·|bench|/2^bandBits`, and the scaled 2×32 auto-layout past
    * 1M docs keeps that ≈ 0 even against a mega-stratum benchmark.
    *
    * Returns DISTINCT flagged corpus ids (`doc_id`) — one shuffle,
    * over the flagged subset only (a doc matching in several bands
    * exits the semi join once per band row). The dedup is
    * `dropDuplicates`, not `distinct`, so the SAME plan runs on a
    * STREAMING corpus (stream-static broadcast semi join + stateful
    * dedup in append mode — a doc's band rows land in one micro-batch,
    * so the cross-batch state only ever carries the flagged-id set,
    * bounded by the contamination count, not the corpus).
    */
  def bipartiteFlagJoin(corpusRows: DataFrame, benchRows: DataFrame,
      maxHamming: Int, bands: Int, bandBits: Int, probeRadius: Int,
      storage: Option[org.apache.spark.storage.StorageLevel]): DataFrame = {
    val (probed, hamming) =
      probedBenchSide(benchRows, maxHamming, bands, bandBits, probeRadius,
        storage)
    corpusRows.as("c")
      .join(broadcast(probed.as("e")),
        col("c.band_idx") === col("e.band_idx") &&
          col("c.band_key") === col("e.band_key") &&
          hamming <= maxHamming,
        "left_semi")
      .select(col("doc_id")).dropDuplicates("doc_id")
  }

  /** Shared benchmark-side prep for the bipartite decon joins: rename
    * to `(eval_id, eval_bands, band_idx, band_key)`, persist before
    * the broadcast (an unpersisted lineage would re-hash the payloads
    * inside the driver-side broadcast collect — the embed-persist
    * convention of the semantic decon tiers), and explode the
    * radius-`probeRadius` key ball. Returns the probed side plus the
    * full-hash Hamming expression for the join condition.
    */
  private def probedBenchSide(benchRows: DataFrame, maxHamming: Int,
      bands: Int, bandBits: Int, probeRadius: Int,
      storage: Option[org.apache.spark.storage.StorageLevel])
      : (DataFrame, org.apache.spark.sql.Column) = {
    require(maxHamming >= 0, "maxHamming must be >= 0")
    require(probeRadius >= 0 && probeRadius <= 2,
      s"probeRadius must be 0..2, got $probeRadius")
    val bench0 = benchRows.select(col("doc_id").as("eval_id"),
      col("bands").as("eval_bands"), col("band_idx"), col("band_key"))
    val bench = storage.fold(bench0)(graft.CacheScope.persist(bench0, _))
    val probed =
      if (probeRadius == 0) bench
      else bench.select(col("eval_id"), col("eval_bands"), col("band_idx"),
        explode(array(ballMasks(bandBits, probeRadius).map(m =>
          col("band_key").bitwiseXOR(lit(m))): _*)).as("band_key"))
    val hamming = (0 until bands)
      .map(i => bit_count(element_at(col("bands"), i + 1)
        .bitwiseXOR(element_at(col("eval_bands"), i + 1))))
      .reduce(_ + _).cast("bigint")
    (probed, hamming)
  }

  /** Bipartite decontamination ATTRIBUTION report, first half — the
    * contamination-report shape ([[Dedup.contaminationReport]]'s
    * contract) on [[bipartiteFlagJoin]]'s machinery: per BENCHMARK
    * item, how many corpus docs it flags and at what minimum Hamming
    * — the first question an eval owner asks when a suite leaks.
    * Same plan skeleton with the semi join widened to INNER (the
    * count needs every matching corpus doc, not just existence):
    * corpus band rows row-local, benchmark broadcast with the
    * full-hash verify in the condition. Returns the raw verified hit
    * stream `(eval_id, doc_id, hamming)` for every band-colliding,
    * verify-passing (corpus, benchmark) combination — duplicates per
    * band/probe key included — plus the distinct benchmark-id frame
    * for zero-hit reporting; [[reportFromHits]] aggregates them (the
    * video report re-keys both from frames to videos first). NO
    * occupancy cap, as in the flag tier (an attribution that silently
    * undercounts misleads the eval owner exactly like a silent
    * unflag).
    */
  private[operators] def bipartiteHitPairs(corpusRows: DataFrame,
      benchRows: DataFrame, maxHamming: Int, bands: Int, bandBits: Int,
      probeRadius: Int,
      storage: Option[org.apache.spark.storage.StorageLevel])
      : (DataFrame, DataFrame) = {
    val (probed, hamming) =
      probedBenchSide(benchRows, maxHamming, bands, bandBits, probeRadius,
        storage)
    val hits = corpusRows.as("c")
      .join(broadcast(probed.as("e")),
        col("c.band_idx") === col("e.band_idx") &&
          col("c.band_key") === col("e.band_key") &&
          hamming <= maxHamming)
      .select(col("eval_id"), col("c.doc_id").as("doc_id"),
        hamming.as("hamming"))
    (hits, probed.select(col("eval_id")).distinct())
  }

  /** Aggregate a hit stream into the attribution report
    * `(eval_id, n_flagged, min_hamming)` — ONE aggregation keyed on
    * `eval_id`, over the MATCHING pairs only (bounded by the
    * contamination volume, never the corpus; corpus fingerprints never
    * shuffle): `count(DISTINCT doc_id)` absorbs the per-band /
    * per-probe-key duplicates of a pair, `min(hamming)` is
    * duplicate-insensitive; zero-hit benchmark ids report `(0, null)`
    * via the left join.
    * The join broadcasts: both sides are benchmark-sized (the agg
    * emits one row per HIT eval item), but post-agg stats are unknown
    * so Spark would otherwise plan a sort-merge join
    * (preserved-left outer join builds on the right).
    */
  private[operators] def reportFromHits(hits: DataFrame,
      benchIds: DataFrame): DataFrame = {
    val rep = hits.groupBy(col("eval_id"))
      .agg(countDistinct(col("doc_id")).as("n_flagged"),
        min(col("hamming")).as("min_hamming"))
    benchIds
      .join(broadcast(rep), Seq("eval_id"), "left")
      .select(col("eval_id"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        col("min_hamming"))
  }

  /** Per-bit bias diagnostic for a 64-bit fingerprint column — the
    * SCREEN for the degenerate-entropy regime the 1000× probe caught
    * (under-grid video frames: correlated gradient bits → radius
    * matching went output-quadratic on coincidental near-collisions,
    * 751 s / 10M false "pairs"). Returns ONE row
    * `(n, min_p1, max_p1)` where `p1(bit)` is the fraction of rows
    * with that bit set: a healthy content fingerprint reads every bit
    * near 0.5; a bit pinned near 0 or 1 carries no information, and a
    * fingerprint with many such bits must be exact-matched or
    * re-extracted at higher input resolution, never radius-matched.
    * One map-side partial aggregation — 64 avgs riding a single
    * 1-row exchange; run it BEFORE committing to a fuzzy join over a
    * new corpus.
    */
  def fingerprintBiasStats(hashed: DataFrame, hashCol: String): DataFrame = {
    val bits = (0 until 64).map(b =>
      avg(shiftright(col(hashCol), b).bitwiseAND(lit(1L))).as(s"b$b"))
    hashed.agg(count(col(hashCol)).as("n"), bits: _*)
      .select(col("n"),
        least((0 until 64).map(b => col(s"b$b")): _*).as("min_p1"),
        greatest((0 until 64).map(b => col(s"b$b")): _*).as("max_p1"))
  }

  /** [[fingerprintBiasStats]] computable from PERSISTED band rows —
    * screen an existing index (or an arriving shard's band rows)
    * without re-reading any payload: one row per `band_idx` with
    * `(n, min_p1, max_p1)` over that band's `bandBits` key bits. The
    * same pinned-bit reading applies per band; `bandBits` must match
    * the index layout ([[layoutOfIndex]]).
    */
  def bandBitBiasStats(bandRows: DataFrame, bandBits: Int): DataFrame = {
    require(bandBits >= 1 && bandBits <= 64, s"bandBits out of range: $bandBits")
    val bits = (0 until bandBits).map(j =>
      avg(shiftright(col("band_key"), j).bitwiseAND(lit(1L))).as(s"j$j"))
    bandRows.groupBy(col("band_idx"))
      .agg(count(lit(1)).as("n"), bits: _*)
      .select(col("band_idx"), col("n"),
        least((0 until bandBits).map(j => col(s"j$j")): _*).as("min_p1"),
        greatest((0 until bandBits).map(j => col(s"j$j")): _*).as("max_p1"))
  }

  /** Every XOR mask with popcount ≤ `radius` over `bandBits` bits —
    * the probe ball, enumerated at PLAN time. `|ball| = 1 + C(b,1)
    * [+ C(b,2)]` — 33 for the (32, 1) scaled layout.
    */
  private def ballMasks(bandBits: Int, radius: Int): Seq[Long] = {
    val r1 = (0 until bandBits).map(i => 1L << i)
    val r2 = if (radius < 2) Nil
      else for { i <- 0 until bandBits; j <- (i + 1) until bandBits }
        yield (1L << i) | (1L << j)
    0L +: (r1 ++ r2)
  }
}
