package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, and SimHash near-dup detection.
  *
  * Scale design: signatures (minhash arrays, simhash longs) are computed
  * ROW-LOCALLY with array lambdas — zero shuffle, full codegen. The only
  * shuffles are candidate generation (a join keyed on band/bucket — the
  * standard LSH trick that replaces the O(n²) pairwise compare with
  * per-bucket joins) and the final pair dedup. At 100 TB the bucket join is
  * the scalable path; the exact n-gram pairwise join is the small-data
  * verifier.
  */
object Dedup {

  // -------------------------------------------------------------------
  // Exact dedup
  // -------------------------------------------------------------------

  /** Exact dedup via hash-groupBy on the text: one row per distinct text,
    * keeping the smallest id (deterministic winner) + the multiplicity.
    * At scale the groupBy key should be `sha2(text)` to shrink shuffle
    * width; grouping here is on a 256-bit digest plus a min on id.
    */
  def exact(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Incremental exact dedup — the shape a production pipeline actually
    * runs: a NEW shard arrives and is deduplicated against the existing
    * corpus (and internally) WITHOUT recomputing anything over the old
    * data. The existing side collapses to distinct content hashes (in
    * production a persisted fingerprint index, re-read not re-derived);
    * the new side anti-joins on its sha-256 and then exact-dedups
    * within itself (min-id winner). Output: the surviving new rows.
    */
  def incrementalExact(newDocs: DataFrame, corpus: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val index = corpus.select(sha2(col(textCol), 256).as("text_hash"))
      .distinct()
    val hashed = newDocs.withColumn("text_hash", sha2(col(textCol), 256))
    val fresh = hashed.join(index, Seq("text_hash"), "left_anti")
    val winners = fresh.groupBy(col("text_hash"))
      .agg(min(col(idCol)).as(idCol))
    fresh.join(winners, Seq("text_hash", idCol), "left_semi")
      .drop("text_hash")
  }

  // -------------------------------------------------------------------
  // Word n-gram shingles + exact Jaccard (the verifier path)
  // -------------------------------------------------------------------

  /** Distinct word n-gram shingles per document, row-local. Docs shorter
    * than n grams yield an EMPTY array (never a null element — an exploded
    * null would alias all short docs into one shared join key).
    */
  def shingles(text: Column, n: Int): Column = {
    val ws = TextOps.wsTokens(text)
    filter(
      array_distinct(
        transform(
          sequence(lit(0), greatest(size(ws) - n, lit(0))),
          i => when(i + n <= size(ws), concat_ws(" ", slice(ws, i + 1, lit(n))))))
        .cast("array<string>"),
      g => g.isNotNull)
  }

  /** Distinct gram HASHES per doc: tokens string-hashed once, sliding
    * combine + dedup in the native `ngram_hashes` kernel.
    * Joining/counting on 64-bit hashes instead of gram strings shrinks the
    * shuffle ~10× and skips all string building; counts (and so Jaccard)
    * are identical modulo negligible 64-bit collisions.
    */
  def gramHashes(text: Column, n: Int): Column =
    graft.functions.vec.ngramHashes(
      graft.functions.vec.wsTokenHashes(text), n)

  /** Exact n-gram Jaccard near-dup pairs: explode distinct gram hashes,
    * join on shared gram (candidate generation), then
    * `|∩| / (|A|+|B|−|∩|) ≥ minJaccard`. The gram-join is the shuffle; very
    * frequent grams fan out quadratically, so callers at scale should cap
    * gram document-frequency (`maxGramDf`) — the classic stopword-shingle
    * skew guard. The cap gates CANDIDATE GENERATION only: per-doc gram
    * counts (the Jaccard denominator) always come from the full gram set,
    * so the reported `jaccard` stays the true metric — with a cap the
    * numerator can only miss capped shared grams, making the score a lower
    * bound (pairs that share only stopword-shingles are deliberately
    * dropped).
    */
  /** Shared gram-hash candidate stage for the pairwise near-dup metrics:
    * exploded `(doc_id, gram)` rows — df-capped for CANDIDATE GENERATION
    * when `maxGramDf` is set — plus the UNCAPPED per-doc gram counts
    * (the metric denominators always use the full gram set).
    */
  private def gramCandidates(df: DataFrame, n: Int, textCol: String,
      idCol: String, maxGramDf: Option[Int]): DataFrame = {
    // the per-doc gram count (the metric denominator) RIDES the exploded
    // rows as a carried column instead of living in a second aggregate:
    // the old shape re-scanned the input, re-hashed every doc, shuffled a
    // full doc-keyed aggregate and joined it back TWICE post-agg — a
    // whole scan + exchange + two joins for a value that is row-local
    // (`size` of the distinct-gram array). The carry costs one int per
    // exploded row in the pair join's shuffle and one extra row-local
    // kernel eval (Generate and Project evaluate their inputs
    // separately); the denominators still come from the UNCAPPED gram
    // set — the df-cap below drops rows but never touches `n_grams`.
    // two-step select: the gram array MUST materialize as a column below
    // the Generate — written as one select, the planner leaves `text` in
    // the Generate child and the size() projection above it re-runs the
    // whole hash kernel PER EXPLODED ROW (measured 3-4x regression:
    // O(grams) kernel evals per doc). With the array as a child column
    // the kernel runs once per doc and size() above the Generate is O(1)
    // on the carried array.
    val arr = gramHashes(col(textCol), n)
    val grams = df.select(col(idCol).as("doc_id"), arr.as("__grams"))
      .select(col("doc_id"), size(col("__grams")).as("n_grams"),
        explode(col("__grams")).as("gram"))
    maxGramDf match {
      case Some(cap) =>
        // df as a WINDOW count over the gram key, not a groupBy+join
        // twin: the window's shuffle partitions by exactly the key the
        // downstream pair self-join needs, so the cap costs zero extra
        // exchanges (the capBandBuckets pattern) — the old shape
        // re-shuffled the full gram set once for the freq aggregate and
        // once more to join it back
        val w = org.apache.spark.sql.expressions.Window.partitionBy("gram")
        grams.withColumn("__gram_df", count(lit(1)).over(w))
          .filter(col("__gram_df") <= cap)
          .select("doc_id", "n_grams", "gram")
      case None => grams
    }
  }

  def ngramJaccardPairs(df: DataFrame, n: Int = 3, minJaccard: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id",
      maxGramDf: Option[Int] = None): DataFrame = {
    val cand = gramCandidates(df, n, textCol, idCol, maxGramDf)
    // n1/n2 are functionally dependent on d1/d2, so folding them into
    // the grouping key costs nothing in cardinality and removes both
    // post-agg denominator joins
    cand.as("a")
      .join(cand.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.n_grams").as("n1"), col("b.n_grams").as("n2"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        col("shared").cast("double")
          / (col("n1") + col("n2") - col("shared")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("d1", "d2", "jaccard")
  }

  /** Asymmetric CONTAINMENT near-dup: `|A∩B| / |A|` — how much of doc A's
    * gram set lives inside doc B. Jaccard misses subset inclusion (a
    * short doc quoted wholesale inside a long one scores low because the
    * union is dominated by the long doc); containment is the standard
    * complement (Broder's resemblance vs containment) and the screen
    * that catches quote/boilerplate inclusion. Emits ORDERED pairs
    * (d1 contained in d2, both directions evaluated) above the
    * threshold. Same candidate shape as [[ngramJaccardPairs]]: gram-hash
    * self-join (df-cappable), denominators from the uncapped per-doc
    * gram counts.
    */
  def containmentPairs(df: DataFrame, n: Int = 3,
      minContainment: Double = 0.9, textCol: String = "text",
      idCol: String = "doc_id", maxGramDf: Option[Int] = None): DataFrame = {
    val cand = gramCandidates(df, n, textCol, idCol, maxGramDf)
    // both denominators ride the grouping key (ngramJaccardPairs' carry)
    // — no post-agg join back to a doc-keyed count aggregate. The
    // candidate join counts each UNORDERED pair once (`<`, not `=!=`):
    // |A∩B| is symmetric, so generating both orientations in the join
    // would double the join output and the aggregate input for no new
    // information — the two directed rows are emitted ROW-LOCALLY above
    // the aggregate by a 2-element explode (the clusterLabels
    // symmetrize shape), each with its own denominator.
    cand.as("a")
      .join(cand.as("b"),
        col("a.gram") === col("b.gram") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.n_grams").as("na"), col("b.n_grams").as("nb"))
      .agg(count(lit(1)).as("shared"))
      .select(col("shared"), explode(array(
          struct(col("da").as("d1"), col("db").as("d2"), col("na").as("n1")),
          struct(col("db").as("d1"), col("da").as("d2"), col("nb").as("n1"))))
        .as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"),
        (col("shared").cast("double") / col("p.n1").cast("double"))
          .as("containment"))
      .filter(col("containment") >= minContainment)
      .select("d1", "d2", "containment")
  }

  // -------------------------------------------------------------------
  // Benchmark decontamination
  // -------------------------------------------------------------------

  /** Benchmark decontamination: drop corpus docs that share ANY word
    * n-gram with a benchmark/eval set — the standard train/test-leakage
    * guard in training-data prep (overlap-n-gram style; n=13 is the
    * common production choice, the short fixture docs test with n=3).
    *
    * Scale shape: gram hashes are row-local on both sides
    * ([[gramHashes]], native kernel); the benchmark side collapses to
    * DISTINCT gram hashes — tiny, |benchmark| ≪ |corpus| — and is
    * BROADCAST into the semi-join against the exploded corpus grams, so
    * the corpus is never shuffled; the only aggregation is the distinct
    * over contaminated doc ids (bounded by the contamination, not the
    * corpus).
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 13,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    corpus.join(contaminatedIds(corpus, benchmark, n, textCol, idCol),
      Seq(idCol), "left_anti")

  /** The ids [[decontaminate]] drops (report form — audit what leaked). */
  def contaminatedIds(corpus: DataFrame, benchmark: DataFrame, n: Int = 13,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val benchGrams = benchmark
      .select(explode(gramHashes(col(textCol), n)).as("gram")).distinct()
    corpus
      .select(col(idCol), explode(gramHashes(col(textCol), n)).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"), "left_semi")
      .select(idCol).distinct()
  }

  /** Multi-benchmark contamination REPORT in ONE corpus pass: for each
    * registered benchmark, how many corpus docs share ≥ 1 distinct
    * n-gram with it and what corpus fraction that is — the audit table a
    * pipeline publishes per eval suite before training. The corpus
    * grams are exploded ONCE; the union of all benchmark gram sets
    * (each tagged with its benchmark name) broadcasts into a single
    * semi-style join, so adding benchmarks never adds corpus passes.
    * Corpus rows: `(bench, n_contaminated, n_corpus, frac)`.
    */
  def contaminationReport(corpus: DataFrame,
      benchmarks: Seq[(String, DataFrame)], n: Int = 13,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(benchmarks.nonEmpty, "at least one benchmark required")
    val benchGrams = benchmarks.map { case (name, b) =>
      b.select(lit(name).as("bench"),
        explode(gramHashes(col(textCol), n)).as("gram")).distinct()
    }.reduce(_ unionByName _)
    // no broadcast() hint: the union of ALL benchmark gram sets can
    // outgrow the broadcast ceiling with many/large eval suites, and a
    // hint removes Spark's ability to say no (the lesson lineDedup
    // documents) — AQE still picks broadcast when the measured relation
    // actually fits
    val hits = corpus
      .select(col(idCol), explode(gramHashes(col(textCol), n)).as("gram"))
      .join(benchGrams, Seq("gram"))
      .groupBy(col("bench"))
      .agg(countDistinct(col(idCol)).as("n_contaminated"))
    // every registered benchmark reports, zero-contamination included;
    // the corpus size rides as a LAZY one-row cross join (no eager count
    // at construction time — building the report must stay plan-only)
    import corpus.sparkSession.implicits._
    benchmarks.map(_._1).toDF("bench")
      .join(hits, Seq("bench"), "left")
      .crossJoin(broadcast(corpus.agg(count(lit(1)).as("n_corpus"))))
      .select(col("bench"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        col("n_corpus"),
        when(col("n_corpus") === 0L, lit(0.0))
          .otherwise(coalesce(col("n_contaminated"), lit(0L)).cast("double") /
            col("n_corpus"))
          .as("frac"))
  }

  /** Fraction-threshold decontamination — the calibrated dial between
    * [[decontaminate]]'s any-gram rule and keeping everything: a doc is
    * dropped only when MORE than `maxOverlap` of its distinct grams
    * occur in the benchmark set (at n=13 any-gram is near-exact-
    * substring matching; at smaller n or on boilerplate-heavy corpora
    * the fraction rule is the standard production dial). Scale shape:
    * the corpus is shingled ONCE (the gram array computes in one
    * projection; `size` rides the explode's retained child output, so
    * the kernel never re-runs per consumer), hits come from the
    * broadcast benchmark set map-side, and the per-doc counting groupBy
    * partial-aggregates before its shuffle — O(docs) rows move, never
    * the gram volume. Docs with no grams are kept (overlap 0 by
    * convention; `explode_outer` keeps their row alive).
    */
  def decontaminateFraction(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 13, maxOverlap: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val benchGrams = benchmark
      .select(explode(gramHashes(col(textCol), n)).as("gram")).distinct()
      .withColumn("__hit", lit(1))
    val exploded = corpus
      .select(col(idCol), gramHashes(col(textCol), n).as("__g"))
      .select(col(idCol), size(col("__g")).cast("long").as("__n"),
        explode_outer(col("__g")).as("gram"))
    val kept = exploded
      // null gram (gramless doc) never equals a key — __hit stays null
      .join(broadcast(benchGrams), Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(max(col("__n")).as("__n"), count(col("__hit")).as("__shared"))
      .filter(col("__shared").cast("double")
        / greatest(col("__n"), lit(1L)).cast("double") <= maxOverlap)
      .select(idCol)
    corpus.join(kept, Seq(idCol), "left_semi")
  }

  /** Fuzzy (near-dup) decontamination — the screen for PARAPHRASED
    * benchmark leakage the exact n-gram rules cannot catch: a corpus
    * doc is contaminated when its MinHash-ESTIMATED Jaccard against ANY
    * benchmark doc reaches `minJaccard`. Same hash family, banding, and
    * signature-agreement estimate as [[minHashLshPairs]] (a candidate
    * must share a band bucket), so recall follows the standard LSH
    * S-curve — the registered gate measures it against the exact
    * cross-split n-gram-Jaccard contamination.
    *
    * Scale shape (the decon family contract): band rows are row-local
    * on both sides; the benchmark side — |benchmark| ≪ |corpus| —
    * collapses to its band rows and BROADCASTS into the bucket join, so
    * the corpus is never shuffled; the only aggregation is the distinct
    * over contaminated ids (bounded by the contamination, not the
    * corpus).
    */
  def contaminatedIdsFuzzy(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val c = minHashBandIndex(corpus, n, numHashes, bands, textCol, idCol)
    val b = minHashBandIndex(benchmark, n, numHashes, bands, textCol, idCol)
      .select(col("sig").as("b_sig"), col("band_idx").as("b_band_idx"),
        col("band_key").as("b_band_key"))
    c.join(broadcast(b),
        col("band_idx") === col("b_band_idx") &&
          col("band_key") === col("b_band_key"))
      .filter(graft.functions.vec.sigAgreement(col("sig"), col("b_sig"))
        .cast("double") / numHashes >= minJaccard)
      // band index normalizes the id to "doc_id"; surface the CALLER's
      // idCol so decontaminateFuzzy's left-anti join keys line up
      .select(col("doc_id").as(idCol)).distinct()
  }

  /** The corpus with [[contaminatedIdsFuzzy]]'s docs removed. */
  def decontaminateFuzzy(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    corpus.join(contaminatedIdsFuzzy(corpus, benchmark, n, numHashes,
      bands, minJaccard, textCol, idCol), Seq(idCol), "left_anti")

  /** Bloom-prefiltered decontamination — for when the benchmark's
    * distinct gram set outgrows a broadcast join relation (a hashed
    * relation costs ~16+ B/key; a 1%-fpp Bloom costs ~1.2 B/key, an
    * order of magnitude more grams per executor-memory budget). The
    * RESULT is identical to [[decontaminate]]:
    *
    *  1. corpus grams are prefiltered MAP-SIDE through the broadcast
    *     Bloom — no false negatives, so no contaminated doc can escape;
    *  2. the surviving candidates (true hits + ~fpp of the corpus grams)
    *     are exact-verified against the real benchmark gram set, which
    *     removes every Bloom false positive.
    *
    * At 100 TB the win is step 1: the verify join shuffles ~fpp of the
    * corpus gram volume instead of all of it (AQE still broadcasts the
    * bench side when it fits). The probe is the compiled
    * `bloom_might_contain` kernel — the serialized
    * filter rides as a plan literal (the [[Sketches.cmsProbe]] pattern)
    * and the per-gram probe stays inside whole-stage codegen.
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 13, fpp: Double = 0.01,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // three consumers (count, bloom build, verify join) — scope-aware
    val benchGrams = graft.CacheScope.persist(benchmark
      .select(explode(gramHashes(col(textCol), n)).as("gram")).distinct())
    // planning actions (like inferDim): size then build the sketch
    val bloom = benchGrams.stat.bloomFilter("gram",
      math.max(benchGrams.count(), 1L), fpp)
    val blobStream = new java.io.ByteArrayOutputStream()
    bloom.writeTo(blobStream)
    val contaminated = corpus
      .select(col(idCol), explode(gramHashes(col(textCol), n)).as("gram"))
      .filter(graft.functions.sketches.bloomMightContain(
        lit(blobStream.toByteArray), col("gram")))
      .join(benchGrams, Seq("gram"), "left_semi")
      .select(idCol).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  // -------------------------------------------------------------------
  // MinHash + LSH (the 100 TB path)
  // -------------------------------------------------------------------

  /** Row-local MinHash signature: `numHashes` independent hash slots, each
    * the min over shingles of a splitmix-mixed 64-bit gram hash — the
    * standard "one hash family, seeded per slot" construction. Grams are
    * string-hashed ONCE (`xxhash64`), then the per-slot mixing runs as a
    * native compiled loop (`minhash_sig`) — the
    * interpreted higher-order-function version was ~100× slower.
    */
  def minHashSignature(text: Column, n: Int = 3,
      numHashes: Int = 64): Column =
    graft.functions.vec.minHashSig(gramHashes(text, n), numHashes)

  /** LSH band keys over a signature: `bands` buckets of `rowsPerBand`
    * consecutive slots, each band hashed to one 64-bit key. Docs sharing a
    * band key are candidate near-dups (standard banding: catches pairs with
    * Jaccard ≳ (1/bands)^(1/rowsPerBand)).
    */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    // compiled kernel, byte-exact with the transform/slice/xxhash64
    // formulation it replaces (property-pinned — band keys live in
    // persisted index caches): one loop, no per-band slice allocations,
    // no interpreted higher-order function
    graft.functions.vec.lshBandKeys(sig, bands, rowsPerBand)

  /** Banded MinHash index rows for a corpus: one `(doc_id, sig, band_idx,
    * band_key)` row per document × band — signature and band keys both
    * row-local (zero shuffle). This IS the persistable near-dup index: a
    * production pipeline writes it partitioned by `band_idx` once per
    * corpus snapshot, and every future shard dedups against the parquet
    * WITHOUT re-shingling a single old document
    * ([[incrementalNearDupPairs]]).
    */
  def minHashBandIndex(df: DataFrame, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // gramless docs (< n tokens) never enter the index: MinHashSig
    // returns NULL for an empty gram set (the constant empty-min vector
    // would alias every short doc into one identical signature —
    // est_jaccard 1.0 false positives — and one shared band bucket, a
    // quadratic bucket join). Exact n-gram Jaccard has no pairs for
    // empty gram sets, so exclusion is the correct semantics. The rows
    // drop via posexplode of a null band array — NOT an explicit
    // filter: Catalyst pushes filters through projects by re-inlining
    // the aliased expression, which would run the tokenize+hash kernel
    // a second time per row (measured: ngram_hashes twice in the plan).
    df.select(col(idCol).as("doc_id"),
        minHashSignature(col(textCol), n, numHashes).as("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(when(col("sig").isNotNull,
          lshBands(col("sig"), bands, rowsPerBand)))
          .as(Seq("band_idx", "band_key")))
  }

  /** Band-bucket occupancy cap — [[gramCandidates]]' `maxGramDf` twin at
    * the band level. Degenerate-entropy strata (boilerplate, templated
    * spam; the 100× ScaleProbe's 30-word synthetic vocab measured it at
    * 226.6 s vs 9.25 s at 10×) collapse many documents into one
    * `(band_idx, band_key)` bucket, and the bucket join then generates
    * ≈ n²/buckets candidates. Rows in buckets larger than
    * `maxBucketSize` are dropped from CANDIDATE GENERATION only: pairs
    * whose every agreeing band is a mega-bucket are deliberately lost
    * (the same recall-for-scale contract as `maxGramDf` — such pairs
    * agree on near-universal content), every other bucket is untouched
    * and surviving pairs keep their exact `est_jaccard`.
    *
    * Plan shape: occupancy is a window count over the bucket key — the
    * window's shuffle IS the partitioning the bucket join needs, so the
    * cap adds no exchange (vs a groupBy + semi-join twin, which would
    * add two). The dropped volume is published plan-only via a
    * `CollectMetrics` observation (`minhash_bucket_cap*`:
    * `dropped_rows`, `max_bucket_n`) readable from any
    * `QueryExecutionListener` / `StreamingQueryProgress` — no extra job.
    *
    * Measured alternative, rejected: a broadcast anti-join against the
    * over-cap key list drops hot rows map-side (no per-key window
    * buffers), but only pays off when that list actually broadcasts —
    * its size is corpus-dependent (≈ rows/cap keys; a low cap on a big
    * or low-entropy corpus makes it huge), and when it doesn't
    * broadcast the shape costs an extra wide shuffle per consumer.
    * Probe measurements: 10× tier 10.8 s vs 7.4 s here; 100× tier
    * ~200 s (even with two-stage persists) vs 67.3 s here. The window's
    * worst case is bounded — each hot key's rows form one sorted,
    * SPILLABLE run of at most df_max rows, and they are dropped
    * immediately after counting.
    */
  private[graft] def capBandBuckets(banded: DataFrame, maxBucketSize: Int): DataFrame = {
    require(maxBucketSize > 1,
      s"maxBucketSize must be > 1 (a 1-doc bucket yields no pairs), got $maxBucketSize")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band_idx", "band_key")
    banded
      .withColumn("__bucket_n", count(lit(1)).over(w))
      .observe(s"minhash_bucket_cap_${bucketCapSeq.incrementAndGet()}",
        sum(when(col("__bucket_n") > maxBucketSize, 1L).otherwise(0L))
          .as("dropped_rows"),
        max(col("__bucket_n")).as("max_bucket_n"))
      .filter(col("__bucket_n") <= maxBucketSize)
      .drop("__bucket_n")
  }

  /** Unique observation names: two DIFFERENT capped frames may land in
    * one query plan (Spark allows duplicate names only for identical
    * subtrees, e.g. a self-join).
    */
  private val bucketCapSeq = new java.util.concurrent.atomic.AtomicLong()

  /** MinHash+LSH near-dup pairs: signature (row-local) → band keys
    * (row-local) → explode bands → self-join per (band_idx, band_key)
    * bucket → estimate Jaccard from signature agreement. The bucket join is
    * the only shuffle and each bucket is small by construction on a
    * natural-entropy corpus — this is the plan that survives 1000
    * executors. For corpora with degenerate strata, set `maxBucketSize`
    * ([[capBandBuckets]]) to keep candidate growth linear.
    */
  def minHashLshPairs(df: DataFrame, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, minJaccard: Double = 0.7,
      textCol: String = "text", idCol: String = "doc_id",
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      maxBucketSize: Option[Int] = None): DataFrame = {
    // materialize the banded signatures once — a DataFrame self-join
    // re-evaluates its lineage per side, doubling signature compute.
    // MLlib-style operator-internal persist; lives until session end, so
    // loops over many corpora should pass storage=None (or unpersist).
    val banded1 = minHashBandIndex(df, n, numHashes, bands, textCol, idCol)
    val banded0 = maxBucketSize.fold(banded1)(capBandBuckets(banded1, _))
    val banded = storage.fold(banded0)(graft.CacheScope.persist(banded0, _))
    minHashLshPairsFromIndex(banded, minJaccard)
  }

  /** The full-corpus pair query served FROM A PREBANDED INDEX
    * ([[minHashBandIndex]] layout — in-memory, or the persisted parquet
    * artifact read back): the self-join core of [[minHashLshPairs]]
    * without re-shingling a single document. A deployment that already
    * maintains the band index (batch appends, streaming ingest) answers
    * "all near-dup pairs right now" from index rows alone; callers that
    * want the occupancy guard on a SHARED banding apply `maxBucketSize`
    * here instead of re-banding per variant.
    *
    * The estimate divisor is the index's OWN signature length
    * (`size(sig)`), never a parameter: a persisted index read back in a
    * later session must not depend on the caller remembering the
    * numHashes it was built with — a mismatched divisor would silently
    * scale every est_jaccard.
    */
  def minHashLshPairsFromIndex(banded: DataFrame,
      minJaccard: Double = 0.7,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val b = maxBucketSize.fold(banded)(capBandBuckets(banded, _))
    // verify INLINE on the join output, dedup only the narrow survivors
    // (the cosineNearDupPairs convention): a pair agreeing in k bands
    // re-runs the 64-slot agreement loop k times map-side, but the
    // dropDuplicates exchange then moves (d1, d2, est) — 24 bytes —
    // instead of two full signature arrays (~1 KB/row, the wide-shuffle
    // killer at corpus scale), and sub-threshold candidates never reach
    // the shuffle at all. est_jaccard is a pure function of (d1, d2)
    // (one sig per doc), so filter and dedup commute with the old
    // dedup-first shape and the output is bit-identical.
    b.as("a")
      .join(b.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        (graft.functions.vec.sigAgreement(col("a.sig"), col("b.sig"))
          .cast("double") / size(col("a.sig"))).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
      .dropDuplicates("d1", "d2")
  }

  /** Incremental near-dup dedup — the production shape that completes
    * [[incrementalExact]]: a NEW shard arrives and its near-dup pairs
    * against the existing corpus (and within itself) are found against a
    * PERSISTED [[minHashBandIndex]] of the old side, which is therefore
    * never re-shingled, re-hashed, or even re-read beyond its index rows.
    *
    * Semantics: identical hash family, banding, and signature-agreement
    * estimate as [[minHashLshPairs]], so the output EQUALS the full
    * recompute over (old ∪ new) restricted to pairs touching the new
    * shard — the equivalence the registered gate asserts. `newDocs` and
    * the indexed corpus must be id-disjoint (same contract as
    * [[incrementalExact]]).
    *
    * Scale shape: the new side's index rows are row-local and persisted
    * once; candidates come from ONE bounded-fanout join of the (old ∪
    * new) index against the new index per (band_idx, band_key) bucket —
    * the old index is |corpus| × bands narrow rows read off parquet
    * (partition-prunable by band_idx), and nothing old enters a shuffle
    * except bucket-sharing candidates. Pair orientation is normalized
    * (least/greatest) so a new doc pairs with old docs on EITHER side of
    * its id.
    */
  def incrementalNearDupPairs(newDocs: DataFrame, index: DataFrame,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.7,
      textCol: String = "text", idCol: String = "doc_id",
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      maxBucketSize: Option[Int] = None): DataFrame = {
    val newBanded0 = minHashBandIndex(newDocs, n, numHashes, bands,
      textCol, idCol)
    val newBanded = storage.fold(newBanded0)(graft.CacheScope.persist(newBanded0, _))
    bandedNearDupPairs(index, newBanded, minJaccard, maxBucketSize)
  }

  /** The band-bucket join core of [[incrementalNearDupPairs]], over
    * PRE-BANDED sides: `index` rows for the existing corpus, `newBanded`
    * rows for the arriving shard (both in [[minHashBandIndex]] layout).
    * Callers that already materialized the shard's band rows — the
    * streaming ingest persists them as the index append itself — feed
    * them back here without re-shingling a single document.
    *
    * One join covers new↔old AND new↔new: the left side is the union of
    * both index halves, the right side only the new shard — every pair
    * with ≥1 new endpoint shares a band bucket here, old↔old pairs
    * never form (old rows only ever sit on the left).
    */
  def bandedNearDupPairs(index: DataFrame, newBanded: DataFrame,
      minJaccard: Double = 0.7,
      maxBucketSize: Option[Int] = None): DataFrame = {
    // domain guard doubling as the legacy-call tripwire: the retired
    // pre-round-11 signature took `numHashes: Int` in third position, so
    // an un-migrated positional call like `bandedNearDupPairs(i, b, 64)`
    // widens 64 → minJaccard = 64.0 — without this require it would
    // compile AND run, silently returning zero pairs (the original bug
    // the round-11/12 deprecated bridges existed to intercept; the
    // bridges are retired, the loudness stays)
    require(minJaccard >= 0.0 && minJaccard <= 1.0,
      s"bandedNearDupPairs: minJaccard=$minJaccard is outside [0,1] — " +
        "a Jaccard threshold; if this call passed a positional numHashes " +
        "(pre-round-11 signature), drop it: the signature length is " +
        "derived from the index itself")
    val all0 = index.select("doc_id", "sig", "band_idx", "band_key")
      .unionByName(newBanded.select("doc_id", "sig", "band_idx", "band_key"))
    // occupancy counts run over the FULL (old ∪ new) index so the cap is
    // stable as shards accumulate; capping the left side alone suffices —
    // a dropped bucket's new-side rows simply find no left match
    val all = maxBucketSize.fold(all0)(capBandBuckets(all0, _))
    val aNew = col("a.doc_id") < col("b.doc_id")
    // verify inline, dedup only (d1, d2, est) survivors — the
    // minHashLshPairsFromIndex / cosineNearDupPairs narrow-shuffle shape
    all.as("a")
      .join(newBanded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"),
        // divisor = the index's own signature length, never a parameter —
        // a persisted index must not depend on the serving session
        // remembering its numHashes (see minHashLshPairsFromIndex);
        // agreement is symmetric, the divisor keeps the d1 side's length
        (graft.functions.vec.sigAgreement(col("a.sig"), col("b.sig"))
          .cast("double")
          / size(when(aNew, col("a.sig")).otherwise(col("b.sig"))))
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
      .dropDuplicates("d1", "d2")
  }

  // -------------------------------------------------------------------
  // Winnowing fingerprints (MOSS-style substring dedup)
  // -------------------------------------------------------------------

  /** Distinct winnowing fingerprints per document (Schleimer, Wilkerson
    * & Aiken 2003 — the MOSS scheme): ordered word n-gram hashes →
    * sliding `window`-min selection in the native
    * `winnow_hashes` kernel. Any shared token run of
    * length ≥ window+n−1 is GUARANTEED to surface a shared fingerprint,
    * and only ~2/(window+1) of grams are kept — the standard
    * fingerprint-density/detection-length tradeoff. Complements
    * MinHash (which estimates whole-document Jaccard): winnowing
    * catches partial containment — a paragraph copied into an
    * otherwise-different document.
    */
  def winnowFingerprints(df: DataFrame, n: Int = 3, window: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol).as("doc_id"),
      explode(graft.functions.vec.winnowHashes(
        graft.functions.vec.ngramHashesAll(
          graft.functions.vec.wsTokenHashes(col(textCol)), n),
        window)).as("fp"))

  /** Winnowing candidate pairs: docs sharing ≥ `minShared` selected
    * fingerprints. Same scale shape as the gram join — fingerprints are
    * row-local, the per-fingerprint self-join is the only shuffle, and
    * `maxFpDf` caps corpus-hot fingerprints (boilerplate runs) exactly
    * like the gram-df stopword guard. Fingerprint density is
    * ~2/(window+1) of the gram join's, so the shuffle is ~(window+1)/2×
    * smaller at the same corpus — the reason winnowing is the standard
    * at-scale substring-dedup scheme.
    */
  def winnowPairs(df: DataFrame, n: Int = 3, window: Int = 4,
      minShared: Int = 2, maxFpDf: Option[Int] = Some(64),
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val fps = winnowFingerprints(df, n, window, textCol, idCol)
    val filtered = maxFpDf match {
      case Some(cap) =>
        // window over the fp key — shares the self-join's partitioning,
        // no groupBy+join twin (the gramCandidates/capBandBuckets shape)
        val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
        fps.withColumn("__fp_df", count(lit(1)).over(w))
          .filter(col("__fp_df") <= cap)
          .select("doc_id", "fp")
      case None => fps
    }
    filtered.as("a")
      .join(filtered.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // -------------------------------------------------------------------
  // Cluster resolution: pairs → representatives
  // -------------------------------------------------------------------

  /** Resolve near-dup PAIRS into clusters and keep one representative per
    * cluster (the smallest id): iterative min-label propagation over the
    * pair graph — each round every doc adopts the smallest label among
    * itself and its neighbors, converging in O(cluster diameter) rounds
    * (near-dup clusters are shallow; `maxIter` bounds pathological
    * chains). Each round is one shuffle keyed on doc id — the standard
    * scalable connected-components loop, no driver-side union-find.
    *
    * Returns `(doc_id, cluster_id)` for every id in `docs`; downstream
    * keeps `doc_id == cluster_id` rows (the representatives).
    *
    * Lineage is TRUNCATED each round (`localCheckpoint`): without it the
    * self-referencing joins re-root the whole pair-generation subtree
    * every iteration and the logical plan grows exponentially in rounds
    * (~4,480 plan nodes at maxIter=5 — unplannable at scale). With the
    * checkpoint each round is one bounded shuffle over the pair-graph
    * vertices, and a converged round (no label changed) exits early —
    * a fixed point propagates unchanged, so bounded-round oracles that
    * unroll the full `maxIter` still hash-match. On a real cluster with
    * unreliable executors, swap `localCheckpoint` for `checkpoint` with a
    * reliable checkpoint dir; the loop shape is identical.
    *
    * Checkpoint LIFETIME: each round's checkpoint is released
    * (`GraftCheckpointShim.releaseCheckpoint`) as soon as the next round
    * materializes, and the edge checkpoint once the loop exits — neither
    * `clearCache()` nor the ContextCleaner frees these blocks promptly, and
    * leaking them measurably slowed every query sharing the session. Only
    * the FINAL labels checkpoint (pair-graph vertices only — small) stays
    * alive: the returned DataFrame reads it lazily; the ContextCleaner
    * reclaims it once the caller drops the result.
    */
  def clusterLabels(docs: DataFrame, pairs: DataFrame, maxIter: Int = 5,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.GraftCheckpointShim.releaseCheckpoint
    import org.apache.spark.sql.GraftSessionShim.{privateSession, rebind}
    // symmetrize with a row-local explode, NOT a self-union: `pairs` is
    // usually an unpersisted candidate-join subtree (three banded pair
    // joins in the mm capstone), and a union evaluates that subtree once
    // PER SIDE before this checkpoint materializes — the explode emits
    // both directions from one evaluation
    val edges = pairs
      .select(explode(array(
        struct(col("d1").as("d1"), col("d2").as("d2")),
        struct(col("d2").as("d1"), col("d1").as("d2")))).as("e"))
      .select(col("e.d1").as("d1"), col("e.d2").as("d2"))
      .localCheckpoint(true)
    // run the LOOP at a width sized to the edge set: every round
    // shuffles pair-graph vertices (near-dup pairs are a tiny fraction of
    // the corpus), and at the session default (cpus) each round pays
    // per-partition fixed cost for near-empty partitions — measured
    // 1.4 s vs 0.8 s per resolution at 256 edges, 32 vs 4 partitions,
    // times six consumer queries. Scale-adaptive, not a constant: ~1M
    // edges (tens of MB) per partition, never above the session setting
    // — a corpus-scale edge set keeps the full width. The count is one
    // cheap job over the just-materialized checkpoint. The loop runs on
    // a private session at that width, so the caller's conf is never
    // written; the final labels are bound back to the caller's session.
    val sess = docs.sparkSession
    val loopParts = math.max(1L, math.min(
      sess.conf.get("spark.sql.shuffle.partitions").toLong,
      edges.count() / 1000000L + 1L))
    val loopEdges = rebind(edges,
      privateSession(sess, "spark.sql.shuffle.partitions" -> loopParts.toString))
    // propagate ONLY over the pair-graph vertices — near-dup pairs are a
    // tiny fraction of the corpus, so the iterative joins run on the edge
    // set, not the full table; singletons rejoin unchanged at the end
    var labels = loopEdges.select(col("d1").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .localCheckpoint(true)
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      val neighborMin = loopEdges
        .join(labels.withColumnRenamed("doc_id", "d2"), Seq("d2"))
        .groupBy(col("d1").as("doc_id"))
        .agg(min("cluster_id").as("neighbor_min"))
      val next = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("neighbor_min"), col("cluster_id")))
            .as("cluster_id"),
          (col("neighbor_min") < col("cluster_id")).as("changed"))
        .localCheckpoint(true)
      converged = next.filter(col("changed")).isEmpty
      releaseCheckpoint(labels) // superseded — `next` is materialized
      labels = next.drop("changed")
      i += 1
    }
    releaseCheckpoint(edges)
    // the FINAL labels checkpoint backs the returned DataFrame — inside
    // a CacheScope it is released at scope exit (after which the result
    // is unusable, per the scope contract); otherwise the ContextCleaner
    // reclaims it once the caller drops the plan
    val labelsFinal = labels
    graft.CacheScope.onExit(() => releaseCheckpoint(labelsFinal))
    docs.select(col(idCol).as("doc_id"))
      .join(rebind(labels, sess), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Drop near-duplicates: keep one representative doc per cluster. */
  def keepRepresentatives(docs: DataFrame, pairs: DataFrame,
      maxIter: Int = 5, idCol: String = "doc_id"): DataFrame =
    docs.join(
      clusterLabels(docs, pairs, maxIter, idCol)
        .filter(col("doc_id") === col("cluster_id"))
        .select(col("doc_id").as(idCol)),
      Seq(idCol))

  // -------------------------------------------------------------------
  // SimHash (Hamming-space near-dup)
  // -------------------------------------------------------------------

  /** Row-local 64-bit SimHash over whitespace tokens: per bit, sum ±1
    * votes from each token's hash bit, sign gives the fingerprint bit.
    * Tokens are string-hashed once; the 64-bit voting loop is the native
    * `simhash64` kernel (the interpreted lambda version
    * dominated the whole bench at ~300 s).
    */
  def simHash64(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol).as("doc_id"),
      graft.functions.vec.simHash64(
        graft.functions.vec.wsTokenHashes(col(textCol)))
        .as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, found via
    * the shared banded-Hamming core ([[BandedHamming.pairJoin]], the
    * machinery that also carries the image dHash join): band the
    * 64-bit fingerprint into `bands` keys of `bandBits` bits, bucket
    * self-join, exact `bit_count(xor)` verify.
    *
    * COMPLETENESS: both supported layouts find EVERY pair at distance
    * ≤ 3 — `(4, 16, probeRadius = 0)` by pigeonhole (some chunk
    * exactly shared), `(2, 32, probeRadius = 1)` by the multi-index
    * probe argument (some band within distance ⌊3/2⌋ = 1) — so the
    * verified result set is layout-INDEPENDENT for `maxDist ≤ 3`.
    * Layout choice is pure cost: the fixed 16-bit key space goes
    * coincidentally quadratic past ~1M docs (the measured
    * `mm_dhash_raw` bend — [[BandedHamming]] scaladoc), so the DEFAULT
    * `bands = 0` is SELF-SIZING — [[BandedHamming.autoLayout]] of a
    * cheap corpus count (or `nHint`, when the caller already knows
    * the size) picks the scaled 2×32+probe layout past 1M docs with
    * no caller hint; explicit `bands > 0` pins a layout (the gate
    * queries' convention). Use `maxBucketSize` ([[capBandBuckets]])
    * for degenerate strata — the cap trades completeness on
    * mega-buckets for boundedness, exactly as in [[minHashLshPairs]].
    */
  def simHashPairs(df: DataFrame, maxDist: Int = 3,
      textCol: String = "text", idCol: String = "doc_id",
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      bands: Int = 0, bandBits: Int = 16, probeRadius: Int = 0,
      maxBucketSize: Option[Int] = None, nHint: Long = -1L): DataFrame = {
    val (b, bb, pr) = BandedHamming.resolveLayout(bands, bandBits,
      probeRadius, if (nHint >= 0) nHint else df.count())
    require(maxDist <= b * (pr + 1) - 1,
      s"($b x $bb, probe $pr) banding is complete " +
        s"only for maxDist <= ${b * (pr + 1) - 1}, got $maxDist")
    val hashed = simHash64(df, textCol, idCol)
    BandedHamming.pairJoin(
      BandedHamming.bandRows(hashed, "simhash", b, bb),
      maxDist, b, bb, pr, maxBucketSize, storage)
      .withColumn("hamming", col("hamming").cast("int"))
  }

  // -------------------------------------------------------------------
  // Duplicated-substring spans (Lee et al. 2022, "Deduplicating
  // Training Data Makes Language Models Better": remove every substring
  // that appears more than once in the corpus, not just whole-document
  // duplicates)
  // -------------------------------------------------------------------

  /** Shared candidate stage for the substring-dedup pair: 0-based start
    * positions (`pos0`) of every word `k`-gram whose corpus occurrence
    * count reaches `minOcc`. The exploded starts persist once — both
    * the occurrence count and the join-back read them. Persist contract
    * (the minHashLshPairs convention): the cache outlives the call — the
    * lazy result reads it — and the CALLER releases it after consuming
    * the result (Verify/Bench clear all caches per query).
    */
  private def dupGramStarts(df: DataFrame, k: Int, minOcc: Int,
      textCol: String, idCol: String,
      storage: Option[org.apache.spark.storage.StorageLevel]): DataFrame = {
    require(k >= 1 && minOcc >= 2, s"need k >= 1, minOcc >= 2; got $k, $minOcc")
    val tokHashes = graft.functions.vec.wsTokenHashes(lower(col(textCol)))
    val starts0 = df.select(col(idCol),
      posexplode(graft.functions.vec.ngramHashesAll(tokHashes, k))
        .as(Seq("pos0", "gram")))
    val starts = storage.fold(starts0)(graft.CacheScope.persist(starts0, _))
    val dup = starts.groupBy(col("gram"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOcc)
      .select(col("gram"))
    starts.join(dup, "gram").select(col(idCol), col("pos0"))
  }

  /** Per-document spans of duplicated text: every word `k`-gram whose
    * corpus occurrence count reaches `minOcc` (within- OR cross-document
    * repeats both count) marks its `k` token positions; overlapping or
    * adjacent marked ranges merge into maximal spans — the cut list a
    * substring-level dedup pass applies. Output per span: 1-based
    * `span_start`/`span_end` token positions, the span's token length,
    * and how many duplicated grams support it.
    *
    * Scale shape: gram hashes come ORDERED from the compiled
    * `ngram_hashes` kernel (position = array index, no
    * window/lead over token rows, no gram strings); the occurrence count
    * is one map-side-combined groupBy on 64-bit keys; marking is a join
    * back on those keys (the exploded starts persist once, both sides
    * read them); the interval merge is the classic gap-and-islands pair
    * of windows, partitioned BY DOCUMENT — never a global sort. The
    * suffix-array construction of the paper is replaced by the gram
    * hash-join: same ≥k-token duplicated-substring semantics, because a
    * duplicated run of length L ≥ k is exactly a run of L−k+1 duplicated
    * k-grams (shorter duplicates are invisible at either formulation's
    * granularity k).
    */
  def substringSpans(df: DataFrame, k: Int = 5, minOcc: Int = 2,
      textCol: String = "text", idCol: String = "doc_id",
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val marked = dupGramStarts(df, k, minOcc, textCol, idCol, storage)
      .select(col(idCol), (col("pos0") + 1).cast("long").as("s"),
        (col("pos0") + k).cast("long").as("e"))
    val prev = Window.partitionBy(col(idCol)).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val runni = Window.partitionBy(col(idCol)).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked
      .withColumn("__maxe", max(col("e")).over(prev))
      .withColumn("__new",
        when(col("__maxe").isNull || col("s") > col("__maxe") + 1, 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(runni))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
      .drop("__island")
  }

  /** The APPLY half of substring dedup: cut every duplicated-gram-covered
    * token and rebuild each document from the survivors (tokens joined
    * by single spaces — the canonical whitespace form; spacing inside
    * cut regions is gone by definition). Documents whose text is fully
    * duplicated come back as empty strings, never dropped rows.
    * Coverage explodes each duplicated start into its `k` positions
    * (bounded k× blowup of the DUPLICATED region only), dedups them and
    * anti-joins the token positions — no window needed on this path.
    */
  def applySubstringDedup(df: DataFrame, k: Int = 5, minOcc: Int = 2,
      textCol: String = "text", idCol: String = "doc_id",
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      : DataFrame = {
    val tokPos = df.select(col(idCol),
      posexplode(TextOps.wsTokens(lower(col(textCol))))
        .as(Seq("pos0", "tok")))
    val covered = dupGramStarts(df, k, minOcc, textCol, idCol, storage)
      .select(col(idCol),
        explode(sequence(col("pos0"), col("pos0") + k - 1)).as("pos0"))
      .distinct()
    val kept = tokPos.join(covered, Seq(idCol, "pos0"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos0"), col("tok")))),
          x => x.getField("tok"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol),
        coalesce(size(TextOps.wsTokens(lower(col(textCol)))).cast("long"),
          lit(0L)).as("__total"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }
}
