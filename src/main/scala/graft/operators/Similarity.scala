package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.vec

/** Similarity search over an embedding column (`ARRAY<FLOAT>`):
  * brute-force cosine top-k as the exact baseline and a random-hyperplane
  * LSH-bucketed variant as the 100 TB path.
  *
  * Vector math runs through the native `vector_dot`
  * kernel (compiled loop inside whole-stage codegen; the interpreted
  * higher-order-function fold was the bench bottleneck). All pairwise
  * paths precompute per-row norms once so each pair costs exactly one dot.
  */
object Similarity {

  /** Dot product of two numeric-array columns, computed in double. */
  def dot(a: Column, b: Column): Column = vec.dot(a, b)

  def norm(a: Column): Column = sqrt(vec.dot(a, a))

  /** One-off cosine (3 dots). Pairwise operators below use precomputed
    * norms instead — keep this for single expressions, not inner loops.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Hard bound on the brute-force baselines: they are EXACT VERIFIERS
    * for the recall gates, O(corpus × queries) / O(n²) by definition, and
    * must never be pointed at a full corpus — the scale paths are
    * [[lshTopK]]/[[ivfTopK]] and [[cosineNearDupPairs]]/
    * [[ivfNearDupPairs]]. The guard is one planning-action count
    * (parquet row-group metadata, not a scan) that fails LOUDLY past the
    * bound instead of launching an n² job. Callers with a genuinely
    * bounded non-fixture input can raise `maxRows` explicitly.
    */
  /** Guard-verdict cache keyed on the CANONICALIZED plan + bound: the
    * verify/bench harnesses evaluate each registered query twice per
    * session, and the bounded count is job-overhead-priced — a repeat of
    * the same input re-uses the first verdict. The key holds the plan
    * ITSELF (structural equality), not its 32-bit hashCode — a hash
    * collision must not silently skip the O(n²) guard — plus the
    * optimizer size estimate, so the same path re-read after the backing
    * files grew re-verifies instead of reusing a stale pass. Only
    * passing verdicts are cached (a failure throws). Bounded: cleared
    * past 128 entries (each key pins a plan tree).
    */
  // access-ordered LRU: repeats of hot guard verdicts stay cached; only
  // the single least-recently-used entry is evicted past capacity (a
  // wholesale clear() would force re-verification of every hot repeat)
  private val bruteGuardCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[
        (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, BigInt, Long),
        java.lang.Boolean](256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[
            (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, BigInt, Long),
            java.lang.Boolean]): Boolean = size() > 128
    })

  private def requireBruteScale(df: DataFrame, maxRows: Long,
      what: String, alternative: String): Unit = {
    // stats fast path: the optimizer's size estimate for a parquet-backed
    // relation is the file byte count — if even a 16 B/row floor cannot
    // fit maxRows rows, the input is certified without running a job.
    // CAVEAT on the constant: an id + embedding row never compresses
    // below 16 B outside degenerate near-constant corpora, but such a
    // corpus COULD slip under the floor — the floor is a heuristic
    // certificate for real payloads; anything bigger pays the
    // LIMIT-bounded count below, which stays the authoritative guard.
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est >= 0 && est <= BigInt(maxRows) * 16) return
    val key = (df.queryExecution.logical.canonicalized, est, maxRows)
    if (bruteGuardCache.get(key) != null) return
    // LIMIT-bounded count: per-partition LocalLimit stops the scan after
    // maxRows+1 rows, so the guard itself stays cheap even when pointed
    // at the very corpus it is refusing. Saturate BEFORE the +1 — a
    // caller opting out with maxRows = Long.MaxValue must not wrap into
    // a negative limit.
    val cap = (math.min(maxRows, Int.MaxValue.toLong - 1) + 1).toInt
    val n = df.limit(cap).count()
    require(n <= maxRows,
      s"$what is an exact O(n²)-class baseline capped at $maxRows rows " +
        s"(input exceeds it): it exists to verify the recall gates at " +
        s"fixture scale — use $alternative on a corpus, or raise maxRows " +
        "if the input really is bounded")
    bruteGuardCache.put(key, java.lang.Boolean.TRUE)
  }

  /** Exact brute-force cosine top-k: the `queries` side (small, e.g. a
    * probe batch) is broadcast against the corpus; ranking partitions by
    * query so parallelism = number of queries × AQE splits. Emits
    * `(query_id, rank, vec_id)` — ranks only, floats stay internal, so
    * results are engine-comparable.
    *
    * Cost is O(corpus × queries): the corpus side streams (scale-safe),
    * so the guard caps the BROADCAST query side — an unbounded query set
    * is what turns this into the all-pairs job.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxRows: Long = 4096L): DataFrame = {
    requireBruteScale(queries, maxRows, "bruteForceTopK's query side",
      "lshTopK or ivfTopK")
    val c = corpus.select(col(idCol), col(vecCol),
      norm(col(vecCol)).as("cnrm"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec"), norm(col(vecCol)).as("qnrm"))
    val scored = c
      .join(broadcast(q), col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        (vec.dot(col("qvec"), col(vecCol)) / (col("qnrm") * col("cnrm")))
          .as("sim"))
    scored
      .withColumn("rank",
        row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("sim").desc, col(idCol))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol))
  }

  /** Deterministic random hyperplanes: `planes × dim` doubles seeded by a
    * splitmix64-style hash — reproducible across sessions, no RNG state.
    */
  private[operators] def hyperplanes(planes: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(planes, dim) { (p, d) =>
      var z = seed + 0x9e3779b97f4a7c15L * (p.toLong * dim + d + 1)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^= z >>> 31
      // map to [-1, 1): sign-symmetric, fine for hyperplane directions
      (z.toDouble / Long.MaxValue.toDouble)
    }

  /** Sign-bit bucket of a vector under `planes` random hyperplanes: bit p =
    * 1 iff `v · h_p > 0`. Plain per-plane dot expressions (no lambdas) —
    * the whole bucket computation stays in generated code; the hyperplane
    * matrix rides along as literals (tiny: planes × dim doubles).
    */
  def lshBucket(vec0: Column, planes: Int, dim: Int, seed: Long = 42L): Column = {
    val hp = hyperplanes(planes, dim, seed)
    (0 until planes).map { p =>
      val plane = array(hp(p).map(lit(_)): _*)
      when(vec.dot(vec0, plane) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** ANN top-k via hyperplane LSH with multi-probe across `tables`
    * independent hash tables: vectors and queries are bucketed row-locally,
    * candidates come from per-(table, bucket) joins — each bucket holds
    * ~corpus/2^planes vectors, so the join is narrow and shuffle-bounded —
    * then exact cosine ranks the union of candidates. Recall grows with
    * `tables`; cost stays O(candidates) instead of O(corpus) per query.
    */
  /** Embedding dimension: explicit when given (>0), else read from the
    * first corpus row — a wrong literal would fail mid-job in vector_dot.
    */
  private def inferDim(df: DataFrame, vecCol: String, dim: Int): Int =
    if (dim > 0) dim
    else df.select(size(col(vecCol))).head().getInt(0)

  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 8, tables: Int = 4, dim0: Int = -1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = inferDim(corpus, vecCol, dim0)
    def bucketed(df: DataFrame, vid: String, vcol: String, nrm: String): DataFrame =
      df.select(col(vid), col(vcol), norm(col(vcol)).as(nrm),
        posexplode(array((0 until tables).map(t =>
          lshBucket(col(vcol), planes, dim, seed = 42L + t)): _*))
          .as(Seq("table_idx", "bucket")))
    val c = bucketed(corpus.select(col(idCol), col(vecCol)),
      idCol, vecCol, "cnrm").as("c")
    val q = bucketed(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec")),
      "query_id", "qvec", "qnrm").as("q")
    // score INLINE on the candidate join, dedup the narrow (query, id,
    // sim) rows: a candidate found by several tables costs a few extra
    // dots instead of dragging both vectors through the dedup shuffle
    c.join(broadcast(q),
        col("c.table_idx") === col("q.table_idx") &&
          col("c.bucket") === col("q.bucket") &&
          col(s"c.$idCol") =!= col("q.query_id"))
      .select(col("q.query_id").as("query_id"), col(s"c.$idCol").as(idCol),
        (vec.dot(col("q.qvec"), col(s"c.$vecCol"))
          / (col("q.qnrm") * col("c.cnrm"))).as("sim"))
      .dropDuplicates("query_id", idCol)
      .withColumn("rank",
        row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("sim").desc, col(idCol))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("sim"))
  }

  /** IVF (inverted-file) ANN: a coarse k-means quantizer assigns every
    * vector to its nearest of `nlist` centroid lists (row-local argmin
    * over centroid dot products — centroids ride as literals); a query
    * probes its `nprobe` nearest lists and exact cosine reranks only those
    * candidates. The other classic ANN scale path next to hyperplane LSH:
    * recall follows data clustering rather than random projections.
    * Centroids train on a bounded sample via MLlib KMeans (seeded —
    * deterministic).
    */
  /** Seeded coarse quantizer: centroids from MLlib KMeans on a bounded
    * sample (deterministic; shared by the IVF top-k and near-dup paths).
    */
  private def trainCentroids(corpus: DataFrame, vecCol: String, nlist: Int,
      trainSample: Int): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // UNBIASED bounded training set: a seeded uniform sample across the
    // whole corpus. `limit(n)` would take whichever partitions answer
    // first — at 100 TB that is the first file(s), a position-biased
    // sample that degrades the quantizer. One cheap count sizes the
    // fraction (parquet count() is row-group metadata, not a data scan).
    val n = corpus.count()
    val bounded =
      if (n <= trainSample) corpus
      else corpus.sample(withReplacement = false,
        fraction = trainSample.toDouble / n, seed = 42L)
    // the training set is bounded (≤ trainSample rows) — collapse it to
    // ONE partition so each of k-means' ~20 driver-iterated jobs is a
    // single tiny task instead of a full-width stage; repartition (not
    // coalesce) keeps the upstream sample scan parallel at corpus scale
    val train = bounded
      .select(array_to_vector(
        transform(col(vecCol), x => x.cast("double"))).as("features"))
      .repartition(1).persist()
    // k must not exceed the training-point count (Spark 4's block
    // KMeans aggregator indexes by k and crashes when init yields
    // fewer centers); never binds under √n auto-sizing — only guards
    // tiny corpora
    val k = math.max(1, math.min(nlist, n.toInt))
    try {
      if (k < 2)
        // Spark ML KMeans REJECTS k < 2 — and a 0/1-doc corpus is its
        // own quantizer: return the lone point (or nothing — the ball
        // cover substitutes a single zero centroid, opening the bound
        // to the whole sphere, so recall is unaffected). Reachable in
        // production, not just toy inputs: a decon/build chain whose
        // upstream stages drop nearly the whole corpus (round-19
        // measured it — on the saturated 100× fixture the gram-decon
        // stage left ONE survivor and the capstone crashed here).
        train.limit(1).collect().map(r =>
          r.getAs[org.apache.spark.ml.linalg.Vector](0).toArray)
      else
        new KMeans().setK(k).setSeed(42L).setMaxIter(10)
          .fit(train).clusterCenters.map(_.toArray)
    } finally train.unpersist(blocking = false)
  }

  /** Trained-quantizer cache, keyed by caller-supplied corpus identity +
    * hyperparams. A real IVF deployment trains the coarse quantizer ONCE
    * per corpus snapshot and serves every query from the trained index;
    * the harness calls each registered query as an independent function,
    * so without this the top-k and near-dup paths each retrain k-means on
    * the same table. The key must change when the corpus does (callers
    * pass path + file mtime/size — see GateHarness.tableKey); `None`
    * always retrains. Entries are nlist × dim doubles — negligible.
    */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int, Int), Array[Array[Double]]]()

  /** Cache lookup keyed on the REQUESTED `nlist` (0 = auto): the `√n`
    * auto-sizing resolves lazily inside the miss path, so a cache hit
    * pays neither the k-means training NOR the corpus `count()` sizing
    * job — for the same `corpusKey` (same corpus snapshot) the auto
    * resolution is deterministic, so keying on the request is sound.
    */
  private[operators] def trainCentroidsCached(corpusKey: Option[String], corpus: DataFrame,
      vecCol: String, nlist: Int, trainSample: Int): Array[Array[Double]] =
    corpusKey match {
      case None =>
        trainCentroids(corpus, vecCol, autoNlist(corpus, nlist), trainSample)
      // vecCol is part of the identity: the same corpus snapshot can carry
      // several embedding columns, and centroids trained on one are wrong
      // for another
      case Some(k) => centroidCache.computeIfAbsent((k, vecCol, nlist, trainSample),
        _ => trainCentroids(corpus, vecCol, autoNlist(corpus, nlist), trainSample))
    }

  /** Auto-sizing for the IVF family: `nlist = 0` (the default) resolves
    * to `√n` clamped to [16, 4096] — the standard IVF sizing rule. The
    * per-list population stays `n/nlist ≈ √n`, so the near-dup per-list
    * candidate SELF-JOIN costs `n²·nprobe²/(2·nlist) ≈ n^1.5` instead
    * of the `n²/const` a FIXED list count degrades to as the corpus
    * grows — at 10× the bench corpus the fixed-16 default costs ~100×
    * more candidate dots for 10× data (PERF.md scale evidence).
    * `nprobe` deliberately does NOT scale with `nlist`: for top-k the
    * probed fraction shrinks (candidates stay `nprobe·√n`); for
    * near-dup a small constant probe (boundary coverage) is what keeps
    * the self-join subquadratic — scaling it with `nlist` would cancel
    * the win (`n²·frac²·nlist` grows again). Recall comes from the
    * recall gates, which re-measure whenever fixtures change.
    *
    * MEASURED top-k recall trade (ScaleProbe, 100-query sample vs brute,
    * PERF.md scale table): constant `nprobe = 6` decays 0.56 → 0.61 →
    * 0.46 across the 2k/20k/200k tiers, while a constant probe FRACTION
    * (`nprobe = 0.375·nlist`, i.e. nprobe ∝ √n, per-query scan cost
    * ∝ √n) holds 0.87 → 0.98 → 0.99. Deployments that need a recall
    * floor under auto-sizing should scale `nprobe` with `√n`; the
    * constant-nprobe default is the latency-first setting.
    */
  private[graft] def autoNlist(df: DataFrame, nlist: Int): Int =
    if (nlist > 0) nlist
    else math.min(4096,
      math.max(16, math.ceil(math.sqrt(df.count().toDouble)).toInt))

  /** Row-local nearest-centroid assignment as ONE compiled node
    * ([[graft.functions.NearestCentroidsKernel]]): rank by
    * `‖c‖² − 2 v·c` (‖v‖² constant per row), ties toward the smaller
    * list. The earlier per-centroid expression formulation (`nlist`
    * struct exprs + array_sort) was O(plan size) in `nlist` — under the
    * `√n` auto-sizing it blew past codegen limits at the 100× tier and
    * fell back to interpreted evaluation (300 s vs 13 s for the corpus
    * assignment pass at 200k vectors, nlist 448; PERF.md round 10).
    */
  private def nearestLists(centroids: Array[Array[Double]])(
      v: Column, n: Int): Column =
    vec.nearestCentroids(v, centroids, n)

  /** Nearest-centroid assignment with CALLER-SUPPLIED centroids — topic
    * clustering / cluster-balanced curation over a frozen codebook (the
    * k-means–trained IVF path shares the exact same compiled kernel via
    * [[ivfTopK]]; here the centroids are explicit literals, which makes
    * the assignment restatable by a relational oracle: rank key
    * `‖c‖² − 2·v·c` with the dot accumulated in element order, ties
    * toward the smaller cluster index). Entirely row-local — zero
    * shuffles, one codegen'd node, scan-speed at any corpus size.
    */
  def assignClusters(df: DataFrame, centroids: Array[Array[Double]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol),
      element_at(vec.nearestCentroids(col(vecCol), centroids, 1), 1)
        .as("cluster"))

  /** Cluster-based density pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws"): assign every vector to its nearest frozen prototype,
    * rank WITHIN each cluster by squared distance to that prototype
    * (hardest-first — far-from-prototype examples carry the most training
    * signal), and keep the hardest `ceil(keepFrac · clusterSize)` per
    * cluster. The per-cluster quota (vs a global threshold) is the
    * paper's class-balanced formulation: no cluster is pruned to zero.
    * `keepHardest = false` flips the rank — the paper's data-SCARCE
    * regime, where easy (prototypical) examples win and outliers are
    * what gets pruned; ties still break toward the smaller id.
    *
    * Determinism contract (what makes this oracle-able, same recipe as
    * [[assignClusters]]): the rank key is
    * `‖v‖² + ‖c‖² − 2·v·c` with BOTH dots accumulated in element order
    * through the compiled `vector_dot` kernel
    * (`float→double` per element, left-associated `+`), `‖c‖²` folded at
    * plan time from exactly-representable centroid components, and ties
    * broken by ascending id — every term restatable bit-for-bit in SQL.
    *
    * Scale shape: the assignment and distance are row-local compiled
    * nodes; the ONLY exchange is the hash partition on `cluster` that
    * the rank + quota windows share. At 100 TB with mega-clusters the
    * exact per-cluster sort can be swapped for an approx-quantile
    * distance threshold (one agg pass + broadcast, no sort) at the cost
    * of a ±ε quota — this exact-rank form is the oracled path.
    */
  def densityPrune(df: DataFrame, centroids: Array[Array[Double]],
      keepFrac: Double, keepHardest: Boolean = true,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"densityPrune: keepFrac must be in (0, 1], got $keepFrac")
    val byCluster = Window.partitionBy(col("cluster"))
    val rankKey = if (keepHardest) col("d2").desc else col("d2").asc
    val hardestFirst = byCluster.orderBy(rankKey, col(idCol))
    // quota in DECIMAL, not double: the shortest-decimal rendering of
    // keepFrac times an exact integer count — ceil(0.07 · 100) must be
    // 7, not the 8 that 0.07's binary excess (0.07·100 =
    // 7.000000000000001 in IEEE doubles) would produce. SQL numeric
    // literals are decimal too, so the oracle restates this exactly.
    val fracDec = new java.math.BigDecimal(java.lang.Double.toString(keepFrac))
    assignedDistance(df, centroids, idCol, vecCol)
      .withColumn("rn", row_number().over(hardestFirst))
      .withColumn("quota",
        ceil(lit(fracDec) * count(lit(1)).over(byCluster)).cast("long"))
      .filter(col("rn") <= col("quota"))
      .select(col(idCol), col("cluster"))
  }

  /** `(id, cluster, d²-to-assigned-centroid)` — the shared row-local
    * front half of both pruning paths. d² to the ASSIGNED centroid:
    * pick the cluster with the shared kernel (identical tie semantics
    * to [[assignClusters]]), then select that cluster's
    * plan-time-exact `‖c‖² − 2·v·c` branch and add `‖v‖²`.
    */
  private def assignedDistance(df: DataFrame,
      centroids: Array[Array[Double]], idCol: String,
      vecCol: String): DataFrame = {
    val v = col(vecCol)
    val cluster = element_at(vec.nearestCentroids(v, centroids, 1), 1)
    val dAssigned = centroids.zipWithIndex.foldLeft(lit(null).cast("double")) {
      case (acc, (c, j)) =>
        val cn2 = c.map(x => x * x).sum
        when(col("cluster") === j,
          lit(cn2) - lit(2.0) * vec.dot(v, typedLit(c))).otherwise(acc)
    }
    df.select(col(idCol), v, cluster.as("cluster"))
      .withColumn("d2", vec.dot(v, v) + dAssigned)
      .drop(vecCol)
  }

  /** The mega-cluster scale path for [[densityPrune]] (the scaladoc's
    * escape hatch, implemented): instead of ranking every cluster's
    * rows (a per-cluster sorted window — single-task-sized runs when
    * one cluster dominates a 100 TB corpus), compute an approximate
    * `(1 − keepFrac)`-quantile distance threshold per cluster in ONE
    * aggregation pass (`approx_percentile`, mergeable sketch — partial
    * map-side like any agg) and keep rows at or above it. No sort
    * anywhere; the threshold table is nlist rows and broadcasts back.
    * Cost of the approximation: the kept fraction is `keepFrac ± ε`
    * (sketch accuracy + boundary ties) instead of an exact quota —
    * `sim_density_prune_approx` gates the deviation and the agreement
    * with the exact path at fixture scale.
    */
  def densityPruneApprox(df: DataFrame, centroids: Array[Array[Double]],
      keepFrac: Double, keepHardest: Boolean = true, accuracy: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"densityPruneApprox: keepFrac must be in (0, 1], got $keepFrac")
    // base feeds BOTH the threshold aggregation and the filter join;
    // persist it so the corpus scan + assignment kernel run once, not
    // twice (operator persist contract — released by CacheScope /
    // the per-query clearCache in Verify/Bench)
    val base = graft.CacheScope.persist(
      assignedDistance(df, centroids, idCol, vecCol))
    val q = if (keepHardest) 1.0 - keepFrac else keepFrac
    val thr = base.groupBy(col("cluster")).agg(
      percentile_approx(col("d2"), lit(q), lit(accuracy)).as("thr"))
    base.join(broadcast(thr), Seq("cluster"))
      .filter(if (keepHardest) col("d2") >= col("thr")
              else col("d2") <= col("thr"))
      .select(col(idCol), col("cluster"))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 0, nprobe: Int = 4, trainSample: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      corpusKey: Option[String] = None): DataFrame = {
    val nearestLists = this.nearestLists(
      trainCentroidsCached(corpusKey, corpus, vecCol, nlist, trainSample)) _

    val c = corpus.select(col(idCol), col(vecCol),
        norm(col(vecCol)).as("cnrm"),
        element_at(nearestLists(col(vecCol), 1), 1).as("list"))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qvec"), norm(col(vecCol)).as("qnrm"),
        explode(nearestLists(col(vecCol), nprobe)).as("list"))
    c.join(broadcast(q), Seq("list"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        (vec.dot(col("qvec"), col(vecCol)) / (col("qnrm") * col("cnrm")))
          .as("sim"))
      .withColumn("rank",
        row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("sim").desc, col(idCol))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("sim"))
  }

  /** IVF-PQ — the genuinely-100 TB ANN index shape. Like [[ivfTopK]] the
    * coarse quantizer routes each vector to its nearest list, but the
    * list rows store int8 RESIDUAL codes (`vec − centroid`, per-vector
    * scale — the `quant_residual` kernel, same math as
    * [[int8RoundTrip]]) instead of the float vector: the candidate join
    * moves ~dim BYTES per row where IVF moves ~4·dim (float32), cutting
    * the widest shuffle of the ANN path ~4×. Scoring is two-stage:
    *
    *  1. approximate sim from the reconstructed residual dot —
    *     `q·v ≈ q·c_list + scale·(q·codes)`, where `q·c_list` is
    *     computed ONCE per (query, probed list) on the tiny broadcast
    *     query side and the per-candidate cost is one compiled byte-dot
    *     (`dot_codes`);
    *  2. the top `rerank·k` survivors per query fetch their float
    *     vectors by id — a broadcast join, survivors are
    *     queries × rerank·k, never corpus-sized — for EXACT cosine
    *     rerank, so PQ error only affects which candidates reach the
    *     exact stage, not the reported similarities.
    *
    * Same recall-gate form as the other ANN paths; `rerank` is the
    * recall-vs-width dial PQ adds on top of `nprobe`.
    */
  def ivfPQTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 0, nprobe: Int = 4, trainSample: Int = 10000,
      rerank: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      corpusKey: Option[String] = None): DataFrame = {
    val centroids =
      trainCentroidsCached(corpusKey, corpus, vecCol, nlist, trainSample)
    ivfPQQuery(ivfPqCodeRows(corpus, centroids, idCol, vecCol), centroids,
      corpus, queries, k, nprobe, rerank, idCol, vecCol)
  }

  /** The PQ index rows for `corpus` under FROZEN `centroids` — what a
    * deployment persists: `(id, list, cnrm, codes, qscale)`. Entirely
    * row-local (assignment + residual quantization ride as compiled
    * expressions); no float arrays survive into the rows. Appending a
    * new shard's rows (computed under the SAME centroids) to a persisted
    * index equals rebuilding over the union — row for row — which is
    * what makes the index incrementally maintainable; retraining the
    * quantizer is by definition a rebuild.
    */
  def ivfPqCodeRows(corpus: DataFrame, centroids: Array[Array[Double]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val nearestLists = this.nearestLists(centroids) _
    val centLit = array(centroids.map(c => array(c.map(lit(_)): _*)): _*)
    corpus
      .select(col(idCol), col(vecCol), norm(col(vecCol)).as("cnrm"),
        element_at(nearestLists(col(vecCol), 1), 1).as("list"))
      .select(col(idCol), col("list"), col("cnrm"),
        vec.quantResidual(col(vecCol),
          element_at(centLit, col("list") + 1), 127).as("qr"))
      .select(col(idCol), col("list"), col("cnrm"),
        col("qr").getField("codes").as("codes"),
        col("qr").getField("scale").as("qscale"))
  }

  /** Serve top-k from index rows (in-memory or read back off parquet):
    * the two-stage approximate-then-exact-rerank query of [[ivfPQTopK]],
    * with the code rows supplied instead of derived. `corpus` is touched
    * only by the rerank stage's broadcast id-fetch of survivor vectors.
    */
  def ivfPQQuery(indexed: DataFrame, centroids: Array[Array[Double]],
      corpus: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 4, rerank: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val nearestLists = this.nearestLists(centroids) _
    val centLit = array(centroids.map(c => array(c.map(lit(_)): _*)): _*)
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        norm(col(vecCol)).as("qnrm"),
        explode(nearestLists(col(vecCol), nprobe)).as("list"))
      .withColumn("qc",
        vec.dot(col("qvec"), element_at(centLit, col("list") + 1)))
    val survivors = indexed.join(broadcast(q), Seq("list"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        ((col("qc") + col("qscale") * vec.dotCodes(col("qvec"), col("codes")))
          / (col("qnrm") * col("cnrm"))).as("asim"))
      .withColumn("arank",
        row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("asim").desc, col(idCol))))
      .filter(col("arank") <= k * rerank)
      .select(col("query_id"), col(idCol))
    corpus.select(col(idCol), col(vecCol), norm(col(vecCol)).as("cnrm"))
      .join(broadcast(survivors), Seq(idCol))
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qv"), norm(col(vecCol)).as("qnrm"))), Seq("query_id"))
      .select(col("query_id"), col(idCol),
        (vec.dot(col("qv"), col(vecCol)) / (col("qnrm") * col("cnrm")))
          .as("sim"))
      .withColumn("rank",
        row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("sim").desc, col(idCol))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("sim"))
  }

  // ---- persisted IVF-PQ index -------------------------------------------

  /** Save a trained IVF-PQ index as a first-class parquet artifact:
    * `<dir>/centroids` (list, centroid) + `<dir>/codes` (the
    * [[ivfPqCodeRows]]). This is the deployment shape the session-local
    * centroid cache stands in for during a single run — persisted, the
    * quantizer survives the session and new shards append via
    * [[ivfPqCodeRows]] under [[loadIvfPqCentroids]] without touching the
    * old side (same maintenance contract as the MinHash band index).
    */
  def saveIvfPqIndex(corpus: DataFrame, dir: String,
      nlist: Int = 0, trainSample: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      corpusKey: Option[String] = None): Unit = {
    val spark = corpus.sparkSession
    val centroids =
      trainCentroidsCached(corpusKey, corpus, vecCol, nlist, trainSample)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      centroids.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.Row(i, c.toSeq)
      }.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("list",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("centroid",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType), nullable = false))))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    ivfPqCodeRows(corpus, centroids, idCol, vecCol)
      .write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** Relative reconstruction residual of one [[ivfPqCodeRows]] row —
    * `‖reconstructed residual‖ / ‖vector‖` = `qscale·√(Σ codesᵢ²) /
    * cnrm` — computed entirely from columns the code row already
    * carries (one compiled codes self-dot per row, no vector access).
    * Null for zero-norm vectors (excluded from averages).
    *
    * This is THE codebook-drift signal: under a frozen quantizer, a
    * corpus that drifts away from the training distribution lands
    * farther from its nearest centroid, so the per-epoch mean of this
    * value rises above the build-time baseline
    * ([[pqDriftStats]] over the training corpus' code rows). See
    * [[graft.streaming.StreamOps.annIngestStream]] for the streaming
    * emission and the rebuild-trigger guidance.
    */
  def relResidual: Column =
    when(col("cnrm") > 0,
      col("qscale") *
        sqrt(vec.codesDot(col("codes"), col("codes")).cast("double")) /
        col("cnrm"))

  /** One-row drift baseline/summary over code rows (in-memory or read
    * back off the persisted `codes` artifact): `(mean_rel_residual,
    * max_rel_residual, n_vectors)`. Computed with the SAME expression
    * the streaming epochs observe, so baseline and live metric can
    * never drift apart definitionally.
    */
  def pqDriftStats(codeRows: DataFrame): DataFrame =
    codeRows.agg(
      avg(relResidual).as("mean_rel_residual"),
      max(relResidual).as("max_rel_residual"),
      count(lit(1)).as("n_vectors"))

  /** The quantizer back off parquet (list-ordered). Centroid tables are
    * nlist × dim doubles — a driver-side collect by design, exactly like
    * the trained in-memory form.
    */
  def loadIvfPqCentroids(spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Double]] =
    spark.read.parquet(s"$dir/centroids")
      .orderBy(col("list"))
      .collect()
      .map(_.getSeq[Double](1).toArray)

  /** Top-k served from a persisted index: codes and quantizer read back
    * from `dir`; `corpus` feeds only the exact-rerank vector fetch.
    */
  def ivfPQTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, corpus: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 4, rerank: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfPQQuery(spark.read.parquet(s"$dir/codes"),
      loadIvfPqCentroids(spark, dir), corpus, queries, k, nprobe, rerank,
      idCol, vecCol)

  /** Exact all-pairs cosine near-dups: the O(n²) baseline the LSH variant
    * approximates. Norms precomputed per side ⇒ one dot per pair. Only
    * viable when one side fits broadcast / the pair count is bounded; at
    * 100 TB use [[cosineNearDupPairs]]. Guarded: past `maxRows` the call
    * fails loudly instead of launching the n² self-join.
    */
  /** Reciprocal-rank fusion (Cormack et al. 2009 — the standard hybrid-
    * search combiner: BM25 ⊕ ANN, or any mix of ranked retrievals):
    * fuse N rankings into `score(d) = Σ_r 1/(rrfK + rank_r(d))` over the
    * rankings that retrieved `d`, and return the top `k`. Rank-only
    * fusion is what makes heterogeneous scorers (lexical scores,
    * cosines) commensurable — raw scores never mix.
    *
    * Every arithmetic op here is an exactly-rounded IEEE division/sum
    * folded in DETERMINISTIC ranking order (window cumsum over the
    * ranking index) — no transcendentals — so unlike the underlying
    * BM25/cosine scores, the fused score is bit-identical across
    * engines and fully oracle-checkable.
    *
    * Scale shape: inputs are top-`k'` retrievals (tiny — k'·N rows, not
    * corpora); one union + one doc-keyed window covers fold and
    * evidence; the final top-k is TakeOrderedAndProject. Ties break by
    * id.
    */
  def reciprocalRankFusion(rankings: Seq[DataFrame], k: Int,
      rrfK: Int = 60, idCol: String = "doc_id"): DataFrame = {
    require(rankings.nonEmpty, "at least one ranking to fuse")
    require(k >= 1 && rrfK >= 0)
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(idCol), col("rank").cast("bigint").as("rank"))
        .withColumn("ranking_idx", lit(i))
        .withColumn("contrib", lit(1.0) / (col("rank") + rrfK))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col(idCol)).orderBy(col("ranking_idx"))
    tagged
      .withColumn("rrf_score", sum(col("contrib")).over(w))
      .withColumn("n_rankings", count(lit(1)).over(
        Window.partitionBy(col(idCol))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("ranking_idx").desc)))
      .filter(col("rn") === 1) // the completed ordered fold
      .select(col(idCol), col("n_rankings"), col("rrf_score"))
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf_score").desc, col(idCol))).cast("bigint"))
      .select(col("rank"), col(idCol), col("n_rankings"), col("rrf_score"))
  }

  def bruteForceNearDupPairs(df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxRows: Long = 65536L): DataFrame = {
    requireBruteScale(df, maxRows, "bruteForceNearDupPairs",
      "cosineNearDupPairs or ivfNearDupPairs")
    val side = df.select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"))
    side.as("a")
      .join(side.as("b"), col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("v1"), col(s"b.$idCol").as("v2"),
        (vec.dot(col(s"a.$vecCol"), col(s"b.$vecCol"))
          / (col("a.nrm") * col("b.nrm"))).as("sim"))
      .filter(col("sim") >= threshold)
      .select("v1", "v2")
  }

  /** Embedding-cosine near-dup pairs (the fifth dedup flavor): all pairs
    * with cosine ≥ threshold. Exact O(n²/buckets) via LSH candidate
    * buckets plus exact verification; pairs missed by all tables are the
    * (tunable) recall tradeoff.
    *
    * Persist contract: with `storage` set, the bucketed side stays cached
    * after the call (the result reads it lazily, possibly twice via the
    * self-join) — the CALLER releases it (`spark.catalog.clearCache()`
    * or unpersist) once the result is consumed; pass `storage = None` to
    * trade the cache for recomputing the signature pipeline per side.
    */
  def cosineNearDupPairs(df: DataFrame, threshold: Double = 0.95,
      planes: Int = 8, tables: Int = 8, dim0: Int = -1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)): DataFrame = {
    val dim = inferDim(df, vecCol, dim0)
    // persist: the self-join would otherwise run the 64-dot bucket
    // pipeline once per side (see Dedup.minHashLshPairs note on lifetime)
    val banded0 = df.select(
      col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"),
      posexplode(array((0 until tables).map(t =>
        lshBucket(col(vecCol), planes, dim, seed = 42L + t)): _*))
        .as(Seq("table_idx", "bucket")))
    val banded = storage.fold(banded0)(graft.CacheScope.persist(banded0, _))
    // verify INLINE on the join output, dedup only the narrow survivors:
    // a candidate pair shared by several tables costs a few extra dots
    // (codegen'd, map-side) instead of shuffling rows that carry two full
    // embedding arrays through dropDuplicates — the wide-shuffle killer
    // at corpus scale. SHUFFLE_MERGE pins the bucket join to its
    // intended shape: both sides are the corpus, and Catalyst's size
    // estimate for an exploded array-carrying side lands low enough to
    // broadcast one — which builds the ENTIRE corpus on the driver
    // (measured: OOM at 200k×64 vectors under an 8 GiB driver)
    banded.as("a").hint("shuffle_merge")
      .join(banded.as("b"),
        col("a.table_idx") === col("b.table_idx") &&
          col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("v1"), col(s"b.$idCol").as("v2"),
        (vec.dot(col(s"a.$vecCol"), col(s"b.$vecCol"))
          / (col("a.nrm") * col("b.nrm"))).as("sim"))
      .filter(col("sim") >= threshold)
      .dropDuplicates("v1", "v2")
  }

  /** Int8 symmetric quantization round-trip check — the embedding
    * compression step (4× smaller than float32) a large corpus runs
    * before ANN indexing. Per vector: `scale = max|x|/127`, every element
    * quantized to `rint(x/scale)` and reconstructed; emits the max
    * reconstruction error, the scale, and the `quant_ok` bound check
    * (error ≤ scale/2 by construction — a failed bound means the
    * quantizer math broke, not the data). One compiled pass per row via
    * `quant_stats`; no quantized array materializes.
    */
  def int8RoundTrip(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", levels: Int = 127): DataFrame =
    df.select(col(idCol), vec.quantStats(col(vecCol), levels).as("qs"))
      .select(col(idCol),
        element_at(col("qs"), 1).as("max_err"),
        element_at(col("qs"), 2).as("scale"),
        (element_at(col("qs"), 1) <=
          element_at(col("qs"), 2) * 0.5 + 1e-12).as("quant_ok"))

  /** IVF variant of near-dup pair generation: every vector joins its
    * `nprobe` nearest centroid lists (multi-assignment, so a pair split by
    * one list boundary still meets in a shared neighbor list), candidate
    * pairs come from the per-list self-join, exact cosine verifies. The
    * quantizer is the same seeded k-means as [[ivfTopK]]; recall follows
    * the data's cluster structure instead of random hyperplanes —
    * complementary failure modes to [[cosineNearDupPairs]].
    *
    * Persist contract: same as [[cosineNearDupPairs]] — the listed side
    * stays cached for the self-join; the caller releases it after
    * consuming the result (Verify/Bench clear all caches per query).
    */
  def ivfNearDupPairs(df: DataFrame, threshold: Double = 0.95,
      nlist: Int = 0, nprobe: Int = 2, trainSample: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      corpusKey: Option[String] = None): DataFrame = {
    val nearestLists = this.nearestLists(
      trainCentroidsCached(corpusKey, df, vecCol, nlist, trainSample)) _
    val listed0 = df.select(
      col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"),
      explode(nearestLists(col(vecCol), nprobe)).as("list"))
    val listed = storage.fold(listed0)(graft.CacheScope.persist(listed0, _))
    // same narrow-shuffle shape as [[cosineNearDupPairs]]: verify inline,
    // dedup only (v1, v2, sim) survivors; SHUFFLE_MERGE for the same
    // reason — a mis-estimated broadcast of the listed corpus side is a
    // driver OOM at scale (see cosineNearDupPairs)
    listed.as("a").hint("shuffle_merge")
      .join(listed.as("b"),
        col("a.list") === col("b.list") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("v1"), col(s"b.$idCol").as("v2"),
        (vec.dot(col(s"a.$vecCol"), col(s"b.$vecCol"))
          / (col("a.nrm") * col("b.nrm"))).as("sim"))
      .filter(col("sim") >= threshold)
      .dropDuplicates("v1", "v2")
  }

  /** IVF-PQ near-dup pairs — the PQ tier where it matters MOST: the
    * near-dup candidate join is a per-list SELF-join, so BOTH sides of
    * the widest ANN shuffle carry vector payloads; with PQ they carry
    * ~dim bytes of residual codes instead (~4× narrower than
    * [[ivfNearDupPairs]]'s float arrays, ~8× in-memory).
    *
    * Scoring decomposes over the shared list centroid `c`:
    * `a·b ≈ (c + s_a·q_a)·(c + s_b·q_b)
    *       = |c|² + s_a·(c·q_a) + s_b·(c·q_b) + s_a·s_b·(q_a·q_b)` —
    * `|c|²` is a per-list literal, `c·q` is precomputed ONCE per index
    * row at encode time (`cdot`), so the per-pair cost is one compiled
    * int8×int8 dot (`codes_dot`, exact Long
    * arithmetic) plus scalar math. Pairs whose approximate sim clears
    * `threshold − slack` fetch their float vectors by id and are
    * verified by EXACT cosine — zero false positives (the `subset_ok`
    * contract), with `slack` absorbing the quantization error on the
    * approximate cut (per-element residual error ≤ scale/2; the
    * recall gate measures what survives).
    */
  def ivfPQNearDupPairs(df: DataFrame, threshold: Double = 0.95,
      nlist: Int = 0, nprobe: Int = 2, trainSample: Int = 10000,
      slack: Double = 0.05,
      idCol: String = "vec_id", vecCol: String = "embedding",
      corpusKey: Option[String] = None): DataFrame = {
    val centroids =
      trainCentroidsCached(corpusKey, df, vecCol, nlist, trainSample)
    val nearestLists = this.nearestLists(centroids) _
    val centLit = array(centroids.map(c => array(c.map(lit(_)): _*)): _*)
    val cNorm2 = array(centroids.map(c => lit(c.map(x => x * x).sum)): _*)
    // the PQ index rows (multi-assigned to nprobe lists so pairs split
    // by a boundary still meet): (id, list, nrm, codes, scale, c·codes)
    val indexed = df
      .select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"),
        explode(nearestLists(col(vecCol), nprobe)).as("list"))
      .select(col(idCol), col("list"), col("nrm"),
        vec.quantResidual(col(vecCol),
          element_at(centLit, col("list") + 1), 127).as("qr"))
      .select(col(idCol), col("list"), col("nrm"),
        col("qr").getField("codes").as("codes"),
        col("qr").getField("scale").as("qscale"))
      .withColumn("cdot",
        vec.dotCodes(element_at(centLit, col("list") + 1), col("codes")))
      // materialize once: the self-join would otherwise re-run the whole
      // PQ encode pipeline (centroid explode + residual quant + code dot)
      // per join side — same persist contract as the banded/exploded
      // sides in minHashLshPairs / cosineNearDupPairs / ivfNearDupPairs
    val indexedP = graft.CacheScope.persist(indexed)
    val a = indexedP.as("a")
    val b = indexedP.as("b")
    val approxDot =
      element_at(cNorm2, col("a.list") + 1) +
        col("a.qscale") * col("a.cdot") + col("b.qscale") * col("b.cdot") +
        col("a.qscale") * col("b.qscale") *
          vec.codesDot(col("a.codes"), col("b.codes")).cast("double")
    val survivors0 = a.hint("shuffle_merge").join(b,
        col("a.list") === col("b.list") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          approxDot / (col("a.nrm") * col("b.nrm")) >= threshold - slack)
      .select(col(s"a.$idCol").as("v1"), col(s"b.$idCol").as("v2"))
      .dropDuplicates("v1", "v2")
    // exact verification of the survivor set: fetch both float vectors
    // by id, keep only true ≥-threshold pairs (subset_ok). The survivor
    // side is BROADCAST into both joins (like ivfPQTopK's rerank) so the
    // corpus streams through each verify pass unshuffled — but only
    // while the pair count is actually broadcast-able: survivor count ≈
    // true-pair count, and on a corpus whose pair DENSITY is quadratic
    // (a mis-sized threshold, or the synthetic low-entropy fixtures)
    // "pair-bounded" IS corpus-squared — so the count is measured (the
    // survivors are persisted; the verify joins reuse them) and past
    // [[MaxBroadcastPairs]] the verify degrades to shuffle joins keyed
    // on the pair ids: the correct shape once the pair set itself is
    // the big side.
    val survivors = graft.CacheScope.persist(survivors0,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hinted: DataFrame => DataFrame =
      if (survivors.count() <= MaxBroadcastPairs) broadcast
      else _.hint("shuffle_merge")
    val side = df.select(col(idCol), col(vecCol), norm(col(vecCol)).as("n0"))
    val withA = side
      .select(col(idCol).as("v1"), col(vecCol).as("va"), col("n0").as("na"))
      .join(hinted(survivors), Seq("v1"))
    side
      .select(col(idCol).as("v2"), col(vecCol).as("vb"), col("n0").as("nb"))
      .join(hinted(withA), Seq("v2"))
      .filter(vec.dot(col("va"), col("vb")) / (col("na") * col("nb"))
        >= threshold)
      .select(col("v1"), col("v2"))
  }

  /** Survivor-pair ceiling for the broadcast verify path of
    * [[ivfPQNearDupPairs]]: 64-dim float rows run ~0.5 KiB as broadcast
    * build rows, so 2²⁰ pairs sit near 0.5 GiB — comfortable under the
    * 8 GiB default driver. Above it the verify joins shuffle instead;
    * no recall or result change, plan shape only.
    */
  private val MaxBroadcastPairs = 1L << 20

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embedding space with the seeded coarse
    * quantizer, compare vectors only WITHIN (multi-assigned) clusters,
    * and drop every document that has an above-threshold neighbor with a
    * smaller id — the same deterministic min-id winner rule as the exact
    * dedup family. Returns the KEPT corpus rows unchanged.
    *
    * Guarantees by construction: zero false drops (every drop is verified
    * by exact cosine ≥ `threshold`), so kept ⊇ exact-kept; recall of
    * drops follows the quantizer like [[ivfNearDupPairs]] (whose pair
    * generation this reuses — multi-assignment to `nprobe` lists catches
    * pairs split by a list boundary). Scale shape: per-list self-joins
    * bounded by cluster size, one broadcast-able distinct drop list per
    * batch — never an all-pairs comparison.
    */
  def semanticDedup(df: DataFrame, threshold: Double = 0.95,
      nlist: Int = 0, nprobe: Int = 2, trainSample: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      corpusKey: Option[String] = None): DataFrame = {
    val dominated = ivfNearDupPairs(df, threshold, nlist, nprobe,
        trainSample, idCol, vecCol, corpusKey = corpusKey)
      // v1 < v2 throughout: v2 is always the dominated side
      .select(col("v2").as(idCol)).distinct()
    df.join(dominated, Seq(idCol), "left_anti")
  }
}
