package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Order-dependent sampling/ranking operators built on a DISTRIBUTED
  * prefix sum — the primitive that makes "global cumulative anything"
  * scale. A naive `sum() OVER (ORDER BY ...)` with no partition key
  * collapses the whole table into one task; here the global order is
  * bucketed by a caller-supplied order-monotone bucket key, per-bucket
  * totals are prefix-summed on the tiny bucket table (rows = #buckets,
  * bounded, never corpus-sized), and each row finishes with a
  * within-bucket window plus its bucket's broadcast offset. Two shuffles
  * over the data (bucket agg + bucket window), both partitioned —
  * nothing global.
  *
  * No reference counterpart (extension surface): the reference's only
  * ordered scan is the per-block merge (eth_event_stream/src/sink.rs:
  * 103-122), which never needs a corpus-wide running total.
  */
object Sampling {

  /** Appends `cum` = running total of `weight` over the order
    * `(bucket, orderCols...)` — globally, or within each `partCols`
    * group (grouped running totals / ranks at any group size: a plain
    * `Window.partitionBy(group)` puts one GROUP in one task, which dies
    * on a 100 TB group; here a group only ever contributes
    * `(group, bucket)` slices). `bucket` MUST be monotone in the
    * intended order (rows in a lower bucket sort before every row of a
    * higher bucket within their group) and low-cardinality relative to
    * the data (thousands of buckets — e.g. `id / width` or a coarse
    * value range).
    */
  def orderedCumsum(df: DataFrame, bucket: Column, orderCols: Seq[Column],
      weight: Column, cumName: String = "cum",
      totalName: Option[String] = None,
      partCols: Seq[String] = Nil): DataFrame = {
    val withB = df.withColumn("__bucket", bucket.cast("long"))
      .withColumn("__w", weight.cast("long"))
    val parts = partCols.map(col)
    // tiny table: one row per (group, bucket); the per-group window is
    // bounded by #buckets, not by data size. The per-group total rides
    // along for free (callers needing T would otherwise re-run the
    // whole cumsum subtree just to max() it).
    val offsets = withB.groupBy((parts :+ col("__bucket")): _*)
      .agg(sum(col("__w")).as("__bsum"))
      .withColumn("__off",
        coalesce(sum(col("__bsum")).over(
          Window.partitionBy(parts: _*).orderBy(col("__bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__total",
        sum(col("__bsum")).over(Window.partitionBy(parts: _*)
          .orderBy(col("__bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select((parts :+ col("__bucket") :+ col("__off") :+ col("__total")): _*)
    val local = Window.partitionBy((parts :+ col("__bucket")): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NULL-SAFE join keys: groupBy keeps null bucket/group keys, and a
    // plain equality join would silently drop those rows. Null buckets
    // rank where Spark's window ordering puts nulls (FIRST ascending);
    // engines differ on null placement, so oracle authors order
    // explicitly or exclude nulls upstream.
    val offKeys = (partCols :+ "__bucket").map(k => s"__r_$k")
    val offsetsR = (partCols :+ "__bucket").zip(offKeys)
      .foldLeft(offsets) { case (d, (k, r)) => d.withColumnRenamed(k, r) }
    val cond = (partCols :+ "__bucket").zip(offKeys)
      .map { case (k, r) => col(k) <=> col(r) }.reduce(_ && _)
    val joined = withB.join(broadcast(offsetsR), cond)
      .drop(offKeys: _*)
      .withColumn(cumName, col("__off") + sum(col("__w")).over(local))
    totalName.fold(joined.drop("__total"))(t =>
        joined.withColumnRenamed("__total", t))
      .drop("__bucket", "__w", "__off")
  }

  /** Deterministic corpus shuffle for training order: `pos` = 0-based
    * rank of `xxhash64(id, seed)` (id tie-break), the seeded
    * reproducible global permutation every trainer wants for epoch
    * ordering — RNG-free, so the same seed replays the same order on
    * any cluster. Ranking rides the bucketed prefix sum: the bucket is
    * the hash's high bits (`>> 54`, arithmetic shift — monotone in the
    * signed hash order), so no single-task global sort ever forms.
    */
  def shufflePositions(df: DataFrame, seed: Long = 42L,
      idCol: String = "doc_id"): DataFrame = {
    val withH = df.withColumn("__h", xxhash64(col(idCol), lit(seed)))
    orderedCumsum(withH, expr("shiftright(__h, 54)"),
        Seq(col("__h"), col(idCol)), lit(1L), "pos")
      .withColumn("pos", col("pos") - 1)
      .drop("__h")
  }

  /** Token-budget corpus selection (the "give me a 50 B-token training
    * set" cut every pretraining run starts with): documents are taken in
    * a DETERMINISTIC pseudo-random order — `md5(id)`, engine-independent
    * so any system replays the same cut — until the running whitespace
    * token total reaches `budget`; the document that crosses the budget
    * is kept (fill-to-at-least semantics), everything after it is
    * dropped. The running total rides [[orderedCumsum]] with the md5's
    * first byte as the monotone bucket, so there is no global
    * single-task sort — two partitioned shuffles, same as every other
    * cumulative operator here. Token counting is the compiled
    * `token_counts` kernel (one string pass, row-local).
    */
  def tokenBudgetSelect(df: DataFrame, budget: Long,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val withT = df
      .withColumn("__ord", md5(col(idCol).cast("string")))
      .withColumn("n_tokens",
        element_at(graft.functions.vec.tokenCounts(col(textCol)), 1))
    orderedCumsum(withT,
        conv(substring(col("__ord"), 1, 2), 16, 10).cast("long"),
        Seq(col("__ord")), col("n_tokens"), "cum_tokens")
      // keep docs whose window STARTS before the budget line: the
      // crossing doc stays, so the cut always reaches >= budget tokens
      // (when the corpus has them)
      .filter(col("cum_tokens") - col("n_tokens") < budget)
      .select(col(idCol), col("n_tokens"), col("cum_tokens"))
  }

  /** Deterministic negative sampling (contrastive-training prep): `k`
    * pseudo-random partner documents per document, derived by modular
    * hashing over a DENSE id space (`neg = (id·P + (j+1)·Q) mod n`,
    * multiplicative-hash constants; an accidental self-pair shifts by
    * one) — RNG-free, so any engine replays the exact pair set. The
    * partner join is a plain shuffle join keyed on `neg_id` (broadcast
    * when the doc table is small); generation itself is row-local
    * `transform`/`posexplode`, no cross join anywhere. Ids must be dense
    * `0..n-1` (re-key with [[orderedCumsum]] ranks first if not).
    */
  def negativePairs(df: DataFrame, k: Int, idCol: String = "doc_id",
      payloadCols: Seq[String] = Seq("lang")): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val n = df.agg(count(lit(1)).as("__n"))
    val raw = df.select(col(idCol))
      .join(broadcast(n))
      .select(col(idCol), col("__n"),
        posexplode(expr(s"transform(sequence(0, ${k - 1}), " +
          s"j -> (($idCol % __n) * 1000003 + (CAST(j AS BIGINT) + 1) * 40503) % __n)"))
          .as(Seq("neg_rank", "__raw")))
      .select(col(idCol), col("neg_rank").cast("long").as("neg_rank"),
        when(col("__raw") === col(idCol), (col("__raw") + 1) % col("__n"))
          .otherwise(col("__raw")).as("neg_id"))
      // degenerate n=1 table: the shift lands back on the only doc —
      // emit nothing rather than a self-pair labeled negative
      .filter(col("neg_id") =!= col(idCol))
    val partners = df.select(
      (col(idCol).as("neg_id") +: payloadCols.map(c =>
        col(c).as(s"neg_$c"))): _*)
    raw.join(partners, "neg_id")
      .select((col(idCol) +: col("neg_rank") +: col("neg_id") +:
        payloadCols.map(c => col(s"neg_$c"))): _*)
  }

  /** Exact rank-based quartiles + Tukey-fence outlier counts per group
    * (the data-quality screen over a value column): q1/q3 are ORDER
    * STATISTICS — the values at ranks `ceil(n/4)` and `ceil(3n/4)`
    * (`percentile_disc` semantics; integer ranks, no interpolation, so
    * any engine reproduces the exact doubles) — and a row is an outlier
    * outside `[q1 − 1.5·IQR, q3 + 1.5·IQR]` (same IEEE arithmetic on
    * identical inputs both sides). Ranking runs through the grouped
    * [[orderedCumsum]] (value-range buckets), never one-task-per-group
    * windows; the quartile pick is a conditional aggregate over the
    * ranked rows; the outlier count is one broadcast join back.
    */
  def iqrOutliers(df0: DataFrame, valueCol: String, groupCol: String,
      idCol: String, valueBuckets: Column): DataFrame = {
    // explicit null policy: a null value is not an outlier and a null
    // group is not a population — both are excluded from ranking AND
    // counting (define null handling upstream if it matters)
    val df = df0.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
    val ranked = orderedCumsum(df, valueBuckets,
      Seq(col(valueCol), col(idCol)), lit(1L), "rank",
      totalName = Some("n"), partCols = Seq(groupCol))
    val q = ranked.groupBy(col(groupCol))
      .agg(max(col("n")).as("n"),
        max(when(col("rank") === expr("(n + 3) div 4"), col(valueCol)))
          .as("q1"),
        max(when(col("rank") === expr("(3 * n + 3) div 4"), col(valueCol)))
          .as("q3"))
    df.join(broadcast(q), groupCol)
      .groupBy(col(groupCol))
      .agg(max(col("n")).as("n"), max(col("q1")).as("q1"),
        max(col("q3")).as("q3"),
        count(when(
          col(valueCol) < col("q1") - (col("q3") - col("q1")) * 1.5 ||
            col(valueCol) > col("q3") + (col("q3") - col("q1")) * 1.5,
          1)).as("n_outliers"))
  }

  /** Systematic probability-proportional-to-size sampling: lay every
    * row's integer `weight` end to end on a line of total length T, and
    * select the row under each of the `k` evenly spaced points
    * `T/k, 2T/k, ..., T` (computed in exact integer arithmetic as
    * "the row's (cum−w, cum] interval contains a multiple of T/k",
    * i.e. `floor(cum·k/T) > floor((cum−w)·k/T)`). Classic PPS/systematic
    * design: selection probability ∝ weight, deterministic given the
    * order, no RNG and no float — so an SQL oracle reproduces it
    * bit-for-bit. A row heavier than T/k is selected once with
    * certainty (standard PPS-with-certainty), so the output can have
    * slightly fewer than `k` rows on extreme skew.
    *
    * Scale shape: one [[orderedCumsum]] (bucketed, never a global
    * single-partition window) + a broadcast of the 1-row total.
    */
  def ppsSample(df: DataFrame, weight: Column, k: Int,
      idCol: String = "doc_id", bucketWidth: Long = 64L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val cum = orderedCumsum(df, expr(s"$idCol div $bucketWidth"),
      Seq(col(idCol)), weight, "cum", totalName = Some("total"))
    // `div` keeps the selection in exact integer arithmetic (`/` on
    // longs is DOUBLE division in Spark SQL — a parity hazard)
    cum.withColumn("__w", weight.cast("long"))
      .withColumn("pick", expr(s"(cum * $k) div total"))
      .withColumn("__prev", expr(s"((cum - __w) * $k) div total"))
      .filter(col("pick") > col("__prev"))
      .drop("__w", "__prev", "total")
  }

  /** Equal-frequency quantile binning (curriculum bucketing): global
    * rank by `(score, idCol)` via the bucketed prefix sum (bucket = the
    * coarse score range, order-monotone because the score IS the order),
    * then `bin = floor((rank−1)·nbins/n)` in pure integer math. Bin
    * sizes differ by at most one, with the larger bins spread EVENLY
    * across the range (SQL NTILE instead front-loads every extra row
    * into the first bins — same family, different tie placement).
    * Scores must already be deterministic cross-engine (they are:
    * `text_quality` hash-matches), so rank ties break on `idCol`.
    */
  def quantileBins(df: DataFrame, score: Column, nbins: Int,
      idCol: String = "doc_id", scoreBuckets: Int = 64,
      partCols: Seq[String] = Nil): DataFrame = {
    require(nbins >= 1, s"nbins must be >= 1, got $nbins")
    // clamp into [0, scoreBuckets-1], monotone in SORT order: NaN sorts
    // after every double (Spark and DuckDB agree) but floor(NaN)
    // buckets to 0 — route NaN to the top bucket explicitly
    val bucket = when(isnan(score), lit(scoreBuckets - 1))
      .otherwise(least(greatest(floor(score * scoreBuckets), lit(0)),
        lit(scoreBuckets - 1)))
    // partCols ⇒ per-group bins (per-language curriculum): rank and n
    // are computed within each group by the grouped prefix sum
    val ranked = orderedCumsum(df.withColumn("__score", score), bucket,
      Seq(col("__score"), col(idCol)), lit(1L), "rank",
      totalName = Some("__n"), partCols = partCols)
    ranked.withColumn("bin", expr(s"((rank - 1) * $nbins) div __n"))
      .drop("__n", "__score")
  }
}
