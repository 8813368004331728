package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (driver north star — these extend the reference's surface, which has no
  * text layer; see SURVEY.md §2.7).
  *
  * Everything is a row-local SQL expression (array lambdas, no UDFs), so
  * the whole stage stays inside Tungsten codegen and scales embarrassingly
  * parallel — the only shuffles are the callers' final aggregations.
  */
object TextOps {

  /** Modulus for rolling fingerprints: products stay < 2^63 (1e9·131 + c). */
  val FpMod = 1000000007L

  /** Whitespace tokens, empties dropped (leading/trailing whitespace). */
  def wsTokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** BPE-ish subword tokens: lowercase alnum runs or single non-alnum
    * non-space marks — the common pre-tokenizer regex shape.
    */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))

  /** Token counting: whitespace tokens + BPE-ish regex tokens + chars.
    * Counting goes through the fused single-pass native kernel
    * (`token_counts`) — regex-equivalent, ~10× cheaper
    * than two `regexp_extract_all` passes.
    */
  def tokenStats(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol),
        graft.functions.vec.tokenCounts(col(textCol)).as("tc"),
        length(col(textCol)).cast("bigint").as("n_chars"))
      .select(
        col(idCol),
        element_at(col("tc"), 1).as("n_ws_tokens"),
        element_at(col("tc"), 2).as("n_bpe_tokens"),
        col("n_chars"))

  /** Tiny per-language stopword lists for the n-gram/stopword lang-ID
    * heuristic. Ordered map: the argmax tiebreak follows this order.
    */
  val StopWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
    "es" -> Seq("el", "los", "las", "y", "es", "un"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  private def votes(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => t.isin(words.map(lit(_)): _*)))

  /** The fused per-row language/quality statistics vector
    * `[v_en..v_zh, n_ws, n_bpe, n_punct]` (`lang_stats`
    * over `lower(text)` — one compiled pass; the HOF formulation it
    * replaces evaluated the tokenizer plus 8 interpreted `ArrayFilter`
    * lambdas per row, measured 2.8 s vs tokenStats' fused-kernel 0.11 s
    * over the same cached corpus). Regex equivalence is property-pinned
    * (PropertySpec "lang_stats"); the two-step select materializes the
    * vector once below the consuming projection.
    */
  private def langStatsCol(textCol: String): Column =
    graft.functions.vec.langStats(lower(col(textCol)), StopWords.map(_._2))

  private def voteAt(st: Column, j: Int): Column = element_at(st, j + 1)

  /** Language-ID heuristic: stopword votes per language, argmax with
    * deterministic tiebreak (list order). Returns (id, pred_lang, per-lang
    * votes) so the decision is auditable.
    */
  def langId(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val st = col("__st")
    val voteCols = StopWords.zipWithIndex.map { case ((l, _), j) =>
      voteAt(st, j).as(s"v_$l")
    }
    val withVotes = df
      .select(col(idCol), langStatsCol(textCol).as("__st"))
      .select((col(idCol) +: voteCols): _*)
    withVotes.withColumn("pred_lang", predLang)
  }

  /** Argmax CASE chain over the `v_<lang>` vote columns, first-wins
    * tiebreak — mirrored verbatim in oracle SQL.
    */
  private def predLang: Column = {
    val langs = StopWords.map(_._1)
    langs.init.foldRight(lit(langs.last)) { (l, els) =>
      val ge = langs.filter(_ != l)
        .map(o => col(s"v_$l") >= col(s"v_$o")).reduce(_ && _)
      when(ge, lit(l)).otherwise(els)
    }
  }

  /** The composite quality formula over the double-typed count columns —
    * fixed expression order so the IEEE result is engine-reproducible.
    */
  private def qualityExpr: Column =
    // token-less docs score a defined 0.0, not NaN: 0/0 would otherwise
    // sort ABOVE every real score (NaN orders last ascending) and land
    // empty docs in the top curriculum bin while a `quality >= t` filter
    // silently dropped them — two inconsistent fates for the same doc
    when(col("n_ws") === 0.0 || col("n_bpe") === 0.0, lit(0.0)).otherwise(
      lit(0.4) * least(col("n_ws") / lit(100.0), lit(1.0)) +
        lit(0.3) * (lit(1.0) - col("n_punct") / col("n_bpe")) +
        lit(0.3) * least((col("n_stop") / col("n_ws")) * lit(4.0), lit(1.0)))

  /** Quality scoring: length/punctuation/stopword components folded into a
    * composite in a fixed expression order so the IEEE result is
    * reproducible in any engine that mirrors the formula.
    */
  def qualityScore(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // the counts come from the fused langStats kernel (see
    // [[langStatsCol]]) — n_stop is the en-vote slot (enStops IS the
    // en stopword list); the stats vector materializes once below the
    // count projection
    val st = col("__st")
    val k = StopWords.size
    df.select(col(idCol), col(textCol), langStatsCol(textCol).as("__st"))
      .select(
        col(idCol),
        element_at(st, k + 1).cast("double").as("n_ws"),
        element_at(st, k + 2).cast("double").as("n_bpe"),
        element_at(st, k + 3).cast("double").as("n_punct"),
        voteAt(st, 0).cast("double").as("n_stop"),
        length(col(textCol)).cast("double").as("n_chars"))
      .select(
        col(idCol),
        least(col("n_ws") / lit(100.0), lit(1.0)).as("len_score"),
        when(col("n_bpe") === 0.0, lit(0.0))
          .otherwise(col("n_punct") / col("n_bpe")).as("punct_ratio"),
        when(col("n_ws") === 0.0, lit(0.0))
          .otherwise(col("n_stop") / col("n_ws")).as("stop_ratio"),
        when(col("n_ws") === 0.0, lit(0.0))
          .otherwise(col("n_chars") / col("n_ws")).as("mean_token_len"),
        qualityExpr.as("quality"))
  }

  /** One-pass `(id, pred_lang, quality)` — data mixing needs both, and
    * each is a row-local function of the text: computing them together
    * avoids the second full scan and the id-keyed shuffle join that
    * stitching [[langId]] to [[qualityScore]] would cost at corpus scale.
    */
  def langQuality(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // one fused kernel pass for all 9 vote/count columns (see
    // [[langStatsCol]] — the HOF formulation ran the tokenizer ~7× and
    // 8 interpreted filter lambdas per row, measured 2.8 s vs
    // tokenStats' 0.11 s over the same cached corpus)
    val st = col("__st")
    val k = StopWords.size
    val voteCols = StopWords.zipWithIndex.map { case ((l, _), j) =>
      voteAt(st, j).as(s"v_$l")
    }
    df.select(col(idCol), langStatsCol(textCol).as("__st"))
      .select((col(idCol) +: voteCols) ++ Seq(
        element_at(st, k + 1).cast("double").as("n_ws"),
        element_at(st, k + 2).cast("double").as("n_bpe"),
        element_at(st, k + 3).cast("double").as("n_punct"),
        voteAt(st, 0).cast("double").as("n_stop")): _*)
      .select(col(idCol), predLang.as("pred_lang"), qualityExpr.as("quality"))
  }

  /** [[langQuality]] and [[tokenStats]] in ONE corpus pass:
    * `(id, pred_lang, quality, n_ws_tokens, n_bpe_tokens, n_chars)`.
    * The corpus-build selections consume both per doc and previously
    * ran two full scans of the survivor/base frame plus an id-keyed
    * join to glue them back together — every column here is a
    * row-local function of the text, so the join was pure overhead
    * (the rationale that created [[langQuality]], one level up). The
    * expressions are the two originals verbatim (same kernels, same
    * IEEE order): `pred_lang`/`quality` from the fused lang-stats
    * vector, token counts from the `tokenCounts` kernel — results are
    * bit-identical to the joined pair.
    */
  def langQualityTokenStats(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val st = col("__st")
    val k = StopWords.size
    val voteCols = StopWords.zipWithIndex.map { case ((l, _), j) =>
      voteAt(st, j).as(s"v_$l")
    }
    df.select(col(idCol), langStatsCol(textCol).as("__st"),
        graft.functions.vec.tokenCounts(col(textCol)).as("__tc"),
        length(col(textCol)).cast("bigint").as("n_chars"))
      .select((col(idCol) +: voteCols) ++ Seq(
        element_at(st, k + 1).cast("double").as("n_ws"),
        element_at(st, k + 2).cast("double").as("n_bpe"),
        element_at(st, k + 3).cast("double").as("n_punct"),
        voteAt(st, 0).cast("double").as("n_stop"),
        element_at(col("__tc"), 1).as("n_ws_tokens"),
        element_at(col("__tc"), 2).as("n_bpe_tokens"),
        col("n_chars")): _*)
      .select(col(idCol), predLang.as("pred_lang"), qualityExpr.as("quality"),
        col("n_ws_tokens"), col("n_bpe_tokens"), col("n_chars"))
  }

  /** Repetition scores (Gopher-rule style): per-doc duplicate-word
    * fraction and most-frequent-bigram share — high values flag the
    * degenerate boilerplate/spam a quality gate should drop before
    * training.
    *
    *  - `dup_word_frac` = (n_words − n_distinct_words) / n_words, fully
    *    row-local (array_distinct on the token array);
    *  - `top_bigram_frac` = max bigram multiplicity / (n_words − 1) —
    *    the per-doc bigram mode needs a count, so bigram HASHES explode
    *    into a `(doc, bigram)` aggregation: tokens are string-hashed
    *    once, the sliding combine runs in the native
    *    `ngram_hashes` kernel with multiplicity kept
    *    (no gram strings materialize, the shuffle carries 64-bit keys),
    *    and the shuffle is keyed exactly like the gram joins
    *    (doc-bounded fanout, scales by partitioning).
    */
  def repetitionScores(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // ONE tokenization per row: the fused kernel's hash array carries
    // everything — n_words = its size, distinct words = array_distinct
    // on the hashes (identical modulo negligible 64-bit collisions, the
    // same trade gramHashes documents), bigrams = the sliding combine
    // over it. The previous shape ran the regex split AND string-array
    // build beside the kernel.
    val base = df
      .select(col(idCol),
        graft.functions.vec.wsTokenHashes(lower(col(textCol))).as("wh"))
      .withColumn("n_words", size(col("wh")))
    val top = base.filter(col("n_words") >= 2)
      .select(col(idCol), explode(
        graft.functions.vec.ngramHashesAll(col("wh"), 2)).as("bigram"))
      .groupBy(col(idCol), col("bigram")).agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol)).agg(max(col("cnt")).as("top_cnt"))
    base.join(top, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_words").cast("bigint").as("n_words"),
        when(col("n_words") > 0,
          (col("n_words") - size(array_distinct(col("wh")))).cast("double")
            / col("n_words"))
          .otherwise(lit(0.0)).as("dup_word_frac"),
        coalesce(
          col("top_cnt").cast("double") / (col("n_words") - 1).cast("double"),
          lit(0.0)).as("top_bigram_frac"))
  }

  /** Training-sequence packing (concat-and-chunk): documents are laid
    * out in deterministic `(shard, doc_id)` order and chunked into
    * fixed token-budget packs; each doc is assigned to the pack where
    * its first token lands (docs longer than the budget span packs —
    * standard concat-and-chunk semantics). Shards (`doc_id DIV
    * shardSize`) bound the cumulative-sum window: the prefix sum is
    * per-shard, so the plan is a partitioned window — never the
    * single-partition global sort an unpartitioned running total would
    * force — and shards parallelize exactly like training shards on
    * disk.
    *
    * Emits `(doc_id, shard, pack_in_shard, start_offset, n_tokens)`;
    * `(shard, pack_in_shard)` is the globally unique pack key.
    */
  def packSequences(df: DataFrame, budget: Long, shardSize: Long = 1024L,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(budget >= 1 && shardSize >= 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Long.MinValue, -1)
    df.select(
        col(idCol),
        expr(s"$idCol DIV $shardSize").as("shard"),
        size(wsTokens(col(textCol))).cast("bigint").as("n_tokens"))
      .withColumn("start_offset",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_in_shard", expr(s"start_offset DIV $budget"))
      .select(idCol, "shard", "pack_in_shard", "start_offset", "n_tokens")
  }

  /** PII patterns shared by detection and redaction. Conservative,
    * anchored shapes (na(t)ive email, NNN-NNNN phone, dotted-quad IPv4)
    * written in the common Java-regex/RE2 subset — ASCII classes,
    * non-capturing groups, ASCII `\b` — so Spark and the DuckDB oracle
    * match byte-for-byte. Order matters for redaction (email first: its
    * local part may contain digit runs the narrower patterns would see).
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\b[0-9]{3}-[0-9]{4}\\b", "<PHONE>"),
    ("ipv4", "\\b[0-9]{1,3}(?:\\.[0-9]{1,3}){3}\\b", "<IP>"))

  /** Redacted copy of `text`: every PII match replaced by its tag, in
    * [[PiiPatterns]] order. Row-local regexp chain — stays in codegen.
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (t, (_, pat, tag)) =>
      regexp_replace(t, lit(pat), lit(tag))
    }

  /** PII detection + redaction over a corpus: per-doc match counts for
    * each pattern class plus the redacted text. The scrub step every
    * training-data pipeline runs before release; row-local, so the only
    * cost is the scan itself.
    */
  def piiRedact(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val countCols = PiiPatterns.map { case (name, pat, _) =>
      regexp_count(col(textCol), lit(pat)).cast("bigint").as(s"n_$name")
    }
    df.select((col(idCol) +: countCols) :+
      redactPii(col(textCol)).as("redacted"): _*)
  }

  /** Corpus vocabulary heavy-hitters: exact global top-k tokens by
    * occurrence count with a total tiebreak (count desc, token asc) so
    * the selected set is unique. The plan is the scalable shape:
    * map-side partial counts → one shuffle on token → per-partition
    * top-k merged on the driver (`TakeOrderedAndProject`), never a
    * global sort. Token skew is exactly what partial aggregation eats —
    * "the" partials combine before the shuffle.
    */
  def vocabTopK(df: DataFrame, k: Int, textCol: String = "text"): DataFrame = {
    require(k >= 1)
    df.select(explode(wsTokens(lower(col(textCol)))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)
  }

  /** BM25 keyword-search top-k (Robertson/Spärck Jones probabilistic
    * ranking, the non-negative `ln(1 + (N−df+0.5)/(df+0.5))` idf variant):
    * score every document against a literal query-term set, return the
    * top `k` with their ranking evidence.
    *
    * Scale shape: ZERO corpus shuffles. For a literal term set, per-term
    * tf is a row-local compiled array fold (like `dl`), so the whole
    * pipeline is one corpus pass for the stats row (N, Σdl, per-term df
    * — exact integer aggregates, `avgdl` deterministic) and one scored
    * scan ending in TakeOrderedAndProject (per-partition heads merged on
    * the driver), never a full sort and never a (doc, term) shuffle. An
    * inverted-index shape (explode → term screen → (doc, term) groupBy)
    * is only worth building when it is amortized across MANY queries —
    * for ad-hoc top-k it cost 4 shuffles and ~30× the time at the 100×
    * tier.
    *
    * The per-doc score folds term contributions in DETERMINISTIC term
    * order (a left-associated sum over ascending terms — IEEE addition
    * is order-sensitive, and an unordered aggregate would let ranks at
    * float-level near-ties differ run to run; an absent term's contrib
    * is an exact +0.0, which is identity under IEEE addition). Exact
    * ties break by `doc_id`. The integer evidence columns
    * (`matched_terms`, `tf_sum`, `dl`) plus the rank are the
    * oracle-checkable surface; the score itself is engine-specific in
    * its last ulp (`ln` differs between libm implementations).
    */
  def bm25TopK(df: DataFrame, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      textCol: String = "text", idCol: String = "doc_id",
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    require(k >= 1)
    val w = org.apache.spark.sql.expressions.Window
    // corpus stats: one exact integer aggregate (N docs, total tokens)
    val Seq(nDocs, sumDl) = df
      .agg(count(lit(1)), coalesce(sum(size(wsTokens(lower(col(textCol))))), lit(0L)))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toSeq
    // sumDl == 0 ⇔ no doc has any token (sizes are non-negative), so no
    // term can match — return the empty result directly rather than let
    // the avgdl division produce a 0-denominator expression downstream
    if (sumDl == 0L) {
      return df.limit(0).select(
        lit(0L).as("rank"), col(idCol).as("doc_id"),
        lit(0L).as("matched_terms"), lit(0L).as("tf_sum"),
        lit(0L).as("dl"), lit(0.0).as("score"))
    }
    // For a KNOWN (small) term set, per-term tf is a ROW-LOCAL array
    // fold — no (doc, term) explode, no corpus shuffle at all. The base
    // projection computes dl + tf per term once and feeds both the
    // one-row stats job (N, Σdl, per-term df — one corpus pass) and the
    // scored TakeOrdered scan; `storage` persists it across the two.
    // The inverted-index shape this replaced (explode → term screen →
    // (doc, term) groupBy → df join → windowed fold) only pays off when
    // the index is built ONCE and amortized across many queries or the
    // term set outgrows per-row HOF evaluation — for ad-hoc top-k it
    // cost 4 shuffles and, at the 100× tier, 56 s vs ~2 s for the scan.
    // lowercase BEFORE distinct/sort: the kernel tokenizes the
    // LOWERCASED corpus, so an uppercase query term would silently
    // match nothing
    val terms = queryTerms.map(_.toLowerCase(java.util.Locale.ROOT))
      .distinct.sorted
    val tfCol = terms.indices.map(i => col(s"__tf_$i"))
    // dl + every tf from ONE compiled pass over the text (the fused
    // TermTf kernel) — an array-HOF formulation re-runs the tokenizer
    // per term, interpreted
    val base0 = df
      .select(col(idCol).as("doc_id"),
        graft.functions.vec.termTf(col(textCol), terms).as("__tt"))
      .select(
        col("doc_id") +: element_at(col("__tt"), 1).as("dl") +:
          terms.indices.map(i =>
            element_at(col("__tt"), i + 2).as(s"__tf_$i")): _*)
    val base = storage.fold(base0)(graft.CacheScope.persist(base0, _))
    // per-term document frequencies: |terms| more values on the stats
    // row, same single pass
    val dfRow = base.agg(
      sum(when(tfCol.head > 0, 1L).otherwise(0L)),
      tfCol.tail.map(t => sum(when(t > 0, 1L).otherwise(0L))): _*).head
    val dfreq = terms.indices.map(i => dfRow.getLong(i))
    // the per-doc score folds term contributions in DETERMINISTIC term
    // order — a left-associated sum over ascending terms, exactly the
    // windowed cumsum of the inverted shape (an absent term's contrib
    // is an exact +0.0: x + 0.0 preserves x bit-for-bit, idf > 0
    // always). idf stays a Spark log EXPRESSION over literals (constant
    // folding uses the same eval as per-row execution — no driver-libm
    // vs executor-libm ulp seam).
    val contribs = terms.indices.map { i =>
      val idf = log((lit(nDocs.toDouble) - lit(dfreq(i)) + 0.5) /
        (lit(dfreq(i)) + 0.5) + 1.0)
      idf * (tfCol(i) * (k1 + 1.0)) /
        (tfCol(i) + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl") * nDocs / sumDl.toDouble))
    }
    base
      .withColumn("score", contribs.reduceLeft(_ + _))
      .withColumn("matched_terms",
        tfCol.map(t => when(t > 0, 1L).otherwise(0L)).reduceLeft(_ + _))
      .withColumn("tf_sum", tfCol.reduceLeft(_ + _))
      // only MATCHING docs rank (the inverted shape never materialized
      // the rest; a zero-score doc must not pad out a small top-k)
      .filter(col("matched_terms") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        w.orderBy(col("score").desc, col("doc_id"))).cast("bigint"))
      .select("rank", "doc_id", "matched_terms", "tf_sum", "dl", "score")
  }

  /** Blocklist screen — the C4-style badword filter that is the first
    * gate of every web-corpus pipeline: per doc, the number of DISTINCT
    * blocklist words present and the keep verdict (≤ `maxDistinctHits`;
    * 0 = the classic any-hit drop). Entirely row-local and codegen'd —
    * `array_intersect` of the token array against the blocklist
    * LITERAL (blocklists are KBs; they ride in the plan, no join, no
    * shuffle, no interpreted lambda).
    */
  def blocklistScreen(df: DataFrame, blocklist: Seq[String],
      maxDistinctHits: Int = 0, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist screens nothing")
    val hits = coalesce(
      size(array_intersect(wsTokens(lower(col(textCol))),
        array(blocklist.map(lit(_)): _*))).cast("long"), lit(0L))
    df.select(col(idCol), hits.as("n_blocked"),
      (hits <= maxDistinctHits).as("kept"))
  }

  /** Characteristic terms per document — tf-idf-style keyword
    * extraction in EXACT integer form so any engine replays it
    * bit-for-bit: per (doc, token) term frequency, corpus document
    * frequency, a df stopword screen (`df ≤ maxDfFrac · N` — idf does
    * nothing but demote corpus-wide words, so the screen IS the integer
    * idf), then the per-doc top-k by (tf DESC, df ASC, token ASC) — a
    * total order, no float scores.
    *
    * Scale shape: tf and df are map-side-combined groupBys (token skew
    * eaten by partial aggregation, the vocabTopK argument); the df join
    * keys on token; the top-k window partitions BY DOCUMENT (bounded
    * groups — a doc has bounded distinct tokens), never globally.
    */
  def characteristicTerms(df: DataFrame, k: Int = 5,
      maxDfFrac: Double = 0.5, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && maxDfFrac > 0)
    // one planning action (parquet-metadata count) sizes the df screen
    val n = df.count()
    val tf = df.select(col(idCol).as("doc_id"),
        explode(wsTokens(lower(col(textCol)))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= math.floor(n * maxDfFrac).toLong)
    tf.join(dfreq, "tok")
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("df").asc, col("tok").asc))
          .cast("bigint"))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "tok", "tf", "df")
  }

  /** Temperature-scaled mixture weights (the multilingual/domain mixing
    * rule: sample group i proportionally to `n_i^alpha`, here α = 1/2 so
    * low-resource groups are upsampled): per group, the document count,
    * its normalized sampling weight, and the repeat factor (`n_epochs`)
    * needed to hit `targetDocs` total samples at that weight.
    *
    * Scale/parity shape: one group-count aggregation (the corpus-sized
    * shuffle), then all arithmetic runs over the tiny per-group table.
    * The weight denominator folds in DETERMINISTIC group order (a
    * whole-frame window sum over `ORDER BY group`) rather than an
    * unordered aggregate — IEEE addition is order-sensitive, and the
    * oracle replays the same ordered fold bit-for-bit. The single
    * partition this forces holds #groups rows (languages/domains — small
    * by definition), never corpus rows.
    */
  def mixtureWeights(df: DataFrame, groupCol: String,
      targetDocs: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(groupCol))
      .rowsBetween(Long.MinValue, Long.MaxValue)
    df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
      .withColumn("w_raw", sqrt(col("n_docs").cast("double")))
      .withColumn("weight", col("w_raw") / sum(col("w_raw")).over(w))
      .withColumn("n_epochs",
        ceil(lit(targetDocs.toDouble) * col("weight") / col("n_docs"))
          .cast("bigint"))
      .select(groupCol, "n_docs", "weight", "n_epochs")
  }

  /** Deterministic train/eval split: each row's split label is a pure
    * function of its key — `xxhash64(key, salt) mod 1000 < evalPerMille`
    * sends that fraction of the hash space to 'eval'. Unlike
    * `randomSplit` (whose assignment depends on partition layout and
    * sampler state) this is reproducible across runs, machines and
    * repartitionings, and STABLE UNDER CORPUS GROWTH: adding documents
    * never reassigns existing ones — the property a 100 TB pipeline
    * needs so yesterday's eval docs can't leak into today's train set.
    * Row-local, zero shuffle.
    */
  def hashSplit(df: DataFrame, evalPerMille: Int,
      keyCol: String = "doc_id", salt: Long = 42L): DataFrame = {
    require(evalPerMille >= 0 && evalPerMille <= 1000)
    df.withColumn("split",
      when(pmod(xxhash64(col(keyCol), lit(salt)), lit(1000)) < evalPerMille,
        lit("eval")).otherwise(lit("train")))
  }

  /** Overlapping character-window chunking (training-sample / RAG-index
    * prep): one row per `(doc, window)` with chunk starts at
    * `0, stride, 2·stride, …` while the start lies inside the text —
    * trailing chunks run shorter than `size`, `stride < size` gives
    * overlap, `stride > size` gives gapped sampling. Chunk identity is
    * the deterministic `(doc_id, chunk_idx = start/stride)` pair, so
    * re-chunking a grown corpus never renumbers existing chunks.
    *
    * Entirely row-local (`sequence` → `explode` → `substr`): no shuffle,
    * no state, embarrassingly parallel at any scale; output size is
    * `Σ ceil(len/stride)` rows. Empty/null docs produce no chunks.
    */
  def chunkDocuments(df: DataFrame, size: Int, stride: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(size >= 1 && stride >= 1)
    df.filter(length(col(textCol)) > 0)
      .select(col(idCol),
        explode(sequence(lit(0), length(col(textCol)) - 1, lit(stride)))
          .as("chunk_start"),
        col(textCol))
      .select(col(idCol),
        (col("chunk_start") / stride).cast("bigint").as("chunk_idx"),
        col("chunk_start").cast("bigint").as("chunk_start"),
        substr(col(textCol), col("chunk_start") + 1, lit(size))
          .as("chunk_text"))
      .withColumn("chunk_len", length(col("chunk_text")).cast("bigint"))
  }

  /** Per-source frequency cap (the RefinedWeb/host-level downsampling
    * gate: no single site may dominate the corpus): keep at most `cap`
    * documents per `groupCol`, chosen as the bottom-`cap` of a
    * DETERMINISTIC per-doc digest — i.e. a uniform without-replacement
    * sample per source, reproducible across runs/engines/partitionings.
    * Under corpus growth a kept doc is evicted only when `cap` docs
    * with smaller digests exist in its source (the bottom-k sketch
    * property); no reshuffle of survivors ever happens.
    *
    * The digest is `md5(source:doc_id[:salt])` — chosen over xxhash64
    * because every engine computes md5 over utf-8 bytes identically, so
    * the KEPT SET (not just its size) is oracle-checkable. Scale shape:
    * the digest is row-local; the rank is one window shuffle keyed on
    * source, and the `keep_rank <= cap` filter becomes a
    * WindowGroupLimit — map tasks pre-trim to `cap` rows per source
    * BEFORE the exchange, so a mega-source (the classic skew case)
    * ships ≤ cap·tasks rows, never its full row set.
    */
  def sourceCap(df: DataFrame, cap: Int, groupCol: String = "source",
      idCol: String = "doc_id", salt: Option[String] = None): DataFrame = {
    require(cap >= 1)
    // null group or id ⇒ null digest, and engines DISAGREE on null sort
    // position (Spark nulls-first, DuckDB nulls-last) — a null-keyed row
    // would silently rank differently per engine, so exclude it loudly
    // from the capped population instead
    val keyed = df.filter(col(groupCol).isNotNull && col(idCol).isNotNull)
    val digest = md5(concat(col(groupCol), lit(":"),
      col(idCol).cast("string"),
      salt.map(s => lit(":" + s)).getOrElse(lit(""))).cast("binary"))
    keyed.withColumn("keep_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol))
          .orderBy(digest, col(idCol))).cast("bigint"))
      .filter(col("keep_rank") <= cap)
  }

  /** Deterministic per-stratum sampling: keep a row iff
    * `xxhash64(key, salt) mod 10000 < rate(stratum) * 10000`. The
    * executable form of a mixing schedule ([[mixtureWeights]] decides
    * the rates, this applies them): row-local and shuffle-free, exactly
    * reproducible across runs/machines/partitionings, and STABLE UNDER
    * CORPUS GROWTH — adding documents never flips existing keep
    * decisions (the same contract as [[hashSplit]], which `sample()`
    * and `sampleBy()` break: their assignment follows partition layout
    * and sampler state). Strata absent from `rates` are dropped.
    */
  def stratifiedHashSample(df: DataFrame, rates: Map[String, Double],
      stratumCol: String = "lang", keyCol: String = "doc_id",
      salt: Long = 42L): DataFrame = {
    require(rates.nonEmpty && rates.values.forall(r => r >= 0 && r <= 1),
      "rates must be in [0, 1]")
    val permyriad = rates.foldLeft(lit(0.0)) { case (acc, (k, r)) =>
      when(col(stratumCol) === k, lit(r)).otherwise(acc)
    } * 10000
    df.filter(pmod(xxhash64(col(keyCol), lit(salt)), lit(10000)) < permyriad)
  }

  /** Document fingerprint: rolling polynomial hash over the characters,
    * `acc = (acc*131 + ascii(c)) mod 1e9+7` — deterministic, engine-neutral
    * (the oracle replays the same fold), and row-local. Runs as the native
    * `rolling_fp` kernel — the interpreted
    * `aggregate(split(...))` fold allocated a per-char array per row.
    */
  def fingerprint(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.select(
      col(idCol),
      graft.functions.vec.rollingFp(col(textCol), FpMod).as("fingerprint"))

  /** Hashing-trick text embedding (Weinberger et al. 2009, "Feature
    * Hashing for Large Scale Multitask Learning"): a dense signed
    * char-n-gram count vector per document via the compiled
    * `hash_embed_vec` kernel — the in-engine embedding
    * that closes the text → vector → ANN loop with NO external model:
    * E[v·w] over the signed slots is the gram-profile dot product, so
    * gram-similar documents land near each other and the whole
    * Similarity/ANN stack (brute, LSH, IVF, IVF-PQ, SemDeDup) applies to
    * raw text corpora directly.
    *
    * Scale shape: ONE row-local projection, zero shuffles, dense
    * `dim`-long output (no per-gram explode — the gram stream collapses
    * into the vector inside the kernel). Exact integer semantics: the
    * oracle restates hash, slot and sign in plain BIGINT SQL.
    */
  def hashEmbed(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, dim: Int = 64): DataFrame =
    df.select(col(idCol),
      graft.functions.vec.hashEmbedVec(lower(col(textCol)), n, dim)
        .as("embedding"))

  /** Unit-normalized float32 form of [[hashEmbed]] — the adapter into the
    * Similarity/ANN operators (they expect `ARRAY<FLOAT>` and cosine
    * geometry). Documents whose vector is all-zero (shorter than `n`
    * chars, or full sign cancellation) are DROPPED — they have no
    * direction, and a 0/0 cosine would poison every downstream rank.
    * Counts are far below 2^53, so the long → double cast is exact.
    */
  def hashEmbedUnit(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, dim: Int = 64): DataFrame = {
    val dense = hashEmbed(df, textCol, idCol, n, dim)
      .select(col(idCol),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
    dense
      .withColumn("nrm",
        sqrt(graft.functions.vec.dot(col("embedding"), col("embedding"))))
      .filter(col("nrm") > 0)
      .select(col(idCol),
        transform(col("embedding"), x => (x / col("nrm")).cast("float"))
          .as("embedding"))
  }

  /** One side of the semantic-decon join: `(id, vector-as-double,
    * ‖·‖² as long)`, zero-norm docs dropped (no direction to compare).
    */
  private def deconSide(df: DataFrame, textCol: String, idCol: String,
      n: Int, dim: Int, id: String, v: String, nrm: String): DataFrame =
    hashEmbed(df, textCol, idCol, n, dim)
      .select(col(idCol).as(id),
        transform(col("embedding"), x => x.cast("double")).as(v))
      .withColumn(nrm,
        graft.functions.vec.dot(col(v), col(v)).cast("long"))
      .filter(col(nrm) > 0)

  /** The integer cosine-threshold predicate shared by the exact and
    * LSH-prescreened decon tiers: `cos ≥ p/q` on signed-count vectors
    * as `dot > 0 ∧ dot²·q² ≥ p²·n1·n2`. Every product is evaluated in
    * Decimal(38,0), NOT long: on highly repetitive documents (a run of
    * one repeated char puts its whole gram mass in one slot) the norms
    * reach G² for G grams, so `dot²·q²` reaches `G⁴·q²` and overflows
    * int64 past ~25k grams — under non-ANSI mode a long multiply wraps
    * SILENTLY and the pair set desyncs from the oracle's exact
    * arithmetic. Decimal(38,0) is exact up to 10³⁸: safe for per-doc
    * single-slot gram mass up to ~10⁹ (a gigabyte-scale run of one
    * char), far beyond any real document. Past THAT the products are
    * built with `try_multiply`, which yields null on Decimal overflow
    * REGARDLESS of `spark.sql.ansi.enabled` (pair conservatively not
    * flagged, never a wrapped sign) — a plain `*` would have made the
    * overflow behavior a session-config coin flip: ANSI (the Spark 4
    * default every graft session runs under) throws mid-query, non-ANSI
    * nulls. The oracle side mirrors with HUGEINT (int128, max
    * ~1.7·10³⁸).
    *
    * Exactness bound as a function of (dim, q²): the worst case is
    * dim-INDEPENDENT — all gram mass in one slot gives dot = G·G' and
    * norms G², G'², so `dot²·q²` reaches `G⁴·q²` and the predicate is
    * exact (never null) for single-slot mass `G < (10³⁸/q²)^¼`
    * (~1.4·10⁹ at the default q=5; larger dim only spreads mass and
    * can't worsen it). Past the bound the verdict is null ⇒ skipped by
    * `count(when(…))` ⇒ conservatively NOT flagged — pinned against
    * BigInteger over the full long range, overflow band included, in
    * HashEmbedSpec ("cosThresholdPred: exact vs BigInteger…").
    */
  private[graft] def cosThresholdPred(dt: Column, n1: Column, n2: Column,
      p2: Long, q2: Long): Column = {
    val dec = "decimal(38,0)"
    dt > 0 &&
      try_multiply(try_multiply(dt.cast(dec), dt.cast(dec)),
          lit(q2).cast(dec)) >=
        try_multiply(try_multiply(lit(p2).cast(dec), n1.cast(dec)),
          n2.cast(dec))
  }

  /** Semantic decontamination over [[hashEmbed]] vectors: flag every
    * corpus document whose hashed-embedding cosine against ANY benchmark
    * document reaches `minCos` — the embedding-space complement of the
    * n-gram `decon_*` family (catches paraphrased leakage that shares
    * gram PROFILE but not exact grams). All arithmetic is INTEGER: the
    * threshold `cos(c,e) ≥ p/q` is evaluated as
    * `dot > 0 ∧ dot²·q² ≥ p²·‖c‖²·‖e‖²` on the signed gram counts
    * (products in Decimal(38,0) — see [[cosThresholdPred]] for the
    * overflow contract), so the flagged PAIR SET is exactly restatable
    * in SQL — no float comparison crosses the engine boundary. Returns
    * `(idCol, n_matches)` per flagged corpus doc.
    *
    * Scale shape: benchmark sides are small by nature → broadcast; the
    * corpus side is one row-local embed projection + one broadcast
    * nested-loop with a codegen'd dot per pair — O(corpus × benchmark)
    * dots, never a corpus shuffle. For a HUGE benchmark this is the
    * exact-verification tier; [[semanticDecontaminateIvf]] is the
    * candidate-generation tier that makes the pair stream sublinear in
    * the benchmark size.
    */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      cosP: Int = 4, cosQ: Int = 5, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, dim: Int = 64): DataFrame = {
    require(cosP > 0 && cosQ >= cosP,
      s"semanticDecontaminate: need 0 < p/q <= 1, got $cosP/$cosQ")
    val c = deconSide(corpus, textCol, idCol, n, dim, idCol, "cv", "n1")
    val e = deconSide(benchmark, textCol, idCol, n, dim, "eval_id", "ev", "n2")
    val p2 = cosP.toLong * cosP; val q2 = cosQ.toLong * cosQ
    // the threshold references the dot THREE times; as a post-join
    // filter Catalyst fuses it into the join condition, where the
    // kernel call is textually triplicated. Projecting the dot first
    // and counting CONDITIONALLY guarantees one kernel evaluation per
    // pair regardless of predicate-codegen CSE behavior (measured
    // ~6% at 500k × 102 — the pair stream itself dominates, so this
    // is robustness against a 3× cliff, not a headline win).
    c.crossJoin(broadcast(e))
      .filter(col(idCol) =!= col("eval_id"))
      .select(col(idCol), col("n1"), col("n2"),
        graft.functions.vec.dot(col("cv"), col("ev")).cast("long").as("dt"))
      .groupBy(col(idCol))
      .agg(count(when(
        cosThresholdPred(col("dt"), col("n1"), col("n2"), p2, q2),
        1)).as("n_matches"))
      .filter(col("n_matches") > 0)
  }

  /** FLAG-ONLY semantic decontamination — the tier a corpus build
    * actually runs at 100 TB. [[semanticDecontaminate]] counts every
    * matching benchmark doc per corpus doc, so it MUST evaluate all
    * O(corpus × benchmark) dots; but the pipeline decision is binary
    * (drop the doc or keep it), and EXISTENCE short-circuits: this
    * variant is a broadcast LEFT-SEMI nested-loop join whose condition
    * is the fused exact predicate ([[graft.functions.VectorRuntime
    * .cosGe]] — one kernel call per checked pair, double fast path
    * with BigInteger border arbitration, so the verdict is still
    * integer-exact), and Spark's semi-join STOPS at the first matching
    * benchmark doc per corpus row. On a corpus whose contamination
    * rate is high — exactly where decon work concentrates — the
    * expected dots per flagged doc collapse from |benchmark| to
    * ~1/P(match) (measured ~100× at the 100× tier's saturated
    * fixture); on a clean corpus it degrades to the exact tier's full
    * scan, never worse. Returns the flagged `(idCol)` set = DISTINCT
    * doc ids of the exact tier (the oracle replays exactly that).
    * Zero shuffles: a semi join emits each corpus row at most once, so
    * there is no dedup and no aggregation — the output is a row-local
    * filter of the corpus stream.
    */
  def semanticDecontaminateFlag(corpus: DataFrame, benchmark: DataFrame,
      cosP: Int = 4, cosQ: Int = 5, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, dim: Int = 64): DataFrame = {
    require(cosP > 0 && cosQ >= cosP,
      s"semanticDecontaminateFlag: need 0 < p/q <= 1, got $cosP/$cosQ")
    val p2 = cosP.toLong * cosP; val q2 = cosQ.toLong * cosQ
    // no norm prefilters needed: a zero vector on either side makes
    // cosGe false by itself (no direction to match)
    def side(df: DataFrame, id: String, v: String) =
      hashEmbed(df, textCol, idCol, n, dim)
        .select(col(idCol).as(id),
          transform(col("embedding"), x => x.cast("double")).as(v))
    val c = side(corpus, idCol, "cv")
    val e = side(benchmark, "eval_id", "ev")
    c.join(broadcast(e),
        col(idCol) =!= col("eval_id") &&
          graft.functions.vec.cosGe(col("cv"), col("ev"), p2, q2),
        "left_semi")
      .select(col(idCol))
  }

  /** INCREMENTAL semantic decontamination — the benchmark-append shape.
    * An eval suite only ever GROWS (new benchmarks are published; old
    * ones stay contaminating), and the flag verdict is existential over
    * the benchmark side, so flags are MONOTONE under benchmark append:
    * a doc flagged against the old suite stays flagged against the
    * union. The incremental job is therefore the
    * [[semanticDecontaminateFlag]] tier over ONLY the previously
    * UNFLAGGED corpus remainder × the NEW benchmark docs, unioned with
    * the carried-forward flag set — the `dedup_incremental` /
    * `mm_dhash_incremental` convention applied to the decon family.
    * Returns the UPDATED flagged `(idCol)` set, equal by construction
    * to a full re-run of the flag tier against `oldBenchmark ∪
    * newBenchmark` (and hence to the exact tier's distinct ids over
    * the union — the oracle replays exactly that).
    *
    * Scale shape at 100 TB: `prevFlagged` is a persisted id list (far
    * smaller than the corpus' text+embed width), so the only new work
    * is one anti join keyed on the id plus ≤ |newBenchmark| dots per
    * surviving doc — the corpus text is never re-compared against the
    * old suite, and a no-op append (empty `newBenchmark`) degenerates
    * to returning `prevFlagged` after an embed-free semi probe. The
    * two branches are disjoint by construction (`newly ⊆ corpus ∖
    * prevFlagged`), so the union needs no distinct and no shuffle.
    */
  def semanticDecontaminateIncr(corpus: DataFrame, prevFlagged: DataFrame,
      newBenchmark: DataFrame, cosP: Int = 4, cosQ: Int = 5,
      textCol: String = "text", idCol: String = "doc_id", n: Int = 3,
      dim: Int = 64): DataFrame =
    flagAppend(corpus, prevFlagged, idCol)(semanticDecontaminateFlag(_,
      newBenchmark, cosP, cosQ, textCol, idCol, n, dim))

  /** The monotone benchmark-append update every incremental decon tier
    * runs (this one and the three media `*DecontaminateIncr`):
    * `prevFlagged ∪ flag(corpus ∖ prevFlagged)`, where `flag` is the
    * tier's flag operator against the NEW benchmark only. The branches
    * are disjoint by construction, so the union needs no distinct.
    */
  private[operators] def flagAppend(corpus: DataFrame, prevFlagged: DataFrame,
      idCol: String)(flag: DataFrame => DataFrame): DataFrame = {
    val prevIds = prevFlagged.select(col(idCol))
    prevIds.unionByName(flag(corpus.join(prevIds, Seq(idCol), "left_anti")))
  }

  /** The shared ball-cover prescreen behind both IVF decon tiers:
    * returns (corpus rows with their assigned list, benchmark rows
    * replicated into every list whose angular ball could hold a
    * match). Recall-1 by the triangle inequality (see
    * [[semanticDecontaminateIvf]]'s theorem); the tiers differ only in
    * how they CONSUME the candidate join — count every verified match
    * vs stop at the first.
    */
  private def ivfBallCover(corpus: DataFrame, benchmark: DataFrame,
      cosP: Int, cosQ: Int, textCol: String, idCol: String, n: Int,
      dim: Int, nlist: Int, trainSample: Int,
      corpusKey: Option[String]): (DataFrame, DataFrame) = {
    require(cosP > 0 && cosQ >= cosP,
      s"semantic decon (IVF prescreen): need 0 < p/q <= 1, got $cosP/$cosQ")
    val spark = corpus.sparkSession
    import spark.implicits._
    val p2 = cosP.toLong * cosP; val q2 = cosQ.toLong * cosQ
    val thetaTau = math.acos(cosP.toDouble / cosQ)
    def unitOf(v: Column, nrm: Column): Column =
      transform(v, x => x / sqrt(nrm))
    val c0 = deconSide(corpus, textCol, idCol, n, dim, idCol, "cv", "n1")
    // PERSIST the embed subtree (the sim_topk_text_embed convention):
    // it feeds the radius aggregation AND the returned plan, and under
    // projection collapsing an unpersisted embed expression can be
    // re-inlined into join-side projections and re-evaluated per PAIR
    // (jstack'd at the 100× tier: interpreted hashEmbedVec per
    // candidate row). Persisting also pins the radius pass and the
    // final plan to the SAME materialized assignments.
    val cUnit = graft.CacheScope.persist(
      c0.withColumn("u", unitOf(col("cv"), col("n1"))))
    // DECON auto-sizing (round-18, measured at the 1000× clustered
    // tier): `nlist = 0` sizes the quantizer by the BENCHMARK —
    // √|benchmark| clamped to [16, 4096] — NOT the ANN corpus-√n rule.
    // The scan the prescreen replaces is the |benchmark|-long per-doc
    // dot pass, so the assignment only pays off while nlist ≪
    // |benchmark|; corpus-√n grows the per-doc assignment as √n and
    // measured SUPER-linear at 5M docs × 10k bench (ivf 908 s,
    // ivf_flag 538 s vs the flag tier's linear 284 s — nlist had
    // climbed to 2236, the assignment alone outweighed the 10k-dot
    // scan it was saving). Candidates per contaminated doc are bounded
    // by the benchmark docs in its ball either way (recall-1 theorem
    // holds for ANY nlist), so a benchmark-sized quantizer keeps the
    // prescreen's pruning and drops the n^1.5 term. The benchmark
    // count is a cheap job by contract (an eval suite is small).
    val nlistResolved =
      if (nlist > 0) nlist
      else math.min(4096, math.max(16,
        math.ceil(math.sqrt(benchmark.count().toDouble)).toInt))
    // seeded coarse quantizer over the unit vectors, centroids
    // re-normalized so the kernel's euclidean argmin is the cosine
    // argmax (a degenerate zero-norm centroid stays zero and simply
    // attracts nothing preferentially)
    val centroids0 = Similarity.trainCentroidsCached(
        corpusKey, cUnit, "u", nlistResolved, trainSample)
      .map { c =>
        val nn = math.sqrt(c.map(x => x * x).sum)
        if (nn > 0) c.map(_ / nn) else c
      }
    // EMPTY corpus (everything upstream dropped): no training points →
    // no centroids. Substitute one zero centroid so the kernel and the
    // radius pass still build — nothing is assigned to it (the corpus
    // is empty), the replication ball degenerates harmlessly, and the
    // tiers return their empty/zero-frame results instead of crashing.
    val centroids =
      if (centroids0.nonEmpty) centroids0
      else Array(Array.fill(dim)(0.0))
    // bounded eager pass: per-list MIN cosine to the assigned unit
    // centroid (nlist rows collected — the trainCentroids class of
    // driver-side data). Computed via a broadcast join against the
    // centroid table, NOT a per-centroid when-chain: under √n
    // auto-sizing nlist reaches the hundreds and a nested conditional
    // per centroid overflows the column-conversion stack
    val centDf = centroids.toSeq.zipWithIndex
      .map { case (c, l) => (l, c.toSeq) }.toDF("list", "centroid")
    // the assignment is RECOMPUTED by the radius pass and the returned
    // plan rather than persisted — measured A/B at the 500k tier
    // (PERF.md round-18): caching the assignment (three 64-wide array
    // columns per row) costs MORE in cache serialization than the
    // kernel costs to re-run, 90.9 s → 285.8 s on the count tier at
    // equal nlist; under benchmark-sized nlist the kernel is
    // nlist·dim ≈ 6.4k flops/row — trivial at any corpus size, which
    // is exactly why the sizing change makes the recompute the right
    // trade (at corpus-√n nlist the double kernel WAS half the 5M
    // blowup)
    val cAssigned = cUnit.withColumn("list", element_at(
      graft.functions.vec.nearestCentroids(col("u"), centroids, 1), 1))
    val minCos = cAssigned
      .join(broadcast(centDf), Seq("list"))
      .select(col("list"),
        graft.functions.vec.dot(col("u"), col("centroid")).as("cs"))
      .groupBy(col("list")).agg(min(col("cs")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // per-list replication bound cos(θ_τ + r_l + ε): any corpus doc
    // within θ_τ of a benchmark doc e is assigned to SOME list whose
    // centroid is within θ_τ + r_l of e (triangle inequality), so
    // replicating e into every such list catches every true pair.
    // Lists with no assigned docs are dropped — nothing to catch there.
    val lists = minCos.toSeq.map { case (l, m) =>
      val cosR = math.max(-1.0, math.min(1.0, m))
      val bound = thetaTau + math.acos(cosR) + 1e-6
      (l, centroids(l).toSeq,
        if (bound >= math.Pi) -1.0 else math.cos(bound))
    }
    val listsDf = lists.toDF("list", "centroid", "cos_bound")
    // the bench embed must materialize BEFORE the ball-cover crossJoin:
    // the replication filter rides a nested-loop join, where an inlined
    // embed expression would re-evaluate interpreted per (doc, list)
    // pair — measured minutes at 10k docs × √n lists (same collapse
    // hazard as the corpus side)
    val e1 = graft.CacheScope.persist(
      deconSide(benchmark, textCol, idCol, n, dim, "eval_id", "ev", "n2")
        .withColumn("eu", unitOf(col("ev"), col("n2"))))
    val benchRep = e1
      .crossJoin(listsDf)
      .filter(graft.functions.vec.dot(col("eu"), col("centroid"))
        >= col("cos_bound"))
      .select(col("list"), col("eval_id"), col("ev"), col("n2"))
    (cAssigned, benchRep)
  }

  /** IVF-prescreened semantic decontamination — the candidate-generation
    * tier [[semanticDecontaminate]]'s doc promises for HUGE benchmarks.
    * Same contract (flag corpus docs with hashed-embedding cosine ≥ p/q
    * against any benchmark doc; returns `(idCol, n_matches)`) and a
    * THEOREM, not a probability, for recall: the flagged set EQUALS the
    * exact tier's on every input.
    *
    * Mechanism (metric ball cover over the IVF coarse quantizer):
    * every corpus doc is assigned row-locally to its nearest of `nlist`
    * seeded k-means centroids (unit-normalized, so euclidean-nearest =
    * max-cosine; the compiled [[graft.functions.NearestCentroidsKernel]]
    * node). One bounded aggregation records each list's angular RADIUS
    * `r_l` (max angle from an assigned doc to its centroid). A
    * benchmark doc `e` is then replicated into exactly the lists whose
    * centroid lies within `θ_τ + r_l` of it (θ_τ = arccos(p/q), plus a
    * 10⁻⁶ rad float-safety slack — the verdict's "threshold − slack"):
    * by the triangle inequality, ANY corpus doc within θ_τ of `e` sits
    * in a list `e` was replicated into, so no true pair can escape the
    * candidate join. The exact integer verify ([[cosThresholdPred]])
    * then makes precision 1 — equality to the exact tier holds by
    * construction at every scale, which is why the `decon_semantic_ivf`
    * oracle IS the exact tier's replay.
    *
    * Scale shape at 100 TB: the corpus pays one row-local embed +
    * assignment (nlist·dim mults — `nlist = 0` sizes by the BENCHMARK,
    * √|benchmark| clamped [16, 4096], so the assignment stays ≪ the
    * |benchmark|-dot scan it replaces no matter how big the corpus
    * grows; the ANN corpus-√n rule measured SUPER-linear at the 1000×
    * clustered tier, see `ivfBallCover`) and ONE broadcast
    * hash probe per row; each corpus doc lives in exactly one list, so
    * candidate pairs appear AT MOST ONCE — no pair-dedup shuffle. The
    * verified pair stream is OUTPUT-SENSITIVE: pairs within
    * `θ_τ + r_l` of a replicated benchmark doc. On a diverse corpus
    * (tight clusters, near-orthogonal background) that is a small
    * fraction; on a corpus whose background cosine already crowds the
    * threshold no recall-1 method can verify fewer pairs than actually
    * match — the prescreen degrades gracefully to the exact tier's
    * cost plus the (cheap) assignment, never worse by more than that.
    * One shuffle total (the per-doc match count); the corpus vectors
    * never shuffle.
    *
    * `candidatesOnly = true` returns the raw verified-pair stream
    * `(idCol, n1, n2, dt)` BEFORE the threshold/aggregation — the
    * ScaleProbe diagnostic behind the pair-stream-ratio claim (verified
    * pairs ÷ the exact tier's corpus × benchmark), never a query
    * surface.
    */
  def semanticDecontaminateIvf(corpus: DataFrame, benchmark: DataFrame,
      cosP: Int = 4, cosQ: Int = 5, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, dim: Int = 64,
      nlist: Int = 0, trainSample: Int = 20000,
      corpusKey: Option[String] = None,
      candidatesOnly: Boolean = false): DataFrame = {
    val (cAssigned, benchRep) = ivfBallCover(corpus, benchmark, cosP,
      cosQ, textCol, idCol, n, dim, nlist, trainSample, corpusKey)
    val p2 = cosP.toLong * cosP; val q2 = cosQ.toLong * cosQ
    // each corpus doc has exactly ONE list → a pair appears at most
    // once in the join; no dedup shuffle, verify inline, count per doc
    val candidates = cAssigned.join(broadcast(benchRep), Seq("list"))
      .filter(col(idCol) =!= col("eval_id"))
      .select(col(idCol), col("n1"), col("n2"),
        graft.functions.vec.dot(col("cv"), col("ev")).cast("long").as("dt"))
    if (candidatesOnly) candidates
    else candidates
      .groupBy(col(idCol))
      .agg(count(when(
        cosThresholdPred(col("dt"), col("n1"), col("n2"), p2, q2),
        1)).as("n_matches"))
      .filter(col("n_matches") > 0)
  }

  /** Prescreen × early exit — the tier a CLUSTERED corpus build runs
    * at 100 TB when the decision is binary. The two decon wins are
    * orthogonal and this composes them: the ball-cover prescreen
    * ([[semanticDecontaminateIvf]]'s recall-1 theorem) deletes the
    * candidate stream of every CLEAN-topic doc — exactly the docs
    * where [[semanticDecontaminateFlag]]'s semi join must scan the
    * whole benchmark to prove a negative — while the LEFT-SEMI
    * consumption stops each contaminated doc at its first verified
    * match instead of counting them all. Mechanically: the candidate
    * equi-join on `list` becomes a broadcast hash LEFT-SEMI whose
    * extra condition is the fused integer-exact
    * [[graft.functions.VectorRuntime.cosGe]] kernel, so Spark probes
    * one hash bucket per corpus row and exits at the first passing
    * pair. Flagged set = the flag tier's = DISTINCT ids of the exact
    * tier, by recall-1 + the shared exact predicate (the oracle
    * replays that). Zero shuffles: assignment is row-local, the
    * replicated benchmark broadcasts, a semi join emits each corpus
    * row at most once.
    *
    * Measured (round-18 clustered probes, 50 disjoint topics, 20%
    * contaminated, 10k benchmark — PERF.md "clustered corpus"): at
    * 500k docs the flag tier's 28.1 s and THIS tier's ~30-50 s are
    * within host noise of each other (the quantizer's fixed cost ≈
    * what the prescreen saves); at 5M docs THIS tier reads **44.4 s
    * vs the flag tier's 284.1 s (6.4×)** and the exact tier's
    * extrapolated ~2330 s (~52×), flagged sets identical at every
    * probe (agreement 1.0000). The 5M result REQUIRED the
    * benchmark-sized nlist (see `ivfBallCover`): under the ANN
    * corpus-√n rule this tier measured 537.6 s at 5M — slower than
    * plain flag — because the per-doc assignment outgrew the scan it
    * was saving. Default guidance: corpus builds at scale run THIS
    * tier on clustered corpora and [[semanticDecontaminateFlag]] when
    * the corpus may be saturated. "Degrades gracefully" is
    * linear-BOUNDED, not free (round-19, measured on the saturated
    * 100× fixture at 500k × 10k): this tier reads 31.0 s vs flag's
    * 7.7 s — identical flagged sets, but the quantizer training,
    * radius pass, and double assignment are pure overhead when the
    * semi join exits at its first dot anyway. ~46 µs/doc of bounded
    * linear overhead buys the 6.4× clustered win; pick per corpus
    * (the corpus-build capstones expose the choice as a parameter
    * defaulting to this tier).
    */
  def semanticDecontaminateIvfFlag(corpus: DataFrame,
      benchmark: DataFrame, cosP: Int = 4, cosQ: Int = 5,
      textCol: String = "text", idCol: String = "doc_id", n: Int = 3,
      dim: Int = 64, nlist: Int = 0, trainSample: Int = 20000,
      corpusKey: Option[String] = None): DataFrame = {
    val (cAssigned, benchRep) = ivfBallCover(corpus, benchmark, cosP,
      cosQ, textCol, idCol, n, dim, nlist, trainSample, corpusKey)
    val p2 = cosP.toLong * cosP; val q2 = cosQ.toLong * cosQ
    cAssigned.join(broadcast(benchRep),
        cAssigned("list") === benchRep("list") &&
          col(idCol) =!= col("eval_id") &&
          graft.functions.vec.cosGe(col("cv"), col("ev"), p2, q2),
        "left_semi")
      .select(col(idCol))
  }

  /** Per-BENCHMARK semantic-decon ATTRIBUTION report (round-19 — the
    * text member of the decon report family, next to the gram-based
    * [[graft.operators.Dedup.contaminationReport]] and the multimodal
    * `*DecontaminateReport` members): for each benchmark doc, how many
    * corpus docs sit at hashed-embedding cosine ≥ p/q — which eval
    * items leak and how often, the report an eval owner reads before
    * trusting a score. Benchmark docs with ZERO matches still report
    * (`n_matched = 0`).
    *
    * Built on [[semanticDecontaminateIvf]]'s ball-cover prescreen
    * (recall 1 by the triangle inequality — every true pair reaches
    * the candidate join, so the per-benchmark counts are EXACT and the
    * oracle is the exact tier's pair replay grouped by `eval_id`):
    * row-local corpus assignment, benchmark replicated + broadcast,
    * one dot per candidate pair, the exact integer verify
    * ([[cosThresholdPred]]) counted per benchmark doc. A pair appears
    * at most once (each corpus doc lives in exactly one list), so the
    * count needs no distinct. Exchanges: the eval-keyed agg over the
    * candidate stream + the benchmark-id distinct — the corpus
    * vectors never shuffle; the zero-match left join broadcasts (both
    * sides benchmark-sized).
    */
  def semanticDecontaminateReport(corpus: DataFrame,
      benchmark: DataFrame, cosP: Int = 4, cosQ: Int = 5,
      textCol: String = "text", idCol: String = "doc_id", n: Int = 3,
      dim: Int = 64, nlist: Int = 0, trainSample: Int = 20000,
      corpusKey: Option[String] = None): DataFrame = {
    val (cAssigned, benchRep) = ivfBallCover(corpus, benchmark, cosP,
      cosQ, textCol, idCol, n, dim, nlist, trainSample, corpusKey)
    val p2 = cosP.toLong * cosP; val q2 = cosQ.toLong * cosQ
    val counted = cAssigned.join(broadcast(benchRep), Seq("list"))
      .filter(col(idCol) =!= col("eval_id"))
      .select(col("eval_id"), col("n1"), col("n2"),
        graft.functions.vec.dot(col("cv"), col("ev")).cast("long").as("dt"))
      .groupBy(col("eval_id"))
      .agg(count(when(
        cosThresholdPred(col("dt"), col("n1"), col("n2"), p2, q2),
        1)).as("n_matched"))
    benchmark.select(col(idCol).as("eval_id")).distinct()
      .join(broadcast(counted), Seq("eval_id"), "left")
      .select(col("eval_id"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * how target-like its n-gram profile is, where the target is any
    * predicate over the corpus (the classic use: target = high-quality
    * subset, score the web crawl, resample by weight).
    *
    * This variant scores with document-frequency COUNT RATIOS rather than
    * the paper's log-probability sums:
    *
    *   weight(d) = (1 + Σ_{g∈grams(d)} df_target(g))
    *             / (1 + Σ_{g∈grams(d)} df_all(g))
    *
    * Integer df sums are exact and order-independent — a float log-sum
    * would drift with partition/summation order and break bit-for-bit
    * reproducibility (the property the DuckDB oracle hash-checks); the
    * one final division is IEEE-exact. Monotonicity matches the paper's
    * intent: grams frequent in the target and rare elsewhere push the
    * weight toward 1, target-absent grams toward 0. Add-one smoothing
    * bounds the ratio away from 0/0 on rare-gram docs. Docs with FEWER
    * than `n` tokens yield no grams and are EXCLUDED from the output —
    * they carry no n-gram evidence to score (and must not outrank real
    * docs with a vacuous smoothed weight).
    *
    * Shuffle shape at 100 TB: one groupBy(gram) builds the df table (one
    * row per DISTINCT gram — map-side partial aggregation absorbs hot
    * grams), one gram-keyed join back (linear in doc-gram pairs, never a
    * self-join), one per-doc sum. No quadratic term anywhere; pair with
    * [[hashSplit]] for seeded weighted selection downstream.
    */
  def importanceWeights(df: DataFrame, isTarget: Column, n: Int = 2,
      textCol: String = "text", idCol: String = "doc_id",
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)): DataFrame = {
    // grams as 64-bit HASHES through the native kernel, not strings: df
    // counts are identical modulo negligible collisions (the same
    // equivalence Dedup.ngramJaccardPairs relies on), the shuffle keys
    // shrink ~10×, and the tokenize+combine loop stays compiled instead
    // of an interpreted transform/concat_ws per row. Persisted because
    // both the df table and the join re-read it (operator persist
    // contract: Verify/Bench clear caches per query).
    val grams0 = df.select(col(idCol), isTarget.as("is_target"),
      explode(Dedup.gramHashes(col(textCol), n)).as("gram"))
    val grams = storage.fold(grams0)(graft.CacheScope.persist(grams0, _))
    val dfTable = grams.groupBy("gram").agg(
      count(lit(1)).as("df_all"),
      count(when(col("is_target"), 1)).as("df_target"))
    grams.join(dfTable, "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum("df_target").as("sum_target"),
        sum("df_all").as("sum_all"))
      .withColumn("weight",
        (col("sum_target") + 1).cast("double") / (col("sum_all") + 1).cast("double"))
  }

  /** Character-n-gram language-model scoring (the KenLM-shaped quality
    * filter of CCNet/Wenzek et al. 2020, self-trained on the corpus):
    * pass 1 counts every char n-gram and its (n−1)-char context across
    * the corpus; pass 2 scores each document's per-position
    * cross-entropy under the add-k model
    * `P(c | ctx) = (C(ctx·c) + k) / (C(ctx) + k·V)` with V = the corpus
    * alphabet size. Natural text re-uses frequent grams → low entropy;
    * gibberish/boilerplate-shuffled text scores high.
    *
    * Scale shape: gram hashing is the compiled row-local
    * `char_ngram_hashes` kernel (64-bit keys, never gram
    * strings), position alignment comes from slicing the (n−1)-gram
    * array to the n-gram array's length (context of position i IS
    * position i), and both passes are plain map-side-combined groupBys
    * over the exploded positions — persisted once, since the count
    * tables join straight back to the same exploded rows. Nothing is
    * quadratic; the model table is O(distinct grams).
    *
    * Returns per doc: `n_grams`, `sum_tri`/`sum_ctx` (exact integer
    * count sums — the oracle-checkable plumbing) and `xent` (the double
    * score; engines differ in float rounding, so like the percentile
    * gate only the integers cross to the oracle).
    *
    * Persist contract (the minHashLshPairs convention): the exploded
    * positions stay cached after the call — the lazy result reads them
    * up to three times — and the CALLER releases them once the result
    * is consumed (Verify/Bench clear all caches per query); pass
    * `storage = None` to recompute per consumer instead.
    */
  def charLmScore(df: DataFrame, n: Int = 3, k: Int = 1,
      textCol: String = "text", idCol: String = "doc_id",
      storage: Option[org.apache.spark.storage.StorageLevel] =
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)): DataFrame = {
    require(n >= 2, "charLmScore: n must be >= 2 (a context must exist)")
    // two-step select (the gramCandidates rationale): the gram arrays
    // materialize as named columns below the Generate — inlined, the
    // n-gram kernel ran twice per row (`grams` + `size(grams)` are
    // separate occurrences in the generator input)
    val pos0 = df.select(col(idCol),
        graft.functions.vec.charNgramHashes(col(textCol), n).as("__g"),
        graft.functions.vec.charNgramHashes(col(textCol), n - 1).as("__c"))
      .select(col(idCol),
        explode(arrays_zip(
          slice(col("__c"), lit(1), size(col("__g"))).as("ctx"),
          col("__g").as("gram"))).as("p"))
      .select(col(idCol), col("p.ctx").as("ctx"), col("p.gram").as("gram"))
    val pos = storage.fold(pos0)(graft.CacheScope.persist(pos0, _))
    val gramC = pos.groupBy("gram").agg(count(lit(1)).as("c_gram"))
    val ctxC = pos.groupBy("ctx").agg(count(lit(1)).as("c_ctx"))
    // alphabet size: one tiny distinct-count job, broadcast as a 1-row
    // dimension (the hybridPhases pattern)
    val vocab = df.select(
        explode(graft.functions.vec.charNgramHashes(col(textCol), 1)).as("ch"))
      .agg(countDistinct(col("ch")).as("v"))
    pos.join(gramC, "gram").join(ctxC, "ctx")
      .join(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum("c_gram").as("sum_tri"),
        sum("c_ctx").as("sum_ctx"),
        avg(log(col("c_ctx") + lit(k) * col("v")) -
          log(col("c_gram") + lit(k))).as("xent"))
  }

  /** BPE tokenizer-training prep: symbol-pair frequencies for the first
    * merge round (Sennrich et al. 2016) — each word occurrence
    * contributes its adjacent character pairs with multiplicity.
    *
    * Scale shape: the corpus collapses to DISTINCT words + occurrence
    * counts FIRST (one map-side-combined groupBy — the only shuffle that
    * sees corpus volume); the char-pair explode then runs over the
    * VOCABULARY, which is ~constant in corpus size (Heaps' law), so the
    * interpreted per-word pair lambda is off the hot path by
    * construction. Top-k via TakeOrdered, pair as tie-break.
    */
  def bpePairCounts(df: DataFrame, k: Int = 200,
      textCol: String = "text"): DataFrame = {
    val words = df
      .select(explode(wsTokens(lower(col(textCol)))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_word"))
    words
      .filter(length(col("word")) >= 2)
      .select(col("n_word"), explode(
        expr("transform(sequence(1, length(word)-1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("n_word")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(k)
  }

  /** Corpus-level LINE deduplication (the RefinedWeb/CCNet boilerplate
    * pass): a non-blank line appearing in ≥ `minDocs` DISTINCT documents
    * is boilerplate (nav bars, cookie banners, license headers) and is
    * removed from EVERY document; blank lines and document structure are
    * preserved, and each doc is rebuilt in original line order with a
    * removed-line count.
    *
    * Scale shape: explode to (doc, pos, line) → one line-keyed
    * aggregation over DISTINCT doc ids (partial aggs apply) → the hot
    * set is the tiny side of a left-anti join (boilerplate lines are few
    * by definition — AQE broadcasts it) → one doc-keyed rebuild
    * aggregation. Three keyed shuffles, nothing global, no collect;
    * per-doc line order restores via `array_sort` on `(pos, line)`
    * structs inside the aggregation, never a sort of the corpus.
    */
  def lineDedup(df: DataFrame, minDocs: Int = 2,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), "\n", -1))
        .as(Seq("pos", "line")))
    val hot = lines
      .filter(trim(col("line")) =!= "")
      .groupBy(col("line"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("line"))
    // no forced broadcast: on a web-scale corpus the >= minDocs line set
    // (nav bars, license headers) can run to hundreds of millions — let
    // AQE pick broadcast when the measured hot set actually fits, and
    // fall back to the line-keyed shuffle join when it doesn't (the
    // heavyHitters lesson: a hint removes Spark's ability to say no)
    val rebuilt = lines.join(hot, Seq("line"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), "\n").as("clean_text"),
        count(lit(1)).as("n_lines_kept"))
    // LEFT from the corpus: a doc whose every line was boilerplate
    // survives as an empty document, it doesn't vanish
    df.select(col(idCol),
        size(split(col(textCol), "\n", -1)).cast("long").as("__n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("__n_lines") - coalesce(col("n_lines_kept"), lit(0L)))
          .as("n_lines_removed"))
  }

  /** The standard web-corpus cleaning chain, row-local and fully
    * codegen'd: strip markup tags (`<...>` → space), Unicode-NFC
    * normalize (compiled `nfc_normalize` kernel with an
    * already-normalized fast path), collapse whitespace runs to single
    * spaces, trim. Each step is deterministic and reproducible in any
    * engine (DuckDB: `regexp_replace(..., 'g')` + `nfc_normalize`), so
    * cleaned TEXT hash-matches, not just counts.
    */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      graft.functions.vec.nfc(regexp_replace(text, "<[^>]*>", " ")),
      "\\s+", " "))

  /** Classic BPE merge learning (Sennrich et al. 2016) over the corpus
    * vocabulary: collect the top-`maxVocab` `(word, count)` table (the
    * standard trainer shape — real tokenizer trainers operate on the
    * collapsed word-frequency dict, which is bounded by vocabulary, not
    * corpus size), then repeatedly merge the most frequent adjacent unit
    * pair. Fully deterministic: vocab truncation orders by
    * `(count desc, word)`, pair ties break lexicographically. Returns
    * merges in learned (= inference rank) order for [[bpeApplyStats]].
    */
  def bpeTrainMerges(df: DataFrame, numMerges: Int, maxVocab: Int = 10000,
      textCol: String = "text"): Seq[(String, String)] = {
    require(numMerges >= 0 && maxVocab >= 1)
    val words: Array[(String, Long)] = df
      .select(explode(wsTokens(lower(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var vocab: Array[(Array[String], Long)] = words.map { case (w, n) =>
      val units = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        val len = Character.charCount(cp)
        units += w.substring(i, i + len)
        i += len
      }
      (units.toArray, n)
    }
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var done = false
    while (!done && merges.size < numMerges) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      vocab.foreach { case (u, n) =>
        var i = 0
        while (i < u.length - 1) {
          val k = (u(i), u(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + n
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val (a, b) = counts.minBy { case ((x, y), c) => (-c, x, y) }._1
        merges += ((a, b))
        vocab = vocab.map { case (u, n) =>
          val out = scala.collection.mutable.ArrayBuffer[String]()
          var i = 0
          while (i < u.length) {
            if (i < u.length - 1 && u(i) == a && u(i + 1) == b) {
              out += a + b; i += 2
            } else { out += u(i); i += 1 }
          }
          (out.toArray, n)
        }
      }
    }
    merges.toSeq
  }

  /** Apply a learned merge list to every word of every document through
    * the compiled `bpe_encode` kernel and emit the
    * per-document verification stats: word count, BPE token count, the
    * lossless round trip (every word re-concatenates from its tokens —
    * BPE's defining invariant) and the count bounds
    * `n_words ≤ n_tokens ≤ total word chars`. One explode + one
    * map-side-combined groupBy; the merge table rides the plan as a
    * reference object, never a join.
    */
  def bpeApplyStats(df: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol),
        explode_outer(wsTokens(lower(col(textCol)))).as("w"))
      .withColumn("toks",
        graft.functions.vec.bpeEncode(col("w"), merges))
      .groupBy(col(idCol))
      .agg(count(col("w")).as("n_words"),
        coalesce(sum(size(col("toks"))), lit(0L)).as("n_tokens"),
        coalesce(bool_and(array_join(col("toks"), "") === col("w")), lit(true))
          .as("roundtrip_ok"),
        coalesce(sum(length(col("w"))), lit(0L)).as("n_word_chars"))
      .select(col(idCol), col("n_words"), col("n_tokens"),
        col("roundtrip_ok"),
        (col("n_tokens") >= col("n_words") &&
          col("n_tokens") <= col("n_word_chars")).as("bounds_ok"))
}
