package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Similarity, TextOps}

/** Hashing-trick text embedding (`hash_embed_vec` /
  * [[TextOps.hashEmbed]]): kernel arithmetic pinned against an
  * independent reference fold, codepoint (BMP) semantics, the unit-float
  * adapter's geometry, and the end-to-end retrieval sanity the
  * sim_*_text_embed queries rely on.
  */
class HashEmbedSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // the PropertySpec convention: scalatestplus isn't in the offline
  // cache, so generators are driven directly with seeded draws
  private def forAll[A](gen: Gen[A], n: Int = 20)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  /** Independent reference: the documented math, written as the naive
    * per-window recompute (the kernel slides a rolling code — same
    * values, different algorithm, so a rolling-update bug can't hide).
    */
  private def reference(s: String, n: Int, dim: Int): Array[Long] = {
    val cps = s.codePoints().toArray
    val out = new Array[Long](dim)
    for (start <- 0 to cps.length - n) {
      var hg = 0L
      for (j <- 0 until n) hg = hg * 65536L + cps(start + j)
      val mix = (hg * 31L + 7L) % 1000003L
      out((mix % dim).toInt) += (if ((mix / dim) % 2L == 0L) 1L else -1L)
    }
    out
  }

  private def kernel(s: String, n: Int = 3, dim: Int = 64): Array[Long] =
    Seq(s).toDF("text")
      .select(graft.functions.vec.hashEmbedVec(col("text"), n, dim).as("v"))
      .head.getSeq[Long](0).toArray

  test("kernel matches the independent reference fold (ASCII + BMP CJK)") {
    for (s <- Seq("", "a", "ab", "abc", "abcd", "hello hash world",
        "数据处理引擎测试", "mixed 中文 and english text",
        "aaaaaaaaaa", "the quick brown fox jumps over the lazy dog"))
      for (n <- 1 to 3; dim <- Seq(2, 8, 64))
        assert(kernel(s, n, dim).toSeq == reference(s, n, dim).toSeq,
          s"mismatch for s='$s' n=$n dim=$dim")
  }

  test("property: kernel == reference on random BMP strings; mass = gram count") {
    // printable ASCII + a band of CJK — BMP only, the documented contract
    val cpGen = Gen.frequency(
      8 -> Gen.choose(32, 126), 2 -> Gen.choose(0x4e00, 0x4eff))
    val strGen = Gen.listOf(cpGen).map(_.map(_.toChar).mkString)
    forAll(strGen) { s =>
      val k = kernel(s)
      assert(k.toSeq == reference(s, 3, 64).toSeq)
      // every gram lands in exactly one slot with weight ±1, so total
      // SIGNED mass ≡ gram count (mod 2) and |mass| ≤ gram count
      val grams = math.max(s.codePoints().count().toInt - 2, 0)
      assert(k.map(math.abs).sum <= grams)
      assert(((k.sum - grams) % 2 + 2) % 2 == 0)
    }
  }

  test("short strings embed to the zero vector; n<=3 and dim>=2 enforced") {
    assert(kernel("ab").forall(_ == 0L))
    assert(kernel("").forall(_ == 0L))
    intercept[IllegalArgumentException] {
      graft.functions.vec.hashEmbedVec(col("text"), 4, 64)
    }
    intercept[IllegalArgumentException] {
      graft.functions.vec.hashEmbedVec(col("text"), 3, 1)
    }
  }

  test("hashEmbed is case-folded and deterministic; unit form is unit-norm") {
    val docs = Seq((0L, "The Quick Brown Fox"), (1L, "the quick brown fox"),
      (2L, "totally different payload"), (3L, "ab")).toDF("doc_id", "text")
    val dense = TextOps.hashEmbed(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(dense(0L) == dense(1L), "case folding must erase the difference")
    assert(dense(0L) != dense(2L))
    val unit = TextOps.hashEmbedUnit(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // the zero-vector doc is dropped, the rest are unit-norm
    assert(!unit.contains(3L))
    for ((_, v) <- unit) {
      val nrm = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(nrm - 1.0) < 1e-5)
    }
  }

  test("semanticDecontaminate flags gram-profile leakage, not unrelated docs") {
    val bench = Seq((1000L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"), // verbatim leak
      (1L, "The quick brown fox jumps over the lazy dog!"), // near-verbatim
      (2L, "completely unrelated payload about query engines"),
      (3L, "七言绝句平仄格律对仗工整")).toDF("doc_id", "text")
    val flagged = TextOps.semanticDecontaminate(corpus, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.contains(0L) && flagged(0L) == 1L)
    assert(flagged.contains(1L), "near-verbatim leak must be flagged")
    assert(!flagged.contains(2L) && !flagged.contains(3L))
    // the integer threshold is exact: a corpus doc equal to the
    // benchmark doc ITSELF (cos = 1) is excluded only by id, so the
    // same text under a different id flags with dot² · q² == p² · n²
    // comfortably satisfied — and an empty benchmark flags nothing
    assert(TextOps.semanticDecontaminate(corpus,
      bench.filter($"doc_id" < 0)).count() == 0)
  }

  test("threshold arithmetic survives int64 overflow on repetitive docs") {
    // a run of one char puts its whole gram mass in ONE slot: G grams →
    // wt = ±G, norm = G², dot(c,e) = G·G' — so dot²·q² reaches G⁴·q²,
    // which WRAPS int64 past ~25k grams. 26k-char runs: dot ≈ 6.8e8,
    // dot²·25 ≈ 1.1e19 > Long.MaxValue. cos = 1, so the pair MUST flag;
    // the pre-fix long arithmetic wrapped negative and silently missed
    // it (round-16 ADVICE, medium). Decimal(38,0) keeps it exact.
    val big = "a" * 26000
    val bench = Seq((1000L, big)).toDF("doc_id", "text")
    val corpus = Seq((0L, big), (1L, "totally unrelated payload"))
      .toDF("doc_id", "text")
    for (tier <- Seq(
        TextOps.semanticDecontaminate(corpus, bench),
        TextOps.semanticDecontaminateIvf(corpus, bench))) {
      val flagged = tier.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(flagged == Map(0L -> 1L),
        s"overflow-range identical pair must flag exactly: $flagged")
    }
    val flagSet = TextOps.semanticDecontaminateFlag(corpus, bench)
      .as[Long].collect().toSet
    assert(flagSet == Set(0L),
      s"flag tier must survive the overflow range too: $flagSet")
  }

  test("cosGe kernel: exact at the threshold boundary, BigInteger band") {
    def geRaw(a: Seq[Double], b: Seq[Double], p2: Long, q2: Long): Boolean =
      Seq((a, b)).toDF("a", "b")
        .select(graft.functions.vec.cosGe($"a", $"b", p2, q2).as("g"))
        .head.getBoolean(0)
    // exact equality AT the threshold: a=(1,2), b=(2,1) → dot=4,
    // norms 5·5 → dot²·q2 = 16·25 = p2·n1·n2 with p/q = 4/5 → ≥ holds
    assert(geRaw(Seq(1, 2), Seq(2, 1), 16, 25))
    // just past it: tightening the threshold to p2 = 17 flips the
    // verdict (16·25 < 17·25)
    assert(!geRaw(Seq(1, 2), Seq(2, 1), 17, 25))
    // the BigInteger border: scale the equality case until dot²
    // overflows the double fast path's exactness (k = 2^20 → dot² ≈
    // 1.9e25); the verdict must stay the exact ≥ (true), not a float
    // coin flip
    val k = (1L << 20).toDouble
    assert(geRaw(Seq(k, 2 * k), Seq(2 * k, k), 16, 25))
    assert(!geRaw(Seq(k, 2 * k), Seq(2 * k, k), 17, 25))
    // zero vectors and non-positive dots never match
    assert(!geRaw(Seq(0, 0), Seq(1, 1), 16, 25))
    assert(!geRaw(Seq(1, -1), Seq(-1, 1), 16, 25))
  }

  test("IVF-prescreened decon tier flags exactly the exact tier's set " +
    "at ANY quantizer sizing") {
    // mixed fixture: verbatim + near-verbatim leaks of several benchmark
    // docs, plus unrelated and short docs — the prescreened tier's
    // contract is flagged-set EQUALITY, and it is a THEOREM (triangle-
    // inequality ball cover ⇒ recall 1; shared integer predicate ⇒
    // precision 1), so it must hold under ANY nlist, including a
    // deliberately terrible one — a probabilistic prescreen could not
    // pass this test
    val benchDocs = Seq(
      (1000L, "the quick brown fox jumps over the lazy dog"),
      (1001L, "distributed query engines shuffle hash partitions across executors"),
      (1002L, "七言绝句平仄格律对仗工整韵脚分明"))
    val bench = benchDocs.toDF("doc_id", "text")
    val corpus = (benchDocs.map { case (id, t) => (id - 1000L, t) } ++ Seq(
      (10L, "The quick brown fox jumps over the lazy dog!"),
      (11L, "distributed query engines shuffle hash partitions across workers"),
      (12L, "completely unrelated payload about sorting networks"),
      (13L, "ab"),
      (14L, "another unrelated doc discussing b-tree page splits"),
      (15L, "七言绝句平仄格律对仗工整"))).toDF("doc_id", "text")
    val exact = TextOps.semanticDecontaminate(corpus, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(exact.nonEmpty, "fixture must exercise the flagged branch")
    for (nl <- Seq(0, 2, 16)) {
      val ivf = TextOps.semanticDecontaminateIvf(corpus, bench, nlist = nl)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(ivf == exact, s"nlist=$nl: ivf=$ivf exact=$exact")
      // the prescreen × early-exit tier returns the same MEMBERSHIP
      // under the same any-nlist contract (semi consumption changes
      // cost, never the set)
      val ivfFlag = TextOps.semanticDecontaminateIvfFlag(
        corpus, bench, nlist = nl).as[Long].collect().toSet
      assert(ivfFlag == exact.map(_._1),
        s"nlist=$nl: ivfFlag=$ivfFlag exact=$exact")
    }
    // and the early-exit FLAG tier returns exactly the exact tier's
    // doc-id set (existence semantics — counts drop, membership doesn't)
    val flag = TextOps.semanticDecontaminateFlag(corpus, bench)
      .as[Long].collect().toSet
    assert(flag == exact.map(_._1), s"flag=$flag exact=$exact")
  }

  test("semanticDecontaminateReport: per-benchmark counts equal the " +
    "SWAPPED exact tier (cosine is symmetric); zero-match evals report " +
    "0; exactness holds at any quantizer sizing") {
    val benchDocs = Seq(
      (1000L, "the quick brown fox jumps over the lazy dog"),
      (1001L, "distributed query engines shuffle hash partitions across executors"),
      (1002L, "七言绝句平仄格律对仗工整韵脚分明"),
      (1003L, "zzz qqq vvv kkk unmatched gibberish payload"))
    val bench = benchDocs.toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (10L, "The quick brown fox jumps over the lazy dog!"),
      (11L, "distributed query engines shuffle hash partitions across workers"),
      (12L, "completely unrelated payload about sorting networks"),
      (13L, "ab"),
      (15L, "七言绝句平仄格律对仗工整")).toDF("doc_id", "text")
    // brute per-benchmark reference: the exact tier with the sides
    // SWAPPED — cos(a,b) = cos(b,a), and the fixture's id spaces are
    // disjoint so the self-pair exclusion is vacuous on both runs
    val brute = TextOps.semanticDecontaminate(bench, corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(brute.nonEmpty && !brute.contains(1003L),
      s"fixture must have matches AND a zero-match eval: $brute")
    for (nl <- Seq(0, 2, 16)) {
      val rep = TextOps.semanticDecontaminateReport(corpus, bench,
          nlist = nl)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rep.keySet == benchDocs.map(_._1).toSet,
        s"nlist=$nl: every benchmark doc must report: ${rep.keySet}")
      for ((id, n) <- rep)
        assert(n == brute.getOrElse(id, 0L),
          s"nlist=$nl eval=$id: report $n != brute ${brute.getOrElse(id, 0L)}")
    }
  }

  test("incremental decon under benchmark append equals the full re-run " +
    "(monotone update) and no-ops on an empty append") {
    // flags are existential over the benchmark side, so they are
    // MONOTONE under benchmark append — the incremental tier carries
    // the old flag set forward and runs the flag tier over ONLY the
    // unflagged remainder × the new docs. Equality to a full re-run
    // against the union is the operator's whole contract (and what the
    // decon_semantic_incr oracle replays).
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "distributed query engines shuffle hash partitions across workers"),
      (2L, "completely unrelated payload about sorting networks"),
      (3L, "七言绝句平仄格律对仗工整")).toDF("doc_id", "text")
    val benchOld = Seq(
      (1000L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val benchNew = Seq(
      (2000L, "distributed query engines shuffle hash partitions across executors"),
      (2001L, "七言绝句平仄格律对仗工整韵脚分明")).toDF("doc_id", "text")
    val prev = TextOps.semanticDecontaminateFlag(corpus, benchOld)
    assert(prev.as[Long].collect().toSet == Set(0L),
      "fixture: the old suite must flag exactly the verbatim leak")
    val incr = TextOps.semanticDecontaminateIncr(corpus, prev, benchNew)
      .as[Long].collect().toSet
    val full = TextOps.semanticDecontaminateFlag(
      corpus, benchOld.unionByName(benchNew)).as[Long].collect().toSet
    assert(incr == full, s"incr=$incr full=$full")
    assert(Set(1L, 3L).subsetOf(incr),
      "the appended suite must contribute NEW flags (else the fixture is vacuous)")
    // no-op append: an empty new suite returns the carried set verbatim
    val noop = TextOps.semanticDecontaminateIncr(
      corpus, prev, benchNew.filter($"doc_id" < 0)).as[Long].collect().toSet
    assert(noop == Set(0L), s"empty append must be a no-op: $noop")
  }

  test("ivf decon tiers survive 0/1-doc corpora (round-19: a decon " +
    "chain can legitimately drop nearly everything upstream — the " +
    "saturated 100x capstone probe left ONE survivor and crashed " +
    "k-means at k=1)") {
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "completely different benchmark payload")).toDF("doc_id", "text")
    val one = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    // one-doc corpus: the lone point becomes the quantizer; the
    // contaminated doc must still flag and the report still frames
    // every benchmark doc
    assert(TextOps.semanticDecontaminateIvfFlag(one, bench)
      .as[Long].collect().toSet == Set(1L))
    val rep1 = TextOps.semanticDecontaminateReport(one, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep1 == Map(100L -> 1L, 101L -> 0L), s"one-doc report: $rep1")
    // empty corpus: no centroids to train — the zero-centroid
    // substitute keeps the plan buildable; flag is empty, the report
    // frames all benchmark docs at zero
    val none = one.filter($"doc_id" < 0)
    assert(TextOps.semanticDecontaminateIvfFlag(none, bench).count() == 0)
    val rep0 = TextOps.semanticDecontaminateReport(none, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep0 == Map(100L -> 0L, 101L -> 0L), s"empty-corpus report: $rep0")
  }

  test("cosThresholdPred: exact vs BigInteger everywhere it is non-null, " +
    "null only past Decimal(38,0) — conservative, never a mis-flag") {
    // the Decimal(38,0) bound is derived for the 64-dim/char-3-gram
    // default, but hashEmbed exposes (n, dim) as parameters and the
    // worst case is dim-INDEPENDENT: all gram mass in one slot gives
    // dot = G·G' and norms G², G'², so dot²·q² reaches G⁴·q² and the
    // exactness ceiling is G < (10³⁸/q²)^¼ (~1.4·10⁹ for q=5) whatever
    // the dim. Past it the predicate's `try_multiply` yields NULL
    // under ANY ansi setting (a plain `*` would THROW under ANSI — the
    // Spark 4 default every graft session runs under — which this
    // spec originally caught live), and `count(when(pred, 1))` skips
    // null — the pair is CONSERVATIVELY not flagged, never flagged by
    // a wrapped sign.
    // Drive the predicate over the full long range incl. the overflow
    // band and pin both halves of that contract against BigInteger.
    import java.math.BigInteger
    val limit = BigInteger.TEN.pow(38)
    val cases = for {
      dtRaw <- Gen.chooseNum(-4L, 9200000000000000000L)
      n1 <- Gen.chooseNum(0L, 9200000000000000000L)
      n2 <- Gen.chooseNum(0L, 9200000000000000000L)
      pq <- Gen.oneOf((16L, 25L), (1L, 2L), (81L, 100L), (1L, 1L))
    } yield (dtRaw, n1, n2, pq._1, pq._2)
    forAll(cases, n = 120) { case (dt, n1, n2, p2, q2) =>
      val row = Seq((dt, n1, n2)).toDF("dt", "n1", "n2")
        .select(TextOps.cosThresholdPred(col("dt"), col("n1"), col("n2"),
          p2, q2).as("v"))
        .head()
      val lhs = BigInteger.valueOf(dt).multiply(BigInteger.valueOf(dt))
        .multiply(BigInteger.valueOf(q2))
      val rhs = BigInteger.valueOf(p2)
        .multiply(BigInteger.valueOf(n1)).multiply(BigInteger.valueOf(n2))
      val exact = dt > 0 && lhs.compareTo(rhs) >= 0
      if (row.isNullAt(0)) {
        // null ONLY when a product actually left Decimal(38,0); a doc
        // needs single-slot gram mass ≥ (10³⁸/q²)^¼ to get here
        assert(dt > 0 && (lhs.abs.compareTo(limit) >= 0 ||
            rhs.abs.compareTo(limit) >= 0),
          s"null without overflow: dt=$dt n1=$n1 n2=$n2 p2=$p2 q2=$q2")
      } else {
        assert(row.getBoolean(0) == exact,
          s"pred desynced from BigInteger: dt=$dt n1=$n1 n2=$n2 " +
            s"p2=$p2 q2=$q2 got=${row.getBoolean(0)} want=$exact")
      }
    }
  }

  test("flag tier plan: embed projects BELOW the semi join, never inside " +
    "its condition") {
    // the documented projection-collapse hazard (PERF.md "Embed-side
    // hazard"): Catalyst keeps expressions, not columns, and an embed
    // subtree inlined into a nested-loop join CONDITION re-evaluates
    // interpreted once per candidate PAIR — jstack'd at minutes on the
    // 100× tier. Pin the healthy shape: the semi join's condition is
    // the fused cos_ge over attribute REFERENCES, and hash_embed_vec
    // appears only in projections strictly below the join.
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val df = TextOps.semanticDecontaminateFlag(
      docs.filter($"doc_id" % 7 === 0), docs.filter($"doc_id" % 491 === 0))
    // string-level over the tree form: AQE wraps the physical plan, so
    // node collection sees only the AdaptiveSparkPlan shell — but the
    // tree printer puts each join's CONDITION on the join's own line
    val plan = df.queryExecution.executedPlan.toString
    val joinLines = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(joinLines.nonEmpty,
      s"flag tier must plan a broadcast nested-loop semi join:\n$plan")
    for (l <- joinLines) {
      assert(l.contains("LeftSemi") && l.contains("cos_ge("),
        s"fused predicate missing from the semi-join condition: $l")
      assert(!l.contains("hash_embed_vec"),
        s"embed subtree re-inlined into the join condition (per-pair " +
          s"re-evaluation): $l")
    }
    // and the embed work exists as a projection elsewhere in the plan
    // (below the join), evaluated once per row
    assert(plan.contains("hash_embed_vec"),
      s"embed projection not found below the semi join:\n$plan")
  }

  test("gram-similar docs rank closer than unrelated ones (retrieval sanity)") {
    val base = "distributed query engines shuffle hash partitions across executors"
    val near = "distributed query engines shuffle hash partitions across workers"
    val far = "七言绝句平仄格律对仗工整韵脚分明"
    val docs = Seq((0L, base), (1L, near), (2L, far)).toDF("doc_id", "text")
    val emb = TextOps.hashEmbedUnit(docs).withColumnRenamed("doc_id", "vec_id")
    val q = emb.filter($"vec_id" === 0L)
    val ranked = Similarity.bruteForceTopK(emb, q, k = 2)
      .orderBy($"rank").select($"vec_id").as[Long].collect()
    assert(ranked.head == 1L, s"near-dup must outrank the unrelated doc: $ranked")
  }
}
