package graft

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

/** Multimodal plumbing: payload/metadata synthesis, compiled-kernel
  * feature extraction and decode (PPM/PNG/JPEG/GIF/BMP, WAV, Y4M),
  * resize transcode, frame sampling, and the banded near-dup family.
  */
class MultimodalSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (0L, "alpha beta"), (1L, "gamma"), (2L, "delta epsilon zeta"),
    (3L, "eta"), (4L, "theta iota")).toDF("doc_id", "text")

  private def sha256hex(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  test("attachMedia: deterministic payload = 3-byte tag + sha256(text)") {
    val m = Multimodal.attachMedia(docs)
    val r = m.filter($"doc_id" === 1L)
      .select($"kind", $"payload", $"width", $"sample_rate")
      .collect().head
    assert(r.getString(0) == "audio") // 1 % 3 = 1 → audio
    val payload = r.getAs[Array[Byte]](1)
    assert(payload.length == 35)
    assert(new String(payload.take(3), "UTF-8") == "AUD")
    assert(payload.drop(3).map(b => f"${b & 0xff}%02x").mkString ==
      sha256hex("gamma"))
    assert(r.getInt(2) == 17 && r.getInt(3) == 12000)
  }

  test("extractFeatures: compiled projection — sig8/byte_len for every " +
    "kind, DECODED raster stats for images, null stats for non-raster") {
    val f = Multimodal.extractFeatures(Multimodal.attachMedia(docs))
      .select($"doc_id", $"kind", $"byte_len", $"sig8", $"width",
        $"height", $"luma_milli_mean")
      .as[(Long, String, Long, String, Option[Long], Option[Long],
        Option[Long])]
      .collect().map(x => x._1 -> x).toMap
    assert(f(1L)._4 == sha256hex("gamma").take(8))
    assert(f(1L)._3 == 35L)
    // attachMedia payloads are tagged-sha stubs, not raster — ALL rows
    // carry null decoded stats (the null-routing convention)
    assert(f.values.forall(x => x._5.isEmpty && x._6.isEmpty && x._7.isEmpty))
    // a REAL image payload decodes: hand-computed 2x1 PPM — the milli
    // lumas sum BEFORE the single division: (299*10+587*20+114*30) +
    // (299*90+587*80+114*70) = 18150 + 81850 = 100000; /2 = 50000
    val m = Seq((7L, Multimodal.wavHeader(4)), // audio: parses, no raster
        (8L, ppm(2, 1, (x, _) => if (x == 0) (10, 20, 30) else (90, 80, 70))))
      .toDF("doc_id", "payload")
      .withColumn("kind", when($"doc_id" === 7L, "audio").otherwise("image"))
    val g = Multimodal.extractFeatures(m)
      .select($"doc_id", $"width", $"height", $"luma_milli_mean")
      .as[(Long, Option[Long], Option[Long], Option[Long])]
      .collect().map(x => x._1 -> x).toMap
    assert(g(7L)._2.isEmpty, "audio rows carry null raster stats")
    assert(g(8L) == ((8L, Some(2L), Some(1L), Some(50000L))),
      s"decoded stats wrong: ${g(8L)}")
    // PNG of the same pixels: identical decoded stats (lossless)
    val png = Seq(Tuple1(ppm(2, 1,
        (x, _) => if (x == 0) (10, 20, 30) else (90, 80, 70))))
      .toDF("p").select(graft.functions.vec.ppmToPng($"p").as("payload"))
      .withColumn("doc_id", lit(9L)).withColumn("kind", lit("image"))
    val pr = Multimodal.extractFeatures(png)
      .select($"width", $"height", $"luma_milli_mean")
      .as[(Long, Long, Long)].collect().head
    assert(pr == ((2L, 1L, 50000L)), s"PNG stats must equal PPM's: $pr")
  }

  test("extractFeatures preserves partitioning (row-local projection)") {
    val media = Multimodal.attachMedia(docs).repartition(4)
    val out = Multimodal.extractFeatures(media)
    assert(out.rdd.getNumPartitions == 4)
  }

  test("resize halves dimensions with floor at 1") {
    val m = Multimodal.attachMedia(docs)
    val before = m.select($"doc_id", $"width", $"height")
      .as[(Long, Int, Int)].collect()
      .map { case (k, w, h) => k -> ((w, h)) }.toMap
    val after = Multimodal.resize(m).select($"doc_id", $"width", $"height")
      .as[(Long, Int, Int)].collect()
    after.foreach { case (id, w, h) =>
      assert(w == math.max(before(id)._1 / 2, 1))
      assert(h == math.max(before(id)._2 / 2, 1))
    }
  }

  test("dHashBands kernel: exact gradient bits, cyclic wrap, null under 2 bytes") {
    import graft.functions.vec
    // hand-computed: "ba" → n=2; bit i compares s[i%2] vs s[(i+1)%2]:
    // even i: 'b' > 'a' → 1; odd i: 'a' > 'b' → 0 ⇒ each 16-bit band is
    // 0b0101_0101_0101_0101 = 0x5555
    val bands = Seq("ba").toDF("s")
      .select(vec.dHashBands($"s", 4, 16).as("b"))
      .as[Seq[Long]].collect().head
    assert(bands == Seq(0x5555L, 0x5555L, 0x5555L, 0x5555L))
    // a single differing byte flips exactly the bits whose window
    // touches it — Hamming distance is small and positive
    val h1 = Seq("0123456789abcdef" * 4).toDF("s")
      .select(vec.dHashBands($"s", 4, 16).as("b")).as[Seq[Long]].collect().head
    val h2 = Seq("0123456789abcdef" * 3 + "0123456f89abcdef").toDF("s")
      .select(vec.dHashBands($"s", 4, 16).as("b")).as[Seq[Long]].collect().head
    val ham = h1.zip(h2)
      .map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum
    assert(ham > 0 && ham <= 2, s"one-byte change flipped $ham bits")
    // under 2 bytes: no gradient → null (never an all-zero alias bucket)
    val nulls = Seq("x", "").toDF("s")
      .select(vec.dHashBands($"s", 4, 16).isNull.as("n"))
      .as[Boolean].collect()
    assert(nulls.forall(identity))
  }

  test("dHashNearDupPairs: identical images pair at hamming 0, near pairs " +
    "survive banding (pigeonhole), cap drops mega-buckets") {
    // payloads are controlled byte-for-byte through a fake media frame:
    // kind/payload are the only columns the operator reads
    def media(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "hexbody")
      .select($"doc_id", lit("image").as("kind"),
        concat(lit("IMG").cast("binary"), unhex($"hexbody")).as("payload"))
    val base = "0123456789abcdef" * 4 // 32 bytes → 64 hex chars
    val near = base.substring(0, 40) + "f" + base.substring(41)
    val far = "fedcba9876543210" * 4
    val m = media(Seq(1L -> base, 2L -> base, 3L -> near, 4L -> far))
    val pairs = Multimodal.dHashNearDupPairs(m, maxHamming = 6)
      .as[(Long, Long, Long)].collect().sortBy(p => (p._1, p._2)).toSeq
    // (1,2) identical → hamming 0; (1,3)/(2,3) near → small hamming —
    // d < bands(4) guarantees a shared band carried them to the verify
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs.find(p => (p._1, p._2) == ((1L, 2L))).get._3 == 0L)
    assert(pairs.filter(_._2 == 3L).forall(p => p._3 > 0 && p._3 <= 6))
    // occupancy cap: 5 identical docs = a 5-row bucket in EVERY band;
    // maxBucketSize=4 drops them all → zero pairs, while distinct
    // near-docs in small buckets are untouched
    val hot = media((10L to 14L).map(i => i -> base) :+ (20L -> far) :+
      (21L -> (far.substring(0, 40) + "0" + far.substring(41))))
    val capped = Multimodal.dHashNearDupPairs(hot, maxHamming = 6,
        maxBucketSize = Some(4))
      .as[(Long, Long, Long)].collect().map(p => (p._1, p._2)).toSet
    assert(capped == Set((20L, 21L)),
      s"cap should drop the 5-doc bucket, keep the small one: $capped")
  }

  test("scaled band layout: radius-1 probing recovers a pair the exact " +
    "2x32 join misses, guarantee parity with 4x16, autoBandLayout cutover") {
    def media(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "hexbody")
      .select($"doc_id", lit("image").as("kind"),
        concat(lit("IMG").cast("binary"), unhex($"hexbody")).as("payload"))
    // alternating 'ab' chars → gradient = odd bits set; changing ONLY
    // char 0 to 'c' flips exactly bit 0 (band 0 of 2x32) and bit 63
    // (band 1): per-band distance 1+1, total hamming 2 — the pair NO
    // exact 2x32 band collision can surface, but radius-1 probing must
    val base = "ab" * 32
    val twist = "cb" + "ab" * 31
    val m = media(Seq(1L -> base, 2L -> twist))
    def pairs(bands: Int, bits: Int, probe: Int) =
      Multimodal.dHashNearDupPairs(m, maxHamming = 6, bands = bands,
        bandBits = bits, probeRadius = probe)
        .as[(Long, Long, Long)].collect().toSeq
    assert(pairs(2, 32, 0).isEmpty,
      "both 32-bit bands differ — exact collision must miss this pair")
    assert(pairs(2, 32, 1) == Seq((1L, 2L, 2L)),
      "radius-1 probing must surface the per-band-distance-1 pair")
    // the default layout's pigeonhole guarantee covers the same pair
    // (bands 1 and 2 of 4x16 are untouched) — the two layouts carry
    // the identical <=3-Hamming contract
    assert(pairs(4, 16, 0) == Seq((1L, 2L, 2L)))
    // parity on a mixed fixture: identical + 1-hex-char-near + far
    val b2 = "0123456789abcdef" * 4
    val near = b2.substring(0, 40) + "f" + b2.substring(41)
    val far = "fedcba9876543210" * 4
    val mix = media(Seq(1L -> b2, 2L -> b2, 3L -> near, 4L -> far))
    def pairSet(bands: Int, bits: Int, probe: Int) =
      Multimodal.dHashNearDupPairs(mix, maxHamming = 6, bands = bands,
        bandBits = bits, probeRadius = probe)
        .as[(Long, Long, Long)].collect().toSet
    assert(pairSet(2, 32, 1) == pairSet(4, 16, 0))
    // cutover: exact layout below 1M images, scaled at/above
    assert(graft.operators.BandedHamming.autoLayout(999999L) == ((4, 16, 0)))
    assert(graft.operators.BandedHamming.autoLayout(1000000L) == ((2, 32, 1)))
  }

  test("dHashDecontaminateFlag (round-18): flagged set equals the brute " +
    "bipartite verify, empty benchmark flags nothing, NO cap (a " +
    "mega-bucket still flags), radius-1 probing holds on the scaled " +
    "layout") {
    def media(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "hexbody")
      .select($"doc_id", lit("image").as("kind"),
        concat(lit("IMG").cast("binary"), unhex($"hexbody")).as("payload"))
    val base = "0123456789abcdef" * 4
    val near = base.substring(0, 40) + "f" + base.substring(41)
    val far = "fedcba9876543210" * 4
    val corpus = media(Seq(1L -> base, 2L -> near, 3L -> far))
    val bench = media(Seq(100L -> base))
    def flag(c: DataFrame, b: DataFrame, bands: Int = 4, bits: Int = 16,
        probe: Int = 0) =
      Multimodal.dHashDecontaminateFlag(c, b, maxHamming = 6,
          bands = bands, bandBits = bits, probeRadius = probe)
        .as[Long].collect().toSet
    // brute bipartite expectation from the near-dup machinery over the
    // union, restricted to cross pairs (corpus ids < 100 < bench ids)
    val brute = Multimodal.dHashNearDupPairs(
        media(Seq(1L -> base, 2L -> near, 3L -> far, 100L -> base)),
        maxHamming = 6, bands = 4, bandBits = 16)
      .as[(Long, Long, Long)].collect()
      .filter(p => (p._1 >= 100L) != (p._2 >= 100L))
      .map(p => math.min(p._1, p._2)).toSet
    val flagged = flag(corpus, bench)
    assert(flagged == brute && flagged == Set(1L, 2L),
      s"identical (0) + near (<=6) flag, far must not: $flagged vs $brute")
    // empty benchmark → nothing flags (and no crash on the broadcast)
    assert(flag(corpus, media(Seq.empty[(Long, String)])).isEmpty)
    // NO occupancy cap by design: five identical corpus images form a
    // 5-row bucket in EVERY band — the near-dup cap at 4 would drop
    // the bucket, but a decon drop decision must keep its recall
    val hot = media((10L to 14L).map(i => i -> base))
    assert(flag(hot, bench) == (10L to 14L).toSet)
    // scaled layout: the hamming-2 pair invisible to the exact 2x32
    // join (per-band distance 1+1) must still FLAG under radius-1
    // probing — the ball explodes on the benchmark side
    val b2 = "ab" * 32
    val twist = "cb" + "ab" * 31
    assert(flag(media(Seq(1L -> twist)), media(Seq(100L -> b2)),
      bands = 2, bits = 32, probe = 0).isEmpty)
    assert(flag(media(Seq(1L -> twist)), media(Seq(100L -> b2)),
      bands = 2, bits = 32, probe = 1) == Set(1L))
    // NO self-id exclusion (round-19, VERDICT r18 #5): the sides are
    // distinct tables, so a corpus doc that COINCIDENTALLY shares a
    // benchmark doc's id still flags on a fingerprint match — the
    // old exclusion silently unflagged exactly this case, a recall
    // loss in a drop decision
    assert(flag(media(Seq(1L -> far)), media(Seq(1L -> far))) == Set(1L),
      "shared-id corpus doc must still flag on a fingerprint match")
    // and a shared id with a NON-matching fingerprint must not flag
    assert(flag(media(Seq(1L -> far)), media(Seq(1L -> base))).isEmpty)
  }

  test("dHashDecontaminateFlag plan (round-18): broadcast HASH semi " +
    "join on the band key — never a nested loop — with the Hamming " +
    "verify riding the join condition") {
    // the bipartite core's scale contract: each corpus band row probes
    // ONE hash bucket of the broadcast benchmark. A condition reorder
    // that loses the band-key equi pair would silently degrade to a
    // BroadcastNestedLoopJoin (every corpus row × every benchmark band
    // row) — the ceiling test counts exchanges and would not notice.
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val m = 1000000L
    val bench = docs
      .filter($"doc_id" % 3 === 0 && ($"doc_id" / 3) % 5 === 0)
      .select(($"doc_id" + m).as("doc_id"), $"text")
    val df = Multimodal.dHashDecontaminateFlag(
      Multimodal.attachMedia(docs.select($"doc_id", $"text")),
      Multimodal.attachMedia(bench),
      maxHamming = 6, bands = 4, bandBits = 16)
    val plan = df.queryExecution.executedPlan.toString
    val joinLines = plan.linesIterator
      .filter(_.contains("BroadcastHashJoin")).toSeq
    assert(joinLines.nonEmpty && !plan.contains("BroadcastNestedLoopJoin"),
      s"decon flag must plan a broadcast HASH semi join:\n$plan")
    for (l <- joinLines)
      assert(l.contains("LeftSemi") && l.contains("bit_count"),
        s"Hamming verify missing from the semi-join condition: $l")
  }

  test("dHashDecontaminateReport (round-19): per-benchmark attribution " +
    "counts distinct corpus hits at min hamming; zero-hit benchmark " +
    "items still report (0, null)") {
    def media(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "hexbody")
      .select($"doc_id", lit("image").as("kind"),
        concat(lit("IMG").cast("binary"), unhex($"hexbody")).as("payload"))
    val base = "0123456789abcdef" * 4
    val near = base.substring(0, 40) + "f" + base.substring(41)
    val far = "fedcba9876543210" * 4
    val corpus = media(Seq(1L -> base, 2L -> near, 3L -> far))
    val bench = media(Seq(100L -> base, 200L -> far))
    val rep = Multimodal.dHashDecontaminateReport(corpus, bench,
        maxHamming = 6, bands = 4, bandBits = 16)
      .orderBy($"eval_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSeq
    // eval 100 (= base): docs 1 (hamming 0) and 2 (near) hit; eval 200
    // (= far): doc 3 hits at hamming 0 — and a doc matching in several
    // bands must still count ONCE (count DISTINCT absorbs band dups)
    assert(rep == Seq((100L, 2L, Some(0L)), (200L, 1L, Some(0L))),
      s"attribution rows: $rep")
    // zero-hit benchmark item: reported with n_flagged = 0, null min
    val rep2 = Multimodal.dHashDecontaminateReport(
        media(Seq(1L -> base)), media(Seq(100L -> far)),
        maxHamming = 6, bands = 4, bandBits = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSeq
    assert(rep2 == Seq((100L, 0L, None)), s"zero-hit row: $rep2")
  }

  test("dHashDecontaminateIncr (round-18): benchmark append equals the " +
    "full re-flag over the unioned suite; empty append returns the " +
    "carried set after one anti join") {
    def media(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "hexbody")
      .select($"doc_id", lit("image").as("kind"),
        concat(lit("IMG").cast("binary"), unhex($"hexbody")).as("payload"))
    val a = "0123456789abcdef" * 4
    val b = "fedcba9876543210" * 4
    val c = "02468ace" * 8
    val corpus = media(Seq(1L -> a, 2L -> b, 3L -> c))
    val oldBench = media(Seq(100L -> a))
    val newBench = media(Seq(200L -> b))
    def flag(cm: DataFrame, bm: DataFrame) =
      Multimodal.dHashDecontaminateFlag(cm, bm, maxHamming = 0,
        bands = 4, bandBits = 16)
    val prev = flag(corpus, oldBench)
    val incr = Multimodal.dHashDecontaminateIncr(corpus, prev, newBench,
        maxHamming = 0, bands = 4, bandBits = 16)
      .as[Long].collect().toSet
    val full = flag(corpus, media(Seq(100L -> a, 200L -> b)))
      .as[Long].collect().toSet
    assert(incr == full && incr == Set(1L, 2L),
      s"append must equal the full re-flag: $incr vs $full")
    // empty append: the carried set verbatim
    val noop = Multimodal.dHashDecontaminateIncr(corpus, prev,
        media(Seq.empty[(Long, String)]), maxHamming = 0,
        bands = 4, bandBits = 16)
      .as[Long].collect().toSet
    assert(noop == Set(1L), s"empty append must carry prev: $noop")
  }

  test("audioDecontaminateFlag (round-18/19): an eval clip flags its " +
    "corpus copy ACROSS carriers (AIFF benchmark vs WAV crawl), the " +
    "unrelated clip stays, empty benchmark is a no-op, shared ids " +
    "still flag") {
    val samples = Seq.tabulate(200)(i => (i * 31 + 7) % 256)
    val p8 = wav(samples)
    val aiff = Seq(Tuple1(p8)).toDF("p")
      .select(graft.functions.vec.wavToAiff($"p").as("t"))
      .collect().head.getAs[Array[Byte]](0)
    val far = wav(Seq.tabulate(200)(i => (i * 53) % 256))
    def mediaOf(rows: Seq[(Long, Array[Byte])]) = rows
      .toDF("doc_id", "payload").withColumn("kind", lit("audio"))
    val corpus = mediaOf(Seq(1L -> p8, 2L -> far))
    // the eval suite holds the AIFF carrier of clip 1's audio: the
    // fingerprint is carrier-invariant, so the WAV copy must flag
    val flagged = Multimodal.audioDecontaminateFlag(corpus,
        mediaOf(Seq(100L -> aiff)), maxHamming = 0,
        bands = 4, bandBits = 16)
      .as[Long].collect().toSet
    assert(flagged == Set(1L), s"cross-carrier copy must flag: $flagged")
    assert(Multimodal.audioDecontaminateFlag(corpus,
      mediaOf(Seq.empty[(Long, Array[Byte])]), maxHamming = 0,
      bands = 4, bandBits = 16).count() == 0)
    // round-19 (VERDICT r18 #5): NO self-id exclusion on the bipartite
    // core — a corpus clip sharing a benchmark clip's id still flags
    // on a fingerprint match
    assert(Multimodal.audioDecontaminateFlag(mediaOf(Seq(1L -> far)),
        mediaOf(Seq(1L -> far)), maxHamming = 0,
        bands = 4, bandBits = 16)
      .as[Long].collect().toSet == Set(1L))
  }

  test("audioDecontaminateIncr (round-19): benchmark append equals the " +
    "full re-flag over the unioned suite; empty append returns the " +
    "carried set after one anti join") {
    val clipA = wav(Seq.tabulate(200)(i => (i * 31 + 7) % 256))
    val clipB = wav(Seq.tabulate(200)(i => (i * 53) % 256))
    val clipC = wav(Seq.tabulate(200)(i => (i * 71 + 3) % 256))
    def mediaOf(rows: Seq[(Long, Array[Byte])]) = rows
      .toDF("doc_id", "payload").withColumn("kind", lit("audio"))
    val corpus = mediaOf(Seq(1L -> clipA, 2L -> clipB, 3L -> clipC))
    val prev = Multimodal.audioDecontaminateFlag(corpus,
      mediaOf(Seq(100L -> clipA)), maxHamming = 0,
      bands = 4, bandBits = 16)
    val incr = Multimodal.audioDecontaminateIncr(corpus, prev,
        mediaOf(Seq(200L -> clipB)), maxHamming = 0,
        bands = 4, bandBits = 16)
      .as[Long].collect().toSet
    val full = Multimodal.audioDecontaminateFlag(corpus,
        mediaOf(Seq(100L -> clipA, 200L -> clipB)), maxHamming = 0,
        bands = 4, bandBits = 16)
      .as[Long].collect().toSet
    assert(incr == full && incr == Set(1L, 2L),
      s"append must equal the full re-flag: $incr vs $full")
    val noop = Multimodal.audioDecontaminateIncr(corpus, prev,
        mediaOf(Seq.empty[(Long, Array[Byte])]), maxHamming = 0,
        bands = 4, bandBits = 16)
      .as[Long].collect().toSet
    assert(noop == Set(1L), s"empty append must carry prev: $noop")
  }

  test("audioDecontaminateReport (round-19): per-benchmark attribution " +
    "at hamming 0 for identical clips; zero-hit benchmark clips report " +
    "(0, null)") {
    val clipA = wav(Seq.tabulate(200)(i => (i * 31 + 7) % 256))
    val clipB = wav(Seq.tabulate(200)(i => (i * 53) % 256))
    def mediaOf(rows: Seq[(Long, Array[Byte])]) = rows
      .toDF("doc_id", "payload").withColumn("kind", lit("audio"))
    val rep = Multimodal.audioDecontaminateReport(
        mediaOf(Seq(1L -> clipA, 2L -> clipA)),
        mediaOf(Seq(100L -> clipA, 200L -> clipB)),
        maxHamming = 0, bands = 4, bandBits = 16)
      .orderBy($"eval_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSeq
    assert(rep == Seq((100L, 2L, Some(0L)), (200L, 0L, None)),
      s"audio attribution rows: $rep")
  }

  test("videoDecontaminateReport (round-19): attribution is keyed on " +
    "VIDEOS — a trimmed benchmark clip attributes its source video " +
    "once; zero-hit benchmark videos report (0, null)") {
    def frame(seed: Int) = ppm(16, 12, (x, y) =>
      ((x * seed + y) % 256, (y * seed) % 256, (x + seed) % 256))
    def mediaOf(rows: Seq[(Long, Array[Byte])]) = rows
      .toDF("doc_id", "payload").withColumn("kind", lit("video"))
    val corpus = mediaOf(Seq(
      1L -> (frame(3) ++ frame(7) ++ frame(11)),
      2L -> (frame(17) ++ frame(23))))
    // bench 100 is a TWO-frame re-cut of video 1 — it must attribute
    // video 1 ONCE (not once per shared frame); bench 200 shares
    // nothing
    val rep = Multimodal.videoDecontaminateReport(corpus,
        mediaOf(Seq(
          100L -> (frame(7) ++ frame(11)),
          200L -> (frame(29) ++ frame(31)))),
        maxHamming = 0, bands = 4, bandBits = 16)
      .orderBy($"eval_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSeq
    assert(rep == Seq((100L, 1L, Some(0L)), (200L, 0L, None)),
      s"video attribution rows: $rep")
  }

  test("videoDecontaminateFlag (round-18): a TRIMMED eval clip — one " +
    "shared frame — flags the full corpus video; disjoint-frame videos " +
    "stay; empty benchmark is a no-op") {
    def frame(seed: Int) = ppm(16, 12, (x, y) =>
      ((x * seed + y) % 256, (y * seed) % 256, (x + seed) % 256))
    def mediaOf(rows: Seq[(Long, Array[Byte])]) = rows
      .toDF("doc_id", "payload").withColumn("kind", lit("video"))
    val corpus = mediaOf(Seq(
      1L -> (frame(3) ++ frame(7) ++ frame(11)),
      2L -> (frame(17) ++ frame(23))))
    // the eval suite holds ONLY the middle frame of video 1 — a
    // trimmed re-cut still shares a frame hash, so the video flags
    val flagged = Multimodal.videoDecontaminateFlag(corpus,
        mediaOf(Seq(100L -> frame(7))), maxHamming = 0,
        bands = 4, bandBits = 16)
      .as[Long].collect().toSet
    assert(flagged == Set(1L), s"trimmed clip must flag its source: $flagged")
    assert(Multimodal.videoDecontaminateFlag(corpus,
      mediaOf(Seq.empty[(Long, Array[Byte])]), maxHamming = 0,
      bands = 4, bandBits = 16).count() == 0)
  }

  test("videoDecontaminateIncr (round-19): benchmark append equals the " +
    "full re-flag over the unioned suite; empty append returns the " +
    "carried set after one anti join") {
    def frame(seed: Int) = ppm(16, 12, (x, y) =>
      ((x * seed + y) % 256, (y * seed) % 256, (x + seed) % 256))
    def mediaOf(rows: Seq[(Long, Array[Byte])]) = rows
      .toDF("doc_id", "payload").withColumn("kind", lit("video"))
    val corpus = mediaOf(Seq(
      1L -> (frame(3) ++ frame(7) ++ frame(11)),
      2L -> (frame(17) ++ frame(23)),
      3L -> (frame(29) ++ frame(31))))
    val prev = Multimodal.videoDecontaminateFlag(corpus,
      mediaOf(Seq(100L -> frame(7))), maxHamming = 0,
      bands = 4, bandBits = 16)
    val incr = Multimodal.videoDecontaminateIncr(corpus, prev,
        mediaOf(Seq(200L -> frame(17))), maxHamming = 0,
        bands = 4, bandBits = 16)
      .as[Long].collect().toSet
    val full = Multimodal.videoDecontaminateFlag(corpus,
        mediaOf(Seq(100L -> frame(7), 200L -> frame(17))), maxHamming = 0,
        bands = 4, bandBits = 16)
      .as[Long].collect().toSet
    assert(incr == full && incr == Set(1L, 2L),
      s"append must equal the full re-flag: $incr vs $full")
    val noop = Multimodal.videoDecontaminateIncr(corpus, prev,
        mediaOf(Seq.empty[(Long, Array[Byte])]), maxHamming = 0,
        bands = 4, bandBits = 16)
      .as[Long].collect().toSet
    assert(noop == Set(1L), s"empty append must carry prev: $noop")
  }

  test("dHashDecontaminateFlag decodePixels (round-18): an eval image " +
    "RE-ENCODED as PNG in the crawl still flags — the decode kernel " +
    "sees pixels, not containers") {
    def gray(x: Int, y: Int): (Int, Int, Int) = {
      val g = (x * 53 + y * 19) % 256; (g, g, g)
    }
    val p6 = ppm(16, 12, gray)
    val png = Seq(Tuple1(p6)).toDF("p")
      .select(graft.functions.vec.ppmToPng($"p").as("p"))
      .collect().head.getAs[Array[Byte]](0)
    val far = ppm(16, 12, (x, y) => ((x * 7) % 256, (y * 31) % 256, 128))
    def mediaOf(rows: Seq[(Long, Array[Byte])]) = rows
      .toDF("doc_id", "payload").withColumn("kind", lit("image"))
    // crawl holds the PNG re-encode + an unrelated image; the eval
    // suite holds the original PPM — the re-encode must flag
    val flagged = Multimodal.dHashDecontaminateFlag(
        mediaOf(Seq(1L -> png, 2L -> far)), mediaOf(Seq(100L -> p6)),
        maxHamming = 0, bands = 4, bandBits = 16, decodePixels = true)
      .as[Long].collect().toSet
    assert(flagged == Set(1L), s"PNG re-encode must flag: $flagged")
    // the byte-sequence kernel CANNOT see through the container — the
    // re-encode escapes it (the reason decodePixels exists)
    val byteFlagged = Multimodal.dHashDecontaminateFlag(
        mediaOf(Seq(1L -> png, 2L -> far)), mediaOf(Seq(100L -> p6)),
        maxHamming = 0, bands = 4, bandBits = 16)
      .as[Long].collect().toSet
    assert(byteFlagged.isEmpty,
      s"byte kernel should miss the container change: $byteFlagged")
  }

  test("dHashIncrementalPairs: equals the full recompute restricted to " +
    "pairs touching the new shard; old-old pairs never form; probing " +
    "carries over") {
    def media(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "hexbody")
      .select($"doc_id", lit("image").as("kind"),
        concat(lit("IMG").cast("binary"), unhex($"hexbody")).as("payload"))
    val base = "0123456789abcdef" * 4
    val near = base.substring(0, 40) + "f" + base.substring(41)
    val far = "fedcba9876543210" * 4
    // old corpus has an internal dup pair (1,2) that must NOT appear in
    // the incremental result; the shard dups doc 1 and adds a near-doc
    val old = media(Seq(1L -> base, 2L -> base, 4L -> far))
    val shard = media(Seq(10L -> base, 11L -> near))
    val index = Multimodal.dHashBandRows(old)
    val inc = Multimodal.dHashIncrementalPairs(shard, index, maxHamming = 6)
      .as[(Long, Long, Long)].collect().toSet
    val full = Multimodal.dHashNearDupPairs(old.unionByName(media(Nil))
        .unionByName(shard), maxHamming = 6)
      .as[(Long, Long, Long)].collect().toSet
    val newIds = Set(10L, 11L)
    assert(inc == full.filter(p => newIds(p._1) || newIds(p._2)),
      s"incremental $inc != restricted full ${full.filter(p =>
        newIds(p._1) || newIds(p._2))}")
    assert(!inc.exists(p => !newIds(p._1) && !newIds(p._2)),
      "old-old pair leaked into the incremental result")
    assert(inc.exists(p => (p._1, p._2) == ((1L, 10L)) && p._3 == 0L),
      "byte-identical old-new pair must surface at hamming 0")
    // the scaled layout probes from the shard side: the single-bit-per-
    // band twist pair (see the scaled-layout test) is recoverable
    // incrementally too
    val oldT = media(Seq(1L -> ("ab" * 32)))
    val shardT = media(Seq(2L -> ("cb" + "ab" * 31)))
    val incT = Multimodal.dHashIncrementalPairs(shardT,
      Multimodal.dHashBandRows(oldT, bands = 2, bandBits = 32),
      maxHamming = 6, bands = 2, bandBits = 32, probeRadius = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(incT == Seq((1L, 2L, 2L)))
  }

  test("dHashIncrementalPairs: a degenerate all-identical shard is bounded " +
    "by the union-counted occupancy cap; distinct pairs survive") {
    def media(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "hexbody")
      .select($"doc_id", lit("image").as("kind"),
        concat(lit("IMG").cast("binary"), unhex($"hexbody")).as("payload"))
    val base = "0123456789abcdef" * 4
    val far = "fedcba9876543210" * 4
    val farNear = far.substring(0, 40) + "0" + far.substring(41)
    // corpus has 2 copies of `base`; the shard is a 6-copy boilerplate
    // stratum of the same image plus one genuinely new near-dup of far.
    // cap 4 counted over the union (2 + 6 = 8 > 4) drops the whole
    // base bucket — boilerplate generates ZERO pairs instead of 28 —
    // while the far/farNear pair rides through untouched
    val old = media(Seq(1L -> base, 2L -> base, 3L -> far))
    val shard = media((10L to 15L).map(i => i -> base) :+ (20L -> farNear))
    val inc = Multimodal.dHashIncrementalPairs(shard,
      Multimodal.dHashBandRows(old), maxHamming = 6,
      maxBucketSize = Some(4))
      .as[(Long, Long, Long)].collect().toSet
    assert(inc.map(p => (p._1, p._2)) == Set((3L, 20L)),
      s"cap should drop the boilerplate stratum, keep the distinct pair: $inc")
  }

  // ---- REAL decoder (pure-JVM PPM P6 → luma → 9×8 box resize → dHash) --

  /** Build a binary PPM: header (overridable for parse drills) + px(x,y)
    * RGB bytes row-major.
    */
  private def ppm(w: Int, h: Int, px: (Int, Int) => (Int, Int, Int),
      header: String = null): Array[Byte] = {
    val hdr = Option(header).getOrElse(s"P6\n$w $h\n255\n")
      .getBytes("US-ASCII")
    val body = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = px(x, y)
      val i = (y * w + x) * 3
      body(i) = r.toByte; body(i + 1) = g.toByte; body(i + 2) = b.toByte
    }
    hdr ++ body
  }

  private def imgBands(p: Array[Byte]): Option[Seq[Long]] = {
    val r = Seq(Tuple1(p)).toDF("payload")
      .select(graft.functions.vec.dHashImageBands($"payload", 4, 16).as("b"))
      .collect().head
    if (r.isNullAt(0)) None else Some(r.getSeq[Long](0))
  }

  test("dHashImageBands: golden gradients — strictly decreasing columns " +
    "= all ones, increasing = all zeros; grayscale via integer luma") {
    // 9×8 image, one source pixel per grid cell: column c has gray
    // 255−28c (R=G=B → luma = gray exactly) — strictly decreasing, so
    // every cell[r][c] > cell[r][c+1] bit is set → each 16-bit band 0xFFFF
    val down = ppm(9, 8, (x, _) => { val g = 255 - 28 * x; (g, g, g) })
    assert(imgBands(down).contains(Seq(0xFFFFL, 0xFFFFL, 0xFFFFL, 0xFFFFL)))
    val up = ppm(9, 8, (x, _) => { val g = 28 * x; (g, g, g) })
    assert(imgBands(up).contains(Seq(0L, 0L, 0L, 0L)))
    // luma weighting is the ITU 299/587/114 integer recipe, not a pixel
    // mean: pure red (76) vs pure blue (29) must order red > blue
    val rb = ppm(9, 8, (x, _) => if (x % 2 == 0) (255, 0, 0) else (0, 0, 255))
    val alternating = imgBands(rb).get
    assert(alternating.map(java.lang.Long.bitCount).sum == 32,
      "red/blue alternating columns must alternate gradient bits")
  }

  test("dHashImageBands: header flexibility, resize determinism, and " +
    "null on malformed payloads") {
    def px(x: Int, y: Int): (Int, Int, Int) = {
      val g = (x * 37 + y * 91) % 256; (g, (g * 3) % 256, (g * 7) % 256)
    }
    val canonical = ppm(36, 32, px)
    val commented = ppm(36, 32, px,
      header = "P6 # magic\n# a comment line\n  36\t32 # dims\n255\n")
    assert(imgBands(canonical).isDefined)
    assert(imgBands(canonical) == imgBands(commented),
      "PPM comments/whitespace must not change the decoded hash")
    // resize: a 4× upscale of the same cell structure hashes identically
    // (box means are exact for block-constant images)
    val small = ppm(9, 8, (x, y) => { val g = (x * 13 + y * 29) % 256; (g, g, g) })
    val big = ppm(36, 32, (x, y) => {
      val g = ((x / 4) * 13 + (y / 4) * 29) % 256; (g, g, g) })
    assert(imgBands(small) == imgBands(big),
      "block-constant upscale must be resize-invariant")
    // degenerate dimensions (smaller than the 9×8 grid) still decode
    assert(imgBands(ppm(2, 1, (x, _) => (x * 200, 0, 0))).isDefined)
    // malformed: wrong magic (P4 bitmaps unsupported), oversized
    // maxval, truncated pixels → null; P5 grayscale DECODES (round-15)
    assert(imgBands("P4\n2 2\n255\n0123".getBytes("US-ASCII")).isEmpty)
    assert(imgBands("P5\n2 2\n255\n0123".getBytes("US-ASCII")).isDefined)
    assert(imgBands(ppm(4, 4, px, header = "P6\n4 4\n65535\n")).isEmpty)
    assert(imgBands(ppm(4, 4, px).dropRight(1)).isEmpty)
    assert(imgBands("IMGnotanimageatall".getBytes("US-ASCII")).isEmpty)
  }

  test("real-format decode (round-15): PNG/BMP/GIF hash identically to " +
    "the PPM of the same pixels; JPEG within a small Hamming; corrupt " +
    "real-format payloads null-drop") {
    val w = 36; val h = 32
    def encode(fmt: String, px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = px(x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos),
        s"JDK cannot encode $fmt")
      bos.toByteArray
    }
    // lossless containers: a noisy RGB pattern must hash EXACTLY like
    // the PPM of the same pixels (identical luma/resize/gradient
    // arithmetic across decode paths)
    def noisy(x: Int, y: Int): (Int, Int, Int) = {
      val g = (x * 37 + y * 91) % 256; (g, (g * 3) % 256, (g * 7) % 256)
    }
    val ppmHash = imgBands(ppm(w, h, noisy)).get
    assert(imgBands(encode("png", noisy)).contains(ppmHash),
      "PNG (lossless) must hash identically to the PPM of the same pixels")
    assert(imgBands(encode("bmp", noisy)).contains(ppmHash),
      "BMP (lossless) must hash identically")
    // GIF palettizes to <= 256 colors: grayscale stays exact
    def gray(x: Int, y: Int): (Int, Int, Int) = {
      val g = (x * 37 + y * 91) % 256; (g, g, g)
    }
    val grayHash = imgBands(ppm(w, h, gray)).get
    assert(imgBands(encode("gif", gray)).contains(grayHash),
      "grayscale GIF must hash identically")
    // JPEG is lossy: a smooth ramp (adjacent 9x8 cells far apart in
    // luma) must decode and land within a small Hamming distance —
    // the near-dup semantics a lossy re-encode is supposed to have
    def ramp(x: Int, y: Int): (Int, Int, Int) = {
      val g = math.min(255, x * 6 + (if ((x + y) % 2 == 0) 40 else 0))
      (g, g, g)
    }
    val rampHash = imgBands(ppm(w, h, ramp)).get
    val jpegHash = imgBands(encode("jpg", ramp))
    assert(jpegHash.isDefined, "JPEG must decode through ImageIO")
    val hd = jpegHash.get.zip(rampHash)
      .map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum
    assert(hd <= 4, s"smooth-pattern JPEG re-encode drifted to hamming $hd")
    // the in-plan PNG transcode kernel (attachPngImages' leg): real PNG
    // magic out, pixel-equal in the hash domain, null for non-PPM input
    val viaKernel = Seq(Tuple1(ppm(w, h, noisy)), Tuple1("JNK".getBytes))
      .toDF("payload")
      .select(graft.functions.vec.ppmToPng($"payload").as("p"))
      .collect()
    val pngBytes = viaKernel.find(!_.isNullAt(0)).get.getAs[Array[Byte]](0)
    assert(pngBytes.take(4).map(_ & 0xff).toSeq == Seq(0x89, 0x50, 0x4e, 0x47))
    assert(imgBands(pngBytes).contains(ppmHash))
    assert(viaKernel.count(_.isNullAt(0)) == 1,
      "ppmToPng of a non-PPM payload must be null")
    // corrupt/truncated real-format payloads null-drop, never throw
    assert(imgBands(encode("png", noisy).take(20)).isEmpty)
    assert(imgBands(encode("jpg", ramp).take(8)).isEmpty)
    // TIFF (JDK plugin since Java 9, lossless): identical hash to the
    // PPM of the same pixels, both byte orders sniffed
    val tiff = encode("tiff", noisy)
    assert(tiff.take(4).map(_ & 0xff).toSeq == Seq(0x49, 0x49, 0x2a, 0) ||
      tiff.take(4).map(_ & 0xff).toSeq == Seq(0x4d, 0x4d, 0, 0x2a),
      "JDK TIFF writer must emit a real TIFF magic")
    assert(imgBands(tiff).contains(ppmHash),
      "TIFF (lossless) must hash identically to the PPM of the same pixels")
    // PGM (P5, grayscale netpbm): the bytes ARE the luma plane — hash,
    // stats, and normalization all agree with the gray P6 twin
    val yBytes = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
    val pgm = s"P5\n$w $h\n255\n".getBytes("US-ASCII") ++ yBytes
    val grayP6 = ppm(w, h, (x, r) => {
      val g = yBytes(r * w + x) & 0xff; (g, g, g)
    })
    assert(imgBands(pgm).isDefined &&
      imgBands(pgm) == imgBands(grayP6),
      "P5 must hash identically to its gray P6 twin")
    val normPgm = Seq(Tuple1(pgm)).toDF("payload")
      .select(graft.functions.vec.imageToPpm($"payload").as("n"))
      .collect().head.getAs[Array[Byte]](0)
    assert(normPgm.sameElements(grayP6),
      "P5 normalization must produce the exact gray P6 bytes")
    val statsPair = Seq(Tuple1(pgm), Tuple1(grayP6)).toDF("payload")
      .select(graft.functions.vec.imageStats($"payload").as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(statsPair(0) == statsPair(1),
      "P5 and gray-P6 decoded stats must agree")
    // a P5 resize routes through the gray embedding and stays decodable
    val resizedPgm = Seq(Tuple1(pgm)).toDF("payload")
      .select(graft.functions.vec.ppmResize($"payload", 6, 5).as("r"))
      .collect().head.getAs[Array[Byte]](0)
    assert(resizedPgm.sameElements(
      Seq(Tuple1(grayP6)).toDF("payload")
        .select(graft.functions.vec.ppmResize($"payload", 6, 5).as("r"))
        .collect().head.getAs[Array[Byte]](0)),
      "P5 resize must equal the gray-P6 resize")
    // DECOMPRESSION-BOMB guard: a hand-crafted BMP header declaring a
    // 100000x100000 canvas (30 GB decoded) must null-drop from the
    // header dimensions alone — an unguarded ImageIO.read would try
    // to allocate the raster inside an executor task
    val bomb = java.nio.ByteBuffer.allocate(54)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bomb.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
      .putInt(40).putInt(100000).putInt(100000)
      .putShort(1).putShort(24).putInt(0).putInt(0)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    assert(imgBands(bomb.array()).isEmpty,
      "oversized-canvas payload must drop before raster allocation")
  }

  test("JPEG lossy near-dup (round-16): on content smooth at the dHash " +
    "cell scale, a JPEG re-encode lands within the default radius and " +
    "the fuzzy join FINDS every (source, jpeg) pair — recall 1.0") {
    val v = graft.functions.vec
    // 20 random 9x8 noise images block-upscaled x8: constant 8x8
    // blocks aligned with BOTH the dHash cell grid and JPEG's DCT
    // grid, so JPEG loss is per-block DC quantization only
    val rnd = new scala.util.Random(59)
    val bases = (1L to 20L).map(i => i -> ppm(9, 8, (_, _) =>
      (rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256))))
    val smooth = bases.toDF("doc_id", "payload")
      .withColumn("kind", lit("image"))
      .select($"doc_id", $"kind",
        v.ppmResize($"payload", 72, 64).as("payload"))
    val jpegs = smooth.select(($"doc_id" + 100L).as("doc_id"), $"kind",
      v.ppmToJpeg($"payload").as("payload"))
    // every JPEG decodes and sits within hamming 6 of its source —
    // measured max 3 across the sf0.1 fixture corpus (1667 images)
    val drift = smooth.select($"doc_id",
        v.dHashImageBands($"payload", 4, 16).as("hs"),
        v.dHashImageBands(v.ppmToJpeg($"payload"), 4, 16).as("hj"))
      .select((0 until 4).map(i => bit_count(element_at($"hs", i + 1)
        .bitwiseXOR(element_at($"hj", i + 1)))).reduce(_ + _).as("ham"))
      .as[Long].collect()
    assert(drift.length == 20 && drift.max <= 6,
      s"JPEG drift out of radius: max ${drift.max}")
    // the fuzzy join recovers EVERY (source, jpeg) pair — the default
    // radius exists exactly for lossy re-encodes
    val pairs = Multimodal.dHashImageNearDupPairs(
        smooth.unionByName(jpegs), maxHamming = 6,
        bands = 4, bandBits = 16)
      .as[(Long, Long, Long)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    val missed = (1L to 20L).filterNot(i => pairs.contains(i -> (i + 100L)))
    assert(missed.isEmpty, s"fuzzy join missed JPEG twins of: $missed")
    // a JPEG of DIFFERENT content does not pair with an unrelated source
    assert(!pairs.contains(1L -> 102L) && !pairs.contains(2L -> 101L),
      "unrelated (source, jpeg) pairs must not appear")
  }

  test("cross-container dedup (round-15): the SAME image stored as " +
    "PPM, PNG, and PGM-gray pairs at hamming 0 through one band join") {
    def gray(x: Int, y: Int): (Int, Int, Int) = {
      val g = (x * 53 + y * 19) % 256; (g, g, g)
    }
    val p6 = ppm(16, 12, gray)
    val png = Seq(Tuple1(p6)).toDF("p")
      .select(graft.functions.vec.ppmToPng($"p").as("p"))
      .collect().head.getAs[Array[Byte]](0)
    val p5 = "P5\n16 12\n255\n".getBytes("US-ASCII") ++
      Array.tabulate(16 * 12)(i => ((i % 16 * 53 + i / 16 * 19) % 256).toByte)
    val far = ppm(16, 12, (x, y) => ((x * 7) % 256, (y * 31) % 256, 128))
    val media = Seq((1L, p6), (2L, png), (3L, p5), (4L, far))
      .toDF("doc_id", "payload").withColumn("kind", lit("image"))
    val pairs = Multimodal.dHashImageNearDupPairs(media, maxHamming = 0)
      .as[(Long, Long, Long)].collect().toSet
    // all three containers of the same pixels collapse into one
    // cluster at EXACT hash equality; the unrelated image stays out
    assert(pairs == Set((1L, 2L, 0L), (1L, 3L, 0L), (2L, 3L, 0L)),
      s"cross-container cluster wrong: $pairs")
    // ...and representatives keep one doc per photo, whatever format
    // each copy arrived in
    val reps = graft.operators.Dedup.keepRepresentatives(
        media.select($"doc_id"),
        Multimodal.dHashImageNearDupPairs(media, maxHamming = 0))
      .select($"doc_id").as[Long].collect().toSet
    assert(reps == Set(1L, 4L), s"representatives wrong: $reps")
  }

  test("gray-typed rasters (round-16, ADVICE r15 #1): a GRAY PNG reads " +
    "raw raster samples — hash, stats, and normalization equal the PGM " +
    "of the same values; 16-bit gray rounds to 8") {
    val w = 36; val h = 32
    val yBytes = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
    // encode the SAME luma plane as a true grayscale PNG: the JDK
    // writes a color-type-0 PNG from TYPE_BYTE_GRAY, which decodes
    // back to TYPE_BYTE_GRAY — the path where getRGB applies the
    // linear-gray→sRGB transform (gray 128 would read back ~186)
    val grayImg = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      grayImg.getRaster.setSample(x, y, 0, yBytes(y * w + x) & 0xff)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(grayImg, "png", bos))
    val grayPng = bos.toByteArray
    // pin the container actually exercises the gray decode path
    val decoded = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(grayPng))
    assert(decoded.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY,
      s"fixture must decode as TYPE_BYTE_GRAY, got ${decoded.getType}")
    val pgm = s"P5\n$w $h\n255\n".getBytes("US-ASCII") ++ yBytes
    assert(imgBands(grayPng).isDefined &&
      imgBands(grayPng) == imgBands(pgm),
      "gray PNG must hash identically to the PGM of the same samples")
    def statsOf(p: Array[Byte]): Seq[Long] =
      Seq(Tuple1(p)).toDF("payload")
        .select(graft.functions.vec.imageStats($"payload").as("s"))
        .collect().head.getSeq[Long](0)
    assert(statsOf(grayPng) == statsOf(pgm),
      "gray PNG decoded stats must equal the PGM's")
    def norm(p: Array[Byte]): Array[Byte] =
      Seq(Tuple1(p)).toDF("payload")
        .select(graft.functions.vec.imageToPpm($"payload").as("n"))
        .collect().head.getAs[Array[Byte]](0)
    assert(norm(grayPng).sameElements(norm(pgm)),
      "gray PNG must normalize to the exact gray-embedded P6 bytes")
    // 16-bit gray (TYPE_USHORT_GRAY): samples s<<8|s round back to s
    // under the s*255/65535 round-half-up mapping, so the full-depth
    // replication of an 8-bit plane hashes like its 8-bit original
    val g16 = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      val s = yBytes(y * w + x) & 0xff
      g16.getRaster.setSample(x, y, 0, (s << 8) | s)
    }
    val bos16 = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(g16, "png", bos16))
    assert(imgBands(bos16.toByteArray) == imgBands(pgm),
      "16-bit gray PNG of the replicated plane must hash like the 8-bit PGM")
  }

  test("pgmToGrayPng / pgmRescale (round-17): in-plan gray-PNG and " +
    "maxval-rescale fixture legs — true gray raster, exact round trips, " +
    "non-gray and torn payloads refuse") {
    val w = 16; val h = 12
    val yBytes = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
    val pgm = s"P5\n$w $h\n255\n".getBytes("US-ASCII") ++ yBytes
    def one(c: org.apache.spark.sql.Column, p: Array[Byte]): Option[Array[Byte]] = {
      val r = Seq(Tuple1(p)).toDF("payload").select(c.as("o")).collect().head
      if (r.isNullAt(0)) None else Some(r.getAs[Array[Byte]](0))
    }
    val v = graft.functions.vec
    // the PNG must carry a REAL single-band gray raster (the container
    // that exercises the round-16 raw-raster decode path)
    val gp = one(v.pgmToGrayPng($"payload"), pgm).get
    val decoded = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(gp))
    assert(decoded.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY,
      s"must encode TYPE_BYTE_GRAY, got ${decoded.getType}")
    // ...and normalize to the exact gray-embedded P6 the raw P5 yields
    assert(one(v.imageToPpm($"payload"), gp).get.sameElements(
      one(v.imageToPpm($"payload"), pgm).get),
      "gray PNG must normalize to the P5's canonical bytes")
    // the gray-embedded P6 (R=G=B) is accepted; a COLOR P6 refuses
    // (no silent luma conversion)
    val grayP6 = one(v.imageToPpm($"payload"), pgm).get
    assert(one(v.pgmToGrayPng($"payload"), grayP6).isDefined)
    val colorP6 = ppm(4, 4, (x, y) => ((x * 40) % 256, (y * 40) % 256, 7))
    assert(one(v.pgmToGrayPng($"payload"), colorP6).isEmpty,
      "non-gray P6 must refuse, not luma-convert")
    assert(one(v.pgmToGrayPng($"payload"), pgm.dropRight(3)).isEmpty,
      "torn payload must null-drop")
    // rescale: 255 → 85 quantizes to v' = rhu(v/3); back to 255 is
    // EXACTLY 3·v' (85·3 = 255 — no rounding on the way up), and the
    // normalizer agrees with the round trip bit for bit
    val m85 = one(v.pgmRescale($"payload", 85), pgm).get
    val hdrLen = "P5\n16 12\n85\n".length
    assert(new String(m85.take(hdrLen), "US-ASCII") == "P5\n16 12\n85\n")
    for (i <- 0 until w * h) {
      val src = yBytes(i) & 0xff
      assert((m85(hdrLen + i) & 0xff) == (src * 85 * 2 + 255) / (255 * 2),
        s"round-half-up rescale wrong at $i")
    }
    val back = one(v.pgmRescale($"payload", 255), m85).get
    for (i <- 0 until w * h)
      assert((back("P5\n16 12\n255\n".length + i) & 0xff)
        == 3 * (m85(hdrLen + i) & 0xff), "85 → 255 must be exactly 3x")
    assert(one(v.imageToPpm($"payload"), m85).get.sameElements(
      one(v.imageToPpm($"payload"), back).get),
      "normalizer must agree with the explicit round trip")
    // P6 is outside pgmRescale's domain; torn P5 refuses
    assert(one(v.pgmRescale($"payload", 85), colorP6).isEmpty)
    assert(one(v.pgmRescale($"payload", 85), pgm.dropRight(1)).isEmpty)
  }

  test("netpbm maxval semantics (round-16, ADVICE r15 #3): maxval < 255 " +
    "rescales by 255/maxval — normalization is value-preserving, " +
    "hash/stats/resize agree with the rescaled canonical") {
    val w = 12; val h = 10
    // a maxval-127 P6: sample 127 means FULL brightness
    val body = Array.tabulate(w * h * 3)(i => ((i * 29 + 3) % 128).toByte)
    val lowMax = s"P6\n$w $h\n127\n".getBytes("US-ASCII") ++ body
    // the value-preserving canonical twin: every sample rescaled
    // round-half-up by 255/127
    val rescaled = s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++
      body.map(b => (((b & 0xff) * 255 * 2 + 127) / (2 * 127)).toByte)
    def norm(p: Array[Byte]): Array[Byte] =
      Seq(Tuple1(p)).toDF("payload")
        .select(graft.functions.vec.imageToPpm($"payload").as("n"))
        .collect().head.getAs[Array[Byte]](0)
    assert(norm(lowMax).sameElements(rescaled),
      "maxval-127 normalization must rescale, not copy bytes verbatim")
    assert(imgBands(lowMax).isDefined &&
      imgBands(lowMax) == imgBands(rescaled),
      "maxval-127 hash must equal the rescaled canonical's")
    def statsOf(p: Array[Byte]): Seq[Long] =
      Seq(Tuple1(p)).toDF("payload")
        .select(graft.functions.vec.imageStats($"payload").as("s"))
        .collect().head.getSeq[Long](0)
    assert(statsOf(lowMax) == statsOf(rescaled),
      "maxval-127 stats must equal the rescaled canonical's")
    def resize(p: Array[Byte]): Array[Byte] =
      Seq(Tuple1(p)).toDF("payload")
        .select(graft.functions.vec.ppmResize($"payload", 6, 5).as("r"))
        .collect().head.getAs[Array[Byte]](0)
    assert(resize(lowMax).sameElements(resize(rescaled)),
      "maxval-127 resize must route through the rescale")
    // maxval-127 PGM rides the same rescale through the gray embedding
    val gBody = Array.tabulate(w * h)(i => ((i * 13 + 5) % 128).toByte)
    val lowPgm = s"P5\n$w $h\n127\n".getBytes("US-ASCII") ++ gBody
    val grayCanon = s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++
      gBody.flatMap { b =>
        val v = (((b & 0xff) * 255 * 2 + 127) / (2 * 127)).toByte
        Array(v, v, v)
      }
    assert(norm(lowPgm).sameElements(grayCanon),
      "maxval-127 PGM must rescale through the gray embedding")
    // maxval = 255 stays the exact identity (regression pin)
    val canonical = ppm(w, h, (x, y) => ((x * 5) % 256, y, (x + y) % 256))
    assert(norm(canonical).sameElements(canonical))
    // maxval 0 / > 255 stay rejected
    assert(imgBands((s"P6\n$w $h\n0\n".getBytes("US-ASCII") ++ body)).isEmpty)
  }

  test("imageToPpm normalization (round-15): PNG/BMP round-trip " +
    "byte-exactly; PPM variants canonicalize; resize composes over " +
    "normalized payloads; non-images null-drop") {
    def norm(p: Array[Byte]): Option[Array[Byte]] = {
      val r = Seq(Tuple1(p)).toDF("payload")
        .select(graft.functions.vec.imageToPpm($"payload").as("n"))
        .collect().head
      if (r.isNullAt(0)) None else Some(r.getAs[Array[Byte]](0))
    }
    def toPng(p: Array[Byte]): Array[Byte] =
      Seq(Tuple1(p)).toDF("payload")
        .select(graft.functions.vec.ppmToPng($"payload").as("p"))
        .collect().head.getAs[Array[Byte]](0)
    def px(x: Int, y: Int): (Int, Int, Int) = {
      val g = (x * 37 + y * 91) % 256; (g, (g * 3) % 256, (g * 7) % 256)
    }
    val canonical = ppm(12, 10, px)
    // lossless container → canonical P6 must equal the original bytes
    assert(norm(toPng(canonical)).exists(_.sameElements(canonical)),
      "PNG must normalize back to the exact original P6 bytes")
    // a comment/whitespace PPM variant canonicalizes to the same bytes
    val commented = ppm(12, 10, px,
      header = "P6 # magic\n# comment\n  12\t10 # dims\n255\n")
    assert(norm(commented).exists(_.sameElements(canonical)),
      "PPM header variants must canonicalize")
    // resize composes over normalized payloads: PNG → P6 → resize
    // equals resizing the original directly
    val direct = resized(canonical, 6, 5).get
    val viaPng = resized(norm(toPng(canonical)).get, 6, 5).get
    assert(viaPng.sameElements(direct))
    // non-image payloads null-drop through the operator
    val media = Seq((0L, canonical), (1L, "JNK not an image".getBytes))
      .toDF("doc_id", "payload").withColumn("kind", lit("image"))
    val out = Multimodal.normalizeImages(media)
      .select($"doc_id").as[Long].collect().toSet
    assert(out == Set(0L), "undecodable payloads must drop, not throw")
  }

  test("dHashImageNearDupPairs: byte-identical at hamming 0, VISUALLY " +
    "near (small pixel perturbation) at small positive hamming") {
    def base(x: Int, y: Int): (Int, Int, Int) = {
      val g = (x * 53 + y * 17) % 256; (g, g, g)
    }
    // visually near: same image with one grid cell blown out to white —
    // flips only the 1-2 gradient bits adjacent to that cell
    def near(x: Int, y: Int): (Int, Int, Int) =
      if (x >= 8 && x < 12 && y < 4) (255, 255, 255) else base(x, y)
    // unrelated content
    def far(x: Int, y: Int): (Int, Int, Int) = {
      val g = (251 * x * x + 89 * y + 7) % 256; (g, (g + 50) % 256, g)
    }
    val m = Seq(
      (1L, ppm(36, 32, base)), (2L, ppm(36, 32, base)),
      (3L, ppm(36, 32, near)), (4L, ppm(36, 32, far)))
      .toDF("doc_id", "payload").withColumn("kind", lit("image"))
    val pairs = Multimodal.dHashImageNearDupPairs(m, maxHamming = 6)
      .as[(Long, Long, Long)].collect().sortBy(p => (p._1, p._2)).toSeq
    assert(pairs.map(p => (p._1, p._2)).contains((1L, 2L)))
    assert(pairs.find(p => (p._1, p._2) == ((1L, 2L))).get._3 == 0L)
    // the perturbed image is VISUALLY near: decoded hamming in (0, 6]
    assert(pairs.map(p => (p._1, p._2)).contains((1L, 3L)),
      s"one-cell perturbation must stay within the near radius: $pairs")
    assert(pairs.filter(p => p._2 == 3L && p._1 <= 2L)
      .forall(p => p._3 > 0 && p._3 <= 6))
    assert(!pairs.map(p => (p._1, p._2)).exists(p => p._2 == 4L),
      s"unrelated image must not pair: $pairs")
  }

  test("dHashIncrementalPairs decodePixels: the REAL-decoder kernel " +
    "carries the incremental path — visually-near shard image pairs " +
    "with its old original") {
    def base(x: Int, y: Int): (Int, Int, Int) = {
      val g = (x * 53 + y * 17) % 256; (g, g, g)
    }
    def near(x: Int, y: Int): (Int, Int, Int) =
      if (x >= 8 && x < 12 && y < 4) (255, 255, 255) else base(x, y)
    def far(x: Int, y: Int): (Int, Int, Int) = {
      val g = (251 * x * x + 89 * y + 7) % 256; (g, (g + 50) % 256, g)
    }
    val old = Seq((1L, ppm(36, 32, base)), (4L, ppm(36, 32, far)))
      .toDF("doc_id", "payload").withColumn("kind", lit("image"))
    val shard = Seq((10L, ppm(36, 32, base)), (11L, ppm(36, 32, near)))
      .toDF("doc_id", "payload").withColumn("kind", lit("image"))
    // index built with the image kernel — the contract decodePixels pins
    val inc = Multimodal.dHashIncrementalPairs(shard,
      Multimodal.dHashImageBandRows(old), maxHamming = 6,
      decodePixels = true)
      .as[(Long, Long, Long)].collect().toSet
    val full = Multimodal.dHashImageNearDupPairs(old.unionByName(shard),
      maxHamming = 6).as[(Long, Long, Long)].collect().toSet
    val newIds = Set(10L, 11L)
    assert(inc == full.filter(p => newIds(p._1) || newIds(p._2)),
      s"decoded incremental $inc != restricted full $full")
    assert(inc.exists(p => (p._1, p._2) == ((1L, 10L)) && p._3 == 0L))
    assert(inc.exists(p => (p._1, p._2) == ((1L, 11L)) && p._3 > 0),
      s"visually-near shard image must pair with the old original: $inc")
  }

  test("dHashIncrementalPairs: cap + probe together — a new row in a " +
    "capped-out bucket must not probe neighbor buckets (equality with " +
    "the full recompute holds)") {
    def media(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "hexbody")
      .select($"doc_id", lit("image").as("kind"),
        concat(lit("IMG").cast("binary"), unhex($"hexbody")).as("payload"))
    // boilerplate stratum: 5 old copies of `base` + 1 new copy → a
    // 6-row bucket in both 32-bit bands, over cap 4, so the WHOLE
    // bucket drops. Under the pre-fix probe (from the uncapped shard)
    // the new copy still probed 32 neighbor keys per band and could
    // reach `neighbor` (per-band distance 1 from base); the capped
    // recompute never forms that pair from the dropped bucket — but
    // DOES find it via neighbor's own (capped, small) bucket probing
    // back. Equality of the two is the contract under drill.
    val base = "ab" * 32
    val neighbor = "cb" + "ab" * 31 // per-band dist 1 from base (2x32)
    val old = media((1L to 5L).map(i => i -> base) :+ (8L -> neighbor))
    val shard = media(Seq(10L -> base))
    val inc = Multimodal.dHashIncrementalPairs(shard,
      Multimodal.dHashBandRows(old, bands = 2, bandBits = 32),
      maxHamming = 6, bands = 2, bandBits = 32, probeRadius = 1,
      maxBucketSize = Some(4))
      .as[(Long, Long, Long)].collect().toSet
    val full = Multimodal.dHashNearDupPairs(old.unionByName(shard),
      maxHamming = 6, bands = 2, bandBits = 32, probeRadius = 1,
      maxBucketSize = Some(4))
      .as[(Long, Long, Long)].collect().toSet
    val newIds = Set(10L)
    assert(inc == full.filter(p => newIds(p._1) || newIds(p._2)),
      s"cap+probe incremental $inc != restricted full recompute " +
        s"${full.filter(p => newIds(p._1) || newIds(p._2))}")
    // the drill is only meaningful if the capped-out bucket actually
    // suppressed the base-base pairs
    assert(!inc.exists(p => (p._1, p._2) == ((1L, 10L))),
      "capped-out bucket leaked an identity pair — cap did not engage")
  }

  test("self-sizing layout: bands=0 default equals explicit on both " +
    "sides of the 1M crossover; layoutOfIndex derives the index layout") {
    def media(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "hexbody")
      .select($"doc_id", lit("image").as("kind"),
        concat(lit("IMG").cast("binary"), unhex($"hexbody")).as("payload"))
    val b = "0123456789abcdef" * 4
    val near = b.substring(0, 40) + "f" + b.substring(41)
    val far = "fedcba9876543210" * 4
    val m = media(Seq(1L -> b, 2L -> b, 3L -> near, 4L -> far))
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    // below the crossover: the default (bands=0, real count) must
    // EQUAL explicit (4,16,0)
    assert(collect(Multimodal.dHashNearDupPairs(m, maxHamming = 6)) ==
      collect(Multimodal.dHashNearDupPairs(m, maxHamming = 6,
        bands = 4, bandBits = 16)))
    // above it (forced via nHint — the skip-the-count path): must
    // EQUAL explicit (2,32,1)
    assert(collect(Multimodal.dHashNearDupPairs(m, maxHamming = 6,
        nHint = graft.operators.BandedHamming.ScaledLayoutMinDocs)) ==
      collect(Multimodal.dHashNearDupPairs(m, maxHamming = 6,
        bands = 2, bandBits = 32, probeRadius = 1)))
    // simHashPairs carries the same convention
    val docs2 = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "delta epsilon")).toDF("doc_id", "text")
    assert(collect(graft.operators.Dedup.simHashPairs(docs2, maxDist = 3)
        .select($"d1", $"d2", $"hamming".cast("bigint"))) ==
      collect(graft.operators.Dedup.simHashPairs(docs2, maxDist = 3,
        nHint = graft.operators.BandedHamming.ScaledLayoutMinDocs)
        .select($"d1", $"d2", $"hamming".cast("bigint"))))
    // incremental bands=0 derives the layout FROM THE INDEX — a 2-band
    // index must make the shard hash under (2,32) with radius-1 probing
    // (the twist pair is only reachable by probing)
    val oldT = media(Seq(1L -> ("ab" * 32)))
    val shardT = media(Seq(2L -> ("cb" + "ab" * 31)))
    val viaIndex = Multimodal.dHashIncrementalPairs(shardT,
      Multimodal.dHashBandRows(oldT, bands = 2, bandBits = 32),
      maxHamming = 6)
      .as[(Long, Long, Long)].collect().toSeq
    assert(viaIndex == Seq((1L, 2L, 2L)),
      s"bands=0 must derive (2,32,1) from the 2-band index: $viaIndex")
    // loud on an empty index — nothing to derive from
    val err = intercept[IllegalArgumentException] {
      Multimodal.dHashIncrementalPairs(shardT,
        Multimodal.dHashBandRows(oldT, bands = 2, bandBits = 32)
          .limit(0), maxHamming = 6)
    }
    assert(err.getMessage.contains("EMPTY index"))
    // a custom probeRadius under auto-sizing would be silently dropped
    // (losing guaranteed recall) — it must refuse loudly instead
    val err2 = intercept[IllegalArgumentException] {
      Multimodal.dHashNearDupPairs(m, maxHamming = 6, probeRadius = 1)
    }
    assert(err2.getMessage.contains("explicit bands"))
    val err3 = intercept[IllegalArgumentException] {
      Multimodal.dHashIncrementalPairs(shardT,
        Multimodal.dHashBandRows(oldT, bands = 2, bandBits = 32),
        maxHamming = 6, probeRadius = 1)
    }
    assert(err3.getMessage.contains("explicit bands"))
    // the resize kernel rejects a 2 GiB+ output buffer at plan time
    val err4 = intercept[IllegalArgumentException] {
      graft.functions.vec.ppmResize(lit(Array[Byte]()), 40000, 40000)
    }
    assert(err4.getMessage.contains("2 GiB"))
    // a custom bandBits under auto-sizing is the same silent-drop class
    // as probeRadius — must refuse loudly
    val err5 = intercept[IllegalArgumentException] {
      Multimodal.dHashNearDupPairs(m, maxHamming = 6, bandBits = 32)
    }
    assert(err5.getMessage.contains("explicit bands"))
    // a MIXED-layout index (appended under a different layout) fails
    // LOUDLY at derivation time (round-16, ADVICE r15 #2: a limit(1)
    // peek could flap between layouts across calls and silently miss
    // pairs) — every auto-deriving call site is a one-shot operator or
    // a stream initialization, so the one-pass min/max amortizes
    val mixed = Multimodal.dHashBandRows(oldT, bands = 2, bandBits = 32)
      .unionByName(Multimodal.dHashBandRows(oldT, bands = 4, bandBits = 16))
    val err6 = intercept[IllegalArgumentException] {
      graft.operators.BandedHamming.verifyUniformLayout(mixed)
    }
    assert(err6.getMessage.contains("mixes band layouts"))
    val err6b = intercept[IllegalArgumentException] {
      graft.operators.BandedHamming.layoutOfIndex(mixed)
    }
    assert(err6b.getMessage.contains("mixes band layouts"),
      "layout DERIVATION must reject a mixed index, not flap on a peek")
    val err6c = intercept[IllegalArgumentException] {
      Multimodal.dHashIncrementalPairs(shardT, mixed, maxHamming = 6)
    }
    assert(err6c.getMessage.contains("mixes band layouts"),
      "the incremental operator must surface the mixed-index corruption")
    // ...and the check passes on a uniform index
    graft.operators.BandedHamming.verifyUniformLayout(
      Multimodal.dHashBandRows(oldT, bands = 2, bandBits = 32))
  }

  test("attachPpmImages: payloads are real decodable PPMs; equality " +
    "tracks text equality") {
    val d = Seq((0L, "alpha"), (3L, "beta"), (6L, "alpha"), (7L, "skip"))
      .toDF("doc_id", "text")
    val m = Multimodal.attachPpmImages(d)
    val rows = m.select($"doc_id", $"payload").as[(Long, Array[Byte])]
      .collect().toMap
    assert(rows.keySet == Set(0L, 3L, 6L), "image-kind ids only")
    assert(rows.values.forall(p =>
      new String(p.take(2), "US-ASCII") == "P6"))
    assert(rows.values.forall(p => p.length == 13 + 12 * 10 * 3))
    assert(rows(0L).sameElements(rows(6L)), "same text ⇒ same payload")
    assert(!rows(0L).sameElements(rows(3L)), "diff text ⇒ diff payload")
    // and every payload decodes through the real kernel
    val decoded = Multimodal.dHashImageBandRows(m)
      .select($"doc_id").distinct().as[Long].collect().toSet
    assert(decoded == Set(0L, 3L, 6L))
  }

  // ---- REAL resize transcode (PPM decode → box resize → re-encode) ----

  private def resized(p: Array[Byte], w: Int, h: Int): Option[Array[Byte]] = {
    val r = Seq(Tuple1(p)).toDF("payload")
      .select(graft.functions.vec.ppmResize($"payload", w, h).as("r"))
      .collect().head
    if (r.isNullAt(0)) None else Some(r.getAs[Array[Byte]](0))
  }

  test("ppmResize: byte-exact box means on a hand-computed 2x2 -> 1x1; " +
    "canonical header; upscale replicates; malformed -> null") {
    // 2×2 → 1×1: each channel is the integer mean of the 4 pixels
    val p = ppm(2, 2, (x, y) => (x * 10 + y * 100, 7, 255 - x - y))
    // R: (0, 10, 100, 110) → 55; G: 7; B: (255, 254, 254, 253) → 254
    val out = resized(p, 1, 1).get
    val hdr = "P6\n1 1\n255\n".getBytes("US-ASCII")
    assert(out.take(hdr.length).sameElements(hdr), "canonical header")
    assert(out.drop(hdr.length).map(_ & 0xff).toSeq == Seq(55, 7, 254),
      s"box means wrong: ${out.drop(hdr.length).map(_ & 0xff).toSeq}")
    // upscale 1×1 → 2×2 replicates the pixel (degenerate boxes widen)
    val up = resized(ppm(1, 1, (_, _) => (9, 8, 7)), 2, 2).get
    assert(up.drop("P6\n2 2\n255\n".length).map(_ & 0xff).toSeq ==
      Seq(9, 8, 7, 9, 8, 7, 9, 8, 7, 9, 8, 7))
    // a resized payload is itself a decodable PPM (round-trip)
    val rt = resized(ppm(12, 10, (x, y) => ((x * y) % 256, x, y)), 6, 5).get
    assert(imgBands(rt).isDefined, "resized payload must decode")
    assert(resized(rt, 3, 2).isDefined, "resize composes")
    // malformed inputs -> null, and bad target dims reject loudly
    assert(resized("not a ppm".getBytes("US-ASCII"), 2, 2).isEmpty)
    assert(resized(ppm(4, 4, (_, _) => (1, 2, 3)).dropRight(1), 2, 2).isEmpty)
    intercept[IllegalArgumentException] {
      graft.functions.vec.ppmResize(lit(Array[Byte]()), 0, 1)
    }
  }

  // ---- REAL audio member (WAV parse → energy/ZCR fingerprint) ----

  /** Build a PCM WAV: canonical header + samples (8-bit unsigned or
    * 16-bit signed LE), interleaved if `channels > 1`.
    */
  private def wav(samples: Seq[Int], bits: Int = 8,
      channels: Int = 1): Array[Byte] = {
    val bps = bits / 8
    val dataLen = samples.length * bps
    val b = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort)
      .putInt(8000).putInt(8000 * channels * bps)
      .putShort((channels * bps).toShort).putShort(bits.toShort)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach { s =>
      if (bits == 8) b.put(s.toByte) else b.putShort(s.toShort)
    }
    b.array()
  }

  private def afp(p: Array[Byte]): Option[Long] = {
    val r = Seq(Tuple1(p)).toDF("payload")
      .select(graft.functions.vec.audioFingerprint64($"payload").as("f"))
      .collect().head
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  test("wavFingerprint64: deterministic, perturbation-local, channel " +
    "mixing and 16-bit path agree with mono-8, malformed -> null") {
    val rnd = new scala.util.Random(7)
    val samples = Seq.fill(128)(rnd.nextInt(256))
    val f1 = afp(wav(samples)).get
    assert(afp(wav(samples)).contains(f1), "deterministic")
    // one flipped sample changes few windows → small positive hamming
    val tw = samples.updated(64, (samples(64) + 140) % 256)
    val f2 = afp(wav(tw)).get
    val ham = java.lang.Long.bitCount(f1 ^ f2)
    assert(ham > 0 && ham <= 8, s"one-sample change flipped $ham bits")
    // 16-bit signed path: same waveform scaled must parse (own hash)
    val s16 = samples.map(s => (s - 128) * 256)
    assert(afp(wav(s16, bits = 16)).isDefined)
    // stereo with BOTH channels = the mono waveform mixes to the same
    // mono sequence → identical fingerprint
    val stereo = samples.flatMap(s => Seq(s, s))
    assert(afp(wav(stereo, channels = 2)).contains(f1),
      "identical-channel stereo must mix to the mono fingerprint")
    // malformed: wrong magic, non-PCM format, 24-bit, truncated data,
    // under 2 frames, data before fmt
    assert(afp("RIFX....WAVE".getBytes("US-ASCII") ++ wav(samples).drop(12))
      .isEmpty)
    val nonPcm = wav(samples); nonPcm(20) = 3 // IEEE float tag
    assert(afp(nonPcm).isEmpty)
    val b24 = wav(samples); b24(34) = 24
    assert(afp(b24).isEmpty)
    assert(afp(wav(samples).dropRight(1)).isEmpty)
    assert(afp(wav(Seq(5))).isEmpty)
  }

  test("float-PCM WAV (round-15): format-3 decodes; a float32 transcode " +
    "of the same audio lands within a small Hamming; unsupported float " +
    "widths and truncations null-drop") {
    def toFloat(p: Array[Byte]): Option[Array[Byte]] = {
      val r = Seq(Tuple1(p)).toDF("payload")
        .select(graft.functions.vec.wavToFloat32($"payload").as("f"))
        .collect().head
      if (r.isNullAt(0)) None else Some(r.getAs[Array[Byte]](0))
    }
    val rnd = new scala.util.Random(23)
    val samples = Seq.fill(256)(rnd.nextInt(256))
    val p8 = wav(samples)
    val pF = toFloat(p8).get
    // canonical float header: tag 3, 32 bits, mono, 4-byte samples
    assert(pF(20) == 3 && pF(34) == 32 && pF.length == 44 + 256 * 4)
    // the float re-encode fingerprints within a small Hamming of the
    // integer original (gradient order is scale-invariant; only
    // integer-rounding ties can flip)
    val ham8 = java.lang.Long.bitCount(afp(p8).get ^ afp(pF).get)
    assert(ham8 <= 6, s"8-bit vs float32 drifted to hamming $ham8")
    // 16-bit: v/32768 → round(·32767) is off by at most 1 per sample
    val p16 = wav(samples.map(s => (s - 128) * 256), bits = 16)
    val ham16 = java.lang.Long.bitCount(
      afp(p16).get ^ afp(toFloat(p16).get).get)
    assert(ham16 <= 6, s"16-bit vs float32 drifted to hamming $ham16")
    // stereo transcode preserves channels (byte 22) and still parses
    val pSt = toFloat(wav(samples.flatMap(s => Seq(s, s)), channels = 2)).get
    assert(pSt(22) == 2 && afp(pSt).isDefined)
    // byte-identical float payloads pair at hamming 0 through the
    // shared banded core (float corpora ride the same machinery)
    val far = Seq.tabulate(256)(i => (i * 53) % 256)
    val m = Seq((1L, pF), (2L, pF.clone()), (3L, toFloat(wav(far)).get))
      .toDF("doc_id", "payload").withColumn("kind", lit("audio"))
    val pairs = Multimodal.audioNearDupPairs(m, maxHamming = 6)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.exists(p => (p._1, p._2) == ((1L, 2L)) && p._3 == 0L),
      s"identical float WAVs must pair at hamming 0: $pairs")
    // NaN and out-of-range samples clamp (never corrupt the window fold)
    val patched = pF.clone()
    val bb = java.nio.ByteBuffer.wrap(patched)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putFloat(44, Float.NaN); bb.putFloat(48, 7.5f); bb.putFloat(52, -9f)
    assert(afp(patched).isDefined, "clamped float payload must decode")
    // unsupported: float64 width, truncated data, transcode of
    // already-float input
    val f64 = pF.clone(); f64(34) = 64
    assert(afp(f64).isEmpty)
    assert(afp(pF.dropRight(1)).isEmpty)
    assert(toFloat(pF).isEmpty, "float input has nothing to transcode")
  }

  test("AIFF container (round-15): a WAV->AIFF transcode fingerprints " +
    "BIT-IDENTICALLY through the javax.sound route; AIFF-C and torn " +
    "payloads null-drop; cross-container audio pairs at hamming 0") {
    def toAiff(p: Array[Byte]): Option[Array[Byte]] = {
      val r = Seq(Tuple1(p)).toDF("payload")
        .select(graft.functions.vec.wavToAiff($"payload").as("a"))
        .collect().head
      if (r.isNullAt(0)) None else Some(r.getAs[Array[Byte]](0))
    }
    val rnd = new scala.util.Random(31)
    val samples = Seq.fill(200)(rnd.nextInt(256))
    val p8 = wav(samples)
    val aiff = toAiff(p8).get
    assert(new String(aiff.take(4), "US-ASCII") == "FORM" &&
      new String(aiff.slice(8, 12), "US-ASCII") == "AIFF",
      "transcode must emit a real AIFF container")
    // EXACT fingerprint equality — same sample domain, same fold
    assert(afp(aiff).contains(afp(p8).get),
      "AIFF route must fingerprint bit-identically to the WAV route")
    // 16-bit and stereo: still exact
    val p16 = wav(samples.map(s => (s - 128) * 256), bits = 16)
    assert(afp(toAiff(p16).get).contains(afp(p16).get))
    val pSt = wav(samples.flatMap(s => Seq(s, s)), channels = 2)
    assert(afp(toAiff(pSt).get).contains(afp(pSt).get))
    // cross-container near-dup: the same recording stored as WAV and
    // as AIFF pairs at hamming 0 through one band join
    val m = Seq((1L, p8), (2L, aiff),
        (3L, wav(Seq.tabulate(200)(i => (i * 53) % 256))))
      .toDF("doc_id", "payload").withColumn("kind", lit("audio"))
    val pairs = Multimodal.audioNearDupPairs(m, maxHamming = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 0L)),
      s"WAV/AIFF twin must pair at hamming 0: $pairs")
    // malformed: AIFF-C (platform-dependent codecs) not sniffed; torn
    // AIFF drops; float WAV has no AIFF transcode here
    val aifc = aiff.clone(); aifc(11) = 'C'
    assert(afp(aifc).isEmpty, "AIFF-C must null-drop, not half-decode")
    assert(afp(aiff.dropRight(7)).isEmpty, "torn AIFF must null-drop")
    val pF = Seq(Tuple1(p8)).toDF("payload")
      .select(graft.functions.vec.wavToFloat32($"payload").as("f"))
      .collect().head.getAs[Array[Byte]](0)
    assert(toAiff(pF).isEmpty, "float WAV is not this transcode's domain")
  }

  test("wavToAiff (round-16 SPI cache): byte-identical to the " +
    "AudioSystem route it replaced") {
    // the provider-lock fix rewrote the transcode onto cached SPI
    // writers with our own signed/big-endian pre-conversion (so the JDK
    // writer's internal convert branch — the global monitor — stays
    // cold); this pins the OUTPUT CONTAINER BYTES against the original
    // AudioSystem path, so the fast route cannot drift from the JDK's
    // own conversion semantics
    def viaAudioSystem(p: Array[Byte]): Array[Byte] = {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(p))
      try {
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
        bos.toByteArray
      } finally ais.close()
    }
    def fast(p: Array[Byte]): Array[Byte] =
      Seq(Tuple1(p)).toDF("payload")
        .select(graft.functions.vec.wavToAiff($"payload").as("a"))
        .collect().head.getAs[Array[Byte]](0)
    val rnd = new scala.util.Random(83)
    val s = Seq.fill(300)(rnd.nextInt(256))
    for ((tag, p) <- Seq(
        "pcm8" -> wav(s),
        "pcm16" -> wav(s.map(v => (v - 128) * 256), bits = 16),
        "stereo8" -> wav(s.flatMap(v => Seq(v, (v + 64) % 256)),
          channels = 2),
        "stereo16" -> wav(s.flatMap(v =>
          Seq((v - 128) * 256, (v - 100) * 128)), bits = 16,
          channels = 2)))
      assert(java.util.Arrays.equals(fast(p), viaAudioSystem(p)),
        s"$tag: cached-SPI transcode must equal the AudioSystem bytes")
  }

  test("openAudioStream (round-17): cached-SPI provider set covers every " +
    "fixture AudioSystem itself accepts, with identical format and bytes") {
    // the provider cache is scanned once per JVM (merged across the
    // interface/context/system classloaders); this pins its COVERAGE
    // against an AudioSystem control so a future JDK that moves a
    // reader behind a different SPI (or a classloader change that hides
    // one) fails THIS test loudly instead of silently null-dropping
    // every clip of that format in production (round-16 verdict Next #5)
    def drain(ais: javax.sound.sampled.AudioInputStream): Array[Byte] =
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = ais.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = ais.read(buf) }
        bos.toByteArray
      } finally ais.close()
    val rnd = new scala.util.Random(59)
    val s = Seq.fill(300)(rnd.nextInt(256))
    val p8 = wav(s)
    def derive(c: org.apache.spark.sql.Column): Array[Byte] =
      Seq(Tuple1(p8)).toDF("payload").select(c.as("p"))
        .collect().head.getAs[Array[Byte]]("p")
    val fixtures = Seq(
      "pcm8" -> p8,
      "pcm16" -> wav(s.map(v => (v - 128) * 256), bits = 16),
      "stereo8" -> wav(s.flatMap(v => Seq(v, (v + 64) % 256)), channels = 2),
      "float32" -> derive(graft.functions.vec.wavToFloat32($"payload")),
      "aiff" -> derive(graft.functions.vec.wavToAiff($"payload")))
    for ((tag, p) <- fixtures) {
      val control =
        try Some(javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(p)))
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => None
        }
      control match {
        case None => fail(s"$tag: fixture must be AudioSystem-decodable")
        case Some(ctrl) =>
          val cached = graft.functions.VectorRuntime.openAudioStream(p)
          assert(cached != null,
            s"$tag: cached SPI set must accept what AudioSystem accepts")
          val (cf, kf) = (ctrl.getFormat, cached.getFormat)
          assert(cf.getEncoding == kf.getEncoding &&
            cf.getSampleRate == kf.getSampleRate &&
            cf.getChannels == kf.getChannels &&
            cf.getSampleSizeInBits == kf.getSampleSizeInBits &&
            cf.isBigEndian == kf.isBigEndian,
            s"$tag: formats must agree ($cf vs $kf)")
          assert(java.util.Arrays.equals(drain(ctrl), drain(cached)),
            s"$tag: decoded frames must be byte-identical")
      }
    }
  }

  test("audioToWav normalization (round-16): every accepted container/" +
    "encoding lands in ONE canonical PCM-16 WAV whose fingerprint " +
    "equals the original's BIT-EXACTLY; WAV and AIFF carriers of the " +
    "same audio normalize byte-identically; unrecognized inputs drop") {
    def norm(p: Array[Byte]): Option[Array[Byte]] = {
      val r = Seq(Tuple1(p)).toDF("payload")
        .select(graft.functions.vec.audioToWav($"payload").as("n"))
        .collect().head
      if (r.isNullAt(0)) None else Some(r.getAs[Array[Byte]](0))
    }
    def transcode(p: Array[Byte], f: org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column): Array[Byte] =
      Seq(Tuple1(p)).toDF("payload").select(f($"payload").as("t"))
        .collect().head.getAs[Array[Byte]](0)
    val rnd = new scala.util.Random(47)
    val samples = Seq.fill(200)(rnd.nextInt(256))
    val p8 = wav(samples)
    val p16 = wav(samples.map(s => (s - 128) * 256), bits = 16)
    val pSt = wav(samples.flatMap(s => Seq(s, (s + 64) % 256)), channels = 2)
    val pF = transcode(p8, graft.functions.vec.wavToFloat32)
    val aiff = transcode(p8, graft.functions.vec.wavToAiff)
    val aiff16 = transcode(p16, graft.functions.vec.wavToAiff)
    // every leg: canonical header (PCM tag 1, 16 bits) and a
    // BIT-EQUAL fingerprint — normalization never moves a cluster
    for ((tag, p) <- Seq("pcm8" -> p8, "pcm16" -> p16, "stereo" -> pSt,
        "float32" -> pF, "aiff8" -> aiff, "aiff16" -> aiff16)) {
      val n = norm(p).getOrElse(fail(s"$tag must normalize"))
      assert(n(20) == 1 && n(34) == 16, s"$tag: canonical PCM-16 header")
      assert(afp(n) == afp(p),
        s"$tag: normalized fingerprint must equal the original's bit-exactly")
    }
    // channels and rate preserved (byte 22 = channels; bytes 24-27 = rate)
    assert(norm(pSt).get(22) == 2, "stereo stays stereo")
    assert(java.nio.ByteBuffer.wrap(norm(p8).get)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(24) == 8000)
    // the WAV and AIFF carriers of the SAME audio normalize to
    // byte-identical outputs (identical sample domains — the round-15
    // mm_audio_aiff bit-equality finding made executable)
    assert(norm(aiff).get.sameElements(norm(p8).get),
      "AIFF and WAV carriers must normalize byte-identically")
    assert(norm(aiff16).get.sameElements(norm(p16).get))
    // idempotence: normalizing a normalized payload is the identity
    assert(norm(norm(p8).get).get.sameElements(norm(p8).get),
      "normalization must be idempotent")
    // already-canonical PCM-16 re-emits samples verbatim
    assert(norm(p16).get.drop(44).sameElements(p16.drop(44)),
      "canonical PCM-16 samples copy verbatim")
    // normalize-once recipe: near-dup over normalized payloads equals
    // the mixed-container run (the capstone's wiring)
    val far = wav(Seq.tabulate(200)(i => (i * 53) % 256))
    val mixed = Seq((1L, p8), (2L, aiff), (3L, far))
      .toDF("doc_id", "payload").withColumn("kind", lit("audio"))
    val normed = Multimodal.normalizeAudio(mixed)
    val pairsN = Multimodal.audioNearDupPairs(normed, maxHamming = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairsN == Set((1L, 2L, 0L)),
      s"normalized corpus must pair exactly like the mixed one: $pairsN")
    // unrecognized containers / torn payloads null-drop
    assert(norm("JNKnotaudio0".getBytes("US-ASCII")).isEmpty)
    assert(norm(aiff.dropRight(7)).isEmpty)
    assert(norm(p8.dropRight(1)).isEmpty)
    val aifc = aiff.clone(); aifc(11) = 'C'
    assert(norm(aifc).isEmpty, "AIFF-C must null-drop (codec policy)")
  }

  test("audioNearDupPairs: byte-identical WAVs at hamming 0 through the " +
    "shared banded core; unrelated audio does not pair") {
    val rnd = new scala.util.Random(11)
    val a = Seq.fill(96)(rnd.nextInt(256))
    val near = a.updated(40, (a(40) + 120) % 256)
    val far = Seq.tabulate(96)(i => (i * 53) % 256)
    val m = Seq((1L, wav(a)), (2L, wav(a)), (3L, wav(near)), (4L, wav(far)))
      .toDF("doc_id", "payload").withColumn("kind", lit("audio"))
    val pairs = Multimodal.audioNearDupPairs(m, maxHamming = 6)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.exists(p => (p._1, p._2) == ((1L, 2L)) && p._3 == 0L),
      s"identical audio must pair at hamming 0: $pairs")
    assert(!pairs.exists(p => p._2 == 4L),
      s"unrelated audio must not pair: $pairs")
    // the one-sample perturbation pairs iff within radius — pin that IF
    // it pairs, the hamming is positive (never aliases to 0)
    pairs.filter(p => p._2 == 3L).foreach(p =>
      assert(p._3 > 0, s"perturbed audio aliased to hamming 0: $p"))
  }

  test("attachWavAudio: payloads are real parseable WAVs; equality " +
    "tracks text equality") {
    val d = Seq((1L, "alpha"), (4L, "beta"), (7L, "alpha"), (6L, "skip"))
      .toDF("doc_id", "text")
    val m = Multimodal.attachWavAudio(d)
    val rows = m.select($"doc_id", $"payload").as[(Long, Array[Byte])]
      .collect().toMap
    assert(rows.keySet == Set(1L, 4L, 7L), "audio-kind ids only")
    assert(rows.values.forall(p => p.length == 44 + 96))
    assert(rows(1L).sameElements(rows(7L)), "same text => same payload")
    assert(!rows(1L).sameElements(rows(4L)))
    val fps = Multimodal.audioFingerprintBandRows(m)
      .select($"doc_id").distinct().as[Long].collect().toSet
    assert(fps == Set(1L, 4L, 7L), "every fixture WAV must parse")
  }

  // ---- REAL video member (concatenated-PPM frames) ----

  test("Y4M container (round-15): real YUV4MPEG2 parse; a Y4M frame " +
    "hashes identically to the gray PPM rendering of its Y plane; " +
    "cross-container pairing; malformed payloads null-drop") {
    val w = 12; val h = 10
    def yPlane(seed: Int): Array[Byte] =
      Array.tabulate(w * h)(i => ((i * 31 + seed * 97) % 256).toByte)
    def y4m(ys: Seq[Array[Byte]], cs: String = "C420",
        extra: String = ""): Array[Byte] = {
      val chroma = cs match {
        case "C420" => 2 * ((w / 2) * (h / 2))
        case "C444" => 2 * w * h
        case "Cmono" => 0
      }
      val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 $cs$extra\n"
        .getBytes("US-ASCII")
      ys.foldLeft(header) { (acc, y) =>
        acc ++ "FRAME\n".getBytes("US-ASCII") ++ y ++
          Array.fill(chroma)(128.toByte)
      }
    }
    def frameHashes(p: Array[Byte]): Option[Seq[Long]] = {
      val r = Seq(Tuple1(p)).toDF("payload")
        .select(graft.functions.vec.videoFrameDHashes($"payload", 8).as("f"))
        .collect().head
      if (r.isNullAt(0)) None else Some(r.getSeq[Long](0))
    }
    val y1 = yPlane(1); val y2 = yPlane(2)
    val hs = frameHashes(y4m(Seq(y1, y2))).get
    assert(hs.length == 2 && hs(0) != hs(1))
    // the Y plane IS the luma: a gray PPM rendering (R=G=B=Y) of the
    // same plane must hash IDENTICALLY through the still-image kernel
    def grayPpm(y: Array[Byte]) =
      ppm(w, h, (x, r) => { val g = y(r * w + x) & 0xff; (g, g, g) })
    val still = imgBands(grayPpm(y1)).get
    val full = still.zipWithIndex.map { case (b, i) => b << (16 * i) }
      .reduce(_ | _)
    assert(full == hs.head,
      s"Y4M frame hash ${hs.head} != gray-PPM still hash $full")
    // colorspaces change only the skipped chroma size — same Y, same hash
    assert(frameHashes(y4m(Seq(y1), cs = "C444")).get.head == hs.head)
    assert(frameHashes(y4m(Seq(y1), cs = "Cmono")).get.head == hs.head)
    // unknown stream params are ignored per the spec (X comments)
    assert(frameHashes(y4m(Seq(y1), extra = " Xsome:meta")).get.head
      == hs.head)
    // cross-container pairing: a Y4M video and the concatenated-gray-PPM
    // video of the same Y planes share EVERY frame hash
    val ppmVideo = grayPpm(y1) ++ grayPpm(y2)
    val m = Seq((2L, y4m(Seq(y1, y2))), (5L, ppmVideo))
      .toDF("doc_id", "payload").withColumn("kind", lit("video"))
    val shared = Multimodal.videoNearDupPairs(m, minSharedFrames = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(shared == Seq((2L, 5L, 2L)),
      s"cross-container videos must share both frame hashes: $shared")
    // malformed: torn plane, unknown colorspace, garbled marker, odd
    // dims under 4:2:0 — all null, never throw
    assert(frameHashes(y4m(Seq(y1, y2)).dropRight(1)).isEmpty)
    val c411 = ("YUV4MPEG2 W12 H10 C411\n".getBytes("US-ASCII")) ++
      "FRAME\n".getBytes("US-ASCII") ++ y1
    assert(frameHashes(c411).isEmpty)
    val garbled = y4m(Seq(y1))
    garbled(garbled.indexOfSlice("FRAME".getBytes("US-ASCII"))) = 'G'
    assert(frameHashes(garbled).isEmpty)
    val odd = ("YUV4MPEG2 W11 H10 C420\n".getBytes("US-ASCII")) ++
      "FRAME\n".getBytes("US-ASCII") ++ y1
    assert(frameHashes(odd).isEmpty)
    // attachY4mVideo: real parseable fixtures, equality tracks text
    val d = Seq((2L, "alpha"), (5L, "beta"), (8L, "alpha"), (4L, "skip"))
      .toDF("doc_id", "text")
    val fx = Multimodal.attachY4mVideo(d)
    val fxHashes = Multimodal.sampleFrameHashes(fx)
      .as[(Long, Long, Long)].collect()
    assert(fxHashes.map(_._1).toSet == Set(2L, 5L, 8L),
      "every video-kind fixture must parse")
    assert(fxHashes.length == 12, "4 frames per fixture video")
    val byDoc = fxHashes.groupBy(_._1)
      .map { case (k, v) => k -> v.sortBy(_._2).map(_._3).toSeq }
    assert(byDoc(2L) == byDoc(8L), "same text => same frame hashes")
    assert(byDoc(2L) != byDoc(5L))
  }

  test("ppmFrameDHashes: a video frame hashes IDENTICALLY to the same " +
    "still image; even sampling; torn payload -> null") {
    def px1(x: Int, y: Int) = { val g = (x * 31 + y * 7) % 256; (g, g, g) }
    def px2(x: Int, y: Int) = { val g = (x * 91 + y * 13) % 256; (g, g, g) }
    val f1 = ppm(9, 8, px1); val f2 = ppm(9, 8, px2)
    def frameHashes(p: Array[Byte], maxFrames: Int = 8): Option[Seq[Long]] = {
      val r = Seq(Tuple1(p)).toDF("payload")
        .select(graft.functions.vec.videoFrameDHashes($"payload", maxFrames)
          .as("h")).collect().head
      if (r.isNullAt(0)) None else Some(r.getSeq[Long](0))
    }
    val vid = frameHashes(f1 ++ f2).get
    assert(vid.length == 2)
    // frame hash == still-image hash (the shared dHash64 kernel): pack
    // the still's 4×16 bands back into one long to compare
    def still64(p: Array[Byte]): Long = imgBands(p).get.zipWithIndex
      .map { case (b, i) => b << (i * 16) }.reduce(_ | _)
    assert(vid == Seq(still64(f1), still64(f2)),
      "frame hashes must match the still-image kernel")
    // even sampling: 4 frames at maxFrames=2 takes frames 0 and 2
    val four = f1 ++ f2 ++ f1 ++ f2
    assert(frameHashes(four, maxFrames = 2).get ==
      Seq(still64(f1), still64(f1)))
    // torn payloads drop whole: trailing garbage or truncated frame
    assert(frameHashes(f1 ++ f2.dropRight(1)).isEmpty)
    assert(frameHashes(f1 ++ "junk".getBytes("US-ASCII")).isEmpty)
    assert(frameHashes(Array.empty[Byte]).isEmpty)
  }

  test("videoNearDupPairs: identical videos share all frames; a " +
    "perturbed-frame video shares the rest; disjoint videos never pair") {
    // non-monotone pseudo-random gradients: a monotone luma ramp dHashes
    // to all-zeros/all-ones and ALIASES across unrelated frames
    def g1(x: Int, y: Int) = { val g = (x * 91 + y * 13) % 256; (g, g, g) }
    def g2(x: Int, y: Int) = { val g = (x * x * 47 + y * 29) % 256; (g, g, g) }
    def g3(x: Int, y: Int) = { val g = (x * 151 + y * y * 31) % 256; (g, g, g) }
    def gFar1(x: Int, y: Int) = { val g = (251 * x * x + 89 * y + 7) % 256; (g, g, g) }
    def gFar2(x: Int, y: Int) = { val g = (x * x * 101 + y * y * 37 + 5) % 256; (g, g, g) }
    val (f1, f2, f3) = (ppm(9, 8, g1), ppm(9, 8, g2), ppm(9, 8, g3))
    // white-out one grid cell of f2 → a DIFFERENT frame hash
    def g2p(x: Int, y: Int) = if (x < 2 && y < 2) (255, 255, 255) else g2(x, y)
    val f2p = ppm(9, 8, g2p)
    // fixture precondition: all five frames carry DISTINCT hashes —
    // otherwise the shared-count assertions below test aliasing, not
    // the operator
    def still64(p: Array[Byte]): Long = imgBands(p).get.zipWithIndex
      .map { case (b, i) => b << (i * 16) }.reduce(_ | _)
    val allHashes = Seq(f1, f2, f3, f2p, ppm(9, 8, gFar1), ppm(9, 8, gFar2))
      .map(still64)
    assert(allHashes.distinct.length == allHashes.length,
      s"fixture frames alias: $allHashes")
    val m = Seq(
      (1L, f1 ++ f2 ++ f3), (2L, f1 ++ f2 ++ f3), // identical
      (3L, f1 ++ f2p ++ f3),                      // one frame perturbed
      (4L, ppm(9, 8, gFar1) ++ ppm(9, 8, gFar2)))
      .toDF("doc_id", "payload").withColumn("kind", lit("video"))
    val pairs = Multimodal.videoNearDupPairs(m, minSharedFrames = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L, 3L)), s"identical videos share all 3: $pairs")
    assert(pairs.contains((1L, 3L, 2L)) && pairs.contains((2L, 3L, 2L)),
      s"perturbed video shares the 2 untouched frames: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"disjoint video must not pair: $pairs")
    // threshold: minSharedFrames = 3 keeps only the identical pair
    val strict = Multimodal.videoNearDupPairs(m, minSharedFrames = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(strict == Set((1L, 2L, 3L)))
  }

  test("videoNearDupPairsFuzzy: a visually-perturbed frame still counts " +
    "as shared (exact-key join loses it); beyond-radius frames are not " +
    "evidence") {
    def g1(x: Int, y: Int) = { val g = (x * 91 + y * 13) % 256; (g, g, g) }
    def g2(x: Int, y: Int) = { val g = (x * x * 47 + y * 29) % 256; (g, g, g) }
    def g3(x: Int, y: Int) = { val g = (x * 151 + y * y * 31) % 256; (g, g, g) }
    def gFar(x: Int, y: Int) = { val g = (251 * x * x + 89 * y + 7) % 256; (g, g, g) }
    def g2p(x: Int, y: Int) = if (x < 2 && y < 2) (255, 255, 255) else g2(x, y)
    val (f1, f2, f3) = (ppm(9, 8, g1), ppm(9, 8, g2), ppm(9, 8, g3))
    val f2p = ppm(9, 8, g2p)
    val far = ppm(9, 8, gFar)
    def still64(p: Array[Byte]): Long = imgBands(p).get.zipWithIndex
      .map { case (b, i) => b << (i * 16) }.reduce(_ | _)
    def ham(a: Array[Byte], b: Array[Byte]): Int =
      java.lang.Long.bitCount(still64(a) ^ still64(b))
    // preconditions: the perturbation is WITHIN radius 6 and positive;
    // every other cross-frame distance is beyond it
    assert(ham(f2, f2p) > 0 && ham(f2, f2p) <= 6,
      s"perturbation out of radius: ${ham(f2, f2p)}")
    for (a <- Seq(f1, f2, f3, f2p); b <- Seq(far))
      assert(ham(a, b) > 6, s"far frame inside radius: ${ham(a, b)}")
    for ((a, b) <- Seq((f1, f2), (f1, f3), (f2, f3), (f1, f2p), (f3, f2p)))
      assert(ham(a, b) > 6, s"fixture frames too close: ${ham(a, b)}")
    val m = Seq(
      (1L, f1 ++ f2 ++ f3),
      (3L, f1 ++ f2p ++ f3), // one frame visually perturbed
      (4L, far ++ far))      // unrelated (within-video near frames!)
      .toDF("doc_id", "payload").withColumn("kind", lit("video"))
    val fuzzy = Multimodal.videoNearDupPairsFuzzy(m, maxHamming = 6)
      .as[(Long, Long, Long)].collect().toSet
    val exact = Multimodal.videoNearDupPairs(m, minSharedFrames = 1)
      .as[(Long, Long, Long)].collect().toSet
    // exact loses the perturbed frame (2 shared); fuzzy recovers all 3
    assert(exact.contains((1L, 3L, 2L)), s"exact: $exact")
    assert(fuzzy.contains((1L, 3L, 3L)),
      s"fuzzy must count the perturbed frame as shared: $fuzzy")
    // video 4's two identical frames are within-video evidence ONLY —
    // never a pair, and no cross pair forms beyond the radius
    assert(!fuzzy.exists(p => p._1 == 4L || p._2 == 4L), s"fuzzy: $fuzzy")
    // UNITS parity with the exact twin: a static-scene pair (every
    // frame of A near every frame of B) reads shared_frames = #frames,
    // not #near-frame-pairs — a minSharedFrames threshold must port
    // between the twins
    def g1p(x: Int, y: Int) = if (x < 2 && y < 2) (255, 255, 255) else g1(x, y)
    val f1p = ppm(9, 8, g1p)
    assert(ham(f1, f1p) > 0 && ham(f1, f1p) <= 6)
    val static = Seq((1L, f1 ++ f1p), (2L, f1 ++ f1p))
      .toDF("doc_id", "payload").withColumn("kind", lit("video"))
    val sPairs = Multimodal.videoNearDupPairsFuzzy(static, maxHamming = 6)
      .as[(Long, Long, Long)].collect().toSet
    assert(sPairs == Set((1L, 2L, 2L)),
      s"static-scene pair must cap at the frame count: $sPairs")
    // negative ids: the composite decomposition is an ARITHMETIC shift
    // — integer DIV would attribute video -1's frames to video 0
    val neg = Seq((-1L, f1 ++ f2), (0L, f1 ++ f3))
      .toDF("doc_id", "payload").withColumn("kind", lit("video"))
    val negPairs = Multimodal.videoNearDupPairsFuzzy(neg, maxHamming = 6)
      .as[(Long, Long, Long)].collect().toSet
    assert(negPairs == Set((-1L, 0L, 1L)),
      s"negative-id videos must pair on the shared frame: $negPairs")
  }

  test("fingerprint bias screen: full-entropy frames read every bit " +
    "near 0.5; under-grid frames pin bits to 0 and trip it") {
    val docs = (0L to 60L by 3).map(i => (i + 2, s"text number $i with words"))
      .toDF("doc_id", "text")
    val healthy = Multimodal.frameHashBias(Multimodal.attachPpmVideo(docs))
      .select($"n", $"min_p1", $"max_p1").collect().head
    assert(healthy.getLong(0) == 21 * 4)
    assert(healthy.getDouble(1) > 0.0 && healthy.getDouble(2) < 1.0,
      s"healthy fixture should not pin bits: $healthy")
    // 8x6 frames: grid cells share source pixels → some gradient bit
    // is structurally ALWAYS ZERO → min_p1 == 0 exactly
    val degen = Multimodal.frameHashBias(
      Multimodal.attachPpmVideo(docs, w = 8, h = 6))
      .select($"min_p1").collect().head.getDouble(0)
    assert(degen == 0.0, s"under-grid frames must pin a bit: $degen")
    // audio twin: unparseable payloads don't poison the stats (avg
    // skips nulls) and the fixture fingerprints are not pinned
    val media = Multimodal.attachWavAudio(docs.select($"doc_id" - 1
      as "doc_id", $"text"))
      .unionByName(Seq((999L, "audio", "nota wav".getBytes("US-ASCII")))
        .toDF("doc_id", "kind", "payload"))
    val aud = Multimodal.audioFingerprintBias(media).collect().head
    assert(aud.getLong(0) == 21, s"null fingerprints must not count: $aud")
    // the index-rows twin: per-band stats over PERSISTED band rows must
    // agree with the payload-side screen (same bits, regrouped by band)
    val imgs = Multimodal.attachPpmImages(docs.select($"doc_id" * 3
      as "doc_id", $"text"))
    val full = graft.operators.BandedHamming.fingerprintBiasStats(
      Multimodal.dHashImageBandRows(imgs, bands = 4, bandBits = 16)
        .select($"doc_id", $"bands").distinct()
        .select(expr("bands[0] | shiftleft(bands[1], 16) | " +
          "shiftleft(bands[2], 32) | shiftleft(bands[3], 48)").as("h")),
      "h").collect().head
    val perBand = graft.operators.BandedHamming.bandBitBiasStats(
      Multimodal.dHashImageBandRows(imgs, bands = 4, bandBits = 16), 16)
      .collect()
    assert(perBand.length == 4)
    assert(perBand.map(_.getLong(1)).distinct.toSeq == Seq(21L))
    val mn = perBand.map(_.getDouble(2)).min
    val mx = perBand.map(_.getDouble(3)).max
    assert(math.abs(mn - full.getDouble(1)) < 1e-12 &&
      math.abs(mx - full.getDouble(2)) < 1e-12,
      s"index-rows bias ($mn, $mx) != payload-side bias $full")
  }

  test("attachPpmVideo: 4 decodable frames per video; equality tracks " +
    "text equality; frames differ within a video") {
    val d = Seq((2L, "alpha"), (5L, "beta"), (8L, "alpha"), (6L, "skip"))
      .toDF("doc_id", "text")
    val m = Multimodal.attachPpmVideo(d)
    val rows = m.select($"doc_id", $"payload").as[(Long, Array[Byte])]
      .collect().toMap
    assert(rows.keySet == Set(2L, 5L, 8L), "video-kind ids only")
    val frameLen = "P6\n12 10\n255\n".length + 12 * 10 * 3
    assert(rows.values.forall(_.length == 4 * frameLen))
    assert(rows(2L).sameElements(rows(8L)), "same text => same payload")
    val hashes = Multimodal.sampleFrameHashes(m)
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    assert(hashes.keySet == Set(2L, 5L, 8L))
    hashes.values.foreach(f => assert(f.length == 4, "4 frames each"))
    // frame-salted sha chunks: frames within a video are distinct
    assert(hashes(2L).map(_._3).distinct.length > 1)
  }

  test("sampleFrames: bounded count, monotone in-payload offsets") {
    val frames = Multimodal.sampleFrames(Multimodal.attachMedia(docs))
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    assert(frames.nonEmpty)
    frames.foreach { case (_, fs) =>
      assert(fs.length >= 1 && fs.length <= 8)
      val offs = fs.sortBy(_._2).map(_._3).toSeq
      assert(offs.forall(o => o >= 3 && o < 35))
      assert(offs == offs.sorted)
    }
  }

  test("dHash64 + BandedHamming.bandRows replays dHashBandRows exactly " +
    "for both supported layouts (the hash-once re-banding contract)") {
    // the multi-layout gate queries compute the 64-bit hash ONCE and
    // re-band it per layout — valid only if bandRows' shiftright+mask
    // slicing reproduces the kernel's own banding bit for bit
    val wide = Seq.tabulate(40)(i => (i.toLong, s"text body $i word"))
      .toDF("doc_id", "text")
    val media = Multimodal.attachMedia(wide)
    val hashed = Multimodal.dHash64(media)
    for ((b, bb) <- Seq((4, 16), (2, 32), (1, 64))) {
      val direct = Multimodal.dHashBandRows(media, b, bb)
        .select("doc_id", "band_idx", "band_key")
      val rebanded = graft.operators.BandedHamming
        .bandRows(hashed, "dhash", b, bb)
        .select("doc_id", "band_idx", "band_key")
      assert(direct.exceptAll(rebanded).isEmpty &&
        rebanded.exceptAll(direct).isEmpty,
        s"layout ${b}x$bb: re-banded rows differ from the kernel's own")
    }
    // and through the pair join: identical verified pair sets (the
    // mm_dhash_auto restructure's result-equality claim)
    val viaKernel = Multimodal.dHashNearDupPairs(media, maxHamming = 6,
      bands = 4, bandBits = 16, storage = None)
    val viaRebanding = graft.operators.BandedHamming.pairJoin(
      graft.operators.BandedHamming.bandRows(hashed, "dhash", 4, 16),
      maxHamming = 6, bands = 4, bandBits = 16, probeRadius = 0,
      maxBucketSize = None, storage = None)
    assert(viaKernel.exceptAll(viaRebanding).isEmpty &&
      viaRebanding.exceptAll(viaKernel).isEmpty)
  }

  /** One media kind of the banded-Hamming family, driven through its
    * public operators: `flag`/`report`/`incr`/`pairs` take
    * `(bands, nHint)` and leave every other argument at its default;
    * an explicit `bands` takes `bandBits = 64 / bands`.
    */
  private case class MediaKind(name: String, residue: Int,
      attach: DataFrame => DataFrame, flagName: String, reportName: String,
      flag: (DataFrame, DataFrame, Int, Long) => DataFrame,
      report: (DataFrame, DataFrame, Int, Long) => DataFrame,
      incr: (DataFrame, DataFrame, DataFrame, Int) => DataFrame,
      pairs: (DataFrame, Int, Long) => DataFrame)

  private val mediaKinds = {
    import Multimodal._
    def bb(bands: Int) = if (bands == 0) 16 else 64 / bands
    def image(name: String, attach: DataFrame => DataFrame,
        decodePixels: Boolean,
        pairs: (DataFrame, Int, Long) => DataFrame) =
      MediaKind(name, 0, attach,
        "dHashDecontaminateFlag", "dHashDecontaminateReport",
        (c, e, b, n) => dHashDecontaminateFlag(c, e, bands = b,
          bandBits = bb(b), decodePixels = decodePixels, nHint = n),
        (c, e, b, n) => dHashDecontaminateReport(c, e, bands = b,
          bandBits = bb(b), decodePixels = decodePixels, nHint = n),
        (c, p, e, b) => dHashDecontaminateIncr(c, p, e, bands = b,
          bandBits = bb(b), decodePixels = decodePixels),
        pairs)
    Seq(
      image("image bytes", attachMedia, decodePixels = false,
        (m, b, n) => dHashNearDupPairs(m, bands = b, bandBits = bb(b),
          nHint = n)),
      image("image pixels", attachPpmImages(_), decodePixels = true,
        (m, b, n) => dHashImageNearDupPairs(m, bands = b, bandBits = bb(b),
          nHint = n)),
      MediaKind("audio", 1, attachWavAudio(_),
        "audioDecontaminateFlag", "audioDecontaminateReport",
        (c, e, b, n) => audioDecontaminateFlag(c, e, bands = b,
          bandBits = bb(b), nHint = n),
        (c, e, b, n) => audioDecontaminateReport(c, e, bands = b,
          bandBits = bb(b), nHint = n),
        (c, p, e, b) => audioDecontaminateIncr(c, p, e, bands = b,
          bandBits = bb(b)),
        (m, b, n) => audioNearDupPairs(m, bands = b, bandBits = bb(b),
          nHint = n)),
      MediaKind("video frames", 2, attachPpmVideo(_),
        "videoDecontaminateFlag", "videoDecontaminateReport",
        (c, e, b, n) => videoDecontaminateFlag(c, e, bands = b,
          bandBits = bb(b), nHint = n),
        (c, e, b, n) => videoDecontaminateReport(c, e, bands = b,
          bandBits = bb(b), nHint = n),
        (c, p, e, b) => videoDecontaminateIncr(c, p, e, bands = b,
          bandBits = bb(b)),
        (m, b, n) => videoNearDupPairsFuzzy(m, bands = b, bandBits = bb(b),
          nHint = n)))
  }

  test("media family contracts, per kind: a streaming corpus at bands = 0 " +
    "without nHint is refused by name; Incr at bands = 0 equals a full " +
    "re-flag; NearDupPairs at bands = 0 with nHint = n equals explicit 4x16") {
    // 36 docs, 12 per kind, 4 distinct texts per kind, 3 copies each
    val corpusDocs = Seq.tabulate(36)(i => (i.toLong, s"doc ${i % 12}"))
      .toDF("doc_id", "text")
    // benchmark ids shift by multiples of 3, so each keeps its kind
    def bench(lo: Int, hi: Int, off: Long) = corpusDocs
      .filter($"doc_id" >= lo && $"doc_id" < hi)
      .select(($"doc_id" + off).as("doc_id"), $"text")
    val unseen = Seq.tabulate(3)(i => (900L + i, s"unseen $i"))
      .toDF("doc_id", "text")
    val stream = spark.readStream.format("rate").load()
      .select($"value".as("doc_id"), $"value".cast("string").as("text"))
    for (k <- mediaKinds) {
      val streamed = k.attach(stream)
      for ((fn, op) <- Seq(k.flagName -> k.flag, k.reportName -> k.report)) {
        val err = intercept[IllegalArgumentException] {
          op(streamed, k.attach(bench(0, 3, 360)), 0, -1L)
        }
        assert(err.getMessage.contains(s"$fn: a streaming corpus needs"),
          s"${k.name}: $fn must refuse the stream by name: ${err.getMessage}")
      }
      val corpus = k.attach(corpusDocs)
      val oldB = k.attach(bench(0, 3, 360))
      val newB = k.attach(bench(3, 6, 720).unionByName(unseen))
      def ids(df: DataFrame) = df.select($"doc_id").as[Long].collect().toSet
      val prev = k.flag(corpus, oldB, 0, -1L)
      val incr = ids(k.incr(corpus, prev, newB, 0))
      val full = ids(k.flag(corpus, oldB.unionByName(newB), 0, -1L))
      // doc_id % 12 == residue or residue + 3: the two bench texts
      val identity = (0 until 36).filter(i =>
        i % 12 == k.residue || i % 12 == k.residue + 3).map(_.toLong).toSet
      assert(incr == full, s"${k.name}: incr $incr != full re-flag $full")
      assert(identity.subsetOf(full), s"${k.name}: $identity ⊄ $full")
      val n = k.attach(corpusDocs).count()
      def pairSet(df: DataFrame) =
        df.select($"d1", $"d2").as[(Long, Long)].collect().toSet
      val auto = pairSet(k.pairs(corpus, 0, n))
      assert(auto == pairSet(k.pairs(corpus, 4, -1L)),
        s"${k.name}: bands = 0 with nHint = $n differs from explicit 4x16")
      assert(auto.size >= 12, s"${k.name}: 4 texts x 3 copies: $auto")
    }
  }
}
