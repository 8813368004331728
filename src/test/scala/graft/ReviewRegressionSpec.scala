package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.vec
import graft.model.{EventSchema, Hex, Keccak256}
import graft.operators.EventDecoder
import graft.sources.BlockOffset

/** Regressions for the round-1 review findings. */
class ReviewRegressionSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("replay source restart: planning resumes from the committed offset " +
    "(no offset regression)") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val stream = graft.sources.BlockReplay.stream(spark, Map(
      "path" -> "/root/testdata/sf0.001/events.parquet",
      "blockStep" -> "10", "confirmations" -> "2"))
    // recovery path: the engine hands the checkpointed offset as `start` —
    // the next planned offset must be beyond the committed 50, never below
    val next = BlockOffset.of(
      stream.latestOffset(BlockOffset(50L), ReadLimit.allAvailable()))
    assert(next > 50L, s"planned $next regressed below committed 50")
    // chunked admission control: at most blockStep past the committed start
    assert(next <= 60L, s"planned $next overshot start + blockStep")
    // allAvailable, the only limit the engine passes, leaves blockStep in
    // charge: a fresh start admits exactly blockStep blocks
    val wide = graft.sources.BlockReplay.stream(spark, Map(
      "path" -> "/root/testdata/sf0.001/events.parquet",
      "blockSize" -> "10", "blockStep" -> "50", "confirmations" -> "2"))
    assert(BlockOffset.of(
      wide.latestOffset(BlockOffset(-1L), ReadLimit.allAvailable())) == 49L)
  }

  test("footer head cache evicts entries for rotated-away files") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_rotate").toString
    val tracker = new graft.sources.FooterHeadTracker("event_id")
    val src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    def writeOne(name: String, lo: Long, hi: Long): Unit =
      src.filter(col("event_id").between(lo, hi)).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name")
    writeOne("a", 0, 99)
    assert(tracker.maxValue(spark, dir) == Some(99L))
    val before = tracker.cachedFileCount
    // rotate: a vanishes, b appears — the cache must not keep a's entry
    import scala.jdk.CollectionConverters._
    Files.walk(Paths.get(s"$dir/a")).iterator().asScala.toSeq
      .sortBy(-_.getNameCount).foreach(Files.delete)
    writeOne("b", 100, 199)
    assert(tracker.maxValue(spark, dir) == Some(199L))
    assert(tracker.cachedFileCount <= before,
      s"cache grew across rotation: ${tracker.cachedFileCount} > $before")
  }

  test("indexed dynamic param decodes to its topic hash (not a crash)") {
    val schema = EventSchema.parse("Note(string indexed tag, uint value)")
    val tagHash = Keccak256.hash("hello")
    val raw = Seq((1L, schema.topic0, tagHash,
        Hex.decode("00" * 31 + "2a")))
      .toDF("block_number", "topic0", "topic1", "data")
      .withColumn("topic2", lit(null).cast("binary"))
      .withColumn("topic3", lit(null).cast("binary"))
    val out = EventDecoder.decode(raw, schema)
      .select($"tag", $"value".cast("int")).collect().head
    assert(out.getAs[Array[Byte]](0).toSeq == tagHash.toSeq)
    assert(out.getInt(1) == 42)
  }

  test("anonymous events: no topic0 guard, indexed params start at topic0") {
    val schema = EventSchema.parse("Pair(uint a, address indexed who) anonymous")
    val who = Hex.address("0x" + "77" * 20)
    val raw = Seq((1L,
        Array.fill[Byte](12)(0) ++ who, // topic0 = first indexed param
        Hex.decode("00" * 31 + "07")))
      .toDF("block_number", "topic0", "data")
      .withColumn("topic1", lit(null).cast("binary"))
      .withColumn("topic2", lit(null).cast("binary"))
      .withColumn("topic3", lit(null).cast("binary"))
    val out = EventDecoder.decode(raw, schema)
      .select($"a".cast("int"), $"who").collect().head
    assert(out.getInt(0) == 7)
    assert(out.getAs[Array[Byte]](1).toSeq == who.toSeq)
  }

  test("non-power-of-two ABI widths parse (Uniswap V3 PoolCreated)") {
    val e = EventSchema.parse(
      "PoolCreated(address indexed token0, address indexed token1, " +
        "uint24 indexed fee, int24 tickSpacing, address pool)")
    assert(e.params.map(_.solType) ==
      Seq("address", "address", "uint24", "int24", "address"))
    intercept[IllegalArgumentException](EventSchema.parse("T(uint7 x)"))
    intercept[IllegalArgumentException](EventSchema.parse("T(uint264 x)"))
  }

  test("tokenCounts: surrogate pairs count once, matching the regex path") {
    val docs = Seq((1L, "hi 😀 there"), (2L, "café 😀😁"))
      .toDF("doc_id", "text")
    val kernel = docs.select($"doc_id",
        element_at(vec.tokenCounts($"text"), 2).as("n"))
      .as[(Long, Long)].collect().toMap
    val regex = docs.select($"doc_id",
        size(graft.operators.TextOps.bpeTokens($"text")).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(kernel == regex)
  }

  test("termTf: fused kernel matches the declarative tokenize+count path") {
    val docs = Seq(
      (1L, "Spark spark  SPARK\tvector"), // case folding + repeated ws
      (2L, " hash vector hash "),         // leading/trailing ws
      (3L, "😀 spark café\nhash😀hash"),  // surrogates inside/adjacent
      (4L, ""), (5L, "   "),              // empty and all-ws docs
      (6L, "vectorhash vector-hash vector hash")) // no substring matches
      .toDF("doc_id", "text")
    val terms = Seq("hash", "spark", "vector")
    val kernel = docs.select($"doc_id", vec.termTf($"text", terms).as("t"))
      .as[(Long, Seq[Long])].collect().toMap
    val toks = graft.operators.TextOps.wsTokens(lower($"text"))
    val declarative = docs.select($"doc_id",
        (size(toks).cast("long") +: terms.map(t =>
          size(filter(toks, x => x === lit(t))).cast("long"))
          match { case h +: rest => array((h +: rest): _*) }).as("t"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(kernel == declarative)
  }

  test("vector_dot rejects dimension mismatch instead of truncating") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val e = intercept[Exception](df.select(vec.dot($"a", $"b")).collect())
    assert(e.getMessage != null)
  }

  test("kernel guard rails: sig width, vector dim, empty u256, bm25 term case") {
    // mismatched signature widths fail loudly (silent prefix-compare
    // halved est_jaccard for mixed-width persisted indexes)
    val sigs = Seq((Seq(1L, 2L), Seq(1L, 2L, 3L))).toDF("a", "b")
    intercept[Exception](sigs.select(vec.sigAgreement($"a", $"b")).collect())
    // nearest-centroids rejects a wrong-dim vector (unchecked unsafe
    // read would dot garbage into an arbitrary cluster)
    val vecs = Seq((1L, Array(1.0f, 2.0f))).toDF("id", "v")
    intercept[Exception](vecs.select(
      vec.nearestCentroids($"v", Array(Array(1.0, 0.0, 0.0)), 1)).collect())
    // empty word (truncated blob) nulls, never a fabricated 0 amount
    val w = Seq(Tuple1(Array.emptyByteArray)).toDF("w")
    assert(w.select(graft.functions.abi.u256($"w")).head().isNullAt(0))
    // uppercase query terms match the lowercased corpus
    val docs = Seq((1L, "Hello world hello")).toDF("doc_id", "text")
    val hit = graft.operators.TextOps.bm25TopK(docs, Seq("HELLO"), k = 1,
      storage = None)
    assert(hit.select("tf_sum").as[Long].collect().head == 2L)
  }

  test("centroid cache is keyed by vector column, not just corpus key") {
    import graft.operators.Similarity
    // same corpus key, two embedding columns of DIFFERENT dimension: a
    // cache key missing vecCol serves the first column's 4-dim centroids
    // to the 8-dim column and the dot kernel rejects the mismatch
    val rows = (0 until 12).map { i =>
      (i.toLong,
        Seq.tabulate(4)(j => if (j == i % 4) 1.0f else 0.1f),
        Seq.tabulate(8)(j => if (j == i % 8) 1.0f else 0.1f))
    }
    val d = rows.toDF("vec_id", "va", "vb")
    val key = Some("regress-cache-veccol")
    val a = Similarity.ivfTopK(d, d.filter($"vec_id" < 2), 3,
      nlist = 2, nprobe = 2, vecCol = "va", corpusKey = key)
    assert(a.count() > 0)
    val b = Similarity.ivfTopK(d, d.filter($"vec_id" < 2), 3,
      nlist = 2, nprobe = 2, vecCol = "vb", corpusKey = key)
    assert(b.count() > 0)
  }

  test("retry does not retry on InterruptedException") {
    var calls = 0
    intercept[InterruptedException] {
      graft.sources.Retry.withBackoff(attempts = 4, sleep = _ => ()) { () =>
        calls += 1; throw new InterruptedException("stop")
      }
    }
    assert(calls == 1)
    assert(Thread.interrupted(), "interrupt flag should be restored") // clears it
  }

  test("orderedCumsum keeps rows with null bucket and null group keys") {
    import graft.operators.Sampling
    val df = Seq(
      (1L, Some("a"), Some(10L)), (2L, Some("a"), None),
      (3L, None, Some(5L)), (4L, None, None)
    ).toDF("id", "g", "v")
    val out = Sampling.orderedCumsum(df, col("v") / 8, Seq(col("id")),
      lit(1L), "rank", totalName = Some("n"), partCols = Seq("g"))
    assert(out.count() == 4L, "null-keyed rows must survive the offsets join")
    // per-group totals include the null-bucket rows
    val ns = out.select($"g", $"n").distinct()
      .as[(Option[String], Long)].collect().toMap
    assert(ns == Map(Some("a") -> 2L, None -> 2L))
  }

  test("quantileBins routes NaN scores to the top of the order") {
    import graft.operators.Sampling
    val df = Seq((1L, 0.2), (2L, Double.NaN), (3L, 0.9), (4L, 0.5))
      .toDF("doc_id", "score")
    val got = Sampling.quantileBins(df, col("score"), nbins = 4)
      .select($"doc_id", $"rank").as[(Long, Long)].collect().toMap
    // NaN sorts after every double in Spark AND DuckDB -> rank 4
    assert(got == Map(1L -> 1L, 4L -> 2L, 3L -> 3L, 2L -> 4L))
    assert(!Sampling.quantileBins(df, col("score"), nbins = 4)
      .columns.contains("__score"))
  }

  test("negativePairs on a single-document table emits nothing, never a self-pair") {
    import graft.operators.Sampling
    val one = Seq((0L, "en")).toDF("doc_id", "lang")
    assert(Sampling.negativePairs(one, k = 3).count() == 0L)
  }
}
