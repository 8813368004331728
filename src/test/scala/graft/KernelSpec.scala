package graft

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{abi, KernelCall, Kernels}

/** The kernel table: analysis-time input types, and every row agreeing
  * with itself compiled and interpreted.
  */
class KernelSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("wrong-typed kernel arguments fail analysis, naming the function and argument") {
    graft.plans.GraftFunctions.register(spark)
    Seq(
      "u256_to_decimal(1)" -> "1",
      "u256_to_decimal('abc')" -> "abc",
      "keccak256(5)" -> "5",
      "simhash64(array('a'))" -> "array(a)").foreach { case (call, arg) =>
      val e = intercept[AnalysisException](spark.sql(s"SELECT $call").collect())
      val fn = call.takeWhile(_ != '(')
      assert(e.getMessage.contains(fn) && e.getMessage.contains(arg), e.getMessage)
    }
    val e = intercept[AnalysisException](Seq(1).toDF("x").select(abi.u256($"x")))
    assert(e.getMessage.contains("u256_to_decimal") && e.getMessage.contains("x"),
      e.getMessage)
  }

  // ---- fixed inputs ----
  private def word(v: Int): Array[Byte] = Array.fill[Byte](31)(0) :+ v.toByte
  // [head = 0x20][n = 2][1][2]: a two-word dynamic tail behind head word 0
  private val tail = Seq(0x20, 2, 1, 2).flatMap(word(_).toSeq).toArray
  private val ppm = "P6\n4 4\n255\n".getBytes("US-ASCII") ++
    Array.tabulate[Byte](48)(i => (i * 5).toByte)
  private val pgm = "P5\n4 4\n255\n".getBytes("US-ASCII") ++
    Array.tabulate[Byte](16)(i => (i * 16).toByte)
  private val wav = graft.operators.Multimodal.wavHeader(96) ++
    Array.tabulate[Byte](96)(i => (i * 37).toByte)
  private val bloom = {
    val f = org.apache.spark.util.sketch.BloomFilter.create(100)
    f.putLong(1L)
    val out = new java.io.ByteArrayOutputStream
    f.writeTo(out)
    out.toByteArray
  }

  /** One row's call: params, input types, input rows. */
  private case class Case(params: Seq[Any], types: Seq[DataType], rows: Seq[Seq[Any]])

  private val LongArr = ArrayType(LongType)
  private val FloatArr = ArrayType(FloatType)
  private val DoubleArr = ArrayType(DoubleType)
  // garbage, truncated and empty payloads make every nullable row null
  private def bin(ps: Any*) = Case(ps, Seq(BinaryType),
    Seq(null, Array.emptyByteArray, word(42), Array.fill[Byte](32)(-1), tail,
      ppm, pgm, wav, ppm ++ ppm).map(Seq(_)))
  private def str(ps: Any*) = Case(ps, Seq(StringType),
    Seq(null, "", "a", "The quick, brown fox! The end.", "e\u0301 café 日本語").map(Seq(_)))
  private def hashes(ps: Any*) = Case(ps, Seq(LongArr),
    Seq(null, Seq(), Seq(5L), (1L to 12L).map(_ * 7919L)).map(Seq(_)))

  private val cases: Map[String, Case] = Map(
    "u256_to_decimal" -> bin(0),
    "i256_to_decimal" -> bin(2),
    "abi_word_nonzero" -> bin(),
    "keccak256" -> bin(),
    "abi_word_tail_array" -> bin(0, true),
    "abi_word_tail_slice_array" -> bin(0, "address"),
    "abi_nested_word_tail_array" -> bin(0, false),
    "abi_dyn_tail_array" -> bin(0, true, -1),
    "abi_tuple_word_tail_array" -> bin(0, Seq("uint256" -> "a", "bool" -> "b")),
    "abi_dyn_tuple_tail_struct" -> bin(0, Seq("uint256" -> "a", "string" -> "s")),
    "abi_dyn_tuple_word_tail_array" -> bin(0, Seq("address" -> "a", "bytes" -> "b")),
    "bloom_might_contain" -> Case(Nil, Seq(BinaryType, IntegerType),
      Seq(Seq(bloom, 1), Seq(bloom, 99), Seq(null, 1), Seq(bloom, null))),
    "vector_dot" -> Case(Nil, Seq(FloatArr, DoubleArr), Seq(
      Seq(Seq(1f, 2f), Seq(0.5, -1.0)), Seq(null, Seq(1.0, 2.0)), Seq(Seq(3f, 4f), Seq(3.0, 4.0)))),
    "cos_ge" -> Case(Seq(1L, 2L), Seq(DoubleArr, DoubleArr), Seq(
      Seq(Seq(1.0, 0.0), Seq(1.0, 1.0)), Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), Seq(Seq(1.0, 2.0), null))),
    "quant_residual" -> Case(Seq(127), Seq(FloatArr, DoubleArr), Seq(
      Seq(Seq(1f, 2f), Seq(0.0, 0.5)), Seq(null, Seq(0.0, 0.0)), Seq(Seq(1f, 1f), Seq(1.0, 1.0)))),
    "quant_stats" -> Case(Seq(15), Seq(DoubleArr),
      Seq(null, Seq(1.0, -2.5, 0.25), Seq(0.0)).map(Seq(_))),
    "dot_codes" -> Case(Nil, Seq(DoubleArr, BinaryType), Seq(
      Seq(Seq(1.0, 2.0), Array[Byte](3, -4)), Seq(null, Array[Byte](1, 1)), Seq(Seq(1.0, 2.0), null))),
    "codes_dot" -> Case(Nil, Seq(BinaryType, BinaryType), Seq(
      Seq(Array[Byte](3, -4), Array[Byte](5, 6)), Seq(Array[Byte](1), null))),
    "nearest_centroids" -> Case(Seq(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), 1), Seq(FloatArr),
      Seq(null, Seq(0.9f, 0.1f), Seq(0.2f, 0.7f)).map(Seq(_))),
    "simhash64" -> hashes(),
    "minhash_sig" -> hashes(4),
    "ngram_hashes" -> hashes(2, true),
    "lsh_band_keys" -> Case(Seq(2, 2), Seq(LongArr),
      Seq(null, Seq(1L, 2L, 3L, 4L), Seq(5L, 6L, 7L, 8L)).map(Seq(_))),
    "winnow_hashes" -> hashes(3),
    "sig_agreement" -> Case(Nil, Seq(LongArr, LongArr), Seq(
      Seq(Seq(1L, 2L, 3L), Seq(1L, 5L, 3L)), Seq(null, Seq(1L)), Seq(Seq(), Seq()))),
    "char_ngram_hashes" -> str(3),
    "ws_token_hashes" -> str(),
    "token_counts" -> str(),
    "lang_stats" -> str(Seq(Seq("the", "end"), Seq("café"))),
    "term_tf" -> str(Seq("the", "end")),
    "rolling_fp" -> str(1000000007L),
    "hash_embed_vec" -> str(3, 8),
    "nfc_normalize" -> str(),
    "bpe_encode" -> str(Seq("t" -> "h", "th" -> "e")),
    "dhash_bands" -> str(4, 16),
    "dhash_image_bands" -> bin(4, 16),
    "ppm_resize" -> bin(2, 2),
    "image_to_ppm" -> bin(),
    "image_stats" -> bin(),
    "ppm_to_png" -> bin(),
    "ppm_to_jpeg" -> bin(),
    "pgm_to_gray_png" -> bin(),
    "pgm_rescale" -> bin(15),
    "video_frame_dhashes" -> bin(2),
    "audio_fingerprint64" -> bin(),
    "wav_to_aiff" -> bin(),
    "audio_to_wav" -> bin(),
    "wav_to_float32" -> bin())

  /** Deep rendering: binary as hex, so nested byte arrays compare by value. */
  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x'", "", "'")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def session(conf: (String, String)*): SparkSession = {
    val s = spark.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  test("every kernel row: compiled and interpreted agree, nulls included") {
    assert(cases.keySet == Kernels.names)
    // CODEGEN_ONLY with no whole-stage fallback: a Janino compile failure
    // fails the query instead of silently running interpreted
    val compiled = session("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val interpreted = session("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    cases.toSeq.sortBy(_._1).foreach { case (name, c) =>
      def run(s: SparkSession): Seq[String] = {
        val schema = StructType(c.types.zipWithIndex.map { case (t, i) =>
          StructField(s"c$i", t) })
        val df = s.createDataFrame(
          s.sparkContext.parallelize(c.rows.map(Row.fromSeq), 1), schema)
          .select(Kernels.call(name, schema.fieldNames.map(col).toSeq, c.params: _*))
        val nodes = df.queryExecution.analyzed.expressions
          .flatMap(_.collect { case k: KernelCall => k })
        assert(nodes.length == 1, s"$name: $nodes")
        assert(nodes.head.prettyName == name)
        assert(!nodes.head.isInstanceOf[CodegenFallback], name)
        df.collect().map(r => render(r.get(0))).toSeq
      }
      val out = run(compiled)
      assert(out == run(interpreted), s"$name: compiled vs interpreted")
      val nullIn = c.rows.map(_.contains(null))
      assert(out.zip(nullIn).exists { case (o, n) => n && o == "null" },
        s"$name: a null input must give null: $out")
      if (Kernels(name).nullable)
        assert(out.zip(nullIn).exists { case (o, n) => !n && o == "null" },
          s"$name: nullable row needs an input with a null result: $out")
    }
  }
}
