package graft.functions

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.{Column, GraftColumnShim, GraftExpectsInputTypes}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** A plan-time kernel parameter: how its SQL literal argument is read,
  * the value a left-out trailing argument takes, and how the value shows
  * in plan strings.
  */
final case class Param(
    read: (Expression, String) => Any,
    default: Option[Any] = None,
    show: Any => Any = identity) {
  def or(d: Any): Param = copy(default = Some(d))
}

/** One native kernel: a static runtime method plus how a call maps onto
  * it. The method takes the call's inputs first, then the trailing
  * values `args` derives from the params and the input types.
  *
  * @param method   fully-qualified static method the generated code calls
  * @param inputs   accepted types of each input, checked at analysis with
  *                 no implicit casts
  * @param out      result type, from the params
  * @param nullable the method may return null for non-null inputs (a null
  *                 reference, or a null box for a primitive result type)
  * @param check    plan-time argument checks, run whenever a call is built
  * @param args     trailing runtime arguments; ints, longs and booleans are
  *                 inlined as Java literals, anything else is passed as a
  *                 codegen reference object
  */
final case class Kernel(
    method: String,
    inputs: Seq[Seq[DataType]],
    out: Seq[Any] => DataType,
    nullable: Boolean = false,
    params: Seq[Param] = Nil,
    check: Seq[Any] => Unit = _ => (),
    args: (Seq[Any], Seq[DataType]) => Seq[Any] = (ps, _) => ps)

/** One call of the [[Kernels]] row `name` on per-row `children` with
  * plan-time `params`: the single Catalyst node behind every table-driven
  * kernel. It compiles to one static call inside whole-stage codegen and
  * evaluates interpreted by invoking the same method reflectively.
  * Equality is structural over `(name, children, params)`, so CSE merges
  * equal calls, and plan strings print `name(children, params)`.
  */
case class KernelCall(name: String, children: Seq[Expression], params: Seq[Any])
    extends Expression with GraftExpectsInputTypes {
  @transient private lazy val kernel: Kernel = Kernels(name)
  require(children.length == kernel.inputs.length &&
    params.length == kernel.params.length,
    s"$name: expected ${kernel.inputs.length} inputs and " +
      s"${kernel.params.length} params, got ${children.length} and ${params.length}")
  kernel.check(params)

  override def prettyName: String = name
  override def acceptedTypes: Seq[Seq[DataType]] = kernel.inputs
  override def dataType: DataType = kernel.out(params)
  override def nullable: Boolean = kernel.nullable || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ params.lazyZip(kernel.params).map((v, p) => p.show(v))

  // derived runtime arguments (kind codes, word tables, the BPE rank map,
  // the centroid kernel) are built once per instance
  @transient private lazy val extra: Array[AnyRef] =
    kernel.args(params, children.map(_.dataType)).map(_.asInstanceOf[AnyRef]).toArray

  @transient private lazy val method: Method = {
    val dot = kernel.method.lastIndexOf('.')
    val arity = children.length + extra.length
    Class.forName(kernel.method.take(dot)).getMethods.filter(m =>
      m.getName == kernel.method.drop(dot + 1) && m.getParameterCount == arity) match {
      case Array(m) => m
      case ms => throw new IllegalStateException(
        s"$name: ${ms.length} methods match ${kernel.method} with $arity arguments")
    }
  }

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length + extra.length)
    var i = 0
    while (i < children.length) {
      args(i) = children(i).eval(input).asInstanceOf[AnyRef]
      if (args(i) == null) return null
      i += 1
    }
    System.arraycopy(extra, 0, args, i, extra.length)
    try method.invoke(null, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val args = gens.map(_.value.toString) ++ extra.map {
      case v: java.lang.Integer => v.toString
      case v: java.lang.Long => s"${v}L"
      case v: java.lang.Boolean => v.toString
      case v => ctx.addReferenceObj("kernelArg", v, v.getClass.getCanonicalName)
    }
    val call = s"${kernel.method}(${args.mkString(", ")})"
    val jt = CodeGenerator.javaType(dataType)
    val init = CodeGenerator.defaultValue(dataType)
    val result =
      if (!kernel.nullable) s"${ev.value} = $call;"
      else if (CodeGenerator.isPrimitiveType(jt)) {
        val box = ctx.freshName("boxed")
        s"""
      java.lang.${CodeGenerator.boxedType(jt)} $box = $call;
      ${ev.isNull} = $box == null;
      ${ev.value} = ${ev.isNull} ? $init : $box.${jt}Value();
    """
      } else s"""
      ${ev.value} = $call;
      ${ev.isNull} = ${ev.value} == null;
    """
    // the unary and binary null-safe templates of Spark's own
    // UnaryExpression / BinaryExpression, so the generated Java is theirs
    if (!nullable) ev.copy(code = code"""
        ${gens.map(_.code).reduce(_ + _)}
        $jt ${ev.value} = $init;
        $result""", isNull = FalseLiteral)
    else if (gens.length == 1) ev.copy(code = code"""
        ${gens.head.code}
        boolean ${ev.isNull} = ${gens.head.isNull};
        $jt ${ev.value} = $init;
        ${ctx.nullSafeExec(children.head.nullable, gens.head.isNull.toString)(result)}
      """)
    else {
      val guarded = children.zip(gens).foldRight(s"""
              ${ev.isNull} = false; // resultCode could change nullability.
              $result
            """) { case ((c, g), inner) =>
        g.code.toString + ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $jt ${ev.value} = $init;
        $guarded
      """)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)
}

/** The kernel table, keyed by SQL name (= `prettyName`). Adding a kernel
  * is a static runtime method plus one row here.
  */
object Kernels {
  private val Abi = "graft.functions.AbiRuntime."
  private val Vec = "graft.functions.VectorRuntime."
  // the types one input accepts
  private val Bin = Seq(BinaryType)
  private val Str = Seq(StringType)
  private val Hashes = Seq(ArrayType(LongType))
  private val Doubles = Seq(ArrayType(DoubleType))
  private val Vector = Seq(ArrayType(FloatType), ArrayType(DoubleType))
  private val longs = ArrayType(LongType, containsNull = false)

  private val int = Param(litInt)
  private val long = Param(litLong)
  private val bool = Param(litBool)
  private val string = Param(litString)
  private val strings = Param(litStringSeq)
  private val matrix = Param(litDoubleMatrix, show = {
    case m: Seq[_] => s"${m.length}x${m.headOption.fold(0)(_.asInstanceOf[Seq[_]].length)} matrix"
  })
  /** A param set through the Column API only. */
  private val api = Param((_, fn) =>
    throw new IllegalArgumentException(s"$fn: this argument is not available in SQL"))

  private def isFloat(t: DataType): Boolean =
    t.asInstanceOf[ArrayType].elementType == FloatType
  private def floatFlag(ps: Seq[Any], ts: Seq[DataType]): Seq[Any] = isFloat(ts.head) +: ps
  private def comps(ps: Seq[Any]): Seq[(String, String)] =
    ps(1).asInstanceOf[Seq[(String, String)]]

  private def sliceKind(kind: Any): Int = kind match {
    case "address" => 0
    case "bytes32" => 1
    case "bool"    => 2
    case other => throw new IllegalArgumentException(
      s"abi_word_tail_slice_array: unsupported element kind $other")
  }

  /** Static-tuple component codes 0..4 ([[AbiRuntime.staticAt]]). */
  private def staticKinds(ps: Seq[Any]): Array[Int] = {
    require(comps(ps).nonEmpty,
      "abi_tuple_word_tail_array: tuple needs at least one component")
    comps(ps).map {
      case ("address", _) => 0
      case ("bytes32", _) => 1
      case ("bool", _)    => 2
      case (t, _) if t.startsWith("uint") => 3
      case (t, _) if t.startsWith("int")  => 4
      case (t, _) => throw new IllegalArgumentException(
        s"abi_tuple_word_tail_array: unsupported component type $t")
    }.toArray
  }

  /** Dynamic-tuple component codes ([[TupleComps.kindOf]]). */
  private def dynKinds(ps: Seq[Any]): Array[Int] =
    comps(ps).map(c => TupleComps.kindOf(c._1)).toArray
  private def dynCheck(fn: String)(ps: Seq[Any]): Unit = {
    require(comps(ps).nonEmpty, s"$fn: tuple needs at least one component")
    dynKinds(ps)
  }

  private def bpeRanks(merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) => m.put(a + " " + b, Integer.valueOf(i)) }
    m
  }

  private val table: Map[String, Kernel] = Map(
    // ABI word → Decimal(38, scale), null past 38 digits (the reference's
    // generated cast_u256, eth_event_macro/src/lib.rs:97-107); scale > 0
    // decodes ufixedMxN / fixedMxN from the raw word as the unscaled value
    "u256_to_decimal" -> Kernel(Abi + "u256ToDecimal", Seq(Bin),
      { case Seq(s: Int) => DecimalType(38, s) }, nullable = true, Seq(api.or(0))),
    "i256_to_decimal" -> Kernel(Abi + "i256ToDecimal", Seq(Bin),
      { case Seq(s: Int) => DecimalType(38, s) }, nullable = true, Seq(api.or(0))),
    // ABI bool word → any nonzero byte, the bool[] tail kernel's element test
    "abi_word_nonzero" -> Kernel(Abi + "wordNonZero", Seq(Bin), _ => BooleanType),
    // the hash behind event topic0 (ethabi Event::signature())
    "keccak256" -> Kernel(Abi + "keccak256", Seq(Bin), _ => BinaryType),
    // dynamic-tail decoders (data, headIdx, …): one compiled call per
    // array instead of an interpreted transform(sequence(…)) lambda
    "abi_word_tail_array" -> Kernel(Abi + "wordTailArray", Seq(Bin),
      _ => ArrayType(DecimalType(38, 0)), nullable = true, Seq(int, bool.or(false))),
    "abi_word_tail_slice_array" -> Kernel(Abi + "wordTailSliceArray", Seq(Bin),
      ps => ArrayType(if (ps(1) == "bool") BooleanType else BinaryType),
      nullable = true, Seq(int, string), check = ps => sliceKind(ps(1)),
      args = (ps, _) => Seq(ps(0), sliceKind(ps(1)))),
    "abi_nested_word_tail_array" -> Kernel(Abi + "nestedWordTailArray", Seq(Bin),
      _ => ArrayType(ArrayType(DecimalType(38, 0))), nullable = true,
      Seq(int, bool.or(false))),
    "abi_dyn_tail_array" -> Kernel(Abi + "dynTailArray", Seq(Bin),
      ps => ArrayType(if (ps(1) == true) StringType else BinaryType),
      nullable = true, Seq(int, bool, int.or(-1))),
    // tuple decoders: comps = (canonical type, struct field name) per component
    "abi_tuple_word_tail_array" -> Kernel(Abi + "tupleWordTailArray", Seq(Bin),
      ps => ArrayType(TupleComps.struct(comps(ps), staticKinds(ps))),
      nullable = true, Seq(int, api), check = ps => staticKinds(ps),
      args = (ps, _) => Seq(ps(0), staticKinds(ps))),
    "abi_dyn_tuple_tail_struct" -> Kernel(Abi + "dynTupleTailStruct", Seq(Bin),
      ps => TupleComps.struct(comps(ps), dynKinds(ps)),
      nullable = true, Seq(int, api), check = dynCheck("abi_dyn_tuple_tail_struct"),
      args = (ps, _) => Seq(ps(0), dynKinds(ps))),
    "abi_dyn_tuple_word_tail_array" -> Kernel(Abi + "dynTupleWordTailArray", Seq(Bin),
      ps => ArrayType(TupleComps.struct(comps(ps), dynKinds(ps))),
      nullable = true, Seq(int, api), check = dynCheck("abi_dyn_tuple_word_tail_array"),
      args = (ps, _) => Seq(ps(0), dynKinds(ps))),

    // probe a DataFrameStatFunctions.bloomFilter blob for one integral key
    "bloom_might_contain" -> Kernel("graft.functions.BloomRuntime.mightContain",
      Seq(Bin, Seq(LongType, IntegerType, ShortType, ByteType)),
      _ => BooleanType),

    // vector kernels over array<float|double>: the element type rides as a flag
    "vector_dot" -> Kernel(Vec + "dot", Seq(Vector, Vector), _ => DoubleType,
      args = (_, ts) => ts.map(isFloat)),
    "cos_ge" -> Kernel(Vec + "cosGe", Seq(Doubles, Doubles),
      _ => BooleanType, params = Seq(long, long), check = { case Seq(p2: Long, q2: Long) =>
        require(p2 > 0 && q2 >= p2, s"cos_ge: need 0 < p2 <= q2, got $p2/$q2") }),
    "quant_residual" -> Kernel(Vec + "quantResidual", Seq(Vector, Doubles),
      _ => StructType(Seq(StructField("codes", BinaryType, nullable = false),
        StructField("scale", DoubleType, nullable = false))),
      params = Seq(int), check = { case Seq(levels: Int) =>
        // int8 codes: past 127 the byte wraps and sign-flips every dot
        require(levels >= 1 && levels <= 127,
          s"quant_residual: levels must be in [1, 127], got $levels") },
      args = floatFlag),
    "quant_stats" -> Kernel(Vec + "quantStats", Seq(Vector),
      _ => ArrayType(DoubleType, containsNull = false),
      params = Seq(int), check = { case Seq(levels: Int) =>
        require(levels >= 1 && levels <= 127,
          s"quant_stats: levels must be in [1, 127], got $levels") },
      args = floatFlag),
    "dot_codes" -> Kernel(Vec + "dotCodes", Seq(Vector, Bin), _ => DoubleType,
      args = floatFlag),
    "codes_dot" -> Kernel(Vec + "codesDot", Seq(Bin, Bin), _ => LongType),
    "nearest_centroids" -> Kernel(Vec + "nearestCentroids", Seq(Vector),
      _ => ArrayType(IntegerType, containsNull = false), params = Seq(matrix, int),
      args = { case (Seq(cs: Seq[Seq[Double]] @unchecked, n: Int), ts) =>
        Seq(new NearestCentroidsKernel(cs.map(_.toArray).toArray, n, isFloat(ts.head))) }),

    // hash-sketch kernels over pre-hashed tokens/shingles (array<bigint>)
    "simhash64" -> Kernel(Vec + "simHash64", Seq(Hashes), _ => LongType),
    // null for an EMPTY gram set, not just a null input
    "minhash_sig" -> Kernel(Vec + "minHashSig", Seq(Hashes), _ => longs, nullable = true,
      Seq(int), check = { case Seq(k: Int) =>
        require(k >= 1, s"minhash_sig: numHashes must be >= 1, got $k") }),
    "ngram_hashes" -> Kernel(Vec + "ngramHashes", Seq(Hashes), _ => longs,
      params = Seq(int, bool.or(true)), check = { case Seq(n: Int, _) =>
        require(n >= 1, s"ngram_hashes: n must be >= 1, got $n") }),
    "lsh_band_keys" -> Kernel(Vec + "lshBandKeys", Seq(Hashes), _ => longs,
      params = Seq(int, int), check = { case Seq(b: Int, r: Int) =>
        require(b >= 1 && r >= 1,
          s"lsh_band_keys: need bands >= 1 and rowsPerBand >= 1, got $b/$r") }),
    "winnow_hashes" -> Kernel(Vec + "winnowHashes", Seq(Hashes), _ => longs, params = Seq(int)),
    "sig_agreement" -> Kernel(Vec + "sigAgreement", Seq(Hashes, Hashes), _ => IntegerType),

    // text kernels over strings
    "char_ngram_hashes" -> Kernel(Vec + "charNgramHashes", Seq(Str), _ => longs,
      params = Seq(int), check = { case Seq(n: Int) =>
        require(n >= 1, "char_ngram_hashes: n must be >= 1") }),
    "ws_token_hashes" -> Kernel(Vec + "wsTokenHashes", Seq(Str), _ => longs),
    "token_counts" -> Kernel(Vec + "tokenCounts", Seq(Str), _ => longs),
    // lowercased text → [v_0..v_{k-1}, n_ws, n_bpe, n_punct] per word list
    "lang_stats" -> Kernel(Vec + "langStats", Seq(Str), _ => longs, params = Seq(api),
      args = { case (Seq(ws: Seq[Seq[String]] @unchecked), _) =>
        Seq(ws.map(_.toArray).toArray) }),
    // text → [dl, tf_1..tf_m] for a literal term list, one tokenizer pass
    // (TextOps.bm25TopK's hot loop)
    "term_tf" -> Kernel(Vec + "termTf", Seq(Str), _ => longs, params = Seq(strings),
      args = { case (Seq(ts: Seq[String] @unchecked), _) => Seq(ts.toArray) }),
    "rolling_fp" -> Kernel(Vec + "rollingFp", Seq(Str), _ => LongType, params = Seq(long)),
    // n ≤ 3 keeps the gram code inside exact int64, so the DuckDB oracle
    // can restate the hash in plain BIGINT arithmetic
    "hash_embed_vec" -> Kernel(Vec + "hashEmbedVec", Seq(Str), _ => longs,
      params = Seq(int, int), check = { case Seq(n: Int, dim: Int) =>
        require(n >= 1 && n <= 3,
          s"hash_embed_vec: n must be in [1, 3] (int64-exact gram codes), got $n")
        require(dim >= 2, s"hash_embed_vec: dim must be >= 2, got $dim") }),
    "nfc_normalize" -> Kernel(Vec + "nfc", Seq(Str), _ => StringType),
    // the learned merge list rides the plan; its rank map is built once
    "bpe_encode" -> Kernel(Vec + "bpeEncode", Seq(Str),
      _ => ArrayType(StringType, containsNull = false), params = Seq(api),
      args = { case (Seq(ms: Seq[(String, String)] @unchecked), _) => Seq(bpeRanks(ms)) }),
    // cyclic byte-gradient hash; null under 2 bytes (no gradient)
    "dhash_bands" -> Kernel(Vec + "dHashBands", Seq(Str), _ => longs, nullable = true,
      Seq(int, int), check = { case Seq(bands: Int, bandBits: Int) =>
        require(bands >= 1, s"dhash_bands: bands must be >= 1, got $bands")
        // 64 is the un-banded case: one long carrying the full hash
        require(bandBits >= 1 && bandBits <= 64,
          s"dhash_bands: bandBits must be in [1, 64], got $bandBits") }),

    // media kernels over binary payloads: null for anything malformed
    "dhash_image_bands" -> Kernel(Vec + "dHashImageBands", Seq(Bin), _ => longs,
      nullable = true, Seq(int, int), check = { case Seq(bands: Int, bandBits: Int) =>
        require(bands >= 1 && bandBits >= 1 && bands * bandBits == 64,
          s"dhash_image_bands: bands × bandBits must equal the 64 dHash bits, " +
            s"got $bands × $bandBits") }),
    "ppm_resize" -> Kernel(Vec + "ppmResize", Seq(Bin), _ => BinaryType, nullable = true,
      Seq(int, int), check = { case Seq(outW: Int, outH: Int) =>
        require(outW >= 1 && outH >= 1,
          s"ppm_resize: target dims must be >= 1, got ${outW}x$outH")
        // one output array: reject an Int-overflowing product at plan time
        require(outW.toLong * outH * 3L + 32L <= Int.MaxValue,
          s"ppm_resize: ${outW}x$outH output exceeds the 2 GiB array bound") }),
    "image_to_ppm" -> Kernel(Vec + "imageToPpm", Seq(Bin), _ => BinaryType, nullable = true),
    "image_stats" -> Kernel(Vec + "imageStats", Seq(Bin), _ => longs, nullable = true),
    "ppm_to_png" -> Kernel(Vec + "ppmToPng", Seq(Bin), _ => BinaryType, nullable = true),
    "ppm_to_jpeg" -> Kernel(Vec + "ppmToJpeg", Seq(Bin), _ => BinaryType, nullable = true),
    "pgm_to_gray_png" -> Kernel(Vec + "pgmToGrayPng", Seq(Bin), _ => BinaryType, nullable = true),
    "pgm_rescale" -> Kernel(Vec + "pgmRescale", Seq(Bin), _ => BinaryType, nullable = true,
      Seq(int), check = { case Seq(m: Int) =>
        require(m >= 1 && m <= 255, s"pgm_rescale: need 1 <= newMaxval <= 255, got $m") }),
    "video_frame_dhashes" -> Kernel(Vec + "videoFrameDHashes", Seq(Bin), _ => longs,
      nullable = true, Seq(int), check = { case Seq(m: Int) =>
        require(m >= 1, s"video_frame_dhashes: maxFrames must be >= 1, got $m") }),
    "audio_fingerprint64" -> Kernel(Vec + "audioFingerprint64", Seq(Bin), _ => LongType,
      nullable = true),
    "wav_to_aiff" -> Kernel(Vec + "wavToAiff", Seq(Bin), _ => BinaryType, nullable = true),
    "audio_to_wav" -> Kernel(Vec + "audioToWav", Seq(Bin), _ => BinaryType, nullable = true),
    "wav_to_float32" -> Kernel(Vec + "wavToFloat32", Seq(Bin), _ => BinaryType, nullable = true))

  def apply(name: String): Kernel = table.getOrElse(name,
    throw new IllegalArgumentException(s"no kernel named $name"))

  def names: Set[String] = table.keySet

  /** Column-API call: `params` in the row's order, all given. */
  def call(name: String, inputs: Seq[Column], params: Any*): Column =
    GraftColumnShim.column(KernelCall(name, inputs.map(GraftColumnShim.expression), params))

  /** SQL builder: the row's inputs, then its params as foldable literals;
    * trailing params with a default may be left out.
    */
  def sql(name: String): Seq[Expression] => Expression = { es =>
    val k = apply(name)
    val (ins, lits) = es.splitAt(k.inputs.length)
    require(ins.length == k.inputs.length && lits.length <= k.params.length,
      s"$name: expected ${k.inputs.length} inputs and up to ${k.params.length} " +
        s"literal arguments, got ${es.length} arguments")
    KernelCall(name, ins, k.params.zipWithIndex.map { case (p, i) =>
      if (i < lits.length) p.read(lits(i), name)
      else p.default.getOrElse(throw new IllegalArgumentException(
        s"$name: missing literal argument ${ins.length + i + 1}"))
    })
  }

  private def litInt(e: Expression, fn: String): Int = {
    require(e.foldable, s"$fn: the count argument must be a literal")
    e.eval() match {
      case i: Int  => i
      case l: Long if l >= Int.MinValue && l <= Int.MaxValue => l.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: expected int-range integer literal, got $other")
    }
  }

  private def litLong(e: Expression, fn: String): Long = {
    require(e.foldable, s"$fn: the count argument must be a literal")
    e.eval() match {
      case i: Int  => i.toLong
      case l: Long => l
      case other => throw new IllegalArgumentException(
        s"$fn: expected integer literal, got $other")
    }
  }

  private def litStringSeq(e: Expression, fn: String): Seq[String] = {
    require(e.foldable, s"$fn: the term-list argument must be a literal array")
    e.eval() match {
      case a: ArrayData =>
        a.toObjectArray(StringType).toSeq.map {
          // String.valueOf(null) would fabricate the term "null"
          case null => throw new IllegalArgumentException(
            s"$fn: term list must not contain NULL elements")
          case s => s.toString
        }
      case other => throw new IllegalArgumentException(
        s"$fn: expected array<string> literal, got $other")
    }
  }

  private def litString(e: Expression, fn: String): String = {
    require(e.foldable, s"$fn: the kind argument must be a literal")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case s: String => s
      case other => throw new IllegalArgumentException(
        s"$fn: expected string literal, got $other")
    }
  }

  private def litDoubleMatrix(e: Expression, fn: String): Seq[Seq[Double]] = {
    require(e.foldable,
      s"$fn: the centroid argument must be a literal array<array<numeric>>")
    // accept every numeric element spelling (1.0 is DECIMAL in SQL, 1 is
    // INT) — a raw ClassCastException for the natural literal forms is
    // not an argument error a user can act on
    val elemType = e.dataType match {
      case ArrayType(ArrayType(t: NumericType, _), _) => t
      case other => throw new IllegalArgumentException(
        s"$fn: expected array<array<numeric>> literal, got $other")
    }
    def asDouble(x: Any): Double = x match {
      case null => throw new IllegalArgumentException(
        s"$fn: centroid components must not be NULL")
      case d: java.lang.Double => d
      case f: java.lang.Float => f.toDouble
      case dec: Decimal => dec.toDouble
      case n: java.lang.Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"$fn: non-numeric centroid component $other")
    }
    val a = e.eval().asInstanceOf[ArrayData]
    val rows = Seq.tabulate(a.numElements()) { i =>
      val inner = a.getArray(i)
      if (inner == null) throw new IllegalArgumentException(
        s"$fn: centroid rows must not be NULL")
      inner.toObjectArray(elemType).toSeq.map(asDouble)
    }
    // the kernel sizes its dim from row 0 — a ragged matrix would
    // silently truncate (or index past) every other centroid
    require(rows.nonEmpty && rows.forall(_.length == rows(0).length),
      s"$fn: centroid rows must be uniform length, got " +
        rows.map(_.length).mkString("[", ",", "]"))
    rows
  }

  private def litBool(e: Expression, fn: String): Boolean = {
    require(e.foldable, s"$fn: the flag argument must be a literal")
    e.eval() match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(
        s"$fn: expected boolean literal, got $other")
    }
  }
}
