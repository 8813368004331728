package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._

import graft.model.Keccak256

/** Static runtime helpers called from both interpreted eval and generated
  * code (a static call keeps the expression inside whole-stage codegen —
  * no boxing, no UDF serialization).
  */
object AbiRuntime {
  /** 32-byte big-endian unsigned word → Decimal(38,0); null when the value
    * exceeds 38 digits (nullable-on-overflow — deliberate improvement over
    * the reference's panic, eth_event_macro/src/lib.rs:134; see SURVEY §1.5
    * for the width tradeoff).
    */
  def u256ToDecimal(bytes: Array[Byte]): Decimal = {
    // empty slice (truncated blob) nulls like the signed twin — a
    // fabricated 0 is a plausible-looking WRONG amount
    if (bytes.length == 0) return null
    val bi = new java.math.BigInteger(1, bytes)
    val d = Decimal(scala.math.BigDecimal(bi))
    if (d.changePrecision(38, 0)) d else null
  }

  /** Scaled variant (`ufixedMxN` decode): the raw word is the UNSCALED
    * value, so `Decimal(raw, scale)` covers the full Decimal(38,scale)
    * range — the null threshold is 38 significant digits of the raw
    * word, identical to the scale-0 policy (not 38−N, which a
    * divide-after-cast decode would impose).
    */
  def u256ToDecimal(bytes: Array[Byte], scale: Int): Decimal = {
    if (scale == 0) return u256ToDecimal(bytes)
    if (bytes.length == 0) return null
    val bi = new java.math.BigInteger(1, bytes)
    val d = Decimal(scala.math.BigDecimal(new java.math.BigDecimal(bi, scale)))
    if (d.changePrecision(38, scale)) d else null
  }

  /** Signed (two's-complement) int256 word → Decimal(38,0), null on overflow
    * (and on an empty slice — a truncated word must not throw).
    */
  def i256ToDecimal(bytes: Array[Byte]): Decimal = {
    if (bytes.length == 0) return null
    val bi = new java.math.BigInteger(bytes)
    val d = Decimal(scala.math.BigDecimal(bi))
    if (d.changePrecision(38, 0)) d else null
  }

  /** Scaled variant (`fixedMxN` decode) — see [[u256ToDecimal]]. */
  def i256ToDecimal(bytes: Array[Byte], scale: Int): Decimal = {
    if (scale == 0) return i256ToDecimal(bytes)
    if (bytes.length == 0) return null
    val bi = new java.math.BigInteger(bytes)
    val d = Decimal(scala.math.BigDecimal(new java.math.BigDecimal(bi, scale)))
    if (d.changePrecision(38, scale)) d else null
  }

  def keccak256(bytes: Array[Byte]): Array[Byte] = Keccak256.hash(bytes)

  /** Read a 32-byte offset/length word at `pos` as a non-negative Int.
    * Returns -1 when the word lies outside the blob OR encodes a value
    * beyond Int range — any nonzero byte above the low four (and the int
    * sign bit) is malformed: event data is contract-controlled, and a
    * crafted offset of 2^32+64 must read as malformed, not silently
    * truncate to 64 and decode plausible-looking wrong bytes.
    */
  private def offsetWord(data: Array[Byte], pos: Long): Int = {
    if (pos < 0 || pos + 32L > data.length) return -1
    val p = pos.toInt
    var i = p
    while (i < p + 28) { if (data(i) != 0) return -1; i += 1 }
    // a set sign bit (byte 28 ≥ 0x80) surfaces as a negative value, which
    // every call site already treats as malformed
    ((data(p + 28) & 0xff) << 24) | ((data(p + 29) & 0xff) << 16) |
      ((data(p + 30) & 0xff) << 8) | (data(p + 31) & 0xff)
  }

  /** ABI bool word → any nonzero byte. The same test the `bool[]` tail
    * kernel applies per element ([[wordTailSliceArray]] kind 2) — the
    * scalar path must not differ (a high-bit garbage word through a
    * Decimal(38,0) cast would null out where the array yields true).
    */
  def wordNonZero(bytes: Array[Byte]): Boolean = {
    var i = 0
    while (i < bytes.length) { if (bytes(i) != 0) return true; i += 1 }
    false
  }

  /** Decode a `uintN[]`/`intN[]` dynamic tail in one pass: the head word
    * at data word `headIdx` holds the byte offset of `[n][elem…]`; each
    * element is one 32-byte word → Decimal(38,0) (null on overflow, like
    * the scalar decode). Defensive on malformed payloads: a truncated
    * word decodes to a null ELEMENT and the element count is clamped to
    * what the blob can actually hold (a garbage length must not drive
    * allocation) — never an exception, matching nullable-on-mismatch.
    * Returns null (no array) when the head/length words themselves lie
    * outside the blob.
    */
  def wordTailArray(data: Array[Byte], headIdx: Int,
      signed: Boolean): org.apache.spark.sql.catalyst.util.ArrayData = {
    val off = offsetWord(data, headIdx * 32L)
    if (off < 0) return null
    val n0 = offsetWord(data, off.toLong)
    if (n0 < 0) return null
    val n = math.min(n0.toLong, math.max(0L, (data.length - off - 32L) / 32L)).toInt
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val start = off + 32 + i * 32
      val w = java.util.Arrays.copyOfRange(data, start, start + 32)
      out(i) = if (signed) i256ToDecimal(w) else u256ToDecimal(w)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Non-numeric `T[]` tail decode, same defensive bounds/clamp contract
    * as [[wordTailArray]]: kind 0 = address (bytes 12..32 of each word),
    * 1 = bytes32 (the raw word), 2 = bool (word ≠ 0).
    */
  def wordTailSliceArray(data: Array[Byte], headIdx: Int,
      kind: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val off = offsetWord(data, headIdx * 32L)
    if (off < 0) return null
    val n0 = offsetWord(data, off.toLong)
    if (n0 < 0) return null
    val n = math.min(n0.toLong, math.max(0L, (data.length - off - 32L) / 32L)).toInt
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = staticAt(data, off + 32 + i * 32, kind)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** `uintN[][]` / `intN[][]` nested tail decode: the outer tail is
    * `[n][off_0…off_{n-1}][inner tails…]` (offsets relative to the start
    * of the outer element list), each inner tail `[m][word_0…word_{m-1}]`
    * with one 32-byte word per element → `ARRAY<ARRAY<DECIMAL(38,0)>>`.
    * Same defensive contract as the flat kernels: malformed outer
    * head/count → null ARRAY; malformed per-element offset or inner
    * count → null INNER array; inner counts clamp to what the blob
    * holds; overflowing words → null elements. Never throws.
    */
  def nestedWordTailArray(data: Array[Byte], headIdx: Int,
      signed: Boolean): org.apache.spark.sql.catalyst.util.ArrayData = {
    val off = offsetWord(data, headIdx * 32L)
    if (off < 0) return null
    val n0 = offsetWord(data, off.toLong)
    if (n0 < 0) return null
    val base = off + 32L
    val n = math.min(n0.toLong, math.max(0L, (data.length - base) / 32L)).toInt
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val rel = offsetWord(data, base + i * 32L)
      out(i) =
        if (rel < 0) null
        else {
          val m0 = offsetWord(data, base + rel)
          if (m0 < 0) null
          else {
            val ibase = base + rel + 32L
            val m = math.min(m0.toLong,
              math.max(0L, (data.length - ibase) / 32L)).toInt
            val inner = new Array[Any](m)
            var j = 0
            while (j < m) {
              val start = (ibase + j * 32L).toInt
              val w = java.util.Arrays.copyOfRange(data, start, start + 32)
              inner(j) = if (signed) i256ToDecimal(w) else u256ToDecimal(w)
              j += 1
            }
            new org.apache.spark.sql.catalyst.util.GenericArrayData(inner)
          }
        }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** `(T1,…,Tk)[]` tail decode — dynamic array of STATIC tuples: the
    * tail is `[n][tuple_0 words]…[tuple_{n-1} words]`, each tuple k
    * consecutive words (static tuples inline in arrays; no per-element
    * offsets). `kinds(j)`: 0 = address, 1 = bytes32, 2 = bool,
    * 3 = unsigned numeric, 4 = signed numeric. Same defensive contract
    * as the flat kernels: head/length words outside the blob → null
    * ARRAY; the claimed count clamps to what the blob holds (k words per
    * element); overflowing numeric words → null FIELDS. Never throws.
    */
  def tupleWordTailArray(data: Array[Byte], headIdx: Int,
      kinds: Array[Int]): org.apache.spark.sql.catalyst.util.ArrayData = {
    val off = offsetWord(data, headIdx * 32L)
    if (off < 0) return null
    val n0 = offsetWord(data, off.toLong)
    if (n0 < 0) return null
    val k = kinds.length
    val n = math.min(n0.toLong,
      math.max(0L, (data.length - off - 32L) / (32L * k))).toInt
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val fields = new Array[Any](k)
      var j = 0
      while (j < k) {
        // ONE word-decode implementation (staticAt) for scalar, slice,
        // and tuple paths — the kinds must never diverge
        fields(j) = staticAt(data, off + 32 + (i * k + j) * 32, kinds(j))
        j += 1
      }
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(fields)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** `string[]` / `bytes[]` tail decode — DYNAMIC elements: the tail is
    * `[n][off_0…off_{n-1}][elem tails…]` with per-element offsets relative
    * to the start of the element list, each element `[len][payload]`.
    * `fixedK >= 0` decodes the fixed-size form `string[k]`/`bytes[k]`
    * (no length word; k offset words at the tail start). Same defensive
    * contract as the static kernels: head/length words outside the blob
    * → null ARRAY; a malformed per-element offset or length → null
    * ELEMENT; claimed counts and payload lengths clamp to what the blob
    * holds. Never throws.
    */
  def dynTailArray(data: Array[Byte], headIdx: Int, asString: Boolean,
      fixedK: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val off = offsetWord(data, headIdx * 32L)
    if (off < 0) return null
    val (base, n0) =
      if (fixedK >= 0) {
        // the k offset words must start inside the blob: a tail offset
        // past the end is a malformed payload (null ARRAY, matching the
        // dynamic path's length-word bounds check), not an empty array
        if (fixedK > 0 && off.toLong + 32L > data.length) return null
        (off.toLong, fixedK)
      } else {
        val n = offsetWord(data, off.toLong)
        if (n < 0) return null
        (off + 32L, n)
      }
    dynElems(data, base, n0, asString)
  }

  /** Offset-indirected `[off_0…off_{n-1}][elem tails…]` element list at
    * absolute byte `base`, each element `[len][payload]` — the body shared
    * by [[dynTailArray]] and the string/bytes-array components of
    * [[tupleAt]]. Claimed count and payload lengths clamp to the blob.
    */
  private def dynElems(data: Array[Byte], base: Long, n0: Int,
      asString: Boolean): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    // one offset word per element bounds the count the blob can hold
    val n = math.min(n0.toLong, math.max(0L, (data.length - base) / 32L)).toInt
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val rel = offsetWord(data, base + i * 32L)
      out(i) =
        if (rel < 0) null
        else {
          val len = offsetWord(data, base + rel)
          if (len < 0) null
          else {
            val start = base + rel + 32L // in bounds: the len word was
            val plen = math.min(len.toLong, data.length - start).toInt
            val b = java.util.Arrays.copyOfRange(
              data, start.toInt, start.toInt + math.max(plen, 0))
            if (asString) org.apache.spark.unsafe.types.UTF8String.fromBytes(b)
            else b
          }
        }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  // Component kind codes shared by the dynamic-tuple kernels ([[tupleAt]],
  // [[dynTupleTailStruct]], [[dynTupleWordTailArray]]):
  //   static (one inline word): 0 address, 1 bytes32, 2 bool,
  //     3 unsigned numeric, 4 signed numeric
  //   dynamic (offset word → tail): 5 string, 6 bytes,
  //     7 uint[], 8 int[], 9 address[], 10 bytes32[], 11 bool[],
  //     12 string[], 13 bytes[]

  /** One static element of `kind` (0..4) from the 32-byte word at `start`
    * (caller guarantees `start + 32 <= data.length`).
    */
  private def staticAt(data: Array[Byte], start: Int, kind: Int): Any =
    kind match {
      case 0 => java.util.Arrays.copyOfRange(data, start + 12, start + 32)
      case 1 => java.util.Arrays.copyOfRange(data, start, start + 32)
      case 2 =>
        var nz = false
        var b = start
        while (b < start + 32 && !nz) { nz = data(b) != 0; b += 1 }
        nz
      case 3 => u256ToDecimal(
        java.util.Arrays.copyOfRange(data, start, start + 32))
      case _ => i256ToDecimal(
        java.util.Arrays.copyOfRange(data, start, start + 32))
    }

  /** Decode one DYNAMIC tuple whose own encoding starts at absolute byte
    * `base`: a head area of one word per component — static components
    * inline, dynamic ones an offset RELATIVE TO `base` to their tail
    * (`[len][payload]` for string/bytes, `[n][elems…]` for arrays, the
    * array elements themselves offset-indirected again for string[] /
    * bytes[]). Defensive: a head area that doesn't fit the blob → null
    * TUPLE; a malformed component offset/length/count → null COMPONENT;
    * counts and payloads clamp to the blob. Never throws.
    */
  def tupleAt(data: Array[Byte], base: Long,
      kinds: Array[Int]): org.apache.spark.sql.catalyst.InternalRow = {
    val k = kinds.length
    if (base < 0 || base + 32L * k > data.length) return null
    val fields = new Array[Any](k)
    var i = 0
    while (i < k) {
      val kind = kinds(i)
      fields(i) =
        if (kind <= 4) staticAt(data, (base + i * 32L).toInt, kind)
        else {
          val rel = offsetWord(data, base + i * 32L)
          if (rel < 0) null
          else kind match {
            case 5 | 6 =>
              val len = offsetWord(data, base + rel)
              if (len < 0) null
              else {
                val start = base + rel + 32L // in bounds: the len word was
                val plen = math.min(len.toLong, data.length - start).toInt
                val b = java.util.Arrays.copyOfRange(
                  data, start.toInt, start.toInt + math.max(plen, 0))
                if (kind == 5)
                  org.apache.spark.unsafe.types.UTF8String.fromBytes(b)
                else b
              }
            case 12 | 13 =>
              val n0 = offsetWord(data, base + rel)
              if (n0 < 0) null
              else dynElems(data, base + rel + 32L, n0, asString = kind == 12)
            case _ =>
              val n0 = offsetWord(data, base + rel)
              if (n0 < 0) null
              else {
                val ebase = base + rel + 32L
                val n = math.min(n0.toLong,
                  math.max(0L, (data.length - ebase) / 32L)).toInt
                val elems = new Array[Any](n)
                // 7 uint[] → 3, 8 int[] → 4, 9 address[] → 0,
                // 10 bytes32[] → 1, 11 bool[] → 2
                val ek = kind match {
                  case 7 => 3; case 8 => 4; case 9 => 0; case 10 => 1
                  case _ => 2
                }
                var j = 0
                while (j < n) {
                  elems(j) = staticAt(data, (ebase + j * 32L).toInt, ek)
                  j += 1
                }
                new org.apache.spark.sql.catalyst.util.GenericArrayData(elems)
              }
          }
        }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(fields)
  }

  /** Dynamic tuple PARAM decode: the head word at data word `headIdx`
    * holds the byte offset of the tuple's own encoding → [[tupleAt]].
    * Null struct when the head word lies outside the blob.
    */
  def dynTupleTailStruct(data: Array[Byte], headIdx: Int,
      kinds: Array[Int]): org.apache.spark.sql.catalyst.InternalRow = {
    val off = offsetWord(data, headIdx * 32L)
    if (off < 0) return null
    tupleAt(data, off.toLong, kinds)
  }

  /** `(T1,…,Tk)[]` tail decode — dynamic array of DYNAMIC tuples: the
    * tail is `[n][off_0…off_{n-1}][tuple encodings…]` with per-element
    * offsets relative to the start of the element list, each element a
    * tuple decoded by [[tupleAt]] at its own base. Same defensive
    * contract: head/length words outside the blob → null ARRAY; a
    * malformed per-element offset → null ELEMENT; the claimed count
    * clamps to one offset word per element. Never throws.
    */
  def dynTupleWordTailArray(data: Array[Byte], headIdx: Int,
      kinds: Array[Int]): org.apache.spark.sql.catalyst.util.ArrayData = {
    val off = offsetWord(data, headIdx * 32L)
    if (off < 0) return null
    val n0 = offsetWord(data, off.toLong)
    if (n0 < 0) return null
    val base = off + 32L
    val n = math.min(n0.toLong, math.max(0L, (data.length - base) / 32L)).toInt
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val rel = offsetWord(data, base + i * 32L)
      out(i) = if (rel < 0) null else tupleAt(data, base + rel, kinds)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** comps (canonical type, field name) → kind codes + Spark field types
  * for the tuple kernels (codes documented at [[AbiRuntime.staticAt]]'s
  * kind table).
  */
private[functions] object TupleComps {
  def kindOf(t: String): Int = t match {
    case "address" => 0
    case "bytes32" => 1
    case "bool"    => 2
    case "string"  => 5
    case "bytes"   => 6
    case "address[]" => 9
    case "bytes32[]" => 10
    case "bool[]"    => 11
    case "string[]"  => 12
    case "bytes[]"   => 13
    case t if t.endsWith("[]") && t.startsWith("uint") => 7
    case t if t.endsWith("[]") && t.startsWith("int")  => 8
    case t if t.startsWith("uint") => 3
    case t if t.startsWith("int")  => 4
    case other => throw new IllegalArgumentException(
      s"abi dynamic tuple: unsupported component type $other")
  }

  def fieldType(kind: Int): DataType = kind match {
    case 0 | 1 | 6 => BinaryType
    case 2         => BooleanType
    case 3 | 4     => DecimalType(38, 0)
    case 5         => StringType
    case 7 | 8     => ArrayType(DecimalType(38, 0))
    case 9 | 10    => ArrayType(BinaryType)
    case 11        => ArrayType(BooleanType)
    case 12        => ArrayType(StringType)
    case _         => ArrayType(BinaryType)
  }

  def struct(comps: Seq[(String, String)], kinds: Array[Int]): StructType =
    StructType(comps.zip(kinds).map { case ((_, nm), k) =>
      StructField(nm, fieldType(k), nullable = true)
    })
}

/** Column-API surface for the ABI kernels (rows of [[Kernels]]). */
object abi {
  private def k(name: String, in: Column, params: Any*): Column =
    Kernels.call(name, Seq(in), params: _*)

  def u256(c: Column): Column = k("u256_to_decimal", c, 0)
  def i256(c: Column): Column = k("i256_to_decimal", c, 0)
  /** `ufixedMxN`/`fixedMxN` decode: Decimal(38, n) built directly from
    * the raw word (full-range, see [[AbiRuntime.u256ToDecimal]]).
    */
  def u256Scaled(c: Column, n: Int): Column = k("u256_to_decimal", c, n)
  def i256Scaled(c: Column, n: Int): Column = k("i256_to_decimal", c, n)
  def keccak256(c: Column): Column = k("keccak256", c)

  /** ABI bool word → any-nonzero-byte (same test as the `bool[]` kernel). */
  def nonZeroWord(c: Column): Column = k("abi_word_nonzero", c)

  /** Numeric `T[]` dynamic tail (head word at `headIdx`) → ARRAY<DECIMAL>. */
  def wordTailArray(data: Column, headIdx: Int, signed: Boolean): Column =
    k("abi_word_tail_array", data, headIdx, signed)

  /** `address[]`/`bytes32[]`/`bool[]` dynamic tail → typed array. */
  def wordTailSliceArray(data: Column, headIdx: Int, kind: String): Column =
    k("abi_word_tail_slice_array", data, headIdx, kind)

  /** `uintN[][]`/`intN[][]` nested tail → ARRAY<ARRAY<DECIMAL>>. */
  def nestedWordTailArray(data: Column, headIdx: Int, signed: Boolean): Column =
    k("abi_nested_word_tail_array", data, headIdx, signed)

  /** `(T1,…,Tk)[]` static-tuple-array tail → ARRAY<STRUCT<…>>; `comps`
    * = (canonical scalar type, field name) per component.
    */
  def tupleWordTailArray(data: Column, headIdx: Int,
      comps: Seq[(String, String)]): Column =
    k("abi_tuple_word_tail_array", data, headIdx, comps)

  /** `string[]`/`bytes[]` tail (dynamic elements; `fixedK >= 0` for the
    * fixed-size `[k]` form) → ARRAY<STRING> / ARRAY<BINARY>.
    */
  def dynTailArray(data: Column, headIdx: Int, asString: Boolean,
      fixedK: Int = -1): Column =
    k("abi_dyn_tail_array", data, headIdx, asString, fixedK)

  /** DYNAMIC tuple param (string/bytes/array components) → STRUCT<…>;
    * `comps` = (canonical type, field name) per component.
    */
  def dynTupleTailStruct(data: Column, headIdx: Int,
      comps: Seq[(String, String)]): Column =
    k("abi_dyn_tuple_tail_struct", data, headIdx, comps)

  /** `(T1,…,Tk)[]` DYNAMIC-tuple-array tail (per-element offsets) →
    * ARRAY<STRUCT<…>>; `comps` = (canonical type, field name).
    */
  def dynTupleWordTailArray(data: Column, headIdx: Int,
      comps: Seq[(String, String)]): Column =
    k("abi_dyn_tuple_word_tail_array", data, headIdx, comps)

  /** 20-byte address literal from hex — the reference's `address()` util
    * as a Column (eth_event_stream/src/lib.rs:7-15).
    */
  def address(hexStr: String): Column =
    org.apache.spark.sql.functions.lit(graft.model.Hex.address(hexStr))

  /** topic0 literal (keccak of the canonical signature) for a declaration. */
  def topic0(decl: String): Column =
    org.apache.spark.sql.functions.lit(
      graft.model.EventSchema.parse(decl).topic0)
}
