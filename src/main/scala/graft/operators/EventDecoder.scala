package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.abi
import graft.model.{EventParam, EventSchema}

/** P2 — typed event decode: raw log rows (`topic0..topic3`, `data` binary)
  * → typed columns per an [[EventSchema]], replacing the reference's
  * compile-time proc-macro decoder (`impl From<Log>`,
  * eth_event_macro/src/lib.rs:120-154) with runtime Catalyst expressions.
  *
  * Decode rules (standard ABI):
  *  - indexed params read topics 1..3 in declaration order of the indexed
  *    subset (ethabi `parse_log` semantics);
  *  - non-indexed static params read consecutive 32-byte words of `data`;
  *  - `string`/`bytes` are dynamic: their head word is a byte offset into
  *    `data`, the tail holds `[len][payload]`;
  *  - tuples (Solidity structs) decode to Spark STRUCT columns: static
  *    tuples are inlined words, dynamic ones offset-indirected;
  *  - a log whose `topic0` doesn't match the schema decodes to all-null
  *    (nullable-on-mismatch, vs. the reference's panic — SURVEY §2.2 P2).
  *
  * Everything is expression-level (substring/conv on binary + the native
  * `u256_to_decimal` kernel), so decode stays inside whole-stage codegen
  * and parallelizes embarrassingly at 100 TB.
  */
object EventDecoder {

  /** Slice one 32-byte word `i` (0-based) out of a binary column. */
  private def word(bin: Column, i: Int): Column =
    substring(bin, i * 32 + 1, 32)

  /** Offset/length word → int, NULL (never throw) past Int.MaxValue.
    * A bare `.cast("int")` only nulls the 2^31..10^38 window under
    * LEGACY mode — Spark 4 defaults to ANSI, where it would abort the
    * whole decode job on one corrupt word, violating the
    * nullable-on-mismatch contract.
    */
  private def intWord(c: Column): Column =
    when(c.between(0, Int.MaxValue), c.cast("int"))

  /** Decode one static value of canonical type `t` from a 32-byte word. */
  private def decodeStaticType(t: String, w: Column): Column = t match {
    case "address"           => substring(w, 13, 20)
    // any-nonzero-byte, NOT a Decimal cast: a garbage high-bit word must
    // decode to the same value (true) as the bool[] tail kernel gives it
    case "bool"              => abi.nonZeroWord(w)
    case "bytes32"           => w
    // bytesN (1 ≤ N < 32): static one-word value, LEFT-aligned — take
    // the first N bytes (uintN is the opposite, right-aligned). The
    // width guard keeps invalid types on the error path below instead
    // of silently slicing wrong.
    case t if t.startsWith("bytes") && t.drop(5).forall(_.isDigit) &&
        t.drop(5).nonEmpty && t.length <= 7 &&
        t.drop(5).toInt >= 1 && t.drop(5).toInt <= 32 =>
      substring(w, 1, t.drop(5).toInt)
    // fixedMxN / ufixedMxN: raw intM scaled by 10^-N, decoded in ONE
    // step — the kernel builds Decimal(raw, N) directly, so the whole
    // Decimal(38,N) value range is covered and the null threshold is 38
    // significant digits OF THE RAW WORD (same wide-int overflow policy
    // as uintN/intN). A divide-after-cast decode would cap the raw word
    // at 38−N digits, nulling values like ufixed128x6 1e27 that
    // Decimal(38,6) represents fine.
    case t if t.startsWith("ufixed") || t.startsWith("fixed") =>
      // lastIndexOf: the type name itself contains an 'x' (fi_x_ed)
      val n = t.substring(t.lastIndexOf('x') + 1).toInt
      // ABI permits N up to 80; Spark Decimal stops at scale 38. Refuse
      // loudly like the `other =>` branch — building DecimalType(38, N)
      // past that would throw an unrelated precision<scale plan error
      // instead of the documented null-on-overflow VALUE policy.
      if (n > 38) throw new IllegalArgumentException(
        s"unsupported ABI type $t: fractional scale $n exceeds Spark " +
          "Decimal's maximum scale of 38")
      if (t.startsWith("ufixed")) abi.u256Scaled(w, n) else abi.i256Scaled(w, n)
    case t if t.startsWith("uint") => abi.u256(w)
    case t if t.startsWith("int")  => abi.i256(w)
    case other => throw new IllegalArgumentException(
      s"not a static ABI type: $other")
  }

  /** Decode one static param from its 32-byte word. */
  private def decodeStatic(p: EventParam, w: Column): Column =
    decodeStaticType(p.canonicalType, w)

  /** Canonical form of a bare type string (`uint` → `uint256`). */
  private def canonicalOf(t: String): String =
    EventParam("_", t, indexed = false).canonicalType

  /** ABI dynamic-ness is recursive: `string[k]`/`bytes[k]` are fixed-size
    * arrays of DYNAMIC elements and therefore dynamic themselves (one
    * head word, offset-indirected tail), unlike static `T[k]`; a tuple
    * is dynamic iff any component is.
    */
  private def isDynamicType(t: String): Boolean =
    t == "string" || t == "bytes" || t.endsWith("[]") ||
      graft.model.EventSchema.staticArrayOf(t).exists(a => isDynamicType(a._1)) ||
      graft.model.EventSchema.tupleOf(t).exists(_.exists(c => isDynamicType(c._1)))

  private def isDynamic(p: EventParam): Boolean = isDynamicType(p.canonicalType)

  /** ABI: ANY indexed array or tuple (struct) — fixed-size/static
    * included — is stored as the keccak hash of its encoding; decode
    * keeps the 32-byte topic, like the dynamic types.
    */
  private def indexedAsHash(p: EventParam): Boolean =
    isDynamic(p) || p.canonicalType.endsWith("]") ||
      p.canonicalType.startsWith("(")

  /** Decode a dynamic param whose head word sits at data word `headIdx`:
    * offset → `[len][payload]` in the data tail. For `T[]` (static `T`)
    * the tail is `[n][elem_0]…[elem_{n-1}]`, one word per element,
    * decoded to `ARRAY<sparkType(T)>`. The element loop is a
    * `transform(sequence(…))` pair — interpreted, not codegen'd, which is
    * fine off the hot path: array params are rare per schema and the loop
    * is bounded by the on-chain array length.
    */
  private def decodeDynamic(p: EventParam, data: Column, headIdx: Int): Column = {
    val t = p.canonicalType
    val fixedDyn = graft.model.EventSchema.staticArrayOf(t)
      .filter(a => a._1 == "string" || a._1 == "bytes")
    if (fixedDyn.isDefined) {
      // `string[k]`/`bytes[k]`: fixed count, but offset-indirected tail —
      // one head word, k offset words, no length word
      val (elemT, k) = fixedDyn.get
      abi.dynTailArray(data, headIdx, asString = elemT == "string", fixedK = k)
    } else if (t.endsWith("[]")) {
      val elemT = t.dropRight(2)
      if (elemT.startsWith("(")) {
        // array of tuples, decoded to ARRAY<STRUCT> by one native kernel
        // call: STATIC tuples inline k words per element; DYNAMIC ones
        // (string/bytes/array components) are offset-indirected per
        // element. Field names come from the DECLARED solType (canonical
        // strips them).
        val comps = graft.model.EventSchema.tupleOf(p.solType.dropRight(2)).get
          .zipWithIndex.map {
            case ((ct, nm), i) => (canonicalOf(ct), nm.getOrElse(s"f$i"))
          }
        if (comps.exists(c => isDynamicType(c._1)))
          abi.dynTupleWordTailArray(data, headIdx, comps)
        else abi.tupleWordTailArray(data, headIdx, comps)
      } else if (elemT.endsWith("[]"))
        // nested numeric arrays — must route BEFORE the flat numeric
        // check ("uint256[]".startsWith("uint") is also true)
        abi.nestedWordTailArray(data, headIdx,
          signed = elemT.startsWith("int"))
      else if (elemT.startsWith("uint") || elemT.startsWith("int"))
        // the common case (amounts, ids) decodes through one native
        // kernel call — the whole element loop stays compiled
        abi.wordTailArray(data, headIdx, signed = elemT.startsWith("int"))
      else if (elemT == "address" || elemT == "bytes32" || elemT == "bool")
        // every remaining static element kind has its native tail kernel
        abi.wordTailSliceArray(data, headIdx, elemT)
      else if (elemT == "string" || elemT == "bytes")
        // dynamic elements: per-element offset indirection, one kernel
        abi.dynTailArray(data, headIdx, asString = elemT == "string")
      else {
        // defensive interpreted fallback for element types a future
        // schema parser might admit; mirrors the kernels' contract: a
        // head or length word outside the blob → null array; a garbage
        // claimed count is clamped to what the blob holds (sequence
        // throws past ~2^31 elements, smaller garbage OOMs/emits junk)
        val off = intWord(abi.u256(word(data, headIdx)))
        val headOk = length(data) >= lit((headIdx + 1) * 32) &&
          off + lit(32) <= length(data)
        val len = least(
          intWord(abi.u256(substring(data, off + 1, lit(32)))),
          greatest(((length(data) - off - lit(32)) / 32).cast("int"), lit(0)))
        val sparkElemT = graft.model.EventSchema.sparkTypeOf(elemT)
        // sequence(0, -1) yields [0, -1] (descending step) — guard n = 0
        when(headOk && len > 0,
          transform(sequence(lit(0), len - 1), i =>
            decodeStaticType(elemT,
              substring(data, off + 33 + i * 32, lit(32)))))
          .otherwise(when(headOk && len === 0,
            org.apache.spark.sql.functions.array().cast(
              org.apache.spark.sql.types.ArrayType(sparkElemT))))
      }
    } else {
      val off = intWord(abi.u256(word(data, headIdx)))
      val len = intWord(abi.u256(substring(data, off + 1, lit(32))))
      val payload = substring(data, off + 33, len)
      if (t == "string") payload.cast("string") else payload
    }
  }

  /** Decode a DYNAMIC tuple (struct with ≥1 string/bytes component):
    * the head word at data word `headIdx` holds a byte offset to the
    * tuple's own encoding — a head area of one word per component, where
    * static components sit inline and dynamic ones hold an offset
    * RELATIVE TO THE TUPLE START to their `[len][payload]` tail
    * (standard ABI tuple encoding). Stays expression-level (substring +
    * the native u256), i.e. inside whole-stage codegen, like the scalar
    * string/bytes path above.
    *
    * Defensive like the tail kernels: a head offset whose component
    * area doesn't fit the blob nulls the whole STRUCT; a malformed
    * per-component offset/length word nulls that COMPONENT (substring
    * past the blob would otherwise fabricate 0/false/"" — plausible
    * wrong values). Oversized words null out via the non-ANSI int cast.
    */
  private def decodeDynamicTuple(comps: Seq[(String, Option[String])],
      data: Column, headIdx: Int): Column = {
    val k = comps.size
    val off = intWord(abi.u256(word(data, headIdx)))
    val headOk = length(data) >= lit((headIdx + 1) * 32) &&
      off.isNotNull && off + lit(32 * k) <= length(data)
    val st = struct(comps.zipWithIndex.map { case ((t0, nm), i) =>
      val t = canonicalOf(t0)
      val slot = substring(data, off + lit(i * 32) + 1, lit(32))
      val c =
        if (t == "string" || t == "bytes") {
          val rel = intWord(abi.u256(slot))
          val relOk = rel.isNotNull && off + rel + lit(32) <= length(data)
          val len = intWord(abi.u256(substring(data, off + rel + 1, lit(32))))
          // payload clamps to the blob (substring stops at the end);
          // a malformed offset or length word nulls the component
          val payload = substring(data, off + rel + 33, len)
          when(relOk && len.isNotNull,
            if (t == "string") payload.cast("string") else payload)
        } else decodeStaticType(t, slot)
      c.as(nm.getOrElse(s"f$i"))
    }: _*)
    when(headOk, st)
  }

  /** Binary substring with Column offsets (the Int-only Scala overload
    * can't take computed offsets).
    */
  private def substring(c: Column, pos: Column, len: Column): Column =
    call_function("substring", c, pos, len)
  private def substring(c: Column, pos: Int, len: Int): Column =
    org.apache.spark.sql.functions.substring(c, pos, len)

  /** Wide numeric params: `Decimal(38,0)` tops out at 10^38−1, so the
    * typed column nulls out when the value exceeds it — possible from
    * width 128 up (uint128 max ≈ 3.4e38, int128 max ≈ 1.7e38); every
    * multiple-of-8 width ≤ 120 bits fits losslessly. Only the widths that
    * can overflow get the lossless `<name>_raw` 32-byte twin (SURVEY
    * §1.5) — narrow ints already decode exactly and a twin would just
    * bloat the schema.
    */
  private def needsRawTwin(p: EventParam): Boolean = {
    val t = p.canonicalType
    // arrays never get a twin: their lossless form is the raw `data`
    // blob itself, and a per-element twin array would double the schema
    (t.startsWith("uint") || t.startsWith("int")) && !t.contains("[") &&
      t.dropWhile(!_.isDigit).takeWhile(_.isDigit).toInt >= 128
  }

  /** Decode plan per param: (name, typed column, lossless raw word for the
    * 256-bit numeric family). Topic assignment: i-th indexed param ←
    * `topic{i+1}` (anonymous events carry no signature topic, so theirs
    * start at `topic0`). An indexed dynamic param (string/bytes) is stored
    * by ABI as the keccak hash of its value — it decodes to that 32-byte
    * binary, the value itself is unrecoverable.
    */
  private[graft] def decodedWithRaw(schema: EventSchema,
      topics: Seq[Column], data: Column): Seq[(String, Column, Option[Column])] = {
    val maxIndexed = if (schema.anonymous) 4 else 3
    require(schema.indexedParams.size <= maxIndexed,
      s"at most $maxIndexed indexed params for this event kind")
    val topicBase = if (schema.anonymous) 0 else 1
    val indexed = schema.indexedParams.zipWithIndex.map { case (p, i) =>
      val t = topics(i + topicBase)
      val typed = if (indexedAsHash(p)) t else decodeStatic(p, t)
      p.name -> ((typed, if (needsRawTwin(p)) Some(t) else None))
    }.toMap
    // running word offset into `data`: static scalars and dynamic HEADS
    // take one word; a fixed-size static array `T[k]` is inlined as k
    // consecutive words
    var dataWord = 0
    val fromData = schema.dataParams.map { p =>
      val w = word(data, dataWord)
      val tuple = graft.model.EventSchema.tupleOf(p.solType)
      val c = graft.model.EventSchema.staticArrayOf(p.canonicalType) match {
        case Some((elemT, k)) if !isDynamicType(elemT) =>
          val arr = array((0 until k).map(i =>
            decodeStaticType(elemT, word(data, dataWord + i))): _*)
          dataWord += k - 1 // +1 below
          arr
        case _ if tuple.isDefined && !isDynamic(p) =>
          // static tuple (struct): components inlined, one word each
          val comps = tuple.get
          val st = struct(comps.zipWithIndex.map { case ((t, nm), i) =>
            decodeStaticType(canonicalOf(t), word(data, dataWord + i))
              .as(nm.getOrElse(s"f$i"))
          }: _*)
          dataWord += comps.size - 1 // +1 below
          st
        case _ if tuple.isDefined =>
          // dynamic tuple: ONE head word → offset-relative component
          // area. An ARRAY component forces the kernel path (a bounded
          // per-element loop can't stay expression-level); string/bytes
          // -only tuples keep the inline expression path.
          if (tuple.get.exists(c => isDynamicType(canonicalOf(c._1)) &&
              c._1 != "string" && c._1 != "bytes"))
            abi.dynTupleTailStruct(data, dataWord,
              tuple.get.zipWithIndex.map { case ((ct, nm), i) =>
                (canonicalOf(ct), nm.getOrElse(s"f$i"))
              })
          else decodeDynamicTuple(tuple.get, data, dataWord)
        case _ =>
          // dynamic params — string[k]/bytes[k] included — take ONE head
          // word regardless of k
          if (isDynamic(p)) decodeDynamic(p, data, dataWord)
          else decodeStatic(p, w)
      }
      dataWord += 1
      p.name -> ((c, if (needsRawTwin(p)) Some(w) else None))
    }.toMap
    // declaration order, like the macro's data tuple (lib.rs:159-178)
    schema.params.map { p =>
      val (c, raw) = indexed.getOrElse(p.name, fromData(p.name))
      (p.name, c, raw)
    }
  }

  /** Raw-log column names a decoded param must not shadow: the fold below
    * would silently replace the raw column mid-decode and corrupt every
    * later param's expression.
    */
  private val ReservedNames = Set(
    "address", "topic0", "topic1", "topic2", "topic3", "data",
    "block_number", "transaction_hash", "log_index", "removed")

  /** Decode `df` (raw log schema, FIXTURES.md §1.2) per `schema`: appends
    * one typed column per event param, null unless `topic0` matches the
    * schema's signature hash. Anonymous events carry no signature topic —
    * no match guard is possible (callers route by address), and indexed
    * params shift down to `topic0`.
    */
  def decode(df: DataFrame, schema: EventSchema): DataFrame = {
    val names = schema.params.map(_.name)
    val clash = names.filter(ReservedNames)
    require(clash.isEmpty,
      s"param name(s) ${clash.mkString(", ")} collide with raw log columns; " +
        "rename in the declaration")
    val rawClash = names.filter(n => names.contains(s"${n}_raw"))
    require(rawClash.isEmpty,
      s"param name(s) ${rawClash.map(_ + "_raw").mkString(", ")} collide " +
        "with the lossless raw twin columns; rename in the declaration")
    val matches =
      if (schema.anonymous) lit(true)
      else col("topic0") === lit(schema.topic0)
    val topics = Seq(col("topic0"), col("topic1"), col("topic2"), col("topic3"))
    decodedWithRaw(schema, topics, col("data")).foldLeft(df) {
      case (acc, (name, c, raw)) =>
        val typed = acc.withColumn(name, when(matches, c))
        raw.fold(typed)(w => typed.withColumn(s"${name}_raw", when(matches, w)))
    }
  }

  // -------------------------------------------------------------------
  // Encode (test/synthesis direction): build ABI words from SQL values.
  // -------------------------------------------------------------------

  /** Left-pad a long column to a 32-byte ABI word. */
  def encodeWordFromLong(c: Column): Column =
    unhex(lpad(hex(c), 64, "0"))

  /** ABI-encode a possibly-NEGATIVE long into its two's-complement word:
    * `hex()` of a negative long is 16 f-leading chars, so the sign
    * extension pads with `f`, not `0`.
    */
  def encodeWordFromLongSigned(c: Column): Column =
    when(c >= 0, encodeWordFromLong(c))
      .otherwise(unhex(lpad(hex(c), 64, "f")))
}
