package graft.plans

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

import graft.functions.KernelCall

/** Rewrites filters on DECODED indexed params into filters on the raw
  * 32-byte topic words, so the idiomatic query
  *
  * {{{ logs.filter(abi.u256($"topic1") === value) }}}
  *
  * reaches the storage layer as `topic1 = <binary literal>` — which
  * parquet row-group statistics can prune and the `rpc-logs` DSv2 source
  * can translate into the `eth_getLogs` positional topic filter (the
  * reference subscribes to indexed params exactly this way:
  * eth_event_stream/src/stream.rs:94-102 builds the server-side filter;
  * decoding happens only on what the node already narrowed). Without the
  * rewrite the decode expression blocks both pushdowns and every log in
  * the range crosses the scan.
  *
  * == Soundness ==
  *
  * The raw decodes are injective ONLY on 32-byte inputs (the numeric
  * reading ignores leading zero bytes, so `0x05` and the padded word both
  * decode to 5). The rewrite therefore fires only when the filtered
  * attribute is a `topic0..topic3` column traced — through
  * value-preserving nodes — to a leaf relation carrying the canonical
  * log schema ([[graft.model.LogSchema]]), whose contract is that topic
  * columns are exactly-32-byte words or NULL (both engine sources
  * construct them that way).
  *
  * Rewrites are applied per TOP-LEVEL CONJUNCT of a `Filter` condition,
  * where `null` and `false` both drop the row — that makes the
  * null-vs-false differences between the decoded and raw forms (null
  * topic, >38-digit raw word, unrepresentable literal) invisible. A
  * decode under `NOT`/`OR` or outside a filter is never touched.
  *
  * Shapes rewritten (decode side may sit under a scale-widening decimal
  * cast — scale can only grow, so the cast is injective on values it
  * represents. A cast that can overflow — `(38,0)→(38,2)` caps the
  * integer digits — is handled by ALSO clamping range bounds to the cast
  * target's representable raw range `±(10^(p−cs) − 10^−cs)·10^s`: every
  * row the rewritten predicate keeps provably casts without overflow, so
  * LEGACY (overflow→null, conjunct-false) and ANSI (overflow→throw)
  * modes agree with the rewrite on kept rows. Rows the rewrite drops are
  * rows the original evaluates false or null — or would THROW under
  * ANSI; dropping those equals evaluating the pushable predicate first
  * and short-circuiting, an ordering Spark's unspecified
  * predicate-evaluation-order semantics already permit, and the same
  * behavior any filter pushdown gives a throwing residual. Equality/IN
  * literals carry the cast's own type post-analysis, hence are always
  * representable — no extra clamp needed there):
  *
  *  - `u256/i256(topicN) = lit` (and reversed, `<=>`, `IN (...)`) →
  *    binary equality / IN on the unique encoding; an unrepresentable
  *    literal (fractional raw, out of range, >38 raw digits — values no
  *    word decodes to) folds to FALSE.
  *  - `u256(topicN) >/≥/</≤ lit` → lexicographic bounds on the word:
  *    for fixed-width big-endian UNSIGNED words, numeric order IS
  *    unsigned-lexicographic order — Spark's BinaryType ordering and
  *    parquet's binary min/max stats both compare that way. Bounds are
  *    always clamped to the decodable domain (±38 nines): wider raws
  *    decode to null (dropped by the original conjunct), so the clamp —
  *    not an unbounded scan — is what keeps the rewrite exact.
  *  - `i256(topicN) >/≥/</≤ lit` → at most TWO sign-band byte ranges:
  *    two's-complement negatives (sign bit set) sort lexicographically
  *    ABOVE every positive word, but WITHIN each sign band byte order
  *    equals numeric order — so a signed raw range maps to one band
  *    per sign it spans, OR'd together (parquet pushes the Or of two
  *    bounded ranges as row-group stats filters).
  *
  * `In` is matched before [[org.apache.spark.sql.catalyst.optimizer.OptimizeIn]]
  * turns long lists into `InSet` (same fixed-point batch); lists beyond
  * `spark.sql.optimizer.inSetConversionThreshold` may convert first and
  * stay un-rewritten — a correctness no-op.
  */
object IndexedParamRewrite extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) if cond.exists(isDecode) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val rewritten = conjuncts.map(c => rewriteConjunct(c, child))
      // rebuild ONLY on a real rewrite: re-associating the And tree on
      // every pass would keep the fixed-point batch from converging
      if (rewritten.zip(conjuncts).forall { case (a, b) => a eq b }) f
      else Filter(rewritten.reduce(And), child)
  }

  private def isDecode(e: Expression): Boolean = Decode.unapply(e).isDefined

  /** `(word, scale, signed)` of a `u256_to_decimal` / `i256_to_decimal`. */
  private object Decode {
    def unapply(e: Expression): Option[(Expression, Int, Boolean)] = e match {
      case KernelCall("u256_to_decimal", Seq(c), Seq(s: Int)) => Some((c, s, false))
      case KernelCall("i256_to_decimal", Seq(c), Seq(s: Int)) => Some((c, s, true))
      case _ => None
    }
  }

  /** Decode side of a comparison: `(topic attr, decode scale, signed,
    * cast target)` when `e` is a raw-word decode of a canonical-log topic
    * column, optionally under a widening decimal cast (the target type is
    * surfaced so range rewrites can clamp to its representable range).
    */
  private def decodeOf(e: Expression, child: LogicalPlan)
      : Option[(AttributeReference, Int, Boolean, Option[DecimalType])] = {
    val inner: Option[(Expression, Int, Boolean, Option[DecimalType])] =
      e match {
        case Decode(c, s, signed) => Some((c, s, signed, None))
        case Cast(Decode(c, s, signed), dt: DecimalType, _, _)
            if dt.scale >= s => Some((c, s, signed, Some(dt)))
        case _ => None
      }
    inner.collect {
      case (a: AttributeReference, s, signed, castTo)
          if a.dataType == BinaryType && isTopicName(a.name) &&
            fromLogLeaf(a, child) => (a, s, signed, castTo)
    }
  }

  private def isTopicName(n: String): Boolean = {
    val l = n.toLowerCase
    l.length == 6 && l.startsWith("topic") && l.last >= '0' && l.last <= '3'
  }

  /** The attribute (same exprId ⇒ same values) reaches a leaf relation
    * with the canonical log schema. Only value-preserving nodes are
    * walked; anything else — Union (exprIds alias the FIRST child only),
    * Aggregate, generators — conservatively fails.
    */
  private def fromLogLeaf(attr: Attribute, plan: LogicalPlan): Boolean =
    plan match {
      case l: LeafNode => l.outputSet.contains(attr) && isLogLeaf(l)
      case p: Project if p.outputSet.contains(attr) => fromLogLeaf(attr, p.child)
      case f: Filter => fromLogLeaf(attr, f.child)
      case s: SubqueryAlias => fromLogLeaf(attr, s.child)
      case s: Sort => fromLogLeaf(attr, s.child)
      case l: GlobalLimit => fromLogLeaf(attr, l.child)
      case l: LocalLimit => fromLogLeaf(attr, l.child)
      case r: RepartitionOperation => fromLogLeaf(attr, r.child)
      case d: Deduplicate => fromLogLeaf(attr, d.child)
      // join values pass through unchanged (outer sides add only NULLs,
      // which both forms drop) — recurse into the side that owns it
      case j: Join =>
        j.children.filter(_.outputSet.contains(attr)) match {
          case Seq(side) => fromLogLeaf(attr, side)
          case _ => false
        }
      case _ => false
    }

  private def isLogLeaf(l: LeafNode): Boolean = {
    val byName = l.output.groupBy(_.name.toLowerCase).view.mapValues(_.head)
    def has(n: String, t: DataType) = byName.get(n).exists(_.dataType == t)
    graft.model.LogSchema.topicCols.forall(has(_, BinaryType)) &&
      has("block_number", LongType) && has("log_index", LongType) &&
      has("data", BinaryType)
  }

  // ---- conjunct rewriting ------------------------------------------------

  private def rewriteConjunct(c: Expression, child: LogicalPlan): Expression =
    c match {
      case EqualTo(d, l: Literal) => rewriteEq(d, l, child, c, nullSafe = false)
      case EqualTo(l: Literal, d) => rewriteEq(d, l, child, c, nullSafe = false)
      case EqualNullSafe(d, l: Literal) => rewriteEq(d, l, child, c, nullSafe = true)
      case EqualNullSafe(l: Literal, d) => rewriteEq(d, l, child, c, nullSafe = true)
      case In(d, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        rewriteIn(d, vs.map(_.asInstanceOf[Literal]), child, c)
      case GreaterThan(d, l: Literal) => rewriteRange(d, l, child, c, lower = true, strict = true)
      case GreaterThanOrEqual(d, l: Literal) => rewriteRange(d, l, child, c, lower = true, strict = false)
      case LessThan(d, l: Literal) => rewriteRange(d, l, child, c, lower = false, strict = true)
      case LessThanOrEqual(d, l: Literal) => rewriteRange(d, l, child, c, lower = false, strict = false)
      // literal-on-left comparisons flip
      case GreaterThan(l: Literal, d) => rewriteRange(d, l, child, c, lower = false, strict = true)
      case GreaterThanOrEqual(l: Literal, d) => rewriteRange(d, l, child, c, lower = false, strict = false)
      case LessThan(l: Literal, d) => rewriteRange(d, l, child, c, lower = true, strict = true)
      case LessThanOrEqual(l: Literal, d) => rewriteRange(d, l, child, c, lower = true, strict = false)
      case other => other
    }

  private def litDecimal(l: Literal): Option[JBigDecimal] = l.value match {
    case d: Decimal => Some(d.toJavaBigDecimal)
    case _ => None
  }

  private def rewriteEq(d: Expression, l: Literal, child: LogicalPlan,
      orig: Expression, nullSafe: Boolean): Expression =
    (decodeOf(d, child), litDecimal(l)) match {
      // a cast above the decode is safe here with no extra check: the
      // literal carries the cast's own type post-analysis, so a value the
      // encoding represents is a value the cast represents
      case (Some((attr, scale, signed, _)), Some(v)) =>
        encodeExact(v, scale, signed) match {
          case Some(word) =>
            val w = Literal(word, BinaryType)
            if (nullSafe) EqualNullSafe(attr, w) else EqualTo(attr, w)
          case None => Literal.FalseLiteral // no word decodes to this value
        }
      case _ => orig
    }

  private def rewriteIn(d: Expression, ls: Seq[Literal], child: LogicalPlan,
      orig: Expression): Expression =
    decodeOf(d, child) match {
      case Some((attr, scale, signed, _)) =>
        val vs = ls.map(litDecimal)
        if (vs.exists(_.isEmpty)) return orig
        // unrepresentable (or null-literal) elements can never match a
        // decode; dropping them turns at worst a null result into false —
        // identical under conjunct semantics
        val words = vs.flatten.flatMap(encodeExact(_, scale, signed))
        if (words.isEmpty) Literal.FalseLiteral
        else In(attr, words.map(Literal(_, BinaryType)))
      case None => orig
    }

  private def rewriteRange(d: Expression, l: Literal, child: LogicalPlan,
      orig: Expression, lower: Boolean, strict: Boolean): Expression =
    (decodeOf(d, child), litDecimal(l)) match {
      case (Some((attr, scale, signed, castTo)), Some(v)) =>
        val scaled = v.movePointRight(scale)
        // the qualifying RAW range [lo, hi], before the decodable clamp
        val (lo, hi) =
          if (lower) {
            // decode(t) > v ⟺ raw ≥ floor(v·10^s)+1; ≥ v ⟺ raw ≥ ceil
            val b =
              if (strict) scaled.setScale(0, RoundingMode.FLOOR)
                .toBigInteger.add(BigInteger.ONE)
              else scaled.setScale(0, RoundingMode.CEILING).toBigInteger
            (b, Max38)
          } else {
            // decode(t) < v ⟺ raw ≤ ceil(v·10^s)−1; ≤ v ⟺ raw ≤ floor
            val b =
              if (strict) scaled.setScale(0, RoundingMode.CEILING)
                .toBigInteger.subtract(BigInteger.ONE)
              else scaled.setScale(0, RoundingMode.FLOOR).toBigInteger
            (if (signed) Max38.negate else BigInteger.ZERO, b)
          }
        // clamp to the decodable domain (decode nulls wider raws) AND,
        // under a cast, to the cast target's representable raw range —
        // raws beyond ±(10^(p−cs) − 10^−cs)·10^s overflow the cast
        // (LEGACY → null → conjunct-false; ANSI → throw, which the
        // pushdown short-circuits). The clamps, not an unbounded scan,
        // are what keep the rewrite exact.
        val cap = castTo.map(castCapRaw(_, scale)).getOrElse(Max38).min(Max38)
        val floor0 = if (signed) cap.negate else BigInteger.ZERO
        val cLo = lo.max(floor0)
        val cHi = hi.min(cap)
        if (cLo.compareTo(cHi) > 0) Literal.FalseLiteral
        else if (!signed) {
          // single non-negative band; skip the trivial ≥ word(0) bound
          val hiBound = LessThanOrEqual(attr, wordLit(cHi, signed))
          if (cLo.signum <= 0) hiBound
          else And(GreaterThanOrEqual(attr, wordLit(cLo, signed)), hiBound)
        } else if (cLo.signum >= 0 || cHi.signum < 0) {
          // one sign band: within a fixed-width two's-complement sign
          // band, unsigned-lexicographic order IS numeric order — and
          // both bounds carry the same sign, so no word from the other
          // band (or from the null-decode gaps) can slip between them
          And(GreaterThanOrEqual(attr, wordLit(cLo, signed)),
            LessThanOrEqual(attr, wordLit(cHi, signed)))
        } else {
          // range spans zero → one band per sign. Negative words (sign
          // bit set) sort lexicographically ABOVE every positive word,
          // so the bands are disjoint byte ranges; parquet pushes the
          // Or of the two as row-group stats filters
          Or(
            And(GreaterThanOrEqual(attr, wordLit(cLo, signed)),
              LessThanOrEqual(attr, wordLit(BigInteger.ONE.negate, signed))),
            And(GreaterThanOrEqual(attr, wordLit(BigInteger.ZERO, signed)),
              LessThanOrEqual(attr, wordLit(cHi, signed))))
        }
      case _ => orig
    }

  // ---- word encoding -----------------------------------------------------

  /** Largest raw value the decode kernels accept (38 significant digits —
    * AbiRuntime null-thresholds wider raws).
    */
  private val Max38 = new BigInteger("9" * 38)

  /** Largest raw (decode-scale) value whose cast to `dt` cannot overflow:
    * the target represents values up to `10^(p−cs) − 10^−cs`, i.e. raws
    * up to `floor((10^(p−cs) − 10^−cs)·10^s)` (the range is symmetric for
    * the signed decode).
    */
  private def castCapRaw(dt: DecimalType, scale: Int): BigInteger =
    new JBigDecimal(BigInteger.TEN.pow(dt.precision - dt.scale))
      .subtract(new JBigDecimal(BigInteger.ONE, dt.scale))
      .movePointRight(scale)
      .setScale(0, RoundingMode.FLOOR)
      .toBigInteger

  private def wordLit(raw: BigInteger, signed: Boolean = false): Literal =
    Literal(pad32(raw, negative = signed && raw.signum < 0), BinaryType)

  /** The unique 32-byte word whose decode at `scale` equals `v`; None when
    * no word does (fractional raw, out of the word's range, >38 raw digits).
    */
  private def encodeExact(v: JBigDecimal, scale: Int, signed: Boolean)
      : Option[Array[Byte]] = {
    val raw =
      try v.movePointRight(scale).toBigIntegerExact
      catch { case _: ArithmeticException => return None }
    if (raw.abs.compareTo(Max38) > 0) None
    else if (!signed) {
      if (raw.signum < 0 || raw.bitLength > 256) None
      else Some(pad32(raw, negative = false))
    } else {
      if (raw.bitLength > 255) None // two's complement: [-2^255, 2^255)
      else Some(pad32(raw, negative = raw.signum < 0))
    }
  }

  /** Big-endian 32-byte encoding: zero-padded for non-negative, sign-
    * extended (0xff fill) two's complement for negative.
    */
  private def pad32(raw: BigInteger, negative: Boolean): Array[Byte] = {
    val out = new Array[Byte](32)
    if (negative) java.util.Arrays.fill(out, 0xff.toByte)
    val bytes = raw.toByteArray // two's complement, minimal length
    val n = math.min(bytes.length, 32)
    System.arraycopy(bytes, bytes.length - n, out, 32 - n, n)
    out
  }
}
