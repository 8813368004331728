package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.{GraftColumnShim, GraftExpectsInputTypes}
import org.apache.spark.sql.types._

/** Runtime for [[CmsEstimate]]: deserializes a Spark
  * `CountMinSketch` blob and probes one key. Deserialized sketches are
  * cached by blob IDENTITY (a `WeakHashMap` keyed on the `byte[]`
  * instance — array `equals` is reference equality, so lookups are one
  * identity hash, never a content compare). [[graft.operators.Sketches
  * .cmsProbe]] embeds the blob as a plan literal, so every row of a
  * probe passes the SAME array instance — within one TASK: codegen
  * reference arrays are deserialized per task, so each task pays one
  * `readFrom` of the ~MB sketch (never one per row); weak keys release
  * it when the task's references die. A caller feeding
  * content-distinct blob copies per row
  * (e.g. via a join column instead of a literal) would deserialize per
  * row — use the literal-embedding probe API for bulk probes.
  */
object CmsRuntime {
  private val byInstance = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[Array[Byte],
      org.apache.spark.util.sketch.CountMinSketch]())

  // per-thread last-probed memo in FRONT of the synchronized map: the
  // probe runs once per ROW, and every row of a task passes the same
  // literal array instance — without this, 32 task threads take one
  // JVM-global monitor per row (the AudioSystem convoy class). The
  // ThreadLocal holds a weak ref pair so a finished task's blob is
  // still collectable (the WeakHashMap's contract is preserved).
  private val lastProbe = new ThreadLocal[java.lang.ref.WeakReference[
    (Array[Byte], org.apache.spark.util.sketch.CountMinSketch)]]

  private def sketchOf(
      bytes: Array[Byte]): org.apache.spark.util.sketch.CountMinSketch = {
    val memoRef = lastProbe.get()
    if (memoRef != null) {
      val memo = memoRef.get()
      if (memo != null && (memo._1 eq bytes)) return memo._2
    }
    val hit = byInstance.get(bytes)
    val cms =
      if (hit != null) hit
      else {
        // racing misses both deserialize; last put wins — harmless
        val fresh = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(bytes))
        byInstance.put(bytes, fresh)
        fresh
      }
    lastProbe.set(new java.lang.ref.WeakReference((bytes, cms)))
    cms
  }

  def estimate(bytes: Array[Byte], key: Long): Long =
    sketchOf(bytes).estimateCount(java.lang.Long.valueOf(key))

  // UTF-8 bytes hash identically to the String path
  // (CountMinSketchImpl.getHashBuckets(String) delegates to the byte[]
  // overload via getBytesFromUTF8String), so probe with the raw bytes —
  // no per-row UTF-16 decode/re-encode round trip.
  def estimateString(
      bytes: Array[Byte], key: org.apache.spark.unsafe.types.UTF8String): Long =
    sketchOf(bytes).estimateCount(key.getBytes)
}

/** Runtime for the `bloom_might_contain` kernel: deserializes a Spark `BloomFilter`
  * blob and probes one long key. Same identity-keyed cache discipline as
  * [[CmsRuntime]] (and the same honesty about its reach): the literal
  * blob amortizes deserialization WITHIN a task — codegen reference
  * arrays are deserialized per task, so each task sees a fresh `byte[]`
  * instance and pays one `readFrom` of the ~1.2 B/key filter, never one
  * per row. Weak keys release the filter when the task's references die.
  */
object BloomRuntime {
  private val byInstance = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[Array[Byte],
      org.apache.spark.util.sketch.BloomFilter]())

  // per-thread last-probed memo — same rationale as [[CmsRuntime]]:
  // the probe is per-row, the blob instance is per-task, and the
  // synchronized map's monitor must not be taken once per row across
  // 32 task threads
  private val lastProbe = new ThreadLocal[java.lang.ref.WeakReference[
    (Array[Byte], org.apache.spark.util.sketch.BloomFilter)]]

  private def filterOf(
      bytes: Array[Byte]): org.apache.spark.util.sketch.BloomFilter = {
    val memoRef = lastProbe.get()
    if (memoRef != null) {
      val memo = memoRef.get()
      if (memo != null && (memo._1 eq bytes)) return memo._2
    }
    val hit = byInstance.get(bytes)
    val bf =
      if (hit != null) hit
      else {
        // racing misses both deserialize; last put wins — harmless
        val fresh = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bytes))
        byInstance.put(bytes, fresh)
        fresh
      }
    lastProbe.set(new java.lang.ref.WeakReference((bytes, bf)))
    bf
  }

  def mightContain(bytes: Array[Byte], key: Long): Boolean =
    filterOf(bytes).mightContainLong(key)
}

/** `cms_estimate(sketch, key)` — probe a `count_min_sketch(...)` blob for
  * one key's estimated count. Count-min guarantees estimate ≥ true count
  * always, and estimate ≤ true + eps·N with the sketch's confidence —
  * the one-sided error that makes sketch-probed heavy hitters safe to
  * gate on. Accepts integral or string keys (matching what the sketch
  * was built over). Not a [[Kernels]] row: the key type picks the
  * runtime method.
  */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with GraftExpectsInputTypes {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "cms_estimate"

  // children may be unresolved at construction — defer the type probe
  private def asString: Boolean = right.dataType == StringType

  override def acceptedTypes: Seq[Seq[DataType]] = Seq(Seq(BinaryType),
    Seq(LongType, IntegerType, ShortType, ByteType, StringType))

  override protected def nullSafeEval(sketch: Any, key: Any): Any =
    if (asString)
      CmsRuntime.estimateString(sketch.asInstanceOf[Array[Byte]],
        key.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    else CmsRuntime.estimate(sketch.asInstanceOf[Array[Byte]],
      key.asInstanceOf[Number].longValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (asString)
      defineCodeGen(ctx, ev, (s, k) =>
        s"graft.functions.CmsRuntime.estimateString($s, $k)")
    else
      defineCodeGen(ctx, ev, (s, k) =>
        s"graft.functions.CmsRuntime.estimate($s, (long) $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}

/** Column API for the sketch probes. */
object sketches {
  def cmsEstimate(sketch: Column, key: Column): Column =
    GraftColumnShim.column(CmsEstimate(
      GraftColumnShim.expression(sketch), GraftColumnShim.expression(key)))

  /** `bloom_might_contain(filter, key)` — probe a `DataFrameStatFunctions
    * .bloomFilter(...)` blob for one integral key. One-sided like
    * count-min: false negatives are impossible, so a Bloom PREFILTER
    * (keep rows that might be in the set, exact-verify the survivors)
    * never loses a true hit — the contract
    * [[graft.operators.Dedup.decontaminateBloom]] builds on.
    */
  def bloomMightContain(filter: Column, key: Column): Column =
    Kernels.call("bloom_might_contain", Seq(filter, key))
}
