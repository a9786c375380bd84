package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `hdr_sketch(value)` — a MERGEABLE QUANTILE SKETCH as a native imperative
  * aggregate: the general-domain-double answer to the question
  * `ev_quantile_window`'s exact integer buckets can only answer for
  * unit-bucketable values. Log-linear (HDR-histogram-style) buckets over a
  * fixed-point representation:
  *
  *   - `v_fix = floor(value · 2^20)` — the only float op; `floor` of a
  *     correctly-rounded IEEE multiply, identical on every engine.
  *   - small values (`v_fix < 2^(M+1) = 256`) get unit buckets (exact);
  *   - larger values keep their top `M+1 = 8` significant bits:
  *     `shift = msb(v_fix) − 8`, `edge = (v_fix >> shift) << shift` —
  *     pure integer arithmetic, so bucket assignment is deterministic and
  *     REPLAYABLE IN SQL (`length(bin(v))` + shifts in DuckDB,
  *     `length(conv(v,10,2))` + shifts in Spark), which is what makes a
  *     cross-engine hash-parity oracle possible where KLL / t-digest
  *     (randomized compaction / merge-order-dependent centroids) cannot be.
  *
  * Buckets tile the non-negative integers disjointly, widths grow with
  * magnitude, and `width/edge ≤ 2^−M = 1/128`, so any quantile read off the
  * bucket upper edge over-estimates the true order statistic by at most a
  * 1/128 RELATIVE error (+ the 2^−20 fixed-point quantum) — the bound the
  * shipped query audits row-by-row against the exact order statistic.
  *
  * The buffer is a bucket-count map; `update` increments one bucket,
  * `merge` adds counts — addition commutes, so the sketch is MERGE-ORDER
  * INVARIANT by construction (HdrSketchSpec proves 1-partition ==
  * 32-partition bit-for-bit), unlike [[MisraGries]] whose counters are
  * order-dependent lower bounds. State is ≤ (#distinct magnitudes × 128)
  * entries — ~10³ longs for any event volume, the property that lets
  * per-day sketches persist and any trailing window merge register-wise
  * without an event rescan (the `ev_hll_window` shape, for quantiles).
  *
  * Negative inputs raise (fail-loud; the fixed-point log-linear domain is
  * non-negative reals), nulls are skipped like every SQL aggregate.
  *
  * Output: array<struct<edge bigint, cnt bigint>>, sorted by edge.
  */
case class HdrSketch(child: Expression,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[Long, Long]]
    with UnaryLike[Expression]
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {

  override def inputTypes = Seq(DoubleType) // Seq[AbstractDataType]

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("edge", LongType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "hdr_sketch"

  override def createAggregationBuffer(): mutable.HashMap[Long, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[Long, Long],
                      input: InternalRow): mutable.HashMap[Long, Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    val edge = HdrSketch.bucketEdge(v.asInstanceOf[Double])
    buf.update(edge, buf.getOrElse(edge, 0L) + 1L)
    buf
  }

  override def merge(b1: mutable.HashMap[Long, Long],
                     b2: mutable.HashMap[Long, Long])
      : mutable.HashMap[Long, Long] = {
    b2.foreach { case (e, c) => b1.update(e, b1.getOrElse(e, 0L) + c) }
    b1
  }

  override def eval(buf: mutable.HashMap[Long, Long]): Any = {
    val rows = buf.toArray.sortBy(_._1)
      .map { case (e, c) => InternalRow(e, c): Any }
    new GenericArrayData(rows)
  }

  override def serialize(buf: mutable.HashMap[Long, Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.foreach { case (e, c) => bb.putLong(e); bb.putLong(c) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[Long, Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = mutable.HashMap.empty[Long, Long]
    (0 until n).foreach(_ => m.update(bb.getLong, bb.getLong))
    m
  }

  override def withNewMutableAggBufferOffset(off: Int): HdrSketch =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): HdrSketch =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildInternal(newChild: Expression): HdrSketch =
    copy(child = newChild)
}

object HdrSketch {
  /** Fixed-point scale: 20 fractional bits. */
  val Scale: Long = 1L << 20
  /** Mantissa bits kept per bucket: relative error ≤ 2^−M = 1/128. */
  val M: Int = 7

  /** Bucket lower edge of a non-negative double, in fixed-point units.
    * Unit buckets below 2^(M+1); top-(M+1)-significant-bits above.
    */
  def bucketEdge(value: Double): Long = {
    val vFix = math.floor(value * Scale.toDouble).toLong
    if (vFix < 0L)
      throw new IllegalArgumentException(
        s"hdr_sketch: negative input $value (domain is non-negative reals)")
    if (vFix < (1L << (M + 1))) vFix
    else {
      val msb = 64 - java.lang.Long.numberOfLeadingZeros(vFix)
      val shift = msb - (M + 1)
      (vFix >> shift) << shift
    }
  }

  /** Bucket width from its edge (derivable: the top bit survives the
    * truncation, so `msb(edge) == msb(v)`). */
  def bucketWidth(edge: Long): Long =
    if (edge < (1L << (M + 1))) 1L
    else 1L << (64 - java.lang.Long.numberOfLeadingZeros(edge) - (M + 1))

  private def fromExprs(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 1)
      throw new IllegalArgumentException(
        s"hdr_sketch(value) takes exactly 1 argument, got ${exprs.length}")
    HdrSketch(exprs.head).toAggregateExpression()
  }

  /** Register `hdr_sketch(value)` for `expr(...)` use. */
  def register(spark: SparkSession): Unit = RegisterOnce(spark, "hdr_sketch") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hdr_sketch", fromExprs, "scala_udf")
  }
}
