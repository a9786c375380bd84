package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `misra_gries(key, k)` — the bounded-memory heavy-hitter SUMMARY as a
  * native imperative aggregate: at most `k` (key, lower-bound-count)
  * entries per buffer no matter how many distinct keys stream past, the
  * memory contract that makes a heavy-hitter pass possible when the key
  * space does not fit anywhere (the exact `groupBy key` alternative keys
  * an exchange by EVERY distinct key).
  *
  * `update` is the classic Misra–Gries step (hit → +1; room → insert;
  * full → decrement every counter, evicting zeros). `merge` is the
  * Agarwal et al. mergeable-summaries rule: add counts, then subtract the
  * (k+1)-th largest count from everything and keep the positives — which
  * preserves the deficit bound. Invariant after any tree of merges:
  *
  *     true_count(key) − n/(k+1)  ≤  reported(key)  ≤  true_count(key)
  *
  * so ANY key with true count > n/(k+1) is guaranteed PRESENT in the
  * summary. The summary's exact counter values DO depend on merge order
  * (they are lower bounds, not counts) — which is why the shipped query
  * uses the summary only as a provably-complete CANDIDATE set and joins
  * it back for exact counts: the final answer is deterministic and
  * exact while the scan state stays O(k).
  *
  * Output: array<struct<key string, lb bigint>>, sorted (lb desc, key).
  */
case class MisraGries(child: Expression, k: Int,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[String, Long]]
    with UnaryLike[Expression]
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {

  require(k >= 1, s"misra_gries: k must be >= 1, got $k")

  // declared input type: a wrong-typed key column becomes an analysis
  // error naming this function, not a runtime ClassCastException
  override def inputTypes = Seq(StringType) // Seq[AbstractDataType] (private[sql] name)

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("lb", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "misra_gries"

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    // UTF8String may point into a reused row buffer — materialize
    val key = v.asInstanceOf[UTF8String].toString
    buf.get(key) match {
      case Some(c) => buf.update(key, c + 1)
      case None if buf.size < k => buf.update(key, 1L)
      case None =>
        // decrement-all: each such step burns k+1 stream items (the
        // arriving one and one from each counter) — hence the n/(k+1) bound
        val dead = mutable.ArrayBuffer.empty[String]
        buf.keysIterator.foreach { kk =>
          val c = buf(kk) - 1
          if (c == 0L) dead += kk else buf.update(kk, c)
        }
        dead.foreach(buf.remove)
    }
    buf
  }

  override def merge(b1: mutable.HashMap[String, Long],
                     b2: mutable.HashMap[String, Long])
      : mutable.HashMap[String, Long] = {
    b2.foreach { case (kk, c) => b1.update(kk, b1.getOrElse(kk, 0L) + c) }
    if (b1.size > k) {
      // subtract the (k+1)-th largest count, keep strict positives
      val cut = b1.values.toArray.sorted(Ordering[Long].reverse).apply(k)
      val dead = mutable.ArrayBuffer.empty[String]
      b1.keysIterator.foreach { kk =>
        val c = b1(kk) - cut
        if (c <= 0L) dead += kk else b1.update(kk, c)
      }
      dead.foreach(b1.remove)
    }
    b1
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val rows = buf.toArray.sortBy { case (kk, c) => (-c, kk) }
      .map { case (kk, c) =>
        InternalRow(UTF8String.fromString(kk), c): Any }
    new GenericArrayData(rows)
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val entries = buf.toArray
    val keyBytes = entries.map(_._1.getBytes(StandardCharsets.UTF_8))
    val size = 4 + keyBytes.map(_.length + 4 + 8).sum
    val bb = ByteBuffer.allocate(size)
    bb.putInt(entries.length)
    entries.indices.foreach { i =>
      bb.putInt(keyBytes(i).length)
      bb.put(keyBytes(i))
      bb.putLong(entries(i)._2)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = mutable.HashMap.empty[String, Long]
    (0 until n).foreach { _ =>
      val len = bb.getInt
      val kb = new Array[Byte](len)
      bb.get(kb)
      m.update(new String(kb, StandardCharsets.UTF_8), bb.getLong)
    }
    m
  }

  override def withNewMutableAggBufferOffset(off: Int): MisraGries =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): MisraGries =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildInternal(newChild: Expression): MisraGries =
    copy(child = newChild)
}

object MisraGries {
  /** Build from raw argument expressions with validated k. */
  private def fromExprs(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"misra_gries(key, k) takes exactly 2 arguments, got ${exprs.length}")
    MisraGries(exprs.head, Args.posIntLiteral(exprs(1), "misra_gries", "k"))
      .toAggregateExpression()
  }

  /** Register `misra_gries(key, kLiteral)` for `expr(...)` use. */
  def register(spark: SparkSession): Unit = RegisterOnce(spark, "misra_gries") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "misra_gries", fromExprs, "scala_udf")
  }
}
