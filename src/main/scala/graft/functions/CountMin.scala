package graft.functions

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.{BinaryLike, TernaryLike}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch (Cormode & Muthukrishnan 2005) as a mergeable
  * Catalyst aggregate — the point-frequency complement to
  * SpaceSaving's top-k: a d×w counter matrix answering "how often did
  * key x occur" in O(d·w) memory at ANY key cardinality, with the
  * one-sided guarantee estimate >= true count (never an undercount)
  * and estimate <= true + ε·N where ε ≈ e/w (w is the memory/error
  * knob at 100 TB; the exact `groupBy(key).count` twin shuffles one
  * row per distinct key).
  *
  * Counters merge by element-wise addition — commutative and
  * associative — so unlike most sketches the RESULT is bit-identical
  * under any partitioning/merge order (the spec proves 1-partition ==
  * 8-partition). Hashes are seeded MurmurHash3 over the key bytes:
  * deterministic across JVMs; cross-ENGINE parity is not required
  * because the registered query gates on certificates
  * (no-undercount, within-ε), not raw estimates.
  */
object CountMin {

  /** serialized layout: d, w, then d*w longs */
  final class Sketch(val d: Int, val w: Int) {
    val counters: Array[Long] = new Array[Long](d * w)

    def add(key: UTF8String): Unit = {
      val bytes = key.getBytes
      var i = 0
      while (i < d) {
        val idx = (MurmurHash3.bytesHash(bytes, i * 0x9e3779b9 + 1) & 0x7fffffff) % w
        counters(i * w + idx) += 1L
        i += 1
      }
    }

    def estimate(key: UTF8String): Long = {
      val bytes = key.getBytes
      var best = Long.MaxValue
      var i = 0
      while (i < d) {
        val idx = (MurmurHash3.bytesHash(bytes, i * 0x9e3779b9 + 1) & 0x7fffffff) % w
        val c = counters(i * w + idx)
        if (c < best) best = c
        i += 1
      }
      if (best == Long.MaxValue) 0L else best
    }

    def mergeWith(other: Sketch): Unit = {
      require(other.d == d && other.w == w, "count-min dimension mismatch")
      var i = 0
      while (i < counters.length) { counters(i) += other.counters(i); i += 1 }
    }

    def toBytes: Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + counters.length * 8)
      bb.putInt(d).putInt(w)
      counters.foreach(bb.putLong)
      bb.array()
    }
  }

  def fromBytes(bytes: Array[Byte]): Sketch = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val sk = new Sketch(bb.getInt, bb.getInt)
    var i = 0
    while (i < sk.counters.length) { sk.counters(i) = bb.getLong; i += 1 }
    sk
  }

  /** cm_sketch(key, d, w): binary — the serialized counter matrix. */
  case class CountMinAgg(
      first: Expression,
      second: Expression,
      third: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0
  ) extends TypedImperativeAggregate[Sketch]
      with TernaryLike[Expression] {

    private lazy val d: Int = second.eval(null).asInstanceOf[Int]
    private lazy val w: Int = third.eval(null).asInstanceOf[Int]

    override def prettyName: String = "cm_sketch"
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false

    override def checkInputDataTypes(): TypeCheckResult = {
      def lit(e: Expression) =
        e.dataType == IntegerType && e.foldable && e.eval(null) != null &&
          e.eval(null).asInstanceOf[Int] >= 1
      if (first.dataType != StringType)
        TypeCheckResult.TypeCheckFailure("cm_sketch requires a string key")
      else if (!lit(second) || !lit(third))
        TypeCheckResult.TypeCheckFailure("cm_sketch d and w must be literal ints >= 1")
      else TypeCheckResult.TypeCheckSuccess
    }

    override def createAggregationBuffer(): Sketch = new Sketch(d, w)

    override def update(buf: Sketch, input: InternalRow): Sketch = {
      val v = first.eval(input)
      if (v != null) buf.add(v.asInstanceOf[UTF8String])
      buf
    }

    override def merge(b1: Sketch, b2: Sketch): Sketch = { b1.mergeWith(b2); b1 }
    override def eval(buf: Sketch): Any = buf.toBytes
    override def serialize(buf: Sketch): Array[Byte] = buf.toBytes
    override def deserialize(bytes: Array[Byte]): Sketch = fromBytes(bytes)

    override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        f: Expression,
        s: Expression,
        t: Expression
    ): CountMinAgg = copy(first = f, second = s, third = t)
  }

  /** cm_estimate(sketch, key): long — min over the key's d counters.
    * CodegenFallback: it runs once per PROBE key (a handful of rows
    * against a broadcast one-row sketch), never per corpus row.
    */
  case class CmEstimate(left: Expression, right: Expression)
      extends BinaryExpression
      with CodegenFallback {
    override def prettyName: String = "cm_estimate"
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true

    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType != BinaryType || right.dataType != StringType)
        TypeCheckResult.TypeCheckFailure("cm_estimate(sketch binary, key string)")
      else TypeCheckResult.TypeCheckSuccess

    override def nullSafeEval(sketch: Any, key: Any): Any =
      fromBytes(sketch.asInstanceOf[Array[Byte]]).estimate(key.asInstanceOf[UTF8String])

    override protected def withNewChildrenInternal(
        newLeft: Expression,
        newRight: Expression
    ): CmEstimate = copy(left = newLeft, right = newRight)
  }

  def cmSketch(key: Column, d: Column, w: Column): Column =
    call_function("cm_sketch", key, d, w)
  def cmEstimate(sketch: Column, key: Column): Column =
    call_function("cm_estimate", sketch, key)
}
