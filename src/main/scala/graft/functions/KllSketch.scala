package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Mergeable quantile sketch (KLL/MRL compactor family — Karnin,
  * Lang, Liberty 2016 / Manku, Rajagopalan, Lindsay 1998) as a
  * Catalyst aggregate: ε-approximate quantiles in O(k·log(N/k))
  * memory per aggregation state, independent of value cardinality.
  *
  * Why it exists: exact percentiles need a global sort (or the full
  * multiset, as Spark's `percentile` holds); `approx_percentile`
  * already offers one engine-pinned sketch, but a 100 TB pipeline
  * wants the SUMMARY itself to be a mergeable, re-aggregable value —
  * per-shard/per-day sketches that fold into any rollup later, the
  * same contract as the HLL/Count-Min/SpaceSaving members of this
  * family. This aggregate's partial/final split IS that merge.
  *
  * Structure: a stack of sorted-on-demand buffers; level h holds items
  * of weight 2^h. A full level sorts and keeps alternating elements,
  * promoting them to level h+1 (deterministic alternation per level —
  * no RNG, so a given input ORDER reproduces exactly; across
  * partitionings the surviving items differ, which is why queries gate
  * on rank CERTIFICATES, not sketch values — same discipline as
  * approx_stats/cm_token_counts). Each level-h compaction shifts any
  * item's rank by at most 2^h; with c compactions per level and
  * ~log2(N/k) levels the worst-case rank error stays ~N·log(N/k)/k —
  * k=256 keeps observed error well under 1% of N at every test SF
  * (certificates assert 5%).
  *
  * When N <= k the sketch never compacts and quantiles are EXACT.
  */
object KllSketch {

  final class Sketch(val k: Int) {
    // levels(h) = unsorted buffer of weight-2^h items
    val levels: ArrayBuffer[ArrayBuffer[Double]] = ArrayBuffer(ArrayBuffer.empty[Double])
    // per-level alternation toggle: which half survives the next
    // compaction (deterministic twin of KLL's random coin)
    val toggles: ArrayBuffer[Boolean] = ArrayBuffer(false)

    def add(v: Double): Unit = {
      levels(0) += v
      var h = 0
      while (levels(h).length >= k) { compact(h); h += 1 }
    }

    private def ensureLevel(h: Int): Unit =
      while (levels.length <= h) { levels += ArrayBuffer.empty[Double]; toggles += false }

    private def compact(h: Int): Unit = {
      ensureLevel(h + 1)
      val buf = levels(h).sorted
      val start = if (toggles(h)) 1 else 0
      toggles(h) = !toggles(h)
      var i = start
      while (i < buf.length) { levels(h + 1) += buf(i); i += 2 }
      // an odd leftover (when start=0 takes the extra) is fine: the
      // survivor count differs by at most one and weights stay 2^(h+1)
      levels(h).clear()
    }

    def mergeWith(other: Sketch): Unit = {
      ensureLevel(other.levels.length - 1)
      var h = 0
      while (h < other.levels.length) { levels(h) ++= other.levels(h); h += 1 }
      h = 0
      while (h < levels.length) {
        while (levels(h).length >= k) compact(h)
        h += 1
      }
    }

    /** Total weight (= item count folded in). */
    def total: Long = {
      var w = 0L
      var h = 0
      while (h < levels.length) { w += levels(h).length.toLong << h; h += 1 }
      w
    }

    /** Lower-rule quantile estimates for targets in [0, 1]. */
    def quantiles(qs: Array[Double]): Array[Double] = {
      val items = ArrayBuffer.empty[(Double, Long)]
      var h = 0
      while (h < levels.length) {
        levels(h).foreach(v => items += ((v, 1L << h)))
        h += 1
      }
      val sorted = items.sortBy(_._1)
      val w = total
      qs.map { q =>
        if (sorted.isEmpty) Double.NaN
        else {
          val target = math.max(1L, math.ceil(q * w).toLong)
          var cum = 0L
          var i = 0
          var res = sorted.last._1
          var done = false
          while (i < sorted.length && !done) {
            cum += sorted(i)._2
            if (cum >= target) { res = sorted(i)._1; done = true }
            i += 1
          }
          res
        }
      }
    }
  }

  /** kll_quantiles(value double, k int literal, qs array<double>
    * literal): array<double> of lower-rule quantile estimates.
    */
  case class KllQuantilesAgg(
      first: Expression,
      second: Expression,
      third: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0
  ) extends TypedImperativeAggregate[Sketch]
      with TernaryLike[Expression] {

    private lazy val k: Int = second.eval(null).asInstanceOf[Int]
    private lazy val qs: Array[Double] = {
      val arr = third.eval(null).asInstanceOf[ArrayData]
      (0 until arr.numElements()).map(arr.getDouble).toArray
    }

    override def prettyName: String = "kll_quantiles"
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = false

    override def checkInputDataTypes(): TypeCheckResult = {
      if (first.dataType != DoubleType)
        TypeCheckResult.TypeCheckFailure("kll_quantiles requires a double value")
      else if (second.dataType != IntegerType || !second.foldable)
        TypeCheckResult.TypeCheckFailure("kll_quantiles k must be a literal int")
      else if (second.eval(null) == null || second.eval(null).asInstanceOf[Int] < 8)
        TypeCheckResult.TypeCheckFailure("kll_quantiles k must be >= 8")
      else third.dataType match {
        case ArrayType(DoubleType, _) if third.foldable => TypeCheckResult.TypeCheckSuccess
        case _ =>
          TypeCheckResult.TypeCheckFailure("kll_quantiles targets must be a literal array<double>")
      }
    }

    override def createAggregationBuffer(): Sketch = new Sketch(k)

    override def update(buf: Sketch, input: InternalRow): Sketch = {
      val v = first.eval(input)
      if (v != null) buf.add(v.asInstanceOf[Double])
      buf
    }

    override def merge(b1: Sketch, b2: Sketch): Sketch = { b1.mergeWith(b2); b1 }

    override def eval(buf: Sketch): Any = new GenericArrayData(buf.quantiles(qs))

    override def serialize(buf: Sketch): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(buf.k)
      out.writeInt(buf.levels.length)
      buf.levels.zip(buf.toggles).foreach { case (lvl, tog) =>
        out.writeBoolean(tog)
        out.writeInt(lvl.length)
        lvl.foreach(out.writeDouble)
      }
      out.flush()
      bos.toByteArray
    }

    override def deserialize(bytes: Array[Byte]): Sketch = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val sk = new Sketch(in.readInt())
      val nLevels = in.readInt()
      sk.levels.clear(); sk.toggles.clear()
      (0 until nLevels).foreach { _ =>
        sk.toggles += in.readBoolean()
        val n = in.readInt()
        val lvl = ArrayBuffer.empty[Double]
        (0 until n).foreach(_ => lvl += in.readDouble())
        sk.levels += lvl
      }
      sk
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): KllQuantilesAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): KllQuantilesAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        f: Expression,
        s: Expression,
        t: Expression
    ): KllQuantilesAgg = copy(first = f, second = s, third = t)
  }

  def kllQuantiles(value: Column, k: Column, qs: Column): Column =
    call_function("kll_quantiles", value, k, qs)
}
