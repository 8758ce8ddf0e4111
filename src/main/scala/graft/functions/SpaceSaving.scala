package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving heavy hitters (Metwally et al. 2005) as a mergeable
  * Catalyst aggregate: top items by frequency in O(capacity) memory
  * per aggregation state, no matter the key cardinality.
  *
  * Why it exists: the exact form — `groupBy(token).count` then top-k —
  * shuffles one row per DISTINCT key. At web scale the key space
  * (URLs, n-grams, user agents) can be billions; a sketch caps every
  * partial aggregate at `capacity` entries, and partials merge like
  * any other aggregation buffer, so the heavy-hitter query keeps the
  * one-pass partial/final shape with bounded memory.
  *
  * Guarantees (the contract; standard for the algorithm):
  *   - every key with true count > N/capacity is in the sketch;
  *   - for each entry, count - err <= true count <= count.
  * When the sketch never saturates (distinct keys <= capacity) it is
  * EXACT (err = 0) and fully deterministic — that is the regime the
  * oracle-checked query runs in at test scale; the capacity is the
  * knob that trades exactness for memory at 100 TB. A SATURATED
  * sketch's concrete values depend on partial-merge order (true of any
  * mergeable summary); the guarantees above hold regardless, and the
  * unit spec asserts them on an adversarial single-partition stream.
  *
  * Merge is the mergeable-summaries rule: a key absent from a full
  * sketch may have occurred up to that sketch's min count, so absence
  * contributes (min, min) to (count, err); the union is then trimmed
  * back to capacity, evicting smallest-count entries (token-ordered
  * tie-break for determinism).
  */
object SpaceSaving {

  /** One tracked key. `err` is the maximum overcount. */
  final case class Entry(var cnt: Long, var err: Long)

  final class Sketch(val capacity: Int) {
    val entries: mutable.HashMap[UTF8String, Entry] = mutable.HashMap.empty

    // count -> tokens at that count, both tree-ordered: the saturated
    // update path (the 100 TB regime — most rows evict) needs the min
    // count and its binary-greatest token in O(log capacity), not two
    // full O(capacity) scans per input row. Built lazily on the first
    // eviction (cheap streams never pay) and invalidated by merge
    // (merges happen once per partial, updates once per row).
    private var byCount: java.util.TreeMap[Long, java.util.TreeSet[UTF8String]] = _

    private def addIdx(k: UTF8String, c: Long): Unit =
      byCount
        .computeIfAbsent(c, _ => new java.util.TreeSet[UTF8String]())
        .add(k)

    private def removeIdx(k: UTF8String, c: Long): Unit = {
      val s = byCount.get(c)
      s.remove(k)
      if (s.isEmpty) byCount.remove(c)
    }

    private def buildIndex(): Unit = {
      byCount = new java.util.TreeMap[Long, java.util.TreeSet[UTF8String]]()
      entries.foreach { case (k, e) => addIdx(k, e.cnt) }
    }

    private def minCount: Long =
      if (entries.isEmpty) 0L else entries.valuesIterator.map(_.cnt).min

    def add(key: UTF8String): Unit = {
      entries.get(key) match {
        case Some(e) =>
          if (byCount != null) { removeIdx(key, e.cnt); e.cnt += 1; addIdx(key, e.cnt) }
          else e.cnt += 1
        case None if entries.size < capacity =>
          val k = key.clone()
          entries.put(k, Entry(1L, 0L))
          if (byCount != null) addIdx(k, 1L)
        case None =>
          // evict a minimum-count entry; among ties the binary-greatest
          // token goes, so the update path is deterministic
          if (byCount == null) buildIndex()
          val m = byCount.firstKey()
          val victim = byCount.firstEntry().getValue.last()
          removeIdx(victim, m)
          entries.remove(victim)
          val k = key.clone()
          entries.put(k, Entry(m + 1L, m))
          addIdx(k, m + 1L)
      }
    }

    def mergeWith(other: Sketch): Unit = {
      byCount = null // merge rewrites counts wholesale; rebuild lazily
      val amin1 = if (entries.size < capacity) 0L else minCount
      val amin2 =
        if (other.entries.size < other.capacity) 0L
        else if (other.entries.isEmpty) 0L
        else other.entries.valuesIterator.map(_.cnt).min
      // keys only in `other`: absent here means true count <= amin1
      other.entries.foreach { case (k, e2) =>
        entries.get(k) match {
          case Some(e1) => e1.cnt += e2.cnt; e1.err += e2.err
          case None => entries.put(k, Entry(e2.cnt + amin1, e2.err + amin1))
        }
      }
      // keys only in `this`: the other sketch bounds them by amin2
      entries.foreach { case (k, e1) =>
        if (!other.entries.contains(k)) { e1.cnt += amin2; e1.err += amin2 }
      }
      if (entries.size > capacity) {
        val keep = entries.toSeq
          .sortBy { case (k, e) => (-e.cnt, k) }
          .take(capacity)
        entries.clear()
        keep.foreach { case (k, e) => entries.put(k, e) }
      }
    }
  }

  val ResultType: DataType = ArrayType(
    StructType(
      Seq(
        StructField("token", StringType, nullable = false),
        StructField("cnt", LongType, nullable = false),
        StructField("err", LongType, nullable = false)
      )
    ),
    containsNull = false
  )

  /** space_saving(key, capacity): array<struct<token,cnt,err>> sorted
    * by (cnt desc, token asc).
    */
  case class SpaceSavingAgg(
      left: Expression,
      right: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0
  ) extends TypedImperativeAggregate[Sketch]
      with BinaryLike[Expression] {

    private lazy val capacity: Int = {
      val v = right.eval(null)
      require(v != null, "space_saving capacity must be a literal int")
      v.asInstanceOf[Int]
    }

    override def prettyName: String = "space_saving"
    override def dataType: DataType = ResultType
    override def nullable: Boolean = false

    override def checkInputDataTypes(): TypeCheckResult = {
      if (left.dataType != StringType)
        TypeCheckResult.TypeCheckFailure("space_saving requires a string key")
      else if (right.dataType != IntegerType || !right.foldable)
        TypeCheckResult.TypeCheckFailure("space_saving capacity must be a literal int")
      else if (right.eval(null) == null || right.eval(null).asInstanceOf[Int] < 1)
        TypeCheckResult.TypeCheckFailure("space_saving capacity must be >= 1")
      else TypeCheckResult.TypeCheckSuccess
    }

    override def createAggregationBuffer(): Sketch = new Sketch(capacity)

    override def update(buf: Sketch, input: InternalRow): Sketch = {
      val v = left.eval(input)
      if (v != null) buf.add(v.asInstanceOf[UTF8String])
      buf
    }

    override def merge(b1: Sketch, b2: Sketch): Sketch = { b1.mergeWith(b2); b1 }

    override def eval(buf: Sketch): Any = {
      val sorted = buf.entries.toSeq.sortBy { case (k, e) => (-e.cnt, k) }
      new GenericArrayData(sorted.map { case (k, e) =>
        InternalRow(k, e.cnt, e.err)
      }.toArray[Any])
    }

    override def serialize(buf: Sketch): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(buf.capacity)
      out.writeInt(buf.entries.size)
      buf.entries.foreach { case (k, e) =>
        val kb = k.getBytes
        out.writeInt(kb.length)
        out.write(kb)
        out.writeLong(e.cnt)
        out.writeLong(e.err)
      }
      out.flush()
      bos.toByteArray
    }

    override def deserialize(bytes: Array[Byte]): Sketch = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val sk = new Sketch(in.readInt())
      val n = in.readInt()
      var i = 0
      while (i < n) {
        val kb = new Array[Byte](in.readInt())
        in.readFully(kb)
        sk.entries.put(UTF8String.fromBytes(kb), Entry(in.readLong(), in.readLong()))
        i += 1
      }
      sk
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSavingAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): SpaceSavingAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newLeft: Expression,
        newRight: Expression
    ): SpaceSavingAgg = copy(left = newLeft, right = newRight)
  }

  def spaceSaving(key: Column, capacity: Column): Column =
    call_function("space_saving", key, capacity)
}
