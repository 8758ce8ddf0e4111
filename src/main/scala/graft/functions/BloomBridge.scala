package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.util.sketch.BloomFilter

/** Bridge to Spark's native bloom-filter machinery (the engine behind
  * `InjectRuntimeFilter`'s row-level runtime filters), exposed for
  * explicit semi-join reduction: build a bloom over the SMALL side's
  * join keys, prefilter the 100 TB side at the scan with
  * `might_contain` (codegen, no shuffle), then run the exact join on
  * the surviving sliver. False positives are removed by the exact
  * join; false negatives don't exist — so the final result is
  * IDENTICAL to the unfiltered join, which is why the bloom-prefiltered
  * query can share its oracle with the exact form.
  *
  * `BloomFilterMightContain` requires its bloom argument to be
  * CONSTANT (a literal or scalar subquery — checked at analysis), so
  * the build side is collected to a driver-held sketch and shipped as
  * a binary literal in the plan: exactly how Spark's own runtime
  * filter ships it (a one-row aggregate result into a scalar
  * subquery). The build itself (`Dataset.stat.bloomFilter`) is a
  * distributed treeAggregate; only the final ~`1.2·n·ln(1/fpp)/ln2²`
  * bits land on the driver.
  */
object BloomBridge {

  /** might_contain(bloom, key): key must be bigint; bloom must be a
    * constant binary (use `serialized` + `lit`).
    */
  def mightContain(bloom: Column, key: Column): Column =
    call_function("might_contain", bloom, key)

  /** The wire form `BloomFilterMightContain` deserializes. */
  def serialized(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
}
