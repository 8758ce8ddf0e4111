package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a 32-bit hash, masked non-negative — the reference's shuffle
  * partitioner (`utils/hashes.go:7-11`, used at `mr/worker.go:129` as
  * `Ihash(key) % nReduce`).
  *
  * Spark's shuffles hash keys their own way; results are identical regardless of
  * which key lands in which reduce partition, so this exists only for
  * per-file output parity with the reference (`mr-out-R` assignment) and
  * for tests that assert the bucketing function itself.
  */
object Fnv1a {
  private val OffsetBasis = 0x811c9dc5 // 2166136261
  private val Prime = 0x01000193 // 16777619

  /** Matches Go's `fnv.New32a().Write([]byte(key)).Sum32() & 0x7fffffff`. */
  def hash(key: String): Int = {
    var h = OffsetBasis
    val bytes = key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xff)
      h *= Prime
      i += 1
    }
    h & 0x7fffffff
  }

  /** Codegen form of `hash` for use inside SQL plans (e.g.
    * `repartition(nReduce, pmod(fnv1a(key), nReduce))`). UTF8String
    * bytes are already UTF-8, so the generated loop hashes them
    * directly — no String round-trip.
    */
  case class FnvHash(child: Expression) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "fnv1a"

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"fnv1a requires string, got ${child.dataType.catalogString}")

    override def nullSafeEval(v: Any): Any = {
      val bytes = v.asInstanceOf[UTF8String].getBytes
      var h = OffsetBasis
      var i = 0
      while (i < bytes.length) {
        h ^= (bytes(i) & 0xff)
        h *= Prime
        i += 1
      }
      h & 0x7fffffff
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s => {
        val bytes = ctx.freshName("bytes")
        val h = ctx.freshName("h")
        val i = ctx.freshName("i")
        s"""
           |byte[] $bytes = $s.getBytes();
           |int $h = $OffsetBasis;
           |for (int $i = 0; $i < $bytes.length; $i++) {
           |  $h ^= ($bytes[$i] & 0xff);
           |  $h *= $Prime;
           |}
           |${ev.value} = $h & 0x7fffffff;
           |""".stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Column form: `fnv1a` comes from `VectorExpressions.NativeFunctions`,
    * which every GraftExtensions session has.
    */
  def fnv1a(c: Column): Column =
    org.apache.spark.sql.functions.call_function("fnv1a", c)
}
