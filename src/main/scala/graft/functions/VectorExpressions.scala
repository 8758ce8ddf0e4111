package graft.functions

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain,
  Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (with whole-stage codegen) for the hot
  * vector kernels. The generic higher-order functions
  * (`aggregate`/`zip_with`) are CodegenFallback — interpreted, one
  * boxed object per element — which at N^2-pair scale turns the
  * scoring loops into GC storms. These generate tight primitive loops
  * instead.
  *
  * Numeric contract (shared with the DuckDB oracles): sequential
  * index-order left fold, each float promoted to double before
  * multiply/accumulate — bit-identical to `list_sum(list_transform(
  * list_zip(...)))`.
  */
object VectorExpressions {

  /** Analysis-time input validation. These expressions are exposed to
    * arbitrary SQL via the function registry (`ExpectsInputTypes` /
    * the implicit-cast machinery is private[sql] in Spark 4), so
    * without an explicit check a vec_dot over array<double> would
    * silently misread the element buffer via ArrayData.getFloat, and
    * md5_sign_bits over a short string would die at execution with a
    * bare IndexOutOfBounds.
    */
  private def checkTypes(
      name: String,
      actual: Seq[DataType],
      expected: Seq[(DataType => Boolean, String)]
  ): TypeCheckResult = {
    actual.zip(expected).zipWithIndex.collectFirst {
      case ((dt, (ok, want)), i) if !ok(dt) =>
        TypeCheckResult.TypeCheckFailure(
          s"$name argument ${i + 1} requires $want, got ${dt.catalogString}"
        )
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  private val isFloatArray: DataType => Boolean = {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  private val isIntArray: DataType => Boolean = {
    case ArrayType(IntegerType, _) => true
    case _                         => false
  }

  /** Null-ELEMENT contract for the codegen array expressions: inputs
    * must be null-free arrays (getLong/getFloat/getUTF8String on a
    * null slot silently reads garbage). When the input TYPE admits
    * null elements (containsNull = true — e.g. the output type of a
    * `transform` lambda), an O(n) guard scan errors loudly instead;
    * when the type proves null-free the guard compiles away entirely,
    * so the ANN / shingle hot paths pay nothing.
    */
  private def requireNoNullElems(a: ArrayData, fn: String): Unit = {
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(
          s"$fn: null array element at index $i; null-free input required")
      i += 1
    }
  }

  private def nullElemGuardCode(idx: String, a: String, fn: String): String =
    s"""for (int $idx = 0; $idx < $a.numElements(); $idx++) {
       |  if ($a.isNullAt($idx)) throw new IllegalArgumentException(
       |    "$fn: null array element at index " + $idx + "; null-free input required");
       |}""".stripMargin

  private def mayHaveNullElems(t: DataType): Boolean = t match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  /** dot(a, b) over two array<float> columns, double accumulator. */
  case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "vec_dot"

    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes("vec_dot", Seq(left.dataType, right.dataType),
        Seq((isFloatArray, "array<float>"), (isFloatArray, "array<float>")))

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      if (mayHaveNullElems(left.dataType)) requireNoNullElems(a, prettyName)
      if (mayHaveNullElems(right.dataType)) requireNoNullElems(b, prettyName)
      val n = math.min(a.numElements(), b.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        val guardA = if (mayHaveNullElems(left.dataType))
          nullElemGuardCode(ctx.freshName("ni"), a, prettyName) else ""
        val guardB = if (mayHaveNullElems(right.dataType))
          nullElemGuardCode(ctx.freshName("ni"), b, prettyName) else ""
        s"""
           |$guardA
           |$guardB
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
           |}
           |${ev.value} = $acc;
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression,
        newRight: Expression
    ): Expression = copy(left = newLeft, right = newRight)
  }

  /** Squared L2 norm of an array<float> column. */
  case class VecNormSq(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "vec_norm_sq"

    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes("vec_norm_sq", Seq(child.dataType), Seq((isFloatArray, "array<float>")))

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      if (mayHaveNullElems(child.dataType)) requireNoNullElems(a, prettyName)
      var acc = 0.0
      var i = 0
      while (i < a.numElements()) {
        val x = a.getFloat(i).toDouble
        acc += x * x
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        val x = ctx.freshName("x")
        val guard = if (mayHaveNullElems(child.dataType))
          nullElemGuardCode(ctx.freshName("ni"), a, prettyName) else ""
        s"""
           |$guard
           |double $acc = 0.0;
           |for (int $i = 0; $i < $a.numElements(); $i++) {
           |  double $x = (double) $a.getFloat($i);
           |  $acc += $x * $x;
           |}
           |${ev.value} = $acc;
           |""".stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** SimHash bit vector: maps a 32-hex-char md5 string to the 64
    * weighted signs (+w where the bit is set, -w where clear). Bit j is
    * bit (3 - j%4) of hex digit j/4 — same definition as the SQL
    * oracle's floor(digit / 2^(3-j%4)) % 2.
    */
  case class Md5SignBits(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "md5_sign_bits"

    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes("md5_sign_bits", Seq(left.dataType, right.dataType),
        Seq((_ == StringType, "string (32-hex-char md5)"), (_ == IntegerType, "int")))

    override def nullSafeEval(h: Any, w: Any): Any = {
      val hex = h.asInstanceOf[UTF8String].toString
      require(hex.length >= 16, s"md5_sign_bits needs >= 16 hex chars, got ${hex.length}")
      val weight = w.asInstanceOf[Int]
      val out = new Array[Int](64)
      var j = 0
      while (j < 64) {
        val digit = Character.digit(hex.charAt(j / 4), 16)
        out(j) = if (((digit >> (3 - j % 4)) & 1) == 1) weight else -weight
        j += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (h, w) => {
        val bytes = ctx.freshName("bytes")
        val out = ctx.freshName("out")
        val j = ctx.freshName("j")
        val digit = ctx.freshName("digit")
        s"""
           |byte[] $bytes = $h.getBytes();
           |if ($bytes.length < 16) {
           |  throw new IllegalArgumentException(
           |    "md5_sign_bits needs >= 16 hex chars, got " + $bytes.length);
           |}
           |int[] $out = new int[64];
           |for (int $j = 0; $j < 64; $j++) {
           |  int $digit = java.lang.Character.digit((char) $bytes[$j / 4], 16);
           |  $out[$j] = ((($digit >> (3 - $j % 4)) & 1) == 1) ? $w : -$w;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression,
        newRight: Expression
    ): Expression = copy(left = newLeft, right = newRight)
  }

  /** Hamming distance between two equal-length bit strings (ASCII).
    * Counts positions where the characters differ — same contract as
    * the oracle's list_filter over per-position substr comparison.
    */
  case class HammingBits(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "hamming_bits"

    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes("hamming_bits", Seq(left.dataType, right.dataType),
        Seq((_ == StringType, "string"), (_ == StringType, "string")))

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[UTF8String].getBytes
      val b = r.asInstanceOf[UTF8String].getBytes
      val n = math.min(a.length, b.length)
      var d = 0L
      var i = 0
      while (i < n) { if (a(i) != b(i)) d += 1; i += 1 }
      d
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val ab = ctx.freshName("ab")
        val bb = ctx.freshName("bb")
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val d = ctx.freshName("d")
        s"""
           |byte[] $ab = $a.getBytes();
           |byte[] $bb = $b.getBytes();
           |int $n = java.lang.Math.min($ab.length, $bb.length);
           |long $d = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($ab[$i] != $bb[$i]) $d++;
           |}
           |${ev.value} = $d;
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression,
        newRight: Expression
    ): Expression = copy(left = newLeft, right = newRight)
  }

  /** Non-overlapping window sums of a string's character code points:
    * result[i] = Σ codepoint(char j) for j in [i·win, (i+1)·win), the
    * trailing partial window dropped — the multimodal family's
    * decode-side primitive (PCM frame energy, aHash pixel cells; on
    * their declared ASCII payload contract, codepoint == byte). One
    * codegen pass over the string replaces the interpreted
    * `aggregate(transform(sequence(...), i -> ascii(substring(...))))`
    * HOF nest, which re-enters the lambda evaluator and allocates a
    * boxed single-char substring per BYTE (MultimodalOps.audioEnergy's
    * old form — measured ~4× this expression on the sf0.1 corpus).
    * win < 1 yields an empty array (mirrors word_ngrams' guard).
    */
  /** SimHash-64 of a token array as ONE scalar map — replaces the
    * explode → (doc, token) count shuffle → 64-wide aggregate shuffle
    * pipeline with a zero-shuffle per-row kernel: at 100 TB the
    * fingerprint pass becomes a pure scan stage (banding is then the
    * first exchange). Heavy lifting lives in [[SimHashKernel.bits]]
    * (one md5 per DISTINCT token, count-weighted — bit-identical to
    * the old `IntVecSumAgg(Md5SignBits(md5(t), c))` aggregate, gates
    * unchanged); codegen is a single static call, so the expression
    * stays inside whole-stage codegen.
    */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "simhash64"

    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes("simhash64", Seq(child.dataType),
        Seq(({ case ArrayType(StringType, _) => true; case _ => false },
          "array<string> (tokens)")))

    override def nullSafeEval(a: Any): Any =
      SimHashKernel.bits(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.SimHashKernel.bits($c)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Fixed-point 8×8 DCT perceptual hash of a 64-pixel window-sum
    * grid ([[PhashKernel.bits]]) — the frequency-domain sibling of the
    * aHash bit grid, as one codegen scalar so media fingerprinting
    * stays a pure scan stage (the SimHash64 pattern). NULL for short
    * grids (callers filter w ≥ 1, keeping both constructions equal).
    */
  case class Phash64(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override def nullable: Boolean = true // < 64 pixels => no hash
    override def prettyName: String = "phash64"

    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes("phash64", Seq(left.dataType, right.dataType),
        Seq(({ case ArrayType(LongType, _) => true; case _ => false },
          "array<bigint> (pixels)"), (_ == LongType, "bigint")))

    override def nullSafeEval(a: Any, w: Any): Any =
      PhashKernel.bits(a.asInstanceOf[ArrayData], w.asInstanceOf[Long])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, w) => {
        s"""
           |${ev.value} = graft.functions.PhashKernel.bits($a, $w);
           |${ev.isNull} = (${ev.value} == null);
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** The hashed-bag-of-words classifier score of a token array — the
    * whole quality-classifier inference pass as ONE codegen'd scalar
    * ([[HashgramKernel.score]]; bit-identical to the retired
    * higher-order `aggregate` fold, which as a CodegenFallback lambda
    * broke whole-stage codegen in every consumer's scan stage). At
    * 100 TB classifier gating is a pure scan: this keeps it inside
    * the generated loop.
    */
  case class HashgramScoreExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "hashgram_score"

    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes("hashgram_score", Seq(child.dataType),
        Seq(({ case ArrayType(StringType, _) => true; case _ => false },
          "array<string> (tokens)")))

    override def nullSafeEval(a: Any): Any =
      HashgramKernel.score(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashgramKernel.score($c)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Exact 1/64-bit fixed-point log₂ of a BIGINT ≥ 1
    * ([[C64Kernel.c64]]) — the integer-log primitive the tokenizer /
    * LM families use instead of a transcendental, as a codegen scalar
    * so model tables that are data-bounded but NOT driver-bounded
    * (e.g. the Kneser-Ney bigram model) can take log-probabilities
    * inside the scan stage. log₂(num/den) = c64(num) − c64(den),
    * still pure BIGINT.
    */
  case class C64Expr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "c64_log2"

    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes("c64_log2", Seq(child.dataType),
        Seq(({ case LongType => true; case _ => false }, "bigint (v >= 1)")))

    override def nullSafeEval(v: Any): Any =
      C64Kernel.c64(v.asInstanceOf[Long])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.C64Kernel.c64($c)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-row MinHash signature (12 longs) of a token array — the
    * signature stage of the LSH family as a zero-shuffle scalar map
    * ([[MinHashKernel.sigs]]; bit-identical to the retired posting
    * `shingleHash`/`docSignatures` aggregation). Returns NULL for a
    * document with fewer than n tokens (the posting form emitted no
    * rows for it) — callers filter, keeping the two constructions
    * row-for-row equal.
    */
  case class MinHashSigs(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def nullable: Boolean = true // < n tokens => no signature
    override def prettyName: String = "minhash_sigs"

    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes("minhash_sigs", Seq(left.dataType, right.dataType),
        Seq(({ case ArrayType(StringType, _) => true; case _ => false },
          "array<string> (tokens)"), (_ == IntegerType, "int")))

    override def nullSafeEval(a: Any, n: Any): Any =
      MinHashKernel.sigs(a.asInstanceOf[ArrayData], n.asInstanceOf[Int])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, n) => {
        s"""
           |${ev.value} = graft.functions.MinHashKernel.sigs($a, $n);
           |${ev.isNull} = (${ev.value} == null);
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Positional 60-bit md5 window hashes of a token array
    * ([[MinHashKernel.windowHashes]]) — the winnowing chain's hash
    * stream as codegen instead of an interpreted `transform` lambda.
    */
  case class ShingleHashes(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "shingle_hashes"

    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes("shingle_hashes", Seq(left.dataType, right.dataType),
        Seq(({ case ArrayType(StringType, _) => true; case _ => false },
          "array<string> (tokens)"), (_ == IntegerType, "int")))

    override def nullSafeEval(a: Any, n: Any): Any =
      MinHashKernel.windowHashes(a.asInstanceOf[ArrayData], n.asInstanceOf[Int])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, n) => s"graft.functions.MinHashKernel.windowHashes($a, $n)")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Per-row T5 span-corruption statistics + fingerprints
    * ([[SpanCorruptKernel.stats]]; bit-identical to the retired
    * three-pass higher-order `transform` construction, which as
    * CodegenFallback lambdas broke whole-stage codegen in both
    * consumers' scan stages). At 100 TB the masked-objective
    * transform is a pure scan: this keeps it inside the generated
    * loop for `span_corruption` AND `ul2_mix`.
    */
  case class SpanCorruptExpr(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n_corrupted", LongType, nullable = false),
      StructField("n_spans", LongType, nullable = false),
      StructField("masked_fp", LongType, nullable = false),
      StructField("target_fp", LongType, nullable = false)
    ))
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "span_corrupt"

    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes("span_corrupt", Seq(left.dataType, right.dataType),
        Seq((_ == LongType, "bigint (doc_id)"),
          ({ case ArrayType(StringType, _) => true; case _ => false },
            "array<string> (tokens)")))

    override def nullSafeEval(id: Any, a: Any): Any =
      SpanCorruptKernel.stats(id.asInstanceOf[Long], a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (id, a) => s"graft.functions.SpanCorruptKernel.stats($id, $a)")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  case class AsciiWindowSums(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "ascii_window_sums"

    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes("ascii_window_sums", Seq(left.dataType, right.dataType),
        Seq((_ == StringType, "string"), (_ == IntegerType, "int")))

    override def nullSafeEval(strAny: Any, winAny: Any): Any = {
      val s = strAny.asInstanceOf[UTF8String].toString
      val win = winAny.asInstanceOf[Int]
      if (win < 1) new GenericArrayData(new Array[Long](0))
      else {
        val cps = s.codePointCount(0, s.length)
        val wins = cps / win
        val sums = new Array[Long](wins)
        var i = 0
        var cpIdx = 0
        val limit = wins * win
        while (cpIdx < limit) {
          val cp = s.codePointAt(i)
          sums(cpIdx / win) += cp
          i += Character.charCount(cp)
          cpIdx += 1
        }
        new GenericArrayData(sums)
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (str, win) => {
        val s = ctx.freshName("s")
        val cps = ctx.freshName("cps")
        val wins = ctx.freshName("wins")
        val sums = ctx.freshName("sums")
        val i = ctx.freshName("i")
        val cpIdx = ctx.freshName("cpIdx")
        val limit = ctx.freshName("limit")
        val cp = ctx.freshName("cp")
        s"""
           |java.lang.String $s = $str.toString();
           |long[] $sums;
           |if ($win < 1) {
           |  $sums = new long[0];
           |} else {
           |  int $cps = $s.codePointCount(0, $s.length());
           |  int $wins = $cps / $win;
           |  $sums = new long[$wins];
           |  int $i = 0;
           |  int $limit = $wins * $win;
           |  for (int $cpIdx = 0; $cpIdx < $limit; $cpIdx++) {
           |    int $cp = $s.codePointAt($i);
           |    $sums[$cpIdx / $win] += $cp;
           |    $i += java.lang.Character.charCount($cp);
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sums);
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression,
        newRight: Expression
    ): Expression = copy(left = newLeft, right = newRight)
  }

  /** Sliding-window minima of a long array: result[i] =
    * min(a[i..i+w-1]) for i in [0, n−w], the winnowing selector's
    * inner loop. A monotonic deque makes it O(n) where the
    * interpreted `transform(sequence, i -> array_min(slice(a, i, w)))`
    * HOF form is O(n·w) with a boxed array copy per window — and, as
    * the winnowing_pairs incident showed, that HOF nest is what
    * optimizer rules inline into inferred filters. Arrays shorter
    * than w (or w < 1) produce an empty array, matching word_ngrams'
    * guard.
    */
  case class SlidingMin(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "sliding_min"

    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes("sliding_min", Seq(left.dataType, right.dataType),
        Seq(({ case ArrayType(LongType, _) => true; case _ => false },
          "array<bigint>"), (_ == IntegerType, "int")))

    override def nullSafeEval(arr: Any, wAny: Any): Any = {
      val a = arr.asInstanceOf[ArrayData]
      if (mayHaveNullElems(left.dataType)) requireNoNullElems(a, prettyName)
      val w = wAny.asInstanceOf[Int]
      val n = a.numElements()
      val m = if (w < 1) 0 else n - w + 1
      if (m <= 0) new GenericArrayData(new Array[Long](0))
      else {
        val out = new Array[Long](m)
        val deque = new Array[Int](n) // indices, increasing values
        var head = 0
        var tail = 0 // exclusive
        var i = 0
        while (i < n) {
          val v = a.getLong(i)
          while (tail > head && a.getLong(deque(tail - 1)) >= v) tail -= 1
          deque(tail) = i; tail += 1
          if (deque(head) <= i - w) head += 1
          if (i >= w - 1) out(i - w + 1) = a.getLong(deque(head))
          i += 1
        }
        new GenericArrayData(out)
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, w) => {
        val n = ctx.freshName("n")
        val m = ctx.freshName("m")
        val out = ctx.freshName("out")
        val deque = ctx.freshName("deque")
        val head = ctx.freshName("head")
        val tail = ctx.freshName("tail")
        val i = ctx.freshName("i")
        val v = ctx.freshName("v")
        val guard = if (mayHaveNullElems(left.dataType))
          nullElemGuardCode(ctx.freshName("ni"), a, prettyName) else ""
        s"""
           |$guard
           |int $n = $a.numElements();
           |int $m = ($w < 1) ? 0 : $n - $w + 1;
           |if ($m < 0) $m = 0;
           |long[] $out = new long[$m];
           |if ($m > 0) {
           |  int[] $deque = new int[$n];
           |  int $head = 0; int $tail = 0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    long $v = $a.getLong($i);
           |    while ($tail > $head && $a.getLong($deque[$tail - 1]) >= $v) $tail--;
           |    $deque[$tail] = $i; $tail++;
           |    if ($deque[$head] <= $i - $w) $head++;
           |    if ($i >= $w - 1) $out[$i - $w + 1] = $a.getLong($deque[$head]);
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression,
        newRight: Expression
    ): Expression = copy(left = newLeft, right = newRight)
  }

  /** Consecutive word n-grams of a token array, space-joined — the
    * shingle constructor. Doing this per-row in codegen replaces the
    * posexplode → window-shuffle-by-doc → lead → concat pipeline (two
    * extra passes over the 100×-inflated token stream, one of them a
    * full shuffle) with zero shuffles: tokens never leave their row.
    * Arrays shorter than n produce an empty array (matches `lead`
    * null-dropping). The built-in HOF route (`transform`+`slice`) is
    * CodegenFallback — interpreted, boxed — hence a native expression.
    */
  case class WordNgrams(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "word_ngrams"

    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes("word_ngrams", Seq(left.dataType, right.dataType),
        Seq(({ case ArrayType(StringType, _) => true; case _ => false },
          "array<string>"), (_ == IntegerType, "int")))

    override def nullSafeEval(toks: Any, nAny: Any): Any = {
      val a = toks.asInstanceOf[ArrayData]
      if (mayHaveNullElems(left.dataType)) requireNoNullElems(a, prettyName)
      val n = nAny.asInstanceOf[Int]
      // n < 1 is meaningless (n=0 would emit numElements+1 empty
      // shingles, n < 0 a negative array size): empty result, same as
      // "array shorter than n"
      val m = if (n < 1) 0 else a.numElements() - n + 1
      if (m <= 0) new GenericArrayData(new Array[AnyRef](0))
      else {
        val out = new Array[AnyRef](m)
        val sep = UTF8String.fromString(" ")
        var i = 0
        while (i < m) {
          val parts = new Array[UTF8String](n)
          var j = 0
          while (j < n) { parts(j) = a.getUTF8String(i + j); j += 1 }
          out(i) = UTF8String.concatWs(sep, parts: _*)
          i += 1
        }
        new GenericArrayData(out)
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, n) => {
        val m = ctx.freshName("m")
        val out = ctx.freshName("out")
        val parts = ctx.freshName("parts")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val sep = ctx.addReferenceObj("sep", UTF8String.fromString(" "),
          classOf[UTF8String].getName)
        val guard = if (mayHaveNullElems(left.dataType))
          nullElemGuardCode(ctx.freshName("ni"), a, prettyName) else ""
        s"""
           |$guard
           |int $m = ($n < 1) ? 0 : $a.numElements() - $n + 1;
           |if ($m < 0) $m = 0;
           |Object[] $out = new Object[$m];
           |for (int $i = 0; $i < $m; $i++) {
           |  org.apache.spark.unsafe.types.UTF8String[] $parts =
           |    new org.apache.spark.unsafe.types.UTF8String[$n];
           |  for (int $j = 0; $j < $n; $j++) {
           |    $parts[$j] = $a.getUTF8String($i + $j);
           |  }
           |  $out[$i] = org.apache.spark.unsafe.types.UTF8String.concatWs($sep, $parts);
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression,
        newRight: Expression
    ): Expression = copy(left = newLeft, right = newRight)
  }

  /** Element-wise sum of fixed-width int vectors — the aggregation
    * half of SimHash: summing the ±weight sign vectors of every
    * distinct token directly, instead of exploding 64 (bit, value)
    * rows per token through a hash aggregate (64x the shuffle-input
    * rows). Integer addition is commutative/associative, so partial
    * aggregation + merge is exact and order-independent — value-
    * identical to the exploded form and to the SQL oracle.
    */
  case class IntVecSumAgg(
      child: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0
  ) extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]]
      with UnaryLike[Expression] {
    private val N = 64

    override def prettyName: String = "int_vec_sum"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false

    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes("int_vec_sum", Seq(child.dataType), Seq((isIntArray, "array<int>")))

    override def createAggregationBuffer(): Array[Long] = new Array[Long](N)

    override def update(buf: Array[Long], input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) {
        val a = v.asInstanceOf[ArrayData]
        // Registered as a general SQL function, so enforce the fixed
        // 64-wide contract instead of silently truncating/zero-padding
        // other widths into a wrong 64-element answer.
        if (a.numElements() != N) {
          throw new IllegalArgumentException(
            s"int_vec_sum requires array<int> of exactly $N elements, got ${a.numElements()}")
        }
        var i = 0
        while (i < N) { buf(i) += a.getInt(i); i += 1 }
      }
      buf
    }

    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var i = 0
      while (i < N) { b1(i) += b2(i); i += 1 }
      b1
    }

    override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

    override def serialize(buf: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(N * 8)
      var i = 0
      while (i < N) { bb.putLong(buf(i)); i += 1 }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val buf = new Array[Long](N)
      var i = 0
      while (i < N) { buf(i) = bb.getLong(); i += 1 }
      buf
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): IntVecSumAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): IntVecSumAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(newChild: Expression): IntVecSumAgg =
      copy(child = newChild)
  }

  /** zorder64(x, y): Morton interleave of the low 32 bits of two
    * non-negative longs — x in the even bit positions, y in the odd —
    * producing the 64-bit Z-address used for multi-dimensional data
    * clustering. Sorting (or range-partitioning) by the Z-address
    * keeps rows close in BOTH dimensions within each output file, so
    * parquet min/max footer stats prune scans on EITHER predicate —
    * the layout trick single-column sorting can't provide. The spread
    * is the standard five-mask bit doubling (O(log w), branch-free),
    * identical in interpreted eval and codegen; inputs outside
    * [0, 2^32) are masked to their low 32 bits (documented contract —
    * callers bucket/offset real values into unsigned 32-bit space).
    */
  /** Hilbert curve index of a (x, y) cell on the 1024×1024 grid — the
    * locality-layout alternative to `zorder64`: consecutive Hilbert
    * addresses are always GRID NEIGHBORS (|Δx|+|Δy| = 1; the spec
    * proves it over the full 2²⁰-cell curve), where the Z curve jumps
    * across the plane at every power-of-two boundary, so
    * Hilbert-clustered files bound a range scan's x/y spread strictly
    * tighter. Standard xy→d bit algorithm (10 levels of quadrant
    * resolve + rotate), all integer — the DuckDB oracle executes the
    * same 10 levels as generated chained CTEs.
    */
  case class Hilbert64(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "hilbert64"

    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes("hilbert64", Seq(left.dataType, right.dataType),
        Seq((_ == LongType, "bigint"), (_ == LongType, "bigint")))

    override def nullSafeEval(xa: Any, ya: Any): Any = {
      var hx = xa.asInstanceOf[Long]
      var hy = ya.asInstanceOf[Long]
      var d = 0L
      var s = 512L
      while (s > 0) {
        val rx = if ((hx & s) > 0) 1L else 0L
        val ry = if ((hy & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { hx = s - 1 - hx; hy = s - 1 - hy }
          val t = hx; hx = hy; hy = t
        }
        s >>= 1
      }
      d
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val hx = ctx.freshName("hx")
        val hy = ctx.freshName("hy")
        val d = ctx.freshName("d")
        val st = ctx.freshName("s")
        val rx = ctx.freshName("rx")
        val ry = ctx.freshName("ry")
        val t = ctx.freshName("t")
        s"""
           |long $hx = $x; long $hy = $y; long $d = 0L;
           |for (long $st = 512L; $st > 0; $st >>= 1) {
           |  long $rx = (($hx & $st) > 0) ? 1L : 0L;
           |  long $ry = (($hy & $st) > 0) ? 1L : 0L;
           |  $d += $st * $st * ((3L * $rx) ^ $ry);
           |  if ($ry == 0) {
           |    if ($rx == 1) { $hx = $st - 1 - $hx; $hy = $st - 1 - $hy; }
           |    long $t = $hx; $hx = $hy; $hy = $t;
           |  }
           |}
           |${ev.value} = $d;
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression,
        newRight: Expression
    ): Expression = copy(left = newLeft, right = newRight)
  }

  case class ZOrder64(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "zorder64"

    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes("zorder64", Seq(left.dataType, right.dataType),
        Seq((_ == LongType, "bigint"), (_ == LongType, "bigint")))

    @inline private def spread(v0: Long): Long = {
      var v = v0 & 0xFFFFFFFFL
      v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
      v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
      v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v << 2)) & 0x3333333333333333L
      v = (v | (v << 1)) & 0x5555555555555555L
      v
    }

    override def nullSafeEval(x: Any, y: Any): Any =
      spread(x.asInstanceOf[Long]) | (spread(y.asInstanceOf[Long]) << 1)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val fn = ctx.addNewFunction(
          "zorderSpread32",
          s"""
             |private long zorderSpread32(long v) {
             |  v &= 0xFFFFFFFFL;
             |  v = (v | (v << 16)) & 0x0000FFFF0000FFFFL;
             |  v = (v | (v << 8)) & 0x00FF00FF00FF00FFL;
             |  v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL;
             |  v = (v | (v << 2)) & 0x3333333333333333L;
             |  v = (v | (v << 1)) & 0x5555555555555555L;
             |  return v;
             |}
           """.stripMargin
        )
        s"${ev.value} = $fn($x) | ($fn($y) << 1);"
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression,
        newRight: Expression
    ): Expression = copy(left = newLeft, right = newRight)
  }

  /** Upper-triangle outer-product values of an array<float> vector:
    * result[pos] = (double) a[i] * (double) a[j] for i ≤ j in
    * i-major lexicographic order, pos = i·n − i(i−1)/2 + (j − i).
    * ONE codegen pass per row replaces the posexplode + vec_id
    * self-join form of the Gram contribution, whose co-partitioning
    * shuffled rows·dims exploded values twice; with this expression
    * the products are born in the scan stage and map-side combine
    * collapses them to dims² partial sums before any exchange.
    * Same IEEE products, summed through the same decimal path —
    * bit-identical Gram cells.
    */
  case class OuterProducts(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "outer_products"

    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes("outer_products", Seq(child.dataType), Seq((isFloatArray, "array<float>")))

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      if (mayHaveNullElems(child.dataType)) requireNoNullElems(a, prettyName)
      val n = a.numElements()
      val out = new Array[Double](n * (n + 1) / 2)
      var pos = 0
      var i = 0
      while (i < n) {
        val vi = a.getFloat(i).toDouble
        var j = i
        while (j < n) { out(pos) = vi * a.getFloat(j).toDouble; pos += 1; j += 1 }
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val n = ctx.freshName("n")
        val out = ctx.freshName("out")
        val pos = ctx.freshName("pos")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val vi = ctx.freshName("vi")
        val guard = if (mayHaveNullElems(child.dataType))
          nullElemGuardCode(ctx.freshName("ni"), a, prettyName) else ""
        s"""
           |$guard
           |int $n = $a.numElements();
           |double[] $out = new double[$n * ($n + 1) / 2];
           |int $pos = 0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $vi = (double) $a.getFloat($i);
           |  for (int $j = $i; $j < $n; $j++) {
           |    $out[$pos++] = $vi * (double) $a.getFloat($j);
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
           |""".stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Arity guard for registry builders (otherwise a wrong-arity SQL
    * call dies with a bare IndexOutOfBounds).
    */
  def expect(n: Int, name: String)(
      exprs: Seq[Expression]
  ): Seq[Expression] = {
    require(exprs.length == n, s"$name requires $n arguments, got ${exprs.length}")
    exprs
  }

  /** Every native SQL function of the engine, one entry each: the
    * name, an `ExpressionInfo` naming the expression class, and a
    * builder that checks arity through [[expect]]. GraftExtensions
    * injects the table into every session it builds. The
    * Column/Expression bridge objects are private[sql] in Spark 4, so
    * the public path to a custom Expression is registry + call_function.
    */
  val NativeFunctions
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    def fn[T <: Expression: ClassTag](name: String, arity: Int, build: Seq[Expression] => T) =
      (FunctionIdentifier(name), new ExpressionInfo(classTag[T].runtimeClass.getName, name),
        (exprs: Seq[Expression]) => build(expect(arity, name)(exprs)))
    Seq(
      fn("vec_dot", 2, e => VecDot(e(0), e(1))),
      fn("vec_norm_sq", 1, e => VecNormSq(e(0))),
      fn("md5_sign_bits", 2, e => Md5SignBits(e(0), e(1))),
      fn("hamming_bits", 2, e => HammingBits(e(0), e(1))),
      fn("ascii_window_sums", 2, e => AsciiWindowSums(e(0), e(1))),
      fn("sliding_min", 2, e => SlidingMin(e(0), e(1))),
      fn("int_vec_sum", 1, e => IntVecSumAgg(e(0))),
      fn("fnv1a", 1, e => Fnv1a.FnvHash(e(0))),
      fn("word_ngrams", 2, e => WordNgrams(e(0), e(1))),
      fn("zorder64", 2, e => ZOrder64(e(0), e(1))),
      fn("outer_products", 1, e => OuterProducts(e(0))),
      fn("hilbert64", 2, e => Hilbert64(e(0), e(1))),
      // the kernel's user map as a SQL table function: plugin maps for
      // SQL-only users (registry names and dynamic dotted class names)
      fn("mr_map", 3, e => MrMapGen(e(0), e(1), e(2))),
      fn("phash64", 2, e => Phash64(e(0), e(1))),
      fn("simhash64", 1, e => SimHash64(e(0))),
      fn("minhash_sigs", 2, e => MinHashSigs(e(0), e(1))),
      fn("shingle_hashes", 2, e => ShingleHashes(e(0), e(1))),
      fn("hashgram_score", 1, e => HashgramScoreExpr(e(0))),
      fn("span_corrupt", 2, e => SpanCorruptExpr(e(0), e(1))),
      fn("c64_log2", 1, e => C64Expr(e(0))),
      fn("space_saving", 2, e => SpaceSaving.SpaceSavingAgg(e(0), e(1))),
      fn("kll_quantiles", 3, e => KllSketch.KllQuantilesAgg(e(0), e(1), e(2))),
      fn("cm_sketch", 3, e => CountMin.CountMinAgg(e(0), e(1), e(2))),
      fn("cm_estimate", 2, e => CountMin.CmEstimate(e(0), e(1))),
      fn("might_contain", 2, e => BloomFilterMightContain(e(0), e(1))))
  }

  /** Registers the [[NativeFunctions]] a session's registry lacks: the
    * fallback for a session built without the GraftExtensions conf.
    * On a session built with it, this registers (and logs) nothing.
    */
  def register(spark: SparkSession): Unit = {
    val reg = org.apache.spark.sql.classic.ClassicConversions
      .castToImpl(spark)
      .sessionState
      .functionRegistry
    for ((id, info, build) <- NativeFunctions if !reg.functionExists(id))
      reg.registerFunction(id, info, build)
  }

  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def vecNormSq(a: Column): Column = call_function("vec_norm_sq", a)

  def md5SignBits(hex: Column, weight: Column): Column =
    call_function("md5_sign_bits", hex, weight)

  def hammingBits(a: Column, b: Column): Column = call_function("hamming_bits", a, b)

  def simhash64(toks: Column): Column = call_function("simhash64", toks)

  def phash64(pixels: Column, w: Column): Column = call_function("phash64", pixels, w)

  def minhashSigs(toks: Column, n: Column): Column = call_function("minhash_sigs", toks, n)

  def shingleHashes(toks: Column, n: Column): Column = call_function("shingle_hashes", toks, n)

  def hashgramScore(toks: Column): Column = call_function("hashgram_score", toks)

  def spanCorrupt(docId: Column, toks: Column): Column =
    call_function("span_corrupt", docId, toks)

  def asciiWindowSums(s: Column, win: Column): Column =
    call_function("ascii_window_sums", s, win)

  def slidingMin(a: Column, w: Column): Column = call_function("sliding_min", a, w)

  def intVecSum(a: Column): Column = call_function("int_vec_sum", a)

  def wordNgrams(toks: Column, n: Column): Column = call_function("word_ngrams", toks, n)

  def zorder64(x: Column, y: Column): Column = call_function("zorder64", x, y)

  def outerProducts(a: Column): Column = call_function("outer_products", a)

  def hilbert64(x: Column, y: Column): Column = call_function("hilbert64", x, y)

  def c64Log2(v: Column): Column = call_function("c64_log2", v)
}
