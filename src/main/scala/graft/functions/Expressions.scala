package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the text/similarity hot paths. Each is a
  * thin codegen wrapper over a [[Kernels]] static call: one JVM invocation
  * per row inside whole-stage codegen, replacing interpreted per-element
  * higher-order-function lambdas (the round-1 formulation; 10-100× slower).
  * Values are bit-identical to the HOF forms — see Kernels' scaladoc and
  * KernelsSpec.
  */
object TextExpressions {

  /** `Column` surface (what operators use). */
  def polyHash(text: Column): Column = Shim.column(PolyHashExpr(Shim.expression(text)))

  def fingerprint(text: Column, gram: Int = 8): Column =
    Shim.column(FingerprintExpr(Shim.expression(text), gram))

  def markerCountSum(text: Column, words: Seq[String]): Column =
    Shim.column(MarkerCountSumExpr(Shim.expression(text), words))

  def shingles(text: Column, n: Int): Column =
    Shim.column(ShinglesExpr(Shim.expression(text), n))

  def simhash(text: Column): Column = Shim.column(SimhashExpr(Shim.expression(text)))

  def minhashSig(text: Column, n: Int, k: Int): Column =
    Shim.column(MinhashSigExpr(Shim.expression(text), n, k))

  def dot(a: Column, b: Column): Column =
    Shim.column(FoldDotExpr(Shim.expression(a), Shim.expression(b)))

  def tokenWindowHashes(tokens: Column, w: Int): Column =
    Shim.column(TokenWindowHashesExpr(Shim.expression(tokens), w))
}

/** Seeded left-fold polynomial hash of a string's code points (see
  * [[Kernels.polyHash]]). */
case class PolyHashExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got $t")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    Kernels.polyHash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.polyHash($c)")
  override protected def withNewChildInternal(newChild: Expression): PolyHashExpr =
    copy(child = newChild)
}

/** Min poly-hash over word `gram`-grams via one prefix-hash pass (see
  * [[Kernels.fingerprint]]). */
case class FingerprintExpr(child: Expression, gram: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got $t")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    Kernels.fingerprint(input.asInstanceOf[UTF8String], gram)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.fingerprint($c, $gram)")
  override protected def withNewChildInternal(newChild: Expression): FingerprintExpr =
    copy(child = newChild)
}

/** Σ occurrences of `words` among whitespace tokens, one tokenization pass
  * (see [[Kernels.markerCountSum]]). */
case class MarkerCountSumExpr(child: Expression, words: Seq[String])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got $t")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  private lazy val wordArr: Array[String] = words.toArray
  override protected def nullSafeEval(input: Any): Any =
    Kernels.markerCountSum(input.asInstanceOf[UTF8String], wordArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wordsRef = ctx.addReferenceObj("words", wordArr, "java.lang.String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.markerCountSum($c, $wordsRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): MarkerCountSumExpr =
    copy(child = newChild)
}

/** Distinct word n-gram shingles in first-occurrence order (see
  * [[Kernels.shingles]]). */
case class ShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Kernels.shingles(input.asInstanceOf[UTF8String], n).asInstanceOf[Array[Any]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"(Object[]) graft.functions.Kernels.shingles($c, $n))")
  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

/** 32-bit SimHash of a text's whitespace tokens, one MD5 per token (see
  * [[Kernels.simhash32]]). */
case class SimhashExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got $t")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    Kernels.simhash32(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.simhash32($c)")
  override protected def withNewChildInternal(newChild: Expression): SimhashExpr =
    copy(child = newChild)
}

/** The `k` MinHash components of a text's word `n`-gram shingles, one MD5
  * per shingle (see [[Kernels.minhashSig]]). */
case class MinhashSigExpr(child: Expression, n: Int, k: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(Kernels.minhashSig(input.asInstanceOf[UTF8String], n, k))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.Kernels.minhashSig($c, $n, $k))")
  override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
    copy(child = newChild)
}

/** Stride-1 double-modulus rolling window hashes over an int-token array
  * (see [[Kernels.tokenWindowHashes]]): one O(n) prefix pass per row in
  * whole-stage codegen, O(1) per window. */
case class TokenWindowHashesExpr(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"window must be ≥ 1, got $w")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<int>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(Kernels.tokenWindowHashes(input.asInstanceOf[ArrayData], w))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.Kernels.tokenWindowHashes($c, $w))")
  override protected def withNewChildInternal(newChild: Expression): TokenWindowHashesExpr =
    copy(child = newChild)
}

/** Ordered left-fold dot product over two numeric arrays with double
  * accumulation: Σᵢ (aᵢ→double)·(bᵢ→double) in index order — bit-identical
  * to `aggregate(zip_with(a, b, (x, y) → x.cast·y.cast), 0.0, +)`. Null if
  * the lengths differ (zip_with pads with null, nulling the fold). */
case class FoldDotExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // ALWAYS nullable: a length mismatch yields null even for non-null
  // inputs. Inheriting child nullability also broke whole-stage codegen —
  // with two non-nullable children the planner folds ev.isNull to a
  // non-assignable literal, the `${ev.isNull} = true` branch below then
  // fails janino ("not an rvalue") and every stage containing the kernel
  // silently fell back to interpreted evaluation (the round-5 bench's
  // CodeGenerator ERRORs during dedup_embedding_cosine).
  override def nullable: Boolean = true

  private def lane(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(et @ (FloatType | DoubleType), _) => Some(et)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (lane(left).isDefined && lane(right).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"FoldDot requires array<float|double> inputs, got ${left.dataType} / ${right.dataType}")

  private def kernelName: String = (lane(left).get, lane(right).get) match {
    case (FloatType, FloatType) => "dotFF"
    case (FloatType, DoubleType) => "dotFD"
    case (DoubleType, FloatType) => "dotDF"
    case (DoubleType, DoubleType) => "dotDD"
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    if (aa.numElements() != bb.numElements()) null
    else kernelName match {
      case "dotFF" => Kernels.dotFF(aa, bb)
      case "dotFD" => Kernels.dotFD(aa, bb)
      case "dotDF" => Kernels.dotDF(aa, bb)
      case "dotDD" => Kernels.dotDD(aa, bb)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |if ($a.numElements() != $b.numElements()) {
      |  ${ev.isNull} = true;
      |} else {
      |  ${ev.value} = graft.functions.Kernels.$kernelName($a, $b);
      |}""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FoldDotExpr =
    copy(left = newLeft, right = newRight)
}
