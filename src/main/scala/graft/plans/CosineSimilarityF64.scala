package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two
  * `array<float>` columns, accumulated in doubles in index order.
  *
  * Semantically identical to the `zip_with`+`aggregate` double fold
  * in [[graft.functions.VectorFunctions.cosineFast]], but one
  * primitive loop ([[CosineSimilarityF64.cosine]], no per-element
  * lambda dispatch or boxing) run inside whole-stage codegen — this
  * is the hot inner kernel of the all-pairs/top-k similarity scans,
  * worth ~10× on a 100 TB corpus scan. Used for candidate pruning;
  * exact-decimal math still produces every value that crosses the
  * oracle boundary (SURVEY §5).
  */
case class CosineSimilarityF64(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_f64"
  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarityF64.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => IntegerUnits.call(CosineSimilarityF64, "cosine", a, b))
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarityF64 {
  /** [[CosineSimilarityF64]]'s body: doubles summed in index order. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val x = IntegerUnits.floats(a, "cosine_f64")
    val y = IntegerUnits.floats(b, "cosine_f64")
    val n = IntegerUnits.requireSameLength(x.length, y.length, "cosine_f64")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x(i).toDouble
      val yv = y(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / math.sqrt(na * nb)
  }
}

/** Native squared-L2 distance over two `array<float>`-or-`array<double>`
  * columns — same one-loop rationale as [[CosineSimilarityF64]]; the
  * hot kernel of the k-means assignment scan (k evaluations per row
  * per iteration).
  */
case class L2DistanceF64(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"l2_f64 expects two array<float|double> arguments, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_f64"
  override def nullSafeEval(a: Any, b: Any): Any =
    L2DistanceF64.l2(a.asInstanceOf[ArrayData], isFloat(left), b.asInstanceOf[ArrayData], isFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      IntegerUnits.call(L2DistanceF64, "l2", a, isFloat(left), b, isFloat(right)))
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
}

object L2DistanceF64 {
  /** [[L2DistanceF64]]'s body; each side's flag says it is `array<float>`. */
  def l2(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val x = doubles(a, aFloat)
    val y = doubles(b, bFloat)
    val n = IntegerUnits.requireSameLength(x.length, y.length, "l2_f64")
    var acc = 0.0
    var i = 0
    while (i < n) { val d = x(i) - y(i); acc += d * d; i += 1 }
    acc
  }

  private def doubles(a: ArrayData, isFloat: Boolean): Array[Double] = {
    IntegerUnits.requireNoNulls(a, "l2_f64")
    if (!isFloat) a.toDoubleArray()
    else Array.tabulate(a.numElements())(a.getFloat(_).toDouble)
  }
}

object GraftExpressions {
  /** Column API for the native cosine kernel. */
  def cosineF64(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarityF64(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API for the native squared-L2 kernel. */
  def l2F64(a: Column, b: Column): Column =
    ColumnBridge.column(L2DistanceF64(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API for the one-pass exact fixed-point LSH band-signature
    * kernel (see [[BandSignatures]]).
    */
  def bandSigs(vec: Column, planes: Array[Array[Long]], rowsPerBand: Int): Column =
    ColumnBridge.column(BandSignatures(ColumnBridge.expression(vec),
      planes.map(_.toIndexedSeq).toIndexedSeq, rowsPerBand))
}

/** SQL registration (`SELECT cosine_f64(a, b)`) via
  * `spark.sql.extensions=graft.plans.GraftExtensions`, or call
  * [[GraftExtensions.register]] on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.cosineF64Descriptor)
    ext.injectFunction(GraftExtensions.l2F64Descriptor)
    ext.injectFunction(GraftExtensions.tdigestDescriptor)
    ext.injectFunction(GraftExtensions.topkDescriptor)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => AsOfJoinFilterPushdown)
  }
}

object GraftExtensions {
  private[graft] val cosineF64Descriptor =
    (FunctionIdentifier("cosine_f64"),
      new ExpressionInfo(classOf[CosineSimilarityF64].getName, "cosine_f64"),
      (children: Seq[Expression]) => CosineSimilarityF64(children.head, children(1)): Expression)

  private[graft] val l2F64Descriptor =
    (FunctionIdentifier("l2_f64"),
      new ExpressionInfo(classOf[L2DistanceF64].getName, "l2_f64"),
      (children: Seq[Expression]) => L2DistanceF64(children.head, children(1)): Expression)

  private[graft] val tdigestDescriptor =
    (FunctionIdentifier("tdigest_quantiles"),
      new ExpressionInfo(classOf[TDigestQuantiles].getName, "tdigest_quantiles"),
      (children: Seq[Expression]) => children match {
        // SQL form is fixed-percentile (0.5/0.9/0.99); refuse extra
        // args instead of silently ignoring them — callers wanting
        // custom percentiles/compression use the Column API.
        case Seq(value) => TDigestQuantiles(value): Expression
        case _ => throw new IllegalArgumentException(
          s"tdigest_quantiles(value) takes exactly 1 argument (got ${children.length}); " +
            "use graft.plans.TDigestQuantiles(col, percentiles, compression) for custom settings")
      })

  private[graft] val topkDescriptor =
    (FunctionIdentifier("topk_pairs"),
      new ExpressionInfo(classOf[TopKLongPairs].getName, "topk_pairs"),
      (children: Seq[Expression]) => children match {
        // k must be a foldable integer literal: it sizes the
        // aggregation buffer, which cannot vary per row.
        case Seq(score, id, k) if k.foldable =>
          k.eval() match {
            case i: Int => TopKLongPairs(score, id, i): Expression
            // refuse out-of-Int-range rather than silently wrapping
            case l: Long if l.isValidInt => TopKLongPairs(score, id, l.toInt): Expression
            case other => throw new IllegalArgumentException(
              s"topk_pairs k must be an Int-range integer literal, got $other")
          }
        case _ => throw new IllegalArgumentException(
          "topk_pairs(score, id, k) takes exactly 3 arguments with a literal k")
      })

  /** Idempotent registration on an existing session (the round
    * driver builds its own SparkSession without extensions).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    Seq(cosineF64Descriptor, l2F64Descriptor, tdigestDescriptor, topkDescriptor)
      .foreach { d =>
        spark.sessionState.functionRegistry.registerFunction(d._1, d._2, d._3)
      }
  }
}
