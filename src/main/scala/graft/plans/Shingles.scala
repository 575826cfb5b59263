package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the `w`-token shingles of a token
  * array in ONE codegen'd pass — replaces the `transform(sequence(…),
  * i => concat_ws(" ", slice(toks, i, w)))` higher-order function,
  * whose lambda ran interpreted once per shingle offset and dominated
  * the dedup family's shingle checkpoint.
  *
  * Bit-identical to that expression for every input:
  *   - element i (0-based) is `concat_ws(" ", toks[i .. i+w-1])`,
  *     built with the same `UTF8String.concatWs` (a null token is
  *     skipped, as concat_ws skips it);
  *   - fewer than `w` tokens, or a null array, give the EMPTY array
  *     (the HOF's `when(size(toks) >= w, …).otherwise(array())` guard,
  *     where size(null) is never ≥ w), never null.
  *
  * The child is evaluated once per row, so an inline `tokens(text)`
  * costs one split per document, not one per offset.
  */
case class Shingles(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"shingle width must be >= 1, got $w")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingles expects an array<string> argument, got $other")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "shingles"

  override def eval(input: InternalRow): Any = {
    val toks = child.eval(input).asInstanceOf[ArrayData]
    val n = if (toks == null) 0 else toks.numElements()
    val out = new Array[Any](math.max(n - w + 1, 0))
    val win = new Array[UTF8String](w)
    var i = 0
    while (i < out.length) {
      var j = 0
      while (j < w) { win(j) = toks.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Shingles.Sep, win: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val sep = ctx.addReferenceObj("sep", Shingles.Sep)
    val n = ctx.freshName("n"); val out = ctx.freshName("out")
    val win = ctx.freshName("win"); val i = ctx.freshName("i"); val j = ctx.freshName("j")
    ev.copy(code = code"""
      |${c.code}
      |int $n = ${c.isNull} ? 0 : ${c.value}.numElements();
      |Object[] $out = new Object[java.lang.Math.max($n - $w + 1, 0)];
      |UTF8String[] $win = new UTF8String[$w];
      |for (int $i = 0; $i < $out.length; $i++) {
      |  for (int $j = 0; $j < $w; $j++) { $win[$j] = ${c.value}.getUTF8String($i + $j); }
      |  $out[$i] = UTF8String.concatWs($sep, $win);
      |}
      |ArrayData ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Shingles {
  private val Sep = UTF8String.fromString(" ")
}
