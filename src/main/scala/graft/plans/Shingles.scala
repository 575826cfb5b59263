package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the `w`-token shingles of a token
  * array in ONE pass ([[Shingles.shingles]]) — replaces the `transform(sequence(…),
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
case class Shingles(child: Expression, w: Int) extends UnaryExpression with ExpectsInputTypes {
  require(w >= 1, s"shingle width must be >= 1, got $w")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "shingles"
  override def eval(input: InternalRow): Any =
    Shingles.shingles(child.eval(input).asInstanceOf[ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |ArrayData ${ev.value} = ${IntegerUnits.call(Shingles, "shingles", s"${c.isNull} ? null : ${c.value}", w)};
      """.stripMargin, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Shingles {
  private val Sep = UTF8String.fromString(" ")

  /** [[Shingles]]'s body; a null token array has no shingles. */
  def shingles(toks: ArrayData, w: Int): ArrayData = {
    val n = if (toks == null) 0 else toks.numElements()
    val out = new Array[Any](math.max(n - w + 1, 0))
    val win = new Array[UTF8String](w)
    var i = 0
    while (i < out.length) {
      var j = 0
      while (j < w) { win(j) = toks.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Sep, win: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
