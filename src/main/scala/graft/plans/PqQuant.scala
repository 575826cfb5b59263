package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Fused PQ encode kernel — the codebooks-as-DATA per-subspace
  * argmin, at every codebook shape (FAISS-standard cb = 256 included;
  * a plan-literal `l2Units` kernel grid would exceed the ~64-kernel
  * JIT budget there).
  *
  * The shape problem it solves: past the budget, the previous wide
  * path evaluated the per-subspace argmin as a `transform` +
  * `array_sort` HOF over an `array<struct<cl, cu>>` codebook literal
  * — m·cb INTERPRETED lambda dispatches per corpus row (512 at the
  * gate's m=8, cb=64), each boxing a struct and sorting cb of them.
  * Encode is the corpus-sized pass of a 100 TB index build (and runs
  * once per joint-Lloyd training iteration), so the interpreted fold
  * was the dominant build cost (`ann_pq_wide` 9.2 s vs flat PQ's
  * ~2.6 s at bench SF). Here the codebooks ride the plan as ONE
  * `long[]` reference object ([[SqEncodeI64]]'s pattern — plan DATA,
  * zero JIT kernels added per codebook entry) and the generated code
  * runs the m×cb×dsub search ([[PqEncodeI64.encode]]) inside
  * whole-stage codegen.
  *
  * Bit-parity (spec-pinned against a driver-side argmin): the search
  * is [[ArgminL2.scan]] once per subspace, the loop the PQ training
  * fold shares — [[L2UnitsI64]]'s exact overflow-checked long Σ(Δ²),
  * codes scanned ASCENDING so the FIRST minimal distance wins (the
  * lowest-code tiebreak). Overflow: normalized units |u| ≤ 1e8, centroids
  * are means of units, so per-term Δ² ≤ 4e16 and a dsub ≤ 64 sum
  * stays < 2.6e18 < 2⁶³; addExact/multiplyExact fail loudly beyond.
  *
  * Flat layout: `books[(j·cb + c)·dsub + d]` = dimension d of code c
  * of subspace j — m·cb·dsub longs (32 KB at (8, 64, 8); 128 KB at
  * FAISS (16, 256, 8)), far below where a broadcast frame would win
  * over a per-task reference object.
  */
case class PqEncodeI64(child: Expression, books: Array[Long],
                       m: Int, cb: Int, dsub: Int) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override def nullSafeEval(a: Any): Any =
    PqEncodeI64.encode(a.asInstanceOf[ArrayData], books, m, cb, dsub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", books, "long[]")
    defineCodeGen(ctx, ev, u => IntegerUnits.call(PqEncodeI64, "encode", u, booksRef, m, cb, dsub))
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncodeI64 {
  /** [[PqEncodeI64]]'s body: the m per-subspace argmin codes. */
  def encode(a: ArrayData, books: Array[Long], m: Int, cb: Int, dsub: Int): ArrayData = {
    val u = IntegerUnits.longs(a, "pq_encode")
    IntegerUnits.requireSameLength(u.length, m * dsub, "pq_encode")
    val out = new Array[Int](m)
    val bestD = new Array[Long](1)
    val bestC = new Array[Long](1)
    var j = 0
    while (j < m) {
      ArgminL2.scan(u, j * dsub, books, j * cb, (j + 1) * cb, dsub, bestD, bestC)
      out(j) = bestC(0).toInt
      j += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Fused query ADC-TABLE kernel: all m×cb per-subspace partial
  * distances of one query vector — `array<array<long>>`, the qtable
  * the [[PqAdcSumI64]] scan indexes. The work is query-count sized
  * (never the corpus), but the PLAN cost of the HOF construction it
  * replaces grew with cb: per subspace a `transform` over a
  * `typedlit` codebook-as-data literal — m·cb struct literals
  * embedded in the plan (2048 at the FAISS cb=256 shape), which
  * priced analysis/serialization at ~2 s per execution before a
  * single row moved (measured: ann_pq_faiss 4.6 s vs ann_pq_wide's
  * 2.3 s steady-state on a 500-row corpus — pure plan constant).
  * Here the codebooks ride as ONE long[] reference object
  * ([[PqEncodeI64]]'s layout, identical flattening) and the
  * m×cb×dsub loop ([[PqQTableI64.qtable]]) runs inside whole-stage
  * codegen.
  *
  * Bit parity with the HOF/literal table builds is exact: the same
  * overflow-checked long Σ(Δ²) per (subspace, code) ([[ArgminL2.dist]]),
  * emitted in the same (j, c) order.
  */
case class PqQTableI64(child: Expression, books: Array[Long],
                       m: Int, cb: Int, dsub: Int) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  override def prettyName: String = "pq_qtable"
  override def nullSafeEval(a: Any): Any =
    PqQTableI64.qtable(a.asInstanceOf[ArrayData], books, m, cb, dsub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", books, "long[]")
    defineCodeGen(ctx, ev, u => IntegerUnits.call(PqQTableI64, "qtable", u, booksRef, m, cb, dsub))
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqQTableI64 {
  /** [[PqQTableI64]]'s body: row j holds the distance of subspace j
    * to each of its cb codes.
    */
  def qtable(a: ArrayData, books: Array[Long], m: Int, cb: Int, dsub: Int): ArrayData = {
    val u = IntegerUnits.longs(a, "pq_qtable")
    IntegerUnits.requireSameLength(u.length, m * dsub, "pq_qtable")
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val row = new Array[Long](cb)
      var c = 0
      while (c < cb) { row(c) = ArgminL2.dist(u, j * dsub, books, (j * cb + c) * dsub, dsub); c += 1 }
      out(j) = ArrayData.toArrayData(row)
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Fused ADC distance kernel — the corpus-sized pass of the PQ
  * SERVING path. The joined (codes × queries) scan previously
  * summed the per-subspace table lookups as a static m-term
  * `element_at(element_at(qtable, j+1), codes[j]+1)` expression
  * chain: codegen'd, but m separate two-level ArrayData walks per
  * row, each with its own null/bounds machinery, and the plan grows
  * m nodes (16 at the FAISS m=16 shape). Here the whole
  * Σ_j qtable[j][codes[j]] folds into ONE loop
  * ([[PqAdcSumI64.adcSum]]) reading both arrays once — the serve-scan
  * constant that prices a 100 TB codes-table scan.
  *
  * Unlike [[PqEncodeI64]] the table is NOT a plan literal: each
  * query row carries its own m×cb table (built by `pqQueries`
  * against the broadcast query frame), so this is a binary
  * expression over (codes, qtable) columns.
  *
  * Bit parity with the chain it replaces is exact: identical
  * lookups, long addition in the same j = 0..m−1 order (associative
  * and exact on longs regardless). Overflow: every per-subspace du
  * is an exact Σ(Δ²) over its own dims, so the m-term total is
  * bounded by the full-dim distance ≤ 64·(2e8)² ≈ 2.6e18 < 2⁶³;
  * addExact fails loudly beyond (the [[L2UnitsI64]] guard family).
  */
case class PqAdcSumI64(left: Expression, right: Expression, m: Int)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes =
    Seq(ArrayType(IntegerType), ArrayType(ArrayType(LongType)))
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_adc_sum"
  override def nullSafeEval(codes: Any, table: Any): Any =
    PqAdcSumI64.adcSum(codes.asInstanceOf[ArrayData], table.asInstanceOf[ArrayData], m)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (codes, table) => IntegerUnits.call(PqAdcSumI64, "adcSum", codes, table, m))
  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PqAdcSumI64 {
  /** [[PqAdcSumI64]]'s body. The table is read only where a code
    * points (copying m×cb longs per row would cost more than the sum).
    */
  def adcSum(codesData: ArrayData, table: ArrayData, m: Int): Long = {
    val codes = IntegerUnits.ints(codesData, "pq_adc_sum codes")
    IntegerUnits.requireSameLength(codes.length, m, "pq_adc_sum codes")
    IntegerUnits.requireSameLength(table.numElements(), m, "pq_adc_sum qtable")
    var acc = 0L
    var j = 0
    while (j < m) {
      val c = codes(j)
      if (table.isNullAt(j)) throw IntegerUnits.nullElement("pq_adc_sum qtable", j)
      val row = table.getArray(j)
      if (c < 0 || c >= row.numElements())
        throw new IllegalArgumentException(
          s"pq_adc_sum: code $c out of range for a ${row.numElements()}-entry table (subspace $j)")
      if (row.isNullAt(c)) throw IntegerUnits.nullElement("pq_adc_sum qtable", s"($j, $c)")
      acc = Math.addExact(acc, row.getLong(c))
      j += 1
    }
    acc
  }
}

object PqQuant {

  /** Column API: the asymmetric distance Σ_j qtable[j][codes[j]] in
    * one fused kernel (exact long).
    */
  def pqAdcSum(codes: Column, qtable: Column, m: Int): Column =
    ColumnBridge.column(PqAdcSumI64(ColumnBridge.expression(codes),
      ColumnBridge.expression(qtable), m))

  /** Column API: the full m×cb query ADC table in one fused kernel
    * (exact long Σ(Δ²) per (subspace, code)).
    */
  def pqQTable(un: Column, books: IndexedSeq[IndexedSeq[Array[Long]]],
               dsub: Int): Column =
    ColumnBridge.column(PqQTableI64(ColumnBridge.expression(un),
      flatten(books, dsub), books.size, books.head.size, dsub))

  /** Flatten nested codebooks into the kernel's `[(j·cb + c)·dsub + d]`
    * layout, validating the shape loudly (a ragged codebook would
    * otherwise read a plausible wrong entry).
    */
  private[graft] def flatten(books: IndexedSeq[IndexedSeq[Array[Long]]],
                             dsub: Int): Array[Long] = {
    val m = books.size
    require(m > 0, "pq_encode: empty codebooks")
    val cb = books.head.size
    val flat = new Array[Long](m * cb * dsub)
    for (j <- books.indices) {
      require(books(j).size == cb,
        s"pq_encode: subspace $j has ${books(j).size} codes, expected $cb")
      for (c <- books(j).indices) {
        require(books(j)(c).length == dsub,
          s"pq_encode: entry ($j, $c) has dim ${books(j)(c).length}, expected $dsub")
        System.arraycopy(books(j)(c), 0, flat, (j * cb + c) * dsub, dsub)
      }
    }
    flat
  }

  /** Column API: all m argmin codes of a normalized-units vector in
    * one fused kernel — `array<int>` of length m.
    */
  def pqEncodeCodes(un: Column, books: IndexedSeq[IndexedSeq[Array[Long]]],
                    dsub: Int): Column =
    ColumnBridge.column(PqEncodeI64(ColumnBridge.expression(un),
      flatten(books, dsub), books.size, books.head.size, dsub))
}
