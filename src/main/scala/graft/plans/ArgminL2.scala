package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

import scala.collection.immutable.ArraySeq

/** Fused nearest-centroid kernel — the ONE argmin every k-means
  * train, assign and probe in [[graft.operators.Similarity]] runs:
  * the centroid model rides the plan as data (one `long[]` reference
  * object, [[PqEncodeI64]]'s pattern — zero JIT kernels per centroid)
  * and the generated code calls [[ArgminL2.nearest]], the k×dim scan,
  * from inside whole-stage codegen, so plan size is O(1) in k.
  *
  * Output: `array<struct<du, cluster>>`, the `nprobe` nearest
  * centroids in `(du, cluster)` order — exactly
  * `slice(array_sort(array(struct(du, cluster)...)), 1, nprobe)`:
  * clusters scan ASCENDING and an insertion only passes entries with
  * a strictly larger distance, so equal distances keep the lower
  * cluster first. `nprobe = 1` is the plain argmin (lowest-cluster
  * tiebreak). The distance is [[L2UnitsI64]]'s exact overflow-checked
  * long Σ(Δ²): |u| ≤ 1e8 units per component, so per-term Δ² ≤ 4e16
  * and a dim ≤ 64 sum stays < 2.6e18 < 2⁶³; addExact/multiplyExact
  * fail loudly beyond. A vector whose length is not the model's dim
  * throws.
  *
  * Per-cell models (the hier fine level): the model is a sequence of
  * cells, and the row's `cell` value selects which one it scans —
  * cell c owns centroids `starts(c) until starts(c + 1)` and reports
  * cluster ids local to the cell. A flat model is one cell selected
  * by a literal 0. A cell outside the model, or one with no
  * centroids (a coarse cell that ended training empty), returns
  * null, the `try_element_at` semantics of a missing map key.
  *
  * The model is stored as immutable `ArraySeq`s, so two kernels built
  * separately over equal centroids are equal and `semanticEquals`
  * (subexpression elimination and plan reuse see them as one).
  * Flat layout: `cents(c·dim + d)` = dimension d of centroid c —
  * k·dim longs (2 MB at k=4096, dim=64).
  */
case class ArgminL2I64(child: Expression, cell: Expression, cents: ArraySeq.ofLong,
                       starts: ArraySeq.ofInt, dim: Int, nprobe: Int)
    extends BinaryExpression {

  require(nprobe >= 1, s"argmin_l2: nprobe must be >= 1, got $nprobe")

  override def left: Expression = child
  override def right: Expression = cell

  override def checkInputDataTypes(): TypeCheckResult = (child.dataType, cell.dataType) match {
    // every producer of units is null-free: refuse a nullable element type up front
    case (ArrayType(LongType, false), LongType) => TypeCheckResult.TypeCheckSuccess
    case (u, c) => TypeCheckResult.TypeCheckFailure(
      s"argmin_l2 expects array<long> without null elements and a long cell, got $u, $c")
  }
  override def dataType: DataType = ArgminL2.OutputType
  override def nullable: Boolean = true
  override def prettyName: String = "argmin_l2"
  // the model can be millions of longs: keep plan strings to its shape
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, cell, s"${starts.last}x$dim", nprobe)

  override def nullSafeEval(a: Any, b: Any): Any =
    ArgminL2.nearest(a.asInstanceOf[ArrayData], b.asInstanceOf[Long], cents.unsafeArray,
      starts.unsafeArray, dim, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("argminCents", cents.unsafeArray, "long[]")
    val startsRef = ctx.addReferenceObj("argminStarts", starts.unsafeArray, "int[]")
    nullSafeCodeGen(ctx, ev, (u, cl) =>
      s"""${ev.value} = ${IntegerUnits.call(ArgminL2, "nearest", u, cl, centsRef, startsRef, dim, nprobe)};
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(child = newLeft, cell = newRight)
}

object ArgminL2 {

  /** The kernel's output type: `(du, cluster)` pairs, nearest first. */
  val OutputType: DataType = ArrayType(StructType(Seq(
    StructField("du", LongType, nullable = false),
    StructField("cluster", LongType, nullable = false))), containsNull = false)

  /** [[ArgminL2I64]]'s body: the `nprobe` nearest centroids of `u`
    * in the row's `cell`, or null for a cell outside the model or
    * without centroids.
    */
  def nearest(u: ArrayData, cell: Long, cents: Array[Long], starts: Array[Int],
              dim: Int, nprobe: Int): ArrayData = {
    val x = IntegerUnits.longs(u, "argmin_l2")
    IntegerUnits.requireSameLength(x.length, dim, "argmin_l2")
    if (cell < 0 || cell >= starts.length - 1 || starts(cell.toInt) == starts(cell.toInt + 1))
      return null
    val lo = starts(cell.toInt)
    val hi = starts(cell.toInt + 1)
    val cap = math.min(nprobe, hi - lo)
    val bestD = new Array[Long](cap)
    val bestC = new Array[Long](cap)
    val filled = scan(x, 0, cents, lo, hi, dim, bestD, bestC)
    new GenericArrayData(Array.tabulate[Any](filled)(i =>
      new GenericInternalRow(Array[Any](bestD(i), bestC(i)))))
  }

  /** The nearest-centroid scan every argmin in graft runs — this
    * kernel, [[PqEncodeI64]]'s per-subspace search and the k-means and
    * PQ training folds in [[graft.operators.Similarity]] — written once
    * so that all of them assign a row alike. It scans centroids
    * `lo until hi` of the flat model `cents` (centroid c at
    * `cents(c·dim)`) ASCENDING against the `dim` components of `u`
    * starting at `off`, and keeps the `bestD.length` nearest in
    * (du, cluster) order in `bestD`/`bestC`, cluster ids local to `lo`:
    * an insertion only passes entries with a strictly larger distance,
    * so equal distances keep the lower cluster first. The distance is
    * [[dist]]. Returns how many slots it filled, min(capacity, hi − lo).
    * The caller checks `u`'s length; nothing is allocated.
    */
  def scan(u: Array[Long], off: Int, cents: Array[Long], lo: Int, hi: Int, dim: Int,
           bestD: Array[Long], bestC: Array[Long]): Int = {
    val cap = bestD.length
    var filled = 0
    var c = lo
    while (c < hi) {
      val acc = dist(u, off, cents, c * dim, dim)
      if (filled < cap || acc < bestD(cap - 1)) {
        if (filled < cap) filled += 1
        var pos = filled - 1
        while (pos > 0 && acc < bestD(pos - 1)) {
          bestD(pos) = bestD(pos - 1); bestC(pos) = bestC(pos - 1); pos -= 1
        }
        bestD(pos) = acc; bestC(pos) = (c - lo).toLong
      }
      c += 1
    }
    filled
  }

  /** The exact overflow-checked long Σ(Δ²) of `dim` components of `u`
    * from `uOff` and of `v` from `vOff` — the one squared-L2 loop of
    * the integer kernels ([[scan]], [[PqQTableI64]], [[L2UnitsI64]]).
    */
  def dist(u: Array[Long], uOff: Int, v: Array[Long], vOff: Int, dim: Int): Long = {
    var acc = 0L
    var d = 0
    while (d < dim) {
      val diff = u(uOff + d) - v(vOff + d)
      acc = Math.addExact(acc, Math.multiplyExact(diff, diff))
      d += 1
    }
    acc
  }

  /** Column API: the `nprobe` nearest centroids of `u` as
    * `array<struct<du, cluster>>` (see [[ArgminL2I64]]).
    * `centroids` must be index-ordered — cluster id c IS position c.
    */
  def argminUnits(u: Column, centroids: Seq[Array[Long]], nprobe: Int = 1): Column =
    argminUnitsPerCell(u, lit(0L), Seq(centroids), nprobe)

  /** Per-cell variant: row value `cell` = c scans `cells(c)` only and
    * reports cluster ids local to that cell (position in `cells(c)`);
    * an empty or out-of-range cell yields null. The shape is validated
    * loudly (a ragged model would otherwise read a plausible wrong
    * entry), and a model with no centroids at all is rejected.
    */
  def argminUnitsPerCell(u: Column, cell: Column, cells: Seq[Seq[Array[Long]]],
                         nprobe: Int = 1): Column = {
    val all = cells.flatten
    require(all.nonEmpty, "argmin_l2: empty centroid model")
    val dim = all.head.length
    all.zipWithIndex.foreach { case (cu, c) =>
      require(cu.length == dim, s"argmin_l2: centroid $c has dim ${cu.length}, expected $dim")
    }
    val starts = cells.scanLeft(0)(_ + _.size).toArray
    ColumnBridge.column(ArgminL2I64(ColumnBridge.expression(u), ColumnBridge.expression(cell),
      new ArraySeq.ofLong(Array.concat(all: _*)), new ArraySeq.ofInt(starts), dim, nprobe))
  }
}
