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
  * and the k×dim scan compiles to two nested counted loops inside
  * whole-stage codegen, so plan size is O(1) in k.
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
    // a null slot would read as 0 through getLong: reject nullable elements
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

  private def numCells: Int = starts.length - 1

  override def nullSafeEval(a: Any, b: Any): Any = {
    val u = a.asInstanceOf[ArrayData]
    IntegerUnits.requireSameLength(u.numElements(), dim, "argmin_l2")
    val cl = b.asInstanceOf[Long]
    if (cl < 0 || cl >= numCells || starts(cl.toInt) == starts(cl.toInt + 1)) return null
    val lo = starts(cl.toInt)
    val hi = starts(cl.toInt + 1)
    val cap = math.min(nprobe, hi - lo)
    val bestD = new Array[Long](cap)
    val bestC = new Array[Long](cap)
    val filled = ArgminL2.scan(u, 0, cents.unsafeArray, lo, hi, dim, bestD, bestC)
    new GenericArrayData(Array.tabulate[Any](filled)(i =>
      new GenericInternalRow(Array[Any](bestD(i), bestC(i)))))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("argminCents", cents.unsafeArray, "long[]")
    val startsRef = ctx.addReferenceObj("argminStarts", starts.unsafeArray, "int[]")
    nullSafeCodeGen(ctx, ev, (u, cl) => {
      val n = ctx.freshName("n")
      val lo = ctx.freshName("lo"); val hi = ctx.freshName("hi")
      val cap = ctx.freshName("cap"); val filled = ctx.freshName("filled")
      val c = ctx.freshName("c"); val d = ctx.freshName("d")
      val bestD = ctx.freshName("bestD"); val bestC = ctx.freshName("bestC")
      val acc = ctx.freshName("acc"); val base = ctx.freshName("base")
      val diff = ctx.freshName("diff"); val pos = ctx.freshName("pos")
      val out = ctx.freshName("out"); val i = ctx.freshName("i")
      s"""
         |int $n = $u.numElements();
         |if ($n != $dim) throw new IllegalArgumentException(
         |  "argmin_l2: vector dim " + $n + " != $dim");
         |if ($cl < 0L || $cl >= $numCells || $startsRef[(int) $cl] == $startsRef[(int) $cl + 1]) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $lo = $startsRef[(int) $cl];
         |  int $hi = $startsRef[(int) $cl + 1];
         |  int $cap = java.lang.Math.min($nprobe, $hi - $lo);
         |  long[] $bestD = new long[$cap];
         |  long[] $bestC = new long[$cap];
         |  int $filled = 0;
         |  for (int $c = $lo; $c < $hi; $c++) {
         |    long $acc = 0L;
         |    int $base = $c * $dim;
         |    for (int $d = 0; $d < $dim; $d++) {
         |      long $diff = $u.getLong($d) - $centsRef[$base + $d];
         |      $acc = java.lang.Math.addExact($acc, java.lang.Math.multiplyExact($diff, $diff));
         |    }
         |    if ($filled < $cap || $acc < $bestD[$cap - 1]) {
         |      if ($filled < $cap) $filled++;
         |      int $pos = $filled - 1;
         |      while ($pos > 0 && $acc < $bestD[$pos - 1]) {
         |        $bestD[$pos] = $bestD[$pos - 1]; $bestC[$pos] = $bestC[$pos - 1]; $pos--;
         |      }
         |      $bestD[$pos] = $acc; $bestC[$pos] = (long) ($c - $lo);
         |    }
         |  }
         |  Object[] $out = new Object[$filled];
         |  for (int $i = 0; $i < $filled; $i++) {
         |    $out[$i] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |      new Object[] { java.lang.Long.valueOf($bestD[$i]), java.lang.Long.valueOf($bestC[$i]) });
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })
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

  /** The nearest-centroid scan every argmin in graft runs — this
    * kernel's interpreted eval, [[PqEncodeI64]]'s per-subspace search
    * and the k-means and PQ training folds in
    * [[graft.operators.Similarity]] — written once so that all of them
    * assign a row alike. It scans centroids `lo until hi` of the flat
    * model `cents` (centroid c at `cents(c·dim)`) ASCENDING against the
    * `dim` components of `u` starting at `off`, and keeps the
    * `bestD.length` nearest in (du, cluster) order in `bestD`/`bestC`,
    * cluster ids local to `lo`: an insertion only passes entries with a
    * strictly larger distance, so equal distances keep the lower
    * cluster first. The distance is the exact overflow-checked long
    * Σ(Δ²). Returns how many slots it filled, min(capacity, hi − lo).
    * The caller checks `u`'s length; nothing is allocated.
    */
  def scan(u: ArrayData, off: Int, cents: Array[Long], lo: Int, hi: Int, dim: Int,
           bestD: Array[Long], bestC: Array[Long]): Int = {
    val cap = bestD.length
    var filled = 0
    var c = lo
    while (c < hi) {
      var acc = 0L
      val base = c * dim
      var d = 0
      while (d < dim) {
        val diff = u.getLong(off + d) - cents(base + d)
        acc = Math.addExact(acc, Math.multiplyExact(diff, diff))
        d += 1
      }
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
