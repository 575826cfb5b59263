package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Fused nearest-centroid kernel — the centroids-as-DATA argmin as
  * ONE whole-stage-codegen k×dim loop, for the wide k-means paths
  * (coarse quantizers / flat semantic assignment at FAISS-range
  * nlist, past the ~64 plan-literal kernel budget).
  *
  * The shape problem it solves: the wide assignment previously
  * evaluated `array_min(transform(centsLit, c → struct(l2Units(u,
  * c.cu), c.cluster)))` — k INTERPRETED lambda dispatches per corpus
  * row, each boxing a (du, cluster) struct, then an array_min scan
  * over k boxed structs. The inner Σ(Δ²) was compiled
  * ([[L2UnitsI64]].nullSafeEval), so the HOF overhead is pure
  * dispatch+boxing — measured ~230 ns/centroid·core on the 10× gate
  * probe, LINEAR in k (k=400 → 2048 scaled 1.34 s → 6.15 s at 10×,
  * ≈ the 5.1× k-ratio; `argmin_wide_k*` rows in ScaleProbe). At
  * production nlist = 4√n ≈ 10⁴-10⁵ that constant is the whole
  * assignment cost of a 100 TB index build. Here the flattened
  * centroid model rides the plan as ONE `long[]` reference object
  * ([[PqEncodeI64]]'s pattern — plan DATA, zero JIT kernels per
  * centroid) and the k×dim loop compiles to two nested counted loops
  * inside whole-stage codegen.
  *
  * Bit parity with the HOF it replaces (spec-pinned): the distance is
  * [[L2UnitsI64]]'s exact overflow-checked long Σ(Δ²), and scanning
  * clusters ASCENDING with a strict `<` keeps the FIRST minimal
  * distance — exactly `array_min` over struct(du, cluster) when the
  * cluster ids are the ascending array indices, which both call sites
  * guarantee by construction ([[graft.operators.Similarity]] builds
  * `centsLit` from `zipWithIndex` / an id-sorted model). Overflow:
  * |u| ≤ 1e8 units per component, so per-term Δ² ≤ 4e16 and a
  * dim ≤ 64 sum stays < 2.6e18 < 2⁶³; addExact/multiplyExact fail
  * loudly beyond (the [[L2UnitsI64]] guard family).
  *
  * Output is `array<long>` `[du, cluster]` — the two fields the
  * struct carried, positionally (a struct return would need an
  * InternalRow writer in codegen for no added information).
  *
  * Flat layout: `cents[c·dim + d]` = dimension d of cluster c —
  * k·dim longs (2 MB at k=4096, dim=64), far below where a broadcast
  * frame would win over a per-task reference object.
  */
case class ArgminL2I64(child: Expression, cents: Array[Long],
                       k: Int, dim: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // a null slot would read as 0 through getLong: reject nullable elements
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"argmin_l2 expects array<long> without null elements, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "argmin_l2"

  override def nullSafeEval(a: Any): Any = {
    val u = a.asInstanceOf[ArrayData]
    IntegerUnits.requireSameLength(u.numElements(), dim, "argmin_l2")
    var bestD = Long.MaxValue
    var bestC = 0L
    var c = 0
    while (c < k) {
      var acc = 0L
      val base = c * dim
      var d = 0
      while (d < dim) {
        val diff = u.getLong(d) - cents(base + d)
        acc = Math.addExact(acc, Math.multiplyExact(diff, diff))
        d += 1
      }
      if (acc < bestD) { bestD = acc; bestC = c.toLong }
      c += 1
    }
    new GenericArrayData(Array(bestD, bestC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("argminCents", cents, "long[]")
    nullSafeCodeGen(ctx, ev, u => {
      val n = ctx.freshName("n")
      val c = ctx.freshName("c"); val d = ctx.freshName("d")
      val bestD = ctx.freshName("bestD"); val bestC = ctx.freshName("bestC")
      val acc = ctx.freshName("acc"); val base = ctx.freshName("base")
      val diff = ctx.freshName("diff")
      s"""
         |int $n = $u.numElements();
         |if ($n != $dim) throw new IllegalArgumentException(
         |  "argmin_l2: vector dim " + $n + " != $dim");
         |long $bestD = Long.MAX_VALUE;
         |long $bestC = 0L;
         |for (int $c = 0; $c < $k; $c++) {
         |  long $acc = 0L;
         |  int $base = $c * $dim;
         |  for (int $d = 0; $d < $dim; $d++) {
         |    long $diff = $u.getLong($d) - $centsRef[$base + $d];
         |    $acc = java.lang.Math.addExact($acc, java.lang.Math.multiplyExact($diff, $diff));
         |  }
         |  if ($acc < $bestD) { $bestD = $acc; $bestC = (long) $c; }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  new long[] { $bestD, $bestC });
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ArgminL2 {

  /** Flatten an index-ordered centroid model into the kernel's
    * `[c·dim + d]` layout, validating the shape loudly (a ragged
    * model would otherwise read a plausible wrong entry).
    */
  private[graft] def flatten(centroids: Seq[Array[Long]]): Array[Long] = {
    require(centroids.nonEmpty, "argmin_l2: empty centroid model")
    val dim = centroids.head.length
    val flat = new Array[Long](centroids.size * dim)
    var c = 0
    centroids.foreach { cu =>
      require(cu.length == dim,
        s"argmin_l2: centroid $c has dim ${cu.length}, expected $dim")
      System.arraycopy(cu, 0, flat, c * dim, dim)
      c += 1
    }
    flat
  }

  /** Column API: `[du, cluster]` of the nearest centroid (exact long
    * Σ(Δ²), lowest-cluster tiebreak) in one fused kernel. `centroids`
    * must be index-ordered — cluster id c IS position c.
    */
  def argminUnits(u: Column, centroids: Seq[Array[Long]]): Column =
    ColumnBridge.column(ArgminL2I64(ColumnBridge.expression(u),
      flatten(centroids), centroids.size, centroids.head.length))
}
