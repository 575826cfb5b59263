package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: the `numHashes`-slot MinHash signature
  * of a shingle array in ONE pass ([[MinHashSig.signature]]) — element i is
  * `min over s of xxhash64(i, s)`, exactly what
  * `groupBy(doc_id).agg(min(xxhash64(lit(i), s)))` over the exploded
  * shingles (or `array_min(transform(sh, s => xxhash64(i, s)))`)
  * computes, without the explode, the 33-column aggregate or a
  * lambda per slot.
  *
  * Parity: Spark's `xxhash64(i, s)` starts from seed 42, folds the
  * int `i` with `XXH64.hashInt` and then the string's UTF-8 bytes
  * with `XXH64.hashUnsafeBytes`; the per-slot seeds
  * `hashInt(i, 42)` are computed once here, so each (shingle, slot)
  * costs the same one byte hash the aggregate paid. The min is the
  * signed long min of `min`/`array_min`, and it does not depend on
  * duplicates or order, so the input need not be distinct.
  *
  * An empty array has no minimum and gives null (the aggregate has no
  * row for such a document); a null shingle is rejected with
  * `IllegalArgumentException` — xxhash64 would silently hash it as
  * the bare seed.
  */
case class MinHashSig(child: Expression, numHashes: Int)
  extends UnaryExpression with ExpectsInputTypes {
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  // slot seeds: xxhash64's running hash after folding the int slot id
  @transient private lazy val seeds: Array[Long] =
    Array.tabulate(numHashes)(i => XXH64.hashInt(i, MinHashSig.SparkSeed))

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // null on an empty array, so nullable even over a non-null child
  override def nullable: Boolean = true
  override def prettyName: String = "minhash"
  override def nullSafeEval(v: Any): Any = MinHashSig.signature(v.asInstanceOf[ArrayData], seeds)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("seeds", seeds, "long[]")
    nullSafeCodeGen(ctx, ev, sh =>
      s"""${ev.value} = ${IntegerUnits.call(MinHashSig, "signature", sh, seedsRef)};
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  /** The seed of Spark's `xxhash64`. */
  private val SparkSeed = 42L

  /** [[MinHashSig]]'s body: one slot per seed; null for no shingles. */
  def signature(sh: ArrayData, seeds: Array[Long]): ArrayData = {
    val n = sh.numElements()
    if (n == 0) return null
    val mins = Array.fill(seeds.length)(Long.MaxValue)
    var e = 0
    while (e < n) {
      if (sh.isNullAt(e))
        throw new IllegalArgumentException(s"minhash: null shingle at element $e")
      val s = sh.getUTF8String(e)
      var i = 0
      while (i < seeds.length) {
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seeds(i))
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      e += 1
    }
    ArrayData.toArrayData(mins)
  }
}
