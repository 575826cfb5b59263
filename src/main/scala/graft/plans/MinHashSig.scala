package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: the `numHashes`-slot MinHash signature
  * of a shingle array in ONE codegen'd pass — element i is
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
case class MinHashSig(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  // slot seeds: xxhash64's running hash after folding the int slot id
  @transient private lazy val seeds: Array[Long] =
    Array.tabulate(numHashes)(i => XXH64.hashInt(i, MinHashSig.SparkSeed))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash expects an array<string> argument, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // null on an empty array, so nullable even over a non-null child
  override def nullable: Boolean = true
  override def prettyName: String = "minhash"

  override def nullSafeEval(v: Any): Any = {
    val sh = v.asInstanceOf[ArrayData]
    val n = sh.numElements()
    if (n == 0) null
    else {
      val mins = Array.fill(numHashes)(Long.MaxValue)
      var e = 0
      while (e < n) {
        if (sh.isNullAt(e)) throw MinHashSig.nullShingle(e)
        val s = sh.getUTF8String(e)
        var i = 0
        while (i < numHashes) {
          val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seeds(i))
          if (h < mins(i)) mins(i) = h
          i += 1
        }
        e += 1
      }
      new GenericArrayData(mins)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("seeds", seeds, "long[]")
    nullSafeCodeGen(ctx, ev, sh => {
      val n = ctx.freshName("n"); val mins = ctx.freshName("mins")
      val e = ctx.freshName("e"); val s = ctx.freshName("s")
      val i = ctx.freshName("i"); val h = ctx.freshName("h")
      s"""
         |int $n = $sh.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $mins = new long[$numHashes];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $e = 0; $e < $n; $e++) {
         |    if ($sh.isNullAt($e)) throw graft.plans.MinHashSig.nullShingle($e);
         |    UTF8String $s = $sh.getUTF8String($e);
         |    for (int $i = 0; $i < $numHashes; $i++) {
         |      long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
         |        $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), $seedsRef[$i]);
         |      if ($h < $mins[$i]) $mins[$i] = $h;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  /** The seed of Spark's `xxhash64`. */
  private val SparkSeed = 42L

  def nullShingle(e: Int): IllegalArgumentException =
    new IllegalArgumentException(s"minhash: null shingle at element $e")
}
