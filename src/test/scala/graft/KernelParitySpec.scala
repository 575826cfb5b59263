package graft

import graft.plans._
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Every Catalyst kernel in `graft.plans` gives the same answer whether
  * Catalyst runs its generated code or interprets it: the same value,
  * or the same exception class and message. Each kernel runs over one
  * table of inputs — normal rows, a null array, a null element, a
  * wrong length and, where the kernel guards one, an overflow or
  * out-of-range value — in both [[bothEvalModes]] sessions, and in the
  * generated-code session the kernel must sit inside a whole-stage
  * codegen stage. Inputs come from an RDD, so the optimizer cannot
  * fold the projection into a local relation.
  */
class KernelParitySpec extends SparkSpec {

  private sealed trait Want
  /** Any value. */
  private case object Value extends Want
  /** Exactly this value. */
  private case class Is(v: Any) extends Want
  /** An exception of this class, whose message names the kernel when
    * `named` (a `Math.addExact` overflow names no one).
    */
  private case class Fails(c: Class[_ <: Throwable], named: Boolean = true) extends Want

  private val IAE = Fails(classOf[IllegalArgumentException])
  private val Overflow = Fails(classOf[ArithmeticException], named = false)

  /** A kernel over columns `c0, c1, …` of the given types. */
  private case class Kernel(name: String, types: Seq[DataType], build: Seq[Column] => Column,
                            rows: (String, Seq[Any], Want)*)

  private val longs = ArrayType(LongType)
  private val ints = ArrayType(IntegerType)
  private val floats = ArrayType(FloatType)
  private val strings = ArrayType(StringType)
  private def l(xs: Any*): Seq[Any] = xs.map {
    case i: Int => i.toLong
    case x => x
  }

  private val centroids = Seq(Array(0L, 0L), Array(10L, 10L), Array(3L, 4L))
  private val books = IndexedSeq(IndexedSeq(Array(0L, 0L), Array(10L, 10L)),
    IndexedSeq(Array(1L, 1L), Array(-5L, -5L)))
  private val planes = Array(Array(1L, -1L), Array(-1L, 1L), Array(1L, 1L), Array(-1L, -1L))
  private val (mins, spans) = (Array(0L, -10L), Array(100L, 0L))
  private val big = 5000000000L

  private val kernels = Seq(
    Kernel("argmin_l2", Seq(ArrayType(LongType, containsNull = false), LongType),
      c => ArgminL2.argminUnitsPerCell(c(0), c(1), Seq(centroids.take(1), centroids), 2),
      ("normal", Seq(l(2, 3), 1L), Value),
      ("one-centroid cell", Seq(l(2, 3), 0L), Value),
      ("unknown cell", Seq(l(2, 3), 7L), Is(null)),
      ("null array", Seq(null, 1L), Is(null)),
      ("wrong length", Seq(l(2, 3, 4), 1L), IAE),
      ("overflow", Seq(l(big, 0), 1L), Overflow)),
    Kernel("band_sigs", Seq(floats), c => GraftExpressions.bandSigs(c(0), planes, 2),
      ("normal", Seq(Seq(0.5f, 0.25f)), Is(Seq(1L, 1L))),
      ("null array", Seq(null), Is(null)),
      ("null element", Seq(Seq(0.5f, null)), IAE),
      ("longer than the planes", Seq(Seq(0.5f, 0.25f, 0.125f)), IAE),
      ("shorter than the planes", Seq(Seq(0.5f)), IAE)),
    Kernel("sign_pack32", Seq(floats), c => BinarySig.signPack(c(0)),
      ("normal", Seq(Seq(1f, -1f, 0f, -0f, Float.NaN)), Is(Seq(13L))),
      ("empty", Seq(Seq()), Is(Seq())),
      ("null array", Seq(null), Is(null)),
      ("null element", Seq(Seq(1f, null)), IAE)),
    Kernel("hamming_packed", Seq(longs, longs), c => BinarySig.hammingPacked(c(0), c(1)),
      ("normal", Seq(l(5, -1), l(3, 0)), Is(66L)),
      ("null array", Seq(null, l(3)), Is(null)),
      ("null element", Seq(l(5, null), l(3, 0)), IAE),
      ("wrong length", Seq(l(5, 1), l(3)), IAE)),
    Kernel("sign_pack_units32", Seq(longs), c => BinarySig.signPackUnits(c(0)),
      ("normal", Seq(l(1, -1, 0)), Is(Seq(5L))),
      ("null array", Seq(null), Is(null)),
      ("null element", Seq(l(1, null)), IAE)),
    Kernel("sign_dot_packed", Seq(longs, longs), c => BinarySig.signDotPacked(c(0), c(1)),
      ("normal", Seq(l(3, -4, 5), l(5)), Is(12L)),
      ("null array", Seq(l(3), null), Is(null)),
      ("null element", Seq(l(3, null), l(1)), IAE),
      ("wrong length", Seq(l(3, 4), l(1, 1)), IAE)),
    Kernel("cosine_f64", Seq(floats, floats), c => GraftExpressions.cosineF64(c(0), c(1)),
      ("normal", Seq(Seq(1f, 0f), Seq(1f, 1f)), Value),
      ("zero vector", Seq(Seq(0f, 0f), Seq(1f, 1f)), Is(Double.NaN)),
      ("null array", Seq(null, Seq(1f)), Is(null)),
      ("null element", Seq(Seq(1f, null), Seq(1f, 1f)), IAE),
      ("wrong length", Seq(Seq(1f, 2f, 3f), Seq(1f, 2f)), IAE)),
    Kernel("l2_f64", Seq(floats, ArrayType(DoubleType)), c => GraftExpressions.l2F64(c(0), c(1)),
      ("normal", Seq(Seq(1f, 0.1f), Seq(0.5, 2.0)), Value),
      ("null array", Seq(Seq(1f), null), Is(null)),
      ("null element", Seq(Seq(1f, 2f), Seq(1.0, null)), IAE),
      ("wrong length", Seq(Seq(1f, 2f), Seq(1.0)), IAE)),
    Kernel("fwht_signs", Seq(longs), c => FwhtSignsI64.fwhtSigns(c(0), Seq(1L, -1L, 1L, 1L)),
      ("normal", Seq(l(1, 2, 3, 4)), Is(Seq(6L, 2L, -8L, 4L))),
      ("null array", Seq(null), Is(null)),
      ("null element", Seq(l(1, null, 3, 4)), IAE),
      ("wrong length", Seq(l(1, 2)), IAE),
      ("overflow", Seq(l(Long.MaxValue, 0, Long.MaxValue, 0)), Overflow)),
    Kernel("quantize_units", Seq(floats), c => IntegerUnits.quantizeUnits(c(0)),
      ("normal", Seq(Seq(0.5f, -0.25f)), Is(Seq(50000000L, -25000000L))),
      ("null array", Seq(null), Is(null)),
      ("null element", Seq(Seq(0.5f, null)), IAE),
      ("past 2^52", Seq(Seq(1e8f)), Fails(classOf[ArithmeticException])),
      ("NaN", Seq(Seq(Float.NaN)), Fails(classOf[ArithmeticException]))),
    Kernel("l2_units", Seq(longs, longs), c => IntegerUnits.l2Units(c(0), c(1)),
      ("normal", Seq(l(1, 2), l(4, 6)), Is(25L)),
      ("null array", Seq(null, l(1)), Is(null)),
      ("null element", Seq(l(1, 2), l(null, 6)), IAE),
      ("wrong length", Seq(l(1, 2), l(1)), IAE),
      ("overflow", Seq(l(big), l(-big)), Overflow)),
    Kernel("normalize_units", Seq(floats), c => IntegerUnits.normalizeUnits(c(0)),
      ("normal", Seq(Seq(0.6f, 0.8f)), Value),
      ("zero vector", Seq(Seq(0f, 0f)), Is(Seq(0L, 0L))),
      ("null array", Seq(null), Is(null)),
      ("null element", Seq(Seq(0.6f, null)), IAE),
      ("NaN", Seq(Seq(Float.NaN)), Fails(classOf[NumberFormatException], named = false))),
    Kernel("dec_dot", Seq(floats, floats), c => IntegerUnits.decDotKernel(c(0), c(1)),
      ("normal", Seq(Seq(0.5f, 0.25f), Seq(0.5f, 1f)), Is(new java.math.BigDecimal("0.5000000000000000"))),
      ("null array", Seq(null, Seq(1f)), Is(null)),
      ("null element", Seq(Seq(0.5f, null), Seq(0.5f, 1f)), IAE),
      ("wrong length", Seq(Seq(0.5f), Seq(0.5f, 1f)), IAE)),
    Kernel("minhash", Seq(strings), c => graft.functions.Hashing.minhash(c(0), 3),
      ("normal", Seq(Seq("a b", "b c")), Value),
      ("empty", Seq(Seq()), Is(null)),
      ("null array", Seq(null), Is(null)),
      ("null shingle", Seq(Seq("a b", null)), IAE)),
    Kernel("nibble_histogram", Seq(BinaryType), c => NibbleHistogram.nibbleHistogram(c(0)),
      ("normal", Seq(Array[Byte](0x10, 0x1f, 0xf3.toByte)),
        Is(Seq(0L, 2L) ++ Seq.fill(13)(0L) :+ 1L)),
      ("empty", Seq(Array[Byte]()), Is(Seq.fill(16)(0L))),
      ("null", Seq(null), Is(null))),
    Kernel("pq_encode", Seq(longs), c => PqQuant.pqEncodeCodes(c(0), books, 2),
      ("normal", Seq(l(9, 9, -4, -6)), Is(Seq(1, 1))),
      ("tie", Seq(l(5, 5, 1, 1)), Is(Seq(0, 0))),
      ("null array", Seq(null), Is(null)),
      ("null element", Seq(l(9, 9, null, -6)), IAE),
      ("wrong length", Seq(l(9, 9, -4)), IAE),
      ("overflow", Seq(l(big, 0, 0, 0)), Overflow)),
    Kernel("pq_qtable", Seq(longs), c => PqQuant.pqQTable(c(0), books, 2),
      ("normal", Seq(l(9, 9, -4, -6)), Is(Seq(Seq(162L, 2L), Seq(74L, 2L)))),
      ("null array", Seq(null), Is(null)),
      ("null element", Seq(l(9, null, -4, -6)), IAE),
      ("wrong length", Seq(l(9, 9, -4, -6, 0)), IAE),
      ("overflow", Seq(l(0, 0, big, 0)), Overflow)),
    Kernel("pq_adc_sum", Seq(ints, ArrayType(longs)), c => PqQuant.pqAdcSum(c(0), c(1), 2),
      ("normal", Seq(Seq(0, 1), Seq(l(5, 6), l(7, 8))), Is(13L)),
      ("null codes", Seq(null, Seq(l(5, 6), l(7, 8))), Is(null)),
      ("null code", Seq(Seq(0, null), Seq(l(5, 6), l(7, 8))), IAE),
      ("null table row", Seq(Seq(0, 1), Seq(l(5, 6), null)), IAE),
      ("null table entry", Seq(Seq(0, 1), Seq(l(5, 6), l(7, null))), IAE),
      ("wrong code count", Seq(Seq(0), Seq(l(5, 6), l(7, 8))), IAE),
      ("wrong table length", Seq(Seq(0, 1), Seq(l(5, 6))), IAE),
      ("code out of range", Seq(Seq(0, 2), Seq(l(5, 6), l(7, 8))), IAE),
      ("negative code", Seq(Seq(-1, 0), Seq(l(5, 6), l(7, 8))), IAE),
      ("overflow", Seq(Seq(0, 0), Seq(l(Long.MaxValue), l(1))), Overflow)),
    Kernel("sq_encode", Seq(longs), c => ScalarQuant.sqEncode(c(0), mins, spans),
      ("normal", Seq(l(50, 7)), Is(Seq(127, 0))),
      ("out of domain", Seq(l(-50, 7)), Is(Seq(0, 0))),
      ("null array", Seq(null), Is(null)),
      ("null element", Seq(l(50, null)), IAE),
      ("wrong length", Seq(l(50)), IAE),
      ("overflow", Seq(l(Long.MaxValue / 100, 0)), Overflow)),
    Kernel("sq_adc_l2", Seq(longs, ints), c => ScalarQuant.sqAdcL2(c(0), c(1), mins, spans),
      ("normal", Seq(l(50, 7), Seq(127, 0)), Is(290L)),
      ("null array", Seq(l(50, 7), null), Is(null)),
      ("null element", Seq(l(50, 7), Seq(127, null)), IAE),
      ("wrong length", Seq(l(50, 7), Seq(127)), IAE),
      ("wrong dimension", Seq(l(50, 7, 1), Seq(127, 0, 1)), IAE),
      ("overflow", Seq(l(big, 0), Seq(0, 0)), Overflow)),
    Kernel("shingles", Seq(strings), c => graft.functions.Hashing.shinglesOf(c(0), 2),
      ("normal", Seq(Seq("a", "b", "c")), Is(Seq("a b", "b c"))),
      ("null token", Seq(Seq("a", null, "c")), Is(Seq("a", "c"))),
      ("fewer than w", Seq(Seq("a")), Is(Seq())),
      ("null array", Seq(null), Is(Seq()))))

  /** The kernel over one row held in an RDD. */
  private def kernelOver(session: SparkSession, k: Kernel, values: Seq[Any]) = {
    val schema = StructType(k.types.zipWithIndex.map { case (t, i) => StructField(s"c$i", t) })
    session.createDataFrame(session.sparkContext.parallelize(Seq(Row(values: _*)), 1), schema)
      .select(k.build(k.types.indices.map(i => col(s"c$i"))))
  }

  /** What one row gives: its value, or the innermost exception. */
  private def outcome(session: SparkSession, k: Kernel, values: Seq[Any]): Either[(Class[_], String), Any] =
    try Right(kernelOver(session, k, values).collect().head.get(0))
    catch {
      case e: Exception =>
        val root = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last
        Left((root.getClass, root.getMessage))
    }

  /** Whether each occurrence of a `cls` expression in `plan` sits
    * inside a whole-stage codegen stage.
    */
  private def staged(plan: SparkPlan, cls: Class[_]): Seq[Boolean] = {
    def walk(p: SparkPlan, inStage: Boolean): Seq[Boolean] = {
      val here = p.expressions.flatMap(_.collect { case e if e.getClass == cls => inStage })
      val below = p match {
        case _: WholeStageCodegenExec => true
        case _: InputAdapter => false
        case _ => inStage
      }
      here ++ p.children.flatMap(walk(_, below))
    }
    walk(plan, inStage = false)
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case _ => a == b
  }

  test("the parity table covers every kernel in graft.plans") {
    assert(kernels.map(_.name).distinct.size === 21)
  }

  for (k <- kernels) test(s"${k.name} gives the same answer generated and interpreted") {
    val Seq(generated, interpreted) = bothEvalModes
    // the failing rows would each log an executor stack trace
    spark.sparkContext.setLogLevel("OFF")
    val problems = try k.rows.flatMap { case (label, values, want) =>
      val (g, i) = (outcome(generated, k, values), outcome(interpreted, k, values))
      val parity = if (g == i || (g.isRight && i.isRight && same(g.toOption.get, i.toOption.get))) Nil
        else Seq(s"$label: generated $g, interpreted $i")
      val wanted = (want, g) match {
        case (Value, Right(_)) => Nil
        case (Is(v), Right(got)) if same(got, v) => Nil
        case (Fails(c, named), Left((got, msg)))
            if c.isAssignableFrom(got) && (!named || msg.contains(k.name)) => Nil
        case _ => Seq(s"$label: wanted $want, generated code gave $g")
      }
      parity ++ wanted
    } finally spark.sparkContext.setLogLevel("ERROR")
    assert(problems.isEmpty, problems.mkString("\n", "\n", ""))

    val df = kernelOver(generated, k, k.rows.head._2)
    val kernelClass = ColumnBridge.expression(k.build(k.types.indices.map(i => col(s"c$i")))).getClass
    val where = staged(df.queryExecution.executedPlan, kernelClass)
    assert(where.nonEmpty && where.forall(identity), s"${k.name} is not inside a whole-stage codegen stage:\n${df.queryExecution.executedPlan}")
  }
}
