package graft

import graft.functions.VectorFunctions._
import graft.plans.IntegerUnits._
import org.apache.spark.sql.functions._

/** The integer-units codegen kernels must be bit-equal to the
  * Column-API reference chains they replaced — the DuckDB oracles
  * replay THOSE semantics, so any divergence is an oracle break.
  * Pinned over the real embeddings corpus (all 500 sf0.001 vectors,
  * 64 dims each: every float that actually flows through ann_*).
  */
class IntegerUnitsSpec extends SparkSpec {

  private lazy val emb =
    graft.sources.Tables(spark, "/root/testdata/sf0.001").embeddings

  test("quantizeUnits equals round(double(e) * 1e8) per component") {
    val reference = transform(col("embedding"),
      e => round(e.cast("double") * lit(1e8), 0).cast("long"))
    val diff = emb.select(col("vec_id"), quantizeUnits(col("embedding")).as("k"),
        reference.as("r"))
      .filter(col("k") =!= col("r"))
    assert(diff.count() === 0L)
  }

  test("l2Units equals the integer zip_with/aggregate fold") {
    // distance of every vector to one fixed quantized vector
    val probe = emb.orderBy(col("vec_id")).limit(1)
      .select(quantizeUnits(col("embedding"))).collect()(0).getSeq[Long](0).toArray
    val reference = aggregate(
      zip_with(quantizeUnits(col("embedding")), lit(probe), (a, b) => {
        val d = a - b
        d * d
      }),
      lit(0L), (acc, x) => acc + x)
    val diff = emb.select(l2Units(quantizeUnits(col("embedding")), lit(probe)).as("k"),
        reference.as("r"))
      .filter(col("k") =!= col("r"))
    assert(diff.count() === 0L)
  }

  test("normalizeUnits equals the decimal-norm + quantize reference chain") {
    val nrm = sqrt(decNorm2(col("embedding")).cast("double"))
    val reference = quantizeUnits(
      when(nrm > 0.0, transform(col("embedding"), x => (x.cast("double") / nrm).cast("float")))
        .otherwise(col("embedding")).cast("array<float>"))
    val diff = emb.select(col("vec_id"), normalizeUnits(col("embedding")).as("k"),
        reference.as("r"))
      .filter(col("k") =!= col("r"))
    assert(diff.count() === 0L)
  }

  test("decDot kernel equals the decimal HOF fold (dot and norm forms)") {
    val probe = emb.orderBy(col("vec_id")).limit(1)
      .select(col("embedding")).collect()(0).getSeq[Float](0).toArray
    val diff = emb.select(col("vec_id"),
        decDot(col("embedding"), lit(probe)).as("kd"),
        decDotFold(col("embedding"), lit(probe)).as("rd"),
        decNorm2(col("embedding")).as("kn"),
        decNorm2Fold(col("embedding")).as("rn"))
      .filter(col("kd") =!= col("rd") || col("kn") =!= col("rn"))
    assert(diff.count() === 0L)
  }

  /** Floats whose fast `dec8` differs from the `BigDecimal` reference,
    * over `n` inputs spread across the cores.
    */
  private def dec8Mismatches(n: Int)(x: Int => Float): Seq[Float] = {
    import scala.jdk.CollectionConverters._
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[Float]()
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      val f = x(i)
      if (graft.plans.NormalizeUnitsI64.dec8Unscaled(f) !=
          graft.plans.NormalizeUnitsI64.dec8Reference(f)) bad.add(f)
    }
    bad.asScala.take(5).toSeq
  }

  test("fast dec8 equals BigDecimal on every float of the [1/8, 1/4) binade, both signs") {
    // 1/8 is the typical component magnitude of a unit 64-dim vector
    val lo = java.lang.Float.floatToRawIntBits(0.125f)
    val n = java.lang.Float.floatToRawIntBits(0.25f) - lo
    assert(dec8Mismatches(2 * n)(i =>
      java.lang.Float.intBitsToFloat(lo + i / 2) * (if (i % 2 == 0) 1f else -1f)).isEmpty)
  }

  test("fast dec8 equals BigDecimal on every exact decimal tie below its bound") {
    // x·1e8 = a·5^8·2^8 / 2^k is a half-way point exactly when k = 9
    // and a is odd: x = a/512, here for every such float with |x| < 1e4
    val odd = 5120000 / 2
    assert(dec8Mismatches(2 * odd)(i =>
      (2 * (i / 2) + 1).toFloat / 512f * (if (i % 2 == 0) 1f else -1f)).isEmpty)
  }

  test("fast dec8 equals BigDecimal on 1M seeded random floats with |x| < 4") {
    // random bit patterns, so every magnitude down to the subnormals
    val rng = new scala.util.Random(20261017L)
    val xs = Iterator.continually(java.lang.Float.intBitsToFloat(rng.nextInt()))
      .filter(x => math.abs(x) < 4f).take(1000000).toArray
    assert(dec8Mismatches(xs.length)(i => xs(i)).isEmpty)
  }

  test("fast dec8 throws exactly what BigDecimal throws on NaN, infinities and 1e12") {
    def outcome(f: Float => Long, x: Float): Either[(Class[_], String), Long] =
      try Right(f(x)) catch { case e: Exception => Left((e.getClass, e.getMessage)) }
    for (x <- Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, 1e12f, -1e12f)) {
      val fast = outcome(graft.plans.NormalizeUnitsI64.dec8Unscaled, x)
      assert(fast.isLeft, s"dec8($x) must throw")
      assert(fast === outcome(graft.plans.NormalizeUnitsI64.dec8Reference, x), s"dec8($x)")
    }
  }

  test("normalizeUnits passes a zero vector through unnormalized") {
    import spark.implicits._
    val z = Seq(Tuple1(Array.fill(4)(0.0f))).toDF("embedding")
    val got = z.select(normalizeUnits(col("embedding"))).collect()(0).getSeq[Long](0)
    assert(got === Seq(0L, 0L, 0L, 0L))
  }

  test("fwhtSigns equals the Sylvester bit-count sum the OPQ oracle replays") {
    // y[i] = Σ_j (−1)^popcount(i & j) · s_j · x_j over the real
    // corpus (the butterfly vs the direct O(d²) formula — the SQL
    // side computes the direct form)
    val signs = graft.operators.Similarity.opqSigns(64)
    val rows = emb.select(col("vec_id"),
        normalizeUnits(col("embedding")).as("un"),
        graft.plans.FwhtSignsI64.fwhtSigns(normalizeUnits(col("embedding")), signs).as("y"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val x = r.getSeq[Long](1)
      val y = r.getSeq[Long](2)
      val want = (0 until 64).map { i =>
        (0 until 64).map { j =>
          val h = if (java.lang.Long.bitCount((i & j).toLong) % 2 == 0) 1L else -1L
          h * signs(j) * x(j)
        }.sum
      }
      assert(y === want, s"fwht diverged from the direct form for vec ${r.getLong(0)}")
    }
    // orthogonality at the unnormalized scale: ‖y‖² = 64·‖x‖²
    rows.take(20).foreach { r =>
      val x = r.getSeq[Long](1); val y = r.getSeq[Long](2)
      assert(y.map(v => v * v).sum === 64L * x.map(v => v * v).sum)
    }
    // dimension mismatch fails loudly, never silently truncates
    // (surfaces as IllegalArgumentException directly under local
    // codegen, or wrapped in SparkException from an executor)
    import spark.implicits._
    val bad = Seq(Tuple1(Array.fill(8)(0.1f))).toDF("embedding")
    val e = intercept[Exception] {
      bad.select(graft.plans.FwhtSignsI64.fwhtSigns(
        normalizeUnits(col("embedding")), signs)).collect()
    }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("fwht_signs"), s"unexpected failure: $e")
  }

  test("argminUnits equals the transform+array_min HOF, lowest-cluster tiebreak included") {
    import graft.plans.ArgminL2
    // model: 7 real quantized vectors + a DUPLICATE of centroid 2 at
    // index 5 (forced tie — the kernel must keep the FIRST minimal,
    // i.e. lowest cluster id, exactly array_min over struct(du, id))
    val model = tieModel
    // the HOF reference: a transform + array_min over the model as a
    // typedlit array of (cluster, cu) structs
    val cl = typedlit(model.zipWithIndex.map { case (cu, i) => (i.toLong, cu.toSeq) }
      .map { case (c, cu) => ArgminRef(c, cu) })
    val reference = array_min(transform(cl, c =>
      struct(l2Units(quantizeUnits(col("embedding")), c.getField("cu")).as("du"),
        c.getField("cluster").as("cluster"))))
    val got = emb.select(col("vec_id"),
        ArgminL2.argminUnits(quantizeUnits(col("embedding")), model).getItem(0).as("k"),
        reference.as("r"))
      .select(col("vec_id"), col("k.du").as("kdu"), col("k.cluster").as("kcl"),
        col("r.du").as("rdu"), col("r.cluster").as("rcl"))
    assert(got.filter(col("kdu") =!= col("rdu") || col("kcl") =!= col("rcl")).count() === 0L)
    // the tie is actually exercised: vectors nearest centroid 2 must
    // report cluster 2, never the duplicate at 5
    assert(got.filter(col("kcl") === 5).count() === 0L)
    assert(got.filter(col("kcl") === 2).count() > 0L,
      "tie case never exercised — no vector argmins to the duplicated centroid")
    // dimension mismatch fails loudly
    import spark.implicits._
    val bad = Seq(Tuple1(Array.fill(8)(1L))).toDF("u")
    val e = intercept[Exception] {
      bad.select(ArgminL2.argminUnits(col("u"), model)).collect()
    }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("argmin_l2"), s"unexpected failure: $e")
  }

  /** 7 real quantized corpus vectors with a DUPLICATE of centroid 2
    * at index 5 — a forced (du, cluster) tie.
    */
  private lazy val tieModel: Seq[Array[Long]] = {
    val base = emb.orderBy(col("vec_id")).limit(7)
      .select(quantizeUnits(col("embedding")))
      .collect().map(_.getSeq[Long](0).toArray).toSeq
    base.updated(5, base(2).clone())
  }

  /** The corpus as (vec_id, quantized units). */
  private lazy val embUnits: Seq[(Long, Array[Long])] =
    emb.select(col("vec_id"), quantizeUnits(col("embedding"))).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toSeq

  /** Driver-side reference: (du, local cluster) of every centroid in
    * `cents`, nearest first, ties to the lower cluster.
    */
  private def refOrder(u: Array[Long], cents: Seq[Array[Long]]): Seq[(Long, Long)] =
    cents.zipWithIndex.map { case (c, i) =>
      (u.indices.map { d => val x = u(d) - c(d); x * x }.sum, i.toLong)
    }.sorted

  private def pairs(r: org.apache.spark.sql.Row, i: Int): Seq[(Long, Long)] =
    if (r.isNullAt(i)) null
    else r.getSeq[org.apache.spark.sql.Row](i).map(p => (p.getLong(0), p.getLong(1)))

  test("argminUnits top-nprobe is the driver-side (du, cluster) order, ties to the lower cluster") {
    import graft.plans.ArgminL2
    val model = tieModel
    for (session <- bothEvalModes; nprobe <- Seq(1, 3, model.size)) {
      import session.implicits._
      val got = embUnits.toDF("vec_id", "u")
        .select(col("vec_id"), ArgminL2.argminUnits(col("u"), model, nprobe).as("p"))
        .collect().map(r => r.getLong(0) -> pairs(r, 1)).toMap
      embUnits.foreach { case (id, u) =>
        assert(got(id) === refOrder(u, model).take(nprobe), s"vec $id at nprobe=$nprobe")
      }
      if (nprobe == model.size)
        assert(got.values.exists(_.map(_._2).containsSlice(Seq(2L, 5L))),
          "tie case never exercised — no full order puts the duplicate pair side by side")
      // a vector of the wrong dimension fails loudly, never truncates
      val e = intercept[Exception] {
        Seq(Tuple1(Array.fill(8)(1L))).toDF("u")
          .select(ArgminL2.argminUnits(col("u"), model, nprobe)).collect()
      }
      assert((e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
        .contains("argmin_l2"), s"unexpected failure: $e")
    }
  }

  test("argminUnitsPerCell scans only the row's own cell; a dead or unknown cell is null") {
    import graft.plans.ArgminL2
    val model = tieModel
    // cell 0 = centroids 0-2, cell 1 = dead, cell 2 = centroids 3-6;
    // rows address cells 0-3 by vec_id % 4 (cell 3 is not in the model)
    val cells = Seq(model.take(3), Seq.empty, model.drop(3))
    for (session <- bothEvalModes) {
      import session.implicits._
      val got = embUnits.map { case (id, u) => (id, u, id % 4) }.toDF("vec_id", "u", "cell")
        .select(col("vec_id"), ArgminL2.argminUnitsPerCell(col("u"), col("cell"), cells, 2).as("p"))
        .collect().map(r => r.getLong(0) -> pairs(r, 1)).toMap
      embUnits.foreach { case (id, u) =>
        val want = (id % 4).toInt match {
          case 0 => refOrder(u, cells(0)).take(2)
          case 2 => refOrder(u, cells(2)).take(2)
          case _ => null
        }
        assert(got(id) === want, s"vec $id in cell ${id % 4}")
      }
    }
  }

  test("argmin_l2 kernels built separately over equal centroids are semanticEquals") {
    import graft.plans.{ArgminL2, ArgminL2I64}
    import spark.implicits._
    val model = tieModel
    val plan = embUnits.toDF("vec_id", "u").select(
        ArgminL2.argminUnits(col("u"), model.map(_.clone()), 2).as("a"),
        ArgminL2.argminUnits(col("u"), model.map(_.clone()), 2).as("b"),
        ArgminL2.argminUnits(col("u"), model.updated(0, model(1)), 2).as("c"))
      .queryExecution.analyzed
    val Seq(a, b, c) = plan.expressions.flatMap(_.collect { case k: ArgminL2I64 => k })
    assert(a === b && a.semanticEquals(b), "equal models must give equal kernels")
    assert(!a.semanticEquals(c), "different models must give different kernels")
  }

  test("argminUnits rejects array<long> input that may hold nulls at analysis") {
    import spark.implicits._
    val nullable = Seq(Tuple1(Seq(Some(1L), None))).toDF("u")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      nullable.select(graft.plans.ArgminL2.argminUnits(col("u"), Seq(Array(0L, 0L))))
    }
    assert(e.getMessage.contains("argmin_l2 expects array<long> without null elements"),
      s"unexpected failure: $e")
  }
}

/** typedlit row shape for the argmin HOF reference (a case class is
  * required for typedlit's encoder derivation).
  */
final case class ArgminRef(cluster: Long, cu: Seq[Long])
