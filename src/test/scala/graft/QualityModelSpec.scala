package graft

import graft.operators.{Curation, QualityModel}
import org.apache.spark.sql.functions._

/** The trained quality classifier: planted-signal recovery on a
  * synthetic corpus with known good/bad structure, coefficient-sign
  * sanity, accuracy on the real testdata corpus, and the
  * filterGateModel composition contract.
  */
class QualityModelSpec extends SparkSpec {
  import spark.implicits._

  /** Synthetic corpus with a PLANTED quality signal: 60 clean English
    * docs (pass every heuristic gate) vs 60 junk docs across the
    * three failure modes the features encode — repetitive spam (high
    * top_frac), punctuation noise (high punct_ratio), and
    * mislabeled-language text (lang_match = 0).
    */
  private lazy val planted = {
    val good = (0 until 60).map { i =>
      (i.toLong, "en",
        s"the quick brown fox number $i jumps over a lazy dog and walks " +
          s"to the green park with friends in early light of day $i")
    }
    val bad = (0 until 60).map { i =>
      val text = i % 3 match {
        case 0 => s"spam spam spam spam spam buy item $i now spam spam spam spam"
        case 1 => s"!!! ??? $$$$$$ ### @@@ %%% ^^^ &&& *** ((( ))) $i !!!"
        case _ => s"der hund und die katze ist nicht ein tier nummer $i und das haus ist nicht klein"
      }
      ((1000 + i).toLong, "en", text)
    }
    (good ++ bad).toDF("doc_id", "lang", "text")
  }

  test("score recovers the planted quality signal (accuracy and separation)") {
    val out = QualityModel.score(planted).cache()
    assert(out.count() === 120)
    // the heuristic label itself must split the corpus as planted
    val labels = out.select("doc_id", "label").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert((0 until 60).forall(i => labels(i.toLong) == 1.0), "good docs must pass the heuristic gate")
    assert((0 until 60).forall(i => labels((1000 + i).toLong) == 0.0), "junk docs must fail the heuristic gate")
    // thresholded prediction agrees with the label almost everywhere
    val acc = out.filter(col("pred") === (col("label") === 1.0)).count().toDouble / 120
    assert(acc >= 0.95, s"planted-signal accuracy $acc")
    // continuous separation: every pairwise (good, bad) ordering —
    // AUC over the score — is near-perfect
    val pos = out.filter(col("label") === 1.0).select("score").as[Double].collect()
    val neg = out.filter(col("label") === 0.0).select("score").as[Double].collect()
    val wins = (for { p <- pos; n <- neg } yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    val auc = wins / (pos.length.toDouble * neg.length)
    assert(auc >= 0.97, s"planted-signal AUC $auc")
    out.unpersist()
  }

  test("fit learns the planted feature directions") {
    val beta = QualityModel.fit(planted)
    // z4/z5 = top_frac/dup_token_frac: the two are collinear on the
    // planted corpus (ridge may split the signal either way), so the
    // pinned direction is their COMBINED movement — pushing a doc
    // from clean repetition readings (0.1, 0.15) to junk readings
    // (0.8, 0.9) must lower the score
    val repetitionShift = beta(4) * (0.8 - 0.1) + beta(5) * (0.9 - 0.15)
    assert(repetitionShift < 0.0,
      s"more repetition must lower the score (shift $repetitionShift, beta4=${beta(4)}, beta5=${beta(5)})")
    // z6 = lang_match: agreement with the declared language -> higher quality
    assert(beta(6) > 0.0, s"lang_match coefficient ${beta(6)} should be positive")
  }

  test("score on the testdata corpus tracks the heuristic verdict") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = QualityModel.score(docs).cache()
    assert(out.count() === docs.count())
    val n = out.count().toDouble
    val acc = out.filter(col("pred") === (col("label") === 1.0)).count() / n
    assert(acc >= 0.85, s"testdata accuracy $acc")
    // determinism: a second train-and-score run is bit-identical
    val again = QualityModel.score(docs)
    assert(out.join(again, Seq("doc_id"))
      .filter(out("score") =!= again("score") || out("pred") =!= again("pred"))
      .count() === 0)
    out.unpersist()
  }

  test("fit on a caller-supplied label recovers a planted external grade") {
    // FineWeb-Edu shape: an EXTERNAL grader (not the heuristic gate)
    // scores the docs and the ridge regresses features onto it. The
    // planted grade is 1.0 for clean docs, 0.0 for junk — the same
    // separation as the heuristic, so the labeled fit must recover
    // the same ordering — but delivered via an input column the
    // heuristic never sees.
    val graded = planted.withColumn("grade",
      when(col("doc_id") < 1000L, 1.0).otherwise(0.0))
    val out = QualityModel.score(graded, label = Some(col("grade"))).cache()
    assert(out.count() === 120)
    // the emitted label IS the external grade, not the heuristic verdict
    val labels = out.select("doc_id", "label").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert((0 until 60).forall(i => labels(i.toLong) == 1.0))
    assert((0 until 60).forall(i => labels((1000 + i).toLong) == 0.0))
    val acc = out.filter(col("pred") === (col("label") === 1.0)).count().toDouble / 120
    assert(acc >= 0.95, s"external-label accuracy $acc")
    out.unpersist()
    // an ANTI-correlated external grade flips the learned direction:
    // the same features, graded 1.0 for junk, must score junk HIGHER
    val flipped = planted.withColumn("grade",
      when(col("doc_id") >= 1000L, 1.0).otherwise(0.0))
    val betaFlip = QualityModel.fit(flipped, label = Some(col("grade")))
    val betaPlain = QualityModel.fit(planted)
    val repShiftFlip = betaFlip(4) * (0.8 - 0.1) + betaFlip(5) * (0.9 - 0.15)
    val repShiftPlain = betaPlain(4) * (0.8 - 0.1) + betaPlain(5) * (0.9 - 0.15)
    assert(repShiftFlip > 0.0 && repShiftPlain < 0.0,
      s"anti-correlated grade must flip the repetition direction ($repShiftFlip vs $repShiftPlain)")
    // default label unchanged: omitting the parameter is the
    // distilled-heuristic fit, bit-for-bit
    assert(QualityModel.fit(planted, label = None).toSeq === betaPlain.toSeq)
  }

  test("partially-graded fit trains on the graded subset only (advisor r15)") {
    // the advertised FineWeb-Edu deployment: the grader scores a
    // SAMPLE, the rest of the corpus carries a null grade. The fit
    // must equal the fit on the graded subset — NOT a silent blend
    // where X'X keeps ungraded rows (their feature products are
    // label-free) while X'y drops them, which yields inconsistent
    // normal equations and plausible-looking wrong coefficients.
    val graded = planted.withColumn("grade",
      when(col("doc_id") % 2 === 0,
        when(col("doc_id") < 1000L, 1.0).otherwise(0.0)))  // odd ids: null grade
    val betaPartial = QualityModel.fit(graded, label = Some(col("grade")))
    val gradedOnly = graded.filter(col("grade").isNotNull)
    val betaSubset = QualityModel.fit(gradedOnly, label = Some(col("grade")))
    assert(betaPartial.toSeq === betaSubset.toSeq,
      "fit on a partially-graded corpus must be bit-identical to the fit on its graded subset")
    // and the subset fit still recovers the planted direction
    val repShift = betaPartial(4) * (0.8 - 0.1) + betaPartial(5) * (0.9 - 0.15)
    assert(repShift < 0.0, s"graded-subset fit lost the repetition direction ($repShift)")
    // scoring still covers the WHOLE corpus (ungraded docs get a
    // score and a pred; their emitted label is honestly null)
    val out = QualityModel.score(graded, label = Some(col("grade"))).cache()
    assert(out.count() === 120)
    assert(out.filter(col("score").isNull).count() === 0)
    assert(out.filter(col("label").isNull).count() === 60)
    out.unpersist()
  }

  test("save/load round-trips coefficients bit-exactly and guards version/params") {
    val beta = QualityModel.fit(planted)
    val dir = java.nio.file.Files.createTempDirectory("graft_qm").toString
    QualityModel.save(spark, beta, dir, params = "planted;alpha=1.0")
    assert(QualityModel.load(spark, dir).toSeq === beta.toSeq)
    assert(QualityModel.load(spark, dir, Some("planted;alpha=1.0")).toSeq === beta.toSeq)
    // a mismatched fit fingerprint fails loudly, never serves silently
    val e = intercept[IllegalArgumentException] {
      QualityModel.load(spark, dir, Some("other-corpus"))
    }
    assert(e.getMessage.contains("planted;alpha=1.0"))
    // scoring through reloaded coefficients is bit-identical
    val direct = Curation.filterGateModel(planted, beta).collect().map(_.toString)
    val reloaded = Curation.filterGateModel(planted, QualityModel.load(spark, dir))
      .collect().map(_.toString)
    assert(reloaded.toSeq === direct.toSeq)
    // staged publish: no staging residue after save, re-save over an
    // existing model works, and a missing/incomplete model dir fails
    // LOUDLY on the _SUCCESS commit-marker check (advisor round 14)
    val residue = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("model.parquet.tmp-"))
      .count()
    assert(residue === 0L, "staging dirs must not survive a publish")
    QualityModel.save(spark, beta, dir, params = "planted;alpha=1.0")
    assert(QualityModel.load(spark, dir).toSeq === beta.toSeq)
    val marker = java.nio.file.Paths.get(dir, "model.parquet", "_SUCCESS")
    java.nio.file.Files.delete(marker)
    val torn = intercept[IllegalArgumentException] { QualityModel.load(spark, dir) }
    assert(torn.getMessage.contains("_SUCCESS"),
      s"torn model must fail on the commit marker, got: ${torn.getMessage}")
  }

  test("qualityBudget keeps the highest-scoring docs within the token budget") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val budget = 2000L
    val out = Curation.qualityBudget(docs, budget).cache()
    val selected = out.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(selected.nonEmpty && selected.length < docs.count())
    // complete docs' tokens fit the budget exactly; at most one crossing doc
    val completeTokens = selected.filter(_._5).map(_._3).sum
    assert(completeTokens <= budget)
    assert(selected.count(!_._5) <= 1)
    selected.filter(!_._5).foreach { case (_, _, nToks, off, _) =>
      assert(off < budget && off + nToks > budget, "incomplete doc must straddle the budget")
    }
    // off is the exact prefix sum in (score DESC, doc_id) order
    val inOrder = selected.sortBy { case (id, score, _, _, _) => (-score, id) }
    var acc = 0L
    inOrder.foreach { case (id, _, nToks, off, _) =>
      assert(off === acc, s"doc $id offset $off != running sum $acc")
      acc += nToks
    }
    // selection is by score: every kept doc precedes every dropped doc
    val keptIds = selected.map(_._1).toSet
    val all = QualityModel.score(docs).collect().map(r => (r.getLong(0), r.getDouble(2)))
    val dropped = all.filterNot(p => keptIds(p._1))
    if (dropped.nonEmpty) {
      val lastKept = all.filter(p => keptIds(p._1)).map(p => (-p._2, p._1)).max
      val firstDropped = dropped.map(p => (-p._2, p._1)).min
      assert(Ordering[(Double, Long)].lt(lastKept, firstDropped),
        s"a dropped doc $firstDropped outranks a kept doc $lastKept")
    }
    out.unpersist()
  }

  test("filterGateModel composes the model as a strict extra gate") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val beta = QualityModel.fit(graft.operators.TextOps.withToks(docs))
    val gated = Curation.filterGateModel(docs, beta).cache()
    assert(gated.count() === docs.count())
    // keep is exactly heuristic AND model — never null
    assert(gated.filter(col("keep").isNull).count() === 0)
    assert(gated.filter(col("keep") =!= (col("heuristic_ok") && col("model_ok"))).count() === 0)
    // the model gate only ever REMOVES docs relative to the heuristic
    assert(gated.filter(col("keep") && !col("heuristic_ok")).count() === 0)
    // model_score matches the standalone scorer doc-for-doc
    val standalone = QualityModel.score(docs).select(col("doc_id"), col("score"))
    assert(gated.join(standalone, "doc_id")
      .filter(col("model_score") =!= col("score")).count() === 0)
    gated.unpersist()
  }
}
