package graft

import graft.functions.Hashing.{minhash, shingles, shinglesOf, tokens}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parity of the shingle and MinHash kernels with the Column
  * expressions they replaced, which stay here as the references: the
  * `transform`/`slice` shingles and the per-document
  * `min(xxhash64(i, s))` aggregate over the exploded shingles.
  */
class MinHashKernelSpec extends SparkSpec {
  import spark.implicits._

  /** The higher-order-function shingles the kernel replaced. */
  private def hofShingles(toks: Column, w: Int): Column = {
    val n = size(toks)
    when(n >= w,
      transform(sequence(lit(1), n - lit(w - 1)),
        i => concat_ws(" ", slice(toks, i, lit(w)))))
      .otherwise(array().cast("array<string>"))
  }

  private lazy val documents = Tables(spark, "/root/testdata/sf0.01").documents

  /** (id, kernel, reference) rows of both shingle forms over `toks`. */
  private def bothShingles(df: DataFrame, w: Int): Seq[(Long, Seq[String], Seq[String])] =
    df.select(col("id"), shinglesOf(col("toks"), w), hofShingles(col("toks"), w)).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1), r.getSeq[String](2))).toSeq

  test("the shingle kernel equals the HOF shingles on the sf0.01 documents") {
    val toks = documents.select(col("doc_id").as("id"), tokens(col("text")).as("toks"))
    for (w <- Seq(1, 2, 3, 4, 5, 8)) {
      val rows = bothShingles(toks, w)
      assert(rows.nonEmpty && rows.exists(_._2.nonEmpty))
      rows.foreach { case (id, got, ref) => assert(got === ref, s"doc $id at w=$w") }
    }
  }

  test("shingle kernel equals the HOF on empty, short, multi-byte and null input") {
    val w = 3
    val cases = Seq(
      0L -> "",
      1L -> "   ",
      2L -> "one two",                  // n = w - 1
      3L -> "one two three",            // n = w
      4L -> "naïve 日本語 😀 Ωmega ß",  // multi-byte UTF-8 tokens
      5L -> "a b a b a b a b",          // repeated shingles
      6L -> null)
    val texts = cases.toDF("id", "text").select(col("id"), tokens(col("text")).as("toks"))
    // token arrays with null elements (concat_ws skips them) and a
    // null array, beside the tokenized texts
    val arrays = Seq(7L -> Seq("a", null, "b", "c"), 8L -> Seq(null, null, null),
      9L -> (null: Seq[String])).toDF("id", "toks")
    val local = texts.unionByName(arrays)
    // a local relation is evaluated by the optimizer (interpreted
    // eval); the repartitioned copy runs the generated code
    for (df <- Seq(local, local.repartition(2))) {
      val rows = bothShingles(df, w).map(r => r._1 -> r).toMap
      assert(rows.keySet === (0L to 9L).toSet)
      rows.values.foreach { case (id, got, ref) => assert(got === ref, s"case $id") }
      Seq(0L, 1L, 2L, 6L, 9L).foreach(id => assert(rows(id)._2.isEmpty, s"case $id"))
      assert(rows(3L)._2 === Seq("one two three"))
      assert(rows(4L)._2 === Seq("naïve 日本語 😀", "日本語 😀 Ωmega", "😀 Ωmega ß"))
      assert(rows(5L)._2.size === 6 && rows(5L)._2.distinct.size === 2)
      assert(rows(7L)._2 === Seq("a b", "b c"))
      assert(rows(8L)._2 === Seq(""))
    }
    // the text form is the same kernel over the tokens
    assert(cases.toDF("id", "text").select(shingles(col("text"), w)).collect()
      .map(_.getSeq[String](0)).toSeq ===
      texts.orderBy("id").select(hofShingles(col("toks"), w)).collect().map(_.getSeq[String](0)).toSeq)
    intercept[IllegalArgumentException](shinglesOf(col("toks"), 0))
  }

  test("tokens equals the filter-lambda split on the sf0.01 documents and whitespace edge cases") {
    // the interpreted lambda form `tokens` had before array_remove
    def lambdaTokens(text: Column): Column =
      filter(split(trim(text), "\\s+"), x => length(x) > 0)
    def both(df: DataFrame): Seq[(Seq[String], Seq[String])] =
      df.select(tokens(col("text")), lambdaTokens(col("text"))).collect()
        .map(r => (Option(r.getSeq[String](0)).orNull, Option(r.getSeq[String](1)).orNull)).toSeq
    val docs = both(documents)
    assert(docs.nonEmpty)
    docs.foreach { case (got, want) => assert(got === want) }
    val cases = Seq(Some(""), Some("   "), Some("\t\n "), Some("\tlead tab"),
      Some("\nlead newline"), Some("a \t\n b\r\n\tc  \u000B d"), Some(" trailing \t"), None)
      .toDF("text")
    val edge = both(cases)
    assert(edge.size === 8)
    edge.foreach { case (got, want) => assert(got === want) }
    assert(edge.map(_._1) === Seq(Seq(), Seq(), Seq(), Seq("lead", "tab"),
      Seq("lead", "newline"), Seq("a", "b", "c", "d"), Seq("trailing"), null))
    def typeOf(c: Column) = documents.select(c).schema.map(f => (f.dataType, f.nullable))
    assert(typeOf(tokens(col("text"))) === typeOf(lambdaTokens(col("text"))))
  }

  test("the MinHash kernel equals the per-document min(xxhash64) aggregate") {
    val sets = documents.select(col("doc_id"), col("text"),
      array_distinct(shingles(col("text"), 3)).as("sh"))
    val ref = sets.select(col("doc_id"), explode(col("sh")).as("s"))
      .groupBy(col("doc_id"))
      .agg(array((0 until 32).map(i => min(xxhash64(lit(i), col("s")))): _*).as("ref"))
    val got = sets.select(col("doc_id"), minhash(col("sh"), 32).as("sig"),
      // the signature is a min, so duplicate shingles change nothing
      minhash(shingles(col("text"), 3), 32).as("sig_dups"))
      .join(ref, Seq("doc_id"), "left").collect()
    assert(got.length === documents.count())
    got.foreach { r =>
      def longs(c: String) = Option(r.getSeq[Long](r.fieldIndex(c)))
      val sig = longs("sig")
      assert(sig === longs("ref"), s"doc ${r.getAs[Long]("doc_id")}")
      assert(sig === longs("sig_dups"))
      sig.foreach(s => assert(s.size === 32))
    }
    assert(got.exists(r => !r.isNullAt(1)))
  }

  test("the MinHash kernel is null on an empty array and rejects a null shingle") {
    val arrays = Seq(1L -> Seq.empty[String], 2L -> (null: Seq[String]), 3L -> Seq("x y z"))
      .toDF("id", "sh")
    for (df <- Seq(arrays, arrays.repartition(2))) {
      val sigs = df.select(col("id"), minhash(col("sh"), 4)).collect()
        .map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
      assert(sigs(1L).isEmpty && sigs(2L).isEmpty)
      assert(sigs(3L) === Some(Seq(0, 1, 2, 3).map(i =>
        Seq("x y z").toDF("s").select(xxhash64(lit(i), col("s"))).head().getLong(0))))
    }
    // over the shingle kernel, whose result is never null, a short
    // document still signs to null, and a null filter sees it
    val texts = Seq(1L -> "a b", 2L -> "a b c").toDF("id", "text").repartition(2)
    assert(texts.select(col("id"), minhash(shingles(col("text"), 3), 4).as("sig"))
      .filter(col("sig").isNull).collect().map(_.getLong(0)).toSeq === Seq(1L))
    val withNull = Seq(1L -> Seq("a", null)).toDF("id", "sh")
    for (df <- Seq(withNull, withNull.repartition(1)))
      thrownCause[IllegalArgumentException](df.select(minhash(col("sh"), 4)).collect())
  }
}
