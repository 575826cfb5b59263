package graft

import java.security.MessageDigest

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.types.LongType

/** Sketch-based dedup operators are checked against an independent
  * in-Scala brute-force implementation (different tokenizer code,
  * different hash plumbing) on a corpus engineered to contain
  * near-dupes at several similarity levels.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // Corpus: base docs from a seeded vocab + perturbed near-copies.
  private val corpus: Seq[(Long, String)] = {
    val rng = new scala.util.Random(7)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
      "oscar", "papa", "quebec", "romeo", "sierra", "tango")
    val bases = (0 until 12).map(_ => Vector.fill(30)(vocab(rng.nextInt(vocab.size))))
    val docs = scala.collection.mutable.ArrayBuffer[Vector[String]]()
    bases.foreach { b =>
      docs += b
      if (rng.nextBoolean()) docs += b.updated(rng.nextInt(b.size), vocab(rng.nextInt(vocab.size))) // near-dup
      if (rng.nextBoolean()) docs += b.drop(3) // prefix-shifted near-dup
    }
    docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
  }

  private def shingleSet(text: String, w: Int): Set[String] = {
    val toks = text.trim.split("\\s+").filter(_.nonEmpty)
    if (toks.length < w) Set.empty
    else toks.sliding(w).map(_.mkString(" ")).toSet
  }

  /** Independent all-pairs Jaccard (the oracle the LSH/prefix-filter
    * variants must reproduce exactly).
    */
  private def bruteJaccard(w: Int, t: Double): Set[(Long, Long, Double)] = {
    val sets = corpus.map { case (id, txt) => id -> shingleSet(txt, w) }.toMap
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b && sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size
      j = BigDecimal(inter.toDouble / (sa.size + sb.size - inter))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= t
    } yield (a, b, j)).toSet
  }

  /** Independent all-pairs overlap coefficient (inter / min size). */
  private def bruteContainment(w: Int, t: Double): Set[(Long, Long, Double)] = {
    val sets = corpus.map { case (id, txt) => id -> shingleSet(txt, w) }.toMap
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b && sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size
      c = BigDecimal(inter.toDouble / math.min(sa.size, sb.size))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= t
    } yield (a, b, c)).toSet
  }

  test("containment reproduces the brute-force overlap >= 0.8 pairs") {
    val got = Dedup.containment(corpus.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === bruteContainment(4, 0.8))
    assert(got.nonEmpty, "corpus must actually contain containment pairs")
  }

  test("containment catches quote-inclusion pairs Jaccard misses") {
    // 1: a 40-token host; 2: a 10-token contiguous quote of it;
    // 3: unrelated. C(2 in 1) = 1.0 but J ≈ 7/37 — below every
    // symmetric near-dup threshold in the suite.
    val host = (0 until 40).map(i => s"w${i % 25}").mkString(" ")
    val quote = (8 until 18).map(i => s"w${i % 25}").mkString(" ")
    val other = (0 until 20).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, host), (2L, quote), (3L, other)).toDF("doc_id", "text")
    val got = Dedup.containment(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 })
    assert(!got.exists { case (a, b, _) => b == 3L || a == 3L })
    val j = Dedup.ngramJaccard(df, 0.5).collect()
    assert(j.isEmpty, "the quote pair must be invisible to symmetric Jaccard at 0.5")
  }

  test("minhashLsh reproduces the brute-force Jaccard >= 0.8 pairs") {
    val got = Dedup.minhashLsh(corpus.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === bruteJaccard(3, 0.8))
    assert(got.nonEmpty, "corpus must actually contain near-dupes")
  }

  test("ngramJaccard (w=4 prefix filtering) reproduces brute force >= 0.5") {
    val got = Dedup.ngramJaccard(corpus.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === bruteJaccard(4, 0.5))
    assert(got.nonEmpty)
  }

  /** In-Scala 60-bit md5 hash — mirrors Hashing.hex60 independently. */
  private def hex60(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  private def simhashSig(text: String): Long = {
    val hs = shingleSet(text, 3).map(hex60)
    (0 until 60).foldLeft(0L) { (sig, i) =>
      val bal = hs.toSeq.map(h => if (((h >> i) & 1L) == 1L) 1 else -1).sum
      if (bal > 0) sig | (1L << i) else sig
    }
  }

  test("simhash finds exactly the Hamming <= 3 signature pairs") {
    val sigs = corpus.map { case (id, txt) => id -> simhashSig(txt) }
    val expected = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb)
      if h <= 3
    } yield (a, b, h.toLong)).toSet
    val got = Dedup.simhash(corpus.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  /** Independent in-Scala union-find: every node of the pair graph →
    * the min id of its connected component.
    */
  private def unionFind(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toList.map(n => n -> find(n)).toMap
  }

  private def labelsOf(comps: DataFrame): Map[Long, Long] =
    comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // 8-node path 1-2-…-8: label 1 needs 7 hops to reach node 8, two
  // per double round, so the loop runs 4 changing rounds + a quiet one
  private val path8 = (1L until 8L).map(i => (i, i + 1))

  test("components assigns every near-dup cluster its min doc_id via union-find oracle") {
    val expected = unionFind(bruteJaccard(3, 0.8).map(p => (p._1, p._2)))
    val got = labelsOf(Dedup.components(corpus.toDF("doc_id", "text")))
    assert(got === expected)
    assert(got.nonEmpty)
    assert(got.values.toSet.size < got.size, "must contain a non-trivial cluster")
  }

  test("componentsFromPairs converges over multi-round chains, stars and no pairs") {
    assert(labelsOf(Dedup.componentsFromPairs(path8.toDF("a", "b"))) === unionFind(path8))
    // two disjoint stars, pairs given in both orientations; the second
    // star's min id is a leaf, not its center
    val stars = Seq(15L -> 11L, 12L -> 15L, 15L -> 13L, 14L -> 15L,
      30L -> 21L, 30L -> 35L, 36L -> 30L)
    val got = labelsOf(Dedup.componentsFromPairs(stars.toDF("a", "b")))
    assert(got === unionFind(stars))
    assert(got.values.toSet === Set(11L, 21L))
    val empty = Dedup.componentsFromPairs(Seq.empty[(Long, Long)].toDF("a", "b"))
    assert(empty.collect().isEmpty)
    assert(empty.schema.map(f => f.name -> f.dataType) === Seq("node" -> LongType, "comp" -> LongType))
  }

  test("components leaves no cache entry, a lineage-free result and no round or edge blocks") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    def stored(): Set[Int] = sc.getRDDStorageInfo.map(_.id).toSet
    def checkpointRdd(df: DataFrame): Int = {
      val plan = df.queryExecution.analyzed
      assert(plan.collectFirst { case m: InMemoryRelation => m }.isEmpty, plan.treeString)
      plan.collectLeaves() match {
        case Seq(l: LogicalRDD) => l.rdd.id
        case leaves => fail(s"expected one LogicalRDD leaf, got $leaves")
      }
    }
    val before = stored()
    val comps = Dedup.components(corpus.toDF("doc_id", "text"))
    assert(spark.sharedState.cacheManager.isEmpty)
    // The result's own checkpoint is all that holds blocks: no
    // superseded round, no edge frame, no per-document
    // (doc_id, sh, sig) checkpoint of the MinHash chain.
    assert((stored() -- before).subsetOf(Set(checkpointRdd(comps))))
    // A bare pair frame has no other checkpoints, and the path runs
    // four superseded rounds: the result's blocks are all that remain.
    val beforePath = stored()
    val pathComps = Dedup.componentsFromPairs(path8.toDF("a", "b"))
    assert(spark.sharedState.cacheManager.isEmpty)
    assert((stored() -- beforePath).subsetOf(Set(checkpointRdd(pathComps))))
  }

  test("a label-propagation double round counts its changed labels in one job") {
    // path8 converges in five double rounds, a single pair in two, so
    // the difference is three rounds' jobs. Measured with this
    // listener: path8 37 jobs and one pair 10, 9 per double round;
    // with the count as Dataset.count() (two jobs under AQE), path8
    // 41 and one pair 11, 10 per double round.
    def jobs(pairs: Seq[(Long, Long)]): Int =
      jobsStartedBy(Dedup.componentsFromPairs(pairs.toDF("a", "b")))
    val (long, short) = (jobs(path8), jobs(Seq(1L -> 2L)))
    assert((long - short) / 3.0 === 9.0, s"path8 $long jobs, one pair $short")
  }

  test("applyDedup maps every doc to its cluster keeper and keeps exactly the keepers") {
    val got = Dedup.applyDedup(corpus.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // every doc appears exactly once
    assert(got.keySet === corpus.map(_._1).toSet)
    val comps = Dedup.components(corpus.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (doc, (keeper, kept)) =>
      assert(keeper === comps.getOrElse(doc, doc), s"doc $doc keeper mismatch")
      assert(kept === (keeper == doc))
    }
    // clusters exist, so some docs must be dropped and keepers kept
    assert(got.values.exists(!_._2) && got.values.exists(_._2))
  }

  test("exact dedup groups identical texts only") {
    val docs = Seq((1L, "x y z"), (2L, "x y z"), (3L, "different text")).toDF("doc_id", "text")
    val got = Dedup.exact(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 2L), (3L, 1L))) // (keep_id, n_dups)
  }

  test("passages flags cross-document repeated chunks at chunk granularity") {
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ")   // one full 20-token chunk
    val uniq = (1 to 20).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler $uniq"),            // chunks: [boiler, uniq]
      (2L, s"$boiler ${uniq.toUpperCase}"), // shares ONLY the boiler chunk
      (3L, s"$uniq $uniq"),              // self-repeats its own chunk
      (4L, "short doc under twenty tokens")) // no full chunk at all
      .toDF("doc_id", "text")
    val got = Dedup.passages(docs, w = 20).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // boiler: 2 docs, 2 occurrences, first at (1, 0);
    // uniq: docs 1 and 3, 3 occurrences total, first at (1, 1)
    assert(got === Set((2L, 2L, 1L, 0L), (2L, 3L, 1L, 1L)))
  }

  test("passages/substrings decode negative doc_ids exactly (packed-decimal unpack is floor-based)") {
    import spark.implicits._
    // a hashed/negative-id source: the decimal packing doc_id·10¹⁰ +
    // idx stays order-correct for negatives, and the pmod unpack must
    // restore (doc_id, idx) exactly — truncating DIV/% would read
    // (-1, 0) as (0, -9999999995)
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ")
    val docs = Seq((-7L, s"$boiler"), (3L, s"$boiler")).toDF("doc_id", "text")
    val p = Dedup.passages(docs, w = 20).collect()
    assert(p.length === 1)
    assert((p(0).getLong(3), p(0).getLong(4)) === ((-7L, 0L)),
      s"negative first_doc mis-decoded: ${p(0)}")
    val s = Dedup.substrings(docs, w = 20, stride = 5).collect()
    assert(s.length === 1)
    assert((s(0).getLong(3), s(0).getLong(4)) === ((-7L, 0L)),
      s"negative first_doc mis-decoded: ${s(0)}")
  }

  test("substrings catches misaligned shared sequences that passages misses") {
    import spark.implicits._
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ")
    val uniqA = (1 to 5).map(i => s"a$i").mkString(" ")
    val uniqB = (1 to 30).map(i => s"c$i").mkString(" ")
    // doc 2 carries the boiler run shifted by 5 tokens: chunk-aligned
    // passages sees two DIFFERENT chunks, sliding windows at stride 5
    // align on the identical 20-token run
    val docs = Seq(
      (1L, s"$boiler $uniqB"),
      (2L, s"$uniqA $boiler $uniqB"))
      .toDF("doc_id", "text")
    val aligned = Dedup.substrings(docs, w = 20, stride = 5).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // the boiler window repeats across both docs (doc 1 win 0 =
    // tokens 0-19; doc 2 win 1 = tokens 5-24)
    assert(aligned.exists { case (nd, no, fd, fw) => nd == 2L && no >= 2L && fd == 1L && fw == 0L },
      s"misaligned boiler not caught: ${aligned.mkString(", ")}")
    // chunk-aligned passages cannot see it
    val chunked = Dedup.passages(docs, w = 20).collect()
    assert(!chunked.exists(_.getLong(1) == 2L),
      "passages unexpectedly matched the misaligned run (test corpus broken)")
    // stride semantics: window count per doc is (n - w) / stride + 1
    val manyWins = Dedup.substrings(Seq((9L, (1 to 33).map("t" + _).mkString(" "))).toDF("doc_id", "text"),
      w = 20, stride = 5)
    assert(manyWins.count() === 0) // no repeats in a single distinct doc
    // determinism
    val again = Dedup.substrings(docs, w = 20, stride = 5).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(again.toSeq === aligned.toSeq)
  }

  test("substrings: intra-doc periodic self-overlap is visible by default and gated by minDocs") {
    import spark.implicits._
    // a single periodic doc: a token run of length >= w + stride
    // yields textually identical windows at consecutive strides —
    // n_occurrences >= 2 with n_docs = 1 (repetition, not
    // cross-document duplication)
    val periodic = Seq((1L, Array.fill(30)("x").mkString(" "))).toDF("doc_id", "text")
    val hits = Dedup.substrings(periodic, w = 20, stride = 5).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(hits.exists { case (nd, no) => nd == 1L && no >= 2L },
      "periodic single-doc self-overlap should surface at the default")
    // a cross-document dedup consumer gates it out with minDocs = 2
    assert(Dedup.substrings(periodic, w = 20, stride = 5, minDocs = 2).count() === 0L)
    // and minDocs = 2 keeps genuine cross-doc hits
    val boiler = (1 to 25).map(i => s"b$i").mkString(" ")
    val two = Seq((1L, boiler), (2L, s"pad1 pad2 pad3 pad4 pad5 $boiler"))
      .toDF("doc_id", "text")
    assert(Dedup.substrings(two, w = 20, stride = 5, minDocs = 2).count() > 0L)
  }
}
