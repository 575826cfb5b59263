package graft

import graft.operators.{FrozenIndex, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** Streaming PQ serving must score every micro-batch with EXACTLY the
  * batch search result for the same query frame against the same
  * frozen index — same codebooks (deterministic trainer), same codes,
  * same exact re-rank.
  */
class SimilarityStreamSpec extends SparkSpec {
  import spark.implicits._

  test("served micro-batches match the batch pqSearch result on a frozen index") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Tables(spark, "/root/testdata/sf0.001").embeddings
    val queryRows = corpus.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val (batch1, batch2) = queryRows.splitAt(queryRows.size / 2)
    assert(batch1.nonEmpty && batch2.nonEmpty)

    val input = MemoryStream[(Long, Array[Float])]
    val served = scala.collection.mutable.Map.empty[Long, Seq[String]]
    val q = graft.streaming.SimilarityStream.annPqServe(
      input.toDF().toDF("vec_id", "embedding"), corpus) {
      (df, id) => served.synchronized { served(id) = df.collect().map(_.toString).toSeq }
    }
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()

    // The batch oracle: one pqSearch per batch's query frame against
    // an index built identically (deterministic md5 init + integer
    // units → bit-equal codebooks and codes).
    val index = Similarity.pqIndexBuild(corpus)
    def want(rows: Seq[(Long, Array[Float])]): Seq[String] =
      Similarity.pqSearch(index, rows.toDF("vec_id", "embedding"))
        .collect().map(_.toString).toSeq
    val got = served.synchronized(served.toMap)
    assert(got.keySet === Set(0L, 1L))
    assert(got(0L) === want(batch1))
    assert(got(1L) === want(batch2))
    // external query frames: a query must be able to return the
    // corpus vector with its OWN id (no self-exclusion in serving)
    val self = got(0L) ++ got(1L)
    val qids = queryRows.map(_._1).toSet
    assert(self.nonEmpty)
    // each query returns itself at rank 1 with cosine 1.0 — its
    // vector IS in the corpus under the same id
    queryRows.foreach { case (id, _) =>
      assert(self.exists(s => s.startsWith(s"[$id,$id,1,")), s"query $id missing self at rank 1: corpus contains it")
    }
    assert(qids.nonEmpty)
  }

  test("residual IVF-PQ serving loads the frozen on-disk index and matches batch search per micro-batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Tables(spark, "/root/testdata/sf0.001").embeddings
    val queryRows = corpus.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val (batch1, batch2) = queryRows.splitAt(queryRows.size / 2)
    assert(batch1.nonEmpty && batch2.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft_res_serve").toString

    def serveAll(): Map[Long, Seq[String]] = {
      val input = MemoryStream[(Long, Array[Float])]
      val served = scala.collection.mutable.Map.empty[Long, Seq[String]]
      val q = graft.streaming.SimilarityStream.ivfPqResidualServe(
        input.toDF().toDF("vec_id", "embedding"), corpus, dir, nprobe = 2) {
        (df, id) => served.synchronized { served(id) = df.collect().map(_.toString).toSeq }
      }
      try {
        input.addData(batch1: _*); q.processAllAvailable()
        input.addData(batch2: _*); q.processAllAvailable()
      } finally q.stop()
      served.synchronized(served.toMap)
    }

    val got = serveAll()
    // batch oracle: the identical frozen index (loaded, not retrained)
    val index = FrozenIndex.load(spark, Similarity.IvfPqKind, dir, corpus)
    def want(rows: Seq[(Long, Array[Float])]): Seq[String] =
      Similarity.ivfPqResidualSearch(index, rows.toDF("vec_id", "embedding"), nprobe = 2)
        .collect().map(_.toString).toSeq
    assert(got.keySet === Set(0L, 1L))
    assert(got(0L) === want(batch1))
    assert(got(1L) === want(batch2))
    assert(got(0L).nonEmpty && got(1L).nonEmpty)
    // a RESTARTED serve loop against the same dir must LOAD (not
    // rebuild: meta _SUCCESS mtime frozen) and serve identical rows
    val marker = java.nio.file.Paths.get(dir, "meta.parquet", "_SUCCESS")
    val builtAt = java.nio.file.Files.getLastModifiedTime(marker)
    val again = serveAll()
    assert(java.nio.file.Files.getLastModifiedTime(marker) === builtAt,
      "a restarted serve loop must load the frozen index, never rebuild it")
    assert(again === got)
  }

  test("ivfPqIngest appends each micro-batch exactly once under the frozen model") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = Tables(spark, "/root/testdata/sf0.001").embeddings
    val base = all.filter(col("vec_id") % 10 > 1)
    val newRows = all.filter(col("vec_id") % 10 <= 1)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val (batch1, batch2) = newRows.splitAt(newRows.size / 2)
    assert(batch1.nonEmpty && batch2.nonEmpty)
    val built = Similarity.ivfPqIndexBuild(base)
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    FrozenIndex.save(Similarity.IvfPqKind, built, dir, "ingest-spec", base.count())

    val input = MemoryStream[(Long, Array[Float])]
    val commits = scala.collection.mutable.Map.empty[Long, Long]
    val q = graft.streaming.SimilarityStream.ivfPqIngest(
      input.toDF().toDF("vec_id", "embedding"), dir) {
      (id, n) => commits.synchronized { commits(id) = n }
    }
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()

    val got = commits.synchronized(commits.toMap)
    assert(got.keySet === Set(0L, 1L))
    assert(got(1L) === all.count(), "every new vector must be committed exactly once")
    // the ingested index is bit-identical to the in-memory extension
    // under the SAME frozen model (no retrain happened)
    val queries = all.filter(col("vec_id") % 100 === 0)
    val want = Similarity.ivfPqSearch(
        Similarity.ivfPqIndexExtended(Similarity.ivfPqIndexExtended(
          built, batch1.toDF("vec_id", "embedding")), batch2.toDF("vec_id", "embedding")),
        queries, nprobe = 2, excludeSelf = true)
      .collect().map(_.toString).toSeq
    val loaded = FrozenIndex.load(spark, Similarity.IvfPqKind, dir, all)
    val gotRows = Similarity.ivfPqSearch(loaded, queries, nprobe = 2, excludeSelf = true)
      .collect().map(_.toString).toSeq
    assert(gotRows === want)
    // ingested vectors are reachable
    assert(Similarity.ivfPqSearch(loaded, queries, nprobe = 2, excludeSelf = true)
      .select(col("neighbor_id")).collect().map(_.getLong(0)).exists(_ % 10 <= 1))
  }

  test("semanticNearDupIngest appends each micro-batch exactly once under the frozen model") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = Tables(spark, "/root/testdata/sf0.001").embeddings
    val base = all.filter(col("vec_id") % 10 > 1)
    val newRows = all.filter(col("vec_id") % 10 <= 1)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val (batch1, batch2) = newRows.splitAt(newRows.size / 2)
    assert(batch1.nonEmpty && batch2.nonEmpty)
    val built = Similarity.semanticIndexBuild(base, k = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_sem_ingest").toString
    FrozenIndex.save(Similarity.SemanticKind, built, dir, "sem-ingest-spec", base.count())

    val input = MemoryStream[(Long, Array[Float])]
    val commits = scala.collection.mutable.Map.empty[Long, Long]
    val q = graft.streaming.SimilarityStream.semanticNearDupIngest(
      input.toDF().toDF("vec_id", "embedding"), dir) {
      (id, n) => commits.synchronized { commits(id) = n }
    }
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()

    val got = commits.synchronized(commits.toMap)
    assert(got.keySet === Set(0L, 1L))
    assert(got(1L) === all.count(), "every new vector must be committed exactly once")
    // the ingested assignment is bit-identical to the in-memory
    // double-append under the SAME frozen model (no retrain happened)
    val refDir = java.nio.file.Files.createTempDirectory("graft_sem_ingest_ref").toString
    FrozenIndex.save(Similarity.SemanticKind, built, refDir, "sem-ingest-spec", base.count())
    Similarity.semanticIndexAppend(spark, refDir, batch1.toDF("vec_id", "embedding"))
    Similarity.semanticIndexAppend(spark, refDir, batch2.toDF("vec_id", "embedding"))
    def assigned(d: String): Set[(Long, Long)] =
      FrozenIndex.load(spark, Similarity.SemanticKind, d, spark.emptyDataFrame).assigned
        .select(col("vec_id"), col("cluster")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(assigned(dir) === assigned(refDir))
    // a replayed committed batch no-ops at the commit layer (what the
    // checkpoint replays after a restart mid-batch)
    assert(Similarity.semanticIndexStreamAppend(spark, dir,
      batch1.toDF("vec_id", "embedding"), batchId = 0) === got(1L))
    assert(assigned(dir) === assigned(refDir), "a replayed committed batch must change nothing")
  }

  test("semantic near-dup serving matches the static probe per micro-batch and finds re-keyed twins") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Tables(spark, "/root/testdata/sf0.001").embeddings
    // new arrivals = corpus vectors under fresh ids: each must report
    // its own twin at cosine 1.0 (a frozen-model assignment puts an
    // identical vector in the identical cell — no boundary to miss)
    val newRows = corpus.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id") + 1000000L, col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val (batch1, batch2) = newRows.splitAt(newRows.size / 2)
    assert(batch1.nonEmpty && batch2.nonEmpty)

    val input = MemoryStream[(Long, Array[Float])]
    val served = scala.collection.mutable.Map.empty[Long, Seq[String]]
    val q = graft.streaming.SimilarityStream.semanticNearDupServe(
      input.toDF().toDF("vec_id", "embedding"), corpus, k = 4) {
      (df, id) => served.synchronized { served(id) = df.collect().map(_.toString).toSeq }
    }
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()

    val index = Similarity.semanticIndexBuild(corpus, k = 4)
    def want(rows: Seq[(Long, Array[Float])]): Seq[String] =
      Similarity.semanticProbe(index, rows.toDF("vec_id", "embedding"))
        .collect().map(_.toString).toSeq
    val got = served.synchronized(served.toMap)
    assert(got.keySet === Set(0L, 1L))
    assert(got(0L) === want(batch1), "micro-batch must equal the static probe bit-for-bit")
    assert(got(1L) === want(batch2))
    val all = got(0L) ++ got(1L)
    assert(all.nonEmpty)
    newRows.foreach { case (nid, _) =>
      assert(all.exists(_.startsWith(s"[$nid,${nid - 1000000L},")),
        s"new vector $nid missing its corpus twin at cosine 1.0")
    }
  }

  test("frozen semantic serving loads the on-disk index and never rebuilds across restarts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Tables(spark, "/root/testdata/sf0.001").embeddings
    val newRows = corpus.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id") + 1000000L, col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    assert(newRows.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft_sem_serve").toString

    def serveOnce(): Seq[String] = {
      val input = MemoryStream[(Long, Array[Float])]
      val served = scala.collection.mutable.ArrayBuffer.empty[String]
      val q = graft.streaming.SimilarityStream.semanticNearDupServeFrozen(
        input.toDF().toDF("vec_id", "embedding"), corpus, dir, k = 4) {
        (df, _) => served.synchronized { served ++= df.collect().map(_.toString) }
      }
      try { input.addData(newRows: _*); q.processAllAvailable() } finally q.stop()
      served.synchronized(served.toSeq)
    }

    val first = serveOnce()
    val index = Similarity.semanticIndexBuild(corpus, k = 4)
    val want = Similarity.semanticProbe(index, newRows.toDF("vec_id", "embedding"))
      .collect().map(_.toString).toSeq
    assert(first === want, "frozen serve must equal the static probe bit-for-bit")
    val marker = java.nio.file.Paths.get(dir, "meta.parquet", "_SUCCESS")
    val t0 = java.nio.file.Files.getLastModifiedTime(marker)
    assert(serveOnce() === want, "a restarted serve loop must reproduce the same verdicts")
    assert(java.nio.file.Files.getLastModifiedTime(marker) === t0,
      "a restarted serve loop must LOAD the frozen index, never rebuild it")
  }

  test("frozen WIDE semantic serving matches the static wide probe and never rebuilds") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Tables(spark, "/root/testdata/sf0.001").embeddings
    val newRows = corpus.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id") + 1000000L, col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    assert(newRows.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft_semwide_serve").toString

    // k = 96: a wide single-level index (the training corpus spreads)
    def serveOnce(): Seq[String] = {
      val input = MemoryStream[(Long, Array[Float])]
      val served = scala.collection.mutable.ArrayBuffer.empty[String]
      val q = graft.streaming.SimilarityStream.semanticNearDupServeFrozen(
        input.toDF().toDF("vec_id", "embedding"), corpus, dir, k = 96) {
        (df, _) => served.synchronized { served ++= df.collect().map(_.toString) }
      }
      try { input.addData(newRows: _*); q.processAllAvailable() } finally q.stop()
      served.synchronized(served.toSeq)
    }

    val first = serveOnce()
    val index = Similarity.semanticIndexBuild(corpus, k = 96)
    val want = Similarity.semanticProbe(index, newRows.toDF("vec_id", "embedding"))
      .collect().map(_.toString).toSeq
    assert(first === want, "frozen wide serve must equal the static wide probe bit-for-bit")
    // every re-keyed twin still lands in its trained cell at cosine 1.0
    newRows.foreach { case (nid, _) =>
      assert(first.exists(_.startsWith(s"[$nid,${nid - 1000000L},")),
        s"new vector $nid missing its corpus twin at cosine 1.0")
    }
    val marker = java.nio.file.Paths.get(dir, "meta.parquet", "_SUCCESS")
    val t0 = java.nio.file.Files.getLastModifiedTime(marker)
    assert(serveOnce() === want, "a restarted wide serve loop must reproduce the same verdicts")
    assert(java.nio.file.Files.getLastModifiedTime(marker) === t0,
      "a restarted wide serve loop must LOAD the frozen index, never rebuild it")
  }

  test("frozen TWO-LEVEL semantic serving matches the static hier probe and never rebuilds") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Tables(spark, "/root/testdata/sf0.001").embeddings
    val newRows = corpus.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id") + 1000000L, col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    assert(newRows.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft_semhier_serve").toString

    def serveOnce(): Seq[String] = {
      val input = MemoryStream[(Long, Array[Float])]
      val served = scala.collection.mutable.ArrayBuffer.empty[String]
      val q = graft.streaming.SimilarityStream.semanticNearDupServeHierFrozen(
        input.toDF().toDF("vec_id", "embedding"), corpus, dir, k1 = 2, k2 = 2) {
        (df, _) => served.synchronized { served ++= df.collect().map(_.toString) }
      }
      try { input.addData(newRows: _*); q.processAllAvailable() } finally q.stop()
      served.synchronized(served.toSeq)
    }

    val first = serveOnce()
    val index = Similarity.semanticIndexBuildHier(corpus, k1 = 2, k2 = 2)
    val want = Similarity.semanticProbeHier(index, newRows.toDF("vec_id", "embedding"))
      .collect().map(_.toString).toSeq
    assert(first === want, "frozen hier serve must equal the static two-level probe bit-for-bit")
    val marker = java.nio.file.Paths.get(dir, "meta.parquet", "_SUCCESS")
    val t0 = java.nio.file.Files.getLastModifiedTime(marker)
    assert(serveOnce() === want, "a restarted serve loop must reproduce the same verdicts")
    assert(java.nio.file.Files.getLastModifiedTime(marker) === t0,
      "a restarted serve loop must LOAD the frozen two-level index, never rebuild it")
  }
}
