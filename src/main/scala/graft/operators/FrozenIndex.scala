package graft.operators

import graft.plans.HonestCheckpoint._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types._

/** The one frozen-index lifecycle — build, save, serve, append,
  * compact and publish — shared by every index kind in [[Similarity]]
  * (FAISS's one `write_index`/`read_index` pair for every index type).
  *
  * What a kind supplies ([[Kind]]): its layout version, the name of
  * its payload table (and, for the semantic kinds, the column the
  * payload is partitioned by), its bounded model as typed meta
  * columns, the payload frame of a built index, and a `bind` from
  * (meta row, payload, corpus) to its index. Everything else is here.
  *
  * On disk an index directory holds one payload table, any committed
  * `delta_<seq>.parquet` tables and `meta.parquet`. Commit order: the
  * payload, then the one-row meta, whose `_SUCCESS` marker commits
  * the whole index. The meta row carries the layout version, the
  * build-parameter fingerprint `params`, the corpus count `n`, the
  * stream high-water mark `last_batch`, the number of committed
  * deltas `deltas`, the payload's schema as written
  * (`StructType.json`, all nullable) and the kind's model.
  * So one collect of the meta row validates an index and returns its
  * model, and the payload and its deltas are read with the recorded
  * schema: no index read infers one.
  *
  * Version rule: a kind bumps its version whenever its meta schema or
  * payload layout changes. A directory of another version — or one
  * whose meta lacks a column, has one of another type, or has no
  * `_SUCCESS` — reads as absent, so [[served]] rebuilds it instead of
  * mis-decoding it.
  *
  * Appends: batch appends and streaming micro-batches share one
  * delta sequence but not the stream's batch ids. Every non-empty
  * append writes `delta_<deltas>.parquet` and is committed by the
  * meta rewrite that sets `deltas + 1`. So the committed deltas are
  * `delta_0` up to `delta_<deltas - 1>`; a higher one is a killed
  * writer's, skipped by every reader and overwritten by the next
  * append. A stream batch also sets `last_batch` to its batch id, and
  * a replayed id at or below `last_batch` is skipped outright. A batch
  * append leaves `last_batch` alone, so it never takes an id a stream
  * has yet to commit.
  *
  * Every write that replaces a committed tree goes through
  * [[publish]]. Writers of one directory are serialized within the
  * JVM by a per-directory lock; across processes the publish is
  * staged and renamed, so a reader sees the old tree or the new one.
  */
private[graft] object FrozenIndex {

  /** One index kind: what the lifecycle needs from it. `model` are
    * the kind's meta columns after the lifecycle's own ones, in the
    * order [[Kind.model]] returns their values.
    */
  abstract class Kind[I](val version: Int, val payload: String, model: (String, DataType)*) {
    /** The meta row's schema. */
    val schema: StructType = StructType((Seq("version" -> IntegerType,
      "params" -> StringType, "n" -> LongType, "last_batch" -> LongType,
      "deltas" -> LongType, "schema" -> StringType) ++ model)
      .map { case (name, t) => StructField(name, t) })

    /** The payload's partition column, if it is written partitioned. */
    def partitionBy: Option[String] = None

    /** The model column values of `index`. */
    def model(index: I): Seq[Any]

    /** The payload table a save writes. */
    def payloadOf(index: I): DataFrame

    /** The index a committed meta row and its payload describe, bound
      * to `corpus` (the kinds that re-rank on raw vectors read them
      * from it).
      */
    def bind(meta: Row, payload: DataFrame, corpus: DataFrame): I
  }

  /** Model column types and codecs: centroid lists `cells`
    * (array<array<long>>) and per-subspace codebooks `books`
    * (array<array<array<long>>>), in 1e-8 units.
    */
  val longs: DataType = ArrayType(LongType)
  val cells: DataType = ArrayType(longs)
  val books: DataType = ArrayType(cells)

  def cellsOf(meta: Row, name: String): Seq[Array[Long]] =
    meta.getAs[collection.Seq[collection.Seq[Long]]](name).map(_.toArray).toSeq

  def booksOf(meta: Row, name: String): IndexedSeq[IndexedSeq[Array[Long]]] =
    meta.getAs[collection.Seq[collection.Seq[collection.Seq[Long]]]](name)
      .map(_.map(_.toArray).toIndexedSeq).toIndexedSeq

  def longsOf(meta: Row, name: String): Array[Long] =
    meta.getAs[collection.Seq[Long]](name).toArray

  /** Save `index` to `dir`: the payload, then the meta row. */
  def save[I](kind: Kind[I], index: I, dir: String, params: String = "", n: Long = -1L): Unit = {
    val payload = kind.payloadOf(index)
    writePayload(kind, payload, dir)
    writeMeta(payload.sparkSession, kind, s"$dir/meta.parquet",
      Seq(kind.version, params, n, -1L, 0L, written(kind, payload).json) ++ kind.model(index))
  }

  /** The index at `dir` bound to `corpus`, from its meta row (read
    * here when the caller has not already).
    */
  def load[I](spark: SparkSession, kind: Kind[I], dir: String, corpus: DataFrame,
              meta: Option[Row] = None): I = {
    val row = meta.getOrElse(committedMeta(spark, kind, dir))
    kind.bind(row, payload(spark, kind, dir, row), corpus)
  }

  /** Serve from `dir`: load the committed index whose fingerprint is
    * (`params`, `n`), building it first if there is none. The build
    * is saved with count `builtN` into a staging tree, its
    * checkpoints are released, `grow` runs on the staging tree (the
    * appended and tombstoned entries), and the tree is published.
    * A warm serve reads the meta row once and starts no other job.
    */
  def served[I](kind: Kind[I], dir: String, params: String, corpus: DataFrame, n: Long)
               (build: => I, builtN: => Long = n, grow: String => Unit = _ => ()): I = {
    val spark = corpus.sparkSession
    val meta = locked(dir) {
      committed(spark, kind, dir, params, n).getOrElse {
        publish(spark, dir) { staging =>
          val index = build
          save(kind, index, staging, params, builtN)
          kind.payloadOf(index).releaseSources()
          grow(staging)
        }
        committed(spark, kind, dir, params, n).getOrElse(
          sys.error(s"no complete index matching '$params' at $dir after its publish"))
      }
    }
    load(spark, kind, dir, corpus, Some(meta))
  }

  /** Append `batch` to the index at `dir` as its next delta, encoded
    * by `encode` under the index's frozen model; returns the committed
    * corpus count. `batchId` is a stream's batch id (None for a batch
    * append): a replayed committed one changes nothing. An empty batch
    * writes no delta (a data-less table holds no file to read) but
    * still commits its batch id. The encode binds the model alone: no
    * payload table or delta is listed, so the cost follows the batch,
    * not the index.
    */
  def append[I](spark: SparkSession, kind: Kind[I], dir: String, batch: DataFrame,
                batchId: Option[Long])(encode: I => DataFrame): Long = locked(dir) {
    val meta = committedMeta(spark, kind, dir)
    val last = meta.getAs[Long]("last_batch")
    if (batchId.exists(_ <= last)) meta.getAs[Long]("n")
    else {
      val cnt = countRows(batch)
      val deltas = meta.getAs[Long]("deltas")
      if (cnt > 0) {
        val noPayload = spark.createDataFrame(java.util.List.of[Row](), schemaOf(meta))
        encode(kind.bind(meta, noPayload, batch))
          .write.mode("overwrite").parquet(s"$dir/delta_$deltas.parquet")
      }
      val n = meta.getAs[Long]("n") + cnt
      val row = counts(meta, n, batchId.getOrElse(last), if (cnt > 0) deltas + 1 else deltas)
      if (!publish(spark, s"$dir/meta.parquet")(writeMeta(spark, kind, _, row)))
        sys.error(s"failed to publish the meta row of $dir")
      n
    }
  }

  /** Fold the committed deltas of the index at `dir` into its payload
    * table; `n` and `last_batch` stay, so a replayed batch still
    * skips, and `deltas` returns to 0. A no-op without committed
    * deltas.
    */
  def compact[I](spark: SparkSession, kind: Kind[I], dir: String): Unit = locked(dir) {
    val meta = committedMeta(spark, kind, dir)
    if (meta.getAs[Long]("deltas") > 0)
      republish(spark, kind, dir, meta, payload(spark, kind, dir, meta), meta.getAs[Long]("n"))
  }

  /** Replace the index at `dir` with `payload` as its one payload
    * table and the meta row `meta` at count `n`, without deltas. The
    * caller holds the directory's lock.
    */
  def republish[I](spark: SparkSession, kind: Kind[I], dir: String, meta: Row,
                   payload: DataFrame, n: Long): Unit = {
    val landed = publish(spark, dir) { staging =>
      writePayload(kind, payload, staging)
      writeMeta(spark, kind, s"$staging/meta.parquet",
        counts(meta, n, meta.getAs[Long]("last_batch"), 0L))
    }
    if (!landed) sys.error(s"failed to republish the index at $dir")
  }

  /** The meta row of the committed index at `dir`, or an error. */
  def committedMeta(spark: SparkSession, kind: Kind[_], dir: String): Row =
    meta(spark, kind, dir).getOrElse(throw new IllegalArgumentException(
      s"no committed index of layout version ${kind.version} at $dir"))

  /** The meta row at `dir` if it is committed (`_SUCCESS`), its file
    * footers give every column it has the declared type, and it reads
    * with `kind`'s schema with no null column and its version.
    */
  def meta(spark: SparkSession, kind: Kind[_], dir: String): Option[Row] = {
    val table = new Path(s"$dir/meta.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = table.getFileSystem(conf)
    if (!fs.exists(new Path(table, "_SUCCESS")) || !typed(fs, conf, table, kind.schema)) None
    else spark.read.schema(kind.schema).parquet(table.toString).collect()
      .headOption.filter(r => !r.anyNull && r.getAs[Int]("version") == kind.version)
  }

  /** Whether each data file of the table at `table` types every
    * column of `schema` it holds as `schema` does, read from the
    * file footers on the driver. A column of another type would fail
    * the read task; a type the reader would widen also reads as
    * mistyped, which costs one rebuild.
    */
  private def typed(fs: FileSystem, conf: Configuration, table: Path, schema: StructType): Boolean =
    fs.listStatus(table).map(_.getPath).filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .forall { file =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
        val written = try new ParquetToSparkSchemaConverter().convert(reader.getFileMetaData.getSchema)
                      finally reader.close()
        schema.forall(f => written.find(_.name == f.name).forall(w => nullable(w.dataType) == nullable(f.dataType)))
      }

  /** [[meta]] of an index built with `params` over a corpus of `n`. */
  def committed(spark: SparkSession, kind: Kind[_], dir: String, params: String,
                n: Long): Option[Row] =
    meta(spark, kind, dir).filter(r =>
      r.getAs[String]("params") == params && r.getAs[Long]("n") == n)

  /** The payload of a committed index: its table and every committed
    * delta, read with the schema its meta row records.
    */
  def payload(spark: SparkSession, kind: Kind[_], dir: String, meta: Row): DataFrame = {
    def read(paths: Seq[String]) = spark.read.schema(schemaOf(meta)).parquet(paths: _*)
    val base = s"$dir/${kind.payload}"
    val deltas = (0L until meta.getAs[Long]("deltas")).map(seq => s"$dir/delta_$seq.parquet")
    // a partitioned table and plain delta tables cannot share one scan
    if (deltas.isEmpty || kind.partitionBy.isEmpty) read(base +: deltas)
    else read(Seq(base)).unionByName(read(deltas))
  }

  private def schemaOf(meta: Row): StructType =
    DataType.fromJson(meta.getAs[String]("schema")).asInstanceOf[StructType]

  /** The one publish step: write the new tree to a staging path beside
    * `dest`, delete `dest`, rename the staging tree onto it. Returns
    * whether `dest` is now that tree. It is not when the rename fails,
    * or when it lands INSIDE a `dest` a rival writer recreated in
    * between (HDFS moves a directory into an existing one and reports
    * success; the nested copy is removed). Either way `dest` holds
    * what the rival published, and the caller decides whether that is
    * an error. Staging never outlives the call.
    */
  def publish(spark: SparkSession, dest: String)(write: String => Unit): Boolean = {
    val to = new Path(dest)
    val fs = to.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(s"$dest.tmp-${ProcessHandle.current.pid}-${System.nanoTime}")
    val nested = new Path(to, staging.getName)
    try {
      write(staging.toString)
      if (fs.exists(to)) fs.delete(to, true)
      fs.rename(staging, to) && !fs.exists(nested)
    } finally {
      if (fs.exists(staging)) fs.delete(staging, true)
      if (fs.exists(nested)) fs.delete(nested, true)
    }
  }

  /** Run `body` holding `dir`'s writer lock. */
  def locked[T](dir: String)(body: => T): T =
    locks.computeIfAbsent(dir, _ => new Object).synchronized(body)
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def writePayload(kind: Kind[_], payload: DataFrame, dir: String): Unit = {
    val w = payload.write.mode("overwrite")
    kind.partitionBy.fold(w)(w.partitionBy(_)).parquet(s"$dir/${kind.payload}")
  }

  private def writeMeta(spark: SparkSession, kind: Kind[_], path: String, values: Seq[Any]): Unit =
    spark.createDataFrame(java.util.List.of(Row(values: _*)), kind.schema)
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** `meta`'s values with `n`, `last_batch` and `deltas` replaced. */
  private def counts(meta: Row, n: Long, lastBatch: Long, deltas: Long): Seq[Any] =
    meta.toSeq.updated(meta.fieldIndex("n"), n).updated(meta.fieldIndex("last_batch"), lastBatch)
      .updated(meta.fieldIndex("deltas"), deltas)

  /** The schema Spark reads `payload` back with once written: the
    * partition column last, everything nullable.
    */
  private def written(kind: Kind[_], payload: DataFrame): StructType = {
    val (parts, data) = payload.schema.partition(f => kind.partitionBy.contains(f.name))
    nullable(StructType(data ++ parts)).asInstanceOf[StructType]
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case other => other
  }
}
