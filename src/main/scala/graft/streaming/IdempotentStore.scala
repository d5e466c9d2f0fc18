package graft.streaming

import java.io.{FileNotFoundException, IOException}
import java.util.UUID

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.util.Using

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{InterpretedOrdering, RowOrdering}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** The data entries of a store directory, as Spark's file index sees
  * them: names prefixed `_` or `.` (`_SUCCESS`, `_temporary/` left by a
  * crashed write, `_staging-*`, checksum files) are not data. Shared by
  * every idempotent sink, so "has the store data?" has one answer. */
private[streaming] object StoreListing {

  /** Data entries of `dir`; empty when the directory does not exist. */
  def list(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq.filter { s =>
      val name = s.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    } catch { case _: FileNotFoundException => Nil }

  def hasData(spark: SparkSession, path: String): Boolean = {
    val dir = new Path(path)
    list(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir).nonEmpty
  }
}

/**
 * K3 engine: [[Streams.idempotentAppend]] as an O(batch) commit.
 *
 * A flat store (data files directly under the store directory) keeps
 * an in-process manifest per (store, key columns, key types): each data
 * file's length, modification time and the [lo, hi] of every key
 * column. One append then runs:
 *
 *  1. one directory listing, which validates the manifest — entries
 *     whose file vanished or changed are dropped, and files the
 *     manifest has not seen (first use in a JVM, another writer) get
 *     their bounds from one min/max job grouped by file name, read with
 *     the known key schema;
 *  2. one staged write: the batch, deduplicated on the key, goes into
 *     a hidden `_staging-<uuid>` directory under the store, and an
 *     [[Observation]] on that same job yields its row count and key
 *     bounds;
 *  3. the overlap test: a store file can hold a conflicting key only if
 *     its range overlaps the batch's on every key column (compared with
 *     Spark's ordering for the column type; a type with no ordering
 *     overlaps everything);
 *  4. the commit: with no overlapping file the staged part files are
 *     renamed into the store; otherwise the staged rows are anti-joined
 *     against the overlapping files only, and the result is renamed in.
 *     The staging directory is always deleted.
 *
 * A store with sub-directories (partitioned data) takes the full
 * anti-join against everything on disk instead.
 */
private[streaming] object IdempotentStore {

  /** Per key column, Catalyst-internal `lo`/`hi` (null `lo`: no non-null
    * value, so no row can conflict on that column). */
  private final case class KeyRange(lo: Array[Any], hi: Array[Any])
  private final case class Entry(length: Long, mtime: Long, range: KeyRange)

  private final class Manifest(keySchema: StructType) {
    val files = mutable.HashMap.empty[String, Entry]
    private val types = keySchema.fields.map(_.dataType)
    private val orderable = types.map(RowOrdering.isOrderable)
    private val orderings = types.map(t => InterpretedOrdering.forSchema(Seq(t)))
    private val toInternal = types.map(CatalystTypeConverters.createToCatalystConverter)

    /** min/max of each orderable key column `i`, named `lo<i>`/`hi<i>`. */
    val boundAggs: Seq[Column] = keySchema.fields.toSeq.zipWithIndex.collect {
      case (f, i) if orderable(i) => Seq(min(col(f.name)).as(s"lo$i"), max(col(f.name)).as(s"hi$i"))
    }.flatten

    /** The range from the named values of `boundAggs`. */
    def range(value: String => Any): KeyRange = {
      val lo = new Array[Any](types.length)
      val hi = new Array[Any](types.length)
      types.indices.filter(orderable).foreach { i =>
        lo(i) = toInternal(i)(value(s"lo$i")); hi(i) = toInternal(i)(value(s"hi$i"))
      }
      KeyRange(lo, hi)
    }

    private def lteq(i: Int, a: Any, b: Any) =
      orderings(i).compare(InternalRow(a), InternalRow(b)) <= 0

    def overlaps(a: KeyRange, b: KeyRange): Boolean = types.indices.forall { i =>
      !orderable(i) || (a.lo(i) != null && b.lo(i) != null &&
        lteq(i, a.lo(i), b.hi(i)) && lteq(i, b.lo(i), a.hi(i)))
    }
  }

  private val manifests = TrieMap.empty[(String, Seq[String], Seq[DataType]), Manifest]

  def append(batch: DataFrame, keyCols: Seq[String], path: String): Unit = {
    val spark = batch.sparkSession
    val deduped = batch.dropDuplicates(keyCols)
    val keySchema = deduped.select(keyCols.map(col): _*).schema
    val rawDir = new Path(path)
    val fs = rawDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = fs.makeQualified(rawDir)
    val m = manifests.getOrElseUpdate(
      (dir.toString, keyCols, keySchema.map(_.dataType)), new Manifest(keySchema))
    m.synchronized {
      val listing = StoreListing.list(fs, dir)
      if (listing.exists(_.isDirectory)) {
        // Partitioned or nested data: no per-file manifest; anti-join
        // against every key on disk, as a store-sized read.
        val existing = spark.read.parquet(path).select(keyCols.map(col): _*)
        deduped.join(existing, keyCols, "left_anti").write.mode("append").parquet(path)
      } else {
        refresh(spark, m, fs, listing, keySchema)
        stagedAppend(deduped, keyCols, keySchema, m, fs, dir, listing.isEmpty)
      }
    }
  }

  private def stagedAppend(deduped: DataFrame, keyCols: Seq[String], keySchema: StructType,
                           m: Manifest, fs: FileSystem, dir: Path, emptyStore: Boolean): Unit = {
    val spark = deduped.sparkSession
    val staging = new Path(dir, s"_staging-${UUID.randomUUID()}")
    // listed as files: a `_`-prefixed directory given to a reader is
    // read, but logged as ignored
    def partFiles(d: Path) = StoreListing.list(fs, d).filter(_.isFile)
    try {
      val staged = Observation()
      deduped.observe(staged, count(lit(1)).as("rows"), m.boundAggs: _*)
        .write.parquet(staging.toString)
      val stats = staged.get
      val range = m.range(stats)
      val candidates = m.files.collect { case (name, e) if m.overlaps(e.range, range) => name }
      val (out, rows) =
        if (candidates.isEmpty) (staging, stats("rows").asInstanceOf[Long])
        else {
          val fresh = new Path(staging, "_fresh")
          val kept = Observation()
          val existing = spark.read.schema(keySchema)
            .parquet(candidates.map(new Path(dir, _).toString).toSeq: _*)
          spark.read.schema(deduped.schema).parquet(partFiles(staging).map(_.getPath.toString): _*)
            .join(existing, keyCols, "left_anti")
            .observe(kept, count(lit(1)).as("rows"))
            .write.parquet(fresh.toString)
          (fresh, kept.get("rows").asInstanceOf[Long])
        }
      // An empty result adds no file, except as the first content of an
      // empty store (so the store reads back with its schema).
      if (rows > 0 || emptyStore)
        partFiles(out).foreach { s =>
          val dst = new Path(dir, s.getPath.getName)
          if (!fs.rename(s.getPath, dst)) throw new IOException(s"cannot move ${s.getPath} to $dst")
          val moved = fs.getFileStatus(dst)
          m.files(dst.getName) = Entry(moved.getLen, moved.getModificationTime, range)
        }
    } finally fs.delete(staging, true)
  }

  /** Brings `m` in line with the store's listing: drops entries whose
    * file vanished or changed, and reads the key bounds of files it has
    * not seen in one grouped min/max job. A file that fails to read
    * fails the append. */
  private def refresh(spark: SparkSession, m: Manifest, fs: FileSystem,
                      listing: Seq[FileStatus], keySchema: StructType): Unit = {
    val byName = listing.map(s => s.getPath.getName -> s).toMap
    m.files.filterInPlace { (name, e) =>
      byName.get(name).exists(s => s.getLen == e.length && s.getModificationTime == e.mtime)
    }
    val unknown = listing.filterNot(s => m.files.contains(s.getPath.getName))
    if (unknown.isEmpty) return
    val found =
      if (m.boundAggs.isEmpty) Map.empty[String, KeyRange] // nothing to bound: all overlap
      else spark.read.schema(keySchema).parquet(unknown.map(_.getPath.toString): _*)
        .groupBy(col("_metadata.file_name"))
        .agg(m.boundAggs.head, m.boundAggs.tail: _*)
        .collect().map(r => r.getString(0) -> m.range(r.getAs[Any](_))).toMap
    val none = KeyRange(new Array[Any](keySchema.length), new Array[Any](keySchema.length))
    unknown.foreach { s =>
      val name = s.getPath.getName
      val range = found.getOrElse(name, {
        // no group: the file must hold no rows, or its rows would have
        // been attributed to another name
        if (m.boundAggs.nonEmpty) {
          val rows = Using.resource(ParquetFileReader.open(
            HadoopInputFile.fromStatus(s, fs.getConf)))(_.getRecordCount)
          if (rows != 0) throw new IllegalStateException(
            s"key bounds of ${s.getPath} ($rows rows) were not attributed to the file")
        }
        none
      })
      m.files(name) = Entry(s.getLen, s.getModificationTime, range)
    }
  }
}
