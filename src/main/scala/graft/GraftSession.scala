package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session defaults so Verify, Bench, and tests
  * agree on semantics.
  *
  *  - UTC session time zone (oracle parity).
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join
  *    splitting — the 100 TB safety nets.
  *  - `parquet.nanosAsLong`: the driver `events` table stores
  *    TIMESTAMP(NANOS) which Spark's vectorized reader refuses;
  *    reading as long + explicit integer `div 1000` to micros is
  *    lossless (ns epochs overflow double's 53-bit mantissa, so the
  *    conversion must never route through floating point).
  *  - `file:` is [[graft.io.ForkFreeLocalFileSystem]] (and its
  *    `FileContext` twin [[graft.io.ForkFreeLocalFs]]): Hadoop's local
  *    filesystem forks `chmod` per create/mkdir and `readlink` per link
  *    check when `libhadoop` is absent, about five processes per
  *    offset/commit log entry, state-store delta and parquet commit.
  *    JFR counted `jdk.ProcessStart` events per benchmark run (4-core
  *    VM, seed 2, 14 s measured): `stream_live` 5 269 before, 6 after
  *    (JVM start and shutdown); `curate_corpus` 406 before, 6 after.
  *    Checksums are written and verified as before; other schemes
  *    are untouched.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The engine serves ~240 distinct declared queries; the default
      // generated-class cache (spark.sql.codegen.cache.maxEntries=100)
      // evicts almost every whole-stage class between passes, so each
      // re-run pays Janino compilation again for every stage. Sized to
      // hold the full query surface (a class is a few KB of metaspace;
      // scale-independent — the query COUNT, not the data, drives it).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.ForkFreeLocalFs].getName)

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 4)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
