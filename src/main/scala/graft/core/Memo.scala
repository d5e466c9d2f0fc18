package graft.core

import java.nio.file.{Files, Paths}
import java.util.{Comparator, UUID}
import java.util.concurrent.atomic.LongAdder

import scala.collection.concurrent.TrieMap
import scala.util.Using

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.io.StoreListing

/** The engine's one store cache: every memoized store (persisted
  * frames, graph stores, path-valued twins written once per input)
  * is built through [[once]], a path-valued one through [[onDisk]].
  *
  * An entry is keyed by (session, dir, name) and remembers the
  * fingerprint of `dir`'s input listing taken when its build began:
  * (path, length, mtime) of every data file under `dir`, with the
  * visibility rule of [[graft.io.StoreListing]] (`_`/`.` names are not
  * data). Each lookup lists `dir` again; an entry whose fingerprint
  * differs is released and built again, and the session's cached
  * plans over `dir` are refreshed, so rewriting the files under `dir`
  * never serves the old store. [[clear]] releases every entry
  * (after `clearCache()`, or to time a cold build).
  *
  * The first build of a key runs exactly once, behind that key's lock:
  * a racing duplicate build would strand a persisted frame or a store
  * directory. Warm reads take no lock
  * (ConcurrencySpec pins both properties). [[hits]] and [[misses]]
  * count lookups, in total or per name.
  */
object Memo {
  private final case class Built(fingerprint: Seq[(String, Long, Long)], value: Any, release: () => Unit)

  /** One key's entry; its monitor serializes that key's builds. */
  private final class Slot { @volatile var built: Built = null }

  private val slots = TrieMap.empty[(SparkSession, String, String), Slot]
  private val hitCounts = TrieMap.empty[String, LongAdder]
  private val missCounts = TrieMap.empty[String, LongAdder]

  /** The store `name` over the inputs in `dir`: built on first use and
    * again whenever `dir`'s listing changed; `release` frees a
    * replaced or cleared value (unpersist, delete scratch). */
  def once[V](spark: SparkSession, dir: String, name: String,
              release: V => Unit = (_: V) => ())(build: => V): V = {
    val fp = fingerprint(spark, dir)
    val slot = slots.getOrElseUpdate((spark, dir, name), new Slot)
    val warm = slot.built
    if (warm != null && warm.fingerprint == fp) { count(hitCounts, name); warm.value.asInstanceOf[V] }
    else slot.synchronized {
      val cur = slot.built
      if (cur != null && cur.fingerprint == fp) { count(hitCounts, name); cur.value.asInstanceOf[V] }
      else {
        count(missCounts, name)
        if (cur != null) {
          slot.built = null
          cur.release()
          // Spark matches cached plans by root path, so frames persisted
          // outside this cache over `dir` would still serve the old files
          spark.catalog.refreshByPath(dir)
        }
        val v = build
        slot.built = Built(fp, v, () => release(v))
        v
      }
    }
  }

  /** A path-valued store: [[once]] whose `build` writes to a fresh
    * directory private to this entry, `<root>/<name>-<uuid>`, that does
    * not exist yet, so no build deletes or checks for its own path and
    * two inputs never share one. `<root>` is one temp directory per
    * JVM, removed at shutdown; releasing the entry (a changed input,
    * [[clear]]) deletes its directory. */
  def onDisk[V](spark: SparkSession, dir: String, name: String)(build: String => V): V =
    once[(String, V)](spark, dir, name, built => deleteTree(built._1)) {
      val path = storeRoot.resolve(s"$name-${UUID.randomUUID}").toString
      (path, build(path))
    }._2

  private lazy val storeRoot: java.nio.file.Path = {
    val root = Files.createTempDirectory("graft_store")
    sys.addShutdownHook(deleteTree(root.toString))
    root
  }

  private def deleteTree(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root))
      Using.resource(Files.walk(root))(_.sorted(Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p)))
  }

  /** Release every entry; the next lookup of each key builds again. */
  def clear(): Unit = slots.foreach { case (key, slot) =>
    slots.remove(key, slot)
    slot.synchronized {
      val b = slot.built
      slot.built = null
      if (b != null) b.release()
    }
  }

  def hits: Long = hitCounts.values.map(_.sum).sum
  def misses: Long = missCounts.values.map(_.sum).sum
  def hits(name: String): Long = hitCounts.get(name).fold(0L)(_.sum)
  def misses(name: String): Long = missCounts.get(name).fold(0L)(_.sum)

  private def count(counts: TrieMap[String, LongAdder], name: String): Unit =
    counts.getOrElseUpdate(name, new LongAdder).increment()

  private def fingerprint(spark: SparkSession, dir: String): Seq[(String, Long, Long)] = {
    val path = new Path(dir)
    StoreListing.files(path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
      .map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
      .sorted
  }
}
