package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkSpec.Sf0001
import graft.operators.{Corpus, Scale}

/** The store cache answers for the files under its `dir` as they are
  * now: a table rewritten in place between two lookups in one session
  * must yield the new answer, for a persisted frame and for a
  * path-valued store alike; a path-valued store is private to its
  * input and deleted when its entry is released. */
class MemoSpec extends SparkSpec {

  /** A scratch input dir holding `tables` copied from sf0.001, each as
    * a directory of part files. */
  private def inputDir(tables: String*): String = {
    val dir = Files.createTempDirectory("graft_memo").toString
    tables.foreach(t => rewrite(dir, t)(identity))
    dir
  }

  /** Replaces `table` under `dir` with `f` of its sf0.001 rows the way
    * another process would: new part files moved in behind the
    * session's back. (A Spark overwrite of the path would also refresh
    * this session's cached plans over it.) */
  private def rewrite(dir: String, table: String)(f: DataFrame => DataFrame): Unit = {
    val staged = Files.createTempDirectory("graft_memo_staged").resolve(table)
    f(spark.read.parquet(s"$Sf0001/$table.parquet")).write.parquet(staged.toString)
    val target = Paths.get(s"$dir/$table.parquet")
    if (Files.exists(target))
      Using.resource(Files.walk(target))(_.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p)))
    Files.move(staged, target)
  }

  /** (misses, hits) of `name` that `body` added. */
  private def lookups[T](name: String)(body: => T): (T, (Long, Long)) = {
    val (m, h) = (Memo.misses(name), Memo.hits(name))
    val out = body
    (out, (Memo.misses(name) - m, Memo.hits(name) - h))
  }

  test("a persisted frame is rebuilt after its input table is rewritten in place") {
    val dir = inputDir("documents")
    val name = "Corpus.decontaminateCore"
    val (first, firstLookups) = lookups(name)(Corpus.decontaminateCore(spark, dir))
    val (again, againLookups) = lookups(name)(Corpus.decontaminateCore(spark, dir))
    assert(firstLookups == (1L, 0L) && againLookups == (0L, 1L))
    assert(again eq first)
    val before = first.count()
    // persisted outside the cache: Spark matches it by root path
    def docIds = spark.read.parquet(s"$dir/documents.parquet").select("doc_id")
    docIds.persist().count()

    // keep the even documents only: fewer rows, new part files
    rewrite(dir, "documents")(_.filter(col("doc_id") % 2 === 0))
    val (fresh, freshLookups) = lookups(name)(Corpus.decontaminateCore(spark, dir))
    assert(freshLookups == (1L, 0L))
    val expected = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % Corpus.EvalMod =!= Corpus.EvalRem).count()
    assert(fresh.count() == expected && expected < before)
    assert(fresh.filter(col("doc_id") % 2 =!= 0).isEmpty)
    assert(docIds.filter(col("doc_id") % 2 =!= 0).isEmpty, "a cached plan over the dir was refreshed")
  }

  test("a changed input releases the old value before the build; clear releases every entry") {
    val dir = inputDir("region")
    val released = scala.collection.mutable.Buffer.empty[Int]
    var builds = 0
    def lookup(): Int = Memo.once[Int](spark, dir, "MemoSpec.probe", v => released += v) {
      builds += 1; builds
    }
    assert(lookup() == 1 && lookup() == 1 && released.isEmpty)
    rewrite(dir, "region")(_.limit(1))
    assert(lookup() == 2 && released == Seq(1))
    Memo.clear()
    assert(released == Seq(1, 2) && lookup() == 3)
  }

  test("a path-valued store is rewritten after its input table is rewritten in place") {
    val dir = inputDir("events")
    val name = "Scale.dayPartitionedEvents"
    val (path, firstLookups) = lookups(name)(Scale.dayPartitionedEvents(spark, dir))
    val (_, againLookups) = lookups(name)(Scale.dayPartitionedEvents(spark, dir))
    assert(firstLookups == (1L, 0L) && againLookups == (0L, 1L))
    val before = spark.read.parquet(path).count()
    assert(before == spark.read.parquet(s"$dir/events.parquet").count())

    rewrite(dir, "events")(_.filter(col("event_id") % 3 === 0))
    val (again, freshLookups) = lookups(name)(Scale.dayPartitionedEvents(spark, dir))
    assert(freshLookups == (1L, 0L))
    val after = spark.read.parquet(again).count()
    assert(after == spark.read.parquet(s"$dir/events.parquet").count() && after < before)
    assert(!Files.exists(Paths.get(path)), "the rebuild deletes the replaced store")

    // two inputs whose paths differ only in '.' against '_' each get a
    // store of their own rows
    val parent = Files.createTempDirectory("graft_memo")
    val (dotted, plain) = (parent.resolve("in.a").toString, parent.resolve("in_a").toString)
    Seq(dotted, plain).foreach(d => Files.createDirectories(Paths.get(d)))
    rewrite(dotted, "events")(identity)
    rewrite(plain, "events")(_.filter(col("event_id") % 2 === 0))
    val stores = Seq(dotted, plain).map(d => d -> Scale.dayPartitionedEvents(spark, d))
    stores.foreach { case (d, store) =>
      assert(spark.read.parquet(store).count() == spark.read.parquet(s"$d/events.parquet").count(),
        s"the store of $d holds its own input's rows")
    }

    Memo.clear()
    (again +: stores.map(_._2)).foreach { store =>
      assert(!Files.exists(Paths.get(store)), s"clear deletes $store")
    }
  }
}
