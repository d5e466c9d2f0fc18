package graft.tools

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.SparkSpec.Sf0001
import graft.core.Memo
import graft.operators.{Clustering, Corpus, Graph, Scale}

/** Concurrency contract of the session-scoped memoized stores
  * ([[graft.core.Memo.once]]) and of the query surface itself: a
  * FAIR-scheduled shared session must serve concurrent readers from
  * ONE store build (no racing duplicate builds stranding persisted
  * frames, no corrupted store directories) and concurrent gate
  * execution must equal serial execution row-for-row. */
class ConcurrencySpec extends SparkSpec {

  private def inParallel[T](n: Int)(work: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    val barrier = new CyclicBarrier(n)
    try {
      val futs = (0 until n).map { i =>
        pool.submit(new Callable[T] {
          override def call(): T = { barrier.await(); work(i) }
        })
      }
      futs.map(_.get(600, TimeUnit.SECONDS))
    } finally pool.shutdown()
  }

  test("memoized stores: concurrent first readers share exactly one build") {
    // pairs store stays warm so the races below isolate each target memo
    graft.operators.Dedup.minhashLshPairsCore(spark, Sf0001).count()

    Memo.clear()
    val labelFrames = inParallel(8)(_ => Clustering.dupLabels(spark, Sf0001))
    assert(labelFrames.map(System.identityHashCode).distinct.size == 1,
      "every concurrent reader must be handed the same memoized label frame")
    assert(labelFrames.head.count() > 0)

    Memo.clear()
    val contamFrames = inParallel(8)(_ => Corpus.decontaminateCore(spark, Sf0001))
    assert(contamFrames.map(System.identityHashCode).distinct.size == 1)

    Memo.clear()
    val stores = inParallel(8)(_ => Graph.transactionEdgeStore(spark, Sf0001))
    assert(stores.map(System.identityHashCode).distinct.size == 1,
      "the edge store must build once under a concurrent first read")

    Memo.clear()
    val dayStore = "Scale.dayPartitionedEvents"
    val missesBefore = Memo.misses(dayStore)
    val paths = inParallel(8)(_ => Scale.dayPartitionedEvents(spark, Sf0001))
    assert(paths.distinct.size == 1 && Memo.misses(dayStore) - missesBefore == 1,
      "the day store directory must be written once under a concurrent first read")
  }

  test("concurrent gates on one session equal their serial results") {
    val names = Seq("q_kpi_rollup", "q_benford", "q_dup_clusters", "q_quantiles")
    val fns = names.map(graft.SparkEntry.queries(_))
    def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString)
    val serial = fns.map(fn => rows(fn(spark, Sf0001)))
    val concurrent = inParallel(names.size) { i =>
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"pool_$i")
      rows(fns(i)(spark, Sf0001))
    }
    names.indices.foreach { i =>
      assert(concurrent(i) == serial(i),
        s"${names(i)} must serve identical rows under concurrency")
    }
  }

  test("OCC commit: two racing committers both land, the table equals sequential application") {
    import spark.implicits._
    import graft.operators.Scale
    val base = java.nio.file.Files.createTempDirectory("occ_store").toString + "/t"
    def rows(lo: Long, hi: Long) = (lo until hi).map(i => (i, i * 7L)).toDF("id", "v")
    assert(Scale.commitOcc(spark, base, rows(0L, 10L), "gen_init") == 1)
    // barrier-released race: each committer stages its own generation,
    // then fights for the claim; the loser must rebase and land too
    val landed = inParallel(2) { i =>
      i -> Scale.commitOcc(spark, base,
        rows(100L * (i + 1), 100L * (i + 1) + 5), s"gen_race_$i")
    }.toMap
    assert(landed.values.toSet == Set(2, 3),
      s"both commits must land as consecutive versions: $landed")
    def ids(v: Int) = Scale.readAsOf(spark, base, v)
      .select($"id").collect().map(_.getLong(0)).toSet
    // v3 = base + BOTH committers' rows, regardless of claim order
    assert(ids(3) == (0L until 10L).toSet ++ Set(100L, 101L, 102L, 103L, 104L)
      ++ Set(200L, 201L, 202L, 203L, 204L))
    // v2 = base + exactly the claim winner's rows
    val winner = landed.collectFirst { case (i, 2) => i }.get
    assert(ids(2) == (0L until 10L).toSet ++
      (100L * (winner + 1) until 100L * (winner + 1) + 5).toSet)
    // snapshots still time-travel: v1 is the pre-race table
    assert(ids(1) == (0L until 10L).toSet)
  }
}
