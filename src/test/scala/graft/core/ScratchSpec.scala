package graft.core

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.SparkSpec.Sf0001
import graft.operators.{Dedup, Multimodal}
import graft.sources.Tables

/** A frame a query persists for its own use is freed by the query-exit
  * [[Scratch.release]]: after it, the session's cache holds no entry
  * for the plan. */
class ScratchSpec extends SparkSpec {

  private def cached(df: DataFrame): Boolean =
    spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).nonEmpty

  test("the frames the near-duplicate queries persist are released at query exit") {
    val docs = Tables.documentsSharded(spark, Sf0001)
    val payload = Multimodal.payloadTable(spark, Sf0001)
    val persisted: Seq[(String, () => DataFrame, DataFrame)] = Seq(
      ("q_lsh_audit", () => Dedup.qLshAudit(spark, Sf0001), Dedup.signatureFrame(docs)),
      ("q_incremental_dedup", () => Dedup.qIncrementalDedup(spark, Sf0001),
        Dedup.signatureFrame(docs.select("doc_id", "text"))),
      ("q_image_neardup_pairs", () => Multimodal.qImageNeardupPairs(spark, Sf0001),
        Multimodal.phashFrame(payload)),
      ("q_incremental_phash", () => Multimodal.qIncrementalPhash(spark, Sf0001),
        Multimodal.phashFrame(payload)),
      ("q_audio_neardup", () => Multimodal.qAudioNeardup(spark, Sf0001),
        Multimodal.audioFrame(payload)))
    persisted.foreach { case (query, run, frame) =>
      // an entry another suite's store made first is not the query's
      // to release (the next test); start from an uncached plan
      frame.unpersist(blocking = true)
      run().collect()
      assert(cached(frame), s"$query reads its frame from the cache")
      Scratch.release()
      assert(!cached(frame), s"$query left its frame cached after Scratch.release()")
    }
  }

  test("a frame a store cached first stays cached after a query that reads it is released") {
    val phashes = Multimodal.phashFrame(Multimodal.payloadTable(spark, Sf0001))
    val owned = phashes.persist()
    owned.count()
    try {
      Multimodal.qImageNeardupPairs(spark, Sf0001).collect()
      Scratch.release()
      assert(cached(phashes), "release dropped a cache entry that the query did not create")
    } finally owned.unpersist()
  }
}
