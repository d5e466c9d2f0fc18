package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.DecimalType

/**
 * Structured-Streaming faces of the engine: sources, windowed
 * transforms, and the sink patterns the reference's ingestion layer
 * implements by hand (reference: kafka_producer.py:107-280 producer
 * defaults + keyed publish, ingestion_service.py:322-337 topic routing,
 * arch doc:1247-1307 idempotent archivist writes).
 *
 * All transforms share their column expressions with the batch
 * operators (same Catalyst plans), so batch replay and live streams
 * cannot drift — the property the reference gets from replaying Kafka
 * into the same Flink job (arch doc:106,181).
 */
object Streams {

  private val DEC = DecimalType(18, 6)

  // ------------------------------------------------------------------
  // W1/A3 streaming face: watermarked sliding-window mean per type.
  // Late data beyond the watermark is dropped — the honest Spark
  // encoding of the reference's "no watermark, late = missed
  // opportunity" policy (CEP doc:207, SURVEY §2.6 T6).
  // ------------------------------------------------------------------
  def slidingWindowAvg(events: DataFrame, watermarkDelay: String = "0 seconds"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(sum(col("value").cast(DEC)).cast("double").as("sum_value"),
           count(lit(1)).as("n"))
      .select(unix_seconds(col("window.start")).as("window_start_s"),
        col("event_type"), col("sum_value"), col("n"),
        (col("sum_value") / col("n")).as("avg_value"))

  // ------------------------------------------------------------------
  // Sketch streaming face: windowed approximate-distinct users per
  // type (HLL++). The sketch state per (window, type) group is fixed
  // size regardless of cardinality — the property that makes this the
  // 100 TB streaming distinct (an exact streaming countDistinct would
  // grow state with the user universe). Merge associativity (proven in
  // SketchesSpec) is what lets micro-batches of any size fold into the
  // same value the batch query computes.
  // ------------------------------------------------------------------
  def approxDistinctByWindow(events: DataFrame,
                             watermarkDelay: String = "0 seconds"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"),
        graft.operators.Sketches.HllRsd).as("approx_users"),
        count(lit(1)).as("n_events"))
      .select(unix_seconds(col("window.start")).as("window_start_s"),
        col("event_type"), col("approx_users"), col("n_events"))

  // ------------------------------------------------------------------
  // Ingest-profile streaming face: the column-profiling pass
  // ([[graft.operators.Analytics.qProfile]]) kept continuously per
  // event type over a live feed. Every statistic is a bounded-state
  // monoid — counts, exact-decimal sum, min/max, HLL registers — so
  // state per group is O(1) regardless of how much has been ingested,
  // and the complete-mode table equals the identical aggregation run
  // in batch over everything seen so far (ReplayEquivalenceSpec).
  // Exact countDistinct is the one batch-profile stat that cannot
  // stream with bounded state; the face swaps it for HLL, the same
  // trade [[approxDistinctByWindow]] makes.
  // ------------------------------------------------------------------
  def profileByType(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("value")).as("n_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        sum(col("value").cast(DEC)).cast("double").as("sum_value"),
        approx_count_distinct(col("user_id"),
          graft.operators.Sketches.HllRsd).as("approx_users"))

  // ------------------------------------------------------------------
  // A1 streaming face: per-update word counts (Flink keyed reduce emits
  // one record per update; Spark's Update output mode is the parity —
  // SURVEY §3.2's semantic note).
  // ------------------------------------------------------------------
  def wordCounts(lines: Dataset[String]): DataFrame = {
    import lines.sparkSession.implicits._
    lines.flatMap(_.toLowerCase.split("\\s+").filter(_.nonEmpty))
      .groupBy($"value".as("word"))
      .count()
  }

  // ------------------------------------------------------------------
  // K3: idempotent append — the `INSERT ... ON CONFLICT DO NOTHING`
  // analog for object storage. With deterministic ids (T9) replays
  // become no-ops, which is the reference's entire exactly-once
  // strategy (deterministic id + unique constraint).
  //
  // Cost per batch is O(batch), whatever the store size
  // ([[IdempotentStore]], the engine's only idempotent append): one
  // recursive listing, one staged write of the deduplicated batch (2
  // Spark jobs: its dedup shuffle and the write), and a rename of the
  // staged files into the store. `partitionBy` is the store's layout:
  // none for a flat store, else its `k=v` directory columns in order;
  // an append whose layout disagrees with the store's fails. The store
  // is read only where it can conflict: an in-process manifest holds
  // each data file's key-column [lo, hi] (memory O(files)), and the
  // batch is anti-joined against just the files whose range overlaps
  // its own on every key column, in any partition — replays, late
  // duplicates, keys that are not monotonic, a key redelivered under
  // another partition value. Files the manifest has not seen (first use
  // in a JVM, another writer) cost one min/max job, once. Null keys
  // never conflict, as under a SQL unique constraint. A store file
  // that was rewritten or is corrupt fails the append loudly.
  //
  // Across processes the sink is still read-then-append: two processes
  // appending the same new key at the same moment can both append it.
  // Appends within one process are serialized per store.
  // ------------------------------------------------------------------
  def idempotentAppend(batch: DataFrame, keyCols: Seq[String], path: String,
                       partitionBy: Seq[String] = Nil): Unit =
    IdempotentStore.append(batch, keyCols, path, partitionBy)

  /** foreachBatch wiring of [[idempotentAppend]] for a streaming query. */
  def idempotentSink(stream: DataFrame, keyCols: Seq[String], path: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      idempotentAppend(batch, keyCols, path)
    }

  // ------------------------------------------------------------------
  // K4: record-type routing. The reference writes TRADE and ORDERBOOK
  // to separate topics; the storage-native encoding is one
  // partitioned write (each type lands in its own directory, readable
  // independently) — one pass, no per-type scans, and partition
  // pruning on read.
  // ------------------------------------------------------------------
  def routeByType(batch: DataFrame, typeCol: String, path: String): Unit =
    batch.write.mode("append").partitionBy(typeCol).parquet(path)

  def routedSink(stream: DataFrame, typeCol: String, path: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      routeByType(batch, typeCol, path)
    }

  // ------------------------------------------------------------------
  // S3/K2: Kafka wiring (config mapping only — no broker in this
  // environment; the option names/values mirror the reference's
  // producer profile so a cluster deployment is a connection string
  // away).
  // ------------------------------------------------------------------

  /** Source options for the four consumed topics (arch doc:737-749). */
  def kafkaSourceOptions(bootstrap: String, topics: Seq[String]): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribe" -> topics.mkString(","),
    "startingOffsets" -> "earliest",
    "failOnDataLoss" -> "false")

  /** Sink options mirroring the reference's freshness-first producer
    * (kafka_producer.py:107-113: lz4, linger 5 ms, batch 16 KB,
    * pipelining 5; acks=all for the at-least-once contract). */
  def kafkaSinkOptions(bootstrap: String, topic: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "topic" -> topic,
    "kafka.compression.type" -> "lz4",
    "kafka.linger.ms" -> "5",
    "kafka.batch.size" -> "16384",
    "kafka.max.in.flight.requests.per.connection" -> "5",
    "kafka.acks" -> "all")

  def kafkaSource(spark: SparkSession, bootstrap: String, topics: Seq[String]): DataFrame =
    spark.readStream.format("kafka")
      .options(kafkaSourceOptions(bootstrap, topics)).load()

  /** Keyed publish (key = market code column, matching the reference's
    * per-code partition affinity at kafka_producer.py:240-245). */
  def kafkaSink(stream: DataFrame, bootstrap: String, topic: String,
                keyCol: String, valueCol: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream
      .select(col(keyCol).cast("string").as("key"),
              col(valueCol).cast("string").as("value"))
      .writeStream.format("kafka")
      .options(kafkaSinkOptions(bootstrap, topic))

  // ------------------------------------------------------------------
  // K2 value format: protobuf. The reference's whole wire format is
  // proto3 (proto/market_data.proto, protobuf_mapper.py:105-197); the
  // Kafka writer takes binary values natively, so the serializer is a
  // typed map through the wire codec — key = market code (partition
  // affinity), value = canonical proto3 bytes.
  // ------------------------------------------------------------------

  /** (key = code, value = proto3-encoded Trade) records. */
  def tradeProtoRecords(trades: Dataset[graft.core.Model.Trade]): DataFrame = {
    import trades.sparkSession.implicits._
    trades.map(t => (t.code, graft.core.ProtoCodec.encodeTrade(t))).toDF("key", "value")
  }

  /** (key = code, value = proto3-encoded OrderBookUpdate) records. */
  def orderBookProtoRecords(books: Dataset[graft.core.Model.OrderBookUpdate]): DataFrame = {
    import books.sparkSession.implicits._
    books.map(o => (o.code, graft.core.ProtoCodec.encodeOrderBook(o))).toDF("key", "value")
  }

  /** Kafka sink with the protobuf value serializer wired in. */
  def kafkaSinkProto(trades: Dataset[graft.core.Model.Trade], bootstrap: String,
                     topic: String): DataStreamWriter[org.apache.spark.sql.Row] =
    tradeProtoRecords(trades)
      .writeStream.format("kafka")
      .options(kafkaSinkOptions(bootstrap, topic))

  /** Source-side decode: Kafka records (binary `value`) → typed
    * trades. The wire parser tolerates any field order and unknown
    * fields, so payloads from the reference's Python producer decode
    * unchanged. */
  def tradesFromProtoRecords(records: DataFrame): Dataset[graft.core.Model.Trade] = {
    import records.sparkSession.implicits._
    records.select(col("value")).as[Array[Byte]]
      .map(graft.core.ProtoCodec.decodeTrade)
  }

  /** Source-side decode for orderbook topics. */
  def orderBooksFromProtoRecords(records: DataFrame): Dataset[graft.core.Model.OrderBookUpdate] = {
    import records.sparkSession.implicits._
    records.select(col("value")).as[Array[Byte]]
      .map(graft.core.ProtoCodec.decodeOrderBook)
  }
}
