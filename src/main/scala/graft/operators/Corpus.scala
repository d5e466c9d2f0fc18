package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Memo
import graft.functions.Hashing
import graft.sources.Tables

/**
 * Corpus-preparation operators for a training-data pipeline: document
 * chunking, repetition-quality metrics, cross-document segment-level
 * dedup, and PII-style pattern redaction (driver-mandated extension
 * surface; sits beside [[TextOps]] / [[Dedup]]).
 *
 * All per-document work is Catalyst expression trees (codegen'd, no
 * UDFs); the only shuffles are the explicit keyed aggregations —
 * per-doc metrics shuffle slim (doc_id, partial) rows with map-side
 * combine, and segment dedup shuffles (hash, doc, idx) triples keyed
 * by the 60-bit segment hash, which is exactly the shape that scales:
 * the keyspace grows with the corpus, so no bucket degenerates.
 */
object Corpus {
  import Relational.ColInterp

  private val DEC = DecimalType(18, 6)
  private def r6(c: Column): Column = c.cast(DecimalType(28, 12)).cast(DEC).cast("double")
  private val rSql = (e: String) => s"CAST(round(CAST(($e) AS DECIMAL(28,12)), 6) AS DOUBLE)"

  private def toks: Column = Hashing.tokens($"text")

  // ------------------------------------------------------------------
  // Document chunking: fixed token windows with overlap (the standard
  // context-window pre-slicing step). Chunk starts are 1, 1+stride,
  // 1+2·stride, … ≤ n_tokens; each chunk is `ChunkSize` tokens (the
  // final chunks may be shorter). One scan, explode multiplies rows by
  // ~n/stride — the shuffle-free shape that survives any corpus size.
  // ------------------------------------------------------------------
  val ChunkSize = 16
  val ChunkStride = 12

  def qChunkDocs(spark: SparkSession, dir: String): DataFrame = {
    val chunk = slice($"t", $"start", lit(ChunkSize))
    Tables.documentsSharded(spark, dir)
      .select($"doc_id", toks.as("t"))
      .select($"doc_id", $"t",
        explode(sequence(lit(1), greatest(size($"t"), lit(1)), lit(ChunkStride)))
          .as("start"))
      .select(
        $"doc_id",
        // starts are ≡ 1 (mod stride), so this double division is exact
        (($"start" - 1) / ChunkStride).cast("long").as("chunk_idx"),
        $"start".cast("long").as("start_tok"),
        size(chunk).cast("long").as("n_chunk_tokens"),
        sha2(array_join(chunk, " "), 256).as("chunk_hash"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  val sqlChunkDocs: String = {
    val t = Hashing.sqlTokens("text")
    val chunk = s"list_slice(t, s, s + ${ChunkSize - 1})"
    s"""WITH tok AS (SELECT doc_id, $t AS t FROM documents),
       |starts AS (
       |  SELECT doc_id, t, unnest(range(1, greatest(len(t), 1) + 1, $ChunkStride)) AS s
       |  FROM tok)
       |SELECT doc_id,
       |  ((s - 1) // $ChunkStride)::BIGINT AS chunk_idx,
       |  s::BIGINT AS start_tok,
       |  len($chunk)::BIGINT AS n_chunk_tokens,
       |  sha256(coalesce(list_aggregate($chunk, 'string_agg', ' '), '')) AS chunk_hash
       |FROM starts ORDER BY doc_id, chunk_idx""".stripMargin
  }

  // ------------------------------------------------------------------
  // Chunk-level quality localization: score every X20 context window
  // with the integer TTR quality (1000·distinct ÷ length, the
  // [[Sampling.qBudgetSelect]] score) and roll up per document — where
  // doc-level scores average the junk away, the min-chunk score and
  // the bad-chunk fraction localize it (the line/passage-level filter
  // stance of RefinedWeb/CCNet). Scale shape: the ideal one — chunk
  // scores are computed INSIDE the row (transform over the starts
  // array; no explode, no shuffle), so the whole operator is one scan
  // of per-row expression work. The per-chunk integer division uses
  // the pmod identity (a − a mod n is an exact multiple, its double
  // quotient exact), mirrored by DuckDB's integer `//`.
  // ------------------------------------------------------------------
  val ChunkQualityThreshold = 700L

  def qChunkQuality(spark: SparkSession, dir: String): DataFrame = {
    val qs = transform(
      sequence(lit(1), greatest(size($"t"), lit(1)), lit(ChunkStride)),
      s => {
        val c = slice($"t", s, lit(ChunkSize))
        val num = lit(1000L) * size(array_distinct(c)).cast("long")
        ((num - pmod(num, size(c))) / size(c)).cast("long")
      })
    Tables.documentsSharded(spark, dir)
      .select($"doc_id", toks.as("t"))
      .select($"doc_id", qs.as("qs"))
      .select($"doc_id",
        size($"qs").cast("long").as("n_chunks"),
        array_min($"qs").cast("long").as("min_chunk_q"),
        size(filter($"qs", q => q < ChunkQualityThreshold)).cast("long")
          .as("n_bad_chunks"))
      .withColumn("bad_chunk_frac",
        $"n_bad_chunks".cast("double") / $"n_chunks".cast("double"))
      .orderBy($"doc_id")
  }

  val sqlChunkQuality: String = {
    val t = Hashing.sqlTokens("text")
    val c = s"list_slice(t, s, s + ${ChunkSize - 1})"
    s"""WITH tok AS (SELECT doc_id, $t AS t FROM documents),
       |q AS (
       |  SELECT doc_id,
       |    list_transform(range(1, greatest(len(t), 1) + 1, $ChunkStride),
       |      s -> (1000 * len(list_distinct($c))) // len($c)) AS qs
       |  FROM tok)
       |SELECT doc_id, len(qs)::BIGINT AS n_chunks,
       |  list_min(qs)::BIGINT AS min_chunk_q,
       |  len(list_filter(qs, x -> x < $ChunkQualityThreshold))::BIGINT
       |    AS n_bad_chunks,
       |  len(list_filter(qs, x -> x < $ChunkQualityThreshold))::DOUBLE /
       |    len(qs)::DOUBLE AS bad_chunk_frac
       |FROM q ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Repetition quality metrics (Gopher-style corpus filters): fraction
  // of tokens that are repeats of an earlier token, and the share of
  // all 2-grams taken by the single most frequent 2-gram. Both
  // branches aggregate exploded rows with map-side combine, then the
  // two per-doc frames join on doc_id.
  // ------------------------------------------------------------------
  def qRepetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSharded(spark, dir)
    val words = docs.select($"doc_id", explode(toks).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id").agg(
        sum($"cnt").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_distinct"),
        max($"cnt").cast("long").as("top_word_cnt"))
    val bigrams = docs
      .select($"doc_id", explode(Hashing.wordShingles(toks, 2)).as("g"))
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id").agg(
        sum($"cnt").cast("long").as("n_2grams"),
        max($"cnt").cast("long").as("top_2gram_cnt"))
    words.join(bigrams, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens", $"n_distinct", $"top_word_cnt",
        r6(($"n_tokens" - $"n_distinct").cast("double") /
          nullif($"n_tokens", lit(0L))).as("dup_word_frac"),
        coalesce($"n_2grams", lit(0L)).as("n_2grams"),
        coalesce($"top_2gram_cnt", lit(0L)).as("top_2gram_cnt"),
        r6($"top_2gram_cnt".cast("double") / nullif($"n_2grams", lit(0L)))
          .as("top_2gram_frac"))
      .orderBy($"doc_id")
  }

  val sqlRepetition: String = {
    val t = Hashing.sqlTokens("text")
    val sh2 = Hashing.sqlShingles(t, 2)
    s"""WITH words AS (
       |  SELECT doc_id, sum(cnt)::BIGINT AS n_tokens, count(*)::BIGINT AS n_distinct,
       |    max(cnt)::BIGINT AS top_word_cnt
       |  FROM (SELECT doc_id, w, count(*) AS cnt
       |        FROM (SELECT doc_id, unnest($t) AS w FROM documents) GROUP BY 1, 2)
       |  GROUP BY 1),
       |bigrams AS (
       |  SELECT doc_id, sum(cnt)::BIGINT AS n_2grams, max(cnt)::BIGINT AS top_2gram_cnt
       |  FROM (SELECT doc_id, g, count(*) AS cnt
       |        FROM (SELECT doc_id, unnest($sh2) AS g FROM documents) GROUP BY 1, 2)
       |  GROUP BY 1)
       |SELECT doc_id, n_tokens, n_distinct, top_word_cnt,
       |  ${rSql("(n_tokens - n_distinct)::DOUBLE / NULLIF(n_tokens, 0)")} AS dup_word_frac,
       |  coalesce(n_2grams, 0)::BIGINT AS n_2grams,
       |  coalesce(top_2gram_cnt, 0)::BIGINT AS top_2gram_cnt,
       |  ${rSql("top_2gram_cnt::DOUBLE / NULLIF(n_2grams, 0)")} AS top_2gram_frac
       |FROM words LEFT JOIN bigrams USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Segment-level exact dedup: split every document into fixed
  // non-overlapping token segments, 60-bit-hash each, and mark the
  // segments whose hash occurs more than once in the whole corpus
  // (cross- OR intra-document boilerplate). The shuffle key is the
  // segment hash — keyspace grows with the corpus — and it carries
  // (hash, doc_id) pairs only, never segment text.
  // ------------------------------------------------------------------
  val SegLen = 8

  def qSegmentDedup(spark: SparkSession, dir: String): DataFrame = {
    val segs = Tables.documentsSharded(spark, dir)
      .select($"doc_id", toks.as("t"))
      .select($"doc_id",
        explode(sequence(lit(1), greatest(size($"t"), lit(1)), lit(SegLen))).as("s"),
        $"t")
      .select($"doc_id",
        Hashing.h60(array_join(slice($"t", $"s", lit(SegLen)), " ")).as("h"))
    segs
      .withColumn("occ", count(lit(1)).over(Window.partitionBy($"h")))
      .groupBy($"doc_id").agg(
        count(lit(1)).cast("long").as("n_segments"),
        sum(when($"occ" > 1, 1L).otherwise(0L)).cast("long").as("n_dup_segments"))
      .withColumn("dup_seg_frac",
        r6($"n_dup_segments".cast("double") / nullif($"n_segments", lit(0L))))
      .orderBy($"doc_id")
  }

  val sqlSegmentDedup: String = {
    val t = Hashing.sqlTokens("text")
    val seg = s"list_aggregate(list_slice(t, s, s + ${SegLen - 1}), 'string_agg', ' ')"
    s"""WITH tok AS (SELECT doc_id, $t AS t FROM documents),
       |segs AS (
       |  SELECT doc_id, ${Hashing.sqlH60(seg)} AS h
       |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1) + 1, $SegLen)) AS s
       |        FROM tok)),
       |occ AS (SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS occ FROM segs)
       |SELECT doc_id, count(*)::BIGINT AS n_segments,
       |  sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_segments,
       |  ${rSql("sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END)::DOUBLE / NULLIF(count(*), 0)")} AS dup_seg_frac
       |FROM occ GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // C4-style corpus rewrite (Raffel et al. 2020 line-level dedup,
  // lee et al. keep-one-occurrence): every fixed token segment keeps
  // exactly ONE occurrence corpus-wide — the globally first by
  // (doc_id, position) — and each document is REBUILT from its kept
  // segments, with retention accounting. This is the step that turns
  // the X22 dup-report into an actual cleaned corpus.
  //
  // Scale shape: the winner election shuffles only slim
  // (h, doc_id, s) triples keyed by the 60-bit segment hash (keyspace
  // grows with the corpus); document text crosses the wire once, in
  // the doc_id-keyed rebuild join. No all-pairs face anywhere.
  // ------------------------------------------------------------------
  def qCorpusRewrite(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSharded(spark, dir).select($"doc_id", toks.as("t"))
    // slim election: no segment text, just (doc_id, s, h)
    val segs = docs
      .select($"doc_id",
        explode(sequence(lit(1), greatest(size($"t"), lit(1)), lit(SegLen))).as("s"),
        $"t")
      .select($"doc_id", $"s",
        Hashing.h60(array_join(slice($"t", $"s", lit(SegLen)), " ")).as("h"))
    val elected = segs.withColumn("rk",
      row_number().over(Window.partitionBy($"h").orderBy($"doc_id", $"s")))
    // rebuild: text rides the doc_id-keyed join exactly once;
    // collect_list skips the NULL structs of dropped segments, and
    // sort_array restores position order before the join to text
    val kept = when($"rk" === 1,
      struct($"s", array_join(slice($"t", $"s", lit(SegLen)), " ").as("seg")))
    elected.join(docs, "doc_id")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_segments"),
        sum(when($"rk" === 1, 1L).otherwise(0L)).cast("long").as("n_kept"),
        array_join(transform(sort_array(collect_list(kept)), x => x("seg")), " ")
          .as("cleaned_text"))
      .withColumn("kept_frac",
        r6($"n_kept".cast("double") / nullif($"n_segments", lit(0L))))
      .orderBy($"doc_id")
  }

  val sqlCorpusRewrite: String = {
    val t = Hashing.sqlTokens("text")
    // DuckDB list_aggregate over an EMPTY list is NULL (an empty doc's
    // one segment) while Spark's array_join yields '' — coalesce so
    // both engines hash and emit the empty string
    val seg =
      s"coalesce(list_aggregate(list_slice(t, s, s + ${SegLen - 1}), 'string_agg', ' '), '')"
    s"""WITH tok AS (SELECT doc_id, $t AS t FROM documents),
       |segs AS (
       |  SELECT doc_id, s, $seg AS seg, ${Hashing.sqlH60(seg)} AS h
       |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1) + 1, $SegLen)) AS s
       |        FROM tok)),
       |elected AS (
       |  SELECT doc_id, s, seg,
       |    row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rk
       |  FROM segs)
       |SELECT doc_id, count(*)::BIGINT AS n_segments,
       |  sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  coalesce(string_agg(CASE WHEN rk = 1 THEN seg END, ' ' ORDER BY s), '')
       |    AS cleaned_text,
       |  ${rSql("sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END)::DOUBLE / NULLIF(count(*), 0)")}
       |    AS kept_frac
       |FROM elected GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Intra-document segment dedup: remove repeated token segments
  // WITHIN each document, keeping the first occurrence in document
  // order — the cleanup for pages that repeat their own content
  // (scraper loops, pagination echoes, chorus/refrain text). Distinct
  // from [[qSegmentDedup]] (cross-doc report) and [[qCorpusRewrite]]
  // (corpus-wide keep-first): this guard never looks outside the row.
  // Scale shape: the ideal one — pure per-row expression work
  // (array_distinct preserves first-occurrence order), no shuffle at
  // all beyond the presentation sort; at 100 TB this fuses into
  // whatever scan already reads the text.
  // ------------------------------------------------------------------
  def qIntraDocDedup(spark: SparkSession, dir: String): DataFrame = {
    val segs = transform(
      sequence(lit(1), greatest(size($"t"), lit(1)), lit(SegLen)),
      s => array_join(slice($"t", s, lit(SegLen)), " "))
    Tables.documentsSharded(spark, dir)
      .select($"doc_id", toks.as("t"))
      .select($"doc_id", segs.as("segs"))
      .select($"doc_id", size($"segs").cast("long").as("n_segments"),
        array_distinct($"segs").as("kept"))
      .select($"doc_id", $"n_segments",
        size($"kept").cast("long").as("n_kept"),
        array_join($"kept", " ").as("clean_text"))
      .orderBy($"doc_id")
  }

  val sqlIntraDocDedup: String = {
    val t = Hashing.sqlTokens("text")
    val seg = s"list_aggregate(list_slice(t, s, s + ${SegLen - 1}), 'string_agg', ' ')"
    s"""WITH tok AS (SELECT doc_id, $t AS t FROM documents),
       |segd AS (
       |  SELECT doc_id,
       |    list_transform(range(1, greatest(len(t), 1) + 1, $SegLen),
       |      s -> $seg) AS segs
       |  FROM tok),
       |k AS (
       |  SELECT doc_id, segs,
       |    list_filter(segs, (x, i) -> list_position(segs, x) = i) AS kept
       |  FROM segd)
       |SELECT doc_id, len(segs)::BIGINT AS n_segments,
       |  len(kept)::BIGINT AS n_kept,
       |  list_aggregate(kept, 'string_agg', ' ') AS clean_text
       |FROM k ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Boilerplate prefix strip: per SOURCE, find the modal leading
  // token-prefix (the shared header a scraper leaves on every page of
  // a site) and strip it from the documents that carry it — the
  // WET/boilerplate-removal step of a crawl pipeline. A prefix only
  // counts as boilerplate when it repeats (modal count ≥ 2): a clean
  // source flags nothing. Election is a slim (source, prefix-hash)
  // aggregate + per-source top-1; the tiny winner table broadcasts
  // back onto the scan, so stripping is pure per-row codegen work.
  // ------------------------------------------------------------------
  val BoilerPrefixLen = 4

  def qBoilerplateStrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSharded(spark, dir)
      .select($"doc_id", $"source", toks.as("t"))
      .withColumn("ph",
        Hashing.h60(array_join(slice($"t", 1, BoilerPrefixLen), " ")))
    val mode = docs.groupBy($"source", $"ph")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"source").orderBy($"cnt".desc, $"ph")))
      .filter($"rk" === 1 && $"cnt" >= 2)
      .select($"source", $"ph".as("mode_ph"))
    val isBoiler = coalesce($"ph" === $"mode_ph", lit(false))
    docs.join(broadcast(mode), Seq("source"), "left")
      .select($"doc_id", $"source",
        isBoiler.cast("long").as("is_boiler"),
        when(isBoiler,
          array_join(slice($"t", lit(BoilerPrefixLen + 1),
            greatest(size($"t") - BoilerPrefixLen, lit(0))), " "))
          .otherwise(array_join($"t", " ")).as("clean_text"))
      .orderBy($"doc_id")
  }

  val sqlBoilerplateStrip: String = {
    val t = Hashing.sqlTokens("text")
    val pre =
      s"coalesce(list_aggregate(list_slice(t, 1, $BoilerPrefixLen), 'string_agg', ' '), '')"
    s"""WITH tok AS (SELECT doc_id, source, $t AS t FROM documents),
       |d AS (SELECT doc_id, source, t, ${Hashing.sqlH60(pre)} AS ph FROM tok),
       |m AS (SELECT source, ph AS mode_ph FROM (
       |  SELECT source, ph, count(*) AS cnt,
       |    row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, ph) AS rk
       |  FROM d GROUP BY source, ph) WHERE rk = 1 AND cnt >= 2)
       |SELECT doc_id, source,
       |  (CASE WHEN coalesce(ph = mode_ph, false) THEN 1 ELSE 0 END)::BIGINT
       |    AS is_boiler,
       |  CASE WHEN coalesce(ph = mode_ph, false)
       |    THEN coalesce(list_aggregate(
       |      list_slice(t, ${BoilerPrefixLen + 1}, len(t)), 'string_agg', ' '), '')
       |    ELSE coalesce(list_aggregate(t, 'string_agg', ' '), '') END AS clean_text
       |FROM d LEFT JOIN m USING (source) ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // PII-style pattern redaction: scan a string column for emails,
  // IPv4 addresses, and long numeric identifiers; count matches and
  // emit the redacted string with typed placeholders. Pure per-row
  // regex work inside codegen — the 100 TB cost is the scan itself.
  // Patterns are RE2-safe (no backreferences/lookaround) so the same
  // literal pattern runs in both engines. Applied to customer
  // profiles, whose Customer#NNNNNNNNN names carry real long-id runs.
  // ------------------------------------------------------------------
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val LongIdRe = "\\d{6,}"

  def redactPii(s: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(s, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      LongIdRe, "<ID>")

  def qPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val profile = concat_ws(" ", $"c_name", $"c_mktsegment")
    Tables.customer(spark, dir)
      .select($"c_custkey", profile.as("profile"))
      .select(
        $"c_custkey",
        size(regexp_extract_all($"profile", lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all($"profile", lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
        size(regexp_extract_all($"profile", lit(LongIdRe), lit(0))).cast("long").as("n_ids"),
        redactPii($"profile").as("redacted"))
      .orderBy($"c_custkey")
  }

  val sqlPiiRedact: String =
    s"""SELECT c_custkey,
       |  len(regexp_extract_all(profile, '$EmailRe'))::BIGINT AS n_emails,
       |  len(regexp_extract_all(profile, '$Ipv4Re'))::BIGINT AS n_ips,
       |  len(regexp_extract_all(profile, '$LongIdRe'))::BIGINT AS n_ids,
       |  regexp_replace(regexp_replace(regexp_replace(profile,
       |    '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'),
       |    '$LongIdRe', '<ID>', 'g') AS redacted
       |FROM (SELECT c_custkey, concat_ws(' ', c_name, c_mktsegment) AS profile FROM customer)
       |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------------
  // Checksum-validated PII candidates (Luhn 1960, US patent 2 950 048 —
  // the mod-10 check every payment-card number satisfies; the device
  // public PII scanners use to separate card-shaped digit runs from
  // random long ids, cutting the false-positive flood a bare \d{12,}
  // redactor produces). Every ≥6-digit run from the profile scan is
  // scored: from the rightmost digit, double every second digit, fold
  // the digit sums, valid iff total ≡ 0 (mod 10). Pure integer
  // per-row fold — no float, no shuffle beyond the presentation sort;
  // at 100 TB this rides the same single scan as the redaction pass.
  // ------------------------------------------------------------------
  def luhnSum(run: Column): Column = {
    val len = length(run)
    aggregate(
      transform(sequence(lit(1), len), p => {
        val d = run.substr(len - p + 1, lit(1)).cast("int")
        val x = when(pmod(p, lit(2)) === 0, d * 2).otherwise(d)
        when(x > 9, x - 9).otherwise(x)
      }),
      lit(0), (a, b) => a + b)
  }

  def qPiiLuhn(spark: SparkSession, dir: String): DataFrame = {
    val profile = concat_ws(" ", $"c_name", $"c_mktsegment")
    Tables.customer(spark, dir)
      .select($"c_custkey", profile.as("profile"))
      .select($"c_custkey",
        posexplode(regexp_extract_all($"profile", lit(LongIdRe), lit(0)))
          .as(Seq("run_idx", "run")))
      .select($"c_custkey", $"run_idx".cast("long").as("run_idx"),
        length($"run").cast("long").as("n_digits"),
        luhnSum($"run").cast("long").as("luhn_sum"))
      .withColumn("luhn_ok", pmod($"luhn_sum", lit(10L)) === 0L)
      .orderBy($"c_custkey", $"run_idx")
  }

  val sqlPiiLuhn: String =
    s"""WITH runs AS (
       |  SELECT c_custkey,
       |    regexp_extract_all(concat_ws(' ', c_name, c_mktsegment), '$LongIdRe') AS rs
       |  FROM customer),
       |x AS (
       |  SELECT c_custkey, (e).i - 1 AS run_idx, (e).run AS run
       |  FROM (SELECT c_custkey,
       |      unnest(list_transform(range(1, len(rs) + 1),
       |        i -> {'i': i, 'run': rs[i]})) AS e
       |    FROM runs)),
       |s AS (
       |  SELECT c_custkey, run_idx::BIGINT AS run_idx,
       |    len(run)::BIGINT AS n_digits,
       |    list_reduce([0] || list_transform(range(1, len(run) + 1),
       |      p -> CASE WHEN (CASE WHEN p % 2 = 0
       |            THEN 2 * CAST(substr(run, len(run) - p + 1, 1) AS INTEGER)
       |            ELSE CAST(substr(run, len(run) - p + 1, 1) AS INTEGER) END) > 9
       |        THEN (CASE WHEN p % 2 = 0
       |            THEN 2 * CAST(substr(run, len(run) - p + 1, 1) AS INTEGER)
       |            ELSE CAST(substr(run, len(run) - p + 1, 1) AS INTEGER) END) - 9
       |        ELSE (CASE WHEN p % 2 = 0
       |            THEN 2 * CAST(substr(run, len(run) - p + 1, 1) AS INTEGER)
       |            ELSE CAST(substr(run, len(run) - p + 1, 1) AS INTEGER) END) END),
       |      (a, b) -> a + b)::BIGINT AS luhn_sum
       |  FROM x)
       |SELECT c_custkey, run_idx, n_digits, luhn_sum,
       |  luhn_sum % 10 = 0 AS luhn_ok
       |FROM s ORDER BY c_custkey, run_idx""".stripMargin

  // ------------------------------------------------------------------
  // Benchmark decontamination: per corpus document, the fraction of its
  // distinct shingles that appear anywhere in a held-out eval set
  // (stand-in: doc_id ≡ EvalRem (mod EvalMod)). The eval index is tiny
  // relative to the corpus (benchmarks are KBs against 100 TB), so the
  // probe is a broadcast join — the corpus side never shuffles text,
  // only (doc_id, h60) pairs feed the map-side-combined count. This is
  // the standard pre-training decontamination pass (n-gram overlap vs
  // eval suites, as in GPT-3/Gopher appendices).
  // ------------------------------------------------------------------
  val EvalMod = 20L
  val EvalRem = 7L
  val ContamThreshold = 0.3

  /** Ordered shingle store: one row per corpus document carrying its
    * FULL ordered (duplicates kept) shingle-string array, computed
    * once per session, persisted and shared. The tokenize+shingle
    * scan is the dominant cost of every contamination face, and
    * round 5 paid it twice — [[qContamSpans]] re-derived what
    * [[decontaminateCore]] had already scanned. Both now read this
    * store: the distinct-set math of decontamination is an
    * `array_distinct` projection, the positional probe a
    * `posexplode`. Cached by [[graft.core.Memo]], like the
    * contamination frame below. */
  def shingleStore(spark: SparkSession, dir: String): DataFrame =
    Memo.once(spark, dir, "Corpus.shingleStore", (_: DataFrame).unpersist())({
      val store = Tables.documentsSharded(spark, dir)
        .select($"doc_id",
          Hashing.wordShingles(Hashing.tokens($"text"), Dedup.ShingleN).as("sh"))
        .persist()
      store.count() // eager, so every consumer reads the materialized store
      store
    })

  /** Releases every cached store; perfbench/src/graftbench/Main.scala
    * calls it. */
  def invalidateContamCache(): Unit = Memo.clear()

  // The Spark side joins on the raw shingle STRINGS from the shared
  // store — the output exposes only counts/ratios, so no h60 is ever
  // needed here (the oracle's list_transform to h60 is
  // length-preserving, so distinct/intersect counts agree; sha256 per
  // distinct shingle is paid by neither engine's Spark twin anymore).
  /** Per-document contamination frame (unordered), computed once per
    * input and cached — the sha-heavy shingle pass is shared by
    * the decontamination gate query and [[qCorpusVerdict]], the same
    * warm-materialized-store stance as [[Clustering.dupLabels]]. */
  def decontaminateCore(spark: SparkSession, dir: String): DataFrame =
    Memo.once(spark, dir, "Corpus.decontaminateCore", (_: DataFrame).unpersist())({
      val docs = shingleStore(spark, dir)
        .select($"doc_id", array_distinct($"sh").as("sh"))
      val evalIndex = docs.filter($"doc_id" % EvalMod === EvalRem)
        .select(explode($"sh").as("s")).distinct()
        .withColumn("hit", lit(1L))
      val ratio = coalesce(
        r6($"n_contaminated" / nullif($"n_shingles".cast("double"), lit(0.0))),
        lit(0.0))
      val core = docs.filter($"doc_id" % EvalMod =!= EvalRem)
        .select($"doc_id", size($"sh").cast("long").as("n_shingles"),
          explode_outer($"sh").as("s"))
        .join(broadcast(evalIndex), Seq("s"), "left")
        .groupBy($"doc_id", $"n_shingles")
        .agg(sum(coalesce($"hit", lit(0L))).as("n_contaminated"))
        .select($"doc_id", $"n_shingles", $"n_contaminated",
          ratio.as("contam_ratio"),
          (ratio >= ContamThreshold).as("is_contaminated"))
        .persist()
      core.count() // eager, so every consumer reads the materialized store
      core
    })

  def qDecontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateCore(spark, dir).orderBy($"doc_id")

  val sqlDecontaminate: String = {
    val strs = s"list_distinct(${Hashing.sqlShingles(Hashing.sqlTokens("text"), Dedup.ShingleN)})"
    val sh = s"list_transform($strs, sv -> ${Hashing.sqlH60("sv")})"
    val ratio = "coalesce(" +
      rSql("len(list_intersect(d.sh, evl.hs)) / nullif(len(d.sh), 0)::DOUBLE") +
      ", 0.0)"
    s"""WITH d AS (SELECT doc_id, $sh AS sh FROM documents),
       |evl AS (SELECT coalesce(list(h), []) AS hs FROM (
       |  SELECT DISTINCT unnest(sh) AS h FROM d WHERE doc_id % $EvalMod = $EvalRem))
       |SELECT d.doc_id, len(d.sh)::BIGINT AS n_shingles,
       |  len(list_intersect(d.sh, evl.hs))::BIGINT AS n_contaminated,
       |  $ratio AS contam_ratio,
       |  $ratio >= $ContamThreshold AS is_contaminated
       |FROM d, evl WHERE d.doc_id % $EvalMod != $EvalRem
       |ORDER BY d.doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Per-source corpus health: the report a multi-source pipeline
  // publishes per ingest batch — for every `source`, document and
  // token mass, exact-duplicate rate (non-canonical copies by content
  // hash, same digest as [[Dedup.qExactDedup]]), and contamination
  // rate (same eval-index probe as [[qDecontaminate]], via the shared
  // memoized store). "Which source is polluting the corpus" is the
  // question this answers the day a crawler misbehaves. Shape at
  // scale: one corpus scan for tokens+digest, a digest-only shuffle
  // for canonicals, the broadcast eval probe, then a tiny per-source
  // aggregate.
  // ------------------------------------------------------------------
  def qSourceHealth(spark: SparkSession, dir: String): DataFrame = {
    val toks = Hashing.tokens($"text")
    val docs = Tables.documentsSharded(spark, dir)
      .select($"doc_id", $"source",
        size(regexp_extract_all($"text", lit(TextOps.BpeIshPattern), lit(0)))
          .cast("long").as("n_tokens"),
        sha2(concat_ws(" ", toks), 256).as("content_hash"))
    val canon = docs.groupBy($"content_hash").agg(min($"doc_id").as("canonical_id"))
    val contam = decontaminateCore(spark, dir).select($"doc_id", $"is_contaminated")
    docs.join(canon, Seq("content_hash"))
      .join(contam, Seq("doc_id"), "left") // eval docs have no contamination row
      .groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").cast("long").as("n_tokens"),
        sum(when($"doc_id" =!= $"canonical_id", 1L).otherwise(0L)).as("n_dups"),
        sum(when($"is_contaminated", 1L).otherwise(0L)).as("n_contaminated"),
        sum(when($"is_contaminated".isNull, 1L).otherwise(0L)).as("n_eval"))
      .withColumn("dup_rate", r6($"n_dups".cast("double") / $"n_docs"))
      .withColumn("contam_rate", r6($"n_contaminated".cast("double") /
        nullif(($"n_docs" - $"n_eval").cast("double"), lit(0.0))))
      .orderBy($"source")
  }

  val sqlSourceHealth: String = {
    val strs = s"list_distinct(${Hashing.sqlShingles(Hashing.sqlTokens("text"), Dedup.ShingleN)})"
    val sh = s"list_transform($strs, sv -> ${Hashing.sqlH60("sv")})"
    val ratio = "coalesce(" +
      rSql("len(list_intersect(d.sh, evl.hs)) / nullif(len(d.sh), 0)::DOUBLE") +
      ", 0.0)"
    s"""WITH t AS (SELECT doc_id, source,
       |    len(regexp_extract_all(text, '${TextOps.BpeIshPattern}'))::BIGINT AS n_tokens,
       |    sha256(coalesce(list_aggregate(${Hashing.sqlTokens("text")}, 'string_agg', ' '), '')) AS content_hash
       |  FROM documents),
       |canon AS (SELECT content_hash, min(doc_id) AS canonical_id FROM t GROUP BY 1),
       |dsh AS (SELECT doc_id, $sh AS sh FROM documents),
       |evl AS (SELECT coalesce(list(h), []) AS hs FROM (
       |  SELECT DISTINCT unnest(sh) AS h FROM dsh WHERE doc_id % $EvalMod = $EvalRem)),
       |cont AS (SELECT d.doc_id, $ratio >= $ContamThreshold AS is_contaminated
       |         FROM dsh d, evl WHERE d.doc_id % $EvalMod != $EvalRem),
       |agg AS (
       |  SELECT source, count(*) AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
       |    sum(CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END)::BIGINT AS n_dups,
       |    sum(CASE WHEN is_contaminated THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
       |    sum(CASE WHEN is_contaminated IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_eval
       |  FROM t JOIN canon USING (content_hash) LEFT JOIN cont USING (doc_id)
       |  GROUP BY 1)
       |SELECT source, n_docs, n_tokens, n_dups, n_contaminated, n_eval,
       |  ${rSql("n_dups / n_docs")} AS dup_rate,
       |  ${rSql("n_contaminated / nullif(n_docs - n_eval, 0)")} AS contam_rate
       |FROM agg ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------------
  // Span-level contamination: WHERE the eval overlap sits inside each
  // document, not just how much. A long CONTIGUOUS run of
  // eval-matching shingles is a verbatim leak (surgical removal or a
  // hard drop); the same count scattered as isolated hits is usually
  // natural n-gram coincidence — the doc-level ratio in
  // [[qDecontaminate]] cannot tell them apart. Shingles here are
  // ORDERED (not the distinct set): positions matter. Shape at scale:
  // eval index broadcast (as in decontaminate), ONE shared corpus
  // shingle scan ([[shingleStore]] — this face and the
  // decontamination family read the same persisted frame), and the
  // run-detection shuffle carries only the sparse contaminated
  // (doc_id, pos) pairs. Runs via the standard gaps-and-islands key
  // (pos − row_number over pos): constant within a consecutive run.
  // The probe joins on the raw shingle STRING — an equi-join needs no
  // engine-identical h60, so no sha256 is paid per occurrence.
  // ------------------------------------------------------------------
  def qContamSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingleStore(spark, dir)
    val evalIndex = docs.filter($"doc_id" % EvalMod === EvalRem)
      .select(explode($"sh").as("s")).distinct()
    val hits = docs.filter($"doc_id" % EvalMod =!= EvalRem)
      .select($"doc_id", posexplode($"sh")).toDF("doc_id", "pos", "s")
      .join(broadcast(evalIndex), Seq("s"))
    val wDoc = Window.partitionBy($"doc_id").orderBy($"pos")
    hits
      .withColumn("run_id", $"pos" - row_number().over(wDoc))
      .groupBy($"doc_id", $"run_id").agg(count(lit(1)).as("run_len"))
      .groupBy($"doc_id").agg(
        sum($"run_len").cast("long").as("n_contaminated"),
        max($"run_len").as("max_run"),
        count(lit(1)).as("n_runs"))
      .orderBy($"doc_id")
  }

  val sqlContamSpans: String = {
    val sh = Hashing.sqlShingles(Hashing.sqlTokens("text"), Dedup.ShingleN)
    s"""WITH d AS (SELECT doc_id, $sh AS sh FROM documents),
       |ev AS (SELECT DISTINCT unnest(sh) AS s FROM d WHERE doc_id % $EvalMod = $EvalRem),
       |p AS (SELECT doc_id, i AS pos, sh[i] AS s
       |      FROM d, unnest(range(1, len(sh) + 1)) AS t(i)
       |      WHERE doc_id % $EvalMod != $EvalRem),
       |hits AS (SELECT p.doc_id, p.pos FROM p JOIN ev USING (s)),
       |runs AS (SELECT doc_id,
       |           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
       |         FROM hits),
       |rl AS (SELECT doc_id, run_id, count(*) AS run_len FROM runs GROUP BY 1, 2)
       |SELECT doc_id, sum(run_len)::BIGINT AS n_contaminated,
       |  max(run_len) AS max_run, count(*) AS n_runs
       |FROM rl GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Filter funnel: the quality-filter cascade with per-rule
  // accounting — for each rule, how many documents the rule dropped
  // among the survivors of the rules before it, and how many remain.
  // This is the report a corpus pipeline publishes per ingest batch so
  // a drifting upstream (or an overzealous rule) is visible the day it
  // happens. ONE scan: every rule flag is a codegen'd expression, the
  // cascade arithmetic is conditional counts inside a single aggregate
  // row, exploded to one row per funnel stage.
  // ------------------------------------------------------------------
  val FunnelMinTokens = 5L
  val FunnelMaxTokens = 2000L
  val FunnelMinDistinctRatio = 0.3
  val FunnelLangs: Seq[String] = Seq("en", "de", "es", "fr", "zh")

  def qFilterFunnel(spark: SparkSession, dir: String): DataFrame = {
    val n = size(toks).cast("long")
    val flags = Seq(
      "too_short" -> (n < FunnelMinTokens),
      "too_long" -> (n > FunnelMaxTokens),
      "bad_lang" -> !$"lang".isin(FunnelLangs: _*),
      "low_diversity" ->
        (size(array_distinct(toks)).cast("double") / n < FunnelMinDistinctRatio))
    val flagged = Tables.documents(spark, dir)
      .select(flags.map { case (name, c) => c.as(name) }: _*)
    // survivors of rules 1..i-1 that rule i drops: flag_i AND none before
    val aggs = flags.zipWithIndex.map { case ((name, _), i) =>
      val prior = flags.take(i).map(f => col(f._1))
      val aliveBefore = prior.foldLeft(lit(true))((a, f) => a && !f)
      sum((aliveBefore && col(name)).cast("long")).as(s"drop_$name")
    }
    val one = flagged.agg(count(lit(1)).as("n_input"), aggs: _*)
    val stages = flags.zipWithIndex.map { case ((name, _), i) =>
      val droppedUpTo = flags.take(i + 1)
        .map(f => col(s"drop_${f._1}")).reduce(_ + _)
      struct(lit(i + 1L).as("stage"), lit(name).as("rule"),
        col(s"drop_$name").as("n_dropped"),
        ($"n_input" - droppedUpTo).as("n_surviving"))
    }
    one.select($"n_input", explode(array(stages: _*)).as("s"))
      .select($"s.stage", $"s.rule", $"n_input", $"s.n_dropped", $"s.n_surviving")
      .orderBy($"stage")
  }

  // ------------------------------------------------------------------
  // End-to-end corpus verdict: the pipeline composition a training run
  // actually consumes — one row per document with the three gate
  // outcomes (quality funnel, near-dup canonical decision, benchmark
  // decontamination) and the final selected flag. Eval-holdout docs
  // are excluded by construction (they are the benchmark). The three
  // inputs reuse the individual operators' logic — and the memoized
  // cluster labels — so the composition costs one extra slim
  // (doc_id ⋈ doc_id) join per gate, never a recompute of the heavy
  // LSH/clustering work.
  // ------------------------------------------------------------------
  def qCorpusVerdict(spark: SparkSession, dir: String): DataFrame = {
    val n = size(toks).cast("long")
    val passQuality = (n >= FunnelMinTokens) && (n <= FunnelMaxTokens) &&
      $"lang".isin(FunnelLangs: _*) &&
      (size(array_distinct(toks)).cast("double") / n >= FunnelMinDistinctRatio)
    val quality = Tables.documents(spark, dir)
      .select($"doc_id", passQuality.as("pass_quality"))
    val kept = Clustering.qDedupDecision(spark, dir)
      .select($"doc_id", $"kept".as("kept_dedup"))
    val clean = decontaminateCore(spark, dir)
      .select($"doc_id", (!$"is_contaminated").as("clean_decontam"))
    quality
      .filter($"doc_id" % EvalMod =!= EvalRem) // benchmark docs held out
      .join(kept, Seq("doc_id"), "left")
      .join(clean, Seq("doc_id"), "left")
      .select($"doc_id", $"pass_quality",
        coalesce($"kept_dedup", lit(true)).as("kept_dedup"),
        coalesce($"clean_decontam", lit(true)).as("clean_decontam"))
      .withColumn("selected",
        $"pass_quality" && $"kept_dedup" && $"clean_decontam")
      .orderBy($"doc_id")
  }

  val sqlCorpusVerdict: String = {
    val t = Hashing.sqlTokens("text")
    val passQ = s"(len($t) >= $FunnelMinTokens AND len($t) <= $FunnelMaxTokens" +
      s" AND lang IN (${FunnelLangs.map(l => s"'$l'").mkString(", ")})" +
      s" AND len(list_distinct($t))::DOUBLE / len($t) >= $FunnelMinDistinctRatio)"
    s"""WITH dec AS (${Clustering.sqlDedupDecision}),
       |cont AS ($sqlDecontaminate)
       |SELECT d.doc_id, $passQ AS pass_quality,
       |  coalesce(dec.kept, TRUE) AS kept_dedup,
       |  coalesce(NOT cont.is_contaminated, TRUE) AS clean_decontam,
       |  ($passQ AND coalesce(dec.kept, TRUE)
       |    AND coalesce(NOT cont.is_contaminated, TRUE)) AS selected
       |FROM documents d
       |LEFT JOIN dec USING (doc_id)
       |LEFT JOIN cont ON d.doc_id = cont.doc_id
       |WHERE d.doc_id % $EvalMod != $EvalRem
       |ORDER BY d.doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
  // Methods, Analysis & Insights from Training Gopher", App. A1.1):
  // the published per-document rule set — word-count bounds,
  // mean-word-length band, symbol-to-word ratio (# and ellipsis),
  // alphabetic-word fraction, minimum stop-word evidence — reported
  // per document with a fail BITMASK (bit i set = rule i failed) and
  // the keep verdict. Complements qFilterFunnel, which does
  // corpus-level cascade accounting over coarser rules: this is the
  // per-document audit row a curation review publishes. One scan; all
  // rules are expressions over the single tokenize; rule comparisons
  // run on the 6-decimal-rounded ratios so both engines compare
  // identical doubles. Reference analogue: the validation filter
  // chain at flink-streaming/src/.../validation (SURVEY §2.3 P9).
  // ------------------------------------------------------------------
  val GopherMinTokens = 50L
  val GopherMaxTokens = 100000L
  val GopherMeanWordLenLo = 3.0
  val GopherMeanWordLenHi = 10.0
  val GopherMaxSymbolRatio = 0.1
  val GopherMinAlphaFrac = 0.8
  val GopherMinStopwords = 2L

  def qGopherRules(spark: SparkSession, dir: String): DataFrame = {
    val t = $"t"
    val nTok = nullif(size(t), lit(0))
    val hashCnt = length($"text") - length(regexp_replace($"text", "#", ""))
    val ellCnt = (length($"text") -
      length(regexp_replace($"text", "\\.\\.\\.", ""))) / lit(3)
    val stopCnt = size(t) -
      size(TextOps.Stopwords.foldLeft(t)((c, w) => array_remove(c, w)))
    val base = Tables.documentsSharded(spark, dir)
      .select($"doc_id", $"text", toks.as("t"))
      .select($"doc_id",
        size(t).cast("long").as("n_tokens"),
        r6(length(concat_ws("", t)).cast("double") / nTok).as("mean_word_len"),
        r6((hashCnt + ellCnt).cast("double") / nTok).as("symbol_ratio"),
        r6(size(filter(t, x => x.rlike("[a-zA-Z]"))).cast("double") / nTok)
          .as("alpha_frac"),
        stopCnt.cast("long").as("stopword_cnt"))
    // pass conditions coalesce(NULL → false) so an empty doc fails
    // identically in both engines rather than tri-stating the mask
    val passes = Seq(
      $"n_tokens".between(GopherMinTokens, GopherMaxTokens),
      $"mean_word_len".between(GopherMeanWordLenLo, GopherMeanWordLenHi),
      $"symbol_ratio" <= GopherMaxSymbolRatio,
      $"alpha_frac" >= GopherMinAlphaFrac,
      $"stopword_cnt" >= GopherMinStopwords)
    val mask = passes.zipWithIndex
      .map { case (p, i) => when(!coalesce(p, lit(false)), lit(1L << i)).otherwise(lit(0L)) }
      .reduce(_ + _)
    base.withColumn("fail_mask", mask)
      .withColumn("keep", $"fail_mask" === 0L)
      .orderBy($"doc_id")
  }

  val sqlGopherRules: String = {
    val t = Hashing.sqlTokens("text")
    val sw = TextOps.Stopwords.map(s => s"'$s'").mkString(", ")
    val symNum = "(length(text) - length(replace(text, '#', ''))" +
      " + (length(text) - length(replace(text, '...', ''))) // 3)"
    val passes = Seq(
      s"n_tokens BETWEEN $GopherMinTokens AND $GopherMaxTokens",
      s"mean_word_len BETWEEN $GopherMeanWordLenLo AND $GopherMeanWordLenHi",
      s"symbol_ratio <= $GopherMaxSymbolRatio",
      s"alpha_frac >= $GopherMinAlphaFrac",
      s"stopword_cnt >= $GopherMinStopwords")
    val mask = passes.zipWithIndex
      .map { case (p, i) =>
        s"CASE WHEN NOT coalesce($p, FALSE) THEN ${1L << i} ELSE 0 END" }
      .mkString(" + ")
    s"""WITH m AS (
       |  SELECT doc_id,
       |    len($t)::BIGINT AS n_tokens,
       |    ${rSql(s"length(list_aggregate($t, 'string_agg', ''))::DOUBLE / NULLIF(len($t), 0)")} AS mean_word_len,
       |    ${rSql(s"$symNum::DOUBLE / NULLIF(len($t), 0)")} AS symbol_ratio,
       |    ${rSql(s"len(list_filter($t, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE / NULLIF(len($t), 0)")} AS alpha_frac,
       |    len(list_filter($t, w -> w IN ($sw)))::BIGINT AS stopword_cnt
       |  FROM documents)
       |SELECT doc_id, n_tokens, mean_word_len, symbol_ratio, alpha_frac,
       |  stopword_cnt, ($mask)::BIGINT AS fail_mask,
       |  ($mask) = 0 AS keep
       |FROM m ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Blocklist filter (C4, Raffel et al. 2020 §2.2: documents
  // containing any phrase from a bad-words list are dropped): per-doc
  // hit counts against a bundled term blocklist plus a phrase
  // blocklist matched on the 2-gram shingle grid, and the keep
  // verdict. The lists here are tiny stand-ins drawn from the
  // synthetic vocabulary; the mechanism is the real one — at 100 TB
  // the blocklist is a broadcast set probed per token (array
  // membership below; a broadcast join when the list outgrows a
  // literal), never a regex alternation over the raw text, which
  // degrades quadratically with list size. One scan, no shuffle
  // beyond the presentation sort.
  // ------------------------------------------------------------------
  val BlockTerms: Seq[String] = Seq("slow", "big")
  val BlockPhrases: Seq[String] = Seq("slow scan", "big query")

  def qBlocklistFilter(spark: SparkSession, dir: String): DataFrame = {
    val t = $"t"
    // occurrences of blocklisted TOKENS: size delta under removal —
    // same lambda-free pattern as TextOps.stopwordCount
    val termHits = size(t) -
      size(BlockTerms.foldLeft(t)((c, w) => array_remove(c, w)))
    val sh = Hashing.wordShingles(t, 2)
    val phraseHits = size(sh) -
      size(BlockPhrases.foldLeft(sh)((c, p) => array_remove(c, p)))
    Tables.documentsSharded(spark, dir)
      .select($"doc_id", toks.as("t"))
      .select($"doc_id",
        termHits.cast("long").as("term_hits"),
        phraseHits.cast("long").as("phrase_hits"))
      .withColumn("keep", $"term_hits" === 0L && $"phrase_hits" === 0L)
      .orderBy($"doc_id")
  }

  val sqlBlocklistFilter: String = {
    val t = Hashing.sqlTokens("text")
    val sh = Hashing.sqlShingles(t, 2)
    val terms = BlockTerms.map(s => s"'$s'").mkString(", ")
    val phrases = BlockPhrases.map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id,
       |  len(list_filter($t, w -> w IN ($terms)))::BIGINT AS term_hits,
       |  len(list_filter($sh, p -> p IN ($phrases)))::BIGINT AS phrase_hits,
       |  (len(list_filter($t, w -> w IN ($terms))) = 0
       |   AND len(list_filter($sh, p -> p IN ($phrases))) = 0) AS keep
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  val sqlFilterFunnel: String = {
    val t = Hashing.sqlTokens("text")
    val flagDefs = Seq(
      "too_short" -> s"len($t) < $FunnelMinTokens",
      "too_long" -> s"len($t) > $FunnelMaxTokens",
      "bad_lang" -> s"lang NOT IN (${FunnelLangs.map(l => s"'$l'").mkString(", ")})",
      "low_diversity" ->
        s"len(list_distinct($t))::DOUBLE / len($t) < $FunnelMinDistinctRatio")
    val flagCols = flagDefs.map { case (n, e) => s"($e) AS $n" }.mkString(", ")
    val aggCols = flagDefs.zipWithIndex.map { case ((n, _), i) =>
      val alive = flagDefs.take(i).map(f => s"NOT ${f._1}")
      val cond = (alive :+ n).mkString(" AND ")
      s"sum(CASE WHEN $cond THEN 1 ELSE 0 END)::BIGINT AS drop_$n"
    }.mkString(", ")
    val rows = flagDefs.zipWithIndex.map { case ((n, _), i) =>
      val droppedUpTo = flagDefs.take(i + 1).map(f => s"drop_${f._1}").mkString(" + ")
      s"SELECT ${i + 1}::BIGINT AS stage, '$n' AS rule, n_input, drop_$n AS n_dropped, " +
        s"n_input - ($droppedUpTo) AS n_surviving FROM agg"
    }.mkString("\nUNION ALL\n")
    s"""WITH f AS (SELECT $flagCols FROM documents),
       |agg AS (SELECT count(*) AS n_input, $aggCols FROM f)
       |$rows
       |ORDER BY stage""".stripMargin
  }

  // ------------------------------------------------------------------
  // Shingle novelty: per document, the fraction of its distinct
  // shingles that occur in NO other document — the inverse of the
  // contamination/overlap family: high novelty marks genuinely fresh
  // text worth keeping, near-zero novelty marks template/boilerplate
  // mass even when no single pair crosses a dedup threshold. Reads
  // the shared ordered-shingle store ([[shingleStore]] — no new
  // corpus scan); the per-doc distinct projection explodes to slim
  // (doc_id, shingle) rows, document frequency is a count over the
  // shingle key (keyspace grows with the corpus), and the verdict
  // re-aggregates per doc. Two shuffles, both on keys, text never on
  // the wire after the store read.
  // ------------------------------------------------------------------
  def qShingleNovelty(spark: SparkSession, dir: String): DataFrame = {
    val e = shingleStore(spark, dir)
      .select($"doc_id", explode(array_distinct($"sh")).as("s"))
    // No window over the shingle key: a df=1 shingle has exactly one
    // owner, so min(doc_id) IS that owner — novelty counts come from
    // a second map-side-combined aggregate over the (s, df, owner)
    // frame, never a per-shingle sort (a window partitioned by a
    // high-cardinality string key degenerates into one giant sorted
    // partition whenever the runtime coalesces small inputs).
    val perDoc = e.groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_shingles"))
    val novel = e.groupBy($"s")
      .agg(count(lit(1)).as("df"), min($"doc_id").as("owner"))
      .filter($"df" === 1)
      .groupBy($"owner".as("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select($"doc_id", $"n_shingles",
        coalesce($"n_novel", lit(0L)).cast("long").as("n_novel"))
      .withColumn("novelty",
        $"n_novel".cast("double") / $"n_shingles".cast("double"))
      .orderBy($"doc_id")
  }

  val sqlShingleNovelty: String = {
    val sh = s"list_distinct(${Hashing.sqlShingles(Hashing.sqlTokens("text"), Dedup.ShingleN)})"
    s"""WITH e AS (
       |  SELECT doc_id, unnest($sh) AS s FROM documents),
       |d AS (SELECT doc_id, count(*) OVER (PARTITION BY s) AS df FROM e)
       |SELECT doc_id, count(*)::BIGINT AS n_shingles,
       |  sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel,
       |  sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE
       |    AS novelty
       |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Corpus novelty growth curve (the Heaps-law audit): bucket the
  // corpus by ingest order (doc_id div NoveltyBucketDocs — the crawl
  // slice), and per bucket count how many of its distinct shingles
  // appear for the FIRST time anywhere in the corpus, plus the running
  // distinct total. The curve a data team reads before buying another
  // crawl: if n_new flattens, new data is re-crawling old content.
  // Scale shape: first-occurrence ownership is one min-aggregate over
  // (shingle → bucket) — keyspace grows with the corpus, map-side
  // combined, no per-shingle window; the cumulative sum runs over the
  // ≤ |corpus|/bucket-size bucket table, never the corpus (the
  // qBudgetSelect histogram stance).
  // ------------------------------------------------------------------
  val NoveltyBucketDocs = 50L

  def qNoveltyCurve(spark: SparkSession, dir: String): DataFrame = {
    val e = shingleStore(spark, dir)
      .select($"doc_id", explode(array_distinct($"sh")).as("s"))
      .withColumn("bucket", expr(s"doc_id div $NoveltyBucketDocs"))
    val perBucket = e.groupBy($"bucket").agg(
      countDistinct($"doc_id").cast("long").as("n_docs"),
      count(lit(1)).cast("long").as("n_rows"))
    val firsts = e.groupBy($"s").agg(min($"bucket").as("fb"))
      .groupBy($"fb").agg(count(lit(1)).as("n_new"))
      .select($"fb".as("bucket"), $"n_new")
    val wCum = Window.orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(firsts, Seq("bucket"), "left")
      .select($"bucket", $"n_docs", $"n_rows",
        coalesce($"n_new", lit(0L)).cast("long").as("n_new"))
      .withColumn("cum_distinct", sum($"n_new").over(wCum).cast("long"))
      .withColumn("novelty_rate",
        $"n_new".cast("double") / $"n_rows".cast("double"))
      .orderBy($"bucket")
  }

  val sqlNoveltyCurve: String = {
    val sh = s"list_distinct(${Hashing.sqlShingles(Hashing.sqlTokens("text"), Dedup.ShingleN)})"
    s"""WITH e AS (
       |  SELECT doc_id, doc_id // $NoveltyBucketDocs AS bucket, unnest($sh) AS s
       |  FROM documents),
       |pb AS (SELECT bucket, count(DISTINCT doc_id)::BIGINT AS n_docs,
       |         count(*)::BIGINT AS n_rows
       |       FROM e GROUP BY 1),
       |f AS (SELECT s, min(bucket) AS fb FROM e GROUP BY 1),
       |nn AS (SELECT fb AS bucket, count(*) AS n_new FROM f GROUP BY 1)
       |SELECT bucket, n_docs, n_rows,
       |  coalesce(n_new, 0)::BIGINT AS n_new,
       |  sum(coalesce(n_new, 0)) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_distinct,
       |  coalesce(n_new, 0)::DOUBLE / n_rows::DOUBLE AS novelty_rate
       |FROM pb LEFT JOIN nn USING (bucket) ORDER BY bucket""".stripMargin
  }

  // ------------------------------------------------------------------
  // Token-distribution shift: total-variation distance between the
  // unigram distributions of two corpus halves (sources hash-split
  // 50/50 by the cross-engine h60 — no data knowledge baked in), plus
  // the top tokens driving the shift. The drift monitor a continuously
  // ingested corpus needs: a jump in TV between yesterday's and
  // today's snapshot means the mixture moved. Per-token contribution
  // is |cA·NB − cB·NA| — int64-exact (TV's |pA − pB| with the common
  // denominator NA·NB cleared) ONLY while the cross products fit:
  // cA·NB ≤ NA·NB < 2^63 requires per-side token totals ≲ 3·10⁹ — the
  // same headroom bound as [[TextOps.qPmiBigrams]]' c12·N, and far
  // below a 100 TB corpus (~10¹³ tokens). Past it, Spark (non-ANSI)
  // wraps silently while DuckDB raises, so the mitigation is the PMI
  // one: scale both sides' counts down by one shared exact factor
  // g = 2^⌈log₂(max(NA,NB)/3·10⁹)⌉ (⌊c/g⌋ keeps the cleared-
  // denominator form exact in the scaled grid), or move to the double
  // |cA/NA − cB/NB| whose ranking matches up to IEEE rounding. At the
  // gate's SF both products stay exact. Scale shape: one
  // map-side-combined (token, side) count — the word-count shuffle —
  // a |vocab|-row reshape, a broadcast 1-row totals frame, and a
  // TakeOrdered top-k. KL/JS need log(); TV needs none, which is why
  // it's the cross-engine choice.
  // ------------------------------------------------------------------
  val ShiftTopK = 30

  /** Per-side token-count store: the vocab-slim (w, ca, cb) frame both
    * the top-k and the scalar TV total read. Persisted so the corpus
    * tokenize scan happens once per input (cached by
    * [[graft.core.Memo]]); every downstream consumer is vocab-sized or
    * smaller. */
  def sideCountStore(spark: SparkSession, dir: String): DataFrame =
    Memo.once(spark, dir, "Corpus.sideCountStore", (_: DataFrame).unpersist())({
      val store = Tables.documentsSharded(spark, dir)
        .select(pmod(Hashing.h60($"source"), lit(2)).as("side"),
          explode(Hashing.tokens($"text")).as("w"))
        .groupBy($"w")
        .agg(sum(when($"side" === 0, 1L).otherwise(0L)).as("ca"),
          sum(when($"side" === 1, 1L).otherwise(0L)).as("cb"))
        .persist()
      store.count() // eager, so every consumer reads the materialized store
      store
    })

  def qDistShift(spark: SparkSession, dir: String): DataFrame = {
    val counts = sideCountStore(spark, dir)
    val totals = counts.agg(sum($"ca").as("na"), sum($"cb").as("nb"))
    val num = abs($"ca" * $"nb" - $"cb" * $"na")
    val withN = counts.crossJoin(broadcast(totals)).withColumn("shift_num", num)
    val scalar = withN.agg(sum($"shift_num").as("sum_num"),
      max($"na").as("na2"), max($"nb").as("nb2"))
    withN
      .orderBy($"shift_num".desc, $"w").limit(ShiftTopK)
      .crossJoin(broadcast(scalar))
      .select($"w", $"ca", $"cb", $"shift_num",
        ($"shift_num".cast("double") / ($"na" * $"nb").cast("double"))
          .as("contribution"),
        ($"sum_num".cast("double") / (lit(2.0) * ($"na2" * $"nb2").cast("double")))
          .as("tv_total"))
      .orderBy($"shift_num".desc, $"w")
  }

  val sqlDistShift: String = {
    val t = Hashing.sqlTokens("text")
    s"""WITH toks AS (
       |  SELECT (${Hashing.sqlH60("source")}) % 2 AS side, unnest($t) AS w
       |  FROM documents),
       |c AS (SELECT w,
       |    sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
       |    sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)::BIGINT AS cb
       |  FROM toks GROUP BY 1),
       |n AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM c),
       |j AS (SELECT w, ca, cb, abs(ca * nb - cb * na) AS shift_num, na, nb
       |  FROM c CROSS JOIN n)
       |SELECT w, ca, cb, shift_num,
       |  shift_num::DOUBLE / (na * nb)::DOUBLE AS contribution,
       |  (sum(shift_num) OVER ())::DOUBLE / (2.0 * (na * nb)::DOUBLE) AS tv_total
       |FROM j ORDER BY shift_num DESC, w LIMIT $ShiftTopK""".stripMargin
  }

  // ------------------------------------------------------------------
  // Pairwise source-overlap matrix (X147): exact shingle-set Jaccard
  // for every source pair — the redundancy map that tells a curation
  // pipeline which sources are mirrors/scrapes of each other BEFORE
  // committing mixture weights (the source-level generalization of the
  // X-corpus-pair overlap sketch). Scale shape: the per-source shingle
  // SETS never materialize as arrays — a slim distinct (source, h60)
  // frame feeds both the size aggregate and the intersection self-join,
  // and per-shingle pair fan-out is bounded by C(|sources present|, 2)
  // with |sources| a catalog-bounded dimension (tens-to-thousands),
  // never the corpus. Similarity is exact integer ppm, hash-exact
  // cross-engine. (For an UNBOUNDED source universe the sketch form
  // X64 applies; this exact face is for the catalog-sized case.)
  // ------------------------------------------------------------------
  /** Distinct (source, h) shingle-hash incidence, persisted — shares
    * the shingle store's parse. */
  def sourceShingleStore(spark: SparkSession, dir: String): DataFrame =
    Memo.once(spark, dir, "Corpus.sourceShingleStore", (_: DataFrame).unpersist())({
      val src = Tables.documents(spark, dir).select($"doc_id", $"source")
      val store = shingleStore(spark, dir)
        .join(src, Seq("doc_id"))
        .select($"source", explode($"sh").as("s"))
        .select($"source", Hashing.h60($"s").as("h"))
        .distinct()
        .persist()
      store.count()
      store
    })

  def qSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ss = sourceShingleStore(spark, dir)
    val sizes = ss.groupBy($"source").agg(count(lit(1)).as("n"))
    ss.select($"source".as("src_a"), $"h")
      .join(ss.select($"source".as("src_b"), $"h"), Seq("h"))
      .filter($"src_a" < $"src_b")
      .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select($"source".as("src_a"), $"n".as("n_a")), Seq("src_a"))
      .join(sizes.select($"source".as("src_b"), $"n".as("n_b")), Seq("src_b"))
      .select($"src_a", $"src_b", $"inter", $"n_a", $"n_b",
        expr("(inter * 1000000L) div (n_a + n_b - inter)").as("jaccard_ppm"))
      .orderBy($"src_a", $"src_b")
  }

  val sqlSourceOverlap: String = {
    val sh = Hashing.sqlShingles(Hashing.sqlTokens("text"), Dedup.ShingleN)
    s"""WITH t AS (
       |  SELECT source, unnest($sh) AS s FROM documents),
       |ss AS (SELECT DISTINCT source, ${Hashing.sqlH60("s")} AS h FROM t),
       |sizes AS (SELECT source, count(*) AS n FROM ss GROUP BY 1),
       |inter AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
       |  FROM ss a JOIN ss b ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT i.src_a, i.src_b, i.inter, sa.n AS n_a, sb.n AS n_b,
       |  (i.inter * 1000000) // (sa.n + sb.n - i.inter) AS jaccard_ppm
       |FROM inter i
       |JOIN sizes sa ON i.src_a = sa.source
       |JOIN sizes sb ON i.src_b = sb.source
       |ORDER BY src_a, src_b""".stripMargin
  }

  // ------------------------------------------------------------------
  // Content-defined chunking (X140; Rabin-style CDC, cf. LBFS —
  // Muthitacharoen 2001): chunk boundaries fall AFTER any token whose
  // hash ≡ 0 (mod CdcDiv), so boundaries are a function of CONTENT,
  // not position — inserting or deleting a prefix re-chunks only up to
  // the first surviving boundary, and every later chunk hash is
  // unchanged (the property that makes chunk-level dedup robust to
  // edits, where [[qChunkDocs]]'s fixed windows shift everything).
  // Expected chunk length = CdcDiv tokens. Pure per-row expression
  // work over the shared h60 — zero shuffle before the explode; both
  // engines carve identical boundaries from the same sha arithmetic.
  // ------------------------------------------------------------------
  val CdcDiv = 16

  /** (doc_id, chunk_idx, n_tokens, chunk_hash) rows for a (doc_id,
    * text) frame — one pass, chunk hash carved in place. */
  def cdcChunks(docs: DataFrame): DataFrame = {
    val toks = Hashing.tokens($"text")
    // boundary positions (1-based): tokens whose h60 ≡ 0 mod CdcDiv.
    // Empty docs short-circuit (sequence(1, 0) would descend).
    val cuts = when(size($"toks") === 0, array().cast("array<int>"))
      .otherwise(filter(sequence(lit(1), size($"toks")),
        i => pmod(Hashing.h60(element_at($"toks", i)), lit(CdcDiv)) === 0))
    val bounds = concat(array(lit(0)), $"cuts", array(size($"toks")))
    // consecutive bound pairs with positive width = the chunks
    val spans = filter(
      transform(sequence(lit(1), size($"bounds") - 1),
        j => struct(element_at($"bounds", j).as("s"),
          element_at($"bounds", j + 1).as("e"))),
      c => c.getField("e") > c.getField("s"))
    docs
      .withColumn("toks", when(size(toks) === 0,
        array().cast("array<string>")).otherwise(toks))
      .withColumn("cuts", cuts)
      .withColumn("bounds", bounds)
      .select($"doc_id", $"toks", posexplode(spans).as(Seq("chunk_idx", "c")))
      .select($"doc_id", $"chunk_idx".cast("long").as("chunk_idx"),
        ($"c.e" - $"c.s").cast("long").as("n_tokens"),
        Hashing.h60(array_join(
          slice($"toks", $"c.s" + 1, $"c.e" - $"c.s"), " ")).as("chunk_hash"))
  }

  def qCdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcChunks(Tables.documents(spark, dir).select($"doc_id", $"text"))
      .orderBy($"doc_id", $"chunk_idx")

  val sqlCdcChunks: String = {
    val toks = Hashing.sqlTokens("text")
    val h = Hashing.sqlH60("t.toks[CAST(i AS INTEGER)]")
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |b AS (
       |  SELECT doc_id, toks,
       |    list_concat(list_concat([0],
       |      list_filter(range(1, len(toks) + 1),
       |        i -> $h % $CdcDiv = 0)), [len(toks)]) AS bounds
       |  FROM t),
       |u AS (
       |  SELECT doc_id, toks, bounds,
       |    unnest(range(1, len(bounds))) AS j
       |  FROM b),
       |c AS (
       |  SELECT doc_id, toks,
       |    bounds[CAST(j AS INTEGER)] AS s,
       |    bounds[CAST(j + 1 AS INTEGER)] AS e
       |  FROM u
       |  WHERE bounds[CAST(j + 1 AS INTEGER)] > bounds[CAST(j AS INTEGER)])
       |SELECT doc_id,
       |  row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS chunk_idx,
       |  e - s AS n_tokens,
       |  ${Hashing.sqlH60("array_to_string(toks[CAST(s + 1 AS INTEGER):CAST(e AS INTEGER)], ' ')")} AS chunk_hash
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
  }
}
