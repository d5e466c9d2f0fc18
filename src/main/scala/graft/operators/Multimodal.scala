package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Memo, Scratch}
import graft.functions.Hashing
import graft.sources.Tables

/**
 * Multimodal-column plumbing: media as opaque `binary` payloads with a
 * typed metadata struct, decoded/feature-extracted in batched
 * per-partition passes (driver-mandated extension; the reference's
 * analog is the opaque `raw_data` payload carried next to typed fields,
 * market_data.py:82).
 *
 * The real media decoders (image/audio libs) are NOT in this
 * environment, so the decode step is a clearly-marked deterministic
 * STUB — but everything Spark-side is real and tested: the schema
 * (payload + metadata struct), the partition-preserving batched UDF
 * shape (`mapPartitions` over row iterators, the JVM twin of
 * `mapInPandas`' batch contract), and the feature-column layout
 * downstream operators consume (the fake embedding feeds the same
 * Similarity operators as the real one would).
 */
object Multimodal {
  import Relational.ColInterp

  val FeatureDims = 4

  /** Documents with an opaque binary payload + metadata, the canonical
    * multimodal table shape: (id, payload: binary, meta: struct). */
  def payloadTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSharded(spark, dir)
      .select(
        $"doc_id",
        to_binary($"text", lit("utf-8")).as("payload"),
        struct(
          lit("text/plain").as("mime"),
          octet_length(to_binary($"text", lit("utf-8"))).cast("long").as("n_bytes"),
          $"lang".as("lang")).as("meta"))

  // ------------------------------------------------------------------
  // STUB DECODER — deterministic fake. A real deployment replaces the
  // body with an image/audio decode (e.g. JPEG -> pixels -> model
  // features); the signature, batching, and output schema are the
  // contract and stay unchanged.
  // ------------------------------------------------------------------

  /** Fake "decoded features" of a payload: FeatureDims pseudo-channel
    * values derived from sha256 of the bytes — deterministic, engine-
    * reproducible, and shaped exactly like a real feature vector. */
  def stubDecode(payload: Array[Byte]): Array[Double] = {
    val digest = java.security.MessageDigest.getInstance("SHA-256").digest(payload)
    (0 until FeatureDims).toArray.map { d =>
      // big-endian uint32 of digest word d, scaled to [0, 1)
      val w = ((digest(4 * d) & 0xffL) << 24) | ((digest(4 * d + 1) & 0xffL) << 16) |
        ((digest(4 * d + 2) & 0xffL) << 8) | (digest(4 * d + 3) & 0xffL)
      w.toDouble / 4294967296.0
    }
  }

  /** Decoded-feature row (Product ⇒ Catalyst encoder; columns keep the
    * declaration order). */
  final case class Decoded(
      doc_id: Long, n_bytes: Long, content_sha: String, features: Array[Double])

  /** Batched per-partition decode — the `mapInPandas` shape on the JVM:
    * one iterator in, one iterator out, no per-row task overhead, and
    * the input partitioning (e.g. by storage bucket) is preserved so a
    * 100 TB decode is pure data-parallel scan work. Stays a `Dataset`
    * transform (typed `mapPartitions`, not `.rdd`), so the plan keeps
    * Tungsten layout and column pruning on both sides of the decode. */
  def decodeFeatures(payloads: DataFrame): DataFrame = {
    import payloads.sparkSession.implicits.{newProductEncoder, newSequenceEncoder}
    payloads.select(col("doc_id"), col("payload"), col("meta.n_bytes").as("n_bytes"))
      .as[(Long, Array[Byte], Long)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        rows.map { case (docId, payload, nBytes) =>
          md.reset()
          val digestHex = md.digest(payload).map(b => f"$b%02x").mkString
          Decoded(docId, nBytes, digestHex, stubDecode(payload))
        }
      }
      .toDF()
  }

  // ------------------------------------------------------------------
  // Oracle-checked face: the same metadata + stub features computed as
  // pure Catalyst expressions (codegen path — at scale this is the one
  // to prefer whenever the "decode" is expressible; the mapPartitions
  // variant above exists for decoders that need native libs).
  // ------------------------------------------------------------------
  def qMultimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    val pay = payloadTable(spark, dir)
    val f = (d: Int) =>
      (conv(substring(sha2($"payload", 256), 8 * d + 1, 8), 16, 10).cast("double") /
        4294967296.0).as(s"f$d")
    pay.select(
      $"doc_id",
      $"meta.mime".as("mime"),
      $"meta.n_bytes".as("n_bytes"),
      sha2($"payload", 256).as("content_sha"),
      f(0), f(1), f(2), f(3))
      .orderBy($"doc_id")
  }

  val sqlMultimodalFeatures: String = {
    val f = (d: Int) =>
      s"('0x' || substr(sha256(text), ${8 * d + 1}, 8))::BIGINT::DOUBLE / 4294967296.0 AS f$d"
    s"""SELECT doc_id, 'text/plain' AS mime,
       |  octet_length(encode(text))::BIGINT AS n_bytes,
       |  sha256(text) AS content_sha,
       |  ${f(0)}, ${f(1)}, ${f(2)}, ${f(3)}
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Perceptual hash over the binary payload
  // ([[graft.functions.TextKernels.phash60]]): decode → 61-bin
  // code-point-bigram histogram → 60 gradient bits. The content-level
  // near-dup the multimodal pillar was missing — sha256 ([[
  // qMultimodalFeatures]]) only catches BYTE-exact copies; the
  // perceptual hash lands rearranged/lightly-edited payloads within a
  // few bits of hamming distance, the image analog of what SimHash
  // (X3) does for text. The decode step is the stub contract: a real
  // deployment feeds pixel luminance through the same bins and the
  // bucketing below is unchanged. One codegen'd kernel pass riding the
  // payload scan; nothing but (doc_id, long) ever shuffles.
  // ------------------------------------------------------------------
  def qImagePhash(spark: SparkSession, dir: String): DataFrame =
    payloadTable(spark, dir)
      .select($"doc_id", $"meta.n_bytes".as("n_bytes"),
        graft.functions.TextKernelFunctions.phash60(
          decode($"payload", "UTF-8")).as("phash"))
      .orderBy($"doc_id")

  /** Oracle: the same histogram-gradient hash unrolled in SQL —
    * `ord(substr)` walks the decoded payload's code points exactly as
    * the kernel does. */
  val sqlImagePhash: String = sqlPhashCte +
    s"""SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes, phash
       |FROM ph ORDER BY doc_id""".stripMargin

  /** Shared CTE computing `ph(doc_id, text, phash)` for the oracle
    * twins (DuckDB lacks the kernel, so the histogram is built by
    * unnesting the code-point index). */
  private def sqlPhashCte: String =
    s"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
       |ix AS (SELECT doc_id, text, n, unnest(range(0, n - 1)) AS i FROM d),
       |ch AS (SELECT doc_id,
       |    (ord(substr(text, i + 1, 1)) * 131 + ord(substr(text, i + 2, 1))) % 61 AS bk
       |  FROM ix),
       |bs AS (SELECT doc_id, bk, count(*)::BIGINT AS c FROM ch GROUP BY 1, 2),
       |grid AS (SELECT d.doc_id, r.b AS bk FROM d, range(0, 61) r(b)),
       |dense AS (SELECT grid.doc_id, grid.bk, coalesce(c, 0)::BIGINT AS c
       |  FROM grid LEFT JOIN bs ON grid.doc_id = bs.doc_id AND grid.bk = bs.bk),
       |l AS (SELECT doc_id, list(c ORDER BY bk) AS lc FROM dense GROUP BY 1),
       |ph AS (SELECT l.doc_id, d.text,
       |    list_sum(list_transform(range(0, 60), j ->
       |      CASE WHEN lc[j+1] > lc[j+2] THEN (1::BIGINT << j)
       |           ELSE 0::BIGINT END))::BIGINT AS phash
       |  FROM l JOIN d ON l.doc_id = d.doc_id)
       |""".stripMargin

  /** Perceptual near-dup pairs: hamming(phash) ≤ 3 via the 4×15-bit
    * chunk pigeonhole bucket join — the EXACT machinery of
    * [[Dedup.qSimhashPairs]] (≤ 3 differing bits across 4 chunks ⇒
    * some chunk matches exactly), so the scale story is identical:
    * the join key is a slim (chunk, 15-bit key) pair whose keyspace
    * grows with the corpus, and the quadratic all-pairs face exists
    * only in the oracle. */
  /** Unordered pair set — the face downstream consumers
    * ([[qModalDedup]]) compose over without paying the presentation
    * sort (the [[Dedup.minhashLshPairsCore]] convention). */
  def imageNeardupCore(spark: SparkSession, dir: String): DataFrame = {
    // computed once, read by both join sides
    val base = Scratch.persist(phashFrame(payloadTable(spark, dir)))
    base.count() // eager materialization
    Dedup.chunkBucketPairs(base, "phash")
  }

  def qImageNeardupPairs(spark: SparkSession, dir: String): DataFrame =
    imageNeardupCore(spark, dir).orderBy($"doc_a", $"doc_b")

  /** Oracle: exact all-pairs hamming ≤ 3 (the pigeonhole guarantees the
    * bucketed Spark plan has perfect recall vs this). */
  val sqlImageNeardupPairs: String = sqlPhashCte +
    s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
       |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------------
  // Video-modality plumbing: the payload as a FRAME SEQUENCE. The stub
  // frame sampler cuts the decoded stream into fixed-length frames
  // (FrameChars code points ≈ one sampled video frame / audio window);
  // each frame gets its own perceptual hash via the same kernel. This
  // is the standard video-fingerprint layout (frame-level perceptual
  // hashes in an inverted index — the shape behind content-ID systems):
  // per-frame work rides the payload scan inside codegen (the
  // substring transform is O(payload) total), and downstream only
  // (doc_id, frame_no, long) rows move. A real deployment swaps the
  // sampler for keyframe extraction and feeds luminance; schema and
  // join shapes are unchanged.
  // ------------------------------------------------------------------
  val FrameChars = 96

  /** (doc_id, frame_no, fhash) rows, unsorted — the shared core of the
    * gate face and the near-dup join (which must not inherit a
    * presentation sort). */
  private def framePhashes(spark: SparkSession, dir: String): DataFrame =
    payloadTable(spark, dir)
      .select($"doc_id", decode($"payload", "UTF-8").as("txt"))
      .select($"doc_id", posexplode(expr(
        s"""transform(
           |  sequence(0, greatest(cast(ceil(length(txt) / ${FrameChars}.0) as int), 1) - 1),
           |  i -> graft_phash60(substring(txt, i * $FrameChars + 1, $FrameChars)))""".stripMargin))
        .as(Seq("frame_no", "fhash")))
      .select($"doc_id", $"frame_no".cast("long").as("frame_no"), $"fhash")

  /** Per-frame perceptual hashes: (doc_id, frame_no, fhash). */
  def qFramePhash(spark: SparkSession, dir: String): DataFrame =
    framePhashes(spark, dir).orderBy($"doc_id", $"frame_no")

  /** Shared CTE: fr(doc_id, frame_no, ftxt) + fph(doc_id, frame_no,
    * fhash) — the frame sampler and per-frame histogram hash unrolled
    * for DuckDB. */
  private def sqlFramePhashCte: String =
    s"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
       |fr AS (SELECT doc_id, i AS frame_no, substr(text, i * $FrameChars + 1, $FrameChars) AS ftxt
       |  FROM (SELECT doc_id, text, n,
       |          unnest(range(0, greatest((n + ${FrameChars - 1}) // $FrameChars, 1))) AS i
       |        FROM d)),
       |ix AS (SELECT doc_id, frame_no, ftxt, unnest(range(0, length(ftxt) - 1)) AS i FROM fr),
       |ch AS (SELECT doc_id, frame_no,
       |    (ord(substr(ftxt, i + 1, 1)) * 131 + ord(substr(ftxt, i + 2, 1))) % 61 AS bk
       |  FROM ix),
       |bs AS (SELECT doc_id, frame_no, bk, count(*)::BIGINT AS c FROM ch GROUP BY 1, 2, 3),
       |grid AS (SELECT doc_id, frame_no, r.b AS bk FROM fr, range(0, 61) r(b)),
       |dense AS (SELECT grid.doc_id, grid.frame_no, grid.bk, coalesce(c, 0)::BIGINT AS c
       |  FROM grid LEFT JOIN bs ON grid.doc_id = bs.doc_id
       |    AND grid.frame_no = bs.frame_no AND grid.bk = bs.bk),
       |l AS (SELECT doc_id, frame_no, list(c ORDER BY bk) AS lc
       |  FROM dense GROUP BY 1, 2),
       |fph AS (SELECT doc_id, frame_no,
       |    list_sum(list_transform(range(0, 60), j ->
       |      CASE WHEN lc[j+1] > lc[j+2] THEN (1::BIGINT << j)
       |           ELSE 0::BIGINT END))::BIGINT AS fhash
       |  FROM l)
       |""".stripMargin

  val sqlFramePhash: String = sqlFramePhashCte +
    s"""SELECT doc_id, frame_no::BIGINT AS frame_no, fhash FROM fph
       |ORDER BY doc_id, frame_no""".stripMargin

  /** Video near-dup: document pairs sharing ≥ [[VideoMinShared]]
    * DISTINCT frame hashes — the shared-fingerprint-count criterion of
    * frame-level video dedup. Scale shape: the join key is the frame
    * hash (inverted index — keyspace grows with the corpus), frames
    * occurring in more than [[MaxFrameDocs]] documents are dropped
    * BEFORE the pair join (the boilerplate-frame guard bounding the
    * quadratic blowup a title-card/intro frame would cause — the
    * [[Dedup]] substring-anchor SubstrMaxOcc precedent, mirrored in
    * the oracle), and only slim (doc, doc) pairs aggregate. */
  val VideoMinShared = 2
  val MaxFrameDocs = 50

  /** Unordered pair set (see [[imageNeardupCore]]). */
  def videoNeardupCore(spark: SparkSession, dir: String): DataFrame = {
    val f = framePhashes(spark, dir).select($"doc_id", $"fhash").distinct()
    val rare = f.groupBy($"fhash").agg(count(lit(1)).as("n_docs"))
      .filter($"n_docs" <= MaxFrameDocs)
    val kept = f.join(rare.select($"fhash"), Seq("fhash"))
    kept.as("a")
      .join(kept.as("b"),
        col("a.fhash") === col("b.fhash") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).cast("long").as("shared_frames"))
      .filter($"shared_frames" >= VideoMinShared)
  }

  def qVideoNeardup(spark: SparkSession, dir: String): DataFrame =
    videoNeardupCore(spark, dir).orderBy($"doc_a", $"doc_b")

  val sqlVideoNeardup: String = sqlFramePhashCte +
    s""", f AS (SELECT DISTINCT doc_id, fhash FROM fph),
       |rare AS (SELECT fhash FROM f GROUP BY fhash
       |  HAVING count(*) <= $MaxFrameDocs),
       |k AS (SELECT doc_id, fhash FROM f JOIN rare USING (fhash))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  count(*)::BIGINT AS shared_frames
       |FROM k a JOIN k b ON a.fhash = b.fhash AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $VideoMinShared
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------------
  // Incremental perceptual dedup — the multimodal twin of the text
  // pipeline's incremental probe ([[Dedup.incrementalProbe]], X56): an
  // incoming payload batch probes the PERSISTED phash chunk index of
  // the existing corpus (never re-dedups it) and each incoming doc
  // gets a new/dup verdict with its best (lowest-hamming) corpus
  // match. The 4×15-bit pigeonhole guarantees the bucketed probe has
  // perfect recall at hamming ≤ 3, so the bucketed verdicts equal the
  // oracle's exact incoming×corpus scan. Scale shape: the index side
  // is (chunk, ckey, doc, phash) — slim, hash-keyed, grows with the
  // corpus; per batch only incoming chunks shuffle; the same
  // micro-batch-commuting argument as the text probe (verdicts depend
  // only on (doc, corpus)).
  // ------------------------------------------------------------------
  /** (doc_id, phash) of a (doc_id, payload) frame — the per-doc
    * perceptual fingerprint the chunk index is built over. */
  def phashFrame(docs: DataFrame): DataFrame =
    docs.select($"doc_id",
      graft.functions.TextKernelFunctions.phash60(
        decode($"payload", "UTF-8")).as("phash"))

  /** Probe one incoming (doc_id, phash) batch against the corpus chunk
    * index: per-doc new/dup verdict with the best (lowest-hamming)
    * corpus match. The core both the gate and the streaming face
    * (ReplayEquivalenceSpec) drive — per-doc verdicts depend only on
    * (doc, corpus), so micro-batching the incoming side commutes with
    * this probe, exactly as [[Dedup.incrementalProbe]]. */
  def phashProbe(incoming: DataFrame, corpus: DataFrame): DataFrame = {
    def chunked(df: DataFrame, id: String) = Dedup.chunkKeys(df, "phash")
      .select($"doc_id".as(id), $"_h".as(s"${id}_ph"), $"chunk", $"ckey")
    val best = chunked(incoming, "i_id")
      .join(chunked(corpus, "c_id"), Seq("chunk", "ckey"))
      .select($"i_id", $"c_id",
        bit_count($"i_id_ph".bitwiseXOR($"c_id_ph")).cast("long").as("hamming"))
      .distinct()
      .filter($"hamming" <= 3)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"i_id").orderBy($"hamming", $"c_id")))
      .filter($"rk" === 1)
    incoming.select($"doc_id")
      .join(best.select($"i_id".as("doc_id"), $"c_id", $"hamming"), Seq("doc_id"), "left")
      .select($"doc_id",
        when($"c_id".isNotNull, lit("dup")).otherwise(lit("new")).as("status"),
        coalesce($"c_id", lit(-1L)).cast("long").as("dup_of"),
        coalesce($"hamming", lit(-1L)).cast("long").as("hamming"))
  }

  def qIncrementalPhash(spark: SparkSession, dir: String): DataFrame = {
    // both splits and both probe branches read one store
    val base = Scratch.persist(phashFrame(payloadTable(spark, dir)))
    base.count()
    val incoming = base.filter($"doc_id" % Dedup.IncomingMod === Dedup.IncomingRem)
    val corpus = base.filter($"doc_id" % Dedup.IncomingMod =!= Dedup.IncomingRem)
    phashProbe(incoming, corpus).orderBy($"doc_id")
  }

  /** Oracle: exact incoming × corpus hamming scan (bounded verify face
    * — incoming is ~10% of the gate corpus, the [[Dedup.sqlIncrementalDedup]]
    * contract), best match by (hamming, c_id). */
  val sqlIncrementalPhash: String = sqlPhashCte +
    s""", i AS (SELECT doc_id, phash FROM ph
       |  WHERE doc_id % ${Dedup.IncomingMod} = ${Dedup.IncomingRem}),
       |c AS (SELECT doc_id, phash FROM ph
       |  WHERE doc_id % ${Dedup.IncomingMod} <> ${Dedup.IncomingRem}),
       |v AS (SELECT i.doc_id AS i_id, c.doc_id AS c_id,
       |    bit_count(xor(i.phash, c.phash)) AS h
       |  FROM i JOIN c ON true),
       |best AS (SELECT i_id, c_id, h FROM (
       |  SELECT i_id, c_id, h,
       |    row_number() OVER (PARTITION BY i_id ORDER BY h, c_id) AS rk
       |  FROM v WHERE h <= 3) WHERE rk = 1)
       |SELECT i.doc_id,
       |  CASE WHEN best.c_id IS NULL THEN 'new' ELSE 'dup' END AS status,
       |  coalesce(best.c_id, -1)::BIGINT AS dup_of,
       |  coalesce(best.h, -1)::BIGINT AS hamming
       |FROM i LEFT JOIN best ON i.doc_id = best.i_id
       |ORDER BY i.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Audio-modality face (X177/X178 — the modality triad completed):
  // the payload as an overlapping WINDOW sequence. Each AudioWin-char
  // window at AudioHop hop yields its peak spectral bin (argmax of the
  // window's 61-bin bigram histogram — Shazam-style constellation
  // peak picking over the stub spectrum), and the per-doc fingerprint
  // is the SimHash of the peak multiset ([[graft.functions.TextKernels
  // .aphash60]], one codegen'd kernel pass riding the payload scan).
  // Near-dup pairs ride the SAME 4×15-bit chunk pigeonhole join as the
  // image face — audio evidence is pairwise, so it composes exactly
  // into the cross-modal store, the incremental merge, and the
  // retraction splice. A real deployment swaps the bigram spectrum for
  // MFCC/chroma band energies; windowing, peak picking, vote fold,
  // and every join shape downstream are unchanged.
  // ------------------------------------------------------------------

  /** (doc_id, ahash) over a payload table — the audio analog of
    * [[phashFrame]]. */
  def audioFrame(docs: DataFrame): DataFrame =
    docs.select($"doc_id",
      graft.functions.TextKernelFunctions.aphash60(
        decode($"payload", "UTF-8")).as("ahash"))

  /** Per-doc audio fingerprint + window count. */
  def qAudioPhash(spark: SparkSession, dir: String): DataFrame =
    payloadTable(spark, dir)
      .select($"doc_id", decode($"payload", "UTF-8").as("txt"))
      .select($"doc_id",
        greatest(expr(s"(length(txt) + ${graft.functions.TextKernels.AudioHop - 1}) div ${graft.functions.TextKernels.AudioHop}"), lit(1L))
          .cast("long").as("n_windows"),
        graft.functions.TextKernelFunctions.aphash60($"txt").as("ahash"))
      .orderBy($"doc_id")

  /** Shared CTE computing `aph(doc_id, ahash)`: windows by unnested
    * range, per-window bigram histogram, peak pick (count desc, bin
    * asc), SimHash vote fold — the kernel unrolled for DuckDB. */
  private def sqlAudioCte: String = {
    val win = graft.functions.TextKernels.AudioWin
    val hop = graft.functions.TextKernels.AudioHop
    s"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
       |awin AS (SELECT doc_id, w AS win_no, substr(text, w * $hop + 1, $win) AS wtxt
       |  FROM (SELECT doc_id, text, n,
       |          unnest(range(0, greatest((n + ${hop - 1}) // $hop, 1))) AS w
       |        FROM d)),
       |aix AS (SELECT doc_id, win_no, wtxt, unnest(range(0, length(wtxt) - 1)) AS i FROM awin),
       |ach AS (SELECT doc_id, win_no,
       |    (ord(substr(wtxt, i + 1, 1)) * 131 + ord(substr(wtxt, i + 2, 1))) % 61 AS bk
       |  FROM aix),
       |abc AS (SELECT doc_id, win_no, bk, count(*)::BIGINT AS c FROM ach GROUP BY 1, 2, 3),
       |apk1 AS (SELECT doc_id, win_no, bk, row_number() OVER (
       |    PARTITION BY doc_id, win_no ORDER BY c DESC, bk) AS rn FROM abc),
       |apk AS (SELECT w.doc_id, w.win_no, coalesce(p.bk, 0)::BIGINT AS pbk
       |  FROM awin w LEFT JOIN (SELECT doc_id, win_no, bk FROM apk1 WHERE rn = 1) p
       |    ON w.doc_id = p.doc_id AND w.win_no = p.win_no),
       |apv AS (SELECT doc_id, pbk, count(*)::BIGINT AS c,
       |    ('0x' || substr(sha256('apk:' || pbk), 1, 15))::BIGINT AS hv
       |  FROM apk GROUP BY 1, 2),
       |abits AS (SELECT doc_id, j,
       |    sum(CASE WHEN (hv >> j::INTEGER) & 1 = 1 THEN c ELSE -c END) AS v
       |  FROM apv, range(0, 60) r(j) GROUP BY 1, 2),
       |aph AS (SELECT doc_id,
       |    sum(CASE WHEN v > 0 THEN (1::BIGINT << j::INTEGER) ELSE 0::BIGINT END)::BIGINT AS ahash
       |  FROM abits GROUP BY 1)
       |""".stripMargin
  }

  val sqlAudioPhash: String = {
    val hop = graft.functions.TextKernels.AudioHop
    sqlAudioCte +
      s"""SELECT d.doc_id,
         |  greatest((d.n + ${hop - 1}) // $hop, 1)::BIGINT AS n_windows,
         |  aph.ahash
         |FROM d JOIN aph USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** Unordered audio near-dup pair set (see [[imageNeardupCore]]):
    * hamming(ahash) ≤ 3 via the chunk pigeonhole bucket join. */
  def audioNeardupCore(spark: SparkSession, dir: String): DataFrame = {
    val base = Scratch.persist(audioFrame(payloadTable(spark, dir)))
    base.count() // eager, both join sides read one materialization
    Dedup.chunkBucketPairs(base, "ahash")
  }

  def qAudioNeardup(spark: SparkSession, dir: String): DataFrame =
    audioNeardupCore(spark, dir).orderBy($"doc_a", $"doc_b")

  /** Oracle: exact all-pairs hamming ≤ 3 (pigeonhole recall). */
  val sqlAudioNeardup: String = sqlAudioCte +
    s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  bit_count(xor(a.ahash, b.ahash))::BIGINT AS hamming
       |FROM aph a JOIN aph b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------------
  // Cross-modal dedup verdict — the integration step a multimodal
  // training-data pipeline actually ships: near-dup evidence from ALL
  // modalities (text MinHash-LSH X2, perceptual payload hash X113,
  // shared video frames X117) merges into ONE edge set, connected
  // components elect a canonical keeper per cluster, and each document
  // gets a keep/drop verdict plus which modalities implicated it —
  // so a doc dropped for image-level duplication is auditable as such
  // even when its text passed. Scale shape: each evidence family
  // already generates pairs via hash/band/chunk keys (no all-pairs
  // anywhere); the union is |edges|-sized; min-label propagation is
  // the [[Clustering.connectedComponents]] loop (diameter-bounded slim
  // (long, long) shuffles); the verdict join is doc-keyed.
  // ------------------------------------------------------------------
  /** (tagged evidence edges, component labels), cached by
    * [[graft.core.Memo]] — the [[Clustering.dupLabels]] warm-store
    * stance: in a deployed pipeline the cross-modal evidence and its
    * closure are written once per corpus snapshot and every verdict
    * consumer reads them. */
  def modalEvidence(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    Memo.once(spark, dir, "Multimodal.modalEvidence", (s: (DataFrame, DataFrame)) => {
      s._1.unpersist(); s._2.unpersist()
    })({
      val tagged = Dedup.minhashLshPairsCore(spark, dir)
        .select($"doc_a", $"doc_b", lit("text").as("m"))
        .unionByName(imageNeardupCore(spark, dir)
          .select($"doc_a", $"doc_b", lit("image").as("m")))
        .unionByName(videoNeardupCore(spark, dir)
          .select($"doc_a", $"doc_b", lit("video").as("m")))
        .unionByName(audioNeardupCore(spark, dir)
          .select($"doc_a", $"doc_b", lit("audio").as("m")))
        .persist()
      tagged.count() // eager, so every consumer reads the materialized store
      val edges = tagged.select($"doc_a".as("a"), $"doc_b".as("b")).distinct()
      // perceptual edges can CHAIN (A≈B≈C without A≈C), so this graph's
      // diameter is not the tiny-dense-family bound of the pure-text
      // case — give min-label propagation a deeper (still cheap:
      // lineage-truncated) round budget
      val labels = Clustering.connectedComponents(edges, maxRounds = 64)
        .select($"id".as("doc_id"), $"label")
        .persist()
      labels.count()
      (tagged, labels)
    })

  def qModalDedup(spark: SparkSession, dir: String): DataFrame = {
    val (tagged, labels) = modalEvidence(spark, dir)
    val via = tagged
      .select(explode(array($"doc_a", $"doc_b")).as("doc_id"), $"m")
      .groupBy($"doc_id")
      .agg((sum(when($"m" === "text", 1).otherwise(0)) > 0).as("via_text"),
        (sum(when($"m" === "image", 1).otherwise(0)) > 0).as("via_image"),
        (sum(when($"m" === "video", 1).otherwise(0)) > 0).as("via_video"),
        (sum(when($"m" === "audio", 1).otherwise(0)) > 0).as("via_audio"))
    Tables.documentsSharded(spark, dir).select($"doc_id")
      .join(labels, Seq("doc_id"), "left")
      .join(via, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"label", $"doc_id").as("cluster_id"),
        (coalesce($"label", $"doc_id") === $"doc_id").as("kept"),
        coalesce($"via_text", lit(false)).as("via_text"),
        coalesce($"via_image", lit(false)).as("via_image"),
        coalesce($"via_video", lit(false)).as("via_video"),
        coalesce($"via_audio", lit(false)).as("via_audio"))
      .orderBy($"doc_id")
  }

  /** Oracle: the three pair oracles unioned, transitive closure by
    * recursive CTE (the [[Clustering.sqlDedupDecision]] shape), plus
    * per-doc modality incidence flags. */
  val sqlModalDedup: String =
    s"""WITH RECURSIVE tp AS (${Dedup.sqlMinhashLshPairs}),
       |ip AS ($sqlImageNeardupPairs),
       |vp AS ($sqlVideoNeardup),
       |ap AS ($sqlAudioNeardup),
       |tag AS (
       |  SELECT doc_a, doc_b, 'text' AS m FROM tp
       |  UNION ALL SELECT doc_a, doc_b, 'image' AS m FROM ip
       |  UNION ALL SELECT doc_a, doc_b, 'video' AS m FROM vp
       |  UNION ALL SELECT doc_a, doc_b, 'audio' AS m FROM ap),
       |edges AS (
       |  SELECT DISTINCT doc_a AS src, doc_b AS dst FROM tag
       |  UNION SELECT DISTINCT doc_b AS src, doc_a AS dst FROM tag),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
       |labels AS (SELECT id AS doc_id, min(r) AS label FROM reach GROUP BY 1),
       |via AS (SELECT doc_id,
       |    bool_or(m = 'text') AS via_text,
       |    bool_or(m = 'image') AS via_image,
       |    bool_or(m = 'video') AS via_video,
       |    bool_or(m = 'audio') AS via_audio
       |  FROM (SELECT doc_a AS doc_id, m FROM tag
       |        UNION ALL SELECT doc_b AS doc_id, m FROM tag)
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(l.label, d.doc_id) AS cluster_id,
       |  coalesce(l.label, d.doc_id) = d.doc_id AS kept,
       |  coalesce(v.via_text, false) AS via_text,
       |  coalesce(v.via_image, false) AS via_image,
       |  coalesce(v.via_video, false) AS via_video,
       |  coalesce(v.via_audio, false) AS via_audio
       |FROM documents d LEFT JOIN labels l USING (doc_id)
       |  LEFT JOIN via v USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Incremental cross-modal dedup (X126) — X125's production merge
  // applied to the CROSS-MODAL label store (X118): per incoming batch,
  // generate only the batch-touching near-dup edges in each modality
  // and merge them into the persisted modal labels via
  // [[Clustering.mergeEdgesIntoLabels]]; the corpus is never re-closed.
  // Text (LSH+Jaccard) and image (phash pigeonhole) evidence are
  // PAIRWISE properties, so their touching-pair sets compose exactly
  // with the stored corpus-within pairs (the X125 decomposition).
  // Video evidence is NOT pairwise — the boilerplate-frame guard
  // (frames in > MaxFrameDocs docs are excluded) depends on the whole
  // index — so the merge judges video pairs with the frame index AS OF
  // MERGE TIME (corpus ∪ this batch): monotone merge semantics, i.e. a
  // frame that later crosses the cap stops forming NEW pairs but never
  // retracts clusters it already merged — exactly how a production
  // union-find dedup store behaves. The oracle replays those exact
  // semantics through an independent DuckDB computation (exact
  // all-pairs faces, split rarity bases); the monotonicity itself is
  // spec-pinned with a synthetic cap-crossing frame in MultimodalSpec.
  // Scale shape per batch: three hash-keyed probe joins (band keys,
  // phash chunks, frame hashes), one slim (fhash) count aggregate for
  // the index refresh (standing in for an incremental count-merge —
  // identical output), and a contracted closure bounded by the batch's
  // touch set.
  // ------------------------------------------------------------------

  /** Phash near-dup pairs TOUCHING the batch (batch×corpus ∪
    * batch×batch), hamming ≤ 3 via the 4×15-bit chunk pigeonhole —
    * [[Dedup.chunkBucketPairs]] decomposed the way [[Dedup.edgesOf]]
    * decomposes the LSH pairs. Canonical (least, greatest) output. */
  private[graft] def phashPairsTouching(batchPh: DataFrame,
      corpusPh: DataFrame, hashCol: String = "phash"): DataFrame = {
    def ck(df: DataFrame, id: String) = Dedup.chunkKeys(df, hashCol)
      .select($"doc_id".as(id), $"_h".as(s"${id}_h"), $"chunk", $"ckey")
    val cross = ck(batchPh, "a").join(ck(corpusPh, "b"), Seq("chunk", "ckey"))
    val within = ck(batchPh, "a").join(ck(batchPh, "b"), Seq("chunk", "ckey"))
      .filter($"a" < $"b")
    cross.select($"a", $"b", $"a_h", $"b_h")
      .unionByName(within.select($"a", $"b", $"a_h", $"b_h"))
      .select(least($"a", $"b").as("doc_a"), greatest($"a", $"b").as("doc_b"),
        bit_count($"a_h".bitwiseXOR($"b_h")).cast("long").as("hamming"))
      .distinct()
      .filter($"hamming" <= 3)
      .select($"doc_a", $"doc_b")
  }

  /** Shared-frame pairs TOUCHING the batch, rarity judged over `allF`
    * (the merge-time index). `cap` parameterized for the spec's
    * cap-crossing scenario. Canonical (least, greatest) output. */
  private[graft] def videoPairsTouching(batchF: DataFrame, allF: DataFrame,
      cap: Int = MaxFrameDocs): DataFrame = {
    val rare = allF.groupBy($"fhash").agg(count(lit(1)).as("n_docs"))
      .filter($"n_docs" <= cap).select($"fhash")
    val keptAll = allF.join(rare, Seq("fhash"))
    val keptB = batchF.join(rare, Seq("fhash"))
    keptB.as("a")
      .join(keptAll.as("b"), col("a.fhash") === col("b.fhash") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"), col("a.fhash"))
      .distinct() // one row per (pair, frame); batch-batch seen twice
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("sf"))
      .filter($"sf" >= VideoMinShared)
      .select($"doc_a", $"doc_b")
  }

  /** Persisted pre-batch modal state: the phash store, the distinct
    * frame postings, the tagged corpus-within pair families, and their
    * closure — what a production multimodal pipeline holds between
    * batches (the [[Clustering.incrementalStore]] stance).
    * Text/image corpus pairs reuse the already-warm full-pair stores
    * filtered to corpus endpoints (exact, by pairwise decomposition);
    * video corpus pairs are recomputed with corpus-only rarity. */
  final case class IncModalStore(ph: DataFrame, fr: DataFrame,
      aph: DataFrame, corpusTagged: DataFrame, corpusLabels: DataFrame)

  private def isIncoming(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c % Dedup.IncomingMod === lit(Dedup.IncomingRem)

  def incModalStore(spark: SparkSession, dir: String): IncModalStore =
    Memo.once(spark, dir, "Multimodal.incModalStore", (s: IncModalStore) => {
      s.ph.unpersist(); s.fr.unpersist(); s.aph.unpersist()
      s.corpusTagged.unpersist(); s.corpusLabels.unpersist()
    })({
      val ph = phashFrame(payloadTable(spark, dir)).persist()
      ph.count()
      val fr = framePhashes(spark, dir).select($"doc_id", $"fhash").distinct()
        .persist()
      fr.count()
      val aph = audioFrame(payloadTable(spark, dir)).persist()
      aph.count()
      val corpusText = Dedup.minhashLshPairsCore(spark, dir)
        .filter(!isIncoming($"doc_a") && !isIncoming($"doc_b"))
        .select($"doc_a", $"doc_b", lit("text").as("m"))
      val corpusImage = imageNeardupCore(spark, dir)
        .filter(!isIncoming($"doc_a") && !isIncoming($"doc_b"))
        .select($"doc_a", $"doc_b", lit("image").as("m"))
      val frC = fr.filter(!isIncoming($"doc_id"))
      val corpusVideo = videoPairsTouching(frC, frC)
        .select($"doc_a", $"doc_b", lit("video").as("m"))
      // audio evidence is pairwise (chunk pigeonhole), so the corpus-
      // within family composes exactly like image — and the chunk join
      // reads the store's OWN persisted aph frame rather than paying
      // audioNeardupCore's separate materialization of the same plan
      val corpusAudio = Dedup.chunkBucketPairs(aph, "ahash")
        .filter(!isIncoming($"doc_a") && !isIncoming($"doc_b"))
        .select($"doc_a", $"doc_b", lit("audio").as("m"))
      val corpusTagged = corpusText.unionByName(corpusImage)
        .unionByName(corpusVideo).unionByName(corpusAudio).persist()
      corpusTagged.count()
      val corpusLabels = Clustering.connectedComponents(
        corpusTagged.select($"doc_a".as("a"), $"doc_b".as("b")).distinct(),
        maxRounds = 64)
      IncModalStore(ph, fr, aph, corpusTagged, corpusLabels)
    })

  // ------------------------------------------------------------------
  // Retraction face of the modal store pair (X164 — the X128 argument
  // extended to multimodal evidence): takedown of an image/video doc
  // must leave NOTHING probeable — its perceptual hashes leave the
  // phash index, its frame fingerprints leave the frame index, its
  // evidence pairs leave the tagged store, and if it was clustered its
  // component re-closes over the SURVIVOR pairs only (bounded: one
  // component, never the corpus — the X128 splice). Stored survivor
  // pairs stay valid under retraction by the X126 merge-time index
  // semantics: text/image families are pairwise, and a removal only
  // SHRINKS video rarity bases (a frame can become rarer, never less
  // rare), so no stored pair loses its justification — future merges
  // evaluate rarity against the trimmed index, exactly the merge-time
  // contract. Returns a NEW store view; the memoized inputs are left
  // untouched (long-running maintainers flatten per batch, the
  // LabelMaintenance discipline). The sub-closure release rides the
  // pendingMergeClosures registry like every merge face.
  // ------------------------------------------------------------------
  def retractModalDoc(st: IncModalStore, docId: Long): IncModalStore = {
    val ph2 = st.ph.filter($"doc_id" =!= docId)
    val fr2 = st.fr.filter($"doc_id" =!= docId)
    val aph2 = st.aph.filter($"doc_id" =!= docId)
    val tagged2 = st.corpusTagged
      .filter($"doc_a" =!= docId && $"doc_b" =!= docId)
    // ≤1-row bounded model read (the kmeans read-back stance)
    val hit = st.corpusLabels.filter($"id" === docId).select("label").collect()
    val labels2 =
      if (hit.isEmpty) st.corpusLabels // unclustered: index-only trim
      else {
        val label = hit.head.getLong(0)
        // survivor pairs: every stored pair lies within one component
        // by construction, so the semi-join on one endpoint suffices
        val members = st.corpusLabels
          .filter($"label" === lit(label) && $"id" =!= docId)
          .select($"id".as("doc_a"))
        val survivorPairs = tagged2
          .join(members, Seq("doc_a"), "left_semi")
          .select($"doc_a".as("a"), $"doc_b".as("b")).distinct()
        Clustering.retractFromLabels(
          st.corpusLabels.filter($"id" =!= docId), label, survivorPairs)
      }
    IncModalStore(ph2, fr2, aph2, tagged2, labels2)
  }

  // ------------------------------------------------------------------
  // Gate: merge the incoming batch's cross-modal evidence into the
  // persisted store; emit the full per-doc verdict (cluster, keeper,
  // per-modality incidence, origin) — the same face as q_modal_dedup,
  // produced WITHOUT re-closing the corpus.
  // ------------------------------------------------------------------
  def qIncrementalModal(spark: SparkSession, dir: String): DataFrame = {
    val st = incModalStore(spark, dir)
    val textSt = Clustering.incrementalStore(spark, dir)
    val newText = Dedup.edgesOf(textSt.batchSig, textSt.corpusSig)
      .select(least($"a", $"b").as("doc_a"), greatest($"a", $"b").as("doc_b"),
        lit("text").as("m"))
    val newImage = phashPairsTouching(
        st.ph.filter(isIncoming($"doc_id")), st.ph.filter(!isIncoming($"doc_id")))
      .select($"doc_a", $"doc_b", lit("image").as("m"))
    val newVideo = videoPairsTouching(st.fr.filter(isIncoming($"doc_id")), st.fr)
      .select($"doc_a", $"doc_b", lit("video").as("m"))
    val newAudio = phashPairsTouching(
        st.aph.filter(isIncoming($"doc_id")), st.aph.filter(!isIncoming($"doc_id")),
        hashCol = "ahash")
      .select($"doc_a", $"doc_b", lit("audio").as("m"))
    // materialize the batch's four probe-join families ONCE: the edge
    // merge and the incidence aggregate below both read them (scratch-
    // tracked so the harness releases it at query exit)
    val newTagged = Scratch.persist(
      newText.unionByName(newImage).unionByName(newVideo)
        .unionByName(newAudio))
    newTagged.count()
    val labels = Clustering.mergeEdgesIntoLabels(
      newTagged.select($"doc_a".as("a"), $"doc_b".as("b")).distinct(),
      st.corpusLabels)
    val tagged = st.corpusTagged.unionByName(newTagged)
    val via = tagged
      .select(explode(array($"doc_a", $"doc_b")).as("doc_id"), $"m")
      .groupBy($"doc_id")
      .agg((sum(when($"m" === "text", 1).otherwise(0)) > 0).as("via_text"),
        (sum(when($"m" === "image", 1).otherwise(0)) > 0).as("via_image"),
        (sum(when($"m" === "video", 1).otherwise(0)) > 0).as("via_video"),
        (sum(when($"m" === "audio", 1).otherwise(0)) > 0).as("via_audio"))
    Tables.documentsSharded(spark, dir).select($"doc_id")
      .join(labels.select($"id".as("doc_id"), $"label"), Seq("doc_id"), "left")
      .join(via, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"label", $"doc_id").as("cluster_id"),
        (coalesce($"label", $"doc_id") === $"doc_id").as("kept"),
        coalesce($"via_text", lit(false)).as("via_text"),
        coalesce($"via_image", lit(false)).as("via_image"),
        coalesce($"via_video", lit(false)).as("via_video"),
        coalesce($"via_audio", lit(false)).as("via_audio"),
        when(isIncoming($"doc_id"), lit("incoming")).otherwise(lit("corpus"))
          .as("origin"))
      .orderBy($"doc_id")
  }

  /** Oracle: the merge-time semantics replayed independently — exact
    * all-pairs text/image faces (their pairwise decomposition makes
    * corpus-within ∪ touching = all pairs), video pairs with SPLIT
    * rarity bases (corpus-only for the stored within-corpus family,
    * full-index for the batch-touching family), one recursive-CTE
    * closure over the union. */
  val sqlIncrementalModal: String = {
    val mod = Dedup.IncomingMod
    val rem = Dedup.IncomingRem
    "WITH RECURSIVE " + sqlFramePhashCte.trim.stripPrefix("WITH ") +
      s""",
       |f AS (SELECT DISTINCT doc_id, fhash FROM fph),
       |rc AS (SELECT fhash FROM f WHERE doc_id % $mod <> $rem
       |  GROUP BY 1 HAVING count(*) <= $MaxFrameDocs),
       |rf AS (SELECT fhash FROM f GROUP BY 1 HAVING count(*) <= $MaxFrameDocs),
       |vp_c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM f a JOIN f b ON a.fhash = b.fhash AND a.doc_id < b.doc_id
       |  JOIN rc ON rc.fhash = a.fhash
       |  WHERE a.doc_id % $mod <> $rem AND b.doc_id % $mod <> $rem
       |  GROUP BY 1, 2 HAVING count(*) >= $VideoMinShared),
       |vp_t AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM f a JOIN f b ON a.fhash = b.fhash AND a.doc_id < b.doc_id
       |  JOIN rf ON rf.fhash = a.fhash
       |  WHERE a.doc_id % $mod = $rem OR b.doc_id % $mod = $rem
       |  GROUP BY 1, 2 HAVING count(*) >= $VideoMinShared),
       |tp AS (${Dedup.sqlMinhashLshPairs}),
       |ip AS ($sqlImageNeardupPairs),
       |ap AS ($sqlAudioNeardup),
       |tag AS (
       |  SELECT doc_a, doc_b, 'text' AS m FROM tp
       |  UNION ALL SELECT doc_a, doc_b, 'image' AS m FROM ip
       |  UNION ALL SELECT doc_a, doc_b, 'audio' AS m FROM ap
       |  UNION ALL SELECT doc_a, doc_b, 'video' AS m FROM vp_c
       |  UNION ALL SELECT doc_a, doc_b, 'video' AS m FROM vp_t),
       |edges AS (
       |  SELECT DISTINCT doc_a AS src, doc_b AS dst FROM tag
       |  UNION SELECT DISTINCT doc_b AS src, doc_a AS dst FROM tag),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
       |labels AS (SELECT id AS doc_id, min(r) AS label FROM reach GROUP BY 1),
       |via AS (SELECT doc_id,
       |    bool_or(m = 'text') AS via_text,
       |    bool_or(m = 'image') AS via_image,
       |    bool_or(m = 'video') AS via_video,
       |    bool_or(m = 'audio') AS via_audio
       |  FROM (SELECT doc_a AS doc_id, m FROM tag
       |        UNION ALL SELECT doc_b AS doc_id, m FROM tag)
       |  GROUP BY 1)
       |SELECT docs.doc_id,
       |  coalesce(l.label, docs.doc_id)::BIGINT AS cluster_id,
       |  coalesce(l.label, docs.doc_id) = docs.doc_id AS kept,
       |  coalesce(v.via_text, false) AS via_text,
       |  coalesce(v.via_image, false) AS via_image,
       |  coalesce(v.via_video, false) AS via_video,
       |  coalesce(v.via_audio, false) AS via_audio,
       |  CASE WHEN docs.doc_id % $mod = $rem THEN 'incoming' ELSE 'corpus' END AS origin
       |FROM (SELECT doc_id FROM documents) docs
       |LEFT JOIN labels l ON l.doc_id = docs.doc_id
       |LEFT JOIN via v ON v.doc_id = docs.doc_id
       |ORDER BY docs.doc_id""".stripMargin
  }
}
