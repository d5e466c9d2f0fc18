package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Memo, Scratch}
import graft.io.DirSwap
import graft.sources.Tables

/**
 * Similarity search over the `embeddings` table (vec_id,
 * embedding float[64], label) — driver-mandated ANN surface.
 *
 * Two paths, same contract:
 *  - brute-force cosine top-k: the exactness baseline. Query set is
 *    broadcast; the corpus streams through executors — one scan, no
 *    corpus shuffle, O(|Q|·|C|) math. Right answer, linear cost.
 *  - random-hyperplane LSH buckets: the 100 TB path. Each vector maps
 *    to a bucket id by the sign pattern of 4 fixed hyperplanes;
 *    candidates collide per-bucket (shuffle on bucket id only), then
 *    exact cosine ranks within the bucket.
 *
 * Cosine is computed with explicit left-to-right folds so the DuckDB
 * oracle (same fold) is bit-identical — see cosineCol/sqlCosine.
 */
object Similarity {
  import Relational.ColInterp

  val NumPlanes = 4
  val Dims = 64
  val TopK = 5

  /** JVM twin of Hashing.h60 (driver-side constant generation). */
  private def h60Jvm(s: String): Long =
    java.lang.Long.parseLong(
      MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
        .take(8).map(b => f"$b%02x").mkString.substring(0, 15), 16)

  /** Deterministic hyperplanes: component (p,d) = h60("p,d") mapped to
    * an integer in [-1000, 1000] (exact in double, exact in SQL text —
    * the same constants are embedded in the oracle SQL). */
  def planesFor(numPlanes: Int): Seq[Seq[Double]] =
    (0 until numPlanes).map(p => (1 to Dims).map(d => (h60Jvm(s"$p,$d") % 2001 - 1000).toDouble))

  val planes: Seq[Seq[Double]] = planesFor(NumPlanes)

  /** Native codegen'd dot product (graft.functions.DotProduct) — the
    * strict left fold `(((0.0 + x₁y₁) + x₂y₂) + …)`, bit-identical to
    * the zip_with/aggregate formulation it replaced but inside
    * whole-stage codegen instead of interpreted lambda dispatch. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotProduct(a, b)

  /** Cosine similarity of two array<double> columns, fold-ordered.
    * NULL when either vector has norm 0, as in SQL (`try_divide`: the
    * division's own zero check, NULL instead of ANSI's error). */
  def cosineCol(a: Column, b: Column): Column =
    try_divide(dot(a, b), sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Fold-ordered L2 norm — precomputed per vector so pair joins do one
    * dot product per candidate instead of three. Bit-identical to
    * [[cosineCol]]: same fold, same sqrt, same multiply. */
  def normCol(v: Column): Column = sqrt(dot(v, v))

  /** Cosine from a shared dot fold and precomputed norms; NULL for a
    * zero norm, as [[cosineCol]]. */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    try_divide(dot(a, b), na * nb)

  /** LSH bucket id: bit p set iff dot(v, plane_p) > 0. */
  def bucketCol(v: Column): Column =
    (0 until NumPlanes).map { p =>
      when(dot(v, typedLit(planes(p))) > 0, 1 << p).otherwise(0)
    }.reduce(_ + _).cast("int")

  private[graft] def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddingsSharded(spark, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))

  // ------------------------------------------------------------------
  // Brute-force cosine top-k: queries (vec_id < 10) broadcast against
  // the full corpus.
  // ------------------------------------------------------------------
  def qKnnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val corpus = vecs(spark, dir).withColumn("nv", normCol($"v"))
    val queries = corpus.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nv".as("nq"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    corpus.join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosineWithNorms($"qv", $"v", $"nq", $"nv").as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= TopK)
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"cosine")
      .orderBy($"query_id", $"rank")
  }

  // ------------------------------------------------------------------
  // Hard-negative mining: for each query, the most-similar vectors
  // with a DIFFERENT label — the contrastive-training data-prep step
  // (a hard negative is near in embedding space but semantically
  // other). Same broadcast-queries / one-corpus-scan shape as the
  // brute top-k; the label inequality rides the join condition so
  // same-label rows never reach the ranking window.
  // ------------------------------------------------------------------
  def qHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddingsSharded(spark, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"), $"label")
      .withColumn("nv", normCol($"v"))
    val queries = base.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nv".as("nq"),
        $"label".as("q_label"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    base.join(broadcast(queries), $"label" =!= $"q_label")
      .select($"query_id", $"q_label", $"vec_id", $"label".as("neg_label"),
        cosineWithNorms($"qv", $"v", $"nq", $"nv").as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"query_id", $"rank", $"vec_id".as("negative_id"),
        $"q_label", $"neg_label", $"cosine")
      .orderBy($"query_id", $"rank")
  }

  val sqlHardNegatives: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
       |c AS (SELECT q.vec_id AS query_id, q.label AS q_label,
       |        v.vec_id AS negative_id, v.label AS neg_label,
       |        ${sqlCosine("q.v", "v.v")} AS cosine
       |      FROM v q JOIN v ON q.vec_id < 10 AND v.label <> q.label)
       |SELECT query_id, rank, negative_id, q_label, neg_label, cosine FROM (
       |  SELECT query_id, q_label, negative_id, neg_label, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, negative_id) AS rank
       |  FROM c)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------------------------
  // Reciprocal-rank-fusion hybrid retrieval (Cormack, Clarke &
  // Büttcher 2009): fuse the lexical BM25 ranking over document TEXT
  // with the dense cosine ranking over document EMBEDDINGS —
  // rrf(d) = Σ_lists 1/(k + rank_list(d)), k = 60 — the standard
  // hybrid-search scorer (a doc missing from one list contributes
  // nothing for it). Query ids are shared: doc_id < NumQueries on the
  // text side, the same ids as vec_id on the vector side.
  //
  // Float law: each 1/(60+rank) is one correctly-rounded IEEE divide
  // of exact small integers, and the fused score is one addition of
  // two such doubles — bit-identical across engines; ties break on
  // doc_id. Scale shape: both input rankings are depth-bounded per
  // query (WindowGroupLimit), so the fusion join keys on
  // (query_id, doc_id) over ≤ 2·depth rows per query — the fusion
  // itself adds no corpus-sized work to either ranker.
  // ------------------------------------------------------------------
  val RrfK = 60L
  val RrfDepth = 20
  val RrfTopK = 5

  def qRrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSharded(spark, dir)
      .select($"doc_id", graft.functions.Hashing.tokens($"text").as("t"))
    val text = TextOps.bm25TopK(docs.select($"doc_id".as("pid"), $"t"),
        TextOps.bm25Queries(docs), RrfDepth)
      .select($"query_id", $"pid".as("doc_id"), $"rank".as("text_rank"))
    val base = Tables.embeddingsSharded(spark, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("nv", normCol($"v"))
    val queries = base.filter($"vec_id" < TextOps.NumQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nv".as("nq"))
    val wv = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    val vec = base.join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosineWithNorms($"qv", $"v", $"nq", $"nv").as("cosine"))
      .withColumn("vec_rank", row_number().over(wv).cast("long"))
      .filter($"vec_rank" <= RrfDepth)
      .select($"query_id", $"vec_id".as("doc_id"), $"vec_rank")
    val w = Window.partitionBy($"query_id").orderBy($"rrf_score".desc, $"doc_id")
    text.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(RrfK) + $"text_rank").cast("double"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + $"vec_rank").cast("double"), lit(0.0)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= RrfTopK)
      .select($"query_id", $"rank", $"doc_id", $"rrf_score",
        $"text_rank", $"vec_rank")
      .orderBy($"query_id", $"rank")
  }

  val sqlRrfFusion: String = {
    val t = graft.functions.Hashing.sqlTokens("text")
    s"""WITH tok AS (SELECT doc_id, $t AS t FROM documents),
       |n AS (SELECT count(*)::BIGINT AS nd, sum(len(t))::BIGINT AS tt FROM tok),
       |tf AS (
       |  SELECT doc_id, term, count(*)::BIGINT AS tf, max(dl)::BIGINT AS dl
       |  FROM (SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS term FROM tok)
       |  GROUP BY 1, 2),
       |stats AS (
       |  SELECT doc_id, term, tf, dl,
       |    (count(*) OVER (PARTITION BY term))::BIGINT AS df
       |  FROM tf),
       |q AS (
       |  SELECT query_id, term, count(*)::BIGINT AS qtf
       |  FROM (SELECT doc_id AS query_id,
       |          unnest(list_slice(t, 1, ${TextOps.QueryLen})) AS term
       |        FROM tok WHERE doc_id < ${TextOps.NumQueries}) GROUP BY 1, 2),
       |hit AS (
       |  SELECT query_id, s.doc_id, s.term,
       |    (qtf * (2 * nd - 2 * df + 1) * 22 * tf * tt)::DOUBLE
       |      / ((2 * df + 1) * (10 * tf * tt + 3 * tt + 9 * dl * nd))::DOUBLE AS s
       |  FROM stats s JOIN q USING (term) CROSS JOIN n),
       |agg AS (
       |  SELECT query_id, doc_id,
       |    ${sqlFsum(s"list(s ORDER BY term)")} AS score
       |  FROM hit GROUP BY 1, 2),
       |txt AS (
       |  SELECT query_id, doc_id, rank AS text_rank FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
       |    FROM agg)
       |  WHERE rank <= $RrfDepth),
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (SELECT q.vec_id AS query_id, v.vec_id AS doc_id,
       |        ${sqlCosine("q.v", "v.v")} AS cosine
       |      FROM v q JOIN v ON q.vec_id < ${TextOps.NumQueries} AND v.vec_id <> q.vec_id),
       |vec AS (
       |  SELECT query_id, doc_id, rank AS vec_rank FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rank
       |    FROM c)
       |  WHERE rank <= $RrfDepth),
       |fused AS (
       |  SELECT query_id, doc_id,
       |    coalesce(1.0::DOUBLE / ($RrfK + text_rank)::DOUBLE, 0.0::DOUBLE)
       |      + coalesce(1.0::DOUBLE / ($RrfK + vec_rank)::DOUBLE, 0.0::DOUBLE) AS rrf_score,
       |    text_rank, vec_rank
       |  FROM txt FULL JOIN vec USING (query_id, doc_id))
       |SELECT query_id, rank, doc_id, rrf_score, text_rank, vec_rank FROM (
       |  SELECT query_id, doc_id, rrf_score, text_rank, vec_rank,
       |    row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank
       |  FROM fused)
       |WHERE rank <= $RrfTopK ORDER BY query_id, rank""".stripMargin
  }

  // -- DuckDB mirrors ------------------------------------------------

  /** DuckDB: strict left-fold sum over a DOUBLE list expression. */
  def sqlFsum(l: String): String =
    s"list_reduce([0.0::DOUBLE] || ($l), (acc, x) -> acc + x)"

  /** DuckDB cosine between DOUBLE[] expressions `a` and `b`, same fold
    * order as [[cosineCol]]. */
  def sqlCosine(a: String, b: String): String = {
    val dot = sqlFsum(s"list_transform(range(1, $Dims + 1), i -> ($a)[i] * ($b)[i])")
    val na = sqlFsum(s"list_transform(($a), x -> x * x)")
    val nb = sqlFsum(s"list_transform(($b), x -> x * x)")
    s"($dot) / (sqrt($na) * sqrt($nb))"
  }

  private def sqlPlane(p: Int): String =
    // components are exact integers in [-1000, 1000]; emit them
    // locale-independently (f"%.1f" would print '-713,0' under a
    // comma-decimal default locale and break the oracle SQL)
    planes(p).map(c => c.toLong.toString + ".0").mkString("[", ", ", "]::DOUBLE[]")

  /** DuckDB LSH bucket id of DOUBLE[] expression `v`. */
  def sqlBucket(v: String): String =
    (0 until NumPlanes).map { p =>
      val dot = sqlFsum(s"list_transform(range(1, $Dims + 1), i -> ($v)[i] * (${sqlPlane(p)})[i])")
      s"(CASE WHEN ($dot) > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("(", " + ", ")::INTEGER")

  val sqlKnnBruteForce: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       |        ${sqlCosine("q.v", "v.v")} AS cosine
       |      FROM v q JOIN v ON q.vec_id < 10 AND v.vec_id <> q.vec_id)
       |SELECT query_id, rank, neighbor_id, cosine FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM c)
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------------------------
  // ANN via LSH buckets: shuffle on bucket id only, exact cosine
  // within bucket, top-3 per query. Recall vs brute force is asserted
  // in the ScalaTest spec; the oracle checks determinism of the
  // full pipeline.
  // ------------------------------------------------------------------
  def qAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val base = vecs(spark, dir)
      .withColumn("bucket", bucketCol($"v"))
      .withColumn("nv", normCol($"v"))
    val queries = base.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nv".as("nq"), $"bucket")
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    base.join(broadcast(queries), Seq("bucket"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosineWithNorms($"qv", $"v", $"nq", $"nv").as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"cosine")
      .orderBy($"query_id", $"rank")
  }

  val sqlAnnLsh: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |             ${sqlBucket("embedding::DOUBLE[]")} AS bucket
       |           FROM embeddings),
       |c AS (SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       |        ${sqlCosine("q.v", "v.v")} AS cosine
       |      FROM v q JOIN v ON q.bucket = v.bucket AND q.vec_id < 10 AND v.vec_id <> q.vec_id)
       |SELECT query_id, rank, neighbor_id, cosine FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM c)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------------------------
  // ANN via IVF cells: every vector is assigned to its nearest of
  // NumCells k-means centroids (argmax cosine, centroid-id tie-break);
  // a query probes its IvfNprobe nearest cells. The inverted-file
  // counterpart to the hyperplane LSH path: assignment is one
  // broadcast join against the centroids (K cosines per row, codegen'd
  // dot), then the search shuffles on cell id only. The centroids are
  // REAL seeded-k-means output, frozen as exact 2^-20-grid constants
  // ([[IvfGateCentroids]]) so the DuckDB oracle scores the identical
  // index — the k-means step is training work, run once per index
  // build, never per query. Each corpus vector lives in exactly one
  // cell, so the nprobe cells contribute disjoint candidate sets (no
  // dedup needed).
  // ------------------------------------------------------------------
  val NumCells = 8
  val IvfNprobe = 2
  /** 2^20: the centroid quantization denominator (exact in double). */
  private val CentDenom = (1L << 20).toDouble

  def ivfGateCentroids: Seq[Seq[Double]] =
    IvfGateCentroids.Nums.map(_.map(_ / CentDenom))

  def qAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val base = vecs(spark, dir).withColumn("nv", normCol($"v"))
    val cents = ivfGateCentroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("cent_id", "cv")
      .withColumn("ncv", normCol($"cv"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cent_id")
    // One ranking pass feeds both the inverted file (rk = 1) and the
    // query probe list (rk ≤ nprobe) — materialized once.
    val ranked = Scratch.persist(base.join(broadcast(cents))
      .select($"vec_id", $"v", $"nv", $"cent_id",
        cosineWithNorms($"v", $"cv", $"nv", $"ncv").as("ccos"))
      .withColumn("rk", row_number().over(wAssign))
      .filter($"rk" <= IvfNprobe))
    ranked.count() // eager: the inverted file + probe lists, built once
    val assigned = ranked.filter($"rk" === 1)
      .select($"vec_id", $"v", $"nv", $"cent_id".as("cell"))
    val queryCells = ranked.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"cent_id".as("cell"))
    val queries = ranked.filter($"vec_id" < 10 && $"rk" === 1)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nv".as("nq"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    assigned.join(broadcast(queryCells), Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .join(broadcast(queries), Seq("query_id"))
      .select($"query_id", $"vec_id",
        cosineWithNorms($"qv", $"v", $"nq", $"nv").as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"cosine")
      .orderBy($"query_id", $"rank")
  }

  val sqlAnnIvf: String = {
    val centRows = IvfGateCentroids.Nums.zipWithIndex.map { case (nums, i) =>
      s"($i, list_transform(${nums.mkString("[", ", ", "]")}, x -> x / ${CentDenom.toLong}.0))"
    }.mkString(",\n  ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c(cent_id, cv) AS (VALUES
       |  $centRows),
       |s AS (SELECT v.vec_id, v.v, c.cent_id,
       |        ${sqlCosine("v.v", "c.cv")} AS ccos
       |      FROM v CROSS JOIN c),
       |r AS (SELECT vec_id, v, cent_id,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rk
       |      FROM s),
       |a AS (SELECT vec_id, v, cent_id AS cell FROM r WHERE rk = 1),
       |qc AS (SELECT vec_id AS query_id, cent_id AS cell FROM r
       |       WHERE vec_id < 10 AND rk <= $IvfNprobe),
       |c2 AS (SELECT qc.query_id, a.vec_id AS neighbor_id,
       |        ${sqlCosine("q.v", "a.v")} AS cosine
       |      FROM qc JOIN a ON a.cell = qc.cell AND a.vec_id <> qc.query_id
       |      JOIN v q ON q.vec_id = qc.query_id)
       |SELECT query_id, rank, neighbor_id, cosine FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM c2)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  // ------------------------------------------------------------------
  // Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
  // cluster embeddings into k cells, call two same-cell members
  // semantic duplicates when their pairwise cosine clears a threshold,
  // and keep the centroid-nearest member of every duplicate relation.
  // A member is DROPPED iff some same-cell member that is MORE CENTRAL
  // (higher cosine-to-centroid; lower vec_id on exact ties) sits
  // within the threshold — a deterministic pairwise-dominance rule, so
  // both engines agree without replaying a greedy scan order. Scale
  // shape: assignment is the broadcast-centroid join of the IVF index
  // (k cosines per row, codegen'd dot); the pairwise check self-joins
  // WITHIN a cell only (SemDeDup's deliberate quadratic-in-cluster
  // step — k scales with the corpus in a real index build, keeping
  // cells bounded), shuffling slim (cell, vec) rows on cell id.
  // Centroids are the frozen seeded-k-means cells ([[IvfGateCentroids]])
  // so the DuckDB oracle scores the identical clustering.
  // ------------------------------------------------------------------
  val SemDedupThreshold = 0.4

  /** The parameterized face: the gate pins frozen centroids for oracle
    * determinism; a real index build passes [[ivfCentroids]] output
    * with k scaled to the corpus (constant expected cell size keeps
    * the within-cell pair check linear overall — the SemDeDup paper's
    * own deployment stance). */
  def semanticDedup(corpus: DataFrame, centroids: Seq[Seq[Double]],
                    threshold: Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val base = corpus.withColumn("nv", normCol($"v"))
    val cents = centroids.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cent_id", "cv")
      .withColumn("ncv", normCol($"cv"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cent_id")
    // materialized once: the self-join and the final keep/drop join
    // would otherwise re-run the corpus × centroids assignment pass
    // (broadcast cross + window) three times
    val assigned = Scratch.persist(base.join(broadcast(cents))
      .select($"vec_id", $"v", $"nv", $"cent_id",
        cosineWithNorms($"v", $"cv", $"nv", $"ncv").as("ccos"))
      .withColumn("rk", row_number().over(wAssign))
      .filter($"rk" === 1)
      .select($"vec_id", $"v", $"nv", $"cent_id".cast("long").as("cell"), $"ccos"))
    assigned.count()
    val dropped = assigned.as("x").join(assigned.as("y"),
        col("x.cell") === col("y.cell") &&
          (col("y.ccos") > col("x.ccos") ||
            (col("y.ccos") === col("x.ccos") && col("y.vec_id") < col("x.vec_id"))) &&
          cosineWithNorms(col("x.v"), col("y.v"), col("x.nv"), col("y.nv"))
            >= threshold,
        "leftsemi")
      .select($"vec_id", lit(true).as("is_dropped"))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select($"vec_id", $"cell", $"ccos".as("cent_cos"),
        $"is_dropped".isNull.as("is_kept"))
      .orderBy($"vec_id")
  }

  def qSemanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedup(vecs(spark, dir), ivfGateCentroids, SemDedupThreshold)

  val sqlSemanticDedup: String = {
    val centRows = IvfGateCentroids.Nums.zipWithIndex.map { case (nums, i) =>
      s"($i, list_transform(${nums.mkString("[", ", ", "]")}, x -> x / ${CentDenom.toLong}.0))"
    }.mkString(",\n  ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c(cent_id, cv) AS (VALUES
       |  $centRows),
       |s AS (SELECT v.vec_id, v.v, c.cent_id,
       |        ${sqlCosine("v.v", "c.cv")} AS ccos
       |      FROM v CROSS JOIN c),
       |r AS (SELECT vec_id, v, cent_id, ccos,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rk
       |      FROM s),
       |a AS (SELECT vec_id, v, cent_id::BIGINT AS cell, ccos FROM r WHERE rk = 1),
       |drp AS (SELECT DISTINCT x.vec_id FROM a x JOIN a y
       |        ON y.cell = x.cell
       |        AND (y.ccos > x.ccos OR (y.ccos = x.ccos AND y.vec_id < x.vec_id))
       |        AND ${sqlCosine("x.v", "y.v")} >= $SemDedupThreshold)
       |SELECT a.vec_id, a.cell, a.ccos AS cent_cos,
       |  drp.vec_id IS NULL AS is_kept
       |FROM a LEFT JOIN drp ON drp.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Incremental embedding dedup (X127) — the embedding-pillar member
  // of the incremental-probe family (X56 text, X124 phash, X125/X126
  // label merges): an incoming vector batch probes the PERSISTED
  // corpus cell assignment (frozen [[IvfGateCentroids]] cells — the
  // SemDeDup index a production pipeline holds between batches) and
  // each incoming vector gets a new/dup verdict with its best
  // same-cell corpus match (max cosine ≥ [[SemDedupThreshold]], ties
  // to the smaller vec_id). Cell assignment is per-row against frozen
  // literals and the verdict depends only on (vec, corpus), so the
  // probe commutes with micro-batching (spec-pinned). Scale shape:
  // assignment is a broadcast of K centroids riding the scan; the
  // probe shuffles on cell id only; exact cosines touch same-cell
  // candidates alone.
  // ------------------------------------------------------------------

  /** Probe incoming assigned vectors against the corpus assignment
    * store (both: vec_id, v, nv, cell, ccos). */
  def semdedupProbe(incoming: DataFrame, corpus: DataFrame): DataFrame = {
    val wBest = Window.partitionBy($"i_id").orderBy($"cosine".desc, $"c_id")
    val best = incoming.as("x").join(corpus.as("y"), col("x.cell") === col("y.cell"))
      .select(col("x.vec_id").as("i_id"), col("y.vec_id").as("c_id"),
        cosineWithNorms(col("x.v"), col("y.v"), col("x.nv"), col("y.nv")).as("cosine"))
      .filter($"cosine" >= SemDedupThreshold)
      .withColumn("rk", row_number().over(wBest))
      .filter($"rk" === 1)
    incoming.select($"vec_id", $"cell", $"ccos")
      .join(best.select($"i_id".as("vec_id"), $"c_id", $"cosine"), Seq("vec_id"), "left")
      .select($"vec_id", $"cell", $"ccos".as("cent_cos"),
        when($"c_id".isNotNull, lit("dup")).otherwise(lit("new")).as("status"),
        coalesce($"c_id", lit(-1L)).cast("long").as("dup_of"),
        coalesce($"cosine", lit(0.0)).cast("double").as("cosine"))
  }

  /** The (vec_id, v, nv, cell, ccos) assignment frame the probe and
    * the store share — identical expressions to [[semanticDedup]]'s
    * assignment pass, persisted so both probe branches read one
    * materialization. */
  def assignedFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val base = vecs(spark, dir).withColumn("nv", normCol($"v"))
    val cents = ivfGateCentroids.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cent_id", "cv")
      .withColumn("ncv", normCol($"cv"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cent_id")
    val assigned = Scratch.persist(base.join(broadcast(cents))
      .select($"vec_id", $"v", $"nv", $"cent_id",
        cosineWithNorms($"v", $"cv", $"nv", $"ncv").as("ccos"))
      .withColumn("rk", row_number().over(wAssign))
      .filter($"rk" === 1)
      .select($"vec_id", $"v", $"nv", $"cent_id".cast("long").as("cell"), $"ccos"))
    assigned.count()
    assigned
  }

  def qIncrementalSemdedup(spark: SparkSession, dir: String): DataFrame = {
    val assigned = assignedFrame(spark, dir)
    val incoming = assigned.filter($"vec_id" % Dedup.IncomingMod === Dedup.IncomingRem)
    val corpus = assigned.filter($"vec_id" % Dedup.IncomingMod =!= Dedup.IncomingRem)
    semdedupProbe(incoming, corpus).orderBy($"vec_id")
  }

  /** Oracle: exact same-cell incoming × corpus scan over the identical
    * frozen-centroid assignment (the [[sqlSemanticDedup]] CTEs with
    * the incoming/corpus split). */
  val sqlIncrementalSemdedup: String = {
    val centRows = IvfGateCentroids.Nums.zipWithIndex.map { case (nums, i) =>
      s"($i, list_transform(${nums.mkString("[", ", ", "]")}, x -> x / ${CentDenom.toLong}.0))"
    }.mkString(",\n  ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c(cent_id, cv) AS (VALUES
       |  $centRows),
       |s AS (SELECT v.vec_id, v.v, c.cent_id,
       |        ${sqlCosine("v.v", "c.cv")} AS ccos
       |      FROM v CROSS JOIN c),
       |r AS (SELECT vec_id, v, cent_id, ccos,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rk
       |      FROM s),
       |a AS (SELECT vec_id, v, cent_id::BIGINT AS cell, ccos FROM r WHERE rk = 1),
       |i AS (SELECT * FROM a WHERE vec_id % ${Dedup.IncomingMod} = ${Dedup.IncomingRem}),
       |cp AS (SELECT * FROM a WHERE vec_id % ${Dedup.IncomingMod} <> ${Dedup.IncomingRem}),
       |m AS (SELECT i.vec_id AS i_id, cp.vec_id AS c_id,
       |        ${sqlCosine("i.v", "cp.v")} AS cosine
       |      FROM i JOIN cp ON cp.cell = i.cell
       |      WHERE ${sqlCosine("i.v", "cp.v")} >= $SemDedupThreshold),
       |best AS (SELECT i_id, c_id, cosine FROM (
       |  SELECT i_id, c_id, cosine,
       |    row_number() OVER (PARTITION BY i_id ORDER BY cosine DESC, c_id) AS rk
       |  FROM m) WHERE rk = 1)
       |SELECT i.vec_id, i.cell, i.ccos AS cent_cos,
       |  CASE WHEN best.c_id IS NULL THEN 'new' ELSE 'dup' END AS status,
       |  coalesce(best.c_id, -1)::BIGINT AS dup_of,
       |  coalesce(best.cosine, 0.0)::DOUBLE AS cosine
       |FROM i LEFT JOIN best ON best.i_id = i.vec_id
       |ORDER BY i.vec_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Embedding near-dup pairs: same-bucket candidates with cosine above
  // threshold — the "near-dup by embedding" dedup operator, bucketed
  // so it scales like the MinHash LSH join.
  // ------------------------------------------------------------------
  def qEmbeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val base = Scratch.persist(vecs(spark, dir)
      .withColumn("bucket", bucketCol($"v"))
      .withColumn("nv", normCol($"v")))
    base.count() // bucket + norm computed once, read by both join sides
    val a = base.as("a")
    val b = base.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosineWithNorms(col("a.v"), col("b.v"), col("a.nv"), col("b.nv")).as("cosine"))
      .filter($"cosine" >= 0.4)
      .orderBy($"vec_a", $"vec_b")
  }

  val sqlEmbeddingNearDup: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |             ${sqlBucket("embedding::DOUBLE[]")} AS bucket
       |           FROM embeddings)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${sqlCosine("a.v", "b.v")} AS cosine
       |FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE ${sqlCosine("a.v", "b.v")} >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin

  // ==================================================================
  // Scale-parameterized ANN — the 100 TB path. The gate queries above
  // keep small deterministic constants so the DuckDB oracle can mirror
  // them bit-for-bit; these APIs are the same structures with the
  // constants as parameters, and AnnRecallSpec proves recall ≥ 0.9 vs
  // the brute-force baseline at sf0.1 with a ≥4096-bucket keyspace.
  //
  // Candidate-volume note: the synthetic embeddings are isotropic (no
  // label clustering, top-5 neighbor cosine ≈ 0.4), so ANY scheme needs
  // a large candidate fraction for 0.9 recall — that cost is a property
  // of the data, not the structure. The knobs below (bands, probe
  // radius, nprobe) are exactly the dials that make the same plan
  // sublinear on real clustered corpora.
  // ==================================================================

  /**
   * Banded multi-probe hyperplane LSH (OR-amplification like Dedup's
   * MinHash bands): `bands` independent band keys of `bitsPerBand` sign
   * bits each — keyspace per band = 2^bitsPerBand, growing with the
   * parameter, not fixed at 16. A query probes every band key within
   * hamming distance `probeRadius` (multi-probe: recall without extra
   * tables).
   */
  final case class LshParams(bands: Int = 12, bitsPerBand: Int = 12, probeRadius: Int = 3) {
    def numPlanes: Int = bands * bitsPerBand
    def bucketsPerBand: Int = 1 << bitsPerBand
  }

  /** Per-band sign-pattern keys of `v`: array of `bands` int keys. */
  def bandKeyCols(v: Column, p: LshParams): Column = {
    val pls = planesFor(p.numPlanes)
    array((0 until p.bands).map { b =>
      (0 until p.bitsPerBand).map { i =>
        when(dot(v, typedLit(pls(b * p.bitsPerBand + i))) > 0, 1 << i).otherwise(0)
      }.reduce(_ + _).cast("int")
    }: _*)
  }

  /** XOR masks enumerating all probes within hamming `probeRadius`. */
  def probeMasks(p: LshParams): Seq[Int] =
    (0 to p.probeRadius).flatMap(r =>
      (0 until p.bitsPerBand).combinations(r).map(_.map(1 << _).sum))

  /** Exact brute-force cosine top-k over (vec_id, v) — the recall
    * baseline, query set broadcast, one corpus scan. */
  def knnBruteTopK(corpus: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val withNorm = corpus.withColumn("nv", normCol($"v"))
    val queries = withNorm.filter(isQuery)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nv".as("nq"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    withNorm.join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosineWithNorms($"qv", $"v", $"nq", $"nv").as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"cosine")
  }

  /**
   * Approximate top-k via banded multi-probe LSH. Plan shape for scale:
   *  - postings index is SLIM — (band, key, vec_id) only; the fat
   *    vector never rides the candidate join.
   *  - probe keys (queries × bands × Σ C(bits, r) rows) are broadcast,
   *    so candidate generation is a broadcast-hash join over the index:
   *    no corpus shuffle at all.
   *  - only the surviving candidate ids shuffle (distinct + id join to
   *    fetch vectors for exact rerank), volume bounded by the probes.
   */
  def annLshTopK(corpus: DataFrame, isQuery: Column, k: Int, p: LshParams): DataFrame = {
    val withNorm = corpus.withColumn("nv", normCol($"v"))
    val index = corpus
      .select($"vec_id", posexplode(bandKeyCols($"v", p))).toDF("vec_id", "band", "key")
    val queries = Scratch.persist(withNorm.filter(isQuery)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nv".as("nq"),
        bandKeyCols($"v", p).as("keys")))
    val masks = typedLit(probeMasks(p))
    val probes = queries
      .select($"query_id", posexplode($"keys")).toDF("query_id", "band", "qkey")
      .select($"query_id", $"band",
        explode(transform(masks, m => $"qkey".bitwiseXOR(m))).as("key"))
    val cands = index.join(broadcast(probes), Seq("band", "key"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id").distinct()
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    cands.join(withNorm, "vec_id")
      .join(broadcast(queries.select($"query_id", $"qv", $"nq")), Seq("query_id"))
      .select($"query_id", $"vec_id",
        cosineWithNorms($"qv", $"v", $"nq", $"nv").as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"cosine")
  }

  // ------------------------------------------------------------------
  // Gate face of [[annLshTopK]] — the scale-parameterized banded path
  // under the driver's hard oracle, with small-but-real parameters:
  // 2 bands × 8 bits = 256 buckets PER BAND (a keyspace that grows as
  // 2^bitsPerBand, not the fixed 16 of [[qAnnLsh]]), multi-probe
  // radius 1. The planes are sha-deterministic (planesFor), so the
  // DuckDB oracle rebuilds the identical band keys, probe masks, and
  // exact-cosine rerank. AnnRecallSpec separately proves the SAME
  // function at production params (12×12, radius 3) reaches ≥0.9
  // recall vs brute force.
  // ------------------------------------------------------------------
  val BandedGate = LshParams(bands = 2, bitsPerBand = 8, probeRadius = 1)

  def qAnnLshBanded(spark: SparkSession, dir: String): DataFrame =
    annLshTopK(vecs(spark, dir), $"vec_id" < 10, 3, BandedGate)
      .orderBy($"query_id", $"rank")

  /** DuckDB body of the per-band sign-key table for [[BandedGate]]-
    * style params: `SELECT vec_id, band, key FROM v` per band, the
    * mirror of [[bandKeyCols]] (shared by the banded ANN and banded
    * near-dup oracles). */
  def sqlBandKeys(p: LshParams): String = {
    val pls = planesFor(p.numPlanes)
    def planeLit(idx: Int): String =
      pls(idx).map(c => c.toLong.toString + ".0").mkString("[", ", ", "]::DOUBLE[]")
    def keyExpr(b: Int, v: String): String =
      (0 until p.bitsPerBand).map { i =>
        val dot = sqlFsum(
          s"list_transform(range(1, $Dims + 1), i -> ($v)[i] * (${planeLit(b * p.bitsPerBand + i)})[i])")
        s"(CASE WHEN ($dot) > 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString("(", " + ", ")::INTEGER")
    (0 until p.bands)
      .map(b => s"SELECT vec_id, $b AS band, ${keyExpr(b, "v")} AS key FROM v")
      .mkString("\n  UNION ALL\n  ")
  }

  val sqlAnnLshBanded: String = {
    val p = BandedGate
    val masks = probeMasks(p).mkString("[", ", ", "]")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |keys AS (
       |  ${sqlBandKeys(p)}),
       |probes AS (
       |  SELECT k.vec_id AS query_id, k.band, xor(k.key, m.mask)::INTEGER AS key
       |  FROM keys k CROSS JOIN (SELECT unnest($masks) AS mask) m
       |  WHERE k.vec_id < 10),
       |cands AS (
       |  SELECT DISTINCT p.query_id, i.vec_id
       |  FROM keys i JOIN probes p ON i.band = p.band AND i.key = p.key
       |  WHERE i.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |    ${sqlCosine("q.v", "n.v")} AS cosine
       |  FROM cands c JOIN v q ON q.vec_id = c.query_id JOIN v n ON n.vec_id = c.vec_id)
       |SELECT query_id, rank, neighbor_id, cosine FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  // ------------------------------------------------------------------
  // Gate face of [[nearDupPairs]] — the banded near-dup path (the
  // third scale-parameterized twin, alongside the banded ANN and real-
  // centroid IVF gates) under the driver's hard oracle at the same
  // 2-band × 8-bit params. Collision = agreement on ALL bits of at
  // least one band (OR-amplification); exact cosine verifies.
  // ------------------------------------------------------------------
  val NearDupThreshold = 0.4

  def qNearDupBanded(spark: SparkSession, dir: String): DataFrame =
    nearDupPairs(vecs(spark, dir), NearDupThreshold, BandedGate)
      .orderBy($"vec_a", $"vec_b")

  val sqlNearDupBanded: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |keys AS (
       |  ${sqlBandKeys(BandedGate)}),
       |p AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM keys a JOIN keys b
       |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, cosine FROM (
       |  SELECT p.vec_a, p.vec_b, ${sqlCosine("x.v", "y.v")} AS cosine
       |  FROM p JOIN v x ON x.vec_id = p.vec_a JOIN v y ON y.vec_id = p.vec_b)
       |WHERE cosine >= $NearDupThreshold ORDER BY vec_a, vec_b""".stripMargin

  /** Deterministic k-means centroids for the IVF index (fixed seed —
    * training work, run once per index build). */
  def ivfCentroids(corpus: DataFrame, numCells: Int, seed: Long = 42L,
                   maxIter: Int = 10): Seq[Seq[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.linalg.Vectors
    import corpus.sparkSession.implicits.{newSequenceEncoder, newProductEncoder}
    val train = corpus.select(col("v")).as[Seq[Double]]
      .map(s => Tuple1(Vectors.dense(s.toArray))).toDF("features")
    new KMeans().setK(numCells).setSeed(seed).setMaxIter(maxIter)
      .fit(train).clusterCenters.map(_.toArray.toSeq).toSeq
  }

  /**
   * Approximate top-k via IVF: k-means cells (real centroids, not the
   * first-N stand-in the gate query uses for oracle determinism) and
   * nprobe > 1 — a query scans its `nprobe` nearest cells. Assignment
   * is one broadcast join (numCells cosines per row, codegen'd dot);
   * the search shuffles on cell id only.
   */
  def annIvfTopK(corpus: DataFrame, isQuery: Column, k: Int,
                 numCells: Int, nprobe: Int, seed: Long = 42L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val withNorm = Scratch.persist(corpus.withColumn("nv", normCol($"v")))
    val centDf = ivfCentroids(withNorm, numCells, seed).zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cent_id", "cv")
      .withColumn("ncv", normCol($"cv"))
    val scored = withNorm.join(broadcast(centDf))
      .select($"vec_id", $"v", $"nv", $"cent_id",
        cosineWithNorms($"v", $"cv", $"nv", $"ncv").as("ccos"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cent_id")
    val ranked = scored.withColumn("rk", row_number().over(wAssign))
    val assigned = Scratch.persist(ranked.filter($"rk" === 1)
      .select($"vec_id", $"v", $"nv", $"cent_id".as("cell")))
    assigned.count() // the inverted file: built once, probed below
    val queryCells = ranked.filter(isQuery && $"rk" <= nprobe)
      .select($"vec_id".as("query_id"), $"cent_id".as("cell"))
    val queries = withNorm.filter(isQuery)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nv".as("nq"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    assigned.join(broadcast(queryCells), Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .join(broadcast(queries), Seq("query_id"))
      .select($"query_id", $"vec_id",
        cosineWithNorms($"qv", $"v", $"nq", $"nv").as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"cosine")
  }

  /**
   * Near-dup pairs at scale: same-band-key collision (OR over bands).
   * The gate twin [[qEmbeddingNearDup]] keeps the 4-plane single-band
   * oracle-mirrorable form; this one's keyspace grows with the params.
   */
  def nearDupPairs(corpus: DataFrame, threshold: Double, p: LshParams): DataFrame = {
    val withNorm = Scratch.persist(corpus
      .withColumn("nv", normCol($"v"))
      .withColumn("keys", bandKeyCols($"v", p)))
    withNorm.count()
    val index = withNorm.select($"vec_id", posexplode($"keys")).toDF("vec_id", "band", "key")
    val candPairs = index.as("a")
      .join(index.as("b"), col("a.band") === col("b.band") && col("a.key") === col("b.key")
        && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b")).distinct()
    candPairs
      .join(withNorm.select($"vec_id".as("vec_a"), $"v".as("va"), $"nv".as("na")), Seq("vec_a"))
      .join(withNorm.select($"vec_id".as("vec_b"), $"v".as("vb"), $"nv".as("nb")), Seq("vec_b"))
      .select($"vec_a", $"vec_b", cosineWithNorms($"va", $"vb", $"na", $"nb").as("cosine"))
      .filter($"cosine" >= threshold)
  }

  // ------------------------------------------------------------------
  // MMR diversified re-ranking (Carbonell & Goldstein, SIGIR 1998:
  // "The use of MMR, diversity-based reranking …"): from each query's
  // relevance shortlist, greedily select K results maximizing
  // λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) — the de-redundancy step a
  // RAG retriever runs after ANN, so near-duplicate passages don't
  // crowd the context window. λ = 0.7; score with empty S is λ·rel
  // (penalty coalesces to 0). Ties break to the smallest doc id.
  //
  // Scale shape: ONE corpus scan builds the R-deep shortlist
  // (broadcast probes, the brute/ANN contract); everything after runs
  // on shortlist-sized frames — the pairwise sim table is R²·|Q| rows
  // and each greedy step reads back ≤ |Q| picks (bounded greedy state,
  // the [[TextOps.qBpeTrain]] election-read precedent — NOT a collect
  // over corpus data), so selection cost is independent of corpus
  // size. In production the shortlist comes from IVF-PQ
  // ([[Embeddings.qPqRerank]]); the MMR stage is unchanged.
  // Doubles are raw, not rounded: every term is the same
  // fold-ordered cosine both engines already agree on bit-for-bit,
  // and λ-blend literals (0.7/0.3) parse to identical doubles.
  // ------------------------------------------------------------------
  val MmrShortlist = 12
  val MmrSteps = 5
  val MmrQueries = 10

  def qMmr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val corpus = vecs(spark, dir).withColumn("nv", normCol($"v"))
    val queries = corpus.filter($"vec_id" < MmrQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nv".as("nq"))
    val wRel = Window.partitionBy($"query_id").orderBy($"rel".desc, $"doc_id")
    val shortlist = Scratch.persist(
      corpus.join(broadcast(queries), $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id".as("doc_id"),
          cosineWithNorms($"qv", $"v", $"nq", $"nv").as("rel"), $"v", $"nv")
        .withColumn("rn", row_number().over(wRel))
        .filter($"rn" <= MmrShortlist).drop("rn"))
    shortlist.count()
    // The pairwise sim table and the greedy state are BOUNDED by
    // construction (≤ |Q|·R shortlist rows, ≤ |Q|·R² pair rows —
    // MmrQueries/MmrShortlist are compile-time constants, so the size
    // is corpus-INDEPENDENT). Round 14 ran each of the MmrSteps greedy
    // selections as its own anti-join + window job over these tiny
    // cached frames, so per-round job-launch latency dominated the
    // gate (driver measured 1.26 s, 8-core beat 32-core). The sims are
    // still computed BY SPARK (the codegen'd cosine — bit-identical to
    // the oracle); only the ≤1584-row greedy argmax moves to the
    // driver as ONE bounded model read (the kmeans read-back stance,
    // NOT a collect over corpus data), with the identical IEEE
    // arithmetic (max-sim penalty, 0.7/0.3 λ-blend) and the SQL order
    // of `score DESC, doc_id`: NaN above every number and equal to
    // NaN, NULL (a zero-norm vector's relevance) below every number,
    // ties to the smallest doc id — same picks, same doubles, same
    // hash.
    val slRows = shortlist.select($"query_id", $"doc_id", $"rel").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option.unless(r.isNullAt(2))(r.getDouble(2))))
    val prRows = shortlist.as("x").join(shortlist.as("y"),
        col("x.query_id") === col("y.query_id") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.query_id").as("query_id"),
        col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        cosineWithNorms(col("x.v"), col("y.v"), col("x.nv"), col("y.nv")).as("sim"))
      .collect()
      .collect { // max(sim) skips a NULL sim
        case r if !r.isNullAt(3) => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))
      }
    shortlist.unpersist()
    // (query, cand) → (other, sim) list, for the max-sim penalty
    val simsByQa = prRows.groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    val byQuery = slRows.groupBy(_._1).toSeq.sortBy(_._1)
    val selected = scala.collection.mutable.Map
      .empty[Long, Set[Long]].withDefaultValue(Set.empty)
    val picks = Seq.newBuilder[(Long, Long, Long, Option[Double], Option[Double])]
    (1 to MmrSteps).foreach { k =>
      byQuery.foreach { case (q, rows) =>
        val selQ = selected(q)
        val cands = rows.filter(t => !selQ.contains(t._2))
        if (cands.nonEmpty) {
          var bestId = 0L; var bestRel = Option.empty[Double]
          var bestScore = Option.empty[Double]
          var first = true
          cands.foreach { case (_, d, rel) =>
            // max(sim) over selected neighbors; coalesce(·, 0.0)
            var pen = 0.0; var any = false
            simsByQa.getOrElse((q, d), Array.empty[(Long, Double)])
              .foreach { case (b, sim) =>
                if (selQ.contains(b)) {
                  pen = if (any) math.max(pen, sim) else sim; any = true
                }
              }
            val score = rel.map(0.7 * _ - 0.3 * (if (any) pen else 0.0))
            val order = (score, bestScore) match {
              case (Some(a), Some(b)) => SQLOrderingUtil.compareDoubles(a, b)
              case (a, b) => a.size - b.size // NULL below every number
            }
            if (first || order > 0 || (order == 0 && d < bestId)) {
              bestId = d; bestRel = rel; bestScore = score; first = false
            }
          }
          picks += ((q, k.toLong, bestId, bestRel, bestScore))
          selected(q) = selQ + bestId
        }
      }
    }
    picks.result().toDF("query_id", "step", "doc_id", "rel", "mmr_score")
      .orderBy($"query_id", $"step")
  }

  val sqlMmr: String = {
    val steps = (1 to MmrSteps).map { k =>
      s"""c$k AS (SELECT s.query_id, s.doc_id, s.rel FROM sl s
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} x
         |    WHERE x.query_id = s.query_id AND x.doc_id = s.doc_id)),
         |ps$k AS (SELECT p.query_id, p.a, max(p.sim) AS maxsim
         |  FROM pr p JOIN sel${k - 1} x
         |    ON p.query_id = x.query_id AND p.b = x.doc_id
         |  GROUP BY p.query_id, p.a),
         |m$k AS (SELECT c.query_id, c.doc_id, c.rel,
         |    0.7::DOUBLE * c.rel - 0.3::DOUBLE * coalesce(ps.maxsim, 0.0::DOUBLE) AS score
         |  FROM c$k c LEFT JOIN ps$k ps
         |    ON ps.query_id = c.query_id AND ps.a = c.doc_id),
         |p$k AS (SELECT query_id, doc_id, rel, $k::BIGINT AS step, score FROM (
         |    SELECT query_id, doc_id, rel, score,
         |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
         |    FROM m$k) WHERE rn = 1),
         |sel$k AS (SELECT query_id, doc_id, rel, step, score FROM sel${k - 1}
         |  UNION ALL SELECT query_id, doc_id, rel, step, score FROM p$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sl AS (SELECT query_id, doc_id, rel, v FROM (
       |  SELECT query_id, doc_id, rel, v,
       |    row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rn
       |  FROM (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
       |          ${sqlCosine("q.v", "c.v")} AS rel, c.v AS v
       |        FROM e q JOIN e c ON q.vec_id < $MmrQueries AND c.vec_id <> q.vec_id))
       |  WHERE rn <= $MmrShortlist),
       |pr AS (SELECT x.query_id, x.doc_id AS a, y.doc_id AS b,
       |    ${sqlCosine("x.v", "y.v")} AS sim
       |  FROM sl x JOIN sl y
       |    ON x.query_id = y.query_id AND x.doc_id <> y.doc_id),
       |sel0 AS (SELECT query_id, doc_id, rel, 0::BIGINT AS step, 0.0::DOUBLE AS score
       |  FROM sl WHERE false),
       |$steps
       |SELECT query_id, step, doc_id, rel, score AS mmr_score
       |FROM sel$MmrSteps ORDER BY query_id, step""".stripMargin
  }

  // ------------------------------------------------------------------
  // ANN quality evaluation (the ann-benchmarks methodology, Aumüller,
  // Bernhardsson & Faithfull 2017): recall@k and the true-top-1
  // reciprocal rank of the banded-LSH index against exact brute-force
  // truth, per query — the metric pair that decides whether an ANN
  // index's speed is worth its misses. AnnRecallSpec pins a recall
  // FLOOR in-suite; this gate makes the whole evaluation itself a
  // cross-engine-reproducible query (both the index and the truth are
  // deterministic, so the scorecard is too). Every metric is a single
  // IEEE divide of exact integers — raw doubles, no rounding needed.
  // Scale shape: composes two existing bounded-probe queries and joins
  // their |Q|·k row outputs — evaluation cost is probe-sized, not
  // corpus-sized.
  // ------------------------------------------------------------------
  val EvalK = 3

  def qAnnEval(spark: SparkSession, dir: String): DataFrame = {
    val truth = qKnnBruteForce(spark, dir).filter($"rank" <= EvalK)
      .select($"query_id", $"neighbor_id", $"rank".as("t_rank"))
    val ann = qAnnLshBanded(spark, dir)
      .select($"query_id", $"neighbor_id", $"rank".as("a_rank"))
    truth.join(ann, Seq("query_id", "neighbor_id"), "left")
      .groupBy($"query_id")
      .agg(count(lit(1)).cast("long").as("truth_k"),
        count($"a_rank").cast("long").as("n_hit"),
        (count($"a_rank").cast("double") / count(lit(1)).cast("double"))
          .as("recall"),
        coalesce(lit(1.0) / min(when($"t_rank" === 1, $"a_rank")).cast("double"),
          lit(0.0)).as("mrr"))
      .orderBy($"query_id")
  }

  val sqlAnnEval: String =
    s"""WITH t0 AS ($sqlKnnBruteForce),
       |a0 AS ($sqlAnnLshBanded),
       |j AS (SELECT t.query_id, t.rank AS t_rank, a.rank AS a_rank
       |  FROM (SELECT query_id, neighbor_id, rank FROM t0 WHERE rank <= $EvalK) t
       |  LEFT JOIN a0 a
       |    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id)
       |SELECT query_id, count(*)::BIGINT AS truth_k, count(a_rank)::BIGINT AS n_hit,
       |  count(a_rank)::DOUBLE / count(*)::DOUBLE AS recall,
       |  coalesce(1.0::DOUBLE / min(CASE WHEN t_rank = 1 THEN a_rank END)::DOUBLE,
       |    0.0::DOUBLE) AS mrr
       |FROM j GROUP BY query_id ORDER BY query_id""".stripMargin

  // ------------------------------------------------------------------
  // Recall scorecard for the PERSISTED IVF artifact (X163): X104
  // grades the in-memory banded index; this runs the identical
  // ann-benchmarks evaluation (recall@k + true-top-1 reciprocal rank
  // vs exact brute truth) over [[qAnnArtifact]] — the partition-pruned
  // probe of the index FILE — so the artifact a deployment actually
  // ships carries its own quality number. A serving bug anywhere in
  // the persist → partition → probe path (lost cell, truncated
  // vector, mis-pruned partition) surfaces here as a recall drop even
  // when the in-memory index is perfect. Same probe-sized cost shape
  // as X104.
  // ------------------------------------------------------------------
  def qAnnArtifactEval(spark: SparkSession, dir: String): DataFrame = {
    val truth = qKnnBruteForce(spark, dir).filter($"rank" <= EvalK)
      .select($"query_id", $"neighbor_id", $"rank".as("t_rank"))
    val ann = qAnnArtifact(spark, dir)
      .select($"query_id", $"neighbor_id", $"rank".as("a_rank"))
    truth.join(ann, Seq("query_id", "neighbor_id"), "left")
      .groupBy($"query_id")
      .agg(count(lit(1)).cast("long").as("truth_k"),
        count($"a_rank").cast("long").as("n_hit"),
        (count($"a_rank").cast("double") / count(lit(1)).cast("double"))
          .as("recall"),
        coalesce(lit(1.0) / min(when($"t_rank" === 1, $"a_rank")).cast("double"),
          lit(0.0)).as("mrr"))
      .orderBy($"query_id")
  }

  val sqlAnnArtifactEval: String =
    s"""WITH t0 AS ($sqlKnnBruteForce),
       |a0 AS ($sqlAnnIvf),
       |j AS (SELECT t.query_id, t.rank AS t_rank, a.rank AS a_rank
       |  FROM (SELECT query_id, neighbor_id, rank FROM t0 WHERE rank <= $EvalK) t
       |  LEFT JOIN a0 a
       |    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id)
       |SELECT query_id, count(*)::BIGINT AS truth_k, count(a_rank)::BIGINT AS n_hit,
       |  count(a_rank)::DOUBLE / count(*)::DOUBLE AS recall,
       |  coalesce(1.0::DOUBLE / min(CASE WHEN t_rank = 1 THEN a_rank END)::DOUBLE,
       |    0.0::DOUBLE) AS mrr
       |FROM j GROUP BY query_id ORDER BY query_id""".stripMargin

  // ------------------------------------------------------------------
  // Matryoshka truncation audit (Kusupati et al., NeurIPS 2022 "MRL"):
  // recall@k of cosine search over PREFIX-truncated embeddings (dims
  // 8/16/32 of 64) against the full-dim exact truth — the measurement
  // that decides how far an MRL-style index can shrink its vectors
  // before retrieval quality pays. Same bounded-probe brute contract
  // as [[qKnnBruteForce]] (10 queries, broadcast, one ranking window
  // per leg); truncated norms are per-row folds over the slice, so
  // every leg is bit-reproducible in the oracle. Scale shape: the
  // audit is |Q|·k-sized end to end; the production path it guards is
  // the PQ/IVF family (X85–X88), where truncation would halve code
  // sizes.
  // ------------------------------------------------------------------
  val MrlDims = Seq(8, 16, 32)

  def qMrlEval(spark: SparkSession, dir: String): DataFrame = {
    val truth = qKnnBruteForce(spark, dir).filter($"rank" <= EvalK)
      .select($"query_id", $"neighbor_id").withColumn("hit", lit(1))
    val legs = MrlDims.map { d =>
      val corpus = vecs(spark, dir)
        .withColumn("tv", slice($"v", 1, d))
        .withColumn("nv", normCol($"tv"))
      val queries = corpus.filter($"vec_id" < 10)
        .select($"vec_id".as("query_id"), $"tv".as("qv"), $"nv".as("nq"))
      val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
      // zero-norm guard: an all-zero prefix would make the cosine
      // 0/0 = NaN, which sorts FIRST under desc — silently ranking the
      // degenerate vector as a top neighbor. Score it 0 instead (the
      // NULLIF-guarded-denominator convention used across TextOps).
      corpus.join(broadcast(queries), $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          when($"nq" === 0.0 || $"nv" === 0.0, lit(0.0))
            .otherwise(cosineWithNorms($"qv", $"tv", $"nq", $"nv")).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= EvalK)
        .select(lit(d.toLong).as("dims"), $"query_id", $"vec_id".as("neighbor_id"))
    }
    legs.reduce(_ unionByName _)
      .join(truth, Seq("query_id", "neighbor_id"), "left")
      .groupBy($"dims", $"query_id")
      .agg(count(lit(1)).cast("long").as("k"),
        count($"hit").cast("long").as("n_hit"))
      .withColumn("recall", $"n_hit".cast("double") / $"k".cast("double"))
      .orderBy($"dims", $"query_id")
  }

  val sqlMrlEval: String = {
    def cosD(a: String, b: String, d: Int): String = {
      val dot = sqlFsum(s"list_transform(range(1, ${d + 1}), i -> ($a)[i] * ($b)[i])")
      val na = sqlFsum(s"list_transform(($a)[1:$d], x -> x * x)")
      val nb = sqlFsum(s"list_transform(($b)[1:$d], x -> x * x)")
      // zero-norm prefix scores 0, never 0/0 = NaN (mirrors the Spark guard)
      s"CASE WHEN ($na) = 0.0 OR ($nb) = 0.0 THEN 0.0::DOUBLE " +
        s"ELSE ($dot) / (sqrt($na) * sqrt($nb)) END"
    }
    val legs = MrlDims.map { d =>
      s"""SELECT $d::BIGINT AS dims, query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosD("q.v", "v.v", d)} DESC, v.vec_id) AS rn
         |  FROM e q JOIN e v ON q.vec_id < 10 AND v.vec_id <> q.vec_id)
         |WHERE rn <= $EvalK""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |t AS (SELECT query_id, neighbor_id, 1 AS hit
       |  FROM ($sqlKnnBruteForce) WHERE rank <= $EvalK),
       |a AS (
       |$legs)
       |SELECT dims, query_id, count(*)::BIGINT AS k, count(hit)::BIGINT AS n_hit,
       |  count(hit)::DOUBLE / count(*)::DOUBLE AS recall
       |FROM a LEFT JOIN t USING (query_id, neighbor_id)
       |GROUP BY dims, query_id ORDER BY dims, query_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Margin-based pair mining (Artetxe & Schwenk, ACL 2019:
  // "Margin-based Parallel Corpus Mining with Multilingual Sentence
  // Embeddings" — the LASER/CCMatrix criterion). Absolute cosine is a
  // bad pair test in embedding space (hubness: some vectors are close
  // to EVERYTHING); the margin rescales each candidate cosine by the
  // mean cosine of both endpoints' k-NN neighborhoods:
  //   margin(x,y) = cos(x,y) / (avgNNₖ(x)/2 + avgNNₖ(y)/2)
  // and a pair is mined iff the best-margin y clears the threshold.
  // Probe side A = vec_id < 40 (the incoming slice to align); corpus
  // side B = the rest. ONE broadcast-probe corpus scan produces the
  // full A×B cosine frame; both neighborhood means come from that same
  // frame (top-k per x and per y), decimal-summed so the k-cosine sum
  // is shuffle-order free, divided by 2k as one IEEE op. Raw doubles —
  // the fold-ordered cosine both engines agree on bit-for-bit.
  // Scale shape: the A-multiplied frame is the same |Q|·|C| brute
  // contract as [[qKnnBruteForce]]; in production A×B candidates come
  // from the ANN index ([[Embeddings.qAnnIvfPq]]) and the margin
  // rescale is unchanged — only slim (id, id, cos) rows ever shuffle.
  // ------------------------------------------------------------------
  val MarginProbes = 40
  val MarginK = 4
  val MarginThreshold = 1.05

  def qMarginMine(spark: SparkSession, dir: String): DataFrame = {
    val DEC28 = org.apache.spark.sql.types.DecimalType(28, 12)
    val base = vecs(spark, dir).withColumn("nv", normCol($"v"))
    val probes = base.filter($"vec_id" < MarginProbes)
      .select($"vec_id".as("x"), $"v".as("xv"), $"nv".as("nx"))
    val mat = base.filter($"vec_id" >= MarginProbes)
      .join(broadcast(probes), $"vec_id" =!= $"x")
      .select($"x", $"vec_id".as("y"),
        cosineWithNorms($"xv", $"v", $"nx", $"nv").as("cos"))
    val wx = Window.partitionBy($"x").orderBy($"cos".desc, $"y")
    val wy = Window.partitionBy($"y").orderBy($"cos".desc, $"x")
    val nnx = mat.withColumn("rk", row_number().over(wx))
      .filter($"rk" <= MarginK)
      .groupBy($"x")
      .agg((sum($"cos".cast(DEC28)).cast("double") / (2.0 * MarginK)).as("ax"))
    val nny = mat.withColumn("rk", row_number().over(wy))
      .filter($"rk" <= MarginK)
      .groupBy($"y")
      .agg((sum($"cos".cast(DEC28)).cast("double") / (2.0 * MarginK)).as("ay"))
    val wBest = Window.partitionBy($"x").orderBy($"margin".desc, $"y")
    mat.join(broadcast(nnx), Seq("x"))
      .join(nny, Seq("y"))
      .select($"x", $"y", $"cos", ($"cos" / ($"ax" + $"ay")).as("margin"))
      .withColumn("rk", row_number().over(wBest))
      .filter($"rk" === 1)
      .select($"x".as("probe_id"), $"y".as("match_id"), $"cos",
        $"margin", ($"margin" >= MarginThreshold).as("is_pair"))
      .orderBy($"probe_id")
  }

  val sqlMarginMine: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |mat AS (SELECT p.vec_id AS x, c.vec_id AS y,
       |    ${sqlCosine("p.v", "c.v")} AS cos
       |  FROM e p JOIN e c ON p.vec_id < $MarginProbes AND c.vec_id >= $MarginProbes),
       |nnx AS (SELECT x,
       |    CAST(sum(CAST(cos AS DECIMAL(28,12))) AS DOUBLE) / ${2.0 * MarginK} AS ax
       |  FROM (SELECT x, cos,
       |      row_number() OVER (PARTITION BY x ORDER BY cos DESC, y) AS rk FROM mat)
       |  WHERE rk <= $MarginK GROUP BY x),
       |nny AS (SELECT y,
       |    CAST(sum(CAST(cos AS DECIMAL(28,12))) AS DOUBLE) / ${2.0 * MarginK} AS ay
       |  FROM (SELECT y, cos,
       |      row_number() OVER (PARTITION BY y ORDER BY cos DESC, x) AS rk FROM mat)
       |  WHERE rk <= $MarginK GROUP BY y),
       |m AS (SELECT mat.x, mat.y, mat.cos, mat.cos / (nnx.ax + nny.ay) AS margin
       |  FROM mat JOIN nnx USING (x) JOIN nny USING (y))
       |SELECT x AS probe_id, y AS match_id, cos, margin,
       |  margin >= $MarginThreshold AS is_pair
       |FROM (SELECT x, y, cos, margin,
       |    row_number() OVER (PARTITION BY x ORDER BY margin DESC, y) AS rk FROM m)
       |WHERE rk = 1 ORDER BY probe_id""".stripMargin

  // ------------------------------------------------------------------
  // Late-interaction MaxSim scoring (Khattab & Zaharia, SIGIR 2020:
  // ColBERT). Documents are MULTI-vector here: vec_id div 8 groups the
  // embedding table into pseudo-documents of 8 token-vectors each, and
  //   score(q, d) = Σ_{qt ∈ q} max_{dt ∈ d} cos(qt, dt)
  // — each query token finds its best-matching document token, and the
  // per-token maxima sum (decimal, order-free). This is the retrieval
  // scorer single-vector search cannot express: a document matches if
  // it covers EVERY facet of the query somewhere, not on one pooled
  // direction. Query side = the first $MaxSimQueries pseudo-docs
  // (bounded probe contract, broadcast); corpus side is ONE scan, and
  // the two aggregations move only slim (q_doc, token/doc, max-cos)
  // rows. In production the corpus side is first pruned by ANN over
  // pooled vectors ([[qAnnIvf]]) and MaxSim re-ranks the shortlist —
  // the scorer is unchanged.
  // ------------------------------------------------------------------
  val MaxSimDocVecs = 8
  val MaxSimQueries = 4
  val MaxSimTopK = 5

  def qMaxSim(spark: SparkSession, dir: String): DataFrame = {
    val DEC28 = org.apache.spark.sql.types.DecimalType(28, 12)
    val base = vecs(spark, dir)
      .withColumn("gid", expr(s"vec_id div $MaxSimDocVecs"))
      .withColumn("nv", normCol($"v"))
    val qvecs = base.filter($"gid" < MaxSimQueries)
      .select($"gid".as("q_doc"), $"vec_id".as("qt"), $"v".as("qv"), $"nv".as("nq"))
    val perToken = base.filter($"gid" >= MaxSimQueries)
      .join(broadcast(qvecs), $"gid" =!= $"q_doc")
      .groupBy($"q_doc", $"qt", $"gid".as("doc"))
      .agg(max(cosineWithNorms($"qv", $"v", $"nq", $"nv")).as("best"))
    val w = Window.partitionBy($"q_doc").orderBy($"score".desc, $"doc")
    perToken.groupBy($"q_doc", $"doc")
      .agg(sum($"best".cast(DEC28)).cast("double").as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= MaxSimTopK)
      .select($"q_doc", $"rank", $"doc", $"score")
      .orderBy($"q_doc", $"rank")
  }

  val sqlMaxSim: String =
    s"""WITH e AS (SELECT vec_id, vec_id // $MaxSimDocVecs AS gid,
       |    embedding::DOUBLE[] AS v FROM embeddings),
       |pt AS (SELECT q.gid AS q_doc, q.vec_id AS qt, c.gid AS doc,
       |    max(${sqlCosine("q.v", "c.v")}) AS best
       |  FROM e q JOIN e c ON q.gid < $MaxSimQueries AND c.gid >= $MaxSimQueries
       |  GROUP BY 1, 2, 3),
       |s AS (SELECT q_doc, doc,
       |    CAST(sum(CAST(best AS DECIMAL(28,12))) AS DOUBLE) AS score
       |  FROM pt GROUP BY 1, 2)
       |SELECT q_doc, rank, doc, score FROM (
       |  SELECT q_doc, doc, score,
       |    row_number() OVER (PARTITION BY q_doc ORDER BY score DESC, doc)::BIGINT AS rank
       |  FROM s)
       |WHERE rank <= $MaxSimTopK ORDER BY q_doc, rank""".stripMargin

  // ------------------------------------------------------------------
  // Persisted IVF index artifact (X159): the index LIFECYCLE half of
  // the ANN story — X9 builds the inverted file in-session; a deployed
  // retrieval system builds it ONCE at ingest, persists it, and serves
  // queries from the artifact. Two parquet artifacts per (session,
  // dir), memoized like every other store:
  //   inverted/  (vec_id, v, nv, cell)  — PARTITIONED BY cell, with
  //     the norm precomputed (an honest index stores its norms);
  //   queries/   (query_id, qv, nq, cell) — the probe lists.
  // The probe phase reads ONLY the artifacts: broadcast the probe
  // list, join on cell, cosine, top-3. Because the inverted file is
  // cell-partitioned on disk and the probe side is a broadcast-able
  // filtered frame, Catalyst inserts DYNAMIC PARTITION PRUNING on the
  // scan — a 100 TB inverted file reads just the probed cells'
  // partitions (PlanSpec pins dynamicpruning in the scan). Results are
  // gated against the SAME DuckDB oracle as the in-memory X9 path:
  // agreement proves the round-trip through parquet loses nothing.
  // ------------------------------------------------------------------
  /** The frozen centroid frame (cent_id, cv, ncv) — broadcast-sized,
    * shared by the corpus builders and the streaming ingest assign. */
  private def centroidFrame(spark: SparkSession): DataFrame = {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    ivfGateCentroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("cent_id", "cv")
      .withColumn("ncv", normCol($"cv"))
  }

  /** Frozen-centroid assignment of every corpus vector: (vec_id, v,
    * nv, cent_id, rk) for rk ≤ IvfNprobe — the one expensive frame all
    * three artifact builders share. Caller persists/unpersists. */
  private def rankedAssign(spark: SparkSession, dir: String): DataFrame = {
    val corpus = vecs(spark, dir).withColumn("nv", normCol($"v"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cent_id")
    corpus.join(broadcast(centroidFrame(spark)))
      .select($"vec_id", $"v", $"nv", $"cent_id",
        cosineWithNorms($"v", $"cv", $"nv", $"ncv").as("ccos"))
      .withColumn("rk", row_number().over(wAssign))
      .filter($"rk" <= IvfNprobe)
  }

  /** Frozen-centroid rank-1 cell assignment of an arbitrary (vec_id,
    * v) batch — the streaming-ingest face ([[graft.streaming
    * .VectorSink]]) of the same assignment the corpus builders use:
    * broadcast centroids, per-row cosine, one batch-keyed ranking
    * window. Output (vec_id, v, nv, cell) is the inverted-file row
    * shape. */
  def assignCells(batch: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    val w = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cent_id")
    batch.select($"vec_id", $"v".cast("array<double>").as("v"))
      .withColumn("nv", normCol($"v"))
      .join(broadcast(centroidFrame(spark)))
      .select($"vec_id", $"v", $"nv", $"cent_id",
        cosineWithNorms($"v", $"cv", $"nv", $"ncv").as("ccos"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"vec_id", $"v", $"nv", $"cent_id".as("cell"))
  }

  /** Build the pre-ingest artifact state at an explicit base: inverted
    * file holding only the corpus slice (vec_id mod 10 ≠ 7), full
    * probe list — what X165/X180 ingest against. */
  def buildSliceArtifact(spark: SparkSession, dir: String, base: String): Unit = {
    val ranked = rankedAssign(spark, dir).persist()
    buildIvfArtifact(ranked, base,
      $"vec_id" % Dedup.IncomingMod =!= Dedup.IncomingRem)
    ranked.unpersist()
    ()
  }

  /** Write the (inverted, queries) artifact pair under `base`; the
    * inverted file holds only rows passing `invFilter`. */
  private def buildIvfArtifact(ranked: DataFrame, base: String,
      invFilter: Column): Unit = {
    ranked.filter($"rk" === 1 && invFilter)
      .select($"vec_id", $"v", $"nv", $"cent_id".as("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$base/inverted")
    ranked.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nv".as("nq"),
        $"cent_id".as("cell"))
      .write.mode("overwrite").parquet(s"$base/queries")
  }

  /** Build and persist the IVF artifacts; returns the base path. */
  def ivfArtifact(spark: SparkSession, dir: String): String =
    Memo.onDisk(spark, dir, "Similarity.ivfArtifact") { base =>
      val ranked = rankedAssign(spark, dir).persist()
      buildIvfArtifact(ranked, base, lit(true))
      ranked.unpersist()
      base
    }

  /** Gate: top-3 per query served purely from the persisted artifacts
    * — must match the in-memory X9 construction value-for-value. The
    * probed cell set (a BOUNDED model read: ≤ |centroids| = 8 values,
    * corpus-independent — the k-means read-back stance) becomes a
    * LITERAL IN predicate on the partition column, so the scan's
    * PartitionFilters prune the inverted file to just the probed
    * cells' directories — the plan a 100 TB serving path wants. */
  def qAnnArtifact(spark: SparkSession, dir: String): DataFrame =
    probeArtifact(spark, ivfArtifact(spark, dir))

  /** The serving path over any persisted artifact pair: probed cells
    * (bounded ≤ |centroids| model read) become a literal partition
    * filter, queries broadcast into their cells, one ranking window. */
  def probeArtifact(spark: SparkSession, base: String): DataFrame = {
    val probes = spark.read.parquet(s"$base/queries")
    val probedCells = probes.select($"cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val inv = spark.read.parquet(s"$base/inverted")
      .filter($"cell".isin(probedCells: _*))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    inv.join(broadcast(probes), Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosineWithNorms($"qv", $"v", $"nq", $"nv").as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"cosine")
      .orderBy($"query_id", $"rank")
  }

  // ------------------------------------------------------------------
  // Incremental artifact maintenance (X165 — the ingest-batch half of
  // the X159 index lifecycle, the X154 bucketed-append argument on the
  // CELL partition column): a persisted inverted file is only worth
  // its build cost if arriving vectors can join it WITHOUT a rebuild.
  // The incoming batch is assigned against the SAME frozen centroids
  // and idempotent-appended into its cell directories through
  // [[graft.streaming.Streams.idempotentAppend]] — 2 Spark jobs that
  // read only the store files whose vec_id range overlaps the batch's,
  // replays no-op (vec_id is unique across cells), and the probe path
  // is unchanged.
  // The GATE builds the artifact from the corpus slice (vec_id mod 10
  // ≠ 7, the repo's ingest-split convention), appends the incoming
  // slice as a second write, and serves the SAME probe — the ORACLE is
  // the full-corpus in-memory construction, so agreement proves
  // increment ≡ rebuild: nothing lost, duplicated, or mis-celled.
  // ------------------------------------------------------------------
  def ivfArtifactInc(spark: SparkSession, dir: String): String =
    Memo.onDisk(spark, dir, "Similarity.ivfArtifactInc") { base =>
      val ranked = rankedAssign(spark, dir).persist()
      buildIvfArtifact(ranked, base,
        $"vec_id" % Dedup.IncomingMod =!= Dedup.IncomingRem)
      val incoming = ranked
        .filter($"rk" === 1 && $"vec_id" % Dedup.IncomingMod === Dedup.IncomingRem)
        .select($"vec_id", $"v", $"nv", $"cent_id".as("cell"))
      graft.streaming.Streams.idempotentAppend(
        incoming, Seq("vec_id"), s"$base/inverted", Seq("cell"))
      ranked.unpersist()
      base
    }

  /** Gate: the X159 probe served from the incrementally-maintained
    * artifact; oracle = the full-corpus construction. */
  def qAnnArtifactInc(spark: SparkSession, dir: String): DataFrame =
    probeArtifact(spark, ivfArtifactInc(spark, dir))

  // ------------------------------------------------------------------
  // Artifact retraction (X166 — the X128/X164 takedown argument on the
  // index FILE): removing a vector from the inverted file rewrites
  // ONLY its cell directory (read one `cell=` partition, filter, stage,
  // swap — the compactBucketed read-rewrite-swap), a 1/|cells| bounded
  // maintenance job, never the index. The GATE retracts the most
  // load-bearing vector there is — the rank-1 neighbor of the smallest
  // query, a deterministic 1-row model read the ORACLE replays in SQL
  // — and re-serves the probe; oracle = the in-memory construction
  // with that vector excluded from the inverted lists. Agreement
  // proves the takedown actually changed serving results AND the
  // partition-scoped rewrite equals a full rebuild without the doc.
  // ------------------------------------------------------------------

  /** Remove one vector from a persisted inverted file by rewriting its
    * cell directory in place. No-op if the id is not indexed. */
  def retractFromIvfArtifact(spark: SparkSession, base: String, vecId: Long): Unit = {
    val inv = spark.read.parquet(s"$base/inverted")
    // Bounded model read: every cell holding the id. The current
    // builder assigns each vector to exactly one cell, but a takedown
    // primitive must not silently retain copies if a future layout
    // (nprobe>1 replication, a duplicated append) ever multi-homes an
    // id — so rewrite EVERY matching cell, not hit.head only.
    val cells = inv.filter($"vec_id" === vecId)
      .select($"cell".cast("long")).distinct().collect().map(_.getLong(0))
    if (cells.isEmpty) return
    val conf = spark.sparkContext.hadoopConfiguration
    cells.foreach { cell =>
      val cellPath = new org.apache.hadoop.fs.Path(s"$base/inverted/cell=$cell")
      val stage = new org.apache.hadoop.fs.Path(s"$base/stage_cell_$cell")
      val fs = cellPath.getFileSystem(conf)
      // the cell directory read back directly (partition value lives in
      // the directory name, exactly what the rewrite preserves)
      spark.read.parquet(cellPath.toString)
        .filter($"vec_id" =!= vecId)
        .write.mode("overwrite").parquet(stage.toString)
      DirSwap.replace(fs, cellPath, stage)
    }
    ()
  }

  /** Build a retraction twin: full artifact, then retract the rank-1
    * neighbor of the smallest query. Returns (base, retracted id). */
  def ivfArtifactRetract(spark: SparkSession, dir: String): (String, Long) =
    Memo.onDisk(spark, dir, "Similarity.ivfArtifactRetract") { base =>
      val ranked = rankedAssign(spark, dir).persist()
      buildIvfArtifact(ranked, base, lit(true))
      ranked.unpersist()
      // deterministic, oracle-replayable victim: first row of the
      // (query_id, rank)-ordered probe — a 1-row bounded read
      val rid = probeArtifact(spark, base).head.getLong(2)
      retractFromIvfArtifact(spark, base, rid)
      (base, rid)
    }

  /** Gate: the probe after the takedown; oracle = the construction
    * with the victim excluded from the inverted lists. */
  def qAnnArtifactRetract(spark: SparkSession, dir: String): DataFrame =
    probeArtifact(spark, ivfArtifactRetract(spark, dir)._1)

  /** Oracle twin of [[qAnnArtifactRetract]]: the [[sqlAnnIvf]] CTE
    * chain run twice — once unfiltered to find the victim (the rank-1
    * neighbor of the smallest query), once serving with the victim's
    * rows dropped from the inverted lists. */
  val sqlAnnArtifactRetract: String = {
    val centRows = IvfGateCentroids.Nums.zipWithIndex.map { case (nums, i) =>
      s"($i, list_transform(${nums.mkString("[", ", ", "]")}, x -> x / ${CentDenom.toLong}.0))"
    }.mkString(",\n  ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c(cent_id, cv) AS (VALUES
       |  $centRows),
       |s AS (SELECT v.vec_id, v.v, c.cent_id,
       |        ${sqlCosine("v.v", "c.cv")} AS ccos
       |      FROM v CROSS JOIN c),
       |r AS (SELECT vec_id, v, cent_id,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rk
       |      FROM s),
       |a AS (SELECT vec_id, v, cent_id AS cell FROM r WHERE rk = 1),
       |qc AS (SELECT vec_id AS query_id, cent_id AS cell FROM r
       |       WHERE vec_id < 10 AND rk <= $IvfNprobe),
       |c2 AS (SELECT qc.query_id, a.vec_id AS neighbor_id,
       |        ${sqlCosine("q.v", "a.v")} AS cosine
       |      FROM qc JOIN a ON a.cell = qc.cell AND a.vec_id <> qc.query_id
       |      JOIN v q ON q.vec_id = qc.query_id),
       |fullr AS (SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM c2),
       |rid AS (SELECT neighbor_id AS x FROM fullr
       |  WHERE rank = 1 AND query_id = (SELECT min(query_id) FROM fullr)),
       |c3 AS (SELECT qc.query_id, a.vec_id AS neighbor_id,
       |        ${sqlCosine("q.v", "a.v")} AS cosine
       |      FROM qc JOIN a ON a.cell = qc.cell AND a.vec_id <> qc.query_id
       |      JOIN v q ON q.vec_id = qc.query_id
       |      WHERE a.vec_id NOT IN (SELECT x FROM rid))
       |SELECT query_id, rank, neighbor_id, cosine FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM c3)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }
}
