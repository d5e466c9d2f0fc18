package graft.functions

import java.security.MessageDigest

import scala.util.Random

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}

import graft.SparkSpec
import graft.functions.Hashing._

class HashingSpec extends SparkSpec {

  private def one(c: org.apache.spark.sql.Column, text: String): Any = {
    import spark.implicits._
    Seq(text).toDF("text").select(c.as("r")).head().get(0)
  }

  test("h60 matches an independent JVM sha256 computation and is non-negative") {
    val s = "hello world"
    val hex = MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val expected = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    assert(one(h60(col("text")), s) == expected)
    assert(expected >= 0) // 15 hex chars = 60 bits, always fits positive
  }

  test("tokens: lower-cases, trims, splits on whitespace runs") {
    assert(one(tokens(col("text")), "  Hello   WORLD\tfoo ") ==
      Seq("hello", "world", "foo"))
  }

  test("wordShingles: n-grams in order; short docs yield empty") {
    val sh = wordShingles(tokens(col("text")), 3)
    assert(one(sh, "a b c d") == Seq("a b c", "b c d"))
    assert(one(sh, "a b") == Seq())
  }

  test("minhashSignature: k entries, all non-negative, deterministic") {
    val sig = minhashSignature(array_distinct(wordShingles(tokens(col("text")), 3)), 8)
    val r1 = one(sig, "the quick brown fox jumps").asInstanceOf[scala.collection.Seq[Long]]
    val r2 = one(sig, "the quick brown fox jumps").asInstanceOf[scala.collection.Seq[Long]]
    assert(r1 == r2 && r1.size == 8 && r1.forall(_ >= 0))
    // no shingles -> sentinel -1s
    assert(one(sig, "one two").asInstanceOf[scala.collection.Seq[Long]].forall(_ == -1L))
  }

  test("simhash60: order-independent over the token multiset, 60-bit") {
    val h = simhash60(tokens(col("text")))
    val a = one(h, "alpha beta gamma delta epsilon").asInstanceOf[Long]
    val b = one(h, "epsilon delta gamma beta alpha").asInstanceOf[Long]
    assert(a == b)
    assert(a >= 0 && a < (1L << 60))
  }

  test("simhash60: near-dup docs land within small hamming distance") {
    val h = simhash60(tokens(col("text")))
    val doc = "spark catalyst tungsten shuffle partition broadcast join window state stream"
    val near = doc.replace("state", "statex")
    val (a, b) = (one(h, doc).asInstanceOf[Long], one(h, near).asInstanceOf[Long])
    assert(java.lang.Long.bitCount(a ^ b) <= 20) // one token of ten changed
  }

  test("jaccard: identical=1, disjoint=0, empty-union=0") {
    import spark.implicits._
    val df = Seq((Seq("a", "b"), Seq("a", "b")), (Seq("a"), Seq("b")),
      (Seq.empty[String], Seq.empty[String])).toDF("x", "y")
    val got = df.select(jaccard(col("x"), col("y"))).collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(1.0, 0.0, 0.0))
  }

  /** The Jaccard formula `graft_jaccard` replaced, kept as its reference. */
  private def jaccardReference(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, 0.0).otherwise(inter / union)
  }

  /** Random pairs over a small domain (so duplicates and overlaps are
    * common) with null elements, empty arrays and null arrays, plus the
    * edge pairs spelled out. */
  private def jaccardPairs[T](draw: Random => T): Seq[Row] = {
    val rnd = new Random(42)
    def arr(): Seq[Any] =
      if (rnd.nextInt(20) == 0) null
      else Seq.fill(rnd.nextInt(13))(if (rnd.nextInt(10) == 0) null else draw(rnd))
    val edges: Seq[(Seq[Any], Seq[Any])] = Seq(
      (null, null), (Seq(), Seq()), (Seq(), null), (Seq(null), Seq(null)),
      (Seq(null), Seq()), (Seq(null, null), Seq(null)))
    (edges ++ Seq.fill(600)((arr(), arr()))).map { case (a, b) => Row(a, b) }
  }

  private def assertKernelMatchesReference(rows: Seq[Row], elem: DataType): Unit = {
    val schema = StructType(Seq(
      StructField("x", ArrayType(elem), nullable = true),
      StructField("y", ArrayType(elem), nullable = true)))
    // an RDD source, so the optimizer cannot fold the projection into a
    // local relation evaluated while planning
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    def run(wholeStage: String, factory: String): Array[Row] = {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      try {
        val q = df.select(jaccard(col("x"), col("y")).as("k"),
          jaccardReference(col("x"), col("y")).as("ref"))
        val plan = q.queryExecution.executedPlan
        assert(plan.toString.contains("graft_jaccard"))
        assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]) == (wholeStage == "true"))
        q.collect()
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    for ((mode, got) <- Seq("interpreted" -> run("false", "NO_CODEGEN"),
        "codegen" -> run("true", "CODEGEN_ONLY"))) {
      assert(got.length == rows.length)
      got.zip(rows).foreach { case (r, in) =>
        assert(r.get(0) == r.get(1), s"$mode: graft_jaccard ${r.get(0)} != reference ${r.get(1)} on $in")
      }
      assert(got.exists(r => !r.isNullAt(0) && r.getDouble(0) > 0.0 && r.getDouble(0) < 1.0))
    }
  }

  test("graft_jaccard equals the array_intersect/array_union formula on bigint arrays") {
    assertKernelMatchesReference(jaccardPairs(r => (r.nextInt(16) - 4).toLong), LongType)
  }

  test("graft_jaccard equals the array_intersect/array_union formula on string arrays") {
    val words = Seq("a", "b", "c b", "é", "ſ", "S", "s", "", " ", "long shingle text")
    assertKernelMatchesReference(jaccardPairs(r => words(r.nextInt(words.size))), StringType)
  }

  test("graft_jaccard rejects arrays that are not bigint or string at analysis") {
    import spark.implicits._
    val df = Seq((Seq(1, 2), Seq(2, 3))).toDF("x", "y")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      df.select(jaccard(col("x"), col("y"))).collect())
    assert(e.getMessage.contains("graft_jaccard"))
  }

  test("q_ngram_jaccard verifies pairs with graft_jaccard, not array_union/array_intersect") {
    val plan = graft.operators.Dedup.qNgramJaccard(spark, graft.SparkSpec.Sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_jaccard"))
    assert(!plan.contains("array_union") && !plan.contains("array_intersect"))
  }

  test("TextKernels match their composed-expression twins on the real corpus") {
    import spark.implicits._
    import graft.functions.TextKernelFunctions
    val docs = graft.sources.Tables.documents(spark, graft.SparkSpec.Sf0001)
    val t = tokens(col("text"))
    val rows = docs.select(
      TextKernelFunctions.shingleSet(col("text")).as("k_sh"),
      array_distinct(wordShingles(t, 3)).as("h_sh"),
      TextKernelFunctions.minhashSig(col("text")).as("k_sig"),
      minhashSignature(array_distinct(wordShingles(t, 3)), 8).as("h_sig"),
      TextKernelFunctions.simhash60(col("text")).as("k_sim"),
      simhash60(t).as("h_sim")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
      assert(r.getSeq[Long](2) == r.getSeq[Long](3))
      assert(r.getLong(4) == r.getLong(5))
    }
  }

  test("TextKernels handle edge inputs like the composed expressions") {
    import spark.implicits._
    import graft.functions.TextKernelFunctions
    val cases = Seq("", " ", "one two", "a a a a", "xé y z w")
    val df = cases.toDF("text")
    val t = tokens(col("text"))
    df.select(
      TextKernelFunctions.minhashSig(col("text")).as("k_sig"),
      minhashSignature(array_distinct(wordShingles(t, 3)), 8).as("h_sig"),
      TextKernelFunctions.simhash60(col("text")).as("k_sim"),
      simhash60(t).as("h_sim")).collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
      assert(r.getLong(2) == r.getLong(3))
    }
  }

  test("anchorHashes matches the composed sliding-window formulation") {
    import spark.implicits._
    import graft.functions.{TextKernels, TextKernelFunctions}
    val L = TextKernels.AnchorLen
    val docs = graft.sources.Tables.documents(spark, graft.SparkSpec.Sf0001)
      .select(col("text"))
      .union(Seq("", " ", "one two", ("tok " * L).trim, ("tok " * (L + 3)).trim).toDF("text"))
    val t = tokens(col("text"))
    // old expression-tree form: every start position, slice, join, h60
    val composed = when(size(t) >= L,
      transform(sequence(lit(1), size(t) - (L - 1)),
        p => h60(array_join(slice(t, p, lit(L)), " "))))
      .otherwise(array().cast("array<bigint>"))
    docs.select(
      TextKernelFunctions.anchorHashes(col("text")).as("k"),
      composed.as("h")).collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("bandKey: equal band slices collide, different slices don't") {
    import spark.implicits._
    val df = Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 9L, 9L))).toDF("s1", "s2")
    val Row(a1: String, a2: String, b1: String, b2: String) = df.select(
      bandKey(col("s1"), 0, 2), bandKey(col("s2"), 0, 2),
      bandKey(col("s1"), 1, 2), bandKey(col("s2"), 1, 2)).head()
    assert(a1 == a2) // band 0 = rows 1..2 match
    assert(b1 != b2) // band 1 = rows 3..4 differ
  }
}
