package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorExpressions.dotProduct

class VectorExpressionsSpec extends SparkSpec {

  test("DotProduct matches a strict left-fold JVM computation exactly") {
    import spark.implicits._
    val a = Seq(0.1, -2.5, 3.75, 1e-9, 4.0)
    val b = Seq(1.5, 0.25, -1.125, 2e9, 0.5)
    val got = Seq((a, b)).toDF("a", "b")
      .select(dotProduct($"a", $"b")).head().getDouble(0)
    var expected = 0.0
    a.indices.foreach(i => expected += a(i) * b(i))
    assert(got == expected) // bit-exact, not approximate
  }

  test("DotProduct agrees with the interpreted zip_with/aggregate fold it replaced") {
    import spark.implicits._
    val df = graft.sources.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .limit(50)
    val folded = aggregate(zip_with($"v", $"v", (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val rows = df.select(dotProduct($"v", $"v").as("native"), folded.as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // identical fold order
  }

  test("dot_product is registered as a SQL function via GraftExtensions") {
    val got = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d))")
      .head().getDouble(0)
    assert(got == 32.0)
  }

  test("DotProduct stays inside whole-stage codegen") {
    import spark.implicits._
    // parquet-backed plan (a local relation folds to LocalTableScan)
    val plan = graft.sources.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
      .select($"embedding".cast("array<double>").as("v"))
      .select(dotProduct($"v", $"v"))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix marks a WholeStageCodegen stage; the projection
    // computing dot_product must carry it
    assert(plan.linesIterator.exists(l => l.contains("dot_product") && l.trim.startsWith("*(")))
  }

  test("null inputs yield null") {
    import spark.implicits._
    val got = Seq((Some(Seq(1.0)), Option.empty[Seq[Double]])).toDF("a", "b")
      .select(dotProduct($"a", $"b")).head()
    assert(got.isNullAt(0))
  }

  // ---- PqDistArray (round-15 PQ sub-distance kernel) -----------------

  /** The interpreted HOF formulation PqDistArray replaced — kept here
    * as the semantic reference the kernel must match bit-for-bit. */
  private def hofDistArray(m: Int) = {
    val subDims = graft.operators.PqCodebooks.Nums(m).head.length
    val cents = graft.operators.PqCodebooks.Nums(m)
      .map(_.map(_ / (1L << 20).toDouble))
    array(cents.map { cent =>
      aggregate(
        zip_with(slice(col("v"), m * subDims + 1, subDims), typedLit(cent),
          (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    }: _*)
  }

  test("PqDistArray agrees bit-for-bit with the HOF fold it replaced, all subspaces") {
    import spark.implicits._
    val df = graft.sources.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
      .select($"embedding".cast("array<double>").as("v"))
    val cells = graft.operators.PqCodebooks.Nums.head.length
    (0 until graft.operators.PqCodebooks.Nums.length).foreach { m =>
      val rows = df.select(
        VectorExpressions.pqDistArray($"v", m).as("native"),
        hofDistArray(m).as("hof")).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val n = r.getSeq[Double](0); val h = r.getSeq[Double](1)
        assert(n.length == cells && h.length == cells)
        n.indices.foreach(i => assert(n(i) == h(i))) // identical fold order
      }
    }
  }

  test("PqDistArray degenerate inputs mirror the HOF null algebra") {
    import spark.implicits._
    // short vector: zip_with pads with null -> null products -> null fold
    val short = Seq(Tuple1(Seq(1.0, 2.0))).toDF("v")
      .select(VectorExpressions.pqDistArray($"v", 0).as("native"),
        hofDistArray(0).as("hof")).head()
    val nat = short.getSeq[Any](0); val hof = short.getSeq[Any](1)
    assert(nat.length == hof.length && nat.forall(_ == null) && hof.forall(_ == null))
    // null vector -> null result
    val nul = Seq(Tuple1(Option.empty[Seq[Double]])).toDF("v")
      .select(VectorExpressions.pqDistArray($"v", 0)).head()
    assert(nul.isNullAt(0))
    // null element inside the subspace -> all-null array (HOF parity)
    val nulElem = Seq(Tuple1(Seq.fill[java.lang.Double](64)(1.0).updated(3, null: java.lang.Double)))
      .toDF("v")
      .select(VectorExpressions.pqDistArray($"v", 0).as("native"),
        hofDistArray(0).as("hof")).head()
    assert(nulElem.getSeq[Any](0).forall(_ == null))
    assert(nulElem.getSeq[Any](1).forall(_ == null))
  }

  test("PqDistArray stays inside whole-stage codegen") {
    import spark.implicits._
    val plan = graft.sources.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
      .select($"embedding".cast("array<double>").as("v"))
      .select(VectorExpressions.pqDistArray($"v", 1))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("pq_dist_array") && l.trim.startsWith("*(")))
  }

  test("pq_dist_array is registered as a SQL function via GraftExtensions") {
    val row = spark.sql(
      "SELECT pq_dist_array(array_repeat(0.0d, 64), 2) AS d").head()
    val cells = graft.operators.PqCodebooks.Nums(2).length
    assert(row.getSeq[Double](0).length == cells)
  }

  // The subspace is read once as a constant, so anything else must fail
  // when the query is analyzed, naming the function and the valid range.
  private val subspaces = graft.operators.PqCodebooks.Nums.length
  Seq(
    "a column" -> "CAST(id AS INT)",
    "a negative value" -> "-1",
    "an out-of-range value" -> subspaces.toString).foreach { case (what, arg) =>
    test(s"pq_dist_array rejects $what as its subspace at analysis time") {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT pq_dist_array(array_repeat(0.0d, 64), $arg) AS d FROM range(3)"))
      assert(e.getMessage.contains(s"pq_dist_array: the subspace (second argument) must be a constant integer in [0, $subspaces)"),
        e.getMessage)
    }
  }
}
