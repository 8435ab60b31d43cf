package graft

import graft.operators.SimilarityQueries
import org.apache.spark.sql.functions._

/** The native codegen'd cosine expression: correctness vs the HOF
  * composition, null semantics, implicit float->double casts, and SQL
  * registration. */
class CosineExpressionSpec extends SparkTestBase {

  test("native cosine is bit-identical to the HOF composition (s01 vs s04)") {
    val hof = SimilarityQueries.s01AnnBruteForce(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val native = SimilarityQueries.s04AnnNative(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(native === hof)
  }

  test("scalar semantics: known vectors, nulls, ragged lengths, float input") {
    import spark.implicits._
    val df = Seq(
      (1, Array(1.0, 0.0), Array(0.0, 1.0)),   // orthogonal -> 0
      (2, Array(1.0, 2.0), Array(2.0, 4.0)),   // parallel -> 1
      (3, Array(1.0, 0.0), Array(-1.0, 0.0)))  // opposite -> -1
      .toDF("id", "a", "b")
    val got = df.selectExpr("id", "graft_cosine(a, b) as c").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1) - 0.0) < 1e-15)
    assert(math.abs(got(2) - 1.0) < 1e-15)
    assert(math.abs(got(3) + 1.0) < 1e-15)

    // ragged lengths -> null
    val ragged = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
      .selectExpr("graft_cosine(a, b) as c").collect()(0)
    assert(ragged.isNullAt(0))

    // null input -> null
    val withNull = spark.sql("SELECT graft_cosine(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS c").collect()(0)
    assert(withNull.isNullAt(0))

    // float arrays pass through the implicit cast
    val floats = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .selectExpr("graft_cosine(a, b) as c").collect()(0).getDouble(0)
    assert(math.abs(floats - 1.0) < 1e-7)
  }

  test("perf note: native fused cosine vs HOF composition on identical pair workload") {
    import spark.implicits._
    // synthetic: 200k pairs of 64-dim vectors, same data for both paths
    val base = spark.range(200000)
      .select(col("id"),
        expr("transform(sequence(1, 64), i -> cast(pmod(hash(id, i), 1000) as double) / 1000.0)").as("a"),
        expr("transform(sequence(1, 64), i -> cast(pmod(hash(id, i, 7), 1000) as double) / 1000.0)").as("b"))
      .cache()
    base.count()
    def time(q: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val t0 = System.nanoTime()
      val r = q.agg(org.apache.spark.sql.functions.sum("c")).collect()(0).getDouble(0)
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val hofExpr = "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)" +
      " / (sqrt(aggregate(zip_with(a, a, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v))" +
      " * sqrt(aggregate(zip_with(b, b, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)))"
    // warmup both
    time(base.selectExpr(s"$hofExpr as c")); time(base.selectExpr("graft_cosine(a, b) as c"))
    val (tHof, rHof) = time(base.selectExpr(s"$hofExpr as c"))
    val (tNative, rNative) = time(base.selectExpr("graft_cosine(a, b) as c"))
    info(f"HOF: $tHof%.2fs  native: $tNative%.2fs  speedup: ${tHof / tNative}%.1fx")
    assert(rHof === rNative, "identical op order must give bit-identical sums")
    // the fused loop must not be slower; allow slack for the noisy box
    assert(tNative <= tHof * 1.2, f"native $tNative%.2fs vs HOF $tHof%.2fs")
    base.unpersist()
  }

  test("interpreted eval matches codegen") {
    import spark.implicits._
    val df = Seq((Array(0.3, -1.7, 2.2), Array(1.1, 0.4, -0.9))).toDF("a", "b")
    val codegen = df.selectExpr("graft_cosine(a, b) as c").collect()(0).getDouble(0)
    val expr = graft.functions.CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(Array(0.3, -1.7, 2.2),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(Array(1.1, 0.4, -0.9),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))
    val interpreted = expr.eval(null).asInstanceOf[Double]
    assert(codegen === interpreted)
  }
}
