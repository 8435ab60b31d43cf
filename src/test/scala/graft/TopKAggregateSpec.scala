package graft

import graft.functions.TopKBuffer
import graft.operators.{ExtendedQueries, StarQueries}
import org.apache.spark.sql.functions._

/** GraftTopK custom aggregate: semantics vs the window formulation, plan
  * shape (partial ObjectHashAggregate — the scale argument), and buffer
  * edge cases. */
class TopKAggregateSpec extends SparkTestBase {

  test("graft_topk equals the window top-n formulation row for row") {
    val native = ExtendedQueries.q55TopKNative(spark, Sf0001).collect().toSeq
    val window = StarQueries.q15WindowTopN(spark, Sf0001)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .collect().toSeq
    assert(native == window)
  }

  test("plan uses ObjectHashAggregate with a partial (map-side) phase, no Window") {
    val plan = ExtendedQueries.q55TopKNative(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate in:\n$plan")
    assert(plan.contains("partial_graft_topk"), s"expected partial aggregation in:\n$plan")
    assert(!plan.contains("Window"), s"window operator should not appear in:\n$plan")
  }

  test("ties on ord break by smallest payload; k > group size returns the whole group") {
    import spark.implicits._
    Seq((1L, 5.0, 10L), (1L, 5.0, 7L), (1L, 3.0, 1L))
      .toDF("g", "v", "id").createOrReplaceTempView("tk_ties")
    val r = spark.sql(
      "SELECT graft_topk(v, id, 2) AS tk FROM tk_ties GROUP BY g").collect()(0)
      .getSeq[org.apache.spark.sql.Row](0)
    assert(r.map(x => (x.getDouble(0), x.getLong(1))) == Seq((5.0, 7L), (5.0, 10L)))
    val all = spark.sql(
      "SELECT graft_topk(v, id, 100) AS tk FROM tk_ties GROUP BY g").collect()(0)
      .getSeq[org.apache.spark.sql.Row](0)
    assert(all.size == 3 && all.map(_.getLong(1)) == Seq(7L, 10L, 1L))
  }

  test("null ord or payload rows are skipped") {
    import spark.implicits._
    Seq((1L, Some(5.0), Some(10L)), (1L, None, Some(7L)), (1L, Some(9.0), None))
      .toDF("g", "v", "id").createOrReplaceTempView("tk_nulls")
    val r = spark.sql(
      "SELECT graft_topk(v, id, 3) AS tk FROM tk_nulls GROUP BY g").collect()(0)
      .getSeq[org.apache.spark.sql.Row](0)
    assert(r.map(x => (x.getDouble(0), x.getLong(1))) == Seq((5.0, 10L)))
  }

  test("NaN ords sort greatest (SQL order) and never block later inserts") {
    val buf = new TopKBuffer(2)
    buf.add(5.0, 5L)
    buf.add(Double.NaN, 7L)
    // 9.0 must displace 5.0 even though the last slot holds... order is
    // [NaN, 5.0]; 9.0 beats 5.0 -> [NaN, 9.0]
    buf.add(9.0, 9L)
    val got = (0 until buf.size).map(i => (buf.ords(i), buf.payloads(i)))
    assert(got.head._1.isNaN && got.head._2 == 7L)
    assert(got(1) == (9.0, 9L))
    // two NaNs tie-break on payload
    val b2 = new TopKBuffer(2)
    b2.add(Double.NaN, 9L); b2.add(Double.NaN, 3L); b2.add(100.0, 1L)
    val g2 = (0 until b2.size).map(i => b2.payloads(i))
    assert(g2 == Seq(3L, 9L))
  }

  test("TopKBuffer keeps a sorted bounded window under adversarial insert order") {
    val buf = new TopKBuffer(3)
    Seq(1.0 -> 1L, 9.0 -> 9L, 5.0 -> 5L, 9.0 -> 2L, 0.5 -> 0L, 9.0 -> 1L)
      .foreach { case (o, p) => buf.add(o, p) }
    val got = (0 until buf.size).map(i => (buf.ords(i), buf.payloads(i)))
    assert(got == Seq((9.0, 1L), (9.0, 2L), (9.0, 9L)))
  }
}
