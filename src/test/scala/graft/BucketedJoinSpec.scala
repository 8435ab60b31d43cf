package graft

import org.apache.spark.sql.functions._

/** The 100 TB fact-fact join story, proven locally: bucketing both sides
  * on the join key makes the sort-merge join zero-shuffle (no Exchange in
  * the plan). This is the deployment answer for q09-style joins — the
  * query code is unchanged, only the table layout differs.
  */
class BucketedJoinSpec extends SparkTestBase {

  test("bucketed tables co-locate: sort-merge join with no Exchange") {
    // tiny test data would auto-broadcast (and AQE overrides join hints);
    // disable so the join strategy is what a 100 TB fact-fact join gets.
    // scoped: the shared session must not leak this into later suites.
    GraftSession.withConf(spark)("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables.lineitem(spark, Sf0001)
      val o = Tables.orders(spark, Sf0001)
      li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("li_bucketed")
      o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("o_bucketed")
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("l_quantity")).as("qty"))
      // force SMJ so the bucket co-location is what avoids the shuffle
      val smj = joined.hint("merge")
      smj.collect()
      val full = smj.queryExecution.executedPlan.toString
      // AQE's toString appends the pre-adaptive "Initial Plan" — assert only
      // on the final (executed) section
      val plan = full.split("== Initial Plan ==")(0)
      assert(plan.contains("SortMergeJoin"), plan.take(400))
      val exchanges = plan.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("rangepartitioning") && !l.contains("SinglePartition"))
      // one exchange is allowed for the final groupBy; none for the join inputs
      assert(exchanges <= 1, s"join inputs shuffled:\n$plan")
      assert(plan.contains("Bucketed: true"), "scan did not use bucketing")
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }

  test("p17: driver-contract bucketed corpus join is shuffle-free on both inputs") {
    try GraftSession.withConf(spark)("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      operators.PipelineQueries.bucketedTables(spark, Sf0001)
      val j = operators.PipelineQueries.colocatedJoin(spark)
      j.collect()
      val plan = j.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(plan.contains("SortMergeJoin"), plan.take(400))
      // join-only plan: NO exchange anywhere — both scans are bucketed on
      // the join key, so bucket i zips against bucket i directly
      assert(!plan.linesIterator.exists(_.contains("Exchange")),
        s"bucketed join inputs shuffled:\n$plan")
      assert(plan.contains("Bucketed: true"), "scan did not use bucketing")
      // and the full driver query returns the oracle-checked rollup shape
      val out = operators.PipelineQueries.p17BucketedJoin(spark, Sf0001)
      assert(out.columns.toSeq === Seq("source", "n_docs", "sum_norm", "sum_chars"))
      assert(out.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_docs_bucketed")
      spark.sql("DROP TABLE IF EXISTS graft_embs_bucketed")
      ()
    }
  }
}
