package graft

import graft.operators.{ExtendedQueries, StarQueries}
import graft.plans.AsOfJoin
import org.apache.spark.sql.functions._

/** Native AsOfJoinExec (tier-c custom operator) vs the composed
  * union+window formulation, plus controlled boundary cases. */
class AsOfJoinSpec extends SparkTestBase {

  test("native as-of join equals the union+window formulation (q61 = q31)") {
    val native = ExtendedQueries.q61AsofNative(spark, Sf001).collect().toSeq
    val composed = StarQueries.q31AsofJoin(spark, Sf001).collect().toSeq
    assert(native.size == composed.size && native == composed)
  }

  test("plan contains AsOfJoinExec with per-side sort, and no Window") {
    val df = ExtendedQueries.q61AsofNative(spark, Sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), p.take(800))
    assert(!p.contains("Window"), "native operator must not fall back to a window")
    assert(p.contains("Sort"), "EnsureRequirements should insert the local sorts")
  }

  test("boundaries: at-or-before inclusive, seq tie-break, no-match null") {
    import spark.implicits._
    val ev = Seq(
      (1L, 100L, "2024-01-01 10:00:00"), // exactly at order time -> included
      (1L, 101L, "2024-01-01 09:59:59"), // before any order -> null
      (2L, 200L, "2024-01-02 00:00:00"), // two same-time orders -> higher seq wins
      (3L, 300L, "2024-01-05 00:00:00")) // user with no orders -> null
      .toDF("user_id", "event_id", "s")
      .withColumn("ts", to_timestamp(col("s"))).drop("s")
    val ord = Seq(
      (1L, 10L, "2024-01-01 10:00:00", 111.0),
      (2L, 20L, "2024-01-01 12:00:00", 222.0),
      (2L, 21L, "2024-01-01 12:00:00", 333.0), // same ts as 20, higher seq
      (9L, 90L, "2024-01-01 00:00:00", 999.0)) // key never probed
      .toDF("k", "seq", "s", "price")
      .withColumn("t", to_timestamp(col("s"))).drop("s")
    val out = AsOfJoin.asofJoin(ev, ord,
        "user_id", "ts", "k", "t", "seq", "price", "asof_price")
      .select(col("event_id"), col("asof_price"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(100L).contains(111.0), "event at exactly the order time must see it")
    assert(out(101L).isEmpty, "event before any order gets null")
    assert(out(200L).contains(333.0), "same-time orders: highest seq wins")
    assert(out(300L).isEmpty, "user with no orders gets null")
  }

  test("result is stable across partition counts (co-partitioning, not luck)") {
    val a = ExtendedQueries.q61AsofNative(spark, Sf0001).collect().toSeq
    GraftSession.withConf(spark)("spark.sql.shuffle.partitions" -> "1") {
      val b = ExtendedQueries.q61AsofNative(spark, Sf0001).collect().toSeq
      assert(a == b)
    }
    GraftSession.withConf(spark)("spark.sql.shuffle.partitions" -> "17") {
      val c = ExtendedQueries.q61AsofNative(spark, Sf0001).collect().toSeq
      assert(a == c)
    }
  }
}
