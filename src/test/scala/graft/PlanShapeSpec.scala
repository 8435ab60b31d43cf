package graft

import graft.operators.{SimilarityQueries, StarQueries}
import org.apache.spark.sql.functions.{col, levenshtein, lit, lpad, when}

/** Physical-plan shape assertions — the scale-readiness checks the prompt
  * calls out: filters must reach the parquet scan, dimension joins must
  * broadcast, global top-k must avoid a total sort, and nothing may fall
  * back to a cartesian product or a Scala UDF.
  */
class PlanShapeSpec extends SparkTestBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q07: predicates are pushed into the parquet scan") {
    val p = plan(StarQueries.q07SelectiveFilter(spark, Sf001))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_discount"), "discount predicate should reach the scan")
    // and the scan must not read unused columns
    assert(!p.contains("l_comment"))
    assert(p.contains("ReadSchema"))
  }

  test("q08: dimension joins are broadcast (no shuffle for nation/region)") {
    val p = plan(StarQueries.q08RevenueByRegionNation(spark, Sf001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"))
  }

  test("q06: global top-k plans TakeOrderedAndProject, not a full sort") {
    val p = plan(StarQueries.q06TopOrders(spark, Sf001))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q01: aggregation is two-phase (partial before the exchange)") {
    val p = plan(StarQueries.q01PricingSummary(spark, Sf001))
    assert(p.contains("HashAggregate"), p)
    assert(p.toLowerCase.contains("partial"), "expected partial aggregation")
  }

  test("s04: native cosine stays inside whole-stage codegen") {
    val df = SimilarityQueries.s04AnnNative(spark, Sf0001)
    df.collect() // finalize the adaptive plan so codegen spans are visible
    val p = plan(df)
    assert(p.toLowerCase.contains("graft_cosine"), p.take(800))
    // the row computing graft_cosine must carry the *(n) codegen marker
    val cosineLine = p.linesIterator.find(_.toLowerCase.contains("graft_cosine")).get
    assert(cosineLine.contains("*("), s"native expression fell out of codegen: $cosineLine")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"))
  }

  test("join strategy hints flip the physical join operator") {
    import org.apache.spark.sql.functions._
    val o = Tables.orders(spark, Sf0001)
    val c = Tables.customer(spark, Sf0001)
    // default for this size: broadcast; hints must override the planner
    val merge = plan(o.join(c.hint("merge"), o("o_custkey") === c("c_custkey")))
    assert(merge.contains("SortMergeJoin"), merge.take(600))
    val shuffleHash = plan(o.join(c.hint("shuffle_hash"), o("o_custkey") === c("c_custkey")))
    assert(shuffleHash.contains("ShuffledHashJoin"), shuffleHash.take(600))
    val bcast = plan(o.join(broadcast(c), o("o_custkey") === c("c_custkey")))
    assert(bcast.contains("BroadcastHashJoin"), bcast.take(600))
  }

  test("p02: incremental dedup anti join ships hashes, not text") {
    val df = operators.PipelineQueries.p02IncrementalDedup(spark, Sf0001)
    df.collect()
    val p = plan(df)
    assert(p.contains("LeftAnti"), p.take(800))
    // the history side projected into the anti join must be the fp hash only
    assert(!p.linesIterator.exists(l => l.contains("LeftAnti") && l.contains("text")),
      "anti join condition should operate on fingerprints")
  }

  test("q70: year predicate becomes a PartitionFilter — other years never scanned") {
    val df = operators.ExtendedQueries.q70PartitionPruning(spark, Sf0001)
    val p = plan(df)
    // the filter must prune at the partition level (directory listing), not
    // as a per-row predicate after reading every year's files
    assert(p.contains("PartitionFilters"), p.take(800))
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).get
    assert(scanLine.contains("o_year"), s"o_year not in partition filters: $scanLine")
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true in the final plan)") {
    import spark.implicits._
    // 90% of the left side lands on key 0 — the runtime-skew shape that
    // salting (q32) handles statically; here AQE must detect and split the
    // hot partition without any query rewrite. Thresholds are lowered so
    // the test corpus trips the same detector a hot key trips at TB scale.
    GraftSession.withConf(spark)(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768") {
      val left = spark.range(200000).select(
        when($"id" < 180000, lit(0L)).otherwise($"id" % 97).as("k"),
        lpad($"id".cast("string"), 100, "x").as("pad"))
      val right = spark.range(1000).select($"id".as("k"), ($"id" * 2).as("w"))
      val j = left.join(right, "k")
      // execute THIS frame (count() builds its own query tree and would
      // leave j's adaptive plan unfinalized)
      assert(j.collect().length === 200000)
      val p = plan(j)
      assert(p.contains("skew=true"), s"expected AQE skew split in:\n$p")
    }
  }

  test("observe() metrics ride the pass for free and match a direct aggregate") {
    // the ops story at 100 TB: row counts / quality tallies come from
    // CollectMetrics ON the production pass, not from a second scan.
    import org.apache.spark.sql.functions._
    val observed = Tables.lineitem(spark, Sf0001)
      .observe("li_metrics",
        count(lit(1)).as("rows"),
        sum(col("l_quantity")).as("qty"),
        max(col("l_shipdate")).as("last_ship"))
      .filter(col("l_quantity") > 25.0) // metrics see PRE-filter rows (observe sits below)
    // collect() (not count()) — count() builds a NEW QueryExecution, so the
    // observed plan would never run and the metrics map would stay empty
    val kept = observed.collect().length.toLong
    val m = observed.queryExecution.observedMetrics("li_metrics")
    val direct = Tables.lineitem(spark, Sf0001)
      .agg(count(lit(1)), sum(col("l_quantity")), max(col("l_shipdate"))).head
    assert(m.getLong(0) === direct.getLong(0))
    assert(math.abs(m.getDouble(1) - direct.getDouble(1)) < 1e-6)
    assert(m.get(2) === direct.get(2))
    assert(kept < m.getLong(0)) // the filter really ran above the metrics point
  }

  test("no query plans a cartesian product except the scalar-histogram cross join") {
    val exempt = Set("q20_histogram")
    SparkEntry.queries.filterNot { case (name, _) =>
      exempt(name) || name.startsWith("steel") || name.startsWith("ml")
    }.foreach { case (name, fn) =>
      val p = plan(fn(spark, Sf0001))
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
    }
  }

  test("s10: both retrieval legs bound their lists with TakeOrderedAndProject") {
    val p = plan(SimilarityQueries.s10HybridRrf(spark, Sf0001))
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    assert(!p.contains("CartesianProduct"))
  }

  test("d13: the span shuffle carries xxhash64 keys, never span text") {
    val p = plan(graft.operators.DedupQueries.d13SpanDedup(spark, Sf0001))
    assert(p.contains("xxhash64"), "span windows must be hashed before the exchange")
    // the only string-typed work is the tokenizer projection below the hash;
    // no concat_ws may appear ABOVE an Exchange (i.e., flow through a shuffle)
    val lines = p.linesIterator.toSeq
    val firstExchange = lines.indexWhere(_.contains("Exchange"))
    assert(firstExchange >= 0)
    assert(!lines.take(firstExchange).exists(_.contains("concat_ws")),
      "span text leaked above an exchange")
  }

  test("g01: fixed rounds compose into one plan over the checkpointed edge leaf") {
    val df = graft.operators.GraphQueries.g01PageRank(spark, Sf0001)
    val p = plan(df)
    // per-round checkpoints would leave exactly ONE ExistingRDD leaf (the
    // final ranks); the composed plan references the edge leaf once per
    // round — so multiple leaf scans prove the rounds fused
    val leafScans = "Scan ExistingRDD".r.findAllIn(p).size
    assert(leafScans >= 5, s"expected the 5 composed rounds to reread the edge leaf, saw $leafScans")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must be heap-based")
    // the edge leaf is checkpointed pre-partitioned on the round-join key
    // u (checkpointByU materializes it with AQE off so the LogicalRDD
    // keeps its HashPartitioning) — no round may re-exchange the edges;
    // the only shuffles left are the v-keyed contribution aggregations
    assert(!p.contains("Exchange hashpartitioning(u#"),
      s"edge leaf re-exchanged on u — checkpoint lost its partitioning:\n$p")
  }

  test("LevenshteinGuard rule derives the length guard and preserves results") {
    val target = lit("steel plate")
    def q = Tables.part(spark, Sf0001)
      .filter(levenshtein(col("p_name"), target) <= 3)
      .select(col("p_partkey"))
    // the rule ships with every GraftSession (GraftExtensions): no install
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("abs(") && plan.contains("length("),
      s"derived length guard missing:\n$plan")
    // fixed-point safety: the optimizer batch must not stack guards
    assert("abs\\(".r.findAllIn(plan).size === 1, "guard added more than once")
    // the guard is a NECESSARY condition: result set identical to the
    // unguarded distance (a projection, which the rule does not rewrite)
    val unguarded = Tables.part(spark, Sf0001)
      .select(col("p_partkey"), levenshtein(col("p_name"), target).as("d"))
      .collect().filter(_.getInt(1) <= 3).map(_.getLong(0)).sorted
    assert(q.collect().map(_.getLong(0)).sorted === unguarded)
  }
}
