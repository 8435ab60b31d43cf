package graft.operators

import graft.Tables
import graft.Tables.{dsum, davg}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Second relational catalog: operators beyond StarQueries' inventory that a
  * complete engine (and a training-data pipeline at 100 TB) needs — lateral
  * explode, outer joins, value-window functions, RANGE frames, HAVING,
  * higher-order array functions, median/mode, stratified sampling, SQL null
  * semantics, and schema-evolution unions.
  *
  * Same contract as StarQueries: deterministic total ORDER BY, exact decimal
  * routing for double sums ([[graft.Tables.dsum]]), filters/projections
  * written to push into the parquet scan. The reference exercises none of
  * these directly (it is single-table EDA + MLlib — SURVEY.md §2.5/§2.9
  * "none"), so each is built from the Spark operator that scales, with the
  * portable-SQL oracle defining the semantics.
  */
object ExtendedQueries {

  // ---------------------------------------------------------------- q45
  /** Lateral explode (flatMap shape): documents -> words -> bigrams ->
    * corpus-wide top-20. The Generate (explode) runs map-side before the
    * single count shuffle; at 100 TB the partial aggregation absorbs the
    * per-document fan-out, and top-k fuses to TakeOrderedAndProject.
    */
  def q45ExplodeBigrams(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .select(split(col("text"), " ").as("ws"))
      // guarded like DedupQueries.shingleArrExpr: sequence(1, 0) is the
      // DESCENDING [1, 0] in Spark, so a 1-token doc would otherwise call
      // element_at(ws, 0) — a 1-based-indexing error
      .select(explode(expr(
        """if(size(ws) >= 2,
          |   transform(sequence(1, size(ws) - 1), i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))),
          |   cast(array() as array<string>))""".stripMargin))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  val q45Sql: String =
    """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |bg AS (SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS bigram FROM w)
      |SELECT bigram, COUNT(*) AS n FROM bg
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Full outer join of two pre-aggregated sides (per-nation customer vs
    * supplier counts) with COALESCE key recovery. Aggregating BEFORE the
    * outer join keeps both sides at key cardinality — the outer join is
    * then trivially broadcastable at any fact scale.
    */
  def q46FullOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val cn = Tables.customer(s, dir).groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_cust"))
    val sn = Tables.supplier(s, dir).groupBy(col("s_nationkey").as("snk"))
      .agg(count(lit(1)).as("n_supp"))
    cn.join(sn, cn("nk") === sn("snk"), "full_outer")
      .select(
        coalesce(col("nk"), col("snk")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  val q46Sql: String =
    """WITH cn AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1),
      |     sn AS (SELECT s_nationkey AS snk, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
      |SELECT COALESCE(nk, snk) AS nationkey,
      |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
      |FROM cn FULL OUTER JOIN sn ON nk = snk ORDER BY nationkey""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Value window functions: first/last/nth event value per user timeline.
    * last/nth need the full-partition frame (UNBOUNDED..UNBOUNDED) — the
    * default RANGE..CURRENT frame would make them row-dependent. One
    * shuffle on user_id; emitted once per user via row_number()=1 rather
    * than DISTINCT over window outputs (cheaper: no second aggregate).
    */
  def q47FirstLastNth(s: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(order))
      .withColumn("first_value", first(col("value")).over(full))
      .withColumn("last_value", last(col("value")).over(full))
      .withColumn("second_value", nth_value(col("value"), 2).over(full))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("first_value"), col("last_value"), col("second_value"))
      .orderBy(col("user_id"))
  }

  val q47Sql: String =
    """SELECT user_id, first_value, last_value, second_value FROM (
      |  SELECT user_id,
      |    ROW_NUMBER() OVER w AS rn,
      |    FIRST_VALUE(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_value,
      |    LAST_VALUE(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_value,
      |    NTH_VALUE(value, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_value
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q48
  /** RANGE frame over event time: per-event trailing-1-hour sum per user.
    * The frame is value-based (all peers included), so membership is
    * order-independent; the sum itself goes through decimal so the result
    * is too. Ordering on integral microseconds keeps the frame boundary
    * arithmetic exact and portable.
    */
  def q48RangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-3600000000L, 0L)
    Tables.events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("hour_sum",
        sum(col("value").cast(DecimalType(30, 2))).over(w).cast(DoubleType))
      .select(col("user_id"), col("event_id"), col("hour_sum"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q48Sql: String =
    """SELECT user_id, event_id,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(30,2))) OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS hour_sum
      |FROM events ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q49
  /** TPC-H Q18 shape (large-volume orders): aggregate-then-filter (SQL
    * HAVING) on the fact, join the survivors back to their headers. The
    * HAVING output is tiny, so the back-join broadcasts it — the fact
    * never shuffles twice. l_quantity is integral-valued double, exact.
    */
  def q49LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 300.0)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    o.join(broadcast(big), o("o_orderkey") === big("l_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(20)
  }

  val q49Sql: String =
    """SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
      |FROM (SELECT l_orderkey, SUM(l_quantity) AS total_qty
      |      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300.0) big
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q50
  /** Higher-order array functions (filter / aggregate / exists) over
    * per-order quantity arrays — the array-column toolkit for feature
    * lists. The HOFs run inside whole-stage codegen over the collected
    * arrays; the final rollup keys on the small n_big domain.
    */
  def q50HigherOrderArrays(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(collect_list(col("l_quantity")).as("arr"))
      .select(
        size(expr("filter(arr, x -> x > 25.0)")).as("n_big"),
        expr("aggregate(arr, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)").as("order_qty"),
        expr("exists(arr, x -> x >= 49.0)").as("has_max"))
      .groupBy(col("n_big"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("order_qty")).as("total_qty"),
        sum(when(col("has_max"), 1L).otherwise(0L)).as("n_with_max"))
      .orderBy(col("n_big"))

  val q50Sql: String =
    """WITH per_order AS (
      |  SELECT l_orderkey,
      |    COUNT(CASE WHEN l_quantity > 25.0 THEN 1 END) AS n_big,
      |    SUM(l_quantity) AS order_qty,
      |    MAX(CASE WHEN l_quantity >= 49.0 THEN 1 ELSE 0 END) AS has_max
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT n_big, COUNT(*) AS n_orders, SUM(order_qty) AS total_qty,
      |  CAST(SUM(has_max) AS BIGINT) AS n_with_max
      |FROM per_order GROUP BY n_big ORDER BY n_big""".stripMargin

  // ---------------------------------------------------------------- q51
  /** Median + deterministic mode per group. Built-in mode() breaks ties
    * arbitrarily, so the mode is computed as frequency-table + rank with a
    * total tie-break (highest count, then smallest value) — deterministic
    * in any engine. Both sides share the one grouped scan shape.
    */
  def q51MedianMode(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val freq = li.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("c").desc, col("l_quantity"))
    val mode = freq.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag").as("rf"), col("l_quantity").as("mode_qty"))
    li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
        count(lit(1)).as("n"))
      .join(broadcast(mode), col("l_returnflag") === col("rf"))
      .select(col("l_returnflag"), col("median_qty"), col("mode_qty"), col("n"))
      .orderBy(col("l_returnflag"))
  }

  val q51Sql: String =
    """WITH freq AS (
      |  SELECT l_returnflag, l_quantity, COUNT(*) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |md AS (
      |  SELECT l_returnflag AS rf, l_quantity AS mode_qty,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY c DESC, l_quantity) AS rn
      |  FROM freq)
      |SELECT l_returnflag, QUANTILE_CONT(l_quantity, 0.5) AS median_qty,
      |  ANY_VALUE(mode_qty) AS mode_qty, COUNT(*) AS n
      |FROM lineitem JOIN md ON l_returnflag = rf AND rn = 1
      |GROUP BY l_returnflag, mode_qty ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q52
  /** Stratified sampling with per-stratum rates (the deterministic
    * sampleBy): keep key mod 100 < rate(stratum). Unlike rand()-based
    * sampleBy this is reproducible across runs, engines, and partitionings,
    * and the predicate is a pure pushdown-able filter — no shuffle, no RNG
    * state to coordinate across 1000 executors.
    */
  def q52StratifiedSample(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("rate",
        when(col("o_orderstatus") === "F", 10L)
          .when(col("o_orderstatus") === "O", 5L)
          .otherwise(50L))
      .filter(pmod(col("o_orderkey"), lit(100L)) < col("rate"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_sampled"), dsum(col("o_totalprice"), 30, 2).as("total"))
      .orderBy(col("o_orderstatus"))

  val q52Sql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_sampled,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE) AS total
      |FROM orders
      |WHERE o_orderkey % 100 < (CASE o_orderstatus WHEN 'F' THEN 10 WHEN 'O' THEN 5 ELSE 50 END)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q53
  /** SQL null semantics end-to-end: NULLIF to introduce nulls, null-safe
    * equality (Spark <=>, portable IS NOT DISTINCT FROM), null-skipping
    * vs null-counting aggregates, and COALESCE recovery — the semantics
    * every engine must pin down before nulls flow through 100 TB of
    * joins.
    */
  def q53NullSemantics(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .withColumn("d", nullif(col("l_discount"), lit(0.0)))
      .withColumn("t", nullif(col("l_tax"), lit(0.0)))
      .groupBy(col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        count(col("d")).as("n_discounted"),
        sum(when(col("d").isNull, 1L).otherwise(0L)).as("n_zero_discount"),
        sum(when(col("d") <=> col("t"), 1L).otherwise(0L)).as("n_same_rate"),
        davg(coalesce(col("d"), lit(0.0)), 30, 2).as("avg_discount"))
      .orderBy(col("l_linestatus"))

  val q53Sql: String =
    """SELECT l_linestatus,
      |  COUNT(*) AS n,
      |  COUNT(NULLIF(l_discount, 0.0)) AS n_discounted,
      |  CAST(SUM(CASE WHEN NULLIF(l_discount, 0.0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_discount,
      |  CAST(SUM(CASE WHEN NULLIF(l_discount, 0.0) IS NOT DISTINCT FROM NULLIF(l_tax, 0.0) THEN 1 ELSE 0 END) AS BIGINT) AS n_same_rate,
      |  CAST(CAST(SUM(CAST(COALESCE(NULLIF(l_discount, 0.0), 0.0) AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_discount
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q54
  /** Schema-evolution union: unionByName(allowMissingColumns) combines two
    * differently-shaped projections, padding the missing columns with
    * nulls — how heterogeneous batches land in one table without
    * rewriting old data. Position-based unionAll would silently misalign.
    */
  def q54UnionByName(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val highValue = o.filter(col("o_totalprice") > 300000.0)
      .select(col("o_orderkey"), col("o_totalprice"), lit("high_value").as("tag"))
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"), lit("urgent").as("tag"))
    highValue.unionByName(urgent, allowMissingColumns = true)
      .groupBy(col("tag"))
      .agg(
        count(lit(1)).as("n"),
        count(col("o_totalprice")).as("n_with_price"),
        count(col("o_orderpriority")).as("n_with_priority"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy(col("tag"))
  }

  val q54Sql: String =
    """WITH u AS (
      |  SELECT o_orderkey, o_totalprice, 'high_value' AS tag, NULL AS o_orderpriority
      |  FROM orders WHERE o_totalprice > 300000.0
      |  UNION ALL BY NAME
      |  SELECT o_orderkey, o_orderpriority, 'urgent' AS tag, NULL AS o_totalprice
      |  FROM orders WHERE o_orderpriority = '1-URGENT')
      |SELECT tag, COUNT(*) AS n, COUNT(o_totalprice) AS n_with_price,
      |  COUNT(o_orderpriority) AS n_with_priority,
      |  COUNT(DISTINCT o_orderkey) AS n_orders
      |FROM u GROUP BY tag ORDER BY tag""".stripMargin

  // ---------------------------------------------------------------- q55
  /** Per-customer top-3 orders via the custom [[graft.functions.GraftTopK]]
    * aggregate — same result as the window formulation (q15) with a
    * fundamentally better plan: the window must shuffle + sort EVERY order
    * row on o_custkey before dropping any; graft_topk is algebraic, so map
    * tasks keep a 3-slot buffer per customer and the shuffle carries at
    * most 3 pairs per (task, customer). Planned as ObjectHashAggregate
    * with partial aggregation. The oracle is the standard window SQL —
    * proving the custom operator's semantics against a stock engine.
    */
  def q55TopKNative(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_topk_v")
    s.sql(
      """SELECT o_custkey, CAST(pos + 1 AS INT) AS rn,
        |  e.payload AS o_orderkey, e.ord AS o_totalprice
        |FROM (SELECT o_custkey, graft_topk(o_totalprice, o_orderkey, 3) AS tk
        |      FROM orders_topk_v GROUP BY o_custkey)
        |LATERAL VIEW posexplode(tk) AS pos, e
        |ORDER BY o_custkey, rn""".stripMargin)
  }

  val q55Sql: String =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  // ---------------------------------------------------------------- q56
  /** MapType end-to-end: per-year status->count maps built with
    * map_from_entries over sorted collected structs, consumed with
    * element_at / map_keys / aggregate-over-map_values. Maps as
    * first-class columns are how per-entity feature dictionaries ship in
    * a training pipeline; the oracle proves the round-trip against plain
    * conditional aggregation.
    */
  def q56MapFunctions(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(year(col("o_orderdate")).as("yr"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("yr"))
      .agg(map_from_entries(sort_array(collect_list(struct(col("o_orderstatus"), col("n")))))
        .as("m"))
      .select(
        col("yr"),
        size(col("m")).as("n_statuses"),
        coalesce(element_at(col("m"), "F"), lit(0L)).as("f_cnt"),
        coalesce(element_at(col("m"), "O"), lit(0L)).as("o_cnt"),
        coalesce(element_at(col("m"), "P"), lit(0L)).as("p_cnt"),
        expr("aggregate(map_values(m), 0L, (acc, x) -> acc + x)").as("total"))
      .orderBy(col("yr"))

  val q56Sql: String =
    """SELECT YEAR(o_orderdate) AS yr,
      |  CAST(COUNT(DISTINCT o_orderstatus) AS INT) AS n_statuses,
      |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS f_cnt,
      |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o_cnt,
      |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS p_cnt,
      |  COUNT(*) AS total
      |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin

  // ---------------------------------------------------------------- q57
  /** Generated calendar dimension (sequence + explode) left-joined to
    * per-day order counts: finds empty days per month. Dimension
    * generation needs no input scan, and the per-day aggregate reduces
    * the fact BEFORE the join — at 100 TB the calendar join touches
    * O(days) rows, not O(orders).
    */
  def q57CalendarJoin(s: SparkSession, dir: String): DataFrame = {
    val cal = s.sql(
      "SELECT explode(sequence(to_date('1995-01-01'), to_date('1998-12-31'), interval 1 day)) AS d")
    val perDay = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("od")).agg(count(lit(1)).as("n"))
    cal.join(perDay, cal("d") === perDay("od"), "left")
      .groupBy(year(col("d")).as("yr"), month(col("d")).as("mo"))
      .agg(
        count(lit(1)).as("n_days"),
        sum(when(col("n").isNull, 1L).otherwise(0L)).as("n_empty_days"),
        coalesce(sum(col("n")), lit(0L)).as("n_orders"))
      .orderBy(col("yr"), col("mo"))
  }

  val q57Sql: String =
    """WITH cal AS (
      |  SELECT unnest(generate_series(DATE '1995-01-01', DATE '1998-12-31', INTERVAL 1 DAY))::DATE AS d),
      |per_day AS (
      |  SELECT CAST(o_orderdate AS DATE) AS od, COUNT(*) AS n FROM orders GROUP BY 1)
      |SELECT YEAR(d) AS yr, MONTH(d) AS mo, COUNT(*) AS n_days,
      |  CAST(SUM(CASE WHEN n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_days,
      |  CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_orders
      |FROM cal LEFT JOIN per_day ON d = od
      |GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin

  // ---------------------------------------------------------------- q58
  /** TPC-H Q16 shape: 3-way join with an IN value list and a NOT IN
    * subquery, count(DISTINCT) per group. NOT IN plans as a null-aware
    * anti join; the supplier exclusion list is tiny and broadcasts.
    * Exercised through the SQL parser like the reference's %sql path.
    */
  def q58SupplierParts(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir).createOrReplaceTempView("part_q16_v")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_q16_v")
    Tables.supplier(s, dir).createOrReplaceTempView("supplier_q16_v")
    s.sql(
      """SELECT p_type, p_size, COUNT(DISTINCT s_suppkey) AS supplier_cnt
        |FROM part_q16_v JOIN lineitem_q16_v ON p_partkey = l_partkey
        |JOIN supplier_q16_v ON l_suppkey = s_suppkey
        |WHERE p_size IN (1, 5, 9, 13) AND s_suppkey NOT IN (
        |  SELECT s_suppkey FROM supplier_q16_v WHERE s_acctbal < 0)
        |GROUP BY p_type, p_size
        |ORDER BY supplier_cnt DESC, p_type, p_size LIMIT 20""".stripMargin)
  }

  val q58Sql: String =
    """SELECT p_type, p_size, COUNT(DISTINCT s_suppkey) AS supplier_cnt
      |FROM part JOIN lineitem ON p_partkey = l_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE p_size IN (1, 5, 9, 13) AND s_suppkey NOT IN (
      |  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_type, p_size
      |ORDER BY supplier_cnt DESC, p_type, p_size LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q59
  /** approx_percentile (GK-sketch) — the 100 TB path for quantiles q24
    * computes exactly. Sketch internals are engine-specific, so the oracle
    * checks the CONTRACT: each estimate is an actual data value whose rank
    * fraction (share of rows <= it) lands within 0.01 of the requested
    * percentile — well inside the accuracy=10000 guarantee of rank error
    * <= n/10000. DuckDB expects the booleans to be literally TRUE, plus
    * the SQL-expressible group sizes.
    */
  def q59ApproxPercentiles(s: SparkSession, dir: String): DataFrame = {
    val approx = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("p50"),
        expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("p90"),
        expr("approx_percentile(l_extendedprice, 0.99, 10000)").as("p99"))
    def frac(p: String) =
      sum(when(col("l_extendedprice") <= col(p), 1L).otherwise(0L))
        .cast("double") / count(lit(1)).cast("double")
    Tables.lineitem(s, dir).select(col("l_returnflag"), col("l_extendedprice"))
      .join(broadcast(approx), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        (abs(frac("p50") - 0.5) <= 0.01).as("p50_ok"),
        (abs(frac("p90") - 0.9) <= 0.01).as("p90_ok"),
        (abs(frac("p99") - 0.99) <= 0.01).as("p99_ok"))
      .orderBy(col("l_returnflag"))
  }

  val q59Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |  TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q60
  /** ANSI-safe arithmetic: Spark 4 runs ANSI mode by default, where /0 and
    * overflow THROW. try_divide gives the null-on-error semantics a
    * pipeline wants for dirty data — here the per-unit tax ratio is null
    * for zero-discount rows and aggregates skip it, proven against the
    * oracle's NULLIF formulation.
    */
  def q60TryArithmetic(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .withColumn("tax_per_discount", try_divide(col("l_tax"), col("l_discount")))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        count(col("tax_per_discount")).as("n_defined"),
        sum(when(col("tax_per_discount").isNull, 1L).otherwise(0L)).as("n_zero_discount"),
        round(davg(col("tax_per_discount"), 30, 8), 4).as("avg_ratio"))
      .orderBy(col("l_returnflag"))

  val q60Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  COUNT(l_tax / NULLIF(l_discount, 0.0)) AS n_defined,
      |  CAST(SUM(CASE WHEN l_discount = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_discount,
      |  ROUND(CAST(CAST(SUM(CAST(l_tax / NULLIF(l_discount, 0.0) AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
      |    / COUNT(l_tax / NULLIF(l_discount, 0.0)), 4) AS avg_ratio
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q61
  /** Native as-of join ([[graft.plans.AsOfJoin]] — the engine's one
    * tier-(c) custom operator): each event gets the price of its user's
    * latest at-or-before order. Same semantics and oracle SQL as the
    * composed union+window q31, but planned as a co-partitioned streaming
    * merge: one exchange per side in its own narrow schema, O(1) state,
    * no window buffer over a unioned timeline.
    */
  def q61AsofNative(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
    val orders = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
    graft.plans.AsOfJoin.asofJoin(
        events, orders,
        leftKeyCol = "user_id", leftTimeCol = "ts",
        rightKeyCol = "o_custkey", rightTimeCol = "o_orderdate",
        rightSeqCol = "o_orderkey", rightValueCol = "o_totalprice",
        asofColName = "asof_price")
      .select(col("user_id"), col("event_id"), col("asof_price"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Same oracle as q31 — the two formulations must agree exactly. */
  val q61Sql: String = StarQueries.q31Sql

  // ---------------------------------------------------------------- q62
  /** Typed Dataset API end-to-end: case-class Encoder -> groupByKey ->
    * custom [[graft.functions.TypedAggregators.WeightedMeanPrice]]
    * Aggregator. The typed agg plans into the same partial+final
    * aggregate as the untyped tier; exactness comes from the
    * integer-cents buffer, proven against the oracle's arithmetic.
    */
  def q62TypedAggregator(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TypedAggregators._
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      .as[PricedItem]
      .groupByKey(_.l_returnflag)
      .agg(WeightedMeanPrice.toColumn.name("wavg_price"))
      .toDF("l_returnflag", "wavg_price")
      .orderBy(col("l_returnflag"))
  }

  val q62Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE)
      |    / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / 100.0 AS wavg_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q63
  /** Date arithmetic kit beyond q19's extraction: last_day boundaries,
    * quarter alignment via date_trunc, day-offsets from year start —
    * integral day counts, so every aggregate is exact.
    */
  def q63DateArith(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("d", to_date(col("o_orderdate")))
      .groupBy(year(col("d")).as("yr"))
      .agg(
        sum(when(col("d") === last_day(col("d")), 1L).otherwise(0L)).as("n_month_end"),
        sum(when(to_date(date_trunc("quarter", col("d"))) === col("d"), 1L).otherwise(0L))
          .as("n_quarter_start"),
        max(datediff(col("d"), to_date(date_trunc("year", col("d"))))).as("max_doy_offset"),
        (sum(dayofmonth(col("d"))) / count(lit(1))).as("avg_dom"))
      .orderBy(col("yr"))

  val q63Sql: String =
    """SELECT YEAR(d) AS yr,
      |  CAST(SUM(CASE WHEN d = last_day(d) THEN 1 ELSE 0 END) AS BIGINT) AS n_month_end,
      |  CAST(SUM(CASE WHEN CAST(date_trunc('quarter', d) AS DATE) = d THEN 1 ELSE 0 END) AS BIGINT) AS n_quarter_start,
      |  CAST(MAX(datediff('day', CAST(date_trunc('year', d) AS DATE), d)) AS INT) AS max_doy_offset,
      |  SUM(DAY(d)) * 1.0 / COUNT(*) AS avg_dom
      |FROM (SELECT CAST(o_orderdate AS DATE) AS d FROM orders)
      |GROUP BY 1 ORDER BY yr""".stripMargin

  // ---------------------------------------------------------------- q64
  /** Outer generators: explode_outer keeps a row (with null) for orders
    * whose qualifying-quantity array is empty — the LEFT JOIN LATERAL
    * semantics a plain explode silently drops. collect_list skips the
    * when()'s nulls, so the array holds exactly the qualifying values.
    */
  def q64ExplodeOuter(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(collect_list(when(col("l_quantity") > 45.0, col("l_quantity"))).as("big"))
      .select(col("l_orderkey"), explode_outer(col("big")).as("bigqty"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("bigqty")).as("n_vals"),
        sum(when(col("bigqty").isNull, 1L).otherwise(0L)).as("n_empty_orders"))

  val q64Sql: String =
    """WITH per AS (
      |  SELECT l_orderkey, COUNT(CASE WHEN l_quantity > 45.0 THEN 1 END) AS c
      |  FROM lineitem GROUP BY 1)
      |SELECT CAST(SUM(CASE WHEN c = 0 THEN 1 ELSE c END) AS BIGINT) AS n_rows,
      |  CAST(SUM(c) AS BIGINT) AS n_vals,
      |  CAST(SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_orders
      |FROM per""".stripMargin

  // ---------------------------------------------------------------- q65
  /** Band (interval) join: purchases matched to the same user's clicks in
    * the preceding hour — the batch twin of the watermarked stream-stream
    * join (streaming.EventStream.purchaseAfterClick). The equi key
    * (user_id) drives the shuffle; the band predicate evaluates inside
    * the join, so this stays a hash/sort-merge join, never a cartesian.
    */
  def q65RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"), col("event_id").as("p_id"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"), col("event_id").as("c_id"))
    p.join(c, col("pu") === col("cu") &&
        col("cts") <= col("pts") && col("cts") >= col("pts") - expr("INTERVAL 1 HOUR"))
      .groupBy(col("pu").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("p_id")).as("n_purchases"))
      .orderBy(col("user_id"))
  }

  val q65Sql: String =
    """SELECT p.user_id, COUNT(*) AS n_pairs, COUNT(DISTINCT p.event_id) AS n_purchases
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
      |GROUP BY p.user_id ORDER BY p.user_id""".stripMargin

  // ---------------------------------------------------------------- q66
  /** Pairwise correlation matrix in ONE scan: all six corr pairs over the
    * four lineitem measures computed as parallel aggregates (the
    * multi-statistic EDA shape; the reference computes one corr at
    * py:125). Rounded for cross-engine hash stability like q05.
    */
  def q66CorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (round(corr(col(cols(i)), col(cols(j))), 3) + lit(0.0))
      .as(s"${cols(i)}__${cols(j)}")
    Tables.lineitem(s, dir).agg(aggs.head, aggs.tail: _*)
  }

  val q66Sql: String =
    """SELECT
      |  ROUND(CORR(l_quantity, l_extendedprice), 3) + 0.0 AS l_quantity__l_extendedprice,
      |  ROUND(CORR(l_quantity, l_discount), 3) + 0.0 AS l_quantity__l_discount,
      |  ROUND(CORR(l_quantity, l_tax), 3) + 0.0 AS l_quantity__l_tax,
      |  ROUND(CORR(l_extendedprice, l_discount), 3) + 0.0 AS l_extendedprice__l_discount,
      |  ROUND(CORR(l_extendedprice, l_tax), 3) + 0.0 AS l_extendedprice__l_tax,
      |  ROUND(CORR(l_discount, l_tax), 3) + 0.0 AS l_discount__l_tax
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------- q67
  /** Nested struct + JSON round-trip: build a struct column, serialize
    * with to_json, re-parse with from_json against an explicit schema,
    * and aggregate over dotted field access — the schema-on-write /
    * schema-on-read loop every event pipeline runs. The final output is
    * flat, so the oracle computes the same values directly; any loss in
    * the round-trip would break the hash match.
    */
  def q67NestedStructs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("payload", struct(
        col("o_orderkey").as("id"),
        struct(col("o_orderstatus").as("status"), col("o_orderpriority").as("prio")).as("meta"),
        col("o_totalprice").as("price")))
      .withColumn("js", to_json(col("payload")))
      .withColumn("back", from_json(col("js"),
        StructType(Seq(
          StructField("id", LongType),
          StructField("meta", StructType(Seq(
            StructField("status", StringType), StructField("prio", StringType)))),
          StructField("price", DoubleType)))))
      .groupBy(col("back.meta.status").as("status"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("back.price"), 30, 2).as("total"),
        countDistinct(col("back.meta.prio")).as("n_prios"))
      .orderBy(col("status"))

  val q67Sql: String =
    """SELECT o_orderstatus AS status, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE) AS total,
      |  COUNT(DISTINCT o_orderpriority) AS n_prios
      |FROM orders GROUP BY 1 ORDER BY status""".stripMargin

  // ---------------------------------------------------------------- q68
  /** Centered moving average (ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING):
    * the smoothing window every time-series feature pipeline needs. The
    * frame is position-based over a unique total order, so membership is
    * deterministic; the 3-row sum goes through decimal for exactness.
    */
  def q68MovingAverage(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-1, 1)
    Tables.events(s, dir)
      .withColumn("ma3",
        (sum(col("value").cast(DecimalType(30, 2))).over(w).cast(DoubleType) /
          count(lit(1)).over(w)))
      .select(col("user_id"), col("event_id"), col("ma3"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q68Sql: String =
    """SELECT user_id, event_id,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(30,2))) OVER w AS VARCHAR) AS DOUBLE)
      |    / COUNT(*) OVER w AS ma3
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q69
  /** Ratio-to-report: each order's share of its customer's total spend —
    * a whole-partition window aggregate (no frame clause needed for sum
    * over the full partition... Spark's default frame for an aggregate
    * without ORDER BY is the full partition, same as the SQL standard).
    * The numerator/denominator are both decimal-exact; one division.
    */
  def q69RatioToTotal(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
    Tables.orders(s, dir)
      .withColumn("cust_total",
        sum(col("o_totalprice").cast(DecimalType(30, 2))).over(w).cast(DoubleType))
      .select(col("o_custkey"), col("o_orderkey"),
        (col("o_totalprice") / col("cust_total")).as("share"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q69Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  o_totalprice / (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2)))
      |    OVER (PARTITION BY o_custkey) AS VARCHAR) AS DOUBLE)) AS share
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q70
  /** Hive-partitioned layout + partition-pruned scan — the 100 TB storage
    * primitive: facts land partitioned by a low-cardinality time key, and
    * date-scoped queries list (and read) ONLY the matching directories.
    * `.explain` shows the year predicate as a PartitionFilter on the scan,
    * not a post-scan Filter — zero bytes of other years are even opened.
    *
    * The query re-lays-out `orders` by order year into a deterministic
    * scratch dir (idempotent overwrite; the write path itself is part of
    * the exercised surface), then computes a single-year priority profile
    * through the pruned read. The oracle computes the same profile from
    * the unpartitioned table — so the round-trip (dynamic partition write,
    * partition-value recovery from dir names, pruned scan) must be
    * lossless.
    */
  def q70PartitionPruning(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_orders_by_year_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    Tables.orders(s, dir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(out)
    s.read.parquet(out)
      .filter(col("o_year") === 1995)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        Tables.dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderpriority"))
  }

  val q70Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS total_price
      |FROM orders WHERE YEAR(o_orderdate) = 1995
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q71
  /** Distribution-rank window functions — NTILE quartiles, PERCENT_RANK
    * and CUME_DIST over customer balances within each market segment.
    * Ordering key is (c_acctbal, c_custkey) so tie-broken row order — and
    * therefore NTILE bucket assignment — is deterministic across engines.
    *
    * Scale note: one hash partition per segment and only ~5 segments, so
    * a naive run serializes on 5 tasks. That is inherent to exact global
    * ranks per group; at 100 TB the move is a range-partitioned two-pass
    * (per-range counts -> prefix offsets -> rank = offset + local rank),
    * the same shape q16's running sum documents. The window form here is
    * the semantics contract the two-pass must reproduce.
    */
  def q71NtileRanks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_custkey"),
        ntile(4).over(w).as("quartile"),
        (floor(percent_rank().over(w) * 1e6 + 0.5) / 1e6).as("pct_rank"),
        (floor(cume_dist().over(w) * 1e6 + 0.5) / 1e6).as("cume"))
      .orderBy(col("c_mktsegment"), col("c_custkey"))
  }

  val q71Sql: String =
    """SELECT c_mktsegment, c_custkey,
      |  NTILE(4) OVER w AS quartile,
      |  FLOOR(PERCENT_RANK() OVER w * 1e6 + 0.5) / 1e6 AS pct_rank,
      |  FLOOR(CUME_DIST() OVER w * 1e6 + 0.5) / 1e6 AS cume
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_mktsegment, c_custkey""".stripMargin

  // ---------------------------------------------------------------- q72
  /** Correlated EXISTS / NOT EXISTS in SQL text. Catalyst decorrelates
    * both to LEFT SEMI / LEFT ANTI hash joins on s_suppkey (the plan q10
    * and q11 build directly with the DataFrame API) — the win is that the
    * 600-rows-per-supplier fact side is aggregated away by the semi/anti
    * semantics before any supplier-level work, and both subquery filters
    * push into the lineitem scan. No per-row re-execution of the inner
    * query ever happens, which is exactly what makes the 100 TB plan
    * viable.
    */
  def q72ExistsSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.supplier(s, dir).createOrReplaceTempView("supplier_ex_v")
    Tables.nation(s, dir).createOrReplaceTempView("nation_ex_v")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_ex_v")
    s.sql(
      """SELECT n_name, COUNT(*) AS n_suppliers
        |FROM supplier_ex_v JOIN nation_ex_v ON s_nationkey = n_nationkey
        |WHERE EXISTS (SELECT 1 FROM lineitem_ex_v
        |              WHERE l_suppkey = s_suppkey AND l_returnflag = 'R' AND l_quantity <= 2)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem_ex_v
        |                  WHERE l_suppkey = s_suppkey AND l_quantity >= 50 AND l_discount >= 0.09)
        |GROUP BY n_name ORDER BY n_name""".stripMargin)
  }

  val q72Sql: String =
    """SELECT n_name, COUNT(*) AS n_suppliers
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_suppkey = s_suppkey AND l_returnflag = 'R' AND l_quantity <= 2)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem
      |                  WHERE l_suppkey = s_suppkey AND l_quantity >= 50 AND l_discount >= 0.09)
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q73
  /** Correlated LATERAL subquery with ORDER BY + LIMIT — "top 2 orders
    * per customer" as the user writes it in SQL. Catalyst decorrelates
    * the limit to a rank-based rewrite (window rank <= 2 partitioned by
    * the correlation key), i.e. one shuffle on o_custkey instead of a
    * per-customer inner query — the same physical plan q15 builds
    * explicitly, reached from the lateral form. Customer filter keeps
    * the output bounded and pushes into the outer scan.
    */
  def q73LateralTopn(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_lat_v")
    Tables.orders(s, dir).createOrReplaceTempView("orders_lat_v")
    s.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer_lat_v c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders_lat_v
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c.c_custkey < 200
        |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin)
  }

  val q73Sql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |WHERE c.c_custkey < 200
      |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q74
  /** Ordered string aggregation — LISTAGG ... WITHIN GROUP (Spark 4.0's
    * ANSI form; DuckDB spells it string_agg(expr, sep ORDER BY ...)).
    * Differs from q38's array_agg in that the ordering is part of the
    * AGGREGATE semantics, not a post-sort: partial aggregation still
    * applies (collect + merge-sort of small per-nation name lists), and
    * the per-group result is bounded by group cardinality (suppliers per
    * nation), not corpus size — fine at 100 TB where nations stay small;
    * for unbounded groups you'd cap with a slice() like q38 documents.
    */
  def q74Listagg(s: SparkSession, dir: String): DataFrame = {
    Tables.supplier(s, dir).createOrReplaceTempView("supplier_la_v")
    Tables.nation(s, dir).createOrReplaceTempView("nation_la_v")
    s.sql(
      """SELECT n_name,
        |  COUNT(*) AS n_suppliers,
        |  LISTAGG(s_name, ',') WITHIN GROUP (ORDER BY s_name) AS supplier_names
        |FROM supplier_la_v JOIN nation_la_v ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)
  }

  val q74Sql: String =
    """SELECT n_name,
      |  COUNT(*) AS n_suppliers,
      |  string_agg(s_name, ',' ORDER BY s_name) AS supplier_names
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q75
  /** VARIANT ingestion — Spark 4's semi-structured type: parse the JSON
    * props payload ONCE into a VARIANT column, then extract typed fields
    * with variant_get / try_variant_get. Against q26's per-field
    * get_json_object (which re-parses the string per extraction), the
    * variant parse is a single pass producing a binary-encoded tree;
    * every subsequent path access is a cheap offset walk — the 100 TB
    * difference when event payloads carry dozens of consumed fields.
    * try_variant_get on an absent path returns null (not an error),
    * giving the missing-field audit for free.
    */
  def q75VariantExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("v", expr("parse_json(props)"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'int')").as("k"),
        expr("try_variant_get(v, '$.missing', 'int')").as("absent"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).cast(LongType).as("k_sum"),
        max(col("k")).as("k_max"),
        sum(when(col("absent").isNull, 1L).otherwise(0L)).as("n_missing"))
      .orderBy(col("event_type"))

  val q75Sql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
      |  MAX(CAST(json_extract(props, '$.k') AS INT)) AS k_max,
      |  CAST(SUM(CASE WHEN json_extract(props, '$.missing') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q76
  /** Last-observation-carried-forward gap fill — IGNORE NULLS value
    * windows, the sensor/telemetry repair primitive: every 7th reading is
    * masked to null (deterministically, so the oracle can re-mask), then
    * recovered as the latest non-null value in (ts, event_id) order per
    * user. last(_, ignoreNulls) over a running frame is the Spark
    * spelling; DuckDB spells it LAST_VALUE(x IGNORE NULLS). Leading nulls
    * (no prior observation) stay null in both.
    *
    * Scale: one shuffle on user_id, per-partition running state is a
    * single value — the same shape as q16's running sum.
    */
  def q76GapFill(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("masked_value",
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
      .withColumn("filled", last(col("masked_value"), ignoreNulls = true).over(w))
      .select(col("user_id"), col("event_id"), col("masked_value"), col("filled"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q76Sql: String =
    """SELECT user_id, event_id, masked_value,
      |  LAST_VALUE(masked_value IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |FROM (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS masked_value
      |  FROM events)
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q77
  /** Multiset (bag) set operations — INTERSECT ALL / EXCEPT ALL, the
    * duplicate-preserving semantics q12's distinct-set tier doesn't
    * cover: per value, intersect keeps min(count_a, count_b) copies and
    * except keeps count_a - count_b. Spark plans both WITHOUT
    * materializing per-row duplicates: a count-aggregate per side, a
    * join, and a generate of the surviving multiplicity (see
    * replicate_rows in the plan) — group-cardinality work, not
    * row-cardinality, which is what makes bag semantics affordable at
    * 100 TB. The rollup output pins the multiplicities exactly.
    */
  def q77BagSetOps(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 100 < 3)
      .select(year(col("o_orderdate")).as("y"), col("o_orderpriority").as("p"))
    val a = o.filter(col("y") === 1995).select(col("p"))
    val b = o.filter(col("y") === 1996).select(col("p"))
    a.intersectAll(b).groupBy(col("p")).agg(count(lit(1)).as("n"))
      .withColumn("which", lit("inter"))
      .unionAll(
        a.exceptAll(b).groupBy(col("p")).agg(count(lit(1)).as("n"))
          .withColumn("which", lit("except")))
      .select(col("which"), col("p"), col("n"))
      .orderBy(col("which"), col("p"))
  }

  val q77Sql: String =
    """WITH a AS (SELECT o_orderpriority AS p FROM orders
      |           WHERE YEAR(o_orderdate) = 1995 AND o_orderkey % 100 < 3),
      |     b AS (SELECT o_orderpriority AS p FROM orders
      |           WHERE YEAR(o_orderdate) = 1996 AND o_orderkey % 100 < 3)
      |SELECT 'inter' AS which, p, COUNT(*) AS n
      |FROM (SELECT p FROM a INTERSECT ALL SELECT p FROM b) GROUP BY 2
      |UNION ALL
      |SELECT 'except', p, COUNT(*)
      |FROM (SELECT p FROM a EXCEPT ALL SELECT p FROM b) GROUP BY 2
      |ORDER BY which, p""".stripMargin

  // ---------------------------------------------------------------- q78
  /** Explicit null-ordering semantics — the cross-engine trap: Spark's
    * default ASC sort puts nulls FIRST, DuckDB's puts them LAST, so any
    * null-bearing ORDER BY that doesn't say which is silently
    * engine-dependent. This query pins both spellings (ASC NULLS FIRST
    * and DESC NULLS LAST) explicitly over a deterministically
    * null-masked value column; the oracle hash fails if either engine
    * deviates from the requested placement.
    */
  def q78NullsOrdering(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("v").desc_nulls_last, col("event_id"))
    Tables.events(s, dir)
      .filter(col("event_id") < 2000)
      .select(col("event_id"),
        when(col("event_id") % 5 === 0, lit(null)).otherwise(col("value")).as("v"))
      .withColumn("rank_desc_nl", row_number().over(w))
      .orderBy(col("v").asc_nulls_first, col("event_id"))
      .select(col("event_id"), col("v"), col("rank_desc_nl"))
  }

  val q78Sql: String =
    """WITH m AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
      |  FROM events WHERE event_id < 2000)
      |SELECT event_id, v,
      |  ROW_NUMBER() OVER (ORDER BY v DESC NULLS LAST, event_id) AS rank_desc_nl
      |FROM m
      |ORDER BY v ASC NULLS FIRST, event_id""".stripMargin

  // ---------------------------------------------------------------- q79
  /** Recursive CTE — Spark 4's WITH RECURSIVE: transitive closure over a
    * deterministic DAG derived from the nation table (edge i -> i + 3),
    * the fixed-point iteration pattern behind hierarchy/lineage queries.
    * Spark executes it as an iterated union with a loop guard (the same
    * execution shape d06's connected components builds by hand with
    * localCheckpoint; this is the declarative spelling). Output: per
    * start node, how many nodes it reaches and the farthest hop count.
    */
  def q79RecursiveCte(s: SparkSession, dir: String): DataFrame = {
    Tables.nation(s, dir).createOrReplaceTempView("nation_rec_v")
    s.sql(
      """WITH RECURSIVE reach(src, dst, hops) AS (
        |  SELECT n_nationkey, n_nationkey, 0 FROM nation_rec_v
        |  UNION ALL
        |  SELECT r.src, e.n_nationkey + 3, r.hops + 1
        |  FROM reach r JOIN nation_rec_v e ON e.n_nationkey = r.dst
        |  WHERE e.n_nationkey + 3 < 25)
        |SELECT src, COUNT(*) AS n_reachable, MAX(hops) AS max_hops
        |FROM reach GROUP BY src ORDER BY src""".stripMargin)
  }

  val q79Sql: String =
    """WITH RECURSIVE reach(src, dst, hops) AS (
      |  SELECT n_nationkey, n_nationkey, 0 FROM nation
      |  UNION ALL
      |  SELECT r.src, e.n_nationkey + 3, r.hops + 1
      |  FROM reach r JOIN nation e ON e.n_nationkey = r.dst
      |  WHERE e.n_nationkey + 3 < 25)
      |SELECT src, COUNT(*) AS n_reachable, MAX(hops) AS max_hops
      |FROM reach GROUP BY src ORDER BY src""".stripMargin

  // ---------------------------------------------------------------- q80
  /** Linear-regression aggregates — the SQL:2003 REGR_* family
    * (regr_count/slope/intercept/r2), fitting price-vs-quantity per
    * return flag in ONE grouped aggregation pass (no per-group model
    * loop). Spark and DuckDB both accumulate single-pass co-moments whose
    * last bits depend on partition order, so the doubles are rounded for
    * cross-engine hash stability exactly like q05's built-in corr; the
    * slope/intercept are O(1e3) and r2 is O(1e-3), so 3/6 fractional
    * digits sit ~1e12 ulps away from any rounding boundary. At 100 TB
    * this is a plain partial-aggregate shuffle on the group key — the
    * cheapest possible shape for a regression over every group at once.
    */
  def q80RegrAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("regr_count(l_extendedprice, l_quantity)").cast(LongType).as("n"),
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 3).as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 3).as("intercept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"))
      .orderBy(col("l_returnflag"))

  val q80Sql: String =
    """SELECT l_returnflag,
      |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
      |  ROUND(regr_slope(l_extendedprice, l_quantity), 3) AS slope,
      |  ROUND(regr_intercept(l_extendedprice, l_quantity), 3) AS intercept,
      |  ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q81
  /** Bitwise aggregates — bit_or/bit_xor/bit_count as a grouped presence
    * bitmap: which ISO weekdays (bit i = Monday+i) each order priority
    * ships on, plus an xor checksum of the member keys (the classic
    * cheap set-digest: xor of all keys is order-independent and
    * constant-space). Integer-only math, so the oracle hash is exact
    * with no rounding. Engine trap pinned here: Spark's weekday() is
    * Monday=0 while DuckDB's isodow is Monday=1 — the oracle spells the
    * -1 shift explicitly. Scale shape = one partial-aggregate shuffle
    * carrying an int mask and a long checksum per group.
    */
  def q81BitAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("bit_or(shiftleft(1L, weekday(o_orderdate)))").as("weekday_mask"),
        expr("bit_count(bit_or(shiftleft(1L, weekday(o_orderdate))))").cast(LongType).as("n_weekdays"),
        expr("bit_xor(o_orderkey)").as("key_parity"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  val q81Sql: String =
    """SELECT o_orderpriority,
      |  bit_or(1::BIGINT << (isodow(o_orderdate) - 1)) AS weekday_mask,
      |  CAST(bit_count(bit_or(1::BIGINT << (isodow(o_orderdate) - 1))) AS BIGINT) AS n_weekdays,
      |  bit_xor(o_orderkey) AS key_parity,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q82
  /** Boolean aggregates — every/some (SQL bool_and/bool_or) and count_if,
    * the predicate-rollup surface a data-quality gate uses ("did every
    * row pass?", "did any row trip the alarm?", "how many violations?").
    * Booleans and counts only — bit-exact across engines by construction.
    * Both engines fold these to partial aggregates (AND/OR are
    * associative+commutative), so the shuffle carries three booleans and
    * two longs per group regardless of input size.
    */
  def q82BoolAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("every(l_quantity < 50)").as("all_small"),
        expr("some(l_discount >= 0.1)").as("any_deep_discount"),
        expr("count_if(l_tax = 0)").as("n_tax_free"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  val q82Sql: String =
    """SELECT l_returnflag,
      |  bool_and(l_quantity < 50) AS all_small,
      |  bool_or(l_discount >= 0.1) AS any_deep_discount,
      |  COUNT(*) FILTER (WHERE l_tax = 0) AS n_tax_free,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q83
  /** Argmax/argmin aggregates — max_by/min_by ("which order was the
    * priciest per priority"), the single-pass replacement for the
    * self-join-with-max anti-pattern. Determinism trap pinned here:
    * max_by ties are engine-arbitrary, and o_totalprice DOES collide in
    * this data (sf0.01+), so the ordering key is made unique by fusing
    * the 2-decimal price and the unique o_orderkey into one exact BIGINT
    * (price*100 fits ~5e7 — ROUND, not CAST, because DuckDB's double->int
    * cast rounds while Spark's truncates, and price*100 can land a hair
    * below the integer). One partial-agg shuffle carrying two longs and
    * two doubles per group.
    */
  def q83Argmax(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("ordkey",
        expr("cast(round(o_totalprice * 100) as bigint) * 10000000000L + o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("max_by(o_orderkey, ordkey)").as("top_orderkey"),
        max(col("o_totalprice")).as("top_price"),
        expr("min_by(o_orderkey, ordkey)").as("bottom_orderkey"),
        min(col("o_totalprice")).as("bottom_price"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  val q83Sql: String =
    """WITH o AS (
      |  SELECT *, CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000000000 + o_orderkey AS ordkey
      |  FROM orders)
      |SELECT o_orderpriority,
      |  max_by(o_orderkey, ordkey) AS top_orderkey,
      |  MAX(o_totalprice) AS top_price,
      |  min_by(o_orderkey, ordkey) AS bottom_orderkey,
      |  MIN(o_totalprice) AS bottom_price,
      |  COUNT(*) AS n
      |FROM o GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q84
  /** Event-time RANGE frames with INTERVAL bounds — the "activity in the
    * trailing hour / next 15 minutes" window that rate-limiting,
    * anomaly-detection, and feature-engineering jobs all need, expressed
    * as a true time-range frame (q48's RANGE frame is over a numeric
    * key; q68's moving average is ROWS-based). RANGE peers (equal ts)
    * share one frame in both engines, so ties are semantics, not
    * nondeterminism; the sum is rounded like q16 because the two engines
    * accumulate a moving frame differently (recompute vs segment tree).
    * The oracle casts ts to microseconds explicitly — DuckDB reads this
    * parquet as TIMESTAMP_NS while graft.Tables.events truncates to
    * micros, and a frame bound must not straddle that precision gap.
    * Scale shape: one shuffle on user_id, then per-partition ordered
    * frame scans; nothing whole-table.
    */
  def q84IntervalFrame(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("n_trail_1h", expr(
        "count(*) OVER (PARTITION BY user_id ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"))
      .withColumn("sum_trail_1h", expr(
        "round(sum(value) OVER (PARTITION BY user_id ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 4)"))
      .withColumn("n_next_15m", expr(
        "count(*) OVER (PARTITION BY user_id ORDER BY ts RANGE BETWEEN CURRENT ROW AND INTERVAL 15 MINUTES FOLLOWING)"))
      .select(col("user_id"), col("event_id"), col("n_trail_1h"), col("sum_trail_1h"), col("n_next_15m"))
      .orderBy(col("user_id"), col("event_id"))

  val q84Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
      |SELECT user_id, event_id,
      |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
      |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS n_trail_1h,
      |  ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts
      |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 4) AS sum_trail_1h,
      |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
      |    RANGE BETWEEN CURRENT ROW AND INTERVAL 15 MINUTES FOLLOWING) AS n_next_15m
      |FROM e ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Ordered-set aggregates — PERCENTILE_DISC / PERCENTILE_CONT ... WITHIN
    * GROUP (ORDER BY ...), the SQL:2003 inverse-distribution surface (q24
    * exercises the plain percentile() function; this is the standard
    * spelling, parsed and planned by both engines). percentile_disc
    * SELECTS an actual input value (first value with cume_dist >= p) —
    * integer-exact across engines; percentile_cont interpolates with the
    * same (1-f)*a + f*b IEEE expression in both engines on this data (the
    * un-rounded q24 hash already proves that). One grouped-aggregate
    * shuffle; inverse-distribution aggs buffer per-group values, so at
    * 100 TB you'd pre-filter or switch to approx_percentile (q59) for
    * ungrouped whole-corpus quantiles — the group-key cardinality here
    * bounds the buffers.
    */
  def q85WithinGroup(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_wg_v")
    s.sql(
      """SELECT l_returnflag,
        |  percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25_disc,
        |  percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS p50_disc,
        |  percentile_disc(0.9)  WITHIN GROUP (ORDER BY l_quantity) AS p90_disc,
        |  percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS p50_cont,
        |  COUNT(*) AS n
        |FROM lineitem_wg_v GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  val q85Sql: String =
    """SELECT l_returnflag,
      |  percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25_disc,
      |  percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS p50_disc,
      |  percentile_disc(0.9)  WITHIN GROUP (ORDER BY l_quantity) AS p90_disc,
      |  percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS p50_cont,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q86
  /** Mergeable HLL sketches (Apache DataSketches surface) — the shape that
    * actually matters at 100 TB: per-partition/per-source sketches are
    * built ONCE (hll_sketch_agg), persisted bytes-sized, and any rollup —
    * here the all-sources union — is a sketch MERGE (hll_union_agg), not
    * a data re-scan. q14's approx_count_distinct gives one number; this
    * gives reusable, composable state.
    *
    * Oracle contract (t07's literal-TRUE pattern): the sketch estimates
    * are deterministic but not reproducible in DuckDB, so the output
    * carries the EXACT per-source distinct count (SQL-checkable), the
    * merged-estimate accuracy flag est_ok — Spark must emit literal TRUE
    * by honoring the HLL error bound (lgConfigK=12 -> ~1.6% rsd; checked
    * at 4 sigma), and the union's exact target. A broken sketch or merge
    * flips est_ok and fails the hash.
    */
  def q86HllSketch(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val perSrc = o.groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("n_exact"),
        expr("hll_sketch_agg(o_custkey, 12)").as("sk"))
    val merged = perSrc.agg(
      expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"))
    val globalExact = o.agg(countDistinct(col("o_custkey")).as("n_global"))
    perSrc.select(col("o_orderpriority"), col("n_exact"))
      .crossJoin(broadcast(merged))
      .crossJoin(broadcast(globalExact))
      .select(
        col("o_orderpriority"), col("n_exact"), col("n_global"),
        (abs(col("est") - col("n_global")) / col("n_global") <= lit(0.065)).as("est_ok"))
      .orderBy(col("o_orderpriority"))
  }

  val q86Sql: String =
    """WITH g AS (SELECT COUNT(DISTINCT o_custkey) AS n_global FROM orders)
      |SELECT o_orderpriority,
      |  COUNT(DISTINCT o_custkey) AS n_exact,
      |  (SELECT n_global FROM g) AS n_global,
      |  TRUE AS est_ok
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q87
  /** Bitmap-accelerated EXACT distinct counting — Spark's bitmap_*
    * aggregate family: keys map to (bucket, bit position), per-bucket
    * bitmaps build with bitmap_construct_agg, and the distinct count is
    * the sum of bitmap popcounts. Unlike q86's HLL (approximate,
    * fixed-size) this is exact, and the per-bucket bitmaps are the
    * MATERIALIZABLE intermediate: persist them per ingest segment and
    * any later distinct-count over any segment union is a bitmap_or_agg
    * + popcount — no re-scan of raw keys. Two-level aggregation keeps
    * both shuffles bounded: the inner one carries one bitmap per
    * (group, bucket), the outer one a long per group. Oracle = plain
    * COUNT(DISTINCT) — the bitmap path must reproduce it exactly.
    */
  def q87BitmapDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"), expr("bitmap_bucket_number(o_custkey)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").as("bm"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_distinct"))
      .orderBy(col("o_orderpriority"))

  val q87Sql: String =
    """SELECT o_orderpriority,
      |  COUNT(DISTINCT o_custkey) AS n_distinct
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q88
  /** LIMIT/OFFSET pagination — page 3 (rows 41-60) of the price-ranked
    * order book, under a TOTAL order (price desc, then the unique key —
    * pagination without a total order silently returns different pages
    * per run on any engine). Spark plans offset+limit as a single
    * CollectLimit(offset, limit) over per-partition top-(offset+limit)
    * heaps — fine for UI-depth pages; the scaladoc caveat is that
    * OFFSET cost grows with depth, so a 100 TB scan paginates by keyset
    * (WHERE (price, key) < last-seen, the q06 top-k shape) instead of
    * deep OFFSET. Both spellings are this one operator; the oracle pins
    * the OFFSET semantics.
    */
  def q88Pagination(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .offset(40)
      .limit(20)

  val q88Sql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 20 OFFSET 40""".stripMargin

  // ---------------------------------------------------------------- q89
  /** GROUP BY ALL / ORDER BY ALL — the DuckDB-originated shorthand Spark
    * adopted (3.4+): every non-aggregate SELECT item becomes a grouping
    * key, and ORDER BY ALL totals the order over the output columns left
    * to right. Same resolved plan as the explicit spelling (the
    * resolution is purely syntactic, so pushdown/partial-agg behavior is
    * unchanged); the point of covering it is that a user's ad-hoc
    * notebook SQL written against DuckDB runs on this engine verbatim.
    * l_quantity is a double holding small integers (exact in IEEE754 and
    * far under 2^53 in total), so the sum is order-independent and the
    * hash compare is safe without the dsum detour — q01 relies on the
    * same property.
    */
  def q89GroupByAll(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_gba_v")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty, COUNT(*) AS n
        |FROM lineitem_gba_v
        |GROUP BY ALL ORDER BY ALL""".stripMargin)
  }

  val q89Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  SUM(l_quantity) AS sum_qty, COUNT(*) AS n
      |FROM lineitem
      |GROUP BY ALL ORDER BY ALL""".stripMargin

  // ---------------------------------------------------------------- q90
  /** Ordered funnel analysis — view -> click-after-view ->
    * purchase-after-click per user, the sequence-constrained conversion
    * query behind every product-analytics dashboard (and, in pipeline
    * terms, the pattern for any ordered-milestone attribution). Stage
    * timestamps chain: the click must be strictly AFTER the user's first
    * view, the purchase strictly after that click — a plain per-type min
    * would overcount (a purchase before any view is not a conversion).
    *
    * Plan shape: three chained MIN-over-user windows. All three share
    * the user_id partitioning, so Catalyst plans ONE exchange + sort and
    * stacks the Window operators over it — the whole funnel costs a
    * single shuffle of (user_id, ts, type) triples, then a per-user
    * rollup and a scalar count. At 100 TB this is the optimal shape
    * short of a pre-bucketed event table (which would make it
    * shuffle-free).
    */
  def q90Funnel(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("tv", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("tc",
        min(when(col("event_type") === "click" && col("ts") > col("tv"), col("ts"))).over(w))
      .withColumn("tp",
        min(when(col("event_type") === "purchase" && col("ts") > col("tc"), col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("tv")).as("tv"), max(col("tc")).as("tc"), max(col("tp")).as("tp"))
      .agg(
        count(col("tv")).as("n_view"),
        count(col("tc")).as("n_click_after_view"),
        count(col("tp")).as("n_purchase_after_click"),
        (floor(count(col("tc")).cast(DoubleType) / count(col("tv")) * 10000.0 + 0.5) / 10000.0)
          .as("view_to_click"),
        (floor(count(col("tp")).cast(DoubleType) / count(col("tc")) * 10000.0 + 0.5) / 10000.0)
          .as("click_to_purchase"))
  }

  val q90Sql: String =
    """WITH w1 AS (
      |  SELECT user_id, ts, event_type,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END)
      |      OVER (PARTITION BY user_id) AS tv
      |  FROM events),
      |w2 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > tv THEN ts END)
      |      OVER (PARTITION BY user_id) AS tc
      |  FROM w1),
      |w3 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > tc THEN ts END)
      |      OVER (PARTITION BY user_id) AS tp
      |  FROM w2),
      |u AS (SELECT user_id, MAX(tv) AS tv, MAX(tc) AS tc, MAX(tp) AS tp FROM w3 GROUP BY 1)
      |SELECT COUNT(tv) AS n_view, COUNT(tc) AS n_click_after_view,
      |  COUNT(tp) AS n_purchase_after_click,
      |  FLOOR(CAST(COUNT(tc) AS DOUBLE) / COUNT(tv) * 10000.0 + 0.5) / 10000.0 AS view_to_click,
      |  FLOOR(CAST(COUNT(tp) AS DOUBLE) / COUNT(tc) * 10000.0 + 0.5) / 10000.0 AS click_to_purchase
      |FROM u""".stripMargin

  // ---------------------------------------------------------------- q91
  /** PIVOT — long-to-wide reshape (hour-of-day x event_type matrix of
    * counts and decimal-exact value sums), the dashboard/report shape the
    * reference's Databricks notebooks render constantly. The value list
    * is EXPLICIT (`pivot(col, values)`), which matters twice: Spark skips
    * the extra distinct-values job a blind pivot needs, and the plan is a
    * single ordinary groupBy(hour) aggregate with one conditional-agg
    * column per (value x measure) — one shuffle on 24 keys no matter the
    * input size, exactly what the conditional-aggregation oracle spells
    * out. Missing cells coalesce to 0 to match SQL COUNT semantics.
    */
  def q91Pivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("view", "click", "purchase")
    val wide = Tables.events(s, dir)
      .select(hour(col("ts")).as("hr"), col("event_type"), col("value"))
      .groupBy(col("hr"))
      .pivot("event_type", types)
      .agg(count(lit(1)).as("n"), Tables.dsum(col("value"), 30, 2).as("val"))
    wide.select(
      col("hr") +: types.flatMap(t => Seq(
        coalesce(col(s"${t}_n"), lit(0L)).as(s"${t}_n"),
        col(s"${t}_val"))): _*)
      .orderBy(col("hr"))
  }

  val q91Sql: String =
    """SELECT EXTRACT(hour FROM ts) AS hr,
      |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view_n,
      |  CAST(CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(30,2)) END) AS VARCHAR) AS DOUBLE) AS view_val,
      |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click_n,
      |  CAST(CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(30,2)) END) AS VARCHAR) AS DOUBLE) AS click_val,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_n,
      |  CAST(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(30,2)) END) AS VARCHAR) AS DOUBLE) AS purchase_val
      |FROM events GROUP BY 1 ORDER BY hr""".stripMargin

  // ---------------------------------------------------------------- q92
  /** UNPIVOT / melt — wide-to-long reshape via the Dataset.unpivot API
    * (SQL UNPIVOT's engine form): the per-returnflag metric columns of a
    * q01-style rollup melt into (flag, metric, value) rows. Reshape ops
    * are pure metadata at the row level — unpivot plans as a Generate
    * (explode of a struct array), no shuffle beyond the feeding
    * aggregate, and the metric-name column arrives dictionary-encodable.
    * The oracle is the classic UNION ALL spelling, one leg per melted
    * column.
    */
  def q92Unpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        Tables.dsum(col("l_quantity"), 30, 2).as("sum_qty"),
        Tables.dsum(col("l_extendedprice"), 30, 2).as("sum_price"),
        count(lit(1)).cast(DoubleType).as("n_items"))
    wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("n_items")),
        "metric", "metric_value")
      .orderBy(col("l_returnflag"), col("metric"))
  }

  val q92Sql: String =
    """WITH wide AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE) AS sum_price,
      |    CAST(COUNT(*) AS DOUBLE) AS n_items
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, metric, metric_value FROM (
      |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS metric_value FROM wide
      |  UNION ALL
      |  SELECT l_returnflag, 'sum_price', sum_price FROM wide
      |  UNION ALL
      |  SELECT l_returnflag, 'n_items', n_items FROM wide)
      |ORDER BY l_returnflag, metric""".stripMargin

  // ---------------------------------------------------------------- q93
  /** Interval-overlap join via BUCKETING — "which user sessions overlap
    * each incident window": per-user 30-minute-gap activity sessions
    * (intervals) joined against the 20 busiest hours (incident windows).
    * OSS Spark plans a raw interval-overlap theta join as
    * BroadcastNestedLoopJoin — every session tested against every
    * incident. The scalable spelling maps each session to the hour
    * buckets it covers (explode(sequence(...)), bounded fan-out: the
    * 30-minute gap rule keeps sessions short) and EQUI-joins on the
    * bucket; for [hour, hour+1h) windows, bucket coverage is EXACTLY the
    * overlap predicate (covered => overlaps by construction, overlaps =>
    * trunc(s_start) <= h <= trunc(s_end)), so no residual verify filter
    * is even needed — the generic interval x interval pattern keeps the
    * exact predicate as a post-join filter. PlanShapeSpec-style assert
    * lives in Round6OpsSpec: the executed plan contains no
    * BroadcastNestedLoopJoin and no CartesianProduct.
    */
  def q93IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val sess = ev
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
      .select(col("user_id"), col("s_start"), col("s_end"))
    val inc = ev
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("hour_events"))
      .orderBy(col("hour_events").desc, col("h"))
      .limit(20)
    val covered = sess.withColumn("h",
      explode(sequence(
        date_trunc("hour", col("s_start")),
        date_trunc("hour", col("s_end")),
        expr("INTERVAL 1 HOUR"))))
    covered.join(broadcast(inc), Seq("h"))
      .groupBy(col("h"), col("hour_events"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("h").as("incident_hour"), col("hour_events"),
        col("n_sessions"), col("n_users"))
      .orderBy(col("incident_hour"))
  }

  /** Direct theta-join restatement (fine at oracle scale) over the q34
    * session derivation — bucketing must not change the answer. */
  val q93Sql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |    epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts,
      |    SUM(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM g),
      |per AS (
      |  SELECT user_id, session_id, MIN(ts) AS s_start, MAX(ts) AS s_end
      |  FROM sess GROUP BY 1, 2),
      |inc AS (
      |  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS hour_events
      |  FROM events GROUP BY 1 ORDER BY hour_events DESC, h LIMIT 20)
      |SELECT i.h AS incident_hour, i.hour_events,
      |  COUNT(*) AS n_sessions, COUNT(DISTINCT p.user_id) AS n_users
      |FROM inc i JOIN per p
      |  ON p.s_start < i.h + INTERVAL 1 HOUR AND p.s_end >= i.h
      |GROUP BY 1, 2 ORDER BY incident_hour""".stripMargin

  // ---------------------------------------------------------------- q94
  /** Z-order (Morton-curve) clustering audit — the data-LAYOUT operator
    * behind multi-dimensional file skipping (Delta/Iceberg `OPTIMIZE
    * ZORDER BY`): interleave the bits of two scan dimensions so rows
    * close in (x, y) space land in the same file, then measure what a
    * 2-D box predicate would actually have to read under each layout
    * via per-bucket min/max envelopes — exactly the zone-map pruning
    * decision a parquet reader makes from row-group statistics.
    *
    * Two layouts over lineitem, 64 equal-width buckets each ("files"):
    *  - zorder: bucketed by the 32-bit Morton code of (l_partkey,
    *    l_suppkey) — bucket = a tile of the Z-curve;
    *  - xsort:  bucketed by l_partkey alone — the single-column sort a
    *    naive layout ships.
    * For each (layout, bucket): row count, min/max envelope of both
    * dimensions, and whether the envelope intersects a box selective in
    * BOTH dimensions (x in [max/4, max/2], y in [max/10, max/5] — bounds
    * derived from the data, so the audit is sf-invariant). Measured at
    * sf0.01: the box touches 5 of the z-order buckets vs 17 of the
    * x-sort buckets — the multi-dimensional-pruning win quantified.
    *
    * Plan shape at 100 TB: the Morton code and both bucket ids are pure
    * per-row arithmetic (one map pass — bit interleave is a 16-step
    * codegen fold); binning is EQUAL-WIDTH off three scalar maxima
    * (broadcast scalar join — the no-collect pattern), so no global
    * sort, no window: the audit aggregates straight to 128 envelope
    * rows with one bucket-keyed shuffle. (The production WRITE path is
    * `repartitionByRange(64, zval)` + per-file sort — same tiles,
    * sampled boundaries; the audit uses deterministic equal-width tiles
    * so the oracle can restate them bit-for-bit.)
    */
  def q94ZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(
      col("l_partkey").cast(LongType).as("x"),
      col("l_suppkey").cast(LongType).as("y"))
    // the interleave unrolls to 32 shift/mask terms summed directly: a
    // pure codegen expression (the aggregate-HOF spelling evaluates
    // interpreted per row and benched 5x slower over sf0.1's lineitem)
    val morton = (0 until 16).map { i =>
      expr(s"shiftleft(shiftright(x, $i) & 1, ${2 * i}) + shiftleft(shiftright(y, $i) & 1, ${2 * i + 1})")
    }.reduce(_ + _)
    val withZ = li.withColumn("zval", morton)
    val bounds = withZ.agg(
      max(col("x")).as("xm"), max(col("y")).as("ym"), max(col("zval")).as("zm"))
    val binned = withZ.crossJoin(broadcast(bounds))
      .withColumn("layout", explode(array(lit("zorder"), lit("xsort"))))
      .withColumn("bucket", when(col("layout") === "zorder",
        expr("(zval * 64) div (zm + 1)")).otherwise(expr("(x * 64) div (xm + 1)")))
    binned.groupBy(col("layout"), col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .crossJoin(broadcast(bounds))
      .withColumn("in_box", expr(
        """x_max >= xm div 4 AND x_min <= xm div 2 AND
          |y_max >= ym div 10 AND y_min <= ym div 5""".stripMargin))
      .select(col("layout"), col("bucket"), col("n_rows"),
        col("x_min"), col("x_max"), col("y_min"), col("y_max"), col("in_box"))
      .orderBy(col("layout").desc, col("bucket"))
  }

  /** Identical Morton interleave (list fold), equal-width binning off the
    * same three maxima, and envelope-vs-box intersection test. */
  val q94Sql: String =
    """WITH li AS (
      |  SELECT CAST(l_partkey AS BIGINT) AS x, CAST(l_suppkey AS BIGINT) AS y FROM lineitem),
      |z AS (
      |  SELECT x, y,
      |    list_reduce(list_transform(generate_series(0, 15),
      |      i -> (((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1))), (a, b) -> a + b) AS zval
      |  FROM li),
      |b AS (SELECT MAX(x) AS xm, MAX(y) AS ym, MAX(zval) AS zm FROM z),
      |binned AS (
      |  SELECT CASE lay WHEN 'zorder' THEN (zval * 64) // (b.zm + 1) ELSE (x * 64) // (b.xm + 1) END AS bucket,
      |    lay AS layout, x, y
      |  FROM z CROSS JOIN b CROSS JOIN (SELECT UNNEST(['zorder', 'xsort']) AS lay)),
      |env AS (
      |  SELECT layout, bucket, COUNT(*) AS n_rows,
      |    MIN(x) AS x_min, MAX(x) AS x_max, MIN(y) AS y_min, MAX(y) AS y_max
      |  FROM binned GROUP BY layout, bucket)
      |SELECT e.layout, e.bucket, e.n_rows, e.x_min, e.x_max, e.y_min, e.y_max,
      |  (e.x_max >= b.xm // 4 AND e.x_min <= b.xm // 2 AND
      |   e.y_max >= b.ym // 10 AND e.y_min <= b.ym // 5) AS in_box
      |FROM env e CROSS JOIN b
      |ORDER BY layout DESC, bucket""".stripMargin

  // ---------------------------------------------------------------- q95
  /** Consecutive-sequence pattern matching — the MATCH_RECOGNIZE shape
    * (row-pattern recognition, SQL:2016) Spark lacks as a keyword,
    * expressed with LEAD windows: find every STRICTLY CONSECUTIVE
    * click → view → purchase triple inside each user's event stream.
    * This is the behavioral-sequence miner (funnels with NO intervening
    * events) — a different contract from q90's funnel, which allows
    * arbitrary gaps between stages: here an interleaved 'error' between
    * click and view kills the match, so the operator detects exact
    * subsequence runs, not mere precedence.
    *
    * Plan: ONE user-keyed window pass (two LEADs over the same frame
    * share a single sort/shuffle), then a filter and a per-user rollup
    * that reuses the same user partitioning — the whole query is one
    * exchange, linear in events. At 100 TB this is the canonical "cheap
    * if you let the engine see it declaratively" op: no self-joins (the
    * naive 3-way ts-adjacency join would shuffle the fact table three
    * times), no state machine UDF.
    *
    * Determinism: the stream order is the total (ts, event_id) order;
    * output is matching users with match counts and the first match's
    * anchor timestamp.
    */
  def q95PatternMatch(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e1", lead(col("event_type"), 1).over(w))
      .withColumn("e2", lead(col("event_type"), 2).over(w))
      .filter(col("event_type") === "click" && col("e1") === "view" && col("e2") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("ts")).as("first_match_ts"))
      .orderBy(col("user_id"))
  }

  val q95Sql: String =
    """WITH o AS (
      |  SELECT user_id, ts, event_type,
      |    LEAD(event_type, 1) OVER w AS e1,
      |    LEAD(event_type, 2) OVER w AS e2
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, COUNT(*) AS n_matches, MIN(ts) AS first_match_ts
      |FROM o
      |WHERE event_type = 'click' AND e1 = 'view' AND e2 = 'purchase'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q96
  /** Cumulative distinct users per day — the "cumulative uniques" curve
    * every growth dashboard draws, and a SQL-surface gap worth naming:
    * `COUNT(DISTINCT user_id) OVER (ORDER BY day)` is unsupported in
    * Spark and, where engines do run it, needs per-row distinct state
    * that grows with history. The scale-correct rewrite used here is the
    * standard one: a user is DISTINCT-counted on exactly its FIRST day
    * (min-day per user — one user-keyed aggregation), so the cumulative
    * distinct curve is the running sum of first-seen counts — a window
    * over DAY-cardinality rows (bounded by the calendar, never by
    * users), joined to the per-day actives. Exact, not sketched — the
    * HLL alternative is q86's territory.
    */
  def q96CumulativeDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val dailyNew = ev.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val dailyActive = ev.distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("active_users"))
    // unpartitioned window over calendar-day cardinality — bounded frame
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dailyActive.join(dailyNew, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cum_distinct_users", sum(col("new_users")).over(w))
      .select(col("day"), col("active_users"), col("new_users"), col("cum_distinct_users"))
      .orderBy(col("day"))
  }

  val q96Sql: String =
    """WITH e AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
      |dn AS (
      |  SELECT day, COUNT(*) AS new_users
      |  FROM (SELECT user_id, MIN(day) AS day FROM e GROUP BY 1) GROUP BY 1),
      |da AS (
      |  SELECT day, COUNT(*) AS active_users
      |  FROM (SELECT DISTINCT day, user_id FROM e) GROUP BY 1)
      |SELECT da.day, active_users,
      |  CAST(COALESCE(new_users, 0) AS BIGINT) AS new_users,
      |  CAST(SUM(COALESCE(new_users, 0)) OVER (ORDER BY da.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_distinct_users
      |FROM da LEFT JOIN dn USING (day) ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q97
  /** Collation-aware grouping — Spark 4's engine-level collations
    * (UTF8_LCASE here) doing case-insensitive aggregation WITHOUT
    * rewriting every key through lower(): the collated comparison lives
    * in the grouping exchange itself (hash and equality are
    * collation-aware), which is the production path for deduplicating
    * user-generated keys (emails, hostnames, hashtags) at scale — one
    * shuffle on the collated key, no normalization column to
    * materialize, and range scans/sorts on the collated column stay
    * sargable.
    *
    * Probe: the event-type stream unioned with an UPPERCASED copy of
    * itself — collated grouping must fold each pair of case variants
    * into one group (n_variants = 2, n = 2x the raw count), which the
    * oracle restates with explicit lower() normalization (the
    * pre-collation spelling this feature replaces). The published key
    * is lower()-normalized in BOTH engines so the contract doesn't
    * depend on which case variant a collated group happens to display.
    */
  def q97CollatedGroup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"))
    val mixed = ev.unionAll(ev.select(upper(col("event_type")).as("event_type")))
    mixed
      .groupBy(collate(col("event_type"), "UTF8_LCASE").as("k"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("event_type")).as("n_variants"))
      // cast strips the collation from the published schema: parquet
      // readers (and the oracle) see a plain UTF8 string
      .select(lower(col("k")).cast(StringType).as("event_type_lc"),
        col("n"), col("n_variants"))
      .orderBy(col("event_type_lc"))
  }

  /** The explicit-normalization spelling collated grouping replaces. */
  val q97Sql: String =
    """WITH mixed AS (
      |  SELECT event_type FROM events
      |  UNION ALL SELECT UPPER(event_type) FROM events)
      |SELECT LOWER(event_type) AS event_type_lc, COUNT(*) AS n,
      |  COUNT(DISTINCT event_type) AS n_variants
      |FROM mixed GROUP BY 1 ORDER BY event_type_lc""".stripMargin

  // ---------------------------------------------------------------- q98
  /** As-of join DIRECTION variants on the native AsOfJoinExec — the two
    * lookups q31/q61's backward form doesn't cover: FORWARD (first order
    * at-or-after the event: "what did this user buy next?" — label
    * construction for propensity models) and NEAREST (closer of the two
    * sides, at-or-before winning ties — sensor-style alignment). Both
    * run through the same co-partitioned streaming merge: forward is the
    * buffered head PEEK (at-or-after rows stay unconsumed so later left
    * rows can still claim them), nearest combines the backward carry
    * with that peek — still one pass, still O(1) state per partition.
    *
    * Null-value nuance pinned for the contract: backward carries the
    * last VALUE-BEARING row; forward is the first at-or-after ROW
    * (absent if its value is null — the merge cannot consume past it
    * without stealing later lefts' backward matches). o_totalprice is
    * never null here, so the oracle's IGNORE NULLS windows state the
    * same function.
    */
  def q98AsofDirections(s: SparkSession, dir: String): DataFrame = {
    // clicks against same-user purchases: the two streams genuinely
    // interleave in time, so BOTH directions produce non-vacuous matches
    // (q31/q61's orders-side probe has every order before every event —
    // fine for backward, vacuous for forward)
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("value").as("p_value"))
    val fwd = graft.plans.AsOfJoin.asofJoin(
      clicks, purchases,
      leftKeyCol = "user_id", leftTimeCol = "ts",
      rightKeyCol = "p_user", rightTimeCol = "p_ts",
      rightSeqCol = "p_id", rightValueCol = "p_value",
      asofColName = "fwd_value", direction = "forward")
    graft.plans.AsOfJoin.asofJoin(
        fwd, purchases,
        leftKeyCol = "user_id", leftTimeCol = "ts",
        rightKeyCol = "p_user", rightTimeCol = "p_ts",
        rightSeqCol = "p_id", rightValueCol = "p_value",
        asofColName = "near_value", direction = "nearest")
      .select(col("user_id"), col("event_id"), col("fwd_value"), col("near_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Both directions as IGNORE-NULLS windows over the tagged timeline:
    * forward sorts events BEFORE same-ts orders and takes the first
    * following value; nearest compares micro distances, ties to the
    * at-or-before side (q31's ordering for the backward leg). */
  val q98Sql: String =
    """WITH tagged AS (
      |  SELECT user_id AS k, ts, 1 AS is_r, event_id AS src_id, value AS price
      |  FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, ts, 0, event_id, CAST(NULL AS DOUBLE)
      |  FROM events WHERE event_type = 'click'),
      |tl AS (
      |  SELECT k, ts, is_r, src_id,
      |    FIRST_VALUE(price IGNORE NULLS) OVER (
      |      PARTITION BY k ORDER BY ts, is_r, src_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_value,
      |    FIRST_VALUE(CASE WHEN is_r = 1 THEN epoch_us(ts) END IGNORE NULLS) OVER (
      |      PARTITION BY k ORDER BY ts, is_r, src_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_t,
      |    LAST_VALUE(price IGNORE NULLS) OVER (
      |      PARTITION BY k ORDER BY ts, is_r DESC, src_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_value,
      |    LAST_VALUE(CASE WHEN is_r = 1 THEN epoch_us(ts) END IGNORE NULLS) OVER (
      |      PARTITION BY k ORDER BY ts, is_r DESC, src_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_t
      |  FROM tagged)
      |SELECT k AS user_id, src_id AS event_id, fwd_value,
      |  CASE WHEN back_t IS NOT NULL AND (fwd_t IS NULL OR epoch_us(ts) - back_t <= fwd_t - epoch_us(ts))
      |         THEN back_value
      |       WHEN fwd_t IS NOT NULL THEN fwd_value
      |       ELSE NULL END AS near_value
      |FROM tl WHERE is_r = 0 ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q99
  /** FILE-LEVEL LINEAGE via the `_metadata` hidden struct — the source
    * feature incident attribution at scale runs on ("which files fed
    * the bad rows?"): rows of a hive-partitioned export are grouped by
    * the physical file that produced them, using `_metadata.file_path`
    * (no column materialized in the data; the scan synthesizes it).
    * The export writes one file per bucket directory (repartition by
    * the partition column before write), so per-file row counts are
    * deterministic and the audit doubles as a write-layout check —
    * n_files > 1 in any bucket means the export's task layout drifted.
    *
    * Oracle: DuckDB's filename=true scan over the same directory — two
    * engines agreeing on per-file lineage of the same bytes.
    */
  def q99FileLineage(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Sidecars.path(dir, "q99_files")
    Tables.spread(Tables.documents(s, dir))
      .withColumn("bucket", col("doc_id") % 4)
      .repartition(4, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(root)
    s.read.parquet(root)
      .select(col("doc_id"), col("_metadata.file_path").as("fp"))
      .withColumn("bucket_dir", regexp_extract(col("fp"), "bucket=(\\d+)", 1).cast("long"))
      .groupBy(col("bucket_dir"))
      .agg(countDistinct(col("fp")).as("n_files"), count(lit(1)).as("n_rows"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("bucket_dir"))
  }

  /** The filename=true scan over the export q99 itself wrote. */
  def q99Sql: String =
    s"""SELECT CAST(regexp_extract(filename, 'bucket=(\\d+)', 1) AS BIGINT) AS bucket_dir,
       |  COUNT(DISTINCT filename) AS n_files, COUNT(*) AS n_rows,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |FROM read_parquet('${graft.Sidecars.oraclePath("q99_files")}/*/*.parquet', filename=true)
       |GROUP BY 1 ORDER BY bucket_dir""".stripMargin

  // --------------------------------------------------------------- q100
  /** ROLLING 7-day distinct users per day — the windowed companion to
    * q96's cumulative rewrite, and like it, a query Spark/most engines
    * cannot express directly (`COUNT(DISTINCT) OVER (RANGE 7 days)` is
    * unsupported): the scale-correct rewrite dedups to (user, day)
    * pairs first (bounded by users x days), fans each pair out to the
    * <= 7 report days whose trailing window covers it (a constant-size
    * Generate, not a join), and dedups again per (report day, user) —
    * every aggregation keyed and map-side combined, state bounded by
    * the pair sets, never by raw events. Report days are restricted to
    * the fully-covered region (day >= min_day + 6) so the published
    * curve has no ramp-up artifact.
    */
  def q100RollingDistinct(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val bounds = days.agg(min(col("day")).as("min_day"), max(col("day")).as("max_day"))
    val covered = days
      .select(col("user_id"), explode(expr(
        "transform(sequence(0, 6), i -> date_add(day, i))")).as("report_day"))
      .distinct()
    covered
      .crossJoin(broadcast(bounds))
      .filter(col("report_day") >= date_add(col("min_day"), 6) &&
        col("report_day") <= col("max_day"))
      .groupBy(col("report_day"))
      .agg(count(lit(1)).as("active_users_7d"))
      .orderBy(col("report_day"))
  }

  /** The identical pair-dedup + 7-day fan-out + re-dedup rewrite. */
  val q100Sql: String =
    """WITH pairs AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |bounds AS (SELECT MIN(day) AS min_day, MAX(day) AS max_day FROM pairs),
      |covered AS (
      |  SELECT DISTINCT user_id, day + CAST(g.i AS INTEGER) AS report_day
      |  FROM pairs, unnest(generate_series(0, 6)) AS g(i))
      |SELECT report_day, COUNT(*) AS active_users_7d
      |FROM covered CROSS JOIN bounds
      |WHERE report_day >= min_day + 6 AND report_day <= max_day
      |GROUP BY report_day ORDER BY report_day""".stripMargin

  // ---------------------------------------------------------------- q101
  /** Spark 4 SQL PIPE syntax (`|>` operator chaining, SPARK-49555 /
    * the ZetaSQL pipe-query surface): the pricing-summary rollup
    * written as a linear FROM -> WHERE -> AGGREGATE -> ORDER BY chain
    * instead of nested SELECT — each `|>` stage consumes the previous
    * stage's table. Semantically identical to the classic spelling, so
    * the oracle IS the classic spelling: the hash-match pins that the
    * pipe parser lands on the same plan, not a lookalike. Decimal-
    * routed SUM keeps the double deterministic cross-engine
    * (Tables.dsum's arithmetic, spelled in SQL).
    *
    * Scale: identical plan to q01's family — pushed filter, partial +
    * final aggregate, tiny ordered result.
    */
  def q101PipeSyntax(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_q101")
    s.sql(
      """FROM lineitem_q101
        ||> WHERE l_shipdate <= DATE '1998-09-01'
        ||> AGGREGATE COUNT(*) AS n_rows,
        |     CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
        |     CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
        |   GROUP BY l_returnflag, l_linestatus
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** The classic nested spelling — the equivalence IS the contract. */
  val q101Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE l_shipdate <= DATE '1998-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q102
  /** PARAMETERIZED SQL (named parameter markers, SPARK-44066): the
    * statement text carries `:minv` / `:cutoff` placeholders and the
    * values bind through the sql(text, args) API — the
    * injection-safe/plan-cache-friendly spelling every templated
    * production query should use instead of string interpolation. The
    * oracle is the literal-inlined spelling, so the hash pins that
    * binding is semantically identical to inlining (timestamp param
    * binds as a typed literal, not a string comparison). Decimal-routed
    * SUM per the determinism contract.
    */
  def q102ParameterizedSql(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("events_q102")
    s.sql(
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
        |FROM events_q102
        |WHERE value >= :minv AND ts < CAST(:cutoff AS TIMESTAMP)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
      Map("minv" -> 50.0, "cutoff" -> "2024-01-20 00:00:00"))
  }

  /** The literal-inlined spelling — binding == inlining is the contract. */
  val q102Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM events
      |WHERE value >= 50.0 AND ts < TIMESTAMP '2024-01-20 00:00:00'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q103
  /** SQL-language scalar function (Spark 4 `CREATE FUNCTION ... RETURNS
    * ... RETURN expr`, SPARK-51336 surface): the reusable-logic story
    * WITHOUT the UDF tax — unlike a Scala/Python UDF, a SQL function's
    * body is INLINED into the plan at analysis time, so it stays inside
    * whole-stage codegen, remains pushdown-transparent, and costs
    * nothing at 100 TB (Round8OpsSpec pins plan-equality with the
    * hand-inlined spelling; the EXPLAIN shows the expression, not a
    * black-box call). The function here is a tokens-per-kilochar
    * density band (exact integer arithmetic — nonneg `div` matches
    * DuckDB `//`), used in BOTH projection and predicate position.
    */
  def q103SqlUdf(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("documents_q103")
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_density(t STRING)
        |RETURNS BIGINT
        |RETURN CAST(size(split(t, ' ')) * 1000 DIV length(t) AS BIGINT)""".stripMargin)
    s.sql(
      """SELECT source, graft_density(text) AS band, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents_q103
        |WHERE graft_density(text) >= 183
        |GROUP BY source, band
        |ORDER BY source, band""".stripMargin)
  }

  /** DuckDB restatement: the function body inlined by hand. */
  val q103Sql: String =
    """WITH d AS (
      |  SELECT source, len(string_split(text, ' ')) * 1000 // length(text) AS band, n_chars
      |  FROM documents)
      |SELECT source, CAST(band AS BIGINT) AS band, COUNT(*) AS n,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars
      |FROM d WHERE band >= 183
      |GROUP BY source, band ORDER BY source, band""".stripMargin

  // ---------------------------------------------------------------- q104
  /** SQL TABLE function + LATERAL correlation (Spark 4
    * `CREATE FUNCTION ... RETURNS TABLE`): per-group top-k as a named,
    * parameterized, reusable relation — `LATERAL top_docs(s.source, 3)`
    * invokes the function once per outer row with that row's column as
    * the argument. The body ranks with a row_number window rather than
    * `LIMIT k` (a correlated limit is rejected as unfoldable — the
    * window filter is the correlation-safe spelling). Catalyst
    * decorrelates the lateral join into the usual partitioned-window
    * shape, so scale behavior is q15's top-n family, not
    * once-per-source replanning. Ties broken by doc_id; row_number cast
    * to INT on both sides.
    */
  def q104SqlTableFunction(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("documents_q104")
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_top_docs(src STRING, k INT)
        |RETURNS TABLE(doc_id BIGINT, len INT, rk INT)
        |RETURN SELECT doc_id, len, rk FROM (
        |  SELECT doc_id, length(text) AS len,
        |    CAST(row_number() OVER (ORDER BY length(text) DESC, doc_id) AS INT) AS rk
        |  FROM documents_q104 WHERE source = src)
        |WHERE rk <= k""".stripMargin)
    s.sql(
      """SELECT s.source, t.doc_id, t.len, t.rk
        |FROM (SELECT DISTINCT source FROM documents_q104) s,
        |  LATERAL graft_top_docs(s.source, 3) t
        |ORDER BY s.source, t.rk""".stripMargin)
  }

  /** DuckDB restatement: the decorrelated partitioned-window form. */
  val q104Sql: String =
    """SELECT source, doc_id, CAST(len AS INT) AS len, CAST(rk AS INT) AS rk FROM (
      |  SELECT source, doc_id, length(text) AS len,
      |    row_number() OVER (PARTITION BY source ORDER BY length(text) DESC, doc_id) AS rk
      |  FROM documents) t
      |WHERE rk <= 3 ORDER BY source, rk""".stripMargin

  // ------------------------------------------------------------------
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q103_sql_udf" -> (q103SqlUdf _),
    "q104_sql_table_function" -> (q104SqlTableFunction _),
    "q102_parameterized_sql" -> (q102ParameterizedSql _),
    "q101_pipe_syntax" -> (q101PipeSyntax _),
    "q100_rolling_distinct" -> (q100RollingDistinct _),
    "q99_file_lineage" -> (q99FileLineage _),
    "q98_asof_directions" -> (q98AsofDirections _),
    "q97_collated_group" -> (q97CollatedGroup _),
    "q96_cumulative_distinct" -> (q96CumulativeDistinct _),
    "q95_pattern_match" -> (q95PatternMatch _),
    "q94_zorder_layout" -> (q94ZorderLayout _),
    "q93_interval_join" -> (q93IntervalJoin _),
    "q91_pivot" -> (q91Pivot _),
    "q92_unpivot" -> (q92Unpivot _),
    "q90_funnel" -> (q90Funnel _),
    "q89_group_by_all" -> (q89GroupByAll _),
    "q88_pagination" -> (q88Pagination _),
    "q87_bitmap_distinct" -> (q87BitmapDistinct _),
    "q86_hll_sketch" -> (q86HllSketch _),
    "q85_within_group" -> (q85WithinGroup _),
    "q84_interval_frame" -> (q84IntervalFrame _),
    "q83_argmax" -> (q83Argmax _),
    "q80_regr_agg" -> (q80RegrAgg _),
    "q81_bit_agg" -> (q81BitAgg _),
    "q82_bool_agg" -> (q82BoolAgg _),
    "q77_bag_set_ops" -> (q77BagSetOps _),
    "q78_nulls_ordering" -> (q78NullsOrdering _),
    "q79_recursive_cte" -> (q79RecursiveCte _),
    "q76_gap_fill" -> (q76GapFill _),
    "q75_variant_extract" -> (q75VariantExtract _),
    "q71_ntile_ranks" -> (q71NtileRanks _),
    "q72_exists_subquery" -> (q72ExistsSubquery _),
    "q73_lateral_topn" -> (q73LateralTopn _),
    "q74_listagg" -> (q74Listagg _),
    "q70_partition_pruning" -> (q70PartitionPruning _),
    "q68_moving_average" -> (q68MovingAverage _),
    "q69_ratio_to_total" -> (q69RatioToTotal _),
    "q67_nested_structs" -> (q67NestedStructs _),
    "q65_range_join" -> (q65RangeJoin _),
    "q66_corr_matrix" -> (q66CorrMatrix _),
    "q63_date_arith" -> (q63DateArith _),
    "q64_explode_outer" -> (q64ExplodeOuter _),
    "q62_typed_aggregator" -> (q62TypedAggregator _),
    "q61_asof_native" -> (q61AsofNative _),
    "q60_try_arithmetic" -> (q60TryArithmetic _),
    "q56_map_functions" -> (q56MapFunctions _),
    "q57_calendar_join" -> (q57CalendarJoin _),
    "q58_supplier_parts" -> (q58SupplierParts _),
    "q59_approx_percentiles" -> (q59ApproxPercentiles _),
    "q55_topk_native" -> (q55TopKNative _),
    "q45_explode_bigrams" -> (q45ExplodeBigrams _),
    "q46_full_outer_join" -> (q46FullOuterJoin _),
    "q47_first_last_nth" -> (q47FirstLastNth _),
    "q48_range_frame" -> (q48RangeFrame _),
    "q49_large_orders" -> (q49LargeOrders _),
    "q50_higher_order_arrays" -> (q50HigherOrderArrays _),
    "q51_median_mode" -> (q51MedianMode _),
    "q52_stratified_sample" -> (q52StratifiedSample _),
    "q53_null_semantics" -> (q53NullSemantics _),
    "q54_union_by_name" -> (q54UnionByName _))

  // def, not val: q99Sql embeds the Sidecars.oracleDir-keyed export path
  // Verify pins at runtime before dumping oracle_sql.json
  def oracle: Map[String, String] = Map(
    "q103_sql_udf" -> q103Sql,
    "q104_sql_table_function" -> q104Sql,
    "q102_parameterized_sql" -> q102Sql,
    "q101_pipe_syntax" -> q101Sql,
    "q100_rolling_distinct" -> q100Sql,
    "q99_file_lineage" -> q99Sql,
    "q98_asof_directions" -> q98Sql,
    "q97_collated_group" -> q97Sql,
    "q96_cumulative_distinct" -> q96Sql,
    "q95_pattern_match" -> q95Sql,
    "q94_zorder_layout" -> q94Sql,
    "q93_interval_join" -> q93Sql,
    "q91_pivot" -> q91Sql,
    "q92_unpivot" -> q92Sql,
    "q90_funnel" -> q90Sql,
    "q89_group_by_all" -> q89Sql,
    "q88_pagination" -> q88Sql,
    "q87_bitmap_distinct" -> q87Sql,
    "q86_hll_sketch" -> q86Sql,
    "q85_within_group" -> q85Sql,
    "q84_interval_frame" -> q84Sql,
    "q83_argmax" -> q83Sql,
    "q80_regr_agg" -> q80Sql,
    "q81_bit_agg" -> q81Sql,
    "q82_bool_agg" -> q82Sql,
    "q77_bag_set_ops" -> q77Sql,
    "q78_nulls_ordering" -> q78Sql,
    "q79_recursive_cte" -> q79Sql,
    "q76_gap_fill" -> q76Sql,
    "q75_variant_extract" -> q75Sql,
    "q71_ntile_ranks" -> q71Sql,
    "q72_exists_subquery" -> q72Sql,
    "q73_lateral_topn" -> q73Sql,
    "q74_listagg" -> q74Sql,
    "q70_partition_pruning" -> q70Sql,
    "q55_topk_native" -> q55Sql,
    "q59_approx_percentiles" -> q59Sql,
    "q60_try_arithmetic" -> q60Sql,
    "q61_asof_native" -> q61Sql,
    "q62_typed_aggregator" -> q62Sql,
    "q63_date_arith" -> q63Sql,
    "q64_explode_outer" -> q64Sql,
    "q65_range_join" -> q65Sql,
    "q66_corr_matrix" -> q66Sql,
    "q67_nested_structs" -> q67Sql,
    "q68_moving_average" -> q68Sql,
    "q69_ratio_to_total" -> q69Sql,
    "q56_map_functions" -> q56Sql,
    "q57_calendar_join" -> q57Sql,
    "q58_supplier_parts" -> q58Sql,
    "q45_explode_bigrams" -> q45Sql,
    "q46_full_outer_join" -> q46Sql,
    "q47_first_last_nth" -> q47Sql,
    "q48_range_frame" -> q48Sql,
    "q49_large_orders" -> q49Sql,
    "q50_higher_order_arrays" -> q50Sql,
    "q51_median_mode" -> q51Sql,
    "q52_stratified_sample" -> q52Sql,
    "q53_null_semantics" -> q53Sql,
    "q54_union_by_name" -> q54Sql)
}
