package perfbench

import graft.SparkEntry
import graft.etl.SteelEda
import graft.ml.{Evaluate, FeaturePipeline, Regressors}
import graft.sql.SteelSql
import org.apache.spark.sql.{DataFrame, SparkSession}

import Harness.Op

/** The workloads and their operations; the seed only orders them.
  *
  * A run must fit a small time budget (one JVM, cold start included), so
  * each workload is a fixed sample of its family that a pass covers in a
  * few seconds. Registry queries that write to a hard-coded path outside
  * the run directory are not sampled: a run writes only inside its own. */
object Workloads {

  /** `lake_stream_sf001`: lake writes (MERGE, then vacuum) beside two
    * streams run to completion (a stateless filter, a stream-static
    * enrichment join), at sf0.01. The driver-bound regime: commits,
    * metadata, micro-batches. */
  val lakeStream: Seq[String] = Seq(
    "p29_merge_into", "p39_vacuum_retention", "st05_stream_filter", "st08_stream_enrich")

  def ops(workload: String, data: String, steel: SteelState, impliedR2: Double): Seq[Op] =
    workload match {
      case "lake_stream_sf001" => lakeStream.map(registry(_, data))
      case "steel_ml" => steelOps(steel, impliedR2)
      case other => sys.error(s"unknown workload $other")
    }

  /** Untimed passes before the timed ones, the correctness pass included.
    * Measured on 4 cores (with run.py's JIT thresholds): the cold first
    * pass takes 4-5 times a warm one and the second is a tenth to a third
    * slower than the third; from the third on, each pass is at most about
    * a tenth faster than the one before, falling slowly for another twenty
    * or so passes. */
  val WarmPasses = 3

  /** The seeded order of one pass; the steel split always runs first. */
  def order(ops: Seq[Op], seed: Long, pass: Int): Seq[Op] = {
    val rnd = new scala.util.Random(seed * 1000003L + pass)
    val (head, rest) = ops.partition(_.name == "load_split")
    head ++ rnd.shuffle(rest)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def parquet(df: DataFrame, out: String, name: String, corrupt: Boolean): Unit = {
    val res = if (corrupt) df.limit(math.max(df.count() - 1, 0L).toInt) else df
    res.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
  }

  def registry(name: String, data: String): Op = {
    val fn = SparkEntry.queries(name)
    Op(name,
      run = spark => noop(Trace.span("operators.build")(fn(spark, data))),
      frames = spark => Seq(fn(spark, data)),
      dump = (spark, out, corrupt) => parquet(fn(spark, data), out, name, corrupt))
  }

  private def steelOps(st: SteelState, impliedR2: Double): Seq[Op] = {
    def renamed(spark: SparkSession) = graft.etl.SteelSchema.renamed(st.raw(spark))
    // The notebook's EDA and SQL section as one operation: five small
    // aggregates, each alone too short to time steadily.
    val queries: Seq[(String, SparkSession => DataFrame)] = Seq(
      "eda_count_by_load_type" -> (s => SteelEda.countBy(renamed(s), "Load_Type")),
      "eda_avg_usage_by_day" -> (s => SteelEda.avgUsageBy(renamed(s), "Day_of_week")),
      "eda_corr_co2_usage" -> (s => SteelEda.corrCo2Usage(st.raw(s))),
      "sql_sum_usage_by_load_type" -> (s => SteelSql.sumBy(s, "Load_Type", "Usage_kWh", "sum_usage")),
      "sql_histogram_usage" -> (s => SteelSql.histogram(s, "Usage_kWh")))
    val eda = Op("eda_sql",
      run = spark => {
        st.requireSplit()
        Trace.span("ml.eda_sql")(queries.foreach { case (_, q) => noop(q(spark)) })
      },
      frames = spark => queries.map(_._2(spark)),
      dump = (spark, out, corrupt) => queries.zipWithIndex.foreach { case ((n, q), i) =>
        parquet(q(spark), out, n, corrupt && i == 0)
      })
    val loadSplit = Op("load_split",
      run = spark => Trace.span("ml.load_split")(st.loadSplit(spark)),
      frames = _ => Nil,
      dump = (spark, _, _) => st.loadSplit(spark))
    // LinearRegression only: its R2 is known from the generator, so it
    // anchors the check. The other seven families and the DecisionTree
    // 3-fold CV are left out: the DecisionTree fit alone takes about 3 s
    // warm on 4 cores, and one CV grid point about 10 s, which a run
    // cannot spend.
    def fit(corrupt: Boolean): Unit = {
      st.requireSplit()
      val model = Trace.span("ml.fit")(FeaturePipeline.pipeline(Regressors.linearRegression()).fit(st.train))
      val m = Trace.span("ml.eval")(Evaluate.metrics(model.transform(st.test)))
      st.check("LinearRegression", m.r2 + (if (corrupt) 1.0 else 0.0), impliedR2)
    }
    val lr = Op("fit_LinearRegression", run = _ => fit(false), frames = _ => Nil,
      dump = (_, _, corrupt) => fit(corrupt))
    Seq(loadSplit, eda, lr)
  }
}
