package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.{GraftSession, SparkEntry}
import graft.etl.SteelSchema
import graft.sql.SteelSql
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: a single client drives one workload in a
  * closed loop on a `GraftSession` and writes the raw samples as JSON;
  * `run.py` turns them into metrics and checks the dumped results.
  *
  * One client only: operators change session-wide conf while they run.
  * Every operation is timed to its full result (the `noop` sink, or the
  * end of a fit), never to a `count()` that Catalyst can prune.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1 --data DIR
  * --lake DIR --dump DIR --out FILE, and optionally --csv FILE
  * --implied-r2 X (steel_ml), --ops a,b,...
  * (replaces the workload's operation list; the self-test uses one) and
  * --corrupt 1 (alters the first operation's checked result, so the
  * self-test can prove that the correctness check catches a wrong answer).
  */
object Harness {

  /** One timed operation. `run` returns once its full results exist;
    * `frames` rebuilds those results for the traced `count()` comparison
    * (none for the split and the fits); `dump` runs the operation and
    * writes (or, for a fit, checks) its results for the correctness check. */
  final case class Op(
      name: String,
      run: SparkSession => Unit,
      frames: SparkSession => Seq[DataFrame],
      dump: (SparkSession, String, Boolean) => Unit)

  final case class Sample(
      pass: Int, op: String, traced: Boolean, startMs: Long, endMs: Long,
      seconds: Double, ok: Boolean, error: String)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val data = a("data")
    val corrupt = a.get("corrupt").contains("1")
    val cores = Runtime.getRuntime.availableProcessors()
    val t00 = System.currentTimeMillis()

    graft.sources.LakeStore.setRoot(a("lake"))
    // sidecar oracles (if any operation reads one) resolve to this run's data
    graft.Sidecars.oracleDir = data

    val steel = new SteelState(a.getOrElse("csv", ""))
    val all = Workloads.ops(workload, data, steel, a.getOrElse("implied-r2", "NaN").toDouble)
    val ops = a.get("ops").map(_.split(",").toSeq.map(n => all.find(_.name == n)
      .getOrElse(sys.error(s"unknown operation $n for $workload")))).getOrElse(all)

    // -- setup: the session is created 3 times (the median counts; the
    // timed passes use the last one) and warmed with a fixed number of
    // untimed passes. The first is each operation's first execution in the
    // run, the state the oracle describes, so it is also the correctness
    // pass: it dumps every result for run.py to check. The others run
    // until the steep part of the JIT warm-up is over (see
    // `Workloads.WarmPasses`), so the timed passes of every run start from
    // the same warm state. A count, not a time, so a slow host does not
    // leave the timed passes colder.
    val creates = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to 3) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession("perfbench", cores)
      creates += (System.nanoTime() - t0) / 1e9
    }
    val dumpErrors = ArrayBuffer.empty[(String, String)]
    val w0 = System.nanoTime()
    val warmPasses = ArrayBuffer.empty[Double]
    val first = Workloads.order(ops, seed, -1)
    val altered = first.map(_.name).find(_ != "load_split") // the split has no result to check
    first.foreach { op =>
      try op.dump(spark, a("dump"), corrupt && altered.contains(op.name))
      catch { case e: Throwable => dumpErrors += ((op.name, msg(e))) }
      finally cleanup(spark, workload)
    }
    steel.release()
    warmPasses += (System.nanoTime() - w0) / 1e9
    for (w <- 2 to Workloads.WarmPasses) {
      val p0 = System.nanoTime()
      Workloads.order(ops, seed, -w).foreach { op =>
        try op.run(spark) catch { case _: Throwable => () }
        finally cleanup(spark, workload)
      }
      steel.release()
      warmPasses += (System.nanoTime() - p0) / 1e9
    }
    val warmup = (System.nanoTime() - w0) / 1e9
    val setupEndMs = System.currentTimeMillis()
    Files.writeString(Paths.get(a("dump"), "oracle_sql.json"),
      Json.obj(SparkEntry.oracleSql.filter { case (k, _) => ops.exists(_.name == k) }
        .map { case (k, v) => k -> Json.str(v) }.toSeq))

    // -- timed passes. A traced run measures half its time untraced and
    // half traced, so the tracing overhead is read from one run.
    val samples = ArrayBuffer.empty[Sample]
    val passes = ArrayBuffer.empty[(Int, Boolean, Double)]
    val counts = ArrayBuffer.empty[(String, Double, Double)]
    val lakeWalk = new LakeWalk(graft.sources.LakeStore.root)
    val lakeDeltas = ArrayBuffer.empty[(Long, Long, Long)]
    var listeners: Option[Listeners] = None
    val phases = if (trace) Seq(false -> seconds / 2, true -> seconds / 2) else Seq(false -> seconds)
    var pass = 0
    var heapPeak = 0L
    for ((traced, budget) <- phases) {
      if (traced) {
        listeners = Some(Listeners.register(spark))
        Trace.on = true
        lakeWalk.delta()
      }
      // Whole passes only, so every run measures the same operation mix:
      // the first pass always, then another while it should end in time.
      val deadline = System.nanoTime() + (budget * 1e9).toLong
      var last = 0L
      while (last == 0L || System.nanoTime() + last <= deadline) {
        val p0 = System.nanoTime()
        val order = Workloads.order(ops, seed, pass)
        val mine = ArrayBuffer.empty[Sample]
        for (op <- order) {
          val s = timeOp(spark, op, workload, pass, traced)
          mine += s
          if (traced) {
            lakeDeltas += lakeWalk.delta()
            val t0 = System.nanoTime()
            val counted = try op.frames(spark).map(_.count()).nonEmpty catch { case _: Throwable => true }
            cleanup(spark, workload)
            if (counted) counts += ((op.name, s.seconds, (System.nanoTime() - t0) / 1e9))
            lakeWalk.delta() // what the count() calls wrote is no operation's
          }
        }
        steel.release()
        heapPeak = math.max(heapPeak, liveHeap())
        samples ++= mine
        passes += ((pass, traced, mine.map(_.seconds).sum))
        last = System.nanoTime() - p0
        pass += 1
      }
      Trace.on = false
      listeners.foreach(_.unregister(spark))
    }
    val versions = Seq("java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version))
    spark.stop() // drains the listener bus: every event has been delivered

    val out = ArrayBuffer[(String, String)](
      "workload" -> Json.str(workload), "cores" -> cores.toString,
      "ops_per_pass" -> ops.size.toString,
      "create_s" -> Json.arr(creates.map(Json.num).toSeq),
      "warmup_s" -> Json.num(warmup),
      "warm_passes_s" -> Json.arr(warmPasses.map(Json.num).toSeq),
      "samples" -> Json.arr(samples.map(s => Json.obj(Seq(
        "pass" -> s.pass.toString, "op" -> Json.str(s.op), "traced" -> s.traced.toString,
        "s" -> Json.num(s.seconds), "ok" -> s.ok.toString, "error" -> Json.str(s.error)))).toSeq),
      "passes" -> Json.arr(passes.map { case (p, t, s) =>
        Json.obj(Seq("pass" -> p.toString, "traced" -> t.toString, "s" -> Json.num(s))) }.toSeq),
      "heap_peak_mb" -> Json.num(heapPeak / 1048576.0),
      "dump_errors" -> Json.arr(dumpErrors.map { case (n, e) => Json.arr(Seq(Json.str(n), Json.str(e))) }.toSeq),
      "ml_checks" -> Json.arr(steel.checks.map { case (n, r2) => Json.arr(Seq(Json.str(n), Json.num(r2))) }.toSeq),
      "versions" -> Json.obj(versions),
      "phases_s" -> Json.obj(Seq(
        "jvm_to_setup" -> Json.num((t00 - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3),
        "setups" -> Json.num((setupEndMs - t00) / 1e3),
        "timed" -> Json.num((System.currentTimeMillis() - setupEndMs) / 1e3))))
    listeners.foreach { l =>
      out += "layers" -> Layers.summarize(samples.filter(_.traced).toSeq, Trace.spans.toSeq, l,
        lakeDeltas.toSeq, passes.filter(_._2).map(_._3).toSeq, cores, ops.size)
      out += "spans" -> Json.arr(Trace.spans.toSeq.map(sp => Json.arr(Seq(
        Json.str(sp.name), sp.parent.toString, sp.startMs.toString, sp.endMs.toString))))
      out += "counts" -> Json.arr(counts.map { case (n, noop, cnt) =>
        Json.obj(Seq("op" -> Json.str(n), "noop_s" -> Json.num(noop), "count_s" -> Json.num(cnt))) }.toSeq)
    }
    Files.writeString(Paths.get(a("out")), Json.obj(out.toSeq))
  }

  def msg(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(400)

  /** Per-operation housekeeping, outside the timed window: registry
    * operations may leave cached intermediates behind, the steel
    * operations share the cached split until the pass ends. */
  def cleanup(spark: SparkSession, workload: String): Unit =
    if (workload != "steel_ml") spark.catalog.clearCache()

  private def timeOp(spark: SparkSession, op: Op, workload: String,
      pass: Int, traced: Boolean): Sample = {
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val err =
      try { Trace.span("op:" + op.name)(op.run(spark)); "" }
      catch { case e: Throwable => msg(e) }
    val t1 = System.nanoTime()
    val ms1 = System.currentTimeMillis()
    cleanup(spark, workload)
    Sample(pass, op.name, traced, ms0, ms1, (t1 - t0) / 1e9, err.isEmpty, err)
  }

  /** Live heap after a full collection, taken when a pass ends (outside
    * every timed window). Reading the heap between collections would
    * mostly read garbage, up to -Xmx; this reads what the session keeps. */
  def liveHeap(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** The files the lake root gained since the last call: new `_log`
    * entries (commits), and new or rewritten data files with their bytes. */
  final class LakeWalk(root: String) {
    private var seen = Map.empty[String, (Long, Long)]
    def delta(): (Long, Long, Long) = {
      val now = scala.collection.mutable.Map.empty[String, (Long, Long)]
      def walk(f: File): Unit =
        Option(f.listFiles()).getOrElse(Array.empty[File]).foreach { c =>
          if (c.isDirectory) walk(c) else now(c.getPath) = (c.length(), c.lastModified())
        }
      walk(new File(root))
      val fresh = now.filter { case (p, v) => !seen.get(p).contains(v) && !p.endsWith(".crc") }
      seen = now.toMap
      val (log, files) = fresh.partition { case (p, _) => p.contains("/_log/") }
      (log.size.toLong, files.size.toLong, files.values.map(_._1).sum)
    }
  }
}

/** The spans the benchmark records around its calls into each layer,
  * kept in memory. Off outside the traced phase: `span` is then the call. */
final case class Span(name: String, parent: Int, startMs: Long, endMs: Long)

object Trace {
  @volatile var on = false
  val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = spans.size
      spans += Span(name, stack.head, System.currentTimeMillis(), -1L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endMs = System.currentTimeMillis())
      }
    }
}

/** The steel workload's shared state: the 75/25 split, cached while a
  * pass runs, and the R2 of every evaluated fit for the correctness check. */
final class SteelState(val csv: String) {
  var train: DataFrame = _
  var test: DataFrame = _
  val checks = ArrayBuffer.empty[(String, Double)]

  def raw(spark: SparkSession): DataFrame = SteelSchema.load(spark, csv)

  def loadSplit(spark: SparkSession): Unit = {
    release()
    val Array(tr, te) = SteelSchema.renamed(raw(spark)).randomSplit(Array(0.75, 0.25), seed = 64)
    tr.cache(); te.cache()
    tr.count(); te.count()
    train = tr; test = te
    SteelSql.registerView(raw(spark))
  }

  def release(): Unit = {
    if (train != null) { train.unpersist(); test.unpersist() }
    train = null; test = null
  }

  def requireSplit(): Unit =
    require(train != null, "load_split has not run in this pass")

  /** The test R2 must match the R2 the generator's linear model implies
    * (a 25% test split of 35,040 rows keeps the sampling error well inside
    * the tolerance); a NaN fails the comparison too. */
  def check(name: String, r2: Double, implied: Double): Unit = {
    checks += ((name, r2))
    if (!(math.abs(r2 - implied) <= SteelState.R2Tolerance))
      throw new IllegalStateException(f"wrong answer: $name test R2 $r2%.5f, implied $implied%.5f")
  }
}

object SteelState {
  val R2Tolerance = 0.01
}
