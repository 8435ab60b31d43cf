package perfbench

import scala.jdk.CollectionConverters._

/** Splits the traced operations' time and counts into layers. Each
  * listener event and each span is attributed to the operation whose
  * wall-clock window holds it; totals are then scaled to one pass
  * (operations measured / operations per pass).
  *
  * Self time partitions every operation's window by priority: time under
  * a job is `exec`, else under a planning phase `plan`, else under a
  * harness span into a layer (`operators` for the registry call, `ml`
  * for the steel calls) that layer, and the rest is `driver`. */
object Layers {
  private val layerSpans = Map(
    "operators.build" -> "operators", "ml.load_split" -> "ml", "ml.eda_sql" -> "ml",
    "ml.fit" -> "ml", "ml.eval" -> "ml")

  /** Per-pass sums, in report order. */
  val summed: Seq[String] = Seq(
    "operators.build_s", "operators.build_jobs",
    "plan.qe_count", "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.job_wall_s", "exec.task_run_s",
    "exec.task_cpu_s", "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb", "exec.gc_s",
    "driver.gap_s",
    "lake.write_cmds", "lake.write_s", "lake.commits", "lake.files_written", "lake.bytes_written_mb",
    "stream.batches", "stream.batch_s", "stream.rows_in", "stream.state_rows",
    "ml.load_split_s", "ml.eda_sql_s", "ml.fit_s", "ml.fits", "ml.eval_s",
    "operators.self_s", "ml.self_s", "plan.self_s", "exec.self_s", "driver.self_s")

  def summarize(samples: Seq[Harness.Sample], spans: Seq[Span], l: Listeners,
      lake: Seq[(Long, Long, Long)], passTimes: Seq[Double], cores: Int,
      opsPerPass: Int): String = {
    val perPass = if (samples.isEmpty) 0.0 else opsPerPass.toDouble / samples.size
    val jobs = l.jobSpans
    val tasks = l.tasks.asScala.toSeq
    val stages = l.stages.asScala.toSeq
    val qes = l.qes.asScala.toSeq
    val batches = l.batches.asScala.toSeq
    val m = scala.collection.mutable.LinkedHashMap.from(summed.map(_ -> 0.0))
    def add(k: String, v: Double): Unit = m(k) = m(k) + v

    for (s <- samples) {
      def in(t: Long): Boolean = t >= s.startMs && t <= s.endMs
      val opJobs = jobs.filter(j => in(j._2))
      val opSpans = spans.filter(sp => in(sp.startMs) && sp.endMs >= 0)
      val builds = opSpans.filter(_.name == "operators.build")
      add("operators.build_s", builds.map(b => b.endMs - b.startMs).sum / 1e3)
      add("operators.build_jobs", opJobs.count(j => builds.exists(b => j._2 >= b.startMs && j._2 <= b.endMs)))
      for ((name, _) <- layerSpans if name.startsWith("ml."))
        add(name + "_s", opSpans.filter(_.name == name).map(b => b.endMs - b.startMs).sum / 1e3)
      add("ml.fits", opSpans.count(_.name == "ml.fit"))

      val opQes = qes.filter(q => in(q.startMs))
      add("plan.qe_count", opQes.size)
      add("plan.analysis_s", opQes.map(_.analysisMs).sum / 1e3)
      add("plan.optimization_s", opQes.map(_.optimizationMs).sum / 1e3)
      add("plan.planning_s", opQes.map(_.planningMs).sum / 1e3)

      val opTasks = tasks.filter(t => in(t.finishMs))
      add("exec.jobs", opJobs.size)
      add("exec.stages", stages.count(in))
      add("exec.tasks", opTasks.size)
      add("exec.task_run_s", opTasks.map(_.runMs).sum / 1e3)
      add("exec.task_cpu_s", opTasks.map(_.cpuNs).sum / 1e9)
      add("exec.shuffle_read_mb", opTasks.map(_.shuffleRead).sum / 1048576.0)
      add("exec.shuffle_write_mb", opTasks.map(_.shuffleWrite).sum / 1048576.0)
      add("exec.spill_mb", opTasks.map(_.spill).sum / 1048576.0)
      add("exec.gc_s", opTasks.map(_.gcMs).sum / 1e3)

      // paint the window: 3 exec > 2 plan > 1 layer span > 0 driver
      val len = (s.endMs - s.startMs + 1).toInt
      val paint = new Array[Byte](len)
      def fill(a: Long, b: Long, v: Byte): Unit = {
        var i = math.max(a, s.startMs) - s.startMs
        val end = math.min(b, s.endMs) - s.startMs
        while (i < end) { if (paint(i.toInt) < v) paint(i.toInt) = v; i += 1 }
      }
      val layerOf = opSpans.flatMap(sp => layerSpans.get(sp.name)).headOption.getOrElse("operators")
      opSpans.filter(sp => layerSpans.contains(sp.name)).foreach(sp => fill(sp.startMs, sp.endMs, 1))
      opQes.flatMap(_.phases).foreach { case (a, b) => fill(a, b, 2) }
      opJobs.foreach { case (_, a, b) => fill(a, b, 3) }
      val counts = paint.groupBy(identity).map { case (k, v) => k -> v.length / 1e3 }
      add("exec.job_wall_s", counts.getOrElse(3.toByte, 0.0))
      // a job outside any phase or span is still exec: job_wall = exec self
      add("exec.self_s", counts.getOrElse(3.toByte, 0.0))
      add("plan.self_s", counts.getOrElse(2.toByte, 0.0))
      add(s"$layerOf.self_s", counts.getOrElse(1.toByte, 0.0))
      add("driver.self_s", counts.getOrElse(0.toByte, 0.0))
      add("driver.gap_s", s.seconds - counts.getOrElse(3.toByte, 0.0))

      val writes = opQes.filter(_.lakeWrite)
      add("lake.write_cmds", writes.size)
      add("lake.write_s", writes.map(_.durationNs).sum / 1e9)

      val opBatches = batches.filter(b => in(b.startMs))
      add("stream.batches", opBatches.size)
      add("stream.batch_s", opBatches.map(_.durationMs).sum / 1e3)
      add("stream.rows_in", opBatches.map(_.rowsIn).sum)
      add("stream.state_rows", opBatches.groupBy(_.runId).values.map(_.map(_.stateRows).max).sum)
    }
    for ((commits, files, bytes) <- lake) {
      add("lake.commits", commits)
      add("lake.files_written", files)
      add("lake.bytes_written_mb", bytes / 1048576.0)
    }
    val scaled = m.map { case (k, v) => k -> v * perPass }
    val passWall = if (passTimes.isEmpty) Double.NaN else median(passTimes)
    val jobsN = scaled("exec.jobs")
    val wall = scaled("exec.job_wall_s")
    val batchMs = batches.filter(b => samples.exists(s => b.startMs >= s.startMs && b.startMs <= s.endMs))
      .map(_.durationMs.toDouble)
    val derived = Seq(
      "operators.build_share" -> scaled("operators.build_s") / passWall,
      "exec.tasks_per_job" -> (if (jobsN > 0) scaled("exec.tasks") / jobsN else 0.0),
      "exec.cpu_util" -> (if (wall > 0) scaled("exec.task_cpu_s") / (wall * cores) else 0.0),
      "stream.batch_p50_ms" -> (if (batchMs.isEmpty) 0.0 else median(batchMs)))
    Json.obj((scaled.toSeq ++ derived).map { case (k, v) => k -> Json.num(v) })
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
