package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark's public listener events during the traced phase. Events
  * arrive on the listener bus thread; each carries a wall-clock time that
  * `Layers` uses to attribute it to the operation whose window holds it. */
final class Listeners {
  import Listeners._

  val jobs = new ConcurrentLinkedQueue[Job]
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  val stages = new ConcurrentLinkedQueue[Long]
  val tasks = new ConcurrentLinkedQueue[Task]
  val qes = new ConcurrentLinkedQueue[Qe]
  val batches = new ConcurrentLinkedQueue[Batch]

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(Job(e.jobId, e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime))
    }
  }

  val query: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0L)
  }

  val stream: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli, p.batchDuration,
        p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum, p.runId.toString))
    }
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(name: String): Long = ph.get(name).map(_.durationMs).getOrElse(0L)
    val spans = ph.values.map(p => (p.startTimeMs, p.endTimeMs)).toSeq
    val start = if (spans.isEmpty) System.currentTimeMillis() else spans.map(_._1).min
    qes.add(Qe(start, ms(QueryPlanningTracker.ANALYSIS), ms(QueryPlanningTracker.OPTIMIZATION),
      ms(QueryPlanningTracker.PLANNING), spans, durationNs, Listeners.isLakeWrite(qe.logical)))
  }

  def unregister(s: SparkSession): Unit = {
    s.sparkContext.removeSparkListener(spark)
    s.listenerManager.unregister(query)
    s.streams.removeListener(stream)
  }

  def jobSpans: Seq[(Int, Long, Long)] =
    jobs.asScala.toSeq.map(j => (j.id, j.startMs, Option(jobEnds.get(j.id)).getOrElse(j.startMs)))
}

object Listeners {
  final case class Job(id: Int, startMs: Long)
  final case class Task(finishMs: Long, runMs: Long, cpuNs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, gcMs: Long)
  final case class Qe(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long,
      phases: Seq[(Long, Long)], durationNs: Long, lakeWrite: Boolean)
  final case class Batch(startMs: Long, durationMs: Long, rowsIn: Long, stateRows: Long, runId: String)

  def register(s: SparkSession): Listeners = {
    val l = new Listeners
    s.sparkContext.addSparkListener(l.spark)
    s.listenerManager.register(l.query)
    s.streams.addListener(l.stream)
    l
  }

  /** A V2 write command (INSERT, MERGE, UPDATE, DELETE, CTAS, RTAS) into a
    * table that is not the `noop` sink the benchmark itself writes to. */
  def isLakeWrite(plan: LogicalPlan): Boolean = plan.exists {
    case w: V2WriteCommand => !isNoop(w.table)
    case _: MergeIntoTable | _: UpdateTable | _: DeleteFromTable => true
    case _: CreateTableAsSelect | _: ReplaceTableAsSelect => true
    case _ => false
  }

  private def isNoop(t: Any): Boolean = t match {
    case r: DataSourceV2Relation => r.table.getClass.getName.contains(".noop.")
    case _ => false
  }
}
