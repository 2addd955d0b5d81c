package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts of the node kinds a final (adaptive) physical plan holds,
  * subqueries and query stages included; a reused exchange counts once as
  * reused and its original is not visited again.
  */
object PlanCounts extends AdaptiveSparkPlanHelper {
  val Kinds = Seq("exchanges", "broadcasts", "reused_exchanges", "sorts", "windows")

  def apply(plan: SparkPlan): Map[String, Long] = {
    val kinds = collectWithSubqueries(plan) {
      case _: ShuffleExchangeLike => "exchanges"
      case _: BroadcastExchangeLike => "broadcasts"
      case _: ReusedExchangeExec => "reused_exchanges"
      case _: SortExec => "sorts"
      case _: WindowExec => "windows"
    }
    Kinds.map(k => k -> kinds.count(_ == k).toLong).toMap
  }
}

/** The traced run's listeners: a SparkListener (jobs, stages, task
  * metrics), a QueryExecutionListener (Catalyst phase times and final-plan
  * node counts) and a StreamingQueryListener (per-trigger durations and
  * state), plus the count of whole-stage-codegen compilations. Everything
  * the bus delivers between [[beginOp]] and [[endOp]] belongs to that
  * operation: both calls wait until the listener bus is empty, so no event
  * of one operation can land in the next one's record.
  * The job groups seen are recorded too (the operation name for batch
  * jobs, the run id for streaming triggers).
  */
class Tracer(spark: SparkSession) {
  private val lock = new Object
  private val counts = mutable.LinkedHashMap[String, Double]()
  private val groups = mutable.LinkedHashSet[String]()
  private val stageSubmit = mutable.Map[(Int, Int), Long]()
  private var peakExecMem = 0L
  private var codegen0 = 0L
  private def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private val triggers = mutable.ArrayBuffer[Map[String, Double]]()

  private def add(k: String, v: Double): Unit =
    counts(k) = counts.getOrElse(k, 0.0) + v

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      add("operators.jobs", 1)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(groups += _)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      add("operators.stages", 1)
      val s = e.stageInfo
      stageSubmit((s.stageId, s.attemptNumber())) =
        s.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      add("operators.tasks", 1)
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach(t0 =>
        add("operators.sched_wait_ms", math.max(0L, e.taskInfo.launchTime - t0)))
      val m = e.taskMetrics
      if (m != null) {
        add("operators.task_run_ms", m.executorRunTime)
        add("operators.task_cpu_ms", m.executorCpuTime / 1e6)
        add("operators.task_gc_ms", m.jvmGCTime)
        add("operators.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("operators.shuffle_write_records", m.shuffleWriteMetrics.recordsWritten)
        add("operators.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("operators.shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("operators.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("tables.input_bytes", m.inputMetrics.bytesRead)
        add("tables.input_rows", m.inputMetrics.recordsRead)
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phase(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val nodes = PlanCounts(qe.executedPlan)
      lock.synchronized {
        add("plans.analysis_ms", phase("analysis"))
        add("plans.optimization_ms", phase("optimization"))
        add("plans.planning_ms", phase("planning"))
        nodes.foreach { case (k, v) => add(s"plans.$k", v) }
        add("plans.executions", 1)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val rec = Map(
        "trigger_ms" -> d("triggerExecution"),
        "add_batch_ms" -> d("addBatch"),
        "query_planning_ms" -> d("queryPlanning"),
        "wal_commit_ms" -> d("walCommit"),
        "commit_offsets_ms" -> d("commitOffsets"),
        "latest_offset_ms" -> d("latestOffset"),
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs.toDouble).sum,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal.toDouble).sum,
        "input_rows" -> p.numInputRows.toDouble)
      lock.synchronized(triggers += rec)
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Start a new operation record: settle and drop whatever came before. */
  def beginOp(): Unit = {
    drain()
    lock.synchronized {
      counts.clear(); groups.clear(); triggers.clear(); stageSubmit.clear()
      peakExecMem = 0L
      codegen0 = codegenCompiles
    }
  }

  /** Close the operation record: every counter, the job groups and one
    * entry per streaming trigger.
    */
  def endOp(): (Map[String, Double], Seq[String], Seq[Map[String, Double]]) = {
    drain()
    lock.synchronized {
      val c = counts.toMap + ("operators.peak_exec_mem_mb" -> peakExecMem / 1048576.0) +
        ("operators.codegen_compiles" -> (codegenCompiles - codegen0).toDouble)
      (c, groups.toSeq, triggers.toSeq)
    }
  }

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}
