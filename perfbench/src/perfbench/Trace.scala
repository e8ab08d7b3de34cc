package perfbench

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Where the harness is: the local property it sets on its own thread
  * before each call into the library, read back from each job's start
  * event. A job that arrives without it was submitted from a thread the
  * harness did not label. */
object Span {
  val Key = "perfbench.span"
  def set(spark: SparkSession, id: String): Unit = spark.sparkContext.setLocalProperty(Key, id)
  def clear(spark: SparkSession): Unit = spark.sparkContext.setLocalProperty(Key, null)
}

/** Records Spark's job, stage and task events while attached. */
final class TraceListener(rec: Recorder) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    rec.emit("job_start", "job" -> e.jobId, "t" -> e.time.toDouble, "stages" -> e.stageIds,
      "span" -> prop(Span.Key), "stream_query" -> prop("sql.streaming.queryId"))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    rec.emit("job_end", "job" -> e.jobId, "t" -> e.time.toDouble, "ok" -> (e.jobResult == JobSucceeded))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    rec.emit("stage", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "submit" -> s.submissionTime.map(_.toDouble), "complete" -> s.completionTime.map(_.toDouble),
      "tasks" -> s.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def metric(f: org.apache.spark.executor.TaskMetrics => Double) = m.map(f).getOrElse(0.0)
    rec.emit("task", "stage" -> e.stageId, "launch" -> i.launchTime.toDouble,
      "finish" -> i.finishTime.toDouble, "ok" -> i.successful,
      "cpu_ms" -> metric(_.executorCpuTime / 1e6), "gc_ms" -> metric(_.jvmGCTime.toDouble),
      "in_bytes" -> metric(_.inputMetrics.bytesRead.toDouble),
      "in_rec" -> metric(_.inputMetrics.recordsRead.toDouble),
      "sw_bytes" -> metric(_.shuffleWriteMetrics.bytesWritten.toDouble),
      "sr_bytes" -> metric(_.shuffleReadMetrics.totalBytesRead.toDouble),
      "fetch_wait_ms" -> metric(_.shuffleReadMetrics.fetchWaitTime.toDouble),
      "spill_bytes" -> metric(m => (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble))
  }
}

/** Keeps the plan counts of the last query execution Spark reports. */
final class PlanListener extends QueryExecutionListener {
  @volatile var last: Option[Seq[(String, Any)]] = None
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    last = Some(PlanStats.count(qe.executedPlan))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PlanStats {
  /** Every node of an executed plan, through AQE's final plan, its query
    * stages and subqueries; a reused exchange is counted once as reused,
    * not again as the exchange it points at. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case x => x +: (x.children ++ x.subqueries).flatMap(nodes)
  }

  def count(p: SparkPlan): Seq[(String, Any)] = {
    val ns = nodes(p)
    Seq(
      "exchanges" -> ns.count(_.isInstanceOf[ShuffleExchangeLike]),
      "broadcasts" -> ns.count(_.isInstanceOf[BroadcastExchangeLike]),
      "reused_exchanges" -> ns.count(_.isInstanceOf[ReusedExchangeExec]),
      "scan_nodes" -> ns.count(n => n.isInstanceOf[FileSourceScanExec] || n.isInstanceOf[BatchScanExec]))
  }
}

object Tracer {
  /** Passes of a traced run alternate untraced and traced, untraced
    * first; two passes keep a traced run inside the per-run time limit. */
  def traced(trace: Boolean, pass: Int): Boolean = trace && pass % 2 == 1
  val MinTracedRunPasses = 2
}

/** Attaches and detaches the listeners around a traced pass. */
final class Tracer(rec: Recorder) {
  private var spark: SparkSession = _
  private val jobs = new TraceListener(rec)
  val plans = new PlanListener

  def attach(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(jobs)
    s.listenerManager.register(plans)
  }

  def drain(): Unit = if (spark != null) ListenerBusDrain(spark.sparkContext)

  def detach(): Unit = if (spark != null) {
    drain()
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    spark = null
  }
}
