package perfbench

import java.util.concurrent.TimeUnit

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The outside-in collector: one `SparkListener` for the scheduler, task
  * and shuffle counters, one `QueryExecutionListener` for planner phase
  * times and the final physical plans. Both count only work submitted
  * between [[open]] and [[close]]: jobs by the span property, SQL
  * executions by a marker query at each end (both listeners are fed in
  * posting order). Counters stay in memory and are read after [[close]].
  */
final class Collector(spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  private val nonce = java.util.UUID.randomUUID().toString
  @volatile private var sqlOn = false
  @volatile private var sqlDone = false
  @volatile private var jobsDone = false
  private val stageSpan = mutable.Map.empty[Int, String]
  private val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  def open(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    marker("start")
  }

  /** Run the end marker and wait until both listeners have seen it. */
  def close(): Unit = {
    marker("end")
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (!(sqlDone && jobsDone) && System.nanoTime() < deadline) Thread.sleep(10)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    if (!(sqlDone && jobsDone)) throw new IllegalStateException("listener events lost")
  }

  private def marker(tag: String): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Collector.SpanKey, s"marker:$tag")
    try spark.range(1).selectExpr(s"'$nonce-$tag' AS perfbench_marker").collect()
    finally sc.setLocalProperty(Collector.SpanKey, null)
  }

  /** Raw totals over everything traced. */
  def totals: Map[String, Double] = synchronized(c.toMap)

  // ---- SparkListener: scheduler, tasks, shuffle ------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties).map(_.getProperty(Collector.SpanKey)).orNull
    if (label == s"marker:end") jobsDone = true
    else if (label != null && !label.startsWith("marker:")) {
      val kind = label.takeWhile(_ != ':')
      add("jobs", 1)
      add(s"jobs.$kind", 1)
      e.stageIds.foreach(stageSpan(_) = kind)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    if (stageSpan.contains(info.stageId)) {
      add("stages", 1)
      val w = Option(info.taskMetrics).map(_.shuffleWriteMetrics)
      if (w.exists(m => m.recordsWritten > 0 || m.bytesWritten > 0)) add("shuffle_stages", 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && stageSpan.contains(e.stageId)) {
      val in = m.inputMetrics
      val rd = m.shuffleReadMetrics
      val wr = m.shuffleWriteMetrics
      add("tasks", 1)
      if (in.recordsRead == 0 && rd.recordsRead == 0 && wr.recordsWritten == 0)
        add("empty_tasks", 1)
      add("run_ms", m.executorRunTime)
      add("deser_ms", m.executorDeserializeTime)
      add("gc_ms", m.jvmGCTime)
      add("input_bytes", in.bytesRead)
      add("input_records", in.recordsRead)
      if (in.bytesRead > 0) add("scan_task_ms", m.executorRunTime)
      add("shuffle_write_bytes", wr.bytesWritten)
      add("shuffle_read_bytes", rd.totalBytesRead)
      add("fetch_wait_ms", rd.fetchWaitTime)
      add("spill_bytes", m.diskBytesSpilled)
    }
  }

  // ---- QueryExecutionListener: planner and plans -----------------------

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    observe(qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    observe(qe)

  private def observe(qe: QueryExecution): Unit = synchronized {
    val text = qe.logical.toString
    if (text.contains(s"$nonce-start")) sqlOn = true
    else if (text.contains(s"$nonce-end")) sqlDone = true
    else if (sqlOn && !sqlDone) {
      add("sql_executions", 1)
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => add(s"planner.$p", s.durationMs.toDouble))
      }
      add("fanout_exchanges", Collector.flatten(qe.executedPlan).count {
        case s: ShuffleExchangeExec =>
          s.outputPartitioning.isInstanceOf[RoundRobinPartitioning]
        case _ => false
      })
    }
  }
}

object Collector {
  /** Local property naming the span a job was submitted from. [[Run.span]]
    * sets it only while tracing, so only traced jobs carry it. */
  val SpanKey = "perfbench.span"

  /** Every node of a physical plan, through AQE stages, command wrappers
    * and subqueries; a reused exchange is not descended twice. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _: ReusedExchangeExec => Seq.empty
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    (p +: kids.flatMap(flatten)) ++ p.subqueries.flatMap(flatten)
  }
}
