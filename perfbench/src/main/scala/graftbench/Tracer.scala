package graftbench

import scala.collection.mutable

import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's tracing: one `SparkListener` and one
  * `QueryExecutionListener`, registered from outside the program and only
  * while [[on]]. They add up layer counters and keep job intervals; nothing
  * inside graft is instrumented.
  *
  * Counters are cumulative; callers take [[snapshot]]s at operation
  * boundaries and difference them. */
final class Tracer(spark: SparkSession) {
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val jobStarts = mutable.HashMap.empty[Int, Long]
  /** (start ms, end ms) of every finished job, epoch clock. */
  val jobs: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  /** Jobs started per streaming query id (the job's `sql.streaming.queryId`). */
  private val jobsByStreamQuery = mutable.HashMap.empty[String, Long]
  private var active = false

  Tracer.Keys.foreach(counters(_) = 0.0)

  private def add(k: String, v: Double): Unit = synchronized {
    counters(k) = counters(k) + v
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStarts(e.jobId) = e.time
      counters("scheduler.jobs") += 1
      Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .foreach(id => jobsByStreamQuery(id) = jobsByStreamQuery.getOrElse(id, 0L) + 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("scheduler.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        counters("scheduler.tasks") += 1
        counters("executor.task_s") += m.executorRunTime / 1e3
        counters("executor.cpu_s") += m.executorCpuTime / 1e9
        counters("executor.gc_s") += m.jvmGCTime / 1e3
        counters("executor.shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
        counters("executor.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
        counters("executor.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
        counters("executor.input_mb") += m.inputMetrics.bytesRead / 1e6
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      add("catalyst.analysis_ms", ms("analysis"))
      add("catalyst.optimization_ms", ms("optimization"))
      add("catalyst.planning_ms", ms("planning"))
      Tracer.walk(qe.executedPlan) {
        case s: FileSourceScanExec =>
          val read = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          val listed = s.relation.location.inputFiles.length.toLong
          add("sources.files_read", read.toDouble)
          add("sources.files_skipped", math.max(0L, listed - read).toDouble)
          add("sources.bytes_read", s.metrics.get("filesSize").map(_.value).getOrElse(0L).toDouble)
          add("sources.bytes_stored", s.relation.location.sizeInBytes.toDouble)
        case w: DataWritingCommandExec =>
          add("sources.files_written", w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L).toDouble)
          add("sources.write_mb", w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L) / 1e6)
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def on(): Unit = synchronized {
    if (!active) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      active = true
    }
  }

  def off(): Unit = {
    drain()
    synchronized {
      if (active) {
        spark.sparkContext.removeSparkListener(sparkListener)
        spark.listenerManager.unregister(qeListener)
        active = false
      }
    }
  }

  def isOn: Boolean = synchronized(active)

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = Bus.drain(spark.sparkContext)

  /** Cumulative counters after draining the bus. */
  def snapshot(): Map[String, Double] = {
    if (isOn) drain()
    synchronized(counters.toMap)
  }

  def jobsByQuery(): Map[String, Long] = synchronized(jobsByStreamQuery.toMap)
}

object Tracer {
  val Keys: Seq[String] = Seq(
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "executor.task_s", "executor.cpu_s", "executor.gc_s",
    "executor.shuffle_read_mb", "executor.shuffle_write_mb",
    "executor.spill_mb", "executor.input_mb",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "sources.files_read", "sources.files_skipped", "sources.bytes_read",
    "sources.bytes_stored", "sources.files_written", "sources.write_mb")

  /** Visit every physical node once, through AQE wrappers, query stages,
    * command results and subqueries; reused exchanges are not revisited. */
  def walk(plan: SparkPlan)(visit: SparkPlan => Unit): Unit = plan match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(visit)
    case q: QueryStageExec => walk(q.plan)(visit)
    case c: CommandResultExec => walk(c.commandPhysicalPlan)(visit)
    case _: ReusedExchangeExec =>
    case p =>
      visit(p)
      p.children.foreach(walk(_)(visit))
      p.subqueries.foreach(walk(_)(visit))
  }
}
