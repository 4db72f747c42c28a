package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Additive counters, one snapshot per pass; `delta` gives one pass. */
final class Counters {
  private val m = new ConcurrentHashMap[String, java.lang.Double]()
  def add(k: String, v: Double): Unit = m.merge(k, v, (a, b) => a + b)
  def snapshot(): Map[String, Double] = m.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
}

object Counters {
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}

/** Task, stage and job counts from Spark's public listener events. */
final class ExecListener(c: Counters) extends SparkListener {
  private val longestTaskMs = new ConcurrentHashMap[(Int, Int), java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = c.add("exec.jobs", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null)
      longestTaskMs.merge((e.stageId, e.stageAttemptId), e.taskInfo.duration, (a, b) => math.max(a, b))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val tm = si.taskMetrics
    c.add("exec.stages", 1)
    c.add("exec.tasks", si.numTasks)
    val longest = Option(longestTaskMs.remove((si.stageId, si.attemptNumber()))).map(_.longValue).getOrElse(0L)
    for (s <- si.submissionTime; f <- si.completionTime)
      c.add("exec.stage_wait_s", math.max(0L, f - s - longest) / 1e3)
    if (tm != null) {
      c.add("exec.task_run_s", tm.executorRunTime / 1e3)
      c.add("exec.task_cpu_s", tm.executorCpuTime / 1e9)
      c.add("exec.task_gc_s", tm.jvmGCTime / 1e3)
      c.add("exec.task_deser_s", tm.executorDeserializeTime / 1e3)
      val sr = tm.shuffleReadMetrics
      c.add("shuffle.read_bytes", sr.totalBytesRead)
      c.add("shuffle.records_read", sr.recordsRead)
      c.add("shuffle.fetch_wait_s", sr.fetchWaitTime / 1e3)
      c.add("shuffle.write_bytes", tm.shuffleWriteMetrics.bytesWritten)
      c.add("shuffle.write_s", tm.shuffleWriteMetrics.writeTime / 1e9)
      c.add("spill.memory_bytes", tm.memoryBytesSpilled)
      c.add("spill.disk_bytes", tm.diskBytesSpilled)
      c.add("scan.bytes", tm.inputMetrics.bytesRead)
      c.add("scan.records", tm.inputMetrics.recordsRead)
      c.add("sink.bytes", tm.outputMetrics.bytesWritten)
      c.add("sink.records", tm.outputMetrics.recordsWritten)
    }
  }
}

/** Catalyst phase times and a census of each executed (final AQE) plan,
  * for every SQL execution of the session: drains, memo writes, eager
  * collects inside query construction. */
final class PlanListener(c: Counters) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    for ((phase, key) <- Seq("analysis" -> "plan.analysis_ms",
        "optimization" -> "plan.optimization_ms", "planning" -> "plan.planning_ms"))
      c.add(key, phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0))
    census(qe.executedPlan)
  }

  private def census(p: SparkPlan): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => census(a.executedPlan)
      case s: QueryStageExec => census(s.plan)
      case _: ReusedExchangeExec => ()
      case _ =>
        p match {
          case _: ShuffleExchangeExec => c.add("plan.exchanges", 1)
          case _: BroadcastExchangeExec => c.add("plan.broadcast_exchanges", 1)
          case _: SortAggregateExec => c.add("plan.sort_aggregates", 1)
          case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec =>
            c.add("plan.nested_loop_joins", 1)
          case _ => ()
        }
        p.children.foreach(census)
        p.subqueries.foreach(census)
    }
  }
}

/** Micro-batch progress. The one listener the timed (untraced) runs keep:
  * it supplies the trigger times behind `batch_p50_ms`. */
final class StreamListener(c: Counters) extends StreamingQueryListener {
  /** triggerExecution of every batch, in completion order. */
  val triggerMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  private val ids = ConcurrentHashMap.newKeySet[java.util.UUID]()

  /** A start of an id already started within the current query call is
    * a restart (a drain retry); call between query calls. */
  def newQueryCall(): Unit = ids.clear()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    c.add("stream.queries_started", 1)
    if (!ids.add(e.id)) c.add("stream.restarts", 1)
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    d.get("triggerExecution").foreach { t =>
      triggerMs.add(t)
      c.add("stream.batches", 1)
      c.add("stream.trigger_s", t / 1e3)
    }
    c.add("stream.rows", p.numInputRows.toDouble)
    for ((phase, key) <- Seq("addBatch" -> "stream.add_batch_ms", "getBatch" -> "stream.get_batch_ms",
        "latestOffset" -> "stream.latest_offset_ms", "queryPlanning" -> "stream.query_planning_ms",
        "walCommit" -> "stream.wal_commit_ms", "commitOffsets" -> "stream.commit_offsets_ms"))
      c.add(key, d.getOrElse(phase, 0L).toDouble)
    p.stateOperators.foreach { s =>
      c.add("stream.state_commit_ms", s.commitTimeMs.toDouble)
      c.add("stream.state_rows", s.numRowsTotal.toDouble)
      c.add("stream.state_bytes", s.memoryUsedBytes.toDouble)
    }
  }

  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Scratch-tree helpers: cleanup and the outside view of `SessionMemo`. */
object Files {
  def remove(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(remove))
    f.delete()
  }

  def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
    else f.length()

  /** Memo artifacts: `memo/<session tag>/<kind>/<data dir key>`. */
  def memoDirs(root: java.io.File): Seq[java.io.File] = {
    def sub(f: java.io.File) = Option(f.listFiles()).map(_.toSeq.filter(_.isDirectory)).getOrElse(Nil)
    sub(new java.io.File(root, "memo")).flatMap(sub).flatMap(sub)
  }
}
