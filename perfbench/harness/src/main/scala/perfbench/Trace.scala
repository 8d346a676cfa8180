package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation layer record filled by the three listeners below.
  * All times are seconds, sizes MiB. */
final class OpRecord(val op: String, val startMs: Long, val packNames: Seq[String]) {
  var buildEndMs = Long.MaxValue
  val jobStartMs = mutable.ArrayBuffer.empty[Long]
  var stages = 0L
  var tasks = 0L
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  var taskS, cpuS, gcS, peakMemMb = 0.0
  var inputRows = 0L
  var shuffleWriteMb, shuffleReadMb, fetchWaitS, spillMb = 0.0
  val stageReads = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  var analysisS, optimizationS, planningS = 0.0
  var exchanges, nodes = 0L
  var writeS = 0.0
  var rowsWritten, bytesWritten, filesWritten = 0L
  var batches = 0L
  val stateRows = mutable.Map.empty[String, Long]
  var addBatchS, commitS = 0.0
  /** pack name -> wall-clock ms when its last output table was committed */
  val packWriteEndMs = mutable.LinkedHashMap.empty[String, Long]

  /** Close the record; `wallS` is the operation's own time. */
  def row(endMs: Long, wallS: Double, buildS: Double): Seq[(String, Double)] = {
    // task-busy time inside [startMs, endMs]: the rest is driver-only time
    val spans = taskSpans.map { case (a, b) => (a max startMs, b min endMs) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    spans.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    busy += curB - curA
    val skew = if (stageReads.isEmpty) 0.0 else {
      val reads = stageReads.values.maxBy(_.sum).sorted
      val median = reads(reads.size / 2)
      if (median > 0) reads.last.toDouble / median else 0.0
    }
    var prevEnd = startMs
    val packS = packNames.map { p =>
      val end = packWriteEndMs.getOrElse(p, prevEnd)
      val s = (end - prevEnd) / 1e3
      prevEnd = end
      s"runner.pack_s.$p" -> s
    }
    Seq(
      "wall_s" -> wallS,
      "queries.build_s" -> buildS,
      "queries.build_jobs" -> jobStartMs.count(_ <= buildEndMs).toDouble,
      "plans.analysis_s" -> analysisS,
      "plans.optimization_s" -> optimizationS,
      "plans.planning_s" -> planningS,
      "plans.exchanges" -> exchanges.toDouble,
      "plans.nodes" -> nodes.toDouble,
      "sched.jobs" -> jobStartMs.size.toDouble,
      "sched.stages" -> stages.toDouble,
      "sched.tasks" -> tasks.toDouble,
      "sched.driver_only_s" -> ((wallS * 1e3 - busy) max 0.0) / 1e3,
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> cpuS,
      "exec.gc_s" -> gcS,
      "exec.peak_mem_mb" -> peakMemMb,
      "exec.input_rows" -> inputRows.toDouble,
      "shuffle.write_mb" -> shuffleWriteMb,
      "shuffle.read_mb" -> shuffleReadMb,
      "shuffle.fetch_wait_s" -> fetchWaitS,
      "shuffle.spill_mb" -> spillMb,
      "shuffle.skew" -> skew,
      "streaming.batches" -> batches.toDouble,
      "streaming.state_rows" -> stateRows.values.sum.toDouble,
      "streaming.add_batch_s" -> addBatchS,
      "streaming.commit_s" -> commitS,
      "catalog.write_s" -> writeS,
      "catalog.rows_written" -> rowsWritten.toDouble,
      "catalog.bytes_written" -> bytesWritten.toDouble,
      "catalog.files_written" -> filesWritten.toDouble) ++ packS
  }
}

/** The collector the listeners report into. The harness opens a record
  * before each traced operation and closes it after; events that arrive
  * while no record is open (untraced passes, set-up) are dropped. */
object Trace {
  @volatile private var current: Option[OpRecord] = None

  def begin(op: String, packs: Seq[String]): OpRecord = {
    val r = new OpRecord(op, System.currentTimeMillis(), packs)
    current = Some(r)
    r
  }

  def end(): Unit = current = None

  def withRecord(f: OpRecord => Unit): Unit =
    current.foreach(r => r.synchronized(f(r)))

  private val MiB = 1024.0 * 1024.0

  /** Every node of an executed plan, looking through adaptive
    * execution's wrappers and into subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  def onQuery(qe: QueryExecution, durationNs: Long): Unit = withRecord { r =>
    val phases = qe.tracker.phases
    def phase(n: String) = phases.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
    r.analysisS += phase("analysis")
    r.optimizationS += phase("optimization")
    r.planningS += phase("planning")
    val nodes = planNodes(qe.executedPlan)
    r.nodes += nodes.size
    r.exchanges += nodes.count(_.isInstanceOf[Exchange])
    val writes = nodes.collect { case w: DataWritingCommandExec => w }
    if (writes.nonEmpty) {
      r.writeS += durationNs / 1e9
      writes.foreach { w =>
        def m(k: String) = w.metrics.get(k).map(_.value).getOrElse(0L)
        r.rowsWritten += m("numOutputRows")
        r.bytesWritten += m("numOutputBytes")
        r.filesWritten += m("numFiles")
        w.cmd match {
          case c: InsertIntoHadoopFsRelationCommand =>
            val table = c.outputPath.getName
            r.packNames.find(p => table.startsWith(s"graft_${p.replace('-', '_')}_"))
              .foreach(p => r.packWriteEndMs(p) = System.currentTimeMillis())
          case _ =>
        }
      }
    }
  }

  def onTask(e: SparkListenerTaskEnd): Unit = withRecord { r =>
    r.tasks += 1
    r.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      r.taskS += m.executorRunTime / 1e3
      r.cpuS += m.executorCpuTime / 1e9
      r.gcS += m.jvmGCTime / 1e3
      r.peakMemMb = r.peakMemMb max (m.peakExecutionMemory / MiB)
      r.inputRows += m.inputMetrics.recordsRead
      r.shuffleWriteMb += m.shuffleWriteMetrics.bytesWritten / MiB
      r.shuffleReadMb += m.shuffleReadMetrics.totalBytesRead / MiB
      r.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
      r.spillMb += m.diskBytesSpilled / MiB
      if (m.shuffleReadMetrics.totalBytesRead > 0)
        r.stageReads.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.shuffleReadMetrics.totalBytesRead
    }
  }
}

/** Scheduler and executor layer: jobs, stages and task metrics. */
class TaskTrace extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    Trace.withRecord(_.jobStartMs += e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Trace.withRecord(_.stages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.onTask(e)
}

/** Plan layer: Catalyst phase times, plan shape and file writes. */
class PlanTrace extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.onQuery(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Streaming layer: micro-batches, state size and batch phase times. */
class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = Trace.withRecord { r =>
    val p = e.progress
    def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
    r.batches += 1
    r.addBatchS += d("addBatch")
    r.commitS += d("commitOffsets")
    val rows = p.stateOperators.map(_.numRowsTotal).sum
    r.stateRows(p.runId.toString) = r.stateRows.getOrElse(p.runId.toString, 0L) max rows
  }
}
