package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation counters for the traced run, fed by Spark's public
  * listener interfaces: a SparkListener (jobs, stages, task metrics, file
  * writes), a QueryExecutionListener (planning phases) and a
  * StreamingQueryListener (micro-batch progress). The two SQL listeners
  * are registered through the session's static confs, so sessions the
  * program forks with `newSession()` report to them as well.
  *
  * Operations run one at a time: `begin` opens a fresh accumulator,
  * `end` drains the listener bus and renders what arrived in between. */
object Trace {
  val sessionConf: Map[String, String] = Map(
    "spark.sql.queryExecutionListeners" -> classOf[PlanTrace].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[StreamTrace].getName)

  def install(spark: SparkSession): Unit =
    spark.sparkContext.addSparkListener(new TaskTrace)

  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, inBytes, inRows = 0L
    var shWriteBytes, shReadBytes, shRecords, fetchWaitMs, spillBytes = 0L
    val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    var analysisMs, optimizationMs, planningMs = 0L
    var writeFiles, writeBytes, writeRows = 0L
    val batchMs = mutable.ArrayBuffer.empty[Long]
    var addBatchMs, walCommitMs, commitOffsetsMs, queryPlanningMs = 0L
    var stateCommitMs = 0L
    val stateRows = mutable.Map.empty[String, Long]   // last value per query run
    val stateMem = mutable.Map.empty[String, Long]    // peak per query run
  }

  @volatile private var acc = new Acc

  def update(f: Acc => Unit): Unit = synchronized(f(acc))

  def begin(): Unit = synchronized { acc = new Acc }

  /** Drain the listener bus, then render this operation's counters as
    * JSON members, with the operation's wall span and its stages' spans
    * (epoch ms), from which `stats.py` derives the time no stage ran. */
  def end(spark: SparkSession, startMs: Long, endMs: Long): String = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val a = synchronized(acc)
    val mb = 1024.0 * 1024.0
    Seq(
      "jobs" -> a.jobs.toDouble, "stages" -> a.stages.toDouble, "tasks" -> a.tasks.toDouble,
      "analysis_s" -> a.analysisMs / 1e3, "optimization_s" -> a.optimizationMs / 1e3,
      "planning_s" -> a.planningMs / 1e3,
      "input_mb" -> a.inBytes / mb, "input_rows" -> a.inRows.toDouble,
      "run_s" -> a.runMs / 1e3, "cpu_s" -> a.cpuNs / 1e9,
      "shuffle_write_mb" -> a.shWriteBytes / mb, "shuffle_read_mb" -> a.shReadBytes / mb,
      "shuffle_records" -> a.shRecords.toDouble, "fetch_wait_s" -> a.fetchWaitMs / 1e3,
      "spill_mb" -> a.spillBytes / mb,
      "write_mb" -> a.writeBytes / mb, "write_files" -> a.writeFiles.toDouble,
      "write_rows" -> a.writeRows.toDouble,
      "batches" -> a.batchMs.size.toDouble,
      "add_batch_s" -> a.addBatchMs / 1e3, "wal_commit_s" -> a.walCommitMs / 1e3,
      "commit_offsets_s" -> a.commitOffsetsMs / 1e3, "query_planning_s" -> a.queryPlanningMs / 1e3,
      "state_rows" -> a.stateRows.values.sum.toDouble, "state_commit_s" -> a.stateCommitMs / 1e3,
      "state_mem_mb" -> a.stateMem.values.sum / mb
    ).map { case (k, v) => s""""$k":${Json.num(v)}""" }
      .:+(s""""batch_s":${a.batchMs.map(_ / 1e3).mkString("[", ",", "]")}""")
      .:+(s""""span_ms":[$startMs,$endMs]""")
      .:+(s""""stage_spans_ms":${a.stageSpans.map { case (b, e) => s"[$b,$e]" }.mkString("[", ",", "]")}""")
      .mkString(",")
  }
}

class TaskTrace extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.update(_.jobs += 1)

  override def onOtherEvent(e: SparkListenerEvent): Unit = WriteTrace.onEvent(e)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Trace.update { a =>
      a.stages += 1
      for (s <- i.submissionTime; c <- i.completionTime) a.stageSpans += ((s, c))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) Trace.update { a =>
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.inBytes += m.inputMetrics.bytesRead
      a.inRows += m.inputMetrics.recordsRead
      a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shRecords += m.shuffleWriteMetrics.recordsWritten
      a.shReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.diskBytesSpilled
    }
  }
}

/** File writes, from the SQL metrics that Spark's file-write commands post
  * when a write job ends. They reach this listener from every session,
  * including the ones a streaming query clones for `foreachBatch`. */
object WriteTrace {
  private val FilesMetric = "number of written files"
  private val kinds = Map(FilesMetric -> 0, "written output" -> 1, "number of output rows" -> 2)
  private val ids = mutable.Map.empty[Long, Int]   // accumulator id -> kind

  private def register(p: SparkPlanInfo): Unit = {
    if (p.metrics.exists(_.name == FilesMetric))
      p.metrics.foreach(m => kinds.get(m.name).foreach(k => synchronized(ids(m.accumulatorId) = k)))
    p.children.foreach(register)
  }

  def onEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => register(s.sparkPlanInfo)
    // adaptive re-planning can replace the write node and its metrics
    case s: SparkListenerSQLAdaptiveExecutionUpdate => register(s.sparkPlanInfo)
    case u: SparkListenerDriverAccumUpdates =>
      val hits = synchronized(u.accumUpdates.flatMap { case (id, v) => ids.get(id).map(_ -> v) })
      if (hits.nonEmpty) Trace.update { a =>
        hits.foreach {
          case (0, v) => a.writeFiles += v
          case (1, v) => a.writeBytes += v
          case (_, v) => a.writeRows += v
        }
      }
    case _ =>
  }
}

class PlanTrace extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    Trace.update { a =>
      a.analysisMs += ms("analysis"); a.optimizationMs += ms("optimization")
      a.planningMs += ms("planning")
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val run = p.runId.toString
    Trace.update { a =>
      a.batchMs += d.getOrElse("triggerExecution", 0L)
      a.addBatchMs += d.getOrElse("addBatch", 0L)
      a.walCommitMs += d.getOrElse("walCommit", 0L)
      a.commitOffsetsMs += d.getOrElse("commitOffsets", 0L)
      a.queryPlanningMs += d.getOrElse("queryPlanning", 0L)
      if (p.stateOperators.nonEmpty) {
        a.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        a.stateRows(run) = p.stateOperators.map(_.numRowsTotal).sum
        a.stateMem(run) = math.max(a.stateMem.getOrElse(run, 0L),
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }
}
