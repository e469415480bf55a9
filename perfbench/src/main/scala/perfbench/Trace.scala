package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Double, endMs: Double, tags: Map[String, Any])

/** Task-metric totals of one stage, summed over its finished tasks. */
final class StageTotals(val stageId: Int) {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L
  var inputBytes = 0L; var inputRecords = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var outputBytes = 0L; var resultBytes = 0L; var peakMem = 0L
  var startMs = Long.MaxValue; var endMs = 0L
  def tags: Map[String, Any] = Map("stage_id" -> stageId, "tasks" -> tasks,
    "task_run_ms" -> runMs, "task_cpu_ms" -> cpuNs / 1e6,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "output_bytes" -> outputBytes,
    "result_bytes" -> resultBytes, "peak_exec_mem_bytes" -> peakMem)
}

final case class JobRec(jobId: Int, startMs: Long, group: String, phase: String,
                        callSite: String, callStack: String, sqlExecId: Long,
                        stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
  @volatile var succeeded: Boolean = false
}

final case class QeRec(qeId: Long, func: String, phases: Map[String, (Long, Long)], failed: Boolean)

/** Hooks the benchmark registers on its own session in a traced run: a
  * [[SparkListener]] for jobs, stages and task metrics, and a
  * [[QueryExecutionListener]] that reads each executed query's
  * `QueryExecution.tracker` phases. Everything is kept in memory; the
  * span tree is assembled once, after the measured phase. */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageTotals]()
  private val execSites = new java.util.concurrent.ConcurrentHashMap[Long, (String, String)]()

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).getOrElse(new java.util.Properties)
    def prop(k: String) = Option(p.getProperty(k)).getOrElse("")
    // Call site: SQL jobs are submitted from Spark's own threads, so take
    // the one captured on the calling thread when the execution started;
    // other jobs carry it on their result stage. Short form
    // ("collect at TableOne.scala:216") and the user stack.
    val execId = Option(p.getProperty("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
    val (site, stack) = Option(execSites.get(execId)).getOrElse(
      e.stageInfos.maxByOption(_.stageId).map(st => (st.name, st.details)).getOrElse(("", "")))
    val rec = JobRec(e.jobId, e.time, prop("spark.jobGroup.id"), prop(Harness.PhaseKey),
      site, stack, execId, e.stageIds)
    jobById.put(e.jobId, rec)
    jobs.add(rec)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => execSites.put(x.executionId, (x.description, x.details))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      j.succeeded = e.jobResult == JobSucceeded
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val s = stages.computeIfAbsent(e.stageId, id => new StageTotals(id))
    s.synchronized {
      s.tasks += 1
      s.startMs = math.min(s.startMs, e.taskInfo.launchTime)
      s.endMs = math.max(s.endMs, e.taskInfo.finishTime)
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outputBytes += m.outputMetrics.bytesWritten
        s.resultBytes += m.resultSize
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      }
    }
  }

  private def record(func: String, qe: QueryExecution, failed: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    qes.add(QeRec(qe.id, func, phases, failed))
  }
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe, failed = false)
  override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit =
    record(func, qe, failed = true)

  def stageTotals(id: Int): Option[StageTotals] = Option(stages.get(id))
}

/** Assembles the span tree for the measured operations: op root →
  * build / exec → Spark job (named by call site) → stage task totals
  * and the Catalyst phases of the query execution that ran the job. */
object SpanTree {
  def build(ops: Seq[OpRun], rec: Recorder): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    var next = 0L
    def add(parent: Long, kind: String, name: String, s: Double, e: Double,
            tags: Map[String, Any]): Long = {
      next += 1; out += Span(next, parent, kind, name, s, e, tags); next
    }
    def addPhases(parent: Long, q: QeRec): Unit =
      Seq("analysis", "optimization", "planning").foreach { ph =>
        q.phases.get(ph).foreach { case (s, e) =>
          add(parent, "catalyst", s"catalyst.$ph", s.toDouble, e.toDouble,
            Map("qe_id" -> q.qeId, "func" -> q.func, "failed" -> q.failed))
        }
      }
    val jobs = rec.jobs.asScala.toSeq
    val qes = rec.qes.asScala.toSeq
    val jobsByGroup = jobs.groupBy(_.group)
    val seenStages = mutable.Set.empty[Int]
    val usedQe = mutable.Set.empty[Long]
    ops.foreach { op =>
      val root = add(0L, "op", op.key, op.startMs, op.endMs, op.tags)
      val phaseSpan = Map(
        "build" -> add(root, "build", "build", op.startMs, op.buildEndMs, Map.empty),
        "exec" -> add(root, "exec", "exec", op.buildEndMs, op.endMs, Map.empty))
      jobsByGroup.getOrElse(op.group, Nil).sortBy(_.jobId).foreach { j =>
        val parent = phaseSpan.getOrElse(j.phase, root)
        val quartilePath =
          if (j.callStack.contains("exactQuartiles")) "exact"
          else if (j.callStack.contains("sketchQuartiles")) "sketch" else ""
        val end = if (j.endMs >= 0) j.endMs.toDouble else op.endMs
        val jobSpan = add(parent, "job", j.callSite, j.startMs.toDouble, end, Map(
          "job_id" -> j.jobId, "sql_execution_id" -> j.sqlExecId,
          "succeeded" -> j.succeeded, "quartile_path" -> quartilePath,
          "tableone_frame" -> j.callStack.contains("TableOne.scala")))
        j.stageIds.filter(seenStages.add).foreach { sid =>
          rec.stageTotals(sid).foreach { st =>
            add(jobSpan, "stage", s"stage $sid", st.startMs.toDouble, st.endMs.toDouble, st.tags)
          }
        }
        if (j.sqlExecId >= 0 && usedQe.add(j.sqlExecId))
          qes.filter(_.qeId == j.sqlExecId).take(1).foreach(q => addPhases(jobSpan, q))
      }
      // executions that ran no job of their own (e.g. a local relation)
      // hang under the op by time
      qes.filter(q => !usedQe.contains(q.qeId) && q.phases.get("planning")
          .exists { case (_, e) => e >= op.startMs && e <= op.endMs })
        .foreach { q => usedQe += q.qeId; addPhases(root, q) }
    }
    out.toSeq
  }
}
