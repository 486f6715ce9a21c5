package graft.perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced runs only: records the engine's own events against the op
  * that caused them. Every op runs under its own job group, so job,
  * stage and task events join their op's span; the query-execution
  * listener supplies Catalyst's phase intervals (QueryExecution.tracker)
  * and CodegenMetrics the compile count and time. Everything is kept in
  * memory and written once at the end; layers.py computes self times
  * from the intervals. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  private final class Job(val id: Int, val group: String, val startMs: Long) {
    var endMs: Long = -1L
    var ok = false
    var stages, tasks, failedTasks = 0L
    var runMs, cpuMs, gcMs, records, bytes, shufW, shufR, fetchWaitMs, spill = 0L
    var peakExec = 0L
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val queries = mutable.ArrayBuffer[(Long, Long, Long, Long, Long, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = new Job(e.jobId, g, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j => j.endMs = e.time; j.ok = e.jobResult == JobSucceeded }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        if (e.reason != org.apache.spark.Success) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuMs += m.executorCpuTime / 1000000L
          j.gcMs += m.jvmGCTime
          j.records += m.inputMetrics.recordsRead
          j.bytes += m.inputMetrics.bytesRead
          j.shufW += m.shuffleWriteMetrics.bytesWritten
          j.shufR += m.shuffleReadMetrics.totalBytesRead
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.peakExec = math.max(j.peakExec, m.peakExecutionMemory)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phase(qe: QueryExecution, n: String): (Long, Long) =
      qe.tracker.phases.get(n).map(p => (p.startTimeMs, p.endTimeMs)).getOrElse((0L, 0L))
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val (a0, a1) = phase(qe, "analysis")
        val (o0, o1) = phase(qe, "optimization")
        val (p0, p1) = phase(qe, "planning")
        queries += ((a0, a1, o0, o1, p0, p1))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      onSuccess(funcName, qe, 0L)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private var opSeq = 0
  private var compiles0 = 0L
  private var compileMs0 = 0L

  private def compileSum(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum

  /** Open the op's span: job group on the client thread, codegen baseline. */
  def beginOp(name: String): Unit = {
    opSeq += 1
    sc.setJobGroup(s"op-$opSeq", name, interruptOnCancel = false)
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    compileMs0 = compileSum()
  }

  def endOp(rec: ObjectNode): Unit = {
    sc.clearJobGroup()
    rec.put("group", s"op-$opSeq")
    rec.put("compiles", CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
    rec.put("compile_ms", compileSum() - compileMs0)
  }

  /** Drain the listener bus, detach, and write jobs and query phases. */
  def finish(out: ObjectNode): Unit = {
    org.apache.spark.GraftSparkBridge.drainListeners(sc, 30000)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    synchronized {
      val js = out.putArray("jobs")
      for (j <- jobs.values) {
        val o = js.addObject()
        o.put("id", j.id); o.put("group", j.group)
        o.put("start_ms", j.startMs); o.put("end_ms", j.endMs); o.put("ok", j.ok)
        o.put("stages", j.stages); o.put("tasks", j.tasks); o.put("failed_tasks", j.failedTasks)
        o.put("task_run_ms", j.runMs); o.put("task_cpu_ms", j.cpuMs); o.put("gc_ms", j.gcMs)
        o.put("records_read", j.records); o.put("bytes_read", j.bytes)
        o.put("shuffle_write_bytes", j.shufW); o.put("shuffle_read_bytes", j.shufR)
        o.put("fetch_wait_ms", j.fetchWaitMs); o.put("spill_bytes", j.spill)
        o.put("peak_exec_bytes", j.peakExec)
      }
      val qs = out.putArray("queries")
      for ((a0, a1, o0, o1, p0, p1) <- queries) {
        val o = qs.addObject()
        o.putArray("analysis").add(a0).add(a1)
        o.putArray("optimization").add(o0).add(o1)
        o.putArray("planning").add(p0).add(p1)
      }
    }
  }
}
