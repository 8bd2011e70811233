package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.jackson.JsonMethods.compact

/** Everything the traced run learns about one timed or set-up
  * operation: Spark job/stage/task counters, the Catalyst phase times
  * and exchange counts of the query execution that wrote the result,
  * the micro-batch progress of any stream it ran, and free-form notes
  * the workload adds (index bytes written, ...). */
final class OpTrace(val id: Int, val name: String, val kind: String) {
  var jobs, buildJobs, stages, tasks, emptyTasks, failedTasks = 0L
  var cpuNs, runMs, gcMs, peakExecMem, spill, input, shuffleRead, shuffleWrite = 0L
  var analysisMs, optimizationMs, planningMs, exchanges, rangeExchanges = 0L
  var triggers, inputRows, stateRowsPeak, stateMemPeak, stateCommitMs, dropped = 0L
  val durations = mutable.Map[String, mutable.ArrayBuffer[Long]]()
  val notes = mutable.LinkedHashMap[String, Double]()

  def json: JValue = {
    val nums = List("id" -> id.toLong, "jobs" -> jobs, "build_jobs" -> buildJobs,
      "stages" -> stages, "tasks" -> tasks, "empty_tasks" -> emptyTasks,
      "failed_tasks" -> failedTasks, "task_cpu_ns" -> cpuNs,
      "task_run_ms" -> runMs, "gc_ms" -> gcMs, "peak_exec_mem" -> peakExecMem,
      "spill" -> spill, "input" -> input, "shuffle_read" -> shuffleRead,
      "shuffle_write" -> shuffleWrite, "analysis_ms" -> analysisMs,
      "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
      "exchanges" -> exchanges, "range_exchanges" -> rangeExchanges,
      "triggers" -> triggers, "input_rows" -> inputRows,
      "state_rows_peak" -> stateRowsPeak, "state_mem_peak" -> stateMemPeak,
      "state_commit_ms" -> stateCommitMs, "dropped_by_watermark" -> dropped)
    JObject(List[JField]("name" -> JString(name), "kind" -> JString(kind)) ++
      nums.map { case (k, v) => k -> (JInt(v): JValue) } ++
      List[JField](
        "durations" -> JObject(durations.toList.sortBy(_._1).map { case (k, v) =>
          k -> (JArray(v.map(x => JInt(x): JValue).toList): JValue) }),
        "notes" -> JObject(notes.toList.map { case (k, v) => k -> Main.num(v) })))
  }
}

/** The traced mode: one SparkListener, one QueryExecutionListener and
  * one StreamingQueryListener, plus spans the harness records around
  * each call into a layer. Events reach the listeners asynchronously,
  * so every phase boundary drains the listener bus first; whatever is
  * delivered inside a phase belongs to that phase's operation. Spans
  * stay in memory and are written out when the run ends. */
final class Tracer(spark: SparkSession) {
  private val t0 = System.nanoTime()
  @volatile private var cur: OpTrace = _
  @volatile private var phase = ""
  val done = mutable.ArrayBuffer[OpTrace]()
  private case class Span(id: Int, parent: Int, name: String, op: Int,
                          start: Long, end: Long)
  private val spans = mutable.ArrayBuffer[Span]()
  private var spanSeq = 0
  private var openSpan = 0

  private def drain(): Unit =
    org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)

  private def withCur(f: OpTrace => Unit): Unit = {
    val c = cur
    if (c != null) c.synchronized(f(c))
  }

  def beginOp(id: Int, name: String, kind: String): Unit = {
    drain()
    cur = new OpTrace(id, name, kind)
    phase = "call"
  }

  def endOp(): Unit = {
    drain()
    done += cur
    cur = null
    phase = ""
  }

  def note(key: String, value: Double): Unit =
    withCur(c => c.notes(key) = c.notes.getOrElse(key, 0.0) + value)

  /** A span around a call into a layer; `ph` tags the listener events
    * it causes ("build": a query builder, "write": the result write,
    * "call": any other layer call). */
  def span[A](name: String, ph: String)(body: => A): A = {
    drain()
    phase = ph
    spanSeq += 1
    val id = spanSeq
    val parent = openSpan
    openSpan = id
    val start = System.nanoTime() - t0
    try body
    finally {
      drain()
      spans += Span(id, parent, name, Option(cur).map(_.id).getOrElse(0),
        start, System.nanoTime() - t0)
      openSpan = parent
      phase = "call"
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s => compact(JObject("id" -> JInt(s.id),
      "parent" -> JInt(s.parent), "name" -> JString(s.name), "op" -> JInt(s.op),
      "start_ns" -> JInt(s.start), "end_ns" -> JInt(s.end))))
    java.nio.file.Files.write(path, lines.mkString("[\n", ",\n", "\n]\n")
      .getBytes("UTF-8"))
  }

  private def exchangesOf(plan: SparkPlan): (Long, Long) = {
    var all, range = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case e: ShuffleExchangeLike =>
          all += 1
          if (e.outputPartitioning.isInstanceOf[RangePartitioning]) range += 1
        case _ =>
      }
      p match {
        case _: AdaptiveSparkPlanExec | _: QueryStageExec =>
        case _ => (p.children ++ p.subqueries).foreach(walk)
      }
    }
    walk(plan)
    (all, range)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = withCur { c =>
      c.jobs += 1
      if (phase == "build") c.buildJobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      withCur(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withCur { c =>
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        val rows = m.inputMetrics.recordsRead + m.outputMetrics.recordsWritten +
          m.shuffleReadMetrics.recordsRead + m.shuffleWriteMetrics.recordsWritten
        if (rows == 0) c.emptyTasks += 1
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      if (phase == "write") {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        val (ex, rx) = exchangesOf(qe.executedPlan)
        withCur { c =>
          // the outer save and the inner command both report; keep the
          // larger of each, never their sum (planning is done once)
          c.analysisMs = math.max(c.analysisMs, ms("analysis"))
          c.optimizationMs = math.max(c.optimizationMs, ms("optimization"))
          c.planningMs = math.max(c.planningMs, ms("planning"))
          c.exchanges = math.max(c.exchanges, ex)
          c.rangeExchanges = math.max(c.rangeExchanges, rx)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      withCur { c =>
        val p = e.progress
        c.triggers += 1
        c.inputRows += p.numInputRows
        p.durationMs.asScala.foreach { case (k, v) =>
          c.durations.getOrElseUpdate(k, mutable.ArrayBuffer()) += v.longValue }
        p.stateOperators.foreach { s =>
          c.stateRowsPeak = math.max(c.stateRowsPeak, s.numRowsTotal)
          c.stateMemPeak = math.max(c.stateMemPeak, s.memoryUsedBytes)
          c.stateCommitMs += s.commitTimeMs
          c.dropped += s.numRowsDroppedByWatermark
        }
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)
}
