package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

object Recorder {
  /** Local property naming the span (`pass/query/closure|write`) a job runs in. */
  val SpanKey = "perfbench.span"
  private val MarkerCol = "perfbench_marker"

  /** One micro-batch's progress report, as the raw record keeps it. */
  def progress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Map[String, Any] = {
    def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    Map("query" -> p.name, "batch" -> p.batchId,
      "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli / 1e3,
      "trigger_ms" -> ms("triggerExecution"), "addBatch_ms" -> ms("addBatch"),
      "planning_ms" -> ms("queryPlanning"), "walCommit_ms" -> ms("walCommit"),
      "input_rows" -> p.numInputRows,
      "end_offset" -> p.sources.headOption.map(_.endOffset).getOrElse("-1"),
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_mb" -> p.stateOperators.map(_.memoryUsedBytes).sum / 1e6)
  }
}

/** Raw trace events from Spark's public listeners, kept in memory and
  * written once at the end of the run. `start()` registers the listeners;
  * `stop()` runs a marker action, waits until the listeners have seen it
  * (so every event of the traced work is in), and unregisters them. */
class Recorder(spark: SparkSession) {
  import Recorder._
  private val sc = spark.sparkContext

  private final class StageAcc(val id: Int) {
    var name = ""; var tasks = 0; var submit = 0L; var done = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var delayMs = 0L
    var inRows = 0L; var inBytes = 0L; var readBytes = 0L; var fetchMs = 0L
    var writeBytes = 0L; var spillBytes = 0L; var peakMem = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
    def json: Map[String, Any] = {
      val d = durations.sorted
      Map("id" -> id, "name" -> name, "tasks" -> tasks, "submit" -> submit, "done" -> done,
        "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs, "delay_ms" -> delayMs,
        "in_rows" -> inRows, "in_bytes" -> inBytes, "read_bytes" -> readBytes,
        "fetch_ms" -> fetchMs, "write_bytes" -> writeBytes, "spill_bytes" -> spillBytes,
        "peak_mem" -> peakMem, "dur_max" -> d.lastOption.getOrElse(0L),
        "dur_med" -> (if (d.isEmpty) 0L else d(d.length / 2)))
    }
  }

  private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobOpen = mutable.Map.empty[Int, (Long, String, String, Seq[Int], Seq[String])]
  private val stages = mutable.Map.empty[Int, StageAcc]
  private val sqls = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val markerJobs = mutable.Set.empty[Int]
  @volatile private var sawJobMarker = false
  @volatile private var sawSqlMarker = false

  private def graftFrames(details: String): Seq[String] =
    details.split('\n').toSeq.map(_.trim)
      .filter(f => f.startsWith("graft.") || f.startsWith("perfbench."))
      .take(8)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = e.properties
      def prop(k: String) = if (p == null) null else p.getProperty(k)
      val span = prop(SpanKey)
      if (span == "marker") { markerJobs += e.jobId; return }
      val exec = Option(prop("spark.sql.execution.root.id"))
        .getOrElse(prop("spark.sql.execution.id"))
      val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      jobOpen(e.jobId) = (e.time, span, exec, e.stageIds, graftFrames(details))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobOpen.remove(e.jobId) match {
        case Some((start, span, exec, stageIds, frames)) =>
          jobs += Map("id" -> e.jobId, "span" -> span, "exec" -> exec, "start" -> start,
            "end" -> e.time, "stages" -> stageIds, "frames" -> frames,
            "ok" -> (e.jobResult == JobSucceeded))
        case None => if (markerJobs.remove(e.jobId)) sawJobMarker = true
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAcc(e.stageInfo.stageId))
      s.name = e.stageInfo.name
      s.tasks = e.stageInfo.numTasks
      s.submit = e.stageInfo.submissionTime.getOrElse(0L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        s.submit = e.stageInfo.submissionTime.getOrElse(s.submit)
        s.done = e.stageInfo.completionTime.getOrElse(0L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m == null) return
      val s = stages.getOrElseUpdate(e.stageId, new StageAcc(e.stageId))
      val i = e.taskInfo
      s.durations += i.duration
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.delayMs += math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
      s.inRows += m.inputMetrics.recordsRead
      s.inBytes += m.inputMetrics.bytesRead
      s.readBytes += m.shuffleReadMetrics.totalBytesRead
      s.fetchMs += m.shuffleReadMetrics.fetchWaitTime
      s.writeBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
    }
  }

  private val sqlListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
      if (qe.analyzed.output.exists(_.name == MarkerCol)) { sawSqlMarker = true; return }
      val ph = qe.tracker.phases
      def phase(k: String) = ph.get(k)
      val starts = ph.values.map(_.startTimeMs)
      Recorder.this.synchronized {
        sqls += Map("func" -> func, "ok" -> ok,
          "start" -> (if (starts.isEmpty) 0L else starts.min),
          "analysis_ms" -> phase("analysis").map(_.durationMs).getOrElse(0L),
          "optimization_ms" -> phase("optimization").map(_.durationMs).getOrElse(0L),
          "planning_ms" -> phase("planning").map(_.durationMs).getOrElse(0L))
      }
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized { batches += progress(e.progress) }
  }

  def start(): Unit = {
    sawJobMarker = false
    sawSqlMarker = false
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    val span = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, "marker")
    spark.range(0, 1, 1, 1).toDF(MarkerCol).collect()
    sc.setLocalProperty(SpanKey, span)
    val deadline = System.currentTimeMillis() + 10000
    while ((!sawJobMarker || !sawSqlMarker) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  def record: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toSeq, "stages" -> stages.values.toSeq.sortBy(_.id).map(_.json),
      "sqls" -> sqls.toSeq, "batches" -> batches.toSeq)
  }
}
