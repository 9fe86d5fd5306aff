package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's span recorder, registered only when tracing.
  *
  * Spans nest run → entry → action → job → stage:
  *  - entry spans are opened and closed by the harness thread (their
  *    times are the harness's own `runs`);
  *  - actions come from a `QueryExecutionListener` (with the
  *    `QueryPlanningTracker` phases of each action);
  *  - jobs and stages from a `SparkListener`. A job names its entry
  *    through the [[Trace.EntryProp]] local property the harness sets
  *    before each entry (streaming threads inherit it from the thread
  *    that started the query) and its action through
  *    `spark.sql.execution.id`; it also keeps the long call site of its
  *    result stage, for module attribution;
  *  - streaming progress from a `StreamingQueryListener`.
  *
  * Spans stay in memory and are written once, in the run record.
  * Closing an entry drains the listener bus first, so every event of
  * the entry's jobs has been delivered. */
final class Trace(spark: SparkSession, clock: Clock) {
  private val ids = new AtomicLong(0)
  private val actions = ArrayBuffer[Map[String, Any]]()
  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stages = ArrayBuffer[Map[String, Any]]()
  private val stageJob = mutable.Map[Int, Int]()
  private val taskRun = mutable.Map[(Int, Int), ArrayBuffer[Long]]()
  private val queries = ArrayBuffer[Map[String, Any]]()
  private val progress = ArrayBuffer[Map[String, Any]]()
  private val runId = java.util.UUID.randomUUID().toString

  def openEntry(): Long = ids.incrementAndGet()

  /** Called when an entry ends: returns once the listeners have seen
    * every event of its jobs. */
  def closeEntry(): Unit = drain()

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).orNull
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      jobs(e.jobId) = mutable.Map("id" -> e.jobId, "start" -> e.time.toDouble,
        "entry" -> prop(Trace.EntryProp), "execution" -> prop("spark.sql.execution.id"),
        "call_site" -> result.map(_.details).orNull, "n_stages" -> e.stageInfos.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j("end") = e.time.toDouble
        j("ok") = e.jobResult == JobSucceeded
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      if (e.taskMetrics != null)
        taskRun.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer()) +=
          e.taskMetrics.executorRunTime
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val s = e.stageInfo
      val m = s.taskMetrics
      val runs = taskRun.remove((s.stageId, s.attemptNumber())).getOrElse(ArrayBuffer()).sorted
      def acc(name: String): Long = s.accumulables.values
        .filter(a => a.name.contains(name)).flatMap(_.value).map {
          case l: java.lang.Long => l.longValue
          case n: Number => n.longValue
          case _ => 0L
        }.sum
      stages += Map("id" -> s.stageId, "job" -> stageJob.get(s.stageId).orNull,
        "start" -> s.submissionTime.map(_.toDouble).orNull,
        "end" -> s.completionTime.map(_.toDouble).orNull,
        "tasks" -> s.numTasks,
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
        "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
        "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
        "input_records" -> (if (m == null) 0L else m.inputMetrics.recordsRead),
        "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "fetch_wait_ms" -> (if (m == null) 0L else m.shuffleReadMetrics.fetchWaitTime),
        "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
        // SQL metrics: HashAggregate's build time is in ms, Sort's in ns
        "agg_build_ms" -> acc("time in aggregation build"),
        "sort_ns" -> acc("sort time"),
        "task_run_max_ms" -> runs.lastOption.getOrElse(0L),
        "task_run_median_ms" -> (if (runs.isEmpty) 0L else runs(runs.size / 2)))
    }
  }

  private val actionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0L, ok = false)
    private def record(funcName: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
      val end = clock.now()
      val phases = qe.tracker.phases
      def ph(k: String) = phases.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      Trace.this.synchronized {
        actions += Map("id" -> qe.id, "name" -> funcName, "start" -> (end - durationNs / 1e6),
          "end" -> end, "ok" -> ok, "analysis_ms" -> ph("analysis"),
          "optimization_ms" -> ph("optimization"), "planning_ms" -> ph("planning"))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Trace.this.synchronized {
        queries += Map("id" -> e.id.toString, "run" -> e.runId.toString,
          "start" -> Trace.epochMs(e.timestamp))
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      Trace.this.synchronized {
        progress += Map("query" -> p.id.toString, "batch" -> p.batchId,
          "start" -> Trace.epochMs(p.timestamp), "input_rows" -> p.numInputRows,
          "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
          "add_batch_ms" -> d.getOrElse("addBatch", 0L),
          "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
          "query_planning_ms" -> d.getOrElse("queryPlanning", 0L),
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum)
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(actionListener)
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(actionListener)
    spark.streams.removeListener(streamListener)
  }

  def record(): Map[String, Any] = synchronized {
    Map("run_id" -> runId, "actions" -> actions.toSeq,
      "jobs" -> jobs.values.map(_.toMap).toSeq, "stages" -> stages.toSeq,
      "queries" -> queries.toSeq, "progress" -> progress.toSeq)
  }
}

object Trace {
  /** Local property naming the entry span a job belongs to. */
  val EntryProp = "perfbench.entry.span"

  def epochMs(iso: String): Double =
    if (iso == null) 0.0 else java.time.Instant.parse(iso).toEpochMilli.toDouble
}
