package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Trace recorder: listeners on Spark's scheduler, on Catalyst's finished
  * actions and on Structured Streaming, attached only during traced rounds.
  * Everything is kept in memory and written out once at the end of the run.
  *
  * Jobs, stages and tasks are tagged with the query execution that started
  * them through two local properties the client thread sets (`EXEC`, and
  * `PHASE` = build | write); threads the engine spawns from the client thread
  * (broadcasts, stream executions) inherit them. Catalyst phases and
  * micro-batches carry no tag and are attributed by time window: there is one
  * client thread and query executions never overlap. */
final class Recorder(spark: SparkSession) {
  import Recorder._

  private val sc = spark.sparkContext

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val phases = new ConcurrentLinkedQueue[Phase]()
  private val batches = new ConcurrentLinkedQueue[Batch]()
  @volatile private var streamsStarted = 0L

  // listener-thread state (the scheduler listener runs on a single thread)
  private val openJobs = mutable.Map.empty[Int, Job]
  private val stageOwner = mutable.Map.empty[Int, (String, String)]
  private val openStages = mutable.Map.empty[(Int, Int), Stage]

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val j = Job(e.jobId, p.map(_.getProperty(EXEC)).orNull, p.map(_.getProperty(PHASE)).orNull,
        e.time, e.stageIds.toSet)
      openJobs(e.jobId) = j
      e.stageIds.foreach(s => stageOwner(s) = (j.exec, j.phase))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      val (exec, phase) = stageOwner.getOrElse(i.stageId, (null, null))
      openStages((i.stageId, i.attemptNumber())) =
        Stage(i.stageId, i.attemptNumber(), exec, phase, i.submissionTime.getOrElse(0L), i.numTasks)
      openJobs.values.foreach(j => if (j.stageIds(i.stageId)) j.submitted += i.stageId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      openStages.get((e.stageId, e.stageAttemptId)).foreach { s =>
        s.tasks += 1
        if (e.taskInfo.failed || e.taskInfo.killed) s.tasksFailed += 1
        s.taskWallMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRows += m.inputMetrics.recordsRead
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      openStages.remove((i.stageId, i.attemptNumber())).foreach { s =>
        s.end = i.completionTime.getOrElse(0L)
        stages.add(s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      openJobs.remove(e.jobId).foreach { j =>
        j.end = e.time
        j.failed = e.jobResult != JobSucceeded
        jobs.add(j)
      }
  }

  private val actions = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val action = actionIds.incrementAndGet()
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(Phase(action, name, p.startTimeMs, p.endTimeMs))
      }
    }
  }
  private val actionIds = new java.util.concurrent.atomic.AtomicLong()

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamsStarted += 1
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.add(Batch(p.id.toString, p.batchId, start, start + p.batchDuration, p.numInputRows))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(scheduler)
    spark.listenerManager.register(actions)
    spark.streams.addListener(streaming)
  }

  /** Drains the bus first, so no event of the round is lost. */
  def detach(): Unit = {
    org.apache.spark.perfbench.BusDrain(sc)
    spark.streams.removeListener(streaming)
    spark.listenerManager.unregister(actions)
    sc.removeSparkListener(scheduler)
  }

  def toJson: String = Json.obj(
    "streams_started" -> Json.num(streamsStarted),
    "jobs" -> Json.arr(jobs.asScala.map(_.json)),
    "stages" -> Json.arr(stages.asScala.map(_.json)),
    "phases" -> Json.arr(phases.asScala.map(_.json)),
    "batches" -> Json.arr(batches.asScala.map(_.json)))
}

object Recorder {
  val EXEC = "perfbench.exec"
  val PHASE = "perfbench.phase"

  private def tag(s: String): String = if (s == null) "null" else Json.str(s)

  final case class Job(id: Int, exec: String, phase: String, start: Long, stageIds: Set[Int]) {
    var end = 0L
    var failed = false
    val submitted = mutable.Set.empty[Int]
    def json: String = Json.obj("id" -> id.toString, "exec" -> tag(exec), "phase" -> tag(phase),
      "start_ms" -> Json.num(start), "end_ms" -> Json.num(end), "failed" -> failed.toString,
      "stages" -> stageIds.size.toString, "skipped" -> (stageIds -- submitted).size.toString)
  }

  final case class Stage(id: Int, attempt: Int, exec: String, phase: String, start: Long, numTasks: Int) {
    var end, taskWallMs, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, inputBytes, inputRows = 0L
    var tasks, tasksFailed = 0
    def json: String = Json.obj("id" -> id.toString, "attempt" -> attempt.toString,
      "exec" -> tag(exec), "phase" -> tag(phase), "start_ms" -> Json.num(start), "end_ms" -> Json.num(end),
      "tasks" -> tasks.toString, "tasks_failed" -> tasksFailed.toString,
      "task_wall_ms" -> Json.num(taskWallMs), "run_ms" -> Json.num(runMs), "cpu_ns" -> Json.num(cpuNs),
      "gc_ms" -> Json.num(gcMs), "shuffle_read" -> Json.num(shuffleRead),
      "shuffle_write" -> Json.num(shuffleWrite), "spill" -> Json.num(spill),
      "input_bytes" -> Json.num(inputBytes), "input_rows" -> Json.num(inputRows))
  }

  final case class Phase(action: Long, name: String, start: Long, end: Long) {
    def json: String = Json.obj("action" -> Json.num(action), "name" -> Json.str(name),
      "start_ms" -> Json.num(start), "end_ms" -> Json.num(end))
  }

  final case class Batch(query: String, batch: Long, start: Long, end: Long, rows: Long) {
    def json: String = Json.obj("query" -> Json.str(query), "batch" -> Json.num(batch),
      "start_ms" -> Json.num(start), "end_ms" -> Json.num(end), "rows" -> Json.num(rows))
  }
}
