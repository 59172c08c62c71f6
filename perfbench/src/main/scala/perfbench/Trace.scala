package perfbench

import scala.collection.mutable
import org.apache.spark.{ListenerBusDrain, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder, kept in memory and written at the end.
  *
  * The harness opens and closes its own spans (key, and build, action
  * and release inside a key; load for the table cache; verify for its
  * read-back of a written result) on the driver thread. Each open span's id rides on the thread's Spark local
  * properties, so every Spark job records the span it ran under. Stages
  * belong to jobs, and per-task metrics are summed per stage as they
  * arrive. Catalyst planning phases come from each query's
  * `QueryPlanningTracker`, which carries their own start and end times.
  */
final class Trace(spark: SparkSession, clock: Clock) {
  import Trace._
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val stack = mutable.Stack.empty[SpanRec]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val actions = mutable.ArrayBuffer.empty[(String, Long, Long)]
  @volatile private var recording = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) lock {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, group, span, e.time, -1L, ok = false)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock {
      val i = e.stageInfo
      stageJob.get(i.stageId).filter(jobs.contains).foreach { job =>
        stages((i.stageId, i.attemptNumber())) =
          new StageRec(i.stageId, i.attemptNumber(), job, i.submissionTime.getOrElse(clock.now() / 1000000L))
      }
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = lock {
      stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
        val t = e.taskInfo.launchTime
        if (s.firstLaunch < 0 || t < s.firstLaunch) s.firstLaunch = t
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
      stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
        s.tasks += 1
        if (e.reason != Success) s.failed += 1
        s.durations += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spillDisk += m.diskBytesSpilled
          s.spillMem += m.memoryBytesSpilled
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock {
      val i = e.stageInfo
      stages.get((i.stageId, i.attemptNumber())).foreach { s =>
        s.end = i.completionTime.getOrElse(clock.now() / 1000000L)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) lock {
        qe.tracker.phases.foreach { case (phase, p) =>
          plans += ((phase, p.startTimeMs, p.endTimeMs))
        }
        actions += ((funcName, durationNs, clock.now()))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0L)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  private def lock[T](f: => T): T = synchronized(f)

  /** Start recording; events before this (set-up, warm-up) are dropped. */
  def start(): Unit = recording = true

  /** Open a span under the innermost open span; returns its id. */
  def open(kind: String, name: String, pass: Int): Int = lock {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = SpanRec(spans.size, parent, kind, name, pass, clock.now(), -1L)
    spans += s
    stack.push(s)
    sc.setLocalProperty(SpanProp, s.id.toString)
    s.id
  }

  /** Close the innermost open span. */
  def close(): Unit = lock {
    val s = stack.pop()
    s.end = clock.now()
    sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
  }

  /** Close every span opened inside span `id` (after an exception). */
  def closeAbove(id: Int): Unit = while (stack.headOption.exists(_.id != id)) close()

  /** Wait for the listener bus, then write every record. Times are
    * seconds from `origin` (epoch nanoseconds). */
  def finish(out: Records, origin: Long): Unit = {
    recording = false
    ListenerBusDrain(sc)
    def sec(epochMs: Long): Double = if (epochMs < 0) -1.0 else (epochMs * 1000000L - origin) / 1e9
    def secNs(epochNs: Long): Double = if (epochNs < 0) -1.0 else (epochNs - origin) / 1e9
    lock {
      spans.foreach { s =>
        out.put("type" -> "span", "id" -> s.id, "parent" -> s.parent,
          "kind" -> s.kind, "name" -> s.name, "pass" -> s.pass,
          "start" -> secNs(s.start), "end" -> secNs(s.end))
      }
      jobs.values.foreach { j =>
        out.put("type" -> "job", "id" -> j.id, "group" -> j.group,
          "span" -> j.span, "start" -> sec(j.start), "end" -> sec(j.end), "ok" -> j.ok)
      }
      stages.values.foreach { s =>
        val d = s.durations.sorted
        val median = if (d.isEmpty) 0L else d(d.size / 2)
        out.put("type" -> "stage", "id" -> s.id, "attempt" -> s.attempt,
          "job" -> s.job, "start" -> sec(s.submit), "end" -> sec(s.end),
          "first_launch" -> sec(s.firstLaunch), "tasks" -> s.tasks,
          "failed" -> s.failed, "run_s" -> s.runMs / 1e3, "cpu_s" -> s.cpuNs / 1e9,
          "gc_s" -> s.gcMs / 1e3, "shuffle_read" -> s.shuffleRead,
          "shuffle_write" -> s.shuffleWrite, "spill_disk" -> s.spillDisk,
          "spill_mem" -> s.spillMem,
          "task_max_s" -> (if (d.isEmpty) 0L else d.last) / 1e3,
          "task_median_s" -> median / 1e3)
      }
      plans.foreach { case (phase, st, en) =>
        out.put("type" -> "plan", "phase" -> phase, "start" -> sec(st), "end" -> sec(en))
      }
      // an action's own duration; its end is when the listener saw it
      actions.foreach { case (name, dur, seen) =>
        out.put("type" -> "action", "name" -> name, "duration_s" -> dur / 1e9,
          "seen" -> secNs(seen))
      }
    }
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class SpanRec(id: Int, parent: Int, kind: String, name: String,
      pass: Int, start: Long, var end: Long)
  final case class JobRec(id: Int, group: String, span: Int, start: Long,
      var end: Long, var ok: Boolean)
  final class StageRec(val id: Int, val attempt: Int, val job: Int, val submit: Long) {
    var end = -1L
    var firstLaunch = -1L
    var tasks = 0
    var failed = 0
    val durations = mutable.ArrayBuffer.empty[Long]
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spillDisk, spillMem = 0L
  }
}
