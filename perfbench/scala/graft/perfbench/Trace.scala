package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed span: a call the benchmark made into a module. Times
  * are wall-clock milliseconds (for matching against Spark event
  * times) plus a nanosecond duration. `unit` is the pass the span
  * belongs to. */
final case class Span(id: Int, name: String, parent: Int, unit: String,
    startMs: Long, endMs: Long, durNs: Long)

/** In-memory span recorder. Disabled, `span` is just the call. Enabled,
  * every span tags the calling thread's job description with its id,
  * so the [[EngineListener]] can attribute jobs, stages and tasks to
  * the innermost open span. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, Long, Long)] = Nil // (id, start ms, start ns)
  private var nextId = 0
  var unit: String = ""
  var session: SparkSession = _

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, System.currentTimeMillis(), System.nanoTime()) :: stack
      tag(id)
      try body
      finally {
        val (_, ms0, ns0) = stack.head
        stack = stack.tail
        spans += Span(id, name, parent, unit, ms0,
          System.currentTimeMillis(), System.nanoTime() - ns0)
        tag(stack.headOption.map(_._1).getOrElse(-1))
      }
    }

  private def tag(id: Int): Unit =
    if (session != null)
      session.sparkContext.setJobDescription(
        if (id < 0) null else s"${Tracer.Tag}$id")

  /** Total duration (s) of the spans called `name` in `unit`. */
  def seconds(unit: String, name: String): Double =
    spans.iterator.filter(s => s.unit == unit && s.name == name)
      .map(_.durNs / 1e9).sum

  /** Mean duration (ms) of the spans called `name` in `unit`. */
  def meanMs(unit: String, name: String): Double = {
    val ds = spans.filter(s => s.unit == unit && s.name == name).map(_.durNs)
    if (ds.isEmpty) 0.0 else ds.sum / 1e6 / ds.size
  }

  /** Self time of each span: its duration minus the part of it its
    * direct children cover (children never overlap: one client). */
  def selfNs: Map[Int, Long] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.durNs).sum }
    spans.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }
}

object Tracer {
  val Tag = "perfbench-span="
}

final case class TaskEnd(job: Int, launch: Long, finish: Long, cpuNs: Long,
    shufRead: Long, shufWrite: Long, spill: Long)

/** Engine counters captured by a SparkListener plus a
  * QueryExecutionListener, kept raw and attributed after the listener
  * bus has drained (stopping a session drains it). */
final class EngineListener extends SparkListener with QueryExecutionListener {
  // job id -> (span id from the job-description tag, submission ms)
  val jobs = mutable.LinkedHashMap.empty[Int, (Int, Long)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val stagesRun = mutable.ArrayBuffer.empty[Int]       // job of each run stage
  val tasks = mutable.ArrayBuffer.empty[TaskEnd]
  // (analysis start ms, planning ms) of each query execution
  val executions = mutable.ArrayBuffer.empty[(Long, Double)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    val span =
      if (desc.startsWith(Tracer.Tag))
        scala.util.Try(desc.stripPrefix(Tracer.Tag).toInt).getOrElse(-1)
      else -1
    jobs(e.jobId) = (span, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stagesRun += stageJob.getOrElse(e.stageInfo.stageId, -1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += TaskEnd(stageJob.getOrElse(e.stageId, -1), e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    val start = phases.get("analysis").map(_.startTimeMs).getOrElse(-1L)
    executions += ((start, planMs))
  }

  override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(func: String, qe: QueryExecution,
      e: Exception): Unit = record(qe)

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(this)
    s.listenerManager.register(this)
  }
}

object Layers {
  /** Engine metrics of one timed unit: the jobs submitted and the
    * queries analysed inside its window (one client, so the window is
    * exact). */
  def engine(l: EngineListener, unitStartMs: Long, unitEndMs: Long,
      wallS: Double, gcS: Double, storageMb: Double)
      : Map[String, Double] = l.synchronized {
    def inUnit(t: Long) = t >= unitStartMs && t <= unitEndMs
    val unitJobs = l.jobs.collect { case (j, (_, t)) if inUnit(t) => j }.toSet
    val ts = l.tasks.filter(t => unitJobs(t.job))
    // driver idle: unit wall minus the union of task run intervals
    val busyMs = ts.map(t => (t.launch, t.finish)).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
        if (b <= end) (acc, end)
        else (acc + (b - math.max(a, end)), b)
      }._1
    val mb = 1024.0 * 1024.0
    Map(
      "catalyst.plan_ms" -> l.executions.collect {
        case (t, ms) if inUnit(t) => ms }.sum,
      "sched.jobs" -> unitJobs.size.toDouble,
      "sched.stages" -> l.stagesRun.count(unitJobs).toDouble,
      "sched.tasks" -> ts.size.toDouble,
      "sched.driver_idle_s" -> math.max(0.0, wallS - busyMs / 1000.0),
      "exec.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> gcS,
      "shuffle.write_mb" -> ts.map(_.shufWrite).sum / mb,
      "shuffle.read_mb" -> ts.map(_.shufRead).sum / mb,
      "exec.spill_mb" -> ts.map(_.spill).sum / mb,
      "storage.resident_mb" -> storageMb)
  }

  /** The spans of a run with their self time and the engine counters
    * of the jobs tagged with each span (its innermost-span share). */
  def spans(tr: Tracer, l: EngineListener): Seq[Map[String, Any]] = {
    val self = tr.selfNs
    val perSpan: Map[Int, Map[String, Double]] = l.synchronized {
      val jobSpan = l.jobs.map { case (j, (span, _)) => j -> span }
      l.tasks.groupBy(t => jobSpan.getOrElse(t.job, -1)).map { case (sp, ts) =>
        sp -> Map(
          "jobs" -> l.jobs.count(_._2._1 == sp).toDouble,
          "tasks" -> ts.size.toDouble,
          "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
          "shuffle_mb" -> (ts.map(_.shufRead).sum + ts.map(_.shufWrite).sum) /
            (1024.0 * 1024.0))
      }
    }
    tr.spans.toSeq.map { sp => Map(
      "id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent,
      "unit" -> sp.unit, "start_ms" -> sp.startMs, "end_ms" -> sp.endMs,
      "dur_ms" -> sp.durNs / 1e6, "self_ms" -> self(sp.id) / 1e6,
      "engine" -> perSpan.getOrElse(sp.id, Map.empty))
    }
  }
}
