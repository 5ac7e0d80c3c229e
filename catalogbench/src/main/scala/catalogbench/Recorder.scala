package catalogbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** Counters and spans the benchmark records around the program from
  * outside it: a SparkListener for jobs, stages and tasks, and a
  * QueryExecutionListener for final AQE plans and planning phases.
  *
  * Every job carries the local property `Recorder.TagKey`, set by the
  * benchmark before each query; stages and tasks inherit their job's
  * tag. With `traced` off only job counts, task time and task CPU time
  * are kept (the end-to-end `task_s` and `cpu_s`); with it on, job and stage spans, shuffle bytes, spill,
  * scheduler delay, exchanges and planning time are kept too.
  */
final class Recorder(traced: Boolean) extends SparkListener
    with QueryExecutionListener {
  import Recorder._

  private val jobTag = new ConcurrentHashMap[Int, String]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execModule = new ConcurrentHashMap[Long, String]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
  private val counters = mutable.Map.empty[String, Counters]
  private val jobs = mutable.ArrayBuffer.empty[JobSpan]
  private val stages = mutable.ArrayBuffer.empty[StageSpan]
  private val queries = mutable.ArrayBuffer.empty[QuerySpan]
  /** The tag of the query running now; read by the QueryExecution
    * listener, which has no job properties. The benchmark drains the
    * bus before it changes the tag. */
  @volatile var currentTag: String = "none"

  def of(tag: String): Counters = synchronized {
    counters.getOrElseUpdate(tag, new Counters)
  }

  /** Sum of the counters whose tag satisfies `p`. */
  def sum(p: String => Boolean): Counters = synchronized {
    counters.collect { case (t, c) if p(t) => c }
      .foldLeft(new Counters)(_ += _)
  }

  def jobSpans: Seq[JobSpan] = synchronized(jobs.toList)
  def stageSpans: Seq[StageSpan] = synchronized(stages.toList)
  def querySpans: Seq[QuerySpan] = synchronized(queries.toList)
  def addQuerySpan(s: QuerySpan): Unit = synchronized(queries += s)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
      .getOrElse(currentTag)
    jobTag.put(e.jobId, tag)
    synchronized(of(tag).jobs += 1)
    e.stageIds.foreach { s => stageTag.put(s, tag); stageJob.put(s, e.jobId) }
    if (traced) {
      val execModuleOf = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execModule.get(id.toLong)))
      val module = execModuleOf.getOrElse(
        moduleOf(e.stageInfos.maxByOption(_.stageId).map(_.details).getOrElse("")))
      jobStart.put(e.jobId, (e.time, module))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) {
    Option(jobStart.remove(e.jobId)).foreach { case (t0, module) =>
      val tag = jobTag.getOrDefault(e.jobId, currentTag)
      synchronized {
        jobs += JobSpan(tag, e.jobId, module, t0, e.time)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (traced) {
      val si = e.stageInfo
      val tag = stageTag.getOrDefault(si.stageId, currentTag)
      val m = si.taskMetrics
      synchronized {
        val c = of(tag)
        c.stages += 1
        if (m != null) {
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        for (s <- si.submissionTime; f <- si.completionTime)
          stages += StageSpan(tag, stageJob.getOrDefault(si.stageId, -1), s, f)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.getOrDefault(e.stageId, currentTag)
    val info = e.taskInfo
    val m = e.taskMetrics
    synchronized {
      val c = of(tag)
      c.tasks += 1
      c.taskMs += info.duration
      if (m != null) c.cpuNs += m.executorCpuTime
      if (traced && m != null)
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if traced =>
      execModule.put(s.executionId, moduleOf(s.details))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = if (traced) {
    val (ex, reused) = exchanges(qe.executedPlan)
    val phaseMs = qe.tracker.phases.values.map(_.durationMs).sum
    synchronized {
      val c = of(currentTag)
      c.exchanges += ex
      c.exchangesReused += reused
      c.planMs += phaseMs
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object Recorder {
  val TagKey = "catalogbench.tag"

  final class Counters {
    var jobs, stages, tasks, taskMs, cpuNs, schedDelayMs = 0L
    var shuffleWriteB, shuffleReadB, spillB = 0L
    var exchanges, exchangesReused, planMs = 0L

    def +=(o: Counters): Counters = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      taskMs += o.taskMs; cpuNs += o.cpuNs; schedDelayMs += o.schedDelayMs
      shuffleWriteB += o.shuffleWriteB; shuffleReadB += o.shuffleReadB
      spillB += o.spillB; exchanges += o.exchanges
      exchangesReused += o.exchangesReused; planMs += o.planMs
      this
    }
  }

  final case class JobSpan(tag: String, jobId: Int, module: String,
      startMs: Long, endMs: Long)
  final case class QuerySpan(tag: String, startMs: Long, endMs: Long)
  final case class StageSpan(tag: String, jobId: Int, startMs: Long,
      endMs: Long)

  /** Shuffle and broadcast exchanges in a final (post-AQE) plan, and
    * how many of them were reused rather than executed. */
  def exchanges(plan: SparkPlan): (Long, Long) = {
    var ex, reused = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _: ReusedExchangeExec => reused += 1
        case e: ShuffleExchangeLike => ex += 1; e.children.foreach(walk)
        case e: BroadcastExchangeLike => ex += 1; e.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (ex, reused)
  }

  /** The repository layer a job belongs to: the package of the
    * innermost program or benchmark frame of its call site. A frame in
    * the catalog objects or in the benchmark's own materialization is
    * the catalog layer (final writes). */
  def moduleOf(callSite: String): String = {
    val frames = callSite.split('\n').iterator.map(_.trim)
    frames.collectFirst {
      case f if f.startsWith("graft.") || f.startsWith("catalogbench.") =>
        val cls = f.takeWhile(_ != '(')
        val parts = cls.split('.')
        if (parts(0) == "catalogbench" || parts.length < 3 ||
            parts(1).headOption.forall(_.isUpper)) "catalog"
        else parts(1) match {
          case "functions" => "operators"
          case pkg => pkg
        }
    }.getOrElse("other")
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
