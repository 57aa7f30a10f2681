package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are System.nanoTime. */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
                      start: Long, var end: Long = 0L)

final case class JobRec(id: Int, group: String, desc: String, callSite: String,
                        start: Long, var end: Long, stages: Seq[Int])

final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                         shuffleRead: Long, spill: Long)

/** One completed Dataset action: planning phase times, and the rows and
  * bytes its leaf scans read and its root produced.
  */
final case class PlanRec(analysisMs: Double, optimizeMs: Double, physicalMs: Double,
                         scanRows: Long, scanBytes: Long, outputRows: Long)

/** Spark scheduler events, kept in memory. Listener-bus times are
  * wall-clock millis; `Tracer.offsetMs` maps span times onto them.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  val tasks = mutable.ArrayBuffer[TaskRec]()
  val stageSubmit = mutable.Map[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val site = Option(prop("callSite.short")).filter(_.nonEmpty)
      .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
    // Spark tags a broadcast build's job "broadcast exchange (runId ...)"
    jobs += JobRec(e.jobId, prop("spark.jobGroup.id"),
      prop("spark.job.description") + " " + prop("spark.job.tags"), site, e.time, 0L,
      e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit.getOrElseUpdate(e.stageInfo.stageId, t))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    val i = e.taskInfo
    tasks += TaskRec(e.stageId, i.launchTime, i.finishTime,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.jvmGCTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))
  }
}

/** Every completed Dataset action. Plan walks descend into adaptive
  * query stages, where the final plan's scans live.
  */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val plans = mutable.ArrayBuffer[PlanRec]()
  private def ms(qe: QueryExecution, phase: String): Double =
    qe.tracker.phases.get(phase).map(p => (p.endTimeMs - p.startTimeMs).toDouble)
      .getOrElse(0.0)
  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.executedPlan
    val leaves = collectLeaves(plan)
    val out = find(plan)(_.metrics.contains("numOutputRows"))
      .map(metric(_, "numOutputRows")).getOrElse(0L)
    val rec = PlanRec(ms(qe, "analysis"), ms(qe, "optimization"), ms(qe, "planning"),
      leaves.map(metric(_, "numOutputRows")).sum, leaves.map(metric(_, "filesSize")).sum, out)
    synchronized { plans += rec }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def drain(): Seq[PlanRec] = synchronized { val r = plans.toList; plans.clear(); r }
}

/** Spans around the benchmark's own calls into graft, plus the Spark
  * events those calls cause. Each span sets a job group, so a job is
  * attributed to the innermost span that submitted it. Off by default:
  * with tracing off `span` only runs its body.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var traceId = 0
  private var on = false
  val jobs = new JobListener
  val plans = new PlanListener
  /** wall-clock millis minus nanoTime millis, to put listener times on span time */
  val offsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6

  def enabled: Boolean = on

  def enable(): Unit = if (!on) {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    on = true
  }

  def disable(): Unit = if (on) {
    flush()
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    sc.clearJobGroup()
    on = false
  }

  def flush(): Unit = graft.sources.QueryMetrics.flush(spark)

  def newTrace(): Unit = traceId += 1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), traceId, name,
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"span-${s.id}", name)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }
}
