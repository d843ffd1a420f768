package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SqlEvents

/** Records every Spark job, stage and SQL execution the program issues,
  * in memory, with the call site that issued it, and each execution's
  * planning phases (`QueryExecution.tracker`) and written files. The
  * benchmark attaches it only around traced operations; attribution of
  * records to layers and operations happens after the run
  * (`perfbench/metrics.py`).
  *
  * Call sites are interned: a job or execution carries an index into
  * `sites`, so thousands of jobs from one code path cost one string. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val lock = new Object
  private val sites = mutable.ArrayBuffer.empty[String]
  private val siteIdx = mutable.HashMap.empty[String, Int]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  /** SQL execution id -> (planning ms, files written). */
  private val planning = mutable.HashMap.empty[Long, (Double, Long)]
  @volatile private var started = 0L
  @volatile private var ended = 0L
  @volatile private var execEvents = 0L
  /** Nanoseconds spent inside this tracer's callbacks: its own cost. */
  @volatile var selfNs = 0L

  private def self[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally selfNs += System.nanoTime() - t0
  }

  private def intern(s: String): Int = siteIdx.getOrElseUpdate(s, { sites += s; sites.size - 1 })

  override def onJobStart(e: SparkListenerJobStart): Unit = self { lock.synchronized {
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val site = e.stageInfos.sortBy(-_.stageId).map(_.details).find(_.nonEmpty)
      .orElse(props.flatMap(p => Option(p.getProperty("callSite.long")))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, exec, intern(site), e.stageIds, ok = false)
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, Stage(s)))
    started += 1
  } }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = self { lock.synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.t1 = e.time
      j.ok = e.jobResult == JobSucceeded
    }
    ended += 1
  } }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = self { lock.synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, Stage(e.stageId))
      s.taskMs += m.executorRunTime
      s.tasks += m.executorRunTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.outBytes += m.outputMetrics.bytesWritten
    }
  } }

  override def onOtherEvent(e: SparkListenerEvent): Unit = self { e match {
    case s: SparkListenerSQLExecutionStart => lock.synchronized {
      execs(s.executionId) = Exec(s.executionId, s.time, intern(s.details))
      execEvents += 1
    }
    case s: SparkListenerSQLExecutionEnd =>
      val rec = SqlEvents.queryExecution(s).map(qe => (planningMs(qe), writtenFiles(qe.executedPlan)))
      lock.synchronized {
        execs.get(s.executionId).foreach(_.t1 = s.time)
        rec.foreach(planning(s.executionId) = _)
        execEvents += 1
      }
    case _ =>
  } }

  private def planningMs(qe: QueryExecution): Double = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").flatMap(phases.get)
      .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
  }

  /** Files a write command reports having written (its `numFiles` SQL
    * metric), searched through adaptive and query-stage wrappers. */
  private def writtenFiles(p: SparkPlan): Long = {
    val own = p.metrics.get("numFiles").filter(_ => p.metrics.contains("numOutputBytes"))
      .map(_.value).getOrElse(0L)
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    own + kids.map(writtenFiles).sum
  }

  def attach(): Unit = spark.sparkContext.addSparkListener(this)

  /** Detach after the listener bus has delivered every event of the jobs
    * started so far (job starts balanced by job ends, counters quiet for
    * one poll), so no record of the traced operation is lost. */
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
  }

  def drain(): Unit = {
    var last = (-1L, -1L, -1L)
    var waited = 0
    while (((started, ended, execEvents) != last || started != ended) && waited < 20000) {
      last = (started, ended, execEvents)
      Thread.sleep(50)
      waited += 50
    }
  }

  def toJson: String = lock.synchronized {
    import Json._
    obj(
      "sites" -> arr(sites.map(str)),
      "jobs" -> arr(jobs.values.map(j => obj("id" -> num(j.id), "t0" -> num(j.t0),
        "t1" -> num(j.t1), "exec" -> num(j.exec), "site" -> num(j.site),
        "stages" -> arr(j.stages.map(num(_))), "ok" -> bool(j.ok)))),
      "stages" -> arr(stages.values.toSeq.sortBy(_.id).map(s => obj("id" -> num(s.id),
        "task_ms" -> num(s.taskMs), "tasks" -> arr(s.tasks.map(num(_))),
        "shuffle_write" -> num(s.shuffleWrite), "spill" -> num(s.spill),
        "out_bytes" -> num(s.outBytes)))),
      "execs" -> arr(execs.values.map(x => obj("id" -> num(x.id), "t0" -> num(x.t0),
        "t1" -> num(x.t1), "site" -> num(x.site)))),
      "planning" -> arr(planning.toSeq.sortBy(_._1).map { case (id, (ms, files)) =>
        obj("id" -> num(id), "ms" -> num(ms), "files" -> num(files)) }))
  }
}

object Tracer {
  final case class Job(id: Int, t0: Long, var t1: Long, exec: Long, site: Int,
                       stages: Seq[Int], var ok: Boolean)
  final case class Stage(id: Int, var taskMs: Long = 0L, tasks: mutable.ArrayBuffer[Long] =
                           mutable.ArrayBuffer.empty, var shuffleWrite: Long = 0L,
                         var spill: Long = 0L, var outBytes: Long = 0L)
  final case class Exec(id: Long, t0: Long, site: Int, var t1: Long = -1L)
}
