package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** One span: a public call plus the action that materialises its result.
  * Times are epoch milliseconds, the clock Spark stamps job events with.
  */
final case class Span(id: Int, name: String, parent: Int, start: Long) {
  var end: Long = -1L
  def dur: Long = end - start
  /** `cli.GraftCli.search` -> `cli.GraftCli` */
  def module: String = name.split('.').take(2).mkString(".")
}

/** In-memory span recorder. Each open span's id is the Spark job group, so
  * the listener can attribute every job to the innermost span around it
  * (graft sets no job groups of its own).
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), System.currentTimeMillis())
    spans += s
    open = s :: open
    sc.setJobGroup(Tracer.group(s.id), name, interruptOnCancel = false)
    try body
    finally {
      s.end = System.currentTimeMillis()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def root(s: Span): Span = if (s.parent < 0) s else root(spans(s.parent))
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
}

object Tracer {
  private val prefix = "perfbench-span-"
  def group(id: Int): String = prefix + id
  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toInt)

  /** Total length of the union of [start, end) intervals, clipped to [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = 0L; var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Engine-side counters of one stage's tasks. */
final class StageAcc {
  var submitted = -1L
  var tasks = 0
  var busyMs = 0L
  var cpuNs = 0L
  var waitMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsRead = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(
    id: Int, span: Int, siteModule: Option[String], execution: Option[Long], start: Long, stages: Seq[Int]) {
  var end: Long = -1L
}

/** External listener: records the jobs that ran under a benchmark span, with
  * the graft module that triggered each (the first frame of Spark's recorded
  * call site that belongs to one of `modules`) and its stages' task counters.
  * Adaptive execution submits query stages from a thread pool whose call
  * sites hold no user frame; those jobs take the call site of their SQL
  * execution. Jobs outside spans (set-up, output checks) are ignored.
  */
final class JobListener(modules: Set[String]) extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageAcc]
  private val executions = mutable.HashMap.empty[Long, Option[String]]
  private val frame = """(?m)^graft\.([a-z]+)\.([A-Z][A-Za-z0-9]*)""".r

  def moduleOf(callSite: String): Option[String] =
    frame.findAllMatchIn(callSite).map(m => s"${m.group(1)}.${m.group(2)}").find(modules.contains)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    Tracer.spanOf(group).foreach { sp =>
      // the result stage carries this job's call site; parent stages may
      // have been created by an earlier job
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val exec = Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong)
      jobs(e.jobId) = JobRec(e.jobId, sp, moduleOf(site), exec, e.time, e.stageIds)
      e.stageIds.foreach(s => stages.getOrElseUpdate(s, new StageAcc))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized { executions(x.executionId) = moduleOf(x.details) }
    case _ => ()
  }

  def moduleOf(j: JobRec): Option[String] = synchronized {
    j.siteModule.orElse(j.execution.flatMap(executions.get).flatten)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { a =>
      a.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { a =>
      val ti = e.taskInfo
      a.tasks += 1
      a.durations += ti.duration
      if (a.submitted > 0) a.waitMs += math.max(0L, ti.launchTime - a.submitted)
      val m = e.taskMetrics
      if (m != null) {
        a.busyMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  /** Each stage counted once, under the first traced job that listed it. */
  def stagesOf(js: Seq[JobRec]): Seq[StageAcc] = synchronized {
    val owner = mutable.HashMap.empty[Int, Int]
    jobs.values.foreach(j => j.stages.foreach(s => owner.getOrElseUpdate(s, j.id)))
    js.flatMap(j => j.stages.filter(s => owner.get(s).contains(j.id)).flatMap(stages.get))
  }
}
