package graft.ops

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** What a driver's Spark work cost, as a listener: each finished job's
  * wall-clock charged to its callsite (the SQL execution's description,
  * else the innermost graft frame of its stages, else the last stage's
  * name), and the shuffle bytes written by every completed stage.
  * `ProfileOne` prints the jobs per run; `Bench` reads per-query shuffle
  * bytes as the difference of [[shuffleWriteBytes]] around the query
  * (drain the bus first, `StatusBridge.quiesce`).
  *
  * @param onStage called for every completed stage (e.g. to print slow ones)
  */
final class JobCosts(onStage: StageInfo => Unit = _ => ()) extends SparkListener {

  private val execDesc = new ConcurrentHashMap[Long, String]()
  private val running = new ConcurrentHashMap[Int, (String, Long)]()
  private val done = new ConcurrentLinkedQueue[(Int, String, Double)]()
  private val shuffleWritten = new AtomicLong(0L)

  /** Shuffle bytes written by every stage completed so far. */
  def shuffleWriteBytes: Long = shuffleWritten.get()

  /** (job id, callsite, seconds) of the jobs finished since the last
    * [[clearJobs]], by job id.
    */
  def jobs: Seq[(Int, String, Double)] = done.asScala.toSeq.sortBy(_._1)

  def clearJobs(): Unit = done.clear()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => execDesc.put(e.executionId, e.description)
    case e: SparkListenerSQLExecutionEnd => execDesc.remove(e.executionId)
    case _ => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val byExec = Option(js.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execDesc.get(id.toLong)))
    val infos = js.stageInfos.sortBy(_.stageId)
    val site = byExec
      .orElse(infos.reverseIterator.flatMap(JobCosts.graftFrame).nextOption())
      .orElse(infos.lastOption.map(_.name))
      .getOrElse("?")
    running.put(js.jobId, (site, js.time))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(running.remove(je.jobId)).foreach { case (site, t0) =>
      done.add((je.jobId, site, (je.time - t0) / 1000.0))
    }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    Option(sc.stageInfo.taskMetrics)
      .foreach(m => shuffleWritten.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    onStage(sc.stageInfo)
  }
}

object JobCosts {

  /** The innermost graft frame of a stage's creation site, skipping the
    * profiling main itself.
    */
  def graftFrame(si: StageInfo): Option[String] =
    si.details.linesIterator
      .find(l => l.contains("graft.") && !l.contains("ProfileOne"))
      .map(_.trim.stripPrefix("at ").takeWhile(_ != ')') + ")")
}
