package graft

import org.apache.spark.graft.StatusBridge

import graft.ops.JobCosts

/** Measurement harness (guide §1): runs ONE battery entry and prints every
  * Spark job's callsite + wall-clock, so a slow entry's time can be charged
  * to the specific operator step (build / walk / commit / checkpoint) that
  * spent it. Not part of the driver contract — a local profiling tool.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ProfileOne <query> [runs]"
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q1_pricing_summary")
    val runs = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    val costs = new JobCosts(si => {
      val dur = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L)
      if (dur > 400) {
        val m = si.taskMetrics
        println(f"    [stage ${si.stageId}%4d ${dur / 1000.0}%7.3f s  tasks=${si.numTasks}%-4d " +
          f"sr=${m.shuffleReadMetrics.recordsRead}%,d sw=${m.shuffleWriteMetrics.recordsWritten}%,d " +
          f"in=${m.inputMetrics.recordsRead}%,d run=${m.executorRunTime / 1000.0}%.2f " +
          f"cpu=${m.executorCpuTime / 1e9}%.2f gc=${m.jvmGCTime / 1000.0}%.2f " +
          f"deser=${m.executorDeserializeTime / 1000.0}%.2f  " +
          JobCosts.graftFrame(si).getOrElse(si.name) + "]")
      }
    })
    spark.sparkContext.addSparkListener(costs)

    // warmup identical to Bench
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().collect()
    } catch { case _: Throwable => () }

    val fn = SparkEntry.queries(name)
    (1 to runs).foreach { r =>
      costs.clearJobs()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      StatusBridge.quiesce(spark.sparkContext)
      val rows = costs.jobs
      println(f"\n===== $name run $r: $total%.2f s, ${rows.size} jobs =====")
      rows.foreach { case (id, site, sec) => println(f"  job $id%4d  $sec%7.3f s  $site") }
      val bySite = rows.groupBy(_._2).map { case (s, xs) => (s, xs.map(_._3).sum, xs.size) }
        .toSeq.sortBy(-_._2)
      println("  --- by callsite ---")
      bySite.take(25).foreach { case (s, sec, n) => println(f"  $sec%7.3f s  x$n%-3d  $s") }
      val jobSum = rows.map(_._3).sum
      println(f"  job time sum: $jobSum%.2f s of $total%.2f s wall (gap = driver/planning)")
    }
    spark.stop()
  }
}
