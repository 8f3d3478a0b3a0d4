package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** Benchmark entry: one workload, one seed, one fresh JVM.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --state <dir> [--commit <sha>] [--source-sha <sha>]
  *        perfbench.Main --prepare 1 --workload all ... builds every workload's
  *          prebuilt state and runs one small crawl operation (so the classes
  *          every workload loads are in the JVM's class-data archive when it
  *          is dumped at exit), and exits
  *
  * Prints a `{"record": ...}` line (seed, host, versions, input shares) and
  * then, as the last line, `{"correct", "attempted", "failed", "metrics"}`
  * with every metric the run measured. Exits 1 when an output check failed.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val prepare = opt.get("prepare").contains("1")
    require(Workloads.Names.contains(workload) || prepare && workload == "all", s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val tracing = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath.normalize
    val state = Paths.get(opt("state")).toAbsolutePath.normalize
    Harness.rmrf(work.resolve("run"))

    val nproc = Runtime.getRuntime.availableProcessors()
    val n = math.min(4, nproc)
    // confs copied from graft.cli.GraftCli.main (and the -Dspark.ui.enabled=false
    // its launcher passes); only the master width and the scratch dir differ
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val h = new Harness(spark, work.resolve("run"), state, seed, seconds, tracing, n)
    if (prepare) {
      try Workloads.prepare(h) finally spark.stop()
      Console.err.println(s"[perfbench] prepared ${h.record.mkString(", ")}")
      return
    }
    h.record("workload") = workload
    h.record("seed") = seed.toString
    h.record("trace") = if (tracing) "1" else "0"
    h.record("nproc") = nproc.toString
    h.record("local_n") = n.toString
    h.record("heap_mb") = (Runtime.getRuntime.maxMemory / (1 << 20)).toString
    h.record("spark") = spark.version
    h.record("scala") = scala.util.Properties.versionNumberString
    h.record("java") = System.getProperty("java.version")
    h.record("commit") = opt.getOrElse("commit", "unknown")
    h.record("source_sha256") = opt.getOrElse("source-sha", "unknown")
    h.record("session_s") = f"$sessionS%.3f"

    var crashed: Option[Throwable] = None
    try {
      Workloads.run(workload, h, sessionS)
      if (tracing) {
        h.traceMetrics()
        h.metric("failed_ops_frac", h.failed.toDouble / math.max(1, h.attempted), "ratio")
        h.writeTrace(work.resolve(s"trace-$workload-$seed.json"))
        h.record("trace_file") = work.resolve(s"trace-$workload-$seed.json").toString
      }
    } catch { case e: Throwable => crashed = Some(e) }
    finally spark.stop()

    crashed.foreach { e =>
      e.printStackTrace()
      System.exit(2)
    }
    println(h.record.map { case (k, v) => s""""$k":${Harness.jsonString(v)}""" }
      .mkString("{\"record\":{", ",", "}}"))
    val ms = h.metrics.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }.mkString(",")
    val correct = h.failed == 0 && h.attempted > 0
    println(s"""{"correct":$correct,"attempted":${h.attempted},"failed":${h.failed},"metrics":{$ms}}""")
    System.out.flush()
    System.exit(if (correct) 0 else 1)
  }
}
