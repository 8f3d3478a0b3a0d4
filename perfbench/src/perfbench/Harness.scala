package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One benchmark run in one fresh JVM: the session, the timers, the traced
  * operations and the metrics it reports.
  *
  * Closed loop, one client: the next operation starts when the previous one
  * returned. In a traced run every operation is traced; its overhead is the
  * traced run's `trace.op_p50_ms` minus the untraced run's `op_p50_ms` for
  * the same seed.
  */
final class Harness(
    val spark: SparkSession,
    val work: Path,
    val state: Path,
    val seed: Long,
    val seconds: Double,
    val tracing: Boolean,
    val cores: Int) {

  val tracer: Tracer = new Tracer(spark.sparkContext)
  val listener: JobListener = new JobListener(Harness.Modules.toSet)
  if (tracing) spark.sparkContext.addSparkListener(listener)

  private var traceThisOp = false
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val record = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0
  var failed = 0

  def metric(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics(name) = (value, unit)
  }

  /** Output check: a failed check counts as a failed operation. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; Console.err.println(s"[perfbench] CHECK FAILED: $what") }
  }

  /** A public call (plus the action that materialises it): a span when
    * the current operation is traced.
    */
  def call[T](name: String)(body: => T): T =
    if (traceThisOp) tracer.span(name)(body) else body

  // ------------------------------------------------------------------ setup

  /** Set up `rounds` times in fresh directories and keep the last; the
    * reported set-up time is session start plus the median round.
    */
  def setup[S](sessionS: Double, rounds: Int)(f: Path => S): S = {
    var last: Option[S] = None
    val times = (0 until rounds).map { i =>
      val dir = work.resolve(s"setup-$i")
      val t0 = System.nanoTime()
      last = Some(f(dir))
      val s = (System.nanoTime() - t0) / 1e9
      if (i < rounds - 1) Harness.rmrf(dir)
      s
    }
    record("setup_rounds_s") = times.map(t => f"$t%.3f").mkString("[", ",", "]")
    metric("setup_s", sessionS + Harness.median(times), "s")
    last.get
  }

  /** Read-only state built once per checkout and program version (a fixed
    * base corpus already loaded by the program), like the program build
    * itself, by [[Workloads.prepare]] in a JVM of its own; its time is
    * recorded there, not counted as set-up.
    */
  def prebuilt(workload: String): Path = {
    val dir = state.resolve(Workloads.stateName(workload).get)
    require(Files.exists(dir.resolve("_READY")), s"no prebuilt state at $dir")
    dir
  }

  // ---------------------------------------------------------- measured loop

  val ops = mutable.ArrayBuffer.empty[Harness.Op]

  /** Run `body(i)` until `seconds` have passed, and at least `minOps`
    * times.
    * `body` returns the milliseconds that count as the operation's
    * latency; glue around the timed part (staging inputs, per-op checks)
    * runs inside the operation's span but outside its latency.
    */
  def loop(workload: String, minOps: Int)(body: Int => Double): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      traceThisOp = tracing
      var span: Option[Span] = None
      attempted += 1
      try {
        val ms =
          if (traceThisOp) tracer.span(s"bench.$workload.op") {
            span = tracer.spans.lastOption
            body(i)
          } else body(i)
        ops += Harness.Op(ms, traceThisOp, span)
      } catch {
        case e: Exception =>
          failed += 1
          Console.err.println(s"[perfbench] operation $i failed: $e")
          e.printStackTrace()
      } finally traceThisOp = false
      i += 1
    }
    record("window_s") = f"${(System.nanoTime() - t0) / 1e9}%.3f"
  }

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  // ----------------------------------------------------- traced-run rollup

  /** Engine and per-module numbers over the traced operations, per op. */
  def traceMetrics(): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    val traced = ops.filter(_.traced).flatMap(_.span).toSeq
    val n = math.max(1, traced.size).toDouble
    val jobsByRoot = listener.synchronized(listener.jobs.values.toSeq)
      .filter(_.end >= 0).groupBy(j => tracer.root(tracer.spans(j.span)).id)
    def jobsOf(op: Span): Seq[JobRec] = jobsByRoot.getOrElse(op.id, Nil)
    val allJobs = traced.flatMap(jobsOf)
    val stages = listener.stagesOf(allJobs)
    val opWallMs = traced.map(_.dur).sum.toDouble
    val busyMs = stages.map(_.busyMs).sum.toDouble

    metric("spark.jobs", allJobs.size / n, "count")
    metric("spark.tasks", stages.map(_.tasks).sum / n, "count")
    metric("spark.task_busy_s", busyMs / 1000 / n, "s")
    metric("spark.task_cpu_s", stages.map(_.cpuNs).sum / 1e9 / n, "s")
    metric("spark.task_wait_s", stages.map(_.waitMs).sum / 1000.0 / n, "s")
    metric("spark.driver_gap_s", traced.map { op =>
      op.dur - Tracer.covered(jobsOf(op).map(j => (j.start, j.end)), op.start, op.end)
    }.sum / 1000.0 / n, "s")
    metric("spark.core_util", if (opWallMs > 0) busyMs / (cores * opWallMs) else 0.0, "ratio")
    metric("spark.shuffle_write_mb", stages.map(_.shuffleWrite).sum / 1e6 / n, "MB")
    metric("spark.spill_mb", stages.map(_.spill).sum / 1e6 / n, "MB")
    val skewed = stages.filter(_.durations.size >= 2)
    val skewW = skewed.map(_.busyMs.toDouble).sum
    metric("spark.skew_max_over_median",
      if (skewW <= 0) 1.0
      else skewed.map { s =>
        val d = s.durations.sorted
        d.last.toDouble / math.max(1L, d(d.size / 2)) * s.busyMs / skewW
      }.sum, "ratio")
    metric("spark.persisted_rdds_left", spark.sparkContext.getPersistentRDDs.size.toDouble, "count")

    Harness.Modules.foreach { m =>
      val js = allJobs.filter(j => listener.moduleOf(j).getOrElse(tracer.spans(j.span).module) == m)
      metric(s"$m.job_s", js.map(j => j.end - j.start).sum / 1000.0 / n, "s")
      metric(s"$m.jobs", js.size / n, "count")
      metric(s"$m.shuffle_mb", listener.stagesOf(js).map(_.shuffleWrite).sum / 1e6 / n, "MB")
    }

    val coveredMs = traced.map { op =>
      Tracer.covered(tracer.children(op).map(c => (c.start, c.end)), op.start, op.end)
    }.sum
    metric("trace.span_coverage", if (opWallMs > 0) coveredMs / opWallMs else 0.0, "ratio")
    metric("trace.op_p50_ms", Harness.median(ops.filter(_.traced).map(_.ms).toSeq), "ms")
    metric("trace.traced_ops", traced.size.toDouble, "count")
  }

  /** Records read by the jobs under spans named `name`, per result row. */
  def rowsReadPerResult(name: String, results: Long): Double = {
    val js = listener.synchronized(listener.jobs.values.toSeq)
      .filter(j => tracer.spans(j.span).name == name)
    if (results <= 0) 0.0 else listener.stagesOf(js).map(_.recordsRead).sum.toDouble / results
  }

  def jobsUnder(name: String): Int =
    listener.synchronized(listener.jobs.values.count(j => tracer.spans(j.span).name == name))

  /** Spans and their jobs, written when the run ends. */
  def writeTrace(path: Path): Unit = {
    val jobs = listener.synchronized(listener.jobs.values.toSeq)
    val bySpan = jobs.groupBy(_.span)
    val spanJson = tracer.spans.map { s =>
      val self = s.dur - Tracer.covered(tracer.children(s).map(c => (c.start, c.end)), s.start, s.end)
      val js = bySpan.getOrElse(s.id, Nil)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.start},""" +
        s""""end_ms":${s.end},"self_ms":$self,"jobs":${js.size},""" +
        s""""job_modules":${Harness.jsonStrings(js.map(j => listener.moduleOf(j).getOrElse("-")))}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, spanJson.mkString("{\"spans\":[\n", ",\n", "\n]}\n").getBytes("UTF-8"))
  }
}

object Harness {

  final case class Op(ms: Double, traced: Boolean, span: Option[Span])

  /** The graft modules jobs are rolled up into. */
  val Modules: Seq[String] = Seq(
    "cli.GraftCli", "pipeline.Pipeline",
    "sources.LovligState", "sources.XmlFiles", "sources.ChunkStore",
    "sources.SnapshotChunkStore", "sources.Warc",
    "state.PipelineState",
    "operators.Identify", "operators.Snapshots", "operators.Similarity",
    "operators.TextSearch", "operators.GraphAnn", "operators.Dedup",
    "operators.QualityFilters", "operators.LanguageModel", "operators.Sampling",
    "operators.Pretrain",
    "ops.Ops")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** (bytes, files) of every regular file under `p` matching `keep`. */
  def du(p: Path, keep: Path => Boolean = _ => true): (Long, Int) =
    if (!Files.exists(p)) (0L, 0)
    else {
      val s = Files.walk(p)
      try {
        var b = 0L; var n = 0
        s.filter(Files.isRegularFile(_)).filter(x => keep(x)).forEach { x => b += Files.size(x); n += 1 }
        (b, n)
      } finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def mb(paths: Path*): Double = paths.map(du(_)._1).sum / 1e6

  def jsonString(x: String): String = x.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def jsonStrings(xs: Seq[String]): String = xs.map(jsonString).mkString("[", ",", "]")
}
