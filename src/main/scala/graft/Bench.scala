package graft

import org.apache.spark.graft.StatusBridge

import graft.ops.JobCosts

/** Benchmark main: runs every battery query on SPARK_GRAFT_SF_DIR and prints
  * one JSON line of per-query wall-clock seconds. Failures are surfaced per
  * query (stderr + a negative time), never swallowed silently.
  *
  * Contention robustness: each query runs SPARK_GRAFT_BENCH_RUNS times
  * (default 3) and reports the MEDIAN, with per-query max−min in a `spread`
  * map — a single stolen-CPU outlier no longer distorts the artifact (round-5
  * lesson: one contended run read 116s for a 4s query). Queries whose first
  * run exceeds SPARK_GRAFT_BENCH_MAXSEC (default 20s) get exactly ONE retry
  * and report the MIN of the two — a single contended first shot no longer
  * lands a 50s reading for a 5s query (round-13 artifact: two spread=0.0
  * outliers), while a genuinely slow query still costs at most 2× not 3×.
  */
object Bench {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    val costs = new JobCosts()
    spark.sparkContext.addSparkListener(costs)
    // untimed warmup: JIT + whole-stage-codegen compiler + parquet reader
    // init otherwise land on whichever query happens to run first
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().collect()
    } catch { case _: Throwable => () }
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val maxSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXSEC", "20").toDouble
    // same targeted-subset hook Verify honors (comma-separated query names)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    // measured data movement per query (shuffle write MB on the FIRST run):
    // at scale the shuffle-byte count is the cost model, so the artifact
    // carries it alongside wall-clock
    def shuffleWritten(): Long = {
      StatusBridge.quiesce(spark.sparkContext)
      costs.shuffleWriteBytes
    }
    val results = selected.map { case (name, fn) =>
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var failed = false
      var i = 0
      var shuffleMb = 0.0
      // above MAXSEC: one retry, min-of-2 (contention detector); below: full
      // median-of-runs protection
      def wantMore: Boolean =
        if (times.head <= maxSec) i < runs else i < 2.min(runs)
      while (!failed && (i == 0 || wantMore)) {
        val sw0 = if (i == 0) shuffleWritten() else 0L
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
            failures += name
            failed = true
        }
        times += (System.nanoTime() - t0) / 1e9
        if (i == 0 && !failed) shuffleMb = (shuffleWritten() - sw0) / 1e6
        i += 1
      }
      // min-of-2 under the MAXSEC retry path (the second run is the
      // uncontended reading when the first was a contention artifact)
      val med =
        if (!failed && times.head > maxSec && times.size > 1) times.min
        else median(times.toSeq)
      (name, if (failed) -med else med, times.max - times.min, shuffleMb)
    }
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val spreads = results.map { case (k, _, sp, _) => "\"" + k + "\":" + f"$sp%.3f" }
      .mkString("{", ",", "}")
    val shuffles = results.map { case (k, _, _, mb) => "\"" + k + "\":" + f"$mb%.1f" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, _, _) if v >= 0 => v }.sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spreads,"shuffle_mb":$shuffles,"runs":$runs,"sf":"$sfDir","failed":${failures.length}}"""
    // The driver keeps only a ~2,000-char TAIL of stdout, so a full-battery
    // line never parses (round-11/12 artifact gap: parsed=null). Stdout
    // therefore carries a compact line — the SLOWEST queries, which are the
    // ones a regression check reads — sized under the tail window, with the
    // complete per-query/spread/shuffle maps persisted to target/bench.json.
    val budget = 1900
    val byCost = results.sortBy { case (_, v, _, _) => -math.abs(v) }
    def render(k: Int): String = {
      val top = byCost.take(k).map { case (n, v, _, _) => "\"" + n + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$top,""" +
        s""""queries_omitted":${results.size - k},"artifact":"target/bench.json",""" +
        s""""runs":$runs,"sf":"$sfDir","failed":${failures.length}}"""
    }
    var k = results.size
    while (k > 1 && render(k).length > budget) k -= 1
    println(if (line.length <= budget) line else render(k))
    try {
      val out = java.nio.file.Paths.get("target/bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] artifact write failed: $e") }
    spark.stop()
  }
}
