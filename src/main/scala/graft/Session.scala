package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one way a graft entry point builds its SparkSession: the CLI, the
  * `Bench`/`Verify` driver contract, the probes and the test suite all get
  * the engine configuration that `Bench` times and `Verify` validates.
  *
  * Every default is applied with `SparkConf.setIfMissing`, so Spark's own
  * settings win: `spark-submit --master/--conf` and its
  * `spark-defaults.conf`, and `-Dspark.*` system properties. The only
  * graft-specific knob is the width (`SPARK_GRAFT_CPUS`, else the host's
  * cores), which sets the local master and the shuffle partition count
  * together.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the number of cores the JVM sees. */
  private def defaultWidth: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  private def defaults(width: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$width]",
    "spark.sql.shuffle.partitions" -> width.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.expressions.GraftExtensions",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    // Spark 4.1's checkpoint-file checksums serialize every state-store
    // commit through a tiny per-manager thread pool: thread dumps showed
    // 32-partition stream-stream joins spending ~2.4 s/task parked in
    // ChecksumCheckpointFileManager.awaitResult (~80 ms of actual CPU), and
    // the blocking grows with state-partition count. The checksums guard
    // unreliable checkpoint storage and change no query result: turn them
    // back on for checkpoints on object stores (OPTIMIZATION_r14.md §3).
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    // FileOutputCommitter v2: tasks publish their files directly instead of
    // the v1 job-commit loop that renames every output file serially on the
    // driver (a 480-file partitionBy write spent 3 s of its 4 s there). v2
    // task commits are not atomic under task-commit failure: use v1 where
    // that atomicity is load-bearing (OPTIMIZATION_r15.md).
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "spark.ui.enabled" -> "false")

  /** `base` with every default it does not already set. `new SparkConf()`
    * has already loaded the `spark.*` system properties, which is where
    * `spark-submit` and `-D` settings land.
    */
  def conf(width: Int, base: SparkConf = new SparkConf()): SparkConf = {
    defaults(width).foreach { case (k, v) => base.setIfMissing(k, v) }
    base
  }

  /** The process's session at `width` (idempotent: a second call returns
    * the running session), logging at WARN.
    */
  def apply(width: Int = defaultWidth): SparkSession = {
    val spark = SparkSession.builder().config(conf(width)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
