package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Identify
import graft.sources.SnapshotChunkStore
import graft.state.PipelineState

/** The thin job entry points mirroring the reference CLI (`cli.py`):
  * `lg status`, `lg validate`, `lg migrate` (SURVEY §3.2-3.3, §7 module 9).
  * `lg process` is [[graft.pipeline.Pipeline.run]]; `lg search` (absent from
  * the reference CLI) is [[graft.operators.Similarity]].
  */
object Ops {

  /** `lg status`: ledger + store counts (A2; reference `cli.py:333-347`). */
  final case class Status(processed: Long, failed: Long, storeChunks: Long, storeDocs: Long)

  def status(spark: SparkSession, statePath: String, store: SnapshotChunkStore): Status = {
    val state = new PipelineState(statePath).load(spark)
    val byStatus = state.groupBy(col("status")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Status(
      processed = byStatus.getOrElse("processed", 0L),
      failed = byStatus.getOrElse("failed", 0L),
      storeChunks = store.count(spark),
      storeDocs = store.distinctDocumentIds(spark).count()
    )
  }

  /** `lg validate`: state ⟷ store doc-id consistency (J2/SO1; reference
    * `validation_service.py:43-65`, report truncation L2 `cli.py:455-470`).
    */
  final case class Validation(isConsistent: Boolean, stateOnly: Seq[String], storeOnly: Seq[String])

  def validate(spark: SparkSession, statePath: String, store: SnapshotChunkStore, reportLimit: Int = 10): Validation = {
    val stateIds = new PipelineState(statePath).load(spark)
      .filter(col("status") === "processed").select(col("docId"))
    val diff = Identify.validate(stateIds, store.distinctDocumentIds(spark)).cache()
    try {
      def side(s: String): Seq[String] =
        diff.filter(col("side") === s).orderBy(col("docId")).limit(reportLimit)
          .collect().map(_.getString(0)).toSeq
      val stateOnly = side("state_only")
      val storeOnly = side("store_only")
      Validation(stateOnly.isEmpty && storeOnly.isEmpty, stateOnly, storeOnly)
    } finally { diff.unpersist(); () }
  }

  /** `lg migrate`: chunk import/export (K5; reference `cli.py:166-329`).
    * A `snapshot` side is the chunk store — read whole, or written as ONE
    * upsert commit. A `parquet`/`json` side is a plain chunk directory,
    * read with [[SnapshotChunkStore.storedSchema]] (JSON `PERMISSIVE`:
    * corrupt lines are dropped, as the reference skips them with a warning,
    * `jsonl_vector_store.py:197-226`; partition columns such as a bucketed
    * layout's `doc_prefix` are dropped) and written by a plain `df.write`
    * that fails if the directory exists. Returns the rows moved.
    */
  def migrate(
      spark: SparkSession, src: String, srcFormat: String, dst: String, dstFormat: String): Long = {
    Seq(srcFormat, dstFormat).foreach(f => require(MigrateFormats.contains(f),
      s"migrate format must be one of ${MigrateFormats.mkString(", ")}, got '$f'"))
    val rows = srcFormat match {
      case "snapshot" => new SnapshotChunkStore(src).read(spark)
      case fmt =>
        spark.read.schema(SnapshotChunkStore.storedSchema).option("mode", "PERMISSIVE")
          .format(fmt).load(src)
          .select(SnapshotChunkStore.chunkCols.map(col): _*)
          .filter(col("chunkId").isNotNull)
    }
    dstFormat match {
      case "snapshot" => new SnapshotChunkStore(dst).upsert(spark, rows)
      case fmt => rows.write.format(fmt).save(dst)
    }
    rows.count()
  }

  private val MigrateFormats: Seq[String] = Seq("snapshot", "parquet", "json")

  /** Hadoop-Configuration holder that survives task serialization: the
    * stock `Configuration` is not `Serializable`, but it is `Writable` —
    * the round-trip below is the standard workaround.
    */
  private final class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** F5: the file-exists guard — rows whose `path` does not resolve become
    * failure records instead of aborting the run (reference
    * `file_processing_service.py:63-69`). Executed distributed AND
    * cluster-correct: the probe goes through `org.apache.hadoop.fs.FileSystem`
    * under the session's Hadoop configuration (`file:`, `hdfs:`, `s3a:`, …),
    * not `java.io.File` — at cluster scale paths live on shared storage, and
    * an executor-local POSIX check would flag every remote path missing.
    * One mapPartitions pass over the rows; filesystem handles come from
    * Hadoop's per-JVM (scheme, authority) cache, so a partition pays at most
    * one handle per distinct filesystem it touches. A null path keeps
    * `error` null — the original `concat('file not found: ', NULL) = NULL`
    * behavior the guard's callers and oracle pin.
    */
  def withExistsGuard(df: DataFrame, pathCol: String): DataFrame = {
    val base = if (df.columns.contains("error")) df.drop("error") else df
    val conf = new SerializableHadoopConf(base.sparkSession.sparkContext.hadoopConfiguration)
    val idx = base.schema.fieldIndex(pathCol)
    val schema = org.apache.spark.sql.types.StructType(
      base.schema.fields :+ org.apache.spark.sql.types.StructField(
        "error", org.apache.spark.sql.types.StringType, nullable = true))
    val guarded = base.rdd.mapPartitions { rows =>
      rows.map { r =>
        val p = r.getString(idx)
        val err =
          if (p == null) null
          else
            try {
              val hp = new org.apache.hadoop.fs.Path(p)
              if (hp.getFileSystem(conf.value).exists(hp)) null
              else s"file not found: $p"
            } catch {
              // empty or malformed path strings are unresolvable, not fatal
              case _: IllegalArgumentException => s"file not found: $p"
            }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ err)
      }
    }
    base.sparkSession.createDataFrame(guarded, schema)
  }
}
