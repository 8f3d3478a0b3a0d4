package graft.state

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Try

/** S3/K4: the incremental-processing ledger — one row per document
  * (reference `state.py:1-97`: `processed`/`failed` dicts, corrupt→empty
  * fallback at 43-59, atomic tmp+rename save at 61-75).
  *
  * Storage is status-partitioned parquet (`status=processed/`,
  * `status=failed/`), docId-sorted within files. The ledger never touches
  * the driver: load is a lazy distributed scan, save is a distributed write
  * — at the 100 TB north star (~10⁸ documents) the ledger is multi-GB, past
  * any driver heap or broadcast ceiling. The J1 anti-join against it is
  * size-adaptive: AQE broadcasts the processed side while it fits and
  * falls back to a shuffle join beyond that (see
  * [[graft.operators.Identify.identifyFiles]]).
  *
  * The reference saves after every file; Spark's unit of durability is the
  * job/microbatch, so we commit once per batch after the store writes
  * succeed — preserving the observable invariant (state ⟺ store
  * consistency, failed docs retried, SURVEY §7 "atomicity semantics shift").
  */
final class PipelineState(val path: String) extends Serializable {

  import PipelineState._

  private def fs(spark: SparkSession) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Load the ledger; a missing or corrupted state yields an empty ledger
    * (reference `state.py:58-59`).
    *
    * The read is lazy and distributed (no `collect`): corruption is surfaced
    * by a cheap probe count — parquet answers it from footer metadata — so
    * the empty-ledger fallback still applies here rather than blowing up an
    * arbitrary downstream action. The stored format is sniffed from the part
    * files, so legacy JSON ledgers still read.
    *
    * A save that crashed between deleting the old ledger and renaming the
    * new one into place leaves only `<path>.tmp`. When that write completed
    * (its `_SUCCESS` marker is there) it IS the latest ledger, so it is
    * promoted to `<path>` first; loading empty instead would reprocess the
    * whole corpus. An incomplete `.tmp` is a crashed write and stays
    * ignored (the next save clears it).
    */
  def load(spark: SparkSession): DataFrame = {
    val f = fs(spark)
    val dst = new Path(path)
    val tmp = new Path(path + ".tmp")
    if (!f.exists(dst) && f.exists(new Path(tmp, "_SUCCESS"))) f.rename(tmp, dst): Unit
    if (!f.exists(dst)) empty(spark)
    else {
      // the path is rewritten in place by save(): drop any cached file
      // listing/data for it before re-reading
      spark.catalog.refreshByPath(path)
      Try {
        val d =
          if (hasParquetParts(f)) spark.read.schema(stateSchema).parquet(path)
          else spark.read.schema(stateSchema)
            .option("mode", "PERMISSIVE").json(path)
        d.count() // corruption probe; footer-only on parquet
        d.filter(col("docId").isNotNull).select(stateSchema.fieldNames.map(col): _*)
      }.getOrElse(empty(spark))
    }
  }

  private def hasParquetParts(f: org.apache.hadoop.fs.FileSystem): Boolean =
    Try {
      val it = f.listFiles(new Path(path), true)
      var found = false
      while (!found && it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) found = true
      }
      found
    }.getOrElse(false)

  /** Atomic commit: write to `<path>.tmp`, then swap (reference `state.py:72-75`);
    * a crash mid-swap is recovered by [[load]].
    * The write stays distributed — one file per task per status, docId-sorted
    * so point lookups prune parquet row groups; no `coalesce(1)` funnel.
    */
  def save(spark: SparkSession, state: DataFrame): Unit = {
    val f = fs(spark)
    val tmp = new Path(path + ".tmp")
    val dst = new Path(path)
    if (f.exists(tmp)) f.delete(tmp, true)
    state.select(stateSchema.fieldNames.map(col): _*)
      .sortWithinPartitions(col("status"), col("docId"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("status").parquet(tmp.toString)
    if (f.exists(dst)) f.delete(dst, true)
    f.rename(tmp, dst)
    spark.catalog.refreshByPath(path)
  }

  /** Mark docs processed: upsert by docId with status=processed, clearing any
    * prior failure (reference `state.py:83-89`).
    */
  def markProcessed(spark: SparkSession, state: DataFrame, done: DataFrame): DataFrame =
    overlayByDoc(
      state,
      done.select(
        col("docId"), col("hash"),
        lit("processed").as("status"), isoNow().as("at"),
        lit(null).cast("string").as("error")
      )
    )

  /** Mark docs failed — failures never enter the processed side, so J1
    * retries them (reference `state.py:91-97`, J4).
    */
  def markFailed(spark: SparkSession, state: DataFrame, failed: DataFrame): DataFrame =
    overlayByDoc(
      state,
      failed.select(
        col("docId"), col("hash"),
        lit("failed").as("status"), isoNow().as("at"),
        coalesce(col("error"), lit("unknown")).as("error")
      )
    )

  /** Remove docs from the ledger entirely (tombstone cleanup,
    * reference `state.py:99-102`). No broadcast hint: AQE broadcasts the
    * tombstone side while it is small and shuffles when it is not.
    */
  def remove(state: DataFrame, docIds: DataFrame): DataFrame =
    state.join(docIds.select("docId"), Seq("docId"), "left_anti")

  /** A2: `{processed: n, failed: n}` (reference `state.py:104-109`). */
  def stats(state: DataFrame): DataFrame =
    state.groupBy(col("status")).agg(count(lit(1)).as("n"))

  private def overlayByDoc(state: DataFrame, updates: DataFrame): DataFrame =
    state.join(updates.select("docId"), Seq("docId"), "left_anti")
      .unionByName(updates)
}

object PipelineState {

  val stateSchema: StructType = StructType(Seq(
    StructField("docId", StringType),
    StructField("hash", StringType),
    StructField("status", StringType),
    StructField("at", StringType),
    StructField("error", StringType)
  ))

  /** C14: ISO-UTC second-resolution timestamp (reference `state.py:86-88`). */
  def isoNow(): org.apache.spark.sql.Column =
    date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss'Z'")

  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)
}
