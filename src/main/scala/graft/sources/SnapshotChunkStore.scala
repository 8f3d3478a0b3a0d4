package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Snapshots

/** The chunk store: a keyed sink with upsert / delete-by-document semantics
  * (reference protocol `domain/vector_store.py:11-63`) — upsert by chunkId,
  * delete by documentId, full scan, counts — the surface every pipeline
  * stage programs against, backed by a manifest-log SNAPSHOT TABLE:
  *
  *  - **a delta = ONE merge-on-read commit** ([[Snapshots.mergeMor]]):
  *    live chunks whose chunkId an upsert carries, or whose document is
  *    retired, gain deletion-vector positions, and the upserted chunks
  *    land as one fresh file group — ZERO data files rewritten, one
  *    manifest, one pointer swap per [[applyDelta]]; `maintain()` absorbs
  *    the vectors. Candidates are dismissed by per-file min/max key stats,
  *    and optimistic concurrency REBASES over concurrent commits that only
  *    added files outside the delta's key bounds; a writer whose keys a
  *    concurrent commit may hold fails with a conflict instead of losing
  *    rows. `upsert` and `deleteByDocuments` are the delta's one-sided
  *    cases.
  *  - **Also**: time travel ([[readAt]]), the row-level changelog,
  *    exactly-once txn markers, snapshot-isolated readers, and
  *    [[SnapshotStream]] streaming consumption.
  *
  * Plain parquet and JSON-lines chunk directories (the reference's JSONL
  * store, or a legacy `doc_prefix=`-bucketed layout) move in and out
  * through `lg migrate` ([[graft.ops.Ops.migrate]]), which reads them with
  * [[SnapshotChunkStore.storedSchema]].
  */
final class SnapshotChunkStore(val path: String) extends Serializable {
  import SnapshotChunkStore.{chunkCols, emptyChunks}

  def exists(spark: SparkSession): Boolean =
    Snapshots.currentVersion(path).isDefined

  private def ensure(spark: SparkSession): Unit =
    if (!exists(spark)) Snapshots.create(spark, path)

  /** Key + routing columns get manifest stats; the wide text/embedding
    * columns stay out of the manifest (bounded metadata at any scale).
    */
  private val statsCols =
    Seq("chunkId", "documentId", "datasetName", "tokenCount", "chunkIndex")

  /** S4/S5: full store scan (chunk columns only); a missing store reads
    * empty.
    */
  def read(spark: SparkSession): DataFrame =
    if (!exists(spark)) emptyChunks(spark)
    else {
      val df = Snapshots.read(spark, path)
      if (df.columns.isEmpty) emptyChunks(spark) else df.select(chunkCols.map(col): _*)
    }

  /** Time travel over the chunk store — a version's exact contents. */
  def readAt(spark: SparkSession, version: Long): DataFrame =
    Snapshots.read(spark, path, Some(version)).select(chunkCols.map(col): _*)

  /** K1/J3: upsert — new chunks replace stored chunks with equal chunkId. */
  def upsert(spark: SparkSession, chunks: DataFrame): Unit =
    applyDelta(spark, Some(chunks), None)

  /** K3: delete all chunks of the documents in `docs` (a `docId` column —
    * any size; never collected); returns the number of chunks deleted.
    */
  def deleteByDocuments(spark: SparkSession, docs: DataFrame): Long =
    if (!exists(spark)) 0L else commitDelta(spark, None, Some(docs)).rowsDeleted

  /** K3 convenience for small id lists. */
  def deleteByDocumentIds(spark: SparkSession, docIds: Seq[String]): Long = {
    if (docIds.isEmpty) return 0L
    val s = spark
    import s.implicits._
    deleteByDocuments(spark, docIds.toDF("docId"))
  }

  /** One incremental delta: upsert `upserts` by chunkId, then delete every
    * chunk of the documents in `retireDocs` (a `docId` column) — retirement
    * wins over a same-delta upsert — as ONE atomic commit.
    */
  def applyDelta(
      spark: SparkSession, upserts: Option[DataFrame], retireDocs: Option[DataFrame]): Unit =
    if (upserts.isDefined || (retireDocs.isDefined && exists(spark)))
      commitDelta(spark, upserts, retireDocs): Unit

  /** A2: chunk count. */
  def count(spark: SparkSession): Long = read(spark).count()

  /** A3: distinct document ids. */
  def distinctDocumentIds(spark: SparkSession): DataFrame =
    read(spark).select(col("documentId").as("docId")).distinct()

  private def commitDelta(
      spark: SparkSession, upserts: Option[DataFrame], retireDocs: Option[DataFrame]
  ): Snapshots.MergeStats = {
    ensure(spark)
    // MERGE requires unique source keys; resolve within-batch duplicates
    // by the overlay tie-break (chunkIndex descending)
    val w = Window.partitionBy(col("chunkId")).orderBy(col("chunkIndex").desc)
    val deduped = upserts.map(_.select(chunkCols.map(col): _*)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn"))
    Snapshots.mergeMor(spark, path, deduped, Seq("chunkId"),
      retireDocs.map(_.select(col("docId").as("documentId"))), Seq("documentId"),
      statsCols).get
  }

  /** Absorb deletion-vector debt + small-file debt, expire old versions —
    * the nightly call a long-lived store wants ([[Snapshots.maintain]]).
    */
  def maintain(spark: SparkSession, keepLast: Int = 7): (Long, Long, Long) =
    Snapshots.maintain(spark, path, keepLast = keepLast)
}

object SnapshotChunkStore {

  val chunkCols: Seq[String] = Seq(
    "chunkId", "documentId", "datasetName", "content", "tokenCount",
    "sectionHeading", "absoluteAddress", "splitReason", "parentChunkId",
    "sourceHash", "crossRefs", "chunkIndex",
    "embedding", "embeddingModel", "embeddedAt"
  )

  /** The chunk columns and types — the schema a parquet or JSON-lines chunk
    * directory is read with; `crossRefs` stays a native list in both, so
    * the CSV⇄list conversion of the reference (`cli.py:241-321`,
    * `models.py:115-116`) is only needed at foreign boundaries — see
    * [[graft.functions.TextFunctions.crossRefsToCsv]].
    */
  val storedSchema: StructType = StructType(Seq(
    StructField("chunkId", StringType),
    StructField("documentId", StringType),
    StructField("datasetName", StringType),
    StructField("content", StringType),
    StructField("tokenCount", IntegerType),
    StructField("sectionHeading", StringType),
    StructField("absoluteAddress", StringType),
    StructField("splitReason", StringType),
    StructField("parentChunkId", StringType),
    StructField("sourceHash", StringType),
    StructField("crossRefs", ArrayType(StringType)),
    StructField("chunkIndex", IntegerType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("embeddingModel", StringType),
    StructField("embeddedAt", StringType)
  ))

  def emptyChunks(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], storedSchema)
}
