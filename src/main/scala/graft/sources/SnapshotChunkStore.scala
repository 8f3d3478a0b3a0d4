package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Snapshots

/** The keyed chunk store backed by a manifest-log SNAPSHOT TABLE — the
  * same [[KeyedChunkStore]] protocol as the bucket-swap [[ChunkStore]]
  * (reference `domain/vector_store.py:11-63`), re-expressed on the
  * engine's own table format so one discipline serves both keyed stores:
  *
  *  - **a delta = ONE merge-on-read commit** ([[Snapshots.mergeMor]]):
  *    live chunks whose chunkId an upsert carries, or whose document is
  *    retired, gain deletion-vector positions, and the upserted chunks
  *    land as one fresh file group — ZERO data files rewritten, one
  *    manifest, one pointer swap per [[applyDelta]]; `maintain()` absorbs
  *    the vectors. Candidates are dismissed by per-file min/max key stats
  *    instead of a fixed hash-bucket layout, and optimistic concurrency
  *    REBASES over disjoint concurrent appends instead of a store-wide
  *    lock. `upsert` and `deleteByDocuments` are the delta's one-sided
  *    cases — where the bucket store rewrites every touched bucket.
  *  - **Free on this backend**: time travel ([[readAt]]), the row-level
  *    changelog, exactly-once txn markers, snapshot-isolated readers, and
  *    [[SnapshotStream]] streaming consumption — none of which the
  *    bucket layout can express.
  *
  * The JSONL-tolerant scan (S4) and reference-shaped file layout remain
  * the bucket store's; migration between the two is
  * [[ChunkStore.migrate]] over the shared trait.
  */
final class SnapshotChunkStore(val path: String) extends KeyedChunkStore {
  import ChunkStore.{chunkCols, emptyChunks}

  override def exists(spark: SparkSession): Boolean =
    Snapshots.currentVersion(path).isDefined

  private def ensure(spark: SparkSession): Unit =
    if (!exists(spark)) Snapshots.create(spark, path)

  /** Key + routing columns get manifest stats; the wide text/embedding
    * columns stay out of the manifest (bounded metadata at any scale).
    */
  private val statsCols =
    Seq("chunkId", "documentId", "datasetName", "tokenCount", "chunkIndex")

  override def read(spark: SparkSession): DataFrame =
    if (!exists(spark)) emptyChunks(spark)
    else {
      val df = Snapshots.read(spark, path)
      if (df.columns.isEmpty) emptyChunks(spark) else df.select(chunkCols.map(col): _*)
    }

  /** Time travel over the chunk store — a version's exact contents. */
  def readAt(spark: SparkSession, version: Long): DataFrame =
    Snapshots.read(spark, path, Some(version)).select(chunkCols.map(col): _*)

  override def upsert(spark: SparkSession, chunks: DataFrame): Unit =
    applyDelta(spark, Some(chunks), None)

  override def deleteByDocuments(spark: SparkSession, docs: DataFrame): Long =
    if (!exists(spark)) 0L else commitDelta(spark, None, Some(docs)).rowsDeleted

  override def applyDelta(
      spark: SparkSession, upserts: Option[DataFrame], retireDocs: Option[DataFrame]): Unit =
    if (upserts.isDefined || (retireDocs.isDefined && exists(spark)))
      commitDelta(spark, upserts, retireDocs): Unit

  private def commitDelta(
      spark: SparkSession, upserts: Option[DataFrame], retireDocs: Option[DataFrame]
  ): Snapshots.MergeStats = {
    ensure(spark)
    // MERGE requires unique source keys; resolve within-batch duplicates
    // exactly like Overlay's tie-break (chunkIndex descending)
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
