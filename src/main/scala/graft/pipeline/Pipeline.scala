package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.chunker.LovdataChunker
import graft.embed.{Embedding, EmbeddingProvider}
import graft.model.ChunkRow
import graft.operators.Identify
import graft.sources.SnapshotChunkStore
import graft.state.PipelineState

/** The end-to-end incremental pipeline (reference
  * `orchestration/pipeline_orchestrator.py:116-373`, traced in SURVEY §3.1):
  *
  *   identify (J1 anti-join vs ledger) → chunk (per-document flatMap) →
  *   embed (mapPartitions batches) → store delta (upsert + K3 cleanup of
  *   failed and removed docs, one [[SnapshotChunkStore.applyDelta]] call) →
  *   commit ledger (K4).
  *
  * The reference commits state after every file; our unit of durability is
  * the batch — the observable invariant (state ⟺ store consistency, failed
  * docs retried, no partial chunks for a doc) is preserved because the store
  * write is an idempotent upsert-by-key and the ledger commit happens only
  * after the store writes succeed.
  */
object Pipeline {

  final case class RunSummary(processed: Long, failed: Long, removed: Long, chunksWritten: Long)

  /** One document's chunking outcome: either chunk rows or a failure record
    * (the per-file error isolation of reference
    * `file_processing_service.py:116-131` — a bad document never aborts the
    * batch, it becomes a `failed` ledger row and is retried next run, J4).
    */
  final case class ChunkAttempt(
      docId: String,
      hash: String,
      error: Option[String],
      chunk: Option[graft.model.ChunkRow]
  )

  /** C11: the positional id rewrite — stored ids are `{docId}_chunk_{i}`,
    * assigned from the chunker's stable chunkIndex
    * (reference `file_processing_service.py:101-105`).
    */
  def positionalIds(chunks: DataFrame): DataFrame =
    chunks.withColumn(
      "chunkId",
      concat(col("documentId"), lit("_chunk_"), col("chunkIndex").cast("string"))
    )

  /** Chunk a set of documents: one task per partition, one chunker call per
    * document — order-dependent folds stay inside, documents parallelize.
    * Per-document exceptions become failure attempts, never task failures.
    *
    * @param docs (docId, dataset, hash, xml) rows
    */
  def chunkAttempts(
      spark: SparkSession, docs: DataFrame, chunker: LovdataChunker
  ): org.apache.spark.sql.Dataset[ChunkAttempt] = {
    import spark.implicits._
    docs.select(col("docId"), col("dataset"), col("hash"), col("xml"))
      .as[(String, String, String, String)]
      .flatMap { case (docId, dataset, hash, xml) =>
        try {
          chunker.chunk(xml).map { c =>
            ChunkAttempt(docId, hash, None, Some(ChunkRow(
              chunkId = s"${docId}_${c.chunkId}",
              documentId = docId,
              datasetName = dataset,
              content = c.text,
              tokenCount = c.tokenCount,
              // C16 fallback chain (reference `chunking_service.py:71-80`)
              sectionHeading = Seq(c.sectionHeading, c.paragraphTitle, c.documentTitle)
                .find(_.nonEmpty).getOrElse(""),
              absoluteAddress = if (c.url.nonEmpty) c.url else c.address,
              splitReason = "none",
              parentChunkId = None,
              sourceHash = hash,
              crossRefs = c.crossRefs,
              chunkIndex = c.chunkIndex
            )))
          } match {
            // empty result = success with 0 chunks (obsolete law,
            // reference `file_processing_service.py:79-89`) — represent as
            // a chunkless success marker so the ledger still records it
            case Nil => Seq(ChunkAttempt(docId, hash, None, None))
            case cs  => cs
          }
        } catch {
          case e: Exception =>
            Seq(ChunkAttempt(docId, hash, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"), None))
        }
      }
  }

  /** Chunk-only view (no failure rows) — the UDTF-shaped operator. */
  def chunkDocuments(spark: SparkSession, docs: DataFrame, chunker: LovdataChunker): DataFrame = {
    import spark.implicits._
    chunkAttempts(spark, docs, chunker)
      .filter(_.chunk.isDefined).map(_.chunk.get).toDF()
  }

  /** One incremental run over a CDC snapshot.
    *
    * @param changed  (docId, dataset, hash, xml) for status ∈ added/modified
    * @param removed  (docId) tombstones
    */
  def run(
      spark: SparkSession,
      changed: DataFrame,
      removed: DataFrame,
      store: SnapshotChunkStore,
      statePath: String,
      chunker: LovdataChunker,
      provider: EmbeddingProvider,
      force: Boolean = false,
      limit: Option[Int] = None
  ): RunSummary = {
    val ledger = new PipelineState(statePath)
    val state = ledger.load(spark)

    // Stage 2: identify (J1 broadcast anti-join + optional L1 limit)
    val toProcess = Identify.identifyFiles(changed, state, force, limit).cache()
    val nToProcess = toProcess.count()

    // Stage 3: chunk (with per-doc failure quarantine) → positional ids →
    // embed. A failed doc writes no chunks at all — the reference's
    // no-partial-chunks invariant holds because a document's chunks enter
    // the delta only after the whole document chunked successfully.
    var chunksWritten = 0L
    var attempts: org.apache.spark.sql.Dataset[ChunkAttempt] = null
    var failures: DataFrame = null
    var nFailed = 0L
    var enriched: DataFrame = null
    if (nToProcess > 0) {
      import spark.implicits._
      attempts = chunkAttempts(spark, toProcess, chunker).cache()
      // ONE action over the cached attempts answers both batch counts — the
      // chunk count comes from the pre-upsert attempts, never a store re-read
      val counts = attempts.agg(
        count(when(col("error").isNotNull, 1)), count(col("chunk"))).head()
      nFailed = counts.getLong(0)
      chunksWritten = counts.getLong(1)
      failures = attempts.filter(_.error.isDefined)
        .map(a => (a.docId, a.hash, a.error.get)).toDF("docId", "hash", "error")
      val chunks = positionalIds(attempts.filter(_.chunk.isDefined).map(_.chunk.get).toDF())
      if (chunksWritten > 0)
        enriched = Embedding.embed(chunks, "content", provider)
          .withColumn("parentChunkId", lit(null).cast("string"))
          .cache()
    }

    // Stage 4: the store delta — upserts, failed-doc cleanup and removed-doc
    // cleanup (K3) land through ONE store call. Failed docs keep zero store
    // rows (reference `file_processing_service.py:118-125` deletes ALL of a
    // failed doc's chunks): a modified doc that fails re-chunking must not
    // leave its stale prior-version chunks behind for consumers or
    // Ops.validate. The tombstone set stays distributed.
    val removedDistinct = removed.select(col("docId")).distinct().cache()
    val nRemoved = removedDistinct.count()
    val retire = Seq(
      Option(failures).filter(_ => nFailed > 0).map(_.select("docId")),
      Some(removedDistinct).filter(_ => nRemoved > 0)).flatten.reduceOption(_ unionByName _)
    if (enriched != null || retire.isDefined)
      store.applyDelta(spark, Option(enriched), retire)
    if (enriched != null) enriched.unpersist()

    // Commit the ledger once the store writes are durable (K4): successes →
    // processed, failures → failed (never processed, so J1 retries them).
    val succeeded =
      if (failures == null) toProcess.select("docId", "hash")
      else toProcess.select("docId", "hash")
        .join(failures.select("docId"), Seq("docId"), "left_anti")
    val afterProcessed = ledger.markProcessed(spark, state, succeeded)
    val afterFailed =
      if (nFailed == 0) afterProcessed
      else ledger.markFailed(spark, afterProcessed, failures)
    val afterRemoved = ledger.remove(afterFailed, removedDistinct)
    ledger.save(spark, afterRemoved)

    if (attempts != null) attempts.unpersist()
    removedDistinct.unpersist()
    toProcess.unpersist()
    RunSummary(nToProcess - nFailed, nFailed, nRemoved, chunksWritten)
  }
}
