package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.Row

import graft.chunker.LovdataChunker
import graft.embed.{Embedding, EmbeddingProvider}
import graft.pipeline.Pipeline
import graft.sources.SnapshotChunkStore

/** Streaming face of the engine (SURVEY §2.11): the reference is an
  * incremental batch loop (sync → identify → process); its streaming
  * equivalent is a file-arrival source (S6) driving the same per-batch logic
  * through `foreachBatch`, with checkpointing playing the role of
  * `pipeline_state.json`.
  */
object StreamingPipeline {

  /** Deliberate streaming STATE-partition count (env-overridable). A new
    * streaming query freezes `spark.sql.shuffle.partitions` into its
    * checkpoint as the state-store partition count, so leaving it at the
    * batch/core default sizes streaming state by CORE COUNT — the wrong
    * axis at both ends: every state store commits a delta file per
    * partition per microbatch (a stream-stream join runs four stores), so
    * per-batch overhead grows linearly with partitions while the useful
    * parallelism is bounded by keys-per-batch. The driver's round-14
    * scaling run measured it directly: the s7 join was 4.8× SLOWER at 32
    * state partitions than at 8 on identical data. State partitioning is
    * hash-by-key and result-neutral; size it to expected state volume
    * (raise the env for genuinely large keyed state), never to cores.
    */
  def statePartitions: Int =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8").toInt

  /** Run `body` — typically "build sources, start the stream, await it" —
    * with the session's shuffle-partition count pinned to
    * [[statePartitions]], restoring the previous value after. Only the
    * stream STARTED inside inherits the count permanently (it is frozen
    * into the checkpoint); batch work after the restore is untouched.
    */
  def withStatePartitions[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, statePartitions.toString)
    try body finally spark.conf.set(key, old)
  }

  /** S6: watch a directory for new XML-bearing JSON-lines drops
    * (docId, dataset, hash, xml per line) — the Structured Streaming
    * equivalent of "lovlig sync rewrote state.json".
    */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("docId STRING, dataset STRING, hash STRING, xml STRING")
      .json(dir)

  /** Incremental processing as a stream: each microbatch runs the same
    * chunk → embed → upsert path the batch pipeline uses; the store upsert is
    * idempotent by key, so microbatch replays are safe (exactly-once effect).
    * Per-document failures are quarantined to `<store>/_failures` (append-only
    * JSON-lines) instead of failing the microbatch — the streaming face of
    * J4's retry ledger.
    */
  def writer(
      spark: SparkSession,
      source: DataFrame,
      store: SnapshotChunkStore,
      chunker: LovdataChunker,
      provider: EmbeddingProvider,
      checkpointDir: String
  ): DataStreamWriter[Row] =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          import s.implicits._
          val attempts = Pipeline.chunkAttempts(s, batch, chunker).cache()
          try {
            val failures = attempts.filter(_.error.isDefined)
              .map(a => (a.docId, a.hash, a.error.get, batchId))
              .toDF("docId", "hash", "error", "batchId")
            if (!failures.isEmpty) {
              failures.write.mode("append").json(s"${store.path}/_failures")
            }
            val chunks = Pipeline.positionalIds(
              attempts.filter(_.chunk.isDefined).map(_.chunk.get).toDF())
            val enriched = Embedding.embed(chunks, "content", provider)
              .withColumn("parentChunkId", lit(null).cast("string"))
            store.upsert(s, enriched)
          } finally { attempts.unpersist(); () }
        }
      }

  /** Streaming exact dedup — the streaming twin of
    * [[graft.operators.Dedup.exact]]: drop rows whose `sha2(textCol)` was
    * already emitted within the watermark horizon. The horizon bounds the
    * dedup state (expired keys are evicted), which is what makes exact dedup
    * viable on an unbounded stream — global-forever dedup state would grow
    * without bound at 100 TB scale.
    */
  def dedupExactStream(
      events: DataFrame, textCol: String, tsCol: String, watermark: String
  ): DataFrame =
    events
      .withColumn("_h", sha2(col(textCol), 256))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_h")
      .drop("_h")

  /** Streaming decontamination — the streaming twin of
    * [[graft.operators.Dedup.decontaminate]]: documents arriving on the
    * stream are dropped when their word n-grams collide with a STATIC
    * benchmark set. The per-document check is an EXISTS over exploded
    * n-grams, which a single stream-static join can't express without
    * unbounded dedup state — so the check runs with batch semantics inside
    * each microbatch (`foreachBatch`, the same pattern [[writer]] uses).
    * The benchmark gram set is computed ONCE
    * ([[graft.operators.Dedup.benchmarkGrams]] — persist it) and reused by
    * every microbatch as the static join side; clean rows flow to `sink`.
    */
  def decontaminatingWriter(
      source: DataFrame,
      idCol: String,
      textCol: String,
      benchGrams: DataFrame,
      n: Int,
      checkpointDir: String,
      /** MUST be the family `benchGrams` was built with — a mismatch means
        * no gram ever matches. `contaminatedIdsAgainstGrams` checks the tag
        * stamped on the gram set and fails the first microbatch fast.
        */
      hashFn: graft.operators.Dedup.GramHash = graft.operators.Dedup.PolyGram
  )(sink: DataFrame => Unit): DataStreamWriter[Row] =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // no isEmpty pre-check: it would cost a job per microbatch, and a
        // sink watching batch boundaries should see empty batches too
        val contaminated = graft.operators.Dedup
          .contaminatedIdsAgainstGrams(batch, idCol, textCol, benchGrams, n, hashFn = hashFn)
        sink(batch.join(contaminated, Seq(idCol), "left_anti"))
      }

  /** Streaming incremental NEAR-dup dedup — the streaming face of the
    * persisted MinHash signature index
    * ([[graft.operators.Dedup.writeSignatureIndex]]): each microbatch
    * computes candidate pairs against the index (plus in-batch pairs),
    * drops every batch document that near-duplicates an indexed document or
    * an earlier (smaller-id) batch document, hands the survivors to `sink`,
    * and registers the SURVIVORS' signatures — so later microbatches (and
    * later runs) dedup against everything already accepted. Only the batch
    * is ever re-shingled; the corpus side stays a parquet scan.
    */
  def dedupingWriter(
      source: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      checkpointDir: String,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucketSize: Int = 10000
  )(sink: DataFrame => Unit): DataStreamWriter[Row] =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        // Hadoop FS, not java.io.File: the index can live on HDFS/S3
        val indexed = {
          val hp = new org.apache.hadoop.fs.Path(indexPath)
          hp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(hp)
        }
        val pairs = (
          if (indexed)
            graft.operators.Dedup.incrementalCandidates(
              s, batch, idCol, textCol, indexPath, numHashes, bands, maxBucketSize)
          else
            graft.operators.Dedup.minhashCandidates(
              batch, idCol, textCol, numHashes, bands, maxBucketSize)
        ).cache()
        try {
          val newIds = batch.select(col(idCol).as("_nid")).distinct().cache()
          // a pair's id_b is dropped when it is a batch doc (covers
          // both-new and stored<new); id_a is dropped when it is a batch
          // doc whose partner id_b is stored (new<stored)
          val dropB = pairs
            .join(newIds, pairs("id_b") === newIds("_nid"), "left_semi")
            .select(col("id_b").as("_drop"))
          val dropA = pairs
            .join(newIds, pairs("id_a") === newIds("_nid"), "left_semi")
            .join(newIds.withColumnRenamed("_nid", "_nid2"),
              pairs("id_b") === col("_nid2"), "left_anti")
            .select(col("id_a").as("_drop"))
          val drops = dropB.unionByName(dropA).distinct()
          val kept = batch.join(drops, batch(idCol) === drops("_drop"), "left_anti").cache()
          try {
            sink(kept)
            graft.operators.Dedup.appendToSignatureIndex(
              kept, idCol, textCol, indexPath, numHashes, bands)
          } finally { kept.unpersist(); newIds.unpersist(); () }
        } finally { pairs.unpersist(); () }
      }

  /** Streaming DSIR importance filter — the selection family's streaming
    * face: each microbatch scores against PRECOMPUTED target/raw bucket
    * tables ([[graft.operators.ImportanceSampling.bucketCounts]] — compute
    * once, persist, reuse; the family tag on the tables fails fast on a
    * gram-hash mismatch) and only documents with `logw >= minLogw` flow to
    * `sink`. A log-weight THRESHOLD rather than Gumbel top-k because
    * "the best n of the stream" is not well-defined on unbounded input —
    * calibrate `minLogw` offline from a batch
    * [[graft.operators.ImportanceSampling.logWeights]] histogram.
    *
    * The log-ratio model is materialized ONCE
    * ([[graft.operators.ImportanceSampling.ratioModel]]) before the stream
    * starts — per microbatch only the batch-side explode/groupBy/broadcast-
    * join run; the count-table total aggregations are never replayed. The
    * model's cached ratio table (≤ `buckets` rows) lives until the session
    * ends; a caller cycling MANY writers in one session can reclaim it via
    * a self-managed [[graft.operators.ImportanceSampling.ratioModel]] +
    * [[graft.operators.ImportanceSampling.scoreWith]] in `foreachBatch`.
    */
  def importanceFilteringWriter(
      source: DataFrame,
      idCol: String,
      textCol: String,
      targetCounts: DataFrame,
      rawCounts: DataFrame,
      buckets: Int,
      minLogw: Double,
      checkpointDir: String,
      n: Int = 2,
      gramHash: graft.operators.Dedup.GramHash = graft.operators.Dedup.PolyGram
  )(sink: DataFrame => Unit): DataStreamWriter[Row] = {
    // fail fast on a family mismatch before any stream state exists
    Seq("target" -> targetCounts, "raw" -> rawCounts).foreach { case (side, c) =>
      graft.operators.ImportanceSampling.familyOf(c).foreach { stored =>
        require(stored == gramHash.tag,
          s"$side count table was built under gram-hash family '$stored' but this " +
            s"stream scores under '${gramHash.tag}'.")
      }
    }
    val model = graft.operators.ImportanceSampling.ratioModel(targetCounts, rawCounts, buckets)
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val keep = graft.operators.ImportanceSampling
            .scoreWith(model, batch, idCol, textCol, n, gramHash)
            .filter(col("logw") >= minLogw)
            .select(col(idCol))
          sink(batch.join(keep, Seq(idCol), "left_semi"))
        }
      }
  }

  /** Streaming drift monitor — per-microbatch PSI/KL of the arriving text
    * against a REFERENCE bucket-count table built once from the tuned-on
    * corpus ([[graft.operators.ImportanceSampling.bucketCounts]]): the
    * ingest-side tripwire for "this feed stopped looking like the corpus my
    * thresholds/mixture/DSIR ratios were tuned on". Per batch only the
    * batch's gram explode + one ≤`buckets`-row join run (the reference
    * table never recomputes — it is localCheckpointed once before the
    * stream starts); each batch appends one `(batch_id, psi, kl_ref_cur,
    * n_buckets_present, n_ref, n_cur)` row to the metrics sink, where an
    * alert is a plain threshold filter. Family mismatch fails fast before
    * any stream state exists (the [[importanceFilteringWriter]] guard).
    */
  def driftMonitorWriter(
      source: DataFrame,
      textCol: String,
      refCounts: DataFrame,
      buckets: Int,
      checkpointDir: String,
      n: Int = 2,
      gramHash: graft.operators.Dedup.GramHash = graft.operators.Dedup.PolyGram
  )(sink: DataFrame => Unit): DataStreamWriter[Row] = {
    graft.operators.ImportanceSampling.familyOf(refCounts).foreach { stored =>
      require(stored == gramHash.tag,
        s"reference count table was built under gram-hash family '$stored' but this " +
          s"stream monitors under '${gramHash.tag}'.")
    }
    val ref = refCounts.localCheckpoint() // computed once, joined every batch
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val cur = graft.operators.ImportanceSampling
            .bucketCounts(batch, textCol, buckets, n, gramHash)
          sink(graft.operators.Drift.drift(ref, cur, buckets)
            .withColumn("batch_id", lit(batchId)))
        }
      }
  }

  /** Streaming SEMANTIC dedup — the embedding twin of [[dedupingWriter]]:
    * each microbatch of (id, embedding) rows dedups against the corpus'
    * persisted IVF index via
    * [[graft.operators.Dedup.incrementalSemanticCandidates]] (frozen-
    * centroid assignment, within-cell pairs involving the batch only),
    * survivors flow to `sink` and register in the index
    * ([[graft.operators.Similarity.appendToIvf]]) so later batches dedup
    * against them. The first microbatch builds the index. Drop policy
    * matches [[dedupingWriter]]: stored documents always win; within a
    * batch the smaller id wins. Centroids stay frozen across the stream —
    * run [[graft.operators.Similarity.retrainIvf]] out of band when the
    * corpus has drifted.
    */
  def semanticDedupingWriter(
      source: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      checkpointDir: String,
      kCells: Int = 64,
      threshold: Double = 0.95,
      maxCellSize: Int = 10000
  )(sink: DataFrame => Unit): DataStreamWriter[Row] =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val indexed = {
          val hp = new org.apache.hadoop.fs.Path(indexPath + "/_centroids")
          hp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(hp)
        }
        if (!indexed) {
          if (!batch.isEmpty) {
            val deduped = graft.operators.Dedup.semanticDedup(
              batch, idCol, vecCol, k = kCells, iters = 1,
              threshold = threshold, maxCellSize = maxCellSize)
            sink(deduped)
            graft.operators.Similarity.writeIvf(s,
              graft.operators.Similarity.buildIvf(deduped, vecCol, idCol, kCells),
              indexPath)
          }
        } else {
          val pairs = graft.operators.Dedup.incrementalSemanticCandidates(
            s, batch, idCol, vecCol, indexPath, threshold, maxCellSize).cache()
          try {
            val newIds = batch.select(col(idCol).as("_nid")).distinct().cache()
            val dropB = pairs
              .join(newIds, pairs("id_b") === newIds("_nid"), "left_semi")
              .select(col("id_b").as("_drop"))
            val dropA = pairs
              .join(newIds, pairs("id_a") === newIds("_nid"), "left_semi")
              .join(newIds.withColumnRenamed("_nid", "_nid2"),
                pairs("id_b") === col("_nid2"), "left_anti")
              .select(col("id_a").as("_drop"))
            val drops = dropB.unionByName(dropA).distinct()
            val kept = batch.join(drops, batch(idCol) === drops("_drop"), "left_anti").cache()
            try {
              sink(kept)
              if (!kept.isEmpty)
                graft.operators.Similarity.appendToIvf(s, kept, vecCol, idCol, indexPath)
            } finally { kept.unpersist(); newIds.unpersist(); () }
          } finally { pairs.unpersist(); () }
        }
      }

  /** Streaming BM25 index maintenance — the streaming face of
    * [[graft.operators.TextSearch.appendToIndex]]: the first microbatch
    * builds the index, every later one appends its posting rows (tokenizing
    * only the batch) registered as a segment keyed by the STREAMING BATCH
    * ID — batch ids are stable across at-least-once replays, so a replayed
    * microbatch whose append already landed is skipped and one whose append
    * half-landed is healed (appendToIndex's exactly-once contract). Queries
    * through [[graft.operators.TextSearch.searchIndex]] stay correct at
    * every point because df derives merge-on-read while appended segments
    * exist; run `compactIndex` out of band on whatever cadence file-count
    * hygiene needs.
    */
  def indexingWriter(
      source: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      checkpointDir: String,
      nBuckets: Int = 64
  ): DataStreamWriter[Row] =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val exists = {
          val hp = new org.apache.hadoop.fs.Path(indexPath + "/_stats")
          hp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(hp)
        }
        if (exists)
          graft.operators.TextSearch.appendToIndex(s, batch, textCol, idCol, indexPath,
            segmentId = s"batch-$batchId")
        else
          graft.operators.TextSearch.writeIndex(s, batch, textCol, idCol, indexPath, nBuckets)
      }

  /** Streaming IVF index maintenance — [[indexingWriter]]'s vector twin
    * over [[graft.operators.Similarity.appendToIvf]]: the first microbatch
    * trains and persists the index, later ones assign against the frozen
    * centroids and append into the cid layout. Re-train out of band
    * ([[graft.operators.Similarity.retrainIvf]]) when drift accumulates.
    */
  def vectorIndexingWriter(
      source: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      checkpointDir: String,
      kCells: Int = 16
  ): DataStreamWriter[Row] =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val exists = {
          val hp = new org.apache.hadoop.fs.Path(indexPath + "/_centroids")
          hp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(hp)
        }
        if (exists)
          graft.operators.Similarity.appendToIvf(s, batch, vecCol, idCol, indexPath)
        else if (!batch.isEmpty)
          graft.operators.Similarity.writeIvf(s,
            graft.operators.Similarity.buildIvf(batch, vecCol, idCol, kCells), indexPath)
      }

  /** Streaming first-occurrence LINE dedup — the CCNet/RefinedWeb line rule
    * at ingest: each microbatch drops every line already registered in the
    * persisted hash registry (its first occurrence lives in history), keeps
    * within-batch firsts, and registers fresh hashes under the batch id —
    * [[graft.operators.Dedup.dedupLinesIncremental]]'s segment discipline
    * makes a replayed batch reproduce identical output. State per batch is
    * the registry scan (32-byte hashes, never text).
    */
  def lineDedupingWriter(
      source: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      checkpointDir: String,
      minChars: Int = 1
  )(sink: DataFrame => Unit): DataStreamWriter[Row] =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          sink(graft.operators.Dedup.dedupLinesIncremental(
            batch.sparkSession, batch, idCol, textCol, indexPath,
            segmentId = s"b$batchId", minChars = minChars))
      }

  /** Streaming graph-index maintenance — the NSW twin of
    * [[vectorIndexingWriter]]: the first microbatch builds the graph over
    * its own vectors (hub layer included), later ones link in through
    * [[graft.operators.GraphAnn.appendToGraph]] (frozen hubs, replay-safe
    * anti-join) — the index stays searchable mid-stream and the corpus is
    * never re-linked.
    */
  def graphIndexingWriter(
      source: DataFrame,
      idCol: String,
      vecCol: String,
      graphPath: String,
      checkpointDir: String,
      dim: Int,
      degree: Int = 8,
      hubs: Int = 16
  ): DataStreamWriter[Row] =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val exists = {
          val hp = new org.apache.hadoop.fs.Path(graphPath + "/vectors")
          hp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(hp)
        }
        if (exists)
          graft.operators.GraphAnn.appendToGraph(s, graphPath, batch,
            idCol, vecCol, dim, degree, hubs = hubs)
        else if (!batch.isEmpty)
          graft.operators.GraphAnn.writeGraph(
            graft.operators.GraphAnn.buildGraph(batch, idCol, vecCol, dim,
              degree, hubs = hubs), graphPath)
      }

  /** Stream into a [[graft.operators.Snapshots]] manifest-log table with
    * EXACTLY-ONCE microbatch appends: each batch commits tagged
    * `(appId, batchId)` in the manifest's transaction markers, so a batch
    * replayed after a crash-restart (same checkpoint ⇒ same batchId) is
    * detected from the commit log and skipped — the Delta
    * `txnAppId`/`txnVersion` idempotent-writer discipline on this engine's
    * own table format. Downstream consumers get the full snapshot
    * contract over the stream's output: time travel across microbatches,
    * [[graft.operators.Snapshots.diffAppended]] as the CDC hand-off to
    * incremental jobs, and [[graft.operators.IncrementalAgg]] rollups that
    * refresh per delta. Retention caveat: [[graft.operators.Snapshots
    * .expire]] must keep at least the replay window of versions.
    */
  def snapshotWriter(
      source: DataFrame,
      table: String,
      checkpointDir: String,
      appId: String
  ): DataStreamWriter[Row] =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        if (graft.operators.Snapshots.currentVersion(table).isEmpty)
          graft.operators.Snapshots.create(s, table)
        graft.operators.Snapshots.appendIdempotent(s, table, batch, appId, batchId): Unit
      }

  /** Exactly-once streaming CDC APPLY into a snapshot table — the full
    * Debezium-shaped sink: each microbatch carries per-key latest states
    * with an op column (`delete` retires the key, anything else upserts
    * it), applied by [[graft.operators.Snapshots.applyCdcIdempotent]] as
    * ONE merge-on-read commit — zero file rewrites — carrying the batch's
    * txn marker, so a crash-restart replay of the batch is detected from
    * the commit log and skipped: it lands exactly once.
    */
  def snapshotCdcWriter(
      source: DataFrame,
      table: String,
      checkpointDir: String,
      appId: String,
      keyCols: Seq[String],
      opCol: String
  ): DataStreamWriter[Row] =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        if (graft.operators.Snapshots.currentVersion(table).isEmpty)
          graft.operators.Snapshots.create(s, table)
        graft.operators.Snapshots.applyCdcIdempotent(
          s, table, batch, keyCols, opCol, appId, batchId): Unit
      }

  /** Exactly-once streaming keyed UPSERT into a snapshot table — the
    * CDC-upsert twin of [[snapshotWriter]]: each microbatch MERGEs by key
    * as one merge-on-read commit (matched rows gain deletion-vector
    * positions, the batch lands as one file group, no data file rewrites;
    * manifest stats dismiss files that cannot hold a key), tagged
    * `(appId, batchId)` in the commit's transaction markers so a
    * crash-restart replay is detected from the commit log and skipped
    * ([[graft.operators.Snapshots.mergeIdempotent]]). Duplicate keys WITHIN
    * a microbatch violate the MERGE precondition — reduce upstream to
    * latest-wins (e.g. max-by sequence column) first.
    */
  def snapshotUpsertWriter(
      source: DataFrame,
      table: String,
      checkpointDir: String,
      appId: String,
      keyCols: Seq[String]
  ): DataStreamWriter[Row] =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        if (graft.operators.Snapshots.currentVersion(table).isEmpty)
          graft.operators.Snapshots.create(s, table)
        graft.operators.Snapshots.mergeIdempotent(
          s, table, batch, keyCols, appId, batchId): Unit
      }

  /** Streaming count-min maintenance — the frequency-summary twin of
    * [[indexingWriter]]/[[vectorIndexingWriter]]: each microbatch persists
    * its own fixed-size sketch segment keyed by BATCH ID (a replayed batch
    * overwrites its own segment — CMS addition is not idempotent, so
    * exactly-once lives in the layout), and report time folds the segments
    * via [[graft.operators.CountMin.readMerged]]. State per batch is one
    * `depth×width` counter grid regardless of batch size.
    */
  def sketchingWriter(
      source: DataFrame,
      valueCol: String,
      sketchPath: String,
      checkpointDir: String,
      eps: Double = 0.001,
      confidence: Double = 0.99,
      seed: Int = 42
  ): DataStreamWriter[Row] =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.CountMin.writeBatchSegment(
          batch.sparkSession, batch, valueCol, sketchPath, batchId,
          eps, confidence, seed)
      }

  /** Watermarked sliding-window counts over an event stream — the streaming
    * twin of [[graft.operators.EventWindows.sliding]].
    */
  def windowedCounts(events: DataFrame, size: String, slide: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), size, slide).getField("start").as("wstart"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Watermarked stream-stream interval join — the streaming face of
    * [[graft.operators.RangeJoin.pointInInterval]]: rows of `right` attach
    * to the `left` row of the same key whose event time they trail within
    * `within` (view → purchase attribution, impression → click, doc-version
    * → annotation). Both sides carry the SAME watermark and the join
    * condition bounds `right`'s event time on BOTH sides of `left`'s, which
    * is exactly what lets Structured Streaming evict buffered state — an
    * unbounded-interval stream-stream join would hold every row forever, the
    * non-starter at 100 TB/day ingest. Right-side columns come out prefixed
    * `r_` (the stream-stream twin of the batch join's alias discipline).
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      within: String,
      watermark: String
  ): DataFrame =
    intervalJoinImpl(left, right, keyCol, tsCol, within, watermark, "inner")

  /** Left-outer flavor of [[intervalJoin]] — the unattributed-view analysis
    * ("which impressions never converted?"): every `left` row comes out, and
    * a row with no in-interval `right` partner emits with NULL `r_*` columns
    * once the watermark passes the end of its interval (only then can Spark
    * PROVE no partner can still arrive — outer results are therefore
    * watermark-delayed, not instant). Same two-sided time bound, same
    * bounded state as the inner form.
    */
  def intervalJoinLeftOuter(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      within: String,
      watermark: String
  ): DataFrame =
    intervalJoinImpl(left, right, keyCol, tsCol, within, watermark, "left_outer")

  private def intervalJoinImpl(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      within: String,
      watermark: String,
      joinType: String
  ): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
    val r = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"r_$c"))
      .withWatermark(s"r_$tsCol", watermark)
    l.join(
      r,
      col(keyCol) === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(tsCol) &&
        col(s"r_$tsCol") <= col(tsCol) + expr(s"INTERVAL $within"),
      joinType)
  }

  /** Closed-session emission via flatMapGroupsWithState: a batch of events
    * per key may close any number of sessions (gap exceeded) — each closed
    * session is emitted as its own row, and the open tail stays in state
    * ONLY until the key goes quiet: every state row carries an event-time
    * timeout at `lastTs + gapMs`, so when the watermark passes the gap
    * horizon the open tail is emitted as a closed session and the key's
    * state row is REMOVED. The timeout is what makes this viable on an
    * unbounded keyspace (per-user sessions at 100 TB/day): without it,
    * every user ever seen keeps a state row forever, and a departed user's
    * final session never closes. Steady-state state size is therefore
    * `O(keys active within watermark + gap)`, not `O(keys ever seen)`.
    */
  def sessionizeClosed(
      spark: SparkSession,
      events: DataFrame,
      gapMs: Long,
      watermark: String = "1 hour"
  ): org.apache.spark.sql.Dataset[SessionUpdate] = {
    import spark.implicits._
    val typed = events
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), SessionUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            // quiet past the gap: the open tail IS a finished session —
            // emit it and evict the key's state row
            val (_, n) = state.get
            state.remove()
            Iterator.single(SessionUpdate(userId, n, closed = true))
          } else {
            var (lastTs, n) = state.getOption.getOrElse((Long.MinValue, 0L))
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionUpdate]
            // a primitive long array, not a tuple Seq: the sort holds one
            // key's microbatch slice, keep its footprint minimal
            val ts = rows.map(_._2.getTime).toArray
            java.util.Arrays.sort(ts)
            ts.foreach { t =>
              if (lastTs != Long.MinValue && t - lastTs > gapMs) {
                closed += SessionUpdate(userId, n, closed = true)
                n = 0
              }
              n += 1
              lastTs = t
            }
            state.update((lastTs, n))
            // the max() guard: a straggler key whose gap horizon is already
            // behind the watermark must still get a FUTURE timeout (Spark
            // rejects a timestamp at or below the current watermark); it
            // then fires on the next watermark advance
            state.setTimeoutTimestamp(
              math.max(lastTs + gapMs, state.getCurrentWatermarkMs() + 1))
            closed.iterator
          }
      }
  }

  /** Per-key session aggregation via mapGroupsWithState: gap-based sessions
    * with an inactivity timeout — custom state the built-in windows can't
    * express (SURVEY §2.11 north-star).
    */
  final case class SessionUpdate(userId: Long, nEvents: Long, closed: Boolean)

  /** Per-key session state for the transformWithState path: the open tail
    * plus the exact event-time timer registered for it (tracked so a
    * session extension can DELETE the stale timer instead of letting it
    * fire early).
    */
  final case class SessionState(lastTs: Long, nEvents: Long, timerTs: Long)

  /** [[sessionizeClosed]] on `transformWithState` — Spark 4's successor to
    * flatMapGroupsWithState for arbitrary stateful processing: typed
    * `ValueState` plus explicit per-key event-time TIMERS replace the
    * single implicit timeout slot. The operator is RocksDB-only by design
    * (the production state backend), so callers must set
    * `spark.sql.streaming.stateStore.providerClass` to the RocksDB
    * provider. Semantics are identical to [[sessionizeClosed]]: closed
    * sessions emit as events arrive; when the watermark passes a quiet
    * key's gap horizon its timer fires, the open tail emits as closed, and
    * the state row is removed — `O(active keys)` state either way.
    */
  def sessionizeClosedTws(
      spark: SparkSession,
      events: DataFrame,
      gapMs: Long,
      watermark: String = "1 hour"
  ): org.apache.spark.sql.Dataset[SessionUpdate] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val typed = events
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
    typed
      .groupByKey(_._1)
      .transformWithState(
        new SessionProcessor(gapMs), TimeMode.EventTime(), OutputMode.Append())
  }

  private final class SessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp), SessionUpdate] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var session: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[SessionState](
        "session", Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(
        userId: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timers: TimerValues
    ): Iterator[SessionUpdate] = {
      var lastTs = Long.MinValue
      var n = 0L
      if (session.exists()) {
        val st = session.get()
        lastTs = st.lastTs
        n = st.nEvents
        // the session is live again: the timer registered for the OLD gap
        // horizon must not fire
        getHandle.deleteTimer(st.timerTs)
      }
      val closed = scala.collection.mutable.ArrayBuffer.empty[SessionUpdate]
      val ts = rows.map(_._2.getTime).toArray
      java.util.Arrays.sort(ts)
      ts.foreach { t =>
        if (lastTs != Long.MinValue && t - lastTs > gapMs) {
          closed += SessionUpdate(userId, n, closed = true)
          n = 0
        }
        n += 1
        lastTs = t
      }
      // same straggler guard as sessionizeClosed: a timer at or below the
      // watermark is invalid — clamp to the next possible advance
      val timerTs = math.max(lastTs + gapMs, timers.getCurrentWatermarkInMs() + 1)
      getHandle.registerTimer(timerTs)
      session.update(SessionState(lastTs, n, timerTs))
      closed.iterator
    }

    override def handleExpiredTimer(
        userId: Long,
        timers: TimerValues,
        expired: ExpiredTimerInfo
    ): Iterator[SessionUpdate] = {
      if (!session.exists()) Iterator.empty
      else {
        val st = session.get()
        if (st.timerTs != expired.getExpiryTimeInMs) Iterator.empty // stale timer
        else {
          session.clear()
          Iterator.single(SessionUpdate(userId, st.nEvents, closed = true))
        }
      }
    }
  }

  /** Update-mode twin of [[sessionizeClosed]]: emits the running size of the
    * key's current session on every batch, and — same eviction contract —
    * a final `closed = true` update when the key goes quiet past the gap,
    * after which the state row is removed.
    */
  def sessionize(
      spark: SparkSession,
      events: DataFrame,
      gapMs: Long,
      watermark: String = "1 hour"
  ): org.apache.spark.sql.Dataset[SessionUpdate] = {
    import spark.implicits._
    val typed = events
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
    typed
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), SessionUpdate](GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            val (_, n) = state.get
            state.remove()
            SessionUpdate(userId, n, closed = true)
          } else {
            // state = (lastTs, eventsInSession)
            var (lastTs, n) = state.getOption.getOrElse((Long.MinValue, 0L))
            val ts = rows.map(_._2.getTime).toArray
            java.util.Arrays.sort(ts)
            ts.foreach { t =>
              if (lastTs == Long.MinValue || t - lastTs > gapMs) n = 0
              n += 1
              lastTs = t
            }
            state.update((lastTs, n))
            state.setTimeoutTimestamp(
              math.max(lastTs + gapMs, state.getCurrentWatermarkMs() + 1))
            SessionUpdate(userId, n, closed = false)
          }
      }
  }
}
