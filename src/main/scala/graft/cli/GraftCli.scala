package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import org.apache.spark.sql.DataFrame

import graft.chunker.LovdataChunker
import graft.config.Settings
import graft.embed.{DeterministicProvider, EmbeddingProvider}
import graft.operators.{GraphAnn, Similarity}
import graft.ops.Ops
import graft.pipeline.Pipeline
import graft.sources.{LovligState, SnapshotChunkStore, XmlFiles}

/** The user-facing entry points, one per reference CLI command (`lg process`
  * / `status` / `validate` / `migrate`; reference `cli.py`). Methods are
  * plain functions over a SparkSession so they are testable; `main` is a
  * thin dispatcher with the reference's exit-code contract (process exits 1
  * if any file failed, validate exits 1 if inconsistent).
  */
object GraftCli {

  final case class ProcessResult(summary: Pipeline.RunSummary, exitCode: Int)

  /** The chunk store at `path`. [[Settings]] already rejected any backend
    * but the snapshot table, so the settings select nothing more here.
    */
  def mkStore(path: String, settings: Settings): SnapshotChunkStore = new SnapshotChunkStore(path)

  /** `lg process`: sync state → identify → chunk → embed → store → cleanup.
    * @param stateJson   lovlig state.json path (S1 CDC feed)
    * @param extractedDir root of the extracted XML corpus
    */
  def process(
      spark: SparkSession,
      stateJson: String,
      extractedDir: String,
      storePath: String,
      ledgerPath: String,
      force: Boolean = false,
      limit: Option[Int] = None,
      chunker: LovdataChunker = new LovdataChunker(),
      provider: EmbeddingProvider = new DeterministicProvider(64),
      /** SQL LIKE pattern over dataset names (F8; see
        * [[graft.config.Settings.datasetLikePattern]]); default matches all.
        */
      datasetFilter: String = "%",
      /** pre-built store; defaults to the snapshot store at `storePath`. */
      store: SnapshotChunkStore = null
  ): ProcessResult = {
    val fullScan = LovligState.scan(spark, stateJson, extractedDir)
    // dataset pattern gates which datasets the run touches at all (reference
    // settings.py:96-100 dataset_filter feeding lovlig.py:24-30)
    val scan =
      if (datasetFilter == "%") fullScan else fullScan.filter(col("dataset").like(datasetFilter))
    // force reprocesses ALL live files, not just CDC-changed ones (reference
    // `pipeline_orchestrator.py:249-256` switches to get_all_files under --force)
    val changedMeta =
      if (force) LovligState.liveFiles(scan) else LovligState.changedFiles(scan)
    // F5: missing files become failure records, present ones get content
    val guarded = Ops.withExistsGuard(changedMeta, "path")
    val present = guarded.filter(col("error").isNull).drop("error")
    val changed = XmlFiles.withXml(spark, present, extractedDir)
      .select(col("docId"), col("dataset"), col("hash"), col("xml"))
    val removed = LovligState.removedFiles(scan).select(col("docId"))
    val summary = Pipeline.run(
      spark, changed, removed,
      Option(store).getOrElse(new SnapshotChunkStore(storePath)), ledgerPath, chunker, provider,
      force, limit
    )
    val missing = guarded.filter(col("error").isNotNull).count()
    ProcessResult(summary, if (summary.failed + missing > 0) 1 else 0)
  }

  /** `lg process` wired entirely from [[Settings]] (env + flags) — the
    * operator-facing entry: chunk params, embedding, dataset
    * pattern, force/limit all come from configuration, not code.
    */
  def processConfigured(
      spark: SparkSession,
      stateJson: String,
      extractedDir: String,
      storePath: String,
      ledgerPath: String,
      settings: Settings,
      provider: EmbeddingProvider = null,
      progressSink: String => Unit = s => Console.err.println(s)
  ): ProcessResult = {
    def run(): ProcessResult = process(
      spark, stateJson, extractedDir, storePath, ledgerPath,
      force = settings.force,
      limit = settings.limit,
      chunker = settings.chunker(),
      provider = Option(provider)
        .getOrElse(new DeterministicProvider(settings.embeddingDimensions)),
      datasetFilter = settings.datasetLikePattern,
      store = mkStore(storePath, settings)
    )
    if (settings.progress)
      graft.ops.ProgressReporter.withProgress(spark, "process", progressSink)(run())
    else run()
  }

  /** `lg search` — documented in the reference's guide (`docs/GUIDE.md:190-193`)
    * but absent from its CLI; completed here: embed the query text with the
    * same provider the store was built with, cosine top-k over the stored
    * chunks, return (chunkId, documentId, sim, content). Brute force plans
    * as scan → TakeOrdered (no shuffle); swap in `Similarity.topKLsh`/IVF
    * for the partition-pruned path at scale.
    */
  def search(
      spark: SparkSession,
      store: SnapshotChunkStore,
      query: String,
      k: Int = 10,
      provider: EmbeddingProvider = new DeterministicProvider(64)
  ): DataFrame = {
    val qv = provider.embedBatch(Seq(query)).head
    val chunks = store.read(spark).filter(col("embedding").isNotNull)
    // content rides through the top-k heap: one store scan, no join-back
    // (the TakeOrdered result is already sim-desc ordered)
    Similarity.topK(chunks, "embedding", "chunkId", qv, k, Seq("documentId", "content"))
      .select("chunkId", "documentId", "sim", "content")
  }

  /** Build the BM25 inverted index over the chunk store's content — the
    * keyword complement of [[search]]'s vector path. Chunks are the
    * retrieval unit (same as vector search), so the two rankings are
    * directly comparable for hybrid retrieval.
    */
  def textIndex(
      spark: SparkSession, store: SnapshotChunkStore, indexPath: String, nBuckets: Int = 64): Unit =
    graft.operators.TextSearch.writeIndex(
      spark, store.read(spark), "content", "chunkId", indexPath, nBuckets)

  /** Register newly-stored chunks in an existing index without re-tokenizing
    * the corpus ([[graft.operators.TextSearch.appendToIndex]]): `docIds`
    * limits the batch to those documents' chunks (a documentId-filtered store read).
    */
  def textIndexAppend(
      spark: SparkSession, store: SnapshotChunkStore, indexPath: String, docIds: Seq[String]): Unit = {
    val chunks = store.read(spark)
    val batch =
      if (docIds.isEmpty) chunks
      else chunks.filter(org.apache.spark.sql.functions.col("documentId").isin(docIds: _*))
    graft.operators.TextSearch.appendToIndex(spark, batch, "content", "chunkId", indexPath)
  }

  /** BM25 keyword search: against a built index (term-bucket-pruned scan)
    * when `target` holds one, else brute over the store's content.
    */
  def textSearch(
      spark: SparkSession, target: String, terms: Seq[String], k: Int = 10,
      settings: Settings = Settings()): DataFrame =
    if ({
      val hp = new org.apache.hadoop.fs.Path(target + "/_stats")
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    })
      graft.operators.TextSearch.searchIndex(spark, target, terms, k)
    else {
      val store = mkStore(target, settings)
      graft.operators.TextSearch.bm25TopK(store.read(spark), "content", "chunkId", terms, k)
    }

  /** Build the persisted IVF index over the store's embeddings — the
    * vector complement of [[textIndex]]: probes become cid partition
    * pruning, and [[vectorIndexAppend]] keeps ingest incremental.
    */
  def vectorIndex(
      spark: SparkSession, store: SnapshotChunkStore, indexPath: String, kCells: Int = 64): Unit =
    Similarity.writeIvf(spark,
      Similarity.buildIvf(
        // project BEFORE indexing: buildIvf keeps every input column under
        // the cid layout, and an unprojected store.read would make the
        // vector index a second full copy of the store (content, refs, …)
        // rewritten on every retrain — search only ever reads these two
        store.read(spark).filter(col("embedding").isNotNull)
          .select(col("chunkId"), col("embedding")),
        "embedding", "chunkId", kCells),
      indexPath)

  /** Register newly-stored chunks' embeddings in an existing IVF index
    * (frozen-centroid assignment — [[graft.operators.Similarity.appendToIvf]]);
    * `docIds` limits the batch to those documents' chunks.
    */
  def vectorIndexAppend(
      spark: SparkSession, store: SnapshotChunkStore, indexPath: String, docIds: Seq[String]): Unit = {
    val chunks = store.read(spark).filter(col("embedding").isNotNull)
    val batch =
      if (docIds.isEmpty) chunks
      else chunks.filter(col("documentId").isin(docIds: _*))
    Similarity.appendToIvf(spark,
      batch.select(col("chunkId"), col("embedding")), // same projection as the build
      "embedding", "chunkId", indexPath)
  }

  /** ANN search through a persisted IVF index: embed the query with the
    * same provider the store was built with, probe the best cells
    * (partition pruning on the cid layout); returns (chunkId, sim).
    */
  def vectorSearch(
      spark: SparkSession, indexPath: String, query: String, k: Int = 10,
      nProbes: Int = 4,
      provider: EmbeddingProvider = new DeterministicProvider(64)
  ): DataFrame = {
    val qv = provider.embedBatch(Seq(query)).head
    Similarity.topKIvf(
      Similarity.readIvf(spark, indexPath), "embedding", "chunkId", qv, k, nProbes)
  }

  /** Graph-ANN index lifecycle over the chunk store — the NSW-family
    * complement of [[vectorIndex]]: build the kNN graph once
    * ([[graft.operators.GraphAnn.buildGraph]]), keep ingest incremental
    * with [[graphIndexAppend]], search with the beam walk. Same projection
    * discipline as the IVF path: only (chunkId, embedding) enter the index.
    */
  def graphIndex(
      spark: SparkSession, store: SnapshotChunkStore, graphPath: String,
      dim: Int = 64, degree: Int = 8, hubs: Int = 64): Unit =
    GraphAnn.writeGraph(
      GraphAnn.buildGraph(
        store.read(spark).filter(col("embedding").isNotNull)
          .select(col("chunkId"), col("embedding")),
        "chunkId", "embedding", dim, degree, hubs = hubs),
      graphPath)

  /** [[graphIndex]] with the build parameters PLANNED from the stored
    * corpus size and a target recall ([[graft.operators.GraphAnn
    * .buildPlan]]) — the production default: hand-tuned radii are exactly
    * what decayed from 0.97 to 0.64 recall between 2k and 200k vectors.
    * Returns the plan it used (logged by the CLI for the audit trail).
    */
  def graphIndexPlanned(
      spark: SparkSession, store: SnapshotChunkStore, graphPath: String,
      dim: Int = 64, targetRecall: Double = 0.9): GraphAnn.GraphBuildPlan = {
    val vecs = store.read(spark).filter(col("embedding").isNotNull)
      .select(col("chunkId"), col("embedding"))
    val plan = GraphAnn.buildPlan(vecs.count(), dim, targetRecall)
    GraphAnn.writeGraph(
      GraphAnn.buildPlanned(vecs, "chunkId", "embedding", dim, plan), graphPath)
    plan
  }

  /** Link newly-stored chunks into an existing graph index (NSW insertion —
    * [[graft.operators.GraphAnn.appendToGraph]]); `docIds` limits the batch.
    */
  def graphIndexAppend(
      spark: SparkSession, store: SnapshotChunkStore, graphPath: String,
      docIds: Seq[String], dim: Int = 64, degree: Int = 8, hubs: Int = 64): Unit = {
    val chunks = store.read(spark).filter(col("embedding").isNotNull)
    val batch =
      if (docIds.isEmpty) chunks
      else chunks.filter(col("documentId").isin(docIds: _*))
    GraphAnn.appendToGraph(spark, graphPath,
      batch.select(col("chunkId"), col("embedding")),
      "chunkId", "embedding", dim, degree, hubs = hubs)
  }

  /** Beam-walk search through a persisted graph index; returns
    * (chunkId, sim) like [[vectorSearch]].
    */
  def graphSearch(
      spark: SparkSession, graphPath: String, query: String, k: Int = 10,
      provider: EmbeddingProvider = new DeterministicProvider(64)
  ): DataFrame = {
    val qv = provider.embedBatch(Seq(query)).head
    import spark.implicits._
    val queries = Seq((0L, qv)).toDF("qid", "embedding")
    GraphAnn.search(GraphAnn.readGraph(spark, graphPath, "chunkId", "embedding"),
      queries, "qid", "embedding", k, beam = math.max(16, k))
      .select(col("neighbor_id").as("chunkId"), col("sim"))
  }

  /** `drift` — PSI/KL of a current corpus against a reference corpus
    * ([[graft.operators.Drift.textDrift]]): the ops check before pointing a
    * tuned pipeline at a new dump. Both paths are parquet with a text
    * column.
    */
  def driftReport(
      spark: SparkSession, refPath: String, curPath: String,
      textCol: String = "text", buckets: Int = 4096): org.apache.spark.sql.Row =
    graft.operators.Drift.textDrift(
      spark.read.parquet(refPath), spark.read.parquet(curPath), textCol, buckets).head()

  /** `prepare` — the one-call crawl→training-shards pipeline
    * ([[graft.operators.Pretrain.prepare]]) over a snapshot table or
    * parquet dir of crawl rows, landing the kept corpus in a snapshot
    * table and printing the per-stage loss ledger. Accepts either the
    * canonical `(doc_id, source, lang, html)` shape or the `warc-ingest`
    * output `(url, text)`, from which a numeric id and a domain source
    * derive (the WARC sha id is a string; the pipeline's deterministic
    * splits need a numeric id).
    */
  def prepareCmd(
      spark: SparkSession, in: String, outTable: String,
      benchPath: Option[String]): Int = {
    val snaps = graft.operators.Snapshots
    val src0 =
      if (snaps.currentVersion(in).isDefined) snaps.read(spark, in)
      else spark.read.parquet(in)
    val raw =
      if (src0.columns.contains("html"))
        src0.select(col("doc_id"), col("source"), col("lang"), col("html"))
      else
        src0.select(
          graft.operators.Dedup.md5Lower60(col("url")).as("doc_id"),
          graft.functions.TextFunctions.urlDomain(col("url")).as("source"),
          lit("und").as("lang"),
          col("text").as("html"))
    val bench = benchPath.map(p => spark.read.parquet(p).select(col("text")))
    val (report, kept) = graft.operators.Pretrain.prepare(spark, raw, bench)
    if (snaps.currentVersion(outTable).isEmpty) snaps.create(spark, outTable)
    val v = snaps.append(spark, outTable, kept)
    report.orderBy(col("stage")).collect().foreach { r =>
      println(s"${r.getString(0)} n=${r.getLong(1)} mass=${r.getLong(2)} fp=${r.getLong(3)}")
    }
    println(s"version=$v rows=${snaps.fastCount(spark, outTable)}")
    0
  }

  /** `lg dedup` — retire near-duplicate DOCUMENTS from the chunk store:
    * each document's text is the chunkIndex-ordered join of its chunks
    * (deterministic — `collect_list` order varies, `array_sort` on the
    * (index, content) structs fixes it), deduped with the one-call corpus
    * path (exact sha2 keep-min → MinHash-LSH candidates → connected
    * components → canonical keep), dropped documents retired through the
    * store's delete-by-document commit.
    *
    * @return (dropped document count, deleted chunk count)
    */
  def dedupStore(spark: SparkSession, store: SnapshotChunkStore): (Long, Long) = {
    val docsText = store.read(spark)
      .groupBy(col("documentId"))
      .agg(concat_ws("\n\n",
        transform(
          array_sort(collect_list(struct(col("chunkIndex"), col("content")))),
          s => s.getField("content"))).as("docText"))
    val kept = graft.operators.Dedup.dedupCorpus(docsText, "documentId", "docText")
    val dropped = docsText
      .join(kept.select(col("documentId")), Seq("documentId"), "left_anti")
      .select(col("documentId").as("docId"))
      .cache()
    try {
      val nDocs = dropped.count()
      val deleted = if (nDocs == 0) 0L else store.deleteByDocuments(spark, dropped)
      (nDocs, deleted)
    } finally { dropped.unpersist(); () }
  }

  /** `lg decontaminate` — remove every document whose chunk text shares a
    * word n-gram with a benchmark/eval set (the published eval-overlap
    * rule), applied to the chunk store: flag via
    * [[graft.operators.Dedup.contaminatedIds]] over chunk content grouped
    * by documentId, then retire the flagged documents through the store's
    * delete-by-document commit.
    *
    * @param benchmark a DataFrame with the benchmark texts in `benchTextCol`
    * @return (contaminated document count, deleted chunk count)
    */
  def decontaminate(
      spark: SparkSession,
      store: SnapshotChunkStore,
      benchmark: DataFrame,
      benchTextCol: String,
      n: Int = 13,
      /** fuzzy = MinHash band collision instead of exact n-gram collision —
        * also catches paraphrased eval items ([[graft.operators.Dedup
        * .fuzzyContaminatedIds]]); `n` is ignored in fuzzy mode.
        */
      fuzzy: Boolean = false
  ): (Long, Long) = {
    val chunks = store.read(spark).select(col("documentId"), col("content"))
    val contaminated = (
      if (fuzzy)
        graft.operators.Dedup
          .fuzzyContaminatedIds(chunks, "documentId", "content", benchmark, benchTextCol)
      else
        graft.operators.Dedup
          .contaminatedIds(chunks, "documentId", "content", benchmark, benchTextCol, n)
    )
      .withColumnRenamed("documentId", "docId")
      .cache()
    try {
      val nDocs = contaminated.count()
      val deleted = if (nDocs == 0) 0L else store.deleteByDocuments(spark, contaminated)
      (nDocs, deleted)
    } finally { contaminated.unpersist(); () }
  }

  /** Benchmark texts from a path: `.txt` read as one document per line;
    * `.json`/`.jsonl` PARSED as JSON with a `text` field (reading JSON
    * lines as raw text would n-gram the keys/quotes/escapes and silently
    * miss real contamination); anything else as parquet with a `text`
    * column.
    */
  private[cli] def readBenchmark(spark: SparkSession, path: String): DataFrame =
    if (path.endsWith(".txt"))
      spark.read.text(path).withColumnRenamed("value", "text")
    else if (path.endsWith(".jsonl") || path.endsWith(".json"))
      spark.read.json(path).select(col("text"))
    else spark.read.parquet(path).select(col("text"))

  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    val code = args.toList match {
      case "process" :: rest =>
        val (settings, positional) = Settings.fromArgs(rest)
        positional match {
          case stateJson :: extractedDir :: storePath :: ledgerPath :: Nil =>
            val r = processConfigured(spark, stateJson, extractedDir, storePath, ledgerPath, settings)
            println(s"processed=${r.summary.processed} failed=${r.summary.failed} " +
              s"removed=${r.summary.removed} chunks=${r.summary.chunksWritten}")
            r.exitCode
          case _ =>
            System.err.println("usage: process <state.json> <extractedDir> <storePath> <ledgerPath> [flags]")
            2
        }
      case "search" :: rest =>
        val (settings, positional) = Settings.fromArgs(rest)
        positional match {
          case storePath :: query :: Nil =>
            val store = mkStore(storePath, settings)
            val provider = new DeterministicProvider(settings.embeddingDimensions)
            search(spark, store, query, settings.limit.getOrElse(10), provider)
              .collect().foreach { r =>
                println(s"${r.getAs[String]("chunkId")}\t${r.getAs[Double]("sim")}\t" +
                  r.getAs[String]("content").take(120).replace("\n", " "))
              }
            0
          case _ =>
            System.err.println("usage: search <storePath> <query> [--limit=K flags]")
            2
        }
      case "dedup" :: rest =>
        val (settings, positional) = Settings.fromArgs(rest)
        positional match {
          case storePath :: Nil =>
            val store = mkStore(storePath, settings)
            val (docs, chunksDeleted) = dedupStore(spark, store)
            println(s"duplicate_docs=$docs deleted_chunks=$chunksDeleted")
            0
          case _ =>
            System.err.println("usage: dedup <storePath> [flags]")
            2
        }
      case "decontaminate" :: rest =>
        val fuzzy = rest.contains("--fuzzy")
        val report = rest.contains("--report")
        val (settings, positional) =
          Settings.fromArgs(rest.filterNot(a => a == "--fuzzy" || a == "--report"))
        positional match {
          case storePath :: benchPath :: tail
              if tail.lengthIs <= 1 &&
                tail.forall(t => t.nonEmpty && t.length <= 4 && t.forall(_.isDigit)) =>
            val store = mkStore(storePath, settings)
            val n = tail.headOption.map(_.toInt).getOrElse(13)
            if (report) {
              // read-only leakage ranking: which eval items leaked, worst
              // first — nothing is deleted in report mode
              val bench = readBenchmark(spark, benchPath)
                .withColumn("item_id", xxhash64(col("text")))
              val chunks = store.read(spark).select(col("documentId"), col("content"))
              graft.operators.Dedup.contaminationReport(
                chunks, "documentId", "content", bench, "item_id", "text", n)
                .orderBy(col("leak_frac").desc, col("item_id"))
                .limit(settings.limit.getOrElse(10))
                .collect().foreach { r =>
                  println(s"item=${r.get(0)} grams=${r.get(1)} leaked=${r.get(2)} " +
                    s"docs=${r.get(3)} leak_frac=${f"${r.getDouble(4)}%.4f"}")
                }
              0
            } else {
              val (docs, chunksDeleted) =
                decontaminate(spark, store, readBenchmark(spark, benchPath), "text", n, fuzzy)
              println(s"contaminated_docs=$docs deleted_chunks=$chunksDeleted")
              0
            }
          case _ =>
            System.err.println(
              "usage: decontaminate <storePath> <benchmarkPath> [ngramSize] " +
                "[--fuzzy|--report] [flags]")
            2
        }
      case "vector-index" :: rest =>
        val (settings, positional) = Settings.fromArgs(rest)
        positional match {
          case storePath :: indexPath :: Nil =>
            val store = mkStore(storePath, settings)
            vectorIndex(spark, store, indexPath)
            println(s"indexed=$indexPath")
            0
          case _ =>
            System.err.println("usage: vector-index <storePath> <indexPath> [flags]")
            2
        }
      case "vector-index-append" :: rest =>
        val (settings, positional) = Settings.fromArgs(rest)
        positional match {
          case storePath :: indexPath :: docIds =>
            val store = mkStore(storePath, settings)
            vectorIndexAppend(spark, store, indexPath, docIds)
            println(s"appended=$indexPath")
            0
          case _ =>
            System.err.println(
              "usage: vector-index-append <storePath> <indexPath> [docId ...] [flags]")
            2
        }
      case "vector-index-retrain" :: rest =>
        val (settings, positional) = Settings.fromArgs(rest)
        positional match {
          case indexPath :: Nil =>
            Similarity.retrainIvf(spark, indexPath, "embedding", "chunkId",
              k = settings.limit.getOrElse(64))
            println(s"retrained=$indexPath")
            0
          case _ =>
            System.err.println(
              "usage: vector-index-retrain <indexPath> [--limit=kCells flags]")
            2
        }
      case "vector-search" :: rest =>
        val (settings, positional) = Settings.fromArgs(rest)
        positional match {
          case indexPath :: query :: Nil =>
            val provider = new DeterministicProvider(settings.embeddingDimensions)
            vectorSearch(spark, indexPath, query, settings.limit.getOrElse(10),
              provider = provider)
              .collect().foreach { r =>
                println(s"${r.get(0)}	${r.getAs[Double]("sim")}")
              }
            0
          case _ =>
            System.err.println("usage: vector-search <indexPath> <query> [--limit=K flags]")
            2
        }
      case "graph-index" :: rest =>
        val (settings, positional) = Settings.fromArgs(rest)
        positional match {
          case storePath :: graphPath :: Nil =>
            val store = mkStore(storePath, settings)
            graphIndex(spark, store, graphPath, dim = settings.embeddingDimensions)
            println(s"graph-indexed=$graphPath")
            0
          case _ =>
            System.err.println("usage: graph-index <storePath> <graphPath> [flags]")
            2
        }
      case "graph-index-planned" :: rest =>
        val (settings, positional) = Settings.fromArgs(rest)
        positional match {
          case storePath :: graphPath :: Nil =>
            val store = mkStore(storePath, settings)
            val plan = graphIndexPlanned(spark, store, graphPath,
              dim = settings.embeddingDimensions)
            println(s"graph-indexed=$graphPath plan=nPlanes:${plan.nPlanes}," +
              s"probes:${plan.probes},degree:${plan.degree},hubs:${plan.hubs}," +
              f"capture:${plan.predictedCapture}%.3f")
            0
          case _ =>
            System.err.println("usage: graph-index-planned <storePath> <graphPath> [flags]")
            2
        }
      case "graph-index-append" :: rest =>
        val (settings, positional) = Settings.fromArgs(rest)
        positional match {
          case storePath :: graphPath :: docIds =>
            val store = mkStore(storePath, settings)
            graphIndexAppend(spark, store, graphPath, docIds,
              dim = settings.embeddingDimensions)
            println(s"graph-appended=$graphPath")
            0
          case _ =>
            System.err.println(
              "usage: graph-index-append <storePath> <graphPath> [docId ...] [flags]")
            2
        }
      case "graph-search" :: rest =>
        val (settings, positional) = Settings.fromArgs(rest)
        positional match {
          case graphPath :: query :: Nil =>
            val provider = new DeterministicProvider(settings.embeddingDimensions)
            graphSearch(spark, graphPath, query, settings.limit.getOrElse(10),
              provider = provider)
              .collect().foreach { r =>
                println(s"${r.get(0)}\t${r.getAs[Double]("sim")}")
              }
            0
          case _ =>
            System.err.println("usage: graph-search <graphPath> <query> [--limit=K flags]")
            2
        }
      case "text-index" :: rest =>
        val (settings, positional) = Settings.fromArgs(rest)
        positional match {
          case storePath :: indexPath :: Nil =>
            val store = mkStore(storePath, settings)
            textIndex(spark, store, indexPath)
            println(s"indexed=$indexPath")
            0
          case _ =>
            System.err.println("usage: text-index <storePath> <indexPath> [flags]")
            2
        }
      case "text-index-append" :: rest =>
        val (settings, positional) = Settings.fromArgs(rest)
        positional match {
          case storePath :: indexPath :: docIds =>
            val store = mkStore(storePath, settings)
            textIndexAppend(spark, store, indexPath, docIds)
            println(s"appended=$indexPath")
            0
          case _ =>
            System.err.println(
              "usage: text-index-append <storePath> <indexPath> [docId ...] [flags]")
            2
        }
      case "text-index-compact" :: indexPath :: Nil =>
        graft.operators.TextSearch.compactIndex(spark, indexPath)
        println(s"compacted=$indexPath")
        0
      case "line-index-compact" :: indexPath :: Nil =>
        graft.operators.Dedup.compactLineIndex(spark, indexPath)
        println(s"compacted=$indexPath")
        0
      case "dedup-index-compact" :: indexPath :: Nil =>
        graft.operators.Dedup.compactSignatureIndex(spark, indexPath)
        println(s"compacted=$indexPath")
        0
      // graph-index-compact <graphPath> [maxDegree] — fold an appended
      // graph index's small files and re-truncate hot nodes to maxDegree
      // by re-scored similarity (routing/hub edges survive); staged swap
      case "graph-index-compact" :: graphPath :: rest =>
        val maxDegree = rest.headOption.map(_.toInt).getOrElse(16)
        graft.operators.GraphAnn.compactGraph(
          spark, graphPath, "chunkId", "embedding", maxDegree)
        println(s"compacted=$graphPath maxDegree=$maxDegree")
        0
      // lake-compact <dir> [partitionCol,...] — fold a parquet table's
      // small files to ~one-per-partition (or the record target), rows
      // preserved exactly; staged swap, see Lake.compact
      case "lake-compact" :: rest =>
        val (settings, positional) = Settings.fromArgs(rest)
        positional match {
          case dir :: partArg =>
            val parts = partArg.headOption
              .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
            val st = graft.operators.Lake.compact(
              spark, dir, parts,
              targetRecordsPerFile = settings.limit.map(_.toLong).getOrElse(1000000L))
            println(s"files_before=${st.filesBefore} files_after=${st.filesAfter} rows=${st.rows}")
            0
          case _ =>
            System.err.println("usage: lake-compact <dir> [partitionCol,...] [--limit=recordsPerFile]")
            2
        }
      // zorder <dir> <xCol> <yCol> [--limit=nFiles] — re-cluster a parquet
      // table in place along the Morton interleave of two integer columns
      // (tight per-file min/max boxes in both dimensions -> 2-D predicates
      // prune files); staged + verified + renamed like lake-compact.
      case "zorder" :: rest =>
        val (settings, positional) = Settings.fromArgs(rest)
        positional match {
          case dir :: xCol :: yCol :: Nil =>
            val st = graft.operators.Lake.clusterInPlace(
              spark, dir, xCol, yCol,
              nFiles = settings.limit.getOrElse(64))
            println(s"files_before=${st.filesBefore} files_after=${st.filesAfter} rows=${st.rows}")
            0
          case _ =>
            System.err.println("usage: zorder <dir> <xCol> <yCol> [--limit=nFiles]")
            2
        }
      // sketch-build <dir> <col> <sketchPath> — add one count-min segment
      // over a parquet column (segment id = next free index, so reruns
      // append new segments; the streaming writer keys segments by batch id
      // instead for replay-safety).
      case "sketch-build" :: dir :: column :: sketchPath :: Nil =>
        val segId = try {
          val p = new org.apache.hadoop.fs.Path(sketchPath)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(p))
            fs.listStatus(p).count(_.getPath.getName.endsWith(".cms")).toLong
          else 0L
        } catch { case _: Exception => 0L }
        graft.operators.CountMin.writeBatchSegment(
          spark, spark.read.parquet(dir), column, sketchPath, segId)
        println(s"segment=$segId path=$sketchPath")
        0
      // sketch-query <sketchPath> <value...> — merged point-frequency
      // estimates (never undercounts; over by at most eps*N).
      case "sketch-query" :: sketchPath :: values if values.nonEmpty =>
        val cms = graft.operators.CountMin.readMerged(spark, sketchPath)
        values.foreach(v => println(s"$v\t${cms.estimateCount(v)}"))
        println(s"total\t${cms.totalCount()}")
        0
      case "text-search" :: rest =>
        val (settings, positional) = Settings.fromArgs(rest)
        positional match {
          case target :: query :: Nil =>
            val terms = query.split("[,\\s]+").toSeq.filter(_.nonEmpty)
            textSearch(spark, target, terms, settings.limit.getOrElse(10), settings)
              .collect().foreach { r =>
                println(s"${r.get(0)}\t${r.getAs[Double]("score")}")
              }
            0
          case _ =>
            System.err.println("usage: text-search <storePath|indexPath> <\"terms\"> [--limit=K]")
            2
        }
      case "status" :: rest0 =>
        val (settings, positional) = Settings.fromArgs(rest0)
        positional match {
          case ledgerPath :: storePath :: Nil =>
            val s = Ops.status(spark, ledgerPath, mkStore(storePath, settings))
            println(s"processed=${s.processed} failed=${s.failed} chunks=${s.storeChunks} docs=${s.storeDocs}")
            0
          case _ =>
            System.err.println("usage: status <ledgerPath> <storePath> [--storage-type=...]")
            2
        }
      case "validate" :: rest0 =>
        val (settings, positional) = Settings.fromArgs(rest0)
        positional match {
          case ledgerPath :: storePath :: Nil =>
            val v = Ops.validate(spark, ledgerPath, mkStore(storePath, settings))
            println(s"consistent=${v.isConsistent} state_only=${v.stateOnly.mkString(",")} store_only=${v.storeOnly.mkString(",")}")
            if (v.isConsistent) 0 else 1
          case _ =>
            System.err.println("usage: validate <ledgerPath> <storePath> [--storage-type=...]")
            2
        }
      // formats: snapshot (the chunk store) | parquet | json (plain chunk
      // dirs) — import into the store, export out of it, or copy
      case "migrate" :: src :: srcFmt :: dst :: dstFmt :: Nil =>
        val n = Ops.migrate(spark, src, srcFmt, dst, dstFmt)
        println(s"migrated=$n")
        0
      // mixture <in.parquet> <out.parquet> <totalTokens> src=w [src=w ...]
      // One-call training-mixture cut over a documents-shaped table
      // (doc_id, text, source): per-source budgets derive from the weights
      // (Sampling.takeMixture), the kept rows land at outPath, per-source
      // token totals print for inspection.
      case "mixture" :: inPath :: outPath :: total :: wArgs
          if wArgs.nonEmpty && total.forall(_.isDigit) &&
            wArgs.forall(_.count(_ == '=') == 1) =>
        val weights = wArgs.map { a =>
          val Array(s, w) = a.split("=", 2); s -> w.toDouble
        }.toMap
        val docs = spark.read.parquet(inPath)
          .withColumn("_toks", graft.functions.TextFunctions.tokenCount(col("text")))
        val kept = graft.operators.Sampling.takeMixture(
          docs, "doc_id", "_toks", "source", weights, total.toLong)
        kept.drop("_toks").write.mode("overwrite").parquet(outPath)
        spark.read.parquet(outPath)
          .withColumn("_toks", graft.functions.TextFunctions.tokenCount(col("text")))
          .groupBy(col("source")).agg(count(lit(1)).as("n"), sum(col("_toks")).as("toks"))
          .orderBy(col("source"))
          .collect().foreach(r => println(s"source=${r.get(0)} docs=${r.get(1)} tokens=${r.get(2)}"))
        0
      // prepare <in> <outTable> [benchmarkParquet] — the one-call
      // crawl→training-shards pipeline (Pretrain.prepare): HTML strip →
      // normalize → C4/Gopher/repetition/perplexity quality → line + fuzzy
      // dedup → decontaminate → per-source token budget → epoch shards,
      // landing the kept corpus in a snapshot table and printing the
      // per-stage loss ledger. Input: a snapshot table or parquet dir with
      // (doc_id, source, lang, html), or the warc-ingest output shape
      // (url, text) from which ids/source derive.
      case "prepare" :: rest =>
        val (_, positional) = Settings.fromArgs(rest)
        positional match {
          case in :: outTable :: restB if restB.size <= 1 =>
            prepareCmd(spark, in, outTable, restB.headOption)
          case _ =>
            System.err.println("usage: prepare <inTableOrParquet> <outTable> [benchmarkParquet]")
            2
        }
      case "drift" :: rest =>
        val (settings, positional) = Settings.fromArgs(rest)
        positional match {
          case refPath :: curPath :: colRest if colRest.size <= 1 =>
            val r = driftReport(spark, refPath, curPath,
              colRest.headOption.getOrElse("text"),
              settings.limit.getOrElse(4096))
            println(
              s"""{"psi":${r.getAs[Double]("psi")},"kl_ref_cur":${r.getAs[Double]("kl_ref_cur")},""" +
                s""""n_buckets_present":${r.getAs[Long]("n_buckets_present")},""" +
                s""""n_ref":${r.getAs[Long]("n_ref")},"n_cur":${r.getAs[Long]("n_cur")}}""")
            0
          case _ =>
            System.err.println("usage: drift <refParquet> <curParquet> [textCol] [--limit=buckets]")
            2
        }
      // snapshot-* — the manifest-log table lifecycle (Snapshots.scala):
      // versioned commits, time travel, CDC diffs, retention.
      case "snapshot-create" :: table :: Nil =>
        graft.operators.Snapshots.create(spark, table)
        println(s"created=$table version=0")
        0
      case "snapshot-append" :: table :: parquetDir :: Nil =>
        val v = graft.operators.Snapshots.append(spark, table, spark.read.parquet(parquetDir))
        println(s"appended=$parquetDir version=$v")
        0
      case "snapshot-read" :: table :: rest if rest.size <= 1 =>
        val version = rest.headOption.map(_.toLong)
        val df = graft.operators.Snapshots.read(spark, table, version)
        println(s"version=${version.getOrElse(graft.operators.Snapshots.currentVersion(table).get)} " +
          s"rows=${df.count()} schema=${df.schema.simpleString}")
        0
      case "snapshot-history" :: table :: Nil =>
        graft.operators.Snapshots.history(spark, table).collect().foreach { r =>
          println(s"v=${r.getAs[Long]("version")} op=${r.getAs[String]("op")} " +
            s"ts=${r.getAs[String]("ts")} files=${r.getAs[Long]("n_files")} " +
            s"rows=${r.getAs[Long]("n_rows")} bytes=${r.getAs[Long]("n_bytes")}" +
            (if (r.getAs[Boolean]("is_current")) " *" else ""))
        }
        0
      case "snapshot-diff" :: table :: fromV :: toV :: Nil =>
        graft.operators.Snapshots.diffAppended(spark, table, fromV.toLong, toV.toLong) match {
          case Some(delta) =>
            println(s"appended_rows=${if (delta.columns.isEmpty) 0L else delta.count()}")
            0
          case None =>
            System.err.println(
              s"range ($fromV,$toV] contains a non-append commit - full re-read required")
            1
        }
      // snapshot-delete <table> "<sql predicate>" — merge-on-read:
      // rewrites NO data file; matching rows land in a position-delete
      // dataset every read applies (compaction absorbs the vectors)
      case "snapshot-delete" :: table :: predicate :: Nil =>
        val st = graft.operators.Snapshots.deleteWhereMor(
          spark, table, org.apache.spark.sql.functions.expr(predicate))
        println(s"version=${st.version} rows_deleted=${st.rowsDeleted} " +
          s"files_with_dv=${st.filesWithDv} files_untouched=${st.filesUntouched}")
        0
      // snapshot-changes <table> <fromV> <toV> — row-level changelog
      // (inserts + deletes; updates are delete/insert pairs) per commit
      case "snapshot-changes" :: table :: fromV :: toV :: Nil =>
        val ch = graft.operators.Snapshots.rowChanges(
          spark, table, fromV.toLong, toV.toLong)
        ch.groupBy("_commit_version", "_change_type").count()
          .orderBy("_commit_version", "_change_type").collect()
          .foreach(r => println(s"v=${r.get(0)} ${r.get(1)}=${r.get(2)}"))
        0
      // snapshot-delete-keys <table> <parquetDir> <keyCols,comma-sep> —
      // keyed merge-on-read delete (CDC retirement; zero file rewrites)
      case "snapshot-delete-keys" :: table :: parquetDir :: keys :: Nil =>
        val st = graft.operators.Snapshots.deleteKeysMor(
          spark, table, spark.read.parquet(parquetDir), keys.split(",").toSeq)
        println(s"version=${st.version} rows_deleted=${st.rowsDeleted} " +
          s"files_with_dv=${st.filesWithDv} files_untouched=${st.filesUntouched}")
        0
      // warc-ingest <warcGlob> <table> — land a crawl (WARC/WARC.gz) into
      // a snapshot table as (doc_id, url, fetched_at, content_type,
      // n_bytes, text) rows
      case "warc-ingest" :: glob :: table :: Nil =>
        if (graft.operators.Snapshots.currentVersion(table).isEmpty)
          graft.operators.Snapshots.create(spark, table)
        val docs = graft.sources.Warc.responses(graft.sources.Warc.read(spark, glob))
        val v = graft.operators.Snapshots.append(spark, table, docs)
        println(s"version=$v rows=${graft.operators.Snapshots.fastCount(spark, table)}")
        0
      // snapshot-sql <table> <viewName> "<query>" — run ANSI SQL against
      // the PLANNER-INTEGRATED table (manifest pruning rides the
      // optimizer's pushed filters; deletion vectors applied)
      case "snapshot-sql" :: table :: view :: query :: Nil =>
        graft.operators.Snapshots.table(spark, table).createOrReplaceTempView(view)
        spark.sql(query).show(100, truncate = false)
        0
      // snapshot-maintain <table> [smallBytes] [keepLast] — fold small-file
      // debt (absorbing deletion vectors) then expire old history
      case "snapshot-maintain" :: table :: rest if rest.size <= 2 =>
        val (folded, manifests, files) = graft.operators.Snapshots.maintain(
          spark, table,
          smallBytes = rest.headOption.map(_.toLong).getOrElse(32L * 1024 * 1024),
          keepLast = rest.lift(1).map(_.toInt).getOrElse(7))
        println(s"files_folded=$folded manifests_dropped=$manifests data_files_deleted=$files")
        0
      // snapshot-clone <src> <dst> — zero-copy shallow clone (manifest
      // only; the clone evolves independently in its own data dir)
      case "snapshot-clone" :: src :: dst :: Nil =>
        graft.operators.Snapshots.shallowClone(spark, src, dst)
        println(s"cloned=$src dst=$dst rows=${graft.operators.Snapshots.fastCount(spark, dst)}")
        0
      // snapshot-count <table> — exact row count from the manifest alone
      case "snapshot-count" :: table :: Nil =>
        println(s"rows=${graft.operators.Snapshots.fastCount(spark, table)}")
        0
      // snapshot-merge <table> <parquetDir> <keyCols,comma-sep> — keyed
      // merge-on-read upsert: matched rows gain vector positions, the source
      // lands as one file group; no data file rewrites
      case "snapshot-merge" :: table :: parquetDir :: keys :: Nil =>
        val m = graft.operators.Snapshots.merge(
          spark, table, spark.read.parquet(parquetDir), keys.split(",").toSeq)
        println(s"version=${m.version} rows_deleted=${m.rowsDeleted} " +
          s"files_with_dv=${m.filesWithDv} files_untouched=${m.filesUntouched} " +
          s"rows_updated=${m.rowsUpdated} rows_inserted=${m.rowsInserted}")
        0
      // snapshot-compact <table> [smallBytes] [--limit=recordsPerFile] —
      // fold files under smallBytes (default: all) and every vector-bearing
      // file; healthy files carry by reference
      case "snapshot-compact" :: rest0 =>
        val (settings, positional) = Settings.fromArgs(rest0)
        positional match {
          case table :: rest if rest.size <= 1 &&
              rest.forall(a => scala.util.Try(a.toLong).isSuccess) =>
            val (v, folded, carried) = graft.operators.Snapshots.compact(spark, table,
              smallBytes = rest.headOption.map(_.toLong).getOrElse(Long.MaxValue),
              targetRecordsPerFile = settings.limit.map(_.toLong).getOrElse(1000000L))
            println(s"version=$v files_folded=$folded files_carried=$carried")
            0
          case _ =>
            System.err.println(
              "usage: snapshot-compact <table> [smallBytes] [--limit=recordsPerFile]")
            2
        }
      // text-index-refresh <table> <indexPath> <cursor> [textCol] [idCol] —
      // bring a BM25 index up to a snapshot table's current version at
      // delta cost (appends as replay-safe segments; rebuild across
      // deletes/merges). Pairs with warc-ingest: crawl -> search in two
      // commands.
      case "text-index-refresh" :: table :: indexPath :: cursor :: rest if rest.size <= 2 =>
        val m = graft.operators.TextSearch.refreshIndexFromSnapshot(
          spark, table, indexPath,
          rest.headOption.getOrElse("text"), rest.lift(1).getOrElse("doc_id"), cursor)
        println(s"refreshed=$indexPath mode=$m")
        0
      // vector-index-refresh <table> <indexPath> <cursor> [vecCol] [idCol]
      // [--limit=kCells] — the IVF twin
      case "vector-index-refresh" :: rest0 =>
        val (settings, positional) = Settings.fromArgs(rest0)
        positional match {
          case table :: indexPath :: cursor :: rest if rest.size <= 2 =>
            val m = graft.operators.Similarity.refreshIvfFromSnapshot(
              spark, table, indexPath,
              rest.headOption.getOrElse("embedding"), rest.lift(1).getOrElse("doc_id"),
              cursor, k = settings.limit.getOrElse(64))
            println(s"refreshed=$indexPath mode=$m")
            0
          case _ =>
            System.err.println(
              "usage: vector-index-refresh <table> <indexPath> <cursor> [vecCol] [idCol] [--limit=kCells]")
            2
        }
      // snapshot-cluster <table> <spec> [--limit=recordsPerFile] — compact
      // AND record the clustering discipline ("c1,c2" or "z:x,y:bits");
      // appends and maintenance re-cluster by it from then on
      case "snapshot-cluster" :: rest0 =>
        val (settings, positional) = Settings.fromArgs(rest0)
        positional match {
          case table :: spec :: Nil =>
            val (v, folded, _) = graft.operators.Snapshots.compact(spark, table,
              targetRecordsPerFile = settings.limit.map(_.toLong).getOrElse(1000000L),
              clusterBySpec = spec)
            println(s"clustered=$table version=$v spec=$spec files_folded=$folded")
            0
          case _ =>
            System.err.println(
              "usage: snapshot-cluster <table> <spec> [--limit=recordsPerFile]")
            2
        }
      // snapshot-stream <table> <outDir> <checkpoint> [append|changelog] —
      // drain the table's unconsumed commits (AvailableNow) into parquet;
      // re-running continues from the checkpoint's offset (version)
      case "snapshot-stream" :: table :: outDir :: ckpt :: rest if rest.size <= 1 =>
        val mode = rest.headOption.getOrElse("changelog")
        val q = graft.sources.SnapshotStream.reader(spark, table, mode)
          .writeStream.option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            // cache so the count doesn't recompute the batch the write just
            // materialized; logging the BATCH's rows (not a recount of the
            // whole accumulated outDir) keeps a backlog drain O(batch), not
            // O(batches × total rows)
            b.persist()
            val n = b.count()
            b.write.mode("append").parquet(outDir)
            b.unpersist()
            Console.err.println(s"[snapshot-stream] batch=$id rows=$n")
          }
          .start()
        q.awaitTermination()
        println(s"streamed=$table mode=$mode out=$outDir")
        0
      // snapshot-restore <table> <version> — roll back to a version as a
      // by-reference commit (bad-batch recovery; history stays readable)
      case "snapshot-restore" :: table :: version :: Nil =>
        val v = graft.operators.Snapshots.restore(spark, table, version.toLong)
        println(s"restored=$table to_version=${version.toLong} new_version=$v " +
          s"rows=${graft.operators.Snapshots.fastCount(spark, table)}")
        0
      // snapshot-expire <table> <keepLast> [orphanGraceMs] [dry] — `dry`
      // reports what would reclaim without deleting (retention pre-flight)
      case "snapshot-expire" :: table :: keepLast :: rest if rest.size <= 2 =>
        val dry = rest.contains("dry")
        val (manifests, files) = graft.operators.Snapshots.expire(
          spark, table, keepLast.toInt,
          orphanGraceMs = rest.filterNot(_ == "dry").headOption.map(_.toLong).getOrElse(0L),
          dryRun = dry)
        println(s"manifests_dropped=$manifests data_files_deleted=$files dry_run=$dry")
        0
      // agg-refresh — bring a diff-maintained materialized rollup up to the
      // snapshot table's current version (delta merge when insert-only)
      case "agg-refresh" :: table :: aggPath :: keyCols :: sumCols :: Nil =>
        val r = graft.operators.IncrementalAgg.refresh(
          spark, table, aggPath,
          keyCols.split(",").toSeq.filter(_.nonEmpty),
          sumCols.split(",").toSeq.filter(_.nonEmpty))
        println(s"refreshed_to=${r.tableVersion} mode=${r.mode}")
        0
      case _ =>
        System.err.println(
          """usage: graft.cli.GraftCli <command>
            |  process <state.json> <extractedDir> <storePath> <ledgerPath> [flags]
            |    flags (override GRAFT_* env vars): --force --progress --limit=N
            |      --target-tokens=N --max-tokens=N --min-tokens=N --overlap-ratio=R
            |      --dataset=GLOB --storage-type=snapshot
            |      --embedding-model=NAME --embedding-dim=N --api-key=sk-...
            |      --tokenizer=word|bpe:<rank-file>
            |  search <storePath> <query> [--limit=K --embedding-dim=N]
            |  vector-index <storePath> <indexPath>
            |  vector-index-append <storePath> <indexPath> [docId ...]
            |  vector-index-retrain <indexPath> [--limit=kCells]
            |  vector-search <indexPath> <query> [--limit=K]
            |  graph-index <storePath> <graphPath>
            |  graph-index-planned <storePath> <graphPath>
            |  graph-index-append <storePath> <graphPath> [docId ...]
            |  graph-search <graphPath> <query> [--limit=K]
            |  text-index <storePath> <indexPath>
            |  text-index-append <storePath> <indexPath> [docId ...]
            |  text-index-compact <indexPath>
            |  dedup-index-compact <indexPath>
            |  line-index-compact <indexPath>
            |  snapshot-create <table>
            |  snapshot-append <table> <parquetDir>
            |  snapshot-read <table> [version]
            |  snapshot-history <table>
            |  snapshot-diff <table> <fromVersion> <toVersion>
            |  snapshot-delete <table> "<sql predicate>"
            |  snapshot-changes <table> <fromVersion> <toVersion>
            |  snapshot-delete-keys <table> <parquetDir> <keyCols,comma-sep>
            |  snapshot-clone <srcTable> <dstTable>
            |  snapshot-maintain <table> [smallBytes] [keepLast]
            |  snapshot-sql <table> <viewName> "<query>"
            |  warc-ingest <warcGlob> <table>
            |  snapshot-count <table>
            |  snapshot-merge <table> <parquetDir> <keyCol,...>
            |  snapshot-compact <table> [smallBytes] [--limit=recordsPerFile]
            |  snapshot-cluster <table> <spec> [--limit=recordsPerFile]
            |  snapshot-restore <table> <version>
            |  text-index-refresh <table> <indexPath> <cursor> [textCol] [idCol]
            |  vector-index-refresh <table> <indexPath> <cursor> [vecCol] [idCol] [--limit=kCells]
            |  snapshot-stream <table> <outDir> <checkpoint> [append|changelog]
            |  snapshot-expire <table> <keepLast>
            |  agg-refresh <table> <aggPath> <keyCol,...> <sumCol,...>
            |  lake-compact <dir> [partitionCol,...] [--limit=recordsPerFile]
            |  zorder <dir> <xCol> <yCol> [--limit=nFiles]
            |  drift <refParquet> <curParquet> [textCol] [--limit=buckets]
            |  sketch-build <dir> <col> <sketchPath>
            |  sketch-query <sketchPath> <value> [value ...]
            |  text-search <storePath|indexPath> <"terms"> [--limit=K]
            |  dedup <storePath>
            |  decontaminate <storePath> <benchmarkPath> [ngramSize] [--fuzzy|--report]
            |    benchmarkPath: .txt (one doc per line), .json/.jsonl (objects with a
            |    "text" field), or parquet with a text column
            |    --report: read-only per-eval-item leakage ranking, deletes nothing
            |  prepare <inTableOrParquet> <outTable> [benchmarkParquet]
            |    one-call crawl→training-shards prep (quality → dedup →
            |    decontaminate → budget → shards) with a per-stage loss ledger;
            |    input (doc_id, source, lang, html) or warc-ingest (url, text)
            |  mixture <in.parquet> <out.parquet> <totalTokens> <src=weight> [src=weight ...]
            |    one-call training-mixture cut over (doc_id, text, source) rows;
            |    per-source budget = min(available, round(share * total))
            |  status <ledgerPath> <storePath>
            |  validate <ledgerPath> <storePath>
            |  migrate <srcPath> <srcFormat> <dstPath> <dstFormat>
            |    formats: snapshot (the chunk store) | parquet | json (chunk dirs)""".stripMargin)
        2
    }
    spark.stop()
    if (code != 0) sys.exit(code)
  }
}
