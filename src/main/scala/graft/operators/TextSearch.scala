package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Okapi BM25 full-text search over a document corpus.
  *
  * The reference retrieves chunks by vector similarity only
  * (`infrastructure/chroma_vector_store.py:22-93`); keyword retrieval is the
  * standard complement for a training-data / RAG engine, so it is provided as
  * a first-class extension: BM25 scoring (Robertson idf) over a
  * whitespace-tokenized corpus, plus a persisted inverted-index layout whose
  * term-bucket partitioning turns a query into partition pruning — the same
  * at-rest-layout move as [[Similarity.writeIvf]].
  *
  * Scale shape (the 100 TB argument):
  *   - Brute scoring filters to the query's terms BEFORE the only corpus-wide
  *     shuffle, so the exchange carries `O(matching postings)`, not the
  *     corpus; document-frequency and corpus stats are tiny aggregates that
  *     broadcast back.
  *   - The persisted index pays the full tokenize+count once at build time;
  *     a query then reads only `termBuckets(query)/nBuckets` of the postings
  *     from disk (partition pruning on `bucket`), joins nothing (df is
  *     denormalized onto the posting row), and top-ks.
  */
object TextSearch {

  /** BM25 hyperparameters (standard Okapi defaults). */
  final case class Bm25Params(k1: Double = 1.2, b: Double = 0.75)

  /** Whitespace tokens, empty-dropped — matches the corpus-stats queries
    * (`ta_vocab_top20`) so oracles replay with DuckDB `string_split`.
    */
  private def toks(textCol: String) =
    filter(split(trim(col(textCol)), " "), t => length(t) > 0)

  /** Per-(doc, query-term) postings with document length attached.
    * The `isin` filter runs before the tf groupBy: the aggregate — the one
    * corpus-wide shuffle — only ever carries rows whose term is in the query.
    */
  private def queryPostings(
      docs: DataFrame, textCol: String, idCol: String, query: Seq[String]): DataFrame = {
    val terms = query.distinct
    Par.spreadSmall(docs)
      .select(col(idCol).as("doc_id"), toks(textCol).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
  }

  /** BM25 score expression for one posting row: idf(df) * tf-saturation.
    * `n`/`avgdl` are corpus scalars folded in as literals — `avgdl` derives
    * from an exact integer sum, so it is reproducible across partitionings.
    */
  private def bm25W(n: Long, avgdl: Double, p: Bm25Params) = {
    val idf = log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    idf * (col("tf") * lit(p.k1 + 1.0)) /
      (col("tf") + lit(p.k1) * (lit(1.0 - p.b) + lit(p.b) * col("dl") / lit(avgdl)))
  }

  /** Per-document BM25 scores for `query` (only docs containing at least one
    * query term appear). Callers round/sort/limit; [[bm25TopK]] is the
    * user-facing composition.
    */
  def bm25Scores(
      docs: DataFrame, textCol: String, idCol: String, query: Seq[String],
      params: Bm25Params = Bm25Params()): DataFrame = {
    val lens = docs.select(col(idCol).as("doc_id"), size(toks(textCol)).as("dl"))
    val row = lens.agg(count(lit(1)), sum(col("dl"))).head()
    val n = row.getLong(0)
    val avgdl = if (n == 0) 1.0 else row.getLong(1).toDouble / n
    val tf = queryPostings(docs, textCol, idCol, query)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df")) // one row per (doc,term) ⇒ count = doc frequency
    tf.join(broadcast(dfreq), "term") // |query| rows — always broadcastable
      .withColumn("w", bm25W(n, avgdl, params))
      .groupBy(col("doc_id")).agg(sum(col("w")).as("score"))
  }

  /** Per-term BM25 scores for a batch of SINGLE-TERM queries in ONE corpus
    * pass — `(term, doc_id, score)` rows, value-identical to running
    * [[bm25Scores]] once per term (same corpus scalars, same tf/df counts,
    * same literal arithmetic; the per-(term, doc) "sum" is a singleton, so
    * no re-association can occur). Running the eval harness's N rankings
    * through N separate [[bm25Scores]] calls re-tokenized the corpus 2N
    * times (the length pass + the postings pass per call); this costs the
    * same two passes once for the whole term set.
    */
  def bm25ScoresPerTerm(
      docs: DataFrame, textCol: String, idCol: String, terms: Seq[String],
      params: Bm25Params = Bm25Params()): DataFrame = {
    val lens = docs.select(col(idCol).as("doc_id"), size(toks(textCol)).as("dl"))
    val row = lens.agg(count(lit(1)), sum(col("dl"))).head()
    val n = row.getLong(0)
    val avgdl = if (n == 0) 1.0 else row.getLong(1).toDouble / n
    val tf = queryPostings(docs, textCol, idCol, terms)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .withColumn("w", bm25W(n, avgdl, params))
      .groupBy(col("term"), col("doc_id")).agg(sum(col("w")).as("score"))
  }

  /** Top-k BM25 search: scores sorted desc with doc-id tie-break. */
  def bm25TopK(
      docs: DataFrame, textCol: String, idCol: String, query: Seq[String], k: Int,
      params: Bm25Params = Bm25Params()): DataFrame =
    bm25Scores(docs, textCol, idCol, query, params)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** Reciprocal-rank fusion — the standard hybrid-retrieval combiner for a
    * keyword ranking and a vector ranking over the same id space:
    * `score(id) = Σ_lists 1/(c + rank_in_list)`. Rank-based, so the lists'
    * raw score scales need no calibration. Inputs are already-truncated
    * top-N lists (each a handful of rows), so the un-partitioned rank
    * window is over N rows, never the corpus.
    */
  def fuseRrf(
      results: Seq[DataFrame], idCol: String, scoreCol: String, k: Int,
      c: Int = 60): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(scoreCol).desc, col(idCol))
    val contribs = results.map { df =>
      df.select(col(idCol), row_number().over(w).as("r"))
        .select(col(idCol), (lit(1.0) / (lit(c) + col("r"))).as("contrib"))
    }
    contribs.reduce(_.unionByName(_))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lists"), sum(col("contrib")).as("rrf"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
  }

  /** Ranking-quality metrics — nDCG@k, MRR@k, recall@k per query — the eval
    * harness for any retrieval stack in the engine (BM25, ANN, hybrid RRF).
    * Pure relational algebra over ALREADY-TRUNCATED ranked lists: `results`
    * carries queries×candidates rows (each retrieval produced at most its
    * own top-N), so the per-query rank windows here run over a handful of
    * rows — never the corpus. The relevance side can be any judgment table
    * (graded or binary); missing judgments score 0, the IR convention.
    *
    *  - nDCG@k: Σ (2^rel−1)/log₂(rank+1) over the top k, normalized by the
    *    same sum over the k best-possible judgments (ties in both rankings
    *    break toward the smaller doc id, so both engines rank identically);
    *  - MRR@k: 1/rank of the first relevant hit, 0 when none;
    *  - recall@k: relevant retrieved / relevant total.
    *
    * @param results   (queryCol, docCol, scoreCol) candidate lists
    * @param relevance (queryCol, docCol, relCol) judgments, rel > 0 = relevant
    */
  def evalRanking(
      results: DataFrame, relevance: DataFrame,
      queryCol: String, docCol: String, scoreCol: String, relCol: String,
      k: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ranked = results
      .select(col(queryCol).as("_q"), col(docCol).as("_d"), col(scoreCol).as("_s"))
      .withColumn("rank",
        row_number().over(W.partitionBy(col("_q")).orderBy(col("_s").desc, col("_d"))))
      .filter(col("rank") <= k)
    val rel = relevance
      .select(col(queryCol).as("_q"), col(docCol).as("_d"), col(relCol).as("_rel"))
      .filter(col("_rel") > 0)
    val retrieved = ranked.join(rel, Seq("_q", "_d"), "left")
      .na.fill(0, Seq("_rel"))
      .groupBy(col("_q")).agg(
        sum((pow(lit(2.0), col("_rel")) - lit(1.0)) / log2(col("rank") + 1)).as("dcg"),
        min(when(col("_rel") > 0, col("rank"))).as("_firstRel"),
        sum(when(col("_rel") > 0, 1L).otherwise(0L)).as("_relRetrieved"))
    val ideal = rel
      .withColumn("irank",
        row_number().over(W.partitionBy(col("_q")).orderBy(col("_rel").desc, col("_d"))))
      .groupBy(col("_q")).agg(
        sum(when(col("irank") <= k,
          (pow(lit(2.0), col("_rel")) - lit(1.0)) / log2(col("irank") + 1))
          .otherwise(lit(0.0))).as("idcg"),
        count(lit(1)).as("_relTotal"))
    retrieved.join(ideal, Seq("_q"), "full_outer")
      .select(
        col("_q").as(queryCol),
        when(col("idcg") > 0, coalesce(col("dcg"), lit(0.0)) / col("idcg"))
          .otherwise(lit(0.0)).as("ndcg"),
        when(col("_firstRel").isNotNull, lit(1.0) / col("_firstRel"))
          .otherwise(lit(0.0)).as("mrr"),
        when(col("_relTotal") > 0,
          coalesce(col("_relRetrieved"), lit(0L)).cast("double") / col("_relTotal"))
          .otherwise(lit(0.0)).as("recall"))
  }

  // ---------------------------------------------------------------- index

  /** The batch's posting rows: (doc_id, dl, term, tf) + the batch-LOCAL df.
    * Stored df is segment-local bookkeeping only — [[searchIndex]] derives
    * the true document frequency merge-on-read — but keeping the column
    * makes full-build and appended segments schema-identical.
    */
  private def postingRows(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    // NO spreadSmall here, deliberately: postingRows feeds the partitioned
    // index WRITES (writeIndex/appendToIndex), where a pre-spread multiplies
    // segment file counts (tasks × buckets) — measured +1-2 s on the
    // bm25_incremental/snapshot entries from the extra files and their
    // read-back, more than the tokenize parallelism saved (guide §6 "small
    // files hurt twice")
    val tf = docs
      .select(col(idCol).as("doc_id"), toks(textCol).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // df via groupBy + equi-join, NOT a per-term window: a hyper-common
    // term ("the") would pile its entire postings list into one window
    // partition — the skew trap the duplicateSpans design note documents.
    // The groupBy combines map-side; AQE skew-splits the join-back.
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term")
  }

  private def writeStats(
      spark: SparkSession, path: String, n: Long, sumDl: Long, nBuckets: Int,
      appends: Int): Unit = {
    import spark.implicits._
    val avgdl = if (n == 0) 1.0 else sumDl.toDouble / n
    Seq((n, avgdl, nBuckets, sumDl, appends))
      .toDF("n", "avgdl", "n_buckets", "sum_dl", "appends")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(path + "/_stats")
  }

  private final case class IndexStats(n: Long, sumDl: Long, nBuckets: Int, appends: Int)

  private def segmentsDir(path: String) = path + "/_segments"

  private def hadoopFs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Registered append segments: one subdir per segment id holding that
    * segment's (n, sum_dl). Underscore-prefixed, so the postings scan never
    * sees it.
    */
  private def segmentPaths(spark: SparkSession, path: String): Seq[String] = {
    val fs = hadoopFs(spark, path)
    val dir = new org.apache.hadoop.fs.Path(segmentsDir(path))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath.toString).toSeq
  }

  /** `_stats` (base build) plus the per-segment stats of every registered
    * append, summed as exact longs — so stats never drift under float
    * accumulation AND a replayed append can never double-count (its
    * segment's stats are OVERWRITTEN, not merged; see [[appendToIndex]]).
    * `appends` = registered segment count (plus a legacy counter from
    * pre-segment indexes).
    */
  private def readStats(spark: SparkSession, path: String): IndexStats = {
    // explicit schema: no inference job, and a legacy index's missing
    // columns read as null
    val row = spark.read.schema("n LONG, avgdl DOUBLE, n_buckets INT, sum_dl LONG, appends INT")
      .parquet(ParquetDirs.files(spark, path + "/_stats"): _*).head()
    val n = row.getAs[Long]("n")
    val sumDl =
      if (!row.isNullAt(row.fieldIndex("sum_dl"))) row.getAs[Long]("sum_dl")
      else math.round(row.getAs[Double]("avgdl") * n)
    val legacyAppends =
      if (!row.isNullAt(row.fieldIndex("appends"))) row.getAs[Int]("appends") else 1
    val segs = segmentPaths(spark, path)
    val (nSeg, sumDlSeg) =
      if (segs.isEmpty) (0L, 0L)
      else {
        // explicit schema: a crashed half-written segment dir must not
        // break schema inference for the healthy ones
        val r = spark.read.schema("n LONG, sum_dl LONG").parquet(segs: _*)
          .agg(coalesce(sum(col("n")), lit(0L)), coalesce(sum(col("sum_dl")), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
    IndexStats(n + nSeg, sumDl + sumDlSeg, row.getAs[Int]("n_buckets"),
      legacyAppends + segs.size)
  }

  /** Build and persist the inverted index: one posting row per (term, doc)
    * carrying tf and dl, partitioned by `bucket = xxhash64(term) mod
    * nBuckets`, so a query lists and reads only its terms' `bucket=<b>`
    * directories ([[searchIndex]]). Corpus scalars live under `_stats`
    * (ignored by partition discovery).
    */
  def writeIndex(
      spark: SparkSession, docs: DataFrame, textCol: String, idCol: String,
      path: String, nBuckets: Int = 64): Unit = {
    val lens = docs.select(col(idCol).as("doc_id"), size(toks(textCol)).as("dl"))
    postingRows(docs, textCol, idCol)
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode(SaveMode.Overwrite).parquet(path)
    val row = lens.agg(count(lit(1)), sum(col("dl"))).head()
    val n = row.getLong(0)
    writeStats(spark, path, n, if (n == 0) 0L else row.getLong(1), nBuckets, appends = 0)
  }

  /** Register NEW documents in an existing index without touching the
    * corpus: tokenize ONLY the batch, append its posting rows into the same
    * bucket layout, and register the batch as a SEGMENT — a subdir under
    * `_segments/<segmentId>` holding the batch's exact (n, sum_dl) — the
    * 100 TB shape (a daily ingest re-tokenizes the day, not the archive).
    * Queries stay correct immediately because [[searchIndex]] derives df
    * merge-on-read; run [[compactIndex]] periodically to fold accumulated
    * segment files back to one per bucket.
    *
    * EXACTLY-ONCE under replay: a stable `segmentId` (a streaming batch id,
    * an ingest date) makes the call idempotent. A fully-registered segment
    * (its `_SUCCESS` present) is skipped outright — the
    * append-succeeded-but-checkpoint-commit-didn't case. A crash mid-append
    * leaves postings without segment stats; the replay re-appends (the
    * duplicate rows are healed by the distinct in merge-on-read and
    * compaction) and OVERWRITES the segment stats — counted once, always.
    * Without an explicit id a random one is used (no replay protection).
    *
    * For UPDATED documents rebuild or compact after a delete — append-only
    * semantics, like Lucene segments without delete markers. Single-writer,
    * like the store's upsert.
    */
  def appendToIndex(
      spark: SparkSession, docs: DataFrame, textCol: String, idCol: String,
      path: String, segmentId: String = null): Unit = {
    import spark.implicits._
    val st = readStats(spark, path)
    val segId = Option(segmentId).getOrElse(java.util.UUID.randomUUID().toString)
    require(!segId.contains("/"), s"segmentId must not contain '/': $segId")
    val segPath = s"${segmentsDir(path)}/$segId"
    val fs = hadoopFs(spark, path)
    if (fs.exists(new org.apache.hadoop.fs.Path(segPath, "_SUCCESS"))) return
    val lens = docs.select(col(idCol).as("doc_id"), size(toks(textCol)).as("dl"))
    postingRows(docs, textCol, idCol)
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(st.nBuckets.toLong)))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode(SaveMode.Append).parquet(path)
    val row = lens.agg(count(lit(1)), sum(col("dl"))).head()
    val nB = row.getLong(0)
    // segment stats LAST and by overwrite: the segment either counts fully
    // (stats landed) or not at all (replay rewrites them) — never twice
    Seq((nB, if (nB == 0) 0L else row.getLong(1))).toDF("n", "sum_dl")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(segPath)
  }

  /** Fold appended segments back to the one-sorted-file-per-bucket layout
    * with globally-correct denormalized df. Reads and re-shuffles POSTING
    * ROWS only — compaction never re-tokenizes a document, so its cost
    * scales with index size, not corpus text. Staged into a sibling dir and
    * swapped by rename (single-writer, like the store).
    */
  def compactIndex(spark: SparkSession, path: String): Unit = {
    val st = readStats(spark, path) // base + all registered segments
    val tmp = path + ".compact-tmp"
    // distinct: heal duplicate posting rows a crashed-and-replayed append
    // left behind (identical (doc_id, dl, term, tf) tuples)
    val postings = spark.read.parquet(path).drop("df").distinct()
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    postings.join(dfreq, "term")
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(st.nBuckets.toLong)))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.partitionBy("bucket").mode(SaveMode.Overwrite).parquet(tmp)
    // segment stats fold into the base; the segment ledger resets with the
    // swap (tmp has no _segments dir)
    writeStats(spark, tmp, st.n, st.sumDl, st.nBuckets, appends = 0)
    val fs = hadoopFs(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    // rename reports failure by RETURNING false; the old layout is already
    // deleted, so an unchecked false is silent index loss
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(path)),
      s"rename $tmp -> $path failed after the old index was deleted; " +
        s"the compacted index is intact at $tmp — move it into place manually")
  }

  /** Query the persisted index: read only the query terms' `bucket=<b>`
    * directories (`|buckets(query)|/nBuckets` of the index; a bucket no
    * posting landed in has none and is skipped), score, top-k. The scan is
    * planned in the driver — `_stats` with an explicit schema, the postings
    * schema from one footer — so a query runs the `_stats` read and its own
    * scoring jobs, no listing or inference job. Document frequency is
    * derived merge-on-read: the true df of a query term is exactly the
    * posting-row count in the pruned scan, a |query|-row aggregate over
    * rows already being read — which is
    * what keeps appended segments (whose stored df is segment-local)
    * correct with no compaction on the query path. No corpus-wide work at
    * query time.
    */
  def searchIndex(
      spark: SparkSession, path: String, query: Seq[String], k: Int,
      params: Bm25Params = Bm25Params()): DataFrame = {
    val st = readStats(spark, path)
    val avgdl = if (st.n == 0) 1.0 else st.sumDl.toDouble / st.n
    val terms = query.distinct
    // The layout hashed with xxhash64; recompute the query terms' buckets via
    // a tiny local DataFrame rather than reimplementing the hash driver-side.
    import spark.implicits._
    val termBuckets = terms.toDF("term")
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(st.nBuckets.toLong)))
      .collect().map(_.getLong(1)).distinct.toSeq
    val pruned = ParquetDirs.readPartitions(spark, path, "bucket", termBuckets)
      .filter(col("bucket").isin(termBuckets: _*) && col("term").isin(terms: _*))
    // a built/compacted index (appends == 0) carries globally-correct
    // denormalized df — score straight off the scan; appended segments'
    // stored df is segment-local, so derive the true df merge-on-read.
    // The distinct (before counting df!) heals duplicate rows a crashed-
    // and-replayed append left in the postings.
    val scored =
      if (st.appends == 0) pruned
      else {
        val rows = pruned.drop("df").distinct()
        val dfreq = rows.groupBy(col("term")).agg(count(lit(1)).as("df"))
        rows.join(broadcast(dfreq), "term")
      }
    scored
      .withColumn("w", bm25W(st.n, avgdl, params))
      .groupBy(col("doc_id")).agg(sum(col("w")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Keep this index current with a SNAPSHOT TABLE
    * ([[graft.operators.Snapshots]]) — the standing pattern for derived
    * artifacts at 100 TB: each call reads exactly the commits APPENDED
    * since the index's cursor (a manifest query; nothing else scanned) and
    * registers them as ONE segment named by the version range, so a round
    * that crashed between the index write and the cursor commit replays
    * idempotently (the stable segment id is skipped — [[appendToIndex]]'s
    * exactly-once contract); non-append lineage (delete/merge/overwrite)
    * REBUILDS from the current table, because append-only segments cannot
    * express a retire — the same fallback discipline as
    * [[Snapshots.readChangesSince]] itself. The cursor commits AFTER the
    * index lands (at-least-once + idempotent segment = exactly-once).
    *
    * The idempotence is RANGE-PROOF, not just id-proof: the index's own
    * high-water version (max `toV` across registered `v{a}-v{b}` segment
    * markers) bounds the delta, so a replay AFTER the table advanced —
    * crashed round indexed (a,b], replay sees (a,c], c > b, a DIFFERENT
    * segment id — re-derives the delta as (b,c] instead of re-appending
    * (a,b] a second time. Without it, duplicated postings skew df/BM25
    * until a rebuild (round-13 advisory finding).
    * Returns the mode taken: `rebuild` | `append` | `noop`.
    */
  def refreshIndexFromSnapshot(
      spark: SparkSession, table: String, indexPath: String,
      textCol: String, idCol: String, cursorPath: String,
      nBuckets: Int = 64): String = {
    val ch = graft.operators.Snapshots.readChangesSince(spark, table, cursorPath)
    val statsExist = hadoopFs(spark, indexPath)
      .exists(new org.apache.hadoop.fs.Path(indexPath + "/_stats"))
    val mode = ch.mode match {
      case "noop" => "noop"
      case "incremental" if statsExist =>
        // clamp to what a crashed-and-replayed round already indexed
        val from = math.max(ch.fromV, segmentHighWater(spark, indexPath))
        if (from >= ch.toV) "noop" // fully indexed; only the cursor lags
        else {
          val delta =
            if (from == ch.fromV) Some(ch.df)
            else graft.operators.Snapshots.diffAppended(spark, table, from, ch.toV)
          delta match {
            case Some(d) =>
              appendToIndex(spark, d, textCol, idCol, indexPath,
                segmentId = f"v$from%08d-v${ch.toV}%08d")
              "append"
            case None => // non-append landed inside the clamped range
              writeIndex(spark,
                graft.operators.Snapshots.read(spark, table, Some(ch.toV)),
                textCol, idCol, indexPath, nBuckets)
              "rebuild"
          }
        }
      case _ => // first build, non-append lineage, or a vanished index:
        // always rebuild from the FULL table at the round's version (an
        // incremental round's df is the delta alone — never enough)
        writeIndex(spark,
          graft.operators.Snapshots.read(spark, table, Some(ch.toV)),
          textCol, idCol, indexPath, nBuckets)
        "rebuild"
    }
    if (ch.mode != "noop") graft.operators.Snapshots.commitCursor(cursorPath, ch.toV)
    mode
  }

  /** Highest snapshot version already folded into this index: max `toV`
    * over FULLY-REGISTERED (`_SUCCESS` present) `v{from}-v{to}` segment
    * markers. -1 when none — manually-named segments don't participate.
    */
  private[operators] def segmentHighWater(spark: SparkSession, path: String): Long =
    segmentPaths(spark, path).flatMap { p =>
      val name = new org.apache.hadoop.fs.Path(p).getName
      parseSegmentRange(name).filter { _ =>
        hadoopFs(spark, path)
          .exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
      }
    }.foldLeft(-1L)(math.max)

  private[operators] def parseSegmentRange(name: String): Option[Long] = {
    val m = java.util.regex.Pattern.compile("^v(\\d{8,})-v(\\d{8,})$").matcher(name)
    if (m.matches()) Some(m.group(2).toLong) else None
  }
}
