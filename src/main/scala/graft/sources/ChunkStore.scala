package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Overlay

/** The keyed chunk-store protocol (reference `domain/vector_store.py:11-63`):
  * upsert by chunkId, delete by documentId, full scan, counts — the surface
  * every pipeline stage programs against, with two interchangeable backends:
  * the bucket-swap [[ChunkStore]] (parquet/JSONL, reference-shaped) and the
  * snapshot-table [[SnapshotChunkStore]] (each delta one merge-on-read
  * commit, with time travel and a changelog for free). A pipeline delta
  * lands through [[applyDelta]]: upsert by chunkId, then delete by
  * document — as the two calls in turn on the bucket store, as one atomic
  * commit on the snapshot store.
  */
trait KeyedChunkStore extends Serializable {
  def path: String
  def exists(spark: SparkSession): Boolean
  /** S4/S5: full store scan (chunk columns, no partition internals). */
  def read(spark: SparkSession): DataFrame
  /** K1/J3: upsert — new chunks replace stored chunks with equal chunkId. */
  def upsert(spark: SparkSession, chunks: DataFrame): Unit
  /** K3: delete all chunks of the documents in `docs` (a `docId` column);
    * returns the number of chunks deleted.
    */
  def deleteByDocuments(spark: SparkSession, docs: DataFrame): Long
  /** One incremental delta: upsert `upserts` by chunkId, then delete every
    * chunk of the documents in `retireDocs` (a `docId` column) — retirement
    * wins over a same-delta upsert. This default makes the two protocol
    * calls in that order; a backend that can land both as one atomic
    * commit overrides it.
    */
  def applyDelta(
      spark: SparkSession, upserts: Option[DataFrame], retireDocs: Option[DataFrame]): Unit = {
    upserts.foreach(upsert(spark, _))
    retireDocs.foreach(deleteByDocuments(spark, _))
  }
  /** K3 convenience for small id lists. */
  def deleteByDocumentIds(spark: SparkSession, docIds: Seq[String]): Long = {
    if (docIds.isEmpty) return 0L
    val s = spark
    import s.implicits._
    deleteByDocuments(spark, docIds.toDF("docId"))
  }
  /** A2: chunk count. */
  def count(spark: SparkSession): Long = read(spark).count()
  /** A3: distinct document ids. */
  def distinctDocumentIds(spark: SparkSession): DataFrame =
    read(spark).select(col("documentId").as("docId")).distinct()
}

/** The chunk store: a keyed sink with upsert / delete-by-document semantics
  * (reference protocol `domain/vector_store.py:11-63`; JSONL backend
  * `infrastructure/jsonl_vector_store.py:41-121,197-248`).
  *
  * Layout: parquet (or JSON-lines) partitioned by `doc_prefix` — the first
  * two hex chars of `sha2(documentId)` (256 buckets). The reference keeps one
  * file per source hash; at 100 TB that is millions of tiny files, and hash
  * changes would scatter one document's chunk ids across buckets. Bucketing
  * by documentId keeps every version of a document's chunks co-located, so:
  *   - upsert = read ONLY the buckets the batch touches (partition pruning),
  *     overlay last-write-wins by chunkId, dynamic-partition-overwrite them;
  *   - delete-by-document = prune straight to the documents' buckets from
  *     the ids alone — no scan of the other 250+ buckets.
  * Neither path ever read-rewrites the world.
  */
final class ChunkStore(
    val path: String,
    val format: String = "parquet",
    /** hex chars of sha2(documentId) used as the bucket key: 1 → 16 buckets
      * (test scale), 2 → 256 (default), 3 → 4096 (100 TB+). Pick so one
      * bucket's rewrite fits comfortably in executor memory.
      */
    val prefixLen: Int = 2,
    /** How long a mutation waits for the store's write lock before failing
      * with [[ChunkStore.ConcurrentWriteException]]. 0 (default) = fail
      * fast; a positive value makes concurrent writers SERIALIZE (polling
      * at 200 ms).
      */
    val lockWaitMs: Long = 0L,
    /** A `_lock` older than this is presumed abandoned (crashed writer) and
      * broken. Must comfortably exceed the longest expected mutation.
      */
    val staleLockMs: Long = 10 * 60 * 1000L
) extends KeyedChunkStore {

  import ChunkStore._

  require(prefixLen >= 1 && prefixLen <= 8, "prefixLen must be 1..8")

  private def fs(spark: SparkSession) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def docPrefix(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(sha2(c, 256), 1, prefixLen)

  override def exists(spark: SparkSession): Boolean = fs(spark).exists(new Path(path))

  // ---- write serialization -------------------------------------------------
  // The store's mutation paths (upsert, delete) are safe for ONE writer:
  // persist-then-dynamic-overwrite never re-reads partitions it replaces,
  // but two concurrent mutations can interleave bucket overwrites and lose
  // one writer's rows. Mutations therefore take an exclusive lock file —
  // `_lock` under the store root, acquired by atomic create-if-absent
  // (atomic on HDFS and POSIX; object stores without atomic create need an
  // external coordinator instead — reference invariant: the tmp+rename
  // atomic save of `state.py:72-75`). The lock carries a random owner token
  // so release only ever deletes a lock this writer holds; a lock older
  // than `staleLockMs` is presumed abandoned and broken. Readers stay
  // lock-free (they see the store before or after a bucket's atomic
  // overwrite, never a torn file).

  private def lockFile = new Path(path, "_lock")

  private def tryAcquire(f: org.apache.hadoop.fs.FileSystem, token: String): Boolean =
    try {
      val root = new Path(path)
      if (!f.exists(root)) f.mkdirs(root)
      f match {
        case _: org.apache.hadoop.fs.LocalFileSystem | _: org.apache.hadoop.fs.RawLocalFileSystem =>
          // Hadoop's local create(overwrite=false) is check-then-act, NOT
          // atomic — two same-host writers can both pass the existence
          // check. POSIX O_CREAT|O_EXCL (CREATE_NEW) arbitrates atomically.
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f.makeQualified(lockFile).toUri.getPath),
            token.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
        case _ =>
          // atomic create-if-absent on HDFS; object stores need an external
          // coordinator (documented above)
          val out = f.create(lockFile, /* overwrite = */ false)
          try out.write(token.getBytes("UTF-8")) finally out.close()
      }
      true
    } catch { case _: java.io.IOException => false }

  private def heldToken(f: org.apache.hadoop.fs.FileSystem): Option[String] =
    try {
      val in = f.open(lockFile)
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
      finally in.close()
    } catch { case _: java.io.IOException => None }

  private def breakIfStale(f: org.apache.hadoop.fs.FileSystem): Unit =
    try {
      val st = f.getFileStatus(lockFile)
      if (System.currentTimeMillis() - st.getModificationTime > staleLockMs)
        f.delete(lockFile, false)
    } catch { case _: java.io.IOException => () } // already gone

  private def withWriteLock[T](spark: SparkSession)(body: => T): T = {
    val f = fs(spark)
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + lockWaitMs
    breakIfStale(f)
    var acquired = tryAcquire(f, token)
    while (!acquired && System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
      breakIfStale(f)
      acquired = tryAcquire(f, token)
    }
    if (!acquired)
      throw new ConcurrentWriteException(
        s"another writer holds $lockFile — the chunk store serializes mutations; " +
          s"retry later, raise lockWaitMs to wait, or remove a stale lock")
    try {
      // heal any crashed bucket swap before mutating (and drop stale
      // listings if the heal moved files beneath Spark's cache)
      if (recoverTornSwap(f)) spark.catalog.refreshByPath(path)
      body
    } finally if (heldToken(f).contains(token)) f.delete(lockFile, false)
  }

  // ---- staged bucket swap --------------------------------------------------
  // Upsert stages its merged buckets into `.upsert-tmp` (a hidden sibling —
  // Spark's file index skips dot-dirs) and swaps each staged bucket into
  // the live tree by rename. The stage job READS the live tree and WRITES
  // the staging tree, so it can never recompute from half-replaced buckets
  // — which is what the previous persist+count+dynamic-overwrite discipline
  // paid a full second materialization of every merged bucket to prevent.
  // The swap itself is per-bucket metadata renames (live → .bak-, staged →
  // live, drop .bak-), and a crash anywhere leaves only recoverable
  // states: [[recoverTornSwap]] restores a bucket whose live dir went
  // missing mid-swap and clears completed-swap leftovers, running under
  // the write lock before every mutation. Replaying the interrupted upsert
  // then converges (overlay by chunkId is idempotent).

  private def stagePath = s"$path/.upsert-tmp"
  private def bakName(bucketDir: String) = s".bak-$bucketDir"

  private def swapStagedBuckets(f: org.apache.hadoop.fs.FileSystem): Unit = {
    val staged = f.listStatus(new Path(stagePath))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("doc_prefix="))
    staged.foreach { d =>
      val name = d.getPath.getName
      val live = new Path(s"$path/$name")
      val bak = new Path(s"$path/${bakName(name)}")
      if (f.exists(live))
        require(f.rename(live, bak),
          s"rename $live -> $bak failed; live bucket untouched, swap aborted")
      require(f.rename(d.getPath, live),
        s"rename ${d.getPath} -> $live failed; bucket preserved at $bak — " +
          "the next mutation's recovery pass restores it")
      f.delete(bak, true)
    }
    f.delete(new Path(stagePath), true)
  }

  /** Heal a crashed swap: a `.bak-doc_prefix=*` dir whose live bucket is
    * missing is restored (the staged replacement never landed); one whose
    * live bucket exists is a completed swap's leftover and drops. An
    * orphaned staging tree drops too — the interrupted upsert re-runs from
    * its inputs, not from stale staged files.
    */
  private def recoverTornSwap(f: org.apache.hadoop.fs.FileSystem): Boolean = {
    val root = new Path(path)
    if (!f.exists(root)) return false
    val baks = f.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".bak-doc_prefix="))
    baks.foreach { b =>
      val live = new Path(s"$path/${b.getPath.getName.stripPrefix(".bak-")}")
      if (!f.exists(live))
        require(f.rename(b.getPath, live),
          s"restoring ${b.getPath} -> $live failed; restore manually")
      else f.delete(b.getPath, true)
    }
    f.delete(new Path(stagePath), true)
    baks.nonEmpty
  }

  /** S4/S5: full store scan. Bad JSON lines are tolerated (PERMISSIVE) and
    * dropped, mirroring the reference's skip-with-warning
    * (`jsonl_vector_store.py:197-226`).
    */
  override def read(spark: SparkSession): DataFrame =
    if (!exists(spark)) emptyChunks(spark)
    else readRaw(spark).drop("doc_prefix")

  private def readRaw(spark: SparkSession): DataFrame = {
    // loud, not silent: a `.bak-` bucket with no live dir and no active
    // writer is a crashed swap — reading would silently miss that bucket's
    // rows. (With the lock held a writer is mid-swap; readers of this store
    // have always been lock-free and see mutation transients.)
    val f = fs(spark)
    val torn = f.listStatus(new Path(path))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".bak-doc_prefix="))
      .filter(b => !f.exists(new Path(s"$path/${b.getPath.getName.stripPrefix(".bak-")}")))
    if (torn.nonEmpty && !f.exists(lockFile))
      throw new IllegalStateException(
        s"chunk store $path has ${torn.length} bucket(s) from an interrupted " +
          s"swap (${torn.map(_.getPath.getName).mkString(", ")}); run any " +
          "mutation (its recovery pass restores them) before reading")
    val r = spark.read.schema(storedSchema)
    val df = if (format == "json") r.option("mode", "PERMISSIVE").json(path) else r.parquet(path)
    df.filter(col("chunkId").isNotNull)
  }

  private def withPrefix(df: DataFrame): DataFrame =
    df.withColumn("doc_prefix", docPrefix(col("documentId")))

  /** K1/J3: upsert — new chunks replace stored chunks with equal `chunkId`.
    * Touches only the document buckets present in the incoming batch.
    */
  override def upsert(spark: SparkSession, chunks: DataFrame): Unit = withWriteLock(spark) {
    val incoming = withPrefix(chunks.select(chunkCols.map(col): _*))
    if (dataFileCount(spark) == 0) write(spark, incoming)
    else {
      val prefixes = incoming.select("doc_prefix").distinct()
      val existing = withPrefix(read(spark))
        .join(broadcast(prefixes), Seq("doc_prefix"), "left_semi")
      // ONE materialization: the merge job reads the live tree and writes
      // the staging tree (never its own input), then the touched buckets
      // swap in by rename — see the staged-bucket-swap notes above. The
      // previous persist+count+dynamic-overwrite discipline wrote every
      // merged bucket twice to get the same never-read-what-you-replace
      // guarantee.
      val merged = Overlay.overlay(existing, incoming, Seq("chunkId"), Seq("chunkIndex"))
      val f = fs(spark)
      f.delete(new Path(stagePath), true)
      writeTo(merged, stagePath, dynamic = false)
      swapStagedBuckets(f)
      // the rename swap happens beneath Spark's writers, so the session's
      // FileStatusCache still lists the replaced part files — Spark's own
      // overwrite paths refresh implicitly; an out-of-band swap must do it
      // explicitly or the next read fails FILE_NOT_EXIST on stale listings
      spark.catalog.refreshByPath(path)
    }
  }

  /** K3: delete every chunk of the given document ids; returns deleted count.
    * Convenience wrapper over [[deleteByDocuments]] for small id lists.
    */
  override def deleteByDocumentIds(spark: SparkSession, docIds: Seq[String]): Long = {
    if (docIds.isEmpty) return 0L
    import spark.implicits._
    deleteByDocuments(spark, docIds.toDF("docId"))
  }

  /** K3 (distributed form): delete all chunks of the documents in `docs`
    * (a DataFrame with a `docId` column — any size; never collected to the
    * driver). The affected buckets are derived from the ids themselves —
    * partition pruning without any store scan (reference
    * `jsonl_vector_store.py:82-121` incl. empty-file removal). Only the
    * bucket list (bounded by the bucket count) ever reaches the driver.
    */
  override def deleteByDocuments(spark: SparkSession, docs: DataFrame): Long = {
    if (!exists(spark)) 0L
    else withWriteLock(spark) {
      import spark.implicits._
      val ids = docs.select(col("docId").as("documentId")).distinct().cache()
      try {
        val prefixes = ids.select(docPrefix(col("documentId")).as("p")).distinct().as[String].collect()
        if (prefixes.isEmpty) 0L
        else {
          val inBuckets = readRaw(spark).filter(col("doc_prefix").isin(prefixes.toSeq: _*)).cache()
          try {
            val before = inBuckets.count()
            if (before == 0) 0L
            else {
              val remaining = remainingAfter(inBuckets, ids).cache()
              val after = remaining.count()
              // Dynamic overwrite only rewrites partitions present in the output —
              // buckets left empty must be dropped explicitly (the reference unlinks
              // empty JSONL files for the same reason).
              val keptPrefixes = remaining.select("doc_prefix").distinct().as[String].collect().toSet
              if (after > 0) write(spark, remaining)
              val f = fs(spark)
              prefixes.filterNot(keptPrefixes).foreach { p =>
                f.delete(new Path(s"$path/doc_prefix=$p"), true)
              }
              before - after
            }
          } finally inBuckets.unpersist()
        }
      } finally ids.unpersist()
    }
  }

  /** The anti-join at the heart of K3, shared with the plan audit. No
    * broadcast hint: the tombstone set is unbounded (retiring a whole dataset
    * can mean 10⁷–10⁸ ids). Hint-free, AQE broadcasts small id sets at
    * runtime and falls back to a shuffled anti-join for large ones — the
    * same size-adaptive shape as the J1 ledger anti-join.
    */
  private[graft] def remainingAfter(inBuckets: DataFrame, ids: DataFrame): DataFrame =
    inBuckets.join(ids, Seq("documentId"), "left_anti")

  private def write(spark: SparkSession, df: DataFrame): Unit =
    writeTo(df, path, dynamic = true)

  private def writeTo(df: DataFrame, target: String, dynamic: Boolean): Unit = {
    // sort by documentId within each bucket file: parquet row-group min/max
    // stats then prune documentId point-lookups inside a bucket too
    val w0 = df
      .repartition(col("doc_prefix"))
      .sortWithinPartitions(col("doc_prefix"), col("documentId"), col("chunkIndex"))
      .write
      .partitionBy("doc_prefix")
    val w = (if (dynamic) w0.option("partitionOverwriteMode", "dynamic") else w0)
      .mode(SaveMode.Overwrite)
    if (format == "json") w.json(target) else w.parquet(target)
  }

  /** Number of data files across bucket directories (hidden/_SUCCESS
    * excluded); bucket-dir listing only — never reads data. Note the store
    * needs no compaction pass: [[write]] hash-repartitions on `doc_prefix`
    * before `partitionBy`, so every upsert/delete rewrites each touched
    * bucket as exactly ONE sorted file — the one-file-per-bucket invariant
    * holds for the store's whole lifetime (pinned by ChunkStoreSpec).
    */
  def dataFileCount(spark: SparkSession): Long = {
    val f = fs(spark)
    val root = new Path(path)
    if (!f.exists(root)) return 0L
    f.listStatus(root).filter(s => s.isDirectory && s.getPath.getName.startsWith("doc_prefix="))
      .map { d =>
        f.listStatus(d.getPath)
          .count(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
          .toLong
      }.sum
  }

  /** A2: chunk count. */
  override def count(spark: SparkSession): Long = read(spark).count()

  /** A3: distinct document ids. */
  override def distinctDocumentIds(spark: SparkSession): DataFrame =
    read(spark).select(col("documentId").as("docId")).distinct()
}

object ChunkStore {

  /** A mutation found the store's write lock held by another writer (and
    * `lockWaitMs` elapsed). The store is unchanged — retry, or construct the
    * store with a positive `lockWaitMs` to serialize writers.
    */
  final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

  val chunkCols: Seq[String] = Seq(
    "chunkId", "documentId", "datasetName", "content", "tokenCount",
    "sectionHeading", "absoluteAddress", "splitReason", "parentChunkId",
    "sourceHash", "crossRefs", "chunkIndex",
    "embedding", "embeddingModel", "embeddedAt"
  )

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
    StructField("embeddedAt", StringType),
    StructField("doc_prefix", StringType)
  ))

  def emptyChunks(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(storedSchema.filterNot(_.name == "doc_prefix"))
    )

  /** K5: migrate between store formats/locations; `crossRefs` stays a native
    * list in parquet and JSON alike, so the CSV⇄list conversion of the
    * reference (`cli.py:241-321`, `models.py:115-116`) is only needed at
    * foreign boundaries — see [[graft.functions.TextFunctions.crossRefsToCsv]].
    */
  def migrate(spark: SparkSession, source: KeyedChunkStore, target: KeyedChunkStore): Long = {
    val rows = source.read(spark)
    target.upsert(spark, rows)
    rows.count()
  }
}
