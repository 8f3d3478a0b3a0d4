package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths => JPaths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Snapshot-versioned parquet tables: a manifest-log commit protocol giving
  * the lake ACID appends, merge-on-read deletes, time travel, incremental
  * (CDC) reads, manifest-side file skipping, and snapshot-aware compaction
  * + retention — the table-format discipline (Iceberg/Delta-style, from the
  * published designs) that a 100 TB corpus needs and a bare parquet
  * directory cannot give:
  *
  *  - **Planning without listing.** At 100 TB a table is O(10^6) files;
  *    object-store LIST is slow, rate-limited, and eventually consistent.
  *    Every read here resolves `_current` (one tiny file) → one manifest
  *    dataset → the exact file set. No directory listing on the read path.
  *  - **Snapshot isolation.** Data files are immutable and manifests are
  *    per-version; a reader that pinned version N is untouched by any
  *    concurrent append/delete/compact, which only ever add new files and
  *    swap the pointer.
  *  - **Manifest-side pruning.** Per-file min/max stats for numeric
  *    columns live in the manifest, so a range predicate skips files
  *    during PLANNING — before a single parquet footer is opened. (Footer
  *    row-group pruning still applies inside the files that survive.)
  *  - **Incremental consumption.** `added_v` on every file entry makes
  *    "what changed between v_i and v_j" a manifest query; downstream
  *    incremental jobs ([[IncrementalAgg]]) re-read only the delta.
  *
  * Layout under `tablePath`:
  * {{{
  *   _current                # text: the committed version number (atomic swap)
  *   _log/v00000007/         # manifest for v7: Spark-written JSON dataset of
  *                           #   1 "commit" row (op/parent/ts) + N "file" rows
  *   data/c00000007-x3f9/    # immutable data-file group written by commit 7
  * }}}
  *
  * The manifest is itself a Spark dataset — carrying the parent's file list
  * forward into a child manifest is a distributed union + write, never a
  * driver materialization, so manifest maintenance scales with cluster size
  * exactly like Iceberg's manifest-list rewrite. Only the PATH STRINGS of
  * the post-pruning file set are collected at plan time (the same driver
  * cost Spark's own `InMemoryFileIndex` pays).
  *
  * Commit protocol (multi-writer appends; same staged-write +
  * checked-swap family as `TextSearch.compactIndex`, with commit sections
  * serialized on `_commit_lock` — see the commit serialization notes
  * below):
  * data files land under a fresh `data/c<version>-<token>/` dir, the new
  * manifest lands under `_log/v<version>/`, and only then does `_current`
  * swap via an atomic rename. A crash before the swap leaves the table
  * bit-for-bit at the old version with only unreferenced garbage behind
  * (reclaimed by [[expire]]); a concurrent committer is detected by the
  * conditional pointer swap (optimistic concurrency), and non-append
  * commits REBASE over concurrent appends whose stats boxes cannot match
  * their predicate/key bounds ([[commitRebase]]) instead of failing.
  *
  * The atomic primitives (pointer swap, commit lock, consumer cursors)
  * live behind [[CommitStore]]: local paths use `java.nio` atomics,
  * `hdfs://`-class paths use FileContext rename / exclusive create, and an
  * S3-class deployment implements the trait with conditional PUTs — the
  * law suite runs the whole protocol over the [[MemoryCommitStore]]
  * conditional-PUT fake to pin that nothing stronger is assumed.
  */
object Snapshots {

  /** One data file as recorded in a manifest. `path` is table-relative so
    * tables can be moved/cloned wholesale. Stats maps hold min/max per
    * numeric column (absent when a file is all-null for that column —
    * which correctly disables skipping for it).
    */
  final case class FileEntry(
      path: String,
      rows: Long,
      bytes: Long,
      addedV: Long,
      statsMin: Map[String, Double],
      statsMax: Map[String, Double])

  final case class CommitInfo(version: Long, parent: Long, op: String, ts: String)

  /** A planned scan: how many files the manifest holds vs how many survive
    * stats pruning, and the DataFrame reading exactly the survivors.
    */
  final case class ScanPlan(filesTotal: Long, filesScanned: Long, df: DataFrame)

  private val manifestSchema = StructType(Seq(
    StructField("kind", StringType),
    StructField("version", LongType),
    StructField("parent", LongType),
    StructField("op", StringType),
    StructField("ts", StringType),
    StructField("path", StringType),
    StructField("rows", LongType),
    StructField("bytes", LongType),
    StructField("stats_min", MapType(StringType, DoubleType)),
    StructField("stats_max", MapType(StringType, DoubleType)),
    StructField("txn_app", StringType),
    StructField("txn_v", LongType),
    StructField("schema_json", StringType),
    StructField("stats_min_str", MapType(StringType, StringType)),
    StructField("stats_max_str", MapType(StringType, StringType)),
    StructField("dv_path", StringType),
    StructField("dv_rows", LongType),
    StructField("cluster_by", StringType)))

  /** The per-file manifest columns, in canonical order. `dv_path`/`dv_rows`
    * are the merge-on-read delete state: the table-relative dir of the
    * position-delete dataset this file's deleted rows live in (null = no
    * deletes), and how many of the file's physical rows it marks deleted.
    * Pre-DV manifests read them as null (schema-on-read).
    */
  private val fileColNames = Seq(
    "version", "path", "rows", "bytes",
    "stats_min", "stats_max", "stats_min_str", "stats_max_str",
    "dv_path", "dv_rows")

  private def vdir(table: String, v: Long) = f"$table/_log/v$v%08d"
  private def currentPath(table: String) = s"$table/_current"

  /** Manifest paths are table-relative (tables move/copy wholesale) EXCEPT
    * absolute paths, which a [[shallowClone]] writes to reference the
    * source table's immutable files in place — zero data copied.
    */
  private def absPath(table: String, p: String): String =
    if (p.startsWith("/")) p else s"$table/$p"

  /** Test/deployment seam: substitute the commit primitives (pointer swap,
    * commit lock, consumer cursors) for EVERY table — e.g. a
    * [[MemoryCommitStore]] conditional-PUT fake, or a real object-store
    * impl. None (production default) dispatches per table-path scheme:
    * local paths → [[LocalCommitStore]] (java.nio atomics), remote schemes
    * → [[HadoopCommitStore]] (FileContext rename / exclusive create).
    */
  @volatile var commitStoreOverride: Option[CommitStore] = None

  private def store(table: String): CommitStore =
    commitStoreOverride.getOrElse {
      if (!table.contains("://")) LocalCommitStore
      else {
        val conf = org.apache.spark.sql.SparkSession.getActiveSession
          .map(_.sparkContext.hadoopConfiguration)
          .getOrElse(new org.apache.hadoop.conf.Configuration())
        new Path(table).getFileSystem(conf) match {
          case _: org.apache.hadoop.fs.LocalFileSystem |
               _: org.apache.hadoop.fs.RawLocalFileSystem => LocalCommitStore
          case _ => new HadoopCommitStore(conf)
        }
      }
    }

  /** The committed version, or None for a non-table / pre-create path. */
  def currentVersion(table: String): Option[Long] = store(table).readPointer(table)

  private def requireVersion(table: String): Long =
    currentVersion(table).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table (no _current): $table"))

  /** Read a version's manifest as a DataFrame (schema-on-read; no inference). */
  private def manifest(spark: SparkSession, table: String, v: Long): DataFrame =
    spark.read.schema(manifestSchema).json(vdir(table, v))

  private def fileRows(spark: SparkSession, table: String, v: Long): DataFrame =
    manifest(spark, table, v).filter(col("kind") === "file")

  /** The table-relative paths of the data files a version references. */
  def dataFiles(spark: SparkSession, table: String, v: Long): Set[String] =
    fileRows(spark, table, v).select("path").collect().map(_.getString(0)).toSet

  private lazy val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Driver-side fast path for a manifest's COMMIT row: the manifest is
    * one coalesced JSON file whose commit row leads by construction, so
    * table METADATA (op, parent, schema, txn markers) parses from one
    * line without a Spark job — the Iceberg/Delta discipline (metadata is
    * driver-parsed; only the FILE LIST stays a distributed dataset).
    * Cuts two scheduler round-trips from every commit and every read.
    * Returns None on any surprise (multi-part manifest, reordered rows,
    * remote-FS hiccup, parse failure) — callers then fall back to the
    * distributed read, so this is only ever an optimization.
    */
  private def commitRowLocal(
      spark: SparkSession, table: String, v: Long)
      : Option[com.fasterxml.jackson.databind.JsonNode] =
    try {
      val dir = new Path(vdir(table, v))
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val parts = fs.listStatus(dir).filter { st =>
        val n = st.getPath.getName
        st.isFile && n.startsWith("part-") && n.endsWith(".json")
      }
      if (parts.length != 1) return None
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(parts.head.getPath), StandardCharsets.UTF_8))
      try {
        var i = 0
        var line = in.readLine()
        while (line != null && i < 64) {
          val n = jsonMapper.readTree(line)
          if (n.path("kind").asText() == "commit") return Some(n)
          i += 1; line = in.readLine()
        }
        None
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The table schema RECORDED in a version's commit row — the reason a
    * read never samples parquet footers for schema (at 10^6 files footer
    * inference is an object-store read storm; the manifest already knows).
    * None for a pre-schema-tracking manifest or an empty table — readers
    * then fall back to footer inference.
    */
  def tableSchema(
      spark: SparkSession, table: String, version: Option[Long] = None): Option[StructType] = {
    val v = version.getOrElse(requireVersion(table))
    commitRowLocal(spark, table, v) match {
      case Some(n) =>
        val sj = n.path("schema_json")
        if (sj.isMissingNode || sj.isNull || sj.asText().isEmpty) None
        else Some(DataType.fromJson(sj.asText()).asInstanceOf[StructType])
      case None =>
        val r = manifest(spark, table, v).filter(col("kind") === "commit")
          .select("schema_json").head()
        Option(r.getString(0)).map(j => DataType.fromJson(j).asInstanceOf[StructType])
    }
  }

  /** Evolve the recorded table schema with an incoming batch's schema —
    * the Delta `mergeSchema` rule: existing columns must match EXACTLY on
    * type (no silent widening — a type conflict is an error, not a cast),
    * new columns append as nullable (old files read them as null), and a
    * batch MISSING columns is fine (its files read the absent columns as
    * null). Column order: parent's fields first, new fields after, so a
    * table's column order is stable under evolution.
    */
  private[operators] def evolveSchema(
      parent: Option[StructType], next: StructType): StructType =
    parent match {
      case None => next
      case Some(p) =>
        next.fields.foreach { f =>
          p.fields.find(_.name == f.name).foreach { pf =>
            require(pf.dataType == f.dataType,
              s"schema conflict on '${f.name}': table has ${pf.dataType.simpleString}, " +
                s"batch has ${f.dataType.simpleString}")
          }
        }
        StructType(p.fields ++
          next.fields.filterNot(f => p.fieldNames.contains(f.name)).map(_.copy(nullable = true)))
    }

  def commitInfo(spark: SparkSession, table: String, v: Long): CommitInfo =
    commitRowLocal(spark, table, v) match {
      case Some(n) =>
        CommitInfo(n.path("version").asLong(), n.path("parent").asLong(),
          n.path("op").asText(), n.path("ts").asText())
      case None =>
        val r = manifest(spark, table, v).filter(col("kind") === "commit")
          .select("version", "parent", "op", "ts").head()
        CommitInfo(r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))
    }

  // ---- commit serialization --------------------------------------------
  // Commit sections (leftover-manifest cleanup + manifest write + pointer
  // swap) serialize on `_commit_lock`. Without it, two committers
  // targeting the same version can interleave: B's leftover cleanup
  // deletes A's just-FINISHED manifest dir, B writes its own, and A's
  // pointer swap then publishes B's manifest as A's commit — A reports
  // success while its data is referenced nowhere (silent loss). Under the
  // lock, A is either fully committed when B enters (B sees the moved
  // pointer and retries/fails) or hasn't started its commit section.
  // The lock covers ONLY the cheap commit half — staging (the data write)
  // stays fully concurrent — and a stale lock (crashed committer) is
  // broken after [[staleLockMs]].
  // Atomic create-if-absent arbitrates: POSIX O_EXCL locally, create(
  // overwrite=false) on HDFS; object stores need an external coordinator.

  @volatile var lockWaitMs: Long = 30000L
  @volatile var staleLockMs: Long = 600000L

  private def withCommitLock[T](spark: SparkSession, table: String)(body: => T): T = {
    val _ = spark
    val s = store(table)
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + lockWaitMs
    def breakIfStale(): Unit =
      if (s.lockAgeMs(table).exists(_ > staleLockMs)) s.breakLock(table)
    breakIfStale()
    var acquired = s.tryLock(table, token)
    while (!acquired && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      breakIfStale()
      acquired = s.tryLock(table, token)
    }
    if (!acquired)
      throw new IllegalStateException(
        s"another committer holds $table/_commit_lock — commits serialize; " +
          "retry later, raise Snapshots.lockWaitMs, or remove a stale lock")
    try body
    finally s.unlock(table, token)
  }

  /** Conditionally swap the version pointer `expectedParent` → `v`
    * ([[CommitStore.swapPointer]]). Optimistic concurrency: a committer
    * that lost the race fails here, with its data + manifest left as
    * unreferenced garbage for [[expire]].
    */
  private def swapCurrent(table: String, expectedParent: Long, v: Long): Unit =
    store(table).swapPointer(table, expectedParent, v)

  /** Commit a non-append (MOR delete/merge, replace) whose base
    * may have MOVED since the op planned its rewrite — the conflict rule
    * that lets a nightly `maintain()` coexist with a streaming append sink:
    *
    * Inside the commit lock, commits that landed in `(plannedParent, cur]`
    * are re-validated. When every one only ADDED files — an append, or any
    * other op that left every base file referenced with its deletion
    * vector unchanged (a keyed upsert whose keys matched no live row: two
    * writers of disjoint documents) — and those files CANNOT hold a row
    * the op should have seen (their manifest stats boxes miss the op's
    * predicate/key box — or the op is a row-preserving replace, which
    * commutes with any append), the added files carry forward untouched
    * and the op commits against the refreshed base: all commits land, none
    * retries its data write. A genuine overlap — an added file that might
    * match, or an intervening commit that deleted or rewrote rows — still
    * throws ConcurrentModificationException (the op's rewrite is stale).
    * This is the Delta/Iceberg conflict-resolution discipline: appends
    * commute with a replace of files they don't contain.
    *
    * `preserved` rows keep their recorded `version` (carried references +
    * re-referenced MOR entries); `entries` are fresh files retagged to the
    * committing version. `conflicts` is a predicate over manifest file
    * rows, true for an appended file that might hold a row the op should
    * have seen ([[boxPred]] of its predicate/key bounds); None for a
    * row-preserving replace, which commutes with any append. Returns None
    * iff `txn` was already committed by a concurrent writer (re-checked
    * INSIDE the lock — the exactly-once guard under concurrency).
    */
  private def commitRebase(
      spark: SparkSession,
      table: String,
      plannedParent: Long,
      op: String,
      preserved: DataFrame,
      entries: DataFrame,
      conflicts: Option[Column],
      txn: Option[(String, Long)],
      schemaJson: Option[String],
      clusterBy: Option[String] = None): Option[Long] = {
    preCommitHook()
    withCommitLock(spark, table) {
    if (txn.exists { case (a, tv) => lastTxn(spark, table, a).exists(_ >= tv) })
      return None
    val cur = requireVersion(table)
    val appended: DataFrame =
      if (cur == plannedParent) preserved.limit(0)
      else {
        val ops = ((plannedParent + 1) to cur).map(x => (x, commitInfo(spark, table, x).op))
        val nonAppend = ops.filter(_._2 != "append")
        if (nonAppend.nonEmpty && !onlyAddedFiles(spark, table, plannedParent, cur))
          throw new java.util.ConcurrentModificationException(
            s"snapshot $op at $table planned against v$plannedParent but " +
              s"v${nonAppend.head._1} (${nonAppend.head._2}) intervened — " +
              "commits that delete or rewrite rows do not commute; re-run against " +
              "the current version")
        val extra = fileRows(spark, table, cur)
          .filter(col("version") > plannedParent)
          .select(fileColNames.head, fileColNames.tail: _*)
        if (conflicts.exists(c => extra.filter(c).limit(1).count() > 0))
          throw new java.util.ConcurrentModificationException(
            s"snapshot $op at $table planned against v$plannedParent but a " +
              s"concurrent append through v$cur wrote files its predicate/key " +
              "bounds may match — the planned rewrite is stale; re-run")
        extra
      }
    // a rebased-over append may itself have EVOLVED the schema — the
    // recorded schema must be the union, or the appended files' new
    // column would vanish from every subsequent read
    val effSchema: Option[String] =
      if (cur == plannedParent) schemaJson
      else {
        val planned = schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
        val current = tableSchema(spark, table, Some(cur))
        (planned, current) match {
          case (Some(p), c) => Some(evolveSchema(c, p).json)
          case (None, c) => c.map(_.json)
        }
      }
    val v = cur + 1
    writeManifest(spark, table, v, cur, op,
      preserved.unionByName(appended)
        .unionByName(entries.withColumn("version", lit(v))
          .select(fileColNames.head, fileColNames.tail: _*)),
      txn, effSchema, clusterBy)
    swapCurrent(table, cur, v)
    Some(v)
    }
  }

  /** Whether the commits in `(from, to]` only added files: `to` still
    * references every file of `from`, each with the same deletion-vector
    * dataset, and no other file recorded at or before `from`.
    */
  private def onlyAddedFiles(spark: SparkSession, table: String, from: Long, to: Long): Boolean = {
    val base = fileRows(spark, table, from).select("path", "dv_path")
    val kept = fileRows(spark, table, to).filter(col("version") <= from).select("path", "dv_path")
    base.exceptAll(kept).isEmpty && kept.exceptAll(base).isEmpty
  }

  /** Test seam: runs after an op has staged/planned its rewrite, just
    * before its commit section takes the lock — lets specs interleave a
    * concurrent commit DETERMINISTICALLY (production value is a no-op).
    */
  private[graft] var preCommitHook: () => Unit = () => ()

  /** Default stats set: numeric + string top-level columns (string bounds
    * are truncated at write; pass explicit `statsCols` to exclude long
    * text columns from stats collection).
    */
  private def defaultStatsCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect {
      case StructField(n, _: NumericType, _, _) => n
      case StructField(n, StringType, _, _) => n
    }.toSeq

  private def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect { case StructField(n, _: NumericType, _, _) => n }.toSeq

  /** Write `df`'s rows as a fresh immutable file group for commit `v` and
    * return their manifest entries. Stats come from ONE pass over the
    * just-written files (grouped by `input_file_name`), so the cost is a
    * scan of the delta, never of the table.
    */
  private def writeFileGroup(
      spark: SparkSession,
      table: String,
      v: Long,
      df: DataFrame,
      statsCols: Seq[String],
      maxRecordsPerFile: Long): DataFrame = {
    // random token per ATTEMPT: a crashed attempt's group dir never blocks
    // the retry (its garbage is unreferenced and reclaimed by expire)
    val token = java.util.UUID.randomUUID().toString.take(8)
    val rel = f"data/c$v%08d-$token"
    val dir = s"$table/$rel"
    df.write.option("maxRecordsPerFile", maxRecordsPerFile)
      .mode(SaveMode.ErrorIfExists).parquet(dir)

    val requested = statsCols.filter(df.columns.contains)
    def isNum(c: String) = df.schema(c).dataType.isInstanceOf[NumericType]
    def isStr(c: String) = df.schema(c).dataType == StringType
    val stats = requested.filter(isNum)
    val strStats = requested.filter(isStr)

    // FOOTER FAST PATH (guide §6; the Iceberg/Delta discipline): manifest
    // stats come from the parquet footers of the just-written files, read
    // DRIVER-SIDE — no Spark job, and crucially no re-read of the delta we
    // just wrote (at ingest scale the read-back doubled the write path's
    // I/O). Bounds are identical to the scan aggregate for the safe types
    // (int/long/float/double exact; float→double cast is exact), except:
    // a file whose footer lacks valid stats for a column (NaN suppression,
    // an all-null chunk beside a missing one) contributes NO bound — the
    // file is then never pruned on that column, which is SOUND, just
    // weaker. Exotic stats types (decimals) take the scan path below.
    val footerSafe = requested.forall { c =>
      df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
            DoubleType | StringType => true
        case _ => false
      }
    }
    if (footerSafe)
      return footerFileEntries(spark, table, rel, v, stats.toSet, strStats.toSet,
        df.schema)

    val written = spark.read.parquet(dir)
    // string bounds are TRUNCATED to bound manifest size, soundly: a
    // 16-char prefix is a valid lower bound as-is; an upper bound keeps
    // the full value unless its cut character is plain ASCII, where
    // prefix15 + (char+1) majorizes every string sharing the 16-prefix
    def truncLower(c: Column) = substring(c, 1, 16)
    def truncUpper(c: Column) = {
      val cut = ascii(substring(c, 16, 1))
      when(length(c) <= 16, c)
        .when(cut.between(32, 125),
          concat(substring(c, 1, 15), chr(cut + 1)))
        .otherwise(c)
    }
    val aggs =
      count(lit(1)).cast(LongType).as("rows") +:
        (stats.flatMap(c => Seq(
          min(col(c)).cast(DoubleType).as(s"__min_$c"),
          max(col(c)).cast(DoubleType).as(s"__max_$c"))) ++
          strStats.flatMap(c => Seq(
            truncLower(min(col(c))).as(s"__smin_$c"),
            truncUpper(max(col(c))).as(s"__smax_$c"))))
    val perFile = written.groupBy(input_file_name().as("__file")).agg(aggs.head, aggs.tail: _*)

    // file sizes from one listing of the JUST-WRITTEN group dir (bounded by
    // the delta's file count, not the table's)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizes = fs.listStatus(new Path(dir)).collect {
      case st if st.isFile && !st.getPath.getName.startsWith("_") =>
        (st.getPath.getName, st.getLen)
    }.toMap
    val sizeLookup = typedLit(sizes)

    def statsMap(prefix: String) =
      if (stats.isEmpty) typedLit(Map.empty[String, Double])
      else map_filter(
        map(stats.flatMap(c => Seq(lit(c), col(s"${prefix}_$c"))): _*),
        (_, mv) => mv.isNotNull)
    def strStatsMap(prefix: String) =
      if (strStats.isEmpty) typedLit(Map.empty[String, String])
      else map_filter(
        map(strStats.flatMap(c => Seq(lit(c), col(s"${prefix}_$c"))): _*),
        (_, mv) => mv.isNotNull)
    perFile.select(
      lit(v).as("version"),
      concat(lit(rel + "/"), element_at(split(col("__file"), "/"), -1)).as("path"),
      col("rows"),
      element_at(sizeLookup, element_at(split(col("__file"), "/"), -1)).as("bytes"),
      statsMap("__min").as("stats_min"),
      statsMap("__max").as("stats_max"),
      strStatsMap("__smin").as("stats_min_str"),
      strStatsMap("__smax").as("stats_max_str"),
      lit(null: String).as("dv_path"),
      lit(0L).as("dv_rows"))
  }

  /** Spark-side string-bound truncation (`truncLower`/`truncUpper` in the
    * scan path) replicated code-point-exactly on the driver: `substring`/
    * `length`/`ascii` in Spark operate on code points, so the twins must
    * too — a UTF-16 `charAt` twin would diverge on astral-plane text.
    */
  private def truncLowerLocal(s: String): String =
    if (s.codePointCount(0, s.length) <= 16) s
    else s.substring(0, s.offsetByCodePoints(0, 16))
  private def truncUpperLocal(s: String): String =
    if (s.codePointCount(0, s.length) <= 16) s
    else {
      val off15 = s.offsetByCodePoints(0, 15)
      val cut = s.codePointAt(off15)
      if (cut >= 32 && cut <= 125) s.substring(0, off15) + (cut + 1).toChar.toString
      else s
    }

  /** Manifest entries for a just-written file group from its parquet
    * FOOTERS: one driver-side listing + footer read per file, zero Spark
    * jobs, zero re-read of the data. Per column, chunk stats combine across
    * row groups; a column whose footer stats are missing or invalid in any
    * chunk yields no bound for that file (sound — the file just never
    * prunes on it). NaN bounds are dropped the same way.
    */
  private def footerFileEntries(
      spark: SparkSession,
      table: String,
      rel: String,
      v: Long,
      numCols: Set[String],
      strCols: Set[String],
      schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new Path(s"$table/$rel")
    val fs = dirPath.getFileSystem(conf)
    val files = fs.listStatus(dirPath)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
    val rows = files.flatMap { st =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val nRows = blocks.map(_.getRowCount).sum
        // a 0-row part file never enters the manifest (the scan aggregate's
        // groupBy(input_file_name) behavior): it stays unreferenced garbage
        if (nRows == 0) None
        else {
          def chunkStats(c: String)
              : Option[Seq[org.apache.parquet.column.statistics.Statistics[_]]] = {
            val perBlock = blocks.map(_.getColumns.asScala
              .find(cc => cc.getPath.size() == 1 && cc.getPath.toDotString == c)
              .map(_.getStatistics))
            // every chunk must CARRY stats (else the file's true bounds are
            // unknowable); chunks that are all-null carry stats with
            // hasNonNullValue=false and drop out of the combine below
            if (perBlock.exists(s => s.isEmpty || s.get == null || s.get.isEmpty)) None
            else Some(perBlock.map(_.get).filter(_.hasNonNullValue))
          }
          def numBound(c: String): Option[(Double, Double)] =
            chunkStats(c).filter(_.nonEmpty).flatMap { ss =>
              def toD(x: Any): Double = x match {
                case i: java.lang.Integer => i.toDouble
                case l: java.lang.Long => l.toDouble
                case f: java.lang.Float => f.toDouble
                case d: java.lang.Double => d.doubleValue()
                case b: java.lang.Boolean => if (b) 1.0 else 0.0
                case other => other.toString.toDouble
              }
              val mins = ss.map(s => toD(s.genericGetMin()))
              val maxs = ss.map(s => toD(s.genericGetMax()))
              val (mn, mx) = (mins.min, maxs.max)
              if (mn.isNaN || mx.isNaN) None else Some((mn, mx))
            }
          // chunk bounds combine in UTF-8 BYTE order — Spark's min/max over
          // strings is UTF8String binary order, and parquet's UTF8 stats
          // compare the same way; Java String.compareTo (UTF-16 units)
          // would diverge on supplementary-plane text
          val utf8Ord: Ordering[String] = (a: String, b: String) => {
            val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
            var i = 0
            var res = 0
            val n = math.min(x.length, y.length)
            while (i < n && res == 0) {
              res = (x(i) & 0xff) - (y(i) & 0xff)
              i += 1
            }
            if (res != 0) res else x.length - y.length
          }
          def strBound(c: String): Option[(String, String)] =
            chunkStats(c).filter(_.nonEmpty).map { ss =>
              def toS(x: Any): String = x match {
                case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
                case other => other.toString
              }
              (ss.map(s => toS(s.genericGetMin())).min(utf8Ord),
                ss.map(s => toS(s.genericGetMax())).max(utf8Ord))
            }
          val numPairs = numCols.toSeq.flatMap(c => numBound(c).map(c -> _))
          val strPairs = strCols.toSeq.flatMap(c => strBound(c).map(c -> _))
          Some(org.apache.spark.sql.Row(
            v,
            s"$rel/${st.getPath.getName}",
            nRows,
            st.getLen,
            numPairs.map { case (c, (mn, _)) => c -> mn }.toMap,
            numPairs.map { case (c, (_, mx)) => c -> mx }.toMap,
            strPairs.map { case (c, (mn, _)) => c -> truncLowerLocal(mn) }.toMap,
            strPairs.map { case (c, (_, mx)) => c -> truncUpperLocal(mx) }.toMap,
            null,
            0L))
        }
      } finally reader.close()
    }
    val entrySchema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("path", StringType, nullable = true),
      StructField("rows", LongType, nullable = true),
      StructField("bytes", LongType, nullable = true),
      StructField("stats_min", MapType(StringType, DoubleType), nullable = true),
      StructField("stats_max", MapType(StringType, DoubleType), nullable = true),
      StructField("stats_min_str", MapType(StringType, StringType), nullable = true),
      StructField("stats_max_str", MapType(StringType, StringType), nullable = true),
      StructField("dv_path", StringType, nullable = true),
      StructField("dv_rows", LongType, nullable = true)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.toArray: _*), entrySchema)
  }

  private def commitRow(
      spark: SparkSession, v: Long, parent: Long, op: String,
      txn: Option[(String, Long)], schemaJson: Option[String],
      clusterBy: Option[String]): DataFrame = {
    import spark.implicits._
    Seq((v, parent, op)).toDF("version", "parent", "op")
      .select(
        lit("commit").as("kind"), col("version"), col("parent"), col("op"),
        date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("ts"),
        lit(null: String).as("path"), lit(null: java.lang.Long).cast(LongType).as("rows"),
        lit(null: java.lang.Long).cast(LongType).as("bytes"),
        typedLit(Map.empty[String, Double]).as("stats_min"),
        typedLit(Map.empty[String, Double]).as("stats_max"),
        lit(txn.map(_._1).orNull).as("txn_app"),
        txn.map(t => lit(t._2)).getOrElse(lit(null: java.lang.Long)).cast(LongType).as("txn_v"),
        lit(schemaJson.orNull).as("schema_json"),
        typedLit(Map.empty[String, String]).as("stats_min_str"),
        typedLit(Map.empty[String, String]).as("stats_max_str"),
        lit(null: String).as("dv_path"),
        lit(null: java.lang.Long).cast(LongType).as("dv_rows"),
        lit(clusterBy.orNull).as("cluster_by"))
  }

  /** Align a file-entry DataFrame to the manifest schema (file rows keep
    * their own version column = added_v).
    */
  private def asManifestRows(files: DataFrame): DataFrame =
    files.select(
      lit("file").as("kind"), col("version"), lit(-1L).as("parent"),
      lit(null: String).as("op"), lit(null: String).as("ts"),
      col("path"), col("rows"), col("bytes"), col("stats_min"), col("stats_max"),
      lit(null: String).as("txn_app"),
      lit(null: java.lang.Long).cast(LongType).as("txn_v"),
      lit(null: String).as("schema_json"),
      col("stats_min_str"), col("stats_max_str"),
      col("dv_path"), col("dv_rows"),
      lit(null: String).as("cluster_by"))

  /** Manifest size above which the driver-local append fast path defers to
    * the distributed rebuild (64 MB ≈ a few hundred thousand file rows —
    * far past where compaction should have folded a table's file count).
    */
  private val MaxLocalManifestBytes: Long = 64L * 1024 * 1024

  /** A version's manifest FILE rows as raw driver-side lines, each with
    * the row's `path` and `dv_path` (null when it has none): `Some` only when the manifest is the canonical
    * single-part shape at most [[MaxLocalManifestBytes]] with a parseable
    * commit row — the shape [[writeManifest]]/[[writeManifestLinesLocal]]
    * produce. The raw lines carry forward VERBATIM into a child manifest
    * (they are already manifest-schema JSON), which is what lets an append
    * commit run with zero Spark jobs. Any surprise returns None and the
    * caller takes the distributed path.
    */
  private def manifestFileLinesLocal(
      spark: SparkSession, table: String, v: Long): Option[IndexedSeq[(String, String, String)]] =
    try {
      val dir = new Path(vdir(table, v))
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val parts = fs.listStatus(dir).filter { st =>
        val n = st.getPath.getName
        st.isFile && n.startsWith("part-") && n.endsWith(".json")
      }
      if (parts.length != 1 || parts.head.getLen > MaxLocalManifestBytes) return None
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(parts.head.getPath), StandardCharsets.UTF_8))
      try {
        val out = IndexedSeq.newBuilder[(String, String, String)]
        var sawCommit = false
        var line = in.readLine()
        while (line != null) {
          val n = jsonMapper.readTree(line)
          n.path("kind").asText() match {
            case "file" =>
              val dv = n.path("dv_path")
              out += ((line, n.path("path").asText(),
                if (dv.isMissingNode || dv.isNull) null else dv.asText()))
            case "commit" => sawCommit = true
            case _ => return None // unknown row kind: fall back
          }
          line = in.readLine()
        }
        if (sawCommit) Some(out.result()) else None
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The commit row as one JSON line, built driver-side — field-for-field
    * what [[commitRow]] serializes through the JSON writer (nulls omitted,
    * empty stats maps present, same UTC second-precision `ts`). Readers
    * parse with [[manifestSchema]], so field ORDER is irrelevant; leading
    * position in the written file is what [[commitRowLocal]] needs.
    */
  private def commitLineLocal(
      v: Long, parent: Long, op: String, txn: Option[(String, Long)],
      schemaJson: Option[String], clusterBy: Option[String]): String = {
    val n = jsonMapper.createObjectNode()
    n.put("kind", "commit"); n.put("version", v); n.put("parent", parent); n.put("op", op)
    n.put("ts", java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())): Unit
    n.set[com.fasterxml.jackson.databind.JsonNode]("stats_min", jsonMapper.createObjectNode()): Unit
    n.set[com.fasterxml.jackson.databind.JsonNode]("stats_max", jsonMapper.createObjectNode()): Unit
    txn.foreach { case (a, tv) => n.put("txn_app", a); n.put("txn_v", tv): Unit }
    schemaJson.foreach(j => n.put("schema_json", j): Unit)
    n.set[com.fasterxml.jackson.databind.JsonNode]("stats_min_str", jsonMapper.createObjectNode()): Unit
    n.set[com.fasterxml.jackson.databind.JsonNode]("stats_max_str", jsonMapper.createObjectNode()): Unit
    clusterBy.foreach(c => n.put("cluster_by", c): Unit)
    n.toString
  }

  /** Write a fully-assembled manifest (one JSON line per row, commit row
    * first) as `v`'s single part file, with the leftover-attempt cleanup
    * and create-if-absent discipline of a Spark write. Every commit lands
    * its manifest here: an append from the parent's raw lines plus its
    * entries ([[commitStagedOpt]]), every other op from the lines
    * [[writeManifest]] collects; only a manifest past
    * [[MaxLocalManifestBytes]] takes the distributed JSON write instead.
    */
  private def writeManifestLinesLocal(
      spark: SparkSession, table: String, v: Long, lines: Iterator[String]): Unit = {
    val dir = new Path(vdir(table, v))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir) && currentVersion(table).forall(_ < v)) fs.delete(dir, true): Unit
    val p = new Path(dir, s"part-00000-${java.util.UUID.randomUUID()}.json")
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(p, false), StandardCharsets.UTF_8))
    try lines.foreach { l => out.write(l); out.write("\n") } finally out.close()
    // Spark's own insert command ends with refreshByPath on its output —
    // a hand-rolled write must too, or a CACHED plan over this dir (a
    // re-created table at the same path: test/bench reruns, drop-and-
    // recreate ops) keeps serving the PREVIOUS table's manifest rows and
    // readers chase deleted data files
    spark.catalog.refreshByPath(vdir(table, v))
  }

  private def writeManifest(
      spark: SparkSession, table: String, v: Long, parent: Long, op: String,
      files: DataFrame, txn: Option[(String, Long)] = None,
      schemaJson: Option[String] = None,
      clusterBy: Option[String] = None): Unit = {
    // a leftover _log/v<v> can only be a crashed or lost-race attempt
    // (anything committed has _current >= v, checked by swapCurrent before
    // we could get here with this v) — clear it so the retry proceeds
    val dir = new Path(vdir(table, v))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir) && currentVersion(table).forall(_ < v)) fs.delete(dir, true): Unit
    // the recorded clustering discipline travels with every commit: an
    // explicit spec (re)sets it, everything else inherits the parent's
    val effCluster =
      clusterBy.orElse(if (parent < 0) None else clusterSpec(spark, table, Some(parent)))
        .filter(_.nonEmpty)
    // DRIVER-LOCAL WRITE (the append fast path's other half, extended to
    // every rewriting op — merge/compact/restore/delete/overwrite): the
    // file rows are collected as manifest-JSON lines in ONE job (`toJSON`
    // runs the same JacksonGenerator the distributed JSON writer does, so
    // the bytes are identical) and the child manifest lands through the
    // same local line writer appends use — no output-committer round
    // (task commit, rename, _SUCCESS) inside the commit section. An
    // oversized row set (past the same MaxLocalManifestBytes bound the
    // append path honors) falls back to the distributed write unchanged.
    val localLines: Option[Array[String]] =
      try {
        val lines = asManifestRows(files).toJSON.collect()
        if (lines.iterator.map(_.length + 1L).sum <= MaxLocalManifestBytes) Some(lines)
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    localLines match {
      case Some(lines) =>
        // commit row first — the [[commitRowLocal]] head-scan contract
        writeManifestLinesLocal(spark, table, v,
          Iterator.single(
            commitLineLocal(v, parent, op, txn, schemaJson, effCluster)) ++
            lines.iterator)
      case None =>
        // the commit row must LEAD the written file for the driver-side
        // metadata fast path ([[commitRowLocal]] scans the head only) — union
        // order alone does not survive coalesce(1): the locality-based
        // coalescer orders file-scan partitions (the carried manifest rows)
        // before collection-backed ones, landing the commit row near the END
        // on any table whose manifest carries files. An in-partition sort on
        // `kind` ("commit" < "file") pins it deterministically; without it,
        // every commitInfo/tableSchema/clusterSpec on such a table silently
        // paid a full Spark JSON job (~40 ms) instead of one local line read —
        // measured 72 s → 9 s on a 1,000-commit changelog catch-up.
        commitRow(spark, v, parent, op, txn, schemaJson, effCluster)
          .unionByName(asManifestRows(files))
          .coalesce(1)
          .sortWithinPartitions(col("kind"))
          .write.mode(SaveMode.ErrorIfExists).json(vdir(table, v))
    }
  }

  /** The CLUSTERING DISCIPLINE recorded for a version (commit row
    * `cluster_by`): `"c1,c2"` = range-cluster by those columns,
    * `"z:x,y:bits"` = z-order the two numeric columns. Set by a
    * [[compact]]/[[append]] passing `clusterBy`; inherited by every
    * subsequent commit, so [[compact]] folds (and so [[maintain]])
    * re-cluster and appends lay out their delta without re-stating it.
    */
  def clusterSpec(
      spark: SparkSession, table: String, version: Option[Long] = None): Option[String] = {
    val v = version.getOrElse(requireVersion(table))
    commitRowLocal(spark, table, v) match {
      case Some(n) =>
        val c = n.path("cluster_by")
        if (c.isMissingNode || c.isNull || c.asText().isEmpty) None else Some(c.asText())
      case None =>
        val r = manifest(spark, table, v).filter(col("kind") === "commit")
          .select("cluster_by").head()
        Option(r.getString(0)).filter(_.nonEmpty)
    }
  }

  /** The plain column names a [[clusterSpec]] references. */
  private def specColNames(spec: String): Seq[String] =
    if (spec.startsWith("z:")) spec.drop(2).split(":")(0).split(",").map(_.trim).toSeq
    else spec.split(",").map(_.trim).toSeq

  /** Parse a [[clusterSpec]] string to layout columns. */
  private[operators] def clusterCols(spec: String): Seq[Column] =
    if (spec.startsWith("z:")) {
      val parts = spec.drop(2).split(":")
      require(parts.length == 2, s"z-order spec must be z:x,y:bits — got $spec")
      val dims = parts(0).split(",").map(_.trim)
      require(dims.length == 2, s"z-order spec needs exactly two columns — got $spec")
      Seq(Lake.zkey(col(dims(0)), col(dims(1)), parts(1).trim.toInt))
    } else spec.split(",").toSeq.map(c => col(c.trim))

  /** Range-cluster `df` into ~`nFiles` files by a [[clusterSpec]]: one
    * range exchange + per-file sort (never a global single-task sort), so
    * every output file covers a contiguous key range and its manifest
    * min/max box is tight — [[Lake.writeClustered]]'s layout on the
    * snapshot write path.
    */
  private def clusterLayout(df: DataFrame, spec: String, nFiles: Int): DataFrame = {
    val cols = clusterCols(spec)
    df.repartitionByRange(math.max(1, nFiles), cols: _*)
      .sortWithinPartitions(cols: _*)
  }

  /** Initialize an empty snapshot table at version 0. */
  def create(spark: SparkSession, table: String): Unit = {
    require(currentVersion(table).isEmpty, s"snapshot table already exists: $table")
    store(table).prepareTable(table)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(manifestSchema.filterNot(_.name == "kind").toSeq))
    withCommitLock(spark, table) {
      writeManifest(spark, table, 0L, -1L, "create",
        empty.withColumn("version", lit(0L)))
      swapCurrent(table, -1L, 0L)
    }
  }

  /** Append `df` as a new commit; returns the new version. One job writes
    * the delta, one scans it for stats, one rewrites the manifest (parent
    * file list carried forward distributively). The table's existing data
    * files are never read or touched. Commit conflicts retry WITHOUT
    * rewriting data ([[stageAppend]]/[[commitStaged]]).
    */
  def append(
      spark: SparkSession,
      table: String,
      df: DataFrame,
      statsCols: Seq[String] = null,
      maxRecordsPerFile: Long = 1000000L,
      txn: Option[(String, Long)] = None,
      clusterBy: String = null): Long =
    commitStaged(spark, table,
      stageAppend(spark, table, df, statsCols, maxRecordsPerFile, clusterBy), txn,
      dataSchema = Some(df.schema), clusterBy = Option(clusterBy))

  /** Stage an append: write `df` as an immutable file group and return its
    * manifest entries — NO table-visible change yet (the group dir is
    * unreferenced until a commit; a crashed stage is garbage for
    * [[expire]]). Staging is the expensive half (the data write); the
    * commit half is a manifest rebuild + pointer swap, so a commit that
    * loses an optimistic-concurrency race retries against the refreshed
    * base by rebuilding ONLY the manifest — the staged data files are
    * reused as-is. This is the table-format commit-retry discipline: data
    * writes commute across appends, so a conflict never re-pays the write.
    */
  def stageAppend(
      spark: SparkSession,
      table: String,
      df: DataFrame,
      statsCols: Seq[String] = null,
      maxRecordsPerFile: Long = 1000000L,
      clusterBy: String = null): DataFrame = {
    val parent = requireVersion(table)
    val stats = Option(statsCols).getOrElse(defaultStatsCols(df))
    // CLUSTERED APPEND: an explicit spec — or the table's recorded
    // discipline — range-lays-out the DELTA (one delta-sized exchange +
    // an extra delta count; never touches the table), so even streaming
    // appends land with tight per-file key boxes
    val spec = Option(clusterBy).filter(_.nonEmpty)
      .orElse(clusterSpec(spark, table, Some(parent)))
      // a batch missing a cluster column (schema evolution) appends
      // un-clustered rather than failing; the next fold re-clusters it
      .filter(sp => specColNames(sp).forall(df.columns.contains))
    val laidOut = spec match {
      case Some(sp) =>
        val n = df.count()
        clusterLayout(df, sp, ((n + maxRecordsPerFile - 1) / maxRecordsPerFile).toInt)
      case None => df
    }
    writeFileGroup(spark, table, parent + 1, laidOut, stats, maxRecordsPerFile)
  }

  /** Commit a staged append, retrying a lost optimistic-concurrency race
    * against the refreshed base (up to `maxRetries` times). Each attempt:
    * if the current manifest already carries the staged file group (an
    * earlier attempt's manifest won the pointer race, or a duplicate
    * commit call), return the current version — the group's random token
    * makes its paths globally unique, so path-subset is an exact
    * already-committed test. Otherwise rebuild the manifest against the
    * CURRENT parent (staged entries re-tagged with the new version) and
    * swap. Only genuine conflicts retry: an exception with the pointer
    * still at our expected parent is a real failure and rethrows.
    */
  def commitStaged(
      spark: SparkSession,
      table: String,
      entries: DataFrame,
      txn: Option[(String, Long)] = None,
      dataSchema: Option[StructType] = None,
      maxRetries: Int = 4,
      clusterBy: Option[String] = None): Long =
    commitStagedOpt(spark, table, entries, txn, dataSchema, maxRetries, clusterBy).getOrElse(
      throw new java.util.ConcurrentModificationException(
        s"transaction ${txn.get} already committed at $table by a concurrent writer"))

  /** [[commitStaged]] with the exactly-once guard CLOSED under concurrency:
    * when `txn` is set, the transaction marker is re-checked INSIDE the
    * commit lock — two writers replaying the same `(appId, txnV)` can both
    * pass a caller's unlocked pre-check, but only one passes here; the
    * other returns None with its staged files left as unreferenced garbage
    * for [[expire]]. This is what lets [[appendIdempotent]] hold its
    * exactly-once claim for CONCURRENT same-appId writers, not just
    * sequential replays.
    */
  def commitStagedOpt(
      spark: SparkSession,
      table: String,
      entries: DataFrame,
      txn: Option[(String, Long)] = None,
      dataSchema: Option[StructType] = None,
      maxRetries: Int = 4,
      clusterBy: Option[String] = None): Option[Long] = {
    val entryCols = entries.select(fileColNames.filterNot(_ == "version").map(col): _*)
    // ONE pre-lock collect gives both the staged paths and the entries'
    // manifest-row JSON (version re-tagged per attempt): the append COMMIT
    // SECTION then runs zero Spark jobs on the fast path below — the
    // streaming-sink cadence bound is FS round-trips, not scheduler ones
    val entryNodes = asManifestRows(entryCols.withColumn("version", lit(0L)))
      .toJSON.collect()
      .map(jsonMapper.readTree(_).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
    val myPaths = entryNodes.map(_.path("path").asText()).toSet
    var attempt = 0
    while (true) {
      preCommitHook()
      // the whole attempt holds the commit lock: the base cannot move under
      // us, so the optimistic retry below only ever fires after a BROKEN
      // stale lock let another committer through mid-attempt
      val res: Option[Long] = withCommitLock(spark, table) {
        if (txn.exists { case (a, tv) => lastTxn(spark, table, a).exists(_ >= tv) })
          return None // replay raced in since the caller's pre-check
        val parent = requireVersion(table)
        // FAST PATH: the parent manifest's file rows as raw driver-side
        // lines — carried forward VERBATIM into the child manifest, no
        // Spark job inside the lock. Falls back to the distributed
        // rebuild for a multi-part or oversized manifest.
        manifestFileLinesLocal(spark, table, parent) match {
          case Some(fileLines) =>
            // an empty staged group (0-row batch) has no unique paths to
            // detect an earlier winning attempt by; it just commits an
            // empty append
            val present =
              if (myPaths.isEmpty) 0L
              else fileLines.count(fl => myPaths.contains(fl._2)).toLong
            if (present > 0) {
              require(present == myPaths.size,
                s"staged group partially referenced at v$parent: $present of ${myPaths.size}")
              Some(parent)
            } else {
              val v = parent + 1
              // schema evolution happens per ATTEMPT: a retry evolves
              // against the winner's schema (driver-parsed commit rows)
              val newSchema = dataSchema
                .map(s => evolveSchema(tableSchema(spark, table, Some(parent)), s))
                .orElse(tableSchema(spark, table, Some(parent)))
              val effCluster = clusterBy.filter(_.nonEmpty)
                .orElse(clusterSpec(spark, table, Some(parent))).filter(_.nonEmpty)
              try {
                writeManifestLinesLocal(spark, table, v,
                  Iterator.single(commitLineLocal(
                    v, parent, "append", txn, newSchema.map(_.json), effCluster)) ++
                    fileLines.iterator.map(_._1) ++
                    entryNodes.iterator.map { nd => nd.put("version", v); nd.toString })
                swapCurrent(table, parent, v)
                Some(v)
              } catch {
                case _: Exception if attempt < maxRetries &&
                    !currentVersion(table).contains(parent) =>
                  attempt += 1 // the base moved: retry against it
                  None
              }
            }
          case None =>
            val carried = fileRows(spark, table, parent)
              .select(fileColNames.head, fileColNames.tail: _*).cache()
            try {
              val present =
                if (myPaths.isEmpty) 0L
                else carried.filter(col("path").isin(myPaths.toSeq: _*)).count()
              if (present > 0) {
                require(present == myPaths.size,
                  s"staged group partially referenced at v$parent: $present of ${myPaths.size}")
                Some(parent)
              } else {
                val v = parent + 1
                val newSchema = dataSchema
                  .map(s => evolveSchema(tableSchema(spark, table, Some(parent)), s))
                  .orElse(tableSchema(spark, table, Some(parent)))
                try {
                  writeManifest(spark, table, v, parent, "append",
                    carried.unionByName(entryCols.withColumn("version", lit(v))
                      .select(fileColNames.head, fileColNames.tail: _*)), txn,
                    newSchema.map(_.json), clusterBy.filter(_.nonEmpty))
                  swapCurrent(table, parent, v)
                  Some(v)
                } catch {
                  case _: Exception if attempt < maxRetries &&
                      !currentVersion(table).contains(parent) =>
                    attempt += 1 // the base moved: retry against it
                    None
                }
              }
            } finally carried.unpersist(): Unit
        }
      }
      res.foreach(v => return Some(v))
    }
    throw new IllegalStateException("unreachable")
  }

  /** Highest transaction version committed under `appId`, from the
    * retained commit log (one distributed read over `_log/v*`). Only
    * manifests at or below `_current` count: a crashed attempt can leave a
    * manifest ABOVE the pointer whose rows never became visible — counting
    * its txn marker would skip the replay of a batch that never landed
    * (data loss). Bounded by retention: [[expire]] must keep at least the
    * source's replay window — the same contract Delta documents for
    * `txnAppId`/`txnVersion`.
    */
  def lastTxn(spark: SparkSession, table: String, appId: String): Option[Long] = {
    val cur = requireVersion(table)
    // driver-side walk of the retained commit rows (one JSON line each);
    // any version the fast path can't parse falls the WHOLE check back to
    // the distributed read — a missed marker must never cause a replay skip
    val fs = new Path(s"$table/_log").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new Path(s"$table/_log"))
      .map(_.getPath.getName).filter(_.startsWith("v")).map(_.drop(1).toLong)
      .filter(_ <= cur)
    val local = versions.map(v => commitRowLocal(spark, table, v))
    if (local.forall(_.isDefined)) {
      val hits = local.flatten.filter(n =>
        n.path("txn_app").asText() == appId && !n.path("txn_v").isMissingNode &&
          !n.path("txn_v").isNull)
        .map(_.path("txn_v").asLong())
      if (hits.isEmpty) None else Some(hits.max)
    } else {
      val r = spark.read.schema(manifestSchema).json(s"$table/_log/v*")
        .filter(col("kind") === "commit" && col("version") <= cur && col("txn_app") === appId)
        .agg(max(col("txn_v"))).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
  }

  /** Exactly-once append for replayable sources: commit `df` tagged with
    * `(appId, txnV)`; a replay of an already-committed transaction (same
    * appId, `txnV` ≤ the last committed) is detected from the commit log
    * and skipped, returning None. This is what makes a restart-after-crash
    * streaming microbatch land exactly once ([[graft.streaming
    * .StreamingPipeline.snapshotWriter]] calls it per batch with the
    * checkpoint's batchId).
    */
  def appendIdempotent(
      spark: SparkSession,
      table: String,
      df: DataFrame,
      appId: String,
      txnV: Long,
      statsCols: Seq[String] = null,
      maxRecordsPerFile: Long = 1000000L): Option[Long] = {
    // cheap unlocked pre-check skips the data write on a plain replay; the
    // race window it leaves (two live writers on one appId) is closed by
    // commitStagedOpt's re-check INSIDE the commit lock
    if (lastTxn(spark, table, appId).exists(_ >= txnV)) None
    else commitStagedOpt(spark, table,
      stageAppend(spark, table, df, statsCols, maxRecordsPerFile),
      Some((appId, txnV)), dataSchema = Some(df.schema))
  }

  /** Replace the table's contents with `df` (op recorded as `overwrite`).
    * Old versions stay readable until [[expire]].
    */
  def overwrite(
      spark: SparkSession,
      table: String,
      df: DataFrame,
      statsCols: Seq[String] = null,
      maxRecordsPerFile: Long = 1000000L): Long = {
    val parent = requireVersion(table)
    val v = parent + 1
    val stats = Option(statsCols).getOrElse(defaultStatsCols(df))
    val entries = writeFileGroup(spark, table, v, df, stats, maxRecordsPerFile)
    withCommitLock(spark, table) {
      writeManifest(spark, table, v, parent, "overwrite",
        entries.select(fileColNames.head, fileColNames.tail: _*),
        schemaJson = Some(df.schema.json)) // overwrite REPLACES the schema too
      swapCurrent(table, parent, v)
    }
    v
  }

  /** Conservative numeric bounding box of a predicate — delegates to
    * [[org.apache.spark.sql.graft.PredicateBox]] (ColumnNode walker).
    */
  private[operators] def predicateBox(c: Column): Map[String, (Double, Double)] =
    org.apache.spark.sql.graft.PredicateBox.extract(c)

  /** String twin of [[predicateBox]] ([[org.apache.spark.sql.graft
    * .PredicateBox.extractStr]]): equality/range constraints on string
    * columns prune against the manifest's truncated string bounds — the
    * partition-by-language layout's skip path without hive partitioning.
    */
  private[operators] def predicateStrBox(
      c: Column): Map[String, (Option[String], Option[String])] =
    org.apache.spark.sql.graft.PredicateBox.extractStr(c)

  /** Stats pruning as a predicate over manifest file rows, true iff the
    * file may hold a row inside `box` (numeric) and `strBox` (string): a
    * file is skipped iff for SOME constrained column its recorded
    * [min,max] misses the box (missing stats keep the file — conservative;
    * string bounds are write-truncated, which only widens the recorded
    * interval, so skipping stays sound). An empty box keeps every file.
    *
    * The comparison widens the box by ~2 double ulps each side: both the
    * per-file stats (cast to Double at write) and the box endpoints
    * (extracted from long/decimal predicates or key sets) can each be off
    * by up to 1 ulp of rounding for values beyond 2^53, and an UNWIDENED
    * compare could then skip a file that actually holds a matching row —
    * an unsound skip (for [[deleteWhereMor]], a row that should die would
    * survive). Widening only ever keeps extra files: pruning stays an
    * optimization, never a semantic filter.
    */
  private def widenLo(lo: Double): Double =
    lo - math.max(math.abs(lo) * 5e-16, java.lang.Double.MIN_NORMAL)
  private def widenHi(hi: Double): Double =
    hi + math.max(math.abs(hi) * 5e-16, java.lang.Double.MIN_NORMAL)

  private def boxPred(
      box: Map[String, (Double, Double)],
      strBox: Map[String, (Option[String], Option[String])]): Column = {
    val num = box.toSeq.map { case (c, (lo, hi)) =>
      element_at(col("stats_min"), c).isNull ||
        (element_at(col("stats_max"), c) >= lit(widenLo(lo)) &&
          element_at(col("stats_min"), c) <= lit(widenHi(hi)))
    }
    val str = strBox.toSeq.map { case (c, (lo, hi)) =>
      element_at(col("stats_min_str"), c).isNull ||
        (lo.map(l => element_at(col("stats_max_str"), c) >= lit(l)).getOrElse(lit(true)) &&
          hi.map(h => element_at(col("stats_min_str"), c) <= lit(h)).getOrElse(lit(true)))
    }
    (num ++ str).reduceOption(_ && _).getOrElse(lit(true))
  }

  /** Read a manifest file set WITH provenance columns `__file` (parquet
    * basename) and `__pos` (row index within the file, from the scan's
    * metadata column — the position-delete key), applying any referenced
    * deletion vectors: rows listed in a file's DV dataset are dropped by
    * ONE anti-join on (basename, position). Basenames are globally unique
    * (each carries its write job's UUID), so the union of every referenced
    * DV dataset joins soundly — a dataset can only ever name positions of
    * files whose CURRENT reference is it or a merged superset of it.
    * Tables with no DVs skip the join entirely (the metadata columns are
    * pruned away by Catalyst when the caller drops them).
    */
  private def readFilesMeta(
      spark: SparkSession, table: String, files: DataFrame,
      schema: Option[StructType] = None): DataFrame =
    // paths-only collect of the post-pruning survivors — the same driver
    // cost Spark's own file index pays at plan time
    readPathsMeta(spark, table,
      files.select("path", "dv_path").collect().map(r => (r.getString(0), r.getString(1))),
      schema)

  /** [[readFilesMeta]] over already-collected `(path, dv_path)` rows. */
  private def readPathsMeta(
      spark: SparkSession, table: String, rows: Seq[(String, String)],
      schema: Option[StructType]): DataFrame = {
    val paths = rows.map(r => absPath(table, r._1))
    val dvPaths = rows.flatMap(r => Option(r._2)).distinct.map(p => absPath(table, p))
    if (paths.isEmpty)
      schema.map(s => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        s.add("__file", StringType).add("__pos", LongType)))
        .getOrElse(spark.emptyDataFrame)
    else {
      // the manifest-recorded schema makes the scan footer-free AND lets
      // files written before a column evolved in read it as null
      val r = schema.map(spark.read.schema(_)).getOrElse(spark.read)
      val base = r.parquet(paths.toIndexedSeq: _*)
        .withColumn("__file", col("_metadata.file_name"))
        .withColumn("__pos", col("_metadata.row_index"))
      if (dvPaths.isEmpty) base
      else {
        // DV side ∝ deleted rows of the files scanned — broadcast-small
        // for point deletes, hash-join at worst; never a data rewrite
        val dv = readDvs(spark, dvPaths)
          .select(col("file").as("__file"), col("pos").as("__pos"))
        base.join(dv, Seq("__file", "__pos"), "left_anti")
      }
    }
  }

  /** A deletion-vector dataset's fixed shape: the data file's base name
    * and a deleted row's position in it.
    */
  private val dvSchema = StructType(Seq(
    StructField("file", StringType), StructField("pos", LongType)))

  /** Deletion-vector datasets, read with [[dvSchema]] (no inference job). */
  private def readDvs(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(dvSchema).parquet(paths: _*)

  private def dropMeta(m: DataFrame): DataFrame =
    if (m.columns.contains("__file")) m.drop("__file", "__pos") else m

  private def readFiles(
      spark: SparkSession, table: String, files: DataFrame,
      schema: Option[StructType] = None): DataFrame =
    dropMeta(readFilesMeta(spark, table, files, schema))

  /** Read the table at `version` (default: current). Snapshot-isolated: the
    * returned frame lists its exact immutable files, so concurrent commits,
    * compactions, or deletes cannot change what it reads. The schema is the
    * one RECORDED at that version (evolution travels with time travel); no
    * parquet footer is opened for schema inference. The file list comes
    * from the driver-parsed manifest lines commits use, so planning the
    * read runs no job; only a manifest that helper declines is read as a
    * distributed dataset.
    */
  def read(spark: SparkSession, table: String, version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(requireVersion(table))
    val schema = tableSchema(spark, table, Some(v))
    manifestFileLinesLocal(spark, table, v) match {
      case Some(lines) =>
        dropMeta(readPathsMeta(spark, table, lines.map(l => (l._2, l._3)), schema))
      case None => readFiles(spark, table, fileRows(spark, table, v), schema)
    }
  }

  /** Planner-integrated read: a DataFrame over a manifest-backed Catalyst
    * [[org.apache.spark.sql.graft.SnapshotRelation.SnapshotFileIndex]],
    * so any filter the OPTIMIZER pushes down prunes files against the
    * manifest stats automatically — `table(spark, t).filter(col("id") <
    * 100)` skips non-intersecting files with no explicit `scanPlan`
    * plumbing, joins see the manifest's byte totals for broadcast
    * decisions, and the pruning itself runs as a Spark job (the driver
    * holds only the survivors, same as Spark's own file-index planning
    * cost). Deletion vectors layer on top exactly as in [[read]]: the
    * anti-join sits above the relation, and Catalyst pushes data filters
    * through its left side down to the manifest-pruned scan. [[read]]
    * stays the collected-paths reference path; `table` is what a query
    * layer should hand out. Falls back to [[read]] for a pre-schema
    * manifest (nothing records the shape to plan with).
    */
  def table(spark: SparkSession, tablePath: String, version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(requireVersion(tablePath))
    val schema = tableSchema(spark, tablePath, Some(v)) match {
      case Some(s) => s
      case None => return read(spark, tablePath, Some(v))
    }
    def files = fileRows(spark, tablePath, v)
    val agg = files.agg(
      coalesce(sum(col("bytes")), lit(0L)),
      sum(when(col("dv_path").isNotNull, 1L).otherwise(0L))).head()
    val totalBytes = agg.getLong(0)
    val dvPaths =
      if (agg.isNullAt(1) || agg.getLong(1) == 0L) Array.empty[String]
      else files.filter(col("dv_path").isNotNull).select("dv_path")
        .distinct().collect().map(r => absPath(tablePath, r.getString(0)))
    def collectFiles(df: DataFrame): Array[(String, Long)] =
      df.select("path", "bytes").collect()
        .map(r => (absPath(tablePath, r.getString(0)), r.getLong(1)))
    val base = org.apache.spark.sql.graft.SnapshotRelation.frame(
      spark, tablePath, schema, totalBytes,
      () => collectFiles(files),
      (box, strBox) => collectFiles(files.filter(boxPred(box, strBox))))
    if (dvPaths.isEmpty) base
    else {
      val dv = readDvs(spark, dvPaths.toSeq)
        .select(col("file").as("__file"), col("pos").as("__pos"))
      base
        .withColumn("__file", col("_metadata.file_name"))
        .withColumn("__pos", col("_metadata.row_index"))
        .join(dv, Seq("__file", "__pos"), "left_anti")
        .drop("__file", "__pos")
    }
  }

  /** Plan + execute a filtered scan with manifest-side file skipping. The
    * predicate still applies in full to the surviving files (pruning is an
    * optimization, never a semantic filter).
    */
  def scanPlan(
      spark: SparkSession, table: String, cond: Column,
      version: Option[Long] = None): ScanPlan = {
    val v = version.getOrElse(requireVersion(table))
    val files = fileRows(spark, table, v).cache()
    try {
      val box = predicateBox(cond)
      val keep = files.filter(boxPred(box, predicateStrBox(cond)))
      val total = files.count()
      val kept = keep.count()
      ScanPlan(total, kept,
        readFiles(spark, table, keep, tableSchema(spark, table, Some(v))).filter(cond))
    } finally files.unpersist(): Unit
  }

  /** Outcome of a keyed or merge-on-read op ([[deleteWhereMor]],
    * [[deleteKeysMor]], [[mergeMor]], [[merge]], [[mergeIdempotent]],
    * [[applyCdcIdempotent]]): the new version, the files that gained a (new
    * or re-merged) deletion vector vs carried untouched, and the row split:
    * live rows deleted (their retire key or predicate matched, or the upsert
    * matching their key is itself retired), live rows replaced by a landing
    * upsert row, and landing upsert rows less the distinct keys of the
    * replaced rows (the inserts). No data file is rewritten, so there is no
    * rewritten-file count.
    */
  final case class MergeStats(
      version: Long, filesWithDv: Long, filesUntouched: Long,
      rowsDeleted: Long, rowsUpdated: Long, rowsInserted: Long)

  /** Merge-on-read delete: NO data file is rewritten — matching rows are
    * recorded as (file basename, row position) in a position-delete
    * dataset under `data/c<v>-<token>.dv/`, and the affected manifest file
    * rows point at it via `dv_path`. Every read applies the vectors with
    * one anti-join ([[readFilesMeta]]). This is the Iceberg-v2
    * position-delete / Delta deletion-vector discipline, and the reason a
    * 0.1% delete on a 100 TB table costs megabytes, not terabytes:
    *
    *  - **Write cost ∝ rows deleted.** Stats-pruned candidates are scanned
    *    once (predicate pushed to parquet); only matching (file, pos)
    *    pairs are written, never a candidate FILE — a copy-on-write
    *    rewrite is right only when deletes cluster, wrong when they
    *    scatter across the whole table.
    *  - **Read cost**: one anti-join against a deleted-fraction-sized
    *    side. [[compact]] absorbs the vectors back into clean files when
    *    the fraction grows (reads apply DVs, rewrites reference none).
    *  - **Monotone merge.** A file deleted against twice gets ONE merged
    *    vector: the new positions (computed on a DV-applied read, so
    *    already-deleted rows can't re-match) unioned with its old
    *    vector's. Its `dv_path` moves to the merged dataset; files
    *    untouched by this delete keep their old reference. Time travel
    *    stays exact: each version's file rows name each file's vector AS
    *    OF that version.
    *  - **Fully-deleted files stay referenced** (dv_rows == rows; the
    *    anti-join drops everything) until a [[compact]] fold retires
    *    them; [[expire]] GCs DV datasets no retained
    *    version references.
    *
    * Recorded as op `delete` — a non-append — so incremental consumers
    * ([[diffAppended]]/[[IncrementalAgg]]) correctly fall back to a full
    * recompute across it.
    */
  def deleteWhereMor(
      spark: SparkSession,
      table: String,
      cond: Column): MergeStats = {
    val parent = requireVersion(table)
    val files = fileRows(spark, table, parent).cache()
    val schema = tableSchema(spark, table, Some(parent))
    try {
      val mayMatch = boxPred(predicateBox(cond), predicateStrBox(cond))
      val (nFiles, cands) = candidateFiles(files, mayMatch)
      val cand = readPathsMeta(spark, table, cands, schema)
      val newPos =
        if (cands.isEmpty || cand.columns.isEmpty) null
        else cand.filter(cond).select(col("__file").as("file"), col("__pos").as("pos"),
          lit(null).cast(StringType).as("__mkey"))
      commitMorDelete(spark, table, parent, "delete", files, nFiles, cands, newPos,
        files.limit(0).select(fileColNames.head, fileColNames.tail: _*),
        schema.map(_.json), mayMatch, txn = None).get
    } finally { files.unpersist(); () }
  }

  /** Keyed merge-on-read delete — the CDC-delete face of
    * [[deleteWhereMor]], and [[mergeMor]] with no upserts: rows whose key
    * columns match a row of `keys` mark as deleted positions; no data file
    * rewrites. Candidates are dismissed from the manifest by the key set's
    * numeric/string bounds (the same dismissal [[merge]]'s upsert keys get),
    * scanned once on a DV-applied read, and semi-joined against the key set
    * (broadcast when small).
    */
  def deleteKeysMor(
      spark: SparkSession,
      table: String,
      keys: DataFrame,
      keyCols: Seq[String]): MergeStats = {
    require(keyCols.nonEmpty, "deleteKeysMor needs at least one key column")
    mergeMor(spark, table, None, Nil, Some(keys), keyCols).get
  }

  /** Keyed MERGE plus keyed delete as ONE merge-on-read commit — a
    * batch's upserts and retirements under one manifest and one pointer
    * swap, with no data file rewritten:
    *
    *  - every live row whose `keyCols` match an `upserts` row, or whose
    *    `retireCols` match a `retire` row, gains a deletion-vector
    *    position (one DV-applied scan of the stats-pruned candidates,
    *    semi-joined against both key sets);
    *  - the `upserts` rows, minus those whose `retireCols` are retired,
    *    land as one fresh file group.
    *
    * The table that results is exactly a keyed upsert by `keyCols`
    * followed by a delete by `retireCols`, but the write is ∝ the batch, not
    * the files holding its keys, and it is one atomic commit instead of
    * two. Source keys must be unique (the MERGE precondition). Recorded as
    * op `merge`, or `delete` when `upserts` is None ([[deleteKeysMor]]).
    * `txn` tags the commit exactly-once: None iff the transaction was
    * already committed by a concurrent writer (re-checked inside the commit
    * lock). A concurrent append conflicts iff its stats box may hold an
    * upsert key or a retired key. The schema evolves and is validated
    * before anything is written: a type-conflicting upsert throws with no
    * file left behind.
    */
  def mergeMor(
      spark: SparkSession,
      table: String,
      upserts: Option[DataFrame],
      keyCols: Seq[String],
      retire: Option[DataFrame],
      retireCols: Seq[String],
      statsCols: Seq[String] = null,
      txn: Option[(String, Long)] = None): Option[MergeStats] = {
    require(upserts.isEmpty || keyCols.nonEmpty, "mergeMor upserts need a key column")
    require(retire.isEmpty || retireCols.nonEmpty, "mergeMor retirement needs a key column")
    val parent = requireVersion(table)
    val tblSchema = tableSchema(spark, table, Some(parent))
    // a type conflict throws here, before any file is written
    val schema = upserts.fold(tblSchema)(u => Some(evolveSchema(tblSchema, u.schema)))
    val files = fileRows(spark, table, parent).cache()
    // the source feeds the key bounds, the position join and the appended
    // group: computed once
    val src = upserts.map(_.cache())
    try {
      // ONE aggregate bounds both key sets (bounds need no distinct); an
      // empty set matches no file
      val Seq(uBox, rBox) = keyBoxes(Seq(src -> keyCols, retire -> retireCols))
      val uKeys = src.filter(_ => uBox.isDefined).map(_.select(keyCols.map(col): _*))
      val rKeys = retire.filter(_ => rBox.isDefined).map(_.select(retireCols.map(col): _*))
      // the upserts that land: those whose own retire key is not retired
      val landing = src.map(s => rKeys.fold(s)(rk => s.join(rk, retireCols, "left_anti")))
      val mayMatch = Seq(uBox, rBox).flatten.map(_.pred).reduceOption(_ || _)
        .getOrElse(lit(false))
      val (nFiles, cands) = candidateFiles(files, mayMatch)
      val entries = (landing, uBox) match {
        case (Some(l), Some(b)) =>
          // files sized by rows like a clustered append's (the append
          // default of 1M rows a file), not by the cached source's
          // partition count
          val maxRows = 1000000L
          writeFileGroup(spark, table, parent + 1,
            l.coalesce(((b.rows + maxRows - 1) / maxRows).toInt),
            Option(statsCols).getOrElse(defaultStatsCols(l)), maxRows)
            .select(fileColNames.head, fileColNames.tail: _*)
        case _ => files.limit(0).select(fileColNames.head, fileColNames.tail: _*)
      }
      // an upsert was retired iff fewer rows landed than the source holds
      // (footer-built entries are a local relation: this collect runs no job)
      val someRetired = uBox.exists(_.rows > entries.select("rows").collect().map(_.getLong(0)).sum)
      val cand = readPathsMeta(spark, table, cands, tblSchema)
      val newPos =
        if (cands.isEmpty || cand.columns.isEmpty) null
        else {
          val mkey = struct(keyCols.map(col): _*)
          val noKey = lit(null).cast(
            if (uKeys.isEmpty) StringType else cand.select(mkey).schema.head.dataType)
          def pos(df: DataFrame, k: Column) =
            df.select(col("__file").as("file"), col("__pos").as("pos"), k.as("__mkey"))
          // disjoint semi/anti-join branches (no distinct, no dedup): rows
          // whose retire key matches; rows an upsert key matches that are
          // not retired — replaced when that upsert lands, deleted when it
          // was itself retired (merge-then-delete drops both rows); that
          // split costs two more joins, so it runs only when some upsert
          // was retired
          val retired = rKeys.map(rk => pos(retiredRows(cand, rk, retireCols), noKey))
          val hit = uKeys.map { uk =>
            val h = cand.join(uk, keyCols, "left_semi")
            rKeys.fold(h)(rk => h.join(rk, retireCols, "left_anti"))
          }
          val (replaced, dropped) = (hit, landing) match {
            case (Some(h), Some(l)) if someRetired =>
              val lk = l.select(keyCols.map(col): _*)
              (Some(pos(h.join(lk, keyCols, "left_semi"), mkey)),
                Some(pos(h.join(lk, keyCols, "left_anti"), noKey)))
            case _ => (hit.map(pos(_, mkey)), None)
          }
          (retired ++ replaced ++ dropped).reduce(_ unionByName _)
        }
      commitMorDelete(spark, table, parent, if (upserts.isDefined) "merge" else "delete",
        files, nFiles, cands, newPos, entries, schema.map(_.json), mayMatch, txn)
    } finally {
      files.unpersist(); src.foreach(_.unpersist())
    }
  }

  /** The delete-by-document join at the heart of K3, shared with the plan
    * audit: the candidate rows whose retire key is in `retire`. No
    * broadcast hint: the retire set is unbounded (retiring a whole dataset
    * can mean 10⁷–10⁸ ids). Hint-free, the planner broadcasts small id sets
    * and falls back to a shuffled semi-join for large ones — the same
    * size-adaptive shape as the J1 ledger anti-join.
    */
  private[graft] def retiredRows(
      cand: DataFrame, retire: DataFrame, retireCols: Seq[String]): DataFrame =
    cand.join(retire, retireCols, "left_semi")

  /** One collect over a version's cached file rows: the file count and the
    * `(path, dv_path)` of the files `mayMatch` keeps — a merge-on-read
    * op's candidate scan list and its stats' file total in one job.
    */
  private def candidateFiles(
      files: DataFrame, mayMatch: Column): (Long, Seq[(String, String)]) = {
    val rows = files.select(col("path"), col("dv_path"),
      coalesce(mayMatch, lit(false)).as("__cand")).collect()
    (rows.length.toLong,
      rows.toSeq.filter(_.getBoolean(2)).map(r => (r.getString(0), r.getString(1))))
  }

  /** Shared commit half of the merge-on-read ops: write the merged
    * position-delete dataset for `newPos` — `(file, pos, __mkey)` rows,
    * null when no file is a candidate; `__mkey` is the matched upsert key
    * of a replaced row, null for a retired or predicate-deleted one — and
    * commit the re-referenced manifest plus the appended `entries` (the
    * upsert file group; empty for a pure delete). The stats come from one
    * aggregate over the cached positions (its per-file counts, broadcast
    * as a small relation, also set each hit file's `dv_rows` in the
    * manifest) and the entries' recorded row counts; nothing re-counts the
    * files or the rows kept.
    */
  private def commitMorDelete(
      spark: SparkSession,
      table: String,
      parent: Long,
      op: String,
      files: DataFrame,
      nFiles: Long,
      cands: Seq[(String, String)],
      newPos0: DataFrame,
      entries: DataFrame,
      schemaJson: Option[String],
      conflicts: Column,
      txn: Option[(String, Long)]): Option[MergeStats] = {
    val v = parent + 1
    // footer-built entries are a local relation: this collect runs no job
    val appended = entries.select("rows").collect().map(_.getLong(0)).sum
    val newPos = if (newPos0 == null) null else newPos0.cache()
    try {
      // ONE aggregate over the cached positions: a row per hit file (its
      // new positions) plus the rollup's grand-total row (all positions, the
      // replaced ones, and their distinct keys — fewer than the replaced
      // rows only if the table holds duplicate keys)
      val agg = if (newPos == null) Array.empty[org.apache.spark.sql.Row]
        else newPos.rollup(col("file"))
          .agg(count(lit(1)), count(col("__mkey")), countDistinct(col("__mkey")),
            grouping_id().as("__g"))
          .collect()
      def isTotal(r: org.apache.spark.sql.Row) = r.getAs[Number](4).longValue != 0L
      val perFile: Map[String, Long] =
        agg.filterNot(isTotal).map(r => r.getString(0) -> r.getLong(1)).toMap
      val (deleted, updated, matchedKeys) = agg.find(isTotal)
        .fold((0L, 0L, 0L))(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      // no matches: the commit still lands (history records it, appended
      // entries ride it); a concurrent append whose files might match is
      // still a conflict (those rows should have died in this commit)
      val preserved =
        if (deleted == 0L) files.select(fileColNames.head, fileColNames.tail: _*)
        else {
          def baseName(p: String) = p.substring(p.lastIndexOf('/') + 1)
          val dvOf: Map[String, String] =
            cands.collect { case (p, dv) if dv != null => baseName(p) -> dv }.toMap
          // the hit files as a small relation broadcast once, never a plan
          // literal (the hit set is bounded by the collected candidates, but
          // not small at scale): basename, new positions, and the dir of its
          // own old vector dataset (dir names are unique: each carries its
          // commit's token)
          val hits = broadcast(spark.createDataFrame(perFile.toSeq.map { case (f, n) =>
            (f, n, dvOf.get(f).map(baseName).orNull)
          }).toDF("__bn", "__hitN", "__dvDir"))
          val pos = newPos.select("file", "pos")
          // each hit file's old vector folds into the merged dataset, read
          // from THAT file's own dataset only (another candidate's dataset
          // may hold an older subset of the same file's positions)
          val oldDirs = perFile.keys.flatMap(dvOf.get).toSeq.distinct
          val oldPos =
            if (oldDirs.isEmpty) pos.limit(0)
            else readDvs(spark, oldDirs.map(absPath(table, _)))
              .select(col("file"), col("pos"),
                element_at(split(col("_metadata.file_path"), "/"), -2).as("__dir"))
              .join(hits, col("file") === col("__bn") && col("__dir") === col("__dvDir"),
                "left_semi")
              .select("file", "pos")
          // disjoint by construction: newPos was computed on a DV-applied read
          val token = java.util.UUID.randomUUID().toString.take(8)
          val rel = f"data/c$v%08d-$token.dv"
          val nDvFiles = math.max(1L, (deleted + 9999999L) / 10000000L).toInt
          pos.unionByName(oldPos).coalesce(nDvFiles)
            .write.mode(SaveMode.ErrorIfExists).parquet(s"$table/$rel")
          // a hit file's merged count is its old vector's plus its new
          // positions; its rows keep their recorded added_v (only the dv
          // reference changed), so they ride `preserved`, not `entries`
          val hitN = col("__hitN")
          files.withColumn("__bn", element_at(split(col("path"), "/"), -1))
            .join(hits.select("__bn", "__hitN"), Seq("__bn"), "left")
            .select(fileColNames.map {
              case "dv_path" =>
                when(hitN.isNotNull, lit(rel)).otherwise(col("dv_path")).as("dv_path")
              case "dv_rows" =>
                when(hitN.isNotNull, coalesce(col("dv_rows"), lit(0L)) + hitN)
                  .otherwise(col("dv_rows")).as("dv_rows")
              case c => col(c)
            }: _*)
        }
      commitRebase(spark, table, parent, op, preserved, entries, Some(conflicts), txn,
        schemaJson)
        .map(vc => MergeStats(vc, perFile.size.toLong, nFiles - perFile.size,
          deleted - updated, updated, appended - matchedKeys))
    } finally if (newPos != null) newPos.unpersist(): Unit
  }

  /** A key set's row count and per-key-column bounds: numeric min/max
    * and string min/max — the manifest-side dismissal box of the files
    * that may hold one of its keys ([[pred]]).
    */
  private final case class KeyBox(
      rows: Long,
      num: Map[String, (Double, Double)],
      str: Map[String, (Option[String], Option[String])]) {
    def pred: Column = boxPred(num, str)
  }

  /** The [[KeyBox]] of each key set that [[mergeMor]] prunes
    * candidate files with, in ONE aggregate job over every set (a union
    * with each set's columns renamed apart). None for an absent or empty
    * set: it matches no file. A set whose keys have no bounds (all null,
    * or a type without stats) gets empty maps, which keep every file.
    */
  private def keyBoxes(sets: Seq[(Option[DataFrame], Seq[String])]): Seq[Option[KeyBox]] = {
    val present = sets.zipWithIndex.collect { case ((Some(df), ks), i) =>
      val num = ks.filter(k => df.schema(k).dataType.isInstanceOf[NumericType])
      val str = ks.filter(k => df.schema(k).dataType == StringType)
      (df, i, num, str)
    }
    if (present.isEmpty) return sets.map(_ => None)
    def kc(i: Int, k: String) = col(s"__k${i}_$k")
    val tagged = present.map { case (df, i, num, str) =>
      df.select(((num ++ str).map(k => col(k).as(s"__k${i}_$k")) :+ lit(i).as("__set")): _*)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    // per set: its row count, then min/max per numeric key (as double) and
    // per string key
    val aggs = present.flatMap { case (_, i, num, str) =>
      count(when(col("__set") === i, 1)) +:
        (num.flatMap(k => Seq(min(kc(i, k)).cast(DoubleType), max(kc(i, k)).cast(DoubleType))) ++
          str.flatMap(k => Seq(min(kc(i, k)), max(kc(i, k)))))
    }
    val r = tagged.agg(aggs.head, aggs.tail: _*).head()
    var at = 0
    val boxes = present.map { case (_, i, num, str) =>
      val n = r.getLong(at)
      val numBox = num.zipWithIndex.collect {
        case (k, j) if !r.isNullAt(at + 1 + 2 * j) && !r.isNullAt(at + 2 + 2 * j) =>
          k -> ((r.getDouble(at + 1 + 2 * j), r.getDouble(at + 2 + 2 * j)))
      }.toMap
      val off = at + 1 + 2 * num.size
      val strBox = str.zipWithIndex.collect {
        case (k, j) if !r.isNullAt(off + 2 * j) && !r.isNullAt(off + 2 * j + 1) =>
          k -> ((Option(r.getString(off + 2 * j)), Option(r.getString(off + 2 * j + 1))))
      }.toMap
      at = off + 2 * str.size
      i -> (if (n == 0L) None else Some(KeyBox(n, numBox, strBox)))
    }.toMap
    sets.indices.map(i => boxes.getOrElse(i, None))
  }

  /** Keyed MERGE (upsert) — the Delta/Iceberg `MERGE INTO` discipline:
    * every live row whose key matches a `source` row is REPLACED by that
    * row, and source rows with no match are inserted. Source keys must be
    * unique (the standard MERGE precondition; duplicate source keys make the
    * result order-dependent). This is [[mergeMor]] with nothing retired:
    * ONE merge-on-read commit recorded as op `merge` (a non-append, so
    * [[diffAppended]] signals fallback and [[IncrementalAgg]] recomputes);
    * matched rows gain deletion-vector positions, the source lands as one
    * fresh file group, and no data file is rewritten. Throws
    * ConcurrentModificationException iff `txn` was already committed by a
    * concurrent writer.
    */
  def merge(
      spark: SparkSession,
      table: String,
      source: DataFrame,
      keyCols: Seq[String],
      statsCols: Seq[String] = null,
      txn: Option[(String, Long)] = None): MergeStats =
    mergeMor(spark, table, Some(source), keyCols, None, Nil, statsCols, txn).getOrElse(
      throw new java.util.ConcurrentModificationException(
        s"transaction ${txn.get} already committed at $table by a concurrent writer"))

  /** Conform `df` to `schema`: schema's columns in order, missing ones
    * null-filled, extra ones dropped, types cast (a no-op unless an
    * overwrite replaced a column's type) — so multiset diffs
    * (`exceptAll`) across schema evolution compare like with like.
    */
  private def conform(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toIndexedSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)

  /** Row-level changelog of `(fromV, toV]` — the change-data-feed that
    * keeps consumers incremental ACROSS deletes and merges, where
    * [[diffAppended]] must signal fallback. Returns the table's rows plus
    * `_change_type` (`insert` | `delete`; an update is its delete+insert
    * pair — position-level changelogs carry no row lineage) and
    * `_commit_version`. Cost is proportional to each commit's CHURN,
    * never the table:
    *
    *  - `append`: the added files scan as inserts (delta-only, like
    *    [[diffAppended]]).
    *  - `delete`/`merge`/`overwrite`: the file-set diff vs the parent —
    *    removed files' live rows `exceptAll` added files' rows are the
    *    deletes, the reverse are the inserts (an overwrite or restore
    *    swaps file sets; a merge-on-read delete or merge
    *    removes no file, so its deletes are read as its DELTA of
    *    deletion-vector positions joined back to the rows they name, and a
    *    merge's inserts are its appended file group).
    *  - `replace` (compaction) is row-preserving by contract and emits
    *    nothing — a layout change is not a data change.
    *
    * Each commit's rows conform to ITS version's recorded schema and the
    * union null-fills across evolution. [[IncrementalAgg]] consumes this
    * to maintain rollups through deletes with signed partials.
    */
  def rowChanges(
      spark: SparkSession, table: String, fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"changelog range reversed: $fromV > $toV")
    val schemaCache = scala.collection.mutable.Map.empty[Long, Option[StructType]]
    def schemaAt(v: Long): Option[StructType] =
      schemaCache.getOrElseUpdate(v, tableSchema(spark, table, Some(v)))
    // Segment the range: a maximal run of consecutive `append` commits with
    // an unchanged recorded schema collapses to ONE manifest read + ONE
    // scan at the run's end — every file appended inside the run is still
    // live there (appends remove nothing) and carries its origin `version`,
    // which becomes the per-row `_commit_version`. A catch-up spanning a
    // day of streaming microbatches (1,000 one-file appends) costs O(runs)
    // Spark jobs, not O(commits); the per-version dispatch below remains
    // for the non-append ops, whose churn is a file-set/dv diff by nature.
    // Commit metadata stays driver-parsed (commitRowLocal), no job per v.
    val segs = scala.collection.mutable.ListBuffer.empty[Either[Vector[Long], Long]]
    ((fromV + 1) to toV).foreach { v =>
      val op = commitInfo(spark, table, v).op
      segs.lastOption match {
        case Some(Left(run)) if op == "append" && schemaAt(run.last) == schemaAt(v) =>
          segs(segs.size - 1) = Left(run :+ v)
        case _ if op == "append" => segs += Left(Vector(v))
        case _ => segs += Right(v)
      }
    }
    val frames: Seq[DataFrame] = segs.toList.flatMap {
      case Left(run) =>
        val v2 = run.last
        val added = fileRows(spark, table, v2)
          .filter(col("version") >= run.head && col("version") <= v2)
        val rows = readFilesMeta(spark, table, added, schemaAt(v2))
        val out =
          if (!rows.columns.contains("__file"))
            rows.withColumn("_change_type", lit("insert"))
              .withColumn("_commit_version", lit(v2))
          else {
            // run-size rows: the origin-version map broadcasts
            val vmap = broadcast(added.select(
              element_at(split(col("path"), "/"), -1).as("__file"),
              col("version").as("_commit_version")))
            rows.join(vmap, Seq("__file"), "left")
              .withColumn("_change_type", lit("insert"))
              .drop("__file", "__pos")
          }
        Seq(out)
      case Right(v) =>
      val op = commitInfo(spark, table, v).op
      val schemaV = schemaAt(v)
      def tag(df: DataFrame, t: String): DataFrame =
        df.withColumn("_change_type", lit(t)).withColumn("_commit_version", lit(v))
      op match {
        case "create" | "replace" | "clone" => Nil
        case _ =>
          val prev = fileRows(spark, table, v - 1)
          val curr = fileRows(spark, table, v)
          val schemaPrev = schemaAt(v - 1)
          // (a) file-set diff: removed files' LIVE rows (their v-1 vectors
          // applied) vs added files' rows — a file-set swap, multiset-diffed
          val removed = prev.join(curr.select("path"), Seq("path"), "left_anti")
          val added = curr.join(prev.select("path"), Seq("path"), "left_anti")
          val oldLive = readFiles(spark, table, removed, schemaPrev)
          val newRows = readFiles(spark, table, added, schemaV)
          val target: Option[StructType] = schemaV.orElse(schemaPrev)
            .orElse(if (newRows.columns.nonEmpty) Some(newRows.schema) else None)
            .orElse(if (oldLive.columns.nonEmpty) Some(oldLive.schema) else None)
          target match {
            case None => Nil // empty-to-empty commit: nothing changed
            case Some(ts) =>
              val o = conform(oldLive, ts)
              val n = conform(newRows, ts)
              val fileDels = o.exceptAll(n)
              val fileIns = n.exceptAll(o)
              // (b) deletion-vector delta on files carried in BOTH
              // versions, in EITHER direction: positions entering the
              // vector are deletes; positions leaving it (a RESTORE
              // rolling back past a delete) are re-inserts
              val changed = curr
                .join(prev.select(col("path"), col("dv_path").as("__old_dv")), Seq("path"))
                .filter(!(col("dv_path") <=> col("__old_dv")))
                .cache()
              val dvDelta: Seq[DataFrame] =
                if (changed.isEmpty) Nil
                else {
                  def lastPart(c: Column) = element_at(split(c, "/"), -1)
                  // each file's positions from ITS OWN dataset only: an older
                  // dataset another file still references may hold a subset
                  // of them (dataset dir names are unique per commit); the
                  // distinct drops repeats an older writer folded into one
                  // dataset
                  def posOf(c: String): DataFrame = {
                    val refs = changed.filter(col(c).isNotNull)
                    val dirs = refs.select(c).distinct()
                      .collect().map(r => absPath(table, r.getString(0)))
                    if (dirs.isEmpty) {
                      import spark.implicits._
                      spark.emptyDataset[(String, Long)].toDF("file", "pos")
                    } else readDvs(spark, dirs.toSeq)
                      .select(col("file"), col("pos"),
                        element_at(split(col("_metadata.file_path"), "/"), -2).as("__dir"))
                      .join(refs.select(lastPart(col("path")).as("file"),
                        lastPart(col(c)).as("__dir")), Seq("file", "__dir"), "left_semi")
                      .select("file", "pos").distinct()
                  }
                  val newPos = posOf("dv_path")
                  val oldPos = posOf("__old_dv")
                  val raw = readFilesMeta(spark, table,
                    changed.withColumn("dv_path", lit(null: String)), schemaPrev)
                  def rowsAt(delta: DataFrame): DataFrame = conform(
                    raw.join(delta.select(col("file").as("__file"), col("pos").as("__pos")),
                      Seq("__file", "__pos")), ts)
                  Seq(tag(rowsAt(newPos.exceptAll(oldPos)), "delete"),
                    tag(rowsAt(oldPos.exceptAll(newPos)), "insert"))
                }
              changed.unpersist(): Unit
              Seq(tag(fileDels, "delete"), tag(fileIns, "insert")) ++ dvDelta
          }
      }
    }
    // balanced tree union: a catch-up consumer's range can span hundreds
    // of commits, and a LINEAR unionByName chain that deep makes analysis/
    // optimization time quadratic-ish — the tree keeps plan depth O(log n)
    def treeUnion(fs: Seq[DataFrame]): DataFrame =
      if (fs.size == 1) fs.head
      else {
        val (l, r) = fs.splitAt(fs.size / 2)
        treeUnion(l).unionByName(treeUnion(r), allowMissingColumns = true)
      }
    if (frames.nonEmpty) treeUnion(frames)
    else {
      val s = tableSchema(spark, table, Some(toV)).getOrElse(new StructType())
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        s.add("_change_type", StringType).add("_commit_version", LongType))
    }
  }

  /** Exactly-once keyed MERGE for replayable sources — [[merge]]'s one
    * merge-on-read commit tagged `(appId, txnV)`, with a replay of an
    * already-committed transaction detected from the commit log and skipped
    * (returns None), exactly like [[appendIdempotent]]. This is what makes a restart-after-crash
    * streaming CDC-upsert microbatch land exactly once
    * ([[graft.streaming.StreamingPipeline.snapshotUpsertWriter]] calls it
    * per batch with the checkpoint's batchId).
    */
  def mergeIdempotent(
      spark: SparkSession,
      table: String,
      source: DataFrame,
      keyCols: Seq[String],
      appId: String,
      txnV: Long,
      statsCols: Seq[String] = null): Option[MergeStats] =
    // unlocked pre-check skips the write on a plain replay; the in-lock
    // re-check inside mergeMor closes the concurrent-same-appId window
    if (lastTxn(spark, table, appId).exists(_ >= txnV)) None
    else mergeMor(spark, table, Some(source), keyCols, None, Nil, statsCols,
      Some((appId, txnV)))

  /** Apply one CDC batch — keyed upserts AND deletes — exactly once, as
    * ONE merge-on-read commit ([[mergeMor]]): rows whose `opCol` value is
    * `delete` retire by key, every other row upserts by key; no data file
    * rewrites. One state per key per batch (the standard CDC-apply
    * precondition — reduce a multi-event stream to latest-per-key
    * upstream).
    *
    * Exactly-once discipline: the commit carries the `(appId, txnV)`
    * transaction marker, so a replayed batch is detected and skipped
    * ENTIRELY (returns None) — there is no half-applied batch to replay,
    * the deletes and upserts land under one pointer swap. A delete-only
    * batch commits its retirements with the marker the same way.
    */
  def applyCdcIdempotent(
      spark: SparkSession,
      table: String,
      batch: DataFrame,
      keyCols: Seq[String],
      opCol: String,
      appId: String,
      txnV: Long): Option[MergeStats] = {
    require(batch.columns.contains(opCol), s"batch lacks op column '$opCol'")
    if (lastTxn(spark, table, appId).exists(_ >= txnV)) return None
    // None here means a concurrent same-appId writer landed this txn while
    // we ran (re-checked inside the commit lock): the batch is applied once
    mergeMor(spark, table,
      Some(batch.filter(col(opCol) =!= "delete").drop(opCol)), keyCols,
      Some(batch.filter(col(opCol) === "delete").select(keyCols.map(col): _*)), keyCols,
      txn = Some((appId, txnV)))
  }

  /** Rows added by APPEND commits in `(fromV, toV]` — the incremental read:
    * a manifest query selects exactly the delta's files; nothing else is
    * scanned. Returns None when the range contains a non-append commit
    * (overwrite/delete/replace), in which case the caller cannot treat the
    * diff as pure inserts and should fall back to a full read.
    */
  def diffAppended(
      spark: SparkSession, table: String, fromV: Long, toV: Long): Option[DataFrame] = {
    require(fromV <= toV, s"diff range reversed: $fromV > $toV")
    if (fromV == toV) return Some(spark.emptyDataFrame)
    val ops = (fromV + 1).to(toV).map(v => commitInfo(spark, table, v).op)
    if (ops.exists(_ != "append")) None
    else Some(readFiles(spark, table,
      fileRows(spark, table, toV).filter(col("version") > fromV),
      tableSchema(spark, table, Some(toV))))
  }

  /** One incremental-consumption round ([[readChangesSince]]): the rows to
    * process, the version range they cover, and how they were derived —
    * `incremental` (append-only delta), `full` (first read, or non-append
    * lineage forced a reprocess), or `noop` (cursor already current).
    */
  final case class Changes(df: DataFrame, fromV: Long, toV: Long, mode: String)

  /** Checkpointed incremental consumption — the change-data-feed contract
    * that lets a downstream job keep up with a 100 TB table by reading
    * deltas: the cursor file records the last version this consumer
    * processed; each round reads exactly the files appended since
    * ([[diffAppended]] — a manifest query, nothing else scanned), falling
    * back to a FULL read when the range contains a non-append commit
    * (delete/merge/overwrite invalidate insert-only consumption — the same
    * precondition [[IncrementalAgg]] enforces). The consumer calls
    * [[commitCursor]] AFTER landing its own output; a crash in between
    * replays the round (at-least-once — pair with an idempotent sink such
    * as [[appendIdempotent]] for exactly-once).
    */
  def readChangesSince(spark: SparkSession, table: String, cursorPath: String): Changes = {
    val cur = requireVersion(table)
    val last: Option[Long] = store(cursorPath).readCursor(cursorPath)
    last match {
      case None => Changes(read(spark, table), -1L, cur, "full")
      case Some(v) if v >= cur =>
        Changes(read(spark, table, Some(cur)).limit(0), v, cur, "noop")
      case Some(v) =>
        diffAppended(spark, table, v, cur) match {
          case Some(d) => Changes(d, v, cur, "incremental")
          case None => Changes(read(spark, table), v, cur, "full")
        }
    }
  }

  /** One row-changelog consumption round ([[readRowChangesSince]]): the
    * change rows (table schema + `_change_type` + `_commit_version`), the
    * version range, and how they were derived — `changelog` (exact
    * insert/delete feed at churn cost), `full` (first read, or an
    * overwrite in the range forced a reset: the df is the CURRENT table
    * tagged as inserts, and the consumer should rebuild), or `noop`.
    */
  final case class ChangeFeed(df: DataFrame, fromV: Long, toV: Long, mode: String)

  /** Checkpointed CHANGELOG consumption — the row-level upgrade of
    * [[readChangesSince]]: where the insert-only contract must fall back
    * to a full re-read across ANY delete/merge, this feed stays
    * incremental ([[rowChanges]] — inserts and deletes at churn cost,
    * compactions free) and resets only across an OVERWRITE (whose churn
    * is the table). Same cursor discipline: [[commitCursor]] after the
    * consumer's output lands; at-least-once on crash (pair with an
    * idempotent sink for exactly-once).
    */
  def readRowChangesSince(
      spark: SparkSession, table: String, cursorPath: String): ChangeFeed = {
    val cur = requireVersion(table)
    def asInserts(df: DataFrame, v: Long): DataFrame =
      df.withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(v))
    val last: Option[Long] = store(cursorPath).readCursor(cursorPath)
    last match {
      case None => ChangeFeed(asInserts(read(spark, table), cur), -1L, cur, "full")
      case Some(v) if v >= cur =>
        ChangeFeed(asInserts(read(spark, table, Some(cur)), cur).limit(0), v, cur, "noop")
      case Some(v) =>
        val ops = ((v + 1) to cur).map(x => commitInfo(spark, table, x).op)
        if (ops.contains("overwrite"))
          ChangeFeed(asInserts(read(spark, table), cur), v, cur, "full")
        else ChangeFeed(rowChanges(spark, table, v, cur), v, cur, "changelog")
    }
  }

  /** Atomically advance a consumer's cursor to `toV` (call after the
    * round's output is durably landed).
    */
  def commitCursor(cursorPath: String, toV: Long): Unit =
    store(cursorPath).writeCursor(cursorPath, toV)

  /** Latest committed version whose commit timestamp is at or before `ts`
    * (ISO-UTC seconds, the manifest's recorded format — string compare IS
    * chronological). Timestamp-based time travel: bounded by retention
    * like any version read. Same-second commits resolve to the LATEST
    * version in that second. A crashed attempt's manifest above `_current`
    * never wins (history only lists committed versions).
    */
  def versionAsOf(spark: SparkSession, table: String, ts: String): Long = {
    val r = history(spark, table).filter(col("ts") <= lit(ts))
      .agg(max(col("version"))).head()
    require(!r.isNullAt(0), s"no retained commit at or before $ts in $table")
    r.getLong(0)
  }

  /** Read the table as of a wall-clock instant ([[versionAsOf]]). */
  def readAsOf(spark: SparkSession, table: String, ts: String): DataFrame =
    read(spark, table, Some(versionAsOf(spark, table, ts)))

  /** Commit history, newest first: one row per retained COMMITTED version
    * with its op, parent, timestamp, and manifest totals. A manifest above
    * `_current` (a crashed or lost-race attempt) is not history.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    val cur = requireVersion(table)
    val fs = new Path(s"$table/_log").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new Path(s"$table/_log"))
      .map(_.getPath.getName).filter(_.startsWith("v")).map(_.drop(1).toLong)
      .filter(_ <= cur).sorted
    val frames = versions.map { v =>
      manifest(spark, table, v).groupBy().agg(
        lit(v).as("version"),
        max(when(col("kind") === "commit", col("op"))).as("op"),
        max(when(col("kind") === "commit", col("parent"))).as("parent"),
        max(when(col("kind") === "commit", col("ts"))).as("ts"),
        sum(when(col("kind") === "file", 1L).otherwise(0L)).as("n_files"),
        // LIVE rows: physical minus deletion-vector-marked
        coalesce(sum(col("rows") - coalesce(col("dv_rows"), lit(0L))), lit(0L)).as("n_rows"),
        coalesce(sum(col("bytes")), lit(0L)).as("n_bytes"))
        .select("version", "op", "parent", "ts", "n_files", "n_rows", "n_bytes")
    }
    frames.reduce(_ unionByName _)
      .withColumn("is_current", col("version") === lit(cur))
      .orderBy(col("version").desc)
  }

  /** Snapshot-aware compaction, the one file rewriter: fold every file
    * smaller than `smallBytes` (default: every file) plus every file that
    * carries a deletion vector, vectors applied, into ~`targetRecordsPerFile`
    * -row files as a `replace` commit; every other file carries forward BY
    * REFERENCE. Row-preserving on LIVE rows, so the changelog emits
    * nothing, and old versions stay readable (time travel across a fold
    * works) until [[expire]] reclaims them. With a `smallBytes` threshold
    * this is the `OPTIMIZE` a 100 TB table can afford: cost ∝ the
    * small-file and vector debt (typically streaming-commit residue),
    * never the table. The lake-level [[Lake.compact]] rewrites in place;
    * THIS one preserves history.
    *
    * The fold is laid out by `clusterBySpec` (`"c1,c2"` or `"z:x,y:bits"`,
    * see [[clusterSpec]]), which the commit records so appends and later
    * folds keep it, or else by the table's recorded spec: one range
    * exchange + per-file sort, never a global single-task sort, so every
    * new file covers a contiguous key range and a key predicate turns into
    * a sharp manifest-side skip ([[scanPlan]]).
    *
    * ONE collect of the version's file rows plans the fold; its live row
    * count (rows − vector-marked rows) comes from the manifest. Returns
    * (version, filesFolded, filesCarried). A no-op (version unchanged, 0
    * folded) only when nothing would change: no file to fold, or a single
    * vector-free file of the table's own (not a shallow clone's reference
    * to its source) already within `targetRecordsPerFile` and no new spec
    * to record.
    */
  def compact(
      spark: SparkSession,
      table: String,
      smallBytes: Long = Long.MaxValue,
      targetRecordsPerFile: Long = 1000000L,
      clusterBySpec: String = null): (Long, Long, Long) = {
    val parent = requireVersion(table)
    val schema = tableSchema(spark, table, Some(parent))
    val recorded = clusterSpec(spark, table, Some(parent))
    val spec = Option(clusterBySpec).filter(_.nonEmpty)
    val files = fileRows(spark, table, parent)
    val foldable =
      coalesce(col("bytes") < lit(smallBytes) || coalesce(col("dv_rows"), lit(0L)) > 0L, lit(false))
    val (folded, carried) = files.select(col("path"), col("dv_path"),
      col("rows") - coalesce(col("dv_rows"), lit(0L)), foldable).collect()
      .partition(_.getBoolean(3))
    val fold = folded.map(r => (r.getString(0), r.getString(1)))
    val liveRows = folded.map(_.getLong(2)).sum
    // an absolute path is a shallow clone's reference to its source's file:
    // folding it is the clone's deep copy, so it is never left in place
    if (fold.isEmpty || (fold.length == 1 && fold.head._2 == null &&
        !fold.head._1.startsWith("/") &&
        liveRows <= targetRecordsPerFile && spec.forall(recorded.contains)))
      return (parent, 0L, carried.length.toLong + fold.length)
    val v = parent + 1
    val content = dropMeta(readPathsMeta(spark, table, fold.toSeq, schema)) // vectors applied
    val nFiles = math.max(1L, (liveRows + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
    val laidOut = spec.orElse(recorded) match {
      case Some(sp) => clusterLayout(content, sp, nFiles)
      case None => if (nFiles == 1) content.coalesce(1) else content.repartition(nFiles)
    }
    val entries =
      if (liveRows == 0L) files.limit(0).select(fileColNames.head, fileColNames.tail: _*)
      else writeFileGroup(spark, table, v, laidOut, defaultStatsCols(content),
        targetRecordsPerFile)
        .select(fileColNames.head, fileColNames.tail: _*)
    // a replace is row-preserving on the files it planned against, so it
    // commutes with ANY concurrent append (no conflict predicate): the
    // appended files carry forward and just wait for the next fold
    val vc = commitRebase(spark, table, parent, "replace",
      files.filter(!foldable).select(fileColNames.head, fileColNames.tail: _*), entries,
      conflicts = None, txn = None, schemaJson = schema.map(_.json), clusterBy = spec).get
    (vc, fold.length.toLong, carried.length.toLong)
  }

  /** Roll the table BACK to `version` as a NEW commit (op `restore`) — the
    * Delta `RESTORE TABLE` discipline, the operational answer to a bad
    * batch landing in production: the target version's file rows (with
    * their deletion-vector references) carry forward BY REFERENCE into a
    * fresh commit, so NOTHING rewrites, the recorded schema rolls back
    * with the data, and the bad commits stay time-travelable until
    * [[expire]] reclaims them. Referenced files — data AND deletion-vector
    * — are existence-checked as a Spark job INSIDE the commit lock (a
    * version past its retention window fails fast and loudly, before the
    * pointer moves; [[expire]] holds the same lock, so a concurrent sweep
    * cannot reclaim between the check and the commit). Non-append, so incremental
    * consumers fall back and the changelog reads the rollback as exactly
    * the rows that disappear/reappear vs the parent. Returns the new
    * version.
    */
  def restore(spark: SparkSession, table: String, version: Long): Long = {
    import spark.implicits._
    val parent = requireVersion(table)
    require(version <= parent,
      s"cannot restore $table to v$version: current is v$parent")
    if (version == parent) return parent
    val files = fileRows(spark, table, version)
      .select(fileColNames.head, fileColNames.tail: _*)
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // probe BOTH columns an old manifest references: data files and MOR
    // deletion vectors — a version whose dv dirs were reclaimed would
    // otherwise commit a manifest whose reads fail later (round-13
    // advisory). Runs INSIDE the commit lock below: expire holds the same
    // lock, so nothing can reclaim between this check and swapCurrent.
    def probeMissing(): Array[String] = {
      val refs = files.select(col("path"))
        .union(files.filter(col("dv_path").isNotNull).select(col("dv_path")))
        .distinct()
      refs.as[String]
        .mapPartitions { it =>
          var fs: org.apache.hadoop.fs.FileSystem = null
          it.filter { p =>
            val hp = new Path(absPath(table, p))
            if (fs == null) fs = hp.getFileSystem(conf.value)
            !fs.exists(hp)
          }
        }.take(3)
    }
    val v = parent + 1
    withCommitLock(spark, table) {
      val missing = probeMissing()
      require(missing.isEmpty,
        s"cannot restore $table to v$version: ${missing.length}+ referenced " +
          s"files were reclaimed by expire (e.g. ${missing.headOption.getOrElse("")})")
      writeManifest(spark, table, v, parent, "restore", files,
        schemaJson = tableSchema(spark, table, Some(version)).map(_.json),
        // the clustering discipline rolls back with the data (Some("")
        // clears a spec recorded after `version`)
        clusterBy = Some(clusterSpec(spark, table, Some(version)).getOrElse("")))
      swapCurrent(table, parent, v)
    }
    v
  }

  /** Zero-copy SHALLOW CLONE: initialize `dst` as a new snapshot table
    * whose v0 manifest references `src`'s current files IN PLACE (paths
    * absolutized; no data copied) — the Delta `CLONE TABLE` discipline
    * for dev/test branching and safe experiments against a production
    * corpus. The clone then evolves independently: appends/deletes/merges
    * write into ITS data dir (a delete marks a shared file with a vector
    * of the clone's own, a fold rewrites it as a private copy) and the
    * source stays untouched; [[expire]] on the clone
    * sweeps only the clone's own data root, so shared source files are
    * never reclaimed by the clone. CAVEAT (same as Delta/Iceberg):
    * expiring the SOURCE can reclaim files a clone still references —
    * the source is blind to clones; retire sources only after their
    * clones are compacted (`compact` rewrites every referenced row into
    * the clone's own files, deep-copying it on demand).
    */
  def shallowClone(spark: SparkSession, src: String, dst: String): Unit = {
    require(currentVersion(dst).isEmpty, s"snapshot table already exists: $dst")
    val srcAbs =
      if (src.contains("://")) src else JPaths.get(src).toAbsolutePath.toString
    val v = requireVersion(srcAbs)
    store(dst).prepareTable(dst)
    val files = fileRows(spark, srcAbs, v)
      .withColumn("path",
        when(col("path").startsWith("/"), col("path"))
          .otherwise(concat(lit(srcAbs + "/"), col("path"))))
      .withColumn("dv_path",
        when(col("dv_path").isNull || col("dv_path").startsWith("/"), col("dv_path"))
          .otherwise(concat(lit(srcAbs + "/"), col("dv_path"))))
      .withColumn("version", lit(0L))
      .select(fileColNames.head, fileColNames.tail: _*)
    withCommitLock(spark, dst) {
      writeManifest(spark, dst, 0L, -1L, "clone", files,
        schemaJson = tableSchema(spark, srcAbs, Some(v)).map(_.json))
      swapCurrent(dst, -1L, 0L)
    }
  }

  /** Exact row count from the manifest ALONE — zero data files opened:
    * physical rows minus deletion-vector-marked rows, both recorded per
    * file at commit time. The O(manifest) answer to `count(*)` that a
    * bare parquet directory pays a full scan for.
    */
  def fastCount(spark: SparkSession, table: String, version: Option[Long] = None): Long = {
    val v = version.getOrElse(requireVersion(table))
    val r = fileRows(spark, table, v)
      .agg(coalesce(sum(col("rows") - coalesce(col("dv_rows"), lit(0L))), lit(0L)))
      .head()
    r.getLong(0)
  }

  /** Manifest-side min/max of a numeric column — zero data files opened.
    * Returns `(min, max, exact)`; None when some file lacks recorded
    * stats for the column (all-null file, or the column wasn't in
    * `statsCols`). `exact=false` when any counted file carries a deletion
    * vector (a deleted row may have held the extremum, so the value is a
    * conservative BOUND — still sound for pruning, not for reporting).
    * Values are the Double-cast stats: long/decimal extremes beyond 2^53
    * are reported at double precision (±1 ulp) — the PRUNING paths
    * compensate with the widened compare; this reporting face does not.
    */
  def fastMinMax(
      spark: SparkSession, table: String, column: String,
      version: Option[Long] = None): Option[(Double, Double, Boolean)] = {
    val v = version.getOrElse(requireVersion(table))
    val files = fileRows(spark, table, v)
    val r = files.agg(
      min(element_at(col("stats_min"), column)),
      max(element_at(col("stats_max"), column)),
      sum(when(element_at(col("stats_min"), column).isNull, 1L).otherwise(0L)),
      sum(when(coalesce(col("dv_rows"), lit(0L)) > 0L, 1L).otherwise(0L)),
      count(lit(1))).head()
    if (r.getLong(4) == 0L || r.isNullAt(0) || r.getLong(2) > 0L) None
    else Some((r.getDouble(0), r.getDouble(1), r.getLong(3) == 0L))
  }

  /** One-call table maintenance: fold small-file debt (absorbing deletion
    * vectors) then reclaim history past `keepLast` — the routine a
    * scheduler runs nightly against every table a streaming sink feeds.
    * Returns (filesFolded, manifestsDropped, dataFilesDeleted).
    */
  def maintain(
      spark: SparkSession,
      table: String,
      smallBytes: Long = 32L * 1024 * 1024,
      targetRecordsPerFile: Long = 1000000L,
      keepLast: Int = 7,
      orphanGraceMs: Long = 3600000L): (Long, Long, Long) = {
    val (_, folded, _) = compact(spark, table, smallBytes, targetRecordsPerFile)
    val (manifests, files) = expire(spark, table, keepLast, orphanGraceMs)
    (folded, manifests, files)
  }

  /** Retention: keep the last `keepLast` versions (always including the
    * current one), drop older manifests, and delete every data file no
    * retained manifest references — including garbage from crashed or lost
    * commits. Deletion is of UNREFERENCED files only, so a reader pinned to
    * any retained version is unaffected; this is the Iceberg
    * `expire_snapshots` contract. Returns (manifests dropped, data files
    * deleted).
    *
    * `orphanGraceMs` protects CONCURRENT writers: a file referenced by NO
    * manifest at scan time is either crash garbage or another writer's
    * in-flight staged group — indistinguishable by reference alone — so
    * orphans younger than the grace window survive (files referenced by a
    * DROPPED manifest were committed-then-superseded and reclaim
    * immediately regardless of age). Single-writer deployments can leave
    * it 0; multi-writer ones should set it well above their longest
    * staging time. Runs under the commit lock so a commit cannot publish
    * a manifest referencing files mid-sweep.
    */
  def expire(
      spark: SparkSession, table: String, keepLast: Int,
      orphanGraceMs: Long = 0L,
      /** Report what WOULD reclaim without deleting anything — the
        * operator's pre-flight for a retention change (a too-small
        * keepLast silently strips time travel and replay windows).
        */
      dryRun: Boolean = false): (Long, Long) = withCommitLock(spark, table) {
    require(keepLast >= 1, "keepLast must be >= 1")
    val cur = requireVersion(table)
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new Path(s"$table/_log"))
      .map(_.getPath.getName).filter(_.startsWith("v")).map(_.drop(1).toLong).sorted
    val retained = versions.filter(v => v > cur - keepLast && v <= cur)
    // live set: ONE batched read over every retained manifest dir (not a
    // job per version — a deep history is the streaming-sink norm),
    // collected paths-only (the expire driver cost is O(live files), same
    // as planning). The same rows yield the live deletion-vector DIRS:
    // every file under a live dv dir is live (the reference is to the
    // dataset dir).
    def manifestPaths(vs: Seq[Long]): Array[org.apache.spark.sql.Row] =
      if (vs.isEmpty) Array.empty
      else spark.read.schema(manifestSchema)
        .json(vs.map(v => vdir(table, v)).toIndexedSeq: _*)
        .filter(col("kind") === "file")
        .select("path", "dv_path").distinct().collect()
    val retainedRows = manifestPaths(retained.toIndexedSeq)
    val live = retainedRows.map(_.getString(0)).toSet
    val liveDvDirs = retainedRows.flatMap(r => Option(r.getString(1))).toSet
    // paths the DROPPED manifests referenced: committed-then-superseded,
    // reclaimable immediately regardless of the orphan grace window —
    // again one batched read across all dropped versions
    val droppedRefs =
      if (orphanGraceMs <= 0L) Set.empty[String]
      else manifestPaths(versions.filterNot(retained.contains).toIndexedSeq)
        .map(_.getString(0)).toSet
    var droppedManifests = 0L
    versions.filterNot(retained.contains).foreach { v =>
      if (!dryRun) fs.delete(new Path(vdir(table, v)), true): Unit
      droppedManifests += 1
    }
    val now = System.currentTimeMillis()
    var deletedFiles = 0L
    // dirs this sweep deleted files from: an empty one was emptied by the
    // sweep itself, not freshly created by another writer
    val sweptDirs = scala.collection.mutable.Set.empty[String]
    val dataRoot = new Path(s"$table/data")
    def isMeta(name: String) = name.startsWith("_") || name.startsWith(".")
    if (fs.exists(dataRoot)) {
      // Manual recursion instead of fs.listFiles(recursive): the orphan
      // scan legitimately RACES concurrent writers (that is maintain's
      // contract), and a writer's job commit deletes its _temporary tree
      // mid-scan — the recursive iterator then dies in the local FS's
      // permission probe on the vanished dir (observed as a bench-run
      // RuntimeException from `ls`). A GC scan's correct reaction to a
      // vanished directory is "nothing left here to reclaim", so each
      // level's listing tolerates it and moves on.
      def listOrEmpty(p: Path): Array[org.apache.hadoop.fs.FileStatus] =
        try fs.listStatus(p) catch {
          case _: java.io.FileNotFoundException =>
            Array.empty
          case e: RuntimeException
              if e.getCause.isInstanceOf[java.io.FileNotFoundException] ||
                e.getCause.isInstanceOf[org.apache.hadoop.util.Shell.ExitCodeException] =>
            Array.empty // RawLocalFS wraps the vanished-path `ls` this way
        }
      def sweep(p: Path): Unit = listOrEmpty(p).foreach { st =>
        if (st.isDirectory) sweep(st.getPath)
        else if (st.isFile && !isMeta(st.getPath.getName)) {
          val rel = st.getPath.toUri.getPath.stripPrefix(
            new Path(table).toUri.getPath).stripPrefix("/")
          val parentRel = rel.take(rel.lastIndexOf('/').max(0))
          // a pure orphan (referenced by NO manifest) younger than the
          // grace window may be another writer's in-flight staged group
          val youngOrphan = orphanGraceMs > 0L &&
            !droppedRefs.contains(rel) &&
            now - st.getModificationTime < orphanGraceMs
          if (!live.contains(rel) && !liveDvDirs.contains(parentRel) && !youngOrphan) {
            if (!dryRun) fs.delete(st.getPath, false): Unit
            sweptDirs += st.getPath.getParent.toUri.getPath
            deletedFiles += 1
          }
        }
      }
      sweep(dataRoot)
      // drop commit dirs left with no data files (only _SUCCESS-style
      // markers). A SUBDIRECTORY is another writer's in-flight _temporary
      // staging, not debris — deleting the commit dir under it would
      // destroy that writer's task output (the appendIdempotent-vs-maintain
      // race this entry exists to exercise), so only all-file meta dirs
      // qualify, and only outside the same grace window that protects
      // staged orphan FILES. An EMPTY dir has no child to date it, so its
      // own mtime does — a writer may have just created it and not yet
      // staged a file — unless this sweep emptied it.
      if (!dryRun) listOrEmpty(dataRoot).foreach { d =>
        if (d.isDirectory) {
          val children = listOrEmpty(d.getPath)
          val allMetaFiles = children.forall(s => s.isFile && isMeta(s.getPath.getName))
          def young(s: org.apache.hadoop.fs.FileStatus) = now - s.getModificationTime < orphanGraceMs
          val graced = orphanGraceMs > 0L && (children.exists(young) ||
            children.isEmpty && young(d) && !sweptDirs.contains(d.getPath.toUri.getPath))
          if (allMetaFiles && !graced) fs.delete(d.getPath, true): Unit
        }
      }
    }
    (droppedManifests, deletedFiles)
  }
}
