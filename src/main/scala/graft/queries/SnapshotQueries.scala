package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables._
import graft.operators.{IncrementalAgg, Snapshots}

/** Battery entries for the manifest-log snapshot layer
  * ([[graft.operators.Snapshots]]) and the diff-driven materialized
  * aggregates ([[graft.operators.IncrementalAgg]]): every entry drives the
  * REAL commit protocol on scratch disk (create → append/delete/compact →
  * read) and reduces to integers a DuckDB oracle recomputes directly from
  * `documents` — time travel, CDC diffs, merge-on-read deletes, and
  * manifest-stat file pruning all land in the driver's hash gate.
  */
object SnapshotQueries {

  private def fresh(d: String, name: String): String = QueryScratch.fresh(d, name)

  /** Post-execution file count of the manifest-backed snapshot scans in
    * `df`'s executed plan (descending AQE stage boundaries) — the
    * structural proof that the OPTIMIZER's pushed filters pruned
    * manifest-side.
    */
  private def snapshotScanFiles(df: org.apache.spark.sql.DataFrame): Long = {
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .filter(_.relation.location
        .isInstanceOf[org.apache.spark.sql.graft.SnapshotRelation.SnapshotFileIndex])
      .map(_.metrics("numFiles").value).sum
  }

  val all: Map[String, Q] = Map(

    // Time travel + delete. v1 = even docs, v2 = +odd docs,
    // v3 = deleteWhereMor(n_chars < 150). Pins the row count at v1 and v2
    // (v2 read AFTER the delete — immutable files and per-version vector
    // references mean time travel still sees the deleted rows) and the
    // post-delete aggregate. The delete's file structure is pinned by
    // SnapshotSpec; here the oracle pins the version semantics.
    "k_snapshot_time_travel" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_tbl")
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        Snapshots.append(s, t, docs.filter(col("doc_id") % 2 === 0))
        Snapshots.append(s, t, docs.filter(col("doc_id") % 2 === 1))
        Snapshots.deleteWhereMor(s, t, col("n_chars") < 150): Unit
        val nV1 = Snapshots.read(s, t, Some(1L)).count()
        val nV2 = Snapshots.read(s, t, Some(2L)).count()
        val cur = Snapshots.read(s, t)
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars")).head()
        import s.implicits._
        Seq((nV1, nV2, cur.getLong(0), cur.getLong(1)))
          .toDF("n_v1", "n_v2", "n_after_delete", "sum_chars_after_delete")
      },
      Some("""SELECT CAST(count(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS BIGINT) AS n_v1,
             |       CAST(count(*) AS BIGINT) AS n_v2,
             |       CAST(count(CASE WHEN n_chars >= 150 THEN 1 END) AS BIGINT) AS n_after_delete,
             |       CAST(sum(CASE WHEN n_chars >= 150 THEN n_chars END) AS BIGINT) AS sum_chars_after_delete
             |FROM documents""".stripMargin),
      Seq("K1", "K5", "S4")
    ),

    // Incremental (CDC) read: the diff between two snapshot versions is
    // read from EXACTLY the files the second commit added (a manifest
    // query), grouped per-lang - the incremental-consumer contract that
    // lets a downstream job keep up with a 100 TB table by reading deltas.
    "k_snapshot_incremental" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_cdc")
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        Snapshots.append(s, t, docs.filter(col("doc_id") % 2 === 0))
        Snapshots.append(s, t, docs.filter(col("doc_id") % 2 === 1))
        Snapshots.diffAppended(s, t, 1L, 2L).get
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      },
      Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents WHERE doc_id % 2 = 1 GROUP BY lang""".stripMargin),
      Seq("S1", "K1")
    ),

    // Manifest-side file pruning: 8 appends of contiguous doc_id stripes =
    // 8 file groups whose manifest min/max boxes tile the id space; a range
    // predicate must plan to exactly the intersecting stripes WITHOUT
    // opening a parquet footer. The oracle replays the skip decision from
    // the stripes' true min/max (file stats ARE the data min/max), plus the
    // exact filtered aggregate - so both the plan and the answer hash-pin.
    "k_snapshot_prune" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_prune")
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("n_chars"))
        val n = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
        val w = (n + 7) / 8
        (0L until 8L).foreach { i =>
          Snapshots.append(s, t,
            docs.filter(col("doc_id") >= i * w && col("doc_id") < (i + 1) * w).coalesce(1))
        }
        val lo = 2 * w + w / 2
        val hi = 5 * w + w / 3
        val plan = Snapshots.scanPlan(s, t, col("doc_id") >= lo && col("doc_id") <= hi)
        plan.df.agg(
          count(lit(1)).as("n_rows"),
          sum(col("n_chars")).as("sum_chars"),
          lit(plan.filesTotal).as("files_total"),
          lit(plan.filesScanned).as("files_scanned"))
      },
      Some("""WITH p AS (
             |  SELECT CAST(ceil((max(doc_id)+1) / 8.0) AS BIGINT) AS w FROM documents
             |), b AS (
             |  SELECT 2*w + w//2 AS lo, 5*w + w//3 AS hi, w FROM p
             |), s AS (
             |  SELECT doc_id // (SELECT w FROM p) AS fid, min(doc_id) AS mn, max(doc_id) AS mx
             |  FROM documents GROUP BY fid
             |)
             |SELECT (SELECT count(*) FROM documents, b WHERE doc_id BETWEEN lo AND hi) AS n_rows,
             |       (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents, b
             |        WHERE doc_id BETWEEN lo AND hi) AS sum_chars,
             |       (SELECT CAST(count(*) AS BIGINT) FROM s) AS files_total,
             |       (SELECT CAST(count(*) AS BIGINT) FROM s, b
             |        WHERE mx >= lo AND mn <= hi) AS files_scanned""".stripMargin),
      Seq("F6", "K1")
    ),

    // Snapshot-aware compaction + retention: many small append groups fold
    // to one file as a REPLACE commit (history preserved until expire);
    // expire(keepLast=1) then reclaims every pre-compaction file and
    // manifest while the current version answers identically. files_after
    // and data_files_on_disk are structural pins; rows/sum prove identity.
    "k_snapshot_compact_expire" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_gc")
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        (0 until 4).foreach { i =>
          Snapshots.append(s, t, docs.filter(col("doc_id") % 4 === i).coalesce(1))
        }
        Snapshots.compact(s, t, targetRecordsPerFile = 10000000L): Unit
        val (droppedManifests, _) = Snapshots.expire(s, t, keepLast = 1)
        val filesAfter = graft.operators.Lake.dataFileCount(s, s"$t/data")
        Snapshots.read(s, t).agg(
          count(lit(1)).as("n_rows"),
          sum(col("n_chars")).as("sum_chars"),
          lit(filesAfter).as("data_files_on_disk"),
          lit(droppedManifests).as("manifests_dropped"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |       CAST(1 AS BIGINT) AS data_files_on_disk,
             |       CAST(5 AS BIGINT) AS manifests_dropped
             |FROM documents""".stripMargin),
      Seq("K1", "K5")
    ),

    // String-column file skipping: one append per lang = one file whose
    // manifest string bounds pin that lang exactly; an equality predicate
    // must plan to ONE file of count(DISTINCT lang) without opening a
    // parquet footer - the partition-by-language layout's skip path with
    // no hive partitioning, driven purely by truncated string min/max in
    // the manifest. The oracle replays both the answer and the skip
    // arithmetic.
    "k_snapshot_prune_string" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_strprune")
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        import s.implicits._
        val langs = docs.select(col("lang")).distinct()
          .orderBy(col("lang")).as[String].collect()
        langs.foreach { l =>
          Snapshots.append(s, t, docs.filter(col("lang") === l).coalesce(1))
        }
        val plan = Snapshots.scanPlan(s, t, col("lang") === langs.head)
        plan.df.agg(
          count(lit(1)).as("n_rows"),
          sum(col("n_chars")).as("sum_chars"),
          lit(plan.filesTotal).as("files_total"),
          lit(plan.filesScanned).as("files_scanned"))
      },
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |       (SELECT CAST(count(DISTINCT lang) AS BIGINT) FROM documents) AS files_total,
             |       CAST(1 AS BIGINT) AS files_scanned
             |FROM documents WHERE lang = (SELECT min(lang) FROM documents)""".stripMargin),
      Seq("F6", "F8", "K1")
    ),

    // Checkpointed change-data-feed consumption: a consumer processes the
    // table in three rounds (initial full read, one incremental delta,
    // one noop), committing its cursor between rounds; the accumulated
    // per-lang rollup must equal the whole table's - and the three modes
    // are pinned, so a silently-full second round (reading the corpus
    // instead of the delta) fails the hash even though the sums would
    // match.
    "k_snapshot_cursor" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_cursor")
        val cur = fresh(d, "snap_cursor_ckpt") + "/c1"
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        Snapshots.append(s, t, docs.filter(col("doc_id") % 3 === 0))
        val r1 = Snapshots.readChangesSince(s, t, cur)
        val acc1 = r1.df.groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        Snapshots.commitCursor(cur, r1.toV)
        Snapshots.append(s, t, docs.filter(col("doc_id") % 3 =!= 0))
        val r2 = Snapshots.readChangesSince(s, t, cur)
        val acc2 = r2.df.groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        Snapshots.commitCursor(cur, r2.toV)
        val r3 = Snapshots.readChangesSince(s, t, cur)
        acc1.unionByName(acc2).groupBy(col("lang"))
          .agg(sum(col("n")).as("n"), sum(col("sum_chars")).as("sum_chars"))
          .withColumn("modes", lit(s"${r1.mode},${r2.mode},${r3.mode}"))
      },
      Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |       'full,incremental,noop' AS modes
             |FROM documents GROUP BY lang""".stripMargin),
      Seq("S1", "J1", "K1")
    ),

    // Schema evolution under the manifest-recorded schema: batch 2 adds a
    // `lang` column - batch-1 files (written before the column existed)
    // must read it as null, the column count pins the evolved shape, and a
    // far-future timestamp read resolves to the current version. Reads use
    // the schema RECORDED in the manifest (no parquet footer inference), so
    // the null-fill is the explicit-schema read path working, not a
    // mergeSchema footer scan.
    "k_snapshot_schema_evolution" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_evolve")
        Snapshots.create(s, t)
        val docs = documents(s, d)
        Snapshots.append(s, t,
          docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("n_chars")))
        Snapshots.append(s, t,
          docs.filter(col("doc_id") % 2 === 1)
            .select(col("doc_id"), col("n_chars"), col("lang")))
        val cur = Snapshots.read(s, t)
        val asOf = Snapshots.readAsOf(s, t, "9999-12-31T00:00:00Z").count()
        cur.agg(
          count(lit(1)).as("n_total"),
          count(when(col("lang").isNull, 1)).as("n_lang_null"),
          sum(col("n_chars")).as("sum_chars"),
          lit(cur.columns.length.toLong).as("n_cols"),
          lit(asOf).as("n_asof"))
      },
      Some("""SELECT count(*) AS n_total,
             |       count(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS n_lang_null,
             |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |       CAST(3 AS BIGINT) AS n_cols,
             |       count(*) AS n_asof
             |FROM documents""".stripMargin),
      Seq("K1", "C16")
    ),

    // Keyed MERGE (upsert, merge-on-read): target = even docs in 4 range
    // stripes (4 files); source = updates for the stripe-0 multiples of 10
    // (+1,000,000 n_chars) plus inserts (doc_id % 10 = 5, all odd = no
    // match). Only stripe 0 holds a matched key, so exactly 1 file gains a
    // deletion vector, 3 carry untouched and no pre-merge file leaves the
    // manifest - the structural pins - and the oracle replays the upsert
    // arithmetic for the content pins.
    "k_snapshot_merge" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_merge")
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        val even = docs.filter(col("doc_id") % 2 === 0)
        val n = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
        val w = (n + 3) / 4
        (0L until 4L).foreach { i =>
          Snapshots.append(s, t,
            even.filter(col("doc_id") >= i * w && col("doc_id") < (i + 1) * w).coalesce(1))
        }
        val source = docs.filter(col("doc_id") % 10 === 0 && col("doc_id") < w)
          .withColumn("n_chars", col("n_chars") + 1000000L)
          .unionByName(docs.filter(col("doc_id") % 10 === 5))
        val before = Snapshots.dataFiles(s, t, Snapshots.currentVersion(t).get)
        val m = Snapshots.merge(s, t, source, Seq("doc_id"))
        val rewritten = (before -- Snapshots.dataFiles(s, t, m.version)).size.toLong
        Snapshots.read(s, t).agg(
          count(lit(1)).as("n_rows"),
          sum(col("n_chars")).as("sum_chars"),
          lit(m.filesWithDv).as("files_with_dv"),
          lit(rewritten).as("files_rewritten"),
          lit(m.filesUntouched).as("files_untouched"),
          lit(m.rowsUpdated).as("rows_updated"),
          lit(m.rowsInserted).as("rows_inserted"))
      },
      Some("""WITH p AS (
             |  SELECT CAST(ceil((max(doc_id)+1) / 4.0) AS BIGINT) AS w FROM documents
             |)
             |SELECT (SELECT count(*) FROM documents WHERE doc_id % 2 = 0)
             |     + (SELECT count(*) FROM documents WHERE doc_id % 10 = 5) AS n_rows,
             |       CAST((SELECT sum(n_chars) FROM documents WHERE doc_id % 2 = 0)
             |     + 1000000 * (SELECT count(*) FROM documents, p WHERE doc_id % 10 = 0 AND doc_id < w)
             |     + (SELECT sum(n_chars) FROM documents WHERE doc_id % 10 = 5) AS BIGINT) AS sum_chars,
             |       CAST(1 AS BIGINT) AS files_with_dv,
             |       CAST(0 AS BIGINT) AS files_rewritten,
             |       CAST(3 AS BIGINT) AS files_untouched,
             |       (SELECT count(*) FROM documents, p
             |        WHERE doc_id % 10 = 0 AND doc_id < w) AS rows_updated,
             |       (SELECT count(*) FROM documents WHERE doc_id % 10 = 5) AS rows_inserted""".stripMargin),
      Seq("K2", "J3", "K1")
    ),

    // Streaming -> snapshot sink with exactly-once microbatch commits: a
    // JSON drop dir streams (AvailableNow) into a manifest-log table via
    // the txn-tagged appendIdempotent; the stream runs TWICE on the same
    // checkpoint and a batch is replayed by hand - both must land nothing
    // (replay detected from the commit log), so the per-lang aggregate
    // equals the drop exactly. This is the Delta txnAppId/txnVersion
    // idempotent-writer discipline on the engine's own table format.
    "s12_snapshot_stream" -> Q(
      (s, d) => graft.streaming.StreamingPipeline.withStatePartitions(s) {
        val inDir = fresh(d, "snapstream_in")
        val ckpt = fresh(d, "snapstream_ckpt")
        val table = fresh(d, "snapstream_tbl")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
        val sample = documents(s, d).filter(col("doc_id") % 25 === 3)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        sample.coalesce(1).write.mode("overwrite").json(inDir)
        val src = s.readStream.schema(sample.schema).json(inDir)
        def run(): Unit = {
          val q = graft.streaming.StreamingPipeline
            .snapshotWriter(src, table, ckpt, appId = "s12").start()
          q.awaitTermination()
        }
        run(); run() // restart on the same checkpoint: nothing re-lands
        // hand-replay of batch 0 under the same appId: detected, skipped
        graft.operators.Snapshots.appendIdempotent(
          s, table, sample.limit(3), "s12", 0L): Unit
        graft.operators.Snapshots.read(s, table)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      },
      Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents WHERE doc_id % 25 = 3 GROUP BY lang""".stripMargin),
      Seq("S6", "K1", "K2")
    ),

    // Merge-on-read delete (position deletion vectors): two scattered
    // deletes that copy-on-write would answer by rewriting every file must
    // rewrite ZERO data files (files_delta pins it structurally, with the
    // dv datasets excluded from the count) - matching rows are marked in
    // position-delete datasets that every read applies by anti-join, the
    // second delete merges per-file vectors on a DV-applied read (so
    // already-deleted rows can't re-match - deleted_2 pins that), and time
    // travel to the pre-delete version still sees every row.
    "k_snapshot_mor_delete" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_mor")
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        (0 until 4).foreach { i =>
          Snapshots.append(s, t, docs.filter(col("doc_id") % 4 === i).coalesce(1))
        }
        def dataFiles(): Long = {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(java.nio.file.Paths.get(s"$t/data"))
            .iterator().asScala.count { p =>
              val n = p.getFileName.toString
              java.nio.file.Files.isRegularFile(p) &&
                !n.startsWith("_") && !n.startsWith(".") &&
                !p.getParent.getFileName.toString.endsWith(".dv")
            }
        }
        val before = dataFiles()
        val st1 = Snapshots.deleteWhereMor(s, t, col("doc_id") % 7 === 3)
        val st2 = Snapshots.deleteWhereMor(s, t, col("n_chars") < 120)
        val delta = dataFiles() - before
        val nV4 = Snapshots.read(s, t, Some(4L)).count()
        val cur = Snapshots.read(s, t)
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars")).head()
        import s.implicits._
        Seq((nV4, st1.rowsDeleted, st2.rowsDeleted,
          cur.getLong(0), cur.getLong(1), delta))
          .toDF("n_v4", "deleted_1", "deleted_2", "n_rows", "sum_chars", "files_delta")
      },
      Some("""SELECT (SELECT count(*) FROM documents) AS n_v4,
             |       (SELECT count(*) FROM documents WHERE doc_id % 7 = 3) AS deleted_1,
             |       (SELECT count(*) FROM documents
             |        WHERE n_chars < 120 AND doc_id % 7 <> 3) AS deleted_2,
             |       (SELECT count(*) FROM documents
             |        WHERE doc_id % 7 <> 3 AND n_chars >= 120) AS n_rows,
             |       (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents
             |        WHERE doc_id % 7 <> 3 AND n_chars >= 120) AS sum_chars,
             |       CAST(0 AS BIGINT) AS files_delta""".stripMargin),
      Seq("K3", "K1", "F6")
    ),

    // Row-level changelog (change data feed): appends read back as inserts
    // from exactly the added files, a merge-on-read delete reads back as
    // its deletion-vector DELTA joined to the rows it names, and a
    // compaction emits NOTHING (row-preserving layout change) - so the
    // per-change-type rollup over the whole commit range equals the
    // oracle's direct insert/delete arithmetic. This is what keeps
    // downstream consumers incremental ACROSS deletes, where the
    // insert-only diff must signal fallback.
    "k_snapshot_changelog" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_cdf")
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        Snapshots.append(s, t, docs.filter(col("doc_id") % 2 === 0))
        Snapshots.append(s, t, docs.filter(col("doc_id") % 2 === 1))
        Snapshots.deleteWhereMor(s, t, col("n_chars") < 150)
        Snapshots.compact(s, t): Unit
        Snapshots.rowChanges(s, t, 0L, 4L)
          .groupBy(col("_change_type").as("change_type"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      },
      Some("""SELECT 'insert' AS change_type, count(*) AS n,
             |       CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM documents
             |UNION ALL
             |SELECT 'delete', count(*), CAST(sum(n_chars) AS BIGINT)
             |FROM documents WHERE n_chars < 150""".stripMargin),
      Seq("S1", "K3", "K1")
    ),

    // Changelog-maintained materialized aggregate: a refresh range holding
    // a merge-on-read delete AND an append maintains the rollup from
    // SIGNED partials over the row changelog (inserts +, deletes -; cost
    // ∝ churn) instead of rescanning - the modes pin that the second
    // refresh really took the changelog path, and the result must equal
    // the from-scratch group-by the oracle computes.
    "k_incremental_agg_changelog" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_cdfagg_tbl")
        val a = fresh(d, "snap_cdfagg_mat")
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        Snapshots.append(s, t, docs.filter(col("doc_id") % 2 === 0))
        val r1 = IncrementalAgg.refresh(s, t, a, Seq("source"), Seq("n_chars"))
        Snapshots.deleteWhereMor(s, t, col("n_chars") < 150)
        Snapshots.append(s, t, docs.filter(col("doc_id") % 2 === 1))
        val r2 = IncrementalAgg.refresh(s, t, a, Seq("source"), Seq("n_chars"))
        IncrementalAgg.read(s, a)
          .select(col("source"), col("n"), col("sum_n_chars"),
            lit(r1.mode).as("first_mode"), lit(r2.mode).as("second_mode"))
      },
      Some("""SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
             |       'full' AS first_mode, 'changelog' AS second_mode
             |FROM documents WHERE NOT (doc_id % 2 = 0 AND n_chars < 150)
             |GROUP BY source""".stripMargin),
      Seq("A1", "A2", "K3")
    ),

    // Streaming CDC upsert -> snapshot table with exactly-once microbatch
    // MERGE commits: the table is seeded with the even docs, a JSON drop
    // dir streams updates (+1,000,000 n_chars for doc_id % 4 = 0 - keyed
    // UPDATES, not appends) plus the odd docs (inserts); the stream runs
    // TWICE on one checkpoint and a batch is hand-replayed - the txn
    // markers must land the merge exactly once, so the per-lang aggregate
    // equals the oracle's upsert arithmetic precisely.
    "s13_snapshot_upsert_stream" -> Q(
      (s, d) => graft.streaming.StreamingPipeline.withStatePartitions(s) {
        val inDir = fresh(d, "upstream_in")
        val ckpt = fresh(d, "upstream_ckpt")
        val table = fresh(d, "upstream_tbl")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
        val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        Snapshots.create(s, table)
        Snapshots.append(s, table, docs.filter(col("doc_id") % 2 === 0))
        val updates = docs.filter(col("doc_id") % 4 === 0)
          .withColumn("n_chars", col("n_chars") + 1000000L)
          .unionByName(docs.filter(col("doc_id") % 2 === 1))
        updates.coalesce(1).write.mode("overwrite").json(inDir)
        val src = s.readStream.schema(updates.schema).json(inDir)
        def run(): Unit = {
          val q = graft.streaming.StreamingPipeline.snapshotUpsertWriter(
            src, table, ckpt, appId = "s13", keyCols = Seq("doc_id")).start()
          q.awaitTermination()
        }
        run(); run() // restart on the same checkpoint: nothing re-merges
        // hand-replay of batch 0 under the same appId: detected, skipped
        Snapshots.mergeIdempotent(
          s, table, updates.limit(3), Seq("doc_id"), "s13", 0L): Unit
        Snapshots.read(s, table)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      },
      Some("""SELECT lang, count(*) AS n,
             |       CAST(sum(n_chars)
             |            + 1000000 * count(CASE WHEN doc_id % 4 = 0 THEN 1 END)
             |         AS BIGINT) AS sum_chars
             |FROM documents GROUP BY lang""".stripMargin),
      Seq("S6", "K2", "J3")
    ),

    // Manifest-only aggregates: count(*) and min/max answered from the
    // manifest ALONE (zero data files opened) - and the count stays EXACT
    // through a merge-on-read delete (physical rows minus vector-marked),
    // which the oracle replays as the filtered count. The O(manifest)
    // answer a bare parquet directory pays a full scan for.
    "k_snapshot_fast_agg" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_fast")
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        (0 until 4).foreach { i =>
          Snapshots.append(s, t, docs.filter(col("doc_id") % 4 === i).coalesce(1))
        }
        val nBefore = Snapshots.fastCount(s, t)
        val mm = Snapshots.fastMinMax(s, t, "doc_id").get
        Snapshots.deleteWhereMor(s, t, col("n_chars") < 150)
        val nAfter = Snapshots.fastCount(s, t)
        import s.implicits._
        Seq((nBefore, mm._1, mm._2, if (mm._3) 1L else 0L, nAfter))
          .toDF("n_before", "min_id", "max_id", "exact_before", "n_after")
      },
      Some("""SELECT count(*) AS n_before,
             |       CAST(min(doc_id) AS DOUBLE) AS min_id,
             |       CAST(max(doc_id) AS DOUBLE) AS max_id,
             |       CAST(1 AS BIGINT) AS exact_before,
             |       count(CASE WHEN n_chars >= 150 THEN 1 END) AS n_after
             |FROM documents""".stripMargin),
      Seq("A2", "K1", "F6")
    ),

    // Incremental small-file compaction: four streaming-residue small
    // files (one vector-bearing) fold into ONE right-sized file while the
    // healthy big file carries BY REFERENCE - the OPTIMIZE a 100 TB table
    // can afford, cost ∝ small-file debt, never the table. The fold
    // absorbs the deletion vector, so rows equal the oracle's
    // delete-filtered arithmetic, and the structural pins (folded /
    // carried / files after) prove only the debt was rewritten.
    "k_snapshot_small_compact" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_smallc")
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        Snapshots.append(s, t, docs.filter(col("doc_id") % 20 >= 4).coalesce(1))
        (0 until 4).foreach { i =>
          Snapshots.append(s, t, docs.filter(col("doc_id") % 20 === i).coalesce(1))
        }
        val bigBytes = Snapshots.history(s, t)
          .filter(col("version") === 1L).head().getAs[Long]("n_bytes")
        Snapshots.deleteWhereMor(s, t, col("doc_id") % 20 === 2)
        val (v, folded, carried) =
          Snapshots.compact(s, t, smallBytes = bigBytes / 2,
            targetRecordsPerFile = 10000000L)
        val filesAfter = Snapshots.history(s, t)
          .filter(col("version") === v).head().getAs[Long]("n_files")
        Snapshots.read(s, t).agg(
          count(lit(1)).as("n_rows"),
          sum(col("n_chars")).as("sum_chars"),
          lit(folded).as("files_folded"),
          lit(carried).as("files_carried"),
          lit(filesAfter).as("files_after"))
      },
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |       CAST(4 AS BIGINT) AS files_folded,
             |       CAST(1 AS BIGINT) AS files_carried,
             |       CAST(2 AS BIGINT) AS files_after
             |FROM documents WHERE doc_id % 20 <> 2""".stripMargin),
      Seq("K5", "K3", "K1")
    ),

    // Planner-integrated snapshot scan: the same 8-stripe layout as
    // k_snapshot_prune, but the range predicate reaches the manifest
    // through CATALYST - table() is a DataFrame over a manifest-backed
    // FileIndex, the optimizer pushes the filter, and listFiles prunes
    // with it. files_scanned comes from the executed plan's scan metrics
    // (post-AQE), so the pin proves the planner path actually skipped,
    // with zero explicit predicate plumbing.
    "k_snapshot_catalyst_prune" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_cat")
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("n_chars"))
        val n = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
        val w = (n + 7) / 8
        (0L until 8L).foreach { i =>
          Snapshots.append(s, t,
            docs.filter(col("doc_id") >= i * w && col("doc_id") < (i + 1) * w).coalesce(1))
        }
        val lo = 2 * w + w / 2
        val hi = 5 * w + w / 3
        val q = Snapshots.table(s, t)
          .filter(col("doc_id") >= lo && col("doc_id") <= hi)
          .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
        // collect() (not head()) so the metrics land on THIS dataset's
        // QueryExecution — head() runs a separate limit-optimized plan
        val row = q.collect().head
        import s.implicits._
        Seq((row.getLong(0), row.getLong(1), 8L, snapshotScanFiles(q)))
          .toDF("n_rows", "sum_chars", "files_total", "files_scanned")
      },
      Some("""WITH p AS (
             |  SELECT CAST(ceil((max(doc_id)+1) / 8.0) AS BIGINT) AS w FROM documents
             |), b AS (
             |  SELECT 2*w + w//2 AS lo, 5*w + w//3 AS hi, w FROM p
             |), s AS (
             |  SELECT doc_id // (SELECT w FROM p) AS fid, min(doc_id) AS mn, max(doc_id) AS mx
             |  FROM documents GROUP BY fid
             |)
             |SELECT (SELECT count(*) FROM documents, b WHERE doc_id BETWEEN lo AND hi) AS n_rows,
             |       (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents, b
             |        WHERE doc_id BETWEEN lo AND hi) AS sum_chars,
             |       CAST(8 AS BIGINT) AS files_total,
             |       (SELECT CAST(count(*) AS BIGINT) FROM s, b
             |        WHERE mx >= lo AND mn <= hi) AS files_scanned""".stripMargin),
      Seq("F6", "K1")
    ),

    // Streaming CDC apply (upserts + keyed deletes) -> snapshot table
    // with exactly-once batches: seeded with the even docs, the stream
    // carries per-key latest states - op=delete retires doc_id % 4 = 2
    // via deletion vectors (zero rewrites), op=u bumps doc_id % 4 = 0 and
    // inserts the odds. Runs TWICE on one checkpoint plus a hand-replayed
    // batch; the per-lang rollup must equal the oracle's apply
    // arithmetic exactly - the full Debezium-shaped sink discipline.
    "s14_snapshot_cdc_stream" -> Q(
      (s, d) => graft.streaming.StreamingPipeline.withStatePartitions(s) {
        val inDir = fresh(d, "cdcstream_in")
        val ckpt = fresh(d, "cdcstream_ckpt")
        val table = fresh(d, "cdcstream_tbl")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
        val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        Snapshots.create(s, table)
        Snapshots.append(s, table, docs.filter(col("doc_id") % 2 === 0))
        val events = docs.filter(col("doc_id") % 4 === 0)
          .withColumn("n_chars", col("n_chars") + 1000000L)
          .unionByName(docs.filter(col("doc_id") % 2 === 1))
          .withColumn("op", lit("u"))
          .unionByName(docs.filter(col("doc_id") % 4 === 2).withColumn("op", lit("delete")))
        events.coalesce(1).write.mode("overwrite").json(inDir)
        val src = s.readStream.schema(events.schema).json(inDir)
        def run(): Unit = {
          val q = graft.streaming.StreamingPipeline.snapshotCdcWriter(
            src, table, ckpt, appId = "s14", keyCols = Seq("doc_id"), opCol = "op").start()
          q.awaitTermination()
        }
        run(); run() // restart on the same checkpoint: nothing re-applies
        // hand-replay of batch 0 under the same appId: detected, skipped
        Snapshots.applyCdcIdempotent(
          s, table, events.limit(5), Seq("doc_id"), "op", "s14", 0L): Unit
        Snapshots.read(s, table)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      },
      Some("""SELECT lang,
             |       count(CASE WHEN doc_id % 4 <> 2 THEN 1 END) AS n,
             |       CAST(sum(CASE WHEN doc_id % 4 <> 2 THEN n_chars END)
             |            + 1000000 * count(CASE WHEN doc_id % 4 = 0 THEN 1 END)
             |         AS BIGINT) AS sum_chars
             |FROM documents GROUP BY lang""".stripMargin),
      Seq("S6", "K2", "K3")
    ),

    // Zero-copy shallow clone: dst's v0 manifest references src's files
    // IN PLACE (clone_files_before pins zero data files copied, with the
    // source's deletion vector carried), the clone then evolves
    // independently (odds appended to dst only), and the source is
    // untouched (src_rows pins it) - the CLONE TABLE discipline for
    // dev/test branching at 100 TB.
    "k_snapshot_clone" -> Q(
      (s, d) => {
        val src = fresh(d, "snap_clsrc")
        val dst = fresh(d, "snap_cldst")
        Snapshots.create(s, src)
        val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        Snapshots.append(s, src, docs.filter(col("doc_id") % 2 === 0))
        Snapshots.deleteWhereMor(s, src, col("n_chars") < 150)
        Snapshots.shallowClone(s, src, dst)
        val cloneFiles =
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dst/data")))
            graft.operators.Lake.dataFileCount(s, s"$dst/data")
          else 0L
        Snapshots.append(s, dst, docs.filter(col("doc_id") % 2 === 1))
        val srcRows = Snapshots.fastCount(s, src)
        Snapshots.read(s, dst)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
          .withColumn("src_rows", lit(srcRows))
          .withColumn("clone_files_before", lit(cloneFiles))
      },
      Some("""SELECT lang,
             |       count(CASE WHEN (doc_id % 2 = 0 AND n_chars >= 150)
             |                    OR doc_id % 2 = 1 THEN 1 END) AS n,
             |       CAST(sum(CASE WHEN (doc_id % 2 = 0 AND n_chars >= 150)
             |                      OR doc_id % 2 = 1 THEN n_chars END) AS BIGINT) AS sum_chars,
             |       (SELECT count(*) FROM documents
             |        WHERE doc_id % 2 = 0 AND n_chars >= 150) AS src_rows,
             |       CAST(0 AS BIGINT) AS clone_files_before
             |FROM documents GROUP BY lang""".stripMargin),
      Seq("K5", "K1", "S4")
    ),

    // Checkpointed CHANGELOG-cursor consumption: where the insert-only
    // cursor (k_snapshot_cursor) must fall back to a full re-read across
    // a delete, the row-changelog feed stays incremental - round 2 reads
    // the delete's vector delta plus the append's files, never the
    // corpus. The accumulated signed per-lang rollup must equal the final
    // table's, and the three round modes are pinned, so a silently-full
    // second round fails the hash even though the sums would match.
    "k_snapshot_changelog_cursor" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_cdfeed")
        val cur = fresh(d, "snap_cdfeed_ckpt") + "/c1"
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        Snapshots.append(s, t, docs.filter(col("doc_id") % 2 === 0))
        def signed(df: org.apache.spark.sql.DataFrame) = {
          val sgn = when(col("_change_type") === "insert", 1L).otherwise(-1L)
          df.groupBy(col("lang")).agg(
            sum(sgn).as("n"),
            sum(col("n_chars") * sgn).as("sum_chars"))
        }
        val r1 = Snapshots.readRowChangesSince(s, t, cur)
        val acc1 = signed(r1.df)
        Snapshots.commitCursor(cur, r1.toV)
        Snapshots.deleteWhereMor(s, t, col("n_chars") < 150)
        Snapshots.append(s, t, docs.filter(col("doc_id") % 2 === 1))
        val r2 = Snapshots.readRowChangesSince(s, t, cur)
        val acc2 = signed(r2.df)
        Snapshots.commitCursor(cur, r2.toV)
        val r3 = Snapshots.readRowChangesSince(s, t, cur)
        acc1.unionByName(acc2).groupBy(col("lang"))
          .agg(sum(col("n")).as("n"), sum(col("sum_chars")).as("sum_chars"))
          .filter(col("n") =!= 0L)
          .withColumn("modes", lit(s"${r1.mode},${r2.mode},${r3.mode}"))
      },
      Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |       'full,changelog,noop' AS modes
             |FROM documents
             |WHERE NOT (doc_id % 2 = 0 AND n_chars < 150)
             |GROUP BY lang""".stripMargin),
      Seq("S1", "K3", "J1")
    ),

    // Incrementally-maintained materialized aggregate: rollup refreshed
    // from the snapshot diff (merge of stored partials with the delta's)
    // must equal the from-scratch group-by - the incremental
    // view-maintenance law, hash-pinned per source together with the
    // refresh modes actually taken.
    "k_incremental_agg" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_agg_tbl")
        val a = fresh(d, "snap_agg_mat")
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        Snapshots.append(s, t, docs.filter(col("doc_id") % 3 === 0))
        val r1 = IncrementalAgg.refresh(s, t, a, Seq("source"), Seq("n_chars"))
        Snapshots.append(s, t, docs.filter(col("doc_id") % 3 =!= 0))
        val r2 = IncrementalAgg.refresh(s, t, a, Seq("source"), Seq("n_chars"))
        IncrementalAgg.read(s, a)
          .select(col("source"), col("n"), col("sum_n_chars"),
            lit(r1.mode).as("first_mode"), lit(r2.mode).as("second_mode"))
      },
      Some("""SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
             |       'full' AS first_mode, 'incremental' AS second_mode
             |FROM documents GROUP BY source""".stripMargin),
      Seq("A1", "A2", "K1")
    ),

    // Structured Streaming SOURCE over the snapshot changelog: offsets ARE
    // table versions, so a microbatch is a commit range replayed from the
    // manifest log. Round 1 streams the starting snapshot as inserts; the
    // table then takes a merge-on-read delete and an append, and a RESTART
    // on the same checkpoint streams exactly the unconsumed commits' row
    // changes (never the corpus); a third idle restart emits nothing. The
    // signed rollup over the accumulated feed must equal the oracle's
    // direct arithmetic - the read-side twin of the s12-s14 sinks.
    "s15_snapshot_changelog_stream" -> Q(
      (s, d) => graft.streaming.StreamingPipeline.withStatePartitions(s) {
        val t = fresh(d, "cdfstream_tbl")
        val ckpt = fresh(d, "cdfstream_ckpt")
        val acc = fresh(d, "cdfstream_acc")
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        Snapshots.append(s, t, docs.filter(col("doc_id") % 2 === 0))
        def run(): Unit = {
          val q = graft.sources.SnapshotStream.reader(s, t, mode = "changelog")
            .writeStream.option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              b.write.mode("append").parquet(acc)
            }
            .start()
          q.awaitTermination()
        }
        run() // initial snapshot as inserts
        Snapshots.deleteWhereMor(s, t, col("n_chars") < 150)
        Snapshots.append(s, t, docs.filter(col("doc_id") % 2 === 1))
        run() // restart mid-stream: exactly the unconsumed changelog
        run() // idle restart: nothing
        val sgn = when(col("_change_type") === "insert", 1L).otherwise(-1L)
        s.read.parquet(acc)
          .groupBy(col("lang"))
          .agg(sum(sgn).as("n"), sum(col("n_chars") * sgn).as("sum_chars"))
          .filter(col("n") =!= 0L)
      },
      Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents
             |WHERE NOT (doc_id % 2 = 0 AND n_chars < 150)
             |GROUP BY lang""".stripMargin),
      Seq("S6", "S1", "K3")
    ),

    // Snapshot CDC feed → transformWithState sessionization (typed
    // ValueState + event-time timers on RocksDB) with a mid-stream
    // restart — the streaming SOURCE composed with the stateful stack.
    // Events land as two time-ordered commits; after the restart a
    // far-future flusher commit pushes the watermark past every real gap
    // horizon, so every real user's sessions close (tails by timer) and
    // the closed-session multiset equals the batch gap-split the oracle
    // replays. The flusher's own open tail must NOT close (excluded).
    // The oracle's window order is (ts, event_id) — a TOTAL order — so
    // same-timestamp twins land in the same session deterministically,
    // matching the engine's sorted-ms semantics.
    "s16_snapshot_session_stream" -> Q(
      (s, d) => graft.streaming.StreamingPipeline.withStatePartitions(s) {
        val t = fresh(d, "sess_tbl")
        val ckpt = fresh(d, "sess_ckpt")
        val acc = fresh(d, "sess_acc")
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          Snapshots.create(s, t)
          val ev = events(s, d).select(col("user_id"), col("ts"))
          val cut = lit("2024-01-15 00:00:00").cast("timestamp_ntz")
          Snapshots.append(s, t, ev.filter(col("ts") < cut)): Unit
          def run(): Unit = {
            val out = graft.streaming.StreamingPipeline.sessionizeClosedTws(
              s, graft.sources.SnapshotStream.reader(s, t),
              gapMs = 4L * 3600000L, watermark = "1 hour")
            val q = out.toDF().writeStream.option("checkpointLocation", ckpt)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
                b.write.mode("append").parquet(acc)
              }
              .start()
            q.awaitTermination()
          }
          run()
          Snapshots.append(s, t, ev.filter(col("ts") >= cut)): Unit
          Snapshots.append(s, t,
            s.range(1).select(lit(-1L).as("user_id"),
              lit("2024-06-01 00:00:00").cast("timestamp_ntz").as("ts"))): Unit
          run() // restart: the source offset AND the operator state resume
          // timers fire against the watermark as of a batch's START, so the
          // real tails need one more data-bearing batch AFTER the flusher
          // advanced it (AvailableNow ends without a no-data batch)
          Snapshots.append(s, t,
            s.range(1).select(lit(-2L).as("user_id"),
              lit("2024-06-02 00:00:00").cast("timestamp_ntz").as("ts"))): Unit
          run() // every real user's tail closes by timer; flushers stay open
          s.read.parquet(acc)
            .filter(col("userId") >= 0L)
            .select(col("userId").as("user_id"), col("nEvents"))
            .groupBy(col("user_id"))
            .agg(count(lit(1)).as("n_sessions"),
              sum(col("nEvents")).as("n_events"),
              max(col("nEvents")).as("max_len"))
        } finally {
          prev match {
            case Some(v) => s.conf.set(key, v)
            case None => s.conf.unset(key)
          }
        }
      },
      Some("""WITH lagd AS (
             |  SELECT user_id, ts, event_id,
             |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
             |  FROM events),
             |brk AS (
             |  SELECT user_id, ts, event_id,
             |         CASE WHEN pts IS NULL OR epoch_ms(ts) - epoch_ms(pts) > 14400000
             |              THEN 1 ELSE 0 END AS b
             |  FROM lagd),
             |sess AS (
             |  SELECT user_id, sum(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                               ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM brk),
             |per AS (SELECT user_id, sid, count(*) AS n FROM sess GROUP BY user_id, sid)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
             |       CAST(sum(n) AS BIGINT) AS n_events,
             |       CAST(max(n) AS BIGINT) AS max_len
             |FROM per GROUP BY user_id""".stripMargin),
      Seq("S6", "A1", "W1")
    ),

    // Nightly maintenance RACING a streaming sink: a background appender
    // lands exactly-once microbatches while maintain() folds small files
    // and expires history, twice - the replace commits REBASE over the
    // concurrent appends (appends commute with a fold of files they don't
    // touch), so every batch's rows survive and a hand-replayed batch is
    // still detected from the txn log. The final per-lang rollup equals
    // the oracle over ALL docs regardless of interleaving.
    "k_snapshot_maintain_concurrent" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_maintc")
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        Snapshots.appendIdempotent(s, t,
          docs.filter(col("doc_id") % 4 === 0), "maintc", 0L): Unit
        val appender = new Thread(() =>
          (1 to 3).foreach { i =>
            Snapshots.appendIdempotent(s, t,
              docs.filter(col("doc_id") % 4 === i).coalesce(1), "maintc", i.toLong): Unit
          })
        appender.start()
        // retention must cover the sink's replay window (the documented
        // lastTxn contract) - keepLast stays above the total commit count
        Snapshots.maintain(s, t, smallBytes = Long.MaxValue,
          keepLast = 10, orphanGraceMs = 3600000L): Unit
        appender.join()
        Snapshots.maintain(s, t, smallBytes = Long.MaxValue,
          keepLast = 10, orphanGraceMs = 3600000L): Unit
        val replay = Snapshots.appendIdempotent(s, t,
          docs.filter(col("doc_id") % 4 === 1).limit(3), "maintc", 1L)
        Snapshots.read(s, t)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
          .withColumn("replay_skipped", lit(if (replay.isEmpty) 1L else 0L))
      },
      Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |       CAST(1 AS BIGINT) AS replay_skipped
             |FROM documents GROUP BY lang""".stripMargin),
      Seq("K1", "K2", "S6")
    ),

    // SQL DELETE null semantics: a predicate that evaluates to NULL keeps
    // the row, both in the deletion vectors a merge-on-read delete writes
    // ('mor') and in the rewritten, vector-free files a compaction of them
    // lands ('cow') - the oracle recomputes the survivors with explicit
    // IS NULL arithmetic, so a filter that silently drops null rows fails
    // the hash.
    "k_snapshot_delete_null" -> Q(
      (s, d) => {
        val docs = documents(s, d).select(col("doc_id"), col("lang"),
          when(col("doc_id") % 3 === 0, lit(null).cast("long"))
            .otherwise(col("n_chars")).as("score"))
        def build(name: String): String = {
          val t = fresh(d, name)
          Snapshots.create(s, t)
          Snapshots.append(s, t, docs)
          t
        }
        val cow = build("snap_nulldel_cow")
        val mor = build("snap_nulldel_mor")
        Snapshots.deleteWhereMor(s, cow, col("score") > 200): Unit
        Snapshots.compact(s, cow): Unit
        Snapshots.deleteWhereMor(s, mor, col("score") > 200): Unit
        def agg(t: String, p: String) = Snapshots.read(s, t)
          .agg(lit(p).as("path"), count(lit(1)).as("n"),
            coalesce(sum(col("score")), lit(0L)).as("sum_score"))
        agg(cow, "cow").unionByName(agg(mor, "mor"))
      },
      Some("""WITH x AS (
             |  SELECT CASE WHEN doc_id % 3 = 0 THEN NULL ELSE n_chars END AS score
             |  FROM documents)
             |SELECT 'cow' AS path, count(*) AS n,
             |       CAST(coalesce(sum(score), 0) AS BIGINT) AS sum_score
             |FROM x WHERE score IS NULL OR score <= 200
             |UNION ALL
             |SELECT 'mor', count(*), CAST(coalesce(sum(score), 0) AS BIGINT)
             |FROM x WHERE score IS NULL OR score <= 200""".stripMargin),
      Seq("K3", "F9", "C16")
    ),

    // RESTORE: roll the table back to a version as a BY-REFERENCE commit -
    // the bad-batch rollback. evens (v1), a bad odd batch with inflated
    // n_chars (v2), a delete that also killed good rows (v3), restore to
    // v1 (v4): the final per-lang aggregate equals the evens exactly
    // (deleted rows back, bad rows gone), v3 stays time-travelable, and
    // the restore writes ZERO data files (files_delta pins it
    // structurally).
    "k_snapshot_restore" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_restore")
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        Snapshots.append(s, t, docs.filter(col("doc_id") % 2 === 0))
        Snapshots.append(s, t, docs.filter(col("doc_id") % 2 === 1)
          .withColumn("n_chars", col("n_chars") + 1000000L))
        Snapshots.deleteWhereMor(s, t, col("n_chars") < 150)
        def dataFiles(): Long = {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(java.nio.file.Paths.get(s"$t/data"))
            .iterator().asScala.count { p =>
              val n = p.getFileName.toString
              java.nio.file.Files.isRegularFile(p) &&
                !n.startsWith("_") && !n.startsWith(".") &&
                !p.getParent.getFileName.toString.endsWith(".dv")
            }
        }
        val before = dataFiles()
        Snapshots.restore(s, t, 1L)
        val delta = dataFiles() - before
        val nV3 = Snapshots.read(s, t, Some(3L)).count()
        Snapshots.read(s, t)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
          .withColumn("n_v3", lit(nV3))
          .withColumn("files_delta", lit(delta))
      },
      Some("""SELECT lang,
             |       count(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS n,
             |       CAST(sum(CASE WHEN doc_id % 2 = 0 THEN n_chars END) AS BIGINT) AS sum_chars,
             |       (SELECT count(*) FROM documents
             |        WHERE doc_id % 2 = 1 OR n_chars >= 150) AS n_v3,
             |       CAST(0 AS BIGINT) AS files_delta
             |FROM documents GROUP BY lang""".stripMargin),
      Seq("K1", "K3", "S4")
    ),

    // Recorded clustering discipline on the snapshot commit path: a
    // scattered-key table (interleaved appends - no file can skip) takes
    // ONE compact(clusterBySpec) and the spec then travels in every commit
    // row, so (a) the re-clustered layout turns a key range into a sharp
    // manifest-side skip, (b) subsequent APPENDS lay their delta out by
    // the inherited spec, and (c) maintenance folds RESTORE tight boxes
    // over streaming-append debt. Skip sharpness is pinned as ratios
    // (range-boundary sampling makes exact counts sf-dependent); the row
    // answers pin exactness.
    "k_snapshot_clustered" -> Q(
      (s, d) => {
        val t = fresh(d, "snap_clusterspec")
        Snapshots.create(s, t)
        val docs = documents(s, d).select(col("doc_id"), col("n_chars"))
        (0 until 4).foreach { i =>
          Snapshots.append(s, t, docs.filter(col("doc_id") % 4 === i).coalesce(1))
        }
        val n = docs.count()
        val lo = n / 4
        val hi = lo + n / 8
        def plan(l: Long, h: Long) =
          Snapshots.scanPlan(s, t, col("doc_id") >= l && col("doc_id") < h)
        val before = plan(lo, hi)
        val target = (n + 7) / 8
        Snapshots.compact(s, t, targetRecordsPerFile = target, clusterBySpec = "doc_id"): Unit
        val after = plan(lo, hi)
        // streaming-shaped debt: 4 interleaved re-appends (ids shifted by
        // n), each clustered within itself but scattered across files...
        (0 until 4).foreach { i =>
          Snapshots.append(s, t,
            docs.filter(col("doc_id") % 4 === i)
              .withColumn("doc_id", col("doc_id") + n).coalesce(1))
        }
        // ...then ONE maintenance fold re-clusters everything by the spec
        Snapshots.compact(s, t, targetRecordsPerFile = target): Unit
        val ap = plan(lo + n, hi + n)
        val cur = plan(lo, hi)
        cur.df.agg(
          count(lit(1)).as("n_rows"),
          sum(col("n_chars")).as("sum_chars"),
          lit(if (before.filesScanned == before.filesTotal) 1L else 0L).as("before_all"),
          lit(if (after.filesScanned * 2 <= after.filesTotal) 1L else 0L).as("after_sharp"),
          lit(if (ap.filesScanned * 2 <= ap.filesTotal) 1L else 0L).as("fold_sharp"))
      },
      Some("""WITH p AS (SELECT count(*) AS n FROM documents)
             |SELECT (SELECT count(*) FROM documents, p
             |        WHERE doc_id >= n // 4 AND doc_id < n // 4 + n // 8) AS n_rows,
             |       (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents, p
             |        WHERE doc_id >= n // 4 AND doc_id < n // 4 + n // 8) AS sum_chars,
             |       CAST(1 AS BIGINT) AS before_all,
             |       CAST(1 AS BIGINT) AS after_sharp,
             |       CAST(1 AS BIGINT) AS fold_sharp""".stripMargin),
      Seq("K1", "F6", "A2")
    )
  )
}
