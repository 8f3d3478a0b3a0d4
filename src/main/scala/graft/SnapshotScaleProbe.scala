package graft

import org.apache.spark.sql.functions._

import graft.operators.{IncrementalAgg, Snapshots}

/** Scale probe for the snapshot-table delete path: replicate `documents`
  * N× (text kept — file sizes must be real), land it as a snapshot table,
  * then delete a 0.1% SCATTERED row set (hash-spread, so every file is a
  * stats candidate — the merge-on-read design case) and measure what it
  * physically writes, plus what the delete does to downstream reads and
  * to the changelog-maintained rollup vs a full recompute.
  *
  * Evidence for the 100 TB claim: the delete's write cost ∝ deleted ROWS,
  * not candidate FILE bytes, and the read-back anti-join premium is
  * bounded by the deleted-fraction-sized side.
  *
  * Usage: runMain graft.SnapshotScaleProbe [sfDir] [multiplier]
  */
object SnapshotScaleProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = Session()
    val cpus = spark.sparkContext.defaultParallelism

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def bytesUnder(dir: String, pred: java.nio.file.Path => Boolean): Long = {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(p)) 0L
      else java.nio.file.Files.walk(p).iterator().asScala
        .filter(q => java.nio.file.Files.isRegularFile(q) && pred(q))
        .map(java.nio.file.Files.size).sum
    }

    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"), col("text"))
    val corpus = (0 until mult)
      .map(i => base.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10_000_000L)))
      .reduce(_.unionByName(_))
      .repartition(cpus)
      .cache()
    val nRows = corpus.count()
    // ~0.1% of rows, hash-scattered across every file
    val scattered = pmod(xxhash64(col("doc_id")), lit(1000)) === 0

    def freshTable(name: String): String = {
      val t = s"/tmp/graft/snapprobe/$name"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t).getParent)
      Snapshots.create(spark, t)
      Snapshots.append(spark, t, corpus)
      t
    }

    val tMor = freshTable("mor")
    val tableBytes = bytesUnder(s"$tMor/data", _ => true)

    // read-back: the anti-join premium over the same table before the delete
    def scanAgg(t: String): Long =
      Snapshots.read(spark, t).agg(count(lit(1))).head().getLong(0)
    val (nBefore, tReadBefore) = timed(scanAgg(tMor))
    val (morStats, tMorDel) = timed(Snapshots.deleteWhereMor(spark, tMor, scattered))
    val morBytes = bytesUnder(s"$tMor/data", _.getParent.toString.endsWith(".dv"))
    val (nMor, tMorRead) = timed(scanAgg(tMor))
    require(nMor == nBefore - morStats.rowsDeleted,
      s"live rows after the delete: $nMor != $nBefore - ${morStats.rowsDeleted}")

    // rollup maintenance across the delete: changelog vs full recompute
    val aggPath = "/tmp/graft/snapprobe/agg"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(aggPath))
    val tChg = freshTable("chg")
    IncrementalAgg.refresh(spark, tChg, aggPath, Seq("source"), Seq("n_chars")): Unit
    Snapshots.deleteWhereMor(spark, tChg, scattered): Unit
    val (r, tChangelog) =
      timed(IncrementalAgg.refresh(spark, tChg, aggPath, Seq("source"), Seq("n_chars")))
    val (_, tFull) = timed {
      Snapshots.read(spark, tChg).groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s")).collect()
    }

    // clustered layout + clustered delete: the changelog's design case —
    // a range-partitioned table where the 0.1% delete touches ONE file, so
    // maintenance reads one file's bytes while the recompute reads the table
    val tClu = {
      val t = "/tmp/graft/snapprobe/clu"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
      Snapshots.create(spark, t)
      Snapshots.append(spark, t,
        corpus.repartitionByRange(cpus, col("doc_id")))
      t
    }
    val aggClu = "/tmp/graft/snapprobe/agg_clu"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(aggClu))
    IncrementalAgg.refresh(spark, tClu, aggClu, Seq("source"), Seq("n_chars")): Unit
    val thr = corpus.stat.approxQuantile("doc_id", Array(0.001), 0.0001).head
    val (cluStats, _) = timed(Snapshots.deleteWhereMor(spark, tClu, col("doc_id") <= thr))
    val (rClu, tChangelogClu) =
      timed(IncrementalAgg.refresh(spark, tClu, aggClu, Seq("source"), Seq("n_chars")))
    val (_, tFullClu) = timed {
      Snapshots.read(spark, tClu).groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s")).collect()
    }

    // commit-protocol fixed cost: sequential small appends (the streaming-
    // sink regime) — stage (data write) vs commit (manifest + swap) split
    val tRate = {
      val t = "/tmp/graft/snapprobe/rate"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
      Snapshots.create(spark, t)
      val small = corpus.limit(1000).coalesce(1)
      Snapshots.append(spark, t, small) // warm
      var tStage = 0.0; var tCommit = 0.0
      (0 until 10).foreach { _ =>
        val a = System.nanoTime()
        val staged = Snapshots.stageAppend(spark, t, small)
        val b = System.nanoTime()
        Snapshots.commitStaged(spark, t, staged, dataSchema = Some(small.schema))
        tStage += (b - a) / 1e9; tCommit += (System.nanoTime() - b) / 1e9
      }
      (tStage / 10, tCommit / 10)
    }

    // round 13: a non-append commit REBASES over concurrent appends whose
    // stats boxes miss its key bounds — a merge races a 4-batch sink and
    // every commit lands, no data write retried
    val (tRebase, rebaseLanded) = {
      val t = "/tmp/graft/snapprobe/rebase"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
      Snapshots.create(spark, t)
      Snapshots.append(spark, t, corpus)
      val batch = corpus.limit(1000).coalesce(1).cache()
      batch.count(): Unit
      val appender = new Thread(() => (0 until 4).foreach { i =>
        Snapshots.append(spark, t, batch.withColumn("doc_id",
          col("doc_id") + lit(1_000_000_000L * (i + 1)))): Unit
      })
      appender.start()
      // key bounds [0, 1000) — disjoint from every racing append's files
      val src = corpus.filter(col("doc_id") < 1000).withColumn("n_chars", lit(-1L))
      val (m, tM) = timed(Snapshots.merge(spark, t, src, Seq("doc_id")))
      appender.join()
      batch.unpersist(): Unit
      val ok = Snapshots.fastCount(spark, t) == nRows + 4000 && m.version >= 2
      (tM, ok)
    }

    // round 13: changelog catch-up — one consumer round spanning 40 commits
    // (the restart-after-a-gap case; the balanced union keeps the plan
    // O(log n) deep where a linear chain stalled analysis)
    val (catchRows, tCatchUp) = {
      val t = "/tmp/graft/snapprobe/catchup"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
      Snapshots.create(spark, t)
      val small = corpus.limit(500).coalesce(1).cache()
      small.count(): Unit
      (0 until 40).foreach { i =>
        Snapshots.append(spark, t, small.withColumn("doc_id",
          col("doc_id") + lit(i.toLong * 1_000_000L))): Unit
      }
      val r = timed(Snapshots.rowChanges(spark, t, 0L, 40L).count())
      small.unpersist(): Unit
      r
    }

    // round 14: manifest-log DEPTH — a 1,000-commit table (a day of
    // streaming microbatches at ~90 s cadence) exercises the fan-in every
    // consumer path takes over a deep history. The assertions are
    // structural ("cost ∝ churn / survivors, not commit count"), the
    // wall-times are the evidence record.
    val depthCommits = 1000
    val (depthLog, tDepthTotal) = timed {
      val t = "/tmp/graft/snapprobe/depth"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
      Snapshots.create(spark, t)
      // deterministic id slice (NOT limit — a limit can draw from the
      // 10M-shifted replicas and wreck the disjoint per-commit ranges the
      // pruning assertion needs): commit i holds exactly [i·1000, i·1000+100)
      val tiny = corpus.filter(col("doc_id") < 100).coalesce(1).cache()
      tiny.count(): Unit
      val (_, tAppends) = timed {
        (0 until depthCommits).foreach { i =>
          Snapshots.append(spark, t, tiny.withColumn("doc_id",
            col("doc_id") + lit(i.toLong * 1000L))): Unit
        }
      }
      tiny.unpersist(): Unit
      // (a) pruned point read: stats boxes are disjoint per commit, so the
      // planner must keep ~1 of the 1,000 files
      val ((plan, pointRows), tPruned) = timed {
        val p = Snapshots.scanPlan(spark, t,
          col("doc_id") >= 500_000L && col("doc_id") < 500_100L)
        (p, p.df.count())
      }
      require(plan.filesScanned <= 4,
        s"pruned read must keep ~1 of ${plan.filesTotal} files, kept ${plan.filesScanned}")
      require(pointRows == 100L, s"point read rows: $pointRows")
      // (b) changelog catch-up across the WHOLE range: one append-run scan
      // (cost ∝ churn), not a per-commit manifest walk
      val (catchN, tCatch) = timed(
        Snapshots.rowChanges(spark, t, 0L, depthCommits.toLong).count())
      require(catchN == depthCommits.toLong * 100L, s"catch-up rows: $catchN")
      // (c) maintain(): fold the small-file debt, keep a 7-version replay
      // window — this documents what expire costs the changelog consumer:
      // after it, rowChanges can only start from v >= current-keepLast
      val ((folded, manifests, filesGone), tMaint) =
        timed(Snapshots.maintain(spark, t, smallBytes = 64L * 1024 * 1024,
          keepLast = 7, orphanGraceMs = 0L))
      val nAfter = Snapshots.fastCount(spark, t)
      require(nAfter == depthCommits.toLong * 100L, s"rows after maintain: $nAfter")
      val filesNow = Snapshots.read(spark, t).inputFiles.length
      require(filesNow <= 8, s"maintain must fold 1,000 small files, left $filesNow")
      f"appends_s=$tAppends%.1f (${depthCommits / tAppends}%.1f commits/s) " +
        f"pruned_read: kept=${plan.filesScanned}/${plan.filesTotal} s=$tPruned%.2f " +
        f"catchup_rows=$catchN s=$tCatch%.1f " +
        f"maintain: folded=$folded manifests_dropped=$manifests files_deleted=$filesGone " +
        f"s=$tMaint%.1f files_now=$filesNow"
    }
    println(s"[snapshot-probe] depth_1000: $depthLog total_s=${"%.1f".format(tDepthTotal)}")

    // round 14: manifest WIDTH — one commit carrying 10,000 files (the
    // un-compacted ingest worst case; depth_1000 covers commit COUNT).
    // Planning must stay a manifest query: the pruned point read keeps ~1
    // file, the driver-local append carries 10k manifest lines without a
    // job, and one maintenance fold repairs the layout.
    val (wideLog, tWideTotal) = timed {
      val t = "/tmp/graft/snapprobe/wide"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
      Snapshots.create(spark, t)
      val rows = spark.range(10000).selectExpr(
        "id AS doc_id", "CAST(id % 20 AS STRING) AS source", "id * 7 % 100 AS n_chars")
        .repartitionByRange(32, col("doc_id"))
      val (_, tIngest) = timed(
        Snapshots.append(spark, t, rows, maxRecordsPerFile = 1L): Unit)
      val nFiles = Snapshots.read(spark, t).inputFiles.length
      require(nFiles >= 9999, s"wide commit must land ~10k files, got $nFiles")
      val ((plan, got), tPoint) = timed {
        val p = Snapshots.scanPlan(spark, t, col("doc_id") === 4321L)
        (p, p.df.count())
      }
      require(plan.filesScanned <= 4 && got == 1L,
        s"width pruning: kept ${plan.filesScanned}/${plan.filesTotal}, rows $got")
      // an append on TOP of the wide manifest: the driver-local commit
      // carries 10k lines; the section must stay sub-second
      val staged = Snapshots.stageAppend(spark, t,
        rows.filter(col("doc_id") < 100).coalesce(1))
      val (_, tCommit) = timed(
        Snapshots.commitStaged(spark, t, staged,
          dataSchema = Some(rows.schema)): Unit)
      require(tCommit < 5.0, s"wide-manifest commit section took $tCommit s")
      val ((folded, _, _), tFold) = timed(
        Snapshots.maintain(spark, t, smallBytes = 64L * 1024 * 1024,
          keepLast = 3, orphanGraceMs = 0L))
      val nAfter = Snapshots.read(spark, t).inputFiles.length
      require(Snapshots.fastCount(spark, t) == 10100L, "rows preserved across the fold")
      f"ingest_10k_files_s=$tIngest%.1f point_read: kept=${plan.filesScanned}/${plan.filesTotal} " +
        f"s=$tPoint%.2f commit_on_wide_s=$tCommit%.2f " +
        f"fold: folded=$folded files_now=$nAfter s=$tFold%.1f"
    }
    println(s"[snapshot-probe] wide_10k: $wideLog total_s=${"%.1f".format(tWideTotal)}")

    println(f"[snapshot-probe] rows=$nRows table_mb=${tableBytes / 1e6}%.1f " +
      f"deleted=${morStats.rowsDeleted}")
    println(f"[snapshot-probe] rebase: merge racing 4 appends merge_s=$tRebase%.1f " +
      f"all_commits_landed=$rebaseLanded (disjoint appends commute; no retry of the rewrite)")
    println(f"[snapshot-probe] changelog_catchup: 40-commit range rows=$catchRows " +
      f"replay_s=$tCatchUp%.1f (balanced union; cost ∝ the commits' churn)")
    println(f"[snapshot-probe] commit_protocol: stage_s=${tRate._1}%.2f " +
      f"commit_s=${tRate._2}%.2f per small append (scheduler-bound fixed cost)")
    println(f"[snapshot-probe] mor_delete_s=$tMorDel%.1f mor_files_with_dv=${morStats.filesWithDv} " +
      f"mor_bytes_written_mb=${morBytes / 1e6}%.1f")
    println(f"[snapshot-probe] read_before_delete_s=$tReadBefore%.2f read_after_mor_s=$tMorRead%.2f " +
      f"rows_live=$nMor")
    println(f"[snapshot-probe] scattered: agg_refresh_mode=${r.mode} " +
      f"changelog_s=$tChangelog%.1f full_recompute_s=$tFull%.1f " +
      f"(worst case: every file vector-bearing - maintenance reads ~table bytes)")
    println(f"[snapshot-probe] clustered: agg_refresh_mode=${rClu.mode} " +
      f"files_with_dv=${cluStats.filesWithDv}/${cpus} deleted=${cluStats.rowsDeleted} " +
      f"changelog_s=$tChangelogClu%.1f full_recompute_s=$tFullClu%.1f " +
      f"(design case: maintenance reads only the touched file)")
    spark.stop()
  }
}
