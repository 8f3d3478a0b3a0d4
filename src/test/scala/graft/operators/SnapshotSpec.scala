package graft.operators

import java.nio.file.{Files => JFiles, Paths => JPaths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Laws for the manifest-log snapshot table ([[Snapshots]]) and the
  * diff-driven materialized aggregates ([[IncrementalAgg]]): commit
  * atomicity, time travel, snapshot isolation, by-reference carry-forward,
  * manifest-side pruning soundness, retention GC, and the
  * incremental-equals-recompute law.
  */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def docs(n: Int, idFrom: Int = 0): DataFrame =
    spark.range(idFrom, idFrom + n)
      .select(col("id").as("doc_id"),
        concat(lit("src"), (col("id") % 3).cast("string")).as("source"),
        (col("id") * 7 % 100).as("n_chars"))

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet

  test("append / read round-trip and time travel across versions") {
    val t = tmpDir("snap-rt")
    Snapshots.create(spark, t)
    val v1 = Snapshots.append(spark, t, docs(10))
    val v2 = Snapshots.append(spark, t, docs(5, idFrom = 10))
    assert(v1 == 1 && v2 == 2)
    assert(ids(Snapshots.read(spark, t)) == (0L until 15L).toSet)
    assert(ids(Snapshots.read(spark, t, Some(1))) == (0L until 10L).toSet)
    assert(Snapshots.read(spark, t, Some(0)).count() == 0)
    val h = Snapshots.history(spark, t).collect()
    assert(h.map(_.getAs[String]("op")).toSeq == Seq("append", "append", "create"))
    assert(h.head.getAs[Long]("n_rows") == 15L)
  }

  test("snapshot isolation: a pinned read is unaffected by later commits") {
    val t = tmpDir("snap-iso")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10))
    val pinned = Snapshots.read(spark, t, Some(1))
    Snapshots.append(spark, t, docs(10, idFrom = 10))
    Snapshots.deleteWhereMor(spark, t, col("doc_id") < 5)
    Snapshots.compact(spark, t)
    assert(ids(pinned) == (0L until 10L).toSet,
      "pinned frame must keep reading exactly its version's immutable files")
  }

  test("a manifest without a pointer swap is invisible; commit retry succeeds") {
    val t = tmpDir("snap-crash")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10))
    // simulate a crashed commit: manifest + data landed, _current not swapped
    val cur = JPaths.get(s"$t/_current")
    val saved = new String(JFiles.readAllBytes(cur)).trim
    Snapshots.append(spark, t, docs(99, idFrom = 1000))
    JFiles.write(cur, saved.getBytes) // roll the pointer back = crash before swap
    assert(ids(Snapshots.read(spark, t)) == (0L until 10L).toSet,
      "un-swapped commit must be invisible")
    // retry of version 2 must clear the leftover manifest dir and succeed
    val v = Snapshots.append(spark, t, docs(5, idFrom = 10))
    assert(v == 2)
    assert(ids(Snapshots.read(spark, t)) == (0L until 15L).toSet)
  }

  test("staged append commits against a moved base without rewriting data") {
    val t = tmpDir("snap-stage")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10))
    // stage the expensive half (the data write), then let an interloper
    // move the base before our commit — the retry must rebuild ONLY the
    // manifest against the new parent and reuse the staged files as-is
    val staged = Snapshots.stageAppend(spark, t, docs(10, idFrom = 10))
    val stagedPaths = staged.select("path").as[String].collect().toSet
    Snapshots.append(spark, t, docs(10, idFrom = 100))
    val filesBeforeCommit = Lake.dataFileCount(spark, s"$t/data")
    val v = Snapshots.commitStaged(spark, t, staged)
    assert(v == 3, s"commit lands on the interloper's child version: $v")
    assert(Lake.dataFileCount(spark, s"$t/data") == filesBeforeCommit,
      "conflict-retry commit must write zero data files")
    assert(ids(Snapshots.read(spark, t)) ==
      ((0L until 20L) ++ (100L until 110L)).toSet)
    // the committed manifest references the staged group verbatim
    val committed = Snapshots.read(spark, t, Some(3))
      .filter(col("doc_id") >= 10 && col("doc_id") < 20)
      .select(input_file_name()).distinct().as[String].collect().toSet
    assert(committed.map(p => p.substring(p.indexOf("data/"))) == stagedPaths)
    // a duplicate commit of the same staged group is detected from the
    // path set (globally unique token) and returns the current version
    assert(Snapshots.commitStaged(spark, t, staged) == 3)
    assert(Snapshots.read(spark, t).count() == 30)
  }

  test("a crashed txn-tagged commit does not poison the replay check") {
    val t = tmpDir("snap-txn-crash")
    Snapshots.create(spark, t)
    assert(Snapshots.appendIdempotent(spark, t, docs(10), "app", 0L).contains(1L))
    // batch 1 commits, then we roll the pointer back = crash AFTER the
    // manifest write, BEFORE the swap: its rows never became visible
    val cur = JPaths.get(s"$t/_current")
    val saved = new String(JFiles.readAllBytes(cur)).trim
    assert(Snapshots.appendIdempotent(spark, t, docs(10, idFrom = 10), "app", 1L).contains(2L))
    JFiles.write(cur, saved.getBytes): Unit
    assert(Snapshots.lastTxn(spark, t, "app").contains(0L),
      "an un-swapped manifest's txn marker must not count as committed")
    // the replay of batch 1 must LAND (skipping it would lose the batch)
    assert(Snapshots.appendIdempotent(spark, t, docs(10, idFrom = 10), "app", 1L).contains(2L))
    assert(ids(Snapshots.read(spark, t)) == (0L until 20L).toSet)
    // and a second replay is now correctly skipped
    assert(Snapshots.appendIdempotent(spark, t, docs(10, idFrom = 10), "app", 1L).isEmpty)
  }

  test("a predicate delete marks vectors only in stats-candidate files") {
    val t = tmpDir("snap-cand")
    Snapshots.create(spark, t)
    // three appends = three disjoint doc_id ranges = three file groups
    Snapshots.append(spark, t, docs(10).coalesce(1))
    Snapshots.append(spark, t, docs(10, idFrom = 10).coalesce(1))
    Snapshots.append(spark, t, docs(10, idFrom = 20).coalesce(1))
    val before = Snapshots.history(spark, t).head().getAs[Long]("n_files")
    val st = Snapshots.deleteWhereMor(spark, t, col("doc_id") >= 20)
    assert(st.version == 4 && st.rowsDeleted == 10)
    assert(st.filesWithDv == 1 && st.filesUntouched == before - 1,
      s"only the [20,30) file may gain a vector: $st")
    assert(fileEntries(4, t).count(r => r.getAs[String]("dv_path") != null) == 1)
    assert(ids(Snapshots.read(spark, t)) == (0L until 20L).toSet)
    // time travel still sees the deleted rows
    assert(ids(Snapshots.read(spark, t, Some(3))) == (0L until 30L).toSet)
    // every entry is the SAME file (paths unchanged): the untouched files
    // carry forward by reference and the candidate is marked, not rewritten
    assert(Snapshots.dataFiles(spark, t, 3) == Snapshots.dataFiles(spark, t, 4),
      "untouched files must be carried forward by reference")
  }

  test("schema evolution: new columns null-fill old files; schema travels with the version") {
    val t = tmpDir("snap-evolve")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10))
    // evolve: a new column appends as nullable, in stable order
    Snapshots.append(spark, t,
      docs(10, idFrom = 10).withColumn("lang", lit("nb")))
    val cur = Snapshots.read(spark, t)
    assert(cur.columns.toSeq == Seq("doc_id", "source", "n_chars", "lang"),
      "parent fields first, evolved fields after")
    assert(cur.filter(col("lang").isNull).count() == 10,
      "files written before the column evolved in read it as null")
    assert(cur.filter(col("lang") === "nb").count() == 10)
    // a batch MISSING evolved columns also null-fills
    Snapshots.append(spark, t, docs(5, idFrom = 20).select("doc_id", "n_chars"))
    val cur2 = Snapshots.read(spark, t)
    assert(cur2.filter(col("doc_id") >= 20 && col("source").isNull).count() == 5)
    assert(cur2.count() == 25)
    // time travel returns the OLD schema
    assert(Snapshots.read(spark, t, Some(1)).columns.toSeq == Seq("doc_id", "source", "n_chars"))
    // a type conflict is an error, not a silent cast
    intercept[IllegalArgumentException] {
      Snapshots.append(spark, t,
        docs(1, idFrom = 99).withColumn("n_chars", lit("oops")))
    }
    // merge can evolve too: its new column lands, kept rows null-fill
    val m = Snapshots.merge(spark, t,
      docs(2, idFrom = 0).withColumn("score", lit(0.5)), Seq("doc_id"))
    assert(m.rowsUpdated == 2)
    val cur3 = Snapshots.read(spark, t)
    assert(cur3.columns.toSeq == Seq("doc_id", "source", "n_chars", "lang", "score"))
    assert(cur3.filter(col("score").isNotNull).count() == 2)
    assert(cur3.count() == 25)
  }

  test("timestamp time travel resolves to the latest committed version at the instant") {
    val t = tmpDir("snap-asof")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10))
    Snapshots.append(spark, t, docs(5, idFrom = 10))
    val cur = Snapshots.currentVersion(t).get
    val lastTs = Snapshots.history(spark, t).head().getAs[String]("ts")
    assert(Snapshots.versionAsOf(spark, t, lastTs) == cur,
      "same-second commits resolve to the latest version in that second")
    assert(Snapshots.readAsOf(spark, t, "9999-12-31T00:00:00Z").count() == 15)
    intercept[IllegalArgumentException](
      Snapshots.versionAsOf(spark, t, "1970-01-01T00:00:00Z"))
    // a crashed attempt's manifest above _current is not history and
    // cannot be resolved to, even by a far-future instant
    val curPath = JPaths.get(s"$t/_current")
    val saved = new String(JFiles.readAllBytes(curPath)).trim
    Snapshots.append(spark, t, docs(99, idFrom = 1000))
    JFiles.write(curPath, saved.getBytes): Unit
    assert(Snapshots.versionAsOf(spark, t, "9999-12-31T00:00:00Z") == cur)
    assert(Snapshots.history(spark, t).collect()
      .forall(_.getAs[Long]("version") <= cur))
  }

  test("cursor consumption: full, then deltas, then noop; non-append forces reprocess") {
    val t = tmpDir("snap-cursor")
    val cur = tmpDir("snap-cursor-ckpt") + "/consumer1"
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10))
    val r1 = Snapshots.readChangesSince(spark, t, cur)
    assert(r1.mode == "full" && ids(r1.df) == (0L until 10L).toSet)
    Snapshots.commitCursor(cur, r1.toV)
    // two more appends -> one incremental round covering both deltas
    Snapshots.append(spark, t, docs(5, idFrom = 10))
    Snapshots.append(spark, t, docs(5, idFrom = 15))
    val r2 = Snapshots.readChangesSince(spark, t, cur)
    assert(r2.mode == "incremental" && ids(r2.df) == (10L until 20L).toSet,
      "a round reads exactly the files appended since the cursor")
    Snapshots.commitCursor(cur, r2.toV)
    // current cursor -> noop, empty but schema-typed
    val r3 = Snapshots.readChangesSince(spark, t, cur)
    assert(r3.mode == "noop" && r3.df.count() == 0)
    assert(r3.df.columns.toSeq == Seq("doc_id", "source", "n_chars"))
    // an uncommitted cursor replays the same round (at-least-once)
    Snapshots.append(spark, t, docs(3, idFrom = 20))
    assert(ids(Snapshots.readChangesSince(spark, t, cur).df) == (20L until 23L).toSet)
    assert(ids(Snapshots.readChangesSince(spark, t, cur).df) == (20L until 23L).toSet)
    Snapshots.commitCursor(cur, Snapshots.currentVersion(t).get)
    // a delete breaks insert-only lineage -> detected, full reprocess
    Snapshots.deleteWhereMor(spark, t, col("doc_id") < 5)
    val r4 = Snapshots.readChangesSince(spark, t, cur)
    assert(r4.mode == "full" && ids(r4.df) == (5L until 23L).toSet)
  }

  test("merge upserts by key; only files holding a matched key get vectors") {
    val t = tmpDir("snap-merge")
    Snapshots.create(spark, t)
    // three appends = three disjoint doc_id ranges = three files
    Snapshots.append(spark, t, docs(10).coalesce(1))
    Snapshots.append(spark, t, docs(10, idFrom = 10).coalesce(1))
    Snapshots.append(spark, t, docs(10, idFrom = 20).coalesce(1))
    // source: updates for ids 5..9 (file 1 only) + fresh inserts 100..104
    val source = docs(5, idFrom = 5).withColumn("n_chars", lit(-1L))
      .unionByName(docs(5, idFrom = 100).withColumn("n_chars", lit(-2L)))
    val m = Snapshots.merge(spark, t, source, Seq("doc_id"))
    assert(m.version == 4)
    assert(m.filesWithDv == 1 && m.filesUntouched == 2,
      s"only the [0,10) file holds matched keys: $m")
    assert(m.rowsUpdated == 5 && m.rowsInserted == 5 && m.rowsDeleted == 0, s"row split: $m")
    assert(Snapshots.dataFiles(spark, t, 3).subsetOf(Snapshots.dataFiles(spark, t, 4)),
      "merge rewrites no data file: every pre-merge file stays referenced")
    // oracle: target rows with unmatched keys + all source rows
    val got = Snapshots.read(spark, t)
    assert(got.count() == 35)
    assert(got.filter(col("n_chars") === -1L).count() == 5)
    assert(got.filter(col("n_chars") === -2L).count() == 5)
    assert(ids(got) == ((0L until 30L) ++ (100L until 105L)).toSet)
    // files without matched keys carry untouched: no vector, no rewrite
    assert(fileEntries(4, t).count(r => r.getAs[String]("dv_path") != null) == 1,
      "only the file holding matched keys gains a vector")
    // time travel: pre-merge version still shows the old rows
    assert(Snapshots.read(spark, t, Some(3)).filter(col("n_chars") < 0).count() == 0)
    // merge breaks insert-only lineage -> diff signals fallback
    assert(Snapshots.diffAppended(spark, t, 3, 4).isEmpty)
  }

  test("merge with no matched keys is a pure insert: zero files rewritten") {
    val t = tmpDir("snap-merge-ins")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10).coalesce(1))
    val m = Snapshots.merge(spark, t, docs(5, idFrom = 50), Seq("doc_id"))
    assert(m.filesWithDv == 0 && m.filesUntouched == 1)
    assert(m.rowsUpdated == 0 && m.rowsInserted == 5)
    assert(Snapshots.dataFiles(spark, t, 1).subsetOf(Snapshots.dataFiles(spark, t, 2)),
      "every pre-merge file stays referenced")
    assert(ids(Snapshots.read(spark, t)) == ((0L until 10L) ++ (50L until 55L)).toSet)
  }

  test("merge, mergeIdempotent and the upsert sink each land one merge commit, no file rewritten") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t = tmpDir("snap-merge-one") + "/t"
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10).coalesce(1))
    Snapshots.append(spark, t, docs(10, idFrom = 10).coalesce(1))
    // one `merge` commit; every parent file stays referenced and the new
    // files are one appended group
    def landsOne(op: => Unit): Unit = {
      val v = Snapshots.currentVersion(t).get
      op
      assert(Snapshots.currentVersion(t).contains(v + 1))
      assert(Snapshots.commitInfo(spark, t, v + 1).op == "merge")
      val before = Snapshots.dataFiles(spark, t, v)
      val after = Snapshots.dataFiles(spark, t, v + 1)
      assert(before.subsetOf(after), s"a data file was rewritten: ${before -- after}")
      assert((after -- before).map(_.split("/")(1)).size == 1, s"new files: ${after -- before}")
    }
    landsOne(Snapshots.merge(spark, t,
      docs(3).withColumn("n_chars", lit(1L)), Seq("doc_id")): Unit)
    landsOne(Snapshots.mergeIdempotent(spark, t,
      docs(3, idFrom = 8).withColumn("n_chars", lit(2L)), Seq("doc_id"), "app", 0L): Unit)
    val mem = MemoryStream[(Long, String, Long)]
    mem.addData((12L, "src0", 3L), (40L, "src1", 3L))
    landsOne(graft.streaming.StreamingPipeline.snapshotUpsertWriter(
      mem.toDF().toDF("doc_id", "source", "n_chars"), t, tmpDir("snap-merge-one-ckpt"),
      appId = "sink", keyCols = Seq("doc_id")).start().awaitTermination())
    val got = Snapshots.read(spark, t)
    assert(got.count() == 21L)
    assert(got.filter(col("n_chars").between(1L, 3L)).select("doc_id").as[Long]
      .collect().toSet == Set(0L, 1L, 2L, 8L, 9L, 10L, 12L, 40L))
  }

  test("a type-conflicting merge throws before writing: version and data files unchanged") {
    import scala.jdk.CollectionConverters._
    val t = tmpDir("snap-merge-conflict")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10).coalesce(1))
    def dataDir(): Set[String] =
      JFiles.walk(JPaths.get(s"$t/data")).iterator().asScala.map(_.toString).toSet
    val v = Snapshots.currentVersion(t)
    val onDisk = dataDir()
    val bad = docs(2).withColumn("n_chars", lit("oops"))
    intercept[IllegalArgumentException](Snapshots.merge(spark, t, bad, Seq("doc_id")))
    assert(Snapshots.currentVersion(t) == v && dataDir() == onDisk, "merge left files behind")
    intercept[IllegalArgumentException](Snapshots.mergeMor(spark, t, Some(bad), Seq("doc_id"),
      Some(Seq("src1").toDF("source")), Seq("source")))
    assert(Snapshots.currentVersion(t) == v && dataDir() == onDisk, "mergeMor left files behind")
  }

  test("manifest-side pruning skips files soundly and keeps results exact") {
    val t = tmpDir("snap-prune")
    Snapshots.create(spark, t)
    (0 until 8).foreach(i => Snapshots.append(spark, t, docs(10, idFrom = i * 10).coalesce(1)))
    val plan = Snapshots.scanPlan(spark, t, col("doc_id") >= 25 && col("doc_id") < 45)
    assert(plan.filesTotal == 8)
    assert(plan.filesScanned == 3, s"ranges [20,30) [30,40) [40,50): ${plan.filesScanned}")
    assert(ids(plan.df) == (25L until 45L).toSet)
    // a predicate pruning cannot see keeps every file and still answers
    val noPrune = Snapshots.scanPlan(spark, t, col("source") === "src1")
    assert(noPrune.filesScanned == 8)
    assert(noPrune.df.count() == Snapshots.read(spark, t).filter(col("source") === "src1").count())
  }

  test("string stats prune files; write-truncated bounds stay sound") {
    val t = tmpDir("snap-strprune")
    Snapshots.create(spark, t)
    // one file per source value = tight string bounds per file
    (0 until 3).foreach(i =>
      Snapshots.append(spark, t, docs(30).filter(col("source") === s"src$i").coalesce(1)))
    val eq = Snapshots.scanPlan(spark, t, col("source") === "src1")
    assert(eq.filesTotal == 3 && eq.filesScanned == 1,
      s"equality on a string column prunes to its file: ${eq.filesScanned}")
    assert(eq.df.count() == 10)
    val rng = Snapshots.scanPlan(spark, t, col("source") >= "src1")
    assert(rng.filesScanned == 2, "string range keeps src1+src2 files")
    assert(rng.df.count() == 20)
    // bounds longer than the 16-char truncation: two prefix families, the
    // stored min is a prefix (sound lower) and the stored max majorizes
    // (incremented cut char) — equality on one family skips the other and
    // still answers exactly
    val t2 = tmpDir("snap-strtrunc")
    Snapshots.create(spark, t2)
    def fam(p: String) = spark.range(0, 10).select(
      col("id").as("doc_id"),
      concat(lit(p), lpad(col("id").cast("string"), 4, "0")).as("k"))
    Snapshots.append(spark, t2, fam("aaaaaaaaaaaaaaaaaaaa-").coalesce(1))
    Snapshots.append(spark, t2, fam("bbbbbbbbbbbbbbbbbbbb-").coalesce(1))
    val probe = "aaaaaaaaaaaaaaaaaaaa-0005"
    val tp = Snapshots.scanPlan(spark, t2, col("k") === probe)
    assert(tp.filesScanned == 1, s"the other prefix family must be skipped: ${tp.filesScanned}")
    assert(tp.df.count() == 1)
  }

  test("predicateBox extracts conjunctive numeric ranges conservatively") {
    import graft.operators.Snapshots.predicateBox
    val b1 = predicateBox(col("a") >= 3 && col("a") < 7 && col("b") === 5)
    assert(b1("a") == ((3.0, 7.0)) && b1("b") == ((5.0, 5.0)))
    // OR and non-numeric comparisons contribute nothing (no unsound pruning)
    assert(predicateBox(col("a") > 3 || col("b") < 2).isEmpty)
    assert(predicateBox(col("s") === "x").isEmpty)
    val b2 = predicateBox(lit(10) >= col("a") && col("s") === "x")
    assert(b2 == Map("a" -> ((Double.NegativeInfinity, 10.0))))
    // IN-lists contribute their span
    assert(predicateBox(col("a").isin(5, 2, 9)) == Map("a" -> ((2.0, 9.0))))
    // string twin: equality, ranges, conjunctions, ASCII-guarded IN spans
    import graft.operators.Snapshots.predicateStrBox
    assert(predicateStrBox(col("s") === "x" && col("a") > 3) ==
      Map("s" -> ((Some("x"), Some("x")))))
    assert(predicateStrBox(col("s") >= "m" && col("s") < "q") ==
      Map("s" -> ((Some("m"), Some("q")))))
    assert(predicateStrBox(col("s").isin("b", "a")) ==
      Map("s" -> ((Some("a"), Some("b")))))
    assert(predicateStrBox(col("s").isin("a", "å")).isEmpty,
      "non-ASCII IN values must contribute no constraint")
    assert(predicateStrBox(col("s") === "x" || col("s") === "y").isEmpty)
  }

  test("diffAppended returns exactly the delta, or None across non-appends") {
    val t = tmpDir("snap-diff")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10))
    Snapshots.append(spark, t, docs(10, idFrom = 10))
    Snapshots.append(spark, t, docs(10, idFrom = 20))
    val d = Snapshots.diffAppended(spark, t, 1, 3).get
    assert(ids(d) == (10L until 30L).toSet)
    assert(Snapshots.diffAppended(spark, t, 3, 3).get.count() == 0)
    Snapshots.deleteWhereMor(spark, t, col("doc_id") === 0)
    assert(Snapshots.diffAppended(spark, t, 3, 4).isEmpty,
      "a delete in the range must force the fallback signal")
  }

  test("snapshot compact preserves rows and history; expire reclaims") {
    val t = tmpDir("snap-gc")
    Snapshots.create(spark, t)
    (0 until 5).foreach(i => Snapshots.append(spark, t, docs(10, idFrom = i * 10).coalesce(1)))
    val before = Snapshots.read(spark, t)
      .agg(count(lit(1)), sum(col("n_chars"))).head()
    val (v, folded, carried) = Snapshots.compact(spark, t, targetRecordsPerFile = 1000)
    assert(folded == 5 && carried == 0, s"every file folds by default: $folded/$carried")
    assert(Snapshots.history(spark, t).head().getAs[Long]("n_files") == 1)
    val after = Snapshots.read(spark, t).agg(count(lit(1)), sum(col("n_chars"))).head()
    assert(before == after, "compaction must be row-for-row identical")
    assert(ids(Snapshots.read(spark, t, Some(v - 1))) == ids(Snapshots.read(spark, t)),
      "pre-compaction version stays readable before expire")

    val dataFiles = (p: String) => Lake.dataFileCount(spark, s"$p/data")
    val filesBefore = dataFiles(t)
    val (manifestsDropped, filesDeleted) = Snapshots.expire(spark, t, keepLast = 1)
    assert(manifestsDropped == 6, s"versions 0..5 drop, 6 retained: $manifestsDropped")
    assert(filesDeleted == filesBefore - 1, "all pre-compaction files are unreferenced")
    assert(before == Snapshots.read(spark, t).agg(count(lit(1)), sum(col("n_chars"))).head())
    intercept[Exception](Snapshots.read(spark, t, Some(1)).count())
  }

  test("clustered compaction turns a key predicate into a sharp file skip") {
    val t = tmpDir("snap-cluster")
    Snapshots.create(spark, t)
    // round-robin appends: every file spans the whole key range, so the
    // manifest boxes can skip nothing
    (0 until 4).foreach(i =>
      Snapshots.append(spark, t, docs(100).filter(col("doc_id") % 4 === i).coalesce(1)))
    val before = Snapshots.scanPlan(spark, t, col("doc_id") >= 10 && col("doc_id") < 20)
    assert(before.filesScanned == before.filesTotal,
      "interleaved layout: no file can be skipped")
    Snapshots.compact(spark, t, targetRecordsPerFile = 25, clusterBySpec = "doc_id"): Unit
    val after = Snapshots.scanPlan(spark, t, col("doc_id") >= 10 && col("doc_id") < 20)
    assert(after.filesTotal >= 4, s"compaction target keeps ~4 files: ${after.filesTotal}")
    assert(after.filesScanned <= 2,
      s"contiguous key ranges: the 10-wide predicate fits 1-2 files, got ${after.filesScanned}")
    assert(ids(after.df) == (10L until 20L).toSet, "pruning never changes the answer")
  }

  test("incremental aggregate refresh equals full recompute; idempotent") {
    val t = tmpDir("snap-agg-t")
    val a = tmpDir("snap-agg-a") + "/rollup"
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(20))
    val r1 = IncrementalAgg.refresh(spark, t, a, Seq("source"), Seq("n_chars"))
    assert(r1.mode == "full" && r1.tableVersion == 1)

    Snapshots.append(spark, t, docs(30, idFrom = 20))
    Snapshots.append(spark, t, docs(7, idFrom = 50))
    val r2 = IncrementalAgg.refresh(spark, t, a, Seq("source"), Seq("n_chars"))
    assert(r2.mode == "incremental" && r2.tableVersion == 3)

    def recompute() = Snapshots.read(spark, t).groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_n_chars"))
    def asMap(df: DataFrame) = df.collect()
      .map(r => r.getAs[String]("source") -> ((r.getAs[Long]("n"), r.getAs[Long]("sum_n_chars"))))
      .toMap
    assert(asMap(IncrementalAgg.read(spark, a)) == asMap(recompute()),
      "incrementally merged state must equal the from-scratch aggregate")

    assert(IncrementalAgg.refresh(spark, t, a, Seq("source"), Seq("n_chars")).mode == "noop")

    // a delete breaks insert-only lineage -> maintained from the CHANGELOG
    // (signed partials, cost ∝ churn), still exact
    Snapshots.deleteWhereMor(spark, t, col("doc_id") % 5 === 0)
    val r3 = IncrementalAgg.refresh(spark, t, a, Seq("source"), Seq("n_chars"))
    assert(r3.mode == "changelog" && r3.tableVersion == 4)
    assert(asMap(IncrementalAgg.read(spark, a)) == asMap(recompute()))

    // an overwrite's churn is the whole table -> full recompute
    Snapshots.overwrite(spark, t, docs(9))
    val r4 = IncrementalAgg.refresh(spark, t, a, Seq("source"), Seq("n_chars"))
    assert(r4.mode == "full" && r4.tableVersion == 5)
    assert(asMap(IncrementalAgg.read(spark, a)) == asMap(recompute()))
  }

  // --- merge-on-read deletes (position deletion vectors) ---

  private def fileEntries(v: Long, t: String): Array[org.apache.spark.sql.Row] = {
    val raw = spark.read.json(f"$t/_log/v$v%08d").filter(col("kind") === "file")
    // JSON inference drops all-null columns; restore them for the asserts
    val df = Seq("dv_path" -> "string", "dv_rows" -> "bigint").foldLeft(raw) {
      case (d, (c, ty)) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast(ty))
    }
    df.select("path", "rows", "dv_path", "dv_rows").collect()
  }

  private def dvDirsOnDisk(t: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    JFiles.list(JPaths.get(s"$t/data")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".dv")).toSet
  }

  /** Data files on disk EXCLUDING position-delete datasets. */
  private def realDataFiles(t: String): Long = {
    import scala.jdk.CollectionConverters._
    if (!JFiles.exists(JPaths.get(s"$t/data"))) return 0L
    JFiles.walk(JPaths.get(s"$t/data")).iterator().asScala.count { p =>
      val n = p.getFileName.toString
      JFiles.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".") &&
        !p.getParent.getFileName.toString.endsWith(".dv")
    }
  }

  test("merge-on-read delete marks positions without rewriting any data file") {
    val t = tmpDir("snap-mor")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10).coalesce(1))
    Snapshots.append(spark, t, docs(10, idFrom = 10).coalesce(1))
    Snapshots.append(spark, t, docs(10, idFrom = 20).coalesce(1))
    val dataFilesBefore = realDataFiles(t)
    // a SCATTERED predicate (hits every file) — the case where copy-on-write
    // would rewrite the whole table and merge-on-read must not
    val st = Snapshots.deleteWhereMor(spark, t, col("doc_id") % 7 === 0)
    assert(st.version == 4 && st.rowsDeleted == 5, s"30 ids, %7==0 -> 0,7,14,21,28: $st")
    assert(st.filesWithDv == 3 && st.filesUntouched == 0)
    assert(realDataFiles(t) == dataFilesBefore,
      "merge-on-read must rewrite ZERO data files")
    assert(dvDirsOnDisk(t).size == 1, "one position-delete dataset per commit")
    assert(ids(Snapshots.read(spark, t)) ==
      (0L until 30L).filterNot(_ % 7 == 0).toSet)
    // time travel still sees the deleted rows; history counts LIVE rows
    assert(ids(Snapshots.read(spark, t, Some(3))) == (0L until 30L).toSet)
    val h = Snapshots.history(spark, t).collect()
    assert(h.find(_.getAs[Long]("version") == 4L).get.getAs[Long]("n_rows") == 25L)
    assert(h.find(_.getAs[Long]("version") == 3L).get.getAs[Long]("n_rows") == 30L)
    // the file entries are the SAME paths, now carrying a dv reference
    val e3 = fileEntries(3, t).map(_.getAs[String]("path")).toSet
    val e4 = fileEntries(4, t)
    assert(e4.map(_.getAs[String]("path")).toSet == e3, "paths carried by reference")
    assert(e4.forall(r => Option(r.getAs[String]("dv_path")).isDefined))
    assert(e4.map(_.getAs[Long]("dv_rows")).sum == 5L)
  }

  test("a second merge-on-read delete merges each file's vector; filters apply on top") {
    val t = tmpDir("snap-mor2")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(20).coalesce(1))
    Snapshots.deleteWhereMor(spark, t, col("doc_id") < 3)
    val st2 = Snapshots.deleteWhereMor(spark, t, col("doc_id") >= 17)
    assert(st2.rowsDeleted == 3, "rows already deleted cannot re-match")
    val e = fileEntries(3, t)
    assert(e.length == 1 && e.head.getAs[Long]("dv_rows") == 6L,
      s"merged vector counts both deletes: ${e.toSeq}")
    assert(ids(Snapshots.read(spark, t)) == (3L until 17L).toSet)
    // a filtered scan applies predicate AND vectors
    val plan = Snapshots.scanPlan(spark, t, col("doc_id") <= 4)
    assert(ids(plan.df) == Set(3L, 4L))
    // a zero-match delete still commits (empty delete, history records it)
    val st3 = Snapshots.deleteWhereMor(spark, t, col("doc_id") > 1000)
    assert(st3.version == 4 && st3.rowsDeleted == 0 && st3.filesWithDv == 0)
    assert(Snapshots.read(spark, t).count() == 14)
  }

  test("compaction absorbs deletion vectors; expire reclaims unreferenced dv datasets") {
    val t = tmpDir("snap-mor-gc")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(30).coalesce(1))
    Snapshots.deleteWhereMor(spark, t, col("doc_id") % 3 === 1)
    assert(dvDirsOnDisk(t).size == 1)
    // expire with the dv-bearing version retained: the dv dataset survives
    Snapshots.append(spark, t, docs(5, idFrom = 100))
    Snapshots.expire(spark, t, keepLast = 1)
    assert(dvDirsOnDisk(t).size == 1, "a referenced dv dataset must survive expire")
    assert(ids(Snapshots.read(spark, t)) ==
      ((0L until 30L).filterNot(_ % 3 == 1) ++ (100L until 105L)).toSet)
    // compaction reads with vectors applied and writes clean files
    Snapshots.compact(spark, t)
    assert(fileEntries(Snapshots.currentVersion(t).get, t)
      .forall(r => Option(r.getAs[String]("dv_path")).isEmpty),
      "compacted files reference no vectors")
    Snapshots.expire(spark, t, keepLast = 1)
    assert(dvDirsOnDisk(t).isEmpty, "unreferenced dv dataset must be reclaimed")
    assert(ids(Snapshots.read(spark, t)) ==
      ((0L until 30L).filterNot(_ % 3 == 1) ++ (100L until 105L)).toSet)
  }

  test("rowChanges: per-commit changelog across appends, two deletes, merge, compact") {
    val t = tmpDir("snap-cdf")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10).coalesce(1)) // v1
    Snapshots.append(spark, t, docs(10, idFrom = 10).coalesce(1)) // v2
    Snapshots.deleteWhereMor(spark, t, col("doc_id") % 3 === 0) // v3
    Snapshots.deleteWhereMor(spark, t, col("doc_id") >= 15) // v4: merges the vector
    val src = docs(3).withColumn("n_chars", lit(9999L))
    Snapshots.merge(spark, t, src, Seq("doc_id")) // v5: 0 re-inserts, 1+2 update
    Snapshots.compact(spark, t) // v6

    def ch(a: Long, b: Long) = Snapshots.rowChanges(spark, t, a, b)
    def idsBy(df: DataFrame, tpe: String): Set[Long] =
      df.filter(col("_change_type") === tpe).select("doc_id").as[Long].collect().toSet

    val c1 = ch(0, 1)
    assert(idsBy(c1, "insert") == (0L until 10L).toSet && idsBy(c1, "delete").isEmpty)
    assert(c1.select("_commit_version").distinct().as[Long].collect().toSeq == Seq(1L))
    // MOR delete: the deletion-vector DELTA joined back to its rows
    val c3 = ch(2, 3)
    assert(idsBy(c3, "delete") == (0L until 20L).filter(_ % 3 == 0).toSet)
    assert(idsBy(c3, "insert").isEmpty)
    // second delete: already-vector-deleted rows (15, 18) must NOT re-delete
    val c4 = ch(3, 4)
    assert(idsBy(c4, "delete") == Set(16L, 17L, 19L), s"got ${idsBy(c4, "delete")}")
    // merge: update = delete old image + insert new image; fresh key inserts
    val c5 = ch(4, 5)
    assert(idsBy(c5, "delete") == Set(1L, 2L))
    assert(idsBy(c5, "insert") == Set(0L, 1L, 2L))
    assert(c5.filter(col("_change_type") === "insert")
      .select("n_chars").as[Long].collect().forall(_ == 9999L))
    // compaction is row-preserving: no changes
    assert(ch(5, 6).count() == 0)
    // conservation: replaying the full changelog reproduces the table
    val all = ch(0, 6)
    val cols = Snapshots.read(spark, t).columns.map(col).toIndexedSeq
    val ins = all.filter(col("_change_type") === "insert").select(cols: _*)
    val del = all.filter(col("_change_type") === "delete").select(cols: _*)
    val replay = ins.exceptAll(del)
    val table = Snapshots.read(spark, t)
    assert(replay.exceptAll(table).count() == 0 && table.exceptAll(replay).count() == 0,
      "inserts minus deletes must reproduce the table exactly")
  }

  test("rowChanges append-run collapse: per-version attribution, schema splits, delete boundaries") {
    // the run-collapse fast path (one manifest read per append RUN) must be
    // invisible: _commit_version attribution per append, schema-evolving
    // appends split the run and null-fill under THEIR version's schema, and
    // a non-append in the middle bounds the runs on both sides
    val t = tmpDir("snap-cdf-run")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(4).coalesce(1)) // v1 (run A)
    Snapshots.append(spark, t, docs(4, idFrom = 10).coalesce(1)) // v2 (run A)
    Snapshots.append(spark, t, // v3: schema evolves -> new run B
      docs(4, idFrom = 20).withColumn("extra", lit(7L)).coalesce(1))
    Snapshots.deleteWhereMor(spark, t, col("doc_id") === 10L) // v4: run boundary
    Snapshots.append(spark, t, // v5 (run C)
      docs(4, idFrom = 30).withColumn("extra", lit(8L)).coalesce(1))
    val all = Snapshots.rowChanges(spark, t, 0L, 5L)
    def vOf(id: Long): Seq[Long] = all.filter(col("doc_id") === id)
      .select("_commit_version").as[Long].collect().toSeq
    assert(vOf(0L) == Seq(1L) && vOf(10L).sorted == Seq(2L, 4L) &&
      vOf(20L) == Seq(3L) && vOf(30L) == Seq(5L),
      "every row carries its ORIGIN commit version, including inside a collapsed run")
    // v1/v2 rows read under the pre-evolution schema: extra null-fills in
    // the union; v3+ rows carry their recorded value
    val extraOf = all.filter(col("_change_type") === "insert")
      .select(col("doc_id"), col("extra")).as[(Long, Option[Long])].collect().toMap
    assert(extraOf(0L).isEmpty && extraOf(20L).contains(7L) && extraOf(30L).contains(8L))
    // conservation still holds across the collapsed + split + bounded runs
    val cols = Snapshots.read(spark, t).columns.map(col).toIndexedSeq
    val replay = all.filter(col("_change_type") === "insert").select(cols: _*)
      .exceptAll(all.filter(col("_change_type") === "delete").select(cols: _*))
    val table = Snapshots.read(spark, t)
    assert(replay.exceptAll(table).count() == 0 && table.exceptAll(replay).count() == 0)
  }

  test("changelog-maintained aggregate equals recompute across MOR deletes and merges") {
    val t = tmpDir("snap-cdf-agg")
    val a = tmpDir("snap-cdf-agg-m") + "/rollup"
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(20))
    assert(IncrementalAgg.refresh(spark, t, a, Seq("source"), Seq("n_chars")).mode == "full")
    Snapshots.deleteWhereMor(spark, t, col("doc_id") % 4 === 1)
    Snapshots.append(spark, t, docs(6, idFrom = 50))
    Snapshots.merge(spark, t, docs(4).withColumn("n_chars", lit(1000L)), Seq("doc_id"))
    val r = IncrementalAgg.refresh(spark, t, a, Seq("source"), Seq("n_chars"))
    assert(r.mode == "changelog", s"mixed delete/append/merge range: ${r.mode}")
    def asMap(df: DataFrame) = df.collect()
      .map(r => r.getAs[String]("source") -> ((r.getAs[Long]("n"), r.getAs[Long]("sum_n_chars"))))
      .toMap
    val want = asMap(Snapshots.read(spark, t).groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_n_chars")))
    assert(asMap(IncrementalAgg.read(spark, a)) == want)
    // deleting a whole key group drops it from the maintained state
    Snapshots.deleteWhereMor(spark, t, col("source") === "src0")
    assert(IncrementalAgg.refresh(spark, t, a, Seq("source"), Seq("n_chars")).mode == "changelog")
    assert(!asMap(IncrementalAgg.read(spark, a)).contains("src0"))
    assert(asMap(IncrementalAgg.read(spark, a)) == asMap(Snapshots.read(spark, t)
      .groupBy("source").agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_n_chars"))))
  }

  test("manifest-only aggregates: exact count through deletes; min/max exactness tracks vectors") {
    val t = tmpDir("snap-fast")
    Snapshots.create(spark, t)
    assert(Snapshots.fastCount(spark, t) == 0L)
    Snapshots.append(spark, t, docs(30).coalesce(2))
    assert(Snapshots.fastCount(spark, t) == 30L)
    val mm1 = Snapshots.fastMinMax(spark, t, "doc_id")
    assert(mm1.contains((0.0, 29.0, true)), s"clean table: exact bounds, got $mm1")
    Snapshots.deleteWhereMor(spark, t, col("doc_id") >= 25)
    assert(Snapshots.fastCount(spark, t) == 25L,
      "count stays EXACT through merge-on-read deletes (rows - dv_rows)")
    val mm2 = Snapshots.fastMinMax(spark, t, "doc_id")
    assert(mm2.exists(m => m._1 == 0.0 && m._2 == 29.0 && !m._3),
      s"vector-bearing file: bounds still sound but flagged inexact, got $mm2")
    // time travel: the pre-delete version still fast-counts 30
    assert(Snapshots.fastCount(spark, t, Some(1L)) == 30L)
    assert(Snapshots.fastMinMax(spark, t, "no_such_col").isEmpty)
  }

  test("compact folds only small and vector-bearing files; healthy files carry") {
    val t = tmpDir("snap-smallc")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(2000).coalesce(1)) // the one healthy big file
    (0 until 4).foreach { i =>
      Snapshots.append(spark, t, docs(5, idFrom = 3000 + i * 10).coalesce(1))
    }
    val bigBytes = Snapshots.history(spark, t)
      .filter(col("version") === 1L).head().getAs[Long]("n_bytes")
    // vector the big file too: absorbed by the fold even though it's large
    Snapshots.deleteWhereMor(spark, t, col("doc_id") < 10)
    val (v, folded, carriedN) = Snapshots.compact(spark, t, smallBytes = bigBytes / 2)
    assert(folded == 5 && carriedN == 0,
      s"4 small + 1 vector-bearing fold, none carried: folded=$folded carried=$carriedN")
    assert(ids(Snapshots.read(spark, t)) ==
      ((10L until 2000L) ++ (0 until 4).flatMap(i => (3000 + i * 10).toLong until (3005 + i * 10).toLong)).toSet)
    assert(fileEntries(v, t).forall(r => Option(r.getAs[String]("dv_path")).isEmpty),
      "the fold absorbs deletion vectors")
    // second pass: one healthy file, nothing foldable -> untouched, version unchanged
    val (v2, folded2, carried2) = Snapshots.compact(spark, t, smallBytes = 10L)
    assert(v2 == v && folded2 == 0 && carried2 >= 1)
    // a mixed table folds smalls and carries the big file BY REFERENCE
    val t2 = tmpDir("snap-smallc2")
    Snapshots.create(spark, t2)
    Snapshots.append(spark, t2, docs(2000).coalesce(1))
    (0 until 3).foreach { i =>
      Snapshots.append(spark, t2, docs(5, idFrom = 5000 + i * 10).coalesce(1))
    }
    val big2 = Snapshots.history(spark, t2)
      .filter(col("version") === 1L).head().getAs[Long]("n_bytes")
    val pathsBefore = fileEntries(4, t2).map(_.getAs[String]("path")).toSet
    val (v3, folded3, carried3) = Snapshots.compact(spark, t2, smallBytes = big2 / 2)
    assert(folded3 == 3 && carried3 == 1)
    val after = fileEntries(v3, t2).map(_.getAs[String]("path")).toSet
    assert(after.intersect(pathsBefore).size == 1, "the healthy file is the SAME path")
    assert(Snapshots.read(spark, t2).count() == 2015)
    // replace commit: the changelog emits nothing for a row-preserving fold
    assert(Snapshots.rowChanges(spark, t2, v3 - 1, v3).count() == 0)
  }

  private def snapshotScanFiles(df: DataFrame): Long = {
    df.collect()
    // descend AQE stage boundaries: collect() does not cross QueryStageExec
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

  test("planner-integrated table(): optimizer-pushed filters prune manifest-side") {
    val t = tmpDir("snap-cat")
    Snapshots.create(spark, t)
    // four disjoint doc_id stripes = four files with tiling stats boxes
    (0 until 4).foreach { i =>
      Snapshots.append(spark, t, docs(10, idFrom = i * 10).coalesce(1))
    }
    // no filter: all four files scan; content equals the reference read
    val full = Snapshots.table(spark, t)
    assert(ids(full) == ids(Snapshots.read(spark, t)))
    assert(snapshotScanFiles(full) == 4)
    // a range filter prunes to the single intersecting stripe — pushed by
    // the OPTIMIZER, no explicit scanPlan plumbing
    val one = Snapshots.table(spark, t).filter(col("doc_id") >= 12 && col("doc_id") <= 17)
    assert(ids(one) == (12L to 17L).toSet)
    assert(snapshotScanFiles(one) == 1, "planner-pushed range must scan ONE file")
    // equality on a string column prunes via the truncated string bounds
    val t2 = tmpDir("snap-cat-str")
    Snapshots.create(spark, t2)
    Seq("aa", "bb", "cc").foreach { s2 =>
      Snapshots.append(spark, t2,
        docs(10).withColumn("source", lit(s2)).coalesce(1))
    }
    val sOne = Snapshots.table(spark, t2).filter(col("source") === "bb")
    assert(sOne.count() == 10)
    assert(snapshotScanFiles(sOne) == 1, "string equality must scan ONE file")
    // join sizing comes from the manifest: the logical stats are real bytes
    val stats = Snapshots.table(spark, t).queryExecution.optimizedPlan.stats.sizeInBytes
    val manifestBytes = Snapshots.history(spark, t).head().getAs[Long]("n_bytes")
    assert(stats.toLong == manifestBytes, s"stats $stats != manifest $manifestBytes")
    // ANSI SQL over a registered view rides the same manifest pruning
    Snapshots.table(spark, t).createOrReplaceTempView("snap_cat_sql")
    val viaSql = spark.sql(
      "SELECT doc_id FROM snap_cat_sql WHERE doc_id >= 12 AND doc_id <= 17")
    assert(viaSql.as[Long].collect().toSet == (12L to 17L).toSet)
    assert(snapshotScanFiles(viaSql) == 1, "SQL path must prune manifest-side too")
  }

  test("planner-integrated table() applies deletion vectors and still prunes") {
    val t = tmpDir("snap-cat-dv")
    Snapshots.create(spark, t)
    (0 until 4).foreach { i =>
      Snapshots.append(spark, t, docs(10, idFrom = i * 10).coalesce(1))
    }
    Snapshots.deleteWhereMor(spark, t, col("doc_id") % 5 === 3)
    val df = Snapshots.table(spark, t)
    assert(ids(df) == (0L until 40L).filterNot(_ % 5 == 3).toSet)
    // data filters push THROUGH the anti-join's left side to the manifest
    val one = df.filter(col("doc_id") >= 12 && col("doc_id") <= 17)
    assert(ids(one) == (12L to 17L).filterNot(_ % 5 == 3).toSet)
    assert(snapshotScanFiles(one) == 1,
      "pruning must survive the deletion-vector anti-join")
    // time travel through the planner path
    assert(ids(Snapshots.table(spark, t, Some(4L))) == (0L until 40L).toSet)
  }

  test("deleteKeysMor retires keys without rewriting files; CDC apply is exactly-once") {
    val t = tmpDir("snap-keydel")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(20).coalesce(1))
    val files0 = realDataFiles(t)
    val st = Snapshots.deleteKeysMor(spark, t,
      Seq(1L, 5L, 9L, 999L).toDF("doc_id"), Seq("doc_id"))
    assert(st.rowsDeleted == 3, s"unknown key 999 deletes nothing: $st")
    assert(realDataFiles(t) == files0, "keyed MOR delete rewrites nothing")
    assert(ids(Snapshots.read(spark, t)) == (0L until 20L).toSet -- Set(1L, 5L, 9L))
    // re-deleting the same keys is a no-op (DV-applied scan finds no positions)
    assert(Snapshots.deleteKeysMor(spark, t,
      Seq(1L, 5L).toDF("doc_id"), Seq("doc_id")).rowsDeleted == 0)

    // full CDC batch: delete 2 keys, update 2, insert 1 — exactly once
    val t2 = tmpDir("snap-cdc")
    Snapshots.create(spark, t2)
    Snapshots.append(spark, t2, docs(10).coalesce(1))
    val batch = Seq(
      (2L, 0L, "delete"), (4L, 0L, "delete"),
      (0L, 7777L, "u"), (3L, 7777L, "u"), (100L, 7777L, "u"))
      .toDF("doc_id", "n_chars", "op")
      .withColumn("source", lit("srcX"))
      .select("doc_id", "source", "n_chars", "op")
    val r1 = Snapshots.applyCdcIdempotent(
      spark, t2, batch, Seq("doc_id"), "op", "cdc", 0L)
    assert(r1.exists(s => s.rowsDeleted == 2 && s.rowsUpdated == 2 && s.rowsInserted == 1), s"$r1")
    assert(ids(Snapshots.read(spark, t2)) ==
      ((0L until 10L).toSet -- Set(2L, 4L)) + 100L)
    assert(Snapshots.read(spark, t2).filter(col("n_chars") === 7777L).count() == 3)
    // replay of the whole batch: detected from the txn marker, skipped
    assert(Snapshots.applyCdcIdempotent(
      spark, t2, batch, Seq("doc_id"), "op", "cdc", 0L).isEmpty)
    assert(Snapshots.read(spark, t2).count() == 9)
    // crash BETWEEN delete and merge: delete landed, marker didn't — the
    // replay re-runs the delete as a no-op and the merge lands once
    val batch2 = Seq((0L, 0L, "delete"), (5L, 8888L, "u"))
      .toDF("doc_id", "n_chars", "op")
      .withColumn("source", lit("srcX"))
      .select("doc_id", "source", "n_chars", "op")
    Snapshots.deleteKeysMor(spark, t2,
      batch2.filter(col("op") === "delete").select("doc_id"), Seq("doc_id")): Unit
    val r2 = Snapshots.applyCdcIdempotent(
      spark, t2, batch2, Seq("doc_id"), "op", "cdc", 1L)
    assert(r2.exists(s => s.rowsDeleted == 0 && s.rowsUpdated == 1), s"$r2")
    assert(ids(Snapshots.read(spark, t2)) ==
      ((1L until 10L).toSet -- Set(2L, 4L)) + 100L)
    assert(Snapshots.read(spark, t2).filter(col("doc_id") === 5L)
      .head().getAs[Long]("n_chars") == 8888L)
  }

  test("mergeMor is merge-then-deleteKeysMor in one commit; no rewrite; changelog nets the same") {
    // a table of two files with a prior vector (key 7), keyed by doc_id,
    // retired by source; upserts carry explicit sources so 32 is retired,
    // and 13's upsert is retired while its live row (src1) is not
    val one = tmpDir("snap-mor-merge")
    Snapshots.create(spark, one)
    Snapshots.append(spark, one, docs(10).coalesce(1))
    Snapshots.append(spark, one, docs(10, idFrom = 10).coalesce(1))
    Snapshots.deleteKeysMor(spark, one, Seq(7L).toDF("doc_id"), Seq("doc_id")): Unit
    val ups = Seq((5L, "src0", 5555L), (7L, "src1", 5555L), (12L, "src0", 5555L),
      (13L, "src2", 5555L), (30L, "src0", 5555L), (32L, "src2", 5555L))
      .toDF("doc_id", "source", "n_chars")
    val retire = Seq("src2").toDF("source")
    val cols = Seq("doc_id", "source", "n_chars").map(col)
    val old = Snapshots.read(spark, one, Some(3L)).select(cols: _*)
    // the reference, replayed on plain DataFrames: old live rows without an
    // upserted key, plus the upserts, minus every row whose key is retired
    val want = old.join(ups.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(ups).join(retire, Seq("source"), "left_anti").select(cols: _*)
    val m = Snapshots.mergeMor(spark, one, Some(ups), Seq("doc_id"),
      Some(retire), Seq("source")).get
    // one commit, op merge, and the only new data file is the appended group
    assert(m.version == 4L && Snapshots.currentVersion(one).contains(4L))
    assert(Snapshots.commitInfo(spark, one, 4L).op == "merge")
    def referenced(v: Long): Set[String] = Snapshots.dataFiles(spark, one, v)
    assert(referenced(3L).subsetOf(referenced(4L)) &&
      (referenced(4L) -- referenced(3L)).map(_.split("/")(1)).size == 1,
      "mergeMor rewrites no data file; its upserts land as one file group")
    // live src2 rows 2, 5, 8, 11, 14, 17 retire, and live 13 dies with its
    // retired upsert (merge replaces it, the delete drops the replacement);
    // 12 is replaced; the upsert rows less the retired 13 and 32 (5, 7, 12,
    // 30) append; 5's key also matched a retired row, so only 12 counts as
    // an update
    assert((m.rowsDeleted, m.rowsUpdated, m.rowsInserted) == ((7L, 1L, 3L)), s"$m")
    assert(m.filesWithDv == 2L && m.filesUntouched == 0L, s"$m")
    // the table equals the replay
    val a = Snapshots.read(spark, one).select(cols: _*)
    assert(a.exceptAll(want).count() == 0 && want.exceptAll(a).count() == 0)
    assert(ids(a) == (0L until 20L).toSet -- Set(2L, 8L, 11L, 13L, 14L, 17L) + 30L)
    assert(Snapshots.fastCount(spark, one) == a.count(), "dv_rows stay exact through the merge")
    // the changelog over the one commit nets to the replay's signed
    // multiset: +1 for a row only the replay holds, -1 for one only the old
    // table holds
    def signed(df: DataFrame, s: Long) = df.withColumn("s", lit(s))
    def net(df: DataFrame): Set[(Long, String, Long, Long)] =
      df.groupBy("doc_id", "source", "n_chars").agg(sum("s").as("s"))
        .filter(col("s") =!= 0L)
        .as[(Long, String, Long, Long)].collect().toSet
    val changes = Snapshots.rowChanges(spark, one, 3L, 4L)
      .withColumn("s", when(col("_change_type") === "insert", 1L).otherwise(-1L))
      .select((cols :+ col("s")): _*)
    val expected = signed(want, 1L).unionByName(signed(old, -1L))
    assert(net(changes) == net(expected) && net(changes).nonEmpty)
    // a later keyed delete folds this commit's vectors (no double count)
    val d = Snapshots.deleteKeysMor(spark, one, Seq(0L, 12L).toDF("doc_id"), Seq("doc_id"))
    assert(d.rowsDeleted == 2L)
    assert(Snapshots.fastCount(spark, one) == Snapshots.read(spark, one).count())
  }

  test("a vector folds from its own dataset when an older dataset also names its positions") {
    val t = tmpDir("snap-dv-fold")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10).coalesce(1))
    Snapshots.append(spark, t, docs(10, idFrom = 10).coalesce(1))
    def del(keys: Long*) = Snapshots.deleteKeysMor(spark, t, keys.toDF("doc_id"), Seq("doc_id"))
    del(1L, 11L) // v3: one dataset for both files
    del(2L) // v4: the first file's merged vector; the second still points at v3's
    val st = del(3L, 12L) // v5: reads both datasets; v3's repeats position 1
    assert(st.rowsDeleted == 2L && st.filesWithDv == 2L, s"$st")
    assert(Snapshots.fastCount(spark, t) == 15L && Snapshots.read(spark, t).count() == 15L)
    val ch = Snapshots.rowChanges(spark, t, 4L, 5L)
    assert(ch.filter(col("_change_type") === "delete").select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(3L, 12L), "the changelog must hold only the new deletes")
    assert(ch.filter(col("_change_type") === "insert").count() == 0L)
  }

  test("merge, deleteKeysMor and mergeMor release every RDD they persist") {
    val t = tmpDir("snap-leak")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(20).coalesce(1))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    Snapshots.merge(spark, t, docs(3).withColumn("n_chars", lit(1L)), Seq("doc_id")): Unit
    assert(sc.getPersistentRDDs.size == before, "merge leaked a persisted RDD")
    Snapshots.deleteKeysMor(spark, t, Seq(4L).toDF("doc_id"), Seq("doc_id")): Unit
    assert(sc.getPersistentRDDs.size == before, "deleteKeysMor leaked a persisted RDD")
    Snapshots.mergeMor(spark, t, Some(docs(2, idFrom = 5)), Seq("doc_id"),
      Some(Seq("src1").toDF("source")), Seq("source")): Unit
    assert(sc.getPersistentRDDs.size == before, "mergeMor leaked a persisted RDD")
  }

  test("mergeMor conflicts with a concurrent append that may hold an upsert or retired key") {
    val ups = Seq((5L, "src0", 1L)).toDF("doc_id", "source", "n_chars")
    def attempt(t: String, retired: String, appended: DataFrame) = {
      val once = new java.util.concurrent.atomic.AtomicBoolean(false)
      Snapshots.preCommitHook = () =>
        if (once.compareAndSet(false, true)) Snapshots.append(spark, t, appended.coalesce(1)): Unit
      try Snapshots.mergeMor(spark, t, Some(ups), Seq("doc_id"),
        Some(Seq(retired).toDF("source")), Seq("source"))
      finally Snapshots.preCommitHook = () => ()
    }
    def fresh(name: String): String = {
      val t = tmpDir(name)
      Snapshots.create(spark, t)
      Snapshots.append(spark, t, docs(10).coalesce(1))
      t
    }
    // the appended ids 3..7 may hold the upsert key 5 (retired "zzz" cannot match)
    val t1 = fresh("snap-mor-conflict-key")
    intercept[java.util.ConcurrentModificationException](attempt(t1, "zzz", docs(5, idFrom = 3)))
    assert(Snapshots.currentVersion(t1).contains(2L), "the conflicting commit must not land")
    // the appended sources may hold the retired "src1" (ids far from 5)
    val t2 = fresh("snap-mor-conflict-retire")
    intercept[java.util.ConcurrentModificationException](attempt(t2, "src1", docs(5, idFrom = 1000)))
    // disjoint on both: the commit rebases over the append and every row lands
    val t3 = fresh("snap-mor-rebase")
    val m = attempt(t3, "src1", docs(5, idFrom = 1000).withColumn("source", lit("aaa"))).get
    assert(m.version == 3L)
    assert(ids(Snapshots.read(spark, t3)) ==
      (0L until 10L).filter(_ % 3 != 1).toSet ++ (1000L until 1005L) + 5L)
  }

  test("concurrent committers serialize on the commit lock; no append is lost") {
    val t = tmpDir("snap-race")
    Snapshots.create(spark, t)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val results = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            Snapshots.append(spark, t, docs(10, idFrom = i * 100).coalesce(1))
        })
      }
      val versions = results.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(versions.toSet.size == 8, s"each append lands its own version: $versions")
      assert(Snapshots.currentVersion(t).contains(8L))
      assert(ids(Snapshots.read(spark, t)) ==
        (0 until 8).flatMap(i => (i * 100).toLong until (i * 100 + 10).toLong).toSet,
        "every concurrent append's rows are present — none lost to the manifest race")
    } finally { pool.shutdownNow(); () }
    // a leftover lock from a crashed committer is broken once stale
    JFiles.write(JPaths.get(s"$t/_commit_lock"), "dead-owner".getBytes)
    val prevStale = Snapshots.staleLockMs
    Snapshots.staleLockMs = 1L
    try {
      Thread.sleep(5)
      assert(Snapshots.append(spark, t, docs(3, idFrom = 5000)) == 9L,
        "stale lock must break and the commit proceed")
    } finally Snapshots.staleLockMs = prevStale
    // a HELD (fresh) lock blocks a committer past lockWaitMs, loudly
    JFiles.write(JPaths.get(s"$t/_commit_lock"), "live-owner".getBytes)
    val prevWait = Snapshots.lockWaitMs
    Snapshots.lockWaitMs = 300L
    try intercept[IllegalStateException] {
      Snapshots.append(spark, t, docs(3, idFrom = 6000))
    } finally {
      Snapshots.lockWaitMs = prevWait
      JFiles.delete(JPaths.get(s"$t/_commit_lock"))
    }
  }

  test("expire with an orphan grace window spares in-flight staged groups") {
    val t = tmpDir("snap-grace")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10))
    // another writer's staged-but-uncommitted group: referenced by NO manifest
    val staged = Snapshots.stageAppend(spark, t, docs(5, idFrom = 100))
    Snapshots.append(spark, t, docs(10, idFrom = 10))
    // graceless expire would reap the staged group as garbage...
    val (_, reaped) = Snapshots.expire(spark, t, keepLast = 1, orphanGraceMs = 3600000L)
    assert(reaped == 0L, s"young orphans must survive a graced expire, reaped=$reaped")
    // ...and the staged group still commits after the sweep
    val v = Snapshots.commitStaged(spark, t, staged)
    assert(ids(Snapshots.read(spark, t, Some(v))) ==
      ((0L until 20L) ++ (100L until 105L)).toSet)
    // once superseded (referenced by a DROPPED manifest), files reclaim
    // immediately despite the grace window
    Snapshots.compact(spark, t)
    val (_, reaped2) = Snapshots.expire(spark, t, keepLast = 1, orphanGraceMs = 3600000L)
    assert(reaped2 > 0L, "committed-then-superseded files reclaim regardless of age")
    assert(ids(Snapshots.read(spark, t)) == ((0L until 20L) ++ (100L until 105L)).toSet)
  }

  test("expire's grace window spares a young empty commit dir, not one its sweep emptied") {
    val t = tmpDir("snap-grace-empty")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10))
    // another writer has just created its commit dir and staged nothing yet
    val fresh = JPaths.get(s"$t/data/c00000099-fresh")
    JFiles.createDirectories(fresh)
    // crash garbage past the window: the sweep deletes the file, which
    // leaves its dir empty with a fresh mtime
    val stale = JPaths.get(s"$t/data/c00000098-stale")
    JFiles.createDirectories(stale)
    val orphan = JFiles.write(stale.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    orphan.toFile.setLastModified(System.currentTimeMillis() - 7200000L)
    val (_, reaped) = Snapshots.expire(spark, t, keepLast = 1, orphanGraceMs = 3600000L)
    assert(reaped == 1L, s"the stale orphan reclaims, reaped=$reaped")
    assert(JFiles.isDirectory(fresh), "a young empty commit dir must survive a graced expire")
    assert(!JFiles.exists(stale), "a dir the sweep itself emptied is still removed")
    Snapshots.expire(spark, t, keepLast = 1)
    assert(!JFiles.exists(fresh), "without a grace window the empty dir is debris")
    assert(ids(Snapshots.read(spark, t)) == (0L until 10L).toSet)
  }

  test("shallow clone: zero data copied; the clone evolves independently of the source") {
    val src = tmpDir("snap-clone-src")
    val dst = tmpDir("snap-clone-dst") + "/t"
    Snapshots.create(spark, src)
    Snapshots.append(spark, src, docs(20).coalesce(1))
    Snapshots.deleteWhereMor(spark, src, col("doc_id") < 2) // clone carries the vector too
    Snapshots.shallowClone(spark, src, dst)
    assert(realDataFiles(dst) == 0, "a shallow clone copies NO data")
    assert(ids(Snapshots.table(spark, dst)) == (2L until 20L).toSet,
      "clone reads the source's files in place, vectors applied")
    // clone-side mutations never touch the source
    Snapshots.append(spark, dst, docs(5, idFrom = 100))
    Snapshots.deleteWhereMor(spark, dst, col("doc_id") >= 15 && col("doc_id") < 20)
    Snapshots.merge(spark, dst,
      docs(3, idFrom = 2).withColumn("n_chars", lit(4242L)), Seq("doc_id"))
    assert(ids(Snapshots.read(spark, dst)) ==
      ((2L until 15L) ++ (100L until 105L)).toSet)
    assert(ids(Snapshots.read(spark, src)) == (2L until 20L).toSet,
      "the source is untouched by clone mutations")
    // expire on the clone must not reclaim shared source files
    Snapshots.expire(spark, dst, keepLast = 1)
    assert(ids(Snapshots.read(spark, src)) == (2L until 20L).toSet)
    assert(ids(Snapshots.read(spark, dst)) ==
      ((2L until 15L) ++ (100L until 105L)).toSet)
    // compact deep-copies on demand: afterwards the clone is self-contained
    Snapshots.compact(spark, dst)
    val absLeft = fileEntries(Snapshots.currentVersion(dst).get, dst)
      .count(_.getAs[String]("path").startsWith("/"))
    assert(absLeft == 0, "post-compact the clone references only its own files")
  }

  test("compact deep-copies a clone of a one-file, vector-free table") {
    val src = tmpDir("snap-clone1-src")
    val dst = tmpDir("snap-clone1-dst") + "/t"
    Snapshots.create(spark, src)
    Snapshots.append(spark, src, docs(20).coalesce(1))
    Snapshots.shallowClone(spark, src, dst)
    // one fitting, vector-free file, but the source's: not a no-op
    val (v, folded, carried) = Snapshots.compact(spark, dst)
    assert((v, folded, carried) == ((1L, 1L, 0L)))
    val absLeft = fileEntries(v, dst).count(_.getAs[String]("path").startsWith("/"))
    assert(absLeft == 0, "post-compact the clone references only its own files")
    // retiring the source's files no longer reaches the clone
    Snapshots.append(spark, src, docs(5, idFrom = 100).coalesce(1))
    Snapshots.compact(spark, src)
    Snapshots.expire(spark, src, keepLast = 1)
    assert(ids(Snapshots.read(spark, dst)) == (0L until 20L).toSet)
  }

  test("row-changelog cursor stays incremental across deletes; resets only on overwrite") {
    val t = tmpDir("snap-cdfeed")
    val cur = tmpDir("snap-cdfeed-ckpt") + "/c"
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10))
    val r1 = Snapshots.readRowChangesSince(spark, t, cur)
    assert(r1.mode == "full" && r1.df.count() == 10)
    Snapshots.commitCursor(cur, r1.toV)
    // a delete + an append: the insert-only cursor would be forced to a
    // full re-read here; the changelog cursor stays incremental
    Snapshots.deleteWhereMor(spark, t, col("doc_id") < 3)
    Snapshots.append(spark, t, docs(5, idFrom = 100))
    val r2 = Snapshots.readRowChangesSince(spark, t, cur)
    assert(r2.mode == "changelog", s"delete in range must NOT force a reset: ${r2.mode}")
    assert(ids(r2.df.filter(col("_change_type") === "delete")) == Set(0L, 1L, 2L))
    assert(ids(r2.df.filter(col("_change_type") === "insert")) == (100L until 105L).toSet)
    Snapshots.commitCursor(cur, r2.toV)
    assert(Snapshots.readRowChangesSince(spark, t, cur).mode == "noop")
    // an overwrite's churn is the table: the feed resets to a full round
    Snapshots.overwrite(spark, t, docs(4))
    val r4 = Snapshots.readRowChangesSince(spark, t, cur)
    assert(r4.mode == "full" && r4.df.count() == 4)
    assert(r4.df.select("_change_type").distinct().as[String].collect().toSeq == Seq("insert"))
  }

  test("maintain folds small-file debt and expires history in one call") {
    val t = tmpDir("snap-maint")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(2000).coalesce(1))
    (0 until 3).foreach { i =>
      Snapshots.append(spark, t, docs(5, idFrom = 3000 + i * 10).coalesce(1))
    }
    Snapshots.deleteWhereMor(spark, t, col("doc_id") < 5)
    val big = Snapshots.history(spark, t)
      .filter(col("version") === 1L).head().getAs[Long]("n_bytes")
    val (folded, manifests, reclaimed) =
      Snapshots.maintain(spark, t, smallBytes = big / 2, keepLast = 1, orphanGraceMs = 0L)
    assert(folded == 4, s"3 smalls + the vector-bearing big file fold: $folded")
    assert(manifests > 0 && reclaimed > 0, s"history reclaimed: $manifests/$reclaimed")
    assert(ids(Snapshots.read(spark, t)) ==
      ((5L until 2000L) ++ (0 until 3).flatMap(i =>
        (3000 + i * 10).toLong until (3005 + i * 10).toLong)).toSet)
  }

  test("a fold applies merged vectors; merge skips vector-deleted rows") {
    val t = tmpDir("snap-mor-fold")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(20).coalesce(1))
    Snapshots.deleteWhereMor(spark, t, col("doc_id") < 5)
    Snapshots.deleteWhereMor(spark, t, col("doc_id") >= 18)
    // the fold rewrites the file: the rewrite must apply the merged vector
    val (_, folded, _) = Snapshots.compact(spark, t)
    assert(folded == 1)
    assert(ids(Snapshots.read(spark, t)) == (5L until 18L).toSet)
    assert(fileEntries(Snapshots.currentVersion(t).get, t)
      .forall(r => Option(r.getAs[String]("dv_path")).isEmpty))
    // merge against a vector-carrying file: deleted keys are NOT matches
    val t2 = tmpDir("snap-mor-merge")
    Snapshots.create(spark, t2)
    Snapshots.append(spark, t2, docs(20).coalesce(1))
    Snapshots.deleteWhereMor(spark, t2, col("doc_id") < 5)
    val src = docs(8).withColumn("n_chars", lit(7777L))
    val m = Snapshots.merge(spark, t2, src, Seq("doc_id"))
    assert(m.rowsUpdated == 3 && m.rowsInserted == 5,
      s"ids 0-4 are deleted -> 5,6,7 update and 0-4 re-insert: $m")
    val r = Snapshots.read(spark, t2)
    assert(r.count() == 20 && r.filter(col("n_chars") === 7777L).count() == 8)
  }

  test("a predicate delete keeps NULL-evaluating rows (SQL DELETE semantics), folded or not") {
    val data = Seq((1L, Some(10L)), (2L, None), (3L, Some(99L)), (4L, None))
      .toDF("doc_id", "score")
    val t = tmpDir("snap-nulldel-mor")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, data)
    val st = Snapshots.deleteWhereMor(spark, t, col("score") > 50)
    assert(st.rowsDeleted == 1, s"only the row whose predicate is TRUE dies: $st")
    assert(ids(Snapshots.read(spark, t)) == Set(1L, 2L, 4L),
      "rows where the predicate evaluates to NULL must survive a DELETE")
    // the fold's rewritten, vector-free files agree with the vectors
    Snapshots.compact(spark, t): Unit
    assert(fileEntries(Snapshots.currentVersion(t).get, t)
      .forall(r => Option(r.getAs[String]("dv_path")).isEmpty))
    assert(ids(Snapshots.read(spark, t)) == Set(1L, 2L, 4L),
      "a fold of the delete must keep the NULL-evaluating rows too")
  }

  test("pruning and keyed ops stay sound for long keys beyond double precision") {
    val t = tmpDir("snap-bigkeys")
    Snapshots.create(spark, t)
    val big = 1L << 62 // double ulp here is 1024: every stat is rounded
    Snapshots.append(spark, t,
      Seq(big + 1L, big + 513L, big + 900L).toDF("doc_id").coalesce(1))
    val probe = big + 513L
    val plan = Snapshots.scanPlan(spark, t, col("doc_id") === probe)
    assert(plan.filesScanned == 1 && plan.df.count() == 1,
      "a file holding the key must never be skipped by double rounding")
    val m = Snapshots.merge(spark, t,
      Seq((probe, 1L)).toDF("doc_id", "flag"), Seq("doc_id"))
    assert(m.rowsUpdated == 1, s"merge by a beyond-2^53 key must find its row: $m")
    val st = Snapshots.deleteWhereMor(spark, t, col("doc_id") === (big + 1L))
    assert(st.rowsDeleted == 1 && st.filesWithDv == 1 && Snapshots.read(spark, t).count() == 2,
      s"the delete must mark the row in the file holding the rounded key: $st")
  }

  test("a merge commits over concurrent disjoint appends: every commit lands") {
    val t = tmpDir("snap-rebase-merge")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10).coalesce(1)) // v1
    // 4 appends land AFTER the merge plans its rewrite, BEFORE it commits;
    // their key ranges are disjoint from the merge's, so all 6 commits land
    val once = new java.util.concurrent.atomic.AtomicBoolean(false)
    Snapshots.preCommitHook = () =>
      if (once.compareAndSet(false, true))
        (0 until 4).foreach { i =>
          Snapshots.append(spark, t, docs(5, idFrom = 1000 + i * 10).coalesce(1)): Unit
        }
    val m =
      try Snapshots.merge(spark, t,
        docs(3).withColumn("n_chars", lit(7777L)), Seq("doc_id"))
      finally Snapshots.preCommitHook = () => ()
    assert(m.version == 6L, s"the merge rebases onto the appends' child version: $m")
    assert(Snapshots.currentVersion(t).contains(6L))
    val got = Snapshots.read(spark, t)
    assert(got.filter(col("n_chars") === 7777L).count() == 3, "the merge's updates landed")
    assert(ids(got) == ((0L until 10L) ++
      (0 until 4).flatMap(i => (1000 + i * 10).toLong until (1005 + i * 10).toLong)).toSet,
      "no concurrent append's rows were lost to the merge's rebase")
  }

  test("a delete racing an append that may match its predicate is a genuine conflict") {
    val t = tmpDir("snap-rebase-conflict")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10).coalesce(1))
    // ids 3..7 intersect the delete's (-inf, 5) predicate box
    val once = new java.util.concurrent.atomic.AtomicBoolean(false)
    Snapshots.preCommitHook = () =>
      if (once.compareAndSet(false, true))
        Snapshots.append(spark, t, docs(5, idFrom = 3).coalesce(1)): Unit
    try intercept[java.util.ConcurrentModificationException] {
      Snapshots.deleteWhereMor(spark, t, col("doc_id") < 5)
    } finally Snapshots.preCommitHook = () => ()
    assert(Snapshots.currentVersion(t).contains(2L),
      "the conflicting delete must not commit; the append stands")
    assert(Snapshots.read(spark, t).count() == 15)
    // re-run against the refreshed base: sees BOTH files' matching rows
    val rerun = Snapshots.deleteWhereMor(spark, t, col("doc_id") < 5)
    assert(rerun.rowsDeleted == 7 && rerun.filesWithDv == 2, s"0-4 and 3-4: $rerun")
    assert(ids(Snapshots.read(spark, t)) == (5L until 10L).toSet)

    // an intervening NON-append never commutes, even when disjoint
    val once2 = new java.util.concurrent.atomic.AtomicBoolean(false)
    Snapshots.preCommitHook = () =>
      if (once2.compareAndSet(false, true))
        Snapshots.deleteWhereMor(spark, t, col("doc_id") === 9L): Unit
    try intercept[java.util.ConcurrentModificationException] {
      Snapshots.deleteWhereMor(spark, t, col("doc_id") === 5L)
    } finally Snapshots.preCommitHook = () => ()
    assert(ids(Snapshots.read(spark, t)) == (5L until 9L).toSet)
  }

  test("a replace commutes with a concurrent append (maintain vs streaming sink)") {
    val t = tmpDir("snap-rebase-replace")
    Snapshots.create(spark, t)
    (0 until 3).foreach(i => Snapshots.append(spark, t, docs(5, idFrom = i * 10).coalesce(1)))
    val once = new java.util.concurrent.atomic.AtomicBoolean(false)
    Snapshots.preCommitHook = () =>
      if (once.compareAndSet(false, true))
        Snapshots.append(spark, t, docs(5, idFrom = 500).coalesce(1)): Unit
    val (v, folded, _) =
      try Snapshots.compact(spark, t)
      finally Snapshots.preCommitHook = () => ()
    assert(v == 5L && folded == 3L, s"replace lands after the racing append: v=$v folded=$folded")
    assert(ids(Snapshots.read(spark, t)) ==
      ((0 until 3).flatMap(i => (i * 10).toLong until (i * 10 + 5).toLong) ++
        (500L until 505L)).toSet,
      "the racing append's rows survive the replace")
    // the appended small file just waits for the next maintenance round
    val (_, folded2, _) = Snapshots.compact(spark, t)
    assert(folded2 == 2L, s"compacted output + the raced-in file fold next round: $folded2")
  }

  test("exactly-once holds for CONCURRENT same-appId writers (in-lock txn re-check)") {
    val t = tmpDir("snap-txn-race")
    Snapshots.create(spark, t)
    // the rival writer lands the SAME (appId, txnV) after our unlocked
    // pre-check passed but before our commit section takes the lock
    val once = new java.util.concurrent.atomic.AtomicBoolean(false)
    Snapshots.preCommitHook = () =>
      if (once.compareAndSet(false, true))
        Snapshots.append(spark, t, docs(10), txn = Some(("app", 0L))): Unit
    val r =
      try Snapshots.appendIdempotent(spark, t, docs(10), "app", 0L)
      finally Snapshots.preCommitHook = () => ()
    assert(r.isEmpty, "the loser must detect the rival's marker inside the lock and skip")
    assert(Snapshots.read(spark, t).count() == 10, "the batch landed exactly once")
    // same guard on the merge path
    val once2 = new java.util.concurrent.atomic.AtomicBoolean(false)
    Snapshots.preCommitHook = () =>
      if (once2.compareAndSet(false, true))
        Snapshots.merge(spark, t, docs(3, idFrom = 50), Seq("doc_id"),
          txn = Some(("app", 1L))): Unit
    val r2 =
      try Snapshots.mergeIdempotent(spark, t, docs(3, idFrom = 50), Seq("doc_id"), "app", 1L)
      finally Snapshots.preCommitHook = () => ()
    assert(r2.isEmpty, "the losing merge must skip inside the lock")
    assert(Snapshots.read(spark, t).count() == 13)
  }

  test("recorded clustering discipline: appends and maintenance re-cluster automatically") {
    val t = tmpDir("snap-cspec")
    Snapshots.create(spark, t)
    // interleaved appends: every file spans the whole key range
    (0 until 4).foreach(i =>
      Snapshots.append(spark, t, docs(100).filter(col("doc_id") % 4 === i).coalesce(1)))
    def plan(lo: Long, hi: Long) =
      Snapshots.scanPlan(spark, t, col("doc_id") >= lo && col("doc_id") < hi)
    val before = plan(10, 20)
    assert(before.filesScanned == before.filesTotal, "interleaved: nothing skips")
    // ONE compact records the discipline; the layout turns sharp
    Snapshots.compact(spark, t, targetRecordsPerFile = 25, clusterBySpec = "doc_id"): Unit
    assert(Snapshots.clusterSpec(spark, t).contains("doc_id"))
    val after = plan(10, 20)
    assert(after.filesScanned <= 2, s"clustered: ${after.filesScanned}/${after.filesTotal}")
    // a subsequent append INHERITS the spec: its delta lands clustered
    Snapshots.append(spark, t, docs(100, idFrom = 1000), maxRecordsPerFile = 25L)
    assert(Snapshots.clusterSpec(spark, t).contains("doc_id"), "spec carries forward")
    val ap = plan(1010, 1020)
    assert(ap.filesScanned <= 2,
      s"clustered append delta must prune: ${ap.filesScanned}/${ap.filesTotal}")
    assert(ids(ap.df) == (1010L until 1020L).toSet)
    // maintenance folds re-cluster by the recorded spec
    val (_, folded, _) = Snapshots.compact(spark, t, targetRecordsPerFile = 25)
    assert(folded >= 2)
    val m = plan(30, 40)
    assert(m.filesScanned <= 2, s"post-fold: ${m.filesScanned}/${m.filesTotal}")
    assert(ids(m.df) == (30L until 40L).toSet)
    // z-order spec parses to one interleaved key; a bad spec is loud
    assert(Snapshots.clusterCols("z:a,b:8").length == 1)
    assert(Snapshots.clusterCols("a, b").length == 2)
    intercept[IllegalArgumentException](Snapshots.clusterCols("z:a:8"))
  }

  test("restore rolls back by reference; schema and changelog follow; reclaimed versions fail fast") {
    val t = tmpDir("snap-restore")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10).coalesce(1)) // v1: the good state
    Snapshots.append(spark, t,
      docs(5, idFrom = 100).withColumn("bad", lit(true)).coalesce(1)) // v2: bad batch
    Snapshots.deleteWhereMor(spark, t, col("doc_id") < 3) // v3: bad delete
    val filesBefore = realDataFiles(t)
    val v = Snapshots.restore(spark, t, 1L)
    assert(v == 4L)
    assert(ids(Snapshots.read(spark, t)) == (0L until 10L).toSet,
      "restore must reproduce v1 exactly (bad rows gone, deleted rows back)")
    assert(Snapshots.read(spark, t).columns.toSeq == Seq("doc_id", "source", "n_chars"),
      "the recorded schema rolls back with the data")
    assert(realDataFiles(t) == filesBefore, "restore writes NO data files")
    assert(ids(Snapshots.read(spark, t, Some(3L))) ==
      ((3L until 10L) ++ (100L until 105L)).toSet,
      "the rolled-back commits stay time-travelable")
    // the changelog reads the rollback as exactly the delta vs the parent
    val ch = Snapshots.rowChanges(spark, t, 3L, 4L)
    assert(ids(ch.filter(col("_change_type") === "delete")) == (100L until 105L).toSet)
    assert(ids(ch.filter(col("_change_type") === "insert")) == Set(0L, 1L, 2L))
    // incremental consumers fall back across the restore
    assert(Snapshots.diffAppended(spark, t, 3L, 4L).isEmpty)
    // restore is idempotent at the current version
    assert(Snapshots.restore(spark, t, 4L) == 4L)
    // a version whose files expire reclaimed fails fast, pointer unmoved
    // v5 splits the one file; v1 files become unreferenced...
    Snapshots.compact(spark, t, targetRecordsPerFile = 5): Unit
    // dry run FIRST: reports the exact reclaim without touching anything
    val (dmDry, dfDry) = Snapshots.expire(spark, t, keepLast = 1, dryRun = true)
    assert(dmDry > 0 && dfDry > 0, s"dry run must report the pending reclaim: $dmDry/$dfDry")
    assert(ids(Snapshots.read(spark, t, Some(4L))) == (0L until 10L).toSet,
      "a dry run must leave every retained-or-not version readable")
    val (dm, df) = Snapshots.expire(spark, t, keepLast = 1) // ...and reclaim
    assert((dm, df) == (dmDry, dfDry), "the dry run's report must match the real reclaim")
    intercept[Exception](Snapshots.restore(spark, t, 4L))
    assert(Snapshots.currentVersion(t).contains(5L))
    assert(ids(Snapshots.read(spark, t)) == (0L until 10L).toSet)
  }

  test("restore probes deletion-vector files too, not just data paths") {
    // round-13 advisory: a version whose dv dirs were reclaimed must fail
    // the pre-commit probe — otherwise the pointer moves onto a manifest
    // whose MOR reads explode later
    val t = tmpDir("snap-restore-dv")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10).coalesce(1)) // v1
    Snapshots.deleteWhereMor(spark, t, col("doc_id") < 3) // v2: dv written
    Snapshots.append(spark, t, docs(5, idFrom = 100).coalesce(1)) // v3
    // reclaim v2's dv dataset out-of-band (what a buggy external sweep — or
    // a source-table expire under a shallow clone — would do): dv datasets
    // live at data/c{v}-{token}.dv
    val dvDirs = new java.io.File(s"$t/data").listFiles()
      .filter(f => f.isDirectory && f.getName.endsWith(".dv"))
    assert(dvDirs.nonEmpty, "fixture must have a deletion vector at v2")
    dvDirs.foreach { d =>
      d.listFiles().foreach(f => assert(f.delete(), s"fixture delete failed: $f"))
      assert(d.delete(), s"fixture dv dir delete failed: $d")
    }
    val before = Snapshots.currentVersion(t)
    val ex = intercept[Exception](Snapshots.restore(spark, t, 2L))
    assert(ex.getMessage.contains("reclaimed"),
      s"probe must name the reclaim, got: ${ex.getMessage}")
    assert(Snapshots.currentVersion(t) == before, "pointer must not move")
  }
}
