package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Snapshots.compact]], the one file rewriter, and the manifest stats its
  * writes record: the no-op rule, splitting an over-target file, recording
  * a clustering spec on a one-file table, the job count of `maintain`'s
  * fold, and footer-built vs scan-built file stats agreeing bound for bound.
  */
class SnapshotCompactSpec extends SparkSpec {
  import spark.implicits._

  private def docs(n: Int, idFrom: Int = 0): DataFrame =
    spark.range(idFrom, idFrom + n)
      .select(col("id").as("doc_id"),
        concat(lit("src"), (col("id") % 3).cast("string")).as("source"),
        (col("id") * 7 % 100).as("n_chars"))

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet

  /** A version's manifest file rows: path, rows and the four stats maps. */
  private def fileRows(t: String, v: Long): Array[Row] =
    spark.read.schema("kind STRING, path STRING, rows BIGINT, " +
        "stats_min MAP<STRING, DOUBLE>, stats_max MAP<STRING, DOUBLE>, " +
        "stats_min_str MAP<STRING, STRING>, stats_max_str MAP<STRING, STRING>")
      .json(f"$t/_log/v$v%08d").filter(col("kind") === "file").collect()

  test("compact is a no-op only when nothing would change") {
    val t = tmpDir("cmp-noop")
    Snapshots.create(spark, t)
    assert(Snapshots.compact(spark, t) == ((0L, 0L, 0L)), "an empty table has nothing to fold")
    Snapshots.append(spark, t, docs(40).coalesce(1))
    // one vector-free file within the target: nothing would change
    assert(Snapshots.compact(spark, t) == ((1L, 0L, 1L)))
    assert(Snapshots.compact(spark, t, targetRecordsPerFile = 40) == ((1L, 0L, 1L)))
    // a threshold no file is under: nothing to fold
    Snapshots.append(spark, t, docs(40, idFrom = 100).coalesce(1))
    assert(Snapshots.compact(spark, t, smallBytes = 1L) == ((2L, 0L, 2L)))
    assert(Snapshots.currentVersion(t).contains(2L))
    // a vector on the one file is a change: the fold absorbs it
    val t2 = tmpDir("cmp-noop-dv")
    Snapshots.create(spark, t2)
    Snapshots.append(spark, t2, docs(40).coalesce(1))
    Snapshots.deleteWhereMor(spark, t2, col("doc_id") < 4)
    val (v, folded, carried) = Snapshots.compact(spark, t2)
    assert((v, folded, carried) == ((3L, 1L, 0L)))
    assert(ids(Snapshots.read(spark, t2)) == (4L until 40L).toSet)
    assert(Snapshots.compact(spark, t2) == ((3L, 0L, 1L)), "the folded file is vector-free")
  }

  test("compact splits one over-target file into target-sized files") {
    val t = tmpDir("cmp-split")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(100).coalesce(1))
    val (v, folded, carried) = Snapshots.compact(spark, t, targetRecordsPerFile = 30)
    assert((v, folded, carried) == ((2L, 1L, 0L)))
    val rows = fileRows(t, v).map(_.getAs[Long]("rows"))
    assert(rows.length == 4 && rows.sum == 100L && rows.forall(_ <= 30L),
      s"100 rows at 30 a file: ${rows.toSeq}")
    assert(ids(Snapshots.read(spark, t)) == (0L until 100L).toSet)
    assert(Snapshots.rowChanges(spark, t, 1L, 2L).count() == 0, "a fold is row-preserving")
  }

  test("compact records a new clustering spec on a one-file table") {
    val t = tmpDir("cmp-spec")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(100).coalesce(1))
    assert(Snapshots.clusterSpec(spark, t).isEmpty)
    val (v, folded, _) = Snapshots.compact(spark, t, targetRecordsPerFile = 25,
      clusterBySpec = "doc_id")
    assert(v == 2L && folded == 1L, "a new spec is a change even for one fitting file")
    assert(Snapshots.clusterSpec(spark, t).contains("doc_id"))
    val p = Snapshots.scanPlan(spark, t, col("doc_id") >= 10 && col("doc_id") < 20)
    assert(p.filesTotal == 4L && p.filesScanned <= 2L, s"clustered: ${p.filesScanned}/${p.filesTotal}")
    // re-stating the recorded spec records nothing new
    val t2 = tmpDir("cmp-spec-one")
    Snapshots.create(spark, t2)
    Snapshots.append(spark, t2, docs(10).coalesce(1))
    assert(Snapshots.compact(spark, t2, clusterBySpec = "doc_id")._1 == 2L)
    assert(Snapshots.compact(spark, t2, clusterBySpec = "doc_id") == ((2L, 0L, 1L)))
    assert(Snapshots.clusterSpec(spark, t2).contains("doc_id"))
  }

  /** Jobs started while `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    org.apache.spark.graft.StatusBridge.quiesce(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    }
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.graft.StatusBridge.quiesce(sc)
    } finally sc.removeSparkListener(l)
    n.get()
  }

  test("maintain folds a table of small files in a bounded number of jobs") {
    val t = tmpDir("cmp-jobs")
    Snapshots.create(spark, t)
    (0 until 6).foreach(i => Snapshots.append(spark, t, docs(20, idFrom = i * 100).coalesce(1)))
    Snapshots.deleteWhereMor(spark, t, col("doc_id") % 100 < 2)
    var folded = 0L
    val jobs = jobsOf {
      folded = Snapshots.maintain(spark, t, keepLast = 1, orphanGraceMs = 0L)._1
    }
    assert(folded == 6L)
    assert(ids(Snapshots.read(spark, t)) ==
      (0 until 6).flatMap(i => (i * 100 + 2).toLong until (i * 100 + 20).toLong).toSet)
    // measured 6: the fold's one plan collect, the vectors' broadcast, its
    // one-task write (no shuffle: one output file is a coalesce), the
    // manifest collect, and expire's manifest read (two stages); no count
    // job, and no job grows with the file count
    assert(jobs <= 6, s"maintain over 6 small files ran $jobs jobs")
  }

  test("footer-built and scan-built file stats agree, truncated string bounds included") {
    // `a` cuts at an ASCII character (upper bound rounds up the 16th code
    // point); `b` cuts at a non-ASCII one (upper bound keeps the full value)
    val rows = Seq(
      (3L, "apple-pie-with-cream", "kjøttkake-og-sausé-middag", BigDecimal("1.25")),
      (-7L, "zebra-crossing-long-name", "zzzzzzzzzzzzzzzé-tail", BigDecimal("-4.50")),
      (1L << 40, "mid", "short", BigDecimal("9.00")))
      .toDF("id", "a", "b", "d")
    val footer = tmpDir("cmp-footer")
    val scan = tmpDir("cmp-scan")
    Seq(footer, scan).foreach(Snapshots.create(spark, _))
    // long and string stats only: read from the written files' footers
    Snapshots.append(spark, footer, rows.drop("d").coalesce(1))
    // a decimal stats column: the whole group takes the scan aggregate
    Snapshots.append(spark, scan, rows.coalesce(1))
    val Array(f) = fileRows(footer, 1L)
    val Array(s) = fileRows(scan, 1L)
    def nums(r: Row, c: String) = r.getMap[String, Double](r.fieldIndex(c)).toMap
    def strs(r: Row, c: String) = r.getMap[String, String](r.fieldIndex(c)).toMap
    assert(nums(f, "stats_min") == Map("id" -> -7.0) && nums(f, "stats_max") == Map("id" -> (1L << 40).toDouble))
    assert(nums(s, "stats_min") == Map("id" -> -7.0, "d" -> -4.5) &&
      nums(s, "stats_max") == Map("id" -> (1L << 40).toDouble, "d" -> 9.0),
      "the scan path records the decimal bounds too")
    assert(strs(f, "stats_min_str") == Map("a" -> "apple-pie-with-c", "b" -> "kjøttkake-og-sau"))
    assert(strs(f, "stats_max_str") == Map("a" -> "zebra-crossing-m", "b" -> "zzzzzzzzzzzzzzzé-tail"))
    Seq("stats_min_str", "stats_max_str").foreach(c => assert(strs(s, c) == strs(f, c), c))
    assert(s.getAs[Long]("rows") == 3L && f.getAs[Long]("rows") == 3L)
  }
}
