package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.Snapshots
import graft.sources.SnapshotStream

/** Laws for the snapshot-table STREAMING SOURCE ([[SnapshotStream]]):
  * offsets are table versions, a microbatch is a commit range replayed
  * from the manifest log, restart continues from Spark's offset log, and
  * the changelog stream's accumulated state equals a from-scratch batch
  * replay — the read-side twin of the exactly-once snapshot sinks.
  */
class SnapshotStreamSpec extends SparkSpec {
  import spark.implicits._

  private def docs(n: Int, idFrom: Int = 0): DataFrame =
    spark.range(idFrom, idFrom + n)
      .select(col("id").as("doc_id"),
        concat(lit("src"), (col("id") % 3).cast("string")).as("source"),
        (col("id") * 7 % 100).as("n_chars"))

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet

  /** Drain the stream (AvailableNow) through foreachBatch into `sink`. */
  private def drain(src: DataFrame, ckpt: String)(sink: DataFrame => Unit): Unit = {
    val q = src.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) => sink(b) }
      .start()
    q.awaitTermination()
  }

  test("changelog stream: initial snapshot, then exact per-commit changes; restart mid-stream") {
    val t = tmpDir("sstream-t")
    val ckpt = tmpDir("sstream-ckpt")
    val outDir = tmpDir("sstream-out") + "/acc"
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10).coalesce(1)) // v1
    Snapshots.append(spark, t, docs(5, idFrom = 10).coalesce(1)) // v2

    def acc(): DataFrame = spark.read.parquet(outDir)
    val src = SnapshotStream.reader(spark, t, mode = "changelog")
    // round 1: one batch = the starting snapshot as inserts @ v2
    drain(src, ckpt)(b => b.write.mode("append").parquet(outDir))
    assert(acc().count() == 15)
    assert(acc().select("_change_type").distinct().as[String].collect().toSeq == Seq("insert"))
    assert(acc().select("_commit_version").distinct().as[Long].collect().toSeq == Seq(2L))

    // mutate: MOR delete + append + merge, then RESTART on the same
    // checkpoint — the next batch is exactly the (v2, v5] changelog
    Snapshots.deleteWhereMor(spark, t, col("doc_id") < 3) // v3
    Snapshots.append(spark, t, docs(5, idFrom = 20).coalesce(1)) // v4
    Snapshots.merge(spark, t,
      docs(2, idFrom = 5).withColumn("n_chars", lit(-1L)), Seq("doc_id")): Unit // v5
    drain(SnapshotStream.reader(spark, t, mode = "changelog"), ckpt)(
      b => b.write.mode("append").parquet(outDir))
    val round2 = acc().filter(col("_commit_version") > 2L)
    assert(ids(round2.filter(col("_change_type") === "delete")) == Set(0L, 1L, 2L, 5L, 6L),
      "MOR-deleted rows + the merge's old images read back as deletes")
    assert(ids(round2.filter(col("_change_type") === "insert")) ==
      ((20L until 25L) ++ Seq(5L, 6L)).toSet)

    // replaying the accumulated feed reproduces the table exactly
    val cols = Snapshots.read(spark, t).columns.map(col).toIndexedSeq
    val ins = acc().filter(col("_change_type") === "insert").select(cols: _*)
    val del = acc().filter(col("_change_type") === "delete").select(cols: _*)
    val replay = ins.exceptAll(del)
    val table = Snapshots.read(spark, t)
    assert(replay.exceptAll(table).count() == 0 && table.exceptAll(replay).count() == 0,
      "stream replay must equal the batch table")

    // idle restart: nothing new, nothing emitted
    drain(SnapshotStream.reader(spark, t, mode = "changelog"), ckpt)(
      b => b.write.mode("append").parquet(outDir))
    assert(acc().count() == 15 + round2.count())
  }

  test("append-mode stream reads exactly the deltas and fails loudly on a mutation") {
    val t = tmpDir("sstream-app")
    val ckpt = tmpDir("sstream-app-ckpt")
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(10).coalesce(1))
    drain(SnapshotStream.reader(spark, t), ckpt)(
      b => got.synchronized { got ++= b.select("doc_id").as[Long].collect() })
    assert(got.toSet == (0L until 10L).toSet, "first batch = starting snapshot")
    Snapshots.append(spark, t, docs(5, idFrom = 10).coalesce(1))
    Snapshots.append(spark, t, docs(5, idFrom = 15).coalesce(1))
    drain(SnapshotStream.reader(spark, t), ckpt)(
      b => got.synchronized { got ++= b.select("doc_id").as[Long].collect() })
    assert(got.toSet == (0L until 20L).toSet, "one batch covered both append deltas")
    // a delete in the unconsumed range must fail the append-mode stream
    Snapshots.deleteWhereMor(spark, t, col("doc_id") < 2): Unit
    Snapshots.append(spark, t, docs(2, idFrom = 50).coalesce(1)): Unit
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(SnapshotStream.reader(spark, t), ckpt)(_ => ())
    }
    assert(ex.getMessage.contains("changelog") ||
      Option(ex.getCause).exists(_.getMessage.contains("changelog")),
      s"the failure must point at changelog mode: ${ex.getMessage}")
  }

  test("snapshot-to-snapshot pipeline: changelog stream + idempotent sink is exactly-once") {
    val srcT = tmpDir("sstream-src")
    val dstT = tmpDir("sstream-dst")
    val ckpt = tmpDir("sstream-e2e-ckpt")
    Snapshots.create(spark, srcT)
    Snapshots.create(spark, dstT)
    Snapshots.append(spark, srcT, docs(10).coalesce(1))
    def run(): Unit =
      drain(SnapshotStream.reader(spark, srcT, mode = "changelog"), ckpt) { b =>
        // signed per-source partials of this commit range, MERGEd by key —
        // a streaming-maintained rollup with exactly-once batch markers
        val part = b.groupBy("source").agg(
          sum(when(col("_change_type") === "insert", col("n_chars"))
            .otherwise(-col("n_chars"))).as("delta"))
        val cur = Snapshots.read(b.sparkSession, dstT)
        val merged =
          if (cur.columns.isEmpty || cur.isEmpty) part.withColumnRenamed("delta", "total")
          else cur.join(part, Seq("source"), "full_outer")
            .select(col("source"),
              (coalesce(col("total"), lit(0L)) + coalesce(col("delta"), lit(0L))).as("total"))
        Snapshots.overwrite(b.sparkSession, dstT, merged): Unit
      }
    run()
    Snapshots.deleteWhereMor(spark, srcT, col("doc_id") % 4 === 1)
    Snapshots.append(spark, srcT, docs(6, idFrom = 40).coalesce(1))
    run() // restart picks up exactly the unconsumed commits
    run() // idle restart changes nothing
    val want = Snapshots.read(spark, srcT).groupBy("source")
      .agg(sum(col("n_chars")).as("total"))
    val gotM = Snapshots.read(spark, dstT).as[(String, Long)].collect().toMap
    val wantM = want.as[(String, Long)].collect().toMap
    assert(gotM == wantM, s"streamed rollup $gotM != batch recompute $wantM")
  }

  test("snapshot CDC feed drives transformWithState sessionization across a restart (RocksDB)") {
    // the composition the per-piece laws don't cover: a snapshot TABLE is
    // the event feed (offsets = versions), the consumer is a STATEFUL
    // operator (typed ValueState + event-time timers on RocksDB), and the
    // restart must resume both the source offset and the operator state
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val t = tmpDir("sstream-sess")
      val ckpt = tmpDir("sstream-sess-ckpt")
      val outDir = tmpDir("sstream-sess-out") + "/closed"
      Snapshots.create(spark, t)
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      def append(rows: (Long, java.sql.Timestamp)*): Unit =
        Snapshots.append(spark, t, rows.toSeq.toDF("user_id", "ts").coalesce(1)): Unit
      def run(): Unit = {
        val out = StreamingPipeline.sessionizeClosedTws(
          spark, SnapshotStream.reader(spark, t),
          gapMs = 30 * 60000, watermark = "1 minute")
        drain(out.toDF(), ckpt)(b => b.write.mode("append").parquet(outDir))
      }
      // v1: user 1's first session (2 events) + user 2's lone event
      append((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:10:00")),
        (2L, ts("2024-01-01 00:05:00")))
      run()
      // v2: user 1 re-appears past the gap (closes session 1 in-band); user 3
      append((1L, ts("2024-01-01 02:00:00")), (3L, ts("2024-01-01 02:00:00")),
        (3L, ts("2024-01-01 02:05:00")))
      // v3: a far-future flusher pushes the watermark past every gap horizon
      append((99L, ts("2024-01-02 12:00:00")))
      run() // restart: source resumes at v1's offset, state resumes user 1/2 tails
      // timers fire against the watermark as of a batch's START, so one
      // more data-bearing batch is needed AFTER the flusher advanced it —
      // a second flusher commit guarantees that batch deterministically
      // (AvailableNow ends a run without a trailing no-data batch)
      append((98L, ts("2024-01-03 12:00:00")))
      run() // every real tail's timer is now below the watermark: all close
      val closed = spark.read.parquet(outDir)
        .select("userId", "nEvents").as[(Long, Long)].collect().toSeq
      // users 1/2/3's timers (gap horizons ≤ 02:35) sit below that start-of-
      // batch watermark and fire; flusher 99's own horizon (12:30) does not
      val want = Seq((1L, 2L), (1L, 1L), (2L, 1L), (3L, 2L))
      assert(closed.sorted == want.sorted,
        s"closed sessions across the restarts: $closed (want $want — the open" +
          " tails of the still-live flusher users must NOT close)")
      // idle restart: no new commits, nothing double-emits
      run()
      assert(spark.read.parquet(outDir).count() == want.size.toLong)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("maxVersionsPerTrigger bounds catch-up microbatches to a commit budget") {
    val t = tmpDir("sstream-cap")
    val ckpt = tmpDir("sstream-cap-ckpt")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t, docs(4).coalesce(1)) // v1
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    def drainCapped(): Unit =
      drain(SnapshotStream.reader(spark, t, maxVersionsPerTrigger = Some(1)), ckpt) { b =>
        val is = ids(b)
        batches.synchronized { batches += ((b.count(), is)) }: Unit
      }
    drainCapped() // one batch: the starting snapshot (indivisible)
    assert(batches.size == 1 && batches.head._2 == (0L until 4L).toSet)
    // a 3-commit backlog: under AvailableNow each RUN advances at most the
    // budget (the v1 wrapper freezes one availability target per run), so
    // draining takes three bounded runs — never one giant batch
    (0 until 3).foreach(i =>
      Snapshots.append(spark, t, docs(2, idFrom = 10 + i * 10).coalesce(1)))
    drainCapped(); drainCapped(); drainCapped()
    assert(batches.size == 4, s"backlog must split per commit: ${batches.size - 1} batches")
    assert(batches.drop(1).map(_._2).toSeq ==
      (0 until 3).map(i => Set((10 + i * 10).toLong, (11 + i * 10).toLong)),
      "each capped batch carries exactly one commit's delta, in order")
    drainCapped() // drained: nothing further
    assert(batches.size == 4)
    // uncapped, the same backlog would have been one batch (sanity twin)
    val t2 = tmpDir("sstream-cap2")
    val ckpt2 = tmpDir("sstream-cap2-ckpt")
    Snapshots.create(spark, t2)
    Snapshots.append(spark, t2, docs(4).coalesce(1))
    var n2 = 0
    drain(SnapshotStream.reader(spark, t2), ckpt2)(_ => n2 += 1)
    (0 until 3).foreach(i =>
      Snapshots.append(spark, t2, docs(2, idFrom = 10 + i * 10).coalesce(1)))
    drain(SnapshotStream.reader(spark, t2), ckpt2)(_ => n2 += 1)
    assert(n2 == 2, s"uncapped backlog drains as one batch per restart: $n2")
  }
}
