package graft.ops

import org.apache.spark.graft.StatusBridge
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Enrichers
import graft.sources.SnapshotChunkStore
import graft.state.PipelineState
import graft.ops.ProgressReporter

/** Ops jobs (status/validate/migrate) + enrichment chain + F5 guard. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def seedStore(dir: String): SnapshotChunkStore = {
    val store = new SnapshotChunkStore(dir)
    val df = Seq(("d1_c0", "d1", "alpha"), ("d2_c0", "d2", "beta")).toDF("chunkId", "documentId", "content")
      .select(
        col("chunkId"), col("documentId"), lit("ds").as("datasetName"), col("content"),
        lit(5).as("tokenCount"), lit("").as("sectionHeading"), lit("").as("absoluteAddress"),
        lit("none").as("splitReason"), lit(null).cast("string").as("parentChunkId"),
        sha2(col("content"), 256).as("sourceHash"), array().cast("array<string>").as("crossRefs"),
        lit(0).as("chunkIndex"), lit(null).cast("array<float>").as("embedding"),
        lit("m").as("embeddingModel"), lit("t").as("embeddedAt")
      )
    store.upsert(spark, df)
    store
  }

  test("status reports ledger and store counts") {
    val statePath = tmpDir("ops") + "/state.json"
    val ledger = new PipelineState(statePath)
    val st = ledger.markProcessed(spark, PipelineState.empty(spark), Seq(("d1", "h1")).toDF("docId", "hash"))
    ledger.save(spark, ledger.markFailed(spark, st,
      Seq(("dX", "hX")).toDF("docId", "hash").withColumn("error", lit("b"))))
    val store = seedStore(tmpDir("ops_store"))
    val s = Ops.status(spark, statePath, store)
    assert(s == Ops.Status(processed = 1, failed = 1, storeChunks = 2, storeDocs = 2))
  }

  test("validate detects inconsistency both ways and consistency when aligned") {
    val statePath = tmpDir("ops2") + "/state.json"
    val ledger = new PipelineState(statePath)
    ledger.save(spark, ledger.markProcessed(spark, PipelineState.empty(spark),
      Seq(("d1", "h1"), ("d3", "h3")).toDF("docId", "hash")))
    val store = seedStore(tmpDir("ops2_store"))
    val v = Ops.validate(spark, statePath, store)
    assert(!v.isConsistent)
    assert(v.stateOnly == Seq("d3"))
    assert(v.storeOnly == Seq("d2"))

    ledger.save(spark, ledger.markProcessed(spark, PipelineState.empty(spark),
      Seq(("d1", "h1"), ("d2", "h2")).toDF("docId", "hash")))
    assert(Ops.validate(spark, statePath, store).isConsistent)
  }

  test("migrate copies the store") {
    val src = seedStore(tmpDir("mig_src"))
    val root = tmpDir("mig_dst")
    assert(Ops.migrate(spark, src.path, "snapshot", s"$root/json", "json") == 2)
    assert(Ops.migrate(spark, s"$root/json", "json", s"$root/store", "snapshot") == 2)
    assert(new SnapshotChunkStore(s"$root/store").count(spark) == 2)
  }

  test("F5 exists guard marks missing paths as failure records") {
    val real = java.nio.file.Files.createTempFile("exists", ".xml").toString
    val df = Seq(("d1", real), ("d2", "/nope/missing.xml")).toDF("docId", "path")
    val out = Ops.withExistsGuard(df, "path")
      .select("docId", "error").as[(String, Option[String])].collect().toMap
    assert(out("d1").isEmpty)
    assert(out("d2").exists(_.contains("file not found")))
  }

  test("F5 exists guard resolves file: URIs and absolute paths through Hadoop FS") {
    val real = java.nio.file.Files.createTempFile("exists_hfs", ".xml")
    // absolute paths and explicit file: URIs must both resolve regardless of
    // the process working directory (the Hadoop-FS contract java.io.File
    // only met for paths on the executor's local disk)
    val df = Seq(
      ("u1", "file://" + real.toString),
      ("u2", real.toString),
      ("u3", "file:///definitely/not/here/" + System.nanoTime() + ".xml"),
      ("u4", null.asInstanceOf[String]),
      ("u5", "")
    ).toDF("docId", "path")
    val out = Ops.withExistsGuard(df, "path")
      .select("docId", "error").as[(String, Option[String])].collect().toMap
    assert(out("u1").isEmpty, "file: URI of an existing file must pass the guard")
    assert(out("u2").isEmpty, "bare absolute path must pass the guard")
    assert(out("u3").exists(_.contains("file not found")))
    assert(out("u4").isEmpty, "null path keeps error null (the concat-with-NULL law)")
    assert(out("u5").exists(_.contains("file not found")))
  }

  test("progress reporter emits forward-only percentage steps and a summary") {
    val lines = new scala.collection.mutable.ArrayBuffer[String]
    val sink: String => Unit = s => lines.synchronized { lines += s; () }
    val n = ProgressReporter.withProgress(spark, "test-run", sink, everyPct = 10) {
      spark.range(0, 10000, 1, 8).selectExpr("sum(id)").head().getLong(0)
      spark.range(0, 1000, 1, 4).count()
    }
    assert(n == 1000L)
    // listener bus is async; wait for the final lines to drain
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
      !lines.synchronized(lines.exists(_.contains("done")))) Thread.sleep(50)
    val snapshot = lines.synchronized(lines.toList)
    assert(snapshot.exists(_.startsWith("[test-run]")), s"got: $snapshot")
    assert(snapshot.exists(_.contains("done (")), "summary line emitted on exit")
    val pcts = snapshot.filter(_.contains("%"))
      .map(l => l.substring(l.indexOf("] ") + 2, l.indexOf("%")).toInt)
    assert(pcts == pcts.sorted, "progress must only move forward")
  }

  test("job costs charge jobs to their callsite and total completed stages' shuffle bytes") {
    val costs = new JobCosts()
    val sc = spark.sparkContext
    sc.addSparkListener(costs)
    try {
      spark.range(0, 100, 1, 2).collect()
      StatusBridge.quiesce(sc)
      assert(costs.shuffleWriteBytes == 0L, "a shuffle-free job writes no shuffle bytes")
      spark.range(0, 10000, 1, 4).repartition(3).count()
      StatusBridge.quiesce(sc)
      assert(costs.shuffleWriteBytes > 0L)
      assert(costs.jobs.exists { case (_, site, sec) =>
        site.startsWith("count at OpsSpec.scala") && sec >= 0.0 }, costs.jobs.toString)
      costs.clearJobs()
      assert(costs.jobs.isEmpty)
    } finally sc.removeSparkListener(costs)
  }

  test("enrichment chain applies in order with failure isolation") {
    val df = Seq(("c-2024-01-05-1", "se lov/2005-06-17-3 og paragraf-7 tekst")).toDF("chunkId", "content")
    val boom = Enrichers.Enricher("boom", _ => throw new RuntimeException("plugin broken"))
    val (out, failed) = Enrichers.applyChain(df, Enrichers.defaultChain :+ boom)
    assert(failed == Seq("boom"))
    val row = out.head()
    assert(row.getAs[java.sql.Date]("doc_date").toString == "2024-01-05")
    assert(row.getAs[String]("paragraph_ref") == "§ 7")
    assert(row.getAs[scala.collection.Seq[String]]("text_cross_refs").toSeq == Seq("lov/2005-06-17-3"))
    assert(row.getAs[Long]("depth") == 4L)
    assert(row.getAs[Long]("token_count_rel") > 0)
  }
}
