package graft.state

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Identify

/** Ledger + identify semantics (reference `tests/integration/
  * orchestrator_test.py`, `state_consistency_test.py`, `lovlig.py` J1/J4).
  */
class PipelineStateSpec extends SparkSpec {
  import spark.implicits._

  private def changed(rows: (String, String)*) = rows.toSeq.toDF("docId", "hash")

  test("save/load round-trip; missing and corrupt files load empty (S3/K4)") {
    val path = tmpDir("state") + "/pipeline_state.json"
    val ledger = new PipelineState(path)
    assert(ledger.load(spark).count() == 0)

    val s1 = ledger.markProcessed(spark, PipelineState.empty(spark), changed(("d1", "h1")))
    ledger.save(spark, s1)
    val loaded = ledger.load(spark)
    assert(loaded.count() == 1)
    val row = loaded.head()
    assert(row.getAs[String]("docId") == "d1")
    assert(row.getAs[String]("status") == "processed")

    // corrupt → empty fallback (reference state.py:58-59)
    val corrupt = tmpDir("state2") + "/pipeline_state.json"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(corrupt))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(corrupt, "part-corrupt.json"),
      "{{{not json".getBytes
    )
    assert(new PipelineState(corrupt).load(spark).count() == 0)
  }

  test("J1: only new-or-changed docs are identified; failed docs retry (J4)") {
    val state0 = PipelineState.empty(spark)
    val ledger = new PipelineState(tmpDir("state3") + "/s.json")
    val s1 = ledger.markProcessed(spark, state0, changed(("d1", "h1")))
    val s2 = ledger.markFailed(spark, s1, changed(("d2", "h2")).withColumn("error", lit("boom")))

    val cdc = changed(("d1", "h1"), ("d2", "h2"), ("d3", "h3"), ("d1x", "h1x"))
      .withColumnRenamed("docId", "docId")
    val out = Identify.identifyFiles(cdc, s2).select("docId").as[String].collect().sorted
    // d1 skipped (same hash); d2 failed → retried; d3/d1x new
    assert(out.toSeq == Seq("d1x", "d2", "d3"))
  }

  test("J1: hash change reprocesses; force reprocesses all; limit is stable") {
    val ledger = new PipelineState(tmpDir("state4") + "/s.json")
    val st = ledger.markProcessed(spark, PipelineState.empty(spark), changed(("d1", "h1"), ("d2", "h2")))
    val cdc = changed(("d1", "h1-new"), ("d2", "h2"))
    assert(Identify.identifyFiles(cdc, st).select("docId").as[String].collect().toSeq == Seq("d1"))
    assert(Identify.identifyFiles(cdc, st, force = true).count() == 2)
    assert(
      Identify.identifyFiles(changed(("b", "1"), ("a", "2"), ("c", "3")), PipelineState.empty(spark),
        limit = Some(2)).select("docId").as[String].collect().toSeq == Seq("a", "b")
    )
  }

  test("markProcessed clears a prior failure; remove drops ledger rows") {
    val ledger = new PipelineState(tmpDir("state5") + "/s.json")
    val s1 = ledger.markFailed(spark, PipelineState.empty(spark),
      changed(("d1", "h1")).withColumn("error", lit("x")))
    val s2 = ledger.markProcessed(spark, s1, changed(("d1", "h1")))
    assert(s2.count() == 1)
    assert(s2.head().getAs[String]("status") == "processed")
    assert(s2.head().getAs[String]("error") == null)
    val s3 = ledger.remove(s2, Seq("d1").toDF("docId"))
    assert(s3.count() == 0)
  }

  // reference `state_consistency_test.py:489,526` — atomic + rapid saves
  test("rapid sequential save/load cycles never lose or duplicate rows") {
    val ledger = new PipelineState(tmpDir("state6") + "/s.json")
    var state = PipelineState.empty(spark)
    for (i <- 1 to 8) {
      state = ledger.markProcessed(spark, state, changed((s"d$i", s"h$i")))
      ledger.save(spark, state)
      state = ledger.load(spark)
      assert(state.count() == i.toLong, s"after save #$i")
    }
    val ids = state.select("docId").as[String].collect().sorted
    assert(ids.toSeq == (1 to 8).map(i => s"d$i").sorted)
  }

  test("save is atomic: the previous state survives until the new one lands") {
    val path = tmpDir("state7") + "/s.json"
    val ledger = new PipelineState(path)
    val s1 = ledger.markProcessed(spark, PipelineState.empty(spark), changed(("d1", "h1")))
    ledger.save(spark, s1)
    // no .tmp directory left behind after a successful swap
    assert(!new java.io.File(path + ".tmp").exists())
    assert(ledger.load(spark).count() == 1)
  }

  test("ledger persists as status-partitioned parquet, written distributed") {
    val path = tmpDir("state8") + "/ledger"
    val ledger = new PipelineState(path)
    val s1 = ledger.markProcessed(spark, PipelineState.empty(spark), changed(("d1", "h1"), ("d2", "h2")))
    val s2 = ledger.markFailed(spark, s1, changed(("d3", "h3")).withColumn("error", lit("boom")))
    ledger.save(spark, s2)
    // partition layout: one directory per status — the J1 filter prunes here
    assert(new java.io.File(s"$path/status=processed").isDirectory)
    assert(new java.io.File(s"$path/status=failed").isDirectory)
    val loaded = ledger.load(spark)
    assert(loaded.columns.toSeq == PipelineState.stateSchema.fieldNames.toSeq)
    val byStatus = loaded.select("docId", "status").as[(String, String)].collect().toMap
    assert(byStatus == Map("d1" -> "processed", "d2" -> "processed", "d3" -> "failed"))
    // legacy JSON ledgers are still readable (format sniffed from part files)
    val jsonPath = tmpDir("state8j") + "/ledger.json"
    s2.write.json(jsonPath)
    assert(new PipelineState(jsonPath).load(spark).count() == 3)
  }

  test("a save that crashed between delete and rename loads its complete .tmp") {
    val path = tmpDir("state9") + "/ledger"
    val ledger = new PipelineState(path)
    val s1 = ledger.markProcessed(spark, PipelineState.empty(spark), changed(("d1", "h1")))
    ledger.save(spark, s1)
    val s2 = ledger.markProcessed(spark, ledger.load(spark), changed(("d2", "h2")))
    ledger.save(spark, s2)
    // the crash window of save(): the new ledger is complete under .tmp
    // (its _SUCCESS marker landed) and the old one is already deleted
    val dst = java.nio.file.Paths.get(path)
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    java.nio.file.Files.move(dst, tmp)
    assert(java.nio.file.Files.exists(tmp.resolve("_SUCCESS")))
    val loaded = ledger.load(spark).select("docId").as[String].collect().sorted
    assert(loaded.toSeq == Seq("d1", "d2"), "the complete .tmp ledger must load, not an empty one")
    assert(java.nio.file.Files.exists(dst) && !java.nio.file.Files.exists(tmp),
      "the complete .tmp is promoted into place")
    // an INCOMPLETE .tmp (no _SUCCESS: the write itself crashed) stays ignored
    java.nio.file.Files.move(dst, tmp)
    java.nio.file.Files.delete(tmp.resolve("_SUCCESS"))
    assert(ledger.load(spark).count() == 0)
    assert(!java.nio.file.Files.exists(dst))
  }

  test("J1 stays correct on the shuffle path (ledger past the broadcast ceiling)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val n = 5000
      val ledgerRows = spark.range(n)
        .selectExpr("concat('d', id) AS docId", "concat('h', id) AS hash",
          "'processed' AS status", "'t' AS at", "CAST(null AS string) AS error")
      val cdc = spark.range(n + 10)
        .selectExpr("concat('d', id) AS docId", "concat('h', id) AS hash")
      val out = Identify.identifyFiles(cdc, ledgerRows)
      // with broadcast disabled the anti-join must take the shuffle path —
      // proving correctness does not depend on a broadcast hint
      assert(!out.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"))
      val ids = out.select("docId").as[String].collect().toSet
      assert(ids == (n until n + 10).map(i => s"d$i").toSet)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("J2/SO1: validation reports set differences both ways") {
    val stateIds = Seq("a", "b", "c").toDF("docId")
    val storeIds = Seq("b", "c", "d").toDF("docId")
    val out = Identify.validate(stateIds, storeIds)
      .as[(String, String)].collect().toSet
    assert(out == Set(("a", "state_only"), ("d", "store_only")))
  }
}
