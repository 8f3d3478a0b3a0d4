package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.chunker.LovdataChunker
import graft.embed.DeterministicProvider
import graft.sources.SnapshotChunkStore

/** End-to-end incremental workflow (reference
  * `tests/end2end/incremental_update_test.py`: initial run, skip-unchanged,
  * modify, remove).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def xmlFor(docId: String, body: String): String =
    s"""<html><body><main class="documentBody"><h1>Lov $docId</h1>
       |<article class="legalP" id="$docId-l1">$body</article>
       |</main></body></html>""".stripMargin

  private def cdc(rows: (String, String, String)*): DataFrame =
    rows.toSeq.map { case (id, hash, body) => (id, "ds1", hash, xmlFor(id, body)) }
      .toDF("docId", "dataset", "hash", "xml")

  private def noRemovals: DataFrame = Seq.empty[String].toDF("docId")

  test("run → idempotent second run → modify → remove (e2e)") {
    val storePath = tmpDir("pipe") + "/store"
    val statePath = tmpDir("pipe") + "/state.json"
    val store = new SnapshotChunkStore(storePath)
    val chunker = new LovdataChunker(targetTokens = 20, maxTokens = 100, minTokens = 2)
    val provider = new DeterministicProvider(16)

    def run(changed: DataFrame, removed: DataFrame) =
      Pipeline.run(spark, changed, removed, store, statePath, chunker, provider)

    // phase 1: initial — both docs processed, chunks stored with embeddings
    val batch1 = cdc(("d1", "h1", "Alpha beta gamma."), ("d2", "h2", "Delta epsilon zeta."))
    val r1 = run(batch1, noRemovals)
    assert(r1.processed == 2)
    val stored = store.read(spark)
    assert(stored.select("documentId").distinct().count() == 2)
    assert(stored.select("embedding").head().getSeq[Float](0).length == 16)
    // C11: stored ids are positional
    assert(stored.select("chunkId").as[String].collect().forall(_.matches("d[12]_chunk_\\d+")))

    // phase 2: unchanged input → 0 processed (incremental_update_test.py:370)
    val r2 = run(batch1, noRemovals)
    assert(r2.processed == 0)

    // phase 3: modified hash reprocesses exactly that doc; content replaced
    val r3 = run(cdc(("d1", "h1-new", "New content entirely."), ("d2", "h2", "Delta epsilon zeta.")), noRemovals)
    assert(r3.processed == 1)
    val d1Content = store.read(spark).filter(col("documentId") === "d1")
      .select("content").as[String].collect()
    assert(d1Content.exists(_.contains("New content")))
    assert(!d1Content.exists(_.contains("Alpha")))

    // phase 4: removal cleans store and ledger
    val r4 = run(cdc(), Seq("d2").toDF("docId"))
    assert(r4.removed == 1)
    assert(store.read(spark).select("documentId").distinct().as[String].collect().toSeq == Seq("d1"))
    // removed doc re-appearing later is processed again (ledger forgot it)
    val r5 = run(cdc(("d2", "h2", "Delta epsilon zeta.")), noRemovals)
    assert(r5.processed == 1)
  }

  test("a modified doc that fails re-chunking keeps zero store rows (cleanup-on-error)") {
    val storePath = tmpDir("pipestale") + "/store"
    val statePath = tmpDir("pipestale") + "/state"
    val store = new SnapshotChunkStore(storePath)
    val chunker = new LovdataChunker(targetTokens = 20, maxTokens = 100, minTokens = 2)
    val provider = new DeterministicProvider(8)
    import spark.implicits._

    // v1 processes fine and lands chunks
    val v1 = cdc(("m1", "hv1", "Original version content."))
    assert(Pipeline.run(spark, v1, noRemovals, store, statePath, chunker, provider).processed == 1)
    assert(store.read(spark).filter(col("documentId") === "m1").count() > 0)

    // v2 (new hash) fails to chunk → the reference deletes ALL of the doc's
    // chunks (file_processing_service.py:118-125); stale v1 chunks must go
    val v2 = Seq(("m1", "ds1", "hv2", "<html><unclosed")).toDF("docId", "dataset", "hash", "xml")
    val r2 = Pipeline.run(spark, v2, noRemovals, store, statePath, chunker, provider)
    assert(r2.failed == 1)
    assert(store.read(spark).filter(col("documentId") === "m1").count() == 0,
      "failed doc must not keep stale prior-version chunks")
    // and validate stays consistent (no store_only orphan the reference never produces)
    assert(graft.ops.Ops.validate(spark, statePath, store).isConsistent)
  }

  test("force reprocesses unchanged documents (reference orchestrator_test.py:153)") {
    val storePath = tmpDir("pipeforce") + "/store"
    val statePath = tmpDir("pipeforce") + "/state.json"
    val store = new SnapshotChunkStore(storePath)
    val chunker = new LovdataChunker(targetTokens = 20, maxTokens = 100, minTokens = 2)
    val provider = new DeterministicProvider(8)
    val batch = cdc(("f1", "h1", "Alpha beta."), ("f2", "h2", "Gamma delta."))
    assert(Pipeline.run(spark, batch, noRemovals, store, statePath, chunker, provider).processed == 2)
    assert(Pipeline.run(spark, batch, noRemovals, store, statePath, chunker, provider).processed == 0)
    assert(Pipeline.run(spark, batch, noRemovals, store, statePath, chunker, provider, force = true).processed == 2)
  }

  test("per-document failure quarantine: bad XML marks failed, retries, never aborts") {
    val storePath = tmpDir("pipef") + "/store"
    val statePath = tmpDir("pipef") + "/state.json"
    val store = new SnapshotChunkStore(storePath)
    val chunker = new LovdataChunker(targetTokens = 20, maxTokens = 100, minTokens = 2)
    val provider = new DeterministicProvider(8)
    import spark.implicits._

    val good = ("g1", "ds", "hg", xmlFor("g1", "Good content here."))
    val bad = ("b1", "ds", "hb", "<html><unclosed") // malformed XML
    val batch = Seq(good, bad).toDF("docId", "dataset", "hash", "xml")
    val r1 = Pipeline.run(spark, batch, noRemovals, store, statePath, chunker, provider)
    assert(r1.processed == 1 && r1.failed == 1)
    assert(store.distinctDocumentIds(spark).as[String].collect().toSeq == Seq("g1"),
      "failed doc leaves no partial chunks")
    val ledger = new graft.state.PipelineState(statePath).load(spark)
    val statuses = ledger.select("docId", "status").as[(String, String)].collect().toMap
    assert(statuses == Map("g1" -> "processed", "b1" -> "failed"))

    // same input again: good doc skipped (J1), failed doc retried (J4)
    val r2 = Pipeline.run(spark, batch, noRemovals, store, statePath, chunker, provider)
    assert(r2.processed == 0 && r2.failed == 1)

    // fixed content under the same hash is picked up and clears the failure
    val fixed = Seq(good, ("b1", "ds", "hb", xmlFor("b1", "Now valid content."))).toDF("docId", "dataset", "hash", "xml")
    val r3 = Pipeline.run(spark, fixed, noRemovals, store, statePath, chunker, provider)
    assert(r3.processed == 1 && r3.failed == 0)
    val statuses2 = new graft.state.PipelineState(statePath).load(spark)
      .select("docId", "status").as[(String, String)].collect().toMap
    assert(statuses2 == Map("g1" -> "processed", "b1" -> "processed"))
  }
}
