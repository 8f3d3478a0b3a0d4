package graft.cli

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.chunker.LovdataChunker
import graft.config.Settings
import graft.embed.DeterministicProvider
import graft.ops.Ops
import graft.sources.SnapshotChunkStore

/** The full `lg process` path from disk: state.json + XML files on disk →
  * binaryFile scan → chunk → embed → store → ledger, with the reference's
  * exit-code contract.
  */
class GraftCliSpec extends SparkSpec {

  private def writeXml(dir: String, name: String, body: String): Unit =
    Files.write(Paths.get(dir, name),
      s"""<html><body><main class="documentBody"><h1>L</h1>
         |<article class="legalP" id="$name-l1">$body</article>
         |</main></body></html>""".stripMargin.getBytes("UTF-8"))

  /** The direct-chunker reference for a store: what `chunker` cuts from each
    * live document's XML file, under the pipeline's positional chunk ids
    * (`<docId>_chunk_<chunkIndex>`), as chunkId → content.
    */
  private def directChunks(chunker: LovdataChunker, docs: (String, String)*): Map[String, String] =
    docs.flatMap { case (docId, path) =>
      chunker.chunk(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
        .map(c => s"${docId}_chunk_${c.chunkIndex}" -> c.text)
    }.toMap

  test("process from disk: CDC scan + binaryFile + pipeline; idempotent; exit codes") {
    val root = tmpDir("cli")
    val extracted = s"$root/extracted"
    Files.createDirectories(Paths.get(extracted, "ds1"))
    writeXml(s"$extracted/ds1", "doc_a.xml", "Alpha beta gamma delta.")
    writeXml(s"$extracted/ds1", "doc_b.xml", "Epsilon zeta eta theta.")
    // doc_c listed in state but missing on disk → F5 failure, exit 1
    val stateJson = s"$root/state.json"
    Files.write(Paths.get(stateJson),
      """{"raw_datasets":{"ds1.tar.bz2":{"files":{
        |"doc_a.xml":{"status":"added","sha256":"ha"},
        |"doc_b.xml":{"status":"modified","sha256":"hb"},
        |"doc_c.xml":{"status":"added","sha256":"hc"},
        |"doc_gone.xml":{"status":"removed","sha256":"hg"}}}}}"""
        .stripMargin.replace("\n", "").getBytes("UTF-8"))

    val storePath = s"$root/store"
    val ledgerPath = s"$root/ledger.json"
    def run() = GraftCli.process(
      spark, stateJson, extracted, storePath, ledgerPath,
      chunker = new LovdataChunker(targetTokens = 20, maxTokens = 100, minTokens = 2),
      provider = new DeterministicProvider(8)
    )

    val r1 = run()
    assert(r1.summary.processed == 2)
    assert(r1.exitCode == 1, "missing doc_c must surface as a failure exit code")
    val store = new SnapshotChunkStore(storePath)
    import spark.implicits._
    assert(store.distinctDocumentIds(spark).as[String].collect().sorted.toSeq == Seq("doc_a", "doc_b"))

    // second run: nothing new to process (doc_c still missing)
    val r2 = run()
    assert(r2.summary.processed == 0)

    // doc_c appears on disk → processed, exit 0
    writeXml(s"$extracted/ds1", "doc_c.xml", "Iota kappa lambda.")
    val r3 = run()
    assert(r3.summary.processed == 1)
    assert(r3.exitCode == 0)
    assert(Ops.validate(spark, ledgerPath, store).isConsistent)
    val st = Ops.status(spark, ledgerPath, store)
    assert(st.processed == 3 && st.storeDocs == 3)
  }

  test("force reprocesses ALL live files, including unchanged ones") {
    val root = tmpDir("cliforce")
    val extracted = s"$root/extracted"
    Files.createDirectories(Paths.get(extracted, "ds1"))
    writeXml(s"$extracted/ds1", "doc_u.xml", "Unchanged content here.")
    writeXml(s"$extracted/ds1", "doc_n.xml", "Newly added content.")
    // doc_u is status=unchanged: a plain run must skip it entirely, but
    // --force must feed it back through (reference pipeline_orchestrator.py:249-256
    // uses get_all_files, not get_changed_files, under force)
    val stateJson = s"$root/state.json"
    Files.write(Paths.get(stateJson),
      """{"raw_datasets":{"ds1.tar.bz2":{"files":{
        |"doc_u.xml":{"status":"unchanged","sha256":"hu"},
        |"doc_n.xml":{"status":"added","sha256":"hn"}}}}}"""
        .stripMargin.replace("\n", "").getBytes("UTF-8"))
    val storePath = s"$root/store"
    val ledgerPath = s"$root/ledger"
    def run(force: Boolean) = GraftCli.process(
      spark, stateJson, extracted, storePath, ledgerPath, force = force,
      chunker = new LovdataChunker(targetTokens = 20, maxTokens = 100, minTokens = 2),
      provider = new DeterministicProvider(8)
    )
    assert(run(force = false).summary.processed == 1, "plain run sees only the added doc")
    assert(run(force = true).summary.processed == 2, "force must reprocess the unchanged doc too")
  }

  test("search: querying a stored chunk's exact text returns that chunk at sim≈1") {
    val root = tmpDir("clisearch")
    val extracted = s"$root/extracted"
    Files.createDirectories(Paths.get(extracted, "ds1"))
    writeXml(s"$extracted/ds1", "doc_a.xml", "Alpha beta gamma delta.")
    writeXml(s"$extracted/ds1", "doc_b.xml", "Epsilon zeta eta theta.")
    val stateJson = s"$root/state.json"
    Files.write(Paths.get(stateJson),
      """{"raw_datasets":{"ds1.tar.bz2":{"files":{
        |"doc_a.xml":{"status":"added","sha256":"ha"},
        |"doc_b.xml":{"status":"added","sha256":"hb"}}}}}"""
        .stripMargin.replace("\n", "").getBytes("UTF-8"))
    val storePath = s"$root/store"
    val provider = new DeterministicProvider(16)
    assert(GraftCli.process(spark, stateJson, extracted, storePath, s"$root/ledger",
      chunker = new LovdataChunker(targetTokens = 20, maxTokens = 100, minTokens = 2),
      provider = provider).summary.processed == 2)

    val store = new SnapshotChunkStore(storePath)
    import spark.implicits._
    val storedText = store.read(spark)
      .filter(org.apache.spark.sql.functions.col("documentId") === "doc_a")
      .select("content").as[String].head()
    val hits = GraftCli.search(spark, store, storedText, k = 2, provider = provider)
    val top = hits.head()
    assert(top.getAs[String]("documentId") == "doc_a",
      "same text embeds to the same vector, so its own chunk must rank first")
    assert(math.abs(top.getAs[Double]("sim") - 1.0) < 1e-4)
    // serving path reads the store exactly once: content rides through the
    // top-k heap instead of a join-back to a second scan
    assert(hits.queryExecution.executedPlan.collectLeaves().size == 1,
      "search must plan a single store scan")
  }

  test("text-search: BM25 over the store ranks the term-bearing chunk first, indexed == brute") {
    val root = tmpDir("clitext")
    val store = new SnapshotChunkStore(s"$root/store")
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, col, lit, sha2}
    val chunks = Seq(
      ("c1", "doc_a", "zebra zebra antelope grazing on the savanna plains"),
      ("c2", "doc_b", "container ships and harbor cranes at the port"),
      ("c3", "doc_c", "a single zebra crossing the road")
    ).toDF("chunkId", "documentId", "content")
      .select(
        col("chunkId"), col("documentId"),
        lit("ds1").as("datasetName"), col("content"),
        lit(8).as("tokenCount"), lit("h").as("sectionHeading"),
        lit("").as("absoluteAddress"), lit("none").as("splitReason"),
        lit(null).cast("string").as("parentChunkId"),
        sha2(col("content"), 256).as("sourceHash"),
        array().cast("array<string>").as("crossRefs"), lit(0).as("chunkIndex"),
        lit(null).cast("array<float>").as("embedding"),
        lit("m").as("embeddingModel"), lit("t0").as("embeddedAt"))
    store.upsert(spark, chunks)

    val brute = GraftCli.textSearch(spark, s"$root/store", Seq("zebra"), k = 5)
      .select("doc_id").as[String].collect().toSeq
    // only term-bearing chunks may appear
    assert(brute.toSet == Set("c1", "c3"))

    GraftCli.textIndex(spark, store, s"$root/bm25")
    val indexed = GraftCli.textSearch(spark, s"$root/bm25", Seq("zebra"), k = 5)
      .select("doc_id").as[String].collect().toSeq
    assert(indexed == brute, "index path must rank exactly like the brute path")
  }

  test("decontaminate removes documents whose chunks collide with a benchmark file") {
    val root = tmpDir("clidecon")
    val store = new SnapshotChunkStore(s"$root/store")
    val leakRun = (1 to 8).map(i => s"bench$i").mkString(" ")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    store.upsert(spark, Seq(
      ("c1", "doc_leak", s"prefix $leakRun suffix words"),
      ("c2", "doc_leak", "a second clean chunk of the same doc"),
      ("c3", "doc_clean", "completely unrelated content with many words")
    ).toDF("chunkId", "documentId", "content")
      .select(
        col("chunkId"), col("documentId"), lit("ds").as("datasetName"), col("content"),
        lit(5).as("tokenCount"), lit("h").as("sectionHeading"), lit("").as("absoluteAddress"),
        lit("none").as("splitReason"), lit(null).cast("string").as("parentChunkId"),
        sha2(col("content"), 256).as("sourceHash"),
        array().cast("array<string>").as("crossRefs"),
        lit(0).as("chunkIndex"), lit(null).cast("array<float>").as("embedding"),
        lit("m").as("embeddingModel"), lit("t0").as("embeddedAt")))

    val benchPath = s"$root/bench.txt"
    Files.write(Paths.get(benchPath),
      ((1 to 20).map(i => s"bench$i").mkString(" ") + "\nanother eval doc line").getBytes("UTF-8"))

    val (docs, deleted) = GraftCli.decontaminate(
      spark, store, GraftCli.readBenchmark(spark, benchPath), "text", n = 5)
    assert(docs == 1 && deleted == 2, "both chunks of the leaking doc are retired")
    assert(store.distinctDocumentIds(spark).as[String].collect().toSeq == Seq("doc_clean"))
  }

  test("vector-index + vector-search: indexed ANN finds the stored chunk; append makes new chunks searchable") {
    val root = tmpDir("clivec")
    val store = new SnapshotChunkStore(s"$root/store")
    val provider = new graft.embed.DeterministicProvider(64)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def rows(ids: Seq[(String, String, String)]) = ids.toDF("chunkId", "documentId", "content")
      .select(
        col("chunkId"), col("documentId"), lit("ds").as("datasetName"), col("content"),
        lit(5).as("tokenCount"), lit("h").as("sectionHeading"), lit("").as("absoluteAddress"),
        lit("none").as("splitReason"), lit(null).cast("string").as("parentChunkId"),
        sha2(col("content"), 256).as("sourceHash"),
        array().cast("array<string>").as("crossRefs"), lit(0).as("chunkIndex"),
        lit(null).cast("array<float>").as("embedding"),
        lit("m").as("embeddingModel"), lit("t0").as("embeddedAt"))
    def embed(df: org.apache.spark.sql.DataFrame) =
      graft.embed.Embedding.embed(
        df.drop("embedding", "embeddingModel", "embeddedAt"), "content", provider)
    store.upsert(spark, embed(rows(Seq(
      ("c1", "d1", "alpha beta gamma content one"),
      ("c2", "d2", "delta epsilon zeta content two")))))
    val idx = s"$root/vindex"
    GraftCli.vectorIndex(spark, store, idx)
    val hit = GraftCli.vectorSearch(spark, idx, "alpha beta gamma content one",
      k = 1, provider = provider).collect().head
    assert(hit.getString(0) == "c1" && hit.getAs[Double]("sim") > 0.999,
      "the exact stored text must be its own nearest neighbor")
    // append a new doc's chunks; they become searchable without a rebuild
    store.upsert(spark, embed(rows(Seq(("c3", "d3", "totally new eta theta content three")))))
    GraftCli.vectorIndexAppend(spark, store, idx, Seq("d3"))
    val hit3 = GraftCli.vectorSearch(spark, idx, "totally new eta theta content three",
      k = 1, provider = provider).collect().head
    assert(hit3.getString(0) == "c3" && hit3.getAs[Double]("sim") > 0.999)
    // retrain re-clusters the stored vectors in place; everything stays findable
    graft.operators.Similarity.retrainIvf(spark, idx, "embedding", "chunkId", k = 2)
    val hitR = GraftCli.vectorSearch(spark, idx, "alpha beta gamma content one",
      k = 1, provider = provider).collect().head
    assert(hitR.getString(0) == "c1" && hitR.getAs[Double]("sim") > 0.999)
  }

  test("graph-index + graph-search: beam walk finds the stored chunk; append links new chunks") {
    val root = tmpDir("cligraph")
    val store = new SnapshotChunkStore(s"$root/store")
    val provider = new graft.embed.DeterministicProvider(64)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def rows(ids: Seq[(String, String, String)]) = ids.toDF("chunkId", "documentId", "content")
      .select(
        col("chunkId"), col("documentId"), lit("ds").as("datasetName"), col("content"),
        lit(5).as("tokenCount"), lit("h").as("sectionHeading"), lit("").as("absoluteAddress"),
        lit("none").as("splitReason"), lit(null).cast("string").as("parentChunkId"),
        sha2(col("content"), 256).as("sourceHash"),
        array().cast("array<string>").as("crossRefs"), lit(0).as("chunkIndex"),
        lit(null).cast("array<float>").as("embedding"),
        lit("m").as("embeddingModel"), lit("t0").as("embeddedAt"))
    def embed(df: org.apache.spark.sql.DataFrame) =
      graft.embed.Embedding.embed(
        df.drop("embedding", "embeddingModel", "embeddedAt"), "content", provider)
    store.upsert(spark, embed(rows(Seq(
      ("c1", "d1", "alpha beta gamma content one"),
      ("c2", "d2", "delta epsilon zeta content two")))))
    val idx = s"$root/gindex"
    GraftCli.graphIndex(spark, store, idx)
    val hit = GraftCli.graphSearch(spark, idx, "alpha beta gamma content one",
      k = 1, provider = provider).collect().head
    assert(hit.getString(0) == "c1" && hit.getAs[Double]("sim") > 0.999,
      "the exact stored text must be its own nearest neighbor")
    // append a new doc's chunks; they become searchable without a rebuild
    store.upsert(spark, embed(rows(Seq(("c3", "d3", "totally new eta theta content three")))))
    GraftCli.graphIndexAppend(spark, store, idx, Seq("d3"))
    val hit3 = GraftCli.graphSearch(spark, idx, "totally new eta theta content three",
      k = 1, provider = provider).collect().head
    assert(hit3.getString(0) == "c3" && hit3.getAs[Double]("sim") > 0.999)
    // planned build: parameters come from buildPlan over the stored corpus,
    // the hub set persists, and search still self-retrieves
    val pidx = s"$root/gindex_planned"
    val plan = GraftCli.graphIndexPlanned(spark, store, pidx)
    assert(plan.nPlanes >= 4 && plan.probes >= 1 && plan.hubs >= 16,
      s"degenerate plan: $plan")
    assert(new java.io.File(s"$pidx/hubs").exists, "planned index persists its hub set")
    val hitP = GraftCli.graphSearch(spark, pidx, "alpha beta gamma content one",
      k = 1, provider = provider).collect().head
    assert(hitP.getString(0) == "c1" && hitP.getAs[Double]("sim") > 0.999)
  }

  test("driftReport: identical corpora read zero, a shifted dump spikes") {
    val root = tmpDir("clidrift")
    import spark.implicits._
    val ref = Seq.tabulate(30)(i => (i.toLong, s"lov om arbeidsmiljø paragraf ${i % 4}"))
      .toDF("doc_id", "text")
    val shifted = Seq.tabulate(30)(i => (i.toLong, s"pasta recipe with basil number ${i % 4}"))
      .toDF("doc_id", "text")
    ref.write.parquet(s"$root/ref"); shifted.write.parquet(s"$root/cur")
    val same = GraftCli.driftReport(spark, s"$root/ref", s"$root/ref", buckets = 256)
    assert(same.getAs[Double]("psi") == 0.0)
    val moved = GraftCli.driftReport(spark, s"$root/ref", s"$root/cur", buckets = 256)
    assert(moved.getAs[Double]("psi") > 0.1,
      s"shifted dump must spike PSI, got ${moved.getAs[Double]("psi")}")
  }

  test("dedup retires the near-duplicate document, keeping the canonical one") {
    val root = tmpDir("clidedup")
    val store = new SnapshotChunkStore(s"$root/store")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // doc_b near-dups doc_a ACROSS its two chunks (the doc-level concat is
    // what collides); doc_c is unrelated
    val base = "the quick brown fox jumps over the lazy dog again and again"
    store.upsert(spark, Seq(
      ("a1", "doc_a", s"$base part one here", 0),
      ("a2", "doc_a", s"$base part two here", 1),
      ("b1", "doc_b", s"$base part one here", 0),
      ("b2", "doc_b", s"$base part two also", 1),
      ("c1", "doc_c", "completely unrelated content about cooking pasta with tomatoes", 0)
    ).toDF("chunkId", "documentId", "content", "chunkIndex")
      .select(
        col("chunkId"), col("documentId"), lit("ds").as("datasetName"), col("content"),
        lit(5).as("tokenCount"), lit("h").as("sectionHeading"), lit("").as("absoluteAddress"),
        lit("none").as("splitReason"), lit(null).cast("string").as("parentChunkId"),
        sha2(col("content"), 256).as("sourceHash"),
        array().cast("array<string>").as("crossRefs"),
        col("chunkIndex"), lit(null).cast("array<float>").as("embedding"),
        lit("m").as("embeddingModel"), lit("t0").as("embeddedAt")))
    val (docs, deleted) = GraftCli.dedupStore(spark, store)
    assert(docs == 1 && deleted == 2, "doc_b (larger id) is retired whole")
    assert(store.distinctDocumentIds(spark).as[String].collect().toSet ==
      Set("doc_a", "doc_c"))
  }

  test("decontaminate --report ranks the leaking eval item and deletes nothing") {
    val root = tmpDir("clireport")
    val store = new SnapshotChunkStore(s"$root/store")
    val leakRun = (1 to 8).map(i => s"bench$i").mkString(" ")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    store.upsert(spark, Seq(
      ("c1", "doc_leak", s"prefix $leakRun suffix words"),
      ("c2", "doc_clean", "completely unrelated content with many words")
    ).toDF("chunkId", "documentId", "content")
      .select(
        col("chunkId"), col("documentId"), lit("ds").as("datasetName"), col("content"),
        lit(5).as("tokenCount"), lit("h").as("sectionHeading"), lit("").as("absoluteAddress"),
        lit("none").as("splitReason"), lit(null).cast("string").as("parentChunkId"),
        sha2(col("content"), 256).as("sourceHash"),
        array().cast("array<string>").as("crossRefs"),
        lit(0).as("chunkIndex"), lit(null).cast("array<float>").as("embedding"),
        lit("m").as("embeddingModel"), lit("t0").as("embeddedAt")))
    val benchPath = s"$root/bench.txt"
    Files.write(Paths.get(benchPath),
      ((1 to 20).map(i => s"bench$i").mkString(" ") + "\nclean eval line with nothing shared")
        .getBytes("UTF-8"))
    val bench = GraftCli.readBenchmark(spark, benchPath)
      .withColumn("item_id", xxhash64(col("text")))
    val rep = graft.operators.Dedup.contaminationReport(
      store.read(spark).select(col("documentId"), col("content")),
      "documentId", "content", bench, "item_id", "text", n = 5)
      .orderBy(col("leak_frac").desc).collect()
    assert(rep.length == 2)
    assert(rep.head.getDouble(4) > 0 && rep.head.getLong(3) == 1L,
      "the leaked item reports one sharing doc")
    assert(rep.last.getDouble(4) == 0.0, "the clean item reports zero leakage")
    // report mode is read-only
    assert(store.distinctDocumentIds(spark).count() == 2)
  }

  test("settings drive chunk params, store bucketing, and dataset pattern end-to-end") {
    val root = tmpDir("clicfg")
    val extracted = s"$root/extracted"
    Files.createDirectories(Paths.get(extracted, "dsa"))
    Files.createDirectories(Paths.get(extracted, "other"))
    // many short sentences: total tokens ≫ max-tokens so the sentence split
    // engages, each sentence ≪ min-tokens so the merge fold engages too
    writeXml(s"$extracted/dsa", "doc_1.xml",
      (1 to 60).map(i => s"Sentence number $i is here.").mkString(" "))
    writeXml(s"$extracted/other", "doc_x.xml", "Excluded by the dataset pattern.")
    val stateJson = s"$root/state.json"
    Files.write(Paths.get(stateJson),
      """{"raw_datasets":{"dsa.tar.bz2":{"files":{"doc_1.xml":{"status":"added","sha256":"h1"}}},
        |"other.tar.bz2":{"files":{"doc_x.xml":{"status":"added","sha256":"hx"}}}}}"""
        .stripMargin.replace("\n", "").getBytes("UTF-8"))

    val settings = Settings.fromArgs(
      Seq("--target-tokens=100", "--max-tokens=150", "--min-tokens=50",
        "--dataset=dsa*", "--embedding-dim=8"),
      env = Map.empty)._1
    val storePath = s"$root/store"
    val r = GraftCli.processConfigured(
      spark, stateJson, extracted, storePath, s"$root/ledger", settings)
    assert(r.summary.processed == 1, "dataset pattern must exclude the 'other' dataset")
    assert(r.exitCode == 0)

    // the configured store is a snapshot table
    assert(graft.operators.Snapshots.currentVersion(storePath).isDefined)

    // target-tokens=100 over a 300-word doc → the sentence windowing splits
    import spark.implicits._
    val chunks = new SnapshotChunkStore(storePath).read(spark)
    assert(chunks.select("documentId").distinct().as[String].collect().toSeq == Seq("doc_1"))
    assert(chunks.count() > 1, "configured token bounds must drive chunk splitting")
    assert(chunks.select("embedding").head().getSeq[Float](0).length == 8)
  }

  test("process over the snapshot store backend (--storage-type=snapshot) matches parquet") {
    val root = tmpDir("clisnap")
    val extracted = s"$root/extracted"
    Files.createDirectories(Paths.get(extracted, "ds1"))
    writeXml(s"$extracted/ds1", "doc_a.xml", "Alpha beta gamma delta.")
    writeXml(s"$extracted/ds1", "doc_b.xml", "Epsilon zeta eta theta.")
    val stateJson = s"$root/state.json"
    Files.write(Paths.get(stateJson),
      """{"raw_datasets":{"ds1.tar.bz2":{"files":{
        |"doc_a.xml":{"status":"added","sha256":"ha"},
        |"doc_b.xml":{"status":"modified","sha256":"hb"}}}}}"""
        .stripMargin.replace("\n", "").getBytes("UTF-8"))
    import spark.implicits._
    val settings = Settings(storageType = "snapshot", embeddingDimensions = 8)
    val storePath = s"$root/store-snapshot"
    val r = GraftCli.processConfigured(
      spark, stateJson, extracted, storePath, s"$root/ledger-snapshot", settings)
    assert(r.exitCode == 0 && r.summary.processed == 2)
    // idempotent re-run over the same store
    assert(GraftCli.processConfigured(spark, stateJson, extracted, storePath,
      s"$root/ledger-snapshot", settings).summary.processed == 0)
    val viaSnapshot = GraftCli.mkStore(storePath, settings).read(spark)
      .select("chunkId", "content").as[(String, String)].collect().toMap
    val reference = directChunks(settings.chunker(),
      "doc_a" -> s"$extracted/ds1/doc_a.xml", "doc_b" -> s"$extracted/ds1/doc_b.xml")
    assert(viaSnapshot == reference && viaSnapshot.nonEmpty,
      "the store must hold exactly the chunker's chunks of the live documents")
    // status/validate read the same store
    val st = Ops.status(spark, s"$root/ledger-snapshot", GraftCli.mkStore(storePath, settings))
    assert(st.processed == 2 && st.storeDocs == 2)
  }

  test("process delta over the snapshot store: one merge-on-read commit per run, parquet-equal") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tmpDir("clidelta")
    def writeState(name: String, files: (String, String, String)*): String = {
      val p = s"$root/$name.json"
      Files.write(Paths.get(p), files.map { case (f, st, h) =>
        s""""$f":{"status":"$st","sha256":"$h"}"""
      }.mkString("""{"raw_datasets":{"ds1.tar.bz2":{"files":{""", ",", "}}}}")
        .getBytes("UTF-8"))
      p
    }
    // run 1 adds three documents; run 2 modifies one, adds one, removes one
    val extracted = s"$root/extracted-snapshot"
    Files.createDirectories(Paths.get(extracted, "ds1"))
    writeXml(s"$extracted/ds1", "doc_a.xml", "Alpha beta gamma delta.")
    writeXml(s"$extracted/ds1", "doc_b.xml", "Epsilon zeta eta theta.")
    writeXml(s"$extracted/ds1", "doc_c.xml", "Iota kappa lambda mu.")
    val settings = Settings(storageType = "snapshot", embeddingDimensions = 8)
    val store = s"$root/store-snapshot"
    val ledger = s"$root/ledger-snapshot"
    val r1 = GraftCli.processConfigured(spark, writeState("s1",
      ("doc_a.xml", "added", "ha"), ("doc_b.xml", "added", "hb"), ("doc_c.xml", "added", "hc")),
      extracted, store, ledger, settings)
    writeXml(s"$extracted/ds1", "doc_a.xml", "Alpha beta gamma delta revised epsilon.")
    writeXml(s"$extracted/ds1", "doc_d.xml", "Nu xi omicron pi.")
    val s2 = writeState("s2", ("doc_a.xml", "modified", "ha2"), ("doc_b.xml", "unchanged", "hb"),
      ("doc_c.xml", "removed", "hc"), ("doc_d.xml", "added", "hd"))
    def run2() = GraftCli.processConfigured(spark, s2, extracted, store, ledger, settings)
    def read() = GraftCli.mkStore(store, settings).read(spark)
    // the live documents after the delta, cut by the chunker directly
    def doc(d: String) = d -> s"$extracted/ds1/$d.xml"
    val reference = directChunks(settings.chunker(), doc("doc_a"), doc("doc_b"), doc("doc_d"))
    val changedReference = directChunks(settings.chunker(), doc("doc_a"), doc("doc_d"))
    assert(r1.exitCode == 0 && r1.summary.processed == 3)
    val snaps = graft.operators.Snapshots
    def referenced(v: Long): Set[String] =
      spark.read.json(f"$store/_log/v$v%08d").filter(col("kind") === "file")
        .select("path").as[String].collect().toSet
    def dataDirs(): Set[String] =
      Files.list(Paths.get(s"$store/data")).iterator().asScala.map(_.getFileName.toString).toSet
    // run 1 on an empty store: the create commit plus one delta commit
    assert(snaps.history(spark, store).count() == 2)
    val v1 = snaps.currentVersion(store).get
    val dirs1 = dataDirs()

    val r2 = run2()
    // exactly one commit for the whole delta (upserts + removed-doc deletes)
    assert(snaps.history(spark, store).count() == 3)
    val v2 = snaps.currentVersion(store).get
    assert(v2 == v1 + 1 && snaps.commitInfo(spark, store, v2).op == "merge")
    // no data file rewritten: every file v1 referenced is still referenced,
    // and the delta added one appended group plus one deletion-vector dataset
    assert(referenced(v1).subsetOf(referenced(v2)))
    val newDirs = dataDirs() -- dirs1
    assert(newDirs.size == 2 && newDirs.count(_.endsWith(".dv")) == 1, s"new dirs: $newDirs")
    val group = newDirs.find(!_.endsWith(".dv")).get
    assert((referenced(v2) -- referenced(v1)).forall(_.startsWith(s"data/$group/")))
    // store contents equal the direct chunker's over the live documents
    def contents(df: org.apache.spark.sql.DataFrame): Map[String, String] =
      df.select("chunkId", "content").as[(String, String)].collect().toMap
    assert(contents(read()) == reference && contents(read()).nonEmpty)
    assert(!contents(read()).values.exists(_.contains("Iota")), "removed document's chunks must go")
    // ProcessResult counts match the delta: modified + added processed, one removed
    assert(r2.exitCode == 0 && r2.summary.processed == 2 && r2.summary.failed == 0 &&
      r2.summary.removed == 1, s"$r2")
    assert(r2.summary.chunksWritten ==
      read().filter(col("sourceHash").isin("ha2", "hd")).count() && r2.summary.chunksWritten > 0)
    assert(r2.summary.chunksWritten == changedReference.size,
      s"$r2 vs the chunker's ${changedReference.size} chunks of the changed documents")
  }

  test("prepare: warc-ingest output feeds the crawl→shards pipeline into a snapshot table") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = tmpDir("cliprep")
    // a crawl: 24 quality pages + 1 junk page, served as WARC conversion
    // records. Enough pages survive (>= 8) that a fingerprint summing the
    // 60-bit url-derived doc ids would overflow a long
    val nPages = 24
    def page(i: Int): String =
      s"<html><body><p>The data of crawl $i holds " +
        (0 until 50).map(j => s"w${(j * 11 + i * 3) % 89}t").mkString(" ") +
        ".</p><p>click here</p></body></html>"
    val crawl = ((0 until nPages).map(i => (s"https://site$i.test/p", page(i))) :+
      ("https://junk.test/p" -> "<html><body><p>too short.</p></body></html>"))
      .toDF("url", "text")
      .withColumn("date", lit("2024-01-01T00:00:00Z"))
    graft.sources.Warc.write(crawl.select("url", "date", "text"), s"$root/warc"): Unit
    // warc-ingest lands the crawl in a snapshot table (url/text shape)
    val rawTbl = s"$root/raw"
    graft.operators.Snapshots.create(spark, rawTbl)
    graft.operators.Snapshots.append(spark, rawTbl, graft.sources.Warc.responses(
      graft.sources.Warc.read(spark, s"$root/warc/*.warc.gz"))): Unit
    val outTbl = s"$root/corpus"
    assert(GraftCli.prepareCmd(spark, rawTbl, outTbl, None) == 0)
    val kept = graft.operators.Snapshots.read(spark, outTbl)
    assert(kept.count() >= 8 && kept.count() <= nPages, s"kept ${kept.count()}")
    // warc shape derives source from the url domain; junk page dropped
    val sources = kept.select("source").as[String].collect().toSet
    assert(sources.subsetOf((0 until nPages).map(i => s"site$i.test").toSet))
    assert(kept.columns.toSet.intersect(Set("shard", "order_key", "toks")).size == 3)
  }
}
