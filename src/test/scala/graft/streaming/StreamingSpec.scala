package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.chunker.LovdataChunker
import graft.embed.DeterministicProvider
import graft.sources.SnapshotChunkStore

/** Streaming behavior: file-arrival source drives the same idempotent
  * upsert path as the batch pipeline; watermarked windows aggregate.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def writeDropFile(dir: String, name: String, docs: (String, String)*): Unit = {
    val lines = docs.map { case (id, body) =>
      val xml = s"""<html><body><main class=\\"documentBody\\"><h1>L</h1><article class=\\"legalP\\" id=\\"$id-l1\\">$body</article></main></body></html>"""
      s"""{"docId":"$id","dataset":"ds","hash":"h-$id","xml":"$xml"}"""
    }
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8"))
  }

  test("S6: file-arrival stream chunks, embeds, and upserts idempotently") {
    val inDir = tmpDir("stream_in")
    val storeDir = tmpDir("stream_store")
    val ckpt = tmpDir("stream_ckpt")
    val store = new SnapshotChunkStore(storeDir)
    writeDropFile(inDir, "drop1.json", ("d1", "Alpha beta gamma."), ("d2", "Delta epsilon."))

    def runOnce(): Unit = {
      val q = StreamingPipeline.writer(
        spark,
        StreamingPipeline.fileSource(spark, inDir),
        store,
        new LovdataChunker(targetTokens = 20, maxTokens = 100, minTokens = 2),
        new DeterministicProvider(8),
        ckpt
      ).start()
      q.awaitTermination()
    }

    runOnce()
    assert(store.distinctDocumentIds(spark).count() == 2)
    val n1 = store.count(spark)

    // new file arrives; old file is NOT reprocessed (checkpoint = ledger)
    writeDropFile(inDir, "drop2.json", ("d3", "Zeta eta theta."))
    runOnce()
    assert(store.distinctDocumentIds(spark).count() == 3)
    // d1/d2 chunks unchanged (idempotent upsert, no duplicates)
    assert(store.read(spark).filter(col("documentId").isin("d1", "d2")).count() == n1)
  }

  test("watermarked sliding windows over a streamed event source") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val events = mem.toDF().toDF("ts", "event_type")
    val out = StreamingPipeline.windowedCounts(events, "1 hour", "30 minutes", "2 hours")
    val q = out.writeStream.format("memory").queryName("wc").outputMode("update").start()
    mem.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "a"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:40:00"), "a")
    )
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM wc").collect()
    assert(rows.nonEmpty)
    // the 00:00 window sees both events; each event lands in 2 sliding windows
    val counts = rows.map(r => r.getTimestamp(0).toString -> r.getLong(2)).toMap
    assert(counts.values.max == 2)
    q.stop()
  }

  test("stream-stream interval join pairs within the bound, inclusive edges, per key") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val views = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val joined = StreamingPipeline.intervalJoin(
      views.toDF().toDF("user_id", "ts", "view_id"),
      purchases.toDF().toDF("user_id", "ts", "purchase_id", "value"),
      "user_id", "ts", "30 minutes", "1 hour")
    val q = joined.select($"view_id", $"r_purchase_id")
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    views.addData(
      (1L, ts("2024-01-01 10:00:00"), 10L),
      (1L, ts("2024-01-01 12:00:00"), 11L),
      (2L, ts("2024-01-01 10:00:00"), 12L))
    purchases.addData(
      (1L, ts("2024-01-01 10:20:00"), 20L, 5.0),  // inside v10's window
      (1L, ts("2024-01-01 12:30:00"), 21L, 6.0),  // exactly +30min of v11 (inclusive)
      (1L, ts("2024-01-01 09:50:00"), 22L, 7.0),  // before any view
      (2L, ts("2024-01-01 10:00:00"), 23L, 8.0),  // equal timestamps (inclusive)
      (2L, ts("2024-01-01 10:31:00"), 24L, 9.0),  // one minute past the bound
      (3L, ts("2024-01-01 10:00:00"), 25L, 1.0))  // no view for this user
    q.processAllAvailable()
    val pairs = spark.sql("SELECT * FROM ssj").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 20L), (11L, 21L), (12L, 23L)))
    q.stop()
  }

  test("stream-stream join state is watermark-bounded: too-late rows cannot pair") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val views = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val joined = StreamingPipeline.intervalJoin(
      views.toDF().toDF("user_id", "ts", "view_id"),
      purchases.toDF().toDF("user_id", "ts", "purchase_id", "value"),
      "user_id", "ts", "30 minutes", "1 hour")
    val q = joined.select($"view_id", $"r_purchase_id")
      .writeStream.format("memory").queryName("ssjw").outputMode("append").start()
    // batch 1: both streams reach 22:00 (the GLOBAL watermark is the min
    // across streams, so both must advance) — no pair; watermark → 21:00,
    // far past the 10:00 view's joinable horizon of 10:30
    views.addData((1L, ts("2024-01-01 10:00:00"), 10L),
      (2L, ts("2024-01-01 22:00:00"), 11L))
    purchases.addData((1L, ts("2024-01-01 22:00:00"), 20L, 5.0))
    q.processAllAvailable()
    q.processAllAvailable() // second cycle lets the advanced watermark evict
    // batch 2: an in-interval purchase arrives 11 hours late — behind the
    // watermark, so the view's buffered state is already evicted and no
    // pair may emerge (this eviction is WHY the join's memory is bounded)
    purchases.addData((1L, ts("2024-01-01 10:20:00"), 21L, 6.0))
    q.processAllAvailable()
    assert(spark.sql("SELECT * FROM ssjw").collect().isEmpty,
      "a row behind the watermark must not resurrect evicted join state")
    q.stop()
  }

  test("left-outer interval join: unmatched views emit with nulls after the watermark passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val views = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val joined = StreamingPipeline.intervalJoinLeftOuter(
      views.toDF().toDF("user_id", "ts", "view_id"),
      purchases.toDF().toDF("user_id", "ts", "purchase_id", "value"),
      "user_id", "ts", "30 minutes", "1 hour")
    val q = joined.select($"view_id", $"r_purchase_id")
      .writeStream.format("memory").queryName("ssjo").outputMode("append").start()
    // view 10 converts; view 11 never does
    views.addData(
      (1L, ts("2024-01-01 10:00:00"), 10L),
      (2L, ts("2024-01-01 10:05:00"), 11L))
    purchases.addData((1L, ts("2024-01-01 10:20:00"), 20L, 5.0))
    q.processAllAvailable()
    // outer rows may not emit yet: a partner for view 11 could still arrive
    val early = spark.sql("SELECT * FROM ssjo WHERE r_purchase_id IS NULL").collect()
    assert(early.isEmpty, "null rows must wait for the watermark, not emit eagerly")
    // both streams advance far past 10:35 + watermark → view 11 provably
    // unmatched → emits with a NULL right side
    views.addData((99L, ts("2024-01-02 00:00:00"), 99L))
    purchases.addData((99L, ts("2024-01-02 00:00:00"), 98L, 0.0))
    q.processAllAvailable()
    q.processAllAvailable() // extra cycle: the no-data batch flushes outer state
    val rows = spark.sql("SELECT * FROM ssjo WHERE view_id IN (10, 11)").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(rows == Set((10L, Some(20L)), (11L, None)),
      s"matched view pairs, unmatched view nulls: got $rows")
    q.stop()
  }

  test("streaming failure quarantine: bad XML lands in _failures, batch succeeds") {
    val inDir = tmpDir("streamf_in")
    val storeDir = tmpDir("streamf_store")
    val ckpt = tmpDir("streamf_ckpt")
    val store = new SnapshotChunkStore(storeDir)
    Files.write(Paths.get(inDir, "drop.json"),
      (Seq(
        s"""{"docId":"ok1","dataset":"ds","hash":"h1","xml":"<html><body><main class=\\"documentBody\\"><article class=\\"legalP\\" id=\\"x\\">Fine text.</article></main></body></html>"}""",
        s"""{"docId":"bad1","dataset":"ds","hash":"h2","xml":"<html><unclosed"}"""
      ).mkString("\n")).getBytes("UTF-8"))
    val q = StreamingPipeline.writer(
      spark, StreamingPipeline.fileSource(spark, inDir), store,
      new LovdataChunker(targetTokens = 20, maxTokens = 100, minTokens = 2),
      new DeterministicProvider(8), ckpt
    ).start()
    q.awaitTermination()
    assert(store.distinctDocumentIds(spark).as[String].collect().toSeq == Seq("ok1"))
    val failures = spark.read.json(s"$storeDir/_failures")
    assert(failures.select("docId").as[String].collect().toSeq == Seq("bad1"))
  }

  test("streaming exact dedup: dropDuplicatesWithinWatermark on content hash") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val docs = StreamingPipeline.dedupExactStream(
      mem.toDF().toDF("text", "ts"), "text", "ts", "1 hour")
    val q = docs.writeStream.format("memory").queryName("dedup").outputMode("append").start()
    mem.addData(
      ("same text", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("same text", java.sql.Timestamp.valueOf("2024-01-01 00:05:00")),
      ("other text", java.sql.Timestamp.valueOf("2024-01-01 00:06:00"))
    )
    q.processAllAvailable()
    assert(spark.sql("SELECT count(DISTINCT text) FROM dedup").head().getLong(0) ==
      spark.sql("SELECT count(*) FROM dedup").head().getLong(0), "no duplicate texts emitted")
    assert(spark.sql("SELECT count(*) FROM dedup").head().getLong(0) == 2)
    q.stop()
  }

  test("streaming decontamination drops colliding docs per microbatch, benchmark reused") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val benchText = (1 to 20).map(i => s"bench$i").mkString(" ")
    val benchGrams = graft.operators.Dedup.benchmarkGrams(
      Seq(Tuple1(benchText)).toDF("text"), "text", n = 5).cache()
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]

    val mem = MemoryStream[(Long, String)]
    // data lands before start: AvailableNow processes it then terminates
    mem.addData(
      (1L, "leaked " + (3 to 9).map(i => s"bench$i").mkString(" ")), // 7-token bench run
      (2L, "totally clean text with several words here"),
      (3L, (1 to 20).map(i => s"own$i").mkString(" "))
    )
    val q = StreamingPipeline.decontaminatingWriter(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", benchGrams, n = 5,
      tmpDir("decon_ckpt")
    ) { clean =>
      collected ++= clean.select("doc_id", "text").as[(Long, String)].collect()
    }.start()
    q.awaitTermination()
    assert(collected.map(_._1).toSet == Set(2L, 3L),
      "the doc sharing a 5-gram run with the benchmark is dropped; clean docs pass")
  }

  test("deduping writer drops near-dups across microbatches and runs via the signature index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val idx = tmpDir("sdedup") + "/index"
    val ckpt = tmpDir("sdedup_ckpt")
    val textA = "the quick brown fox jumps over the lazy dog again and again today"
    val textA2 = "the quick brown fox jumps over the lazy dog again and again tonight"
    val textB = "large scale data pipelines need careful dedup of near duplicate text"
    val textB2 = "large scale data pipelines need careful dedup of near duplicate texts"
    val textC = "completely unrelated content about cooking pasta with fresh tomatoes"
    val collected = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(mem: MemoryStream[(Long, String)]): Unit = {
      val q = StreamingPipeline.dedupingWriter(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, ckpt
      ) { kept =>
        collected ++= kept.select("doc_id").as[Long].collect()
      }.start()
      q.awaitTermination()
    }
    // run 1: 1≈2 (drop 2, the larger id), 3 unique — no index exists yet
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, textA), (2L, textA2), (3L, textB))
    run(mem)
    assert(collected.toSet == Set(1L, 3L))
    // run 2 (fresh query, same checkpoint + index): 11 near-dups the
    // ACCEPTED doc 3 through the persisted index; 12 is new
    collected.clear()
    mem.addData((11L, textB2), (12L, textC))
    run(mem)
    assert(collected.toSet == Set(12L),
      "doc 11 must be dropped against the signatures registered by run 1")
  }

  test("importance filtering writer keeps target-like documents, drops dissimilar ones") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.ImportanceSampling
    implicit val sqlCtx = spark.sqlContext
    // target distribution: legal-ish bigrams; raw: everything else
    val target = Seq.tabulate(20)(i => (i.toLong, "lov om arbeidsmiljø og sikkerhet"))
      .toDF("doc_id", "text")
    val raw = Seq.tabulate(20)(i => (100L + i, "pasta recipe with fresh tomatoes basil"))
      .toDF("doc_id", "text")
    val tc = ImportanceSampling.bucketCounts(target, "text", buckets = 256)
    val rc = ImportanceSampling.bucketCounts(raw, "text", buckets = 256)
    val collected = scala.collection.mutable.ArrayBuffer.empty[Long]
    val mem = MemoryStream[(Long, String)]
    val q = StreamingPipeline.importanceFilteringWriter(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", tc, rc,
      buckets = 256, minLogw = 0.0, checkpointDir = tmpDir("impf_ckpt")
    ) { kept =>
      collected ++= kept.select("doc_id").as[Long].collect()
    }.start()
    mem.addData(
      (1000L, "lov om arbeidsmiljø og sikkerhet"),     // target-like: logw > 0
      (2000L, "pasta recipe with fresh tomatoes basil") // raw-like: logw < 0
    )
    q.awaitTermination()
    assert(collected.toSet == Set(1000L),
      "only the target-distribution document clears the importance threshold")
  }

  test("drift monitor writer: in-distribution batch scores near zero, shifted batch spikes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.ImportanceSampling
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq.tabulate(40)(i => (i.toLong,
      s"lov om arbeidsmiljø og sikkerhet paragraf ${i % 5}")).toDF("doc_id", "text")
    val refCounts = ImportanceSampling.bucketCounts(ref, "text", buckets = 256)
    // the monitor is stateless across batches: each feed is its own run
    def psiOf(data: Seq[(Long, String)]): Double = {
      val rows = scala.collection.mutable.ArrayBuffer.empty[Double]
      val mem = MemoryStream[(Long, String)]
      mem.addData(data: _*)
      val q = StreamingPipeline.driftMonitorWriter(
        mem.toDF().toDF("doc_id", "text"), "text", refCounts,
        buckets = 256, checkpointDir = tmpDir("drift_ckpt")
      ) { metrics =>
        rows ++= metrics.select("psi").as[Double].collect()
      }.start()
      q.awaitTermination()
      assert(rows.size == 1, s"one metrics row per microbatch, got $rows")
      rows.head
    }
    val inDist = psiOf(Seq.tabulate(10)(i =>
      (1000L + i, s"lov om arbeidsmiljø og sikkerhet paragraf ${i % 5}")))
    val shifted = psiOf(Seq.tabulate(10)(i =>
      (2000L + i, s"pasta recipe with fresh tomatoes basil number ${i % 5}")))
    assert(shifted > inDist * 3 && shifted > 0.1,
      s"shifted feed must spike PSI: in-dist=$inDist shifted=$shifted")
  }

  test("line deduping writer drops repeated lines across runs via the hash registry") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val idx = tmpDir("linededup") + "/index"
    val ckpt = tmpDir("linededup_ckpt") // SAME checkpoint both runs: batch ids stay monotone
    val collected = scala.collection.mutable.Map.empty[Long, String]
    val mem = MemoryStream[(Long, String)]
    def run(): Unit = {
      val q = StreamingPipeline.lineDedupingWriter(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, ckpt
      ) { out =>
        collected ++= out.select("doc_id", "text").as[(Long, String)].collect()
      }.start()
      q.awaitTermination()
    }
    mem.addData((1L, "alpha\nbeta"), (2L, "beta\ngamma"))
    run()
    assert(collected.toMap == Map(1L -> "alpha\nbeta", 2L -> "gamma"))
    mem.addData((10L, "gamma\ndelta"))
    run()
    assert(collected(10L) == "delta", "a line first seen in run 1 drops in run 2")
  }

  test("graph indexing writer builds on the first batch and links later ones in") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val idx = tmpDir("graphidx") + "/graph"
    val ckpt = tmpDir("graphidx_ckpt")
    def v(a: Double) = Array(math.cos(a).toFloat, math.sin(a).toFloat, 0f, 0f)
    val mem = MemoryStream[(Long, Array[Float])]
    def run(): Unit = {
      val q = StreamingPipeline.graphIndexingWriter(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", idx, ckpt,
        dim = 4, degree = 2, hubs = 4).start()
      q.awaitTermination()
    }
    mem.addData((0 until 12).map(i => (i.toLong, v(0.1 * i))): _*)
    run()
    mem.addData((100L, v(1.3)), (101L, v(0.05)))
    run()
    val g = graft.operators.GraphAnn.readGraph(spark, idx, "vec_id", "embedding")
    assert(g.vectors.count() == 14)
    import org.apache.spark.sql.functions.col
    val hit = graft.operators.GraphAnn.search(g,
      g.vectors.filter(col("vec_id") === 101L), "vec_id", "embedding",
      k = 1, beam = 8, maxHops = 6, nSeeds = 2)
      .collect().map(_.getLong(1)).toSet
    assert(hit == Set(101L), s"appended vector must be findable mid-stream, got $hit")
  }

  test("semantic deduping writer drops embedding near-dups across runs via the IVF index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val idx = tmpDir("semdedup") + "/index"
    val ckpt = tmpDir("semdedup_ckpt")
    def v(a: Double, eps: Double) =
      Array((math.cos(a) + eps).toFloat, math.sin(a).toFloat, 0f, 0f)
    val collected = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(mem: MemoryStream[(Long, Array[Float])]): Unit = {
      val q = StreamingPipeline.semanticDedupingWriter(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", idx, ckpt,
        kCells = 2, threshold = 0.999
      ) { kept =>
        collected ++= kept.select("vec_id").as[Long].collect()
      }.start()
      q.awaitTermination()
    }
    // run 1: 1≈2 in one direction (drop 2), 10 alone in another — builds the index
    val mem = MemoryStream[(Long, Array[Float])]
    mem.addData((1L, v(0, 0)), (2L, v(0, 1e-4)), (10L, v(2, 0)))
    run(mem)
    assert(collected.toSet == Set(1L, 10L))
    // run 2: 11 near-dups the ACCEPTED 10 through the persisted index; 20 is
    // a genuinely new direction and survives
    collected.clear()
    mem.addData((11L, v(2, 1e-4)), (20L, v(1, 0)))
    run(mem)
    assert(collected.toSet == Set(20L),
      "vec 11 must be dropped against the vectors registered by run 1")
  }

  test("indexing writer keeps the BM25 index fresh across runs; search sees new docs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val idx = tmpDir("sbm25") + "/index"
    val ckpt = tmpDir("sbm25_ckpt")
    def run(mem: MemoryStream[(Long, String)]): Unit = {
      val q = StreamingPipeline.indexingWriter(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, ckpt, nBuckets = 8).start()
      q.awaitTermination()
    }
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "apple banana apple"), (2L, "banana cherry"))
    run(mem) // first run builds
    val hits1 = graft.operators.TextSearch.searchIndex(spark, idx, Seq("apple"), 10)
      .select("doc_id").as[Long].collect().toSet
    assert(hits1 == Set(1L))
    mem.addData((3L, "apple date elderberry"))
    run(mem) // second run appends doc 3's postings only
    val hits2 = graft.operators.TextSearch.searchIndex(spark, idx, Seq("apple"), 10)
      .select("doc_id").as[Long].collect().toSet
    assert(hits2 == Set(1L, 3L), "the appended document must be searchable")
    // appended index equals a from-scratch build over all three docs
    val scratch = tmpDir("sbm25_scratch") + "/index"
    graft.operators.TextSearch.writeIndex(spark,
      Seq((1L, "apple banana apple"), (2L, "banana cherry"), (3L, "apple date elderberry"))
        .toDF("doc_id", "text"), "text", "doc_id", scratch, nBuckets = 8)
    val a = graft.operators.TextSearch.searchIndex(spark, idx, Seq("apple", "banana"), 10)
      .as[(Long, Double)].collect().toMap
    val b = graft.operators.TextSearch.searchIndex(spark, scratch, Seq("apple", "banana"), 10)
      .as[(Long, Double)].collect().toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (id, s) => assert(math.abs(s - b(id)) < 1e-12) }
  }

  test("sketching writer folds per-batch CMS segments; replayed batches never double-count") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val skDir = tmpDir("scms") + "/sketch"
    val ckpt = tmpDir("scms_ckpt")
    def run(mem: MemoryStream[String]): Unit = {
      val q = StreamingPipeline.sketchingWriter(
        mem.toDF().toDF("term"), "term", skDir, ckpt).start()
      q.awaitTermination()
    }
    val mem = MemoryStream[String]
    mem.addData("a", "a", "b")
    run(mem)
    mem.addData("a", "b", "c")
    run(mem)
    val merged = graft.operators.CountMin.readMerged(spark, skDir)
    // low cardinality -> estimates are exact
    assert(merged.estimateCount("a") == 3L && merged.estimateCount("b") == 2L &&
      merged.estimateCount("c") == 1L)
    assert(merged.totalCount() == 6L)
    // simulate a failure replay: the same batch id re-writes its own
    // segment and the merged counts DON'T change (idempotent layout)
    graft.operators.CountMin.writeBatchSegment(
      spark, Seq("a", "b", "c").toDF("term"), "term", skDir, batchId = 1L)
    val replayed = graft.operators.CountMin.readMerged(spark, skDir)
    assert(replayed.estimateCount("a") == 3L && replayed.totalCount() == 6L,
      "a replayed batch must overwrite its segment, not add to it")
  }

  test("vector indexing writer builds then appends the IVF index across runs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val idx = tmpDir("sivf") + "/index"
    val ckpt = tmpDir("sivf_ckpt")
    def vec(a: Float, b: Float) = Array(a, b, 0f, 0f)
    def run(mem: MemoryStream[(Long, Array[Float])]): Unit = {
      val q = StreamingPipeline.vectorIndexingWriter(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", idx, ckpt,
        kCells = 2).start()
      q.awaitTermination()
    }
    val mem = MemoryStream[(Long, Array[Float])]
    mem.addData((1L, vec(1f, 0f)), (2L, vec(0.9f, 0.1f)), (3L, vec(0f, 1f)))
    run(mem) // builds with 2 cells
    val cents1 = graft.operators.Similarity.readIvf(spark, idx).centroids
    mem.addData((4L, vec(0.95f, 0.05f)))
    run(mem) // appends against the frozen centroids
    val after = graft.operators.Similarity.readIvf(spark, idx)
    assert(after.centroids.map(_._2.toSeq) == cents1.map(_._2.toSeq),
      "append must not move centroids")
    assert(after.assigned.select("vec_id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    val hits = graft.operators.Similarity.topKIvf(
      after, "embedding", "vec_id", vec(1f, 0f), k = 2, nProbes = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(hits.contains(4L), "the appended vector must be searchable")
  }

  test("flatMapGroupsWithState emits closed sessions only, keeps open tail in state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val events = mem.toDF().toDF("user_id", "ts")
    val out = StreamingPipeline.sessionizeClosed(spark, events, gapMs = 30 * 60000)
    val q = out.toDF().writeStream.format("memory").queryName("closed").outputMode("append").start()
    // session 1: two events; then a 2-hour gap closes it and opens session 2
    mem.addData(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 02:10:00"))
    )
    q.processAllAvailable()
    val rows = spark.sql("SELECT userId, nEvents, closed FROM closed").collect()
    assert(rows.length == 1, "only the finished session is emitted")
    assert(rows.head.getLong(1) == 2 && rows.head.getBoolean(2))
    // the open session closes when a later batch exceeds the gap again
    mem.addData((1L, java.sql.Timestamp.valueOf("2024-01-01 05:00:00")))
    q.processAllAvailable()
    assert(spark.sql("SELECT count(*) FROM closed").head().getLong(0) == 2)
    q.stop()
  }

  test("a quiet key's session closes via event-time timeout and its state row evicts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val events = mem.toDF().toDF("user_id", "ts")
    val out = StreamingPipeline.sessionizeClosed(
      spark, events, gapMs = 30 * 60000, watermark = "1 hour")
    val q = out.toDF().writeStream.format("memory").queryName("evict")
      .outputMode("append").start()
    // user 1 has an open two-event session, then goes quiet forever
    mem.addData(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")))
    q.processAllAvailable()
    assert(spark.sql("SELECT count(*) FROM evict").head().getLong(0) == 0,
      "nothing closed while the session is open and the watermark is behind")
    // a DIFFERENT key's event advances the watermark to 05:00, far past
    // user 1's gap horizon (00:40) — the timeout fires in the no-data
    // batch, emits the open tail as closed, and removes user 1's state
    mem.addData((2L, java.sql.Timestamp.valueOf("2024-01-01 06:00:00")))
    q.processAllAvailable()
    val rows = spark.sql("SELECT userId, nEvents, closed FROM evict").collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 1L &&
      rows.head.getLong(1) == 2L && rows.head.getBoolean(2),
      s"expected user 1's tail closed via timeout, got ${rows.mkString(",")}")
    // only user 2's state row survives — eviction, not accumulation
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    assert(stateRows == 1, s"expected 1 surviving state row, got $stateRows")
    // a third quiet-key cycle: user 2 evicts the same way
    mem.addData((3L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00")))
    q.processAllAvailable()
    assert(spark.sql("SELECT count(*) FROM evict WHERE userId = 2").head().getLong(0) == 1)
    assert(q.lastProgress.stateOperators.head.numRowsTotal == 1,
      "state stays bounded as keys come and go")
    q.stop()
  }

  test("stateful writers run identically on the RocksDB state store backend") {
    // The round-9 writers keep their durable state in on-disk registries /
    // indexes (not the Spark state store), so backend invariance SHOULD be
    // trivial — this pins it, the sessionization discipline applied to the
    // whole writer family: same outputs under RocksDB, registries land the
    // same, and no state rows accumulate in the store.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.ImportanceSampling
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // line dedup: first-occurrence drops replay across runs
      val lineIdx = tmpDir("rocks_linededup") + "/index"
      val lineCkpt = tmpDir("rocks_linededup_ckpt")
      val lineOut = scala.collection.mutable.Map.empty[Long, String]
      val lineMem = MemoryStream[(Long, String)]
      def runLine(): Unit = {
        val q = StreamingPipeline.lineDedupingWriter(
          lineMem.toDF().toDF("doc_id", "text"), "doc_id", "text", lineIdx, lineCkpt
        ) { out =>
          lineOut ++= out.select("doc_id", "text").as[(Long, String)].collect()
        }.start()
        q.awaitTermination()
        assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty ||
          q.lastProgress.stateOperators.forall(_.numRowsTotal == 0),
          "writer state lives in the registry, not the store")
      }
      lineMem.addData((1L, "alpha\nbeta"), (2L, "beta\ngamma"))
      runLine()
      lineMem.addData((10L, "gamma\ndelta"))
      runLine()
      assert(lineOut.toMap ==
        Map(1L -> "alpha\nbeta", 2L -> "gamma", 10L -> "delta"),
        s"line-dedup outputs must match the default backend's: $lineOut")

      // drift monitor: identical PSI behavior
      val ref = Seq.tabulate(40)(i => (i.toLong,
        s"lov om arbeidsmiljø og sikkerhet paragraf ${i % 5}")).toDF("doc_id", "text")
      val refCounts = ImportanceSampling.bucketCounts(ref, "text", buckets = 256)
      val psis = scala.collection.mutable.ArrayBuffer.empty[Double]
      val driftBatch = Seq.tabulate(10)(i =>
        (1000L + i, s"lov om arbeidsmiljø og sikkerhet paragraf ${i % 5}"))
      val driftMem = MemoryStream[(Long, String)]
      driftMem.addData(driftBatch: _*)
      val dq = StreamingPipeline.driftMonitorWriter(
        driftMem.toDF().toDF("doc_id", "text"), "text", refCounts,
        buckets = 256, checkpointDir = tmpDir("rocks_drift_ckpt")
      ) { m => psis ++= m.select("psi").as[Double].collect() }.start()
      dq.awaitTermination()
      // backend invariance in the strict form: the streamed metric equals
      // the same batch's drift computed directly
      val wantPsi = graft.operators.Drift.drift(refCounts,
        ImportanceSampling.bucketCounts(
          driftBatch.toDF("doc_id", "text"), "text", buckets = 256),
        buckets = 256).select("psi").as[Double].head()
      assert(psis.toSeq == Seq(wantPsi),
        s"streamed PSI under RocksDB equals the batch computation: $psis vs $wantPsi")

      // graph indexing: build + incremental link-in
      val gIdx = tmpDir("rocks_graphidx") + "/graph"
      def gv(a: Double) = Array(math.cos(a).toFloat, math.sin(a).toFloat, 0f, 0f)
      val gMem = MemoryStream[(Long, Array[Float])]
      val gCkpt = tmpDir("rocks_graphidx_ckpt")
      def runGraph(): Unit = {
        val q = StreamingPipeline.graphIndexingWriter(
          gMem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
          gIdx, gCkpt, dim = 4, degree = 2, hubs = 4).start()
        q.awaitTermination()
      }
      gMem.addData((0 until 12).map(i => (i.toLong, gv(0.1 * i))): _*)
      runGraph()
      gMem.addData((101L, gv(0.05)))
      runGraph()
      val g = graft.operators.GraphAnn.readGraph(spark, gIdx, "vec_id", "embedding")
      assert(g.vectors.count() == 13 && g.hubIds.isDefined)
      val hit = graft.operators.GraphAnn.search(g,
        g.vectors.filter(org.apache.spark.sql.functions.col("vec_id") === 101L),
        "vec_id", "embedding", k = 1, beam = 8, maxHops = 6, nSeeds = 2)
        .collect().map(_.getLong(1)).toSet
      assert(hit == Set(101L), s"appended vector findable under RocksDB, got $hit")

      // semantic dedup: near-dups drop against the persisted IVF registry
      val sIdx = tmpDir("rocks_semdedup") + "/index"
      val sCkpt = tmpDir("rocks_semdedup_ckpt")
      def sv(a: Double, eps: Double) =
        Array((math.cos(a) + eps).toFloat, math.sin(a).toFloat, 0f, 0f)
      val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
      val sMem = MemoryStream[(Long, Array[Float])]
      def runSem(): Unit = {
        val q = StreamingPipeline.semanticDedupingWriter(
          sMem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
          sIdx, sCkpt, kCells = 2, threshold = 0.999
        ) { out => kept ++= out.select("vec_id").as[Long].collect() }.start()
        q.awaitTermination()
      }
      sMem.addData((1L, sv(0, 0)), (2L, sv(0, 1e-4)), (10L, sv(2, 0)))
      runSem()
      kept.clear()
      sMem.addData((11L, sv(2, 1e-4)), (20L, sv(1, 0)))
      runSem()
      assert(kept.toSet == Set(20L),
        s"semantic dedup drops 11 against run-1 state under RocksDB: $kept")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("sessionization runs identically on the RocksDB state store backend") {
    // At 100 TB/day the in-memory (HDFS-backed) state store caps state at
    // executor heap; production streaming state lives in RocksDB, where
    // per-key state spills to local SSD and snapshots upload incrementally.
    // The operator contract must be backend-invariant: same closed
    // sessions, same eviction, only the storage engine changes.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, java.sql.Timestamp)]
      val events = mem.toDF().toDF("user_id", "ts")
      val out = StreamingPipeline.sessionizeClosed(
        spark, events, gapMs = 30 * 60000, watermark = "1 hour")
      val q = out.toDF().writeStream.format("memory").queryName("rocks")
        .outputMode("append").start()
      mem.addData(
        (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        (1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),
        (1L, java.sql.Timestamp.valueOf("2024-01-01 02:10:00")))
      q.processAllAvailable()
      val rows = spark.sql("SELECT userId, nEvents, closed FROM rocks").collect()
      assert(rows.length == 1 && rows.head.getLong(1) == 2 && rows.head.getBoolean(2),
        s"same closed-session semantics under RocksDB, got ${rows.mkString(",")}")
      // timeout eviction works the same way: another key pushes the
      // watermark past user 1's gap horizon, the tail closes, state evicts
      mem.addData((2L, java.sql.Timestamp.valueOf("2024-01-01 06:00:00")))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM rocks WHERE userId = 1").head().getLong(0) == 2)
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows == 1, s"RocksDB state evicts on timeout too, got $stateRows rows")
      q.stop()

      // transformWithState (Spark 4's successor API, RocksDB-only): same
      // session laws through typed ValueState + explicit event-time timers
      val mem2 = MemoryStream[(Long, java.sql.Timestamp)]
      val out2 = StreamingPipeline.sessionizeClosedTws(
        spark, mem2.toDF().toDF("user_id", "ts"), gapMs = 30 * 60000, watermark = "1 hour")
      val q2 = out2.toDF().writeStream.format("memory").queryName("tws")
        .outputMode("append").start()
      mem2.addData(
        (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        (1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),
        (1L, java.sql.Timestamp.valueOf("2024-01-01 02:10:00")))
      q2.processAllAvailable()
      val tws = spark.sql("SELECT userId, nEvents, closed FROM tws").collect()
      assert(tws.length == 1 && tws.head.getLong(1) == 2 && tws.head.getBoolean(2),
        s"tws emits the in-batch closed session, got ${tws.mkString(",")}")
      // quiet key: another key's event drives the watermark past the gap
      // horizon; the registered timer fires, the tail closes, state evicts
      mem2.addData((2L, java.sql.Timestamp.valueOf("2024-01-01 06:00:00")))
      q2.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM tws WHERE userId = 1").head().getLong(0) == 2,
        "timer-fired tail close emits through transformWithState")
      q2.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("mapGroupsWithState sessionization emits per-key updates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val events = mem.toDF().toDF("user_id", "ts")
    val out = StreamingPipeline.sessionize(spark, events, gapMs = 30 * 60000)
    val q = out.toDF().writeStream.format("memory").queryName("sess").outputMode("update").start()
    mem.addData((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")))
    q.processAllAvailable()
    val n = spark.sql("SELECT nEvents FROM sess WHERE userId = 1").collect().map(_.getLong(0))
    assert(n.contains(2L))
    q.stop()
  }

  test("snapshot writer commits each microbatch exactly once across restarts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, sum => fsum}
    implicit val sqlCtx = spark.sqlContext
    val table = tmpDir("snapsink") + "/t"
    val ckpt = tmpDir("snapsink_ckpt")
    val mem = MemoryStream[(Long, Long)]
    def run(): Unit = {
      val q = StreamingPipeline.snapshotWriter(
        mem.toDF().toDF("doc_id", "n_chars"), table, ckpt, appId = "snapsink").start()
      q.awaitTermination()
    }
    mem.addData((1L, 10L), (2L, 20L))
    run()
    mem.addData((3L, 30L))
    run()
    val g = graft.operators.Snapshots
    assert(g.read(spark, table).agg(fsum(col("n_chars"))).head().getLong(0) == 60L)
    // time travel: the table version after batch 0 holds only batch 0
    val h = g.history(spark, table).collect()
    assert(h.count(_.getAs[String]("op") == "append") == 2)

    // crash-replay: committing batch 1 AGAIN under the same appId must be
    // a detected no-op (the checkpoint replays the same batchId)
    import spark.implicits._
    val replay = Seq((3L, 30L)).toDF("doc_id", "n_chars")
    assert(g.appendIdempotent(spark, table, replay, "snapsink", 1L).isEmpty,
      "replayed (appId, batchId) must be skipped")
    assert(g.read(spark, table).count() == 3)
    // a NEW transaction still lands
    assert(g.appendIdempotent(spark, table, replay, "snapsink", 2L).nonEmpty)
    assert(g.read(spark, table).count() == 4)
    // and an unrelated appId is not blocked by this one's history
    assert(g.appendIdempotent(spark, table,
      Seq((9L, 90L)).toDF("doc_id", "n_chars"), "other-app", 0L).nonEmpty)
  }

  test("snapshot upsert writer merges each microbatch by key exactly once across restarts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, sum => fsum}
    implicit val sqlCtx = spark.sqlContext
    val table = tmpDir("upsink") + "/t"
    val ckpt = tmpDir("upsink_ckpt")
    val mem = MemoryStream[(Long, Long)]
    def run(): Unit = {
      val q = StreamingPipeline.snapshotUpsertWriter(
        mem.toDF().toDF("doc_id", "n_chars"), table, ckpt,
        appId = "upsink", keyCols = Seq("doc_id")).start()
      q.awaitTermination()
    }
    mem.addData((1L, 10L), (2L, 20L))
    run()
    // batch 1 UPDATES key 1 and inserts key 3
    mem.addData((1L, 11L), (3L, 30L))
    run()
    // restart on the same checkpoint with nothing new: nothing re-lands
    run()
    val g = graft.operators.Snapshots
    assert(g.read(spark, table).count() == 3, "keyed upsert, not append")
    assert(g.read(spark, table).agg(fsum(col("n_chars"))).head().getLong(0) == 61L,
      "key 1 carries its UPDATED value exactly once")
    // hand-replay of batch 1 under the same appId: detected, skipped
    import spark.implicits._
    assert(g.mergeIdempotent(spark, table,
      Seq((1L, 11L)).toDF("doc_id", "n_chars"), Seq("doc_id"), "upsink", 1L).isEmpty)
    // a new transaction still lands as a keyed update
    assert(g.mergeIdempotent(spark, table,
      Seq((1L, 12L)).toDF("doc_id", "n_chars"), Seq("doc_id"), "upsink", 2L).nonEmpty)
    assert(g.read(spark, table).count() == 3)
    assert(g.read(spark, table).filter(col("doc_id") === 1L)
      .head().getAs[Long]("n_chars") == 12L)
  }
}
