package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.chunker.LovdataChunker
import graft.embed.{DeterministicProvider, Embedding}
import graft.pipeline.Pipeline
import graft.queries.PipelineQueries
import graft.sources.SnapshotChunkStore

/** Scale probe: replicate the documents table N× (distinct doc ids) and run
  * the full chunk → embed → upsert path, timing each stage. Evidence that
  * the per-document flatMap/mapPartitions stages and the chunk store
  * scale linearly well past the bench SF — run with `multiplier 10` on sf0.1
  * for a 500k-document corpus.
  *
  * Usage: runMain graft.ScaleProbe [sfDir] [multiplier]
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = Session()
    val cpus = spark.sparkContext.defaultParallelism

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val base = Tables.documents(spark, sfDir)
    val corpus = (0 until mult)
      .map(i => base.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10_000_000L)))
      .reduce(_.unionByName(_))
      .select(
        concat(lit("doc"), col("doc_id")).as("docId"),
        col("source").as("dataset"),
        sha2(concat(col("text"), col("doc_id")), 256).as("hash"),
        PipelineQueries.synthXmlUdf(col("doc_id"), col("text")).as("xml")
      )
      .repartition(cpus * 2)
      .cache()
    val nDocs = corpus.count() // materialize input (excluded from stage timings)

    val chunker = new LovdataChunker(targetTokens = 64, maxTokens = 200, minTokens = 20)
    val (chunks, tChunk) = timed {
      val c = Pipeline.positionalIds(Pipeline.chunkDocuments(spark, corpus, chunker)).cache()
      c.count(); c
    }
    val nChunks = chunks.count()
    val (embedded, tEmbed) = timed {
      val e = Embedding.embed(chunks, "content", new DeterministicProvider(64))
        .withColumn("parentChunkId", lit(null).cast("string")).cache()
      e.count(); e
    }
    val storePath = s"/tmp/graft/scaleprobe_store"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(storePath))
    val store = new SnapshotChunkStore(storePath)
    val (_, tStore) = timed { store.upsert(spark, embedded) }
    val stored = store.count(spark)

    // K3 mass-delete at corpus scale: retire ~25% of documents through the
    // hint-free tombstone anti-join (dataset retirement is a routine 100 TB
    // operation; the id set must never be pinned to a broadcast). The
    // expected chunk count is computed independently via a semi-join first,
    // so the delete is verified exactly, not just timed.
    val tombstones = corpus.select(col("docId"))
      .filter(pmod(xxhash64(col("docId")), lit(4)) === 0).cache()
    val nTombstones = tombstones.count()
    val expectedDeleted = store.read(spark)
      .join(tombstones.withColumnRenamed("docId", "documentId"), Seq("documentId"), "left_semi")
      .count()
    val (nDeleted, tDelete) = timed { store.deleteByDocuments(spark, tombstones) }
    require(nDeleted == expectedDeleted,
      s"delete removed $nDeleted chunks, semi-join expected $expectedDeleted")
    require(store.count(spark) == stored - nDeleted, "post-delete store count mismatch")
    tombstones.unpersist() // release before the timed stages that follow

    // Ledger at corpus scale: one row per document, persisted as
    // status-partitioned parquet with no driver materialization, then the
    // size-adaptive J1 anti-join over a 1%-changed CDC snapshot — including
    // the forced shuffle path, which is what a 10⁸-doc ledger would take.
    val ledgerPath = "/tmp/graft/scaleprobe_ledger"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ledgerPath))
    val ledger = new graft.state.PipelineState(ledgerPath)
    val ledgerRows = corpus.select(
      col("docId"), col("hash"),
      lit("processed").as("status"), lit("t0").as("at"),
      lit(null).cast("string").as("error"))
    val (_, tLedgerSave) = timed { ledger.save(spark, ledgerRows) }
    val state = ledger.load(spark)
    val cdc = corpus.select(
      col("docId"),
      when(pmod(xxhash64(col("docId")), lit(100)) === 0, concat(col("hash"), lit("x")))
        .otherwise(col("hash")).as("hash"))
    val (nChanged, tIdentify) = timed {
      graft.operators.Identify.identifyFiles(cdc, state).count()
    }
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (nChangedShuffle, tIdentifyShuffle) = timed {
      graft.operators.Identify.identifyFiles(cdc, state).count()
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    require(nChanged == nChangedShuffle, "broadcast and shuffle paths must agree")

    // Corpus dedup at scale: the replicated corpus is ~mult× exact-duplicate,
    // so the exact phase collapses it and the near-dup phases run on the
    // survivors — the realistic shape of a crawl dedup pass.
    val dedupInput = (0 until mult)
      .map(i => base.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10_000_000L)))
      .reduce(_.unionByName(_))
      .select(col("doc_id"), col("text"))
      .cache()
    dedupInput.count() // materialize input (excluded from the dedup timing)
    val (nKept, tDedup) = timed {
      graft.operators.Dedup.dedupCorpus(dedupInput, "doc_id", "text", maxBucketSize = 100).count()
    }

    // Corpus diff at scale: snapshot N vs N+1 over the replicated corpus —
    // old drops id%10==0, new drops id%13==1 and rewrites id%7==0 (an
    // unconditional append, so "changed" is predicate-exact). The join
    // carries (id, sha2) only. Every status count is verified EXACTLY
    // against an independent one-pass predicate aggregation.
    val oldSnap = dedupInput.filter(col("doc_id") % 10 =!= 0)
    val newSnap = dedupInput.filter(col("doc_id") % 13 =!= 1)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit("x"))).otherwise(col("text")))
    val (diffCounts, tDiff) = timed {
      graft.operators.CorpusDiff.diff(oldSnap, newSnap, "doc_id", "text")
        .groupBy(col("status")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val expDiff = dedupInput.agg(
      sum(when(col("doc_id") % 10 === 0 && col("doc_id") % 13 =!= 1, 1L).otherwise(0L)),
      sum(when(col("doc_id") % 10 =!= 0 && col("doc_id") % 13 === 1, 1L).otherwise(0L)),
      sum(when(col("doc_id") % 10 =!= 0 && col("doc_id") % 13 =!= 1 &&
        col("doc_id") % 7 === 0, 1L).otherwise(0L)),
      sum(when(col("doc_id") % 10 =!= 0 && col("doc_id") % 13 =!= 1 &&
        col("doc_id") % 7 =!= 0, 1L).otherwise(0L))).head()
    require(
      diffCounts.getOrElse("added", 0L) == expDiff.getLong(0) &&
        diffCounts.getOrElse("removed", 0L) == expDiff.getLong(1) &&
        diffCounts.getOrElse("changed", 0L) == expDiff.getLong(2) &&
        diffCounts.getOrElse("unchanged", 0L) == expDiff.getLong(3),
      s"corpus diff drifted from the predicate truth: $diffCounts vs $expDiff")

    // Leakage-safe splits at scale: near-dup clusters (the replicated corpus
    // is mult×-duplicated, so clusters are real and large) must land WHOLE
    // in one split. The gate is exact: zero candidate pairs straddle splits.
    val (nStraddle, tLeakSplit) = timed {
      val pairs = graft.operators.Dedup.minhashCandidates(
        dedupInput, "doc_id", "text", maxBucketSize = 100)
      val assigned = graft.operators.Sampling.leakageSafeSplits(
        dedupInput.select(col("doc_id")), "doc_id", pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
      assigned.cache().count()
      val a = assigned.withColumnRenamed("doc_id", "id_a").withColumnRenamed("split", "sa")
      val b = assigned.withColumnRenamed("doc_id", "id_b").withColumnRenamed("split", "sb")
      val n = pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
        .filter(col("sa") =!= col("sb")).count()
      assigned.unpersist()
      n
    }
    require(nStraddle == 0L, s"$nStraddle near-dup pairs straddle splits")

    // Lake compaction at scale: the corpus written 64-way-fragmented into
    // 8 partition dirs (~512 small files — a few hours of streaming
    // appends), folded back to one file per partition. Gates are exact:
    // row count preserved, files_after == 8.
    val lakePath = "/tmp/graft/scaleprobe_lake"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lakePath))
    dedupInput
      .withColumn("shard", pmod(col("doc_id"), lit(8)).cast("string"))
      .repartition(64)
      .write.partitionBy("shard").parquet(lakePath)
    val (lakeStats, tLakeCompact) = timed {
      graft.operators.Lake.compact(spark, lakePath, Seq("shard"))
    }
    require(lakeStats.rows == nDocs,
      s"compaction must preserve rows: ${lakeStats.rows} vs $nDocs")
    require(lakeStats.filesAfter == 8,
      s"one file per partition expected, got ${lakeStats.filesAfter} (before: ${lakeStats.filesBefore})")

    // Decontamination at scale: a 1%-of-corpus "benchmark" (the realistic
    // eval-suite-to-corpus ratio is far smaller) swept against all docs via
    // the 13-gram hash join; gram set built once, persisted.
    val benchGrams = graft.operators.Dedup.benchmarkGrams(
      dedupInput.filter(col("doc_id") % 100 === 0).select(col("text")), "text", n = 13)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    benchGrams.count() // materialize outside the timing
    val (nContaminated, tDecontam) = timed {
      graft.operators.Dedup.contaminatedIdsAgainstGrams(
        dedupInput, "doc_id", "text", benchGrams, n = 13).count()
    }
    benchGrams.unpersist()

    // Bloom-prefiltered anti-join vs the plain shuffle anti-join, on the
    // path a 100 TB run takes (broadcast disabled): the exclusion set is 1%
    // of ids, so the bloom routes ~99% of the corpus around the exchange.
    // Counts must agree exactly — the bloom only routes.
    val corpusIds = dedupInput.select(col("doc_id"))
    val exclusion = corpusIds.filter(pmod(xxhash64(col("doc_id")), lit(100)) === 0)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (nPlainAnti, tPlainAnti) = timed {
      corpusIds.join(exclusion, Seq("doc_id"), "left_anti").count()
    }
    val (nBloomAnti, tBloomAnti) = timed {
      graft.operators.BloomAntiJoin.antiJoin(
        corpusIds, "doc_id", exclusion, "doc_id", expectedItems = nDocs / 100).count()
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    require(nPlainAnti == nBloomAnti,
      s"bloom anti-join returned $nBloomAnti rows, plain returned $nPlainAnti")

    // Quantized vs full-precision brute-force top-k over a mult×-replicated
    // embedding corpus: the int8 scan is the 4×-smaller representation; the
    // two rankings should approximately agree (recall@10 reported).
    val baseVecs = Tables.embeddings(spark, sfDir).filter(col("vec_id") =!= 0)
    val bigVecs = (0 until mult)
      .map(i => baseVecs.withColumn("vec_id", col("vec_id") + lit(i.toLong * 10_000_000L)))
      .reduce(_.unionByName(_))
      .select(col("vec_id"), col("embedding")).cache()
    val nVecs = bigVecs.count()
    val qv = Tables.embeddings(spark, sfDir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val (fullTop, tFullTopK) = timed {
      graft.operators.Similarity.topK(bigVecs, "embedding", "vec_id", qv, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    // production layout: codes are the at-rest representation — quantize
    // once (timed separately), then score the cached codes per query
    val (codes, tQuantize) = timed {
      val c = bigVecs.select(col("vec_id"),
        graft.functions.VectorFunctions.quantizeInt8(col("embedding")).getField("q").as("q"))
        .cache()
      c.count(); c
    }
    val (quantTop, tQuantTopK) = timed {
      graft.operators.Similarity.topKQuantizedCodes(codes, "q", "vec_id", qv, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    val recall10 = fullTop.intersect(quantTop).size
    codes.unpersist()

    // K-means IVF training at scale: k=65 centroids (one past the codegen
    // ceiling, so this exercises the mapPartitions assigner path),
    // 2 Lloyd iterations over the replicated vectors —
    // fixed-point accumulation makes the result independent of this run's
    // partitioning, so the timing is the only variable.
    val (nCents, tKmeans) = timed {
      graft.operators.Similarity.kmeans(bigVecs, "embedding", "vec_id", k = 65, iters = 2).size
    }

    // Incremental IVF maintenance at scale: persist the index for 99% of
    // the vectors, append the 1% ingest batch (assignment against frozen
    // centroids + a cid-partitioned append — per-ingest cost is the batch,
    // never the corpus), then probe through the appended layout.
    val ivfPath = "/tmp/graft/scaleprobe_ivf"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ivfPath))
    val ivfOld = bigVecs.filter(pmod(xxhash64(col("vec_id")), lit(100)) =!= 0)
    val ivfBatch = bigVecs.filter(pmod(xxhash64(col("vec_id")), lit(100)) === 0)
    val (_, tIvfBuild) = timed {
      graft.operators.Similarity.writeIvf(spark,
        graft.operators.Similarity.buildIvf(ivfOld, "embedding", "vec_id", k = 16), ivfPath)
    }
    val (_, tIvfAppend) = timed {
      graft.operators.Similarity.appendToIvf(spark, ivfBatch, "embedding", "vec_id", ivfPath)
    }
    val (nIvfHits, tIvfQuery) = timed {
      graft.operators.Similarity.topKIvf(
        graft.operators.Similarity.readIvf(spark, ivfPath),
        "embedding", "vec_id", qv, 10, nProbes = 2).count()
    }
    // Binary quantization at scale: sign-bit codes over the replicated
    // corpus (ONE long per 64-dim vector), the two-stage Hamming+rerank
    // search, and the multi-index-hashing EXACTNESS gate: MIH candidates
    // filtered to the guaranteed radius (2·blocks−1 = 7) must equal the
    // brute-force Hamming ball of the same cohort EXACTLY — count and
    // membership (keyed checksum), at whatever multiplier the probe runs.
    val binCenter = new Array[Float](64)
    val (binCodes, tBinEncode) = timed {
      val c = graft.operators.BinaryQuant.encode(bigVecs, "embedding", binCenter)
        .select(col("vec_id"), col("bits")).cache()
      c.count(); c
    }
    val (nBinHits, tBinQuery) = timed {
      graft.operators.BinaryQuant.topKBinary(binCodes, "bits", "vec_id",
        bigVecs, "embedding", qv, binCenter, k = 10, nCand = 200).count()
    }
    val mihCohort = binCodes.filter(col("vec_id") % 10_000_000L === 50L)
      .select(col("vec_id").as("qid"), col("bits").as("qbits"))
    def ballAgg(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("qid") * 1000003L + col("vec_id"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val (bruteBall, tBruteBall) = timed {
      ballAgg(binCodes.crossJoin(broadcast(mihCohort))
        .withColumn("hamming",
          graft.operators.BinaryQuant.hammingCols(col("bits"), col("qbits")))
        .filter(col("hamming") <= 7)
        .select(col("qid"), col("vec_id")))
    }
    val (mihBall, tMihBall) = timed {
      ballAgg(graft.operators.BinaryQuant.mihCandidates(binCodes, "bits", "vec_id",
        mihCohort, "qid", "qbits", dim = 64)
        .filter(col("hamming") <= 7)
        .select(col("qid"), col("vec_id")))
    }
    require(mihBall == bruteBall,
      s"MIH radius ball $mihBall must equal the brute-force ball $bruteBall exactly")
    binCodes.unpersist()

    // SemDeDup at scale: a bounded replica slice (every base keeps its
    // first max(mult/10, 2) replicas — replicas share the base's direction,
    // so they are exact cosine dups, while distinct bases stay far apart on
    // this corpus) through the one-call semantic dedup: k-means cells →
    // within-cell pairs → components → canonical keep. The survivor count
    // must equal the replica-family count EXACTLY — a correctness gate at
    // scale, not just a timing.
    val nBases = baseVecs.count()
    val semReplicas = math.max(mult / 10, 2)
    val semVecs = bigVecs.filter((col("vec_id") / lit(10_000_000L)) < lit(semReplicas.toLong))
    val nSemVecs = semVecs.count()
    val (nSemKept, tSemantic) = timed {
      graft.operators.Dedup.semanticDedup(semVecs, "vec_id", "embedding",
        k = 128, iters = 2, threshold = 0.95, maxCellSize = 20000).count()
    }
    require(nSemKept == nBases,
      s"semantic dedup kept $nSemKept, expected $nBases replica families")

    // Incremental semantic dedup at scale: the same replica slice through
    // the FROZEN-centroid batch path — index persisted over replica 0 (the
    // bases), each later replica an ingest batch whose vectors must ALL
    // pair with their stored base (exact cosine dups). Per-batch cost is
    // the batch against a cid-partitioned scan, never a re-cluster.
    val semIdxPath = "/tmp/graft/scaleprobe_semidx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(semIdxPath))
    graft.operators.Similarity.writeIvf(spark,
      graft.operators.Similarity.buildIvf(
        semVecs.filter(col("vec_id") < lit(10_000_000L)), "embedding", "vec_id", k = 64),
      semIdxPath)
    val semBatch = semVecs.filter(
      col("vec_id") >= lit(10_000_000L) && col("vec_id") < lit(20_000_000L))
    val nSemBatch = semBatch.count()
    val (nIncSemPairs, tIncSemantic) = timed {
      graft.operators.Dedup.incrementalSemanticCandidates(
        spark, semBatch, "vec_id", "embedding", semIdxPath,
        threshold = 0.95, maxCellSize = 20000).count()
    }
    require(nIncSemPairs >= nSemBatch,
      s"incremental semantic found $nIncSemPairs pairs for a $nSemBatch-vector batch " +
        "of exact replicas — every batch vector must pair with its stored base")

    // Graph ANN at scale: the replicated corpus is DEGENERATE for a kNN
    // graph (exact replicas form sealed cliques once a family outgrows the
    // degree), so the probe derives a genuinely diverse cloud by giving
    // each replica a cyclic component shift — distinct directions with
    // real neighbor structure. The slice takes min(mult, 100) replicas —
    // 200k vectors at the standard multiplier-100 probe, the size where
    // the fixed radius-1 build's recall cliff lives (measured 0.64 there
    // vs 0.97 at sf0.1: at 200k each vector's radius-1 LSH candidates are
    // ~1% of the corpus — edge quality, not routing, is the limiter).
    // The build therefore runs under GraphAnn.buildPlan: the planner
    // chooses (nPlanes, probes, degree, hubs) from corpus size + target
    // recall the way the MinHash lshPlan chooses (bands, rows) — measured
    // 0.80+ recall@10 with the planned config at 200k (GraphPlanProbe),
    // gated here at the 0.75 floor the plan targets. Build is the one
    // corpus-sized kNN join, paid once; the hub-seeded cohort search's
    // per-hop exchanges stay bounded by queries × beam × degree regardless
    // of corpus size. Gate: recall@10 of the beam walk vs the exact
    // brute-force cohort, and the walk must find each query vector itself
    // for ≥90% of the cohort.
    val shiftVecs = bigVecs
      .filter((col("vec_id") / lit(10_000_000L)) < lit(math.min(mult, 100).toLong))
      .select(col("vec_id"),
      expr("""transform(embedding,
               (x, i) -> element_at(embedding,
                 CAST((i + CAST(vec_id div 10000000 AS INT)) % 64 AS INT) + 1))""")
        .cast("array<float>").as("embedding"))
      .cache()
    val nShift = shiftVecs.count()
    val graphPlan = graft.operators.GraphAnn.buildPlan(nShift, 64, targetRecall = 0.75)
    val (annGraph, tGraphBuild) = timed {
      val g = graft.operators.GraphAnn.buildPlanned(shiftVecs, "vec_id", "embedding",
        dim = 64, plan = graphPlan)
      g.edges.count(); g
    }
    val graphCohort = shiftVecs.filter(col("vec_id") % 97L === 3L).limit(20)
      .localCheckpoint()
    val nGraphQ = graphCohort.count()
    val (graphHits, tGraphSearch) = timed {
      val r = graft.operators.GraphAnn.search(annGraph, graphCohort,
        "vec_id", "embedding", k = 10, beam = 48, maxHops = 6, nSeeds = 32,
        seedHubs = graphPlan.hubs)
        .localCheckpoint()
      r.count(); r
    }
    val graphExact = graphCohort.select(col("vec_id").as("_qid"), col("embedding").as("_qv"))
      .crossJoin(shiftVecs.select(col("vec_id").as("_cid"), col("embedding").as("_cv")))
      .withColumn("_sim",
        graft.functions.VectorFunctions.cosine(col("_qv"), col("_cv")))
      .groupBy(col("_qid"))
      .agg(expr("top_k(struct(_sim, _cid), 10)").as("_top"))
      .select(col("_qid"), explode(col("_top")).as("_t"))
      .select(col("_qid").as("vec_id"), col("_t._cid").as("neighbor_id"))
    val graphRecall = graft.operators.Similarity.recallAtK(graphHits, graphExact, "vec_id")
    val selfHits = graphHits.filter(col("neighbor_id") === col("vec_id")).count()
    require(selfHits >= (nGraphQ * 9) / 10,
      s"graph walk found only $selfHits/$nGraphQ query vectors themselves")
    require(graphRecall >= 0.75,
      s"graph recall@10 $graphRecall under the planned 0.75 floor with " +
        s"plan=$graphPlan at n=$nShift (GraphPlanProbe measured 0.80+ here)")
    shiftVecs.unpersist()
    bigVecs.unpersist()

    // Gopher rule throughput: the full seven-rule signal pass over every
    // doc (rule 7 uses the corpus-language stopword union — the published
    // English-only list would zero the verdict on this multilingual corpus).
    val (nGopherKeep, tGopher) = timed {
      graft.operators.QualityFilters.gopherSignals(dedupInput, "doc_id", "text",
          stopwords = (graft.operators.QualityFilters.GopherStopwords ++
            graft.functions.TextFunctions.langStopwords.values.flatten).distinct)
        .filter(col("gopher_keep")).count()
    }

    // BM25 at scale: the index build is the one-time tokenize+count pass
    // (the at-rest layout); a query against the persisted index then reads
    // only its terms' buckets. Brute scoring is timed for contrast — it
    // re-tokenizes the corpus per query.
    val bm25Path = "/tmp/graft/scaleprobe_bm25"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bm25Path))
    val bm25Query = Seq("spark", "vector", "hash")
    val (_, tBm25Build) = timed {
      graft.operators.TextSearch.writeIndex(spark, dedupInput, "text", "doc_id",
        bm25Path, nBuckets = 64)
    }
    val (nBm25, tBm25Query) = timed {
      graft.operators.TextSearch.searchIndex(spark, bm25Path, bm25Query, 10).count()
    }
    val (_, tBm25Brute) = timed {
      graft.operators.TextSearch.bm25TopK(dedupInput, "text", "doc_id", bm25Query, 10).count()
    }

    // Incremental BM25 maintenance: register a 1% ingest batch in the
    // existing index (tokenizes ONLY the batch) — the per-ingest cost must
    // sit far under the full rebuild above; then query through the
    // appended segments (merge-on-read df) and compact back to one file
    // per bucket without re-tokenizing anything.
    val bm25Batch = dedupInput.filter(pmod(xxhash64(col("doc_id")), lit(100)) === 42)
      .withColumn("doc_id", col("doc_id") + 900_000_000L) // new ids: append semantics
    val (_, tBm25Append) = timed {
      graft.operators.TextSearch.appendToIndex(spark, bm25Batch, "text", "doc_id", bm25Path)
    }
    val (_, tBm25QueryAppended) = timed {
      graft.operators.TextSearch.searchIndex(spark, bm25Path, bm25Query, 10).count()
    }
    val (_, tBm25Compact) = timed {
      graft.operators.TextSearch.compactIndex(spark, bm25Path)
    }

    // Incremental dedup at scale: index 99% of the corpus once, then dedup
    // the remaining 1% batch against it — the per-ingest cost is the batch
    // leg, not the index build, and it must beat re-running candidates over
    // the full corpus (also timed).
    val sigPath = "/tmp/graft/scaleprobe_sigs"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sigPath))
    val oldCorpus = dedupInput.filter(pmod(xxhash64(col("doc_id")), lit(100)) =!= 0)
    val newBatch = dedupInput.filter(pmod(xxhash64(col("doc_id")), lit(100)) === 0)
    val (_, tSigBuild) = timed {
      graft.operators.Dedup.writeSignatureIndex(oldCorpus, "doc_id", "text", sigPath)
    }
    val (nIncPairs, tIncremental) = timed {
      graft.operators.Dedup.incrementalCandidates(spark, newBatch, "doc_id", "text",
        sigPath, maxBucketSize = 100).count()
    }
    val (_, tFullPairs) = timed {
      graft.operators.Dedup.minhashCandidates(dedupInput, "doc_id", "text",
        maxBucketSize = 100).count()
    }

    // ExactSubstr duplicate spans at scale (poly gram hashing): a 10% slice
    // of the replicated corpus — every document exists in ~mult copies, so
    // nearly every gram is duplicated and the span merge runs at its
    // worst-case density (all-but-first copies fully marked).
    val spanSlice = dedupInput.filter(pmod(xxhash64(col("doc_id")), lit(10)) === 0)
    val (nSpans, tSpans) = timed {
      graft.operators.Dedup.duplicateSpans(spanSlice, "doc_id", "text", n = 8).count()
    }

    // Perplexity filter at scale: LM trained on a ~10% trusted slice, every
    // document scored — two corpus-wide equi-joins against the count tables.
    val (nPplKeep, tPerplexity) = timed {
      val lm = graft.operators.LanguageModel.trainBigram(
        dedupInput.filter(pmod(xxhash64(col("doc_id")), lit(10)) === 0), "text")
      graft.operators.LanguageModel.perplexityFilter(
        lm, dedupInput, "text", "doc_id", maxLogPpl = 3.45).count()
    }

    // DSIR at scale: hashed-bigram bucket tables for a 1% target slice vs
    // the full raw corpus, importance scores for EVERY document, Gumbel
    // top-k of the best 1% — the published pre-training data-selection
    // shape. Both distributions stay 4096-row tables (broadcast by
    // construction); scoring is one explode + equi-join pass over the
    // corpus, selection a TakeOrdered.
    val (nDsir, tDsir) = timed {
      val target = dedupInput.filter(pmod(xxhash64(col("doc_id")), lit(100)) === 7)
      val tc = graft.operators.ImportanceSampling.bucketCounts(target, "text", buckets = 4096)
      val rc = graft.operators.ImportanceSampling.bucketCounts(dedupInput, "text", buckets = 4096)
      graft.operators.ImportanceSampling.resample(dedupInput, "doc_id", "text", tc, rc,
        nKeep = (nDocs / 100).toInt, buckets = 4096).count()
    }

    // Stream-stream interval join at scale: events replicated with
    // PER-REPLICA user-id shifts (join density per user stays constant —
    // replicating the same users would square the pair count), view →
    // purchase attribution within 6 hours through two JSON file streams
    // with a shared 12-hour watermark. The streamed pair count must equal
    // the batch interval join over the same rows EXACTLY — a correctness
    // gate on the streaming state machinery, not just a timing.
    val bigEv = (0 until mult).map(i => Tables.events(spark, sfDir)
        .withColumn("user_id", col("user_id") + lit(i.toLong * 10_000_000L))
        .withColumn("event_id", col("event_id") + lit(i.toLong * 1_000_000_000L)))
      .reduce(_.unionByName(_))
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"))
      .cache()
    val nEvents = bigEv.count()
    val ssjBase = "/tmp/graft/scaleprobe_ssj"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ssjBase))
    val views = bigEv.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val purchases = bigEv.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
    views.write.json(s"$ssjBase/views")
    purchases.write.json(s"$ssjBase/purchases")
    val (nSsjPairs, tSsj) = timed {
      def src(dir: String, schema: String) =
        spark.readStream.schema(schema).json(dir)
          .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
      val q = graft.streaming.StreamingPipeline.intervalJoin(
        src(s"$ssjBase/views", "event_id BIGINT, user_id BIGINT, ts_us BIGINT"),
        src(s"$ssjBase/purchases",
          "event_id BIGINT, user_id BIGINT, ts_us BIGINT, value DOUBLE"),
        "user_id", "ts", "6 hours", "12 hours")
        .select(col("event_id"), col("r_event_id"))
        .writeStream.option("checkpointLocation", s"$ssjBase/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", s"$ssjBase/out").start()
      q.awaitTermination()
      spark.read.parquet(s"$ssjBase/out").count()
    }
    val nBatchPairs = {
      val v = views.withColumn("ts", timestamp_micros(col("ts_us")))
      val p = purchases.withColumn("ts", timestamp_micros(col("ts_us")))
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      v.join(p, col("user_id") === col("p_user") &&
        col("p_ts") >= col("ts") &&
        col("p_ts") <= col("ts") + expr("INTERVAL 6 hours")).count()
    }
    require(nSsjPairs == nBatchPairs,
      s"stream-stream join emitted $nSsjPairs pairs, batch join $nBatchPairs")

    // LEFT OUTER flavor over the same streams: far-future sentinels on both
    // sides advance the global watermark past every real interval's end, so
    // the trailing no-data batch must flush every unmatched view. The gates
    // are exact: every real view emits (matched or NULL-extended) exactly
    // once, and the matched subset equals the batch inner join EXACTLY —
    // the outer path must add rows, never duplicate or lose pairs.
    val nViews = views.count()
    val maxUs = bigEv.agg(max(col("ts_us"))).head().getLong(0)
    val sentUs = maxUs + 10L * 365 * 86_400 * 1_000_000L
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$ssjBase/views", "zz_sentinel.json"),
      s"""{"event_id":-1,"user_id":-1,"ts_us":$sentUs}""".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$ssjBase/purchases", "zz_sentinel.json"),
      s"""{"event_id":-1,"user_id":-1,"ts_us":$sentUs,"value":0.0}""".getBytes("UTF-8"))
    val ((nOuterViews, nOuterMatched), tSsjOuter) = timed {
      def src(dir: String, schema: String) =
        spark.readStream.schema(schema).json(dir)
          .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
      val q = graft.streaming.StreamingPipeline.intervalJoinLeftOuter(
        src(s"$ssjBase/views", "event_id BIGINT, user_id BIGINT, ts_us BIGINT"),
        src(s"$ssjBase/purchases",
          "event_id BIGINT, user_id BIGINT, ts_us BIGINT, value DOUBLE"),
        "user_id", "ts", "6 hours", "12 hours")
        .select(col("event_id"), col("user_id"), col("r_event_id"))
        .writeStream.option("checkpointLocation", s"$ssjBase/ckpt_outer")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", s"$ssjBase/out_outer").start()
      q.awaitTermination()
      val out = spark.read.parquet(s"$ssjBase/out_outer").filter(col("user_id") >= 0)
      val matched = out.filter(col("r_event_id").isNotNull)
      val nMatchedViews = matched.select(col("event_id")).distinct().count()
      // total = pairs + one NULL row per never-matched view; a matched view
      // emitting a spurious NULL row would break this equality
      require(out.count() == matched.count() + (nViews - nMatchedViews),
        "outer join emitted a NULL row for a matched view or dropped one")
      (out.select(col("event_id")).distinct().count(), matched.count())
    }
    require(nOuterViews == nViews,
      s"outer join must emit every view exactly once: $nOuterViews of $nViews")
    require(nOuterMatched == nBatchPairs,
      s"outer join's matched rows must equal the inner join: $nOuterMatched vs $nBatchPairs")
    bigEv.unpersist()

    // Sessionization at scale: per-key session state must EVICT once a key
    // goes quiet past its gap horizon — state is O(keys active inside the
    // watermark + gap), not O(keys ever seen). Many keys each burst two
    // events and go quiet; one far-future sentinel then advances the
    // watermark past every horizon, so every real key's open tail must
    // close via event-time timeout and its state row drop. The gate is
    // exact: closed tails == keys, and exactly ONE state row (the
    // sentinel's own) survives the run.
    val nSessKeys = 5_000L * mult
    val sessBase = "/tmp/graft/scaleprobe_sess"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sessBase))
    val sessAnchor = 1_700_000_000_000_000L // epoch micros
    spark.range(nSessKeys).select(col("id").as("user_id"),
        (lit(sessAnchor) + col("id") * 1_000_000L).as("ts_us"))
      .unionByName(spark.range(nSessKeys).select(col("id").as("user_id"),
        (lit(sessAnchor) + col("id") * 1_000_000L + lit(60_000_000L)).as("ts_us")))
      .unionByName(spark.range(1).select(lit(-1L).as("user_id"),
        lit(sessAnchor + (nSessKeys + 365L * 86_400L) * 1_000_000L).as("ts_us")))
      .write.json(s"$sessBase/events")
    val ((nSessClosed, sessStateRows), tSession) = timed {
      val src = spark.readStream.schema("user_id BIGINT, ts_us BIGINT")
        .json(s"$sessBase/events")
        .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
      val q = graft.streaming.StreamingPipeline
        .sessionizeClosed(spark, src, gapMs = 1_800_000L, watermark = "1 hour")
        .toDF()
        .writeStream.option("checkpointLocation", s"$sessBase/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", s"$sessBase/out").start()
      q.awaitTermination()
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      val closed = spark.read.parquet(s"$sessBase/out")
        .filter(col("userId") >= 0 && col("nEvents") === 2 && col("closed")).count()
      (closed, stateRows)
    }
    require(nSessClosed == nSessKeys,
      s"expected every quiet key's tail closed via timeout: $nSessClosed of $nSessKeys")
    require(sessStateRows == 1,
      s"expected only the sentinel's state row to survive, got $sessStateRows")

    // Snapshot tables at scale: the laws that make the manifest log viable
    // at 100 TB, gated exactly. (1) An append's cost is the delta write +
    // delta stats + manifest rewrite — the table's data files are never
    // read, so append 4 onto a 3-batch table must not cost a table scan.
    // (2) diffAppended reads exactly the one added batch. (3) A range
    // predicate prunes manifest-side to the one batch whose files cover it
    // (spark.range slices are contiguous, so per-file min/max tile the id
    // space). (4) The diff-driven rollup refresh equals a recompute.
    val snapBase = "/tmp/graft/scaleprobe_snap"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(snapBase))
    val snapTable = s"$snapBase/t"
    val snapAgg = s"$snapBase/agg"
    val snapWidth = nDocs // one corpus-sized batch per append
    graft.operators.Snapshots.create(spark, snapTable)
    def snapBatch(i: Long) =
      spark.range(i * snapWidth, (i + 1) * snapWidth)
        .select(col("id").as("doc_id"), (col("id") % 64).as("k"),
          (col("id") * 7 % 1000).as("n_chars"))
    val (_, tSnapAppendFirst) = timed { graft.operators.Snapshots.append(spark, snapTable, snapBatch(0)) }
    graft.operators.IncrementalAgg.refresh(spark, snapTable, snapAgg, Seq("k"), Seq("n_chars"))
    graft.operators.Snapshots.append(spark, snapTable, snapBatch(1)): Unit
    graft.operators.Snapshots.append(spark, snapTable, snapBatch(2)): Unit
    val (_, tSnapAppendLast) = timed { graft.operators.Snapshots.append(spark, snapTable, snapBatch(3)) }
    val (nSnapDiff, tSnapDiff) = timed {
      graft.operators.Snapshots.diffAppended(spark, snapTable, 3L, 4L).get.count()
    }
    require(nSnapDiff == snapWidth,
      s"diff of the last append must be exactly its batch: $nSnapDiff vs $snapWidth")
    val (snapPlan, tSnapScan) = timed {
      // inclusive bounds: the box extractor closes strict comparisons
      // conservatively, which would keep the next batch's boundary file
      val p = graft.operators.Snapshots.scanPlan(spark, snapTable,
        col("doc_id") >= snapWidth && col("doc_id") <= 2 * snapWidth - 1)
      require(p.df.count() == snapWidth, "pruned scan must still answer exactly")
      p
    }
    require(snapPlan.filesScanned * 4 == snapPlan.filesTotal,
      s"range predicate must prune to one batch of four: ${snapPlan.filesScanned} of ${snapPlan.filesTotal}")
    val (snapAggMode, tSnapAggInc) = timed {
      graft.operators.IncrementalAgg.refresh(spark, snapTable, snapAgg, Seq("k"), Seq("n_chars")).mode
    }
    require(snapAggMode == "incremental", s"append-only lineage must merge: $snapAggMode")
    val aggDrift = graft.operators.IncrementalAgg.read(spark, snapAgg)
      .unionByName(graft.operators.Snapshots.read(spark, snapTable).groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_n_chars"))
        .select(col("k"), (-col("n")).as("n"), (-col("sum_n_chars")).as("sum_n_chars")))
      .groupBy(col("k")).agg(sum(col("n")).as("dn"), sum(col("sum_n_chars")).as("ds"))
      .filter(col("dn") =!= 0 || col("ds") =!= 0).count()
    require(aggDrift == 0, s"incremental rollup must equal recompute: $aggDrift keys differ")
    // (5) keyed merge (merge-on-read): updates confined to a narrow key
    // slice mark vector positions only in the file(s) covering that slice,
    // no data file rewrites, and the source lands as one file group — so
    // upsert cost is ∝ touched-files + source, not table. (spark.range
    // slices are contiguous, so the slice lands in one file, two if it
    // straddles a boundary.)
    val preMerge = graft.operators.Snapshots.dataFiles(spark, snapTable,
      graft.operators.Snapshots.currentVersion(snapTable).get)
    val mergeN = math.max(1L, snapWidth / 100)
    val mergeSrc = spark.range(0L, mergeN)
      .select(col("id").as("doc_id"), (col("id") % 64).as("k"), lit(-5L).as("n_chars"))
    val (snapMerge, tSnapMerge) = timed {
      graft.operators.Snapshots.merge(spark, snapTable, mergeSrc, Seq("doc_id"))
    }
    require(snapMerge.rowsUpdated == mergeN && snapMerge.rowsInserted == 0,
      s"slice-confined merge must update exactly its keys: $snapMerge")
    require(snapMerge.filesWithDv <= 2,
      s"merge must mark vectors only in the file(s) covering the slice: $snapMerge")
    require(preMerge.subsetOf(
      graft.operators.Snapshots.dataFiles(spark, snapTable, snapMerge.version)),
      "merge must rewrite no data file: every pre-merge file stays referenced")
    require(graft.operators.Snapshots.read(spark, snapTable)
      .filter(col("n_chars") === -5L).count() == mergeN,
      "merged rows must carry the source values")
    val (_, tSnapExpire) = timed {
      graft.operators.Snapshots.compact(spark, snapTable, targetRecordsPerFile = 2_000_000L)
      graft.operators.Snapshots.expire(spark, snapTable, keepLast = 1)
    }
    require(graft.operators.Snapshots.read(spark, snapTable).count() == 4 * snapWidth,
      "compact + expire must preserve every row")

    println(
      s"""{"probe":"scale","sf":"$sfDir","multiplier":$mult,"docs":$nDocs,"chunks":$nChunks,"stored":$stored,""" +
        s""""chunk_sec":${f"$tChunk%.1f"},"embed_sec":${f"$tEmbed%.1f"},"store_sec":${f"$tStore%.1f"},""" +
        s""""delete_docs":$nTombstones,"deleted_chunks":$nDeleted,"delete_sec":${f"$tDelete%.1f"},""" +
        s""""ledger_save_sec":${f"$tLedgerSave%.1f"},"identify_changed":$nChanged,""" +
        s""""identify_sec":${f"$tIdentify%.1f"},"identify_shuffle_sec":${f"$tIdentifyShuffle%.1f"},""" +
        s""""dedup_sec":${f"$tDedup%.1f"},"dedup_kept":$nKept,""" +
        s""""decontam_sec":${f"$tDecontam%.1f"},"contaminated":$nContaminated,""" +
        s""""diff_sec":${f"$tDiff%.1f"},"diff_changed":${diffCounts.getOrElse("changed", 0L)},""" +
        s""""leak_split_sec":${f"$tLeakSplit%.1f"},"leak_straddle":$nStraddle,""" +
        s""""lake_files_before":${lakeStats.filesBefore},"lake_files_after":${lakeStats.filesAfter},"lake_compact_sec":${f"$tLakeCompact%.1f"},""" +
        s""""anti_plain_sec":${f"$tPlainAnti%.1f"},"anti_bloom_sec":${f"$tBloomAnti%.1f"},""" +
        s""""vecs":$nVecs,"topk_full_sec":${f"$tFullTopK%.1f"},"quantize_once_sec":${f"$tQuantize%.1f"},"topk_int8_sec":${f"$tQuantTopK%.1f"},"recall10":$recall10,""" +
        s""""gopher_keep":$nGopherKeep,"gopher_sec":${f"$tGopher%.1f"},""" +
        s""""kmeans_cents":$nCents,"kmeans_sec":${f"$tKmeans%.1f"},""" +
        s""""bm25_build_sec":${f"$tBm25Build%.1f"},"bm25_query_sec":${f"$tBm25Query%.1f"},"bm25_brute_sec":${f"$tBm25Brute%.1f"},"bm25_hits":$nBm25,""" +
        s""""bm25_append_sec":${f"$tBm25Append%.1f"},"bm25_query_appended_sec":${f"$tBm25QueryAppended%.1f"},"bm25_compact_sec":${f"$tBm25Compact%.1f"},""" +
        s""""ivf_build_sec":${f"$tIvfBuild%.1f"},"ivf_append_sec":${f"$tIvfAppend%.1f"},"ivf_query_sec":${f"$tIvfQuery%.1f"},"ivf_hits":$nIvfHits,""" +
        s""""bin_encode_sec":${f"$tBinEncode%.1f"},"bin_query_sec":${f"$tBinQuery%.1f"},"bin_hits":$nBinHits,""" +
        s""""mih_ball":${mihBall._1},"mih_sec":${f"$tMihBall%.1f"},"brute_ball_sec":${f"$tBruteBall%.1f"},""" +
        s""""sig_build_sec":${f"$tSigBuild%.1f"},"incremental_pairs":$nIncPairs,"incremental_sec":${f"$tIncremental%.1f"},"full_pairs_sec":${f"$tFullPairs%.1f"},""" +
        s""""span_docs":${spanSlice.count()},"dup_spans":$nSpans,"span_sec":${f"$tSpans%.1f"},""" +
        s""""ppl_keep":$nPplKeep,"ppl_sec":${f"$tPerplexity%.1f"},""" +
        s""""graph_build_sec":${f"$tGraphBuild%.1f"},"graph_search_sec":${f"$tGraphSearch%.1f"},"graph_recall10":$graphRecall,"graph_self_hits":$selfHits,""" +
        s""""semantic_vecs":$nSemVecs,"semantic_kept":$nSemKept,"semantic_sec":${f"$tSemantic%.1f"},""" +
        s""""inc_semantic_pairs":$nIncSemPairs,"inc_semantic_sec":${f"$tIncSemantic%.1f"},""" +
        s""""dsir_kept":$nDsir,"dsir_sec":${f"$tDsir%.1f"},""" +
        s""""ssj_events":$nEvents,"ssj_pairs":$nSsjPairs,"ssj_sec":${f"$tSsj%.1f"},""" +
        s""""ssj_outer_views":$nOuterViews,"ssj_outer_matched":$nOuterMatched,"ssj_outer_sec":${f"$tSsjOuter%.1f"},""" +
        s""""sess_keys":$nSessKeys,"sess_closed":$nSessClosed,"sess_state_rows":$sessStateRows,"sess_sec":${f"$tSession%.1f"},""" +
        s""""snap_rows":${4 * snapWidth},"snap_append_first_sec":${f"$tSnapAppendFirst%.1f"},"snap_append_last_sec":${f"$tSnapAppendLast%.1f"},""" +
        s""""snap_diff_sec":${f"$tSnapDiff%.1f"},"snap_scan_sec":${f"$tSnapScan%.1f"},"snap_files_scanned":${snapPlan.filesScanned},"snap_files_total":${snapPlan.filesTotal},""" +
        s""""snap_agg_inc_sec":${f"$tSnapAggInc%.1f"},"snap_merge_files_with_dv":${snapMerge.filesWithDv},""" +
        s""""snap_merge_sec":${f"$tSnapMerge%.1f"},"snap_gc_sec":${f"$tSnapExpire%.1f"},""" +
        s""""docs_per_sec_chunk":${(nDocs / tChunk).toLong},"chunks_per_sec_store":${(stored / tStore).toLong}}"""
    )
    spark.stop()
  }
}
