package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.chunker.LovdataChunker
import graft.embed.{DeterministicProvider, Embedding, ReplayableProvider}
import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.operators.Identify
import graft.pipeline.Pipeline
import graft.sources.{LovligState, SnapshotChunkStore}
import graft.streaming.StreamingPipeline

/** End-to-end pipeline battery: these queries synthesize the reference's
  * inputs (lovlig state.json, Lovdata XML) deterministically from the
  * `documents` table, drive the real engine modules (S1 scan, chunker,
  * embedder, store, identify), and emit aggregates that a DuckDB oracle can
  * recompute directly from `documents` — so the driver's correctness gate
  * covers the pipeline paths, not just relational operators.
  */
object PipelineQueries {

  /** Deterministic CDC status rule used to synthesize lovlig state. */
  private val statusSql =
    """CASE doc_id % 10 WHEN 0 THEN 'removed' WHEN 1 THEN 'added' WHEN 2 THEN 'added'
      | WHEN 3 THEN 'added' WHEN 4 THEN 'modified' WHEN 5 THEN 'modified'
      | ELSE 'unchanged' END""".stripMargin

  private def statusCol = expr(statusSql)

  private def tmpDir(d: String, name: String): String = QueryScratch.dir(d, name)
  private def cleanDir(p: String): Unit = QueryScratch.clean(p)

  /** Build a lovlig `state.json` on local disk from the documents table:
    * one dataset per source (`<source>.tar.bz2`), one file per doc
    * (`doc_<id>.xml`), sha256 of the text, status by [[statusSql]].
    */
  private def buildStateFile(s: SparkSession, d: String): String = {
    val path = tmpDir(d, "state.json")
    cleanDir(path)
    val rows = documents(s, d)
      .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("sha"), statusCol.as("status"))
      .collect()
    val bySource = rows.groupBy(_.getString(1))
    val sb = new StringBuilder("{\"raw_datasets\":{")
    sb.append(bySource.toSeq.sortBy(_._1).map { case (src, rs) =>
      val files = rs.sortBy(_.getLong(0)).map { r =>
        s""""doc_${r.getLong(0)}.xml":{"status":"${r.getString(3)}","sha256":"${r.getString(2)}"}"""
      }.mkString(",")
      s""""$src.tar.bz2":{"files":{$files}}"""
    }.mkString(","))
    sb.append("}}")
    Files.write(Paths.get(path), sb.toString.getBytes("UTF-8"))
    path
  }

  /** Synthesize a Lovdata-shaped XML document from a text row. Three shapes,
    * cycling by doc_id, exercising all three chunker tiers.
    */
  def synthXml(docId: Long, text: String): String = {
    val esc = text.replace("&", "&amp;").replace("<", "&lt;")
    val third = math.max(esc.length / 3, 1)
    val (a, b, c) = (
      esc.substring(0, math.min(third, esc.length)),
      esc.substring(math.min(third, esc.length), math.min(2 * third, esc.length)),
      esc.substring(math.min(2 * third, esc.length))
    )
    (docId % 3) match {
      case 0 => // standard law
        s"""<html><body><section class="section"><h2>Kapittel ${docId % 5}</h2>
           |<article class="legalArticle" id="p$docId"><span class="legalArticleValue">§ ${docId % 9}</span>
           |<span class="legalArticleTitle">Tittel $docId</span>
           |<article class="legalP" id="l$docId-1">$a.</article>
           |<article class="legalP" id="l$docId-2">$b.</article>
           |<article class="legalP" id="l$docId-3">$c.</article>
           |</article></section></body></html>""".stripMargin
      case 1 => // change law
        s"""<html><body><section class="section"><h3>Endringer $docId</h3>
           |<article class="legalP" id="c$docId-1">$a.</article>
           |<article class="legalP" id="c$docId-2">$b.</article>
           |<article class="legalP" id="c$docId-3">$c.</article>
           |</section></body></html>""".stripMargin
      case _ => // simple law
        s"""<html><body><h1>Lov $docId</h1><main class="documentBody">
           |<article class="legalP" id="s$docId-1">$a. $b.</article>
           |<article class="legalP" id="s$docId-2">$c.</article>
           |</main></body></html>""".stripMargin
    }
  }

  def synthXmlUdf = udf(synthXml _)

  val all: Map[String, Q] = Map(

    // S1: real lovlig-state CDC scan — JSON nested-map explode, docId/path
    // derivation — aggregated so the oracle recomputes from `documents`.
    "s1_cdc_scan" -> Q(
      (s, d) => {
        val path = buildStateFile(s, d)
        LovligState.scan(s, path, "/extracted")
          .groupBy(col("dataset"), col("status"))
          .agg(count(lit(1)).as("n"), countDistinct(col("docId")).as("n_docs"))
      },
      Some(s"""SELECT source || '.tar.bz2' AS dataset, $statusSql AS status,
              |count(*) AS n, count(DISTINCT doc_id) AS n_docs
              |FROM documents GROUP BY dataset, status""".stripMargin),
      Seq("S1", "C12")
    ),

    // S1+F1: the changed-set filter on the CDC scan.
    "s1_f1_changed_files" -> Q(
      (s, d) => {
        val path = buildStateFile(s, d)
        LovligState.changedFiles(LovligState.scan(s, path, "/extracted"))
          .groupBy(col("status")).agg(count(lit(1)).as("n"))
      },
      Some(s"""SELECT status, count(*) AS n FROM
              |(SELECT $statusSql AS status FROM documents)
              |WHERE status IN ('added','modified') GROUP BY status""".stripMargin),
      Seq("S1", "F1")
    ),

    // J1 idempotency: identify vs an empty ledger, then vs a fully-marked
    // ledger — the second pass must process 0 files (the invariant of
    // reference `tests/end2end/incremental_update_test.py:370`).
    "j1_idempotent_identify" -> Q(
      (s, d) => {
        val changed = documents(s, d)
          .withColumn("status", statusCol)
          .filter(col("status").isin("added", "modified"))
          .select(
            concat(lit("doc"), col("doc_id")).as("docId"),
            sha2(col("text"), 256).as("hash")
          )
        val empty = graft.state.PipelineState.empty(s)
        val first = Identify.identifyFiles(changed, empty)
        val ledger = changed
          .withColumn("status", lit("processed"))
          .withColumn("at", lit("2026-01-01T00:00:00Z"))
          .withColumn("error", lit(null).cast("string"))
        val second = Identify.identifyFiles(changed, ledger)
        first.agg(count(lit(1)).as("n_first"))
          .crossJoin(second.agg(count(lit(1)).as("n_second")))
      },
      Some("""SELECT count(*) AS n_first, CAST(0 AS BIGINT) AS n_second
             |FROM documents WHERE doc_id % 10 IN (1,2,3,4,5)""".stripMargin),
      Seq("J1", "F4", "S3")
    ),

    // K1/K3/J3/A2: store round-trip — upsert all, upsert a v2 overlay,
    // delete a doc subset, read back. The oracle recomputes the surviving
    // rows and token sums straight from `documents`.
    "k1_k3_store_roundtrip" -> Q(
      (s, d) => {
        val storePath = tmpDir(d, "store")
        cleanDir(storePath)
        val store = new SnapshotChunkStore(storePath)
        def chunkify(df: DataFrame): DataFrame = df.select(
          concat(lit("doc"), col("doc_id"), lit("_chunk_0")).as("chunkId"),
          concat(lit("doc"), col("doc_id")).as("documentId"),
          col("source").as("datasetName"),
          col("text").as("content"),
          TextFunctions.tokenCount(col("text")).cast("int").as("tokenCount"),
          col("lang").as("sectionHeading"),
          lit("").as("absoluteAddress"),
          lit("none").as("splitReason"),
          lit(null).cast("string").as("parentChunkId"),
          sha2(col("text"), 256).as("sourceHash"),
          array().cast("array<string>").as("crossRefs"),
          lit(0).as("chunkIndex"),
          lit(null).cast("array<float>").as("embedding"),
          lit("none").as("embeddingModel"),
          lit("").as("embeddedAt")
        )
        val docs = documents(s, d)
        store.upsert(s, chunkify(docs))
        // v2 overlay for doc_id % 7 == 0: one extra token
        store.upsert(s, chunkify(
          docs.filter(col("doc_id") % 7 === 0).withColumn("text", concat(col("text"), lit(" v2extra")))
        ))
        // delete doc_id % 10 == 0
        val delIds = docs.filter(col("doc_id") % 10 === 0)
          .select(concat(lit("doc"), col("doc_id"))).collect().map(_.getString(0)).toSeq
        store.deleteByDocumentIds(s, delIds)
        store.read(s)
          .groupBy(col("datasetName"))
          .agg(count(lit(1)).as("n"), sum(col("tokenCount")).as("sum_toks"))
      },
      Some("""SELECT source AS datasetName, count(*) AS n,
             |CAST(sum(toks + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS sum_toks
             |FROM (SELECT doc_id, source,
             |      CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^\sA-Za-z0-9]')) AS BIGINT) AS toks
             |      FROM documents)
             |WHERE doc_id % 10 <> 0 GROUP BY source""".stripMargin),
      Seq("K1", "K3", "J3", "A1", "A2", "S4", "F6")
    ),

    // The same store round-trip, commit by commit: every store call is one
    // merge-on-read commit (Snapshots.mergeMor) — an upsert marks the
    // replaced chunkIds' positions and appends the new chunks, a
    // delete-by-document marks the documents' positions; zero data files
    // rewrite, and a pipeline delta lands its upserts and deletes as ONE
    // such commit. TIME TRAVEL: n_v1 pins the store's exact pre-overlay
    // contents. The final rollup must equal k1_k3's oracle arithmetic
    // identically.
    "k_snapshot_store_roundtrip" -> Q(
      (s, d) => {
        val storePath = tmpDir(d, "snap_store")
        cleanDir(storePath)
        val store = new SnapshotChunkStore(storePath)
        def chunkify(df: DataFrame): DataFrame = df.select(
          concat(lit("doc"), col("doc_id"), lit("_chunk_0")).as("chunkId"),
          concat(lit("doc"), col("doc_id")).as("documentId"),
          col("source").as("datasetName"),
          col("text").as("content"),
          TextFunctions.tokenCount(col("text")).cast("int").as("tokenCount"),
          col("lang").as("sectionHeading"),
          lit("").as("absoluteAddress"),
          lit("none").as("splitReason"),
          lit(null).cast("string").as("parentChunkId"),
          sha2(col("text"), 256).as("sourceHash"),
          array().cast("array<string>").as("crossRefs"),
          lit(0).as("chunkIndex"),
          lit(null).cast("array<float>").as("embedding"),
          lit("none").as("embeddingModel"),
          lit("").as("embeddedAt")
        )
        val docs = documents(s, d)
        store.upsert(s, chunkify(docs)) // v1: MERGE into the empty table
        store.upsert(s, chunkify( // v2: keyed overlay of the %7 docs
          docs.filter(col("doc_id") % 7 === 0)
            .withColumn("text", concat(col("text"), lit(" v2extra")))))
        store.deleteByDocuments(s, // v3: MOR delete of the %10 docs
          docs.filter(col("doc_id") % 10 === 0)
            .select(concat(lit("doc"), col("doc_id")).as("docId")))
        val nV1 = store.readAt(s, 1L).count() // time travel: pre-overlay
        store.read(s)
          .groupBy(col("datasetName"))
          .agg(count(lit(1)).as("n"), sum(col("tokenCount")).as("sum_toks"))
          .withColumn("n_v1", lit(nV1))
      },
      Some("""SELECT source AS datasetName, count(*) AS n,
             |CAST(sum(toks + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS sum_toks,
             |(SELECT count(*) FROM documents) AS n_v1
             |FROM (SELECT doc_id, source,
             |      CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^\sA-Za-z0-9]')) AS BIGINT) AS toks
             |      FROM documents)
             |WHERE doc_id % 10 <> 0 GROUP BY source""".stripMargin),
      Seq("K1", "K2", "K3", "J3", "A2")
    ),

    // S2/W1-W4/A4/A5/C17: the chunker over synthesized Lovdata XML, all
    // three tiers. The fold semantics are not SQL-expressible, but the
    // chunker is a pure function of the documents table, so its aggregate
    // per scale factor is a constant: the oracle reads the checked-in golden
    // fixture (generated by [[graft.FixtureGen]], keyed by the sf's document
    // count). ScalaTest pins the fold laws; the golden pins end-to-end
    // determinism.
    "s2_chunker_stats" -> Q(
      (s, d) => {
        val chunker = new LovdataChunker(targetTokens = 64, maxTokens = 200, minTokens = 20)
        import s.implicits._
        val withXml = documents(s, d)
          .withColumn("xml", synthXmlUdf(col("doc_id"), col("text")))
          .select(col("doc_id"), col("lang"), col("xml"))
          .as[(Long, String, String)]
        withXml.flatMap { case (id, lang, xml) =>
          chunker.chunk(xml).map(c => (lang, c.tokenCount, if (c.merged) 1L else 0L))
        }.toDF("lang", "toks", "is_merged")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_chunks"),
            sum(col("toks")).as("sum_toks"),
            sum(col("is_merged")).as("n_merged")
          )
      },
      Some("""SELECT lang, n_chunks, sum_toks, n_merged
             |FROM read_parquet('/root/repo/tools/fixtures/s2_chunker_stats/*.parquet')
             |WHERE n_docs = (SELECT count(*) FROM documents)
             |  AND corpus_chars = (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents)""".stripMargin),
      Seq("S2", "W1", "W3", "W4", "A4", "A5", "C17", "C16", "C3", "F7")
    ),

    // The same chunker flow under the byte-level BPE token counter — the
    // cl100k-parity path (SURVEY §7 module 2) exercised END TO END: the
    // committed toy rank table (trained by BpeTrainer on the sf0.001 corpus,
    // written in the published .tiktoken format) goes through the real
    // fromTiktokenFile loader, drives token budgets inside the chunker
    // folds, and the aggregate is pinned by its own golden fixture. A user
    // pointing `--tokenizer=bpe:cl100k_base.tiktoken` at the real table
    // follows this exact code path.
    "s2_chunker_bpe_stats" -> Q(
      (s, d) => {
        // budgets scaled to the toy table's ~1.3 bytes/token granularity
        // (the word-tokenizer entry's 64/200/20 would put whole sentences
        // over target and the window would drop them — reference semantics)
        val bpe = graft.functions.BpeTokenCounter.fromTiktokenFile(
          "/root/repo/tools/fixtures/toy.tiktoken", "toy-bpe")
        val chunker = new LovdataChunker(
          targetTokens = 256, maxTokens = 800, minTokens = 80, tokens = bpe)
        import s.implicits._
        val withXml = documents(s, d)
          .withColumn("xml", synthXmlUdf(col("doc_id"), col("text")))
          .select(col("doc_id"), col("lang"), col("xml"))
          .as[(Long, String, String)]
        withXml.flatMap { case (id, lang, xml) =>
          chunker.chunk(xml).map(c => (lang, c.tokenCount, if (c.merged) 1L else 0L))
        }.toDF("lang", "toks", "is_merged")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_chunks"),
            sum(col("toks")).as("sum_toks"),
            sum(col("is_merged")).as("n_merged")
          )
      },
      Some("""SELECT lang, n_chunks, sum_toks, n_merged
             |FROM read_parquet('/root/repo/tools/fixtures/s2_chunker_bpe_stats/*.parquet')
             |WHERE n_docs = (SELECT count(*) FROM documents)
             |  AND corpus_chars = (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents)""".stripMargin),
      Seq("C1", "S2", "A4", "A5")
    ),

    // E1: deterministic batch embedding via mapPartitions(grouped(100)),
    // hash-matched end to end: the ReplayableProvider's arithmetic is the
    // md5Lower60 construction DuckDB replays with `md5_number_lower >> 4`,
    // quantized to multiples of 2⁻¹⁰ so component sums (×1024) and per-doc
    // squared norms (×2²⁰) are exact integers in both engines.
    "e1_embed_stats" -> Q(
      (s, d) => {
        val emb = Embedding.embed(
          documents(s, d).select(col("doc_id"), col("lang"), col("text")),
          "text", new ReplayableProvider(16)
        )
        val v1 = element_at(col("embedding"), 1).cast("double")
        emb
          .withColumn("nrm", graft.functions.VectorFunctions.norm(col("embedding")))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n"),
            min(size(col("embedding"))).as("dims"),
            sum(v1 * 1024).cast("long").as("sum_v1_k"),
            sum(round(col("nrm") * 1e6, 0)).cast("long").as("sum_norm_micro"),
            min(col("embeddingModel")).as("model"),
            every(col("embeddedAt").rlike(
              "^[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}Z$")).as("ts_ok")
          )
      },
      Some("""WITH vecs AS (
             |  SELECT d.lang, d.doc_id, t.i,
             |         (CAST(((md5_number_lower(md5(d.text) || ':' || CAST(t.i AS VARCHAR)) >> 4) % 2048) AS BIGINT) - 1024) / 1024.0 AS v
             |  FROM documents d, range(16) t(i)),
             |per_doc AS (
             |  SELECT lang, doc_id,
             |         sum(v * v) AS sq,
             |         sum(CASE WHEN i = 0 THEN v END) AS v1
             |  FROM vecs GROUP BY lang, doc_id)
             |SELECT lang, count(*) AS n, 16 AS dims,
             |  CAST(sum(v1 * 1024) AS BIGINT) AS sum_v1_k,
             |  CAST(sum(round(sqrt(sq) * 1000000)) AS BIGINT) AS sum_norm_micro,
             |  'md5-replayable-16' AS model, TRUE AS ts_ok
             |FROM per_doc GROUP BY lang""".stripMargin),
      Seq("E1", "C14")
    ),

    // Full pipeline: S1-shaped CDC input → identify → chunk → embed →
    // upsert → cleanup removed → ledger commit; emits counts the oracle can
    // derive from the status rule.
    "pipeline_e2e" -> Q(
      (s, d) => {
        val storePath = tmpDir(d, "pipe_store")
        val statePath = tmpDir(d, "pipe_state.json")
        cleanDir(storePath); cleanDir(statePath)
        val base = documents(s, d).withColumn("status", statusCol)
        val changed = base.filter(col("status").isin("added", "modified"))
          .withColumn("xml", synthXmlUdf(col("doc_id"), col("text")))
          .select(
            concat(lit("doc"), col("doc_id")).as("docId"),
            concat(col("source"), lit(".tar.bz2")).as("dataset"),
            sha2(col("text"), 256).as("hash"),
            col("xml")
          )
        val removed = base.filter(col("status") === "removed")
          .select(concat(lit("doc"), col("doc_id")).as("docId"))
        val summary = Pipeline.run(
          s, changed, removed,
          new SnapshotChunkStore(storePath), statePath,
          new LovdataChunker(targetTokens = 64, maxTokens = 200, minTokens = 20),
          new DeterministicProvider(32)
        )
        import s.implicits._
        Seq((summary.processed, summary.removed)).toDF("n_processed", "n_removed")
      },
      Some("""SELECT
             |CAST(sum(CASE WHEN doc_id % 10 IN (1,2,3,4,5) THEN 1 ELSE 0 END) AS BIGINT) AS n_processed,
             |CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
             |FROM documents""".stripMargin),
      Seq("S1", "S3", "K1", "K3", "K4", "J1", "E1", "C11", "S2")
    ),

    // S6: Structured Streaming file-arrival ingest (AvailableNow) driving the
    // same chunk→embed→upsert path; checkpoint plays the ledger's role.
    // Source-format breadth: documents round-tripped through CSV (write →
    // schema'd read → aggregate). The oracle reads the SAME csv part files
    // with DuckDB's reader; the sf0.01 path is fixed because the driver's
    // correctness gate always runs at sf0.01.
    "s_csv_roundtrip" -> Q(
      (s, d) => {
        val out = tmpDir(d, "csv_docs")
        cleanDir(out)
        documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
          .write.option("header", "true").mode("overwrite").csv(out)
        s.read.option("header", "true")
          .schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
          .csv(out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      },
      Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM read_csv('/tmp/graft/sf0.01/csv_docs/*.csv', header=true)
             |GROUP BY lang""".stripMargin),
      Seq("S4", "K5")
    ),

    // WARC ingestion (the Common Crawl container, ISO 28500): documents
    // serialize as gzipped conversion records, the streaming per-file
    // parser reads them back (no shuffle; Content-Length framing), and the
    // aggregate - including the UTF-8 BYTE length the record envelope
    // carries vs the CHARACTER length of the decoded text - must equal
    // DuckDB's arithmetic on the original rows. Web-scale pipelines start
    // from this format; the torn-tail and HTTP-strip laws live in WarcSpec.
    "s_warc_ingest" -> Q(
      (s, d) => {
        val out = tmpDir(d, "warc_docs")
        cleanDir(out)
        graft.sources.Warc.write(
          documents(s, d).select(
            concat(lit("https://crawl.test/"), col("doc_id")).as("url"),
            lit("2024-01-01T00:00:00Z").as("date"),
            col("text")), out): Unit
        graft.sources.Warc.responses(
          graft.sources.Warc.read(s, s"$out/*.warc.gz"))
          .agg(
            count(lit(1)).as("n"),
            count_distinct(col("doc_id")).as("n_ids"),
            sum(col("n_bytes")).as("sum_bytes"),
            sum(length(col("text"))).as("sum_chars"))
      },
      Some("""SELECT count(*) AS n, count(*) AS n_ids,
             |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
             |       CAST(sum(length(text)) AS BIGINT) AS sum_chars
             |FROM documents""".stripMargin),
      Seq("S2", "S4", "C13")
    ),

    // ORC roundtrip (Spark's other bundled columnar format): write → read →
    // aggregate. DuckDB cannot read ORC, so the oracle aggregates the SAME
    // rows from the parquet table — a lossless roundtrip must match it.
    "s_orc_roundtrip" -> Q(
      (s, d) => {
        val out = tmpDir(d, "orc_docs")
        cleanDir(out)
        documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
          .write.mode("overwrite").orc(out)
        s.read.orc(out)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("n_chars")).as("sum_chars"),
            sum(length(col("text"))).as("sum_text_len"))
      },
      Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |       CAST(sum(length(text)) AS BIGINT) AS sum_text_len
             |FROM documents GROUP BY lang""".stripMargin),
      Seq("S4", "K5")
    ),

    // Zstd parquet roundtrip — the codec 100 TB lakes actually standardize
    // on (better ratio than snappy at similar scan speed): write documents
    // with compression=zstd, read back, aggregate. DuckDB reads the SAME
    // zstd part files, so the oracle pins both losslessness and
    // cross-engine codec compatibility. sf0.01-pinned path like
    // s_csv_roundtrip (the driver's gate always runs there).
    "s_zstd_roundtrip" -> Q(
      (s, d) => {
        val out = tmpDir(d, "zstd_docs")
        cleanDir(out)
        documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
          .write.option("compression", "zstd").mode("overwrite").parquet(out)
        s.read.parquet(out)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("n_chars")).as("sum_chars"),
            sum(length(col("text"))).as("sum_text_len"))
      },
      Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |       CAST(sum(length(text)) AS BIGINT) AS sum_text_len
             |FROM read_parquet('/tmp/graft/sf0.01/zstd_docs/*.parquet')
             |GROUP BY lang""".stripMargin),
      Seq("S4", "K5")
    ),

    // Hive-style partitioned write + pruned read: the lake layout for a
    // source-sharded corpus (source=.../part-*.parquet). The filtered read
    // must PRUNE to the two selected partition dirs — PLANS.md asserts
    // PartitionFilters on this entry's scan — and the partition column
    // round-trips from the directory name. Oracle replays the filter over
    // the same rows.
    "k_partitioned_write" -> Q(
      (s, d) => {
        val out = tmpDir(d, "part_docs")
        cleanDir(out)
        documents(s, d).select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
          .write.partitionBy("source").mode("overwrite").parquet(out)
        s.read.parquet(out)
          .filter(col("source").isin("src3", "src7"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      },
      Some("""SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents WHERE source IN ('src3', 'src7') GROUP BY source""".stripMargin),
      Seq("K1", "F6")
    ),

    // Lake compaction: a fragmented partitioned table (24-way shuffle ×
    // source dirs ≈ hundreds of small files — the layout streaming appends
    // and partitioned upserts actually leave behind) compacts to exactly
    // ONE file per partition, row-for-row identical. n_files_after is
    // pinned by the oracle as count(DISTINCT source) — hash repartition
    // never splits a key, so one write task owns each source; files_shrunk
    // pins that compaction actually reduced the file count.
    "k_lake_compact" -> Q(
      (s, d) => {
        val out = tmpDir(d, "compact_docs")
        cleanDir(out)
        documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
          .repartition(24)
          .write.partitionBy("source").mode("overwrite").parquet(out)
        val stats = graft.operators.Lake.compact(s, out, Seq("source"))
        s.read.parquet(out)
          .agg(
            countDistinct(col("source")).as("n_sources"),
            count(lit(1)).as("n_rows"),
            sum(col("n_chars")).as("sum_chars"))
          .select(
            col("n_sources"), col("n_rows"), col("sum_chars"),
            lit(stats.filesAfter).as("n_files_after"),
            lit(stats.filesAfter < stats.filesBefore).as("files_shrunk"))
      },
      Some("""SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             |       CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |       CAST(count(DISTINCT source) AS BIGINT) AS n_files_after,
             |       TRUE AS files_shrunk
             |FROM documents""".stripMargin),
      Seq("K1", "K5")
    ),

    // Z-order lake clustering: interleave the bits of two bucketized
    // dimensions into a Morton key and lay files out along it, so every
    // file's footer min/max box is tight in BOTH dimensions and a
    // two-dimensional predicate prunes files a one-dimensional sort can't
    // (the Delta/Iceberg OPTIMIZE ZORDER discipline). The entry models the
    // planner's footer-stats pruning with a deterministic 64-file ntile
    // layout and counts the files a 16×16 box predicate must scan under
    // z-order vs a linear (xb, yb) sort — ALL integers, replayed exactly
    // by the oracle (the bit-interleave is plain shift/mask arithmetic in
    // SQL). The physical write path is Lake.writeClustered
    // (repartitionByRange on the same key — one range exchange, no global
    // sort), pinned by LakeLayoutSpec.
    "k_lake_zorder" -> Q(
      (s, d) => {
        val ev = events(s, d)
          .select(col("event_id"),
            (col("user_id") % 256).as("xb"), (col("event_id") % 256).as("yb"))
        val zStats = graft.operators.Lake.layoutStats(
          ev.withColumn("_zk", graft.operators.Lake.zkey(col("xb"), col("yb"), 8)),
          "xb", "yb", Seq(col("_zk"), col("event_id")), nFiles = 64)
        val lStats = graft.operators.Lake.layoutStats(
          ev, "xb", "yb", Seq(col("xb"), col("yb"), col("event_id")), nFiles = 64)
        def scanned(stats: org.apache.spark.sql.DataFrame, as: String) = stats
          .filter(col("min_x") <= 31 && col("max_x") >= 16 &&
            col("min_y") <= 31 && col("max_y") >= 16)
          .agg(count(lit(1)).cast("int").as(as))
        ev.filter(col("xb").between(16, 31) && col("yb").between(16, 31))
          .agg(count(lit(1)).as("rows_in_box"))
          .withColumn("files_total", lit(64))
          .crossJoin(scanned(zStats, "files_scanned_zorder"))
          .crossJoin(scanned(lStats, "files_scanned_linear"))
      },
      Some {
        val zexpr = (0 until 8).map(i =>
          s"(((xb >> $i) & 1) * ${1L << (2 * i + 1)} + ((yb >> $i) & 1) * ${1L << (2 * i)})")
          .mkString(" + ")
        s"""WITH b AS (SELECT event_id, user_id % 256 AS xb, event_id % 256 AS yb FROM events),
           |z AS (SELECT event_id, xb, yb, $zexpr AS zk FROM b),
           |zf AS (SELECT xb, yb, ntile(64) OVER (ORDER BY zk, event_id) AS fid FROM z),
           |lf AS (SELECT xb, yb, ntile(64) OVER (ORDER BY xb, yb, event_id) AS fid FROM b),
           |zs AS (SELECT fid FROM zf GROUP BY fid
           |       HAVING min(xb) <= 31 AND max(xb) >= 16 AND min(yb) <= 31 AND max(yb) >= 16),
           |ls AS (SELECT fid FROM lf GROUP BY fid
           |       HAVING min(xb) <= 31 AND max(xb) >= 16 AND min(yb) <= 31 AND max(yb) >= 16)
           |SELECT (SELECT CAST(count(*) AS BIGINT) FROM b
           |        WHERE xb BETWEEN 16 AND 31 AND yb BETWEEN 16 AND 31) AS rows_in_box,
           |       CAST(64 AS INT) AS files_total,
           |       (SELECT CAST(count(*) AS INT) FROM zs) AS files_scanned_zorder,
           |       (SELECT CAST(count(*) AS INT) FROM ls) AS files_scanned_linear""".stripMargin
      },
      Seq("K1", "F6")
    ),

    // Schema evolution on read: two parquet batches written months apart
    // with different schemas (the later one grew n_chars), merged by
    // mergeSchema — the long-lived-lake reality at 100 TB, where a sweep
    // reads years of heterogeneous layouts and old rows surface the new
    // column as NULL. The oracle reproduces the null semantics from the
    // unified table.
    "s_schema_evolution" -> Q(
      (s, d) => {
        val out = tmpDir(d, "schema_evo")
        cleanDir(out)
        val docs = documents(s, d)
        docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("lang"))
          .write.mode("overwrite").parquet(s"$out/batch0")
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.mode("overwrite").parquet(s"$out/batch1")
        s.read.option("mergeSchema", "true").parquet(s"$out/batch0", s"$out/batch1")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), count(col("n_chars")).as("n_with_chars"),
            sum(col("n_chars")).as("sum_chars"))
      },
      Some("""SELECT lang, count(*) AS n,
             |       CAST(count(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT) AS n_with_chars,
             |       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT) AS sum_chars
             |FROM documents GROUP BY lang""".stripMargin),
      Seq("S4", "K5")
    ),

    "s6_streaming_ingest" -> Q(
      (s, d) => graft.streaming.StreamingPipeline.withStatePartitions(s) {
        val inDir = tmpDir(d, "stream_in")
        val storeDir = tmpDir(d, "stream_store")
        val ckpt = tmpDir(d, "stream_ckpt")
        cleanDir(inDir); cleanDir(storeDir); cleanDir(ckpt)
        Files.createDirectories(Paths.get(inDir))
        // drop file: 2% sample of documents as JSON-lines (docId, dataset, hash, xml)
        documents(s, d).filter(col("doc_id") % 50 === 1)
          .withColumn("xml", synthXmlUdf(col("doc_id"), col("text")))
          .select(
            concat(lit("doc"), col("doc_id")).as("docId"),
            col("source").as("dataset"),
            sha2(col("text"), 256).as("hash"),
            col("xml")
          )
          .coalesce(1).write.mode("overwrite").json(inDir)
        val store = new SnapshotChunkStore(storeDir)
        val q = StreamingPipeline.writer(
          s, StreamingPipeline.fileSource(s, inDir), store,
          new LovdataChunker(targetTokens = 64, maxTokens = 200, minTokens = 20),
          new DeterministicProvider(16), ckpt
        ).start()
        q.awaitTermination()
        store.distinctDocumentIds(s).agg(count(lit(1)).as("n_docs"))
      },
      Some("SELECT count(*) AS n_docs FROM documents WHERE doc_id % 50 = 1"),
      Seq("S6", "K1", "E1", "S2")
    ),

    // Multimodal: binary blobs + typed metadata + batched feature extraction
    // (decode stub deterministic; plumbing real — schema, batching, nulls).
    "mm_binary_features" -> Q(
      (s, d) => {
        val withBlob = documents(s, d).withColumn("blob", col("text").cast("binary"))
        val withMeta = Multimodal.withMediaMeta(withBlob, "blob", "image", "png")
        Multimodal.extractFeatures(withMeta, "blob", dims = 16, batchSize = 128)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("media_meta.sizeBytes")).as("sum_bytes"),
            count(when(col("features").isNotNull, 1)).as("n_decoded")
          )
      },
      Some("""SELECT lang, count(*) AS n,
             |CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
             |count(*) AS n_decoded
             |FROM documents GROUP BY lang""".stripMargin),
      Seq("E1")
    )
  )
}
