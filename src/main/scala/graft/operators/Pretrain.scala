package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** The composed crawl→training-shards pipeline — every stage the engine
  * ships, run as ONE flow with per-stage loss accounting (the
  * [[DataPrep.prepare]] discipline extended end-to-end):
  *
  *   crawl HTML (WARC payload) → block-level HTML strip → NFC normalize →
  *   C4 line rules → Gopher document rules → repetition rules → CCNet
  *   bigram-LM perplexity gate → global line dedup → exact + MinHash-LSH
  *   fuzzy dedup → benchmark decontamination → per-source token budget →
  *   sequence packing → deterministic epoch shards.
  *
  * Reference scope: the reference pipeline stops at chunk/embed/store
  * (`lovdata_pipeline/orchestration/pipeline_orchestrator.py`); this is the
  * training-data extension built from the same operator families, composed.
  * Cross-family contract drift (id columns, hash families, text-column
  * shapes) is exactly what a composed run catches and per-stage entries
  * cannot — the reason this exists as ONE call.
  *
  * Determinism: every stage is replayable in ANSI SQL (the battery entry
  * `pipeline_pretrain_e2e` pins the whole chain against a DuckDB oracle).
  * All hashes are the md5-derived 60-bit family ([[Dedup.md5Lower60]] /
  * [[Dedup.Md5Gram]]); float gates compare 6-dp-rounded values or exact
  * integer micro-units, never raw accumulations.
  *
  * Scale shape: filter chain over (id, text) with no corpus-wide shuffle
  * outside the dedup/decontamination equi-joins (banded MinHash — never
  * all-pairs), one bucket-decomposed window per source for the budget cut,
  * and a hash-exchange on `shard` for the final layout. Stage boundaries
  * localCheckpoint because every stage is also counted; at 100 TB the
  * boundaries would be snapshot-table commits instead (the CLI's `prepare`
  * lands the final corpus in one).
  */
object Pretrain {

  /** Crawl-page scaffolding shared by the WARC synthesizer and the DuckDB
    * oracle: a boilerplate paragraph every page repeats (line-dedup bait),
    * the document body, and two junk paragraphs the C4 rules drop.
    */
  val BoilerLine = "Free hosting provided by Example Corp new terms apply today."
  val JunkLine1 = "click here"
  val JunkLine2 = "copyright 2024 example corp all rights reserved"

  /** Wrap a text column as the crawl page served for it. Paragraph tags
    * delimit blocks; the script/comment tail exercises the strip rules.
    */
  def crawlHtml(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      lit(s"<html><body><p>$BoilerLine</p><p>"), text,
      lit(s".</p><p>$JunkLine1</p><p>$JunkLine2</p>" +
        "<script type=\"text/javascript\">var a = 1 < 2;</script>" +
        "<!-- nav --></body></html>"))

  final case class PretrainConfig(
      minWords: Int = 50,
      maxWords: Int = 100000,
      minStopwordTypes: Int = 1,
      stopwords: Seq[String] = QualityFilters.GopherStopwords,
      dupWordFracMax: Double = 0.62,
      topNgramCharFracMax: Double = 0.2,
      /** perplexity gate in exact integer micro-units of round(log_ppl, 6)
        * — float-threshold adjacency cannot flip a keep decision.
        */
      maxLogPplMicro: Long = 3160000L,
      /** MinHash-LSH near-dup params: 1 band × 16 rows collides only near
        * Jaccard ≈ 0.97 — the tightest operating point, deliberate here:
        * the fixture corpus has a ~40-word vocabulary, so word-SET Jaccard
        * between unrelated documents is already high and the usual 0.8
        * threshold degenerates into same-topic clustering (measured: 2×8
        * bands drop 73% of the corpus; 1×16 drops the ~8% that share
        * near-identical word sets at every SF).
        */
      numHashes: Int = 16,
      bands: Int = 1,
      maxBucketSize: Int = 100,
      decontamNgram: Int = 5,
      budgetTokens: Long = 200L,
      packTokens: Int = 64,
      nShards: Int = 8,
      mixSalt: String = "ptmix",
      epochSalt: String = "ptep"
  )

  /** Run the full chain over crawl rows `(doc_id, source, lang, html)`.
    * Returns (report, kept): `report` is the per-stage loss ledger
    * `(stage, n, mass, fp)` — row counts, char/token mass, and a 60-bit
    * xor content fingerprint, so a silently-wrong stage shows up as a
    * value mismatch, not just a count drift — and `kept` is the final
    * training corpus `(doc_id, source, lang, text, toks, shard,
    * order_key)` in deterministic epoch order.
    */
  def prepare(
      spark: SparkSession,
      raw: DataFrame,
      benchmark: Option[DataFrame],
      cfg: PretrainConfig = PretrainConfig()
  ): (DataFrame, DataFrame) = {
    import spark.implicits._
    def ck(df: DataFrame): DataFrame = df.localCheckpoint(false)
    def fp(c: org.apache.spark.sql.Column) = Dedup.md5Lower60(c)
    // the fingerprint column is the same md5Lower60 the dedup stages hash
    // with; bit_xor is aggregate-only, reached via expr over a named column
    def stageRow(stage: String, df: DataFrame, text: String): DataFrame =
      df.withColumn("_fp", fp(col(text)))
        .agg(
          count(lit(1)).as("n"),
          coalesce(sum(length(col(text)).cast("long")), lit(0L)).as("mass"),
          coalesce(expr("bit_xor(_fp)"), lit(0L)).as("fp"))
        .select(lit(stage).as("stage"), col("n"), col("mass"), col("fp"))

    // 00 ingest: the crawl as served (snapshot-table rows). spreadSmall:
    // every stage below is per-document text work fused onto this
    // checkpoint's partitioning — a one-split crawl otherwise runs the
    // WHOLE chain single-task (guide §2.5; measured 9.3 s of serial CPU
    // across the stage checkpoints at sf0.1)
    val ingest = ck(Par.spreadSmall(
      raw.select(col("doc_id"), col("source"), col("lang"), col("html"))))
    val r00 = stageRow("00_ingest", ingest, "html")

    // 01 block-level HTML strip + NFC normalize: paragraphs are blocks
    // (split on </p>), each stripped and normalized independently, then
    // joined as lines — the WET extraction shape that preserves the block
    // structure the C4 line rules need
    val cleaned = ck(ingest.withColumn("text_clean",
      array_join(
        filter(
          transform(split(col("html"), "</p>"),
            p => TextFunctions.normalizeText(TextFunctions.stripHtml(p))),
          p => length(p) > 0),
        "\n")).drop("html"))
    val r01 = stageRow("01_clean", cleaned, "text_clean")

    // 02 C4 line rules (terminal punctuation + >= 3 words), then collapse
    // the surviving lines back to one space-joined body
    val c4 = ck(cleaned
      .withColumn("text_q",
        regexp_replace(TextFunctions.c4LineFilter(col("text_clean"), minWords = 3),
          "\n", " "))
      .filter(length(col("text_q")) > 0)
      .drop("text_clean"))
    val r02 = stageRow("02_c4", c4, "text_q")

    // 03 Gopher document rules
    val gopher = ck(c4.join(
      QualityFilters.gopherSignals(c4, "doc_id", "text_q",
        cfg.minWords, cfg.maxWords, cfg.stopwords, cfg.minStopwordTypes)
        .filter(col("gopher_keep")).select(col("doc_id")),
      Seq("doc_id"), "left_semi"))
    val r03 = stageRow("03_gopher", gopher, "text_q")

    // 04 repetition rules (6-dp-rounded signals; same literals both sides)
    val repetition = ck(gopher.join(
      QualityFilters.repetitionSignals(gopher, "doc_id", "text_q", n = 2)
        .filter(col("dup_word_frac") <= cfg.dupWordFracMax &&
          col("top_ngram_char_frac") <= cfg.topNgramCharFracMax)
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi"))
    val r04 = stageRow("04_repetition", repetition, "text_q")

    // 05 CCNet perplexity gate: bigram LM trained on the even-id half of
    // the quality survivors (the trusted-slice proxy), scored in exact
    // micro-units of the 6-dp-rounded log-perplexity
    val lm = LanguageModel.trainBigram(
      repetition.filter(col("doc_id") % 2 === 0), "text_q")
    val fluent = ck(repetition.join(
      LanguageModel.scoreDocs(lm, repetition, "text_q", "doc_id")
        .filter(round(round(col("log_ppl"), 6) * 1e6).cast("long")
          <= cfg.maxLogPplMicro)
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi"))
    val r05 = stageRow("05_perplexity", fluent, "text_q")

    // 06 global line dedup (RefinedWeb first-occurrence): 10-word lines so
    // the rule has line structure to work on — the shared boilerplate
    // sentence survives in exactly ONE document corpus-wide
    val ws = split(trim(col("text_q")), "\\s+")
    val nl = ((size(ws) + lit(9)) / lit(10)).cast("int")
    val lined = fluent.withColumn("text",
      array_join(
        transform(sequence(lit(0), nl - lit(1)),
          i => array_join(slice(ws, i * lit(10) + lit(1), lit(10)), " ")),
        "\n")).drop("text_q")
    val lineDeduped = ck(
      Dedup.dedupLines(lined, "doc_id", "text")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("source"), col("lang"), col("text")))
    val r06 = stageRow("06_line_dedup", lineDeduped, "text")

    // 07 exact + MinHash-LSH fuzzy dedup (banded equi-join candidates,
    // connected components, min-id canonical)
    val fuzzy = ck(Dedup.dedupCorpus(lineDeduped, "doc_id", "text",
      numHashes = cfg.numHashes, bands = cfg.bands, maxBucketSize = cfg.maxBucketSize,
      baseHash = Dedup.md5Lower60, bucketHash = Dedup.md5BucketHash))
    val r07 = stageRow("07_fuzzy_dedup", fuzzy, "text")

    // 08 benchmark decontamination (n-gram collision, md5 gram family)
    val clean = benchmark match {
      case Some(bench) => ck(Dedup.decontaminate(
        fuzzy, "doc_id", "text", bench, "text",
        n = cfg.decontamNgram, hashFn = Dedup.Md5Gram))
      case None => fuzzy
    }
    val r08 = stageRow("08_decontam", clean, "text")

    // 09 per-source token budget (bucket-decomposed prefix cut)
    val budgeted = ck(Sampling.takeTokenBudget(
      clean.withColumn("toks", TextFunctions.tokenCount(col("text"))),
      "doc_id", "toks", "source", cfg.budgetTokens,
      salt = cfg.mixSalt, hashFn = Dedup.md5Lower60))
    // fingerprints fold ids with xor, never a sum: 60-bit md5-derived ids
    // (a warc-ingest crawl's) overflow a long sum from 8 docs on
    val r09 = budgeted.agg(
      count(lit(1)).as("n"),
      coalesce(sum(col("toks")), lit(0L)).as("mass"),
      coalesce(expr("bit_xor(doc_id)"), lit(0L)).as("fp"))
      .select(lit("09_budget").as("stage"), col("n"), col("mass"), col("fp"))

    // 10 sequence packing (FIFO-by-id bins per source)
    val packed = Sampling.packSequences(budgeted, "doc_id", "toks", "source",
      cfg.packTokens)
    val r10 = packed.agg(
      countDistinct(concat_ws(":", col("source"), col("bin"))).as("n"),
      coalesce(sum(col("bin")), lit(0L)).as("mass"),
      coalesce(expr("bit_xor(doc_id + bin)"), lit(0L)).as("fp"))
      .select(lit("10_pack").as("stage"), col("n"), col("mass"), col("fp"))

    // 11 deterministic epoch shards: (shard, order_key) is the permutation
    val sharded = ck(Sampling.shuffleShards(budgeted, "doc_id", cfg.nShards,
      salt = cfg.epochSalt, hashFn = c => Dedup.md5Lower60(c), hashBits = 60))
    val r11 = sharded.groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n"),
        coalesce(sum(col("toks")), lit(0L)).as("mass"),
        coalesce(expr("bit_xor(order_key)"), lit(0L)).as("fp"))
      .select(
        format_string("11_shard_%d", col("shard")).as("stage"),
        col("n"), col("mass"), col("fp"))

    val report = Seq(r00, r01, r02, r03, r04, r05, r06, r07, r08, r09, r10)
      .reduce(_.unionByName(_))
      .unionByName(r11)
    (report, sharded)
  }
}
