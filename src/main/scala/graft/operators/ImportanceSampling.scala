package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
  * 2023, arXiv:2302.03169): select raw-corpus documents whose hashed-n-gram
  * feature distribution resembles a small TARGET corpus — the "looks like
  * Wikipedia/books" pre-training selector published LLM pipelines run ahead
  * of quality filtering. The importance weight of a document is
  *
  *   logw(d) = Σ_{g ∈ grams(d)} [ ln p̂_target(bucket(g)) − ln p̂_raw(bucket(g)) ]
  *
  * over `buckets` hash buckets with add-one smoothing, and selection is
  * GUMBEL TOP-K over `logw + gumbel(id)` — sampling without replacement
  * proportional to exp(logw), made deterministic (reproducible across runs,
  * partitionings, and engines) by deriving the Gumbel noise from the id
  * hash instead of an RNG stream — the same philosophy as
  * [[Sampling.sampleByHash]].
  *
  * Gram hashing rides the engine's [[Dedup.GramHash]] family: the
  * [[Dedup.PolyGram]] default hashes each token once and combines windows
  * arithmetically (no per-gram string building — the same ~n× saving the
  * decontamination path measured), while [[Dedup.Md5Gram]] keeps the
  * SQL-replayable oracle family. Both sides of a score MUST use one family;
  * [[bucketCounts]] stamps its family tag on the `bucket` column (parquet
  * preserves it) and [[logWeights]] fails fast on a mismatch — the
  * [[Dedup.benchmarkGrams]] discipline, because a persisted count table
  * scored under the wrong family is meaningless noise with no error.
  *
  * Scale shape (the [[LanguageModel]]/[[NaiveBayes]] discipline): both
  * distributions live as `buckets`-row DataFrames — DSIR's published config
  * hashes into 10⁴ buckets, so the ratio table broadcasts by construction.
  * Scoring a batch is one explode + per-doc groupBy and one equi-join
  * against that table; nothing corpus-sized reaches the driver, and the
  * final selection is a TakeOrdered (top-k heap), never a global sort.
  */
object ImportanceSampling {

  /** `(…keep, _g)` rows: one NON-distinct hashed n-gram per occurrence —
    * DSIR models token frequencies, not document frequencies.
    */
  private def gramRows(
      df: DataFrame, keep: Seq[Column], textCol: String, n: Int,
      gramHash: Dedup.GramHash): DataFrame = {
    // spreadSmall: per-token gram fan-out fused onto a one-split scan runs
    // single-task (guide §2.5)
    val dfS = Par.spreadSmall(df)
    gramHash match {
      case Dedup.PolyGram =>
        dfS.withColumn("_th", Dedup.tokenHashes(col(textCol)))
          .select(keep :+ explode(Dedup.polyWindowHashes(col("_th"), n)).as("_g"): _*)
      case sg: Dedup.StringGram =>
        dfS.select(keep :+ explode(Dedup.wordNgrams(col(textCol), n)).as("_gs"): _*)
          .withColumn("_g", sg.fn(col("_gs"))).drop("_gs")
    }
  }

  /** Hashed-n-gram bucket counts — the bag-of-hashed-ngrams distribution of
    * one corpus side: `(bucket, cnt)` with `bucket = pmod(hash(gram),
    * buckets)`.
    */
  def bucketCounts(
      df: DataFrame,
      textCol: String,
      buckets: Int,
      n: Int = 2,
      gramHash: Dedup.GramHash = Dedup.PolyGram
  ): DataFrame = {
    // the family tag rides the bucket column's metadata (parquet preserves
    // it), so a persisted count table replays only under the same family —
    // the Dedup.benchmarkGrams discipline; logWeights fails fast on mismatch
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(FamilyKey, gramHash.tag).build()
    gramRows(df, Seq.empty, textCol, n, gramHash)
      .select(pmod(col("_g"), lit(buckets.toLong)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
      .select(col("bucket").as("bucket", meta), col("cnt"))
  }

  private val FamilyKey = "gramFamily"

  /** The family tag stamped on a count table's `bucket` column, if present. */
  def familyOf(counts: DataFrame): Option[String] =
    counts.schema.fields.find(_.name == "bucket")
      .filter(_.metadata.contains(FamilyKey))
      .map(_.metadata.getString(FamilyKey))

  private def requireFamily(counts: DataFrame, hashFn: Dedup.GramHash, side: String): Unit =
    familyOf(counts).foreach { stored =>
      require(stored == hashFn.tag,
        s"$side count table was built under gram-hash family '$stored' but this " +
          s"scoring pass uses '${hashFn.tag}' — families never collide, so every " +
          "log-ratio would be meaningless noise. Rebuild the counts or pass the " +
          "matching GramHash.")
    }

  /** The per-bucket log-ratio table `(bucket, lr)` plus the smoothing floor
    * for buckets absent from BOTH sides:
    *
    *   lr(b) = ln(cnt_t(b)+1) − ln(T_t+B) − ln(cnt_r(b)+1) + ln(T_r+B)
    *
    * where T is each side's total gram count and B the bucket count. The
    * two count aggregates are the only driver-side scalars.
    */
  private def logRatio(
      target: DataFrame, raw: DataFrame, buckets: Int): (DataFrame, Double) = {
    // ONE job materializes the bucket-aligned counts (≤ `buckets` rows by
    // construction), and the side totals then read off that same table.
    // The previous shape ran each side's total as its own aggregate job
    // and re-derived both count tables again inside the join — when the
    // counts are lazy plans (the batch entries pass bucketCounts straight
    // in), that was FIVE gram passes over the corpus per logWeights call;
    // now it is two (one per side), plus the scoring pass.
    val joined = target.select(col("bucket"), col("cnt").as("_ct"))
      .join(raw.select(col("bucket"), col("cnt").as("_cr")), Seq("bucket"), "full_outer")
      .localCheckpoint()
    val t = joined.agg(
      coalesce(sum(col("_ct")), lit(0L)), coalesce(sum(col("_cr")), lit(0L))).head()
    // identical arithmetic to the per-side totals: each bucket appears
    // exactly once per side in the full-outer join (bucketCounts groups by
    // bucket), so the Long sums are the same integers
    val tTot = t.getLong(0).toDouble + buckets
    val rTot = t.getLong(1).toDouble + buckets
    val floor = -math.log(tTot) + math.log(rTot)
    val ratio = joined.select(col("bucket"),
      (log(coalesce(col("_ct"), lit(0L)) + lit(1.0)) - lit(math.log(tTot)) -
        log(coalesce(col("_cr"), lit(0L)) + lit(1.0)) + lit(math.log(rTot))).as("lr"))
    // the ratio table (≤ `buckets` rows, broadcast by every scoring join
    // anyway) lands as a local relation, so nothing downstream reads the
    // checkpoint and it is released here, not left to the GC
    try (joined.sparkSession.createDataFrame(
      java.util.Arrays.asList(ratio.collect(): _*), ratio.schema), floor)
    finally org.apache.spark.sql.graft.CheckpointBridge.internalRdd(joined)
      .foreach(_.unpersist(blocking = false))
  }

  /** A materialized DSIR scoring model: the per-bucket log-ratio table
    * (persisted and eagerly computed, ≤ `buckets` rows by construction)
    * plus the smoothing floor. [[logWeights]] rebuilds the ratio — two
    * count-total aggregate jobs and a full-outer join — on every call,
    * which is fine for one-shot batch scoring but wasteful in a streaming
    * loop where every microbatch would re-pay those jobs against count
    * tables that never change. Build the model once outside the stream,
    * score each batch with [[scoreWith]], `unpersist()` when the stream
    * stops.
    */
  final case class RatioModel private[operators] (
      ratio: DataFrame, floor: Double, buckets: Int, familyTag: Option[String]) {
    def unpersist(): Unit = { ratio.unpersist(); () }
  }

  /** Compute and materialize the log-ratio model from a pair of
    * [[bucketCounts]] tables (SAME gram family — fails fast on a tag
    * mismatch between the two).
    */
  def ratioModel(
      targetCounts: DataFrame, rawCounts: DataFrame, buckets: Int): RatioModel = {
    for (t <- familyOf(targetCounts); r <- familyOf(rawCounts))
      require(t == r,
        s"target counts were built under gram-hash family '$t' but raw counts " +
          s"under '$r' — the log-ratio of mismatched families is meaningless.")
    val (ratio, floor) = logRatio(targetCounts, rawCounts, buckets)
    val persisted = ratio.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    persisted.count() // eager: the two total jobs + the full-outer join run exactly once
    RatioModel(persisted, floor, buckets, familyOf(targetCounts).orElse(familyOf(rawCounts)))
  }

  /** Per-document log-weights against a prebuilt [[RatioModel]] — the
    * per-microbatch scoring path: one explode + per-doc groupBy + one
    * broadcast join, no model-side jobs.
    */
  def scoreWith(
      model: RatioModel,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      gramHash: Dedup.GramHash = Dedup.PolyGram
  ): DataFrame = {
    model.familyTag.foreach { stored =>
      require(stored == gramHash.tag,
        s"ratio model was built under gram-hash family '$stored' but this scoring " +
          s"pass uses '${gramHash.tag}' — rebuild the model or pass the matching GramHash.")
    }
    scoreAgainst(docs, idCol, textCol, model.ratio, model.floor, model.buckets, n, gramHash)
  }

  /** Per-document importance log-weights `(idCol, logw)` of `docs` against
    * precomputed [[bucketCounts]] tables (SAME gram family). Documents with
    * no n-gram (short text) score a neutral 0. Every document appears
    * exactly once. For repeated scoring against fixed count tables
    * (streaming), build a [[ratioModel]] once and use [[scoreWith]].
    */
  def logWeights(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      targetCounts: DataFrame,
      rawCounts: DataFrame,
      buckets: Int,
      n: Int = 2,
      gramHash: Dedup.GramHash = Dedup.PolyGram
  ): DataFrame = {
    requireFamily(targetCounts, gramHash, "target")
    requireFamily(rawCounts, gramHash, "raw")
    val (ratio, floor) = logRatio(targetCounts, rawCounts, buckets)
    scoreAgainst(docs, idCol, textCol, ratio, floor, buckets, n, gramHash)
  }

  private def scoreAgainst(
      docs: DataFrame, idCol: String, textCol: String,
      ratio: DataFrame, floor: Double, buckets: Int,
      n: Int, gramHash: Dedup.GramHash): DataFrame = {
    val tf = gramRows(docs, Seq(col(idCol).as("_id")), textCol, n, gramHash)
      .select(col("_id"), pmod(col("_g"), lit(buckets.toLong)).as("bucket"))
      .groupBy(col("_id"), col("bucket")).agg(count(lit(1)).as("_tf"))
    // The ratio table is ≤ `buckets` rows BY CONSTRUCTION (pmod bound) —
    // the one case where a broadcast hint is principled rather than a
    // scale hazard: without it Catalyst's post-aggregate size estimate can
    // pick a corpus-wide shuffle against a table that cannot exceed a few
    // hundred KB at any corpus size (the NB class-list precedent).
    val scored = tf
      .join(broadcast(ratio), Seq("bucket"), "left")
      .groupBy(col("_id"))
      .agg(sum(col("_tf") * coalesce(col("lr"), lit(floor))).as("logw"))
    docs.select(col(idCol).as("_id")).distinct()
      .join(scored, Seq("_id"), "left")
      .select(col("_id").as(idCol), coalesce(col("logw"), lit(0.0)).as("logw"))
  }

  /** Deterministic standard-Gumbel noise from the id hash:
    * `g = −ln(−ln(u))` with `u = (pmod(hash(id·salt), 2²⁰)+0.5)/2²⁰` — u is
    * strictly inside (0,1), so g is finite; same id + salt ⇒ same noise on
    * any engine that shares the hash.
    */
  private val UniformBuckets = 1 << 20
  def gumbelNoise(
      id: Column, salt: String, hashFn: Column => Column = Dedup.xxBaseHash): Column = {
    val u = (pmod(hashFn(concat(id.cast("string"), lit(salt))), lit(UniformBuckets.toLong))
      .cast("double") + lit(0.5)) / lit(UniformBuckets.toDouble)
    -log(-log(u))
  }

  /** Gumbel top-k importance resampling: the `nKeep` documents with the
    * largest `logw + gumbel(id)` — a without-replacement sample ∝ exp(logw)
    * (Gumbel-max trick), deterministic given (corpus, salt). Returns
    * `(idCol, logw, key)` rows of the selected documents; semi-join back on
    * `idCol` for the full rows.
    */
  def resample(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      targetCounts: DataFrame,
      rawCounts: DataFrame,
      nKeep: Int,
      buckets: Int,
      n: Int = 2,
      salt: String = "dsir",
      gramHash: Dedup.GramHash = Dedup.PolyGram,
      idHashFn: Column => Column = Dedup.xxBaseHash
  ): DataFrame =
    logWeights(docs, idCol, textCol, targetCounts, rawCounts, buckets, n, gramHash)
      .withColumn("key", col("logw") + gumbelNoise(col(idCol), salt, idHashFn))
      .orderBy(col("key").desc, col(idCol))
      .limit(nKeep)
}
