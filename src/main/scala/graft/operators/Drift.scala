package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus distribution-drift monitor: PSI (population stability index — the
  * model-monitoring standard) and KL divergence between two corpus
  * distributions, computed over bounded count tables.
  *
  * The training-data ops question this answers: "is this month's crawl
  * distributed like the corpus my mixture weights / quality thresholds /
  * DSIR ratios were tuned on?" — asked continuously at ingest, and cheap by
  * construction: both sides reduce to a `(bucket, cnt)` table no larger
  * than the declared bucket space (the [[ImportanceSampling.bucketCounts]]
  * hashed-n-gram family, 10⁴ rows at DSIR's published config), so the drift
  * computation itself never touches the corpora again. At 100 TB the two
  * count scans are the only corpus-sized work; everything after is a
  * broadcast-size full-outer join.
  *
  * Determinism discipline: add-one smoothing over the declared bucket space
  * (absent buckets carry the floor probability, exactly like the DSIR
  * log-ratio), and every per-bucket contribution is rounded to an exact
  * nano-unit long BEFORE summation — integer-sum associativity makes the
  * result bit-identical under any partitioning AND replayable by the SQL
  * oracle (the perplexity/PageRank micro-unit discipline).
  */
object Drift {

  /** Drift between two `(bucket, cnt)` count tables over a declared bucket
    * space of `buckets` ids. Returns one row:
    * `(psi, kl_ref_cur, n_buckets_present, n_ref, n_cur)` with psi/kl
    * rounded to 6dp from exact nano-unit sums.
    *
    *   p(b) = (cnt_ref(b)+1)/(T_ref+B),  q(b) = (cnt_cur(b)+1)/(T_cur+B)
    *   PSI  = Σ_b (p−q)·ln(p/q)    (symmetric, the monitoring standard)
    *   KL   = Σ_b p·ln(p/q)        (directional: ref vs current)
    *
    * Buckets absent from BOTH sides contribute a constant floor term
    * (p=1/(T_ref+B), q=1/(T_cur+B)); their count is `B − present`, folded
    * in analytically rather than materializing the empty buckets.
    *
    * If both tables carry a [[ImportanceSampling.familyOf]] gram-family tag
    * they must match — a drift score across hash families is noise.
    *
    * `requireIdsInRange` (default true) asserts numeric bucket ids lie in
    * `[0, buckets)` — correct for HASHED bucket spaces
    * ([[ImportanceSampling.bucketCounts]], where an out-of-range id means
    * the table was built over a different space. [[categoricalDrift]]
    * passes false: its "bucket" column carries RAW category VALUES
    * (year=2024, domain=5 are valid categories, not ids), and PSI/KL never
    * index by bucket id — only the domain-undercount check (which guards
    * the analytic floor term's sign) applies there.
    */
  def drift(
      refCounts: DataFrame,
      curCounts: DataFrame,
      buckets: Int,
      requireIdsInRange: Boolean = true
  ): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    (ImportanceSampling.familyOf(refCounts), ImportanceSampling.familyOf(curCounts)) match {
      case (Some(a), Some(b)) =>
        require(a == b,
          s"count tables were built under different gram-hash families ('$a' vs '$b') " +
            "— their buckets never align, so any drift score is meaningless noise.")
      case _ => ()
    }
    // ONE job materializes the bucket-aligned counts (≤ buckets rows by
    // construction); the side totals then read off that same table. The
    // previous shape ran each side's total as its own aggregate job and
    // re-derived both count tables inside the join — with lazy
    // bucketCounts inputs (textDrift) that was four gram passes over the
    // corpora per drift call, now two. Total arithmetic is identical:
    // each bucket appears once per side, the Long sums are the same
    // integers (absent side = 0 via the coalesce).
    val joined = refCounts.select(col("bucket"), col("cnt").as("_cr"))
      .join(curCounts.select(col("bucket"), col("cnt").as("_cc")),
        Seq("bucket"), "full_outer")
      .select(
        col("bucket"),
        coalesce(col("_cr"), lit(0L)).as("_cr"),
        coalesce(col("_cc"), lit(0L)).as("_cc"))
      .localCheckpoint()
    val t = joined.agg(
      coalesce(sum(col("_cr")), lit(0L)), coalesce(sum(col("_cc")), lit(0L))).head()
    val tRef = t.getLong(0)
    val tCur = t.getLong(1)
    val dRef = (tRef + buckets).toDouble
    val dCur = (tCur + buckets).toDouble

    val p = (col("_cr") + lit(1.0)) / lit(dRef)
    val q = (col("_cc") + lit(1.0)) / lit(dCur)
    val lr = log(p / q)
    // nano-unit longs BEFORE the sum: integer addition is associative, so
    // the totals are partition-invariant and SQL-replayable
    def nano(x: Column): Column = round(x * lit(1e9)).cast("long")

    // guard the declared bucket space: if more distinct buckets are present
    // than `buckets` declares (an undercounted categoricalDrift `domain`),
    // or a numeric bucket id falls outside [0, buckets), the analytic
    // absent-bucket floor term would fold in with a NEGATIVE multiplier /
    // a mismatched space — silently wrong PSI/KL. raise_error keeps the
    // check lazy (one extra min/max in the same tiny aggregate).
    val numericBucket = requireIdsInRange &&
      joined.schema("bucket").dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val rangeAggs =
      if (numericBucket)
        Seq(min(col("bucket").cast("long")).as("_bmin"),
          max(col("bucket").cast("long")).as("_bmax"))
      else Seq(lit(0L).as("_bmin"), lit(0L).as("_bmax"))
    val present = joined.agg(
      count(lit(1)).as("_npresent"),
      (Seq(
        coalesce(sum(nano((p - q) * lr)), lit(0L)).as("_psiN"),
        coalesce(sum(nano(p * lr)), lit(0L)).as("_klN")) ++ rangeAggs): _*)
      .withColumn("_guard",
        when(col("_npresent") > lit(buckets.toLong), raise_error(concat(
          lit(s"drift: declared bucket space buckets=$buckets is smaller than the "),
          col("_npresent"), lit(" distinct buckets present — the absent-bucket floor " +
            "term would be folded in with a negative multiplier. Pass the true " +
            "domain size (>= distinct categories across both sides)."))))
          .when(lit(numericBucket) &&
            (col("_bmin") < 0L || col("_bmax") >= lit(buckets.toLong)),
            raise_error(concat(
              lit(s"drift: bucket ids must lie in [0, $buckets); found ["),
              col("_bmin"), lit(", "), col("_bmax"),
              lit("] — count tables were built over a different bucket space."))))
          .otherwise(lit(0)))

    // absent-from-both floor contribution, computed once driver-side
    val p0 = 1.0 / dRef
    val q0 = 1.0 / dCur
    val lr0 = math.log(p0 / q0)
    val psi0 = math.round((p0 - q0) * lr0 * 1e9)
    val kl0 = math.round(p0 * lr0 * 1e9)

    // `_guard` (always 0, or an error) rides BOTH metric sums so column
    // pruning can never drop the validation — a caller selecting only
    // `kl_ref_cur` would otherwise prune `psi` and the guard with it
    val result = present.select(
      round((col("_psiN") + col("_guard") + (lit(buckets.toLong) - col("_npresent")) * lit(psi0)) / lit(1e9), 6).as("psi"),
      round((col("_klN") + col("_guard") + (lit(buckets.toLong) - col("_npresent")) * lit(kl0)) / lit(1e9), 6).as("kl_ref_cur"),
      col("_npresent").cast("long").as("n_buckets_present"),
      lit(tRef).as("n_ref"),
      lit(tCur).as("n_cur"))
    // the one-row result lands as a local relation, so nothing downstream
    // reads the checkpoint and it is released here, not left to the GC
    try joined.sparkSession.createDataFrame(
      java.util.Arrays.asList(result.collect(): _*), result.schema)
    finally org.apache.spark.sql.graft.CheckpointBridge.internalRdd(joined)
      .foreach(_.unpersist(blocking = false))
  }

  /** One-call text drift: hashed-n-gram bucket distributions of both
    * corpora ([[ImportanceSampling.bucketCounts]] — same family discipline
    * as DSIR scoring) compared with [[drift]].
    */
  def textDrift(
      ref: DataFrame,
      cur: DataFrame,
      textCol: String,
      buckets: Int,
      n: Int = 2,
      gramHash: Dedup.GramHash = Dedup.PolyGram
  ): DataFrame =
    drift(
      ImportanceSampling.bucketCounts(ref, textCol, buckets, n, gramHash),
      ImportanceSampling.bucketCounts(cur, textCol, buckets, n, gramHash),
      buckets)

  /** Categorical drift: the share-shift of a low-cardinality column (source,
    * language, domain). `domain` declares the full category space size for
    * smoothing (pass the union distinct count for "what's present").
    *
    * The "bucket" ids here are the RAW category values, so the hashed-space
    * range check is off: a numeric category column (year=2024, domain=5)
    * is a valid input — PSI/KL compare count shares and never index by the
    * value itself. The domain-undercount guard still applies.
    */
  def categoricalDrift(
      ref: DataFrame,
      cur: DataFrame,
      catCol: String,
      domain: Int
  ): DataFrame = {
    def counts(df: DataFrame): DataFrame =
      df.groupBy(col(catCol).as("bucket")).agg(count(lit(1)).as("cnt"))
    drift(counts(ref), counts(cur), domain, requireIdsInRange = false)
  }
}
