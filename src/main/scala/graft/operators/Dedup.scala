package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * All variants are bucketed — candidate pairs only form inside a bucket
  * (hash bucket, LSH band bucket, or blocking key), never via an all-pairs
  * join. At 100 TB an unbucketed `crossJoin` is the canonical scale-killer;
  * every public near-dup pipeline (MinHashLSH in Spark ML, the deduplicate
  * stage of large-corpus prep) uses band-bucket joins for this reason.
  */
object Dedup {

  /** Exact dedup: keep one row per sha2(text). The groupBy shuffles on the
    * 256-bit hash — uniformly distributed, no skew.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("_h", sha2(col(textCol), 256))
      .groupBy(col("_h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .drop("_h")

  /** Character shingles of length n, distinct. */
  def shingles(c: Column, n: Int): Column = {
    val cleaned = regexp_replace(lower(trim(c)), "\\s+", " ")
    array_distinct(
      transform(
        sequence(lit(1), greatest(length(cleaned) - (n - 1), lit(1))),
        i => cleaned.substr(i, lit(n))
      )
    )
  }

  /** Distinct word set of a text column. */
  def wordSet(c: Column): Column = array_distinct(split(trim(c), "\\s+"))

  /** The MinHash permutation family: affine universal hashes
    * `h_i(x) = (a_i · (x mod p) + b_i) mod p` over the Mersenne prime
    * p = 2³¹−1, applied to ONE base hash per token. One expensive base hash
    * (not numHashes of them) per token, then numHashes cheap codegen'd
    * arithmetic transforms — and the family is plain integer math any SQL
    * oracle replays with the same inlined (a, b) constants.
    */
  val MersenneP: Long = (1L << 31) - 1

  /** Edge-count ceiling for the driver union-find finish in
    * [[components]]/[[componentsStar]]: a contracted graph at or under this
    * many edges resolves in one collect instead of per-round join stages
    * (≈32 MB of (long,long) rows at the default — far under a driver heap,
    * far over any real near-dup candidate set's contracted size).
    */
  val DriverFinishEdges: Long = 2000000L

  /** Deterministic per-seed affine constants, shared by the Spark expression
    * and generated oracle SQL.
    */
  def affineConstants(seed: Int): (Long, Long) = {
    def h(tag: Int): Long =
      (scala.util.hashing.MurmurHash3.productHash((seed, tag)) & 0x7fffffff).toLong
    ((h(0xA11CE) % (MersenneP - 1)) + 1, h(0xB0B) % MersenneP)
  }

  /** `h_seed` over a non-negative base-hash column. */
  def affineSeeded(base: Column, seed: Int): Column = {
    val (a, b) = affineConstants(seed)
    (base % lit(MersenneP) * lit(a) + lit(b)) % lit(MersenneP)
  }

  /** MinHash signature from a base-hash ARRAY column (one hash per token):
    * for each seed, the min over tokens of the affine-permuted base hash.
    * Codegen'd (transform + array_min), no UDF.
    */
  def minhashSignatureFromBase(baseHashes: Column, numHashes: Int): Column =
    array((0 until numHashes).map { seed =>
      array_min(transform(baseHashes, h => affineSeeded(h, seed)))
    }: _*)

  /** Non-negative 63-bit default base hash (xxhash64 with the sign cleared —
    * the affine family needs `x mod p` of a non-negative x).
    */
  def xxBaseHash(t: Column): Column = xxhash64(t).bitwiseAND(lit(Long.MaxValue))

  def minhashSignature(tokens: Column, numHashes: Int): Column =
    minhashSignatureFromBase(transform(tokens, t => xxBaseHash(t)), numHashes)

  /** Oracle-matched band-bucket hash: [[md5Lower60]] of the comma-joined
    * decimal slice (DuckDB: `md5_number_lower(array_to_string(slice, ','))`).
    */
  def md5BucketHash(sliceCol: Column): Column =
    md5Lower60(concat_ws(",", transform(sliceCol, x => x.cast("string"))))

  /** MinHash-LSH banding: split the signature into `bands` bands of
    * `rowsPerBand` and emit one (bandId, bucketHash) per band. Documents
    * sharing any band bucket are near-dup candidates.
    */
  def lshBandsWith(
      sig: Column, bands: Int, rowsPerBand: Int, bucketHash: Column => Column
  ): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        bucketHash(slice(sig, b * rowsPerBand + 1, rowsPerBand)).as("bucket")
      )
    }: _*)

  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    lshBandsWith(sig, bands, rowsPerBand, s => xxhash64(s))

  /** MinHash-LSH parameter planner: the `(bands, rowsPerBand)` split of a
    * `numHashes`-hash budget whose collision S-curve
    * `P(candidate | jaccard=s) = 1 − (1 − s^r)^b` best matches a target
    * similarity threshold. "Best" is the standard integral criterion (the
    * datasketch formulation): minimize
    * `fpWeight·∫₀ᵗ P(s) ds + fnWeight·∫ₜ¹ (1 − P(s)) ds` — the area of
    * spurious candidates below the threshold plus the area of missed pairs
    * above it — over every exact split `b·r = numHashes`. Deterministic
    * midpoint integration; ties break toward more bands (recall).
    *
    * This is a driver-side planning function: at 100 TB the band count is
    * the index's partition layout, so it is chosen ONCE here and baked into
    * [[writeSignatureIndex]] — not something to grid-search at query time.
    */
  def lshPlan(
      numHashes: Int,
      threshold: Double,
      fpWeight: Double = 0.5,
      fnWeight: Double = 0.5
  ): (Int, Int) = {
    require(numHashes > 0, s"numHashes must be positive, got $numHashes")
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0,1), got $threshold")
    val steps = 1000
    def cost(b: Int, r: Int): Double = {
      var fp = 0.0; var fn = 0.0
      var i = 0
      while (i < steps) {
        val s = (i + 0.5) / steps
        val p = 1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)
        if (s < threshold) fp += p else fn += (1.0 - p)
        i += 1
      }
      (fpWeight * fp + fnWeight * fn) / steps
    }
    val splits = (1 to numHashes)
      .filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    // max bands on cost ties → the recall-leaning split
    splits.minBy { case (b, r) => (cost(b, r), -b) }
  }

  /** Drop rows whose bucket holds more than `maxBucketSize` members — the
    * skew guard for candidate self-joins. A bucket of n rows yields n(n-1)/2
    * pairs, so one degenerate bucket (empty text, boilerplate, an all-equal
    * embedding cluster) turns a linear-ish job into a quadratic hot
    * partition at scale. Oversized buckets carry no dedup signal (their
    * members are trivially "similar" by construction), so large-corpus
    * MinHash pipelines cap or drop them; AQE's skew-join split handles the
    * surviving moderate imbalance.
    */
  private[operators] def capBuckets(rows: DataFrame, keys: Seq[String], maxBucketSize: Int): DataFrame =
    if (maxBucketSize == Int.MaxValue) rows
    else {
      // window count, not groupBy + semi-join: one shuffle on the bucket key
      // (which the downstream self-join needs anyway) and no recomputation
      // of the upstream signature pipeline for a second join input
      val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
      rows.withColumn("_bn", count(lit(1)).over(w))
        .filter(col("_bn") <= maxBucketSize)
        .drop("_bn")
    }

  /** MinHash-LSH near-dup candidate pairs over `df(idCol, textCol)`.
    *
    * Plan shape: per-doc signature → explode bands → cap oversized buckets →
    * self-join on (band, bucket) → distinct pairs. The join key is a 64-bit
    * band bucket; no CartesianProduct appears in the plan, and no bucket
    * contributes more than `maxBucketSize²` join rows.
    */
  def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucketSize: Int = 10000,
      baseHash: Column => Column = t => xxBaseHash(t),
      bucketHash: Column => Column = s => xxhash64(s)
  ): DataFrame = {
    // both sides of the self-join derive from the capped band table; a lazy
    // localCheckpoint computes the signature pipeline (the dominant cost)
    // once — the two join inputs differ only by alias, but their exchange
    // shapes don't canonicalize equal, so ReuseExchange can't help.
    val capped = capBuckets(
      bandRows(df, idCol, textCol, numHashes, bands, baseHash, bucketHash),
      Seq("band", "bucket"), maxBucketSize)
      .localCheckpoint(false)
    val a = capped.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = capped.select(col("band"), col("bucket"), col("id").as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Per-document banded signature rows `(id, band, bucket)` — the unit the
    * LSH self-join runs on, and the at-rest layout of the incremental
    * signature index.
    */
  private[operators] def bandRows(
      df: DataFrame, idCol: String, textCol: String, numHashes: Int, bands: Int,
      baseHash: Column => Column, bucketHash: Column => Column): DataFrame = {
    val rowsPerBand = numHashes / bands
    // spreadSmall: numHashes MinHash folds per document fused onto a
    // one-split scan otherwise run single-task (guide §2.5)
    Par.spreadSmall(df).select(col(idCol).as("id"), wordSet(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      // materialize ONE base hash per token; CollapseProject keeps this
      // separate because the array is referenced numHashes times below
      .withColumn("baseH", transform(col("toks"), t => baseHash(t)))
      .withColumn("sig", minhashSignatureFromBase(col("baseH"), numHashes))
      .withColumn("bandBucket", explode(lshBandsWith(col("sig"), bands, rowsPerBand, bucketHash)))
      .select(col("id"), col("bandBucket.band"), col("bandBucket.bucket"))
  }

  // ------------------------------------------------- incremental signature index

  /** Persist the banded signature rows of `df` as the incremental dedup
    * index, partitioned by `band`. New arrivals are then deduped against
    * the corpus WITHOUT recomputing corpus signatures
    * ([[incrementalCandidates]]) — at 100 TB, re-shingling the whole corpus
    * per ingest batch is the difference between a minutes-long increment and
    * a full recompute. Rows are stored uncapped; the skew cap is applied at
    * query time over the combined (stored ∪ new) bucket population, so
    * incremental results match what a full-corpus run would produce.
    */
  def writeSignatureIndex(
      df: DataFrame, idCol: String, textCol: String, path: String,
      numHashes: Int = 16, bands: Int = 4,
      baseHash: Column => Column = t => xxBaseHash(t),
      bucketHash: Column => Column = s => xxhash64(s)): Unit =
    bandRows(df, idCol, textCol, numHashes, bands, baseHash, bucketHash)
      .repartition(col("band"))
      .write.partitionBy("band").mode(SaveMode.Overwrite).parquet(path)

  /** Register a processed batch's signatures in the index (append-only;
    * band partitioning keeps new files inside the right partition dirs, so
    * queries stay pruned — run [[compactSignatureIndex]] occasionally to
    * fold accumulated small files and heal replay duplicates on disk).
    */
  def appendToSignatureIndex(
      df: DataFrame, idCol: String, textCol: String, path: String,
      numHashes: Int = 16, bands: Int = 4,
      baseHash: Column => Column = t => xxBaseHash(t),
      bucketHash: Column => Column = s => xxhash64(s)): Unit =
    bandRows(df, idCol, textCol, numHashes, bands, baseHash, bucketHash)
      .repartition(col("band"))
      .write.partitionBy("band").mode(SaveMode.Append).parquet(path)

  /** Fold an append-accumulated signature index back to one sorted file per
    * band partition, healing replay-duplicated rows on disk. Appends never
    * make the index WRONG ([[incrementalCandidates]] distincts the stored
    * scan), but a year of daily appends leaves 365 small files per band and
    * makes every query re-pay that distinct — compaction moves the cost to
    * a once-in-a-while rewrite of SIGNATURE ROWS (never re-shingles text;
    * cost scales with index size, not corpus size). Staged into a sibling
    * dir and swapped by rename, the [[TextSearch.compactIndex]] discipline.
    */
  def compactSignatureIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val tmp = path + ".compact-tmp"
    spark.read.parquet(path)
      .select(col("id"), col("band"), col("bucket"))
      .distinct()
      .repartition(col("band"))
      .sortWithinPartitions(col("bucket"), col("id"))
      .write.partitionBy("band").mode(SaveMode.Overwrite).parquet(tmp)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    // rename reports failure by RETURNING false, not throwing — and the old
    // layout is already gone, so an unchecked false is silent index loss
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), hp),
      s"rename $tmp -> $path failed after the old index was deleted; " +
        s"the compacted index is intact at $tmp — move it into place manually")
  }

  /** Candidate near-dup pairs INVOLVING the new batch: new-vs-corpus and
    * new-vs-new, exactly the pairs a full [[minhashCandidates]] run over
    * (corpus ∪ batch) would emit minus the corpus-internal ones. Signatures
    * are computed only for `newDocs`; the corpus side is a parquet scan of
    * the index. The equi-join key is (band, bucket) with the shared skew
    * cap — no CartesianProduct, bounded per-bucket fan-out.
    */
  def incrementalCandidates(
      spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, idCol: String, textCol: String, indexPath: String,
      numHashes: Int = 16, bands: Int = 4, maxBucketSize: Int = 10000,
      baseHash: Column => Column = t => xxBaseHash(t),
      bucketHash: Column => Column = s => xxhash64(s)): DataFrame = {
    // checkpointed: fresh signatures feed both the union below and the
    // anti-join key set — without it the batch is shingled twice
    val fresh = bandRows(newDocs, idCol, textCol, numHashes, bands, baseHash, bucketHash)
      .withColumn("_new", lit(true))
      .localCheckpoint(false)
    // distinct: a streaming replay (at-least-once foreachBatch) or a
    // double-append may register the same signatures twice; duplicate rows
    // would inflate the per-bucket counts the skew cap reads and could
    // permanently suppress legitimate candidate pairs. The anti-join covers
    // the replay case where THIS batch's signatures already landed in the
    // index (append succeeded, checkpoint commit didn't): those ids would
    // otherwise appear once per side of the union and double-count toward
    // the cap, halving the effective bucket size vs a full-corpus run.
    val stored = spark.read.parquet(indexPath)
      .select(col("id"), col("band"), col("bucket"))
      .distinct()
      .join(fresh.select(col("id")).distinct(), Seq("id"), "left_anti")
      .withColumn("_new", lit(false))
    val capped = capBuckets(stored.unionByName(fresh), Seq("band", "bucket"), maxBucketSize)
      .localCheckpoint(false) // shared by both join sides, as in minhashCandidates
    val a = capped.filter(col("_new"))
      .select(col("band"), col("bucket"), col("id").as("id_x"))
    val b = capped.select(col("band"), col("bucket"), col("id").as("id_y"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_x") =!= col("id_y"))
      .select(
        least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
      .distinct()
  }

  /** A 60-bit hash both engines can compute identically: the top 60 bits of
    * the little-endian integer formed by md5-digest bytes 9..16 — exactly
    * DuckDB's `md5_number_lower(x) >> 4` — reconstructed here from Spark's
    * hex `md5()` by re-ordering byte pairs. Positive and exact in a signed
    * 64-bit long on both sides, which is what lets SimHash/winnowing outputs
    * be checked by a SQL oracle instead of rows-only.
    */
  def md5Lower60(c: Column): Column = {
    val m = md5(c)
    val rev = concat(
      substring(m, 31, 2), substring(m, 29, 2), substring(m, 27, 2), substring(m, 25, 2),
      substring(m, 23, 2), substring(m, 21, 2), substring(m, 19, 2), substring(m, 17, 1)
    )
    conv(rev, 16, 10).cast("long")
  }

  /** Winnowing fingerprint (rolling-hash document fingerprinting): hash
    * every word k-gram, then keep the minimum hash of each sliding window of
    * `w` consecutive k-gram hashes. Two documents sharing any sizable run of
    * text share fingerprint hashes — the classic plagiarism/near-dup scheme,
    * entirely in codegen'd array ops. `hashFn` is pluggable so the oracle
    * variant can use [[md5Lower60]]; default is the faster `xxhash64`.
    */
  def winnowingFingerprintWith(
      c: Column, k: Int, w: Int, hashFn: Column => Column
  ): Column =
    // NOTE: as a pure Column expression, the gram-hash array is a
    // lambda-invariant subtree of the window transform and Catalyst
    // recomputes it once PER WINDOW — quadratic in document length. Fine
    // for short chunks and oracle replays; long documents must use the
    // DataFrame form [[withWinnowingFingerprint]], which materializes the
    // array once per row.
    winnowingFromHashes(transform(wordNgrams(c, k), g => hashFn(g)), w)

  /** The window-min + distinct pass over an ALREADY-MATERIALIZED k-gram
    * hash array column — `slice` over a materialized array is O(w) per
    * window, restoring linear cost in document length.
    */
  def winnowingFromHashes(hashes: Column, w: Int): Column = {
    val nWins = greatest(size(hashes) - (w - 1), lit(1))
    when(size(hashes) === 0, array().cast("array<bigint>"))
      .otherwise(array_distinct(
        transform(sequence(lit(1), nWins), j => array_min(slice(hashes, j, lit(w))))
      ))
  }

  /** Linear-cost winnowing: gram hashes are exploded to rows and the
    * sliding minimum runs as a per-document RANGE window — one shuffle on
    * the id, cost linear in document length. (A withColumn materialization
    * does NOT fix the Column form: CollapseProject inlines the array right
    * back into the window lambda — measured, still quadratic. Exploding to
    * rows is the shape Catalyst cannot un-materialize.) Output is
    * value-identical to the Column form: window minima in document order,
    * first-occurrence distinct; gram-less documents get an empty array.
    */
  def withWinnowingFingerprint(
      df: DataFrame, idCol: String, textCol: String, outCol: String,
      k: Int = 3, w: Int = 4,
      hashFn: Column => Column = g => xxhash64(g)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exploded = df.select(
      col(idCol),
      posexplode(transform(wordNgrams(col(textCol), k), g => hashFn(g))).as(Seq("_p", "_h")))
    val slide = Window.partitionBy(col(idCol)).orderBy(col("_p")).rowsBetween(-(w - 1), 0)
    val mins = exploded
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .withColumn("_min", min(col("_h")).over(slide))
      // full windows end at _p >= w-1; a document shorter than w gets its
      // single all-hashes window from its last row
      .filter(col("_p") >= w - 1 || col("_p") === col("_n") - 1)
      .groupBy(col(idCol))
      .agg(array_distinct(transform(
        array_sort(collect_list(struct(col("_p"), col("_min")))),
        x => x.getField("_min"))).as(outCol))
    df.join(mins, Seq(idCol), "left")
      .withColumn(outCol, coalesce(col(outCol), array().cast("array<bigint>")))
  }

  def winnowingFingerprint(c: Column, k: Int = 3, w: Int = 4): Column =
    winnowingFingerprintWith(c, k, w, g => xxhash64(g))

  /** Word n-grams of a text column as space-joined strings, in document
    * order (duplicates preserved); empty when the text has fewer than n
    * words. The single tokenization+windowing shared by winnowing,
    * decontamination, and the repetition quality rules — fix the
    * split-of-empty-string quirk or the guard HERE, once.
    *
    * PERF: the token split sits inside the window lambda, and Catalyst
    * re-evaluates lambda-invariant subtrees per window — so this form is
    * quadratic in document length. Production paths avoid it: the poly
    * gram family materializes [[tokenHashes]] behind a Generate boundary,
    * winnowing has [[withWinnowingFingerprint]], and the repetition rules
    * pass an already-materialized token column to
    * [[wordNgramsFromTokens]]. The remaining direct users are the
    * md5-oracle replays over chunk-sized text, where the quadratic
    * constant is immaterial.
    */
  def wordNgrams(c: Column, n: Int): Column =
    wordNgramsFromTokens(split(trim(c), "\\s+"), n)

  /** [[wordNgrams]] over an already-tokenized array column — use when the
    * caller materializes the token array once and derives several
    * statistics from it (tokenization is the expensive step).
    */
  def wordNgramsFromTokens(toks: Column, n: Int): Column = {
    val nGrams = greatest(size(toks) - (n - 1), lit(0))
    when(nGrams <= 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), greatest(nGrams, lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** Distinct word n-gram hashes ([[wordNgrams]] → hash → distinct).
    * `hashFn` is pluggable so oracles can replay with [[md5Lower60]]; the
    * default is the faster non-negative xxhash64.
    */
  def ngramHashes(c: Column, n: Int, hashFn: Column => Column = g => xxBaseHash(g)): Column =
    array_distinct(transform(wordNgrams(c, n), g => hashFn(g)))

  /** The n-gram hash FAMILY used by the gram-collision operators
    * ([[contaminatedIds]], [[duplicateSpans]], …). The family is a
    * correctness contract, not a tuning knob: hashes from different
    * families never collide, so mixing a gram set built under one family
    * with a sweep under another silently turns decontamination into a
    * no-op. [[benchmarkGrams]] stamps the family tag into the `_gram`
    * column metadata (parquet round-trips it), and
    * [[contaminatedIdsAgainstGrams]] fails fast when tags disagree.
    *
    * A sealed ADT rather than a marker function value: the former default
    * (`PolyGramHash = identity`, dispatched by reference equality) routed
    * an explicitly-passed `identity` into the string path with UNHASHED
    * grams — silently incomparable with every persisted set.
    */
  sealed trait GramHash { def tag: String }

  /** Polynomial construction ([[tokenHashes]] + [[polyWindowHashes]]):
    * each TOKEN hashed once, windows combined by a Horner fold mod
    * [[MersenneP]] — ~n× less hashing work per document than hashing each
    * n-token gram string. The default family.
    */
  case object PolyGram extends GramHash { val tag = "poly-xx64-m61-v1" }

  /** Hash every n-token gram STRING with `fn`. `tag` alone defines
    * equality/compatibility — callers introducing a new `fn` must mint a
    * new tag.
    */
  final case class StringGram(tag: String)(val fn: Column => Column) extends GramHash

  /** Legacy pre-round-5 default: xxhash64 over gram strings. */
  val XxStringGram: StringGram = StringGram("string-xx64-v1")(g => xxBaseHash(g))

  /** Oracle family: the 60-bit md5 hash SQL engines can replay ([[md5Lower60]]). */
  val Md5Gram: StringGram = StringGram("string-md5lower60-v1")(g => md5Lower60(g))

  private val GramFamilyKey = "gramFamily"

  /** The family tag stamped on a gram set's `_gram` column, if present. */
  def gramFamilyOf(grams: DataFrame): Option[String] =
    grams.schema.fields.find(_.name == "_gram")
      .filter(_.metadata.contains(GramFamilyKey))
      .map(_.metadata.getString(GramFamilyKey))

  private val PolyC = 1000003L

  /** Per-token hashes reduced mod [[MersenneP]] — materialize this as a
    * REAL column before feeding [[polyWindowHashes]]: a lambda-invariant
    * subexpression inside a higher-order function is NOT hoisted by
    * Catalyst, so inlining it would re-hash every token once per window
    * (measured 15× slower than the string-gram path instead of ~n× faster).
    */
  def tokenHashes(c: Column, tokenHash: Column => Column = t => xxBaseHash(t)): Column =
    transform(split(trim(c), "\\s+"), t => tokenHash(t) % MersenneP)

  /** Positional (non-distinct) polynomial window hashes over an
    * already-materialized token-hash array column:
    * `h(w_i..w_{i+n-1}) = Σ th_j·C^(n-1-j) mod p` via Horner. Pure integer
    * arithmetic — replayable verbatim by a SQL oracle.
    */
  def polyWindowHashes(th: Column, n: Int): Column = {
    val nGrams = greatest(size(th) - (n - 1), lit(0))
    when(nGrams <= 0, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(1), greatest(nGrams, lit(1))), i =>
        (0 until n).foldLeft(lit(0L).cast("bigint")) { (acc, j) =>
          (acc * PolyC + element_at(th, i + j)) % MersenneP
        }))
  }

  /** Per-document distinct poly gram hashes as (id, gram) rows — the
    * DataFrame-level poly twin of `explode(ngramHashes(...))`, with the
    * token-hash array materialized once per row (see [[tokenHashes]]).
    */
  private def explodedPolyGrams(
      df: DataFrame, idCols: Seq[Column], textCol: String, n: Int): DataFrame =
    // spreadSmall: the gram explode does ~|doc| hash work per row; fused
    // onto a one-split scan it runs single-task (guide §2.5)
    Par.spreadSmall(df).withColumn("_th", tokenHashes(col(textCol)))
      .select(idCols :+ explode(array_distinct(polyWindowHashes(col("_th"), n))).as("_gram"): _*)

  /** Benchmark decontamination — the n-gram collision rule of the published
    * eval-overlap filters (GPT-3 appendix C / C4 style): a corpus document
    * is contaminated when it shares at least `minCollisions` distinct word
    * n-grams with ANY benchmark document. Both sides reduce to n-gram
    * HASHES before the join, so the shuffle carries longs, not n-gram
    * strings, and the join is equi-key on the hash — no all-pairs anywhere.
    * Hint-free: eval sets are tiny next to a training corpus, so AQE
    * broadcasts the benchmark gram set while it fits and shuffles past the
    * ceiling, same shape as the J1/K3 anti-joins.
    *
    * @return one `idCol` row per contaminated corpus document
    */
  def contaminatedIds(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      benchTextCol: String,
      n: Int = 13,
      minCollisions: Int = 1,
      hashFn: GramHash = PolyGram
  ): DataFrame =
    contaminatedIdsAgainstGrams(
      corpus, idCol, textCol,
      benchmarkGrams(benchmark, benchTextCol, n, hashFn), n, minCollisions, hashFn)

  /** Per-benchmark-ITEM leakage report — the flip side of
    * [[contaminatedIds]]: instead of flagging corpus documents, rank which
    * eval items leaked into the corpus and how badly. One row per benchmark
    * item that has at least one n-gram:
    *
    *  - `n_grams`: distinct n-grams in the item;
    *  - `n_leaked`: of those, how many appear anywhere in the corpus;
    *  - `n_corpus_docs`: distinct corpus documents sharing ≥1 gram;
    *  - `leak_frac`: n_leaked / n_grams — 1.0 means the item is fully
    *    reconstructible from corpus text, the "drop this eval item, not the
    *    training docs" signal published decontamination reports use.
    *
    * All joins are gram-hash equi-joins (the [[contaminatedIds]] shuffle
    * shape); per-item aggregates are count-combinable, and the doc-count
    * join's fan-out is bounded by the corpus df of LEAKED grams — long
    * n-gram df is near-1 in practice, and a skewed gram inflates only its
    * own item's count, never a cross product.
    */
  def contaminationReport(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      n: Int = 13,
      hashFn: GramHash = PolyGram
  ): DataFrame = {
    def grams(df: DataFrame, id: String, text: String): DataFrame = hashFn match {
      case PolyGram => explodedPolyGrams(df, Seq(col(id)), text, n)
      case sg: StringGram =>
        Par.spreadSmall(df)
          .select(col(id), explode(ngramHashes(col(text), n, sg.fn)).as("_gram"))
    }
    val benchGrams = grams(benchmark, benchIdCol, benchTextCol)
    val corpusGrams = grams(corpus, idCol, textCol).select(col(idCol), col("_gram"))
    val totals = benchGrams.groupBy(col(benchIdCol))
      .agg(count(lit(1)).as("n_grams"))
    val leaked = benchGrams
      .join(corpusGrams.select(col("_gram")), Seq("_gram"), "left_semi")
      .groupBy(col(benchIdCol)).agg(count(lit(1)).as("n_leaked"))
    val docHits = benchGrams.join(corpusGrams, Seq("_gram"))
      .select(col(benchIdCol), col(idCol)).distinct()
      .groupBy(col(benchIdCol)).agg(count(lit(1)).as("n_corpus_docs"))
    totals
      .join(leaked, Seq(benchIdCol), "left")
      .join(docHits, Seq(benchIdCol), "left")
      .select(
        col(benchIdCol),
        col("n_grams"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"),
        (coalesce(col("n_leaked"), lit(0L)).cast("double") / col("n_grams"))
          .as("leak_frac"))
  }

  /** The benchmark side of [[contaminatedIds]] precomputed as a distinct
    * gram-hash set (`_gram` column) — compute once, persist, and reuse
    * across many corpora/microbatches. The hash family's tag rides in the
    * `_gram` column metadata (parquet preserves it), so a persisted set
    * replays against [[contaminatedIdsAgainstGrams]] only under the same
    * family — a mismatch fails fast instead of matching nothing.
    */
  def benchmarkGrams(
      benchmark: DataFrame, benchTextCol: String, n: Int,
      hashFn: GramHash = PolyGram
  ): DataFrame = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(GramFamilyKey, hashFn.tag).build()
    (hashFn match {
      case PolyGram => explodedPolyGrams(benchmark, Seq.empty, benchTextCol, n)
      case sg: StringGram =>
        Par.spreadSmall(benchmark)
          .select(explode(ngramHashes(col(benchTextCol), n, sg.fn)).as("_gram"))
    }).select(col("_gram").as("_gram", meta)).distinct()
  }

  /** [[contaminatedIds]] against an already-materialized gram set. Refuses
    * a gram set whose stamped hash family disagrees with `hashFn` — the
    * alternative is a safety filter that silently passes everything.
    */
  def contaminatedIdsAgainstGrams(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      benchGrams: DataFrame,
      n: Int,
      minCollisions: Int = 1,
      hashFn: GramHash = PolyGram
  ): DataFrame = {
    gramFamilyOf(benchGrams).foreach { stored =>
      require(stored == hashFn.tag,
        s"gram set was built under hash family '$stored' but this sweep uses " +
          s"'${hashFn.tag}' — families never collide, so decontamination would " +
          "match nothing. Rebuild the gram set or pass the matching GramHash.")
    }
    // gram hashes are array_distinct, so post-join rows per doc = distinct
    // colliding grams — countable directly for the minCollisions threshold
    val corpusGrams = hashFn match {
      case PolyGram => explodedPolyGrams(corpus, Seq(col(idCol)), textCol, n)
      case sg: StringGram =>
        Par.spreadSmall(corpus)
          .select(col(idCol), explode(ngramHashes(col(textCol), n, sg.fn)).as("_gram"))
    }
    val hits = corpusGrams.join(benchGrams.select(col("_gram")), Seq("_gram"), "left_semi")
    if (minCollisions <= 1) hits.select(col(idCol)).distinct()
    else hits.groupBy(col(idCol)).agg(count(lit(1)).as("_hits"))
      .filter(col("_hits") >= minCollisions).select(col(idCol))
  }

  /** Fuzzy (near-dup) decontamination: exact n-gram collision
    * ([[contaminatedIds]]) misses paraphrased eval items — the documented
    * failure mode of exact decontamination. This flags corpus documents
    * whose MinHash band buckets collide with any benchmark document's
    * bucket: the same near-dup criterion as [[minhashCandidates]], applied
    * corpus-vs-benchmark instead of corpus-vs-self. The join is a
    * (band, bucket) equi-key left-semi with the benchmark side tiny (an
    * eval suite), so it broadcasts; the skew cap applies to the corpus
    * side, where degenerate buckets carry no signal.
    */
  def fuzzyContaminatedIds(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      benchTextCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucketSize: Int = 10000,
      baseHash: Column => Column = t => xxBaseHash(t),
      bucketHash: Column => Column = s => xxhash64(s)
  ): DataFrame = {
    val corpusBands = capBuckets(
      bandRows(corpus, idCol, textCol, numHashes, bands, baseHash, bucketHash),
      Seq("band", "bucket"), maxBucketSize)
    val benchBuckets = bandRows(
      benchmark.select(lit(0L).as("_bid"), col(benchTextCol)),
      "_bid", benchTextCol, numHashes, bands, baseHash, bucketHash)
      .select(col("band"), col("bucket")).distinct()
    corpusBands
      .join(benchBuckets, Seq("band", "bucket"), "left_semi")
      .select(col("id").as(idCol)).distinct()
  }

  /** Corpus minus contaminated documents, schema unchanged (the apply side
    * of [[contaminatedIds]]).
    */
  def decontaminate(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      benchTextCol: String,
      n: Int = 13,
      minCollisions: Int = 1,
      hashFn: GramHash = PolyGram
  ): DataFrame =
    corpus.join(
      contaminatedIds(corpus, idCol, textCol, benchmark, benchTextCol, n, minCollisions, hashFn),
      Seq(idCol), "left_anti")

  /** SimHash: `bits`-wide signature from per-token hashes — bit i of the
    * signature is the sign of sum over tokens of (bit i ? +1 : -1).
    * Near-dups differ in few bits (small Hamming distance). `hashFn`/`bits`
    * are pluggable so the oracle variant can use the 60-bit [[md5Lower60]].
    */
  def simhashWith(tokens: Column, hashFn: Column => Column, bits: Int): Column = {
    val hashes = transform(tokens, t => hashFn(t))
    val bitCols = (0 until bits).map { i =>
      val bitSum = aggregate(
        hashes,
        lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)
      )
      when(bitSum >= 0, lit(1L).cast("long") * lit(1L << i)).otherwise(lit(0L))
    }
    bitCols.reduce(_.bitwiseOR(_))
  }

  def simhash(tokens: Column): Column = simhashWith(tokens, t => xxhash64(t), 64)

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** n-gram / word Jaccard similarity between two pre-computed distinct
    * token-array columns.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** Blocked n-gram-Jaccard near-dup pairs: candidates share a blocking key
    * (here: same `blockCols` values), then exact Jaccard is computed on the
    * candidates only.
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      threshold: Double
  ): DataFrame = {
    val docs = df.select(
      (col(idCol).as("id") +: blockCols.map(col)) :+ wordSet(col(textCol)).as("toks"): _*
    )
    val a = docs.select(Seq(col("id").as("id_a"), col("toks").as("toks_a")) ++ blockCols.map(col): _*)
    val b = docs.select(Seq(col("id").as("id_b"), col("toks").as("toks_b")) ++ blockCols.map(col): _*)
    a.join(b, blockCols)
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", jaccard(col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Connected components over near-dup candidate pairs: label every id with
    * the minimum id reachable in its cluster (min-label propagation). This is
    * the standard step AFTER candidate generation — pairs → clusters → one
    * canonical keeper per cluster — without it a dedup pass can only drop
    * pairwise, not transitively (a~b, b~c must collapse to one keeper even
    * when a~c was never emitted).
    *
    * Each iteration is one equi-join + partial-aggregated groupBy; labels
    * move one hop per iteration, so iterations = cluster diameter. Near-dup
    * clusters are near-cliques (diameter ≲ 3); `maxIter` bounds pathological
    * chains. At extreme scale the alternating large-star/small-star variant
    * halves rounds; the operator contract (id → min reachable id) is the
    * same.
    *
    * @return (id, comp) — every id appearing in a pair, labeled by cluster
    */
  def components(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20,
      finishThreshold: Long = Dedup.DriverFinishEdges
  ): DataFrame = {
    // localCheckpoint (not cache) each round: iterative self-referencing
    // plans grow without it — the lineage cut is what keeps plan size and
    // task binaries constant across iterations
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct().localCheckpoint(true)
    // size-adaptive finish (the AQE philosophy applied to iteration): the
    // edge set is already materialized, so its count is one cheap job —
    // when the graph fits the driver threshold, a union-find resolves ALL
    // rounds at once instead of paying per-round stage overhead. At 100 TB
    // the distributed rounds below shrink the active graph geometrically;
    // this same check is what lets a big run finish its tail early.
    val fast =
      if (edges.count() <= finishThreshold) driverUnionFind(edges, "src", "dst") else None
    fast.getOrElse {
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id")).localCheckpoint(true)
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        val nbrMin = edges
          .join(labels.select(col("id").as("dst"), col("comp").as("nbrComp")), Seq("dst"))
          .groupBy("src").agg(min("nbrComp").as("nbrComp"))
          .withColumnRenamed("src", "id")
        // lazy checkpoint + one count: the count materializes the round's
        // labels (cutting lineage) AND yields the convergence signal in the
        // same job — an eager checkpoint followed by a separate isEmpty scan
        // would run two actions per round
        val next = labels
          .join(nbrMin, Seq("id"), "left")
          .select(
            col("id"),
            least(col("comp"), coalesce(col("nbrComp"), col("comp"))).as("comp"),
            col("comp").as("prev"))
          .localCheckpoint(false)
        converged = next.filter(col("comp") < col("prev")).count() == 0
        labels = next.select("id", "comp")
        iter += 1
      }
      if (!converged)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"components: not converged after $maxIter rounds — labels may split " +
            "one cluster; raise maxIter or use componentsStar (O(log diameter) rounds)")
      labels
    }
  }

  /** Driver union-find over a collected edge list — the finish path for a
    * (contracted) graph whose edge count fits under `finishThreshold`.
    * Union-by-minimum keeps every root the minimum id of its set, so labels
    * are exactly the `comp = min reachable id` contract. Supports integral
    * and string ids (the orderings `least`/`min` would use); other key
    * types return None and take the distributed path.
    */
  private def driverUnionFind(
      edges: DataFrame, srcCol: String, dstCol: String): Option[DataFrame] = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    val spark = edges.sparkSession
    val dt = edges.schema(srcCol).dataType
    def resolve[T](rows: Array[(T, T)])(implicit ord: Ordering[T]): Seq[(T, T)] = {
      val parent = scala.collection.mutable.HashMap.empty[T, T]
      def find(x: T): T = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      rows.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // smaller root wins → root stays the set minimum
          if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
        } else if (!parent.contains(ra)) parent(ra) = ra
      }
      val nodes = rows.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
      nodes.iterator.map(x => (x, find(x))).toSeq
    }
    import spark.implicits._
    dt match {
      case LongType | IntegerType | ShortType | ByteType =>
        val rows = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        Some(resolve(rows).toDF("id", "comp")
          .select(col("id").cast(dt).as("id"), col("comp").cast(dt).as("comp")))
      case StringType =>
        val rows = edges.select(col(srcCol), col(dstCol))
          .collect().map(r => (r.getString(0), r.getString(1)))
        Some(resolve(rows).toDF("id", "comp"))
      case _ => None
    }
  }

  /** Connected components via alternating large-star / small-star — the
    * extreme-scale variant of [[components]] (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Min-label propagation
    * moves labels one hop per round (rounds = cluster diameter); star
    * rounds contract whole star subtrees onto the minimum node, converging
    * in O(log d) rounds — at 100 TB, chain-shaped near-dup clusters
    * (boilerplate with drifting headers) stop dictating round count.
    *
    * Each round is two conditional-star steps, each a groupBy-min + equi-
    * join (no neighbor-list materialization — the min is the only
    * aggregate, so a hot node never builds a collect_set). One action per
    * round: the convergence signal (edge count + order-free XOR of edge
    * hashes — XOR can't overflow under ANSI arithmetic) rides on the same
    * job that materializes the round's lazy checkpoint.
    *
    * Same contract as [[components]]: (id, comp) for every id in a pair,
    * comp = min reachable id. Equivalence is pinned by OperatorsSpec on
    * chains, cliques, forests and random graphs, and by the shared
    * `dd_components` DuckDB oracle in the battery.
    */
  def componentsStar(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20,
      finishThreshold: Long = Dedup.DriverFinishEdges
  ): DataFrame = {
    val nodes = pairs.select(col(idA).as("id"))
      .unionByName(pairs.select(col(idB).as("id"))).distinct().localCheckpoint(true)

    // large-star: every node u links its strictly-larger neighbors to
    // m = min(N(u) ∪ {u}); small-star: on (big, small)-oriented edges,
    // every u links its smaller neighbors (and itself) to m = min(N(u)).
    // Both emit (x, m) with x > m, so edges stay (child, smaller-parent).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val mins = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      dir.join(mins, Seq("u"))
        // the v = m row re-emits the (u, m) spoke; every other row hands its
        // v over to m — together: N(u) ∪ {u} \ {m} all point at m
        .select(when(col("v") === col("m"), col("u")).otherwise(col("v")).as("u"), col("m").as("v"))
        .distinct()
    }

    var edges = pairs
      .select(col(idA).as("u"), col(idB).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct().localCheckpoint(true)
    // same size-adaptive driver finish as [[components]] — singletons
    // (self-pair-only nodes) are restored by the trailing nodes join
    val fastLabels =
      if (edges.count() <= finishThreshold) driverUnionFind(edges, "u", "v") else None
    fastLabels match {
      case Some(lbl) =>
        return nodes.join(lbl, Seq("id"), "left")
          .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
      case None => ()
    }
    var signature = (-1L, -1L)
    var iter = 0
    var converged = edges.isEmpty
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val sig = next
        .agg(count(lit(1)).cast("long"), expr("bit_xor(xxhash64(u, v))"))
        .head()
      val nextSig = (sig.getLong(0), sig.getLong(1))
      converged = nextSig == signature
      signature = nextSig
      edges = next
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"componentsStar: not converged after $maxIter rounds — labels may " +
          "split one cluster; raise maxIter")
    // at convergence edges are stars (child → min-root); label roots with
    // themselves and every node not in a pair-edge with itself
    val labels = edges.select(col("u").as("id"), col("v").as("comp"))
    nodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** The ids to DROP after near-dup clustering: everything that is not its
    * cluster's canonical (minimum) id.
    *
    * @param star cluster via [[componentsStar]] (O(log diameter) rounds)
    *             instead of min-label [[components]] — same labels, chosen
    *             when cluster shapes may be chains rather than near-cliques
    */
  def duplicateIds(
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b", maxIter: Int = 20,
      star: Boolean = false
  ): DataFrame =
    (if (star) componentsStar(pairs, idA, idB, maxIter) else components(pairs, idA, idB, maxIter))
      .filter(col("id") =!= col("comp"))
      .select(col("id"))

  /** [[duplicateIds]] with a quality-aware keep rule: within each near-dup
    * cluster the row with the HIGHEST `prefCol` (ties → smallest id) is the
    * canonical copy, everything else is dropped — what CCNet/RefinedWeb-
    * style pipelines do when near-dups differ in quality (keep the longest
    * / highest-scored variant, not the arbitrary min-id one).
    *
    * The per-cluster argmax is a `row_number <= 1` window, which compiles
    * to WindowGroupLimit: each cluster is truncated map-side before the
    * exchange, so the shuffle carries candidates, not the corpus.
    *
    * @param prefs frame carrying `idCol` and `prefCol` for every id that
    *              can appear in `pairs` (extra rows are fine — only
    *              clustered ids join)
    * @return one `id` row per dropped (non-canonical) document
    */
  def duplicateIdsByPreference(
      pairs: DataFrame,
      prefs: DataFrame,
      idCol: String,
      prefCol: String,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20,
      star: Boolean = false
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comps =
      if (star) componentsStar(pairs, idA, idB, maxIter)
      else components(pairs, idA, idB, maxIter)
    val w = Window.partitionBy(col("comp")).orderBy(col("_pref").desc, col("id").asc)
    comps
      .join(prefs.select(col(idCol).as("id"), col(prefCol).as("_pref")), Seq("id"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") > 1)
      .select(col("id"))
  }

  /** One-call corpus deduplication — the composed pipeline a training-data
    * run actually wants:
    *
    *  1. exact: keep the minimum id per sha2(text) group;
    *  2. near-dup: MinHash-LSH candidates over the exact-deduped set;
    *  3. cluster: connected components over the pairs;
    *  4. keep one canonical (minimum-id) document per cluster.
    *
    * Returns the kept rows of `df`, schema unchanged. Each phase is the
    * already-bucketed operator above, so the whole path stays
    * cartesian-free and skew-capped.
    */
  def dedupCorpus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucketSize: Int = 10000,
      baseHash: Column => Column = t => xxBaseHash(t),
      bucketHash: Column => Column = s => xxhash64(s),
      /** cluster with [[componentsStar]] instead of min-label (see
        * [[duplicateIds]]).
        */
      star: Boolean = false,
      /** when set, keep the highest-`preferCol` (ties → smallest id) row
        * per duplicate group — BOTH exact sha2 groups and near-dup
        * clusters — instead of the min-id one (see
        * [[duplicateIdsByPreference]]).
        */
      preferCol: Option[String] = None
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exactKeepers = preferCol match {
      case Some(p) =>
        val w = Window.partitionBy(col("_h")).orderBy(col(p).desc, col(idCol).asc)
        df.withColumn("_h", sha2(col(textCol), 256))
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1)
          .select(col(idCol))
      case None => exact(df, textCol, idCol).select(col("keep_id").as(idCol))
    }
    // the exact-kept set feeds three consumers (both self-join sides of the
    // candidate generation and the final anti-join); materialize it once so
    // the upstream lineage — which may itself be an expensive scan/transform
    // — is not replayed per consumer
    val exactKept = df.join(exactKeepers, Seq(idCol), "left_semi").localCheckpoint(true)
    val pairs = minhashCandidates(
      exactKept, idCol, textCol, numHashes, bands, maxBucketSize, baseHash, bucketHash)
    val drops = (preferCol match {
      case Some(p) =>
        duplicateIdsByPreference(pairs, exactKept.select(col(idCol), col(p)), idCol, p, star = star)
      case None => duplicateIds(pairs, star = star)
    }).withColumnRenamed("id", idCol)
    exactKept.join(drops, Seq(idCol), "left_anti")
  }

  /** Embedding-cosine near-dup candidates, LSH-bucketed: docs are bucketed by
    * random-hyperplane signs; pairs form within a bucket only, and oversized
    * buckets are dropped (see [[capBuckets]]) so one dense embedding cluster
    * cannot explode the self-join.
    */
  def cosineCandidates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nPlanes: Int,
      threshold: Double,
      maxBucketSize: Int = 10000
  ): DataFrame = {
    import graft.functions.VectorFunctions._
    cosinePairsWithin(
      df.select(
        col(idCol).as("id"),
        col(vecCol).as("vec"),
        lshBucket(col(vecCol), dim, nPlanes).as("bucket")
      ),
      threshold, maxBucketSize)
  }

  /** Shared pair-join tail of [[cosineCandidates]] and
    * [[semanticCandidates]]: self-join `(id, vec, bucket)` rows within a
    * bucket (after the [[capBuckets]] skew guard), score each `id_a < id_b`
    * pair by cosine, keep pairs at or above `threshold`.
    */
  private def cosinePairsWithin(
      rows: DataFrame, threshold: Double, maxBucketSize: Int): DataFrame = {
    import graft.functions.VectorFunctions._
    // one norm per VECTOR, not per pair: a bucket of n vectors forms
    // O(n²) pairs, so recomputing both norms inside the pair cosine triples
    // the dominant per-pair cost for nothing
    val bucketed = capBuckets(rows, Seq("bucket"), maxBucketSize)
      .withColumn("nrm", norm(col("vec")))
    val a = bucketed.select(
      col("bucket"), col("id").as("id_a"), col("vec").as("vec_a"), col("nrm").as("nrm_a"))
    val b = bucketed.select(
      col("bucket"), col("id").as("id_b"), col("vec").as("vec_b"), col("nrm").as("nrm_b"))
    val nn = col("nrm_a") * col("nrm_b")
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        when(nn > 0.0, dot(col("vec_a"), col("vec_b")) / nn).otherwise(lit(0.0)))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .distinct()
  }

  /** Semantic (embedding-space) DECONTAMINATION: flag corpus rows whose
    * cosine similarity to ANY benchmark/eval vector reaches `threshold`.
    * The n-gram families ([[contaminatedIds]], [[fuzzyContaminatedIds]])
    * catch verbatim and near-verbatim eval leakage; this catches the
    * paraphrased leakage they miss — an eval item rewritten enough to share
    * no 8-gram still lands next to its source in embedding space.
    *
    * Scale shape: eval sets are SMALL by construction (thousands to low
    * millions of rows), so the right plan at 100 TB is a broadcast
    * nested-loop scan — the corpus never shuffles AT ALL; each partition
    * streams once against the broadcast eval matrix, and the per-corpus-row
    * max/count aggregate is map-side-combined on the already-present
    * partitioning. Both sides' norms are projected ONCE below the join
    * (never recomputed per pair). The comparison is O(N·M·d) flops but
    * embarrassingly parallel with zero exchange, which beats any
    * bucketed/probed variant until M stops fitting in a broadcast; past
    * that, index the CORPUS with [[Similarity.buildIvf]] and radius-probe
    * each eval row ([[Similarity.nnJoinIvf]] shape) instead.
    *
    * The boundary decision filters on `round(cos, 6)` so a pair landing
    * within float-reassociation noise of `threshold` is judged identically
    * by any replaying engine.
    *
    * @return one row per contaminated corpus id: `(id, n_eval_hits,
    *         max_cos)` with `max_cos` rounded to 6 places
    */
  def semanticContaminatedIds(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      evalSet: DataFrame,
      evalVecCol: String,
      threshold: Double
  ): DataFrame = {
    import graft.functions.VectorFunctions._
    val c = corpus.select(col(idCol).as("_id"), col(vecCol).as("_cv"))
      .withColumn("_cn", norm(col("_cv")))
    val e = evalSet.select(col(evalVecCol).as("_ev"))
      .withColumn("_en", norm(col("_ev")))
    val nn = col("_cn") * col("_en")
    c.crossJoin(broadcast(e))
      .withColumn("_cos",
        round(when(nn > 0.0, dot(col("_cv"), col("_ev")) / nn).otherwise(lit(0.0)), 6))
      .filter(col("_cos") >= threshold)
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_eval_hits"), max(col("_cos")).as("max_cos"))
      .withColumnRenamed("_id", idCol)
  }

  /** Semantic near-dup candidate pairs — SemDeDup (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication",
    * arXiv:2303.09540): cluster document embeddings with deterministic
    * k-means ([[Similarity.kmeans]] — fixed-point update, bit-identical
    * under any partitioning), then form cosine pairs only WITHIN a cluster
    * cell. Where [[cosineCandidates]] buckets by data-independent random
    * hyperplanes, SemDeDup's cells adapt to the corpus — semantically
    * paraphrased near-dups that land on opposite sides of a hyperplane
    * still share a centroid.
    *
    * Scale shape: the k-means build collects only k×dim floats per
    * iteration; assignment is one codegen/mapPartitions pass; the pair join
    * is cell-equi-key (never corpus×corpus) with the same [[capBuckets]]
    * guard as every other candidate generator — a degenerate cell (all-equal
    * embeddings) is dropped, not exploded. At 100 TB the assigned corpus
    * persists `cid`-partitioned (the [[Similarity.writeIvf]] layout), so the
    * per-cell joins read co-located partitions.
    *
    * @return `(id_a, id_b, cos)` pairs with `cos >= threshold`, ids ordered
    *         `id_a < id_b`
    */
  def semanticCandidates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 2,
      threshold: Double = 0.95,
      maxCellSize: Int = 10000
  ): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val cents = Similarity.kmeans(vecs, "vec", "id", k, iters)
    val assigned = Similarity.assignCells(vecs, "vec", cents)
    cosinePairsWithin(
      assigned.select(col("id"), col("vec"), col("cid").as("bucket")),
      threshold, maxCellSize)
  }

  /** One-call semantic dedup: [[semanticCandidates]] → connected components
    * → keep the canonical (minimum-id) document per semantic cluster. The
    * SemDeDup keep rule (the paper keeps the member FURTHEST from the
    * centroid; min-id is our deterministic, oracle-replayable stand-in —
    * [[duplicateIdsByPreference]] gives the quality-aware variant when a
    * preference column exists).
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 2,
      threshold: Double = 0.95,
      maxCellSize: Int = 10000
  ): DataFrame = {
    val pairs = semanticCandidates(df, idCol, vecCol, k, iters, threshold, maxCellSize)
    val drops = duplicateIds(pairs).withColumnRenamed("id", idCol)
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Incremental SemDeDup — the embedding twin of [[incrementalCandidates]],
    * completing the incremental story across BM25 postings, IVF vectors and
    * MinHash signatures: a new batch semantic-dedups against the corpus
    * WITHOUT re-clustering it. The batch is assigned to the persisted IVF
    * index's FROZEN centroids ([[Similarity.appendToIvf]] semantics — bit-
    * identical to what a full re-assignment under those centroids gives),
    * and cosine pairs form only within cells and only INVOLVING the batch:
    * exactly the pairs a from-scratch within-cell sweep over (corpus ∪
    * batch) under the same centroid table would emit, minus corpus-internal
    * ones. The stored side is a parquet scan of only the cells the batch
    * landed in (their `cid=<c>` directories) — no distance to any centroid
    * is recomputed for the corpus. The skew cap applies over the combined
    * (stored ∪ fresh) cell population, and a replayed batch (at-least-once
    * ingest) is anti-joined out of the stored scan so its rows never
    * double-count toward the cap.
    */
  def incrementalSemanticCandidates(
      spark: org.apache.spark.sql.SparkSession,
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      ivfPath: String,
      threshold: Double = 0.95,
      maxCellSize: Int = 10000
  ): DataFrame = {
    import graft.functions.VectorFunctions._
    val stored = Similarity.readIvf(spark, ivfPath)
    val fresh = Similarity
      .assignCells(newVecs.select(col(idCol).as("id"), col(vecCol).as("vec")), "vec",
        stored.centroids)
      .withColumn("_new", lit(true))
      .localCheckpoint(false) // feeds both the union and the replay anti-join
    // pairs need a batch row, so only the cells the batch landed in are read
    val batchCells = fresh.select(col("cid")).distinct().collect().map(_.getInt(0)).toSeq
    val storedRows = stored.cells(batchCells)
      .select(col(idCol).as("id"), col(vecCol).as("vec"), col("cid"))
      .join(fresh.select(col("id")).distinct(), Seq("id"), "left_anti")
      .withColumn("_new", lit(false))
    val capped = capBuckets(
      storedRows.unionByName(fresh).withColumnRenamed("cid", "bucket"),
      Seq("bucket"), maxCellSize)
      .withColumn("nrm", norm(col("vec")))
      .localCheckpoint(false) // shared by both pair-join sides
    val a = capped.filter(col("_new")).select(
      col("bucket"), col("id").as("id_x"), col("vec").as("vec_x"), col("nrm").as("nrm_x"))
    val b = capped.select(
      col("bucket"), col("id").as("id_y"), col("vec").as("vec_y"), col("nrm").as("nrm_y"))
    val nn = col("nrm_x") * col("nrm_y")
    a.join(b, Seq("bucket"))
      .filter(col("id_x") =!= col("id_y"))
      .withColumn("cos",
        when(nn > 0.0, dot(col("vec_x"), col("vec_y")) / nn).otherwise(lit(0.0)))
      .filter(col("cos") >= threshold)
      .select(
        least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"),
        round(col("cos"), 6).as("cos"))
      .distinct()
  }

  /** Exact-substring duplicate spans — the ExactSubstr rule of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"
    * (arXiv:2107.06499), re-expressed as a corpus-wide n-gram occurrence
    * join instead of a monolithic suffix array (which needs the whole
    * corpus addressable from one machine — a non-starter at 100 TB):
    *
    *  1. every overlapping word n-gram occurrence becomes one
    *     `(gramHash, doc, pos)` row — the shuffle carries longs, never
    *     gram text;
    *  2. a partial-aggregating groupBy finds each gram's occurrence count
    *     and its globally-first occurrence (min `(doc, pos)`). NOT a
    *     per-gram window: a hyper-common gram would pile its entire
    *     occurrence list into one window partition, while groupBy combines
    *     map-side and leaves one row per gram for the join-back, which AQE
    *     then broadcasts or skew-splits;
    *  3. every non-first occurrence of a gram seen more than once marks
    *     its token range `[pos, pos+n-1]` as duplicated;
    *  4. overlapping/adjacent marked ranges merge into maximal spans with
    *     the classic interval-merge window — per-DOCUMENT partitions, so
    *     the sort is bounded by document length, not corpus size.
    *
    * Keep-first means re-running after removal leaves each duplicated
    * gram at least its canonical copy, except where a first occurrence is
    * covered by a DIFFERENT gram's duplicate span (the same property the
    * byte-range ExactSubstr has).
    *
    * @return one row per maximal span: `idCol`, `span_start`/`span_end`
    *         (1-based inclusive token positions), `span_tokens`
    */
  def duplicateSpans(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      hashFn: GramHash = PolyGram
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, "n must be positive")
    // the occurrence table feeds BOTH the gram aggregate and the join-back;
    // without materialization the n-gram hashing (the dominant cost) runs
    // twice — the exchanges differ in shape, so ReuseExchange can't dedupe.
    // A lazy localCheckpoint computes it once and serves both consumers.
    // spreadSmall: one gram row per TOKEN of every document — the heaviest
    // fan-out producer in the family; fused onto a one-split scan it runs
    // single-task (guide §2.5)
    val corpusS = Par.spreadSmall(corpus)
    val occ = (hashFn match {
      case PolyGram =>
        corpusS.withColumn("_th", tokenHashes(col(textCol)))
          .select(col(idCol).as("_doc"),
            posexplode(polyWindowHashes(col("_th"), n)).as(Seq("_p0", "_gram")))
      case sg: StringGram =>
        corpusS.select(
          col(idCol).as("_doc"),
          posexplode(transform(wordNgrams(col(textCol), n), g => sg.fn(g))).as(Seq("_p0", "_gram")))
    })
      .select(col("_doc"), (col("_p0") + 1).as("_pos"), col("_gram"))
      .localCheckpoint(false)
    val grams = occ
      .groupBy(col("_gram"))
      .agg(count(lit(1)).as("_cnt"), min(struct(col("_doc"), col("_pos"))).as("_first"))
      .filter(col("_cnt") > 1)
    val dup = occ
      .join(grams, Seq("_gram"))
      .filter(!(col("_doc") === col("_first._doc") && col("_pos") === col("_first._pos")))
      .select(col("_doc"), col("_pos").as("_s"), (col("_pos") + (n - 1)).as("_e"))
    val byDoc = Window.partitionBy(col("_doc")).orderBy(col("_s"))
    dup
      .withColumn("_pmax", max(col("_e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_new", when(col("_pmax").isNull || col("_s") > col("_pmax") + 1, 1).otherwise(0))
      .withColumn("_sid", sum(col("_new")).over(byDoc))
      .groupBy(col("_doc"), col("_sid"))
      .agg(min(col("_s")).as("span_start"), max(col("_e")).as("span_end"))
      .select(
        col("_doc").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Global exact LINE deduplication (the RefinedWeb / CCNet line rule's
    * first-occurrence form): across the WHOLE corpus every distinct line
    * keeps exactly one occurrence — the minimum `(idCol, position)` — and
    * all later occurrences are dropped; each document is then reassembled
    * from its surviving lines in original order. Documents that lose no
    * line pass through byte-identical (the rewrite is guarded, not
    * re-serialized). Lines shorter than `minChars` are exempt from dedup
    * (always kept), mirroring the public pipelines' "don't dedupe
    * whitespace/markup stubs" guard.
    *
    * Scale shape: the dedup DECISION never shuttles text. The winner
    * aggregate exchanges `(sha2(line), partial min (doc,pos))` — 32-byte
    * keys + ids — with map-side partial min; the drop-set join and its
    * per-doc collect are id-only exchanges. Document text crosses the wire
    * exactly once, in the final drop-set equi-join (sort-merge on the id;
    * AQE broadcasts the drop-set while it fits). A 256-bit line hash keeps
    * the collision horizon past any corpus size (a 64-bit hash collides by
    * the birthday bound at ~4B distinct lines — real at 100 TB).
    */
  def dedupLines(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      minChars: Int = 1
  ): DataFrame = dedupLinesCore(corpus, idCol, textCol, minChars, None)

  /** `(_doc, _pos, _h)` rows: one sha2-256 per dedup-eligible line. */
  private def lineHashRows(
      corpus: DataFrame, idCol: String, textCol: String, minChars: Int): DataFrame =
    // spreadSmall: one sha2 per line, fused onto a one-split scan (guide §2.5)
    Par.spreadSmall(corpus)
      .select(col(idCol).as("_doc"), posexplode(split(col(textCol), "\n")).as(Seq("_pos", "_line")))
      .filter(length(col("_line")) >= minChars)
      .select(col("_doc"), col("_pos"), sha2(col("_line"), 256).as("_h"))

  /** [[dedupLines]] with an optional already-seen hash set: a line in
    * `seen` drops EVERY occurrence (its first is elsewhere — in the stored
    * corpus); the first-occurrence rule applies only among fresh lines.
    */
  private def dedupLinesCore(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      minChars: Int,
      seen: Option[DataFrame]
  ): DataFrame = {
    val lines = lineHashRows(corpus, idCol, textCol, minChars)
    val fresh = seen.fold(lines)(s =>
      lines.join(s.select(col("_h")), Seq("_h"), "left_anti"))
    val winners = fresh
      .groupBy(col("_h"))
      .agg(min(struct(col("_doc"), col("_pos"))).as("_first"))
    val dropFresh = fresh
      .join(winners, Seq("_h"))
      .filter(!(col("_doc") === col("_first._doc") && col("_pos") === col("_first._pos")))
      .select(col("_doc"), col("_pos"))
    val dropRows = seen.fold(dropFresh)(s =>
      dropFresh.unionByName(
        lines.join(s.select(col("_h")), Seq("_h"), "left_semi")
          .select(col("_doc"), col("_pos"))))
    val drops = dropRows
      .groupBy(col("_doc"))
      .agg(sort_array(collect_list(col("_pos"))).as("_drop"))
    val toks = split(col(textCol), "\n")
    val keptLines = filter(
      transform(toks, (l, i) => struct(i.as("i"), l.as("l"))),
      x => !array_contains(col("_drop"), x("i")))
    // the overlay rebuild re-splits and re-joins every document's lines —
    // the same per-row weight as the hash pass, so it gets the same spread
    Par.spreadSmall(corpus)
      .join(drops, corpus(idCol) === drops("_doc"), "left")
      .withColumn("n_lines_removed",
        when(col("_drop").isNull, lit(0L)).otherwise(size(col("_drop")).cast("long")))
      .withColumn(textCol,
        when(col("_drop").isNull, col(textCol))
          .otherwise(array_join(transform(keptLines, x => x("l")), "\n")))
      .drop("_doc", "_drop")
  }

  /** Incremental first-occurrence line dedup — the line-rule member of the
    * engine's incremental-index family (exact / MinHash / semantic / BM25 /
    * IVF / PQ / graph): a persisted registry of every line hash already
    * accepted lets each new batch dedup against the WHOLE history without
    * re-reading or re-hashing the stored corpus. A batch line whose hash is
    * registered drops every occurrence (its first lives in history); fresh
    * lines keep their within-batch first occurrence, and their hashes
    * register under this batch's `segmentId`.
    *
    * Replay-safe via the segment discipline: the batch's view of "seen"
    * EXCLUDES its own segment's rows, so re-running a half-landed batch
    * (output written, registration partial) reproduces the identical
    * output, and registration's anti-join re-appends only what is missing.
    * The registry exchanges 32-byte hashes only — corpus text never enters
    * the index.
    */
  def dedupLinesIncremental(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      segmentId: String,
      minChars: Int = 1
  ): DataFrame = {
    require(segmentId.nonEmpty && !segmentId.contains("/"),
      s"segmentId must be a non-empty path-safe token, got '$segmentId'")
    val hashesPath = s"$indexPath/hashes"
    val hp = new org.apache.hadoop.fs.Path(hashesPath)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fail fast on a torn compaction: an index dir WITHOUT hashes/ but WITH
    // a compaction marker means history exists but is mid-swap — treating it
    // as empty would silently stop deduping against the whole corpus history.
    if (!fs.exists(hp)) {
      val bak = new org.apache.hadoop.fs.Path(hashesPath + ".compact-bak")
      val tmp = new org.apache.hadoop.fs.Path(hashesPath + ".compact-tmp")
      require(!fs.exists(bak) && !fs.exists(tmp),
        s"$indexPath has no live hashes/ but a compaction marker " +
          s"(${hashesPath}.compact-bak/.compact-tmp) exists — a compactLineIndex " +
          "swap was interrupted. Restore the marker dir to hashes/ before deduping; " +
          "proceeding would silently ignore all registered history.")
    }
    val stored: Option[DataFrame] =
      if (fs.exists(hp)) Some(spark.read.parquet(hashesPath)) else None
    val seen = stored.map(_.filter(col("segment") =!= segmentId).select(col("_h")))
    val out = dedupLinesCore(batch, idCol, textCol, minChars, seen)
    val batchHashes = lineHashRows(batch, idCol, textCol, minChars)
      .select(col("_h")).distinct()
    val newHashes = stored.fold(batchHashes)(st =>
      batchHashes.join(st.select(col("_h")), Seq("_h"), "left_anti"))
    newHashes.withColumn("segment", lit(segmentId))
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(hashesPath)
    out
  }

  /** Fold the line registry's append-accumulated small files into
    * `nFiles` hash-range-sorted files and heal any replay duplicates
    * (keep the lexicographically-first segment per hash) — the
    * [[compactSignatureIndex]] discipline: staged write, then a CHECKED
    * rename swap. Run between ingest waves; per-file open cost is what
    * dominates scans of fragmented layouts at 100 TB. The range-sorted
    * layout also gives each registry scan row-group min/max pruning on
    * `_h` and is the shard boundary a range-partitioned ingest would
    * co-locate its anti-joins against.
    */
  def compactLineIndex(
      spark: org.apache.spark.sql.SparkSession, indexPath: String, nFiles: Int = 16): Unit = {
    val path = s"$indexPath/hashes"
    val tmp = path + ".compact-tmp"
    val bak = path + ".compact-bak"
    spark.read.parquet(path)
      .groupBy(col("_h")).agg(min(col("segment")).as("segment"))
      .repartitionByRange(nFiles, col("_h"))
      .sortWithinPartitions(col("_h"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
    val hp = new org.apache.hadoop.fs.Path(path)
    val tp = new org.apache.hadoop.fs.Path(tmp)
    val bp = new org.apache.hadoop.fs.Path(bak)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash-safe swap: the live registry is renamed aside, never deleted,
    // until the compacted tree is in place — a crash at ANY point leaves
    // either the live dir or a recoverable .compact-bak/.compact-tmp pair,
    // and [[dedupLinesIncremental]] fails fast on both marker dirs instead
    // of silently treating lost history as empty.
    if (fs.exists(bp)) fs.delete(bp, true) // only a completed prior swap leaves one
    require(fs.rename(hp, bp),
      s"rename $path -> $bak failed; live registry untouched, compaction aborted")
    if (!fs.rename(tp, hp)) {
      require(fs.rename(bp, hp),
        s"rename $tmp -> $path failed AND restoring $bak failed; " +
          s"registry intact at $bak, compacted copy at $tmp — restore manually")
      fs.delete(tp, true)
      throw new IllegalStateException(
        s"rename $tmp -> $path failed; original registry restored, compaction aborted")
    }
    fs.delete(bp, true)
  }

  /** The apply side of [[duplicateSpans]]: rewrite `textCol` with every
    * duplicated span's tokens removed. Documents containing a span come
    * back whitespace-normalized (single-space joined — token identity is
    * what the dedup rule defines); untouched documents pass through
    * byte-identical. Span membership is an array-expression scan, so the
    * rewrite is embarrassingly parallel after one equi-join on the id.
    */
  def removeDuplicateSpans(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      hashFn: GramHash = PolyGram
  ): DataFrame = {
    val spans = duplicateSpans(corpus, idCol, textCol, n, hashFn)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e"))).as("_spans"))
    val toks = split(trim(col(textCol)), "\\s+")
    val kept = filter(
      transform(toks, (t, i) => struct((i + 1).as("i"), t.as("t"))),
      x => !exists(col("_spans"), sp => x("i") >= sp("s") && x("i") <= sp("e")))
    corpus
      .join(spans, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("_spans").isNull, col(textCol))
          .otherwise(concat_ws(" ", transform(kept, x => x("t")))))
      .drop("_spans")
  }
}
