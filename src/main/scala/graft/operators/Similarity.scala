package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search over an `array<float>` embedding column (E2).
  *
  * The reference documents but never implements `lg search`
  * (`docs/GUIDE.md:190-193`; absent from `cli.py`) — we define the semantics:
  * cosine similarity, top-k, optional metadata predicate.
  *
  * Scale path: brute force is a single scan + TakeOrdered (no shuffle of the
  * corpus); the LSH variant prunes the scan to matching hyperplane buckets,
  * trading recall for a partition-prunable predicate — the same structure an
  * IVF index gives you when the bucket id is a partition column.
  */
object Similarity {

  /** Brute-force cosine top-k: the query vector is inlined as a literal
    * (broadcast by value into codegen), so the plan is scan → project →
    * TakeOrderedAndProject. No shuffle, no crossJoin.
    */
  def topK(df: DataFrame, vecCol: String, idCol: String, query: Array[Float], k: Int,
           /** extra columns carried through the top-k heap — lets a serving
             * path return payload (content, metadata) from the SAME scan
             * instead of joining back to the corpus afterwards.
             */
           carry: Seq[String] = Nil): DataFrame =
    df.withColumn("sim", cosineToLit(col(vecCol), query))
      .orderBy(col("sim").desc, col(idCol))
      .select(col(idCol) +: carry.map(col) :+ round(col("sim"), 6).as("sim"): _*)
      .limit(k)

  /** Brute-force top-k over int8-quantized codes: the corpus is quantized
    * in-plan (at 100 TB the codes would be the stored representation — 4×
    * smaller scan), the query is quantized driver-side with the bit-exact
    * twin, and scoring is an exact integer dot product per row; per-vector
    * scales cancel out of cosine, so ranking only touches floating point in
    * the final divide. Plan shape is identical to [[topK]]: scan → project
    * → TakeOrderedAndProject, no shuffle.
    *
    * Output carries the exact integer evidence (`dot_q`, `nsq_q`) alongside
    * the rounded similarity — an oracle can match the integers exactly.
    */
  def topKQuantized(df: DataFrame, vecCol: String, idCol: String, query: Array[Float], k: Int): DataFrame =
    topKQuantizedCodes(
      df.select(col(idCol), quantizeInt8(col(vecCol)).getField("q").as("q")),
      "q", idCol, query, k)

  /** [[topKQuantized]] over a corpus whose int8 codes are already
    * materialized — the production layout (codes are the at-rest
    * representation; quantization runs once at ingest, not per query).
    */
  def topKQuantizedCodes(codes: DataFrame, codesCol: String, idCol: String, query: Array[Float], k: Int): DataFrame = {
    val qCodes = quantizeInt8Local(query)
    var qNormSq = 0L
    qCodes.foreach(q => qNormSq += q * q)
    val qNorm = math.sqrt(qNormSq.toDouble)
    val qLit  = array(qCodes.map(lit): _*)
    val sim =
      if (qNorm == 0.0) lit(0.0)
      else {
        val nn = sqrt(col("nsq_q").cast("double")) * lit(qNorm)
        when(nn > 0.0, col("dot_q").cast("double") / nn).otherwise(lit(0.0))
      }
    codes.select(col(idCol), col(codesCol).as("q"))
      .withColumn("dot_q", dotLong(col("q"), qLit))
      .withColumn("nsq_q", dotLong(col("q"), col("q")))
      .withColumn("sim_q", sim)
      .orderBy(col("sim_q").desc, col(idCol))
      .select(col(idCol), col("dot_q"), col("nsq_q"), round(col("sim_q"), 6).as("sim_q"))
      .limit(k)
  }

  /** IVF (inverted-file) index: vectors are assigned to their
    * nearest-centroid cell once at build time; a query scores only the
    * `nProbes` cells nearest to it. With `cid` as a partition column the
    * probe filter becomes partition pruning — the 100 TB layout.
    *
    * Centroids: deterministic seed rows refined by one Lloyd step (avg of
    * assigned vectors) — no RNG, rebuild-stable. Assignment is a codegen'd
    * argmax over per-centroid cosine columns (fine for k ≲ 64 centroids; a
    * mapPartitions assigner takes over beyond that).
    *
    * `cells(cids)` is the rows of those cells only: a `cid` filter over an
    * in-memory assignment, and for an index [[readIvf]] read back, a read
    * of only those cells' `cid=<c>` directories, planned in the driver.
    */
  final class IvfIndex private (
      val centroids: Seq[(Int, Array[Float])],
      rows: () => DataFrame,
      cellRows: Seq[Int] => DataFrame) {

    /** Every assigned row (for a persisted index, a scan of every cell). */
    lazy val assigned: DataFrame = rows()

    def cells(cids: Seq[Int]): DataFrame = cellRows(cids).filter(col("cid").isin(cids: _*))

    /** This index with `f` applied to its rows (PQ codes, a metadata filter). */
    def mapRows(f: DataFrame => DataFrame): IvfIndex =
      new IvfIndex(centroids, () => f(assigned), c => f(cellRows(c)))
  }

  object IvfIndex {
    def apply(centroids: Seq[(Int, Array[Float])], assigned: DataFrame): IvfIndex =
      new IvfIndex(centroids, () => assigned, _ => assigned)

    private[operators] def persisted(
        centroids: Seq[(Int, Array[Float])], cellRows: Seq[Int] => DataFrame): IvfIndex =
      new IvfIndex(centroids, () => cellRows(centroids.map(_._1)), cellRows)
  }

  /** Assign every row to its max-cosine centroid cell. Two equivalent paths:
    *
    *  - k ≤ 64: a codegen'd `array_max` over per-centroid cosine structs —
    *    stays inside whole-stage codegen, zero serialization;
    *  - k > 64: `mapPartitions` over the broadcast centroid array — the
    *    expression tree grows linearly in k and falls out of codegen's
    *    method-size limits around 64 cells, at which point a tight
    *    per-partition loop is faster and keeps the plan constant-size.
    *
    * Both compute cosine with identical left-to-right double accumulation
    * and the same tie-break (equal sim → larger cid, `array_max`'s
    * lexicographic struct order), so assignments are bit-identical — pinned
    * by OperatorsSpec at k=128.
    */
  private[graft] def assignCells(
      d: DataFrame, vecCol: String, cents: Seq[(Int, Array[Float])]): DataFrame =
    if (cents.size <= 64) {
      val simStructs = array(cents.map { case (cid, v) =>
        struct(cosineToLit(col(vecCol), v).as("sim"), lit(cid).as("cid"))
      }: _*)
      d.withColumn("cid", array_max(simStructs).getField("cid"))
    } else {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.catalyst.encoders.RowEncoder
      import org.apache.spark.sql.types.IntegerType
      val outSchema = d.schema.add("cid", IntegerType)
      val enc = RowEncoder.encoderFor(outSchema)
      val vecIdx = d.schema.fieldIndex(vecCol)
      val centArr = cents.sortBy(_._1).toArray
      val centNorms = centArr.map { case (_, c) => normLocal(c) }
      d.mapPartitions { rows =>
        rows.map { r =>
          val v = r.getSeq[Float](vecIdx).toArray
          // norm(a) exactly as the column expression: sqrt of the
          // left-to-right double fold of squares
          var na = 0.0
          var i = 0
          while (i < v.length) { na += v(i).toDouble * v(i).toDouble; i += 1 }
          na = math.sqrt(na)
          var best = Double.NegativeInfinity
          var bestCid = Int.MinValue
          var ci = 0
          while (ci < centArr.length) {
            val (cid, c) = centArr(ci)
            val nn = na * centNorms(ci)
            val sim = if (nn > 0.0) {
              var dp = 0.0
              var j = 0
              while (j < v.length) { dp += v(j).toDouble * c(j).toDouble; j += 1 }
              dp / nn
            } else 0.0
            // Spark's SQL double ordering (array_max), not IEEE >/==: NaN
            // ranks above every double (IEEE > is always false on NaN, which
            // would leak the bestCid sentinel for a corrupt vector) and
            // -0.0 ties with 0.0 (plain Double.compare would not)
            val cmp = if (sim == best) 0 else java.lang.Double.compare(sim, best)
            if (cmp > 0 || (cmp == 0 && cid > bestCid)) { best = sim; bestCid = cid }
            ci += 1
          }
          Row.fromSeq(r.toSeq :+ bestCid)
        }
      }(enc)
    }

  def buildIvf(df: DataFrame, vecCol: String, idCol: String, k: Int): IvfIndex = {
    def assignTo(cents: Seq[(Int, Array[Float])])(d: DataFrame): DataFrame =
      assignCells(d, vecCol, cents)
    // deterministic seeds: first k rows by id
    val seeds = df.orderBy(col(idCol)).limit(k).select(col(vecCol)).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Float](0).toArray) }.toSeq
    val dim = seeds.head._2.length
    // one Lloyd refinement: cell means of the seed assignment
    val seedAssigned = assignTo(seeds)(df)
    val refined = seedAssigned.groupBy(col("cid"))
      .agg(array((0 until dim).map(i => avg(element_at(col(vecCol), i + 1).cast("double"))): _*).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).map(_.toFloat).toArray)).toSeq
    IvfIndex(refined, assignTo(refined)(df))
  }

  /** Fixed-point scale for [[kmeans]] accumulation: 2²⁰ keeps float32
    * inputs lossy by < 1e-6 while per-cell integer sums stay far inside
    * Long range (|x| ≲ 10 ⇒ ~2²³ per element ⇒ ~10⁹ members per cell
    * before overflow is even conceivable).
    */
  val KmeansScale: Long = 1L << 20

  /** Deterministic spherical k-means (Lloyd): assignment is max-cosine
    * ([[assignCells]] — codegen'd argmax, bit-stable tie-break), the update
    * step accumulates vectors in fixed-point int64 (quantized ONCE at
    * [[KmeansScale]]). Integer addition is associative, so every
    * iteration's centroids are bit-identical under any partitioning,
    * shuffle order, or executor count — a float `avg` cannot promise that,
    * and at 100 TB a nondeterministic build means two index rebuilds
    * disagree about cell membership. Cells that lose all members keep
    * their previous centroid.
    */
  def kmeans(
      df: DataFrame, vecCol: String, idCol: String, k: Int,
      iters: Int = 2): Seq[(Int, Array[Float])] = {
    val seeds = df.orderBy(col(idCol)).limit(k).select(col(vecCol)).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Float](0).toArray) }.toSeq
    require(seeds.nonEmpty, "kmeans: input has no vectors (empty DataFrame)")
    val dim = seeds.head._2.length
    val q = df.withColumn(
      "_q", transform(col(vecCol), x => round(x.cast("double") * KmeansScale).cast("long")))
    var cents = seeds
    for (_ <- 0 until iters) {
      val sums = assignCells(q, vecCol, cents)
        .groupBy(col("cid"))
        .agg(
          count(lit(1)).as("n"),
          array((0 until dim).map(i => sum(element_at(col("_q"), i + 1))): _*).as("s"))
        .collect()
        .map { r =>
          val n = r.getLong(1)
          r.getInt(0) -> r.getSeq[Long](2)
            .map(x => (x.toDouble / n / KmeansScale).toFloat).toArray
        }.toMap
      cents = cents.map { case (cid, old) => (cid, sums.getOrElse(cid, old)) }
    }
    cents
  }

  /** [[buildIvf]] with a real k-means training loop instead of the single
    * refinement — same index shape, deterministic build (see [[kmeans]]).
    */
  def buildIvfKmeans(
      df: DataFrame, vecCol: String, idCol: String, k: Int, iters: Int = 2): IvfIndex = {
    val cents = kmeans(df, vecCol, idCol, k, iters)
    IvfIndex(cents, assignCells(df, vecCol, cents))
  }

  /** Persist an IVF index with `cid` as a partition column — the 100 TB
    * layout the design comment on [[buildIvf]] promises: a cell is the
    * directory `cid=<c>`, so a probe of `nProbes` cells lists and reads
    * only those directories ([[readIvf]]) and a search reads `nProbes/k` of
    * the corpus from disk. Centroids (k rows) live under `_centroids`,
    * which partition discovery ignores.
    */
  def writeIvf(spark: SparkSession, index: IvfIndex, path: String): Unit = {
    import spark.implicits._
    index.assigned
      .repartition(col("cid"))
      .write.partitionBy("cid").mode(SaveMode.Overwrite).parquet(path)
    index.centroids.map { case (cid, v) => (cid, v.toSeq) }.toDF("cid", "centroid")
      .coalesce(1) // k centroid rows
      .write.mode(SaveMode.Overwrite).parquet(path + "/_centroids")
  }

  /** Load a persisted IVF index: one job collects the k centroid rows, and
    * nothing else is read until a search names its cells — `cells` then
    * lists only the probed `cid=<c>` directories (a cell no vector landed
    * in has none and is skipped) and takes their schema from one footer,
    * so planning a probe runs no job.
    */
  def readIvf(spark: SparkSession, path: String): IvfIndex =
    IvfIndex.persisted(readCentroids(spark, path),
      cids => ParquetDirs.readPartitions(spark, path, "cid", cids))

  private def readCentroids(spark: SparkSession, path: String): Seq[(Int, Array[Float])] =
    ParquetDirs.read(spark, path + "/_centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1)

  /** Register NEW vectors in a persisted IVF index without touching the
    * stored corpus: assignment runs against the FROZEN stored centroids —
    * bit-identical to what a full re-assignment under those centroids would
    * produce, so an appended index answers queries exactly like a rebuild
    * with the same centroid table — and the batch appends into the same
    * `cid` partition layout (probes keep pruning). The 100 TB ingest shape,
    * same as the MinHash signature and BM25 postings appends. Frozen
    * centroids drift as the corpus grows; run [[retrainIvf]] periodically.
    * Single-writer, like the store's upsert.
    */
  def appendToIvf(
      spark: SparkSession, df: DataFrame, vecCol: String, idCol: String,
      path: String, segmentId: String = null): Unit = {
    // replay protection (same contract as TextSearch.appendToIndex): a
    // stable segmentId makes the call idempotent — a fully-registered
    // segment (marker present) is skipped outright, covering the
    // append-succeeded-but-cursor-commit-didn't replay. A crash MID-append
    // leaves unmarked duplicate rows; the next [[retrainIvf]] heals them
    // (dropDuplicates by id). Without an id: no replay protection.
    val marker = Option(segmentId).map { id =>
      require(!id.contains("/"), s"segmentId must not contain '/': $id")
      new org.apache.hadoop.fs.Path(s"$path/_segments/$id/_SUCCESS")
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (marker.exists(fs.exists)) return
    assignCells(df, vecCol, readCentroids(spark, path))
      .repartition(col("cid"))
      .write.partitionBy("cid").mode(SaveMode.Append).parquet(path)
    marker.foreach { m => // marker LAST: the segment counts fully or not at all
      fs.mkdirs(m.getParent)
      fs.create(m, true).close()
    }
  }

  /** Re-train a persisted IVF index in place: k-means over the STORED
    * vectors (never re-reading the source corpus), fresh assignment,
    * staged to a sibling dir and swapped by rename — the periodic
    * counterweight to [[appendToIvf]]'s centroid drift, with the same
    * deterministic fixed-point training as [[buildIvfKmeans]].
    */
  def retrainIvf(
      spark: SparkSession, path: String, vecCol: String, idCol: String,
      k: Int, iters: Int = 2): Unit = {
    // dropDuplicates heals rows a crashed-and-replayed unmarked append
    // doubled (the IVF twin of the postings-compaction distinct)
    val vecs = spark.read.parquet(path).drop("cid").dropDuplicates(idCol)
    val index = buildIvfKmeans(vecs, vecCol, idCol, k, iters)
    val tmp = path + ".retrain-tmp"
    // the tmp write materializes the new assignment while the old tree is
    // still intact; only then is the old layout dropped and swapped
    writeIvf(spark, index, tmp)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    // rename reports failure by RETURNING false; the old layout is already
    // deleted, so an unchecked false is silent index loss
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(path)),
      s"rename $tmp -> $path failed after the old index was deleted; " +
        s"the retrained index is intact at $tmp — move it into place manually")
  }

  /** Keep a persisted IVF index current with a SNAPSHOT TABLE — the vector
    * twin of [[TextSearch.refreshIndexFromSnapshot]]: each round reads
    * exactly the commits appended since the index's cursor (a manifest
    * query) and registers them as ONE marker-gated segment named by the
    * version range ([[appendToIvf]]'s idempotent-replay contract, so a
    * crash between the index write and the cursor commit counts once);
    * non-append lineage (delete/merge/overwrite) REBUILDS from the full
    * table at the round's version with a fresh k-means train — an
    * append-only cell layout cannot express a retire. Cursor commits after
    * the index lands. Returns `rebuild` | `append` | `noop`. Frozen
    * centroids drift as appends accumulate; [[retrainIvf]] is the periodic
    * counterweight, exactly as for hand-driven appends.
    */
  def refreshIvfFromSnapshot(
      spark: SparkSession, table: String, indexPath: String,
      vecCol: String, idCol: String, cursorPath: String,
      k: Int, iters: Int = 2): String = {
    val ch = Snapshots.readChangesSince(spark, table, cursorPath)
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val centsExist = fs.exists(new org.apache.hadoop.fs.Path(indexPath + "/_centroids"))
    def rebuild(): String = {
      writeIvf(spark, buildIvfKmeans(
        Snapshots.read(spark, table, Some(ch.toV)), vecCol, idCol, k, iters), indexPath)
      "rebuild"
    }
    val mode = ch.mode match {
      case "noop" => "noop"
      case "incremental" if centsExist =>
        // range-proof replay (round-13 advisory): the index's own segment
        // high-water bounds the delta, so a replay after the table advanced
        // (crashed round indexed (a,b], replay sees (a,c]) appends only
        // (b,c] instead of duplicating (a,b] under a new segment id
        val hw = ivfSegmentHighWater(spark, fs, indexPath)
        val from = math.max(ch.fromV, hw)
        if (from >= ch.toV) "noop" // fully indexed; only the cursor lags
        else {
          val delta =
            if (from == ch.fromV) Some(ch.df)
            else Snapshots.diffAppended(spark, table, from, ch.toV)
          delta match {
            case Some(d) =>
              appendToIvf(spark, d, vecCol, idCol, indexPath,
                segmentId = f"v$from%08d-v${ch.toV}%08d")
              "append"
            case None => rebuild()
          }
        }
      case _ => rebuild()
    }
    if (ch.mode != "noop") Snapshots.commitCursor(cursorPath, ch.toV)
    mode
  }

  /** Max `toV` over fully-registered (marker present) `v{from}-v{to}`
    * segment dirs — what [[refreshIvfFromSnapshot]] has already folded in.
    */
  private def ivfSegmentHighWater(
      spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      path: String): Long = {
    val dir = new org.apache.hadoop.fs.Path(path + "/_segments")
    if (!fs.exists(dir)) return -1L
    fs.listStatus(dir).filter(_.isDirectory).flatMap { st =>
      TextSearch.parseSegmentRange(st.getPath.getName)
        .filter(_ => fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
    }.foldLeft(-1L)(math.max)
  }

  /** The `nProbes` cells whose centroids are nearest `query` by cosine,
    * ranked in the driver over the k-row centroid table (ties keep the
    * table's order) — the probe set of every single-query IVF search.
    */
  def probeCells(index: IvfIndex, query: Array[Float], nProbes: Int): Seq[Int] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      if (na > 0 && nb > 0) d / math.sqrt(na * nb) else 0.0
    }
    index.centroids.sortBy { case (_, c) => -cos(query, c) }.take(nProbes).map(_._1)
  }

  /** Search an IVF index: score the query against the (driver-side, tiny)
    * centroid table, keep the `nProbes` best cells, brute-force only those.
    */
  def topKIvf(index: IvfIndex, vecCol: String, idCol: String,
              query: Array[Float], k: Int, nProbes: Int): DataFrame =
    topK(index.cells(probeCells(index, query, nProbes)), vecCol, idCol, query, k)

  /** IVF-SQ8: probe the index like [[topKIvf]] but score int8 codes — the
    * composed 100 TB search path: `cid` partition pruning limits WHICH rows
    * are read, the int8 representation makes each read row 4× smaller and
    * its scoring exact integer arithmetic. Cell ranking (a driver-side
    * scan of k centroid rows) is identical to [[topKIvf]], so the probe
    * set — and therefore the candidate set — matches the full-precision
    * variant exactly; only within-cell scoring is quantized.
    */
  def topKIvfSq8(index: IvfIndex, vecCol: String, idCol: String,
                 query: Array[Float], k: Int, nProbes: Int): DataFrame =
    topKQuantized(index.cells(probeCells(index, query, nProbes)), vecCol, idCol, query, k)

  /** LSH-bucketed approximate top-k: only rows whose hyperplane bucket is
    * within Hamming distance `probes` of the query bucket are scored (multi-
    * probe LSH: each extra bit flip trades scan width for recall). With the
    * bucket as a partition/cluster column the probe set becomes partition
    * pruning.
    */
  /** All XOR masks within Hamming distance `probes` of zero — the shared
    * multi-probe enumeration of [[topKLsh]] (single query, masks applied to
    * the query bucket) and [[nnJoin]] (masks exploded per query row).
    */
  private[operators] def probeMasks(nPlanes: Int, probes: Int): Seq[Int] =
    (0 to probes.min(nPlanes)).flatMap { r =>
      (0 until nPlanes).combinations(r).map(_.foldLeft(0)((m, b) => m | (1 << b)))
    }.distinct

  def topKLsh(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      query: Array[Float],
      k: Int,
      dim: Int,
      nPlanes: Int = 8,
      probes: Int = 1
  ): DataFrame = {
    val bucketCol = lshBucket(col(vecCol), dim, nPlanes)
    // the query vector is a driver-side literal, so its bucket is plain Scala
    // arithmetic — launching a Spark job for one number would put a scheduler
    // round-trip on the serving path
    val qBucket = lshBucketLocal(query, nPlanes)
    val probeBuckets: Seq[Int] = probeMasks(nPlanes, probes).map(_ ^ qBucket)
    df.withColumn("bucket", bucketCol)
      .filter(col("bucket").isin(probeBuckets: _*))
      .withColumn("sim", cosineToLit(col(vecCol), query))
      .orderBy(col("sim").desc, col(idCol))
      .select(col(idCol), round(col("sim"), 6).as("sim"))
      .limit(k)
  }

  /** Approximate k-NN JOIN — the two-sided member of the E2 family: for
    * EVERY query row, the top-k cosine neighbors among corpus rows whose
    * hyperplane bucket is within Hamming distance `probes` of the query's
    * (use case: match a candidate pool against a whole query set —
    * retrieval eval, cross-corpus linking, nearest-benchmark analysis).
    *
    * Scale shape: each query explodes to its `Σ C(nPlanes, r≤probes)` probe
    * buckets; both sides then shuffle ONCE on the bucket key and the join
    * is equi-key — never query×corpus. A corpus row sits in exactly one
    * bucket and probe masks are distinct, so (query, corpus) candidates are
    * unique without dedup. Oversized corpus buckets (degenerate embedding
    * clusters) are dropped by the same cap as [[Dedup.cosineCandidates]].
    * Per-query top-k runs through the native `top_k` aggregate — k rows per
    * query per partition reach the exchange, not every candidate (ties:
    * larger sim, then larger neighbor id).
    */
  /** Parallelism guard for fan-out pipelines over few-split inputs (guide
    * §2.5: one unsplittable input split → repartition right after the read).
    * A query side whose whole estimated size fits in ONE scan split plans as
    * a single task, and everything Spark fuses onto that scan — the probe
    * explode, a broadcast-hash join against the corpus buckets, pair scoring,
    * the partial top-k — runs single-threaded regardless of cluster width
    * (measured: the sf0.1 graph build's 2.4M-pair scoring stage ran as ONE
    * 3.5s CPU-bound task because the 2k-vector query side is a 150 KB file).
    * Spreading such inputs round-robin across the default parallelism before
    * the fan-out costs an exchange of LESS than one split (the same bound
    * that fired), and at scale the guard never fires — a many-split input
    * already carries its parallelism, so no corpus-sized exchange can ever
    * be added.
    */
  private[operators] def fitsOneSplit(df: DataFrame): Boolean = Par.fitsOneSplit(df)

  /** Vector probe pipelines fan out harder per input byte than the text
    * gram producers (probe explode × bucket candidates × VecDot), so the
    * spread width targets 1/8 of the default per-task input bytes — at
    * sf0.1 this keeps the 2.4M-pair scoring stage at full width while the
    * light text spreads narrow to their work estimate (guide §2.5).
    */
  private[operators] def spreadSmall(df: DataFrame): DataFrame =
    Par.spreadSmall(df, math.max(1L, Par.spreadTargetBytes / 8))

  def nnJoin(
      corpus: DataFrame,
      corpusIdCol: String,
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      nPlanes: Int = 8,
      probes: Int = 1,
      maxBucketSize: Int = 10000
  ): DataFrame = {
    val masks = probeMasks(nPlanes, probes)
    // norms fold once per corpus/query ROW in projections below the join —
    // scoring a pair re-folds nothing (same fix as cosineCandidates)
    val cCapped = Dedup.capBuckets(
      corpus.select(col(corpusIdCol).as("_nn_cid"), col(vecCol).as("_nn_cvec"),
        norm(col(vecCol)).as("_nn_cn"))
        .withColumn("_nn_bucket", lshBucket(col("_nn_cvec"), dim, nPlanes)),
      Seq("_nn_bucket"), maxBucketSize)
    // a one-split corpus gets an explicit broadcast PIN, not just the
    // planner's estimate-driven choice: AQE's runtime re-optimization is
    // free to flip the build side, and when it streams the corpus instead,
    // the probe fan-out + scoring land on the corpus's AQE-coalesced bucket
    // exchange — one task again, the exact pathology spreadSmall removes
    // (observed as a run-to-run race: the same build scored 32-way on one
    // run and single-task on the next). Above one split the planner keeps
    // the choice — no forced broadcast of a corpus that might not fit.
    val c = if (fitsOneSplit(corpus)) broadcast(cCapped) else cCapped
    // query norm computed BEFORE the probe-bucket explode: a generator's
    // input projection is outside CSE scope, so folding it post-explode
    // would re-run per probe. spreadSmall BEFORE the explode: the round-robin
    // exchange moves n query rows, not n × probedBuckets probe rows.
    val q = spreadSmall(queries.select(col(queryIdCol).as("_nn_qid"),
      col(vecCol).as("_nn_qvec"), norm(col(vecCol)).as("_nn_qn")))
      .withColumn("_nn_qb", lshBucket(col("_nn_qvec"), dim, nPlanes))
      .withColumn("_nn_bucket",
        explode(array(masks.map(m => col("_nn_qb").bitwiseXOR(lit(m))): _*)))
    val cands = q.join(c, Seq("_nn_bucket"))
      .withColumn("_nn_sim",
        cosineWithNorms(col("_nn_qvec"), col("_nn_cvec"), col("_nn_qn"), col("_nn_cn")))
    perQueryTopK(cands, queryIdCol, k)
  }

  /** The shared output tail of the two-sided joins: native map-side top-k
    * per query over `(_nn_qid, _nn_cid, _nn_sim)` candidates, exploded to
    * (queryId, neighbor_id, sim) rows with ties toward the larger neighbor.
    */
  private def perQueryTopK(cands: DataFrame, queryIdCol: String, k: Int): DataFrame =
    cands
      .groupBy(col("_nn_qid"))
      .agg(expr(s"top_k(struct(_nn_sim, _nn_cid), $k)").as("_nn_top"))
      .select(col("_nn_qid"), explode(col("_nn_top")).as("_nn_t"))
      .select(
        col("_nn_qid").as(queryIdCol),
        col("_nn_t._nn_cid").as("neighbor_id"),
        round(col("_nn_t._nn_sim"), 6).as("sim"))

  /** Two-sided IVF k-NN join — [[nnJoin]]'s index-backed sibling: corpus
    * vectors are pre-assigned to centroid cells (the [[writeIvf]] layout),
    * every query row is scored against the centroid table (k rows by
    * construction — the one place a broadcast hint is justified) to pick
    * its `nProbes` cells, then a cell-equi-join + native per-query top-k.
    * Against a persisted index the cell join reads only probed `cid`
    * partitions; per-query work is `nProbes/k` of the corpus. Ties: probe
    * ranking and neighbor ranking both break toward the larger id.
    */
  def nnJoinIvf(
      index: IvfIndex,
      corpusIdCol: String,
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      k: Int,
      nProbes: Int
  ): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    // centroid norms computed driver-side (k rows); query norm once per row
    val centsDf = index.centroids
      .map { case (cid, v) => (cid, v.toSeq, normLocal(v)) }
      .toDF("cid", "_nn_cent", "_nn_centn")
    val qv = queries.select(col(queryIdCol).as("_nn_qid"), col(vecCol).as("_nn_qvec"),
      norm(col(vecCol)).as("_nn_qn"))
    // probe selection via the map-side top_k aggregate: the exchange carries
    // nProbes (cid, sim) rows per query per partition — NOT a window shuffle
    // of numQueries × k rows each dragging the full query vector
    val probed = qv.crossJoin(broadcast(centsDf))
      .withColumn("_nn_csim",
        cosineWithNorms(col("_nn_qvec"), col("_nn_cent"), col("_nn_qn"), col("_nn_centn")))
      .groupBy(col("_nn_qid"))
      .agg(expr(s"top_k(struct(_nn_csim, cid), $nProbes)").as("_nn_p"))
      .select(col("_nn_qid"), explode(col("_nn_p")).as("_nn_pc"))
      .select(col("_nn_qid"), col("_nn_pc.cid").as("cid"))
    val cands = probed
      .join(qv, Seq("_nn_qid"))
      .join(index.assigned.select(
        col(corpusIdCol).as("_nn_cid"), col(vecCol).as("_nn_cvec"),
        norm(col(vecCol)).as("_nn_cn"), col("cid")), Seq("cid"))
      .withColumn("_nn_sim",
        cosineWithNorms(col("_nn_qvec"), col("_nn_cvec"), col("_nn_qn"), col("_nn_cn")))
    perQueryTopK(cands, queryIdCol, k)
  }

  /** Element-wise mean of `vecCol` per group — the chunk→document (or
    * cluster→centroid-of-members) embedding aggregation every RAG/dedup
    * pipeline needs once chunks carry vectors. Relational: positions
    * explode to (group, pos, x) rows whose partial averages combine
    * MAP-SIDE, so the exchange carries |groups|·dim rows, never
    * |rows|·dim; the pooled array reassembles by position sort. Empty and
    * null vectors drop out of their positions' counts (the conventional
    * pooling semantics); groups with only null/empty vectors are absent.
    */
  def meanPool(
      df: DataFrame, groupCols: Seq[String], vecCol: String,
      outCol: String = "pooled"): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    df.select(groupCols.map(col) :+ posexplode(col(vecCol)).as(Seq("_pos", "_x")): _*)
      .groupBy((groupCols :+ "_pos").map(col): _*)
      .agg(avg(col("_x")).as("_m"))
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col("_pos"), col("_m")))).as("_s"))
      .select(groupCols.map(col) :+
        transform(col("_s"), s => s.getField("_m").cast("float")).as(outCol): _*)
  }

  /** Mean recall@k of an approximate k-NN result against the exact one —
    * the ANN tuning metric (index parameters trade scan width for recall;
    * this is the number they buy). Both inputs are [[nnJoin]]-shaped
    * `(queryIdCol, neighbor_id, …)` tables; per-query overlap is averaged
    * over the EXACT result's queries, so an approximate miss of a whole
    * query (all its probe buckets empty) counts as 0, not as absent.
    * AnnRecallSpec gates the sf0.1 sweep with this.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, queryIdCol: String): Double = {
    val hits = approx.join(exact, Seq(queryIdCol, "neighbor_id"), "left_semi")
      .groupBy(col(queryIdCol)).agg(count(lit(1)).as("_hits"))
    val truth = exact.groupBy(col(queryIdCol)).agg(count(lit(1)).as("_k"))
    val row = truth.join(hits, Seq(queryIdCol), "left")
      .agg(avg(coalesce(col("_hits"), lit(0L)).cast("double") / col("_k")))
      .head()
    if (row.isNullAt(0)) 1.0 else row.getDouble(0) // no queries: vacuous recall
  }

  /** Driver-side twin of [[graft.functions.VectorFunctions.lshBucket]] for a
    * literal query vector: identical plane signs, identical left-to-right
    * double accumulation, so the bucket id matches the column expression
    * bit-for-bit.
    */
  private[operators] def lshBucketLocal(vec: Array[Float], nPlanes: Int, seed: Int = 42): Int =
    (0 until nPlanes).map { p =>
      val signs = planeSignString(vec.length, seed + p)
      var s = 0.0
      var i = 0
      while (i < vec.length) {
        s += vec(i).toDouble * (if (signs(i) == '+') 1.0 else -1.0)
        i += 1
      }
      (if (s >= 0.0) 1 else 0) << p
    }.sum
}
