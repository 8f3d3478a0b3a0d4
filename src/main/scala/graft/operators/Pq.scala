package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization — the at-scale ANN compression step beyond SQ8:
  * split a `dim`-vector into `m` subvectors, learn a tiny per-subspace
  * codebook (k entries), and store each vector as `m` small codes
  * (m=8, k=16 ⇒ 8 codes ≈ 4 bytes vs 256 bytes of float32 — a 64×
  * shrink). Queries score codes with an ADC (asymmetric distance
  * computation) table: `score(v) ≈ q·v = Σ_s q_s·codebook_s[code_s(v)]`,
  * m table lookups + adds per candidate instead of `dim` multiplies —
  * the representation FAISS-style IVF-PQ indexes use for billion-vector
  * corpora.
  *
  * Determinism: training reuses the fixed-point discipline of
  * [[Similarity.kmeans]] (seeds = first k by id, integer micro-unit sums,
  * division before averaging) per subspace, so the model is bit-identical
  * under any partitioning; encoding ties break toward the smaller code
  * (array_min's lexicographic struct order).
  *
  * Scale shape: training is `iters` passes of one explode(m)-groupBy over
  * the corpus (shuffle rows = m × corpus, carrying fixed-point longs);
  * encoding is a single codegen'd projection; ADC search is a scan +
  * TakeOrdered over the 64×-smaller code column with the (m × k)-double
  * table inlined as a literal — no join, no shuffle.
  */
object Pq {

  /** Fixed-point micro-units for partition-invariant Lloyd sums. */
  private val Scale = 1000000L

  /** codebooks(s)(c) = centroid `c` of subspace `s`, length `dsub`. */
  final case class PqModel(m: Int, k: Int, dsub: Int, codebooks: Vector[Vector[Array[Float]]]) {
    def dim: Int = m * dsub
  }

  /** Flat codebook layout for the native expression: `((s·k)+c)·dsub+j`. */
  private def flatten(model: PqModel): Array[Float] = {
    val flat = new Array[Float](model.m * model.k * model.dsub)
    for (s <- 0 until model.m; c <- 0 until model.k; j <- 0 until model.dsub)
      flat((s * model.k + c) * model.dsub + j) = model.codebooks(s)(c)(j)
    flat
  }

  /** `array<int>` of length m: per subspace the L2-nearest codebook entry
    * (ties → smallest code). A NATIVE expression
    * ([[graft.expressions.PqEncode]]) — the equivalent `array_min` over
    * m×k distance structs is a ~3k-node tree that overflows codegen and
    * runs interpreted (measured 4× slower end-to-end on the recall gate).
    */
  def encodeExpr(v: Column, model: PqModel): Column =
    org.apache.spark.sql.graft.ColumnBridge.toColumn(
      graft.expressions.PqEncode(
        org.apache.spark.sql.graft.ColumnBridge.toExpression(v),
        model.m, model.k, model.dsub, flatten(model)))

  /** Driver twin of [[encodeExpr]] — same fold order, same tie-break. */
  def encodeLocal(v: Array[Float], model: PqModel): Array[Int] =
    Array.tabulate(model.m) { s =>
      var best = Double.PositiveInfinity
      var bestCode = 0
      var code = 0
      while (code < model.codebooks(s).length) {
        val c = model.codebooks(s)(code)
        var d2 = 0.0
        var j = 0
        while (j < c.length) {
          val d = v(s * model.dsub + j).toDouble - c(j).toDouble
          d2 += d * d
          j += 1
        }
        if (d2 < best) { best = d2; bestCode = code } // strict: ties keep smaller
        code += 1
      }
      bestCode
    }

  /** Train a PQ model: per-subspace Lloyd with L2 assignment, `iters`
    * refinement passes over the corpus. Seeds are the first `k` vectors by
    * `idCol` (the [[Similarity.kmeans]] convention); a starved code keeps
    * its previous centroid.
    */
  def train(
      df: DataFrame, vecCol: String, idCol: String,
      m: Int = 8, k: Int = 16, iters: Int = 2): PqModel = {
    val seedRows = df.orderBy(col(idCol)).limit(k).select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    require(seedRows.length == k, s"need at least $k vectors to seed, got ${seedRows.length}")
    val dim = seedRows.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    var model = PqModel(m, k, dsub,
      Vector.tabulate(m)(s => Vector.tabulate(k)(c =>
        java.util.Arrays.copyOfRange(seedRows(c), s * dsub, (s + 1) * dsub))))
    val q = df.withColumn(
      "_q", transform(col(vecCol), x => round(x.cast("double") * Scale).cast("long")))
    for (_ <- 0 until iters) {
      val sums = q.withColumn("_codes", encodeExpr(col(vecCol), model))
        .select(col("_q"), posexplode(col("_codes")).as(Seq("s", "code")))
        .groupBy(col("s"), col("code"))
        .agg(
          count(lit(1)).as("n"),
          array((0 until dsub).map(j =>
            sum(element_at(col("_q"), col("s") * lit(dsub) + lit(j + 1)))): _*).as("sv"))
        .collect()
        .map { r =>
          val n = r.getLong(2)
          (r.getInt(0), r.getInt(1)) ->
            r.getSeq[Long](3).map(x => (x.toDouble / n / Scale).toFloat).toArray
        }.toMap
      model = model.copy(codebooks = Vector.tabulate(m)(s =>
        Vector.tabulate(k)(c => sums.getOrElse((s, c), model.codebooks(s)(c)))))
    }
    model
  }

  /** Project the corpus to its PQ codes (`pq_code`: array<int>, length m). */
  def encode(df: DataFrame, vecCol: String, model: PqModel): DataFrame =
    df.withColumn("pq_code", encodeExpr(col(vecCol), model))

  /** ADC dot-product table for a query: table(s)(c) = q_s · codebook_s[c],
    * left-to-right double folds.
    */
  def adcTable(query: Array[Float], model: PqModel): Array[Array[Double]] =
    Array.tabulate(model.m) { s =>
      model.codebooks(s).map { c =>
        var dp = 0.0
        var j = 0
        while (j < model.dsub) { dp += query(s * model.dsub + j).toDouble * c(j).toDouble; j += 1 }
        dp
      }.toArray
    }

  /** ADC score column: m table lookups + adds per row (native
    * [[graft.expressions.AdcScore]], table flattened `s·k + c`).
    */
  def adcScoreExpr(codes: Column, query: Array[Float], model: PqModel): Column = {
    val table = adcTable(query, model)
    val flat = new Array[Double](model.m * model.k)
    for (s <- 0 until model.m; c <- 0 until model.k) flat(s * model.k + c) = table(s)(c)
    org.apache.spark.sql.graft.ColumnBridge.toColumn(
      graft.expressions.AdcScore(
        org.apache.spark.sql.graft.ColumnBridge.toExpression(codes),
        model.m, model.k, flat))
  }

  /** Driver twin of [[adcScoreExpr]] — identical accumulation order. */
  def adcScoreLocal(code: Array[Int], query: Array[Float], model: PqModel): Double = {
    val table = adcTable(query, model)
    var acc = 0.0
    var s = 0
    while (s < model.m) { acc += table(s)(code(s)); s += 1 }
    acc
  }

  /** Approximate top-k by ADC score over the code column: scan +
    * TakeOrdered, no join, no shuffle — ties break toward the smaller id.
    * Compose with an exact re-rank over the returned ids (the
    * `e2_rp_rerank` pattern) when exact ordering of the head matters.
    */
  def topKAdc(
      codes: DataFrame, codeCol: String, idCol: String,
      query: Array[Float], k: Int, model: PqModel): DataFrame =
    codes
      .withColumn("adc_score", adcScoreExpr(col(codeCol), query, model))
      .orderBy(col("adc_score").desc, col(idCol))
      .limit(k)

  /** Persist a PQ index: the encoded codes as parquet plus the codebooks
    * (m·k tiny rows) under `_model` — the at-rest layout where the
    * 32×-smaller codes ARE the stored corpus representation and encoding
    * runs once at ingest. Mirrors [[Similarity.writeIvf]].
    */
  def writePq(spark: SparkSession, codes: DataFrame, model: PqModel, path: String): Unit = {
    import spark.implicits._
    codes.write.mode(SaveMode.Overwrite).parquet(path)
    (for (s <- 0 until model.m; c <- 0 until model.k)
      yield (s, c, model.codebooks(s)(c).toSeq)).toDF("s", "c", "centroid")
      .coalesce(1) // m·k codebook rows
      .write.mode(SaveMode.Overwrite).parquet(path + "/_model")
  }

  /** Load a persisted PQ model; only the m·k codebook rows reach the driver. */
  def readPqModel(spark: SparkSession, path: String): PqModel = {
    val rows = spark.read.parquet(path + "/_model")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Float](2).toArray)).toMap
    val m = rows.keys.map(_._1).max + 1
    val k = rows.keys.map(_._2).max + 1
    PqModel(m, k, rows.head._2.length,
      Vector.tabulate(m)(s => Vector.tabulate(k)(c => rows((s, c)))))
  }

  /** Load the persisted code table (never the float corpus). */
  def readPqCodes(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Encode NEW vectors against the FROZEN stored codebooks and append
    * their codes — because encoding is a deterministic per-row projection,
    * an appended index is BIT-IDENTICAL to re-encoding the whole corpus
    * under the same model, so searches against it match a full rebuild
    * exactly (pinned by the `e2_pq_append` oracle entry). The 100 TB
    * ingest shape shared with [[Similarity.appendToIvf]] and the BM25 /
    * MinHash appends; codebooks drift as the corpus grows — retrain
    * periodically via [[train]] + [[writePq]]. Single-writer.
    */
  def appendToPq(
      spark: SparkSession, df: DataFrame, vecCol: String, idCol: String,
      path: String): Unit = {
    val model = readPqModel(spark, path)
    encode(df, vecCol, model).select(col(idCol), col("pq_code"))
      .write.mode(SaveMode.Append).parquet(path)
  }

  /** Attach PQ codes to an IVF index's assigned rows — the at-rest IVF-PQ
    * layout (FAISS's IVFPQ): `cid` keeps partition pruning, `pq_code` is
    * the 32×-smaller scored representation. Encode ONCE at index build;
    * queries then never touch float vectors until the rerank.
    */
  def encodeIvf(
      index: Similarity.IvfIndex, vecCol: String, model: PqModel): Similarity.IvfIndex =
    index.mapRows(encode(_, vecCol, model))

  /** IVF-PQ search: probe the best `nProbes` cells (the [[Similarity.topKIvf]]
    * centroid ranking — identical probe-cell selection, so the candidate
    * cells match the full-precision variant exactly) and ADC-score the PQ
    * codes within them. The composed 10⁹-vector path: cid pruning limits
    * WHICH rows are read, the ~8-byte code makes each row 32× smaller, and
    * scoring is m lookups — compose with an exact rerank for the final
    * head. Requires an index through [[encodeIvf]].
    */
  def topKIvfPq(
      index: Similarity.IvfIndex, idCol: String,
      query: Array[Float], n: Int, nProbes: Int, model: PqModel): DataFrame =
    topKAdc(index.cells(Similarity.probeCells(index, query, nProbes)),
      "pq_code", idCol, query, n, model)

  /** Two-sided (query-set) ADC search — the relational form of the
    * per-query table loop: each query's (m × k) weight table materializes
    * as rows and BROADCASTS (|queries|·m·k tiny rows), codes explode once
    * into (id, s, code), and scoring is the equi-join + per-pair sum.
    * Returns the per-query approximate top-`n` as
    * (`qidCol`, `neighbor_id`, `adc_score`) — feed through an exact rerank
    * of the n candidates for a final head.
    *
    * Shuffle carries (qid, id, partial-sum) pairs — never vectors; the
    * per-query top-n is the native bounded-buffer `top_k` aggregate.
    */
  def nnJoinAdc(
      codes: DataFrame, codeCol: String, idCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      n: Int, model: PqModel): DataFrame = {
    // each query's (m × k) table flattens to one m·k-double array column —
    // the whole query side broadcasts as |queries| rows of fixed width.
    // NATIVE ([[graft.expressions.AdcTable]], bit-identical j-ascending
    // accumulation): the composed `array` of m·k folds was a ~1k-node tree
    // that blew janino's 64 KB method limit and ran interpreted.
    val tbl = org.apache.spark.sql.graft.ColumnBridge.toColumn(
      graft.expressions.AdcTable(
        org.apache.spark.sql.graft.ColumnBridge.toExpression(col(qvecCol)),
        model.m, model.k, model.dsub, flatten(model)))
    val qtab = queries.select(col(qidCol), tbl.as("_tbl"))
    // scoring is map-side only: m lookups into the broadcast row's table,
    // folded in subspace order (same order as adcScoreExpr); the single
    // exchange is the bounded-buffer per-query top_k partials
    val score = (0 until model.m).foldLeft(lit(0.0)) { (acc, s) =>
      acc + element_at(col("_tbl"), lit(s * model.k) + element_at(col(codeCol), s + 1) + 1)
    }
    codes
      .crossJoin(broadcast(qtab))
      .withColumn("adc_score", score)
      .groupBy(col(qidCol))
      .agg(expr(s"top_k(struct(adc_score, $idCol), $n)").as("_top"))
      .select(col(qidCol), explode(col("_top")).as("_t"))
      .select(col(qidCol), col(s"_t.$idCol").as("neighbor_id"), col("_t.adc_score").as("adc_score"))
  }
}
