package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.VectorFunctions._
import graft.operators.{BinaryQuant, Dedup, GraphAnn, Pq, Similarity}

/** Embedding-column battery: cosine top-k similarity search (E2) and the
  * vector-side dedup/ANN extensions over `embeddings.parquet`.
  */
object VectorQueries {

  /** The fixed probe: the stored vector of vec_id = 0 (driver-side single-row
    * lookup — the query vector, not the corpus).
    */
  private def queryVec(s: org.apache.spark.sql.SparkSession, d: String): Array[Float] =
    embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray

  /** Fresh scratch dir under /tmp/graft/<sf>/ (same convention as the
    * pipeline battery's stores).
    */
  private def scratchDir(d: String, name: String): String = QueryScratch.fresh(d, name)

  /** The graph-ANN gate family's SHARED index: the four `e2_graph_ann_*`
    * entries used to each build their own graph over the SAME corpus with
    * near-identical configs — ~4× the battery's single most expensive
    * build, all duplicated work. One (degree=12, nPlanes=8, probes=2,
    * hubs=64) build per sf dir now serves every gate entry in the family
    * (the filtered entries' oracles are EXACT — the brute-force answer
    * over the allowed set — so the shared degree changes nothing; the
    * approximate gate's floor only gains margin from degree 8→12). Keyed
    * by sf dir; one JVM run (Verify / Bench) sees one testdata generation,
    * so the cache can never serve stale vectors. The cached edges are a
    * localCheckpointed id-pair table (≤ 2 × degree × corpus rows — tiny).
    */
  private val gateGraphCache =
    new java.util.concurrent.ConcurrentHashMap[String, GraphAnn.AnnGraph]()
  private def gateGraph(s: org.apache.spark.sql.SparkSession, d: String): GraphAnn.AnnGraph =
    gateGraphCache.computeIfAbsent(d, _ =>
      GraphAnn.buildGraph(
        embeddings(s, d).filter(col("vec_id") % 20 =!= 0), "vec_id", "embedding",
        dim = 64, degree = 12, nPlanes = 8, probes = 2, hubs = 64))

  val all: Map[String, Q] = Map(

    // E2: brute-force cosine top-k — scan → project → TakeOrdered, no shuffle.
    "e2_cosine_topk" -> Q(
      (s, d) => Similarity.topK(
        embeddings(s, d).filter(col("vec_id") =!= 0),
        "embedding", "vec_id", queryVec(s, d), 10
      ),
      Some("""WITH q AS (SELECT generate_subscripts(embedding,1) AS i, CAST(unnest(embedding) AS DOUBLE) AS x
             |           FROM embeddings WHERE vec_id = 0),
             |v AS (SELECT vec_id, generate_subscripts(embedding,1) AS i, CAST(unnest(embedding) AS DOUBLE) AS x
             |      FROM embeddings WHERE vec_id <> 0),
             |sims AS (SELECT v.vec_id, sum(v.x*q.x) AS dot, sqrt(sum(v.x*v.x)) AS na
             |         FROM v JOIN q ON v.i = q.i GROUP BY v.vec_id),
             |nb AS (SELECT sqrt(sum(x*x)) AS nb FROM q)
             |SELECT vec_id, round(dot/(na*(SELECT nb FROM nb)), 6) AS sim FROM sims
             |ORDER BY dot/(na*(SELECT nb FROM nb)) DESC, vec_id
             |LIMIT 10""".stripMargin),
      Seq("E2")
    ),

    // E2 with a metadata predicate — the reference's documented search
    // semantics (`lg search --filter`): top-k within label=1 only.
    "e2_filtered_topk" -> Q(
      (s, d) => Similarity.topK(
        embeddings(s, d).filter(col("vec_id") =!= 0 && col("label") === 1),
        "embedding", "vec_id", queryVec(s, d), 5
      ),
      Some("""WITH q AS (SELECT generate_subscripts(embedding,1) AS i, CAST(unnest(embedding) AS DOUBLE) AS x
             |           FROM embeddings WHERE vec_id = 0),
             |v AS (SELECT vec_id, generate_subscripts(embedding,1) AS i, CAST(unnest(embedding) AS DOUBLE) AS x
             |      FROM embeddings WHERE vec_id <> 0 AND label = 1),
             |sims AS (SELECT v.vec_id, sum(v.x*q.x) AS dot, sqrt(sum(v.x*v.x)) AS na
             |         FROM v JOIN q ON v.i = q.i GROUP BY v.vec_id),
             |nb AS (SELECT sqrt(sum(x*x)) AS nb FROM q)
             |SELECT vec_id, round(dot/(na*(SELECT nb FROM nb)), 6) AS sim FROM sims
             |ORDER BY dot/(na*(SELECT nb FROM nb)) DESC, vec_id
             |LIMIT 5""".stripMargin),
      Seq("E2", "F6")
    ),

    // Int8-quantized cosine top-k: per-vector symmetric quantization
    // (round(x·127/max|x|)), exact integer dot products, scales cancel out
    // of cosine. Oracle replays the quantization in DuckDB and matches the
    // integer evidence columns (dot_q, nsq_q) exactly — the float round(…,6)
    // is only on the derived similarity.
    "e2_quantized_topk" -> Q(
      (s, d) => Similarity.topKQuantized(
        embeddings(s, d).filter(col("vec_id") =!= 0),
        "embedding", "vec_id", queryVec(s, d), 10
      ),
      Some(quantizedTopKOracleSql(k = 10)),
      Seq("E2")
    ),

    // Vector norms: aggregate/zip_with arithmetic parity check.
    "vec_norm_stats" -> Q(
      (s, d) =>
        embeddings(s, d)
          .withColumn("nrm", round(norm(col("embedding")), 4))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"), round(sum(col("nrm")), 2).as("sum_norm")),
      Some("""WITH n AS (SELECT label, vec_id, round(sqrt(sum(x*x)), 4) AS nrm FROM
             |  (SELECT label, vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
             |  GROUP BY label, vec_id)
             |SELECT label, count(*) AS n, round(sum(nrm), 2) AS sum_norm FROM n GROUP BY label""".stripMargin),
      Seq("E2")
    ),

    // Mean-pooled embeddings per label (the chunk→document pooling op):
    // per-position partial averages combine map-side, pooled vector
    // reassembled by position sort. Checked via per-label scalars of the
    // pooled array — first/last components, norm, and the all-dims sum —
    // rounded at 6dp (partial-avg reassociation noise is ~1e-13 here).
    "vec_meanpool" -> Q(
      (s, d) => {
        val pooled = Similarity.meanPool(
          embeddings(s, d).filter(col("vec_id") =!= 0), Seq("label"), "embedding")
        val members = embeddings(s, d).filter(col("vec_id") =!= 0)
          .groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
        pooled.join(members, "label")
          .select(
            col("label"), col("n_vecs"),
            round(element_at(col("pooled"), 1).cast("double"), 6).as("p_first"),
            round(element_at(col("pooled"), 64).cast("double"), 6).as("p_last"),
            round(graft.functions.VectorFunctions.norm(col("pooled")), 6).as("p_norm"),
            round(aggregate(col("pooled"), lit(0.0),
              (acc, x) => acc + x.cast("double")), 6).as("p_sum"))
      },
      Some("""WITH unn AS (
             |  SELECT label, vec_id, generate_subscripts(embedding, 1) AS i,
             |         CAST(unnest(embedding) AS DOUBLE) AS x
             |  FROM embeddings WHERE vec_id <> 0),
             |dims AS (
             |  SELECT label, i, CAST(CAST(avg(x) AS FLOAT) AS DOUBLE) AS m
             |  FROM unn GROUP BY label, i),
             |members AS (
             |  SELECT label, CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs
             |  FROM unn GROUP BY label)
             |SELECT d.label, m.n_vecs,
             |       round(max(CASE WHEN i = 1 THEN m END), 6) AS p_first,
             |       round(max(CASE WHEN i = 64 THEN m END), 6) AS p_last,
             |       round(sqrt(sum(m * m)), 6) AS p_norm,
             |       round(sum(m), 6) AS p_sum
             |FROM dims d JOIN members m USING (label)
             |GROUP BY d.label, m.n_vecs""".stripMargin),
      Seq("E2", "A1")
    ),

    // Label centroid distance: per label, how close each member is to the
    // label's mean vector — an IVF-style partition statistic.
    "vec_centroid_sim" -> Q(
      (s, d) => {
        val dim = 64
        val byLabel = embeddings(s, d)
          .select(col("label"), col("vec_id"), col("embedding"))
        val centroids = byLabel
          .groupBy(col("label"))
          .agg(
            array((0 until dim).map(i => avg(element_at(col("embedding"), i + 1).cast("double"))): _*)
              .as("centroid")
          )
        byLabel.join(broadcast(centroids), Seq("label"))
          .withColumn("sim", cosine(col("embedding"), col("centroid")))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"), round(sum(col("sim")), 4).as("sum_sim"))
      },
      Some("""WITH unnested AS (
             |  SELECT label, vec_id, generate_subscripts(embedding, 1) AS i,
             |         CAST(unnest(embedding) AS DOUBLE) AS x
             |  FROM embeddings),
             |centroids AS (
             |  SELECT label, i, avg(x) AS c FROM unnested GROUP BY label, i),
             |dots AS (
             |  SELECT u.label, u.vec_id,
             |         sum(u.x * c.c) AS dot,
             |         sqrt(sum(u.x * u.x)) AS na,
             |         sqrt(sum(c.c * c.c)) AS nb
             |  FROM unnested u JOIN centroids c ON u.label = c.label AND u.i = c.i
             |  GROUP BY u.label, u.vec_id)
             |SELECT label, count(*) AS n,
             |       round(sum(CASE WHEN na*nb > 0 THEN dot/(na*nb) ELSE 0 END), 4) AS sum_sim
             |FROM dots GROUP BY label""".stripMargin),
      Seq("E2")
    ),

    // ANN via an IVF index: nearest-centroid cells, probe the best 2 cells.
    // Oracle-matched: the whole build (first-k-by-id seeds, argmax cell
    // assignment, one Lloyd refinement) is deterministic relational algebra
    // DuckDB replays — struct max gives the same (sim, cid) argmax
    // tie-break as Spark's array_max.
    "e2_ann_ivf_topk" -> Q(
      (s, d) => {
        val index = Similarity.buildIvf(
          embeddings(s, d).filter(col("vec_id") =!= 0), "embedding", "vec_id", k = 16)
        Similarity.topKIvf(index, "embedding", "vec_id", queryVec(s, d), k = 10, nProbes = 2)
      },
      Some(ivfOracleSql(kCentroids = 16, nProbes = 2, k = 10)),
      Seq("E2")
    ),

    // Metadata-filtered ANN: the IVF probe with a candidate predicate
    // composed onto the index scan — probe selection (WHICH cells) is
    // untouched, the label filter just narrows the rows scored within
    // them. On the persisted layout this is partition pruning (cid) AND a
    // pushed data filter (label) on the same parquet scan — the filtered-
    // search shape every vector store exposes, with no special operator.
    "e2_ann_ivf_filtered" -> Q(
      (s, d) => {
        val index = Similarity.buildIvf(
          embeddings(s, d).filter(col("vec_id") =!= 0), "embedding", "vec_id", k = 16)
        val filtered = index.mapRows(_.filter(col("label") === 1))
        Similarity.topKIvf(filtered, "embedding", "vec_id", queryVec(s, d), k = 10, nProbes = 2)
      },
      Some(ivfOracleSql(kCentroids = 16, nProbes = 2, k = 10, candPred = "label = 1")),
      Seq("E2", "F6")
    ),

    // Incremental IVF maintenance — the vector twin of ts_bm25_incremental
    // and dd_incremental: build + persist on two thirds of the corpus,
    // APPEND the remaining third (assignment against the FROZEN stored
    // centroids, straight into the cid partition layout), then search the
    // reloaded index. The oracle replays the build with seeds/Lloyd
    // restricted to the training slice but assignment over every vector —
    // exactly the appended state, because appends and rebuilds assign
    // identically under the same centroids.
    "e2_ann_ivf_append" -> Q(
      (s, d) => {
        val all = embeddings(s, d).filter(col("vec_id") =!= 0)
        val path = scratchDir(d, "ivf_index")
        val subsetIdx = Similarity.buildIvf(
          all.filter(col("vec_id") % 3 =!= 0), "embedding", "vec_id", k = 16)
        Similarity.writeIvf(s, subsetIdx, path)
        Similarity.appendToIvf(
          s, all.filter(col("vec_id") % 3 === 0), "embedding", "vec_id", path)
        val index = Similarity.readIvf(s, path)
        Similarity.topKIvf(index, "embedding", "vec_id", queryVec(s, d), k = 10, nProbes = 2)
      },
      Some(ivfOracleSql(kCentroids = 16, nProbes = 2, k = 10,
        trainPred = "vec_id % 3 <> 0")),
      Seq("E2", "F6")
    ),

    // Incremental SemDeDup — the embedding twin of dd_incremental: the
    // corpus' IVF index is built and persisted once (train ≈ ⅔), the new
    // batch (⅓) assigns against the FROZEN stored centroids and pairs form
    // only within cells and only involving the batch. The oracle replays
    // the one-Lloyd build with the train-slice predicate (the exact state
    // build-then-append leaves on disk), the full assignment, and the
    // batch-involving within-cell cosines.
    "dd_semantic_incremental" -> Q(
      (s, d) => {
        val all = embeddings(s, d).filter(col("vec_id") =!= 0)
        val path = scratchDir(d, "ivf_sem_index")
        Similarity.writeIvf(s, Similarity.buildIvf(
          all.filter(col("vec_id") % 3 =!= 1), "embedding", "vec_id", k = 16), path)
        Dedup.incrementalSemanticCandidates(
          s, all.filter(col("vec_id") % 3 === 1), "vec_id", "embedding", path,
          threshold = 0.42)
      },
      Some(s"""${ivfAssignCtes(kCentroids = 16, trainPred = "vec_id % 3 <> 1")},
              |p0 AS (
              |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
              |  FROM assign2 a JOIN assign2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
              |  WHERE a.vec_id % 3 = 1 OR b.vec_id % 3 = 1),
              |dots AS (
              |  SELECT p.id_a, p.id_b, sum(ua.x * ub.x) AS dot,
              |         sqrt(sum(ua.x * ua.x)) AS na, sqrt(sum(ub.x * ub.x)) AS nb
              |  FROM p0 p
              |  JOIN unn ua ON ua.vec_id = p.id_a
              |  JOIN unn ub ON ub.vec_id = p.id_b AND ub.i = ua.i
              |  GROUP BY p.id_a, p.id_b)
              |SELECT id_a, id_b,
              |       round(CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0 END, 6) AS cos
              |FROM dots
              |WHERE (CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0 END) >= 0.42""".stripMargin),
      Seq("E2", "A6")
    ),

    // IVF trained by real k-means (2 Lloyd iterations) with fixed-point
    // integer accumulation: per-cell sums are exact int64 adds, so the
    // build is bit-identical under any partitioning — which is exactly what
    // lets DuckDB replay BOTH iterations and land on the same index.
    "e2_ann_ivf_kmeans" -> Q(
      (s, d) => {
        val index = Similarity.buildIvfKmeans(
          embeddings(s, d).filter(col("vec_id") =!= 0), "embedding", "vec_id",
          k = 16, iters = 2)
        Similarity.topKIvf(index, "embedding", "vec_id", queryVec(s, d), k = 10, nProbes = 2)
      },
      Some(ivfKmeansOracleSql(kCentroids = 16, nProbes = 2, k = 10)),
      Seq("E2")
    ),

    // Snapshot-cursor-driven IVF maintenance — the vector twin of
    // ts_bm25_snapshot: rebuild trains k-means on the table's train slice,
    // the appended commits assign against the FROZEN stored centroids as
    // marker-gated segments. Crash replay is RANGE-PROOF via the segment
    // high-water: an exact-range replay short-circuits to noop, and the
    // round-13 advisory case — cursor rolled back AND the table advanced —
    // appends exactly the new tail commit (a duplicate re-append of the
    // crashed range would double rows in their cells and break the
    // probe-search hash vs the oracle's single-copy arithmetic). Modes pin
    // the rebuild/append/noop/append path.
    "e2_ann_ivf_snapshot" -> Q(
      (s, d) => {
        val all = embeddings(s, d).filter(col("vec_id") =!= 0)
        val tbl = scratchDir(d, "ivf_snap_tbl")
        val idx = scratchDir(d, "ivf_snap_idx")
        val cur = scratchDir(d, "ivf_snap_cur") + "/c"
        graft.operators.Snapshots.create(s, tbl)
        graft.operators.Snapshots.append(s, tbl, all.filter(col("vec_id") % 3 =!= 0))
        def refresh() = Similarity.refreshIvfFromSnapshot(
          s, tbl, idx, "embedding", "vec_id", cur, k = 16, iters = 2)
        val m1 = refresh()
        graft.operators.Snapshots.append(s, tbl,
          all.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0))
        val m2 = refresh()
        graft.operators.Snapshots.commitCursor(cur, 1L)
        val m3 = refresh() // exact-range replay: high-water says noop
        graft.operators.Snapshots.commitCursor(cur, 1L)
        graft.operators.Snapshots.append(s, tbl,
          all.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 =!= 0))
        val m4 = refresh() // advanced replay: append exactly (2,3]
        val index = Similarity.readIvf(s, idx)
        Similarity.topKIvf(index, "embedding", "vec_id", queryVec(s, d), k = 10, nProbes = 2)
          .withColumn("modes", lit(s"$m1,$m2,$m3,$m4"))
      },
      Some(s"""SELECT x.*, 'rebuild,append,noop,append' AS modes FROM (
              |${ivfKmeansOracleSql(kCentroids = 16, nProbes = 2, k = 10,
                trainPred = "vec_id % 3 <> 0")}) x""".stripMargin),
      Seq("E2", "S1", "K1")
    ),

    // Corpus clustering histogram: cell sizes of the k-means IVF build —
    // the "how balanced is my index" diagnostic. Pure integer outputs; the
    // oracle replays both Lloyd iterations and counts the same cells.
    "vec_kmeans_sizes" -> Q(
      (s, d) => {
        val index = Similarity.buildIvfKmeans(
          embeddings(s, d).filter(col("vec_id") =!= 0), "embedding", "vec_id",
          k = 16, iters = 2)
        index.assigned.groupBy(col("cid")).agg(count(lit(1)).as("n_vecs"))
      },
      Some(kmeansSizesOracleSql(kCentroids = 16)),
      Seq("E2", "A2")
    ),

    // SemDeDup (Abbas et al., arXiv:2303.09540): deterministic k-means
    // cells over the embedding corpus, cosine pairs WITHIN a cell only —
    // the data-adaptive sibling of dd_cosine_lsh (whose buckets are random
    // hyperplanes). The oracle replays the full 2-iteration fixed-point
    // k-means build (CTEs shared with e2_ann_ivf_kmeans), the final
    // assignment, and every within-cell pair cosine. Threshold 0.42 is
    // calibrated to the near-uniform synthetic embeddings (margin to the
    // nearest pair > 1e-5 at every SF, so double-fold reassociation noise
    // cannot flip membership).
    "dd_semantic_pairs" -> Q(
      (s, d) => Dedup.semanticCandidates(
        embeddings(s, d).filter(col("vec_id") =!= 0), "vec_id", "embedding",
        k = 16, iters = 2, threshold = 0.42),
      Some(semanticPairsOracleSql(kCentroids = 16, threshold = "0.42")),
      Seq("E2", "A6")
    ),

    // One-call semantic dedup: pairs → connected components → keep the
    // canonical (min-id) member per semantic cluster. Output is kept-count
    // plus the id-sum evidence (the dd_corpus_dedup convention); the oracle
    // extends the pair replay with the recursive-CTE closure.
    "dd_semantic" -> Q(
      (s, d) => Dedup.semanticDedup(
        embeddings(s, d).filter(col("vec_id") =!= 0), "vec_id", "embedding",
        k = 16, iters = 2, threshold = 0.42)
        .agg(count(lit(1)).as("n_kept"), sum(col("vec_id")).as("sum_kept_ids")),
      Some(semanticDedupOracleSql(kCentroids = 16, threshold = "0.42")),
      Seq("E2", "A6")
    ),

    // Semantic (embedding-space) decontamination: corpus rows within cosine
    // 0.35 of ANY eval vector are flagged — the paraphrase leakage the
    // n-gram contamination families can't see. Eval = every 50th vector;
    // the corpus is salted with exact copies of the eval set (id+1000000),
    // which must flag at max_cos = 1.0 alongside the natural near-hits.
    // Plan: broadcast nested-loop over the small eval side — the corpus
    // never shuffles; the oracle replays every pair in double precision
    // with the shared round-6 boundary rule.
    "dd_semantic_contamination" -> Q(
      (s, d) => {
        val emb = embeddings(s, d)
        val eval = emb.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id"), col("embedding"))
        val corpus = emb.filter(col("vec_id") % 50 =!= 0)
          .select(col("vec_id"), col("embedding"))
          .unionByName(eval.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
        Dedup.semanticContaminatedIds(corpus, "vec_id", "embedding", eval, "embedding", 0.35)
      },
      Some("""WITH ev AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
             |cp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0
             |       UNION ALL SELECT vec_id + 1000000, embedding FROM ev),
             |ee AS (SELECT vec_id AS eid, generate_subscripts(embedding,1) AS i,
             |              CAST(unnest(embedding) AS DOUBLE) AS x FROM ev),
             |cc AS (SELECT vec_id AS cid, generate_subscripts(embedding,1) AS i,
             |              CAST(unnest(embedding) AS DOUBLE) AS x FROM cp),
             |sims AS (SELECT cid, eid, sum(cc.x*ee.x) AS dot,
             |                sqrt(sum(cc.x*cc.x)) AS na, sqrt(sum(ee.x*ee.x)) AS nb
             |         FROM cc JOIN ee ON cc.i = ee.i GROUP BY cid, eid),
             |hits AS (SELECT cid, round(CASE WHEN na*nb > 0 THEN dot/(na*nb) ELSE 0 END, 6) AS s
             |         FROM sims)
             |SELECT cid AS vec_id, count(*) AS n_eval_hits, max(s) AS max_cos
             |FROM hits WHERE s >= 0.35 GROUP BY cid""".stripMargin),
      Seq("E2", "A6")
    ),

    // Johnson–Lindenstrauss signed random projection: 64-dim embeddings
    // compressed to 16 dims with the deterministic ±1 plane generator the
    // LSH buckets already share with their oracles. Per-row codegen
    // arithmetic — no shuffle, no UDF; at 100 TB the projected corpus is
    // the 4×-smaller candidate-scan representation (16× composed with
    // int8). Output is the exploded (vec_id, pos, component) table; the
    // oracle replays the sign matrix as literals. outDim=16 keeps
    // 1/sqrt(outDim) an exact power of two, so `* inv` (Spark) and
    // `/ sqrt(16)` (SQL) are bit-equal before the float32 narrowing.
    "vec_random_project" -> Q(
      (s, d) => embeddings(s, d).filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          posexplode(randomProject(col("embedding"), 64, 16)).as(Seq("pos", "x")))
        .select(col("vec_id"), col("pos"), round(col("x").cast("double"), 6).as("x")),
      Some(s"""WITH planes(p, s) AS (VALUES ${planesValues(16)}),
              |unn AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
              |               CAST(unnest(embedding) AS DOUBLE) AS x
              |        FROM embeddings WHERE vec_id <> 0),
              |proj AS (
              |  SELECT u.vec_id, pl.p,
              |         CAST(CAST(sum(u.x * CASE WHEN substr(pl.s, u.i, 1) = '+' THEN 1.0 ELSE -1.0 END)
              |                   / sqrt(16.0) AS FLOAT) AS DOUBLE) AS x
              |  FROM unn u CROSS JOIN planes pl GROUP BY u.vec_id, pl.p)
              |SELECT vec_id, CAST(p AS INT) AS pos, round(x, 6) AS x FROM proj""".stripMargin),
      Seq("E2")
    ),

    // Two-stage retrieval through the projection: stage 1 scans the
    // 16-dim projected corpus for the top-50 candidates (4× less data per
    // row — the 100 TB candidate pass), stage 2 re-ranks ONLY those 50
    // with exact 64-dim cosine. The oracle replays projection, candidate
    // selection, and the re-rank.
    "e2_rp_rerank" -> Q(
      (s, d) => {
        val emb = embeddings(s, d).filter(col("vec_id") =!= 0)
        val q = queryVec(s, d)
        val qp = randomProjectLocal(q, 16)
        val projected = emb.withColumn("proj", randomProject(col("embedding"), 64, 16))
        val cand = Similarity.topK(projected, "proj", "vec_id", qp, 50)
        Similarity.topK(cand.select(col("vec_id")).join(emb, Seq("vec_id")),
          "embedding", "vec_id", q, 10)
      },
      Some(s"""WITH planes(p, s) AS (VALUES ${planesValues(16)}),
              |unn AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
              |               CAST(unnest(embedding) AS DOUBLE) AS x
              |        FROM embeddings),
              |proj AS (
              |  SELECT u.vec_id, pl.p,
              |         CAST(CAST(sum(u.x * CASE WHEN substr(pl.s, u.i, 1) = '+' THEN 1.0 ELSE -1.0 END)
              |                   / sqrt(16.0) AS FLOAT) AS DOUBLE) AS x
              |  FROM unn u CROSS JOIN planes pl GROUP BY u.vec_id, pl.p),
              |qp AS (SELECT p, x FROM proj WHERE vec_id = 0),
              |qpn AS (SELECT sqrt(sum(x * x)) AS n FROM qp),
              |psims AS (
              |  SELECT pr.vec_id, sum(pr.x * qp.x) AS dot, sqrt(sum(pr.x * pr.x)) AS na
              |  FROM proj pr JOIN qp ON pr.p = qp.p WHERE pr.vec_id <> 0
              |  GROUP BY pr.vec_id),
              |cand AS (
              |  SELECT vec_id,
              |         CASE WHEN na * (SELECT n FROM qpn) > 0
              |              THEN dot / (na * (SELECT n FROM qpn)) ELSE 0 END AS psim
              |  FROM psims ORDER BY psim DESC, vec_id LIMIT 50),
              |qv AS (SELECT i, x FROM unn WHERE vec_id = 0),
              |qn AS (SELECT sqrt(sum(x * x)) AS n FROM qv),
              |sims AS (
              |  SELECT u.vec_id, sum(u.x * q.x) AS dot, sqrt(sum(u.x * u.x)) AS na
              |  FROM unn u JOIN qv q ON u.i = q.i
              |  WHERE u.vec_id IN (SELECT vec_id FROM cand)
              |  GROUP BY u.vec_id)
              |SELECT vec_id, round(dot / (na * (SELECT n FROM qn)), 6) AS sim
              |FROM sims
              |ORDER BY dot / (na * (SELECT n FROM qn)) DESC, vec_id
              |LIMIT 10""".stripMargin),
      Seq("E2")
    ),

    // IVF-SQ8: the same deterministic index and probe-cell selection as
    // e2_ann_ivf_topk, with int8 scoring inside the probed cells — the
    // composed scale path (partition pruning chooses WHICH rows, the int8
    // codes make each row 4x smaller). Oracle composes the IVF build
    // replay with the quantization replay.
    "e2_ann_ivf_sq8" -> Q(
      (s, d) => {
        val index = Similarity.buildIvf(
          embeddings(s, d).filter(col("vec_id") =!= 0), "embedding", "vec_id", k = 16)
        Similarity.topKIvfSq8(index, "embedding", "vec_id", queryVec(s, d), k = 10, nProbes = 2)
      },
      Some(ivfSq8OracleSql(kCentroids = 16, nProbes = 2, k = 10)),
      Seq("E2")
    ),

    // ANN via random-hyperplane LSH buckets. Oracle-matched: the plane sign
    // patterns are inlined into the SQL from the SAME generator the Spark
    // expression uses (VectorFunctions.planeSignString), and bucket probing
    // (Hamming ≤ probes) is bit_count(xor(...)) on both sides; round(...,6)
    // absorbs sum-reassociation noise as in the green e2_cosine_topk oracle.
    "e2_ann_lsh_topk" -> Q(
      (s, d) => Similarity.topKLsh(
        embeddings(s, d).filter(col("vec_id") =!= 0),
        "embedding", "vec_id", queryVec(s, d), 10, dim = 64, nPlanes = 8, probes = 1
      ),
      Some(annLshOracleSql(nPlanes = 8, probes = 1, k = 10)),
      Seq("E2")
    ),

    // MinHash-LSH near-dup candidates over documents (banded; no
    // CartesianProduct). Oracle-matched: ONE md5-derived base hash per token
    // (DuckDB-recomputable), then the affine universal-hash family mod
    // 2³¹−1 with the same inlined (a, b) constants on both sides — the full
    // signature → band → candidate-pair pipeline is value-checked.
    "dd_minhash_lsh" -> Q(
      (s, d) =>
        Dedup.minhashCandidates(documents(s, d), "doc_id", "text", numHashes = 16, bands = 4,
          baseHash = Dedup.md5Lower60, bucketHash = Dedup.md5BucketHash)
          .agg(count(lit(1)).as("n_candidate_pairs")),
      Some(minhashOracleSql(numHashes = 16, bands = 4, maxBucketSize = 10000)),
      Seq("A6")
    ),

    // Fuzzy decontamination: corpus docs whose MinHash band buckets collide
    // with a benchmark doc's — catches paraphrased eval items that exact
    // n-gram collision (dd_contamination) misses. 2% of the corpus plays
    // the benchmark; the corpus side is everything else.
    "dd_fuzzy_contamination" -> Q(
      (s, d) => {
        val docs = documents(s, d)
        Dedup.fuzzyContaminatedIds(
          docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 50 === 0), "text",
          numHashes = 16, bands = 4, maxBucketSize = 10000,
          baseHash = Dedup.md5Lower60, bucketHash = Dedup.md5BucketHash)
          .agg(
            count(lit(1)).as("n_flagged"),
            coalesce(sum(col("doc_id")), lit(0L)).as("sum_ids"))
      },
      Some(fuzzyContaminationOracleSql(numHashes = 16, bands = 4, maxBucketSize = 10000)),
      Seq("A6", "F6")
    ),

    // Incremental dedup against the persisted signature index: 80% of the
    // corpus is indexed once (band-partitioned parquet), the remaining 20%
    // arrives as a batch, and only the batch is re-shingled. The result must
    // equal a full-corpus candidate run filtered to pairs involving the
    // batch — which is exactly what the oracle computes (shared pairs CTE,
    // new-doc predicate), so the index path can't silently drift from the
    // batch path.
    "dd_incremental" -> Q(
      (s, d) => {
        val docs = documents(s, d)
        val path = scratchDir(d, "minhash_index")
        Dedup.writeSignatureIndex(docs.filter(col("doc_id") % 10 < 8), "doc_id", "text",
          path, numHashes = 16, bands = 4,
          baseHash = Dedup.md5Lower60, bucketHash = Dedup.md5BucketHash)
        Dedup.incrementalCandidates(s, docs.filter(col("doc_id") % 10 >= 8), "doc_id", "text",
          path, numHashes = 16, bands = 4, maxBucketSize = 10000,
          baseHash = Dedup.md5Lower60, bucketHash = Dedup.md5BucketHash)
          .agg(
            count(lit(1)).as("n_pairs"),
            sum(when(col("id_a") % 10 >= 8 && col("id_b") % 10 >= 8, 1L).otherwise(0L))
              .as("n_new_new"))
      },
      Some(s"""WITH ${minhashPairsCte(numHashes = 16, bands = 4, maxBucketSize = 10000)}
              |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
              |       CAST(sum(CASE WHEN id_a % 10 >= 8 AND id_b % 10 >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_new_new
              |FROM pairs WHERE id_a % 10 >= 8 OR id_b % 10 >= 8""".stripMargin),
      Seq("A6", "F6")
    ),

    // Near-dup clustering: connected components over the minhash candidate
    // pairs (min-label propagation), summarized as component count/sizes.
    // Oracle: recursive-CTE transitive closure over the same pairs. The
    // bucket cap is tight (100) here: the synthetic corpus is massively
    // self-similar (uncapped it yields 6.2M pairs over 5k docs), and for
    // clustering an oversized bucket is boilerplate noise, not signal —
    // exactly the situation the cap exists for.
    "dd_components" -> Q(
      (s, d) => {
        val pairs = Dedup.minhashCandidates(documents(s, d), "doc_id", "text",
          numHashes = 16, bands = 4, maxBucketSize = 100,
          baseHash = Dedup.md5Lower60, bucketHash = Dedup.md5BucketHash)
        Dedup.components(pairs)
          .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
          .agg(
            count(lit(1)).as("n_components"),
            sum(col("sz")).as("n_clustered_docs"),
            max(col("sz")).as("max_component_size"))
      },
      Some(componentsOracleSql(numHashes = 16, bands = 4, maxBucketSize = 100)),
      Seq("A6")
    ),

    // Same clustering through the alternating large-star/small-star
    // algorithm (the O(log diameter) extreme-scale path) — verified against
    // the SAME recursive-CTE oracle as dd_components, proving the two
    // engine implementations and the SQL closure all agree.
    "dd_components_star" -> Q(
      (s, d) => {
        val pairs = Dedup.minhashCandidates(documents(s, d), "doc_id", "text",
          numHashes = 16, bands = 4, maxBucketSize = 100,
          baseHash = Dedup.md5Lower60, bucketHash = Dedup.md5BucketHash)
        Dedup.componentsStar(pairs)
          .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
          .agg(
            count(lit(1)).as("n_components"),
            sum(col("sz")).as("n_clustered_docs"),
            max(col("sz")).as("max_component_size"))
      },
      Some(componentsOracleSql(numHashes = 16, bands = 4, maxBucketSize = 100)),
      Seq("A6")
    ),

    // Hard-negative mining — the contrastive-training primitive: for each
    // anchor in the query cohort, the top-5 most-similar documents with a
    // DIFFERENT language label (near-misses across the boundary are the
    // negatives that actually teach an embedding model). Exact windowed
    // form over the cohort (sim rounded to 6dp BEFORE ranking so ties
    // resolve identically in both engines; tie → larger id, the top_k
    // struct order). sum over neighbor ids pins WHICH negatives were
    // mined, not just scores.
    "e2_hard_negatives" -> Q(
      (s, d) => {
        val labels = documents(s, d).select(col("doc_id").as("vec_id"), col("lang"))
        val lv = embeddings(s, d).join(labels, Seq("vec_id"))
        val anchors = lv.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("lang").as("qlang"))
        anchors
          .crossJoin(lv.select(
            col("vec_id").as("nid"), col("embedding").as("nv"), col("lang").as("nlang")))
          .filter(col("nlang") =!= col("qlang"))
          .withColumn("sim", round(cosine(col("qv"), col("nv")), 6))
          .groupBy(col("qid"))
          .agg(expr("top_k(struct(sim, nid), 5)").as("t"))
          .select(col("qid"), explode(col("t")).as("e"))
          .select(col("qid"), col("e.nid").as("neighbor_id"), col("e.sim").as("sim"))
      },
      Some("""WITH lv AS (
             |  SELECT e.vec_id, e.embedding, d.lang
             |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
             |anchors AS (SELECT vec_id AS qid, embedding AS qv, lang AS qlang
             |            FROM lv WHERE vec_id % 50 = 0),
             |qu AS (SELECT qid, qlang, generate_subscripts(qv, 1) AS i,
             |              CAST(unnest(qv) AS DOUBLE) AS x FROM anchors),
             |cu AS (SELECT vec_id AS nid, lang AS nlang, generate_subscripts(embedding, 1) AS i,
             |              CAST(unnest(embedding) AS DOUBLE) AS x FROM lv),
             |sims AS (
             |  SELECT q.qid, c.nid,
             |         sum(q.x * c.x) AS dot,
             |         sqrt(sum(q.x * q.x)) AS na, sqrt(sum(c.x * c.x)) AS nb
             |  FROM qu q JOIN cu c ON q.i = c.i AND q.qlang <> c.nlang
             |  GROUP BY q.qid, c.nid),
             |scored AS (
             |  SELECT qid, nid,
             |         round(CASE WHEN na > 0 AND nb > 0 THEN dot / (na * nb) ELSE 0 END, 6) AS sim
             |  FROM sims),
             |ranked AS (
             |  SELECT qid, nid, sim,
             |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid DESC) AS rn
             |  FROM scored)
             |SELECT qid, nid AS neighbor_id, sim FROM ranked WHERE rn <= 5""".stripMargin),
      Seq("E2", "J1")
    ),

    // Product-quantization recall floor gate: PQ(m=16,k=16) codes (≈8
    // bytes/vector, 32× smaller than float32) searched via the set-based
    // ADC join + an exact rerank of the top-100 candidates must recall the
    // true cosine top-10 above the floor for the %100 query cohort. The
    // floor sits well under the measured ~0.98 (PqSpec prints the number;
    // the 100-candidate rerank recovers nearly everything ADC misranks).
    // Envelope oracle: DuckDB asserts the boolean, n_queries pins the
    // cohort.
    "e2_pq_recall_gate" -> Q(
      (s, d) => {
        import s.implicits._
        val vecs = embeddings(s, d)
        val corpus = vecs.filter(col("vec_id") % 100 =!= 0)
        val queries = vecs.filter(col("vec_id") % 100 === 0)
        val model = Pq.train(corpus, "embedding", "vec_id", m = 16, k = 16, iters = 2)
        val codes = Pq.encode(corpus, "embedding", model)
          .select(col("vec_id"), col("pq_code"))
        val cand = Pq.nnJoinAdc(codes, "pq_code", "vec_id",
          queries.select(col("vec_id").as("qid"), col("embedding")),
          "qid", "embedding", n = 100, model)
        val approx = cand
          .join(corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("_cv")),
            Seq("neighbor_id"))
          .join(queries.select(col("vec_id").as("qid"), col("embedding").as("_qv")), Seq("qid"))
          .withColumn("_sim", cosine(col("_qv"), col("_cv")))
          .groupBy(col("qid"))
          .agg(expr("top_k(struct(_sim, neighbor_id), 10)").as("_t"))
          .select(col("qid"), explode(col("_t")).as("_e"))
          .select(col("qid"), col("_e.neighbor_id").as("neighbor_id"))
        val exact = queries.select(col("vec_id").as("qid"), col("embedding").as("_qv"))
          .crossJoin(corpus.select(col("vec_id").as("_cid"), col("embedding").as("_cv")))
          .withColumn("_sim", cosine(col("_qv"), col("_cv")))
          .groupBy(col("qid"))
          .agg(expr("top_k(struct(_sim, _cid), 10)").as("_t"))
          .select(col("qid"), explode(col("_t")).as("_e"))
          .select(col("qid"), col("_e._cid").as("neighbor_id"))
        val recall = Similarity.recallAtK(approx, exact, "qid")
        val nq = queries.count()
        Seq((nq, recall >= 0.8)).toDF("n_queries", "recall_ok")
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
             |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin),
      Seq("E2")
    ),

    // PQ index lifecycle: persist codes + codebooks, then ingest a new
    // batch by encoding against the FROZEN stored codebooks. Encoding is a
    // deterministic per-row projection, so append == full re-encode
    // BIT-identically — the entry proves it by running the same ADC top-10
    // against the appended store and a from-scratch rebuild and comparing
    // (id, score) pairs EXACTLY (doubles included). n_codes pins that the
    // store holds base + batch with nothing lost or duplicated.
    "e2_pq_append" -> Q(
      (s, d) => {
        import s.implicits._
        val vecs = embeddings(s, d)
        val base = vecs.filter(col("vec_id") % 5 =!= 4)
        val batch = vecs.filter(col("vec_id") % 5 === 4)
        val dir = scratchDir(d, "pq_append") + "/index"
        val model = Pq.train(base, "embedding", "vec_id", m = 8, k = 16, iters = 2)
        Pq.writePq(s,
          Pq.encode(base, "embedding", model).select(col("vec_id"), col("pq_code")),
          model, dir)
        Pq.appendToPq(s, batch, "embedding", "vec_id", dir)
        val stored = Pq.readPqCodes(s, dir)
        val q = queryVec(s, d)
        val appended = Pq.topKAdc(stored, "pq_code", "vec_id",
            q, 10, Pq.readPqModel(s, dir))
          .select(col("vec_id"), col("adc_score"))
          .as[(Long, Double)].collect().toSeq
        val rebuilt = Pq.topKAdc(
            Pq.encode(vecs, "embedding", model).select(col("vec_id"), col("pq_code")),
            "pq_code", "vec_id", q, 10, model)
          .select(col("vec_id"), col("adc_score"))
          .as[(Long, Double)].collect().toSeq
        stored.agg(count(lit(1)).as("n_codes"))
          .crossJoin(Seq(appended == rebuilt).toDF("append_matches_rebuild"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_codes, TRUE AS append_matches_rebuild
             |FROM embeddings""".stripMargin),
      Seq("E2", "K1")
    ),

    // Binary (1-bit) quantization two-stage search: sign-bit codes (ONE
    // long per 64-dim vector, 256× smaller than float32), Hamming top-100
    // candidates (native xor+popcount, ties → smaller id), exact cosine
    // rerank to the top-10. The center is zero (the corpus is mean-centered
    // at generation; the trainable fixed-point center is spec-pinned), so
    // the oracle replays BOTH stages exactly: sign-disagreement counts are
    // integers, and the rerank is the battery's usual round(cosine, 6).
    "e2_binary_topk" -> Q(
      (s, d) => {
        val vecs = embeddings(s, d).filter(col("vec_id") =!= 0)
        val center = new Array[Float](64)
        val codes = BinaryQuant.encode(vecs, "embedding", center)
          .select(col("vec_id"), col("bits"))
        BinaryQuant.topKBinary(codes, "bits", "vec_id",
          vecs, "embedding", queryVec(s, d), center, k = 10, nCand = 100)
      },
      Some("""WITH q AS (SELECT generate_subscripts(embedding,1) AS i, CAST(unnest(embedding) AS DOUBLE) AS x
             |           FROM embeddings WHERE vec_id = 0),
             |v AS (SELECT vec_id, generate_subscripts(embedding,1) AS i, CAST(unnest(embedding) AS DOUBLE) AS x
             |      FROM embeddings WHERE vec_id <> 0),
             |ham AS (SELECT v.vec_id,
             |               sum(CASE WHEN (v.x > 0) <> (q.x > 0) THEN 1 ELSE 0 END) AS hamming,
             |               sum(v.x*q.x) AS dot, sqrt(sum(v.x*v.x)) AS na, sqrt(sum(q.x*q.x)) AS nb
             |        FROM v JOIN q ON v.i = q.i GROUP BY v.vec_id),
             |cand AS (SELECT vec_id, hamming, dot/(na*nb) AS sim,
             |                row_number() OVER (ORDER BY hamming, vec_id) AS rn
             |         FROM ham)
             |SELECT vec_id, CAST(hamming AS INT) AS hamming, round(sim, 6) AS sim
             |FROM cand WHERE rn <= 100
             |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin),
      Seq("E2")
    ),

    // Multi-index hashing radius search: 16-bit blocks + 0/1-bit probe
    // variants give a pure equi-join on (block_idx, block_val) whose
    // candidate set PROVABLY contains every pair within Hamming radius
    // 2·blocks−1 = 7 (Norouzi et al., CVPR 2012); filtering the candidates
    // to ≤ 7 therefore yields EXACTLY the radius ball — which the oracle
    // recomputes from scratch as sign-disagreement counts over all pairs.
    // The join key is what a bucketed at-rest layout co-locates at 10⁹
    // vectors: candidate generation without ever comparing full codes.
    "e2_mih_radius" -> Q(
      (s, d) => {
        val vecs = embeddings(s, d)
        val center = new Array[Float](64)
        val codes = BinaryQuant.encode(vecs, "embedding", center)
          .select(col("vec_id"), col("bits"))
        val queries = codes.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("bits").as("qbits"))
        BinaryQuant.mihCandidates(codes, "bits", "vec_id",
          queries, "qid", "qbits", dim = 64)
          .filter(col("hamming") <= 7)
      },
      Some("""WITH u AS (SELECT vec_id, generate_subscripts(embedding,1) AS i,
             |                  CAST(unnest(embedding) AS DOUBLE) > 0 AS s
             |           FROM embeddings),
             |q AS (SELECT vec_id AS qid, i, s FROM u WHERE vec_id % 100 = 0),
             |ham AS (SELECT q.qid, u.vec_id,
             |               sum(CASE WHEN q.s <> u.s THEN 1 ELSE 0 END) AS hamming
             |        FROM q JOIN u ON q.i = u.i GROUP BY q.qid, u.vec_id)
             |SELECT qid, vec_id, CAST(hamming AS INT) AS hamming
             |FROM ham WHERE hamming <= 7""".stripMargin),
      Seq("E2", "J1")
    ),

    // Leakage-safe train/val/test split: near-dup clusters (connected
    // components over the MinHash-LSH pairs) assign as ONE unit — the
    // cluster's canonical min-id drives the hash bucket, so a near-dup of
    // a test document can never sit in train. sum_ids pins WHICH documents
    // landed where (a single straddling pair would shift two sums);
    // n_groups pins the cluster structure per split.
    "ta_leakage_split" -> Q(
      (s, d) => {
        val docs = documents(s, d)
        val pairs = Dedup.minhashCandidates(docs, "doc_id", "text",
          numHashes = 16, bands = 4, maxBucketSize = 100,
          baseHash = Dedup.md5Lower60, bucketHash = Dedup.md5BucketHash)
        graft.operators.Sampling.leakageSafeSplits(docs, "doc_id", pairs,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          hashFn = c => Dedup.md5Lower60(c.cast("string")))
          .groupBy(col("split"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("doc_id")).as("sum_ids"),
            countDistinct(col("split_group")).as("n_groups"))
      },
      Some(leakageSplitOracleSql(numHashes = 16, bands = 4, maxBucketSize = 100)),
      Seq("A6", "F8")
    ),

    // Flagship corpus dedup: exact (sha2 keep-min) → MinHash-LSH candidates
    // → connected components → one canonical doc per cluster, as one call.
    // Oracle: group-by-text keep-min + the shared pairs CTE + recursive
    // closure, composed.
    "dd_corpus_dedup" -> Q(
      (s, d) => {
        val docs = documents(s, d)
        val kept = Dedup.dedupCorpus(docs, "doc_id", "text",
          numHashes = 16, bands = 4, maxBucketSize = 100,
          baseHash = Dedup.md5Lower60, bucketHash = Dedup.md5BucketHash)
        val exactKept = docs.join(
          Dedup.exact(docs, "text", "doc_id").select(col("keep_id").as("doc_id")),
          Seq("doc_id"), "left_semi")
        docs.agg(count(lit(1)).as("n_total"))
          .crossJoin(exactKept.agg(count(lit(1)).as("n_exact_kept")))
          .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
      },
      Some(corpusDedupOracleSql(numHashes = 16, bands = 4, maxBucketSize = 100)),
      Seq("A6")
    ),

    // Quality-aware corpus dedup: same exact → candidates → components
    // pipeline, but each duplicate group keeps its LONGEST member (n_chars,
    // ties → min id) instead of the min-id one. sum_kept_ids pins the
    // identity of the selection, not just its size — a wrong canonical
    // would hash-mismatch even at equal counts.
    "dd_dedup_prefer" -> Q(
      (s, d) => {
        val kept = Dedup.dedupCorpus(documents(s, d), "doc_id", "text",
          numHashes = 16, bands = 4, maxBucketSize = 100,
          baseHash = Dedup.md5Lower60, bucketHash = Dedup.md5BucketHash,
          preferCol = Some("n_chars"))
        kept.agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_kept_ids"))
      },
      Some(dedupPreferOracleSql(numHashes = 16, bands = 4, maxBucketSize = 100)),
      Seq("A6")
    ),

    // SimHash signatures + near-dup bucketing by the top signature bits.
    // Oracle-matched: the 60-bit md5-derived token hash is recomputable in
    // DuckDB (`md5_number_lower >> 4`), so the whole signature is checked
    // value-for-value, not rows-only.
    "dd_simhash" -> Q(
      (s, d) => {
        val docs = documents(s, d)
          .select(col("doc_id"), Dedup.wordSet(col("text")).as("toks"))
          .withColumn("sig", Dedup.simhashWith(col("toks"), Dedup.md5Lower60, 60))
        docs.groupBy(shiftright(col("sig"), 48).as("bucket"))
          .agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("n_docs"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS t
             |  FROM documents),
             |hashed AS (
             |  SELECT doc_id, CAST((md5_number_lower(t) >> 4) AS BIGINT) AS h FROM toks),
             |bitsums AS (
             |  SELECT doc_id, i, SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
             |  FROM hashed CROSS JOIN (SELECT unnest(range(0, 60)) AS i) bits
             |  GROUP BY doc_id, i),
             |sigs AS (
             |  SELECT doc_id, CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS sig
             |  FROM bitsums GROUP BY doc_id),
             |buckets AS (SELECT sig >> 48 AS bucket, count(*) AS n FROM sigs GROUP BY bucket)
             |SELECT CAST(count(*) AS BIGINT) AS n_buckets, CAST(sum(n) AS BIGINT) AS n_docs
             |FROM buckets""".stripMargin),
      Seq("A6")
    ),

    // Two-sided approximate k-NN join: every 20th vector plays the query
    // set, the rest the corpus; per-query top-3 through the native top_k
    // aggregate. Oracle replays buckets (inlined plane signs), Hamming-1
    // candidate join, cosine and the per-query window.
    "e2_nn_join" -> Q(
      (s, d) => {
        val vecs = embeddings(s, d)
        Similarity.nnJoin(
          vecs.filter(col("vec_id") % 20 =!= 0), "vec_id",
          vecs.filter(col("vec_id") % 20 === 0), "vec_id",
          "embedding", dim = 64, k = 3, nPlanes = 6, probes = 1,
          maxBucketSize = Int.MaxValue) // uncapped: the oracle replays every bucket
      },
      Some(nnJoinOracleSql(nPlanes = 6, probes = 1, k = 3)),
      Seq("E2")
    ),

    // Two-sided IVF k-NN join: the deterministic index is built on the
    // corpus half, each query probes its best 2 of 8 cells, top-3 within.
    // Oracle replays the whole chain: seed/assign/Lloyd/assign, per-query
    // probe ranking, and the per-query window.
    "e2_nn_join_ivf" -> Q(
      (s, d) => {
        val vecs = embeddings(s, d)
        val index = Similarity.buildIvf(
          vecs.filter(col("vec_id") % 20 =!= 0), "embedding", "vec_id", k = 8)
        Similarity.nnJoinIvf(index, "vec_id",
          vecs.filter(col("vec_id") % 20 === 0), "vec_id", "embedding", k = 3, nProbes = 2)
      },
      Some(nnJoinIvfOracleSql(kCentroids = 8, nProbes = 2, k = 3)),
      Seq("E2")
    ),

    // ANN quality gate at the corpus' REAL dimensionality (64): recall@10
    // of the IVF k-NN join vs the exact brute-force top-10, floor-gated —
    // probe-selection or assignment changes that silently degrade retrieval
    // now fail the battery, not just a toy-dim spec (the AnnRecallSpec
    // sweep's production twin; graft.RecallProbe prints the whole curve).
    // Measured 12-probe recall: 0.936 (sf0.01) / 0.927 (sf0.1) on the
    // weakly-clustered synthetic corpus — the 0.85 floor passes with
    // margin yet fails fast on a mis-ranked probe order (6-probe reads
    // ~0.65). Envelope oracle, ta_approx_stats convention: DuckDB asserts
    // the boolean; n_queries pins the cohort.
    "e2_ann_recall_gate" -> Q(
      (s, d) => {
        import s.implicits._
        val vecs = embeddings(s, d)
        val corpus = vecs.filter(col("vec_id") % 20 =!= 0)
        val queries = vecs.filter(col("vec_id") % 20 === 0)
        val index = Similarity.buildIvf(corpus, "embedding", "vec_id", k = 16)
        val approx = Similarity.nnJoinIvf(index, "vec_id",
          queries, "vec_id", "embedding", k = 10, nProbes = 12)
        val exact = queries.select(col("vec_id").as("_qid"), col("embedding").as("_qv"))
          .crossJoin(corpus.select(col("vec_id").as("_cid"), col("embedding").as("_cv")))
          .withColumn("_sim", cosine(col("_qv"), col("_cv")))
          .groupBy(col("_qid"))
          .agg(expr("top_k(struct(_sim, _cid), 10)").as("_top"))
          .select(col("_qid"), explode(col("_top")).as("_t"))
          .select(col("_qid").as("vec_id"), col("_t._cid").as("neighbor_id"))
        val recall = Similarity.recallAtK(approx, exact, "vec_id")
        val nq = queries.count()
        Seq((nq, recall >= 0.85)).toDF("n_queries", "recall_ok")
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
             |FROM embeddings WHERE vec_id % 20 = 0""".stripMargin),
      Seq("E2")
    ),

    // Graph-based ANN (NSW family) — beam search over a k-NN graph: per
    // hop, ONE scan of vectors ∪ edges fetches the hop's new node ids, and
    // the driver scores them, drops seen nodes and keeps the per-query
    // beam; the walk state is bounded by queries × beam × degree per hop
    // and INDEPENDENT of corpus size (IVF probes read nProbes/k of the
    // corpus; the graph walk reads beam×degree vectors per hop — why graph
    // indexes win at high recall on 10⁹-vector corpora). Entry points descend
    // from the hub layer per query (seedHubs — HNSW's upper-layer descent),
    // which buys a hop: measured recall@10 at degree=12/beam=32/hops=4/
    // hub-seeded is 1.0 (sf0.001) / 1.0 (sf0.01) / 0.974 (sf0.1) vs
    // IVF-12-probe's 0.927–0.936 — the 0.90 floor passes with margin and
    // fails fast if build, walk, or seeding degrades (global-seed
    // degree=8/beam=24/hops=4 reads 0.72 at sf0.1).
    // The PLANNED build end-to-end in the battery: GraphAnn.buildPlan
    // chooses (nPlanes, probes, degree, hubs) from the actual corpus count
    // and a 0.9 target, the graph builds under the plan, and the
    // hub-seeded search must clear a 0.85 recall floor (sf0.1 measures
    // ~0.99 — small corpora sit in the planner's exhaustive-probing
    // regime; the 200k ScaleProbe leg gates the same stack at scale).
    // Envelope oracle: n_queries pins the cohort, booleans pin the gate
    // and that the plan's shape came from the planner's documented bands.
    "e2_graph_ann_planned" -> Q(
      (s, d) => {
        import s.implicits._
        val vecs = embeddings(s, d)
        val corpus = vecs.filter(col("vec_id") % 20 =!= 0)
        val queries = vecs.filter(col("vec_id") % 100 === 0)
        val plan = GraphAnn.buildPlan(corpus.count(), 64, targetRecall = 0.9)
        val graph = GraphAnn.buildPlanned(corpus, "vec_id", "embedding",
          dim = 64, plan = plan)
        val approx = GraphAnn.search(graph, queries, "vec_id", "embedding",
          k = 10, beam = 32, maxHops = 4, nSeeds = 16, seedHubs = plan.hubs)
        val exact = queries.select(col("vec_id").as("_qid"), col("embedding").as("_qv"))
          .crossJoin(corpus.select(col("vec_id").as("_cid"), col("embedding").as("_cv")))
          .withColumn("_sim", cosine(col("_qv"), col("_cv")))
          .groupBy(col("_qid"))
          .agg(expr("top_k(struct(_sim, _cid), 10)").as("_top"))
          .select(col("_qid"), explode(col("_top")).as("_t"))
          .select(col("_qid").as("vec_id"), col("_t._cid").as("neighbor_id"))
        val recall = Similarity.recallAtK(approx, exact, "vec_id")
        val nq = queries.count()
        // band checks only — a planner recalibration that keeps recall must
        // not break the battery (the exact planner laws live in
        // DataShapingSpec, where recalibrating them is a deliberate edit)
        val planSane = plan.probes >= 1 && plan.probes <= plan.nPlanes &&
          plan.nPlanes >= 4 && plan.nPlanes <= 16 &&
          plan.degree >= 8 && plan.degree <= 64 &&
          plan.hubs >= 16 && plan.hubs <= 256
        Seq((nq, recall >= 0.85, planSane))
          .toDF("n_queries", "recall_ok", "plan_sane")
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok,
             |       TRUE AS plan_sane
             |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin),
      Seq("E2")
    ),

    "e2_graph_ann_gate" -> Q(
      (s, d) => {
        import s.implicits._
        val vecs = embeddings(s, d)
        val corpus = vecs.filter(col("vec_id") % 20 =!= 0)
        val queries = vecs.filter(col("vec_id") % 20 === 0)
        val graph = gateGraph(s, d)
        val approx = GraphAnn.search(graph, queries, "vec_id", "embedding",
          k = 10, beam = 32, maxHops = 4, nSeeds = 16, seedHubs = 64)
        val exact = queries.select(col("vec_id").as("_qid"), col("embedding").as("_qv"))
          .crossJoin(corpus.select(col("vec_id").as("_cid"), col("embedding").as("_cv")))
          .withColumn("_sim", cosine(col("_qv"), col("_cv")))
          .groupBy(col("_qid"))
          .agg(expr("top_k(struct(_sim, _cid), 10)").as("_top"))
          .select(col("_qid"), explode(col("_top")).as("_t"))
          .select(col("_qid").as("vec_id"), col("_t._cid").as("neighbor_id"))
        val recall = Similarity.recallAtK(approx, exact, "vec_id")
        val nq = queries.count()
        Seq((nq, recall >= 0.90)).toDF("n_queries", "recall_ok")
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
             |FROM embeddings WHERE vec_id % 20 = 0""".stripMargin),
      Seq("E2")
    ),

    // Filtered graph ANN with an EXACT oracle: the hub layer makes the
    // graph CONNECTED (every vector links to a hub, hubs form a clique),
    // so a full-beam walk provably visits the whole corpus and the
    // DiskANN-style filtered cut (walk unrestricted, allowed-id semi-join
    // before the final top-k) must equal the brute-force filtered top-5
    // HASH-exactly — an exactness pin for the walk machinery itself, the
    // production-approximate gate's (e2_graph_ann_gate) strict companion.
    "e2_graph_ann_filtered" -> Q(
      (s, d) => {
        val vecs = embeddings(s, d)
        val corpus = vecs.filter(col("vec_id") % 20 =!= 0)
        val queries = vecs.filter(col("vec_id") % 100 === 0)
        val graph = gateGraph(s, d)
        val allowed = corpus.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
        GraphAnn.searchFiltered(graph, queries, "vec_id", "embedding", k = 5,
          allowed, beam = 4096, maxHops = 8, nSeeds = 16)
      },
      Some("""WITH anchors AS (
             |  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
             |qu AS (SELECT qid, generate_subscripts(qv, 1) AS i,
             |              CAST(unnest(qv) AS DOUBLE) AS x FROM anchors),
             |cu AS (SELECT vec_id AS nid, generate_subscripts(embedding, 1) AS i,
             |              CAST(unnest(embedding) AS DOUBLE) AS x
             |       FROM embeddings WHERE vec_id % 20 <> 0 AND vec_id % 3 = 0),
             |sims AS (
             |  SELECT q.qid, c.nid,
             |         sum(q.x * c.x) AS dot,
             |         sqrt(sum(q.x * q.x)) AS na, sqrt(sum(c.x * c.x)) AS nb
             |  FROM qu q JOIN cu c ON q.i = c.i
             |  GROUP BY q.qid, c.nid),
             |scored AS (
             |  SELECT qid, nid,
             |         round(CASE WHEN na > 0 AND nb > 0 THEN dot / (na * nb) ELSE 0 END, 6) AS sim
             |  FROM sims),
             |ranked AS (
             |  SELECT qid, nid, sim,
             |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid DESC) AS rn
             |  FROM scored)
             |SELECT qid AS vec_id, nid AS neighbor_id, sim
             |FROM ranked WHERE rn <= 5""".stripMargin),
      Seq("E2", "J1")
    ),

    // The SPARSE companion of e2_graph_ann_filtered: a ~1% allowed set
    // (vec_id % 97) against a deliberately RESTRICTED walk (beam 8, 2
    // hops — visits a corpus-independent ~200 nodes), so the walk CANNOT
    // fill k=8 allowed hits and searchFiltered's fill-contract fallback
    // must answer: deficient queries re-score the allowed set exactly.
    // Pins the contract "k rows whenever >= k allowed nodes exist" (and
    // "all |allowed| rows when fewer") HASH-exactly against brute force —
    // the DiskANN-filtered-search failure mode the walk-only cut had
    // (silent under-fill at high selectivity) can never return.
    "e2_graph_ann_filtered_sparse" -> Q(
      (s, d) => {
        val vecs = embeddings(s, d)
        val corpus = vecs.filter(col("vec_id") % 20 =!= 0)
        val queries = vecs.filter(col("vec_id") % 50 === 0)
        val graph = gateGraph(s, d)
        val allowed = corpus.filter(col("vec_id") % 97 === 0).select(col("vec_id"))
        GraphAnn.searchFiltered(graph, queries, "vec_id", "embedding", k = 8,
          allowed, beam = 8, maxHops = 2, nSeeds = 8, seedHubs = 64)
      },
      Some("""WITH anchors AS (
             |  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
             |qu AS (SELECT qid, generate_subscripts(qv, 1) AS i,
             |              CAST(unnest(qv) AS DOUBLE) AS x FROM anchors),
             |cu AS (SELECT vec_id AS nid, generate_subscripts(embedding, 1) AS i,
             |              CAST(unnest(embedding) AS DOUBLE) AS x
             |       FROM embeddings WHERE vec_id % 20 <> 0 AND vec_id % 97 = 0),
             |sims AS (
             |  SELECT q.qid, c.nid,
             |         sum(q.x * c.x) AS dot,
             |         sqrt(sum(q.x * q.x)) AS na, sqrt(sum(c.x * c.x)) AS nb
             |  FROM qu q JOIN cu c ON q.i = c.i
             |  GROUP BY q.qid, c.nid),
             |scored AS (
             |  SELECT qid, nid,
             |         round(CASE WHEN na > 0 AND nb > 0 THEN dot / (na * nb) ELSE 0 END, 6) AS sim
             |  FROM sims),
             |ranked AS (
             |  SELECT qid, nid, sim,
             |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid DESC) AS rn
             |  FROM scored)
             |SELECT qid AS vec_id, nid AS neighbor_id, sim
             |FROM ranked WHERE rn <= 8""".stripMargin),
      Seq("E2", "J1")
    ),

    // The MID-SELECTIVITY companion (~30% allowed): pins the fill
    // contract's COMPLEMENTARY COST REGIME — at moderate selectivity a
    // production-shaped walk (beam 64, 4 hops, hub-seeded) fills k for
    // every query on its own, so the exact fallback's deficient cohort is
    // EMPTY and its cross-product cost is zero. n_fallback counts the
    // queries a fallback would have to re-answer (walk-only fill < k);
    // the oracle pins it at exactly 0. Together with _sparse (fallback
    // answers everything) this brackets the DiskANN-filtered design:
    // exact re-scoring only ever pays when the allowed set is small.
    "e2_graph_ann_filtered_mid" -> Q(
      (s, d) => {
        import s.implicits._
        val vecs = embeddings(s, d)
        val corpus = vecs.filter(col("vec_id") % 20 =!= 0)
        val queries = vecs.filter(col("vec_id") % 50 === 0)
        val graph = gateGraph(s, d)
        val allowed = corpus.filter(col("vec_id") % 10 < 3).select(col("vec_id"))
        val walkOnly = GraphAnn.searchFiltered(graph, queries, "vec_id",
          "embedding", k = 8, allowed, beam = 64, maxHops = 4, nSeeds = 16,
          seedHubs = 64, fallback = false)
        val filled = walkOnly.groupBy(col("vec_id"))
          .agg(count(lit(1)).as("_nhits"))
          .filter(col("_nhits") >= 8).count()
        val nq = queries.count()
        val nFallback = nq - filled
        Seq((nq, nFallback, nFallback == 0L))
          .toDF("n_queries", "n_fallback", "mid_fill_ok")
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries,
             |       CAST(0 AS BIGINT) AS n_fallback, TRUE AS mid_fill_ok
             |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin),
      Seq("E2", "J1")
    ),

    // Embedding-cosine near-dup, hyperplane-bucketed. Oracle-matched via the
    // same inlined plane-sign literals as e2_ann_lsh_topk.
    "dd_cosine_lsh" -> Q(
      (s, d) =>
        Dedup.cosineCandidates(embeddings(s, d), "vec_id", "embedding", dim = 64, nPlanes = 6, threshold = 0.5)
          .agg(count(lit(1)).as("n_pairs")),
      Some(cosineLshOracleSql(nPlanes = 6, threshold = 0.5, maxBucketSize = 10000)),
      Seq("E2")
    )
  )

  /** DuckDB twin of [[graft.operators.Similarity.topKQuantized]]: per-vector
    * int8 quantization (`round(x·127/max|x|)` — DuckDB `round` is half-away-
    * from-zero, matching Spark's HALF_UP on doubles), exact BIGINT dot
    * products, cosine from the integers.
    */
  private def quantizedTopKOracleSql(k: Int): String =
    s"""WITH m AS (
       |  SELECT vec_id,
       |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
       |  FROM embeddings),
       |codes AS (
       |  SELECT e.vec_id,
       |         list_transform(e.embedding,
       |           x -> CAST(round(CAST(x AS DOUBLE) * (CASE WHEN m.maxabs > 0 THEN 127.0 / m.maxabs ELSE 0 END)) AS BIGINT)) AS q
       |  FROM embeddings e JOIN m USING (vec_id)),
       |unq AS (SELECT vec_id, generate_subscripts(q, 1) AS i, unnest(q) AS qx FROM codes),
       |qv AS (SELECT i, qx FROM unq WHERE vec_id = 0),
       |cv AS (SELECT vec_id, i, qx FROM unq WHERE vec_id <> 0),
       |sims AS (
       |  SELECT c.vec_id, sum(c.qx * q.qx) AS dot_q, sum(c.qx * c.qx) AS nsq_q
       |  FROM cv c JOIN qv q ON c.i = q.i GROUP BY c.vec_id),
       |qn AS (SELECT sqrt(CAST(sum(qx * qx) AS DOUBLE)) AS nq FROM qv),
       |scored AS (
       |  SELECT vec_id, CAST(dot_q AS BIGINT) AS dot_q, CAST(nsq_q AS BIGINT) AS nsq_q,
       |         CASE WHEN sqrt(CAST(nsq_q AS DOUBLE)) * (SELECT nq FROM qn) > 0
       |              THEN CAST(dot_q AS DOUBLE) / (sqrt(CAST(nsq_q AS DOUBLE)) * (SELECT nq FROM qn))
       |              ELSE 0 END AS sim
       |  FROM sims)
       |SELECT vec_id, dot_q, nsq_q, round(sim, 6) AS sim_q
       |FROM scored ORDER BY sim DESC, vec_id LIMIT $k""".stripMargin

  /** DuckDB twin of [[graft.operators.Dedup.minhashCandidates]] + count,
    * generated with the SAME affine constants ([[graft.operators.Dedup
    * .affineConstants]]) the Spark expression inlines.
    */
  private def minhashPairsCte(
      numHashes: Int, bands: Int, maxBucketSize: Int, source: String = "documents"
  ): String = {
    val p = Dedup.MersenneP
    val mins = (0 until numHashes).map { s =>
      val (a, b) = Dedup.affineConstants(s)
      s"min((h * $a + $b) % $p) AS m$s"
    }.mkString(",\n         ")
    val rpb = numHashes / bands
    val bandSelects = (0 until bands).map { bd =>
      val cols = (bd * rpb until (bd + 1) * rpb).map(i => s"CAST(m$i AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $bd AS band, CAST((md5_number_lower($cols) >> 4) AS BIGINT) AS bucket FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""docs AS (
       |  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks
       |  FROM $source),
       |tok AS (SELECT doc_id, unnest(toks) AS t FROM docs WHERE len(toks) > 0),
       |hashed AS (
       |  SELECT doc_id, (CAST((md5_number_lower(t) >> 4) AS BIGINT) % $p) AS h FROM tok),
       |sigs AS (
       |  SELECT doc_id, $mins
       |  FROM hashed GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |capped AS (
       |  SELECT doc_id, band, bucket FROM (
       |    SELECT doc_id, band, bucket, count(*) OVER (PARTITION BY band, bucket) AS bn
       |    FROM bands) WHERE bn <= $maxBucketSize),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
       |  FROM capped a JOIN capped b2 USING (band, bucket)
       |  WHERE a.doc_id < b2.doc_id)""".stripMargin
  }

  /** DuckDB twin of [[graft.operators.Dedup.fuzzyContaminatedIds]] over the
    * 2%-benchmark split: the shared signature construction, band rows split
    * into corpus (capped AFTER the split, matching the operator) and
    * benchmark bucket sets, equi-joined.
    */
  private def fuzzyContaminationOracleSql(
      numHashes: Int, bands: Int, maxBucketSize: Int): String = {
    val p = Dedup.MersenneP
    val mins = (0 until numHashes).map { s =>
      val (a, b) = Dedup.affineConstants(s)
      s"min((h * $a + $b) % $p) AS m$s"
    }.mkString(",\n         ")
    val rpb = numHashes / bands
    val bandSelects = (0 until bands).map { bd =>
      val cols = (bd * rpb until (bd + 1) * rpb).map(i => s"CAST(m$i AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $bd AS band, CAST((md5_number_lower($cols) >> 4) AS BIGINT) AS bucket FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH docs AS (
       |  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS t FROM docs WHERE len(toks) > 0),
       |hashed AS (
       |  SELECT doc_id, (CAST((md5_number_lower(t) >> 4) AS BIGINT) % $p) AS h FROM tok),
       |sigs AS (
       |  SELECT doc_id, $mins
       |  FROM hashed GROUP BY doc_id),
       |bandrows AS (
       |  $bandSelects),
       |corpband AS (SELECT doc_id, band, bucket FROM bandrows WHERE doc_id % 50 <> 0),
       |capped AS (
       |  SELECT doc_id, band, bucket FROM (
       |    SELECT doc_id, band, bucket, count(*) OVER (PARTITION BY band, bucket) AS bn
       |    FROM corpband) WHERE bn <= $maxBucketSize),
       |bench AS (SELECT DISTINCT band, bucket FROM bandrows WHERE doc_id % 50 = 0),
       |flagged AS (SELECT DISTINCT c.doc_id FROM capped c JOIN bench b USING (band, bucket))
       |SELECT CAST(count(*) AS BIGINT) AS n_flagged,
       |       CAST(COALESCE(sum(doc_id), 0) AS BIGINT) AS sum_ids FROM flagged""".stripMargin
  }

  /** DuckDB twin of [[graft.operators.Sampling.leakageSafeSplits]]: the
    * shared pairs CTE + recursive closure, group = COALESCE(comp, own id),
    * then the cumulative md5 hash-bucket split rule over the GROUP id.
    */
  private def leakageSplitOracleSql(numHashes: Int, bands: Int, maxBucketSize: Int): String =
    s"""WITH RECURSIVE ${minhashPairsCte(numHashes, bands, maxBucketSize)},
       |nodes AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
       |reach(id, comp) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
       |comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
       |grouped AS (
       |  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS g
       |  FROM documents d LEFT JOIN comps c ON d.doc_id = c.id),
       |assigned AS (
       |  SELECT doc_id, g,
       |         CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id, g,
       |               (CAST((md5_number_lower(CAST(g AS VARCHAR)) >> 4) AS BIGINT) % 10000) AS b
       |        FROM grouped))
       |SELECT split, CAST(count(*) AS BIGINT) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       |       CAST(count(DISTINCT g) AS BIGINT) AS n_groups
       |FROM assigned GROUP BY split""".stripMargin

  private def minhashOracleSql(numHashes: Int, bands: Int, maxBucketSize: Int): String =
    s"""WITH ${minhashPairsCte(numHashes, bands, maxBucketSize)}
       |SELECT CAST(count(*) AS BIGINT) AS n_candidate_pairs FROM pairs""".stripMargin

  /** DuckDB twin of [[graft.operators.Dedup.components]] over the minhash
    * candidate pairs: transitive closure via a recursive CTE, then
    * min-reachable-id per node — the declarative fixpoint equivalent of the
    * engine's min-label propagation loop.
    */
  private def componentsOracleSql(numHashes: Int, bands: Int, maxBucketSize: Int): String =
    s"""WITH RECURSIVE ${minhashPairsCte(numHashes, bands, maxBucketSize)},
       |nodes AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
       |reach(id, comp) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
       |comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
       |sizes AS (SELECT comp, count(*) AS sz FROM comps GROUP BY comp)
       |SELECT CAST(count(*) AS BIGINT) AS n_components,
       |       CAST(sum(sz) AS BIGINT) AS n_clustered_docs,
       |       CAST(max(sz) AS BIGINT) AS max_component_size
       |FROM sizes""".stripMargin

  /** VALUES rows `(p, '+-+...')` for `nPlanes` hyperplanes over 64 dims —
    * generated from the SAME sign source the Spark expressions use.
    */
  private def planesValues(nPlanes: Int, dim: Int = 64, seed: Int = 42): String =
    (0 until nPlanes)
      .map(p => s"($p, '${graft.functions.VectorFunctions.planeSignString(dim, seed + p)}')")
      .mkString(", ")

  /** Shared SQL prelude: per-vector hyperplane bucket ids over `embeddings`. */
  private def bucketsSql(nPlanes: Int): String =
    s"""planes(p, s) AS (VALUES ${planesValues(nPlanes)}),
       |unn AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |               CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
       |sums AS (
       |  SELECT u.vec_id, pl.p,
       |         sum(u.x * CASE WHEN substr(pl.s, u.i, 1) = '+' THEN 1.0 ELSE -1.0 END) AS sm
       |  FROM unn u CROSS JOIN planes pl GROUP BY u.vec_id, pl.p),
       |buckets AS (
       |  SELECT vec_id, CAST(sum(CASE WHEN sm >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
       |  FROM sums GROUP BY vec_id)""".stripMargin

  /** DuckDB twin of [[graft.operators.Similarity.topKLsh]]. */
  private def annLshOracleSql(nPlanes: Int, probes: Int, k: Int): String =
    s"""WITH ${bucketsSql(nPlanes)},
       |qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = 0),
       |cand AS (
       |  SELECT b.vec_id FROM buckets b, qb
       |  WHERE b.vec_id <> 0 AND bit_count(xor(b.bucket, qb.qbucket)) <= $probes),
       |q AS (SELECT i, x FROM unn WHERE vec_id = 0),
       |v AS (SELECT vec_id, i, x FROM unn WHERE vec_id IN (SELECT vec_id FROM cand)),
       |sims AS (SELECT v.vec_id, sum(v.x * q.x) AS dot, sqrt(sum(v.x * v.x)) AS na
       |         FROM v JOIN q ON v.i = q.i GROUP BY v.vec_id),
       |nb AS (SELECT sqrt(sum(x * x)) AS nb FROM q)
       |SELECT vec_id, round(dot / (na * (SELECT nb FROM nb)), 6) AS sim FROM sims
       |ORDER BY dot / (na * (SELECT nb FROM nb)) DESC, vec_id
       |LIMIT $k""".stripMargin

  /** DuckDB twin of [[graft.operators.Similarity.buildIvf]] +
    * [[graft.operators.Similarity.topKIvf]]: deterministic seed rows (first
    * k by id), argmax assignment, one Lloyd step, probe the best `nProbes`
    * cells, brute-force within them.
    */
  /** The deterministic IVF build + probe-cell selection, shared by the
    * full-precision and SQ8 oracles: everything through `probes` (the
    * `nProbes` best cells for the query).
    */
  private def ivfBuildPrefix(
      kCentroids: Int, nProbes: Int,
      /** SQL predicate over vec_id selecting the TRAINING slice: seeds and
        * the Lloyd refinement read only these rows, while assignment (and
        * search) covers every vector — which is exactly the state an
        * [[graft.operators.Similarity.appendToIvf]] of the complement
        * produces, since appends assign against the frozen centroids.
        */
      trainPred: String = "TRUE"): String =
    s"""${ivfAssignCtes(kCentroids, trainPred)},
       |qv AS (SELECT generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS x
       |       FROM embeddings WHERE vec_id = 0),
       |qcos AS (
       |  SELECT c.cid, sum(q.x * c.c) AS dot,
       |         sqrt(sum(q.x * q.x)) AS na, sqrt(sum(c.c * c.c)) AS nb
       |  FROM qv q JOIN cents c ON q.i = c.i GROUP BY c.cid),
       |probes AS (
       |  SELECT cid FROM qcos
       |  ORDER BY (CASE WHEN na > 0 AND nb > 0 THEN dot / (na * nb) ELSE 0 END) DESC
       |  LIMIT $nProbes)""".stripMargin

  /** The deterministic one-Lloyd IVF build through the final assignment
    * (`assign2` over every vector against the frozen `cents`) — the exact
    * state a [[graft.operators.Similarity.buildIvf]]-then-[[graft.operators
    * .Similarity.appendToIvf]] sequence leaves on disk.
    */
  private def ivfAssignCtes(kCentroids: Int, trainPred: String = "TRUE"): String =
    s"""WITH unn AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings WHERE vec_id <> 0),
       |train AS (SELECT * FROM unn WHERE $trainPred),
       |seeds AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
       |  FROM (SELECT DISTINCT vec_id FROM train ORDER BY vec_id LIMIT $kCentroids)),
       |seedvec AS (SELECT s.cid, u.i, u.x FROM seeds s JOIN train u ON u.vec_id = s.vec_id),
       |cos1 AS (
       |  SELECT u.vec_id, sv.cid, sum(u.x * sv.x) AS dot,
       |         sqrt(sum(u.x * u.x)) AS na, sqrt(sum(sv.x * sv.x)) AS nb
       |  FROM train u JOIN seedvec sv ON u.i = sv.i GROUP BY u.vec_id, sv.cid),
       |assign1 AS (
       |  SELECT vec_id,
       |         (max({'sim': CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0 END, 'cid': cid})).cid AS cid
       |  FROM cos1 GROUP BY vec_id),
       |cents AS (
       |  SELECT a.cid, u.i, CAST(CAST(avg(u.x) AS FLOAT) AS DOUBLE) AS c
       |  FROM assign1 a JOIN train u USING (vec_id) GROUP BY a.cid, u.i),
       |cos2 AS (
       |  SELECT u.vec_id, c.cid, sum(u.x * c.c) AS dot,
       |         sqrt(sum(u.x * u.x)) AS na, sqrt(sum(c.c * c.c)) AS nb
       |  FROM unn u JOIN cents c ON u.i = c.i GROUP BY u.vec_id, c.cid),
       |assign2 AS (
       |  SELECT vec_id,
       |         (max({'sim': CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0 END, 'cid': cid})).cid AS cid
       |  FROM cos2 GROUP BY vec_id)""".stripMargin

  /** DuckDB twin of [[graft.operators.Similarity.buildIvfKmeans]] (2 Lloyd
    * iterations) + [[graft.operators.Similarity.topKIvf]]. The update step
    * replays the fixed-point accumulation exactly: vectors quantized once at
    * 2²⁰, integer sums, `sum / n / scale` in the same association order, the
    * same double→float32 rounding of the centroid, and COALESCE carries a
    * starved cell's previous centroid like the Scala loop does.
    */
  /** The k-means build replay through the final assignment (`assign3`) —
    * shared by the search oracle and the cluster-size oracle.
    */
  /** `trainPred` restricts the k-means TRAINING set (seeds + mean steps);
    * the final `assign3` still covers every vector — the exact state a
    * train-slice `buildIvfKmeans` + frozen-centroid `appendToIvf` leaves
    * on disk. Default TRUE trains on everything (the original CTEs).
    */
  private def ivfKmeansBuildCtes(kCentroids: Int, trainPred: String = "TRUE"): String = {
    def cosAssign(fromCents: String, no: Int, src: String): String =
      s"""cos$no AS (
         |  SELECT u.vec_id, c.cid, sum(u.x * c.c) AS dot,
         |         sqrt(sum(u.x * u.x)) AS na, sqrt(sum(c.c * c.c)) AS nb
         |  FROM $src u JOIN $fromCents c ON u.i = c.i GROUP BY u.vec_id, c.cid),
         |assign$no AS (
         |  SELECT vec_id,
         |         (max({'sim': CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0 END, 'cid': cid})).cid AS cid
         |  FROM cos$no GROUP BY vec_id)""".stripMargin
    def fixedPointMean(fromAssign: String, prevCents: String, no: Int): String =
      s"""m$no AS (
         |  SELECT a.cid, q.i,
         |         CAST(CAST(CAST(sum(q.qx) AS DOUBLE) / count(*) / 1048576.0 AS FLOAT) AS DOUBLE) AS c
         |  FROM $fromAssign a JOIN qfix q USING (vec_id) GROUP BY a.cid, q.i),
         |c$no AS (SELECT p.cid, p.i, COALESCE(m.c, p.c) AS c
         |         FROM $prevCents p LEFT JOIN m$no m ON m.cid = p.cid AND m.i = p.i)""".stripMargin
    s"""WITH unn AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings WHERE vec_id <> 0),
       |tunn AS (SELECT * FROM unn WHERE $trainPred),
       |qfix AS (SELECT vec_id, i, CAST(round(x * 1048576.0) AS BIGINT) AS qx FROM tunn),
       |seeds AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
       |  FROM (SELECT DISTINCT vec_id FROM tunn ORDER BY vec_id LIMIT $kCentroids)),
       |c0 AS (SELECT s.cid, u.i, u.x AS c FROM seeds s JOIN tunn u ON u.vec_id = s.vec_id),
       |${cosAssign("c0", 1, "tunn")},
       |${fixedPointMean("assign1", "c0", 1)},
       |${cosAssign("c1", 2, "tunn")},
       |${fixedPointMean("assign2", "c1", 2)},
       |${cosAssign("c2", 3, "unn")}""".stripMargin
  }

  private def ivfKmeansOracleSql(
      kCentroids: Int, nProbes: Int, k: Int, trainPred: String = "TRUE"): String =
    s"""${ivfKmeansBuildCtes(kCentroids, trainPred)},
       |qv AS (SELECT generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS x
       |       FROM embeddings WHERE vec_id = 0),
       |qcos AS (
       |  SELECT c.cid, sum(q.x * c.c) AS dot,
       |         sqrt(sum(q.x * q.x)) AS na, sqrt(sum(c.c * c.c)) AS nb
       |  FROM qv q JOIN c2 c ON q.i = c.i GROUP BY c.cid),
       |probes AS (
       |  SELECT cid FROM qcos
       |  ORDER BY (CASE WHEN na > 0 AND nb > 0 THEN dot / (na * nb) ELSE 0 END) DESC
       |  LIMIT $nProbes),
       |v2 AS (SELECT u.vec_id, u.i, u.x FROM unn u JOIN assign3 a USING (vec_id)
       |       WHERE a.cid IN (SELECT cid FROM probes)),
       |sims AS (SELECT v2.vec_id, sum(v2.x * q.x) AS dot, sqrt(sum(v2.x * v2.x)) AS na
       |         FROM v2 JOIN qv q ON v2.i = q.i GROUP BY v2.vec_id),
       |nb2 AS (SELECT sqrt(sum(x * x)) AS nb FROM qv)
       |SELECT vec_id, round(dot / (na * (SELECT nb FROM nb2)), 6) AS sim FROM sims
       |ORDER BY dot / (na * (SELECT nb FROM nb2)) DESC, vec_id
       |LIMIT $k""".stripMargin

  /** Cluster-size histogram of the same k-means build. */
  private def kmeansSizesOracleSql(kCentroids: Int): String =
    s"""${ivfKmeansBuildCtes(kCentroids)}
       |SELECT cid, count(*) AS n_vecs FROM assign3 GROUP BY cid""".stripMargin

  /** Within-cell cosine pairs of the k-means build — the SemDeDup replay:
    * the same build CTEs as [[ivfKmeansBuildCtes]], a self-join on the
    * final assignment (`id_a < id_b`, same cell), pair cosine over the
    * unnested components, threshold filter on the UNROUNDED value (matching
    * [[graft.operators.Dedup.cosinePairsWithin]]).
    */
  private def semanticPairsCtes(kCentroids: Int, threshold: String): String =
    s"""${ivfKmeansBuildCtes(kCentroids)},
       |p0 AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM assign3 a JOIN assign3 b ON a.cid = b.cid AND a.vec_id < b.vec_id),
       |dots AS (
       |  SELECT p.id_a, p.id_b, sum(ua.x * ub.x) AS dot,
       |         sqrt(sum(ua.x * ua.x)) AS na, sqrt(sum(ub.x * ub.x)) AS nb
       |  FROM p0 p
       |  JOIN unn ua ON ua.vec_id = p.id_a
       |  JOIN unn ub ON ub.vec_id = p.id_b AND ub.i = ua.i
       |  GROUP BY p.id_a, p.id_b),
       |pairs AS (
       |  SELECT id_a, id_b,
       |         CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0 END AS cos
       |  FROM dots
       |  WHERE (CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0 END) >= $threshold)""".stripMargin

  private def semanticPairsOracleSql(kCentroids: Int, threshold: String): String =
    s"""${semanticPairsCtes(kCentroids, threshold)}
       |SELECT id_a, id_b, round(cos, 6) AS cos FROM pairs""".stripMargin

  /** [[semanticPairsCtes]] + the recursive-CTE transitive closure and the
    * canonical min-id keep rule (the dd_corpus_dedup oracle convention).
    */
  private def semanticDedupOracleSql(kCentroids: Int, threshold: String): String =
    s"""${semanticPairsCtes(kCentroids, threshold).replaceFirst("WITH ", "WITH RECURSIVE ")},
       |nodes AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
       |reach(id, comp) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
       |comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
       |drops AS (SELECT id FROM comps WHERE id <> comp)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id <> 0) -
       |         (SELECT CAST(count(*) AS BIGINT) FROM drops) AS n_kept,
       |       (SELECT CAST(sum(vec_id) AS BIGINT) FROM embeddings WHERE vec_id <> 0) -
       |         (SELECT CAST(coalesce(sum(id), 0) AS BIGINT) FROM drops) AS sum_kept_ids""".stripMargin

  private def ivfOracleSql(
      kCentroids: Int, nProbes: Int, k: Int, trainPred: String = "TRUE",
      /** SQL predicate over the embeddings row selecting which CANDIDATES
        * may score (metadata-filtered search); probing is unchanged.
        */
      candPred: String = "TRUE"): String =
    s"""${ivfBuildPrefix(kCentroids, nProbes, trainPred)},
       |v2 AS (SELECT u.vec_id, u.i, u.x FROM unn u JOIN assign2 a USING (vec_id)
       |       WHERE a.cid IN (SELECT cid FROM probes)
       |         AND u.vec_id IN (SELECT vec_id FROM embeddings WHERE $candPred)),
       |sims AS (SELECT v2.vec_id, sum(v2.x * q.x) AS dot, sqrt(sum(v2.x * v2.x)) AS na
       |         FROM v2 JOIN qv q ON v2.i = q.i GROUP BY v2.vec_id),
       |nb2 AS (SELECT sqrt(sum(x * x)) AS nb FROM qv)
       |SELECT vec_id, round(dot / (na * (SELECT nb FROM nb2)), 6) AS sim FROM sims
       |ORDER BY dot / (na * (SELECT nb FROM nb2)) DESC, vec_id
       |LIMIT $k""".stripMargin

  /** DuckDB twin of [[graft.operators.Similarity.topKIvfSq8]]: identical
    * build + probe selection, int8 scoring within the probed cells (the
    * same quantization replay as the brute-force quantized oracle).
    */
  private def ivfSq8OracleSql(kCentroids: Int, nProbes: Int, k: Int): String =
    s"""${ivfBuildPrefix(kCentroids, nProbes)},
       |cand AS (SELECT vec_id FROM assign2 WHERE cid IN (SELECT cid FROM probes)),
       |m AS (
       |  SELECT vec_id,
       |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
       |  FROM embeddings),
       |codes AS (
       |  SELECT e.vec_id,
       |         list_transform(e.embedding,
       |           x -> CAST(round(CAST(x AS DOUBLE) * (CASE WHEN m.maxabs > 0 THEN 127.0 / m.maxabs ELSE 0 END)) AS BIGINT)) AS q
       |  FROM embeddings e JOIN m USING (vec_id)),
       |unq AS (SELECT vec_id, generate_subscripts(q, 1) AS i, unnest(q) AS qx FROM codes),
       |qv2 AS (SELECT i, qx FROM unq WHERE vec_id = 0),
       |cv AS (SELECT u.vec_id, u.i, u.qx FROM unq u JOIN cand USING (vec_id)),
       |sims2 AS (
       |  SELECT c.vec_id, sum(c.qx * q.qx) AS dot_q, sum(c.qx * c.qx) AS nsq_q
       |  FROM cv c JOIN qv2 q ON c.i = q.i GROUP BY c.vec_id),
       |qn AS (SELECT sqrt(CAST(sum(qx * qx) AS DOUBLE)) AS nq FROM qv2),
       |scored AS (
       |  SELECT vec_id, CAST(dot_q AS BIGINT) AS dot_q, CAST(nsq_q AS BIGINT) AS nsq_q,
       |         CASE WHEN sqrt(CAST(nsq_q AS DOUBLE)) * (SELECT nq FROM qn) > 0
       |              THEN CAST(dot_q AS DOUBLE) / (sqrt(CAST(nsq_q AS DOUBLE)) * (SELECT nq FROM qn))
       |              ELSE 0 END AS sim
       |  FROM sims2)
       |SELECT vec_id, dot_q, nsq_q, round(sim, 6) AS sim_q
       |FROM scored ORDER BY sim DESC, vec_id LIMIT $k""".stripMargin

  /** DuckDB twin of [[graft.operators.Dedup.dedupCorpus]] phase counts:
    * exact keep-min by text (equivalent to grouping by sha2(text)), the
    * shared minhash pairs CTE over the exact-kept set, recursive-closure
    * clusters, canonical keep.
    */
  private def corpusDedupOracleSql(numHashes: Int, bands: Int, maxBucketSize: Int): String =
    s"""WITH RECURSIVE exact_keep AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
       |docs2 AS (SELECT d.doc_id, d.text FROM documents d JOIN exact_keep USING (doc_id)),
       |${minhashPairsCte(numHashes, bands, maxBucketSize, source = "docs2")},
       |nodes AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
       |reach(id, comp) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
       |comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
       |drops AS (SELECT id FROM comps WHERE id <> comp)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_total,
       |       (SELECT CAST(count(*) AS BIGINT) FROM docs2) AS n_exact_kept,
       |       (SELECT CAST(count(*) AS BIGINT) FROM docs2) -
       |         (SELECT CAST(count(*) AS BIGINT) FROM drops) AS n_kept""".stripMargin

  /** DuckDB twin of [[graft.operators.Dedup.dedupCorpus]] with
    * `preferCol = n_chars`: argmax-by-(n_chars desc, id asc) keep rule at
    * both the exact phase and the cluster phase.
    */
  private def dedupPreferOracleSql(numHashes: Int, bands: Int, maxBucketSize: Int): String =
    s"""WITH RECURSIVE exact_keep AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY n_chars DESC, doc_id) AS rk
       |    FROM documents) WHERE rk = 1),
       |docs2 AS (SELECT d.doc_id, d.text, d.n_chars FROM documents d JOIN exact_keep USING (doc_id)),
       |${minhashPairsCte(numHashes, bands, maxBucketSize, source = "docs2")},
       |nodes AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
       |reach(id, comp) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
       |comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
       |ranked AS (
       |  SELECT c.id, row_number() OVER (
       |    PARTITION BY c.comp ORDER BY d.n_chars DESC, c.id) AS rk
       |  FROM comps c JOIN docs2 d ON c.id = d.doc_id),
       |drops AS (SELECT id FROM ranked WHERE rk > 1)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM docs2) -
       |         (SELECT CAST(count(*) AS BIGINT) FROM drops) AS n_kept,
       |       (SELECT CAST(sum(doc_id) AS BIGINT) FROM docs2) -
       |         (SELECT CAST(coalesce(sum(id), 0) AS BIGINT) FROM drops) AS sum_kept_ids""".stripMargin

  /** DuckDB twin of [[graft.operators.Similarity.nnJoinIvf]] over the
    * deterministic build of [[graft.operators.Similarity.buildIvf]] on the
    * corpus half (vec_id % 20 <> 0): seed rows, argmax assignment, one
    * Lloyd step, re-assignment; then every query (vec_id % 20 = 0) ranks
    * cells (ties toward larger cid), probes the best `nProbes`, and takes
    * its top-k within them (ties toward larger neighbor id).
    */
  private def nnJoinIvfOracleSql(kCentroids: Int, nProbes: Int, k: Int): String =
    s"""WITH unn AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings WHERE vec_id % 20 <> 0),
       |seeds AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
       |  FROM (SELECT DISTINCT vec_id FROM unn ORDER BY vec_id LIMIT $kCentroids)),
       |seedvec AS (SELECT s.cid, u.i, u.x FROM seeds s JOIN unn u ON u.vec_id = s.vec_id),
       |cos1 AS (
       |  SELECT u.vec_id, sv.cid, sum(u.x * sv.x) AS dot,
       |         sqrt(sum(u.x * u.x)) AS na, sqrt(sum(sv.x * sv.x)) AS nb
       |  FROM unn u JOIN seedvec sv ON u.i = sv.i GROUP BY u.vec_id, sv.cid),
       |assign1 AS (
       |  SELECT vec_id,
       |         (max({'sim': CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0 END, 'cid': cid})).cid AS cid
       |  FROM cos1 GROUP BY vec_id),
       |cents AS (
       |  SELECT a.cid, u.i, CAST(CAST(avg(u.x) AS FLOAT) AS DOUBLE) AS c
       |  FROM assign1 a JOIN unn u USING (vec_id) GROUP BY a.cid, u.i),
       |cos2 AS (
       |  SELECT u.vec_id, c.cid, sum(u.x * c.c) AS dot,
       |         sqrt(sum(u.x * u.x)) AS na, sqrt(sum(c.c * c.c)) AS nb
       |  FROM unn u JOIN cents c ON u.i = c.i GROUP BY u.vec_id, c.cid),
       |assign2 AS (
       |  SELECT vec_id,
       |         (max({'sim': CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0 END, 'cid': cid})).cid AS cid
       |  FROM cos2 GROUP BY vec_id),
       |qv AS (SELECT vec_id AS qid, generate_subscripts(embedding, 1) AS i,
       |              CAST(unnest(embedding) AS DOUBLE) AS x
       |       FROM embeddings WHERE vec_id % 20 = 0),
       |qcos AS (
       |  SELECT q.qid, c.cid, sum(q.x * c.c) AS dot,
       |         sqrt(sum(q.x * q.x)) AS na, sqrt(sum(c.c * c.c)) AS nb
       |  FROM qv q JOIN cents c ON q.i = c.i GROUP BY q.qid, c.cid),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
       |      ORDER BY (CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0 END) DESC, cid DESC) AS rn
       |    FROM qcos) WHERE rn <= $nProbes),
       |cand AS (SELECT p.qid, a.vec_id AS nid FROM probes p JOIN assign2 a ON a.cid = p.cid),
       |sims AS (
       |  SELECT d.qid, d.nid, sum(v.x * q.x) AS dot,
       |         sqrt(sum(v.x * v.x)) AS na, sqrt(sum(q.x * q.x)) AS nb
       |  FROM cand d
       |  JOIN unn v ON v.vec_id = d.nid
       |  JOIN qv q ON q.qid = d.qid AND q.i = v.i
       |  GROUP BY d.qid, d.nid),
       |ranked AS (
       |  SELECT qid, nid, CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0 END AS sim,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY (CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0 END) DESC, nid DESC) AS rn
       |  FROM sims)
       |SELECT qid AS vec_id, nid AS neighbor_id, round(sim, 6) AS sim
       |FROM ranked WHERE rn <= $k""".stripMargin

  /** DuckDB twin of [[graft.operators.Similarity.nnJoin]]: queries are
    * `vec_id % 20 = 0`, corpus the rest; candidates within Hamming
    * `probes` of the query bucket; per-query top-k by (sim DESC, id DESC)
    * — the `top_k(struct(sim, id))` tie-break.
    */
  private def nnJoinOracleSql(nPlanes: Int, probes: Int, k: Int): String =
    s"""WITH ${bucketsSql(nPlanes)},
       |qb AS (SELECT vec_id AS qid, bucket FROM buckets WHERE vec_id % 20 = 0),
       |cb AS (SELECT vec_id AS cid, bucket FROM buckets WHERE vec_id % 20 <> 0),
       |cand AS (
       |  SELECT q.qid, c.cid FROM qb q JOIN cb c
       |  ON bit_count(xor(q.bucket, c.bucket)) <= $probes),
       |qv AS (SELECT vec_id AS qid, i, x FROM unn WHERE vec_id % 20 = 0),
       |cv AS (SELECT vec_id AS cid, i, x FROM unn WHERE vec_id % 20 <> 0),
       |sims AS (
       |  SELECT d.qid, d.cid, sum(c2.x * q2.x) AS dot,
       |         sqrt(sum(c2.x * c2.x)) AS na, sqrt(sum(q2.x * q2.x)) AS nb
       |  FROM cand d
       |  JOIN cv c2 ON c2.cid = d.cid
       |  JOIN qv q2 ON q2.qid = d.qid AND q2.i = c2.i
       |  GROUP BY d.qid, d.cid),
       |ranked AS (
       |  SELECT qid, cid,
       |         CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0 END AS sim,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY (CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0 END) DESC, cid DESC) AS rn
       |  FROM sims)
       |SELECT qid AS vec_id, cid AS neighbor_id, round(sim, 6) AS sim
       |FROM ranked WHERE rn <= $k""".stripMargin

  /** DuckDB twin of [[graft.operators.Dedup.cosineCandidates]] + count. */
  private def cosineLshOracleSql(nPlanes: Int, threshold: Double, maxBucketSize: Int): String =
    s"""WITH ${bucketsSql(nPlanes)},
       |capped AS (
       |  SELECT vec_id, bucket FROM (
       |    SELECT vec_id, bucket, count(*) OVER (PARTITION BY bucket) AS bn FROM buckets)
       |  WHERE bn <= $maxBucketSize),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM capped a JOIN capped b USING (bucket) WHERE a.vec_id < b.vec_id),
       |dots AS (
       |  SELECT p.id_a, p.id_b, sum(x1.x * x2.x) AS dot,
       |         sqrt(sum(x1.x * x1.x)) AS na, sqrt(sum(x2.x * x2.x)) AS nb
       |  FROM pairs p
       |  JOIN unn x1 ON x1.vec_id = p.id_a
       |  JOIN unn x2 ON x2.vec_id = p.id_b AND x1.i = x2.i
       |  GROUP BY p.id_a, p.id_b),
       |sel AS (
       |  SELECT DISTINCT id_a, id_b,
       |         round(CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0 END, 6) AS cos
       |  FROM dots
       |  WHERE (CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0 END) >= $threshold)
       |SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM sel""".stripMargin
}
