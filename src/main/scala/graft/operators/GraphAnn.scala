package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{In, InterpretedOrdering, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, StructField,
  StructType}

import graft.expressions.VecDot
import graft.functions.VectorFunctions._

/** Graph-based approximate nearest-neighbor search — the NSW family (Malkov
  * et al., "Approximate nearest neighbor algorithm based on navigable small
  * world graphs", Information Systems 2014; the single-layer ancestor of
  * HNSW and of DiskANN's Vamana graph), re-expressed for a bulk-synchronous
  * relational engine.
  *
  * The classic formulation is pointer-chasing: greedy walk from an entry
  * point, hop to whichever neighbor is closer to the query, keep a beam of
  * the best candidates seen. This operator keeps that shape and splits it
  * between the cluster and the driver:
  *
  *   - the INDEX is two tables: the vectors and an undirected k-NN edge
  *     list (built once with the existing LSH two-sided join — no
  *     all-pairs), and it stays distributed;
  *   - one SEARCH HOP for a whole query COHORT is ONE job: the hop's newly
  *     discovered node ids go out as an `isin` filter, one scan of
  *     `vectors ∪ edges` returns their vectors and adjacency lists, and the
  *     driver scores them, drops nodes already seen and picks the next
  *     beam. No exchange, no join, no per-hop checkpoint — the probe-there,
  *     merge-here shape of REPOSE (ICDE 2021);
  *   - the per-query visited set lives in the driver and is bounded by the
  *     cohort, never the corpus: `nSeeds + maxHops × beam × degree` rows
  *     per query. `maxHops` bounds the rounds; a node is scored at most
  *     once per query, so the search also stops the moment a hop discovers
  *     nothing new.
  *
  * Why this shape at 100 TB: IVF probes read whole cells (`nProbes/k` of
  * the corpus per query); a graph search reads `beam × degree` vectors per
  * hop regardless of corpus size, which is why graph indexes win at high
  * recall on billion-vector corpora. Per-hop data scales with the query
  * cohort; the scan itself prunes to the requested ids as far as the
  * at-rest layout's row-group statistics allow.
  *
  * Determinism: seeds are the `nSeeds` smallest vector ids, similarities
  * round to 6dp BEFORE ranking, and `top_k(struct(sim, id))` breaks ties
  * toward the larger id — the battery's shared cross-engine tie rule. The
  * driver ranks with Catalyst's own ordering and scores with the executors'
  * kernel, so the answers are the ones a distributed walk computes.
  */
object GraphAnn {

  /** Materialize `df` hash-partitioned on `key` such that later equi-joins
    * on `key` leave it IN PLACE: `Dataset.localCheckpoint` records the
    * physical plan's outputPartitioning into its `LogicalRDD` — but only
    * when AQE is off for that one job (under AQE the recorded partitioning
    * is `UnknownPartitioning`, and every downstream join re-exchanges the
    * table). The job runs in a cloned, AQE-off session
    * ([[org.apache.spark.sql.graft.CheckpointBridge.withAqeOff]]) so the
    * shared session conf is never toggled: concurrent pins can't race each
    * other's save/restore, and unrelated queries on the session never see
    * AQE off. The wrapped job is a plain shuffle of already-materialized
    * rows, so losing AQE for it costs nothing.
    */
  private def pinPartitionedOn(
      df: DataFrame, key: String,
      /** Caller-measured byte size, when the caller knows it better than
        * Catalyst: the edge-table pins sit above kNN-join/hub-union plans
        * whose join-multiplied estimates blow past any real size, which
        * silently kept those pins at full parallelism. The builders size it
        * from COUNTED checkpoint rows instead (see
        * [[buildGraph]]/[[buildGraphDescent]]).
        */
      bytesHint: Option[BigInt] = None): DataFrame = {
    // partition count sized to the pinned table's DATA (64 MB per
    // partition off the Catalyst estimate), capped by cluster parallelism —
    // the pin job runs AQE-off (that is what records the partitioning), so
    // without an explicit count it paid the full static shuffle-partition
    // width on tables of any size; an unknown/huge estimate keeps the
    // full-parallelism behavior.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val bytes = bytesHint.getOrElse(df.queryExecution.optimizedPlan.stats.sizeInBytes)
    org.apache.spark.sql.graft.CheckpointBridge.withAqeOff(df)(
      _.repartition(pinWidth(bytes, par), col(key)).localCheckpoint())
  }

  /** Pin width for `bytes` of pinned data: 64 MB per partition, at least
    * one, capped at cluster parallelism. Pure — unit-pinned by
    * OptimizationR15Spec independent of the test harness' core count.
    */
  private[operators] def pinWidth(bytes: BigInt, par: Int): Int = {
    val target = BigInt(64L * 1024 * 1024)
    ((bytes + target - 1) / target).max(BigInt(1)).min(BigInt(par)).toInt
  }

  /** A graph ANN index: `vectors` (id, vec) and the undirected `edges`
    * (src, dst) of the k-NN graph over them. `hubIds` is the FROZEN routing
    * hub set chosen at build time (None when the graph was built without a
    * routing layer): persisted with the index so incremental appends and
    * per-query hub seeding keep referencing the ORIGINAL hub clique —
    * re-deriving hubs as "the corpus' smallest ids" would silently shift
    * the set when a later batch carries smaller ids, stranding new members
    * outside the ≤3-hop routing bound.
    */
  final case class AnnGraph(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      edges: DataFrame,
      hubIds: Option[DataFrame] = None
  )

  /** A planned graph-build configuration: the LSH kNN join's bucketing
    * (`nPlanes` hyperplanes, probe Hamming radius `probes`), the graph
    * degree, and the routing-layer width, with the model's predicted
    * true-neighbor capture probability for the audit trail.
    */
  final case class GraphBuildPlan(
      nPlanes: Int,
      probes: Int,
      degree: Int,
      hubs: Int,
      predictedCapture: Double,
      /** Query-side slices for the build's kNN join: per-pass shuffle is
        * `probedBuckets × n / buildBatches` vector rows, sized so one pass
        * spills within a 16 GB budget (see [[buildPlan]]'s shuffle-volume
        * note). 1 = single shot; the union of per-slice kNNs is EXACTLY
        * the single-shot edge set, so batching never changes results.
        */
      buildBatches: Int = 1,
      /** "lsh" = the single-shot wide-radius kNN join ([[buildGraph]]);
        * "descent" = cheap radius-1 init + NN-Descent refinement rounds
        * ([[buildGraphDescent]]). The planner switches to descent exactly
        * where the LSH path's probe-expansion shuffle would need batching
        * (volume > one host's spill budget): batching bounds per-pass
        * spill but not TOTAL shuffled bytes, while descent replaces the
        * vector-payload probe expansion with id-only candidate exchanges.
        */
      strategy: String = "lsh",
      /** NN-Descent refinement rounds when `strategy == "descent"`. */
      refineRounds: Int = 0
  )

  /** Choose `(nPlanes, probes, degree, hubs)` from corpus size and target
    * walk recall — the [[Dedup.lshPlan]] discipline applied to the graph
    * build, closing the measured recall cliff (radius-1 edges: recall@10
    * 0.97 at 2k vectors → 0.64 at 200k, the GraphPlanProbe sweep): at
    * scale the lever is the build's probe radius, paid once at index time,
    * and it should be CHOSEN from the corpus, not hand-tuned per run.
    *
    * The model, hyperplane-LSH collision algebra over the probe ball:
    *   - `nPlanes` targets a bucket occupancy band (`n / 2^b ≈ 48`): fewer
    *     planes crowd buckets (candidate cost grows linearly with
    *     occupancy — the b=11 probe point was 3× slower than b=12 for
    *     equal recall), more planes starve them.
    *   - a true-neighbor pair flips each hyperplane independently with
    *     probability `flipP` (θ/π for angle θ — 0.25 calibrated on the
    *     64-dim probe cloud at 200k; override per corpus), so the
    *     probability a true neighbor lies within Hamming radius `r` of the
    *     query's code is the binomial CDF `P(Bin(b, flipP) ≤ r)` — the
    *     planner takes the SMALLEST radius whose capture clears the
    *     requirement calibrated from measured (capture → walk-recall)
    *     pairs, then bounds expected candidate work per vector
    *     (`occupancy × probedBuckets ≤ maxCandidateFrac × n`, the
    *     [[Dedup.capBuckets]] cost discipline) by adding planes if the
    *     radius got expensive.
    *   - degree widens with the target (12 ≥ 0.7, 16 ≥ 0.9): the measured
    *     lift above 12 is small (+0.01 per +4 at 200k), so capture does
    *     the heavy lifting.
    *   - hubs ≈ √n clamped to [16, 256]: the routing layer needs only
    *     enough width that member→hub links stay short.
    *
    * Measured with the planned config (200k-vector probe cloud, hub-seeded
    * beam-48 search): recall@10 = 0.965 vs 0.64 for the unplanned radius-1
    * build — the ScaleProbe leg gates this stack at 0.75 with wide margin.
    * Hub seeding is load-bearing at this size (+0.20 recall over global
    * seeds: fixed smallest-id entry points strand far queries once the
    * corpus outgrows the hop budget), so searches over planned builds
    * should pass `seedHubs = plan.hubs`.
    */
  /** One term the candidate budget does NOT model: the build's probe
    * expansion shuffles `probedBuckets(b, r) × n` rows carrying the vector
    * payload — ~70 GB at 500k × radius-3 × 64 float dims, which is
    * cluster-scale volume (it spreads across executor disks) but can
    * exceed a single host's spill space. For single-host builds past a few
    * hundred thousand vectors, slice the corpus into fixed-size query
    * batches against the full bucket table (same total work, bounded
    * per-pass spill) — the incremental [[appendToGraph]] path is exactly
    * that discipline.
    */
  def buildPlan(
      n: Long,
      dim: Int,
      targetRecall: Double,
      flipP: Double = 0.25,
      maxCandidateFrac: Double = 0.10
  ): GraphBuildPlan = {
    require(n > 0, s"corpus size must be positive, got $n")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0,1), got $targetRecall")
    require(flipP > 0.0 && flipP < 0.5, s"flipP must be in (0,0.5), got $flipP")
    // capture the walk needs for a target recall: piecewise-linear through
    // the measured anchors (GraphPlanProbe, 200k-vector shifted cloud,
    // beam-32 global-seed search — hub seeding only adds margin) —
    // (walk recall, capture): (0.64, 0.245) at b10/r1, (0.755, 0.39) at
    // b12/r2/d12, (0.82, 0.65) at b12/r3/d12; conservative extension.
    def requiredCapture(r: Double): Double = {
      val anchors = Seq((0.64, 0.245), (0.755, 0.39), (0.82, 0.65), (0.95, 0.95))
      if (r <= anchors.head._1) anchors.head._2 * r / anchors.head._1
      else anchors.sliding(2).collectFirst {
        case Seq((r0, c0), (r1, c1)) if r <= r1 =>
          c0 + (c1 - c0) * (r - r0) / (r1 - r0)
      }.getOrElse(anchors.last._2)
    }
    def binomCdf(r: Int, b: Int, p: Double): Double =
      (0 to r).map { i =>
        var comb = 1.0
        (0 until i).foreach(j => comb = comb * (b - j) / (j + 1))
        comb * math.pow(p, i) * math.pow(1 - p, b - i)
      }.sum
    def probedBuckets(b: Int, r: Int): Double =
      (0 to r).map { i =>
        var comb = 1.0
        (0 until i).foreach(j => comb = comb * (b - j) / (j + 1))
        comb
      }.sum
    val need = requiredCapture(targetRecall)
    // occupancy-band planes, then the smallest adequate radius; if the
    // radius' candidate volume blows the budget, add planes and retry
    var b = math.max(4, math.min(16,
      math.ceil(math.log(n.toDouble / 48.0) / math.log(2.0)).toInt))
    var r = 0
    var done = false
    while (!done) {
      r = (0 to b).find(binomCdf(_, b, flipP) >= need).getOrElse(b)
      val occupancy = n.toDouble / math.pow(2.0, b)
      val candidates = occupancy * probedBuckets(b, r)
      // relative budget at scale, absolute floor at small n (2k candidates
      // per vector is trivial work regardless of corpus fraction — without
      // the floor, small corpora get pushed to huge empty bucket spaces
      // whose probe-row expansion costs more than the candidates saved)
      if (candidates <= math.max(maxCandidateFrac * n, 2000.0) || b >= 16) done = true
      else b += 1
    }
    val degree = if (targetRecall >= 0.9) 16 else if (targetRecall >= 0.7) 12 else 8
    val hubs = math.max(16, math.min(256, math.ceil(math.sqrt(n.toDouble)).toInt))
    // probe-expansion shuffle volume (vector payload rides every probe
    // row): slice the query side so one pass stays within ~16 GB of spill
    val rowBytes = 4.0 * dim + 48 // floats + id/bucket/norm/row overhead
    val volume = probedBuckets(b, r) * n.toDouble * rowBytes
    val batches = math.max(1, math.ceil(volume / (16.0 * 1024 * 1024 * 1024)).toInt)
    if (batches > 1)
      // the regime where the wide-radius LSH join stops making sense:
      // batching caps per-pass spill but still shuffles the FULL
      // probedBuckets × n vector payload (≈ volume bytes; measured ~70 GB
      // / 1,542 s at 500k × radius-3). NN-Descent builds the same-quality
      // graph from a radius-1 init (probe volume (1+b) × n — ~30× less)
      // plus refinement rounds whose candidate exchanges carry ids, not
      // vectors; each round's one vector-carrying exchange is
      // ≤ n × sample²/2 rows. Rounds: the paper's convergence is ~O(log n)
      // from RANDOM inits; from an LSH init 4 rounds reach the plateau
      // (measured at 500k — see BENCHNOTES), with early exit when a round
      // stops discovering.
      GraphBuildPlan(b, probes = 1, degree, hubs, binomCdf(1, b, flipP),
        buildBatches = 1, strategy = "descent", refineRounds = 4)
    else GraphBuildPlan(b, r, degree, hubs, binomCdf(r, b, flipP), batches)
  }

  /** The one-call planned build: dispatches on the plan's strategy —
    * wide-radius LSH kNN ([[buildGraph]]) where one pass fits, NN-Descent
    * ([[buildGraphDescent]]) where the LSH probe expansion would have to
    * batch.
    */
  def buildPlanned(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      plan: GraphBuildPlan,
      maxBucketSize: Int = 10000
  ): AnnGraph =
    if (plan.strategy == "descent")
      buildGraphDescent(df, idCol, vecCol, dim, degree = plan.degree,
        nPlanes = plan.nPlanes, refineRounds = plan.refineRounds,
        maxBucketSize = maxBucketSize, hubs = plan.hubs)
    else
      buildGraph(df, idCol, vecCol, dim, degree = plan.degree,
        nPlanes = plan.nPlanes, probes = plan.probes,
        maxBucketSize = maxBucketSize, hubs = plan.hubs,
        buildBatches = plan.buildBatches)

  /** Build the k-NN graph: each vector's `degree` approximate nearest
    * neighbors via the LSH two-sided join ([[Similarity.nnJoin]] — banded
    * buckets + per-query top-k, no all-pairs), symmetrized to an undirected
    * edge list. Symmetrization is the cheap half of NSW's insertion rule:
    * an edge discovered from either endpoint serves the walk in both
    * directions, which repairs most of the connectivity LSH bucketing
    * loses.
    *
    * Build cost is the kNN join (the one corpus-sized step — index
    * construction, amortized over every search); the edge list is
    * `≤ 2 × degree × N` id pairs. The build is EAGER: the directed kNN
    * result is localCheckpointed before symmetrization, so (a) the
    * union's two branches read one materialization instead of running the
    * kNN join twice, and (b) every search hop that touches `edges`
    * references the cached edge table, not the build plan — without the
    * cut, a 4-hop search re-executes the whole kNN join per hop.
    *
    * `probes` is a Hamming RADIUS over the `nPlanes`-bit bucket code (the
    * [[Similarity.nnJoin]] convention): radius 2 over 8 planes probes 37
    * of 256 buckets per vector.
    *
    * `hubs > 0` adds a LONG-RANGE ROUTING LAYER — the piece a plain kNN
    * graph lacks: NSW's small-world diameter comes from insertion order
    * (early points keep long links), and HNSW makes it an explicit layer.
    * The deterministic relational equivalent here: the `hubs` smallest ids
    * form a fully-connected hub clique, and every vector links to its
    * nearest hub (one broadcast scan — the hub table is `hubs` rows). Any
    * two vectors are then ≤3 routing hops apart (member → hub → hub →
    * member), and the kNN layer refines locally — without this, walk
    * length grows with corpus diameter and a fixed hop budget strands
    * distant queries.
    */
  def buildGraph(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      degree: Int = 8,
      nPlanes: Int = 8,
      probes: Int = 2,
      maxBucketSize: Int = 10000,
      hubs: Int = 0,
      /** Query-side build slices ([[GraphBuildPlan.buildBatches]]): the kNN
        * join's probe expansion shuffles `probedBuckets × n` VECTOR rows —
        * past a few hundred thousand vectors at radius ≥ 3 that exceeds a
        * single host's spill space. Each slice kNN-joins against the FULL
        * corpus, so the union equals the single-shot edge set exactly;
        * per-pass shuffle drops to `probedBuckets × n / buildBatches`.
        */
      buildBatches: Int = 1
  ): AnnGraph = {
    require(degree > 0, s"degree must be positive, got $degree")
    require(buildBatches >= 1, s"buildBatches must be >= 1, got $buildBatches")
    // degree+1 then drop self: the nearest "neighbor" of a vector is itself
    def sliceKnn(queries: DataFrame): DataFrame =
      Similarity.nnJoin(df, idCol, queries, idCol, vecCol, dim,
        k = degree + 1, nPlanes = nPlanes, probes = probes,
        maxBucketSize = maxBucketSize)
        .filter(col("neighbor_id") =!= col(idCol))
        .select(col(idCol).as("src"), col("neighbor_id").as("dst"))
        .localCheckpoint() // eager: one kNN execution per slice, hops reference the cache
    val slices =
      if (buildBatches <= 1) Seq(sliceKnn(df))
      else (0 until buildBatches).map { s =>
        sliceKnn(df.filter(pmod(xxhash64(col(idCol)), lit(buildBatches.toLong)) === s.toLong))
      }
    val directed = slices.reduce(_ unionByName _)
    val base = directed
      .unionByName(directed.select(col("dst").as("src"), col("src").as("dst")))
    val hubIds =
      if (hubs <= 0) None
      // hubs rows, localCheckpointed: the frozen routing set — appends and
      // hub seeding reference THIS table, never a re-derivation
      else Some(df.select(col(idCol)).orderBy(col(idCol)).limit(hubs).localCheckpoint())
    // the edge table IS the index: ONE materialization (otherwise every
    // search hop's fetch re-runs the symmetrize/hub-link/distinct pipeline
    // behind it), hash-partitioned on src. The pinning job is
    // distinct+repartition over id pairs read from the `directed`
    // checkpoint (the kNN join itself ran under AQE one step earlier), so
    // running it AQE-off costs nothing.
    // pin width from COUNTED slice rows (the counts run over the cached
    // checkpoint partitions — no recompute): the un-pinned edge plan's
    // Catalyst estimate rides the kNN join and over-sizes the pin to full
    // parallelism. Bound: symmetrization doubles `directed`, hub links add
    // ≤ 2 member rows per node (n ≤ directed rows) plus the hubs² clique;
    // ~32 B per two-long internal row.
    val directedRows = slices.map(s =>
      org.apache.spark.sql.graft.CheckpointBridge.internalRdd(s)
        .map(_.count()).getOrElse(s.count())).sum
    val edgeBytes = BigInt(4L * directedRows + hubs.toLong * hubs) * 32
    val edges = pinPartitionedOn(
      hubIds match {
        case None => base.distinct()
        case Some(h) => base.unionByName(hubEdges(df, idCol, vecCol, h)).distinct()
      },
      "src", Some(edgeBytes))
    // the pinned edge table is the index; the per-slice directed
    // checkpoints it folded are no longer referenced — release them
    slices.foreach(s => org.apache.spark.sql.graft.CheckpointBridge.internalRdd(s)
      .foreach(_.unpersist(blocking = false)))
    AnnGraph(df.select(col(idCol), col(vecCol)), idCol, vecCol, edges, hubIds)
  }

  /** NN-Descent graph build (Dong, Moses, Li — "Efficient k-nearest
    * neighbor graph construction for generic similarity measures",
    * WWW 2011), re-expressed relationally — the scale path where
    * [[buildGraph]]'s wide-radius LSH join stops making sense. The LSH
    * build's probe expansion shuffles `probedBuckets × n` rows EACH
    * CARRYING THE VECTOR PAYLOAD (~70 GB at 500k × radius-3 × 64 dims;
    * query-side batching bounds per-pass spill but not total bytes). This
    * build inverts the economics:
    *
    *   - INIT: one cheap radius-1 LSH kNN join — probe volume
    *     `(1 + nPlanes) × n` vector rows, ~30× less than radius-3;
    *     capture is weak (~10% at 500k) and that is fine, it only has to
    *     beat a random init;
    *   - REFINE (the NN-Descent observation: a neighbor of a neighbor is
    *     likely a neighbor): each round samples every node's best
    *     `sample` current neighbors (out ∪ in — best-first sampling),
    *     forms the per-node LOCAL JOIN (all pairs among a node's sampled
    *     neighbors, restricted to pairs with at least one NEW side — the
    *     paper's incremental-search pruning), anti-joins pairs already in
    *     the graph, scores the remainder, and folds them into the per-src
    *     top-`degree` adjacency. Candidate generation and dedup exchange
    *     ONLY id pairs; scoring pays one id-equi-join per side against
    *     the hash-pinned vector table — a single vector-carrying exchange
    *     of `≤ n × sample²/2` rows per round, independent of any probe
    *     radius;
    *   - rounds stop early when a round's surviving discoveries fall
    *     under 0.1% of the adjacency (the paper's δ termination).
    *
    * The directed state holds `(src, dst, sim, new)` per-src top-degree
    * rows — `n × degree` ids, rotated through one localCheckpoint per
    * round (the PageRank/walk discipline) so refinement holds a constant
    * number of materialized tables. Monotone by construction: a round's
    * per-src adjacency is the top-`degree` of a SUPERSET of the previous
    * round's pool, so each node's j-th-best similarity never regresses
    * (`onRound` exposes the nano-summed audit trail; GraphAnnSpec pins
    * the law).
    *
    * Output contract matches [[buildGraph]] exactly: symmetrized
    * undirected edges + optional hub routing layer, pinned
    * hash-partitioned on `src`.
    */
  def buildGraphDescent(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      degree: Int = 8,
      nPlanes: Int = 8,
      refineRounds: Int = 4,
      sampleNeighbors: Int = 0, // 0 → min(degree, 8)
      maxBucketSize: Int = 10000,
      hubs: Int = 0,
      /** Per-round audit hook `(round, sumSimMicro, newEdges)`: the
        * micro-unit integer sum of all adjacency sims (deterministic —
        * partition-invariant) and the count of edges the round added.
        * Round 0 reports the init state.
        */
      onRound: (Int, Long, Long) => Unit = (_, _, _) => ()
  ): AnnGraph = {
    require(degree > 0, s"degree must be positive, got $degree")
    require(refineRounds >= 0, s"refineRounds must be >= 0, got $refineRounds")
    val s = if (sampleNeighbors > 0) sampleNeighbors else math.min(degree, 8)

    // the scored-vector table, hash-pinned on id for the whole build: every
    // candidate scoring join fetches vectors IN PLACE; only id pairs travel
    val v = pinPartitionedOn(
      df.select(col(idCol).as("_nd_node"), col(vecCol).as("_nd_v"))
        .withColumn("_nd_w", norm(col("_nd_v"))),
      "_nd_node")
    val vRdd = org.apache.spark.sql.graft.CheckpointBridge.internalRdd(v)

    def topDeg(edges: DataFrame): DataFrame =
      edges.groupBy(col("_nd_src"))
        .agg(expr(s"top_k(struct(_nd_sim, _nd_dst, _nd_new), $degree)").as("_t"))
        .select(col("_nd_src"), explode(col("_t")).as("_x"))
        .select(col("_nd_src"), col("_x._nd_dst").as("_nd_dst"),
          col("_x._nd_sim").as("_nd_sim"), col("_x._nd_new").as("_nd_new"))

    // eager internal-row rotation (no external-Row round-trip on the
    // adjacency state each refinement round): the state holds ONE
    // checkpointed RDD, and rotating in a round's table releases the
    // previous one. The row count runs over the cached partitions.
    var held: Option[org.apache.spark.rdd.RDD[_]] = None
    def rotate(dfr: DataFrame): (DataFrame, Long) = {
      val ck = dfr.localCheckpoint()
      val rdd = org.apache.spark.sql.graft.CheckpointBridge.internalRdd(ck).getOrElse(
        throw new IllegalStateException(
          "buildGraphDescent: localCheckpoint exposed no checkpointed RDD, so the " +
            "rotated adjacency state could never be released"))
      held.foreach(_.unpersist(blocking = false))
      held = Some(rdd)
      (ck, rdd.count())
    }
    // deterministic micro-unit sum over the cached state — the audit value
    def sumSimMicro(st: DataFrame): Long =
      st.agg(coalesce(sum(round(col("_nd_sim") * 1e6).cast("long")), lit(0L)))
        .head().getLong(0)

    // round 0: the radius-1 initializer (degree+1 then drop self)
    val init = Similarity.nnJoin(df, idCol, df, idCol, vecCol, dim,
      k = degree + 1, nPlanes = nPlanes, probes = 1,
      maxBucketSize = maxBucketSize)
      .filter(col("neighbor_id") =!= col(idCol))
      .select(col(idCol).as("_nd_src"), col("neighbor_id").as("_nd_dst"),
        col("sim").as("_nd_sim"))
      .withColumn("_nd_new", lit(true))
    var (state, stateRows) = rotate(topDeg(init))
    onRound(0, sumSimMicro(state), stateRows)

    var roundNo = 0
    var converged = false
    while (roundNo < refineRounds && !converged) {
      // uniform neighbor sample over the undirected view (out ∪ in) — the
      // paper's ρ-sampling made deterministic: rank by a per-round hash of
      // the edge and keep s. NOT best-first: sampling a node's top-s by
      // similarity stagnates on clustered corpora (an exact-duplicate
      // clique's best neighbors are each other, so its local join only
      // ever re-proposes the clique — measured at 500k: round 1 added 49
      // edges and refinement died at the init's recall). The round number
      // salts the hash so successive rounds explore different slices of
      // each adjacency.
      val und = state.unionByName(
        state.select(col("_nd_dst").as("_nd_src"), col("_nd_src").as("_nd_dst"),
          col("_nd_sim"), col("_nd_new")))
      val sampled = und
        .withColumn("_nd_h", xxhash64(col("_nd_src"), col("_nd_dst"), lit(roundNo)))
        .groupBy(col("_nd_src"))
        .agg(expr(s"top_k(struct(_nd_h, _nd_dst, _nd_new), $s)").as("_t"))
        .select(col("_nd_src").as("_nd_mid"), explode(col("_t")).as("_x"))
        .select(col("_nd_mid"), col("_x._nd_dst").as("_nd_nbr"),
          col("_x._nd_new").as("_nd_isnew"))
      // the local join: pairs among each node's sampled neighbors, at
      // least one side new; unordered (a < b) so each pair scores once
      val pa = sampled.select(col("_nd_mid"), col("_nd_nbr").as("_a"),
        col("_nd_isnew").as("_an"))
      val pb = sampled.select(col("_nd_mid"), col("_nd_nbr").as("_b"),
        col("_nd_isnew").as("_bn"))
      val pairs = pa.join(pb, Seq("_nd_mid"))
        .filter(col("_a") < col("_b") && (col("_an") || col("_bn")))
        .select(col("_a"), col("_b")).distinct()
      // drop pairs the graph already has (either direction): their sims
      // are known, re-scoring them is pure waste
      val known = state.select(
        least(col("_nd_src"), col("_nd_dst")).as("_a"),
        greatest(col("_nd_src"), col("_nd_dst")).as("_b")).distinct()
      val cand = pairs.join(known, Seq("_a", "_b"), "left_anti")
      // score: id-only exchange into the pinned table on _a, then the one
      // vector-carrying exchange on _b; 6dp rounding BEFORE ranking
      val scored = cand
        .join(v.select(col("_nd_node").as("_a"), col("_nd_v").as("_av"),
          col("_nd_w").as("_aw")), Seq("_a"))
        .join(v.select(col("_nd_node").as("_b"), col("_nd_v").as("_bv"),
          col("_nd_w").as("_bw")), Seq("_b"))
        .select(col("_a"), col("_b"),
          round(cosineWithNorms(col("_av"), col("_bv"),
            col("_aw"), col("_bw")), 6).as("_nd_sim"))
      val additions = scored
        .select(col("_a").as("_nd_src"), col("_b").as("_nd_dst"), col("_nd_sim"))
        .unionByName(scored
          .select(col("_b").as("_nd_src"), col("_a").as("_nd_dst"), col("_nd_sim")))
        .withColumn("_nd_new", lit(true))
      val (next, nextRows) = rotate(topDeg(
        state.withColumn("_nd_new", lit(false)).unionByName(additions)))
      val nNew = next.filter(col("_nd_new")).count()
      state = next
      stateRows = nextRows
      roundNo += 1
      onRound(roundNo, sumSimMicro(state), nNew)
      // δ-termination: a round that improves < 0.1% of the adjacency has
      // converged — later rounds only get smaller
      if (nNew * 1000L <= stateRows) converged = true
    }

    val undirected = state.select(col("_nd_src").as("src"), col("_nd_dst").as("dst"))
    val base = undirected
      .unionByName(undirected.select(col("dst").as("src"), col("src").as("dst")))
    val hubIds =
      if (hubs <= 0) None
      else Some(df.select(col(idCol)).orderBy(col(idCol)).limit(hubs).localCheckpoint())
    val edges = pinPartitionedOn(
      hubIds match {
        case None => base.distinct()
        case Some(h) => base.unionByName(hubEdges(df, idCol, vecCol, h)).distinct()
      },
      // same counted-rows sizing as [[buildGraph]]'s edge pin, off the
      // adjacency state's measured row count
      "src", Some(BigInt(4L * stateRows + hubs.toLong * hubs) * 32))
    held.foreach(_.unpersist(blocking = false))
    vRdd.foreach(_.unpersist(blocking = false))
    AnnGraph(df.select(col(idCol), col(vecCol)), idCol, vecCol, edges, hubIds)
  }

  /** The routing layer of [[buildGraph]]: hub clique + member→nearest-hub
    * links, symmetrized. One broadcast pass over the corpus (the hub table
    * is `hubs` rows); per-member truncation through the native map-side
    * `top_k`.
    */
  private def hubVectors(
      df: DataFrame, idCol: String, vecCol: String, hubIds: DataFrame): DataFrame =
    df.select(col(idCol).as("_ga_hub"), col(vecCol).as("_ga_hv"))
      .join(hubIds.select(col(hubIds.columns.head).as("_ga_hub")), Seq("_ga_hub"))
      .withColumn("_ga_hn", norm(col("_ga_hv")))

  /** Symmetrized member ↔ nearest-hub links: one broadcast pass over the
    * members (the hub table is `hubs` rows), per-member truncation through
    * the native map-side `top_k`.
    */
  private def memberHubLinks(
      members: DataFrame, idCol: String, vecCol: String,
      hubVecs: DataFrame): DataFrame = {
    val nearest = members.select(col(idCol).as("_ga_m"), col(vecCol).as("_ga_mv"))
      .withColumn("_ga_mn", norm(col("_ga_mv")))
      .crossJoin(broadcast(hubVecs))
      .select(col("_ga_m"), col("_ga_hub"),
        round(cosineWithNorms(col("_ga_mv"), col("_ga_hv"),
          col("_ga_mn"), col("_ga_hn")), 6).as("_ga_hs"))
      .groupBy(col("_ga_m"))
      .agg(expr("top_k(struct(_ga_hs, _ga_hub), 1)").as("_ga_t"))
      .select(col("_ga_m").as("src"), explode(col("_ga_t")).as("_ga_x"))
      .select(col("src"), col("_ga_x._ga_hub").as("dst"))
      .filter(col("src") =!= col("dst"))
    nearest.unionByName(nearest.select(col("dst").as("src"), col("src").as("dst")))
  }

  private def hubEdges(
      df: DataFrame, idCol: String, vecCol: String, hubIds: DataFrame): DataFrame = {
    val hid = hubIds.select(col(hubIds.columns.head).as("_ga_hub"))
    val clique = hid.select(col("_ga_hub").as("src"))
      .crossJoin(hid.select(col("_ga_hub").as("dst")))
      .filter(col("src") =!= col("dst"))
    memberHubLinks(df, idCol, vecCol, hubVectors(df, idCol, vecCol, hubIds))
      .unionByName(clique)
  }

  /** Persist the index: vectors and edges as parquet, edges repartitioned
    * by `src` so each node's adjacency list lands in one file.
    */
  def writeGraph(graph: AnnGraph, path: String): Unit = {
    graph.vectors.write.mode(SaveMode.Overwrite).parquet(s"$path/vectors")
    graph.edges.repartition(col("src")).write.mode(SaveMode.Overwrite)
      .parquet(s"$path/edges")
    // the frozen routing hub set rides with the index — appendToGraph and
    // hub seeding read THIS, never a re-derivation over a grown corpus
    graph.hubIds match {
      case Some(h) => h.write.mode(SaveMode.Overwrite).parquet(s"$path/hubs")
      case None =>
        // rewriting a previously-hubbed path with a hub-less graph must
        // REMOVE the stale hubs/ dir: phantom hub ids would otherwise
        // survive the overwrite, and a hub-seeded search over the re-read
        // index would join its seeds against nodes that no longer exist —
        // silently returning zero rows.
        val hp = new org.apache.hadoop.fs.Path(s"$path/hubs")
        val fs = hp.getFileSystem(
          graph.vectors.sparkSession.sparkContext.hadoopConfiguration)
        if (fs.exists(hp)) fs.delete(hp, true)
    }
  }

  /** Read back a [[writeGraph]] index: `vectors`, `edges` and, when the
    * index has one, the frozen `hubs` set. Each table's schema comes from
    * one footer read in the driver, so reading the index runs no job; the
    * search's jobs are its own hops.
    */
  def readGraph(spark: SparkSession, path: String, idCol: String, vecCol: String): AnnGraph = {
    val hp = new org.apache.hadoop.fs.Path(s"$path/hubs")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AnnGraph(ParquetDirs.read(spark, s"$path/vectors"), idCol, vecCol,
      ParquetDirs.read(spark, s"$path/edges"),
      if (fs.exists(hp)) Some(ParquetDirs.read(spark, s"$path/hubs")) else None)
  }

  /** Incremental index maintenance — the IVF/BM25/MinHash/PQ append
    * discipline applied to the graph: a new batch kNN-joins against the
    * STORED corpus ∪ itself (the corpus is never re-linked, never re-read
    * beyond the one join), and the discovered edges append symmetrized.
    * This is NSW's actual insertion rule (link each arriving point to its
    * current approximate neighbors), which is why incremental construction
    * is the natural mode for this index family.
    *
    * Replay-safe: the batch anti-joins stored ids first, so a re-run after
    * a partial failure re-appends only what is missing and a fully-landed
    * batch is a no-op (no duplicate vectors — duplicated corpus rows would
    * surface as duplicate neighbors in search results). Edge rows may
    * duplicate across appends; [[search]] is insensitive to edge
    * multiplicity (each hop's candidates are a set of node ids).
    *
    * `hubs > 0` links each appended vector to its nearest FROZEN hub —
    * the hub id set persisted with the index at build time (`$path/hubs`,
    * the frozen-centroid discipline), so the routing layer keeps covering
    * new vectors without a rebuild AND without the set silently shifting
    * when a batch carries ids below the stored minimum. A pre-hub-set
    * index (no `hubs/` dir) refuses a hubbed append rather than guessing.
    */
  def appendToGraph(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      degree: Int = 8,
      nPlanes: Int = 8,
      probes: Int = 2,
      maxBucketSize: Int = 10000,
      hubs: Int = 0
  ): Unit = {
    val stored = readGraph(spark, path, idCol, vecCol)
    val fresh = batch.select(col(idCol), col(vecCol))
      .join(stored.vectors.select(col(idCol)), Seq(idCol), "left_anti")
      .localCheckpoint(false) // read twice below; and cut off the stored-read lineage
    if (fresh.isEmpty) return
    val knn = Similarity.nnJoin(
      stored.vectors.unionByName(fresh), idCol,
      fresh, idCol, vecCol, dim,
      k = degree + 1, nPlanes = nPlanes, probes = probes,
      maxBucketSize = maxBucketSize)
    val directed = knn.filter(col("neighbor_id") =!= col(idCol))
      .select(col(idCol).as("src"), col("neighbor_id").as("dst"), col("sim"))
      .localCheckpoint() // one kNN execution across the symmetrizing union
    val sym = directed
      .unionByName(directed.select(col("dst").as("src"), col("src").as("dst"),
        col("sim")))
    // per-src re-truncation at append time: symmetrization lands up to
    // `degree` REVERSE edges per append on a stored hot node, so without a
    // cap its degree grows unbounded across appends and the walk's bounded
    // per-hop fetch (queries × beam × degree ids) silently degrades. Cosine
    // is symmetric, so the kNN sim prices both directions; each append now
    // contributes at most `degree` kNN edges per touched src ([[compactGraph]]
    // heals the residual cross-append accumulation). Hub links are exempt —
    // routing edges are not similarity-ranked and must survive.
    val symCapped = sym
      .groupBy(col("src"))
      .agg(expr(s"top_k(struct(sim, dst), $degree)").as("_ga_t"))
      .select(col("src"), explode(col("_ga_t")).as("_ga_x"))
      .select(col("src"), col("_ga_x.dst").as("dst"))
    val newEdges =
      (if (hubs <= 0) symCapped
       else {
         val frozen = stored.hubIds.getOrElse(throw new IllegalStateException(
           s"appendToGraph(hubs=$hubs) on an index without a persisted hub set " +
             s"($path/hubs) — the graph was built with hubs=0. Rebuild with a " +
             "routing layer; deriving hubs from the grown corpus would shift " +
             "the clique and break the ≤3-hop routing bound."))
         symCapped.unionByName(memberHubLinks(fresh, idCol, vecCol,
           hubVectors(stored.vectors, idCol, vecCol, frozen)))
       })
        .distinct()
    newEdges.write.mode(SaveMode.Append).parquet(s"$path/edges")
    fresh.write.mode(SaveMode.Append).parquet(s"$path/vectors")
  }

  /** Fold a long-lived appended graph index back into shape — the
    * [[Dedup.compactLineIndex]] discipline applied to the one index family
    * that lacked it: each [[appendToGraph]] lands new `edges/` + `vectors/`
    * parquet files (per-file open cost dominates fragmented scans at
    * scale) and up to `degree` new edges per touched src (bounded per
    * append, unbounded across appends — hot nodes accumulate degree and
    * the walk's `queries × beam × degree` per-hop fetch grows with
    * them). Compaction heals both:
    *
    *   - replay-duplicate edges collapse (`distinct`);
    *   - the kNN layer re-truncates per-src to `maxDegree` by RE-SCORED
    *     similarity (vectors are the source of truth; edges store no sims)
    *     with the battery's (sim, dst) tie rule;
    *   - ROUTING edges (either endpoint in the frozen hub set) are exempt
    *     from the similarity cut — hub links are reachability, not
    *     similarity, and pruning them would strand members;
    *   - both dirs rewrite `src`-hash-partitioned (edges) / id-deduped
    *     (vectors) into `ceil(rows / rowsPerFile)` files, one per
    *     partition, then swap in via staged rename: the live dir moves
    *     aside to `.compact-bak` and is deleted only after the compacted
    *     tree is in place — a crash at any point leaves a recoverable dir.
    *
    * Scoring cost is one vector-carrying equi-join over the edge list
    * (`≤ appends × degree × N` id pairs — never corpus²), paid between
    * ingest waves like every other registry compaction here.
    */
  def compactGraph(
      spark: SparkSession,
      path: String,
      idCol: String,
      vecCol: String,
      maxDegree: Int,
      rowsPerFile: Long = 4000000L
  ): Unit = {
    require(maxDegree > 0, s"maxDegree must be positive, got $maxDegree")
    val stored = readGraph(spark, path, idCol, vecCol)
    val v = stored.vectors
      .dropDuplicates(idCol) // heal a replayed partial append
      .select(col(idCol).as("_ga_node"), col(vecCol).as("_ga_v"))
      .withColumn("_ga_n", norm(col("_ga_v")))
      .localCheckpoint(false)
    val edges = stored.edges.filter(col("src") =!= col("dst")).distinct()
    val (routing, knn) = stored.hubIds match {
      case Some(h) =>
        val hid = h.select(col(h.columns.head).as("_ga_hub")).localCheckpoint(false)
        val isHub = (c: String) => broadcast(hid.withColumnRenamed("_ga_hub", c))
        (edges.join(isHub("src"), Seq("src"), "left_semi")
          .unionByName(edges.join(isHub("dst"), Seq("dst"), "left_semi")
            .join(isHub("src"), Seq("src"), "left_anti"))
          .select(col("src"), col("dst")),
          edges.join(isHub("src"), Seq("src"), "left_anti")
            .join(isHub("dst"), Seq("dst"), "left_anti"))
      case None => (spark.emptyDataFrame, edges)
    }
    // re-score the kNN layer (one vector-carrying equi-join; the sim is
    // recomputed because the stored edge list is id pairs only), then the
    // per-src similarity cut with the shared (sim, dst) tie rule
    val scored = knn
      .join(v.select(col("_ga_node").as("src"), col("_ga_v").as("_sv"),
        col("_ga_n").as("_sn")), Seq("src"))
      .join(v.select(col("_ga_node").as("dst"), col("_ga_v").as("_dv"),
        col("_ga_n").as("_dn")), Seq("dst"))
      .select(col("src"), col("dst"),
        round(cosineWithNorms(col("_sv"), col("_dv"), col("_sn"), col("_dn")), 6)
          .as("_ga_sim"))
    val pruned = scored
      .groupBy(col("src"))
      .agg(expr(s"top_k(struct(_ga_sim, dst), $maxDegree)").as("_ga_t"))
      .select(col("src"), explode(col("_ga_t")).as("_ga_x"))
      .select(col("src"), col("_ga_x.dst").as("dst"))
    val finalEdges =
      (if (stored.hubIds.isDefined) pruned.unionByName(routing).distinct()
       else pruned)
        .localCheckpoint()
    val nEdgeFiles = math.max(1L, (finalEdges.count() + rowsPerFile - 1) / rowsPerFile).toInt
    val vKeep = v.select(col("_ga_node").as(idCol), col("_ga_v").as(vecCol))
      .localCheckpoint()
    val nVecFiles = math.max(1L, (vKeep.count() + rowsPerFile - 1) / rowsPerFile).toInt

    def swapIn(sub: String, df: DataFrame, nFiles: Int, partCol: String): Unit = {
      val live = s"$path/$sub"
      val tmp = live + ".compact-tmp"
      val bak = live + ".compact-bak"
      df.repartition(nFiles, col(partCol))
        .write.mode(SaveMode.Overwrite).parquet(tmp)
      val lp = new org.apache.hadoop.fs.Path(live)
      val tp = new org.apache.hadoop.fs.Path(tmp)
      val bp = new org.apache.hadoop.fs.Path(bak)
      val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(bp)) fs.delete(bp, true) // only a completed prior swap leaves one
      require(fs.rename(lp, bp),
        s"rename $live -> $bak failed; live index untouched, compaction aborted")
      if (!fs.rename(tp, lp)) {
        require(fs.rename(bp, lp),
          s"rename $tmp -> $live failed AND restoring $bak failed; " +
            s"index intact at $bak, compacted copy at $tmp — restore manually")
        fs.delete(tp, true)
        throw new IllegalStateException(
          s"rename $tmp -> $live failed; original index restored, compaction aborted")
      }
      fs.delete(bp, true)
      // out-of-band rename: Spark's FileStatusCache still lists the old
      // files — refresh or the next read dies FAILED_READ_FILE.FILE_NOT_EXIST
      spark.catalog.refreshByPath(live)
    }
    swapIn("edges", finalEdges, nEdgeFiles, "src")
    swapIn("vectors", vKeep, nVecFiles, idCol)
    Seq(finalEdges, vKeep, v).foreach(d =>
      org.apache.spark.sql.graft.CheckpointBridge.internalRdd(d)
        .foreach(_.unpersist(blocking = false)))
  }

  /** Beam search over the graph for a query cohort. Returns the per-query
    * top-`k` as `(queryIdCol, neighbor_id, sim)` — the [[Similarity.nnJoin]]
    * output shape, so the recall harness and downstream joins compose
    * unchanged. The answer is ranked in the driver and comes back as a
    * local DataFrame: reading it runs no job.
    *
    * `seedHubs > 0` switches entry-point selection from the global
    * `nSeeds` smallest ids to PER-QUERY seeds: each query starts from its
    * `nSeeds` most-similar members of the `seedHubs`-wide hub set (the
    * same smallest-ids rule the build's routing layer uses, so a
    * hub-built graph is seeded on its own routing nodes) — HNSW's
    * upper-layer descent, scored in the driver over the fetched hubs.
    * Personalized seeds start the walk near the answer, so the same
    * recall needs fewer hops.
    */
  def search(
      graph: AnnGraph,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      beam: Int = 16,
      maxHops: Int = 4,
      nSeeds: Int = 16,
      seedHubs: Int = 0
  ): DataFrame = {
    val rank = ranking(graph.vectors.schema(graph.idCol).dataType)
    visitFrame(graph, queries.schema(queryIdCol).dataType,
      walk(graph, queries, queryIdCol, queryVecCol, k, beam, maxHops, nSeeds, seedHubs) {
        (_, visited) => visited.flatMap(_.sorted(rank).take(k))
      }.flatten)
      .select(col("_ga_qid").as(queryIdCol), col("_ga_node").as("neighbor_id"),
        col("_ga_sim").as("sim"))
  }

  /** Filtered ANN through the graph — the DiskANN filtered-search shape:
    * the WALK runs unrestricted (routing needs the whole graph; a
    * predicate-respecting walk strands queries whose allowed set is
    * sparse), and the `allowed` id set applies before the final per-query
    * top-k, so every returned neighbor satisfies it.
    *
    * CONTRACT: returns `k` rows per query whenever `allowed` intersects the
    * corpus in ≥ `k` nodes. The walk alone cannot promise that — a
    * 1%-selective filter leaves most visited nodes disallowed — so queries
    * whose visited∩allowed falls short of `k` are re-answered EXACTLY:
    * their cohort brute-force-scores the allowed vectors (per-query result
    * is either wholly graph-walked or wholly exact — never a mix, so the
    * output is well-defined under replay). The fallback's cost regime is
    * complementary by construction: it only triggers when the filter is
    * selective, which is exactly when `allowed` is small — the scored
    * cross-product is `deficient-queries × |allowed|`, never corpus-sized
    * for the selectivities that trigger it. `fallback = false` restores the
    * best-effort walk-only behavior (monitoring probes that prefer speed
    * over fill).
    */
  def searchFiltered(
      graph: AnnGraph,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      allowed: DataFrame,
      beam: Int = 16,
      maxHops: Int = 4,
      nSeeds: Int = 16,
      seedHubs: Int = 0,
      fallback: Boolean = true
  ): DataFrame = {
    // resolve the allowed-id column BY NAME (`graph.idCol`) when present;
    // positional `columns.head` on a multi-column input silently
    // semi-joined on whatever happened to be first — an empty/wrong
    // filter with no error. A single-column input of any name is
    // unambiguous and stays accepted.
    val allowedIdName =
      if (allowed.columns.contains(graph.idCol)) graph.idCol
      else if (allowed.columns.length == 1) allowed.columns.head
      else throw new IllegalArgumentException(
        s"searchFiltered: allowed-id set has columns " +
          s"[${allowed.columns.mkString(", ")}] and none is the graph id " +
          s"column '${graph.idCol}' — pass a single-column DataFrame or " +
          s"name the id column '${graph.idCol}'.")
    val allowedIds = allowed.select(col(allowedIdName).as("_ga_node"))
    val qSchema = queries.select(col(queryIdCol), col(queryVecCol)).schema
    walk(graph, queries, queryIdCol, queryVecCol, k, beam, maxHops,
      nSeeds, seedHubs) { (slice, visited) =>
      val seen = visitFrame(graph, qSchema.head.dataType, visited.flatten)
      // materialized once (queries × k rows): the fallback plan reads the
      // cut three times (fill counts, the kept side, the deficient
      // anti-join) and would otherwise re-run the top-k per read
      val walkCut = finalCut(
        seen.join(allowedIds, Seq("_ga_node"), "left_semi"), queryIdCol, k)
        .localCheckpoint()
      if (!fallback) walkCut
      else {
        // queries the walk under-filled (< k allowed hits, incl. zero)
        val filled = walkCut.groupBy(col(queryIdCol))
          .agg(count(lit(1)).as("_ga_nhits"))
          .filter(col("_ga_nhits") >= k).select(col(queryIdCol))
        val deficient = org.apache.spark.sql.graft.LocalRows
          .frame(graph.vectors.sparkSession, qSchema, slice)
          .join(filled, Seq(queryIdCol), "left_anti")
        val allowedVecs = graph.vectors
          .select(col(graph.idCol).as("_ga_node"), col(graph.vecCol).as("_ga_v"))
          .join(allowedIds, Seq("_ga_node"), "left_semi")
          .withColumn("_ga_n", norm(col("_ga_v")))
        val exact = deficient
          .select(col(queryIdCol).as("_ga_qid"), col(queryVecCol).as("_ga_qv"))
          .withColumn("_ga_qn", norm(col("_ga_qv")))
          .crossJoin(allowedVecs)
          .select(col("_ga_qid"), col("_ga_node"),
            round(cosineWithNorms(col("_ga_qv"), col("_ga_v"),
              col("_ga_qn"), col("_ga_n")), 6).as("_ga_sim"))
        walkCut.join(deficient.select(col(queryIdCol)), Seq(queryIdCol), "left_anti")
          .unionByName(finalCut(exact, queryIdCol, k))
      }
    }.reduce(_ unionByName _).localCheckpoint()
  }

  private def finalCut(seen: DataFrame, queryIdCol: String, k: Int): DataFrame =
    seen.groupBy(col("_ga_qid"))
      .agg(expr(s"top_k(struct(_ga_sim, _ga_node), $k)").as("_ga_top"))
      .select(col("_ga_qid"), explode(col("_ga_top")).as("_ga_t"))
      .select(col("_ga_qid").as(queryIdCol),
        col("_ga_t._ga_node").as("neighbor_id"),
        col("_ga_t._ga_sim").as("sim"))

  /** Query rows per walk slice: the driver holds one slice's walk state
    * (≤ `nSeeds|seedHubs + maxHops × beam × degree` visited rows per query,
    * plus the vectors fetched for them) at a time. Every in-tree caller
    * fits in one slice: the CLI asks one query, the battery ≤100, the
    * probes ≤20.
    */
  private val WalkSliceQueries = 1024

  /** `top_k(struct(sim, node))`'s order: sim descending, then node
    * descending in Catalyst's order (binary `UTF8String` order for string
    * ids), over rows that start `(sim, node)`.
    */
  private def ranking(idType: DataType): Ordering[InternalRow] =
    InterpretedOrdering.forSchema(Seq(DoubleType, idType)).reverse

  /** Visited rows `(sim, node, hop, qid)` as a local DataFrame. */
  private def visitFrame(graph: AnnGraph, qidType: DataType, rows: Seq[InternalRow]): DataFrame =
    org.apache.spark.sql.graft.LocalRows.frame(graph.vectors.sparkSession, StructType(Seq(
      StructField("_ga_sim", DoubleType),
      StructField("_ga_node", graph.vectors.schema(graph.idCol).dataType),
      StructField("_ga_hop", IntegerType), StructField("_ga_qid", qidType))), rows)

  private def floatElems(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"graph search needs ARRAY<FLOAT|DOUBLE> vectors, got ${other.catalogString}")
  }

  /** [[norm]] in the driver. */
  private def normOf(v: ArrayData, isFloat: Boolean): java.lang.Double =
    Option(v).flatMap(a => Option(VecDot.dot(a, a, isFloat, isFloat)))
      .map(d => java.lang.Double.valueOf(math.sqrt(d))).orNull

  /** `round(cosineWithNorms(q, v, qn, vn), 6)` in the driver, bit-equal to
    * the executors' value: the same [[VecDot]] kernel, the same `qn × vn > 0`
    * guard under Catalyst's double order (a null norm fails it, NaN passes),
    * and Spark's `Round` (HALF_UP through `BigDecimal`; NaN and ±∞ pass).
    */
  private def roundedCosine(q: ArrayData, qFloat: Boolean, qn: java.lang.Double,
      v: ArrayData, vFloat: Boolean, vn: java.lang.Double): java.lang.Double =
    if (qn == null || vn == null || SQLOrderingUtil.compareDoubles(qn * vn, 0.0) <= 0) 0.0
    else Option(VecDot.dot(q, v, qFloat, vFloat)).map { d =>
      val c = d / (qn * vn)
      java.lang.Double.valueOf(if (c.isNaN || c.isInfinite) c
        else java.math.BigDecimal.valueOf(c).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
    }.orNull

  /** One hop's fetch: the vectors and adjacency lists of `ids` (Catalyst
    * values of the graph's id type) as `(_ga_node, _ga_v, _ga_dst, _ga_isv)`
    * rows — one scan of `vectors ∪ edges` under an `isin` filter, with no
    * exchange and no join, so a hop is one job at any corpus size.
    */
  private[graft] def hopFetch(graph: AnnGraph, ids: Seq[Any]): DataFrame = {
    val idType = graph.vectors.schema(graph.idCol).dataType
    def among(c: String) = org.apache.spark.sql.graft.ColumnBridge.toColumn(In(
      org.apache.spark.sql.graft.ColumnBridge.toExpression(col(c)), ids.map(Literal(_, idType))))
    graph.vectors.filter(among(graph.idCol))
      .select(col(graph.idCol).as("_ga_node"), col(graph.vecCol).as("_ga_v"),
        lit(null).cast(idType).as("_ga_dst"), lit(true).as("_ga_isv"))
      .unionByName(graph.edges.filter(among("src"))
        .select(col("src").cast(idType).as("_ga_node"),
          lit(null).cast(graph.vectors.schema(graph.vecCol).dataType).as("_ga_v"),
          col("dst").cast(idType).as("_ga_dst"), lit(false).as("_ga_isv")))
  }

  /** The beam walk, its per-query state in the driver. It collects the
    * cohort's `(qid, vec)` rows, picks and fetches the entry points once
    * (the `nSeeds` smallest ids, or the `seedHubs`-wide hub set), then
    * walks each slice of [[WalkSliceQueries]] queries in lockstep:
    *
    *   - round 0 scores each query's seeds (under hub seeding, its
    *     top-`nSeeds` hubs);
    *   - hop `h`'s frontier is the top-`beam` of the nodes first scored at
    *     hop `h`, and its candidates are the frontier's distinct neighbors
    *     minus the nodes the query already scored;
    *   - every query's candidates are fetched in ONE [[hopFetch]] job and
    *     scored, one visited row per vector row; the walk stops when no
    *     query has a candidate, or after `maxHops` hops.
    *
    * `finish` gets the slice's query rows and each query's visited rows
    * `(sim, node, hop, qid)`; a query with a null id walks nothing.
    * Nothing is persisted.
    */
  private def walk[R](
      graph: AnnGraph,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      beam: Int,
      maxHops: Int,
      nSeeds: Int,
      seedHubs: Int
  )(finish: (Seq[InternalRow], Seq[Seq[InternalRow]]) => R): Seq[R] = {
    require(k > 0 && beam >= k, s"need 0 < k <= beam, got k=$k beam=$beam")
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    require(nSeeds > 0, s"nSeeds must be positive, got $nSeeds")
    import scala.collection.mutable
    import org.apache.spark.sql.graft.LocalRows

    val idType = graph.vectors.schema(graph.idCol).dataType
    val vFloat = floatElems(graph.vectors.schema(graph.vecCol).dataType)
    val q = queries.select(col(queryIdCol), col(queryVecCol))
    val qidType = q.schema.head.dataType
    val qFloat = floatElems(q.schema(1).dataType)
    val qRows = LocalRows.collect(q).toSeq
    val qids = qRows.filterNot(_.isNullAt(0)).map(_.get(0, qidType))
    require(qids.distinct.size == qids.size,
      s"graph search: query ids in '$queryIdCol' must be unique")
    val rank = ranking(idType)

    // vectors (with norms) and adjacency lists fetched so far, by node id
    val vecs = mutable.HashMap.empty[Any, mutable.ArrayBuffer[(ArrayData, java.lang.Double)]]
    val adj = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Any]]
    val fetched = mutable.HashSet.empty[Any]
    def fetch(ids: Iterable[Any]): Unit = {
      val todo = ids.iterator.filter(n => n != null && !fetched(n)).toSeq.distinct
      if (todo.nonEmpty) LocalRows.collect(hopFetch(graph, todo)).foreach { r =>
        val node = r.get(0, idType)
        if (r.getBoolean(3)) {
          val v = if (r.isNullAt(1)) null else r.getArray(1)
          vecs.getOrElseUpdate(node, mutable.ArrayBuffer.empty) += ((v, normOf(v, vFloat)))
        } else if (!r.isNullAt(2))
          adj.getOrElseUpdate(node, mutable.ArrayBuffer.empty) += r.get(2, idType)
      }
      fetched ++= todo
    }
    // entry points, shared by every slice. A hub-built graph seeds on its
    // FROZEN routing set (persisted with the index — stable under appends);
    // only a hub-less graph falls back to "the seedHubs smallest ids"
    lazy val entry: Seq[Any] = {
      val ids =
        if (seedHubs <= 0)
          graph.vectors.select(col(graph.idCol)).orderBy(col(graph.idCol)).limit(nSeeds)
        else graph.hubIds match {
          case Some(h) => h.select(col(h.columns.head).as("_gh"))
            .orderBy(col("_gh")).limit(seedHubs).select(col("_gh").cast(idType))
          case None => graph.vectors.select(col(graph.idCol))
            .orderBy(col(graph.idCol)).limit(seedHubs)
        }
      val e = LocalRows.collect(ids).toSeq.map(_.get(0, idType))
      fetch(e)
      e
    }

    val slices = if (qRows.isEmpty) Iterator(Seq.empty) else qRows.grouped(WalkSliceQueries)
    slices.map { slice =>
      val live = slice.indices.filterNot(slice(_).isNullAt(0))
      val qv = slice.map(r => if (r.isNullAt(1)) null else r.getArray(1))
      val qn = qv.map(normOf(_, qFloat))
      val visited = slice.map(_ => mutable.ArrayBuffer.empty[InternalRow])
      val seen = slice.map(_ => mutable.HashSet.empty[Any])
      def sim(i: Int, v: (ArrayData, java.lang.Double)): java.lang.Double =
        roundedCosine(qv(i), qFloat, qn(i), v._1, vFloat, v._2)
      def score(i: Int, node: Any, hop: Int): Unit = vecs.get(node).foreach { vs =>
        seen(i) += node
        vs.foreach(v => visited(i) += InternalRow(sim(i, v), node, hop, slice(i).get(0, qidType)))
      }
      live.foreach { i =>
        val round0 =
          if (seedHubs <= 0) entry
          else entry.flatMap(h => vecs.getOrElse(h, Nil).map(v => InternalRow(sim(i, v), h)))
            .sorted(rank).take(nSeeds).map(_.get(1, idType))
        round0.foreach(score(i, _, 0))
      }
      var hop = 0
      var converged = false
      while (hop < maxHops && !converged) {
        val fresh = live.map { i =>
          visited(i).filter(_.getInt(2) == hop).sorted(rank).take(beam)
            .flatMap(h => adj.getOrElse(h.get(1, idType), Nil)).filterNot(seen(i)).distinct
        }
        converged = fresh.forall(_.isEmpty)
        if (!converged) {
          fetch(fresh.flatten)
          live.zip(fresh).foreach { case (i, ns) => ns.foreach(score(i, _, hop + 1)) }
        }
        hop += 1
      }
      val out = finish(slice, visited.map(_.toSeq))
      // the next slice starts from the entry points' rows alone
      if (live.nonEmpty) {
        val keep = entry.toSet
        Seq(vecs, adj).foreach(_.filterInPlace((n, _) => keep(n)))
        fetched.filterInPlace(keep)
      }
      out
    }.toList
  }
}
