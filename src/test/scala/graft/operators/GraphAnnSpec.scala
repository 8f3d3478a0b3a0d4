package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Graph-based ANN (NSW-style beam search, one index scan per hop): exact
  * laws on hand-built graphs, navigation, build invariants, and
  * persistence.
  */
class GraphAnnSpec extends SparkSpec {
  import spark.implicits._

  /** Unit-circle vectors at evenly spaced angles in [0, π/2]: cosine
    * similarity between two of them is cos(Δangle) — strictly monotone in
    * index distance, which makes nearest-neighbor structure exact and
    * obvious in the assertions.
    */
  private def circle(n: Int) = {
    val rows = (0 until n).map { i =>
      val a = (math.Pi / 2) * i / (n - 1)
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }
    rows.toDF("id", "vec")
  }

  /** Ring edges: i — i+1, both directions. Connected, diameter n−1. */
  private def ring(n: Int) = {
    val e = (0 until n - 1).flatMap(i =>
      Seq((i.toLong, (i + 1).toLong), ((i + 1).toLong, i.toLong)))
    e.toDF("src", "dst")
  }

  private def bruteTopK(corpus: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame, k: Int) =
    queries.select(col("id").as("_qid"), col("vec").as("_qv"))
      .crossJoin(corpus.select(col("id").as("_cid"), col("vec").as("_cv")))
      .withColumn("_sim", round(graft.functions.VectorFunctions.cosine(col("_qv"), col("_cv")), 6))
      .groupBy(col("_qid"))
      .agg(expr(s"top_k(struct(_sim, _cid), $k)").as("_top"))
      .select(col("_qid"), explode(col("_top")).as("_t"))
      .select(col("_qid").as("id"), col("_t._cid").as("neighbor_id"),
        col("_t._sim").as("sim"))

  test("full beam + connected graph + enough hops == brute force exactly") {
    val n = 24
    val vecs = circle(n)
    // ring graph: worst-case connectivity (diameter n−1); with beam ≥ n and
    // hops ≥ n every node is reachable and scored, so the beam search MUST
    // equal the brute-force top-k, ties and all
    val g = GraphAnn.AnnGraph(vecs, "id", "vec", ring(n))
    val queries = vecs.filter(col("id").isin(3L, 11L, 20L))
    val got = GraphAnn.search(g, queries, "id", "vec", k = 5,
      beam = n, maxHops = n, nSeeds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = bruteTopK(vecs, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
  }

  test("beam search navigates a ring from a far seed to the true neighborhood") {
    val n = 40
    val vecs = circle(n)
    val g = GraphAnn.AnnGraph(vecs, "id", "vec", ring(n))
    // query = the far end of the arc; the only seed is node 0, so reaching
    // id 39's neighborhood requires walking the whole ring through
    // strictly-improving frontiers
    val queries = vecs.filter(col("id") === 39L)
    val got = GraphAnn.search(g, queries, "id", "vec", k = 3,
      beam = 4, maxHops = n, nSeeds = 1)
      .collect().map(r => r.getLong(1)).toSet
    assert(got == Set(39L, 38L, 37L), s"expected the true top-3, got $got")
  }

  test("hop budget bounds the walk: zero hops returns seed-only results") {
    val n = 20
    val vecs = circle(n)
    val g = GraphAnn.AnnGraph(vecs, "id", "vec", ring(n))
    val queries = vecs.filter(col("id") === 19L)
    val got = GraphAnn.search(g, queries, "id", "vec", k = 2,
      beam = 4, maxHops = 0, nSeeds = 2)
      .collect().map(r => r.getLong(1)).toSet
    // only seeds 0 and 1 were ever scored
    assert(got == Set(0L, 1L))
  }

  test("buildGraph: undirected, no self edges, bounded degree") {
    val vecs = circle(32)
    val g = GraphAnn.buildGraph(vecs, "id", "vec", dim = 2, degree = 4,
      nPlanes = 2, probes = 4)
    val edges = g.edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    assert(edges.forall { case (s, d) => s != d }, "no self edges")
    val set = edges.toSet
    assert(set.forall { case (s, d) => set.contains((d, s)) }, "symmetric")
    val maxDeg = edges.groupBy(_._1).map(_._2.length).max
    assert(maxDeg <= 2 * 4 + 1, s"degree bounded by symmetrized k, got $maxDeg")
  }

  test("output has no duplicate (query, neighbor) pairs and respects k") {
    val n = 30
    val vecs = circle(n)
    val g = GraphAnn.AnnGraph(vecs, "id", "vec", ring(n))
    val queries = vecs.filter(col("id") % 7 === 0)
    val rows = GraphAnn.search(g, queries, "id", "vec", k = 4,
      beam = 8, maxHops = 6, nSeeds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == rows.toSet.size, "no (query, neighbor) duplicates")
    assert(rows.groupBy(_._1).forall(_._2.length <= 4))
  }

  test("search is invariant under input repartitioning") {
    val n = 30
    val vecs = circle(n)
    val g = GraphAnn.AnnGraph(vecs, "id", "vec", ring(n))
    val queries = vecs.filter(col("id") % 9 === 0)
    def run(gr: GraphAnn.AnnGraph, q: org.apache.spark.sql.DataFrame) =
      GraphAnn.search(gr, q, "id", "vec", k = 3, beam = 6, maxHops = 8, nSeeds = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = run(g, queries)
    val b = run(GraphAnn.AnnGraph(vecs.repartition(7), "id", "vec",
      ring(n).repartition(5)), queries.repartition(3))
    assert(a == b)
  }

  test("hub routing layer: clique + member links present; far target reachable in few hops") {
    // two tight, far-apart clusters: a pure kNN graph may have no
    // cross-cluster edge at all; the hub layer guarantees ≤3 routing hops
    // between any two members
    val a = (0 until 20).map { i =>
      val t = 0.02 * i / 19
      (i.toLong, Array(math.cos(t).toFloat, math.sin(t).toFloat))
    }
    val b = (0 until 20).map { i =>
      val t = math.Pi / 2 - 0.02 * i / 19
      (100L + i, Array(math.cos(t).toFloat, math.sin(t).toFloat))
    }
    val vecs = (a ++ b).toDF("id", "vec")
    val g = GraphAnn.buildGraph(vecs, "id", "vec", dim = 2, degree = 2,
      nPlanes = 4, probes = 0, hubs = 4)
    val edges = g.edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hubIds = Seq(0L, 1L, 2L, 3L)
    for (x <- hubIds; y <- hubIds if x != y)
      assert(edges.contains((x, y)), s"hub clique edge ($x,$y) missing")
    val allIds = (a ++ b).map(_._1).toSet
    for (m <- allIds if !hubIds.contains(m))
      assert(hubIds.exists(h => edges.contains((m, h))),
        s"member $m has no hub link")
    // nSeeds=1 starts in cluster A; the B-cluster query must still find
    // itself within the routing diameter + local refinement
    val got = GraphAnn.search(g, vecs.filter(col("id") === 119L), "id", "vec",
      k = 1, beam = 8, maxHops = 5, nSeeds = 1)
      .collect().map(_.getLong(1)).toSet
    assert(got == Set(119L), s"hub routing must reach the far cluster, got $got")
  }

  test("per-query hub seeding reaches a far cluster with a tight hop budget") {
    val a = (0 until 20).map { i =>
      val t = 0.02 * i / 19
      (i.toLong, Array(math.cos(t).toFloat, math.sin(t).toFloat))
    }
    val b = (0 until 20).map { i =>
      val t = math.Pi / 2 - 0.02 * i / 19
      (100L + i, Array(math.cos(t).toFloat, math.sin(t).toFloat))
    }
    val vecs = (a ++ b).toDF("id", "vec")
    // hubs 0..3 all sit in cluster A, but B members hub-link to them, so a
    // B query's best hub neighbors include B-linked hubs: with personalized
    // seeds the walk needs only the member links (2 hops), not a traverse
    val g = GraphAnn.buildGraph(vecs, "id", "vec", dim = 2, degree = 2,
      nPlanes = 4, probes = 0, hubs = 4)
    val got = GraphAnn.search(g, vecs.filter(col("id") === 110L), "id", "vec",
      k = 1, beam = 8, maxHops = 2, nSeeds = 2, seedHubs = 4)
      .collect().map(_.getLong(1)).toSet
    assert(got == Set(110L), s"hub-seeded walk must reach the far cluster, got $got")
  }

  test("searchFiltered: full walk + allowed set == brute-force filtered top-k") {
    val n = 24
    val vecs = circle(n)
    val g = GraphAnn.AnnGraph(vecs, "id", "vec", ring(n))
    val queries = vecs.filter(col("id").isin(5L, 17L))
    val allowed = vecs.filter(col("id") % 2 === 1).select("id")
    val got = GraphAnn.searchFiltered(g, queries, "id", "vec", k = 4, allowed,
      beam = n, maxHops = n, nSeeds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.forall(_._2 % 2 == 1), "every neighbor satisfies the predicate")
    val want = bruteTopK(vecs.filter(col("id") % 2 === 1), queries, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, "full walk makes the filtered cut exact")
  }

  test("appendToGraph: batch links in, searchable; replay is a no-op") {
    val n = 30
    val vecs = circle(n)
    val stored = vecs.filter(col("id") < 25)
    val batch = vecs.filter(col("id") >= 25)
    val dir = tmpDir("graft-graphann-append")
    GraphAnn.writeGraph(
      GraphAnn.buildGraph(stored, "id", "vec", dim = 2, degree = 3, nPlanes = 2, probes = 4),
      dir)
    val edgesBefore = spark.read.parquet(s"$dir/edges")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    GraphAnn.appendToGraph(spark, dir, batch, "id", "vec", dim = 2,
      degree = 3, nPlanes = 2, probes = 4)
    val g = GraphAnn.readGraph(spark, dir, "id", "vec")
    assert(g.vectors.count() == n.toLong)
    val edgesAfter = g.edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgesBefore.subsetOf(edgesAfter), "stored edges survive the append")
    assert(edgesAfter.exists { case (s, d) => s >= 25 || d >= 25 },
      "batch vectors are linked into the graph")
    // an appended vector is reachable: searching for id 29's neighborhood
    // from the far seed must surface appended ids
    val got = GraphAnn.search(g, vecs.filter(col("id") === 29L), "id", "vec",
      k = 3, beam = 6, maxHops = n, nSeeds = 1)
      .collect().map(_.getLong(1)).toSet
    assert(got.contains(29L) && got.exists(i => i >= 25 && i != 29L))
    // replaying the same batch appends nothing
    GraphAnn.appendToGraph(spark, dir, batch, "id", "vec", dim = 2,
      degree = 3, nPlanes = 2, probes = 4)
    assert(spark.read.parquet(s"$dir/vectors").count() == n.toLong)
  }

  test("writeGraph/readGraph roundtrip searches identically") {
    val n = 26
    val vecs = circle(n)
    val built = GraphAnn.buildGraph(vecs, "id", "vec", dim = 2, degree = 3,
      nPlanes = 2, probes = 4)
    val dir = tmpDir("graft-graphann")
    GraphAnn.writeGraph(built, dir)
    val read = GraphAnn.readGraph(spark, dir, "id", "vec")
    val queries = vecs.filter(col("id") % 5 === 0)
    def run(gr: GraphAnn.AnnGraph) =
      GraphAnn.search(gr, queries, "id", "vec", k = 3, beam = 8, maxHops = 5, nSeeds = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(built) == run(read))
  }

  test("read-back hop fetch: one scan, no Exchange and no join") {
    val dir = tmpDir("graft-graphann-fetch")
    GraphAnn.writeGraph(
      GraphAnn.buildGraph(circle(30), "id", "vec", dim = 2, degree = 3,
        nPlanes = 2, probes = 4, hubs = 4),
      dir)
    val read = GraphAnn.readGraph(spark, dir, "id", "vec")
    val ids = Seq(3L, 7L, 29L)
    val fetch = GraphAnn.hopFetch(read, ids)
    val plan = fetch.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join") && plan.contains("Union"),
      s"a hop is one scan of vectors ∪ edges:\n$plan")
    // and it returns exactly the requested nodes' vectors and adjacency
    val rows = fetch.collect()
    val vecIds = rows.filter(_.getBoolean(3)).map(_.getLong(0)).sorted.toSeq
    assert(vecIds == ids)
    val adj = rows.filterNot(_.getBoolean(3)).map(r => (r.getLong(0), r.getLong(2))).toSet
    val want = read.edges.filter(col("src").isin(ids: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(adj == want && want.nonEmpty)
  }

  test("searchFiltered contract: sparse allowed set still fills k rows, exactly") {
    val n = 24
    val vecs = circle(n)
    val g = GraphAnn.AnnGraph(vecs, "id", "vec", ring(n))
    val queries = vecs.filter(col("id").isin(5L, 17L))
    // 1-in-12 selectivity (ids 0 and 12): a beam-2 hop-2 walk from seed 0
    // visits ≤ 7 nodes and cannot find 2 allowed ones for the far query
    val allowed = vecs.filter(col("id") % 12 === 0).select("id")
    val starved = GraphAnn.searchFiltered(g, queries, "id", "vec", k = 2, allowed,
      beam = 2, maxHops = 2, nSeeds = 1, fallback = false)
    assert(starved.groupBy(col("id")).count().collect()
      .exists(_.getLong(1) < 2L) || starved.select("id").distinct().count() < 2,
      "without fallback the sparse filter must under-fill (test premise)")
    val got = GraphAnn.searchFiltered(g, queries, "id", "vec", k = 2, allowed,
      beam = 2, maxHops = 2, nSeeds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = bruteTopK(vecs.filter(col("id") % 12 === 0), queries, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want,
      "deficient queries re-answer exactly against the allowed set")
  }

  test("hub set is frozen at build: persisted, and appends with smaller ids keep it") {
    val vecs = circle(30).withColumn("id", col("id") + 100L)
    val stored = vecs.filter(col("id") < 125L)
    val batch = vecs.filter(col("id") >= 125L)
      .withColumn("id", col("id") - 125L) // ids 0..4: BELOW the stored minimum
    val dir = tmpDir("graft-graphann-hubs")
    GraphAnn.writeGraph(
      GraphAnn.buildGraph(stored, "id", "vec", dim = 2, degree = 3,
        nPlanes = 2, probes = 4, hubs = 4),
      dir)
    val hubsBefore = spark.read.parquet(s"$dir/hubs").collect().map(_.getLong(0)).toSet
    assert(hubsBefore == Set(100L, 101L, 102L, 103L),
      "build-time hubs are the BUILD corpus' smallest ids")
    GraphAnn.appendToGraph(spark, dir, batch, "id", "vec", dim = 2,
      degree = 3, nPlanes = 2, probes = 4, hubs = 4)
    val g = GraphAnn.readGraph(spark, dir, "id", "vec")
    assert(g.hubIds.map(_.collect().map(_.getLong(0)).toSet).contains(hubsBefore),
      "the persisted hub set never shifts — batch ids below the stored " +
        "minimum must NOT become hubs")
    // every appended member hub-links into the ORIGINAL clique
    val batchIds = batch.select("id").as[Long].collect().toSet
    val hubTouching = g.edges.filter(col("src").isin(batchIds.toSeq.map(Long.box): _*))
      .collect().map(_.getLong(1)).toSet
    assert(hubTouching.intersect(hubsBefore).nonEmpty,
      "appended vectors route through the frozen hubs")
    // hub-seeded search still answers for an appended id
    val got = GraphAnn.search(g, batch.filter(col("id") === 0L), "id", "vec",
      k = 1, beam = 8, maxHops = 4, nSeeds = 2, seedHubs = 4)
      .collect().map(_.getLong(1)).toSet
    assert(got == Set(0L))
  }

  test("batched build equals the single-shot build: identical edge set and searches") {
    val vecs = circle(40)
    def build(bb: Int) = GraphAnn.buildGraph(vecs, "id", "vec", dim = 2,
      degree = 3, nPlanes = 3, probes = 2, hubs = 4, buildBatches = bb)
    val one = build(1)
    val four = build(4)
    def edgeSet(g: GraphAnn.AnnGraph) =
      g.edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgeSet(one) == edgeSet(four),
      "each slice kNN-joins the FULL corpus, so the union is the exact edge set")
    val queries = vecs.filter(col("id") % 9 === 0)
    def run(g: GraphAnn.AnnGraph) =
      GraphAnn.search(g, queries, "id", "vec", k = 3, beam = 8, maxHops = 4,
        nSeeds = 2, seedHubs = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(one) == run(four))
  }

  test("searchFiltered resolves the allowed-id column by name, not position") {
    val n = 24
    val vecs = circle(n)
    val g = GraphAnn.AnnGraph(vecs, "id", "vec", ring(n))
    val queries = vecs.filter(col("id").isin(5L, 17L))
    // multi-column allowed set whose id is NOT first: positional resolution
    // would semi-join on `reason` (empty intersection → empty walk cut and
    // a full exact fallback over zero vectors); name resolution must find
    // `id` wherever it sits
    val multi = vecs.filter(col("id") % 2 === 1)
      .select(lit("quality-pass").as("reason"), col("id"))
    val single = vecs.filter(col("id") % 2 === 1).select("id")
    def run(allowed: org.apache.spark.sql.DataFrame) =
      GraphAnn.searchFiltered(g, queries, "id", "vec", k = 4, allowed,
        beam = n, maxHops = n, nSeeds = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(multi) == run(single),
      "a multi-column allowed set must filter on the graph id column")
    assert(run(multi).nonEmpty)
    // a multi-column set with NO column named like the graph id is
    // ambiguous — refuse loudly instead of guessing positionally
    val ambiguous = vecs.filter(col("id") % 2 === 1)
      .select(col("id").as("x"), col("id").as("y"))
    val ex = intercept[IllegalArgumentException] {
      GraphAnn.searchFiltered(g, queries, "id", "vec", k = 4, ambiguous,
        beam = 4, maxHops = 2, nSeeds = 1)
    }
    assert(ex.getMessage.contains("allowed-id"))
  }

  test("rewriting a hubbed path with a hub-less graph removes the stale hub set") {
    val vecs = circle(24)
    val dir = tmpDir("graft-graphann-stalehubs")
    GraphAnn.writeGraph(
      GraphAnn.buildGraph(vecs, "id", "vec", dim = 2, degree = 3,
        nPlanes = 2, probes = 4, hubs = 4),
      dir)
    assert(GraphAnn.readGraph(spark, dir, "id", "vec").hubIds.isDefined)
    // rebuild WITHOUT a routing layer onto the same path: the old hubs/
    // dir must go — phantom hub ids would make hub-seeded searches join an
    // empty set and silently return zero rows
    GraphAnn.writeGraph(
      GraphAnn.buildGraph(vecs, "id", "vec", dim = 2, degree = 3,
        nPlanes = 2, probes = 4), // hubs = 0
      dir)
    val g = GraphAnn.readGraph(spark, dir, "id", "vec")
    assert(g.hubIds.isEmpty, "stale hubs/ dir must be deleted on rewrite")
    val got = GraphAnn.search(g, vecs.filter(col("id") === 20L), "id", "vec",
      k = 2, beam = 24, maxHops = 24, nSeeds = 2, seedHubs = 4)
      .collect().map(_.getLong(1)).toSet
    assert(got.nonEmpty, "hub-seeded search over the hubless rewrite still answers")
  }

  test("append caps its per-src edge contribution at degree") {
    val n = 60
    val vecs = circle(n)
    val dir = tmpDir("graft-graphann-degcap")
    GraphAnn.writeGraph(
      GraphAnn.buildGraph(vecs.filter(col("id") < 40L), "id", "vec",
        dim = 2, degree = 3, nPlanes = 2, probes = 4),
      dir)
    GraphAnn.appendToGraph(spark, dir, vecs.filter(col("id") >= 40L),
      "id", "vec", dim = 2, degree = 3, nPlanes = 2, probes = 4)
    val g = GraphAnn.readGraph(spark, dir, "id", "vec")
    // batch srcs have ONLY the appended edges: symmetrized kNN re-truncated
    // per src to degree — without the cap, reverse edges land up to 2×k
    val batchDeg = g.edges.filter(col("src") >= 40L)
      .groupBy("src").count().agg(max("count")).head().getLong(0)
    assert(batchDeg <= 3L,
      s"appended per-src contribution must be <= degree, got $batchDeg")
  }

  test("compactGraph without pruning pressure only folds files: searches identical") {
    val n = 40
    val vecs = circle(n)
    val dir = tmpDir("graft-graphann-compact-fold")
    GraphAnn.writeGraph(
      GraphAnn.buildGraph(vecs.filter(col("id") < 30L), "id", "vec",
        dim = 2, degree = 3, nPlanes = 2, probes = 4, hubs = 4),
      dir)
    (30 until 40 by 5).foreach { lo =>
      GraphAnn.appendToGraph(spark, dir,
        vecs.filter(col("id") >= lo && col("id") < lo + 5), "id", "vec",
        dim = 2, degree = 3, nPlanes = 2, probes = 4, hubs = 4)
    }
    val queries = vecs.filter(col("id") % 9 === 0)
    def run() = GraphAnn.search(
      GraphAnn.readGraph(spark, dir, "id", "vec"), queries, "id", "vec",
      k = 3, beam = n, maxHops = n, nSeeds = 2, seedHubs = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = run()
    val filesBefore = new java.io.File(s"$dir/edges")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesBefore > 1, "appends fragmented the edge dir (test premise)")
    // maxDegree far above any real degree: pure fold + duplicate heal —
    // the edge SET is unchanged, so the full-beam searches must be too
    GraphAnn.compactGraph(spark, dir, "id", "vec", maxDegree = 1000)
    assert(run() == before, "fold-only compaction never changes answers")
    val filesAfter = new java.io.File(s"$dir/edges")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesAfter == 1, s"edges fold to one file per partition, got $filesAfter")
    val e = GraphAnn.readGraph(spark, dir, "id", "vec").edges
    assert(e.count() == e.distinct().count(), "replay duplicates healed")
  }

  test("compactGraph re-truncates hot nodes and keeps the routing layer intact") {
    val n = 60
    val vecs = circle(n)
    val dir = tmpDir("graft-graphann-compact-deg")
    GraphAnn.writeGraph(
      GraphAnn.buildGraph(vecs.filter(col("id") < 30L), "id", "vec",
        dim = 2, degree = 4, nPlanes = 2, probes = 4, hubs = 4),
      dir)
    // many small appends: cross-append accumulation grows stored degree
    (30 until 60 by 5).foreach { lo =>
      GraphAnn.appendToGraph(spark, dir,
        vecs.filter(col("id") >= lo && col("id") < lo + 5), "id", "vec",
        dim = 2, degree = 4, nPlanes = 2, probes = 4, hubs = 4)
    }
    val hubIds = spark.read.parquet(s"$dir/hubs").collect().map(_.getLong(0)).toSet
    GraphAnn.compactGraph(spark, dir, "id", "vec", maxDegree = 4)
    val g = GraphAnn.readGraph(spark, dir, "id", "vec")
    val edges = g.edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // kNN layer: every non-hub-touching src capped at maxDegree
    val knnDeg = edges.toSeq
      .filter { case (s, d) => !hubIds.contains(s) && !hubIds.contains(d) }
      .groupBy(_._1).map(_._2.size)
    assert(knnDeg.nonEmpty && knnDeg.max <= 4,
      s"compaction bounds the kNN out-degree, got max ${knnDeg.max}")
    // routing survives: full clique + every member still hub-linked
    for (x <- hubIds; y <- hubIds if x != y)
      assert(edges.contains((x, y)), s"hub clique edge ($x,$y) lost in compaction")
    val members = (0L until n.toLong).toSet -- hubIds
    for (m <- members)
      assert(hubIds.exists(h => edges.contains((m, h))),
        s"member $m lost its hub link in compaction")
    // and the compacted index still answers for appended ids
    val got = GraphAnn.search(g, vecs.filter(col("id") === 57L), "id", "vec",
      k = 1, beam = 8, maxHops = 6, nSeeds = 2, seedHubs = 4)
      .collect().map(_.getLong(1)).toSet
    assert(got == Set(57L))
  }

  test("NN-Descent build: refinement rounds monotonically improve the adjacency") {
    // deterministic pseudo-random ALL-POSITIVE 16-dim vectors: every
    // pairwise cosine is >= 0, so the per-src top-degree pool only ever
    // GROWS across rounds and the micro-summed adjacency similarity is a
    // deterministic monotone non-decreasing sequence (the law the
    // refinement loop guarantees by construction). 12 planes over 200
    // vectors starve the buckets, so the radius-1 init is genuinely weak
    // and refinement has real work to do (circle data is too easy: its
    // LSH buckets are contiguous arcs and the init is already perfect)
    val rnd = new scala.util.Random(42) // fixed seed: deterministic law
    val vecs = (0 until 300).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() + 0.01f))
    }.toDF("id", "vec")
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val g = GraphAnn.buildGraphDescent(vecs, "id", "vec", dim = 16,
      degree = 4, nPlanes = 12, refineRounds = 4,
      onRound = (r, sum, nNew) => stats += ((r, sum, nNew)))
    assert(stats.nonEmpty && stats.head._1 == 0, "round 0 reports the init")
    val sums = stats.map(_._2)
    assert(sums.zip(sums.tail).forall { case (a, b) => b >= a },
      s"adjacency quality must never regress across rounds: $sums")
    assert(stats.size > 1 && sums.last > sums.head,
      s"refinement must actually improve a weak radius-1 init: $sums")
    // the refined graph has the buildGraph output contract
    val edges = g.edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.forall { case (s, d) => s != d }, "no self edges")
    val set = edges.toSet
    assert(set.forall { case (s, d) => set.contains((d, s)) }, "symmetric")
    assert(edges.length == set.size, "distinct")
  }

  test("NN-Descent build searches as well as the wide-radius LSH build") {
    val n = 120
    val vecs = circle(n)
    val queries = vecs.filter(col("id") % 11 === 0)
    val exact = bruteTopK(vecs, queries, 5)
      .select(col("id"), col("neighbor_id"))
    def recall(g: GraphAnn.AnnGraph): Double =
      Similarity.recallAtK(
        GraphAnn.search(g, queries, "id", "vec", k = 5, beam = 16,
          maxHops = 6, nSeeds = 4, seedHubs = 8),
        exact, "id")
    val lsh = GraphAnn.buildGraph(vecs, "id", "vec", dim = 2, degree = 4,
      nPlanes = 4, probes = 4, hubs = 8)
    val descent = GraphAnn.buildGraphDescent(vecs, "id", "vec", dim = 2,
      degree = 4, nPlanes = 6, refineRounds = 4, hubs = 8)
    val (rLsh, rDescent) = (recall(lsh), recall(descent))
    assert(rDescent >= 0.9, s"descent recall $rDescent under 0.9")
    assert(rDescent >= rLsh - 0.05,
      s"descent ($rDescent) must match the exhaustive-probe LSH build ($rLsh)")
  }

  test("planner switches to descent exactly where the LSH build would batch") {
    // battery-sized corpus (sf0.1 keeps ~1.9k vectors): single LSH pass
    // fits — plan stays lsh, battery entries keep their proven path
    val small = GraphAnn.buildPlan(1900, 64, targetRecall = 0.9)
    assert(small.strategy == "lsh" && small.buildBatches == 1 && small.refineRounds == 0)
    // 500k × the planned radius: probe volume far past one host's spill
    // budget — the planner must hand the build to NN-Descent instead of
    // shipping the same bytes in slices
    val big = GraphAnn.buildPlan(500000, 64, targetRecall = 0.75)
    assert(big.strategy == "descent",
      s"500k build must plan descent, got $big")
    assert(big.refineRounds >= 3 && big.probes == 1 && big.buildBatches == 1)
    assert(big.degree == 12 && big.hubs >= 16 && big.hubs <= 256,
      "degree/hub bands unchanged by the strategy switch")
  }

  test("hubbed append onto a hub-less index fails fast") {
    val vecs = circle(20)
    val dir = tmpDir("graft-graphann-nohubs")
    GraphAnn.writeGraph(
      GraphAnn.buildGraph(vecs.filter(col("id") < 15L), "id", "vec",
        dim = 2, degree = 3, nPlanes = 2, probes = 4), // hubs = 0
      dir)
    val ex = intercept[IllegalStateException] {
      GraphAnn.appendToGraph(spark, dir, vecs.filter(col("id") >= 15L),
        "id", "vec", dim = 2, degree = 3, nPlanes = 2, probes = 4, hubs = 4)
    }
    assert(ex.getMessage.contains("persisted hub set"))
  }

  test("graph-search, read-back index: <= maxHops + 6 jobs, no shuffle/leak") {
    val provider = new graft.embed.DeterministicProvider(64)
    val texts = (0 until 60).map(i => s"chunk $i of lov ${i % 7} paragraf ${i % 11}")
    val dir = tmpDir("graft-graphann-jobs")
    GraphAnn.writeGraph(
      GraphAnn.buildGraph(
        texts.indices.map(i => (s"c$i", provider.embedBatch(Seq(texts(i))).head))
          .toDF("chunkId", "embedding"),
        "chunkId", "embedding", dim = 64, degree = 4, nPlanes = 4, probes = 2, hubs = 4),
      dir)
    val sc = spark.sparkContext
    val costs = new graft.ops.JobCosts()
    sc.addSparkListener(costs)
    try {
      org.apache.spark.graft.StatusBridge.quiesce(sc)
      costs.clearJobs()
      val shuffled = costs.shuffleWriteBytes
      val persisted = sc.getPersistentRDDs.keySet
      val hits = graft.cli.GraftCli.graphSearch(spark, dir, texts(17), k = 3,
        provider = provider).collect()
      org.apache.spark.graft.StatusBridge.quiesce(sc)
      assert(hits.head.getString(0) == "c17", "the stored text is its own nearest neighbor")
      // graphSearch walks the default 4 hops: one job per hop, plus the
      // entry ids, their fetch and the index reads
      assert(costs.jobs.size <= 4 + 6, s"${costs.jobs.size} jobs: ${costs.jobs}")
      assert(costs.shuffleWriteBytes == shuffled, "a graph search shuffles nothing")
      assert((sc.getPersistentRDDs.keySet -- persisted).isEmpty,
        "a graph search leaves no persisted RDD behind")
    } finally sc.removeSparkListener(costs)
  }

  test("NN-Descent build persists only the returned graph's tables") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 120).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat()))).toDF("id", "vec")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val g = GraphAnn.buildGraphDescent(vecs, "id", "vec", dim = 8, degree = 4,
      nPlanes = 4, refineRounds = 2, hubs = 4)
    val kept = (Seq(g.edges) ++ g.hubIds).flatMap(d =>
      org.apache.spark.sql.graft.CheckpointBridge.internalRdd(d)).map(_.id).toSet
    assert(kept.size == 2, "edges and hub ids are the graph's two materialized tables")
    assert(sc.getPersistentRDDs.keySet -- before == kept)
  }
}
