package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.functions.VectorFunctions.{cosineWithNorms, norm}

/** `GraphAnn.search` and `searchFiltered` against a plain-Scala reference
  * walk that follows the documented semantics row for row
  * `(qid, neighbor, sim)`:
  *
  *   - seeds: the `nSeeds` smallest ids, or per query the top-`nSeeds` of
  *     the frozen (or derived) `seedHubs`-wide hub set;
  *   - hop `h`: the frontier is the top-`beam` of the nodes first scored at
  *     hop `h`; candidates are their distinct neighbors minus the nodes
  *     already scored; the walk stops when no candidate is left, or at
  *     `maxHops`;
  *   - ranking: sim descending, then id descending in Catalyst's order
  *     (binary UTF-8 order for strings);
  *   - filtered: the visited set's allowed top-`k`, re-answered exactly
  *     over the allowed set when it holds fewer than `k`.
  *
  * Similarities come from Spark (`round(cosineWithNorms(...), 6)` over the
  * query × corpus cross join), so the reference shares no code with the
  * walk. Fixtures plant exact ties (copied vectors, a zero vector, a zero
  * query, a null vector) and string ids whose binary order differs from
  * Java's `String` order.
  */
class GraphWalkEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 4

  /** `n` seeded vectors; every 7th copies an earlier one (planted ties),
    * node 5 is the zero vector and node 11 is null.
    */
  private def vectors(n: Int, seed: Int): IndexedSeq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    val base = IndexedSeq.fill(n)(Array.fill(dim)((rnd.nextInt(9) - 4).toFloat))
    base.indices.map { i =>
      if (i == 5) Array.fill(dim)(0f)
      else if (i == 11) null
      else if (i % 7 == 0 && i > 0) base(i - 3)
      else base(i)
    }
  }

  /** Undirected random graph, `deg` out-links per node. */
  private def randomEdges(n: Int, deg: Int, seed: Int): Seq[(Int, Int)] = {
    val rnd = new scala.util.Random(seed)
    val e = (0 until n).flatMap(i => Seq.fill(deg)(rnd.nextInt(n)).filter(_ != i).map(j => (i, j)))
    (e ++ e.map(_.swap)).distinct
  }

  private val queryVecs: Seq[(Long, Array[Float])] = Seq(
    (1L, Array(1f, 2f, 0f, -1f)), (2L, Array(-3f, 1f, 2f, 2f)),
    (3L, Array(0f, 0f, 0f, 0f)), (4L, Array(2f, -2f, 1f, 3f)))

  private def queries: DataFrame = queryVecs.toDF("qid", "qvec")

  /** An id space: how fixture node `i` is named, its SQL type, and
    * Catalyst's order on it.
    */
  private final case class Ids[N](name: Int => N, sqlType: DataType, ord: Ordering[N])

  private val longIds = Ids[Long](i => i.toLong, LongType, Ordering.Long)
  // prefixes whose UTF-8 byte order (ａ U+FF41 < 😀 U+1F600) is the reverse
  // of their UTF-16 `String.compareTo` order
  private val stringIds = Ids[String](
    i => Seq("a", "é", "ａ", "😀")(i % 4) + f"$i%03d", StringType,
    Ordering.fromLessThan[String]((a, b) =>
      UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)) < 0))

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private final case class Fixture[N](
      ids: Ids[N], vecs: IndexedSeq[Array[Float]], edges: Seq[(Int, Int)],
      hubs: Option[Seq[Int]]) {
    val idField = StructField("id", ids.sqlType)

    def idFrame(xs: Iterable[Int]): DataFrame =
      frame(StructType(Seq(idField)), xs.toSeq.map(i => Row(ids.name(i))))

    def graph(): GraphAnn.AnnGraph = GraphAnn.AnnGraph(
      frame(StructType(Seq(idField, StructField("vec", ArrayType(FloatType)))),
        vecs.indices.map(i => Row(ids.name(i), Option(vecs(i)).map(_.toSeq).orNull))),
      "id", "vec",
      frame(StructType(Seq(StructField("src", ids.sqlType), StructField("dst", ids.sqlType))),
        edges.map { case (a, b) => Row(ids.name(a), ids.name(b)) }),
      hubs.map(idFrame))
  }

  /** `(qid, node) -> sim` as the executors compute it. */
  private def sparkSims[N](g: GraphAnn.AnnGraph): Map[(Long, N), java.lang.Double] =
    queries.select(col("qid"), col("qvec").as("_qv"))
      .withColumn("_qn", norm(col("_qv")))
      .crossJoin(g.vectors.select(col("id").as("_n"), col("vec").as("_v"))
        .withColumn("_vn", norm(col("_v"))))
      .select(col("qid"), col("_n"),
        round(cosineWithNorms(col("_qv"), col("_v"), col("_qn"), col("_vn")), 6))
      .collect()
      .map(r => (r.getLong(0), r.get(1).asInstanceOf[N]) ->
        (if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))))
      .toMap

  /** The ranking order: sim descending (null last), then id descending. */
  private def rank[N](ord: Ordering[N]): Ordering[(java.lang.Double, N)] = (a, b) => {
    val c = (a._1, b._1) match {
      case (null, null) => 0
      case (null, _) => 1
      case (_, null) => -1
      case (x, y) => java.lang.Double.compare(y, x)
    }
    if (c != 0) c else ord.compare(b._2, a._2)
  }

  private def topK[N](f: Fixture[N], hits: Map[N, java.lang.Double], k: Int): Seq[(N, java.lang.Double)] =
    hits.toSeq.map(_.swap).sorted(rank(f.ids.ord)).take(k).map(_.swap)

  /** The documented walk, per query: visited `node -> sim`. */
  private def referenceWalk[N](f: Fixture[N], sims: Map[(Long, N), java.lang.Double],
      qid: Long, beam: Int, maxHops: Int, nSeeds: Int, seedHubs: Int): Map[N, java.lang.Double] = {
    val ord = f.ids.ord
    val all = f.vecs.indices.map(f.ids.name)
    val adj = f.edges.groupMap(e => f.ids.name(e._1))(e => f.ids.name(e._2))
    val round0 =
      if (seedHubs <= 0) all.sorted(ord).take(nSeeds)
      else {
        val hubSet = f.hubs.map(_.map(f.ids.name)).getOrElse(all).sorted(ord).take(seedHubs)
        hubSet.map(h => (sims((qid, h)), h)).sorted(rank(ord)).take(nSeeds).map(_._2)
      }
    val visited = scala.collection.mutable.LinkedHashMap.empty[N, (java.lang.Double, Int)]
    round0.foreach(n => visited(n) = (sims((qid, n)), 0))
    var hop = 0
    var done = false
    while (hop < maxHops && !done) {
      val frontier = visited.toSeq.filter(_._2._2 == hop)
        .map { case (n, (s, _)) => (s, n) }.sorted(rank(ord)).take(beam).map(_._2)
      val cand = frontier.flatMap(n => adj.getOrElse(n, Nil)).distinct.filterNot(visited.contains)
      if (cand.isEmpty) done = true
      else cand.foreach(n => visited(n) = (sims((qid, n)), hop + 1))
      hop += 1
    }
    visited.map { case (n, (s, _)) => n -> s }.toMap
  }

  private def rows[N](df: DataFrame): Seq[(Long, N, java.lang.Double)] =
    df.collect().map(r => (r.getLong(0), r.get(1).asInstanceOf[N],
      if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2)))).toSeq

  /** Both entry points against the reference, over `g` (in memory or read
    * back). `allowed` is a set of fixture indices.
    */
  private def check[N](f: Fixture[N], g: GraphAnn.AnnGraph, k: Int, beam: Int,
      maxHops: Int, nSeeds: Int, seedHubs: Int, allowed: Set[Int]): Unit = {
    val sims = sparkSims[N](g)
    val visited = queryVecs.map(_._1).map(q =>
      q -> referenceWalk(f, sims, q, beam, maxHops, nSeeds, seedHubs)).toMap
    def sorted(xs: Seq[(Long, N, java.lang.Double)]) =
      xs.map(r => (r._1, r._2.toString, r._3)).sortBy(r => (r._1, r._2, String.valueOf(r._3)))
    val want = visited.toSeq.flatMap { case (q, hits) => topK(f, hits, k).map(h => (q, h._1, h._2)) }
    val got = rows[N](GraphAnn.search(g, queries, "qid", "qvec", k = k, beam = beam,
      maxHops = maxHops, nSeeds = nSeeds, seedHubs = seedHubs))
    assert(sorted(got) == sorted(want), "search diverges from the reference walk")

    val allowedIds = allowed.map(f.ids.name)
    val allowedDf = f.idFrame(allowed)
    for (fallback <- Seq(true, false)) {
      val wantF = visited.toSeq.flatMap { case (q, hits) =>
        val cut = topK(f, hits.filter(h => allowedIds(h._1)), k)
        val ans =
          if (fallback && cut.size < k)
            topK(f, sims.collect { case ((`q`, n), s) if allowedIds(n) => n -> s }, k)
          else cut
        ans.map(h => (q, h._1, h._2))
      }
      val gotF = rows[N](GraphAnn.searchFiltered(g, queries, "qid", "qvec", k = k,
        allowedDf, beam = beam, maxHops = maxHops, nSeeds = nSeeds,
        seedHubs = seedHubs, fallback = fallback))
      assert(sorted(gotF) == sorted(wantF),
        s"searchFiltered(fallback=$fallback) diverges from the reference walk")
    }
  }

  test("global seeds, random graph, planted ties: equals reference") {
    val f = Fixture(longIds, vectors(48, 3), randomEdges(48, 2, 5), None)
    check(f, f.graph(), k = 5, beam = 6, maxHops = 3, nSeeds = 2, seedHubs = 0,
      allowed = (0 until 48).filter(_ % 3 == 0).toSet)
  }

  test("hub seeding, frozen and derived hubs: equals reference") {
    val frozen = Fixture(longIds, vectors(48, 7), randomEdges(48, 2, 9), Some(Seq(9, 2, 30, 5, 11, 40)))
    check(frozen, frozen.graph(), k = 4, beam = 5, maxHops = 2, nSeeds = 2, seedHubs = 5,
      allowed = (0 until 48).filter(_ % 4 == 1).toSet)
    val derived = frozen.copy(hubs = None)
    check(derived, derived.graph(), k = 4, beam = 5, maxHops = 2, nSeeds = 3, seedHubs = 6,
      allowed = (0 until 48).filter(_ % 4 == 1).toSet)
  }

  test("early-converging and zero-hop walks: equal reference") {
    // the seeds' component is the ring 0..5; the rest is unreachable
    val ring = (0 until 6).flatMap(i => Seq((i, (i + 1) % 6), ((i + 1) % 6, i)))
    val rest = randomEdges(40, 2, 13).collect { case (a, b) if a >= 6 && b >= 6 => (a, b) }
    val f = Fixture(longIds, vectors(40, 11), ring ++ rest, None)
    check(f, f.graph(), k = 3, beam = 4, maxHops = 8, nSeeds = 1, seedHubs = 0,
      allowed = Set(1, 4, 20, 33))
    check(f, f.graph(), k = 2, beam = 3, maxHops = 0, nSeeds = 3, seedHubs = 0,
      allowed = Set(0, 2, 17))
  }

  test("string ids, read-back index, binary order: equals reference") {
    val f = Fixture(stringIds, vectors(40, 17), randomEdges(40, 2, 19), Some(Seq(0, 1, 2, 3, 6, 7)))
    val dir = tmpDir("graft-walk-eq")
    GraphAnn.writeGraph(f.graph(), dir)
    val read = GraphAnn.readGraph(spark, dir, "id", "vec")
    check(f, read, k = 4, beam = 5, maxHops = 3, nSeeds = 3, seedHubs = 0,
      allowed = (0 until 40).filter(_ % 2 == 0).toSet)
    check(f, read, k = 3, beam = 4, maxHops = 2, nSeeds = 2, seedHubs = 6,
      allowed = (0 until 40).filter(_ % 5 == 0).toSet)
  }
}
