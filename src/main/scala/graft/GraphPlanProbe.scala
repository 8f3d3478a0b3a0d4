package graft

import org.apache.spark.sql.functions._

/** Build-parameter sweep for the graph-ANN planner: replicates the sf0.1
  * embedding cloud with ScaleProbe's cyclic component shift (distinct
  * directions, real neighbor structure) to `replicas × 2000` vectors and
  * prints walk recall@10 + build/search seconds per (nPlanes, probes,
  * degree) config — the measurement base behind [[graft.operators.GraphAnn
  * .buildPlan]]'s calibration constants. Run when changing the planner, the
  * kNN join, or the walk.
  *
  * Usage: runMain graft.GraphPlanProbe [replicas] [configs]
  *   configs = comma-separated b:r:d triples, e.g. "10:1:8,10:2:8,10:2:12"
  *
  * Large replica counts need a large driver heap. It comes from the JVM's
  * `-Xmx` (`SPARK_DRIVER_MEM` under `sbt run`, `--driver-memory` under
  * `spark-submit`): `spark.driver.memory` set in the session has no effect
  * once the driver JVM is running.
  */
object GraphPlanProbe {
  def main(args: Array[String]): Unit = {
    val replicas = args.headOption.map(_.toInt).getOrElse(100)
    // b:r:d[:beam:hops:seedHubs] — build triple plus optional search
    // config; the token "plan" resolves the whole tuple from
    // GraphAnn.buildPlan(n, 64, 0.75) with hub-seeded search (the
    // ScaleProbe leg's stack), for extrapolation checks at other sizes
    val rawConfigs = args.lift(1).getOrElse("10:1:8,10:2:8,10:2:12,12:2:8").split(",").toSeq
    val spark = Session()
    spark.sparkContext.setLogLevel("ERROR")

    val base = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val big = (0 until replicas).map { rep =>
      base.select((col("vec_id") + lit(rep.toLong * 10_000_000L)).as("vec_id"),
        col("embedding"))
    }.reduce(_ unionByName _)
    val shifted = big.select(col("vec_id"),
        expr("""transform(embedding,
                 (x, i) -> element_at(embedding,
                   CAST((i + CAST(vec_id div 10000000 AS INT)) % 64 AS INT) + 1))""")
          .cast("array<float>").as("embedding"))
      .localCheckpoint()
    val n = shifted.count()
    val cohort = shifted.filter(col("vec_id") % 97L === 3L).limit(20).localCheckpoint()
    val exact = cohort.select(col("vec_id").as("_qid"), col("embedding").as("_qv"))
      .crossJoin(shifted.select(col("vec_id").as("_cid"), col("embedding").as("_cv")))
      .withColumn("_sim", graft.functions.VectorFunctions.cosine(col("_qv"), col("_cv")))
      .groupBy(col("_qid"))
      .agg(expr("top_k(struct(_sim, _cid), 10)").as("_top"))
      .select(col("_qid"), explode(col("_top")).as("_t"))
      .select(col("_qid").as("vec_id"), col("_t._cid").as("neighbor_id"))
      .localCheckpoint()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    // (label, build thunk, beam, hops, seedHubs); "plan" goes through
    // buildPlanned (so it exercises the planner's lsh/descent dispatch),
    // "descent:b:d:rounds[:beam:hops:seedHubs]" forces the NN-Descent
    // path, and b:r:d[:beam:hops:seedHubs[:batches]] forces the LSH path
    val configs: Seq[(String, () => graft.operators.GraphAnn.AnnGraph, Int, Int, Int)] =
      rawConfigs.map {
        case "plan" =>
          val p = graft.operators.GraphAnn.buildPlan(n, 64, targetRecall = 0.75)
          println(s"PLANPROBE planned config for n=$n: $p")
          (s"plan[${p.strategy}] b=${p.nPlanes} r=${p.probes} d=${p.degree} rounds=${p.refineRounds}",
            () => graft.operators.GraphAnn.buildPlanned(
              shifted, "vec_id", "embedding", dim = 64, plan = p),
            48, 6, p.hubs)
        case s if s.startsWith("descent:") =>
          val xs = s.stripPrefix("descent:").split(":").map(_.toInt)
          val (b, d, rounds) = (xs(0), xs(1), xs(2))
          val sh = xs.lift(5).getOrElse(64)
          (s"descent b=$b d=$d rounds=$rounds",
            () => graft.operators.GraphAnn.buildGraphDescent(
              shifted, "vec_id", "embedding", dim = 64, degree = d,
              nPlanes = b, refineRounds = rounds, hubs = sh,
              onRound = (r, sum, nNew) =>
                println(s"PLANPROBE descent round=$r sumSimMicro=$sum new=$nNew")),
            xs.lift(3).getOrElse(48), xs.lift(4).getOrElse(6), sh)
        case s =>
          val xs = s.split(":").map(_.toInt)
          val (b, r, d) = (xs(0), xs(1), xs(2))
          val sh = xs.lift(5).getOrElse(0)
          (s"lsh b=$b r=$r d=$d batches=${xs.lift(6).getOrElse(1)}",
            () => graft.operators.GraphAnn.buildGraph(
              shifted, "vec_id", "embedding", dim = 64, degree = d,
              nPlanes = b, probes = r, hubs = if (sh > 0) sh else 64,
              buildBatches = xs.lift(6).getOrElse(1)),
            xs.lift(3).getOrElse(32), xs.lift(4).getOrElse(6), sh)
      }
    for ((label, build, beam, hops, sh) <- configs) {
      val (g, tB) = timed { val gr = build(); gr.edges.count(); gr }
      val nEdges = g.edges.count()
      val (hits, tS) = timed {
        val h = graft.operators.GraphAnn.search(g, cohort, "vec_id", "embedding",
          k = 10, beam = beam, maxHops = hops, nSeeds = 32, seedHubs = sh)
        h.count(); h
      }
      val rec = graft.operators.Similarity.recallAtK(hits, exact, "vec_id")
      println(f"PLANPROBE n=$n [$label] beam=$beam hops=$hops seedHubs=$sh " +
        f"edges=$nEdges recall@10=$rec%.4f build=$tB%.1fs search=$tS%.1fs")
    }
    spark.stop()
  }
}
