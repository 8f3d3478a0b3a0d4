package graft

import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.VectorFunctions._
import graft.operators.Similarity

/** ANN recall tuning probe at the corpus' REAL dimensionality — prints
  * recall@10 of the IVF k-NN join vs the exact brute-force top-10 for a
  * sweep of probe counts, per sf dir. The `e2_ann_recall_gate` battery
  * entry pins one point of this curve as a floor; run this when changing
  * probe selection, assignment, or index layout to see the whole curve.
  *
  * Usage: runMain graft.RecallProbe [sfDir ...]
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = Session()
    for (d <- dirs) {
      val vecs = embeddings(spark, d)
      val corpus = vecs.filter(col("vec_id") % 20 =!= 0)
      val queries = vecs.filter(col("vec_id") % 20 === 0)
      val exact = queries.select(col("vec_id").as("_qid"), col("embedding").as("_qv"))
        .crossJoin(corpus.select(col("vec_id").as("_cid"), col("embedding").as("_cv")))
        .withColumn("_sim", cosine(col("_qv"), col("_cv")))
        .groupBy(col("_qid"))
        .agg(expr("top_k(struct(_sim, _cid), 10)").as("_top"))
        .select(col("_qid"), explode(col("_top")).as("_t"))
        .select(col("_qid").as("vec_id"), col("_t._cid").as("neighbor_id"))
        .persist()
      exact.count()
      val index = Similarity.buildIvf(corpus, "embedding", "vec_id", k = 16)
      for (p <- Seq(2, 4, 6, 8, 10, 12, 16)) {
        val approx = Similarity.nnJoinIvf(index, "vec_id",
          queries, "vec_id", "embedding", k = 10, nProbes = p)
        val r = Similarity.recallAtK(approx, exact, "vec_id")
        println(f"RECALL dir=$d nProbes=$p%2d recall@10=$r%.4f")
      }
      val graph = graft.operators.GraphAnn.buildGraph(
        corpus, "vec_id", "embedding", dim = 64, degree = 12, nPlanes = 8, probes = 2, hubs = 64)
      for ((beam, hops, sh) <- Seq((32, 3, 64), (32, 4, 64), (32, 5, 64), (32, 5, 0))) {
        val approx = graft.operators.GraphAnn.search(graph, queries,
          "vec_id", "embedding", k = 10, beam = beam, maxHops = hops,
          nSeeds = 16, seedHubs = sh)
        val r = Similarity.recallAtK(approx, exact, "vec_id")
        println(f"RECALL dir=$d graph beam=$beam%2d hops=$hops seedHubs=$sh recall@10=$r%.4f")
      }
      exact.unpersist()
    }
    spark.stop()
  }
}
