package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DSIR importance scoring + Gumbel top-k resampling laws. */
class ImportanceSamplingSpec extends SparkSpec {
  import spark.implicits._

  private val B = 64

  test("dsir: target-like documents outscore dissimilar ones; gram-less score 0") {
    // target distribution is pure "alpha beta" prose; raw is an even mix
    val target = (1 to 20).map(i => (i.toLong, "alpha beta alpha beta alpha beta")).toDF("doc_id", "text")
    val raw = Seq(
      (101L, "alpha beta alpha beta"),            // looks like target
      (102L, "zeta eta theta iota kappa lambda"), // nothing shared
      (103L, "")                                  // gram-less
    ).toDF("doc_id", "text")
    val tc = ImportanceSampling.bucketCounts(target, "text", B)
    val rc = ImportanceSampling.bucketCounts(raw, "text", B)
    val w = ImportanceSampling.logWeights(raw, "doc_id", "text", tc, rc, B)
      .as[(Long, Double)].collect().toMap
    assert(w.keySet == Set(101L, 102L, 103L), "every document scores exactly once")
    assert(w(101L) > w(102L), s"target-like must outscore dissimilar: $w")
    assert(w(103L) == 0.0, "no grams -> neutral 0")
  }

  test("dsir: scores are partitioning-invariant and deterministic") {
    val rnd = new scala.util.Random(3)
    val words = Array("a", "b", "c", "d", "e", "f", "g", "h")
    def doc(): String = Seq.fill(20)(words(rnd.nextInt(words.length))).mkString(" ")
    val docs = (1L to 300L).map(i => (i, doc())).toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") % 10 === 0)
    val tc = ImportanceSampling.bucketCounts(target, "text", B)
    val rc = ImportanceSampling.bucketCounts(docs, "text", B)
    def run(d: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      ImportanceSampling.logWeights(d, "doc_id", "text", tc, rc, B)
        .select(col("doc_id"), round(col("logw"), 9).as("w"))
        .as[(Long, Double)].collect().toMap
    assert(run(docs) == run(docs.repartition(13)), "scores must not depend on partitioning")
  }

  test("dsir: logWeights releases its count checkpoint (no persisted RDD left)") {
    val docs = (1L to 40L).map(i => (i, s"tok${i % 5} tok${i % 7} tok${i % 3}")).toDF("doc_id", "text")
    val tc = ImportanceSampling.bucketCounts(docs.filter(col("doc_id") % 4 === 0), "text", B)
    val rc = ImportanceSampling.bucketCounts(docs, "text", B)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val w = ImportanceSampling.logWeights(docs, "doc_id", "text", tc, rc, B)
    assert(w.count() == 40L, "the weights still evaluate after the release")
    assert(sc.getPersistentRDDs.keySet == before, "logWeights left a persisted RDD")
  }

  test("dsir: gumbel top-k is deterministic, bounded, and weight-sensitive") {
    val filler = (1L to 100L).map(i => (i, s"x$i y$i x$i z$i w$i v$i"))
    val hero = Seq((999L, "alpha beta alpha beta alpha beta alpha beta"))
    val docs = (filler ++ hero).toDF("doc_id", "text")
    val target = Seq((0L, "alpha beta alpha beta")).toDF("doc_id", "text")
    val tc = ImportanceSampling.bucketCounts(target, "text", B)
    val rc = ImportanceSampling.bucketCounts(docs, "text", B)
    val sel = ImportanceSampling.resample(docs, "doc_id", "text", tc, rc,
      nKeep = 10, buckets = B)
    val ids = sel.select("doc_id").as[Long].collect().toSet
    assert(ids.size == 10, "exactly nKeep selected")
    assert(ids.contains(999L), "the document matching the target distribution is selected")
    // identical inputs -> identical selection (hash-derived noise, no RNG)
    val ids2 = ImportanceSampling.resample(docs.repartition(7), "doc_id", "text", tc, rc,
      nKeep = 10, buckets = B).select("doc_id").as[Long].collect().toSet
    assert(ids == ids2)
    // nKeep >= corpus: everything comes back
    val all = ImportanceSampling.resample(docs, "doc_id", "text", tc, rc,
      nKeep = 1000, buckets = B).count()
    assert(all == 101L)
  }

  test("dsir: count tables carry their gram family and a mismatch fails fast") {
    val docs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val md5Counts = ImportanceSampling.bucketCounts(docs, "text", buckets = 64,
      gramHash = Dedup.Md5Gram)
    assert(ImportanceSampling.familyOf(md5Counts).contains(Dedup.Md5Gram.tag))
    // the tag survives a parquet round-trip (the persist-and-reuse workflow)
    val dir = tmpDir("dsirfam") + "/counts"
    md5Counts.write.parquet(dir)
    val reloaded = spark.read.parquet(dir)
    assert(ImportanceSampling.familyOf(reloaded).contains(Dedup.Md5Gram.tag))
    // scoring persisted md5 counts under the PolyGram default must fail
    // fast, not silently produce noise
    val e = intercept[IllegalArgumentException] {
      ImportanceSampling.logWeights(docs, "doc_id", "text", reloaded, reloaded, buckets = 64)
    }
    assert(e.getMessage.contains("gram-hash family"))
    // matching families stay green
    ImportanceSampling.logWeights(docs, "doc_id", "text", reloaded, reloaded,
      buckets = 64, gramHash = Dedup.Md5Gram).count()
  }

  test("dsir: prebuilt ratio model scores identically to logWeights and is persisted") {
    val rnd = new scala.util.Random(7)
    val words = Array("a", "b", "c", "d", "e", "f")
    def doc(): String = Seq.fill(15)(words(rnd.nextInt(words.length))).mkString(" ")
    val docs = (1L to 200L).map(i => (i, doc())).toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") % 5 === 0)
    val tc = ImportanceSampling.bucketCounts(target, "text", B)
    val rc = ImportanceSampling.bucketCounts(docs, "text", B)
    val model = ImportanceSampling.ratioModel(tc, rc, B)
    try {
      // the model's ratio table is materialized once (streaming microbatches
      // must not re-pay the count-total jobs)
      assert(model.ratio.storageLevel.useMemory || model.ratio.storageLevel.useDisk,
        "ratio table must be persisted")
      assert(model.familyTag.contains(Dedup.PolyGram.tag))
      def m(d: org.apache.spark.sql.DataFrame): Map[Long, Double] =
        d.select(col("doc_id"), round(col("logw"), 9).as("w")).as[(Long, Double)].collect().toMap
      val viaModel = m(ImportanceSampling.scoreWith(model, docs, "doc_id", "text"))
      val viaTables = m(ImportanceSampling.logWeights(docs, "doc_id", "text", tc, rc, B))
      assert(viaModel == viaTables, "model scoring must equal table scoring exactly")
      // family mismatch fails fast at the model layer too
      val e = intercept[IllegalArgumentException] {
        ImportanceSampling.scoreWith(model, docs, "doc_id", "text", gramHash = Dedup.Md5Gram)
      }
      assert(e.getMessage.contains("gram-hash family"))
    } finally model.unpersist()
  }
}
