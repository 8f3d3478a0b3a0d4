package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** PSI/KL corpus-drift monitor: hand-computed values, the zero law,
  * absent-bucket folding, family guard, and partition invariance.
  */
class DriftSpec extends SparkSpec {
  import spark.implicits._

  test("identical corpora drift exactly zero") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "beta gamma epsilon zeta"))
      .toDF("id", "text")
    val r = Drift.textDrift(docs, docs, "text", buckets = 64).head()
    assert(r.getAs[Double]("psi") == 0.0)
    assert(r.getAs[Double]("kl_ref_cur") == 0.0)
  }

  test("textDrift releases its count checkpoint (no persisted RDD left)") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "beta gamma epsilon zeta"))
      .toDF("id", "text")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val r = Drift.textDrift(docs, docs.filter(col("id") === 2L), "text", buckets = 64)
    assert(r.head().getAs[Double]("psi") > 0.0, "the result still evaluates after the release")
    assert(sc.getPersistentRDDs.keySet == before, "textDrift left a persisted RDD")
  }

  test("categorical drift matches the hand-computed PSI and KL") {
    // ref: a,a,b   cur: a,b,b   domain 2
    // p = (2+1)/5, (1+1)/5 ; q = (1+1)/5, (2+1)/5
    // PSI = 0.2·ln1.5 + 0.2·ln1.5 = 0.162186…; KL = 0.6·ln1.5 − 0.4·ln1.5
    val ref = Seq("a", "a", "b").toDF("cat")
    val cur = Seq("a", "b", "b").toDF("cat")
    val r = Drift.categoricalDrift(ref, cur, "cat", domain = 2).head()
    assert(r.getAs[Double]("psi") == 0.162186)
    assert(r.getAs[Double]("kl_ref_cur") == 0.081093)
    assert(r.getAs[Long]("n_buckets_present") == 2L)
    assert(r.getAs[Long]("n_ref") == 3L)
    assert(r.getAs[Long]("n_cur") == 3L)
  }

  test("absent buckets fold in analytically — equals the materialized sum") {
    val ref = Seq(0L, 0L, 1L).toDF("bucket").groupBy("bucket")
      .agg(count(lit(1)).as("cnt"))
    val cur = Seq(0L, 1L, 1L, 1L).toDF("bucket").groupBy("bucket")
      .agg(count(lit(1)).as("cnt"))
    val buckets = 8
    val got = Drift.drift(ref, cur, buckets).head()
    // brute-force over ALL buckets with the same nano-unit discipline
    val refC = Map(0L -> 2L, 1L -> 1L); val curC = Map(0L -> 1L, 1L -> 3L)
    val dr = 3.0 + buckets; val dc = 4.0 + buckets
    var psiN = 0L; var klN = 0L
    for (b <- 0 until buckets) {
      val p = (refC.getOrElse(b.toLong, 0L) + 1.0) / dr
      val q = (curC.getOrElse(b.toLong, 0L) + 1.0) / dc
      psiN += math.round((p - q) * math.log(p / q) * 1e9)
      klN += math.round(p * math.log(p / q) * 1e9)
    }
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getAs[Double]("psi") == r6(psiN / 1e9))
    assert(got.getAs[Double]("kl_ref_cur") == r6(klN / 1e9))
    assert(got.getAs[Long]("n_buckets_present") == 2L)
    assert(got.getAs[Double]("psi") >= 0.0, "PSI is per-term nonnegative")
  }

  test("gram-family mismatch fails fast") {
    val docs = Seq((1L, "one two three four")).toDF("id", "text")
    val a = ImportanceSampling.bucketCounts(docs, "text", 32, 2, Dedup.PolyGram)
    val b = ImportanceSampling.bucketCounts(docs, "text", 32, 2, Dedup.Md5Gram)
    val e = intercept[IllegalArgumentException](Drift.drift(a, b, 32))
    assert(e.getMessage.contains("families"))
  }

  test("drift is invariant under repartitioning") {
    val docs = (0 until 120).map(i => (i.toLong,
      s"tok${i % 7} tok${i % 11} tok${i % 13} tok${i % 5}")).toDF("id", "text")
    val ref = docs.filter(col("id") % 2 === 0)
    val cur = docs.filter(col("id") % 2 === 1)
    val a = Drift.textDrift(ref, cur, "text", buckets = 128).head()
    val b = Drift.textDrift(ref.repartition(7), cur.repartition(5), "text", buckets = 128).head()
    assert(a.getAs[Double]("psi") == b.getAs[Double]("psi"))
    assert(a.getAs[Double]("kl_ref_cur") == b.getAs[Double]("kl_ref_cur"))
  }

  test("an undercounted domain fails loudly, never a negative floor term") {
    // 3 categories present but domain declares 2: the absent-bucket count
    // (2 − 3) would fold in with a NEGATIVE multiplier — must raise instead
    val ref = Seq("a", "b", "c").toDF("cat")
    val cur = Seq("a", "a", "b").toDF("cat")
    val ex = intercept[Exception] {
      Drift.categoricalDrift(ref, cur, "cat", domain = 2).head()
    }
    assert(ex.getMessage.contains("smaller than"), s"got: ${ex.getMessage}")
  }

  test("numeric CATEGORIES are valid: year-like values never trip the range guard") {
    // categoricalDrift's "bucket" column carries raw category VALUES —
    // year=2024 with domain=5 is a legal call (PSI/KL never index by the
    // value); the hashed-space range guard must not apply here
    val ref = Seq(2020L, 2021L, 2021L, 2024L).toDF("year")
    val cur = Seq(2021L, 2024L, 2024L, 2024L).toDF("year")
    val r = Drift.categoricalDrift(ref, cur, "year", domain = 5).head()
    assert(r.getAs[Long]("n_buckets_present") == 3L)
    assert(r.getAs[Double]("psi") > 0.0, "shifted shares drift")
    // and the same shares under relabeled categories score identically —
    // the drift value depends on counts only, never on the values
    val refS = Seq("a", "b", "b", "c").toDF("cat")
    val curS = Seq("b", "c", "c", "c").toDF("cat")
    val s = Drift.categoricalDrift(refS, curS, "cat", domain = 5).head()
    assert(r.getAs[Double]("psi") == s.getAs[Double]("psi"))
    assert(r.getAs[Double]("kl_ref_cur") == s.getAs[Double]("kl_ref_cur"))
  }

  test("the validation guard survives selecting only kl_ref_cur") {
    // the _guard rides BOTH metric columns: a caller projecting only the
    // KL must still hit the domain-undercount error, not a silent negative
    // floor term
    val ref = Seq("a", "b", "c").toDF("cat")
    val cur = Seq("a", "a", "b").toDF("cat")
    val ex = intercept[Exception] {
      Drift.categoricalDrift(ref, cur, "cat", domain = 2)
        .select("kl_ref_cur").head()
    }
    assert(ex.getMessage.contains("smaller than"), s"got: ${ex.getMessage}")
  }

  test("numeric bucket ids outside [0, buckets) fail loudly") {
    val ref = Seq((0L, 3L), (9L, 2L)).toDF("bucket", "cnt") // id 9 ∉ [0, 8)
    val cur = Seq((0L, 1L), (1L, 4L)).toDF("bucket", "cnt")
    val ex = intercept[Exception] {
      Drift.drift(ref, cur, buckets = 8).head()
    }
    assert(ex.getMessage.contains("[0, 8)"), s"got: ${ex.getMessage}")
  }
}
