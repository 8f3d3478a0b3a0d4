package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins for the round-15 optimization internals: work-capped spread width,
  * streaming state-partition scoping, and the one-pass per-term BM25 path's
  * value parity with the per-call path it replaced.
  */
class OptimizationR15Spec extends SparkSpec {
  import spark.implicits._

  private def docsOnDisk(n: Int): (String, org.apache.spark.sql.DataFrame) = {
    val dir = tmpDir("optr15_docs")
    (1 to n).map(i => (i.toLong, s"spark vector hash token$i filler words here"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    (dir, spark.read.parquet(dir))
  }

  test("spreadSmall width derives from the size estimate, not core count") {
    val (_, docs) = docsOnDisk(400)
    val bytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(bytes > 0)
    // a target far above the input: minimum spread width of 2
    val wide = Par.spreadSmall(docs, targetBytes = bytes.toLong * 10)
    assert(wide.rdd.getNumPartitions == 2)
    // a target far below the input: capped at the cluster parallelism (4)
    val capped = Par.spreadSmall(docs, targetBytes = 1L)
    assert(capped.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    // in between: ceil(bytes / target), never the flat parallelism
    val mid = Par.spreadSmall(docs, targetBytes = math.max(1L, bytes.toLong / 3))
    assert(mid.rdd.getNumPartitions >= 2 &&
      mid.rdd.getNumPartitions <= spark.sparkContext.defaultParallelism)
    // row identity: the spread only moves rows
    assert(wide.count() == 400 && capped.count() == 400)
  }

  test("withStatePartitions pins shuffle partitions inside, restores after") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val inside = graft.streaming.StreamingPipeline.withStatePartitions(spark) {
      spark.conf.get("spark.sql.shuffle.partitions")
    }
    assert(inside == graft.streaming.StreamingPipeline.statePartitions.toString)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    // restore must survive a throwing body too
    intercept[RuntimeException] {
      graft.streaming.StreamingPipeline.withStatePartitions(spark) {
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("bm25ScoresPerTerm equals per-term bm25Scores exactly") {
    val (_, docs) = docsOnDisk(60)
    val terms = Seq("spark", "vector", "hash")
    val batch = TextSearch.bm25ScoresPerTerm(docs, "text", "doc_id", terms)
      .select(col("term"), col("doc_id"), col("score"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    terms.foreach { t =>
      val single = TextSearch.bm25Scores(docs, "text", "doc_id", Seq(t))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      single.foreach { case (id, sc) =>
        // EXACT double equality: same literals, singleton sums
        assert(batch((t, id)) == sc, s"term=$t doc=$id")
      }
      assert(batch.keysIterator.count(_._1 == t) == single.size)
    }
  }

  test("graph pin width: 64 MB per partition, >= 1, parallelism cap") {
    // tiny table: one partition, never the cluster width
    assert(GraphAnn.pinWidth(BigInt(4L * 1024 * 1024), par = 32) == 1)
    // data-sized in between: ceil(bytes / 64 MB)
    assert(GraphAnn.pinWidth(BigInt(1L * 1024 * 1024 * 1024), par = 32) == 16)
    // huge (or unknown ⇒ Catalyst max) estimate: capped at parallelism
    assert(GraphAnn.pinWidth(BigInt(Long.MaxValue) * 4, par = 32) == 32)
    assert(GraphAnn.pinWidth(BigInt(0), par = 32) == 1)
  }

  test("expire's orphan sweep never deletes a commit dir holding in-flight staging") {
    val t = tmpDir("optr15_sweep")
    Snapshots.create(spark, t)
    Snapshots.append(spark, t,
      (1 to 10).map(i => (i.toLong, s"doc$i")).toDF("doc_id", "text"))
    // a concurrent writer mid-write: its commit dir holds ONLY the
    // _temporary staging tree (no data file has been committed up yet)
    val staging = new java.io.File(s"$t/data/c99999999-inflight/_temporary/0")
    assert(staging.mkdirs())
    val part = new java.io.File(staging, "part-00000-staged.parquet")
    java.nio.file.Files.writeString(part.toPath, "staged-bytes"): Unit
    val (_, reaped) = Snapshots.expire(spark, t, keepLast = 10, orphanGraceMs = 3600000L)
    assert(reaped == 0L, s"graced sweep must spare in-flight staging, reaped=$reaped")
    assert(part.exists(), "in-flight staged task output must survive the sweep")
    assert(staging.getParentFile.getParentFile.exists(), "the writer's commit dir must survive")
    // the table itself is untouched
    assert(Snapshots.read(spark, t).count() == 10L)
  }
}
