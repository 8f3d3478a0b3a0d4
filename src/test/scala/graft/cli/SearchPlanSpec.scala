package graft.cli

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.embed.DeterministicProvider
import graft.operators.{Similarity, TextSearch}
import graft.sources.SnapshotChunkStore

/** Search entry points plan their index reads in the driver: a query over
  * a 64-bucket BM25 index and a 64-cell IVF index lists only the
  * directories it probes (no 64-task listing job) and infers no schema, so
  * each call runs a small fixed number of jobs whatever the index size.
  */
class SearchPlanSpec extends SparkSpec {
  import spark.implicits._

  /** Every job started while registered, as (job id, widest stage's tasks). */
  private final class JobTasks extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    override def onJobStart(js: SparkListenerJobStart): Unit =
      jobs.add((js.jobId, js.stageInfos.map(_.numTasks).foldLeft(0)(math.max))): Unit
  }

  private def jobsOf(body: => Unit): Seq[(Int, Int)] = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    org.apache.spark.graft.StatusBridge.quiesce(sc)
    val l = new JobTasks
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.graft.StatusBridge.quiesce(sc)
    } finally sc.removeSparkListener(l)
    l.jobs.asScala.toSeq.sortBy(_._1)
  }

  private val provider = new DeterministicProvider(64)
  private val vocab = (0 until 300).map(i => s"ord$i")
  private val texts = (0 until 200).map { i =>
    val r = new scala.util.Random(i)
    (s"paragraf $i" +: Seq.fill(12)(vocab(r.nextInt(vocab.size)))).mkString(" ")
  }

  /** A snapshot chunk store of `texts`, one chunk per document. */
  private def storeOf(root: String): SnapshotChunkStore = {
    val store = new SnapshotChunkStore(s"$root/store")
    val rows = texts.zipWithIndex.map { case (t, i) => (s"c$i", s"d$i", t) }
      .toDF("chunkId", "documentId", "content")
      .select(
        col("chunkId"), col("documentId"), lit("ds").as("datasetName"), col("content"),
        lit(5).as("tokenCount"), lit("h").as("sectionHeading"), lit("").as("absoluteAddress"),
        lit("none").as("splitReason"), lit(null).cast("string").as("parentChunkId"),
        sha2(col("content"), 256).as("sourceHash"),
        array().cast("array<string>").as("crossRefs"), lit(0).as("chunkIndex"))
    store.upsert(spark, graft.embed.Embedding.embed(rows, "content", provider))
    store
  }

  private def leafDirs(path: String, prefix: String): Int =
    new java.io.File(path).listFiles().count(f => f.isDirectory && f.getName.startsWith(prefix))

  test("search over a 64-bucket index: per-call job ceilings, no job lists the index") {
    val root = tmpDir("searchplan")
    val store = storeOf(root)
    GraftCli.textIndex(spark, store, s"$root/bm25", nBuckets = 64)
    GraftCli.vectorIndex(spark, store, s"$root/ivf", kCells = 64)
    GraftCli.graphIndex(spark, store, s"$root/graph")
    // wide enough that listing either index from its root is a parallel job
    assert(leafDirs(s"$root/bm25", "bucket=") > 32 && leafDirs(s"$root/ivf", "cid=") > 32)

    val q = texts(17)
    def check(name: String, ceiling: Int)(run: => Array[org.apache.spark.sql.Row]): Unit = {
      var rows = Array.empty[org.apache.spark.sql.Row]
      val jobs = jobsOf { rows = run }
      assert(rows.nonEmpty, s"$name returned nothing")
      assert(jobs.size <= ceiling, s"$name ran ${jobs.size} jobs (ceiling $ceiling): $jobs")
      assert(jobs.forall(_._2 < 64), s"$name ran a job of >= 64 tasks: $jobs")
    }
    check("vectorSearch", 2) {
      GraftCli.vectorSearch(spark, s"$root/ivf", q, provider = provider).collect()
    }
    check("textSearch", 3) {
      GraftCli.textSearch(spark, s"$root/bm25", q.split(" ").slice(2, 4).toSeq).collect()
    }
    check("graphSearch", 6) {
      GraftCli.graphSearch(spark, s"$root/graph", q, provider = provider).collect()
    }
    check("search", 1) {
      GraftCli.search(spark, store, q, provider = provider).collect()
    }
    // and the answers are the stored chunk itself
    assert(GraftCli.vectorSearch(spark, s"$root/ivf", q, k = 1, provider = provider)
      .head().getString(0) == "c17")
    assert(GraftCli.search(spark, store, q, k = 1, provider = provider).head().getString(0) == "c17")
  }

  test("a probed IVF cell no vector landed in has no directory and is skipped") {
    val dir = tmpDir("ivfempty") + "/index"
    // ids 0 and 1 share a vector and both seed a cell: every tie goes to
    // the larger cid, so cell 0 keeps its centroid and gets no member
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(0.9f, 0.1f)), (4L, Array(0.1f, 0.9f))).toDF("vec_id", "embedding")
    Similarity.writeIvf(spark,
      Similarity.buildIvfKmeans(vecs, "embedding", "vec_id", k = 3, iters = 0), dir)
    val index = Similarity.readIvf(spark, dir)
    assert(index.centroids.map(_._1) == Seq(0, 1, 2))
    assert(!new java.io.File(s"$dir/cid=0").exists, "fixture: cell 0 is empty")
    val q = Array(1f, 0f)
    assert(Similarity.probeCells(index, q, 1) == Seq(0))
    // only the empty cell probed: an empty answer, not an error
    assert(Similarity.topKIvf(index, "embedding", "vec_id", q, 3, nProbes = 1).isEmpty)
    // the empty cell and a populated one: the populated cell answers
    val hits = Similarity.topKIvf(index, "embedding", "vec_id", q, 3, nProbes = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(hits == Set(0L, 1L, 3L))
  }

  test("BM25 query terms whose bucket holds no posting are skipped") {
    val dir = tmpDir("bm25empty") + "/index"
    val docs = Seq((1L, "apple banana apple"), (2L, "banana cherry"), (3L, "apple"))
      .toDF("doc_id", "text")
    TextSearch.writeIndex(spark, docs, "text", "doc_id", dir, nBuckets = 64)
    def bucketOf(t: String): Long =
      spark.range(1).select(pmod(xxhash64(lit(t)), lit(64L))).head().getLong(0)
    val absent = Iterator.from(0).map(i => s"zz$i")
      .find(t => !new java.io.File(s"$dir/bucket=${bucketOf(t)}").exists).get
    val withAbsent = TextSearch.searchIndex(spark, dir, Seq("apple", absent), 10)
      .as[(Long, Double)].collect().toMap
    val appleOnly = TextSearch.searchIndex(spark, dir, Seq("apple"), 10)
      .as[(Long, Double)].collect().toMap
    assert(withAbsent.keySet == Set(1L, 3L) && withAbsent == appleOnly)
    assert(TextSearch.searchIndex(spark, dir, Seq(absent), 10).isEmpty)
  }

  test("an index with the earliest _stats shape (n, avgdl, n_buckets) still searches") {
    val docs = Seq((1L, "apple banana apple"), (2L, "banana cherry"), (3L, "apple"),
      (4L, "cherry date")).toDF("doc_id", "text")
    val dir = tmpDir("bm25legacy") + "/index"
    TextSearch.writeIndex(spark, docs, "text", "doc_id", dir, nBuckets = 8)
    def search(): Map[Long, Double] =
      TextSearch.searchIndex(spark, dir, Seq("apple", "cherry"), 10)
        .as[(Long, Double)].collect().toMap
    val current = search()
    Seq((4L, 8.0 / 4, 8)).toDF("n", "avgdl", "n_buckets") // dl 3 + 2 + 1 + 2
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_stats")
    val legacy = search()
    assert(legacy.keySet == current.keySet)
    legacy.foreach { case (id, s) => assert(math.abs(s - current(id)) < 1e-12, s"doc $id") }
  }

  test("a read-back IVF index reads every cell for a full scan, and PQ/filters map per probe") {
    val dir = tmpDir("ivffull") + "/index"
    val vecs = (0 until 40).map { i =>
      val a = i / 40.0 * 2 * math.Pi
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat), i % 2)
    }.toDF("vec_id", "embedding", "label")
    Similarity.writeIvf(spark, Similarity.buildIvf(vecs, "embedding", "vec_id", 5), dir)
    val index = Similarity.readIvf(spark, dir)
    assert(index.assigned.count() == 40)
    val evens = index.mapRows((_: DataFrame).filter(col("label") === 0))
    val cells = Similarity.probeCells(evens, Array(1f, 0f), 2)
    val got = evens.cells(cells).select("vec_id", "cid").as[(Long, Int)].collect()
    assert(got.nonEmpty && got.forall { case (id, c) => id % 2 == 0 && cells.contains(c) })
  }
}
