package graft.sources

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Snapshots
import graft.ops.Ops

/** Store semantics (reference `tests/unit/jsonl_vector_store_test.py`:
  * upsert, update-by-id, delete, empty-store handling, multi-doc handling),
  * the import/export of plain parquet and JSON-lines chunk dirs, and
  * concurrent writers.
  */
class ChunkStoreSpec extends SparkSpec {

  private def chunks(rows: (String, String, String, Int)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("chunkId", "documentId", "content", "chunkIndex")
      .select(
        col("chunkId"), col("documentId"),
        lit("ds").as("datasetName"), col("content"),
        lit(10).as("tokenCount"), lit("h").as("sectionHeading"),
        lit("").as("absoluteAddress"), lit("none").as("splitReason"),
        lit(null).cast("string").as("parentChunkId"),
        sha2(col("content"), 256).as("sourceHash"),
        array(lit("r1")).as("crossRefs"), col("chunkIndex"),
        lit(null).cast("array<float>").as("embedding"),
        lit("m").as("embeddingModel"), lit("t0").as("embeddedAt")
      )
  }

  private def freshStore(name: String) = new SnapshotChunkStore(tmpDir(name) + "/t")

  private def contents(df: DataFrame): Map[String, String] =
    df.select("chunkId", "content").collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("upsert inserts then overlays by chunkId (K1/J3)") {
    val store = freshStore("store")
    store.upsert(spark, chunks(("d1_c0", "d1", "v1", 0), ("d1_c1", "d1", "v1b", 1)))
    assert(store.count(spark) == 2)
    // same id, new content (different sourceHash — must still overlay)
    store.upsert(spark, chunks(("d1_c0", "d1", "v2", 0)))
    assert(contents(store.read(spark)) == Map("d1_c0" -> "v2", "d1_c1" -> "v1b"))
  }

  test("delete by document removes all chunks and empty buckets (K3)") {
    val store = freshStore("store")
    store.upsert(spark, chunks(
      ("d1_c0", "d1", "a", 0), ("d1_c1", "d1", "b", 1), ("d2_c0", "d2", "c", 0)
    ))
    val deleted = store.deleteByDocumentIds(spark, Seq("d1"))
    assert(deleted == 2)
    assert(store.count(spark) == 1)
    assert(store.distinctDocumentIds(spark).collect().map(_.getString(0)).toSeq == Seq("d2"))
    // deleting the last doc empties the store (reference unlinks empty files)
    assert(store.deleteByDocumentIds(spark, Seq("d2")) == 1)
    assert(store.count(spark) == 0)
  }

  test("upsert is idempotent under replay (task-retry safety)") {
    val store = freshStore("store")
    val batch = chunks(("d1_c0", "d1", "a", 0), ("d2_c0", "d2", "b", 0))
    store.upsert(spark, batch)
    val first = store.read(spark).orderBy("chunkId").collect().toSeq
    store.upsert(spark, batch) // replayed microbatch / retried job
    val second = store.read(spark).orderBy("chunkId").collect().toSeq
    assert(second == first, "replaying the same batch must not change the store")
  }

  test("delete of unknown document is a no-op returning 0") {
    val store = freshStore("store")
    store.upsert(spark, chunks(("d1_c0", "d1", "a", 0)))
    assert(store.deleteByDocumentIds(spark, Seq("nope")) == 0)
    assert(store.count(spark) == 1)
  }

  test("migrate parquet -> json preserves rows incl. crossRefs list (K5)") {
    val root = tmpDir("mig")
    chunks(("d1_c0", "d1", "a", 0), ("d2_c0", "d2", "b", 0)).write.parquet(s"$root/in")
    // parquet dir -> json dir -> the store: each step moves every row
    assert(Ops.migrate(spark, s"$root/in", "parquet", s"$root/json", "json") == 2)
    assert(Ops.migrate(spark, s"$root/json", "json", s"$root/store", "snapshot") == 2)
    val back = new SnapshotChunkStore(s"$root/store").read(spark)
    assert(back.count() == 2)
    assert(back.select("crossRefs").head().getSeq[String](0) == Seq("r1"))
    // and out again: the export is the store's rows, in the stored schema
    assert(Ops.migrate(spark, s"$root/store", "snapshot", s"$root/out", "parquet") == 2)
    def cols(schema: org.apache.spark.sql.types.StructType) =
      schema.map(f => f.name -> f.dataType.simpleString)
    assert(cols(spark.read.parquet(s"$root/out").schema) == cols(SnapshotChunkStore.storedSchema))
    assert(contents(spark.read.parquet(s"$root/out")) == Map("d1_c0" -> "a", "d2_c0" -> "b"))
  }

  test("json store tolerates corrupt lines (S4 PERMISSIVE)") {
    val root = tmpDir("jsonstore")
    chunks(("d1_c0", "d1", "a", 0)).coalesce(1).write.json(s"$root/json")
    // inject garbage into the JSON-lines part file
    val dir = new java.io.File(s"$root/json")
    val part = dir.listFiles().find(_.getName.endsWith(".json")).get
    val out = new java.io.FileWriter(part, true)
    out.write("\n{not valid json!!\n"); out.close()
    // drop Hadoop's local checksum sidecar so the tampered file is readable
    dir.listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())
    assert(Ops.migrate(spark, s"$root/json", "json", s"$root/store", "snapshot") == 1)
    assert(new SnapshotChunkStore(s"$root/store").count(spark) == 1)
  }

  test("migrate imports a doc_prefix-bucketed parquet dir; the bucket column drops") {
    val root = tmpDir("bucketed")
    // the layout of a store bucketed by the first hex char of sha2(documentId)
    chunks((1 to 12).map(i => (s"c$i", s"doc$i", s"text $i", 0)): _*)
      .withColumn("doc_prefix", substring(sha2(col("documentId"), 256), 1, 1))
      .write.partitionBy("doc_prefix").parquet(s"$root/in")
    assert(Ops.migrate(spark, s"$root/in", "parquet", s"$root/store", "snapshot") == 12)
    val store = new SnapshotChunkStore(s"$root/store")
    assert(store.read(spark).columns.toSeq == SnapshotChunkStore.chunkCols)
    assert(contents(store.read(spark)) == (1 to 12).map(i => s"c$i" -> s"text $i").toMap)
  }

  test("migrate rejects an unknown format and an existing export dir") {
    val root = tmpDir("migbad")
    val store = new SnapshotChunkStore(s"$root/store")
    store.upsert(spark, chunks(("d1_c0", "d1", "a", 0)))
    intercept[IllegalArgumentException](
      Ops.migrate(spark, s"$root/store", "snapshot", s"$root/x", "chroma"))
    Ops.migrate(spark, s"$root/store", "snapshot", s"$root/out", "json")
    // an export never overwrites: a second one into the same dir fails
    intercept[org.apache.spark.sql.AnalysisException](
      Ops.migrate(spark, s"$root/store", "snapshot", s"$root/out", "json"))
    assert(spark.read.json(s"$root/out").count() == 1)
  }

  test("read of a missing store is empty, not an error") {
    val store = new SnapshotChunkStore(tmpDir("gone") + "/nothing")
    assert(store.count(spark) == 0)
  }

  // --- concurrent writers ---------------------------------------------------

  /** Runs `a` and `b` on two threads whose commits both plan against the
    * same table version: each waits in the pre-commit seam until the other
    * has planned too, then both race for the commit lock.
    */
  private def race(a: => Unit, b: => Unit): Seq[Try[Unit]] = {
    val planned = new java.util.concurrent.CyclicBarrier(2)
    Snapshots.preCommitHook = () => planned.await(120, java.util.concurrent.TimeUnit.SECONDS): Unit
    try Seq(Future(Try(a)), Future(Try(b))).map(Await.result(_, 5.minutes))
    finally Snapshots.preCommitHook = () => ()
  }

  private def mergeCommits(store: SnapshotChunkStore): Seq[Long] =
    Snapshots.history(spark, store.path).filter(col("op") === "merge")
      .select("version").collect().map(_.getLong(0)).toSeq.sorted

  test("two writers of disjoint documents both land as merge commits and lose no rows") {
    val store = freshStore("concurrent")
    store.upsert(spark, chunks(("seed", "d0", "base", 0)))
    val seeded = Snapshots.currentVersion(store.path).get
    // disjoint documents AND disjoint chunkId ranges: neither writer's new
    // file can hold a key the other one replaces, so the later commit
    // rebases over the earlier one instead of failing
    val outcomes = race(
      store.upsert(spark, chunks((1 to 8).map(i => (s"a$i", s"docA$i", s"textA$i", 0)): _*)),
      store.upsert(spark, chunks((1 to 8).map(i => (s"b$i", s"docB$i", s"textB$i", 0)): _*)))
    assert(outcomes.forall(_.isSuccess), s"both writers must commit: $outcomes")
    assert(Snapshots.currentVersion(store.path).contains(seeded + 2))
    assert(mergeCommits(store).takeRight(2) == Seq(seeded + 1, seeded + 2))
    assert(store.count(spark) == 17, "both writers' rows must survive")
    assert(contents(store.read(spark)) ==
      ((1 to 8).flatMap(i => Seq(s"a$i" -> s"textA$i", s"b$i" -> s"textB$i")) :+ ("seed" -> "base")).toMap)
    Seq("_lock", "_commit_lock").foreach(l =>
      assert(!new java.io.File(store.path, l).exists(), s"$l left behind"))
  }

  test("two writers of overlapping chunkIds: the loser conflicts, the table is the winner's") {
    val store = freshStore("conflict")
    store.upsert(spark, chunks(("seed", "d0", "base", 0)))
    val seeded = Snapshots.currentVersion(store.path).get
    def batch(tag: String) = chunks((1 to 8).map(i => (s"c$i", s"doc$i", s"$tag$i", 0)): _*)
    val outcomes = race(store.upsert(spark, batch("A")), store.upsert(spark, batch("B")))
    val (won, lost) = outcomes.zip(Seq("A", "B")).partition(_._1.isSuccess)
    assert(won.size == 1 && lost.size == 1, s"exactly one writer must win: $outcomes")
    assert(lost.head._1.failed.get.isInstanceOf[java.util.ConcurrentModificationException],
      s"the loser must fail with a conflict: ${lost.head._1}")
    val winner = won.head._2
    assert(Snapshots.currentVersion(store.path).contains(seeded + 1), "the loser must not commit")
    assert(contents(store.read(spark)) ==
      ((1 to 8).map(i => s"c$i" -> s"$winner$i") :+ ("seed" -> "base")).toMap)
    assert(!new java.io.File(store.path, "_commit_lock").exists())
  }

  // --- the protocol ----------------------------------------------------------

  test("the keyed-store protocol holds over the snapshot-table backend") {
    val store = freshStore("kstore-snapshot")
    assert(store.count(spark) == 0, "a missing store reads empty")
    store.upsert(spark, chunks(("d1_c0", "d1", "v1", 0), ("d1_c1", "d1", "v1b", 1),
      ("d2_c0", "d2", "x", 0)))
    assert(store.count(spark) == 3)
    // overlay by chunkId, including a within-batch duplicate (chunkIndex
    // tie-break keeps the later row — the Overlay discipline)
    store.upsert(spark, chunks(("d1_c0", "d1", "stale", 0), ("d1_c0", "d1", "v2", 1)))
    val rows = contents(store.read(spark))
    assert(rows == Map("d1_c0" -> "v2", "d1_c1" -> "v1b", "d2_c0" -> "x"),
      s"overlay semantics must hold: $rows")
    // idempotent replay
    store.upsert(spark, chunks(("d1_c0", "d1", "v2", 1)))
    assert(store.count(spark) == 3)
    // delete by document; unknown ids are a no-op
    assert(store.deleteByDocumentIds(spark, Seq("d1", "nope")) == 2)
    assert(store.distinctDocumentIds(spark).collect().map(_.getString(0)).toSeq == Seq("d2"))
    assert(store.deleteByDocumentIds(spark, Seq("d2")) == 1)
    assert(store.count(spark) == 0)
  }

  test("snapshot-backed store adds time travel and zero-rewrite deletes") {
    val store = freshStore("kstore-tt")
    // data files outside deletion-vector datasets
    def nonDv(): Set[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"${store.path}/data"))
        .iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          java.nio.file.Files.isRegularFile(p) && !n.startsWith("_") &&
            !n.startsWith(".") && !p.getParent.getFileName.toString.endsWith(".dv")
        }.map(_.toString).toSet
    }
    store.upsert(spark, chunks(("d1_c0", "d1", "v1", 0), ("d2_c0", "d2", "y", 0)))
    val afterInsert = nonDv()
    store.upsert(spark, chunks(("d1_c0", "d1", "v2", 0)))
    // merge-on-read upsert: the old data file stays, the upsert lands beside it
    val dataFilesBefore = nonDv()
    assert(afterInsert.subsetOf(dataFilesBefore) &&
      dataFilesBefore.size == afterInsert.size + 1, "an upsert must rewrite zero data files")
    assert(store.deleteByDocumentIds(spark, Seq("d2")) == 1)
    // MOR delete: the .dv dataset is new, but no DATA file rewrote
    assert(nonDv() == dataFilesBefore, "delete-by-document must rewrite zero data files")
    // time travel: v1 still shows the pre-overlay content and both docs
    assert(contents(store.readAt(spark, 1L)) == Map("d1_c0" -> "v1", "d2_c0" -> "y"))
    // export reads the current version
    val out = tmpDir("kstore-mig") + "/out"
    assert(Ops.migrate(spark, store.path, "snapshot", out, "parquet") == 1L)
    assert(spark.read.parquet(out).select("content").head().getString(0) == "v2")
  }
}
