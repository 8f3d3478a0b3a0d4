package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Store semantics (reference `tests/unit/jsonl_vector_store_test.py`:
  * upsert, update-by-id, delete, empty-file removal, multi-doc handling).
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

  test("upsert inserts then overlays by chunkId (K1/J3)") {
    val store = new ChunkStore(tmpDir("store"))
    store.upsert(spark, chunks(("d1_c0", "d1", "v1", 0), ("d1_c1", "d1", "v1b", 1)))
    assert(store.count(spark) == 2)
    // same id, new content (different sourceHash — must still overlay)
    store.upsert(spark, chunks(("d1_c0", "d1", "v2", 0)))
    val rows = store.read(spark).select("chunkId", "content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows == Map("d1_c0" -> "v2", "d1_c1" -> "v1b"))
  }

  test("delete by document removes all chunks and empty buckets (K3)") {
    val store = new ChunkStore(tmpDir("store"))
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

  test("a torn bucket swap fails reads loudly and heals on the next mutation") {
    val dir = tmpDir("store")
    val store = new ChunkStore(dir)
    store.upsert(spark, chunks(("d1_c0", "d1", "a", 0), ("d2_c0", "d2", "b", 0)))
    assert(store.count(spark) == 2)
    // simulate a crash mid-swap: one live bucket renamed aside, replacement
    // never landed — exactly the window upsert's bak-first protocol leaves
    val bucket = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("doc_prefix=")).head
    assert(bucket.renameTo(new java.io.File(dir, s".bak-${bucket.getName}")))
    val ex = intercept[IllegalStateException] { store.count(spark) }
    assert(ex.getMessage.contains("interrupted"),
      s"a missing bucket must fail loudly, not read short: $ex")
    // ANY mutation's recovery pass restores the bucket first
    store.upsert(spark, chunks(("d3_c0", "d3", "c", 0)))
    assert(store.count(spark) == 3)
    assert(store.distinctDocumentIds(spark).collect().map(_.getString(0)).toSet ==
      Set("d1", "d2", "d3"))
  }

  test("upsert is idempotent under replay (task-retry safety)") {
    val store = new ChunkStore(tmpDir("store"))
    val batch = chunks(("d1_c0", "d1", "a", 0), ("d2_c0", "d2", "b", 0))
    store.upsert(spark, batch)
    val first = store.read(spark).orderBy("chunkId").collect().toSeq
    store.upsert(spark, batch) // replayed microbatch / retried job
    val second = store.read(spark).orderBy("chunkId").collect().toSeq
    assert(second == first, "replaying the same batch must not change the store")
  }

  test("delete of unknown document is a no-op returning 0") {
    val store = new ChunkStore(tmpDir("store"))
    store.upsert(spark, chunks(("d1_c0", "d1", "a", 0)))
    assert(store.deleteByDocumentIds(spark, Seq("nope")) == 0)
    assert(store.count(spark) == 1)
  }

  test("migrate parquet -> json preserves rows incl. crossRefs list (K5)") {
    val src = new ChunkStore(tmpDir("src"))
    val dst = new ChunkStore(tmpDir("dst"), format = "json")
    src.upsert(spark, chunks(("d1_c0", "d1", "a", 0), ("d2_c0", "d2", "b", 0)))
    val n = ChunkStore.migrate(spark, src, dst)
    assert(n == 2)
    val back = dst.read(spark)
    assert(back.count() == 2)
    assert(back.select("crossRefs").head().getSeq[String](0) == Seq("r1"))
  }

  test("json store tolerates corrupt lines (S4 PERMISSIVE)") {
    val dir = tmpDir("jsonstore")
    val store = new ChunkStore(dir, format = "json")
    store.upsert(spark, chunks(("d1_c0", "d1", "a", 0)))
    // inject garbage into the bucket file
    val bucket = new java.io.File(dir).listFiles().find(_.getName.startsWith("doc_prefix=")).get
    val part = bucket.listFiles().find(_.getName.endsWith(".json")).get
    val out = new java.io.FileWriter(part, true)
    out.write("\n{not valid json!!\n"); out.close()
    // drop Hadoop's local checksum sidecar so the tampered file is readable
    bucket.listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())
    assert(store.read(spark).count() == 1)
  }

  test("one file per bucket holds across repeated upsert cycles (no compaction needed)") {
    val store = new ChunkStore(tmpDir("store_files"), prefixLen = 1)
    // three separate upsert cycles over the same documents: each touched
    // bucket is rewritten whole as a single sorted file every time, so the
    // store never fragments and never needs a compaction pass
    (0 until 3).foreach { cycle =>
      store.upsert(spark, chunks(
        (1 to 12).map(i => (s"c$i-$cycle", s"doc$i", s"text $i cycle $cycle", cycle)): _*))
    }
    val buckets = store.read(spark)
      .select(substring(sha2(col("documentId"), 256), 1, 1)).distinct().count()
    assert(store.dataFileCount(spark) == buckets,
      "exactly one data file per occupied bucket after three upsert cycles")
    assert(store.count(spark) == 36)
  }

  test("read of a missing store is empty, not an error") {
    val store = new ChunkStore(tmpDir("gone") + "/nothing")
    assert(store.count(spark) == 0)
  }

  test("a mutation fails clean while another writer holds the lock") {
    val dir = tmpDir("locked")
    val store = new ChunkStore(dir)
    store.upsert(spark, chunks(("c0", "d1", "v1", 0)))
    // simulate a live competing writer: fresh foreign-owned lock file
    val lock = new java.io.File(dir, "_lock")
    val w = new java.io.FileWriter(lock); w.write("someone-else"); w.close()
    intercept[ChunkStore.ConcurrentWriteException] {
      store.upsert(spark, chunks(("c1", "d1", "v2", 1)))
    }
    intercept[ChunkStore.ConcurrentWriteException] {
      store.deleteByDocumentIds(spark, Seq("d1"))
    }
    // failed clean: store unchanged, foreign lock untouched
    assert(store.count(spark) == 1)
    assert(lock.exists())
    assert(scala.io.Source.fromFile(lock).mkString == "someone-else")
  }

  test("an abandoned (stale) lock is broken and the mutation proceeds") {
    val dir = tmpDir("stale")
    val store = new ChunkStore(dir, staleLockMs = 50L)
    store.upsert(spark, chunks(("c0", "d1", "v1", 0)))
    val lock = new java.io.File(dir, "_lock")
    val w = new java.io.FileWriter(lock); w.write("crashed-writer"); w.close()
    Thread.sleep(120) // let the lock age past staleLockMs
    store.upsert(spark, chunks(("c1", "d2", "v2", 0)))
    assert(store.count(spark) == 2)
    assert(!lock.exists(), "the new writer must release its own lock")
  }

  test("concurrent upserts serialize under lockWaitMs and lose no rows") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = tmpDir("concurrent")
    val store = new ChunkStore(dir, prefixLen = 1, lockWaitMs = 60000L)
    store.upsert(spark, chunks(("seed", "d0", "base", 0)))
    // two writers race over disjoint chunk ids; the lock serializes the
    // read-overlay-overwrite cycles, so the final store holds both batches
    val a = Future(store.upsert(spark, chunks(
      (1 to 8).map(i => (s"a$i", s"docA$i", s"textA$i", 0)): _*)))
    val b = Future(store.upsert(spark, chunks(
      (1 to 8).map(i => (s"b$i", s"docB$i", s"textB$i", 0)): _*)))
    Await.result(a, 120.seconds)
    Await.result(b, 120.seconds)
    assert(store.count(spark) == 17, "both writers' rows must survive")
    assert(!new java.io.File(dir, "_lock").exists())
  }

  // --- the shared protocol, parameterized over BOTH backends -------------

  private def protocolLaws(mk: String => KeyedChunkStore, label: String): Unit = {
    val store = mk(tmpDir(s"kstore-$label"))
    assert(store.count(spark) == 0, "a missing store reads empty")
    store.upsert(spark, chunks(("d1_c0", "d1", "v1", 0), ("d1_c1", "d1", "v1b", 1),
      ("d2_c0", "d2", "x", 0)))
    assert(store.count(spark) == 3)
    // overlay by chunkId, including a within-batch duplicate (chunkIndex
    // tie-break keeps the later row — the Overlay discipline)
    store.upsert(spark, chunks(("d1_c0", "d1", "stale", 0), ("d1_c0", "d1", "v2", 1)))
    val rows = store.read(spark).select("chunkId", "content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows == Map("d1_c0" -> "v2", "d1_c1" -> "v1b", "d2_c0" -> "x"),
      s"[$label] overlay semantics must match: $rows")
    // idempotent replay
    store.upsert(spark, chunks(("d1_c0", "d1", "v2", 1)))
    assert(store.count(spark) == 3)
    // delete by document; unknown ids are a no-op
    assert(store.deleteByDocumentIds(spark, Seq("d1", "nope")) == 2)
    assert(store.distinctDocumentIds(spark).collect().map(_.getString(0)).toSeq == Seq("d2"))
    assert(store.deleteByDocumentIds(spark, Seq("d2")) == 1)
    assert(store.count(spark) == 0)
  }

  test("the keyed-store protocol holds over the bucket-swap backend") {
    protocolLaws(p => new ChunkStore(p), "bucket")
  }

  test("the keyed-store protocol holds over the snapshot-table backend") {
    protocolLaws(p => new SnapshotChunkStore(p + "/t"), "snapshot")
  }

  test("snapshot-backed store adds time travel and zero-rewrite deletes") {
    val store = new SnapshotChunkStore(tmpDir("kstore-tt") + "/t")
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
    val v1 = store.readAt(spark, 1L).select("chunkId", "content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(v1 == Map("d1_c0" -> "v1", "d2_c0" -> "y"))
    // migration between backends rides the shared trait
    val bucket = new ChunkStore(tmpDir("kstore-mig"))
    assert(ChunkStore.migrate(spark, store, bucket) == 1L)
    assert(bucket.read(spark).select("content").head().getString(0) == "v2")
  }
}
