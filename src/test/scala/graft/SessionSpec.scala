package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** [[Session]]'s configuration, checked on the `SparkConf` it builds (no
  * second context is started), plus a source scan that keeps it the only
  * session builder.
  */
class SessionSpec extends AnyFunSuite {

  private def expected(width: Int) = Map(
    "spark.master" -> s"local[$width]",
    "spark.sql.shuffle.partitions" -> width.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.expressions.GraftExtensions",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "spark.ui.enabled" -> "false")

  test("defaults: the benched engine conf, master and shuffle width from the width") {
    for (w <- Seq(1, 4, 32))
      assert(Session.conf(w, new SparkConf(false)).getAll.toMap == expected(w))
  }

  test("a value already in the SparkConf (spark-submit, -D) wins over every default") {
    val preset = expected(8).keys.map(k => k -> s"preset-$k").toMap
    assert(Session.conf(8, new SparkConf(false).setAll(preset)).getAll.toMap == preset)
    // the default base loads -Dspark.* system properties
    val key = "spark.sql.shuffle.partitions"
    val prev = Option(System.getProperty(key))
    System.setProperty(key, "3")
    try assert(Session.conf(8).get(key) == "3")
    finally prev.fold(System.clearProperty(key))(System.setProperty(key, _)): Unit
  }

  test("Session is the only session builder and no retired session env var is read") {
    val builder = "SparkSession" + ".builder"
    val retired = Seq("CKPT_CHECKSUM", "COMMITTER_ALGO", "EXTRA_CONF").map("SPARK_GRAFT_" + _) ++
      Seq("MASTER", "SHUFFLE_PARTITIONS").map("SPARK_" + _)
    val sessionFile = Paths.get("src/main/scala/graft/Session.scala")
    def sources(root: String): Seq[Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val files = sources("src/main") ++ sources("src/test")
    assert(files.contains(sessionFile))
    val hits = files.flatMap { p =>
      val text = Files.readString(p)
      (if (p != sessionFile && text.contains(builder)) Seq(s"$p: $builder") else Nil) ++
        retired.filter(text.contains).map(n => s"$p: $n")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
