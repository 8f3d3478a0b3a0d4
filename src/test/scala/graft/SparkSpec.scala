package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the Spark-backed suites (one per forked
  * test JVM; ScalaTest runs suites sequentially within it): the engine's own
  * [[Session]] configuration at a fixed width of 4.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Session(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
