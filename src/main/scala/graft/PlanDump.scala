package graft

/** Optimization-round deliverable helper: writes `explain("formatted")` of
  * named battery queries to `$SPARK_GRAFT_PLANS_DIR/<name>_<tag>.txt`
  * (default `plans/r15`) so optimization claims can be checked against
  * committed plan text.
  *
  * Usage: sbt "runMain graft.PlanDump <tag> <query1,query2,...>"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session()
    spark.sparkContext.setLogLevel("ERROR")
    val plansDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r15")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(plansDir))
    names.foreach { name =>
      val df = SparkEntry.battery(name).fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$plansDir/${name}_$tag.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] wrote $plansDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
