package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Access to the RDD a `Dataset.localCheckpoint` pinned, for DETERMINISTIC
  * release. `Dataset.localCheckpoint` (unlike `df.rdd.localCheckpoint()`)
  * preserves the physical plan's outputPartitioning through the cut — which
  * is what lets an iterative operator prepare a hash-partitioned state table
  * ONCE and join against it shuffle-free every round — but it hides the
  * persisted RDD inside `LogicalRDD`, so without this bridge the storage
  * can only be reclaimed by the context cleaner after a GC happens to
  * collect the Dataset. Lives under `org.apache.spark.sql` only because
  * `LogicalRDD` is `private[sql]`; reading a case-class field is the
  * stable, documented surface.
  */
object CheckpointBridge {
  /** The checkpointed internal RDD behind a `Dataset.localCheckpoint`
    * result (None for any other plan shape).
    */
  def internalRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Plan facts `graft.operators.Par.spreadSmall` decides from, read off the
    * optimized logical plan without executing anything:
    *
    *   - `wide`: the plan contains an exchange-inducing operator (join,
    *     aggregate, window, explicit repartition) — its OWN shuffles set the
    *     downstream parallelism, so a spread on top would be a wasted
    *     exchange;
    *   - `rddPartitions`: for `LogicalRDD` leaves (localCheckpoint results),
    *     the EXACT partition counts — known driver-side, no job;
    *   - `allFileLeaves`: every leaf is a file-source relation, i.e. the
    *     size-estimate-vs-split-size bound is meaningful.
    *
    * Lives here because `LogicalRDD` is `private[sql]`.
    */
  def spreadFacts(df: DataFrame): (Boolean, Seq[Int], Boolean) = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val plan = df.queryExecution.optimizedPlan
    val wide = plan.exists {
      case _: Join | _: Aggregate | _: Window | _: RepartitionOperation => true
      case _ => false
    }
    val leaves = plan.collectLeaves()
    val rddPartitions = leaves.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.getNumPartitions
    }
    val allFileLeaves = leaves.nonEmpty && leaves.forall {
      case org.apache.spark.sql.execution.datasources.LogicalRelationWithTable(
        _: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _) => true
      case _ => false
    }
    (wide, rddPartitions, allFileLeaves)
  }

  /** Run `f` over `df` rebound to a CLONED session whose SQLConf has AQE
    * disabled, then rebind the result to the ORIGINAL session. The scoped
    * clone replaces the earlier toggle-and-restore on the shared session
    * conf, which raced: two concurrent pinning jobs could interleave their
    * save/restore (one could re-save the other's "false" as the value to
    * restore, leaving the session AQE-off for good), and any unrelated
    * query submitted during the window ran AQE-off. A cloned session
    * shares the SparkContext (same executors, same cached RDDs) but owns
    * its SQLConf, so nothing global is ever touched. The use case is
    * `repartition(key).localCheckpoint()` pinning: under AQE the recorded
    * outputPartitioning is `UnknownPartitioning`, under a plain planner it
    * is `hashpartitioning(key, N)` — and the `LogicalRDD` produced by the
    * checkpoint carries that partitioning with it across the rebind, so
    * downstream equi-joins in the original (AQE-on) session still elide
    * the exchange.
    */
  def withAqeOff(df: DataFrame)(f: DataFrame => DataFrame): DataFrame = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val cloned = session.cloneSession()
    cloned.conf.set("spark.sql.adaptive.enabled", "false")
    val rebound = org.apache.spark.sql.classic.Dataset.ofRows(
      cloned, df.queryExecution.logical)
    val out = f(rebound)
    org.apache.spark.sql.classic.Dataset.ofRows(session, out.queryExecution.logical)
  }
}
