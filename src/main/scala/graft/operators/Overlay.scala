package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** J3: upsert overlay — new rows replace stored rows with an equal key
  * (reference `jsonl_vector_store.py:68-78`, last-write-wins by chunk_id).
  *
  * Relational form: union(old, new) → keep the newest row per key via a
  * window over the key. The window shuffles by key once; at scale the store
  * side should be partitioned by a key-derived column so the shuffle is
  * co-located.
  */
object Overlay {

  /** Keep exactly one row per `keys`, preferring update rows over old rows,
    * breaking remaining ties by `tieBreak` columns descending (pass enough of
    * them that the kept row is fully determined — a nondeterministic winner
    * is a silent correctness bug under task retry).
    */
  def overlay(old: DataFrame, updates: DataFrame, keys: Seq[String], tieBreak: Seq[String]): DataFrame = {
    val unioned = old.withColumn("_is_new", lit(0))
      .unionByName(updates.withColumn("_is_new", lit(1)))
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("_is_new").desc +: tieBreak.map(col(_).desc): _*)
    unioned
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_is_new")
  }
}
