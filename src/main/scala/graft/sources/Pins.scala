package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Materialization helpers shared by the mutation verbs (r15).
  *
  * Every verb follows the same shape: pin a small derived frame
  * (`localCheckpoint`) so later passes read memory instead of
  * re-executing the plan, then COUNT it to size the publish. The
  * post-pin `count()` was a separate Spark job per verb — pure fixed
  * cost (the data is already in cached blocks) that dominated
  * churn-sized mutations and per-micro-batch streaming upserts
  * (measured: 4 standalone count jobs per qs19 micro-batch). These
  * helpers piggyback the aggregate on the MATERIALIZATION job itself
  * via a NAMED `Dataset.observe` — one pass, no second job, identical
  * results.
  *
  * Deliberately NOT the `Observation` helper class: instantiating one
  * touches the session's lazy `observationManager`, and once that
  * lazy field is initialized the session no longer Java-serializes —
  * every LATER closure capturing a SparkSession (ml model training
  * summaries do) dies with `Task not serializable`. Named observe +
  * reading `queryExecution.observedMetrics` after the action never
  * touches the manager. */
private[graft] object Pins {

  /** `df.localCheckpoint()` + one observed aggregate row, collected
    * DURING the materialization job. */
  def pinObserved(df: DataFrame, aggs: Column*): (DataFrame, Row) = {
    val name = s"__pin_${java.util.UUID.randomUUID()}"
    val named = df.observe(name, aggs.head, aggs.tail: _*)
    val pinned = named.localCheckpoint()
    (pinned, named.queryExecution.observedMetrics(name))
  }

  /** Drops the blocks of a frame pinned here once nothing reads it:
    * otherwise they stay in executor storage until a driver garbage
    * collection lets Spark's context cleaner drop them. */
  def release(pinned: DataFrame): Unit =
    pinned.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false); ()
      case _ =>
    }

  /** `df.localCheckpoint()` + its row count, counted DURING the
    * materialization job. */
  def pinCounted(df: DataFrame): (DataFrame, Long) = {
    val (pinned, m) = pinObserved(df, count(lit(1)))
    (pinned, m.getLong(0))
  }
}
