package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared machinery of the one-job-per-round iterative engines
  * ([[Dedup.componentLabels]] min-label propagation, [[Graph]]'s
  * convergence BFS): each round materializes its new generation via an
  * EAGER localCheckpoint while the convergence scalar rides the same
  * job through `observe()` — one job, one driver scalar, no row data
  * collected — and the superseded generation's pinned RDD is released
  * as soon as its successor exists (at most two generations ever
  * pinned; ComponentsLeakSpec / BfsLeakSpec pin the bound).
  */
private[graft] object Fixpoint {

  private val counter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Materialize `df` as an eager localCheckpoint and deliver
    * `aggExpr` (one scalar aggregate over df) from the SAME job via
    * an Observation. */
  def checkpointWith(df: DataFrame, aggExpr: org.apache.spark.sql.Column)
      : (DataFrame, Long) = {
    val obs = new org.apache.spark.sql.Observation(
      s"fixpoint_${counter.incrementAndGet()}")
    val ck = df.observe(obs, aggExpr.as("s")).localCheckpoint(true)
    (ck, obs.get("s").asInstanceOf[Long])
  }

  /** Release a superseded checkpoint generation: a localCheckpointed
    * Dataset's plan is a LogicalRDD over the pinned RDD, and
    * `Dataset.unpersist` only talks to the relation cache — the RDD
    * itself must be unpersisted. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
