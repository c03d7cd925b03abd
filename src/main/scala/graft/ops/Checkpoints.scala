package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD

/** Eager localCheckpoint with an RDD-level release handle.
  *
  * `Dataset.unpersist` routes through the CacheManager, which does not
  * know about checkpoint blocks — `localCheckpoint` persists the
  * underlying RDD directly — so an iterative algorithm that
  * re-checkpoints per round and "unpersists" the superseded Dataset
  * actually leaves every round's blocks to the GC-driven
  * ContextCleaner. The handle returned here unpersists the exact RDD
  * the checkpoint registered (extracted from the checkpoint Dataset's
  * `LogicalRDD` plan), so a loop frees round r−1 the moment round r is
  * materialized.
  *
  * Safety contract: release ONLY state that nothing will read again —
  * local-checkpoint blocks are not recomputable, so an early release
  * of a still-referenced checkpoint fails the reader ("checkpoint
  * block not found") rather than silently recomputing.
  */
private[graft] object Checkpoints {

  /** Checkpoint `df` eagerly; returns the checkpoint and a handle that
    * frees its storage. A no-op handle is returned in the (unexpected)
    * case the plan shape is not the LogicalRDD a local checkpoint
    * produces — cleanup then degrades to the old ContextCleaner path
    * instead of failing the query.
    */
  def withRelease(df: DataFrame): (DataFrame, () => Unit) = {
    val ck = df.localCheckpoint()
    val release: () => Unit = ck.queryExecution.analyzed match {
      case lr: LogicalRDD => () => { lr.rdd.unpersist(blocking = false); () }
      case _              => () => ()
    }
    (ck, release)
  }

  /** `df.localCheckpoint()`, unless the optimizer already reduces `df`
    * to a local relation (rows held in the plan, such as the result of a
    * driver-side loop): checkpointing that would run a job to copy rows
    * that are already on the driver. [[release]] is a no-op for it.
    */
  def unlessLocal(df: DataFrame): DataFrame = df.queryExecution.optimizedPlan match {
    case _: LocalRelation => df
    case _ => df.localCheckpoint()
  }

  /** Free the blocks of an ALREADY-checkpointed Dataset (memo caches
    * dropped by [[graft.trace.MemoLog.clearMemos]]). Same safety
    * contract as [[withRelease]]: only call once nothing will read the
    * checkpoint again.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _              => ()
  }

  /** Bounded Observation read (ADVICE r14). `Observation.get` blocks
    * forever if the metrics row is never delivered, and
    * observe-metrics-on-eager-localCheckpoint is a Spark behaviour, not
    * an API contract (the AlgoSpec "Checkpoints.observedOr" test fails
    * if it stops holding) — a Spark upgrade that re-routes
    * Dataset.checkpoint's action must degrade every iterative loop to
    * its pre-r14 direct-aggregation probe, not hang it. Awaits
    * the observation's public metrics future up to `timeoutMs`; on a
    * healthy session the metrics land with the action and the deadline
    * is never approached. `fallback` recomputes the same exact metrics
    * from the already-materialized checkpoint blocks.
    */
  def observedOr(obs: org.apache.spark.sql.Observation,
      timeoutMs: Long = 10000L)(
      fallback: => Map[String, Any]): Map[String, Any] =
    try {
      val row = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(timeoutMs,
          java.util.concurrent.TimeUnit.MILLISECONDS))
      row.schema.fieldNames.zip(row.toSeq).toMap
    } catch {
      case _: java.util.concurrent.TimeoutException => fallback
    }

  /** [[observedOr]] for the common single-long-metric probes (counts,
    * exact-integer sums) — `fallback` re-aggregates from the checkpoint.
    */
  def observedLong(obs: org.apache.spark.sql.Observation, key: String,
      timeoutMs: Long = 10000L)(fallback: => Long): Long =
    observedOr(obs, timeoutMs)(Map(key -> fallback))(key) match {
      case n: java.lang.Number => n.longValue()
      case other => other.asInstanceOf[Long]
    }
}
