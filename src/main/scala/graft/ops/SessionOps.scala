package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization of event streams — the batch face of the
  * classic web-analytics 30-minute rule and, in a training-data
  * pipeline, the conversation-boundary detector that groups chat /
  * interaction logs into episodes before episode-level dedup, packing
  * or sampling. (The streaming face is
  * [[graft.streaming.StreamingStats]]'s flatMapGroupsWithState
  * sessionizer; this evaluates the same boundary rule over a static
  * table.)
  *
  * Scale shape: key-partitioned windows ONLY — one lag + one running
  * sum over (user, ts), then an optional (user, session) aggregation.
  * No global window, no self-join, no state; a skewed user (one key
  * with a massive event history) is the only hotspot and falls to the
  * same AQE skew handling as every other key-partitioned window here.
  */
object SessionOps {

  /** Assign a 0-based `session_idx` per user: a new session starts at
    * the first event and wherever the gap from the previous event
    * exceeds `gapMs`. Adds (is_session_start, session_idx); ordering
    * ties on ts break by `idCol` so the assignment is deterministic.
    */
  def sessionize(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      gapMs: Long): DataFrame = {
    require(gapMs > 0, "gapMs must be positive")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol).asc, col(idCol).asc)
    df
      .withColumn("_prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn("is_session_start",
        col("_prev_ts").isNull || (col(tsCol) - col("_prev_ts")) > gapMs)
      .withColumn("session_idx",
        sum(when(col("is_session_start"), 1L).otherwise(0L)).over(w) - 1L)
      .drop("_prev_ts")
  }

  /** One row per (user, session): event count, start/end timestamps and
    * duration — the session table an episode-level pipeline consumes.
    */
  def sessionSummaries(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      gapMs: Long): DataFrame =
    sessionize(df, userCol, tsCol, idCol, gapMs)
      .groupBy(col(userCol), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsCol)).as("start_ts"),
        max(col(tsCol)).as("end_ts"))
      .withColumn("duration_ms", col("end_ts") - col("start_ts"))
}
