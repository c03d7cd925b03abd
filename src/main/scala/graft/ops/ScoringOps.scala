package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Score transforms of the ranking pipeline (SURVEY §2.6) as pure Column
  * arithmetic — every formula ports the reference's scoring.py math so
  * results are bit-reproducible, and every expression is codegen-friendly
  * (exp/log/least/greatest built-ins only).
  */
object ScoringOps {

  /** Recency: exp(-rate · ageDays) (reference scoring.py:378-388). */
  def recencyScore(createdAtMs: Column, nowMs: Long, ratePerDay: Double): Column = {
    val ageDays = (lit(nowMs) - createdAtMs).cast("double") / lit(86400000.0)
    exp(lit(-ratePerDay) * ageDays)
  }

  /** Frequency: min(1, log(1+n)/log(101)) (reference scoring.py:406-411). */
  def frequencyScore(accessCount: Column): Column =
    least(lit(1.0), log(lit(1.0) + accessCount.cast("double")) / log(lit(101.0)))

  /** R5 — composite importance score:
    * wSim·sim + wRec·recency + wFreq·freq + wImp·importance + wTopo·topo.
    * Defaults .4/.3/.15/.15/0 (reference types.py:71-78, scoring.py:15-125).
    */
  def compositeScore(
      similarity: Column,
      recency: Column,
      frequency: Column,
      importance: Column,
      topology: Column,
      wSim: Double = 0.4,
      wRec: Double = 0.3,
      wFreq: Double = 0.15,
      wImp: Double = 0.15,
      wTopo: Double = 0.0
  ): Column =
    // missing importance defaults to 1.0, matching the reference's
    // props.get("importance", 1.0) (scoring.py:86)
    lit(wSim) * similarity + lit(wRec) * recency + lit(wFreq) * frequency +
      lit(wImp) * coalesce(importance, lit(1.0)) + lit(wTopo) * topology

  /** R2 — topology boost: score × (1 + factor·topo), factor default 0.2
    * (reference scoring.py:185-222, types.py:84).
    */
  def topologyBoost(score: Column, topo: Column, factor: Double = 0.2): Column =
    score * (lit(1.0) + lit(factor) * coalesce(topo, lit(0.0)))

  /** R3 — cross-session boost from cached whole-graph metrics:
    * algo = 0.7·min(1, pagerank·10) + 0.3·min(1, betweenness·10);
    * score × (1 + factor·algo) (reference scoring.py:128-182).
    */
  def crossSessionBoost(
      score: Column,
      pagerank: Column,
      betweenness: Column,
      factor: Double
  ): Column = {
    val algo = lit(0.7) * least(lit(1.0), coalesce(pagerank, lit(0.0)) * 10.0) +
      lit(0.3) * least(lit(1.0), coalesce(betweenness, lit(0.0)) * 10.0)
    score * (lit(1.0) + lit(factor) * algo)
  }
}
