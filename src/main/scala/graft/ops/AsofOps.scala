package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) and range (interval-containment) joins — two
  * temporal joins Spark's builtin operators only express as inequality
  * joins, which plan as per-key nested loops (the shape that dies at
  * scale). Both are re-expressed here as single-shuffle dataflows over
  * the primitives Catalyst does optimize: key-partitioned windows and
  * equi-joins.
  */
object AsofOps {

  /** As-of LEFT join: for every left row, attach the payload of the
    * LATEST right row with right.ts <= left.ts under the same key —
    * with NO join at all: both sides union into one tagged stream, one
    * key-partitioned window pass carries the most recent right payload
    * forward (`last` ignoreNulls over rows-unbounded-preceding), and
    * the left rows keep what reached them. Equal timestamps match
    * (<=), mirroring ASOF semantics: at a tie the right row sorts
    * before the left row via the side tag.
    *
    * Scale shape: ONE shuffle of (left + right) keyed on `keyCol` and
    * a per-key local sort — O((n+m)·log) with zero row duplication.
    * The alternatives don't survive 100×: an inequality join plans as
    * BroadcastNestedLoopJoin (per-key cartesian), and a windowed
    * "latest right per left via join + filter + argmax" duplicates
    * every candidate pair before discarding all but one.
    *
    * Duplicate right rows per (keyCol, tsCol) resolve DETERMINISTICALLY
    * via a payload-hash tie-break in the window sort (backward picks
    * the max-xxhash64 payload, forward the min) — re-runs and engines
    * agree, though which duplicate "wins" is arbitrary-but-stable;
    * pre-reduce same-instant rows if a specific one must win.
    * Left columns pass through; `payloadCols` (right columns,
    * names must not clash with left's) arrive null when no right row
    * precedes.
    */
  /** `toleranceMs` bounds the match age (pandas/polars `merge_asof`
    * tolerance): a left row whose chosen right row is farther than the
    * bound gets NULL payload — no fallback exists, since in the match
    * direction any other candidate is farther still. Default unbounded
    * (classic as-of). `direction` completes merge_asof parity:
    * "backward" (default; latest right at-or-before), "forward"
    * (earliest right at-or-after — at an exact tie the equal-ts right
    * row matches, distance 0), "nearest" (the closer of the two,
    * backward winning exact-distance ties). The forward/nearest passes
    * ride the SAME partitioning and sort as the backward pass (a
    * second window frame, current-row .. unbounded-following), so the
    * dataflow stays join-free with one shuffle in every mode.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      payloadCols: Seq[String],
      toleranceMs: Long = Long.MaxValue,
      direction: String = "backward"): DataFrame = {
    require(toleranceMs >= 0, "toleranceMs must be non-negative")
    require(Set("backward", "forward", "nearest").contains(direction),
      s"unknown direction $direction")
    require(payloadCols.nonEmpty, "payloadCols must be non-empty")
    val leftCols = left.columns.toSeq
    require(payloadCols.forall(!leftCols.contains(_)),
      s"payload columns ${payloadCols.mkString(",")} must not clash with left columns")
    // both sides ride the union as structs (left columns / right
    // payload), each null on the other side, so the stream schema is
    // uniform and every column survives with its exact type
    val pay = struct(payloadCols.map(col): _*)
    val lrow = struct(leftCols.map(col): _*)
    val payType = right.select(pay.as("_pay")).schema("_pay").dataType
    val lrowType = left.select(lrow.as("_lrow")).schema("_lrow").dataType
    val rs2 = right.select(
      col(keyCol), col(tsCol).as("_ats"), lit(0).as("_side"), pay.as("_pay"),
      lit(null).cast(lrowType).as("_lrow"))
    val ls2 = left.select(
      col(keyCol), col(tsCol).as("_ats"), lit(1).as("_side"),
      lit(null).cast(payType).as("_pay"),
      lrow.as("_lrow"))
    // deterministic tie-break among right rows sharing (key, ts): a
    // content hash of the payload struct — without it, last()/first()
    // over the (_ats, _side)-only sort would pick an arbitrary duplicate
    // (backward resolves to the max-hash payload, forward to min-hash)
    val tieKey = xxhash64(col("_pay"))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("_ats").asc, col("_side").asc, tieKey.asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // forward frame: rows AFTER the current left row in the same sort.
    // An equal-ts right row sorts BEFORE the left row (side tag), so it
    // is seen by the BACKWARD pass at distance 0 — which is exactly the
    // forward-inclusive tie too, handled in the mode selection below.
    val wf = Window.partitionBy(col(keyCol))
      .orderBy(col("_ats").asc, col("_side").asc, tieKey.asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val both = rs2.unionByName(ls2)
      .withColumn("_bd", last(col("_pay"), ignoreNulls = true).over(w))
      .withColumn("_bdts",
        last(when(col("_side") === 0, col("_ats")), ignoreNulls = true).over(w))
    val joined = (direction match {
      case "backward" => both
      case _ => both
        .withColumn("_fw", first(col("_pay"), ignoreNulls = true).over(wf))
        .withColumn("_fwts",
          first(when(col("_side") === 0, col("_ats")), ignoreNulls = true)
            .over(wf))
    }).filter(col("_side") === 1)

    val bdDist = col("_ats") - col("_bdts")
    val (chosenPay, dist) = direction match {
      case "backward" => (col("_bd"), bdDist)
      case "forward" =>
        // exact tie (distance 0) lives in the backward pass
        val tie = col("_bdts").isNotNull && bdDist === 0L
        (when(tie, col("_bd")).otherwise(col("_fw")),
          when(tie, lit(0L)).otherwise(col("_fwts") - col("_ats")))
      case "nearest" =>
        val fwDist = col("_fwts") - col("_ats")
        val useBd = col("_bdts").isNotNull &&
          (col("_fwts").isNull || bdDist <= fwDist)
        (when(useBd, col("_bd")).otherwise(col("_fw")),
          when(useBd, bdDist).otherwise(fwDist))
    }
    val within =
      if (toleranceMs == Long.MaxValue) dist.isNotNull
      else dist.isNotNull && dist <= toleranceMs
    val outLeft = leftCols.map(c => col("_lrow")(c).as(c))
    val outPay = payloadCols.map(c => when(within, chosenPay(c)).as(c))
    joined.select(outLeft ++ outPay: _*)
  }

  /** Range (interval-containment) INNER join: every (point, interval)
    * pair under the same key with start <= pt <= end — as an EQUI-join
    * via fixed-width bin bucketing: each interval explodes to the bins
    * it covers, each point maps to its single bin, candidates meet on
    * (key, bin) and a residual filter keeps true containment. A pair
    * meets in exactly the point's bin, so no dedup pass is needed.
    *
    * Scale shape: interval fan-out is ceil(len/binMs)+1 rows per
    * interval; the join is a plain shuffled (or AQE-broadcast)
    * equi-join on uniform (key, bin) keys. `binMs` should sit near the
    * typical interval length: larger bins mean fewer interval copies
    * but denser candidate bins. The DEFAULT (binMs omitted or <= 0)
    * derives it as the p50 interval length via [[derivedBinMs]] — at
    * 100× a hand-set bin either fans every interval out across many
    * bins (too small) or piles a scan's worth of candidates into each
    * bin (too large), while the median tracks the data itself; pass an
    * explicit binMs to override when the length distribution is known
    * to be heavy-tailed and a specific operating point is wanted. Any
    * positive bin width returns the SAME rows (OpsSpec asserts the
    * invariance, including for the derived value) — the knob is purely
    * a performance trade. The naive `points.join(intervals,
    * pt.between(start, end))` plans as BroadcastNestedLoopJoin — a
    * per-key cartesian.
    *
    * Column names of the two inputs must be disjoint except `keyCol`.
    */
  def rangeJoin(
      points: DataFrame,
      intervals: DataFrame,
      keyCol: String,
      ptCol: String,
      startCol: String,
      endCol: String,
      binMs: Long = 0L): DataFrame = {
    val bin = if (binMs > 0) binMs
      else derivedBinMs(intervals, startCol, endCol)
    val clash = points.columns.toSet.intersect(intervals.columns.toSet) - keyCol
    require(clash.isEmpty, s"column clash: ${clash.mkString(",")}")
    val ib = intervals
      .filter(col(startCol) <= col(endCol))
      .withColumn("_bin",
        explode(sequence(floor(col(startCol) / bin), floor(col(endCol) / bin))))
    val pb = points.withColumn("_bin", floor(col(ptCol) / bin))
    pb.join(ib, Seq(keyCol, "_bin"))
      .filter(col(ptCol) >= col(startCol) && col(ptCol) <= col(endCol))
      .drop("_bin")
  }

  /** Interval-overlap join: all pairs (left interval, right interval)
    * under the same key with `ls <= re && rs <= le` — the third
    * temporal join (as-of = point↔latest, range = point∈interval,
    * this = interval×interval), used for concurrency analytics
    * ("shipments in flight together", overlapping sessions,
    * conflicting bookings).
    *
    * Dataflow: BOTH sides fan out to their covered bins (the
    * [[rangeJoin]] explode), then ONE (key, bin) equi-join with the
    * overlap residual. An overlapping pair shares every bin in the
    * overlap region, so to emit each pair EXACTLY once without a
    * distinct pass, a pair is kept only in the bin containing the
    * overlap's start, `floor(greatest(ls, rs) / bin)` — that bin is
    * covered by both sides by construction, and it is unique per pair.
    *
    * Scale shape: fan-out is ceil(len/bin)+1 per interval per side;
    * the join shuffles on uniform (key, bin) keys — no nested loop,
    * no dedup shuffle. `binMs` defaults to the p50 length over BOTH
    * sides' intervals ([[derivedBinMs]] on the union — one tiny agg);
    * any positive bin returns identical rows (OpsSpec asserts it).
    * The half-fan-out alternative (each side fanned in one of two
    * orientation joins, partitioned by start-bin order) trades one
    * join for two; at typical p50-bin fan-out (~2-3×) the single
    * shuffle wins.
    *
    * Column names must be disjoint except `keyCol` (shared equi-key).
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      lStartCol: String,
      lEndCol: String,
      rStartCol: String,
      rEndCol: String,
      binMs: Long = 0L): DataFrame = {
    val clash = left.columns.toSet.intersect(right.columns.toSet) - keyCol
    require(clash.isEmpty, s"column clash: ${clash.mkString(",")}")
    val bin = if (binMs > 0) binMs
      else derivedBinMs(
        left.select(col(lStartCol).as("_s"), col(lEndCol).as("_e"))
          .unionByName(
            right.select(col(rStartCol).as("_s"), col(rEndCol).as("_e"))),
        "_s", "_e")
    def fanned(df: DataFrame, s: String, e: String): DataFrame = df
      .filter(col(s) <= col(e))
      .withColumn("_bin",
        explode(sequence(floor(col(s) / bin), floor(col(e) / bin))))
    fanned(left, lStartCol, lEndCol)
      .join(fanned(right, rStartCol, rEndCol), Seq(keyCol, "_bin"))
      .filter(col(lStartCol) <= col(rEndCol) &&
        col(rStartCol) <= col(lEndCol) &&
        col("_bin") === floor(greatest(col(lStartCol), col(rStartCol)) / bin))
      .drop("_bin")
  }

  /** Epsilon band join: all pairs (left row, right row) under the same
    * key with |lVal − rVal| <= eps — the 1-D numeric similarity join
    * (near-equal prices, timestamps-as-values, scores), the fourth
    * member of the temporal/numeric join family (as-of, range,
    * interval-overlap, band).
    *
    * Dataflow: the LEFT side keeps its one bucket floor(v/eps); the
    * RIGHT side fans out to its bucket ±1; ONE (key, bucket) equi-join
    * + the |Δ| <= eps residual. |lv − rv| <= eps implies the two
    * buckets differ by at most 1, so the fan-out covers every match;
    * and a pair meets in exactly ONE fanned copy (the one landing on
    * the left row's unique bucket) — exactly-once without a distinct
    * pass. The naive inequality join is a per-key cartesian; this is a
    * uniform-keyed equi-join with 3× fan-out on one side only.
    *
    * Column names must be disjoint except `keyCol`.
    */
  def bandJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      lValCol: String,
      rValCol: String,
      eps: Double): DataFrame = {
    require(eps > 0.0, "eps must be positive")
    val clash = left.columns.toSet.intersect(right.columns.toSet) - keyCol
    require(clash.isEmpty, s"column clash: ${clash.mkString(",")}")
    val lb = left.withColumn("_bin", floor(col(lValCol) / eps).cast("long"))
    val rBin = floor(col(rValCol) / eps).cast("long")
    val rb = right.withColumn("_bin",
      explode(array(rBin - 1, rBin, rBin + 1)))
    lb.join(rb, Seq(keyCol, "_bin"))
      .filter(abs(col(lValCol) - col(rValCol)) <= eps)
      .drop("_bin")
  }

  /** Default bin width for [[rangeJoin]]: the exact p50 interval length
    * (end − start, valid intervals only), clamped to >= 1 — at the
    * median, a typical interval explodes to ~2 bin copies while a bin
    * holds a data-scale candidate load. One tiny aggregation over the
    * interval side ([[graft.ops.QuantileOps.exactPercentiles]], a
    * bounded single-row collect), so deriving costs one extra job, not
    * a shuffle of either join side. Empty/degenerate interval sets
    * fall back to 1 (the join result is empty or tiny there anyway).
    */
  def derivedBinMs(
      intervals: DataFrame,
      startCol: String,
      endCol: String): Long = {
    val lens = intervals
      .filter(col(startCol) <= col(endCol))
      .select((col(endCol) - col(startCol)).as("_len"), lit("all").as("_g"))
    val rows = graft.ops.QuantileOps
      .exactPercentiles(lens, "_len", "_g", Map("p50" -> 50))
      .select(col("quantile")).collect()
    if (rows.isEmpty) 1L else math.max(1L, rows.head.getLong(0))
  }
}
