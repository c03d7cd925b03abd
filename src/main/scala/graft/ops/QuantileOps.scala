package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributed order statistics — corpus profiling (per-source
  * length percentiles, token-budget planning, outlier thresholds)
  * without `percentile_approx`'s error bars and without the naive
  * per-group sort.
  *
  * Spark's exact `percentile` aggregate buffers every value of a group
  * in executor memory, and a `row_number` window sorts each group on
  * one reducer — both collapse at 100 TB where a "group" is a whole
  * source. This is the same two-level selection as [[SampleOps]], keyed
  * by the VALUE instead of a hash: value-range bucketing is
  * order-preserving, so per-(group, bucket) counts + a running sum over
  * that tiny bounds table locate each target rank's boundary bucket,
  * and only boundary-bucket rows (~1/buckets of a group, per distinct
  * target) pay a window. Exact answer, two scans + one tiny-table
  * window, no full-group sort anywhere.
  *
  * Percentiles are INTEGER percents and the target rank is
  * k = ceil(pct·n/100) computed in integer arithmetic — no
  * float-rounding coin flips at exact-multiple boundaries, and the
  * DuckDB oracle reproduces k bit-exactly.
  *
  * Contract: `groupCol` cardinality is broadcast-small (sources,
  * languages, shards — profiling strata, not document ids).
  */
object QuantileOps {

  /** Per-group exact percentile values of an integral `valueCol`.
    * `percentiles` maps an output label to an integer percent in
    * (0, 100]. Output: one row per (group, label) — (groupCol, p,
    * quantile), where quantile is the k-th smallest value of the group,
    * k = ceil(pct·n/100) ≥ 1.
    */
  def exactPercentiles(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      percentiles: Map[String, Int],
      buckets: Int = 1024): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    require(percentiles.values.forall(p => p > 0 && p <= 100),
      "percentiles must be integer percents in (0, 100]")
    val spark = df.sparkSession
    import spark.implicits._

    // NULL values are excluded up front so n, the bucket counts, and the
    // boundary ranks all see the same row set — counting nulls into _gn
    // while min/max ignore them would silently shift k (nulls would sort
    // into a NULL _qb bucket that orders FIRST, while a
    // row_number-over-value oracle orders them last)
    val df0 = df.filter(col(valueCol).isNotNull)
    val v = col(valueCol).cast("long")
    val stats = df0.groupBy(col(groupCol))
      .agg(count(lit(1)).as("_gn"), min(v).as("_gmin"), max(v).as("_gmax"))
      .withColumn("_gw",
        greatest(lit(1L), ceil((col("_gmax") - col("_gmin") + 1)
          .cast("double") / buckets).cast("long")))

    // integer k = ceil(pct*n/100); identical arithmetic in the oracle
    val targets = percentiles.toSeq.toDF("p", "_pct")
      .crossJoin(stats)
      .withColumn("_k", expr("(_pct * _gn + 99) div 100"))

    // degenerate single-value groups answer from stats (their one
    // bucket IS the whole group — no window needed, any k hits _gmin)
    val flat = targets.filter(col("_gmin") === col("_gmax"))
      .select(col(groupCol), col("p"), col("_gmin").as("quantile"))
    val live = targets.filter(col("_gmin") =!= col("_gmax"))

    val keyed = df0
      .join(broadcast(stats.select(col(groupCol), col("_gmin"), col("_gw"))),
        Seq(groupCol))
      .withColumn("_qb", ((v - col("_gmin")) / col("_gw")).cast("long"))
      .select(col(groupCol), v.as("_v"), col("_qb"))
    val cumW = Window.partitionBy(col(groupCol)).orderBy(col("_qb").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val counts = keyed.groupBy(col(groupCol), col("_qb"))
      .agg(count(lit(1)).as("_bn"))
      .withColumn("_before", coalesce(sum(col("_bn")).over(cumW), lit(0L)))

    // the boundary bucket of each (group, target): _before < k <= _before+_bn
    val bnd = counts.join(live.select(col(groupCol), col("p"), col("_k")),
        Seq(groupCol))
      .filter(col("_before") < col("_k") &&
        col("_k") <= col("_before") + col("_bn"))
      .select(col(groupCol), col("p"), col("_qb"),
        (col("_k") - col("_before")).as("_kin"))

    // rank only inside boundary buckets; ties in _v need no tie-break —
    // whichever equal row lands at _kin, the VALUE is the k-th smallest
    val bndBuckets = bnd.select(col(groupCol), col("_qb")).distinct()
    val rankW = Window.partitionBy(col(groupCol), col("_qb"))
      .orderBy(col("_v").asc)
    val picked = keyed.join(broadcast(bndBuckets), Seq(groupCol, "_qb"))
      .withColumn("_rn", row_number().over(rankW))
      .join(broadcast(bnd), Seq(groupCol, "_qb"))
      .filter(col("_rn") === col("_kin"))
      .select(col(groupCol), col("p"), col("_v").as("quantile"))

    picked.unionByName(flat)
  }

  /** Single-pass approximate per-group percentiles with a VERIFIED
    * error contract — the sketch path for when even [[exactPercentiles]]'
    * two scans are one too many (ad-hoc profiling over the full 100 TB).
    *
    * Estimation is Spark's builtin `percentile_approx` (a mergeable
    * Greenwald–Khanna-style summary, codegen'd, one scan for ALL
    * requested percentiles). Because a sketch estimate depends on merge
    * order, the VALUE is not layout-reproducible — so the op spends one
    * more (broadcast-joined, map-side) pass computing each estimate's
    * EXACT attainable rank interval and reports whether it intersects
    * the target rank ± the sketch's guaranteed tolerance
    * (ceil(n/accuracy), floored at 1). That check IS the deterministic,
    * oracle-gateable output: any layout, any merge order, a correct
    * sketch yields `within_bound = true` for every row, and a broken
    * one goes red in the gate.
    *
    * Output: one row per (group, label) — (groupCol, p, n,
    * within_bound), n = non-null group rows. Target rank
    * k = ceil(pct·n/100), the [[exactPercentiles]] convention.
    */
  def approxPercentilesChecked(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      percentiles: Map[String, Int],
      accuracy: Int = 10000): DataFrame = {
    require(accuracy > 0, "accuracy must be positive")
    require(percentiles.values.forall(p => p > 0 && p <= 100),
      "percentiles must be integer percents in (0, 100]")
    val df0 = df.filter(col(valueCol).isNotNull)
    val v = col(valueCol).cast("long")
    val pcts = percentiles.toSeq.sortBy(_._2)
    val ests = df0.groupBy(col(groupCol))
      .agg(
        percentile_approx(v, array(pcts.map(p => lit(p._2 / 100.0)): _*),
          lit(accuracy)).as("_ests"),
        count(lit(1)).as("n"))
      .select(col(groupCol), col("n"),
        posexplode(col("_ests")).as(Seq("_i", "_est")))
      .withColumn("p", element_at(array(pcts.map(x => lit(x._1)): _*),
        col("_i") + 1))
      .withColumn("_pct", element_at(array(pcts.map(x => lit(x._2)): _*),
        col("_i") + 1))
      .withColumn("_k", expr("(_pct * n + 99) div 100"))
      .drop("_i", "_pct")
    // exact attainable-rank interval of each estimate: one broadcast of
    // the tiny (group, p, est) table against the data, one map-side agg
    val ranked = df0.select(col(groupCol), v.as("_v"))
      .join(broadcast(ests.select(col(groupCol), col("p"), col("_est"))),
        Seq(groupCol))
      .groupBy(col(groupCol), col("p"))
      .agg(
        sum(when(col("_v") < col("_est"), 1L).otherwise(0L)).as("_lo"),
        sum(when(col("_v") <= col("_est"), 1L).otherwise(0L)).as("_hi"))
    ests.join(ranked, Seq(groupCol, "p"))
      .withColumn("_tol",
        greatest(lit(1L), expr(s"(n + ${accuracy - 1}) div $accuracy")))
      .select(col(groupCol), col("p"), col("n"),
        (col("_lo") + 1 <= col("_k") + col("_tol") &&
          col("_hi") >= col("_k") - col("_tol")).as("within_bound"))
      .orderBy(col(groupCol), col("p"))
  }

  /** Robust per-group outlier detection by median absolute deviation:
    * a row is an outlier when |value − median(group)| > k · MAD(group),
    * MAD = median of the absolute deviations. The robust alternative
    * to z-scores for corpus curation — a mean/stddev rule moves WITH
    * the outliers it's supposed to catch; the two medians don't.
    *
    * Both medians are [[exactPercentiles]]' nearest-rank p50, so the
    * whole decision is integer arithmetic on an integral `valueCol` —
    * no float boundary anywhere, bit-identical across engines. MAD = 0
    * (over half the group at the median) degrades gracefully: any
    * deviation at all is flagged.
    *
    * Scale shape: two exactPercentiles passes (each two scans + a
    * tiny boundary-bucket window) and two broadcast joins of the
    * group-sized median tables — the data is never shuffled or sorted.
    * Inherits the exactPercentiles contract: `groupCol` cardinality is
    * broadcast-small.
    *
    * Output: the outlier rows (all input columns + med, mad, dev).
    */
  def madOutliers(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      k: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // both cutoff tables materialized (r14): group-cardinality rows by
    // contract, and each is referenced from every downstream evaluation
    // of `dev` (the mad pass evaluates dev three times by design — two
    // scans + the output join); left lazy, the entire p50 subtree was
    // re-planned and re-run inside each one.
    // Checkpoint lifetime (ADVICE r14): both checkpoints BACK the
    // returned DataFrame, so their blocks intentionally live until the
    // consumer drops its reference and the ContextCleaner collects them
    // — a release handle here would let an eager caller corrupt the
    // result. Bounded by contract: group-cardinality rows only.
    val med = exactPercentiles(df, valueCol, groupCol, Map("p50" -> 50))
      .select(col(groupCol), col("quantile").as("med"))
      .localCheckpoint()
    val dev = df.filter(col(valueCol).isNotNull)
      .join(broadcast(med), Seq(groupCol))
      .withColumn("dev", abs(col(valueCol).cast("long") - col("med")))
    val mad = exactPercentiles(dev, "dev", groupCol, Map("p50" -> 50))
      .select(col(groupCol), col("quantile").as("mad"))
      .localCheckpoint()
    dev.join(broadcast(mad), Seq(groupCol))
      .filter(col("dev") > lit(k.toLong) * col("mad"))
  }
}
