package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-quota deterministic sampling — the corpus-assembly step that
  * turns "take the best/first N docs per source (or per topic cluster)"
  * into a reproducible distributed selection. Complements
  * [[CorpusOps.weightedMix]]: weightedMix is RATE-based (keep p% of a
  * source, growth-invariant as the corpus appends), this is COUNT-based
  * (exactly N rows per stratum, the shape a fixed token-budget training
  * mix needs). Rank-based selection is necessarily not growth-invariant
  * — appending rows can displace earlier picks — which is the
  * documented trade for exactness.
  *
  * Selection order is the md5-derived [[sampleKey]] (same cross-engine
  * hash anchor as [[CorpusOps.hashBucket]]), tie-broken by id, so the
  * chosen set is a uniform pseudo-random sample, identical on any
  * cluster layout and replayable by the DuckDB oracle.
  *
  * Scale shape (the reason this is not a `row_number` over
  * `partitionBy(stratum)`): a per-stratum window sorts each stratum on
  * ONE reducer — with a handful of sources over 100 TB that is a
  * handful of reducers sorting terabytes each. Instead, a two-level
  * selection (same family as [[ShardOps]]'s two-level prefix sum):
  *   1. hash keys are uniform in [0, 2^32), so bucket = key / width is
  *      an order-preserving range partition into `selectBuckets` slots;
  *   2. one map-side-combinable count per (stratum, bucket) — the
  *      bounds table is strata × selectBuckets rows, tiny;
  *   3. a running sum over that tiny table (window over ≤selectBuckets
  *      rows per stratum) classifies each bucket: wholly inside the
  *      quota (take all), wholly outside (drop), or the single boundary
  *      bucket per stratum;
  *   4. rows broadcast-join their bucket's verdict; only boundary-bucket
  *      rows — ~1/selectBuckets of each stratum — pay a row_number, and
  *      that window's partitions are (stratum, bucket) sized.
  * No global sort, no per-stratum full-stratum window, one shuffle for
  * the count agg and one for the boundary window.
  */
object SampleOps {

  /** Deterministic uniform sample-order key in [0, 2^32): first 8 hex
    * chars of md5 of the id's string rendering. Cross-engine: DuckDB
    * `('0x' || substr(md5(id::VARCHAR), 1, 8))::UBIGINT` reproduces it
    * exactly.
    */
  def sampleKey(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")

  /** Exactly `quota(stratum)` rows per stratum — the quota-smallest by
    * (sampleKey, id). Strata absent from `quotas` are dropped; quotas
    * larger than a stratum keep the whole stratum. Output = input
    * columns (selection adds nothing).
    *
    * `quotas` must have columns (`stratumCol`, `quota`) and be
    * broadcast-small (one row per stratum — by construction it is).
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      quotas: DataFrame,
      selectBuckets: Int = 1024): DataFrame = {
    require(selectBuckets > 0, "selectBuckets must be positive")
    val width = ((1L << 32) + selectBuckets - 1) / selectBuckets
    val keyed = df
      .withColumn("_sk", sampleKey(col(idCol)))
      .withColumn("_sb", floor(col("_sk") / lit(width)).cast("int"))

    // bounds: strata × ≤selectBuckets rows — the window below runs over
    // this tiny aggregate, never over the data
    val cumW = Window.partitionBy(col(stratumCol)).orderBy(col("_sb").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bounds = keyed
      .groupBy(col(stratumCol), col("_sb")).agg(count(lit(1)).as("_n"))
      .withColumn("_before", coalesce(sum(col("_n")).over(cumW), lit(0L)))
      .join(quotas.select(col(stratumCol), col("quota")), Seq(stratumCol))
      .withColumn("_remaining", col("quota") - col("_before"))
      .filter(col("_remaining") > 0) // buckets wholly past the quota drop
      .withColumn("_take_all", col("_n") <= col("_remaining"))
      .select(col(stratumCol), col("_sb"), col("_take_all"), col("_remaining"))

    val joined = keyed.join(broadcast(bounds), Seq(stratumCol, "_sb"))
    val whole = joined.filter(col("_take_all"))
    // at most ONE boundary bucket per stratum; its rows are
    // ~stratum/selectBuckets, so this window never sees a full stratum
    val rankW = Window.partitionBy(col(stratumCol), col("_sb"))
      .orderBy(col("_sk").asc, col(idCol).asc)
    val boundary = joined.filter(!col("_take_all"))
      .withColumn("_rn", row_number().over(rankW))
      .filter(col("_rn") <= col("_remaining"))
      .drop("_rn")
    whole.unionByName(boundary)
      .drop("_sk", "_sb", "_take_all", "_remaining")
  }

  /** Map-quota convenience. */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      quotas: Map[String, Long]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    stratifiedSample(df, idCol, stratumCol,
      quotas.toSeq.toDF(stratumCol, "quota"))
  }

  /** Exact-fraction convenience: quota(stratum) = ceil(fraction ·
    * |stratum|), derived with one tiny count agg — "exactly 10% of
    * every source", where Bernoulli sampling ([[CorpusOps.weightedMix]])
    * only delivers 10% in expectation. The fraction is applied in
    * integer arithmetic (ceil(pct·n/100), same form as
    * [[QuantileOps]]' rank) to keep the quota reproducible.
    */
  def stratifiedFraction(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      pct: Int,
      selectBuckets: Int = 1024): DataFrame = {
    require(pct > 0 && pct <= 100, "pct must be in (0, 100]")
    stratifiedSample(df, idCol, stratumCol,
      df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_n"))
        .withColumn("quota", expr(s"($pct * _n + 99) div 100"))
        .drop("_n"),
      selectBuckets)
  }

  /** Uniform cap per stratum: at most `cap` rows from every stratum
    * present. The balanced-diversity shape — cap per topic cluster, per
    * language, per domain — that keeps a head-heavy corpus from
    * drowning the tail. The quota table is derived with one tiny
    * distinct-agg over the stratum column (map-side combinable).
    */
  def capPerStratum(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      cap: Long,
      selectBuckets: Int = 1024): DataFrame =
    stratifiedSample(df, idCol, stratumCol,
      df.select(col(stratumCol)).distinct().withColumn("quota", lit(cap)),
      selectBuckets)

  /** Greedy k-center (farthest-point) diversity selection over an
    * embedding column — the classic 2-approximation coreset seed
    * (Gonzalez 1985): start from the minimum-id vector, then k−1 times
    * pick the point farthest (squared L2) from everything chosen so
    * far. The embedding-space "cover the corpus, don't oversample the
    * densest mode" selection that complements [[capPerStratum]]'s
    * cluster caps and SemDeDup's cell-local pruning.
    *
    * Dataflow: k−1 distributed argmax passes. Each pass evaluates the
    * candidate's distance to every chosen center IN ONE PROJECTION
    * (native dot kernels, d² = ⟨x,x⟩ − 2⟨x,c⟩ + ⟨c,c⟩ with ⟨x,x⟩
    * dedup'd by subexpression elimination), takes `least(...)`, and
    * plans as TakeOrderedAndProject(1) — per-partition 1-row heaps, no
    * sort, no shuffle beyond the 1-row merge. Driver state is the
    * chosen set: k·dim floats, k-bounded like the MMR loop.
    *
    * Scale: cost is k linear scans — the right shape for the
    * tens-to-hundreds of centers a curation pass uses. For k in the
    * thousands set `carryMinDist=true`: the running min-distance rides
    * a periodically-checkpointed corpus column, so each step evaluates
    * ONE new-center distance per row instead of i — O(k·n) total work
    * against the recompute path's O(k²·n/2), trading one materialized
    * (id, vec, mind) corpus copy in executor storage. Both paths pick
    * bit-identical centers (`least` is exact comparison over the same
    * d² doubles; SketchSpec asserts equality), so the oracle-gated
    * recompute path certifies the carry path too.
    *
    * Batched selection on the carry path (r15, VERDICT r14 #8): the
    * loop's floor is the per-ACTION cost (~30-75 ms SQL layer,
    * OPTIMIZATION_r14), so each scan now collects the top
    * `selectBatch` frontier rows (same (d desc, id) order) and the
    * driver greedily accepts within the batch using a bit-identical
    * replica of the d² kernel (DotProduct accumulates left-to-right in
    * a double; min is exact) — a candidate is accepted only while its
    * UPDATED distance stays STRICTLY above the last collected row's
    * distance, which certifies no uncollected point can beat or tie it
    * (uncollected d ≤ that bound, and ties there would need the id
    * order the driver cannot see). The first accept per batch is
    * unconditionally exact (it IS the collected global argmax under
    * the full (d, id) order). Accepted centers fold into the carried
    * column in one flat `least` — the same min the stepwise updates
    * computed. Selection sequence provably identical; SketchSpec
    * asserts carry == recompute on data.
    *
    * Output: (rank, id, dist) — dist is the squared-L2 farthest
    * distance at selection time (0.0 for the seed), full precision.
    * Fewer than k rows when the distinct geometry is exhausted (every
    * remaining point coincides with a chosen center) or the input is
    * empty — never duplicate centers.
    */
  def kCenterSelect(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      carryMinDist: Boolean = false,
      checkpointEvery: Int = 4,
      selectBatch: Int = 64): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    require(selectBatch >= 1, "selectBatch must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    import graft.functions.VectorFunctions

    // idCol must be integral (int/short/long/byte) — cast up front so
    // getLong below is safe for any of them; a non-integral id type is
    // rejected here at plan time rather than failing mid-loop
    val idType = df.schema(idCol).dataType
    require({
      import org.apache.spark.sql.types._
      idType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }, s"kCenterSelect idCol must be an integral type, got $idType")
    val pts = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
    def vecLit(c: Array[Double]): Column = array(c.map(lit): _*)
    def toArr(a: Seq[Any]): Array[Double] = a.map {
      case n: java.lang.Number => n.doubleValue()
    }.toArray
    def d2(cv: Array[Double]): Column = {
      val cc = cv.map(x => x * x).sum
      VectorFunctions.dotProduct(col("v"), col("v")) -
        lit(2.0) * VectorFunctions.dotProduct(col("v"), vecLit(cv)) + lit(cc)
    }

    val seedRows = pts.orderBy(col("id")).limit(1).collect()
    if (seedRows.isEmpty) {
      return Seq.empty[(Int, Long, Double)].toDF("rank", "id", "dist")
    }
    val seedRow = seedRows.head
    val seed = (seedRow.getLong(0), toArr(seedRow.getSeq[Any](1)))
    val chosen = scala.collection.mutable.ArrayBuffer((seed._1, seed._2, 0.0))
    // carry path: the running min-distance column, re-checkpointed
    // every `checkpointEvery` centers to keep the least(...) lineage flat
    val carried = if (carryMinDist) {
      new Checkpoints.Carry(Checkpoints.checkpoint(pts.withColumn("d", d2(seed._2))),
        checkpointEvery)
    } else null
    var i = 1
    var exhausted = false
    // driver replica of the d² column, bit-identical by construction:
    // DotProduct accumulates products left-to-right in a double, and
    // the expression evaluates (⟨v,v⟩ − 2·⟨v,c⟩) + cc in this order
    def d2Driver(v: Array[Double], c: Array[Double]): Double = {
      var dvv = 0.0; var dvc = 0.0; var cc = 0.0; var j = 0
      while (j < v.length) {
        dvv += v(j) * v(j); dvc += v(j) * c(j); j += 1
      }
      j = 0
      while (j < c.length) { cc += c(j) * c(j); j += 1 }
      dvv - 2.0 * dvc + cc
    }
    while (i < k && !exhausted) {
      if (carryMinDist) {
        // batched step: one action fetches the top-selectBatch frontier
        // (selectBatch = 1 degenerates to the r14 one-scan-per-center
        // sequential loop)
        val b = selectBatch
        val rows = carried.df.orderBy(col("d").desc, col("id")).limit(b).collect()
        // < b rows back ⇒ the batch IS the whole table: no uncollected
        // point exists and the certificate bound vanishes
        val certBound =
          if (rows.length < b) Double.NegativeInfinity
          else rows.last.getDouble(2)
        val cand = scala.collection.mutable.ArrayBuffer(
          rows.map(r => (r.getLong(0), toArr(r.getSeq[Any](1)),
            r.getDouble(2))): _*)
        val accepted = scala.collection.mutable.ArrayBuffer
          .empty[Array[Double]]
        var more = true
        var firstInBatch = true
        while (more && i < k && !exhausted && cand.nonEmpty) {
          // batch argmax under the SAME total order the scan used
          var bi = 0
          var bd = cand(0)._3; var bid = cand(0)._1
          var j = 1
          while (j < cand.length) {
            val (cid, _, cd) = cand(j)
            if (cd > bd || (cd == bd && cid < bid)) { bi = j; bd = cd; bid = cid }
            j += 1
          }
          // first pick per batch is the collected global argmax (exact
          // unconditionally); later picks must beat every uncollected
          // point STRICTLY — a tie there is broken by ids the driver
          // cannot see, so it forces a fresh scan instead
          if (!firstInBatch && bd <= certBound) more = false
          else if (bd <= 0.0) { exhausted = true } // global max ≤ 0: done
          else {
            val (cid, cv, _) = cand.remove(bi)
            chosen += ((cid, cv, bd))
            accepted += cv
            i += 1
            // exact update of the remaining candidates' min-distance
            var j2 = 0
            while (j2 < cand.length) {
              val (xid, xv, xd) = cand(j2)
              val nd = d2Driver(xv, cv)
              if (nd < xd) cand(j2) = (xid, xv, nd)
              j2 += 1
            }
          }
          firstInBatch = false
        }
        if (accepted.nonEmpty && i < k && !exhausted) {
          // fold ALL accepted centers into the carried column at once —
          // the same exact min the stepwise least(...) chain computes
          carried.advance(carried.df.withColumn("d",
            least((col("d") +: accepted.toSeq.map(cv => d2(cv))): _*)),
            weight = accepted.size)
        }
      } else {
        val dists = chosen.map { case (_, cv, _) => d2(cv) }
        val scored = pts.withColumn("d",
          if (dists.size == 1) dists.head else least(dists.toSeq: _*))
        val top = scored.orderBy(col("d").desc, col("id")).limit(1).head()
        // max min-distance 0 = every remaining point coincides with a
        // chosen center (k exceeds the distinct geometry): stop instead
        // of emitting duplicate centers
        if (top.getDouble(2) <= 0.0) exhausted = true
        else {
          val cv = toArr(top.getSeq[Any](1))
          chosen += ((top.getLong(0), cv, top.getDouble(2)))
          i += 1
        }
      }
    }
    if (carried != null) carried.close()
    chosen.zipWithIndex
      .map { case ((id, _, d), r) => (r + 1, id, d) }.toSeq
      .toDF("rank", "id", "dist")
  }
}
