package graft.ops

import org.apache.spark.sql.catalyst.util.SQLOrderingUtil

/** Driver-side twins of the ranking operators, for candidate pages that
  * are already collected (a search's ≤ 2·fetchK + k rows). Each function
  * performs the same double operations in the same order as its
  * DataFrame operator, with Spark SQL's comparison rules (NaN is the
  * largest value and equals itself, -0.0 equals 0.0), so results are
  * bit-identical:
  *
  *   - [[rrf]] / [[rerank]] — [[SearchOps.rrfFuse]] and the re-rank
  *     step of [[SearchOps.hybridSearch]];
  *   - [[merge]] — [[GraphOps.mergeResults]];
  *   - [[topologyBoost]] / [[crossSessionBoost]] — the [[ScoringOps]]
  *     columns of the same names;
  *   - [[topologyScores]] — [[GraphOps.topologyScores]], for the
  *     memories whose entities' edges were collected;
  *   - [[byScoreDesc]] — `ORDER BY score DESC, id ASC`.
  *
  * OpsSpec checks the equality on generated pages.
  */
object PageFusion {

  /** Spark SQL's double comparison (sort keys, `<`, greatest/least). */
  def compare(a: Double, b: Double): Int = SQLOrderingUtil.compareDoubles(a, b)

  /** `greatest(lit(a), b)` and `least(lit(a), b)` for non-null operands. */
  def greatest(a: Double, b: Double): Double = if (compare(b, a) > 0) b else a
  def least(a: Double, b: Double): Double = if (compare(b, a) < 0) b else a

  /** `ORDER BY score DESC NULLS LAST, id ASC`. */
  val scoreDesc: Ordering[(Option[Double], Long)] = (x, y) =>
    (x._1, y._1) match {
      case (Some(a), Some(b)) if compare(a, b) != 0 => compare(b, a)
      case (Some(_), None) => -1
      case (None, Some(_)) => 1
      case _ => java.lang.Long.compare(x._2, y._2)
    }

  def byScoreDesc[A](rows: Seq[A])(score: A => Double, id: A => Long): Seq[A] =
    rows.sortBy(r => (Option(score(r)), id(r)))(scoreDesc)

  /** Reciprocal-rank fusion of pre-limited legs of (id, score): ranks
    * are positions by (score desc nulls last, id asc), fused =
    * Σ 1/(rrfK + rank). With two legs the sum is exact in any order, as
    * in the Spark aggregate.
    */
  def rrf(legs: Seq[Seq[(Long, Option[Double])]], rrfK: Double): Seq[(Long, Double)] = {
    val fused = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
    legs.foreach { leg =>
      leg.map(r => (r._2, r._1)).sorted(scoreDesc).zipWithIndex.foreach {
        case ((_, id), i) =>
          val part = 1.0 / (rrfK + (i + 1).toDouble)
          fused.update(id, fused.get(id).fold(part)(_ + part))
      }
    }
    fused.toSeq
  }

  /** Re-rank of a fused candidate: clamped cosine when the row has an
    * embedding (`cos` None when the kernel returned null), else
    * max(0, 1 − rrf) below rrf 1 and 0.5 from there.
    */
  def rerank(rrf: Double, hasEmbedding: Boolean, cos: Option[Double]): Double =
    if (hasEmbedding) cos.fold(0.0)(greatest(0.0, _))
    else if (compare(rrf, 1.0) < 0) greatest(0.0, 1.0 - rrf)
    else 0.5

  /** Full-outer merge of the vector and graph pages: (id, score, source),
    * source both/vector/graph, both scored greatest(v, g)·(1 + bonus).
    */
  def merge(
      vector: Seq[(Long, Double)],
      graph: Seq[(Long, Double)],
      agreementBonus: Double
  ): Seq[(Long, Double, String)] = {
    val g = graph.toMap
    val v = vector.toMap
    val both = 1.0 + agreementBonus
    vector.map { case (id, vs) =>
      g.get(id) match {
        case Some(gs) => (id, greatest(vs, gs) * both, "both")
        case None => (id, vs, "vector")
      }
    } ++ graph.filterNot(r => v.contains(r._1)).map { case (id, gs) => (id, gs, "graph") }
  }

  /** score × (1 + factor·coalesce(topo, 0)). */
  def topologyBoost(score: Double, topo: Option[Double], factor: Double): Double =
    score * (1.0 + factor * topo.getOrElse(0.0))

  /** [[GraphOps.topologyScores]]' `topology_score` of each memory in
    * `mems` that has an entity, from the HAS_ENTITY (mem, entity) rows of
    * every entity those memories link to (more rows do no harm):
    * 0.6·min(1, log(1 + degree)/log(11)) + 0.4·sharedRatio over the
    * distinct rows, with Spark's `log` (StrictMath.log) and `avg` (the
    * exact count of shared entities over the degree).
    */
  def topologyScores(mems: Set[Long], hasEntity: Seq[(Long, Long)]): Map[Long, Double] = {
    val e = hasEntity.distinct
    val memCount = e.groupMapReduce(_._2)(_ => 1)(_ + _)
    e.filter(r => mems(r._1)).groupMap(_._1)(_._2).map { case (mem, ents) =>
      val degree = ents.size.toDouble
      val sharedRatio = ents.count(memCount(_) > 1).toDouble / degree
      mem -> (0.6 * least(1.0, StrictMath.log(1.0 + degree) / StrictMath.log(11.0)) +
        0.4 * sharedRatio)
    }
  }

  /** score × (1 + factor·(0.7·min(1, 10·pagerank) + 0.3·min(1, 10·betweenness))). */
  def crossSessionBoost(
      score: Double,
      pagerank: Option[Double],
      betweenness: Option[Double],
      factor: Double
  ): Double = {
    val algo = 0.7 * least(1.0, pagerank.getOrElse(0.0) * 10.0) +
      0.3 * least(1.0, betweenness.getOrElse(0.0) * 10.0)
    score * (1.0 + factor * algo)
  }
}
