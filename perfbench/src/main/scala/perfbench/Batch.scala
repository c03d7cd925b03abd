package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.trace.MemoLog

/** Batch phase: named catalog queries from the `SparkEntry` registry over
  * the seed's generated tables. Every pass of a query starts after the
  * memos it built in the previous pass were dropped, so each pass's wall
  * includes every build the query needs.
  */
final class Batch(spark: SparkSession, dir: String, digest: Digest, errors: Errors) {
  private val registry = graft.SparkEntry.queries ++ graft.SparkEntry.benchExtras

  /** Runs `q` once and returns its rows and wall time in seconds. Times
    * the query alone: its output check is [[verify]].
    */
  def execute(q: String): (Array[Row], Double) = {
    MemoLog.currentQuery = q
    val t0 = System.nanoTime()
    val rows = registry(q)(spark, dir).collect()
    val wall = (System.nanoTime() - t0) / 1e9
    MemoLog.clearMemos(MemoLog.memosBuiltBy(q))
    (rows, wall)
  }

  /** Checks the rows of `q`, folding them into the digest when
    * `digested`.
    */
  def verify(q: String, rows: Array[Row], digested: Boolean): Unit = {
    if (digested) digest.add(q, rows.map(rowString).toSeq)
    errors.check(rows.nonEmpty, s"$q returned no rows")
    check(q, rows)
  }

  private def rowString(r: Row): String = r.toSeq.map {
    case d: Double => Digest.round6(d)
    case x => String.valueOf(x)
  }.mkString("|")

  /** Invariants that hold for any seed; the digest file covers
    * bit-stability across runs of one seed.
    */
  private def check(q: String, rows: Array[Row]): Unit = q match {
    case "q_pagerank" =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val nodes = li.select(col("l_orderkey").as("n"))
        .union(li.select(col("l_partkey").as("n"))).distinct().count()
      errors.check(rows.length == nodes, s"$q: ${rows.length} rows for $nodes nodes")
      errors.check(rows.forall(_.getDouble(1) >= 0.15), s"$q: rank below 1 - damping")
    case "q_betweenness_waves" =>
      val expected = chainBetweenness()
      val got = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
      errors.check(got.keySet == expected.keySet, s"$q: node set differs from the chains")
      // directed Brandes normalized by (n−1)(n−2), output rounded to 6 places
      val norm = (expected.size - 1.0) * (expected.size - 2.0)
      errors.check(expected.forall { case (n, b) =>
          math.abs(got.getOrElse(n, -1.0) - b / norm) < 1e-6 },
        s"$q: betweenness differs from the closed form on chains")
    case "q_emb_neardup_lsh" =>
      val v = vectors
      errors.check(rows.forall { r =>
        val (a, b, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        a < b && c >= 0.3 && math.abs(c - cosine(v(a), v(b))) < 1e-5
      }, s"$q: pair below threshold or cosine mismatch")
    case "q_ann_ivf_kmeans" =>
      val v = vectors
      val byQuery = rows.groupBy(_.getLong(0))
      errors.check(byQuery.keySet.subsetOf((0L until 5L).toSet), s"$q: unexpected query ids")
      errors.check(byQuery.values.forall { rs =>
        val cs = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
        rs.length <= 10 && rs.map(_.getLong(3)).sorted.toSeq == (1L to rs.length.toLong) &&
          cs.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)) &&
          rs.forall(r => math.abs(r.getDouble(2) - cosine(v(r.getLong(0)), v(r.getLong(1)))) < 1e-5)
      }, s"$q: neighbour lists not ranked by exact cosine")
    case "q_communities_refined" =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val nodes = li.select(col("l_orderkey").as("n"))
        .union(li.select(col("l_partkey").as("n"))).distinct().count()
      val ids = rows.map(_.getLong(0))
      errors.check(ids.length == nodes && ids.distinct.length == ids.length,
        s"$q: ${ids.length} labelled nodes for $nodes nodes")
    case "q_dedup_clusters_dist" =>
      val docs = rows.map(_.getLong(0))
      errors.check(docs.distinct.length == docs.length, s"$q: a document is in two clusters")
      errors.check(rows.groupBy(_.getLong(1)).values.forall(_.count(_.getBoolean(2)) == 1),
        s"$q: a cluster without exactly one canonical document")
    case "q_prep_pipeline" =>
      val ids = rows.map(_.getLong(0))
      val known = spark.read.parquet(s"$dir/documents.parquet").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      errors.check(ids.distinct.length == ids.length && ids.forall(known), s"$q: bad doc ids")
    case _ => ()
  }

  /** Closed-form betweenness on the order chains of customers < 30:
    * the i-th of L orders lies on i·(L−1−i) shortest paths.
    */
  private def chainBetweenness(): Map[Long, Double] =
    spark.read.parquet(s"$dir/orders.parquet").filter(col("o_custkey") < 30)
      .select("o_custkey", "o_orderdate", "o_orderkey").collect()
      .groupBy(_.getLong(0)).values.flatMap { rs =>
        val chain = rs.sortBy(r => (r.getTimestamp(1).getTime, r.getLong(2))).map(_.getLong(2))
        val l = chain.length
        if (l < 2) Nil else chain.zipWithIndex.map { case (n, i) => n -> (i.toDouble * (l - 1 - i)) }
      }.toMap

  private lazy val vectors: Map[Long, Array[Double]] =
    spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }
}

/** A catalog query a run times: the ops functions behind it and the
  * generated table it reads.
  */
final case class Query(ops: String, table: String)

object Batch {
  val Queries: Map[String, Query] = Map(
    "q_pagerank" -> Query("GraphAlgorithms.pageRank", "lineitem"),
    "q_communities_refined" -> Query(
      "GraphAlgorithms.labelPropagation + GraphAlgorithms.refineCommunities", "lineitem"),
    "q_betweenness_waves" -> Query("GraphAlgorithms.betweenness (wave path)", "orders"),
    "q_prep_pipeline" -> Query(
      "DedupOps.exactDuplicates + ShardOps.packShards + TextFunctions gopher/lang kernels",
      "documents"),
    "q_dedup_clusters_dist" -> Query(
      "DedupOps.simhashNearDupPairs + DedupOps.duplicateClusters", "documents"),
    "q_emb_neardup_lsh" -> Query("DedupOps.embeddingNearDupPairs (LSH bands)", "embeddings"),
    "q_ann_ivf_kmeans" -> Query("SimilarityOps.ivfIndexKMeans + SimilarityOps.ivfTopK",
      "embeddings"))
}
