package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph traversal over (nodes, edges) DataFrames — the Spark
  * re-expression of the reference's Cypher shapes (SURVEY §2.3).
  * Edges: (src, dst, edge_type, ...). All traversals are equi-joins;
  * small frontier sides should be broadcast by the caller via
  * `broadcast(...)` or left to AQE.
  */
object GraphOps {

  /** J1/J2 — 1-hop expansion: follow edges of a type from a set of
    * source ids. Output: (src, dst).
    */
  def expand(edges: DataFrame, edgeType: String): DataFrame =
    edges.filter(col("edge_type") === edgeType).select(col("src"), col("dst"))

  /** J3 — 2-hop: src -[t1]-> mid -[t2]-> dst, distinct endpoints.
    * Output: (src, mid, dst).
    */
  def twoHop(edges: DataFrame, t1: String, t2: String): DataFrame = {
    val e1 = expand(edges, t1).select(col("src"), col("dst").as("mid"))
    val e2 = expand(edges, t2).select(col("src").as("mid"), col("dst"))
    e1.join(e2, "mid").select(col("src"), col("mid"), col("dst")).distinct()
  }

  /** J7 — variable-length path 1..maxDepth from seed nodes along one edge
    * type (the reference's `LEADS_TO*1..n` temporal chain,
    * manager.py:1475-1569). Spark has no recursive CTE, so this is an
    * iterative frontier-join BFS: depth iterations, each one equi-join of
    * the frontier against the edge table, dedup per wave. Frontiers are
    * usually tiny → AQE broadcasts them. Output: (root, node, depth) with
    * the MINIMUM depth per (root, node) — first-visit semantics.
    */
  /** Edge bound under which the BFS runs root-parallel over a broadcast
    * adjacency instead of per-depth frontier joins — a depth-10 walk on
    * a small graph otherwise pays 10 wave-scheduling rounds for data
    * that fits in one broadcast (same dual-path rationale as
    * [[GraphAlgorithms.betweenness]]). Lower than betweenness's bound:
    * a chain walk has FEW roots, so the driver-side collect+index isn't
    * amortized the way |V| Brandes sources amortize it — measured
    * crossover on the sf0.1 order-chain graph (~110k edges, ~30 roots)
    * favors waves.
    */
  val BfsBroadcastEdgeLimit = 32768L

  def varLengthPaths(
      edges: DataFrame,
      edgeType: String,
      seeds: DataFrame, // single column `root` (node ids)
      maxDepth: Int,
      reverse: Boolean = false,
      broadcastEdgeLimit: Long = BfsBroadcastEdgeLimit
  ): DataFrame = {
    val e0 = expand(edges, edgeType)
    val e1 = if (reverse) e0.select(col("dst").as("src"), col("src").as("dst")) else e0
    // dispatch on a BOUNDED count — limit(N+1).count() stops scanning
    // once the bound is exceeded, so the large-graph wave path never
    // materializes or fully counts the edge table just to route.
    // Clamped: a caller bound >= Int.MaxValue must saturate the probe,
    // not overflow limit() into a negative runtime error
    val probeN =
      if (broadcastEdgeLimit >= Int.MaxValue - 1L) Int.MaxValue - 1
      else (broadcastEdgeLimit + 1).toInt
    val bounded = e1.limit(probeN).count()
    if (bounded <= broadcastEdgeLimit)
      varLengthPathsBroadcast(e1.distinct(), seeds, maxDepth)
    else
      // waves re-join the edge set once per depth level — dedup and
      // materialize it ONCE so no wave re-derives the typed filter or
      // joins duplicate edge rows
      varLengthPathsWaves(e1.distinct().localCheckpoint(), seeds, maxDepth)
  }

  /** Root-parallel BFS over a broadcast adjacency (bounded graphs):
    * min-depth-per-(root,node) semantics identical to the wave path.
    */
  private def varLengthPathsBroadcast(
      e: DataFrame,
      seeds: DataFrame,
      maxDepth: Int
  ): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val edgePairs = e.select(col("src").cast("string"), col("dst").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val nodeKeys = (edgePairs.flatMap(p => Seq(p._1, p._2)).distinct).sorted
    val idx = nodeKeys.zipWithIndex.toMap
    val adjBuf = Array.fill(nodeKeys.length)(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    edgePairs.foreach { case (s, d) => adjBuf(idx(s)) += idx(d) }
    val adj = adjBuf.map(_.toArray.sorted)
    val rootKeys = seeds.select(col("root").cast("string"))
      .distinct().collect().map(_.getString(0))
    val rootIdx = rootKeys.flatMap(idx.get).sorted

    val sc = spark.sparkContext
    val bcAdj = sc.broadcast(adj)
    val par = math.max(1, math.min(rootIdx.length, sc.defaultParallelism))
    val hits =
      if (rootIdx.isEmpty) sc.emptyRDD[(Int, Int, Int)]
      else sc.parallelize(rootIdx.toIndexedSeq, par).flatMap { r =>
        val a = bcAdj.value
        val dist = Array.fill(a.length)(-1)
        dist(r) = 0
        var frontier = List(r)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
        var d = 1
        while (d <= maxDepth && frontier.nonEmpty) {
          val next = scala.collection.mutable.ListBuffer.empty[Int]
          frontier.foreach { v =>
            a(v).foreach { w =>
              if (dist(w) < 0) { dist(w) = d; out += ((r, w, d)); next += w }
            }
          }
          frontier = next.toList
          d += 1
        }
        out
      }
    // map indices back through the ORIGINAL-typed node values so output
    // schema matches the wave path exactly
    val nodesTyped = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v")))
      .distinct()
      .withColumn("key", col("v").cast("string"))
    val keyIdx = nodeKeys.zipWithIndex.toSeq.toDF("key", "i")
    val typedIdx = nodesTyped.join(broadcast(keyIdx), Seq("key"))
      .select(col("i"), col("v"))
    hits.toDF("ri", "ni", "depth")
      .join(broadcast(typedIdx.select(col("i").as("ri"), col("v").as("root"))), Seq("ri"))
      .join(broadcast(typedIdx.select(col("i").as("ni"), col("v").as("node"))), Seq("ni"))
      .select(col("root"), col("node"), col("depth"))
  }

  private def varLengthPathsWaves(
      e: DataFrame,
      seeds: DataFrame,
      maxDepth: Int
  ): DataFrame = {
    // per-LEVEL frontiers; an empty one means no deeper paths exist
    val frontiers = Checkpoints.waves(
        seeds.select(col("root"), col("root").as("node")).withColumn("depth", lit(0)),
        Seq("root", "node"), maxDepth) { (frontier, visited, depth) =>
      val prev = frontier.select(col("root"), col("node"))
      prev
        .join(e, prev("node") === e("src"))
        .select(col("root"), col("dst").as("node"))
        .distinct()
        .join(visited, Seq("root", "node"), "left_anti")
        .withColumn("depth", lit(depth))
    }
    // depth-0 seed rows are internal state, not output
    frontiers.drop(1).reduceOption(_ unionByName _)
      .getOrElse(frontiers.head.filter(col("depth") > 0))
  }

  /** J11/A9 — as-of / latest-per-key join: most recent row per partition
    * key at or before `asOf` (epoch ms), via window top-1.
    */
  def latestPerKey(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      idCol: String,
      asOf: Option[Long] = None
  ): DataFrame = {
    val bounded = asOf.map(t => df.filter(col(tsCol) <= t)).getOrElse(df)
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).desc, col(idCol).desc)
    bounded
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** J15/R1 — hybrid merge of a vector result set and a graph result set
    * keyed by id: full-outer join; present in both ⇒ max(score) ×
    * (1 + agreementBonus) and source="both"; else passthrough
    * (reference manager.py:662-695, bonus default 0.1 types.py:61).
    */
  def mergeResults(
      vector: DataFrame, // (idCol, score)
      graph: DataFrame, // (idCol, score)
      idCol: String,
      agreementBonus: Double = 0.1
  ): DataFrame = {
    val v = vector.select(col(idCol), col("score").as("v_score"))
    val g = graph.select(col(idCol), col("score").as("g_score"))
    v.join(g, Seq(idCol), "full_outer")
      .withColumn(
        "source",
        when(col("v_score").isNotNull && col("g_score").isNotNull, lit("both"))
          .when(col("v_score").isNotNull, lit("vector"))
          .otherwise(lit("graph"))
      )
      .withColumn(
        "score",
        when(
          col("source") === "both",
          greatest(col("v_score"), col("g_score")) * (lit(1.0) + lit(agreementBonus))
        ).otherwise(coalesce(col("v_score"), col("g_score")))
      )
      .select(col(idCol), col("score"), col("source"))
  }

  /** A5 — topology score per memory node over HAS_ENTITY edges
    * (reference scoring.py:230-242):
    * 0.6·min(1, log(1+degree)/log(11)) + 0.4·sharedRatio, where
    * sharedRatio = fraction of the memory's entities that are linked to
    * at least one OTHER memory. Two aggregations, no N+1 probing. The
    * catalog queries use this whole-graph form; `MemoryManager.search`
    * scores only its page, on the driver, with the bit-identical
    * [[PageFusion.topologyScores]].
    */
  def topologyScores(hasEntityEdges: DataFrame): DataFrame = {
    val e = hasEntityEdges.select(col("src").as("mem"), col("dst").as("ent")).distinct()
    val entShared = e
      .groupBy(col("ent"))
      .agg(countDistinct(col("mem")).as("mem_count"))
      .withColumn("shared", (col("mem_count") > 1).cast("double"))
    e.join(entShared, "ent")
      .groupBy(col("mem"))
      .agg(
        countDistinct(col("ent")).as("degree"),
        avg(col("shared")).as("shared_ratio")
      )
      .withColumn(
        "topology_score",
        lit(0.6) * least(lit(1.0), log(lit(1.0) + col("degree")) / log(lit(11.0))) +
          lit(0.4) * col("shared_ratio")
      )
      .select(col("mem"), col("degree"), col("shared_ratio"), col("topology_score"))
  }

  /** A6 — structural reinforcement: for each memory, the average
    * importance of later memories sharing >=1 entity, scaled by gamma and
    * clamped to [0,1] (reference scoring.py:245-299).
    */
  def reinforcement(
      memories: DataFrame, // (id, created_at, importance)
      hasEntityEdges: DataFrame, // (src=mem, dst=ent)
      gamma: Double = 0.3 // structural_feedback_gamma default (types.py)
  ): DataFrame = {
    val e = hasEntityEdges.select(col("src").as("mem"), col("dst").as("ent")).distinct()
    val m = memories.select(
      col("id").as("mem"),
      col("created_at"),
      col("importance")
    )
    val left = e.join(m, "mem").select(
      col("mem").as("parent"),
      col("ent"),
      col("created_at").as("p_created")
    )
    val right = e.join(m, "mem").select(
      col("mem").as("child"),
      col("ent"),
      col("created_at").as("c_created"),
      col("importance").as("c_importance")
    )
    left
      .join(right, Seq("ent"))
      .filter(col("child") =!= col("parent") && col("c_created") > col("p_created"))
      .select(col("parent"), col("child"), col("c_importance"))
      .distinct()
      .groupBy(col("parent"))
      // NULL-importance children count as 1.0, matching the reference's
      // child_props.get("importance", 1.0) (scoring.py) — a plain avg()
      // would silently drop them
      .agg(avg(coalesce(col("c_importance"), lit(1.0))).as("avg_child_importance"))
      .withColumn(
        "reinforcement",
        greatest(lit(0.0), least(lit(1.0), lit(gamma) * col("avg_child_importance")))
      )
      .select(col("parent").as("mem"), col("avg_child_importance"), col("reinforcement"))
  }

  /** Deterministic pivot sampling for approximate whole-graph metrics
    * (Brandes–Pich roots): the `maxRoots` lowest-md5 node ids. Hashing
    * matters: ordering by raw id would concentrate pivots on the oldest
    * nodes (ingest-order bias — the engine's global keys are id*8+code,
    * so low ids are also label-correlated); md5 of the id string is a
    * uniform pseudo-random draw that BOTH engines can replay (DuckDB's
    * `md5(node::VARCHAR)` produces the identical lowercase hex, so an
    * oracle can regenerate the exact root set — q_betweenness_sampled).
    * Plans as one TakeOrderedAndProject (per-partition top-K heap, no
    * global sort) — one scan regardless of graph size.
    */
  def samplePivots(nodes: DataFrame, maxRoots: Int): DataFrame =
    // materialize the (≤ maxRoots-row) sample once: the caller's count
    // and the betweenness run reuse it instead of re-executing the scan
    nodes
      .orderBy(md5(col("node").cast("string")).asc, col("node").asc)
      .limit(maxRoots)
      .select(col("node").as("root"))
      .localCheckpoint()
}
