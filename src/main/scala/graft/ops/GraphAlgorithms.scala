package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Whole-graph analytics (SURVEY §2.8, G1-G3) as deterministic
  * DataFrame iteration — no driver-side graph materialization on the
  * unbounded paths, every pass a keyed join/aggregation, so the same
  * code runs on a 1000-executor cluster. Determinism (fixed iteration
  * counts, total-order tie-breaks) is what makes these oracle-checkable.
  * The loops run on [[Checkpoints]]' round and wave drivers.
  */
object GraphAlgorithms {

  /** Distinct-edge bound under which a graph runs in one JVM. Two
    * operators pick their physical plan by it:
    *  - exact Brandes [[betweenness]] broadcasts the adjacency and runs
    *    root-parallel executors instead of (root,node)-keyed BFS waves.
    *    Wave scheduling costs ~0.3 s per depth level at local[32]; a
    *    deep small graph (session chains) pays that 2·diameter times for
    *    data that fits in one broadcast;
    *  - PageRank / PPR ([[pageRank]]) run the power iteration on the
    *    driver instead of one Spark job per iteration.
    * Above the bound the distributed plans take over: waves (O(V·E),
    * callers at real scale pass sampled `roots`) and the DataFrame
    * rank loop.
    */
  val BroadcastEdgeLimit = 500000L

  /** G1 — static PageRank, the classic damped formulation GraphX's
    * Pregel implements (reference params: damping 0.85,
    * protocol.py:38-40): rank⁰(v) = 1.0;
    * rankᵗ⁺¹(v) = (1−d) + d·Σ_{(u,v)∈E} rankᵗ(u)/outdeg(u).
    * Fixed `iters` so the result is exactly reproducible (convergence
    * thresholds are not, across engines). Edges: (src, dst), distinct.
    * Output: (node, pagerank).
    *
    * Convergence vs the reference's run-to-tolerance (1e-6, ≤100
    * iterations — protocol.py:38-40), measured on the sf0.1
    * contains-graph (BASELINE §7c): max |Δrank| = 2.4e-2 at
    * the default 20 iterations, decaying ×0.164 per 10 iterations —
    * callers needing reference-tolerance ranks pass iters ≈ 80; the
    * default stays 20 because the ORDERING the engine consumes (top-k,
    * score boosts) is stable well before the absolute values are, and
    * the fixed count is what keeps the DuckDB oracle replayable.
    *
    * Scale shape: two plans, one recurrence. The distinct edge table is
    * checkpointed once and counted by an observation on that job.
    *  - At most [[BroadcastEdgeLimit]] distinct edges with integral node
    *    ids: the checkpoint is collected and the iteration runs on the
    *    driver over index arrays; the result is a local relation, so the
    *    whole call costs the checkpoint and the collect.
    *  - Otherwise: outdeg is folded into a checkpointed edge table
    *    (src, dst, outdeg), partitioned by src; ranks stay partitioned by
    *    node, so each iteration is exactly ONE shuffle (the dst-keyed
    *    contribution sum). Lineage is cut every 4 iterations — eager
    *    materialization every wave costs more than it saves at local[32].
    * Both plans evaluate the same double operations per term; only the
    * order of each node's in-sum differs, so ranks agree to within
    * 1e-12 relative (AlgoSpec), well inside the 6-decimal rounding the
    * catalog queries report.
    */
  def pageRank(edges: DataFrame, iters: Int = 20, damping: Double = 0.85): DataFrame =
    // reset ≡ 1: (1−d)·1.0 constant-folds, so the plan is the classic one
    rankLoop(edges, lit(1.0), _ => 1.0, iters, damping)
      .select(col("node"), col("rank").as("pagerank"))

  /** Personalized PageRank: [[pageRank]] with the teleport mass
    * concentrated on a source set instead of spread uniformly —
    * rank⁰(v) = reset(v); rankᵗ⁺¹(v) = (1−d)·reset(v) +
    * d·Σ rankᵗ(u)/outdeg(u), reset(v) = 1/|S| for v ∈ S else 0, S the
    * DISTINCT sources. The relevance-propagation primitive: scores
    * measure proximity to the sources through the link structure
    * (recommendation seeds, memory anchors), not global importance.
    * Dangling mass is dropped exactly as in the base formulation, and
    * the fixed iteration count keeps the result engine-replayable.
    *
    * Scale shape: identical to [[pageRank]]; the reset column is a
    * broadcast-free per-row expression (the source set is a literal IN
    * list, contract: driver-small).
    *
    * Output: (node, ppr) for every node of the graph.
    */
  def personalizedPageRank(
      edges: DataFrame,
      sources: Seq[Long],
      iters: Int = 20,
      damping: Double = 0.85): DataFrame = {
    val (reset, resetOf) = sourceReset(sources)
    rankLoop(edges, reset, resetOf, iters, damping)
      .select(col("node"), col("rank").as("ppr"))
  }

  /** PPR's reset 1/|S| on the distinct sources S, as the Spark loop's
    * column over `node` and as the driver loop's function of a node id.
    */
  private[graft] def sourceReset(
      sources: Seq[Long]): (Column, java.lang.Long => Double) = {
    require(sources.nonEmpty, "sources must be non-empty")
    val s = sources.distinct
    val w = 1.0 / s.size
    val set = s.toSet
    (when(col("node").isin(s: _*), lit(w)).otherwise(lit(0.0)),
      v => if (v != null && set(v.longValue)) w else 0.0)
  }

  /** The damped power iteration both PageRank faces share:
    * rank⁰ = reset; rankᵗ⁺¹ = (1−d)·reset + d·Σ rankᵗ(u)/outdeg(u).
    * `reset` is a per-row expression over `node` for the Spark loop;
    * `resetOf` is the same function of a node id for the driver loop
    * (null for a null endpoint: Spark's `reset` sees a null `node`).
    * Output: (node, rank), `node` typed as `src ∪ dst`, `rank` double.
    *
    * `driverEdgeLimit` is the plan seam (see [[pageRank]]): a graph
    * with more distinct edges runs the Spark loop; tests pass −1 to
    * force it.
    */
  private[graft] def rankLoop(edges: DataFrame, reset: Column,
      resetOf: java.lang.Long => Double, iters: Int, damping: Double,
      driverEdgeLimit: Long = BroadcastEdgeLimit): DataFrame = {
    val e0 = Checkpoints.checkpoint(
      edges.select(col("src"), col("dst")).distinct(), count(lit(1)).as("m"))
    val nodeField = e0.df.select(col("src").as("node"))
      .unionByName(e0.df.select(col("dst").as("node"))).schema("node")
    val integral = nodeField.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (integral && e0.long("m") <= driverEdgeLimit) {
      val rows = e0.df.select(col("src").cast(nodeField.dataType),
        col("dst").cast(nodeField.dataType)).collect()
      e0.release()
      edges.sparkSession.createDataFrame(
        java.util.Arrays.asList(rankOnDriver(rows, resetOf, iters, damping): _*),
        StructType(Seq(nodeField, StructField("rank", DoubleType, nullable = false))))
    } else rankOnSpark(e0, reset, iters, damping)
  }

  /** [[rankLoop]]'s Spark plan over the checkpointed distinct edges
    * `e0`, which it releases once its own static tables are materialized.
    */
  private def rankOnSpark(e0: Checkpoints.Checkpoint,
      reset: Column, iters: Int, damping: Double): DataFrame = {
    // outdeg as a count over the src partition: one exchange by src
    // (which the repartition then keeps) instead of an aggregation and
    // a join. Null-src rows stay but, like every null key, never match
    // a rank row.
    val (e, releaseE) = Checkpoints.withRelease(
      e0.df.withColumn("outdeg", count(lit(1)).over(Window.partitionBy(col("src"))))
        .repartition(col("src")))
    val (nodes, releaseNodes) = Checkpoints.withRelease(
      e0.df.select(col("src").as("node"))
        .unionByName(e0.df.select(col("dst").as("node")))
        .distinct()
        .repartition(col("node")))
    e0.release()
    val ranks = Checkpoints.iterate("rankLoop",
        Checkpoints.Checkpoint(nodes.withColumn("rank", reset)), iters, every = 4) { (ranks, _) =>
      // shuffle_hash: both sides are already hash-partitioned on the key,
      // so SMJ's only extra work would be the per-iteration re-sort —
      // hash build over the (smaller) rank table skips it
      val contribs = e
        .join(ranks.hint("shuffle_hash"), e("src") === ranks("node"))
        .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("in_sum"))
      nodes
        .join(contribs.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) * reset +
            lit(damping) * coalesce(col("in_sum"), lit(0.0))).as("rank"))
    }
    // the final iteration checkpointed `ranks`, so the static tables'
    // blocks are no longer reachable from the returned plan
    if (iters >= 1) { releaseE(); releaseNodes() }
    ranks
  }

  /** [[rankLoop]]'s recurrence over collected distinct edges, with the
    * Spark loop's join semantics: a null endpoint counts toward its
    * source's outdegree, but no rank flows to or from it (the Spark
    * joins never match null keys), and a null node keeps
    * (1−d)·reset(null). Output: (node, rank) per distinct endpoint.
    */
  private def rankOnDriver(edges: Array[Row],
      resetOf: java.lang.Long => Double, iters: Int,
      damping: Double): Array[Row] = {
    val index = new java.util.HashMap[Any, Integer]()
    val nodes = scala.collection.mutable.ArrayBuffer.empty[Any]
    def idx(v: Any): Int = {
      val i = index.get(v)
      if (i != null) i.intValue
      else { index.put(v, nodes.size); nodes += v; nodes.size - 1 }
    }
    val src = edges.map(e => idx(e.get(0)))
    val dst = edges.map(e => idx(e.get(1)))
    val n = nodes.size
    val outdeg = new Array[Long](n)
    src.foreach(u => outdeg(u) += 1)
    // the edges rank flows along: both endpoints non-null
    val flow = edges.indices.filter(k => !edges(k).isNullAt(0) && !edges(k).isNullAt(1)).toArray
    val reset = nodes.map(v =>
      resetOf(if (v == null) null else java.lang.Long.valueOf(
        v.asInstanceOf[Number].longValue))).toArray
    var rank = reset.clone()
    var it = 0
    while (it < iters) {
      val inSum = new Array[Double](n)
      var k = 0
      while (k < flow.length) {
        val u = src(flow(k))
        inSum(dst(flow(k))) += rank(u) / outdeg(u).toDouble
        k += 1
      }
      val next = new Array[Double](n)
      var v = 0
      while (v < n) {
        next(v) = (1.0 - damping) * reset(v) + damping * inSum(v)
        v += 1
      }
      rank = next
      it += 1
    }
    nodes.indices.map(v => Row(nodes(v), rank(v))).toArray
  }

  /** G2 — exact betweenness centrality (Brandes). Two physical plans,
    * one semantics:
    *
    * Small graphs (≤ [[BroadcastEdgeLimit]] edges): broadcast the
    * adjacency to every executor and parallelize over ROOTS — each task
    * runs textbook sequential Brandes from its roots in memory, results
    * reduce by node. This is per-source parallelism, the standard way to
    * distribute Brandes; the graph is bounded by the broadcast limit,
    * the roots scale out.
    *
    * Large graphs: source-parallel BFS waves with (root,node)-keyed
    * state — all |roots| single-source computations advance in the same
    * DataFrame wave. O(V·E) total; at 100 TB pass sampled pivot `roots`
    * (Brandes–Pich) — the dataflow is unchanged and the caller scales
    * the estimate by |V|/|roots|.
    *
    * Normalized by (n−1)(n−2) (directed, matching networkx
    * normalized=True, protocol.py:42). Output: (node, betweenness).
    */
  /** `knownCounts = Some((n, m))` lets a caller that already sized the
    * graph skip the two eager sizing jobs: `n` must be the exact distinct
    * node count (it normalizes the scores), `m` may be an UPPER BOUND on
    * the distinct edge count (it only gates the broadcast-vs-waves path
    * choice, and both paths compute identical results — AlgoSpec).
    */
  def betweenness(
      edges: DataFrame,
      rootsOpt: Option[DataFrame] = None,
      broadcastEdgeLimit: Long = BroadcastEdgeLimit,
      knownCounts: Option[(Long, Long)] = None
  ): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val (n, m) = knownCounts.getOrElse((nodes.count(), e.count()))
    if (m <= broadcastEdgeLimit) betweennessBroadcast(e, nodes, n, rootsOpt)
    else betweennessWaves(e, nodes, n, rootsOpt)
  }

  /** Root-parallel exact Brandes over a broadcast adjacency (bounded
    * graphs). Node ids of any type are indexed through a canonical
    * string key; the result joins back to the original-typed node
    * column, so output schema matches the wave path exactly.
    */
  private def betweennessBroadcast(
      e: DataFrame,
      nodes: DataFrame,
      n: Long,
      rootsOpt: Option[DataFrame]
  ): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val edgePairs = e.select(col("src").cast("string"), col("dst").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val nodeKeys = nodes.select(col("node").cast("string"))
      .collect().map(_.getString(0)).sorted // deterministic indexing
    val idx = nodeKeys.zipWithIndex.toMap
    val nn = nodeKeys.length
    val adjBuf = Array.fill(nn)(scala.collection.mutable.ArrayBuffer.empty[Int])
    edgePairs.foreach { case (s, d) => adjBuf(idx(s)) += idx(d) }
    val adj = adjBuf.map(_.toArray.sorted)

    val rootIdx: Array[Int] = rootsOpt match {
      case Some(r) =>
        r.select(col("root").cast("string")).collect()
          .flatMap(row => idx.get(row.getString(0))).distinct.sorted
      case None => Array.range(0, nn)
    }
    val sc = spark.sparkContext
    val bcAdj = sc.broadcast(adj)
    val parallelism = math.max(1, math.min(rootIdx.length, sc.defaultParallelism * 4))
    val deltas = sc.parallelize(rootIdx.toIndexedSeq, parallelism)
      .flatMap { r =>
        val a = bcAdj.value
        val size = a.length
        val dist = Array.fill(size)(-1)
        val sigma = new Array[Double](size)
        val preds = Array.fill(size)(scala.collection.mutable.ArrayBuffer.empty[Int])
        val order = new scala.collection.mutable.ArrayBuffer[Int](size)
        val queue = new java.util.ArrayDeque[Int]()
        dist(r) = 0; sigma(r) = 1.0; queue.add(r)
        while (!queue.isEmpty) {
          val v = queue.poll()
          order += v
          var k = 0
          val nbrs = a(v)
          while (k < nbrs.length) {
            val w = nbrs(k)
            if (dist(w) < 0) { dist(w) = dist(v) + 1; queue.add(w) }
            if (dist(w) == dist(v) + 1) { sigma(w) += sigma(v); preds(w) += v }
            k += 1
          }
        }
        val delta = new Array[Double](size)
        var oi = order.length - 1
        while (oi >= 0) {
          val w = order(oi)
          val pw = preds(w)
          var k = 0
          while (k < pw.length) {
            val v = pw(k)
            delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
            k += 1
          }
          oi -= 1
        }
        (0 until size).iterator
          .filter(v => v != r && delta(v) != 0.0)
          .map(v => (v, delta(v)))
      }
      .reduceByKey(_ + _)
    val raw = deltas.toDF("idx", "raw")
    val nodeIdx = nodeKeys.zipWithIndex.toSeq.toDF("node_key", "idx")
    val norm = if (n > 2) (n - 1).toDouble * (n - 2).toDouble else 1.0
    nodes
      .join(broadcast(nodeIdx), nodes("node").cast("string") === col("node_key"), "left")
      .join(raw, Seq("idx"), "left")
      .select(col("node"), (coalesce(col("raw"), lit(0.0)) / lit(norm)).as("betweenness"))
  }

  /** Distributed wave implementation for graphs above the broadcast
    * bound: forward BFS accumulates dist(root,v) and σ(root,v), the
    * backward sweep accumulates dependencies depth-by-depth.
    */
  private def betweennessWaves(
      e: DataFrame,
      nodes: DataFrame,
      n: Long,
      rootsOpt: Option[DataFrame]
  ): DataFrame = {
    val roots = rootsOpt.getOrElse(nodes.select(col("node").as("root")))

    // ---- forward BFS with path counting ----
    // per-LEVEL frontiers (root, node, sigma): the backward sweep
    // consumes levels directly
    val frontiers = Checkpoints.waves(
        roots.select(col("root"), col("root").as("node")).withColumn("sigma", lit(1.0)),
        Seq("root", "node")) { (frontier, visited, _) =>
      frontier
        .join(e, frontier("node") === e("src"))
        .select(col("root"), e("dst").as("node"), col("sigma"))
        .groupBy(col("root"), col("node"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(visited, Seq("root", "node"), "left_anti")
    }
    val maxDist = frontiers.length - 1

    // ---- backward dependency accumulation ----
    // deltas(dd): (root, node, sigma, delta) for distance dd; each step
    // touches exactly two adjacent levels
    val deltas = new Array[DataFrame](maxDist + 1)
    if (maxDist >= 0)
      deltas(maxDist) = frontiers(maxDist).withColumn("delta", lit(0.0))
    for (dd <- maxDist to 1 by -1) {
      val succ = deltas(dd)
        .select(col("root"), col("node").as("w"), col("sigma").as("sigma_w"),
          col("delta").as("delta_w"))
      // predecessors v of w on shortest paths: dist(v) = dd-1 and (v,w) ∈ E
      val contrib = succ
        .join(e, succ("w") === e("dst"))
        .select(col("root"), e("src").as("node"), col("sigma_w"), col("delta_w"))
        .join(frontiers(dd - 1).select(col("root"), col("node"), col("sigma").as("sigma_v")),
          Seq("root", "node"))
        .select(col("root"), col("node"),
          (col("sigma_v") / col("sigma_w") * (lit(1.0) + col("delta_w"))).as("c"))
        .groupBy(col("root"), col("node"))
        .agg(sum(col("c")).as("acc"))
      deltas(dd - 1) = frontiers(dd - 1)
        .join(contrib, Seq("root", "node"), "left")
        .select(col("root"), col("node"), col("sigma"),
          coalesce(col("acc"), lit(0.0)).as("delta"))
        .localCheckpoint()
    }

    val norm = if (n > 2) (n - 1).toDouble * (n - 2).toDouble else 1.0
    val allDeltas =
      if (maxDist < 1) Seq.empty[DataFrame]
      else (0 until maxDist).map(deltas(_)) // level maxDist has delta 0: no contribution
    val bc =
      if (allDeltas.isEmpty) nodes.select(col("node"), lit(0.0).as("raw")).limit(0)
      else allDeltas.reduce(_ unionByName _)
        .filter(col("node") =!= col("root"))
        .groupBy(col("node"))
        .agg(sum(col("delta")).as("raw"))
    nodes.join(bc, Seq("node"), "left")
      .select(col("node"), (coalesce(col("raw"), lit(0.0)) / lit(norm)).as("betweenness"))
  }

  /** G3 — community detection by deterministic synchronous label
    * propagation: every node starts in its own community (label = id);
    * each round a node adopts the most frequent label among its
    * (undirected) neighbors, ties broken by SMALLEST label; fixed round
    * count. Deliberate deviation from the reference's Louvain
    * (protocol.py:44): Louvain's sequential modularity sweeps are
    * order-dependent and not reproducible across engines — deterministic
    * LPA is oracle-checkable and parallel; [[modularity]] scores the
    * partition so quality stays measurable. Output: (node, community).
    *
    * Scale shape: the undirected edge table is repartitioned by dst once
    * and checkpointed; the per-round argmax is a two-level aggregation
    * ((node,label) count → max_by) that partially aggregates map-side —
    * no per-round sort-window and no re-shuffle of the edge table.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 5): DataFrame = {
    // max_by over (cnt, -label) needs numeric negation; non-numeric node
    // ids (the API accepts any orderable type) use the row_number window
    // instead — same argmax, one extra sort per round
    val numericIds = edges.schema("src").dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    // single distinct over the doubled table — a pre-distinct of `dir`
    // would just add a shuffle the union's distinct repeats anyway
    val dir = edges.select(col("src"), col("dst"))
    val (und, releaseUnd) = Checkpoints.withRelease(
      dir.unionByName(dir.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .filter(col("src") =!= col("dst"))
        .repartition(col("dst")))
    val (nodes, releaseNodes) = Checkpoints.withRelease(
      und.select(col("src").as("node")).distinct()
        .repartition(col("node")))
    // checkpointed every 2nd round: a round references the label state
    // once, so lazy lineage between checkpoints is not re-evaluated
    val labels = Checkpoints.iterate("labelPropagation",
        Checkpoints.Checkpoint(nodes.withColumn("label", col("node"))), rounds,
        every = 2) { (labels, _) =>
      // most-frequent neighbor label, smallest label on ties: count per
      // (node,label), then max_by over a (cnt, -label) total order. The
      // explicit repartition(node) satisfies ClusteredDistribution for
      // BOTH aggregation levels (and the non-numeric window), where the
      // default hash(node,label) shuffle forced a second node-keyed
      // exchange for the argmax — measured 30% faster per round at
      // sf0.1. The raw (node,label) rows shuffle uncombined; the
      // map-side-combine layout measured 1.05–1.24× slower even with a
      // 10%-of-edges hub (BASELINE §7).
      val gathered = und
        .join(labels.hint("shuffle_hash"), und("dst") === labels("node"))
        .select(und("src").as("node"), col("label"))
      val counted = gathered.repartition(col("node"))
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      if (numericIds)
        counted.groupBy(col("node"))
          .agg(max_by(col("label"), struct(col("cnt"), -col("label"))).as("label"))
      else {
        val w = Window.partitionBy(col("node"))
          .orderBy(col("cnt").desc, col("label").asc)
        counted.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("node"), col("label"))
      }
    }
    // the final round checkpointed `labels` — the static tables are free
    if (rounds >= 1) { releaseUnd(); releaseNodes() }
    labels.select(col("node"), col("label").as("community"))
  }

  /** G3b — modularity refinement of a community partition by
    * parity-scheduled synchronous local moving (the Louvain phase-1
    * sweep, distributed). Seeded by [[labelPropagation]]'s partition;
    * each round, nodes of one id-parity class simultaneously evaluate
    * moving to a neighboring community and move iff the modularity gain
    * is STRICTLY positive vs staying (ties below that go to stay; ties
    * between targets go to the smallest community id).
    *
    * Why this shape: the reference runs sequential Louvain
    * (protocol.py:44, resolution 1.0), whose node-order-dependent sweeps
    * are not reproducible across engines. Fully-synchronous local moving
    * is reproducible but oscillates (measured: modularity stays ≈ 0 on
    * the sf0.01 contains-graph, BASELINE §7). Restricting each round's
    * movers to one node-id residue class mod `moverClasses` breaks the
    * oscillation the standard distributed-Louvain way (alternating
    * independent-ish sets); SMALLER classes behave closer to the
    * sequential sweep at the same per-round cost — the measured schedule
    * study (BASELINE §7) picks mod-4 × 16 rounds: modularity 0.2878 of
    * sequential Louvain's 0.2908 on the sf0.01 contains-graph, from an
    * LPA seed at −0.0131 (mod-2 × 12 reached 0.2698; tools/
    * louvain_quality.py records the comparison).
    *
    * Determinism across engines: every gain comparison is exact INTEGER
    * arithmetic — gain(n→c) ∝ 2m·w(n,c) − k(n)·σ(c), and with
    * resolution 1 both terms are products of counts, so DuckDB and Spark
    * order candidates identically with no floating-point tie risk.
    * Overflow bound: |gain| ≤ 4·m·k(n), safe in a signed 64-bit long
    * while m·k < 2⁶¹ (e.g. 10¹² edges × 10⁶ max-degree).
    *
    * Scale shape (per round): one (node,community) count aggregation
    * over the dst-partitioned edge table (the same single-exchange
    * layout LPA uses), one tiny per-community degree sum σ joined back
    * (AQE broadcasts it while #communities is small), one argmax
    * aggregation. `rounds` is an upper bound: a move happens only on
    * STRICT integer-gain improvement over staying, so once a full
    * residue cycle (`moverClasses` consecutive rounds) makes zero
    * moves, every class has seen the current state and declined —
    * the state is a fixpoint and remaining rounds would replay it
    * unchanged. The loop detects that and stops (`stopOnStableCycle`),
    * returning a result bit-identical to running all `rounds`; the
    * detector is a `sum(moved)` probe on each round's checkpoint.
    * This mirrors the reference's run-to-convergence Louvain
    * (protocol.py:44) instead of paying worst-case rounds at scale;
    * the executed rounds and their move counts land in
    * `Checkpoints.lastRounds("refineCommunities")`.
    * Requires numeric NON-NEGATIVE node ids (the parity schedule is
    * id-arithmetic — `pmod` here vs signed `%` in the SQL oracle
    * diverge below zero, so negatives are rejected up front). Graph
    * nodes the seed does not cover default to SINGLETON communities
    * (id = node), the same convention the burst uses —
    * [[labelPropagation]] output covers every node, but a filtered or
    * partial seed no longer silently shrinks the output partition.
    * With `burstMajoritySeed` (the default), a seed community holding
    * a strict majority of nodes is burst to singletons first — local
    * moving cannot split, so a label-flooded seed (LPA on a hub graph)
    * would be a Q=0 fixpoint. Measured on manager-style entity graphs
    * (BASELINE §7b): the burst is what lets the
    * refinement reproduce sequential Louvain's partition on hub-flooded
    * seeds (Q 0.20 → 0.60, Louvain-identical entity sets at 16 rounds),
    * and it does NOT shatter well-clustered seeds — no majority
    * community exists there, so it never fires. Pass false only to
    * pin a deliberately-coarse seed you know is majority-sized.
    *
    * `sigmaBroadcastBound`: seed community count at or below which the
    * per-round σ table is broadcast (see the strategy note in-code);
    * 0 forces the shuffled-join path a burst 100 TB seed takes —
    * bench/test hook, results are identical (AlgoSpec).
    *
    * Output: (node, community).
    */
  def refineCommunities(edges: DataFrame, seed: DataFrame, rounds: Int = 16,
      moverClasses: Int = 4, burstMajoritySeed: Boolean = true,
      sigmaBroadcastBound: Long = 2000000L,
      stopOnStableCycle: Boolean = true): DataFrame = {
    require(edges.schema("src").dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      "refineCommunities needs numeric node ids (parity schedule)")
    val dir = edges.select(col("src"), col("dst"))
    val und0 = dir.unionByName(dir.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .filter(col("src") =!= col("dst"))
    // symmetric-distinct row count IS 2m; degree = out-count per src.
    // The edge table carries the SOURCE's degree so per-round candidate
    // rows need no join back to a node table for k(n).
    val deg = und0.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val (und, releaseUnd) = Checkpoints.withRelease(und0
      .join(deg.select(col("node").as("src"), col("deg").as("deg_src")), Seq("src"))
      .repartition(col("dst")))
    // one sizing job: 2m for the gain arithmetic + the min id for the
    // pmod-vs-signed-% contract check (free — it rides the same scan)
    val sized = und.agg(count(lit(1)).as("two_m"),
      min(col("src").cast("long")).as("min_id")).collect()(0)
    val twoM = sized.getLong(0)
    require(twoM == 0L || sized.getLong(1) >= 0L,
      "refineCommunities needs non-negative node ids: the mover schedule " +
        "uses pmod(node, classes), which diverges from the oracle's signed % " +
        s"for negative ids (min id seen: ${sized.getLong(1)})")

    // Giant-seed burst: local moving can JOIN communities but never
    // SPLIT one, so a seed community spanning most of the graph (LPA on
    // a hub graph floods one label everywhere) would be a fixpoint at
    // Q = 0. A seed community holding a strict majority of nodes
    // (2·size > n, exact integers) is burst back to singletons; smaller
    // coarse communities are kept — measured on the sf0.01
    // contains-graph, bursting anything below a majority LOSES quality
    // (0.24–0.26 vs 0.27; BASELINE §7), while the majority burst turns
    // the hub graph's 0.0 into the singleton-grade 0.22.
    // left join FROM the graph's node set: seed rows for non-graph nodes
    // drop out (they have no edges to move along), and graph nodes the
    // seed misses default to singletons instead of silently vanishing
    // from the output partition
    val seeded = deg
      .join(seed.select(col("node"), col("community")), Seq("node"), "left")
      .select(col("node"), coalesce(col("community"), col("node")).as("community"),
        col("deg"))
    val burst: DataFrame =
      if (!burstMajoritySeed) seeded
      else {
        val nNodes = deg.count()
        val csize = seeded.groupBy(col("community")).agg(count(lit(1)).as("sz"))
        seeded
          .join(csize, Seq("community")) // one-time; AQE broadcasts when small
          .select(col("node"),
            when(lit(2L) * col("sz") > lit(nNodes), col("node"))
              .otherwise(col("community")).as("community"),
            col("deg"))
      }
    // comm carries (node, community=cn, deg) node-partitioned; cn and
    // deg travel through the union below, so a round never re-joins it
    val comm0 = Checkpoints.checkpoint(burst.repartition(col("node")))
    // σ-join strategy, decided ONCE: local moving never creates a new
    // community label, so the seed's community count bounds σ's row
    // count for every round. Broadcast below the bound (measured 2×
    // faster per round at 1M nodes than the shuffled join AQE picks
    // once σ outgrows its 10 MB threshold); above it — a burst seed
    // starts at ~n singleton rows — the forced broadcast would OOM, so
    // take the shuffled join.
    val broadcastSigma =
      comm0.df.select(col("community")).distinct().count() <= sigmaBroadcastBound
    // checkpoint EVERY round: a round references comm three times
    // (σ, gather, stay rows), so carrying lazy lineage would
    // re-evaluate each prior round ~3× per level — the opposite of
    // LPA, whose single state reference makes sparse checkpoints a win.
    // A full residue cycle of zero-move rounds is a proven fixpoint
    // (see scaladoc): stop there.
    val comm = Checkpoints.iterate("refineCommunities", comm0, rounds,
      probes =
        if (stopOnStableCycle) Seq(coalesce(sum(col("moved")), lit(0L)).as("moved"))
        else Nil,
      stop = rs => stopOnStableCycle && rs.size > moverClasses &&
        rs.takeRight(moverClasses).forall(_.long("moved") == 0L)) { (comm, r) =>
      // σ(c): total degree of c's members — one row per community
      val sigma0 = comm.groupBy(col("community")).agg(sum(col("deg")).as("sigma"))
      val sigma = if (broadcastSigma) broadcast(sigma0) else sigma0
      // Candidate set per node = neighbor communities (w = edge count
      // into c) ∪ the marked stay row (w contributes 0): one union, ONE
      // node-keyed exchange, and the repartition satisfies
      // ClusteredDistribution for both aggregation levels — the same
      // single-exchange round layout LPA uses.
      // w = edge count into c = group rows MINUS the marked stay row
      // (exactly one per (node, cn) group, zero elsewhere) — the former
      // explicit `one` column was derivable, so the union shuffles one
      // long less per row and the aggregate keeps one fewer buffer (r15)
      val gathered = und
        .join(comm.select(col("node"), col("community")).hint("shuffle_hash"),
          und("dst") === comm("node"))
        .select(und("src").as("node"), col("community"),
          col("deg_src").as("deg"), lit(0L).as("stay"))
        .unionByName(comm.select(col("node"), col("community"),
          col("deg"), lit(1L).as("stay")))
      val cand = gathered.repartition(col("node"))
        .groupBy(col("node"), col("community"))
        .agg((count(lit(1)) - max(col("stay"))).as("w"),
          max(col("deg")).as("deg"),
          max(col("stay")).as("is_stay"))
        .join(sigma, Seq("community"))
      // gain(n→c) = 2m·w − k·σ(c); staying credits k back out of σ(cn).
      // Argmax order (gain, stay-wins-ties, smallest c) IS the move
      // rule: a move happens only on strict improvement over stay. All
      // keys are exact longs; cn rides along as max_by over the unique
      // stay marker.
      cand
        .withColumn("gain", lit(twoM) * col("w") -
          col("deg") * (col("sigma") - col("is_stay") * col("deg")))
        .groupBy(col("node"))
        .agg(
          max_by(col("community"),
            struct(col("gain"), col("is_stay"), -col("community"))).as("chosen"),
          max_by(col("community"), col("is_stay")).as("cn"),
          max(col("deg")).as("deg"))
        .select(col("node"),
          when(pmod(col("node"), lit(moverClasses)) === lit((r - 1) % moverClasses),
            col("chosen"))
            .otherwise(col("cn")).as("community"),
          col("cn"), col("deg"))
        .withColumn("moved", (col("community") =!= col("cn")).cast("long"))
        .drop("cn")
    }
    releaseUnd() // comm is a checkpoint — the edge table is free
    comm.select(col("node"), col("community"))
  }

  /** Reference-exact sequential Louvain (protocol.py:44, resolution
    * 1.0) over a bounded graph, DRIVER-side — with
    * [[betweennessBroadcast]], one of the two deliberately
    * driver-bounded algorithm paths: the caller gates it by node count
    * (MemoryConfig.communityExactMaxNodes) and the distributed
    * [[labelPropagation]] + [[refineCommunities]] pair takes over
    * above the bound. Why it exists (BASELINE §7b): the
    * synchronous residue-scheduled local moving can SWAP-OSCILLATE on
    * tiny graphs when two adjacent nodes share a residue class (the
    * 4-node memory/entity/history star a single `add` builds never
    * re-merges from a burst seed), while a sequential sweep cannot —
    * and at driver scale the sequential algorithm IS the reference's,
    * so small-tenant community lifecycles match grafeo-memory exactly.
    * Deterministic: sorted node order, strict-positive gain,
    * smallest-community tie-break, two-phase recursion to a fixpoint.
    * Output: (node, community), community = smallest member node id.
    */
  def louvainDriver(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val pairs = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    louvainSequential(pairs).toSeq.toDF("node", "community")
  }

  /** In-memory core of [[louvainDriver]] (exposed for the study tool
    * and spec replays). Weighted two-phase Louvain on the undirected
    * simple graph of `edgePairs`, unit level-0 weights.
    */
  def louvainSequential(edgePairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val level0 = edgePairs.filter(e => e._1 != e._2)
      .map(e => (e._1 min e._2, e._1 max e._2)).distinct
    if (level0.isEmpty) return Map.empty
    val m = level0.size.toDouble // total weight, level 0 unit weights
    // aggregated graph state: inter-supernode weights, self-loop weight
    // per supernode, original-node -> supernode assignment
    var adj: Map[Long, Map[Long, Double]] = {
      val sym = level0.flatMap { case (a, b) => Seq((a, b, 1.0), (b, a, 1.0)) }
      sym.groupBy(_._1).map { case (n, es) =>
        n -> es.groupBy(_._2).map { case (d, ws) => d -> ws.map(_._3).sum }
      }
    }
    var loop: Map[Long, Double] = adj.keys.map(_ -> 0.0).toMap
    var mapping: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    var improvedLevel = true
    while (improvedLevel) {
      improvedLevel = false
      // weighted degree: neighbors + the self-loop twice
      val k: Map[Long, Double] =
        adj.map { case (n, ns) => n -> (ns.values.sum + 2.0 * loop(n)) }
      val comm = scala.collection.mutable.Map[Long, Long](
        adj.keys.map(n => n -> n).toSeq: _*)
      val sigma = scala.collection.mutable.Map[Long, Double](
        adj.keys.map(n => n -> k(n)).toSeq: _*)
      val nodes = adj.keys.toSeq.sorted
      var movedInPass = true
      while (movedInPass) {
        movedInPass = false
        for (n <- nodes) {
          val cn = comm(n)
          sigma(cn) -= k(n) // take n out
          val wIn = scala.collection.mutable.Map[Long, Double]()
          adj(n).foreach { case (nb, w) =>
            val c = comm(nb); wIn(c) = wIn.getOrElse(c, 0.0) + w
          }
          // gain(n→c) ∝ w_in(c) − σ(c)·k(n)/2m; max, ties to smallest
          // community id, move only on strict improvement over home
          def gain(c: Long): Double =
            wIn.getOrElse(c, 0.0) - sigma.getOrElse(c, 0.0) * k(n) / (2.0 * m)
          val best = (wIn.keySet + cn).toSeq.sorted.maxBy(c => (gain(c), -c))
          if (best != cn && gain(best) > gain(cn) + 1e-12) {
            comm(n) = best
            sigma(best) = sigma.getOrElse(best, 0.0) + k(n)
            movedInPass = true
            improvedLevel = true
          } else sigma(cn) += k(n) // put n back
        }
      }
      if (improvedLevel) {
        // canonical supernode labels: smallest member id per community
        val label = comm.toSeq.groupBy(_._2).flatMap { case (_, ms) =>
          val mn = ms.map(_._1).min; ms.map(_._1 -> mn)
        }
        mapping = mapping.map { case (orig, sn) => orig -> label(sn) }
        // aggregate: intra edges + old self-loops fold into new loops
        val newLoop = scala.collection.mutable.Map[Long, Double]()
        val newAdj = scala.collection.mutable.Map[(Long, Long), Double]()
        adj.keys.foreach { n =>
          newLoop(label(n)) = newLoop.getOrElse(label(n), 0.0) + loop(n)
        }
        adj.foreach { case (n, ns) =>
          ns.foreach { case (d, w) =>
            val (cn, cd) = (label(n), label(d))
            if (cn == cd) {
              if (n < d) newLoop(cn) = newLoop.getOrElse(cn, 0.0) + w
            } else newAdj((cn, cd)) = newAdj.getOrElse((cn, cd), 0.0) + w
          }
        }
        adj = newAdj.toSeq.groupBy(_._1._1).map { case (n, es) =>
          n -> es.map { case ((_, d), w) => d -> w }.toMap
        }
        loop = newLoop.toMap
        (newLoop.keySet -- adj.keySet).foreach(n => adj += n -> Map.empty)
      }
    }
    mapping
  }

  /** Newman modularity of a partition over the undirected simple graph:
    * Q = Σ_c (e_c/m − (deg_c/2m)²), with e_c = intra-community edges,
    * deg_c = total degree of c's nodes, m = |edges|.
    */
  def modularity(edges: DataFrame, communities: DataFrame): DataFrame = {
    val dir = edges.select(col("src"), col("dst")).distinct()
      .filter(col("src") =!= col("dst"))
    // the canon materializes once (the final agg references it three
    // times) and m rides that job. Lifetime: the blocks back the returned
    // one-row aggregate's plan until the consumer drops it
    // (ContextCleaner); not released on purpose — the result is
    // driver-tiny and the canon is edge-table-sized, held only while the
    // caller holds the unevaluated result.
    val canon = Checkpoints.checkpoint(dir.select(
      least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct(), count(lit(1)).as("m"))
    val und = canon.df
    val m = canon.long("m").toDouble
    val lab = communities.select(col("node"), col("community"))
    val withC = und
      .join(lab.select(col("node").as("a"), col("community").as("ca")), "a")
      .join(lab.select(col("node").as("b"), col("community").as("cb")), "b")
    val intra = withC.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_c"))
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val degC = deg.join(lab, "node")
      .groupBy(col("community")).agg(sum(col("deg")).as("deg_c"))
    degC.join(intra, Seq("community"), "left")
      .select(col("community"),
        (coalesce(col("e_c"), lit(0L)).cast("double") / m -
          pow(col("deg_c").cast("double") / (2.0 * m), 2.0)).as("q_part"))
      .agg(round(sum(col("q_part")), 6).as("modularity"))
  }

  /** Canonical undirected simple edges from any directed/multi edge
    * list: self-loops dropped, endpoints ordered (a < b), duplicates
    * collapsed. One (a, b)-keyed distinct — the shuffle every triangle
    * pass below reuses.
    */
  def canonicalEdges(edges: DataFrame): DataFrame = edges
    .filter(col("src") =!= col("dst"))
    .select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b"))
    .distinct()

  /** Per-node triangle counts and local clustering coefficients over
    * an undirected simple graph (any directed/multi edge list is
    * canonicalized first).
    *
    * Algorithm: degree orientation (Chiba–Nishizeki / the MapReduce
    * triangle standard): orient every edge from the lower-(degree, id)
    * endpoint to the higher, which bounds every out-degree by
    * O(√m) regardless of skew — the star graph that breaks the naive
    * wedge join (a hub's deg² wedges) has ZERO oriented wedges at the
    * hub. Wedges = the oriented list self-joined on the wedge center
    * (out-neighbor pairs); each wedge closes iff its (v, w) endpoint
    * pair is an edge, checked with ONE canonical-key equi-join. Every
    * triangle is found exactly once (at its lowest-(degree, id)
    * corner), then exploded to its 3 corners for the per-node counts.
    *
    * Scale shape: two m-sized equi-join shuffles (wedge build, closure
    * check) + degree aggs; wedge volume is Σ outdeg² ≤ m·√m worst
    * case and far less on real degree distributions. No nested loop,
    * no per-node adjacency collection.
    *
    * Closure-check strategy (guide §3.1/§2.4): the closure join's
    * probe input is the WEDGE stream — Σ C(outdeg, 2) rows, typically
    * ≫ m (the sf0.1 co-purchase graph has 1.2 M edges but ~97 M
    * wedges) — while its build side is the m-row canonical edge list.
    * Shuffling the wedge stream to sort-merge it against m rows moves
    * (and sorts) the largest intermediate of the whole query for no
    * reason when m is broadcastable: with the edge list broadcast, the
    * wedges are generated, probed, exploded and partially aggregated
    * inside ONE codegen stage and never hit an exchange. `m` is known
    * exactly (same tiny agg that sizes the wedge stream), so the
    * choice is gated on `closureBroadcastEdges` — above it, the
    * pre-r15 shuffled path runs unchanged.
    *
    * Pressure bound for the shuffled path (VERDICT r11 #2): at the
    * session default of 32 shuffle partitions each closure task sorts
    * millions of rows; on a memory-contended host that degrades to
    * spill-heavy 3-4× cpu blow-ups (the r11 loaded-window exhibit).
    * The exact wedge count is one cheap agg over the oriented
    * out-degrees, so the closure join's partition count is sized to
    * hold per-task wedge volume at ≤ `wedgeRowsPerTask` — graceful
    * degradation under pressure for the cost of one tiny job; the
    * repartition keys are the join keys, so no extra exchange beyond
    * the one the join needed anyway.
    *
    * `closureBroadcastEdges`: edge-count bound at or below which the
    * canonical edge list is broadcast into the closure join (two longs
    * per row — the default 4M rows builds a hash relation of a couple
    * hundred MB, well under the 8 GB broadcast cap; at 100 TB the
    * edge list outgrows it and the gate falls back to the shuffled
    * join). 0 forces the shuffled path — test/bench hook, results are
    * identical (AlgoSpec).
    *
    * Output: (node, triangles, degree, lcc round6 = 2·t/(d·(d−1)),
    * 0 when degree < 2) for every node incident to an edge.
    */
  def localClustering(
      edges: DataFrame,
      wedgeRowsPerTask: Long = 2000000L,
      closureBroadcastEdges: Long = 4000000L): DataFrame = {
    val und = canonicalEdges(edges).localCheckpoint()
    val deg = und.select(col("a").as("node")).unionAll(
        und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    // orient by (degree, id): strictly increasing along every edge
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("degree").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("db")), Seq("b"))
    val oriented = withDeg.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("a"))
        .otherwise(col("b")).as("lo"),
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("b"))
        .otherwise(col("a")).as("hi"))
    // wedges centered at u: unordered out-neighbor pairs (v < w by id —
    // the closure probe key is canonical (a < b), so order the pair
    // the same way)
    // size the closure join to the wedge stream, not the session
    // default: one tiny agg gives the exact wedge count Σ C(outdeg, 2)
    val spark = edges.sparkSession
    val orientedCk = oriented.localCheckpoint() // feeds count + both wedge sides
    // one tiny agg sizes BOTH decisions: the wedge count (shuffled-path
    // partition sizing) and the edge count m = Σ outdeg (broadcast gate)
    val sized = orientedCk.groupBy(col("lo"))
      .agg(count(lit(1)).as("od"),
        max(greatest(col("lo"), col("hi"))).as("mx"),
        min(least(col("lo"), col("hi"))).as("mn"))
      .agg(
        coalesce(sum(col("od") * (col("od") - 1) / 2), lit(0)).cast("long"),
        coalesce(sum(col("od")), lit(0)).cast("long"),
        coalesce(max(col("mx")), lit(0L)),
        coalesce(min(col("mn")), lit(0L)))
      .head
    val wedgeCount = sized.getLong(0)
    val edgeCount = sized.getLong(1)
    // node ids inside [0, 2³¹): the closure join key (v, w) packs into
    // ONE long — a single-long-key broadcast hash relation probes
    // several times faster than the two-key binary map, and the packing
    // ((v << 32) | w) is bijective so the join is semantically identical
    val packableIds = sized.getLong(3) >= 0L && sized.getLong(2) < (1L << 31)
    val defaultParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val closureParts = math.min(4096L, math.max(defaultParts.toLong,
      (wedgeCount + wedgeRowsPerTask - 1) / math.max(1L, wedgeRowsPerTask))).toInt
    lastWedgeParts = closureParts
    val o1 = orientedCk.select(col("lo").as("u"), col("hi").as("v"))
    val o2 = orientedCk.select(col("lo").as("u"), col("hi").as("w"))
    val wedges = o1.join(o2, Seq("u")).filter(col("v") < col("w"))
    val tris =
      (if (packableIds) {
        // packed closure key on both paths: broadcast probes become
        // single-long lookups; the shuffled fallback moves/sorts one
        // long instead of two
        val closureK = und.select(
          (shiftleft(col("a"), 32).bitwiseOR(col("b"))).as("_vw"))
        val wedgesK = wedges
          .withColumn("_vw", shiftleft(col("v"), 32).bitwiseOR(col("w")))
        if (edgeCount <= closureBroadcastEdges)
          // broadcast closure check: the wedge stream never leaves its
          // generating stage — no exchange, no sort of ~wedgeCount rows
          wedgesK.join(broadcast(closureK), Seq("_vw"))
        else {
          val wedgesP =
            if (closureParts > defaultParts)
              wedgesK.repartition(closureParts, col("_vw"))
            else wedgesK
          wedgesP.join(closureK, Seq("_vw"))
        }
      } else {
        val closure = und.select(col("a").as("v"), col("b").as("w"))
        if (edgeCount <= closureBroadcastEdges)
          wedges.join(broadcast(closure), Seq("v", "w"))
        else {
          val wedgesP =
            if (closureParts > defaultParts)
              wedges.repartition(closureParts, col("v"), col("w"))
            else wedges
          wedgesP.join(closure, Seq("v", "w"))
        }
      }).select(col("u"), col("v"), col("w"))
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        col("degree"),
        when(col("degree") < 2, lit(0.0)).otherwise(
          round(lit(2.0) * coalesce(col("triangles"), lit(0L)).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .as("lcc"))
  }

  /** Whole-graph triangle census: total triangles, wedge (open+closed
    * path of length 2) count, and the global clustering coefficient
    * 3·triangles / wedges (round6; 0 on a wedge-free graph). One row.
    * Shares [[localClustering]]'s dataflow — the census is a sum over
    * its per-node output plus a closed-form wedge count from degrees.
    */
  def triangleStats(edges: DataFrame): DataFrame =
    triangleCensus(localClustering(edges))

  /** The census aggregation over an already-computed
    * [[localClustering]] output — split out so a cached per-node
    * result serves both faces without recomputing the wedge joins.
    */
  def triangleCensus(lc: DataFrame): DataFrame = {
    lc.agg(
        (sum(col("triangles")) / 3).cast("long").as("n_triangles"),
        sum((col("degree") * (col("degree") - 1)) / 2).cast("long")
          .as("n_wedges"))
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") === 0, lit(0.0)).otherwise(
          round(lit(3.0) * col("n_triangles").cast("double") /
            col("n_wedges").cast("double"), 6)).as("global_cc"))
  }

  /** Closure-join partition count chosen by the most recent
    * [[localClustering]] call (bench/test telemetry for the
    * wedge-volume pressure bound).
    */
  @volatile var lastWedgeParts: Int = -1

  /** Weakly connected components by alternating large-star / small-star
    * contraction (Kiveris et al. 2014, "Connected Components in
    * MapReduce and Beyond") — converges in O(log n) rounds regardless
    * of graph DIAMETER, unlike min-label flooding whose round count is
    * the diameter (a 100×-scale path graph floods for 10⁶ rounds; this
    * contracts it in ~20).
    *
    * One round = large-star (every node links its greater neighbors to
    * its neighborhood minimum) then small-star (every node re-links its
    * smaller neighbors and itself to their minimum); each half is one
    * node-keyed min aggregation + one join back to the edge list — no
    * neighbor-list collection anywhere, so a 10⁷-degree hub costs a
    * combinable min, not memory. The fixpoint test is a count+hash-sum
    * fingerprint of the edge set, probed on each round's checkpoint.
    *
    * Output: (node, component) for every node incident to an edge,
    * where component = the minimum node id in the node's component
    * (deterministic, engine-independent).
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    val und = canonicalEdges(edges)
    val nodes0 = und.select(col("a").as("node")).unionAll(
        und.select(col("b").as("node")))
      .distinct().localCheckpoint()

    def sym(e: DataFrame): DataFrame =
      e.select(col("a").as("u"), col("b").as("v")).unionAll(
        e.select(col("b").as("u"), col("a").as("v")))
    // large-star: m(u) = min(Γ(u) ∪ {u}); emit (m, v) for v ∈ Γ(u), v > u
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val m = s.groupBy(col("u")).agg(min(col("v")).as("_mv"))
        .select(col("u"), least(col("_mv"), col("u")).as("m"))
      s.filter(col("v") > col("u")).join(m, Seq("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .filter(col("a") =!= col("b")).distinct()
    }
    // small-star: over strictly-smaller neighbors Γ<(u), m = min;
    // emit (m, v) for v ∈ Γ<(u) and (m, u)
    def smallStar(e: DataFrame): DataFrame = {
      val s = sym(e).filter(col("v") < col("u"))
      val m = s.groupBy(col("u")).agg(min(col("v")).as("m"))
      s.join(m, Seq("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .unionAll(m.select(col("m").as("a"), col("u").as("b")))
        .filter(col("a") =!= col("b")).distinct()
    }
    // hash-sum in decimal(38,0): order-free and overflow-free (the long
    // sum would trip ANSI overflow on a handful of rows)
    val fingerprint = Seq(count(lit(1)).as("n"),
      sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)")).as("h"))
    // each round materializes: a large/small-star plan references its
    // input ~a dozen times, so lazily chained rounds would re-execute
    // the unmaterialized intermediate combinatorially (BASELINE §22
    // wave-fusion note)
    val cur = Checkpoints.iterate("connectedComponents",
        Checkpoints.checkpoint(und, fingerprint: _*), maxRounds, probes = fingerprint,
        stop = rs =>
          if (rs.size == 1) rs.head.long("n") == 0L
          else rs.last.probes == rs(rs.size - 2).probes) { (cur, _) =>
      smallStar(largeStar(cur))
    }
    // fixpoint edge set is a star per component: (min, other). Components
    // = star membership; nodes absent from the stars map to themselves
    // (they ARE their component's minimum).
    val stars = cur.select(col("b").as("node"), col("a").as("component"))
    nodes0.join(stars, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("component"), col("node")).as("component"))
  }

  /** The k-core: the maximal subgraph in which every node has degree
    * >= k, by iterative peeling (each round drops all nodes whose
    * degree within the surviving subgraph is < k, until a round drops
    * nothing). The peeling order is irrelevant to the result — the
    * k-core is unique — so the synchronous all-at-once round is both
    * the deterministic and the distributed-friendly formulation.
    *
    * Scale shape: each round is one node-keyed degree aggregation
    * (map-side combinable) + two anti-joins of the edge list against
    * the dropped-node set (AQE broadcasts it when small), materialized
    * as one checkpoint whose edge count is the fixpoint probe: a round
    * that keeps every edge dropped no node. Round COUNT is the
    * peeling depth of the graph plus that last round (typically O(10)
    * on real degree distributions; bounded by `maxRounds`).
    *
    * Output: (node, core_degree) for the k-core's nodes, where
    * core_degree is the node's degree WITHIN the core.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 100): DataFrame = {
    require(k >= 1, "k must be >= 1")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))

    // one checkpoint per round: fusing peel rounds into one lazy action
    // measured slower (BASELINE §22 wave-fusion note)
    val edgeCount = count(lit(1)).as("n")
    val core = Checkpoints.iterate("kCore",
        Checkpoints.checkpoint(canonicalEdges(edges), edgeCount), maxRounds,
        probes = Seq(edgeCount),
        stop = rs => rs.last.long("n") == 0L ||
          (rs.size > 1 && rs.last.long("n") == rs(rs.size - 2).long("n"))) { (cur, _) =>
      val bad = degrees(cur).filter(col("degree") < k).select(col("node"))
      cur.join(bad.select(col("node").as("a")), Seq("a"), "left_anti")
        .join(bad.select(col("node").as("b")), Seq("b"), "left_anti")
        .select(col("a"), col("b"))
    }
    degrees(core)
  }

  /** Harmonic centrality from a root set: H(v) = Σ_{r ∈ roots, r ≠ v}
    * 1 / d(r, v) over an undirected graph (unreachable pairs contribute
    * 0 — harmonic is the closeness variant that is well-defined on
    * disconnected graphs, which is why it's the one worth shipping).
    * At scale the root set is a sample and the caller scales by
    * |V|/|roots| (the Brandes–Pich treatment betweenness already uses).
    *
    * Dataflow: level-synchronous multi-root BFS ([[Checkpoints.waves]])
    * over (root, node, dist) frontiers — all |roots| traversals advance
    * in the same wave: per depth, one frontier×edges equi-join, one
    * anti-join against the seen set, one (root, node) min-agg. Depth
    * count = graph eccentricity bound (`maxDepth` caps it). No per-root
    * loop, no adjacency collection.
    *
    * Output: (node, harmonic round6) for every node incident to an
    * edge, ordered by nothing (callers sort).
    */
  def harmonicCentrality(
      edges: DataFrame,
      roots: Seq[Long],
      maxDepth: Int = 30): DataFrame = {
    require(roots.nonEmpty, "roots must be non-empty")
    val spark = edges.sparkSession
    import spark.implicits._
    val und = canonicalEdges(edges)
    val (sym, releaseSym) = Checkpoints.withRelease(
      und.select(col("a").as("u"), col("b").as("v")).unionAll(
        und.select(col("b").as("u"), col("a").as("v")))
        .repartition(col("u")))
    // checkpointed separately: the returned plan reads `nodes` AFTER
    // sym's blocks are released (same discipline as pageRank's statics)
    val nodes = sym.select(col("u").as("node")).distinct().localCheckpoint()
    val seed = roots.toDF("root")
      .join(nodes.select(col("node").as("root")), Seq("root"))
      .select(col("root"), col("root").as("node"), lit(0L).as("dist"))
    val dist = Checkpoints.waves(seed, Seq("root", "node"), maxDepth) { (frontier, seen, _) =>
      frontier.join(sym, frontier("node") === sym("u"))
        .select(col("root"), col("v").as("node"),
          (col("dist") + 1L).as("dist"))
        .join(seen, Seq("root", "node"), "left_anti")
        .groupBy(col("root"), col("node"))
        .agg(min(col("dist")).as("dist"))
    }.reduce(_ unionByName _)
    val out = nodes
      .join(dist.filter(col("dist") > 0L)
          .groupBy(col("node"))
          .agg(sum(lit(1.0) / col("dist").cast("double")).as("_h")),
        Seq("node"), "left")
      .select(col("node"),
        round(coalesce(col("_h"), lit(0.0)), 6).as("harmonic"))
    releaseSym()
    out
  }

  /** Link prediction over an undirected graph: for every NON-adjacent
    * two-hop pair, the three classic neighborhood-overlap scores —
    * common-neighbor count, Adamic–Adar (Σ 1/ln(deg(center)) over the
    * shared neighbors, down-weighting promiscuous centers), and Jaccard
    * (|Γ(v)∩Γ(w)| / |Γ(v)∪Γ(w)|) — top `topK` by (Adamic–Adar desc,
    * pair asc).
    *
    * Scale shape: the triangle machinery's wedge join (one self-join on
    * the center) generates candidates, minus one anti-join against the
    * edge set to keep non-adjacent pairs only. Unlike triangle counting
    * the wedge CANNOT be degree-oriented away (both sides of every
    * candidate pair are needed), so a hub's deg² candidate fan-out is
    * real — `maxCenterDegree` caps it, the standard mitigation: a
    * 10⁶-degree center contributes 1/ln(10⁶) ≈ 0.07 per pair to scores
    * whose signal terms are ≥ 1/ln(maxDeg), and its pairs are the
    * least-informative ones, so capping changes rankings negligibly
    * while removing the quadratic term (0 = no cap). Scores round to 6
    * decimals so float-sum ordering is engine-stable.
    *
    * Output: (node_a, node_b, common_neighbors, adamic_adar, jaccard),
    * node_a < node_b, ordered (adamic_adar desc, node_a, node_b),
    * `topK` rows.
    */
  def linkPrediction(
      edges: DataFrame,
      topK: Int,
      maxCenterDegree: Int = 0): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val und = canonicalEdges(edges).localCheckpoint()
    val deg = und.select(col("a").as("node")).unionAll(
        und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .localCheckpoint()
    val centers =
      if (maxCenterDegree > 0) deg.filter(col("degree") <= maxCenterDegree)
      else deg
    // wedges v—u—w (v < w) through each eligible center u, carrying the
    // center's degree for the Adamic–Adar term
    val s = und.select(col("a").as("u"), col("b").as("v")).unionAll(
        und.select(col("b").as("u"), col("a").as("v")))
      .join(centers.select(col("node").as("u"), col("degree").as("du")),
        Seq("u"))
    val wedges = s.join(s.select(col("u"), col("v").as("w")), Seq("u"))
      .filter(col("v") < col("w"))
    val cand = wedges.join(
      und.select(col("a").as("v"), col("b").as("w")),
      Seq("v", "w"), "left_anti")
    val scored = cand.groupBy(col("v"), col("w"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(lit(1.0) / log(col("du").cast("double"))).as("_aa"))
    scored
      .join(deg.select(col("node").as("v"), col("degree").as("dv")), Seq("v"))
      .join(deg.select(col("node").as("w"), col("degree").as("dw")), Seq("w"))
      .select(col("v").as("node_a"), col("w").as("node_b"),
        col("common_neighbors"),
        round(col("_aa"), 6).as("adamic_adar"),
        round(col("common_neighbors").cast("double") /
          (col("dv") + col("dw") - col("common_neighbors")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("adamic_adar").desc, col("node_a"), col("node_b"))
      .limit(topK)
  }
}
