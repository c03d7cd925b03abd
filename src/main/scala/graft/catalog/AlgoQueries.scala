package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{GraphAlgorithms, ScoringOps}
import Tables._

/** Whole-graph algorithm queries (G1-G3 + R3; SURVEY §2.8): PageRank
  * with a recursive-CTE oracle, exact Brandes betweenness checked
  * closed-form on chain graphs, deterministic label-propagation
  * communities + modularity, and the cross-session boost composition.
  */
object AlgoQueries {

  private val PrIters = 20
  private val Damping = 0.85
  // q_ppr teleport set: the first five order nodes of the contains
  // graph (present at every sf — orderkeys 1..5 all ship line items)
  private val PprSources = Seq(1L, 2L, 3L, 4L, 5L)
  private val LpaRounds = 5
  private val RefineRounds = 16
  private val RefineClasses = 4

  /** order→part "contains" edges (the dense graph). */
  private def containsEdges(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))

  /** Cached whole-graph metrics, computed once per sf dir — the
    * cached-metrics pattern (manager.py:1596-1598): q_pagerank /
    * q_score_crosssession share one PageRank run, q_betweenness /
    * q_score_crosssession one Brandes run, q_communities / q_modularity
    * one LPA run. Each memo registers a clearer so the bench can make
    * min-of-2 build-inclusive for the query that paid the build.
    */
  private def registerClear(memo: String,
      map: scala.collection.mutable.Map[String, DataFrame],
      keySuffix: String = ""): Unit =
    graft.trace.MemoLog.registerClearer(memo, () => map.synchronized {
      val doomed = map.keys.filter(_.endsWith(keySuffix)).toSeq
      doomed.foreach { k =>
        graft.ops.Checkpoints.release(map(k)); map.remove(k)
      }
    })

  private val prMemo = scala.collection.mutable.Map[String, DataFrame]()
  registerClear("pagerank", prMemo)
  private def pagerankOf(s: SparkSession, dir: String): DataFrame =
    prMemo.synchronized {
      prMemo.getOrElseUpdate(s.sparkContext.applicationId + dir, {
        graft.trace.MemoLog.record("pagerank")
        graft.ops.Checkpoints.unlessLocal(
          GraphAlgorithms.pageRank(containsEdges(s, dir), PrIters, Damping))
      })
    }

  private val bcMemo = scala.collection.mutable.Map[String, DataFrame]()
  registerClear("betweenness", bcMemo)
  private def chainBetweennessOf(s: SparkSession, dir: String): DataFrame =
    bcMemo.synchronized {
      bcMemo.getOrElseUpdate(s.sparkContext.applicationId + dir, {
        graft.trace.MemoLog.record("betweenness")
        GraphAlgorithms.betweenness(chainEdges(s, dir)).localCheckpoint()
      })
    }

  private val lpaMemo = scala.collection.mutable.Map[String, DataFrame]()
  registerClear("lpa", lpaMemo)
  private def communitiesOf(s: SparkSession, dir: String): DataFrame =
    lpaMemo.synchronized {
      lpaMemo.getOrElseUpdate(s.sparkContext.applicationId + dir, {
        graft.trace.MemoLog.record("lpa")
        GraphAlgorithms.labelPropagation(containsEdges(s, dir), LpaRounds)
          .localCheckpoint()
      })
    }

  private val refineMemo = scala.collection.mutable.Map[String, DataFrame]()
  registerClear("refine", refineMemo)
  private def refinedOf(s: SparkSession, dir: String): DataFrame =
    refineMemo.synchronized {
      refineMemo.getOrElseUpdate(s.sparkContext.applicationId + dir, {
        graft.trace.MemoLog.record("refine")
        GraphAlgorithms.refineCommunities(containsEdges(s, dir),
          communitiesOf(s, dir), RefineRounds, RefineClasses)
          .localCheckpoint()
      })
    }

  // modularity is a whole-graph scan per evaluation (~2 s at sf0.1), so
  // its one-row result joins the cached-metrics pattern too, keyed by
  // which partition it scores
  private val modMemo = scala.collection.mutable.Map[String, DataFrame]()
  registerClear("modularity_lpa", modMemo, keySuffix = "lpa")
  registerClear("modularity_refined", modMemo, keySuffix = "refined")
  private def modularityOf(s: SparkSession, dir: String, which: String,
      part: (SparkSession, String) => DataFrame): DataFrame =
    modMemo.synchronized {
      modMemo.getOrElseUpdate(s.sparkContext.applicationId + dir + which, {
        graft.trace.MemoLog.record(s"modularity_$which")
        GraphAlgorithms.modularity(containsEdges(s, dir), part(s, dir))
          .localCheckpoint()
      })
    }

  /** Part co-purchase edges: parts sharing an order. The self-join is
    * order-keyed with pair fan-out bounded by lineitems-per-order
    * (≤7), so the edge build is one equi-join, never a cartesian;
    * [[GraphAlgorithms.canonicalEdges]] dedups downstream. `everyNth`
    * keeps only orders with orderkey % n == 0 — the sparsifier the
    * component/core/link-prediction queries use to get a graph with
    * real structure (many components, a peelable degree distribution)
    * instead of the dense near-clique the full graph is.
    */
  private def coPurchaseEdges(s: SparkSession, dir: String,
      everyNth: Long = 1L): DataFrame = {
    val li = load(s, dir, "lineitem")
      .filter(col("l_orderkey") % everyNth === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("src"), col("y.pk").as("dst"))
  }

  // the DuckDB mirror of the sparsified co-purchase edge build
  private def coPurchaseSql(everyNth: Long): String =
    s"""SELECT DISTINCT least(l1.l_partkey, l2.l_partkey) AS a,
       |    greatest(l1.l_partkey, l2.l_partkey) AS b
       |  FROM lineitem l1 JOIN lineitem l2
       |    ON l1.l_orderkey = l2.l_orderkey
       |   AND l1.l_partkey <> l2.l_partkey
       |  WHERE l1.l_orderkey % $everyNth = 0""".stripMargin

  // q_clustering / q_triangles share one wedge-join run (the
  // cached-metrics pattern): the census is an agg over the per-node
  // output, so the second query costs one tiny scan
  private val triMemo = scala.collection.mutable.Map[String, DataFrame]()
  registerClear("triangles", triMemo)
  private def clusteringOf(s: SparkSession, dir: String): DataFrame =
    triMemo.synchronized {
      triMemo.getOrElseUpdate(s.sparkContext.applicationId + dir, {
        graft.trace.MemoLog.record("triangles")
        GraphAlgorithms.localClustering(coPurchaseEdges(s, dir))
          .localCheckpoint()
      })
    }

  /** per-customer next-order chain edges for custkey < 30 (the graph
    * whose betweenness is closed-form: position·(len−pos) on a chain).
    */
  private def chainEdges(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    load(s, dir, "orders")
      .filter(col("o_custkey") < 30)
      .withColumn("nxt", lead(col("o_orderkey"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("o_orderkey").as("src"), col("nxt").as("dst"))
  }

  /** Bench-only: force the distributed-wave Brandes path (the one a
    * >500k-edge graph takes) on the same chain graph the broadcast path
    * is oracle-verified on. AlgoSpec asserts waves == broadcast; this
    * entry exists so the wave path has a recorded number at bench scale.
    */
  def betweennessWavesBench(s: SparkSession, dir: String): DataFrame =
    GraphAlgorithms.betweenness(chainEdges(s, dir), broadcastEdgeLimit = 0L)
      .select(col("node"), round(col("betweenness"), 6).as("betweenness"))
      .orderBy(col("node"))

  /** Bench-only: force the refinement's SHUFFLED-σ join (the path a
    * >2M-community burst seed takes at 100 TB) on the same graph+seed
    * the broadcast path is oracle-verified on. AlgoSpec asserts the two
    * paths agree; this entry records the shuffled path's cost. Runs
    * fresh each pass (no memo) — the row IS the build.
    */
  def refinedShuffledSigmaBench(s: SparkSession, dir: String): DataFrame =
    GraphAlgorithms.refineCommunities(containsEdges(s, dir),
      communitiesOf(s, dir), RefineRounds, RefineClasses,
      sigmaBroadcastBound = 0L)
      .orderBy(col("node"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pagerank" -> { (s, dir) =>
      pagerankOf(s, dir)
        .select(col("node"), round(col("pagerank"), 6).as("pagerank"))
        .orderBy(col("node"))
    },
    "q_ppr" -> { (s, dir) =>
      // personalized PageRank from a 5-order seed set over the contains
      // graph: proximity-to-sources, not global importance
      GraphAlgorithms.personalizedPageRank(containsEdges(s, dir),
          PprSources, PrIters, Damping)
        .select(col("node"), round(col("ppr"), 6).as("ppr"))
        .orderBy(col("node"))
    },
    "q_betweenness" -> { (s, dir) =>
      chainBetweennessOf(s, dir)
        .select(col("node"), round(col("betweenness"), 6).as("betweenness"))
        .orderBy(col("node"))
    },
    "q_communities" -> { (s, dir) =>
      communitiesOf(s, dir).orderBy(col("node"))
    },
    "q_modularity" -> { (s, dir) =>
      modularityOf(s, dir, "lpa", communitiesOf)
    },
    "q_communities_refined" -> { (s, dir) =>
      refinedOf(s, dir).orderBy(col("node"))
    },
    "q_modularity_refined" -> { (s, dir) =>
      modularityOf(s, dir, "refined", refinedOf)
    },
    "q_clustering" -> { (s, dir) =>
      // per-node triangle counts + local clustering coefficient over
      // the part co-purchase graph (degree-oriented wedge join)
      clusteringOf(s, dir)
        .select(col("node"), col("triangles"), col("degree"), col("lcc"))
        .orderBy(col("node"))
    },
    "q_triangles" -> { (s, dir) =>
      // whole-graph census: triangles, wedges, global clustering
      // coefficient — an agg over the memoized per-node run
      GraphAlgorithms.triangleCensus(clusteringOf(s, dir))
    },
    "q_components" -> { (s, dir) =>
      // weakly connected components of the sparsified (every-100th-
      // order) co-purchase graph via alternating large-star/small-star
      // contraction; component label = min node id (engine-independent)
      GraphAlgorithms.connectedComponents(coPurchaseEdges(s, dir, 100L))
        .orderBy(col("node"))
    },
    "q_kcore" -> { (s, dir) =>
      // 6-core of the every-20th-order co-purchase graph (10 peel
      // rounds at sf0.01): nodes of the maximal subgraph with min
      // degree >= 6, with their in-core degrees
      GraphAlgorithms.kCore(coPurchaseEdges(s, dir, 20L), k = 6)
        .orderBy(col("node"))
    },
    "q_harmonic" -> { (s, dir) =>
      // harmonic centrality from an 8-root deterministic HASH sample of
      // the sparse co-purchase graph (the Brandes-Pich treatment;
      // full-V roots is just the degenerate sample): roots are the 8
      // lowest-md5 node ids — a uniform pseudo-random draw with no
      // ingest-order bias, replayed exactly by the oracle's
      // md5(node::VARCHAR) ordering. Multi-root level-synchronous BFS,
      // one wave per depth.
      val e = coPurchaseEdges(s, dir, 100L)
      val und = GraphAlgorithms.canonicalEdges(e)
      val roots = und.select(col("a").as("node"))
        .unionAll(und.select(col("b").as("node")))
        .distinct()
        .orderBy(md5(col("node").cast("string")).asc, col("node").asc)
        .limit(8)
        .collect().map(_.getAs[Number](0).longValue).toSeq
      GraphAlgorithms.harmonicCentrality(e, roots)
        .orderBy(col("node"))
    },
    "q_betweenness_sampled" -> { (s, dir) =>
      // the Brandes-Pich pivot path gated end-to-end: md5-ordered
      // 16-root draw (GraphOps.samplePivots — the exact sampler the
      // write path's metric refresh uses above betweennessExactMaxNodes),
      // sampled Brandes, |V|/|S| scale-up. The oracle replays the draw
      // (same md5 ordering) and the chain closed form: from a root at
      // position i, node at position j>i carries dependency (len-j).
      val e = chainEdges(s, dir)
      val nodes = e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct()
      val roots = graft.ops.GraphOps.samplePivots(nodes, 16)
      val n = nodes.count()
      val k = math.max(1L, roots.count())
      GraphAlgorithms.betweenness(e, Some(roots), knownCounts = Some((n, n)))
        .select(col("node"),
          round(col("betweenness") * lit(n.toDouble / k.toDouble), 6)
            .as("betweenness"))
        .orderBy(col("node"))
    },
    "q_link_prediction" -> { (s, dir) =>
      // top-50 predicted links on the sparse co-purchase graph:
      // common-neighbor / Adamic-Adar / Jaccard over non-adjacent
      // two-hop pairs (wedge join + anti-join, no cap needed at this
      // density)
      GraphAlgorithms.linkPrediction(coPurchaseEdges(s, dir, 100L),
        topK = 50)
    },
    "q_score_crosssession" -> { (s, dir) =>
      // R3 — cross-session boost from cached metric columns: pagerank of
      // the contains graph + betweenness of the chain graph
      val ord = load(s, dir, "orders")
      val pr = pagerankOf(s, dir)
        .select(col("node").as("o_orderkey"), col("pagerank"))
      val bc = chainBetweennessOf(s, dir)
        .select(col("node").as("o_orderkey"), col("betweenness"))
      ord.join(pr, Seq("o_orderkey"), "left")
        .join(bc, Seq("o_orderkey"), "left")
        .select(col("o_orderkey"),
          round(ScoringOps.crossSessionBoost(col("o_totalprice") / 500000.0,
            col("pagerank"), col("betweenness"), factor = 0.3), 6).as("boosted"))
        .orderBy(col("o_orderkey"))
    }
  )

  def oracle: Map[String, String] = {
    // interpolate the exact Scala doubles so both engines use identical
    // constants (1.0 - 0.85 differs from the literal 0.15 by one ulp)
    val reset = (1.0 - Damping).toString
    val damp = Damping.toString

    // PPR mirror: identical recursion with the teleport mass on the
    // seed set; reset value 1/|S| interpolated as the exact double
    val pprReset = (1.0 / PprSources.size).toString
    val pprSet = PprSources.mkString(", ")
    val ppr =
      s"""WITH RECURSIVE
         |e AS (SELECT DISTINCT l_orderkey AS src, l_partkey AS dst FROM lineitem),
         |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
         |od AS (SELECT src, count(*)::DOUBLE AS odeg FROM e GROUP BY src),
         |pr AS (
         |  SELECT node, CASE WHEN node IN ($pprSet) THEN CAST($pprReset AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS rank, 0 AS it FROM nodes
         |  UNION ALL
         |  SELECT n.node, $reset * (CASE WHEN n.node IN ($pprSet) THEN CAST($pprReset AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) + $damp * coalesce(cs.s, 0.0) AS rank, curit.it + 1 AS it
         |  FROM nodes n
         |  LEFT JOIN (SELECT e.dst AS node, sum(pr.rank / od.odeg) AS s
         |             FROM pr JOIN e ON pr.node = e.src JOIN od ON od.src = e.src
         |             GROUP BY e.dst) cs ON n.node = cs.node
         |  CROSS JOIN (SELECT max(it) AS it FROM pr) curit
         |  WHERE curit.it < $PrIters)
         |SELECT node, round(rank, 6) AS ppr FROM pr WHERE it = $PrIters
         |ORDER BY node""".stripMargin

    val pagerank =
      s"""WITH RECURSIVE
         |e AS (SELECT DISTINCT l_orderkey AS src, l_partkey AS dst FROM lineitem),
         |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
         |od AS (SELECT src, count(*)::DOUBLE AS odeg FROM e GROUP BY src),
         |pr AS (
         |  SELECT node, CAST(1.0 AS DOUBLE) AS rank, 0 AS it FROM nodes
         |  UNION ALL
         |  SELECT n.node, $reset + $damp * coalesce(cs.s, 0.0) AS rank, curit.it + 1 AS it
         |  FROM nodes n
         |  LEFT JOIN (SELECT e.dst AS node, sum(pr.rank / od.odeg) AS s
         |             FROM pr JOIN e ON pr.node = e.src JOIN od ON od.src = e.src
         |             GROUP BY e.dst) cs ON n.node = cs.node
         |  CROSS JOIN (SELECT max(it) AS it FROM pr) curit
         |  WHERE curit.it < $PrIters)
         |SELECT node, round(rank, 6) AS pagerank FROM pr WHERE it = $PrIters
         |ORDER BY node""".stripMargin

    val chainCte =
      """o AS (SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS pos,
        |    count(*) OVER (PARTITION BY o_custkey) AS len
        |  FROM orders WHERE o_custkey < 30),
        |chain AS (SELECT * FROM o WHERE len >= 2),
        |nn AS (SELECT count(*) AS n FROM chain)""".stripMargin

    val betweenness =
      s"""WITH $chainCte
         |SELECT c.o_orderkey AS node,
         |  round(((c.pos - 1) * (c.len - c.pos))::DOUBLE / ((nn.n - 1) * (nn.n - 2)), 6) AS betweenness
         |FROM chain c CROSS JOIN nn ORDER BY node""".stripMargin

    // sampled-pivot mirror: the same md5-ordered 16-root draw the Spark
    // side takes (samplePivots), then the chain closed form per root —
    // a root at position i contributes (len - j) to every same-chain
    // node at position j > i — normalized by (n-1)(n-2) and scaled by
    // n/|roots| (Brandes-Pich)
    val betweennessSampled =
      s"""WITH $chainCte,
         |roots AS (SELECT o_custkey, pos FROM chain
         |  ORDER BY md5(o_orderkey::VARCHAR), o_orderkey LIMIT 16),
         |kk AS (SELECT count(*) AS k FROM roots)
         |SELECT c.o_orderkey AS node,
         |  round(coalesce(sum(CASE WHEN r.pos < c.pos THEN c.len - c.pos END), 0)::DOUBLE
         |    / ((nn.n - 1) * (nn.n - 2)) * (nn.n::DOUBLE / kk.k), 6) AS betweenness
         |FROM chain c CROSS JOIN nn CROSS JOIN kk
         |LEFT JOIN roots r ON r.o_custkey = c.o_custkey
         |GROUP BY c.o_orderkey, c.pos, c.len, nn.n, kk.k
         |ORDER BY node""".stripMargin

    val lpa =
      s"""WITH RECURSIVE
         |dir AS (SELECT DISTINCT l_orderkey AS src, l_partkey AS dst FROM lineitem),
         |und AS (SELECT src, dst FROM (
         |  SELECT src, dst FROM dir UNION SELECT dst AS src, src AS dst FROM dir)
         |  WHERE src <> dst),
         |lp AS (
         |  SELECT src AS node, src AS label, 0 AS it FROM (SELECT DISTINCT src FROM und)
         |  UNION ALL
         |  SELECT node, label, it FROM (
         |    SELECT u.src AS node, lp.label AS label, max(lp.it) + 1 AS it,
         |      row_number() OVER (PARTITION BY u.src ORDER BY count(*) DESC, lp.label ASC) AS rn
         |    FROM und u JOIN lp ON u.dst = lp.node
         |    GROUP BY u.src, lp.label)
         |  WHERE rn = 1 AND it <= $LpaRounds)
         |SELECT node, label AS community FROM lp WHERE it = $LpaRounds
         |ORDER BY node""".stripMargin

    val modularity =
      s"""WITH RECURSIVE
         |dir AS (SELECT DISTINCT l_orderkey AS src, l_partkey AS dst FROM lineitem),
         |und0 AS (SELECT src, dst FROM (
         |  SELECT src, dst FROM dir UNION SELECT dst AS src, src AS dst FROM dir)
         |  WHERE src <> dst),
         |lp AS (
         |  SELECT src AS node, src AS label, 0 AS it FROM (SELECT DISTINCT src FROM und0)
         |  UNION ALL
         |  SELECT node, label, it FROM (
         |    SELECT u.src AS node, lp.label AS label, max(lp.it) + 1 AS it,
         |      row_number() OVER (PARTITION BY u.src ORDER BY count(*) DESC, lp.label ASC) AS rn
         |    FROM und0 u JOIN lp ON u.dst = lp.node
         |    GROUP BY u.src, lp.label)
         |  WHERE rn = 1 AND it <= $LpaRounds),
         |communities AS (SELECT node, label AS community FROM lp WHERE it = $LpaRounds),
         |und AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM dir WHERE src <> dst GROUP BY 1, 2),
         |m AS (SELECT count(*)::DOUBLE AS m FROM und),
         |withc AS (SELECT u.a, u.b, ca.community AS ca, cb.community AS cb
         |  FROM und u JOIN communities ca ON u.a = ca.node
         |  JOIN communities cb ON u.b = cb.node),
         |intra AS (SELECT ca AS community, count(*)::BIGINT AS e_c
         |  FROM withc WHERE ca = cb GROUP BY ca),
         |deg AS (SELECT node, count(*)::BIGINT AS deg FROM (
         |  SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und) GROUP BY node),
         |degc AS (SELECT c.community, sum(d.deg)::BIGINT AS deg_c
         |  FROM deg d JOIN communities c ON d.node = c.node GROUP BY c.community)
         |SELECT round(sum(coalesce(i.e_c, 0)::DOUBLE / m.m
         |  - pow(dc.deg_c::DOUBLE / (2.0 * m.m), 2.0)), 6) AS modularity
         |FROM degc dc LEFT JOIN intra i ON dc.community = i.community CROSS JOIN m""".stripMargin

    // Refinement oracle: the residue-scheduled local-moving rounds are a
    // FIXED small count, so they unroll to chained CTE blocks (one
    // sigma/wto/stay/mv/comm block per round) instead of a recursive CTE
    // — the per-round state needs two references to the previous
    // partition (the σ aggregate and the neighbor gather), which SQL
    // recursion can't express. All gain arithmetic is BIGINT (counts ×
    // counts), so DuckDB and Spark order candidates identically.
    val refineCtes = {
      val header =
        s"""WITH RECURSIVE
           |dir AS MATERIALIZED (SELECT DISTINCT l_orderkey AS src, l_partkey AS dst FROM lineitem),
           |und AS MATERIALIZED (SELECT src, dst FROM (
           |  SELECT src, dst FROM dir UNION SELECT dst AS src, src AS dst FROM dir)
           |  WHERE src <> dst),
           |lp AS (
           |  SELECT src AS node, src AS label, 0 AS it FROM (SELECT DISTINCT src FROM und)
           |  UNION ALL
           |  SELECT node, label, it FROM (
           |    SELECT u.src AS node, lp.label AS label, max(lp.it) + 1 AS it,
           |      row_number() OVER (PARTITION BY u.src ORDER BY count(*) DESC, lp.label ASC) AS rn
           |    FROM und u JOIN lp ON u.dst = lp.node
           |    GROUP BY u.src, lp.label)
           |  WHERE rn = 1 AND it <= $LpaRounds),
           |comm0raw AS MATERIALIZED (SELECT node, label AS community FROM lp WHERE it = $LpaRounds),
           |deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM und GROUP BY 1),
           |tm AS MATERIALIZED (SELECT count(*) AS two_m FROM und),
           |nn AS MATERIALIZED (SELECT count(*) AS n FROM deg),
           |csz AS MATERIALIZED (SELECT community, count(*) AS sz FROM comm0raw GROUP BY 1),
           |comm0 AS MATERIALIZED (SELECT c.node,
           |    CASE WHEN 2 * s.sz > nn.n THEN c.node ELSE c.community END AS community
           |  FROM comm0raw c JOIN csz s ON s.community = c.community CROSS JOIN nn)""".stripMargin
      val roundBlocks = (1 to RefineRounds).map { r =>
        val p = (r - 1) % RefineClasses
        s"""sig$r AS MATERIALIZED (SELECT c.community, sum(d.deg) AS sigma
           |  FROM comm${r - 1} c JOIN deg d ON c.node = d.node GROUP BY 1),
           |wto$r AS MATERIALIZED (SELECT u.src AS node, c.community, count(*) AS w
           |  FROM und u JOIN comm${r - 1} c ON u.dst = c.node GROUP BY 1, 2),
           |stay$r AS MATERIALIZED (SELECT c.node, c.community AS cn, d.deg,
           |    tm.two_m * coalesce(w.w, 0) - d.deg * (s.sigma - d.deg) AS g_stay
           |  FROM comm${r - 1} c JOIN deg d ON c.node = d.node
           |  JOIN sig$r s ON s.community = c.community CROSS JOIN tm
           |  LEFT JOIN wto$r w ON w.node = c.node AND w.community = c.community),
           |mv$r AS MATERIALIZED (SELECT w.node, w.community, tm.two_m * w.w - st.deg * s.sigma AS gain,
           |    row_number() OVER (PARTITION BY w.node
           |      ORDER BY tm.two_m * w.w - st.deg * s.sigma DESC, w.community ASC) AS rn
           |  FROM wto$r w JOIN sig$r s ON s.community = w.community
           |  JOIN stay$r st ON st.node = w.node CROSS JOIN tm
           |  WHERE w.community <> st.cn),
           |comm$r AS MATERIALIZED (SELECT st.node,
           |    CASE WHEN st.node % $RefineClasses = $p AND m.gain > st.g_stay
           |      THEN m.community ELSE st.cn END AS community
           |  FROM stay$r st
           |  LEFT JOIN (SELECT node, community, gain FROM mv$r WHERE rn = 1) m
           |    ON m.node = st.node)""".stripMargin
      }.mkString(",\n", ",\n", "")
      header + roundBlocks
    }

    val communitiesRefined =
      s"""$refineCtes
         |SELECT node, community FROM comm$RefineRounds ORDER BY node""".stripMargin

    val modularityRefined =
      s"""$refineCtes,
         |undm AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
         |         FROM dir WHERE src <> dst GROUP BY 1, 2),
         |mm AS (SELECT count(*)::DOUBLE AS m FROM undm),
         |withc AS (SELECT u.a, u.b, ca.community AS ca, cb.community AS cb
         |  FROM undm u JOIN comm$RefineRounds ca ON u.a = ca.node
         |  JOIN comm$RefineRounds cb ON u.b = cb.node),
         |intra AS (SELECT ca AS community, count(*)::BIGINT AS e_c
         |  FROM withc WHERE ca = cb GROUP BY ca),
         |degm AS (SELECT node, count(*)::BIGINT AS deg FROM (
         |  SELECT a AS node FROM undm UNION ALL SELECT b AS node FROM undm) GROUP BY node),
         |degc AS (SELECT c.community, sum(d.deg)::BIGINT AS deg_c
         |  FROM degm d JOIN comm$RefineRounds c ON d.node = c.node GROUP BY c.community)
         |SELECT round(sum(coalesce(i.e_c, 0)::DOUBLE / mm.m
         |  - pow(dc.deg_c::DOUBLE / (2.0 * mm.m), 2.0)), 6) AS modularity
         |FROM degc dc LEFT JOIN intra i ON dc.community = i.community CROSS JOIN mm""".stripMargin

    val crossSession =
      s"""WITH RECURSIVE
         |e AS (SELECT DISTINCT l_orderkey AS src, l_partkey AS dst FROM lineitem),
         |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
         |od AS (SELECT src, count(*)::DOUBLE AS odeg FROM e GROUP BY src),
         |pr AS (
         |  SELECT node, CAST(1.0 AS DOUBLE) AS rank, 0 AS it FROM nodes
         |  UNION ALL
         |  SELECT n.node, $reset + $damp * coalesce(cs.s, 0.0) AS rank, curit.it + 1 AS it
         |  FROM nodes n
         |  LEFT JOIN (SELECT e.dst AS node, sum(pr.rank / od.odeg) AS s
         |             FROM pr JOIN e ON pr.node = e.src JOIN od ON od.src = e.src
         |             GROUP BY e.dst) cs ON n.node = cs.node
         |  CROSS JOIN (SELECT max(it) AS it FROM pr) curit
         |  WHERE curit.it < $PrIters),
         |prf AS (SELECT node, rank AS pagerank FROM pr WHERE it = $PrIters),
         |$chainCte,
         |bc AS (SELECT c.o_orderkey AS node,
         |  ((c.pos - 1) * (c.len - c.pos))::DOUBLE / ((nn.n - 1) * (nn.n - 2)) AS betweenness
         |  FROM chain c CROSS JOIN nn)
         |SELECT o.o_orderkey,
         |  round((o.o_totalprice / 500000.0) * (1.0 + 0.3 * (
         |    0.7 * least(1.0, coalesce(prf.pagerank, 0.0) * 10.0)
         |  + 0.3 * least(1.0, coalesce(bc.betweenness, 0.0) * 10.0))), 6) AS boosted
         |FROM orders o
         |LEFT JOIN prf ON o.o_orderkey = prf.node
         |LEFT JOIN bc ON o.o_orderkey = bc.node
         |ORDER BY o.o_orderkey""".stripMargin

    // triangle mirror: canonical (a<b) co-purchase edges; each triangle
    // {p<q<r} found once as x=(p,q) ⋈ y=(q,r) ⋈ z=(p,r)
    val triCtes =
      """e0 AS (SELECT DISTINCT least(l1.l_partkey, l2.l_partkey) AS a,
        |    greatest(l1.l_partkey, l2.l_partkey) AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey <> l2.l_partkey),
        |deg AS (SELECT node, count(*)::BIGINT AS degree FROM
        |    (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
        |  GROUP BY 1),
        |tris AS (SELECT x.a AS p, x.b AS q, y.b AS r
        |  FROM e0 x JOIN e0 y ON x.b = y.a
        |  JOIN e0 z ON z.a = x.a AND z.b = y.b),
        |pt AS (SELECT node, count(*)::BIGINT AS triangles FROM
        |    (SELECT p AS node FROM tris UNION ALL SELECT q FROM tris
        |     UNION ALL SELECT r FROM tris)
        |  GROUP BY 1)""".stripMargin

    val clustering =
      s"""WITH $triCtes
         |SELECT d.node, coalesce(pt.triangles, 0)::BIGINT AS triangles,
         |  d.degree,
         |  CASE WHEN d.degree < 2 THEN 0.0
         |    ELSE round(2.0 * coalesce(pt.triangles, 0)::DOUBLE /
         |      (d.degree * (d.degree - 1))::DOUBLE, 6) END AS lcc
         |FROM deg d LEFT JOIN pt USING (node)
         |ORDER BY d.node""".stripMargin

    val triangles =
      s"""WITH $triCtes,
         |tot AS (SELECT (SELECT count(*) FROM tris)::BIGINT AS n_triangles,
         |  (SELECT sum(degree * (degree - 1) // 2) FROM deg)::BIGINT
         |    AS n_wedges)
         |SELECT n_triangles, n_wedges,
         |  CASE WHEN n_wedges = 0 THEN 0.0
         |    ELSE round(3.0 * n_triangles::DOUBLE / n_wedges::DOUBLE, 6)
         |  END AS global_cc
         |FROM tot""".stripMargin

    // components mirror: transitive closure by recursive UNION (the
    // dedup is the termination), then min-reach per node — independent
    // of the star-contraction algorithm under test
    val components =
      s"""WITH RECURSIVE
         |e0 AS (${coPurchaseSql(100L)}),
         |sym AS (SELECT a AS u, b AS v FROM e0
         |  UNION ALL SELECT b AS u, a AS v FROM e0),
         |r AS (
         |  SELECT DISTINCT u AS node, u AS reach FROM sym
         |  UNION
         |  SELECT r.node, s.v AS reach FROM r JOIN sym s ON r.reach = s.u)
         |SELECT node, min(reach) AS component FROM r GROUP BY node
         |ORDER BY node""".stripMargin

    // k-core mirror: synchronous peeling replayed as a recursive CTE —
    // each iteration keeps nodes whose degree within the previous
    // iteration's survivor set is >= k; 16 rounds covers the sf0.01
    // peeling depth (10) with slack, and extra rounds are no-ops once
    // the set is stable
    val kcore =
      s"""WITH RECURSIVE
         |e0 AS (${coPurchaseSql(20L)}),
         |sym AS (SELECT a AS u, b AS v FROM e0
         |  UNION ALL SELECT b AS u, a AS v FROM e0),
         |alive AS (
         |  SELECT DISTINCT u AS node, 0 AS it FROM sym
         |  UNION ALL
         |  SELECT d.node, d.it + 1 AS it
         |  FROM (SELECT s.u AS node, x.it AS it, count(*) AS deg
         |        FROM sym s JOIN alive x ON x.node = s.u
         |        JOIN alive y ON y.node = s.v
         |        GROUP BY s.u, x.it) d
         |  WHERE d.deg >= 6 AND d.it < 16)
         |SELECT a.node, count(*)::BIGINT AS degree
         |FROM alive a JOIN sym s ON s.u = a.node
         |JOIN alive a2 ON a2.node = s.v AND a2.it = 16
         |WHERE a.it = 16
         |GROUP BY a.node ORDER BY a.node""".stripMargin

    // harmonic mirror: recursive BFS (UNION dedup terminates the walk
    // expansion; min(dist) per (root, node) recovers shortest paths),
    // same lowest-8-md5 root rule and depth cap
    val harmonic =
      s"""WITH RECURSIVE
         |e0 AS (${coPurchaseSql(100L)}),
         |sym AS (SELECT a AS u, b AS v FROM e0
         |  UNION ALL SELECT b AS u, a AS v FROM e0),
         |nodes AS (SELECT DISTINCT u AS node FROM sym),
         |roots AS (SELECT node AS root FROM nodes
         |  ORDER BY md5(node::VARCHAR), node LIMIT 8),
         |bfs AS (
         |  SELECT root, root AS node, 0 AS dist FROM roots
         |  UNION
         |  SELECT b.root, s.v AS node, b.dist + 1 AS dist
         |  FROM bfs b JOIN sym s ON b.node = s.u
         |  WHERE b.dist < 30),
         |d AS (SELECT root, node, min(dist) AS dist FROM bfs
         |  GROUP BY 1, 2)
         |SELECT n.node,
         |  round(coalesce(sum(CASE WHEN d.dist > 0 THEN 1.0 / d.dist END),
         |    0.0), 6) AS harmonic
         |FROM nodes n LEFT JOIN d ON d.node = n.node
         |GROUP BY n.node ORDER BY n.node""".stripMargin

    // link-prediction mirror: wedge join + anti-join + per-pair aggs,
    // written directly from the score definitions
    val linkPred =
      s"""WITH e0 AS (${coPurchaseSql(100L)}),
         |sym AS (SELECT a AS u, b AS v FROM e0
         |  UNION ALL SELECT b AS u, a AS v FROM e0),
         |deg AS (SELECT u AS node, count(*)::BIGINT AS degree
         |  FROM sym GROUP BY 1),
         |wdg AS (SELECT s1.u AS u, s1.v AS v, s2.v AS w
         |  FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v),
         |cand AS (SELECT wdg.v, wdg.w, wdg.u FROM wdg
         |  LEFT JOIN e0 ON e0.a = wdg.v AND e0.b = wdg.w
         |  WHERE e0.a IS NULL),
         |sc AS (SELECT c.v, c.w, count(*)::BIGINT AS common_neighbors,
         |    sum(1.0 / ln(d.degree::DOUBLE)) AS aa
         |  FROM cand c JOIN deg d ON d.node = c.u GROUP BY 1, 2)
         |SELECT sc.v AS node_a, sc.w AS node_b, sc.common_neighbors,
         |  round(sc.aa, 6) AS adamic_adar,
         |  round(sc.common_neighbors::DOUBLE /
         |    (dv.degree + dw.degree - sc.common_neighbors)::DOUBLE, 6)
         |    AS jaccard
         |FROM sc JOIN deg dv ON dv.node = sc.v
         |JOIN deg dw ON dw.node = sc.w
         |ORDER BY adamic_adar DESC, node_a, node_b LIMIT 50""".stripMargin

    Map(
      "q_pagerank" -> pagerank,
      "q_ppr" -> ppr,
      "q_betweenness" -> betweenness,
      "q_betweenness_sampled" -> betweennessSampled,
      "q_components" -> components,
      "q_kcore" -> kcore,
      "q_harmonic" -> harmonic,
      "q_link_prediction" -> linkPred,
      "q_communities" -> lpa,
      "q_modularity" -> modularity,
      "q_communities_refined" -> communitiesRefined,
      "q_modularity_refined" -> modularityRefined,
      "q_clustering" -> clustering,
      "q_triangles" -> triangles,
      "q_score_crosssession" -> crossSession
    )
  }
}
