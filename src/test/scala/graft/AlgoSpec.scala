package graft

import org.apache.spark.sql.functions._

import graft.api._
import graft.core._
import graft.ext._
import graft.ops.{Checkpoints, GraphAlgorithms}

/** Known-value checks for the whole-graph algorithms (G1-G4). */
class AlgoSpec extends SparkSuite {

  import spark.implicits._

  private def edges(pairs: (Long, Long)*) =
    pairs.toSeq.toDF("src", "dst")

  test("pageRank: 3-cycle is the fixed point 1.0") {
    val pr = GraphAlgorithms.pageRank(edges(1L -> 2L, 2L -> 3L, 3L -> 1L), iters = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.size == 3)
    pr.values.foreach(v => assert(math.abs(v - 1.0) < 1e-9))
  }

  test("pageRank: star source keeps reset mass, sinks split it") {
    val pr = GraphAlgorithms.pageRank(edges(1L -> 2L, 1L -> 3L), iters = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr(1L) - 0.15) < 1e-12)
    // sinks: 0.15 + 0.85 * (0.15/2) after convergence
    val expected = 0.15 + 0.85 * (0.15 / 2)
    assert(math.abs(pr(2L) - expected) < 1e-12)
    assert(pr(2L) == pr(3L))
  }

  /** A graph with every shape the two PageRank plans must agree on:
    * sinks, self-loops, duplicate edges, a hub, two components and
    * null endpoints on both sides.
    */
  private def rankGraph(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val random = Seq.fill(300)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    val hub = (100L to 140L).flatMap(v => Seq(99L -> v, v -> 99L)) ++ Seq(99L -> 99L)
    val sinks = Seq(1L -> 500L, 2L -> 501L, 3L -> 500L)
    val pairs = (random ++ random.take(25) ++ hub ++ sinks)
      .map { case (a, b) => (Option(a), Option(b)) }
    (pairs ++ Seq((Some(7L), None), (None, Some(8L)), (None, None)))
      .toDF("src", "dst")
  }

  private def rankMap(df: org.apache.spark.sql.DataFrame): Map[Any, Double] =
    df.collect().map(r => r.get(0) -> r.getDouble(1)).toMap

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The driver plan against the forced Spark loop: same schema, same
    * nodes, values equal up to summation order.
    */
  private def assertSameRanks(driver: org.apache.spark.sql.DataFrame,
      sparkLoop: org.apache.spark.sql.DataFrame, what: String): Unit = {
    assert(driver.schema == sparkLoop.schema, what)
    val (a, b) = (rankMap(driver), rankMap(sparkLoop))
    assert(a.keySet == b.keySet, what)
    a.foreach { case (node, x) =>
      val y = b(node)
      assert(math.abs(x - y) <= 1e-12 * math.max(1.0, math.abs(x)),
        s"$what node $node: $x vs $y")
      assert(r6(x) == r6(y), s"$what node $node: $x vs $y")
    }
  }

  private def sparkLoopPageRank(g: org.apache.spark.sql.DataFrame, iters: Int) =
    GraphAlgorithms.rankLoop(g, lit(1.0), _ => 1.0, iters, 0.85,
      driverEdgeLimit = -1L).select(col("node"), col("rank").as("pagerank"))

  private def sparkLoopPpr(g: org.apache.spark.sql.DataFrame, sources: Seq[Long],
      iters: Int) = {
    val (reset, resetOf) = GraphAlgorithms.sourceReset(sources)
    GraphAlgorithms.rankLoop(g, reset, resetOf, iters, 0.85,
      driverEdgeLimit = -1L).select(col("node"), col("rank").as("ppr"))
  }

  test("pageRank / PPR: the driver plan equals the Spark loop") {
    val g = rankGraph(7)
    for (iters <- Seq(0, 1, 20)) {
      assertSameRanks(GraphAlgorithms.pageRank(g, iters),
        sparkLoopPageRank(g, iters), s"pageRank iters=$iters")
      // source 9999 is absent from the graph: its share of the mass is lost
      val sources = Seq(1L, 99L, 9999L)
      assertSameRanks(GraphAlgorithms.personalizedPageRank(g, sources, iters),
        sparkLoopPpr(g, sources, iters), s"ppr iters=$iters")
    }
    // null endpoints: a null node keeps (1−d)·reset and gets no in-flow
    val pr = rankMap(GraphAlgorithms.pageRank(g, 20))
    assert(pr(null) == 1.0 - 0.85)
    assert(rankMap(GraphAlgorithms.personalizedPageRank(g, Seq(1L), 20))(null) == 0.0)

    val intIds = Seq((1, 2), (2, 3), (3, 1), (3, 4), (4, 4), (5, 6), (1, 2))
      .toDF("src", "dst")
    assertSameRanks(GraphAlgorithms.pageRank(intIds, 20),
      sparkLoopPageRank(intIds, 20), "pageRank Int ids")
    assert(GraphAlgorithms.pageRank(intIds).schema("node").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assertSameRanks(GraphAlgorithms.personalizedPageRank(intIds, Seq(1L, 7L), 20),
      sparkLoopPpr(intIds, Seq(1L, 7L), 20), "ppr Int ids")

    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assertSameRanks(GraphAlgorithms.pageRank(empty, 20),
      sparkLoopPageRank(empty, 20), "pageRank empty")
    assert(GraphAlgorithms.pageRank(empty, 20).collect().isEmpty)
  }

  test("personalizedPageRank: duplicate sources count once") {
    val g = rankGraph(11)
    for (ppr <- Seq[(Seq[Long], Int) => org.apache.spark.sql.DataFrame](
        GraphAlgorithms.personalizedPageRank(g, _, _),
        sparkLoopPpr(g, _, _))) {
      assert(rankMap(ppr(Seq(1L, 1L, 2L), 20)) == rankMap(ppr(Seq(1L, 2L), 20)))
      // rank⁰ is the reset: 1/2 per distinct source, total mass 1
      val reset = rankMap(ppr(Seq(1L, 1L, 2L), 0))
      assert(reset(1L) == 0.5 && reset(2L) == 0.5 && reset.values.sum == 1.0)
    }
  }

  test("pageRank: job counts of the driver plan and the Spark loop") {
    val g = rankGraph(3)
    // the distinct-edge checkpoint (shuffle map + result) and its
    // collect; the ranks are a local relation, collected with no job
    val driverJobs = SparkJobs.run(spark)(GraphAlgorithms.pageRank(g, 20).collect())
    assert(driverJobs.size == 3, s"driver plan ran ${driverJobs.size} jobs: ${driverJobs.mkString("; ")}")
    // 52 here while its edge and node tables each re-ran the distinct;
    // both now read the one checkpoint, and outdeg is a window count
    val loopJobs = SparkJobs.run(spark)(sparkLoopPageRank(g, 20).collect())
    assert(loopJobs.size <= 51, s"Spark loop ran ${loopJobs.size} jobs: ${loopJobs.mkString("; ")}")
  }

  test("betweenness: directed chain interior nodes") {
    // 1→2→3→4: node v at position i: (i-1)(L-i) pairs; norm (n-1)(n-2)=6
    val bc = GraphAlgorithms.betweenness(edges(1L -> 2L, 2L -> 3L, 3L -> 4L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(bc(2L) - 2.0 / 6) < 1e-12)
    assert(math.abs(bc(3L) - 2.0 / 6) < 1e-12)
    assert(bc(1L) == 0.0 && bc(4L) == 0.0)
  }

  test("betweenness: diamond splits shortest-path credit") {
    // 1→2→4, 1→3→4: two shortest paths 1→4, each mid carries 1/2
    val bc = GraphAlgorithms.betweenness(
      edges(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val norm = 3.0 * 2.0 // (n-1)(n-2), n=4
    assert(math.abs(bc(2L) - 0.5 / norm) < 1e-12)
    assert(math.abs(bc(3L) - 0.5 / norm) < 1e-12)
    assert(bc(4L) == 0.0)
  }

  test("betweenness: broadcast and wave paths agree (incl. sampled roots)") {
    // two joined diamonds — non-trivial sigma splits at every depth
    val g = edges(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L,
      4L -> 5L, 4L -> 6L, 5L -> 7L, 6L -> 7L)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bcast = toMap(GraphAlgorithms.betweenness(g))
    val waves = toMap(GraphAlgorithms.betweenness(g, broadcastEdgeLimit = 0L))
    assert(bcast.keySet == waves.keySet)
    bcast.foreach { case (k, v) => assert(math.abs(v - waves(k)) < 1e-9) }

    // sampled roots: both paths restricted to the same root subset agree
    val roots = Seq(1L, 4L).toDF("root")
    val sb = toMap(GraphAlgorithms.betweenness(g, Some(roots)))
    val sw = toMap(GraphAlgorithms.betweenness(g, Some(roots), broadcastEdgeLimit = 0L))
    sb.foreach { case (k, v) => assert(math.abs(v - sw(k)) < 1e-9) }
    // fewer roots → no more credit than the full-source run anywhere
    sb.foreach { case (k, v) => assert(v <= bcast(k) + 1e-9) }
  }

  test("manager: metric recompute switches to sampled pivots above the node bound") {
    // chain of 12 memories via LEADS_TO; exact bound forced tiny so the
    // sampled estimator runs; the chain's betweenness peak must stay in
    // the middle under sampling (ranking preserved)
    val m = new MemoryManager(spark,
      MemoryConfig(userId = "alice", enableGraphAlgorithms = true,
        betweennessExactMaxNodes = 4, betweennessSampleRoots = 12),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Nil), new AddAllReconciler)
    (1 to 12).foreach(i =>
      m.add(s"step $i", infer = false, sessionId = Some("s1"),
        now = Some(1700000000000L + i * 1000)))
    m.recomputeGraphMetricsIfDirty()
    val bcByMem = m.store.memories
      .select(col("id"), col("betweenness")).collect()
      .filter(!_.isNullAt(1)).map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bcByMem.nonEmpty)
    // node 1 has no in-edges, so no shortest path passes THROUGH it
    // under any root sample; interior memories carry credit as long as
    // any sampled root is an early chain memory — with 12 of ~24 nodes
    // sampled (hash-strided, deterministic) that always holds. (Node 12
    // is NOT a sink: mem→history edges let paths pass through it.)
    assert(bcByMem.values.exists(_ > 0.0))
    assert(bcByMem(1L) == 0.0)
  }

  test("labelPropagation accepts non-numeric node ids (window fallback)") {
    // (a 2-node component would oscillate under synchronous LPA — same
    // for numeric ids — so the fixture is a triangle, which converges)
    val e = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src", "dst")
    val got = GraphAlgorithms.labelPropagation(e, rounds = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.keySet == Set("a", "b", "c"))
    assert(got.values.toSet.size == 1) // triangle converges to one label
  }

  test("labelPropagation: two cliques converge to two communities") {
    // triangle {1,2,3} + triangle {4,5,6} + one bridge 3-4
    val e = edges(1L -> 2L, 2L -> 3L, 1L -> 3L, 4L -> 5L, 5L -> 6L, 4L -> 6L, 3L -> 4L)
    val lp = GraphAlgorithms.labelPropagation(e, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp(1L) == lp(2L) && lp(2L) == lp(3L))
    assert(lp(4L) == lp(5L) && lp(5L) == lp(6L))
    val m = GraphAlgorithms.modularity(e,
      GraphAlgorithms.labelPropagation(e, rounds = 5)).collect().head.getDouble(0)
    assert(m > 0.2) // clearly-clustered graph has positive modularity
  }

  test("refineCommunities: singleton seed resolves the two triangles") {
    // pinned against an independent sequential replay of the parity-
    // scheduled integer-gain semantics (tools + /tmp prototype): the
    // bridge graph's optimal partition, labels = smallest mover target
    val e = edges(1L -> 2L, 2L -> 3L, 1L -> 3L, 4L -> 5L, 5L -> 6L, 4L -> 6L, 3L -> 4L)
    val seed = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L), (5L, 5L), (6L, 6L))
      .toDF("node", "community")
    val got = GraphAlgorithms.refineCommunities(e, seed, rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 6L, 5L -> 6L, 6L -> 6L))
    val q = GraphAlgorithms.modularity(e,
      GraphAlgorithms.refineCommunities(e, seed, rounds = 8))
      .collect().head.getDouble(0)
    assert(math.abs(q - 0.357143) < 1e-6) // 5/14 − sum(deg_c/2m)² exactly
  }

  test("refineCommunities: ring of cliques recovered from singletons; improves seed") {
    // 4 cliques of 4, ring-bridged — the canonical modularity fixture
    val cliquePairs = for {
      c <- 0 until 4; i <- 0 until 4; j <- i + 1 until 4
    } yield (c * 4 + i).toLong -> (c * 4 + j).toLong
    val bridges = (0 until 4).map(c => (c * 4 + 3).toLong -> (((c + 1) % 4) * 4).toLong)
    val e = edges((cliquePairs ++ bridges): _*)
    val seed = (0L until 16L).map(n => n -> n).toDF("node", "community")
    val refined = GraphAlgorithms.refineCommunities(e, seed, rounds = 8)
    val got = refined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each clique one community, cliques distinct
    (0 until 4).foreach { c =>
      val labels = (0 until 4).map(i => got((c * 4 + i).toLong)).toSet
      assert(labels.size == 1, s"clique $c split: $labels")
    }
    assert((0 until 4).map(c => got((c * 4).toLong)).toSet.size == 4)
    val qSeed = GraphAlgorithms.modularity(e, seed).collect().head.getDouble(0)
    val qRef = GraphAlgorithms.modularity(e, refined).collect().head.getDouble(0)
    assert(qSeed < 0.0 && math.abs(qRef - 0.607143) < 1e-6)
    // determinism: a second run is bit-identical
    val again = GraphAlgorithms.refineCommunities(e, seed, rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("refineCommunities: majority-seed burst rescues a collapsed seed") {
    // all-one seed is a local-moving fixpoint (no foreign neighbor
    // communities to join); the majority burst turns it into the
    // singleton seed, which resolves the triangles — same pinned
    // partition as the singleton-seed test
    val e = edges(1L -> 2L, 2L -> 3L, 1L -> 3L, 4L -> 5L, 5L -> 6L, 4L -> 6L, 3L -> 4L)
    val collapsed = (1L to 6L).map(n => n -> 1L).toDF("node", "community")
    val got = GraphAlgorithms.refineCommunities(e, collapsed, rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 6L, 5L -> 6L, 6L -> 6L))
    // a non-majority coarse seed is NOT burst: the two-community seed
    // is already the fixpoint partition and survives with its labels
    val good = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 5L), (5L, 5L), (6L, 5L))
      .toDF("node", "community")
    val kept = GraphAlgorithms.refineCommunities(e, good, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 5L, 5L -> 5L, 6L -> 5L))
  }

  test("refineCommunities: partial seed defaults uncovered nodes to singletons") {
    // seed covers only the first triangle; the uncovered one must come
    // back as singleton-seeded nodes (and then resolve as a community),
    // not vanish from the output partition
    val e = edges(1L -> 2L, 2L -> 3L, 1L -> 3L, 4L -> 5L, 5L -> 6L, 4L -> 6L, 3L -> 4L)
    val partial = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("node", "community")
    val got = GraphAlgorithms.refineCommunities(e, partial, rounds = 8,
      burstMajoritySeed = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (1L to 6L).toSet, s"partition lost nodes: $got")
    assert(got(4L) == got(5L) && got(5L) == got(6L)) // rebuilt from singletons
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    // seed rows for nodes absent from the graph drop out silently
    val extra = partial.unionByName(Seq((99L, 7L)).toDF("node", "community"))
    val got2 = GraphAlgorithms.refineCommunities(e, extra, rounds = 8,
      burstMajoritySeed = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == got)
  }

  test("refineCommunities rejects negative node ids (pmod vs signed % contract)") {
    val e = edges(-1L -> 2L, 2L -> 3L)
    val seed = Seq((-1L, -1L), (2L, 2L), (3L, 3L)).toDF("node", "community")
    val ex = intercept[IllegalArgumentException] {
      GraphAlgorithms.refineCommunities(e, seed, rounds = 2)
    }
    assert(ex.getMessage.contains("non-negative"))
  }

  test("refineCommunities: forced shuffled-sigma join equals broadcast path") {
    val cliquePairs = for {
      c <- 0 until 4; i <- 0 until 4; j <- i + 1 until 4
    } yield (c * 4 + i).toLong -> (c * 4 + j).toLong
    val bridges = (0 until 4).map(c => (c * 4 + 3).toLong -> (((c + 1) % 4) * 4).toLong)
    val e = edges((cliquePairs ++ bridges): _*)
    val seed = (0L until 16L).map(n => n -> n).toDF("node", "community")
    val bcast = GraphAlgorithms.refineCommunities(e, seed, rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shuffled = GraphAlgorithms.refineCommunities(e, seed, rounds = 8,
      sigmaBroadcastBound = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shuffled == bcast)
  }

  test("refineCommunities: stable-cycle early exit is exact and fires") {
    // ring of cliques converges well before 64 rounds; the early exit
    // must return the same partition a full fixed-round run does, and
    // the telemetry must show it stopped at a zero-move cycle
    val cliquePairs = for {
      c <- 0 until 4; i <- 0 until 4; j <- i + 1 until 4
    } yield (c * 4 + i).toLong -> (c * 4 + j).toLong
    val bridges = (0 until 4).map(c => (c * 4 + 3).toLong -> (((c + 1) % 4) * 4).toLong)
    val e = edges((cliquePairs ++ bridges): _*)
    val seed = (0L until 16L).map(n => n -> n).toDF("node", "community")
    val full = GraphAlgorithms.refineCommunities(e, seed, rounds = 64,
      stopOnStableCycle = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Checkpoints.lastRounds("refineCommunities").last.index == 64)
    val early = GraphAlgorithms.refineCommunities(e, seed, rounds = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(early == full)
    val record = Checkpoints.lastRounds("refineCommunities")
    val executed = record.last.index
    assert(executed < 64, s"early exit never fired: ran $executed rounds")
    // it stopped on a full residue cycle (moverClasses = 4) of rounds
    // that moved nothing
    val cycle = record.takeRight(4)
    assert(cycle.forall(r => r.index > 0 && r.long("moved") == 0L), cycle)
    // a fixpoint is detected after exactly one full zero-move residue
    // cycle; running with the cap AT the executed count changes nothing
    val capped = GraphAlgorithms.refineCommunities(e, seed, rounds = executed)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == full)
  }

  test("louvainDriver: ring of cliques — each clique one community, known Q") {
    val cliquePairs = for {
      c <- 0 until 4; i <- 0 until 4; j <- i + 1 until 4
    } yield (c * 4 + i).toLong -> (c * 4 + j).toLong
    val bridges = (0 until 4).map(c => (c * 4 + 3).toLong -> (((c + 1) % 4) * 4).toLong)
    val e = edges((cliquePairs ++ bridges): _*)
    val louv = GraphAlgorithms.louvainDriver(e)
    val got = louv.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 4).foreach { c =>
      val labels = (0 until 4).map(i => got((c * 4 + i).toLong)).toSet
      assert(labels.size == 1, s"clique $c split: $labels")
    }
    assert((0 until 4).map(c => got((c * 4).toLong)).toSet.size == 4)
    val q = GraphAlgorithms.modularity(e, louv).collect().head.getDouble(0)
    assert(math.abs(q - 0.607143) < 1e-6)
    // the tiny-graph case that motivated the driver plan: a single
    // add's memory/entity/history star (gkeys 8,9,12,17) — the two
    // entities MUST land in one community, as the reference's Louvain
    // puts them (the synchronous refinement swap-oscillates here)
    val star = edges(8L -> 9L, 8L -> 17L, 9L -> 17L, 8L -> 12L)
    val sp = GraphAlgorithms.louvainDriver(star)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sp(9L) == sp(17L), s"entities split: $sp")
  }

  test("refineCommunities == sequential replay over 20 random graphs/seeds") {
    // Independent reimplementation of the documented semantics (burst,
    // residue schedule, integer gains, strict improvement, smallest-c
    // ties) as straight-line Scala; the DataFrame version must agree
    // exactly on messy inputs (dup edges, self-loops, partial oddity)
    def replay(
        rawEdges: Seq[(Long, Long)], seed: Map[Long, Long],
        rounds: Int, classes: Int): Map[Long, Long] = {
      val und = rawEdges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .distinct.filter { case (a, b) => a != b }
      val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val deg = adj.view.mapValues(_.size.toLong).toMap
      val twoM = und.size.toLong
      val nodes = adj.keySet
      val n = nodes.size.toLong
      val sizes = seed.filter(kv => nodes(kv._1)).groupBy(_._2).view
        .mapValues(_.size.toLong).toMap
      var part: Map[Long, Long] = nodes.map(nd =>
        nd -> (if (2L * sizes(seed(nd)) > n) nd else seed(nd))).toMap
      for (r <- 0 until rounds) {
        val sigma = part.toSeq.groupBy(_._2).view
          .mapValues(_.map(kv => deg(kv._1)).sum).toMap
        part = part.map { case (nd, cn) =>
          if (nd % classes != r % classes) nd -> cn
          else {
            val w = adj(nd).groupBy(part).view.mapValues(_.size.toLong).toMap
            val k = deg(nd)
            val gStay = twoM * w.getOrElse(cn, 0L) - k * (sigma(cn) - k)
            val moves = w.keys.filter(_ != cn)
              .map(c => (twoM * w(c) - k * sigma(c), c))
            if (moves.isEmpty) nd -> cn
            else {
              val (bg, bc) = moves.maxBy { case (g, c) => (g, -c) }
              nd -> (if (bg > gStay) bc else cn)
            }
          }
        }
      }
      part
    }
    val rng = new scala.util.Random(20260813L)
    for (case_ <- 1 to 20) {
      val n = 8 + rng.nextInt(16)
      val m = n + rng.nextInt(3 * n)
      val rawEdges = Seq.fill(m)(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val nodes = rawEdges.flatMap(e => Seq(e._1, e._2)).distinct
      // seed labels: sometimes collapsed (exercises the burst), else a
      // random coarse assignment over a few labels
      val labels = if (case_ % 4 == 0) Seq(nodes.head)
        else nodes.take(1 + rng.nextInt(5))
      val seed = nodes.map(nd => nd -> labels(rng.nextInt(labels.size))).toMap
      val rounds = 4 + rng.nextInt(6)
      val undirected = rawEdges.filter { case (a, b) => a != b }
      if (undirected.nonEmpty) {
        val graphNodes = undirected.flatMap(e => Seq(e._1, e._2)).toSet
        val expected = replay(undirected, seed, rounds, classes = 4)
        val got = GraphAlgorithms.refineCommunities(
          undirected.toDF("src", "dst"),
          seed.toSeq.toDF("node", "community"), rounds)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got.keySet == graphNodes, s"case $case_: node set mismatch")
        assert(got == expected,
          s"case $case_ (n=$n m=$m rounds=$rounds): $got vs $expected")
      }
    }
  }

  test("manager: lazy metric recompute patches memory columns; R3 live") {
    val m = new MemoryManager(
      spark,
      MemoryConfig(userId = "alice", enableGraphAlgorithms = true,
        crossSessionFactor = 0.5),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Seq(
        Extraction(Seq("alice works at acme"),
          Seq(ExtractedEntity("alice", "person"), ExtractedEntity("acme", "org")),
          Seq(ExtractedRelation("alice", "acme", "works_at"))))),
      new AddAllReconciler)
    m.add("Alice works at Acme", now = Some(1700000000000L))
    val hits = m.search("alice works at acme", k = 5) // triggers recompute
    assert(hits.nonEmpty)
    val mem = m.store.memories.filter(col("id") === 1).collect().head
    assert(!mem.isNullAt(mem.fieldIndex("pagerank"))) // G1 column cached
  }

  test("manager: community materialization (G4) with >=2 entity members") {
    val m = new MemoryManager(
      spark,
      MemoryConfig(userId = "alice", enableGraphAlgorithms = true,
        enableCommunitySummaries = true),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Seq(
        Extraction(Seq("alice and bob work at acme"),
          Seq(ExtractedEntity("alice", "person"), ExtractedEntity("bob", "person"),
            ExtractedEntity("acme", "org")),
          Seq(ExtractedRelation("alice", "acme", "works_at"),
            ExtractedRelation("bob", "acme", "works_at"))))),
      new AddAllReconciler)
    m.add("Alice and Bob work at Acme", now = Some(1700000000000L))
    m.search("anything", k = 1) // triggers materialization
    val comms = m.getCommunities()
    assert(comms.nonEmpty)
    assert(comms.head._3 >= 2) // member_count
    assert(m.store.edges.filter(col("edge_type") === EdgeTypes.HasMember).count() >= 2)
  }

  test("manager: refinement path wires through metric recompute") {
    // refinement is the default; a small graph takes the driver-Louvain
    // plan, so force the DISTRIBUTED path (communityExactMaxNodes = 0)
    // to assert the LPA+refine wiring produces a community column — not
    // any particular clustering (modularity boundaries on the
    // heterogeneous manager graph are allowed to differ from LPA's)
    val m = new MemoryManager(spark,
      MemoryConfig(userId = "alice", enableGraphAlgorithms = true,
        communityRefineRounds = 4, communityExactMaxNodes = 0L),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Seq(
        Extraction(Seq("alice works at acme"),
          Seq(ExtractedEntity("alice", "person"), ExtractedEntity("acme", "org")),
          Seq(ExtractedRelation("alice", "acme", "works_at"))))),
      new AddAllReconciler)
    m.add("Alice works at Acme", now = Some(1700000000000L))
    m.recomputeGraphMetricsIfDirty()
    val mem = m.store.memories.filter(col("id") === 1).collect().head
    assert(!mem.isNullAt(mem.fieldIndex("community")))
  }

  test("manager: community lifecycle — unchanged reused, grown re-summarized") {
    // reference tests/test_communities.py unchanged/changed/dissolved cases
    val m = new MemoryManager(
      spark,
      MemoryConfig(userId = "alice", enableGraphAlgorithms = true,
        enableCommunitySummaries = true),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Seq(
        Extraction(Seq("alice and bob work together"),
          Seq(ExtractedEntity("alice", "p"), ExtractedEntity("bob", "p")),
          Seq(ExtractedRelation("alice", "bob", "works_with"))),
        // carol must tie to BOTH existing members: under the (now
        // Louvain-grade) partition a pendant entity attached to one
        // member optimally stays with its own memory's star — only a
        // genuinely-embedded new member grows the cluster
        Extraction(Seq("carol joins the team"),
          Seq(ExtractedEntity("alice", "p"), ExtractedEntity("bob", "p"),
            ExtractedEntity("carol", "p")),
          Seq(ExtractedRelation("alice", "carol", "works_with"),
            ExtractedRelation("bob", "carol", "works_with"))))),
      new AddAllReconciler)
    m.add("Alice and Bob work together", now = Some(1700000000000L))
    m.recomputeGraphMetricsIfDirty()
    val first = m.getCommunities()
    assert(first.nonEmpty)

    // metrics not dirty → rerunning changes nothing (unchanged reuse)
    m.recomputeGraphMetricsIfDirty()
    assert(m.getCommunities() == first)

    // unchanged membership through the FULL materialize path: the
    // distributed (community_id, member_count) diff re-summarizes zero
    // clusters, i.e. no member rows ever reach the driver
    assert(m.refreshCommunities() == 0)
    assert(m.getCommunities() == first)

    // growing the cluster re-materializes with a larger member count
    m.add("Carol joins the team", now = Some(1700000001000L))
    m.recomputeGraphMetricsIfDirty()
    val second = m.getCommunities()
    assert(second.nonEmpty)
    assert(second.map(_._3).max > first.map(_._3).max)
  }

  test("localClustering/triangleStats: K4, star, square+diagonal, multi/self/directed edge canonicalization") {
    // K4 (complete on 1..4): 4 triangles, every node in 3, lcc = 1.0.
    // Edge list is deliberately dirty: duplicates, both orientations,
    // and a self-loop — canonicalEdges must absorb all of it.
    val k4 = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L),
        (2L, 4L), (3L, 4L), (3L, 4L), (2L, 2L))
      .toDF("src", "dst")
    val lc4 = GraphAlgorithms.localClustering(k4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(lc4.keySet == Set(1L, 2L, 3L, 4L))
    assert(lc4.values.forall(_ == ((3L, 3L, 1.0))))
    val st4 = GraphAlgorithms.triangleStats(k4).collect().head
    assert((st4.getLong(0), st4.getLong(1), st4.getDouble(2)) ==
      ((4L, 12L, 1.0)))

    // star K1,5: zero triangles — the hub's wedges must not explode
    // into counted triangles, and lcc is 0 everywhere (leaves deg 1)
    val star = (2L to 6L).map(i => (1L, i)).toDF("src", "dst")
    val stStar = GraphAlgorithms.triangleStats(star).collect().head
    assert(stStar.getLong(0) == 0L)
    assert(stStar.getLong(1) == 10L) // C(5,2) hub wedges
    assert(stStar.getDouble(2) == 0.0)

    // square 1-2-3-4 + diagonal 1-3: two triangles sharing edge 1-3
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val lcSq = GraphAlgorithms.localClustering(sq).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(lcSq(1L) == ((2L, 3L, 0.666667)))
    assert(lcSq(3L) == ((2L, 3L, 0.666667)))
    assert(lcSq(2L) == ((1L, 2L, 1.0)))
    assert(lcSq(4L) == ((1L, 2L, 1.0)))
    val stSq = GraphAlgorithms.triangleStats(sq).collect().head
    assert(stSq.getLong(0) == 2L)

    // the wedge-volume pressure bound is oracle-neutral: forcing one
    // wedge row per closure task (maximal repartition, broadcast gate
    // off) must produce the identical per-node table, and the chosen
    // partition count must actually respond to the bound
    val forced = GraphAlgorithms.localClustering(k4, wedgeRowsPerTask = 1L,
        closureBroadcastEdges = 0L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(forced == lc4)
    // K5 oriented by id: outdegs 4,3,2,1 -> Σ C(od,2) = 6+3+1 = 10
    // oriented wedges; at 1 row/task the closure join must widen to 10
    val k5 = (1L to 5L).flatMap(i => (i + 1 to 5L).map(i -> _))
      .toDF("src", "dst")
    val lcK5 = GraphAlgorithms.localClustering(k5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(lcK5.values.forall(_ == ((6L, 1.0)))) // K5: every node in C(4,2) tris
    val lcK5f = GraphAlgorithms.localClustering(k5, wedgeRowsPerTask = 1L,
        closureBroadcastEdges = 0L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(lcK5f == lcK5)
    assert(GraphAlgorithms.lastWedgeParts == 10)
    // the broadcast-closure path (the default when m fits) and the
    // forced shuffled path must be bit-identical — same join keys,
    // same exact-integer counts, only the physical strategy differs
    val lcK5shuf = GraphAlgorithms.localClustering(k5,
        closureBroadcastEdges = 0L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(lcK5shuf == lcK5)
  }

  test("personalizedPageRank: matches a driver-side replay, mass concentrates at sources") {
    val es = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 3L)
    val sources = Seq(1L)
    // driver replay of the exact recurrence (same constants, same
    // dangling-mass semantics)
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val outN = es.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val reset = nodes.map(n =>
      n -> (if (sources.contains(n)) 1.0 / sources.size else 0.0)).toMap
    var rank = reset
    for (_ <- 1 to 20) {
      val in = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      for ((u, vs) <- outN; v <- vs) in(v) += rank(u) / vs.size
      rank = nodes.map(n =>
        n -> ((1.0 - 0.85) * reset(n) + 0.85 * in(n))).toMap
    }
    val got = GraphAlgorithms.personalizedPageRank(
        edges(es: _*), sources, iters = 20)
      .collect().map(r => r.getLong(0) -> r6(r.getDouble(1))).toMap
    assert(got == rank.map { case (n, v) => n -> r6(v) })
    // proximity semantics: the source outranks the node farthest from it
    assert(got(1L) > got(4L))
  }

  test("connectedComponents: min labels, dirty edges, sub-diameter round count on a path") {
    // two components {1,2,3} and {10,11}; dirty input (dup, reversed,
    // self-loop) must canonicalize away
    val e = Seq((2L, 1L), (2L, 3L), (3L, 2L), (10L, 11L), (10L, 11L),
        (1L, 1L)).toDF("src", "dst")
    val cc = GraphAlgorithms.connectedComponents(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))

    // a 24-node path: star contraction must converge in far fewer
    // rounds than the diameter (23) — the reason it beats min-label
    // flooding at scale
    val path = (1L until 24L).map(i => (i, i + 1)).toDF("src", "dst")
    val ccPath = GraphAlgorithms.connectedComponents(path).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(ccPath.length == 24 && ccPath.forall(_._2 == 1L))
    val ccRounds = Checkpoints.lastRounds("connectedComponents").last.index
    assert(ccRounds > 0 && ccRounds <= 8, s"rounds=$ccRounds")

    assert(GraphAlgorithms.connectedComponents(
      Seq.empty[(Long, Long)].toDF("src", "dst")).isEmpty)
  }

  test("Checkpoints.checkpoint: observe metrics arrive from an eager localCheckpoint") {
    // every iterative loop reads its per-round convergence probe this
    // way; if a Spark upgrade stops delivering the metrics, each round
    // would silently wait out the timeout and recompute via the fallback
    val base = spark.range(0L, 20000L, 1, 4)
      .select(col("id"), (col("id") % 7).as("moved"))
    val probes = Seq(count(lit(1)).as("n"), sum(col("moved")).as("m"))
    val ck = Checkpoints.checkpoint(base, probes: _*)
    assert(!ck.fellBack, "observed metrics did not arrive with the checkpoint")
    val want = ck.df.agg(probes.head, probes.tail: _*).head()
    assert(ck.probes == Map("n" -> want.getLong(0), "m" -> want.getLong(1)), ck.probes)
    ck.release()
  }

  test("q_communities_refined is deterministic: same rows, same rounds, no fallback read") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/lineitem.parquet").exists())
    def run(): (Seq[org.apache.spark.sql.Row], IndexedSeq[Checkpoints.Round]) = {
      // the query's memos are dropped after each run, so both run the loop
      val caller = graft.trace.MemoLog.currentQuery
      graft.trace.MemoLog.currentQuery = "q_communities_refined"
      try {
        val rows = SparkEntry.queries("q_communities_refined")(spark, dir).collect().toSeq
        graft.trace.MemoLog.clearMemos(graft.trace.MemoLog.memosBuiltBy("q_communities_refined"))
        (rows, Checkpoints.lastRounds("refineCommunities"))
      } finally graft.trace.MemoLog.currentQuery = caller
    }
    val (rows1, rounds1) = run()
    val (rows2, rounds2) = run()
    assert(rows1.nonEmpty && rows1 == rows2)
    def moves(rs: IndexedSeq[Checkpoints.Round]) = rs.tail.map(r => r.index -> r.long("moved"))
    assert(rounds1.size > 1 && moves(rounds1) == moves(rounds2),
      s"${moves(rounds1)} vs ${moves(rounds2)}")
    assert(!(rounds1 ++ rounds2).exists(_.fellBack))
  }

  test("only Checkpoints builds or reads an Observation") {
    // the bounded probe read (Checkpoints.checkpoint) is the one place an
    // Observation may be created, attached or awaited
    val root = new java.io.File("src/main/scala")
    assume(root.isDirectory)
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files) else Seq(f)
    val pattern = """\bObservation\b|\.observe\(|\bobs\w*\.(get|future)\b""".r
    val offenders = files(root)
      .filter(f => f.getName.endsWith(".scala") &&
        !f.getPath.endsWith("graft/ops/Checkpoints.scala"))
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]).zipWithIndex
          .collect { case (line, i) if pattern.findFirstIn(line).isDefined =>
            s"${f.getPath}:${i + 1}: ${line.trim}" }
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("kCore: peel cascade, empty core, k=1 identity") {
    // K4 on 1..4 + node 5 hung off {1,2} + pendant 6-5: k=3 peels 6
    // (deg 1), which drops 5 to deg 2 so round 2 peels it too — a
    // genuine cascade leaving exactly the K4 at degree 3
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
        (3L, 4L), (5L, 1L), (5L, 2L), (6L, 5L)).toDF("src", "dst")
    val core3 = GraphAlgorithms.kCore(e, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))

    // k=4: the K4's nodes all have in-core degree 3 < 4 — empty core
    assert(GraphAlgorithms.kCore(e, 4).isEmpty)

    // k=1 keeps every non-isolated node with its full simple degree
    val core1 = GraphAlgorithms.kCore(e, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core1 == Map(1L -> 4L, 2L -> 4L, 3L -> 3L, 4L -> 3L,
      5L -> 3L, 6L -> 1L))
  }

  test("harmonicCentrality: closed-form path, self excluded, unreachable contributes zero") {
    // path 1-2-3-4-5 plus isolated edge 10-11; roots {1, 5}
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 10L -> 11L)
    val h = GraphAlgorithms.harmonicCentrality(e, Seq(1L, 5L)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(h(3L) == 1.0)        // 1/2 + 1/2
    assert(h(2L) == 1.333333)   // 1/1 + 1/3
    assert(h(4L) == 1.333333)
    assert(h(1L) == 0.25)       // self excluded; 1/4 from root 5
    assert(h(5L) == 0.25)
    assert(h(10L) == 0.0 && h(11L) == 0.0) // unreachable from all roots
    // a root absent from the graph is ignored rather than poisoning BFS
    val h2 = GraphAlgorithms.harmonicCentrality(e, Seq(1L, 99L)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(h2(2L) == 1.0)
  }

  test("random graphs: components/kCore/clustering/linkPrediction equal driver-side references") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val n = 25 + rnd.nextInt(30)
      val m = 40 + rnd.nextInt(100)
      val pairs = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val df = pairs.toDF("src", "dst")
      val simple = pairs.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.distinct
      val nodes = simple.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val adj = {
        val mm = scala.collection.mutable.Map[Long, Set[Long]]()
          .withDefaultValue(Set.empty)
        for ((a, b) <- simple) { mm(a) += b; mm(b) += a }
        mm
      }

      // components: union-find with min-id labels
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- simple) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val refCc = nodes.map(v => v -> find(v)).toMap
      val gotCc = GraphAlgorithms.connectedComponents(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotCc == refCc, s"components trial $trial")

      // kCore(3): synchronous peel
      var alive = nodes.toSet
      var changed = true
      while (changed) {
        val drop = alive.filter(u => adj(u).count(alive) < 3)
        changed = drop.nonEmpty; alive --= drop
      }
      val refCore = alive.map(u => u -> adj(u).count(alive).toLong).toMap
      val gotCore = GraphAlgorithms.kCore(df, 3).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotCore == refCore, s"kCore trial $trial")

      // clustering: brute-force neighbor-pair closure
      val refTri = nodes.map { u =>
        val nb = adj(u).toSeq
        val t = (for {
          i <- nb.indices; j <- (i + 1) until nb.size
          if adj(nb(i)).contains(nb(j))
        } yield 1).size.toLong
        u -> (t, adj(u).size.toLong)
      }.toMap
      val gotTri = GraphAlgorithms.localClustering(df).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(gotTri == refTri, s"clustering trial $trial")

      // link prediction: brute-force non-adjacent two-hop pairs
      val refLp = (for {
        i <- nodes.indices; j <- (i + 1) until nodes.size
        v = nodes(i); w = nodes(j)
        if !adj(v).contains(w)
        common = adj(v).intersect(adj(w))
        if common.nonEmpty
      } yield {
        val aa = common.toSeq.map(u => 1.0 / math.log(adj(u).size.toDouble)).sum
        val jac = common.size.toDouble / (adj(v).size + adj(w).size - common.size)
        (v, w) -> (common.size.toLong, r6(aa), r6(jac))
      }).toMap
      val gotLp = GraphAlgorithms.linkPrediction(df, topK = 10000).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
      assert(gotLp == refLp, s"linkPrediction trial $trial")
    }
  }

  test("linkPrediction: scores on path/cycle, adjacency excluded, center cap") {
    // path 1-2-3: the only candidate is (1,3) through center 2
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p = GraphAlgorithms.linkPrediction(path, topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(p.toSeq == Seq((1L, 3L, 1L, 1.442695, 1.0))) // 1/ln(2)

    // 4-cycle: (1,3) and (2,4) each close through TWO degree-2 centers;
    // adjacent pairs must not appear
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val c = GraphAlgorithms.linkPrediction(cyc, topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(c.toSet == Set((1L, 3L, 2L, 2.88539, 1.0),
      (2L, 4L, 2L, 2.88539, 1.0))) // 2/ln(2)

    // star: every leaf pair goes through the hub; capping the center
    // degree below the hub's removes all candidates
    val star = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    assert(GraphAlgorithms.linkPrediction(star, topK = 100).count() == 10L)
    assert(GraphAlgorithms.linkPrediction(star, topK = 100,
      maxCenterDegree = 4).isEmpty)
  }
}
