package graft

import org.apache.spark.sql.functions._

import graft.ext.MockEmbedder
import graft.ops.{GraphOps, SearchOps, TemporalOps}

/** Unit-level behavior of the core ops: BFS depth semantics, hybrid
  * merge, as-of top-1, MMR greedy selection, embedder determinism,
  * temporal hint regexes (reference temporal.py:9-88).
  */
class OpsSpec extends SparkSuite {

  import spark.implicits._

  test("varLengthPaths: min-depth first-visit, early stop, reverse") {
    // 1→2→3→4 plus shortcut 1→3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L))
      .map { case (s, d) => (s, d, "T") }.toDF("src", "dst", "edge_type")
    val seeds = Seq(1L).toDF("root")
    val got = GraphOps.varLengthPaths(edges, "T", seeds, maxDepth = 10)
      .select("node", "depth").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // node 3 reachable at depth 1 (shortcut) and 2 — min depth wins
    assert(got == Map(2L -> 1, 3L -> 1, 4L -> 2))
    val rev = GraphOps.varLengthPaths(edges, "T", Seq(4L).toDF("root"),
      maxDepth = 10, reverse = true)
      .select("node", "depth").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rev == Map(3L -> 1, 2L -> 2, 1L -> 2))

    // broadcast and wave paths agree (incl. multi-root, depth cap)
    val seeds2 = Seq(1L, 2L).toDF("root")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("root", "node", "depth").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bcast = rows(GraphOps.varLengthPaths(edges, "T", seeds2, maxDepth = 2))
    val waves = rows(GraphOps.varLengthPaths(edges, "T", seeds2, maxDepth = 2,
      broadcastEdgeLimit = 0L))
    assert(bcast == waves)
    assert(bcast((1L, 4L, 2)) || !bcast.contains((1L, 4L, 3))) // depth cap holds
  }

  test("native kernels are SQL-callable after registry installation") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c,
        |  graft_dot(array(2.0D, 3.0D), array(4.0D, 5.0D)) AS d,
        |  graft_sorted_intersect_size(array(1L, 2L, 5L), array(2L, 5L, 9L)) AS i,
        |  graft_simhash32(array(5L)) AS s""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) == 23.0)
    assert(r.getInt(2) == 2)
    assert(r.getLong(3) == 5L) // one token: fingerprint == its hash bits
    // null ELEMENT reached by the merge -> null result, not an undefined
    // slot read (SQL arrays are containsNull by default)
    val n = spark.sql(
      """SELECT
        |  graft_sorted_intersect_size(array(1L, CAST(NULL AS LONG)), array(1L, 2L)) AS a,
        |  graft_sorted_intersect_size(CAST(NULL AS ARRAY<LONG>), array(1L)) AS b""".stripMargin)
      .head()
    assert(n.isNullAt(0) && n.isNullAt(1))
    // the text kernels are SQL-callable too
    val t = spark.sql(
      """SELECT
        |  graft_tokens('The quick FOX!') AS toks,
        |  size(graft_word_shingles31('a b c d', 3)) AS ws,
        |  size(graft_char_shingles60('abcd', 3)) AS cs,
        |  size(graft_word_shingles_all('a b a b', 2)) AS wa,
        |  graft_token_stats('the the fox').n_tokens AS nt,
        |  graft_token_stats('the the fox').stop_hits AS sh,
        |  graft_langid('der und das ist') AS lang,
        |  length(graft_fingerprint('b a')) AS fp_len,
        |  graft_simhash_text('x') AS s1""".stripMargin).head()
    assert(t.getSeq[String](0) == Seq("the", "quick", "fox"))
    assert(t.getInt(1) == 2 && t.getInt(2) == 2 && t.getInt(3) == 3)
    assert(t.getInt(4) == 3 && t.getInt(5) == 2)
    assert(t.getString(6) == "de")
    assert(t.getInt(7) == 32)
    // one token: fingerprint bits == that token's 32-bit hash
    assert(t.getLong(8) ==
      spark.sql("SELECT conv(substring(md5('x'), 1, 8), 16, 10)").head()
        .getString(0).toLong)
  }

  test("packShards: exclusive-prefix packing, oversized doc spans, cross-partition offsets") {
    // weights 400,400,400,1500,100,100 @ target 1000:
    // exclusive prefixes 0,400,800,1200,2700,2800 -> shards 0,0,0,1,2,2
    val docs = Seq((1L, 400L), (2L, 400L), (3L, 400L), (4L, 1500L),
      (5L, 100L), (6L, 100L)).toDF("doc_id", "w")
    val got = graft.ops.ShardOps.packShards(docs, "doc_id", "w", 1000L)
      .select("doc_id", "shard_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 2L, 6L -> 2L))
    // determinism across input partitionings: a pre-shuffled input packs
    // identically (range repartition + per-bucket offsets are exact)
    val shuffled = docs.repartition(5)
    val got2 = graft.ops.ShardOps.packShards(shuffled, "doc_id", "w", 1000L)
      .select("doc_id", "shard_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == got)
  }

  test("duplicateClusters: chained pairs collapse to the component minimum") {
    // components: {1,2,3,7} via chain 1-2, 2-3, 3-7; {10,11}; pair list
    // never mentions 5 (singleton -> absent by contract)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val expected = Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (7L, 1L, false),
      (10L, 10L, true), (11L, 10L, false))
    def run(limit: Long) = graft.ops.DedupOps.duplicateClusters(pairs, limit)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(run(graft.ops.DedupOps.ClusterUnionFindLimit) == expected) // union-find
    assert(run(0L) == expected) // distributed min-label path
  }

  test("packShards with unit weights is rank-based fixed-size sharding in key order") {
    // the deterministic-global-shuffle reuse (q_shuffle_shards): shard =
    // floor(rank0 / K) in hash-key order, invariant to input partitioning
    val docs = (1L to 37L).map(i => (i, f"k$i%03d", 1L)).toDF("doc_id", "k", "one")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.ShardOps.packShards(df, "k", "one", targetWeight = 5L)
        .select("k", "shard_id").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = run(docs)
    val expected = (1L to 37L).map(i => f"k$i%03d" -> (i - 1) / 5).toMap
    assert(got == expected)
    assert(run(docs.repartition(7)) == expected)
  }

  test("keepBestPerCluster: quality argmax per cluster, singletons pass through") {
    // cluster {1,2,3}: doc 2 has the best score; cluster {10,11}: tie on
    // score -> longer doc 11 wins; doc 5 is unclustered -> kept, own id
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc", "cluster")
    val scored = Seq(
      (1L, 4L, 100L), (2L, 9L, 50L), (3L, 4L, 200L),
      (10L, 6L, 80L), (11L, 6L, 90L), (5L, 1L, 10L)
    ).toDF("doc_id", "stop_hits", "n_words")
    def run(bcast: Boolean) = graft.ops.DedupOps
      .keepBestPerCluster(scored, clusters, "doc_id",
        Seq(col("stop_hits").desc, col("n_words").desc), broadcastClusters = bcast)
      .select("doc_id", "cluster", "keep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val expected = Set(
      (1L, 1L, false), (2L, 1L, true), (3L, 1L, false),
      (10L, 10L, false), (11L, 10L, true), (5L, 5L, true))
    assert(run(bcast = true) == expected)
    assert(run(bcast = false) == expected) // shuffle-join membership path
  }

  test("native cosine matches the HOF formulation on null/zero/mismatch edge cases") {
    // the semantics contract: null element => null result UNLESS the
    // OTHER side is a null-free zero vector (3-valued when(na===0||nb===0))
    val df = spark.sql(
      """SELECT * FROM VALUES
        | (array(1.0F, 2.0F),      array(1.0F, 2.0F)),
        | (array(1.0F, CAST(NULL AS FLOAT)), array(1.0F, 2.0F)),
        | (array(1.0F, CAST(NULL AS FLOAT)), array(0.0F, 0.0F)),
        | (array(0.0F, 0.0F),      array(1.0F, 2.0F)),
        | (array(1.0F),            array(1.0F, 2.0F)),
        | (CAST(NULL AS ARRAY<FLOAT>), array(1.0F, 2.0F)),
        | (CAST(NULL AS ARRAY<FLOAT>), array(0.0F, 0.0F)),
        | (array(0.0F), CAST(NULL AS ARRAY<FLOAT>))
        | AS t(a, b)""".stripMargin)
    def legacyCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      def dd(c: org.apache.spark.sql.Column) = transform(c, x => x.cast("double"))
      def norm(c: org.apache.spark.sql.Column) =
        sqrt(aggregate(dd(c), lit(0.0), (acc, x) => acc + x * x))
      val dot = aggregate(zip_with(dd(a), dd(b), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
      when(norm(a) === 0.0 || norm(b) === 0.0, lit(0.0))
        .otherwise(dot / (norm(a) * norm(b)))
    }
    val rows = df.select(
      graft.functions.VectorFunctions.cosineSimilarity(col("a"), col("b")).as("native"),
      legacyCosine(col("a"), col("b")).as("hof")).collect()
    rows.foreach { r =>
      val n = if (r.isNullAt(0)) null else r.getDouble(0)
      val h = if (r.isNullAt(1)) null else r.getDouble(1)
      assert(n == h, s"native=$n hof=$h")
    }
  }

  test("simhashNearDupPairs: banded join finds EXACTLY the brute-force Hamming<=3 pairs") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val banded = graft.ops.DedupOps
      .simhashNearDupPairs(docs, "doc_id", "text", bits = 32, bands = 4, maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force over all pairs — the ground truth the pigeonhole
    // banding must reproduce exactly for hamming <= bands-1
    val fp = docs.select(col("doc_id"),
      graft.functions.HashFunctions.simhash(col("text"), 32).as("sh"))
    val brute = fp.as("l").join(fp.as("r"), col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id"), col("r.doc_id"),
        bit_count(col("l.sh").bitwiseXOR(col("r.sh"))).as("h"))
      .filter(col("h") <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute)
    assert(brute.nonEmpty) // the corpus contains exact dups → hamming 0 pairs
  }

  test("mergeResults: agreement bonus on max, passthrough otherwise") {
    val v = Seq((1L, 0.8), (2L, 0.5)).toDF("id", "score")
    val g = Seq((1L, 0.6), (3L, 0.4)).toDF("id", "score")
    val got = GraphOps.mergeResults(v, g, "id", agreementBonus = 0.1)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(got == Set(
      (1L, 0.8 * 1.1, "both"), (2L, 0.5, "vector"), (3L, 0.4, "graph")))
  }

  test("PageFusion: driver fusion equals the DataFrame operators bit for bit on generated pages") {
    import org.apache.spark.sql.{DataFrame, Row}
    import graft.functions.VectorFunctions
    import graft.ops.{PageFusion, ScoringOps}
    def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
    val words = Seq("alpha", "beta", "gamma", "delta")
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(4)(rnd.between(-1.0f, 1.0f))
    val shared = vec() // rows carrying it tie on cosine: id breaks the tie
    val zero = Array.fill(4)(0.0f)
    (0 until 12).foreach { page =>
      val query = if (page % 4 == 3) zero else vec() // all-zero query vector
      val rrfK = Seq(0.0, 1.0, 60.0)(page % 3) // rrfK 0: fused rrf reaches 2
      val docs = (1 to 24).map { i =>
        val emb: Array[Float] = rnd.nextInt(6) match {
          case 0 => null
          case 1 => Array.empty[Float]
          case 2 => shared
          case _ => vec()
        }
        (rnd.nextInt(1000).toLong * 100 + i,
          Seq.fill(1 + rnd.nextInt(4))(words(rnd.nextInt(words.size))).mkString(" "), emb)
      }.toDF("id", "text", "embedding")
        .withColumn("embedding", when(size(col("embedding")) > 0, col("embedding")))
      val qText = "alpha gamma"
      val (k, fetchK) = (5, 8)

      // re-rank + RRF: hybridSearch vs collected legs fused on the driver
      val want = SearchOps.hybridSearch(docs, "id", "text", "embedding", qText, query,
          k, rrfK, fetchK)
        .collect().map(r => (r.getLong(0), bits(r.getDouble(1)), bits(r.getDouble(2)))).toSeq
      val (bm, vc) = SearchOps.hybridLegs(docs, "id", "text", "embedding", qText, query,
        fetchK, None)
      def leg(df: DataFrame) = df.collect().toSeq
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      val fused = PageFusion.rrf(Seq(leg(bm), leg(vc)), rrfK)
      val hyd = docs.select(col("id"), col("embedding").isNotNull,
          VectorFunctions.cosineToQuery(col("embedding"), query))
        .collect().map(r => r.getLong(0) -> r).toMap
      val got = PageFusion.byScoreDesc(fused.map { case (id, f) =>
          val h = hyd(id)
          (id, f, PageFusion.rerank(f, h.getBoolean(1),
            if (h.isNullAt(2)) None else Some(h.getDouble(2))))
        })(_._3, _._1).take(k)
        .map { case (id, f, sc) => (id, bits(f), bits(sc)) }
      assert(got == want, s"page $page")
      if (rrfK == 0.0) assert(fused.exists(_._2 >= 1.0))

      // merge + boosts + final order on pages with overlapping ids and ties
      val ids = docs.select("id").as[Long].collect().toSeq
      def scores(n: Int) = rnd.shuffle(ids).take(n).map(id => id ->
        (if (rnd.nextInt(4) == 0) 0.25 else rnd.nextDouble()))
      val v = scores(8); val g = scores(8)
      val props = ids.map { id =>
        def opt(hi: Double) = rnd.nextInt(4) match {
          case 0 => None
          case 1 => Some(0.0)
          case _ => Some(rnd.nextDouble() * hi)
        }
        (id, opt(1.0), opt(0.3), opt(0.3))
      }
      val propDf = props.toDF("id", "topo", "pagerank", "betweenness")
      val bonus = 0.1 * (page % 3)
      val wantMerged = GraphOps.mergeResults(v.toDF("id", "score"), g.toDF("id", "score"),
          "id", bonus)
        .join(propDf, Seq("id"), "left")
        .withColumn("score", ScoringOps.topologyBoost(col("score"), col("topo"), 0.2))
        .withColumn("score", ScoringOps.crossSessionBoost(col("score"), col("pagerank"),
          col("betweenness"), 0.5))
        .orderBy(col("score").desc, col("id").asc)
        .collect().map { case Row(id: Long, sc: Double, src: String, _, _, _) =>
          (id, bits(sc), src) }.toSeq
      val p = props.map(r => r._1 -> r).toMap
      val gotMerged = PageFusion.byScoreDesc(PageFusion.merge(v, g, bonus).map {
          case (id, sc, src) =>
            val (_, topo, pr, bt) = p(id)
            (id, PageFusion.crossSessionBoost(
              PageFusion.topologyBoost(sc, topo, 0.2), pr, bt, 0.5), src)
        })(_._2, _._1)
        .map { case (id, sc, src) => (id, bits(sc), src) }
      assert(gotMerged == wantMerged, s"page $page")
      assert(gotMerged.map(_._3).toSet == Set("both", "vector", "graph"))
    }
  }

  test("PageFusion.topologyScores from a page's own edges equals GraphOps.topologyScores bit for bit") {
    import graft.api.{MemoryConfig, MemoryManager}
    import graft.core.{EdgeRow, EdgeTypes, GraphStore}
    import graft.ext.{AddAllReconciler, HeuristicExtractor}
    import graft.ops.PageFusion
    val rnd = new scala.util.Random(5)
    val names = Seq("Acme Corp", "Bob Smith", "Carol Diaz", "Dan Eve", "Erin Fox", "Gil Hart")
    (0 until 2).foreach { g =>
      val store = new GraphStore(spark)
      def mgr(user: String) = new MemoryManager(spark, MemoryConfig(userId = user), store,
        new MockEmbedder(16), new HeuristicExtractor, new AddAllReconciler)
      val (alice, bob) = (mgr("alice"), mgr("bob"))
      // Acme Corp is the hub: every entity-bearing text names it
      def text(): String = ("Acme Corp" +: Seq.fill(1 + rnd.nextInt(3))(
        names(rnd.nextInt(names.size)))).mkString("", " met ", ".")
      alice.addBatch(Seq("no entities here", "plain note"), now = Some(1L)) // edgeless
      (1 to 6 + g).foreach(i => (if (i % 3 == 0) bob else alice).add(text(), now = Some(i.toLong)))
      // degree 11: the min(1, …) clamp binds
      alice.add(("Acme Corp" +: ('A' to 'J').map(c => s"${c}x Team")).mkString(" and ") + ".",
        now = Some(20L))
      def he = store.edges.filter(col("edge_type") === EdgeTypes.HasEntity)
      val some = he.select("src", "dst").as[(Long, Long)].collect().toSeq
      store.appendEdges(some.take(3).map { case (m, e) =>
        EdgeRow(store.nextEdgeId(), m, e, EdgeTypes.HasEntity, Map.empty) }) // duplicates
      val mems = store.memories.select("id").as[Long].collect().toSeq.sorted
      store.expireMemories(30L, Seq(mems(3) -> None, mems(5) -> Some(25L)))
      alice.delete(mems(4).toString); bob.delete(mems(mems.size - 2).toString)

      val want = GraphOps.topologyScores(he).select("mem", "topology_score")
        .as[(Long, Double)].collect().toMap
      val rows = he.select("src", "dst").as[(Long, Long)].collect().toSeq
      assert(rows.groupBy(_._1).values.exists(_.map(_._2).distinct.size >= 10))
      assert(rows.size > rows.distinct.size)
      def bits(m: Map[Long, Double]) = m.map { case (k, v) => k -> java.lang.Double.doubleToRawLongBits(v) }
      assert(bits(PageFusion.topologyScores(mems.toSet, rows)) == bits(want), s"graph $g")
      (0 until 6).foreach { p =>
        val page = rnd.shuffle(mems).take(1 + rnd.nextInt(mems.size)).toSet
        val ents = rows.filter(r => page(r._1)).map(_._2).toSet
        val got = PageFusion.topologyScores(page, rows.filter(r => ents(r._2)))
        assert(bits(got) == bits(want.filter(r => page(r._1))), s"graph $g page $p")
      }
    }
  }

  test("latestPerKey: as-of top-1 per key") {
    val df = Seq(
      ("u1", 10L, 1L), ("u1", 20L, 2L), ("u1", 30L, 3L),
      ("u2", 15L, 4L)
    ).toDF("user", "ts", "id")
    val got = GraphOps.latestPerKey(df, Seq("user"), "ts", "id", asOf = Some(25L))
      .select("user", "id").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("u1" -> 2L, "u2" -> 4L))
  }

  test("MMR: first pick is top-cosine, selection is deterministic and diverse") {
    val emb = new MockEmbedder(16)
    val texts = (1 to 12).map(i => s"doc about topic $i")
    val rows = texts.zipWithIndex.map { case (t, i) =>
      ((i + 1).toLong, emb.embedOne(t))
    }
    val df = rows.toDF("id", "embedding")
    val q = emb.embedOne("doc about topic 3")
    val got = SearchOps.mmr(df, "embedding", "id", q, k = 4, lambda = 0.5)
      .orderBy(col("mmr_rank")).collect().map(_.getLong(0))
    assert(got.length == 4)
    assert(got.head == 3L) // exact text match dominates relevance
    val again = SearchOps.mmr(df, "embedding", "id", q, k = 4, lambda = 0.5)
      .orderBy(col("mmr_rank")).collect().map(_.getLong(0))
    assert(got.sameElements(again))
  }

  test("MockEmbedder: deterministic unit vectors, any dims") {
    val e16 = new MockEmbedder(16)
    val a = e16.embedOne("hello")
    val b = e16.embedOne("hello")
    assert(a.sameElements(b))
    assert(a.length == 16)
    val norm = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    assert(!e16.embedOne("other").sameElements(a))
    assert(new MockEmbedder(64).embedOne("hello").length == 64)
  }

  test("temporal hints: expired/chrono/timediff/point-in-time/general") {
    val h1 = TemporalOps.detectTemporalHints("where did I used to work?")
    assert(h1.includeExpired && h1.isTemporal)
    val h2 = TemporalOps.detectTemporalHints("when did I first meet Sam?")
    assert(h2.sortChronologically && h2.expandLimit)
    val h3 = TemporalOps.detectTemporalHints("how long did the project take?")
    assert(h3.includeExpired && h3.expandLimit)
    val h4 = TemporalOps.detectTemporalHints("as of 2023 what was my role?")
    assert(h4.pointInTimeHint && h4.includeExpired)
    val h5 = TemporalOps.detectTemporalHints("what happened since March?")
    assert(h5.isTemporal && h5.expandLimit && !h5.includeExpired)
    val h6 = TemporalOps.detectTemporalHints("what is my favorite color?")
    assert(!h6.isTemporal && h6.signals.isEmpty)
  }

  test("parseDateToEpochMs: ISO, year-only, invalid") {
    assert(TemporalOps.parseDateToEpochMs("2024").contains(1704067200000L))
    assert(TemporalOps.parseDateToEpochMs("2024-01-01").contains(1704067200000L))
    assert(TemporalOps.parseDateToEpochMs("2024-01-01T00:00:00Z").contains(1704067200000L))
    assert(TemporalOps.parseDateToEpochMs("not a date").isEmpty)
    assert(TemporalOps.parseDateToEpochMs("").isEmpty)
  }

  test("IVF: strided centroids, top-k recall vs brute force on clustered data") {
    val emb = new MockEmbedder(16)
    // clustered corpus: 8 topic clusters × 25 near-duplicates
    val rows = (0 until 200).map { i =>
      val topic = i % 8
      (i.toLong, emb.embedOne(s"topic $topic variant ${i / 8}"))
    }
    val df = rows.toDF("id", "embedding")
    val queries = df.filter(col("id") < 4)
    val exact = graft.ops.SimilarityOps
      .bruteForceTopK(df, "id", "embedding", queries, "id", "embedding", k = 10)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val (assigned, cents) = graft.ops.SimilarityOps.ivfIndex(df, "id", "embedding", 8)
    val approx = graft.ops.SimilarityOps
      .ivfTopK(assigned, "id", "embedding", cents, queries, "id", "embedding",
        k = 10, nProbe = 3)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (q, ex) =>
      approx.get(q).map(ap => (ex & ap).size.toDouble / ex.size).getOrElse(0.0)
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.3, s"IVF mean recall $meanRecall too low") // 3/8 cells probed
  }

  test("bm25: term-bearing docs score, others absent; rrf fuses ranks") {
    val docs = Seq(
      (1L, "spark joins data fast"),
      (2L, "spark spark spark"),
      (3L, "unrelated text entirely")
    ).toDF("doc_id", "text")
    val bm = SearchOps.bm25(docs, "doc_id", "text", Seq("spark"))
    val scored = bm.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored.keySet == Set(1L, 2L))
    assert(scored(2L) > scored(1L)) // higher tf wins
    val a = Seq((1L, 0.9), (2L, 0.8)).toDF("doc_id", "s")
    val b = Seq((2L, 0.9), (3L, 0.8)).toDF("doc_id", "s")
    val fused = SearchOps.rrfFuse(Seq((a, "s"), (b, "s")), "doc_id", rrfK = 1.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fused(2L) == 1.0 / 3 + 1.0 / 2) // rank 2 + rank 1
    assert(fused(1L) == 1.0 / 2 && fused(3L) == 1.0 / 3)
  }

  test("ngramContamination: planted leak flagged, clean doc cleared") {
    val evalSet = Seq((100L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    val train = Seq(
      // verbatim copy of an eval span: many shared 5-grams
      (1L, "prefix words alpha beta gamma delta epsilon zeta eta suffix"),
      // one shared 5-gram only — below minOverlap=3
      (2L, "alpha beta gamma delta epsilon completely different tail here"),
      (3L, "nothing in common with the benchmark at all honestly")
    ).toDF("doc_id", "text")
    val got = graft.ops.CorpusOps
      .ngramContamination(train, evalSet, "doc_id", "text", n = 5, minOverlap = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got(1L)._1 >= 3 && got(1L)._2)           // leak caught
    assert(got(2L) == ((1L, false)))                // grazing overlap cleared
    assert(got(3L) == ((0L, false)))                // zero-overlap row retained
    // eval-side gram set must broadcast: the corpus side never shuffles
    val plan = graft.ops.CorpusOps
      .ngramContamination(train, evalSet, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"eval gram join should broadcast:\n$plan")
  }

  test("ngramContaminationBloom: row-identical to the exact path, even with forced false positives") {
    val evalSet = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta"),
      (101L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "prefix words alpha beta gamma delta epsilon zeta eta suffix"),
      (2L, "alpha beta gamma delta epsilon completely different tail here"),
      (3L, "nothing in common with the benchmark at all honestly"),
      (4L, "one two three four five six seven eight and then some more"))
      .toDF("doc_id", "text").repartition(3)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
    val exact = canon(graft.ops.CorpusOps
      .ngramContamination(train, evalSet, "doc_id", "text", n = 5, minOverlap = 3))
    // realistic sizing: fpp ~0, prefilter drops the clean doc
    val big = canon(graft.ops.CorpusOps.ngramContaminationBloom(
      train, evalSet, "doc_id", "text", n = 5, minOverlap = 3,
      numBits = 1 << 16, numHashes = 5))
    assert(big == exact)
    // pathological sizing: 64 bits for ~20 grams saturates the filter,
    // so clean docs false-positive into the confirm join — the result
    // must STILL be row-identical (fps cost candidates, not answers)
    val tiny = canon(graft.ops.CorpusOps.ngramContaminationBloom(
      train, evalSet, "doc_id", "text", n = 5, minOverlap = 3,
      numBits = 64, numHashes = 2))
    assert(tiny == exact)
  }

  test("hashSplit: assignment is stable, in-range, and growth-invariant") {
    val small = (0L until 200L).toDF("doc_id")
    val big = (0L until 400L).toDF("doc_id")
    def assign(df: org.apache.spark.sql.DataFrame) =
      graft.ops.CorpusOps.hashSplit(df, "doc_id")
        .select("doc_id", "split_bucket", "split").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val s = assign(small); val b = assign(big)
    assert(s.forall { case (_, (bk, _)) => bk >= 0 && bk < 100 })
    // a document's split never changes when the corpus grows
    assert(s.forall { case (id, v) => b(id) == v })
    val frac = s.values.count(_._2 == "train").toDouble / s.size
    assert(frac > 0.6 && frac < 0.95, s"train fraction $frac far from 80%")
    assert(s.values.map(_._2).toSet == Set("train", "val", "test"))
  }

  test("packSequences: slices tile both the doc and the sequence") {
    val docs = Seq((1L, 4L), (2L, 10L), (3L, 17L), (4L, 0L), (5L, 3L))
      .toDF("doc_id", "n_tokens")
    val got = graft.ops.ShardOps.packSequences(docs, "doc_id", "n_tokens", 10L)
      .select("doc_id", "seq_id", "doc_start", "doc_end", "seq_pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // offsets: d1@0, d2@4, d3@14, d4 zero-token (emits nothing), d5@31
    assert(got == Set(
      (1L, 0L, 0L, 4L, 0L),
      (2L, 0L, 0L, 6L, 4L), (2L, 1L, 6L, 10L, 0L),
      (3L, 1L, 0L, 6L, 4L), (3L, 2L, 6L, 16L, 0L), (3L, 3L, 16L, 17L, 0L),
      (5L, 3L, 0L, 3L, 1L)))
    // every full sequence holds exactly seqLen tokens
    val perSeq = got.groupBy(_._2).view
      .mapValues(_.toSeq.map(s => s._4 - s._3).sum).toMap
    assert(perSeq == Map(0L -> 10L, 1L -> 10L, 2L -> 10L, 3L -> 4L))
    // partitioning must not change the assignment (two-level prefix sum)
    val reparted = graft.ops.ShardOps
      .packSequences(docs.repartition(7), "doc_id", "n_tokens", 10L)
      .select("doc_id", "seq_id", "doc_start", "doc_end", "seq_pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(reparted == got)
  }

  test("vocabTopK: counts, doc frequency, deterministic tie-break") {
    val docs = Seq((1L, "a a b"), (2L, "b c a")).toDF("doc_id", "text")
    val top2 = graft.ops.CorpusOps.vocabTopK(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(top2.toSeq == Seq(("a", 3L, 2L), ("b", 2L, 2L)))
    // equal counts break ties by token order, so top-k sets are stable
    val tied = Seq((1L, "x y"), (2L, "y x")).toDF("doc_id", "text")
    val top1 = graft.ops.CorpusOps.vocabTopK(tied, "doc_id", "text", 1)
      .collect().map(_.getString(0))
    assert(top1.toSeq == Seq("x"))
  }

  test("tfidfKeywords: tf*ln(N/df) scores, per-doc rank, token tie-break, universal tokens floor") {
    // df: apple 1, banana 2, cherry 2, date 1; N = 3
    val docs = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry date cherry date")).toDF("doc_id", "text")
    val out = graft.ops.CorpusOps.tfidfKeywords(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      (1L, 1L, "apple", 2L, 1L, 2.197225),   // 2*ln(3)
      (1L, 2L, "banana", 1L, 2L, 0.405465),  // ln(3/2)
      (2L, 1L, "banana", 1L, 2L, 0.405465),  // tie with cherry: token asc
      (2L, 2L, "cherry", 1L, 2L, 0.405465),
      (3L, 1L, "date", 2L, 1L, 2.197225),
      (3L, 2L, "cherry", 2L, 2L, 0.81093)))  // 2*ln(3/2)
    // a token in EVERY doc scores exactly 0 and ranks below any
    // non-universal token
    val univ = Seq((1L, "the apple"), (2L, "the pear"))
      .toDF("doc_id", "text")
    val u = graft.ops.CorpusOps.tfidfKeywords(univ, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(5)))
    assert(u.toSeq == Seq(
      (1L, 1L, "apple", 0.693147), (1L, 2L, "the", 0.0),
      (2L, 1L, "pear", 0.693147), (2L, 2L, "the", 0.0)))
  }

  test("vocabCoverage: cumulative occurrence coverage, saturates past vocab size") {
    // counts: a=3, b=2, c=1 → total 6; top-1 covers 3/6, top-2 5/6,
    // any k ≥ 3 covers all occurrences (oov 0)
    val docs = Seq((1L, "a a b"), (2L, "b c a")).toDF("doc_id", "text")
    val got = graft.ops.CorpusOps
      .vocabCoverage(docs, "doc_id", "text", ks = Seq(2, 1, 10))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      (1, 3L, 6L, 0.5, 0.5),
      (2, 5L, 6L, 5.0 / 6, 1 - 5.0 / 6),
      (10, 6L, 6L, 1.0, 0.0)))
  }

  test("temperatureRates: budget exact, low-resource upsampled, α=1 proportional") {
    // strata sizes 800 / 150 / 50 docs
    val rows = (1 to 1000).map(i =>
      (i.toLong, if (i <= 800) "en" else if (i <= 950) "de" else "sw"))
    val df = rows.toDF("id", "lang")
    def rates(alpha: Double) = graft.ops.CorpusOps
      .temperatureRates(df, "lang", totalBudget = 500.0, alpha = alpha)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    val r7 = rates(0.7)
    // Σ rate·n = budget (the defining constraint)
    assert(math.abs(r7.values.map { case (n, r) => n * r }.sum - 500.0) < 1e-9)
    // α<1: smaller strata get strictly higher rates
    assert(r7("sw")._2 > r7("de")._2 && r7("de")._2 > r7("en")._2)
    // α=1 is natural proportions: every stratum keeps budget/total
    val r1 = rates(1.0)
    r1.values.foreach { case (_, r) => assert(math.abs(r - 0.5) < 1e-12) }
    // rates > 1 (upsampling) compose with epochMix: sw at α=0.3 should
    // exceed 1 and emit more copies than it has docs
    val r3 = graft.ops.CorpusOps
      .temperatureRates(df, "lang", totalBudget = 900.0, alpha = 0.3)
    assert(r3.filter(col("lang") === "sw").head().getDouble(2) > 1.0)
    val mixed = graft.ops.CorpusOps.epochMix(df, "id", "lang",
      r3.select(col("lang"), col("rate")))
    assert(mixed.filter(col("lang") === "sw").count() > 50)
  }

  test("qualityBuckets: per-group terciles, null scores unscored, partitioning-invariant") {
    // group a: 9 scores 1..9 → k33 = ceil(33·9/100) = 3 → c33 = 3,
    // k66 = ceil(66·9/100) = 6 → c66 = 6: tail {1,2,3}, middle {4,5,6},
    // head {7,8,9}. group b: single score → both cutoffs = it → tail.
    val rows = (1 to 9).map(i => (i.toLong, "a", Some(i.toDouble))) ++
      Seq((10L, "b", Some(5.0)), (11L, "a", Option.empty[Double]))
    val df = rows.toDF("id", "grp", "score")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.ops.CorpusOps.qualityBuckets(d, "id", "score", "grp")
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val got = run(df)
    assert((1L to 3L).forall(got(_) == "tail"))
    assert((4L to 6L).forall(got(_) == "middle"))
    assert((7L to 9L).forall(got(_) == "head"))
    assert(got(10L) == "tail")      // degenerate single-row group
    assert(got(11L) == "unscored")  // null score: excluded from cutoffs
    assert(run(df.repartition(7)) == got)
  }

  test("linearQualityScore: sigmoid of mean bucket weight, prior for empty docs") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, ""), (3L, "delta"))
      .toDF("doc_id", "text")
    // constant-weight model: every bucket 0.8 -> every token weighs 0.8,
    // so any non-empty doc scores sigmoid(0.8)
    val w = (0L until 16L).map(b => (b, 0.8)).toDF("bucket", "weight")
    val got = graft.ops.CorpusOps
      .linearQualityScore(docs, "doc_id", "text", w, buckets = 16, bias = 0.25)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def sigmoid(x: Double) = 1.0 / (1.0 + math.exp(-x))
    assert(got(1L)._1 == 3L)
    assert(math.abs(got(1L)._2 - sigmoid(0.8 + 0.25)) < 1e-12)
    assert(got(3L)._2 == got(1L)._2)  // mean is size-invariant under a constant model
    // zero-token doc scores the model prior, not null
    assert(got(2L) == ((0L, sigmoid(0.25))))
    // pruned model: missing buckets contribute 0, so an empty weights
    // table reduces every doc to the prior
    val empty = Seq.empty[(Long, Double)].toDF("bucket", "weight")
    val prior = graft.ops.CorpusOps
      .linearQualityScore(docs, "doc_id", "text", empty, buckets = 16)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(prior.values.forall(_ == 0.5))
  }

  test("weightedMix: rate 1 keeps all, rate 0 drops all, monotone in rate") {
    val docs = (0L until 300L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "source")
    def kept(r0: Double, r1: Double, r2: Double): Map[String, Set[Long]] = {
      val rates = Seq(("s0", r0), ("s1", r1), ("s2", r2)).toDF("source", "rate")
      graft.ops.CorpusOps.weightedMix(docs, "doc_id", "source", rates)
        .select("source", "doc_id").collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
        .withDefaultValue(Set.empty[Long])
    }
    val full = kept(1.0, 1.0, 1.0)
    assert(full("s0").size == 100 && full("s1").size == 100 && full("s2").size == 100)
    val none = kept(0.0, 1.0, 1.0)
    assert(none("s0").isEmpty && none("s1").size == 100)
    // monotone: raising a rate only ADDS documents (re-mix reuses the
    // previous selection — the incremental-pipeline property)
    val half = kept(0.5, 0.5, 0.5)
    val threeQ = kept(0.75, 0.75, 0.75)
    Seq("s0", "s1", "s2").foreach { src =>
      assert(half(src).subsetOf(threeQ(src)), s"$src not monotone")
      assert(threeQ(src).subsetOf(full(src)))
    }
  }

  test("PiiOps: redaction replaces every category, counts are order-independent, boundaries hold") {
    import graft.ops.PiiOps
    val rows = Seq(
      (1L, "mail me at a.b+c@sub.example.org or x_9@y.io thanks"),
      (2L, "card 4111 1111 1111 1111 and 5500-0000-0000-0004 on file"),
      (3L, "ssn 123-45-6789 phone 415-555-0132 ip 10.0.0.1"),
      (4L, "clean text with no pii at all"),
      // boundary cases: digit runs embedded in longer tokens are NOT PII
      (5L, "id 1234-5678-9012-34567 hash 192.168.0.1234 v1.2.3.4beta")
    ).toDF("id", "text")
    val got = rows.select(col("id"), PiiOps.redact(col("text")).as("red"),
        PiiOps.matchCount(col("text"), PiiOps.Email).as("ne"),
        PiiOps.matchCount(col("text"), PiiOps.CreditCard).as("nc"),
        PiiOps.piiFree(col("text")).as("free"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(1L)._1 == "mail me at <EMAIL> or <EMAIL> thanks")
    assert(got(1L)._2 == 2L && !got(1L)._4)
    assert(got(2L)._1 == "card <CC> and <CC> on file")
    assert(got(2L)._3 == 2L)
    assert(got(3L)._1 == "ssn <SSN> phone <PHONE> ip <IP>")
    assert(got(4L)._1 == "clean text with no pii at all" && got(4L)._4)
    // \b anchoring: the 5-digit tail breaks the CC shape (exact {4}
    // groups cannot backtrack into a shorter match), the 4-digit octet
    // kills the IPv4 trailing boundary, and "v1.2.3.4" has no match
    // start at a word boundary — so row 5 redacts to itself
    assert(got(5L)._3 == 0L, s"cc in ${got(5L)._1}")
    assert(got(5L)._1 == "id 1234-5678-9012-34567 hash 192.168.0.1234 v1.2.3.4beta")
    assert(got(5L)._4)
  }

  test("SampleOps: two-level selection = naive per-stratum window, exact quotas, layout-invariant") {
    import graft.ops.SampleOps
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val rows = (0L until 500L).map(i => (i, s"s${rnd.nextInt(5)}"))
    val df = rows.toDF("id", "grp")
    val quotas = Map("s0" -> 0L, "s1" -> 7L, "s2" -> 50L, "s3" -> 10000L)
    // s4 absent → dropped; s0 quota 0 → dropped; s3 quota > size → whole

    // naive reference: full per-stratum window over the same key order
    val w = Window.partitionBy(col("grp"))
      .orderBy(SampleOps.sampleKey(col("id")).asc, col("id").asc)
    val qDf = quotas.toSeq.toDF("grp", "quota")
    val want = df.withColumn("rn", row_number().over(w))
      .join(qDf, "grp").filter(col("rn") <= col("quota"))
      .select("id").collect().map(_.getLong(0)).toSet

    def got(buckets: Int, parts: Int) =
      SampleOps.stratifiedSample(df.repartition(parts), "id", "grp",
          qDf, selectBuckets = buckets)
        .select("id").collect().map(_.getLong(0)).toSet

    // bucket count 1 (everything is one boundary bucket), a mid value,
    // and one far above the row count (every bucket take-all or
    // boundary-of-size-≤1) must all agree with the naive form, under
    // different physical layouts
    assert(got(1, 3) == want)
    assert(got(16, 7) == want)
    assert(got(4096, 1) == want)
    // exactness: per-group sizes match min(quota, group size)
    val sizes = rows.groupBy(_._2).map { case (g, rs) => g -> rs.size.toLong }
    val gotSizes = SampleOps.stratifiedSample(df, "id", "grp", quotas)
      .groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotSizes == quotas.collect {
      case (g, q) if math.min(q, sizes.getOrElse(g, 0L)) > 0 =>
        g -> math.min(q, sizes(g))
    })
    // capPerStratum keeps every stratum, capped
    val capped = SampleOps.capPerStratum(df, "id", "grp", 3L)
      .groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(capped.keySet == sizes.keySet && capped.values.forall(_ <= 3L))
    // exact-fraction face: ceil(10% of n) per stratum, exactly
    val frac = SampleOps.stratifiedFraction(df, "id", "grp", 10)
      .groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(frac == sizes.map { case (g, n) => g -> ((10 * n + 99) / 100) })
  }

  test("DedupOps incremental: batch-vs-store agrees with global dedup; LSH cross-set = self-join restriction") {
    import graft.ops.DedupOps
    // planted: 1↔11 exact dup across sets, 10↔15 exact dup within batch,
    // 2↔12 near-dup (one word changed), the rest unique
    val mk = (i: Long, t: String) => (i, t)
    val corpus = Seq(
      mk(1, "the quick brown fox jumps over the lazy dog again and again"),
      mk(2, "colorless green ideas sleep furiously every single night here"),
      mk(3, "a completely unrelated corpus document about spark plans"),
      mk(4, "yet another unique corpus text with its own words entirely")
    ).toDF("doc_id", "text")
    val batch = Seq(
      mk(11, "the quick brown fox jumps over the lazy dog again and again"),
      mk(12, "colorless green ideas sleep furiously every single day here"),
      mk(10, "fresh batch document repeated inside the batch verbatim text"),
      mk(15, "fresh batch document repeated inside the batch verbatim text"),
      mk(13, "and one genuinely novel batch document nothing matches")
    ).toDF("doc_id", "text")
    val store = DedupOps.exactDuplicates(corpus, "doc_id", "text")
      .filter(!col("is_duplicate")).select(col("content_hash"))
    val got = DedupOps.incrementalExact(batch, store, "doc_id", "text")
      .select("doc_id", "dup_in_corpus", "is_duplicate", "keep")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(got(11L) == ((true, false, false)))  // corpus dup
    assert(got(10L) == ((false, false, true)))  // batch-internal first
    assert(got(15L) == ((false, true, false)))  // batch-internal copy
    assert(got(12L) == ((false, false, true)))  // near-dup ≠ exact dup
    assert(got(13L) == ((false, false, true)))

    // bloom-index path: identical verdicts, including at a saturating
    // 64-bit filter where every batch hash false-positives into the
    // confirm join
    for (bits <- Seq(1 << 16, 64)) {
      val viaBloom = DedupOps
        .incrementalExactBloom(batch, store, "doc_id", "text",
          numBits = bits, numHashes = if (bits == 64) 2 else 5)
        .select("doc_id", "dup_in_corpus", "is_duplicate", "keep")
        .collect().map(r => r.getLong(0) ->
          ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
      assert(viaBloom == got, s"numBits=$bits")
    }
    // an all-novel batch misses the filter entirely (zero-store-IO path)
    val novel = Seq(mk(21, "entirely novel text one of a kind"),
      mk(22, "another entirely novel text nothing shared")).toDF("doc_id", "text")
    val cleared = DedupOps
      .incrementalExactBloom(novel, store, "doc_id", "text", 1 << 16, 5)
      .select("doc_id", "dup_in_corpus", "keep").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSet
    assert(cleared == Set((21L, false, true), (22L, false, true)))

    // LSH: the cross-set incremental candidates equal the full
    // self-join's pairs restricted to (corpus, batch) sides
    val all = corpus.unionByName(batch)
    val self = DedupOps.minhashLshPairs(all, "doc_id", "text",
        numHashes = 32, bands = 4, shingleSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
      .flatMap { case (a, b, j) => Seq((a, b, j), (b, a, j)) }
      .filter { case (a, b, _) => a < 10 && b >= 10 }.toSet
    val inc = DedupOps.incrementalLshPairs(batch, corpus, "doc_id", "text",
        numHashes = 32, bands = 4, shingleSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6))).toSet
    assert(inc == self, s"inc=$inc self=$self")
    assert(inc.exists { case (a, b, _) => a == 1L && b == 11L }) // planted pair found
  }

  test("CorpusOps.bigramLmScore: matches a hand-rolled bigram LM, pruning drops tail counts") {
    import graft.ops.CorpusOps
    val rows = Seq(
      (1L, "a b a b a"),   // bigrams: ab ba ab ba
      (2L, "a b c"),       // ab bc
      (3L, "x"),           // no bigrams
      (4L, "c a b a")      // ca ab ba
    ).toDF("doc_id", "text")
    // reference model over the full corpus (V=8 covers everything)
    val c1 = Map("a" -> 6L, "b" -> 4L, "c" -> 2L, "x" -> 1L)
    val c2 = Map(("a","b") -> 4L, ("b","a") -> 3L, ("b","c") -> 1L, ("c","a") -> 1L)
    def lp(w1: String, w2: String, v: Int, uni: Map[String,Long], bi: Map[(String,String),Long]) =
      math.log((bi.getOrElse((w1,w2), 0L) + 1).toDouble / (uni.getOrElse(w1, 0L) + v))
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val got = CorpusOps.bigramLmScore(rows, "doc_id", "text", vocabTopK = 8, bigramTopK = 64)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    val d1 = mean(Seq(lp("a","b",8,c1,c2), lp("b","a",8,c1,c2), lp("a","b",8,c1,c2), lp("b","a",8,c1,c2)))
    assert(got(1L)._1 == 4L && math.abs(got(1L)._2.get - d1) < 1e-12)
    assert(got(3L) == ((0L, None)))  // <2 tokens → null score
    // pruning: keep only the single top bigram (a,b) — every other
    // bigram reads count 0 and scores the smoothed floor for its w1
    val pruned = CorpusOps.bigramLmScore(rows, "doc_id", "text", vocabTopK = 2, bigramTopK = 1)
      .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    val uniP = Map("a" -> 6L, "b" -> 4L) // top-2 by count
    val biP = Map(("a","b") -> 4L)       // top-1
    val d4p = mean(Seq(lp("c","a",2,uniP,biP), lp("a","b",2,uniP,biP), lp("b","a",2,uniP,biP)))
    assert(math.abs(pruned(4L).get - d4p) < 1e-12)
  }

  test("DedupOps.lshTuneBands: minimum-error divisor, monotone in threshold, matches offline reference") {
    import graft.ops.DedupOps.lshTuneBands
    // pinned against an independent offline evaluation of the MMDS
    // S-curve error integral (same quadrature)
    assert(lshTuneBands(16, 0.5) == ((4, 4)))
    assert(lshTuneBands(16, 0.2) == ((8, 2)))
    assert(lshTuneBands(16, 0.8) == ((2, 8)))
    assert(lshTuneBands(128, 0.5) == ((32, 4)))
    assert(lshTuneBands(128, 0.8) == ((8, 16)))
    assert(lshTuneBands(64, 0.35) == ((16, 4)))
    // lower threshold -> never fewer bands (curve must shift left)
    val ts = Seq(0.1, 0.3, 0.5, 0.7, 0.9)
    val bandsAt = ts.map(t => lshTuneBands(64, t)._1)
    assert(bandsAt.zip(bandsAt.tail).forall { case (a, b) => a >= b }, bandsAt)
    // contract: bands divide numHashes, rows = n / bands
    for (n <- Seq(12, 16, 60); t <- ts) {
      val (b, r) = lshTuneBands(n, t)
      assert(n % b == 0 && b * r == n)
    }
  }

  test("DedupOps.commonSegmentRemoval: shared segments drop, unique tails survive in order") {
    import graft.ops.DedupOps
    val boiler = "one two three four five"
    val rows = Seq(
      (1L, boiler + " alpha beta gamma delta epsilon zeta"),
      (2L, boiler + " unique words entirely different from others"),
      (3L, "totally unrelated content with no shared segments at all"),
      (4L, "")
    ).toDF("doc_id", "text")
    val got = DedupOps.commonSegmentRemoval(rows, "doc_id", "text",
        segLen = 5, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // docs 1+2 share the 5-token boilerplate segment → dropped from both
    assert(got(1L) == ((3L, 1L, "alpha beta gamma delta epsilon zeta")))
    assert(got(2L) == ((3L, 1L, "unique words entirely different from others")))
    assert(got(3L) == ((2L, 0L,
      "totally unrelated content with no shared segments at all")))
    assert(got(4L) == ((0L, 0L, "")))  // empty doc survives as a row
    // duplicate docs lose EVERYTHING (every segment shared)
    val dup = Seq((1L, boiler), (2L, boiler)).toDF("doc_id", "text")
    val gd = DedupOps.commonSegmentRemoval(dup, "doc_id", "text", 5, 2)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(gd(1L) == "" && gd(2L) == "")
  }

  test("round-9 ops are partitioning-invariant: same results under any input layout") {
    import graft.ops.{AsofOps, DedupOps, SessionOps}
    val rnd = new scala.util.Random(5)
    val ev = (0 until 300).map { i =>
      (rnd.nextInt(6).toLong, rnd.nextInt(5000).toLong, i.toLong) }
      .toDF("k", "ts", "id")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // sessionize: window keyed on user — layout must not matter
    val s1 = canon(SessionOps.sessionSummaries(ev.repartition(7), "k", "ts", "id", 500L))
    val s2 = canon(SessionOps.sessionSummaries(ev.repartition(3, col("ts")), "k", "ts", "id", 500L))
    assert(s1 == s2)
    // asof: union+window — layout of either side must not matter
    val right = ev.groupBy(col("k"), col("ts")).agg(max(col("id")).as("rid"))
    val a1 = canon(AsofOps.asofJoin(ev.repartition(5), right.repartition(2), "k", "ts", Seq("rid")))
    val a2 = canon(AsofOps.asofJoin(ev.repartition(2, col("id")), right.repartition(6, col("k")), "k", "ts", Seq("rid")))
    assert(a1 == a2)
    // substring dedup: global first-occurrence rule is a total order on
    // (doc, pos) — independent of physical layout
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y c d e f g h q r"),
      (3L, "c d e f g h i j z w")
    ).toDF("doc_id", "text")
    val d1 = canon(DedupOps.duplicateSpanRemoval(docs.repartition(4), "doc_id", "text", winLen = 4))
    val d2 = canon(DedupOps.duplicateSpanRemoval(docs.coalesce(1), "doc_id", "text", winLen = 4))
    assert(d1 == d2)
  }

  test("AsofOps.asofJoin: latest prior right row per key, ties match, keys isolate, no-predecessor is null") {
    import graft.ops.AsofOps
    val left = Seq((1L, 3L, "l0"), (1L, 10L, "l1"), (1L, 12L, "l2"), (2L, 10L, "l3"))
      .toDF("k", "ms", "lname")
    val right = Seq((1L, 5L, "X"), (1L, 10L, "Y"), (1L, 11L, "Z"), (2L, 1L, "W"))
      .toDF("k", "ms", "pname")
    val got = AsofOps.asofJoin(left, right, "k", "ms", Seq("pname"))
      .collect().map(r => r.getAs[String]("lname") -> r.getAs[String]("pname")).toMap
    assert(got("l0") == null)      // nothing at or before ts 3
    assert(got("l1") == "Y")       // tie at ts 10 matches (<=)
    assert(got("l2") == "Z")
    assert(got("l3") == "W")       // key 2 sees only its own rows
  }

  test("AsofOps.rangeJoin: inclusive bounds, multi-bin intervals, key isolation — and bin width doesn't change results") {
    import graft.ops.AsofOps
    val points = Seq((1L, 0L, 100L), (1L, 1L, 150L), (1L, 2L, 250L), (2L, 3L, 150L))
      .toDF("k", "pid", "pt")
    val ivals = Seq((1L, 10L, 100L, 250L), (1L, 11L, 160L, 160L), (2L, 12L, 0L, 149L))
      .toDF("k", "iid", "s", "e")
    def run(bin: Long) = AsofOps.rangeJoin(points, ivals, "k", "pt", "s", "e", bin)
      .select(col("pid"), col("iid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set((0L, 10L), (1L, 10L), (2L, 10L)) // incl. pt==s and pt==e
    assert(run(50L) == expected)    // interval 10 spans multiple bins
    assert(run(1000L) == expected)  // one huge bin — same result
    assert(run(7L) == expected)     // tiny bins — same result, no dup pairs
    // derived default (p50 interval length): same rows, and the derived
    // width is the median of {150, 0, 149} = 149
    assert(AsofOps.derivedBinMs(ivals, "s", "e") == 149L)
    assert(run(0L) == expected)     // binMs <= 0 -> derive
    val noIvals = ivals.filter(col("iid") < 0L)
    assert(AsofOps.derivedBinMs(noIvals, "s", "e") == 1L) // empty fallback
    assert(AsofOps.rangeJoin(points, noIvals, "k", "pt", "s", "e").count() == 0L)
  }

  test("AsofOps.intervalJoin: exactly-once pairs, inclusive overlap, key isolation, bin invariance") {
    import graft.ops.AsofOps
    val left = Seq((1L, 0L, 100L, 200L), (1L, 1L, 250L, 260L),
        (1L, 2L, 150L, 300L), (2L, 3L, 100L, 200L))
      .toDF("k", "a_id", "a_s", "a_e")
    val right = Seq((1L, 10L, 200L, 240L), (1L, 11L, 0L, 99L),
        (1L, 12L, 260L, 500L), (2L, 13L, 201L, 300L))
      .toDF("k", "b_id", "b_s", "b_e")
    // expected via the naive predicate: ls<=re && rs<=le, same key
    val expected = Set((0L, 10L), // touch at 200 (inclusive)
      (2L, 10L), (2L, 12L),       // 150-300 overlaps both
      (1L, 12L))                  // touch at 260
      // (3,13): 100-200 vs 201-300 do NOT touch; (0,11): 99 < 100
    def run(bin: Long) = AsofOps.intervalJoin(left, right, "k",
        "a_s", "a_e", "b_s", "b_e", bin)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(run(50L).toSet == expected)
    assert(run(50L).length == expected.size)   // no duplicate pair rows
    assert(run(7L).toSet == expected)          // tiny bins, still unique
    assert(run(7L).length == expected.size)
    assert(run(10000L).toSet == expected)      // one huge bin
    assert(run(0L).toSet == expected)          // derived default
    assert(run(0L).length == expected.size)
  }

  test("AsofOps.bandJoin: inclusive |eps| boundary, cross-bucket pairs exactly once, key isolation") {
    import graft.ops.AsofOps
    val left = Seq((1L, 0L, 10.0), (1L, 1L, 20.0), (2L, 2L, 10.0))
      .toDF("k", "a_id", "a_v")
    val right = Seq(
      (1L, 10L, 11.0),  // |10-11| = eps exactly (inclusive), crosses a bucket edge
      (1L, 11L, 8.95),  // |10-8.95| > 1 — out
      (1L, 12L, 19.5),  // matches 20.0 within the same bucket
      (2L, 13L, 10.4)   // key 2 only
    ).toDF("k", "b_id", "b_v")
    val got = AsofOps.bandJoin(left, right, "k", "a_v", "b_v", eps = 1.0)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = Set((0L, 10L), (1L, 12L), (2L, 13L))
    assert(got.toSet == expected)
    assert(got.length == expected.size) // one row per pair, no dup from fan-out
  }

  test("CorpusOps.pmiCollocations: formula, minCount floor, deterministic cut") {
    // corpus: "a b" ×3, "c d" ×1, "b c" ×1 as adjacent pairs
    val docs = Seq((1L, "a b. a b! c d"), (2L, "a b c")).toDF("doc_id", "text")
    // unigrams: a=3 b=3 c=2 d=1, NT=9; bigrams: (a,b)=3 (b,c)=1 (c,d)=1
    // ... but doc1 "a b a b c d" has bigrams (a,b),(b,a),(a,b),(b,c),(c,d)
    // and doc2 (a,b),(b,c): NB=7, c12(a,b)=3, (b,a)=1, (b,c)=2, (c,d)=1
    val out = graft.ops.CorpusOps.pmiCollocations(docs, "text",
        minCount = 2L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    // pmi(a,b) = ln(3*81/(7*3*3)) = ln(243/63); pmi(b,c) = ln(2*81/(7*3*2))
    def pmi(c12: Long, c1: Long, c2: Long): Double =
      BigDecimal(math.log(c12.toDouble * 81.0 / (7.0 * c1 * c2)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.toSeq == Seq(
      ("a", "b", 3L, pmi(3, 3, 3)),
      ("b", "c", 2L, pmi(2, 3, 2))).sortBy(-_._4))
  }

  test("SessionOps: gap boundary is strict, ties break by id, users isolate, summaries aggregate") {
    import graft.ops.SessionOps
    val rows = Seq(
      // user 1: gap of exactly 1000 does NOT split (strict >), 2500 does
      (1L, 0L, 10L), (1L, 1000L, 11L), (1L, 3500L, 12L),
      // same-ts tie: deterministic id order, same session
      (1L, 3500L, 13L),
      // user 2: single event; its own session regardless of user 1
      (2L, 0L, 20L)
    ).toDF("user_id", "ts", "event_id")
    val got = SessionOps.sessionize(rows, "user_id", "ts", "event_id", gapMs = 1000L)
      .collect().map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("session_idx"), r.getAs[Boolean]("is_session_start")))).toMap
    assert(got(10L) == ((0L, true)))
    assert(got(11L) == ((0L, false)))  // gap == gapMs stays in-session
    assert(got(12L) == ((1L, true)))   // gap 2500 > gapMs splits
    assert(got(13L) == ((1L, false)))
    assert(got(20L) == ((0L, true)))
    val sums = SessionOps.sessionSummaries(rows, "user_id", "ts", "event_id", 1000L)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx")) ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("duration_ms")))).toMap
    assert(sums((1L, 0L)) == ((2L, 1000L)))
    assert(sums((1L, 1L)) == ((2L, 0L)))
    assert(sums((2L, 0L)) == ((1L, 0L)))
  }

  test("DedupOps.duplicateSpanRemoval: non-first occurrences of repeated windows drop, firsts and uniques survive") {
    import graft.ops.DedupOps
    val rows = Seq(
      // P = p1..p6 (6 tokens) appears in docs 1, 2 and 6; doc 1 is first
      (1L, "a b c p1 p2 p3 p4 p5 p6"),
      (2L, "p1 p2 p3 p4 p5 p6 x y z"),
      // within-doc repeat: second r1..r4 run must drop
      (3L, "r1 r2 r3 r4 m n r1 r2 r3 r4"),
      // shorter than winLen: carries no windows, survives verbatim
      (4L, "p1 p2 p3"),
      (5L, "totally unique words nothing shared here at all"),
      // entire doc is a repeated window → removed to empty
      (6L, "p1 p2 p3 p4")
    ).toDF("doc_id", "text")
    val got = DedupOps.duplicateSpanRemoval(rows, "doc_id", "text", winLen = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 holds every first occurrence → untouched
    assert(got(1L) == ((9L, 0L, "a b c p1 p2 p3 p4 p5 p6")))
    // doc 2's copy of P: overlapping flagged windows union to the full
    // 6-token span, the unique tail survives
    assert(got(2L) == ((9L, 6L, "x y z")))
    assert(got(3L) == ((10L, 4L, "r1 r2 r3 r4 m n")))
    assert(got(4L) == ((3L, 0L, "p1 p2 p3")))
    assert(got(5L) == ((8L, 0L, "totally unique words nothing shared here at all")))
    assert(got(6L) == ((4L, 4L, "")))
  }

  test("QuantileOps: exact percentiles = sorted-list reference, incl. ties, degenerate and tiny groups") {
    import graft.ops.QuantileOps
    val rnd = new scala.util.Random(11)
    // heavy ties (values mod 17), one single-value group, one 3-row group
    val rows = (0L until 400L).map(i => (i, s"g${i % 4}", (rnd.nextInt(1000) % 17) * 10L)) ++
      Seq((1000L, "flat", 7L), (1001L, "flat", 7L), (1002L, "flat", 7L)) ++
      Seq((2000L, "tiny", 5L), (2001L, "tiny", 1L), (2002L, "tiny", 9L))
    val df = rows.toDF("id", "grp", "v")
    val pcts = Map("p01" -> 1, "p50" -> 50, "p90" -> 90, "p100" -> 100)
    def reference: Map[(String, String), Long] = {
      val byG = rows.groupBy(_._2).map { case (g, rs) =>
        g -> rs.map(_._3).sorted.toIndexedSeq }
      (for ((g, vs) <- byG; (l, p) <- pcts) yield {
        val k = (p.toLong * vs.size + 99) / 100
        (g, l) -> vs(k.toInt - 1)
      }).toMap
    }
    for (buckets <- Seq(1, 8, 4096); parts <- Seq(1, 5)) {
      val got = QuantileOps.exactPercentiles(df.repartition(parts), "v", "grp",
          pcts, buckets = buckets)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == reference, s"buckets=$buckets parts=$parts")
    }
  }

  test("madOutliers: integer median/MAD rule, zero-MAD degeneracy, quiet groups") {
    import graft.ops.QuantileOps
    val rows =
      // g1: 4-at-median + one spike — MAD 0, so ANY deviation flags
      Seq((1L, "g1", 10L), (2L, "g1", 10L), (3L, "g1", 10L),
        (4L, "g1", 10L), (5L, "g1", 100L),
        // g2: med 3, devs sorted [0,1,1,2,97] → MAD 1; only 97 > 3·1
        (6L, "g2", 1L), (7L, "g2", 2L), (8L, "g2", 3L),
        (9L, "g2", 4L), (10L, "g2", 100L),
        // g3: tight group — nothing beyond 3·MAD
        (11L, "g3", 5L), (12L, "g3", 6L), (13L, "g3", 7L))
      .toDF("id", "grp", "v")
    val out = QuantileOps.madOutliers(rows, "v", "grp", k = 3)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("med"),
        r.getAs[Long]("mad"), r.getAs[Long]("dev")))
      .sortBy(_._1)
    assert(out.toSeq == Seq((5L, 10L, 0L, 90L), (10L, 3L, 1L, 97L)))
  }

  test("cadence loops free every checkpoint they make") {
    // bpeMerges (once per merge), kCenterSelect's carry path and
    // mmrIterative re-checkpoint the frame they carry; none of their
    // results reads it, so no block they created may outlive the call
    import spark.implicits._
    val sc = spark.sparkContext
    def leftBehind(body: => Unit): Set[Int] = {
      val before = sc.getPersistentRDDs.keySet
      body
      sc.getPersistentRDDs.keySet.diff(before).toSet
    }
    val docs = Seq("the theater thesis then the the banana bandana",
        "aaaa aaaa banana low lower lowest low low").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    assert(leftBehind(graft.ops.CorpusOps.bpeMerges(docs, "doc_id", "text",
      numMerges = 10).collect()).isEmpty, "bpeMerges")
    val pts = (0L until 40L).map(i =>
        (i, Array((i % 7).toFloat, (i % 5).toFloat, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    assert(leftBehind(graft.ops.SampleOps.kCenterSelect(pts, "vec_id", "embedding",
      k = 10, carryMinDist = true, checkpointEvery = 2, selectBatch = 2)
      .collect()).isEmpty, "kCenterSelect")
    assert(leftBehind(graft.ops.SearchOps.mmrIterative(pts, "embedding", "vec_id",
      Array(1.0f, 0.0f, 0.0f), k = 10, checkpointEvery = 2, selectBatch = 2)
      .collect()).isEmpty, "mmrIterative")
  }

  test("CorpusOps.bpeMerges equals a driver-side reference BPE trainer") {
    import spark.implicits._
    // repetition-heavy corpus: forces multi-char merges, adjacent-run
    // non-overlap ("aaaa"), and count ties broken by symbol order
    val texts = Seq(
      "the theater thesis then the the banana bandana",
      "aaaa aaaa banana low lower lowest low low",
      "the then lowest banana aaaa thesis theater the")
    def refBpe(numMerges: Int): Seq[(Long, String, String, String, Long)] = {
      val freqs = texts
        .flatMap(_.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty))
        .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
      var words: Map[Vector[String], Long] = freqs.toSeq
        .map { case (w, f) => w.map(_.toString).toVector -> f }
        .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).sum }
      val out = Seq.newBuilder[(Long, String, String, String, Long)]
      var k = 0
      var done = false
      while (k < numMerges && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        words.foreach { case (s, f) =>
          s.sliding(2).foreach {
            case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
            case _ => ()
          }
        }
        if (counts.isEmpty) done = true
        else {
          val ((l, r), c) = counts.toSeq
            .minBy { case ((l, r), c) => (-c, l, r) }
          out += ((k.toLong, l, r, l + r, c))
          def merge(s: Vector[String]): Vector[String] = {
            val b = Vector.newBuilder[String]; var i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == l && s(i + 1) == r) {
                b += l + r; i += 2
              } else { b += s(i); i += 1 }
            }
            b.result()
          }
          words = words.toSeq.map { case (s, f) => merge(s) -> f }
            .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).sum }
          k += 1
        }
      }
      out.result()
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = graft.ops.CorpusOps.bpeMerges(df, "doc_id", "text", numMerges = 10)
      .orderBy(col("merge_rank")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSeq
    assert(got == refBpe(10), s"got:\n${got.mkString("\n")}\nref:\n${refBpe(10).mkString("\n")}")

    // encode applies the learned merges per token, never across tokens
    val merges = got.map(m => (m._2, m._3))
    val enc = graft.ops.CorpusOps.bpeEncode(df, "doc_id", "text", merges)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
    def refEncode(text: String): Seq[String] =
      text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq.flatMap { w =>
        var syms = w.map(_.toString).toVector
        merges.foreach { case (l, r) =>
          val b = Vector.newBuilder[String]; var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              b += l + r; i += 2
            } else { b += syms(i); i += 1 }
          }
          syms = b.result()
        }
        syms
      }
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(enc(i)._2 == refEncode(t), s"doc $i: ${enc(i)._2} != ${refEncode(t)}")
    }
    // every subword round-trips: concatenation reproduces the tokens
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(enc(i)._2.mkString ==
        t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).mkString)
    }
  }

  test("CorpusOps.wordpieceMerges equals a driver-side reference, diverges from the BPE pick") {
    import spark.implicits._
    val texts = Seq(
      "the theater thesis then the the banana bandana",
      "aaaa aaaa banana low lower lowest low low",
      "the then lowest banana aaaa thesis theater the")
    def refWp(numMerges: Int): Seq[(Long, String, String, String, Long, Double)] = {
      val freqs = texts
        .flatMap(_.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty))
        .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
      var words: Map[Vector[String], Long] = freqs.toSeq
        .map { case (w, f) => w.map(_.toString).toVector -> f }
        .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).sum }
      val out = Seq.newBuilder[(Long, String, String, String, Long, Double)]
      var k = 0; var done = false
      while (k < numMerges && !done) {
        val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        val sc = scala.collection.mutable.Map.empty[String, Long]
        words.foreach { case (s, f) =>
          s.foreach(x => sc(x) = sc.getOrElse(x, 0L) + f)
          s.sliding(2).foreach {
            case Seq(a, b) => pc((a, b)) = pc.getOrElse((a, b), 0L) + f
            case _ => ()
          }
        }
        if (pc.isEmpty) done = true
        else {
          // same argmax rule: exact-integer IEEE division, lexical ties
          val ((l, r), c) = pc.toSeq.minBy { case ((l, r), c) =>
            (-(c.toDouble / (sc(l) * sc(r)).toDouble), l, r) }
          out += ((k.toLong, l, r, l + r, c, c.toDouble / (sc(l) * sc(r)).toDouble))
          def merge(s: Vector[String]): Vector[String] = {
            val b = Vector.newBuilder[String]; var i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == l && s(i + 1) == r) {
                b += l + r; i += 2
              } else { b += s(i); i += 1 }
            }
            b.result()
          }
          words = words.toSeq.map { case (s, f) => merge(s) -> f }
            .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).sum }
          k += 1
        }
      }
      out.result()
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = graft.ops.CorpusOps.wordpieceMerges(df, "doc_id", "text", numMerges = 10)
      .orderBy(col("merge_rank")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getDouble(5))).toSeq
    val ref = refWp(10)
    assert(got == ref, s"got:\n${got.mkString("\n")}\nref:\n${ref.mkString("\n")}")
    // the criterion actually bites: the association-score pick differs
    // from the raw-count pick somewhere in the first 10 merges
    val bpe = graft.ops.CorpusOps.bpeMerges(df, "doc_id", "text", numMerges = 10)
      .orderBy(col("merge_rank")).collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(got.map(m => (m._2, m._3)) != bpe)
  }

  test("CorpusOps.trainQualityClassifier: matches driver-side GD, learns a planted signal") {
    import spark.implicits._
    val B = 16; val ITERS = 5; val LR = 0.5
    // planted signal: positive docs carry "excellent", negatives "spam"
    val texts = (0 until 24).map { i =>
      if (i % 2 == 0) s"document $i reads excellent excellent prose today"
      else s"document $i is spam spam filler noise"
    }
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, if (i % 2 == 0) 1.0 else 0.0) }
      .toDF("doc_id", "text", "label")
    val got = graft.ops.CorpusOps
      .trainQualityClassifier(df, "doc_id", "text", "label",
        buckets = B, iters = ITERS, lr = LR)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // driver-side reference: identical tokenization, hashing, GD, 6-dp
    // quantization
    def q6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def bucket(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % B
    }
    val docs = texts.zipWithIndex.map { case (t, i) =>
      val toks = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val cnt = toks.groupBy(bucket).map { case (b, g) => b -> g.length.toDouble }
      val n = toks.length.toDouble
      (cnt.map { case (b, c) => b -> c / n }, if (i % 2 == 0) 1.0 else 0.0)
    }
    val nDocs = docs.length.toDouble
    var w = docs.flatMap(_._1.keys).distinct.map(_ -> 0.0).toMap
    var bias = 0.0
    (0 until ITERS).foreach { _ =>
      val prs = docs.map { case (f, y) =>
        val raw = f.map { case (b, v) => v * w(b) }.sum
        (f, y, 1.0 / (1.0 + math.exp(-(raw + bias))))
      }
      val g = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      prs.foreach { case (f, y, pr) =>
        f.foreach { case (b, v) => g(b) += (pr - y) * v / nDocs } }
      val gb = prs.map { case (_, y, pr) => pr - y }.sum / nDocs
      w = w.map { case (b, v) => b -> q6(v - LR * g(b)) }
      bias = q6(bias - LR * gb)
    }
    val expected = w + (-1L -> bias)
    assert(got.keySet == expected.keySet)
    got.foreach { case (b, v) =>
      assert(math.abs(v - expected(b)) < 2e-6, s"bucket $b: $v vs ${expected(b)}")
    }
    // the planted tokens' buckets separate with the right signs
    assert(got(bucket("excellent")) > 0.05, got.toString)
    assert(got(bucket("spam")) < -0.05, got.toString)
  }

  test("CorpusOps.bigramLmScore trainPred: counts come only from the train slice, all rows scored") {
    import graft.ops.CorpusOps
    val rows = Seq(
      (1L, "a b a b", true),  // train: bigrams ab ba ab
      (2L, "a b c", true),    // train: ab bc
      (3L, "c c c c", false)  // scored but NOT trained on
    ).toDF("doc_id", "text", "tr")
    val got = CorpusOps.bigramLmScore(rows, "doc_id", "text",
        vocabTopK = 8, bigramTopK = 64, trainPred = Some(col("tr")))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // train counts: uni a=3 b=3 c=1; bi ab=3 ba=1 bc=1 (cc absent)
    def lp(bi: Long, uni: Long) = math.log((bi + 1).toDouble / (uni + 8))
    val d3 = (lp(0, 1) + lp(0, 1) + lp(0, 1)) / 3 // cc unseen, c trained once
    assert(math.abs(got(3L) - d3) < 1e-12)
    val d1 = (lp(3, 3) + lp(1, 3) + lp(3, 3)) / 3
    assert(math.abs(got(1L) - d1) < 1e-12)
    // default (no trainPred) trains on everything: doc 3's cc bigrams
    // now have evidence, so its score strictly improves
    val all = CorpusOps.bigramLmScore(rows, "doc_id", "text",
        vocabTopK = 8, bigramTopK = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(all(3L) > got(3L))
  }

  test("CorpusOps.doremiWeights: EG replay matches an independent loop, high-excess domain upweighted, smoothing floor holds") {
    import graft.ops.CorpusOps
    // domain A: gibberish relative to the reference slice (high excess
    // potential); domain B: text matching the reference slice
    val ref = "the quick brown fox jumps over the lazy dog and runs far " * 8
    val rows = Seq(
      (1L, ref, "B"), (2L, ref + " the quick brown fox", "B"),
      (3L, "zq xv qk jw zz qx vv kk zq xv", "A"),
      (4L, "zq xv qk jw zz qx vv kk jw qk", "A"),
      (5L, "the quick brown fox jumps over the lazy dog", "B")
    ).toDF("doc_id", "text", "dom")
    val refPred = length(col("text")) > 100
    val got = CorpusOps.doremiWeights(rows, "doc_id", "text", "dom",
        refPred, rounds = 4, eta = 1.0, smoothing = 0.1)
      .orderBy(col("domain")).collect()
    assert(got.map(_.getString(0)).toSeq == Seq("A", "B"))
    val w = got.map(r => r.getString(0) -> r.getDouble(3)).toMap
    // weights sum to 1 up to rounding; floor c/K = 0.05 respected
    assert(math.abs(w.values.sum - 1.0) < 1e-5, w.toString)
    assert(w.values.forall(_ >= 0.05 - 1e-9), w.toString)
    // independent replay of the published update from the excess column
    val e = got.map(r => if (r.isNullAt(2)) 0.0 else r.getDouble(2))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var a = Array.fill(2)(0.5)
    for (_ <- 1 to 4) {
      val u = Array.tabulate(2)(i => a(i) * math.exp(e(i)))
      val z = u.sum
      a = Array.tabulate(2)(i => r6(0.9 * u(i) / z + 0.05))
    }
    assert(got.map(_.getDouble(3)).toSeq == a.toSeq)
  }

  test("CorpusOps.contrastiveSelect: ranks by clipped excess desc, id tiebreak, k bound, null-evidence excluded") {
    import graft.ops.CorpusOps
    val ref = "the quick brown fox jumps over the lazy dog and runs far " * 8
    val rows = Seq(
      (1L, ref), (2L, ref + " the quick brown fox"),
      (3L, "zq xv qk jw zz qx vv kk"),
      (4L, "the quick brown fox jumps over the lazy dog"),
      (5L, "x") // no bigrams → excluded
    ).toDF("doc_id", "text")
    val refPred = length(col("text")) > 100
    val got = CorpusOps.contrastiveSelect(rows, "doc_id", "text", refPred, k = 3)
      .orderBy(col("rank")).collect()
    assert(got.length == 3)
    assert(got.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(!got.map(_.getLong(1)).contains(5L))
    val ex = got.map(_.getDouble(2))
    assert(ex.sameElements(ex.sortBy(-_: Double)), ex.toSeq.toString)
    assert(ex.forall(_ >= 0.0))
    // ids are a deterministic tiebreak within equal excess
    val pairs = got.map(r => (r.getDouble(2), r.getLong(1)))
    assert(pairs.sameElements(pairs.sortBy { case (e2, id) => (-e2, id) }))
  }

  test("SkewOps.heavyKeys: planted skew found with exact counts, strict phi cut, layout-invariant") {
    import graft.ops.SkewOps
    // key 7 owns 50% of rows, key 8 owns 25%, the rest are singletons
    val rows = (Seq.fill(60)(7L) ++ Seq.fill(30)(8L) ++ (100L until 130L))
      .toDF("k")
    val got = SkewOps.heavyKeys(rows, "k", phi = 0.2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("7" -> 60L, "8" -> 30L))
    // strictly-above: a key at EXACTLY phi·n is not heavy
    val exact = (Seq.fill(20)(1L) ++ (200L until 280L)).toDF("k") // 20 of 100 = 0.2
    assert(SkewOps.heavyKeys(exact, "k", phi = 0.2).count() == 0)
    val again = SkewOps.heavyKeys(rows.repartition(7), "k", phi = 0.2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("SkewOps.saltedJoin: row-multiset equals the plain join, salted path engaged, light keys untouched") {
    import graft.ops.SkewOps
    val big = ((1 to 500).map(i => (7L, s"h$i")) ++
      (1 to 40).map(i => (i.toLong + 100, s"l$i"))).toDF("k", "payload")
    val right = ((100L to 141L) :+ 7L).map(k => (k, s"dim$k")).toDF("k", "dim")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "payload", "dim").collect()
        .map(_.toString).sorted.toSeq
    val plain = canon(big.join(right, Seq("k")))
    val salted = SkewOps.saltedJoin(big, right, "k", saltFactor = 4, phi = 0.3)
    assert(canon(salted) == plain)
    // detection found key 7 only → the join runs on (k, _salt)
    assert(salted.queryExecution.analyzed.toString.contains("_salt"))
    // explicit heavy list skips detection and still matches
    val explicit = SkewOps.saltedJoin(big, right, "k", saltFactor = 4,
      heavy = Some(Seq("7")))
    assert(canon(explicit) == plain)
    // no heavy keys → falls back to the plain join
    val none = SkewOps.saltedJoin(big.filter(col("k") =!= 7L), right, "k",
      saltFactor = 4, phi = 0.9)
    assert(!none.queryExecution.analyzed.toString.contains("_salt"))
  }

  test("ShardOps.packBins: worked example, equality with a doc-by-doc best-fit simulator, invariants, layout-invariant") {
    import graft.ops.ShardOps
    import scala.collection.mutable
    // worked example: lengths 5,4,3,3,2,1 at capacity 8 → 3 bins
    val ex = Seq((0L, 5L), (1L, 4L), (2L, 3L), (3L, 3L), (4L, 2L), (5L, 1L))
      .toDF("id", "n")
    val exGot = ShardOps.packBins(ex, "id", "n", 8L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getInt(4)))).toMap
    assert(exGot == Map(0L -> ((0L, 0)), 1L -> ((1L, 0)), 2L -> ((0L, 1)),
      3L -> ((1L, 1)), 4L -> ((2L, 0)), 5L -> ((1L, 2))), exGot.toString)

    // random corpus vs an INDEPENDENT doc-by-doc simulator of the same
    // policy (best fit, FIFO class entry, lowest id)
    val rng = new scala.util.Random(7)
    val docs = (0L until 300L).map(id => (id, 1L + rng.nextInt(64).toLong))
    val cap = 64L
    val got = ShardOps.packBins(docs.toDF("id", "n"), "id", "n", cap)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getInt(4)))).toMap
    final case class Bin(id: Long, var res: Long, var slots: Int, var entry: Long)
    val bins = mutable.ArrayBuffer.empty[Bin]
    var seq = 0L; var nextId = 0L
    val expect = mutable.Map.empty[Long, (Long, Int)]
    for ((id, l) <- docs.sortBy { case (i, l) => (-l, i) }) {
      val cands = bins.filter(_.res >= l)
      if (cands.isEmpty) {
        val b = Bin(nextId, cap - l, 1, { seq += 1; seq }); nextId += 1
        bins += b; expect(id) = (b.id, 0)
      } else {
        val minRes = cands.map(_.res).min
        val b = cands.filter(_.res == minRes).minBy(x => (x.entry, x.id))
        expect(id) = (b.id, b.slots)
        b.res -= l; b.slots += 1; b.entry = { seq += 1; seq }
      }
    }
    assert(got == expect.toMap)
    // invariants: fill ≤ cap, dense bins, dense slots, every doc placed
    val byBin = docs.toMap
    val fills = got.toSeq.groupBy(_._2._1)
      .map { case (b, xs) => b -> xs.map(x => byBin(x._1)).sum }
    assert(fills.values.forall(_ <= cap))
    assert(got.size == docs.size)
    val binIds = got.values.map(_._1).toSet
    assert(binIds == (0L until binIds.size).toSet)
    got.toSeq.groupBy(_._2._1).foreach { case (_, xs) =>
      assert(xs.map(_._2._2).sorted == (0 until xs.size))
    }
    // lower bound on quality: within 30% of the fractional optimum
    val lb = math.ceil(docs.map(_._2).sum.toDouble / cap)
    assert(binIds.size <= math.ceil(lb * 1.3), s"${binIds.size} bins vs lb $lb")
    // deterministic under relayout
    val again = ShardOps.packBins(docs.toDF("id", "n").repartition(11),
        "id", "n", cap)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getInt(4)))).toMap
    assert(again == got)
  }

  test("ImportanceOps.distributionDrift: zero on identical corpora, positive on disjoint, layout-invariant") {
    import graft.ops.ImportanceOps
    val a = Seq.tabulate(50)(i => s"alpha beta gamma delta token$i").toDF("text")
    val sameDrift = ImportanceOps.distributionDrift(a, a, "text", buckets = 256)
      .head()
    assert(sameDrift.getDouble(2) == 0.0 && sameDrift.getDouble(3) == 0.0)
    assert(sameDrift.getLong(0) == sameDrift.getLong(1))
    val b = Seq.tabulate(50)(i => s"zulu yankee xray whiskey other$i").toDF("text")
    val d = ImportanceOps.distributionDrift(a, b, "text", buckets = 256).head()
    // disjoint vocab drifts hard; Laplace mass (256 buckets vs ~250
    // tokens) dampens the raw numbers, so the floor is conservative
    assert(d.getDouble(2) > 0.3, s"kl ${d.getDouble(2)}")
    assert(d.getDouble(3) > 0.3 && d.getDouble(3) <= 1.0)
    val d2 = ImportanceOps.distributionDrift(a.repartition(5), b.repartition(3),
      "text", buckets = 256).head()
    assert(d2.getDouble(2) == d.getDouble(2) && d2.getDouble(3) == d.getDouble(3))
  }

  test("SimilarityOps.minePairs: positives from own cluster, negatives never partners, margins separate") {
    import graft.ops.SimilarityOps
    // two tight clusters on orthogonal axes + isolated noise vectors;
    // dense ids 0..9 (the contract)
    val dims = 8
    def v(axis: Int, eps: Double, at: Int) =
      Array.tabulate(dims)(i =>
        (if (i == axis) 1.0f else 0.0f) + (if (i == at) eps.toFloat else 0.0f))
    val rows = Seq(
      (0L, v(0, 0.01, 3)), (1L, v(0, 0.02, 3)), (2L, v(0, 0.015, 4)), // cluster A
      (3L, v(1, 0.01, 5)), (4L, v(1, 0.02, 5)),                       // cluster B
      (5L, v(2, 0.0, 0)), (6L, v(3, 0.0, 0)), (7L, v(4, 0.0, 0)),
      (8L, v(5, 0.0, 0)), (9L, v(6, 0.0, 0))
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.minePairs(rows, "vec_id", "embedding",
        threshold = 0.9, dims = dims, bands = 1, rowsPerBand = 1, negCands = 8)
      .collect()
    assert(got.nonEmpty)
    val partners = Map(0L -> Set(1L, 2L), 1L -> Set(0L, 2L), 2L -> Set(0L, 1L),
      3L -> Set(4L), 4L -> Set(3L))
    got.foreach { r =>
      val (a, p, pc, n, nc) = (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4))
      assert(partners(a).contains(p), s"anchor $a positive $p")
      assert(!partners(a).contains(n) && n != a, s"anchor $a negative $n")
      assert(pc > 0.9 && nc < 0.5, s"margin violated: $pc vs $nc")
    }
    // deterministic under relayout
    val again = SimilarityOps.minePairs(rows.repartition(5), "vec_id",
        "embedding", threshold = 0.9, dims = dims, bands = 1,
        rowsPerBand = 1, negCands = 8)
      .collect().map(_.toString).toSeq
    assert(again == got.map(_.toString).toSeq)
  }
}
