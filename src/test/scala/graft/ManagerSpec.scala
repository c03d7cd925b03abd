package graft

import org.apache.spark.sql.functions._

import graft.api._
import graft.core._
import graft.ext._

/** End-to-end manager behavior — ports the shape of the reference's
  * integration tests (tests/test_manager.py) with scripted traits and a
  * fixed clock (FIXTURES.md §1-3).
  */
class ManagerSpec extends SparkSuite {

  private val T0 = 1700000000000L

  private def mkManager(
      outputs: Seq[Extraction] = Nil,
      decisions: Seq[Seq[Decision]] = Nil,
      config: MemoryConfig = MemoryConfig(userId = "alice")
  ): MemoryManager = {
    var tick = 0L
    new MemoryManager(
      spark, config, new GraphStore(spark),
      new MockEmbedder(config.embeddingDimensions),
      new ScriptedExtractor(outputs),
      if (decisions.isEmpty) new AddAllReconciler else new ScriptedReconciler(decisions),
      reranker = Some(new HashReranker),
      clock = () => { tick += 1; T0 + tick * 1000 }
    )
  }

  test("add(infer=false) inserts and search finds it") {
    val m = mkManager()
    val r = m.add("Alice works at Acme Corp", infer = false, now = Some(T0))
    assert(r.events.map(_.event) == Seq("ADD"))
    assert(r.events.head.memoryId.contains("1"))
    val hits = m.search("Alice works at Acme Corp", k = 5)
    assert(hits.nonEmpty)
    assert(hits.head.memoryId == "1")
    assert(hits.head.text == "Alice works at Acme Corp")
    // same-text query embeds identically → cosine 1 (± fp) dominates
    assert(hits.head.score > 0.99)
  }

  test("add(infer=true) extracts facts and entities, creates graph edges") {
    val m = mkManager(outputs = Seq(Extraction(
      facts = Seq("alice works at acme corp"),
      entities = Seq(ExtractedEntity("alice", "person"),
        ExtractedEntity("acme_corp", "organization")),
      relations = Seq(ExtractedRelation("alice", "acme_corp", "works_at")))))
    val r = m.add("Alice works at Acme Corp", now = Some(T0))
    assert(r.events.map(_.event) == Seq("ADD"))
    assert(m.store.entities.count() == 2)
    val he = m.store.edges.filter(col("edge_type") === EdgeTypes.HasEntity)
    assert(he.count() == 2) // memory -> each entity
    val rel = m.store.edges.filter(col("edge_type") === EdgeTypes.Relation)
    assert(rel.count() == 1)
    assert(m.history("1").map(_.event) == Seq("ADD"))
  }

  test("empty facts → no events") {
    val m = mkManager(outputs = Seq(Extraction(Nil, Nil, Nil)))
    assert(m.add("hmm", now = Some(T0)).events.isEmpty)
  }

  test("UPDATE supersede chain: expiry + SUPERSEDES + inherited entity edges + history") {
    val m = mkManager(
      outputs = Seq(
        Extraction(Seq("alice works at acme"), Seq(ExtractedEntity("alice", "person")), Nil),
        Extraction(Seq("alice works at beta"), Seq(ExtractedEntity("beta", "org")), Nil)),
      // first add hits the no-candidates fast path (all-ADD, reconciler
      // NOT consulted, reconciliation/memories.py:88-90); only the second
      // add consumes a scripted decision. Threshold 0 so it finds the
      // first memory as a candidate.
      decisions = Seq(
        Seq(Decision(DecisionAction.Update, "alice works at beta", Some(1L)))),
      config = MemoryConfig(userId = "alice", reconciliationThreshold = 0.0)
    )
    val m2 = m // alias
    m2.add("Alice works at Acme", now = Some(T0))
    val r2 = m2.add("Alice moved to Beta", now = Some(T0 + 10000))
    assert(r2.events.map(_.event) == Seq("UPDATE"))
    assert(r2.events.head.memoryId.contains("2"))
    assert(r2.events.head.previousText.contains("alice works at acme"))

    val old = m2.store.memories.filter(col("id") === 1).collect().head
    assert(!old.isNullAt(old.fieldIndex("expired_at")))
    val sup = m2.store.edges.filter(col("edge_type") === EdgeTypes.Supersedes)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sup.toSeq == Seq((2L, 1L)))
    // inherited: memory 2 gets memory 1's alice edge + its own beta edge
    val he2 = m2.store.edges
      .filter(col("edge_type") === EdgeTypes.HasEntity && col("src") === 2)
      .select("dst").collect().map(_.getLong(0)).toSet
    assert(he2 == Set(1L, 2L)) // entity ids: alice=1, beta=2
    assert(m2.history("2").map(_.event) == Seq("UPDATE"))
    // expired memory no longer surfaces in search
    val hits = m2.search("alice", k = 10)
    assert(!hits.exists(_.memoryId == "1"))
  }

  test("DELETE decision expires with history; delete-without-target skipped") {
    val m = mkManager(
      outputs = Seq(
        Extraction(Seq("fact a"), Nil, Nil),
        Extraction(Seq("drop it"), Nil, Nil)),
      decisions = Seq(
        // first add = fast path; this is consumed by the second add
        Seq(Decision(DecisionAction.Delete, "", Some(1L)),
          Decision(DecisionAction.Delete, "", None))),
      config = MemoryConfig(userId = "alice", reconciliationThreshold = 0.0)
    )
    m.add("a", now = Some(T0))
    val r = m.add("b", now = Some(T0 + 1000))
    assert(r.events.map(_.event) == Seq("DELETE"))
    assert(m.getAll().isEmpty)
    assert(m.getAll(includeExpired = true).size == 1)
    assert(m.history("1").map(_.event) == Seq("ADD", "DELETE"))
  }

  test("multi-tenant scope isolation") {
    val store = new GraphStore(spark)
    def mgr(user: String) = new MemoryManager(spark,
      MemoryConfig(userId = user), store, new MockEmbedder(16),
      new ScriptedExtractor(Nil), new AddAllReconciler)
    val ma = mgr("alice"); val mb = mgr("bob")
    ma.add("alice secret", infer = false, now = Some(T0))
    mb.add("bob secret", infer = false, now = Some(T0))
    assert(ma.getAll().map(_.text) == Seq("alice secret"))
    assert(mb.getAll().map(_.text) == Seq("bob secret"))
    assert(ma.search("secret", k = 10).forall(_.text == "alice secret"))
    assert(mb.deleteAll() == 1L)
    assert(ma.getAll().size == 1)
  }

  test("scoped hybrid candidates: tenant starved by global top-k still gets results") {
    val store = new GraphStore(spark)
    def mgr(user: String, scoped: Boolean) = new MemoryManager(spark,
      MemoryConfig(userId = user, scopedHybridCandidates = scoped),
      store, new MockEmbedder(16), new ScriptedExtractor(Nil), new AddAllReconciler)
    // crowd the store: the global candidate page (fetchK=max(50,4k))
    // fills with alice rows that all embed closer to the query text
    val ma = mgr("alice", scoped = false)
    (1 to 60).foreach(i => ma.add(s"common topic note $i", infer = false, now = Some(T0)))
    val mb = mgr("bob", scoped = false)
    mb.add("bob niche fact", infer = false, now = Some(T0))
    // faithful mode: bob's row may or may not survive the global page —
    // scoped mode MUST return it
    val hits = mgr("bob", scoped = true).search("common topic note 1", k = 5)
    assert(hits.nonEmpty)
    assert(hits.forall(_.userId == "bob"))
  }

  test("batched entity upsert: Spark job count does not scale with entity count") {
    def run(nEnts: Int): Long = {
      val ents = (1 to nEnts).map(i => ExtractedEntity(s"e$i", "t"))
      val m = mkManager(outputs = Seq(Extraction(Seq("f"), ents, Nil)))
      SparkJobs.count(spark)(m.add("msg", now = Some(T0))).toLong
    }
    val one = run(1)
    val eight = run(8)
    // one lookup + one append regardless of entity count (was ~2 jobs
    // per entity); allow small constant slack for AQE stages
    assert(eight <= one + 2, s"jobs grew with entity count: $one -> $eight")
  }

  test("stats relationCount is tenant-scoped on a shared store") {
    val store = new GraphStore(spark)
    def mgr(user: String) = new MemoryManager(spark,
      MemoryConfig(userId = user), store, new MockEmbedder(16),
      new ScriptedExtractor(Seq(Extraction(Seq(s"$user works at acme"),
        Seq(ExtractedEntity(s"${user}_self", "p"), ExtractedEntity("acme", "o")),
        Seq(ExtractedRelation(s"${user}_self", "acme", "works_at"))))),
      new AddAllReconciler)
    mgr("bob").add("Bob works at Acme", now = Some(T0))
    assert(mgr("alice").stats().relationCount == 0) // bob's edge invisible
    assert(mgr("bob").stats().relationCount == 1)
  }

  test("search results carry relation triples (J6/F8)") {
    val m = mkManager(outputs = Seq(Extraction(
      facts = Seq("alice works at acme corp"),
      entities = Seq(ExtractedEntity("alice", "person"),
        ExtractedEntity("acme_corp", "organization")),
      relations = Seq(ExtractedRelation("alice", "acme_corp", "works_at")))))
    m.add("Alice works at Acme Corp", now = Some(T0))
    val hits = m.search("alice works at acme corp", k = 5)
    assert(hits.nonEmpty)
    assert(hits.head.relations ==
      Seq(RelationTriple("alice", "works_at", "acme_corp")))
    // memories without relations stay empty, not null
    m.add("unrelated note", infer = false, now = Some(T0))
    val plain = m.search("unrelated note", k = 1)
    assert(plain.head.relations.isEmpty)
  }

  test("community context (G4): entity names map to their communities") {
    val m = mkManager(
      outputs = Seq(Extraction(Seq("alice and bob work at acme"),
        Seq(ExtractedEntity("alice", "person"), ExtractedEntity("bob", "person"),
          ExtractedEntity("acme", "org")),
        Seq(ExtractedRelation("alice", "acme", "works_at"),
          ExtractedRelation("bob", "acme", "works_at")))),
      config = MemoryConfig(userId = "alice", enableGraphAlgorithms = true,
        enableCommunitySummaries = true))
    m.add("Alice and Bob work at Acme", now = Some(T0))
    m.search("anything", k = 1) // triggers community materialization
    val ctx = m.getCommunityContext(Seq("ALICE")) // case-insensitive
    assert(ctx.nonEmpty)
    assert(ctx.head.memberEntities.contains("alice"))
    assert(ctx.head.memberCount >= 2)
    assert(m.getCommunityContext(Seq("nobody")).isEmpty)
    assert(m.getCommunityContext(Nil).isEmpty)
  }

  test("stats counts by type and expiry") {
    val m = mkManager()
    m.add("s1", infer = false, now = Some(T0))
    m.add("p1", memoryType = "procedural", infer = false, now = Some(T0))
    m.add("e1", memoryType = "episodic", infer = false, now = Some(T0))
    val s = m.stats()
    assert(s.totalMemories == 3)
    assert(s.semanticCount == 1 && s.proceduralCount == 1 && s.episodicCount == 1)
    assert(s.expiredCount == 0)
  }

  test("update (W4) overwrites text and records history") {
    val m = mkManager()
    m.add("old text", infer = false, now = Some(T0))
    assert(m.update("1", "new text", now = Some(T0 + 5000)))
    val cur = m.store.memories.filter(col("id") === 1)
      .select("text", "updated_at").collect().head
    assert(cur.getString(0) == "new text")
    assert(cur.getLong(1) == T0 + 5000)
    assert(m.history("1").map(_.event) == Seq("ADD", "UPDATE"))
    assert(!m.update("99", "nope"))
  }

  test("setImportance validates range and patches") {
    val m = mkManager(config = MemoryConfig(userId = "alice", enableImportance = true))
    m.add("x", infer = false, now = Some(T0))
    assert(m.setImportance("1", 0.25))
    intercept[IllegalArgumentException](m.setImportance("1", 1.5))
    val imp = m.store.memories.filter(col("id") === 1)
      .select("importance").collect().head.getDouble(0)
    assert(imp == 0.25)
  }

  test("per-call importance on add/addBatch stored when importance enabled") {
    val m = mkManager(config = MemoryConfig(userId = "alice", enableImportance = true))
    m.add("weighty", infer = false, importance = 0.4, now = Some(T0))
    m.addBatch(Seq("bulk"), importance = 0.7, now = Some(T0))
    val imp = m.store.memories.orderBy(col("id"))
      .select(col("importance")).collect().map(_.getDouble(0)).toSeq
    assert(imp == Seq(0.4, 0.7))
    // importance disabled → column stays null regardless of the arg
    val m2 = mkManager()
    m2.add("plain", infer = false, importance = 0.4, now = Some(T0))
    assert(m2.store.memories.select(col("importance")).collect().head.isNullAt(0))
  }

  test("LEADS_TO session chain (J11) and temporal chain walk (J7)") {
    val m = mkManager()
    m.add("first", infer = false, runId = Some("r1"), now = Some(T0))
    m.add("second", infer = false, runId = Some("r1"), now = Some(T0 + 1000))
    m.add("third", infer = false, runId = Some("r1"), now = Some(T0 + 2000))
    val lt = m.store.edges.filter(col("edge_type") === EdgeTypes.LeadsTo)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lt == Set((1L, 2L), (2L, 3L)))
    // reference semantics: origin excluded, hydrated entries, forward
    // default; "both" dedups across legs and sorts the merged list by
    // created_at (manager.py:1556-1568)
    val fwd = m.temporalChain("1", maxDepth = 5)
    assert(fwd.map(_.memoryId) == Seq("2", "3"))
    assert(fwd.head.text == "second" && fwd.head.createdAt.contains(T0 + 1000))
    assert(m.temporalChain("2", maxDepth = 5).map(_.memoryId) == Seq("3"))
    assert(m.temporalChain("2", maxDepth = 5, direction = "both")
      .map(_.memoryId) == Seq("1", "3"))
  }

  test("episodes mode (W11): PRODUCED + NEXT_EPISODE chains, no LEADS_TO") {
    val m = mkManager(config = MemoryConfig(userId = "alice", enableEpisodes = true))
    m.add("msg one", infer = false, runId = Some("r1"), now = Some(T0))
    m.add("msg two", infer = false, runId = Some("r1"), now = Some(T0 + 1000))
    assert(m.store.episodes.count() == 2)
    assert(m.store.edges.filter(col("edge_type") === EdgeTypes.Produced).count() == 2)
    assert(m.store.edges.filter(col("edge_type") === EdgeTypes.LeadsTo).count() == 0)
    val ne = m.store.edges.filter(col("edge_type") === EdgeTypes.NextEpisode)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ne.toSeq == Seq((1L, 2L)))
  }

  test("bitemporal: point-in-time search over validity intervals (F5)") {
    // mirrors tests/test_bitemporal.py:189-286 — two NON-expired memories
    // with explicit valid_at/invalid_at; PIT selects by validity interval
    import spark.implicits._
    val m = mkManager(config = MemoryConfig(userId = "alice"))
    val jan = 1704067200000L; val jun = 1717200000000L
    val mar = 1709251200000L; val jul = 1719792000000L
    m.add("alice works at acme", infer = false, now = Some(jan))
    m.add("alice works at globex", infer = false, now = Some(jun))
    m.store.patchMemories(
      Seq((1L, Some(jan), Some(jun)), (2L, Some(jun), None: Option[Long]))
        .toDF("id", "valid_at", "invalid_at"),
      Seq("valid_at", "invalid_at"))
    val atJul = m.search("alice works", k = 10, pointInTime = Some(jul))
      .map(_.memoryId).toSet
    assert(atJul.contains("2") && !atJul.contains("1"))
    val atMar = m.search("alice works", k = 10, pointInTime = Some(mar))
      .map(_.memoryId).toSet
    assert(atMar.contains("1") && !atMar.contains("2"))
  }

  test("bitemporal UPDATE stamps invalid_at on the superseded memory (W2)") {
    val m = mkManager(
      outputs = Seq(
        Extraction(Seq("markus joined acme"), Nil, Nil),
        Extraction(Seq("markus joined globex"), Nil, Nil)),
      decisions = Seq(
        Seq(Decision(DecisionAction.Update, "markus joined globex", Some(1L)))),
      config = MemoryConfig(userId = "alice", enableBitemporal = true,
        reconciliationThreshold = 0.0)
    )
    m.add("Markus joined Acme", now = Some(T0))
    m.add("Markus left for Globex", now = Some(T0 + 100000))
    val old = m.store.memories.filter(col("id") === 1).collect().head
    assert(old.getLong(old.fieldIndex("expired_at")) == T0 + 100000)
    // no fact_valid_at annotation → invalid_at falls back to the op ts
    assert(old.getLong(old.fieldIndex("invalid_at")) == T0 + 100000)
  }

  test("min_score filter + memory_type filter in search") {
    val m = mkManager(config = MemoryConfig(userId = "alice"))
    m.add("completely unrelated text about gardening", infer = false, now = Some(T0))
    m.add("target phrase exact", infer = false, now = Some(T0))
    val strict = m.search("target phrase exact", k = 10, minScore = Some(0.9))
    assert(strict.map(_.memoryId) == Seq("2"))
    m.add("proc item", memoryType = "procedural", infer = false, now = Some(T0))
    val typed = m.search("proc item", k = 10, memoryType = Some("procedural"))
    assert(typed.nonEmpty && typed.forall(_.memoryType == "procedural"))
  }

  test("diverse (MMR) search path returns k distinct results") {
    val m = mkManager()
    (1 to 8).foreach(i => m.add(s"note number $i", infer = false, now = Some(T0)))
    val hits = m.search("note number 1", k = 3, diverse = true)
    assert(hits.size == 3)
    assert(hits.map(_.memoryId).distinct.size == 3)
  }

  test("graph branch: entity match surfaces memory with cosine score; agreement bonus") {
    val m = mkManager(
      outputs = Seq(
        Extraction(Seq("alice works at acme"),
          Seq(ExtractedEntity("alice", "person")), Nil),
        // query-entity extraction consumes one scripted output too
        Extraction(Nil, Seq(ExtractedEntity("alice", "person")), Nil))
    )
    m.add("Alice works at Acme", now = Some(T0))
    val hits = m.search("alice", k = 5)
    assert(hits.nonEmpty)
    // memory 1 found by both branches → source both, score boosted
    assert(hits.head.memoryId == "1")
    assert(hits.head.source == "both")
  }

  test("hard delete cascades only MEMORY-endpoint edges (per-label ids overlap)") {
    val m = mkManager(outputs = Seq(
      Extraction(Seq("f1"), Seq(ExtractedEntity("e_a", "t"), ExtractedEntity("e_b", "t"),
        ExtractedEntity("e_c", "t")), Nil),
      Extraction(Seq("f2"), Seq(ExtractedEntity("e_c", "t")), Nil)))
    m.add("one", now = Some(T0))   // memory 1 -> entities 1,2,3
    m.add("two", now = Some(T0 + 1000)) // memory 2 -> entity 3
    // delete memory 3? no — delete memory 2; entity 2 exists with the
    // same id: memory-1→entity-2's HAS_ENTITY edge must SURVIVE
    assert(m.delete("2"))
    val he = m.store.edges.filter(col("edge_type") === EdgeTypes.HasEntity)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(he == Set((1L, 1L), (1L, 2L), (1L, 3L))) // only memory 2's link died
  }

  test("episode PRODUCED edges cover UPDATE events, session chain only ADDs") {
    val m = mkManager(
      outputs = Seq(
        Extraction(Seq("alice lives in paris"), Nil, Nil),
        Extraction(Seq("alice lives in rome"), Nil, Nil)),
      decisions = Seq(
        Seq(Decision(DecisionAction.Add, "alice lives in paris", None)),
        Seq(Decision(DecisionAction.Update, "alice lives in rome", Some(1L)))),
      config = MemoryConfig(userId = "alice", enableEpisodes = true))
    m.add("Alice lives in Paris", now = Some(T0))
    m.add("Alice lives in Rome", now = Some(T0 + 1000))
    // the UPDATE-created memory (id 2) must carry episode provenance
    // (manager.py:1252-1255 links every event.memory_id)
    val prov = m.getProvenance("2")
    assert(prov.map(_.episodeId) == Seq("2"))
    assert(prov.head.producedMemories == Seq("2"))
  }

  test("non-semantic adds reconcile only against their own memory type") {
    // reconciler that UPDATEs whenever ANY candidate is offered — so the
    // semantic twin survives only if type scoping kept it off the page
    val updateIfCandidate = new Reconciler {
      override def reconcile(facts: Seq[String],
          candidates: Seq[(Long, String)]): Seq[Decision] =
        facts.map { f =>
          if (candidates.nonEmpty)
            Decision(DecisionAction.Update, f, Some(candidates.head._1))
          else Decision(DecisionAction.Add, f, None)
        }
    }
    val m = new MemoryManager(spark, MemoryConfig(userId = "alice"),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Seq(
        Extraction(Seq("use tabs for indentation"), Nil, Nil),
        Extraction(Seq("use tabs for indentation"), Nil, Nil))),
      updateIfCandidate)
    m.add("Use tabs", now = Some(T0)) // semantic
    // identical fact text => cosine-1 candidate if types were NOT scoped
    val r = m.add("Use tabs", memoryType = "procedural", now = Some(T0 + 1000))
    assert(r.events.map(_.event) == Seq("ADD")) // no candidates → no UPDATE
    val semantic = m.getAll().filter(_.memoryType == "semantic")
    assert(semantic.size == 1) // the semantic twin was never expired
  }

  test("summarize (W7) consolidates into a summary with DERIVED_FROM provenance") {
    val m = mkManager(config = MemoryConfig(userId = "alice",
      consolidationBatchSize = 3, consolidationPreserveRecent = 1))
    (1 to 4).foreach(i => m.add(s"old fact $i", infer = false, now = Some(T0 + i * 1000)))
    val ids = m.summarize(now = Some(T0 + 100000))
    assert(ids.size == 1) // 3 oldest batched; newest preserved
    val df = m.store.edges.filter(col("edge_type") === EdgeTypes.DerivedFrom)
    assert(df.count() == 3)
    val remaining = m.getAll().map(_.text)
    assert(remaining.contains("old fact 4"))
    assert(remaining.exists(_.startsWith("old fact 1; old fact 2; old fact 3")))
    assert(m.store.memories.filter(col("id") === 1).isEmpty) // hard-deleted
  }

  test("summarize with a multi-summary batch: one DELETE pass, full DERIVED_FROM fan-out") {
    val twoSummaries = new Summarizer {
      override def summarize(texts: Seq[String]): Seq[String] =
        Seq(texts.mkString(" + "), s"${texts.length} memories condensed")
    }
    var tick = 0L
    val m = new MemoryManager(spark,
      MemoryConfig(userId = "alice", consolidationPreserveRecent = 0),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Nil), new AddAllReconciler,
      summarizer = twoSummaries,
      clock = () => { tick += 1; T0 + tick * 1000 })
    m.add("a", infer = false, now = Some(T0))
    m.add("b", infer = false, now = Some(T0 + 1000))
    val ids = m.summarize(now = Some(T0 + 5000))
    assert(ids.size == 2) // both summaries created
    // each original: exactly ONE DELETE history row (was duplicated per
    // summary before the batch-flow fix), plus its original ADD
    Seq("1", "2").foreach { orig =>
      assert(m.history(orig).map(_.event) == Seq("ADD", "DELETE"))
    }
    // every summary derives from every original (2×2 edges)
    val df = m.store.edges.filter(col("edge_type") === EdgeTypes.DerivedFrom)
    assert(df.count() == 4)
    // summaries got ADD history (manager.py:1902)
    ids.foreach(sid => assert(m.history(sid).map(_.event) == Seq("ADD")))
  }

  test("rerank (R4) applies trait scores and truncates") {
    val m = mkManager()
    (1 to 5).foreach(i => m.add(s"text $i", infer = false, now = Some(T0)))
    val hits = m.search("text", k = 3, rerank = true)
    assert(hits.size == 3)
    // HashReranker scores are deterministic — repeated call identical
    val again = m.search("text", k = 3, rerank = true)
    assert(hits.map(r => (r.memoryId, r.score)) == again.map(r => (r.memoryId, r.score)))
  }

  test("config validation rejects bad values") {
    intercept[IllegalArgumentException](MemoryConfig(userId = ""))
    intercept[IllegalArgumentException](MemoryConfig(reconciliationThreshold = 1.5))
    intercept[IllegalArgumentException](MemoryConfig(graphSearchDepth = 3))
    intercept[IllegalArgumentException](MemoryConfig(mmrLambda = -0.1))
    intercept[IllegalArgumentException](MemoryConfig(enableCommunitySummaries = true))
    assert(MemoryConfig(enableCommunitySummaries = true,
      enableGraphAlgorithms = true).enableCommunitySummaries)
  }

  test("addBatch bulk path: one append, ids sequential, history recorded") {
    val m = mkManager()
    val ids = m.addBatch(Seq("b1", "b2", "b3"), now = Some(T0))
    assert(ids == Seq("1", "2", "3"))
    assert(m.getAll().size == 3)
    assert(m.history("2").map(_.event) == Seq("ADD"))
  }

  test("filters: unknown keys use None semantics; metadata.<key> addresses JSON") {
    import graft.ops.FilterOps._
    val m = mkManager()
    m.add("tagged fact", infer = false, metadata = Some("""{"category": "work"}"""),
      now = Some(T0))
    m.add("plain fact", infer = false, now = Some(T0))
    // unknown field: Eq never matches, Ne matches everything (Python None != v)
    assert(m.search("fact", k = 10, filters = Map("no_such_prop" -> Eq("x"))).isEmpty)
    assert(m.search("fact", k = 10, filters = Map("no_such_prop" -> Ne("x"))).size == 2)
    // metadata JSON key addressing (F9 inline decode)
    val tagged = m.search("fact", k = 10,
      filters = Map("metadata.category" -> Eq("work")))
    assert(tagged.map(_.memoryId) == Seq("1"))
  }

  test("usage accumulation (A8) + grouped results (A3)") {
    val m = mkManager()
    m.add("s1 text", infer = false, sessionId = Some("sess-a"), now = Some(T0))
    m.add("s2 text", infer = false, sessionId = Some("sess-b"), now = Some(T0 + 1000))
    m.add("no session", infer = false, now = Some(T0 + 2000))
    m.search("text", k = 10)
    val u = m.usage()
    assert(u("add") == 3 && u("search") == 1)
    val grouped = m.searchGrouped("text", k = 10)
    assert(grouped.keySet == Set("sess-a", "sess-b", "default"))
    assert(grouped("sess-a").map(_.memoryId) == Seq("1"))
  }

  test("explain (R9) traces pipeline stages") {
    val m = mkManager()
    m.add("traced fact", infer = false, now = Some(T0))
    val ex = m.explain("traced fact", k = 5)
    val names = ex.steps.map(_.name)
    assert(names.contains("embed_query"))
    assert(names.contains("hybrid_search"))
    assert(names.contains("merge"))
    assert(names.last == "final")
    assert(ex.results.nonEmpty)
  }

  test("search branches pinned: depth-2 graph, time range, temporal hints, boosts, filters, explain") {
    import graft.ops.FilterOps._
    import spark.implicits._
    val store = new GraphStore(spark)
    def mgr(cfg: MemoryConfig) = new MemoryManager(spark, cfg, store,
      new MockEmbedder(16), new HeuristicExtractor, new AddAllReconciler,
      reranker = Some(new HashReranker), clock = () => T0 + 100000)
    val seed = mgr(MemoryConfig(userId = "alice"))
    Seq(
      "Alice Chen works at Acme Corp.",
      "Acme Corp builds rockets in Texas.",
      "Bob Smith met Alice Chen in Paris.",
      "Paris hosts the Spring Expo.",
      "Dana Lee previously worked at Globex.",
      "Globex moved to Berlin."
    ).zipWithIndex.foreach { case (t, i) => seed.add(t, now = Some(T0 + i * 1000L)) }
    seed.add("garden notes about tomatoes", infer = false, memoryType = "procedural",
      metadata = Some("""{"topic": "garden"}"""), now = Some(T0 + 7000))
    seed.add("garden notes about roses", infer = false,
      metadata = Some("""{"topic": "garden"}"""), now = Some(T0 + 8000))
    seed.add("kitchen notes about bread", infer = false, memoryType = "procedural",
      metadata = Some("""{"topic": "kitchen"}"""), now = Some(T0 + 9000))
    mgr(MemoryConfig(userId = "bob")).add("Alice Chen visits Bob Smith.", now = Some(T0))
    val ids = store.memories.select("id").as[Long].collect().sorted
    store.patchMemories(
      ids.map(i => (i, Some(0.01 * i), Some(0.05 * (i % 3)))).toSeq
        .toDF("id", "pagerank", "betweenness"),
      Seq("pagerank", "betweenness"))
    store.patchMemories(Seq((5L, Some(T0 + 50000))).toDF("id", "expired_at"),
      Seq("expired_at"))

    def fmt(rs: Seq[SearchResult]): Seq[String] =
      rs.map(r => f"${r.memoryId}:${r.score}%.6f:${r.source}")
    val boosted = mgr(MemoryConfig(userId = "alice", graphSearchDepth = 2,
      enableTopologyBoost = true, crossSessionFactor = 0.5))
    val plain = mgr(MemoryConfig(userId = "alice"))
    val ex = boosted.explain("Alice Chen", k = 5)
    val actual = Seq(
      "depth2_boosts" -> fmt(boosted.search("Alice Chen", k = 5)),
      "depth2_relation_hop" -> fmt(boosted.search("Bob Smith", k = 6)),
      "time_range" -> fmt(plain.search("Acme Corp rockets", k = 8,
        timeAfter = Some(T0 + 1000), timeBefore = Some(T0 + 4000))),
      "chrono_hint" -> fmt(plain.search("when did Alice Chen first join", k = 2)),
      "expired_hint" -> fmt(plain.search("Dana Lee previously worked", k = 5)),
      "filters_and_type" -> fmt(plain.search("garden notes", k = 10,
        filters = Map("metadata.topic" -> Eq("garden")),
        memoryType = Some("procedural"))),
      "explain_results" -> fmt(ex.results),
      "explain_steps" -> ex.steps.map(s => s"${s.name}=${s.count}"),
      "importance_topology" -> fmt(mgr(MemoryConfig(userId = "alice",
        enableImportance = true, weightTopology = 0.2, enableStructuralDecay = true,
        enableTopologyBoost = true)).search("Alice Chen rockets", k = 4))
    )
    // recorded on the DataFrame search pipeline (before the bounded-page
    // rewrite); the rewrite must reproduce it exactly
    val expected = Seq[(String, Seq[String])](
      "depth2_boosts" -> Seq("8:0.389105:vector", "3:0.061755:both", "9:0.004095:vector", "6:0.000000:vector", "1:0.000000:both"),
      "depth2_relation_hop" -> Seq("9:0.585519:vector", "4:0.482844:vector", "1:0.000000:both", "2:0.000000:vector", "3:0.000000:both"),
      "time_range" -> Seq("2:0.000000:both", "3:0.000000:vector", "4:0.000000:vector"),
      "chrono_hint" -> Seq("1:0.000000:both", "2:0.000000:vector"),
      "expired_hint" -> Seq("7:0.456497:vector", "6:0.403903:vector", "1:0.296517:vector", "9:0.139300:vector", "8:0.051577:vector"),
      "filters_and_type" -> Seq("7:0.000000:vector"),
      "explain_results" -> Seq("8:0.389105:vector", "3:0.061755:both", "9:0.004095:vector", "6:0.000000:vector", "1:0.000000:both"),
      "explain_steps" -> Seq("embed_query=1", "hybrid_search=5", "graph_search=4", "merge=7", "topology_boost=7", "cross_session_boost=7", "final=5"),
      "importance_topology" -> Seq("3:0.736031:both", "1:0.584976:graph", "7:0.501029:vector", "9:0.489417:vector")
    )
    assert(actual == expected, actual.map { case (n, v) =>
      v.map("\"" + _ + "\"").mkString(s"\"$n\" -> Seq(", ", ", ")") }.mkString(",\n"))
  }

  /** The guarded store of the warm-search guards: 12 entity-bearing
    * memories and 200 bulk rows, searched once so every state is warm.
    */
  private def warmStore(sparkPath: Boolean): (MemoryManager, String) = {
    val store = new GraphStore(spark, checkpointEvery = 1000)
    val m = new MemoryManager(spark,
      MemoryConfig(userId = "alice", enableImportance = true, enableTopologyBoost = true),
      store, new MockEmbedder(16), new HeuristicExtractor, new AddAllReconciler)
    if (sparkPath) m.servingIndex.budget = 0L
    m.addReconcileBatch((1 to 12).map(i =>
      s"Alice Chen met Bob Smith about plan $i. Bob Smith works at Acme Corp."),
      now = Some(T0))
    m.addBatch((1 to 200).map(i => s"bulk note $i"), now = Some(T0))
    val query = "Alice Chen met Bob Smith about plan 3"
    m.search("Bob Smith works", k = 10)
    val hits = m.search(query, k = 10)
    assert(hits.head.text == query && hits.head.source == "both")
    assert(hits.head.relations.nonEmpty)
    (m, query)
  }

  test("job-count guard: a warm search runs a fixed number of Spark jobs") {
    // the Spark path (the serving index's budget forced to 0): entity
    // lookup 1; the candidate action 3 (the BM25, vector and graph legs
    // in one union, whose AQE query stages run as jobs); hydration 1;
    // the page's graph 2 (its entities, then their edges: topology and
    // relations share them); relation names 1 (deterministic per
    // BASELINE §20). A re-introduced exchange or join of the memories
    // table, or a per-step recount, moves this number.
    val (m, query) = warmStore(sparkPath = true)
    val jobs = SparkJobs.run(spark)(m.search(query, k = 10))
    assert(jobs.size == 8, s"warm search ran ${jobs.size} Spark jobs: ${jobs.mkString("; ")}")
  }

  test("job-count guard: a warm search on the serving index runs no Spark job") {
    val (m, query) = warmStore(sparkPath = false)
    val jobs = SparkJobs.run(spark)(m.search(query, k = 10))
    assert(jobs.isEmpty, s"warm search ran ${jobs.size} Spark jobs: ${jobs.mkString("; ")}")
  }

  /** The writes of the post-write guards, each once, on a manager built
    * by [[postWriteManager]].
    */
  private def writesOf(m: MemoryManager, bulk: Seq[String]): Seq[(String, () => Unit)] = Seq(
    "add" -> (() => m.add("Carol Diaz joined Acme Corp as plan lead.", now = Some(T0 + 1))),
    "add(infer = false)" -> (() => m.add("plan notes kept raw", infer = false, now = Some(T0 + 2))),
    "addBatch" -> (() => m.addBatch(Seq("bulk plan a", "", "bulk plan b"), now = Some(T0 + 3))),
    "update" -> (() => m.update(bulk(0), "bulk note rewritten", now = Some(T0 + 4))),
    "delete" -> (() => m.delete(bulk(1))),
    "setImportance" -> (() => m.setImportance(bulk(3), 0.25)),
    "summarize" -> (() => assert(m.summarize(now = Some(T0 + 5)).nonEmpty)),
    "add again" -> (() => m.add("Dan Eve met Alice Chen about plan 9.", now = Some(T0 + 6))),
    "update again" -> (() => m.update(bulk(2), "another rewrite", now = Some(T0 + 7))))

  private def postWriteManager(store: GraphStore, importance: Boolean): (MemoryManager, Seq[String]) = {
    val m = new MemoryManager(spark,
      MemoryConfig(userId = "alice", enableTopologyBoost = true, enableImportance = importance,
        consolidationBatchSize = 100, consolidationPreserveRecent = 0,
        consolidationProtectThreshold = 0.5),
      store, new MockEmbedder(16), new HeuristicExtractor, new AddAllReconciler)
    val bulk = m.addBatch((1 to 40).map(i => s"bulk note $i"), now = Some(T0))
    m.addReconcileBatch((1 to 12).map(i =>
      s"Alice Chen met Bob Smith about plan $i. Bob Smith works at Acme Corp."),
      now = Some(T0 + 1000))
    (m, bulk)
  }

  test("job-count guard: a search right after each kind of write runs the warm search's jobs") {
    // the Spark path: no write makes the next search rebuild a
    // whole-store memo (the BM25 statistics follow the write's deltas on
    // the driver, topology comes from the page's own edges), so the
    // first search after a write runs the jobs of the warm search that
    // repeats it (the candidate action's AQE jobs depend on the data,
    // so the warm count is taken per step), also across a store
    // checkpoint. Without importance scoring a search bumps no access
    // counts, so no store checkpoint falls inside one.
    val every = 12
    val store = new GraphStore(spark, checkpointEvery = every)
    val (m, bulk) = postWriteManager(store, importance = false)
    m.servingIndex.budget = 0L
    val query = "Alice Chen met Bob Smith about plan 3"
    def search(): Seq[String] = SparkJobs.run(spark) {
      val hits = m.search(query, k = 10)
      assert(hits.head.text == query && hits.head.relations.nonEmpty)
    }
    search()
    val checkpointsBefore = store.writeVersion / every
    writesOf(m, bulk).foreach { case (name, write) =>
      write()
      val jobs = search()
      val warm = search()
      assert(jobs.size == warm.size,
        s"search after $name: ${jobs.mkString("; ")}; warm: ${warm.mkString("; ")}")
    }
    assert(store.writeVersion / every > checkpointsBefore, "no store checkpoint fell inside the sequence")
  }

  test("job-count guard: a search right after each kind of write on the serving index runs no Spark job") {
    // the index applies each write's deltas on the driver; the only jobs
    // allowed are the store checkpoint's, in a search whose access bump
    // is the write that triggers it
    val every = 12
    val store = new GraphStore(spark, checkpointEvery = every)
    val (m, bulk) = postWriteManager(store, importance = true)
    val query = "Alice Chen met Bob Smith about plan 3"
    def search(step: String): Unit = {
      val before = store.writeVersion / every
      val jobs = SparkJobs.run(spark) {
        val hits = m.search(query, k = 10)
        assert(hits.head.text == query && hits.head.relations.nonEmpty)
      }
      if (store.writeVersion / every == before)
        assert(jobs.isEmpty, s"search after $step ran ${jobs.size} Spark jobs: ${jobs.mkString("; ")}")
    }
    search("set-up")
    writesOf(m, bulk).foreach { case (name, write) =>
      write()
      search(name)
      search(s"$name, warm")
    }
    IndexCheck.assertFresh(m, Seq(Seq("plan", "acme")), "after the writes")
  }

  test("the maintained serving index equals a fresh build after every write") {
    val store = new GraphStore(spark, checkpointEvery = 5)
    def mgr(user: String, scoped: Boolean) = new MemoryManager(spark,
      MemoryConfig(userId = user, scopedHybridCandidates = scoped, enableImportance = true,
        consolidationBatchSize = 3, consolidationPreserveRecent = 2),
      store, new MockEmbedder(16), new HeuristicExtractor, new AddAllReconciler)
    val alice = mgr("alice", scoped = false)
    val bob = mgr("bob", scoped = true)
    // carol's index is forced off serving: it keeps the Spark path's
    // token table from the same deltas
    val carol = mgr("carol", scoped = true)
    carol.servingIndex.budget = 0L
    val queries = Seq(Seq("plan", "acme"), Seq("note", "note", "bob"), Seq("zebra"))
    def check(step: String): Unit = {
      IndexCheck.assertFresh(alice, queries, s"alice after $step")
      IndexCheck.assertFresh(bob, queries, s"bob after $step")
      IndexCheck.assertFresh(carol, queries, s"carol after $step")
    }
    check("nothing")
    val rnd = new scala.util.Random(11)
    val words = Seq("plan", "acme", "note", "bob", "alice", "report", "plan", "q3")
    def text(): String = Seq.fill(1 + rnd.nextInt(6))(words(rnd.nextInt(words.size))).mkString(" ")
    (1 to 16).foreach { step =>
      val m = Seq(alice, bob, carol)(rnd.nextInt(3))
      val ids = m.getAll().map(_.memoryId)
      val op = step % 7 // every kind of write, in turn
      op match {
        case 0 => m.add(s"Bob Smith met Acme Corp about ${text()}.", now = Some(T0 + step))
        case 1 => m.add(text(), infer = false, now = Some(T0 + step))
        case 2 => m.addBatch(Seq(text(), "", text()), now = Some(T0 + step))
        case 3 if ids.nonEmpty => m.update(ids(rnd.nextInt(ids.size)), text(), now = Some(T0 + step))
        case 4 if ids.nonEmpty => m.delete(ids(rnd.nextInt(ids.size)))
        case 5 if ids.nonEmpty => m.setImportance(ids(rnd.nextInt(ids.size)), 0.5)
        case _ => m.summarize(now = Some(T0 + step))
      }
      check(s"step $step (op $op)")
      // a search bumps access counts: the projection delta of bumpAccess
      if (step % 4 == 0) alice.search("plan acme note", k = 5, now = Some(T0 + step))
    }
    // writes whose rows the driver does not know: the log restarts, so
    // the next search rebuilds
    def fullBuild(step: String)(write: => Unit): Unit = {
      val before = store.writeVersion
      write
      assert(store.rowChangesSince(new Object, before).deltas.isEmpty, step)
      check(step)
    }
    val dir = java.nio.file.Files.createTempDirectory("serving-index").toString
    fullBuild("persist + load") { store.persist(dir); store.load(dir) }
    fullBuild("a DataFrame text patch") {
      import spark.implicits._
      store.patchMemories(Seq((alice.getAll().head.memoryId.toLong, "patched plan text"))
        .toDF("id", "text"), Seq("text"))
    }
    fullBuild("deleteAll")(bob.deleteAll())
    alice.add("plan after the rebuild", infer = false, now = Some(T0 + 99))
    check("an add after the rebuild")
  }

  test("the index's budget counts the graph: rows that fit with edges that do not take the Spark path, collecting no edge") {
    val store = new GraphStore(spark, checkpointEvery = 1000)
    val m = new MemoryManager(spark, MemoryConfig(userId = "alice"),
      store, new MockEmbedder(16), new HeuristicExtractor, new AddAllReconciler)
    m.addBatch((1 to 5).map(i => s"plan note $i"), now = Some(T0))
    // a few kB of rows; 4000 RELATION edges are estimated at ~640 kB
    store.appendEdges((1 to 4000).map(i =>
      EdgeRow(100000L + i, 1L, 2L, EdgeTypes.Relation, Map("relation_type" -> "knows"))))
    def build(budget: Long): (Boolean, Seq[String]) = {
      var index: ServingIndex = null
      val jobs = SparkJobs.run(spark) { index = ServingIndex.fromTables(store, None, budget) }
      (index.contents.head == true, jobs)
    }
    def collects(jobs: Seq[String]): Int = jobs.count(_.startsWith("collect at"))
    val (fits, fitJobs) = build(ServingIndex.DefaultBudget)
    // rows and edges (the store has no entity: that collect runs no job)
    assert(fits && collects(fitJobs) == 2, fitJobs.mkString("; "))
    val (small, smallJobs) = build(100000L)
    assert(!small, "a budget below the graph's estimate still served")
    // the sizing aggregate, the token table's checkpoint and its token
    // counts: no collect of rows, entities or edges
    assert(collects(smallJobs) == 1, smallJobs.mkString("; "))
    // the manager's index: its deltas push it over the same budget
    m.servingIndex.budget = 100000L
    val hits = m.search("plan note 3", k = 3)
    assert(hits.head.text == "plan note 3")
    assert(m.servingIndex.contents.head == false)
  }

  test("a store's managers share the index of their document scope, under one budget") {
    val store = new GraphStore(spark)
    def mgr(user: String, scoped: Boolean, on: GraphStore = store) = new MemoryManager(spark,
      MemoryConfig(userId = user, scopedHybridCandidates = scoped),
      on, new MockEmbedder(16), new HeuristicExtractor, new AddAllReconciler)
    val faithful = mgr("alice", scoped = false).servingIndex
    assert(mgr("bob", scoped = false).servingIndex eq faithful)
    val alice = mgr("alice", scoped = true)
    val bob = mgr("bob", scoped = true)
    assert(mgr("alice", scoped = true).servingIndex eq alice.servingIndex)
    assert(!(bob.servingIndex eq alice.servingIndex) && !(alice.servingIndex eq faithful))
    assert(!(mgr("alice", scoped = false, new GraphStore(spark)).servingIndex eq faithful))
    alice.addBatch((1 to 20).map(i => s"alice note $i"), now = Some(T0))
    bob.addBatch((1 to 30).map(i => s"bob note $i"), now = Some(T0))
    def sync(m: MemoryManager): Boolean = m.servingIndex.synchronized(m.servingIndex.sync())
    assert(sync(alice) && sync(bob))
    val (a, b) = (alice.servingIndex.heldBytes, bob.servingIndex.heldBytes)
    // each index fits the budget alone, not both together: the one that
    // syncs while the other holds its rows leaves serving
    Seq(alice, bob).foreach(_.servingIndex.budget = math.max(a, b) + math.min(a, b) / 2)
    assert(!sync(alice))
    assert(sync(bob))
    assert(alice.search("alice note 7", k = 3).head.text == "alice note 7")
  }

  test("index path and forced Spark path return the same responses") {
    // two stores built by the same script, one searched on the serving
    // index and one on Spark: every response equal, ids in the same
    // order, scores within 1e-12 relative (BM25's per-term sum is the
    // one place whose summation order is not fixed)
    import graft.ops.FilterOps._
    def build(sparkPath: Boolean, scoped: Boolean, depth: Int): Seq[Seq[String]] = {
      val store = new GraphStore(spark, checkpointEvery = 7)
      // texts with "raw" in them get an empty embedding
      val embedder = new Embedder {
        private val mock = new MockEmbedder(16)
        val dimensions = 16
        def embed(texts: Seq[String]): Seq[Array[Float]] =
          texts.map(t => if (t.contains("raw")) Array.empty[Float] else mock.embedOne(t))
      }
      def mgr(user: String) = {
        val m = new MemoryManager(spark,
          MemoryConfig(userId = user, scopedHybridCandidates = scoped, graphSearchDepth = depth,
            enableImportance = true, enableTopologyBoost = true, enableBitemporal = true,
            crossSessionFactor = 0.3),
          store, embedder, new HeuristicExtractor, new AddAllReconciler,
          reranker = Some(new HashReranker), clock = () => T0 + 500000)
        if (sparkPath) m.servingIndex.budget = 0L
        m
      }
      val alice = mgr("alice")
      val bob = mgr("bob")
      val rnd = new scala.util.Random(7)
      val people = Seq("Alice Chen", "Bob Smith", "Carol Diaz", "Dana Lee")
      val orgs = Seq("Acme Corp", "Globex", "Initech")
      val words = Seq("plan", "rockets", "garden", "notes", "review", "launch", "raw")
      def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
      def fact(): String =
        s"${pick(people)} works at ${pick(orgs)}. ${pick(people)} met ${pick(people)} about ${pick(words)}."
      val responses = Seq.newBuilder[Seq[String]]
      def fmt(rs: Seq[SearchResult]): Seq[String] = rs.map(r =>
        s"${r.memoryId}|${r.source}|${r.score}|${r.relations.mkString(",")}")
      def searches(step: Int): Unit = {
        val now = Some(T0 + 100000 + step)
        responses += fmt(alice.search(s"${pick(people)} ${pick(words)}", k = 5, now = now))
        responses += fmt(alice.search(s"when did ${pick(people)} first join", k = 3, now = now))
        responses += fmt(alice.search(s"${pick(people)} previously worked", k = 4, now = now))
        responses += fmt(alice.search(s"${pick(words)} notes", k = 6, memoryType = Some("procedural"),
          filters = Map("metadata.topic" -> Eq("garden")), now = now))
        responses += fmt(alice.search(s"${pick(words)} ${pick(orgs)}", k = 5,
          timeAfter = Some(T0 + 2000), timeBefore = Some(T0 + 40000), now = now))
        responses += fmt(alice.search(s"${pick(people)}", k = 4, pointInTime = Some(T0 + 3000),
          now = now))
        responses += fmt(alice.search(s"${pick(words)} ${pick(people)}", k = 4, diverse = true,
          now = now))
        responses += fmt(alice.search(s"${pick(people)} ${pick(orgs)}", k = 3, rerank = true,
          now = now))
        responses += fmt(bob.search(s"${pick(people)} ${pick(words)}", k = 5, now = now))
        val ex = alice.explain(s"${pick(people)} ${pick(words)}", k = 4)
        responses += fmt(ex.results) ++ ex.steps.map(s => s"${s.name}=${s.count}")
      }
      (1 to 14).foreach { i =>
        val m = if (i % 4 == 0) bob else alice
        i % 7 match {
          case 0 => m.addBatch(Seq(s"${pick(words)} ${pick(words)}", "", fact()), now = Some(T0 + i * 1000L))
          case 1 => m.add(s"${pick(words)} notes about ${pick(words)}", infer = false,
            memoryType = "procedural", metadata = Some("""{"topic": "garden"}"""),
            now = Some(T0 + i * 1000L))
          case _ => m.add(fact(), now = Some(T0 + i * 1000L))
        }
      }
      searches(0)
      val ids = alice.getAll().map(_.memoryId)
      alice.update(ids(1), s"${pick(people)} now works at ${pick(orgs)}.", now = Some(T0 + 60000))
      alice.delete(ids(2))
      alice.setImportance(ids(3), 0.2)
      alice.add(s"${pick(people)} works at ${pick(orgs)}.", now = Some(T0 + 61000)) // expires on UPDATE
      searches(1)
      val dir = java.nio.file.Files.createTempDirectory("index-equivalence").toString
      store.persist(dir)
      store.load(dir)
      searches(2)
      alice.add(fact(), now = Some(T0 + 62000))
      searches(3)
      responses.result()
    }
    def parse(r: String): (String, String, Double, String) = r.split('|') match {
      case Array(id, src, score, rels) => (id, src, score.toDouble, rels)
      case Array(id, src, score) => (id, src, score.toDouble, "")
      case other => (other.mkString("|"), "", 0.0, "")
    }
    for (scoped <- Seq(false, true); depth <- Seq(1, 2)) {
      val index = build(sparkPath = false, scoped, depth)
      val sparkSide = build(sparkPath = true, scoped, depth)
      assert(index.size == sparkSide.size)
      index.zip(sparkSide).zipWithIndex.foreach { case ((a, b), i) =>
        val clue = s"scoped=$scoped depth=$depth response $i:\n  index $a\n  spark $b"
        assert(a.size == b.size, clue)
        a.map(parse).zip(b.map(parse)).foreach { case (x, y) =>
          assert(x._1 == y._1 && x._2 == y._2 && x._4 == y._4, clue)
          assert(math.abs(x._3 - y._3) <= 1e-12 * math.max(1.0, math.abs(y._3)), clue)
        }
      }
    }
  }

  test("addReconcileBatch == sequential add loop on a conflict-free batch") {
    // same scripts, same seeds, same timestamp: the batched path must
    // land the identical store state — memories and history row-for-row
    // (ids included: both paths assign in decision-visit order), edges
    // as a set (edge-id interleaving differs by construction)
    val seedTexts = Seq("s one", "s two", "s three", "s four")
    val T1 = T0 + 50000
    val exts = Seq(
      Extraction(Seq("alice works at acme"), Seq(ExtractedEntity("alice", "person")), Nil),
      Extraction(Seq("bob joined beta"), Seq(ExtractedEntity("bob", "person"),
        ExtractedEntity("beta", "org")), Nil),
      Extraction(Seq("alice moved on"), Seq(ExtractedEntity("alice", "person")), Nil),
      Extraction(Seq("drop the second seed"), Nil, Nil))
    // items 1-2 ADD, item 3 UPDATE target seed 1, item 4 DELETE seed 2 —
    // all targets pre-batch, no intra-batch references
    val decs = Seq(
      Seq(Decision(DecisionAction.Add, "alice works at acme", None)),
      Seq(Decision(DecisionAction.Add, "bob joined beta", None)),
      Seq(Decision(DecisionAction.Update, "alice moved on", Some(1L))),
      Seq(Decision(DecisionAction.Delete, "", Some(2L))))
    val texts = Seq("m1", "m2", "m3", "m4")

    def build(batched: Boolean): GraphStore = {
      val store = new GraphStore(spark)
      val m = new MemoryManager(spark,
        MemoryConfig(userId = "alice", reconciliationThreshold = 0.0),
        store, new MockEmbedder(16),
        new ScriptedExtractor(exts), new ScriptedReconciler(decs))
      m.addBatch(seedTexts, now = Some(T0))
      if (batched)
        m.addReconcileBatch(texts, sessionId = Some("s1"), now = Some(T1))
      else
        texts.foreach(t => m.add(t, sessionId = Some("s1"), now = Some(T1)))
      store
    }
    val seqStore = build(batched = false)
    val batStore = build(batched = true)

    val memCols = Seq("id", "text", "created_at", "expired_at", "session_id",
      "memory_type", "user_id")
    def mems(s: GraphStore) = s.memories
      .select(memCols.head, memCols.tail: _*)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    assert(mems(seqStore).toSeq == mems(batStore).toSeq)
    def hist(s: GraphStore) = s.history
      .select("id", "memory_id", "event", "old_text", "new_text")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(hist(seqStore).toSeq == hist(batStore).toSeq)
    def edgeSet(s: GraphStore) = s.edges
      .select("src", "dst", "edge_type", "props").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getMap[String, String](3).toMap)).toSet
    assert(edgeSet(seqStore) == edgeSet(batStore))
    def ents(s: GraphStore) = s.entities
      .select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ents(seqStore) == ents(batStore))
  }

  test("addReconcileBatch intra-batch semantics: pre-batch targets only, single expiry") {
    // an UPDATE targeting a memory created EARLIER IN THE SAME BATCH
    // must not expire it (pre-batch snapshot contract) but still creates
    // its memory + supersedes edge + UPDATE history with null old_text;
    // two decisions expiring the same pre-batch target expire it once
    val store = new GraphStore(spark)
    val exts = Seq(
      Extraction(Seq("new fact"), Nil, Nil),
      Extraction(Seq("updates the new fact"), Nil, Nil),
      Extraction(Seq("and drop seed twice"), Nil, Nil))
    val decs = Seq(
      Seq(Decision(DecisionAction.Add, "new fact", None)),           // -> id 2
      Seq(Decision(DecisionAction.Update, "updates the new fact", Some(2L))),
      Seq(Decision(DecisionAction.Delete, "", Some(1L)),
        Decision(DecisionAction.Delete, "", Some(1L))))
    val m = new MemoryManager(spark,
      MemoryConfig(userId = "alice", reconciliationThreshold = 0.0),
      store, new MockEmbedder(16),
      new ScriptedExtractor(exts), new ScriptedReconciler(decs))
    m.addBatch(Seq("seed"), now = Some(T0)) // id 1
    val rs = m.addReconcileBatch(Seq("a", "b", "c"), now = Some(T0 + 1000))
    assert(rs.map(_.events.map(_.event)) ==
      Seq(Seq("ADD"), Seq("UPDATE"), Seq("DELETE", "DELETE")))
    // id 2 (batch-created) NOT expired; id 1 expired exactly once
    val expired = store.memories.filter(col("expired_at").isNotNull)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(expired == Set(1L))
    // supersedes edge exists even though the target was intra-batch
    val sup = store.edges.filter(col("edge_type") === EdgeTypes.Supersedes)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sup.toSeq == Seq((3L, 2L)))
    // UPDATE history carries null old_text (target text unknown to the
    // pre-batch snapshot is still resolvable — id 2's text IS known?
    // no: knownTexts covers candidates; id 2 is not a candidate, and the
    // missing-target lookup hits the PRE-batch store, so old_text is null
    val upd = store.history.filter(col("event") === "UPDATE").collect().head
    assert(upd.isNullAt(upd.fieldIndex("old_text")))
    // both DELETE decisions recorded their history
    assert(store.history.filter(col("event") === "DELETE").count() == 2)
  }
  // ---- write-path pins ------------------------------------------------

  /** Embedder that records every `embed` call it receives. */
  private final class RecordingEmbedder(dims: Int) extends Embedder {
    private val inner = new MockEmbedder(dims)
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    override def dimensions: Int = dims
    override def embed(texts: Seq[String]): Seq[Array[Float]] = {
      calls += s"embed(${texts.mkString(",")})"
      inner.embed(texts)
    }
  }

  /** Scripted reconciler that records its calls; relation reconciliation
    * drops every existing triple whose source and type a new relation
    * restates (a person works at one place).
    */
  private final class RecordingReconciler(decisions: Seq[Seq[Decision]])
      extends Reconciler {
    private val inner = new ScriptedReconciler(decisions)
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    override def reconcile(facts: Seq[String],
        candidates: Seq[(Long, String)]): Seq[Decision] = {
      calls += s"reconcile(${facts.mkString(",")}; ${candidates.mkString(",")})"
      inner.reconcile(facts, candidates)
    }
    override def reconcileRelations(newRelations: Seq[ExtractedRelation],
        existing: Seq[ExtractedRelation]): Seq[ExtractedRelation] = {
      calls += s"relations(${newRelations.mkString(",")}; ${existing.mkString(",")})"
      existing.filter(e => newRelations.exists(n =>
        n.source == e.source && n.relationType == e.relationType))
    }
  }

  /** Scripted extractor with per-fact valid_at annotations. */
  private final class TemporalExtractor(outputs: Seq[Extraction],
      validAt: Map[String, Long]) extends Extractor {
    private val inner = new ScriptedExtractor(outputs)
    override def extract(text: String): Extraction = inner.extract(text)
    override def annotateTemporal(facts: Seq[String]): Seq[TemporalAnnotation] =
      facts.zipWithIndex.flatMap { case (f, i) =>
        validAt.get(f).map(v => TemporalAnnotation(i, Some(v), None)) }
  }

  /** Every row of every table, ordered by id; embeddings as a hash. */
  private def dumpStore(s: GraphStore): Seq[String] = {
    def cell(v: Any): String = v match {
      case null => "-"
      case a: scala.collection.Seq[_] if a.headOption.exists(_.isInstanceOf[Float]) || a.isEmpty =>
        s"emb#${a.map(_.toString).mkString(",").hashCode}"
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => s"$k=$x" }.sorted.mkString("{", ",", "}")
      case x => x.toString
    }
    def table(tag: String, df: org.apache.spark.sql.DataFrame, key: String) =
      df.orderBy(col(key)).collect().toSeq.map(r => s"$tag " + r.toSeq.map(cell).mkString("|"))
    table("mem", s.memories, "id") ++ table("his", s.history, "id") ++
      table("edge", s.edges, "edge_id") ++ table("ent", s.entities, "id") ++
      table("epi", s.episodes, "id")
  }

  test("add pins the store, events and model calls of every write-path case") {
    val T1 = T0 + 10000
    def run(config: MemoryConfig, outputs: Seq[Extraction],
        decisions: Seq[Seq[Decision]], validAt: Map[String, Long] = Map.empty)(
        body: MemoryManager => Seq[AddResult]): Seq[String] = {
      val emb = new RecordingEmbedder(16)
      val rec = new RecordingReconciler(decisions)
      val m = new MemoryManager(spark, config, new GraphStore(spark), emb,
        new TemporalExtractor(outputs, validAt), rec, clock = () => T0)
      val results = body(m)
      results.zipWithIndex.flatMap { case (r, i) =>
        r.events.map(e => s"event $i ${e.event}|${e.memoryId.getOrElse("-")}|" +
          s"${e.text}|${e.previousText.getOrElse("-")}") } ++
        dumpStore(m.store) ++ emb.calls.map("call " + _) ++ rec.calls.map("call " + _)
    }
    val cfg = MemoryConfig(userId = "alice", reconciliationThreshold = 0.0)
    val actual = Seq[(String, Seq[String])](
      // rule 3: the UPDATE-created memory is the session predecessor of the ADD
      "update_add_session" -> run(cfg,
        Seq(Extraction(Seq("alice works at acme"), Seq(ExtractedEntity("alice", "person")), Nil),
          Extraction(Seq("alice works at beta", "bob joined beta"),
            Seq(ExtractedEntity("alice", "person"), ExtractedEntity("bob", "person"),
              ExtractedEntity("beta", "org")), Nil)),
        Seq(Seq(Decision(DecisionAction.Update, "alice works at beta", Some(1L)),
          Decision(DecisionAction.Add, "bob joined beta", None)))) { m =>
        Seq(m.add("Alice works at Acme", sessionId = Some("s1"), now = Some(T0)),
          m.add("Alice and Bob at Beta", sessionId = Some("s1"), now = Some(T1)))
      },
      "no_infer_session" -> run(cfg, Nil, Nil) { m =>
        Seq(m.add("first note", infer = false, sessionId = Some("s1"), now = Some(T0)),
          m.add("second note", infer = false, sessionId = Some("s1"), now = Some(T1)))
      },
      "no_infer_session_episodes" -> run(cfg.copy(enableEpisodes = true), Nil, Nil) { m =>
        Seq(m.add("first note", infer = false, sessionId = Some("s1"), now = Some(T0)),
          m.add("second note", infer = false, sessionId = Some("s1"), now = Some(T1)))
      },
      "episodes_entities" -> run(cfg.copy(enableEpisodes = true),
        Seq(Extraction(Seq("alice met bob"),
            Seq(ExtractedEntity("alice", "person"), ExtractedEntity("bob", "person")), Nil),
          Extraction(Seq("bob visits carol"),
            Seq(ExtractedEntity("carol", "person"), ExtractedEntity("bob", "person")), Nil)),
        Seq(Seq(Decision(DecisionAction.Add, "bob visits carol", None)))) { m =>
        Seq(m.add("Alice met Bob", runId = Some("r1"), now = Some(T0)),
          m.add("Bob visits Carol", runId = Some("r1"), now = Some(T1)))
      },
      // rule 4: two decisions on one target, one expiry
      "bitemporal_update_delete" -> run(cfg.copy(enableBitemporal = true),
        Seq(Extraction(Seq("dana lives in oslo"), Seq(ExtractedEntity("dana", "person")), Nil),
          Extraction(Seq("dana lives in rome", "forget oslo"),
            Seq(ExtractedEntity("dana", "person")), Nil)),
        Seq(Seq(Decision(DecisionAction.Update, "dana lives in rome", Some(1L)),
          Decision(DecisionAction.Delete, "", Some(1L)))),
        validAt = Map("dana lives in rome" -> (T0 + 5000))) { m =>
        Seq(m.add("Dana lives in Oslo", now = Some(T0)),
          m.add("Dana moved to Rome", now = Some(T1)))
      },
      // rule 1: entities and relations without facts write nothing
      "entities_no_facts" -> run(cfg,
        Seq(Extraction(Seq("erin likes tea"), Nil, Nil),
          Extraction(Nil, Seq(ExtractedEntity("erin", "person"), ExtractedEntity("tea", "drink")),
            Seq(ExtractedRelation("erin", "tea", "likes")))), Nil) { m =>
        Seq(m.add("Erin likes tea", now = Some(T0)), m.add("Hmm", now = Some(T1)))
      },
      // rule 2: relations reconciled only against existing triples
      "relation_reconciliation" -> run(cfg,
        Seq(Extraction(Seq("alice works at acme"),
            Seq(ExtractedEntity("alice", "person"), ExtractedEntity("acme", "org")),
            Seq(ExtractedRelation("alice", "acme", "works_at"))),
          Extraction(Seq("alice works at beta"),
            Seq(ExtractedEntity("alice", "person"), ExtractedEntity("beta", "org")),
            Seq(ExtractedRelation("alice", "beta", "works_at"))),
          Extraction(Seq("carol knows dave"),
            Seq(ExtractedEntity("carol", "person"), ExtractedEntity("dave", "person")),
            Seq(ExtractedRelation("carol", "dave", "knows")))),
        Seq(Seq(Decision(DecisionAction.Add, "alice works at beta", None)),
          Seq(Decision(DecisionAction.Add, "carol knows dave", None)))) { m =>
        Seq(m.add("Alice works at Acme", now = Some(T0)),
          m.add("Alice works at Beta", now = Some(T1)),
          m.add("Carol knows Dave", now = Some(T1 + 1000)))
      }
    )
    // recorded on the per-row write path; the one write routine must
    // reproduce it exactly
    val expected = Seq[(String, Seq[String])](
      "update_add_session" -> Seq(
        "event 0 ADD|1|alice works at acme|-",
        "event 1 UPDATE|2|alice works at beta|alice works at acme",
        "event 1 ADD|3|bob joined beta|-",
        "mem 1|alice works at acme|alice|1700000000000|1700000000000|1700000000000|semantic|-|-|1700000010000|s1|-|-|-|-|-|-|-|-|-|emb#-90563661|-|-|-|-",
        "mem 2|alice works at beta|alice|1700000010000|1700000010000|1700000010000|semantic|-|-|-|s1|-|-|-|-|-|-|-|-|-|emb#1357709428|-|-|-|-",
        "mem 3|bob joined beta|alice|1700000010000|1700000010000|1700000010000|semantic|-|-|-|s1|-|-|-|-|-|-|-|-|-|emb#-894253453|-|-|-|-",
        "his 1|1|ADD|1700000000000|-|alice works at acme|-|-",
        "his 2|2|UPDATE|1700000010000|alice works at acme|alice works at beta|-|-",
        "his 3|3|ADD|1700000010000|-|bob joined beta|-|-",
        "edge 1|1|1|HAS_HISTORY|{}",
        "edge 2|1|1|HAS_ENTITY|{}",
        "edge 3|2|1|SUPERSEDES|{}",
        "edge 4|2|1|HAS_ENTITY|{}",
        "edge 5|2|2|HAS_HISTORY|{}",
        "edge 6|3|3|HAS_HISTORY|{}",
        "edge 7|2|1|HAS_ENTITY|{}",
        "edge 8|2|2|HAS_ENTITY|{}",
        "edge 9|2|3|HAS_ENTITY|{}",
        "edge 10|3|1|HAS_ENTITY|{}",
        "edge 11|3|2|HAS_ENTITY|{}",
        "edge 12|3|3|HAS_ENTITY|{}",
        "edge 13|2|3|LEADS_TO|{sequence=0}",
        "ent 1|alice|person|alice|-",
        "ent 2|bob|person|alice|-",
        "ent 3|beta|org|alice|-",
        "call embed(alice works at acme)",
        "call embed(alice works at beta,bob joined beta)",
        "call embed(alice works at beta)",
        "call reconcile(alice works at beta,bob joined beta; (1,alice works at acme))"),
      "no_infer_session" -> Seq(
        "event 0 ADD|1|first note|-",
        "event 1 ADD|2|second note|-",
        "mem 1|first note|alice|1700000000000|1700000000000|1700000000000|semantic|-|-|-|s1|-|-|-|-|-|-|-|-|-|emb#-356021839|-|-|-|-",
        "mem 2|second note|alice|1700000010000|1700000010000|1700000010000|semantic|-|-|-|s1|-|-|-|-|-|-|-|-|-|emb#1937236397|-|-|-|-",
        "his 1|1|ADD|1700000000000|-|first note|-|-",
        "his 2|2|ADD|1700000010000|-|second note|-|-",
        "edge 1|1|1|HAS_HISTORY|{}",
        "edge 2|2|2|HAS_HISTORY|{}",
        "edge 3|1|2|LEADS_TO|{sequence=0}",
        "call embed(first note)",
        "call embed(second note)"),
      "no_infer_session_episodes" -> Seq(
        "event 0 ADD|1|first note|-",
        "event 1 ADD|2|second note|-",
        "mem 1|first note|alice|1700000000000|1700000000000|1700000000000|semantic|-|-|-|s1|-|-|-|-|-|-|-|-|-|emb#-356021839|-|-|-|-",
        "mem 2|second note|alice|1700000010000|1700000010000|1700000010000|semantic|-|-|-|s1|-|-|-|-|-|-|-|-|-|emb#1937236397|-|-|-|-",
        "his 1|1|ADD|1700000000000|-|first note|-|-",
        "his 2|2|ADD|1700000010000|-|second note|-|-",
        "edge 1|1|1|HAS_HISTORY|{}",
        "edge 2|1|1|PRODUCED|{}",
        "edge 3|2|2|HAS_HISTORY|{}",
        "edge 4|2|2|PRODUCED|{}",
        "edge 5|1|2|NEXT_EPISODE|{}",
        "epi 1|first note|message|alice|1700000000000|s1|-",
        "epi 2|second note|message|alice|1700000010000|s1|-",
        "call embed(first note)",
        "call embed(second note)"),
      "episodes_entities" -> Seq(
        "event 0 ADD|1|alice met bob|-",
        "event 1 ADD|2|bob visits carol|-",
        "mem 1|alice met bob|alice|1700000000000|1700000000000|1700000000000|semantic|-|-|-|-|-|r1|-|-|-|-|-|-|-|emb#-5122467|-|-|-|-",
        "mem 2|bob visits carol|alice|1700000010000|1700000010000|1700000010000|semantic|-|-|-|-|-|r1|-|-|-|-|-|-|-|emb#976549657|-|-|-|-",
        "his 1|1|ADD|1700000000000|-|alice met bob|-|-",
        "his 2|2|ADD|1700000010000|-|bob visits carol|-|-",
        "edge 1|1|1|HAS_HISTORY|{}",
        "edge 2|1|1|HAS_ENTITY|{}",
        "edge 3|1|2|HAS_ENTITY|{}",
        "edge 4|1|1|PRODUCED|{}",
        "edge 5|1|1|MENTIONS|{}",
        "edge 6|1|2|MENTIONS|{}",
        "edge 7|2|2|HAS_HISTORY|{}",
        "edge 8|2|2|HAS_ENTITY|{}",
        "edge 9|2|3|HAS_ENTITY|{}",
        "edge 10|2|2|PRODUCED|{}",
        "edge 11|2|2|MENTIONS|{}",
        "edge 12|2|3|MENTIONS|{}",
        "edge 13|1|2|NEXT_EPISODE|{}",
        "ent 1|alice|person|alice|-",
        "ent 2|bob|person|alice|-",
        "ent 3|carol|person|alice|-",
        "epi 1|Alice met Bob|message|alice|1700000000000|-|r1",
        "epi 2|Bob visits Carol|message|alice|1700000010000|-|r1",
        "call embed(alice met bob)",
        "call embed(bob visits carol)",
        "call reconcile(bob visits carol; (1,alice met bob))"),
      "bitemporal_update_delete" -> Seq(
        "event 0 ADD|1|dana lives in oslo|-",
        "event 1 UPDATE|2|dana lives in rome|dana lives in oslo",
        "event 1 DELETE|1|dana lives in oslo|dana lives in oslo",
        "mem 1|dana lives in oslo|alice|1700000000000|1700000000000|1700000000000|semantic|-|1700000005000|1700000010000|-|-|-|-|-|-|-|-|-|-|emb#569456633|-|-|-|-",
        "mem 2|dana lives in rome|alice|1700000010000|1700000010000|1700000010000|semantic|1700000005000|-|-|-|-|-|-|-|-|-|-|-|-|emb#14694665|-|-|-|-",
        "his 1|1|ADD|1700000000000|-|dana lives in oslo|-|-",
        "his 2|2|UPDATE|1700000010000|dana lives in oslo|dana lives in rome|-|-",
        "his 3|1|DELETE|1700000010000|dana lives in oslo|-|-|-",
        "edge 1|1|1|HAS_HISTORY|{}",
        "edge 2|1|1|HAS_ENTITY|{}",
        "edge 3|2|1|SUPERSEDES|{}",
        "edge 4|2|1|HAS_ENTITY|{}",
        "edge 5|2|2|HAS_HISTORY|{}",
        "edge 6|1|3|HAS_HISTORY|{}",
        "edge 7|2|1|HAS_ENTITY|{}",
        "edge 8|1|1|HAS_ENTITY|{}",
        "ent 1|dana|person|alice|-",
        "call embed(dana lives in oslo)",
        "call embed(dana lives in rome,forget oslo)",
        "call embed(dana lives in rome)",
        "call reconcile(dana lives in rome,forget oslo; (1,dana lives in oslo))"),
      "entities_no_facts" -> Seq(
        "event 0 ADD|1|erin likes tea|-",
        "mem 1|erin likes tea|alice|1700000000000|1700000000000|1700000000000|semantic|-|-|-|-|-|-|-|-|-|-|-|-|-|emb#-750131715|-|-|-|-",
        "his 1|1|ADD|1700000000000|-|erin likes tea|-|-",
        "edge 1|1|1|HAS_HISTORY|{}",
        "call embed(erin likes tea)"),
      "relation_reconciliation" -> Seq(
        "event 0 ADD|1|alice works at acme|-",
        "event 1 ADD|2|alice works at beta|-",
        "event 2 ADD|3|carol knows dave|-",
        "mem 1|alice works at acme|alice|1700000000000|1700000000000|1700000000000|semantic|-|-|-|-|-|-|-|-|-|-|-|-|-|emb#-90563661|-|-|-|-",
        "mem 2|alice works at beta|alice|1700000010000|1700000010000|1700000010000|semantic|-|-|-|-|-|-|-|-|-|-|-|-|-|emb#1357709428|-|-|-|-",
        "mem 3|carol knows dave|alice|1700000011000|1700000011000|1700000011000|semantic|-|-|-|-|-|-|-|-|-|-|-|-|-|emb#-1413760849|-|-|-|-",
        "his 1|1|ADD|1700000000000|-|alice works at acme|-|-",
        "his 2|2|ADD|1700000010000|-|alice works at beta|-|-",
        "his 3|3|ADD|1700000011000|-|carol knows dave|-|-",
        "edge 1|1|1|HAS_HISTORY|{}",
        "edge 2|1|1|HAS_ENTITY|{}",
        "edge 3|1|2|HAS_ENTITY|{}",
        "edge 5|2|2|HAS_HISTORY|{}",
        "edge 6|2|1|HAS_ENTITY|{}",
        "edge 7|2|3|HAS_ENTITY|{}",
        "edge 8|1|3|RELATION|{relation_type=works_at}",
        "edge 9|3|3|HAS_HISTORY|{}",
        "edge 10|3|4|HAS_ENTITY|{}",
        "edge 11|3|5|HAS_ENTITY|{}",
        "edge 12|4|5|RELATION|{relation_type=knows}",
        "ent 1|alice|person|alice|-",
        "ent 2|acme|org|alice|-",
        "ent 3|beta|org|alice|-",
        "ent 4|carol|person|alice|-",
        "ent 5|dave|person|alice|-",
        "call embed(alice works at acme)",
        "call embed(alice works at beta)",
        "call embed(carol knows dave)",
        "call reconcile(alice works at beta; (1,alice works at acme))",
        "call relations(ExtractedRelation(alice,beta,works_at); ExtractedRelation(alice,acme,works_at))",
        "call reconcile(carol knows dave; (1,alice works at acme),(2,alice works at beta))")
    )
    assert(actual == expected, actual.map { case (n, v) =>
      v.map("\"" + _ + "\"").mkString(s"\"$n\" -> Seq(\n      ", ",\n      ", ")") }
      .mkString(",\n    "))
  }
  test("addReconcileBatch: a fact-less item stores none of its entities or relations") {
    val store = new GraphStore(spark)
    val m = new MemoryManager(spark, MemoryConfig(userId = "alice"), store,
      new MockEmbedder(16),
      new ScriptedExtractor(Seq(
        Extraction(Nil, Seq(ExtractedEntity("erin", "person"), ExtractedEntity("tea", "drink")),
          Seq(ExtractedRelation("erin", "tea", "likes"))),
        Extraction(Seq("frank drinks coffee"), Nil, Nil))),
      new AddAllReconciler)
    val rs = m.addReconcileBatch(Seq("Hmm", "Frank drinks coffee"), now = Some(T0))
    assert(rs.map(_.events.map(_.event)) == Seq(Nil, Seq("ADD")))
    assert(store.entities.isEmpty)
    assert(store.edges.filter(col("edge_type") === EdgeTypes.Relation).isEmpty)
    assert(store.edges.filter(col("edge_type") === EdgeTypes.HasEntity).isEmpty)
  }

  test("addReconcileBatch: several bitemporal decisions on one target keep the last invalid_at") {
    val (v1, v2) = (T0 + 100L, T0 + 200L)
    val store = new GraphStore(spark)
    val m = new MemoryManager(spark,
      MemoryConfig(userId = "alice", enableBitemporal = true, reconciliationThreshold = 0.0),
      store, new MockEmbedder(16),
      new TemporalExtractor(Seq(Extraction(Seq("gus moved to lima"), Nil, Nil),
        Extraction(Seq("gus moved to quito"), Nil, Nil)),
        Map("gus moved to lima" -> v1, "gus moved to quito" -> v2)),
      new ScriptedReconciler(Seq(
        Seq(Decision(DecisionAction.Update, "gus moved to lima", Some(1L))),
        Seq(Decision(DecisionAction.Update, "gus moved to quito", Some(1L))))))
    m.addBatch(Seq("gus lives in bogota"), now = Some(T0))
    m.addReconcileBatch(Seq("Gus to Lima", "Gus to Quito"), now = Some(T0 + 1000))
    val old = store.memories.filter(col("id") === 1).collect().head
    assert(old.getLong(old.fieldIndex("expired_at")) == T0 + 1000)
    assert(old.getLong(old.fieldIndex("invalid_at")) == v2)
  }

  test("episode MENTIONS edges point at the entity of the manager's own graph") {
    val store = new GraphStore(spark)
    def mgr(graph: String) = new MemoryManager(spark,
      MemoryConfig(userId = "alice", graphName = Some(graph), enableEpisodes = true),
      store, new MockEmbedder(16),
      new ScriptedExtractor(Seq(Extraction(Seq(s"alice is in $graph"),
        Seq(ExtractedEntity("alice", "person")), Nil))),
      new AddAllReconciler)
    mgr("g1").add("Alice in g1", now = Some(T0))
    mgr("g2").add("Alice in g2", now = Some(T0 + 1000))
    val g2Alice = store.entities.filter(col("graph_name") === "g2")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(g2Alice == Seq(2L))
    def dsts(edgeType: String, src: Long) = store.edges
      .filter(col("edge_type") === edgeType && col("src") === src)
      .select("dst").collect().map(_.getLong(0)).toSeq
    assert(dsts(EdgeTypes.HasEntity, 2L) == Seq(2L))
    assert(dsts(EdgeTypes.Mentions, 2L) == Seq(2L)) // episode 2 → g2's alice
  }

  test("write-count guard: a reconciled add writes each table once") {
    // UPDATE + ADD pairs against seeded targets, 3 new entities, 2
    // relations, no session: one entity append, one memory append, one
    // expiry, one history append, one edge append — however many facts
    // the add carries
    def writes(pairs: Int): Long = {
      val store = new GraphStore(spark)
      val decisions = (1 to pairs).flatMap(i => Seq(
        Decision(DecisionAction.Update, s"fact $i updated", Some(i.toLong)),
        Decision(DecisionAction.Add, s"fact $i added", None)))
      val m = new MemoryManager(spark,
        MemoryConfig(userId = "alice", reconciliationThreshold = 0.0), store,
        new MockEmbedder(16),
        new ScriptedExtractor(Seq(Extraction(decisions.map(_.text),
          Seq(ExtractedEntity("e1", "t"), ExtractedEntity("e2", "t"), ExtractedEntity("e3", "t")),
          Seq(ExtractedRelation("e1", "e2", "r"), ExtractedRelation("e2", "e3", "r"))))),
        new ScriptedReconciler(Seq(decisions)))
      m.addBatch((1 to pairs).map(i => s"fact $i"), now = Some(T0))
      val before = store.writeVersion
      val r = m.add("scripted", now = Some(T0 + 1000))
      assert(r.events.map(_.event) == (1 to pairs).flatMap(_ => Seq("UPDATE", "ADD")))
      store.writeVersion - before
    }
    val two = writes(1)
    assert(two == 5, s"a 2-fact add wrote $two times")
    val six = writes(3)
    assert(six == two, s"writes grew with facts: $two -> $six")
  }
}
