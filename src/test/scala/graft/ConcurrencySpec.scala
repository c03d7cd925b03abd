package graft

import graft.api._
import graft.core.GraphStore
import graft.ext._

/** Per-user write serialization (SURVEY §7.4 risk 5; reference per-user
  * asyncio lock manager.py:283-284) + extraction fallback ladder
  * (§7.4 risk 7).
  */
class ConcurrencySpec extends SparkSuite {

  private val T0 = 1700000000000L

  test("concurrent adds for one user serialize: no lost writes, unique ids") {
    val m = new MemoryManager(spark, MemoryConfig(userId = "alice"),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Nil), new AddAllReconciler)
    val threads = (1 to 4).map { t =>
      new Thread(() => (1 to 5).foreach { i =>
        m.add(s"t$t-fact-$i", infer = false, now = Some(T0 + t * 100 + i))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val all = m.getAll()
    assert(all.size == 20)
    assert(all.map(_.memoryId).distinct.size == 20)
    assert(all.map(_.memoryId.toLong).max == 20L) // dense id allocation
  }

  test("cross-user concurrent writers on a SHARED store lose no writes") {
    // per-user manager locks don't cover different users sharing one
    // store — the store itself serializes mutations
    val store = new GraphStore(spark)
    def mgr(user: String) = new MemoryManager(spark, MemoryConfig(userId = user),
      store, new MockEmbedder(16), new ScriptedExtractor(Nil), new AddAllReconciler)
    val users = Seq("alice", "bob", "carol")
    val threads = users.map { u =>
      val m = mgr(u)
      new Thread(() => (1 to 5).foreach { i =>
        m.add(s"$u-fact-$i", infer = false, now = Some(T0 + i))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(store.memories.count() == 15)
    users.foreach(u => assert(mgr(u).getAll().size == 5))
  }

  test("searches racing a deleting/updating writer read one snapshot: in scope, hydrated") {
    val store = new GraphStore(spark, checkpointEvery = 4)
    def mgr(user: String, scoped: Boolean = false) = new MemoryManager(spark,
      MemoryConfig(userId = user, enableImportance = true, enableTopologyBoost = true,
        scopedHybridCandidates = scoped),
      store, new MockEmbedder(16), new HeuristicExtractor, new AddAllReconciler)
    val alice = mgr("alice")
    val ids = alice.addBatch((1 to 40).map(i => s"note $i about Acme Corp and Bob Smith"),
      now = Some(T0)).map(_.toLong)
    alice.add("Alice Chen works at Acme Corp.", now = Some(T0))
    mgr("bob").addBatch((1 to 20).map(i => s"note $i about Acme Corp"), now = Some(T0))
    // the writer adds, updates and deletes while both readers' serving
    // indexes apply the store's deltas
    val writer = new Thread(() => ids.take(12).zipWithIndex.foreach { case (id, i) =>
      i % 3 match {
        case 0 => alice.delete(id.toString)
        case 1 => alice.update(id.toString, s"rewritten note $i about Acme Corp")
        case _ => alice.add(s"fresh note $i about Acme Corp", infer = false, now = Some(T0 + i))
      }
    })
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[SearchResult]()
    val searchers = Seq(mgr("alice"), mgr("alice", scoped = true))
    val readers = searchers.zipWithIndex.map { case (m, t) =>
      new Thread(() => (1 to 5).foreach { i =>
        try m.search(s"Acme Corp note $i", k = 6 + t, now = Some(T0 + i))
          .foreach(results.add)
        catch { case e: Throwable => failures.add(e) }
      })
    }
    writer.start(); readers.foreach(_.start())
    writer.join(); readers.foreach(_.join())
    assert(failures.isEmpty, failures.toString)
    assert(!results.isEmpty)
    val aliceIds = alice.getAll(includeExpired = true).map(_.memoryId).toSet ++
      ids.map(_.toString)
    results.forEach { r =>
      assert(r.userId == "alice" && aliceIds(r.memoryId), r.toString)
      assert(r.text != null, r.toString)
    }
    // no delta was applied twice or skipped: each reader's serving
    // index equals one built fresh from the tables
    searchers.foreach(m => IndexCheck.assertFresh(m,
      Seq(Seq("acme", "note"), Seq("rewritten"), Seq("fresh", "corp")), "after the race"))
  }

  test("a search waiting on its embedder holds no lock another search of the store needs") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val store = new GraphStore(spark)
    val entered, release, done = new CountDownLatch(1)
    val blocking = new Embedder {
      private val mock = new MockEmbedder(16)
      val dimensions = 16
      def embed(texts: Seq[String]): Seq[Array[Float]] = {
        if (texts.exists(_.contains("blocked"))) { entered.countDown(); release.await(60, TimeUnit.SECONDS) }
        mock.embed(texts)
      }
    }
    def mgr(user: String, embedder: Embedder) = new MemoryManager(spark,
      MemoryConfig(userId = user), store, embedder, new HeuristicExtractor, new AddAllReconciler)
    val alice = mgr("alice", blocking)
    val bob = mgr("bob", new MockEmbedder(16))
    assert(alice.servingIndex eq bob.servingIndex)
    alice.addBatch((1 to 10).map(i => s"alice note $i"), now = Some(T0))
    bob.addBatch((1 to 10).map(i => s"bob note $i"), now = Some(T0))
    val waiting = new Thread(() => alice.search("blocked note", k = 3))
    waiting.start()
    try {
      assert(entered.await(60, TimeUnit.SECONDS))
      new Thread(() => { bob.search("bob note 4", k = 3); done.countDown() }).start()
      assert(done.await(60, TimeUnit.SECONDS), "the search waited for the embedding of another")
    } finally release.countDown()
    waiting.join()
  }

  test("access bumps do not retrigger whole-graph metric recompute") {
    val m = new MemoryManager(spark,
      MemoryConfig(userId = "alice", enableGraphAlgorithms = true,
        enableImportance = true),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Seq(Extraction(Seq("alice works at acme"),
        Seq(ExtractedEntity("alice", "person")), Nil))),
      new AddAllReconciler)
    m.add("Alice works at Acme", now = Some(T0))
    m.search("alice works at acme", k = 5) // computes metrics + bumps access
    val gvAfterFirst = m.store.graphVersion
    m.search("alice works at acme", k = 5) // bumpAccess only — no edges
    assert(m.store.graphVersion == gvAfterFirst) // dirty flag stays clean
  }

  test("combined-extraction failure falls back to separate legs") {
    val extractor = new FailingThenScriptedExtractor(
      failures = 1,
      outputs = Seq(Extraction(
        Seq("alice works at acme"),
        Seq(ExtractedEntity("alice", "person")),
        Nil)))
    val m = new MemoryManager(spark, MemoryConfig(userId = "alice"),
      new GraphStore(spark), new MockEmbedder(16), extractor, new AddAllReconciler)
    val r = m.add("Alice works at Acme", now = Some(T0))
    // fallback produced the scripted facts + entities despite the throw
    assert(r.events.map(_.event) == Seq("ADD"))
    assert(r.events.head.text == "alice works at acme")
    assert(m.store.entities.count() == 1)
  }
}
