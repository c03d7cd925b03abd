package graft

import graft.api._
import graft.core._
import graft.ext._

/** CLI surface smoke tests (reference cli.py:16-341): every subcommand
  * through Cli.run against a scripted manager, JSON shape asserted.
  */
class CliSpec extends SparkSuite {

  private val T0 = 1700000000000L

  private def mkManager(): MemoryManager = {
    var tick = 0L
    new MemoryManager(spark, MemoryConfig(userId = "alice"),
      new GraphStore(spark), new MockEmbedder(16),
      new HeuristicExtractor, new AddAllReconciler,
      clock = () => { tick += 1; T0 + tick * 1000 })
  }

  /** BASELINE §7b's single-pool family, built through the real add
    * pipeline: eight memories over one richly connected 5-entity pool,
    * each naming three consecutive pool entities chained by relations.
    */
  private def singlePoolManager(config: MemoryConfig): MemoryManager = {
    val pool = (0 until 5).map(i => s"s0_e$i")
    val adds = (0 until 8).map { j =>
      val picked = (0 until 3).map(o => pool((j + o) % pool.size))
      Extraction(
        facts = Seq(s"fact s0 m$j"),
        entities = picked.map(e => ExtractedEntity(e, "thing")),
        relations = picked.sliding(2).map(p =>
          ExtractedRelation(p(0), p(1), "related_to")).toSeq)
    }
    var tick = 0L
    val m = new MemoryManager(spark, config, new GraphStore(spark),
      new MockEmbedder(16), new ScriptedExtractor(adds), new AddAllReconciler,
      clock = () => { tick += 1; T0 + tick * 1000 })
    adds.indices.foreach(i => m.add(s"study doc $i", now = Some(T0 + i * 1000L)))
    m
  }

  test("add / search / list round-trip with JSON output") {
    val m = mkManager()
    val addOut = Cli.run(Seq("add", "Alice works at Acme", "--no-infer"), m)
    assert(addOut.contains("\"events\""))
    assert(addOut.contains("\"ADD\""))
    val searchOut = Cli.run(Seq("search", "Alice works at Acme", "-k", "3"), m)
    assert(searchOut.contains("\"results\""))
    assert(searchOut.contains("Alice works at Acme"))
    val listOut = Cli.run(Seq("list"), m)
    assert(listOut.contains("Alice works at Acme"))
  }

  test("add with inference extracts heuristic entities and relations") {
    val m = mkManager()
    Cli.run(Seq("add", "Alice works at Acme."), m)
    assert(m.store.entities.count() >= 2) // alice + acme
    val out = Cli.run(Seq("search", "Alice works at Acme", "-k", "1"), m)
    assert(out.contains("\"relations\""))
    assert(out.contains("works_at"))
  }

  test("update / history / delete") {
    val m = mkManager()
    Cli.run(Seq("add", "draft note", "--no-infer"), m)
    assert(Cli.run(Seq("update", "1", "final note"), m).contains("true"))
    val hist = Cli.run(Seq("history", "1"), m)
    assert(hist.contains("\"ADD\"") && hist.contains("\"UPDATE\""))
    assert(Cli.run(Seq("delete", "1"), m).contains("true"))
    assert(Cli.run(Seq("delete", "--all"), m).contains("\"deleted\""))
  }

  test("stats / summarize / episodes / explain / unknown") {
    val m = mkManager()
    Cli.run(Seq("add", "note one", "--no-infer"), m)
    val stats = Cli.run(Seq("stats"), m)
    assert(stats.contains("\"total_memories\":1"))
    assert(Cli.run(Seq("summarize"), m).contains("\"summary_ids\""))
    assert(Cli.run(Seq("episodes"), m).contains("\"episodes\""))
    val ex = Cli.run(Seq("explain", "note one", "-k", "2"), m)
    assert(ex.contains("\"steps\"") && ex.contains("\"results\""))
    assert(Cli.run(Seq("bogus"), m).contains("unknown command"))
  }

  test("global flags before the command parse correctly; bad args return error JSON") {
    val m = mkManager()
    // --user takes a value: "add" is the command, not "bob"
    val out = Cli.run(Seq("--user", "bob", "add", "flagged note", "--no-infer"), m)
    assert(out.contains("\"ADD\""), out)
    assert(Cli.run(Seq("list"), m).contains("flagged note"))
    // missing positionals → {"error": ...}, not a stack trace
    assert(Cli.run(Seq("add"), m).contains("missing argument: text"))
    assert(Cli.run(Seq("update", "1"), m).contains("missing argument: text"))
    assert(Cli.run(Seq("update", "zzz", "t"), m).contains("\"error\""))
    assert(Cli.run(Seq("history"), m).contains("missing argument: memory_id"))
    // bad FLAG values are inside the error boundary too
    assert(Cli.run(Seq("search", "x", "-k", "abc"), m).contains("\"error\""))
    // the success flag main() gates persistence on
    assert(!Cli.runChecked(Seq("add"), m)._2)
    assert(Cli.runChecked(Seq("add", "good note", "--no-infer"), m)._2)
    assert(!Cli.runChecked(Seq("bogus"), m)._2)
  }

  test("JSON escaping survives quotes and newlines") {
    val m = mkManager()
    Cli.run(Seq("add", "say \"hi\"\nthen leave", "--no-infer"), m)
    val out = Cli.run(Seq("list"), m)
    assert(out.contains("\\\"hi\\\""))
    assert(out.contains("\\n"))
  }

  test("stats surfaces the CONFIGURED community partition, not raw LPA") {
    // the single-pool family is the discriminator: Louvain-grade
    // default splits the rich 5-entity cluster into two >=2-member
    // communities (BASELINE 7b), raw LPA floods it into one — so the
    // surfaced community count proves which partition the tools serve
    val cfg = MemoryConfig(userId = "study", enableGraphAlgorithms = true,
      enableCommunitySummaries = true)
    val mOn = singlePoolManager(cfg)
    mOn.recomputeGraphMetricsIfDirty()
    assert(mOn.getCommunities().size == 2)
    assert(Cli.run(Seq("stats"), mOn).contains("\"communities\":2"))

    val mOff = singlePoolManager(cfg.copy(communityRefineRounds = 0))
    mOff.recomputeGraphMetricsIfDirty()
    assert(mOff.getCommunities().size == 1)
    assert(Cli.run(Seq("stats"), mOff).contains("\"communities\":1"))
  }
  test("two adds on one --store keep both memories (load → run → persist)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli").resolve("store").toString
    def cli(args: String*) = Cli.runOnStore(Seq("--store", dir) ++ args, spark)
    assert(cli("add", "first stored note", "--no-infer").contains("\"ADD\""))
    assert(cli("add", "second stored note", "--no-infer").contains("\"ADD\""))
    val listed = cli("list")
    assert(listed.contains("first stored note") && listed.contains("second stored note"))
    // one published snapshot remains; the superseded one was deleted
    val snaps = new java.io.File(dir).list().filter(_.startsWith("snap-")).toSeq
    assert(snaps == Seq("snap-2"))
  }
}
