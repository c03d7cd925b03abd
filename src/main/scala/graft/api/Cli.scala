package graft.api

import org.apache.spark.sql.SparkSession

import graft.core.{GraphStore, MemoryTypes}
import graft.ext._

/** CLI entry point over the engine (reference cli.py:16-341):
  * add / search / list / update / delete / history / summarize / stats /
  * explain, JSON on stdout. Global flags: --user <id>, --store <dir>
  * (parquet snapshot root; loaded on start, a new snapshot published
  * after each successful mutating command), --no-infer for add, -k /
  * --type / --min-score where the reference accepts them.
  *
  * The LLM-backed traits are deterministic local impls (the container
  * has no model endpoint): SHA-256 mock embedder, heuristic extractor,
  * add-all reconciler — the same fixture stack the test suite uses, so
  * `graft.Cli add/search` round-trips are reproducible.
  */
object Cli {

  import Json._

  /** Parse argv and execute one command against the given manager;
    * returns the JSON the command prints. Factored from main() so specs
    * drive it without a process boundary.
    */
  private val FlagsTakingValue =
    Set("--user", "--store", "-k", "--type", "-t", "--min-score",
      "--session", "--limit")

  /** First token that is neither a flag nor a flag's value — so the
    * documented `--user bob add ...` placement parses `add`, not `bob`. */
  private[api] def commandOf(args: Seq[String]): (Int, String) = {
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("-")) i += (if (FlagsTakingValue(a)) 2 else 1)
      else return (i, a)
    }
    (-1, "help")
  }

  def run(args: Seq[String], m: MemoryManager): String = runChecked(args, m)._1

  /** Like [[run]] but also reports whether the command SUCCEEDED — main()
    * must not persist the store after a failed mutation (a swallowed
    * exception mid-add would otherwise write partial state to disk).
    * The whole parse+dispatch sits inside the error boundary, so a bad
    * flag value (`-k abc`) gets the same {"error": ...} JSON as a bad
    * positional (cli.py exits with a message; we return the contract
    * the MCP surface uses).
    */
  def runChecked(args: Seq[String], m: MemoryManager): (String, Boolean) = {
    val (cmdIdx, cmd) = commandOf(args)
    try {
      def flag(name: String): Boolean = args.contains(name)
      def opt(name: String): Option[String] = {
        val i = args.indexOf(name)
        if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
      }
      val positional = args.zipWithIndex.drop(cmdIdx + 1).collect {
        case (a, i) if !a.startsWith("-") &&
          !(i > 0 && FlagsTakingValue(args(i - 1))) => a
      }
      def pos(i: Int, what: String): String =
        if (i < positional.length) positional(i)
        else throw new IllegalArgumentException(s"missing argument: $what")
      val k = opt("-k").map(_.toInt).getOrElse(10)
      val memoryType = opt("--type").orElse(opt("-t"))

      val out = cmd match {
      case "add" =>
        val res = m.add(pos(0, "text"), infer = !flag("--no-infer"),
          memoryType = memoryType.getOrElse(MemoryTypes.Default))
        jobj("events" -> jarr(res.events.map(e => jobj(
          "event" -> js(e.event),
          "memory_id" -> jopt(e.memoryId),
          "text" -> js(e.text)))))
      case "search" =>
        val hits = m.search(positional.mkString(" "), k = k,
          memoryType = memoryType,
          minScore = opt("--min-score").map(_.toDouble))
        jobj("results" -> jarr(hits.map(resultJson)))
      case "list" =>
        jobj("results" -> jarr(m.getAll(memoryType).map(resultJson)))
      case "update" =>
        jobj("updated" -> m.update(pos(0, "memory_id"), pos(1, "text")).toString)
      case "delete" =>
        if (flag("--all")) jobj("deleted" -> m.deleteAll().toString)
        else jobj("deleted" -> m.delete(pos(0, "memory_id")).toString)
      case "history" =>
        jobj("history" -> jarr(m.history(pos(0, "memory_id")).map(h => jobj(
          "event" -> js(h.event),
          "timestamp" -> h.timestamp.toString,
          "old_text" -> jopt(h.oldText),
          "new_text" -> jopt(h.newText)))))
      case "summarize" =>
        jobj("summary_ids" -> jarr(m.summarize().map(js)))
      case "stats" =>
        val s = m.stats()
        jobj(
          "total_memories" -> s.totalMemories.toString,
          "semantic" -> s.semanticCount.toString,
          "procedural" -> s.proceduralCount.toString,
          "episodic" -> s.episodicCount.toString,
          "entities" -> s.entityCount.toString,
          "relations" -> s.relationCount.toString,
          "episodes" -> s.episodeCount.toString,
          "communities" -> s.communityCount.toString,
          "expired" -> s.expiredCount.toString)
      case "episodes" =>
        jobj("episodes" -> jarr(
          m.getEpisodes(opt("--session"),
              opt("--limit").map(_.toInt).getOrElse(50))
            .map(e => jobj(
              "episode_id" -> js(e.episodeId),
              "content" -> js(e.content),
              "produced" -> jarr(e.producedMemories.map(js)),
              "mentioned" -> jarr(e.mentionedEntities.map(js))))))
      case "explain" =>
        val ex = m.explain(positional.mkString(" "), k = k, memoryType = memoryType)
        jobj(
          "steps" -> jarr(ex.steps.map(st => jobj(
            "name" -> js(st.name),
            "detail" -> js(st.detail),
            "count" -> st.count.toString))),
          "results" -> jarr(ex.results.map(resultJson)))
      case other =>
        // the ONE in-band failure case: success is an explicit flag from
        // this dispatch, never a sniff of the serialized payload (a
        // future success shape starting with an error-like prefix must
        // not flip the persist-on-success guarantee)
        return (jobj("error" -> js(s"unknown command: $other"),
          "commands" -> jarr(Seq("add", "search", "list", "update", "delete",
            "history", "summarize", "stats", "episodes", "explain").map(js))),
          false)
      }
      (out, true)
    } catch {
      case scala.util.control.NonFatal(e) =>
        (jobj("error" -> js(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))),
          false)
    }
  }

  private def isMutating(cmd: String): Boolean =
    Set("add", "update", "delete", "summarize")(cmd)

  /** One CLI invocation: load the `--store` snapshot (when the
    * directory exists), run the command, and persist a SUCCESSFUL
    * mutation as the store's next snapshot — a failed add must not
    * publish partially-applied state. Returns the JSON to print.
    */
  private[graft] def runOnStore(args: Seq[String], spark: SparkSession): String = {
    def opt(name: String): Option[String] = {
      val i = args.indexOf(name)
      if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
    }
    val user = opt("--user").orElse(sys.env.get("GRAFT_USER")).getOrElse("default")
    val storeDir = opt("--store").orElse(sys.env.get("GRAFT_STORE"))
    val store = new GraphStore(spark)
    storeDir.filter(d => new java.io.File(d).exists()).foreach(store.load)
    val dims = sys.env.get("GRAFT_DIMS").map(_.toInt).getOrElse(64)
    val m = new MemoryManager(spark,
      MemoryConfig(userId = user, embeddingDimensions = dims),
      store, new MockEmbedder(dims), new HeuristicExtractor,
      new AddAllReconciler)
    val (_, cmd) = commandOf(args)
    val (out, ok) = runChecked(args, m)
    if (ok && isMutating(cmd)) storeDir.foreach(store.persist)
    out
  }

  def main(argv: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-cli")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try println(runOnStore(argv.toSeq, spark))
    finally spark.stop()
  }
}
