package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.core.GraphStore

import Json.metric

/** Work of one facade call, its child spans' jobs excluded. */
final case class Call(jobs: Int, stages: Int, tasks: Long, selfMs: Double,
    gapMs: Double, cpuMs: Double, shuffleBytes: Long, spillBytes: Long)

/** The store's version counters at one moment. */
final case class Versions(text: Long, graph: Long, write: Long)

/** Everything a traced run measures from outside the program: facade
  * spans through the public `tracer` parameter, Spark work through one
  * listener, model calls through the trait wrappers, and `GraphStore`'s
  * public state sampled between operations (outside the timed window).
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  val tracer = new SpanTracer(sc)
  val ext = new ExtCounters
  private val listener = new WorkListener
  sc.addSparkListener(listener)

  /** The facade spans the benchmark reports. */
  val Spans: Seq[String] = Seq("memory.search", "memory.add", "memory.candidate_search",
    "memory.update", "memory.delete", "memory.add_reconcile_batch")

  private var timedStartMs = Double.MaxValue
  private var lastSearch: Option[(Long, Long)] = None
  private var searches, textHits, graphHits = 0
  private var checkpoints = 0L
  private val checkpointOpMs = mutable.ArrayBuffer.empty[Double]
  private val parts = mutable.LinkedHashMap("memories" -> 0, "edges" -> 0, "history" -> 0)
  private val queryWindows = mutable.LinkedHashMap.empty[String, (Double, Double)]

  def versions(s: GraphStore): Versions = Versions(s.textVersion, s.graphVersion, s.writeVersion)

  /** Marks the start of the timed phase; `lastSearchAt` are the store's
    * versions when the warm-up's last search ran.
    */
  def begin(store: GraphStore, lastSearchAt: Versions): Unit = {
    timedStartMs = System.currentTimeMillis().toDouble
    lastSearch = Some((lastSearchAt.text, lastSearchAt.graph))
    ext.reset()
    sample(store)
  }

  /** Bookkeeping after one timed request: memo keys, checkpoints,
    * partition counts.
    */
  def afterOp(store: GraphStore, kind: String, ms: Double, before: Versions): Unit = {
    if (kind == "search") {
      searches += 1
      // BM25 state is memoized on textVersion, topology scores on
      // graphVersion: a search hits when neither moved since the last one
      if (lastSearch.exists(_._1 == before.text)) textHits += 1
      if (lastSearch.exists(_._2 == before.graph)) graphHits += 1
      lastSearch = Some((before.text, before.graph))
    }
    val after = store.writeVersion
    val crossed = after / Online.CheckpointEvery - before.write / Online.CheckpointEvery
    if (crossed > 0) { checkpoints += crossed; checkpointOpMs += ms }
    sample(store)
  }

  private def sample(store: GraphStore): Unit = {
    parts("memories") = math.max(parts("memories"), store.memories.rdd.getNumPartitions)
    parts("edges") = math.max(parts("edges"), store.edges.rdd.getNumPartitions)
    parts("history") = math.max(parts("history"), store.history.rdd.getNumPartitions)
  }

  /** Runs a catalog query with its jobs charged to it. */
  def query[T](q: String)(f: => T): T = {
    val prev = sc.getLocalProperty(Owner.Key)
    sc.setLocalProperty(Owner.Key, Owner.query(q))
    val start = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try f
    finally {
      queryWindows(q) = (start, start + (System.nanoTime() - t0) / 1e6)
      sc.setLocalProperty(Owner.Key, prev)
    }
  }

  /** Per-layer metrics; also writes the per-call and per-query detail to
    * `<work>/trace-<workload>.json`.
    */
  def report(work: String, spec: Spec, lat: Map[String, Seq[Double]],
      walls: Seq[(String, Double)]): Seq[(String, (Double, String))] = {
    PerfbenchBus.drain(sc)
    val all = tracer.spans
    val children = all.groupBy(_.parent)
    def subtree(id: Long): Set[String] =
      children.getOrElse(id, Nil).flatMap(c => subtree(c.id)).toSet + Owner.span(id)
    val timed = all.filter(s => s.startMs >= timedStartMs && Spans.contains(s.name))
    val calls: Map[String, Seq[Call]] = timed.groupBy(_.name).map { case (name, ss) =>
      name -> ss.sortBy(_.id).map { s =>
        val own = Work.of(listener, Set(Owner.span(s.id)))
        val tree = Work.of(listener, subtree(s.id))
        Call(own.jobs, own.stages, own.tasks,
          s.wallMs - children.getOrElse(s.id, Nil).map(_.wallMs).sum,
          Work.gapMs(s.startMs, s.endMs, tree.stageIntervals), own.cpuMs,
          own.shuffleWriteBytes, own.spillBytes)
      }
    }
    def med(name: String, f: Call => Double): Double =
      calls.get(name).filter(_.nonEmpty).map(cs => Stats.median(cs.map(f))).getOrElse(0.0)
    val api = Spans.flatMap { sp =>
      val p = s"api.$sp"
      Seq(metric(s"$p.self_ms", med(sp, _.selfMs), "ms"),
        metric(s"$p.jobs", med(sp, _.jobs.toDouble), "count"),
        metric(s"$p.stages", med(sp, _.stages.toDouble), "count"),
        metric(s"$p.tasks", med(sp, _.tasks.toDouble), "count"),
        metric(s"$p.driver_gap_ms", med(sp, _.gapMs), "ms"),
        metric(s"$p.executor_cpu_ms", med(sp, _.cpuMs), "ms"),
        metric(s"$p.shuffle_bytes", med(sp, _.shuffleBytes.toDouble), "bytes"),
        metric(s"$p.spill_bytes", med(sp, _.spillBytes.toDouble), "bytes"))
    } ++ Seq(
      metric("api.bm25_memo.hit_ratio", ratio(textHits, searches), "ratio"),
      metric("api.topology_memo.hit_ratio", ratio(graphHits, searches), "ratio"))

    val extM = Seq(
      metric("ext.embed.calls", ext.embed.nCalls.toDouble, "count"),
      metric("ext.embed.texts", ext.embed.nItems.toDouble, "count"),
      metric("ext.embed.ms", ext.embed.ms, "ms"),
      metric("ext.extract.calls", ext.extract.nCalls.toDouble, "count"),
      metric("ext.extract.ms", ext.extract.ms, "ms"),
      metric("ext.query_entities.ms", ext.queryEntities.ms, "ms"),
      metric("ext.reconcile.calls", ext.reconcile.nCalls.toDouble, "count"),
      metric("ext.reconcile.ms", ext.reconcile.ms, "ms"))

    val storageMb = sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / (1024.0 * 1024.0)
    val core = Seq(
      metric("core.memories.partitions", parts("memories").toDouble, "count"),
      metric("core.edges.partitions", parts("edges").toDouble, "count"),
      metric("core.history.partitions", parts("history").toDouble, "count"),
      metric("core.checkpoints", checkpoints.toDouble, "count"),
      metric("core.checkpoint_op_ms", if (checkpointOpMs.isEmpty) 0.0 else Stats.median(checkpointOpMs.toSeq), "ms"),
      metric("core.storage_memory_mb", storageMb, "MB"))

    val perQuery = walls.map { case (q, wall) =>
      val w = Work.of(listener, Set(Owner.query(q)))
      val gap = queryWindows.get(q).map { case (a, b) => Work.gapMs(a, b, w.stageIntervals) }
        .getOrElse(0.0)
      (q, wall, w, gap)
    }
    val catalog = perQuery.flatMap { case (q, wall, w, gap) =>
      val p = s"catalog.$q"
      Seq(metric(s"$p.wall_s", wall, "s"),
        metric(s"$p.jobs", w.jobs.toDouble, "count"),
        metric(s"$p.stages", w.stages.toDouble, "count"),
        metric(s"$p.tasks", w.tasks.toDouble, "count"),
        metric(s"$p.driver_gap_ms", gap, "ms"),
        metric(s"$p.executor_cpu_ms", w.cpuMs, "ms"),
        metric(s"$p.shuffle_write_bytes", w.shuffleWriteBytes.toDouble, "bytes"),
        metric(s"$p.spill_bytes", w.spillBytes.toDouble, "bytes"))
    }

    // per-operation latency of the traced run: with one to five samples
    // per kind these medians spread too far across seeds to carry a bound
    val ops = Seq("search", "add", "update", "delete", "ingest").map { k =>
      metric(s"op.${k}_p50_ms", lat.get(k).filter(_.nonEmpty).map(Stats.median).getOrElse(0.0), "ms")
    }

    writeDetail(s"$work/trace-${spec.name}.json", calls, perQuery, lat)
    api ++ extM ++ core ++ catalog ++ ops
  }

  private def ratio(a: Int, b: Int): Double = if (b == 0) 0.0 else a.toDouble / b

  private def writeDetail(path: String, calls: Map[String, Seq[Call]],
      perQuery: Seq[(String, Double, Work, Double)], lat: Map[String, Seq[Double]]): Unit = {
    val root = Json.mapper.createObjectNode()
    val spans = root.putObject("spans")
    Spans.filter(calls.contains).foreach { sp =>
      val cs = calls(sp)
      val o = spans.putObject(sp)
      o.put("calls", cs.size)
      cs.foreach { c =>
        o.withArray("jobs").add(c.jobs)
        o.withArray("stages").add(c.stages)
        o.withArray("tasks").add(c.tasks)
        o.withArray("self_ms").add(c.selfMs)
        o.withArray("driver_gap_ms").add(c.gapMs)
      }
    }
    val queries = root.putObject("queries")
    perQuery.foreach { case (q, wall, w, gap) =>
      queries.putObject(q).put("ops", Batch.Queries(q).ops).put("wall_s", wall)
        .put("jobs", w.jobs).put("stages", w.stages).put("tasks", w.tasks)
        .put("driver_gap_ms", gap).put("executor_cpu_ms", w.cpuMs)
        .put("shuffle_write_bytes", w.shuffleWriteBytes).put("spill_bytes", w.spillBytes)
    }
    val latency = root.putObject("latency_ms")
    lat.foreach { case (k, v) => v.foreach(latency.withArray(k).add(_)) }
    Json.mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), root)
  }
}
