package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import Json.metric

/** Workload parameters. Request counts scale with `--seconds`: the base
  * counts fill about 20 s of requests on 4 cores, and every script is a
  * fixed number of requests for a given run length. `ingests` is the
  * corpus-refresh phase after the script; `passes` is how often each
  * batch query runs (more for a short query, whose single pass is
  * noisier).
  */
final case class Spec(name: String, seedTexts: Int, bulkOwn: Int, bulkOther: Int,
    people: Int, searches: Int, adds: Int, updates: Int, deletes: Int,
    ingests: Int, ingestSize: Int, queries: Seq[String], passes: Int, orders: Int)

object Spec {
  val Names: Seq[String] = Seq("read_large", "mixed_small")

  /** Catalog queries a traced run times for the per-layer report: the
    * iterative graph loops and the data-prep layers.
    */
  val TracedQueries: Seq[String] = Seq("q_pagerank", "q_communities_refined",
    "q_betweenness_waves", "q_prep_pipeline", "q_dedup_clusters_dist",
    "q_emb_neardup_lsh", "q_ann_ivf_kmeans")

  def apply(name: String, seconds: Int, smoke: Boolean): Spec = {
    def n(base: Int): Int =
      if (smoke) 1 else math.max(1, math.round(base * seconds / 20.0).toInt)
    def size(full: Int, small: Int): Int = if (smoke) small else full
    name match {
      case "read_large" => Spec(name, seedTexts = size(300, 20),
        bulkOwn = size(5000, 40), bulkOther = size(5000, 40), people = size(60, 8),
        searches = n(6), adds = 0, updates = 0, deletes = 0,
        ingests = 1, ingestSize = size(25, 4),
        queries = Seq("q_pagerank"), passes = size(3, 1), orders = size(5000, 400))
      case "mixed_small" => Spec(name, seedTexts = size(300, 20),
        bulkOwn = 0, bulkOther = size(300, 40), people = size(40, 8),
        searches = n(5), adds = n(3), updates = n(2), deletes = n(2),
        ingests = 0, ingestSize = 0,
        queries = Seq("q_prep_pipeline"), passes = size(5, 1),
        orders = size(5000, 400))
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
    }
  }
}

/** Counts operations attempted and failed; a failed operation threw or
  * failed at least one output check.
  */
final class Errors {
  var attempted = 0
  var failed = 0
  private var opFailed = false
  def check(ok: Boolean, msg: => String): Unit =
    if (!ok) { opFailed = true; System.err.println(s"CHECK FAILED: $msg") }
  def op[T](label: String)(f: => T): Option[T] = {
    attempted += 1
    opFailed = false
    val r =
      try Some(f)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"OP FAILED: $label: $e"); opFailed = true; None
      }
    if (opFailed) failed += 1
    r
  }
}

/** SHA-256 over every response of a run: ids, and scores rounded to six
  * decimals.
  */
final class Digest {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  def add(kind: String, items: Seq[String]): Unit =
    md.update((kind + "\u0001" + items.mkString("\u0002") + "\u0003").getBytes(UTF_8))
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}
object Digest {
  def round6(d: Double): String =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
}

/** Arguments: --workload --seed --seconds --trace --work DIR
  * --digest-key K [--smoke]. Prints one JSON result line on stdout.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val workload = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toInt
    val traced = opts("--trace") == "1"
    val work = opts("--work")
    val smoke = args.contains("--smoke")
    val spec = Spec(workload, seconds, smoke)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"phase spark up at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    // the digest of a seed is keyed by the benchmark's own sources only,
    // so a digest recorded on one version of the program checks the
    // responses of the next
    val digestFile = s"$work/digests/${opts("--digest-key")}-$workload-$seed-$seconds" +
      (if (smoke) "-smoke" else "")
    // Runtime.halt skips SparkContext.stop (several seconds of shutdown in
    // local mode); run.py removes the scratch directories afterwards
    val code =
      try {
        println(new Run(spark, spec, seed, traced, work).result(digestFile))
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }
}

/** One run of a workload: set-up (five times), the online warm-up, timed
  * script and refresh phase, the batch passes, then the result line.
  */
final class Run(spark: SparkSession, spec: Spec, seed: Long, traced: Boolean, work: String) {
  private val errors = new Errors
  private val digest = new Digest
  private val trace = if (traced) Some(new Trace(spark)) else None
  private val dataDir = s"$work/data"

  private val born = System.nanoTime()
  private def phase(name: String): Unit =
    System.err.println(f"phase $name at ${(System.nanoTime() - born) / 1e9}%.1f s")

  def result(digestFile: String): String = {
    val online = new Online(spark, spec, seed, trace, digest, errors)

    // set-up: the program's share, seeding the store, five times over;
    // the first pays the JVM's cold start, the median does not
    val setups = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      val s = online.setup()
      ((System.nanoTime() - t0) / 1e9, s)
    }
    val session = setups.last._2
    val store = session.store

    phase("setup done")
    var step = 0
    var lastSearchAt = trace.map(_.versions(store))
    System.err.println(s"writes after set-up ${store.writeVersion}")
    online.warmup.foreach { r =>
      val v = trace.map(_.versions(store))
      errors.op(s"warmup ${r.kind}")(online.run(session, r, step))
      if (r.kind == "search") lastSearchAt = v
      step += 1
    }

    phase(s"warm-up done (${store.writeVersion} writes)")
    trace.foreach(_.begin(store, lastSearchAt.get))
    val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def timed(r: Req): Unit = {
      val before = trace.map(_.versions(store))
      val s0 = System.nanoTime()
      errors.op(r.kind)(online.run(session, r, step))
      val ms = (System.nanoTime() - s0) / 1e6
      lat.getOrElseUpdate(r.kind, mutable.ArrayBuffer.empty) += ms
      trace.foreach(_.afterOp(store, r.kind, ms, before.get))
      step += 1
    }
    val t0 = System.nanoTime()
    online.script.foreach(timed)
    val onlineWallS = (System.nanoTime() - t0) / 1e9
    online.refresh.foreach(timed)

    phase(s"online done (${store.writeVersion} writes)")
    val queries = if (traced) Spec.TracedQueries else spec.queries
    Gen.writeBatchTables(spark, dataDir, seed, spec.orders,
      queries.map(Batch.Queries(_).table).toSet)
    phase("tables written")
    val batch = new Batch(spark, dataDir, digest, errors)
    // each of the workload's queries runs `passes` times and reports its
    // median pass; a traced run also times once the queries plain runs
    // skip, and charges Spark work to a query for its last pass only.
    // Only the workload's own queries enter the digest, so plain and
    // traced runs of one seed agree.
    val walls = queries.map { q =>
      val own = spec.queries.contains(q)
      val passes = if (own) spec.passes else 1
      q -> errors.op(q) {
        val runs = (1 to passes).map { i =>
          if (i == passes) trace.fold(batch.execute(q))(_.query(q)(batch.execute(q)))
          else batch.execute(q)
        }
        batch.verify(q, runs.last._1, digested = own)
        Stats.median(runs.map(_._2))
      }.getOrElse(0.0)
    }
    val plainWalls = walls.filter { case (q, _) => spec.queries.contains(q) }
    phase("batch done")
    val heapMb = Stats.liveHeapMb()
    phase("heap measured")

    val hex = digest.hex
    val sameDigest = checkDigest(digestFile, hex)

    val e2e = Seq(
      metric("search_p50_ms", Stats.median(lat("search").toSeq), "ms"),
      metric("requests_per_s", online.script.size / onlineWallS, "1/s"),
      metric("batch_wall_s", plainWalls.map(_._2).sum, "s"),
      metric("setup_s", Stats.median(setups.map(_._1)), "s"),
      metric("live_heap_mb", heapMb, "MB"))
    val metrics = trace match {
      case None => e2e
      case Some(t) =>
        t.report(work, spec, lat.toMap.map { case (k, v) => k -> v.toSeq }, walls) ++ Seq(
          metric("traced.requests_per_s", online.script.size / onlineWallS, "1/s"),
          metric("traced.batch_wall_s", plainWalls.map(_._2).sum, "s"))
    }
    lat.foreach { case (k, v) => System.err.println(s"latency_ms $k ${v.map(x => f"$x%.0f").mkString(" ")}") }
    System.err.println(s"digest $hex (${if (sameDigest) "consistent" else "CHANGED"})")
    System.err.println(s"requests ${lat.map { case (k, v) => s"$k=${v.size}" }.mkString(" ")}" +
      s"; setups ${setups.map(s => f"${s._1}%.2f").mkString(" ")}" +
      s"; events ${online.events.mkString(" ")}" +
      s"; batch ${walls.map { case (q, w) => f"$q=$w%.2f" }.mkString(" ")}")
    Json.result(correct = errors.failed == 0 && sameDigest, errors.attempted,
      errors.failed, metrics)
  }

  /** The first run of a seed without a failed operation records its
    * digest; every later run of the seed must reproduce it.
    */
  private def checkDigest(file: String, hex: String): Boolean = {
    val p = Paths.get(file)
    if (Files.exists(p)) new String(Files.readAllBytes(p), UTF_8).trim == hex
    else {
      if (errors.failed == 0) {
        Files.createDirectories(p.getParent)
        Files.write(p, hex.getBytes(UTF_8))
      }
      true
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val h = s.size / 2
    if (s.size % 2 == 1) s(h) else (s(h - 1) + s(h)) / 2
  }


  /** Driver heap still reachable after full collections, in MB. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    // Spark's context cleaner frees unreachable blocks after a collection
    // finds them, so collect a few times with pauses and keep the least
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(150)
      (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    }.min
  }
}

object Json {
  val mapper = new ObjectMapper()

  def metric(name: String, value: Double, unit: String): (String, (Double, String)) =
    name -> ((value, unit))

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, (Double, String))]): String = {
    val root = mapper.createObjectNode()
      .put("correct", correct).put("attempted", attempted).put("failed", failed)
    val ms = root.putObject("metrics")
    metrics.foreach { case (k, (v, u)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      ms.putObject(k).put("value", v).put("unit", u)
    }
    mapper.writeValueAsString(root)
  }
}
