package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import GraphStore._

/** DataFrame-backed labeled-property-graph store (SURVEY §1, S1-S9).
  *
  * One DataFrame per label plus a single typed edge table. Mutations are
  * the three Spark-native write shapes:
  *   - append       = `unionByName` of a small new-rows DataFrame,
  *   - upsert/patch = a projection over driver-known ids and literal
  *                    values, or, for a DataFrame patch, a broadcast
  *                    left-join MERGE (patch rows win on the patched
  *                    columns, base rows pass through),
  *   - delete       = a filter on a driver-known id set, or a
  *                    `left_anti` join on a predicate's id frame.
  * Lineage is truncated with an eager `localCheckpoint` every
  * `checkpointEvery` mutations so a long-lived session stays flat; until
  * then every scan re-runs the joins in it, one broadcast job each,
  * which is why driver-known writes avoid them. At warehouse scale the
  * same three shapes write Parquet partitions (persist/load below); the
  * in-session DataFrames are the hot state.
  *
  * Ids are per-label sequences (reference ids are engine-global,
  * protocol.py:17-27; per-label spaces are equivalent here because every
  * edge type fixes its endpoint labels — SURVEY §1.3 — and they keep
  * oracle SQL closed-form).
  */
final class GraphStore(val spark: SparkSession, checkpointEvery: Int = 16) {

  import spark.implicits._

  // @volatile: mutators run store-synchronized, but readers (search,
  // candidate scans) read these refs lock-free from other threads — the
  // volatile store gives them the happens-before edge to see fresh state
  @volatile var memories: DataFrame = spark.emptyDataset[MemoryRow].toDF()
  @volatile var entities: DataFrame = spark.emptyDataset[EntityRow].toDF()
  @volatile var episodes: DataFrame = spark.emptyDataset[EpisodeRow].toDF()
  @volatile var communities: DataFrame = spark.emptyDataset[CommunityRow].toDF()
  @volatile var history: DataFrame = spark.emptyDataset[HistoryRow].toDF()
  @volatile var edges: DataFrame = spark.emptyDataset[EdgeRow].toDF()

  private val memoryIds = new AtomicLong(0)
  private val entityIds = new AtomicLong(0)
  private val episodeIds = new AtomicLong(0)
  private val communityIds = new AtomicLong(0)
  private val historyIds = new AtomicLong(0)
  private val edgeIds = new AtomicLong(0)

  def nextMemoryId(): Long = memoryIds.incrementAndGet()
  def nextEntityId(): Long = entityIds.incrementAndGet()
  def nextEpisodeId(): Long = episodeIds.incrementAndGet()
  def nextCommunityId(): Long = communityIds.incrementAndGet()
  def nextHistoryId(): Long = historyIds.incrementAndGet()
  def nextEdgeId(): Long = edgeIds.incrementAndGet()

  private var mutations = 0
  /** Write-version: every mutation. Graph-version: only mutations that
    * change edge topology (edge appends, node/edge deletes) — the
    * whole-graph-metrics dirty flag reads THIS one, so access-count
    * bumps and property patches don't retrigger PageRank/betweenness.
    */
  @volatile private var version = 0L
  @volatile private var graphVer = 0L
  // importance-version: ticked only by mutations that can change a
  // memory's importance column — the one input to reinforcement-style
  // metrics that neither writeVersion (too chatty: access bumps) nor
  // graphVersion (edge-only) tracks
  @volatile private var importanceVer = 0L
  // text-version: ticked by mutations that change the (id, text) row
  // set — memory appends/deletes/loads and text patches; access bumps
  // and expiry/metric patches do NOT tick it
  @volatile private var textVer = 0L
  def writeVersion: Long = version
  def graphVersion: Long = graphVer
  def importanceVersion: Long = importanceVer
  def textVersion: Long = textVer

  // the row-delta log: rowLog(i) is what write version logFloor + i + 1
  // did to the rows of memories, entities and edges, as the driver knows
  // them. A write whose rows the driver does not know (load, predicate
  // delete, DataFrame patch) empties it and moves the floor. Entries
  // every registered reader has applied are dropped when a reader reads
  // (readers are weakly held: a dropped manager does not pin the log),
  // and each checkpoint drops the entries older than the previous
  // checkpoint, so an idle reader pins at most two checkpoint cycles
  private val rowLog = scala.collection.mutable.ArrayBuffer.empty[RowDelta]
  private var logFloor = 0L
  private var versionAtCheckpoint = 0L
  private val readers = new java.util.WeakHashMap[AnyRef, java.lang.Long]()

  private def trimTo(v: Long): Unit = {
    val n = (math.min(v, version) - logFloor).toInt
    if (n > 0) { rowLog.remove(0, n); logFloor += n }
  }

  /** The write version and the memories, entities and edges tables at
    * it, read together, with the deltas that lead from write version
    * `since` to it — None when the log no longer reaches back to
    * `since`. `reader` is recorded as having applied everything up to
    * the returned version, so entries every reader has applied leave the
    * log.
    */
  def rowChangesSince(reader: AnyRef, since: Long): RowChanges = this.synchronized {
    val deltas =
      if (since >= logFloor && since <= version) Some(rowLog.drop((since - logFloor).toInt).toList)
      else None
    readers.put(reader, version)
    trimTo(readers.values.asScala.map(_.longValue).min)
    RowChanges(version, memories, entities, edges, deltas)
  }

  /** Driver-appended rows arrive SIZE-SLICED (r15, guide §2/§6):
    * `createDataset` of an in-process list parallelizes to
    * defaultParallelism slices regardless of size, so a store grown by
    * chunked appends accumulated 32 near-empty partitions PER APPEND —
    * a 5000-row sf0.1 store reached 160-partition tables and every
    * search stage scheduled ~90 tasks to scan 5000 rows (the
    * q_pipeline_search_scaled dispatch-overhead exhibit: 8 cores beat
    * 32 by 3.4×). One slice per ~256 rows (capped at
    * defaultParallelism) keeps single-row adds at one partition while a
    * bulk chunk still re-executes its downstream lineage (per-add
    * patches, candidate scans) with real parallelism — a constant 1
    * was measured to serialize q_write_reconcile's per-add lineage
    * (5.6 → 8.8 s). Append batches are driver-small by the API
    * contract; [[boundParts]] bounds the accumulated union at
    * checkpoint time.
    */
  private def newRows[T](ds: org.apache.spark.sql.Dataset[T],
      n: Int): DataFrame =
    ds.toDF().coalesce(math.max(1,
      math.min(spark.sparkContext.defaultParallelism, n / 256)))

  /** Partition bound applied when the periodic checkpoint materializes
    * a table: long-lived sessions accumulate one partition per append
    * (plus the loaded base's), so cap at 2× defaultParallelism and
    * coalesce (narrow, no shuffle) back to defaultParallelism. The
    * in-session store is the documented driver-small hot state — the
    * warehouse-scale path writes parquet partitions instead.
    */
  private[graft] def boundParts(df: DataFrame): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions > 2 * par) df.coalesce(par) else df
  }

  /** One write: `delta` is what it did to the rows the log covers, None
    * when the driver does not know its rows.
    */
  private def tick(delta: Option[RowDelta], structural: Boolean = false): Unit = {
    version += 1
    delta match {
      case Some(d) => rowLog += d
      case None => rowLog.clear(); logFloor = version
    }
    if (structural) graphVer += 1
    mutations += 1
    if (mutations % checkpointEvery == 0) {
      memories = boundParts(memories).localCheckpoint()
      entities = boundParts(entities).localCheckpoint()
      episodes = boundParts(episodes).localCheckpoint()
      communities = boundParts(communities).localCheckpoint()
      history = boundParts(history).localCheckpoint()
      edges = boundParts(edges).localCheckpoint()
      trimTo(versionAtCheckpoint)
      versionAtCheckpoint = version
    }
  }

  // ---- appends (S4/S5) ----

  def appendMemories(rows: Seq[MemoryRow]): Unit = this.synchronized {
    if (rows.nonEmpty) {
      memories = memories.unionByName(newRows(spark.createDataset(rows), rows.size))
      importanceVer += 1
      textVer += 1
      tick(Some(MemoriesAppended(rows)))
    }
  }
  def appendEntities(rows: Seq[EntityRow]): Unit = this.synchronized {
    if (rows.nonEmpty) {
      entities = entities.unionByName(newRows(spark.createDataset(rows), rows.size))
      tick(Some(EntitiesAppended(rows)))
    }
  }
  def appendEpisodes(rows: Seq[EpisodeRow]): Unit = this.synchronized {
    if (rows.nonEmpty) {
      episodes = episodes.unionByName(newRows(spark.createDataset(rows), rows.size))
      tick(Some(OtherTables))
    }
  }
  def appendCommunities(rows: Seq[CommunityRow]): Unit = this.synchronized {
    if (rows.nonEmpty) {
      communities = communities.unionByName(newRows(spark.createDataset(rows), rows.size))
      tick(Some(OtherTables))
    }
  }
  def appendHistory(rows: Seq[HistoryRow]): Unit = this.synchronized {
    if (rows.nonEmpty) {
      history = history.unionByName(newRows(spark.createDataset(rows), rows.size))
      tick(Some(OtherTables))
    }
  }
  def appendEdges(rows: Seq[EdgeRow]): Unit = this.synchronized {
    if (rows.nonEmpty) {
      edges = edges.unionByName(newRows(spark.createDataset(rows), rows.size))
      tick(Some(EdgesAppended(rows.filter(r => LoggedEdgeTypes(r.edge_type)))),
        structural = true)
    }
  }

  // ---- patch / upsert (S6, W2/W4/W6/W12) ----

  /** Broadcast-MERGE: rows of `patch` (must carry `id` + the columns in
    * `setCols` with the memories schema's types) overwrite those columns
    * for matching ids; everything else passes through unchanged.
    */
  def patchMemories(patch: DataFrame, setCols: Seq[String]): Unit = this.synchronized {
    if (setCols.contains("importance")) importanceVer += 1
    if (setCols.contains("text")) textVer += 1
    val p = broadcast(
      patch.select(
        (col("id").as("__pid") +: setCols.map(c => col(c).as(s"__p_$c"))): _*))
    val merged = memories
      .join(p, memories("id") === p("__pid"), "left")
      .select(memories.columns.map { c =>
        if (setCols.contains(c))
          when(col("__pid").isNotNull, col(s"__p_$c")).otherwise(memories(c)).as(c)
        else memories(c)
      }: _*)
    memories = merged
    tick(None)
  }

  /** W6 soft expiry of driver-known ids: expired_at = `ts` on each id,
    * invalid_at where one is given. One projection, like [[bumpAccess]]:
    * a join-shaped patch would add a broadcast job to every later scan
    * of the table until the next checkpoint truncates it.
    */
  def expireMemories(ts: Long, invalidAt: Seq[(Long, Option[Long])]): Unit =
    this.synchronized {
      if (invalidAt.nonEmpty) {
        val expired = when(col("id").isin(invalidAt.map(_._1): _*), lit(ts))
          .otherwise(col("expired_at"))
        // one branch per distinct invalid_at value (usually one: the op ts)
        val invalid = invalidAt.collect { case (id, Some(v)) => v -> id }
          .groupMap(_._1)(_._2)
          .foldLeft(col("invalid_at")) { case (c, (v, ids)) =>
            when(col("id").isin(ids: _*), lit(v)).otherwise(c) }
        val values = Seq("expired_at" -> expired, "invalid_at" -> invalid)
        memories = memories.withColumns(values.toMap)
        tick(Some(MemoriesSet(invalidAt.map(_._1), values)))
      }
    }

  /** Sets literal values on ONE memory row — one projection, no join
    * (see [[expireMemories]]); [[patchMemories]] is for DataFrame
    * patches.
    */
  def setMemory(id: Long, values: Seq[(String, Column)]): Unit = this.synchronized {
    if (values.exists(_._1 == "importance")) importanceVer += 1
    if (values.exists(_._1 == "text")) textVer += 1
    val projected = values.map { case (c, v) => c -> when(col("id") === id, v).otherwise(col(c)) }
    memories = memories.withColumns(projected.toMap)
    tick(Some(MemoriesSet(Seq(id), projected)))
  }

  /** R5 side effect — access_count += 1, last_accessed = now for the
    * given ids (scoring.py:117-122), as one batched MERGE.
    */
  def bumpAccess(ids: Seq[Long], nowMs: Long): Unit = this.synchronized {
    if (ids.nonEmpty) {
      val idSet = ids.toSet.toSeq
      val values = Seq(
        "access_count" ->
          when(col("id").isin(idSet: _*), coalesce(col("access_count"), lit(0L)) + 1L)
            .otherwise(col("access_count")),
        "last_accessed" ->
          when(col("id").isin(idSet: _*), lit(nowMs)).otherwise(col("last_accessed")))
      memories = values.foldLeft(memories) { case (df, (c, v)) => df.withColumn(c, v) }
      tick(Some(MemoriesSet(idSet, values)))
    }
  }

  // ---- deletes (S7, W5) ----

  def deleteMemories(ids: Seq[Long]): Unit = this.synchronized {
    if (ids.nonEmpty) {
      // a filter on the driver-small id set, not an anti-join: a scan
      // of the table runs no broadcast job for it
      val idSet = ids.toSet.toSeq
      memories = memories.filter(!col("id").isin(idSet: _*))
      // cascade: edges whose MEMORY endpoint was deleted disappear with
      // it. Ids are per-label sequences (they overlap across labels!),
      // so each edge type must match ONLY the endpoint that is a Memory:
      // HAS_ENTITY/HAS_HISTORY src, PRODUCED dst, SUPERSEDES/LEADS_TO
      // both ends — a both-ends match on HAS_ENTITY would also delete
      // entity-N's links whenever memory-N dies. DERIVED_FROM is
      // deliberately NOT cascaded: consolidation (W7) creates provenance
      // edges to originals it then hard-deletes (manager.py:1905-1912) —
      // the tombstone reference is the provenance record.
      val srcDead = col("src").isin(idSet: _*)
      val dstDead = col("dst").isin(idSet: _*)
      val dead =
        (col("edge_type").isin(EdgeTypes.HasEntity, EdgeTypes.HasHistory) && srcDead) ||
        (col("edge_type") === EdgeTypes.Produced && dstDead) ||
        (col("edge_type").isin(EdgeTypes.Supersedes, EdgeTypes.LeadsTo) &&
          (srcDead || dstDead))
      edges = edges.filter(!dead)
      importanceVer += 1
      textVer += 1
      tick(Some(MemoriesDeleted(idSet)), structural = true)
    }
  }

  /** Deletes every memory matching `pred` WITHOUT materializing ids on
    * the driver (A10 delete_all — the reference loops get-all→delete,
    * manager.py:2200-2207; SURVEY §4 says don't copy that). The matched
    * id set stays a DataFrame: one localCheckpoint + one count() for the
    * returned delta, then the same anti-join delete + endpoint-typed edge
    * cascade as [[deleteMemories]] via joins against the id frame — no
    * `isin` literal list, so a tenant with 10^9 scoped rows deletes in
    * one distributed pass.
    */
  def deleteMemoriesWhere(pred: org.apache.spark.sql.Column): Long =
    this.synchronized {
      val doomed = memories.filter(pred).select(col("id").as("__did"))
        .localCheckpoint()
      val n = doomed.count()
      if (n > 0) {
        memories = memories.join(doomed, memories("id") === col("__did"), "left_anti")
        // cascade with the same endpoint-type discipline as deleteMemories
        // (ids are per-label sequences — only Memory endpoints may match)
        val dSrc = doomed.withColumnRenamed("__did", "__dsrc")
        val dDst = doomed.withColumnRenamed("__did", "__ddst")
        val marked = edges
          .join(dSrc, edges("src") === col("__dsrc"), "left")
          .join(dDst, edges("dst") === col("__ddst"), "left")
        val srcDead = col("__dsrc").isNotNull
        val dstDead = col("__ddst").isNotNull
        val dead =
          (col("edge_type").isin(EdgeTypes.HasEntity, EdgeTypes.HasHistory) && srcDead) ||
          (col("edge_type") === EdgeTypes.Produced && dstDead) ||
          (col("edge_type").isin(EdgeTypes.Supersedes, EdgeTypes.LeadsTo) &&
            (srcDead || dstDead))
        edges = marked.filter(!dead).drop("__dsrc", "__ddst")
        importanceVer += 1
        textVer += 1
        tick(None, structural = true)
      }
      n
    }

  def deleteEdgesById(ids: Seq[Long]): Unit = this.synchronized {
    if (ids.nonEmpty) {
      val idSet = ids.toSet.toSeq
      edges = edges.filter(!col("edge_id").isin(idSet: _*))
      tick(Some(EdgesDeleted(idSet)), structural = true)
    }
  }

  def deleteCommunities(ids: Seq[Long]): Unit = this.synchronized {
    if (ids.nonEmpty) {
      val idSet = ids.toSet.toSeq
      communities = communities.filter(!col("id").isin(idSet: _*))
      edges = edges.filter(
        !(col("edge_type") === EdgeTypes.HasMember && col("src").isin(idSet: _*)))
      tick(Some(OtherTables), structural = true)
    }
  }

  // ---- persistence (S8) ----

  /** Writes the six tables into a fresh `dir/snap-<n>/`, then publishes
    * it by atomically replacing `dir/MANIFEST`, whose one line names the
    * snapshot. Only after that switch does the store rebind its tables
    * to the new snapshot and delete the older ones. A write that fails
    * leaves MANIFEST, and the snapshot it names, as they were; and no
    * table is ever overwritten while a lazily bound store reads it (a
    * store loaded from `snap-<n>` persists into `snap-<n+1>`).
    */
  def persist(dir: String): Unit = this.synchronized {
    val root = Paths.get(dir)
    Files.createDirectories(root)
    val n = snapshotDirs(root).map(_._1).maxOption.getOrElse(0) + 1
    val snap = root.resolve(s"snap-$n")
    try {
      // memories are partitioned by a user bucket so the F1 scope filter
      // prunes partitions at the parquet scan — at warehouse scale a
      // single-tenant read touches 1/64th of the files (user_id itself
      // would explode the partition count at millions of tenants).
      // A 0-row partitioned write emits no schema-bearing files and the
      // read-back fails UNABLE_TO_INFER_SCHEMA — write flat when empty.
      val mem = memories.withColumn("user_bucket", pmod(crc32(col("user_id")), lit(64)))
      if (memories.isEmpty) mem.write.parquet(s"$snap/memories")
      else mem.write.partitionBy("user_bucket").parquet(s"$snap/memories")
      Seq("entities" -> entities, "episodes" -> episodes,
        "communities" -> communities, "history" -> history, "edges" -> edges)
        .foreach { case (t, df) => df.write.parquet(s"$snap/$t") }
      val tmp = root.resolve("MANIFEST.tmp")
      Files.write(tmp, s"snap-$n\n".getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, root.resolve("MANIFEST"), StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case scala.util.control.NonFatal(e) =>
        deleteTree(snap)
        throw e
    }
    bind(snap.toString)
    snapshotDirs(root).filter(_._1 != n).foreach { case (_, p) => deleteTree(p) }
  }

  /** Binds the tables to the snapshot `dir/MANIFEST` names and resumes
    * every id sequence after its loaded maximum.
    */
  def load(dir: String): Unit = this.synchronized {
    val manifest = Paths.get(dir, "MANIFEST")
    if (!Files.exists(manifest))
      throw new java.io.FileNotFoundException(
        s"$dir holds no store snapshot: $manifest is missing")
    val snap = new String(Files.readAllBytes(manifest), StandardCharsets.UTF_8).trim
    bind(Paths.get(dir, snap).toString)
    def maxId(df: DataFrame, c: String): Long =
      if (df.isEmpty) 0L
      else df.agg(max(col(c))).head().getLong(0)
    memoryIds.set(maxId(memories, "id")); entityIds.set(maxId(entities, "id"))
    episodeIds.set(maxId(episodes, "id")); communityIds.set(maxId(communities, "id"))
    historyIds.set(maxId(history, "id")); edgeIds.set(maxId(edges, "edge_id"))
  }

  private def bind(snap: String): Unit = {
    def rd(t: String): DataFrame = spark.read.parquet(s"$snap/$t")
    memories = rd("memories").drop("user_bucket")
    entities = rd("entities")
    episodes = rd("episodes"); communities = rd("communities")
    history = rd("history"); edges = rd("edges")
    importanceVer += 1
    textVer += 1
    tick(None, structural = true) // every table was replaced
  }

  private def snapshotDirs(root: Path): Seq[(Int, Path)] = {
    val listing = Files.list(root)
    try listing.iterator().asScala.toSeq.flatMap { p =>
      val name = p.getFileName.toString
      if (name.startsWith("snap-")) name.drop(5).toIntOption.map(_ -> p) else None
    } finally listing.close()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(f => Files.delete(f))
      finally walk.close()
    }
}

object GraphStore {

  /** The edge types whose rows the row-delta log carries: the ones a
    * search reads (HAS_ENTITY, RELATION). Appends of other types log
    * their write with none of their rows.
    */
  val LoggedEdgeTypes: Set[String] = Set(EdgeTypes.HasEntity, EdgeTypes.Relation)

  /** What one write did to the rows of memories, entities and edges. */
  sealed trait RowDelta
  final case class MemoriesAppended(rows: Seq[MemoryRow]) extends RowDelta
  final case class EntitiesAppended(rows: Seq[EntityRow]) extends RowDelta
  /** The appended edges of the [[LoggedEdgeTypes]]. */
  final case class EdgesAppended(rows: Seq[EdgeRow]) extends RowDelta
  /** Deleted memories, with [[GraphStore.deleteMemories]]' cascade of
    * their edges (HAS_ENTITY edges out of them, among others).
    */
  final case class MemoriesDeleted(ids: Seq[Long]) extends RowDelta
  final case class EdgesDeleted(ids: Seq[Long]) extends RowDelta
  /** The projection `memories.withColumns(values)`, which changes no row
    * but those of `ids`.
    */
  final case class MemoriesSet(ids: Seq[Long], values: Seq[(String, Column)]) extends RowDelta
  /** A write to history, episodes or communities, or of their edges. */
  case object OtherTables extends RowDelta

  /** See [[GraphStore.rowChangesSince]]. */
  final case class RowChanges(
      version: Long,
      memories: DataFrame,
      entities: DataFrame,
      edges: DataFrame,
      deltas: Option[Seq[RowDelta]])
}
