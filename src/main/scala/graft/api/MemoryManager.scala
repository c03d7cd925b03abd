package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.core._
import graft.ext._
import graft.functions.VectorFunctions
import graft.ops._

/** The engine facade — Spark re-expression of the reference's
  * MemoryManager public API (manager.py; pipeline shapes in SURVEY §3).
  *
  * Request-driven micro-batch like the reference: one add()/search() at a
  * time per user (per-user lock, manager.py:283-284), every LLM-shaped
  * step behind an injectable trait, every data step a DataFrame op.
  * Results are collected only at the API boundary (k is small); the
  * candidate/scoring joins stay distributed — the scale path for bulk
  * ingest is [[addBatch]] (single embed call + one append).
  */
final class MemoryManager(
    val spark: SparkSession,
    val config: MemoryConfig,
    val store: GraphStore,
    embedder: Embedder,
    extractor: Extractor,
    reconciler: Reconciler,
    reranker: Option[Reranker] = None,
    summarizer: Summarizer = new ConcatSummarizer,
    vision: Vision = new HashVision,
    clock: () => Long = () => System.currentTimeMillis(),
    tracer: graft.trace.Tracer = graft.trace.NoopTracer
) {

  import MemoryManager.{AddCall, ItemPlan, PageGraph}
  import MemoryTypes.{Default => DefaultType}

  /** Fact count at or below which candidate search takes the per-fact
    * TakeOrdered point path instead of the one-execution set path: n
    * single-stage jobs beat one 4-stage execution while n is small.
    */
  private val PointSearchMaxFacts = 8

  /** Mirror of the reference's `str(manager._model)` for the MCP config
    * resource (mcp/resources.py:20): the deterministic engine's analogue
    * is which extractor/embedder implementations are plugged in.
    */
  def modelDescription: String =
    s"${extractor.getClass.getSimpleName}+${embedder.getClass.getSimpleName}"

  /** Whether span instrumentation is active (resources.py:27). */
  def instrumented: Boolean = tracer != graft.trace.NoopTracer

  private val userLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(user: String): Object =
    userLocks.computeIfAbsent(user, _ => new Object)

  /** A8 — usage accumulation: per-operation call counts, the engine-side
    * analogue of the reference's RunUsage.incr (manager.py:177-193,
    * types.py:330-347; token counts live in the model clients there, so
    * the deterministic engine counts operations instead).
    */
  private val usageCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private def usageIncr(op: String): Unit =
    usageCounts.computeIfAbsent(op, _ => new java.util.concurrent.atomic.AtomicLong())
      .incrementAndGet()
  def usage(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    usageCounts.asScala.map { case (k, v) => k -> v.get() }.toMap
  }

  // ------------------------------------------------------------------
  // scoped reads (F1/F3)
  // ------------------------------------------------------------------

  private def scopeCol(df: DataFrame): DataFrame =
    df.filter(FilterOps.scopeFilter(config.scopeFilters))

  /** S1 — scoped label scan of memories. */
  def scopedMemories(includeExpired: Boolean = false): DataFrame = {
    val base = scopeCol(store.memories)
    if (includeExpired) base else base.filter(col("expired_at").isNull)
  }

  // ------------------------------------------------------------------
  // W1/W2/W3 — add pipeline
  // ------------------------------------------------------------------

  /** W1 — full add pipeline (manager.py:197-326), the one-item case of
    * [[addReconcileBatch]]: same plan, same write routine. With
    * `infer = false` the text is stored as one ADD, without extraction
    * or candidate search. Deterministic when the injected traits and
    * `now` are.
    */
  def add(
      text: String,
      memoryType: String = DefaultType,
      sessionId: Option[String] = None,
      runId: Option[String] = None,
      actorId: Option[String] = None,
      role: Option[String] = None,
      metadata: Option[String] = None,
      infer: Boolean = true,
      now: Option[Long] = None,
      importance: Double = 1.0 // per-call base score (manager.py add importance=1.0)
  ): AddResult = lockFor(config.userId).synchronized {
    tracer.span("memory.add", Map("user" -> config.userId, "infer" -> infer.toString)) {
    usageIncr("add")
    val call = AddCall(now.getOrElse(clock()), memoryType, sessionId, runId,
      actorId, role, metadata, importance)
    val plans =
      if (infer) planItems(Seq(text), memoryType)
      else Seq(ItemPlan(text, Extraction(Seq(text), Nil, Nil), Map.empty,
        Seq(embedder.embedOne(text)), Seq(Decision(DecisionAction.Add, text, None)), Nil))
    writeItems(plans, call).head
    }
  }

  /** S10 + W1 — add from message input (str | dict | list[dict] incl.
    * multimodal content parts): parse, extract actor, describe images
    * via the Vision trait when enabled (manager.py:214-224), then run
    * the normal add pipeline on the normalized text.
    */
  def addMessages(
      input: graft.sources.MessageInput,
      memoryType: String = DefaultType,
      sessionId: Option[String] = None,
      runId: Option[String] = None,
      metadata: Option[String] = None,
      infer: Boolean = true,
      now: Option[Long] = None
  ): AddResult = {
    val (text0, parsed, images) = graft.sources.Messages.parse(input)
    val (actorId, role) = graft.sources.Messages.extractActor(parsed)
    val text =
      if (images.nonEmpty && config.enableVision) {
        // a throwing Vision impl degrades to the placeholder instead of
        // losing the message (vision.py:44-55 per-image fallback)
        val descs =
          try vision.describe(images).filter(_.nonEmpty)
          catch {
            case scala.util.control.NonFatal(_) =>
              images.map(_ => "[image: undescribed]")
          }
        val imageText = descs.map(d => s"[Image: $d]").mkString("\n")
        if (text0.nonEmpty) s"$text0\n$imageText" else imageText
      } else text0
    add(text, memoryType, sessionId, runId, actorId, role, metadata, infer, now)
  }

  /** W3 — raw batch add: one embed call, one append (manager.py:381-477).
    * This is the bulk-ingest scale path.
    */
  def addBatch(
      texts: Seq[String],
      memoryType: String = DefaultType,
      sessionId: Option[String] = None,
      runId: Option[String] = None,
      now: Option[Long] = None,
      importance: Double = 1.0
  ): Seq[String] = lockFor(config.userId).synchronized {
    tracer.span("memory.add_batch", Map("n" -> texts.size.toString)) {
    usageIncr("add_batch")
    val ts = now.getOrElse(clock())
    val embs = embedder.embed(texts)
    val rows = texts.zip(embs).map { case (t, e) =>
      newMemoryRow(store.nextMemoryId(), t, Some(e), ts, memoryType,
        sessionId, runId, None, None, None, None, importance)
    }
    val (hist, histEdges) =
      rows.map(r => historyEntry("ADD", r.id, ts, None, Some(r.text))).unzip
    store.appendMemories(rows)
    store.appendHistory(hist)
    store.appendEdges(histEdges)
    rows.map(_.id.toString)
    }
  }

  /** W2 at batch scale — set-oriented reconciliation ingest: the whole
    * per-add pipeline (extract → embed → candidate search → reconcile →
    * SCD2 execute → graph/episode store) over a batch of texts with a
    * BOUNDED number of distributed operations, independent of batch
    * size: one embed call for all facts, ONE candidate-search job, one
    * embed call for all update texts, one lookup for off-candidate
    * targets, one lookup for inherited entity edges, then one append /
    * patch per table. The reference's loop is sequential by contract
    * (manager.py:339-343 — each add sees the store its predecessors
    * left); this is the documented scale alternative for corpus-refresh
    * ingest, where per-add driver round-trips dominate (B6 measured the
    * loop at ≈1 add/s; BASELINE §8). [[add]] is the one-item case.
    *
    * INTRA-BATCH SEMANTICS (the documented contract). Candidates,
    * reconciliation targets, inherited entity edges and existing
    * relations resolve against the store as it was BEFORE the call:
    * facts of different items never see each other as candidates.
    * Entity ids follow first appearance across the batch (one merged
    * upsert). Memory, history, edge and episode ids follow decision
    * visit order, so [[add]] — the one-item case — keeps its ids.
    *   1. An item with no facts writes nothing: none of its entities
    *      or relations are stored.
    *   2. `reconcileRelations` is called for an item only when it has
    *      existing triples around its entities.
    *   3. Session LEADS_TO and episode NEXT_EPISODE chains link the
    *      items in order. The first item's session predecessor is the
    *      latest non-expired scoped memory of the chain key that this
    *      item did not ADD and no later item created (looked up after
    *      the call's expiries), so its own UPDATE-created memory counts;
    *      the reference links ADD events only (manager.py:315).
    *   4. Several decisions on one target produce one expiry (all share
    *      the call's timestamp); in bitemporal mode its invalid_at is
    *      the last defined value among them. Each decision still
    *      records its own history event.
    *   5. Episode MENTIONS edges use the upsert's entity ids, the ones
    *      the HAS_ENTITY edges use (scoped to the graph name).
    *   6. A target that did not exist before the call is not expired;
    *      an UPDATE of it still creates its memory, SUPERSEDES edge and
    *      history row (with old_text = null).
    *
    * Returns one [[AddResult]] per input text, index-aligned.
    */
  def addReconcileBatch(
      texts: Seq[String],
      memoryType: String = DefaultType,
      sessionId: Option[String] = None,
      runId: Option[String] = None,
      actorId: Option[String] = None,
      role: Option[String] = None,
      metadata: Option[String] = None,
      now: Option[Long] = None,
      importance: Double = 1.0
  ): Seq[AddResult] = lockFor(config.userId).synchronized {
    tracer.span("memory.add_reconcile_batch", Map("n" -> texts.size.toString)) {
    usageIncr("add_reconcile_batch")
    if (texts.isEmpty) Seq.empty
    else {
      val call = AddCall(now.getOrElse(clock()), memoryType, sessionId, runId,
        actorId, role, metadata, importance)
      writeItems(planItems(texts, memoryType), call)
    }
    }
  }

  /** Extraction → temporal annotation → ONE embed call over every fact →
    * ONE candidate search against the current store → per-item
    * reconcile (a driver trait call per item with facts).
    */
  private def planItems(texts: Seq[String], memoryType: String): Seq[ItemPlan] = {
    // combined extraction with the reference's fallback ladder:
    // combined fails → separate facts + entities legs
    // (extraction/entities.py:96-132)
    val extractions = texts.map { text =>
      try extractor.extract(text)
      catch {
        case scala.util.control.NonFatal(_) =>
          val facts = extractor.extractFactsOnly(text)
          val (ents, rels) = extractor.extractEntitiesOnly(text)
          Extraction(facts, ents, rels)
      }
    }
    val temporal: Seq[Map[Int, TemporalAnnotation]] = extractions.map { ex =>
      if (config.enableBitemporal && ex.facts.nonEmpty)
        extractor.annotateTemporal(ex.facts).map(a => a.factIndex -> a).toMap
      else Map.empty
    }
    val allFacts = extractions.flatMap(_.facts)
    val (allEmbs, perFact) =
      if (allFacts.isEmpty) (Seq.empty, Seq.empty)
      else {
        val embs = embedder.embed(allFacts)
        (embs, candidateRowsPerFact(allFacts, embs, memoryType))
      }
    val offsets = extractions.scanLeft(0)(_ + _.facts.size)
    extractions.indices.map { i =>
      val ex = extractions(i)
      // an item's candidates = its facts' rows, fact-major/rank-minor,
      // first-wins dedup WITHIN the item only
      val cands = (offsets(i) until offsets(i + 1)).flatMap(perFact(_)).distinctBy(_._1)
      val decisions =
        if (ex.facts.isEmpty) Nil
        // fast path: nothing to reconcile against → all ADD without a
        // model call (reconciliation/memories.py:88-90)
        else if (cands.isEmpty) ex.facts.map(f => Decision(DecisionAction.Add, f, None))
        else reconciler.reconcile(ex.facts, cands)
      ItemPlan(texts(i), ex, temporal(i), allEmbs.slice(offsets(i), offsets(i + 1)),
        decisions, cands)
    }
  }

  /** The one write routine of every reconciled add (the SCD2 decision
    * executor, manager.py:854-1035, plus graph and episode store,
    * manager.py:1182-1307 and 1646-1767): batched lookups, the decision
    * loop on the driver, then ONE append per table, one expiry and one
    * relation-edge delete. Ids are assigned in decision
    * visit order. The rules are [[addReconcileBatch]]'s.
    */
  private def writeItems(plans: Seq[ItemPlan], call: AddCall): Seq[AddResult] = {
    import call.{ts, actorId, role}
    // batched resolution of everything the decision loop needs:
    // update-text embeddings (one call), off-candidate target texts
    // (one lookup), inherited entity edges (one lookup)
    val allDecisions = plans.flatMap(_.decisions)
    val updates = allDecisions.filter(d =>
      d.action == DecisionAction.Update && d.targetMemoryId.nonEmpty)
    val updateEmbs =
      if (updates.isEmpty) Iterator.empty else embedder.embed(updates.map(_.text)).iterator
    val knownTexts: Map[Long, String] = plans.flatMap(_.candidates).toMap
    val missingTargets = allDecisions
      .collect { case d if d.targetMemoryId.nonEmpty &&
        d.action != DecisionAction.Add && d.action != DecisionAction.None =>
        d.targetMemoryId.get }
      .distinct.filterNot(knownTexts.contains)
    val fetchedTexts: Map[Long, String] =
      if (missingTargets.isEmpty) Map.empty
      else store.memories.filter(col("id").isin(missingTargets: _*))
        .select(col("id"), col("text")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val targetText: Map[Long, String] = knownTexts ++ fetchedTexts
    // J10 — a replacement inherits its superseded memory's HAS_ENTITY
    // edges (manager.py:1153-1180)
    val updTargets = updates.map(_.targetMemoryId.get).distinct
    val inheritedEnts: Map[Long, Seq[Long]] =
      if (updTargets.isEmpty) Map.empty
      else store.edges
        .filter(col("edge_type") === EdgeTypes.HasEntity &&
          col("src").isin(updTargets: _*))
        .select(col("src"), col("dst")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }

    // the decision loop ON THE DRIVER, accumulating rows
    val newMems = Vector.newBuilder[MemoryRow]
    val histRows = Vector.newBuilder[HistoryRow]
    val newEdges = Vector.newBuilder[EdgeRow]
    val expiries = scala.collection.mutable.LinkedHashMap.empty[Long, Option[Long]]

    def mkMemory(text: String, emb: Option[Array[Float]],
        validAt: Option[Long]): Long = {
      val id = store.nextMemoryId()
      newMems += newMemoryRow(id, text, emb, ts, call.memoryType, call.sessionId,
        call.runId, actorId, role, call.metadata, validAt, call.importance)
      id
    }
    def mkHistory(event: String, memoryId: Long, oldText: Option[String],
        newText: Option[String]): Unit = {
      val (h, e) = historyEntry(event, memoryId, ts, oldText, newText, actorId, role)
      histRows += h
      newEdges += e
    }
    // W6 — soft expiry; invalid_at only in bitemporal mode
    // (manager.py:1130-1151). Returns the old text.
    def expire(target: Long, invalidAt: Option[Long]): Option[String] = {
      val known = targetText.get(target)
      if (known.isDefined) {
        val inv = if (config.enableBitemporal) invalidAt else None
        expiries(target) = inv.orElse(expiries.getOrElse(target, None))
      }
      known
    }

    val (events, created) = plans.map { plan =>
      val evs = Vector.newBuilder[MemoryEvent]
      val made = Vector.newBuilder[Long]
      plan.decisions.zipWithIndex.foreach { case (d, i) =>
        val factValidAt = plan.temporal.get(i).flatMap(_.validAt)
        d.action match {
          case DecisionAction.Update if d.targetMemoryId.nonEmpty =>
            val target = d.targetMemoryId.get
            val oldText = expire(target, Some(factValidAt.getOrElse(ts)))
            val id = mkMemory(d.text, Some(updateEmbs.next()), factValidAt)
            newEdges += EdgeRow(store.nextEdgeId(), id, target,
              EdgeTypes.Supersedes, Map.empty)
            inheritedEnts.getOrElse(target, Nil).foreach(e =>
              newEdges += EdgeRow(store.nextEdgeId(), id, e,
                EdgeTypes.HasEntity, Map.empty))
            mkHistory("UPDATE", id, oldText, Some(d.text))
            evs += MemoryEvent("UPDATE", Some(id.toString), d.text, oldText)
            made += id
          // UPDATE without target downgrades to ADD (manager.py:910-943)
          case DecisionAction.Add | DecisionAction.Update =>
            val id = mkMemory(d.text, plan.embeddings.lift(i), factValidAt)
            mkHistory("ADD", id, None, Some(d.text))
            evs += MemoryEvent("ADD", Some(id.toString), d.text)
            made += id
          case DecisionAction.Delete if d.targetMemoryId.nonEmpty =>
            val target = d.targetMemoryId.get
            val oldText = expire(target, None)
            mkHistory("DELETE", target, oldText, None)
            evs += MemoryEvent("DELETE", Some(target.toString),
              oldText.getOrElse(""), oldText)
          // NONE, and DELETE without target (skipped, manager.py:1003)
          case _ => ()
        }
      }
      (evs.result(), made.result())
    }.unzip

    // W9/W10 — graph store: one merged first-appearance entity upsert
    // over the items with facts; every event memory of an item links to
    // every entity it extracted (the reference's cross product);
    // relation reconciliation against the pre-call relation edges with
    // one delete
    val factful = plans.indices.filter(i => plans(i).extraction.facts.nonEmpty)
    val entityIds: Map[String, Long] =
      upsertEntities(factful.flatMap(i => plans(i).extraction.entities))
    def idsOf(ents: Seq[ExtractedEntity]): Seq[Long] =
      ents.flatMap(e => entityIds.get(e.name)).distinct.sorted
    factful.foreach { i =>
      for {
        m <- events(i).flatMap(_.memoryId).map(_.toLong)
        e <- idsOf(plans(i).extraction.entities)
      } newEdges += EdgeRow(store.nextEdgeId(), m, e, EdgeTypes.HasEntity, Map.empty)
    }
    val withRels = factful.map(plans(_).extraction).filter(_.relations.nonEmpty)
    val touched = withRels.flatMap(ex => idsOf(ex.entities)).distinct
    if (touched.nonEmpty) {
      val existing = existingRelations(touched)
      val names =
        if (existing.isEmpty) Map.empty[Long, String]
        else store.entities
          .filter(col("id").isin(existing.flatMap(e => Seq(e._2, e._3)).distinct: _*))
          .select(col("id"), col("name")).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      // the trait decides which existing triples to drop; delete the
      // FIRST matching edge per rejected (source, target, relation_type),
      // like manager.py:1753-1767
      val deleteIds = withRels.flatMap { ex =>
        val own = idsOf(ex.entities).toSet
        val triples = existing.filter(e => own.contains(e._2))
          .map { case (eid, s, t, rt) =>
            (eid, ExtractedRelation(names.getOrElse(s, s.toString),
              names.getOrElse(t, t.toString), rt)) }
        if (triples.isEmpty) Nil
        else reconciler.reconcileRelations(ex.relations, triples.map(_._2)).flatMap { d =>
          triples.find { case (_, r) =>
            r.source == d.source && r.target == d.target &&
              r.relationType == d.relationType
          }.map(_._1)
        }
      }.distinct
      store.deleteEdgesById(deleteIds)
      for {
        ex <- withRels
        r <- ex.relations
        s <- entityIds.get(r.source)
        t <- entityIds.get(r.target)
      } newEdges += EdgeRow(store.nextEdgeId(), s, t, EdgeTypes.Relation,
        Map("relation_type" -> r.relationType))
    }

    // ONE append per table + one expiry
    store.appendMemories(newMems.result())
    store.expireMemories(ts, expiries.toSeq)
    store.appendHistory(histRows.result())

    // W11/J11 — episodes + NEXT_EPISODE, or the LEADS_TO session chain
    // (manager.py:1182-1307). The chain key must match what newMemoryRow
    // STORES in run_id; reference: config.run_id or sid (manager.py:314)
    val chainKey = call.runId.orElse(config.runId).orElse(call.sessionId)
    if (config.enableEpisodes) {
      // episode creation requires a non-empty event list
      val first = events.indexWhere(_.nonEmpty)
      var prevEp: Option[Long] =
        if (first < 0) None
        else chainKey.flatMap { key =>
          store.episodes
            .filter(col("user_id") === config.userId &&
              (col("run_id") === key ||
                (col("run_id").isNull && col("session_id") === key)))
            .orderBy(col("created_at").desc, col("id").desc)
            .select(col("id")).collect().headOption.map(_.getLong(0))
        }
      val epRows = Vector.newBuilder[EpisodeRow]
      plans.indices.filter(events(_).nonEmpty).foreach { item =>
        // episode rows store the EFFECTIVE run id (per-call or config),
        // which the chain lookup above matches (manager.py:1245-1246)
        val epId = store.nextEpisodeId()
        epRows += EpisodeRow(epId, plans(item).text, "message", config.userId,
          ts, call.sessionId, call.runId.orElse(config.runId))
        // PRODUCED covers EVERY event carrying a memory id
        // (manager.py:316, 1252-1255)
        events(item).flatMap(_.memoryId).map(_.toLong).distinct.foreach(m =>
          newEdges += EdgeRow(store.nextEdgeId(), epId, m, EdgeTypes.Produced, Map.empty))
        idsOf(plans(item).extraction.entities).foreach(e =>
          newEdges += EdgeRow(store.nextEdgeId(), epId, e, EdgeTypes.Mentions, Map.empty))
        if (chainKey.nonEmpty) {
          prevEp.foreach(p => newEdges += EdgeRow(store.nextEdgeId(), p,
            epId, EdgeTypes.NextEpisode, Map.empty))
          prevEp = Some(epId)
        }
      }
      store.appendEpisodes(epRows.result())
    } else chainKey.foreach { key =>
      // session chains link only ADD events (manager.py:315)
      val addIds = events.map(_.filter(_.event == "ADD").flatMap(_.memoryId).map(_.toLong))
      val first = created.indexWhere(_.nonEmpty)
      // J11 — as-of: latest non-expired memory of this user+run that the
      // first creating item did not ADD and no later item created
      // (manager.py:1182-1223)
      var prev: Option[Long] =
        if (first < 0 || addIds(first).isEmpty) None
        else scopeCol(store.memories)
          .filter(col("expired_at").isNull &&
            !col("id").isin(addIds(first) ++ created.drop(first + 1).flatten: _*) &&
            (coalesce(col("run_id"), col("session_id")) === key))
          .orderBy(col("created_at").desc, col("id").desc)
          .select(col("id")).collect().headOption.map(_.getLong(0))
      plans.indices.foreach { item =>
        // sequence numbering mirrors manager.py:1211-1221: prev→new[0]
        // is 0; new[i]→new[i+1] is ALWAYS i+1 (even without a prev)
        val ids = addIds(item)
        if (ids.nonEmpty) {
          prev.foreach(p => newEdges += EdgeRow(store.nextEdgeId(), p,
            ids.head, EdgeTypes.LeadsTo, Map("sequence" -> "0")))
          ids.sliding(2).zipWithIndex.foreach {
            case (Seq(a, b), i) => newEdges += EdgeRow(store.nextEdgeId(),
              a, b, EdgeTypes.LeadsTo, Map("sequence" -> (i + 1).toString))
            case _ => ()
          }
        }
        if (created(item).nonEmpty) prev = Some(created(item).last)
      }
    }
    store.appendEdges(newEdges.result())
    events.map(AddResult(_))
  }

  /** J12 — reconciliation-candidate search: top-k cosine per fact above
    * the threshold over the user's non-expired memories
    * (search/vector.py:294-348), rank-ordered rows for EACH fact
    * (index-aligned with `facts`) before any cross-fact dedup, so facts
    * of different batch items never dedup against each other.
    */
  private def candidateRowsPerFact(
      facts: Seq[String],
      embeddings: Seq[Array[Float]],
      memoryType: String
  ): Seq[Seq[(Long, String)]] = tracer.span("memory.candidate_search",
      Map("facts" -> facts.size.toString)) {
    // non-semantic adds reconcile only against their own type
    // (manager.py:279-292 similar_filters) — a procedural fact must
    // never expire a similar SEMANTIC memory
    val mem0 = scopedMemories()
    val mem =
      if (memoryType == MemoryTypes.Semantic) mem0
      else mem0.filter(FilterOps.memoryType(col("memory_type"), memoryType))
    val k = config.reconciliationCandidates
    if (embeddings.size <= PointSearchMaxFacts) {
      // POINT path (the interactive add: 1-few facts). Per fact, one
      // single-stage job — scan → codegen'd cosine against the literal
      // query embedding → threshold filter → TakeOrderedAndProject
      // (per-partition heaps, driver merge of p·k rows). No broadcast
      // build, no crossjoin, no window shuffle, no join-back: this is
      // the whole per-add latency story of BASELINE §8, and it is also
      // the correct distributed top-k shape at 100 TB. Threshold-then-
      // top-k equals the set path's top-k-then-threshold: both keep
      // the best ≤k candidates at or above the threshold.
      embeddings.map { e =>
        mem.select(col("id"), col("text"),
            VectorFunctions.cosineSimilarity(col("embedding"), typedLit(e))
              .as("cosine"))
          // reference similarity is max(0, 1-distance), never negative
          .filter(greatest(lit(0.0), col("cosine")) >= config.reconciliationThreshold)
          .orderBy(col("cosine").desc, col("id").asc)
          .limit(k)
          .select(col("id"), col("text"))
          .collect()
          .map(r => r.getLong(0) -> r.getString(1)).toSeq
      }
    } else {
      // SET path (big extraction batches): one execution for all facts —
      // crossjoin + per-query window beats fact-count sequential jobs.
      // Candidate texts ride the same job via a join back to the
      // (checkpointed, in-memory) memory table; an empty store just
      // collects zero rows, no up-front isEmpty probe.
      import spark.implicits._
      val queries = embeddings.zipWithIndex.map { case (e, i) => (i, e) }
        .toDF("fact_idx", "q_emb")
      val rows = SimilarityOps
        .bruteForceTopK(mem, "id", "embedding", broadcast(queries),
          "fact_idx", "q_emb", k, excludeSelf = false)
        .filter(greatest(lit(0.0), col("cosine")) >= config.reconciliationThreshold)
        .join(mem.select(col("id").as("neighbor_id"), col("text")), Seq("neighbor_id"))
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("text"))
        .collect()
      // (query_id, rank) driver sort then group per fact: ≤ k·facts
      // rows, not worth a global-sort exchange
      val byFact = rows.sortBy(r => (r.getInt(0), r.getInt(1)))
        .map(r => (r.getInt(0), r.getLong(2) -> r.getString(3)))
        .groupBy(_._1)
      embeddings.indices.map(i =>
        byFact.getOrElse(i, Array.empty).map(_._2).toSeq)
    }
  }

  private def newMemoryRow(
      id: Long,
      text: String,
      embedding: Option[Array[Float]],
      ts: Long,
      memoryType: String,
      sessionId: Option[String],
      runId: Option[String],
      actorId: Option[String],
      role: Option[String],
      metadata: Option[String],
      validAt: Option[Long],
      importance: Double
  ): MemoryRow = {
    embedding.foreach { e =>
      require(e.isEmpty || e.length == config.embeddingDimensions,
        s"embedding dimension ${e.length} != configured ${config.embeddingDimensions}")
    }
    MemoryRow(
      id = id, text = text, user_id = config.userId,
      created_at = ts, updated_at = ts, learned_at = ts,
      memory_type = memoryType,
      valid_at = validAt, invalid_at = None, expired_at = None,
      session_id = sessionId, agent_id = config.agentId,
      run_id = runId.orElse(config.runId), graph_name = config.graphName,
      metadata = metadata, actor_id = actorId, role = role,
      importance = if (config.enableImportance) Some(importance) else None,
      access_count = if (config.enableImportance) Some(0L) else None,
      last_accessed = None,
      embedding = embedding.getOrElse(Array.empty[Float]),
      source = None
    )
  }

  /** W8 — a history entry: the History node row and its HAS_HISTORY
    * edge (history.py:28-60; the non-CDC fallback path is the faithful
    * one). The caller appends both.
    */
  private def historyEntry(
      event: String,
      memoryId: Long,
      ts: Long,
      oldText: Option[String],
      newText: Option[String],
      actorId: Option[String] = None,
      role: Option[String] = None
  ): (HistoryRow, EdgeRow) = {
    val hid = store.nextHistoryId()
    (HistoryRow(hid, memoryId, event, ts, oldText, newText, actorId, role),
      EdgeRow(store.nextEdgeId(), memoryId, hid, EdgeTypes.HasHistory, Map.empty))
  }

  /** W9 — BATCHED entity upsert: one lookup join for every entity of the
    * add and one append for all the misses, replacing the reference's
    * per-entity probe loop (manager.py:1646-1680) — bulk ingest was
    * paying one Spark job per entity per message.
    */
  private def upsertEntities(ents: Seq[ExtractedEntity]): Map[String, Long] = {
    if (ents.isEmpty) return Map.empty
    val names = ents.map(_.name).distinct
    val base = store.entities
      .filter(col("user_id") === config.userId && col("name").isin(names: _*))
    val scoped = config.graphName
      .map(g => base.filter(col("graph_name") === g)).getOrElse(base)
    val existing = scoped
      .groupBy(col("name")).agg(min(col("id")).as("id")) // deterministic pick
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // first occurrence wins, extraction order preserved (ids are
    // assigned in the order the extractor emitted the entities, exactly
    // like the per-entity loop did)
    val missing = ents.filter(e => !existing.contains(e.name))
      .foldLeft(Vector.empty[ExtractedEntity]) { (acc, e) =>
        if (acc.exists(_.name == e.name)) acc else acc :+ e
      }
    val created = missing.map(e => e.name -> (store.nextEntityId(), e.entityType))
    store.appendEntities(created.map { case (n, (id, t)) =>
      EntityRow(id, n, t, config.userId, config.graphName)
    })
    existing ++ created.map { case (n, (id, _)) => n -> id }
  }

  /** J5 — E→E relation scan around a set of entities. */
  private def existingRelations(entityIds: Seq[Long]): Seq[(Long, Long, Long, String)] =
    store.edges
      .filter(col("edge_type") === EdgeTypes.Relation &&
        col("src").isin(entityIds: _*))
      .select(col("edge_id"), col("src"), col("dst"), col("props"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getMap[String, String](3).getOrElse("relation_type", "")))
      .toSeq

  // ------------------------------------------------------------------
  // G1-G4 — whole-graph metrics + communities (manager.py:1585-1644,
  // communities.py:32-200). Lazy: recomputed at search time when the
  // store's write-version moved (the reference's dirty flag).
  // ------------------------------------------------------------------

  // per-label id spaces → global node keys for cross-label graph algos
  private val MemC = 0L; private val EntC = 1L; private val EpiC = 2L
  private val ComC = 3L; private val HisC = 4L

  /** Edges with label-space-disambiguated endpoints. */
  private[graft] def globalEdges: DataFrame = {
    val srcCode = typedCode("src")
    val dstCode = typedCode("dst")
    store.edges.select(
      (col("src") * 8L + srcCode).as("src"),
      (col("dst") * 8L + dstCode).as("dst"))
  }
  private def typedCode(side: String) = {
    val t = col("edge_type")
    val isSrc = side == "src"
    when(t === EdgeTypes.HasEntity, if (isSrc) MemC else EntC)
      .when(t === EdgeTypes.Relation, EntC)
      .when(t === EdgeTypes.Supersedes, MemC)
      .when(t === EdgeTypes.DerivedFrom, MemC)
      .when(t === EdgeTypes.LeadsTo, MemC)
      .when(t === EdgeTypes.Produced, if (isSrc) EpiC else MemC)
      .when(t === EdgeTypes.Mentions, if (isSrc) EpiC else EntC)
      .when(t === EdgeTypes.NextEpisode, EpiC)
      .when(t === EdgeTypes.HasMember, if (isSrc) ComC else EntC)
      .when(t === EdgeTypes.HasHistory, if (isSrc) MemC else HisC)
      .otherwise(lit(7L))
  }

  private var metricsVersion = -1L

  // ---- search-path state across requests ---------------------------
  // A search reads the serving index, which the store's row deltas keep
  // up to date, and Spark only above the index's budget; no write makes
  // the next search rebuild a whole-store memo. Reinforcement
  // (structural decay only) is still a whole-graph aggregation,
  // memoized on the exact store versions its inputs depend on:
  // (graphVersion, importanceVersion) — created_at is immutable and an
  // edgeless new memory can't shift any other memory's score.
  // bumpAccess moves neither key.
  private[graft] val servingIndex = ServingIndex.of(store,
    if (config.scopedHybridCandidates) Some(config.scopeFilters) else None)

  private var reinfMemoKey = (-1L, -1L)
  private var reinfMemo: DataFrame = _
  private def reinforcementDf(): DataFrame = this.synchronized {
    val key = (store.graphVersion, store.importanceVersion)
    if (key != reinfMemoKey) {
      reinfMemo = GraphOps.reinforcement(
          store.memories.select(col("id"), col("created_at"), col("importance")),
          store.edges.filter(col("edge_type") === EdgeTypes.HasEntity),
          config.structuralFeedbackGamma)
        .localCheckpoint()
      reinfMemoKey = key
    }
    reinfMemo
  }

  /** G1+G2+G3 — recompute and cache metric columns on Memory rows when
    * the EDGE TOPOLOGY changed since the last recompute (graphVersion,
    * not writeVersion: access-count bumps and property patches must not
    * retrigger whole-graph analytics on every search).
    */
  def recomputeGraphMetricsIfDirty(): Unit =
    if (config.enableGraphAlgorithms && store.graphVersion != metricsVersion)
      tracer.span("memory.graph_metrics_recompute") {
      val ge = globalEdges.localCheckpoint()
      if (!ge.isEmpty) {
        // ONE sizing job for the whole refresh (exact node count + an
        // edge upper bound): gates both the betweenness plan choice and
        // the community driver-vs-distributed choice
        val sized = ge.select(explode(array(col("src"), col("dst"))).as("node"))
          .agg(countDistinct(col("node")).as("n"),
            (count(lit(1)) / 2).cast("long").as("m"))
          .collect()(0)
        val (n, mUpper) = (sized.getLong(0), sized.getLong(1))
        val pr = GraphAlgorithms.pageRank(ge)
        val bc = scaledBetweenness(ge, n, mUpper)
        val lp = communityPartition(ge, n)
        val memMetrics = pr
          .join(bc, Seq("node"), "full_outer")
          .join(lp, Seq("node"), "full_outer")
          .filter(pmod(col("node"), lit(8L)) === MemC)
          .select(((col("node") - MemC) / 8L).cast("long").as("id"),
            col("pagerank"), col("betweenness"), col("community"))
        store.patchMemories(memMetrics, Seq("pagerank", "betweenness", "community"))
        if (config.enableCommunitySummaries) materializeCommunities(lp)
      }
      metricsVersion = store.graphVersion
    }

  /** Exact Brandes below the node bound; above it, pivot-sampled roots
    * (deterministic md5-ordered draw over the node ids) with the |V|/|S|
    * Brandes–Pich scale-up — the write path's metric refresh stays
    * bounded at O(|S|·E) instead of O(V·E) on a grown graph.
    */
  private def scaledBetweenness(ge: DataFrame, n: Long, mUpper: Long): DataFrame = {
    val nodes = ge.select(col("src").as("node"))
      .unionByName(ge.select(col("dst").as("node")))
      .distinct()
    // (n, mUpper) sized once by the caller for the whole refresh —
    // threaded into betweenness() so it skips its own two eager
    // count() jobs (VERDICT r5 #7); mUpper is raw rows / 2, an upper
    // bound that only gates the broadcast-vs-waves choice.
    if (n <= config.betweennessExactMaxNodes)
      GraphAlgorithms.betweenness(ge, knownCounts = Some((n, mUpper)))
    else {
      // deterministic md5-ordered pivots (uniform over the id space,
      // engine-replayable) — one TakeOrderedAndProject, never a global
      // window over the node set
      val roots = GraphOps.samplePivots(nodes, config.betweennessSampleRoots)
      val actualRoots = roots.count().toDouble
      val sampled = GraphAlgorithms.betweenness(ge, Some(roots),
        knownCounts = Some((n, mUpper)))
      sampled.withColumn("betweenness",
        col("betweenness") * lit(n.toDouble / math.max(1.0, actualRoots)))
    }
  }

  /** G4 — materialize entity communities (≥ 2 scoped members) as
    * Community nodes + HAS_MEMBER edges; unchanged membership is kept,
    * dissolved communities are deleted (communities.py:32-200).
    *
    * The changed-vs-unchanged diff is DISTRIBUTED — a join of this run's
    * (community, member_count) aggregate against the stored communities —
    * so only the changed clusters (the set that needs a summarizer call
    * per cluster anyway) ever collect their members to the driver. A
    * tenant with millions of entities in stable communities costs one
    * aggregation, not a driver materialization. Returns the number of
    * clusters re-summarized (0 == nothing reached the driver).
    */
  private[graft] def materializeCommunities(lp: DataFrame): Int = {
    import org.apache.spark.sql.functions.broadcast
    val entComm = lp.filter(pmod(col("node"), lit(8L)) === EntC)
      .select(((col("node") - EntC) / 8L).cast("long").as("ent_id"),
        col("community"))
    // feeds both the count diff and the changed-member fetch: one compute
    val memberTbl = entComm
      .join(scopeCol2(store.entities).select(col("id").as("ent_id"), col("name")), "ent_id")
      .select(col("community"), col("ent_id"), col("name"))
      .localCheckpoint()
    val counts = memberTbl.groupBy(col("community"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
    val existingDf = store.communities
      .filter(col("user_id") === config.userId)
      .select(col("id").as("row_id"), col("community_id").as("community"),
        col("member_count"))
    // new or size-changed clusters only — the LLM-bound set
    val changed = counts.join(existingDf, Seq("community"), "left")
      .filter(col("row_id").isNull || col("member_count") =!= col("n"))
      .select(col("community"), col("row_id"))
      .collect()
    val ts = clock()
    if (changed.nonEmpty) {
      import spark.implicits._
      val changedDf = changed.map(_.getLong(0)).toSeq.toDF("community")
      val changedMembers = memberTbl
        .join(broadcast(changedDf), Seq("community"), "left_semi")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .groupBy(_._1)
      changed.foreach { row =>
        val commId = row.getLong(0)
        if (!row.isNullAt(1)) store.deleteCommunities(Seq(row.getLong(1)))
        val ms = changedMembers.getOrElse(commId, Array.empty[(Long, Long, String)])
        val names = ms.map(_._3).sorted
        val (name, summary) = summarizer.describeCommunity(names.toSeq, Nil)
        val cid = store.nextCommunityId()
        store.appendCommunities(Seq(CommunityRow(cid, name, summary, commId,
          ms.length.toLong, config.userId, ts, ts)))
        store.appendEdges(ms.map { case (_, ent, _) =>
          EdgeRow(store.nextEdgeId(), cid, ent, EdgeTypes.HasMember, Map.empty)
        }.toSeq)
      }
    }
    // dissolved: stored communities whose id no longer has a >=2-member
    // group — an anti-join; only ids reach the driver
    val dissolved = existingDf.join(counts, Seq("community"), "left_anti")
      .select(col("row_id")).collect().map(_.getLong(0))
    if (dissolved.nonEmpty) store.deleteCommunities(dissolved.toSeq)
    changed.length
  }

  /** Test hook: recompute LPA over the current graph and re-materialize
    * communities, returning how many clusters were re-summarized — the
    * observable that the unchanged-cluster path never collects members.
    */
  private[graft] def refreshCommunities(): Int = {
    val ge = globalEdges.localCheckpoint()
    if (ge.isEmpty) 0
    else {
      val n = ge.select(explode(array(col("src"), col("dst"))).as("node"))
        .agg(countDistinct(col("node"))).collect()(0).getLong(0)
      materializeCommunities(communityPartition(ge, n))
    }
  }

  /** G3 partition for the manager graph (the reference runs Louvain at
    * this exact point, manager.py:1633-1642). Two physical plans by
    * graph size, measured in BASELINE §7b:
    * at or below `communityExactMaxNodes` the reference's own
    * sequential Louvain runs on the driver (bounded collect — exact
    * lifecycle fidelity for small tenants, and immune to the
    * synchronous refinement's tiny-graph swap-oscillation); above it,
    * distributed LPA refined by the Louvain phase-1 local-moving pass
    * with the majority burst ON — the configuration that reproduced
    * sequential Louvain's partition on the multi-session AND
    * hub-flooded families (without the burst a flooded seed is a
    * fixpoint local moving cannot split: Q 0.20 vs Louvain's 0.60).
    * `communityRefineRounds = 0` opts out to raw LPA everywhere.
    */
  private def communityPartition(ge: DataFrame, nNodes: Long): DataFrame =
    if (config.communityRefineRounds <= 0) GraphAlgorithms.labelPropagation(ge)
    else if (nNodes <= config.communityExactMaxNodes)
      GraphAlgorithms.louvainDriver(ge)
    else GraphAlgorithms.refineCommunities(ge,
      GraphAlgorithms.labelPropagation(ge), config.communityRefineRounds)

  /** Community read API (communities.py:203-238). */
  def getCommunities(): Seq[(String, String, Long)] =
    store.communities.filter(col("user_id") === config.userId)
      .orderBy(col("id"))
      .select(col("name"), col("summary"), col("member_count"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq

  // ------------------------------------------------------------------
  // search pipeline (§3.1)
  // ------------------------------------------------------------------

  def search(
      query: String,
      k: Int = 10,
      filters: Map[String, FilterOps.Pred] = Map.empty,
      rerank: Boolean = false,
      memoryType: Option[String] = None,
      minScore: Option[Double] = None,
      timeAfter: Option[Long] = None,
      timeBefore: Option[Long] = None,
      includeExpired: Boolean = false,
      diverse: Boolean = false,
      pointInTime: Option[Long] = None,
      now: Option[Long] = None
  ): Seq[SearchResult] =
    searchImpl(query, k, filters, rerank, memoryType, minScore, timeAfter,
      timeBefore, includeExpired, diverse, pointInTime, now, trace = None)

  /** R9 — explain: the same pipeline with per-stage observations. */
  def explain(
      query: String,
      k: Int = 10,
      filters: Map[String, FilterOps.Pred] = Map.empty,
      rerank: Boolean = false,
      memoryType: Option[String] = None,
      minScore: Option[Double] = None,
      diverse: Boolean = false
  ): ExplainResult = {
    val trace = scala.collection.mutable.ArrayBuffer.empty[ExplainStep]
    val results = searchImpl(query, k, filters, rerank, memoryType, minScore,
      None, None, includeExpired0 = false, diverse, None, None, Some(trace))
    trace += ExplainStep("final", s"top=${results.take(3).map(_.memoryId).mkString(",")}",
      results.size.toLong)
    ExplainResult(trace.toSeq, results)
  }

  /** The search pipeline as a bounded page (the shape of the add path's
    * POINT candidate search): each candidate leg's top page and the rows
    * of the page's ids are read, then fusion over the ≤ 2·fetchK + k rows
    * runs on the driver through [[PageFusion]], bit-identical to the
    * DataFrame operators it replaces. The reads come from the serving
    * index ([[ServingIndex]]: no Spark job) or, above its budget, from
    * Spark over one store snapshot ([[SparkReads]]: one entity lookup,
    * ONE candidate action with the legs unioned so AQE runs their stages
    * concurrently, ONE hydration scan by id, the page graph and the
    * relation names — the memories table is scanned, never exchanged,
    * BASELINE §28). Both evaluate the same filter, keep and score
    * `Column`s.
    */
  private def searchImpl(
      query: String,
      k: Int,
      filters: Map[String, FilterOps.Pred],
      rerank: Boolean,
      memoryType: Option[String],
      minScore: Option[Double],
      timeAfter: Option[Long],
      timeBefore: Option[Long],
      includeExpired0: Boolean,
      diverse: Boolean,
      pointInTime: Option[Long],
      now: Option[Long],
      trace: Option[scala.collection.mutable.ArrayBuffer[ExplainStep]]
  ): Seq[SearchResult] = tracer.span("memory.search",
      Map("user" -> config.userId, "k" -> k.toString)) {
    usageIncr("search")
    recomputeGraphMetricsIfDirty() // lazy G1-G4 maintenance (manager.py:541-549)
    val hints = TemporalOps.detectTemporalHints(query)
    val includeExpired = includeExpired0 || hints.includeExpired
    val effectiveK = if (hints.expandLimit) k * 2 else k
    val queryVec = embedder.embedOne(query)
    trace.foreach(_ += ExplainStep("embed_query",
      s"dims=${queryVec.length} hints=${hints.signals.mkString("+")}", 1L))

    val typeFiltered = memoryType match {
      case Some(t) => FilterOps.memoryType(col("memory_type"), t)
      case None => lit(true)
    }
    val predCol = FilterOps.predicatesFor(store.memories, filters)
    val scope = FilterOps.scopeFilter(config.scopeFilters)
    // empty embedding → null: the hybrid legs and the re-rank see null
    val embOrNull = when(size(col("embedding")) > 0, col("embedding")).otherwise(lit(null))
    val queryEntities = extractor.extractQueryEntities(query)

    /** Steps 1-3 and the fusion through the filter chain: every read of
      * the search, up to the filtered page with its rows and graph.
      */
    def read(reads: SearchReads): ReadPage = {
      // ---- 1. entity lookup (J2) ----
      val entIds = reads.entityIds(queryEntities.map(_.name))

      // ---- 2. every leg's top page ----
      // Faithful mode fuses candidates over the whole store (the engine's
      // text+vector indexes are unscoped), scope/predicates post-hoc like
      // search/vector.py:157-163. Scoped mode pushes the tenant scope into
      // BOTH legs — on a large multi-tenant store the global top-fetchK
      // page can contain zero rows for the querying tenant, starving them
      // of results brute-force search would have found.
      val live = scope && col("expired_at").isNull // F3
      val candidates: Map[Int, Seq[(Long, Option[Double])]] = reads.candidates(
        LegQuery(query, queryVec, effectiveK, diverse, live, predCol, typeFiltered,
          embOrNull, entIds))

      // ---- 3. ONE hydration read: the candidates' rows + row predicates ----
      // every keep flag is the existing Spark Column (FilterOps' null
      // rules), coalesced so only TRUE keeps, as in a filter
      val keep = (c: Column) => coalesce(c, lit(false))
      val postKeep = Seq(
        Some(if (includeExpired) lit(true) else col("expired_at").isNull),
        timeAfter.map(t => col("created_at") >= t),
        timeBefore.map(t => col("created_at") <= t),
        pointInTime.map(pit =>
          FilterOps.validAtPointInTime(col("valid_at"), col("invalid_at"), pit))
      ).flatten.reduce(_ && _)
      val candIds = candidates.values.flatten.map(_._1).toSeq.distinct
      val rows: Map[Long, Row] =
        if (candIds.isEmpty) Map.empty
        else reads.hydrate(candIds, resultCols ++ Seq(
            VectorFunctions.cosineToQuery(embOrNull, queryVec).as("cos"),
            embOrNull.isNotNull.as("has_embedding"),
            keep(if (config.scopedHybridCandidates) scope else lit(true)).as("in_docs"),
            keep(col("expired_at").isNull && predCol && typeFiltered && scope)
              .as("vector_keep"),
            keep(postKeep).as("post_keep"),
            col("pagerank"), col("betweenness")))
      def flag(id: Long, c: String): Boolean =
        rows.get(id).exists(r => r.getBoolean(r.fieldIndex(c)))

      // ---- 4. driver fusion (V3 re-rank, J15/R1 merge, F3-F5, R2/R3) ----
      val vectorResults: Seq[(Long, Double)] =
        if (diverse) candidates(LegMmr).map { case (id, s) => id -> s.get }
        else {
          val reranked = PageFusion.rrf(
              Seq(candidates(LegBm25), candidates(LegVector)), config.rrfK)
            .filter { case (id, _) => flag(id, "in_docs") }
            .map { case (id, fused) =>
              val r = rows(id)
              id -> PageFusion.rerank(fused, r.getBoolean(r.fieldIndex("has_embedding")),
                optD(r, "cos"))
            }
          PageFusion.byScoreDesc(reranked)(_._2, _._1).take(effectiveK)
            .filter { case (id, _) => flag(id, "vector_keep") }
        }
      trace.foreach(_ += ExplainStep(if (diverse) "diverse_search" else "hybrid_search",
        "vector branch", vectorResults.size.toLong))
      val graphResults = candidates(LegGraph).map { case (id, s) => id -> s.get }
      trace.foreach(_ += ExplainStep("graph_search",
        s"entities=${queryEntities.map(_.name).mkString(",")}", graphResults.size.toLong))

      val merged = PageFusion.merge(vectorResults, graphResults, config.agreementBonus)
      trace.foreach(_ += ExplainStep("merge", "full-outer + agreement bonus",
        merged.size.toLong))

      // ---- filter chain F3/F4/F5 ----
      // memories has its own `source` column ("summarize" marker) — the
      // merge result's source (vector/graph/both) wins at the API.
      // NOTE on includeExpired: both candidate branches above pre-drop
      // expired rows, so this flag only disables the (already-moot)
      // post-merge filter — a quirk ported FAITHFULLY from the reference,
      // whose candidate generators do the same (search/vector.py:54,157,
      // graph.py:136); expired memories are reachable via get_all
      // (include_expired=true) and history, not via search.
      val filtered = merged.filter { case (id, _, _) => flag(id, "post_keep") }
      pointInTime.foreach(pit => trace.foreach(_ += ExplainStep("point_in_time_filter",
        s"pit=$pit", filtered.size.toLong)))
      // the page's own edges: topology and the relations below read them
      val pageEdges = reads.pageGraph(filtered.map(_._1))
      ReadPage(rows, filtered, pageEdges, reads.entityNamesFor(pageEdges))
    }
    // the index path holds the index's lock from its sync through its
    // last read, so every read sees one store version; the Spark path
    // reads the tables and corpus the index synced to, outside the lock.
    // The model calls above and the reranking, scoring and access bump
    // below run outside it
    val ReadPage(rows, filtered0, pageEdges, entityNames) = servingIndex.synchronized {
      if (servingIndex.sync()) Right(read(new IndexReads(servingIndex)))
      else Left(servingIndex.sparkInput)
    }.fold({ case (tables, corpus) =>
      read(new SparkReads(tables.memories, tables.edges, tables.entities, corpus)) }, identity)
    var filtered = filtered0

    // ---- boost chain R2/R3 ----
    // topology scores feed both the R2 boost and R5's wTopo term
    val topo: Map[Long, Double] =
      if (config.enableTopologyBoost || config.enableImportance && config.weightTopology > 0)
        PageFusion.topologyScores(filtered.map(_._1).toSet, pageEdges.hasEntity)
      else Map.empty
    if (config.enableTopologyBoost) {
      filtered = filtered.map { case (id, s, src) =>
        (id, PageFusion.topologyBoost(s, topo.get(id), config.topologyBoostFactor), src) }
      trace.foreach(_ += ExplainStep("topology_boost", "applied", filtered.size.toLong))
    }
    if (config.crossSessionFactor > 0) {
      filtered = filtered.map { case (id, s, src) =>
        val r = rows(id)
        (id, PageFusion.crossSessionBoost(s, optD(r, "pagerank"), optD(r, "betweenness"),
          config.crossSessionFactor), src)
      }
      trace.foreach(_ += ExplainStep("cross_session_boost", "applied", filtered.size.toLong))
    }

    // ---- the hydrated candidate page (bounded by merge of 2 top-k sets)
    var page: Seq[ResultRow] = PageFusion.byScoreDesc(filtered)(_._2, _._1)
      .map { case (id, s, src) => toResultRow(rows(id), s, src) }

    // ---- R4 rerank ----
    if (rerank) reranker.foreach { rr =>
      val scores = rr.score(query, page.map(_.text))
      page = page.zip(scores).map { case (r, s) => r.copy(score = s) }
        .sortBy(r => (-r.score, r.id)).take(k)
      trace.foreach(_ += ExplainStep("rerank", "trait reranker", page.size.toLong))
    }

    // ---- R5 composite importance scoring (+ access side effect) ----
    if (config.enableImportance) {
      val ts = now.getOrElse(clock())
      val ids = page.map(_.id)
      // wTopo > 0 reads A5 topology per result (the lookup above);
      // structural decay pulls A6 reinforcement to modulate the recency
      // rate (scoring.py:15-125)
      val reinfMap: Map[Long, Double] =
        if (config.enableStructuralDecay && ids.nonEmpty)
          reinforcementDf()
            .filter(col("mem").isin(ids: _*))
            .select(col("mem"), col("reinforcement")).collect()
            .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        else Map.empty
      page = page.map { r =>
        // clamp: future-dated rows must not get recency > 1 (the
        // reference clamps age to >= 0, scoring.py:386)
        val ageDays =
          math.max(0L, ts - r.createdAt.getOrElse(0L)).toDouble / 86400000.0
        val rate =
          if (config.enableStructuralDecay)
            config.recencyDecayRate * (1.0 - 0.5 * reinfMap.getOrElse(r.id, 0.0))
          else config.recencyDecayRate
        val recency = math.exp(-rate * ageDays)
        val freq = math.min(1.0,
          math.log(1.0 + r.accessCount.getOrElse(0L).toDouble) / math.log(101.0))
        val wTopo = if (config.weightTopology > 0) topo.getOrElse(r.id, 0.0) else 0.0
        val score = config.weightSimilarity * r.score +
          config.weightRecency * recency +
          config.weightFrequency * freq +
          config.weightImportance * r.importance.getOrElse(1.0) +
          config.weightTopology * wTopo
        r.copy(score = score)
      }.sortBy(r => (-r.score, r.id))
      store.bumpAccess(page.map(_.id), ts)
      trace.foreach(_ += ExplainStep("importance_scoring", "composite", page.size.toLong))
    }

    // ---- F6 min-score, R6 chrono, R8 top-k ----
    val effMin = minScore.orElse(config.searchMinScore)
    effMin.foreach { m =>
      page = page.filter(_.score >= m)
      trace.foreach(_ += ExplainStep("min_score_filter", s"min=$m", page.size.toLong))
    }
    if (hints.sortChronologically) {
      page = page.sortBy(r => (r.createdAt.getOrElse(0L), r.id))
      trace.foreach(_ += ExplainStep("temporal_sort", "chronological", page.size.toLong))
    }
    // J6/F8 — decorate the RETURNED page with relation triples (every
    // reference search response carries them, vector.py:56/162/268)
    val top = page.take(k)
    val rels = relationsFor(top.map(_.id), pageEdges, entityNames)
    top.map(r => r.copy(relations = rels.getOrElse(r.id, Nil)).toSearchResult)
  }

  /** What a search's reads yield: the candidates' hydrated rows, the
    * filtered page of (id, score, source), its graph and the entity names
    * of its relations.
    */
  private case class ReadPage(
      rows: Map[Long, Row],
      filtered: Seq[(Long, Double, String)],
      pageEdges: PageGraph,
      entityNames: Seq[Long] => Map[Long, Seq[String]])

  // candidate legs
  private val LegBm25 = 0; private val LegVector = 1
  private val LegMmr = 2; private val LegGraph = 3

  /** What the candidate legs of one search need: the query, its
    * embedding, the page size k, the MMR switch, the live-row filter
    * (scope, not expired), the filter predicates (the MMR leg's), the
    * memory-type filter (the MMR and graph legs'), the embedding-or-null
    * column and the query's entity ids.
    */
  private case class LegQuery(
      text: String,
      vec: Array[Float],
      k: Int,
      diverse: Boolean,
      live: Column,
      preds: Column,
      typeFilter: Column,
      embOrNull: Column,
      entIds: Seq[Long]) {
    def fetchK: Int = math.max(50, 4 * k)
    // the graph leg's 1-hop and 2-hop scores (search/graph.py:110-199)
    private def cos = greatest(lit(0.0), VectorFunctions.cosineToQuery(col("embedding"), vec))
    private def nonEmptyEmb = size(col("embedding")) > 0
    def oneHopScore: Column = when(nonEmptyEmb, cos).otherwise(lit(0.3))
    def twoHopScore: Column = when(nonEmptyEmb, greatest(lit(0.0), cos * 0.7)).otherwise(lit(0.2))
  }

  /** The reads of one search: the serving index's or Spark's. */
  private trait SearchReads {
    /** J2 — ids of the query's entities: exact-name lookup with the
      * reference's lower() fallback (search/graph.py:89-108). The
      * fallback is PER ENTITY: an entity with an exact hit keeps it, one
      * without falls back to case-insensitive — not all-or-nothing
      * across the set.
      */
    def entityIds(names: Seq[String]): Seq[Long]
    /** Every leg's page of (id, score), by leg. */
    def candidates(q: LegQuery): Map[Int, Seq[(Long, Option[Double])]]
    /** The rows of `ids`, projected to `cols`. */
    def hydrate(ids: Seq[Long], cols: Seq[Column]): Map[Long, Row]
    /** The graph around a page of memory ids: every HAS_ENTITY
      * (mem, entity) edge into the page's entities and the RELATION
      * (src, dst, relation_type) edges out of them. The first set holds
      * the page's own rows, so it is all that
      * [[PageFusion.topologyScores]] needs. Fan-in: a hub entity brings
      * every memory linked to it, the bound the graph leg's 1-hop set
      * already accepts.
      */
    def pageGraph(ids: Seq[Long]): PageGraph
    /** Entity names by id, for ids among the endpoints of `page`'s
      * relations, readable once the reads are over.
      */
    def entityNamesFor(page: PageGraph): Seq[Long] => Map[Long, Seq[String]]
  }

  private final class IndexReads(index: ServingIndex) extends SearchReads {
    def entityIds(names: Seq[String]): Seq[Long] =
      if (names.isEmpty) Nil else index.entityIds(names, config.userId, config.graphName)

    def candidates(q: LegQuery): Map[Int, Seq[(Long, Option[Double])]] = {
      // one analysis binds the columns of every leg that runs
      val graphLive = q.live && q.typeFilter
      val vectorCols =
        if (q.diverse)
          Seq(VectorFunctions.cosineToQuery(col("embedding"), q.vec), graphLive && q.preds)
        else Seq(VectorFunctions.cosineToQuery(q.embOrNull, q.vec), lit(true))
      val graphCols =
        if (q.entIds.isEmpty) Nil
        else Seq(graphLive, q.oneHopScore) ++
          (if (config.graphSearchDepth >= 2) Seq(q.twoHopScore) else Nil)
      val bound = index.bind(vectorCols ++ graphCols)
      val Seq(score, keep) = bound.take(2).toSeq
      val vector =
        if (q.diverse) {
          val cands = index.scoreTop(score, keep, 4 * q.k)
            .map { case (id, s) => (id, index.embedding(id), s.get) }
          Seq(LegMmr -> SearchOps.mmrSelect(cands, q.k, config.mmrLambda)
            .map { case (id, s) => id -> Some(s) })
        } else Seq(
          LegBm25 -> index.bm25Top(SearchOps.queryTerms(q.text), q.fetchK),
          LegVector -> index.scoreTop(score, keep, q.fetchK))
      val graph = bound.drop(2).toSeq match {
        case Seq() => Nil
        case live +: oneHop +: twoHop =>
          val oneHopIds = index.memoriesOf(q.entIds)
          val twoHopPage = twoHop.flatMap(index.scoreTop(_, live, Int.MaxValue,
            Some(index.memoriesOf(index.relationTargets(q.entIds)) -- oneHopIds)))
          Seq(LegGraph -> (index.scoreTop(oneHop, live, Int.MaxValue, Some(oneHopIds)) ++
            twoHopPage).sortBy(r => (r._2, r._1))(PageFusion.scoreDesc).take(q.k))
      }
      (vector ++ graph).toMap.withDefaultValue(Nil)
    }

    def hydrate(ids: Seq[Long], cols: Seq[Column]): Map[Long, Row] = index.hydrate(ids, cols)

    def pageGraph(ids: Seq[Long]): PageGraph = {
      val (he, rel) = index.pageGraph(ids)
      PageGraph(he, rel)
    }

    /** Every endpoint's name, read now, while the index's lock is held. */
    def entityNamesFor(page: PageGraph): Seq[Long] => Map[Long, Seq[String]] = {
      val names = index.names(page.relations.flatMap(r => Seq(r._1, r._2)))
      ids => ids.flatMap(id => names.get(id).map(id -> _)).toMap
    }
  }

  /** The Spark reads over one snapshot of the store's tables, with the
    * BM25 corpus (token table, n, avgdl) the serving index keeps.
    */
  private final class SparkReads(mem: DataFrame, edges: DataFrame, entities: DataFrame,
      corpus: (DataFrame, Long, Double)) extends SearchReads {

    def entityIds(names: Seq[String]): Seq[Long] =
      if (names.isEmpty) Nil
      else {
        // one scan serves both the exact and the fallback names
        val hits = scopeCol2(entities)
          .filter(col("name").isin(names: _*) ||
            lower(col("name")).isin(names.map(_.toLowerCase).distinct: _*))
          .select(col("id"), col("name"), lower(col("name")))
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        val exactNames = hits.map(_._2).filter(names.contains).toSet
        val missingLower = names.filterNot(exactNames).map(_.toLowerCase).toSet
        hits.collect {
          case (id, name, lc) if exactNames(name) || missingLower(lc) => id
        }.distinct.toSeq
      }

    /** ONE candidate action: the legs unioned. */
    def candidates(q: LegQuery): Map[Int, Seq[(Long, Option[Double])]] = {
      val live = mem.filter(q.live)
      val vectorLegs: Seq[(Int, DataFrame)] =
        if (q.diverse)
          Seq(LegMmr -> SearchOps.mmr(live.filter(q.preds && q.typeFilter),
            "embedding", "id", q.vec, q.k, config.mmrLambda))
        else {
          val candBase =
            if (config.scopedHybridCandidates)
              mem.filter(FilterOps.scopeFilter(config.scopeFilters))
            else mem
          val (bm, vec) = SearchOps.hybridLegs(
            candBase.withColumn("embedding", q.embOrNull), "id", "text", "embedding",
            q.text, q.vec, q.fetchK, preparedBm25 = Some(corpus))
          Seq(LegBm25 -> bm.withColumnRenamed("bm25", "score"),
            LegVector -> vec.withColumnRenamed("cos", "score"))
        }
      val legs = vectorLegs ++ graphLeg(q, live.filter(q.typeFilter)).map(LegGraph -> _)
      legs.map { case (leg, df) =>
          df.select(col("id"), col("score"), lit(leg).as("leg")) }
        .reduce(_.unionByName(_))
        .collect().toSeq
        .map(r => (r.getInt(2), (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1)))))
        .groupMap(_._1)(_._2)
        .withDefaultValue(Nil)
    }

    /** J3-J4 — graph leg with the reference's exact fallback scores
      * (search/graph.py:110-199): 1-hop score = max(0, cos) or 0.3
      * without embedding; 2-hop adds RELATION-connected memories at
      * max(0, cos·0.7) or 0.2; 1-hop wins dedup. `live` is the scoped,
      * non-expired, type-filtered memory table; each hop's id set is
      * broadcast into its scan (no exchange of the memories table).
      * None when no query entity matched.
      */
    private def graphLeg(q: LegQuery, live: DataFrame): Option[DataFrame] =
      if (q.entIds.isEmpty) None
      else {
        val he = edges.filter(col("edge_type") === EdgeTypes.HasEntity)
        val oneHopIds = he.filter(col("dst").isin(q.entIds: _*)).select(col("src").as("id"))
        val oneHop = live.join(broadcast(oneHopIds), Seq("id"), "left_semi")
          .select(col("id"), q.oneHopScore.as("score"))
        val hops =
          if (config.graphSearchDepth >= 2) {
            val e2 = edges
              .filter(col("edge_type") === EdgeTypes.Relation && col("src").isin(q.entIds: _*))
              .select(col("dst").as("ent"))
            val twoHopIds = he.join(broadcast(e2), he("dst") === col("ent"), "left_semi")
              .select(col("src").as("id"))
            oneHop.unionByName(live
              .join(broadcast(twoHopIds), Seq("id"), "left_semi")
              .join(broadcast(oneHopIds), Seq("id"), "left_anti") // 1-hop wins
              .select(col("id"), q.twoHopScore.as("score")))
          } else oneHop
        Some(hops.orderBy(col("score").desc, col("id").asc).limit(q.k))
      }

    /** ONE hydration scan by id. */
    def hydrate(ids: Seq[Long], cols: Seq[Column]): Map[Long, Row] =
      mem.filter(col("id").isin(ids: _*)).select(cols: _*).collect()
        .map(r => r.getLong(0) -> r).toMap

    /** Two lookups: the page's HAS_ENTITY rows give its entities E; one
      * scan then reads every HAS_ENTITY row into E and the RELATION rows
      * out of E.
      */
    def pageGraph(ids: Seq[Long]): PageGraph = {
      val he = col("edge_type") === EdgeTypes.HasEntity
      val ents =
        if (ids.isEmpty) Nil
        else edges.filter(he && col("src").isin(ids: _*)).select(col("dst"))
          .collect().map(_.getLong(0)).toSeq.distinct
      if (ents.isEmpty) PageGraph(Nil, Nil)
      else {
        val rows = edges
          .filter(he && col("dst").isin(ents: _*) ||
            col("edge_type") === EdgeTypes.Relation && col("src").isin(ents: _*))
          .select(he, col("src"), col("dst"),
            coalesce(col("props").getItem("relation_type"), lit("")))
          .collect()
        val (hasEntity, relations) = rows.partition(_.getBoolean(0))
        PageGraph(hasEntity.map(r => r.getLong(1) -> r.getLong(2)).toSeq,
          relations.map(r => (r.getLong(1), r.getLong(2), r.getString(3))).toSeq)
      }
    }

    /** One lookup, of the names the returned page needs, when asked. */
    def entityNamesFor(page: PageGraph): Seq[Long] => Map[Long, Seq[String]] = entityNames

    private def entityNames(ids: Seq[Long]): Map[Long, Seq[String]] =
      if (ids.isEmpty) Map.empty
      else entities.select(col("id"), col("name")).filter(col("id").isin(ids: _*))
        .collect().toSeq.map(r => r.getLong(0) -> r.getString(1)).groupMap(_._1)(_._2)
  }

  private def scopeCol2(df: DataFrame): DataFrame = {
    val base = df.filter(col("user_id") === config.userId)
    config.graphName.map(g => base.filter(col("graph_name") === g)).getOrElse(base)
  }

  // internal hydrated result row
  private case class ResultRow(
      id: Long, text: String, score: Double, source: String,
      metadata: Option[String], actorId: Option[String], role: Option[String],
      memoryType: String, createdAt: Option[Long], learnedAt: Option[Long],
      sessionId: Option[String], expiredAt: Option[Long],
      validAt: Option[Long], invalidAt: Option[Long],
      importance: Option[Double], accessCount: Option[Long],
      relations: Seq[RelationTriple] = Nil
  ) {
    def toSearchResult: SearchResult = SearchResult(
      id.toString, text, score, config.userId, metadata, actorId, role,
      memoryType, source, createdAt, learnedAt, sessionId, expiredAt,
      validAt, invalidAt, relations)
  }

  /** F8/J6 — relation triples for the returned page `ids` (a subset of
    * the [[PageGraph]]'s page): memory -HAS_ENTITY-> e -RELATION-> t,
    * decorated with entity names (search/vector.py:384-409). Where the
    * reference issues a per-result probe, this reads the page graph's
    * rows, looks the names involved up once and joins on the driver.
    * Distinct triples ordered (mem, source, relation, target) with
    * Spark's string order.
    */
  private def relationsFor(
      ids: Seq[Long],
      pageEdges: PageGraph,
      entityNames: Seq[Long] => Map[Long, Seq[String]]
  ): Map[Long, Seq[RelationTriple]] = {
    val idSet = ids.toSet
    val he = pageEdges.hasEntity.filter(r => idSet(r._1))
    val ents = he.map(_._2).toSet
    val rel = pageEdges.relations.filter(r => ents(r._1))
    val names = entityNames((rel.map(_._1) ++ rel.map(_._2)).distinct)
    val relsBySrc = rel.groupBy(_._1)
    val utf8 = Ordering.by[String, UTF8String](UTF8String.fromString)
    val triples = (for {
      (mem, ent) <- he
      (_, tgt, relation) <- relsBySrc.getOrElse(ent, Nil)
      source <- names.getOrElse(ent, Nil)
      target <- names.getOrElse(tgt, Nil)
    } yield (mem, source, relation, target)).distinct
      .sorted(Ordering.Tuple4(Ordering.Long, utf8, utf8, utf8))
    triples.groupMap(_._1)(t => RelationTriple(t._2, t._3, t._4))
  }

  // the result columns of a memory row, in ResultRow order (id first)
  private val resultCols: Seq[Column] = Seq(col("id"), col("text"),
    col("metadata"), col("actor_id"), col("role"),
    coalesce(col("memory_type"), lit(MemoryTypes.Default)).as("memory_type"),
    col("created_at"), col("learned_at"), col("session_id"),
    col("expired_at"), col("valid_at"), col("invalid_at"),
    col("importance"), col("access_count"))

  private def optL(r: Row, c: String): Option[Long] =
    if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getLong(r.fieldIndex(c)))
  private def optD(r: Row, c: String): Option[Double] =
    if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getDouble(r.fieldIndex(c)))
  private def optS(r: Row, c: String): Option[String] =
    if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getString(r.fieldIndex(c)))

  private def toResultRow(r: Row, score: Double, source: String): ResultRow =
    ResultRow(r.getLong(0), r.getString(1), score, source,
      optS(r, "metadata"), optS(r, "actor_id"), optS(r, "role"),
      r.getString(r.fieldIndex("memory_type")),
      optL(r, "created_at"), optL(r, "learned_at"), optS(r, "session_id"),
      optL(r, "expired_at"), optL(r, "valid_at"), optL(r, "invalid_at"),
      optD(r, "importance"), optL(r, "access_count"))

  private def collectResults(df: DataFrame): Seq[ResultRow] =
    df.select(resultCols ++ Seq(col("score"), col("source")): _*)
      .orderBy(col("score").desc, col("id").asc)
      .collect()
      .map(r => toResultRow(r, r.getDouble(r.fieldIndex("score")),
        r.getString(r.fieldIndex("source"))))
      .toSeq

  // ------------------------------------------------------------------
  // other entry points
  // ------------------------------------------------------------------

  /** get_all — S1 + F1/F3/F7 (manager.py:1769-1814). */
  def getAll(
      memoryType: Option[String] = None,
      includeExpired: Boolean = false
  ): Seq[SearchResult] = {
    var df = scopedMemories(includeExpired)
      .withColumn("score", lit(1.0)).withColumn("source", lit("scan"))
    memoryType.foreach(t => df = df.filter(FilterOps.memoryType(col("memory_type"), t)))
    collectResults(df.orderBy(col("created_at").desc, col("id").desc))
      .map(_.toSearchResult)
  }

  /** A3 — group results by session (null → "default"), chronological
    * within each group (manager.py:1571-1583).
    */
  def searchGrouped(
      query: String,
      k: Int = 10,
      now: Option[Long] = None
  ): Map[String, Seq[SearchResult]] =
    search(query, k, now = now)
      .groupBy(_.sessionId.getOrElse("default"))
      .view
      .mapValues(_.sortBy(r => (r.createdAt.getOrElse(0L), r.memoryId.toLong)))
      .toMap

  /** W4 — direct update: overwrite text + re-embed (manager.py:1093-1112). */
  def update(memoryId: String, newText: String, now: Option[Long] = None): Boolean =
    tracer.span("memory.update", Map("id" -> memoryId)) {
    usageIncr("update")
    val ts = now.getOrElse(clock())
    val id = memoryId.toLong
    val old = store.memories.filter(col("id") === id)
      .select(col("text")).collect().headOption.map(_.getString(0))
    old match {
      case None => false
      case Some(oldText) =>
        store.setMemory(id, Seq("text" -> lit(newText), "updated_at" -> lit(ts),
          "embedding" -> typedLit(embedder.embedOne(newText))))
        val (h, e) = historyEntry("UPDATE", id, ts, Some(oldText), Some(newText))
        store.appendHistory(Seq(h))
        store.appendEdges(Seq(e))
        true
    }
  }

  /** W5 — hard delete. */
  def delete(memoryId: String): Boolean =
    tracer.span("memory.delete", Map("id" -> memoryId)) {
      usageIncr("delete")
      val id = memoryId.toLong
      val exists = !store.memories.filter(col("id") === id).isEmpty
      if (exists) store.deleteMemories(Seq(id))
      exists
    }

  /** W5 — delete_all within scope; returns the deleted count (A10).
    * Scope-predicate anti-join delete — no driver materialization of the
    * id set (the count comes from the matched-id delta inside
    * [[GraphStore.deleteMemoriesWhere]]).
    */
  def deleteAll(): Long =
    tracer.span("memory.delete_all", Map("user" -> config.userId)) {
      usageIncr("delete_all")
      store.deleteMemoriesWhere(FilterOps.scopeFilter(config.scopeFilters))
    }

  /** W12 — set_importance with [0,1] validation (manager.py:2016-2028). */
  def setImportance(memoryId: String, importance: Double): Boolean = {
    require(importance >= 0.0 && importance <= 1.0, "importance must be in [0, 1]")
    val id = memoryId.toLong
    val exists = !store.memories.filter(col("id") === id).isEmpty
    if (exists) store.setMemory(id, Seq("importance" -> lit(importance)))
    exists
  }

  /** W8 read side — chronological history of one memory (history.py:104-139). */
  def history(memoryId: String): Seq[HistoryEntry] = {
    val id = memoryId.toLong
    store.history.filter(col("memory_id") === id)
      .orderBy(col("timestamp").asc, col("id").asc)
      .collect()
      .map { r =>
        def s(i: Int) = if (r.isNullAt(i)) None else Some(r.getString(i))
        HistoryEntry(r.getString(2), r.getLong(1).toString, r.getLong(3),
          s(4), s(5), s(6), s(7))
      }.toSeq
  }

  /** S11 — stats scan (manager.py:1926-2014). */
  def stats(): MemoryStats = tracer.span("memory.stats") {
    val m = scopeCol(store.memories)
    val typed = m.filter(col("expired_at").isNull)
      .groupBy(coalesce(col("memory_type"), lit(MemoryTypes.Default)).as("t"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    MemoryStats(
      totalMemories = m.filter(col("expired_at").isNull).count(),
      semanticCount = typed.getOrElse(MemoryTypes.Semantic, 0L),
      proceduralCount = typed.getOrElse(MemoryTypes.Procedural, 0L),
      episodicCount = typed.getOrElse(MemoryTypes.Episodic, 0L),
      entityCount = scopeCol2(store.entities).count(),
      // relation count scoped through the src entity's owner — a raw
      // edge-type count would leak cross-tenant relations on a shared
      // store (the reference scopes by graph_name, manager.py:1964-1974)
      relationCount = store.edges.filter(col("edge_type") === EdgeTypes.Relation)
        .join(scopeCol2(store.entities).select(col("id").as("src")), Seq("src"))
        .count(),
      episodeCount = store.episodes.filter(col("user_id") === config.userId).count(),
      communityCount = store.communities.filter(col("user_id") === config.userId).count(),
      expiredCount = m.filter(col("expired_at").isNotNull).count()
    )
  }

  /** J7 — temporal chain: LEADS_TO walk from a memory, default forward,
    * EXCLUDING the origin (manager.py:1475-1569: `[:LEADS_TO*1..d]`
    * matches paths of length >= 1), hydrated to (memory_id, text,
    * created_at, session_id) entries. For "both", the two legs are
    * deduplicated across each other (forward occurrence wins) and the
    * merged list is sorted by created_at with id as tie-break — faithful
    * to the reference's merge (manager.py:1556-1568).
    */
  def temporalChain(memoryId: String, maxDepth: Int = 5,
      direction: String = "forward"): Seq[ChainEntry] = {
    import spark.implicits._
    val seeds = Seq(memoryId.toLong).toDF("root")
    def leg(rev: Boolean): Seq[ChainEntry] =
      GraphOps.varLengthPaths(store.edges, EdgeTypes.LeadsTo, seeds, maxDepth,
          reverse = rev)
        .select(col("node"))
        .distinct()
        .join(scopeCol(store.memories), col("node") === col("id"))
        .orderBy(col("created_at").asc, col("id").asc)
        .select(col("id"), col("text"), col("created_at"), col("session_id"))
        .collect()
        .map { r =>
          ChainEntry(r.getLong(0).toString, r.getString(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)),
            if (r.isNullAt(3)) None else Some(r.getString(3)))
        }.toSeq
    val fwd = if (direction == "forward" || direction == "both") leg(false) else Nil
    val bwd = if (direction == "backward" || direction == "both") leg(true) else Nil
    // "both" dedups across legs (forward occurrence wins) and sorts the
    // merged list by created_at (manager.py:1556-1568), with id as a
    // deterministic tie-break
    if (direction == "both") {
      val seen = scala.collection.mutable.LinkedHashMap.empty[String, ChainEntry]
      (fwd ++ bwd).foreach(e => if (!seen.contains(e.memoryId)) seen(e.memoryId) = e)
      seen.values.toSeq.sortBy(e => (e.createdAt.getOrElse(0L), e.memoryId.toLong))
    } else fwd ++ bwd
  }

  /** J8 — episode chain walk along NEXT_EPISODE for session replay
    * (manager.py:1407-1473): EXCLUDES the start episode, returns
    * EpisodeResults ordered furthest-predecessor → ... → origin-adjacent
    * → successors (the reference's reversed(backward) + forward shape).
    */
  def episodeChain(episodeId: String, maxDepth: Int = 10,
      direction: String = "forward"): Seq[EpisodeResult] = {
    import spark.implicits._
    val seeds = Seq(episodeId.toLong).toDF("root")
    def walkIds(rev: Boolean): Seq[Long] =
      GraphOps.varLengthPaths(store.edges, EdgeTypes.NextEpisode, seeds,
          maxDepth, reverse = rev)
        .select(col("node"), col("depth")).distinct()
        .orderBy(col("depth").asc, col("node").asc)
        .collect().map(_.getLong(0)).toSeq
    val fwd = if (direction != "backward") walkIds(false) else Nil
    val bwd = if (direction != "forward") walkIds(true) else Nil
    val ordered = bwd.reverse ++ fwd
    if (ordered.isEmpty) Nil
    else {
      val byId = hydrateEpisodes(
        store.episodes.filter(col("id").isin(ordered: _*)))
        .map(e => e.episodeId.toLong -> e).toMap
      ordered.flatMap(byId.get)
    }
  }

  /** S1 (episodes) — scoped episode listing with limit
    * (manager.py:2251-2255 get_episodes → 1318-1331): user-scoped,
    * optionally session-filtered, chronological, hydrated with produced
    * memory ids + mentioned entity names.
    */
  def getEpisodes(sessionId: Option[String] = None, limit: Int = 50): Seq[EpisodeResult] = {
    val base = store.episodes.filter(col("user_id") === config.userId)
    val scoped = sessionId.map(s => base.filter(col("session_id") === s)).getOrElse(base)
    hydrateEpisodes(scoped.orderBy(col("created_at").asc, col("id").asc).limit(limit))
  }

  /** J9 — provenance: the episodes that PRODUCED a memory, hydrated to
    * full EpisodeResults (manager.py:1333-1377).
    */
  def getProvenance(memoryId: String): Seq[EpisodeResult] = {
    val epIds = store.edges
      .filter(col("edge_type") === EdgeTypes.Produced &&
        col("dst") === memoryId.toLong)
      .select(col("src").as("id")).distinct()
    hydrateEpisodes(store.episodes.join(epIds, Seq("id")))
  }

  /** Hydrate episode rows with produced-memory ids and mentioned-entity
    * names: two grouped joins for the whole set — no per-episode probe
    * loops (the reference issues one query per episode per edge type,
    * manager.py:1330-1350).
    */
  private def hydrateEpisodes(eps: DataFrame): Seq[EpisodeResult] = {
    // semi-join the bounded episode page into the edge scans FIRST so
    // the aggregations only touch that page's edges, not the store's
    val pageIds = eps.select(col("id").as("src"))
    val prodAgg = store.edges.filter(col("edge_type") === EdgeTypes.Produced)
      .join(pageIds, Seq("src"), "left_semi")
      .groupBy(col("src").as("id"))
      .agg(sort_array(collect_list(col("dst"))).as("produced"))
    val mentAgg = store.edges.filter(col("edge_type") === EdgeTypes.Mentions)
      .join(pageIds, Seq("src"), "left_semi")
      .select(col("src").as("id"), col("dst").as("ent"))
      .join(store.entities.select(col("id").as("ent"), col("name")), Seq("ent"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("ent"), col("name")))).as("ments"))
    eps
      .join(prodAgg, Seq("id"), "left")
      .join(mentAgg, Seq("id"), "left")
      .orderBy(col("created_at").asc, col("id").asc)
      .select(col("id"), col("content"), col("source"), col("user_id"),
        col("session_id"), col("run_id"), col("created_at"),
        col("produced"), col("ments"))
      .collect()
      .map { r =>
        def optS(i: Int) = if (r.isNullAt(i)) None else Some(r.getString(i))
        val produced =
          if (r.isNullAt(7)) Nil else r.getSeq[Long](7).map(_.toString).toSeq
        val mentioned =
          if (r.isNullAt(8)) Nil
          else r.getSeq[Row](8).map(_.getString(1)).toSeq
        EpisodeResult(r.getLong(0).toString, r.getString(1), r.getString(2),
          r.getString(3), optS(4), optS(5), Some(r.getLong(6)),
          produced, mentioned)
      }.toSeq
  }

  /** G4 read side — communities containing any of the given entities,
    * matched case-insensitively on member names (communities.py:241-283).
    * One grouped join over HAS_MEMBER for the whole community set.
    */
  def getCommunityContext(entityNames: Seq[String]): Seq[CommunityInfo] =
    if (entityNames.isEmpty) Nil
    else {
      val nameSet = entityNames.map(_.toLowerCase).distinct
      // restrict membership edges to THIS user's communities before
      // aggregating — the HAS_MEMBER table spans every tenant
      val myComms = store.communities.filter(col("user_id") === config.userId)
        .select(col("id").as("cid"))
      val members = store.edges.filter(col("edge_type") === EdgeTypes.HasMember)
        .select(col("src").as("cid"), col("dst").as("ent"))
        .join(myComms, Seq("cid"), "left_semi")
        .join(store.entities.select(col("id").as("ent"), col("name")), Seq("ent"))
      val agg = members.groupBy(col("cid")).agg(
        sort_array(collect_list(struct(col("ent"), col("name")))).as("ms"),
        max(when(lower(col("name")).isin(nameSet: _*), 1).otherwise(0)).as("hit"))
      store.communities.filter(col("user_id") === config.userId)
        .join(agg, col("id") === col("cid"))
        .filter(col("hit") === 1)
        .orderBy(col("id"))
        .select(col("community_id"), col("name"), col("summary"),
          col("member_count"), col("ms"))
        .collect()
        .map { r =>
          CommunityInfo(r.getLong(0).toString, r.getString(1), r.getString(2),
            r.getLong(3), r.getSeq[Row](4).map(_.getString(1)).toSeq)
        }.toSeq
    }

  def episodeOutputs(episodeId: String): (Seq[String], Seq[String]) = {
    val id = episodeId.toLong
    def dsts(t: String) = store.edges
      .filter(col("edge_type") === t && col("src") === id)
      .orderBy(col("dst").asc)
      .select(col("dst")).collect().map(_.getLong(0).toString).toSeq
    (dsts(EdgeTypes.Produced), dsts(EdgeTypes.Mentions))
  }

  /** W7 — consolidation: summarize oldest non-expired memories in
    * batches, protect recent + well-connected, DERIVED_FROM provenance,
    * hard-delete originals (manager.py:1835-1915).
    */
  def summarize(now: Option[Long] = None): Seq[String] = lockFor(config.userId).synchronized {
    tracer.span("memory.summarize", Map("user" -> config.userId)) {
    usageIncr("summarize")
    val ts = now.getOrElse(clock())
    val topo = GraphOps.topologyScores(
        store.edges.filter(col("edge_type") === EdgeTypes.HasEntity))
      .select(col("mem").as("id"), col("topology_score"))
    val candidates = scopedMemories()
      .join(topo, Seq("id"), "left")
      .filter(coalesce(col("topology_score"), lit(0.0)) <
        config.consolidationProtectThreshold) // F10
      .orderBy(col("created_at").asc, col("id").asc)
      .select(col("id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val eligible = candidates.dropRight(config.consolidationPreserveRecent)
    eligible.grouped(config.consolidationBatchSize).flatMap { batch =>
      // batch flow mirrors manager.py:1893-1916: ALL summaries created
      // (with ADD history) first, then DERIVED_FROM from every summary
      // to every original, then ONE delete-with-history pass per batch —
      // a per-summary loop would duplicate DELETE history and delete
      // calls whenever the summarizer returns more than one text. Rows
      // are built on the driver and land with one append per table.
      val summaries = summarizer.summarize(batch.map(_._2)).filter(_.nonEmpty)
      val embs = if (summaries.isEmpty) Nil else embedder.embed(summaries)
      val rows = summaries.zip(embs).map { case (s, e) =>
        newMemoryRow(store.nextMemoryId(), s, Some(e), ts, MemoryTypes.Semantic,
          None, None, None, None, None, None, 1.0).copy(source = Some("summarize"))
      }
      val (addHist, addEdges) =
        rows.map(r => historyEntry("ADD", r.id, ts, None, Some(r.text))).unzip
      val derived = for {
        r <- rows
        (orig, _) <- batch
      } yield EdgeRow(store.nextEdgeId(), r.id, orig, EdgeTypes.DerivedFrom, Map.empty)
      val (delHist, delEdges) = batch.map { case (orig, t) =>
        historyEntry("DELETE", orig, ts, Some(t), None) }.unzip
      store.appendMemories(rows)
      store.appendHistory(addHist ++ delHist)
      store.appendEdges(addEdges ++ derived ++ delEdges)
      store.deleteMemories(batch.map(_._1))
      rows.map(_.id.toString)
    }.toSeq
    }
  }
}

object MemoryManager {

  /** A search page's graph: see `pageGraph`. */
  private final case class PageGraph(
      hasEntity: Seq[(Long, Long)],
      relations: Seq[(Long, Long, String)])

  /** The per-call fields every row of one reconciled add carries. */
  private final case class AddCall(
      ts: Long,
      memoryType: String,
      sessionId: Option[String],
      runId: Option[String],
      actorId: Option[String],
      role: Option[String],
      metadata: Option[String],
      importance: Double)

  /** One item of a reconciled add, planned: its extraction, the
    * embedding of each fact, the reconciler's decisions and the
    * candidate rows it saw (their texts resolve UPDATE/DELETE targets).
    */
  private final case class ItemPlan(
      text: String,
      extraction: Extraction,
      temporal: Map[Int, TemporalAnnotation],
      embeddings: Seq[Array[Float]],
      decisions: Seq[Decision],
      candidates: Seq[(Long, String)])
}
