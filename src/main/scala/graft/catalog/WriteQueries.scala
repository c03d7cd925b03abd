package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{MemoryConfig, MemoryManager}
import graft.core.{EdgeTypes, GraphStore}
import graft.ext._
import org.apache.spark.sql.SparkSession
import Tables._

/** Write-path correctness queries (W1/W2/W8/W9/J10/J11): drive the full
  * add pipeline over the first N documents with scripted traits and a
  * fixed clock, then emit the resulting memories / edges / history
  * tables. The scenario is deterministic, so the DuckDB oracle states
  * the FINAL STORE STATE closed-form over `documents` — an end-to-end
  * check of the SCD2 executor that no single-operator query gives.
  *
  * Scenario: doc i (0-based, ordered by doc_id, i < N) is one add():
  *   - extraction: one fact (the doc text) + one entity (the doc lang)
  *   - decision: UPDATE targeting memory id i when i % 4 == 3
  *     (supersedes the previous doc's memory), else ADD
  *   - clock: created_at = T0 + i·1000
  * Consequences the oracle asserts:
  *   - memory id i+1 carries doc i's text; ids m with m % 4 == 3 are
  *     soft-expired at T0 + m·1000
  *   - SUPERSEDES(i+1 → i) for updates; HAS_ENTITY(i+1 → lang(i)) plus
  *     the inherited HAS_ENTITY(i+1 → lang(i-1)) on updates (J10)
  *   - entity ids in first-appearance order of lang
  *   - one history row per doc: UPDATE (old=prev text) or ADD
  */
object WriteQueries {

  private val N = 40
  private val T0 = 1700000000000L
  private val User = "alice"

  /** Run the scenario once per sf dir; all queries read the memo. */
  private val memo =
    scala.collection.mutable.Map[String, (GraphStore, DataFrame, DataFrame, DataFrame)]()

  private[catalog] def scenario(
      s: SparkSession, dir: String): (GraphStore, DataFrame, DataFrame, DataFrame) =
    memo.synchronized {
      memo.getOrElseUpdate(s.sparkContext.applicationId + dir, {
        val docs = load(s, dir, "documents")
          .filter(col("doc_id") < N)
          .select(col("doc_id"), col("text"), col("lang"))
          .orderBy(col("doc_id"))
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2)))

        val extractions = docs.map { case (_, text, lang) =>
          Extraction(Seq(text), Seq(ExtractedEntity(lang, "lang")), Nil)
        }
        // doc 0 takes the no-candidates fast path (all-ADD, reconciler not
        // consulted); docs 1..N-1 consume one scripted decision list each
        val decisions: Seq[Seq[Decision]] = (1 until N).map { i =>
          val (_, text, _) = docs(i)
          if (i % 4 == 3) Seq(Decision(DecisionAction.Update, text, Some(i.toLong)))
          else Seq(Decision(DecisionAction.Add, text, None))
        }

        val store = new GraphStore(s, checkpointEvery = 64)
        val mgr = new MemoryManager(
          s,
          MemoryConfig(userId = User, embeddingDimensions = 16,
            reconciliationThreshold = 0.0),
          store,
          new MockEmbedder(16),
          new ScriptedExtractor(extractions.toSeq),
          new ScriptedReconciler(decisions)
        )
        docs.zipWithIndex.foreach { case ((_, text, _), i) =>
          mgr.add(text, now = Some(T0 + i * 1000L))
        }

        val mems = store.memories
          .select(col("id"), col("text"), col("user_id"), col("created_at"),
            col("expired_at"))
          .orderBy(col("id"))
          .localCheckpoint()
        val edges = store.edges
          .filter(col("edge_type").isin(EdgeTypes.HasEntity, EdgeTypes.Supersedes))
          .select(col("src"), col("dst"), col("edge_type"))
          .distinct()
          .orderBy(col("edge_type"), col("src"), col("dst"))
          .localCheckpoint()
        val hist = store.history
          .select(col("id"), col("memory_id"), col("event"), col("timestamp"),
            col("old_text"), col("new_text"))
          .orderBy(col("id"))
          .localCheckpoint()
        (store, mems, edges, hist)
      })
    }

  /** B1 bench (BASELINE §2/§8) — bulk raw ingest at the sf dir's full
    * document count: [[MemoryManager.addBatch]] in 1000-doc chunks
    * (one deterministic embed batch + memory/history/HAS_HISTORY
    * appends per chunk — the reference's raw bulk path,
    * manager.py:381-477). A FRESH store per invocation, nothing
    * memoized: the bench row times the write itself on both passes,
    * and rows/s = doc count / recorded seconds. The driver-side text
    * collect mirrors the reference API, whose add_batch takes an
    * in-process list by contract.
    */
  def bulkIngestBench(s: SparkSession, dir: String): DataFrame = {
    val texts = load(s, dir, "documents")
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .collect().map(_.getString(1)).toSeq
    val store = new GraphStore(s, checkpointEvery = 64)
    val mgr = new MemoryManager(
      s, MemoryConfig(userId = User, embeddingDimensions = 16), store,
      new MockEmbedder(16), new ScriptedExtractor(Nil), new AddAllReconciler)
    texts.grouped(1000).zipWithIndex.foreach { case (chunk, i) =>
      mgr.addBatch(chunk, now = Some(T0 + i * 1000L))
    }
    store.memories.select(col("id"), col("text"))
  }

  /** B6 bench — the reconciliation ingest loop (the reference's hottest
    * real-user surface, manager.py:328-379): against a 1000-memory
    * standing store, each timed add re-sends an existing document's
    * exact text (hash embedder → a cosine-1.0 candidate), so every add
    * pays candidate search + scripted UPDATE + SCD2 expiry + supersede
    * edge + history. adds/s = R / recorded seconds (BASELINE §8).
    */
  def reconcileBench(s: SparkSession, dir: String): DataFrame = {
    val P = 1000; val R = 20
    val docs = load(s, dir, "documents")
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .limit(P).collect().map(_.getString(1)).toSeq
    val store = new GraphStore(s, checkpointEvery = 64)
    val extractions = (0 until R).map(i => Extraction(Seq(docs(i)), Nil, Nil))
    val decisions = (0 until R).map(i =>
      Seq(Decision(DecisionAction.Update, "updated: " + docs(i), Some(i + 1L))))
    val mgr = new MemoryManager(
      s, MemoryConfig(userId = User, embeddingDimensions = 16,
        reconciliationThreshold = 0.5),
      store, new MockEmbedder(16),
      new ScriptedExtractor(extractions), new ScriptedReconciler(decisions))
    mgr.addBatch(docs, now = Some(T0))
    (0 until R).foreach(i => mgr.add(docs(i), now = Some(T0 + (i + 1) * 1000L)))
    // the observable: every reconciled add soft-expired its target
    store.memories.filter(col("expired_at").isNotNull).select(col("id"))
  }

  /** B6b bench — the same reconciliation workload as [[reconcileBench]]
    * but 10× the adds through ONE [[MemoryManager.addReconcileBatch]]
    * call: candidate search for all 200 texts is one distributed job,
    * the SCD2 expiry one patch, the appends one per table — the
    * distributed-op count is independent of the batch size, so adds/s
    * (= 200 / recorded seconds) measures the set-oriented scale path
    * the per-add loop can't reach (BASELINE §8: B6 ≈ 1 add/s).
    */
  def reconcileBatchBench(s: SparkSession, dir: String): DataFrame = {
    val P = 1000; val R = 200
    val docs = load(s, dir, "documents")
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .limit(P).collect().map(_.getString(1)).toSeq
    val store = new GraphStore(s, checkpointEvery = 64)
    val extractions = (0 until R).map(i => Extraction(Seq(docs(i)), Nil, Nil))
    val decisions = (0 until R).map(i =>
      Seq(Decision(DecisionAction.Update, "updated: " + docs(i), Some(i + 1L))))
    val mgr = new MemoryManager(
      s, MemoryConfig(userId = User, embeddingDimensions = 16,
        reconciliationThreshold = 0.5),
      store, new MockEmbedder(16),
      new ScriptedExtractor(extractions), new ScriptedReconciler(decisions))
    mgr.addBatch(docs, now = Some(T0))
    mgr.addReconcileBatch((0 until R).map(docs), now = Some(T0 + 1000L))
    store.memories.filter(col("expired_at").isNotNull).select(col("id"))
  }

  /** Batched-reconciliation scenario (W2 at batch scale,
    * [[MemoryManager.addReconcileBatch]]): seed BP memories via the raw
    * batch path at T0, then ONE batched reconcile call at TB over the
    * next BR docs with scripted decisions cycling UPDATE / ADD / DELETE
    * (item j: j%3==0 → UPDATE seed j+1; j%3==1 → ADD; j%3==2 → DELETE
    * seed j), each item also extracting its doc's lang as an entity.
    * All targets are pre-batch seeds, so the documented intra-batch
    * semantics land deterministic closed-form state the oracle asserts:
    * created ids BP + j - j/3 + 1 in decision order, expiries at TB,
    * SUPERSEDES for updates, HAS_ENTITY from every event memory
    * (including DELETE targets) to first-appearance entity ids, one
    * history row per decision.
    */
  private val BP = 20
  private val BR = 12
  private val TB = T0 + 777000L
  private val batchMemo =
    scala.collection.mutable.Map[String, (DataFrame, DataFrame, DataFrame)]()

  private[catalog] def batchScenario(
      s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    batchMemo.synchronized {
      batchMemo.getOrElseUpdate(s.sparkContext.applicationId + dir, {
        val docs = load(s, dir, "documents")
          .filter(col("doc_id") < BP + BR)
          .select(col("doc_id"), col("text"), col("lang"))
          .orderBy(col("doc_id"))
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        val seeds = docs.take(BP).map(_._2).toSeq
        val batch = docs.drop(BP)
        val extractions = batch.map { case (_, text, lang) =>
          Extraction(Seq(text), Seq(ExtractedEntity(lang, "lang")), Nil)
        }
        val decisions: Seq[Seq[Decision]] = batch.zipWithIndex.map {
          case ((_, text, _), j) =>
            if (j % 3 == 0) Seq(Decision(DecisionAction.Update,
              "updated: " + text, Some(j + 1L)))
            else if (j % 3 == 1) Seq(Decision(DecisionAction.Add, text, None))
            else Seq(Decision(DecisionAction.Delete, "", Some(j.toLong)))
        }.toSeq
        val store = new GraphStore(s, checkpointEvery = 64)
        val mgr = new MemoryManager(
          s,
          MemoryConfig(userId = User, embeddingDimensions = 16,
            reconciliationThreshold = 0.0),
          store,
          new MockEmbedder(16),
          new ScriptedExtractor(extractions.toSeq),
          new ScriptedReconciler(decisions)
        )
        mgr.addBatch(seeds, now = Some(T0))
        mgr.addReconcileBatch(batch.map(_._2).toSeq, now = Some(TB))
        val mems = store.memories
          .select(col("id"), col("text"), col("created_at"), col("expired_at"))
          .orderBy(col("id"))
          .localCheckpoint()
        val edges = store.edges
          .filter(col("edge_type").isin(EdgeTypes.HasEntity, EdgeTypes.Supersedes))
          .select(col("src"), col("dst"), col("edge_type"))
          .distinct()
          .orderBy(col("edge_type"), col("src"), col("dst"))
          .localCheckpoint()
        val hist = store.history
          .select(col("id"), col("memory_id"), col("event"), col("old_text"),
            col("new_text"))
          .orderBy(col("id"))
          .localCheckpoint()
        (mems, edges, hist)
      })
    }

  /** Flagship search at corpus scale — the reference's hottest READ
    * surface, timed against a STANDING store of every document at the
    * sf dir (memoized per app+dir: the first bench pass pays the bulk
    * seed, min-of-2 reports the warm-store search latency, which is the
    * regression signal this row exists for). Exercises the staged
    * pipeline (hybrid candidates, merge, boosts, composite scoring,
    * top-k) over a store 125× the oracle scenario's at sf0.1.
    */
  private val searchMemo =
    scala.collection.mutable.Map[String, MemoryManager]()

  def pipelineSearchScaledBench(s: SparkSession, dir: String): DataFrame = {
    val mgr = searchMemo.synchronized {
      searchMemo.getOrElseUpdate(s.sparkContext.applicationId + dir, {
        val texts = load(s, dir, "documents")
          .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
          .collect().map(_.getString(1)).toSeq
        val store = new GraphStore(s, checkpointEvery = 64)
        val m = new MemoryManager(
          s,
          MemoryConfig(userId = User, embeddingDimensions = 16,
            enableTopologyBoost = true, enableImportance = true),
          store, new MockEmbedder(16),
          new ScriptedExtractor(Nil), new AddAllReconciler)
        texts.grouped(1000).zipWithIndex.foreach { case (chunk, i) =>
          m.addBatch(chunk, now = Some(T0 + i * 1000L))
        }
        m
      })
    }
    import s.implicits._
    val results = mgr.search("key agg row scan slow fast table", k = 10,
      now = Some(T0 + 1000000L))
    results.map(r => (r.memoryId, r.score)).toDF("memory_id", "score")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_write_memories" -> ((s, dir) => scenario(s, dir)._2),
    "q_write_batch_memories" -> ((s, dir) => batchScenario(s, dir)._1),
    "q_write_batch_edges" -> ((s, dir) => batchScenario(s, dir)._2),
    "q_write_batch_history" -> ((s, dir) => batchScenario(s, dir)._3),
    "q_write_edges" -> ((s, dir) => scenario(s, dir)._3),
    "q_write_history" -> ((s, dir) => scenario(s, dir)._4),
    "q_pipeline_search" -> { (s, dir) =>
      // flagship end-to-end: full staged search over the scenario store —
      // hybrid + graph branches, merge with agreement bonus, expiry
      // filter, topology boost, composite importance scoring, top-k.
      // Every stage operator is oracle-verified individually; the
      // composition is hash-gated against a pinned oracle derived from an
      // INDEPENDENT replay (tools/pipeline_replay.py — no shared code
      // with this engine; see the oracle map below).
      import s.implicits._
      val store = scenario(s, dir)._1
      val mgr = new MemoryManager(
        s,
        MemoryConfig(userId = User, embeddingDimensions = 16,
          enableTopologyBoost = true, enableImportance = true),
        store, new MockEmbedder(16),
        new ScriptedExtractor(Nil), new AddAllReconciler)
      val results = mgr.search("key agg row scan slow fast table", k = 10,
        now = Some(T0 + 1000000L))
      results.map(r => (r.memoryId, BigDecimal(r.score).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble, r.source, r.memoryType))
        .toDF("memory_id", "score", "source", "memory_type")
    }
  )

  def oracle: Map[String, String] = Map(
    "q_write_batch_memories" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < ${BP + BR}),
         |seeds AS (
         |  SELECT doc_id + 1 AS id, text, $T0 AS created_at,
         |    CASE WHEN ((doc_id + 1) % 3 = 1 AND doc_id + 1 <= 10)
         |           OR ((doc_id + 1) % 3 = 2 AND doc_id + 1 <= 11)
         |         THEN $TB END AS expired_at
         |  FROM d WHERE doc_id < $BP),
         |created AS (
         |  SELECT $BP + (j - j // 3) + 1 AS id,
         |    CASE WHEN j % 3 = 0 THEN 'updated: ' || text ELSE text END AS text,
         |    $TB AS created_at, CAST(NULL AS BIGINT) AS expired_at
         |  FROM (SELECT doc_id - $BP AS j, text FROM d WHERE doc_id >= $BP)
         |  WHERE j % 3 <> 2)
         |SELECT * FROM seeds UNION ALL SELECT * FROM created ORDER BY id""".stripMargin,
    "q_write_batch_edges" ->
      s"""WITH b AS (SELECT doc_id - $BP AS j, lang FROM documents
         |           WHERE doc_id >= $BP AND doc_id < ${BP + BR}),
         |ent AS (SELECT lang, row_number() OVER (ORDER BY min(j)) AS ent_id
         |        FROM b GROUP BY lang),
         |ev AS (SELECT j, CASE WHEN j % 3 = 2 THEN j
         |                      ELSE $BP + (j - j // 3) + 1 END AS mem_id, lang FROM b),
         |he AS (SELECT ev.mem_id AS src, ent.ent_id AS dst, 'HAS_ENTITY' AS edge_type
         |       FROM ev JOIN ent ON ev.lang = ent.lang),
         |sup AS (SELECT $BP + (j - j // 3) + 1 AS src, j + 1 AS dst,
         |               'SUPERSEDES' AS edge_type
         |        FROM b WHERE j % 3 = 0)
         |SELECT DISTINCT src, dst, edge_type
         |FROM (SELECT * FROM he UNION ALL SELECT * FROM sup)
         |ORDER BY edge_type, src, dst""".stripMargin,
    "q_write_batch_history" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < ${BP + BR}),
         |seeds AS (SELECT doc_id + 1 AS id, doc_id + 1 AS memory_id,
         |    'ADD' AS event, CAST(NULL AS VARCHAR) AS old_text, text AS new_text
         |  FROM d WHERE doc_id < $BP),
         |b AS (SELECT doc_id - $BP AS j, text FROM d WHERE doc_id >= $BP),
         |batch AS (
         |  SELECT $BP + j + 1 AS id,
         |    CASE WHEN j % 3 = 2 THEN j ELSE $BP + (j - j // 3) + 1 END AS memory_id,
         |    CASE j % 3 WHEN 0 THEN 'UPDATE' WHEN 1 THEN 'ADD' ELSE 'DELETE' END AS event,
         |    tgt.text AS old_text,
         |    CASE WHEN j % 3 = 0 THEN 'updated: ' || b.text
         |         WHEN j % 3 = 1 THEN b.text END AS new_text
         |  FROM b LEFT JOIN d tgt
         |    ON tgt.doc_id = CASE WHEN j % 3 = 0 THEN j
         |                         WHEN j % 3 = 2 THEN j - 1 END)
         |SELECT * FROM seeds UNION ALL SELECT * FROM batch ORDER BY id""".stripMargin,
    "q_write_memories" ->
      s"""SELECT doc_id + 1 AS id, text, '$User' AS user_id,
         |  $T0 + doc_id * 1000 AS created_at,
         |  CASE WHEN (doc_id + 1) % 4 = 3 AND doc_id + 1 < $N
         |       THEN $T0 + (doc_id + 1) * 1000 END AS expired_at
         |FROM documents WHERE doc_id < $N ORDER BY id""".stripMargin,
    "q_write_edges" ->
      s"""WITH d AS (SELECT doc_id, lang FROM documents WHERE doc_id < $N),
         |ent AS (SELECT lang, row_number() OVER (ORDER BY min(doc_id)) AS ent_id
         |        FROM d GROUP BY lang),
         |own AS (SELECT d.doc_id + 1 AS src, ent.ent_id AS dst, 'HAS_ENTITY' AS edge_type
         |        FROM d JOIN ent ON d.lang = ent.lang),
         |inherited AS (SELECT d.doc_id + 1 AS src, ent.ent_id AS dst, 'HAS_ENTITY' AS edge_type
         |        FROM d JOIN d prev ON prev.doc_id = d.doc_id - 1
         |        JOIN ent ON prev.lang = ent.lang
         |        WHERE d.doc_id % 4 = 3),
         |sup AS (SELECT doc_id + 1 AS src, doc_id AS dst, 'SUPERSEDES' AS edge_type
         |        FROM d WHERE doc_id % 4 = 3)
         |SELECT DISTINCT src, dst, edge_type
         |FROM (SELECT * FROM own UNION ALL SELECT * FROM inherited UNION ALL SELECT * FROM sup)
         |ORDER BY edge_type, src, dst""".stripMargin,
    "q_write_history" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < $N)
         |SELECT d.doc_id + 1 AS id, d.doc_id + 1 AS memory_id,
         |  CASE WHEN d.doc_id % 4 = 3 THEN 'UPDATE' ELSE 'ADD' END AS event,
         |  $T0 + d.doc_id * 1000 AS timestamp,
         |  CASE WHEN d.doc_id % 4 = 3 THEN prev.text END AS old_text,
         |  d.text AS new_text
         |FROM d LEFT JOIN d prev ON prev.doc_id = d.doc_id - 1
         |ORDER BY id""".stripMargin,
    // Pinned oracle for the staged-search composition: the sha256-float32
    // MockEmbedder is not SQL-expressible, so the expected rows are
    // derived by an INDEPENDENT full replay of the pipeline semantics
    // (tools/pipeline_replay.py: store closed-form -> clamped-cosine
    // re-rank -> post-fusion expiry filter -> topology boost -> composite
    // scoring -> top-k, all from the reference spec, no Scala code
    // shared) over the sf0.01 documents the driver gates on. Regenerate
    // with `pipeline_replay.py <sf_dir> --sql` if the scenario changes.
    "q_pipeline_search" ->
      """SELECT memory_id, score::DOUBLE AS score, source, memory_type
        |FROM (VALUES
        |  ('36', 0.644089, 'vector', 'semantic'),
        |  ('33', 0.616605, 'vector', 'semantic'),
        |  ('24', 0.592540, 'vector', 'semantic'),
        |  ('28', 0.557620, 'vector', 'semantic'),
        |  ('18', 0.554865, 'vector', 'semantic'),
        |  ('40', 0.548768, 'vector', 'semantic'),
        |  ('4', 0.543366, 'vector', 'semantic'),
        |  ('9', 0.541044, 'vector', 'semantic')
        |) AS t(memory_id, score, source, memory_type)""".stripMargin
  )
}
