package graft.api

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, BoundReference, CaseWhen,
  Expression, GenericInternalRow, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{EdgeTypes, GraphStore, MemoryRow}
import graft.core.GraphStore._
import graft.functions.GraftHash
import graft.ops.{FilterOps, PageFusion, SearchOps}

/** A serving index: the rows a search reads, held on the driver and
  * kept up to date from the store's row deltas
  * ([[GraphStore.rowChangesSince]]), so a search, warm or right after a
  * write, starts no Spark job. A store has one index per document scope
  * ([[ServingIndex.of]]): every faithful-mode manager of the store shares
  * one, a scoped manager shares its tenant's. It holds
  *   - the memory rows (every row in faithful mode, the rows that pass
  *     `docScope` in scoped mode — the documents the hybrid legs see) as
  *     `UnsafeRow`s in the memories table's schema;
  *   - each document's BM25 terms with their frequencies (as ids of a
  *     term dictionary that grows until the next build), its token
  *     count, n and Σdl;
  *   - HAS_ENTITY edges by memory and by entity, RELATION edges by
  *     source entity, and every entity's name, lower-cased name and
  *     scope. These are the whole store's in both modes: the page
  *     graph's topology counts every memory linked to a page entity,
  *     and a relation's target may lie outside the tenant's scope.
  *
  * Deltas are applied lazily, by the next search ([[sync]]), so writes
  * pay nothing for them; applied entries leave the store's log. A write
  * whose rows the driver does not know (load, predicate delete,
  * DataFrame patch) makes the next search rebuild: one sizing aggregate,
  * then one collect per table.
  *
  * Filters, keep flags and scores are the search's own Spark `Column`s,
  * bound to the rows' schema and evaluated by Catalyst's interpreted
  * evaluator ([[bind]]), so the driver computes what a Spark scan of the
  * same rows would. BM25 runs `SearchOps.bm25Prepared`'s formula with
  * Spark's `log` (`StrictMath.log`); only the order in which a
  * document's per-term weights are summed may differ from Spark's
  * aggregate.
  *
  * Budget: an index serves while the estimated size of every index of
  * its store together is below [[DefaultBudget]], an eighth of the
  * driver's maximum heap (`Runtime.maxMemory`). A build sizes the
  * documents, the HAS_ENTITY/RELATION edges and the entities in one
  * aggregate before it collects anything. Above the budget the rows,
  * terms and adjacency are dropped and the manager searches with Spark
  * (the page path, which scales with the cluster) over a checkpointed
  * BM25 token table, kept from the same deltas as a base minus the
  * documents removed or re-texted since plus the texts added since
  * (re-checkpointed once [[PendingLimit]] documents are pending); the
  * driver then keeps only each document's token count, for n and avgdl.
  * The index stays there until a write the driver does not know lets it
  * re-size. `budget` is the tests' seam: 0 forces the Spark path.
  *
  * Callers hold the index's lock from [[sync]] through their last read.
  */
private[graft] final class ServingIndex(store: GraphStore, docScope: Option[Map[String, String]]) {
  import ServingIndex._

  private val spark = store.spark
  @volatile private[graft] var budget: Long = DefaultBudget

  private var version = 0L // the write version this state reflects (0: the empty store)
  private var serving = true // rows, terms and adjacency are held
  @volatile private var bytes = 0L // estimated size of what is held

  // the Spark path's state (not serving): the store's tables at
  // `version`, and BM25's token table as a checkpointed base, the
  // documents removed from it or re-texted since, the texts added since
  // and, once assembled, the table itself
  private var tables: RowChanges = _
  private var base: DataFrame = _
  private val removed = mutable.Set.empty[Long]
  private val added = mutable.LongMap.empty[String]
  private var corpus: DataFrame = _

  // BM25 document lengths: kept in both modes (see the class doc)
  private val dl = mutable.LongMap.empty[Int]
  private val nullDl = mutable.Set.empty[Long] // documents with a null text
  private var sumDl = 0L

  private val rows = mutable.LongMap.empty[UnsafeRow]
  private val termIds = mutable.HashMap.empty[String, Int]
  private val terms = mutable.ArrayBuffer.empty[String] // by term id
  // each document's (term id, term frequency) pairs, flattened
  private val docTerms = mutable.LongMap.empty[Array[Int]]
  private val hasEntity = mutable.LongMap.empty[(Long, Long)] // edge id → (memory, entity)
  private val heByMem = mutable.LongMap.empty[mutable.Set[Long]]
  private val heByEnt = mutable.LongMap.empty[mutable.Set[Long]]
  // edge id → (src, dst, relation type)
  private val relations = mutable.LongMap.empty[(Long, Long, String)]
  private val relBySrc = mutable.LongMap.empty[mutable.Set[Long]]
  private val entities = mutable.LongMap.empty[Entity]

  private lazy val noRows = emptyRelation(spark, MemSchema)
  private lazy val inScope: Option[Expression] =
    docScope.map(s => bind(Seq(FilterOps.scopeFilter(s))).head)
  private lazy val toUnsafe = UnsafeProjection.create(MemSchema)
  private lazy val serializer = ExpressionEncoder[MemoryRow]().createSerializer()
  private lazy val lowerName =
    analyze(emptyRelation(spark, NameSchema), Seq(lower(col("name"))))._1.head

  /** Brings the index to the store's current write version. True when
    * it serves; false when the search must read Spark (above the budget,
    * or the budget seam is 0).
    */
  def sync(): Boolean = {
    if (store.writeVersion != version || serving && overBudget) {
      val ch = store.rowChangesSince(this, version)
      if (!ch.deltas.exists(_.forall(apply))) build(ch)
      version = ch.version
      if (serving && overBudget) toSpark(ch.memories)
      tables = if (serving) null else ch.copy(deltas = None)
    }
    serving
  }

  private def overBudget: Boolean = bytes + otherBytes(store, this) >= budget

  /** What the Spark path reads when [[sync]] returned false: the store's
    * tables at the index's version, and BM25's prepared corpus over the
    * documents (`SearchOps.bm25Prepare`'s token table, n, avgdl).
    */
  def sparkInput: (RowChanges, (DataFrame, Long, Double)) = {
    if (corpus == null) {
      if (removed.size + added.size > PendingLimit) {
        base = store.boundParts(assemble()).localCheckpoint()
        removed.clear(); added.clear()
      }
      corpus = assemble()
    }
    val (n, avgdl) = bm25Stats
    (tables, (corpus, n, avgdl))
  }

  private def assemble(): DataFrame = {
    import spark.implicits._
    val kept = if (removed.isEmpty) base else base.filter(!col("doc_id").isin(removed.toSeq: _*))
    if (added.isEmpty) kept
    else kept.unionByName(SearchOps.bm25Tokens(
      added.toSeq.sortBy(_._1).toDF("doc_id", "text").coalesce(1), "doc_id", "text"))
  }

  /** BM25's (n, avgdl) over the documents: `SearchOps.bm25Prepare`'s
    * count and `avg(dl)` (a sum of integers, exact below 2^53).
    */
  def bm25Stats: (Long, Double) = synchronized {
    ((dl.size + nullDl.size).toLong, if (dl.isEmpty) 0.0 else sumDl.toDouble / dl.size)
  }

  // ---- maintenance ----

  /** Applies one delta; false when it cannot be applied here and a
    * build is due.
    */
  private def apply(delta: RowDelta): Boolean = delta match {
    case MemoriesAppended(rs) =>
      rs.forall { r =>
        val row = serializer(r).asInstanceOf[UnsafeRow].copy()
        !isDoc(r.id) && { if (passes(row)) addMemory(row); true }
      }
    case MemoriesDeleted(ids) =>
      ids.foreach { id =>
        removeMemory(id)
        if (serving) heByMem.remove(id).foreach(_.foreach(removeEdge))
      }
      true
    case MemoriesSet(ids, values) => setMemories(ids, values)
    case EntitiesAppended(rs) =>
      if (serving) rs.foreach(e => addEntity(e.id, e.name, e.user_id, e.graph_name.orNull))
      true
    case EdgesAppended(rs) =>
      if (serving) rs.foreach(e => addEdge(e.edge_id, e.src, e.dst, e.edge_type,
        Option(e.props).flatMap(_.get("relation_type")).getOrElse("")))
      true
    case EdgesDeleted(ids) => if (serving) ids.foreach(removeEdge); true
    case OtherTables => true
  }

  private def isDoc(id: Long): Boolean = dl.contains(id) || nullDl.contains(id)

  private def passes(row: InternalRow): Boolean =
    inScope.forall(e => e.eval(row) == true)

  /** [[GraphStore.setMemory]]'s, [[GraphStore.expireMemories]]' and
    * [[GraphStore.bumpAccess]]' projections, evaluated on the rows they
    * change. Without the rows (above the budget) a write applies when
    * it leaves the text alone or sets it to a literal (what `update`
    * writes); in scoped mode a row outside the index may enter the scope
    * only if the write leaves the scope columns alone.
    */
  private def setMemories(ids: Seq[Long], values: Seq[(String, Column)]): Boolean = {
    val names = values.map(_._1)
    val scopeSafe = docScope.forall(s => !names.exists(s.contains))
    if (!serving) scopeSafe && values.collectFirst { case ("text", v) => v }.forall { v =>
      bind(Seq(v)).head match {
        case CaseWhen(Seq((_, Literal(text: UTF8String, StringType))), Some(_: BoundReference)) =>
          ids.filter(isDoc).foreach { id => removeMemory(id); addDoc(id, text) }
          true
        case _ => false
      }
    }
    else {
      val exprs = bind(values.map { case (c, v) => v.as(c) })
      val ordinals = names.map(MemSchema.fieldIndex)
      val typed = exprs.zip(ordinals).forall { case (e, i) =>
        sameType(e.dataType, MemSchema(i).dataType) }
      typed && ids.forall { id =>
        rows.get(id) match {
          case None => scopeSafe
          case Some(old) =>
            val vals = Array.tabulate[Any](MemSchema.length)(i => old.get(i, FieldTypes(i)))
            exprs.zip(ordinals).map { case (e, i) => (i, e.eval(old)) }
              .foreach { case (i, v) => vals(i) = v }
            val row = toUnsafe(new GenericInternalRow(vals)).copy()
            removeMemory(id)
            if (passes(row)) addMemory(row)
            true
        }
      }
    }
  }

  private def addMemory(row: UnsafeRow): Unit = {
    val id = row.getLong(IdOrdinal)
    addDoc(id, if (row.isNullAt(TextOrdinal)) null else row.getUTF8String(TextOrdinal))
    if (serving) {
      rows(id) = row
      bytes += row.getSizeInBytes + RowBytes
    }
  }

  /** A document's token count and, when serving, its terms; otherwise
    * its text joins the Spark path's token table.
    */
  private def addDoc(id: Long, text: UTF8String): Unit = {
    if (!serving) { added(id) = Option(text).map(_.toString).orNull; corpus = null }
    if (text == null) nullDl += id
    else {
      val toks = GraftHash.tokenize(text)
      dl(id) = toks.length
      sumDl += toks.length
      if (serving) {
        val tf = toks.groupMapReduce(identity)(_ => 1)(_ + _)
        docTerms(id) = tf.iterator.flatMap { case (t, n) =>
          Iterator(termIds.getOrElseUpdate(t, { terms += t; terms.size - 1 }), n)
        }.toArray
        bytes += TermBytes * tf.size
      }
    }
  }

  private def removeMemory(id: Long): Unit = {
    if (!serving && isDoc(id)) { removed += id; added -= id; corpus = null }
    dl.remove(id).foreach(sumDl -= _)
    nullDl -= id
    rows.remove(id).foreach(r => bytes -= r.getSizeInBytes + RowBytes)
    docTerms.remove(id).foreach(ts => bytes -= TermBytes * ts.length / 2)
  }

  private def addEntity(id: Long, name: String, userId: String, graphName: String): Unit = {
    val nameRow = new GenericInternalRow(Array[Any](UTF8String.fromString(name)))
    val lc = Option(lowerName.eval(nameRow)).map(_.toString).orNull
    entities(id) = Entity(name, lc, userId, Option(graphName))
    bytes += EntityBytes + 2L * Option(name).fold(0)(_.length)
  }

  private def addEdge(id: Long, src: Long, dst: Long, edgeType: String, relType: String): Unit =
    edgeType match {
      case EdgeTypes.HasEntity =>
        hasEntity(id) = (src, dst)
        heByMem.getOrElseUpdate(src, mutable.Set.empty) += id
        heByEnt.getOrElseUpdate(dst, mutable.Set.empty) += id
        bytes += EdgeBytes
      case EdgeTypes.Relation =>
        relations(id) = (src, dst, relType)
        relBySrc.getOrElseUpdate(src, mutable.Set.empty) += id
        bytes += EdgeBytes
      case _ => ()
    }

  private def removeEdge(id: Long): Unit = {
    def unlink(m: mutable.LongMap[mutable.Set[Long]], k: Long): Unit =
      m.get(k).foreach { s => s -= id; if (s.isEmpty) m.remove(k) }
    hasEntity.remove(id).foreach { case (src, dst) =>
      unlink(heByMem, src); unlink(heByEnt, dst); bytes -= EdgeBytes }
    relations.remove(id).foreach { case (src, _, _) => unlink(relBySrc, src); bytes -= EdgeBytes }
  }

  private def dropRows(): Unit = {
    Seq(rows, docTerms, hasEntity, heByMem, heByEnt, relations, relBySrc, entities)
      .foreach(_.clear())
    termIds.clear(); terms.clear()
    bytes = 0L
  }

  private def clear(): Unit = {
    dropRows()
    dl.clear(); nullDl.clear(); sumDl = 0L
    base = null; removed.clear(); added.clear(); corpus = null
  }

  private def docsOf(memories: DataFrame): DataFrame =
    docScope.fold(memories)(s => memories.filter(FilterOps.scopeFilter(s)))

  /** Leaves serving: drops what is held and checkpoints the documents'
    * token table for the Spark path.
    */
  private def toSpark(memories: DataFrame): Unit = {
    dropRows()
    serving = false
    base = store.boundParts(SearchOps.bm25Tokens(docsOf(memories), "id", "text"))
      .localCheckpoint()
    removed.clear(); added.clear(); corpus = null
  }

  /** Rebuilds from the tables `ch` read: one aggregate sizes what a build
    * would hold; within the budget, one collect per table follows; above
    * it, the token table's checkpoint and one collect of its token counts.
    */
  private def build(ch: RowChanges): Unit = {
    clear()
    val docs = docsOf(ch.memories)
    val fits = budget > 0 && sameSchema(docs.schema) &&
      estimate(docs, ch) + otherBytes(store, this) < budget
    serving = fits
    if (fits) {
      docs.select(MemSchema.fieldNames.toSeq.map(col): _*).queryExecution.toRdd
        .map(_.copy()).collect().foreach(r => addMemory(r.asInstanceOf[UnsafeRow]))
      ch.entities.select(col("id"), col("name"), col("user_id"), col("graph_name"))
        .collect().foreach(r => addEntity(r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3)))
      ch.edges.filter(col("edge_type").isin(LoggedEdgeTypes.toSeq: _*))
        .select(col("edge_id"), col("src"), col("dst"), col("edge_type"),
          coalesce(col("props").getItem("relation_type"), lit("")))
        .collect().foreach(r => addEdge(r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getString(4)))
    } else {
      toSpark(ch.memories)
      base.select(col("doc_id"), col("dl")).collect().foreach { r =>
        if (r.isNullAt(1)) nullDl += r.getLong(0)
        else { dl(r.getLong(0)) = r.getInt(1); sumDl += r.getInt(1) }
      }
    }
  }

  /** The estimated bytes a build from `ch` would hold (`docs` are its
    * documents): the rows with their text and embedding, the logged edges
    * and the entities with their names, summed in one aggregate.
    */
  private def estimate(docs: DataFrame, ch: RowChanges): Long =
    docs.select((lit(RowBytes + FixedRowBytes) +
        coalesce(octet_length(col("text")), lit(0)) * TextBytes +
        greatest(size(col("embedding")), lit(0)) * 4L).as("bytes"))
      .unionByName(ch.edges.filter(col("edge_type").isin(LoggedEdgeTypes.toSeq: _*))
        .select(lit(EdgeBytes).as("bytes")))
      .unionByName(ch.entities.select(
        (lit(EntityBytes) + coalesce(length(col("name")), lit(0)) * 2L).as("bytes")))
      .agg(coalesce(sum(col("bytes")), lit(0L))).head().getLong(0)

  // ---- reads (serving mode) ----

  /** `cols` bound to the memory rows' schema: Catalyst's analysis of
    * `select(cols)` over an empty relation of that schema, with constant
    * subexpressions folded once.
    */
  def bind(cols: Seq[Column]): Array[Expression] = analyze(noRows, cols)._1

  /** Ids of the entities of the scope (`user_id`, and `graph_name` when
    * given) named `names`, or, for a name with no exact hit, named it
    * case-insensitively (`lower(name)`).
    */
  def entityIds(names: Seq[String], userId: String, graphName: Option[String]): Seq[Long] = {
    val lowered = names.map(_.toLowerCase).distinct.toSet
    val hits = entities.iterator.filter { case (_, e) =>
      e.userId == userId && graphName.forall(g => e.graphName.contains(g)) &&
        (names.contains(e.name) || e.lower != null && lowered(e.lower))
    }.toSeq
    val exactNames = hits.map(_._2.name).filter(names.contains).toSet
    val missingLower = names.filterNot(exactNames).map(_.toLowerCase).toSet
    hits.collect { case (id, e) if exactNames(e.name) || missingLower(e.lower) => id }.distinct
  }

  /** `SearchOps.bm25Prepared` over the documents for `queryTerms`
    * (distinct, lower-case), top `k` by (score desc, id asc).
    */
  def bm25Top(queryTerms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75)
      : Seq[(Long, Option[Double])] = {
    val (n, avgdl) = bm25Stats
    val q = queryTerms.map(termIds.getOrElse(_, -1)).toArray
    // one scan: each matching document's frequency of every query term,
    // and each term's document frequency
    val matched = mutable.ArrayBuffer.empty[(Long, Array[Int])]
    val df = new Array[Long](q.length)
    docTerms.foreach { case (id, ts) =>
      var tfs: Array[Int] = null
      var i = 0
      while (i < ts.length) {
        var j = 0
        while (j < q.length) {
          if (q(j) == ts(i)) {
            if (tfs == null) tfs = new Array[Int](q.length)
            tfs(j) = ts(i + 1); df(j) += 1
          }
          j += 1
        }
        i += 2
      }
      if (tfs != null) matched += ((id, tfs))
    }
    val idf = df.map(d => StrictMath.log(((n - d).toDouble + 0.5) / (d.toDouble + 0.5) + 1.0))
    top(matched.iterator.map { case (id, tfs) =>
      var score = 0.0
      var j = 0
      while (j < q.length) {
        if (tfs(j) > 0) {
          val tf = tfs(j).toDouble
          score += idf(j) * (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * dl(id).toDouble / avgdl))
        }
        j += 1
      }
      (id, Option(score))
    }, k)
  }

  /** The rows that `keep` (bound, boolean) holds for, among `ids` (all
    * rows when None), with their `score` (bound, double), top `k` by
    * (score desc nulls last, id asc).
    */
  def scoreTop(score: Expression, keep: Expression, k: Int,
      ids: Option[Iterable[Long]] = None): Seq[(Long, Option[Double])] = {
    val candidates = ids.fold(rows.iterator)(_.iterator.flatMap(id => rows.get(id).map(id -> _)))
    top(candidates.collect { case (id, r) if keep.eval(r) == true =>
      (id, Option(score.eval(r)).map(_.asInstanceOf[Double])) }, k)
  }

  /** A row's embedding. */
  def embedding(id: Long): Array[Float] = rows(id).getArray(EmbeddingOrdinal).toFloatArray()

  /** The rows of `ids` projected to `cols`, as Spark would collect them. */
  def hydrate(ids: Seq[Long], cols: Seq[Column]): Map[Long, Row] = {
    val (exprs, schema) = analyze(noRows, cols)
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    ids.distinct.flatMap(id => rows.get(id).map { r =>
      id -> toRow(new GenericInternalRow(exprs.map(_.eval(r)))).asInstanceOf[Row]
    }).toMap
  }

  /** Memories with a HAS_ENTITY edge into `ents`. */
  def memoriesOf(ents: Iterable[Long]): Set[Long] =
    ents.iterator.flatMap(e => heByEnt.getOrElse(e, Nil)).map(hasEntity(_)._1).toSet

  /** Targets of the RELATION edges out of `ents`. */
  def relationTargets(ents: Iterable[Long]): Set[Long] =
    ents.iterator.flatMap(e => relBySrc.getOrElse(e, Nil)).map(relations(_)._2).toSet

  /** The graph around a page: every HAS_ENTITY (memory, entity) edge
    * into the page's entities, and the RELATION (src, dst, type) edges
    * out of them, one element per edge.
    */
  def pageGraph(ids: Seq[Long]): (Seq[(Long, Long)], Seq[(Long, Long, String)]) = {
    val ents = ids.distinct.flatMap(m => heByMem.getOrElse(m, Nil)).map(hasEntity(_)._2).distinct
    (ents.flatMap(e => heByEnt.getOrElse(e, Nil)).map(hasEntity),
      ents.flatMap(e => relBySrc.getOrElse(e, Nil)).map(relations))
  }

  /** Entity names by id. */
  def names(ids: Seq[Long]): Map[Long, Seq[String]] =
    ids.distinct.flatMap(id => entities.get(id).map(e => id -> Seq(e.name))).toMap

  /** The estimated bytes held. */
  private[graft] def heldBytes: Long = bytes

  /** The held state in a canonical form, to compare with a fresh build. */
  private[graft] def contents: Seq[Any] = this.synchronized {
    val tokenTable = Option(base).map(_ => assemble().collect().map(r => (r.getLong(0),
      Option(r.getSeq[String](1)).map(_.toList), r.get(2))).sortBy(_._1).toList)
    Seq(serving, dl.toMap, nullDl.toSet, sumDl, tokenTable,
      rows.toSeq.sortBy(_._1).map { case (id, r) => id -> r.toSeq(MemSchema).map {
        case a: ArrayData => a.toFloatArray().toList
        case v => v } },
      docTerms.toSeq.map { case (id, ts) =>
        id -> ts.grouped(2).map(p => terms(p(0)) -> p(1)).toMap }.toMap,
      hasEntity.toMap, relations.toMap, entities.toMap)
  }

  /** The first `k` by (score desc nulls last, id asc): a bounded heap
    * whose head is the worst row kept.
    */
  private def top(it: Iterator[(Long, Option[Double])], k: Int): Seq[(Long, Option[Double])] = {
    val order: Ordering[(Long, Option[Double])] = (x, y) => PageFusion.scoreDesc.compare(
      (x._2, x._1), (y._2, y._1))
    val heap = new java.util.PriorityQueue[(Long, Option[Double])](16, order.reverse)
    it.foreach { r =>
      if (heap.size < k) heap.add(r)
      else if (order.compare(r, heap.peek) < 0) { heap.poll(); heap.add(r) }
    }
    Array.fill(heap.size)(heap.poll()).reverse.toSeq
  }
}

private[graft] object ServingIndex {

  /** An index built from the store's tables, for comparison with one
    * kept from the deltas.
    */
  private[graft] def fromTables(store: GraphStore, docScope: Option[Map[String, String]],
      budget: Long = DefaultBudget): ServingIndex = {
    val index = new ServingIndex(store, docScope)
    index.synchronized { index.budget = budget; index.version = -1L; index.sync() }
    index
  }

  // every store's live indexes by document scope: weak keys and weak
  // values, so neither a store nor an index outlives its managers
  private val shared = new java.util.WeakHashMap[GraphStore,
    mutable.Map[Option[Map[String, String]], java.lang.ref.WeakReference[ServingIndex]]]()

  /** The store's index for `docScope`: one per store and scope, shared by
    * every manager that searches those documents.
    */
  def of(store: GraphStore, docScope: Option[Map[String, String]]): ServingIndex =
    shared.synchronized {
      val byScope = shared.computeIfAbsent(store, _ => mutable.Map.empty)
      byScope.get(docScope).flatMap(r => Option(r.get)).getOrElse {
        val index = new ServingIndex(store, docScope)
        byScope(docScope) = new java.lang.ref.WeakReference(index)
        index
      }
    }

  /** The estimated bytes the store's other indexes hold. */
  private def otherBytes(store: GraphStore, self: ServingIndex): Long = shared.synchronized {
    Option(shared.get(store)).fold(0L)(_.valuesIterator.flatMap(r => Option(r.get))
      .filter(_ ne self).map(_.bytes).sum)
  }

  /** An eighth of the driver's maximum heap: the byte budget of a
    * store's indexes together.
    */
  val DefaultBudget: Long = Runtime.getRuntime.maxMemory / 8

  /** Documents added, removed or re-texted since the Spark path's token
    * table was checkpointed, past which the next search re-checkpoints
    * it: the added texts are a local relation in every search's plan.
    */
  private val PendingLimit = 1024

  /** The memories table's schema, every field nullable. */
  val MemSchema: StructType = StructType(
    ExpressionEncoder[MemoryRow]().schema.map(_.copy(nullable = true)))
  private val FieldTypes: Array[DataType] = MemSchema.fields.map(_.dataType)
  private val IdOrdinal = MemSchema.fieldIndex("id")
  private val TextOrdinal = MemSchema.fieldIndex("text")
  private val EmbeddingOrdinal = MemSchema.fieldIndex("embedding")
  private val NameSchema = StructType(Seq(StructField("name", StringType)))

  // size estimates, bytes: per-row map and object overhead; a row's
  // fixed-width part and short strings, for the sizing aggregate; per
  // byte of text (row bytes plus its terms); per term of a document; per
  // edge and per entity with its maps
  private val RowBytes = 64L
  private val FixedRowBytes = 320L
  private val TextBytes = 12L
  private val TermBytes = 8L
  private val EdgeBytes = 160L
  private val EntityBytes = 192L

  private final case class Entity(name: String, lower: String, userId: String,
      graphName: Option[String])

  /** `cols` analyzed as `select(cols)` over `rows` (a relation with no
    * rows) and bound to its output, without their names, constant
    * subexpressions folded, with the schema of the selection.
    */
  private def analyze(rows: DataFrame, cols: Seq[Column]): (Array[Expression], StructType) = {
    val selected = rows.select(cols: _*)
    selected.queryExecution.analyzed match {
      case Project(list, child) => (list.map { e =>
        val unnamed = e match { case a: Alias => a.child; case other => other }
        BindReferences.bindReference(unnamed, child.output).transformUp {
          case f if f.foldable && !f.isInstanceOf[Literal] => Literal(f.eval(), f.dataType)
        }
      }.toArray, selected.schema)
      case other => throw new IllegalStateException(s"unexpected analyzed plan: $other")
    }
  }

  private def emptyRelation(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  private def sameType(a: DataType, b: DataType): Boolean = a.catalogString == b.catalogString

  /** Whether a memories table has every field of [[MemSchema]], typed the same. */
  private def sameSchema(s: StructType): Boolean =
    MemSchema.forall(f => s.find(_.name == f.name).exists(g => sameType(f.dataType, g.dataType)))
}
