package graft.api

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.GraphStore
import graft.core.GraphStore.{TextSet, TextsAppended, TextsRemoved}
import graft.functions.GraftHash
import graft.ops.{FilterOps, SearchOps}

/** One manager's BM25 prepared corpus — the (doc table, n, avgdl) of
  * [[SearchOps.bm25Prepare]] over the store's memories, or over the rows
  * that pass `scope` — kept up to date from the store's text deltas
  * ([[GraphStore.textChangesSince]]) instead of re-tokenizing the store
  * after every write.
  *
  * The doc table is a checkpointed base minus the ids deleted or
  * re-texted since, plus the texts added since as a lazy local relation;
  * the driver keeps each document's token count, so n and avgdl need no
  * Spark job. A refresh starts none either: the only jobs are a full
  * build (first use, or after a write whose rows the driver does not
  * know) and one `localCheckpoint` of the doc table in the first refresh
  * after a store checkpoint, which bounds its lineage to the store's own
  * cadence. avgdl = Σdl / n is bit-equal to Spark's `avg(dl)`: a sum of
  * integer-valued doubles is exact below 2^53.
  */
private[graft] final class Bm25Corpus(store: GraphStore, scope: Option[Map[String, String]]) {
  import store.spark.implicits._

  private var version = -1L // the store text version this state reflects
  private var base: DataFrame = _ // checkpointed (doc_id, toks, dl)
  private var baseCheckpoints = 0L // store checkpoints when base was built
  private val removed = mutable.Set.empty[Long] // base ids no longer in the corpus
  private val added = mutable.Map.empty[Long, String] // texts since base
  private var docs: DataFrame = _ // base - removed + added
  private val dl = mutable.HashMap.empty[Long, Int] // token count per document
  private val nullDl = mutable.Set.empty[Long] // documents with a null text
  private var sumDl = 0L

  /** (doc table, n, avgdl) at the store's current text version. */
  def prepared(): (DataFrame, Long, Double) = this.synchronized {
    // the volatile read keeps a search that has nothing to apply off the
    // store's lock, which a writer holds through a checkpoint
    if (store.textVersion != version) {
      val ch = store.textChangesSince(version)
      if (!ch.deltas.exists(_.forall(applied))) build(ch.memories, ch.checkpoints)
      else if (removed.isEmpty && added.isEmpty) reset(base, ch.checkpoints)
      else if (ch.checkpoints > baseCheckpoints) materialize(ch.checkpoints)
      else assemble()
      version = ch.version
    }
    val n = dl.size + nullDl.size
    (docs, n.toLong, if (dl.isEmpty) 0.0 else sumDl.toDouble / dl.size)
  }

  /** Applies one delta to the driver state; false when it cannot be
    * applied (an appended id already in the corpus) and a build is due.
    */
  private def applied(delta: GraphStore.TextDelta): Boolean = delta match {
    case TextsAppended(rows) =>
      rows.filter(r => scope.forall(r.inScope)).forall { r =>
        !contains(r.id) && { add(r.id, r.text); true }
      }
    case TextsRemoved(ids) => ids.foreach(remove); true
    case TextSet(id, text) =>
      if (contains(id)) { remove(id); add(id, text) }
      true
  }

  private def contains(id: Long): Boolean = dl.contains(id) || nullDl.contains(id)

  private def add(id: Long, text: String): Unit = {
    val n = GraftHash.tokens(UTF8String.fromString(text)).numElements()
    dl(id) = n
    sumDl += n
    added(id) = text
  }

  private def remove(id: Long): Unit =
    if (contains(id)) {
      dl.remove(id).foreach(sumDl -= _)
      nullDl -= id
      added -= id
      removed += id
    }

  private def assemble(): Unit = {
    val kept = if (removed.isEmpty) base else base.filter(!col("doc_id").isin(removed.toSeq: _*))
    docs =
      if (added.isEmpty) kept
      else kept.unionByName(SearchOps.bm25Tokens(
        added.toSeq.sortBy(_._1).toDF("doc_id", "text").coalesce(1), "doc_id", "text"))
  }

  private def materialize(checkpoints: Long): Unit = {
    assemble()
    reset(store.boundParts(docs).localCheckpoint(), checkpoints)
  }

  private def build(memories: DataFrame, checkpoints: Long): Unit = {
    val scoped = scope.fold(memories)(s => memories.filter(FilterOps.scopeFilter(s)))
    reset(SearchOps.bm25Tokens(scoped, "id", "text").localCheckpoint(), checkpoints)
    dl.clear(); nullDl.clear(); sumDl = 0L
    docs.select(col("doc_id"), col("dl")).collect().foreach { r =>
      if (r.isNullAt(1)) nullDl += r.getLong(0)
      else { dl(r.getLong(0)) = r.getInt(1); sumDl += r.getInt(1) }
    }
  }

  private def reset(table: DataFrame, checkpoints: Long): Unit = {
    base = table; docs = table; baseCheckpoints = checkpoints
    removed.clear(); added.clear()
  }
}
