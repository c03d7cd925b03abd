package graft

import org.scalatest.Assertions._

import graft.api.{MemoryManager, ServingIndex}
import graft.ops.{FilterOps, SearchOps}

/** Compares a manager's maintained serving index with one built fresh
  * from the store's tables at the same version and budget: equal
  * contents (rows, postings, token counts, adjacency, entities, or, off
  * the index, the Spark path's token table), BM25's n and a bit-equal
  * avgdl against a fresh [[SearchOps.bm25Prepare]], and per query the
  * index's BM25 scores (off the index, those of `bm25Prepared` over its
  * token table) against [[SearchOps.bm25Prepared]]'s: the same
  * documents, within 1e-12 relative (the order of the per-term sum is
  * Spark's aggregate's).
  */
object IndexCheck {
  def assertFresh(m: MemoryManager, queries: Seq[Seq[String]], clue: String): Unit = {
    val kept = m.servingIndex
    val scope = if (m.config.scopedHybridCandidates) Some(m.config.scopeFilters) else None
    val serving = kept.synchronized(kept.sync())
    val fresh = ServingIndex.fromTables(m.store, scope, kept.budget)
    val (a, b) = (kept.contents, fresh.contents)
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"$clue: part $i of the index differs from a fresh build") }
    val docs = scope.fold(m.store.memories)(s => m.store.memories.filter(FilterOps.scopeFilter(s)))
    val prepared = SearchOps.bm25Prepare(docs, "id", "text")
    val (n, avgdl) = kept.bm25Stats
    assert(n == prepared._2, clue)
    assert(java.lang.Double.doubleToRawLongBits(avgdl) ==
      java.lang.Double.doubleToRawLongBits(prepared._3), s"$clue: avgdl $avgdl vs ${prepared._3}")
    queries.foreach { q =>
      val spark = SearchOps.bm25Prepared(prepared, "id", q).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val index = kept.synchronized {
        if (serving) kept.bm25Top(q.map(_.toLowerCase).distinct, Int.MaxValue)
          .map { case (id, s) => id -> s.get }.toMap
        else SearchOps.bm25Prepared(kept.sparkInput._2, "id", q).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      }
      assert(index.keySet == spark.keySet, s"$clue: query $q")
      index.foreach { case (id, s) =>
        assert(math.abs(s - spark(id)) <= 1e-12 * math.abs(spark(id)),
          s"$clue: query $q, doc $id: $s vs ${spark(id)}")
      }
    }
  }
}
