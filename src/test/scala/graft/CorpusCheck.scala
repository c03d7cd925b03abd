package graft

import org.apache.spark.sql.functions.col
import org.scalatest.Assertions._

import graft.api.MemoryManager
import graft.ops.{FilterOps, SearchOps}

/** Compares a manager's maintained BM25 corpus with a fresh
  * [[SearchOps.bm25Prepare]] of the same scope at the store's current
  * version: the same (doc_id, dl, toks) multiset, equal n, a bit-equal
  * avgdl and bit-equal [[SearchOps.bm25Prepared]] scores per query.
  */
object CorpusCheck {
  def assertFresh(m: MemoryManager, queries: Seq[Seq[String]], clue: String): Unit = {
    val kept = m.bm25Corpus.prepared()
    val docs =
      if (m.config.scopedHybridCandidates)
        m.store.memories.filter(FilterOps.scopeFilter(m.config.scopeFilters))
      else m.store.memories
    val fresh = SearchOps.bm25Prepare(docs, "id", "text")
    def rows(p: (org.apache.spark.sql.DataFrame, Long, Double)) =
      p._1.select(col("doc_id"), col("dl"), col("toks")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[String](2).toList)).toSeq.sortBy(_._1)
    assert(rows(kept) == rows(fresh), clue)
    assert(kept._2 == fresh._2, clue)
    assert(java.lang.Double.doubleToRawLongBits(kept._3) ==
      java.lang.Double.doubleToRawLongBits(fresh._3), s"$clue: avgdl ${kept._3} vs ${fresh._3}")
    queries.foreach { q =>
      def scores(p: (org.apache.spark.sql.DataFrame, Long, Double)) =
        SearchOps.bm25Prepared(p, "id", q).collect()
          .map(r => r.getLong(0) -> java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
      assert(scores(kept) == scores(fresh), s"$clue: query $q")
    }
  }
}
