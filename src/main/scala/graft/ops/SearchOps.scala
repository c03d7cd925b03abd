package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Search primitives (SURVEY §2.4): cosine k-NN, BM25, RRF fusion, hybrid
  * search and MMR diversity — all as distributed DataFrame dataflow.
  *
  * Scale notes: top-k goes through `orderBy(...).limit(k)` which Spark
  * plans as TakeOrderedAndProject (per-partition heap + driver merge, no
  * full sort/shuffle). Every dedup / ranking step carries an explicit
  * total order (score desc, id asc) so results are deterministic on an
  * unordered engine — required for oracle hash-matching (SURVEY §7.4).
  */
object SearchOps {

  /** V1 — brute-force cosine top-k against a constant query vector.
    * The exact baseline; at 100 TB the LSH variant in [[SimilarityOps]]
    * prunes candidates first and this re-ranks them.
    *
    * Reference: protocol.py:96-105, search/vector.py:18-77
    * (score = max(0, 1 - distance) there; == cosine here since both
    * vectors are unit-normalized by the embedder).
    */
  def cosineTopK(
      df: DataFrame,
      embCol: String,
      idCol: String,
      query: Array[Float],
      k: Int,
      scoreName: String = "score"
  ): DataFrame =
    df.withColumn(scoreName, VectorFunctions.cosineToQuery(col(embCol), query))
      .orderBy(col(scoreName).desc, col(idCol).asc)
      .limit(k)

  /** BM25 scoring of a document table against a bag of query terms
    * (V3/V5; the reference delegates to its engine's text index,
    * search/vector.py:123-132 — we build the classic inverted dataflow).
    *
    * Input: docs(idCol, textCol); output: (idCol, bm25) for docs matching
    * >=1 term. Two aggregations (doc stats, term stats) + one join — the
    * join key is the term, so at scale the per-term partial scores
    * map-side combine before the final per-doc sum.
    */
  def bm25(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    val docTokens = bm25Tokens(docs, idCol, textCol)

    val corpus = docTokens.agg(
      count(lit(1)).as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl")
    )

    val terms = queryTerms.map(_.toLowerCase).distinct
    val tf = docTokens
      // outer: keeps InferFiltersFromGenerate from re-tokenizing at the
      // scan; null terms are dropped by the isin filter anyway
      .select(col("doc_id"), col("dl"), explode_outer(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

    val df_ = tf.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))

    tf.join(broadcast(df_), "term")
      .crossJoin(broadcast(corpus))
      .withColumn(
        "idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
      )
      .withColumn(
        "w",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
      )
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("bm25"))
      .select(col("doc_id").as(idCol), col("bm25"))
  }

  /** The tokenized doc table (doc_id, toks, dl) BM25 scores. */
  def bm25Tokens(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))
  }

  /** Query-independent BM25 corpus state — the text-index artifact a
    * per-query scan reuses: the [[bm25Tokens]] table, checkpointed so
    * tokenization never re-runs per query, plus (n_docs, avgdl). This is
    * the from-scratch build. `MemoryManager.search` keeps n and avgdl up
    * to date from the store's write deltas instead (`ServingIndex`,
    * driver-side token counts).
    */
  def bm25Prepare(
      docs: DataFrame,
      idCol: String,
      textCol: String): (DataFrame, Long, Double) = {
    val docTokens = bm25Tokens(docs, idCol, textCol).localCheckpoint()
    val st = docTokens.agg(
      count(lit(1)).as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl")).collect()(0)
    val n = st.getLong(0)
    (docTokens, n, if (n == 0) 0.0 else st.getDouble(1))
  }

  /** BM25 over a [[bm25Prepare]]d corpus — identical arithmetic to
    * [[bm25]] (corpus stats as literals instead of an in-plan agg; the
    * double operations are the same, so scores are bit-identical), but
    * the per-query cost is one pass over the already-tokenized table.
    */
  def bm25Prepared(
      prepared: (DataFrame, Long, Double),
      idCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    val (docTokens, nDocs, avgdl) = prepared
    val terms = queryTerms.map(_.toLowerCase).distinct
    val tf = docTokens
      .select(col("doc_id"), col("dl"), explode_outer(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    tf.join(broadcast(df_), "term")
      .withColumn(
        "idf",
        log((lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn(
        "w",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("bm25"))
      .select(col("doc_id").as(idCol), col("bm25"))
  }

  /** Reciprocal-rank fusion of scored result sets (V3). Each input must
    * expose (idCol, scoreCol); ranks are dense positions ordered by
    * (score desc, id asc). fused = Σ 1/(rrfK + rank). The reference uses
    * rrfK = 1 (search/vector.py:130-132).
    *
    * SCALE CONTRACT: every input MUST be pre-limited (top-fetchK) before
    * fusion — ranking uses an unpartitioned window, which is correct and
    * cheap on candidate pages (≤ a few hundred rows) but would serialize
    * an unlimited input onto one partition. hybridSearch honors this by
    * limiting both legs to fetchK first. The online path
    * (`MemoryManager.search`) does not call this operator: it collects
    * the two [[hybridLegs]] pages and fuses them on the driver with
    * [[PageFusion.rrf]], the bit-identical twin of this sum.
    */
  def rrfFuse(
      inputs: Seq[(DataFrame, String)],
      idCol: String,
      rrfK: Double = 1.0
  ): DataFrame = {
    val ranked = inputs.map { case (df, scoreCol) =>
      val w = Window.orderBy(col(scoreCol).desc, col(idCol).asc)
      df.select(
        col(idCol),
        (lit(1.0) / (lit(rrfK) + row_number().over(w))).as("rrf_part")
      )
    }
    ranked
      .reduce(_.unionByName(_))
      .groupBy(col(idCol))
      .agg(sum(col("rrf_part")).as("rrf_score"))
  }

  /** V3 — hybrid search: BM25 candidates ∪ vector candidates, RRF-fused,
    * then re-ranked by pure cosine (the reference re-ranks fused
    * candidates by cosine, search/vector.py:146-168; docs without an
    * embedding fall back to 0.5).
    */
  def hybridSearch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      embCol: String,
      queryText: String,
      queryVec: Array[Float],
      k: Int,
      rrfK: Double = 1.0,
      fetchK: Int = 50,
      preparedBm25: Option[(DataFrame, Long, Double)] = None
  ): DataFrame = {
    val (bm, vec) = hybridLegs(docs, idCol, textCol, embCol, queryText, queryVec,
      fetchK, preparedBm25)
    val fused = rrfFuse(Seq((bm, "bm25"), (vec, "cos")), idCol, rrfK)
    // Re-rank fused candidates by clamped cosine; rows without a stored
    // embedding fall back on the fused score: max(0, 1-fused) when
    // fused < 1, else 0.5 (reference search/vector.py:166-168).
    // Callers must pre-apply FilterOps.notExpired — the reference drops
    // expired rows post-fusion (search/vector.py:157).
    fused
      .join(docs, Seq(idCol), "inner")
      .withColumn(
        "score",
        when(
          col(embCol).isNull,
          when(col("rrf_score") < 1.0, greatest(lit(0.0), lit(1.0) - col("rrf_score")))
            .otherwise(lit(0.5))
        ).otherwise(
          greatest(lit(0.0), VectorFunctions.cosineToQuery(col(embCol), queryVec))
        )
      )
      .select(col(idCol), col("rrf_score"), col("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** The distinct BM25 terms of a query text, lower-cased. */
  def queryTerms(queryText: String): Seq[String] =
    queryText.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq.distinct

  /** V3's two candidate legs, each its top-fetchK page ordered by
    * (score desc, id asc): BM25 (idCol, bm25) over the query's terms and
    * cosine (idCol, cos) against the query vector. [[hybridSearch]]
    * fuses them in Spark; `MemoryManager.search` collects them.
    */
  def hybridLegs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      embCol: String,
      queryText: String,
      queryVec: Array[Float],
      fetchK: Int,
      preparedBm25: Option[(DataFrame, Long, Double)]
  ): (DataFrame, DataFrame) = {
    val terms = queryTerms(queryText)
    val bmScores = preparedBm25 match {
      case Some(p) => bm25Prepared(p, idCol, terms)
      case None => bm25(docs, idCol, textCol, terms)
    }
    val bm = bmScores
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(fetchK)
    val vec = docs
      .withColumn("cos", VectorFunctions.cosineToQuery(col(embCol), queryVec))
      .select(col(idCol), col("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(fetchK)
    (bm, vec)
  }

  /** V4 — MMR diverse search (reference search/vector.py:194-291):
    * fetch `fetchK` candidates by cosine, then greedily select k
    * maximizing λ·sim(q,d) − (1−λ)·max sim(d, selected). The greedy loop
    * is inherently sequential and k is small, so candidates are collected
    * to the driver (fetchK = 4k by default, reference types.py:95).
    */
  def mmr(
      df: DataFrame,
      embCol: String,
      idCol: String,
      query: Array[Float],
      k: Int,
      lambda: Double = 0.5,
      fetchKOpt: Option[Int] = None
  ): DataFrame = {
    val spark = df.sparkSession
    val fetchK = fetchKOpt.getOrElse(4 * k)
    val cands = cosineTopK(df, embCol, idCol, query, fetchK)
      .select(col(idCol).cast("long"), col(embCol), col("score"))
      .collect()
      .map(r =>
        (
          r.getLong(0),
          r.getSeq[Float](1).toArray,
          r.getDouble(2)
        )
      )
    import spark.implicits._
    mmrSelect(cands.toSeq, k, lambda).zipWithIndex
      .map { case ((id, score), rank) => (id, score, rank + 1) }
      .toDF(idCol, "score", "mmr_rank")
  }

  /** [[mmr]]'s greedy selection over its collected candidates
    * (id, embedding, cosine to the query), ordered by (cosine desc, id
    * asc): the selected (id, cosine) in selection order.
    */
  def mmrSelect(cands: Seq[(Long, Array[Float], Double)], k: Int,
      lambda: Double): Seq[(Long, Double)] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      // MUST be bit-identical to NativeExprs.CosineSim (sqrt(na)*sqrt(nb),
      // NOT sqrt(na*nb) — they differ by an ulp): the relevance term comes
      // from CosineSim and the diversity penalty from this function, so any
      // arithmetic skew between them turns exact MMR-value ties (e.g. a
      // query vector that is itself in the corpus) into ulp-noise argmax
      // picks instead of the documented lower-id tie-break.
      if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }

    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Int)]
    val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
    while (selected.length < k && remaining.nonEmpty) {
      var bestIdx = 0
      var bestVal = Double.NegativeInfinity
      var i = 0
      while (i < remaining.length) {
        val (id, emb, sim) = remaining(i)
        val maxSel =
          if (selected.isEmpty) 0.0
          else selected.map(s => cos(emb, cands(s._3)._2)).max
        val v = lambda * sim - (1 - lambda) * maxSel
        // deterministic tie-break: higher value, then lower id
        if (v > bestVal || (v == bestVal && id < remaining(bestIdx)._1)) {
          bestVal = v; bestIdx = i
        }
        i += 1
      }
      val chosen = remaining.remove(bestIdx)
      val origIdx = cands.indexWhere(_._1 == chosen._1)
      selected += ((chosen._1, chosen._3, origIdx))
    }
    selected.map { case (id, score, _) => (id, score) }.toSeq
  }

  /** Large-k face of [[mmr]] (SURVEY §2.4): the greedy selection runs
    * as k distributed argmax passes instead of a driver loop over a
    * collected candidate array. The running diversity penalty
    * `max sim(d, selected)` rides the candidate DataFrame as a carried
    * column (the [[graft.ops.SampleOps.kCenterSelect]] carry trick with
    * `greatest` instead of `least`): each step evaluates ONE
    * new-center cosine per candidate, takes the
    * TakeOrderedAndProject(1) argmax of λ·sim − (1−λ)·maxSel with the
    * same (value desc, id asc) tie-break as the driver loop, and
    * anti-selects the winner — O(k·fetchK) kernel evaluations, driver
    * state k·dim floats, no fetchK-row collect.
    *
    * Bit-equal to [[mmr]] by construction: relevance and penalty both
    * come from the same CosineSim kernel, the carried `greatest` chain
    * evaluates exactly the pairwise maxima the driver loop re-derives
    * (double max is exact), and the argmax ordering matches the loop's
    * scan rule (OpsSpec asserts equality on the FixtureSpec geometry
    * and on real embeddings). Use when k·fetchK rows stop fitting the
    * driver (reference k ≤ 20 never does; a curation pass at k in the
    * thousands would).
    */
  def mmrIterative(
      df: DataFrame,
      embCol: String,
      idCol: String,
      query: Array[Float],
      k: Int,
      lambda: Double = 0.5,
      fetchKOpt: Option[Int] = None,
      checkpointEvery: Int = 8,
      selectBatch: Int = 64
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    require(selectBatch >= 1, "selectBatch must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val fetchK = fetchKOpt.getOrElse(4 * k)
    val remaining = new Checkpoints.Carry(Checkpoints.checkpoint(
      cosineTopK(df, embCol, idCol, query, fetchK)
        .select(col(idCol).cast("long").as("_id"), col(embCol).as("_emb"),
          col("score"))
        .withColumn("_maxSel", lit(0.0))), checkpointEvery)
    // driver replica of the CosineSim kernel (the same bit-equality
    // contract the driver-loop mmr documents): per-side norms and the
    // dot each accumulate left-to-right in doubles, zero-norm → 0.0,
    // result = dot / (sqrt(na) * sqrt(nb))
    def cosDriver(a: Array[Float], b: Array[Float]): Double = {
      var na = 0.0; var nb = 0.0; var dot = 0.0; var i = 0
      while (i < a.length) { val v = a(i).toDouble; na += v * v; i += 1 }
      i = 0
      while (i < b.length) { val v = b(i).toDouble; nb += v * v; i += 1 }
      i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i); i += 1 }
      if (math.sqrt(na) == 0.0 || math.sqrt(nb) == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    var done = false
    // batched selection (r15, same certificate as kCenterSelect): one
    // action fetches the top-selectBatch frontier by the argmax order;
    // the driver greedily accepts within the batch (exact cosine
    // updates) while the updated best STRICTLY beats the last collected
    // row's value — MMR values only decrease as the selection grows, so
    // every uncollected point stays at or below that bound. The first
    // accept per batch is the collected global argmax (exact
    // unconditionally); selectBatch = 1 is the r14 sequential loop.
    while (selected.length < k && !done) {
      val v = lit(lambda) * col("score") - lit(1 - lambda) * col("_maxSel")
      val rows = remaining.df.withColumn("_v", v)
        .orderBy(col("_v").desc, col("_id").asc).limit(selectBatch)
        .select(col("_id"), col("_emb"), col("score"), col("_maxSel"),
          col("_v"))
        .collect()
      if (rows.isEmpty) done = true
      else {
        val certBound =
          if (rows.length < selectBatch) Double.NegativeInfinity
          else rows.last.getDouble(4)
        val candId = rows.map(_.getLong(0))
        val candEmb = rows.map(_.getSeq[Float](1).toArray)
        val candScore = rows.map(_.getDouble(2))
        val candMaxSel = rows.map(_.getDouble(3))
        val live = Array.fill(rows.length)(true)
        val accepted = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Array[Float])]
        var more = true
        var firstInBatch = true
        while (more && selected.length < k) {
          var bi = -1
          var bv = Double.NegativeInfinity
          var bid = Long.MaxValue
          var j = 0
          while (j < candId.length) {
            if (live(j)) {
              val cv = lambda * candScore(j) - (1 - lambda) * candMaxSel(j)
              if (cv > bv || (cv == bv && candId(j) < bid)) {
                bi = j; bv = cv; bid = candId(j)
              }
            }
            j += 1
          }
          if (bi < 0) more = false // batch exhausted
          else if (!firstInBatch && bv <= certBound) more = false
          else {
            live(bi) = false
            selected += ((candId(bi), candScore(bi)))
            accepted += ((candId(bi), candEmb(bi)))
            var j2 = 0
            while (j2 < candId.length) {
              if (live(j2)) {
                val ns = cosDriver(candEmb(j2), candEmb(bi))
                if (ns > candMaxSel(j2)) candMaxSel(j2) = ns
              }
              j2 += 1
            }
          }
          firstInBatch = false
        }
        if (accepted.nonEmpty && selected.length < k) {
          val keep = accepted.map(_._1)
            .foldLeft(lit(true))((acc, id) => acc && (col("_id") =!= id))
          remaining.advance(remaining.df.filter(keep)
            .withColumn("_maxSel", greatest(
              (col("_maxSel") +: accepted.toSeq.map { case (_, e) =>
                VectorFunctions.cosineToQuery(col("_emb"), e) }): _*)),
            weight = accepted.size)
        }
      }
    }
    remaining.close()
    selected.zipWithIndex
      .map { case ((id, score), rank) => (id, score, rank + 1) }
      .toSeq
      .toDF(idCol, "score", "mmr_rank")
  }
}
