package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions

/** Corpus-assembly operators for a training-data pipeline: benchmark
  * decontamination, deterministic splits, and weighted per-source
  * mixing. These are the steps that sit AROUND the dedup/quality
  * operators (DedupOps, TextFunctions) when a 100 TB corpus is turned
  * into a training set: remove eval-set leakage, carve train/val/test,
  * and resample sources to a target mixture.
  *
  * All three are deterministic by construction (content/id hashing, no
  * RNG), so the same corpus yields the same output on any cluster
  * layout — and each is DuckDB-oracle-checkable (q_decontaminate,
  * q_split_assign, q_mix_weighted).
  */
object CorpusOps {

  /** Deterministic hash bucket in [0, buckets) from a stable string
    * rendering of `id`. md5 is the cross-engine anchor (same choice as
    * the exact-dedup content hash): both Spark and DuckDB render the
    * same hex, so oracle SQL reproduces the exact assignment. First 8
    * hex chars = 32 bits — uniform, and `conv` stays well inside long
    * range.
    */
  /** INVARIANT (ADVICE r14): always non-negative — `pmod` of a
    * non-negative base. [[trainQualityClassifier]]'s fused gradient job
    * couples to this: its bias gradient rides the bucket-keyed
    * aggregation under sentinel bucket −1, which must never collide
    * with a real bucket id. A signed-hash rewrite here must keep the
    * sentinel disjoint (the `require` at the trainer guards it).
    */
  def hashBucket(id: Column, buckets: Int): Column =
    pmod(conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** Benchmark decontamination (the GPT-3/PaLM-style n-gram overlap
    * check): for each training document, count how many of its distinct
    * word n-grams appear anywhere in the eval corpus, and flag docs at
    * or above `minOverlap` as contaminated (to be dropped or audited).
    *
    * Scale shape: the eval side of any real decontamination run is
    * tiny relative to the corpus (benchmarks are MBs, the corpus is
    * TBs), so its distinct gram set is BROADCAST — the train side
    * streams through a map-side hash join with no shuffle of corpus
    * data; the only exchange is the per-doc overlap count, which
    * partial-aggregates to at most one row per (doc, partition) before
    * shuffling. Nothing here is proportional to corpus × eval.
    *
    * Output: one row per train document — (id, n_overlap: count of
    * distinct matched grams, contaminated). Zero-overlap docs are
    * retained (a decontamination pass must positively clear documents,
    * not just name the dirty ones).
    */
  def ngramContamination(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      minOverlap: Int = 3): DataFrame = {
    val evalGrams = eval
      .select(explode(HashFunctions.wordShingles(col(textCol), n)).as("gram"))
      .distinct()
    val matched = train
      .select(col(idCol), explode(HashFunctions.wordShingles(col(textCol), n))
        .as("gram"))
      .join(broadcast(evalGrams), Seq("gram"))
      // grams are distinct within a doc, so count(*) is distinct-matches
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
    train.select(col(idCol))
      .join(matched, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= minOverlap).as("contaminated"))
  }

  /** Bloom-prefiltered decontamination — [[ngramContamination]]'s scale
    * path for when the eval-side distinct gram SET outgrows a broadcast
    * (a full benchmark-suite union at 13-grams runs to GBs; its Bloom
    * is `numBits/8` bytes no matter how many grams it holds).
    *
    * Three stages, EXACT end to end:
    *   1. build a mergeable Bloom over the eval grams
    *      ([[graft.functions.BloomBuild]] — one sketch-sized row per
    *      partition shuffles, never the grams);
    *   2. probe each train document's grams map-side against the
    *      driver-constant filter (codegen expression, no shuffle, no
    *      join) and keep only bloom-hit grams — clean documents drop
    *      here, which at a real fpp is almost all of them;
    *   3. confirm the surviving (doc, gram) candidates with an exact
    *      equi-join against the eval grams. False positives add
    *      candidate rows to this join and are eliminated by it, so the
    *      output is row-identical to [[ngramContamination]] (same
    *      oracle). No broadcast hint on the confirm join: at test scale
    *      AQE broadcasts it, at 100 TB both sides shuffle on `gram` —
    *      bounded by true hits + fpp × corpus grams, the fpp knob.
    *
    * Sizing: ~10 bits per eval gram → ~1% fpp, ~20 bits → 0.04%
    * (k = numHashes ≈ 0.7 · bits/entry; 5–7 is right for those rates).
    */
  def ngramContaminationBloom(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      minOverlap: Int = 3,
      numBits: Int = 1 << 20,
      numHashes: Int = 5): DataFrame = {
    import graft.functions.BloomFunctions
    val grams = HashFunctions.wordShingles(col(textCol), n)
    val bloomBytes = eval
      .select(BloomFunctions.bloomBuild(grams, numBits, numHashes).as("bf"))
      .head().getAs[Array[Byte]](0)
    val bits = BloomFunctions.fromBytes(bloomBytes)
    // explode THEN row-filter (not an array `filter` HOF): Generate and
    // a scalar-predicate Filter both stay inside whole-stage codegen,
    // where a lambda HOF would fall back to interpreted eval per gram
    val cands = train
      .select(col(idCol), explode(grams).as("gram"))
      .filter(BloomFunctions.mightContain(col("gram"), bits, numHashes))
    val evalGrams = eval.select(explode(grams).as("gram")).distinct()
    val matched = cands.join(evalGrams, Seq("gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
    train.select(col(idCol))
      .join(matched, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= minOverlap).as("contaminated"))
  }

  /** Deterministic train/val/test assignment by id hash: bucket 0–99,
    * `train` below `trainPct`, `val` in the next `valPct`, `test`
    * above. Pure per-row expression — no shuffle, no state, and the
    * assignment is stable under corpus growth (a document's split never
    * changes when other documents are added, the property random
    * sampling lacks and incremental pipelines need).
    *
    * Output: input columns + (split_bucket, split).
    */
  def hashSplit(
      df: DataFrame,
      idCol: String,
      trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    val b = hashBucket(col(idCol), 100)
    df.withColumn("split_bucket", b)
      .withColumn("split",
        when(col("split_bucket") < trainPct, lit("train"))
          .when(col("split_bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
  }

  /** Model-based quality scoring (the DCLM/fineweb-classifier step): a
    * hashed-bucket linear model over tokens — each token hashes to one
    * of `buckets` feature buckets, the model is a (bucket, weight)
    * table, and a document scores sigmoid(mean bucket weight + bias).
    * The weights table is the LEARNED artifact (trained offline, like a
    * fasttext quality classifier); this operator is the inference pass.
    *
    * Scale shape: the model broadcasts (fasttext-scale is a few M
    * buckets — megabytes), tokens hash map-side, and the per-doc mean
    * partial-aggregates before its one doc-keyed shuffle. No UDFs, no
    * per-row model evaluation outside codegen.
    *
    * Zero-token documents score sigmoid(bias) — the model's prior, not
    * null. Tokens hashing to buckets absent from the weights table
    * contribute weight 0 (an L1-pruned model omits its zero rows).
    *
    * Output: (id, n_tok, score).
    */
  def linearQualityScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      weights: DataFrame,
      buckets: Int,
      bias: Double = 0.0): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val scored = df
      .select(col(idCol),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("token"))
      .withColumn("bucket", hashBucket(col("token"), buckets))
      .join(broadcast(weights.select(col("bucket"), col("weight"))),
        Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"),
        sum(coalesce(col("weight"), lit(0.0))).as("wsum"))
    df.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        (lit(1.0) / (lit(1.0) +
          exp(-(coalesce(col("wsum") / col("n_tok"), lit(0.0)) + lit(bias)))))
          .as("score"))
  }

  /** TRAINING for [[linearQualityScore]]'s model — the other half of
    * the DCLM/fineweb classifier step: full-batch logistic-regression
    * gradient descent over the hashed-bucket features, distributed, and
    * deterministic enough to replay in SQL.
    *
    * Features are exactly what inference consumes: f(doc, bucket) =
    * bucket token count / doc token count, so score = sigmoid(Σ f·w +
    * bias) = sigmoid(mean bucket weight + bias). Each of the `iters`
    * rounds: (1) one doc-keyed aggregation computes every doc's
    * probability under the current broadcast weights; (2) the feature
    * table joins those probabilities map-side (both sides are
    * hash-partitioned by doc — the feature table is repartitioned ONCE
    * and checkpointed, the probability table comes out of a doc-keyed
    * aggregation, so the join reuses the partitioning, PageRank-style);
    * (3) a bucket-keyed aggregation of (p−y)·f yields the gradient —
    * AT MOST `buckets` rows, collected to the driver where the weight
    * map updates and re-broadcasts. Weights and bias are QUANTIZED to
    * 6 dp after every update (the IVF-centroid precedent): iterates are
    * then bit-reproducible across partitionings and the DuckDB oracle
    * replays every round exactly.
    *
    * Scale: corpus pays one tokenize+count pass up front, then two
    * keyed aggregations per round; the model side always broadcasts
    * (fasttext-scale buckets = megabytes). Driver state is the weight
    * vector, never the corpus.
    *
    * Output: (bucket, weight) — learned weights for every bucket seen
    * in the corpus, plus the bias as bucket = −1.
    */
  def trainQualityClassifier(
      df: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      buckets: Int,
      iters: Int = 6,
      lr: Double = 0.5): DataFrame = {
    require(buckets > 0 && iters > 0 && lr > 0, "invalid hyperparameters")
    val spark = df.sparkSession
    import spark.implicits._
    val p = spark.sessionState.conf.numShufflePartitions
    // HALF_UP to match SQL round(x, 6) exactly (math.rint is half-even)
    def q6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    val labels = df.select(col(idCol).as("doc"),
        col(labelCol).cast("double").as("y"))
      .repartition(p, col("doc")).localCheckpoint()
    val n = labels.count().toDouble
    val feat = df
      .select(col(idCol).as("doc"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("token"))
      .withColumn("bucket", hashBucket(col("token"), buckets))
      .groupBy(col("doc"), col("bucket")).agg(count(lit(1)).as("cnt"))
      .withColumn("f", col("cnt") /
        sum(col("cnt")).over(Window.partitionBy(col("doc"))))
      .select(col("doc"), col("bucket"), col("f"))
      .repartition(p, col("doc")).localCheckpoint()

    var w: Map[Long, Double] =
      feat.select(col("bucket")).distinct().collect()
        .map(r => r.getLong(0) -> 0.0).toMap
    // the fused gradient job below keys the bias gradient on sentinel
    // bucket −1; a real bucket at −1 (a signed-hash hashBucket rewrite)
    // would silently merge its gradient with the bias — fail loudly
    require(w.keys.forall(_ >= 0L),
      "trainQualityClassifier: bucket ids must be non-negative (bias sentinel = -1)")
    var bias = 0.0
    var it = 0
    while (it < iters) {
      val wDf = broadcast(w.toSeq.toDF("bucket", "w"))
      val raw = feat.join(wDf, Seq("bucket"))
        .groupBy(col("doc")).agg(sum(col("f") * col("w")).as("raw"))
      val probs = labels.join(raw, Seq("doc"), "left")
        .select(col("doc"), col("y"),
          (lit(1.0) / (lit(1.0) +
            exp(-(coalesce(col("raw"), lit(0.0)) + lit(bias))))).as("pr"))
      // one combined gradient job (r14): the bias gradient Σ(pr−y)/n is
      // exactly a weight gradient with f ≡ 1, so it rides the same
      // bucket-keyed aggregation under the sentinel bucket −1 (the id
      // the output row already uses for bias) — probs is evaluated once
      // per iteration instead of twice and the per-iteration action
      // count drops from 2 to 1
      val grads = feat.join(probs, Seq("doc"))
        .select(col("bucket"), ((col("pr") - col("y")) * col("f")).as("_gc"))
        .unionByName(probs.select(lit(-1L).as("bucket"),
          (col("pr") - col("y")).as("_gc")))
        .groupBy(col("bucket"))
        .agg((sum(col("_gc")) / n).as("g"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      w = w.map { case (b, v) => b -> q6(v - lr * grads.getOrElse(b, 0.0)) }
      bias = q6(bias - lr * grads.getOrElse(-1L, 0.0))
      it += 1
    }
    (w.toSeq :+ (-1L -> bias)).toDF("bucket", "weight")
  }

  /** Corpus vocabulary statistics — the tokenizer-training prep step:
    * the top-`k` tokens by corpus frequency, with per-token term
    * frequency and document frequency. Deterministic under ties
    * (count desc, then token asc), so the top-k row SET is unambiguous
    * and oracle-checkable.
    *
    * Scale shape: one token-keyed aggregation (tf partial-aggregates
    * map-side; df counts distinct ids per token — Spark plans the
    * distinct via an expand over (token, id), still token-keyed), then
    * a TakeOrderedAndProject top-k (per-partition heaps, driver merges
    * k rows). No global window, no all-token sort.
    *
    * Output: (token, tf, doc_freq), k rows.
    */
  def vocabTopK(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    df.select(col(idCol),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"),
        countDistinct(col(idCol)).as("doc_freq"))
      .orderBy(col("tf").desc, col("token"))
      .limit(k)
  }

  /** Per-document TF-IDF keywords — the classic corpus-statistics
    * keyword extractor: each document's top `topK` tokens by
    * tf · ln(N / df), where df is the token's document frequency and N
    * the corpus size. The raw (unsmoothed) idf, so corpus-universal
    * tokens score exactly 0 and drop to the rank floor.
    *
    * Scale shape: one (doc, token)-keyed tf aggregation (map-side
    * combinable), one token-keyed df aggregation over the tf rows (the
    * type-level table, not the corpus), the one-row corpus count
    * broadcast by crossJoin, then a doc-partitioned rank window whose
    * partitions are bounded by tokens-per-document — no global window,
    * no vocabulary sort. Scores round to 6 decimals BEFORE the rank
    * ordering so the top-k cut is engine-stable (token asc breaks ties).
    *
    * Output: (doc, rk, token, tf, doc_freq, tfidf), topK rows per doc,
    * ordered (doc, rk).
    */
  def tfidfKeywords(
      df: DataFrame,
      idCol: String,
      textCol: String,
      topK: Int): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val tf = df.select(col(idCol).as("doc"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("doc"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("doc_freq"))
    val n = df.agg(count(lit(1)).cast("double").as("_n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc"))
      .orderBy(col("tfidf").desc, col("token").asc)
    tf.join(dfreq, Seq("token")).crossJoin(n)
      .select(col("doc"), col("token"), col("tf"), col("doc_freq"),
        round(col("tf").cast("double") *
          log(col("_n") / col("doc_freq").cast("double")), 6).as("tfidf"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("doc"), col("rk"), col("token"), col("tf"),
        col("doc_freq"), col("tfidf"))
      .orderBy(col("doc"), col("rk"))
  }

  /** Collocation extraction by pointwise mutual information over
    * adjacent token pairs: PMI(w1,w2) = ln( P(w1,w2) / (P(w1)·P(w2)) )
    * with the joint from bigram counts (c12/NB) and the marginals from
    * unigram counts (c/NT). `minCount` floors the bigram count (PMI's
    * classic failure mode is rare-pair noise — two hapaxes that
    * co-occur once score the corpus maximum), topK rows by (pmi desc,
    * pair asc), pmi round6 so float-division order is engine-stable.
    *
    * Scale shape: bigrams are materialized IN-PROJECTION per document
    * (zip of the token array with its own tail — the token stream is
    * never self-joined), so the corpus pays one bigram-keyed count agg
    * and one unigram-keyed count agg, both map-side combinable; the
    * marginal tables are type-level and join back broadcast-small; the
    * two totals are one-row crossJoins. TakeOrdered bounds the output.
    *
    * Output: (w1, w2, c12, pmi), topK rows.
    */
  def pmiCollocations(
      df: DataFrame,
      textCol: String,
      minCount: Long,
      topK: Int): DataFrame = {
    require(minCount >= 1 && topK >= 1, "minCount and topK must be >= 1")
    val toks = df.select(
      graft.functions.TextFunctions.tokens(col(textCol)).as("_t"))
    val uni = toks.select(explode(col("_t")).as("w"))
    val uc = uni.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nt = uni.agg(count(lit(1)).cast("double").as("_nt"))
    // slice lengths clamp at 0 so empty/one-token docs yield an empty
    // bigram array (a negative slice length is a runtime error)
    val bgLen = greatest(lit(0), size(col("_t")) - 1)
    val bg = toks.select(explode(zip_with(
        slice(col("_t"), lit(1), bgLen),
        slice(col("_t"), lit(2), bgLen),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("_b"))
      .select(col("_b.w1").as("w1"), col("_b.w2").as("w2"))
    val bc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val nb = bg.agg(count(lit(1)).cast("double").as("_nb"))
    bc.filter(col("c12") >= minCount)
      .join(broadcast(uc.select(col("w").as("w1"), col("c").as("_c1"))),
        Seq("w1"))
      .join(broadcast(uc.select(col("w").as("w2"), col("c").as("_c2"))),
        Seq("w2"))
      .crossJoin(nt).crossJoin(nb)
      .select(col("w1"), col("w2"), col("c12"),
        round(log(col("c12").cast("double") * col("_nt") * col("_nt") /
          (col("_nb") * col("_c1").cast("double") *
            col("_c2").cast("double"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Vocabulary coverage curve — the tokenizer-eval metric: for each k
    * in `ks`, the fraction of corpus token OCCURRENCES covered by the
    * top-k vocabulary (freq desc, token asc ties) and the implied OOV
    * rate. Answers "how big must the vocab be" before training a
    * tokenizer, and profiles an existing one's ceiling.
    *
    * Scale shape: ONE token-keyed count aggregation over the corpus
    * (map-side combinable — the same only-corpus-sized-shuffle contract
    * as [[vocabTopK]]/[[bpeMerges]]), then TakeOrdered(max ks) pulls
    * the bounded top slice to the driver and the cumulative sums run
    * there — no global rank window over the vocabulary (which would
    * sort a 100-TB corpus's billion-type vocab on one reducer).
    *
    * Output: (k, covered_tokens, total_tokens, coverage, oov_rate),
    * one row per k; ratios are full-precision (callers round).
    */
  def vocabCoverage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), "ks must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val freqs = df.select(
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint() // one corpus pass serves top slice AND total
    val total = freqs.agg(sum(col("tf"))).head().getLong(0)
    val top = freqs.orderBy(col("tf").desc, col("token").asc)
      .limit(ks.max).select(col("tf")).as[Long].collect()
    val cum = top.scanLeft(0L)(_ + _)
    ks.sorted.map { k =>
      val covered = cum(math.min(k, top.length))
      val cov = if (total == 0L) 0.0 else covered.toDouble / total
      (k, covered, total, cov, if (total == 0L) 0.0 else 1.0 - cov)
    }.toDF("k", "covered_tokens", "total_tokens", "coverage", "oov_rate")
  }

  /** Distributed BPE tokenizer training — the canonical next step after
    * [[vocabTopK]] for pretraining prep: learn `numMerges` byte-pair
    * merges from the corpus token stream.
    *
    * Shape (the one that holds at 100 TB): the CORPUS is touched exactly
    * once — a token-keyed word-frequency aggregation (map-side combine;
    * the only corpus-sized shuffle). All BPE statistics live in that
    * (word, freq) table, which is vocabulary-sized (distinct words ≪
    * corpus tokens), so the merge loop iterates over IT, never the
    * corpus: each of the `numMerges` rounds is one adjacent-pair count
    * aggregation weighted by word freq (a vocabulary-sized job), a
    * driver pick of the max pair with DETERMINISTIC tie-break
    * (count desc, then left asc, right asc — byte order), and one
    * per-row native merge kernel pass ([[graft.functions.GraftHash
    * .bpeMerge]]: left-to-right, non-overlapping — the Sennrich
    * contract), localCheckpointed so plan depth stays flat across
    * iterations.
    *
    * No end-of-word marker: merges are intra-word over the canonical
    * token alphabet ([[graft.functions.TextFunctions.tokens]]) — a
    * spec'd simplification the oracle replays exactly.
    *
    * Output: (merge_rank, l_sym, r_sym, merged, pair_count) — one row
    * per learned merge in training order; stops early if no pair
    * remains.
    */
  def bpeMerges(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numMerges: Int): DataFrame = {
    import df.sparkSession.implicits._
    mergeTraining(df, textCol, numMerges, wordpiece = false)
      .map { case (k, l, r, cnt, _) => (k, l, r, l + r, cnt) }
      .toDF("merge_rank", "l_sym", "r_sym", "merged", "pair_count")
  }

  /** WordPiece-style merge training — the same loop as [[bpeMerges]]
    * with the WordPiece pick criterion: maximize the association score
    * pair_count / (freq(l)·freq(r)) (the likelihood gain of merging
    * the pair under a unigram model) instead of the raw pair count, so
    * rare-but-strongly-bound pairs merge before frequent-but-loose
    * ones. Per round that adds ONE symbol-occurrence frequency
    * aggregation — still over the vocabulary-sized word table, never
    * the corpus. All score inputs are exact integers < 2^53, so the
    * score is a single correctly-rounded IEEE division — bit-identical
    * in any engine, which is what makes the argmax (and therefore the
    * whole merge sequence) deterministic and SQL-replayable; bit-equal
    * scores tie-break lexically (l asc, r asc).
    *
    * Encoding with the learned table is [[bpeEncode]] with these
    * merges — merge-sequence application, the same zero-shuffle kernel.
    *
    * Output: (merge_rank, l_sym, r_sym, merged, pair_count, score).
    */
  def wordpieceMerges(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numMerges: Int): DataFrame = {
    import df.sparkSession.implicits._
    mergeTraining(df, textCol, numMerges, wordpiece = true)
      .map { case (k, l, r, cnt, score) => (k, l, r, l + r, cnt, score) }
      .toDF("merge_rank", "l_sym", "r_sym", "merged", "pair_count", "score")
  }

  /** Shared merge-training loop (see [[bpeMerges]] for the scale-shape
    * contract): word-frequency table built once, per-round pair agg +
    * deterministic argmax + native merge kernel. `wordpiece` switches
    * the pick from raw count to the association score.
    */
  private def mergeTraining(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      wordpiece: Boolean): Seq[(Long, String, String, Long, Double)] = {
    require(numMerges > 0, "numMerges must be positive")
    val words = new Checkpoints.Carry(Checkpoints.checkpoint(df
      .select(explode(graft.functions.TextFunctions.tokens(col(textCol)))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      // filter guards the regex-split's trailing empty slot (Java
      // split-with-negative-limit semantics); symbols are never empty
      .select(col("freq"),
        filter(split(col("word"), ""), s => length(s) > 0).as("syms"))))
    val merges = Seq.newBuilder[(Long, String, String, Long, Double)]
    var exhausted = false
    var k = 0
    while (k < numMerges && !exhausted) {
      def pairRows = words.df
        .select(col("freq"),
          explode(zip_with(col("syms"),
            slice(col("syms"), lit(2), greatest(lit(0), size(col("syms")) - 1)),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .filter(col("p.r").isNotNull)
        .select(col("p.l").as("l"), col("p.r").as("r"), col("freq"))
      val best =
        if (!wordpiece)
          pairRows
            .groupBy(col("l"), col("r"))
            .agg(sum(col("freq")).as("cnt"))
            .withColumn("score", lit(-1.0))
            .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
            .limit(1).select(col("l"), col("r"), col("cnt"), col("score"))
            .collect()
        else {
          // fused pair + symbol frequency aggregation (r14): symbol
          // rows ride the SAME exchange as pair rows under a null-`r`
          // marker, so a round pays one shuffle instead of two (the
          // three consumers below share the exchange via
          // ReuseExchange); counts are the same exact integers
          val counts = pairRows
            .unionByName(words.df.select(explode(col("syms")).as("l"),
              lit(null).cast("string").as("r"), col("freq")))
            .groupBy(col("l"), col("r"))
            .agg(sum(col("freq")).as("cnt"))
          val pairs = counts.filter(col("r").isNotNull)
          val symFreq = counts.filter(col("r").isNull)
            .select(col("l").as("s"), col("cnt").as("sf"))
          pairs
            .join(symFreq.select(col("s").as("l"), col("sf").as("lf")), Seq("l"))
            .join(symFreq.select(col("s").as("r"), col("sf").as("rf")), Seq("r"))
            .withColumn("score",
              col("cnt").cast("double") / (col("lf") * col("rf")).cast("double"))
            .orderBy(col("score").desc, col("l").asc, col("r").asc)
            .limit(1).select(col("l"), col("r"), col("cnt"), col("score"))
            .collect()
        }
      if (best.isEmpty) exhausted = true
      else {
        val row = best.head
        val (l, r, cnt) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += ((k.toLong, l, r, cnt, row.getDouble(3)))
        words.advance(words.df.select(col("freq"),
          graft.functions.TextFunctions.bpeMergeStep(col("syms"), l, r).as("syms")))
        k += 1
      }
    }
    words.close()
    merges.result()
  }

  /** BPE ENCODING with a learned merge table ([[bpeMerges]] output) —
    * the apply side of tokenizer training: every document's canonical
    * tokens are char-split and run through the merge sequence in rank
    * order, all in ONE per-row native kernel pass
    * ([[graft.functions.GraftHash.bpeEncodeDoc]]). The merge table is a
    * driver constant, so encoding is a ZERO-SHUFFLE map over the corpus
    * — the shape a 100 TB tokenization pass must have (train once on
    * the word table, broadcast the merges in the closure, stream the
    * corpus through).
    *
    * Output: (idCol, subwords array<string>) — subword units in token
    * order; token boundaries are never merged across.
    */
  def bpeEncode(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    df.select(col(idCol),
      graft.functions.TextFunctions.bpeEncode(
        graft.functions.TextFunctions.tokens(col(textCol)), merges)
        .as("subwords"))

  /** Unigram-LM tokenizer training (the SentencePiece unigram model,
    * Kudo 2018 — public literature) via deterministic hard-EM,
    * completing the canonical trainer trio next to [[bpeMerges]] and
    * [[wordpieceMerges]].
    *
    *  1. Seed: every code-point substring of length ≤ `maxPieceLen` of
    *     the corpus words, counted with word-frequency multiplicity
    *     (pure explode/substring builtins over the WORD table); keep
    *     the `seedFactor`·`vocabSize` best multi-char pieces plus every
    *     single character (coverage).
    *  2. `emRounds`× hard-EM: Viterbi-segment each distinct word under
    *     the current piece log-probs (ONE zero-shuffle pass of the
    *     [[graft.functions.NativeExprs.UnigramEncode]] kernel over the
    *     word table — the model rides the expression as a driver
    *     constant exactly like the BPE merge table), re-count pieces by
    *     word frequency, drop multi-char pieces the E-step stopped
    *     using, re-normalize.
    *  3. Final prune to `vocabSize`: all single chars + the best
    *     multi-char pieces by (count desc, piece asc).
    *
    * Scale shape: the CORPUS is touched exactly once (the word-
    * frequency agg); everything after runs over the vocabulary-sized
    * word table, so per-round cost is independent of corpus size (the
    * same Zipf argument as [[bpeMerges]]). Driver state is the piece
    * table — `seedFactor`·`vocabSize` bounded, the model constant any
    * trainer must hold. Determinism: integer counts, explicit
    * (count desc, piece asc) tie-breaks, and the kernel's longer-
    * trailing-piece tie rule — partitioning-invariant end to end
    * (asserted in TokenizerSpec).
    *
    * Output: (rank, piece, freq, logp) — EM-attributed frequency and
    * final re-normalized ln-prob, rank by (freq desc, piece asc).
    */
  def unigramTrain(
      df: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int,
      maxPieceLen: Int = 4,
      emRounds: Int = 2,
      seedFactor: Int = 4): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    require(maxPieceLen >= 1, "maxPieceLen must be >= 1")
    require(emRounds >= 1, "emRounds must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._

    val words = unigramWords(df, textCol)
    val (model, singleSet) =
      unigramEmModel(words, vocabSize, maxPieceLen, emRounds, seedFactor)

    val keptSingles = model.filter(m => singleSet.contains(m._1))
    val keptMulti = model.filterNot(m => singleSet.contains(m._1))
      .take(math.max(0, vocabSize - keptSingles.size))
    val finalModel = (keptSingles ++ keptMulti).sortBy { case (p, c) => (-c, p) }
    val (_, fl) = unigramRenorm(finalModel)
    finalModel.zip(fl).zipWithIndex
      .map { case (((p, c), lp), i) => (i + 1L, p, c, lp) }
      .toDF("rank", "piece", "freq", "logp")
  }

  /** The seed + `emRounds`× hard-EM core of [[unigramTrain]], returning
    * (model counts sorted by (-cnt, piece), the seed single-char set).
    * Shared by the trainer and [[graft.tools.UnigramRoundExport]]
    * (which freezes a round's output model for the chained
    * q_unigram_train_round/_round2 pinned replays), so tool and
    * trainer cannot drift.
    */
  private[graft] def unigramEmModel(
      words: DataFrame,
      vocabSize: Int,
      maxPieceLen: Int,
      emRounds: Int,
      seedFactor: Int): (Seq[(String, Long)], Set[String]) = {
    val spark = words.sparkSession
    import spark.implicits._
    val (seedSingles, seedMulti) =
      unigramSeedModel(words, vocabSize, maxPieceLen, seedFactor)
    var model: Seq[(String, Long)] =
      (seedSingles ++ seedMulti).sortBy { case (p, c) => (-c, p) }
    val singleSet = seedSingles.map(_._1).toSet
    var r = 0
    while (r < emRounds) {
      val (pieces, logps) = unigramRenorm(model)
      val counts = words
        .select(col("freq"),
          explode(graft.functions.TextFunctions.unigramEncode(
            array(col("word")), pieces, logps)).as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
        .as[(String, Long)].collect().toMap
      // singles survive at count >= 1 (coverage floor); multi-char
      // pieces live on E-step usage alone
      model = model.flatMap { case (p, _) =>
        val c = counts.getOrElse(p, 0L)
        if (singleSet.contains(p)) Some((p, math.max(c, 1L)))
        else if (c > 0L) Some((p, c))
        else None
      }.sortBy { case (p, c) => (-c, p) }
      r += 1
    }
    (model, singleSet)
  }

  /** Collected seed model of [[unigramTrain]]: (singles, topMulti) —
    * the exact driver state round 1 starts from. Shared by the trainer
    * and [[graft.tools.UnigramSeedExport]] (which freezes it for the
    * q_unigram_train_round pinned replay), so tool and trainer cannot
    * drift.
    */
  private[graft] def unigramSeedModel(
      words: DataFrame,
      vocabSize: Int,
      maxPieceLen: Int,
      seedFactor: Int): (Seq[(String, Long)], Seq[(String, Long)]) = {
    val spark = words.sparkSession
    import spark.implicits._
    val subs = unigramSeedCounts(words, maxPieceLen)
    val seedMulti = subs.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece").asc)
      .limit(seedFactor * vocabSize)
      .as[(String, Long)].collect().toSeq
    val singles = subs.filter(length(col("piece")) === 1)
      .as[(String, Long)].collect().toSeq
    (singles, seedMulti)
  }

  /** Count → (pieces, ln-prob) re-normalization of [[unigramTrain]]. */
  private[graft] def unigramRenorm(
      cs: Seq[(String, Long)]): (Seq[String], Seq[Double]) = {
    val total = math.max(1L, cs.map(_._2).sum).toDouble
    (cs.map(_._1), cs.map(c => math.log(c._2.toDouble / total)))
  }

  /** Corpus word-frequency table — the ONE corpus scan every unigram
    * stage shares; localCheckpointed so seeding/EM re-read the
    * vocabulary-sized word table, never the corpus.
    */
  private[graft] def unigramWords(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(graft.functions.TextFunctions.tokens(col(textCol)))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .localCheckpoint()

  /** Seeding substring counts of [[unigramTrain]]: every code-point
    * substring of length ≤ `maxPieceLen` of the corpus words, counted
    * with word-frequency multiplicity — two nested ordinal explodes +
    * the code-point substring builtin, no UDF. Output (piece, cnt).
    */
  private[graft] def unigramSeedCounts(
      words: DataFrame, maxPieceLen: Int): DataFrame =
    words
      .withColumn("n", length(col("word")))
      .select(col("word"), col("freq"), col("n"),
        explode(sequence(lit(1), col("n"))).as("s"))
      .select(col("freq"),
        expr(s"substring(word, s, least($maxPieceLen, n - s + 1))").as("win"))
      .select(col("freq"),
        explode(expr("transform(sequence(1, length(win)), l -> substring(win, 1, l))"))
          .as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      .localCheckpoint()

  /** The seed VOCABULARY of [[unigramTrain]] as a DataFrame: every
    * single character plus the `seedFactor`·`vocabSize` best multi-char
    * substrings by (count desc, piece asc) — exactly the model state the
    * trainer's round 1 starts from, exposed so the seeding pass is
    * oracle-gated end-to-end (q_unigram_seed replays the whole thing in
    * pure SQL: tokenize, substring-explode, count, rank, cut).
    */
  def unigramSeed(
      df: DataFrame,
      textCol: String,
      vocabSize: Int,
      maxPieceLen: Int = 4,
      seedFactor: Int = 4): DataFrame = {
    val subs = unigramSeedCounts(unigramWords(df, textCol), maxPieceLen)
    subs.filter(length(col("piece")) === 1)
      .unionByName(subs.filter(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece").asc)
        .limit(seedFactor * vocabSize))
  }

  /** Apply side of [[unigramTrain]]: Viterbi-encode every document with
    * the learned vocabulary — a zero-shuffle per-row kernel pass, the
    * 100 TB tokenization shape (train on the word table once, stream
    * the corpus through the broadcast-in-closure model).
    */
  def unigramEncodeDocs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      pieces: Seq[String],
      logps: Seq[Double]): DataFrame =
    df.select(col(idCol),
      graft.functions.TextFunctions.unigramEncode(
        graft.functions.TextFunctions.tokens(col(textCol)), pieces, logps)
        .as("pieces"))

  /** Fixed-size token chunking with overlap — the RAG / context-window
    * prep step ([[graft.ops.ShardOps.packSequences]] is the
    * no-overlap, doc-spanning packing for pretraining; this is the
    * per-document sliding window for retrieval corpora and
    * long-doc windowed training). Chunk k covers token span
    * [k·stride, min(k·stride+chunkSize, n)), k = 0 ..
    * ceil(max(0, n−chunkSize)/stride) — the last chunk is the first
    * whose end reaches the doc end, so no fully-redundant tail chunks;
    * zero-token docs emit nothing. All integer arithmetic →
    * deterministic and SQL-replayable.
    *
    * Scale shape: one per-row explode bounded by n/stride chunks —
    * zero shuffle, fuses with the feeding scan; the canonical-token
    * join makes chunk_text reproducible from the tokenizer contract.
    *
    * Output: (idCol, chunk_id, start_tok, end_tok, chunk_text).
    */
  def chunkDocuments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int,
      stride: Int): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    require(stride > 0 && stride <= chunkSize,
      "stride must be in [1, chunkSize]")
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    df
      .select(col(idCol), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .withColumn("__nchunks", expr(
        s"CAST(1 + (greatest(0, __n - $chunkSize) + ${stride - 1}) div $stride AS BIGINT)"))
      .withColumn("chunk_id",
        explode(sequence(lit(0L), col("__nchunks") - 1L)))
      .withColumn("start_tok", col("chunk_id") * stride)
      .withColumn("end_tok",
        least(col("start_tok") + chunkSize, col("__n").cast("long")))
      .withColumn("chunk_text",
        array_join(slice(col("__toks"), (col("start_tok") + 1).cast("int"),
          (col("end_tok") - col("start_tok")).cast("int")), " "))
      .drop("__toks", "__n", "__nchunks")
  }

  /** T5/UL2-style span corruption — turn clean documents into
    * (input, target) denoising pairs: tokens are masked i.i.d. at
    * `rate` by a seeded hash of (doc, position), adjacent masked
    * tokens merge into spans, span k is replaced by the sentinel
    * `<extra_id_k>` in the input, and the target lists each sentinel
    * followed by the tokens it hides. Fully deterministic (no RNG
    * state): the same (seed, doc, pos) always masks the same tokens,
    * so the objective data is reproducible run-to-run and
    * oracle-checkable — the property a distributed pretraining-prep
    * pass needs and ad-hoc RNG masking lacks.
    *
    * Scale shape: one token explode, two doc-keyed windows (lag for
    * span starts, running sum for span ids — key-partitioned only),
    * one doc-keyed ordered rebuild agg. Same shuffle structure as
    * sessionization; a giant doc is the only hotspot and falls to AQE
    * like every keyed window here.
    *
    * Output: (idCol, input_text, target_text, n_spans, n_masked);
    * token-less docs emit empty strings and zeros.
    */
  def spanCorruption(
      df: DataFrame,
      idCol: String,
      textCol: String,
      rate: Double = 0.15,
      seed: String = "t5"): DataFrame = {
    require(rate > 0.0 && rate < 1.0, "rate must be in (0, 1)")
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    val e = df
      .select(col(idCol).as("doc"), posexplode(toks).as(Seq("pos", "tok")))
      .withColumn("masked",
        hashBucket(concat(lit(s"$seed:"), col("doc").cast("string"),
          lit(":"), col("pos").cast("string")), 10000) <
          (lit(rate) * 10000).cast("long"))
    val w = Window.partitionBy(col("doc")).orderBy(col("pos"))
    val s = e
      .withColumn("strt",
        col("masked") && !coalesce(lag(col("masked"), 1).over(w), lit(false)))
      .withColumn("sid",
        sum(when(col("strt"), 1L).otherwise(0L)).over(w) - 1L)
    val sentinel = concat(lit("<extra_id_"), col("sid").cast("string"), lit(">"))
    val p = s.select(col("doc"), col("pos"), col("masked"), col("sid"),
      when(!col("masked"), col("tok"))
        .when(col("strt"), sentinel).as("ip"),
      when(col("strt"), concat(sentinel, lit(" "), col("tok")))
        .when(col("masked"), col("tok")).as("tp"))
    def joined(piece: Column): Column =
      array_join(transform(
        sort_array(collect_list(when(piece.isNotNull,
          struct(col("pos"), piece.as("s"))))),
        x => x.getField("s")), " ")
    val built = p.groupBy(col("doc")).agg(
      joined(col("ip")).as("input_text"),
      joined(col("tp")).as("target_text"),
      (coalesce(max(when(col("masked"), col("sid"))), lit(-1L)) + 1L)
        .as("n_spans"),
      sum(col("masked").cast("long")).as("n_masked"))
    df.select(col(idCol).as("doc"))
      .join(built, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("input_text"), lit("")).as("input_text"),
        coalesce(col("target_text"), lit("")).as("target_text"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"))
  }

  /** Weighted corpus mixing: deterministically subsample each stratum
    * (source/domain) to its target rate. `rates` is a (stratum, rate)
    * table — rate in [0, 1] is the fraction of that stratum's documents
    * to keep; strata absent from `rates` are dropped (an explicit
    * mixture spec names everything it wants).
    *
    * The keep decision is `hashBucket(id, 10000) < rate * 10000` —
    * per-row, shuffle-free (the rates table broadcasts), reproducible,
    * and monotone in rate: raising a source's weight strictly grows its
    * sample, so mixture iterations reuse everything already selected
    * (the property that lets a 100 TB pipeline re-mix without
    * re-materializing the corpus).
    *
    * Output: input columns + keep_bucket, filtered to the kept rows.
    */
  def weightedMix(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      rates: DataFrame): DataFrame = {
    val r = rates.select(col(strataCol), col("rate"))
    df.join(broadcast(r), Seq(strataCol))
      .withColumn("keep_bucket", hashBucket(col(idCol), 10000))
      .filter(col("keep_bucket") < (col("rate") * 10000).cast("long"))
      .drop("rate")
  }

  /** Epoch-aware mixing: [[weightedMix]] generalized to rates ABOVE 1 —
    * the Pile/LLaMA-style mixture spec where a high-quality source is
    * UPSAMPLED (rate 2.5 = every doc twice, half the docs a third
    * time). Each doc emits floor(rate) whole copies plus one more when
    * its keep-bucket falls under the fractional part (the SAME
    * hash-bucket rule as weightedMix, so rate ≤ 1 degenerates to
    * exactly weightedMix's selection), tagged `epoch_copy` (1-based)
    * so downstream shuffling can spread copies across the training
    * order. Monotone in rate: raising a source's rate never removes a
    * (doc, copy) already emitted — re-mixes are supersets, the same
    * re-materialization-free property as weightedMix.
    *
    * Scale shape: broadcast rate table, per-row copy-count arithmetic,
    * one explode bounded by ceil(rate) — zero shuffle, fuses with the
    * feeding scan.
    */
  def epochMix(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      rates: DataFrame): DataFrame = {
    val r = rates.select(col(strataCol), col("rate"))
    df.join(broadcast(r), Seq(strataCol))
      .withColumn("keep_bucket", hashBucket(col(idCol), 10000))
      .withColumn("n_copies",
        floor(col("rate")).cast("long") +
          when(col("keep_bucket") <
            ((col("rate") - floor(col("rate"))) * 10000).cast("long"), 1L)
            .otherwise(0L))
      .filter(col("n_copies") > 0)
      .withColumn("epoch_copy", explode(sequence(lit(1L), col("n_copies"))))
      .drop("rate")
  }

  /** Temperature-based mixture rates — the mT5/XLM-R "α sampling" spec
    * that feeds [[weightedMix]]/[[epochMix]]: sample stratum s with
    * probability ∝ n_s^α, so α = 1 is natural proportions, α → 0 is
    * uniform-over-strata, and the usual α ≈ 0.3–0.7 upsamples small
    * (low-resource) strata at the big strata's expense. Solving
    * Σ rate_s · n_s = totalBudget with rate_s · n_s ∝ n_s^α gives
    *
    *   rate_s = totalBudget · n_s^(α−1) / Σ_t n_t^α
    *
    * — rates may exceed 1 (upsampling), which is exactly what
    * [[epochMix]]'s whole-copies + fractional-tail rule consumes.
    * `weightCol` weights each row's contribution to n_s (token counts
    * for a token budget; omit for document counts).
    *
    * Scale shape: ONE stratum-keyed sum (map-side combinable,
    * broadcast-small output by the strata contract) + per-row
    * arithmetic on that tiny table. Output: (strataCol, n, rate),
    * full-precision rate (callers round for display).
    */
  def temperatureRates(
      df: DataFrame,
      strataCol: String,
      totalBudget: Double,
      alpha: Double = 0.7,
      weightCol: Option[String] = None): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    require(totalBudget > 0.0, "totalBudget must be positive")
    val w = weightCol.map(c => sum(col(c).cast("double")))
      .getOrElse(count(lit(1)).cast("double"))
    val counts = df.groupBy(col(strataCol)).agg(w.as("n"))
    val z = counts.agg(sum(pow(col("n"), alpha))).head().getDouble(0)
    counts.select(col(strataCol), col("n"),
      (lit(totalBudget) * pow(col("n"), alpha - 1.0) / lit(z)).as("rate"))
  }

  /** Statistical LM quality scoring, CCNet-style: train a bigram
    * language model ON the corpus itself (or a trusted reference slice)
    * and score every document by its mean add-one-smoothed bigram log
    * probability — fluent in-domain text scores high, gibberish and
    * boilerplate-mangled text score low, and the resulting column
    * drives perplexity-band filtering. Complements
    * [[linearQualityScore]] (an OFFLINE-trained artifact): this model
    * is trained by the pipeline run itself, with no external input.
    *
    * Model = the top-`vocabTopK` unigrams and top-`bigramTopK` bigrams
    * by count (ties broken lexically, so the tables are deterministic);
    * pruning IS the scale contract — both tables are TakeOrdered
    * results that stay broadcastable regardless of corpus size. Scoring
    * is add-one smoothed over the pruned tables:
    * lp(w1,w2) = ln((c2(w1,w2)+1) / (c1(w1)+vocabTopK)), with pruned-out
    * counts reading 0 — no branching backoff, exactly replayable.
    *
    * Scale shape: two token-keyed count aggs (map-side combinable) +
    * two TakeOrderedAndProject prunes; scoring is the bigram explode
    * (linear, the same stream that trained the counts) with two
    * broadcast lookups and one doc-keyed mean. No shuffle grows with
    * vocabulary.
    *
    * Output: one row per input doc — (idCol, n_bigrams, lm_score =
    * mean log-prob, null for docs with <2 tokens).
    *
    * `trainPred`: when set, the count tables are built ONLY from rows
    * matching the predicate (a trusted reference slice — the CCNet
    * "train on Wikipedia, score the crawl" shape) while every row is
    * still scored. Default None = train on the whole input (the
    * original self-trained behavior, unchanged).
    */
  def bigramLmScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      vocabTopK: Int = 4096,
      bigramTopK: Int = 16384,
      trainPred: Option[Column] = None): DataFrame = {
    require(vocabTopK > 0 && bigramTopK > 0, "model sizes must be positive")
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    val toks = df
      .select(col(idCol),
        graft.functions.TextFunctions.tokens(col(textCol)).as("_t"),
        trainPred.getOrElse(lit(true)).as("_train"))
      .repartition(p)
      .localCheckpoint() // feeds unigrams, bigrams, and the final left join
    bigramLmScoreToks(toks, idCol, vocabTopK, bigramTopK)
  }

  /** [[bigramLmScore]] over an ALREADY-tokenized (idCol, _t, _train)
    * table (typically a projection of a shared checkpoint): lets
    * [[excessLoss]] tokenize and materialize the corpus ONCE for its
    * proxy and reference passes instead of once per pass. The per-pass
    * plan below the token table is byte-identical to the single-pass
    * path.
    */
  private[graft] def bigramLmScoreToks(
      toks: DataFrame,
      idCol: String,
      vocabTopK: Int,
      bigramTopK: Int): DataFrame = {
    require(vocabTopK > 0 && bigramTopK > 0, "model sizes must be positive")
    val uni = toks
      .filter(col("_train"))
      .select(explode(col("_t")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("_c1"))
      .orderBy(col("_c1").desc, col("w1").asc)
      .limit(vocabTopK)
    val bigrams = toks
      .filter(size(col("_t")) >= 2)
      .select(col(idCol), col("_train"), explode(expr(
        "transform(sequence(0, size(_t) - 2), i -> struct(_t[i] AS w1, _t[i + 1] AS w2))")).as("_bg"))
      .select(col(idCol), col("_train"), col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
    val bi = bigrams
      .filter(col("_train"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("_c2"))
      .orderBy(col("_c2").desc, col("w1").asc, col("w2").asc)
      .limit(bigramTopK)
    val scored = bigrams
      .join(broadcast(bi), Seq("w1", "w2"), "left")
      .join(broadcast(uni), Seq("w1"), "left")
      .withColumn("_lp", log(
        (coalesce(col("_c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("_c1"), lit(0L)) + vocabTopK)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), avg(col("_lp")).as("lm_score"))
    toks.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("lm_score"))
  }

  /** CCNet-style quality bucketing: split each group (language/source)
    * into head / middle / tail terciles of a quality score — the
    * standard shape for "keep the head, sample the middle, drop the
    * tail" pretraining curation (CCNet, Wenzek et al. 2020, splits by
    * per-language perplexity terciles; feed [[bigramLmScore]]'s
    * `lm_score` as the score).
    *
    * Scale shape: NOT a per-group ntile — that is a per-group global
    * sort, one reducer per language at 100 TB. Instead the 33rd/66th
    * percentile CUTOFFS come from [[QuantileOps.exactPercentiles]]'
    * two-level value-range selection (two scans + a tiny-table window),
    * the per-group cutoff table broadcasts, and assignment is a
    * per-row comparison. Exact, no global sort anywhere.
    *
    * The double score is quantized to `round(score · scale)` (long)
    * before ranking so cutoff comparisons are integer-exact and
    * oracle-reproducible; `scale` = 1e6 matches the 6-decimal rounding
    * the score queries ship. Rows with a NULL score (no evidence, e.g.
    * zero bigrams) get bucket `unscored` and are excluded from the
    * cutoff computation.
    *
    * Output: (idCol, groupCol, scoreCol, bucket) with bucket in
    * {head, middle, tail, unscored}; higher score = better = head.
    */
  def qualityBuckets(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      groupCol: String,
      scale: Long = 1000000L): DataFrame = {
    require(scale > 0, "scale must be positive")
    val q = round(col(scoreCol) * scale).cast("long")
    val scored = df.filter(col(scoreCol).isNotNull)
      .select(col(idCol), col(groupCol), q.as("_q"))
    val cuts = QuantileOps.exactPercentiles(scored, "_q", groupCol,
        Map("p33" -> 33, "p66" -> 66))
      .groupBy(col(groupCol))
      .agg(
        max(when(col("p") === "p33", col("quantile"))).as("_c33"),
        max(when(col("p") === "p66", col("quantile"))).as("_c66"))
    df.withColumn("_q", q)
      .join(broadcast(cuts), Seq(groupCol), "left")
      .select(col(idCol), col(groupCol), col(scoreCol),
        when(col(scoreCol).isNull, lit("unscored"))
          .when(col("_q") <= col("_c33"), lit("tail"))
          .when(col("_q") <= col("_c66"), lit("middle"))
          .otherwise(lit("head")).as("bucket"))
  }

  /** Per-document contrastive excess-loss signal — the quantity both
    * DoReMi's domain reweighting (Xie et al. 2023) and RHO-style
    * example selection (Mindermann et al. 2022) rank on:
    * excess(d) = max(0, L_proxy(d) − L_ref(d)) where L = −mean bigram
    * log-prob, the proxy LM is trained on the WHOLE corpus and the
    * reference LM only on the trusted slice (`refPred`); in score
    * space that is max(0, score_ref − score_proxy). High excess =
    * text the reference model finds far more predictable than the
    * corpus-wide model does — learnable signal the current corpus
    * under-serves. The published methods use neural LM losses; the
    * pipeline-native stand-in is the same [[bigramLmScore]] statistic
    * the CCNet-style quality ops already use, which keeps the whole
    * signal corpus-derived, deterministic, and oracle-replayable.
    *
    * Both scores are rounded to 6 decimals before the difference so
    * the signal is engine-reproducible (Tables.scala conventions).
    *
    * Scale shape: two [[bigramLmScore]] passes (each: two map-side
    * token-keyed count aggs pruned to broadcast-size tables + one
    * doc-keyed mean) + one id-keyed join. Nothing grows with corpus
    * size beyond the two linear scans.
    *
    * Output: (idCol, excess) — one row per input doc; null excess for
    * docs with no bigram evidence on either side.
    */
  def excessLoss(
      df: DataFrame,
      idCol: String,
      textCol: String,
      refPred: Column,
      vocabTopK: Int = 4096,
      bigramTopK: Int = 16384): DataFrame = {
    // FUSED proxy+reference computation (r14). Previously two full
    // [[bigramLmScore]] passes, each tokenizing the corpus, exploding
    // unigrams and bigrams for its model, and exploding bigrams again
    // to score every document. Now: ONE tokenize+checkpoint, ONE
    // unigram count agg carrying (proxy, ref) counts side by side, ONE
    // bigram count agg likewise (the two top-k prunes share the agg's
    // exchange via ReuseExchange), ONE scoring explode joined against
    // all four pruned model tables, ONE doc-keyed agg producing both
    // means. The model contents are value-identical: the ref counts
    // sum over the refPred rows exactly as the filtered pass did, rows
    // a filtered pass never saw are excluded from the ref prune by the
    // _c1r/_c2r > 0 guard, and the prune ordering (count desc, token
    // asc) is unchanged exact-integer arithmetic.
    val shp = df.sparkSession.sessionState.conf.numShufflePartitions
    val toks = df.select(col(idCol),
        graft.functions.TextFunctions.tokens(col(textCol)).as("_t"),
        refPred.as("_ref"))
      .repartition(shp)
      .localCheckpoint()
    val refOne = when(col("_ref"), 1L).otherwise(0L)
    val uniBoth = toks
      .select(explode(col("_t")).as("w1"), refOne.as("_r1"))
      .groupBy(col("w1"))
      .agg(count(lit(1)).as("_c1p"), sum(col("_r1")).as("_c1r"))
    val uniP = uniBoth.select(col("w1"), col("_c1p").as("_c1"))
      .orderBy(col("_c1").desc, col("w1").asc).limit(vocabTopK)
    val uniR = uniBoth.filter(col("_c1r") > 0L)
      .select(col("w1"), col("_c1r").as("_c1"))
      .orderBy(col("_c1").desc, col("w1").asc).limit(vocabTopK)
    val bigrams = toks
      .filter(size(col("_t")) >= 2)
      .select(col(idCol), col("_ref"), explode(expr(
        "transform(sequence(0, size(_t) - 2), i -> struct(_t[i] AS w1, _t[i + 1] AS w2))")).as("_bg"))
      .select(col(idCol), col("_ref"), col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
    val biBoth = bigrams
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("_c2p"),
        sum(when(col("_ref"), 1L).otherwise(0L)).as("_c2r"))
    val biP = biBoth.select(col("w1"), col("w2"), col("_c2p").as("_c2"))
      .orderBy(col("_c2").desc, col("w1").asc, col("w2").asc).limit(bigramTopK)
    val biR = biBoth.filter(col("_c2r") > 0L)
      .select(col("w1"), col("w2"), col("_c2r").as("_c2"))
      .orderBy(col("_c2").desc, col("w1").asc, col("w2").asc).limit(bigramTopK)
    val scored = bigrams
      .join(broadcast(biP.withColumnRenamed("_c2", "_c2p")), Seq("w1", "w2"), "left")
      .join(broadcast(biR.withColumnRenamed("_c2", "_c2r")), Seq("w1", "w2"), "left")
      .join(broadcast(uniP.withColumnRenamed("_c1", "_c1p")), Seq("w1"), "left")
      .join(broadcast(uniR.withColumnRenamed("_c1", "_c1r")), Seq("w1"), "left")
      .withColumn("_lpp", log(
        (coalesce(col("_c2p"), lit(0L)) + 1).cast("double") /
          (coalesce(col("_c1p"), lit(0L)) + vocabTopK)))
      .withColumn("_lpr", log(
        (coalesce(col("_c2r"), lit(0L)) + 1).cast("double") /
          (coalesce(col("_c1r"), lit(0L)) + vocabTopK)))
      .groupBy(col(idCol))
      .agg(avg(col("_lpp")).as("_lmp"), avg(col("_lpr")).as("_lmr"))
    toks.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), round(col("_lmp"), 6).as("_sp"),
        round(col("_lmr"), 6).as("_sr"))
      .select(col(idCol),
        when(col("_sp").isNull || col("_sr").isNull,
          lit(null).cast("double"))
          .otherwise(greatest(lit(0.0), round(col("_sr") - col("_sp"), 6)))
          .as("excess"))
  }

  /** DoReMi-style domain reweighting (Xie et al. 2023, "Domain
    * Reweighting with Minimax Optimization"): exponentiated-gradient
    * updates over domain weights driven by per-domain excess loss,
    * with uniform smoothing. The published inner loop retrains the
    * proxy model under each new mixture; this pipeline-native replay
    * fixes the per-domain excess at the [[excessLoss]] statistic and
    * replays the EXACT published update rule for `rounds` steps:
    *
    *   u_d   = α_d · exp(η · excess_d)
    *   α'_d  = (1 − c) · u_d / Σ u  +  c / K
    *
    * (K = number of domains, c = `smoothing`). With fixed losses the
    * iteration converges geometrically to a softmax-with-floor over
    * excess; the update rule, clipping, smoothing, and normalization
    * are the faithful parts, and every round is replayed by the
    * DuckDB oracle (q_doremi_weights) with α rounded to 6 decimals per
    * round — the classifier-train gate pattern.
    *
    * Scale shape: the corpus is touched by the two [[excessLoss]]
    * scans only; the iteration runs on one row per DOMAIN (the
    * mixture-spec contract — domains are a handful of sources, never
    * data-scale), so collecting it to the driver is exact and free.
    *
    * Output: (domain, n_docs, excess_loss, weight), one row per
    * domain; weights sum to 1 up to per-domain rounding.
    */
  def doremiWeights(
      df: DataFrame,
      idCol: String,
      textCol: String,
      domainCol: String,
      refPred: Column,
      rounds: Int = 8,
      eta: Double = 1.0,
      smoothing: Double = 0.1,
      vocabTopK: Int = 4096,
      bigramTopK: Int = 16384): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    require(eta > 0.0, "eta must be positive")
    require(smoothing >= 0.0 && smoothing < 1.0, "smoothing must be in [0, 1)")
    val spark = df.sparkSession
    import spark.implicits._
    val ex = excessLoss(df, idCol, textCol, refPred, vocabTopK, bigramTopK)
    val dom = df.select(col(idCol), col(domainCol).cast("string").as("domain"))
      .join(ex, Seq(idCol), "left")
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("excess")), 6).as("excess_loss"))
      .orderBy(col("domain"))
    val rows = dom.collect() // one row per domain — bounded by contract
    val k = rows.length
    require(k >= 1, "at least one domain required")
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val e = rows.map(r => if (r.isNullAt(2)) 0.0 else r.getDouble(2))
    var a = Array.fill(k)(r6(1.0 / k))
    for (_ <- 1 to rounds) {
      val u = Array.tabulate(k)(i => a(i) * math.exp(eta * e(i)))
      val z = u.sum
      a = Array.tabulate(k)(i =>
        r6((1.0 - smoothing) * u(i) / z + smoothing / k))
    }
    rows.toSeq.zipWithIndex.map { case (r, i) =>
      (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), a(i))
    }.toDF("domain", "n_docs", "excess_loss", "weight")
  }

  /** RHO-style contrastive example selection (Mindermann et al. 2022,
    * "reducible holdout loss"): rank documents by [[excessLoss]] —
    * learnable (the reference model predicts them well) but not yet
    * learned (the corpus-wide model does not) — and keep the top k.
    * The complement of hard-example mining: noise scores low on BOTH
    * models and is excluded, already-mastered text scores low excess
    * and is deprioritized.
    *
    * Scale shape: the two excess scans + one TakeOrderedAndProject
    * (top-k never global-sorts); the rank column is computed on the
    * k-row result only.
    *
    * Output: (rank, idCol, excess) — top k by (excess desc, id asc),
    * docs without bigram evidence excluded.
    */
  def contrastiveSelect(
      df: DataFrame,
      idCol: String,
      textCol: String,
      refPred: Column,
      k: Int,
      vocabTopK: Int = 4096,
      bigramTopK: Int = 16384): DataFrame = {
    require(k > 0, "k must be positive")
    val ex = excessLoss(df, idCol, textCol, refPred, vocabTopK, bigramTopK)
      .filter(col("excess").isNotNull)
    ex.orderBy(col("excess").desc, col(idCol).asc).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("excess").desc, col(idCol).asc)))
      .select(col("rank"), col(idCol), col("excess"))
  }
}
