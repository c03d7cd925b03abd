package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, TextFunctions}
import graft.ops.{CorpusOps, DedupOps}
import Tables._

/** Text-analysis + dedup queries over the `documents` table, each with a
  * DuckDB oracle (SURVEY §2 "LLM-data-pipeline" ops; VERDICT r1 next-1).
  */
object TextQueries {

  private[catalog] val BpeMergeCount = 12

  private val punctClassSql = """[^.,;:!?''"()\[\]{}-]""" // '' = SQL-escaped quote

  /** Banded simhash pair graph, computed once per sf dir — shared by
    * q_dedup_simhash_pairs and q_dedup_clusters (the cached-metrics
    * pattern AlgoQueries uses for PageRank/LPA/betweenness).
    */
  private val pairMemo = scala.collection.mutable.Map[String, DataFrame]()
  graft.trace.MemoLog.registerClearer("simhash_pairs", () => pairMemo.synchronized {
    pairMemo.values.foreach(graft.ops.Checkpoints.release)
    pairMemo.clear()
  })
  private def simhashPairsOf(s: SparkSession, dir: String): DataFrame =
    pairMemo.synchronized {
      pairMemo.getOrElseUpdate(s.sparkContext.applicationId + dir, {
        graft.trace.MemoLog.record("simhash_pairs")
        DedupOps.simhashNearDupPairs(load(s, dir, "documents"), "doc_id", "text",
            bits = 32, bands = 4, maxHamming = 3)
          .localCheckpoint()
      })
    }

  /** Bench-only: force the distributed min-label fixpoint (the path a
    * >1M-pair graph takes) on the same pair graph the union-find path is
    * oracle-verified on. OpsSpec asserts min-label == union-find; this
    * entry exists so the distributed path has a recorded number at bench
    * scale.
    */
  def clustersDistBench(s: SparkSession, dir: String): DataFrame =
    DedupOps.duplicateClusters(simhashPairsOf(s, dir), unionFindLimit = 0L)
      .select(col("doc"), col("cluster"), col("is_canonical"))
      .orderBy(col("doc"))

  /** Quality-curriculum composite key shared by q_curriculum and
    * q_token_budget: global n_chars deciles from the exact-percentile
    * op (bounded threshold collect), key = decile DESC · seeded hash ·
    * zero-padded id. Adds (decile, curriculum_key).
    */
  private def curriculumKeyed(docs: DataFrame): DataFrame = {
    val thresholds = graft.ops.QuantileOps.exactPercentiles(
        docs.withColumn("g", lit("all")), "n_chars", "g",
        (1 to 9).map(i => (s"p${i * 10}", i * 10)).toMap)
      .select(col("quantile")).collect().map(_.getLong(0)).sorted
    val decile = thresholds.map(t => when(col("n_chars") > t, 1).otherwise(0))
      .reduce(_ + _).cast("long")
    docs
      .withColumn("decile", decile)
      .withColumn("curriculum_key", concat(
        (lit(9L) - col("decile")).cast("string"),
        md5(concat(lit("cur42:"), col("doc_id").cast("string"))),
        lpad(col("doc_id").cast("string"), 12, "0")))
  }

  /** Bench-only: unigram-LM trainer at a production-ish vocab size
    * (test-gated in TokenizerSpec against a reference implementation;
    * no SQL oracle — Viterbi DP is not reasonably SQL-replayable).
    */
  def unigramTrainBench(s: SparkSession, dir: String): DataFrame =
    graft.ops.CorpusOps.unigramTrain(load(s, dir, "documents"),
      "doc_id", "text", vocabSize = 2000, maxPieceLen = 4, emRounds = 2)

  /** Bench-only: full-corpus unigram Viterbi ENCODE with a trained
    * vocab — the zero-shuffle tokenization rate at sf scale (the
    * memoized trained model keeps the row honest about encode cost,
    * not training cost).
    */
  private val unigramModelMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[String], Seq[Double])]()
  def unigramEncodeBench(s: SparkSession, dir: String): DataFrame = {
    val model = unigramModelMemo.computeIfAbsent(dir, { _ =>
      val rows = unigramTrainBench(s, dir).collect()
      (rows.map(_.getString(1)).toSeq, rows.map(_.getDouble(3)).toSeq)
    })
    graft.ops.CorpusOps.unigramEncodeDocs(load(s, dir, "documents"),
        "doc_id", "text", model._1, model._2)
      .select(col("doc_id"), size(col("pieces")).as("n_pieces"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_entropy" -> { (s, dir) =>
      // compression-ratio-proxy quality axis: char + token Shannon
      // entropy from ONE kernel pass per row (subexpression
      // elimination), zero shuffle — low char entropy = character
      // repetition, low token entropy = template/boilerplate docs
      val docs = load(s, dir, "documents")
        .repartition(s.sessionState.conf.numShufflePartitions)
      docs.select(
        col("doc_id"),
        round(TextFunctions.charEntropy(col("text")), 6).as("char_entropy"),
        round(TextFunctions.tokenEntropy(col("text")), 6).as("token_entropy")
      ).orderBy(col("doc_id"))
    },
    "q_text_stats" -> { (s, dir) =>
      // per-row text metrics are CPU-bound; spread a single-partition
      // small-file scan across the session's cores first
      val docs = load(s, dir, "documents")
        .repartition(s.sessionState.conf.numShufflePartitions)
      docs.select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFunctions.distinctTokenCount(col("text")).cast("long").as("n_distinct"),
        round(TextFunctions.meanTokenLength(col("text")), 6).as("mean_tok_len"),
        round(TextFunctions.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextFunctions.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        round(TextFunctions.qualityScore(col("text")), 6).as("quality")
      ).orderBy(col("doc_id"))
    },
    "q_text_langid" -> { (s, dir) =>
      val docs = load(s, dir, "documents")
      docs.select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    },
    "q_text_fingerprint" -> { (s, dir) =>
      val docs = load(s, dir, "documents")
      docs.select(
        col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fingerprint"),
        TextFunctions.subwordCount(col("text")).cast("long").as("n_subwords")
      ).orderBy(col("doc_id"))
    },
    "q_text_quality_rules" -> { (s, dir) =>
      // Gopher-rule battery: every flag + the conjunction, per document
      val docs = load(s, dir, "documents")
        .repartition(s.sessionState.conf.numShufflePartitions)
      val t = col("text")
      val wcOk = TextFunctions.gopherWordCountOk(t, lo = 20)
      val mlOk = TextFunctions.gopherMeanLenOk(t)
      val symRatio = TextFunctions.gopherSymbolRatio(t)
      val stopHits = TextFunctions.gopherStopHits(t)
      docs.select(
        col("doc_id"),
        TextFunctions.tokenCount(t).cast("long").as("n_words"),
        wcOk.as("wc_ok"),
        mlOk.as("mean_len_ok"),
        round(symRatio, 6).as("symbol_ratio"),
        stopHits.cast("long").as("stop_hits"),
        (wcOk && mlOk && symRatio < 0.1 && stopHits >= 2).as("passes")
      ).orderBy(col("doc_id"))
    },
    "q_text_repetition" -> { (s, dir) =>
      // Gopher repetition rules: top 2-gram occupancy + duplicate-token
      // fraction per doc. Distributed shape: explode 2-grams (with
      // multiplicity), (doc, gram)-keyed count, per-doc max/sum — both
      // aggregations combine map-side, no per-doc collection
      val p = s.sessionState.conf.numShufflePartitions
      // null-text docs excluded (mirrors the oracle, where unnest(NULL)
      // emits no rows)
      val docs = load(s, dir, "documents")
        .filter(col("text").isNotNull).repartition(p)
      val grams = docs.select(col("doc_id"),
        // outer: keeps InferFiltersFromGenerate from re-evaluating the
        // 2-gram subtree at the scan (arrays are never empty)
        explode_outer(HashFunctions.wordShinglesAll(col("text"), 2)).as("g"))
      val stats = grams
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("max_c"), sum(col("c")).as("n_grams"))
      val tokenStats = docs.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("double").as("n_tok"),
        TextFunctions.distinctTokenCount(col("text")).cast("double").as("n_dist"))
      stats.join(tokenStats, Seq("doc_id"))
        .select(
          col("doc_id"),
          col("n_grams").cast("long").as("n_grams"),
          round(col("max_c").cast("double") / col("n_grams"), 6).as("top_gram_ratio"),
          round(when(col("n_tok") === 0, 0.0)
            .otherwise(lit(1.0) - col("n_dist") / col("n_tok")), 6).as("dup_token_ratio"))
        .orderBy(col("doc_id"))
    },
    "q_dedup_exact" -> { (s, dir) =>
      val docs = load(s, dir, "documents")
      DedupOps.exactDuplicates(docs, "doc_id", "text")
        .select(
          col("doc_id"),
          col("content_hash"),
          col("group_size").cast("long").as("group_size"),
          col("keep_id"),
          col("is_duplicate")
        )
        .orderBy(col("doc_id"))
    },
    "q_dedup_incremental" -> { (s, dir) =>
      // daily-append dedup: batch (doc_id ≡ 0 mod 5) against the hash
      // store of the already-deduped corpus (the other 80%); the store
      // is the one-column artifact a real pipeline materializes
      val docs = load(s, dir, "documents")
        .repartition(s.sessionState.conf.numShufflePartitions)
      val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
      val store = DedupOps.exactDuplicates(corpus, "doc_id", "text")
        .filter(!col("is_duplicate")).select(col("content_hash"))
      DedupOps.incrementalExact(batch, store, "doc_id", "text")
        .select(col("doc_id"), col("content_hash"), col("dup_in_corpus"),
          col("is_duplicate"), col("keep"))
        .orderBy(col("doc_id"))
    },
    "q_dedup_incremental_bloom" -> { (s, dir) =>
      // same append fixture through the store's Bloom INDEX: batch
      // hashes that miss the filter never touch the store; bloom-hit
      // candidates confirm exactly — result identical to the scan path
      val docs = load(s, dir, "documents")
        .repartition(s.sessionState.conf.numShufflePartitions)
      val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
      val store = DedupOps.exactDuplicates(corpus, "doc_id", "text")
        .filter(!col("is_duplicate")).select(col("content_hash"))
      DedupOps.incrementalExactBloom(batch, store, "doc_id", "text",
          numBits = 1 << 16, numHashes = 5)
        .select(col("doc_id"), col("content_hash"), col("dup_in_corpus"),
          col("is_duplicate"), col("keep"))
        .orderBy(col("doc_id"))
    },
    "q_dedup_incremental_lsh" -> { (s, dir) =>
      // near-dup face of the same append: batch-banded signatures
      // broadcast against the corpus band stream, same 32/4/8 scheme as
      // q_dedup_lsh_pairs
      val docs = load(s, dir, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
      DedupOps.incrementalLshPairs(batch, corpus, "doc_id", "text",
          numHashes = 32, bands = 4, shingleSize = 3, minJaccard = 0.0)
        .select(col("corpus_id"), col("batch_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("corpus_id"), col("batch_id"))
    },
    "q_lm_score" -> { (s, dir) =>
      // corpus-trained bigram LM quality score (CCNet-style perplexity
      // proxy): model = top-4096 unigrams + top-16384 bigrams of THIS
      // corpus, docs scored by mean smoothed bigram log-prob
      val docs = load(s, dir, "documents")
      CorpusOps.bigramLmScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          round(col("lm_score"), 6).as("lm_score"))
        .orderBy(col("doc_id"))
    },
    "q_mix_temperature" -> { (s, dir) =>
      // mT5-style α-sampling spec: per-language rates ∝ n^(α−1) hitting
      // a fixed char budget; the table epochMix consumes (rates may
      // exceed 1 = upsampling). One stratum-keyed sum, tiny output
      graft.ops.CorpusOps.temperatureRates(load(s, dir, "documents"),
          "lang", totalBudget = 100000.0, alpha = 0.7,
          weightCol = Some("n_chars"))
        .select(col("lang"), col("n").cast("long").as("n"),
          round(col("rate"), 6).as("rate"))
        .orderBy(col("lang"))
    },
    "q_quality_buckets" -> { (s, dir) =>
      // CCNet-style curation split: per-language head/middle/tail
      // terciles of the bigram-LM quality score. Cutoffs via the
      // two-level exact-percentile selection (broadcast-small table),
      // assignment per-row — no per-language global sort
      val docs = load(s, dir, "documents")
        .repartition(s.sessionState.conf.numShufflePartitions)
      val lang = docs.select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_pred"))
      val lm = graft.ops.CorpusOps.bigramLmScore(docs, "doc_id", "text")
      val scored = lang.join(lm.select(col("doc_id"), col("lm_score")),
        Seq("doc_id"))
      graft.ops.CorpusOps
        .qualityBuckets(scored, "doc_id", "lm_score", "lang_pred")
        .select(col("doc_id"), col("lang_pred"),
          round(col("lm_score"), 6).as("lm_score"), col("bucket"))
        .orderBy(col("doc_id"))
    },
    "q_dedup_segments" -> { (s, dir) =>
      // boilerplate pass: drop 20-token segments occurring in ≥2
      // distinct docs (on this corpus: exactly the planted duplicate
      // clusters' content), rebuild the survivors' text
      val docs = load(s, dir, "documents")
      DedupOps.commonSegmentRemoval(docs, "doc_id", "text",
          segLen = 20, minDocs = 2)
        .orderBy(col("doc_id"))
    },
    "q_dedup_substrings" -> { (s, dir) =>
      // suffix-array-style pass: remove every non-first occurrence of
      // any 8-token window repeated anywhere in the corpus (across docs
      // OR within one), rebuild the survivors' text
      val docs = load(s, dir, "documents")
      DedupOps.duplicateSpanRemoval(docs, "doc_id", "text", winLen = 8)
        .orderBy(col("doc_id"))
    },
    "q_dedup_minhash" -> { (s, dir) =>
      val docs = load(s, dir, "documents")
      DedupOps.minhashSignatures(docs, "doc_id", "text", numHashes = 4, shingleSize = 3)
        .orderBy(col("doc_id"))
    },
    "q_dedup_lsh_pairs" -> { (s, dir) =>
      // 8 rows per band: band-collision probability is sim^8, so the
      // word-soup corpus (pairwise sim ~0.4) yields ~3e-3 candidate rate
      // instead of the ~50% that 2-row bands produced — the difference
      // between a bucketed join and an accidental all-pairs at sf0.1
      val docs = load(s, dir, "documents")
      DedupOps.minhashLshPairs(docs, "doc_id", "text",
          numHashes = 32, bands = 4, shingleSize = 3, minJaccard = 0.0)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    "q_dedup_simhash" -> { (s, dir) =>
      val docs = load(s, dir, "documents")
      DedupOps.simhashFingerprints(docs, "doc_id", "text", bits = 32)
        .orderBy(col("doc_id"))
    },
    "q_dedup_simhash_pairs" -> { (s, dir) =>
      // banded simhash self-join: exact recall for Hamming <= 3 via the
      // 4-slice pigeonhole, never all-pairs (memoized; clusters reuse it)
      simhashPairsOf(s, dir)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    "q_dedup_clusters" -> { (s, dir) =>
      // connected components over the banded simhash pair graph — the
      // cluster-then-keep-canonical step of a dedup pipeline
      DedupOps.duplicateClusters(simhashPairsOf(s, dir))
        .select(col("doc"), col("cluster"), col("is_canonical"))
        .orderBy(col("doc"))
    },
    "q_dedup_keep_best" -> { (s, dir) =>
      // quality-ranked dedup retention: within each simhash near-dup
      // cluster keep the HIGHEST-QUALITY member (stopword hits desc,
      // token count desc, id) — production corpus dedup keeps the best
      // copy, not the arbitrary min-id canonical. One full-corpus window
      // on cluster key carrying (id, 2 longs); membership broadcast
      val p = s.sessionState.conf.numShufflePartitions
      val docs = load(s, dir, "documents").repartition(p)
      val t = col("text")
      val scored = docs.select(
        col("doc_id"),
        TextFunctions.gopherStopHits(t).cast("long").as("stop_hits"),
        TextFunctions.tokenCount(t).cast("long").as("n_words"))
      val clusters = DedupOps
        .duplicateClusters(simhashPairsOf(s, dir))
        .select(col("doc"), col("cluster"))
      DedupOps
        .keepBestPerCluster(scored, clusters, "doc_id",
          Seq(col("stop_hits").desc, col("n_words").desc))
        .select(col("doc_id"), col("cluster"), col("stop_hits"),
          col("n_words"), col("keep"))
        .orderBy(col("doc_id"))
    },
    "q_shuffle_shards" -> { (s, dir) =>
      // deterministic global training-order shuffle: order the corpus by
      // a seeded hash of the id (a reproducible pseudo-random permutation
      // — no RNG state, re-runs bit-identical on any cluster) and pack
      // into fixed 16-doc shards. Same two-level prefix sum as
      // q_shard_pack with unit weights — a naive ORDER BY hash global
      // window would move the corpus to ONE reducer
      val docs = load(s, dir, "documents")
        .select(col("doc_id"),
          md5(concat(lit("shuf42:"), col("doc_id").cast("string")))
            .as("shuffle_key"))
        .withColumn("one", lit(1L))
      graft.ops.ShardOps.packShards(docs, "shuffle_key", "one", targetWeight = 16L)
        .select(col("doc_id"), col("shuffle_key"), col("shard_id"))
        .orderBy(col("doc_id"))
    },
    "q_chunk_overlap" -> { (s, dir) =>
      // RAG / window-prep chunking: 64-token chunks, stride 48 (16-token
      // overlap); per-row explode, zero shuffle
      graft.ops.CorpusOps.chunkDocuments(load(s, dir, "documents"),
          "doc_id", "text", chunkSize = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_id"))
    },
    "q_curriculum" -> { (s, dir) =>
      // curriculum training order WITHOUT a global sort: global length
      // deciles from the exact-percentile op (one bounded threshold
      // collect), a composite sort key (decile DESC, seeded shuffle
      // hash within decile, id for uniqueness), then the two-level
      // prefix-sum sharder — easy-to-hard ordering with reproducible
      // intra-level shuffling; composes three round ops end to end
      val keyed = curriculumKeyed(load(s, dir, "documents"))
        .withColumn("one", lit(1L))
      graft.ops.ShardOps.packShards(keyed, "curriculum_key", "one",
          targetWeight = 16L)
        .select(col("doc_id"), col("decile"), col("shard_id"))
        .orderBy(col("doc_id"))
    },
    "q_token_budget" -> { (s, dir) =>
      // exact-budget corpus assembly: walk the corpus best-quality-
      // first (the curriculum key) and keep every doc that still fits a
      // 10k-token budget whole — an exact token count, not a rate;
      // same two-level prefix sum, never a global window
      val keyed = curriculumKeyed(load(s, dir, "documents"))
        .withColumn("n_tokens",
          coalesce(graft.functions.TextFunctions.tokenCount(col("text")),
            lit(0)).cast("long"))
      graft.ops.ShardOps.budgetSelect(keyed, "curriculum_key", "n_tokens",
          budget = 10000L)
        .select(col("doc_id"), col("decile"), col("n_tokens"),
          col("budget_used"))
        .orderBy(col("doc_id"))
    },
    "q_unigram_encode" -> { (s, dir) =>
      // Viterbi-encode the pinned doc subset with the FROZEN model
      // (UnigramPinnedModel, exported once by tools.UnigramExport) —
      // the encode is a zero-shuffle native-kernel projection, the
      // 100 TB tokenization shape; output = piece count + first-16
      // head + md5 of the full sequence, matching the independent
      // replay's pinned VALUES oracle (tools/unigram_replay.py)
      graft.ops.CorpusOps.unigramEncodeDocs(
          load(s, dir, "documents")
            .filter(pmod(col("doc_id"), lit(7)) === 0),
          "doc_id", "text",
          UnigramPinnedModel.Pieces, UnigramPinnedModel.Logps)
        .select(col("doc_id"),
          size(col("pieces")).cast("long").as("n_pieces"),
          concat_ws(" ", slice(col("pieces"), 1, 16)).as("head_pieces"),
          md5(concat_ws(" ", col("pieces"))).as("pieces_md5"))
        .orderBy(col("doc_id"))
    },
    "q_unigram_seed" -> { (s, dir) =>
      // the unigram trainer's SEEDING pass (step 1 of unigramTrain):
      // word-freq-weighted substring counts, every single char + the
      // top multi-char pieces — pure explode/substring builtins, one
      // corpus scan, replayed end-to-end in SQL
      graft.ops.CorpusOps.unigramSeed(load(s, dir, "documents"), "text",
          vocabSize = 500)
        .orderBy(col("cnt").desc, col("piece").asc)
    },
    "q_unigram_train_round" -> { (s, dir) =>
      // ROUND 1 of the unigram trainer itself (emRounds=1, vocab bound
      // not binding): seed + one hard-EM re-count + survival floor +
      // rank. The oracle re-derives the word table and the re-count in
      // SQL; only the per-word Viterbi segmentation comes from the
      // pinned independent replay (UnigramTrainPinned /
      // tools/unigram_train_replay.py). logp is excluded: its ln() is
      // the one engine-divergent operation (ulp-level libm differences)
      // and it is derivable from freq.
      graft.ops.CorpusOps.unigramTrain(load(s, dir, "documents"),
          "doc_id", "text", vocabSize = 100000, maxPieceLen = 4,
          emRounds = 1, seedFactor = 4)
        .select(col("rank"), col("piece"), col("freq"))
        .orderBy(col("rank"))
    },
    "q_unigram_train_round2" -> { (s, dir) =>
      // ROUND 2 of the unigram trainer, in a scenario where round 2 is
      // DISTINGUISHING (vocabSize=40, seedFactor=1: the binding seed
      // cut makes two words re-segment and one piece die in round 2 —
      // a bug that reused the round-1 model would fail this row). The
      // oracle chains the round-1 machinery: round 2's re-count is SQL
      // joined to the pinned independent Viterbi map segmented under
      // the FROZEN round-1 model (UnigramTrainPinned.SegMapValues2 /
      // tools/unigram_round1_v40s1_model.json), and the binding final
      // prune (all singles + best multi to vocabSize) replays in SQL.
      graft.ops.CorpusOps.unigramTrain(load(s, dir, "documents"),
          "doc_id", "text", vocabSize = 40, maxPieceLen = 4,
          emRounds = 2, seedFactor = 1)
        .select(col("rank"), col("piece"), col("freq"))
        .orderBy(col("rank"))
    },
    "q_shard_pack" -> { (s, dir) =>
      // pack the corpus into ~1000-token training shards in doc_id
      // order — two-level distributed prefix sum (ShardOps), never a
      // global single-partition window
      val docs = load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.ShardOps.packShards(docs, "doc_id", "n_tokens", targetWeight = 1000L)
        .select(col("doc_id"), col("n_tokens"), col("shard_id"))
        .orderBy(col("doc_id"))
    },
    "q_dedup_ngram_jaccard" -> { (s, dir) =>
      // exact all-pairs is contractually a BOUNDED-GROUP op — bucket by
      // (lang, n_chars % 8) so group sizes stay ~1/8 of a language slice
      // at any sf (the LSH query above is the unbounded-scale path)
      val docs = load(s, dir, "documents")
        .withColumn("grp_b", concat(col("lang"), lit("_"), pmod(col("n_chars"), lit(8))))
      DedupOps.ngramJaccardPairs(docs, "doc_id", "text", "grp_b", n = 3, minJaccard = 0.5)
        .select(col("grp"), col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("grp"), col("doc_a"), col("doc_b"))
    },
    "q_prep_pipeline" -> { (s, dir) =>
      // The composed training-data prep pipeline — the flow a 100 TB
      // corpus actually runs, as ONE DataFrame chain in RefinedWeb
      // order: URL/domain gate (blocklist + over-cap domains dropped)
      // → language filter → Gopher quality gate → exact dedup (keep
      // canonical) → pack survivors into ~1000-token shards. Every
      // stage is the individually-oracle-verified operator; this query
      // verifies the COMPOSITION (domain set computed on a
      // source-only pruned scan and broadcast back, text filters fused
      // into one scan pass, dedup's window keyed on content hash over
      // survivors only, then the distributed prefix-sum pack).
      import graft.functions.UrlFunctions
      val p = s.sessionState.conf.numShufflePartitions
      // stage −1, WET-style HTML→text (HtmlQueries): extract the line
      // array from the synthesized page, gate on the boilerplate line
      // ratio (integer-exact n_boiler·2 ≤ n_lines), continue on the
      // boilerplate-free content. All three derivations live in ONE
      // projection so whole-stage codegen's subexpression elimination
      // runs the extraction kernel once per row; still zero shuffles.
      val hxLines = HtmlQueries.linesExpr
      val docs = load(s, dir, "documents").repartition(p)
        .select(col("doc_id"), col("source"), struct(
            size(hxLines).as("nl"),
            (size(filter(hxLines, HtmlQueries.isBoiler _)) * 2).as("nb2"),
            array_join(filter(hxLines, l => !HtmlQueries.isBoiler(l)), " ")
              .as("content")).as("_hx"))
        .filter(col("_hx.nb2") <= col("_hx.nl"))
        .withColumn("text", col("_hx.content"))
        .drop("_hx")
      val t = col("text")
      val domExpr = UrlFunctions.registrableDomain(
        UrlFunctions.urlHost(UrlQueries.urlExpr))
      // stage 0, the RefinedWeb domain prior: the (blocklist ∪ >5%
      // over-cap) domain set comes from a scan pruned to (doc_id,
      // source) — at 100 TB this pass never touches text — and is
      // broadcast back as an anti-join on the single main scan
      val withDom = load(s, dir, "documents")
        .select(domExpr.as("domain"))
      val stats = withDom.groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"))
      val total = withDom.agg(count(lit(1)).as("total"))
      val badDomains = stats.crossJoin(broadcast(total))
        .filter(col("n_docs") * 20 > col("total") ||
          col("domain").isin(UrlQueries.Blocklist: _*))
        .select(col("domain"))
      val gated = docs.withColumn("domain", domExpr)
        .join(broadcast(badDomains), Seq("domain"), "left_anti")
      val kept = gated
        .withColumn("lang_pred", TextFunctions.langId(t))
        .filter(col("lang_pred") === lit("en"))
        .filter(TextFunctions.gopherWordCountOk(t, lo = 20) &&
          TextFunctions.gopherMeanLenOk(t) &&
          TextFunctions.gopherSymbolRatio(t) < 0.1 &&
          TextFunctions.gopherStopHits(t) >= 2)
      // exactDuplicates retains input columns, so the pipeline continues
      // on the survivor rows directly — no join back to `kept` (which
      // would re-evaluate the text kernels once per join side).
      // lang_pred is the filter constant, so emit it as a literal rather
      // than re-running the kernel for the output column.
      val survivors = DedupOps.exactDuplicates(kept, "doc_id", "text")
        .filter(!col("is_duplicate"))
        .select(col("doc_id"), col("domain"), lit("en").as("lang_pred"),
          TextFunctions.tokenCount(t).cast("long").as("n_tokens"))
      graft.ops.ShardOps.packShards(survivors, "doc_id", "n_tokens",
          targetWeight = 1000L)
        .select(col("doc_id"), col("domain"), col("lang_pred"),
          col("n_tokens"), col("shard_id"))
        .orderBy(col("doc_id"))
    },
    "q_decontaminate" -> { (s, dir) =>
      // benchmark decontamination: the "eval set" is a deterministic
      // corpus slice (doc_id % 19), the rest is the training corpus;
      // eval 5-gram set broadcasts, the train side never shuffles its
      // text (CorpusOps.ngramContamination scaladoc)
      val docs = load(s, dir, "documents")
        .repartition(s.sessionState.conf.numShufflePartitions)
      val evalSet = docs.filter(pmod(col("doc_id"), lit(19)) === 0)
      val train = docs.filter(pmod(col("doc_id"), lit(19)) =!= 0)
      graft.ops.CorpusOps
        .ngramContamination(train, evalSet, "doc_id", "text", n = 5, minOverlap = 3)
        .orderBy(col("doc_id"))
    },
    "q_decontaminate_bloom" -> { (s, dir) =>
      // same fixture as q_decontaminate through the Bloom-prefiltered
      // scale path: eval grams collapse to a 2^16-bit filter, clean
      // train docs drop map-side, bloom-hit candidates confirm exactly
      // — result (and oracle) identical to the exact broadcast path
      val docs = load(s, dir, "documents")
        .repartition(s.sessionState.conf.numShufflePartitions)
      val evalSet = docs.filter(pmod(col("doc_id"), lit(19)) === 0)
      val train = docs.filter(pmod(col("doc_id"), lit(19)) =!= 0)
      graft.ops.CorpusOps
        .ngramContaminationBloom(train, evalSet, "doc_id", "text",
          n = 5, minOverlap = 3, numBits = 1 << 16, numHashes = 5)
        .orderBy(col("doc_id"))
    },
    "q_split_assign" -> { (s, dir) =>
      // deterministic train/val/test carve by id hash — stable under
      // corpus growth, shuffle-free
      graft.ops.CorpusOps
        .hashSplit(load(s, dir, "documents").select(col("doc_id")), "doc_id",
          trainPct = 80, valPct = 10)
        .orderBy(col("doc_id"))
    },
    "q_seq_pack" -> { (s, dir) =>
      // fixed-length training-sequence packing: concat the corpus token
      // stream in doc_id order, chunk at 256-token boundaries; one row
      // per (doc, sequence) slice
      val docs = load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.ShardOps.packSequences(docs, "doc_id", "n_tokens", seqLen = 256L)
        .select(col("doc_id"), col("seq_id"), col("doc_start"), col("doc_end"),
          col("seq_pos"))
        .orderBy(col("doc_id"), col("seq_id"))
    },
    "q_quality_classifier" -> { (s, dir) =>
      // model-based quality filter: hashed-bucket linear model, weights
      // synthesized deterministically from the bucket index (the stand-in
      // for an offline-trained fasttext-style classifier — the mixing
      // constants make the "model" reproducible in the oracle)
      import graft.functions.HashFunctions.{minhashA, minhashB, MinhashPrime}
      val weights = s.range(1024).select(col("id").as("bucket"),
        (((col("id") * lit(minhashA(1)) + lit(minhashB(1))) % lit(MinhashPrime))
          .cast("double") / lit(MinhashPrime.toDouble) * lit(2.0) - lit(1.0))
          .as("weight"))
      graft.ops.CorpusOps
        .linearQualityScore(load(s, dir, "documents"), "doc_id", "text",
          weights, buckets = 1024)
        .select(col("doc_id"), col("n_tok"), round(col("score"), 6).as("score"))
        .orderBy(col("doc_id"))
    },
    "q_vocab_topk" -> { (s, dir) =>
      // tokenizer-prep vocabulary: top 100 tokens by corpus frequency
      graft.ops.CorpusOps.vocabTopK(load(s, dir, "documents"), "doc_id", "text",
        k = 100)
    },
    "q_vocab_coverage" -> { (s, dir) =>
      // tokenizer-eval coverage curve: occurrences covered by the
      // top-k vocab at a k ladder — one corpus-keyed count agg +
      // TakeOrdered(max k), cumulative sums driver-side (never a
      // global rank window over the vocabulary)
      graft.ops.CorpusOps.vocabCoverage(load(s, dir, "documents"),
          "doc_id", "text", ks = Seq(5, 10, 20, 1000))
        .select(col("k").cast("long").as("k"),
          col("covered_tokens"), col("total_tokens"),
          round(col("coverage"), 6).as("coverage"),
          round(col("oov_rate"), 6).as("oov_rate"))
        .orderBy(col("k"))
    },
    "q_heavy_hitters" -> { (s, dir) =>
      // exact heavy hitters by threshold (tokens above 0.2% of the
      // corpus): mergeable Misra–Gries sketch pass (one sketch-sized row
      // shuffles, never the tokens) + exact re-count of the bounded
      // candidate set — the deterministic two-pass composition
      graft.ops.SketchOps.heavyHitters(load(s, dir, "documents"), "text",
        phi = 0.002)
    },
    "q_tfidf_keywords" -> { (s, dir) =>
      // per-doc TF-IDF keyword extraction: top 5 tokens per document by
      // tf·ln(N/df), round6 before the rank cut, token asc tie-break
      graft.ops.CorpusOps.tfidfKeywords(load(s, dir, "documents"),
        "doc_id", "text", topK = 5)
    },
    "q_pmi_collocations" -> { (s, dir) =>
      // collocation mining: top-50 adjacent-pair PMI at bigram count
      // >= 5 — bigrams built in-projection, two count aggs, no
      // token-stream self-join
      graft.ops.CorpusOps.pmiCollocations(load(s, dir, "documents"),
        "text", minCount = 5L, topK = 50)
    },
    "q_dsir_weights" -> { (s, dir) =>
      // DSIR importance weights: target LM = English docs, raw LM = the
      // rest; hashed-unigram bag LMs, per-doc log-ratio sum
      graft.ops.ImportanceOps
        .importanceWeights(load(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en", buckets = 1024)
        .select(col("doc"), col("is_target"), col("n_tok"),
          round(col("weight"), 6).as("weight"))
        .orderBy(col("doc"))
    },
    "q_dsir_sample" -> { (s, dir) =>
      // Gumbel top-k importance resample of the NON-target pool toward
      // the target distribution (the DSIR selection step): 50 of the
      // raw docs, seeded noise, TakeOrdered plan
      val w = graft.ops.ImportanceOps
        .importanceWeights(load(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en", buckets = 1024)
        .filter(!col("is_target"))
      graft.ops.ImportanceOps
        .importanceResample(w, k = 50, temperature = 2.0, seed = "dsir42")
        .select(col("doc"), round(col("weight"), 6).as("weight"),
          round(col("key"), 6).as("key"))
    },
    "q_bpe_merges" -> { (s, dir) =>
      // distributed BPE training: 12 merges learned from the corpus
      // word-frequency table (OpsSpec proves equality with a driver-side
      // reference implementation; the oracle replays the merge sequence
      // step by step in SQL)
      graft.ops.CorpusOps.bpeMerges(load(s, dir, "documents"), "doc_id",
        "text", numMerges = BpeMergeCount)
    },
    "q_wordpiece_merges" -> { (s, dir) =>
      // WordPiece-criterion training: same loop, pick maximizes
      // pair_count/(freq(l)·freq(r)) — one correctly-rounded IEEE
      // division over exact integers, so the argmax sequence is
      // engine-independent and the oracle replays it bit-for-bit
      graft.ops.CorpusOps.wordpieceMerges(load(s, dir, "documents"),
          "doc_id", "text", numMerges = BpeMergeCount)
        .withColumn("score", round(col("score"), 6))
        .orderBy(col("merge_rank"))
    },
    "q_classifier_train" -> { (s, dir) =>
      // distributed logistic-GD training of the quality classifier:
      // deterministic labels (length > 300 ≈ the corpus median), 64
      // buckets, 6 rounds at lr 0.5; the oracle replays every round
      val docs = load(s, dir, "documents")
        .withColumn("label", (length(col("text")) > 300).cast("double"))
      graft.ops.CorpusOps
        .trainQualityClassifier(docs, "doc_id", "text", "label",
          buckets = 64, iters = 6, lr = 0.5)
        .orderBy(col("bucket"))
    },
    "q_bpe_encode" -> { (s, dir) =>
      // train-then-encode: the learned merge table (a driver constant)
      // applied to every doc in one zero-shuffle kernel pass; output is
      // the per-doc subword count + a fingerprint of the full subword
      // sequence, so the oracle checks every unit in order
      val docs = load(s, dir, "documents")
      val merges = graft.ops.CorpusOps
        .bpeMerges(docs, "doc_id", "text", numMerges = BpeMergeCount)
        .orderBy(col("merge_rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.ops.CorpusOps.bpeEncode(docs, "doc_id", "text", merges)
        .select(col("doc_id"),
          size(col("subwords")).cast("long").as("n_subwords"),
          md5(concat_ws(" ", col("subwords"))).as("subword_fp"))
        .orderBy(col("doc_id"))
    },
    "q_mix_weighted" -> { (s, dir) =>
      // weighted source mixing: per-source keep rates (derived here from
      // the source suffix so the mixture spec is reproducible in the
      // oracle), applied as a deterministic per-row hash threshold
      val docs = load(s, dir, "documents").select(col("doc_id"), col("source"))
      val rates = docs.select(col("source")).distinct()
        .withColumn("rate",
          (pmod(substring(col("source"), 4, 10).cast("long"), lit(5)) + 1) * lit(0.2))
      graft.ops.CorpusOps.weightedMix(docs, "doc_id", "source", rates)
        .select(col("doc_id"), col("source"), col("keep_bucket"))
        .orderBy(col("doc_id"))
    },
    "q_span_corruption" -> { (s, dir) =>
      // T5-style denoising pairs: 15% seeded-hash masking, adjacent
      // masks merge to sentinel spans; deterministic, so the objective
      // data replays bit-identically in the oracle
      graft.ops.CorpusOps.spanCorruption(load(s, dir, "documents"),
          "doc_id", "text", rate = 0.15, seed = "t5-42")
        .orderBy(col("doc"))
    },
    "q_memorization_risk" -> { (s, dir) =>
      // per-doc memorization exposure: fraction of 8-token windows
      // duplicated anywhere in the corpus — the audit face of
      // q_dedup_substrings' removal pass
      graft.ops.DedupOps.memorizationRisk(load(s, dir, "documents"),
          "doc_id", "text", winLen = 8)
        .orderBy(col("doc_id"))
    },
    "q_corpus_report" -> { (s, dir) =>
      // the corpus dataset-card report: scale, vocabulary spread,
      // duplication and length shape as one (metric, value) table —
      // one wide agg + the exact-percentile op, all bounded outputs
      val docs = load(s, dir, "documents")
      val base = docs.select(
        coalesce(graft.functions.TextFunctions.tokenCount(col("text")), lit(0))
          .cast("long").as("nt"),
        col("lang"), col("source"), col("n_chars"), md5(col("text")).as("h"))
      val r1 = base.agg(
        count(lit(1)).cast("double").as("n_docs"),
        sum(col("nt")).cast("double").as("n_tokens"),
        round(avg(col("nt")), 6).as("mean_doc_tokens"),
        countDistinct(col("lang")).cast("double").as("n_langs"),
        countDistinct(col("source")).cast("double").as("n_sources"),
        (count(lit(1)) - countDistinct(col("h"))).cast("double")
          .as("exact_dup_docs")).head()
      val pcts = graft.ops.QuantileOps.exactPercentiles(
          docs.withColumn("g", lit("all")), "n_chars", "g",
          Map("p50_chars" -> 50, "p90_chars" -> 90))
        .collect().map(r => r.getString(1) -> r.getLong(2).toDouble).toMap
      import s.implicits._
      (Seq("n_docs", "n_tokens", "mean_doc_tokens", "n_langs", "n_sources",
        "exact_dup_docs").zipWithIndex
        .map { case (m, i) => (m, r1.getDouble(i)) } ++
        pcts.toSeq)
        .toDF("metric", "value")
        .orderBy(col("metric"))
    },
    "q_mix_epochs" -> { (s, dir) =>
      // epoch-aware upsampling mix: rate > 1 duplicates docs (floor
      // whole copies + hash-fraction extras), the Pile/LLaMA mixture
      // shape; rates derived from the source suffix (0.4 .. 2.4) so
      // the spec replays in the oracle
      val docs = load(s, dir, "documents").select(col("doc_id"), col("source"))
      val rates = docs.select(col("source")).distinct()
        .withColumn("rate",
          (pmod(substring(col("source"), 4, 10).cast("long"), lit(5)) + 1) * lit(0.4))
      graft.ops.CorpusOps.epochMix(docs, "doc_id", "source", rates)
        .select(col("doc_id"), col("source"), col("n_copies"),
          col("epoch_copy"))
        .orderBy(col("doc_id"), col("epoch_copy"))
    },
    "q_corpus_drift" -> { (s, dir) =>
      // distribution-drift monitor: the zh slice vs the rest of the
      // corpus over 1024 hashed token buckets — KL(batch‖ref) + TVD,
      // vocabulary-unbounded state; a continuous pipeline runs this
      // between intake batches before touching mixture weights
      val docs = load(s, dir, "documents")
      graft.ops.ImportanceOps.distributionDrift(
        docs.filter(col("lang") =!= "zh"),
        docs.filter(col("lang") === "zh"),
        "text", buckets = 1024)
    },
    "q_text_normalize" -> { (s, dir) =>
      // Unicode NFC canonicalization gate: the corpus text is ASCII by
      // construction, so combining-mark variants are planted per
      // doc_id residue (the q_pii_redact pattern); the oracle plants
      // byte-identical strings and normalizes with DuckDB's utf8proc
      // NFC — cross-library agreement on the composed form is the gate
      val docs = load(s, dir, "documents")
      val r = pmod(col("doc_id"), lit(5L))
      val planted =
        when(r === 0, concat(col("text"), lit(" Café")))
          .when(r === 1, concat(col("text"), lit(" Ångström")))
          .when(r === 2, concat(col("text"), lit(" 각")))
          .when(r === 3, concat(col("text"), lit(" éclair")))
          .otherwise(col("text"))
      val norm = graft.functions.TextFunctions.nfcNormalize(planted)
      docs.select(col("doc_id"),
          length(planted).cast("long").as("n_before"),
          length(norm).cast("long").as("n_after"),
          (norm =!= planted).as("changed"),
          md5(norm).as("norm_md5"))
        .orderBy(col("doc_id"))
    },
    "q_doremi_weights" -> { (s, dir) =>
      // DoReMi domain reweighting: per-source excess loss (bigram LM
      // trained on the long-doc reference slice vs the whole corpus),
      // 8 exponentiated-gradient rounds with uniform smoothing; the
      // oracle replays every round (the classifier-train gate pattern)
      val docs = load(s, dir, "documents")
      graft.ops.CorpusOps.doremiWeights(docs, "doc_id", "text", "source",
          refPred = length(col("text")) > 300, rounds = 8, eta = 1.0,
          smoothing = 0.1)
        .orderBy(col("domain"))
    },
    "q_select_contrastive" -> { (s, dir) =>
      // RHO-style data selection: top-200 docs by contrastive excess
      // loss (reference-LM score minus corpus-LM score, clipped at 0) —
      // learnable-but-not-learned examples first
      val docs = load(s, dir, "documents")
      graft.ops.CorpusOps.contrastiveSelect(docs, "doc_id", "text",
          refPred = length(col("text")) > 300, k = 200)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("rank"))
    },
    "q_mix_doremi" -> { (s, dir) =>
      // end-to-end DoReMi mixture: learned domain weights → per-source
      // char-budget rates quantized to basis points (integer on both
      // engines, so the hash-threshold mix replays exactly) → epoch
      // mix. Budget 1.5× corpus chars so rates straddle 1 and both the
      // whole-copy and fractional-tail paths execute.
      val docs = load(s, dir, "documents")
      val w = graft.ops.CorpusOps.doremiWeights(docs, "doc_id", "text",
        "source", refPred = length(col("text")) > 300, rounds = 8,
        eta = 1.0, smoothing = 0.1)
      val nch = docs.groupBy(col("source"))
        .agg(sum(col("n_chars")).cast("double").as("_nch"))
      val rates = w.join(nch, w("domain") === nch("source"))
        .select(col("source"),
          (floor(lit(150000.0) * col("weight") / col("_nch") * lit(10000.0))
            .cast("double") / lit(10000.0)).as("rate"))
      graft.ops.CorpusOps.epochMix(docs.select(col("doc_id"), col("source")),
          "doc_id", "source", rates)
        .select(col("doc_id"), col("source"), col("n_copies"),
          col("epoch_copy"))
        .orderBy(col("doc_id"), col("epoch_copy"))
    },
    "q_pii_redact" -> { (s, dir) =>
      // PII scrub pass: the corpus text is digit/@-free by construction
      // (checked against all three sf dirs), so deterministic synthetic
      // PII is planted per doc_id residue — the oracle plants the very
      // same strings, making redaction + per-category counts hash-exact.
      // Pure per-row codegen'd regex work, no shuffle (PiiOps scaladoc).
      import graft.ops.PiiOps
      val docs = load(s, dir, "documents")
        .repartition(s.sessionState.conf.numShufflePartitions)
      val t = piiPlant(col("text"), col("doc_id"))
      val counts = PiiOps.Categories.map { case (cat, re, _) =>
        PiiOps.matchCount(t, re).as(s"n_$cat")
      }
      docs.select(
        Seq(col("doc_id"), PiiOps.redact(t).as("text_redacted")) ++ counts
          :+ PiiOps.piiFree(t).as("pii_free"): _*)
        .orderBy(col("doc_id"))
    }
  )

  /** Deterministic PII planting for q_pii_redact: one category per
    * doc_id residue class mod 11 (classes 5–10 stay clean, so the
    * pii_free gate has mass on both sides). Mirrored verbatim in
    * [[piiPlantSql]].
    */
  private def piiPlant(text: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val r = pmod(id, lit(11L))
    when(r === 0, concat(text, lit(" contact user"), id.cast("string"),
        lit("@mail.example.com now")))
      .when(r === 1, concat(text, lit(" card 4111 1111 1111 1111 on file")))
      .when(r === 2, concat(text, lit(" ssn 123-45-6789 recorded")))
      .when(r === 3, concat(text, lit(" call 415-555-0132 today")))
      .when(r === 4, concat(text, lit(" from 192.168."),
        pmod(id, lit(256L)).cast("string"), lit(".7")))
      .otherwise(text)
  }

  private val piiPlantSql =
    """CASE doc_id % 11
      |  WHEN 0 THEN text || ' contact user' || doc_id || '@mail.example.com now'
      |  WHEN 1 THEN text || ' card 4111 1111 1111 1111 on file'
      |  WHEN 2 THEN text || ' ssn 123-45-6789 recorded'
      |  WHEN 3 THEN text || ' call 415-555-0132 today'
      |  WHEN 4 THEN text || ' from 192.168.' || (doc_id % 256) || '.7'
      |  ELSE text END""".stripMargin

  def oracle: Map[String, String] = {
    val toks = sqlTokens("text")
    val stopIn = TextFunctions.EnglishStopwords.map(w => s"'$w'").mkString(", ")

    val textStats =
      s"""WITH t AS (SELECT doc_id, $toks AS toks, text FROM documents)
         |SELECT doc_id,
         |  len(toks)::BIGINT AS n_tokens,
         |  len(list_distinct(toks))::BIGINT AS n_distinct,
         |  round(CASE WHEN len(toks) = 0 THEN 0.0
         |        ELSE list_aggregate(list_transform(toks, x -> length(x)::DOUBLE), 'sum') / len(toks) END, 6) AS mean_tok_len,
         |  round(CASE WHEN length(text) = 0 THEN 0.0
         |        ELSE length(regexp_replace(text, '$punctClassSql', '', 'g'))::DOUBLE / length(text) END, 6) AS punct_ratio,
         |  round(CASE WHEN len(toks) = 0 THEN 0.0
         |        ELSE len(list_filter(toks, x -> x IN ($stopIn)))::DOUBLE / len(toks) END, 6) AS stopword_ratio,
         |  round(0.4 * least(1.0, len(toks)::DOUBLE / 100.0)
         |      + 0.3 * (1.0 - least(1.0, (CASE WHEN length(text) = 0 THEN 0.0
         |            ELSE length(regexp_replace(text, '$punctClassSql', '', 'g'))::DOUBLE / length(text) END) * 4.0))
         |      + 0.3 * least(1.0, (CASE WHEN len(toks) = 0 THEN 0.0
         |            ELSE len(list_filter(toks, x -> x IN ($stopIn)))::DOUBLE / len(toks) END) * 5.0), 6) AS quality
         |FROM t ORDER BY doc_id""".stripMargin

    val vocabCoverage =
      s"""WITH t AS (SELECT $toks AS toks FROM documents),
         |tok AS (SELECT u.tok FROM t, LATERAL (SELECT unnest(t.toks) AS tok) u),
         |tc AS (SELECT tok, count(*)::BIGINT AS tf FROM tok GROUP BY tok),
         |tot AS (SELECT sum(tf)::BIGINT AS total FROM tc),
         |r AS (SELECT tf, row_number() OVER (ORDER BY tf DESC, tok ASC) AS rn
         |  FROM tc),
         |kk(k) AS (VALUES (5), (10), (20), (1000)),
         |cov AS (SELECT kk.k,
         |    coalesce(sum(r.tf) FILTER (WHERE r.rn <= kk.k), 0)::BIGINT
         |      AS covered
         |  FROM kk CROSS JOIN r GROUP BY kk.k)
         |SELECT cov.k::BIGINT AS k, cov.covered AS covered_tokens,
         |  tot.total AS total_tokens,
         |  round(cov.covered::DOUBLE / tot.total, 6) AS coverage,
         |  round(1.0 - cov.covered::DOUBLE / tot.total, 6) AS oov_rate
         |FROM cov, tot ORDER BY k""".stripMargin

    // Shannon entropies: H = ln(N) − (Σ c·ln c)/N over the token
    // multiset and over the code points of the concatenated tokens
    // (pure [a-z0-9], so DuckDB's empty-delimiter string_split matches
    // the kernel's code-point walk exactly). N ≤ 1 → 0.0 both sides.
    val textEntropy =
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |tok AS (SELECT t.doc_id, u.tok
         |  FROM t, LATERAL (SELECT unnest(t.toks) AS tok) u),
         |tc AS (SELECT doc_id, tok, count(*)::DOUBLE AS c
         |  FROM tok GROUP BY doc_id, tok),
         |te AS (SELECT doc_id, sum(c) AS n, sum(c * ln(c)) AS s
         |  FROM tc GROUP BY doc_id),
         |ch AS (SELECT t.doc_id, u.c AS ch
         |  FROM (SELECT doc_id, array_to_string(toks, '') AS j FROM t) t,
         |       LATERAL (SELECT unnest(string_split(t.j, '')) AS c) u),
         |cc AS (SELECT doc_id, ch, count(*)::DOUBLE AS c
         |  FROM ch GROUP BY doc_id, ch),
         |ce AS (SELECT doc_id, sum(c) AS n, sum(c * ln(c)) AS s
         |  FROM cc GROUP BY doc_id)
         |SELECT d.doc_id,
         |  round(CASE WHEN coalesce(ce.n, 0) <= 1 THEN 0.0
         |        ELSE ln(ce.n) - ce.s / ce.n END, 6) AS char_entropy,
         |  round(CASE WHEN coalesce(te.n, 0) <= 1 THEN 0.0
         |        ELSE ln(te.n) - te.s / te.n END, 6) AS token_entropy
         |FROM documents d
         |LEFT JOIN te ON te.doc_id = d.doc_id
         |LEFT JOIN ce ON ce.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin

    val codes = TextFunctions.LangStopwords.keys.toSeq.sorted
    val hitExprs = codes.map { c =>
      val ws = TextFunctions.LangStopwords(c).map(w => s"'$w'").mkString(", ")
      c -> s"len(list_filter(dt, x -> x IN ($ws)))"
    }.toMap
    // first-wins alphabetical argmax, mirroring TextFunctions.langId's
    // foldRight: code c wins when its hits >= every LATER code's hits
    val caseChain = codes.init.map { c =>
      val later = codes.drop(codes.indexOf(c) + 1)
      val cond = later.map(l => s"h_$c >= h_$l").mkString(" AND ")
      s"WHEN $cond THEN '$c'"
    }.mkString(" ")
    val langid =
      s"""WITH t AS (SELECT doc_id, list_distinct($toks) AS dt FROM documents),
         |h AS (SELECT doc_id, ${codes.map(c => s"${hitExprs(c)} AS h_$c").mkString(", ")} FROM t)
         |SELECT doc_id,
         |  CASE WHEN ${codes.map(c => s"h_$c").mkString(" + ")} = 0 THEN 'und'
         |  $caseChain ELSE '${codes.last}' END AS lang_pred
         |FROM h ORDER BY doc_id""".stripMargin

    val fingerprint =
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents)
         |SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint,
         |  list_aggregate(list_transform(toks, x -> ceil(length(x) / 4.0)::BIGINT), 'sum')::BIGINT AS n_subwords
         |FROM t ORDER BY doc_id""".stripMargin

    val dedupExact =
      s"""WITH h AS (SELECT doc_id,
         |  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash FROM documents)
         |SELECT doc_id, content_hash,
         |  count(*) OVER (PARTITION BY content_hash)::BIGINT AS group_size,
         |  min(doc_id) OVER (PARTITION BY content_hash) AS keep_id,
         |  doc_id <> min(doc_id) OVER (PARTITION BY content_hash) AS is_duplicate
         |FROM h ORDER BY doc_id""".stripMargin

    val dedupIncremental =
      s"""WITH n AS (SELECT doc_id,
         |  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash FROM documents),
         |c AS (SELECT DISTINCT content_hash FROM n WHERE doc_id % 5 <> 0),
         |b AS (SELECT doc_id, content_hash,
         |  min(doc_id) OVER (PARTITION BY content_hash) AS keep_id
         |  FROM n WHERE doc_id % 5 = 0)
         |SELECT b.doc_id, b.content_hash,
         |  (c.content_hash IS NOT NULL) AS dup_in_corpus,
         |  b.doc_id <> b.keep_id AS is_duplicate,
         |  (c.content_hash IS NULL AND b.doc_id = b.keep_id) AS keep
         |FROM b LEFT JOIN c USING (content_hash) ORDER BY b.doc_id""".stripMargin

    // mirror of bigramLmScore: same pruned model (count-desc,
    // lexical tie-break), same add-one smoothing over pruned counts
    val lmScore =
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |bg AS (SELECT doc_id, toks[u.i+1] AS w1, toks[u.i+2] AS w2
         |  FROM t, LATERAL (SELECT unnest(range(0, len(toks)-1)) AS i) u
         |  WHERE len(toks) >= 2),
         |uni AS (SELECT w1, count(*) AS c1
         |  FROM (SELECT unnest(toks) AS w1 FROM t)
         |  GROUP BY w1 ORDER BY c1 DESC, w1 LIMIT 4096),
         |bi AS (SELECT w1, w2, count(*) AS c2 FROM bg
         |  GROUP BY w1, w2 ORDER BY c2 DESC, w1, w2 LIMIT 16384),
         |sc AS (SELECT bg.doc_id,
         |  ln((coalesce(bi.c2, 0) + 1)::DOUBLE / (coalesce(uni.c1, 0) + 4096)) AS lp
         |  FROM bg LEFT JOIN bi USING (w1, w2) LEFT JOIN uni USING (w1)),
         |agg AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams, avg(lp) AS s
         |  FROM sc GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams,
         |  round(agg.s, 6) AS lm_score
         |FROM t LEFT JOIN agg USING (doc_id) ORDER BY t.doc_id""".stripMargin

    // mirror of ImportanceOps.distributionDrift: same md5 buckets,
    // same Laplace smoothing over the full spine, same metric forms
    val corpusDrift =
      s"""WITH t AS (SELECT lang = 'zh' AS is_batch, unnest($toks) AS token
         |  FROM documents),
         |bc AS (SELECT is_batch,
         |    (('0x' || substr(md5(token), 1, 8))::UBIGINT % 1024)::BIGINT AS bucket,
         |    count(*) AS cnt FROM t GROUP BY 1, 2),
         |tot AS (SELECT
         |    sum(CASE WHEN NOT is_batch THEN cnt ELSE 0 END)::DOUBLE AS nr,
         |    sum(CASE WHEN is_batch THEN cnt ELSE 0 END)::DOUBLE AS nb FROM bc),
         |s AS (SELECT g.bucket, r.cnt AS cr, b.cnt AS cb
         |  FROM range(0, 1024) g(bucket)
         |  LEFT JOIN (SELECT bucket, cnt FROM bc WHERE NOT is_batch) r USING (bucket)
         |  LEFT JOIN (SELECT bucket, cnt FROM bc WHERE is_batch) b USING (bucket)),
         |p AS (SELECT
         |    (coalesce(cr, 0) + 1.0) / (tot.nr + 1.0 * 1024) AS pr,
         |    (coalesce(cb, 0) + 1.0) / (tot.nb + 1.0 * 1024) AS pb
         |  FROM s, tot)
         |SELECT (SELECT nr FROM tot)::BIGINT AS ref_tokens,
         |  (SELECT nb FROM tot)::BIGINT AS batch_tokens,
         |  round(sum(pb * ln(pb / pr)), 6) AS kl,
         |  round(sum(abs(pb - pr)) / 2.0, 6) AS tvd
         |FROM p""".stripMargin

    // mirror of q_text_normalize: identical planted byte sequences,
    // DuckDB's utf8proc NFC vs the JVM Normalizer — composed-form
    // agreement is the gate (escapes keep the source ASCII-auditable)
    val textNormalize = {
      val p0 = " Café"
      val p1 = " A" + "̊" + "ngstro" + "̈" + "m"
      val p2 = " 각"
      val p3 = " éclair"
      s"""WITH p AS (SELECT doc_id, CASE doc_id % 5
         |  WHEN 0 THEN text || '$p0'
         |  WHEN 1 THEN text || '$p1'
         |  WHEN 2 THEN text || '$p2'
         |  WHEN 3 THEN text || '$p3'
         |  ELSE text END AS t FROM documents),
         |n AS (SELECT doc_id, t, nfc_normalize(t) AS nt FROM p)
         |SELECT doc_id, length(t)::BIGINT AS n_before,
         |  length(nt)::BIGINT AS n_after, nt <> t AS changed,
         |  md5(nt) AS norm_md5
         |FROM n ORDER BY doc_id""".stripMargin
    }

    // mirror of CorpusOps.excessLoss: TWO bigram LMs over the same
    // token stream — proxy trained on everything, reference trained on
    // the long-doc slice (length > 300, the classifier-train label) —
    // per-doc excess = max(0, round6(ref) − round6(proxy)). Shared by
    // the three DoReMi-family oracles below.
    val excessCte =
      s"""t AS MATERIALIZED (SELECT doc_id, $toks AS toks,
         |    length(text) > 300 AS tr FROM documents),
         |bg AS MATERIALIZED (SELECT doc_id, tr,
         |    toks[u.i+1] AS w1, toks[u.i+2] AS w2
         |  FROM t, LATERAL (SELECT unnest(range(0, len(toks)-1)) AS i) u
         |  WHERE len(toks) >= 2),
         |uni_p AS (SELECT w1, count(*) AS c1
         |  FROM (SELECT unnest(toks) AS w1 FROM t)
         |  GROUP BY w1 ORDER BY c1 DESC, w1 LIMIT 4096),
         |bi_p AS (SELECT w1, w2, count(*) AS c2 FROM bg
         |  GROUP BY w1, w2 ORDER BY c2 DESC, w1, w2 LIMIT 16384),
         |uni_r AS (SELECT w1, count(*) AS c1
         |  FROM (SELECT unnest(toks) AS w1 FROM t WHERE tr)
         |  GROUP BY w1 ORDER BY c1 DESC, w1 LIMIT 4096),
         |bi_r AS (SELECT w1, w2, count(*) AS c2 FROM bg WHERE tr
         |  GROUP BY w1, w2 ORDER BY c2 DESC, w1, w2 LIMIT 16384),
         |sc AS (SELECT bg.doc_id,
         |  ln((coalesce(p2.c2, 0) + 1)::DOUBLE / (coalesce(p1.c1, 0) + 4096)) AS lpp,
         |  ln((coalesce(r2.c2, 0) + 1)::DOUBLE / (coalesce(r1.c1, 0) + 4096)) AS lpr
         |  FROM bg LEFT JOIN bi_p p2 USING (w1, w2)
         |    LEFT JOIN uni_p p1 USING (w1)
         |    LEFT JOIN bi_r r2 USING (w1, w2)
         |    LEFT JOIN uni_r r1 USING (w1)),
         |ex AS MATERIALIZED (SELECT doc_id,
         |  greatest(0.0, round(round(avg(lpr), 6) - round(avg(lpp), 6), 6)) AS excess
         |  FROM sc GROUP BY doc_id)""".stripMargin

    // mirror of CorpusOps.doremiWeights: per-domain mean excess, then
    // 8 unrolled exponentiated-gradient rounds (η=1, smoothing 0.1),
    // α rounded to 6 decimals per round exactly as the Scala loop does
    val doremiRounds = 8
    val doremiSteps = (0 until doremiRounds).map { k =>
      s"""u$k AS MATERIALIZED (SELECT a.domain,
         |    a.a * exp(1.0 * coalesce(e.el, 0.0)) AS u
         |  FROM a$k a JOIN e USING (domain)),
         |a${k + 1} AS MATERIALIZED (SELECT u.domain,
         |    round(0.9 * u.u / (SELECT sum(u2.u) FROM u$k u2)
         |      + 0.1 / (SELECT kk FROM kk), 6) AS a
         |  FROM u$k u)""".stripMargin
    }.mkString(",\n")
    val doremiCte =
      s"""$excessCte,
         |e AS MATERIALIZED (SELECT d.source AS domain,
         |    count(*) AS n_docs, round(avg(ex.excess), 6) AS el
         |  FROM documents d LEFT JOIN ex USING (doc_id) GROUP BY 1),
         |kk AS (SELECT count(*)::DOUBLE AS kk FROM e),
         |a0 AS (SELECT domain, round(1.0 / (SELECT kk FROM kk), 6) AS a FROM e),
         |$doremiSteps""".stripMargin

    val doremiWeights =
      s"""WITH $doremiCte
         |SELECT e.domain, e.n_docs, e.el AS excess_loss,
         |  a$doremiRounds.a AS weight
         |FROM e JOIN a$doremiRounds USING (domain)
         |ORDER BY e.domain""".stripMargin

    val selectContrastive =
      s"""WITH $excessCte
         |SELECT row_number() OVER (ORDER BY excess DESC, doc_id) AS rank,
         |  doc_id, excess
         |FROM ex ORDER BY rank LIMIT 200""".stripMargin

    // mirror of q_mix_doremi: basis-point-quantized rates from the
    // learned weights (integer floor on both engines), then the exact
    // epochMix hash-threshold rule from the mixEpochs oracle
    val mixDoremi =
      s"""WITH $doremiCte,
         |nch AS (SELECT source, sum(n_chars)::DOUBLE AS nch
         |  FROM documents GROUP BY source),
         |r AS (SELECT n.source,
         |    floor(150000.0 * a.a / n.nch * 10000)::BIGINT::DOUBLE / 10000.0 AS rate
         |  FROM a$doremiRounds a JOIN nch n ON a.domain = n.source),
         |d AS (SELECT doc_id, source,
         |  (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 10000)::BIGINT
         |    AS keep_bucket FROM documents),
         |c AS (SELECT d.doc_id, d.source,
         |  floor(r.rate)::BIGINT + CASE WHEN d.keep_bucket <
         |    floor((r.rate - floor(r.rate)) * 10000)::BIGINT THEN 1 ELSE 0 END
         |    AS n_copies
         |  FROM d JOIN r USING (source))
         |SELECT doc_id, source, n_copies,
         |  unnest(range(1, n_copies + 1)) AS epoch_copy
         |FROM c WHERE n_copies > 0
         |ORDER BY doc_id, epoch_copy""".stripMargin

    // mirror of temperatureRates: same α-sampling closed form over the
    // same per-language char sums
    val mixTemperature =
      s"""WITH c AS (SELECT lang, sum(n_chars)::DOUBLE AS n
         |  FROM documents GROUP BY lang),
         |z AS (SELECT sum(pow(n, 0.7)) AS z FROM c)
         |SELECT c.lang, c.n::BIGINT AS n,
         |  round(100000.0 * pow(c.n, 0.7 - 1.0) / z.z, 6) AS rate
         |FROM c, z ORDER BY c.lang""".stripMargin

    // mirror of qualityBuckets over (langId, bigramLmScore): same
    // pruned LM, same quantize-to-1e-6 longs, same integer-ceil
    // tercile ranks as exactPercentiles, same <=-cutoff assignment
    val qualityBuckets =
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |ld AS (SELECT doc_id, list_distinct(toks) AS dt FROM t),
         |h AS (SELECT doc_id, ${codes.map(c => s"${hitExprs(c)} AS h_$c").mkString(", ")} FROM ld),
         |lpred AS (SELECT doc_id,
         |  CASE WHEN ${codes.map(c => s"h_$c").mkString(" + ")} = 0 THEN 'und'
         |  $caseChain ELSE '${codes.last}' END AS lang_pred FROM h),
         |bg AS (SELECT doc_id, toks[u.i+1] AS w1, toks[u.i+2] AS w2
         |  FROM t, LATERAL (SELECT unnest(range(0, len(toks)-1)) AS i) u
         |  WHERE len(toks) >= 2),
         |uni AS (SELECT w1, count(*) AS c1
         |  FROM (SELECT unnest(toks) AS w1 FROM t)
         |  GROUP BY w1 ORDER BY c1 DESC, w1 LIMIT 4096),
         |bi AS (SELECT w1, w2, count(*) AS c2 FROM bg
         |  GROUP BY w1, w2 ORDER BY c2 DESC, w1, w2 LIMIT 16384),
         |sc AS (SELECT bg.doc_id,
         |  ln((coalesce(bi.c2, 0) + 1)::DOUBLE / (coalesce(uni.c1, 0) + 4096)) AS lp
         |  FROM bg LEFT JOIN bi USING (w1, w2) LEFT JOIN uni USING (w1)),
         |agg AS (SELECT doc_id, avg(lp) AS ls FROM sc GROUP BY doc_id),
         |scored AS (SELECT t.doc_id, lpred.lang_pred, agg.ls
         |  FROM t JOIN lpred USING (doc_id) LEFT JOIN agg USING (doc_id)),
         |q AS (SELECT doc_id, lang_pred, round(ls * 1000000)::BIGINT AS qv
         |  FROM scored WHERE ls IS NOT NULL),
         |gn AS (SELECT lang_pred, count(*) AS n FROM q GROUP BY lang_pred),
         |r AS (SELECT lang_pred, qv,
         |  row_number() OVER (PARTITION BY lang_pred ORDER BY qv) AS rn FROM q),
         |cut AS (SELECT r.lang_pred,
         |    max(CASE WHEN r.rn = (33 * gn.n + 99) // 100 THEN r.qv END) AS c33,
         |    max(CASE WHEN r.rn = (66 * gn.n + 99) // 100 THEN r.qv END) AS c66
         |  FROM r JOIN gn USING (lang_pred) GROUP BY r.lang_pred)
         |SELECT s.doc_id, s.lang_pred, round(s.ls, 6) AS lm_score,
         |  CASE WHEN s.ls IS NULL THEN 'unscored'
         |       WHEN q.qv <= cut.c33 THEN 'tail'
         |       WHEN q.qv <= cut.c66 THEN 'middle'
         |       ELSE 'head' END AS bucket
         |FROM scored s LEFT JOIN q USING (doc_id)
         |LEFT JOIN cut ON s.lang_pred = cut.lang_pred
         |ORDER BY s.doc_id""".stripMargin

    // mirror of commonSegmentRemoval: same 20-token segmentation, same
    // distinct-doc threshold, same space-joined reconstruction; DuckDB
    // groups by segment text directly (the md5 keying is Spark-side
    // shuffle hygiene, not semantics)
    val dedupSegments =
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |ne AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
         |segs AS (SELECT ne.doc_id, u.i AS pos,
         |  array_to_string(ne.toks[u.i*20+1 : u.i*20+20], ' ') AS seg_text
         |  FROM ne, LATERAL (SELECT unnest(range(0, ((len(ne.toks)-1)//20)+1)) AS i) u),
         |common AS (SELECT seg_text FROM segs GROUP BY seg_text
         |  HAVING count(DISTINCT doc_id) >= 2),
         |marked AS (SELECT s.doc_id, s.pos, s.seg_text, (c.seg_text IS NOT NULL) AS com
         |  FROM segs s LEFT JOIN common c USING (seg_text)),
         |reb AS (SELECT doc_id, count(*)::BIGINT AS n_segments,
         |  sum(CASE WHEN com THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
         |  coalesce(array_to_string(list(seg_text ORDER BY pos) FILTER (WHERE NOT com), ' '), '') AS clean_text
         |  FROM marked GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(r.n_segments, 0) AS n_segments,
         |  coalesce(r.n_dropped, 0) AS n_dropped,
         |  coalesce(r.clean_text, '') AS clean_text
         |FROM t LEFT JOIN reb r USING (doc_id) ORDER BY t.doc_id""".stripMargin

    // mirrors DedupOps.duplicateSpanRemoval: 0-based window positions,
    // first-occurrence keep = rn 1 ordered by (doc_id, pos) — identical
    // to Spark's min(struct(doc_id, pos)); removal positions expand,
    // distinct, and index the 1-based DuckDB token list via j-1
    val dedupSubstrings =
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |w AS (SELECT ne.doc_id, u.i - 1 AS pos,
         |  md5(array_to_string(ne.toks[u.i : u.i + 7], ' ')) AS h
         |  FROM (SELECT doc_id, toks FROM t WHERE len(toks) >= 8) ne,
         |  LATERAL (SELECT unnest(range(1, len(ne.toks) - 8 + 2)) AS i) u),
         |w2 AS (SELECT doc_id, pos, h,
         |  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM w),
         |fl AS (SELECT doc_id, pos FROM w2 WHERE rn > 1),
         |rm AS (SELECT doc_id, list_sort(list(DISTINCT rp)) AS rl FROM
         |  (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS rp FROM fl)
         |  GROUP BY doc_id)
         |SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
         |  coalesce(len(r.rl), 0)::BIGINT AS n_removed,
         |  CASE WHEN r.rl IS NULL THEN array_to_string(t.toks, ' ')
         |    -- coalesce: DuckDB's array_to_string([]) is NULL, Spark's ''
         |    ELSE coalesce(array_to_string([t.toks[j] for j in range(1, len(t.toks) + 1)
         |      if NOT list_contains(r.rl, j - 1)], ' '), '')
         |  END AS clean_text
         |FROM t LEFT JOIN rm r USING (doc_id) ORDER BY t.doc_id""".stripMargin

    val shingles3 = sqlWordShingles(toks, 3)
    val hashed3 = sqlHashedShingles(shingles3)
    val minhash4 =
      s"""WITH sh AS (SELECT doc_id, $hashed3 AS hashed FROM documents)
         |SELECT doc_id, ${(0 until 4).map(i => s"${sqlMinhash("hashed", i)} AS mh_$i").mkString(", ")}
         |FROM sh ORDER BY doc_id""".stripMargin

    val sig32 = s"[${(0 until 32).map(i => sqlMinhash("hashed", i)).mkString(", ")}]"
    val lshPairs =
      s"""WITH sh AS (SELECT doc_id AS doc, $hashed3 AS hashed FROM documents),
         |sg AS (SELECT doc, hashed, $sig32 AS sig FROM sh),
         |banded AS (
         |  SELECT doc, b.band,
         |    md5(array_to_string(list_transform(sig[b.band*8+1:b.band*8+8], x -> x::VARCHAR), ',')) AS key
         |  FROM sg, (SELECT unnest([0,1,2,3]) AS band) b),
         |pairs AS (
         |  SELECT DISTINCT l.doc AS doc_a, r.doc AS doc_b
         |  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key AND l.doc < r.doc)
         |SELECT p.doc_a, p.doc_b, round(${sqlJaccard("a.hashed", "b.hashed")}, 6) AS jaccard
         |FROM pairs p JOIN sg a ON p.doc_a = a.doc JOIN sg b ON p.doc_b = b.doc
         |WHERE ${sqlJaccard("a.hashed", "b.hashed")} >= 0.0
         |ORDER BY doc_a, doc_b""".stripMargin

    // cross-set variant of lshPairs: left side corpus (doc % 5 <> 0),
    // right side batch (doc % 5 = 0) — no doc_a < doc_b dedup needed,
    // the sets are disjoint
    val lshIncremental =
      s"""WITH sh AS (SELECT doc_id AS doc, $hashed3 AS hashed FROM documents),
         |sg AS (SELECT doc, hashed, $sig32 AS sig FROM sh),
         |banded AS (
         |  SELECT doc, b.band,
         |    md5(array_to_string(list_transform(sig[b.band*8+1:b.band*8+8], x -> x::VARCHAR), ',')) AS key
         |  FROM sg, (SELECT unnest([0,1,2,3]) AS band) b),
         |pairs AS (
         |  SELECT DISTINCT l.doc AS corpus_id, r.doc AS batch_id
         |  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key
         |  WHERE l.doc % 5 <> 0 AND r.doc % 5 = 0)
         |SELECT p.corpus_id, p.batch_id, round(${sqlJaccard("a.hashed", "b.hashed")}, 6) AS jaccard
         |FROM pairs p JOIN sg a ON p.corpus_id = a.doc JOIN sg b ON p.batch_id = b.doc
         |WHERE ${sqlJaccard("a.hashed", "b.hashed")} >= 0.0
         |ORDER BY corpus_id, batch_id""".stripMargin

    val voteTerms = (0 until 32).map { i =>
      s"CASE WHEN list_aggregate(list_transform(hashes, h -> CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END), 'sum') > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString(" + ")
    val simhash =
      s"""WITH t AS (SELECT doc_id,
         |  list_transform($toks, x -> (('0x' || substr(md5(x), 1, 8))::UBIGINT)::BIGINT) AS hashes
         |  FROM documents)
         |SELECT doc_id, ($voteTerms)::BIGINT AS simhash FROM t ORDER BY doc_id""".stripMargin

    val charSh =
      """list_distinct(list_transform(
        | list_distinct(CASE WHEN length(norm) <= 3 THEN [norm]
        |   ELSE [substr(norm, i, 3) for i in range(1, length(norm) - 1)]
        |   END),
        | s -> (('0x' || substr(md5(s), 1, 15))::UBIGINT)::BIGINT))""".stripMargin
        .replaceAll("\n", " ")
    val ngramJaccard =
      s"""WITH t AS (SELECT lang || '_' || (n_chars % 8) AS grp, doc_id AS doc,
         |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents),
         |sh AS (SELECT grp, doc, $charSh AS sh FROM t)
         |SELECT l.grp AS grp, l.doc AS doc_a, r.doc AS doc_b,
         |  round(${sqlJaccard("l.sh", "r.sh")}, 6) AS jaccard
         |FROM sh l JOIN sh r ON l.grp = r.grp AND l.doc < r.doc
         |WHERE ${sqlJaccard("l.sh", "r.sh")} >= 0.5
         |ORDER BY l.grp, doc_a, doc_b""".stripMargin

    val qualityRules =
      s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents),
         |m AS (SELECT doc_id,
         |  len(toks)::BIGINT AS n_words,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |    ELSE list_aggregate(list_transform(toks, x -> length(x)::DOUBLE), 'sum') / len(toks) END AS mean_len,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |    ELSE (length(text) - length(translate(text, '#@~', '')))::DOUBLE / len(toks) END AS symbol_ratio,
         |  len(list_filter(list_distinct(toks), x -> x IN ($stopIn)))::BIGINT AS stop_hits
         |  FROM t)
         |SELECT doc_id, n_words,
         |  (n_words >= 20 AND n_words <= 100000) AS wc_ok,
         |  (mean_len >= 3.0 AND mean_len <= 10.0) AS mean_len_ok,
         |  round(symbol_ratio, 6) AS symbol_ratio,
         |  stop_hits,
         |  ((n_words >= 20 AND n_words <= 100000) AND (mean_len >= 3.0 AND mean_len <= 10.0)
         |    AND symbol_ratio < 0.1 AND stop_hits >= 2) AS passes
         |FROM m ORDER BY doc_id""".stripMargin

    val simhashPairs =
      s"""WITH t AS (SELECT doc_id,
         |  list_transform($toks, x -> (('0x' || substr(md5(x), 1, 8))::UBIGINT)::BIGINT) AS hashes
         |  FROM documents),
         |fp AS (SELECT doc_id AS doc, ($voteTerms)::BIGINT AS sh FROM t),
         |banded AS (SELECT doc, sh, b.band, (sh >> (b.band * 8)) & 255 AS key
         |  FROM fp, (SELECT unnest([0,1,2,3]) AS band) b),
         |pairs AS (SELECT DISTINCT l.doc AS doc_a, r.doc AS doc_b,
         |    bit_count(xor(l.sh, r.sh))::BIGINT AS hamming
         |  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key AND l.doc < r.doc)
         |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
         |ORDER BY doc_a, doc_b""".stripMargin

    // non-distinct 2-grams with the same <n guard the Spark side uses
    val grams2 =
      """CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        | ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]
        | END""".stripMargin.replaceAll("\n", " ")
    val repetition =
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |g AS (SELECT doc_id, unnest($grams2) AS g FROM t),
         |cnt AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM g GROUP BY doc_id, g),
         |s AS (SELECT doc_id, max(c) AS max_c, sum(c)::BIGINT AS n_grams FROM cnt GROUP BY doc_id),
         |tok AS (SELECT doc_id, len(toks)::DOUBLE AS n_tok,
         |        len(list_distinct(toks))::DOUBLE AS n_dist FROM t)
         |SELECT s.doc_id, s.n_grams,
         |  round(s.max_c::DOUBLE / s.n_grams, 6) AS top_gram_ratio,
         |  round(CASE WHEN tok.n_tok = 0 THEN 0.0 ELSE 1.0 - tok.n_dist / tok.n_tok END, 6) AS dup_token_ratio
         |FROM s JOIN tok ON s.doc_id = tok.doc_id
         |ORDER BY s.doc_id""".stripMargin

    // min-reachable-id per node over the undirected simhash pair graph
    // == component-minimum labeling (mirror of DedupOps.duplicateClusters)
    val clusters =
      s"""WITH RECURSIVE t AS (SELECT doc_id,
         |  list_transform($toks, x -> (('0x' || substr(md5(x), 1, 8))::UBIGINT)::BIGINT) AS hashes
         |  FROM documents),
         |fp AS (SELECT doc_id AS doc, ($voteTerms)::BIGINT AS sh FROM t),
         |banded AS (SELECT doc, sh, b.band, (sh >> (b.band * 8)) & 255 AS key
         |  FROM fp, (SELECT unnest([0,1,2,3]) AS band) b),
         |p AS (SELECT DISTINCT l.doc AS doc_a, r.doc AS doc_b
         |  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key AND l.doc < r.doc
         |  WHERE bit_count(xor(l.sh, r.sh)) <= 3),
         |und AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |        UNION SELECT doc_b AS src, doc_a AS dst FROM p),
         |reach AS (
         |  SELECT src AS doc, src AS r FROM (SELECT DISTINCT src FROM und)
         |  UNION
         |  SELECT u.src AS doc, reach.r FROM und u JOIN reach ON u.dst = reach.doc)
         |SELECT doc, min(r) AS cluster, (doc = min(r)) AS is_canonical
         |FROM reach GROUP BY doc ORDER BY doc""".stripMargin

    // clusters' component labeling + the quality-rules score columns,
    // then the per-cluster quality argmax — mirror of
    // DedupOps.keepBestPerCluster over the same verified fragments
    val keepBest =
      s"""WITH RECURSIVE t AS (SELECT doc_id, $toks AS toks FROM documents),
         |sc AS (SELECT doc_id,
         |  len(list_filter(list_distinct(toks), x -> x IN ($stopIn)))::BIGINT AS stop_hits,
         |  len(toks)::BIGINT AS n_words FROM t),
         |h AS (SELECT doc_id,
         |  list_transform(toks, x -> (('0x' || substr(md5(x), 1, 8))::UBIGINT)::BIGINT) AS hashes
         |  FROM t),
         |fp AS (SELECT doc_id AS doc, ($voteTerms)::BIGINT AS sh FROM h),
         |banded AS (SELECT doc, sh, b.band, (sh >> (b.band * 8)) & 255 AS key
         |  FROM fp, (SELECT unnest([0,1,2,3]) AS band) b),
         |p AS (SELECT DISTINCT l.doc AS doc_a, r.doc AS doc_b
         |  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key AND l.doc < r.doc
         |  WHERE bit_count(xor(l.sh, r.sh)) <= 3),
         |und AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |        UNION SELECT doc_b AS src, doc_a AS dst FROM p),
         |reach AS (
         |  SELECT src AS doc, src AS r FROM (SELECT DISTINCT src FROM und)
         |  UNION
         |  SELECT u.src AS doc, reach.r FROM und u JOIN reach ON u.dst = reach.doc),
         |cl AS (SELECT doc, min(r) AS cluster FROM reach GROUP BY doc),
         |j AS (SELECT sc.doc_id, coalesce(cl.cluster, sc.doc_id) AS cluster,
         |  sc.stop_hits, sc.n_words FROM sc LEFT JOIN cl ON sc.doc_id = cl.doc)
         |SELECT doc_id, cluster, stop_hits, n_words,
         |  (row_number() OVER (PARTITION BY cluster
         |    ORDER BY stop_hits DESC, n_words DESC, doc_id) = 1) AS keep
         |FROM j ORDER BY doc_id""".stripMargin

    // rank-per-16 in seeded-hash order == unit-weight exclusive prefix
    // sum / 16 (mirror of the Spark side's packShards reuse)
    val shuffleShards =
      s"""WITH t AS (SELECT doc_id,
         |  md5('shuf42:' || doc_id::VARCHAR) AS shuffle_key FROM documents)
         |SELECT doc_id, shuffle_key,
         |  CAST(floor((row_number() OVER (ORDER BY shuffle_key) - 1) / 16.0)
         |    AS BIGINT) AS shard_id
         |FROM t ORDER BY doc_id""".stripMargin

    val curriculum =
      s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
         |r AS (SELECT doc_id, n_chars,
         |    row_number() OVER (ORDER BY n_chars) AS rn FROM documents),
         |t(p) AS (VALUES (10),(20),(30),(40),(50),(60),(70),(80),(90)),
         |thr AS (SELECT t.p, r.n_chars AS q
         |  FROM r CROSS JOIN nn JOIN t ON r.rn = (t.p * nn.n + 99) // 100),
         |b AS (SELECT d.doc_id,
         |    (SELECT count(*) FROM thr WHERE d.n_chars > thr.q)::BIGINT AS decile
         |  FROM documents d),
         |k AS (SELECT doc_id, decile,
         |    CAST(9 - decile AS VARCHAR)
         |      || md5('cur42:' || CAST(doc_id AS VARCHAR))
         |      || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS key
         |  FROM b)
         |SELECT doc_id, decile,
         |  CAST(floor((row_number() OVER (ORDER BY key) - 1) / 16.0) AS BIGINT)
         |    AS shard_id
         |FROM k ORDER BY doc_id""".stripMargin

    val spanCorruption =
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |e AS (SELECT doc_id, u.i - 1 AS pos, toks[u.i] AS tok
         |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) u),
         |m AS (SELECT doc_id, pos, tok,
         |  (('0x' || substr(md5('t5-42:' || doc_id || ':' || pos), 1, 8))
         |    ::UBIGINT % 10000)::BIGINT < CAST(0.15 * 10000 AS BIGINT) AS masked
         |  FROM e),
         |s AS (SELECT *, masked AND NOT coalesce(
         |    lag(masked) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS strt
         |  FROM m),
         |s2 AS (SELECT *, sum(CASE WHEN strt THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS UNBOUNDED PRECEDING) - 1 AS sid
         |  FROM s),
         |p AS (SELECT doc_id, pos, masked, sid,
         |  CASE WHEN NOT masked THEN tok
         |       WHEN strt THEN '<extra_id_' || sid || '>' END AS ip,
         |  CASE WHEN strt THEN '<extra_id_' || sid || '> ' || tok
         |       WHEN masked THEN tok END AS tp
         |  FROM s2),
         |g AS (SELECT doc_id,
         |  array_to_string(list(ip ORDER BY pos) FILTER (WHERE ip IS NOT NULL), ' ')
         |    AS input_text,
         |  array_to_string(list(tp ORDER BY pos) FILTER (WHERE tp IS NOT NULL), ' ')
         |    AS target_text,
         |  coalesce(max(sid) FILTER (WHERE masked), -1) + 1 AS n_spans,
         |  sum(CASE WHEN masked THEN 1 ELSE 0 END)::BIGINT AS n_masked
         |  FROM p GROUP BY doc_id)
         |SELECT d.doc_id AS doc,
         |  coalesce(g.input_text, '') AS input_text,
         |  coalesce(g.target_text, '') AS target_text,
         |  coalesce(g.n_spans, 0)::BIGINT AS n_spans,
         |  coalesce(g.n_masked, 0)::BIGINT AS n_masked
         |FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin

    val memorizationRisk =
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |w AS (SELECT ne.doc_id,
         |  md5(array_to_string(ne.toks[u.i : u.i + 7], ' ')) AS h
         |  FROM (SELECT doc_id, toks FROM t WHERE len(toks) >= 8) ne,
         |  LATERAL (SELECT unnest(range(1, len(ne.toks) - 8 + 2)) AS i) u),
         |d AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
         |pd AS (SELECT w.doc_id, count(*)::BIGINT AS n_dup_windows
         |  FROM w JOIN d USING (h) GROUP BY w.doc_id)
         |SELECT t.doc_id,
         |  greatest(len(t.toks) - 8 + 1, 0)::BIGINT AS n_windows,
         |  coalesce(pd.n_dup_windows, 0)::BIGINT AS n_dup_windows,
         |  CASE WHEN len(t.toks) >= 8 THEN
         |    round(coalesce(pd.n_dup_windows, 0)::DOUBLE /
         |      (len(t.toks) - 8 + 1), 6)
         |  ELSE 0.0 END AS risk
         |FROM t LEFT JOIN pd USING (doc_id) ORDER BY t.doc_id""".stripMargin

    val corpusReport =
      s"""WITH t AS (SELECT doc_id, lang, source, n_chars,
         |    coalesce(len($toks), 0)::BIGINT AS nt, md5(text) AS h
         |  FROM documents),
         |nn AS (SELECT count(*)::BIGINT AS n FROM t),
         |base AS (SELECT
         |    count(*)::DOUBLE AS n_docs,
         |    sum(nt)::DOUBLE AS n_tokens,
         |    round(avg(nt), 6) AS mean_doc_tokens,
         |    count(DISTINCT lang)::DOUBLE AS n_langs,
         |    count(DISTINCT source)::DOUBLE AS n_sources,
         |    (count(*) - count(DISTINCT h))::DOUBLE AS exact_dup_docs
         |  FROM t),
         |r AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars) AS rn FROM t)
         |SELECT metric, value FROM (
         |  SELECT 'n_docs' AS metric, n_docs AS value FROM base
         |  UNION ALL SELECT 'n_tokens', n_tokens FROM base
         |  UNION ALL SELECT 'mean_doc_tokens', mean_doc_tokens FROM base
         |  UNION ALL SELECT 'n_langs', n_langs FROM base
         |  UNION ALL SELECT 'n_sources', n_sources FROM base
         |  UNION ALL SELECT 'exact_dup_docs', exact_dup_docs FROM base
         |  UNION ALL SELECT 'p50_chars', n_chars::DOUBLE FROM r, nn
         |    WHERE rn = (50 * nn.n + 99) // 100
         |  UNION ALL SELECT 'p90_chars', n_chars::DOUBLE FROM r, nn
         |    WHERE rn = (90 * nn.n + 99) // 100)
         |ORDER BY metric""".stripMargin

    val mixEpochs =
      s"""WITH r AS (SELECT source,
         |  ((substr(source, 4)::BIGINT % 5) + 1) * 0.4 AS rate
         |  FROM (SELECT DISTINCT source FROM documents)),
         |d AS (SELECT doc_id, source,
         |  (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 10000)::BIGINT
         |    AS keep_bucket FROM documents),
         |c AS (SELECT d.doc_id, d.source,
         |  floor(r.rate)::BIGINT + CASE WHEN d.keep_bucket <
         |    floor((r.rate - floor(r.rate)) * 10000)::BIGINT THEN 1 ELSE 0 END
         |    AS n_copies
         |  FROM d JOIN r USING (source))
         |SELECT doc_id, source, n_copies,
         |  unnest(range(1, n_copies + 1)) AS epoch_copy
         |FROM c WHERE n_copies > 0
         |ORDER BY doc_id, epoch_copy""".stripMargin

    val chunkOverlap =
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |n AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM t
         |  WHERE len(toks) > 0),
         |c AS (SELECT doc_id, toks, n,
         |    unnest(range(0, 1 + (greatest(0, n - 64) + 47) // 48)) AS chunk_id
         |  FROM n)
         |SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
         |  least(chunk_id * 48 + 64, n) AS end_tok,
         |  array_to_string(
         |    toks[chunk_id * 48 + 1 : least(chunk_id * 48 + 64, n)], ' ')
         |    AS chunk_text
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin

    val tokenBudget =
      s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
         |r AS (SELECT doc_id, n_chars,
         |    row_number() OVER (ORDER BY n_chars) AS rn FROM documents),
         |t(p) AS (VALUES (10),(20),(30),(40),(50),(60),(70),(80),(90)),
         |thr AS (SELECT t.p, r.n_chars AS q
         |  FROM r CROSS JOIN nn JOIN t ON r.rn = (t.p * nn.n + 99) // 100),
         |b AS (SELECT d.doc_id, d.text,
         |    (SELECT count(*) FROM thr WHERE d.n_chars > thr.q)::BIGINT AS decile
         |  FROM documents d),
         |k AS (SELECT doc_id, decile,
         |    coalesce(len($toks), 0)::BIGINT AS n_tokens,
         |    CAST(9 - decile AS VARCHAR)
         |      || md5('cur42:' || CAST(doc_id AS VARCHAR))
         |      || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS key
         |  FROM b),
         |c AS (SELECT doc_id, decile, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY key
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         |      AS budget_used
         |  FROM k)
         |SELECT doc_id, decile, n_tokens, budget_used
         |FROM c WHERE budget_used <= 10000 ORDER BY doc_id""".stripMargin

    val shardPack =
      s"""WITH t AS (SELECT doc_id, len($toks)::BIGINT AS n_tokens FROM documents)
         |SELECT doc_id, n_tokens,
         |  CAST(floor(coalesce(sum(n_tokens) OVER
         |    (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    / 1000.0) AS BIGINT) AS shard_id
         |FROM t ORDER BY doc_id""".stripMargin

    // the composed pipeline reuses the URL/domain CTEs (UrlQueries),
    // the langid CASE chain and the quality-rule metrics verbatim,
    // then dedups and packs survivors — any drift between a stage and
    // its standalone oracle shows up here
    val prepPipeline =
      s"""WITH ${UrlQueries.hostCtes},
         |${HtmlQueries.hxCtes},
         |domt AS (SELECT doc_id, ${UrlQueries.domainSql} AS domain FROM dom0),
         |dstats AS (SELECT domain, count(*) AS n_docs FROM domt GROUP BY 1),
         |dtot AS (SELECT count(*) AS total FROM domt),
         |dbad AS (SELECT domain FROM dstats CROSS JOIN dtot
         |  WHERE n_docs * 20 > total OR domain IN (${UrlQueries.blockList})),
         |gated AS (SELECT doc_id, domain FROM domt
         |  WHERE domain NOT IN (SELECT domain FROM dbad)),
         |t AS (SELECT g.doc_id, g.domain, hx.content AS text,
         |    ${Tables.sqlTokens("hx.content")} AS toks
         |  FROM gated g JOIN hx ON g.doc_id = hx.doc_id
         |    AND hx.n_boiler * 2 <= hx.n_lines),
         |h AS (SELECT doc_id,
         |  ${codes.map { c =>
              val ws = graft.functions.TextFunctions.LangStopwords(c)
                .map(w => s"'$w'").mkString(", ")
              s"len(list_filter(list_distinct(toks), x -> x IN ($ws))) AS h_$c"
            }.mkString(", ")}
         |  FROM t),
         |lang AS (SELECT doc_id,
         |  CASE WHEN ${codes.map(c => s"h_$c").mkString(" + ")} = 0 THEN 'und'
         |  $caseChain ELSE '${codes.last}' END AS lang_pred FROM h),
         |m AS (SELECT doc_id,
         |  len(toks)::BIGINT AS n_words,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |    ELSE list_aggregate(list_transform(toks, x -> length(x)::DOUBLE), 'sum') / len(toks) END AS mean_len,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |    ELSE (length(text) - length(translate(text, '#@~', '')))::DOUBLE / len(toks) END AS symbol_ratio,
         |  len(list_filter(list_distinct(toks), x -> x IN ($stopIn)))::BIGINT AS stop_hits
         |  FROM t),
         |kept AS (SELECT t.doc_id, t.domain, t.text, lang.lang_pred, len(t.toks)::BIGINT AS n_tokens
         |  FROM t JOIN lang ON t.doc_id = lang.doc_id JOIN m ON t.doc_id = m.doc_id
         |  WHERE lang.lang_pred = 'en'
         |    AND m.n_words >= 20 AND m.n_words <= 100000
         |    AND m.mean_len >= 3.0 AND m.mean_len <= 10.0
         |    AND m.symbol_ratio < 0.1 AND m.stop_hits >= 2),
         |ch AS (SELECT doc_id, domain, lang_pred, n_tokens,
         |  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash FROM kept),
         |surv AS (SELECT doc_id, domain, lang_pred, n_tokens FROM
         |  (SELECT ch.*, min(doc_id) OVER (PARTITION BY content_hash) AS keep_id FROM ch)
         |  WHERE doc_id = keep_id)
         |SELECT doc_id, domain, lang_pred, n_tokens,
         |  CAST(floor(coalesce(sum(n_tokens) OVER
         |    (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    / 1000.0) AS BIGINT) AS shard_id
         |FROM surv ORDER BY doc_id""".stripMargin

    val sh5 = sqlWordShingles(toks, 5)
    val decontaminate =
      s"""WITH t AS (SELECT doc_id, $sh5 AS sh FROM documents),
         |ev AS (SELECT DISTINCT unnest(sh) AS gram FROM t WHERE doc_id % 19 = 0),
         |tr AS (SELECT doc_id, unnest(sh) AS gram FROM t WHERE doc_id % 19 <> 0),
         |m AS (SELECT tr.doc_id, count(*) AS n FROM tr JOIN ev USING (gram)
         |  GROUP BY tr.doc_id)
         |SELECT t.doc_id, coalesce(m.n, 0)::BIGINT AS n_overlap,
         |  coalesce(m.n, 0) >= 3 AS contaminated
         |FROM t LEFT JOIN m ON t.doc_id = m.doc_id
         |WHERE t.doc_id % 19 <> 0 ORDER BY t.doc_id""".stripMargin

    val splitAssign =
      s"""WITH b AS (SELECT doc_id,
         |  (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 100)::BIGINT
         |    AS split_bucket FROM documents)
         |SELECT doc_id, split_bucket,
         |  CASE WHEN split_bucket < 80 THEN 'train'
         |       WHEN split_bucket < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin

    val mixWeighted =
      s"""WITH r AS (SELECT source,
         |  ((substr(source, 4)::BIGINT % 5) + 1) * 0.2 AS rate
         |  FROM (SELECT DISTINCT source FROM documents)),
         |d AS (SELECT doc_id, source,
         |  (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 10000)::BIGINT
         |    AS keep_bucket FROM documents)
         |SELECT d.doc_id, d.source, d.keep_bucket
         |FROM d JOIN r USING (source)
         |WHERE d.keep_bucket < floor(r.rate * 10000)::BIGINT
         |ORDER BY d.doc_id""".stripMargin

    val seqPack =
      s"""WITH t AS (SELECT doc_id, len($toks)::BIGINT AS ntok FROM documents),
         |o AS (SELECT doc_id, ntok,
         |  coalesce(sum(ntok) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
         |  FROM t),
         |e AS (SELECT doc_id, ntok, off,
         |  unnest(range(off // 256, (off + ntok - 1) // 256 + 1)) AS seq_id
         |  FROM o WHERE ntok > 0)
         |SELECT doc_id, seq_id::BIGINT AS seq_id,
         |  (greatest(off, seq_id * 256) - off)::BIGINT AS doc_start,
         |  (least(off + ntok, (seq_id + 1) * 256) - off)::BIGINT AS doc_end,
         |  (greatest(off, seq_id * 256) - seq_id * 256)::BIGINT AS seq_pos
         |FROM e ORDER BY doc_id, seq_id""".stripMargin

    // BPE replay, unrolled: word frequencies once, then BpeMergeCount
    // steps of (adjacent-pair count → deterministic max → merge). Words
    // are DOUBLE-SPACE-joined symbol strings with double-space ends;
    // each merge is a literal replace of ' l  r ' with ' lr ' — the
    // single-space pattern boundaries leave one space on each side, so
    // ADJACENT occurrences don't swallow each other's separator and the
    // replace merges every non-overlapping occurrence left-to-right,
    // exactly like the Spark kernel's one-pass scan.
    // shared training CTE chain: w0 (word frequencies as double-space
    // symbol strings) then BpeMergeCount steps of pair-count → best →
    // merge; used by both the training and the encoding oracle
    // MATERIALIZED is load-bearing on w/p/b: each w$k is referenced
    // TWICE (by p$k and by w${k+1}), so DuckDB's default CTE inlining
    // re-evaluates the whole prefix chain 2^BpeMergeCount times — the
    // sf0.001 replay went from unbounded-minutes to sub-second with
    // materialization (same fix as the refined-communities oracle)
    val bpeTrainCtes = {
      val steps = (0 until BpeMergeCount).map { k =>
        s"""p$k AS MATERIALIZED (
           |  SELECT struct_extract(u.p, 'l') AS l, struct_extract(u.p, 'r') AS r,
           |    sum(freq)::BIGINT AS cnt
           |  FROM (SELECT freq, string_split(trim(s), '  ') AS tk FROM w$k) t,
           |    UNNEST([struct_pack(l := t.tk[i], r := t.tk[i+1])
           |            for i in range(1, len(t.tk))]) AS u(p)
           |  GROUP BY 1, 2),
           |b$k AS MATERIALIZED (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
           |w${k + 1} AS MATERIALIZED (
           |  SELECT freq, replace(s, ' '||b.l||'  '||b.r||' ', ' '||b.l||b.r||' ') AS s
           |  FROM w$k, b$k b)""".stripMargin
      }.mkString(",\n")
      s"""w0 AS MATERIALIZED (
         |  SELECT count(*)::BIGINT AS freq,
         |    '  ' || trim(regexp_replace(word, '(.)', '\\1  ', 'g')) || '  ' AS s
         |  FROM (SELECT unnest($toks) AS word FROM documents)
         |  GROUP BY word),
         |$steps""".stripMargin
    }

    val bpeMerges = {
      val unions = (0 until BpeMergeCount).map { k =>
        s"""SELECT $k::BIGINT AS merge_rank, l AS l_sym, r AS r_sym,
           |  l||r AS merged, cnt AS pair_count FROM b$k""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $bpeTrainCtes
         |SELECT * FROM ($unions) ORDER BY merge_rank""".stripMargin
    }

    // WordPiece replay: identical machinery with the score-based pick —
    // sc$k counts symbol occurrences (weighted by word freq) in the
    // round's word table; the score is ONE IEEE division over exact
    // integers (< 2^53), bit-identical to Spark's, so ORDER BY score
    // DESC picks the same pair every round
    val wpTrainCtes = {
      val steps = (0 until BpeMergeCount).map { k =>
        s"""p$k AS MATERIALIZED (
           |  SELECT struct_extract(u.p, 'l') AS l, struct_extract(u.p, 'r') AS r,
           |    sum(freq)::BIGINT AS cnt
           |  FROM (SELECT freq, string_split(trim(s), '  ') AS tk FROM w$k) t,
           |    UNNEST([struct_pack(l := t.tk[i], r := t.tk[i+1])
           |            for i in range(1, len(t.tk))]) AS u(p)
           |  GROUP BY 1, 2),
           |sc$k AS MATERIALIZED (
           |  SELECT u.sym AS s, sum(freq)::BIGINT AS sf
           |  FROM (SELECT freq, unnest(string_split(trim(s), '  ')) AS sym FROM w$k) u
           |  GROUP BY 1),
           |b$k AS MATERIALIZED (
           |  SELECT p.l, p.r, p.cnt,
           |    p.cnt::DOUBLE / (sl.sf * sr.sf)::DOUBLE AS score
           |  FROM p$k p JOIN sc$k sl ON p.l = sl.s JOIN sc$k sr ON p.r = sr.s
           |  ORDER BY score DESC, p.l, p.r LIMIT 1),
           |w${k + 1} AS MATERIALIZED (
           |  SELECT freq, replace(s, ' '||b.l||'  '||b.r||' ', ' '||b.l||b.r||' ') AS s
           |  FROM w$k, b$k b)""".stripMargin
      }.mkString(",\n")
      s"""w0 AS MATERIALIZED (
         |  SELECT count(*)::BIGINT AS freq,
         |    '  ' || trim(regexp_replace(word, '(.)', '\\1  ', 'g')) || '  ' AS s
         |  FROM (SELECT unnest($toks) AS word FROM documents)
         |  GROUP BY word),
         |$steps""".stripMargin
    }
    val wordpieceMergesSql = {
      val unions = (0 until BpeMergeCount).map { k =>
        s"""SELECT $k::BIGINT AS merge_rank, l AS l_sym, r AS r_sym,
           |  l||r AS merged, cnt AS pair_count, round(score, 6) AS score FROM b$k""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $wpTrainCtes
         |SELECT * FROM ($unions) ORDER BY merge_rank""".stripMargin
    }

    // encoding replay: docs as ONE double-space symbol string with a
    // non-mergeable '|' word separator (merges are learned from alnum
    // tokens, so '|' never appears in a pair and boundaries can't
    // bridge), then the same 12 replaces in rank order
    val bpeEncode = {
      val docSteps = (0 until BpeMergeCount).map { k =>
        s"""doc${k + 1} AS (
           |  SELECT doc_id,
           |    replace(s, ' '||b.l||'  '||b.r||' ', ' '||b.l||b.r||' ') AS s
           |  FROM doc$k, b$k b)""".stripMargin
      }.mkString(",\n")
      s"""WITH $bpeTrainCtes,
         |doc0 AS (
         |  SELECT doc_id, CASE WHEN len($toks) = 0 THEN NULL ELSE
         |    '  ' || array_to_string(list_transform($toks,
         |      w -> trim(regexp_replace(w, '(.)', '\\1  ', 'g'))), '  |  ') || '  '
         |    END AS s
         |  FROM documents),
         |$docSteps,
         |enc AS (
         |  SELECT doc_id,
         |    list_filter(string_split(trim(coalesce(s, '')), '  '),
         |      x -> x <> '|' AND x <> '') AS subs
         |  FROM doc$BpeMergeCount)
         |SELECT doc_id, len(subs)::BIGINT AS n_subwords,
         |  md5(array_to_string(subs, ' ')) AS subword_fp
         |FROM enc ORDER BY doc_id""".stripMargin
    }

    // logistic-GD training replay, unrolled: per round, doc raw scores
    // under the current weights, probabilities, bucket gradients, then
    // the 6-dp-quantized update — the same quantization the Spark loop
    // applies, so iterates are bit-reproducible across engines
    val classifierTrain = {
      val iters = 6; val lrS = "0.5"
      // MATERIALIZED on every iterate: w$k / p$k / bb$k are each
      // referenced twice per round, so default CTE inlining compounds
      // to an exponential re-evaluation of the whole prefix (same
      // pathology as the BPE replay; same fix)
      val steps = (0 until iters).map { k =>
        s"""s$k AS MATERIALIZED (SELECT f.doc, sum(f.f * w.w) AS raw
           |  FROM feat f JOIN w$k w USING (bucket) GROUP BY 1),
           |p$k AS MATERIALIZED (SELECT l.doc, l.y,
           |    1.0 / (1.0 + exp(-(coalesce(s.raw, 0.0) + b.bias))) AS pr
           |  FROM l LEFT JOIN s$k s USING (doc), bb$k b),
           |g$k AS MATERIALIZED (SELECT f.bucket,
           |    sum((p.pr - p.y) * f.f) / (SELECT n FROM nn) AS g
           |  FROM feat f JOIN p$k p USING (doc) GROUP BY 1),
           |w${k + 1} AS MATERIALIZED (SELECT w.bucket,
           |    round(w.w - $lrS * coalesce(g.g, 0.0), 6) AS w
           |  FROM w$k w LEFT JOIN g$k g USING (bucket)),
           |bb${k + 1} AS MATERIALIZED (SELECT round(b.bias -
           |    $lrS * (SELECT sum(pr - y) FROM p$k) / (SELECT n FROM nn), 6) AS bias
           |  FROM bb$k b)""".stripMargin
      }.mkString(",\n")
      s"""WITH l AS MATERIALIZED (SELECT doc_id AS doc,
         |    CASE WHEN length(text) > 300 THEN 1.0 ELSE 0.0 END AS y
         |  FROM documents),
         |nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM l),
         |tok AS (SELECT doc_id AS doc, unnest($toks) AS token FROM documents),
         |bc AS (SELECT doc,
         |    (('0x' || substr(md5(token), 1, 8))::UBIGINT % 64)::BIGINT AS bucket,
         |    count(*)::DOUBLE AS cnt
         |  FROM tok GROUP BY 1, 2),
         |feat AS MATERIALIZED (SELECT doc, bucket,
         |    cnt / sum(cnt) OVER (PARTITION BY doc) AS f FROM bc),
         |w0 AS MATERIALIZED (SELECT DISTINCT bucket, 0.0 AS w FROM feat),
         |bb0 AS MATERIALIZED (SELECT 0.0 AS bias),
         |$steps
         |SELECT * FROM (
         |  SELECT bucket, w AS weight FROM w$iters
         |  UNION ALL SELECT -1::BIGINT, bias FROM bb$iters)
         |ORDER BY bucket""".stripMargin
    }

    val qualityClassifier = {
      import graft.functions.HashFunctions.{minhashA, minhashB, MinhashPrime}
      s"""WITH w AS (SELECT i AS bucket,
         |  ((i * ${minhashA(1)} + ${minhashB(1)}) % $MinhashPrime) / $MinhashPrime * 2 - 1 AS weight
         |  FROM range(0, 1024) t(i)),
         |tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |b AS (SELECT doc_id,
         |  (('0x' || substr(md5(token), 1, 8))::UBIGINT % 1024)::BIGINT AS bucket
         |  FROM tok),
         |sc AS (SELECT doc_id, count(*)::BIGINT AS n_tok,
         |  sum(coalesce(w.weight, 0)) AS wsum
         |  FROM b LEFT JOIN w USING (bucket) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(sc.n_tok, 0)::BIGINT AS n_tok,
         |  round(1.0 / (1.0 + exp(-(coalesce(sc.wsum / sc.n_tok, 0.0)))), 6) AS score
         |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }

    val vocabTopK =
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents)
         |SELECT token, count(*)::BIGINT AS tf,
         |  count(DISTINCT doc_id)::BIGINT AS doc_freq
         |FROM tok GROUP BY token
         |ORDER BY tf DESC, token LIMIT 100""".stripMargin

    // mirror of CorpusOps.tfidfKeywords: same tokenizer, raw ln(N/df)
    // idf, round6 BEFORE the per-doc rank so the cut matches
    val tfidfKeywords =
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf
         |  FROM tok GROUP BY 1, 2),
         |dfq AS (SELECT token, count(*)::BIGINT AS doc_freq
         |  FROM tf GROUP BY 1),
         |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |sc AS (SELECT tf.doc_id AS doc, tf.token, tf.tf, dfq.doc_freq,
         |    round(tf.tf::DOUBLE * ln(n.n / dfq.doc_freq::DOUBLE), 6)
         |      AS tfidf
         |  FROM tf JOIN dfq USING (token) CROSS JOIN n),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc
         |    ORDER BY tfidf DESC, token) AS rk FROM sc)
         |SELECT doc, rk::BIGINT AS rk, token, tf, doc_freq, tfidf
         |FROM r WHERE rk <= 5 ORDER BY doc, rk""".stripMargin

    // mirror of CorpusOps.pmiCollocations: same tokenizer, bigrams by
    // index comprehension (NOT the distinct shingle helper — PMI needs
    // every occurrence), identical PMI formula and round6-before-cut
    val pmiCollocations =
      s"""WITH tok AS (SELECT $toks AS t FROM documents),
         |uni AS (SELECT unnest(t) AS w FROM tok),
         |uc AS (SELECT w, count(*)::BIGINT AS c FROM uni GROUP BY 1),
         |nt AS (SELECT count(*)::DOUBLE AS n FROM uni),
         |bg AS (SELECT unnest([t[i] || ' ' || t[i+1]
         |    for i in range(1, len(t))]) AS b FROM tok),
         |bc AS (SELECT split_part(b, ' ', 1) AS w1,
         |    split_part(b, ' ', 2) AS w2, count(*)::BIGINT AS c12
         |  FROM bg GROUP BY 1, 2),
         |nb AS (SELECT count(*)::DOUBLE AS n FROM bg)
         |SELECT w1, w2, c12,
         |  round(ln(c12::DOUBLE * nt.n * nt.n /
         |    (nb.n * u1.c::DOUBLE * u2.c::DOUBLE)), 6) AS pmi
         |FROM bc JOIN uc u1 ON u1.w = bc.w1
         |JOIN uc u2 ON u2.w = bc.w2 CROSS JOIN nt CROSS JOIN nb
         |WHERE c12 >= 5 ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin

    val heavyHitters =
      s"""WITH tok AS (SELECT unnest($toks) AS token
         |    FROM documents WHERE text IS NOT NULL),
         |n AS (SELECT count(*)::DOUBLE AS n FROM tok)
         |SELECT token, count(*)::BIGINT AS cnt
         |FROM tok, n GROUP BY token, n.n
         |HAVING count(*)::DOUBLE > 0.002 * n.n
         |ORDER BY token""".stripMargin

    // shared DSIR weight pipeline: hashed-unigram LMs (target = en),
    // add-1 smoothing over 1024 buckets, per-doc log-ratio sums —
    // mirrors ImportanceOps.importanceWeights arithmetic exactly
    val dsirWeightCte =
      s"""tok AS (SELECT doc_id AS doc, (lang = 'en') AS is_target,
         |    unnest($toks) AS token
         |  FROM documents WHERE text IS NOT NULL),
         |tb AS (SELECT doc, is_target,
         |    (('0x' || substr(md5(token), 1, 8))::UBIGINT % 1024)::BIGINT AS bucket
         |  FROM tok),
         |bc AS MATERIALIZED (SELECT is_target, bucket, count(*)::BIGINT AS cnt
         |  FROM tb GROUP BY 1, 2),
         |tot AS (SELECT
         |    sum(CASE WHEN is_target THEN cnt ELSE 0 END)::DOUBLE AS nt,
         |    sum(CASE WHEN NOT is_target THEN cnt ELSE 0 END)::DOUBLE AS nr
         |  FROM bc),
         |lam AS MATERIALIZED (SELECT b.i AS bucket,
         |    ln((coalesce(tc.cnt, 0)::DOUBLE + 1.0) / (tot.nt + 1024.0)) -
         |    ln((coalesce(rc.cnt, 0)::DOUBLE + 1.0) / (tot.nr + 1024.0)) AS lambda
         |  FROM range(0, 1024) b(i)
         |  CROSS JOIN tot
         |  LEFT JOIN (SELECT * FROM bc WHERE is_target) tc ON tc.bucket = b.i
         |  LEFT JOIN (SELECT * FROM bc WHERE NOT is_target) rc ON rc.bucket = b.i),
         |perdoc AS (SELECT tb.doc, count(*)::BIGINT AS n_tok,
         |    sum(lam.lambda) AS weight
         |  FROM tb JOIN lam ON lam.bucket = tb.bucket GROUP BY tb.doc),
         |w AS (SELECT d.doc_id AS doc, (d.lang = 'en') AS is_target,
         |    coalesce(p.n_tok, 0)::BIGINT AS n_tok,
         |    coalesce(p.weight, 0.0) AS weight
         |  FROM documents d LEFT JOIN perdoc p ON p.doc = d.doc_id)""".stripMargin

    val dsirWeights =
      s"""WITH $dsirWeightCte
         |SELECT doc, is_target, n_tok, round(weight, 6) AS weight
         |FROM w ORDER BY doc""".stripMargin

    val dsirSample =
      s"""WITH $dsirWeightCte,
         |keyed AS (SELECT doc, weight,
         |    weight / 2.0 + (-ln(-ln(
         |      (('0x' || substr(md5('dsir42-' || CAST(doc AS VARCHAR)), 1, 8))
         |        ::UBIGINT::DOUBLE + 0.5) / 4294967296.0))) AS key
         |  FROM w WHERE NOT is_target)
         |SELECT doc, round(weight, 6) AS weight, round(key, 6) AS key
         |FROM keyed ORDER BY key DESC, doc LIMIT 50""".stripMargin

    Map(
      "q_decontaminate" -> decontaminate,
      // bloom path is exact end-to-end: same oracle as the broadcast path
      "q_decontaminate_bloom" -> decontaminate,
      "q_split_assign" -> splitAssign,
      "q_mix_weighted" -> mixWeighted,
      "q_mix_epochs" -> mixEpochs,
      "q_corpus_report" -> corpusReport,
      "q_memorization_risk" -> memorizationRisk,
      "q_span_corruption" -> spanCorruption,
      "q_seq_pack" -> seqPack,
      "q_vocab_topk" -> vocabTopK,
      "q_tfidf_keywords" -> tfidfKeywords,
      "q_pmi_collocations" -> pmiCollocations,
      "q_vocab_coverage" -> vocabCoverage,
      "q_heavy_hitters" -> heavyHitters,
      "q_dsir_weights" -> dsirWeights,
      "q_dsir_sample" -> dsirSample,
      "q_bpe_merges" -> bpeMerges,
      "q_wordpiece_merges" -> wordpieceMergesSql,
      "q_bpe_encode" -> bpeEncode,
      "q_classifier_train" -> classifierTrain,
      "q_quality_classifier" -> qualityClassifier,
      "q_prep_pipeline" -> prepPipeline,
      "q_shard_pack" -> shardPack,
      "q_shuffle_shards" -> shuffleShards,
      "q_curriculum" -> curriculum,
      "q_token_budget" -> tokenBudget,
      "q_chunk_overlap" -> chunkOverlap,
      "q_text_quality_rules" -> qualityRules,
      "q_text_repetition" -> repetition,
      "q_dedup_clusters" -> clusters,
      "q_dedup_keep_best" -> keepBest,
      "q_dedup_simhash_pairs" -> simhashPairs,
      "q_text_stats" -> textStats,
      "q_text_entropy" -> textEntropy,
      "q_text_langid" -> langid,
      "q_text_fingerprint" -> fingerprint,
      "q_dedup_exact" -> dedupExact,
      "q_dedup_minhash" -> minhash4,
      "q_dedup_incremental" -> dedupIncremental,
      // bloom-index path is exact end-to-end: same oracle as the scan path
      "q_dedup_incremental_bloom" -> dedupIncremental,
      "q_dedup_segments" -> dedupSegments,
      "q_dedup_substrings" -> dedupSubstrings,
      "q_lm_score" -> lmScore,
      "q_quality_buckets" -> qualityBuckets,
      "q_mix_temperature" -> mixTemperature,
      "q_doremi_weights" -> doremiWeights,
      "q_select_contrastive" -> selectContrastive,
      "q_mix_doremi" -> mixDoremi,
      "q_text_normalize" -> textNormalize,
      "q_corpus_drift" -> corpusDrift,
      "q_dedup_incremental_lsh" -> lshIncremental,
      "q_dedup_lsh_pairs" -> lshPairs,
      "q_dedup_simhash" -> simhash,
      "q_dedup_ngram_jaccard" -> ngramJaccard,
      "q_pii_redact" -> piiRedact,
      "q_unigram_encode" -> unigramEncodePinned,
      "q_unigram_seed" -> unigramSeed,
      "q_unigram_train_round" -> unigramTrainRound,
      "q_unigram_train_round2" -> unigramTrainRound2
    )
  }

  /** Pure-SQL replay of the unigram trainer's seeding pass: tokenize,
    * explode every substring of length ≤ 4 with word-frequency
    * multiplicity, keep all single chars + the top 4·500 multi-char
    * pieces by (count desc, piece asc) — the same constants as
    * q_unigram_train_round's frozen seed.
    */
  private def unigramSeed: String = {
    val toks = sqlTokens("text")
    s"""WITH words AS (SELECT word, count(*)::BIGINT AS freq
       |  FROM (SELECT unnest($toks) AS word FROM documents) GROUP BY 1),
       |pieces AS (
       |  SELECT piece, sum(freq)::BIGINT AS cnt FROM (
       |    SELECT freq, unnest(flatten([[substring(word, s, l)
       |        for l in range(1, least(4, length(word) - s + 1) + 1)]
       |        for s in range(1, length(word) + 1)])) AS piece
       |    FROM words)
       |  GROUP BY 1),
       |singles AS (SELECT piece, cnt FROM pieces WHERE length(piece) = 1),
       |multi AS (SELECT piece, cnt FROM pieces WHERE length(piece) > 1
       |  ORDER BY cnt DESC, piece LIMIT 2000)
       |SELECT piece, cnt FROM singles
       |UNION ALL SELECT piece, cnt FROM multi
       |ORDER BY cnt DESC, piece""".stripMargin
  }

  /** Round-1 replay of the unigram trainer: the word-frequency table,
    * the freq-weighted piece re-count, the single-char survival floor,
    * and the (freq desc, piece asc) ranking are all SQL over corpus
    * data; the per-word Viterbi segmentation joins in from the pinned
    * independent replay ([[UnigramTrainPinned]]).
    */
  private def unigramTrainRound: String = {
    val toks = sqlTokens("text")
    s"""WITH words AS (SELECT word, count(*)::BIGINT AS freq
       |  FROM (SELECT unnest($toks) AS word FROM documents) GROUP BY 1),
       |seg AS (SELECT * FROM ${UnigramTrainPinned.SegMapValues}),
       |counts AS (SELECT s.piece, sum(w.freq)::BIGINT AS cnt
       |  FROM words w JOIN seg s ON w.word = s.word GROUP BY 1),
       |chars AS (SELECT DISTINCT unnest(
       |    [substring(word, s, 1) for s in range(1, length(word) + 1)]) AS piece
       |  FROM words),
       |survived AS (
       |  SELECT c.piece, greatest(coalesce(k.cnt, 0), 1)::BIGINT AS freq
       |  FROM chars c LEFT JOIN counts k ON c.piece = k.piece
       |  UNION ALL
       |  SELECT piece, cnt AS freq FROM counts WHERE length(piece) > 1)
       |SELECT row_number() OVER (ORDER BY freq DESC, piece)::BIGINT AS rank,
       |  piece, freq
       |FROM survived ORDER BY rank""".stripMargin
  }

  /** Round-2 replay, chained: the re-count joins the pinned Viterbi
    * map segmented under the FROZEN round-1 model of the vocabSize=40/
    * seedFactor=1 scenario ([[UnigramTrainPinned.SegMapValues2]]);
    * survival floor and the BINDING final prune (all singles + best
    * multi-char pieces to vocabSize, by (freq desc, piece asc)) replay
    * in SQL over corpus data.
    */
  private def unigramTrainRound2: String = {
    val toks = sqlTokens("text")
    s"""WITH words AS (SELECT word, count(*)::BIGINT AS freq
       |  FROM (SELECT unnest($toks) AS word FROM documents) GROUP BY 1),
       |seg AS (SELECT * FROM ${UnigramTrainPinned.SegMapValues2}),
       |counts AS (SELECT s.piece, sum(w.freq)::BIGINT AS cnt
       |  FROM words w JOIN seg s ON w.word = s.word GROUP BY 1),
       |chars AS (SELECT DISTINCT unnest(
       |    [substring(word, s, 1) for s in range(1, length(word) + 1)]) AS piece
       |  FROM words),
       |survived AS (
       |  SELECT c.piece, greatest(coalesce(k.cnt, 0), 1)::BIGINT AS freq,
       |    1 AS is_single
       |  FROM chars c LEFT JOIN counts k ON c.piece = k.piece
       |  UNION ALL
       |  SELECT piece, cnt AS freq, 0 FROM counts WHERE length(piece) > 1),
       |nsing AS (SELECT count(*)::BIGINT AS ns FROM survived WHERE is_single = 1),
       |multi_ranked AS (SELECT piece, freq,
       |    row_number() OVER (ORDER BY freq DESC, piece) AS mrn
       |  FROM survived WHERE is_single = 0),
       |pruned AS (
       |  SELECT piece, freq FROM survived WHERE is_single = 1
       |  UNION ALL
       |  SELECT piece, freq FROM multi_ranked CROSS JOIN nsing
       |  WHERE mrn <= greatest(40 - ns, 0))
       |SELECT row_number() OVER (ORDER BY freq DESC, piece)::BIGINT AS rank,
       |  piece, freq
       |FROM pruned ORDER BY rank""".stripMargin
  }

  /** Pinned oracle for the Viterbi unigram ENCODE: the DP is not
    * reasonably SQL-replayable, so the expected rows are derived by an
    * INDEPENDENT from-scratch replay of the documented kernel semantics
    * (tools/unigram_replay.py — longest-piece-first strictly-greater
    * tie rule, -100 unk fallback, no Scala code shared) over the
    * sf0.01 documents subset (doc_id % 7 = 0), encoding with the SAME
    * frozen model the Spark query uses ([[UnigramPinnedModel]]).
    * Regenerate with `unigram_replay.py <sf_dir> --sql` only when the
    * pinned model or subset changes. pieces_md5 covers the FULL piece
    * sequence; head_pieces keeps a mismatch diagnosable.
    */
  private val unigramEncodePinned: String =
    """SELECT doc_id::BIGINT AS doc_id, n_pieces::BIGINT AS n_pieces,
        |  head_pieces, pieces_md5
        |FROM (VALUES
        |  (0, 44, 'key agg row scan slow fast tabl e valu e part hash valu e tabl e', 'fa5ca2c1d192804398b7b519b8eb99fb'),
        |  (7, 102, 'batc h wind ow vect or hash fast part wind ow the st ream key co', 'ce96d5dd6ebb4f381f8d2e930896842b'),
        |  (14, 139, 'st ream s mall agg the g roup st ream line g roup g roup fast', '0be2a98be1743c418236ddef8b0c519a'),
        |  (21, 56, 'key orde r join cust omer batc h row data cust omer vect or key cust', '10f5f86851bdac073a87614513c21ca8'),
        |  (28, 92, 'quer y hash key line s park agg fast slow row key filt er wind ow', '15096006c80db20e6ce774a4d27b1b1b'),
        |  (35, 118, 'filt er join join big agg key filt er a a tabl e big tabl e', '035e5872f1d76ccdeb2fe177891860e7'),
        |  (42, 83, 'g roup co lumn key wind ow join g roup wind ow scan orde r join', '3a197f60c7b3d5bdff7b659c94655838'),
        |  (49, 70, 'quer y batc h data batc h slow key co lumn scan sort vect or big', 'e3a2a06521965673e36d4e5388de1873'),
        |  (56, 149, 'merg e key part vect or data orde r wind ow s park row tabl e', '498fe11a2f94054fe404f044c36ae6d4'),
        |  (63, 142, 'scan s mall data slow scan quer y row slow big part filt er wind ow', 'daa98c5ecdc961514dd8ed5d52bcf8c3'),
        |  (70, 141, 'the co lumn cust omer data st ream slow wind ow hash part a line g', 'a490994bdf261769e913ef5adbf69df2'),
        |  (77, 86, 'a tabl e wind ow key batc h slow co lumn big orde r join fast', '10dcb3b054a7dfc4d24b0e9da772a547'),
        |  (84, 111, 'hash part orde r hash scan g roup sort data s park cust omer scan quer', '334232af37a7f8b2e6931c9324e1e0f5'),
        |  (91, 122, 'batc h s mall tabl e s park quer y quer y a agg part join', 'fa859c3353a135d5a822e5e40e93cf39'),
        |  (98, 151, 's park scan s park tabl e hash batc h vect or key cust omer merg', '075f339c5677d407043f41036a335c05'),
        |  (105, 88, 'the fast co lumn batc h valu e hash filt er scan sort wind ow data', '78971003d3e79e6ee2aa6595627ae672'),
        |  (112, 90, 'vect or orde r the scan the vect or wind ow batc h merg e merg', '911715cc6ad3bd9bedd93edafafdbb4d'),
        |  (119, 23, 'co lumn filt er agg row agg vect or part batc h join g roup scan', '6e694d5d40da243bc4a47a04be7ad21e'),
        |  (126, 134, 'key hash line the merg e cust omer s park orde r cust omer wind ow', '3e4e529d9fe71747a155146bbc899b6d'),
        |  (133, 135, 'row cust omer co lumn tabl e fast key vect or s mall scan join vect', '8657fde6bb3dd92d74c2045eb49c2ccd'),
        |  (140, 44, 'g roup agg big quer y filt er the sort agg valu e sort wind ow', 'b0865c6a16372470cba279c3726c76bc'),
        |  (147, 121, 'g roup batc h key s mall valu e st ream hash batc h agg cust', 'caede49a1cda9b5c02301182932364f1'),
        |  (154, 119, 'sort orde r valu e a co lumn slow hash line scan merg e the the', '085b25778aca26406acc0e4cd8f1affe'),
        |  (161, 127, 'fast join key cust omer the sort tabl e valu e fast join st ream sort', '749a898b6872b6224ecc17664a124f1e'),
        |  (168, 63, 's mall quer y slow cust omer slow quer y join batc h st ream part', '98952f94bc28a95fe18ff5d41b4b694a'),
        |  (175, 44, 'g roup g roup orde r fast valu e sort co lumn wind ow g roup', 'bafe81c3f8023be7e86008fc9356537d'),
        |  (182, 93, 'agg key orde r row vect or batc h cust omer the join quer y g', '6c950561d1eaa59bfcca628d7f7e7d2f'),
        |  (189, 59, 'g roup wind ow line slow valu e big quer y st ream part valu e', '794ccedffa8e88b7f4aaf0a029d62614'),
        |  (196, 91, 'filt er big co lumn slow agg batc h quer y merg e valu e scan', '516f5c089ba6f3b95b600a04e18b542f'),
        |  (203, 34, 'co lumn tabl e line batc h slow quer y valu e scan sort part tabl', 'ab53d2025c45402ff5b5a74562badcbc'),
        |  (210, 140, 'cust omer batc h wind ow co lumn data orde r s mall vect or fast', 'ef958c3bf476d14ecf90b1dd7eb76c2f'),
        |  (217, 96, 'tabl e part key sort co lumn key line hash s mall sort vect or the', '546fe3ab64e7b8b42bf7321a78819c3e'),
        |  (224, 119, 'scan part batc h cust omer g roup join wind ow data scan big co lumn', '7b14a0815b4dc91a9c6ca28970ac4945'),
        |  (231, 45, 'a part wind ow slow s park tabl e fast filt er data orde r s', '0ac1820cb5bf509e3f9c472e7388a779'),
        |  (238, 72, 'quer y quer y part slow orde r key valu e fast wind ow merg e', '7da5afd2f7b9a02b33e945c74880255e'),
        |  (245, 133, 'the s park join st ream a s mall orde r merg e co lumn g', '1cbac3f504f1f3c5b813fe5c0f0dedfa'),
        |  (252, 67, 's park wind ow filt er valu e key vect or hash scan cust omer sort', '5c2d69337a64dd393c1ce6ecc7ba5576'),
        |  (259, 68, 'line data slow data a vect or scan cust omer hash wind ow filt er part', '27f723b815e3976d923fc184afd10119'),
        |  (266, 57, 'line key filt er join g roup the key cust omer merg e cust omer sort', 'c8a8f7b7c90a6ed04f443d74849a0841'),
        |  (273, 45, 'agg tabl e wind ow scan tabl e part co lumn quer y vect or s', '5fbdebc47288e120acb7ab15a3f3fd71'),
        |  (280, 124, 'scan wind ow valu e fast agg tabl e st ream data batc h merg e', '15b979053aa09fcbd4b8192c4d919127'),
        |  (287, 28, 'cust omer merg e sort g roup join the slow s park g roup agg co', '262fa568abdee4b78f176b847dc108a0'),
        |  (294, 129, 'row hash agg valu e co lumn merg e st ream sort wind ow sort g', '0bf06e40bd57297d4afc1c137eb87848'),
        |  (301, 141, 'g roup fast fast data row data st ream part st ream hash st ream orde', '37e5b5b206366bea51dced6fb460e6f0'),
        |  (308, 26, 'batc h scan wind ow valu e filt er join st ream big co lumn hash', '342fc4991ca7bb0d317834b38e4a2cbd'),
        |  (315, 129, 'g roup s mall data line agg s park row merg e tabl e fast wind', 'a0c690478859ad06443a68883644ddf8'),
        |  (322, 69, 'tabl e wind ow big co lumn fast co lumn key s mall batc h wind', 'aab10fde2d556f0a4f0c4014bbd3ea4b'),
        |  (329, 97, 'merg e batc h big row sort hash scan wind ow g roup quer y cust', '067e8a69e5343a05a28e2edb22da2ede'),
        |  (336, 101, 'tabl e hash cust omer co lumn quer y line scan merg e data orde r', '505294b84039bacd5e887f24c5d345c5'),
        |  (343, 40, 'row slow data data merg e s mall part data a tabl e the orde r', 'e826c78779aa98888cc718850f43ee6c'),
        |  (350, 120, 'batc h join sort valu e quer y sort sort st ream fast vect or sort', 'c2044eb1ff2b809d22f4db9da27caffa'),
        |  (357, 67, 'hash a sort filt er key hash batc h orde r line join part st ream', 'da9114ff7aad96445fd20f51fc01574d'),
        |  (364, 74, 'fast co lumn co lumn line big batc h orde r orde r part key vect', '82a79da1c9e43d6021ea01a3bf2f5b67'),
        |  (371, 95, 'wind ow big row wind ow big s mall the co lumn sort agg batc h', '48d92c4349e037a59ade26c68db4ec08'),
        |  (378, 95, 'sort s mall tabl e scan st ream orde r s park big vect or the', '1f3e528d7919d9f15e09bc9201fe0c99'),
        |  (385, 106, 'cust omer big scan line cust omer merg e hash scan tabl e a vect or', 'b7ec52033d8b9da57a883045bbbf2c9c'),
        |  (392, 39, 'vect or g roup co lumn orde r wind ow row key s mall quer y', 'ec58142f87f347c24d58f710ba4ca14a'),
        |  (399, 84, 'co lumn key sort wind ow st ream row cust omer sort row batc h agg', '8fec4d8748d9cd893916e1144c48fa10'),
        |  (406, 129, 'tabl e cust omer hash vect or valu e a orde r merg e fast batc', '67b8aa502b9863e5729cbd3c36409349'),
        |  (413, 120, 'merg e g roup part scan row valu e co lumn batc h the tabl e', 'f0b2a3b964c59ca91c5c91ab353fe3ec'),
        |  (420, 123, 'fast merg e sort fast fast slow sort scan data g roup g roup tabl e', '40332a48c7e01f770216ec8628dbfdf8'),
        |  (427, 115, 'a key wind ow s mall data co lumn part part st ream quer y slow', '91780cca64fcbe2fde56e73cbfb97838'),
        |  (434, 112, 'co lumn quer y key big vect or filt er line fast fast a filt er', '7ee1b931599558e4049f058ebe8e466f'),
        |  (441, 146, 'slow wind ow s mall filt er merg e orde r orde r s mall g', '18d1b0aec8a0f8cdf8b44e73e93e646d'),
        |  (448, 75, 'slow line join g roup filt er key sort g roup hash data the the st', '3a3d5248a17eb285a895e9c72e6a7e61'),
        |  (455, 17, 'tabl e s mall sort orde r s mall hash st ream data big key g', 'd46cd41986f169d11501c0c00d5c1091'),
        |  (462, 88, 'key line join orde r valu e quer y cust omer sort slow part tabl e', '083ed6526056af18dcf8c2663ddf29be'),
        |  (469, 17, 'row line batc h part quer y quer y s mall st ream orde r st', '969d718e899ddbeba55a639fd541a8f7'),
        |  (476, 23, 'hash vect or part s park batc h s mall a quer y join agg hash', '599b0d8057b05cf14427fe4a723a739f'),
        |  (483, 67, 'join tabl e slow join cust omer a s park agg agg quer y key data', 'adb53253045c6ba33d410e2205911cbb'),
        |  (490, 73, 'wind ow quer y a the sort part slow the hash hash key co lumn s', '1c904e5ddabd7b3a2497f84adf248aae'),
        |  (497, 32, 'wind ow st ream vect or merg e co lumn orde r part tabl e cust', '90f145da6018ab9f2d8d05653d80c868')
        |) AS t(doc_id, n_pieces, head_pieces, pieces_md5)
        |ORDER BY doc_id""".stripMargin

  /** Oracle for q_pii_redact, generated from [[graft.ops.PiiOps.Categories]]
    * so the patterns, replacement tokens, and application order cannot
    * drift between engines. The patterns are in the RE2 ∩ java.util.regex
    * common subset (PiiOps scaladoc), and DuckDB strings treat backslash
    * literally, so each Scala pattern embeds verbatim.
    */
  private def piiRedact: String = {
    import graft.ops.PiiOps
    val redactExpr = PiiOps.Categories.foldLeft("t") { case (acc, (_, re, tok)) =>
      s"regexp_replace($acc, '$re', '$tok', 'g')"
    }
    val freeExpr = PiiOps.Categories.map { case (_, re, _) =>
      s"len(regexp_extract_all(t, '$re')) = 0"
    }.mkString(" AND ")
    s"""WITH a AS (SELECT doc_id, $piiPlantSql AS t FROM documents)
       |SELECT doc_id,
       |  $redactExpr AS text_redacted,
       |  ${PiiOps.Categories.map { case (cat, re, _) =>
            s"len(regexp_extract_all(t, '$re'))::BIGINT AS n_$cat" }.mkString(",\n       |  ")},
       |  ($freeExpr) AS pii_free
       |FROM a ORDER BY doc_id""".stripMargin
  }
}
