package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, TextFunctions}

/** Deduplication operators for training-data pipelines: exact, MinHash/LSH,
  * SimHash and n-gram Jaccard. All are shuffle-on-key dataflows that
  * scale horizontally: the only groupBy keys are content hashes / band
  * keys, which distribute uniformly by construction.
  */
object DedupOps {

  /** Exact dedup on normalized text: every doc keyed by md5(normalized),
    * keep the lowest-id doc per group, mark the rest as duplicates.
    * INPUT COLUMNS ARE RETAINED (so a pipeline can filter
    * !is_duplicate and continue without a join back to the source —
    * the join-back shape re-evaluated every upstream computed column
    * once per join side, PlanSpec), plus: (content_hash, group_size,
    * keep_id, is_duplicate).
    */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash"))
    df
      .withColumn("content_hash", md5(TextFunctions.normalizedText(col(textCol))))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("keep_id", min(col(idCol)).over(w))
      .withColumn("is_duplicate", col(idCol) =!= col("keep_id"))
  }

  /** MinHash signatures: numHashes 31-bit min values over word shingles.
    * Output columns: idCol, mh_0 .. mh_{n-1} (long).
    *
    * Shape: md5 each shingle ONCE to a 31-bit long, then ONE per-row
    * native kernel pass computes all universal-mixed mins
    * (a_i·h + b_i mod P) — the md5 (the dominant cost) is independent of
    * numHashes and NOTHING shuffles: a signature is a pure function of
    * one row's shingles.
    * (Three rejected shapes, measured at sf0.1: per-hash md5(seed||s)
    * made signature cost linear in numHashes; the nested-HOF form — an
    * array of interpreted minhash expressions — collapses in Catalyst so
    * the shingle subtree re-inlines into EVERY hash; and the original
    * explode + groupBy(id).agg(min×n) paid a corpus-keyed aggregation
    * exchange just to reassemble rows the scan already had.)
    */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      shingleSize: Int = 3
  ): DataFrame = {
    // hash-heavy: round-robin repartition the (narrow) text rows FIRST
    // so the shingle+md5 kernel runs on every core — a small-file scan
    // arrives as one partition and would otherwise hash single-threaded.
    // Round-robin, not keyed: nothing downstream needs an id partitioning
    // (the signature kernel is per-row), so a keyed pre-shuffle buys
    // nothing and costs a hash-eval per row.
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    // null-text rows are excluded (a null shingle array would otherwise
    // surface as an all-null signature row under the outer explode)
    val sh = df.select(col(idCol), col(textCol))
      .filter(col(textCol).isNotNull)
      .repartition(p)
      .select(col(idCol),
        HashFunctions.hashedWordShingles(col(textCol), shingleSize).as("__shingles"))
    signaturesFromShingles(sh, idCol, "__shingles", numHashes)
  }

  /** Signature ARRAY over an ALREADY hashed-shingled table — one per-row
    * kernel pass ([[HashFunctions.minhashSig]]), so building signatures
    * costs ZERO shuffle at any corpus size (the former shape — explode +
    * groupBy(id).agg(min×n) — paid a corpus-keyed aggregation exchange).
    * Callers that also need the raw shingle sets (LSH verification)
    * compute and hash shingles exactly once. Output: (idCol, sig).
    */
  private def sigArrayFromShingles(
      sh: DataFrame,
      idCol: String,
      shCol: String,
      numHashes: Int
  ): DataFrame =
    sh.select(col(idCol),
      HashFunctions.minhashSig(col(shCol), numHashes).as("sig"))

  /** [[sigArrayFromShingles]] flattened to the public mh_i column
    * contract. The extraction lives in a SECOND projection: the kernel
    * alias is referenced `numHashes` times, and CollapseProject keeps
    * multi-referenced non-cheap expressions in their own project, so the
    * shingle+signature kernels run once per row (PlanSpec pins this).
    */
  private def signaturesFromShingles(
      sh: DataFrame,
      idCol: String,
      shCol: String,
      numHashes: Int
  ): DataFrame =
    sigArrayFromShingles(sh, idCol, shCol, numHashes)
      .select(col(idCol) +:
        (0 until numHashes).map(i => col("sig").getItem(i).as(s"mh_$i")): _*)

  /** Pick (bands, rowsPerBand) for an n-hash MinHash-LSH at a target
    * Jaccard threshold — the knob a 100-TB dedup run actually has to
    * set. Among the divisors b of `numHashes`, choose the one whose
    * S-curve P(s) = 1 − (1 − s^r)^b (r = n/b) minimizes the integrated
    * detection error against the ideal step at `threshold`: ∫₀ᵗ P(s) ds
    * (false-candidate mass — wasted verification work) + ∫ₜ¹ (1 − P(s)) ds
    * (missed-duplicate mass), by midpoint quadrature. This is the MMDS
    * §3.4 criterion; the (1/b)^(1/r) midpoint rule of thumb lands on
    * the same divisor except exactly between two grid points. A pure
    * driver-side function — call once, pass the result to
    * [[minhashLshPairs]] / [[bandedSignatureStore]] /
    * [[graft.streaming.StreamingDedup]].
    *
    * More bands → curve shifts LEFT (recall up, candidate volume up);
    * fewer bands → right. At fixed `numHashes` the divisor grid is the
    * whole search space, so exhaustive scan is exact and O(d(n)·steps).
    */
  def lshTuneBands(numHashes: Int, threshold: Double): (Int, Int) = {
    require(numHashes >= 1, "numHashes must be positive")
    require(threshold > 0.0 && threshold < 1.0, "threshold must be in (0,1)")
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
    val steps = 1000
    def err(b: Int): Double = {
      val r = numHashes / b
      var e = 0.0
      var i = 0
      while (i < steps) {
        val s = (i + 0.5) / steps
        val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        e += (if (s < threshold) p else 1.0 - p)
        i += 1
      }
      e / steps
    }
    val best = divisors.minBy(err)
    (best, numHashes / best)
  }

  /** MinHash-LSH candidate pairs: band the signature, bucket-join on
    * (band, key), emit distinct candidate pairs (a < b) with their exact
    * shingle-Jaccard similarity. This is the scale path: the self-join is
    * on band keys (tiny buckets), never all-pairs.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      minJaccard: Double = 0.0
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    // the hashed-shingle table feeds BOTH the signature aggregation and
    // the two sides of the verification join — checkpoint so the word
    // shingling + md5 (the dominant cost) runs exactly once; sorted so
    // per-pair Jaccard runs as the native two-pointer long merge
    // null-text rows are excluded up front: their null signatures would
    // band to md5("") (array_join skips nulls) and self-join all
    // null-text docs into C(m,2) candidates that the jaccard filter then
    // discards — quadratic work for zero output
    val shingled = df.select(col(idCol).as("doc"), col(textCol))
      .filter(col(textCol).isNotNull)
      .repartition(p, col("doc"))
      .select(
        col("doc"),
        sort_array(
          HashFunctions.hashedWordShingles(col(textCol), shingleSize)).as("shingles"))
      .localCheckpoint()

    // per-row signature kernel: zero shuffle between shingles and bands
    val sigs = sigArrayFromShingles(shingled, "doc", "shingles", numHashes)
      .withColumn("bandkeys", HashFunctions.lshBands(col("sig"), bands, rows))

    // explode_outer, NOT explode: InferFiltersFromGenerate turns a plain
    // explode into `size(expr) > 0 AND isnotnull(expr)` filters pushed
    // below to the scan, re-evaluating the kernel subtree (measured 4.7 s
    // vs 0.7 s at sf0.1 before the checkpoint isolated this path); band
    // arrays are never empty, so outer explode is identical and skips it
    val banded = sigs
      .select(col("doc"), explode_outer(col("bandkeys")).as("bk"))
      .select(col("doc"), col("bk.band").as("band"), col("bk.key").as("key"))

    val pairs = banded
      .as("l")
      .join(banded.as("r"), Seq("band", "key"))
      .filter(col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("doc_a"), col("r.doc").as("doc_b"))
      .distinct()

    val withSim = pairs
      .join(shingled.select(col("doc").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(shingled.select(col("doc").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("jaccard", HashFunctions.jaccardSortedLong(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    withSim
  }

  /** SimHash fingerprints (bits <= 32, default 32). Near-dups share a
    * fingerprint within small Hamming distance; pair generation buckets
    * on fingerprint bytes at scale.
    */
  /** Incremental exact dedup: a new batch against an existing corpus
    * hash store (the `content_hash` column `exactDuplicates` retains —
    * at scale a materialized one-column table, not the corpus text).
    *
    * The daily-append shape of a 100 TB pipeline: the batch is small
    * relative to the store, so every join here broadcasts a
    * BATCH-derived side — the store is scanned once (hash column only,
    * pruned at the parquet reader) and NEVER shuffled, and the only
    * window is batch-internal first-wins, partitioned by batch hashes.
    * Re-running yesterday's full-corpus dedup to admit today's batch
    * would shuffle the world; this is the O(batch) alternative.
    *
    * Output: batch columns + (content_hash, dup_in_corpus,
    * is_duplicate (batch-internal, first-id wins), keep).
    */
  def incrementalExact(
      batch: DataFrame,
      store: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val bh = batch
      .withColumn("content_hash", md5(TextFunctions.normalizedText(col(textCol))))
    val w = Window.partitionBy(col("content_hash"))
    val internal = bh
      .withColumn("keep_id", min(col(idCol)).over(w))
      .withColumn("is_duplicate", col(idCol) =!= col("keep_id"))
      .drop("keep_id")
    // store rows matching a batch hash: ≤ batch-distinct-size by
    // construction, so the hit set broadcasts right back
    val hits = store.select(col("content_hash"))
      .join(broadcast(bh.select(col("content_hash")).distinct()), "content_hash")
      .distinct()
      .withColumn("dup_in_corpus", lit(true))
    internal
      .join(broadcast(hits), Seq("content_hash"), "left")
      .withColumn("dup_in_corpus", coalesce(col("dup_in_corpus"), lit(false)))
      .withColumn("keep", !col("dup_in_corpus") && !col("is_duplicate"))
  }

  /** [[incrementalExact]] against a Bloom INDEX of the store instead of
    * the store itself — the shape for high-frequency ingest where a
    * store scan per batch is the cost that matters. The store's
    * content-hash Bloom is a constant-size artifact (built here inline
    * by [[graft.functions.BloomBuild]]'s one-pass mergeable aggregation;
    * in deployment it is built WHEN THE STORE IS WRITTEN, persisted
    * next to it, and OR-merged on append — so a batch pays zero store
    * I/O to probe). Batch hashes that miss the Bloom are definitively
    * clean (no false negatives); only Bloom-hit hashes — true dups
    * plus fpp × batch false positives — reach the exact confirmation
    * join against the store, and a batch with NO hits skips the store
    * entirely. Output is row-identical to [[incrementalExact]]
    * (same oracle): false positives cost confirm-join candidates,
    * never answers.
    */
  def incrementalExactBloom(
      batch: DataFrame,
      store: DataFrame,
      idCol: String,
      textCol: String,
      numBits: Int = 1 << 20,
      numHashes: Int = 5): DataFrame = {
    import graft.functions.BloomFunctions
    val storeBloom = BloomFunctions.fromBytes(
      store.agg(BloomFunctions
        .bloomBuild(col("content_hash"), numBits, numHashes).as("bf"))
        .head().getAs[Array[Byte]](0))
    val bh = batch
      .withColumn("content_hash", md5(TextFunctions.normalizedText(col(textCol))))
    val w = Window.partitionBy(col("content_hash"))
    val internal = bh
      .withColumn("keep_id", min(col(idCol)).over(w))
      .withColumn("is_duplicate", col(idCol) =!= col("keep_id"))
      .drop("keep_id")
    val candidates = bh.select(col("content_hash")).distinct()
      .filter(BloomFunctions.mightContain(col("content_hash"), storeBloom,
        numHashes))
      .localCheckpoint() // tiny; gates the store scan below
    val hits =
      if (candidates.isEmpty) {
        // whole batch cleared by the index: zero store I/O this batch
        candidates.withColumn("dup_in_corpus", lit(true))
      } else {
        store.select(col("content_hash"))
          .join(broadcast(candidates), "content_hash")
          .distinct()
          .withColumn("dup_in_corpus", lit(true))
      }
    internal
      .join(broadcast(hits), Seq("content_hash"), "left")
      .withColumn("dup_in_corpus", coalesce(col("dup_in_corpus"), lit(false)))
      .withColumn("keep", !col("dup_in_corpus") && !col("is_duplicate"))
  }

  /** Incremental MinHash-LSH near-dup candidates: batch × corpus band
    * join (never batch-internal pairs — [[minhashLshPairs]] on the
    * batch covers those, and the corpus store was self-deduped when it
    * was built). Same signature/band scheme as the self-join path, so a
    * store of banded signatures written at corpus-dedup time is
    * directly reusable; here the corpus side recomputes bands from
    * text, standing in for that store.
    *
    * Scale shape: the batch's banded signatures broadcast (batch ×
    * bands rows); the corpus streams through the band join map-side
    * with NO corpus shuffle; only candidate pairs (band-collision
    * bounded) shuffle for verification. Output: (corpus_id, batch_id,
    * jaccard).
    */
  def incrementalLshPairs(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      minJaccard: Double = 0.0): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val p = batch.sparkSession.sessionState.conf.numShufflePartitions
    // materialize=true only for the BATCH side: it is re-read (banding,
    // then twice in verification) and small, so a repartition +
    // localCheckpoint is cheap insurance. The CORPUS side must get
    // neither — a repartition is a full corpus shuffle and a
    // localCheckpoint a corpus-sized executor-storage materialization,
    // both of which would break the no-corpus-shuffle scale contract.
    // Recomputing corpus shingles for the verification join is a second
    // linear scan, which is the right trade at 100 TB.
    def prep(df: DataFrame, materialize: Boolean): DataFrame = {
      val sh = df
        .select(col(idCol).as("doc"), col(textCol))
        .filter(col(textCol).isNotNull)
        .select(col("doc"),
          sort_array(
            HashFunctions.hashedWordShingles(col(textCol), shingleSize)).as("shingles"))
      if (materialize) sh.repartition(p, col("doc")).localCheckpoint() else sh
    }
    // per-row signature kernel — the corpus side goes shingles → sig →
    // bands entirely map-side, with no aggregation exchange anywhere
    def banded(sh: DataFrame): DataFrame =
      sigArrayFromShingles(sh, "doc", "shingles", numHashes)
        .withColumn("bandkeys", HashFunctions.lshBands(col("sig"), bands, rows))
        .select(col("doc"), explode_outer(col("bandkeys")).as("bk"))
        .select(col("doc"), col("bk.band").as("band"), col("bk.key").as("key"))

    val bSh = prep(batch, materialize = true)
    val cSh = prep(corpus, materialize = false)
    val pairs = banded(cSh).as("l")
      .join(broadcast(banded(bSh).as("r")), Seq("band", "key"))
      .select(col("l.doc").as("corpus_id"), col("r.doc").as("batch_id"))
      .distinct()
    // corpus side stays on the left with pairs broadcast onto it —
    // shuffling the corpus-sized shingle table by corpus_id would undo
    // the whole no-corpus-shuffle design; pairs are batch-derived and
    // collision-bounded, hence broadcastable like everything else here
    cSh.select(col("doc").as("corpus_id"), col("shingles").as("sh_c"))
      .join(broadcast(pairs), "corpus_id")
      .join(broadcast(bSh.select(col("doc").as("batch_id"), col("shingles").as("sh_b"))), "batch_id")
      .withColumn("jaccard", HashFunctions.jaccardSortedLong(col("sh_c"), col("sh_b")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("corpus_id"), col("batch_id"), col("jaccard"))
  }

  /** The banded-signature STORE artifact of a corpus — one row per
    * (doc, band): (doc, band, key, sig). Built once at corpus-dedup time
    * and reused by every later consumer that needs "does this new text
    * near-dup anything in the corpus": the batch append path (the band
    * join of [[incrementalLshPairs]] is exactly a join against these
    * rows) and the streaming face
    * ([[graft.streaming.StreamingDedup.minhashLshDuplicatesAgainstStore]]).
    *
    * Scale layout: write partitioned by `band` and bucketed/sorted by
    * `key` — every probe is an equi-join on (band, key), so band
    * partitions prune to the probed band and key buckets co-locate the
    * join without shuffling the store. The store is O(corpus × bands)
    * rows of (id, key, numHashes longs) — signature metadata, not
    * corpus text. Building it is one linear scan: per-row signature
    * kernel, zero shuffle.
    */
  def bandedSignatureStore(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    corpus
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc"),
        HashFunctions.minhashSig(
          HashFunctions.hashedWordShingles(col(textCol), shingleSize),
          numHashes).as("sig"))
      .withColumn("bk",
        explode_outer(HashFunctions.lshBands(col("sig"), bands, rows)))
      .select(col("doc"), col("bk.band").as("band"), col("bk.key").as("key"),
        col("sig"))
  }

  /** Corpus-wide repeated-segment removal — the line/paragraph-dedup
    * pass of CCNet/RefinedWeb-style pipelines, generalized to
    * fixed-length token segments so it also applies to corpora without
    * line structure: chop each doc's token stream into consecutive
    * `segLen`-token segments, count the DISTINCT docs containing each
    * segment, and rebuild every doc's text without the segments that
    * appear in ≥ `minDocs` docs (boilerplate: headers, footers,
    * licence blocks, navigation chrome).
    *
    * Distinct from within-doc repetition scoring (TextFunctions
    * repetition rules) and whole-doc dedup: this removes the SHARED
    * PARTS of otherwise-unique documents.
    *
    * Scale shape: one explode to (doc, pos, segment) — linear in corpus
    * tokens, checkpointed so tokenization runs once for both consumers;
    * one (segment-hash)-keyed count-distinct aggregation (map-side
    * partial dedup); the flagged-segment set BROADCASTS back (the
    * contract: boilerplate is high-frequency but low-cardinality — its
    * distinct count is ≪ corpus); one doc-keyed rebuild aggregation
    * whose collect_list is bounded by segments-per-doc. No all-pairs
    * anywhere, no window over the corpus.
    *
    * Output: one row per input doc — (idCol, n_segments, n_dropped,
    * clean_text = kept segments' tokens joined by single spaces, in
    * original order). Token-normalized reconstruction is deliberate:
    * the pass sits after tokenization in a prep chain, and the oracle
    * replays it exactly.
    */
  def commonSegmentRemoval(
      df: DataFrame,
      idCol: String,
      textCol: String,
      segLen: Int = 20,
      minDocs: Long = 2): DataFrame = {
    require(segLen > 0, "segLen must be positive")
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    val base = df.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("_toks"))
    // empty-token docs carry no segments; they rejoin at the end
    val nonEmpty = base.filter(size(col("_toks")) > 0).repartition(p)
    val segArr = transform(
      sequence(lit(0), ((size(col("_toks")) - 1) / segLen).cast("int")),
      i => array_join(slice(col("_toks"), i * segLen + 1, lit(segLen)), " "))
    val segs = nonEmpty
      .select(col(idCol), posexplode(segArr).as(Seq("pos", "_seg_text")))
      .withColumn("_seg_hash", md5(col("_seg_text")))
      .localCheckpoint()
    val common = segs
      .groupBy(col("_seg_hash"))
      .agg(countDistinct(col(idCol)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("_seg_hash"), lit(true).as("_common"))
    val rebuilt = segs
      .join(broadcast(common), Seq("_seg_hash"), "left")
      .withColumn("_common", coalesce(col("_common"), lit(false)))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("_common"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(
              when(!col("_common"), struct(col("pos"), col("_seg_text"))))),
            s => s.getField("_seg_text")),
          " ").as("clean_text"))
    base.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  def simhashFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 32
  ): DataFrame =
    df.select(col(idCol), HashFunctions.simhash(col(textCol), bits).as("simhash"))

  /** SimHash near-dup candidate pairs at scale: band the `bits`-wide
    * fingerprint into `bands` contiguous bit-slices and self-join on
    * (band, slice) — by pigeonhole, any pair within Hamming distance
    * `maxHamming` < bands shares at least one identical slice, so
    * recall is EXACT for that radius while the join stays bucketed
    * (never all-pairs). Candidates are verified with the true Hamming
    * distance. Output: (doc_a, doc_b, hamming).
    */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 32,
      bands: Int = 4,
      maxHamming: Int = 3
  ): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming < bands ($maxHamming >= $bands)")
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    // checkpoint: the fingerprint feeds the doc column, all `bands`
    // slice keys, and the Hamming verify — without materialization,
    // CollapseProject re-inlines the simhash pipeline into each and
    // InferFiltersFromGenerate re-evaluates it at the scan
    val fp = df.select(col(idCol).as("doc"), col(textCol).as("t"))
      .filter(col("t").isNotNull) // null text can't fingerprint
      .repartition(p, col("doc"))
      .select(col("doc"), HashFunctions.simhash(col("t"), bits).as("sh"))
      .localCheckpoint()
    fingerprintNearDupPairs(fp, "doc", "sh", bits, bands, maxHamming)
  }

  /** Banded Hamming pairs over ANY precomputed long fingerprint column —
    * the machinery behind [[simhashNearDupPairs]], reusable for
    * perceptual image hashes ([[graft.sources.Multimodal.withAHash]])
    * and any other bit-fingerprint near-dup: band the `bits`-wide value
    * into `bands` contiguous slices, self-join on (band, slice)
    * (pigeonhole: Hamming ≤ maxHamming < bands ⟹ some slice matches, so
    * recall is EXACT at that radius while the join stays bucketed),
    * verify with true Hamming. Output: (doc_a, doc_b, hamming).
    */
  def fingerprintNearDupPairs(
      fp: DataFrame,
      idCol: String,
      fpCol: String,
      bits: Int = 32,
      bands: Int = 4,
      maxHamming: Int = 3
  ): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming < bands ($maxHamming >= $bands)")
    val sliceBits = bits / bands
    val mask = (1L << sliceBits) - 1
    val banded = fp.select(
      col(idCol).as("doc"), col(fpCol).as("sh"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col(fpCol), b * sliceBits).bitwiseAND(lit(mask)).as("key"))): _*))
        .as("bk"))
      .select(col("doc"), col("sh"), col("bk.band").as("band"), col("bk.key").as("key"))
    banded.as("l")
      .join(banded.as("r"), Seq("band", "key"))
      .filter(col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("doc_a"), col("r.doc").as("doc_b"),
        bit_count(col("l.sh").bitwiseXOR(col("r.sh"))).as("hamming"))
      // verify BEFORE the dedup shuffle: hamming is a pure function of
      // the pair, so the distinct only carries surviving candidates
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Duplicate clustering: connected components over a near-dup pair
    * graph (the output of any *Pairs op here), labeling every document
    * with the MINIMUM doc id of its component — the canonical "cluster
    * near-dups, keep one per cluster" step of a dedup pipeline. Output:
    * (doc, cluster, is_canonical).
    *
    * Shape: min-label propagation to fixpoint — one dst-keyed
    * aggregation per round, checkpointed labels, terminates in
    * O(component diameter) rounds (near-dup components are shallow).
    * Docs with no pairs are singletons and canonical by definition;
    * callers union them back if they need the full corpus labeled.
    */
  /** Pair-count bound under which clustering runs as driver union-find
    * instead of distributed min-label rounds — each fixpoint round costs
    * ~1 s of scheduling at local[32], which dwarfs a bounded pair list.
    */
  val ClusterUnionFindLimit = 1000000L

  def duplicateClusters(
      pairs: DataFrame,
      unionFindLimit: Long = ClusterUnionFindLimit
  ): DataFrame = {
    require(unionFindLimit >= 0, "unionFindLimit must be >= 0")
    val p = pairs.select(col("doc_a"), col("doc_b"))
    // the union-find path needs long ids; any other id type stays on the
    // type-generic min-label dataflow regardless of size
    val longIds = p.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val probeN = math.min(unionFindLimit, Int.MaxValue - 2L).toInt + 1
    // ONE bounded collect decides the path AND feeds union-find — the
    // upstream pair plan (often an expensive banded self-join) is never
    // executed twice for a size probe
    val probe = if (longIds) p.limit(probeN).collect() else Array.empty[Row]
    if (longIds && probe.length <= unionFindLimit) clustersUnionFind(p.sparkSession, probe)
    else clustersMinLabel(p)
  }

  /** Bounded path: classic union-find over the collected pair list,
    * roots normalized to each component's minimum id.
    */
  private def clustersUnionFind(
      spark: org.apache.spark.sql.SparkSession,
      rows: Array[Row]
  ): DataFrame = {
    import spark.implicits._
    val es = rows.map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb } // min root wins
    }
    val labeled = parent.keys.toSeq.sorted.map(d => (d, find(d)))
    labeled.toDF("doc", "cluster")
      .withColumn("is_canonical", col("doc") === col("cluster"))
  }

  /** Distributed path: min-label propagation to fixpoint — one
    * dst-keyed aggregation per round, checkpointed, O(diameter) rounds.
    */
  private def clustersMinLabel(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val (und, releaseUnd) = Checkpoints.withRelease(e
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    // a round's state is (doc, cluster, next_cluster); the labels it
    // hands on are a lazy view of that one checkpoint (a second
    // checkpoint of the same materialized data bought nothing and doubled
    // the block-manager footprint per round)
    def labelsOf(state: DataFrame): DataFrame =
      state.select(col("doc"), col("next_cluster").as("cluster"))
    val last = Checkpoints.iterate("clustersMinLabel", Checkpoints.checkpoint(
        und.select(col("src").as("doc")).distinct().withColumn("next_cluster", col("doc"))),
      Int.MaxValue,
      probes = Seq(coalesce(sum(when(col("next_cluster") < col("cluster"),
        1L).otherwise(0L)), lit(0L)).as("c")),
      stop = rs => rs.size > 1 && rs.last.long("c") == 0L) { (state, _) =>
      val labels = labelsOf(state)
      und
        .join(labels.withColumnRenamed("doc", "dst"), Seq("dst"))
        .groupBy(col("src").as("doc"))
        .agg(min(col("cluster")).as("nbr_min"))
        .join(labels, Seq("doc"))
        .select(col("doc"), col("cluster"),
          least(col("cluster"), col("nbr_min")).as("next_cluster"))
    }
    releaseUnd()
    labelsOf(last).withColumn("is_canonical", col("doc") === col("cluster"))
  }

  /** Quality-ranked survivor selection: keep the best-scoring member of
    * each duplicate cluster rather than the arbitrary min-id canonical —
    * what a production corpus dedup actually retains (cf. the reference's
    * first-seen keep, /root/reference/src/grafeo_memory/manager.py ingest
    * dedup; quality-ranked retention is the pipeline extension).
    *
    * `clusters` is [[duplicateClusters]] output (doc, cluster); docs of
    * `scored` absent from it are singletons and keep=true by
    * construction (their cluster becomes their own id — ids can't
    * collide with real cluster labels because a cluster label is the min
    * MEMBER id). `order` ranks within a cluster (e.g. quality desc,
    * length desc); ascending id is always appended so ties break
    * deterministically.
    *
    * Scale shape: ONE window keyed on cluster id carrying only the
    * projected order columns — the same full-corpus hash-keyed window
    * [[exactDuplicates]] uses, uniform by construction (clusters are
    * near-dup components; singletons are their own key). The membership
    * join broadcasts by default — membership is bounded by the pair
    * graph (only docs with ≥1 near-dup appear), orders of magnitude
    * smaller than the corpus; pass broadcastClusters=false on a corpus
    * whose duplicate set itself exceeds executor memory and the join
    * degrades to a shuffle on id.
    */
  def keepBestPerCluster(
      scored: DataFrame,
      clusters: DataFrame,
      idCol: String,
      order: Seq[Column],
      broadcastClusters: Boolean = true
  ): DataFrame = {
    val m = clusters.select(col("doc").as(idCol), col("cluster"))
    val mm = if (broadcastClusters) broadcast(m) else m
    val withC = scored
      .join(mm, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
    val w = Window
      .partitionBy(col("cluster"))
      .orderBy(order :+ col(idCol).asc: _*)
    withC.withColumn("keep", row_number().over(w) === 1)
  }

  /** Exact n-gram Jaccard similarity for a bounded candidate set
    * (all pairs within a grouping key, e.g. same source bucket).
    * Shingles are md5-hashed to longs before the all-pairs join — the
    * per-pair intersections run on primitive arrays (~3× cheaper than
    * short strings at sf0.1) with negligible, deterministic collision
    * odds.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      n: Int = 3,
      minJaccard: Double = 0.0
  ): DataFrame = {
    // sort once per document so every candidate pair intersects via the
    // native two-pointer merge — no per-pair hash sets or union arrays.
    // The shingle table is repartitioned by grp (parallel hashing + the
    // self-join needs no further exchange) and checkpointed so the
    // md5-per-shingle work runs ONCE, not once per join side.
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    val sh = df.select(col(groupCol).as("grp"), col(idCol).as("doc"), col(textCol))
      .repartition(p, col("grp"))
      .select(
        col("grp"),
        col("doc"),
        sort_array(HashFunctions.hashedCharShingles(col(textCol), n)).as("sh")
      )
      .localCheckpoint()
    sh.as("l")
      .join(sh.as("r"), Seq("grp"))
      .filter(col("l.doc") < col("r.doc"))
      .withColumn("jaccard", HashFunctions.jaccardSortedLong(col("l.sh"), col("r.sh")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("grp"), col("l.doc").as("doc_a"), col("r.doc").as("doc_b"), col("jaccard"))
  }

  /** Embedding near-dup pairs: distinct (a < b) pairs with
    * cosine >= threshold.
    *
    * Scale path (`bands > 0`): banded sign-random-projection LSH, the
    * cosine analogue of MinHash banding. Each of `bands` bands hashes the
    * vector through `rowsPerBand` deterministic ±1 hyperplanes
    * ([[graft.functions.Projections.signWeights]], md5-parity derived and
    * embedded as literal arrays, so the per-row work is a codegen'd dot
    * product and the oracle can replicate the bucketing); a pair is a
    * candidate when it agrees on ALL bits of ANY band, so recall rises
    * with `bands` (multi-probe) instead of collapsing like round 1's
    * single 8-bit probe. Candidates are exact-cosine re-ranked. The
    * self-join key is (band, key): uniform buckets, never all-pairs.
    *
    * Exact mode (`bands = 0`): all-pairs within the input — the
    * correctness oracle. ONLY for bounded inputs (it is a cartesian
    * self-join); callers at scale must pre-group or use the LSH mode.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      dims: Int,
      bands: Int = 8,
      rowsPerBand: Int = 4
  ): DataFrame = {
    import graft.functions.{Projections, VectorFunctions}
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    // null embeddings are excluded: a null vector's sign bits all
    // evaluate to the otherwise-branch, so every null-emb row would
    // share band key 0 and self-join quadratically before the (null)
    // cosine filter discarded the pairs
    val base = df.select(col(idCol).as("doc"), col(embCol).as("emb"))
      .filter(col("emb").isNotNull)
      .repartition(p, col("doc")) // parallel banding on small-file scans

    val candidates =
      if (bands <= 0) {
        base
          .as("l")
          .join(base.as("r"))
          .filter(col("l.doc") < col("r.doc"))
          .select(
            col("l.doc").as("doc_a"),
            col("l.emb").as("emb_a"),
            col("r.doc").as("doc_b"),
            col("r.emb").as("emb_b")
          )
      } else {
        val w = Projections.signWeights(bands, rowsPerBand, dims)
        // sign bit of hyperplane (b, p): sum_i emb[i] * w(b,p,i)
        def signBit(b: Int, p: Int): Column = {
          val wCol = array(w(b)(p).map(lit): _*)
          val proj = VectorFunctions.dotProduct(col("emb"), wCol)
          when(proj >= 0, lit(1L)).otherwise(lit(0L))
        }
        val bandKeys = array((0 until bands).map { b =>
          val key = (0 until rowsPerBand)
            .map(p => signBit(b, p) * lit(1L << p))
            .reduce(_ + _)
          struct(lit(b).as("band"), key.as("key"))
        }: _*)
        // outer explode: keeps InferFiltersFromGenerate from pushing a
        // re-evaluation of all bands×rows dot products down to the scan
        val hashed = base.withColumn("bk", explode_outer(bandKeys))
          .select(col("doc"), col("emb"), col("bk.band").as("band"), col("bk.key").as("key"))
        hashed
          .as("l")
          .join(hashed.as("r"), Seq("band", "key"))
          .filter(col("l.doc") < col("r.doc"))
          .select(
            col("l.doc").as("doc_a"),
            col("l.emb").as("emb_a"),
            col("r.doc").as("doc_b"),
            col("r.emb").as("emb_b")
          )
          .dropDuplicates("doc_a", "doc_b") // dedup on ids, not float arrays
      }

    candidates
      .withColumn("cosine", VectorFunctions.cosineSimilarity(col("emb_a"), col("emb_b")))
      .filter(col("cosine") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
  }

  /** Exact duplicated-SUBSTRING removal — the suffix-array dedup pass of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better") re-expressed as a distributed token-window dataflow: any
    * `winLen`-token window whose content occurs at two or more (doc,
    * pos) occurrences corpus-wide keeps only its globally-first
    * occurrence (lexicographic min of (doc, pos)); every other
    * occurrence's token span is removed and the doc's surviving tokens
    * rejoin in order. Because windows slide, a shared passage of length
    * M ≥ winLen is covered by overlapping flagged windows whose position
    * sets union into the full span — the same contiguous-match removal a
    * suffix array yields, without building one. Distinct from whole-doc
    * dedup (docs here are unique) and from [[commonSegmentRemoval]]
    * (which drops fixed segments shared by ≥ minDocs docs; this pass
    * catches ANY repeated run, including within one doc, at any
    * alignment).
    *
    * Scale shape, stage by stage:
    *  - windows: ONE posexplode of per-doc sliding windows — linear in
    *    corpus tokens; the winLen-token gram string exists only inside
    *    the projection that md5s it (never shuffled, never stored);
    *  - duplicate detection: ONE hash-keyed groupBy with map-side
    *    partial aggregation (count + min occurrence struct) — uniform
    *    keys, skew-safe even for a boilerplate window repeated millions
    *    of times because partials combine;
    *  - flagging: the dup-hash side is filtered to count ≥ 2 BEFORE the
    *    join back, so its size is bounded by the corpus's duplicated
    *    text, not the corpus (AQE broadcasts it when it fits; else the
    *    join shuffles on the same uniform hash key);
    *  - rebuild: flagged spans expand to ≤ winLen positions per flagged
    *    window, group to a per-doc sorted removal list (bounded by doc
    *    length), and ONE doc-keyed join + per-row higher-order filter
    *    rebuilds the text — the corpus token stream itself is never
    *    exploded or shuffled.
    *
    * Output: one row per input doc — (idCol, n_tokens, n_removed,
    * clean_text), token-normalized like [[commonSegmentRemoval]].
    */
  def duplicateSpanRemoval(
      df: DataFrame,
      idCol: String,
      textCol: String,
      winLen: Int = 8): DataFrame = {
    require(winLen > 0, "winLen must be positive")
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    val base = df
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("_toks"))
      .repartition(p, col(idCol))
      .localCheckpoint() // tokenization runs once for windows + rebuild
    // sliding windows: pos is 0-based; docs shorter than winLen carry
    // no windows (whole-doc dedup owns those) and rejoin untouched
    val winArr = transform(
      sequence(lit(0), (size(col("_toks")) - winLen).cast("int")),
      i => md5(array_join(slice(col("_toks"), i + 1, lit(winLen)), " ")))
    val wins = base
      .filter(size(col("_toks")) >= winLen)
      .select(col(idCol), posexplode(winArr).as(Seq("pos", "_wh")))
    val dups = wins
      .groupBy(col("_wh"))
      .agg(count(lit(1)).as("_cnt"),
        min(struct(col(idCol), col("pos"))).as("_first"))
      .filter(col("_cnt") >= 2)
      .select(col("_wh"), col("_first"))
    val flagged = wins
      .join(dups, Seq("_wh"))
      .filter(!(col(idCol) === col("_first")(idCol) &&
        col("pos") === col("_first")("pos")))
    val removal = flagged
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + winLen - 1)).as("_rp"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("_rp"))).as("_rm"))
    base
      .join(removal, Seq(idCol), "left")
      .select(col(idCol),
        size(col("_toks")).cast("long").as("n_tokens"),
        coalesce(size(col("_rm")), lit(0)).cast("long").as("n_removed"),
        array_join(
          when(col("_rm").isNull, col("_toks"))
            .otherwise(filter(col("_toks"),
              (_, i) => !array_contains(col("_rm"), i))),
          " ").as("clean_text"))
  }

  /** Per-document memorization-risk profile: the fraction of a doc's
    * `winLen`-token sliding windows that are duplicated ANYWHERE in the
    * corpus (including repeats within the doc itself) — the per-doc
    * metric face of [[duplicateSpanRemoval]]'s flag set, and the
    * memorization-exposure signal of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better"): high-risk docs are
    * the ones whose text the model will see many times and can
    * regurgitate. Use it to AUDIT (rank, report, threshold) where the
    * removal op would rewrite.
    *
    * Dataflow: same shape as the removal pass — tokens checkpointed
    * once, window hashes computed in-projection (gram strings never
    * shuffled), ONE hash-keyed count agg with map-side partials, the
    * duplicated-hash set joined back (right side proportional to
    * duplicated text, AQE-broadcast on typical rates), one doc-keyed
    * count. Docs shorter than winLen carry no windows → risk 0.
    *
    * Output: (idCol, n_windows, n_dup_windows, risk) — risk =
    * n_dup/n_windows rounded to 6 dp, 0.0 for window-less docs.
    */
  def memorizationRisk(
      df: DataFrame,
      idCol: String,
      textCol: String,
      winLen: Int = 8): DataFrame = {
    require(winLen > 0, "winLen must be positive")
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    val base = df
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("_toks"))
      .repartition(p, col(idCol))
      .localCheckpoint() // tokenization runs once for windows + totals
    val winArr = transform(
      sequence(lit(0), (size(col("_toks")) - winLen).cast("int")),
      i => md5(array_join(slice(col("_toks"), i + 1, lit(winLen)), " ")))
    val wins = base
      .filter(size(col("_toks")) >= winLen)
      .select(col(idCol), explode(winArr).as("_wh"))
    val dups = wins
      .groupBy(col("_wh"))
      .agg(count(lit(1)).as("_cnt"))
      .filter(col("_cnt") >= 2)
      .select(col("_wh"))
    val perDoc = wins
      .join(dups, Seq("_wh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_windows"))
    base
      .select(col(idCol),
        greatest(size(col("_toks")) - winLen + 1, lit(0)).cast("long")
          .as("n_windows"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        when(col("n_windows") > 0,
          round(coalesce(col("n_dup_windows"), lit(0L)).cast("double") /
            col("n_windows"), 6))
          .otherwise(lit(0.0)).as("risk"))
  }
}
