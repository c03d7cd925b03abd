package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.SimilarityOps

/** IVF recall against brute-force ground truth on real testdata
  * (sf0.01 embeddings): the strided seed and the k-means-refined index
  * must both recover most true neighbors through 2-of-8 probed cells,
  * and Lloyd refinement must not lose recall vs the seed.
  */
class IvfSpec extends SparkSuite {

  private val SfDir = "/root/testdata/sf0.01"

  private def topkSets(df: DataFrame): Map[Long, Set[Long]] =
    df.select(col("query_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  /** Mean per-query recall of `got` against the ground-truth sets. */
  private def recallOf(got: Map[Long, Set[Long]],
      truth: Map[Long, Set[Long]]): Double = {
    val rs = truth.map { case (q, t) =>
      got.get(q).map(g => (g & t).size.toDouble / t.size).getOrElse(0.0) }
    rs.sum / rs.size
  }

  test("k-means IVF recall@10 vs brute force (recall reported)") {
    assume(new java.io.File(s"$SfDir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val k = 10

    val truth = topkSets(SimilarityOps.bruteForceTopK(
      emb, "vec_id", "embedding", queries, "vec_id", "embedding", k))

    def ivfRecall(assigned: DataFrame, centroids: DataFrame, nProbe: Int): Double =
      recallOf(topkSets(SimilarityOps.ivfTopK(assigned, "vec_id", "embedding",
        centroids, queries, "vec_id", "embedding", k, nProbe)), truth)

    val (aStr, cStr) = SimilarityOps.ivfIndex(emb, "vec_id", "embedding", numCells = 8)
    val strided = ivfRecall(aStr, cStr, nProbe = 2)
    val (aKm, cKm) = SimilarityOps.ivfIndexKMeans(emb, "vec_id", "embedding",
      numCells = 8, lloydIters = 5)
    val kmeans = ivfRecall(aKm, cKm, nProbe = 2)

    info(f"recall@10 nProbe=2/8: strided=$strided%.3f kmeans=$kmeans%.3f")
    assert(kmeans >= 0.5, s"kmeans recall too low: $kmeans")
    assert(kmeans >= strided - 0.05,
      s"Lloyd refinement lost recall: strided=$strided kmeans=$kmeans")

    // the registered q_ann_ivf operating point (6-of-8 probes): the
    // isotropic corpus pins recall to the scanned fraction (BASELINE §6),
    // so the deployable-recall bar needs the wide probe
    val stridedOp = ivfRecall(aStr, cStr, nProbe = 6)
    val kmeansOp = ivfRecall(aKm, cKm, nProbe = 6)
    info(f"recall@10 nProbe=6/8: strided=$stridedOp%.3f kmeans=$kmeansOp%.3f")
    assert(stridedOp >= 0.9, s"operating-point recall below target: $stridedOp")
    assert(kmeansOp >= 0.9, s"kmeans operating-point recall below target: $kmeansOp")
  }

  test("PQ: codes compress 64 floats to 8 codes; ADC shortlist + exact re-rank recovers recall") {
    assume(new java.io.File(s"$SfDir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val truth = topkSets(SimilarityOps.bruteForceTopK(
      emb, "vec_id", "embedding", queries, "vec_id", "embedding", 10))
    val cb = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding", 8, 64)
    val codes = SimilarityOps.pqEncode(emb, "vec_id", "embedding", cb)
    // the compression contract: one row per vector, 8 small codes
    val c0 = codes.limit(1).collect().head
    assert(c0.getSeq[Int](1).length == 8 && c0.getSeq[Int](1).forall(c => c >= 0 && c < 64))
    assert(codes.count() == emb.count())
    val got = topkSets(SimilarityOps.pqTopKReranked(codes, "vec_id",
      emb, "vec_id", "embedding", queries, "vec_id", "embedding", cb,
      k = 10, shortlist = 100))
    val recall = recallOf(got, truth)
    info(f"PQ 8x64 + shortlist-100 re-rank recall@10 = $recall%.3f")
    // isotropic corpus = PQ's worst case: recall tracks the scanned
    // fraction (shortlist 100 of 500 vectors = 20% → 0.90; the sf0.1
    // sweep in BASELINE §15 confirms the fraction law)
    assert(recall >= 0.8, s"PQ rerank recall too low: $recall")

    // Lloyd-refined codebooks must not lose recall vs the strided seed
    val cbKm = SimilarityOps.pqCodebooksKMeans(emb, "vec_id", "embedding", 8, 64)
    val gotKm = topkSets(SimilarityOps.pqTopKReranked(
      SimilarityOps.pqEncode(emb, "vec_id", "embedding", cbKm), "vec_id",
      emb, "vec_id", "embedding", queries, "vec_id", "embedding", cbKm,
      k = 10, shortlist = 100))
    val recallKm = recallOf(gotKm, truth)
    info(f"PQ kmeans-codebook re-rank recall@10 = $recallKm%.3f")
    assert(recallKm >= recall - 0.05,
      s"Lloyd codebooks lost recall: strided=$recall kmeans=$recallKm")

    // composed IVF x PQ: probe 6/8 cells, ADC within cells, re-rank —
    // recall bounded by the IVF probe fraction times the shortlist pass
    val (assigned, centroids) =
      SimilarityOps.ivfIndex(emb, "vec_id", "embedding", numCells = 8)
    val codesCell = SimilarityOps.pqEncode(assigned, "vec_id", "embedding",
      cbKm, passthrough = Seq("cell"))
    val gotBoth = topkSets(SimilarityOps.pqTopKIvf(codesCell, "vec_id",
      emb, "vec_id", "embedding", centroids, queries, "vec_id", "embedding",
      cbKm, k = 10, nProbe = 6, shortlist = 100))
    val recallBoth = recallOf(gotBoth, truth)
    info(f"IVF(6/8) x PQ re-rank recall@10 = $recallBoth%.3f")
    assert(recallBoth >= 0.6, s"composed IVF x PQ recall too low: $recallBoth")
  }

  test("SQ8: byte codes per dimension, near-lossless recall, tight cosine error") {
    assume(new java.io.File(s"$SfDir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val truth = topkSets(SimilarityOps.bruteForceTopK(
      emb, "vec_id", "embedding", queries, "vec_id", "embedding", 10))
    val bounds = SimilarityOps.sq8Bounds(emb, "embedding")
    assert(bounds._1.length == 64 && bounds._2.length == 64)
    assert(bounds._1.zip(bounds._2).forall { case (mn, mx) => mn <= mx })
    val codes = SimilarityOps.sq8Encode(emb, "vec_id", "embedding", bounds)
    // the compression contract: one row per vector, 64 byte-range codes
    val c0 = codes.limit(1).collect().head
    assert(c0.getSeq[Int](1).length == 64 &&
      c0.getSeq[Int](1).forall(c => c >= 0 && c <= 255))
    assert(codes.count() == emb.count())
    val got = topkSets(SimilarityOps.sq8TopK(codes, "vec_id",
      queries, "vec_id", "embedding", bounds, k = 10))
    val recall = recallOf(got, truth)
    info(f"SQ8 recall@10 = $recall%.3f")
    // 8 bits/dim is near-lossless (~0.4%% per-dim step): the quantized
    // ranking should recover essentially the exact top-10
    assert(recall >= 0.95, s"SQ8 recall too low: $recall")
    // per-pair cosine error bound: quantized cosine within 0.01 of exact
    val exact = SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", 10)
      .select(col("query_id"), col("neighbor_id"), col("cosine")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val approx = SimilarityOps.sq8TopK(codes, "vec_id",
        queries, "vec_id", "embedding", bounds, k = 10)
      .select(col("query_id"), col("neighbor_id"), col("sq8_cosine")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val errs = for ((k, v) <- approx; e <- exact.get(k)) yield math.abs(v - e)
    assert(errs.nonEmpty && errs.max < 0.01,
      f"SQ8 cosine error too large: ${errs.max}%.5f")
  }

  test("binary quantization: packed sign bits, Hamming shortlist + re-rank recovers recall") {
    assume(new java.io.File(s"$SfDir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val truth = topkSets(SimilarityOps.bruteForceTopK(
      emb, "vec_id", "embedding", queries, "vec_id", "embedding", 10))
    val th = SimilarityOps.binaryThresholds(emb, "embedding")
    assert(th.length == 64)
    // thresholds are 1e-6-quantized: each is a fixed point of the
    // quantizer (re-quantizing changes nothing), which is what makes the
    // artifact engine-portable
    assert(th.forall(t => math.floor(t * 1e6 + 0.5) / 1e6 == t))
    val codes = SimilarityOps.binaryEncode(emb, "vec_id", "embedding", th)
    // the compression contract: 64 dims pack into exactly ONE long
    val c0 = codes.limit(1).collect().head
    assert(c0.getSeq[Long](1).length == 1)
    assert(codes.count() == emb.count())
    // Hamming is symmetric, zero on self, and bounded by dims
    val sample = codes.limit(3).collect().map(_.getSeq[Long](1).toArray)
    import graft.functions.VectorFunctions
    import spark.implicits._
    val pairs = Seq((sample(0), sample(0)), (sample(0), sample(1)),
      (sample(1), sample(0))).toDF("a", "b")
      .select(VectorFunctions.binHamming(col("a"), col("b")).as("h"))
      .collect().map(_.getInt(0))
    assert(pairs(0) == 0 && pairs(1) == pairs(2) && pairs(1) >= 0 && pairs(1) <= 64)
    val got = topkSets(SimilarityOps.binaryTopKReranked(codes, "vec_id",
      emb, "vec_id", "embedding", queries, "vec_id", "embedding", th,
      k = 10, shortlist = 100))
    val recall = recallOf(got, truth)
    info(f"binary 1-bit/dim + shortlist-100 re-rank recall@10 = $recall%.3f")
    // 1 bit/dim on the isotropic worst-case corpus: recall tracks the
    // scanned fraction like PQ does (shortlist 100 of ~600 ≈ 17%), with
    // the Hamming ordering adding signal on top — floor set accordingly
    assert(recall >= 0.5, s"binary quantization recall too low: $recall")
  }

  test("truncated-dim (Matryoshka) ANN: prefix coarse scan + re-rank recovers recall") {
    assume(new java.io.File(s"$SfDir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val truth = topkSets(SimilarityOps.bruteForceTopK(
      emb, "vec_id", "embedding", queries, "vec_id", "embedding", 10))
    def recallAt(prefix: Int): Double = {
      recallOf(topkSets(SimilarityOps.truncatedTopKReranked(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding",
        prefixDims = prefix, k = 10, shortlist = 100)), truth)
    }
    val r16 = recallAt(16)
    val r64 = recallAt(64)
    info(f"truncated recall@10: prefix16=$r16%.3f prefix64=$r64%.3f")
    // the full-width prefix is exact search (shortlist ordering == exact
    // ordering), so recall must be 1.0; the 16-dim coarse pass is a
    // random 4× projection on this isotropic corpus — fraction law floor
    assert(r64 == 1.0, s"full-prefix truncated search must be exact: $r64")
    assert(r16 >= 0.5, s"prefix-16 recall too low: $r16")
  }

  test("incremental append into the partitioned layout == fresh full build") {
    assume(new java.io.File(s"$SfDir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
    val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val half2 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)

    // build on half the corpus, persist partitioned, append the rest
    val (assigned1, centroids) =
      SimilarityOps.ivfIndex(half1, "vec_id", "embedding", numCells = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    SimilarityOps.writeIvfPartitioned(assigned1, dir)
    SimilarityOps.appendIvfPartitioned(half2, "vec_id", "embedding", centroids, dir)

    // the grown index must probe identically to a fresh assignment of
    // the FULL corpus against the same centroids
    val grown = spark.read.parquet(dir)
    val queries = emb.filter(col("vec_id") < 5)
    def topk(assigned: DataFrame): Seq[(Long, Long)] =
      SimilarityOps.ivfTopK(assigned, "vec_id", "embedding", centroids,
          queries, "vec_id", "embedding", k = 10, nProbe = 6)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val fresh = SimilarityOps.ivfTopK(
      // fresh: assign full corpus via the same public path (index on the
      // union would re-derive centroids, so probe the grown set's twin:
      // writeIvf of a full re-assignment)
      spark.read.parquet {
        val d2 = java.nio.file.Files.createTempDirectory("graft-ivf-full").toString
        SimilarityOps.appendIvfPartitioned(emb, "vec_id", "embedding", centroids, d2)
        d2
      }, "vec_id", "embedding", centroids,
        queries, "vec_id", "embedding", k = 10, nProbe = 6)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(topk(grown) == fresh)
    // appended rows landed in pruned cell directories, not a new layout
    assert(grown.count() == emb.count())
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("cell=")) <= 8)
  }

  test("append staleness: stale-centroid recall within 0.1 of fresh re-cluster") {
    // the number behind appendIvfPartitioned's re-cluster knob
    // (VERDICT r6 #6): Bench records the same pair as telemetry on the
    // planted-twin corpus; this pins the deterministic sf0.01 values so
    // a routing regression in the append path fails the build
    assume(new java.io.File(s"$SfDir/embeddings.parquet").exists())
    val truth = topkSets(graft.catalog.SimilarityQueries.ivfAppendBruteforceBench(spark, SfDir))
    val stale = recallOf(topkSets(
      graft.catalog.SimilarityQueries.ivfAppendStaleBench(spark, SfDir)), truth)
    val fresh = recallOf(topkSets(
      graft.catalog.SimilarityQueries.ivfAppendFreshBench(spark, SfDir)), truth)
    info(f"append recall@10: stale=$stale%.3f fresh=$fresh%.3f")
    assert(fresh >= 0.85, s"fresh re-cluster recall collapsed: $fresh")
    assert(stale >= fresh - 0.1,
      s"stale-append recall sagged more than the documented knee: " +
        f"stale=$stale%.3f fresh=$fresh%.3f")
  }

  test("semanticDedup: planted near-dups dropped, greedy chain documented") {
    import spark.implicits._
    // unit vectors at known angles: 1 is 20 deg off 0 (cos .94 >= .9),
    // 4 is 40 deg off 0 (cos .77 < .9) but 20 deg off 1
    def at(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat, 0f, 0f)
    }
    val emb = Seq(
      (0L, at(0)), (1L, at(20)), (4L, at(40)),
      (2L, Array(0f, 0f, 1f, 0f)), (3L, at(88) /* near e2? no: 88 deg off 0 */)
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps
      .semanticDedup(emb, "vec_id", "embedding", numCells = 1, threshold = 0.9)
      .collect()
      .map(r => r.getLong(0) -> ((Option(r.get(2)).map(_.asInstanceOf[Long]),
        r.getBoolean(3)))).toMap
    assert(got(0L) == ((None, true)))        // exemplar survives
    assert(got(1L) == ((Some(0L), false)))   // 20-deg twin dropped
    // the greedy chain: 4 is far from 0 but near 1; it records 1 as its
    // smaller near-dup and drops, even though 1 itself dropped
    assert(got(4L) == ((Some(1L), false)))
    assert(got(2L)._2 && got(3L)._2)         // isolated docs kept
  }

  test("append skew watermark: balanced appends stay quiet, concentrated appends recommend re-cluster") {
    assume(new java.io.File(s"$SfDir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
    val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val half2 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val (assigned1, centroids) =
      SimilarityOps.ivfIndex(half1, "vec_id", "embedding", numCells = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-skew").toString
    SimilarityOps.writeIvfPartitioned(assigned1, dir)
    // distribution-preserving append: same corpus geometry → skew stays
    // at its balanced level, no recommendation at the default watermark
    val s1 = SimilarityOps.appendIvfPartitioned(
      half2, "vec_id", "embedding", centroids, dir)
    assert(s1.appended == half2.count())
    assert(s1.cells > 0 && s1.maxCell >= s1.medianCell)
    assert(s1.skew < SimilarityOps.DefaultIvfSkewWatermark, s"balanced skew ${s1.skew}")
    assert(!s1.recommendRecluster)
    // distribution SHIFT: pile 6× the corpus into whatever cell the
    // first vector routes to (identical embeddings route identically) —
    // max/median must blow past the watermark and trigger the flag
    val one = emb.orderBy(col("vec_id")).limit(1)
      .select(col("embedding")).collect().head.getSeq[Float](0)
    import spark.implicits._
    val n = (emb.count() * 6).toInt
    val flood = (0 until n).map(i => (1000000L + i, one.toArray)).toDF("vec_id", "embedding")
    val s2 = SimilarityOps.appendIvfPartitioned(
      flood, "vec_id", "embedding", centroids, dir)
    assert(s2.skew > SimilarityOps.DefaultIvfSkewWatermark, s"skew after flood: ${s2.skew}")
    assert(s2.recommendRecluster, s"flooded index must recommend re-cluster: $s2")
  }

  test("prototypePrune drops exactly the ceil(frac*n) most prototypical per cell") {
    assume(new java.io.File(s"$SfDir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
    val frac = 0.2
    val kept = SimilarityOps.prototypePrune(emb, "vec_id", "embedding",
      numCells = 8, dropFraction = frac)
    val (assigned, _) = SimilarityOps.ivfIndex(emb, "vec_id", "embedding", 8)
    val cellSizes = assigned.groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val keptSizes = kept.groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    for ((cell, n) <- cellSizes) {
      val expect = n - math.ceil(frac * n).toLong
      assert(keptSizes.getOrElse(cell, 0L) == expect,
        s"cell $cell: kept ${keptSizes.getOrElse(cell, 0L)} of $n, want $expect")
    }
    val total = emb.count()
    assert(kept.count() < total && kept.count() > 0)
    // dropFraction 0 keeps everything (and exposes every proto_sim)
    val all = SimilarityOps.prototypePrune(emb, "vec_id", "embedding", 8, 0.0)
    assert(all.count() == total)
    // the dropped rows are exactly the TOP-sim ones: per cell, every
    // kept proto_sim <= every dropped proto_sim
    val keptIds = kept.select("vec_id").collect().map(_.getLong(0)).toSet
    val byCell = all.collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("proto_sim")))
      .groupBy(_._1)
    for ((cell, rows) <- byCell) {
      val (keptRows, droppedRows) = rows.partition(r => keptIds.contains(r._2))
      if (keptRows.nonEmpty && droppedRows.nonEmpty) {
        assert(keptRows.map(_._3).max <= droppedRows.map(_._3).min + 1e-12,
          s"cell $cell kept a more-prototypical row than one it dropped")
      }
    }
  }

  /** Deterministic k-cluster corpus over an (vec_id, embedding) table:
    * vec_id % clusters picks a center (the first `clusters` corpus
    * vectors) and the embedding is the float blend toward that center —
    * structure planted with no RNG, reproducible anywhere.
    */
  private def clusteredCorpus(emb: DataFrame, clusters: Int, blend: Double): DataFrame = {
    val centers = emb.filter(col("vec_id") < clusters)
      .select(col("vec_id").as("cid"), col("embedding").as("center"))
    emb.withColumn("cid", pmod(col("vec_id"), lit(clusters.toLong)))
      .join(broadcast(centers), Seq("cid"))
      .select(col("vec_id"),
        expr(s"transform(embedding, (x, i) -> cast($blend * element_at(center, i + 1) + ${1.0 - blend} * x as float))")
          .as("embedding"))
  }

  /** recall@10 of all five compression-ladder paths on `corpus` (20
    * queries), at the shortlist/probe settings of BASELINE §22's
    * isotropic row.
    */
  private def ladderRecalls(corpus: DataFrame): Seq[(String, Double)] = {
    val (k, shortlist) = (10, 100)
    val queries = corpus.filter(col("vec_id") < 20)
    val c = corpus.localCheckpoint()
    val q = queries.localCheckpoint()
    val truth = topkSets(SimilarityOps.bruteForceTopK(
      c, "vec_id", "embedding", q, "vec_id", "embedding", k))

    val sq8 = {
      val bounds = SimilarityOps.sq8Bounds(c, "embedding")
      val codes = SimilarityOps.sq8Encode(c, "vec_id", "embedding", bounds)
      topkSets(SimilarityOps.sq8TopK(codes, "vec_id", q, "vec_id", "embedding",
        bounds, k))
    }
    val bin = {
      val th = SimilarityOps.binaryThresholds(c, "embedding")
      val codes = SimilarityOps.binaryEncode(c, "vec_id", "embedding", th)
      topkSets(SimilarityOps.binaryTopKReranked(codes, "vec_id", c, "vec_id",
        "embedding", q, "vec_id", "embedding", th, k, shortlist))
    }
    val trunc = topkSets(SimilarityOps.truncatedTopKReranked(c, "vec_id",
      "embedding", q, "vec_id", "embedding", prefixDims = 16, k, shortlist))
    val pq = {
      val cb = SimilarityOps.pqCodebooks(c, "vec_id", "embedding", 8, 64)
      val codes = SimilarityOps.pqEncode(c, "vec_id", "embedding", cb)
      topkSets(SimilarityOps.pqTopKReranked(codes, "vec_id", c, "vec_id",
        "embedding", q, "vec_id", "embedding", cb, k, shortlist))
    }
    val ivfpq = {
      val (assigned, centroids) =
        SimilarityOps.ivfIndex(c, "vec_id", "embedding", numCells = 8)
      val cb = SimilarityOps.pqCodebooks(c, "vec_id", "embedding", 8, 64)
      val codes = SimilarityOps.pqEncode(assigned, "vec_id", "embedding", cb,
        passthrough = Seq("cell"))
      topkSets(SimilarityOps.pqTopKIvf(codes, "vec_id", c, "vec_id",
        "embedding", centroids, q, "vec_id", "embedding", cb,
        k, nProbe = 6, shortlist))
    }
    Seq("sq8" -> recallOf(sq8, truth), "binary" -> recallOf(bin, truth),
      "truncated" -> recallOf(trunc, truth), "pq_rerank" -> recallOf(pq, truth),
      "ivfpq" -> recallOf(ivfpq, truth))
  }

  test("compression ladder on clustered embeddings: every path clears its clustered-geometry floor") {
    // Every §22 recall number is from the isotropic worst case, where a
    // shortlist path's recall is pinned to its scanned fraction. Real
    // embedding corpora are clustered; this pins the measured claim
    // that clustered geometry TIGHTENS the coarse orderings (BASELINE
    // §22 addendum: at sf0.1/5% shortlist, blend 0.5 lifts binary
    // 0.575->0.81, truncated 0.425->0.80, pq 0.69->0.83). Floors here
    // are set under the sf0.01 measured values (0.99/1.0/0.96/1.0/0.97)
    // with slack for codebook/threshold sensitivity.
    assume(new java.io.File(s"$SfDir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
    val rs = ladderRecalls(clusteredCorpus(emb, clusters = 8, blend = 0.5)).toMap
    rs.foreach { case (p, r) => info(f"$p%-10s clustered recall@10 = $r%.3f") }
    val floors = Map("sq8" -> 0.9, "binary" -> 0.85, "truncated" -> 0.8,
      "pq_rerank" -> 0.85, "ivfpq" -> 0.8)
    for ((p, floor) <- floors)
      assert(rs(p) >= floor, s"$p clustered recall ${rs(p)} below floor $floor")
  }
}
