package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded input generator. Everything the program receives is made
  * here from the run's seed: the same seed gives the same memory texts,
  * request script and batch tables.
  */
object Gen {
  /** Filler vocabulary: the words of the synthetic `documents` corpus
    * the catalog queries are written against (all lower case, so the
    * heuristic extractor finds no entities in them).
    */
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  private val FirstNames = IndexedSeq(
    "Alice", "Bob", "Carol", "Dan", "Erin", "Frank", "Grace", "Heidi",
    "Ivan", "Judy", "Karl", "Laura", "Mallory", "Nina", "Oscar", "Peggy",
    "Quinn", "Rupert", "Sybil", "Trent", "Ursula", "Victor", "Wendy",
    "Xavier", "Yolanda", "Zane")
  private val LastNames = IndexedSeq(
    "Chen", "Smith", "Garcia", "Novak", "Okafor", "Silva", "Tanaka",
    "Weber", "Kowalski", "Haddad", "Larsen", "Moreau", "Rossi", "Singh")
  val Companies: IndexedSeq[String] = IndexedSeq(
    "Acme Corp", "Globex Labs", "Initech", "Umbrella Works", "Stark Industries",
    "Wayne Holdings", "Hooli", "Vandelay Imports", "Cyberdyne Systems",
    "Soylent Foods", "Tyrell Group", "Wonka Industries")

  /** Fixed epoch of every `now` the benchmark passes (2023-11-14 UTC). */
  val T0 = 1700000000000L

  final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def double(): Double = r.nextDouble()
    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
    def words(lo: Int, hi: Int): String =
      Seq.fill(lo + r.nextInt(hi - lo + 1))(pick(Vocab)).mkString(" ")
  }

  /** `n` distinct people named from the fixed pools, in seeded order. */
  def people(rng: Rng, n: Int): IndexedSeq[String] = {
    val all = for (f <- FirstNames; l <- LastNames) yield s"$f $l"
    require(n <= all.size, s"at most ${all.size} people")
    val arr = all.toArray
    for (i <- arr.indices.reverse.dropRight(1)) {
      val j = rng.int(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    arr.take(n).toIndexedSeq
  }

  /** An entity-bearing memory: a "works at" fact plus a meeting fact.
    * People recur across texts, so a later text can restate a person's
    * employer — what [[WorksAtReconciler]] turns into an UPDATE.
    */
  def memoryText(rng: Rng, ppl: IndexedSeq[String]): String = {
    val p = rng.pick(ppl)
    var q = rng.pick(ppl)
    while (q == p) q = rng.pick(ppl)
    s"$p works at ${rng.pick(Companies)}. $p met $q about ${rng.words(3, 6)}."
  }

  /** Bulk filler row in the corpus's lower-case style. */
  def bulkText(rng: Rng): String = rng.words(8, 20)

  /** A search naming a seeded person, lower-case otherwise so the only
    * entity the extractor finds is the person (graph branch) while the
    * filler words feed BM25 and the vector leg.
    */
  def queryText(rng: Rng, ppl: IndexedSeq[String]): String =
    s"what does ${rng.pick(ppl)} do with ${rng.words(2, 4)}"

  // ------------------------------------------------------------------
  // batch tables, shaped like the catalog's parquet inputs
  // ------------------------------------------------------------------

  /** Writes those of the `orders`, `lineitem`, `documents` and
    * `embeddings` parquet files under `dir` that `tables` names, sized by
    * `orders` rows. Column draws are functions of (seed, row id) or of a
    * per-table generator, so each table depends on the seed only.
    */
  def writeBatchTables(spark: SparkSession, dir: String, seed: Long,
      orders: Int, tables: Set[String]): Unit = {
    val s = seed.toInt
    def u(id: org.apache.spark.sql.Column, salt: Int) =
      pmod(xxhash64(lit(s), lit(salt), id), lit(1000000007L))
    val parts = math.max(200, orders / 7)
    val custs = math.max(60, orders / 10)
    if (tables("orders")) spark.range(orders).select(
        col("id").as("o_orderkey"),
        (u(col("id"), 1) % custs).as("o_custkey"),
        lit("O").as("o_orderstatus"),
        (u(col("id"), 2) % 500000 / 100.0).as("o_totalprice"),
        to_timestamp(from_unixtime(lit(852076800L) + u(col("id"), 3) % 94608000L))
          .as("o_orderdate"),
        lit("3-MEDIUM").as("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    if (tables("lineitem")) spark.range(orders * 4L).select(
        (u(col("id"), 4) % orders).as("l_orderkey"),
        (u(col("id"), 5) % parts).as("l_partkey"),
        (u(col("id"), 6) % 100).as("l_suppkey"),
        (col("id") % 7 + 1).cast("int").as("l_linenumber"),
        (u(col("id"), 7) % 50 + 1).cast("double").as("l_quantity"),
        (u(col("id"), 8) % 100000 / 10.0).as("l_extendedprice"),
        (u(col("id"), 9) % 11 / 100.0).as("l_discount"),
        (u(col("id"), 10) % 9 / 100.0).as("l_tax"),
        lit("N").as("l_returnflag"),
        lit("O").as("l_linestatus"),
        to_timestamp(from_unixtime(lit(852076800L) + u(col("id"), 11) % 94608000L))
          .as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    import spark.implicits._
    if (tables("documents")) {
      val docs = math.max(100, orders / 30)
      val rng = new Rng(seed ^ 0x5DEECE66DL)
      val langs = IndexedSeq("en", "en", "en", "zh", "es", "de", "fr")
      val texts = (0 until docs).map(_ => rng.words(10, 99))
      val docRows = (0 until docs).map { i =>
        // every 20th document repeats the one seven before it plus two
        // words: near-duplicates for the dedup and simhash stages
        val text = if (i % 20 == 19) s"${texts(i - 7)} ${rng.words(1, 1)} dup" else texts(i)
        (i.toLong, text, langs(rng.int(langs.size)), s"src${i % 20}", text.length.toLong)
      }
      docRows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }

    if (tables("embeddings")) {
      val vecs = math.max(100, orders / 30)
      val rng = new Rng(seed ^ 0x9E3779B97F4A7C15L)
      val centers = Array.fill(10, 64)(rng.double() * 2 - 1)
      val embRows = (0 until vecs).map { i =>
        val label = rng.int(10)
        val v = centers(label).map(c => c + (rng.double() * 2 - 1) * 0.35)
        val n = math.sqrt(v.map(x => x * x).sum)
        (i.toLong, v.map(x => (x / n).toFloat).toSeq, label)
      }
      embRows.toDF("vec_id", "embedding", "label")
        .repartition(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
  }
}
