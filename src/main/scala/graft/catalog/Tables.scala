package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}

/** Table loading + shared DuckDB-SQL fragments for the oracle catalog.
  *
  * Conventions that make Spark results hash-match the DuckDB oracle:
  *   - every floating-point output column is `round(x, 6)` on BOTH sides
  *     (double math agrees to ~1e-12; rounding absorbs the last-ulp
  *     differences from different summation orders / libm builds);
  *   - every count-ish output is cast to long/BIGINT on both sides;
  *   - every result has a deterministic total order (unique tie-break
  *     column) so top-k row SETS are unambiguous;
  *   - DuckDB `log` is log10 — oracle SQL uses `ln`;
  *   - DuckDB lambda indexes are 1-based, Spark's are 0-based.
  */
object Tables {

  /** `spark.read.parquet` of `dir/name.parquet` with its schema read on
    * the driver: schema inference runs a one-task Spark job per load to
    * read one footer, which every catalog query paid once per table.
    * The footer read here is the one that job performs, so the schema is
    * the same; see [[GraftSqlShim.parquetFooterSchema]] for the layouts it
    * covers (Spark infers the others, as before).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    GraftSqlShim.parquetFooterSchema(spark, new Path(path))
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** DuckDB: canonical token list of a text column (mirror of
    * TextFunctions.tokens).
    */
  def sqlTokens(c: String): String =
    s"list_filter(string_split_regex(lower($c), '[^a-z0-9]+'), x -> x <> '')"

  /** DuckDB: word n-gram shingles (mirror of HashFunctions.wordShingles).
    * Input must be a token-list expression; emits distinct shingles.
    */
  def sqlWordShingles(toks: String, n: Int): String =
    s"""list_distinct(CASE WHEN len($toks) < $n
       | THEN [array_to_string($toks, ' ')]
       | ELSE [array_to_string(($toks)[i:i+${n - 1}], ' ') for i in range(1, len($toks) - ${n - 2})]
       | END)""".stripMargin.replaceAll("\n", " ")

  /** DuckDB: word shingles hashed once to 31-bit longs (mirror of
    * HashFunctions.hashedWordShingles). Input is a distinct shingle
    * list expression.
    */
  def sqlHashedShingles(shingles: String): String =
    s"""list_distinct(list_transform($shingles,
       | s -> ((('0x' || substr(md5(s), 1, 8))::UBIGINT) & 2147483647)::BIGINT))"""
      .stripMargin.replaceAll("\n", " ")

  /** DuckDB: one minhash value over ALREADY-HASHED shingles (mirror of
    * HashFunctions.minhashMix min-aggregated) — same (a·x + b) mod P
    * family, constants injected from the single Scala source of truth.
    */
  def sqlMinhash(hashed: String, seed: Int): String = {
    import graft.functions.HashFunctions._
    s"list_aggregate(list_transform($hashed, h -> (h * ${minhashA(seed)} + ${minhashB(seed)}) % $MinhashPrime), 'min')"
  }

  /** DuckDB: jaccard of two distinct-element lists. */
  def sqlJaccard(a: String, b: String): String =
    s"""CASE WHEN len(list_distinct(list_concat($a, $b))) = 0 THEN 0.0
       | ELSE len(list_intersect($a, $b))::DOUBLE / len(list_distinct(list_concat($a, $b)))
       | END""".stripMargin.replaceAll("\n", " ")
}
