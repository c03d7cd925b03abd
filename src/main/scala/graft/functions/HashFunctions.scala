package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, oracle-portable hashing for dedup pipelines.
  *
  * Design note for scale AND verifiability: every hash bottoms out in
  * md5 hex strings, which Spark and DuckDB compute identically. A MinHash
  * value is the lexicographic MIN of fixed-length hex digests — order-
  * isomorphic to the unsigned integer interpretation, with zero
  * byte-order / signedness pitfalls across engines. All expressions stay
  * inside whole-stage codegen (no UDFs).
  */
object HashFunctions {

  /** Word n-gram shingles WITH multiplicity (repetition analysis needs
    * the raw occurrence counts that the distinct set form discards).
    * Native kernel; the HOF window formulation is generator-tested
    * against it in NativeExprPropertySpec.
    */
  def wordShinglesAll(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftSqlShim
    GraftSqlShim.column(NativeExprs.WordShinglesAllExpr(
      GraftSqlShim.expression(text), n))
  }

  /** Word n-gram shingles over the canonical token array. */
  def wordShingles(text: Column, n: Int): Column = {
    val ts = TextFunctions.tokens(text)
    val count = size(ts)
    // positions 0 .. count-n; slice is 1-based
    array_distinct(
      when(count < n, array(array_join(ts, " ")))
        .otherwise(
          transform(
            sequence(lit(1), count - lit(n - 1)),
            i => array_join(slice(ts, i, lit(n)), " ")
          )
        )
    )
  }

  /** Character n-gram shingles over normalized text. */
  def charShingles(text: Column, n: Int): Column = {
    val norm = TextFunctions.normalizedText(text)
    val len = length(norm)
    array_distinct(
      when(len <= n, array(norm))
        .otherwise(
          transform(
            sequence(lit(1), len - lit(n - 1)),
            i => substring(norm, i, lit(n))
          )
        )
    )
  }

  /** Char shingles hashed to 60-bit longs (15 md5 hex chars): set ops on
    * primitive arrays are several times cheaper than on short strings
    * when millions of candidate pairs each carry a ~250-element set.
    * Collisions (~2^-60 per pair of shingles) are negligible and the
    * hash is engine-portable, so the oracle replays it exactly.
    */
  def hashedCharShingles(text: Column, n: Int): Column = {
    // native one-pass kernel; the HOF formulation
    // array_distinct(transform(charShingles(...), conv(md5...))) is
    // generator-tested against it in NativeExprPropertySpec
    import org.apache.spark.sql.GraftSqlShim
    GraftSqlShim.column(NativeExprs.HashedCharShingles(
      GraftSqlShim.expression(text), n))
  }

  /** Word shingles hashed ONCE to 31-bit longs. The MinHash family
    * below derives every hash function from this single digest by
    * universal mixing — md5 (the dominant cost of signature building)
    * runs once per shingle instead of once per (shingle, hash).
    * 31 bits keep every mixed product inside a signed 64-bit value in
    * both Spark and DuckDB (no overflow-semantics divergence).
    */
  def hashedWordShingles(text: Column, n: Int): Column = {
    // native one-pass kernel — the HOF formulation
    // array_distinct(transform(wordShingles(...), conv(md5...)&mask))
    // walked four interpreted lambda trees per row; equivalence is
    // generator-tested in NativeExprPropertySpec
    import org.apache.spark.sql.GraftSqlShim
    GraftSqlShim.column(NativeExprs.HashedWordShingles(
      GraftSqlShim.expression(text), n))
  }

  /** Modulus of the MinHash mixing family: 2^31 − 1 (Mersenne prime). */
  val MinhashPrime = 2147483647L

  /** Deterministic per-hash mixing constants, mirrored literally into
    * the DuckDB oracle SQL (Tables.sqlMinhash) so both engines compute
    * the identical family h_i(x) = (a_i·x + b_i) mod P.
    */
  def minhashA(i: Int): Long = ((i + 1L) * 2654435761L) % MinhashPrime
  def minhashB(i: Int): Long = (i * 40503L + 12345L) % MinhashPrime

  /** One mixed MinHash term over an already-hashed shingle value. */
  def minhashMix(hashed: Column, i: Int): Column =
    pmod(hashed * lit(minhashA(i)) + lit(minhashB(i)), lit(MinhashPrime))

  /** Whole signature (array<long>, length `numHashes`) from a hashed-
    * shingle array in one per-row kernel pass — no explode, no groupBy,
    * no shuffle ([[NativeExprs.MinhashSig]]); element i equals
    * `min(minhashMix(h, i))` over the array, bit-exactly.
    */
  def minhashSig(hashedShingles: Column, numHashes: Int): Column = {
    import org.apache.spark.sql.GraftSqlShim
    GraftSqlShim.column(NativeExprs.MinhashSig(
      GraftSqlShim.expression(hashedShingles), numHashes))
  }

  /** LSH band keys over an array<long> signature: hash `rows`-sized
    * bands; docs sharing any band key are near-dup candidates. Returns
    * array<struct<band:int, key:string>>.
    */
  def lshBands(signature: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        md5(array_join(
          transform(slice(signature, b * rows + 1, rows), _.cast("string")),
          ",")).as("key")
      )
    }: _*)

  /** SimHash over token hashes, `bits` wide (bits <= 32). Each token
    * votes its md5-derived bit pattern; the sign of the per-bit vote sum
    * forms the fingerprint. Uses the first 8 hex chars of the token md5
    * as a 32-bit unsigned value via conv().
    */
  def simhash(text: Column, bits: Int = 32): Column = {
    require(bits >= 1 && bits <= 32, "simhash bits must be in [1,32]")
    // fully fused tokenize + per-occurrence hash + vote kernel; the
    // interpreted transform(tokens, md5) feeding SimHashVotes (itself
    // still the SQL-facing array form) is generator-tested against it
    import org.apache.spark.sql.GraftSqlShim
    GraftSqlShim.column(NativeExprs.SimHashText(
      GraftSqlShim.expression(text), bits))
  }

  /** Jaccard similarity of two shingle arrays. Inputs must be DISTINCT
    * (every producer in this module emits array_distinct output), so
    * |A∪B| = |A|+|B|−|A∩B| — this skips materializing the union array
    * that array_union would build per candidate pair.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(a).cast("double") + size(b).cast("double") - inter
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** Jaccard of two SORTED DISTINCT array<long> columns via the native
    * two-pointer merge ([[NativeExprs.SortedIntersectSize]]) — the
    * all-pairs hot path: zero allocation per pair, fully codegen'd.
    * Sort once per document (sort_array), intersect per pair.
    */
  def jaccardSortedLong(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftSqlShim
    val inter = GraftSqlShim.column(NativeExprs.SortedIntersectSize(
      GraftSqlShim.expression(a), GraftSqlShim.expression(b))).cast("double")
    val uni = size(a).cast("double") + size(b).cast("double") - inter
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }
}
