package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.functions._

/** Vector math over ArrayType(Float|Double) columns.
  *
  * The dot/cosine kernels are native Catalyst expressions with
  * `doGenCode` ([[NativeExprs]]): Spark's higher-order functions are
  * CodegenFallback (interpreted lambda dispatch + an intermediate array
  * per row), which was the dominant cost of every brute-force vector
  * scan. The native forms fuse into whole-stage codegen as one primitive
  * loop and produce bit-identical results to the HOF formulations they
  * replaced (left-to-right accumulation, same null/zero-norm rules).
  *
  * Semantics match the reference's cosine (search/graph.py:24-31):
  * dot/(‖a‖·‖b‖), 0.0 if either norm is 0.
  */
object VectorFunctions {

  private def asDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Sum of elementwise products, computed in double. */
  def dotProduct(a: Column, b: Column): Column =
    GraftSqlShim.column(NativeExprs.DotProduct(
      GraftSqlShim.expression(a), GraftSqlShim.expression(b)))

  /** L2 norm. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(asDouble(a), lit(0.0), (acc, x) => acc + x * x))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosineSimilarity(a: Column, b: Column): Column =
    GraftSqlShim.column(NativeExprs.CosineSim(
      GraftSqlShim.expression(a), GraftSqlShim.expression(b)))

  /** PQ codes for a vector against driver-constant codebooks
    * (cb(m)(k) = sub-centroid) — one fused per-row kernel pass.
    */
  def pqCodes(emb: Column, cb: Array[Array[Array[Double]]]): Column =
    GraftSqlShim.column(NativeExprs.PqCodes(GraftSqlShim.expression(emb),
      cb.flatten.flatten, cb.length, cb(0).length, cb(0)(0).length))

  /** PQ per-query ADC distance table, flat (m, code) order. */
  def pqDtab(emb: Column, cb: Array[Array[Array[Double]]]): Column =
    GraftSqlShim.column(NativeExprs.PqDtab(GraftSqlShim.expression(emb),
      cb.flatten.flatten, cb.length, cb(0).length, cb(0)(0).length))

  /** SQ8 codes for a vector against driver-constant per-dim bounds. */
  def sq8Codes(emb: Column, mins: Array[Double], maxs: Array[Double]): Column =
    GraftSqlShim.column(NativeExprs.Sq8Codes(
      GraftSqlShim.expression(emb), mins, maxs))

  /** Asymmetric SQ8 cosine: exact query vs reconstructed coded vector. */
  def sq8Cosine(query: Column, codes: Column,
      mins: Array[Double], maxs: Array[Double]): Column =
    GraftSqlShim.column(NativeExprs.Sq8Cosine(
      GraftSqlShim.expression(query), GraftSqlShim.expression(codes),
      mins, maxs))

  /** Binary-quantization codes: sign bits vs per-dim thresholds, packed
    * into ceil(dims/64) longs. */
  def binCodes(emb: Column, thresholds: Array[Double]): Column =
    GraftSqlShim.column(NativeExprs.BinCodes(
      GraftSqlShim.expression(emb), thresholds))

  /** Packed-word Hamming distance between two binary-code columns. */
  def binHamming(a: Column, b: Column): Column =
    GraftSqlShim.column(NativeExprs.BinHamming(
      GraftSqlShim.expression(a), GraftSqlShim.expression(b)))

  /** Cosine against a constant query vector (the common search shape). */
  def cosineToQuery(emb: Column, query: Array[Float]): Column = {
    val q = query.map(_.toDouble)
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    if (qNorm == 0.0) lit(0.0)
    else cosineSimilarity(emb, array(q.map(lit): _*))
  }
}
