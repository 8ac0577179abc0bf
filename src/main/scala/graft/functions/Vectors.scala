package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column math over `array<float>` embedding columns.
  *
  * Elementwise ops are cast to double first and folded left-to-right
  * (`aggregate` is a sequential fold), so the result is bit-identical to any
  * engine that evaluates sum(x_i*y_i) in index order — which makes cosine
  * scores oracle-comparable. Everything is built-in higher-order functions:
  * no UDF, no serialization boundary, runs inside codegen'd projections.
  */
object Vectors {

  private def d(c: Column): Column = c.cast("array<double>")

  /** The general dot ([[DotProduct]] over `array<double>`): the cast is a
    * no-op for array<double> inputs and widens array<float> elements
    * exactly as the old `cast → zip_with → aggregate` form did. */
  def dot(a: Column, b: Column): Column = VecExpr.dot(d(a), d(b))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Float-array dot product without the double cast ([[DotProduct]]
    * over `array<float>`): bit-identical result to [[dot]] (same widening
    * + summation order). The hot-path form for pairwise similarity joins. */
  def fdot(a: Column, b: Column): Column = VecExpr.dot(a, b)

  def fnorm(a: Column): Column = sqrt(fdot(a, a))

  /** Cosine from a fused dot and PREcomputed norms — in a pairwise join,
    * compute each side's norm once per row before the join, not once per
    * candidate pair. */
  def cosinePrenormed(dotAb: Column, normA: Column, normB: Column): Column =
    dotAb / (normA * normB)

  /** 60-bit deterministic hash of a string column: first 15 hex digits of
    * md5 as a long. md5 (unlike xxhash64) exists in every engine, so
    * LSH/minhash built on it is replayable bit-for-bit by the DuckDB oracle:
    * `CAST(CONCAT('0x', SUBSTR(md5(x),1,15)) AS BIGINT)`. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Random-hyperplane LSH bit: sign of dot(v, plane) for a deterministic
    * pseudo-random plane derived from (seed, index) — component i =
    * hash60(seed || '_' || i) mapped to [-1, 1], same in every engine.
    * The plane is CONSTANT per query, so it's materialized driver-side and
    * fused into a single-pass dot ([[FloatDotWeightsExpr]]) instead of
    * being re-derived per row per bit. */
  def hyperplaneBit(v: Column, dim: Int, seed: Int): Column =
    (HashExpr.floatDotWeights(v, HashSketch.plane(dim, seed)) >= 0).cast("int")

  /** k-bit signature as a string bucket key. */
  def hyperplaneBucket(v: Column, dim: Int, bits: Int, seed: Int): Column =
    concat_ws("", (0 until bits).map(b => hyperplaneBit(v, dim, seed * 1000 + b)): _*)

  // ---- int8 storage quantization ----------------------------------------
  // Symmetric per-vector quantization: scale = max |component|, q_i =
  // round(v_i · 127 / scale) as a tinyint — 4× smaller at rest than
  // float32, 8× than float64. Values are clamped by construction
  // (|v_i| ≤ scale ⇒ |q_i| ≤ 127), so the tinyint cast can't overflow
  // even under ANSI. Dequantize is exact over the int lattice: the round
  // result is integral in [-127, 127], so the byte roundtrip loses
  // nothing beyond the quantization itself.

  /** Per-vector quantization scale (floored: a zero vector quantizes to
    * zeros instead of dividing by zero). */
  def q8Scale(v: Column): Column =
    greatest(array_max(transform(d(v), abs(_))), lit(1e-30))

  /** `array<float|double>` → `array<tinyint>` under `scale`. */
  def q8Quantize(v: Column, scale: Column): Column =
    transform(d(v), x => round(x * 127.0 / scale).cast("tinyint"))

  /** `array<tinyint>` → `array<double>` under the same `scale`. */
  def q8Dequantize(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale / 127.0)
}
