package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float|double>` columns via higher-order
  * functions (`zip_with` + `aggregate`): codegen'd, no UDFs, no MLlib
  * dependency in the hot path. Inputs are cast to double first so the
  * left-to-right summation order produces bit-identical results across
  * engines (the DuckDB oracle sums in the same element order).
  */
object VectorFunctions {

  /** Cast array<float> to array<double>. */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product: sum over zip_with multiply, left-to-right. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity; 0 when either norm is 0. Native codegen'd
    * expression ([[graft.expressions.NativeExpressions.CosineSimilarity]]):
    * one pass computes dot and both norms, summing left-to-right like the
    * zip_with/aggregate formulation it replaces (oracle-bit-compatible).
    */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.NativeExpressions.cosine(a, b)

  /** Symmetric int8 codes of an embedding (array<byte>, 4x smaller than
    * float32): per-vector scale max|x|/127, HALF_UP rounding, clamp to
    * [-127, 127]. Cosine is scale-invariant, so codes alone rank —
    * see [[cosineI8]].
    */
  def quantizeI8(v: Column): Column =
    graft.expressions.NativeExpressions.quantizeI8(toDouble(v))

  /** Cosine over int8 code arrays — exact integer accumulation. */
  def cosineI8(a: Column, b: Column): Column =
    graft.expressions.NativeExpressions.cosineI8(a, b)

  /** Deterministic pseudo-random hyperplanes for sign-LSH: component
    * (p, d) is uniform in [-1, 1), derived from md5("plane_p_d") — NOT a
    * JVM PRNG, so any md5-equipped SQL engine regenerates the identical
    * planes (`('0x'||substr(md5('plane_'||p||'_'||d),1,15))::BIGINT /
    * 2^60 * 2 - 1`), which makes the LSH output oracle-checkable.
    * Uniform (vs gaussian) components still give an unbiased random
    * direction per sign test in practice. Computed driver-side once and
    * inlined as a literal (a few KB — broadcast by the plan), so every
    * executor sees identical planes.
    */
  def hyperplanes(dim: Int, numPlanes: Int): Seq[Seq[Double]] =
    Seq.tabulate(numPlanes) { p =>
      Seq.tabulate(dim) { d =>
        val h = graft.expressions.Kernels.md5_60(
          s"plane_${p}_$d".getBytes("UTF-8"))
        h.toDouble / 1152921504606846976.0 * 2 - 1 // / 2^60
      }
    }

  /** Multi-probe style banding for sign-LSH: split the `numPlanes` sign
    * bits into `bands` groups; a candidate pair must agree on ALL bits of
    * at least one band. More bands -> higher recall, more candidates.
    * Native codegen'd expression carrying the plane matrix as a reference
    * object — numPlanes interpreted dot products per row otherwise.
    */
  def signLshBandKeys(v: Column, planes: Seq[Seq[Double]], bands: Int)
      : Column =
    graft.expressions.NativeExpressions.signLshBandKeys(v, planes, bands)
}
