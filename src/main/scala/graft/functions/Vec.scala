package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector ops over `array<float>` embedding columns.
  *
  * All similarity math runs on *integer-quantized* vectors
  * (`floor(x * 1000)` per component — the int8/int16 quantization
  * trick used by large-scale ANN systems, here at 3-decimal
  * precision). Integer dot products are exact and associative, so
  * scores are identical on any partitioning / cluster size — a float
  * dot product would drift in the last ulps between runs and engines.
  *
  * Everything below resolves to native codegen'd kernels — no UDFs,
  * stays inside whole-stage codegen. Their higher-order-function
  * twins, the differential-test references, live beside the specs.
  */
object Vec {

  /** Quantize `array<float>` → `array<long>` at 3 decimals — resolves
    * to the native codegen'd [[QuantizeVec]] kernel, which every engine
    * session carries (see [[Registry]]).
    */
  def quantize(v: Column): Column = call_function("graft_quantize", v)

  /** Exact squared L2 distance of two quantized vectors — the native
    * [[VecSqDist]] kernel.
    */
  def sqd2(a: Column, b: Column): Column = call_function("graft_sqd2", a, b)

  /** Elementwise difference of two quantized vectors (residuals) —
    * the native [[VecSubtract]] kernel.
    */
  def subQ(a: Column, b: Column): Column = call_function("graft_vec_sub", a, b)

  /** Argmin centroid slot against an inlined `array<array<long>>`
    * table — the native [[NearestCode]] kernel; min(struct(d2, slot))
    * tie-break like `assignCells`.
    */
  def nearestCode(v: Column, cents: Column): Column =
    call_function("graft_nearest_code", v, cents)

  /** Exact integer dot product of two quantized vectors — resolves to
    * the native codegen'd [[LongDotProduct]].
    */
  def dotQ(a: Column, b: Column): Column = call_function("graft_dotq", a, b)

  /** Euclidean norm of a quantized vector (double, deterministic). */
  def normQ(a: Column): Column = sqrt(dotQ(a, a).cast("double"))

  /** Signed projection of a quantized vector onto a ±1 hyperplane
    * (for sign-random-projection LSH): true if dot(v, plane) > 0.
    * Runs through the native [[LongDotProduct]] kernel — integer
    * multiply/add in the same order as the HOF form, bit-identical.
    */
  def planeSide(v: Column, plane: Seq[Int]): Column =
    dotQ(v, typedlit(plane.map(_.toLong))) > 0
}
