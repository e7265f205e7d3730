package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Higher-order-function twins of the native [[graft.functions.Vec]]
  * kernels — registration-free reference oracles for the
  * differential specs in [[DedupSimilaritySpec]].
  */
object VecHof {

  /** `floor(x * 1000)` per component, as `graft_quantize`. */
  def quantize(v: Column): Column =
    transform(v, x => floor(x.cast("double") * 1000).cast("long"))

  /** Exact squared L2 distance, as `graft_sqd2`. */
  def sqd2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** Exact integer dot product, as `graft_dotq`. */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
}
