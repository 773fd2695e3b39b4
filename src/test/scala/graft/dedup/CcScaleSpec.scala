package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Scale-shape properties of large-star/small-star: round count on a
  * 10⁵-node path (the diameter worst case where naive min-label
  * propagation needs 10⁵ rounds) stays within the published O(log² n)
  * bound, and a single giant star converges immediately without any
  * set-valued aggregation holding the neighborhood in one task. */
class CcScaleSpec extends SparkSpec {

  private def rounds(edges: org.apache.spark.sql.DataFrame, maxIter: Int): Int = {
    var e = edges
      .select(greatest(col("src"), col("dst")).as("u"), least(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    var iter = 0
    var converged = e.isEmpty
    while (!converged && iter < maxIter) {
      val next = ConnectedComponents.smallStar(ConnectedComponents.largeStar(e)).localCheckpoint()
      converged = next.except(e).union(e.except(next)).isEmpty
      e = next
      iter += 1
    }
    assert(converged, s"no fixpoint in $maxIter rounds")
    iter
  }

  test("10^5-node chain: converges well inside the log^2 bound, one component") {
    val n = 100000L
    val chain = spark.range(n - 1).select(col("id").as("src"), (col("id") + 1L).as("dst"))
    val log2n = math.ceil(math.log(n.toDouble) / math.log(2)).toInt // 17
    val r = rounds(chain, maxIter = log2n * log2n)
    // measured: converges in single-digit rounds; assert the published bound
    // with the practical margin (2*log2 n) so a regression to
    // diameter-bounded behavior fails loudly
    assert(r <= 2 * log2n, s"$r rounds on a ${n}-node path (log2 n = $log2n)")

    val comp = ConnectedComponents.components(chain)
    assert(comp.where(col("component") =!= 0L).isEmpty, "all nodes must label to node 0")
    assert(comp.count() == n)
  }

  test("single giant star (10^5 leaves) is already a fixpoint shape") {
    val n = 100000L
    val star = spark.range(1L, n).select(lit(0L).as("src"), col("id").as("dst"))
    val r = rounds(star, maxIter = 10)
    assert(r <= 2, s"a star centered at the minimum should converge immediately, took $r")
    val comp = ConnectedComponents.components(star)
    assert(comp.where(col("component") =!= 0L).isEmpty)
    assert(comp.count() == n)
  }
}
