package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative PageRank in FIXED-POINT integer arithmetic.
  *
  * Float PageRank cannot cross the correctness gate: a distributed
  * sum of doubles is summation-order-dependent, so two engines (or two
  * runs) disagree in the last ulps. Here ranks are longs in units of
  * `scale⁻¹`: contributions are `rank div outdeg`, the damping update
  * is `(15·base + 85·Σcontrib) div 100` — every operation is exact
  * 64-bit integer arithmetic with identical truncation semantics in
  * Spark (`div`) and DuckDB (`//`), so the result is bit-reproducible
  * across engines, partitionings, and retries. The quantization error
  * vs real PageRank is ≤ iterations·outdeg/scale — ~10⁻⁹ relative at
  * the default scale, far below any ranking use.
  *
  * Scale shape per iteration: one shuffle to join ranks to edges on
  * `src` (both sides uniform — edge lists are pre-deduped), one
  * partial-aggregable shuffle to sum contributions by `dst`. Lineage
  * is cut every third iteration (localCheckpoint) so the plan depth
  * stays bounded for any iteration count without paying an eager
  * materialization job per round. Overflow headroom: 85·scale ≪ 2⁶³.
  *
  * Requires every node to have ≥ 1 out-edge (true for symmetrized
  * graphs); dangling-mass redistribution is intentionally out of
  * scope and documented rather than silently approximated.
  */
object PageRank {

  def ranks(edges: DataFrame, iterations: Int,
            scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .select(col("src").as("id"), col("outdeg")).localCheckpoint()
    val n = deg.count()
    require(n > 0, "empty graph")
    val base = scale / n
    var r = deg.select(col("id"), col("outdeg"), lit(base).as("rank"))
    for (i <- 1 to iterations) {
      val sums = e.join(r, e("src") === r("id"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      r = deg.join(sums, deg("id") === sums("dst"), "left")
        .select(deg("id"), deg("outdeg"),
          expr(s"(${15L * base} + 85 * coalesce(s, 0L)) div 100").as("rank"))
      // Cut lineage every few rounds, not every round: localCheckpoint
      // is EAGER (one materialization job each), and a 3-deep join
      // plan is cheaper than three extra jobs. The period still bounds
      // plan depth for any iteration count, which is all the cut is
      // for.
      if (i % 3 == 0 && i < iterations) r = r.localCheckpoint()
    }
    r.select(col("id"), col("rank"))
  }
}
