package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Iterate

/** Integer-exact PageRank over an undirected pair graph — the second
  * iterative graph operator next to connected components
  * ([[Dedup.connectedComponents]]), used to rank members of near-duplicate /
  * similarity clusters (e.g. pick the most central representative).
  *
  * Determinism is the design constraint: double-valued PageRank sums are
  * partition-order-dependent and libm-dependent, so ranks are SCALED
  * INTEGERS with floor-division damping —
  *
  *   r⁰(v) = S;   rᵏ⁺¹(v) = 0.15·S + Σ_{u→v} (17·rᵏ(u)) div (20·deg(u))
  *
  * (0.85 = 17/20 exactly; S divisible by 20). Every operation is integer
  * add/multiply/floor-div, so any engine — including the DuckDB oracle,
  * which unrolls the same iterations as CTE steps — reproduces every rank
  * bit-for-bit on any partitioning.
  *
  * Scale shape: one edges⋈ranks equi-join plus one partial-aggregable
  * groupBy per iteration (the standard message-passing round), run by
  * [[graft.util.Iterate]], which cuts each round's lineage with a
  * checkpoint (plan size would otherwise double per iteration and
  * driver-side analysis would dominate — the connected-components
  * lesson). Degrees are computed once. No driver state beyond the loop
  * counter.
  */
object PageRank {

  val Scale = 1000000000000L // 10^12, divisible by 20
  private val Base = Scale * 3 / 20 // 0.15·S, exact

  /** pairs(a_id, b_id) → (id, pr) after `iters` rounds. Nodes are the
    * pair endpoints (isolated docs have no edges and no rank — rank them
    * Base + their own contribution trivially if ever needed).
    */
  def pagerankInt(pairs: DataFrame, iters: Int): DataFrame = {
    val edges = pairs
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .transform(Iterate.cut)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = Iterate.cut(edges.join(deg, Seq("src")))
    Iterate
      .rounds(deg.select(col("src").as("id"), lit(Scale).as("r")), iters) { ranks =>
        withDeg
          .join(ranks, col("src") === col("id"))
          .select(
            col("dst"),
            expr(s"(17L * r) div (20L * deg)").as("contrib")
          )
          .groupBy(col("dst"))
          .agg((lit(Base) + sum(col("contrib"))).as("r"))
          .select(col("dst").as("id"), col("r"))
      }
      .select(col("id"), col("r").as("pr"))
  }
}
