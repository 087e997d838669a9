package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Iterate

/** Host-level link-graph analytics: damped PageRank over a (src, dst)
  * edge list in EXACT integer fixed-point — the ranking Common Crawl
  * itself publishes beside every crawl (host/domain-level web graph +
  * centrality ranks), and the signal crawl schedulers feed back into
  * frontier prioritization.
  *
  * Each PageRank round is one map→shuffle→reduce: contributions fan out
  * along edges (map), hash-shuffle on the destination host, and sum
  * (reduce) — i.e. the reference's single round
  * (`/root/reference/src/index.js:163-204`, map → shuffle-on-key →
  * reduce) ITERATED, with the reduce output of round t feeding round
  * t+1's map. Spark expresses the whole unrolled chain as one
  * declarative plan; Catalyst reuses the edge-list exchange across
  * rounds.
  *
  * Arithmetic is integer fixed-point ([[RankScale]] units per unit of
  * rank) so results are bit-deterministic and partition-order-free:
  * floating-point PageRank sums in shuffle arrival order and never
  * reproduces across runs, which breaks both the oracle replay and any
  * cross-engine parity check. Floor division leaks sub-unit mass (the
  * standard price; ranks stay a fixed point of the ORDERING long before
  * they'd be a fixed point of the real-valued system).
  *
  * Scale posture (100 TB): the host graph is corpus-linear in edges but
  * host-bounded in nodes (~10^8 hosts for the full web). Each round is
  * one join + one hash aggregation — both keyed shuffles, no all-pairs
  * stage. Per-round partial aggregation caps the hub problem map-side;
  * a mega-hub's in-mass sum is bounded by total mass N·RankScale ≈
  * 10^17 < Long.MaxValue at RankScale=10^9, and past ~10^9 hosts the
  * sum lane lifts to DECIMAL(38,0) the way BM25's scores did
  * ([[TextIndex]]). Rounds run through [[graft.util.Iterate]], which cuts
  * each round's lineage with a checkpoint.
  */
object LinkGraph {

  /** Fixed-point units per unit of rank (10^9: sub-ppb resolution,
    * total-mass headroom to ~10^9 hosts in an int64 sum lane).
    */
  val RankScale: Long = 1000000000L

  /** Damping factor 0.85 as an exact rational. */
  val DampNum: Long = 85L
  val DampDen: Long = 100L

  /** `iters` rounds of damped PageRank over `edges` (columns `src`,
    * `dst`; self-loops and duplicate edges are dropped — host-level web
    * graphs are simple digraphs). Every node starts at [[RankScale]]
    * (the un-normalized formulation: total mass ≈ N, invariant under
    * the update), then
    *
    *   r(v) ← (15·RankScale) DIV 100 + (85 · Σ_{u→v} r(u) DIV outdeg(u)) DIV 100
    *
    * — all floor divisions on nonnegative longs, so Spark `DIV` and the
    * oracle's `//` agree bitwise. Dangling hosts (no outlinks) keep
    * receiving teleport mass but forward none: their mass leaks, the
    * deterministic variant of the usual dangling-mass redistribution.
    *
    * Returns (`h`, `rank`): host and fixed-point rank after `iters`
    * rounds.
    */
  def pageRank(edges: DataFrame, iters: Int = 3): DataFrame = {
    val e = simpleEdges(edges)
    val nodes = nodesOf(e)
    val r0 = nodes.withColumn("rank", lit(RankScale))
    // every round but the LAST is cut; the last stays lazy so the caller
    // composes (and plan-audits) a real join+agg plan, not an opaque
    // materialized-RDD scan
    if (iters < 1) r0 else round(e, nodes)(Iterate.rounds(r0, iters - 1)(round(e, nodes)))
  }

  /** [[pageRank]] with an EPSILON STOP — the published formulation's
    * convergence rule the fixed-round form leaves out. After each round
    * the max absolute rank movement (integer [[RankScale]] units) is
    * checked on the driver; the walk stops at the first round where it
    * drops below `epsilonUnits`, else at `maxIters`. Integer arithmetic
    * makes the round count itself bit-deterministic — the same corpus
    * always converges at the same round on any cluster, so the oracle can
    * replay the unrolled recurrence and re-derive BOTH the ranks and the
    * stopping round. Dangling mass leaks, as in [[pageRank]].
    *
    * Returns (`h`, `rank`, `rounds`) with `rounds` the executed count.
    * Per-round cost adds one tiny driver action (the max-delta check —
    * |hosts|-row aggregate); everything stays keyed shuffles, no
    * all-pairs.
    */
  def pageRankConverged(
      edges: DataFrame,
      maxIters: Int = 6,
      epsilonUnits: Long = RankScale / 10
  ): DataFrame = {
    val e = simpleEdges(edges)
    val nodes = nodesOf(e).transform(Iterate.cut)
    def maxDelta(r: DataFrame, rNew: DataFrame): Long = rNew
      .join(r.select(col("h"), col("rank").as("prev")), "h")
      .agg(coalesce(max(abs(col("rank") - col("prev"))), lit(0L)))
      .head()
      .getLong(0)
    val run = Iterate(
      nodes.withColumn("rank", lit(RankScale)).transform(Iterate.cut),
      maxIters,
      done = (r, rNew) => maxDelta(r, rNew) < epsilonUnits
    )(r => Some(round(e, nodes)(r)))
    run.last.withColumn("rounds", lit(run.rounds.toLong))
  }

  /** The simple digraph of `edges` (self-loops and duplicate edges
    * dropped), cut ONCE: it feeds outdegrees, the node set and every
    * round's contribution join — left lazy, each of those references
    * re-runs the whole upstream derivation (scan + normalize + explode +
    * joins), turning 3 rounds into ~16 corpus passes.
    */
  private def simpleEdges(edges: DataFrame): DataFrame =
    edges
      .select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .transform(Iterate.cut)

  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("h")).union(e.select(col("dst").as("h"))).distinct()

  /** One damped round over (`h`, `rank`): contributions fan out along
    * edges, sum per destination, and every node takes teleport plus its
    * damped in-mass.
    */
  private def round(e: DataFrame, nodes: DataFrame)(r: DataFrame): DataFrame = {
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val contrib = e
      .join(deg, "src")
      .join(r.withColumnRenamed("h", "src"), "src")
      .select(col("dst"), expr("rank DIV outdeg").as("c"))
    val inMass = contrib.groupBy(col("dst")).agg(sum(col("c")).as("m"))
    nodes
      .join(inMass.withColumnRenamed("dst", "h"), Seq("h"), "left")
      .select(
        col("h"),
        (lit((DampDen - DampNum) * RankScale / DampDen) +
          expr(s"($DampNum * coalesce(m, CAST(0 AS BIGINT))) DIV $DampDen")).as("rank")
      )
  }

  /** Crawl-budget apportionment by rank share — largest-remainder
    * (Hamilton) method, the exact-integer way to split `budget` fetch
    * slots proportionally so they SUM TO THE BUDGET EXACTLY:
    * `base_h = budget·rank_h div Σrank`, and the `budget − Σbase`
    * leftover slots go one each to the largest remainders
    * (`budget·rank_h mod Σrank`), ties broken by higher rank then host
    * name — fully deterministic, both engines replay every slot.
    *
    * The `budget·rank` products run in DECIMAL(38,0): with ranks in
    * [[RankScale]] units a web-scale host table overflows int64 there.
    * The remainder ranking is a GLOBAL order over the host dimension —
    * ranked with the two-level [[Split.shardedRowNumber]] (constant
    * partition key: the range exchange still bounds every sort
    * partition), not a single-partition window. Input `ranks` must have
    * columns (`h`, `rank`); returns (domain, rank, base, rem, rn, alloc).
    */
  def crawlBudget(ranks: DataFrame, budget: Long, shards: Int = 32): DataFrame = {
    require(budget >= 0, "budget must be nonnegative")
    val tot = ranks.agg(sum(col("rank")).as("t"))
    val q = ranks
      .crossJoin(broadcast(tot))
      .withColumn(
        "base",
        expr(s"CAST((CAST($budget AS DECIMAL(38,0)) * rank) DIV t AS BIGINT)")
      )
      .withColumn(
        "rem",
        expr(s"CAST((CAST($budget AS DECIMAL(38,0)) * rank) % t AS BIGINT)")
      )
      .withColumn("_k", lit(1))
    // composite sort order (rem DESC, rank DESC, h ASC) straight through
    // the two-level rank — no packed key, no 40-byte string shuffle
    val ranked = Split.shardedRowNumber(
      q,
      "_k",
      Seq(col("rem").desc, col("rank").desc, col("h")),
      shards,
      out = "rn"
    )
    val lv = ranked.agg((lit(budget) - sum(col("base"))).as("leftover"))
    ranked
      .crossJoin(broadcast(lv))
      .select(
        col("h").as("domain"),
        col("rank"),
        col("base"),
        col("rem"),
        col("rn"),
        (col("base") + when(col("rn") <= col("leftover"), 1L).otherwise(0L)).as("alloc")
      )
  }
}
