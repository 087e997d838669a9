package graft.util

import org.apache.spark.sql.DataFrame

/** The one loop of graft's iterative operators (PageRank, connected
  * components, BPE and Unigram training) and its lineage policy.
  *
  * Every round's frame, and every frame the rounds read, is cut by [[cut]],
  * so the plan stays one scan deep however many rounds run (an unbroken
  * lineage grows, or doubles, per round, and driver-side analysis then
  * dominates). The cut is an eager `localCheckpoint`: one write job, its
  * blocks held by the executors that wrote them. Every graft session runs
  * `local[N]`, where an executor cannot be lost without the driver; on a
  * cluster a lost executor would fail the loop, and the reliable
  * `Dataset.checkpoint` that closes that hazard is a one-line swap here.
  */
object Iterate {

  /** How a loop ended: its last frame, the rounds it ran, and whether a
    * stop rule ended it before the round cap did.
    */
  final case class Result(last: DataFrame, rounds: Int, stopped: Boolean)

  /** Up to `maxRounds` rounds of `step` from `init`. A round's `step`
    * returns `None` when nothing is left to do (the loop stops before the
    * round), or the next frame, which is [[cut]]; `done(prev, next)` on the
    * cut frame then decides whether the loop stops after the round.
    */
  def apply(
      init: DataFrame,
      maxRounds: Int,
      done: (DataFrame, DataFrame) => Boolean = (_, _) => false
  )(step: DataFrame => Option[DataFrame]): Result = {
    @annotation.tailrec
    def go(cur: DataFrame, round: Int): Result =
      if (round >= maxRounds) Result(cur, round, stopped = false)
      else
        step(cur) match {
          case None => Result(cur, round, stopped = true)
          case Some(next) =>
            val n = cut(next)
            if (done(cur, n)) Result(n, round + 1, stopped = true) else go(n, round + 1)
        }
    go(init, 0)
  }

  /** Exactly `rounds` rounds of `step` from `init`, each round's frame cut. */
  def rounds(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame =
    apply(init, rounds)(cur => Some(step(cur))).last

  /** `df` materialized by an eager checkpoint: a scan of its rows with no
    * lineage above it.
    */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint()
}
