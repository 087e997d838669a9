package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Iterate

/** The loop helper: its round count and stop rules, and its cut, which
  * leaves each round a scan of materialized rows with no lineage above it.
  */
class IterateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def start = spark.range(0, 40).select(col("id"), (col("id") % 7).as("v"))
  private def bump(df: DataFrame) = df.select(col("id"), col("v") * 3 + col("id") % 5)
    .toDF("id", "v")

  /** The checkpointed RDD scans in `df`'s plan. */
  private def scans(df: DataFrame): Seq[LogicalRDD] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r }

  test("cut: the frame is one scan of checkpointed rows, with no lineage above it") {
    val c = Iterate.cut(bump(start))
    val s = scans(c)
    assert(s.length === 1, c.queryExecution.logical.treeString)
    assert(s.head.rdd.isCheckpointed, "the cut must materialize its rows eagerly")
    assert(c.queryExecution.logical.collect { case p if p.nodeName == "Range" => p }.isEmpty)
    assert(rows(c) === rows(bump(start)))
  }

  test("rounds: the uncut fold's rows, and the last round's plan stays one scan deep") {
    val uncut = (1 to 4).foldLeft(start)((df, _) => bump(df))
    val last = Iterate.rounds(start, 4)(bump)
    assert(rows(last) === rows(uncut))
    assert(scans(last).length === 1)
    assert(scans(last).head.rdd.isCheckpointed)
  }

  test("stop rules: None stops before the round, done after it, the cap leaves stopped unset") {
    val capped = Iterate(start, 3)(df => Some(bump(df)))
    assert((capped.rounds, capped.stopped) === ((3, false)))

    var calls = 0
    val empty = Iterate(start, 5) { df => calls += 1; if (calls == 3) None else Some(bump(df)) }
    assert((empty.rounds, empty.stopped) === ((2, true)))
    assert(rows(empty.last) === rows(bump(bump(start))))

    val conv = Iterate(start, 10, done = (_, next) => next.filter(col("v") > 1000).count() > 0)(df =>
      Some(bump(df))
    )
    // v grows ~3x a round from at most 6: the first round past 1000 is the 5th.
    assert((conv.rounds, conv.stopped) === ((5, true)))
    assert(rows(conv.last) === rows((1 to 5).foldLeft(start)((df, _) => bump(df))))
  }
}
