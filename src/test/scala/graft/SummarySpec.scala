package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Summaries

/** Materialized-view rewrite contract ([[graft.plans.SummaryRewrite]]):
  * covered aggregates over the documents scan are answered from the
  * published summary, uncovered shapes and disabled sessions are left
  * alone, and the rewritten plan's values are identical to the scan's.
  */
class SummarySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def scannedPaths(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def covered = coveredOn(sf)

  private def coveredOn(sfDir: String) = {
    val docs = Tables.documents(spark, sfDir)
    docs
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars")
      )
      .orderBy("source")
  }

  test("covered aggregate is answered from the summary, values unchanged") {
    val docs = Tables.documents(spark, sf)
    try {
      val expected = covered.collect().map(_.toString).toSeq // pre-enable: real scan
      val dir = Summaries.enableFor(spark, sf, docs)
      val df = covered
      val plan = scannedPaths(df)
      assert(plan.contains("agg-summary"), s"must scan the summary:\n${plan.take(1500)}")
      assert(
        !plan.contains("documents.parquet"),
        s"must NOT scan the corpus:\n${plan.take(1500)}"
      )
      assert(df.collect().map(_.toString).toSeq === expected)
      assert(dir.contains("agg-summary"))
    } finally Summaries.disable(spark)
  }

  test("a summary answers only the documents table it was built from") {
    // same session, another documents table: the covered aggregate must
    // scan that table, not read the enabled table's summary
    Summaries.disable(spark)
    val other = "/root/testdata/sf0.01"
    val expected = coveredOn(other).collect().map(_.toString).toSeq
    try {
      Summaries.enableFor(spark, sf, Tables.documents(spark, sf))
      val df = coveredOn(other)
      val plan = scannedPaths(df)
      assert(!plan.contains("agg-summary"), s"must scan $other:\n${plan.take(1500)}")
      assert(df.collect().map(_.toString).toSeq === expected)
    } finally Summaries.disable(spark)
  }

  test("disabled session keeps the corpus scan") {
    Summaries.disable(spark)
    val plan = scannedPaths(covered)
    assert(plan.contains("documents.parquet"))
    assert(!plan.contains("agg-summary"))
  }

  test("uncovered aggregate shapes are not rewritten while enabled") {
    val docs = Tables.documents(spark, sf)
    try {
      Summaries.enableFor(spark, sf, docs)
      // sum over a column the summary does not carry
      val other = docs.groupBy(col("source")).agg(sum(col("doc_id")).as("s"))
      assert(scannedPaths(other).contains("documents.parquet"))
      // a pre-aggregation filter changes the answer set: must not rewrite
      val filtered = docs
        .filter(col("n_chars") > 100)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
      assert(scannedPaths(filtered).contains("documents.parquet"))
      // DISTINCT is not the summary's count
      val distinct =
        docs.groupBy(col("source")).agg(countDistinct(col("n_chars")).as("n"))
      assert(scannedPaths(distinct).contains("documents.parquet"))
    } finally Summaries.disable(spark)
  }

  test("SQL text over a registered view rewrites too") {
    val docs = Tables.documents(spark, sf)
    try {
      Summaries.enableFor(spark, sf, docs)
      Graft.registerSql(spark, sf)
      val df = spark.sql(
        "SELECT source, count(1) AS n_docs, sum(n_chars) AS sum_chars " +
          "FROM documents GROUP BY source ORDER BY source"
      )
      val plan = scannedPaths(df)
      assert(plan.contains("agg-summary"), s"SQL path must rewrite:\n${plan.take(1500)}")
      assert(df.count() > 0)
    } finally Summaries.disable(spark)
  }
}
