package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized per-source aggregate summary of the `documents` table —
  * the asset behind [[graft.plans.SummaryRewrite]] (the engine's
  * materialized-view rewrite: `groupBy(source).agg(count/sum/min/max)`
  * over the raw corpus answered from this table instead of a corpus
  * scan).
  *
  * The summary holds one row per source with the re-usable partial
  * aggregates: row count and sum/min/max of `n_chars`. At 100 TB the
  * dashboard/monitoring queries that hit these aggregates daily pay a
  * |sources|-row read instead of a full scan — the same bytes-saved
  * argument as any materialized view, with freshness pinned by the
  * [[Indexes]] content fingerprint: a changed corpus maps to a NEW
  * summary directory, so a stale conf pointer simply stops matching
  * (it names a dir for data that no longer exists) rather than serving
  * wrong numbers for current data.
  */
object Summaries {

  /** Session-conf key pointing the rewrite rule at the published summary:
    * the summary dir, then the root paths of the documents scan it
    * summarizes, one per line. Unset (default) = rule inert.
    */
  val ConfKey = "spark.graft.summary.documents"

  /** Build the summary once per corpus version and point the session's
    * rewrite rule at it — for aggregates over `docs`' own scan only.
    * `docs` must be a plain documents scan (the rule's match), or the
    * summary would answer the raw table with a derived frame's numbers.
    */
  def enableFor(spark: SparkSession, sfDir: String, docs: DataFrame): String = {
    val roots = graft.plans.SummaryRewrite
      .scanRoots(docs.queryExecution.analyzed)
      .getOrElse(throw new IllegalArgumentException("a summary needs a plain file scan"))
    val dir = Indexes.ensure("agg-summary", sfDir, docs, "doc_id", "n_chars", "") { tmp =>
      docs
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          min(col("n_chars")).cast("long").as("min_chars"),
          max(col("n_chars")).cast("long").as("max_chars")
        )
        .coalesce(1)
        .write
        .mode("overwrite")
        .parquet(tmp)
    }
    spark.conf.set(ConfKey, (dir +: roots).mkString("\n"))
    dir
  }

  /** Stop rewriting in this session. */
  def disable(spark: SparkSession): Unit = spark.conf.unset(ConfKey)
}
