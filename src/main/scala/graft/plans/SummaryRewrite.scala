package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, Repartition, RepartitionByExpression}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

import graft.operators.Summaries

/** Materialized-view rewrite for the per-source documents summary: an
  * `Aggregate(groupBy source, [count(1) | sum/min/max(n_chars)])` whose
  * child is a scan of the documents table is answered from the published
  * [[Summaries]] table (|sources| rows) instead of the corpus — the
  * engine-side half of the materialized-view contract every warehouse
  * (Databricks MVs, BigQuery BI Engine, Trino MV rewrite) offers: users
  * keep writing the query against the base table; the optimizer
  * substitutes the asset.
  *
  * Fires only when ALL of:
  *   - the session conf [[Summaries.ConfKey]] names a published summary
  *     (set by `Summaries.enableFor`, keyed by corpus content fingerprint
  *     — a stale pointer means the conf no longer matches current data's
  *     directory, so freshness is the enabler's contract, not a
  *     rule-time scan);
  *   - the aggregate groups by exactly the `source` column of a scan of
  *     the same root paths the summary was built from (optionally through
  *     a column-pruning Project) — another documents table in the same
  *     session is left alone;
  *   - every output is the grouping column or one of the four covered
  *     aggregates, un-DISTINCT and un-FILTERed.
  *
  * Anything else — extra filters, other groupings, uncovered aggregates —
  * is left untouched. The replacement projects the summary's columns
  * under the ORIGINAL output exprIds, so parents resolve unchanged.
  */
object SummaryRewrite extends Rule[LogicalPlan] {

  /** The enabled summary: (dir, root paths of the scan it summarizes). */
  private def summary: Option[(String, Seq[String])] = {
    val v = SQLConf.get.getConfString(Summaries.ConfKey, "")
    if (v.isEmpty) None
    else {
      val lines = v.split("\n").toSeq
      Some(lines.head -> lines.tail)
    }
  }

  /** The sorted root paths of a plain file scan, seen through
    * column-pruning Projects and row-multiset-preserving repartitions
    * (Tables.documents repartitions the scan to session parallelism;
    * aggregates are partition-invariant); None for any other plan.
    */
  private[graft] def scanRoots(p: LogicalPlan): Option[Seq[String]] = p match {
    case lr: LogicalRelation =>
      lr.relation match {
        case fs: HadoopFsRelation => Some(fs.location.rootPaths.map(_.toString).sorted)
        case _                    => None
      }
    case Project(projList, child)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      scanRoots(child)
    case r: Repartition             => scanRoots(r.child)
    case r: RepartitionByExpression => scanRoots(r.child)
    case _                          => None
  }

  /** The summary column answering one covered aggregate function. */
  private def coveredColumn(f: AggregateFunction): Option[String] = f match {
    case Count(Seq(l: Literal)) if l.value != null => Some("cnt")
    case s: Sum =>
      s.child match {
        case a: AttributeReference if a.name == "n_chars" => Some("sum_chars")
        case _                                            => None
      }
    case m: Min =>
      m.child match {
        case a: AttributeReference if a.name == "n_chars" => Some("min_chars")
        case _                                            => None
      }
    case m: Max =>
      m.child match {
        case a: AttributeReference if a.name == "n_chars" => Some("max_chars")
        case _                                            => None
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = summary match {
    case None => plan
    case Some((dir, roots)) =>
      plan.transform {
        case agg: Aggregate
            if agg.groupingExpressions.length == 1 &&
              agg.groupingExpressions.head.isInstanceOf[AttributeReference] &&
              agg.groupingExpressions.head
                .asInstanceOf[AttributeReference]
                .name == "source" &&
              scanRoots(agg.child).contains(roots) =>
          rewrite(agg, dir).getOrElse(agg)
      }
  }

  private def rewrite(agg: Aggregate, dir: String): Option[LogicalPlan] =
    try {
      val g = agg.groupingExpressions.head.asInstanceOf[AttributeReference]
      // analyzer-only resolution of the summary relation (no optimizer
      // re-entry); fresh exprIds per call, so repeated rewrites in one
      // query tree cannot collide
      val summary = SparkSession.active.read
        .parquet(dir)
        .queryExecution
        .analyzed
      val byName = summary.output.map(a => a.name -> a).toMap
      val outs = agg.aggregateExpressions.map {
        case a: AttributeReference if a.semanticEquals(g) =>
          Some(Alias(byName("source"), a.name)(exprId = a.exprId))
        case al @ Alias(a: AttributeReference, _) if a.semanticEquals(g) =>
          Some(Alias(byName("source"), al.name)(exprId = al.exprId))
        case al @ Alias(ae: AggregateExpression, _)
            if !ae.isDistinct && ae.filter.isEmpty =>
          coveredColumn(ae.aggregateFunction)
            .map(c => Alias(byName(c), al.name)(exprId = al.exprId))
        case _ => None
      }
      if (outs.forall(_.isDefined)) Some(Project(outs.map(_.get), summary))
      else None
    } catch { case NonFatal(_) => None }
}
