package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.functions.Md5Top60

/** Catalyst optimizer rule: collapse the engine's portable 60-bit-hash
  * idiom — `cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint)`,
  * the only md5-derived hash both Spark and DuckDB evaluate identically
  * ([[graft.util.Cols.md5Long]]) — into the native single-pass
  * [[graft.functions.Md5Top60]] expression.
  *
  * The built-in chain materializes the full 32-char hex string, takes a
  * substring, and runs radix conversion over characters, allocating three
  * intermediate UTF8Strings per value; the native expression reads the top
  * 60 bits straight off the digest. The rewrite is value-identical
  * (including null propagation: every step of the chain is null-strict) and
  * applies to ANY plan in the session — SQL text, Column DSL, or the
  * engine's own operators — which is what an optimizer rule is for: users
  * write the portable idiom, the engine substitutes the fast kernel.
  */
object Md5Top60Rewrite extends Rule[LogicalPlan] {

  private object IntLit {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case _                            => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Cast(
            Conv(
              Substring(Md5(bin), IntLit(1), IntLit(15)),
              IntLit(16),
              IntLit(10),
              _
            ),
            LongType,
            _,
            _
          ) =>
        Md5Top60(bin)
      // string-typed conv output compared/used without the final cast —
      // still rewrite when the consumer immediately casts to long later;
      // (the bare string form is left alone: its VALUE is a string).
    }
}

/** Session extensions installing the engine's Catalyst rules. Activate
  * with `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * or a session builder's `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => Md5Top60Rewrite)
    ext.injectOptimizerRule(_ => SummaryRewrite)
  }
}
