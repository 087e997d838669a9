package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.util.Utils

/** Column ⇄ Catalyst-Expression bridge for Spark 4's reworked Column API.
  *
  * Spark 4 made `Column` backend-agnostic (it wraps a `ColumnNode`, not an
  * `Expression`); the classic-backend converters live in
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is `private[sql]`.
  * This one-file shim inside the `org.apache.spark.sql` package re-exports
  * the two converters to graft — the standard extension-library technique
  * for plugging native expressions into the Column DSL.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register the driver's StateStoreCoordinator RPC endpoint if absent.
    *
    * Streaming queries create this endpoint as part of query startup, but
    * `transformWithState` executed as a BATCH plan still opens a real
    * (RocksDB) state store, whose provider reports to the coordinator —
    * and no streaming query ever ran to create it, so the lookup dies with
    * RpcEndpointNotFoundException. `forDriver` is idempotent (it falls
    * back to a lookup when the endpoint already exists), making this safe
    * to call before every batch TWS plan.
    */
  def ensureStateStoreCoordinator(spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.sql.execution.streaming.state.StateStoreCoordinatorRef
      .forDriver(org.apache.spark.SparkEnv.get, spark.sessionState.conf)
    ()
  }

  /** Block until every listener has seen every event posted so far, so
    * the status tracker's job lists are complete (the listener bus is
    * asynchronous).
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Copy the calling thread's Spark local properties (job group, job
    * description) and return a thunk that installs the copy on the thread
    * that runs it; a no-op when no SparkContext is active.
    */
  def captureLocalProperties(): () => Unit = SparkContext.getActive match {
    case Some(sc) =>
      val props = Utils.cloneProperties(sc.getLocalProperties)
      () => sc.setLocalProperties(Utils.cloneProperties(props))
    case None => () => ()
  }
}
