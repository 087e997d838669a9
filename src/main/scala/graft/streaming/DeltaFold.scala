package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.Indexes

/** The delta-fold discipline every incremental index asset shares (the
  * audio/video, substring-gram, CDX, curation-gate and semantic-cell
  * folds). Each fold owns its
  * derivations; this engine owns the decisions they have in common, and
  * makes each one once:
  *
  *   - '''Does a delta exist?''' Asked of the path's own Hadoop
  *     `FileSystem` under the session conf, so a scheme'd asset reports
  *     its outstanding batches instead of silently dropping them.
  *   - '''The batch write''' ([[upsert]]): a landed swap journal is
  *     recovered FIRST — its replay deletes `delta/`, so a batch written
  *     before it would vanish — then the batch lands under
  *     `delta/[table/]batch_id=N` (overwrite: replay-idempotent).
  *   - '''The live view''' ([[live]], [[derived]]): base ∪ `delta/` with
  *     `batch_id` dropped; a derived table is served persisted while no
  *     delta is outstanding and re-derived from the live view otherwise.
  *   - '''The debt policy''' ([[settle]]): fold iff delta rows reach
  *     `maxDeltaFraction` of the base's — bounding read amplification at
  *     that fraction while amortizing compaction to O(fraction⁻¹) base
  *     rewrites per base-size of ingest.
  *   - '''The compaction publish''' ([[compact]]): the fold writes its
  *     `<name>.compact-<stamp>` dirs, then [[Indexes.commitSwap]] flips
  *     them in and retires `delta/` behind one journal commit point.
  *
  * Every fold's rows are bit-deterministic functions of the batch, so a
  * batch replayed after its fold re-lands identical rows and the fold's
  * full-row `distinct()` (or the probe unions' anti-join) restores
  * exactly-once without a ledger.
  */
object DeltaFold {

  /** Whether `path` exists, resolved through its scheme's `FileSystem`. */
  def exists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(Indexes.sessionHadoopConf).exists(p)
  }

  /** `dir/delta`, or `dir/delta/<table>` for a multi-table fold. */
  def deltaDir(dir: String, table: String = ""): String =
    if (table.isEmpty) s"$dir/delta" else s"$dir/delta/$table"

  def hasDelta(dir: String, table: String = ""): Boolean = exists(deltaDir(dir, table))

  /** Base `dir/<base>` ∪ outstanding deltas, each side shaped by `side`;
    * `exactlyOnce` collapses rows a replayed batch re-landed (only while
    * a delta exists — the steady-state plan is the plain base scan).
    */
  def live(spark: SparkSession, dir: String, base: String, exactlyOnce: Boolean = false)(
      side: DataFrame => DataFrame = identity
  ): DataFrame = {
    Indexes.recoverSwap(dir)
    val b = side(spark.read.parquet(s"$dir/$base"))
    if (!hasDelta(dir)) b
    else {
      val all = b.unionByName(side(spark.read.parquet(deltaDir(dir)).drop("batch_id")))
      if (exactlyOnce) all.distinct() else all
    }
  }

  /** A derived table's live read: persisted `dir/<name>` (projected to
    * `cols`) while no delta is outstanding, else `derive`.
    */
  def derived(spark: SparkSession, dir: String, name: String, cols: String*)(
      derive: => DataFrame
  ): DataFrame = {
    Indexes.recoverSwap(dir)
    if (!hasDelta(dir)) spark.read.parquet(s"$dir/$name").select(cols.map(col): _*)
    else derive
  }

  /** Land batch `batchId`: recover, then `write(table, path)` for each
    * table's `delta/[table/]batch_id=N` (tables overlapped).
    */
  def upsert(dir: String, batchId: Long, tables: Seq[String] = Seq(""))(
      write: (String, String) => Unit
  ): Unit = {
    Indexes.recoverSwap(dir)
    Indexes.inParallel(
      tables.map(t => () => write(t, s"${deltaDir(dir, t)}/batch_id=$batchId")): _*
    )
  }

  /** The debt policy: after recovery, run `compact` iff the delta's rows
    * reach `maxDeltaFraction` of `dir/<base>`'s (the two counts
    * overlapped). Returns true iff it ran.
    */
  def settle(
      spark: SparkSession,
      dir: String,
      base: String,
      maxDeltaFraction: Double,
      table: String = ""
  )(compact: => Unit): Boolean = {
    Indexes.recoverSwap(dir)
    val due = hasDelta(dir, table) && {
      val (b, d) = Indexes.par2(
        spark.read.parquet(s"$dir/$base").count(),
        spark.read.parquet(deltaDir(dir, table)).count()
      )
      d > 0 && d >= maxDeltaFraction * b
    }
    if (due) compact
    due
  }

  /** Publish a fold of `dir`'s outstanding delta: `write` receives each
    * swapped subdir's `<name>.compact-<stamp>` path, then the journaled
    * swap commits `names` and retires `delta/`. No-op without a delta.
    * The swap renames directories, so a scheme'd (object-store) dir is
    * refused before anything is written.
    */
  def compact(dir: String, names: Seq[String], table: String = "")(
      write: (String => String) => Unit
  ): Unit = {
    Indexes.schemeOf(dir).foreach { s =>
      throw new UnsupportedOperationException(
        s"cannot compact $dir: the journaled swap needs atomic renames, which '$s:' lacks"
      )
    }
    Indexes.recoverSwap(dir)
    if (hasDelta(dir, table)) {
      val stamp = s"${ProcessHandle.current().pid()}-${System.nanoTime()}"
      write(name => s"$dir/$name.compact-$stamp")
      Indexes.commitSwap(dir, stamp, names)
    }
  }
}
