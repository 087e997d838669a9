package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.Indexes

/** The delta-fold discipline every incremental index asset shares (the
  * audio/video, substring-gram, CDX, curation-gate and semantic-cell
  * folds). Each fold owns its
  * derivations; this engine owns the decisions they have in common, and
  * makes each one once:
  *
  *   - '''Where does a subdir live?''' ([[gen]]): one read of the asset's
  *     `generation` pointer resolves every fold-maintained subdir, the
  *     delta included. A name the committed generation lists lives at
  *     `<name>.g-<stamp>`; before the first fold every name is the plain
  *     `<name>` the build wrote. Every read, write and compaction body
  *     goes through the one [[Gen]] its call resolved.
  *   - '''Does a delta exist?''' Asked of the path's own Hadoop
  *     `FileSystem` under the session conf, so a scheme'd asset reports
  *     its outstanding batches instead of silently dropping them.
  *   - '''The batch write''' ([[upsert]]): the batch lands under the live
  *     delta's `[table/]batch_id=N` (overwrite: replay-idempotent).
  *   - '''The live view''' ([[live]], [[derived]]): base ∪ delta with
  *     `batch_id` dropped; a derived table is served persisted while no
  *     delta is outstanding and re-derived from the live view otherwise.
  *   - '''The debt policy''' ([[settle]]): fold iff delta rows reach
  *     `maxDeltaFraction` of the base's — bounding read amplification at
  *     that fraction while amortizing compaction to O(fraction⁻¹) base
  *     rewrites per base-size of ingest.
  *   - '''The compaction commit''' ([[compact]]): the fold writes its
  *     `<name>.g-<stamp>` dirs, then one atomic replace of the pointer
  *     makes them, and a new empty `delta.g-<stamp>`, live. The same two
  *     steps run on local and object-store paths: the replace is a temp
  *     file plus one atomic move locally and one overwrite PUT on a
  *     scheme'd path, and no directory is ever renamed. A sweep then
  *     deletes every older generation, the old delta and any orphaned
  *     `.g-` dir. A crash before the replace leaves the old generation
  *     live (its orphans go at the next sweep); a crash after it leaves
  *     only unreferenced dirs. Readers do no recovery.
  *
  * Every fold's rows are bit-deterministic functions of the batch, so a
  * batch replayed after its fold re-lands identical rows and the fold's
  * full-row `distinct()` (or the probe unions' anti-join) restores
  * exactly-once without a ledger.
  */
object DeltaFold {

  private val Pointer = "generation"
  private val Delta = "delta"

  /** Whether `path` exists, resolved through its scheme's `FileSystem`. */
  def exists(path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(Indexes.sessionHadoopConf).exists(p)
  }

  /** `dir`'s committed generation: `stamp` and the `names` it lists, or
    * neither before the first fold.
    */
  final case class Gen(dir: String, stamp: Option[String], names: Set[String]) {

    /** Where subdir `name` lives in this generation. */
    def apply(name: String): String = stamp match {
      case Some(s) if names(name) => s"$dir/$name.g-$s"
      case _                      => s"$dir/$name"
    }

    /** The live delta dir, or its `<table>` subdir for a multi-table fold. */
    def delta(table: String = ""): String =
      if (table.isEmpty) apply(Delta) else s"${apply(Delta)}/$table"

    def hasDelta(table: String = ""): Boolean = exists(delta(table))
  }

  /** Resolve `dir`'s subdirs: one read of its pointer. */
  def gen(dir: String): Gen =
    readPointer(dir) match {
      case Some(stamp +: names) => Gen(dir, Some(stamp), names.toSet)
      case _                    => Gen(dir, None, Set.empty)
    }

  // The pointer is written and read through one API per scheme — java.nio
  // on local paths, the Hadoop FileSystem on scheme'd ones — so no stale
  // Hadoop `.crc` sidecar can fail a local read.
  private def readPointer(dir: String): Option[Seq[String]] = {
    val text =
      if (Indexes.schemeOf(dir).isEmpty) {
        val p = Paths.get(s"$dir/$Pointer")
        if (Files.exists(p)) Some(Files.readAllBytes(p)) else None
      } else {
        val p = new Path(s"$dir/$Pointer")
        val fs = p.getFileSystem(Indexes.sessionHadoopConf)
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          try Some(in.readAllBytes())
          finally in.close()
        }
      }
    text.map(new String(_, UTF_8).split("\n").toSeq.filter(_.nonEmpty))
  }

  private def writePointer(dir: String, lines: Seq[String]): Unit = {
    val bytes = lines.mkString("\n").getBytes(UTF_8)
    if (Indexes.schemeOf(dir).isEmpty) {
      val tmp = Paths.get(s"$dir/.$Pointer.tmp-${lines.head}")
      Files.write(tmp, bytes)
      Files.move(tmp, Paths.get(s"$dir/$Pointer"), StandardCopyOption.ATOMIC_MOVE)
    } else {
      val p = new Path(s"$dir/$Pointer")
      val os = p.getFileSystem(Indexes.sessionHadoopConf).create(p, true)
      try os.write(bytes)
      finally os.close()
    }
    ()
  }

  /** Make generation `stamp` live — its `<name>.g-<stamp>` dirs are fully
    * written — by replacing the pointer, then sweep what it retired.
    */
  private def commit(dir: String, stamp: String, names: Seq[String]): Unit = {
    val live = names :+ Delta
    writePointer(dir, stamp +: live)
    val root = new Path(dir)
    val fs = root.getFileSystem(Indexes.sessionHadoopConf)
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      val g = n.lastIndexOf(".g-")
      val retired = if (g >= 0) n.substring(g + 3) != stamp else live.contains(n)
      if (retired) fs.delete(st.getPath, true)
    }
  }

  /** Base `<base>` ∪ outstanding deltas, each side shaped by `side`;
    * `exactlyOnce` collapses rows a replayed batch re-landed (only while
    * a delta exists — the steady-state plan is the plain base scan).
    */
  def live(spark: SparkSession, g: Gen, base: String, exactlyOnce: Boolean = false)(
      side: DataFrame => DataFrame = identity
  ): DataFrame = {
    val b = side(spark.read.parquet(g(base)))
    if (!g.hasDelta()) b
    else {
      val all = b.unionByName(side(spark.read.parquet(g.delta()).drop("batch_id")))
      if (exactlyOnce) all.distinct() else all
    }
  }

  /** A derived table's live read: persisted `<name>` (projected to
    * `cols`) while no delta is outstanding, else `derive`.
    */
  def derived(spark: SparkSession, g: Gen, name: String, cols: String*)(
      derive: => DataFrame
  ): DataFrame =
    if (!g.hasDelta()) spark.read.parquet(g(name)).select(cols.map(col): _*)
    else derive

  /** Land batch `batchId`: `write(table, path)` for each table's
    * `[table/]batch_id=N` under the live delta (tables overlapped).
    */
  def upsert(g: Gen, batchId: Long, tables: Seq[String] = Seq(""))(
      write: (String, String) => Unit
  ): Unit =
    Indexes.inParallel(tables.map(t => () => write(t, s"${g.delta(t)}/batch_id=$batchId")): _*)

  /** The debt policy: run `compact` iff the delta's rows reach
    * `maxDeltaFraction` of `<base>`'s (the two counts overlapped).
    * Returns true iff it ran.
    */
  def settle(
      spark: SparkSession,
      g: Gen,
      base: String,
      maxDeltaFraction: Double,
      table: String = ""
  )(compact: => Unit): Boolean = {
    val due = g.hasDelta(table) && {
      val (b, d) = Indexes.par2(
        spark.read.parquet(g(base)).count(),
        spark.read.parquet(g.delta(table)).count()
      )
      d > 0 && d >= maxDeltaFraction * b
    }
    if (due) compact
    due
  }

  /** Fold `g`'s outstanding delta: `write` receives each of `names`'
    * `<name>.g-<stamp>` output path and reads the current generation
    * through `g`; then the pointer commit makes them live with a new
    * empty delta. No-op without a delta.
    */
  def compact(g: Gen, names: Seq[String], table: String = "")(
      write: (String => String) => Unit
  ): Unit =
    if (g.hasDelta(table)) {
      val stamp = s"${ProcessHandle.current().pid()}-${System.nanoTime()}"
      write(name => s"${g.dir}/$name.g-$stamp")
      commit(g.dir, stamp, names)
    }
}
