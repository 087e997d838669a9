package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-based VERSIONED TABLE: snapshot-isolated commits and
  * time-travel reads over plain parquet — the dataset-versioning
  * primitive a training-data pipeline needs for reproducibility ("train
  * on corpus@v12"), rollback, and audit (diff two versions with
  * [[graft.operators.Dedup.snapshotDiff]]).
  *
  * Layout:
  * {{{
  *   dir/data/c<N>/...parquet      one immutable directory per commit
  *   dir/_manifests/v<N>.manifest  newline list of the data dirs whose
  *                                 union IS version N
  * }}}
  *
  * Commit protocol (the [[graft.operators.Indexes.atomicBuild]]
  * discipline): write the commit's data dir, then write the manifest to
  * a temp file and atomically rename it into place. Readers resolve a
  * version by reading one manifest — they see a whole version or none;
  * a reader of v_N is never affected by a concurrent commit of v_N+1
  * because data dirs are immutable and manifests are never rewritten.
  *
  * Scale shape: the manifest lists directories (O(commits), not
  * O(files)); a version read is `spark.read.parquet(dirs: _*)` — normal
  * distributed scans with pushdown/pruning intact, plus `mergeSchema`
  * so later commits may ADD columns (schema evolution: old commits
  * surface nulls).
  */
object Versioned {

  private def manifestDir(dir: String): Path = Paths.get(dir, "_manifests")

  /** Newest committed version, or 0 when the table doesn't exist. */
  def latestVersion(dir: String): Int = {
    val md = manifestDir(dir)
    if (!Files.exists(md)) 0
    else
      Files
        .list(md)
        .iterator()
        .asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
          s.stripPrefix("v").stripSuffix(".manifest").toInt
        }
        .foldLeft(0)(math.max)
  }

  private def readManifest(dir: String, v: Int): Seq[String] = {
    val p = manifestDir(dir).resolve(s"v$v.manifest")
    require(Files.exists(p), s"version $v does not exist under $dir")
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.filter(_.nonEmpty).toSeq
  }

  /** Commit `df` as the next version. `append = true` makes the new
    * version the previous version's dirs plus this commit's; `false`
    * replaces the table contents (overwrite semantics). Returns the new
    * version number.
    */
  def commit(df: DataFrame, dir: String, append: Boolean = true): Int = {
    val prev = latestVersion(dir)
    val next = prev + 1
    val dataDir = s"c$next"
    df.write.mode("errorifexists").parquet(s"$dir/data/$dataDir")
    val dirs =
      if (append && prev > 0) readManifest(dir, prev) :+ dataDir
      else Seq(dataDir)
    Files.createDirectories(manifestDir(dir))
    val tmp = manifestDir(dir).resolve(s".v$next.tmp")
    Files.write(tmp, dirs.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(
      tmp,
      manifestDir(dir).resolve(s"v$next.manifest"),
      StandardCopyOption.ATOMIC_MOVE
    )
    next
  }

  /** Time-travel read: the exact row set of version `v` (default:
    * latest). `mergeSchema` presents the union schema across commits, so
    * columns added by later commits read as null in older data.
    */
  def readVersion(spark: SparkSession, dir: String, v: Int = -1): DataFrame = {
    val version = if (v < 0) latestVersion(dir) else v
    val dirs = readManifest(dir, version).map(d => s"$dir/data/$d")
    spark.read.option("mergeSchema", "true").parquet(dirs: _*)
  }

  /** MERGE INTO, merge-on-read form (Iceberg MOR / Hudi MOR at key
    * granularity): an upsert/delete commit is a PURE APPEND of the delta
    * rows — no copy-on-write of untouched data — tagged with the commit
    * number and a tombstone flag; [[readMerged]] resolves each key to its
    * latest-committed row and drops tombstoned keys.
    *
    * Contract: one row per key per commit (the usual MERGE source
    * contract); later commits win per key, `deleted` rows win like any
    * other update. Delta columns must cover the table schema (schema
    * evolution still works through mergeSchema — new columns read null in
    * old commits).
    *
    * Scale shape: a merge commit writes |delta| rows, period. The read
    * adds one hash aggregate on the key (partial-aggregable max(struct) —
    * the latest-per-key pattern, no window), which [[compactMerged]]
    * amortizes away by folding the resolved state into a fresh base
    * version (OPTIMIZE-style; old versions stay time-travelable until
    * [[vacuum]]).
    */
  def commitMerge(
      delta: DataFrame,
      dir: String,
      deleted: org.apache.spark.sql.Column = org.apache.spark.sql.functions.lit(false)
  ): Int = {
    import org.apache.spark.sql.functions.lit
    val next = latestVersion(dir) + 1
    commit(
      delta
        .withColumn("_deleted", deleted)
        .withColumn("_commit", lit(next.toLong)),
      dir,
      append = true
    )
  }

  /** Resolve a merged table at version `v` (default latest): latest
    * commit wins per key, tombstones drop the key. One partial-aggregable
    * max(struct) per key — no windows, no driver state.
    */
  def readMerged(
      spark: SparkSession,
      dir: String,
      keyCol: String,
      v: Int = -1
  ): DataFrame = {
    import org.apache.spark.sql.functions.{col, max, not, struct}
    val df = readVersion(spark, dir, v)
    require(df.columns.contains("_commit"), "not a merge table: no _commit column")
    val dataCols = df.columns.filterNot(c => c == keyCol || c == "_commit").toSeq
    df.groupBy(col(keyCol))
      .agg(max(struct((col("_commit") +: dataCols.map(col)): _*)).as("_r"))
      .select(col(keyCol) +: dataCols.map(c => col(s"_r.$c").as(c)): _*)
      .filter(not(col("_deleted")))
      .drop("_deleted")
  }

  /** Fold the resolved merged state into a fresh base version (the
    * OPTIMIZE/compaction half of merge-on-read): one [[readMerged]] pass
    * re-committed as an overwrite, so subsequent reads resolve against a
    * single tombstone-free commit. Returns the new version.
    */
  def compactMerged(spark: SparkSession, dir: String, keyCol: String): Int = {
    import org.apache.spark.sql.functions.lit
    // safe to read-while-committing: the commit writes a NEW immutable
    // data dir; the dirs this read scans are never touched
    val resolved = readMerged(spark, dir, keyCol)
      .withColumn("_deleted", lit(false))
      .withColumn("_commit", lit(0L))
    commit(resolved, dir, append = false)
  }

  /** One vacuum run's outcome: which versions survived, which data dirs
    * were reclaimed. Driver-sized (O(commits)), never O(files).
    */
  final case class VacuumReport(
      retained: Seq[Int],
      vacuumedVersions: Seq[Int],
      removedDataDirs: Seq[String]
  )

  /** VACUUM: retire all but the newest `retainLast` versions and reclaim
    * the storage only they referenced — the retention/GC half of the
    * table-format lifecycle (Delta VACUUM / Iceberg expire_snapshots).
    *
    * Liveness is manifest-level set arithmetic: a data dir is live iff
    * some RETAINED manifest names it. Because append commits re-list
    * their ancestors' dirs, a dir shared between a retired and a retained
    * version survives — only dirs referenced exclusively by retired
    * versions are deleted. Deletion order is crash-safe in the same sense
    * the commit protocol is: retired MANIFESTS are removed first (the
    * version atomically stops being readable), then the now-unreferenced
    * data dirs — a crash between the two steps leaves orphaned data, never
    * a readable version with missing data.
    *
    * Cost: O(commits) manifest reads on the driver + one recursive delete
    * per dead dir. No data is read or rewritten; retained versions are
    * byte-identical before and after. Idempotent: a second run with the
    * same `retainLast` finds nothing to do.
    */
  def vacuum(dir: String, retainLast: Int): VacuumReport = {
    require(retainLast >= 1, "must retain at least the latest version")
    val latest = latestVersion(dir)
    val all = (1 to latest).filter(v => Files.exists(manifestDir(dir).resolve(s"v$v.manifest")))
    val retained = all.takeRight(retainLast)
    val retired = all.dropRight(retainLast)
    val live = retained.flatMap(readManifest(dir, _)).toSet
    val dead = retired.flatMap(readManifest(dir, _)).toSet -- live
    retired.foreach { v =>
      Files.deleteIfExists(manifestDir(dir).resolve(s"v$v.manifest"))
    }
    dead.toSeq.sorted.foreach { d =>
      val p = Paths.get(dir, "data", d)
      if (Files.exists(p)) {
        Files
          .walk(p)
          .sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator()
          .asScala
          .foreach(Files.delete)
      }
    }
    VacuumReport(retained, retired, dead.toSeq.sorted)
  }
}
