package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The build-once asset contract, shared by all 28 asset families (vector
  * indexes, text and modality indexes, gate and weight tables, exports,
  * summaries and the WARC fixture archives).
  *
  * [[ensure]] is the one asset call. A family's own `ensure…(sfDir,
  * corpus[, its params]): String` passes its family name, the id/payload
  * columns and a params string, plus a build body that writes the layout
  * into the dir it is handed, and gets back `target/<family>/<fp12>`:
  *
  *   1. '''Stale-proof location''': the directory is keyed by a CONTENT
  *      fingerprint — row count, id sum, and an order-insensitive XOR of
  *      per-row xxhash64(id, payload) — so a corpus whose payload changes
  *      IN PLACE (same ids, new bytes) maps to a new directory instead of
  *      silently serving the old asset. `params` carries everything else
  *      the layout depends on (build knobs, stored columns, a layout
  *      version), so a CONTRACT change also forces a rebuild. The
  *      fingerprint catalog makes a warm lookup free of Spark jobs.
  *   2. '''Atomic publication''': on local/HDFS-class paths the body
  *      writes into a process-unique temp directory that ONE atomic
  *      rename moves into place, so the directory's presence is the
  *      commit. Readers either see no asset (and build) or a complete
  *      one; a rename loser discards its (identical — builds are
  *      deterministic) copy. On scheme'd paths — S3/GCS-class stores,
  *      where "rename" is non-atomic copy+delete — the body writes under
  *      the final prefix and the root `_SUCCESS` object, PUT last, is the
  *      commit (object PUTs are atomic and read-after-write consistent on
  *      current S3/GCS). Either way the published dir carries that root
  *      marker, written here, never by a family.
  *
  * This object publishes build-once assets only. Folds run on a
  * [[copyDir]] of the published asset, and their compactions commit
  * through [[graft.streaming.DeltaFold]]'s generation pointer.
  * `ObjectStoreSpec` drives the build through a foreign-scheme
  * filesystem with no rename-atomicity assumption.
  */
object Indexes {

  /** Daemon pool for overlapping independent driver-blocking Spark actions
    * (guide §2.6): actions are only sequential because driver code calls
    * them sequentially, so a fold's independent delta/compaction writes can
    * back-fill each other's stage tails. Cached threads — folds submit a
    * handful of jobs, never a fleet.
    */
  private lazy val overlapPool = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-overlap")
      t.setDaemon(true)
      t
    }
  )

  /** Submit `body` to the overlap pool under the caller's Spark local
    * properties, so its jobs carry the caller's job group and description
    * (Bench counts a query's jobs by group). A pooled thread otherwise
    * keeps the properties of whichever thread first created it.
    */
  private def overlapped[A](body: => A): java.util.concurrent.Future[A] = {
    val install = org.apache.spark.sql.graftbridge.Bridge.captureLocalProperties()
    overlapPool.submit(new java.util.concurrent.Callable[A] {
      def call(): A = { install(); body }
    })
  }

  /** Run independent Spark actions concurrently and rethrow the first
    * failure. ONLY for actions with no ordering dependency — the crash
    * contract of a fold must hold for ANY landed subset (the generation
    * pointer's commit, or the write-once replay markers, provide that).
    */
  def inParallel(thunks: (() => Unit)*): Unit = {
    if (thunks.sizeIs <= 1) thunks.foreach(_.apply())
    else {
      val futs = thunks.tail.map(t => overlapped(t()))
      // head runs on the caller thread; its failure still waits for the
      // submitted siblings via finally.
      try thunks.head.apply()
      finally futs.foreach { f =>
        try { f.get(); () }
        catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      }
    }
  }

  /** Two independent Spark actions with results, overlapped ([[inParallel]]
    * with values — e.g. the base/delta debt counts of a fold's compaction
    * gate).
    */
  def par2[A, B](a: => A, b: => B): (A, B) = {
    val fb = overlapped(b)
    val ra = a
    val rb =
      try fb.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    (ra, rb)
  }

  private val AssetRoot = "target"

  /** The one asset call: `target/<family>/<fp12>` for `corpus`'s content
    * under `params`, built by `build` on a miss and published atomically
    * (see the object doc). `build` is handed the dir to write — a temp dir
    * on local paths, the final prefix on scheme'd ones — and must be
    * deterministic, so concurrent builders produce identical assets.
    */
  def ensure(
      family: String,
      sfDir: String,
      corpus: DataFrame,
      idCol: String,
      payloadCol: String,
      params: String
  )(build: String => Unit): String =
    ensureUnder(AssetRoot, family, sfDir, corpus, idCol, payloadCol, params)(build)

  /** [[ensure]] with the assets under `root` instead of `target` — the
    * object-store posture (`root` on a scheme'd filesystem) that specs
    * drive; the fingerprint and catalog entry are the same as
    * [[ensure]]'s.
    */
  private[graft] def ensureUnder(
      root: String,
      family: String,
      sfDir: String,
      corpus: DataFrame,
      idCol: String,
      payloadCol: String,
      params: String
  )(build: String => Unit): String = {
    val dir = root + fingerprintDirOn(family, sfDir, corpus, idCol, payloadCol, params)
      .stripPrefix(AssetRoot)
    publish(dir)(build)
    dir
  }

  /** `target/<family>/<fp12>` for this frame's (id, payload) content.
    *
    * Steady-state cost: the content fingerprint (a full payload-bytes
    * scan) is computed ONCE per (derivation, file-set) and recorded in
    * the on-disk catalog below; every later lookup for the same data
    * resolves from the catalog with zero Spark jobs — a query that READS
    * a persisted asset no longer pays a corpus scan just to LOCATE it.
    * The scan remains the slow path on a catalog miss (new data, changed
    * files, or a plan shape the catalog can't cheaply identify).
    */
  private def fingerprintDirOn(
      family: String,
      sfDir: String,
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      params: String
  ): String = {
    val ck = catalogKey(family, sfDir, df, idCol, payloadCol, params)
    ck.flatMap(catalogLookup) match {
      case Some(dir) => dir
      case None =>
        val dir = fingerprintDirByScan(family, sfDir, df, idCol, payloadCol, params)
        ck.foreach(catalogRecord(_, dir))
        dir
    }
  }

  /** The content-hash slow path: one corpus scan over (id, payload). */
  private def fingerprintDirByScan(
      family: String,
      sfDir: String,
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      params: String
  ): String = {
    val fp = df
      .agg(
        count(lit(1)).cast(LongType),
        sum(col(idCol)).cast(LongType),
        // order-insensitive content checksum: XOR of row hashes over both
        // the id and the payload (array-typed xxhash64 hashes every
        // element), so any in-place edit changes the key
        expr(s"bit_xor(xxhash64($idCol, $payloadCol))")
      )
      .head()
    val key = s"$sfDir|${fp.getLong(0)}|${fp.getLong(1)}|${fp.getLong(2)}|$params"
    s"$AssetRoot/$family/${md5hex(key).take(12)}"
  }

  // ---- fingerprint catalog ---------------------------------------------
  //
  // The content fingerprint is the STALE-PROOF key (it hashes every
  // payload byte), but recomputing it at plan-construction time makes
  // every asset-reading query pay a full corpus read to find a directory
  // whose content cannot have changed. A production table format records
  // this at commit time (a manifest/catalog keyed by table version — the
  // [[graft.sources.Versioned]] manifest is the in-repo pattern); here
  // the moral equivalent is a tiny on-disk map from a CHEAP data identity
  // to the computed fingerprint dir:
  //
  //   cheap key  = md5(engine version ‖ family/params ‖ the CANONICALIZED
  //                analyzed plan of the fingerprinted frame ‖ every input
  //                file's (path, length, mtime))
  //   recorded   = the fingerprint dir the scan computed for that key
  //
  // The plan string captures the DERIVATION (a transformed corpus — e.g.
  // q_export_diff's edited v2 — keys differently from the raw table);
  // the file statuses capture the DATA VERSION (a regenerated or edited
  // file changes length or mtime — metadata-only to read, no payload
  // bytes touched). Frames whose data identity isn't cheaply observable
  // (localCheckpoint RDD leaves, in-memory literal relations — their
  // plan string doesn't include row data) BYPASS the catalog and keep
  // the scan, and so do plans that hold a JVM function (a typed
  // operator's closure prints its per-JVM identity, so such a key never
  // matches twice and would only add a catalog entry per run), so the
  // fast path can never serve a stale asset for data the key can't see.
  // mtime granularity (ms on local fs) is the same assumption every
  // build tool makes; an adversarial same-ms in-place edit still lands
  // on the scan path at first sight of a new plan/file set, and the
  // recorded value is itself content-derived.
  private val CatalogVersion = "fpcat-1"

  private def catalogFile(key: String) =
    java.nio.file.Paths.get(s"target/fpcatalog/$key")

  /** Cheap data-identity key, or None when the frame's inputs aren't
    * fully file-backed or the plan holds a JVM function (then only the
    * content scan is safe).
    */
  private def catalogKey(
      family: String,
      sfDir: String,
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      params: String
  ): Option[String] =
    try {
      import org.apache.spark.sql.catalyst.plans.logical._
      val plan = df.queryExecution.analyzed
      val holdsFunction = plan.exists {
        case _: ObjectProducer | _: ObjectConsumer | _: TypedFilter | _: AppendColumns => true
        case _                                                                      => false
      }
      val leaves = plan.collectLeaves()
      val fileLists = leaves.map {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              Some(fs.location.inputFiles.toSeq)
            case _ => None
          }
        case _ => None
      }
      if (holdsFunction || fileLists.exists(_.isEmpty)) None
      else {
        val conf = df.sparkSession.sessionState.newHadoopConf()
        val sig = fileLists.flatten.flatten.distinct.sorted
          .map { p =>
            val path = new org.apache.hadoop.fs.Path(p)
            val st = path.getFileSystem(conf).getFileStatus(path)
            s"$p|${st.getLen}|${st.getModificationTime}"
          }
          .mkString("\n")
        // full-width tree rendering: the default treeString truncates
        // field lists at spark.sql.debug.maxToStringFields, which would
        // under-key wide plans
        val planStr = plan.canonicalized
          .treeString(verbose = true, addSuffix = false, maxFields = Int.MaxValue, printOperatorId = false)
        Some(
          md5hex(
            Seq(CatalogVersion, family, sfDir, idCol, payloadCol, params, planStr, sig)
              .mkString("\u0000")
          )
        )
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def catalogLookup(key: String): Option[String] =
    try {
      val f = catalogFile(key)
      if (java.nio.file.Files.exists(f))
        java.nio.file.Files.readAllLines(f).asScalaHead.filter(_.nonEmpty)
      else None
    } catch { case scala.util.control.NonFatal(_) => None }

  private implicit class HeadOpt(l: java.util.List[String]) {
    def asScalaHead: Option[String] = if (l.isEmpty) None else Option(l.get(0))
  }

  /** Record a computed fingerprint dir under its cheap key — atomic
    * publish (temp + rename) so concurrent writers can't interleave;
    * both writers compute identical content, so the loser's copy is
    * equivalent.
    */
  private def catalogRecord(key: String, dir: String): Unit =
    try {
      val f = catalogFile(key)
      Option(f.getParent).foreach(java.nio.file.Files.createDirectories(_))
      val tmp = f.resolveSibling(
        s".${f.getFileName}.tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}"
      )
      java.nio.file.Files.write(
        tmp,
        (dir + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
      )
      try
        java.nio.file.Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          java.nio.file.Files.deleteIfExists(tmp); ()
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  private def md5hex(s: String): String =
    java.security.MessageDigest
      .getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_))
      .mkString

  /** The root completion marker every published asset carries. */
  private val Marker = "_SUCCESS"

  /** Publish a build-once asset at `dir`, complete-or-absent for readers;
    * a no-op when a completed build is already there. Dispatches on the
    * directory's URI scheme:
    *
    *   - '''POSIX/HDFS''' (no scheme — local paths): the dir's presence is
    *     the commit. `build` writes a process-unique temp dir, the marker
    *     is added, then ONE atomic directory rename moves it into place. A
    *     concurrent builder that loses the rename discards its (identical)
    *     copy.
    *   - '''Object store''' (scheme'd paths — resolved through the
    *     session's Hadoop conf, e.g. the `ObjectStoreSpec` shim): there
    *     is no atomic rename, so `build` writes the objects directly under
    *     the final prefix and readers key ONLY on the marker object, PUT
    *     last (a single-object PUT is atomic on S3/GCS-class stores).
    *     Concurrent builders write byte-identical objects, so interleaving
    *     is harmless; a crashed half-build leaves unreferenced objects that
    *     the next build's `mode("overwrite")` rewrites — readers never saw
    *     them, because the marker never landed.
    */
  private def publish(dir: String)(build: String => Unit): Unit =
    if (schemeOf(dir).isDefined) markerBuild(dir)(build)
    else if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir))) {
      val tmp = s"$dir.tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}"
      build(tmp)
      val src = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
      // a build whose single Spark write targets the root already left one
      if (!java.nio.file.Files.exists(src.resolve(Marker)))
        java.nio.file.Files.createFile(src.resolve(Marker))
      val dst = java.nio.file.Paths.get(dir)
      Option(dst.getParent).foreach(java.nio.file.Files.createDirectories(_))
      try
        java.nio.file.Files.move(src, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => deleteRecursively(src)
        case _: java.nio.file.DirectoryNotEmptyException => deleteRecursively(src)
        case _: java.nio.file.AccessDeniedException      => deleteRecursively(src)
      }
    }

  private[graft] def schemeOf(dir: String): Option[String] =
    Option(new org.apache.hadoop.fs.Path(dir).toUri.getScheme)

  private[graft] def sessionHadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()

  /** The object-store build mode: in-place write + marker-object commit
    * (see [[publish]]). The build callback receives the FINAL dir — no
    * rename ever happens on this path.
    */
  private def markerBuild(dir: String)(build: String => Unit): Unit = {
    val mp = new org.apache.hadoop.fs.Path(s"$dir/$Marker")
    val fs = mp.getFileSystem(sessionHadoopConf)
    if (!fs.exists(mp)) {
      build(dir)
      // a build whose single Spark write targets the root already PUT it;
      // otherwise PUT it now. create(overwrite = false) elects one winner
      // among concurrent builders.
      if (!fs.exists(mp)) {
        try fs.create(mp, false).close()
        catch { case _: java.io.IOException => () }
      }
    }
  }

  /** Recursive file copy of a published index asset into a mutable
    * scratch location (queries that exercise in-place maintenance fold
    * into a COPY, so the cached fingerprinted base stays immutable).
    */
  private[graft] def copyDir(src: String, dst: String): Unit = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    java.nio.file.Files.walk(s).iterator().asScala.foreach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else {
        Option(t.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files
          .copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    // Concurrent shutdown hooks (and Spark's own temp-dir cleanup) may
    // delete entries while the walk materializes — the walk then throws
    // NoSuchFileException wrapped in UncheckedIOException. The goal of this
    // method is "gone afterwards", so someone else deleting first is
    // success, not failure; swallow and retry the listing once.
    def walkOnce(): Seq[java.nio.file.Path] =
      try java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
      catch {
        case _: java.io.UncheckedIOException      => Seq.empty
        case _: java.nio.file.NoSuchFileException => Seq.empty
        case _: java.io.IOException               => Seq.empty
      }
    if (java.nio.file.Files.exists(p)) {
      walkOnce().foreach { f =>
        try java.nio.file.Files.deleteIfExists(f)
        catch { case _: java.io.IOException => () }
      }
      // A racing creator/deleter may have left stragglers; one more pass.
      if (java.nio.file.Files.exists(p)) {
        walkOnce().foreach { f =>
          try java.nio.file.Files.deleteIfExists(f)
          catch { case _: java.io.IOException => () }
        }
      }
    }
  }
}
