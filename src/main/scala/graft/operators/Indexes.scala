package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Shared contract for persisted index directories ([[IvfIndex]], [[Pq]]).
  *
  * Two guarantees a build-once/search-many index needs at scale:
  *
  *   1. '''Stale-proof location''': the directory is keyed by a CONTENT
  *      fingerprint — row count, id sum, and an order-insensitive XOR of
  *      per-row xxhash64(id, embedding) — so a corpus whose vectors change
  *      IN PLACE (same ids, new embeddings) maps to a new directory instead
  *      of silently serving the old index. One cheap corpus scan.
  *   2. '''Atomic publication''': builders write into a process-unique temp
  *      directory and atomically rename it into place. Readers either see
  *      no index (and build) or a complete one — never an interleaving of
  *      two concurrent builders; the rename loser discards its (identical,
  *      training is deterministic) copy.
  *
  * Publication dispatches on the store's capabilities: local/HDFS-class
  * paths use POSIX `ATOMIC_MOVE` (temp dir + one atomic rename); scheme'd
  * paths — S3/GCS-class stores, where "rename" is non-atomic copy+delete
  * — use the marker-commit mode ([[markerBuild]]: objects written under
  * the final prefix, a single completion-marker object PUT LAST as the
  * read barrier; object PUTs are atomic and read-after-write consistent
  * on current S3/GCS) and the pointer-committed compaction swap
  * ([[commitSwapMarker]]/[[liveDir]]). [[TrainExport]]/
  * [[TokenizerExport]] follow the same manifest-last discipline inside
  * their layouts. The fingerprinted-location half of the contract is
  * store-agnostic. `ObjectStoreSpec` drives both the build and the swap
  * through a foreign-scheme filesystem with no rename-atomicity
  * assumption.
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
    * contract of a fold must hold for ANY landed subset (the journaled
    * swap's commit point, or the write-once replay markers, provide that).
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

  /** Publish an already-written local directory at its final path: delete
    * any stale target, then one atomic rename. Orders a cheap visibility
    * flip AFTER a heavy overlapped write — e.g. a fold's delta partition
    * that must not become visible before its sibling clean output lands
    * (the fold-safety invariant "visible delta ⇒ clean landed" survives
    * [[inParallel]] because only this rename, not the parquet write,
    * publishes the rows).
    */
  private[graft] def publishDir(src: String, dst: String): Unit = {
    val d = java.nio.file.Paths.get(dst)
    if (java.nio.file.Files.exists(d)) deleteRecursively(d)
    Option(d.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files
      .move(java.nio.file.Paths.get(src), d, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** `target/<family>/<fp12>` for this corpus's content. `params` encodes
    * everything else the persisted layout depends on — build knobs (kCells,
    * iters) and stored metadata columns — so a CONTRACT change (not just a
    * data change) also forces a rebuild instead of silently adopting a
    * stale index with the wrong columns.
    */
  def fingerprintDir(
      family: String,
      sfDir: String,
      corpus: DataFrame,
      params: String = ""
  ): String =
    fingerprintDirOn(family, sfDir, corpus, "vec_id", "embedding", params)

  /** [[fingerprintDir]] over arbitrary id/payload columns (e.g. a document
    * table's (doc_id, text)).
    *
    * Steady-state cost: the content fingerprint (a full payload-bytes
    * scan) is computed ONCE per (derivation, file-set) and recorded in
    * the on-disk catalog below; every later lookup for the same data
    * resolves from the catalog with zero Spark jobs — a query that READS
    * a persisted asset no longer pays a corpus scan just to LOCATE it.
    * The scan remains the slow path on a catalog miss (new data, changed
    * files, or a plan shape the catalog can't cheaply identify).
    */
  def fingerprintDirOn(
      family: String,
      sfDir: String,
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      params: String = ""
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
    s"target/$family/${md5hex(key).take(12)}"
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
  // the scan, so the fast path can never serve a stale asset for data
  // the key can't see. mtime granularity (ms on local fs) is the same
  // assumption every build tool makes; an adversarial same-ms in-place
  // edit still lands on the scan path at first sight of a new plan/file
  // set, and the recorded value is itself content-derived.
  private val CatalogVersion = "fpcat-1"

  private def catalogFile(key: String) =
    java.nio.file.Paths.get(s"target/fpcatalog/$key")

  /** Cheap data-identity key, or None when the frame's inputs aren't
    * fully file-backed (then only the content scan is safe).
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
      val plan = df.queryExecution.analyzed
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
      if (fileLists.exists(_.isEmpty)) None
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

  /** Publish a build-once asset at `dir`, complete-or-absent for readers.
    * No-op if `dir/<marker>` already exists (a completed build).
    *
    * Two publication modes, dispatched on the directory's URI scheme:
    *
    *   - '''POSIX/HDFS''' (no scheme — local paths): run `build` against
    *     a process-unique temp dir, then ONE atomic directory rename into
    *     place. A concurrent builder that loses the rename discards its
    *     (identical — builds are deterministic) copy.
    *   - '''Object store''' (scheme'd paths — resolved through the
    *     session's Hadoop conf, e.g. the `ObjectStoreSpec` shim): there
    *     is no atomic rename, so [[markerBuild]] writes the asset's
    *     objects directly under the final prefix and readers key ONLY on
    *     the completion-marker object, PUT last (a single-object PUT is
    *     atomic on S3/GCS-class stores). Concurrent builders write
    *     byte-identical objects (determinism again), so interleaving is
    *     harmless; a crashed half-build leaves unreferenced objects that
    *     the next builder's `mode("overwrite")` rewrites — readers never
    *     saw them, because the marker never landed.
    */
  def atomicBuild(dir: String, marker: String)(build: String => Unit): Unit =
    if (schemeOf(dir).isDefined) markerBuild(dir, marker)(build)
    else if (!new java.io.File(s"$dir/$marker").exists()) {
      val tmp = s"$dir.tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}"
      build(tmp)
      val src = java.nio.file.Paths.get(tmp)
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
    * (see [[atomicBuild]]). The build callback receives the FINAL dir —
    * no rename ever happens on this path.
    */
  private def markerBuild(dir: String, marker: String)(build: String => Unit): Unit = {
    val mp = new org.apache.hadoop.fs.Path(s"$dir/$marker")
    val fs = mp.getFileSystem(sessionHadoopConf)
    if (!fs.exists(mp)) {
      build(dir)
      // the build's own writes may already have produced the marker (a
      // Spark job's _SUCCESS); otherwise PUT it now. create(overwrite =
      // false) elects one winner among concurrent builders.
      if (!fs.exists(mp)) {
        try fs.create(mp, false).close()
        catch { case _: java.io.IOException => () }
      }
    }
  }

  // ---- object-store compaction swap (pointer-committed, no renames) ----
  //
  // [[commitSwap]]'s journaled dir-flip assumes atomic rename; on an
  // object store the same OPTIMIZE-style publication is a GENERATION
  // POINTER: maintenance writes the compacted subdirs under
  // `<name>.g-<stamp>` (fully, before commit), then REPLACES the single
  // `generation` pointer object — the one atomic primitive object stores
  // do have. Readers resolve every subdir through [[liveDir]]; a crash
  // before the pointer PUT leaves the old generation fully intact, a
  // crash after it leaves only orphaned old-generation objects, which
  // the next publish sweeps (any `.g-` entry whose stamp is not the
  // current pointer's). `delta/` is retired by the same publish, AFTER
  // the pointer lands — a reader that raced the cleanup re-reads folded
  // rows only if it also resolved the OLD pointer, i.e. it sees the old
  // asset's consistent view, never a double count against the new one.

  private val GenPointer = "generation"

  /** Current (stamp, names) of the pointer, if any generation committed. */
  private[graft] def generationOf(dir: String): Option[(String, Seq[String])] =
    try {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$GenPointer")
      val fs = p.getFileSystem(sessionHadoopConf)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val bytes =
          try {
            val buf = new java.io.ByteArrayOutputStream()
            val tmp = new Array[Byte](8192)
            var n = in.read(tmp)
            while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
            buf.toByteArray
          } finally in.close()
        val lines = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").toSeq.filter(_.nonEmpty)
        lines.headOption.map(_ -> lines.tail)
      }
    } catch { case _: java.io.IOException => None }

  /** Resolve the LIVE path of an asset subdir under the pointer
    * discipline: `<dir>/<name>.g-<stamp>` when the committed generation
    * carries `name`, the un-suffixed `<dir>/<name>` otherwise (the
    * initial build's layout).
    */
  def liveDir(dir: String, name: String): String =
    generationOf(dir) match {
      case Some((stamp, names)) if names.contains(name) => s"$dir/$name.g-$stamp"
      case _                                            => s"$dir/$name"
    }

  /** Commit a compaction on an object store: every `<name>.g-<stamp>` is
    * fully written; REPLACE the pointer (single-object PUT — the commit
    * point), then sweep previous generations and `delta/`.
    */
  private[graft] def commitSwapMarker(dir: String, stamp: String, names: Seq[String]): Unit = {
    val conf = sessionHadoopConf
    val pointer = new org.apache.hadoop.fs.Path(s"$dir/$GenPointer")
    val fs = pointer.getFileSystem(conf)
    val os = fs.create(pointer, true)
    try os.write((stamp +: names).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    // post-commit sweep: anything generation-suffixed that is not the
    // committed stamp is garbage (previous generations, crashed
    // maintenance runs), plus the folded delta and the pre-generation
    // un-suffixed dirs the initial build wrote
    val entries =
      try fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      catch { case _: java.io.IOException => Seq.empty }
    entries.foreach { st =>
      val n = st.getPath.getName
      val i = n.lastIndexOf(".g-")
      val isOldGen = i >= 0 && n.substring(i + 3) != stamp
      val isRetiredPlain = i < 0 && names.contains(n)
      if (isOldGen || isRetiredPlain) { fs.delete(st.getPath, true); () }
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/delta"), true)
    ()
  }

  /** Crash-safe publication of a compaction over one or more index
    * subdirectories. Contract: every `<name>.compact-<stamp>` dir under
    * `dir` is fully written BEFORE this call; then
    *
    *   1. a journal file (`swap.journal`, listing stamp + names) is
    *      installed by atomic rename — THE commit point;
    *   2. each name is flipped: live dir retired, compacted dir moved in;
    *   3. retired dirs and `delta/` are deleted, the journal last.
    *
    * Every step after the journal install is idempotent against partial
    * completion (each flip checks which of compact/live exists), so a
    * process death anywhere in 2-3 leaves a journal behind and the next
    * [[recoverSwap]] — a cheap existence check every reader performs on
    * open — finishes the identical steps. Readers therefore never observe
    * a half-swapped index across a restart: before the journal lands the
    * old asset is intact; after it lands, recovery completes the new one.
    * (Concurrent readers IN the gap of a live process still see the
    * momentary rename window — this is quiesced-maintenance OPTIMIZE
    * semantics, not a lock-free swap; the crash-safety is what's new.)
    */
  private[graft] def commitSwap(dir: String, stamp: String, names: Seq[String]): Unit = {
    // Sweep leftovers of CRASHED past compactions first: a death after the
    // compact dirs were written but before the journal rename orphans
    // <name>.compact-<oldStamp> / <name>.retired-<oldStamp> /
    // swap.journal.tmp-<oldStamp> forever (no recovery path references
    // them — recovery only replays a LANDED journal), and each one is a
    // full index copy leaking on disk. commitSwap runs under the
    // single-owner maintenance discipline, so any entry with a stamp that
    // is neither this compaction's nor a live journal's is dead weight.
    sweepOrphans(dir, keepStamp = stamp)
    val journal = java.nio.file.Paths.get(s"$dir/swap.journal")
    val tmp = java.nio.file.Paths.get(s"$dir/swap.journal.tmp-$stamp")
    java.nio.file.Files.write(
      tmp,
      (stamp +: names).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    )
    java.nio.file.Files.move(
      tmp,
      journal,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING
    )
    replaySwap(dir, stamp, names)
  }

  /** Finish an interrupted [[commitSwap]] if a journal is present — called
    * by index readers before their first listing; no-op (one existence
    * check) in the steady state.
    */
  private[graft] def recoverSwap(dir: String): Unit = {
    val journal = java.nio.file.Paths.get(s"$dir/swap.journal")
    if (java.nio.file.Files.exists(journal)) {
      import scala.jdk.CollectionConverters._
      // the journal was installed by atomic rename, so its contents are
      // complete: line 1 = stamp, rest = subdir names. Exists→read is NOT
      // atomic against a concurrent recoverer (explicitly anticipated by
      // replaySwap): the winner deletes the journal as its last step, so
      // the loser's read may find it gone — which means recovery already
      // completed, not an error.
      val lines =
        try java.nio.file.Files.readAllLines(journal).asScala.toSeq
        catch { case _: java.nio.file.NoSuchFileException => Seq.empty[String] }
      if (lines.nonEmpty) replaySwap(dir, lines.head, lines.tail.filter(_.nonEmpty))
    }
  }

  /** Delete residue of crashed past compactions: `<name>.compact-<s>`,
    * `<name>.retired-<s>`, and `swap.journal.tmp-<s>` entries whose stamp
    * `s` is neither the in-flight compaction's nor a landed journal's.
    * Called only from [[commitSwap]] (the single maintenance owner) —
    * readers must NOT sweep, or a reader's steady-state [[recoverSwap]]
    * could race the owner mid-write and delete its in-flight compact dirs.
    */
  private def sweepOrphans(dir: String, keepStamp: String): Unit = {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return
    val journalStamp =
      try {
        val j = d.resolve("swap.journal")
        if (Files.exists(j)) Files.readAllLines(j).asScala.headOption else None
      } catch { case _: java.io.IOException => None }
    val keep: Set[String] = Set(keepStamp) ++ journalStamp
    val entries =
      try Files.list(d).iterator().asScala.toSeq
      catch { case _: java.io.IOException => Seq.empty }
    entries.foreach { p =>
      val n = p.getFileName.toString
      val stampOf: Option[String] =
        if (n.startsWith("swap.journal.tmp-"))
          Some(n.stripPrefix("swap.journal.tmp-"))
        else {
          val c = n.lastIndexOf(".compact-")
          val r = n.lastIndexOf(".retired-")
          if (c >= 0) Some(n.substring(c + ".compact-".length))
          else if (r >= 0) Some(n.substring(r + ".retired-".length))
          else None
        }
      stampOf.filterNot(keep.contains).foreach(_ => deleteRecursively(p))
    }
  }

  private def replaySwap(dir: String, stamp: String, names: Seq[String]): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // Two recoverers may replay the SAME journal concurrently (any two
    // readers after a crash): each flip below tolerates losing a move
    // race — the loser's NoSuchFile/FileAlreadyExists just means the flip
    // already happened. (Concurrent WRITERS during recovery remain
    // excluded by the single-owner maintenance discipline the commitSwap
    // scaladoc states: the delta fold below cannot distinguish a batch
    // being written right now from one the compaction already folded.)
    def quietMove(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
      try Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.NoSuchFileException        => ()
        case _: java.nio.file.FileAlreadyExistsException => ()
      }
    names.foreach { name =>
      val live = Paths.get(s"$dir/$name")
      val compact = Paths.get(s"$dir/$name.compact-$stamp")
      val retired = Paths.get(s"$dir/$name.retired-$stamp")
      if (Files.exists(compact)) {
        if (Files.exists(live)) quietMove(live, retired)
        quietMove(compact, live)
      }
      deleteRecursively(retired)
    }
    val delta = Paths.get(s"$dir/delta")
    deleteRecursively(delta)
    // The journal is the replay's completion marker: remove it ONLY once
    // the folded delta is actually gone. deleteRecursively swallows IO
    // errors (e.g. a held-open handle), and dropping the journal above a
    // surviving delta/ would let readers double-count the folded batches
    // (the postings live view unions base ∪ delta without distinct).
    if (!Files.exists(delta))
      Files.deleteIfExists(Paths.get(s"$dir/swap.journal"))
    else
      throw new java.io.IOException(
        s"swap replay for $dir: delta/ survived the fold (held handle?); " +
          "journal retained so the next recovery retries"
      )
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
