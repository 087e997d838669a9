package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Audio
import graft.streaming.{AudioIndexStream, DeltaFold}

/** Incremental audio-dedup-index maintenance: delta append, live merged
  * cluster view, debt-policy compaction behind the generation pointer
  * commit, replay exactly-once, and the no-corpus-rescan plan pin — the
  * audio twin of the VideoIndexStream contract. The shared crash states
  * are also the audio row of [[DeltaFoldSpec]].
  */
class AudioIndexStreamSpec extends AnyFunSuite with ScratchAssets {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  import spark.implicits._

  private def clusterSet(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
    df.select(col("fingerprint"), col("rep"), col("n_variants").cast("long"))
      .as[(String, Long, Long)]
      .collect()
      .toSet

  private def freshClusters(docs: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
    clusterSet(
      Audio.fpClusters(
        Audio.audioFingerprint(
          Audio.frameEnergies(spark, Audio.withAudioPayloadVariants(spark, docs)).toDF()
        )
      )
    )

  test("delta upsert + live cluster merge + threshold compaction + replay exactly-once") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 200)
    val base = docs.filter(col("doc_id") < 100)
    val slice1 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 110)
    val slice2 = docs.filter(col("doc_id") >= 110)

    val dir = scratchDir("audio_idx") + "/idx"
    graft.operators.Indexes.copyDir(Audio.ensureAudioFpIndex(sf, base), dir)
    assert(spark.read.parquet(DeltaFold.gen(dir)("docs")).count() === base.count(),
      "docs/ holds one fingerprint row per corpus clip")

    // batch 0: ten clips — below the 20% debt threshold, so the delta
    // persists, and the LIVE cluster view must equal a fresh recompute
    // over base ∪ slice1 (min rep, counts across base and delta)
    AudioIndexStream.upsertBatch(slice1, dir, batchId = 0L, compactAt = 0.2)
    assert(DeltaFold.gen(dir).hasDelta(), "below threshold: delta must persist")
    assert(
      clusterSet(AudioIndexStream.readClusters(spark, dir))
        === freshClusters(base.unionByName(slice1))
    )

    // no-corpus-rescan pin: the live view is served from the index dirs
    // alone — the documents table (and hence the decode path) never
    // appears in its plan; only the BATCH was decoded, at upsert time
    val livePlan =
      AudioIndexStream.readClusters(spark, dir).queryExecution.executedPlan.toString
    assert(!livePlan.contains("documents.parquet"),
      s"live cluster view must not re-scan the corpus:\n${livePlan.take(1500)}")

    // replaying batch 0 (same content, same id) changes nothing
    AudioIndexStream.upsertBatch(slice1, dir, batchId = 0L, compactAt = 0.2)
    assert(
      clusterSet(AudioIndexStream.readClusters(spark, dir))
        === freshClusters(base.unionByName(slice1))
    )

    // batch 1: the rest — pushes delta debt over 20% of base, folds, and
    // the folded asset equals a fresh build over ALL docs
    AudioIndexStream.upsertBatch(slice2, dir, batchId = 1L, compactAt = 0.2)
    assert(!DeltaFold.gen(dir).hasDelta(), "threshold crossed: delta must fold")
    assert(clusterSet(spark.read.parquet(DeltaFold.gen(dir)("clusters"))) === freshClusters(docs))
    assert(spark.read.parquet(DeltaFold.gen(dir)("docs")).count() === docs.count())
    assert(DeltaFold.gen(dir).stamp.nonEmpty && !new java.io.File(s"$dir/docs").exists(),
      "completed compaction commits a generation and sweeps the build's dirs")

    // a batch replayed AFTER compaction folded it re-lands in delta/ with
    // bit-identical per-doc rows; the next fold's distinct() restores
    // exactly-once — clusters identical before and after
    AudioIndexStream.upsertBatch(slice2, dir, batchId = 1L, compactAt = 0.0)
    assert(DeltaFold.gen(dir).hasDelta(), "replayed batch re-lands in delta")
    assert(clusterSet(AudioIndexStream.readClusters(spark, dir)) === freshClusters(docs),
      "live view stays exact under post-compaction replay")
    AudioIndexStream.compactDeltas(spark, DeltaFold.gen(dir))
    assert(clusterSet(spark.read.parquet(DeltaFold.gen(dir)("clusters"))) === freshClusters(docs),
      "fold after replay must not double-count")
    assert(spark.read.parquet(DeltaFold.gen(dir)("docs")).count() === docs.count())
  }

  test("spectral provider: upsert + replay + fold equal a fresh spectral build") {
    // the index machinery is fingerprint-agnostic; maintained under
    // Audio.spectralFp it must behave identically — exactly-once under
    // replay, fold bit-equal to a wholesale spectral rebuild
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 150)
    val base = docs.filter(col("doc_id") < 100)
    val growth = docs.filter(col("doc_id") >= 100)
    def fresh(ds: org.apache.spark.sql.DataFrame) =
      clusterSet(Audio.fpClusters(Audio.spectralFp(spark, ds)))

    val dir = scratchDir("audio_spec_idx") + "/idx"
    graft.operators.Indexes.copyDir(Audio.ensureAudioSpectralIndex(sf, base), dir)
    AudioIndexStream.upsertBatch(growth, dir, batchId = 0L, compactAt = 0.0,
      fp = Audio.spectralFp)
    AudioIndexStream.upsertBatch(growth, dir, batchId = 0L, compactAt = 0.0,
      fp = Audio.spectralFp) // replay
    assert(clusterSet(AudioIndexStream.readClusters(spark, dir)) === fresh(docs),
      "live spectral view must equal a fresh spectral build under replay")
    AudioIndexStream.compactDeltas(spark, DeltaFold.gen(dir))
    assert(clusterSet(spark.read.parquet(DeltaFold.gen(dir)("clusters"))) === fresh(docs),
      "folded spectral asset must equal a wholesale spectral rebuild")
  }

  test("crash-safe commit: a fold killed after its pointer PUT serves the fold") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 40)
    val base = docs.filter(col("doc_id") < 30)
    val growth = docs.filter(col("doc_id") >= 30)
    val dir = scratchDir("audio_crash") + "/idx"
    val saved = scratchDir("audio_saved")
    graft.operators.Indexes.copyDir(Audio.ensureAudioFpIndex(sf, base), dir)
    AudioIndexStream.upsertBatch(growth, dir, batchId = 0L, compactAt = 0.0)

    // a process death between the pointer replace and its sweep: the new
    // generation is committed, the build's dirs and the folded delta are
    // still on disk
    Seq("docs", "clusters", "delta").foreach(n =>
      graft.operators.Indexes.copyDir(s"$dir/$n", s"$saved/$n"))
    AudioIndexStream.compactDeltas(spark, DeltaFold.gen(dir))
    Seq("docs", "clusters", "delta").foreach(n =>
      graft.operators.Indexes.copyDir(s"$saved/$n", s"$dir/$n"))
    val expected = clusterSet(Audio.fpClusters(Audio.energyFp(spark, docs)))
    assert(!DeltaFold.gen(dir).hasDelta(), "the committed generation names a new, empty delta")
    assert(clusterSet(AudioIndexStream.readClusters(spark, dir)) === expected)
    assert(AudioIndexStream.readDocs(spark, DeltaFold.gen(dir)).count() === docs.count(),
      "one row per clip")
  }

  test("crash-orphaned generation dirs are swept by the next fold") {
    import java.nio.file.{Files, Paths}
    // a death AFTER writing <name>.g-<stamp> dirs but BEFORE the pointer
    // replace leaves dirs no generation names. Readers never resolve them;
    // the next fold's sweep deletes them.
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 40)
    val base = docs.filter(col("doc_id") < 30)
    val growth = docs.filter(col("doc_id") >= 30)
    val dir = scratchDir("audio_orphan") + "/idx"
    graft.operators.Indexes.copyDir(Audio.ensureAudioFpIndex(sf, base), dir)
    // plant the generation dirs of a fictitious crashed compaction
    val stale = "999-deadbeef"
    Files.createDirectories(Paths.get(s"$dir/docs.g-$stale"))
    Files.write(Paths.get(s"$dir/docs.g-$stale/part-0.parquet"), Array[Byte](1))
    Files.createDirectories(Paths.get(s"$dir/clusters.g-$stale"))
    // a reader resolves the committed generation and leaves them alone
    AudioIndexStream.readClusters(spark, dir).collect()
    assert(Files.exists(Paths.get(s"$dir/docs.g-$stale")),
      "readers must not sweep (they could race a live compaction owner)")
    // a real fold (upsert with an aggressive debt policy) sweeps them
    AudioIndexStream.upsertBatch(growth, dir, batchId = 0L, compactAt = 1e-9)
    assert(!Files.exists(Paths.get(s"$dir/docs.g-$stale")), "orphaned docs generation swept")
    assert(!Files.exists(Paths.get(s"$dir/clusters.g-$stale")), "orphaned clusters swept")
    // and the fold itself is intact: live view equals a wholesale rebuild
    assert(
      clusterSet(AudioIndexStream.readClusters(spark, dir)) ===
        clusterSet(Audio.fpClusters(Audio.energyFp(spark, docs))),
      "sweep must not disturb the live compaction's own outcome"
    )
  }
}
