package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Audio
import graft.streaming.AudioIndexStream

/** Incremental audio-dedup-index maintenance: delta append, live merged
  * cluster view, debt-policy compaction with the crash-safe journaled
  * swap, replay exactly-once, and the no-corpus-rescan plan pin — the
  * audio twin of the VideoIndexStream contract. The shared crash states
  * are also the audio row of [[DeltaFoldSpec]].
  */
class AudioIndexStreamSpec extends AnyFunSuite {
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

    val dir = java.nio.file.Files.createTempDirectory("graft_audio_idx").toString + "/idx"
    Audio.ensureAudioFpIndex(spark, base, dir)
    assert(spark.read.parquet(s"$dir/docs").count() === base.count(),
      "docs/ holds one fingerprint row per corpus clip")

    // batch 0: ten clips — below the 20% debt threshold, so the delta
    // persists, and the LIVE cluster view must equal a fresh recompute
    // over base ∪ slice1 (min rep, counts across base and delta)
    AudioIndexStream.upsertBatch(slice1, dir, batchId = 0L, compactAt = 0.2)
    assert(new java.io.File(s"$dir/delta").exists(), "below threshold: delta must persist")
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
    assert(!new java.io.File(s"$dir/delta").exists(), "threshold crossed: delta must fold")
    assert(clusterSet(spark.read.parquet(s"$dir/clusters")) === freshClusters(docs))
    assert(spark.read.parquet(s"$dir/docs").count() === docs.count())
    assert(!new java.io.File(s"$dir/swap.journal").exists(),
      "completed compaction leaves no journal behind")

    // a batch replayed AFTER compaction folded it re-lands in delta/ with
    // bit-identical per-doc rows; the next fold's distinct() restores
    // exactly-once — clusters identical before and after
    AudioIndexStream.upsertBatch(slice2, dir, batchId = 1L, compactAt = 0.0)
    assert(new java.io.File(s"$dir/delta").exists(), "replayed batch re-lands in delta")
    assert(clusterSet(AudioIndexStream.readClusters(spark, dir)) === freshClusters(docs),
      "live view stays exact under post-compaction replay")
    AudioIndexStream.compactDeltas(spark, dir)
    assert(clusterSet(spark.read.parquet(s"$dir/clusters")) === freshClusters(docs),
      "fold after replay must not double-count")
    assert(spark.read.parquet(s"$dir/docs").count() === docs.count())
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

    val dir = java.nio.file.Files.createTempDirectory("graft_audio_spec_idx").toString + "/idx"
    Audio.ensureAudioSpectralIndex(spark, base, dir)
    AudioIndexStream.upsertBatch(growth, dir, batchId = 0L, compactAt = 0.0,
      fp = Audio.spectralFp)
    AudioIndexStream.upsertBatch(growth, dir, batchId = 0L, compactAt = 0.0,
      fp = Audio.spectralFp) // replay
    assert(clusterSet(AudioIndexStream.readClusters(spark, dir)) === fresh(docs),
      "live spectral view must equal a fresh spectral build under replay")
    AudioIndexStream.compactDeltas(spark, dir)
    assert(clusterSet(spark.read.parquet(s"$dir/clusters")) === fresh(docs),
      "folded spectral asset must equal a wholesale spectral rebuild")
  }

  test("crash-safe swap: a journaled half-swap is finished by the next reader") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 40)
    val dir = java.nio.file.Files.createTempDirectory("graft_audio_crash").toString + "/idx"
    Audio.ensureAudioFpIndex(spark, docs, dir)
    val expected = clusterSet(spark.read.parquet(s"$dir/clusters"))

    // simulate a process death between the journal commit point and the
    // install step: the fully-written compacted dirs are present, the
    // journal names them, but the live dirs were never flipped — exactly
    // the state compactDeltas leaves if killed right after journaling
    val stamp = "crashtest"
    Seq("docs", "clusters").foreach { name =>
      Files.move(
        Paths.get(s"$dir/$name"),
        Paths.get(s"$dir/$name.compact-$stamp"),
        StandardCopyOption.ATOMIC_MOVE
      )
    }
    Files.write(
      Paths.get(s"$dir/swap.journal"),
      s"$stamp\ndocs\nclusters".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    )
    assert(!Files.exists(Paths.get(s"$dir/docs")), "precondition: live dir missing")

    // the next reader open finishes the swap — no missing-docs window
    // survives a restart
    assert(clusterSet(AudioIndexStream.readClusters(spark, dir)) === expected)
    assert(Files.exists(Paths.get(s"$dir/docs")))
    assert(!Files.exists(Paths.get(s"$dir/swap.journal")))
    assert(!Files.exists(Paths.get(s"$dir/docs.compact-$stamp")))
  }

  test("crash-orphaned compaction residue is swept by the next commitSwap") {
    import java.nio.file.{Files, Paths}
    // a death AFTER writing <name>.compact-<stamp> dirs but BEFORE the
    // journal rename references them leaves residue no recovery path ever
    // touches (recovery only replays a LANDED journal) — each one a full
    // index copy leaking on disk. The next compaction's commitSwap must
    // sweep them; readers must NOT (they could race a live owner
    // mid-write).
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 40)
    val base = docs.filter(col("doc_id") < 30)
    val growth = docs.filter(col("doc_id") >= 30)
    val dir = java.nio.file.Files.createTempDirectory("graft_audio_orphan").toString + "/idx"
    Audio.ensureAudioFpIndex(spark, base, dir)
    // plant residue of a fictitious crashed compaction
    val stale = "999-deadbeef"
    Files.createDirectories(Paths.get(s"$dir/docs.compact-$stale"))
    Files.write(Paths.get(s"$dir/docs.compact-$stale/part-0.parquet"), Array[Byte](1))
    Files.createDirectories(Paths.get(s"$dir/clusters.retired-$stale"))
    Files.write(Paths.get(s"$dir/swap.journal.tmp-$stale"), Array[Byte](2))
    // a reader open must leave the residue alone
    AudioIndexStream.readClusters(spark, dir).collect()
    assert(Files.exists(Paths.get(s"$dir/docs.compact-$stale")),
      "readers must not sweep (they could race a live compaction owner)")
    // a real fold (upsert with an aggressive debt policy) sweeps it
    AudioIndexStream.upsertBatch(growth, dir, batchId = 0L, compactAt = 1e-9)
    assert(!Files.exists(Paths.get(s"$dir/docs.compact-$stale")), "compact residue swept")
    assert(!Files.exists(Paths.get(s"$dir/clusters.retired-$stale")), "retired residue swept")
    assert(!Files.exists(Paths.get(s"$dir/swap.journal.tmp-$stale")), "journal tmp swept")
    // and the fold itself is intact: live view equals a wholesale rebuild
    assert(
      clusterSet(AudioIndexStream.readClusters(spark, dir)) ===
        clusterSet(Audio.fpClusters(Audio.energyFp(spark, docs))),
      "sweep must not disturb the live compaction's own outcome"
    )
  }
}
