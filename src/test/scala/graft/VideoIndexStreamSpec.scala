package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Video
import graft.streaming.VideoIndexStream

/** Incremental video scene-index maintenance: delta append, live merged
  * sig/aggregate views, debt-policy compaction with the crash-safe
  * journaled swap, replay exactly-once, and the no-corpus-rescan plan
  * pin — the video twin of the AudioIndexStream contract.
  */
class VideoIndexStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  import spark.implicits._

  private def sigSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("doc_id"), col("dhash")).as[(Long, Long)].collect().toSet

  private def freshSig(docs: org.apache.spark.sql.DataFrame) =
    Video.decodeSig(spark, docs)

  test("delta upsert + live sig/aggregate merge + threshold compaction + replay exactly-once") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 120)
    val base = docs.filter(col("doc_id") < 80)
    val slice1 = docs.filter(col("doc_id") >= 80 && col("doc_id") < 88)
    val slice2 = docs.filter(col("doc_id") >= 88)

    val dir = java.nio.file.Files.createTempDirectory("graft_video_idx").toString + "/idx"
    graft.operators.Indexes.copyDir(Video.ensureSceneIndex(sf, base), dir)
    val baseSig = sigSet(spark.read.parquet(s"$dir/sig"))
    assert(baseSig === sigSet(freshSig(base)), "sig/ holds the distinct corpus signatures")

    // batch 0: below the 20% debt threshold — delta persists, and EVERY
    // live view equals a fresh derivation over base ∪ slice1
    VideoIndexStream.upsertBatch(slice1, dir, batchId = 0L, compactAt = 0.2)
    assert(new java.io.File(s"$dir/delta").exists(), "below threshold: delta must persist")
    val upto1 = base.unionByName(slice1)
    val sig1 = freshSig(upto1).localCheckpoint()
    assert(sigSet(VideoIndexStream.readSig(spark, dir)) === sigSet(sig1))
    assert(
      VideoIndexStream.readDfs(spark, dir).as[(Long, Long)].collect().toSet
        === Video.sigDfs(sig1).as[(Long, Long)].collect().toSet
    )
    assert(
      VideoIndexStream.readSizes(spark, dir).as[(Long, Long)].collect().toSet
        === Video.sigSizes(sig1).as[(Long, Long)].collect().toSet
    )
    assert(
      VideoIndexStream.readRepSig(spark, dir).as[(Long, Long)].collect().toSet
        === Video.repSig(sig1).as[(Long, Long)].collect().toSet
    )
    assert(
      VideoIndexStream.readRepSizes(spark, dir).as[(Long, Long)].collect().toSet
        === Video.repSig(sig1).groupBy(col("rid")).agg(count(lit(1)).as("n"))
          .as[(Long, Long)].collect().toSet
    )

    // no-corpus-rescan pin: live views are served from the index dirs
    // alone — the documents table (and hence the frame-decode path) never
    // appears in their plans; only the BATCH was decoded, at upsert time
    val livePlan =
      VideoIndexStream.readRepSig(spark, dir).queryExecution.executedPlan.toString
    assert(!livePlan.contains("documents.parquet"),
      s"live rep view must not re-scan the corpus:\n${livePlan.take(1500)}")

    // replaying batch 0 (same content, same id) changes nothing
    VideoIndexStream.upsertBatch(slice1, dir, batchId = 0L, compactAt = 0.2)
    assert(sigSet(VideoIndexStream.readSig(spark, dir)) === sigSet(sig1))

    // batch 1: the rest — pushes delta debt over 20% of base, folds, and
    // every folded table equals a fresh build over ALL docs
    VideoIndexStream.upsertBatch(slice2, dir, batchId = 1L, compactAt = 0.2)
    assert(!new java.io.File(s"$dir/delta").exists(), "threshold crossed: delta must fold")
    val sigAll = freshSig(docs).localCheckpoint()
    assert(sigSet(spark.read.parquet(s"$dir/sig")) === sigSet(sigAll))
    assert(
      spark.read.parquet(s"$dir/rsig").select(col("rid"), col("dhash"))
        .as[(Long, Long)].collect().toSet
        === Video.repSig(sigAll).as[(Long, Long)].collect().toSet
    )
    assert(
      spark.read.parquet(s"$dir/sizes").as[(Long, Long)].collect().toSet
        === Video.sigSizes(sigAll).as[(Long, Long)].collect().toSet
    )
    assert(!new java.io.File(s"$dir/swap.journal").exists(),
      "completed compaction leaves no journal behind")

    // a batch replayed AFTER compaction folded it re-lands in delta/ with
    // bit-identical sig rows; the live view stays exact and the next
    // fold's distinct() restores exactly-once
    VideoIndexStream.upsertBatch(slice2, dir, batchId = 1L, compactAt = 0.0)
    assert(new java.io.File(s"$dir/delta").exists(), "replayed batch re-lands in delta")
    assert(sigSet(VideoIndexStream.readSig(spark, dir)) === sigSet(sigAll),
      "live view stays exact under post-compaction replay")
    VideoIndexStream.compactDeltas(spark, dir)
    assert(sigSet(spark.read.parquet(s"$dir/sig")) === sigSet(sigAll),
      "fold after replay must not double-count")
    assert(
      spark.read.parquet(s"$dir/rsizes").as[(Long, Long)].collect().toSet
        === Video.repSig(sigAll).groupBy(col("rid")).agg(count(lit(1)).as("n"))
          .as[(Long, Long)].collect().toSet
    )
  }

  test("stream-grown index serves the batch ingest verdicts: fold then videoDeltaVerdicts") {
    // end-to-end: corpus index built once, a stream batch folds new videos
    // in, and the BATCH delta-ingest verdict path (which reads the
    // persisted tables) sees them — the continuously-ingesting corpus
    // never rebuilds ensureSceneIndex wholesale
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 100)
    val corpus0 = docs.filter(col("doc_id") % 7 =!= 3)
    val grow = docs.filter(col("doc_id") % 7 === 3 && col("doc_id") < 50)
    val delta = docs.filter(col("doc_id") % 7 === 3 && col("doc_id") >= 50)

    val dir = java.nio.file.Files.createTempDirectory("graft_video_grow").toString + "/idx"
    graft.operators.Indexes.copyDir(Video.ensureSceneIndex(sf, corpus0), dir)
    // fold the growth batch in (compactAt tiny -> immediate fold)
    VideoIndexStream.upsertBatch(grow, dir, batchId = 0L, compactAt = 1e-9)
    assert(!new java.io.File(s"$dir/delta").exists())

    // the batch verdict over the stream-grown index equals the verdict
    // over a fresh wholesale build of the same corpus
    val dir2 = Video.ensureSceneIndex(sf, corpus0.unionByName(grow))
    def verdicts(d: String) =
      Video.videoDeltaVerdicts(spark, d, delta)
        .select(col("doc_id"), col("best_match"), col("is_dup"))
        .as[(Long, Option[Long], Boolean)]
        .collect()
        .toSet
    assert(verdicts(dir) === verdicts(dir2))
  }
}
