package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Indexes}
import graft.streaming.{CurationGateStream, DeltaFold}

/** The incremental curation-gate asset's contract: a stream-grown asset
  * is BIT-EQUAL to a wholesale rebuild over the grown corpus, batch
  * replays are exactly-once (before AND after their fold), and no
  * standing document's raw text is re-read by a fold.
  */
class CurationFoldSpec extends AnyFunSuite with ScratchAssets {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // enough docs that every leg is non-trivial: multiple languages,
  // varied texts, ids spanning split buckets
  private def corpus(n: Int) =
    (1L to n.toLong).map { i =>
      val words = (0 until 20).map(k => s"w${(i * 7 + k * 3) % 11} t${(i + k) % 5}")
      (i, words.mkString(" "), if (i % 3 == 0) "de" else "en")
    }.toDF("doc_id", "text", "lang")

  private def gatesOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect()
      .map(_.toSeq.map(v => if (v == null) "∅" else v.toString).mkString("|"))
      .toSeq
      .sorted

  private def scratch(tag: String): String =
    scratchDir(s"cfold_$tag") + "/asset"

  test("fold == wholesale rebuild, bit for bit; replays are exactly-once") {
    val full = corpus(30)
    val base = full.filter(col("doc_id") % 5 =!= 1)
    val growth = full.filter(col("doc_id") % 5 === 1)
    val sfTag = freshSf() // isolates the fingerprint families per run

    // wholesale truth over the full corpus
    val wholeDir = owned(Curation.ensureGateAsset(sfTag, full))
    val whole = gatesOf(spark.read.parquet(s"$wholeDir/gates"))
    assert(whole.size === 30)

    // grown: base asset + one folded batch
    val baseDir = owned(Curation.ensureGateAsset(sfTag, base))
    val dir = scratch("grow")
    Indexes.copyDir(baseDir, dir)
    CurationGateStream.upsertBatch(growth, dir, batchId = 0L, compactAt = 1e-9)
    assert(gatesOf(CurationGateStream.gates(spark, dir)) === whole)

    // pre-fold replay: same batch re-lands its delta partition, fold once
    val dir2 = scratch("replay")
    Indexes.copyDir(baseDir, dir2)
    CurationGateStream.upsertBatch(growth, dir2, batchId = 0L, compactAt = 0)
    CurationGateStream.upsertBatch(growth, dir2, batchId = 0L, compactAt = 0)
    CurationGateStream.compact(spark, DeltaFold.gen(dir2))
    assert(gatesOf(CurationGateStream.gates(spark, dir2)) === whole)

    // post-fold replay: the batch re-lands AFTER compaction already
    // folded it; the next fold's full-row distinct restores exactly-once
    CurationGateStream.upsertBatch(growth, dir2, batchId = 0L, compactAt = 0)
    CurationGateStream.compact(spark, DeltaFold.gen(dir2))
    assert(gatesOf(CurationGateStream.gates(spark, dir2)) === whole)
  }

  test("a fold never re-reads the standing corpus' raw text") {
    val full = corpus(20)
    val base = full.filter(col("doc_id") % 5 =!= 1).localCheckpoint()
    val growth = full.filter(col("doc_id") % 5 === 1).localCheckpoint()
    val sfTag = freshSf()
    val baseDir = owned(Curation.ensureGateAsset(sfTag, base))
    val dir = scratch("noreread")
    Indexes.copyDir(baseDir, dir)
    // the statistics tables carry no text; deriveGates consumes ONLY
    // them. Structural pin: the base asset's raw text is not an input
    // anywhere — the fold's inputs are the batch frame + the asset dir.
    // Behavioral pin: drop the text column from reach by folding a batch
    // whose frame is the ONLY raw text in scope, then compare against
    // wholesale.
    CurationGateStream.upsertBatch(growth, dir, batchId = 7L, compactAt = 1e-9)
    val grown = gatesOf(CurationGateStream.gates(spark, dir))
    val wholeDir = owned(Curation.ensureGateAsset(sfTag, full.localCheckpoint()))
    assert(grown === gatesOf(spark.read.parquet(s"$wholeDir/gates")))
    // and the published statistics tables are text-free by schema
    Seq("puregates", "docstats", "doctoks").foreach { t =>
      val fields = spark.read.parquet(DeltaFold.gen(dir)(t)).schema.fieldNames.toSet
      assert(!fields.contains("text"), s"$t must not persist raw text")
    }
  }
}
