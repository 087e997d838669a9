package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.sources.Warc
import graft.streaming._

/** The crash-state matrix every delta fold must pass, one row per fold.
  * Each row drives one asset through four states:
  *
  *   1. orphaned `.compact-`/`.retired-`/`swap.journal.tmp-` residue of
  *      a crashed compaction is left alone by readers (they could race a
  *      live owner mid-write) and swept by the next fold;
  *   2. a batch replayed after its fold stays exactly-once, in the live
  *      view and after the next fold;
  *   3. a journaled half-swap (compacted dirs written, journal landed,
  *      live dirs not yet flipped) is finished by the next reader;
  *   4. no lost batch: with a landed journal and a surviving `delta/`
  *      (the state the swap replay leaves when `delta/` outlives its
  *      deletion), a new batch's rows reach the live view and survive the
  *      next fold — the upsert recovers the journal before it writes.
  *
  * The expected final state is the same fold driven without any crash
  * (or, where a row names one, a wholesale build over all its rows).
  */
class DeltaFoldSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** One fold under test. `upsert(dir, k, compactAt)` lands batch k (0 or
    * 1, also its batch id); `view` renders the fold's live read as sorted
    * row strings; `liveDelta` is false for a fold whose read reflects a
    * delta only after compaction; `wholesale(dir, n)`, where given,
    * builds the asset in one go over the base and the first n batches.
    */
  private case class Fold(
      name: String,
      swapped: Seq[String],
      build: String => Unit,
      upsert: (String, Int, Double) => Unit,
      compact: String => Unit,
      view: String => Seq[String],
      liveDelta: Boolean = true,
      wholesale: Option[(String, Int) => Unit] = None
  )

  private def show(v: Any): String = v match {
    case null                       => "∅"
    case b: Array[Byte]             => b.mkString("x", ",", "")
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
    case r: Row                     => r.toSeq.map(show).mkString("(", ",", ")")
    case x                          => x.toString
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(show).toSeq.sorted

  private def scratch(tag: String): String =
    Files.createTempDirectory(s"graft_dfold_$tag").toString + "/asset"

  /** Synthetic documents: the media payloads derive from the doc id, the
    * grams from the text — overlapping progressions over 997
    * letter-only words (the tokenizer keeps `[a-z]` runs), so documents
    * share some spans.
    */
  private def docs(lo: Long, hi: Long): DataFrame =
    (lo until hi).map { i =>
      val words = (0 until 24).map { k =>
        "w" + ((i * 131 + k * 7) % 997).toString.map(c => ('a' + (c - '0')).toChar)
      }
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")

  /** Docs [0, 30) are the base; batch k holds [30 + 5k, 35 + 5k). */
  private def docBatch(k: Int): DataFrame = docs(30L + 5 * k, 35L + 5 * k)

  /** 500 synthetic 64-d embeddings in ten labelled clusters. */
  private lazy val emb = (0L until 500L).map { i =>
    val r = new scala.util.Random(i)
    val v = Seq.tabulate(64)(j => (if (j % 10 == i % 10) 1f else 0f) + 0.5f * r.nextFloat())
    (i, v, (i % 10).toInt)
  }.toDF("vec_id", "embedding", "label")

  private lazy val warcDir = {
    val d = Files.createTempDirectory("graft_dfold_warc").toString
    (0 until 3).foreach { shard =>
      val out = new java.io.ByteArrayOutputStream()
      (0 until 4).foreach { i =>
        val id = shard * 10 + i
        val gz = new java.util.zip.GZIPOutputStream(out)
        gz.write(Warc.responseRecord(s"http://fold.example.org/doc/$id", s"<urn:uuid:r-$id>",
          Warc.FixtureDate, s"<p>capture $id</p>"))
        gz.close()
      }
      Files.write(Paths.get(s"$d/part-0000$shard.warc.gz"), out.toByteArray)
    }
    d
  }

  private def curationCorpus = (1L to 30L).map { i =>
    val words = (0 until 20).map(k => s"w${(i * 7 + k * 3) % 11} t${(i + k) % 5}")
    (i, words.mkString(" "), if (i % 3 == 0) "de" else "en")
  }.toDF("doc_id", "text", "lang")

  private lazy val curationBase =
    Curation.ensureGateAsset(scratch("cfp"), curationCorpus.filter(col("doc_id") % 5 =!= 1))

  private def curationBatch(k: Int): DataFrame =
    curationCorpus.filter(col("doc_id") % 5 === 1 && (col("doc_id") < 16) === (k == 0))

  private val folds: Seq[Fold] = Seq(
    Fold(
      "audio",
      Seq("docs", "clusters"),
      dir => Audio.ensureAudioFpIndex(spark, docs(0, 30), dir),
      (dir, k, c) => AudioIndexStream.upsertBatch(docBatch(k), dir, k.toLong, c),
      dir => AudioIndexStream.compactDeltas(spark, dir),
      dir => rows(AudioIndexStream.readClusters(spark, dir)),
      // the fold must equal a wholesale rebuild, residue sweep or not
      wholesale = Some((dir, n) => Audio.ensureAudioFpIndex(spark, docs(0, 30L + 5 * n), dir))
    ),
    Fold(
      "video",
      Seq("sig", "dfs", "sizes", "rsig", "rdfs", "rsizes", "members"),
      dir => Video.ensureSceneIndex(spark, docs(0, 30), dir),
      (dir, k, c) => VideoIndexStream.upsertBatch(docBatch(k), dir, k.toLong, c),
      dir => VideoIndexStream.compactDeltas(spark, dir),
      dir => rows(VideoIndexStream.readSig(spark, dir))
    ),
    Fold(
      "substr",
      Seq("grams"),
      dir => Dedup.ensureSubstrGramIndex(spark, docs(0, 30), dir),
      (dir, k, c) => SubstrIndexStream.upsertBatch(docBatch(k), dir, k.toLong, c),
      dir => SubstrIndexStream.compactDeltas(spark, dir),
      dir => rows(SubstrIndexStream.readGrams(spark, dir))
    ),
    Fold(
      "cdx",
      Seq("idx"),
      dir =>
        Warc.memberIndex(spark, warcDir, "part-00000.warc.gz")
          .withColumn("surt", Urls.surt(col("target_uri")))
          .write.parquet(s"$dir/idx"),
      (dir, k, c) =>
        CdxStream.upsertBatch(spark, warcDir, s"part-0000${k + 1}.warc.gz", dir, k.toLong, c),
      dir => CdxStream.compactDeltas(spark, dir),
      dir => rows(CdxStream.readCaptures(spark, dir)
        .select("path", "member_offset", "member_len", "target_uri", "surt"))
    ),
    Fold(
      "curation",
      Seq("gates", "puregates", "docstats", "doctoks"),
      dir => Indexes.copyDir(curationBase, dir),
      (dir, k, c) => CurationGateStream.upsertBatch(curationBatch(k), dir, k.toLong, c),
      dir => CurationGateStream.compact(spark, dir),
      dir => rows(CurationGateStream.gates(spark, dir)),
      liveDelta = false
    ),
    Fold(
      "semantic",
      Seq("celled", "seeds", "counts"),
      dir => SemanticIndex.ensureBuilt(emb.filter(col("vec_id") % 7 =!= 3), dir, 50, 100),
      (dir, k, c) =>
        SemanticIndex.upsertBatch(
          emb.filter(col("vec_id") % 7 === 3 && (col("vec_id") < 250) === (k == 0)),
          dir, k.toLong, 50, 100, compactAt = c),
      dir => SemanticIndex.compactDeltas(spark, dir, 50, 100),
      // cells move at every fold (the quantizer is rebuilt); the vector
      // set is the fold-invariant view
      dir => rows(SemanticIndex.readCellsLive(spark, dir).select("vec_id"))
    )
  )

  private def exists(p: String): Boolean = Files.exists(Paths.get(p))

  folds.foreach { f =>
    test(s"${f.name} fold: crash-state matrix") {
      def wholesaleView(n: Int): Option[Seq[String]] = f.wholesale.map { build =>
        val ref = scratch(s"${f.name}_whole$n")
        build(ref, n)
        f.view(ref)
      }
      val expected = wholesaleView(2).getOrElse {
        val ref = scratch(s"${f.name}_ref")
        f.build(ref)
        f.upsert(ref, 0, 0.0)
        f.upsert(ref, 1, 0.0)
        f.compact(ref)
        f.view(ref)
      }
      val dir = scratch(f.name)
      f.build(dir)

      // 1. residue of a fictitious crashed compaction: readers leave it,
      // the next fold (an upsert under an aggressive debt policy) sweeps it
      val stale = "999-deadbeef"
      val residue = Seq(
        s"$dir/${f.swapped.head}.compact-$stale",
        s"$dir/${f.swapped.last}.retired-$stale",
        s"$dir/swap.journal.tmp-$stale"
      )
      Files.createDirectories(Paths.get(residue(0)))
      Files.write(Paths.get(s"${residue(0)}/part-0.parquet"), Array[Byte](1))
      Files.createDirectories(Paths.get(residue(1)))
      Files.write(Paths.get(residue(2)), Array[Byte](2))
      f.view(dir)
      residue.foreach(p => assert(exists(p), s"readers must not sweep $p"))
      f.upsert(dir, 0, 1e-9)
      assert(!exists(s"$dir/delta"), "forced debt policy must fold the batch")
      residue.foreach(p => assert(!exists(p), s"the fold must sweep $p"))
      val folded = f.view(dir)
      assert(expected.toSet != folded.toSet, "batch 1 must add rows, or step 4 proves nothing")
      wholesaleView(1).foreach(w => assert(folded === w, "the sweep must not disturb the fold"))

      // 2. a batch replayed after its fold re-lands in delta/; the live view
      // and the next fold stay exactly-once
      f.upsert(dir, 0, 0.0)
      assert(exists(s"$dir/delta"), "the replayed batch re-lands in delta/")
      if (f.liveDelta) assert(f.view(dir).toSet === folded.toSet, "live view under replay")
      f.compact(dir)
      assert(f.view(dir) === folded, "fold after replay must not double-count")

      // 3. a process death between the journal commit point and the flips:
      // compacted dirs present, journal naming them, live dirs gone
      f.swapped.foreach { n =>
        Files.move(Paths.get(s"$dir/$n"), Paths.get(s"$dir/$n.compact-crash"),
          StandardCopyOption.ATOMIC_MOVE)
      }
      Files.write(Paths.get(s"$dir/swap.journal"), ("crash" +: f.swapped).mkString("\n").getBytes)
      assert(!exists(s"$dir/${f.swapped.head}"), "precondition: live dir missing")
      assert(f.view(dir) === folded, "the next reader finishes the swap")
      f.swapped.foreach { n =>
        assert(exists(s"$dir/$n"), s"$n flipped in")
        assert(!exists(s"$dir/$n.compact-crash"), s"$n.compact-crash consumed")
      }
      assert(!exists(s"$dir/swap.journal"), "journal cleared after replay")

      // 4. a landed journal above a surviving delta/ (folded rows of batch
      // 0), then a NEW batch: it must not be retired with the old delta
      f.upsert(dir, 0, 0.0)
      Files.write(Paths.get(s"$dir/swap.journal"), ("lost" +: f.swapped).mkString("\n").getBytes)
      f.upsert(dir, 1, 0.0)
      if (f.liveDelta) assert(f.view(dir).toSet === expected.toSet, "new batch in the live view")
      f.compact(dir)
      assert(f.view(dir) === expected, "new batch survives the next fold")
      assert(!exists(s"$dir/swap.journal"))
    }
  }
}
