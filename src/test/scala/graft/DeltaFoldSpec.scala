package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.sources.Warc
import graft.streaming._

/** The crash-state matrix every delta fold must pass, one row per fold,
  * each run once on a local dir and once on an object-store-shaped
  * foreign scheme ([[SlowFs]]). Each row drives one asset through the
  * four states a compaction's pointer commit can leave:
  *
  *   1. a crash before the pointer replace: `<name>.g-<stamp>` dirs no
  *      generation names. Readers keep the committed generation, and the
  *      next fold sweeps them;
  *   2. a crash after the replace but before its sweep: the old
  *      generation's dirs and the old delta are still on disk. The live
  *      view is the folded one, with no row counted twice;
  *   3. a batch replayed after its fold stays exactly-once, in the live
  *      view and after the next fold;
  *   4. a new batch landed in state 2 reaches the live view and survives
  *      the next fold, which sweeps the old generation.
  *
  * The expected final state is the same fold driven without any crash
  * (or, where a row names one, a wholesale build over all its rows).
  */
class DeltaFoldSpec extends AnyFunSuite with ScratchAssets {
  lazy val spark = {
    val s = TestSpark.spark
    // the object-store shim, registered on the session conf only
    s.sparkContext.hadoopConfiguration.set("fs.slowfs.impl", "graft.SlowFs")
    s
  }
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

  private def scratch(tag: String): String = scratchDir(s"dfold_$tag") + "/asset"

  /** The local path behind a dir, remote (`slowfs:`) or not. */
  private def local(dir: String): String = dir.stripPrefix("slowfs:")

  private def copyTo(asset: String, dir: String): Unit = Indexes.copyDir(asset, local(dir))

  /** The sfDir every fold's published base asset is keyed under; each
    * state of the matrix folds into its own copy of it.
    */
  private lazy val assetSf = freshSf()

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
    val d = scratchDir("dfold_warc")
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
    owned(Curation.ensureGateAsset(assetSf, curationCorpus.filter(col("doc_id") % 5 =!= 1)))

  private def curationBatch(k: Int): DataFrame =
    curationCorpus.filter(col("doc_id") % 5 === 1 && (col("doc_id") < 16) === (k == 0))

  private val folds: Seq[Fold] = Seq(
    Fold(
      "audio",
      Seq("docs", "clusters"),
      dir => copyTo(owned(Audio.ensureAudioFpIndex(assetSf, docs(0, 30))), dir),
      (dir, k, c) => AudioIndexStream.upsertBatch(docBatch(k), dir, k.toLong, c),
      dir => AudioIndexStream.compactDeltas(spark, DeltaFold.gen(dir)),
      dir => rows(AudioIndexStream.readClusters(spark, dir)),
      // the fold must equal a wholesale rebuild, residue sweep or not
      wholesale = Some((dir, n) =>
        copyTo(owned(Audio.ensureAudioFpIndex(assetSf, docs(0, 30L + 5 * n))), dir))
    ),
    Fold(
      "video",
      Seq("sig", "dfs", "sizes", "rsig", "rdfs", "rsizes", "members"),
      dir => copyTo(owned(Video.ensureSceneIndex(assetSf, docs(0, 30))), dir),
      (dir, k, c) => VideoIndexStream.upsertBatch(docBatch(k), dir, k.toLong, c),
      dir => VideoIndexStream.compactDeltas(spark, DeltaFold.gen(dir)),
      dir => rows(VideoIndexStream.readSig(spark, DeltaFold.gen(dir)))
    ),
    Fold(
      "substr",
      Seq("grams"),
      dir => copyTo(owned(Dedup.ensureSubstrGramIndex(assetSf, docs(0, 30))), dir),
      (dir, k, c) => SubstrIndexStream.upsertBatch(docBatch(k), dir, k.toLong, c),
      dir => SubstrIndexStream.compactDeltas(spark, DeltaFold.gen(dir)),
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
      dir => CdxStream.compactDeltas(spark, DeltaFold.gen(dir)),
      dir => rows(CdxStream.readCaptures(spark, dir)
        .select("path", "member_offset", "member_len", "target_uri", "surt"))
    ),
    Fold(
      "curation",
      Seq("gates", "puregates", "docstats", "doctoks"),
      dir => copyTo(curationBase, dir),
      (dir, k, c) => CurationGateStream.upsertBatch(curationBatch(k), dir, k.toLong, c),
      dir => CurationGateStream.compact(spark, DeltaFold.gen(dir)),
      dir => rows(CurationGateStream.gates(spark, dir)),
      liveDelta = false
    ),
    Fold(
      "semantic",
      Seq("celled", "seeds", "counts"),
      dir =>
        copyTo(
          owned(SemanticIndex.ensure(assetSf, emb.filter(col("vec_id") % 7 =!= 3), 50, 100)), dir),
      (dir, k, c) =>
        SemanticIndex.upsertBatch(
          emb.filter(col("vec_id") % 7 === 3 && (col("vec_id") < 250) === (k == 0)),
          dir, k.toLong, 50, 100, compactAt = c),
      dir => SemanticIndex.compactDeltas(spark, DeltaFold.gen(dir), 50, 100),
      // cells move at every fold (the quantizer is rebuilt); the vector
      // set is the fold-invariant view
      dir => rows(SemanticIndex.readCellsLive(spark, DeltaFold.gen(dir)).select("vec_id"))
    )
  )

  private def exists(p: String): Boolean = Files.exists(Paths.get(local(p)))

  private def entries(dir: String): Set[String] =
    Option(new java.io.File(local(dir)).list()).map(_.toSet).getOrElse(Set.empty)

  /** Each fold's crash-free final view, shared by its local and remote rows. */
  private val expectedViews = scala.collection.concurrent.TrieMap[String, Seq[String]]()

  private def wholesaleView(f: Fold, n: Int): Option[Seq[String]] = f.wholesale.map { build =>
    val ref = scratch(s"${f.name}_whole$n")
    build(ref, n)
    f.view(ref)
  }

  private def expectedView(f: Fold): Seq[String] =
    expectedViews.getOrElseUpdate(f.name, wholesaleView(f, 2).getOrElse {
      val ref = scratch(s"${f.name}_ref")
      f.build(ref)
      f.upsert(ref, 0, 0.0)
      f.upsert(ref, 1, 0.0)
      f.compact(ref)
      f.view(ref)
    })

  private def matrix(f: Fold, dir: String): Unit = {
    val expected = expectedView(f)
    f.build(dir)
    val before = f.view(dir)

    // 1. a crash before the pointer replace: generation dirs no pointer
    // names (unreadable, so a reader that resolved one would fail).
    // Readers keep the committed generation; the next fold sweeps them
    val orphans = f.swapped.map(n => s"$dir/$n.g-999-deadbeef")
    orphans.foreach { o =>
      Files.createDirectories(Paths.get(local(o)))
      Files.write(Paths.get(local(s"$o/part-0.parquet")), Array[Byte](1))
    }
    assert(f.view(dir) === before, "readers see the committed generation unchanged")
    orphans.foreach(o => assert(exists(o), s"readers must not sweep $o"))
    f.upsert(dir, 0, 1e-9)
    assert(!DeltaFold.gen(dir).hasDelta(), "forced debt policy must fold the batch")
    orphans.foreach(o => assert(!exists(o), s"the fold must sweep $o"))
    val folded = f.view(dir)
    assert(expected.toSet != folded.toSet, "batch 1 must add rows, or step 4 proves nothing")
    wholesaleView(f, 1).foreach(w => assert(folded === w, "the sweep must not disturb the fold"))

    // 3. a batch replayed after its fold re-lands in the delta; the live
    // view stays exactly-once
    f.upsert(dir, 0, 0.0)
    assert(DeltaFold.gen(dir).hasDelta(), "the replayed batch re-lands in the delta")
    // (as a set: the CDX live view has no distinct, so a replayed batch
    // shows twice until its fold)
    if (f.liveDelta) assert(f.view(dir).toSet === folded.toSet, "live view under replay")

    // 2. its fold dies after the pointer replace, before the sweep: the
    // old generation's dirs and the old delta are back on disk
    val old = entries(dir) - "generation"
    val saved = scratchDir(s"dfold_${f.name}_saved")
    old.foreach(n => Indexes.copyDir(local(s"$dir/$n"), s"$saved/$n"))
    f.compact(dir)
    old.filterNot(entries(dir)).foreach(n => Indexes.copyDir(s"$saved/$n", local(s"$dir/$n")))
    assert(old.subsetOf(entries(dir)), "precondition: the sweep's victims are back")
    assert(!DeltaFold.gen(dir).hasDelta(), "the committed generation names a new, empty delta")
    assert(f.view(dir) === folded, "fold after replay: no row counted twice")

    // 4. a new batch landed in state 2 reaches the live view and survives
    // the next fold, whose sweep leaves only the committed generation
    f.upsert(dir, 1, 0.0)
    if (f.liveDelta) assert(f.view(dir).toSet === expected.toSet, "new batch in the live view")
    f.compact(dir)
    assert(f.view(dir) === expected, "new batch survives the next fold")
    val stamp = DeltaFold.gen(dir).stamp.get
    val left = entries(dir)
    assert(left.filter(_.contains(".g-")).forall(_.endsWith(s".g-$stamp")), left.toString)
    assert(!left.exists(n => f.swapped.contains(n) || n == "delta"), left.toString)
  }

  folds.foreach { f =>
    test(s"${f.name} fold: crash-state matrix")(matrix(f, scratch(f.name)))
    test(s"${f.name} fold on the remote scheme: crash-state matrix")(
      matrix(f, "slowfs:" + scratch(s"${f.name}_remote")))
  }
}
