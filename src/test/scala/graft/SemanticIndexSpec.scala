package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Indexes, SemanticIndex, Similarity}
import graft.streaming.DeltaFold

/** The amortization contract of [[SemanticIndex]]: reading the persisted
  * quantizer state is BIT-IDENTICAL to a fresh derivation (so the oracle
  * gate cannot tell them apart), the asset is stale-proof under corpus
  * edits, and the streaming ingest face flags batches deterministically
  * and replay-idempotently.
  */
class SemanticIndexSpec extends AnyFunSuite with ScratchAssets {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  import spark.implicits._

  private def keptSet(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Boolean)] =
    df.select(col("vec_id").cast("long"), col("cell").cast("long"), col("kept"))
      .as[(Long, Long, Boolean)]
      .collect()
      .toSeq
      .sorted

  test("amortized dedup is bit-identical to the fresh derivation") {
    val emb = Tables.embeddings(spark, sf)
    val fresh = Similarity
      .semanticDedupScaled(emb, threshold = 0.35, targetCellSize = 50, maxCellSize = 100)
    // start with no published index: dedup must build it and publish it
    // at the corpus's fingerprinted dir
    val dir = SemanticIndex.ensure(sf, emb, targetCellSize = 50, maxCellSize = 100)
    Indexes.deleteRecursively(java.nio.file.Paths.get(dir))
    val amortized = SemanticIndex
      .dedup(sf, emb, threshold = 0.35, targetCellSize = 50, maxCellSize = 100)
    assert(keptSet(amortized) === keptSet(fresh))
    val marker = new java.io.File(s"$dir/_SUCCESS")
    assert(marker.exists(), s"dedup published no asset at $dir")
    // the second call must reuse the published asset, not rebuild it —
    // the steady-state read path
    val t0 = marker.lastModified()
    assert(keptSet(SemanticIndex.dedup(sf, emb, 0.35, 50, 100)) === keptSet(fresh))
    assert(marker.lastModified() === t0, "a second dedup must not rebuild the asset")
  }

  test("fingerprint is stale-proof: an in-place corpus edit maps to a new asset") {
    val emb = Tables.embeddings(spark, sf)
    val edited = emb.withColumn(
      "embedding",
      when(col("vec_id") === 0, reverse(col("embedding"))).otherwise(col("embedding"))
    )
    assert(
      SemanticIndex.ensure(sf, emb, 50, 100) !== SemanticIndex.ensure(sf, edited, 50, 100),
      "same ids + changed payload must not reuse the old index"
    )
  }

  test("streaming ingest face: deterministic flags, replay-idempotent batches") {
    import graft.util.Cols.md5Long
    val emb = Tables.embeddings(spark, sf)
    val bkt = pmod(md5Long(concat(col("vec_id").cast("string"), lit("#delta"))), lit(100))
    val withB = emb.withColumn("bkt", bkt)
    val delta = withB.filter(col("bkt") < 10).drop("bkt")
    val corpus = withB.filter(col("bkt") >= 10).drop("bkt")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(
        col("vec_id").cast("long"),
        col("cell").cast("long"),
        col("n_dups").cast("long"),
        col("best_match").cast("long"),
        col("is_unique")
      ).as[(Long, Long, Long, Option[Long], Boolean)].collect().toSeq.sortBy(_._1)
    def flags() = rows(SemanticIndex.deltaDups(sf, delta, corpus, 0.30, 50, 100))

    // the registered ingest operator (over the persisted index) agrees
    // row-for-row with the fresh derivation, one row per delta vector
    val expect = rows(Similarity
      .semanticDeltaDupsScaled(delta, corpus, 0.30, targetCellSize = 50, maxCellSize = 100))
    val first = flags()
    assert(first === expect)
    assert(first.size.toLong === delta.count())
    assert(first.forall(r => r._5 === r._4.isEmpty), "unique iff no best match")

    // REPLAY: the same batch against the published asset flags the same
    // rows bit for bit
    assert(flags() === first)
  }

  private def cellRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("vec_id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)]
      .collect()
      .toSet

  test("asset fold: frozen-cell delta assignment, then compaction bit-equals a wholesale build") {
    val emb = Tables.embeddings(spark, sf)
    val corpus0 = emb.filter(col("vec_id") % 7 =!= 3)
    val growth = emb.filter(col("vec_id") % 7 === 3)
    val baseDir = SemanticIndex.ensure(sf, corpus0, 50, 100)
    val dir = scratchDir("sem_fold") + "/idx"
    graft.operators.Indexes.copyDir(baseDir, dir)
    val baseCells = cellRows(spark.read.parquet(DeltaFold.gen(dir)("celled")))

    // PRE-compaction: delta lands under frozen seeds, base untouched,
    // live view = base ∪ frozen-assigned growth
    SemanticIndex.upsertBatch(growth, dir, batchId = 0L, 50, 100, compactAt = 0.0)
    val live = cellRows(SemanticIndex.readCellsLive(spark, DeltaFold.gen(dir)))
    val celled = spark.read.parquet(DeltaFold.gen(dir)("celled"))
    assert(cellRows(celled) === baseCells, "base frozen during ingest")
    assert(live.map(_._1) === cellRows(celled).map(_._1) ++
      growth.select(col("vec_id")).as[Long].collect().toSet)
    // REPLAY exactly-once: same batch id re-landed changes nothing
    SemanticIndex.upsertBatch(growth, dir, batchId = 0L, 50, 100, compactAt = 0.0)
    assert(cellRows(SemanticIndex.readCellsLive(spark, DeltaFold.gen(dir))) === live)

    // COMPACTION: rebuild-from-union must be BIT-EQUAL to the wholesale
    // build on the grown corpus (celled + seeds + counts)
    SemanticIndex.compactDeltas(spark, DeltaFold.gen(dir), 50, 100)
    assert(!DeltaFold.gen(dir).hasDelta(), "folded delta retired")
    val wholeDir = SemanticIndex.ensure(sf, emb, 50, 100)
    assert(
      cellRows(spark.read.parquet(DeltaFold.gen(dir)("celled"))) ===
        cellRows(spark.read.parquet(s"$wholeDir/celled")),
      "folded celled table == wholesale build"
    )
    def seedRows(d: String) = spark.read
      .parquet(DeltaFold.gen(d)("seeds"))
      .select(col("cell"), col("centroid"))
      .as[(Long, Seq[Double])]
      .collect()
      .toSet
    assert(seedRows(dir) === seedRows(wholeDir), "re-derived seeds == wholesale seeds")
    def countRows(d: String) = spark.read
      .parquet(DeltaFold.gen(d)("counts"))
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(countRows(dir) === countRows(wholeDir), "re-derived counts == wholesale counts")
    // and a replay AFTER compaction re-lands in delta/, then the next
    // fold's dedup restores exactly-once
    SemanticIndex.upsertBatch(growth, dir, batchId = 0L, 50, 100, compactAt = 0.0)
    SemanticIndex.compactDeltas(spark, DeltaFold.gen(dir), 50, 100)
    assert(
      cellRows(spark.read.parquet(DeltaFold.gen(dir)("celled"))) ===
        cellRows(spark.read.parquet(s"$wholeDir/celled")),
      "post-compaction replay folds away"
    )
  }
}
