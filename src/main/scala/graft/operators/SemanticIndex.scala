package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.DeltaFold

/** Persisted data-scaled quantizer state: the build-once/dedup-many form of
  * [[Similarity.semanticDedupScaled]] / [[Similarity.semanticDeltaDupsScaled]]
  * (and the two-level [[Similarity.hierCells]] variant).
  *
  * At 100 TB the quantizer is an ASSET, not a query step: seeds, coarse
  * counts and the celled corpus are derived once per corpus version, then
  * every dedup sweep and every day's ingest delta reads them. A query that
  * re-derives them pays three full corpus scans (count + seed sort +
  * assignment) per execution — the round-8 `d_semantic` regression was
  * exactly that cost. Same contract as [[IvfIndex]]/[[Pq]]:
  *
  *   - stale-proof location ([[Indexes.ensure]] — a corpus edited in
  *     place maps to a new directory, never a stale index);
  *   - atomic publication (the same call — concurrent builders race to
  *     one complete rename; training is deterministic so the loser's copy
  *     is identical and discarded).
  *
  * Layout under `dir`:
  *   - `celled/` — (vec_id, embedding, cell): the corpus with its FINAL
  *     (post-re-split) cell ids — the input [[Similarity.semanticDedupCore]]
  *     consumes directly;
  *   - `seeds/` — (cell, centroid): the k seed centroids (k = ceil(N/50)
  *     rows, the only driver-collected state at read time, O(k·dim));
  *   - `counts/` — (cell, cnt): COARSE cell counts, from which the delta
  *     path re-derives the salted split table (k rows, broadcastable).
  *
  * The build is the exact closed-form md5 construction the DuckDB oracle
  * replays, so reading the index yields bit-identical results to a fresh
  * derivation — the amortization is invisible to the correctness gate.
  */
object SemanticIndex {

  private def params(targetCellSize: Int, maxCellSize: Int, litK: Int) =
    s"t=$targetCellSize|m=$maxCellSize|k=$litK"

  /** The FLAT data-scaled quantizer state for `corpus`
    * ([[Similarity.scaledCells]]' construction, with the intermediate
    * seeds/counts also published for the delta path), built once.
    * Quantizer params are part of the fingerprint: a changed target/max
    * cell size or literal-k is a different index layout, never a silent
    * reuse of the old one.
    */
  def ensure(
      sfDir: String,
      corpus: DataFrame,
      targetCellSize: Int,
      maxCellSize: Int,
      litK: Int = 256
  ): String =
    Indexes.ensure(
      "sem-cells", sfDir, corpus, "vec_id", "embedding",
      params(targetCellSize, maxCellSize, litK)) { dir =>
      val spark = corpus.sparkSession
      import spark.implicits._
      val emb = corpus.select(col("vec_id"), col("embedding")).cache()
      val k = Similarity.scaledK(emb.count(), targetCellSize)
      val cents = Similarity.seedCentroids(emb, k)
      val coarse = Similarity.assignCells(emb, cents, litK).localCheckpoint()
      emb.unpersist()
      val counts = Similarity.cellCounts(coarse)
      cents.toSeq
        .map { case (c, v) => (c, v.toSeq) }
        .toDF("cell", "centroid")
        .write
        .mode("overwrite")
        .parquet(s"$dir/seeds")
      counts.write.mode("overwrite").parquet(s"$dir/counts")
      Similarity
        .resplitCells(coarse, counts, k, maxCellSize)
        .write
        .mode("overwrite")
        .parquet(s"$dir/celled")
    }

  /** The TWO-LEVEL quantizer state ([[Similarity.hierCells]]), built once.
    * Only `celled/` is published: the hierarchical seeds are distributed
    * state, and the delta path rides the flat index.
    */
  private def ensure2l(
      sfDir: String,
      corpus: DataFrame,
      targetCellSize: Int,
      maxCellSize: Int,
      litK: Int
  ): String =
    Indexes.ensure(
      "sem-cells-2l", sfDir, corpus, "vec_id", "embedding",
      params(targetCellSize, maxCellSize, litK)) { dir =>
      Similarity
        .hierCells(corpus, targetCellSize, maxCellSize, litK)
        .write
        .mode("overwrite")
        .parquet(s"$dir/celled")
    }

  /** Steady-state [[Similarity.semanticDedupScaled]]: ensure the index,
    * then run the dedup core over the persisted celled corpus — the
    * quantizer derivation is amortized across executions.
    */
  def dedup(
      sfDir: String,
      corpus: DataFrame,
      threshold: Double,
      targetCellSize: Int,
      maxCellSize: Int,
      litK: Int = 256,
      keep: Similarity.KeepPolicy = Similarity.KeepPolicy.Central
  ): DataFrame = {
    val dir = ensure(sfDir, corpus, targetCellSize, maxCellSize, litK)
    Similarity.semanticDedupCore(celled(corpus.sparkSession, DeltaFold.gen(dir)), threshold, keep)
  }

  /** Steady-state semantic dedup over the persisted two-level celled
    * corpus ([[Similarity.hierCells]]).
    */
  def dedup2l(
      sfDir: String,
      corpus: DataFrame,
      threshold: Double,
      targetCellSize: Int,
      maxCellSize: Int,
      litK: Int = 256,
      keep: Similarity.KeepPolicy = Similarity.KeepPolicy.Central
  ): DataFrame = {
    val dir = ensure2l(sfDir, corpus, targetCellSize, maxCellSize, litK)
    Similarity.semanticDedupCore(celled(corpus.sparkSession, DeltaFold.gen(dir)), threshold, keep)
  }

  /** Steady-state [[Similarity.semanticDeltaDupsScaled]]: the corpus side
    * (count, seed sort, assignment, split counts) comes entirely from the
    * persisted index — the delta pays only its own assignment against the
    * k-row seed table plus the within-cell candidate join. This is the
    * daily-ingest shape: zero corpus scans per delta.
    */
  def deltaDups(
      sfDir: String,
      delta: DataFrame,
      corpus: DataFrame,
      threshold: Double,
      targetCellSize: Int,
      maxCellSize: Int,
      litK: Int = 256
  ): DataFrame =
    deltaDupsAt(
      corpus.sparkSession,
      ensure(sfDir, corpus, targetCellSize, maxCellSize, litK),
      delta,
      threshold,
      maxCellSize,
      litK
    )

  /** Steady-state [[Similarity.contaminationAgainst]]: semantic eval-
    * decontamination of a TRAIN corpus against a TEST set, riding the
    * train corpus's persisted quantizer — the test set pays only its own
    * assignment plus the within-cell candidate join, exactly the
    * [[deltaDups]] cost shape.
    */
  def contamination(
      sfDir: String,
      test: DataFrame,
      corpus: DataFrame,
      threshold: Double,
      targetCellSize: Int,
      maxCellSize: Int,
      litK: Int = 256
  ): DataFrame = {
    val spark = corpus.sparkSession
    val g = DeltaFold.gen(ensure(sfDir, corpus, targetCellSize, maxCellSize, litK))
    Similarity.contaminationAgainst(
      test,
      loadSeeds(spark, g),
      spark.read.parquet(g("counts")),
      maxCellSize,
      celled(spark, g),
      threshold,
      litK
    )
  }

  /** The persisted celled corpus itself — for consumers of the quantizer
    * BLOCKING beyond dedup (e.g. [[Similarity.hardNegatives]] mining):
    * build-once like every other reader here, then a plain parquet read.
    */
  def cells(
      sfDir: String,
      corpus: DataFrame,
      targetCellSize: Int,
      maxCellSize: Int,
      litK: Int = 256
  ): DataFrame = {
    val dir = ensure(sfDir, corpus, targetCellSize, maxCellSize, litK)
    celled(corpus.sparkSession, DeltaFold.gen(dir))
  }

  private def celled(spark: SparkSession, g: DeltaFold.Gen): DataFrame =
    spark.read
      .parquet(g("celled"))
      .select(col("cell"), col("vec_id"), col("embedding"))

  // ---- streaming maintenance (the DeltaFold discipline) -------------------

  /** LIVE celled view: base ∪ outstanding stream deltas, exactly-once via
    * the delta-probe union (the [[graft.streaming.SubstrIndexStream]]
    * recipe: a replayed batch's rows are bit-identical and can only live
    * in the debt-bounded delta, so set-exactness needs the corpus-sized
    * base only as a JOIN PROBE — never re-shuffled into an aggregate).
    */
  def readCellsLive(spark: SparkSession, g: DeltaFold.Gen): DataFrame = {
    val base = celled(spark, g)
    if (!g.hasDelta()) base
    else {
      val delta = spark.read
        .parquet(g.delta())
        .select(col("cell"), col("vec_id"), col("embedding"))
        .dropDuplicates("vec_id")
      val dupes = base.join(delta.select(col("vec_id")), Seq("vec_id"), "left_semi")
      val novel = delta.join(dupes, Seq("vec_id"), "left_anti")
      base.unionByName(novel)
    }
  }

  /** One micro-batch of NEW (vec_id, embedding) rows appended into the
    * persisted quantizer asset under the live delta's `batch_id=<id>`: each
    * vector is assigned its argmax-cosine cell against the FROZEN seeds
    * and sub-salted by the FROZEN corpus split table — batch-sized work
    * against O(k·dim) driver state, zero corpus scans, idempotent per
    * batch (a replay overwrites its own directory with bit-identical
    * rows; assignment is deterministic closed-form). Cell GEOMETRY only
    * moves at compaction: [[compactDeltas]] REBUILDS the quantizer from
    * the union corpus (re-derived k, seeds, counts, re-split) — FAISS's
    * `add` vs `train` split (frozen quantizers on add), with "train" here
    * being the deterministic seeded derivation, so the folded asset is
    * BIT-EQUAL to a wholesale [[ensure]] on the grown corpus
    * (`d_semantic_fold`'s gate).
    */
  def upsertBatch(
      batch: DataFrame,
      dir: String,
      batchId: Long,
      targetCellSize: Int,
      maxCellSize: Int,
      litK: Int = 256,
      compactAt: Double = 0.2
  ): Unit = {
    val spark = batch.sparkSession
    val g = DeltaFold.gen(dir)
    DeltaFold.upsert(g, batchId) { (_, path) =>
      val cents = loadSeeds(spark, g)
      val counts = spark.read.parquet(g("counts"))
      val coarse = Similarity.assignCells(
        batch.select(col("vec_id"), col("embedding")),
        cents,
        litK
      )
      Similarity
        .resplitCells(coarse, counts, cents.length.toLong, maxCellSize)
        .write
        .mode("overwrite")
        .parquet(path)
    }
    if (compactAt > 0.0)
      DeltaFold.settle(spark, g, "celled", compactAt) {
        compactDeltas(spark, g, targetCellSize, maxCellSize, litK)
      }
  }

  /** Rebuild the quantizer from the UNION corpus (base celled rows ∪
    * delta rows — both carry the embedding, so the corpus is recoverable
    * from the asset itself) and commit seeds/counts/celled as one
    * generation behind the [[DeltaFold]] pointer. This is the "train" half of the
    * add-vs-train split: k, seeds and the split table are re-derived at
    * the grown N with the exact [[ensure]] closed form, so the
    * post-fold asset is bit-equal to a wholesale build — and the oracle
    * can replay a stream-grown index as if it were built fresh.
    * Quantizer params are passed by the maintenance owner (they are part
    * of the dir fingerprint, not readable from the asset).
    */
  def compactDeltas(
      spark: SparkSession,
      g: DeltaFold.Gen,
      targetCellSize: Int,
      maxCellSize: Int,
      litK: Int = 256
  ): Unit = {
    import spark.implicits._
    DeltaFold.compact(g, Seq("celled", "seeds", "counts")) { out =>
      val union = spark.read
        .parquet(g("celled"))
        .select(col("vec_id"), col("embedding"))
        .unionByName(
          spark.read.parquet(g.delta()).select(col("vec_id"), col("embedding"))
        )
        .dropDuplicates("vec_id") // replayed batches are bit-identical
        .localCheckpoint()
      val k = Similarity.scaledK(union.count(), targetCellSize)
      val cents = Similarity.seedCentroids(union, k)
      val coarse = Similarity.assignCells(union, cents, litK).localCheckpoint()
      val counts = Similarity.cellCounts(coarse)
      // three generation-dir writes off the coarse checkpoint (seeds is a
      // tiny driver-side frame), invisible until the pointer commit —
      // overlap them (guide §2.6); the pointer stays the single commit point
      Indexes.inParallel(
        () =>
          cents.toSeq
            .map { case (c, v) => (c, v.toSeq) }
            .toDF("cell", "centroid")
            .write
            .mode("overwrite")
            .parquet(out("seeds")),
        () => counts.write.mode("overwrite").parquet(out("counts")),
        () =>
          Similarity
            .resplitCells(coarse, counts, k, maxCellSize)
            .write
            .mode("overwrite")
            .parquet(out("celled"))
      )
    }
  }

  /** The ingest-verdict read against an EXPLICIT asset directory (the
    * stream-maintenance twin of [[deltaDups]], which addresses the
    * fingerprinted build): seeds/counts from the asset, candidates from
    * the LIVE celled view — streamed-but-uncompacted vectors participate.
    */
  def deltaDupsAt(
      spark: SparkSession,
      dir: String,
      delta: DataFrame,
      threshold: Double,
      maxCellSize: Int,
      litK: Int = 256
  ): DataFrame = {
    val g = DeltaFold.gen(dir)
    Similarity.deltaDupsAgainst(
      delta,
      loadSeeds(spark, g),
      spark.read.parquet(g("counts")),
      maxCellSize,
      readCellsLive(spark, g),
      threshold,
      litK
    )
  }

  private def loadSeeds(spark: SparkSession, g: DeltaFold.Gen): Array[(Long, Array[Double])] =
    spark.read
      .parquet(g("seeds"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
}
