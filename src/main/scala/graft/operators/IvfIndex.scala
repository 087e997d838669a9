package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.util.Cols._

/** Persisted IVF index: the on-disk form of [[Similarity.ivfTopK]].
  *
  * At 100 TB an ANN index is not an in-memory structure — it IS the storage
  * layout. [[ensure]] assigns every corpus vector a trained k-means cell
  * and writes:
  *
  *   - `dir/corpus/cell=<id>/...` — the corpus parquet, partitioned by cell
  *     id, so one cell is one directory of files;
  *   - `dir/centroids` — the k cell centroids (k rows, O(k·dim) bytes).
  *
  * [[search]] then needs no training pass and no corpus scan: it reads the
  * k-row centroids table to the driver, ranks cells per query, and reads
  * ONLY the probed cells — the probe set becomes a LITERAL `cell IN (...)`
  * predicate, which Spark's parquet source turns into partition pruning
  * (`PartitionFilters` in the plan; directories outside the probe set are
  * never listed, let alone read). Exact cosine re-scoring then runs on the
  * pruned read, reduced by the bounded top-k aggregate.
  *
  * The query batch is assumed driver-small (the same contract as
  * [[Similarity.bruteTopK]]'s broadcast): |Q|·nProbe probe pairs are
  * collected to build the pruning literal.
  */
object IvfIndex {

  /** Coarse-quantizer cells and k-means rounds of every built index (and
    * of [[IvfPq]]'s coarse quantizer).
    */
  private[operators] val KCells = 10
  private[operators] val Iters = 4

  /** The persisted index for `corpus`, built once (see [[Indexes.ensure]]):
    * training is deterministic (md5 seeding + decimal means — see
    * [[Similarity.kmeansCells]]), so same data ⇒ same index. This is the
    * 100 TB amortization contract: an ANN index is BUILT once and
    * SEARCHED many times; a query that retrains per execution pays the
    * training corpus scans on every search.
    *
    * `metaCols` are stored IN the index rows so [[searchFiltered]] can
    * push metadata predicates into the pruned parquet read; an index that
    * stores them is a separate family (`ivf-meta-index`) with the columns
    * in its params, so changing the stored metadata contract forces a
    * rebuild instead of adopting a stale index missing the new columns.
    */
  def ensure(sfDir: String, corpus: DataFrame, metaCols: Seq[String] = Nil): String = {
    val (family, meta) =
      if (metaCols.isEmpty) ("ivf-index", "")
      else ("ivf-meta-index", s"|meta=${metaCols.mkString(",")}")
    Indexes.ensure(family, sfDir, corpus, "vec_id", "embedding", s"k=$KCells|it=$Iters$meta") {
      dir => build(corpus, dir, metaCols = metaCols)
    }
  }

  /** Write the index layout of `corpus` under `dir`, with trained cells
    * or, given `cellCol`, that column's values as the cell ids (specs use
    * a label column, which keeps the cell prune observable on vectors
    * whose trained cells collapse).
    */
  private[graft] def build(
      corpus: DataFrame,
      dir: String,
      cellCol: Option[String] = None,
      metaCols: Seq[String] = Nil
  ): Unit = {
    val celled = cellCol match {
      case Some(c) => corpus.withColumn("cell", col(c).cast(LongType))
      case None    => corpus.join(Similarity.kmeansCells(corpus, KCells, Iters), Seq("vec_id"))
    }
    celled
      .select((Seq("vec_id", "embedding") ++ metaCols :+ "cell").map(col): _*)
      .write
      .mode("overwrite")
      .partitionBy("cell")
      .parquet(s"$dir/corpus")
    Similarity
      .centroids(celled, "cell")
      .write
      .mode("overwrite")
      .parquet(s"$dir/centroids")
  }

  /** Top-k search against a persisted index. Returns
    * (query_id, neighbor_id, cos, rank), ranks 1..k per query.
    */
  def search(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int
  ): DataFrame =
    searchCore(spark, dir, queries, k, nProbe, lit(true))

  private def searchCore(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      predicate: org.apache.spark.sql.Column
  ): DataFrame = {
    // k centroid rows to the driver — the only driver state, O(k·dim).
    val cents = loadCentroids(spark, dir)
    val probe = probeFrame(queries, cents, nProbe)

    // The union of probed cells as a LITERAL filter: this is what turns
    // the probe into partition pruning on the corpus read. (A join-derived
    // probe — ivfTopK's shape — is data-dependent, which a static reader
    // cannot prune on.)
    val probedCells = probe.select(col("cell")).distinct().collect().map(_.getLong(0))

    val corpus = spark.read
      .parquet(s"$dir/corpus")
      .filter(col("cell").isin(probedCells.toIndexedSeq: _*))
      .filter(predicate)
      .select(
        col("vec_id").as("neighbor_id"),
        col("cell").cast(LongType).as("cell"),
        col("embedding").as("c_emb")
      )
    val scored = corpus
      .join(broadcast(probe), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosine(col("q_emb"), col("c_emb")).as("cos")
      )
    Similarity.topKExplode(scored, k)
  }

  /** FILTERED top-k search (the RAG / metadata-constrained shape: "top-k
    * among vectors WHERE <predicate>"). Post-filtering an unfiltered
    * top-k is wrong — a selective predicate can leave fewer than k
    * survivors — so the predicate is evaluated as a PRE-filter on the
    * candidate set: it lands on the pruned corpus read itself, where the
    * parquet source pushes it to the scan (`PushedFilters` beside the
    * probe's `PartitionFilters` — both plan-pinned in SimilaritySpec).
    * The index must have been built with the predicate's columns in
    * `metaCols`. Recall under filtering degrades with selectivity (the
    * survivors of a probed cell thin out), so callers raise `nProbe`
    * relative to the unfiltered search — the standard filtered-ANN
    * tradeoff.
    */
  def searchFiltered(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      predicate: org.apache.spark.sql.Column
  ): DataFrame =
    searchCore(spark, dir, queries, k, nProbe, predicate)

  /** The persisted cell centroids as driver state — O(k·dim). */
  private[graft] def loadCentroids(
      spark: SparkSession,
      dir: String
  ): Array[(Long, Array[Double])] =
    spark.read
      .parquet(s"$dir/centroids")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** Map-only per-query cell ranking → exploded (query_id, q_emb, cell)
    * probe rows: one native top-nProbe selection loop over the centroid
    * table ([[graft.functions.TopCellsByCosine]], a codegen reference
    * object — compact generated code at any k), no join, no shuffle. Ties
    * take the higher cell id ((sim, cell) lexicographic order). Shared by
    * [[search]] and [[IvfPq.search]].
    */
  private[graft] def probeFrame(
      queries: DataFrame,
      cents: Array[(Long, Array[Double])],
      nProbe: Int
  ): DataFrame =
    queries
      .select(
        col("vec_id").as("query_id"),
        col("embedding").as("q_emb"),
        explode(
          nativeCol(graft.functions.TopCellsByCosine(nativeExpr(col("embedding")), cents, nProbe))
        ).as("cell")
      )
}
