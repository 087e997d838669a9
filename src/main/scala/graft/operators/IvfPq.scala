package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.util.Cols._

/** IVF-ADC: the composed persisted ANN index — IVF decides WHERE to look
  * ([[IvfIndex]]: coarse cells, literal-probe partition pruning), PQ
  * decides WHAT is stored ([[Pq]]: m byte-ish codes instead of D floats).
  * This is the standard 100 TB vector-index layout (FAISS `IVFx,PQy`): the
  * corpus is stored ONCE as a cell-partitioned code table; a search reads
  * only the probed cells' codes, scores them with ADC table lookups
  * (never touching a float vector), and exact-reranks the short list from
  * the raw corpus.
  *
  * On disk under `dir/`:
  *   - `centroids` — k cell centroids (k rows, O(k·dim) bytes);
  *   - `codebooks` — PQ block codebooks (m·ksub rows, O(m·ksub·dsub));
  *   - `codes/cell=<id>/...` — (vec_id, codes) partitioned by IVF cell.
  *
  * Search cost at scale: centroids+codebooks are driver-small reads; the
  * codes scan is pruned to nProbe cells (`PartitionFilters`, pinned in
  * SimilaritySpec); ADC scoring is m `element_at` lookups per candidate;
  * the shortlist reduces through the bounded top-k aggregate; the exact
  * rerank reads floats for |Q|·shortlist rows via equi-join — at no point
  * does a full-corpus float scan or corpus-sized shuffle occur.
  *
  * Everything is deterministic (md5-seeded k-means with exact decimal
  * means, md5-ordered PQ training sample), so the same data always builds
  * the same index and recall is a stable, checkable quantity.
  */
object IvfPq {

  /** Index location for a corpus — the stale-proof content-fingerprint
    * contract of [[Indexes.fingerprintDir]].
    */
  def defaultDir(
      sfDir: String,
      corpus: DataFrame,
      kCells: Int = 10,
      ivfIters: Int = 4,
      m: Int = 8,
      ksub: Int = 16,
      dim: Int = 64,
      pqIters: Int = 2,
      trainSample: Int = 256,
      metaCols: Seq[String] = Nil
  ): String =
    // metaCols participate in the fingerprint (the IvfIndex.defaultMetaDir
    // lesson): an index built WITHOUT the filter columns must never be
    // adopted by a filtered search — it would fail at read time at best,
    // silently post-filter at worst.
    Indexes.fingerprintDir(
      "ivfpq-index",
      sfDir,
      corpus,
      s"k=$kCells|ivfIt=$ivfIters|m=$m|ksub=$ksub|dim=$dim|pqIt=$pqIters|ts=$trainSample" +
        (if (metaCols.nonEmpty) s"|meta=${metaCols.mkString(",")}" else "")
    )

  /** Build once, search many — atomic publication, see
    * [[Indexes.atomicBuild]].
    */
  def ensureBuilt(
      corpus: DataFrame,
      dir: String,
      cellCol: Option[String] = None,
      kCells: Int = 10,
      ivfIters: Int = 4,
      m: Int = 8,
      ksub: Int = 16,
      dim: Int = 64,
      pqIters: Int = 2,
      trainSample: Int = 256,
      metaCols: Seq[String] = Nil
  ): Unit =
    Indexes.atomicBuild(dir, "codes/_SUCCESS") { tmp =>
      build(corpus, tmp, cellCol, kCells, ivfIters, m, ksub, dim, pqIters, trainSample, metaCols)
    }

  /** Train (or adopt `cellCol`) and write the composed index under `dir`:
    * cell centroids + PQ codebooks + the cell-partitioned code table. The
    * single corpus-sized cost (the encode pass) happens here, once.
    */
  def build(
      corpus: DataFrame,
      dir: String,
      cellCol: Option[String] = None,
      kCells: Int = 10,
      ivfIters: Int = 4,
      m: Int = 8,
      ksub: Int = 16,
      dim: Int = 64,
      pqIters: Int = 2,
      trainSample: Int = 256,
      metaCols: Seq[String] = Nil
  ): Unit = {
    val spark = corpus.sparkSession
    val celled = cellCol match {
      case Some(c) => corpus.withColumn("cell", col(c).cast(LongType))
      case None    => corpus.join(Similarity.kmeansCells(corpus, kCells, ivfIters), Seq("vec_id"))
    }
    Similarity
      .centroids(celled, "cell")
      .write
      .mode("overwrite")
      .parquet(s"$dir/centroids")
    val sample = corpus
      .orderBy(md5Long(concat(col("vec_id").cast("string"), lit("#pqtrain"))), col("vec_id"))
      .limit(trainSample)
    val cb = Pq.trainCodebooks(sample, m, ksub, dim, pqIters)
    Pq.writeCodebooks(spark, cb, s"$dir/codebooks")
    // metaCols ride IN the code rows so a filtered search can push its
    // predicate into the pruned codes read (PushedFilters beside the
    // probe's PartitionFilters) — a handful of scalar columns next to the
    // m-byte codes, not the D-float vectors.
    Pq.encode(celled, cb, dim, keep = Seq("vec_id", "cell") ++ metaCols)
      .write
      .mode("overwrite")
      .partitionBy("cell")
      .parquet(s"$dir/codes")
  }

  /** Two-stage search against the persisted index: rank cells per query
    * (literal centroids, map-only), prune the code read to the probed
    * cells, ADC-score those codes within each query's own probed cells,
    * bounded-top-k shortlist, exact rerank from the raw corpus.
    *
    * `metric` picks the FINAL ranking: "cos" (default — coherent with the
    * spherical coarse quantizer, which ranks cells by cosine; emits
    * (query_id, neighbor_id, cos, rank)) or "l2" (emits d2). The ADC
    * shortlist stage is L2 over codes either way — within a probed cell
    * it is a dense-candidate pre-filter, and the exact rerank decides the
    * final ranks.
    */
  def search(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      corpus: DataFrame,
      dim: Int,
      k: Int,
      nProbe: Int,
      shortlist: Int,
      metric: String = "cos"
  ): DataFrame =
    searchCore(spark, dir, queries, corpus, dim, k, nProbe, shortlist, metric, lit(true))

  /** FILTERED IVF-ADC search (the RAG shape at 100 TB-of-vectors scale:
    * "top-k WHERE <metadata predicate>" against the composed code-table
    * index). Post-filtering an unfiltered top-k is wrong under selective
    * predicates, so the predicate PRE-filters the candidate codes: it
    * lands directly on the partition-pruned codes read, where parquet
    * pushes it to the scan (`PushedFilters` beside the probe's
    * `PartitionFilters` — plan-pinned in SimilaritySpec). The index must
    * have been built with the predicate's columns in `metaCols`
    * ([[build]]); the exact rerank then only ever sees surviving
    * candidates. As with [[IvfIndex.searchFiltered]], recall under
    * filtering thins with selectivity — raise `nProbe`/`shortlist`
    * relative to the unfiltered search.
    */
  def searchFiltered(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      corpus: DataFrame,
      dim: Int,
      k: Int,
      nProbe: Int,
      shortlist: Int,
      predicate: org.apache.spark.sql.Column,
      metric: String = "cos"
  ): DataFrame =
    searchCore(spark, dir, queries, corpus, dim, k, nProbe, shortlist, metric, predicate)

  private def searchCore(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      corpus: DataFrame,
      dim: Int,
      k: Int,
      nProbe: Int,
      shortlist: Int,
      metric: String,
      predicate: org.apache.spark.sql.Column
  ): DataFrame = {
    val cents = IvfIndex.loadCentroids(spark, dir) // O(k·dim) driver state
    val cb = Pq.loadCodebooks(spark, dir) // O(m·ksub·dsub) driver state
    val probe = IvfIndex
      .probeFrame(queries, cents, nProbe)
      .select(col("query_id"), col("cell"))

    // literal probe union -> partition pruning on the codes read (the
    // IvfIndex.search contract; directories outside the probe set are
    // never listed, let alone read). The metadata predicate (lit(true)
    // when unfiltered) filters the same read — column pruning still
    // drops unreferenced meta columns from ReadSchema.
    val probedCells = probe.select(col("cell")).distinct().collect().map(_.getLong(0))
    val codes = spark.read
      .parquet(s"$dir/codes")
      .filter(col("cell").isin(probedCells.toIndexedSeq: _*))
      .filter(predicate)
      .select(
        col("vec_id").as("neighbor_id"),
        col("cell").cast(LongType).as("cell"),
        col("codes")
      )

    // per-query ADC distance tables joined to that query's probed cells:
    // candidates are (code row, query) pairs sharing a cell — each query
    // scores only its own probed cells, exactly like IvfIndex.search
    val qt = Pq
      .queryTables(queries, cb, dim)
      .join(probe, Seq("query_id"))
    val scored = codes
      .join(broadcast(qt), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), (-Pq.adcDist(cb.length)).as("cos"))
    val cands = Similarity
      .topKExplode(scored, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    metric match {
      case "l2" => Pq.rerankExact(cands, queries, corpus, k)
      case "cos" =>
        val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
        val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
        val rescored = cands
          .join(c, Seq("neighbor_id"))
          .join(broadcast(q), Seq("query_id"))
          .select(col("query_id"), col("neighbor_id"), cosine(col("q_emb"), col("c_emb")).as("cos"))
        Similarity.topKExplode(rescored, k)
      case other => throw new IllegalArgumentException(s"metric must be cos|l2, got $other")
    }
  }
}
