package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Cols._

/** Product quantization (PQ) — the memory side of the large-scale vector
  * index family (IVF narrows WHERE to look, PQ shrinks WHAT is stored):
  * each embedding is split into `m` sub-vectors; every sub-vector is
  * replaced by the id of its nearest block codebook centroid, so a
  * D-float vector compresses to m small codes (here 8 codes for 64
  * floats). Search runs over the codes via asymmetric distance
  * computation (ADC): the query precomputes, per block, its L2 distance
  * to each centroid; a candidate's approximate distance is then m array
  * lookups and a sum — no float vector is ever read at query time.
  *
  * Everything is deterministic (md5-ordered seeds, exact-decimal means,
  * ties to the lower code), so codes, reconstruction errors, and recall
  * are stable, checkable quantities across engines and cluster layouts.
  *
  * Scale shape: codebooks are O(m·ksub·dsub) driver state (1 KB here,
  * never corpus-sized); training is per-iteration corpus scans with
  * partial-aggregable decimal means; encode is a map-only argmin against
  * literal centroids; ADC search broadcasts the (tiny) query tables and
  * reduces candidates with the bounded top-k aggregate.
  */
object Pq {

  /** block codebooks: codebooks(b)(j) = centroid j of block b. */
  type Codebooks = Array[Array[Array[Double]]]

  /** Squared L2 between an array slice and a literal centroid, written as
    * `(x·x - 2·x·c) + c·c` with left-to-right dots (VecDot mirrors DuckDB
    * `list_dot_product`), so both engines compute the identical double.
    */
  private def d2(xs: Column, c: Array[Double]): Column = {
    val cs = typedLit(c.toSeq)
    (dot(xs, xs) - lit(2.0) * dot(xs, cs)) + lit(c.map(v => v * v).sum)
  }

  private def blockSlice(emb: Column, b: Int, dsub: Int): Column =
    slice(emb, b * dsub + 1, dsub)

  /** argmin centroid id for one block — ties take the lower code on both
    * engines. Native loop kernel ([[graft.functions.PqArgminCode]], the
    * codebook a codegen reference object): the unrolled
    * `array_min(array(struct(d2, code), ...))` literal tree this replaces
    * blew janino's 64 KB method limit when fused under the training
    * explode and silently fell back to interpreted.
    */
  private def codeOf(emb: Column, cb: Array[Array[Double]], b: Int, dsub: Int): Column =
    nativeCol(graft.functions.PqArgminCode(nativeExpr(emb), cb, b * dsub, dsub))

  /** Deterministic seed codebooks: the `ksub` corpus vectors in salted-md5
    * order of vec_id, sliced per block — reproducible in SQL, no RNG.
    */
  def seedCodebooks(corpus: DataFrame, m: Int, ksub: Int, dim: Int): Codebooks = {
    val dsub = dim / m
    val seeds = corpus
      .orderBy(md5Long(concat(col("vec_id").cast("string"), lit("#pq"))), col("vec_id"))
      .limit(ksub)
      .select(col("embedding"))
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(
      seeds.length >= ksub,
      s"PQ needs >= ksub=$ksub training vectors to seed codebooks, " +
        s"got ${seeds.length} — shrink ksub or supply more data"
    )
    Array.tabulate(m)(b => seeds.map(v => v.slice(b * dsub, b * dsub + dsub)))
  }

  /** Lloyd's per-block k-means refinement of [[seedCodebooks]]: every
    * iteration is ONE corpus scan that explodes each vector into its m
    * (block, code, sub-vector) assignments and recomputes all m codebooks
    * with order-insensitive exact-decimal means. Empty clusters keep their
    * previous centroid. Driver state stays O(m·ksub·dsub).
    */
  def trainCodebooks(
      corpus: DataFrame,
      m: Int,
      ksub: Int,
      dim: Int,
      iters: Int
  ): Codebooks = {
    val dsub = dim / m
    val emb = corpus.select(col("embedding")).cache()
    var cb = seedCodebooks(corpus, m, ksub, dim)
    var it = 0
    while (it < iters) {
      val assigned = emb
        .select(
          explode(
            array((0 until m).map { b =>
              struct(
                lit(b).as("blk"),
                codeOf(col("embedding"), cb(b), b, dsub).as("code"),
                blockSlice(col("embedding"), b, dsub).as("xs")
              )
            }: _*)
          ).as("e")
        )
        .select(col("e.blk"), col("e.code"), posexplode(col("e.xs")).as(Seq("pos", "x")))
        .groupBy(col("blk"), col("code"), col("pos"))
        .agg(
          (sum(col("x").cast(DecimalType(38, 9))).cast(DoubleType) / count(lit(1))).as("mv")
        )
        .groupBy(col("blk"), col("code"))
        .agg(
          transform(
            array_sort(collect_list(struct(col("pos"), col("mv")))),
            s => s.getField("mv")
          ).as("centroid")
        )
        .collect()
      val next = cb.map(_.map(identity)) // start from previous (empty-cluster keep)
      assigned.foreach { r =>
        next(r.getInt(0))(r.getLong(1).toInt) = r.getSeq[Double](2).toArray
      }
      cb = next
      it += 1
    }
    emb.unpersist()
    cb
  }

  /** Map-only encode: `keep` passthrough columns + codes array<long> of
    * length m (the extra columns let [[IvfPq]] carry the cell id through
    * to a partitioned write without a re-join).
    */
  def encode(
      corpus: DataFrame,
      cb: Codebooks,
      dim: Int,
      keep: Seq[String] = Seq("vec_id")
  ): DataFrame = {
    val m = cb.length
    val dsub = dim / m
    corpus.select(
      keep.map(col) :+
        array((0 until m).map(b => codeOf(col("embedding"), cb(b), b, dsub)): _*).as("codes"): _*
    )
  }

  /** Exact L2 top-k — the ground truth ADC approximates (PQ quantizes
    * EUCLIDEAN cells; cosine order differs unless vectors are normalized,
    * so the recall contract must compare like with like).
    */
  def bruteTopKL2(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    val d2full =
      (dot(col("q_emb"), col("q_emb")) - lit(2.0) * dot(col("q_emb"), col("c_emb"))) +
        dot(col("c_emb"), col("c_emb"))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), (-d2full).as("cos"))
    Similarity
      .topKExplode(scored, k)
      .select(col("query_id"), col("neighbor_id"), (-col("cos")).as("d2"), col("rank"))
  }

  /** Per-query ADC distance tables: one array column per block holding the
    * query's d2 to every centroid of that block — the driver-small frame
    * every ADC search broadcasts.
    */
  private[operators] def queryTables(queries: DataFrame, cb: Codebooks, dim: Int): DataFrame = {
    val m = cb.length
    val dsub = dim / m
    queries.select(
      (col("vec_id").as("query_id") +:
        (0 until m).map { b =>
          array(cb(b).map(c => d2(blockSlice(col("embedding"), b, dsub), c)).toIndexedSeq: _*)
            .as(s"qt_$b")
        }): _*
    )
  }

  /** Sum of per-block table lookups for a `codes` array column. */
  private[operators] def adcDist(m: Int): Column =
    (0 until m)
      .map(b => element_at(col(s"qt_$b"), (col("codes").getItem(b) + 1L).cast("int")))
      .reduce[Column](_ + _)

  /** ADC top-k over a pre-encoded `(neighbor_id, codes)` table (the
    * persisted-index path — no encode pass at query time): per query, per
    * block, the distance table to every centroid is a literal-codebook
    * expression over the query vector (map-only on the tiny query side,
    * then broadcast); a candidate's approximate distance is m `element_at`
    * lookups + a left-to-right sum. Candidates reduce via the bounded top-k
    * aggregate — the exchange carries O(partitions × |Q| × k) rows, never
    * the corpus.
    */
  def adcTopK(
      queries: DataFrame,
      codes: DataFrame,
      cb: Codebooks,
      dim: Int,
      k: Int
  ): DataFrame = {
    val scored = codes
      .join(broadcast(queryTables(queries, cb, dim)), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), (-adcDist(cb.length)).as("cos"))
    // TopKByScore ranks descending, so negated distance = nearest-first;
    // flip the sign back to emit the true ADC distance.
    Similarity
      .topKExplode(scored, k)
      .select(
        col("query_id"),
        col("neighbor_id"),
        (-col("cos")).as("adc_d2"),
        col("rank")
      )
  }

  /** Exact L2 re-rank of a `(query_id, neighbor_id)` candidate list: float
    * vectors are read for |cands| rows only (equi-join), never a corpus
    * scan. Shared tail of every two-stage PQ search.
    */
  private[operators] def rerankExact(
      cands: DataFrame,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int
  ): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    val d2full =
      (dot(col("q_emb"), col("q_emb")) - lit(2.0) * dot(col("q_emb"), col("c_emb"))) +
        dot(col("c_emb"), col("c_emb"))
    val rescored = cands
      .join(c, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), (-d2full).as("cos"))
    Similarity
      .topKExplode(rescored, k)
      .select(col("query_id"), col("neighbor_id"), (-col("cos")).as("d2"), col("rank"))
  }

  /** Index location for a corpus — the stale-proof content-fingerprint
    * contract of [[Indexes.fingerprintDir]].
    */
  def defaultDir(
      sfDir: String,
      corpus: DataFrame,
      m: Int = 8,
      ksub: Int = 16,
      dim: Int = 64,
      iters: Int = 2,
      trainSample: Int = 256
  ): String =
    Indexes.fingerprintDir(
      "pq-index", sfDir, corpus, s"m=$m|ksub=$ksub|dim=$dim|it=$iters|ts=$trainSample")

  /** Build once, search many: train codebooks on a bounded md5-ordered
    * sample, persist them as rows plus the whole corpus's code table.
    * Deterministic training ⇒ a completed build is valid across processes.
    * Publication is atomic (temp dir + rename — [[Indexes.atomicBuild]]),
    * so concurrent builders can't interleave writes. The encode pass — the
    * only corpus-sized cost — is paid here exactly once per dataset; a
    * query that encodes inline pays it on every search.
    */
  def ensureBuilt(
      corpus: DataFrame,
      dir: String,
      m: Int = 8,
      ksub: Int = 16,
      dim: Int = 64,
      iters: Int = 2,
      trainSample: Int = 256
  ): Unit =
    Indexes.atomicBuild(dir, "codes/_SUCCESS") { tmp =>
      val spark = corpus.sparkSession
      val sample = corpus
        .orderBy(
          md5Long(concat(col("vec_id").cast("string"), lit("#pqtrain"))),
          col("vec_id")
        )
        .limit(trainSample)
      val cb = trainCodebooks(sample, m, ksub, dim, iters)
      writeCodebooks(spark, cb, s"$tmp/codebooks")
      encode(corpus, cb, dim).write.mode("overwrite").parquet(s"$tmp/codes")
    }

  /** Persist codebooks as (blk, code, centroid) rows. */
  private[operators] def writeCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      cb: Codebooks,
      path: String
  ): Unit = {
    import scala.jdk.CollectionConverters._
    val m = cb.length
    spark
      .createDataFrame(
        (for { b <- 0 until m; j <- cb(b).indices } yield org.apache.spark.sql.Row(
          b.toLong,
          j.toLong,
          cb(b)(j).toSeq
        )).asJava,
        StructType(
          Seq(
            StructField("blk", LongType, nullable = false),
            StructField("code", LongType, nullable = false),
            StructField("centroid", ArrayType(DoubleType, containsNull = false), nullable = false)
          )
        )
      )
      .write
      .mode("overwrite")
      .parquet(path)
  }

  /** The persisted codebooks back as driver state — O(m·ksub·dsub). */
  def loadCodebooks(spark: org.apache.spark.sql.SparkSession, dir: String): Codebooks = {
    val rows = spark.read.parquet(s"$dir/codebooks").collect()
    val m = rows.map(_.getLong(0)).max.toInt + 1
    val ksub = rows.map(_.getLong(1)).max.toInt + 1
    val cb: Codebooks = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach(r => cb(r.getLong(0).toInt)(r.getLong(1).toInt) = r.getSeq[Double](2).toArray)
    cb
  }

  /** Two-stage search against the persisted index: ADC shortlist over the
    * stored code table, exact L2 rerank reading corpus floats for
    * shortlist rows only.
    */
  def searchReranked(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      queries: DataFrame,
      corpus: DataFrame,
      dim: Int,
      k: Int,
      shortlist: Int
  ): DataFrame = {
    val cb = loadCodebooks(spark, dir)
    val codes = spark.read
      .parquet(s"$dir/codes")
      .withColumnRenamed("vec_id", "neighbor_id")
    val cands = adcTopK(queries, codes, cb, dim, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(cands, queries, corpus, k)
  }

}
