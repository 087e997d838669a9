package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted positional inverted index: the on-disk, term-partitioned form
  * of [[TextAnalysis.invertedIndex]] — the layout that turns phrase /
  * proximity search from a corpus scan into an INDEX SEEK.
  *
  * Layout under `dir` (the [[Indexes]] fingerprint + atomic-publication
  * contract, like [[IvfIndex]]/[[Pq]]/[[SemanticIndex]]):
  *
  *   - `postings/tb=<bucket>/...` — the (term, doc_id, tf, positions)
  *     postings, directory-partitioned by a TERM HASH BUCKET
  *     (`pmod(xxhash64(term), nBuckets)`) and sorted by (term, doc_id)
  *     within each bucket. Hash buckets, not raw terms: a 100 TB corpus
  *     has a multi-million-term vocabulary (directory-per-term would melt
  *     the file listing) and a df-skewed one (bucketing spreads hot terms'
  *     neighbors; the hot term itself is bounded by its own postings, and
  *     `maxRecordsPerFile` splits it into parallel-scannable files).
  *     A query term's bucket is a LITERAL at plan time, so the read is
  *     partition-pruned (`PartitionFilters` — unprobed directories are
  *     never listed), and the within-bucket (term, doc_id) sort gives
  *     parquet row-group min/max skipping on the term equality.
  *   - `top_bigram/` — one row: the corpus's most frequent adjacent token
  *     pair (deterministic tie-break), derived once at build time from
  *     postings adjacency. Corpus statistics are index metadata: a search
  *     that re-derives them pays a corpus scan per query.
  *   - `stats/` — one row: the corpus document count, the N every
  *     idf-style ranking needs. Same metadata principle.
  *
  * Search-time driver state: the two query terms' bucket ids — O(1).
  */
object TextIndex {

  val DefaultBuckets = 16

  private[graft] def bucketOf(term: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(xxhash64(term), lit(nBuckets.toLong))

  /** The index for `docs`, built once per corpus version: postings
    * written term-bucket-partitioned/sorted, plus the top-bigram and
    * corpus-count statistics.
    *
    * Params v=2: postings rows carry the per-document length norm `dl`
    * (the Lucene-norms analogue, what BM25's length normalization needs
    * at SEEK time) and stats/ carries total_len beside n_docs — a layout
    * change, so the params bump forces a rebuild instead of silently
    * reading a v1 asset without the column.
    */
  def ensure(sfDir: String, docs: DataFrame): String =
    Indexes.ensure("text-index2", sfDir, docs, "doc_id", "text", s"nb=$DefaultBuckets,v=2") { tmp =>
      val spark = docs.sparkSession
      import spark.implicits._
      val index = TextAnalysis.invertedIndex(docs).localCheckpoint()
      // per-document length norm (token count = sum of tfs), denormalized
      // into every posting row so BM25 is answered seek-only — the
      // Lucene-norms trade: one long per posting buys zero extra reads
      // at query time
      val dl = index
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).cast("long").as("dl"))
      graft.sources.Layout.writePartitionedSorted(
        index.join(dl, Seq("doc_id")).withColumn("tb", bucketOf(col("term"), DefaultBuckets)),
        s"$tmp/postings",
        "tb",
        Seq("term", "doc_id")
      )
      // top adjacent pair from postings adjacency (one bounded aggregate
      // over the freshly built index — never a text re-scan), kept as
      // index metadata so a default phrase query is seek-only
      val toks = spark.read
        .parquet(s"$tmp/postings")
        .select(col("term"), col("doc_id"), explode(col("positions")).as("pos"))
      toks
        .as("a")
        .join(
          toks.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("b.pos") === col("a.pos") + 1
        )
        .groupBy(col("a.term").as("w1"), col("b.term").as("w2"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w1"), col("w2"))
        .limit(1)
        .write
        .mode("overwrite")
        .parquet(s"$tmp/top_bigram")
      val totalLen = index
        .agg(coalesce(sum(col("tf")), lit(0L)).cast("long"))
        .head()
        .getLong(0)
      Seq((docs.count(), totalLen))
        .toDF("n_docs", "total_len")
        .write
        .mode("overwrite")
        .parquet(s"$tmp/stats")
    }

  /** The postings rows for `terms`, read partition-pruned: the terms'
    * hash buckets become a literal `tb IN (...)` predicate (directories
    * outside it are never listed), then the term equality rides the
    * within-bucket sort's row-group statistics.
    */
  def postingsFor(
      spark: SparkSession,
      dir: String,
      terms: Seq[String],
      nBuckets: Int = DefaultBuckets
  ): DataFrame = {
    // bucket ids must match the build-side xxhash64 exactly — compute them
    // through the engine, one literal row per term (no corpus scan)
    import spark.implicits._
    val ids = terms.toDF("term").select(bucketOf(col("term"), nBuckets)).as[Long].collect().toSeq
    spark.read
      .parquet(s"$dir/postings")
      .filter(col("tb").isin(ids.distinct: _*) && col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("tf"), col("positions"), col("dl"))
  }

  /** The persisted top bigram — (w1, w2), one row of driver state. */
  def topBigram(spark: SparkSession, dir: String): (String, String) = {
    val r = spark.read.parquet(s"$dir/top_bigram").select(col("w1"), col("w2")).head()
    (r.getString(0), r.getString(1))
  }

  /** The corpus document count — one long of driver state. */
  def nDocs(spark: SparkSession, dir: String): Long =
    corpusTotals(spark, dir)._1

  /** The persisted (n_docs, total_len) statistics row — two longs of
    * driver state, the BM25 denominators.
    */
  def corpusTotals(spark: SparkSession, dir: String): (Long, Long) = {
    val r = spark.read
      .parquet(s"$dir/stats")
      .select(col("n_docs"), col("total_len"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** BM25 ranked retrieval (Robertson et al.; the Lucene-default scorer)
    * answered ENTIRELY from the index, at the standard operating point
    * k1 = 1.2, b = 0.75 — kept as the exact rationals 6/5 and 3/4 so the
    * length-normalized tf part is INTEGER arithmetic end to end:
    *
    *   tfpart = tf·(k1+1) / (tf + k1·(1 − b + b·dl·N/S))
    *          = 44·tf·S / (20·tf·S + 6·S + 18·dl·N)
    *
    * with N = corpus docs, S = total corpus tokens, dl = the document's
    * stored length norm (all index reads — zero corpus scans). The only
    * transcendental is the idf, quantized to integral MILLI units:
    * idf_milli = floor(1000·ln((2N+2)/(2df+1))) (the Lucene
    * ln(1 + (N−df+0.5)/(df+0.5)) form) — at milli granularity a 1-ulp
    * libm difference between engines cannot move the floor unless
    * 1000·ln(x) sits within ~1e-10 of an integer, which the spec checks
    * for the gate corpus's actual (N, df) values. Per-term scores are
    * floored to milli then summed, so the final score is a deterministic
    * BIGINT on any engine.
    *
    * Scale: one partition-pruned postings seek for all terms, a
    * |terms|-row broadcast df frame, one bounded top-k
    * (TakeOrderedAndProject) — O(Σ df) seek rows at any corpus size. The
    * score products run in DECIMAL(38,0) lanes: the widest term,
    * idf_milli(≈10^4) · 44 · tf · S, reaches ~10^20 already at a few TB
    * of text (S ≈ 5·10^11) — past int64 — and 38 decimal digits hold it
    * to S ≈ 10^29 corpus tokens, i.e. any physical corpus. The quotient
    * (bounded by idf_milli · 44/20) and the final sum stay honest longs.
    * [[graft.InvertedIndexSpec]] pins a stats row AT the old int64 cliff
    * and checks the decimal lanes against BigInt arithmetic.
    */
  def searchBm25(
      spark: SparkSession,
      dir: String,
      terms: Seq[String],
      k: Int,
      nBuckets: Int = DefaultBuckets
  ): DataFrame = {
    val (n, s) = corpusTotals(spark, dir)
    bm25Score(
      postingsFor(spark, dir, terms.distinct, nBuckets)
        .select(col("term"), col("doc_id"), col("tf"), col("dl")),
      n,
      s,
      k
    )
  }

  /** The BM25 scoring kernel over an already-seeked (term, doc_id, tf, dl)
    * frame — factored out so the overflow boundary is spec-testable with
    * synthetic near-cliff statistics without building an index.
    */
  private[graft] def bm25Score(p: DataFrame, n: Long, s: Long, k: Int): DataFrame = {
    val dfreq = p
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .withColumn(
        "idf_milli",
        floor(
          lit(1000.0) * log(lit(2.0 * n + 2.0) / (col("df").cast("double") * 2.0 + 1.0))
        ).cast("long")
      )
    p.join(broadcast(dfreq), Seq("term")) // |terms| rows — query-bounded, not corpus
      .withColumn(
        "w",
        // DECIMAL(38,0)-led products: each term's leftmost factor is
        // decimal so the whole chain promotes before any multiply can wrap
        // an int64; IntegralDivide over decimals returns the exact floored
        // quotient as a LONG (the quotient is idf-bounded, never wide)
        expr(
          s"(cast(idf_milli as decimal(38,0)) * 44 * tf * ${s}L) DIV " +
            s"(cast(20 as decimal(38,0)) * tf * ${s}L + cast(6 as decimal(38,0)) * ${s}L + " +
            s"cast(18 as decimal(38,0)) * dl * ${n}L)"
        )
      )
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_terms"),
        sum(col("w")).cast("long").as("score_milli")
      )
      .orderBy(col("score_milli").desc, col("doc_id"))
      .limit(k)
  }

  /** tf·idf ranked retrieval answered ENTIRELY from the index: the query
    * terms' postings (partition-pruned seek), df from those same rows,
    * N from the persisted stats — zero corpus scans. Integral scoring
    * (`score = Σ tf · ((1e6·N) div df)`, integer division) so ranks are
    * bit-stable on any engine. Top-k by (score desc, doc_id) is a
    * TakeOrdered over the seek's few rows, never a global sort.
    */
  def searchTopK(
      spark: SparkSession,
      dir: String,
      terms: Seq[String],
      k: Int,
      nBuckets: Int = DefaultBuckets
  ): DataFrame = {
    val n = nDocs(spark, dir)
    val p = postingsFor(spark, dir, terms.distinct, nBuckets)
    val dfreq = p.groupBy(col("term")).agg(count(lit(1)).as("df"))
    p.join(broadcast(dfreq), Seq("term"))
      .select(
        col("doc_id"),
        (col("tf") * call_function("div", lit(1000000L * n), col("df"))).as("w")
      )
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).cast("long").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Boolean retrieval answered ENTIRELY from the index: documents
    * containing ALL `must` terms and NONE of `mustNot`, with the summed
    * must-term frequency as a ranking signal. One partition-pruned seek
    * for all terms together (their buckets union into one literal
    * predicate), an AND via count-distinct-terms == |must| (no self-join
    * per term — the classic postings-intersection done as one aggregate),
    * and NOT via a left-anti join against the exclusion postings. Cost is
    * O(Σ df) seek rows at any corpus size — zero corpus scans.
    */
  def booleanSearch(
      spark: SparkSession,
      dir: String,
      must: Seq[String],
      mustNot: Seq[String],
      nBuckets: Int = DefaultBuckets
  ): DataFrame = {
    require(must.nonEmpty, "at least one required term")
    val p = postingsFor(spark, dir, (must ++ mustNot).distinct, nBuckets)
    val hits = p
      .filter(col("term").isin(must: _*))
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("term")).as("n_terms"),
        sum(col("tf")).cast("long").as("tf_sum")
      )
      .filter(col("n_terms") === must.distinct.size)
    val excluded = p.filter(col("term").isin(mustNot: _*)).select(col("doc_id")).distinct()
    hits
      .join(excluded, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("tf_sum"))
  }

  /** Exact-phrase search answered ENTIRELY from the index: read the two
    * terms' postings (partition-pruned seek, O(df) rows), join on doc and
    * check position adjacency — [[TextAnalysis.phraseSearch]] over a
    * pruned read instead of a corpus-wide rebuild.
    */
  def phraseSearchIndexed(
      spark: SparkSession,
      dir: String,
      w1: String,
      w2: String,
      nBuckets: Int = DefaultBuckets
  ): DataFrame =
    TextAnalysis.phraseSearch(postingsFor(spark, dir, Seq(w1, w2), nBuckets), w1, w2)
}
