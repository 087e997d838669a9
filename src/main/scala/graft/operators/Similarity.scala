package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TopKByScore
import graft.util.Cols._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Three layers:
  *   - [[bruteTopK]]: exact cosine top-k — broadcast the (small) query set
  *     against one corpus scan. The scored pairs are reduced by a bounded
  *     top-k aggregate ([[graft.functions.TopKByScore]]): each map
  *     partition emits at most k rows per query BEFORE the exchange, so
  *     the shuffle moves O(partitions × |Q| × k) rows — never the corpus.
  *     (A `row_number()` window here would shuffle every scored pair into
  *     |Q| partitions and sort them: the textbook plan that dies at scale.)
  *   - [[kmeansCells]]: Lloyd's k-means coarse quantizer (spherical:
  *     max-cosine assignment), the classic IVF training step. Driver state
  *     is k centroids — O(k·dim), independent of corpus size; each
  *     iteration is one broadcast join + one bounded-top-k argmax + one
  *     partial-aggregable mean, i.e. corpus-scan passes, exactly how
  *     k-means is run at scale.
  *   - [[ivfTopK]]: rank cells per query, search only
  *     the nProbe best cells. At 100 TB the corpus is bucketed BY cell id,
  *     so a probe touches only nProbe buckets — partition pruning does the
  *     work of an index.
  */
object Similarity {

  /** Reduce scored (query_id, neighbor_id, cos) pairs to per-query top-k
    * with ranks, via the partial-aggregable bounded top-k aggregate.
    */
  private[operators] def topKExplode(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(TopKByScore.topK(col("cos"), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "nb")))
      .select(
        col("query_id"),
        col("nb.id").as("neighbor_id"),
        col("nb.score").as("cos"),
        (col("pos") + 1).cast(LongType).as("rank")
      )

  /** Exact cosine top-k: one row per (query, rank<=k neighbor). */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_emb")
    )
    val c = corpus.select(
      col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb")
    )
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosine(col("q_emb"), col("c_emb")).as("cos")
      )
    topKExplode(scored, k)
  }

  /** Per-cell centroids: element-wise mean via posexplode → (cell, pos)
    * partial-aggregable sums → array reassembly. No driver-side state, so
    * it scales to any corpus (cells × dim rows after the first aggregate).
    */
  def centroids(corpus: DataFrame, cellCol: String = "label"): DataFrame =
    corpus
      .select(col(cellCol).as("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      // order-insensitive exact mean — see kmeansCells
      .agg(
        (sum(col("x").cast(DecimalType(38, 9))).cast(DoubleType) / count(lit(1)))
          .as("m")
      )
      .groupBy(col("cell"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")
        ).as("centroid")
      )

  /** Lloyd's k-means over the embedding column → (vec_id, cell).
    *
    * Spherical variant (assign to max-cosine centroid) since every search
    * in this module ranks by cosine. Deterministic seeding: the kCells
    * vectors with the smallest md5-order of vec_id (a fixed pseudo-random
    * sample, no RNG state). Each iteration: broadcast the k centroids,
    * argmax-assign via the bounded top-k aggregate (k=1), recompute means,
    * collect k·dim doubles to the driver — the only driver state, bounded
    * by k, never by the corpus.
    */
  /** Map-only argmax-cosine against driver-held centroids: one native
    * loop kernel ([[graft.functions.ArgmaxCosineCell]]) over the centroid
    * table held as a codegen reference object, so an assignment pass is a
    * scan with NO join and NO shuffle — and the generated method stays a
    * few hundred bytes at ANY k (the unrolled literal-struct tree this
    * replaces blew janino's 64 KB method limit when fused under a
    * Generate and silently fell back to interpreted). Driver state stays
    * O(k·dim). Ties take the higher cell id — measure-zero on doubles.
    * [[assignCells]] still switches to the broadcast-join path above
    * litK: per-TASK centroid state O(k·dim) is fine bounded, but at the
    * k ≈ √N a 100 TB IVF wants, shipping centroids once per executor via
    * broadcast + a partial top-1 aggregate is the cheaper shape.
    */
  private def cellOfLiteral(cents: Array[(Long, Array[Double])]): Column =
    nativeCol(graft.functions.ArgmaxCosineCell(nativeExpr(col("embedding")), cents))

  /** Argmax-cosine centroid assignment → (vec_id, embedding, cell), with
    * the tie rule of [[cellOfLiteral]] (higher cell wins) on BOTH paths:
    *
    *   - k <= litK: centroid literals in one codegen projection — map-only,
    *     no join, no shuffle (the [[kmeansCells]] inner loop);
    *   - k > litK: centroids as a BROADCAST table + the bounded top-1
    *     partial-aggregable `max(struct(sim, cell))`. At the k ≈ √N a
    *     100 TB IVF wants (tens of thousands of cells) the literal tree
    *     exceeds codegen's 64 KB method limit and falls back to
    *     interpreted — the join path stays codegen'd at any k: the
    *     broadcast fans each row out k ways map-side, the partial
    *     aggregate collapses them before the exchange, and the exchange
    *     carries one row per vector.
    *
    * `max(struct(sim, cell))` and the literal `array_max` use the same
    * struct lexicographic order, so the two paths are bit-identical
    * (pinned in SimilaritySpec).
    */
  def assignCells(
      corpus: DataFrame,
      cents: Array[(Long, Array[Double])],
      litK: Int = 256
  ): DataFrame =
    if (cents.length <= litK) {
      corpus.select(col("vec_id"), col("embedding"), cellOfLiteral(cents).as("cell"))
    } else {
      val s = corpus.sparkSession
      import s.implicits._
      val centsDf = cents.toSeq.map { case (c, v) => (c, v.toSeq) }.toDF("cell", "centroid")
      val best = corpus
        .join(broadcast(centsDf))
        .select(
          col("vec_id"),
          col("cell"),
          cosine(col("embedding"), col("centroid")).as("sim")
        )
        .groupBy(col("vec_id"))
        .agg(max(struct(col("sim"), col("cell"))).as("m"))
        .select(col("vec_id"), col("m.cell").as("cell"))
      corpus.select(col("vec_id"), col("embedding")).join(best, Seq("vec_id"))
    }

  def kmeansCells(corpus: DataFrame, kCells: Int, iters: Int): DataFrame = {
    // Each Lloyd's iteration re-scans the vectors (assign + mean); pin the
    // narrow (id, vector) projection once instead of re-reading the source
    // per iteration — the standard shape for iterative training at scale.
    val emb = corpus.select(col("vec_id"), col("embedding")).cache()

    def cellOf(cents: Array[(Long, Array[Double])]): Column = cellOfLiteral(cents)

    def assign(cents: Array[(Long, Array[Double])]): DataFrame =
      emb.select(col("vec_id"), cellOf(cents).as("cell"))

    // deterministic seed sample: kCells vectors in md5 order of vec_id
    var cents: Array[(Long, Array[Double])] = emb
      .orderBy(md5Long(col("vec_id")), col("vec_id"))
      .limit(kCells)
      .collect()
      .zipWithIndex
      .map { case (r, i) =>
        (i.toLong, r.getSeq[Float](1).map(_.toDouble).toArray)
      }

    var it = 0
    while (it < iters) {
      // M-step: one scan, one (cell,pos)-keyed partial-aggregable shuffle
      // of k·dim running means — the embedding rides from the argmax
      // projection straight into posexplode, no re-join with the corpus.
      cents = emb
        .select(cellOf(cents).as("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        // exact decimal mean: a double sum is partition-order dependent,
        // which would make the trained cells (and every downstream probe)
        // vary run to run; the decimal accumulation is order-insensitive,
        // so training is bit-reproducible on any cluster layout
        .agg(
          (sum(col("x").cast(DecimalType(38, 9))).cast(DoubleType) / count(lit(1)))
            .as("m")
        )
        .groupBy(col("cell"))
        .agg(
          transform(
            array_sort(collect_list(struct(col("pos"), col("m")))),
            s => s.getField("m")
          ).as("centroid")
        )
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      it += 1
    }
    assign(cents)
  }

  /** Data-scaled cell count: k = ceil(n / targetCellSize). Growing k with
    * the corpus keeps EXPECTED cell size constant — the property SemDeDup's
    * published cost bound needs (k ∝ N) and the one a fixed cell column
    * (e.g. `label`) cannot provide: 100× the corpus in fixed cells makes
    * each cell 100× larger and every within-cell pair join 10,000× bigger.
    *
    * COST CAVEAT: constant cell size buys a linear pair join by paying
    * O(N·k) = O(N²/target) in ASSIGNMENT (every vector scored against all
    * k centroids) and O(k·dim) ∝ N driver state for the seed table — fine
    * up to the tens-of-millions-of-vectors range, quadratic beyond it.
    * The 100 TB entry point is [[hierCells]]: a two-level quantizer with
    * the same constant-cell-size guarantee at O(N·√k) assignment and
    * O(√k·dim) driver state.
    */
  def scaledK(n: Long, targetCellSize: Int): Int = {
    val k = scaledKL(n, targetCellSize)
    require(k <= Int.MaxValue, s"scaledK overflow: k=$k for n=$n — use hierCells at this scale")
    k.toInt
  }

  /** [[scaledK]] without the Int cap (the two-level path sizes its total
    * fine-cell budget with this).
    */
  def scaledKL(n: Long, targetCellSize: Int): Long =
    math.max(1L, (n + targetCellSize - 1) / targetCellSize)

  /** Deterministic seed centroids: the k corpus vectors first in salted
    * md5 order of vec_id (a fixed pseudo-random sample — no RNG state, so
    * any engine rebuilds the identical seeds from the same formula, making
    * downstream cell assignments bit-checkable; the [[kmeansCells]] /
    * s_pq_encode seeding recipe). Driver state is O(k·dim).
    */
  def seedCentroids(corpus: DataFrame, k: Int, salt: String = "#seed"): Array[(Long, Array[Double])] =
    corpus
      .orderBy(md5Long(concat(col("vec_id").cast(StringType), lit(salt))), col("vec_id"))
      .limit(k)
      .select(col("embedding"))
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Float](0).map(_.toDouble).toArray) }

  /** Data-scaled quantizer cells with an oversized-cell re-split guard →
    * (vec_id, embedding, cell). The blocking structure for corpus-growth-
    * proof semantic dedup:
    *
    *   1. k = [[scaledK]](N) seed centroids ([[seedCentroids]] — the
    *      iters=0 closed form of [[kmeansCells]], chosen over trained
    *      centroids so an oracle can replay the assignment exactly);
    *   2. argmax-cosine assignment via [[assignCells]] (map-only literals
    *      at small k, broadcast-join + bounded top-1 aggregate above);
    *   3. RE-SPLIT GUARD: k ∝ N fixes the mean cell size but not skew — a
    *      hot seed can still collect an unbounded cell. Cells above
    *      maxCellSize are salted into ceil(|cell| / maxCellSize) subcells
    *      by a second md5 hash (map-only after a broadcast join of the
    *      k-row cell-count table), so EVERY cell's expected size is
    *      ≤ maxCellSize and the within-cell pair join is bounded by
    *      construction. Subcell ids are `sub·k + cell` — collision-free
    *      since cell < k.
    *
    * The split trades recall inside hot cells for a hard quadratic bound:
    * a pair in a cell split nsplit ways survives in the same subcell with
    * probability 1/nsplit, i.e. the loss is 1 − 1/nsplit per hot-cell
    * pair — concentrated in exactly the duplicate-dense cells the guard
    * targets. (The delta path does not pay it: [[semanticDeltaDupsScaled]]
    * probes all subcells.)
    *
    * SCALE LIMIT: the flat quantizer is the bit-replayable mid-scale tool
    * (assignment O(N·k) = O(N²/target), driver seed state O(k·dim) ∝ N —
    * see [[scaledK]]). For 100 TB use [[hierCells]].
    */
  def scaledCells(
      corpus: DataFrame,
      targetCellSize: Int,
      maxCellSize: Int,
      litK: Int = 256
  ): DataFrame = {
    // One cached pass of the narrow projection feeds count, seed sampling,
    // assignment and the re-split recount (the kmeansCells pattern) — the
    // quantizer is otherwise three full corpus scans. The result is
    // localCheckpoint'd because every consumer (semanticDedupCore's
    // centroid aggregate + both self-join sides) re-reads it.
    val emb = corpus.select(col("vec_id"), col("embedding")).cache()
    val k = scaledK(emb.count(), targetCellSize)
    val coarse = assignCells(emb, seedCentroids(emb, k), litK)
    val out = resplitCells(coarse, cellCounts(coarse), k, maxCellSize).localCheckpoint()
    emb.unpersist()
    out
  }

  /** Per-cell row counts of an assignment — k rows, broadcastable. */
  private[operators] def cellCounts(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cell")).agg(count(lit(1)).as("cnt"))

  /** (cell, nsplit) table: nsplit = ceil(cnt / maxCellSize) — how many
    * salted subcells each oversized cell splits into. k-row, broadcastable.
    */
  private[operators] def splitsOf(counts: DataFrame, maxCellSize: Int): DataFrame =
    counts.select(
      col("cell"),
      floor((col("cnt") + lit((maxCellSize - 1).toLong)) / lit(maxCellSize.toLong))
        .cast(LongType)
        .as("nsplit")
    )

  /** Salted sub-split of cells above maxCellSize (step 3 of
    * [[scaledCells]]); left join + coalesce so rows in cells absent from
    * the count table (possible when counts come from a different frame,
    * as in [[semanticDeltaDupsScaled]]) pass through unsplit. `k` is any
    * exclusive upper bound on the incoming cell ids (subcell ids are
    * `sub·k + cell`, collision-free given cell < k).
    */
  private[operators] def resplitCells(
      assigned: DataFrame,
      counts: DataFrame,
      k: Long,
      maxCellSize: Int
  ): DataFrame =
    assigned
      .join(broadcast(splitsOf(counts, maxCellSize)), Seq("cell"), "left")
      .select(
        col("vec_id"),
        col("embedding"),
        (pmod(
          md5Long(concat(col("vec_id").cast(StringType), lit("#sub"))),
          coalesce(col("nsplit"), lit(1L))
        ) * k + col("cell")).as("cell")
      )

  /** TWO-LEVEL data-scaled quantizer → (vec_id, embedding, cell) — the
    * 100 TB production entry point. Same constant-expected-cell-size
    * contract as [[scaledCells]] (k = ceil(N/target) fine cells overall +
    * the re-split skew guard) at a fundamentally cheaper shape:
    *
    *   1. k1 = ceil(√k) LEVEL-1 seed centroids ([[seedCentroids]], salt
    *      "#seed1") — the only driver-collected state, O(√k·dim) vs the
    *      flat quantizer's O(k·dim);
    *   2. argmax-cosine coarse assignment via [[assignCells]];
    *   3. per coarse cell c with |c| rows, k2(c) = ceil(|c|/target)
    *      LEVEL-2 seeds: the first k2 members of c in salted md5 order
    *      (salt "#seed2", per-cell row_number — a bounded within-cell
    *      sort, never a global one). Seeds stay DISTRIBUTED — a
    *      (c1, r2, centroid) table of ~k rows joined on c1, never
    *      collected;
    *   4. level-2 argmax within the coarse cell (join on c1 + one
    *      partial-aggregable max(struct)) → fine cell id r2·k1 + c1
    *      (collision-free: c1 < k1);
    *   5. the [[resplitCells]] salt guard on fine cells, bound = max fine
    *      id + 1.
    *
    * Cost: assignment is N·k1 + N·E[k2] ≈ 2N√k cosines — O(N^1.5/√target)
    * overall vs the flat quantizer's O(N²/target) — with expected fine
    * cell size still `target` (so near-dup recall does NOT degrade as N
    * grows, unlike sizing k ∝ √N, which inflates cells — and their salted
    * split count, and its straddle loss — as √N). Every step is a
    * closed-form md5 construction, so an external oracle replays cells
    * and kept flags bit-exactly.
    */
  def hierCells(
      corpus: DataFrame,
      targetCellSize: Int,
      maxCellSize: Int,
      litK: Int = 256
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = corpus.select(col("vec_id"), col("embedding")).cache()
    val k = scaledKL(emb.count(), targetCellSize)
    val k1 = math.ceil(math.sqrt(k.toDouble)).toLong
    require(k1 <= Int.MaxValue, s"hierCells k1 overflow: $k1")
    val coarse = assignCells(emb, seedCentroids(emb, k1.toInt, "#seed1"), litK)
      .withColumnRenamed("cell", "c1")
      .localCheckpoint()
    val counts1 = coarse.groupBy(col("c1")).agg(count(lit(1)).as("cnt"))
    val seeds2 = coarse
      .withColumn(
        "rn",
        row_number().over(
          Window
            .partitionBy(col("c1"))
            .orderBy(md5Long(concat(col("vec_id").cast(StringType), lit("#seed2"))), col("vec_id"))
        )
      )
      .join(broadcast(counts1), Seq("c1"))
      .filter(
        col("rn") <= floor((col("cnt") + lit((targetCellSize - 1).toLong)) / lit(targetCellSize.toLong))
      )
      .select(col("c1"), (col("rn") - 1).cast(LongType).as("r2"), col("embedding").as("centroid"))
    val fine = coarse
      .join(seeds2, Seq("c1"))
      .select(
        col("c1"),
        col("vec_id"),
        col("r2"),
        cosine(col("embedding"), col("centroid")).as("sim")
      )
      .groupBy(col("vec_id"), col("c1"))
      .agg(max(struct(col("sim"), col("r2"))).as("m"))
      .select(col("vec_id"), (col("m.r2") * k1 + col("c1")).as("cell"))
    val assigned = coarse
      .select(col("vec_id"), col("embedding"))
      .join(fine, Seq("vec_id"))
      .localCheckpoint()
    emb.unpersist()
    val fcounts = cellCounts(assigned)
    val kb = fcounts.agg(max(col("cell"))).head.getLong(0) + 1L
    resplitCells(assigned, fcounts, kb, maxCellSize).localCheckpoint()
  }

  /** IVF search: rank cells by query↔centroid cosine (bounded top-nProbe
    * aggregate — no window), exact-search only those cells.
    * Returns (query_id, neighbor_id, cos, rank).
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nProbe: Int,
      cellCol: String = "label"
  ): DataFrame = {
    val cents = centroids(corpus, cellCol)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val probed = q
      .join(broadcast(cents))
      .select(
        col("query_id"),
        col("cell").cast(LongType).as("cell"),
        cosine(col("q_emb"), col("centroid")).as("ccos")
      )
      .groupBy(col("query_id"))
      .agg(TopKByScore.topK(col("ccos"), col("cell"), nProbe).as("tk"))
      .select(col("query_id"), explode(col("tk").getField("id")).as("cell"))
      .join(q, Seq("query_id"))
    val c = corpus.select(
      col("vec_id").as("neighbor_id"),
      col(cellCol).cast(LongType).as("cell"),
      col("embedding").as("c_emb")
    )
    val scored = c
      .join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosine(col("q_emb"), col("c_emb")).as("cos")
      )
    topKExplode(scored, k)
  }

  // ---- random-hyperplane (sign) LSH — the bucketed ANN scale path that
  // needs no training pass, complementing IVF's trained quantizer.

  val LshPlanes = 16
  val LshBands = 4
  val LshPlanesPerBand: Int = LshPlanes / LshBands

  /** Deterministic pseudo-random hyperplanes BOTH engines can rebuild:
    * plane p, component j = md5_60("p:j") mod 2001 − 1000 (a centered
    * integer lattice direction). Randomness quality is md5's; the point of
    * the construction is that the DuckDB oracle regenerates the identical
    * planes from the same formula, making the whole ANN result — buckets,
    * candidates, ranks — bit-checkable, where a seeded-RNG plane set would
    * force a weaker rows-only check.
    */
  def lshHyperplanes(dim: Int): IndexedSeq[Seq[Double]] =
    (0 until LshPlanes).map { p =>
      (0 until dim).map { j =>
        (graft.functions.Md5Exprs.md5Top60(
          s"$p:$j".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ) % 2001L - 1000L).toDouble
      }
    }

  /** Per-band bucket ids of one embedding: band b = the 4 sign bits of
    * planes 4b..4b+3 packed little-endian. Map-only (16 codegen dot loops).
    */
  private def bandBuckets(emb: Column, planes: IndexedSeq[Seq[Double]]): Column =
    array((0 until LshBands).map { b =>
      (0 until LshPlanesPerBand)
        .map { r =>
          (dot(emb, typedLit(planes(b * LshPlanesPerBand + r))) >= 0)
            .cast(LongType) * lit(1L << r)
        }
        .reduce(_ + _)
    }: _*)

  /** LSH-bucketed ANN: candidates are corpus vectors sharing >= 1
    * (band, bucket) with the query; candidates (and only candidates) get
    * exact cosine, then the bounded top-k aggregate ranks them. The corpus
    * is touched once, map-only, and shuffles only candidate rows — at
    * 100 TB the bands table is the index, bucket-bucketed on disk.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int): DataFrame = {
    val planes = lshHyperplanes(dim)
    def withBands(df: DataFrame, idAs: String, embAs: String): DataFrame =
      df.select(
        col("vec_id").as(idAs),
        col("embedding").as(embAs),
        posexplode(bandBuckets(col("embedding"), planes)).as(Seq("band", "bucket"))
      )
    val qb = withBands(queries, "query_id", "q_emb")
    val cb = withBands(corpus, "neighbor_id", "c_emb")
    val scored = cb
      .join(broadcast(qb), Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosine(col("q_emb"), col("c_emb")).as("cos")
      )
      // multi-band hits duplicate (q, n) with identical cos — distinct is
      // exact here, not a tolerance
      .distinct()
    topKExplode(scored, k)
  }

  /** Symmetric int8 scalar quantization of the embedding column — the
    * standard 4x storage/bandwidth cut for vector corpora (the dominant
    * cost of embedding search at 100 TB is reading floats). Per vector:
    * scale = max|x| / 127, q_i = floor(x_i / scale + 0.5) — an explicit
    * round-half-up formula rather than round(), whose tie rule differs
    * between engines. Pure expressions, map-only, no shuffle.
    */
  def quantizeInt8(corpus: DataFrame): DataFrame = {
    val absMax = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    val scale = greatest(absMax, lit(1e-30)) / 127.0
    corpus
      .withColumn("scale", scale)
      .select(
        col("vec_id"),
        col("scale"),
        transform(
          col("embedding"),
          x => floor(x.cast("double") / col("scale") + 0.5).cast("long")
        ).as("q")
      )
      .select(
        col("vec_id"),
        col("scale"),
        aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("q_sum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max")
      )
  }

  /** Per-label centroid of the int8-quantized embeddings, dimension-wise:
    * the class-prototype computation behind nearest-centroid classifiers,
    * embedding-drift monitors, and IVF re-training. Quantizing first
    * ([[quantizeInt8]]'s exact round-half-up formula) makes the aggregate
    * integer-exact — a mean of raw floats is summation-order-dependent and
    * can't be cross-engine-checked; the quantized mean is one exact LONG
    * sum and a single final division.
    *
    * Shape at scale: the posexplode multiplies rows by dim, but the
    * partial aggregate reduces every map partition to |labels|x|dims|
    * rows before the one exchange — the shuffle is prototype-sized, not
    * corpus-sized.
    */
  /** Nearest-centroid classification (the embedding-space Rocchio
    * classifier a curation pipeline uses to tag vectors from a labeled
    * seed set): every vector takes the label of its max-cosine label
    * centroid, ties to the LOWER label. One decimal-exact centroid pass
    * (|labels|·dim rows), centroids broadcast, then a map-side scoring
    * join reduced by one partial-aggregable max(struct) per vector — no
    * windows, broadcast state O(|labels|·dim).
    */
  def centroidClassify(corpus: DataFrame): DataFrame =
    corpus
      .select(col("vec_id"), col("label"), col("embedding"))
      .crossJoin(broadcast(centroids(corpus, "label")))
      .select(
        col("vec_id"),
        col("label"),
        col("cell"),
        cosine(col("embedding"), col("centroid")).as("cos")
      )
      .groupBy(col("vec_id"), col("label"))
      .agg(max(struct(col("cos"), (-col("cell")).as("nc"), col("cell"))).as("m"))
      .select(
        col("vec_id"),
        col("label").cast(LongType).as("true_label"),
        col("m.cell").cast(LongType).as("pred_label"),
        col("m.cos").as("cos"),
        (col("label") === col("m.cell")).as("correct")
      )

  def labelCentroids(corpus: DataFrame): DataFrame = {
    val absMax = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    val scale = greatest(absMax, lit(1e-30)) / 127.0
    corpus
      .withColumn("scale", scale)
      .select(
        col("label"),
        posexplode(
          transform(
            col("embedding"),
            x => floor(x.cast("double") / col("scale") + 0.5).cast("long")
          )
        ).as(Seq("dim", "qv"))
      )
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("qv")).as("q_sum"))
      .select(
        col("label"),
        col("dim").cast("long").as("dim"),
        col("n_vecs").cast("long").as("n_vecs"),
        col("q_sum"),
        (col("q_sum").cast("double") / col("n_vecs")).as("centroid_q")
      )
  }

  /** Dimension-wise covariance of the embedding corpus — the input to
    * PCA/whitening (the standard pre-transform before product
    * quantization) and the drift-monitoring statistic for an embedding
    * feed. Upper triangle only: (i, j, n, sxy, cov) for i <= j.
    *
    * Shape at scale: the whole d(d+1)/2 Gram matrix is ONE mergeable
    * native aggregate ([[graft.functions.GramUpperAgg]]) — O(d²) LONG
    * state per partition, elementwise-add merge, so the exchange carries
    * one matrix per partition and no per-pair row ever exists. (The
    * explode formulation this replaced materialized 41.6M struct rows at
    * 20k×64 and ran 4× slower with the identical output.) Products are
    * rounded exactly as `cast(double AS DECIMAL(38,9))` on both engines,
    * so sums stay order-insensitive and cross-engine exact; the final
    * covariance is two deterministic double ops.
    */
  def dimCovariance(corpus: DataFrame, dim: Int): DataFrame = {
    val sums = corpus
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos").cast(LongType).as("pos"))
      .agg(
        (sum(col("x").cast(DecimalType(38, 9))).cast(DoubleType)).as("sx"),
        count(lit(1)).as("n")
      )
    val prods = corpus
      .agg(
        graft.functions.GramUpperAgg.gramUpper(col("embedding"), dim).as("g"),
        count(col("embedding")).as("n")
      )
      .select(col("n"), explode(col("g")).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"), col("n"), col("p.sxy").as("sxy"))
    prods
      .join(broadcast(sums.select(col("pos").as("i"), col("sx").as("sx_i"))), Seq("i"))
      .join(broadcast(sums.select(col("pos").as("j"), col("sx").as("sx_j"))), Seq("j"))
      .select(
        col("i"),
        col("j"),
        col("n"),
        col("sxy"),
        (col("sxy") / col("n") - (col("sx_i") / col("n")) * (col("sx_j") / col("n")))
          .as("cov")
      )
  }

  /** Per-dimension z-score standardization of the embedding column — the
    * feature-normalization / diagonal-whitening step before distance
    * computations, quantization, or drift comparison. Two phases:
    *
    *   1. per-dim mean and E[x²] via decimal-exact partial-aggregable
    *      sums (one posexplode aggregate, d output rows); the d-row stats
    *      collect to the driver — O(dim) state, the centroid-literal
    *      pattern of [[kmeansCells]];
    *   2. a MAP-ONLY projection `(x - μᵢ) / max(σᵢ, 1e-30)` against the
    *      literal stat arrays — no join, no shuffle, whole corpus in one
    *      codegen pass.
    *
    * All stats are deterministic doubles (decimal sums, then single
    * double ops), so the standardized vectors are bit-reproducible and
    * cross-engine exact.
    */
  def standardize(corpus: DataFrame): DataFrame = {
    val stats = corpus
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(
        (sum(col("x").cast(DecimalType(38, 9))).cast(DoubleType) / count(lit(1))).as("mu"),
        (sum((col("x").cast(DoubleType) * col("x").cast(DoubleType)).cast(DecimalType(38, 9)))
          .cast(DoubleType) / count(lit(1))).as("ex2")
      )
      .select(
        col("pos"),
        col("mu"),
        greatest(sqrt(col("ex2") - col("mu") * col("mu")), lit(1e-30)).as("sigma")
      )
      .orderBy("pos")
      .collect()
    val mus = typedLit(stats.map(_.getDouble(1)).toSeq)
    val sigmas = typedLit(stats.map(_.getDouble(2)).toSeq)
    corpus.select(
      col("vec_id"),
      transform(
        col("embedding"),
        (x, i) => (x.cast(DoubleType) - element_at(mus, i + 1)) / element_at(sigmas, i + 1)
      ).as("z")
    )
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    * the corpus into cells, and within each cell drop every document that
    * has an above-threshold cosine near-duplicate CLOSER to the cell
    * centroid (ties break to the lower id) — keeping, per duplicate
    * neighborhood, the single most-representative member. Returns every
    * row with its centroid cosine and a `kept` flag.
    *
    * KEEP-RULE NOTE: Abbas et al.'s default keeps the example with the
    * LOWEST centroid similarity inside a duplicate neighborhood (biasing
    * the kept set toward cluster edges); this engine's default keeps the
    * MOST-CENTRAL member — the canonical-representative policy used
    * everywhere else (cf. [[graft.operators.Dedup]]'s representatives,
    * s_pagerank_sim). Same duplicate graph, opposite — and equally
    * defensible — choice of which member survives it. Both policies are
    * reachable via the `keep` parameter ([[KeepPolicy.Central]] default,
    * [[KeepPolicy.Edge]] = the paper's rule).
    *
    * Shape at scale: the quadratic term is bounded per cell (exactly the
    * IVF-cell blocking of [[cosineDupPairs]]); at 100 TB feed it cells
    * from [[scaledCells]] (k ∝ N + re-split guard — see
    * [[semanticDedupScaled]]) rather than a
    * fixed cell column, whose cells grow with the corpus and make the
    * pair join quadratic in corpus growth ([[hierCells]] is the
    * 100 TB form — same contract, O(N·√k) assignment). Centroids are the
    * decimal-exact partial-aggregable means of [[centroids]] and
    * broadcast back, so the whole operator is one centroid aggregate +
    * one within-cell self-join — deterministic end to end, no all-pairs
    * stage, no driver state beyond the broadcast centroids.
    */
  /** Which member of a semantic-duplicate neighborhood survives dedup. */
  sealed trait KeepPolicy
  object KeepPolicy {
    /** Keep the member closest to its cell centroid (engine default). */
    case object Central extends KeepPolicy
    /** Keep the member FARTHEST from its cell centroid — Abbas et al.
      * 2023's published default (biases the kept set toward cluster
      * edges / harder examples).
      */
    case object Edge extends KeepPolicy
  }

  def semanticDedup(
      corpus: DataFrame,
      threshold: Double,
      cellCol: String = "label",
      keep: KeepPolicy = KeepPolicy.Central
  ): DataFrame =
    semanticDedupCore(
      corpus.select(col(cellCol).as("cell"), col("vec_id"), col("embedding")),
      threshold,
      keep
    )

  /** [[semanticDedup]] over [[scaledCells]] — the corpus-growth-proof
    * form: cell count scales with N (constant expected cell size) and the
    * re-split guard hard-bounds skewed cells, so the within-cell pair
    * join stays linear in corpus size at any scale. Deterministic end to
    * end (seed quantizer + salted split are closed-form md5 constructions
    * both engines replay), so kept flags stay bit-checkable.
    */
  def semanticDedupScaled(
      corpus: DataFrame,
      threshold: Double,
      targetCellSize: Int,
      maxCellSize: Int,
      litK: Int = 256,
      keep: KeepPolicy = KeepPolicy.Central
  ): DataFrame =
    semanticDedupCore(
      scaledCells(corpus, targetCellSize, maxCellSize, litK)
        .select(col("cell"), col("vec_id"), col("embedding")),
      threshold,
      keep
    )

  private[operators] def semanticDedupCore(
      celled: DataFrame,
      threshold: Double,
      keep: KeepPolicy = KeepPolicy.Central
  ): DataFrame = {
    val withC = celled
      .join(broadcast(centroids(celled, "cell")), Seq("cell"))
      .withColumn("ccos", cosine(col("embedding"), col("centroid")))
      .select(col("cell"), col("vec_id"), col("embedding"), col("ccos"))
    val a = withC.select(
      col("cell"),
      col("vec_id").as("a_id"),
      col("embedding").as("a_emb"),
      col("ccos").as("a_ccos")
    )
    val b = withC.select(
      col("cell"),
      col("vec_id").as("b_id"),
      col("embedding").as("b_emb"),
      col("ccos").as("b_ccos")
    )
    // (a displaces b): same cell, above-threshold pair, a strictly more
    // central — or, under KeepPolicy.Edge, strictly LESS central — (tie ->
    // lower id wins). Evaluated over ordered pairs, so one within-cell
    // self-join decides every drop.
    val aWins = keep match {
      case KeepPolicy.Central => col("a_ccos") > col("b_ccos")
      case KeepPolicy.Edge    => col("a_ccos") < col("b_ccos")
    }
    val dropped = a
      .join(b, Seq("cell"))
      .filter(col("a_id") =!= col("b_id"))
      .filter(cosine(col("a_emb"), col("b_emb")) >= threshold)
      .filter(
        aWins || (col("a_ccos") === col("b_ccos") && col("a_id") < col("b_id"))
      )
      .select(col("b_id").as("vec_id"))
      .distinct()
      .withColumn("_dropped", lit(true))
    withC
      .join(dropped, Seq("vec_id"), "left")
      .select(
        col("vec_id"),
        col("cell"),
        col("ccos"),
        coalesce(col("_dropped"), lit(false)).unary_!.as("kept")
      )
  }

  /** Incremental semantic dedup: flag each DELTA vector that has an
    * above-threshold cosine neighbor in the EXISTING corpus, with its
    * best match — the ingest-time face of [[semanticDedup]] (a daily
    * embedding feed is checked against the corpus only, never delta ×
    * delta, mirroring [[Dedup]]'s text-side `deltaDups`).
    *
    * Cells are [[scaledCells]] derived from the CORPUS (seeds, k, and
    * re-split counts all come from the existing corpus — the delta is
    * assigned into the corpus's cells, never the reverse, so a day's
    * ingest can't perturb the blocking of the data already deduped).
    * Corpus cells above maxCellSize are salted exactly as in
    * [[semanticDedupScaled]]; the delta PROBES EVERY SUBCELL of its
    * coarse cell rather than riding its own salt — within-corpus dedup
    * loses 1 − 1/nsplit of hot-cell pairs to subcell straddle (the price
    * of bounding the self-join), but the delta×corpus join is NOT
    * quadratic, so the delta path pays the nsplit-way fan-out and gives
    * up no recall at all inside its coarse cell.
    */
  def semanticDeltaDupsScaled(
      delta: DataFrame,
      corpus: DataFrame,
      threshold: Double,
      targetCellSize: Int,
      maxCellSize: Int,
      litK: Int = 256
  ): DataFrame = {
    // One cached narrow pass of the corpus feeds count, seeds, assignment
    // and the split recount; coarse/celled frames are localCheckpoint'd
    // because the core's candidate join and the final left join re-read
    // them.
    val cEmb = corpus.select(col("vec_id"), col("embedding")).cache()
    val k = scaledK(cEmb.count(), targetCellSize)
    val cents = seedCentroids(cEmb, k)
    val cCoarse = assignCells(cEmb, cents, litK).localCheckpoint()
    cEmb.unpersist()
    val counts = cellCounts(cCoarse)
    val cCelled = resplitCells(cCoarse, counts, k, maxCellSize)
      .select(col("cell"), col("vec_id"), col("embedding"))
    deltaDupsAgainst(delta, cents, counts, maxCellSize, cCelled, threshold, litK)
  }

  /** The delta side of [[semanticDeltaDupsScaled]] against ALREADY-DERIVED
    * corpus quantizer state — seed centroids, coarse cell counts, and the
    * final celled corpus. This is the steady-state ingest shape: with the
    * corpus state persisted ([[SemanticIndex]]), a day's delta pays only
    * its own assignment plus the within-cell candidate join — zero corpus
    * scans.
    */
  private[operators] def deltaDupsAgainst(
      delta: DataFrame,
      cents: Array[(Long, Array[Double])],
      counts: DataFrame,
      maxCellSize: Int,
      cCelled: DataFrame,
      threshold: Double,
      litK: Int
  ): DataFrame = {
    val k = cents.length.toLong
    val dCoarse = assignCells(
      delta.select(col("vec_id"), col("embedding")),
      cents,
      litK
    ).localCheckpoint()
    // reporting cell: the delta row's OWN salted subcell (symmetric with
    // semanticDedupScaled's blocking); probe cells: all subcells of its
    // coarse cell.
    val dOwn = resplitCells(dCoarse, counts, k, maxCellSize).select(col("vec_id"), col("cell"))
    val dProbe = probeAllSubcells(dCoarse, counts, maxCellSize, k)
    semanticDeltaDupsCore(dOwn, dProbe, cCelled, threshold)
  }

  /** Fan a coarse-assigned probe set out over EVERY salted subcell of its
    * coarse cell — the no-straddle-loss probe shape shared by the delta
    * ingest and contamination paths.
    */
  private def probeAllSubcells(
      dCoarse: DataFrame,
      counts: DataFrame,
      maxCellSize: Int,
      k: Long
  ): DataFrame = {
    val splits = splitsOf(counts, maxCellSize)
    dCoarse
      .join(broadcast(splits), Seq("cell"), "left")
      .select(
        col("vec_id"),
        col("embedding"),
        col("cell").as("c0"),
        explode(sequence(lit(0L), coalesce(col("nsplit"), lit(1L)) - 1)).as("sub")
      )
      .select(col("vec_id"), col("embedding"), (col("sub") * k + col("c0")).as("cell"))
  }

  /** Embedding-level eval CONTAMINATION report: every CORPUS (train)
    * vector with at least one TEST vector above `threshold` cosine, with
    * its test-match count and the argmax closest test example — the
    * semantic analogue of the n-gram `d_contamination` decontamination
    * join, catching paraphrased/near-duplicate eval leakage that shares
    * no exact n-gram.
    *
    * Shape at scale: the test set is assigned into the TRAIN corpus's
    * quantizer cells and probes every subcell of its coarse cell (the
    * [[deltaDupsAgainst]] fan-out — full recall within the coarse cell);
    * candidates are within-cell only, the per-train-vector verdict is one
    * partial-aggregable `max(struct)` + count, no window, and only
    * flagged vectors are emitted (the report is |contaminated|-sized, not
    * corpus-sized). Ties on cosine take the higher test id.
    */
  private[operators] def contaminationAgainst(
      test: DataFrame,
      cents: Array[(Long, Array[Double])],
      counts: DataFrame,
      maxCellSize: Int,
      cCelled: DataFrame,
      threshold: Double,
      litK: Int
  ): DataFrame = {
    val k = cents.length.toLong
    val tCoarse = assignCells(
      test.select(col("vec_id"), col("embedding")),
      cents,
      litK
    ).localCheckpoint()
    val tProbe = probeAllSubcells(tCoarse, counts, maxCellSize, k)
    val c = cCelled.select(
      col("cell"),
      col("vec_id").as("b_id"),
      col("embedding").as("b_emb")
    )
    tProbe
      .join(c, Seq("cell"))
      .select(
        col("b_id"),
        col("vec_id").as("t_id"),
        cosine(col("embedding"), col("b_emb")).as("cos")
      )
      .filter(col("cos") >= threshold)
      .groupBy(col("b_id"))
      .agg(
        max(struct(col("cos"), col("t_id"))).as("m"),
        count(lit(1)).cast(LongType).as("n_test_matches")
      )
      .select(
        col("b_id").as("vec_id"),
        col("n_test_matches"),
        col("m.t_id").as("top_test_match"),
        col("m.cos").as("max_cos")
      )
  }

  /** Within-cell candidates only; the argmax is one partial-aggregable
    * `max(struct(cos, id))`, no window. Deterministic: ties on cosine
    * take the higher corpus id on both engines.
    *
    * @param dOwn   (vec_id, cell) — one row per delta vector, the cell it
    *               reports (its own blocking cell);
    * @param dProbe (vec_id, embedding, cell) — the delta fanned out over
    *               every cell it should be COMPARED in (≥ its own; a
    *               corpus row lives in exactly one cell, so no candidate
    *               is double-counted).
    */
  private def semanticDeltaDupsCore(
      dOwn: DataFrame,
      dProbe: DataFrame,
      cCelled: DataFrame,
      threshold: Double
  ): DataFrame = {
    val c = cCelled.select(
      col("cell"),
      col("vec_id").as("b_id"),
      col("embedding").as("b_emb")
    )
    val best = dProbe
      .join(c, Seq("cell"))
      .select(
        col("vec_id"),
        col("b_id"),
        cosine(col("embedding"), col("b_emb")).as("cos")
      )
      .filter(col("cos") >= threshold)
      .groupBy(col("vec_id"))
      .agg(
        max(struct(col("cos"), col("b_id"))).as("m"),
        count(lit(1)).cast(LongType).as("n_dups")
      )
    dOwn
      .join(best, Seq("vec_id"), "left")
      .select(
        col("vec_id"),
        col("cell"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("m.b_id").as("best_match"),
        col("m.cos").as("best_cos"),
        col("m").isNull.as("is_unique")
      )
  }

  /** Embedding near-duplicate pairs: within-cell pairwise cosine >= thr.
    * The cell id bounds the quadratic term exactly like an IVF cell.
    */
  def cosineDupPairs(corpus: DataFrame, threshold: Double, cellCol: String = "label"): DataFrame = {
    val d = corpus.select(col("vec_id"), col(cellCol).as("cell"), col("embedding"))
    val l = d.as("l")
    val r = d.as("r")
    l.join(r, col("l.cell") === col("r.cell") && col("l.vec_id") < col("r.vec_id"))
      .select(
        col("l.vec_id").as("a_id"),
        col("r.vec_id").as("b_id"),
        cosine(col("l.embedding"), col("r.embedding")).as("cos")
      )
      .filter(col("cos") >= threshold)
  }

  /** HARD-NEGATIVE MINING for contrastive training: per anchor, the k
    * closest vectors that are NOT near-duplicates — same quantizer cell
    * (so they are semantically adjacent: that's what makes them hard),
    * cosine BELOW the dedup threshold (so they are genuinely different
    * content, not leakage). Reuses the celled blocking as-is: the pair
    * join is within-cell (corpus-linear, same bound as the dedup sweep)
    * and per-anchor selection rides the bounded [[TopKByScore]] aggregate
    * — no window over an unbounded partition anywhere.
    */
  def hardNegatives(celled: DataFrame, threshold: Double, k: Int): DataFrame = {
    val a = celled.select(col("cell"), col("vec_id"), col("embedding"))
    val b = celled.select(
      col("cell"),
      col("vec_id").as("neg_id"),
      col("embedding").as("n_emb")
    )
    val scored = a
      .join(b, Seq("cell"))
      .filter(col("vec_id") =!= col("neg_id"))
      .select(
        col("vec_id").as("query_id"),
        col("neg_id").as("neighbor_id"),
        cosine(col("embedding"), col("n_emb")).as("cos")
      )
      .filter(col("cos") < threshold)
    topKExplode(scored, k)
      .select(
        col("query_id").as("anchor"),
        col("neighbor_id").as("neg_id"),
        col("rank"),
        col("cos")
      )
  }
}
