package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite with ScratchAssets {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("brute-force top-k: ranks are 1..k per query, cosine non-increasing") {
    val emb = Tables.embeddings(spark, sf)
    val got = Similarity
      .bruteTopK(emb.filter(col("vec_id") < 5), emb, k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Long)]
      .collect()
      .toSeq
    val byQuery = got.groupBy(_._1)
    assert(byQuery.keySet === Set(0L, 1L, 2L, 3L, 4L))
    byQuery.values.foreach { rows =>
      assert(rows.map(_._4) === Seq(1L, 2L, 3L, 4L, 5L))
      val cos = rows.sortBy(_._4).map(_._3)
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
      assert(rows.forall(r => r._2 !== r._1), "self excluded")
    }
  }

  test("IVF top-k achieves reasonable recall vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 20)
    def topkSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id")
        .as[(Long, Long)]
        .collect()
        .groupBy(_._1)
        .view
        .mapValues(_.map(_._2).toSet)
        .toMap
    val brute = topkSet(Similarity.bruteTopK(queries, emb, k = 5))
    val ivf = topkSet(Similarity.ivfTopK(queries, emb, k = 5, nProbe = 3))
    val recalls = brute.map { case (q, trueSet) =>
      ivf.getOrElse(q, Set.empty).intersect(trueSet).size.toDouble / trueSet.size
    }
    val meanRecall = recalls.sum / recalls.size
    // The synthetic table's embeddings are near-isotropic (within-label mean
    // cosine ≈ 0.07) and `label` is not a learned cell, so the information
    // floor for nProbe=3 of 10 cells is ~0.3 in expectation, with real
    // variance across 20 queries (and sensitivity to partition-order float
    // sums in the centroid means). This is a sanity bound, not a quality
    // bar — the quality bar lives in the clustered-corpus test below.
    assert(meanRecall >= 0.15, s"mean recall@5 with nProbe=3/10 was $meanRecall")
  }

  test("k-means IVF recovers clustered structure: recall >= 0.85") {
    // Constructed corpus with genuine cluster structure: 10 well-separated
    // unit centers, 30 points each with small noise. On data like this a
    // working coarse quantizer must put a query's true neighbors in the
    // probed cells; recall@5 with nProbe=3 should be near 1.0. (The driver
    // table can't support this assertion — its vectors are isotropic.)
    val rnd = new scala.util.Random(42)
    val dim = 64
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Array.fill(10)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val points = for {
      c <- centers.indices
      i <- 0 until 30
    } yield {
      val p = unit(centers(c).map(_ + 0.15 * rnd.nextGaussian()))
      (c.toLong * 30 + i, p.map(_.toFloat))
    }
    val corpus = points.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 30 === 0) // one per cluster
    def topkSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id")
        .as[(Long, Long)]
        .collect()
        .groupBy(_._1)
        .view
        .mapValues(_.map(_._2).toSet)
        .toMap
    val brute = topkSet(Similarity.bruteTopK(queries, corpus, k = 5))
    // trained coarse quantizer: k-means cells instead of a labelled column
    val celled = corpus.join(Similarity.kmeansCells(corpus, kCells = 10, iters = 4), Seq("vec_id"))
    val ivf = topkSet(Similarity.ivfTopK(queries, celled, k = 5, nProbe = 3, cellCol = "cell"))
    val recalls = brute.map { case (q, trueSet) =>
      ivf.getOrElse(q, Set.empty).intersect(trueSet).size.toDouble / trueSet.size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.85, s"mean recall@5 on clustered corpus was $meanRecall")
  }

  test("IVF scale path: cell-partitioned corpus prunes the scan to probed cells") {
    // At 100 TB the IVF index IS the storage layout: corpus written
    // partitioned by cell id, so an nProbe search reads only nProbe
    // directories. Partition pruning must be visible in the physical plan —
    // a probe that scans every cell is a full corpus scan with extra steps.
    // `label` stands in for the cell id: the mechanics under test are the
    // storage layout + pruning, which are identical for any cell column
    // (k-means on this table's isotropic vectors collapses to a couple of
    // cells, which would make the prune trivially ineffective to observe).
    val emb = Tables.embeddings(spark, sf)
    val out =
      java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/corpus"
    emb
      .withColumnRenamed("label", "cell")
      .write
      .mode("overwrite")
      .partitionBy("cell")
      .parquet(out)
    val corpus = spark.read.parquet(out)
    val probed = corpus.filter(col("cell").isin(1, 3, 5))
    val plan = probed.queryExecution.executedPlan.toString
    assert(
      plan.contains("PartitionFilters") && plan.contains("cell"),
      s"cell predicate must prune partitions, not filter rows:\n${plan.take(1200)}"
    )
    val full = corpus.count()
    val pruned = probed.count()
    assert(pruned > 0 && pruned < full, s"pruned=$pruned full=$full")
  }

  test("persisted IVF index: search prunes to probed cells and matches in-memory IVF") {
    val emb = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    // label stands in for the cell id (same rationale as the scale-path
    // test: trained cells on isotropic vectors collapse, making the prune
    // unobservable); the build/search mechanics are cell-column-agnostic.
    graft.operators.IvfIndex.build(emb, dir, cellCol = Some("label"))
    val queries = emb.filter(col("vec_id") < 5)
    val got = graft.operators.IvfIndex.search(spark, dir, queries, k = 5, nProbe = 3)

    // 1) the probe is a partition prune on the corpus read, not a row filter
    val plan = got.queryExecution.executedPlan.toString
    assert(
      plan.contains("PartitionFilters") && plan.contains("cell"),
      s"probe must prune cell partitions:\n${plan.take(1500)}"
    )

    // 2) same neighbors as the in-memory IVF over the same cells
    val inMem = Similarity
      .ivfTopK(queries, emb.withColumn("cell", col("label")), k = 5, nProbe = 3, cellCol = "cell")
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)]
      .collect()
      .toSet
    val persisted = got
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)]
      .collect()
      .toSet
    assert(persisted === inMem)
  }

  test("filtered search: predicate reaches the scan as PushedFilters beside the cell prune") {
    val emb = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_filt").toString
    // label-as-cell rationale as above; store a second metadata column
    // (vec_id parity) to filter on, so the filter column differs from the
    // cell column and the pushdown is observable independently.
    graft.operators.IvfIndex.build(
      emb.withColumn("parity", col("vec_id") % 2),
      dir,
      cellCol = Some("label"),
      metaCols = Seq("parity")
    )
    val queries = emb.filter(col("vec_id") < 5)
    val got = graft.operators.IvfIndex
      .searchFiltered(spark, dir, queries, k = 5, nProbe = 3, col("parity") === 0)
    val plan = got.queryExecution.executedPlan.toString
    assert(
      plan.contains("PartitionFilters") && plan.contains("cell"),
      s"probe must prune cell partitions:\n${plan.take(1500)}"
    )
    assert(
      plan.contains("PushedFilters") && plan.contains("parity"),
      s"metadata predicate must be pushed to the parquet scan:\n${plan.take(1500)}"
    )
    // every neighbor satisfies the predicate (pre-filter, not post-filter:
    // full k results survive under the 50% predicate)
    val res = got.select("neighbor_id").as[Long].collect()
    assert(res.nonEmpty && res.forall(_ % 2 == 0))
    assert(
      got.groupBy("query_id").count().select("count").as[Long].collect().forall(_ == 5L),
      "k results per query under a 50% predicate"
    )
  }

  test("LSH ANN recovers high-similarity neighbors: recall >= 0.85") {
    // Sign-LSH's collision probability is (1 - θ/π)^bits per band — it is
    // the near-duplicate retrieval structure, sharp for high-cosine pairs
    // and intentionally weak for far ones. Noise 0.05/dim puts
    // within-cluster pairs at cosine ≈ 0.86, where 4 bands × 4 bits gives
    // ≥-one-band collision ≈ 0.93 (at cosine 0.5 it would be ~0.6 — use
    // IVF, which trains to the data, for that regime).
    val rnd = new scala.util.Random(7)
    val dim = 64
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Array.fill(10)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val points = for {
      c <- centers.indices
      i <- 0 until 30
    } yield {
      val p = unit(centers(c).map(_ + 0.05 * rnd.nextGaussian()))
      (c.toLong * 30 + i, p.map(_.toFloat))
    }
    val corpus = points.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 30 === 0)
    def topkSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id")
        .as[(Long, Long)]
        .collect()
        .groupBy(_._1)
        .view
        .mapValues(_.map(_._2).toSet)
        .toMap
    val brute = topkSet(Similarity.bruteTopK(queries, corpus, k = 5))
    val lsh = topkSet(Similarity.lshTopK(queries, corpus, k = 5, dim = dim))
    val recalls = brute.map { case (q, trueSet) =>
      lsh.getOrElse(q, Set.empty).intersect(trueSet).size.toDouble / trueSet.size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.85, s"mean recall@5 (LSH) on clustered corpus was $meanRecall")
  }

  test("k-means training is bit-reproducible across partition layouts") {
    // The decimal-exact M-step makes the trained cells independent of how
    // the corpus happens to be partitioned — the property that makes a
    // 100 TB training job reproducible. Double-sum means would not be.
    val emb = Tables.embeddings(spark, sf)
    def cells(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Similarity
        .kmeansCells(df, kCells = 5, iters = 2)
        .as[(Long, Long)]
        .collect()
        .toMap
    val a = cells(emb.repartition(3))
    val b = cells(emb.repartition(17, col("vec_id")))
    assert(a === b)
  }

  test("vector expressions handle mixed float/double array inputs") {
    // Regression: element type must resolve per side — float embeddings are
    // routinely compared against double centroid literals, and reading a
    // double slot with getFloat returns garbage (not a rounded value).
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0, 2.0, 3.0)))
      .toDF("f", "d")
      .select(
        graft.util.Cols.dot(col("f"), col("d")).as("fd"),
        graft.util.Cols.dot(col("d"), col("f")).as("df"),
        graft.util.Cols.cosine(col("f"), col("d")).as("cfd")
      )
      .as[(Double, Double, Double)]
      .head()
    assert(df._1 === 14.0)
    assert(df._2 === 14.0)
    assert(math.abs(df._3 - 1.0) < 1e-12)
  }

  test("centroids have the embedding dimension and one row per cell") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.centroids(emb).collect()
    assert(cents.length === 10)
    assert(cents.forall(_.getSeq[Double](1).size === 64))
  }

  test("PQ: reranked ADC search reaches high recall vs exact L2; codes are 8 small ints") {
    import graft.operators.Pq
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val cb = Pq.trainCodebooks(emb, m = 8, ksub = 16, dim = 64, iters = 2)
    // every code is a valid centroid id, all m blocks present
    val codes = Pq.encode(emb, cb, dim = 64).collect()
    assert(codes.forall(_.getSeq[Long](1).size === 8))
    assert(codes.forall(_.getSeq[Long](1).forall(c => c >= 0 && c < 16)))

    val q = emb.filter(col("vec_id") < 20)
    val exact = Pq
      .bruteTopKL2(q, emb, k = 5)
      .collect()
      .groupBy(_.getLong(0))
      .view
      .mapValues(_.map(_.getLong(1)).toSet)
      .toMap
    // the persisted two-stage search: ADC shortlist over the stored codes,
    // exact L2 rerank of the shortlist
    val dir = owned(Pq.ensure(freshSf(), emb))
    val reranked = Pq
      .searchReranked(spark, dir, q, emb, dim = 64, k = 5, shortlist = 100)
      .collect()
      .groupBy(_.getLong(0))
      .view
      .mapValues(_.map(_.getLong(1)).toSet)
      .toMap
    val recalls = exact.map { case (qid, t) =>
      reranked.getOrElse(qid, Set.empty).intersect(t).size.toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall@5 after 100-candidate rerank was $mean")
  }

  test("dimCovariance: hand-computed values, partition-invariant native aggregate") {
    // corpus {(1,2), (3,4)}: sums (4, 6), gram (10, 14, 20), n=2 →
    // cov = E[xy] − E[x]E[y] = 1.0 for every cell
    val corpus = Seq(
      (0L, Seq(1.0f, 2.0f)),
      (1L, Seq(3.0f, 4.0f))
    ).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("i", "j", "n", "sxy", "cov")
      .as[(Long, Long, Long, Double, Double)]
      .collect()
      .toSet
    val got = rows(Similarity.dimCovariance(corpus, dim = 2))
    assert(
      got === Set((0L, 0L, 2L, 10.0, 1.0), (0L, 1L, 2L, 14.0, 1.0), (1L, 1L, 2L, 20.0, 1.0)),
      got.toString
    )
    // the Gram aggregate's partial/merge path must be layout-invariant
    val emb = Tables.embeddings(spark, sf)
    val once = rows(Similarity.dimCovariance(emb.coalesce(1), dim = 64))
    val many = rows(Similarity.dimCovariance(emb.repartition(7), dim = 64))
    assert(once === many, "covariance must be bit-identical on any partitioning")
  }

  test("IVF-PQ: search prunes the code read to probed cells and matches exact IVF") {
    import graft.operators.{IvfPq, Similarity}
    val emb = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString + "/idx"
    // label stands in for the cell id so the prune is observable (trained
    // cells on isotropic vectors collapse — same rationale as the IVF
    // tests); build/search mechanics are cell-column-agnostic.
    IvfPq.build(emb, dir, cellCol = Some("label"))
    val queries = emb.filter(col("vec_id") < 5)
    val got = IvfPq.search(spark, dir, queries, emb, dim = 64, k = 5, nProbe = 3,
      shortlist = 1 << 20)

    // 1) the probe is a partition prune on the CODES read, not a row filter
    val plan = got.queryExecution.executedPlan.toString
    assert(
      plan.contains("PartitionFilters") && plan.contains("cell"),
      s"probe must prune cell partitions of the code table:\n${plan.take(1500)}"
    )

    // 2) with an unbounded shortlist the exact rerank sees every probed
    // candidate, so IVF-PQ must equal plain exact IVF over the same cells —
    // ADC can shortlist but never change final ranks
    val exactIvf = Similarity
      .ivfTopK(queries, emb.withColumn("cell", col("label")), k = 5, nProbe = 3, cellCol = "cell")
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)]
      .collect()
      .toSet
    val ivfpq = got
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)]
      .collect()
      .toSet
    assert(ivfpq === exactIvf)
  }

  test("IVF-PQ recovers clustered structure: recall >= 0.85 with a real shortlist") {
    import graft.operators.IvfPq
    // same constructed corpus as the k-means IVF test: trained coarse
    // quantizer + trained PQ codebooks + bounded shortlist must still
    // recover the true neighbors when the data has genuine structure
    val rnd = new scala.util.Random(42)
    val dim = 64
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Array.fill(10)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val points = for {
      c <- centers.indices
      i <- 0 until 30
    } yield {
      val p = unit(centers(c).map(_ + 0.15 * rnd.nextGaussian()))
      (c.toLong * 30 + i, p.map(_.toFloat))
    }
    val corpus = points.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 30 === 0) // one per cluster
    val dir = owned(IvfPq.ensure(freshSf(), corpus))
    def topkSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id")
        .as[(Long, Long)]
        .collect()
        .groupBy(_._1)
        .view
        .mapValues(_.map(_._2).toSet)
        .toMap
    val brute = topkSet(Similarity.bruteTopK(queries, corpus, k = 5))
    val ann = topkSet(
      IvfPq.search(spark, dir, queries, corpus, dim = dim, k = 5, nProbe = 3, shortlist = 30)
    )
    val recalls = brute.map { case (q, trueSet) =>
      ann.getOrElse(q, Set.empty).intersect(trueSet).size.toDouble / trueSet.size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.85, s"mean recall@5 on clustered corpus was $meanRecall")
  }

  test("IVF-PQ filtered: predicate reaches the codes scan as PushedFilters beside the cell prune") {
    import graft.operators.IvfPq
    val emb = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_filt").toString + "/idx"
    // label-as-cell + an independent metadata column (vec_id parity) so
    // the pushdown is observable beside the partition prune — the same
    // construction as the IvfIndex filtered test, now on the CODE table.
    IvfPq.build(
      emb.withColumn("parity", col("vec_id") % 2),
      dir,
      cellCol = Some("label"),
      metaCols = Seq("parity")
    )
    val queries = emb.filter(col("vec_id") < 5)
    val got = IvfPq.searchFiltered(
      spark, dir, queries, emb, dim = 64, k = 5, nProbe = 3,
      shortlist = 1 << 20, predicate = col("parity") === 0
    )
    val plan = got.queryExecution.executedPlan.toString
    assert(
      plan.contains("PartitionFilters") && plan.contains("cell"),
      s"probe must prune cell partitions of the code table:\n${plan.take(1500)}"
    )
    assert(
      plan.contains("PushedFilters") && plan.contains("parity"),
      s"metadata predicate must be pushed to the codes scan:\n${plan.take(1500)}"
    )
    // pre-filter semantics: every neighbor satisfies the predicate and the
    // full k survive under the 50% predicate (a post-filter of unfiltered
    // top-5 would leave ~2.5 per query)
    val res = got.select("neighbor_id").as[Long].collect()
    assert(res.nonEmpty && res.forall(_ % 2 == 0))
    assert(
      got.groupBy("query_id").count().select("count").as[Long].collect().forall(_ == 5L),
      "k results per query under a 50% predicate"
    )
    // with an unbounded shortlist the exact rerank sees every surviving
    // candidate: results must equal exact cosine top-5 over the filtered
    // corpus restricted to the SAME probed cells (probe ranking comes
    // from the index's centroids on both sides)
    val cents = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val scoredRows = graft.operators.IvfIndex
      .probeFrame(queries, cents, nProbe = 3)
      .select(col("query_id"), col("q_emb"), col("cell"))
      .join(
        emb.filter(col("vec_id") % 2 === 0)
          .select(
            col("vec_id").as("neighbor_id"),
            col("label").cast("long").as("cell"),
            col("embedding").as("c_emb")
          ),
        Seq("cell")
      )
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        graft.util.Cols.cosine(col("q_emb"), col("c_emb")).as("cos")
      )
      .as[(Long, Long, Double)]
      .collect()
    val exact = scoredRows
      .groupBy(_._1)
      .toSeq
      .flatMap { case (q, rs) =>
        rs.toSeq.sortBy { case (_, nb, c) => (-c, nb) }.take(5).map(r => (q, r._2))
      }
      .toSet
    val ivfpq = got
      .select("query_id", "neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(ivfpq === exact)
  }

  // ---- data-scaled quantizer machinery (scaledCells / hierCells) ----

  test("assignCells: broadcast-join path is row-identical to the literal path") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.seedCentroids(emb, k = 10)
    def rows(litK: Int): Seq[(Long, Long)] =
      Similarity
        .assignCells(emb, cents, litK)
        .select(col("vec_id"), col("cell").cast("long"))
        .as[(Long, Long)]
        .collect()
        .toSeq
        .sorted
    // litK=0 forces the broadcast-join + max(struct) top-1 path; the
    // default runs the codegen centroid-literal projection. Same tie rule
    // (higher cell wins) on both -> bit-identical assignment.
    assert(rows(litK = 0) === rows(litK = 256))
  }

  test("assignCells broadcast path: broadcast join + partial top-1 aggregate before exchange") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.seedCentroids(emb, k = 10)
    val plan = Similarity.assignCells(emb, cents, litK = 0).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan.take(800))
    // the k-way fan-out must collapse map-side: partial max(struct) before
    // the vec_id exchange, so the shuffle carries one row per vector
    assert(plan.contains("partial_max") || plan.contains("partial_"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("scaledCells: re-split guard bounds realized cell size under 10x replication") {
    val emb = Tables.embeddings(spark, sf)
    val maxCell = 100
    def cellSizes(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      Similarity
        .scaledCells(df, targetCellSize = 50, maxCellSize = maxCell)
        .groupBy("cell")
        .count()
        .as[(Long, Long)]
        .collect()
        .toSeq
        .map(_._2)
    val base = cellSizes(emb)
    // 10x the corpus by id-shifted replication (same embeddings, fresh
    // ids). k scales with N and hot cells re-split, so realized cell
    // sizes stay bounded instead of growing 10x.
    val n = emb.count()
    val rep = (0 until 10)
      .map(i => emb.select((col("vec_id") + lit(i * n)).as("vec_id"), col("embedding")))
      .reduce(_ unionAll _)
    val scaled = cellSizes(rep)
    // salted subcells are multinomial around their expected size <= max;
    // allow 2x slack for hash imbalance on a 5000-row fixture, but NOT
    // the 10x a fixed-cell scheme would show
    assert(scaled.max <= 2L * maxCell, s"max cell ${scaled.max} after 10x replication")
    // within-cell pair mass (the dedup join's cost driver) grows ~linearly
    val pairs0 = base.map(c => c * c).sum.toDouble
    val pairs1 = scaled.map(c => c * c).sum.toDouble
    assert(pairs1 <= 20.0 * pairs0, s"pair mass grew ${pairs1 / pairs0}x on 10x data (quadratic would be 100x)")
  }

  test("hierCells: constant-target fine cells, partition-layout invariant, two-level ids") {
    val emb = Tables.embeddings(spark, sf)
    val target = 50
    val celled = Similarity.hierCells(emb, targetCellSize = target, maxCellSize = 100)
    assert(celled.count() === emb.count(), "every vector assigned exactly one fine cell")
    val sizes = celled.groupBy("cell").count().as[(Long, Long)].collect().toMap
    assert(sizes.values.max <= 2L * 100, s"fine cell over bound: ${sizes.values.max}")
    // bit-reproducible on any partitioning: the construction is closed-form
    val re = Similarity
      .hierCells(emb.repartition(7, col("vec_id")), targetCellSize = target, maxCellSize = 100)
      .select("vec_id", "cell")
      .as[(Long, Long)]
      .collect()
      .toSeq
      .sorted
    val first = celled.select("vec_id", "cell").as[(Long, Long)].collect().toSeq.sorted
    assert(re === first, "hierCells must not depend on partition layout")
  }

  test("hierCells at production shape: 20k vectors, k=400 > litK, bounded cells, level-2 exercised") {
    // The oracle fixtures cap at 2k vectors (k <= 40), so every quantizer
    // query trains on toy cell counts. This pins the REALISTIC shape: 20k
    // vectors -> k = 400 fine cells (> litK=256: level-1 runs the literal
    // path at k1=20 but d_semantic_bigk-style broadcast kicks in if forced),
    // level-2 seeds genuinely distributed (~400 rows over 20 coarse cells).
    val dim = 16
    val rnd = new scala.util.Random(7)
    val n = 20000
    val corpus = (0 until n)
      .map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
      .repartition(8)
    val target = 50
    val celled = Similarity.hierCells(corpus, targetCellSize = target, maxCellSize = 100)
    assert(celled.count() === n.toLong)
    val sizes = celled.groupBy("cell").count().as[(Long, Long)].collect().map(_._2)
    // ~400 realized cells around the 50-row target, every cell under the
    // re-split bound (2x slack for hash multinomial spread)
    assert(sizes.length >= 200, s"expected hundreds of fine cells, got ${sizes.length}")
    assert(sizes.max <= 200, s"fine cell over bound at production shape: ${sizes.max}")
    val mean = sizes.sum.toDouble / sizes.length
    assert(mean <= 2.0 * target, s"mean fine cell $mean drifted far from target $target")
  }

  test("semanticDedup keep policies: Edge inverts the survivor within each duplicate pair") {
    val emb = Tables.embeddings(spark, sf)
    def keptSet(keep: Similarity.KeepPolicy): Set[Long] =
      Similarity
        .semanticDedup(emb, threshold = 0.35, keep = keep)
        .filter(col("kept"))
        .select(col("vec_id"))
        .as[Long]
        .collect()
        .toSet
    val central = keptSet(Similarity.KeepPolicy.Central)
    val edge = keptSet(Similarity.KeepPolicy.Edge)
    // same duplicate graph -> some rows dropped under both policies (only
    // if the corpus has dups at all); the policies must differ somewhere
    // when any neighborhood has members at distinct centroid distances
    val n = emb.count()
    assert(central.size <= n && edge.size <= n)
    if (central.size < n) {
      assert(central !== edge, "Edge policy should keep different members than Central")
    }
  }

  test("contamination and deltaDups count the same cross-split pair set") {
    import graft.util.Cols.md5Long
    val emb = Tables.embeddings(spark, sf)
    val withB = emb.withColumn("bkt", pmod(md5Long(col("vec_id")), lit(100)))
    val test9 = withB.filter(col("bkt") >= 90)
    val train = withB.filter(col("bkt") < 80)
    // both paths probe every subcell of the test vector's coarse cell
    // against the same persisted train quantizer, so the (test, train)
    // match multiset is identical — only the aggregation side differs
    val sfDir = sf
    val contam = graft.operators.SemanticIndex
      .contamination(sfDir, test9, train, threshold = 0.30, targetCellSize = 50, maxCellSize = 100)
    val delta = graft.operators.SemanticIndex
      .deltaDups(sfDir, test9, train, threshold = 0.30, targetCellSize = 50, maxCellSize = 100)
    val trainSide = contam.agg(sum(col("n_test_matches"))).collect()(0).getLong(0)
    val testSide = delta.agg(sum(col("n_dups"))).collect()(0).getLong(0)
    assert(trainSide == testSide, "pair-count must agree across aggregation sides")
    // flagged train vectors must be train ids, never test ids
    val flagged = contam.select("vec_id").as[Long].collect().toSet
    val trainIds = train.select("vec_id").as[Long].collect().toSet
    assert(flagged.subsetOf(trainIds))
  }
}
