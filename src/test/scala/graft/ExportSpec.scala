package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TrainExport

/** Training-corpus export contract: packed shards + integrity manifest.
  * What must hold for a delivery artifact: every document's tokens land in
  * exactly one shard, the manifest certifies the written bytes, rebuilds
  * are no-ops, and a single-shard read is partition-pruned (the
  * data-loader access path).
  */
class ExportSpec extends AnyFunSuite with ScratchAssets {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = {
    val rnd = new scala.util.Random(5)
    val words = Vector("spark", "shuffle", "catalyst", "parquet", "tungsten",
      "executor", "partition", "broadcast")
    (1L to 120L).map { id =>
      val n = 10 + rnd.nextInt(30)
      val text = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
      (id, if (id % 3 == 0) "web" else "books", text)
    }.toDF("doc_id", "source", "text")
  }

  test("export conserves documents and tokens; manifest certifies written shards") {
    val docs = corpus
    val dir = owned(TrainExport.ensure(freshSf(), docs))
    val man = TrainExport.manifest(spark, dir)
    val shards = spark.read.parquet(s"$dir/shards")
    // conservation: every doc in exactly one pack, every pack in one shard
    assert(man.agg(sum("n_docs")).as[Long].head() === docs.count())
    val nTok = docs
      .select(size(graft.operators.Text.tokensAll(col("text"))).cast("long"))
      .as[Long]
      .collect()
      .sum
    assert(man.agg(sum("total_tokens")).as[Long].head() === nTok)
    // manifest content_md5 reproduces from the written shard rows
    val recomputed = shards
      .groupBy(col("source"), col("shard"))
      .agg(
        md5(
          concat_ws(
            "",
            transform(
              array_sort(collect_list(struct(col("pack_id"), col("seq_md5")))),
              e => e.getField("seq_md5")
            )
          )
        ).as("content_md5")
      )
    val joined = man
      .select(col("source"), col("shard"), col("content_md5").as("m"))
      .join(recomputed, Seq("source", "shard"))
      .filter(col("m") =!= col("content_md5"))
    assert(joined.count() === 0, "manifest hash must match written bytes")
    // seq_md5 really hashes the payload
    val bad = shards.filter(md5(col("seq_text")) =!= col("seq_md5")).count()
    assert(bad === 0)
  }

  test("rebuild is a no-op on an already-published export") {
    val docs = corpus
    val sf = freshSf()
    val dir = owned(TrainExport.ensure(sf, docs))
    val marker = new java.io.File(s"$dir/_SUCCESS")
    assert(marker.exists())
    val t0 = marker.lastModified()
    assert(TrainExport.ensure(sf, docs) === dir)
    assert(marker.lastModified() === t0, "second build must not rewrite")
  }

  test("single-shard read is partition-pruned (the data-loader path)") {
    val docs = corpus
    val dir = owned(TrainExport.ensure(freshSf(), docs))
    val one = TrainExport.shard(spark, dir, "books", 0L)
    val plan = one.queryExecution.executedPlan.toString
    assert(
      plan.contains("PartitionFilters") && plan.contains("shard"),
      s"shard read must prune directories, not filter rows:\n${plan.take(1200)}"
    )
    assert(one.count() > 0)
    assert(one.count() < spark.read.parquet(s"$dir/shards").count())
  }

  test("tokenizer export: read-back round-trip — merges re-encode, ids line up, manifest certifies") {
    import graft.operators.{TextAnalysis, TokenizerExport}
    val docs = corpus.select(col("doc_id"), col("text"))
    val sf = freshSf()
    val dir = owned(TokenizerExport.ensure(sf, docs, bpeSteps = 6,
      uniVocab = 24, uniPieceLen = 4, uniRounds = 1))
    val merges = TokenizerExport.merges(spark, dir)
    val vocab = TokenizerExport.vocab(spark, dir).cache()
    val man = TokenizerExport.manifest(spark, dir).head()

    // 1. the READ-BACK merge rules reproduce the live trainer's encoding
    //    of an unseen word (the consumer contract: rules on disk are the
    //    tokenizer)
    val readRules = merges
      .orderBy("step")
      .select(col("x"), col("y"))
      .as[(String, String)]
      .collect()
      .toSeq
    val liveRules = TextAnalysis
      .bpeTrainWordsByteLevel(
        docs.select(explode(graft.operators.Text.tokensUnicodeAll(col("text"))).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).cast("long").as("cnt")),
        6
      )._1.orderBy("step").select(col("x"), col("y")).as[(String, String)].collect().toSeq
    assert(readRules === liveRules)
    val probe = Seq(("sparkle catalyst", 0L)).toDF("w", "z")
    val encRead = probe
      .select(TextAnalysis.bpeApplyMerges(TextAnalysis.byteSeq(col("w")), readRules))
      .as[String].head()
    val encLive = probe
      .select(TextAnalysis.bpeApplyMerges(TextAnalysis.byteSeq(col("w")), liveRules))
      .as[String].head()
    assert(encRead === encLive)

    // 2. id-table invariants: bytes own 0..255 exactly, merge ids are
    //    255+step, all ids unique, vocab_size matches the manifest
    assert(vocab.filter(col("kind") === "byte").count() === 256L)
    assert(
      vocab.filter(col("kind") === "byte")
        .filter(col("id") < 0L || col("id") > 255L).count() === 0L)
    assert(vocab.filter(col("kind") === "merge" && col("id") <= 255L).count() === 0L)
    assert(vocab.select(countDistinct(col("id"))).as[Long].head() === vocab.count())
    assert(man.getAs[Long]("vocab_size") === vocab.count())
    assert(man.getAs[Long]("n_merges") === merges.count())

    // 3. the manifest hash re-verifies against the read-back bytes — the
    //    post-copy integrity check a consumer runs
    val recomputed = vocab
      .select(struct(col("id").as("o"), concat_ws(":", col("id"), col("sym")).as("s")).as("r"))
      .agg(md5(concat_ws("|",
        transform(array_sort(collect_list(col("r"))), _.getField("s")))))
      .as[String].head()
    assert(recomputed === man.getAs[String]("vocab_md5"))

    // 4. rebuild is a no-op (atomic-publication contract)
    val marker = new java.io.File(s"$dir/_SUCCESS")
    val t0 = marker.lastModified()
    assert(TokenizerExport.ensure(sf, docs, 6, 24, 4, 1) === dir)
    assert(marker.lastModified() === t0)
    vocab.unpersist()
  }
}
