package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Measurement harness for the sampled LSH evaluation (BASELINE.md's
  * "show the sampling bound doing work" entry):
  *
  *   sbt "Test/runMain graft.LshSampleBenchMain <sfDir> [rates]"
  *
  * Runs [[Dedup.lshEvalSampled]] over a FINER block column than lang
  * (lang # doc_id%16 — the documented 100 TB usage: inverseRate rises
  * with block count) at each inverse rate, reports wall time and the
  * sampled universe size, and asserts that every surviving block's
  * confusion-matrix row is bit-identical to the full (rate-1) harness's
  * row for that block — the exactness contract the sampling claims.
  */
object LshSampleBenchMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/sf1")
    val rates = args.drop(1).headOption
      .map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(1, 2, 4, 8))
    val spark = Session(Session.envCores)
    val docs = Tables.documents(spark, sfDir)
      .withColumn("blk16", concat(col("lang"), lit("#"), pmod(col("doc_id"), lit(16L))))
      .localCheckpoint()
    // warmup (codegen + shuffle machinery) on a tiny slice
    Dedup.lshEvalSampled(docs.limit(500), "blk16", inverseRate = 4).collect()

    def cells(df: org.apache.spark.sql.DataFrame): Map[String, String] =
      df.filter(col("blk") =!= "ALL").collect()
        .map(r => r.getString(0) -> r.toString).toMap

    var full: Map[String, String] = Map.empty
    rates.foreach { r =>
      val t0 = System.nanoTime()
      val res = Dedup
        .lshEvalSampled(docs, "blk16", Dedup.JaccardThreshold, inverseRate = r)
        .collect()
      val sec = (System.nanoTime() - t0) / 1e9
      val byBlk = res.filter(_.getString(0) != "ALL").map(r2 => r2.getString(0) -> r2.toString).toMap
      val nDocs = Dedup.lshEvalSample(docs, "blk16", r).count()
      if (r == 1) full = byBlk
      else if (full.nonEmpty) {
        byBlk.foreach { case (blk, row) =>
          require(full(blk) == row, s"rate $r: block $blk cell diverged from the full harness")
        }
      }
      println(
        f"""{"rate":$r,"sec":$sec%.2f,"blocks":${byBlk.size},"docs":$nDocs,"cells_bit_identical":${r == 1 || full.nonEmpty}}"""
      )
    }
    spark.stop()
  }
}
