package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Indexes

/** The fingerprint catalog's contract: persisted-asset LOCATION is free in
  * the steady state (zero Spark jobs — no corpus-payload scan just to find
  * an asset), while staleness safety is unchanged — any data edit or
  * derivation change re-keys and falls back to the content scan.
  */
class FingerprintCatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Count Spark jobs started while `body` runs. The listener bus is
    * async; drain it before reading the counter.
    */
  private def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; Bridge.drainListenerBus(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    n.get()
  }

  test("warm catalog: locating an asset dir runs ZERO Spark jobs; cold path records it") {
    val docs = Tables.documents(spark, sf)
    // cold: the content scan runs (>= 1 job) and records the catalog entry
    val d1 = Indexes.fingerprintDirOn("fpcat-test", sf, docs, "doc_id", "text", "v=1")
    // warm: same frame, same files -> catalog hit, no jobs at all
    var d2: String = null
    val warmJobs = jobsDuring {
      d2 = Indexes.fingerprintDirOn("fpcat-test", sf, Tables.documents(spark, sf), "doc_id", "text", "v=1")
    }
    assert(d2 === d1)
    assert(warmJobs === 0, s"warm catalog lookup must not scan, ran $warmJobs job(s)")
  }

  test("data edit re-keys: same path, new bytes -> new fingerprint dir") {
    val tmp = java.nio.file.Files.createTempDirectory("fpcat_edit").toString
    import spark.implicits._
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/t")
    val read1 = spark.read.parquet(s"$tmp/t")
    val d1 = Indexes.fingerprintDirOn("fpcat-test", tmp, read1, "doc_id", "text")
    // in-place edit: same directory, different content (and different
    // file size/mtime) — the catalog must NOT serve the recorded dir
    Seq((1L, "alpha"), (2L, "gamma-edited")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/t")
    val d2 = Indexes.fingerprintDirOn("fpcat-test", tmp, spark.read.parquet(s"$tmp/t"), "doc_id", "text")
    assert(d1 !== d2, "edited data must map to a new fingerprint dir")
  }

  test("derivation change re-keys: a transformed frame never reuses the raw frame's entry") {
    val docs = Tables.documents(spark, sf)
    val raw = Indexes.fingerprintDirOn("fpcat-test", sf, docs, "doc_id", "text", "v=2")
    val derived = Indexes.fingerprintDirOn(
      "fpcat-test", sf,
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", "v=2")
    assert(raw !== derived)
    // and the derived entry is itself cached after first computation
    val warmJobs = jobsDuring {
      Indexes.fingerprintDirOn(
        "fpcat-test", sf,
        Tables.documents(spark, sf).filter(col("doc_id") % 2 === 0), "doc_id", "text", "v=2")
    }
    assert(warmJobs === 0)
  }

  test("non-file-backed frames bypass the catalog but resolve identically") {
    val docs = Tables.documents(spark, sf)
    val direct = Indexes.fingerprintDirOn("fpcat-test", sf, docs, "doc_id", "text", "v=3")
    // a localCheckpoint leaf has no cheap observable data identity: the
    // catalog must NOT key it (every call pays the scan), and the content
    // fingerprint still lands on the same dir — same bytes, same key
    val chk = docs.select(col("doc_id"), col("text")).localCheckpoint()
    val viaScan = Indexes.fingerprintDirOn("fpcat-test", sf, chk, "doc_id", "text", "v=3")
    assert(viaScan === direct)
    val bypassJobs = jobsDuring {
      Indexes.fingerprintDirOn("fpcat-test", sf, chk, "doc_id", "text", "v=3")
    }
    assert(bypassJobs > 0, "an RDD-backed frame must keep the content scan")
  }

  test("end to end: a warmed ensure-asset call issues zero jobs (location + marker check only)") {
    val docs = Tables.documents(spark, sf)
    // first call may build (jobs); second call must resolve the dir from
    // the catalog and see the completion marker — no scan, no build
    graft.operators.TextAnalysis.ensureCleanGateAsset(sf, docs)
    val warmJobs = jobsDuring {
      graft.operators.TextAnalysis.ensureCleanGateAsset(sf, Tables.documents(spark, sf))
    }
    assert(warmJobs === 0, s"warmed ensureCleanGateAsset ran $warmJobs job(s)")
  }
}
