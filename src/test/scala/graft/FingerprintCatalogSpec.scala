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
class FingerprintCatalogSpec extends AnyFunSuite with ScratchAssets {
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

  /** [[Indexes.ensureUnder]] a scratch root with a build body that only
    * counts: the asset call's location and publication, without a layout.
    */
  private val root = scratchDir("fpcat_assets")
  private val builds = new java.util.concurrent.atomic.AtomicInteger
  private def locate(sfDir: String, df: org.apache.spark.sql.DataFrame, params: String = ""): String =
    Indexes.ensureUnder(root, "fpcat-test", sfDir, df, "doc_id", "text", params) { _ =>
      builds.incrementAndGet(); ()
    }

  test("warm catalog: locating an asset dir runs ZERO Spark jobs; cold path records it") {
    val docs = Tables.documents(spark, sf)
    // cold: the content scan runs (>= 1 job) and records the catalog entry
    val d1 = locate(sf, docs, "v=1")
    // warm: same frame, same files -> catalog hit, no jobs at all
    var d2: String = null
    val warmJobs = jobsDuring {
      d2 = locate(sf, Tables.documents(spark, sf), "v=1")
    }
    assert(d2 === d1)
    assert(warmJobs === 0, s"warm catalog lookup must not scan, ran $warmJobs job(s)")
  }

  test("data edit re-keys: same path, new bytes -> new fingerprint dir") {
    val tmp = scratchDir("fpcat_edit")
    import spark.implicits._
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/t")
    val read1 = spark.read.parquet(s"$tmp/t")
    val d1 = locate(tmp, read1)
    // in-place edit: same directory, different content (and different
    // file size/mtime) — the catalog must NOT serve the recorded dir
    Seq((1L, "alpha"), (2L, "gamma-edited")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/t")
    val d2 = locate(tmp, spark.read.parquet(s"$tmp/t"))
    assert(d1 !== d2, "edited data must map to a new fingerprint dir")
  }

  test("derivation change re-keys: a transformed frame never reuses the raw frame's entry") {
    val docs = Tables.documents(spark, sf)
    val raw = locate(sf, docs, "v=2")
    val derived = locate(sf, docs.filter(col("doc_id") % 2 === 0), "v=2")
    assert(raw !== derived)
    // and the derived entry is itself cached after first computation
    val warmJobs = jobsDuring {
      locate(sf, Tables.documents(spark, sf).filter(col("doc_id") % 2 === 0), "v=2")
    }
    assert(warmJobs === 0)
  }

  test("non-file-backed frames bypass the catalog but resolve identically") {
    val docs = Tables.documents(spark, sf)
    val direct = locate(sf, docs, "v=3")
    // a localCheckpoint leaf has no cheap observable data identity: the
    // catalog must NOT key it (every call pays the scan), and the content
    // fingerprint still lands on the same dir — same bytes, same key
    val chk = docs.select(col("doc_id"), col("text")).localCheckpoint()
    val viaScan = locate(sf, chk, "v=3")
    assert(viaScan === direct)
    val bypassJobs = jobsDuring {
      locate(sf, chk, "v=3")
    }
    assert(bypassJobs > 0, "an RDD-backed frame must keep the content scan")
  }

  test("one asset call: two calls run one build and publish the root marker") {
    val docs = Tables.documents(spark, sf)
    val before = builds.get()
    val d1 = locate(sf, docs, "v=4")
    val d2 = locate(sf, Tables.documents(spark, sf), "v=4")
    assert(d1 === d2)
    assert(builds.get() - before === 1, "the second call must resolve, not build")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$d1/_SUCCESS")))
  }

  test("a dir laid out by an earlier build (marker in a subdir only) resolves with zero builds") {
    import java.nio.file.{Files, Paths}
    val docs = Tables.documents(spark, sf)
    val dir = locate(sf, docs, "v=5")
    // the layout an asset published with a per-family marker has: no root
    // marker, only e.g. gates/_SUCCESS — the dir's presence is the commit
    Indexes.deleteRecursively(Paths.get(dir))
    Files.createDirectories(Paths.get(s"$dir/gates"))
    Files.createFile(Paths.get(s"$dir/gates/_SUCCESS"))
    val before = builds.get()
    var again: String = null
    val jobs = jobsDuring { again = locate(sf, Tables.documents(spark, sf), "v=5") }
    assert(again === dir)
    assert(builds.get() === before, "an existing asset dir must not be rebuilt")
    assert(jobs === 0, s"resolving an existing asset ran $jobs job(s)")
    assert(!Files.exists(Paths.get(s"$dir/_SUCCESS")), "a resolved asset is not rewritten")
  }

  test("a typed mapPartitions corpus builds once and adds no catalog entry") {
    import java.nio.file.{Files, Paths}
    // a typed operator's closure prints its per-JVM identity in the plan
    // string, so a catalog key over it never matches a second build of
    // the same frame: such frames must keep the content scan and leave
    // the catalog alone
    def corpus() = graft.operators.Multimodal
      .embedBatchStub(spark, graft.operators.Multimodal.withPayload(Tables.documents(spark, sf)))
    def ensure(df: org.apache.spark.sql.DataFrame): String =
      Indexes.ensureUnder(root, "fpcat-test", sf, df, "doc_id", "embedding", "v=6") { _ =>
        builds.incrementAndGet(); ()
      }
    val catalog = Paths.get("target/fpcatalog")
    def entries(): Long =
      if (!Files.isDirectory(catalog)) 0L
      else {
        val l = Files.list(catalog)
        try l.count()
        finally l.close()
      }
    val (b0, n0) = (builds.get(), entries())
    val d1 = ensure(corpus())
    val d2 = ensure(corpus())
    assert(d1 === d2)
    assert(builds.get() - b0 === 1, "the second call must resolve, not build")
    assert(entries() === n0, "a plan holding a JVM function must not key the catalog")
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
