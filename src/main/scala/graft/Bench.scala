package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query against
  * sys.env("SPARK_GRAFT_SF_DIR") and prints ONE JSON line with per-query
  * seconds. Each query is forced with a noop-datasource write: unlike
  * `.count()` (under which Catalyst's EliminateSorts legally drops top-level
  * ORDER BYs), the noop sink consumes every output row, so declared sorts
  * are part of what gets measured.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // Local-iteration conf overrides (semicolon-separated k=v pairs), for
    // A/B-ing session settings without a code edit. The driver sets no
    // overrides, so the benched defaults above ARE the measured config —
    // this knob exists to MEASURE candidate defaults, not to ship them.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach {
      _.split(";").map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k.trim, v.trim)
      }
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed harness warmup: spin up the executor pool, codegen compiler,
    // shuffle machinery, and parquet reader once, so the first measured
    // query reports its own cost rather than session initialization.
    // Query-specific work (its codegen compile, its scans) is still timed.
    spark.range(1000000).selectExpr("sum(id % 7) AS s")
      .write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/region.parquet")
      .write.format("noop").mode("overwrite").save()
    // Best-of-2 per query: a single-tenant steady-state measurement. This
    // box is a shared-host VM — one-shot timings wobble ±35% under
    // neighbor CPU contention, which is noise about the engine's plans,
    // not signal. The noop sink still forces the complete plan both runs.
    // Local-iteration filter, mirroring Verify: SPARK_GRAFT_ONLY=q_a,q_b
    // times just those queries. The driver sets no filter.
    // Empty-string tolerance: SPARK_GRAFT_ONLY="" would otherwise yield
    // Set("") which filters out EVERY query and emits an official-looking
    // 0-query total. Blank names are dropped; an all-blank var means no
    // filter.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    // CPU-bound calibration control: fixed work (3G codegen'd xxhash64
    // rows over 32 fixed partitions, no I/O, no shuffle beyond the final
    // 1-row agg), recorded beside the query timings. Cross-round ratios
    // divide out host contention through this number — the venue factor
    // stopped being guesswork in r16. min-of-3: the control measures the
    // box's best case, not its noise.
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 3L << 30, 1L, 32)
        .selectExpr("xxhash64(id, id + 2654435761) AS h")
        .selectExpr("bit_xor(h) AS s") // overflow-free under ANSI mode
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // full sweeps only: a SPARK_GRAFT_ONLY local iteration shouldn't pay
    // three fixed-work scans for a control that's meaningless off-campaign
    val calib =
      if (only.isDefined) 0.0
      else Seq(calibOnce(), calibOnce(), calibOnce()).min
    // A query that throws is named in `failed` and left out of the timings
    // (so out of `value` and `nqueries`); the process then exits 1.
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      try {
        val a = once()
        val b = once()
        // Shared-host CPU-steal spikes show up as one run being a multiple of
        // the other; a third run disambiguates noise from plan cost so a
        // single contended measurement can't masquerade as a regression.
        val best =
          if (math.max(a, b) > 2 * math.min(a, b) && math.min(a, b) > 0.2)
            math.min(math.min(a, b), once())
          else math.min(a, b)
        Some(name -> best)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
          None
      }
    }
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Output-bound diagnostics: for these queries the honest scale
    // denominator is OUTPUT rows, not input rows (m_video_dups' true pair
    // set grows ~quadratically on a duplication-heavy fixture while its
    // per-output cost stays flat). An untimed run records the row count
    // beside the timings so the cross-scale ratio self-documents; the
    // linear-output forms (clusters/capped/delta) are the pipeline path.
    val outRowQueries = Seq("m_video_dups", "m_video_dups_capped", "m_video_clusters")
    val outrows =
      if (only.isDefined) ""
      else {
        val counts = outRowQueries.flatMap { n =>
          SparkEntry.queries.get(n).map { fn =>
            val c = try fn(spark, sfDir).count()
            catch { case _: Throwable => -1L }
            s"\"" + n + "\":" + c
          }
        }
        s""","outrows":${counts.mkString("{", ",", "}")}"""
      }
    val full =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","calib":${f3(calib)},"queries":$qs$outrows,""" +
        s""""failed":${failed.map(n => "\"" + n + "\"").mkString("[", ",", "]")},"sf":"$sfDir"}"""
    // Per-query detail goes to a file: at ~180 queries the full line is
    // ~6 KB, which overflows the harness's bounded stdout-tail capture.
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target/bench_last.json"),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    )
    spark.stop()
    // The harness parses the last JSON line of a 2000-char stdout tail, so
    // the LAST line must be the compact JSON (~110 chars, comfortably
    // inside the capture) — printed after spark.stop() so no executor
    // shutdown chatter can land below it.
    val compact =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","nqueries":${results.size},"calib":${f3(calib)},"sf":"$sfDir"}"""
    println(compact)
    System.out.flush()
    if (failed.nonEmpty) sys.exit(1)
  }
}
