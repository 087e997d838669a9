package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark main: runs every registered query against
  * sys.env("SPARK_GRAFT_SF_DIR") and prints ONE JSON line with per-query
  * seconds. Each query is forced with a noop-datasource write: unlike
  * `.count()` (under which Catalyst's EliminateSorts legally drops top-level
  * ORDER BYs), the noop sink consumes every output row, so declared sorts
  * are part of what gets measured.
  */
object Bench {
  type Runner = (SparkSession, String) => DataFrame

  /** Where one run of a query spent its time. `constructS` is
    * `fn(spark, sfDir)` with the eager jobs it runs (checkpoints, asset
    * builds, fingerprint scans); `execS` is the noop write. Jobs are
    * counted per phase through the run's job group; `compiles` is Spark's
    * codegen compile count over both phases; `catalystMs` sums the
    * QueryPlanningTracker phases (analysis, optimization, planning) of the
    * returned frame and of every action the run executes.
    */
  final case class Layers(
      constructS: Double,
      execS: Double,
      constructJobs: Int,
      execJobs: Int,
      compiles: Long,
      catalystMs: Long
  ) {
    def totalS: Double = constructS + execS
    def json: String =
      s"""{"construct_s":${f3(constructS)},"exec_s":${f3(execS)},"construct_jobs":$constructJobs,""" +
        s""""exec_jobs":$execJobs,"compiles":$compiles,"catalyst_ms":$catalystMs}"""
  }

  /** The timed queries with their best run's layers, and the queries that
    * threw: a failed query is named and left out of the total and count.
    */
  final case class Sweep(timed: Seq[(String, Layers)], failed: Seq[String]) {
    def total: Double = timed.map(_._2.totalS).sum

    /** Per-query detail for `target/bench_last.json`. */
    def full(calib: Double, outrows: String, sfDir: String): String = {
      def obj(f: Layers => String) =
        timed.map { case (k, l) => "\"" + k + "\":" + f(l) }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","calib":${f3(calib)},"queries":${obj(l => f3(l.totalS))}$outrows,""" +
        s""""layers":${obj(_.json)},"failed":${failed.map(n => "\"" + n + "\"").mkString("[", ",", "]")},"sf":"$sfDir"}"""
    }

    /** The stdout line the harness parses. */
    def compact(calib: Double, sfDir: String): String =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","nqueries":${timed.size},"calib":${f3(calib)},"sf":"$sfDir"}"""
  }

  def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  private def catalystMs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum

  /** Best-of-2 per query: a single-tenant steady-state measurement. This
    * box is a shared-host VM — one-shot timings wobble ±35% under
    * neighbor CPU contention, which is noise about the engine's plans,
    * not signal. The noop sink still forces the complete plan both runs.
    */
  def run(spark: SparkSession, sfDir: String, queries: Seq[(String, Runner)]): Sweep = {
    val sc = spark.sparkContext
    // Catalyst ms of every action a run executes: the noop write plans
    // the returned frame in its own QueryExecution, and eager jobs in
    // construction run theirs.
    val actionsMs = new java.util.concurrent.atomic.AtomicLong
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { actionsMs.addAndGet(catalystMs(qe)); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = { actionsMs.addAndGet(catalystMs(qe)); () }
    }

    // One run: construct, then the noop write, each phase under its own
    // job group. Counters are read after the last clock read.
    def once(name: String, fn: Runner, run: Int): Layers = {
      val group = s"bench:$name:$run"
      def phase(p: String): Unit = sc.setJobGroup(s"$group:$p", s"$name $p", interruptOnCancel = false)
      Bridge.drainListenerBus(sc)
      actionsMs.set(0)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try {
        phase("construct")
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        phase("exec")
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        Bridge.drainListenerBus(sc)
        def jobs(p: String) = sc.statusTracker.getJobIdsForGroup(s"$group:$p").length
        Layers(
          (t1 - t0) / 1e9,
          (t2 - t1) / 1e9,
          jobs("construct"),
          jobs("exec"),
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
          catalystMs(df.queryExecution) + actionsMs.get
        )
      } finally sc.clearJobGroup()
    }

    val failed = scala.collection.mutable.ArrayBuffer[String]()
    spark.listenerManager.register(listener)
    val timed =
      try queries.flatMap { case (name, fn) =>
        try {
          val a = once(name, fn, 1)
          val b = once(name, fn, 2)
          val (lo, hi) = if (b.totalS < a.totalS) (b, a) else (a, b)
          // Shared-host CPU-steal spikes show up as one run being a multiple of
          // the other; a third run disambiguates noise from plan cost so a
          // single contended measurement can't masquerade as a regression.
          val best =
            if (hi.totalS > 2 * lo.totalS && lo.totalS > 0.2)
              Seq(lo, once(name, fn, 3)).minBy(_.totalS)
            else lo
          Some(name -> best)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            failed += name
            None
        }
      }
      finally spark.listenerManager.unregister(listener)
    Sweep(timed, failed.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session(Session.envCores)
    // Untimed harness warmup: spin up the executor pool, codegen compiler,
    // shuffle machinery, and parquet reader once, so the first measured
    // query reports its own cost rather than session initialization.
    // Query-specific work (its codegen compile, its scans) is still timed.
    spark.range(1000000).selectExpr("sum(id % 7) AS s")
      .write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/region.parquet")
      .write.format("noop").mode("overwrite").save()
    val only = Session.only
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
    val sweep = run(spark, sfDir,
      SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) => only.forall(_.contains(name)) })
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
    // Per-query detail goes to a file: at ~180 queries the full line is
    // ~6 KB, which overflows the harness's bounded stdout-tail capture.
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target/bench_last.json"),
      (sweep.full(calib, outrows, sfDir) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    )
    spark.stop()
    // The harness parses the last JSON line of a 2000-char stdout tail, so
    // the LAST line must be the compact JSON (~110 chars, comfortably
    // inside the capture) — printed after spark.stop() so no executor
    // shutdown chatter can land below it.
    println(sweep.compact(calib, sfDir))
    System.out.flush()
    if (sweep.failed.nonEmpty) sys.exit(1)
  }
}
