package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Registry, Tables}
import graft.operators.{Anagrams, Curation, Text}
import graft.sources.TextSource
import graft.streaming.CurationGateStream

/** One benchmark process: builds Bench's session, runs one workload's first
  * pass, a warm-up pass and then repeat passes for a fixed time, and writes
  * what it measured as one JSON object to `--out`. The working directory is the run's own
  * scratch directory; everything the program writes relative to it (its
  * asset cache under `target/`) lives and dies with the run.
  *
  * With `--trace 1` a listener, a query-execution listener and codegen
  * counter snapshots attribute the first pass to layers, and extra probes
  * (prefix cuts, table scans, the fold call, a calibration loop) run after
  * the timed passes. Spans are kept in memory and written at the end.
  */
object Harness {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def now(): Double = System.nanoTime() / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** A named unit of timed work: `construct` builds the plan (and runs any
    * eager jobs the program hides there), `exec` forces it.
    */
  final case class Step(name: String, construct: () => DataFrame, exec: DataFrame => Unit)

  private def queryStep(name: String, spark: SparkSession, tables: String): Step =
    Step(name, () => Registry.byName(name).run(spark, tables), noop)

  /** The paper's job: `*.txt` directory → stop words → tokens → anagram
    * groups → one merged text file.
    */
  private def anagramStep(spark: SparkSession, corpus: String, stop: String, out: () => String): Step =
    Step(
      "anagram_books",
      () => {
        val docs = TextSource.readTxtDir(spark, corpus).select(col("value").as("text"))
        val sw = TextSource.stopWordsFile(spark, stop)
        Anagrams.groups(docs.select(explode(Text.tokens(col("text"), sw)).as("word")))
      },
      g => Anagrams.writeSingleText(g, out())
    )

  /** `pipelines_cold`'s registry queries, in pass order. */
  val Pipelines: Seq[String] = Seq("pipe_crawl_e2e", "pipe_curate_e2e")

  /** Task, job and Catalyst counters, summed over the events the listener
    * bus delivers between two [[sync]] calls.
    */
  final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
    private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    /** Jobs per short call site, the program line that submitted them. */
    val callSites = mutable.Map.empty[String, Int].withDefaultValue(0)
    private val executionSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    private val sentinelStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private val sentinelsDone = new AtomicLong(0)
    private val Sentinel = "graftbench-sentinel"

    private def add(k: String, v: Double): Unit = counts.synchronized { counts(k) += v }

    def snapshot(): Map[String, Double] = counts.synchronized(counts.toMap)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      if (props.exists(p => p.getProperty("spark.job.description") == Sentinel))
        e.stageIds.foreach(sentinelStages.add)
      else {
        // A SQL job is attributed to its execution's call site: adaptive
        // execution submits stage jobs from its own threads, so their
        // result stage names point into Spark, not into the program.
        val execution = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(executionSites.get(id.toLong)))
        val site = execution.getOrElse(
          if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
        add("jobs.total", 1)
        counts.synchronized(callSites(site) += 1)
        if (site.contains("heckpoint")) add("jobs.checkpoint", 1)
        else if (Tracer.isWrite(site)) add("jobs.write", 1)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executionSites.put(s.executionId, s.description)
      case _ =>
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (sentinelStages.remove(e.stageInfo.stageId)) sentinelsDone.incrementAndGet()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && !sentinelStages.contains(e.stageId)) {
        add("executor.tasks", 1)
        add("executor.run_s", m.executorRunTime / 1e3)
        add("executor.cpu_s", m.executorCpuTime / 1e9)
        add("executor.gc_s", m.jvmGCTime / 1e3)
        add("exchange.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exchange.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        add("exchange.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("exchange.spill_bytes", m.diskBytesSpilled.toDouble)
        add("sources.bytes_read", m.inputMetrics.bytesRead.toDouble)
        add("sources.records_read", m.inputMetrics.recordsRead.toDouble)
        add("output.bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }

    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) => add(s"catalyst.${phase}_ms", s.durationMs.toDouble) }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

    /** Returns once the bus has delivered every event posted before the
      * call: a one-task sentinel job is submitted and awaited on the same
      * queue the listeners sit on. Its own events are not counted.
      */
    def sync(): Unit = {
      val target = sentinelsDone.get() + 1
      val sc = spark.sparkContext
      sc.setJobDescription(Sentinel)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (sentinelsDone.get() < target && System.nanoTime() < deadline) Thread.sleep(1)
    }
  }

  object Tracer {
    def isWrite(site: String): Boolean =
      !site.contains("Harness.scala") &&
        Seq("parquet at ", "save at ", "text at ", "json at ", "csv at ", "insertInto at ", "saveAsTable at ")
          .exists(site.startsWith)
  }

  private def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  private def copyDir(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { s =>
      val d = dst.resolve(src.relativize(s).toString)
      if (Files.isDirectory(s)) Files.createDirectories(d) else Files.copy(s, d)
    }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => quote(k) + ":" + v }.mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val data = args("data")
    val tables = s"$data/tables"
    val cpus = args("cpus").toInt
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = Paths.get("").toAbsolutePath

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = System.currentTimeMillis()
    // Bench's untimed warm-up, counted in set-up time and in no pass.
    noop(spark.range(1000000).selectExpr("sum(id % 7) AS s"))
    noop(spark.read.parquet(s"$tables/region.parquet"))
    val readyMs = System.currentTimeMillis()

    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    def sync(): Unit = tracer.foreach(_.sync())
    def counter(k: String): Double = tracer.map(_.snapshot().getOrElse(k, 0.0)).getOrElse(0.0)

    val corpus = s"$data/corpus"
    val stop = s"$data/stopwords.txt"
    var passNo = 0
    val steps: Seq[Step] = workload match {
      case "anagram_books" =>
        Seq(anagramStep(spark, corpus, stop, () => work.resolve(s"anagrams/pass-$passNo").toString))
      case "pipelines_cold" => Pipelines.map(queryStep(_, spark, tables))
      case other => sys.error(s"unknown workload $other")
    }

    val failed = mutable.LinkedHashMap.empty[String, String]
    val lastPlans = mutable.LinkedHashMap.empty[String, DataFrame]
    val layer = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val spans = mutable.ArrayBuffer.empty[String]
    def span(name: String, parent: String, t0: Double, t1: Double): Unit =
      if (trace) spans += obj(Seq("name" -> quote(name), "parent" -> quote(parent),
        "start_s" -> num(t0), "end_s" -> num(t1)))

    /** One pass over the workload's steps; a step that throws is recorded
      * as failed, left out of the pass and not run again.
      */
    def runPass(): (Double, Seq[(String, Double)]) = {
      val traced = trace && passNo == 0
      val passName = s"pass-$passNo"
      val p0 = now()
      val times = steps.filterNot(st => failed.contains(st.name)).flatMap { st =>
        try {
          val j0 = counter("jobs.total")
          val t0 = now()
          val plan = st.construct()
          val t1 = now()
          if (traced) sync()
          val j1 = counter("jobs.total")
          val t2 = now()
          st.exec(plan)
          val t3 = now()
          lastPlans(st.name) = plan
          if (traced) {
            sync()
            layer("queries.construct_s") += t1 - t0
            layer("queries.construct_jobs") += j1 - j0
            layer("queries.exec_s") += t3 - t2
            layer("queries.exec_jobs") += counter("jobs.total") - j1
            span(s"${st.name}:construct", st.name, t0, t1)
            span(s"${st.name}:exec", st.name, t2, t3)
            span(st.name, passName, t0, t3)
          }
          Some(st.name -> ((t1 - t0) + (t3 - t2)))
        } catch {
          case NonFatal(e) =>
            failed(st.name) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
            None
        }
      }
      val p1 = now()
      span(passName, "", p0, p1)
      passNo += 1
      (p1 - p0, times)
    }

    def assetDirs(): Seq[String] = {
      val t = work.resolve("target")
      if (!Files.isDirectory(t)) Seq.empty
      else Files.list(t).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    }

    val assetsBeforeJob = assetDirs()
    val cg0 = codegen()
    val base = tracer.map(_.snapshot()).getOrElse(Map.empty)
    val passes = mutable.ArrayBuffer(runPass())
    sync()
    val cg1 = codegen()
    val firstPass = tracer.map(_.snapshot()).getOrElse(Map.empty)
      .map { case (k, v) => k -> (v - base.getOrElse(k, 0.0)) }
    val callSites = tracer.map(_.callSites.toMap).getOrElse(Map.empty)
    val assetsBeforeRepeat = assetDirs()
    // The second pass is a warm-up (the JIT is still compiling the hot
    // paths); the repeat passes after it fill `seconds`, at least one.
    if (seconds > 0) {
      passes += runPass()
      val repeatUntil = now() + seconds
      while (passes.size < 3 || now() < repeatUntil) passes += runPass()
    }

    if (trace) {
      firstPass.foreach { case (k, v) => layer(k) = v }
      layer("codegen.compiles") = (cg1._1 - cg0._1).toDouble
      // the histogram keeps a recent sample, so its mean is an estimate
      layer("codegen.compile_s") = (cg1._1 - cg0._1) * cg1._2 / 1e3
      def timed(reps: Int)(f: => Unit): Double = median((1 to reps).map { _ => val t = now(); f; now() - t })
      if (workload == "anagram_books") {
        // Prefix cuts: each forces a longer prefix of the job, so successive
        // differences are the layers' times and they sum to the last cut,
        // the whole job.
        val docs = TextSource.readTxtDir(spark, corpus).select(col("value").as("text"))
        val sw = TextSource.stopWordsFile(spark, stop)
        val words = docs.select(explode(Text.tokens(col("text"), sw)).as("word"))
        val sinkDir = work.resolve("anagrams/cut").toString
        val cuts = Seq(
          "sources.scan_s" -> (() => noop(TextSource.readTxtDir(spark, corpus))),
          "operators.tokenize_s" -> (() => noop(words)),
          "functions.sortkey_s" -> (() => noop(words.select(Anagrams.anagramKey(col("word")).as("key")))),
          "operators.group_s" -> (() => noop(Anagrams.groups(words))),
          "sink.write_s" -> (() => Anagrams.writeSingleText(Anagrams.groups(words), sinkDir))
        ).map { case (k, f) => k -> timed(3)(f()) }
        cuts.zip(0.0 +: cuts.map(_._2)).foreach { case ((k, cum), prev) => layer(k) = cum - prev }
        layer("trace.cuts_job_s") = cuts.last._2
        val tokens = words.count().toDouble
        layer("operators.tokens") = tokens
        layer("exchange.combine_ratio") = firstPass.getOrElse("exchange.records", 0.0) / tokens
        val parts = Files.list(work.resolve("anagrams/pass-0")).iterator().asScala.toSeq
          .filter(_.getFileName.toString.startsWith("part-"))
        layer("sink.files") = parts.size.toDouble
        layer("sink.bytes") = parts.map(Files.size).sum.toDouble
      } else {
        layer("sources.scan_s") = timed(3)(noop(Tables.documents(spark, tables)))
        // pipe_curate_fold's delta fold (CurationGateStream.upsertBatch of
        // the doc_id % 10 == 1 slice), run on a copy of the gate asset the
        // timed pipe_curate_e2e built, so no asset is built here.
        val docs = Tables.documents(spark, tables)
        val growth = docs.filter(col("doc_id") % 10 === 1)
        val baseDir = Paths.get(Curation.ensureGateAsset(tables, docs))
        val deltaBytes = growth.agg(sum(octet_length(col("text")))).head().getLong(0).toDouble
        val dir = work.resolve("fold-probe")
        copyDir(baseDir, dir)
        sync()
        val w0 = counter("output.bytes")
        val t0 = now()
        CurationGateStream.upsertBatch(growth, dir.toString, batchId = 0L, compactAt = 1e-9)
        layer("streaming.fold_s") = now() - t0
        sync()
        layer("streaming.write_amp") = (counter("output.bytes") - w0) / deltaBytes
      }
      // Bench's xxhash calibration loop at 1/8 of its rows: host speed, for context.
      layer("host.calib_s") = (1 to 3).map { _ =>
        val t = now()
        noop(spark.range(0L, 3L << 27, 1L, 32)
          .selectExpr("xxhash64(id, id + 2654435761) AS h").selectExpr("bit_xor(h) AS s"))
        now() - t
      }.min
      layer("jvm.peak_rss_mb") = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    }

    // Untimed: the last pass's query results as parquet, beside the oracle
    // SQL they are checked against.
    if (workload == "pipelines_cold") {
      val checkDir = work.resolve("check")
      Files.createDirectories(checkDir)
      lastPlans.foreach { case (name, plan) =>
        try plan.write.parquet(checkDir.resolve(name).toString)
        catch { case NonFatal(e) => failed(name) = s"check: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500) }
      }
      Files.write(checkDir.resolve("oracle_sql.json"),
        obj(Pipelines.flatMap(n => Registry.byName(n).oracle.map(n -> quote(_)))).getBytes("UTF-8"))
    }
    spark.stop()

    val json = obj(Seq(
      "session_ms" -> sessionMs.toString,
      "ready_ms" -> readyMs.toString,
      "passes" -> passes.map { case (total, qs) =>
        obj(Seq("total_s" -> num(total), "queries" -> obj(qs.map { case (k, v) => k -> num(v) })))
      }.mkString("[", ",", "]"),
      "failed" -> obj(failed.map { case (k, v) => k -> quote(v) }),
      "assets_before_job" -> assetsBeforeJob.map(quote).mkString("[", ",", "]"),
      "assets_before_repeat" -> assetsBeforeRepeat.map(quote).mkString("[", ",", "]"),
      "layers" -> obj(layer.map { case (k, v) => k -> num(v) }),
      "call_sites" -> obj(callSites.map { case (k, v) => k -> v.toString }),
      "spans" -> spans.mkString("[", ",", "]")
    ))
    Files.write(Paths.get(args("out")), json.getBytes("UTF-8"))
  }
}
