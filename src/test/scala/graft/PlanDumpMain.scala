package graft

/** Dumps `.explain("formatted")` for registered queries to files, one per
  * query, for the plan-audit deliverable:
  *
  *   Test/runMain graft.PlanDumpMain /root/testdata/sf0.1 plans/r17 _before q_a,q_b
  *   Test/runMain graft.PlanDumpMain /root/testdata/sf0.1 plans/r17 _after  q_a,q_b
  *
  * Args: sfDir outDir suffix [comma-separated query names; omit = all].
  * The session is Bench's (`Session` at `SPARK_GRAFT_CPUS` cores, so the
  * same shuffle partition count), so the dumped plan is the benched plan
  * (AQE initial plan; the formatted output shows scan PushedFilters /
  * ReadSchema, join strategies and Exchange placement, which is what the
  * plan claims in OPTIMIZATION_r17.md are checked against).
  */
object PlanDumpMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "plans/r17"
    val suffix = if (args.length > 2) args(2) else "_before"
    val only = if (args.length > 3)
      Some(args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet)
    else None
    val spark = Session(Session.envCores)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"$name$suffix.txt"),
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[plandump] $name -> $outDir/$name$suffix.txt")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
