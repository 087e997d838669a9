package graft
import org.apache.spark.sql.SparkSession

/** The one place a graft Spark session is built. Bench, Verify, the other
  * mains and the test session get the same five settings — UTC session
  * time zone, [[plans.GraftExtensions]], AQE, `nanosAsLong` (the only way
  * events.parquet's TIMESTAMP(NANOS) column reads: as LongType nanos) and
  * no UI — and differ only in their core count, which also sets the
  * shuffle partition count.
  *
  * Any other `spark.*` setting comes from a JVM system property, which
  * Spark loads into every session's conf:
  * `sbt 'set javaOptions += "-Dspark.sql.codegen.cache.maxEntries=5000"' "runMain graft.Bench"`.
  */
object Session {
  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`: the core count the mains run with. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** `SPARK_GRAFT_ONLY=q_a,q_b`: the queries Bench and Verify restrict
    * themselves to, for local iteration (the driver sets no filter). Blank
    * names are dropped and an all-blank value means no filter: `Set("")`
    * would select nothing and Bench would print an official-looking
    * 0-query total.
    */
  def only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
}
