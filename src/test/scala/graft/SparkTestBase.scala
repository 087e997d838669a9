package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    // Spark reads `spark.*` system properties into the session conf; the
    // temp warehouse keeps saveAsTable output out of the checkout.
    sys.props("spark.sql.warehouse.dir") =
      java.nio.file.Files.createTempDirectory("graft_wh").toString
    val s = Session(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
