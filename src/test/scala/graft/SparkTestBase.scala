package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    // Spark reads `spark.*` system properties into the session conf; the
    // temp warehouse keeps saveAsTable output out of the checkout and is
    // removed when the test JVM exits.
    val wh = java.nio.file.Files.createTempDirectory("graft_wh")
    sys.addShutdownHook(graft.operators.Indexes.deleteRecursively(wh))
    sys.props("spark.sql.warehouse.dir") = wh.toString
    val s = Session(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Assets a suite builds under throwaway sfDirs. The sfDir is part of an
  * asset's fingerprint, so each such build lands in a `target/<family>/<fp12>`
  * dir and a catalog entry that no later run can reach; the suite removes
  * them, the sfDirs and its other scratch dirs when it finishes.
  */
trait ScratchAssets extends org.scalatest.BeforeAndAfterAll { this: org.scalatest.Suite =>
  import java.nio.file.{Files, Paths}
  import scala.jdk.CollectionConverters._

  private val scratchDirs = scala.collection.mutable.Buffer[String]()
  private val assets = scala.collection.mutable.Buffer[String]()

  /** A sfDir no earlier run has keyed an asset by, so an asset call under
    * it builds.
    */
  protected def freshSf(): String = scratchDir("sf")

  /** A new temp dir, removed after the suite. */
  protected def scratchDir(tag: String): String = synchronized {
    val d = Files.createTempDirectory(s"graft_$tag").toString
    scratchDirs += d
    d
  }

  /** `dir`, an asset built under a [[freshSf]], to be removed with its
    * catalog entries after the suite.
    */
  protected def owned(dir: String): String = synchronized {
    assets += dir
    dir
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally {
      val gone = assets.toSet
      gone.foreach(d => graft.operators.Indexes.deleteRecursively(Paths.get(d)))
      val catalog = Paths.get("target/fpcatalog")
      if (Files.isDirectory(catalog)) {
        val entries = Files.list(catalog)
        try entries.iterator().asScala.foreach { f =>
          if (Files.readAllLines(f).asScala.headOption.exists(gone)) { Files.deleteIfExists(f); () }
        } finally entries.close()
      }
      scratchDirs.foreach(d => graft.operators.Indexes.deleteRecursively(Paths.get(d)))
    }
}
