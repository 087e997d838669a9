package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Anagrams, Text}
import graft.sources.TextSource

/** Golden end-to-end over the FIXTURES.md §A.1 corpus: .txt directory scan,
  * stop words from the reference's comma-separated file, anagram pipeline,
  * and the single-file text sink round-trip — the full input/output contract
  * of the reference (`/root/reference/src/index.js:141-146,375-377`).
  */
class TextSourceSpec extends AnyFunSuite with ScratchAssets {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val corpusDir = "src/test/resources/corpus_tiny"
  private val stopPath = "src/test/resources/stop_words.txt"

  test("directory scan keeps only *.txt and reads every line") {
    val rows = TextSource.readTxtDir(spark, corpusDir).collect()
    assert(rows.length === 3, "one line per fixture doc")
    assert(rows.forall(_.getString(0).endsWith(".txt")))
  }

  test("stop-word file parses the reference's comma-separated format") {
    assert(
      TextSource.stopWordsFile(spark, stopPath) ===
        Seq("the", "a", "an", "and", "she", "are")
    )
  }

  test("golden corpus yields exactly the expected anagram groups") {
    val sw = TextSource.stopWordsFile(spark, stopPath)
    val docs = TextSource.readTxtDir(spark, corpusDir).select(col("value").as("text"))
    val got = Anagrams
      .groups(docs.select(explode(Text.tokens(col("text"), sw)).as("word")))
      .as[(String, String, Long)]
      .collect()
      .toSet
    assert(
      got === Set(
        ("acst", "acts cast", 2L),
        ("eilnst", "listen silent", 2L),
        ("dorsw", "drows sword words", 3L)
      )
    )
  }

  test("writeSingleText round-trip: one file, reference line format, golden content") {
    val sw = TextSource.stopWordsFile(spark, stopPath)
    val docs = TextSource.readTxtDir(spark, corpusDir).select(col("value").as("text"))
    val groups = Anagrams.groups(
      docs.select(explode(Text.tokens(col("text"), sw)).as("word"))
    )
    val out = scratchDir("sink") + "/res"
    Anagrams.writeSingleText(groups, out)
    val parts = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length === 1, "the sink must produce a single text file")
    val lines = scala.io.Source.fromFile(parts.head)
    val content = try lines.getLines().toSet
    finally lines.close()
    assert(
      content === Set(
        "acst: { acts, cast }",
        "eilnst: { listen, silent }",
        "dorsw: { drows, sword, words }"
      )
    )
  }
}
