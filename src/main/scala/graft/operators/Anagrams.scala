package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.util.Cols._

/** The reference's whole pipeline (scan → tokenize → key-extract → shuffle →
  * group/distinct/having/sort → sink), as composable DataFrame stages.
  *
  * Reference phases it replaces (SURVEY.md §2.1):
  *   - `_map` (`/root/reference/src/index.js:64-69`)  → [[anagramKey]]
  *   - `_shuffle` + GCS barrier (`src/index.js:82-91,260-301`) → the implicit
  *     Exchange under `groupBy` (hash partition on `key`; Spark's pmod-based
  *     partitioning fixes the reference's negative-bucket row loss,
  *     SURVEY.md §2.2 item 7)
  *   - `_reduce` (`src/index.js:101-116`) → `collect_set` + HAVING + sort
  *   - `clean` (`src/index.js:364-391`) → [[renderLines]] + single-file sink.
  *
  * Scale posture: the shuffle on `key` is the one that carries the corpus;
  * map-side partial aggregation (partial `collect_set`) shrinks it. The
  * result cardinality is bounded by distinct-word count, not corpus size,
  * so the single-file sink fans the finished groups in through a second,
  * small exchange ([[writeSingleText]]) and the final `collect_set` merge
  * keeps all of its reduce tasks.
  */
object Anagrams {

  /** word → its characters sorted ascending — the anagram group key
    * (`/root/reference/src/index.js:66`). Native codegen char sort
    * ([[graft.functions.SortChars]]); equals
    * `array_join(array_sort(split(word, "")), "")` without the per-token
    * array-of-one-char-strings allocation that dominated the round-1
    * flagship profile.
    */
  def anagramKey(word: Column): Column =
    ExpressionUtils.column(graft.functions.SortChars(ExpressionUtils.expression(word)))

  /** documents(text) → one row per token that survives the stop list. */
  def words(docs: DataFrame): DataFrame =
    docs.select(explode(Text.tokens(col("text"))).as("word"))

  /** Group words by anagram key; keep groups with >= minSize distinct words;
    * members sorted and joined to a canonical string (global row order is
    * undefined in the reference — SURVEY.md §2.2 item 6).
    */
  def groups(words: DataFrame, minSize: Int = 2): DataFrame =
    words
      .groupBy(anagramKey(col("word")).as("key"))
      .agg(sort_array(collect_set(col("word"))).as("ws"))
      .select(
        col("key"),
        array_join(col("ws"), " ").as("members"),
        size(col("ws")).cast(LongType).as("n_words")
      )
      .filter(col("n_words") >= minSize)

  /** Whole reference query: documents → anagram groups. */
  def pipeline(docs: DataFrame, minSize: Int = 2): DataFrame =
    groups(words(docs), minSize)

  /** Render in the reference's output line format `key: { a, b }`
    * (`/root/reference/src/index.js:112`).
    */
  def renderLines(groups: DataFrame): DataFrame =
    groups.select(
      concat(
        col("key"),
        lit(": { "),
        regexp_replace(col("members"), " ", ", "),
        lit(" }")
      ).as("value")
    )

  /** Single merged text file, the reference's `clean` sink. `repartition(1)`
    * rather than `coalesce(1)`: a coalesce would pull the whole final
    * `collect_set` merge into one task, while the exchange fans in only the
    * rendered lines (bounded by vocabulary, not corpus).
    */
  def writeSingleText(groups: DataFrame, path: String): Unit =
    renderLines(groups).repartition(1).write.mode("overwrite").text(path)
}
