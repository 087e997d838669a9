package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.functions.WordTokens

/** Tokenize + normalize + filter — the reference's reader phase
  * (`src/index.js:48-55` of the reference).
  *
  * Semantics pinned by SURVEY.md §2.2 items 1–2:
  *   lowercase → remove ALL apostrophes (the reference's missing `g` flag is
  *   an acknowledged bug; we implement the documented intent) → collapse
  *   `[^a-z]+` runs to a single space → split → keep tokens of length > 1 →
  *   drop stop words.
  *
  * [[tokensAll]] and [[tokens]] run that whole chain as one codegen'd
  * kernel, [[graft.functions.WordTokens]]: a single byte loop per row that
  * folds A–Z, skips `'` and emits each `[a-z]` run of length > 1 not in the
  * stop set, with no regex and no interpreted lambda. Full-ASCII rows also
  * skip Spark's ICU-backed `lower()`; any other row is lowercased by the
  * same `Lower` call first (a non-ASCII letter can lowercase to an ASCII
  * one), then takes the same loop. The parquet scan still only
  * materializes the text column.
  */
object Text {

  /** Stop words. The reference ships its list out-of-band in a GCS object
    * (`/root/reference/src/index.js:141-142`); we pin a fixed default so the
    * DuckDB oracle can embed the identical literal list.
    */
  val StopWords: Seq[String] = Seq(
    "the", "and", "of", "to", "in", "is", "it", "that", "as", "for",
    "was", "with", "are", "be", "by", "on", "not", "at", "this", "but",
    "from", "or", "have", "an", "they", "which", "one", "all", "we", "can"
  )

  /** The stop list as a SQL literal list body, shared with oracle SQL. */
  def stopListSql: String = StopWords.map(w => s"'$w'").mkString(", ")

  /** lowercase, strip apostrophes, non-letters → single space. */
  def normalize(text: Column): Column =
    regexp_replace(regexp_replace(lower(text), "'", ""), "[^a-z]+", " ")

  /** All tokens of length > 1 (empty boundary tokens fall out with them). */
  def tokensAll(text: Column): Column = tokens(text, Nil)

  /** Tokens with [[StopWords]] removed. For big external stop lists prefer
    * [[StopWordsOp.antiJoin]] (broadcast anti-join).
    */
  def tokens(text: Column): Column = tokens(text, StopWords)

  /** Same, against a caller-supplied stop list (e.g. one loaded from the
    * reference's comma-separated config file via
    * [[graft.sources.TextSource.stopWordsFile]]).
    */
  def tokens(text: Column, stopWords: Seq[String]): Column =
    Bridge.column(WordTokens(Bridge.expression(text), stopWords))

  /** DuckDB expression producing the same token list from column `c`
    * (before length/stop filtering — those are WHERE clauses at the
    * unnested level). chr(39) is the apostrophe.
    */
  def tokensSqlAll(c: String): String =
    s"string_split_regex(regexp_replace(replace(lower($c), chr(39), ''), '[^a-z]+', ' ', 'g'), ' ')"

  // ---- Unicode-aware variant. [[normalize]]'s `[a-z]` alphabet is pinned
  // to the reference's tokenizer (SURVEY §2.2) for the parity queries, but
  // it DELETES every non-ASCII letter — wrong for the multilingual corpus
  // the t_* pipeline models (t_langid already classifies de/fr/es docs).
  // The Unicode tokenizer keeps any letter of any script via the \p{L}
  // class (identical semantics in Java regex and DuckDB's RE2) and is the
  // parallel entry the text-analysis pipeline uses.

  /** lowercase, strip apostrophes, any non-LETTER run (any script) → one
    * space. Same shape as [[normalize]], letter CLASS instead of ASCII
    * range.
    */
  def normalizeUnicode(text: Column): Column =
    regexp_replace(regexp_replace(lower(text), "'", ""), "[^\\p{L}]+", " ")

  /** All Unicode tokens of length > 1. */
  def tokensUnicodeAll(text: Column): Column =
    filter(split(normalizeUnicode(text), " "), w => length(w) > 1)

  /** DuckDB mirror of [[tokensUnicodeAll]]'s pre-filter token list. */
  def tokensUnicodeSqlAll(c: String): String =
    s"string_split_regex(regexp_replace(replace(lower($c), chr(39), ''), '[^\\p{L}]+', ' ', 'g'), ' ')"

  /** Multilingual fixture rows (doc_id, text) unioned into the Unicode
    * tokenizer's oracle query: the synthetic `documents` table is pure
    * ASCII, so without these the Unicode-vs-ASCII distinction would be
    * vacuous. Ids sit far above any generated doc_id. Both engines embed
    * the SAME literals (Spark via createDataFrame, DuckDB via VALUES).
    * No uppercase Σ (final-sigma lowercasing is locale-delicate); ß, ñ,
    * ç, Greek, and Cyrillic all exercise letter classes outside [a-z].
    */
  val UnicodeFixture: Seq[(Long, String)] = Seq(
    9000001L -> "Über dem Fluß wählte die Köchin süße Brötchen für die Gäste",
    9000002L -> "Le garçon préfère le café crème et la crème brûlée à l'aéroport",
    9000003L -> "El niño soñó con montañas y cañones según la canción española",
    9000004L -> "η γλώσσα είναι το εργαλείο της σκέψης και της επικοινωνίας",
    9000005L -> "Русский текст проверяет буквы кириллицы в словах разной длины",
    9000006L -> "mixed ASCII and Ünïcödé wörds 123 with-dashes and.dots"
  )

  /** [[UnicodeFixture]] as a DuckDB VALUES list (apostrophes doubled). */
  def unicodeFixtureSql: String =
    UnicodeFixture
      .map { case (id, t) => s"($id, '${t.replace("'", "''")}')" }
      .mkString(", ")

  /** Normalization fixture (doc_id, text) for the NFC / accent-fold
    * oracle: rows 2 and 7 are built from EXPLICIT combining-mark escapes
    * (u+0301 acute, u+0300 grave, u+0303 tilde) so the decomposed-input
    * path of NFC is non-vacuous — a source-file literal would risk being
    * silently precomposed by editors. Rows cover precomposed Latin, the
    * same text decomposed (NFC must map both to identical bytes),
    * mark-free special letters (ß æ ø œ — kept by accent folding), Greek
    * tonos, Cyrillic short-i (й decomposes to и + combining breve),
    * Vietnamese stacked marks, and a mixed NFC/NFD row.
    */
  val NormalizeFixture: Seq[(Long, String)] = {
    val acute = "\u0301"; val grave = "\u0300"; val tilde = "\u0303"
    Seq(
      9100001L -> "caf\u00e9 d\u00e9j\u00e0 vu S\u00e3o Paulo",
      9100002L -> s"cafe$acute de${acute}ja$grave vu Sa${tilde}o Paulo",
      9100003L -> "Stra\u00dfe \u00c6r\u00f8 \u0153uvre",
      9100004L -> "\u03b5\u03bb\u03bb\u03b7\u03bd\u03b9\u03ba\u03ac \u03ce\u03c1\u03b1",
      9100005L -> "\u0419\u043e\u0448\u043a\u0430\u0440-\u041e\u043b\u0430 \u0439\u043e\u0433\u0443\u0440\u0442",
      9100006L -> "Vi\u1ec7t Nam ph\u1edf H\u00e0 N\u1ed9i",
      9100007L -> s"mixed caf\u00e9 and cafe$acute in one row"
    )
  }

  /** [[NormalizeFixture]] as a DuckDB VALUES list (apostrophes doubled);
    * the decomposed code points embed verbatim in the SQL text, so both
    * engines normalize the same bytes.
    */
  def normalizeFixtureSql: String =
    NormalizeFixture
      .map { case (id, t) => s"($id, '${t.replace("'", "''")}')" }
      .mkString(", ")
}
