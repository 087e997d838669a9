package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType
import graft.util.Cols.lng

/** Document-curation filters: the published rule families every web-scale
  * training corpus runs between extraction and tokenization.
  *
  *   - Gopher quality rules (Rae et al. 2021, §A1.1): document-level
  *     bounds on word count, mean word length, symbol-to-word ratio,
  *     bullet/ellipsis line shares, alphabetic-word share, canonical
  *     stop-word presence, and duplicate-line fractions.
  *   - C4 cleaning (Raffel et al. 2020, §2.2): line-level retention
  *     (terminal punctuation, minimum words, no code/policy markers)
  *     plus document gates (≥3 kept lines, no `{`, no lorem ipsum).
  *   - CCNet perplexity buckets (Wenzek et al. 2020, §4.3): per-language
  *     head/middle/tail terciles by language-model score.
  *
  * The `documents` fixture is a flat word stream, so line-shaped inputs
  * are DERIVED: [[pageLines]] builds a deterministic multi-line "page"
  * per document (8-token lines with bullet/ellipsis/period decoration,
  * plus boilerplate-policy, code, promo-repeat, and lorem lanes keyed on
  * `(doc_id, line_index)` residues). Both engines rebuild the identical
  * page — the [[pageLinesCtes]] DuckDB mirror is the same discipline as
  * [[Html.dirtyHtml]]'s, so the oracle checks construction AND filtering.
  *
  * Scale shape: every rule here is a per-row Catalyst array expression —
  * map-only, zero shuffles, whole-stage-codegen — except the perplexity
  * terciles, whose per-language global rank rides the skew-proof
  * two-level [[Split.shardedRowNumber]] (a mega-language never lands in
  * one sort partition).
  */
object Curation {

  /** Tokens per synthesized line. */
  val LineWidth = 8

  /** The boilerplate-policy lane: C4's policy-phrase filter target. */
  val BoilerLine = "please enable javascript and accept our cookie policy."

  /** The per-doc promo lane (repeats within a doc — the Gopher
    * duplicate-line fractions' non-vacuous input).
    */
  val PromoLine = "visit our store for more great deals today."

  /** The lorem lane (C4 drops any page containing "lorem ipsum"). */
  val LoremLine = "lorem ipsum dolor sit amet."

  /** Gopher's required stop-word octet (§A1.1: keep docs containing at
    * least two).
    */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Exact floor division for nonnegative longs, as a long column.
    * `(a - pmod(a, b))` is an exact multiple of `b`, so the double
    * division is exact for every magnitude this file produces
    * (quotients < 2^53) — bit-equal to DuckDB's integer `//`.
    */
  private def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast(LongType)

  // ---- deterministic page synthesis ----------------------------------

  /** The synthesized page of `docId`/`text` as an ARRAY of lines.
    *
    * Line `i` (0-based) over the space-split tokens `tk`:
    *   - boiler lane when `(doc_id·7 + i) % 13 = 5`;
    *   - code lane when `(doc_id + i) % 23 = 4`;
    *   - promo lane when `(doc_id·3 + i) % 5 = 2` (fires about every
    *     5 lines, so multi-line docs repeat it — real duplicate lines);
    *   - otherwise tokens `[8i+1, 8i+8]` joined by spaces, with a
    *     `"- "` bullet prefix when `(doc_id + 3i) % 7 = 0` and an
    *     `"..."`/`"."` suffix on the `% 5 = 3` / `% 3 = 0` residues.
    * Docs with `doc_id % 17 = 9` append the lorem line.
    */
  def pageLinesCol(docId: Column, text: Column): Column = {
    val tk = filter(split(text, " "), w => length(w) > 0)
    val n = lng(size(tk))
    val nl = greatest(idiv(n + (LineWidth - 1), lit(LineWidth.toLong)), lit(1L))
    val base = transform(
      sequence(lit(0L), nl - 1),
      i => lineExpr(docId, i, tk)
    )
    concat(
      base,
      when(docId % 17 === 9, array(lit(LoremLine)))
        .otherwise(array().cast("array<string>"))
    )
  }

  private def lineExpr(docId: Column, i: Column, tk: Column): Column = {
    val body = array_join(slice(tk, (i * LineWidth + 1).cast("int"), lit(LineWidth)), " ")
    val bullet = when((docId + i * 3) % 7 === 0, lit("- ")).otherwise(lit(""))
    val suffix = when((docId + i) % 5 === 3, lit("..."))
      .when((docId + i) % 3 === 0, lit("."))
      .otherwise(lit(""))
    when((docId * 7 + i) % 13 === 5, lit(BoilerLine))
      .when(
        (docId + i) % 23 === 4,
        concat(
          lit("function f"),
          i.cast("string"),
          lit("() { return "),
          i.cast("string"),
          lit("; }")
        )
      )
      .when((docId * 3 + i) % 5 === 2, lit(PromoLine))
      .otherwise(concat(bullet, body, suffix))
  }

  /** (doc_id, lines, page) — page is lines joined by `\n`. */
  def pages(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), pageLinesCol(col("doc_id"), col("text")).as("lines"))
      .withColumn("page", array_join(col("lines"), "\n"))

  /** DuckDB CTE chain replaying [[pages]] over relation `rel` — ends in
    * CTE `pl` with columns (doc_id, lines). Shared verbatim by every
    * curation oracle so a synthesis drift breaks all three hashes.
    * Continuation `||`s sit at END of line: this text is interpolated
    * into the callers' `stripMargin` templates, which would eat the
    * first `|` of a line-leading `||` (the dirtyHtmlSqlExpr lesson).
    */
  def pageLinesCtes(rel: String): String =
    s"""p0 AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> length(w) > 0) AS tk FROM $rel),
       |p1 AS (SELECT doc_id, tk, greatest((len(tk) + ${LineWidth - 1}) // $LineWidth, 1) AS nl FROM p0),
       |pl AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(0, nl - 1), i ->
       |      CASE WHEN (doc_id * 7 + i) % 13 = 5 THEN '$BoilerLine'
       |           WHEN (doc_id + i) % 23 = 4 THEN 'function f' || i::VARCHAR || '() { return ' || i::VARCHAR || '; }'
       |           WHEN (doc_id * 3 + i) % 5 = 2 THEN '$PromoLine'
       |           ELSE (CASE WHEN (doc_id + i * 3) % 7 = 0 THEN '- ' ELSE '' END) ||
       |             array_to_string(tk[(i * $LineWidth + 1):(i * $LineWidth + $LineWidth)], ' ') ||
       |             (CASE WHEN (doc_id + i) % 5 = 3 THEN '...'
       |                   WHEN (doc_id + i) % 3 = 0 THEN '.' ELSE '' END)
       |      END) ||
       |    (CASE WHEN doc_id % 17 = 9 THEN ['$LoremLine'] ELSE []::VARCHAR[] END) AS lines
       |  FROM p1)""".stripMargin

  // ---- Gopher quality rules -------------------------------------------

  /** The full Gopher rule table per document: the measured quantities
    * (integer counts and permilles — cross-engine exact), one boolean per
    * rule at the paper's published thresholds, and the conjunction
    * `keep`. Words are the page split on spaces/newlines, so decoration
    * punctuation stays attached — exactly what the paper's
    * whitespace-word rules see. Duplicate-line fractions come from
    * `lines` vs `list_distinct(lines)` set arithmetic (no explode: the
    * whole table is one map-only projection).
    */
  def gopherRules(docs: DataFrame): DataFrame =
    gopherTable(docs).drop("lines", "page")

  /** [[gopherRules]] with the page columns retained — the internal frame
    * [[gates]] builds on, so the combined gate is the SAME expressions by
    * construction (CurationSpec pins the equivalence anyway).
    */
  private def gopherTable(docs: DataFrame): DataFrame = {
    val stops = array(GopherStops.map(lit): _*)
    pages(docs)
      .withColumn("words", filter(split(col("page"), "[ \n]+"), w => length(w) > 0))
      .select(
        col("doc_id"),
        col("lines"),
        col("page"),
        lng(size(col("lines"))).as("n_lines"),
        lng(size(col("words"))).as("n_words"),
        aggregate(col("words"), lit(0L), (acc, w) => acc + length(w).cast(LongType))
          .as("sum_word_len"),
        (length(col("page")) - length(replace(col("page"), lit("#"), lit(""))))
          .cast(LongType)
          .as("hash_syms"),
        idiv(
          lng(length(col("page")) - length(replace(col("page"), lit("..."), lit("")))),
          lit(3L)
        ).as("ellipsis_syms"),
        lng(size(filter(col("lines"), l => startswith(l, lit("- "))))).as("bullet_lines"),
        lng(size(filter(col("lines"), l => endswith(l, lit("..."))))).as("ell_lines"),
        lng(size(filter(col("words"), w => w.rlike("[a-z]")))).as("alpha_words"),
        lng(size(array_intersect(array_distinct(col("words")), stops))).as("stop_hits"),
        lng(size(array_distinct(col("lines")))).as("n_distinct_lines"),
        aggregate(col("lines"), lit(0L), (acc, l) => acc + length(l).cast(LongType))
          .as("line_chars"),
        aggregate(
          array_distinct(col("lines")),
          lit(0L),
          (acc, l) => acc + length(l).cast(LongType)
        ).as("distinct_chars")
      )
      .select(
        col("doc_id"),
        col("lines"),
        col("page"),
        col("n_lines"),
        col("n_words"),
        // greatest(n_words, 1): an empty/whitespace-only document
        // synthesizes a page with zero words — Spark's non-ANSI division
        // would yield NULL while DuckDB `// 0` raises, so both fractions
        // guard the denominator (the dup_char_permille pattern); such a
        // doc then fails r_words, never on a NULL metric
        idiv(col("sum_word_len") * 1000, greatest(col("n_words"), lit(1L)))
          .as("mean_word_len_e3"),
        idiv(
          (col("hash_syms") + col("ellipsis_syms")) * 1000,
          greatest(col("n_words"), lit(1L))
        ).as("symbol_permille"),
        col("bullet_lines"),
        col("ell_lines"),
        col("alpha_words"),
        col("stop_hits"),
        idiv((col("n_lines") - col("n_distinct_lines")) * 1000, col("n_lines"))
          .as("dup_line_permille"),
        idiv(
          (col("line_chars") - col("distinct_chars")) * 1000,
          greatest(col("line_chars"), lit(1L))
        ).as("dup_char_permille")
      )
      .withColumn("r_words", col("n_words").between(50, 100000))
      .withColumn("r_mean_len", col("mean_word_len_e3").between(3000, 10000))
      .withColumn("r_symbol", col("symbol_permille") <= 100)
      .withColumn("r_bullet", col("bullet_lines") * 10 <= col("n_lines"))
      .withColumn("r_ellipsis", col("ell_lines") * 10 <= col("n_lines") * 3)
      .withColumn("r_alpha", col("alpha_words") * 5 >= col("n_words") * 4)
      .withColumn("r_stop", col("stop_hits") >= 2)
      .withColumn("r_dup_line", col("dup_line_permille") <= 300)
      .withColumn("r_dup_char", col("dup_char_permille") <= 200)
      .withColumn(
        "keep",
        col("r_words") && col("r_mean_len") && col("r_symbol") && col("r_bullet") &&
          col("r_ellipsis") && col("r_alpha") && col("r_stop") &&
          col("r_dup_line") && col("r_dup_char")
      )
  }

  /** DuckDB CTE chain `pl → pg → pw → m` (page, words, gopher metrics) —
    * the [[gopherRules]] measurement replay, shared by the standalone
    * oracle and the composed-pipeline oracle.
    */
  def gopherMetricCtes(rel: String): String =
    s"""${pageLinesCtes(rel)},
       |pg AS (SELECT doc_id, lines, array_to_string(lines, chr(10)) AS page FROM pl),
       |pw AS (SELECT doc_id, lines, page,
       |  list_filter(string_split_regex(page, '[ ' || chr(10) || ']+'), w -> length(w) > 0) AS words FROM pg),
       |m AS (SELECT doc_id,
       |  len(lines)::BIGINT AS n_lines,
       |  len(words)::BIGINT AS n_words,
       |  (1000 * coalesce(list_sum(list_transform(words, w -> length(w)))::BIGINT, 0)) // greatest(len(words), 1) AS mean_word_len_e3,
       |  (1000 * ((length(page) - length(replace(page, '#', '')))
       |     + (length(page) - length(replace(page, '...', ''))) // 3)) // greatest(len(words), 1) AS symbol_permille,
       |  len(list_filter(lines, l -> starts_with(l, '- ')))::BIGINT AS bullet_lines,
       |  len(list_filter(lines, l -> ends_with(l, '...')))::BIGINT AS ell_lines,
       |  len(list_filter(words, w -> regexp_matches(w, '[a-z]')))::BIGINT AS alpha_words,
       |  len(list_intersect(list_distinct(words), [${GopherStops.map(w => s"'$w'").mkString(", ")}]))::BIGINT AS stop_hits,
       |  (1000 * (len(lines) - len(list_distinct(lines)))) // len(lines) AS dup_line_permille,
       |  (1000 * (list_sum(list_transform(lines, l -> length(l)))::BIGINT
       |     - list_sum(list_transform(list_distinct(lines), l -> length(l)))::BIGINT))
       |   // greatest(list_sum(list_transform(lines, l -> length(l)))::BIGINT, 1) AS dup_char_permille
       | FROM pw)""".stripMargin

  /** The Gopher keep conjunction over CTE `m`'s columns (SQL text). */
  val gopherKeepSql: String =
    "((n_words BETWEEN 50 AND 100000) AND (mean_word_len_e3 BETWEEN 3000 AND 10000) " +
      "AND symbol_permille <= 100 AND bullet_lines * 10 <= n_lines " +
      "AND ell_lines * 10 <= n_lines * 3 AND alpha_words * 5 >= n_words * 4 " +
      "AND stop_hits >= 2 AND dup_line_permille <= 300 AND dup_char_permille <= 200)"

  /** DuckDB oracle replaying page synthesis + [[gopherRules]]. */
  def gopherOracleSql(rel: String = "documents"): String =
    s"""WITH ${gopherMetricCtes(rel)}
       |SELECT doc_id, n_lines, n_words, mean_word_len_e3, symbol_permille, bullet_lines,
       |  ell_lines, alpha_words, stop_hits, dup_line_permille, dup_char_permille,
       |  (n_words BETWEEN 50 AND 100000) AS r_words,
       |  (mean_word_len_e3 BETWEEN 3000 AND 10000) AS r_mean_len,
       |  (symbol_permille <= 100) AS r_symbol,
       |  (bullet_lines * 10 <= n_lines) AS r_bullet,
       |  (ell_lines * 10 <= n_lines * 3) AS r_ellipsis,
       |  (alpha_words * 5 >= n_words * 4) AS r_alpha,
       |  (stop_hits >= 2) AS r_stop,
       |  (dup_line_permille <= 300) AS r_dup_line,
       |  (dup_char_permille <= 200) AS r_dup_char,
       |  $gopherKeepSql AS keep
       |FROM m ORDER BY doc_id""".stripMargin

  // ---- C4 line-level cleaning -----------------------------------------

  /** C4's policy-phrase line filter list (a tiny stand-in for the
    * published blocklist; the filter SHAPE — any-substring-of-line — is
    * the real one).
    */
  val PolicyPhrases: Seq[String] = Seq("javascript", "cookie", "click here")

  /** C4 cleaning: keep a line iff it ends with terminal punctuation, has
    * ≥ 5 words, and carries no `{` or policy phrase; keep the DOC iff
    * ≥ 3 lines survive and the page has no brace and no "lorem ipsum".
    * Emits the cleaned text (kept lines re-joined) either way, so the
    * filter is auditable. One map-only projection.
    */
  /** The C4 line-retention predicate (shared by [[c4Clean]] and
    * [[gates]]).
    */
  private def keptLine(l: Column): Column = {
    val terminal = endswith(l, lit(".")) || endswith(l, lit("!")) || endswith(l, lit("?"))
    val words = size(filter(split(l, " "), w => length(w) > 0)) >= 5
    val noCode = !contains(l, lit("{"))
    val noPolicy = PolicyPhrases
      .map(p => !contains(l, lit(p)))
      .reduce(_ && _)
    terminal && words && noCode && noPolicy
  }

  /** The C4 document gate over (lines, page) columns. */
  private def c4KeepCol(lines: Column, page: Column): Column =
    size(filter(lines, keptLine _)) >= 3 &&
      !contains(page, lit("{")) &&
      !contains(page, lit("lorem ipsum"))

  def c4Clean(docs: DataFrame): DataFrame = {
    pages(docs)
      .withColumn("kept", filter(col("lines"), keptLine _))
      .select(
        col("doc_id"),
        lng(size(col("lines"))).as("n_lines"),
        lng(size(col("kept"))).as("kept_lines"),
        contains(col("page"), lit("{")).as("has_brace"),
        contains(col("page"), lit("lorem ipsum")).as("has_lorem"),
        (size(col("kept")) >= 3 &&
          !contains(col("page"), lit("{")) &&
          !contains(col("page"), lit("lorem ipsum"))).as("keep"),
        array_join(col("kept"), "\n").as("cleaned")
      )
  }

  /** The C4 kept-lines CTE (`k`, over CTE `pg`) — shared by the
    * standalone oracle and the composed-pipeline oracle.
    */
  def c4KeptCte: String = {
    val noPolicy =
      PolicyPhrases.map(p => s"NOT contains(l, '$p')").mkString(" AND ")
    s"""k AS (SELECT doc_id, lines, page,
       |  list_filter(lines, l ->
       |    (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?'))
       |    AND len(list_filter(string_split(l, ' '), w -> length(w) > 0)) >= 5
       |    AND NOT contains(l, '{') AND $noPolicy) AS kept FROM pg)""".stripMargin
  }

  /** The C4 keep conjunction over CTE `k`'s columns (SQL text). */
  val c4KeepSql: String =
    "(len(kept) >= 3 AND NOT contains(page, '{') AND NOT contains(page, 'lorem ipsum'))"

  /** DuckDB oracle replaying page synthesis + [[c4Clean]]. */
  def c4OracleSql(rel: String = "documents"): String =
    s"""WITH ${pageLinesCtes(rel)},
       |pg AS (SELECT doc_id, lines, array_to_string(lines, chr(10)) AS page FROM pl),
       |$c4KeptCte
       |SELECT doc_id, len(lines)::BIGINT AS n_lines, len(kept)::BIGINT AS kept_lines,
       |  contains(page, '{') AS has_brace,
       |  contains(page, 'lorem ipsum') AS has_lorem,
       |  $c4KeepSql AS keep,
       |  coalesce(array_to_string(kept, chr(10)), '') AS cleaned
       |FROM k ORDER BY doc_id""".stripMargin

  // ---- Gopher repetition rules ------------------------------------------

  /** Gopher's repetition-rule thresholds (Rae et al. 2021 §A1.1): max
    * permille of characters in the top n-gram (n=2..4) and of characters
    * covered by duplicated n-grams (n=5..10).
    */
  val TopGramMaxPermille: Map[Int, Int] = Map(2 -> 200, 3 -> 180, 4 -> 160)
  val DupGramMaxPermille: Map[Int, Int] =
    Map(5 -> 150, 6 -> 140, 7 -> 130, 8 -> 120, 9 -> 110, 10 -> 100)

  /** The OTHER half of Gopher §A1.1 — the repetition rules
    * ([[gopherRules]] carries the quality rules):
    *
    *   - `topN_permille` (n=2..4): characters of the most frequent
    *     n-gram times its count, over total token characters (the
    *     paper's "fraction of characters contained within the most
    *     frequently-occurring n-gram"; overlapping occurrences are NOT
    *     de-overlapped, so the measure can exceed 1000 — faithful to
    *     the published formulation). Tie-break: highest count, then
    *     lexicographically greatest gram (encoded as a sortable
    *     `lpad(count)#gram` key so both engines pick the same gram).
    *   - `dupN_permille` (n=2..10, RULES on 5..10 per the paper):
    *     characters of token POSITIONS covered by at least one
    *     occurrence of a duplicated n-gram, over total characters —
    *     true position coverage, not a per-occurrence sum, so it never
    *     double-counts overlaps. 2..4 are emitted as measurements
    *     (they exercise the coverage kernel on real data; the random
    *     fixture rarely repeats 5-grams).
    *
    * Characters are counted WITHOUT joining spaces on both the
    * numerator and denominator, so the two sides of every fraction are
    * the same currency.
    *
    * Scale shape: one corpus pass explodes (doc, n, pos, gram) for the
    * nine n values (9× token count, linear); gram identity is its
    * xxhash64, so the count exchange and the duplicate-starts join move
    * 8-BYTE keys, not gram strings (text survives only on n≤4 rows for
    * the top-gram tie-break). One partial-aggregable count shuffle, then
    * occurrences rejoin their counts ON THE SAME KEY (colocated codegen
    * hash join — no per-position membership scans) to
    * yield duplicate START positions; coverage is a single O(#starts)
    * sorted-interval merge per (doc, n) that charges each covered token
    * once. The DuckDB oracle computes the same function by brute
    * per-position quantification — two formulations, one answer, which
    * is exactly what the hash compare checks.
    */
  /** @param ns which n-gram orders to measure (default: the paper's full
    *   2..10). The rule-gated subset alone is `5 to 10` at ~2/3 the
    *   explode cost; rule columns are emitted only for orders in `ns`,
    *   and `keep` conjoins the emitted rules.
    */
  def gopherRepetition(docs: DataFrame, ns: Range = 2 to 10): DataFrame = {
    require(ns.nonEmpty && ns.head >= 2, "n-gram orders must start at 2 or higher")
    // `base` feeds the gram explode twice (count leg + the duplicate-
    // starts join's probe side) and the coverage join once; it stays
    // LAZY deliberately — a localCheckpoint barrier here was measured
    // SLOWER at sf1 (97 s vs 78 s for the three repetition queries):
    // materializing corpus-sized token arrays costs more than re-running
    // the tokenizer + native gram kernel per consumer.
    val base = docs
      .select(col("doc_id"), Text.tokensAll(col("text")).as("tk"))
      .withColumn(
        "total_chars",
        aggregate(col("tk"), lit(0L), (a, w) => a + length(w).cast(LongType))
      )
    val topNs = ns.filter(_ <= 4)
    // gram identity travels as an 8-byte hash — through the count
    // exchange and the duplicate-starts join instead of up-to-10-token
    // STRINGS (the ExactSubstr discipline, Dedup.substrRemovalStats): at
    // 100x data the gram text was the dominant shuffle by bytes. The
    // hash is an xxhash64 chain over per-TOKEN xxhash64 values, computed
    // by the one-pass NATIVE kernel [[graft.functions.GramHashStructs]]
    // (token hashes once per call, n fixed hash rounds per gram, zero
    // string allocation — the transform/slice/array_join HOF chain it
    // replaces executes interpreted and allocates per gram). Gram text is
    // built ONLY on n<=4 rows (2..4-token grams, needed for the
    // top-gram tie-break; constant within a (doc, n, gh) group, so
    // max() picks it up through the partial aggregate). A same-doc
    // same-n 64-bit collision would fuse two distinct grams —
    // probability ~g^2/2^65 per document (g = grams per doc; token
    // hashes are xxhash64, so fold inputs are uniform), vanishing at
    // any real document size and accepted corpus-wide exactly as in
    // the substring index.
    val gr = base
      .select(col("doc_id"), col("tk"), explode(array(ns.map(lit): _*)).as("n"))
      .filter(size(col("tk")) >= col("n"))
      .select(
        col("doc_id"),
        col("n"),
        posexplode(
          Bridge.column(
            graft.functions.GramHashStructs(
              Bridge.expression(col("tk")),
              Bridge.expression(col("n")),
              withText = topNs.nonEmpty
            )
          )
        )
      )
      .select(
        col("doc_id") +: col("n") +: col("pos") +: col("col.gh").as("gh") +:
          (if (topNs.nonEmpty) Seq(col("col.gram4").as("gram4")) else Nil): _*
      )
    val ctAggs = Seq(count(lit(1)).as("cnt")) ++
      (if (topNs.nonEmpty) Seq(max(col("gram4")).as("gram4")) else Nil)
    val ct = gr.groupBy("doc_id", "n", "gh").agg(ctAggs.head, ctAggs.tail: _*)
    val tp = if (topNs.isEmpty) None
    else {
      val aggs = topNs.map(n => max(when(col("n") === n, col("topkey"))).as(s"t$n"))
      Some(
        ct.filter(col("n").isin(topNs.map(Integer.valueOf): _*))
          .withColumn(
            "topkey",
            concat(lpad(col("cnt").cast("string"), 12, "0"), lit("#"), col("gram4"))
          )
          .groupBy("doc_id", "n")
          .agg(max(col("topkey")).as("topkey"))
          .groupBy("doc_id")
          .agg(aggs.head, aggs.tail: _*)
      )
    }
    // duplicate-gram HASH SETS per (doc, n): only grams with cnt > 1
    // survive the count aggregate — a tiny, boilerplate-sized set per
    // document — sorted for binary search. Coverage is then ONE native
    // pass per (doc, n-with-dups) over the document itself
    // ([[graft.functions.GramCoverageChars]] recomputes the chain
    // identities and merges covered intervals inline, charging each
    // covered token's chars exactly once): the per-position rows of the
    // former explode→join→collect_list(pos)→interval-fold chain never
    // exist, so nothing position-sized is ever shuffled — the dup-hash
    // sets are the only thing that moves.
    val dupSets = ct
      .filter(col("cnt") > 1)
      .groupBy("doc_id", "n")
      .agg(sort_array(collect_set(col("gh"))).as("ghs"))
    val st = base
      .join(dupSets, Seq("doc_id"))
      .withColumn(
        "cov_chars",
        Bridge.column(
          graft.functions.GramCoverageChars(
            Bridge.expression(col("tk")),
            Bridge.expression(col("n")),
            Bridge.expression(col("ghs"))
          )
        )
      )
    val cvAggs = ns.map(n => max(when(col("n") === n, col("cov_chars"))).as(s"c$n"))
    val cvv = st.groupBy("doc_id").agg(cvAggs.head, cvAggs.tail: _*)
    val tot = greatest(col("total_chars"), lit(1L))
    def topPermille(key: Column, n: Int): Column =
      when(key.isNull, 0L).otherwise(
        idiv(
          substring(key, 1, 12).cast(LongType) * (length(key) - 13 - (n - 1)) * 1000,
          tot
        )
      )
    def dupPermille(n: Int): Column =
      idiv(coalesce(col(s"c$n"), lit(0L)) * 1000, tot)
    val joined0 = base.join(cvv, Seq("doc_id"), "left")
    val joined = tp.fold(joined0)(t => joined0.join(t, Seq("doc_id"), "left"))
    val out = joined.select(
      Seq(col("doc_id"), col("total_chars")) ++
        topNs.map(n => topPermille(col(s"t$n"), n).as(s"top${n}_permille")) ++
        ns.map(n => dupPermille(n).as(s"dup${n}_permille")): _*
    )
    val topRules = TopGramMaxPermille.toSeq.sortBy(_._1).filter(p => ns.contains(p._1))
    val dupRules = DupGramMaxPermille.toSeq.sortBy(_._1).filter(p => ns.contains(p._1))
    val withRules = topRules.foldLeft(out) {
      case (df, (n, mx)) => df.withColumn(s"r_top$n", col(s"top${n}_permille") <= mx)
    }
    val withAll = dupRules.foldLeft(withRules) {
      case (df, (n, mx)) => df.withColumn(s"r_dup$n", col(s"dup${n}_permille") <= mx)
    }
    val ruleCols =
      topRules.map { case (n, _) => col(s"r_top$n") } ++
        dupRules.map { case (n, _) => col(s"r_dup$n") }
    withAll.withColumn("keep", ruleCols.reduce(_ && _))
  }

  /** DuckDB oracle replaying [[gopherRepetition]]. */
  def gopherRepOracleSql(rel: String = "documents"): String = {
    val toks =
      s"list_filter(${Text.tokensSqlAll("text")}, w -> length(w) > 1)"
    val topCols = Seq(2, 3, 4)
      .map(n =>
        s"coalesce((1000 * substr(t$n, 1, 12)::BIGINT * (length(t$n) - 13 - ${n - 1})) // greatest(total_chars, 1), 0) AS top${n}_permille"
      )
      .mkString(",\n  ")
    val dupCols = (2 to 10)
      .map(n => s"(1000 * coalesce(c$n, 0)) // greatest(total_chars, 1) AS dup${n}_permille")
      .mkString(",\n  ")
    val topRules = TopGramMaxPermille.toSeq.sorted
      .map { case (n, mx) => s"(top${n}_permille <= $mx) AS r_top$n" }
      .mkString(", ")
    val dupRules = DupGramMaxPermille.toSeq.sorted
      .map { case (n, mx) => s"(dup${n}_permille <= $mx) AS r_dup$n" }
      .mkString(", ")
    val keepExpr = (TopGramMaxPermille.toSeq.sorted.map { case (n, mx) =>
      s"top${n}_permille <= $mx"
    } ++ DupGramMaxPermille.toSeq.sorted.map { case (n, mx) =>
      s"dup${n}_permille <= $mx"
    }).mkString(" AND ")
    s"""WITH tox AS (
       |  SELECT doc_id, $toks AS tk,
       |    coalesce(list_sum(list_transform($toks, w -> length(w)))::BIGINT, 0) AS total_chars
       |  FROM $rel),
       |gr AS (
       |  SELECT doc_id, n, unnest(list_transform(generate_series(0, len(tk) - n),
       |      i -> array_to_string(tk[(i+1):(i+n)], ' '))) AS gram
       |  FROM tox CROSS JOIN (SELECT unnest(generate_series(2, 10)) AS n)
       |  WHERE len(tk) >= n),
       |ct AS (SELECT doc_id, n, gram, COUNT(*) AS cnt FROM gr GROUP BY ALL),
       |tpv AS (
       |  SELECT doc_id,
       |    max(CASE WHEN n = 2 THEN topkey END) AS t2,
       |    max(CASE WHEN n = 3 THEN topkey END) AS t3,
       |    max(CASE WHEN n = 4 THEN topkey END) AS t4
       |  FROM (SELECT doc_id, n, max(lpad(cnt::VARCHAR, 12, '0') || '#' || gram) AS topkey
       |        FROM ct WHERE n <= 4 GROUP BY doc_id, n)
       |  GROUP BY doc_id),
       |dp AS (
       |  SELECT doc_id, n, list(gram) AS dups
       |  FROM ct WHERE cnt > 1 GROUP BY doc_id, n),
       |stt AS (
       |  SELECT t.doc_id, d.n, t.tk,
       |    list_transform(generate_series(0, len(t.tk) - d.n),
       |      i -> list_contains(d.dups, array_to_string(t.tk[(i+1):(i+d.n)], ' '))) AS starts
       |  FROM tox t JOIN dp d USING (doc_id)),
       |cvv AS (
       |  SELECT doc_id, ${(2 to 10).map(n => s"max(CASE WHEN n = $n THEN cov_chars END) AS c$n").mkString(", ")}
       |  FROM (SELECT doc_id, n,
       |    list_sum(list_transform(generate_series(0, len(tk) - 1), t ->
       |      CASE WHEN len(list_filter(starts[greatest(t - n + 2, 1):least(t + 1, len(tk) - n + 1)], b -> b)) > 0
       |           THEN length(tk[t + 1]) ELSE 0 END))::BIGINT AS cov_chars
       |    FROM stt)
       |  GROUP BY doc_id),
       |perm AS (
       |  SELECT x.doc_id, x.total_chars,
       |  $topCols,
       |  $dupCols
       |  FROM tox x LEFT JOIN tpv USING (doc_id) LEFT JOIN cvv USING (doc_id))
       |SELECT doc_id, total_chars,
       |  ${Seq(2, 3, 4).map(n => s"top${n}_permille").mkString(", ")},
       |  ${(2 to 10).map(n => s"dup${n}_permille").mkString(", ")},
       |  $topRules, $dupRules,
       |  ($keepExpr) AS keep
       |FROM perm ORDER BY doc_id""".stripMargin
  }

  /** DuckDB CTE chain replaying the n=`lo`..`hi` duplicated-gram HALF of
    * [[gopherRepetition]] over the synthesized PAGE text (expects CTE
    * `pg` with (doc_id, page) in scope — the [[gopherMetricCtes]] frame):
    * ends in CTE `repk` with (doc_id, rep_keep). The funnel gates on the
    * page because that is the document the quality rules measure — raw
    * fixture text never repeats a 5-gram, but synthesized pages repeat
    * their promo/boiler lanes exactly like real boilerplate does. Same
    * brute per-position coverage formulation as [[gopherRepOracleSql]].
    */
  def repKeepCtes(lo: Int = 5, hi: Int = 10): String = {
    require(lo >= 2 && hi >= lo && hi <= 10, "rule-gated orders are 5..10")
    val toks = s"list_filter(${Text.tokensSqlAll("page")}, w -> length(w) > 1)"
    val covAggs = (lo to hi)
      .map(n => s"max(CASE WHEN n = $n THEN cov_chars END) AS c$n")
      .mkString(", ")
    val keep = (lo to hi)
      .map { n =>
        val mx = DupGramMaxPermille.getOrElse(n, TopGramMaxPermille(n))
        s"(1000 * coalesce(c$n, 0)) // greatest(total_chars, 1) <= $mx"
      }
      .mkString(" AND ")
    s"""rtox AS (
       |  SELECT doc_id, $toks AS tk,
       |    coalesce(list_sum(list_transform($toks, w -> length(w)))::BIGINT, 0) AS total_chars
       |  FROM pg),
       |rgr AS (
       |  SELECT doc_id, n, unnest(list_transform(generate_series(0, len(tk) - n),
       |      i -> array_to_string(tk[(i+1):(i+n)], ' '))) AS gram
       |  FROM rtox CROSS JOIN (SELECT unnest(generate_series($lo, $hi)) AS n)
       |  WHERE len(tk) >= n),
       |rct AS (SELECT doc_id, n, gram, COUNT(*) AS cnt FROM rgr GROUP BY ALL),
       |rdp AS (
       |  SELECT doc_id, n, list(gram) AS dups
       |  FROM rct WHERE cnt > 1 GROUP BY doc_id, n),
       |rstt AS (
       |  SELECT t.doc_id, d.n, t.tk,
       |    list_transform(generate_series(0, len(t.tk) - d.n),
       |      i -> list_contains(d.dups, array_to_string(t.tk[(i+1):(i+d.n)], ' '))) AS starts
       |  FROM rtox t JOIN rdp d USING (doc_id)),
       |rcvv AS (
       |  SELECT doc_id, $covAggs
       |  FROM (SELECT doc_id, n,
       |    list_sum(list_transform(generate_series(0, len(tk) - 1), t ->
       |      CASE WHEN len(list_filter(starts[greatest(t - n + 2, 1):least(t + 1, len(tk) - n + 1)], b -> b)) > 0
       |           THEN length(tk[t + 1]) ELSE 0 END))::BIGINT AS cov_chars
       |    FROM rstt)
       |  GROUP BY doc_id),
       |repk AS (
       |  SELECT x.doc_id, ($keep) AS rep_keep
       |  FROM rtox x LEFT JOIN rcvv USING (doc_id))""".stripMargin
  }

  // ---- combined gate ----------------------------------------------------

  /** Both curation verdicts in ONE map-only projection:
    * `(doc_id, gopher_keep, c4_keep)`. Page synthesis, metrics, and rule
    * expressions are the SAME frame [[gopherRules]] reads (and the same
    * [[keptLine]] predicate [[c4Clean]] applies), so the combined gate
    * cannot drift from the per-family tables — and a pipeline that wants
    * both verdicts pays zero joins and zero shuffles for them.
    */
  def gates(docs: DataFrame): DataFrame =
    gopherTable(docs)
      .select(
        col("doc_id"),
        col("keep").as("gopher_keep"),
        c4KeepCol(col("lines"), col("page")).as("c4_keep")
      )

  // ---- CCNet perplexity buckets ---------------------------------------

  /** Per-language head/middle/tail terciles by the integer-exact KN
    * bigram score ([[TextAnalysis.knScores]] — lower = more fluent under
    * the corpus LM, CCNet's "head"). The per-language global rank is the
    * two-level [[Split.shardedRowNumber]] (range-sharded — a mega-language
    * never serializes into one sort partition); the per-language totals
    * are a languages-sized broadcast. Bucket index is the exact
    * `(3·(rank−1)) // count`.
    */
  def pplBuckets(docs: DataFrame, shards: Int = 32): DataFrame =
    bucketize(
      TextAnalysis
        .knScores(docs)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")),
      shards
    )

  /** The tercile-assignment half of [[pplBuckets]], over an already-scored
    * `(doc_id, lang, kn_score_e9, …)` frame — shared with the
    * sufficient-statistics derivation ([[deriveGates]]) so both paths run
    * the identical rank/bucket arithmetic.
    */
  private def bucketize(scored: DataFrame, shards: Int): DataFrame =
    // composite order key: score major, doc_id minor — no packed scalar,
    // so no silent misordering at any doc_id magnitude
    tercilesOf(
      Split.shardedRowNumber(
        scored,
        "lang",
        Seq(col("kn_score_e9"), col("doc_id")),
        shards,
        out = "rn"
      )
    )

  /** The tercile-assignment tail of [[bucketize]] over an already-ranked
    * frame — split out so [[deriveGates]] can rank on its ONE pinned
    * scored materialization ([[Split.rankPinned]]) instead of
    * checkpointing twice.
    */
  private def tercilesOf(ranked: DataFrame): DataFrame = {
    val counts = ranked.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    ranked
      .join(broadcast(counts), Seq("lang"))
      .select(
        col("doc_id"),
        col("lang"),
        col("kn_score_e9"),
        col("rn"),
        when(idiv((col("rn") - 1) * 3, col("cnt")) === 0, lit("head"))
          .when(idiv((col("rn") - 1) * 3, col("cnt")) === 1, lit("middle"))
          .otherwise(lit("tail"))
          .as("bucket")
      )
  }

  // ---- persisted gate-annotation asset ---------------------------------

  /** Persisted per-document curation ANNOTATION asset: one row per doc
    * with every gate verdict (Gopher quality, C4, Gopher repetition
    * n=5..10 over the page, toxicity) plus the CCNet score/bucket —
    * built ONCE per corpus content fingerprint under the
    * [[Indexes]] contract and READ by every funnel report
    * (`pipe_curate_e2e`, `t_drop_curation`). At 100 TB the gate table is
    * exactly this kind of asset: a release computes the verdicts once
    * and emits many reports (survivor mix, drop attribution, datacard
    * slices) over them; two reports that each re-derive the repetition
    * and LM legs pay the corpus twice for identical bits. The build is
    * deterministic, so reading the asset is bit-identical to a fresh
    * derivation — invisible to the correctness gate.
    *
    * The perplexity columns join LEFT so every doc keeps its asset row
    * even if a scoring variant yields no KN score (with the current
    * shingle kernel every doc scores; the NULL lane is defensive).
    * Consumer semantics differ BY DESIGN: the drop-attribution report
    * (`t_drop_curation`) routes a NULL bucket to the tail lane so its
    * stage counts always sum to the corpus total, while the survivor
    * report (`pipe_curate_e2e`) counts SCOREABLE survivors only (its
    * shape is per-(lang, bucket) — an unscoreable doc has no tercile to
    * land in, matching CCNet's own accounting).
    */
  // ---- foldable sufficient statistics ----------------------------------

  /** The per-doc PURE half of the gate asset — ONE tokenization of
    * `docs`, ever, split into three statistics tables:
    *
    *   - `puregates (doc_id, gopher_keep, c4_keep, lang, rep_keep,
    *     n_tokens, c_<toxcls>…)`: the per-doc-pure gate verdicts plus the
    *     toxicity-label ingredients;
    *   - `docstats (doc_id, bgh, w1h, w2h, occ)`: the hashed-bigram
    *     occurrence multiset — the sufficient statistic of BOTH
    *     corpus-relative score legs (KN perplexity and the classifier's
    *     hashed features `j = bgh mod Dim`) and of the LM label;
    *   - `doctoks (doc_id, wh, occ)`: the hashed-token multiset (the LM
    *     label's unigram denominator).
    *
    * Every row is a pure function of its own document, so a corpus
    * GROWTH folds as a delta append — [[deriveGates]] then re-derives the
    * corpus-relative columns from the folded statistics without ever
    * touching raw text again.
    */
  def pureStats(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val rep = gopherRepetition(
      pages(docs).select(col("doc_id"), col("page").as("text")),
      ns = 5 to 10
    ).select(col("doc_id"), col("keep").as("rep_keep"))
    val puregates = gates(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .join(rep, Seq("doc_id"))
      .join(TrainedClf.labelIngredients(docs), Seq("doc_id"))
    val docstats = docs
      .select(
        col("doc_id"),
        explode(Dedup.wordShinglesAll(Text.tokensAll(col("text")), 2)).as("bg")
      )
      .select(
        col("doc_id"),
        graft.util.Cols.md5Long(col("bg")).as("bgh"),
        graft.util.Cols.md5Long(substring_index(col("bg"), " ", 1)).as("w1h"),
        graft.util.Cols.md5Long(substring_index(col("bg"), " ", -1)).as("w2h")
      )
      .groupBy(col("doc_id"), col("bgh"), col("w1h"), col("w2h"))
      .agg(count(lit(1)).as("occ"))
    val doctoks = docs
      .select(col("doc_id"), explode(Text.tokensAll(col("text"))).as("w"))
      .select(col("doc_id"), graft.util.Cols.md5Long(col("w")).as("wh"))
      .groupBy(col("doc_id"), col("wh"))
      .agg(count(lit(1)).as("occ"))
    (puregates, docstats, doctoks)
  }

  /** Re-derive the full gate table from the persisted statistics — the
    * corpus-relative legs ([[TextAnalysis.knScores]]' KN score, the
    * CCNet terciles, the trained classifier heads) recomputed from
    * `docstats`/`doctoks` WITHOUT raw text, bit-identical to the raw
    * derivation (same hashes, same integer formulas, same rank
    * machinery). Output schema = the published `gates/` table:
    * (doc_id, gopher_keep, c4_keep, lang, rep_keep, tox_keep,
    * kn_score_e9, bucket).
    */
  def deriveGates(
      puregates: DataFrame,
      docstats: DataFrame,
      doctoks: DataFrame,
      shards: Int = 32
  ): DataFrame = {
    // KN + LM legs in ONE pass: both scores weight each distinct bigram
    // by occ against corpus aggregates of the same multiset — identical
    // totals to the per-occurrence formulations, one join chain + one
    // per-doc aggregate instead of two
    // ONE type-level aggregate feeds every corpus statistic (the
    // sufficient-statistics twin of [[TextAnalysis.knScores]]' tri): a
    // bigram determines all three hashes, so cxy/cx/bw/nt re-aggregate
    // the distinct-triple frame instead of each re-scanning and
    // re-shuffling the per-doc docstats table (guide §2.3 "aggregate
    // before you shuffle", §2.4 shared exchange — the identical tri
    // subtrees collapse into one physical exchange at runtime). Sums of
    // per-type occ equal the per-doc-row sums and the distinct sets are
    // unchanged, so every statistic is bit-identical.
    val tri = docstats
      .groupBy(col("bgh"), col("w1h"), col("w2h"))
      .agg(sum(col("occ")).as("bocc"))
    val cxy = tri.groupBy(col("bgh")).agg(sum(col("bocc")).as("c_xy"))
    val cx = tri
      .groupBy(col("w1h"))
      .agg(sum(col("bocc")).as("c_x"), countDistinct(col("w2h")).as("n1f"))
    val bw = tri.groupBy(col("w2h")).agg(countDistinct(col("w1h")).as("n1b"))
    val nt = tri.select(countDistinct(col("bgh")).as("n_types"))
    val cxTok = doctoks.groupBy(col("wh")).agg(sum(col("occ")).as("c_x_tok"))
    // cxTok joins LEFT: the LM label's unigram denominator exists only
    // for bigrams whose context word is a real token of some document.
    // The one case where it is absent is the degenerate empty-token-list
    // doc (its single kernel shingle has no unigram) — an INNER join here
    // would silently drop that doc from the KN leg too, costing it its
    // tercile bucket and breaking the funnel's every-doc-keeps-a-row
    // invariant (the pre-merge two-pass form scored KN without cxTok).
    // The LM aggregate therefore carries its own denominator over the
    // matched rows only — identical to the two-pass INNER formulation.
    val scored = docstats
      .join(cxy, Seq("bgh"))
      .join(broadcast(cx), Seq("w1h"))
      .join(broadcast(bw), Seq("w2h"))
      .join(broadcast(cxTok), docstats("w1h") === cxTok("wh"), "left")
      .crossJoin(broadcast(nt))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("occ")).cast("long").as("n_bigrams"),
        sum(
          col("occ") * (expr(
            "((4 * CAST(c_xy AS DECIMAL(38,0)) - 3) * 250000000) div CAST(c_x AS DECIMAL(38,0))"
          ) +
            expr(
              "(CAST(750000000 AS DECIMAL(38,0)) * n1f * n1b) div (CAST(c_x AS DECIMAL(38,0)) * n_types)"
            ))
        ).as("knsc"),
        sum(when(col("c_x_tok").isNotNull, col("occ")).otherwise(lit(0L)))
          .cast("long")
          .as("n_lm"),
        sum(col("occ") * expr("(c_xy * 1000000) div c_x_tok")).as("lmsc")
      )
      .select(
        col("doc_id"),
        expr("knsc div n_bigrams").as("kn_score_e9"),
        expr("case when n_lm > 0 then lmsc div n_lm end").as("lm_score_e6")
      )
    // ONE materialization serves every scored-frame consumer: the pin is
    // exactly the range layout the tercile rank needs (lang, score,
    // doc_id — identical to what bucketize's shardedRowNumber would
    // build), and lm_score_e6 rides along so the label frame reads the
    // same checkpoint. This replaces the former scored-checkpoint +
    // rank-pin pair (two sequential driver-blocking jobs, the second
    // re-passing the first's output) with one job (guide §1.2, §2.4).
    val rankOrder = Seq(col("kn_score_e9"), col("doc_id"))
    val pinned = Split.pin(
      scored.join(puregates.select(col("doc_id"), col("lang")), Seq("doc_id")),
      "lang",
      rankOrder,
      shards
    )
    val buck = tercilesOf(Split.rankPinned(pinned, "lang", rankOrder, out = "rn"))
    // classifier legs: features j = bgh mod Dim (the scoring path's own
    // hash), LM label from the shared pinned frame. The former (doc_id,
    // j)-aggregated feature checkpoint is gone: training aggregates the
    // TRAIN split only (filter pushed below the aggregate — strictly less
    // work than aggregating all docs and filtering), and the margin pass
    // folds the j-bucketing into its own per-doc aggregate, which is
    // bit-identical because the integer dot product distributes over the
    // per-bucket grouping.
    val jCol = pmod(col("bgh"), lit(TrainedClf.Dim.toLong)).cast("int")
    // NULL-LM rows (degenerate docs) stay OUT of the label frame: the
    // quality label's corpus mean divides by the frame's ROW count, and
    // the two-pass formulation's lm frame had no row for them at all.
    val labs = TrainedClf.labelsFromStats(
      puregates.select(col("doc_id")),
      pinned
        .filter(col("lm_score_e6").isNotNull)
        .select(col("doc_id"), col("lm_score_e6")),
      puregates
    )
    val isTrain = Split.splitLabel(col("doc_id")) === "train"
    val (w, _) = TrainedClf.trainOnFrames(
      docstats
        .filter(isTrain)
        .groupBy(col("doc_id"), jCol.as("j"))
        .agg(sum(col("occ")).as("cnt")),
      labs.filter(isTrain)
    )
    val marginCols = TrainedClf.ToxClasses.map { case (cls, _) =>
      sum(
        col("occ") * element_at(
          typedLit(w(cls).toIndexedSeq: IndexedSeq[Long]),
          (jCol + 1).cast("int")
        )
      ).cast("long").as(s"m_$cls")
    }
    val toxMargins = docstats
      .groupBy(col("doc_id"))
      .agg(marginCols.head, marginCols.tail: _*)
    val toxKeep = toxMargins.select(
      col("doc_id"),
      TrainedClf.ToxClasses
        .map { case (c, _) => !(col(s"m_$c") > 0L) }
        .reduce(_ && _)
        .as("tox_keep")
    )
    puregates
      .select(
        col("doc_id"),
        col("gopher_keep"),
        col("c4_keep"),
        col("lang"),
        col("rep_keep")
      )
      .join(toxKeep, Seq("doc_id"))
      .join(buck.select(col("doc_id"), col("kn_score_e9"), col("bucket")), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("gopher_keep"),
        col("c4_keep"),
        col("lang"),
        col("rep_keep"),
        col("tox_keep"),
        col("kn_score_e9"),
        col("bucket")
      )
  }

  def ensureGateAsset(sfDir: String, docs: DataFrame): String =
    Indexes.ensure(
      "curation-gates", sfDir, docs, "doc_id", "struct(text, lang)",
      // v3: gate verdicts derived via the foldable sufficient-statistics
      // layout (puregates/docstats/doctoks + deriveGates); toxicity =
      // the TRAINED one-vs-rest heads
      // v4: deriveGates scores the KN leg with a LEFT cxTok join, so a
      // degenerate empty-token doc keeps its tercile bucket (identical
      // bits on any corpus without such docs; the salt invalidates assets
      // a v3 build left with a NULL bucket)
      "v=4") { tmp =>
      val spark = docs.sparkSession
      val (pg, ds, dt) = pureStats(docs)
      pg.write.mode("overwrite").parquet(s"$tmp/puregates")
      ds.write.mode("overwrite").parquet(s"$tmp/docstats")
      dt.write.mode("overwrite").parquet(s"$tmp/doctoks")
      // derive from the WRITTEN statistics (not the in-memory frames), so
      // the wholesale build and a later fold run deriveGates over the
      // same physical inputs
      deriveGates(
        spark.read.parquet(s"$tmp/puregates"),
        spark.read.parquet(s"$tmp/docstats"),
        spark.read.parquet(s"$tmp/doctoks")
      ).write.mode("overwrite").parquet(s"$tmp/gates")
    }

  /** Read-side of [[ensureGateAsset]]: (doc_id, gopher_keep, c4_keep,
    * lang, rep_keep, tox_keep, kn_score_e9, bucket).
    */
  def gateAsset(sfDir: String, docs: DataFrame): DataFrame =
    docs.sparkSession.read.parquet(s"${ensureGateAsset(sfDir, docs)}/gates")
}
