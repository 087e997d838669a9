package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.operators.{Dedup, Text}
import graft.util.Cols.lng

/** Dedup query surface over `documents`. The DuckDB oracles re-implement
  * the exact same md5-derived hashing, so MinHash/SimHash values — not just
  * the final pair lists — are cross-checked bit-for-bit.
  */
object DedupQ {

  private val toksSql =
    s"list_filter(${Text.tokensSqlAll("text")}, w -> length(w) > 1)"

  /** DuckDB 60-bit hash of a string expression (mirror of Cols.md5Long). */
  private def h60(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  /** The k-parameterized ExactSubstr-removal CTE chain (DuckDB replay of
    * [[graft.operators.Dedup.substrRemovalStats]]), name-prefixed so two
    * operating points can share one WITH clause. Ends in `<p>out` with
    * (min_match, doc_id, n_tokens, n_kept, n_removed, clean_md5).
    */
  private def substrRemovalCtes(k: Int, p: String): String =
    s"""${p}t AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |${p}occ AS (
       |  SELECT doc_id, u.i - 1 AS start,
       |    ${h60(s"array_to_string(tk[u.i:u.i+${k - 1}], ' ')")} AS gh
       |  FROM ${p}t CROSS JOIN unnest(generate_series(1, greatest(len(tk) - ${k - 1}, 1))) AS u(i)
       |),
       |${p}rk AS (
       |  SELECT doc_id, start, gh,
       |    row_number() OVER (PARTITION BY gh ORDER BY doc_id, start) AS rn,
       |    COUNT(*) OVER (PARTITION BY gh) AS n_occ
       |  FROM ${p}occ
       |),
       |${p}rem AS (
       |  SELECT DISTINCT doc_id, u.pos
       |  FROM ${p}rk CROSS JOIN unnest(generate_series(start, start + ${k - 1})) AS u(pos)
       |  WHERE n_occ >= 2 AND rn > 1
       |),
       |${p}tok AS (
       |  SELECT doc_id, u.i - 1 AS pos, tk[u.i] AS tok
       |  FROM ${p}t CROSS JOIN unnest(generate_series(1, len(tk))) AS u(i)
       |),
       |${p}kept AS (
       |  SELECT a.doc_id, a.pos, a.tok
       |  FROM ${p}tok a LEFT JOIN ${p}rem r ON a.doc_id = r.doc_id AND a.pos = r.pos
       |  WHERE r.doc_id IS NULL
       |),
       |${p}reb AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |         string_agg(tok, ' ' ORDER BY pos) AS clean_text
       |  FROM ${p}kept GROUP BY doc_id
       |),
       |${p}out AS (
       |  SELECT $k::BIGINT AS min_match, t.doc_id, len(t.tk)::BIGINT AS n_tokens,
       |    coalesce(reb.n_kept, 0)::BIGINT AS n_kept,
       |    (len(t.tk) - coalesce(reb.n_kept, 0))::BIGINT AS n_removed,
       |    md5(coalesce(reb.clean_text, '')) AS clean_md5
       |  FROM ${p}t t LEFT JOIN ${p}reb reb ON t.doc_id = reb.doc_id
       |)""".stripMargin

  /** Shared DuckDB replay of the incremental ExactSubstr ingest rewrite
    * (corpus = doc_id % 10 != 7, delta = the rest): used by both
    * d_substr_delta (batch-built index) and d_substr_index_fold
    * (stream-grown index) -- the two must be bit-identical.
    */
  private val substrDeltaOracleSql: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
           |occ AS (
           |  SELECT doc_id, u.i - 1 AS start,
           |    ${h60("array_to_string(tk[u.i:u.i+3], ' ')")} AS gh
           |  FROM t CROSS JOIN unnest(generate_series(1, greatest(len(tk) - 3, 1))) AS u(i)
           |),
           |cg AS (SELECT DISTINCT gh FROM occ WHERE doc_id % 10 != 7),
           |docc AS (SELECT doc_id, start, gh FROM occ WHERE doc_id % 10 = 7),
           |hit AS (SELECT doc_id, start FROM docc WHERE gh IN (SELECT gh FROM cg)),
           |fresh AS (
           |  SELECT doc_id, start, gh,
           |    row_number() OVER (PARTITION BY gh ORDER BY doc_id, start) AS rn,
           |    COUNT(*) OVER (PARTITION BY gh) AS n_occ
           |  FROM docc WHERE gh NOT IN (SELECT gh FROM cg)
           |),
           |rem0 AS (
           |  SELECT doc_id, start FROM hit
           |  UNION ALL
           |  SELECT doc_id, start FROM fresh WHERE n_occ >= 2 AND rn > 1
           |),
           |rem AS (
           |  SELECT DISTINCT doc_id, u.pos
           |  FROM rem0 CROSS JOIN unnest(generate_series(start, start + 3)) AS u(pos)
           |),
           |tok AS (
           |  SELECT doc_id, u.i - 1 AS pos, tk[u.i] AS tok
           |  FROM t CROSS JOIN unnest(generate_series(1, len(tk))) AS u(i)
           |  WHERE doc_id % 10 = 7
           |),
           |kept AS (
           |  SELECT k.doc_id, k.pos, k.tok
           |  FROM tok k LEFT JOIN rem r ON k.doc_id = r.doc_id AND k.pos = r.pos
           |  WHERE r.doc_id IS NULL
           |),
           |reb AS (
           |  SELECT doc_id, COUNT(*) AS n_kept,
           |         string_agg(tok, ' ' ORDER BY pos) AS clean_text
           |  FROM kept GROUP BY doc_id
           |)
           |SELECT t.doc_id, len(t.tk)::BIGINT AS n_tokens,
           |  coalesce(reb.n_kept, 0)::BIGINT AS n_kept,
           |  (len(t.tk) - coalesce(reb.n_kept, 0))::BIGINT AS n_removed,
           |  md5(coalesce(reb.clean_text, '')) AS clean_md5
           |FROM t LEFT JOIN reb ON t.doc_id = reb.doc_id
           |WHERE t.doc_id % 10 = 7
           |ORDER BY t.doc_id""".stripMargin

  /** Shared oracle CTE: doc_id + distinct word-2-shingles. */
  private val shinglesCte =
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |         generate_series(1, greatest(len(tk) - 1, 1)),
       |         i -> array_to_string(tk[i:i+1], ' '))) AS sh
       |       FROM t)""".stripMargin

  /** CTE chain ending in `pairs(a_id, b_id, jacc)`: the verified
    * MinHash-LSH near-dup pairs (mirror of Dedup.minhashDups). Shared by
    * d_minhash_lsh and the connected-components clustering oracle.
    */
  private[queries] val minhashPairsCtes: String = {
    val mhDefs = (0 until Dedup.NumHashes)
      .map(i => s"list_min(list_transform(sh, s -> ${h60(s"s || '#$i'")})) AS mh$i")
      .mkString(",\n         ")
    val bandSelects = (0 until Dedup.NumBands)
      .map { b =>
        val catted = (0 until Dedup.RowsPerBand)
          .map(r => s"mh${b * Dedup.RowsPerBand + r}::VARCHAR")
          .mkString(" || ',' || ")
        s"SELECT doc_id, $b AS band, ${h60(s"($catted)")} AS bhash FROM mh"
      }
      .mkString("\n  UNION ALL ")
    s"""$shinglesCte,
       |mh AS (SELECT doc_id, sh,
       |         $mhDefs
       |       FROM sh),
       |bands AS (
       |  $bandSelects
       |),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.bhash = r.bhash AND l.doc_id < r.doc_id
       |),
       |pairs AS (
       |  SELECT a_id, b_id,
       |    len(list_intersect(sa.sh, sb.sh))::DOUBLE /
       |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jacc
       |  FROM cand JOIN sh sa ON a_id = sa.doc_id JOIN sh sb ON b_id = sb.doc_id
       |  WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE /
       |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
       |      >= ${Dedup.JaccardThreshold}
       |)""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q(
      "d_exact",
      (s, d) => Dedup.exactDups(Tables.documents(s, d)).orderBy("doc_id"),
      Some(
        """WITH t AS (
          |  SELECT doc_id,
          |    md5(trim(regexp_replace(replace(lower(text), chr(39), ''), '[^a-z]+', ' ', 'g')))
          |      AS content_hash
          |  FROM documents)
          |SELECT doc_id, content_hash,
          |  count(*) OVER (PARTITION BY content_hash) AS dup_count,
          |  min(doc_id) OVER (PARTITION BY content_hash) AS canonical_id
          |FROM t ORDER BY doc_id""".stripMargin
      ),
      doc = "Exact dedup: content-hash groups with size and canonical id."
    ),
    Q(
      "d_minhash_lsh",
      (s, d) =>
        Dedup
          .minhashDups(Tables.documents(s, d))
          .orderBy("a_id", "b_id"),
      Some(
        s"""$minhashPairsCtes
           |SELECT a_id, b_id, jacc FROM pairs ORDER BY a_id, b_id""".stripMargin
      ),
      doc = s"MinHash(${Dedup.NumHashes})+LSH(${Dedup.NumBands} bands) near-dup " +
        s"pairs over word-2-shingles, verified at Jaccard >= ${Dedup.JaccardThreshold}."
    ),
    // ---- the same dedup, SQL face: every stage (tokenize, shingle,
    // minhash, band, candidate join, exact-Jaccard verify) written as ONE
    // spark.sql text over the registered views + native functions
    // (word_shingles, minhash_sig run the same codegen kernels as the
    // DataFrame query above) — proving a SQL-only user gets bit-identical
    // dedup results to the DataFrame API.
    Q(
      "q_sql_dedup",
      (s, d) => {
        graft.Graft.registerSql(s, d)
        s.sql(
          s"""WITH sh AS (
             |  SELECT doc_id,
             |    word_shingles(filter(
             |      split(regexp_replace(regexp_replace(lower(text), chr(39), ''), '[^a-z]+', ' '), ' '),
             |      w -> length(w) > 1), 2) AS sh
             |  FROM documents
             |),
             |mh AS (SELECT doc_id, sh, minhash_sig(sh, ${Dedup.NumHashes}) AS mhs FROM sh),
             |bands AS (
             |  SELECT doc_id, b AS band,
             |    CAST(conv(substring(md5(CAST(concat_ws(',',
             |      mhs[${Dedup.RowsPerBand}*b], mhs[${Dedup.RowsPerBand}*b+1],
             |      mhs[${Dedup.RowsPerBand}*b+2], mhs[${Dedup.RowsPerBand}*b+3]) AS STRING)),
             |      1, 15), 16, 10) AS BIGINT) AS bhash
             |  FROM mh LATERAL VIEW explode(sequence(0, ${Dedup.NumBands - 1})) bx AS b
             |),
             |cand AS (
             |  SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
             |  FROM bands l JOIN bands r
             |    ON l.band = r.band AND l.bhash = r.bhash AND l.doc_id < r.doc_id
             |),
             |pairs AS (
             |  SELECT a_id, b_id,
             |    CAST(size(array_intersect(sa.sh, sb.sh)) AS DOUBLE) /
             |      (CAST(size(sa.sh) AS BIGINT) + CAST(size(sb.sh) AS BIGINT)
             |       - CAST(size(array_intersect(sa.sh, sb.sh)) AS BIGINT)) AS jacc
             |  FROM cand JOIN sh sa ON a_id = sa.doc_id JOIN sh sb ON b_id = sb.doc_id
             |)
             |SELECT a_id, b_id, jacc FROM pairs
             |WHERE jacc >= ${Dedup.JaccardThreshold}
             |ORDER BY a_id, b_id""".stripMargin
        )
      },
      Some(
        s"""$minhashPairsCtes
           |SELECT a_id, b_id, jacc FROM pairs ORDER BY a_id, b_id""".stripMargin
      ),
      doc = "End-to-end MinHash-LSH dedup through the SQL surface alone: " +
        "one spark.sql text using the registered native functions " +
        "(word_shingles, minhash_sig — the same codegen kernels the " +
        "DataFrame face runs) over the registered table views; " +
        "bit-identical pairs and Jaccard values to d_minhash_lsh."
    ),
    Q(
      "d_cc_clusters",
      (s, d) =>
        Dedup
          .dupClusters(Tables.documents(s, d))
          .orderBy("doc_id"),
      Some(
        // WITH RECURSIVE: walk(id, root) enumerates "root reaches id" over
        // the undirected pair graph; min reachable root == component id.
        s"""${minhashPairsCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")},
           |und AS (
           |  SELECT a_id AS src, b_id AS dst FROM pairs
           |  UNION
           |  SELECT b_id, a_id FROM pairs
           |),
           |walk(id, root) AS (
           |  SELECT DISTINCT src, src FROM und
           |  UNION
           |  SELECT u.dst, w.root FROM walk w JOIN und u ON u.src = w.id
           |),
           |comp AS (SELECT id, MIN(root) AS component FROM walk GROUP BY id),
           |sz AS (SELECT component, COUNT(*) AS csize FROM comp GROUP BY component)
           |SELECT c.id AS doc_id, c.component, s.csize
           |FROM comp c JOIN sz s USING (component) ORDER BY doc_id""".stripMargin
      ),
      doc = "Near-dup CLUSTERS: MinHash-LSH verified pairs closed under " +
        "transitivity via distributed min-label propagation (connected " +
        "components), each member mapped to the canonical min doc id. " +
        "Oracle replays the closure with a recursive CTE."
    ),
    Q(
      "d_simhash",
      (s, d) => Dedup.simhash(Tables.documents(s, d)).orderBy("doc_id"),
      Some(
        s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
           |h AS (SELECT doc_id, ${h60("w")} AS h FROM t),
           |bt AS (SELECT doc_id, u.b,
           |         CASE WHEN (h >> u.b) & 1 = 1 THEN 1 ELSE -1 END AS s
           |       FROM h, (SELECT unnest(generate_series(0, 59)) AS b) u),
           |agg AS (SELECT doc_id, b, sum(s) AS t FROM bt GROUP BY doc_id, b)
           |SELECT doc_id,
           |  sum(CASE WHEN t > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
           |FROM agg GROUP BY doc_id ORDER BY doc_id""".stripMargin
      ),
      doc = "60-bit term-frequency SimHash per document (distributed " +
        "explode/aggregate formulation, no per-node state)."
    ),
    Q(
      "d_simhash_pairs",
      (s, d) =>
        Dedup
          .simhashPairs(Dedup.simhash(Tables.documents(s, d)), maxHamming = 3)
          .orderBy("a_id", "b_id"),
      Some {
        val simCte =
          s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
             |h AS (SELECT doc_id, ${h60("w")} AS h FROM t),
             |bt AS (SELECT doc_id, u.b,
             |         CASE WHEN (h >> u.b) & 1 = 1 THEN 1 ELSE -1 END AS s
             |       FROM h, (SELECT unnest(generate_series(0, 59)) AS b) u),
             |agg AS (SELECT doc_id, b, sum(s) AS t FROM bt GROUP BY doc_id, b),
             |sim AS (SELECT doc_id,
             |  sum(CASE WHEN t > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
             |FROM agg GROUP BY doc_id)""".stripMargin
        s"""$simCte,
           |chunks AS (
           |  SELECT doc_id, simhash, u.c AS chunk, (simhash >> (u.c * 15)) & 32767 AS cval
           |  FROM sim, (SELECT unnest(generate_series(0, 3)) AS c) u
           |)
           |SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id,
           |  bit_count(xor(l.simhash, r.simhash))::BIGINT AS hamming
           |FROM chunks l JOIN chunks r
           |  ON l.chunk = r.chunk AND l.cval = r.cval AND l.doc_id < r.doc_id
           |WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
           |ORDER BY a_id, b_id""".stripMargin
      },
      doc = "SimHash near-dup pairs at hamming <= 3, blocked by 15-bit " +
        "chunk equality (pigeonhole: no candidate is missed)."
    ),
    // ---- incremental ingest dedup: odd doc_ids play the daily delta,
    // even ids the standing corpus. Every verified pair touching a delta
    // doc is found; corpus-vs-corpus pairs are structurally excluded (the
    // oracle filters the full pair set to the same contract).
    Q(
      "d_delta_dups",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup
          .deltaDups(
            corpus = docs.filter(col("doc_id") % 2 === 0),
            delta = docs.filter(col("doc_id") % 2 === 1)
          )
          .orderBy("a_id", "b_id")
      },
      Some(
        s"""$minhashPairsCtes
           |SELECT a_id, b_id, jacc FROM pairs
           |WHERE a_id % 2 = 1 OR b_id % 2 = 1
           |ORDER BY a_id, b_id""".stripMargin
      ),
      doc = "Incremental near-dup detection: the delta's band table probes " +
        "the full band table, so new-vs-old and new-vs-new pairs surface " +
        "without re-pairing the corpus with itself — the daily-ingest " +
        "shape; oracle = the full pair set filtered to pairs touching a " +
        "delta doc."
    ),
    // ---- split assignment keyed by near-dup CLUSTER, not document: no
    // verified near-dup pair can straddle train/test — the contamination
    // vector a per-doc hash split leaves open. Oracle replays components
    // (recursive CTE) + the group-keyed md5 bucket.
    Q(
      "d_split_leakage_safe",
      (s, d) =>
        Dedup.leakageSafeSplit(Tables.documents(s, d)).orderBy("doc_id"),
      Some(
        s"""${minhashPairsCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")},
           |und AS (
           |  SELECT a_id AS src, b_id AS dst FROM pairs
           |  UNION
           |  SELECT b_id, a_id FROM pairs
           |),
           |walk(id, root) AS (
           |  SELECT DISTINCT src, src FROM und
           |  UNION
           |  SELECT u.dst, w.root FROM walk w JOIN und u ON u.src = w.id
           |),
           |comp AS (SELECT id, MIN(root) AS component FROM walk GROUP BY id),
           |g AS (
           |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_id
           |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
           |bkt AS (
           |  SELECT doc_id, group_id,
           |    ('0x' || substr(md5(group_id::VARCHAR || '#split'), 1, 15))::BIGINT % 100 AS b
           |  FROM g)
           |SELECT doc_id, group_id,
           |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'dev' ELSE 'test' END AS split
           |FROM bkt ORDER BY doc_id""".stripMargin
      ),
      doc = "Leakage-safe 80/10/10 split: md5 bucket of the near-dup " +
        "COMPONENT id (singletons: own id), so near-duplicate pairs never " +
        "straddle a split boundary — closes the train/test contamination " +
        "vector per-document hash splitting leaves open. Components + one " +
        "left join + a map-only bucket; fully deterministic."
    ),
    // ---- the same ingest shape through a broadcast Bloom filter: corpus
    // keys become an O(numBits) bit array, the delta's membership probe is
    // map-only, and only the candidate subset (true dups + the engineered
    // false-positive tail) pays the exact-verify join. The oracle
    // recomputes every set bit and every verdict from the same md5-salted
    // construction — candidate, dup, and canonical id all hash-checked.
    Q(
      "d_bloom_delta",
      (s, d) => {
        import graft.util.Cols.md5Long
        val docs = Tables.documents(s, d)
        // the odd half plays the ingest batch; a deterministic ~10% slice
        // of the corpus is replayed into it under fresh ids (re-crawled
        // exact copies) so every verdict class — true dup, false positive,
        // true negative — is non-vacuous and hash-checked
        val recrawled = docs
          .filter(col("doc_id") % 2 === 0)
          .filter(
            pmod(md5Long(concat(col("doc_id").cast("string"), lit("#re"))), lit(100)) < 10
          )
          .withColumn("doc_id", col("doc_id") + 1000000L)
        Dedup
          .bloomDeltaDups(
            corpus = docs.filter(col("doc_id") % 2 === 0),
            delta = docs.filter(col("doc_id") % 2 === 1).unionByName(recrawled)
          )
          .orderBy("doc_id")
      },
      Some {
        val (bits, k) = (Dedup.BloomBits, Dedup.BloomHashes)
        def pos(j: Int, e: String) =
          s"('0x' || substr(md5($e || '#bf$j'), 1, 15))::BIGINT % $bits"
        val bitsCte = (0 until k)
          .map(j => s"SELECT DISTINCT ${pos(j, "h")} AS b FROM corpus")
          .mkString("\n  UNION\n  ")
        val memberExpr = (0 until k)
          .map(j => s"((${pos(j, "d.h")}) IN (SELECT b FROM bits))")
          .mkString("\n    AND ")
        s"""WITH n AS (
           |  SELECT doc_id,
           |    md5(trim(regexp_replace(replace(lower(text), chr(39), ''), '[^a-z]+', ' ', 'g')))
           |      AS h
           |  FROM documents),
           |corpus AS (SELECT doc_id, h FROM n WHERE doc_id % 2 = 0),
           |delta AS (
           |  SELECT doc_id, h FROM n WHERE doc_id % 2 = 1
           |  UNION ALL
           |  SELECT doc_id + 1000000, h FROM n
           |  WHERE doc_id % 2 = 0
           |    AND ('0x' || substr(md5(doc_id::VARCHAR || '#re'), 1, 15))::BIGINT % 100 < 10),
           |bits AS (
           |  $bitsCte),
           |cand AS (
           |  SELECT d.doc_id, d.h,
           |    $memberExpr AS candidate
           |  FROM delta d),
           |canon AS (SELECT h, MIN(doc_id) AS canonical_id FROM corpus GROUP BY h)
           |SELECT c.doc_id, c.candidate, (canon.canonical_id IS NOT NULL) AS dup,
           |  canon.canonical_id
           |FROM cand c LEFT JOIN canon ON c.h = canon.h
           |ORDER BY c.doc_id""".stripMargin
      },
      doc = s"Broadcast-Bloom delta-vs-corpus exact dedup (${Dedup.BloomBits} bits, " +
        s"${Dedup.BloomHashes} hashes, mergeable OR-combined aggregate): corpus-linear " +
        "filter build, map-only membership probe on the delta, exact-verify join on " +
        "the candidate subset only — per-doc Bloom verdict, ground truth, and " +
        "canonical id all bit-checked against a DuckDB replay of every set bit."
    ),
    // ---- dataset versioning: diff two corpus snapshots by RAW content
    // hash. v1 drops a deterministic 5% slice (the "removed" docs), v2
    // drops a different 5% (so v1-only ids read as removed and v2-only as
    // added) and rewrites another 10% (the "changed" docs) — every status
    // class is non-vacuously exercised and the whole classification is
    // bit-checked.
    Q(
      "d_snapshot_diff",
      (s, d) => {
        import graft.util.Cols.md5Long
        val docs = Tables.documents(s, d)
        def bkt(salt: String) =
          pmod(md5Long(concat(col("doc_id").cast("string"), lit(salt))), lit(100))
        val v1 = docs.filter(bkt("#v1") >= 5).select(col("doc_id"), col("text"))
        val v2 = docs
          .filter(bkt("#v2") >= 5)
          .select(
            col("doc_id"),
            when(bkt("#mod") < 10, concat(col("text"), lit(" [rev2]")))
              .otherwise(col("text"))
              .as("text")
          )
        Dedup.snapshotDiff(v1, v2).orderBy("doc_id")
      },
      Some {
        def bkt(salt: String) =
          s"('0x' || substr(md5(doc_id::VARCHAR || '$salt'), 1, 15))::BIGINT % 100"
        s"""WITH b AS (
           |  SELECT doc_id, text, ${bkt("#v1")} AS b1, ${bkt("#v2")} AS b2,
           |         ${bkt("#mod")} AS bm
           |  FROM documents
           |),
           |v1 AS (SELECT doc_id, text FROM b WHERE b1 >= 5),
           |v2 AS (SELECT doc_id,
           |         CASE WHEN bm < 10 THEN text || ' [rev2]' ELSE text END AS text
           |       FROM b WHERE b2 >= 5)
           |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
           |  CASE WHEN v2.doc_id IS NULL THEN 'removed'
           |       WHEN v1.doc_id IS NULL THEN 'added'
           |       WHEN md5(v1.text) != md5(v2.text) THEN 'changed'
           |       ELSE 'same' END AS status
           |FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id
           |ORDER BY doc_id""".stripMargin
      },
      doc = "Corpus snapshot diff (dataset versioning audit): every id " +
        "classified added/removed/changed/same by raw content md5 — each " +
        "side reduces to (id, hash) in the scan projection, one full-outer " +
        "equi-join, no text crosses the shuffle; all four classes " +
        "non-vacuous and bit-checked."
    ),
    Q(
      "d_dedup_corpus",
      (s, d) =>
        Dedup
          .dedupCorpus(Tables.documents(s, d))
          .orderBy("doc_id"),
      Some(
        s"""${minhashPairsCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")},
           |und AS (
           |  SELECT a_id AS src, b_id AS dst FROM pairs
           |  UNION
           |  SELECT b_id, a_id FROM pairs
           |),
           |walk(id, root) AS (
           |  SELECT DISTINCT src, src FROM und
           |  UNION
           |  SELECT u.dst, w.root FROM walk w JOIN und u ON u.src = w.id
           |),
           |comp AS (SELECT id, MIN(root) AS component FROM walk GROUP BY id),
           |losers AS (SELECT id FROM comp WHERE id != component),
           |exact_canon AS (
           |  SELECT doc_id FROM (
           |    SELECT doc_id,
           |      min(doc_id) OVER (PARTITION BY
           |        md5(trim(regexp_replace(replace(lower(text), chr(39), ''), '[^a-z]+', ' ', 'g'))))
           |        AS canonical_id
           |    FROM documents)
           |  WHERE doc_id = canonical_id
           |)
           |SELECT doc_id FROM exact_canon
           |WHERE doc_id NOT IN (SELECT id FROM losers)
           |ORDER BY doc_id""".stripMargin
      ),
      doc = "The shipped deduplicated corpus: one representative (min id) " +
        "per exact-dup group and per transitively-closed near-dup cluster " +
        "— exact window + LSH pairs + connected components composed, " +
        "oracle-checked end to end."
    ),
    Q(
      "d_fuzzy_names",
      (s, d) =>
        graft.operators.Fuzzy
          .fuzzyNamePairs(graft.Tables.part(s, d), "p_name", maxDist = 2)
          .orderBy("a_name", "b_name"),
      Some(
        """WITH n AS (SELECT DISTINCT p_name AS name FROM part)
          |SELECT a.name AS a_name, b.name AS b_name,
          |       levenshtein(a.name, b.name)::BIGINT AS dist
          |FROM n a JOIN n b
          |  ON a.name < b.name
          | AND abs(length(a.name) - length(b.name)) <= 2
          | AND levenshtein(a.name, b.name) <= 2
          |ORDER BY a_name, b_name""".stripMargin
      ),
      doc = "Fuzzy entity matching: distinct part names within edit " +
        "distance 2, length-band blocked (edit distance >= length delta, " +
        "so the band is lossless) with the O(m*n) levenshtein ordered " +
        "last in the join condition."
    ),
    Q(
      "d_ngram_jaccard",
      (s, d) =>
        Dedup
          .ngramJaccardPairs(Tables.documents(s, d), "lang", Dedup.JaccardThreshold)
          .orderBy("a_id", "b_id"),
      Some(
        s"""WITH t AS (SELECT doc_id, lang, $toksSql AS tk FROM documents),
           |sh AS (SELECT doc_id, lang, list_distinct(list_transform(
           |         generate_series(1, greatest(len(tk) - 1, 1)),
           |         i -> array_to_string(tk[i:i+1], ' '))) AS sh
           |       FROM t)
           |SELECT l.doc_id AS a_id, r.doc_id AS b_id,
           |  len(list_intersect(l.sh, r.sh))::DOUBLE /
           |    (len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh))) AS jacc
           |FROM sh l JOIN sh r ON l.lang = r.lang AND l.doc_id < r.doc_id
           |WHERE len(list_intersect(l.sh, r.sh))::DOUBLE /
           |    (len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)))
           |    >= ${Dedup.JaccardThreshold}
           |ORDER BY a_id, b_id""".stripMargin
      ),
      doc = "Blocked (by lang) exact pairwise n-gram Jaccard — the ground " +
        "truth LSH approximates; quadratic within blocks by design."
    ),
    // ---- the dedup-quality harness: LSH banding measured against the
    // exact ground truth it approximates. fp = band collisions the exact
    // verify rejects (wasted verify work); fn = true near-dup pairs no
    // band catches (recall the production pipeline silently loses). The
    // query that sizes NumHashes/NumBands on YOUR corpus before a 100 TB
    // run, instead of trusting the S-curve on faith.
    Q(
      "d_lsh_eval",
      (s, d) =>
        Dedup
          .lshEval(Tables.documents(s, d), "lang", Dedup.JaccardThreshold)
          .orderBy("blk"),
      Some(
        s"""$minhashPairsCtes,
           |lp AS (SELECT doc_id, lang AS blk FROM documents),
           |candb AS (
           |  SELECT c.a_id, c.b_id, la.blk
           |  FROM cand c
           |  JOIN lp la ON c.a_id = la.doc_id
           |  JOIN lp lb ON c.b_id = lb.doc_id AND la.blk = lb.blk),
           |truthb AS (
           |  SELECT l.doc_id AS a_id, r.doc_id AS b_id, la.blk
           |  FROM sh l
           |  JOIN sh r ON l.doc_id < r.doc_id
           |  JOIN lp la ON l.doc_id = la.doc_id
           |  JOIN lp lb ON r.doc_id = lb.doc_id AND la.blk = lb.blk
           |  WHERE len(list_intersect(l.sh, r.sh))::DOUBLE /
           |    (len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)))
           |    >= ${Dedup.JaccardThreshold}),
           |uni AS (
           |  SELECT COALESCE(t.blk, c.blk) AS blk,
           |    (t.a_id IS NOT NULL)::BIGINT AS tt,
           |    (c.a_id IS NOT NULL)::BIGINT AS cc
           |  FROM truthb t FULL OUTER JOIN candb c
           |    ON t.a_id = c.a_id AND t.b_id = c.b_id)
           |SELECT COALESCE(blk, 'ALL') AS blk,
           |  SUM(tt)::BIGINT AS n_truth, SUM(cc)::BIGINT AS n_cand,
           |  SUM(tt * cc)::BIGINT AS tp,
           |  SUM((1 - tt) * cc)::BIGINT AS fp,
           |  SUM(tt * (1 - cc))::BIGINT AS fn,
           |  CASE WHEN SUM(cc) > 0
           |    THEN ((1000 * SUM(tt * cc)) // SUM(cc))::BIGINT END AS precision_permille,
           |  CASE WHEN SUM(tt) > 0
           |    THEN ((1000 * SUM(tt * cc)) // SUM(tt))::BIGINT END AS recall_permille
           |FROM uni GROUP BY ROLLUP(blk) ORDER BY blk""".stripMargin
      ),
      doc = "MinHash-LSH quality evaluation vs exact ground truth: per " +
        "lang block plus an ALL rollup, the candidate-pair confusion " +
        "matrix (n_truth, n_cand, tp, fp, fn) and integral permille " +
        "precision/recall of the banding at the verify threshold. The " +
        "truth leg is the declared-quadratic ground-truth query (run the " +
        "harness on a sample at scale); the LSH leg is the production " +
        "banded join. Every cell bit-replayed in DuckDB."
    ),
    // ---- the 100 TB-runnable form of the harness: the SAME confusion
    // matrix on a deterministic md5 BLOCK sample (1/2 of lang blocks
    // here). The quadratic truth leg is within-block, so block sampling
    // bounds it by the rate while keeping every pair of each surviving
    // block — per-block cells are bit-identical to the full harness's
    // rows, the ALL row extrapolates by x2. md5-keyed sampling is a pure
    // function of the block value — partitioning-invariant,
    // bit-reproducible, oracle-able (rand() sampling is neither).
    Q(
      "d_lsh_eval_sampled",
      (s, d) =>
        Dedup
          .lshEvalSampled(
            Tables.documents(s, d), "lang", Dedup.JaccardThreshold, inverseRate = 2
          )
          .orderBy("blk"),
      Some {
        val keep = s"${h60("lang || '#blocks'")} % 2 = 0"
        val ctes = minhashPairsCtes
          .replace("FROM documents", "FROM sdocs")
          .replaceFirst(
            "^WITH ",
            s"WITH sdocs AS (SELECT * FROM documents WHERE $keep),\n"
          )
        s"""$ctes,
           |lp AS (SELECT doc_id, lang AS blk FROM sdocs),
           |candb AS (
           |  SELECT c.a_id, c.b_id, la.blk
           |  FROM cand c
           |  JOIN lp la ON c.a_id = la.doc_id
           |  JOIN lp lb ON c.b_id = lb.doc_id AND la.blk = lb.blk),
           |truthb AS (
           |  SELECT l.doc_id AS a_id, r.doc_id AS b_id, la.blk
           |  FROM sh l
           |  JOIN sh r ON l.doc_id < r.doc_id
           |  JOIN lp la ON l.doc_id = la.doc_id
           |  JOIN lp lb ON r.doc_id = lb.doc_id AND la.blk = lb.blk
           |  WHERE len(list_intersect(l.sh, r.sh))::DOUBLE /
           |    (len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)))
           |    >= ${Dedup.JaccardThreshold}),
           |uni AS (
           |  SELECT COALESCE(t.blk, c.blk) AS blk,
           |    (t.a_id IS NOT NULL)::BIGINT AS tt,
           |    (c.a_id IS NOT NULL)::BIGINT AS cc
           |  FROM truthb t FULL OUTER JOIN candb c
           |    ON t.a_id = c.a_id AND t.b_id = c.b_id)
           |SELECT COALESCE(blk, 'ALL') AS blk,
           |  SUM(tt)::BIGINT AS n_truth, SUM(cc)::BIGINT AS n_cand,
           |  SUM(tt * cc)::BIGINT AS tp,
           |  SUM((1 - tt) * cc)::BIGINT AS fp,
           |  SUM(tt * (1 - cc))::BIGINT AS fn,
           |  CASE WHEN SUM(cc) > 0
           |    THEN ((1000 * SUM(tt * cc)) // SUM(cc))::BIGINT END AS precision_permille,
           |  CASE WHEN SUM(tt) > 0
           |    THEN ((1000 * SUM(tt * cc)) // SUM(tt))::BIGINT END AS recall_permille
           |FROM uni GROUP BY ROLLUP(blk) ORDER BY blk""".stripMargin
      },
      doc = "Sampled MinHash-LSH quality evaluation: the d_lsh_eval " +
        "confusion matrix restricted to a deterministic md5 BLOCK sample " +
        "(1/2 of lang blocks; the quadratic truth leg is within-block, " +
        "so block sampling bounds it by the rate while keeping surviving " +
        "blocks' cells bit-identical to the full harness). Exact integer " +
        "counts, bit-replayed in DuckDB — the form of the tuning harness " +
        "you run against a 100 TB corpus, with a finer blockCol."
    ),
    Q(
      "d_contamination",
      (s, d) =>
        Dedup.contamination(Tables.documents(s, d), 4).orderBy("doc_id"),
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS tk,
           |  ${h60("doc_id::VARCHAR")} % 100 AS bucket FROM documents),
           |sh AS (SELECT doc_id, bucket, unnest(list_distinct(list_transform(
           |         generate_series(1, greatest(len(tk) - 3, 1)),
           |         i -> array_to_string(tk[i:i+3], ' ')))) AS gram FROM t),
           |test AS (SELECT doc_id, gram FROM sh WHERE bucket >= 90),
           |train AS (SELECT DISTINCT gram FROM sh WHERE bucket < 80)
           |SELECT doc_id, COUNT(*) AS n_shared, MIN(gram) AS sample_gram
           |FROM test WHERE gram IN (SELECT gram FROM train)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      ),
      doc = "Train/test n-gram decontamination audit: test-split docs " +
        "(deterministic hash split) sharing any distinct 4-shingle with " +
        "any train doc, via a gram-keyed semi-join — one shingle scan, " +
        "no train-side dedup, contaminated docs only."
    ),
    Q(
      "d_span_coverage",
      (s, d) => {
        // Duplicated-span mass per document (the substring-dedup decision
        // signal of Lee et al., "Deduplicating Training Data Makes Language
        // Models Better"): what fraction of a doc's word-4-gram spans also
        // occur in some other document. High coverage = boilerplate /
        // copy-pasta candidate for removal.
        //
        // Only the 60-bit gram hash crosses the shuffle (8-byte keys; the
        // gram strings never leave the map side). The exploded span table
        // feeds BOTH the DF count and the join, so it is localCheckpointed
        // (eager) — materialized once, lineage truncated, and its blocks
        // are released by the context cleaner when the plan is dropped,
        // unlike persist() which would pin executor memory for the rest of
        // a full suite run. The span-DF aggregate and the per-doc rollup
        // are both partial-aggregable — two hash-key shuffles total at any
        // corpus size.
        import graft.util.Cols.md5Long
        val docs = Tables.documents(s, d)
        val spans = docs
          .select(
            col("doc_id"),
            explode(
              Dedup.wordShingles(Text.tokensAll(col("text")), 4)
            ).as("g")
          )
          .select(col("doc_id"), md5Long(col("g")).as("gh"))
          .localCheckpoint(true)
        // wordShingles is distinct-per-doc, so plain count == distinct-doc
        // count per gram (no countDistinct expand needed).
        val df = spans.groupBy(col("gh")).agg(count(lit(1)).as("g_df"))
        spans
          .join(df, Seq("gh"))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).cast("long").as("n_spans"),
            sum(when(col("g_df") >= 2, 1L).otherwise(0L))
              .cast("long")
              .as("shared_spans"),
            max(col("g_df")).cast("long").as("max_span_df")
          )
          .withColumn(
            "dup_coverage",
            col("shared_spans").cast("double") / col("n_spans")
          )
          .orderBy("doc_id")
      },
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
           |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |         generate_series(1, greatest(len(tk) - 3, 1)),
           |         i -> array_to_string(tk[i:i+3], ' ')))) AS g FROM t),
           |df AS (SELECT g, COUNT(*) AS g_df FROM sh GROUP BY g)
           |SELECT s.doc_id, COUNT(*) AS n_spans,
           |  SUM(CASE WHEN d.g_df >= 2 THEN 1 ELSE 0 END)::BIGINT AS shared_spans,
           |  MAX(d.g_df)::BIGINT AS max_span_df,
           |  SUM(CASE WHEN d.g_df >= 2 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)
           |    AS dup_coverage
           |FROM sh s JOIN df d ON s.g = d.g
           |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin
      ),
      doc = "Per-document duplicated-span coverage (fraction of distinct " +
        "word-4-grams shared with any other doc) — the Lee-et-al " +
        "substring-dedup signal; exact integer counts + one final " +
        "division, hash-keyed shuffles only."
    ),
    Q(
      "d_substr_removal",
      (s, d) => {
        // ExactSubstr dedup WITH REMOVAL (Lee et al. 2022): every
        // duplicated token-4-gram occurrence except its canonical one
        // (global (doc_id, start) minimum — first occurrence in corpus
        // order) marks its 4 token positions; documents are rebuilt from
        // the surviving positions. Greedy span union: overlapping
        // duplicated grams just union their positions, and the canonical
        // occurrence of one gram may still lose tokens to ANOTHER gram's
        // removal — the standard deterministic resolution.
        //
        // The minMatch=4 instance of Dedup.substrRemovalStats — scale
        // shape documented there (hash-keyed shuffles only, no all-pairs
        // stage); d_substr_minlen runs the published longer operating
        // points through the same pipeline.
        Dedup.substrRemovalStats(Tables.documents(s, d), 4).orderBy("doc_id")
      },
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
           |occ AS (
           |  SELECT doc_id, u.i - 1 AS start,
           |    ${h60("array_to_string(tk[u.i:u.i+3], ' ')")} AS gh
           |  FROM t CROSS JOIN unnest(generate_series(1, greatest(len(tk) - 3, 1))) AS u(i)
           |),
           |rk AS (
           |  SELECT doc_id, start, gh,
           |    row_number() OVER (PARTITION BY gh ORDER BY doc_id, start) AS rn,
           |    COUNT(*) OVER (PARTITION BY gh) AS n_occ
           |  FROM occ
           |),
           |rem AS (
           |  SELECT DISTINCT doc_id, u.pos
           |  FROM rk CROSS JOIN unnest(generate_series(start, start + 3)) AS u(pos)
           |  WHERE n_occ >= 2 AND rn > 1
           |),
           |tok AS (
           |  SELECT doc_id, u.i - 1 AS pos, tk[u.i] AS tok
           |  FROM t CROSS JOIN unnest(generate_series(1, len(tk))) AS u(i)
           |),
           |kept AS (
           |  SELECT k.doc_id, k.pos, k.tok
           |  FROM tok k LEFT JOIN rem r ON k.doc_id = r.doc_id AND k.pos = r.pos
           |  WHERE r.doc_id IS NULL
           |),
           |reb AS (
           |  SELECT doc_id, COUNT(*) AS n_kept,
           |         string_agg(tok, ' ' ORDER BY pos) AS clean_text
           |  FROM kept GROUP BY doc_id
           |)
           |SELECT t.doc_id, len(t.tk)::BIGINT AS n_tokens,
           |  coalesce(reb.n_kept, 0)::BIGINT AS n_kept,
           |  (len(t.tk) - coalesce(reb.n_kept, 0))::BIGINT AS n_removed,
           |  md5(coalesce(reb.clean_text, '')) AS clean_md5
           |FROM t LEFT JOIN reb ON t.doc_id = reb.doc_id
           |ORDER BY t.doc_id""".stripMargin
      ),
      doc = "ExactSubstr dedup WITH removal (Lee et al. 2022): duplicated " +
        "token-4-gram spans keep only their canonical (corpus-first) " +
        "occurrence; every other occurrence's positions are removed and " +
        "each document's text rebuilt from the survivors — md5 of the " +
        "rebuilt text bit-checked. Gram hashes (8 bytes) are the only " +
        "shuffle keys; linear occurrence table, no all-pairs stage."
    ),
    Q(
      "d_substr_minlen",
      (s, d) => {
        // The PARAMETERIZED minimum-match-length ExactSubstr (Lee et al.
        // 2022 publish ~50 tokens): the same window pipeline at two
        // longer operating points. A position is removed iff covered by
        // a duplicated minMatch-window occurrence that is not canonical
        // — exact for the >=minMatch duplicated-substring semantics
        // (any window of a longer duplicated span is itself duplicated).
        val docs = Tables.documents(s, d)
        Seq(8, 20)
          .map(k =>
            Dedup
              .substrRemovalStats(docs, k)
              .select(
                lit(k.toLong).as("min_match"),
                col("doc_id"),
                col("n_tokens"),
                col("n_kept"),
                col("n_removed"),
                col("clean_md5")
              )
          )
          .reduce(_ unionByName _)
          .orderBy("min_match", "doc_id")
      },
      Some {
        val chains = Seq(8, 20).map(k => substrRemovalCtes(k, s"m$k")).mkString(",\n")
        val unions = Seq(8, 20)
          .map(k => s"SELECT * FROM m${k}out")
          .mkString("\nUNION ALL\n")
        s"""WITH $chains
           |$unions
           |ORDER BY min_match, doc_id""".stripMargin
      },
      doc = "ExactSubstr removal at parameterized minimum match lengths " +
        "(8 and 20 tokens — the published ~50-token operating point is " +
        "the same pipeline with a different literal): duplicated " +
        "minMatch-token windows keep their corpus-first occurrence, all " +
        "other covered positions are removed, rebuilt text md5-checked " +
        "per length. Window hashing is map-side O(minMatch) per " +
        "position; shuffles stay 8-byte hash-keyed at any length."
    ),
    Q(
      "d_substr_delta",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val corpus = docs.filter(col("doc_id") % 10 =!= 7)
        val delta = docs.filter(col("doc_id") % 10 === 7)
        val dir = Dedup.ensureSubstrGramIndex(d, corpus)
        Dedup.substrDeltaRemoval(s, dir, delta).orderBy("doc_id")
      },
      Some(substrDeltaOracleSql),
      doc = "INCREMENTAL ExactSubstr dedup (the ingest form of " +
        "d_substr_removal): the delta batch is tokenized once and its " +
        "4-gram occurrences probe the PERSISTED corpus gram index — " +
        "distinct 60-bit gram hashes, bucketed by gh mod 64 — so the " +
        "standing corpus is never re-tokenized or re-scanned " +
        "(plan-pinned). Corpus-known grams lose every delta occurrence " +
        "(arrival order is canonical at ingest); corpus-fresh grams " +
        "duplicated within the delta keep their delta-canonical " +
        "min(doc_id, start) occurrence via a partial-aggregable " +
        "min(struct) — no window. Rebuilt delta texts bit-checked by md5."
    ),
    Q(
      "d_substr_index_fold",
      (s, d) => {
        // the production shape: the gram index already exists (built on
        // 4/5 of the corpus, fingerprint-cached); the last fifth arrives
        // as a stream batch and folds in (delta upsert + debt compaction
        // + crash-safe swap) on a scratch COPY; the ingest rewrite then
        // probes the stream-grown asset. Must hash-equal the wholesale
        // replay over the full corpus — the grown index is provably
        // indistinguishable from a fresh build.
        val docs = Tables.documents(s, d)
        val corpusAll = docs.filter(col("doc_id") % 10 =!= 7)
        val corpus0 = corpusAll.filter(col("doc_id") % 5 =!= 1)
        val growth = corpusAll.filter(col("doc_id") % 5 === 1)
        val delta = docs.filter(col("doc_id") % 10 === 7)
        val baseDir = Dedup.ensureSubstrGramIndex(d, corpus0)
        val dir = QueryScratch.dir("d_substr_index_fold") + "/idx"
        graft.operators.Indexes.copyDir(baseDir, dir)
        graft.streaming.SubstrIndexStream
          .upsertBatch(growth, dir, batchId = 0L, compactAt = 1e-9)
        Dedup
          .substrDeltaRemovalOn(
            graft.streaming.SubstrIndexStream.readGrams(s, dir),
            delta
          )
          .orderBy("doc_id")
      },
      Some(substrDeltaOracleSql),
      doc = "Streaming substring-index fold on the oracle gate: base gram " +
        "index on 4/5 of the corpus, the last fifth folded in as a " +
        "stream batch (write-once batch rewrite + gram delta append + " +
        "debt-policy compaction + crash-safe swap) on a scratch copy, " +
        "then the ingest rewrite against the stream-grown asset. Same " +
        "DuckDB replay as d_substr_delta — the grown index must be " +
        "bit-indistinguishable from a wholesale rebuild."
    ),
    // ---- CCNet-style LINE dedup over EXTRACTED pages: the cross-document
    // frequency pass that removes residual boilerplate (promo blocks, nav
    // fragments) per-document extraction can't see — each copy looks fine
    // in isolation; only the corpus view reveals it. Fixture-non-vacuous:
    // the dirty-page corpus has two hot extracted lines (the borderline
    // promo in docs ≡ 0 mod 3 and a shared heading shape) above the 1%
    // fractional ceiling, while every content line is doc-unique.
    Q(
      "d_line_dedup",
      (s, d) => {
        val pages = graft.operators.Html
          .extract(graft.operators.Html.dirtyHtml(Tables.documents(s, d)))
          .filter(col("n_good") > 0)
          .select(col("doc_id"), col("extracted").as("text"))
        Dedup.lineDedup(pages).orderBy("doc_id")
      },
      Some(
        s"""WITH ${graft.operators.Html.extractCtes("documents")},
           |ed AS (
           |  SELECT doc_id,
           |    array_to_string(list_transform(goods, x -> x['text']), chr(10)) AS text
           |  FROM hg WHERE len(goods) > 0
           |),
           |${Dedup.lineDedupSql("ed")}
           |SELECT doc_id, n_lines, n_dropped, text_clean
           |FROM ldout ORDER BY doc_id""".stripMargin
      ),
      doc = "Corpus-level line dedup (the CCNet paragraph-hash pass): " +
        "lines whose document frequency clears the fractional ceiling " +
        "max(2, ndocs/100) are dropped from every document; survivors " +
        "rejoin in original order. One hash-keyed shuffle for the line " +
        "df table plus one reassembly groupBy — corpus-linear at any " +
        "duplication rate, the ceiling scale-stable by construction."
    ),
    Q(
      "d_chunk_storage",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // `source` rides the CDC kernel scan itself (cdcChunkStream's
        // `carry`) — no join back to a one-row-per-document frame, and in
        // particular no O(corpus) broadcast of it.
        val ch = graft.operators.TextAnalysis
          .cdcChunkStream(docs, carry = Seq("source"))
          .select(
            col("doc_id"), col("chunk_idx"), col("chunk_len"), col("chunk_md5"),
            col("source"))
        // ONE pass over the chunk stream: fold it into a (chunk_md5,
        // source)-keyed aggregate first, so the CDC kernel runs once and
        // every later step works on the far smaller aggregate. Canonical
        // occurrence = global min of integer-packed (doc_id, chunk_idx) —
        // a plain partial-aggregable MIN in both engines (chunk_idx < 1e6
        // by construction), resolved per md5 on the aggregate and joined
        // back to pick the owning source.
        // localCheckpoint pins the aggregate (distinct (chunk, source)
        // pairs — orders of magnitude smaller than the chunk stream), so
        // the three consumers below never re-run the CDC kernel: the
        // static planner materializes the common subtree twice otherwise
        // (exchange reuse is not guaranteed across the join branches).
        val g1 = ch
          .groupBy(col("chunk_md5"), col("source"))
          .agg(
            count(lit(1)).as("n"),
            lng(sum(col("chunk_len"))).as("bytes"),
            min(col("doc_id") * 1000000 + col("chunk_idx")).as("p"),
            max(col("chunk_len")).as("len")
          )
          .localCheckpoint()
        val tot = g1
          .groupBy(col("source"))
          .agg(lng(sum(col("n"))).as("n_chunks"), lng(sum(col("bytes"))).as("total_bytes"))
        val cmin = g1.groupBy(col("chunk_md5")).agg(min(col("p")).as("pmin"))
        val sto = g1
          .join(cmin, Seq("chunk_md5"))
          .filter(col("p") === col("pmin"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_unique_chunks"),
            lng(sum(col("len"))).as("stored_bytes")
          )
        tot
          .join(sto, Seq("source"), "left")
          .select(
            col("source"),
            col("n_chunks"),
            col("total_bytes"),
            coalesce(col("n_unique_chunks"), lit(0L)).as("n_unique_chunks"),
            coalesce(col("stored_bytes"), lit(0L)).as("stored_bytes")
          )
          .withColumn(
            "saved_permille",
            expr("(1000 * (total_bytes - stored_bytes)) div total_bytes")
          )
          .orderBy("source")
      },
      Some {
        val (w, dm) = (graft.operators.TextAnalysis.CdcWindow, graft.operators.TextAnalysis.CdcModulo)
        s"""WITH base AS (SELECT doc_id, text, length(text) AS n FROM documents),
           |e AS (SELECT doc_id, text, n,
           |  list_sort(list_distinct(list_append(
           |    list_filter(CASE WHEN n >= $w THEN generate_series($w, n) ELSE [] END,
           |      i -> ('0x' || substr(md5(substr(text, (i - ${w - 1})::INT, $w)), 1, 15))::BIGINT % $dm = 0),
           |    n))) AS ends FROM base),
           |flat AS (
           |  SELECT doc_id,
           |    unnest(list_transform(list_prepend(0::BIGINT, ends[:len(ends)-1]), p -> p + 1)) AS chunk_start,
           |    unnest(generate_series(1, len(ends))) - 1 AS chunk_idx,
           |    unnest(ends) AS chunk_end, text
           |  FROM e),
           |ch AS (SELECT doc_id, chunk_idx, (chunk_end - chunk_start + 1)::BIGINT AS chunk_len,
           |    md5(substr(text, chunk_start::INT, (chunk_end - chunk_start + 1)::INT)) AS chunk_md5
           |  FROM flat),
           |canon AS (SELECT chunk_md5, MIN(doc_id * 1000000 + chunk_idx)::BIGINT AS packed,
           |    MAX(chunk_len)::BIGINT AS chunk_len
           |  FROM ch GROUP BY chunk_md5),
           |tot AS (SELECT source, COUNT(*)::BIGINT AS n_chunks, SUM(chunk_len)::BIGINT AS total_bytes
           |  FROM ch JOIN documents USING (doc_id) GROUP BY source),
           |sto AS (SELECT source, COUNT(*)::BIGINT AS n_unique_chunks, SUM(canon.chunk_len)::BIGINT AS stored_bytes
           |  FROM canon JOIN documents ON canon.packed // 1000000 = documents.doc_id GROUP BY source)
           |SELECT tot.source, n_chunks, total_bytes,
           |  COALESCE(n_unique_chunks, 0)::BIGINT AS n_unique_chunks,
           |  COALESCE(stored_bytes, 0)::BIGINT AS stored_bytes,
           |  ((1000 * (total_bytes - COALESCE(stored_bytes, 0))) // total_bytes)::BIGINT AS saved_permille
           |FROM tot LEFT JOIN sto ON tot.source = sto.source
           |ORDER BY tot.source""".stripMargin
      },
      doc = "Chunk-level storage-dedup report: per source, total chunk " +
        "bytes vs bytes stored after corpus-wide content dedup (each " +
        "distinct chunk attributed to its canonical first occurrence via " +
        "an integer-packed partial-aggregable argmin — no window), plus " +
        "integral saved-permille. The capacity-planning readout of the " +
        "CDC primitive; chunk-hash-keyed shuffles only."
    )
  )
}
