package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Cols._
import graft.util.Iterate

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, blocked n-gram Jaccard.
  *
  * Scale posture (the part that must survive 100 TB):
  *   - exact dedup is one hash-partitioned window/aggregate on the content
  *     hash — Spark's classic groupBy, no driver state;
  *   - MinHash+LSH never compares all pairs: signatures are computed in the
  *     scan (map-only), candidates come from an equi-join on (band, hash) —
  *     a key shuffle whose size is O(docs × bands), and only candidates pay
  *     the exact-Jaccard verification;
  *   - SimHash is formulated as explode → two partial-aggregable groupBys
  *     (never per-executor bitset state), and its pair search joins on
  *     15-bit chunks (pigeonhole: hamming ≤ 3 ⇒ some chunk equal);
  *   - n-gram Jaccard is the quadratic baseline and is explicitly blocked
  *     (by lang here; any low-cardinality key works) — it exists as the
  *     oracle-checkable ground truth for what LSH approximates.
  *
  * All hashes are md5-derived ([[graft.util.Cols.md5Long]]) so the DuckDB
  * oracle reproduces them bit-for-bit.
  */
object Dedup {

  val NumHashes = 16
  val NumBands = 4
  val RowsPerBand: Int = NumHashes / NumBands
  val JaccardThreshold = 0.5

  /** Normalized text used for exact dedup (whitespace-canonical). */
  def normText(text: Column): Column = trim(Text.normalize(text))

  /** doc → distinct word-k-shingle array (input to MinHash / Jaccard).
    * Native one-pass kernel; [[wordShinglesHof]] is the reference
    * formulation it is pinned equal to (DedupSpec), which runs interpreted
    * and re-allocates a slice per shingle.
    */
  def wordShingles(tokens: Column, k: Int): Column =
    ExpressionUtils.column(
      graft.functions.WordShingles(ExpressionUtils.expression(tokens), k)
    )

  /** All word-k-shingles WITH multiplicity ([[wordShingles]] without the
    * dedup) — repetition scoring input, where the duplicates are the signal.
    */
  def wordShinglesAll(tokens: Column, k: Int): Column =
    ExpressionUtils.column(
      graft.functions.WordShinglesAll(ExpressionUtils.expression(tokens), k)
    )

  /** The HOF formulation of [[wordShingles]] (spec oracle only). */
  def wordShinglesHof(tokens: Column, k: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), greatest(size(tokens) - (k - 1), lit(1))),
        i => array_join(slice(tokens, i, lit(k)), " ")
      )
    )

  /** LSH band signature b over the minhash columns mh0..mh{NumHashes-1}:
    * hash of the band's concatenated row values.
    */
  def bandHash(b: Int): Column =
    md5Long(
      concat_ws(
        ",",
        (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}")): _*
      )
    )

  /** docs(doc_id, text) → (doc_id, sh, mh0..mhN): the map-only signature
    * stage. `sh` is kept for the verification join.
    */
  def signatures(docs: DataFrame, shingleK: Int = 2): DataFrame = {
    val base = docs.select(
      col("doc_id"),
      wordShingles(Text.tokensAll(col("text")), shingleK).as("sh")
    )
    // All NumHashes minhashes in one native pass over the shingle array;
    // the per-salt `array_min(transform(...))` formulation is interpreted
    // and re-walks the array NumHashes times.
    base
      .withColumn(
        "mhs",
        ExpressionUtils.column(
          graft.functions.MinHashSig(
            ExpressionUtils.expression(col("sh")),
            NumHashes
          )
        )
      )
      .select(
        col("doc_id") +: col("sh") +:
          (0 until NumHashes).map(i => col("mhs").getItem(i).as(s"mh$i")): _*
      )
  }

  /** Candidate pairs from LSH banding: doc pairs sharing at least one
    * (band, bandHash) bucket. Output: (a_id, b_id) distinct, a < b.
    */
  def lshCandidates(sigs: DataFrame): DataFrame = {
    val bands = sigs.select(
      col("doc_id"),
      posexplode(array((0 until NumBands).map(bandHash): _*))
        .as(Seq("band", "bhash"))
    )
    val l = bands.as("l")
    val r = bands.as("r")
    l.join(
      r,
      col("l.band") === col("r.band") && col("l.bhash") === col("r.bhash") &&
        col("l.doc_id") < col("r.doc_id")
    ).select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"))
      .distinct()
  }

  /** Exact Jaccard over two distinct-shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val i = size(array_intersect(a, b)).cast("long")
    val u = size(a).cast("long") + size(b).cast("long") - i
    i.cast("double") / u
  }

  /** [[jaccard]] over 60-bit-hashed shingle sets (sorted long arrays):
    * one codegen merge, no hash set and no per-element allocation.
    */
  def jaccardSortedLong(a: Column, b: Column): Column = {
    val i = ExpressionUtils
      .column(
        graft.functions.SortedIntersectCountLong(
          ExpressionUtils.expression(a),
          ExpressionUtils.expression(b)
        )
      )
      .cast("long")
    val u = size(a).cast("long") + size(b).cast("long") - i
    i.cast("double") / u
  }

  /** Full MinHash-LSH near-dup pipeline: signatures → candidates → exact
    * verification at `threshold`. Output (a_id, b_id, jacc).
    *
    * Only the narrow (doc_id, mh0..mhN) projection is cached — 17 fixed
    * columns per doc, corpus-size-independent per row. The shingle arrays
    * (corpus-sized in aggregate) are recomputed for the verification join
    * rather than pinned in memory: at 100 TB a cache of them IS the
    * corpus.
    */
  def minhashDups(docs: DataFrame, threshold: Double = JaccardThreshold): DataFrame = {
    val sigs = signatures(docs).drop("sh").cache()
    // Pinned: consumed by both the candidate-doc list and the pair join;
    // O(candidate pairs) rows — tiny by LSH construction.
    val cands = lshCandidates(sigs).cache()
    // Re-shingle ONLY docs that appear in some candidate pair (a semi-join
    // Catalyst cannot derive itself — it sees two joins against the full
    // projection). LSH's whole point is that candidates are a sliver of the
    // corpus; without this the verification stage re-tokenizes everything.
    val candDocs = cands
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
    val sh = docs
      .join(candDocs, Seq("doc_id"), "semi")
      .select(
        col("doc_id"),
        wordShingles(Text.tokensAll(col("text")), 2).as("sh")
      )
    cands
      .join(sh.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(sh.as("sb"), col("b_id") === col("sb.doc_id"))
      .select(
        col("a_id"),
        col("b_id"),
        jaccard(col("sa.sh"), col("sb.sh")).as("jacc")
      )
      .filter(col("jacc") >= threshold)
  }

  /** Corpus snapshot diff: classify every id across two corpus versions
    * as added / removed / changed / same by RAW content hash (byte
    * identity — versioning, unlike dedup, must not normalize). The
    * audit/reproducibility primitive of dataset management: "what changed
    * between the corpus a model trained on and today's?".
    *
    * Shape at scale: each side reduces to (id, md5) in the scan
    * projection — 24-byte rows into one full-outer equi-join on the id;
    * no text ever crosses the shuffle.
    */
  def snapshotDiff(
      v1: DataFrame,
      v2: DataFrame,
      idCol: String = "doc_id",
      contentCol: String = "text"
  ): DataFrame = {
    val a = v1.select(col(idCol).as("id"), md5(col(contentCol)).as("h1"))
    val b = v2.select(col(idCol).as("id"), md5(col(contentCol)).as("h2"))
    a.join(b, Seq("id"), "full")
      .select(
        col("id").as(idCol),
        when(col("h2").isNull, "removed")
          .when(col("h1").isNull, "added")
          .when(col("h1") =!= col("h2"), "changed")
          .otherwise("same")
          .as("status")
      )
  }

  /** Incremental (delta-vs-corpus) near-dup detection: find every verified
    * pair that involves at least one NEW document — new-vs-old and
    * new-vs-new — without ever re-pairing the standing corpus with itself.
    * The daily-ingest shape at 100 TB: the corpus side contributes only a
    * band-table probe (at scale, a pre-materialized bucketed table), the
    * quadratic term is bounded by the delta's bucket collisions, and
    * old-vs-old pairs are structurally impossible rather than filtered.
    */
  def deltaDups(
      corpus: DataFrame,
      delta: DataFrame,
      threshold: Double = JaccardThreshold
  ): DataFrame = {
    val allDocs = corpus.select(col("doc_id"), col("text"))
      .unionByName(delta.select(col("doc_id"), col("text")))
    val deltaSigs = signatures(delta).drop("sh")
    val allSigs = signatures(allDocs).drop("sh").cache()
    def bands(sigs: DataFrame) = sigs.select(
      col("doc_id"),
      posexplode(array((0 until NumBands).map(bandHash): _*)).as(Seq("band", "bhash"))
    )
    val cands = bands(deltaSigs)
      .as("l")
      .join(
        bands(allSigs).as("r"),
        col("l.band") === col("r.band") && col("l.bhash") === col("r.bhash") &&
          col("l.doc_id") =!= col("r.doc_id")
      )
      .select(
        least(col("l.doc_id"), col("r.doc_id")).as("a_id"),
        greatest(col("l.doc_id"), col("r.doc_id")).as("b_id")
      )
      .distinct()
      .cache()
    val candDocs = cands
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
    val sh = allDocs
      .join(candDocs, Seq("doc_id"), "semi")
      .select(col("doc_id"), wordShingles(Text.tokensAll(col("text")), 2).as("sh"))
    cands
      .join(sh.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(sh.as("sb"), col("b_id") === col("sb.doc_id"))
      .select(col("a_id"), col("b_id"), jaccard(col("sa.sh"), col("sb.sh")).as("jacc"))
      .filter(col("jacc") >= threshold)
  }

  /** SimHash (60-bit, term-frequency weighted), one codegen pass per doc
    * ([[graft.functions.SimHash60]]): md5 per token occurrence, signed
    * per-bit tally, sign → bit. Map-only — no shuffle at all. The
    * equivalent explode → per-(doc,bit) tally → reassembly formulation
    * (still mirrored by the DuckDB oracle, exact integer math) amplifies
    * every token into 60 rows and pays two groupBy exchanges for what is a
    * per-row computation.
    */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      ExpressionUtils
        .column(
          graft.functions.SimHash60(
            ExpressionUtils.expression(Text.tokensAll(col("text")))
          )
        )
        .as("simhash")
    )

  /** SimHash near-dup pairs with hamming distance <= maxHamming, found by
    * joining on 15-bit chunks (4 chunks: any pair within hamming 3 must
    * agree on >= 1 chunk; for maxHamming > 3 this is still a high-recall
    * blocking key on this corpus).
    */
  def simhashPairs(sims: DataFrame, maxHamming: Int = 3): DataFrame = {
    val chunked = sims.select(
      col("doc_id"),
      col("simhash"),
      posexplode(
        array((0 until 4).map(c => expr(s"shiftright(simhash, ${c * 15}) & 32767")): _*)
      ).as(Seq("chunk", "cval"))
    )
    val l = chunked.as("l")
    val r = chunked.as("r")
    l.join(
      r,
      col("l.chunk") === col("r.chunk") && col("l.cval") === col("r.cval") &&
        col("l.doc_id") < col("r.doc_id")
    ).select(
      col("l.doc_id").as("a_id"),
      col("r.doc_id").as("b_id"),
      expr("CAST(bit_count(l.simhash ^ r.simhash) AS BIGINT)").as("hamming")
    ).distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over an undirected pair graph (a_id, b_id) →
    * (id, component) with component = the minimum doc id reachable. This is
    * the step that turns pairwise near-dup hits into dedup GROUPS: every
    * member of a transitive cluster maps to one canonical id.
    *
    * Algorithm: iterative min-label propagation — each round every vertex
    * takes min(own label, neighbors' labels), until a fixpoint. Rounds
    * needed = graph diameter; near-dup clusters are shallow (a hub dup and
    * its variants), so this converges in 2–4 scans in practice. Each round
    * is one key-partitioned join + partial-aggregable min — no driver
    * state beyond the loop counter and a converged? count. (For adversarial
    * long-chain graphs the alternating large-star/small-star formulation
    * bounds rounds at O(log² n); same per-round plan shape.)
    */
  def connectedComponents(edges: DataFrame, maxIters: Int = 20): DataFrame = {
    // LINEAGE DISCIPLINE: each round's plan references the previous round's
    // labels twice (in the neighbor-min aggregate and in the merge join),
    // so an unbroken lineage doubles per iteration — by round 4 the driver
    // is canonicalizing a 16×-duplicated tree per action, and analysis +
    // cache lookup (both O(plan size)) dwarf the actual 510-row compute.
    // Iterate cuts the edges, the undirected edge set every round reads
    // and each round's labels with a checkpoint — the same reason
    // GraphX/MLlib checkpoint their iterative lineages.
    val e = Iterate.cut(edges)
    val und = e
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(e.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct()
      .transform(Iterate.cut)
    val labels0 = und
      .select(col("src").as("id"))
      .distinct()
      .withColumn("comp", col("id"))
      .transform(Iterate.cut)
    def round(labels: DataFrame): DataFrame = {
      val prop = und
        .join(labels, col("src") === col("id"))
        .groupBy(col("dst"))
        .agg(min(col("comp")).as("nb_min"))
      val stepped = labels
        .join(prop, col("id") === col("dst"), "left")
        .select(
          col("id"),
          least(col("comp"), coalesce(col("nb_min"), col("comp"))).as("comp"),
          (col("nb_min") < col("comp")).as("moved")
        )
      // pointer jumping: comp ← comp(comp). Labels point at nodes, so the
      // label table is its own parent function; one extra self-join per
      // round halves every label chain, turning O(diameter) rounds into
      // O(log diameter) — the difference between a 4-round and a
      // 10^6-round job on a pathological long-chain dup graph.
      val parent = stepped.select(col("id").as("p_id"), col("comp").as("p_comp"))
      stepped
        .join(parent, col("comp") === col("p_id"), "left")
        .select(
          col("id"),
          coalesce(col("p_comp"), col("comp")).as("comp"),
          (col("moved") || col("p_comp") < col("comp")).as("moved")
        )
    }
    val run = Iterate(labels0, maxIters, done = (_, next) => next.filter(col("moved")).count() == 0)(
      labels => Some(round(labels))
    )
    require(
      run.stopped,
      s"connectedComponents did not converge within $maxIters rounds " +
        "(pointer-jumped min propagation needs ~log2(diameter) rounds; " +
        "raise maxIters for adversarially deep graphs)"
    )
    run.last.select("id", "comp")
  }

  /** Near-dup clusters: MinHash-LSH pairs → connected components → per-doc
    * (doc_id, component, csize). Only docs in >= 1 verified pair appear.
    */
  def dupClusters(docs: DataFrame, threshold: Double = JaccardThreshold): DataFrame = {
    val comp = connectedComponents(minhashDups(docs, threshold))
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("csize"))
    comp
      .join(sizes, Seq("comp"))
      .select(col("id").as("doc_id"), col("comp").as("component"), col("csize"))
  }

  /** The deduplicated corpus: keeps exactly one representative per
    * exact-dup group AND per near-dup (MinHash-LSH, transitively closed)
    * cluster — the min doc id in both cases. This is the composition a
    * user actually ships: exact window + pair join + components, two
    * shuffled stages over the corpus regardless of size.
    */
  def dedupCorpus(docs: DataFrame, threshold: Double = JaccardThreshold): DataFrame = {
    val exactCanon = exactDups(docs)
      .filter(col("doc_id") === col("canonical_id"))
      .select(col("doc_id"))
    val nearDupLosers = dupClusters(docs, threshold)
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id"))
    docs
      .join(exactCanon, Seq("doc_id"), "semi")
      .join(nearDupLosers, Seq("doc_id"), "anti")
      .select(col("doc_id"))
  }

  /** LEAKAGE-SAFE train/dev/test split: the split hash is keyed by the
    * near-dup CLUSTER (connected component of verified MinHash-LSH pairs;
    * singletons key by their own id), not by the document — so no
    * near-duplicate pair can straddle a split boundary. Per-document hash
    * splitting ([[graft.operators.Split]]'s `q_hash_split` shape) puts a
    * near-dup of a training doc into the test set with probability
    * 2·p·(1−p) per pair — the classic evaluation-contamination vector this
    * operator closes. Exact dups are subsumed: identical docs share all
    * shingles, so every exact-dup pair is a verified Jaccard-1 pair and
    * lands in one component.
    *
    * Scale shape: reuses [[dupClusters]] (pair join + pointer-jumped
    * components, corpus-linear shuffles), one left join back to the
    * corpus, and a map-only md5 bucket of the group id. Deterministic:
    * same corpus → same split, regardless of partitioning.
    */
  def leakageSafeSplit(
      docs: DataFrame,
      trainPct: Int = 80,
      devPct: Int = 10,
      threshold: Double = JaccardThreshold
  ): DataFrame = {
    val comp = dupClusters(docs, threshold).select(col("doc_id"), col("component"))
    val grouped = docs
      .select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("component"), col("doc_id")))
    val b = pmod(md5Long(concat(col("group_id").cast("string"), lit("#split"))), lit(100))
    grouped.select(
      col("doc_id"),
      col("group_id"),
      when(b < trainPct, "train")
        .when(b < trainPct + devPct, "dev")
        .otherwise("test")
        .as("split")
    )
  }

  /** Exact-dup annotation: per-document content hash, the size of its
    * duplicate group, and the canonical (minimum) doc_id of the group.
    *
    * Scale shape: group stats come from a `groupBy(content_hash)` aggregate
    * joined back to the hashed corpus — NOT a `Window.partitionBy`. A window
    * makes one unsplittable partition per key, so a single boilerplate
    * document (license text, template page) duplicated millions of times in
    * a crawl pins one task; the aggregate is partial-aggregable (map-side
    * combine collapses each partition's copies to one row before the
    * exchange) and the join-back is an ordinary equi-join AQE can split on
    * skew. Same fix as `TextAnalysis.cdcChunks`' dup_count.
    */
  def exactDups(docs: DataFrame): DataFrame = {
    // pin the hashed table: the group aggregate and the join probe both
    // consume it, and the unpinned plan re-runs the scan + md5 once per
    // branch. Two columns per row.
    val hashed = docs
      .select(col("doc_id"), md5(normText(col("text"))).as("content_hash"))
      .localCheckpoint()
    val groups = hashed
      .groupBy(col("content_hash"))
      .agg(count(lit(1)).as("dup_count"), min(col("doc_id")).as("canonical_id"))
    hashed.join(groups, Seq("content_hash")).select(
      col("doc_id"),
      col("content_hash"),
      col("dup_count"),
      col("canonical_id")
    )
  }

  /** Undersized on purpose at oracle scale so the false-positive path is
    * non-vacuous; production sizing is ~10–15 bits per corpus key (see
    * [[graft.functions.BloomFilterAgg]]).
    */
  val BloomBits = 4096
  val BloomHashes = 2

  /** Exact delta-vs-corpus dedup through a broadcast BLOOM FILTER — the
    * 100 TB shape for "is this ingested document already in the corpus?".
    *
    * A direct semi-join keys the ENTIRE standing corpus through a shuffle
    * on every ingest batch; the Bloom filter replaces that with:
    *
    *   1. one corpus-linear aggregation into an O(numBits) bit array
    *      (mergeable by OR, so map-side combined — one fixed-size array per
    *      partition crosses the exchange; amortizable across batches since
    *      the filter only ever needs bits ADDED as the corpus grows);
    *   2. a broadcast of those bits to the delta: the membership probe is
    *      map-only, built-in `bit_get` expressions over the array;
    *   3. an exact-verify join AGAINST THE CANDIDATE SUBSET ONLY — true
    *      dups plus the engineered false-positive tail. Bloom negatives are
    *      definitive (no false negatives), so dropping them unverified is
    *      exact, and the expensive join carries candidate-sized, not
    *      delta-sized, input.
    *
    * Emits one row per delta doc: the Bloom verdict (`candidate`), the
    * ground truth (`dup`), and the corpus canonical id for true dups —
    * so the one-sided-error contract (dup ⇒ candidate) is visible in, and
    * hash-checked by, the output itself.
    */
  def bloomDeltaDups(
      corpus: DataFrame,
      delta: DataFrame,
      numBits: Int = BloomBits,
      numHashes: Int = BloomHashes
  ): DataFrame = {
    def hashed(df: DataFrame) =
      df.select(col("doc_id"), md5(normText(col("text"))).as("h"))
    bloomDeltaDupsKeyed(hashed(corpus), hashed(delta), numBits, numHashes)
  }

  /** [[bloomDeltaDups]] over PRE-KEYED `(doc_id, h)` frames — the key can
    * be any canonical identity (normalized-text md5, canonical-URL md5
    * for a crawl frontier, payload hash, …); the Bloom build/probe/verify
    * machinery is key-agnostic.
    */
  def bloomDeltaDupsKeyed(
      corpusH: DataFrame,
      deltaH: DataFrame,
      numBits: Int = BloomBits,
      numHashes: Int = BloomHashes
  ): DataFrame = {
    import graft.functions.BloomFilterAgg
    val filt = corpusH.agg(BloomFilterAgg.bloom(col("h"), numBits, numHashes).as("bf"))
    val probed = deltaH
      .crossJoin(broadcast(filt))
      .withColumn(
        "candidate",
        BloomFilterAgg.mightContain(col("bf"), col("h"), numBits, numHashes)
      )
      .drop("bf")
    val canon = corpusH.groupBy(col("h")).agg(min(col("doc_id")).as("canonical_id"))
    // only the candidate subset pays the verify join; negatives are exact
    // non-members by the Bloom contract
    val verified = probed
      .filter(col("candidate"))
      .join(canon, Seq("h"), "left")
    val negatives = probed
      .filter(!col("candidate"))
      .withColumn("canonical_id", lit(null).cast("long"))
    verified
      .unionByName(negatives)
      .select(
        col("doc_id"),
        col("candidate"),
        col("canonical_id").isNotNull.as("dup"),
        col("canonical_id")
      )
  }

  /** Blocked exact pairwise n-gram Jaccard via PREFIX FILTERING — the
    * classic exact set-similarity join (SSJoin/PPJoin lineage: order the
    * universe by ascending document frequency; if J(A,B) ≥ t, the first
    * `|X| − ceil(t·|X|) + 1` elements of A and of B under that order must
    * share an element). Candidate generation is therefore an EQUI-join on
    * (block, prefix-shingle) — corpus-linear shuffle, no all-pairs term —
    * and only candidates pay the exact verification. Result-identical to
    * the naive quadratic (the prefix lemma is exact, not probabilistic):
    * the same DuckDB all-pairs oracle still checks it.
    *
    * Scale shape, pass by pass (all corpus-linear):
    *   1. shingle + 60-bit-hash per doc (map-only; hashing makes every
    *      later comparison a primitive-long op — exact up to md5-60
    *      collisions, P < |shingles|²/2^61, and a collision could only
    *      INFLATE one intersection by 1);
    *   2. document frequency per shingle (one partial-aggregable groupBy)
    *      joined back, then per-doc re-aggregation into (a) the df-ascending
    *      PREFIX and (b) the value-sorted array the O(m+n) codegen merge
    *      ([[graft.functions.SortedIntersectCount]]) verifies with;
    *   3. candidates: equi-join on (block, prefix shingle) + size-ratio
    *      pruning in the join condition (J ≥ t ⇒ t·|B| ≤ |A| ≤ |B|/t),
    *      deduped to distinct pairs;
    *   4. verification: the two shingle arrays ride a pair-keyed join,
    *      merge-intersect, J ≥ t filter.
    *
    * Rare-first prefixes are what keep candidates sparse: unrelated
    * documents share COMMON shingles, which df-ordering pushes out of the
    * prefix; near-duplicates share everything, including their rare tail.
    * (The previous fragment-replicate nested loop — exact too, but
    * quadratic per block — measured 116 s on the 10× corpus, scaling at
    * ~x² as constructed.)
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      blockCol: String,
      threshold: Double,
      shingleK: Int = 2
  ): DataFrame =
    ngramJaccardPairsBlocked(docs, blockCol, threshold, shingleK)
      .select(col("a_id"), col("b_id"), col("jacc"))

  /** [[ngramJaccardPairs]] with the pair's block value carried to the
    * output (`a_id, b_id, blk, jacc`; pairs are same-block by
    * construction, so one column covers both sides). [[lshEval]] consumes
    * this form directly — the confusion matrix is per block, and carrying
    * `blk` from the candidate join costs nothing while a join back to a
    * (doc_id → block) side would re-scan the corpus projection.
    */
  /** The SSJoin harness's per-doc derivation (tokenize → shingle → md5 →
    * df join → per-doc re-aggregation), materialized ONCE (eager): the
    * pair plan references this frame four times (prefix self-join l/r +
    * verification join sa/sb), and unbroken lineage would re-run the
    * chain per reference (exchange reuse only collapses the two IDENTICAL
    * self-join sides, not the differently-projected candidate vs
    * verification legs). State is one row per INPUT doc with its hashed
    * shingle arrays — executor-local corpus-order state, safe ONLY under
    * the sample-bounded contract: the exact-truth leg is declared
    * quadratic-within-block and runs on block samples at scale
    * ([[lshEvalSampled]]), so the checkpointed universe is sample-sized,
    * same discipline as knScores' bg table. `private[graft]` so the spec
    * can row-count-guard exactly the frame that gets pinned.
    */
  private[graft] def ssjoinRanked(
      docs: DataFrame,
      blockCol: String,
      threshold: Double,
      shingleK: Int = 2
  ): DataFrame = {
    val hashed = docs.select(
      col("doc_id"),
      col(blockCol).as("blk"),
      array_distinct(
        transform(
          wordShingles(Text.tokensAll(col("text")), shingleK),
          s => md5Long(s)
        )
      ).as("hs")
    )
    val ex = hashed.select(col("doc_id"), col("blk"), explode(col("hs")).as("h"))
    val df = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // (df, h) lexicographic is a total order on the universe — the ONE
    // global order the prefix lemma requires on both sides of every pair.
    ex.join(df, Seq("h"))
      .groupBy(col("doc_id"), col("blk"))
      .agg(
        transform(
          sort_array(collect_list(struct(col("df"), col("h")))),
          s => s.getField("h")
        ).as("by_df"),
        sort_array(collect_list(col("h"))).as("sh")
      )
      .withColumn("sz", size(col("sh")))
      .withColumn(
        "pref",
        slice(col("by_df"), lit(1), (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int"))
      )
      .localCheckpoint(true)
  }

  def ngramJaccardPairsBlocked(
      docs: DataFrame,
      blockCol: String,
      threshold: Double,
      shingleK: Int = 2
  ): DataFrame = {
    val ranked = ssjoinRanked(docs, blockCol, threshold, shingleK)
    val prefEx = ranked.select(
      col("doc_id"),
      col("blk"),
      col("sz"),
      explode(col("pref")).as("tok")
    )
    val cands = prefEx
      .as("l")
      .join(
        prefEx.as("r"),
        col("l.blk") === col("r.blk") && col("l.tok") === col("r.tok") &&
          col("l.doc_id") < col("r.doc_id") &&
          col("l.sz").cast("double") >= col("r.sz") * threshold &&
          col("r.sz").cast("double") >= col("l.sz") * threshold
      )
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"), col("l.blk").as("blk"))
      .distinct()
    val sets = ranked.select(col("doc_id"), col("sh"))
    // jacc >= t stays INSIDE the join condition, last conjunct: as a
    // post-join filter Catalyst would push it in FRONT of the cheap
    // equi-conjuncts (pushed filters prepend), running the O(m+n) merge
    // before the O(1) checks.
    cands
      .join(sets.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(
        sets.as("sb"),
        col("b_id") === col("sb.doc_id") &&
          jaccardSortedLong(col("sa.sh"), col("sb.sh")) >= threshold
      )
      .select(
        col("a_id"),
        col("b_id"),
        col("blk"),
        jaccardSortedLong(col("sa.sh"), col("sb.sh")).as("jacc")
      )
  }

  /** Train/test contamination audit: test-split documents sharing at least
    * one distinct word-k-shingle with ANY train-split document — the
    * standard n-gram decontamination check run before an eval set is
    * trusted. Splits come from [[Split.hashSplit]] (deterministic, no
    * shuffle); one shingle scan covers both sides; the overlap is a
    * semi-join keyed on the gram, so the train side is never deduplicated
    * or collected — at 100 TB it stays a streamed shuffle-semi-join, and
    * the output is one row per CONTAMINATED test doc (n_shared distinct
    * grams + the lexicographically first example gram).
    */
  def contamination(docs: DataFrame, shingleK: Int = 4): DataFrame = {
    val grams = Split
      .hashSplit(docs, "doc_id")
      .select(
        col("doc_id"),
        col("split"),
        explode(wordShingles(Text.tokensAll(col("text")), shingleK)).as("gram")
      )
    val test = grams.filter(col("split") === "test").select(col("doc_id"), col("gram"))
    val train = grams.filter(col("split") === "train").select(col("gram"))
    test
      .join(train, Seq("gram"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"), min(col("gram")).as("sample_gram"))
  }

  /** MinHash-LSH quality evaluation against exact ground truth: per block
    * (and an ALL rollup row), the candidate-pair confusion matrix of the
    * LSH banding vs the exact-Jaccard pair set at `threshold`, plus
    * integral permille precision/recall. `fp` counts band collisions the
    * exact verify must reject (wasted verify work — the banding's cost);
    * `fn` counts true near-dup pairs that never collide in any band
    * (recall the production pipeline silently loses — the banding's
    * risk). "Measure, don't guess": this is the query that tells you
    * whether NumHashes/NumBands fit YOUR corpus before a 100 TB run.
    *
    * The truth leg is [[ngramJaccardPairs]] — quadratic within blocks BY
    * DESIGN (it is the ground truth LSH approximates). Run the harness on
    * a block-bounded sample, never the full corpus; the LSH leg is the
    * production-shaped banded join either way.
    */
  def lshEval(
      docs: DataFrame,
      blockCol: String = "lang",
      threshold: Double = JaccardThreshold
  ): DataFrame = {
    val blocks = docs.select(col("doc_id"), col(blockCol).as("blk"))
    // blk rides out of the truth harness itself (pairs are same-block by
    // construction) — no join back to a (doc_id → block) projection, which
    // would cost another corpus scan + shuffle join just to re-derive a
    // value the candidate stage already had.
    val truth = ngramJaccardPairsBlocked(docs, blockCol, threshold)
      .select(col("a_id"), col("b_id"), col("blk"), lit(1L).as("is_truth"))
    // candidate pairs restricted to the truth leg's pair universe (same
    // block): cross-block collisions are out of scope for the recall
    // question the harness answers.
    val cand = lshCandidates(signatures(docs).drop("sh"))
      .join(blocks.as("ca"), col("a_id") === col("ca.doc_id"))
      .join(
        blocks.as("cb"),
        col("b_id") === col("cb.doc_id") && col("ca.blk") === col("cb.blk")
      )
      .select(col("a_id"), col("b_id"), col("ca.blk").as("blk"), lit(1L).as("is_cand"))
    val uni = truth
      .join(cand, Seq("a_id", "b_id", "blk"), "full_outer")
      .select(
        col("blk"),
        coalesce(col("is_truth"), lit(0L)).as("t"),
        coalesce(col("is_cand"), lit(0L)).as("c")
      )
    uni
      .rollup(col("blk"))
      .agg(
        sum(col("t")).as("n_truth"),
        sum(col("c")).as("n_cand"),
        sum(col("t") * col("c")).as("tp"),
        sum((lit(1L) - col("t")) * col("c")).as("fp"),
        sum(col("t") * (lit(1L) - col("c"))).as("fn")
      )
      .select(
        coalesce(col("blk"), lit("ALL")).as("blk"),
        col("n_truth"),
        col("n_cand"),
        col("tp"),
        col("fp"),
        col("fn"),
        when(col("n_cand") > 0, expr("(1000 * tp) DIV n_cand"))
          .otherwise(lit(null).cast("long"))
          .as("precision_permille"),
        when(col("n_truth") > 0, expr("(1000 * tp) DIV n_truth"))
          .otherwise(lit(null).cast("long"))
          .as("recall_permille")
      )
  }

  /** The deterministic BLOCK sample [[lshEvalSampled]] evaluates on: keep
    * a whole block iff md5(blockValue # salt) % inverseRate == 0. Exposed
    * so a spec (or an operator wanting the same universe) can reproduce
    * it.
    */
  def lshEvalSample(
      docs: DataFrame,
      blockCol: String = "lang",
      inverseRate: Int = 2,
      salt: String = "blocks"
  ): DataFrame =
    docs.filter(
      pmod(
        md5Long(concat(col(blockCol).cast("string"), lit("#" + salt))),
        lit(inverseRate.toLong)
      ) === 0L
    )

  /** SCALE-SAFE [[lshEval]]: the same confusion-matrix harness evaluated
    * on a deterministic md5 BLOCK sample (rate 1/inverseRate of blocks).
    * The harness's only super-linear cost is the exact-truth leg, which
    * is quadratic WITHIN blocks — so sampling whole blocks bounds it by
    * 1/inverseRate while keeping every pair of each surviving block:
    * per-block cells are EXACT integers (identical to the full harness's
    * rows for those blocks), per-block permille ratios are exact, and the
    * ALL row is an unbiased per-pair rate-1/inverseRate estimate of the
    * corpus totals (extrapolate counts by ×inverseRate). Sampling DOCS
    * instead would thin pairs by 1/rate² and bias the harness toward
    * missing exactly the near-dup pairs it exists to count. Determinism:
    * the sample is a pure function of the block value (md5-keyed,
    * partitioning-invariant) — the same corpus always evaluates the same
    * universe, so results are bit-reproducible and oracle-checkable,
    * unlike rand()-based sampling. This is the form you run against a
    * 100 TB corpus (with a finer blockCol than lang — e.g. a domain or a
    * hash prefix — inverseRate rises with block count).
    */
  def lshEvalSampled(
      docs: DataFrame,
      blockCol: String = "lang",
      threshold: Double = JaccardThreshold,
      inverseRate: Int = 2,
      salt: String = "blocks"
  ): DataFrame =
    lshEval(lshEvalSample(docs, blockCol, inverseRate, salt), blockCol, threshold)

  /** ExactSubstr dedup WITH REMOVAL (Lee et al. 2022) at a PARAMETERIZED
    * minimum match length: every duplicated token-`minMatch`-gram
    * occurrence except its canonical one (global (doc_id, start) minimum
    * — first occurrence in corpus order) marks its `minMatch` token
    * positions; documents are rebuilt from the surviving positions.
    *
    * Correctness of the sliding-window reduction: a position is inside
    * some duplicated substring of >= minMatch tokens IFF it is covered by
    * some duplicated minMatch-window (any window of a longer duplicated
    * span is itself duplicated) — so window-level dup detection is EXACT
    * for the published minimum-match-length semantics (Lee et al. use
    * ~50; the suite's `d_substr_removal` is the minMatch=4 instance of
    * this same pipeline).
    *
    * Scale shape (unchanged from the 4-gram form): only 8-byte window
    * hashes shuffle; the occurrence table is one row per token position,
    * dup detection is a gram-keyed partial-aggregable min/count, removal
    * positions explode ×minMatch then dedup — hash-keyed shuffles only,
    * no all-pairs stage and no suffix array. Map-side window hashing
    * costs O(minMatch) per position (the window string feeds one md5 and
    * never leaves the map side); at a 50-token operating point that
    * constant is the price of exactness — a rolling polynomial hash
    * would make it O(1) at the cost of modular-arithmetic replay in the
    * oracle.
    */
  def substrRemovalStats(docs: DataFrame, minMatch: Int): DataFrame = {
    require(minMatch >= 2, s"minMatch must be >= 2, got $minMatch")
    val toks = docs
      .select(col("doc_id"), Text.tokensAll(col("text")).as("tk"))
      .localCheckpoint(true)
    val occ = toks
      .select(
        col("doc_id"),
        posexplode(wordShinglesAll(col("tk"), minMatch)).as(Seq("start", "g"))
      )
      .select(col("doc_id"), col("start"), md5Long(col("g")).as("gh"))
    val dup = occ
      .groupBy(col("gh"))
      .agg(
        min(struct(col("doc_id"), col("start"))).as("canon"),
        count(lit(1)).as("n_occ")
      )
      .filter(col("n_occ") >= 2)
    val removedPos = occ
      .join(dup, Seq("gh"))
      .filter(
        !(col("doc_id") === col("canon.doc_id") && col("start") === col("canon.start"))
      )
      .select(
        col("doc_id"),
        explode(sequence(col("start"), col("start") + lit(minMatch - 1))).as("pos")
      )
      .distinct()
    val rebuilt = toks
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "tok")))
      .join(removedPos, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(
          " ",
          transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")
          )
        ).as("clean_text"),
        count(lit(1)).cast("long").as("n_kept")
      )
    toks
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_md5")
      )
  }

  // ---- incremental ExactSubstr ingest (persisted gram index) --------------

  /** Gram-hash bucket count for the persisted substring index layout. */
  val SubstrGramBuckets = 64

  /** Build ONCE per corpus version the persisted duplicated-substring
    * index: the DISTINCT 60-bit hashes of every token-4-gram the corpus
    * contains, written bucketed by `b = gh mod `[[SubstrGramBuckets]] so a
    * delta probe is a layout-aligned equijoin (and, on a cluster, a
    * co-located bucketed join) against gram-distinct rows — orders of
    * magnitude smaller than re-tokenizing the corpus. This is the
    * ExactSubstr analogue of the image/audio/video modality indexes: the
    * corpus-linear shingle scan is paid exactly once per corpus version,
    * never per ingest batch.
    */
  def ensureSubstrGramIndex(sfDir: String, corpusDocs: DataFrame): String =
    Indexes.ensure(
      "substr-grams", sfDir, corpusDocs, "doc_id", "text",
      s"n=4,buckets=$SubstrGramBuckets") { tmp =>
      corpusDocs
        .select(explode(wordShinglesAll(Text.tokensAll(col("text")), 4)).as("g"))
        .select(md5Long(col("g")).as("gh"))
        .distinct()
        .withColumn("b", pmod(col("gh"), lit(SubstrGramBuckets.toLong)).cast("int"))
        .write.mode("overwrite").partitionBy("b").parquet(s"$tmp/grams")
    }

  /** INCREMENTAL ExactSubstr dedup (Lee et al. 2022, the ingest form):
    * rewrite a DELTA batch against the standing corpus without ever
    * re-tokenizing it. A delta 4-gram occurrence is removed when
    *
    *   - its gram exists in the corpus index (the standing corpus is
    *     canonical BY CONSTRUCTION — it was ingested first, so arrival
    *     order, not doc_id order, decides canonicality; this is where the
    *     ingest contract deliberately diverges from the batch
    *     `d_substr_removal` global-(doc_id,start) rule), or
    *   - its gram is new to the corpus but duplicated WITHIN the delta,
    *     and this occurrence is not the delta-internal canonical
    *     (min (doc_id, start) — the batch rule applied to the batch).
    *
    * Removed occurrences mark their 4 token positions (greedy span union,
    * as in the batch form); delta documents are rebuilt from surviving
    * positions. Emits (doc_id, n_tokens, n_kept, n_removed, clean_md5)
    * for the delta only.
    *
    * Scale shape: the delta is tokenized once (checkpointed — the probe
    * and the rebuild share it); only 8-byte gram hashes shuffle; the
    * corpus contributes a gram-distinct bucketed read, no text scan. The
    * within-delta canonical is a partial-aggregable min(struct) — no
    * window anywhere.
    */
  def substrDeltaRemoval(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      deltaDocs: DataFrame
  ): DataFrame =
    // the committed generation's grams: the plain `grams/` of a batch-built
    // asset, the folded one of a stream-maintained copy
    substrDeltaRemovalOn(spark.read.parquet(graft.streaming.DeltaFold.gen(dir)("grams")), deltaDocs)

  /** [[substrDeltaRemoval]] against an arbitrary (b, gh) gram frame — the
    * entry the streaming index maintenance path
    * ([[graft.streaming.SubstrIndexStream]]) uses to probe base ∪
    * outstanding-delta gram state.
    */
  def substrDeltaRemovalOn(grams: DataFrame, deltaDocs: DataFrame): DataFrame =
    substrDeltaRemovalAndGrams(grams, deltaDocs)._1

  /** [[substrDeltaRemovalOn]] plus the batch's DISTINCT gram set
    * (b, gh) — derived from the SAME checkpointed occurrence frame the
    * rewrite consumes, so an ingest path that needs both (the streaming
    * index upsert writes the rewrite AND the gram delta) tokenizes and
    * shingles the batch exactly once.
    */
  def substrDeltaRemovalAndGrams(
      grams: DataFrame,
      deltaDocs: DataFrame
  ): (DataFrame, DataFrame) = {
    val toks = deltaDocs
      .select(col("doc_id"), Text.tokensAll(col("text")).as("tk"))
      .localCheckpoint(true)
    val occ = toks
      .select(col("doc_id"), posexplode(wordShinglesAll(col("tk"), 4)).as(Seq("start", "g")))
      .select(col("doc_id"), col("start"), md5Long(col("g")).as("gh"))
      .withColumn("b", pmod(col("gh"), lit(SubstrGramBuckets.toLong)).cast("int"))
      .localCheckpoint(true) // feeds the probe join AND the canon aggregate
    val idx = grams.select(col("b"), col("gh"), lit(1).as("in_corpus"))
    // delta-internal canonical per gram, computed over ALL delta
    // occurrences: for corpus-hit grams the canon is irrelevant (every
    // occurrence is removed by the in_corpus flag), so restricting the
    // aggregate to corpus-fresh grams would only add a pass
    val canon = occ
      .groupBy(col("gh"))
      .agg(
        min(struct(col("doc_id"), col("start"))).as("canon"),
        count(lit(1)).as("n_occ")
      )
    val removedPos = occ
      .join(idx, Seq("b", "gh"), "left")
      .join(canon, Seq("gh"))
      .filter(
        col("in_corpus").isNotNull ||
          (col("n_occ") >= 2 &&
            !(col("doc_id") === col("canon.doc_id") && col("start") === col("canon.start")))
      )
      .select(col("doc_id"), explode(sequence(col("start"), col("start") + lit(3))).as("pos"))
      .distinct()
    val rebuilt = toks
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "tok")))
      .join(removedPos, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(
          " ",
          transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")
          )
        ).as("clean_text"),
        count(lit(1)).cast("long").as("n_kept")
      )
    val clean = toks
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_md5")
      )
    (clean, occ.select(col("b"), col("gh")).distinct())
  }

  /** Corpus-level LINE deduplication (the CCNet paragraph-hash pass):
    * drop every line whose DOCUMENT frequency clears the fractional
    * ceiling `max(minDocs, ndocs·maxSharePermille/1000)` — residual
    * boilerplate (cookie banners, promo blocks, nav fragments) that
    * per-document extraction can't see because each copy looks fine in
    * isolation. Distinct from ExactSubstr span removal: keys are whole
    * lines (cheap, alignment-free) and the signal is CROSS-document
    * frequency, not any-duplication.
    *
    * Shape: one hash-keyed shuffle on the line for the df table (distinct
    * (doc, line) first, so an in-document repeat counts once), a
    * broadcast-size hot set only when the corpus actually has hot lines,
    * and one groupBy(doc) to reassemble kept lines in original order —
    * corpus-linear at any duplication rate. The fractional ceiling is the
    * hot-scene-cap discipline: absolute thresholds go stale at 100×.
    *
    * Output per input doc: (doc_id, n_lines, n_dropped, text_clean) with
    * text_clean the surviving lines joined by newline in input order.
    */
  def lineDedup(
      pages: DataFrame, // (doc_id, text)
      maxSharePermille: Long = 10L,
      minDocs: Long = 2L
  ): DataFrame = {
    // pin: the doc-count probe, the df pass, and the flag join all
    // consume this frame — unpinned, an expensive upstream (extraction)
    // would re-run three times (the videoDups sig discipline)
    val src = pages.select(col("doc_id"), col("text")).localCheckpoint()
    val lines = src.select(
      col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("idx", "line"))
    )
    val nDocs = src.select(countDistinct(col("doc_id"))).head().getLong(0)
    val ceiling = math.max(minDocs, nDocs * maxSharePermille / 1000)
    val hot = lines
      .select(col("doc_id"), col("line"))
      .distinct()
      .groupBy(col("line"))
      .agg(count(lit(1)).as("ddf"))
      .filter(col("ddf") > lit(ceiling))
      .select(col("line"))
      .localCheckpoint() // consumed by the probe and (maybe) the join
    // adaptive (the litK-switch discipline): the common no-hot-lines
    // corpus skips the flag join entirely — no second pass over the line
    // table; when hot lines exist, AQE broadcasts the (small, pinned)
    // hot set at runtime rather than shuffling the corpus on the line key
    val flagged =
      if (hot.count() == 0L)
        lines.withColumn("is_hot", lit(null).cast("long"))
      else lines.join(hot.withColumn("is_hot", lit(1L)), Seq("line"), "left")
    flagged
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        sum(when(col("is_hot").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        concat_ws(
          "\n",
          transform(
            array_sort(
              collect_list(
                when(col("is_hot").isNull, struct(col("idx"), col("line")))
              )
            ),
            x => x.getField("line")
          )
        ).as("text_clean")
      )
  }

  /** DuckDB mirror of [[lineDedup]] over a `(doc_id, text)` relation
    * named `rel` — emits CTEs `ldln/ldhot` and a final per-doc SELECT the
    * caller wraps.
    */
  def lineDedupSql(rel: String, maxSharePermille: Long = 10L, minDocs: Long = 2L): String =
    s"""ldln AS (
       |  SELECT doc_id, u.i AS idx, string_split(text, chr(10))[u.i] AS line
       |  FROM $rel CROSS JOIN unnest(generate_series(1,
       |    len(string_split(text, chr(10))))) AS u(i)
       |), ldceil AS (
       |  SELECT greatest($minDocs, COUNT(DISTINCT doc_id) * $maxSharePermille // 1000) AS c
       |  FROM $rel
       |), ldhot AS (
       |  SELECT line FROM (
       |    SELECT line, COUNT(DISTINCT doc_id) AS ddf FROM ldln GROUP BY line
       |  ) WHERE ddf > (SELECT c FROM ldceil)
       |), ldout AS (
       |  SELECT doc_id, COUNT(*)::BIGINT AS n_lines,
       |    SUM(CASE WHEN line IN (SELECT line FROM ldhot) THEN 1 ELSE 0 END)::BIGINT
       |      AS n_dropped,
       |    coalesce(string_agg(CASE WHEN line NOT IN (SELECT line FROM ldhot)
       |                             THEN line END, chr(10) ORDER BY idx), '')
       |      AS text_clean
       |  FROM ldln GROUP BY doc_id
       |)""".stripMargin
}
