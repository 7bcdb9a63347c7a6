package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale text deduplication operators — exact, MinHash+LSH, SimHash,
  * n-gram Jaccard. All pure `org.apache.spark.sql.functions` (codegen'd,
  * map-side-partial aggregates); no UDFs in the hot paths.
  *
  * Scale notes (10^10-doc corpora):
  *   - signatures are ONE hash-aggregate over the exploded shingles
  *     (numHashes simultaneous `min` aggregates — partial agg on the map
  *     side, no per-doc collect);
  *   - LSH banding turns all-pairs O(n²) into per-bucket candidate pairs;
  *     bucket join is an equi shuffle join on band_hash (AQE handles the
  *     odd hot bucket);
  *   - exact verification (Jaccard / Hamming) runs only on candidates.
  */
object Dedup {

  /** lowercase word tokens. */
  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\W+"), t => t =!= "")

  /** k-word shingles of a token array (distinct). The defining Catalyst
    * composition — [[shingleSet]] is the production fast path and
    * FastScanSpec pins their equality.
    */
  def shingles(toks: Column, k: Int): Column =
    array_distinct(
      when(size(toks) < k, array(array_join(toks, " ")))
        .otherwise(transform(
          sequence(lit(0), size(toks) - k),
          i => array_join(slice(toks, i + 1, lit(k)), " "))))

  /** Fused tokens→shingles as ONE codegen'd byte scan — value-identical
    * to `shingles(tokens(text), k)` but skips the interpreted
    * higher-order-function machinery (transform/slice/array_join run
    * row-at-a-time; measured ~half of dd03's wall at sf0.1 —
    * BENCH/BASELINE.md round-6). Every shingle consumer goes through
    * here; the composition above stays as the executable spec.
    */
  def shingleSet(text: Column, k: Int): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      graft.functions.FastShingles(
        org.apache.spark.sql.graft.ColumnShim.expression(text), k))

  /** Fused text→token multiset (ordered, duplicates kept) — value-
    * identical to `tokens(text)` as one codegen'd byte scan; the
    * composition above stays as the executable spec and FastShinglesSpec
    * pins their equality. Every token-multiset consumer (SimHash votes,
    * repetition n-grams, vocab counts) goes through here.
    */
  def tokenSeq(text: Column): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      graft.functions.FastTokens(
        org.apache.spark.sql.graft.ColumnShim.expression(text)))

  // ---------------------------------------------------------------- exact

  /** Exact dedup via content hash: per-row group id, group size and the
    * deterministic keeper (min id).
    *
    * Group stats come from a partial-aggregated groupBy joined back, NOT
    * a window over the hash: a window partition holds its whole group in
    * one task, and real crawl corpora contain single documents duplicated
    * billions of times (parked pages, boilerplate) — the groupBy combines
    * map-side and the join redistributes by hash, so no task ever holds a
    * group.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = docs.withColumn("content_hash", md5(col(textCol)))
    val groups = hashed.groupBy(col("content_hash")).agg(
      count(lit(1)).as("dup_count"),
      min(col(idCol)).as("keeper_id"))
    hashed.join(groups, Seq("content_hash"))
      .withColumn("is_duplicate", col(idCol) =!= col("keeper_id"))
      .select(col(idCol), col("content_hash"), col("dup_count"),
        col("keeper_id"), col("is_duplicate"))
  }

  // -------------------------------------------------------------- minhash

  /** MinHash signatures: numHashes permutations approximated by seeded
    * hashes over each shingle; signature[j] = min_j. The hash family is
    * injectable ([[HashFamily]]): xxhash64 in production, seeded-md5
    * when an external oracle must recompute the signatures
    * value-for-value.
    *
    * Every family runs the fused [[graft.functions.MinHashSigs]]
    * expression, parameterized by the family — the whole signature is
    * one codegen'd byte scan per document, zero shingle-explode rows
    * and zero aggregate exchanges (null-text docs drop exactly like the
    * composition's explode drops them).
    * [[minhashSignaturesComposed]] is the executable spec
    * FastShinglesSpec and Md5FusedSpec pin the fused path against.
    */
  def minhashSignatures(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 64,
      family: HashFamily = HashFamily.XxHash64): DataFrame = {
    // fail loudly at plan-build time (PipelineSpec pins the contract)
    family.requireSeeds(numHashes, "permutations")
    // One fused byte-scan kernel for every family (the composed explode
    // + 64-min-aggregate structure plus Md5's md5→hex→conv leaf chain
    // was the dominant dd03-Md5 cost). The expression is null iff its input is — every non-null doc has ≥1
    // shingle (below k tokens the whole joined list, possibly "") — so
    // the null gate is the INPUT filter, which pushes down to the scan
    // (isnotnull over the expression would evaluate the kernel twice:
    // once in Filter, once in Project).
    val kernel = graft.functions.MinHashSigs(
      org.apache.spark.sql.graft.ColumnShim.expression(col(textCol)),
      shingleK, numHashes, family)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        org.apache.spark.sql.graft.ColumnShim.column(kernel).as("minhash"))
  }

  /** the defining composition (see [[minhashSignatures]]): single
    * exploded pass, `numHashes` partial-agg mins.
    */
  private[graft] def minhashSignaturesComposed(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int,
      family: HashFamily): DataFrame = {
    family.requireSeeds(numHashes, "permutations")
    // prepare() materializes the per-shingle shared hash state in ONE
    // projection, so a family whose seeds derive from a single digest
    // (Md5) pays it once per shingle, not once per (shingle, seed)
    val sh = docs
      .select(col(idCol), explode(shingleSet(col(textCol), shingleK)).as("sh"))
      .select(col(idCol), family.prepare(col("sh")).as("hp"))
    val mins = (0 until numHashes).map(j =>
      min(family.rankHashPrepared(col("hp"), lit(j))).as(s"h$j"))
    sh.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until numHashes).map(j => col(s"h$j")): _*).as("minhash"))
  }

  /** LSH band-bucket rows `(id, band, band_hash)` of a signature table —
    * the unit the COMMITTED [[MinHashIndex]] persists: band rows are
    * per-doc independent, so incremental append is EXACTLY equivalent to
    * a full rebuild (set equality, not probabilistic).
    */
  def lshBands(
      signatures: DataFrame, idCol: String,
      bands: Int, rowsPerBand: Int,
      family: HashFamily = HashFamily.XxHash64): DataFrame = {
    // the band index is the seed (fail loudly at plan-build time —
    // PipelineSpec pins the contract)
    family.requireSeeds(bands, "bands")
    // one fused per-band kernel for every family (LshBandHashes) —
    // BAND-HASH VALUES UNCHANGED vs the composition
    // (same comma-joined-decimal bytes, same hash chain per family), so
    // committed dd_bands layouts stay bit-compatible; the posexplode
    // survives because it IS the banding the bucket join consumes
    val kernel = graft.functions.LshBandHashes(
      org.apache.spark.sql.graft.ColumnShim.expression(col("minhash")),
      bands, rowsPerBand, family)
    signatures.select(
      col(idCol),
      posexplode(org.apache.spark.sql.graft.ColumnShim.column(kernel))
        .as(Seq("band", "band_hash")))
  }

  /** the defining composition (see [[lshBands]]): four interpreted
    * higher-order functions per band.
    */
  private[graft] def lshBandsComposed(
      signatures: DataFrame, idCol: String,
      bands: Int, rowsPerBand: Int,
      family: HashFamily): DataFrame = {
    // the band index is the seed, and it's lambda-bound (not a literal),
    // so Md5's plan-time literal check can't see it — bound it here
    family.requireSeeds(bands, "bands")
    signatures.select(
      col(idCol),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => family.hash(array_join(
          transform(slice(col("minhash"), b * rowsPerBand + 1, lit(rowsPerBand)),
            x => x.cast("string")), ","), b))).as(Seq("band", "band_hash")))
  }

  /** All candidate pairs of one band table — self-join with the strict
    * `id_a < id_b` condition, which halves the pre-distinct row volume
    * vs the symmetric form (each pair matches once per shared bucket,
    * not twice). Equi shuffle join on (band, band_hash); AQE handles
    * the odd hot bucket.
    */
  def pairsFromBands(banded: DataFrame, idCol: String): DataFrame = {
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** Candidate pairs TOUCHING `probe` (a subset of `index`'s docs):
    * probe ids may sit on either end, so the join is `=!=` with
    * (least, greatest) canonicalization — the committed index's
    * delta-vs-index shape, costed by the probe side.
    */
  def pairsTouchingBands(probe: DataFrame, index: DataFrame, idCol: String): DataFrame = {
    val a = probe.as("a")
    val b = index.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("id_a"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("id_b"))
      .distinct()
  }

  /** LSH banding: bands of rows hashed together; docs sharing any band
    * bucket are candidate near-duplicates.
    */
  def lshCandidatePairs(
      signatures: DataFrame, idCol: String,
      bands: Int, rowsPerBand: Int,
      family: HashFamily = HashFamily.XxHash64): DataFrame =
    pairsFromBands(lshBands(signatures, idCol, bands, rowsPerBand, family), idCol)

  /** Exact Jaccard over distinct k-shingles for given candidate pairs.
    *
    * Fused shape: each candidate doc computes its binary-SORTED distinct
    * shingle set ONCE (`SortedShingleSet`, one codegen'd byte scan), the
    * pair list joins both sets in by id, and |A∩B| is a codegen'd linear
    * merge over the two sorted arrays (`SortedIntersectCount`) — two
    * array-carrying equi-joins and ZERO explode/aggregate exchanges.
    * The defining set-algebra composition ([[exactJaccardComposed]]:
    * explode + per-shingle equi-join + per-pair count + sizes joined
    * back) exchanges one row PER SHINGLE of every candidate doc three
    * times; measured as the dominant dd03 stage at sf0.1 once signatures
    * and bands were fused (BENCH/BASELINE.md round-6). Values are
    * identical — intersection of exact strings, no hashing —
    * FastShinglesSpec pins fused ≡ composed and the dd03/dd05/dd10/dd11
    * DuckDB oracles pin the values cross-engine. Per-task memory stays
    * bounded: a row carries two docs' shingle arrays, O(doc length).
    */
  def exactJaccard(
      docs: DataFrame, pairs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3): DataFrame = {
    // verify only candidate docs: at 10^10 the pair list is vastly
    // smaller than the corpus, so the semi join prunes the shingle scan
    // to docs appearing in ≥1 pair (pure filter — results identical,
    // dd05's exact oracle pins it; no distinct on the id union — LEFT
    // SEMI deduplicates by construction)
    val candIds = pairs.select(col("id_a").as("cid"))
      .unionAll(pairs.select(col("id_b").as("cid")))
    // null-text docs drop here in BOTH shapes (advice fix, round 7): the
    // composition's explode drops them implicitly, while the fused
    // SortedShingleSet is null-intolerant and would otherwise keep the
    // pair with null i/sz/jaccard — the explicit filter makes
    // fused ≡ composed hold for null text too (FastShinglesSpec case)
    val cand = docs.filter(col(textCol).isNotNull)
      .join(candIds, col(idCol) === col("cid"), "left_semi")
    val sets = cand.select(col(idCol).as("sid"),
      org.apache.spark.sql.graft.ColumnShim.column(
        graft.functions.SortedShingleSet(
          org.apache.spark.sql.graft.ColumnShim.expression(col(textCol)),
          shingleK)).as("sset"))
    val inter = org.apache.spark.sql.graft.ColumnShim.column(
      graft.functions.SortedIntersectCount(
        org.apache.spark.sql.graft.ColumnShim.expression(col("set_a")),
        org.apache.spark.sql.graft.ColumnShim.expression(col("set_b"))))
    pairs
      .join(sets.select(col("sid").as("id_a"), col("sset").as("set_a")), Seq("id_a"))
      .join(sets.select(col("sid").as("id_b"), col("sset").as("set_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), inter.as("i"),
        size(col("set_a")).cast("long").as("sz_a"),
        size(col("set_b")).cast("long").as("sz_b"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("sz_a") + col("sz_b") - col("i")))
      .select(col("id_a"), col("id_b"), col("i"), col("sz_a"), col("sz_b"), col("jaccard"))
  }

  /** the defining set-algebra composition (see [[exactJaccard]]): |A∩B|
    * by equi-join on shingle, sizes joined back — the executable spec.
    */
  private[graft] def exactJaccardComposed(
      docs: DataFrame, pairs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3): DataFrame = {
    val candIds = pairs.select(col("id_a").as("cid"))
      .unionAll(pairs.select(col("id_b").as("cid")))
    val cand = docs.filter(col(textCol).isNotNull)
      .join(candIds, col(idCol) === col("cid"), "left_semi")
    val sh = cand.select(col(idCol).as("jid"),
      explode(shingleSet(col(textCol), shingleK)).as("sh"))
    val sizes = sh.groupBy(col("jid")).agg(count(lit(1)).as("sz"))
    val shA = sh.select(col("jid").as("id_a"), col("sh"))
    val shB = sh.select(col("jid").as("id_b"), col("sh"))
    val interCnt = pairs.join(shA, Seq("id_a")).join(shB, Seq("id_b", "sh"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("i"))
    pairs
      .join(interCnt, Seq("id_a", "id_b"), "left")
      .join(sizes.select(col("jid").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("jid").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("i", coalesce(col("i"), lit(0L)))
      .withColumn("jaccard",
        col("i").cast("double") / (col("sz_a") + col("sz_b") - col("i")))
      .select(col("id_a"), col("id_b"), col("i"), col("sz_a"), col("sz_b"), col("jaccard"))
  }

  /** Duplicate-span removal — the distributed window-hash formulation of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": remove text that repeats
    * verbatim across the corpus, not just whole near-dup documents).
    * Suffix arrays are the single-machine tool; the Spark-shaped
    * equivalent is k-token sliding windows keyed by a 64-bit hash:
    *
    *   1. one codegen'd token scan per doc ([[tokenSeq]]);
    *   2. every k-token window (docs shorter than k have none) hashed
    *      with the injectable [[HashFamily]] — the groupBy/join key is
    *      8 bytes, not the ~50-byte window string;
    *   3. windows whose hash occurs ≥ 2 times corpus-wide (within-doc
    *      repeats count) are duplicated spans;
    *   4. a token is removed iff some duplicated window covers it;
    *      coverage positions aggregate per doc (array is O(doc length),
    *      bounded per task), and the rebuild is one narrow HOF pass.
    *
    * Scale shape: the window count is map-side-combined on the 8-byte
    * hash; the semi join back is an equi join on the same key (AQE
    * handles hot hashes); coverage explode is k rows per DUPLICATED
    * window only; no per-token row ever crosses an exchange. Under
    * xxhash64 a cross-window collision (2^-64) could remove a
    * non-repeated span — the same accepted trade as hashed suffix-array
    * buckets; the Md5 parameterization is DuckDB-recomputable and
    * drives the exact dd12 oracle.
    *
    * Output per input doc: `(idCol, n_tokens, n_removed, kept_text)`.
    */
  def dupSpanRemoval(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, family: HashFamily = HashFamily.XxHash64): DataFrame = {
    require(k >= 1, s"window size k must be >= 1, got $k")
    val toks = docs.select(col(idCol).as("did"), tokenSeq(col(textCol)).as("tk"))
    val wins = windowHashes(toks, k, family)
    val dupW = wins.groupBy(col("wh")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("wh")
    removeCovered(toks, wins.join(dupW, Seq("wh"), "left_semi"), idCol, k)
  }

  /** `(did, wpos, wh)` rows: every k-token window of `toks(did, tk)`
    * hashed under `family` at seed 0 (shared by [[dupSpanRemoval]] and
    * [[graft.pipeline.Curation.spanDecontaminate]]). The per-window
    * join+hash runs as ONE fused pass over the token array
    * ([[graft.functions.WindowHashes]], round 7) — the defining
    * composition ([[windowHashesComposed]]) runs three nested
    * interpreted higher-order functions and allocates a joined string
    * per window; values are identical per family (Md5FusedSpec pins it,
    * the dd12/dd13 oracles pin them cross-engine).
    */
  private[pipeline] def windowHashes(
      toks: DataFrame, k: Int, family: HashFamily): DataFrame =
    toks
      .filter(size(col("tk")) >= k)
      .select(col("did"), posexplode(
        org.apache.spark.sql.graft.ColumnShim.column(
          graft.functions.WindowHashes(
            org.apache.spark.sql.graft.ColumnShim.expression(col("tk")), k, family)))
        .as(Seq("wpos", "wh")))

  /** the defining composition (see [[windowHashes]]) — the executable
    * spec the fused kernel is property-pinned against.
    */
  private[graft] def windowHashesComposed(
      toks: DataFrame, k: Int, family: HashFamily): DataFrame =
    toks
      .filter(size(col("tk")) >= k)
      .select(col("did"), posexplode(transform(
        sequence(lit(0), size(col("tk")) - k),
        i => family.hash(array_join(slice(col("tk"), i + 1, lit(k)), " "), 0)))
        .as(Seq("wpos", "wh")))

  /** Coverage + rebuild tail shared by the span removers: each row of
    * `flagged(did, wpos, …)` covers positions [wpos, wpos+k); covered
    * positions aggregate per doc (O(doc length) array) and the kept
    * text is rebuilt in one narrow index-lambda pass.
    */
  private[pipeline] def removeCovered(
      toks: DataFrame, flagged: DataFrame, idCol: String, k: Int): DataFrame = {
    val cov = flagged
      .select(col("did"),
        explode(sequence(col("wpos"), col("wpos") + (k - 1))).as("cpos"))
      .groupBy(col("did")).agg(collect_set(col("cpos")).as("cov"))
    val covSafe = coalesce(col("cov"), array().cast("array<int>"))
    toks.join(cov, Seq("did"), "left")
      .select(col("did").as(idCol),
        size(col("tk")).as("n_tokens"),
        size(covSafe).as("n_removed"),
        array_join(filter(col("tk"),
          (t, i) => not(array_contains(covSafe, i))), " ").as("kept_text"))
  }

  /** MinHash+LSH near-dup pipeline: signatures → banded candidates →
    * exact-Jaccard verification ≥ tau.
    */
  def minhashNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
      tau: Double = 0.5,
      family: HashFamily = HashFamily.XxHash64): DataFrame = {
    val sigs = minhashSignatures(docs, idCol, textCol, shingleK, numHashes, family)
    val cands = lshCandidatePairs(sigs, idCol, bands, numHashes / bands, family)
    exactJaccard(docs, cands, idCol, textCol, shingleK)
      .filter(col("jaccard") >= tau)
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash: per token-hash bit votes (+1/-1), sign of the vote
    * sum becomes the bit. The bit source is the injectable
    * [[HashFamily]] (xxhash64 default; Md5 for the DuckDB-twinned
    * CORRECTNESS dd04).
    *
    * Every family runs the fused [[graft.functions.SimHash64]]
    * expression, parameterized by the family — the whole signature is
    * one codegen'd byte scan per document, zero explode rows and zero
    * aggregate exchanges; documents with no tokens drop exactly like the
    * composition's explode drops them (the expression returns null).
    * [[simhashComposed]] is the executable spec FastShinglesSpec and
    * Md5FusedSpec pin the fused path against.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      family: HashFamily = HashFamily.XxHash64): DataFrame = {
    // One fused byte-scan kernel for every family. The no-token drop is
    // an INPUT-ONLY predicate, not
    // isnotnull(simhash64(text)): Catalyst pushes a result-null filter
    // below the projection and evaluates the kernel twice (once in
    // Filter, once in Project). A token exists iff the LOWERCASED text
    // contains an ASCII word char (`\W` is ASCII-only; lowercasing
    // first covers the exotic-uppercase fallback, e.g. Kelvin sign → k)
    // — exactly when the kernel is non-null (token existence is
    // family-independent), so the row set still matches the
    // composition's explode-drop (FastShinglesSpec/Md5FusedSpec pin
    // it). rlike early-exits on the first word char; a null text
    // yields null → filtered, matching nullIntolerant.
    val kernel = graft.functions.SimHash64(
      org.apache.spark.sql.graft.ColumnShim.expression(col(textCol)), family)
    docs.filter(lower(col(textCol)).rlike("\\w"))
      .select(col(idCol),
        org.apache.spark.sql.graft.ColumnShim.column(kernel).as("simhash"))
  }

  /** the defining composition (see [[simhash]]): one exploded pass,
    * 64 sum aggregates.
    */
  private[graft] def simhashComposed(docs: DataFrame, idCol: String,
      textCol: String, family: HashFamily): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(tokenSeq(col(textCol))).as("t"))
      .withColumn("h", family.bitSource(col("t")))
    val votes = (0 until 64).map { j =>
      sum(when(family.bitAt(col("h"), j) === 1L, 1)
        .otherwise(-1)).as(s"b$j")
    }
    tok.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until 64).map(j => when(col(s"b$j") > 0,
          shiftleft(lit(1L), j)).otherwise(lit(0L)))
          .reduce[Column]((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  // ------------------------------------- duplicate clusters (components)

  /** Connected components over an undirected near-duplicate pair list,
    * by the alternating large-star / small-star algorithm (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", ACM SoCC'14).
    *
    * This is the consolidation step every dedup pipeline needs after a
    * pair-producing pass (MinHash-LSH / SimHash / embedding-LSH):
    * near-dup PAIRS are not clusters — A≈B and B≈C must collapse to one
    * keeper even when A≈C was never emitted. At 10^10 docs a
    * component can be arbitrarily large, so nothing per-component may
    * ever sit in one task's memory:
    *
    *   - each phase computes per-node neighborhood minima as a
    *     partial-aggregated `groupBy` joined back to the edge list
    *     (map-side-combined, AQE-splittable — no window ever holds a
    *     node's full neighborhood) — shuffles partition by node id,
    *     never by component;
    *   - the driver sees only a 2-scalar convergence signature per
    *     phase pair (count + hash-sum), never row data;
    *   - the paper proves O(log² n) phases to the star-forest
    *     fixpoint (in practice a handful: the spec's 64-node path
    *     graph converges in 4);
    *   - `localCheckpoint` truncates lineage each phase, the same
    *     guard the crawl loop uses against iterative plan blow-up.
    *
    * Input: pairs with columns `id_a`, `id_b` (any orderable id type).
    * Output: `(id, component)` for every id appearing in `pairs`, where
    * `component` is the COMPONENT MINIMUM id — the deterministic keeper,
    * consistent with [[exact]]'s `keeper_id = min(id)` convention.
    */
  def connectedComponents(pairs: DataFrame, maxPhases: Int = 64): DataFrame = {
    // canonical undirected edges hi > lo; self-pairs dropped
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("hi"),
        least(col("id_a"), col("id_b")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint()

    // convergence signature: row count + order-independent hash XOR
    // (bit_xor — overflow-free under ANSI mode, unlike a hash SUM).
    // Collision would need a 64-bit XOR tie at equal cardinality between
    // consecutive phases of a monotone contraction; the spec's
    // union-find equivalence pins real graphs.
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)).as("c"),
        coalesce(expr("bit_xor(xxhash64(hi, lo))"), lit(0L)).as("h")).head()
      (r.getLong(0), r.getLong(1))
    }

    // Per-node neighborhood minima come from partial-aggregated groupBys
    // joined back, NOT windows over the node id: a 10^9-degree hub's
    // window partition cannot be split, while the map-side-combined min
    // is skew-free and AQE splits the skewed join side.

    // large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u.
    // Keyed on the symmetrized list so every node sees its full
    // neighborhood; m ≤ u < v keeps the output canonical and loop-free.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .unionAll(e.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
    }

    // small-star(u): over neighbors SMALLER than u (the canonical edge
    // list keyed by its larger endpoint is exactly that neighborhood);
    // m = min(N ∪ {u}) = min(N); emit (v, m) for v ∈ N \ {m} plus (u, m).
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val withM = e.join(mins, Seq("hi"))
      withM.filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .unionAll(withM.select(col("hi"), col("m").as("lo")))
        .distinct()
    }

    var sig = signature(edges)
    var phase = 0
    var converged = false
    while (!converged && phase < maxPhases) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nextSig = signature(next)
      edges.unpersist()
      edges = next
      converged = nextSig == sig
      sig = nextSig
      phase += 1
    }
    require(converged, s"connectedComponents did not converge in $maxPhases phases")

    // fixpoint is a star forest with centers = component minima:
    // leaves label from their edge, centers label themselves.
    edges.select(col("hi").as("id"), col("lo").as("component"))
      .unionAll(edges.select(col("lo").as("id"), col("lo").as("component")))
      .distinct()
  }

  /** Duplicate clusters over a full id universe: every id of `ids` gets
    * its component label (ids in no pair are singletons), the component
    * size, and the keeper verdict (`id == component`, i.e. the component
    * minimum survives — [[exact]]'s convention).
    *
    * `cluster_size` is a partial-aggregated groupBy joined back, NOT a
    * count window over `component`: a window partition holds its whole
    * cluster in one task, and a degenerate corpus (everything near-dup
    * of everything) would funnel 10^10 rows into it, while the groupBy
    * combines map-side and the join redistributes by component hash.
    */
  def dupClusters(ids: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
    val labeled = ids.select(col(idCol).as("id"))
      .join(cc, Seq("id"), "left")
      .withColumn("component", coalesce(col("component"), col("id")))
    val sizes = labeled.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, Seq("component"))
      .select(col("id"), col("component"), col("cluster_size"),
        (col("id") === col("component")).as("is_keeper"))
  }

  /** SimHash near-dups: block on 16-bit chunks (hamming ≤ 3 over 64 bits ⇒
    * at least one of 4 chunks equal), verify exact Hamming ≤ maxHamming.
    */
  def simhashNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      family: HashFamily = HashFamily.XxHash64): DataFrame =
    simhashPairs(simhash(docs, idCol, textCol, family), idCol, maxHamming)

  /** the block-and-verify pair stage of [[simhashNearDups]], split out so
    * signature-stage variants (fused vs composed — QProbe's A/B) share it
    * verbatim. Input: `(idCol, simhash)`.
    */
  private[graft] def simhashPairs(
      sigs: DataFrame, idCol: String, maxHamming: Int): DataFrame = {
    val chunked = sigs.select(col(idCol), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("chunk", "chunk_val")))
    val a = chunked.as("a")
    val b = chunked.as("b")
    val hamming = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
    a.join(b,
        col("a.chunk") === col("b.chunk") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
