package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, n-gram language ID, winnowing fingerprints. All
  * stock Catalyst expressions.
  */
object TextAnalysis {

  /** whitespace tokens (empty-safe, trim first). */
  def wsTokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** BPE-ish subword pieces: alnum runs + each standalone symbol as one
    * piece (a cheap proxy for a BPE tokenizer's piece count). Expressed
    * as regexp_extract_all so the DuckDB oracle can mirror it exactly
    * (RE2 has no lookarounds, so no split-at-boundary formulation).
    */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0)))

  def tokenStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      length(col(textCol)).as("n_chars_measured"),
      size(wsTokens(col(textCol))).as("n_tokens"),
      bpeishCount(col(textCol)).as("n_pieces"))

  /** Quality scoring: length band + punctuation density + stopword ratio
    * + mean word length, composed into [0,1]. Heuristics follow the
    * public Gopher/C4-style quality-filter recipes.
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is",
    "that", "for", "on", "with", "as", "at", "by", "an", "be", "this")

  /** The quality measures as ONE struct column (`n_tokens`,
    * `mean_word_len`, `quality`) — the single definition both
    * [[qualityScore]] and the composed [[Curation.c4Filter]] verdict
    * select from (per-row, join-free composition).
    */
  def qualityStruct(text: Column): Column = {
    val toks = wsTokens(text)
    val nTok = size(toks)
    val nChar = length(text)
    val stopHits = size(filter(toks, t => lower(t).isin(Stopwords: _*)))
    val punct = nChar - length(regexp_replace(text, "[.!?,;:]", ""))
    val meanWordLen = when(nTok > 0,
      (nChar - (nTok - 1)).cast("double") / nTok).otherwise(lit(0.0))

    val lenScore = least(nChar.cast("double") / lit(200.0), lit(1.0))
    val stopScore = least(stopHits.cast("double") * 10.0 /
      greatest(nTok, lit(1)).cast("double"), lit(1.0))
    val punctScore = lit(1.0) - least(punct.cast("double") * 20.0 /
      greatest(nChar, lit(1)).cast("double"), lit(1.0))
    val wordLenScore = when(meanWordLen.between(3.0, 10.0), 1.0).otherwise(0.5)

    struct(
      nTok.as("n_tokens"),
      round(meanWordLen, 4).as("mean_word_len"),
      round((lenScore * 0.3 + stopScore * 0.2 + punctScore * 0.3 +
        wordLenScore * 0.2), 4).as("quality"))
  }

  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), qualityStruct(col(textCol)).as("q"))
      .select(col(idCol), col("q.n_tokens").as("n_tokens"),
        col("q.mean_word_len").as("mean_word_len"), col("q.quality").as("quality"))

  /** Character-n-gram language ID over a tiny built-in profile set —
    * the classic Cavnar–Trenkle trick reduced to marker n-grams and
    * stopword votes per language. Returns the arg-max language with its
    * vote counts (deterministic tie-break: language name asc).
    */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of ", " is ", " to ", " in "),
    "de" -> Seq(" der ", " die ", " und ", " ist ", " das ", " ein "),
    "fr" -> Seq(" le ", " la ", " et ", " est ", " les ", " une "),
    "es" -> Seq(" el ", " la ", " y ", " es ", " los ", " una "))

  private def votesCol(padded: Column, lang: String): Column =
    LangMarkers(lang).map { m =>
      (length(padded) - length(regexp_replace(padded,
        java.util.regex.Pattern.quote(m), ""))) / m.length
    }.reduce(_ + _)

  /** arg-max language as one column (ties → first alphabetically,
    * no vote → "und") — the shared definition for [[langId]] and the
    * composed curation verdict.
    */
  def langPredCol(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val langs = LangMarkers.keys.toSeq.sorted
    val vs = langs.map(l => l -> votesCol(padded, l))
    val gmax = greatest(vs.map(_._2): _*)
    vs.foldLeft(lit("und")) { case (acc, (l, v)) =>
      when(v > lit(0) && v === gmax && acc === "und", lit(l)).otherwise(acc)
    }
  }

  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val padded = concat(lit(" "), lower(col(textCol)), lit(" "))
    val voteCols = LangMarkers.keys.toSeq.sorted.map(l => votesCol(padded, l).as(s"v_$l"))
    val withVotes = docs.select((col(idCol) +: voteCols): _*)
    val langs = LangMarkers.keys.toSeq.sorted
    // arg-max via greatest + chained when (ties -> first alphabetically)
    val best = langs.foldLeft(lit("und")) { (acc, l) =>
      when(col(s"v_$l") > lit(0) &&
        col(s"v_$l") === greatest(langs.map(x => col(s"v_$x")): _*) &&
        acc === "und", lit(l)).otherwise(acc)
    }
    withVotes.withColumn("lang_pred", best)
  }

  /** Fused per-doc n-gram COUNTS (`array<struct<n,gram,c>>`) — the
    * round-7 kernel every corpus-statistics operator (ta05/ta06/ta08/
    * ta09) explodes instead of per-occurrence gram rows: per-doc counts
    * are complete inside a row, so the `groupBy(doc, n, gram)` exchange
    * the compositions all paid disappears (guide §2.3/§2.4). Value-
    * pinned against the compositions in GramCountsSpec. NOTE the
    * contract: counts are PER ROW — the id column is carried, never
    * grouped; all declared-query inputs have unique ids.
    */
  def gramCounts(text: Column, ns: Seq[Int]): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      graft.functions.GramCounts(
        org.apache.spark.sql.graft.ColumnShim.expression(text), ns))

  /** Word n-gram multiset of the tokenized text — NOT distinct (unlike
    * [[Dedup.shingles]]) and empty below n tokens, because repetition
    * signals need occurrence counts. Guarded: Spark's `sequence(0, -k)`
    * would count DOWN, so short docs take the typed-empty branch.
    */
  def ngrams(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))

  /** Gopher-style repetition signals (Rae et al. 2021, §A1.1 "repetition
    * removal"): per document,
    *   - `top2_frac` / `top3_frac` — fraction of all word 2-/3-grams
    *     taken by the single most frequent one (boilerplate loops);
    *   - `dup1_frac` — fraction of tokens that are occurrences of a
    *     repeated token;
    *   - `dup5_frac` — fraction of 5-grams occurring more than once
    *     (long verbatim self-repetition).
    *
    * Scale shape: one explode + two partial-aggregatable `groupBy`
    * levels per n — counts combine map-side, nothing per-doc beyond the
    * (id, gram) key ever shuffles; no windows, no collects. Exactly
    * DuckDB-twinnable (same tokenizer as dd05's oracle-green twin), so
    * `ta05_repetition` is a hard-oracle row.
    */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // ONE corpus scan, and (round 7) the grams arrive ALREADY COUNTED
    // per doc from the fused [[gramCounts]] kernel — the composition's
    // per-occurrence explode + groupBy(id, n, g) exchange is gone; the
    // per-(id, n) stats aggregate partial-combines straight off the
    // projection (guide §2.3/§2.4). [[repetitionSignalsComposed]] is the
    // executable spec, GramCountsSpec pins equality.
    val Ns = Seq(1, 2, 3, 5)
    val stats = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(gramCounts(col(textCol), Ns)).as("t"))
      .select(col(idCol), col("t.n").as("n"), col("t.c").as("c"))
      .groupBy(col(idCol), col("n")).agg(
        max(col("c")).as("mx"),
        sum(col("c")).as("tot"),
        coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).as("dup"))
    def pick(n: Int, c: String): Column = max(when(col("n") === n, col(c)))
    def frac(num: Column, den: Column): Column =
      round(coalesce(num.cast("double") / den, lit(0.0)), 6)
    val wide = stats.groupBy(col(idCol)).agg(
      pick(2, "mx").as("max2"), pick(2, "tot").as("tot2"),
      pick(3, "mx").as("max3"), pick(3, "tot").as("tot3"),
      pick(1, "dup").as("dup1"), pick(1, "tot").as("tot1"),
      pick(5, "dup").as("dup5"), pick(5, "tot").as("tot5"))
    docs.select(col(idCol))
      .join(wide, Seq(idCol), "left")
      .select(
        col(idCol),
        frac(col("max2"), col("tot2")).as("top2_frac"),
        frac(col("max3"), col("tot3")).as("top3_frac"),
        frac(col("dup1"), col("tot1")).as("dup1_frac"),
        frac(col("dup5"), col("tot5")).as("dup5_frac"))
  }

  /** the defining composition (see [[repetitionSignals]]): tagged
    * per-occurrence explode + two groupBy levels — the executable spec
    * GramCountsSpec pins the fused shape against.
    */
  private[graft] def repetitionSignalsComposed(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val Ns = Seq(1, 2, 3, 5)
    val tagged = docs
      .select(col(idCol), Dedup.tokenSeq(col(textCol)).as("tk"))
      .select(col(idCol), explode(flatten(array(Ns.map(n =>
        transform(ngrams(col("tk"), n),
          g => struct(lit(n).as("n"), g.as("g")))): _*))).as("t"))
      .select(col(idCol), col("t.n").as("n"), col("t.g").as("g"))
    val stats = tagged
      .groupBy(col(idCol), col("n"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol), col("n")).agg(
        max(col("c")).as("mx"),
        sum(col("c")).as("tot"),
        coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).as("dup"))
    def pick(n: Int, c: String): Column = max(when(col("n") === n, col(c)))
    def frac(num: Column, den: Column): Column =
      round(coalesce(num.cast("double") / den, lit(0.0)), 6)
    val wide = stats.groupBy(col(idCol)).agg(
      pick(2, "mx").as("max2"), pick(2, "tot").as("tot2"),
      pick(3, "mx").as("max3"), pick(3, "tot").as("tot3"),
      pick(1, "dup").as("dup1"), pick(1, "tot").as("tot1"),
      pick(5, "dup").as("dup5"), pick(5, "tot").as("tot5"))
    docs.select(col(idCol))
      .join(wide, Seq(idCol), "left")
      .select(
        col(idCol),
        frac(col("max2"), col("tot2")).as("top2_frac"),
        frac(col("max3"), col("tot3")).as("top3_frac"),
        frac(col("dup1"), col("tot1")).as("dup1_frac"),
        frac(col("dup5"), col("tot5")).as("dup5_frac"))
  }

  /** Corpus n-gram count table for all n in [1, maxN] with a
    * minimum-count floor — the artifact a CCNet-style pipeline trains
    * its count LM / quality scorer from, and the lookup side of
    * frequency-based filtering. ONE corpus scan: every n's grams ride
    * the same tagged explode ([[repetitionSignals]]' single-Generate
    * trick — not one scan + shuffle pair per n); the per-(doc, n, gram)
    * pre-aggregate is map-side-combined and feeds BOTH cf (sum) and df
    * (row count, already unique per doc) in one second-level groupBy.
    * `minCount` prunes the singleton long tail from the OUTPUT (the
    * count must aggregate before it can be thresholded).
    */
  def ngramCounts(
      docs: DataFrame, idCol: String, textCol: String,
      maxN: Int = 3, minCount: Int = 2): DataFrame = {
    require(maxN >= 1 && minCount >= 1)
    // round 7: grams arrive ALREADY COUNTED per doc from the fused
    // [[gramCounts]] kernel — the composition's per-occurrence explode
    // AND its first groupBy(doc, n, gram) exchange are gone; ONE
    // exchange (by (n, gram), partial-combined) computes cf and df
    // directly, since per-doc rows are unique per (n, gram) by
    // construction. [[ngramCountsComposed]] is the executable spec,
    // GramCountsSpec pins equality.
    docs
      .filter(col(textCol).isNotNull)
      .select(explode(gramCounts(col(textCol), 1 to maxN)).as("t"))
      .select(col("t.n").as("n"), col("t.gram").as("gram"), col("t.c").as("c"))
      .groupBy(col("n"), col("gram"))
      .agg(sum(col("c")).as("cf"), count(lit(1)).as("df"))
      .filter(col("cf") >= minCount)
  }

  /** the defining composition (see [[ngramCounts]]): tagged
    * per-occurrence explode + two groupBy levels — the executable spec.
    */
  private[graft] def ngramCountsComposed(
      docs: DataFrame, idCol: String, textCol: String,
      maxN: Int = 3, minCount: Int = 2): DataFrame = {
    require(maxN >= 1 && minCount >= 1)
    val Ns = 1 to maxN
    val tagged = docs
      .select(col(idCol), Dedup.tokenSeq(col(textCol)).as("tk"))
      .select(col(idCol), explode(flatten(array(Ns.map(n =>
        transform(ngrams(col("tk"), n),
          g => struct(lit(n).as("n"), g.as("g")))): _*))).as("t"))
      .select(col(idCol), col("t.n").as("n"), col("t.g").as("gram"))
    tagged
      .groupBy(col(idCol), col("n"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("n"), col("gram"))
      .agg(sum(col("c")).as("cf"), count(lit(1)).as("df"))
      .filter(col("cf") >= minCount)
  }

  /** Tokenizer-vocabulary builder: global top-k tokens by collection
    * frequency (ties broken by token ASC, rank deterministic), with
    * document frequency alongside — the vocab/most-common-pieces step of
    * a training-data pipeline. Two partial-agg levels then a global
    * top-k that Catalyst executes as TakeOrderedAndProject (no full
    * sort, no single-partition shuffle) — the same plan shape the W1
    * global-top-k operator is PlanSpec-asserted to keep.
    */
  def vocabTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // round 7: per-doc token counts from the fused [[gramCounts]] kernel
    // — the per-occurrence explode is gone, and `df` is a plain count of
    // the (already doc-unique) rows instead of a countDistinct(id) (no
    // Expand/distinct machinery). [[vocabTopKComposed]] is the spec.
    docs
      .filter(col(textCol).isNotNull)
      .select(explode(gramCounts(col(textCol), Seq(1))).as("t"))
      .select(col("t.gram").as("token"), col("t.c").as("c"))
      .groupBy(col("token"))
      .agg(sum(col("c")).as("cf"), count(lit(1)).as("df"))
      .orderBy(col("cf").desc, col("token").asc)
      .limit(k)
  }

  /** the defining composition (see [[vocabTopK]]) — the executable spec. */
  private[graft] def vocabTopKComposed(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tok = docs.select(col(idCol), explode(Dedup.tokenSeq(col(textCol))).as("token"))
    tok.groupBy(col("token"))
      .agg(count(lit(1)).as("cf"), countDistinct(col(idCol)).as("df"))
      .orderBy(col("cf").desc, col("token").asc)
      .limit(k)
  }

  /** Per-document top-k TF-IDF terms — the keyword-extraction staple of
    * curation dashboards and topic triage. IDF is the LINEAR n_docs/df
    * (no log): a single IEEE-754 division + multiply are correctly
    * rounded in every engine, so ranking AND score are bit-identical
    * cross-engine (the log variant differs in the last ulp across libm
    * implementations); ranking is monotone in log-idf anyway for fixed
    * tf. Ranks break ties by token ascending BEFORE rounding, so the
    * displayed 6-dp score never influences order.
    *
    * Scale shape: tf is one map-side-combined groupBy of the exploded
    * tokens, df aggregates tf's (already unique) (doc, token) rows,
    * the join back rides the token key, and the top-k window partitions
    * by doc — no global sort, no driver loop. `nDocs` is the one
    * bounded scalar (a count), passed as a literal.
    */
  def tfidfTopTerms(
      docs: DataFrame, idCol: String, textCol: String, k: Int = 5): DataFrame = {
    val nDocs = docs.count()
    // round 7: tf comes ALREADY COUNTED per doc from the fused
    // [[gramCounts]] kernel — the per-occurrence explode and the
    // groupBy(doc, token) exchange are gone; df aggregates the same
    // doc-unique rows it did before. [[tfidfTopTermsComposed]] is the
    // executable spec, GramCountsSpec pins equality.
    val tf = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("did"), explode(gramCounts(col(textCol), Seq(1))).as("t"))
      .select(col("did"), col("t.gram").as("token"), col("t.c").as("tf"))
    val dfT = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfT, Seq("token"))
      .withColumn("score_raw",
        col("tf").cast("double") * (lit(nDocs.toDouble) / col("df")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("did")).orderBy(col("score_raw").desc, col("token").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("did").as(idCol), col("rnk"), col("token"), col("tf"),
        col("df"), round(col("score_raw"), 6).as("score"))
  }

  /** the defining composition (see [[tfidfTopTerms]]) — the executable
    * spec: per-occurrence explode + groupBy(doc, token) tf.
    */
  private[graft] def tfidfTopTermsComposed(
      docs: DataFrame, idCol: String, textCol: String, k: Int = 5): DataFrame = {
    val nDocs = docs.count()
    val tok = docs.select(col(idCol).as("did"),
      explode(Dedup.tokenSeq(col(textCol))).as("token"))
    val tf = tok.groupBy(col("did"), col("token")).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfT, Seq("token"))
      .withColumn("score_raw",
        col("tf").cast("double") * (lit(nDocs.toDouble) / col("df")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("did")).orderBy(col("score_raw").desc, col("token").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("did").as(idCol), col("rnk"), col("token"), col("tf"),
        col("df"), round(col("score_raw"), 6).as("score"))
  }

  /** Flesch-style readability score with cross-engine-exact proxies
    * (true syllable counting is dictionary-bound; curation stacks use
    * exactly this kind of regex proxy):
    *   - words      = whitespace tokens (≥1 to guard division),
    *   - sentences  = runs of `[.!?]` (≥1),
    *   - syllables  = vowel-group runs `[aeiouy]+` of the lowercased
    *     text (≥1).
    * score = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    * rounded to 4. Pure per-row codegen'd expressions, zero shuffles;
    * the regexes are RE2-subset so the DuckDB twin counts identical
    * spans (q17/ta01/pipe06 precedent).
    */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = greatest(size(wsTokens(col(textCol))), lit(1))
    val sentences = greatest(
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))), lit(1))
    val syllables = greatest(
      size(regexp_extract_all(lower(col(textCol)), lit("[aeiouy]+"), lit(0))), lit(1))
    docs.select(
      col(idCol),
      words.as("n_words"),
      sentences.as("n_sentences"),
      syllables.as("n_syllables"),
      round(lit(206.835)
        - lit(1.015) * (words.cast("double") / sentences)
        - lit(84.6) * (syllables.cast("double") / words), 4).as("flesch"))
  }

  /** Winnowing document fingerprint (Schleimer et al., SIGMOD'03):
    * rolling window of word-hash minima; the fingerprint set is the
    * distinct window minima — robust to local edits. The word hash is
    * an injectable [[HashFamily]] (seed 0 for word hashes, seed 1 for
    * the whole-fingerprint digest `fp_hash`): xxhash64 in production,
    * seeded-md5 when an external oracle recomputes the fingerprints
    * (CORRECTNESS ta04). Empty docs get an empty fingerprint (and the
    * digest of the empty join), not a null-bearing one.
    */
  def winnowingFingerprint(
      docs: DataFrame, idCol: String, textCol: String,
      window: Int = 4,
      family: HashFamily = HashFamily.XxHash64): DataFrame = {
    // One fused kernel for every family (WinnowFp, parameterized by the
    // family; the O(n·window) interpreted composition is the spec):
    // tokenize + rank-hash + O(n)
    // deque sliding minima + sort/dedup + fp digest in ONE scan. Both
    // struct fields come from one expression; whole-stage codegen's
    // subexpression elimination evaluates the kernel once per row.
    // Values pinned fused ≡ composed in FastShinglesSpec (xx64) and
    // Md5FusedSpec (Md5); the ta04 DuckDB oracle pins the Md5 values
    // cross-engine.
    val fused = org.apache.spark.sql.graft.ColumnShim.column(graft.functions.WinnowFp(
      org.apache.spark.sql.graft.ColumnShim.expression(col(textCol)), window, family))
    docs.select(
      col(idCol),
      fused.getField("fingerprint").as("fingerprint"),
      fused.getField("fp_hash").as("fp_hash"))
  }

  /** the defining composition (see [[winnowingFingerprint]]). */
  private[graft] def winnowingFingerprintComposed(
      docs: DataFrame, idCol: String, textCol: String,
      window: Int,
      family: HashFamily): DataFrame = {
    val toks = wsTokens(col(textCol))
    // rankHash: winnowing takes window MINIMA, so the order must be
    // well-mixed (see HashFamily's rank-vs-equality doc)
    val hashes = transform(toks, t => family.rankHash(t, 0))
    val nWin = greatest(size(hashes) - window + 1, lit(1))
    // empty branch reuses `hashes` (already empty) so the when/otherwise
    // types agree for ANY family value type
    val mins = when(size(hashes) === 0, hashes)
      .otherwise(transform(sequence(lit(0), nWin - 1),
        i => array_min(slice(hashes, i + 1, lit(window)))))
    val fp = array_sort(array_distinct(mins))
    docs.select(
      col(idCol),
      fp.as("fingerprint"),
      family.hash(array_join(transform(fp, x => x.cast("string")), ","), 1)
        .as("fp_hash"))
  }
}
