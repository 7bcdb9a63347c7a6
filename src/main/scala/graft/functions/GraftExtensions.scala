package graft.functions

import graft.pipeline.HashFamily
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Spark-native extension entry point: makes every graft SQL function —
  * the codegen'd URL functions, the tokenizers and the production
  * (xxhash64) sketch kernels — available in ANY session (SQL and
  * `call_function`) via standard configuration:
  *
  * {{{
  *   spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * The extension and the lazy path share ONE table,
  * [[GraftExtensions.functions]]: the Column-API helpers
  * (`UrlExpressions`, `TextExpressions`) call [[GraftExtensions.ensure]],
  * which registers the whole table into the active session once, so the
  * extension is optional for Column-API users — it exists for
  * spark-submit / SQL-only deployments where the session is built from
  * config.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private type Builder = Seq[Expression] => Expression

  private val table: Seq[(String, String, Builder)] = Seq(
    ("canonicalize_url", "canonicalize_url(url) - w3lib/Scrapy-style canonical form",
      exprs => CanonicalizeUrl(exprs.head)),
    ("url_fingerprint", "url_fingerprint(url) - sha1 of GET + canonical url",
      exprs => UrlFingerprint(exprs.head)),
    ("url_host", "url_host(url) - lowercased host or ''",
      exprs => UrlHost(exprs.head)),
    ("url_path", "url_path(url) - path component, '/' default",
      exprs => UrlPath(exprs.head)),
    ("fnv1a64", "fnv1a64(s) - stable FNV-1a 64-bit hash of the UTF-8 bytes",
      exprs => Fnv1a64(exprs.head)),
    ("fast_terms", "fast_terms(text) - distinct lowercased len>1 word runs (FTS tokenizer)",
      exprs => FastTerms(exprs.head)),
    ("fast_tokens", "fast_tokens(text) - ordered word-token multiset (dedup tokenizer)",
      exprs => FastTokens(exprs.head)),
    ("fast_shingles", "fast_shingles(text, k) - distinct k-word shingles; k a literal int",
      exprs => FastShingles(exprs.head, litInt(exprs(1), "fast_shingles", "k"))),
    ("simhash64", "simhash64(text) - fused 64-bit token SimHash (xxhash64 bit source); null when no tokens",
      exprs => SimHash64(exprs.head, HashFamily.XxHash64)),
    ("minhash_sigs", "minhash_sigs(text, k, n) - fused n-slot MinHash signature over k-shingles; k, n literal ints",
      exprs => MinHashSigs(exprs.head,
        litInt(exprs(1), "minhash_sigs", "k"), litInt(exprs(2), "minhash_sigs", "n"),
        HashFamily.XxHash64)),
    ("lsh_band_hashes", "lsh_band_hashes(sig, bands, r) - fused per-band LSH hashes of a BIGINT signature array; bands, r literal ints",
      exprs => LshBandHashes(exprs.head,
        litInt(exprs(1), "lsh_band_hashes", "bands"), litInt(exprs(2), "lsh_band_hashes", "r"),
        HashFamily.XxHash64)),
    ("winnow_fp", "winnow_fp(text, w) - fused winnowing fingerprint struct<fingerprint,fp_hash>; w a literal int",
      exprs => WinnowFp(exprs.head, litInt(exprs(1), "winnow_fp", "w"), HashFamily.XxHash64)),
    ("sorted_shingle_set", "sorted_shingle_set(text, k) - binary-sorted distinct k-word shingles; k a literal int",
      exprs => SortedShingleSet(exprs.head, litInt(exprs(1), "sorted_shingle_set", "k"))),
    ("sorted_intersect_count", "sorted_intersect_count(a, b) - |A∩B| of two binary-sorted ARRAY<STRING>s by linear merge",
      exprs => SortedIntersectCount(exprs(0), exprs(1))))

  /** Every graft SQL function, in the form both registration paths take. */
  private[functions] val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] =
    table.map { case (name, usage, builder) =>
      (FunctionIdentifier(name), new ExpressionInfo("graft", name, usage), builder)
    }

  @volatile private var registeredIn: SparkSession = _

  /** Register [[functions]] in the session's FunctionRegistry (available
    * to both the Column API via `call_function` and to `spark.sql`).
    * Idempotent.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) => reg.registerFunction(id, info, builder) }
    registeredIn = spark
  }

  /** [[register]] into the active session unless it already was. */
  def ensure(): Unit = {
    val s = SparkSession.active
    if (registeredIn ne s) register(s)
  }

  /** SQL surface of a constructor-Int parameter: the argument must fold
    * to a non-null INT literal at plan time (a column-valued k would
    * need a per-row windowing expression — not this operator's contract).
    */
  private def litInt(e: Expression, fn: String, arg: String): Int = {
    // the builder can see unresolved children, whose foldable/dataType
    // throw — any such argument is equally not a literal INT
    val v = try {
      if (e.foldable && e.dataType == org.apache.spark.sql.types.IntegerType) e.eval()
      else null
    } catch { case _: Exception => null }
    if (v == null) throw new IllegalArgumentException(
      s"$fn($arg) requires a literal INT, got ${e.simpleString(100)}")
    v.asInstanceOf[Int]
  }
}
