package graft.functions

import graft.pipeline.HashFamily
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native tokenizer for the FTS index (SURVEY.md §3.8): the distinct,
  * lowercased, length>1 word-character runs of a document, exactly
  *
  *   array_distinct(filter(split(lower(text), "\\W+"), t => length(t) > 1))
  *
  * re-expressed as ONE byte scan. The regex formulation allocates a
  * lowered copy of the whole document, a `Pattern.split` result array and
  * a String per token — profiled at ~8% of whole-crawl executor CPU and
  * ~20 GB of sampled allocation per bench run, in a workload that is
  * memory-bandwidth-bound at high core counts. The scan emits each token
  * once, ASCII-lowercased in place, deduplicated by hash.
  *
  * Equivalence: `\W` = [^a-zA-Z0-9_] (no UNICODE_CHARACTER_CLASS), so
  * tokens are exactly maximal ASCII word-char runs and multi-byte UTF-8
  * sequences are separators (high-bit bytes can never be word chars) —
  * byte-level scanning is safe even mid-codepoint. `lower` only affects
  * A-Z inside tokens. The ONE divergence is exotic uppercase codepoints
  * whose lowercase expands to sequences CONTAINING ASCII word chars
  * (e.g. İ → i + combining dot): the regex path tokenizes the expansion,
  * so inputs containing any non-ASCII byte take a fallback that mirrors
  * the Spark semantics (`UTF8String.toLowerCase` then regex split).
  * Property-tested against the regex definition in FastScanSpec.
  */
case class FastTerms(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  // SQL-callable as `fast_terms`; without an input contract a non-string
  // argument passes analysis and dies at runtime in TextOps.fastTerms —
  // make misuse an analysis-time error instead.
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    TextOps.fastTerms(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.fastTerms($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "fast_terms"
}

object TextOps {

  import ShingleOps.isWord

  /** static codegen target; see [[FastTerms]]. */
  def fastTerms(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    var i = 0
    while (i < bytes.length) { if (bytes(i) < 0) return slowTerms(s); i += 1 }

    val seen = new java.util.HashSet[UTF8String]()
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && !isWord(bytes(i))) i += 1
      val start = i
      while (i < n && isWord(bytes(i))) i += 1
      if (i - start > 1) {
        val tok = java.util.Arrays.copyOfRange(bytes, start, i)
        var k = 0
        while (k < tok.length) {
          if (tok(k) >= 'A' && tok(k) <= 'Z') tok(k) = (tok(k) + 32).toByte
          k += 1
        }
        val u = UTF8String.fromBytes(tok)
        if (seen.add(u)) out += u
      }
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** non-ASCII fallback: Spark-semantics lower, then the defining regex. */
  private def slowTerms(s: UTF8String): ArrayData = {
    val toks = s.toLowerCase.toString.split("\\W+")
    val seen = new java.util.LinkedHashSet[String]()
    toks.foreach(t => if (t.length > 1) seen.add(t))
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(arr)
  }
}

/** Fused tokens→k-shingles for the dedup/similarity pipelines
  * (SURVEY.md §3.8): value-identical to the Catalyst composition
  *
  *   array_distinct(
  *     when(size(toks) < k, array(array_join(toks, " ")))
  *       .otherwise(transform(sequence(0, size(toks) - k),
  *         i => array_join(slice(toks, i + 1, k), " "))))
  *   where toks = filter(split(lower(trim(text)), "\\W+"), _ =!= "")
  *
  * as ONE byte scan. The composition's cost is NOT the hashing that
  * consumes it: Spark's higher-order functions (transform/filter lambdas,
  * slice, array_join) are interpreted, not codegen'd — measured ~21 µs
  * per ~30-byte shingle at sf0.1, making shingle CONSTRUCTION ~half of
  * dd03's wall (BENCH/BASELINE.md round-6). The scan tokenizes maximal
  * ASCII word-char runs lowercased in place (same safety argument as
  * [[FastTerms]]: high-bit bytes are never word chars, so any non-ASCII
  * input takes the regex fallback mirroring Spark semantics), then emits
  * each k-window joined with single spaces, first-occurrence-distinct —
  * exactly array_distinct's order. Below k tokens the single shingle is
  * the whole token list joined (including the empty string for empty
  * docs), matching the `when` branch. Property-tested against the
  * composition in FastScanSpec; the dd03/dd05/dd10/dd11 oracles pin the
  * values cross-engine.
  */
case class FastShingles(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING input, got ${child.dataType.catalogString}")
    else if (k < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires k >= 1, got $k")
    else TypeCheckResult.TypeCheckSuccess

  override protected def nullSafeEval(input: Any): Any =
    ShingleOps.fastShingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleOps.fastShingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "fast_shingles"
}

/** Fused word tokenizer — value-identical to the Catalyst composition
  *
  *   filter(split(lower(trim(text)), "\\W+"), t => t =!= "")
  *
  * (`Dedup.tokens`, the executable spec) as ONE byte scan: ordered,
  * duplicates kept, all lengths — the multiset contract SimHash votes
  * and repetition/vocab counts need (unlike [[FastTerms]], which dedups
  * and drops single-char tokens). Same ASCII gate + regex fallback as
  * [[FastShingles]] and the same safety argument: `\W` is ASCII-only, so
  * word runs never span a multi-byte codepoint, and the one divergence
  * (exotic uppercase whose LOWERCASE contains ASCII word chars, e.g. the
  * Kelvin sign → k) is exactly what the high-bit gate routes to the
  * fallback. Property-tested against the composition in FastShinglesSpec.
  */
case class FastTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    ShingleOps.fastTokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleOps.fastTokens($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "fast_tokens"
}

object ShingleOps {

  private[functions] def isWord(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_'

  /** tokenize: maximal word runs, ASCII-lowercased in place, ALL kept
    * (order + duplicates — unlike fastTerms, which dedups and drops
    * single-char tokens). ASCII-only input; callers gate on high bits.
    */
  private[functions] def tokenizeAscii(
      bytes: Array[Byte]): scala.collection.mutable.ArrayBuffer[Array[Byte]] = {
    val toks = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && !isWord(bytes(i))) i += 1
      val start = i
      while (i < n && isWord(bytes(i))) i += 1
      if (i > start) {
        val t = java.util.Arrays.copyOfRange(bytes, start, i)
        var j = 0
        while (j < t.length) {
          if (t(j) >= 'A' && t(j) <= 'Z') t(j) = (t(j) + 32).toByte
          j += 1
        }
        toks += t
      }
    }
    toks
  }

  /** static codegen target; see [[FastShingles]]. */
  def fastShingles(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    var i = 0
    while (i < bytes.length) { if (bytes(i) < 0) return slowShingles(s, k); i += 1 }
    joinWindows(tokenizeAscii(bytes), k)
  }

  /** static codegen target; see [[FastTokens]]. */
  def fastTokens(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    var i = 0
    while (i < bytes.length) { if (bytes(i) < 0) return slowTokens(s); i += 1 }
    val toks = tokenizeAscii(bytes)
    val arr = new Array[Any](toks.length)
    i = 0
    while (i < toks.length) { arr(i) = UTF8String.fromBytes(toks(i)); i += 1 }
    new GenericArrayData(arr)
  }

  /** the non-ASCII fallback tokenization every word-token kernel shares:
    * Spark-semantics trim + lower, the defining regex split, empties
    * dropped.
    */
  private[functions] def slowTokenStrings(s: UTF8String): Array[String] =
    s.trim().toLowerCase.toString.split("\\W+", -1).filter(_.nonEmpty)

  private def slowTokens(s: UTF8String): ArrayData =
    new GenericArrayData(slowTokenStrings(s).map(t => UTF8String.fromString(t): Any))

  private def joinBytes(toks: scala.collection.mutable.ArrayBuffer[Array[Byte]],
      from: Int, until: Int): UTF8String = {
    var len = 0
    var i = from
    while (i < until) { len += toks(i).length; i += 1 }
    if (until > from) len += until - from - 1
    val out = new Array[Byte](len)
    var pos = 0
    i = from
    while (i < until) {
      if (i > from) { out(pos) = ' '; pos += 1 }
      System.arraycopy(toks(i), 0, out, pos, toks(i).length)
      pos += toks(i).length
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  private def joinWindows(toks: scala.collection.mutable.ArrayBuffer[Array[Byte]],
      k: Int): ArrayData = {
    if (toks.length < k)
      return new GenericArrayData(Array[Any](joinBytes(toks, 0, toks.length)))
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= toks.length - k) {
      seen.add(joinBytes(toks, i, i + k))
      i += 1
    }
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    new GenericArrayData(arr)
  }

  /** non-ASCII fallback: Spark-semantics trim + lower, the defining
    * regex split, then the same windowing on Strings.
    */
  private def slowShingles(s: UTF8String, k: Int): ArrayData = {
    val toksS = slowTokenStrings(s)
    val toks = new scala.collection.mutable.ArrayBuffer[Array[Byte]](toksS.length)
    toksS.foreach(t => toks += t.getBytes("UTF-8"))
    joinWindows(toks, k)
  }

  /** static codegen target; see [[SortedShingleSet]]. Sort order is
    * UTF8String's natural (binary) order — any total order works for the
    * merge in [[sortedIntersectCount]] as long as producer and consumer
    * agree; binary is the cheapest.
    */
  def sortedShingleSet(s: UTF8String, k: Int): ArrayData = {
    val base = fastShingles(s, k)
    val n = base.numElements()
    val arr = new Array[AnyRef](n)
    var i = 0
    while (i < n) { arr(i) = base.getUTF8String(i); i += 1 }
    java.util.Arrays.sort(arr.asInstanceOf[Array[Object]])
    new GenericArrayData(arr.asInstanceOf[Array[Any]])
  }

  /** static codegen target; see [[SortedIntersectCount]]: |A∩B| of two
    * arrays sorted by [[sortedShingleSet]]'s order, by linear merge.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  /** static codegen target; see [[WindowHashes]]. One hash per k-token
    * window of an ALREADY-TOKENIZED array: the window's tokens joined
    * with single spaces (null elements skipped, `array_join` semantics)
    * and hashed at seed 0 under `family`. Callers gate on
    * `size(tk) >= k`, so the output always has `size(tk) − k + 1`
    * elements here (kept total anyway: an under-k array yields an empty
    * result).
    */
  def windowHashes(tk: ArrayData, k: Int, family: HashFamily): ArrayData = {
    val n = tk.numElements()
    if (n < k) return new GenericArrayData(new Array[Long](0))
    // materialize element bytes once
    val elems = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val u = tk.getUTF8String(i)
      elems(i) = if (u == null) null else u.getBytes
      i += 1
    }
    val out = new Array[Long](n - k + 1)
    var buf = new Array[Byte](64)
    val p = new Array[Long](2)
    var w = 0
    while (w <= n - k) {
      // join non-null elements of [w, w+k) with single spaces
      var len = 0
      var cnt = 0
      var t = w
      while (t < w + k) {
        if (elems(t) != null) { len += elems(t).length; cnt += 1 }
        t += 1
      }
      if (cnt > 1) len += cnt - 1
      if (len > buf.length) buf = new Array[Byte](math.max(len, buf.length * 2))
      var pos = 0
      var first = true
      t = w
      while (t < w + k) {
        if (elems(t) != null) {
          if (!first) { buf(pos) = ' '; pos += 1 }
          System.arraycopy(elems(t), 0, buf, pos, elems(t).length)
          pos += elems(t).length
          first = false
        }
        t += 1
      }
      family.prepare(buf, 0, pos, p)
      out(w) = family.hash(p, 0)
      w += 1
    }
    new GenericArrayData(out)
  }
}

/** [[FastShingles]] with binary-sorted output — the per-doc half of the
  * fused exact-Jaccard verify (`Dedup.exactJaccard`): each candidate doc
  * computes its sorted distinct shingle set ONCE, and every candidate
  * pair intersects two sorted arrays with [[SortedIntersectCount]]'s
  * linear merge instead of the set-algebra composition's explode +
  * per-shingle equi-join + per-pair count aggregate (three exchanges of
  * one row PER SHINGLE — the dominant dd03 stage once signatures and
  * bands were fused). The element SET is exactly [[FastShingles]]'s
  * (= the `Dedup.shingles` composition, property-pinned); only the order
  * differs, and no consumer of the verify path observes element order.
  */
case class SortedShingleSet(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING input, got ${child.dataType.catalogString}")
    else if (k < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires k >= 1, got $k")
    else TypeCheckResult.TypeCheckSuccess

  override protected def nullSafeEval(input: Any): Any =
    ShingleOps.sortedShingleSet(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleOps.sortedShingleSet($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "sorted_shingle_set"
}

/** |A∩B| of two [[SortedShingleSet]] arrays by linear merge — the
  * per-pair half of the fused exact-Jaccard verify (see
  * [[SortedShingleSet]]'s doc for the structural argument). Inputs MUST
  * be sorted by the producer's binary order; `Dedup.exactJaccard` is the
  * sanctioned caller and FastShinglesSpec pins fused ≡ composed end to
  * end.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e => e.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<STRING> inputs, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ShingleOps.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.ShingleOps.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "sorted_intersect_count"
}

/** The four sketch kernels below take their [[HashFamily]] as a
  * parameter: one kernel body per sketch, the family's byte-level hooks
  * (`prepare` once per hashed value, then `hash`/`rank`/`bits`/
  * `foldRanks`) supplying the only step that differs. Generated code
  * receives the family as a reference object.
  */
private[functions] object Families {

  def ref(ctx: CodegenContext, family: HashFamily): String =
    ctx.addReferenceObj("family", family, classOf[HashFamily].getName)

  /** the Md5 family's kernels keep their `md5_` names */
  def name(family: HashFamily, base: String): String =
    if (family == HashFamily.Md5) s"md5_$base" else base
}

/** Fused MinHash signature — value-identical to the Catalyst composition
  * in `Dedup.minhashSignaturesComposed` under the same family:
  *
  *   explode(fast_shingles(text, k)) → hp = family.prepare(shingle)
  *   → numHashes mins of family.rankHashPrepared(hp, j) grouped by doc
  *   → array(min_0 .. min_{n-1})
  *
  * as ONE byte scan per document. Tokenize (same ASCII gate + regex
  * fallback as [[FastShingles]]), join each k-window into a reused
  * scratch buffer (no per-window allocation), digest it once with the
  * family's `prepare` and fold all numHashes rank minima with
  * `foldRanks` (xx64: hp = XXH64(bytes, 42), rank_j =
  * hashInt(j, hashLong(hp, 42)) with the hashLong hoisted; Md5:
  * rank_j = (h1 + j·h2) mod (2^31 − 1)). The composition's
  * first-occurrence-distinct shingle SET is skipped on purpose: a min
  * over the multiset equals the min over the set, so duplicate windows
  * can't change any signature slot (FastShinglesSpec and Md5FusedSpec
  * pin this). Like [[SimHash64]], the win is structural: the
  * composition materializes one row per shingle and exchanges per-doc
  * partial minima, while this is a per-row projection inside whole-stage
  * codegen with zero exchanges.
  *
  * Below k tokens the single shingle is the whole token list joined
  * (including the empty string for an empty document), matching
  * `fast_shingles` — so every non-null document yields a signature, the
  * same row set as the composition's explode (never empty).
  */
case class MinHashSigs(child: Expression, k: Int, numHashes: Int, family: HashFamily)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    val max = family.seedBound.fold(1024)(math.min(1024, _))
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING input, got ${child.dataType.catalogString}")
    else if (k < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires k >= 1, got $k")
    else if (numHashes < 1 || numHashes > max)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires numHashes in [1, $max]" +
          family.seedBound.fold("")(_ => " (the 2^55 no-overflow seed bound)") +
          s", got $numHashes")
    else TypeCheckResult.TypeCheckSuccess
  }

  override protected def nullSafeEval(input: Any): Any =
    MinHashOps.minhashSigs(input.asInstanceOf[UTF8String], k, numHashes, family)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = Families.ref(ctx, family)
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashOps.minhashSigs($c, $k, $numHashes, $f)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = Families.name(family, "minhash_sigs")
}

object MinHashOps {

  /** static codegen target; see [[MinHashSigs]]. */
  def minhashSigs(s: UTF8String, k: Int, n: Int, family: HashFamily): ArrayData = {
    val bytes = s.getBytes
    val mins = Array.fill(n)(Long.MaxValue)
    val p = new Array[Long](2)
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) < 0) return slowSigs(s, k, mins, p, family)
      i += 1
    }

    val toks = ShingleOps.tokenizeAscii(bytes)
    var buf = new Array[Byte](64)

    // join toks[from, until) with single spaces into buf, digest, fold
    def window(from: Int, until: Int): Unit = {
      var len = 0
      var t = from
      while (t < until) { len += toks(t).length; t += 1 }
      if (until > from) len += until - from - 1
      if (len > buf.length) buf = new Array[Byte](math.max(len, buf.length * 2))
      var pos = 0
      t = from
      while (t < until) {
        if (t > from) { buf(pos) = ' '; pos += 1 }
        System.arraycopy(toks(t), 0, buf, pos, toks(t).length)
        pos += toks(t).length
        t += 1
      }
      family.prepare(buf, 0, len, p)
      family.foldRanks(p, mins)
    }

    if (toks.length < k) window(0, toks.length)
    else {
      var w = 0
      while (w <= toks.length - k) { window(w, w + k); w += 1 }
    }
    new GenericArrayData(mins)
  }

  /** write `v`'s decimal representation (= `cast(v AS STRING)` =
    * `java.lang.Long.toString`) into `buf` at `pos`; returns the new
    * position. Digits are written backwards into a 20-byte tail then
    * reversed in place — Long.MinValue included (negated per-digit via
    * negative remainders).
    */
  private[functions] def longToAscii(buf: Array[Byte], pos: Int, v: Long): Int = {
    var p = pos
    if (v == 0) { buf(p) = '0'; return p + 1 }
    var x = v
    if (v < 0) { buf(p) = '-'; p += 1 } else x = -x // work in negatives: MinValue-safe
    val start = p
    while (x != 0) { buf(p) = ('0' - (x % 10)).toByte; x /= 10; p += 1 }
    // digits came out least-significant first; reverse
    var i = start; var j = p - 1
    while (i < j) { val t = buf(i); buf(i) = buf(j); buf(j) = t; i += 1; j -= 1 }
    p
  }

  /** static codegen target; see [[LshBandHashes]]. */
  def lshBandHashes(sig: ArrayData, bands: Int, rowsPerBand: Int,
      family: HashFamily): ArrayData = {
    // worst case per slot: '-' + 19 digits + ',' = 21 bytes
    val buf = new Array[Byte](rowsPerBand * 21)
    val out = new Array[Long](bands)
    val p = new Array[Long](2)
    val len = sig.numElements()
    var b = 0
    while (b < bands) {
      var pos = 0
      var i = b * rowsPerBand
      val end = math.min(len, i + rowsPerBand)
      while (i < end) {
        if (pos > 0) { buf(pos) = ','; pos += 1 }
        pos = longToAscii(buf, pos, sig.getLong(i))
        i += 1
      }
      family.prepare(buf, 0, pos, p)
      out(b) = family.hash(p, b)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** non-ASCII fallback: [[ShingleOps]]' slow tokenization semantics,
    * each window joined as a String and digested over its UTF-8 bytes —
    * exactly what the family's Column-level `prepare` hashes.
    */
  private def slowSigs(s: UTF8String, k: Int, mins: Array[Long], p: Array[Long],
      family: HashFamily): ArrayData = {
    val toks = ShingleOps.slowTokenStrings(s)
    def window(sh: String): Unit = {
      val b = sh.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      family.prepare(b, 0, b.length, p)
      family.foldRanks(p, mins)
    }
    if (toks.length < k) window(toks.mkString(" "))
    else (0 to toks.length - k).foreach(w => window(toks.slice(w, w + k).mkString(" ")))
    new GenericArrayData(mins)
  }
}

/** Fused winnowing fingerprint — value-identical to the Catalyst
  * composition in `TextAnalysis.winnowingFingerprintComposed` under the
  * same family (Schleimer et al., SIGMOD'03):
  *
  *   toks   = filter(split(trim(text), "\\s+"), t => t != "")
  *   hashes = transform(toks, t => family.rankHash(t, 0))
  *   mins   = window minima of `hashes`, window w (≥1 window; all-of-doc
  *            when the doc is shorter than w; empty when no tokens)
  *   fingerprint = array_sort(array_distinct(mins))
  *   fp_hash     = family.hash(array_join(decimal(fingerprint), ","), 1)
  *
  * as ONE scan per document returning `struct<fingerprint:array<bigint>,
  * fp_hash:bigint>`. The composition is all interpreted higher-order
  * functions — per window it slices and array_min's, O(n·w) interpreted
  * calls — while the kernel tokenizes byte-level (ASCII whitespace can
  * never occur inside a multi-byte UTF-8 sequence, so NO fallback is
  * needed and token bytes are digested in place, case-preserved, exactly
  * like the `\s+` split), folds a monotonic-deque sliding minimum in
  * O(n), then sorts + dedups the minima in place and hashes the joined
  * decimal bytes from a scratch buffer. FastShinglesSpec (xx64) and
  * Md5FusedSpec (Md5) pin fused ≡ composed; the ta04 DuckDB oracle pins
  * the Md5 values cross-engine.
  */
case class WinnowFp(child: Expression, window: Int, family: HashFamily)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("fingerprint",
      ArrayType(org.apache.spark.sql.types.LongType, containsNull = false),
      nullable = false),
    org.apache.spark.sql.types.StructField("fp_hash",
      org.apache.spark.sql.types.LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING input, got ${child.dataType.catalogString}")
    else if (window < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires window >= 1, got $window")
    else TypeCheckResult.TypeCheckSuccess

  override protected def nullSafeEval(input: Any): Any =
    WinnowOps.winnowFp(input.asInstanceOf[UTF8String], window, family)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = Families.ref(ctx, family)
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowOps.winnowFp($c, $window, $f)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = Families.name(family, "winnow_fp")
}

object WinnowOps {

  private def isWs(b: Byte): Boolean = // Java regex \s = [ \t\n\x0B\f\r]
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** static codegen target; see [[WinnowFp]]. */
  def winnowFp(s: UTF8String, w: Int,
      family: HashFamily): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    val n = bytes.length
    val p = new Array[Long](2)

    // token rank hashes: maximal non-whitespace byte runs, case and
    // bytes preserved (no fallback needed — see class doc)
    var hashes = new Array[Long](16)
    var nTok = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        if (nTok == hashes.length) hashes = java.util.Arrays.copyOf(hashes, nTok * 2)
        family.prepare(bytes, start, i - start, p)
        hashes(nTok) = family.rank(p, 0)
        nTok += 1
      }
    }

    // sliding-window minima via monotonic deque (O(n)); below w tokens a
    // single all-of-doc window; zero tokens → empty fingerprint
    val nWin = if (nTok == 0) 0 else math.max(nTok - w + 1, 1)
    val mins = new Array[Long](nWin)
    if (nTok > 0) {
      val win = math.min(w, nTok)
      val deque = new Array[Int](nTok) // indices, increasing hash values
      var head = 0; var tail = 0 // [head, tail)
      i = 0
      while (i < nTok) {
        while (tail > head && hashes(deque(tail - 1)) >= hashes(i)) tail -= 1
        deque(tail) = i; tail += 1
        if (deque(head) <= i - win) head += 1
        if (i >= win - 1) mins(i - win + 1) = hashes(deque(head))
        i += 1
      }
    }

    // fingerprint = sorted distinct minima
    java.util.Arrays.sort(mins)
    var fpLen = 0
    i = 0
    while (i < nWin) {
      if (i == 0 || mins(i) != mins(i - 1)) { mins(fpLen) = mins(i); fpLen += 1 }
      i += 1
    }
    val fp = java.util.Arrays.copyOf(mins, fpLen)

    // fp_hash over the comma-joined decimal bytes (equality hash, seed 1)
    val buf = new Array[Byte](fpLen * 21)
    var pos = 0
    i = 0
    while (i < fpLen) {
      if (pos > 0) { buf(pos) = ','; pos += 1 }
      pos = MinHashOps.longToAscii(buf, pos, fp(i))
      i += 1
    }
    family.prepare(buf, 0, pos, p)

    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new GenericArrayData(fp), family.hash(p, 1)))
  }
}

/** Fused LSH band hashes — value-identical to the per-band Catalyst
  * composition in `Dedup.lshBandsComposed` under the same family:
  *
  *   transform(sequence(0, bands-1), b =>
  *     family.hash(array_join(
  *       transform(slice(sig, b*r+1, r), x => cast(x as string)), ","), b))
  *
  * as ONE pass over the signature array. The composition's cost is pure
  * interpretation: per band it runs four nested interpreted higher-order
  * functions, casts each slot to a decimal string and joins them — all
  * to feed a hash. The kernel writes the same comma-joined decimal bytes
  * into a reused scratch buffer (manual long→ASCII, no String/byte[]
  * allocations), digests them once per band and takes the family's
  * equality hash at seed b (xx64: `hashInt(b, hashLong(XXH64(bytes, 42),
  * 42))`; Md5: h1 + b·h2), so BAND-HASH VALUES ARE UNCHANGED — committed
  * `dd_bands`/`dd_bands_bh` layouts, the streaming ingest and the
  * bucket-pruned reads all stay bit-compatible, and FastShinglesSpec /
  * Md5FusedSpec pin fused ≡ composed. Slice semantics replicated
  * exactly, including ragged tails (a band window past the array end
  * shortens; a fully-past window joins an empty slice = hash of "").
  *
  * Output: array of `bands` longs; `posexplode` in `Dedup.lshBands`
  * turns it into the `(band, band_hash)` rows the bucket join needs —
  * the explode survives (it IS the banding), only the per-band
  * interpretation goes native.
  */
case class LshBandHashes(child: Expression, bands: Int, rowsPerBand: Int,
    family: HashFamily) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _)
        if bands >= 1 && family.seedBound.forall(bands <= _) && rowsPerBand >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(org.apache.spark.sql.types.LongType, _) =>
      val bandRule = family.seedBound.fold("bands >= 1")(m =>
        s"1 <= bands <= $m (the 2^55 no-overflow seed bound)")
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires $bandRule and rowsPerBand >= 1, got ($bands, $rowsPerBand)")
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<BIGINT> input, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    MinHashOps.lshBandHashes(input.asInstanceOf[ArrayData], bands, rowsPerBand, family)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = Families.ref(ctx, family)
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashOps.lshBandHashes($c, $bands, $rowsPerBand, $f)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = Families.name(family, "lsh_band_hashes")
}

/** Fused 64-bit SimHash — value-identical to the Catalyst composition in
  * `Dedup.simhashComposed` under the same family:
  *
  *   explode(fast_tokens(text)) → h = family.bitSource(t)
  *   → 64 sums of (family.bitAt(h, j) == 1 ? +1 : -1) grouped by doc
  *   → bit j of the signature = (sum_j > 0)
  *
  * as ONE byte scan per document: tokenize maximal ASCII word-char runs
  * (same gate + non-ASCII regex fallback as [[FastTokens]] — the token
  * multiset is identical by FastShinglesSpec), digest each token's
  * lowercased bytes from a reused scratch buffer with the family's
  * `prepare`, accumulate the 64 vote counters from its `bits` (xx64:
  * `XXH64(bytes, 42)`, what `xxhash64` computes; Md5: h1's 48 bits then
  * h2's low 16), pack the sign bits. The composition's cost is
  * structural, not arithmetic: explode materializes one row per token
  * and the 64-sum aggregate shuffles per-doc partials, while this is a
  * per-row projection inside whole-stage codegen with zero exchanges.
  *
  * Returns NULL when the document has no tokens — the composition's
  * explode drops such documents, so callers filter to keep the row set
  * identical (pinned by FastShinglesSpec and Md5FusedSpec).
  */
case class SimHash64(child: Expression, family: HashFamily) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    SimHashOps.simhash64(input.asInstanceOf[UTF8String], family)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = Families.ref(ctx, family)
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("simhash")
      s"""
         |java.lang.Long $boxed = graft.functions.SimHashOps.simhash64($c, $f);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = Families.name(family, "simhash64")
}

object SimHashOps {

  private def vote(votes: Array[Int], h: Long): Unit = {
    var j = 0
    while (j < 64) {
      votes(j) += ((((h >>> j) & 1L).toInt) << 1) - 1
      j += 1
    }
  }

  private def pack(votes: Array[Int]): java.lang.Long = {
    var acc = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) acc |= 1L << j
      j += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** static codegen target; see [[SimHash64]]. Null = no tokens. */
  def simhash64(s: UTF8String, family: HashFamily): java.lang.Long = {
    val bytes = s.getBytes
    var i = 0
    while (i < bytes.length) { if (bytes(i) < 0) return slowSimhash(s, family); i += 1 }

    val votes = new Array[Int](64)
    val p = new Array[Long](2)
    var buf = new Array[Byte](32)
    var any = false
    val n = bytes.length
    i = 0
    while (i < n) {
      while (i < n && !ShingleOps.isWord(bytes(i))) i += 1
      val start = i
      while (i < n && ShingleOps.isWord(bytes(i))) i += 1
      if (i > start) {
        any = true
        val len = i - start
        if (len > buf.length) buf = new Array[Byte](math.max(len, buf.length * 2))
        var j = 0
        while (j < len) {
          val b = bytes(start + j)
          buf(j) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
          j += 1
        }
        family.prepare(buf, 0, len, p)
        vote(votes, family.bits(p))
      }
    }
    if (!any) null else pack(votes)
  }

  /** non-ASCII fallback: [[ShingleOps]]' slow tokenization semantics
    * (Spark trim + lower + the defining regex split), each token
    * digested over its UTF-8 bytes.
    */
  private def slowSimhash(s: UTF8String, family: HashFamily): java.lang.Long = {
    val toks = ShingleOps.slowTokenStrings(s)
    if (toks.isEmpty) return null
    val votes = new Array[Int](64)
    val p = new Array[Long](2)
    toks.foreach { t =>
      val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      family.prepare(b, 0, b.length, p)
      vote(votes, family.bits(p))
    }
    pack(votes)
  }
}

/** Fused k-token window hashes over a token ARRAY (the dd12 / pipe11
  * span-dedup key stage) — value-identical to the composition in
  * `Dedup.windowHashesComposed`:
  *
  *   transform(sequence(0, size(tk) - k),
  *     i => family.hash(array_join(slice(tk, i + 1, k), " "), 0))
  *
  * as one pass: each window's tokens joined into a reused scratch
  * buffer and hashed at seed 0 under the family (Md5: h1; xx64: the
  * exact `xxhash64(xxhash64(str), 0)` chain). The composition runs three
  * nested interpreted higher-order functions and a fresh joined string
  * PER WINDOW (≈ per token); `posexplode` of this array yields the
  * same `(wpos, wh)` rows the count/semi-join stages consume.
  */
case class WindowHashes(child: Expression, k: Int, family: HashFamily)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires k >= 1, got $k")
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING> input, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    ShingleOps.windowHashes(input.asInstanceOf[ArrayData], k, family)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = Families.ref(ctx, family)
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleOps.windowHashes($c, $k, $f)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "window_hashes"
}

object TextExpressions {
  def fast_terms(col: Column): Column = {
    GraftExtensions.ensure()
    call_function("fast_terms", col)
  }
}
