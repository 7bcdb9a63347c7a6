package graft.functions

import graft.url.Urls
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot URL functions (SURVEY.md §3.10
  * U1 upgrade path): unlike Scala UDFs these stay inside whole-stage
  * codegen — `doGenCode` emits a direct static call, no
  * serialization/Option boxing per row, null handling handled by the
  * generated null-check. Registered for SQL via [[GraftExtensions]].
  *
  * The static targets are UTF8String→UTF8String (see [[UrlOps]]): the
  * common shapes are computed by a byte-level scan with NO String (or any
  * per-row object beyond the small result) allocated — the profiled
  * UTF8String→String→parse→String→UTF8String round-trip was the single
  * largest allocation source in the crawl hot path (~600 GB sampled
  * allocation per bench run, the attributed 8→32-core scaling wall).
  * Anything the scan can't prove falls back to the String implementations
  * in [[graft.url.Urls]], which remain the executable spec: UrlsSpec
  * property-checks byte path ≡ String path on adversarial inputs, and the
  * frozen crawl goldens pin the integration.
  */
abstract class UrlStringExpression extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  // SQL-callable; a non-string argument must fail analysis, not codegen
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.catalogString}")

  /** fully-qualified static call target, e.g. "graft.functions.UrlOps.canon" */
  protected def staticCall: String

  override protected def nullSafeEval(input: Any): Any =
    evalU(input.asInstanceOf[UTF8String])

  protected def evalU(s: UTF8String): UTF8String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$staticCall($c)")
}

case class CanonicalizeUrl(child: Expression) extends UrlStringExpression {
  override protected def staticCall: String = "graft.functions.UrlOps.canon"
  override protected def evalU(s: UTF8String): UTF8String = UrlOps.canon(s)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "canonicalize_url"
}

case class UrlFingerprint(child: Expression) extends UrlStringExpression {
  override protected def staticCall: String = "graft.functions.UrlOps.fingerprint"
  override protected def evalU(s: UTF8String): UTF8String = UrlOps.fingerprint(s)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "url_fingerprint"
}

case class UrlHost(child: Expression) extends UrlStringExpression {
  override protected def staticCall: String = "graft.functions.UrlOps.host"
  override protected def evalU(s: UTF8String): UTF8String = UrlOps.host(s)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "url_host"
}

/** FNV-1a 64 over the UTF8String's bytes in place — the engine's stable
  * enqueue-seq hash (graft.url.Hashing.fnv1a64) as a codegen'd
  * expression: the enqueue-seq UDFs decoded every URL to a String and
  * re-encoded it to bytes per discovered link. Bit-identical to the
  * String version (same bytes; UrlsSpec pins it), so the frozen goldens
  * are unaffected.
  */
case class Fnv1a64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.catalogString}")
  override protected def nullSafeEval(input: Any): Any =
    UrlOps.fnv(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlOps.fnv($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "fnv1a64"
}

case class UrlPath(child: Expression) extends UrlStringExpression {
  override protected def staticCall: String = "graft.functions.UrlOps.path"
  override protected def evalU(s: UTF8String): UTF8String = UrlOps.path(s)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "url_path"
}

/** Static call targets for generated code, UTF8String-in/UTF8String-out.
  *
  * Byte-level scanning is codepoint-safe: every delimiter these scans key
  * on (':', '/', '?', '#', '@', '.') is ASCII, and in valid UTF-8 the
  * bytes of a multi-byte sequence all have the high bit set — an ASCII
  * byte value can never occur mid-codepoint. Regions whose TRANSFORM is
  * not byte-local (host lowercasing of non-ASCII, escape normalization,
  * query re-sorting with escapes) fall back to the String spec path.
  */
object UrlOps {

  // ---- equivalence guard: ASCII A-Z→a-z equals String.toLowerCase only
  // outside tr/az locales (dotted/dotless i). The String spec path uses
  // the default locale, so under those locales the byte path must defer.
  private val asciiLowerSafe: Boolean = {
    val lang = java.util.Locale.getDefault.getLanguage
    lang != "tr" && lang != "az"
  }

  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** The UTF8String's backing array and [from, to) byte range WITHOUT a
    * copy when heap-backed (the normal on-heap Tungsten case — row
    * buffers and fromBytes strings are byte[]-based); one copy for
    * off-heap bases. Kills the per-row `getBytes` allocation that
    * profiled at ~25 GB/run across these expressions.
    */
  private def heapRange(u: UTF8String): (Array[Byte], Int, Int) =
    u.getBaseObject match {
      case a: Array[Byte] =>
        val off = (u.getBaseOffset - org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET).toInt
        (a, off, off + u.numBytes)
      case _ =>
        val b = u.getBytes
        (b, 0, b.length)
    }

  /** matches `Urls.split` port acceptance: `toIntOption.filter(0..65535)`
    * over [from,to) — optional leading '+', all digits, value ≤ 65535.
    */
  private def validPort(bytes: Array[Byte], from0: Int, to: Int): Boolean = {
    var from = from0
    if (from < to && bytes(from) == '+') from += 1
    if (from >= to) return false
    var v = 0L
    var i = from
    while (i < to) {
      if (!isDigit(bytes(i))) return false
      if (v <= 65535L) v = v * 10 + (bytes(i) - '0')
      i += 1
    }
    v <= 65535L
  }

  /** Authority scan result, packed to avoid a per-row object:
    * (hostStart.toLong << 32) | hostEnd, or -1 when `Urls.split` would
    * return None (bad scheme / empty host). Mirrors Urls.split exactly:
    * trim, first "://", case-insensitive http/https, '#' then '?' then
    * '/' splits, last '@' strips userinfo, last ':' + valid port strips
    * the port (invalid port ⇒ the WHOLE host:port run is the host).
    */
  private def hostSpan(bytes: Array[Byte], from: Int, to: Int): Long = {
    var s = from
    var e = to
    while (s < e && bytes(s) >= 0 && bytes(s) <= ' ') s += 1
    while (e > s && bytes(e - 1) >= 0 && bytes(e - 1) <= ' ') e -= 1
    // first "://"
    var se = -1
    var i = s
    while (se == -1 && i + 2 < e) {
      if (bytes(i) == ':' && bytes(i + 1) == '/' && bytes(i + 2) == '/') se = i
      i += 1
    }
    if (se <= s) return -1L
    // scheme ∈ {http, https}, case-insensitive
    val schemeLen = se - s
    val okScheme =
      if (schemeLen == 4)
        (bytes(s) | 0x20) == 'h' && (bytes(s + 1) | 0x20) == 't' &&
          (bytes(s + 2) | 0x20) == 't' && (bytes(s + 3) | 0x20) == 'p'
      else if (schemeLen == 5)
        (bytes(s) | 0x20) == 'h' && (bytes(s + 1) | 0x20) == 't' &&
          (bytes(s + 2) | 0x20) == 't' && (bytes(s + 3) | 0x20) == 'p' &&
          (bytes(s + 4) | 0x20) == 's'
      else false
    if (!okScheme) return -1L
    val restStart = se + 3
    // '#' bounds the fragment, then '?' the query, then '/' the authority
    var aapEnd = e
    i = restStart
    while (i < aapEnd) { if (bytes(i) == '#') aapEnd = i else i += 1 }
    var apEnd = aapEnd
    i = restStart
    while (i < apEnd) { if (bytes(i) == '?') apEnd = i else i += 1 }
    var authEnd = apEnd
    i = restStart
    while (i < authEnd) { if (bytes(i) == '/') authEnd = i else i += 1 }
    // strip userinfo: last '@'
    var hpStart = restStart
    i = authEnd - 1
    while (i >= restStart && hpStart == restStart) {
      if (bytes(i) == '@') hpStart = i + 1 else i -= 1
    }
    // strip a VALID port at the last ':'
    var hostEnd = authEnd
    i = authEnd - 1
    var colon = -1
    while (i >= hpStart && colon == -1) {
      if (bytes(i) == ':') colon = i else i -= 1
    }
    if (colon != -1 && validPort(bytes, colon + 1, authEnd)) hostEnd = colon
    if (hostEnd <= hpStart) -1L
    else (hpStart.toLong << 32) | hostEnd.toLong
  }

  /** FNV-1a 64 in place (no copy) ≡ `Hashing.fnv1a64(s)` on the same
    * text — a String's UTF-8 bytes ARE the UTF8String's bytes.
    */
  def fnv(u: UTF8String): Long = {
    var h = 0xcbf29ce484222325L
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val n = u.numBytes
    var i = 0
    while (i < n) {
      h ^= (org.apache.spark.unsafe.Platform.getByte(base, off + i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** url_host: lowercased host or "". Byte path unless the host region
    * contains non-ASCII (String.toLowerCase Unicode semantics) or the
    * locale makes ASCII lowering unsafe.
    */
  def host(u: UTF8String): UTF8String = {
    val (bytes, from, to) = heapRange(u)
    val span = hostSpan(bytes, from, to)
    if (span == -1L) return UTF8String.EMPTY_UTF8
    val hs = (span >>> 32).toInt
    val he = (span & 0xffffffffL).toInt
    if (!asciiLowerSafe) return UTF8String.fromString(Urls.hostOf(u.toString))
    var i = hs
    var needsLower = false
    while (i < he) {
      val b = bytes(i)
      if (b < 0) return UTF8String.fromString(Urls.hostOf(u.toString))
      if (b >= 'A' && b <= 'Z') needsLower = true
      i += 1
    }
    val out = java.util.Arrays.copyOfRange(bytes, hs, he)
    if (needsLower) {
      var k = 0
      while (k < out.length) {
        if (out(k) >= 'A' && out(k) <= 'Z') out(k) = (out(k) + 32).toByte
        k += 1
      }
    }
    UTF8String.fromBytes(out)
  }

  /** url_path: the raw path component ('/' default) — returned verbatim,
    * so non-ASCII path bytes need no fallback; validity (scheme + host)
    * reuses the authority scan.
    */
  def path(u: UTF8String): UTF8String = {
    val (bytes, from, to) = heapRange(u)
    if (hostSpan(bytes, from, to) == -1L) return UrlOps.Slash
    var s = from
    var e = to
    while (s < e && bytes(s) >= 0 && bytes(s) <= ' ') s += 1
    while (e > s && bytes(e - 1) >= 0 && bytes(e - 1) <= ' ') e -= 1
    var se = -1
    var i = s
    while (se == -1 && i + 2 < e) {
      if (bytes(i) == ':' && bytes(i + 1) == '/' && bytes(i + 2) == '/') se = i
      i += 1
    }
    val restStart = se + 3
    var aapEnd = e
    i = restStart
    while (i < aapEnd) { if (bytes(i) == '#') aapEnd = i else i += 1 }
    var apEnd = aapEnd
    i = restStart
    while (i < apEnd) { if (bytes(i) == '?') apEnd = i else i += 1 }
    var slash = -1
    i = restStart
    while (slash == -1 && i < apEnd) { if (bytes(i) == '/') slash = i else i += 1 }
    if (slash == -1 || slash == apEnd) UrlOps.Slash
    else UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, slash, apEnd))
  }

  private val Slash = UTF8String.fromString("/")
  private val GetPrefix = "GET ".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val HexBytes = "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Canonical-shape classifier over trimmed-equal input:
    *   0  → `canonicalize(s) == s` (identity)
    *   1  → `canonicalize(s) == s + "/"` (authority-only URL)
    *   -1 → unproven: take the String spec path
    *
    * Proven shape: exact lowercase "http(s)://", host of [a-z0-9.-]+ (no
    * port, no userinfo — canonicalize might rewrite either), then either
    * end-of-string, or a path of printable ASCII (no '%': escape
    * normalization; no space: only because the scan stays conservative)
    * with no "." / ".." segments, optionally followed by "?" + an
    * already-(key,value)-sorted plain query with no empty '&' components.
    * Every excluded byte is one `canonicalize` could rewrite; everything
    * admitted is provably fixed-point (normalizeEscapes no-op without
    * '%', removeDotSegments identity without dot segments, query join
    * identity when components are nonempty and sorted).
    */
  private def canonicalShape(bytes: Array[Byte], from: Int, to: Int): Int = {
    if (to <= from) return -1
    if ((bytes(from) >= 0 && bytes(from) <= ' ') || (bytes(to - 1) >= 0 && bytes(to - 1) <= ' '))
      return -1
    if (!asciiLowerSafe) return -1
    // exact lowercase scheme prefix
    var i = from
    if (to - from > 7 && bytes(from) == 'h' && bytes(from + 1) == 't' &&
        bytes(from + 2) == 't' && bytes(from + 3) == 'p') {
      if (bytes(from + 4) == ':' && bytes(from + 5) == '/' && bytes(from + 6) == '/') i = from + 7
      else if (to - from > 8 && bytes(from + 4) == 's' && bytes(from + 5) == ':' &&
        bytes(from + 6) == '/' && bytes(from + 7) == '/') i = from + 8
      else return -1
    } else return -1
    // host: [a-z0-9.-]+
    val hostStart = i
    var b: Byte = 0
    while (i < to && { b = bytes(i); (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || b == '.' || b == '-' }) i += 1
    if (i == hostStart) return -1
    if (i == to) return 1 // no path: canonical appends "/"
    if (bytes(i) != '/') return -1 // ':' '@' '?' '#' uppercase … all bail
    // path: printable ASCII minus '%'; watch for dot segments
    while (i < to && bytes(i) != '?') {
      b = bytes(i)
      if (b <= ' ' || b == '%' || b == '#' || b == 0x7f) return -1
      if (b == '/' && i + 1 < to && bytes(i + 1) == '.') {
        if (i + 2 == to || bytes(i + 2) == '/' || bytes(i + 2) == '?') return -1
        if (bytes(i + 2) == '.' && (i + 3 == to || bytes(i + 3) == '/' || bytes(i + 3) == '?')) return -1
      }
      i += 1
    }
    if (i == to) return 0
    // query: '&'-separated nonempty plain components, sorted by (key, value)
    i += 1 // past '?'
    if (i == to) return -1 // trailing "?" — canonicalize drops it
    var prevStart = -1
    var prevEnd = -1
    var compStart = i
    while (i <= to) {
      if (i == to || bytes(i) == '&') {
        if (i == compStart) return -1 // empty component — canonicalize drops it
        if (prevStart != -1 && compareKv(bytes, prevStart, prevEnd, compStart, i) > 0)
          return -1 // out of order — canonicalize re-sorts
        prevStart = compStart; prevEnd = i
        compStart = i + 1
      } else {
        b = bytes(i)
        if (b <= ' ' || b == '%' || b == '#' || b == 0x7f) return -1
      }
      i += 1
    }
    0
  }

  /** compare query components as (key, value-or-"") pairs, byte-wise —
    * equals the spec path's `sortBy((k, v.getOrElse("")))` on ASCII.
    */
  private def compareKv(bytes: Array[Byte], aS: Int, aE: Int, bS: Int, bE: Int): Int = {
    var aEq = aE
    var i = aS
    while (i < aE && aEq == aE) { if (bytes(i) == '=') aEq = i else i += 1 }
    var bEq = bE
    i = bS
    while (i < bE && bEq == bE) { if (bytes(i) == '=') bEq = i else i += 1 }
    val c = compareRange(bytes, aS, aEq, bS, bEq)
    if (c != 0) c
    else {
      val aVs = if (aEq == aE) aE else aEq + 1
      val bVs = if (bEq == bE) bE else bEq + 1
      compareRange(bytes, aVs, aE, bVs, bE)
    }
  }

  private def compareRange(bytes: Array[Byte], aS: Int, aE: Int, bS: Int, bE: Int): Int = {
    var i = aS
    var j = bS
    while (i < aE && j < bE) {
      if (bytes(i) != bytes(j)) return (bytes(i) & 0xff) - (bytes(j) & 0xff)
      i += 1; j += 1
    }
    (aE - aS) - (bE - bS)
  }

  /** canonicalize_url. Identity shape returns the INPUT UTF8String —
    * zero bytes moved for the dominant already-canonical case (every URL
    * that came out of `Urls.resolve` is canonical by construction).
    */
  def canon(u: UTF8String): UTF8String = {
    val (bytes, from, to) = heapRange(u)
    canonicalShape(bytes, from, to) match {
      case 0 => u
      case 1 =>
        val out = new Array[Byte](to - from + 1)
        System.arraycopy(bytes, from, out, 0, to - from)
        out(to - from) = '/'
        UTF8String.fromBytes(out)
      case _ => UTF8String.fromString(Urls.canonicalize(u.toString))
    }
  }

  // one SHA-1 digest per thread (see Urls.sha1Local: a per-row
  // getInstance takes a Provider lock that serializes 32 threads)
  private val sha1Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-1")
  }

  /** url_fingerprint = sha1Hex("GET " + canonicalize(url)) with zero
    * String allocation on the canonical shape: digest "GET " + the raw
    * bytes (+ '/'), hex straight into an ASCII byte array.
    */
  def fingerprint(u: UTF8String): UTF8String = {
    val (bytes, from, to) = heapRange(u)
    val shape = canonicalShape(bytes, from, to)
    if (shape < 0) return UTF8String.fromString(Urls.fingerprint(u.toString))
    val md = sha1Local.get()
    md.reset()
    md.update(GetPrefix)
    md.update(bytes, from, to - from)
    if (shape == 1) md.update('/'.toByte)
    val d = md.digest()
    val out = new Array[Byte](40)
    var i = 0
    while (i < d.length) {
      out(i * 2) = HexBytes((d(i) >> 4) & 0xf)
      out(i * 2 + 1) = HexBytes(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

object UrlExpressions {

  private def call(name: String, col: Column): Column = {
    GraftExtensions.ensure()
    call_function(name, col)
  }

  def canonicalize_url(col: Column): Column = call("canonicalize_url", col)
  def url_fingerprint(col: Column): Column = call("url_fingerprint", col)
  def url_host(col: Column): Column = call("url_host", col)
  def url_path(col: Column): Column = call("url_path", col)
  def fnv1a64(col: Column): Column = call("fnv1a64", col)
}
