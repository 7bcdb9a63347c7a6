package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

/** Injectable hash family for the sketching operators — MinHash
  * signatures, LSH band hashes, winnowing fingerprints.
  *
  * The sketches only ever need ORDERING and EQUALITY on hash values
  * (`min` per permutation slot, equi-join on band hashes), never bit
  * arithmetic, so the family is a leaf-expression swap under the SAME
  * pipeline code — the hard-oracle runs exercise exactly the plans
  * production runs.
  *
  *   - [[HashFamily.XxHash64]] — production default: Spark-native
  *     `xxhash64`, codegen'd, one call per (value, seed). The algorithm
  *     is Spark-specific: no external engine recomputes it, so every
  *     signature-bearing query was stuck as a rows-only check.
  *   - [[HashFamily.Md5]] — the cross-engine family: ONE md5 per value,
  *     split into two 48-bit halves h1/h2 (hex chars 1-12 and 13-24),
  *     then the classic universal-hash construction. md5 is universal
  *     and the arithmetic is exact 64-bit integer math everywhere
  *     (h1 + 63·h2 < 2^55 — no overflow even under ANSI), so a DuckDB
  *     oracle recomputes the ENTIRE MinHash → banding → candidate-join →
  *     verify pipeline value-for-value (CORRECTNESS dd02/dd03/dd10/dd11/
  *     ta04). Cost is ONE md5 + integer ops per value regardless of the
  *     seed count — the naive 64-seeded-md5s-per-shingle variant benched
  *     15× slower than xxhash64 on the dd03 headline.
  *
  * TWO seeded hashes, because sketches consume hashes two ways:
  *
  *   - [[HashFamily.hashPrepared]] — EQUALITY-oriented (band-bucket
  *     keys, fingerprint digests): only collision probability matters,
  *     so the full-width `h1 + seed·h2` (< 2^55) is right.
  *   - [[HashFamily.rankHashPrepared]] — ORDERING-oriented (MinHash
  *     permutation slots, winnowing window minima): the ORDER induced
  *     per seed must be well-mixed and ~independent across seeds.
  *     Un-reduced `h1 + j·h2` fails this badly: for j ≥ 2 the j·h2 term
  *     dominates, so argmin ≈ argmin(h2) for every high seed — the 64
  *     "permutations" collapse to ~3 distinct ones, and LSH candidate
  *     pairs explode (measured 17,689 vs 410 on the sf0.1 corpus).
  *     The fix is the textbook `(h1 + j·h2) mod p` universal family
  *     (p = 2^31−1, Mersenne prime): the wrap re-mixes the order per
  *     seed, and `%` on positive BIGINTs is exact in every engine.
  *
  * Seeds must stay < 64 so the no-overflow bound holds; the operators
  * use ≤ 64 permutations / ≤ 16 bands / seeds {0, 1}.
  *
  * Each family is defined twice, in ONE place: at the Column level (the
  * compositions the Dedup/TextAnalysis/Similarity specs spell out) and
  * at the byte level (the fused kernels in `graft.functions`, one kernel
  * per sketch with the family as a parameter). Byte-level contract:
  *
  *   - `prepare(bytes, off, len, p)` digests
  *     `bytes[off, off + len)` once into the caller-owned scratch `p`
  *     (length ≥ 2, reused across values — nothing is allocated per
  *     value); for a string value the bytes are its UTF-8 encoding.
  *   - `hash(p, seed)`, `rank(p, seed)` and `bits(p)` derive from `p`
  *     and equal, bit for bit, `hashPrepared`, `rankHashPrepared` and
  *     the 64 `bitAt` bits (bit j at position j) of the same value.
  *   - [[foldRanks]] folds `rank(p, j)` for every slot j into running
  *     minima — MinHash's per-value step as ONE call, so a kernel
  *     dispatches on the family once per value, never per (value, seed).
  */
sealed trait HashFamily extends Serializable {

  /** Per-value shared state the seeded hashes derive from (lets one
    * projection pay the digest once for all seeds of a value).
    */
  def prepare(value: Column): Column

  /** Equality-oriented seeded hash from [[prepare]]'s output; LongType.
    * `seed` must be in [0, 64).
    */
  def hashPrepared(prepared: Column, seed: Column): Column

  /** Ordering-oriented seeded hash (see class doc); defaults to the
    * equality hash for families whose order is already well-mixed.
    */
  def rankHashPrepared(prepared: Column, seed: Column): Column =
    hashPrepared(prepared, seed)

  /** Per-value state for [[bitAt]] (64 unbiased hash bits — SimHash's
    * consumption mode: each bit is an independent ±1 vote).
    */
  def bitSource(value: Column): Column

  /** Bit `j` (0/1 LongType, j in [0, 64)) of the value's hash. */
  def bitAt(src: Column, j: Int): Column

  /** Deterministic pseudo-random hyperplane component for (plane `j`,
    * dim `i`) — `Similarity`'s random planes: a seeded hash of the two
    * indices mapped to [-1, 1). No RNG state — pure function, identical
    * on every executor. Md5 maps its 48-bit h1 of `md5(j:i)` to [-1, 1)
    * with exact double arithmetic a DuckDB twin reproduces bit-for-bit
    * (CORRECTNESS dd06 / ann02).
    */
  def planeComponent(j: Int, i: Column): Column

  /** Seeds a kernel may use (the number of permutations or bands), or
    * None when the family has no seed bound.
    */
  def seedBound: Option[Int]

  /** Fail unless `n` seeds (permutations, bands) are within [[seedBound]]. */
  final def requireSeeds(n: Int, what: String): Unit =
    seedBound.foreach(m => require(n <= m, s"$this family supports at most $m $what"))

  // ------------------------------------------------- byte level (kernels)

  /** Digest `bytes[off, off + len)` into `p` (see class doc). */
  def prepare(bytes: Array[Byte], off: Int, len: Int, p: Array[Long]): Unit

  /** [[hashPrepared]] of the value [[prepare]] digested into `p`. */
  def hash(p: Array[Long], seed: Int): Long

  /** [[rankHashPrepared]] of the value [[prepare]] digested into `p`. */
  def rank(p: Array[Long], seed: Int): Long = hash(p, seed)

  /** The 64 [[bitAt]] bits of the value, bit j at position j. */
  def bits(p: Array[Long]): Long

  /** `mins(j) = min(mins(j), rank(p, j))` for every slot j. */
  def foldRanks(p: Array[Long], mins: Array[Long]): Unit

  /** [[planeComponent]] for literal indices. */
  def planeComponent(plane: Int, dim: Int): Double

  final def hash(value: Column, seed: Column): Column =
    hashPrepared(prepare(value), seed)
  final def hash(value: Column, seed: Int): Column = hash(value, lit(seed))
  final def rankHash(value: Column, seed: Int): Column =
    rankHashPrepared(prepare(value), lit(seed))
}

object HashFamily {

  /** Spark-native 64-bit xxhash, seed mixed in as an extra hashed word;
    * every seed is a full independent avalanche, so rank = equality.
    *
    * prepare() hashes the VALUE once (string bytes walked a single
    * time); each seed then avalanches the prepared 64-bit word — one
    * 8-byte xxhash step per seed instead of re-reading the string per
    * seed. Measured on dd03's signature stage at sf0.1: 64 seeded mins
    * over ~5M shingle rows dropped ~2× (BENCH/BASELINE.md round 6).
    * Still the textbook hash-once-derive-many universal family; minhash
    * VALUES differ from the identity-prepare variant (fine — the
    * approximation contract is distributional, and the exact twins ride
    * the Md5 family), recall is floored by PipelineSpec either way.
    *
    * Byte level: p(0) = XXH64(bytes, [[Seed]]) — what `xxhash64(str)`
    * computes — and `hash(p, s)` = `hashInt(s, hashLong(p(0), Seed))`,
    * the `xxhash64(prepared, s)` chain; [[foldRanks]] hoists the
    * seed-independent `hashLong` out of its slot loop.
    */
  case object XxHash64 extends HashFamily {

    /** `functions.xxhash64`'s seed (Spark builds `XxHash64(_, 42)`). */
    val Seed = 42L

    override def prepare(value: Column): Column = xxhash64(value)
    override def hashPrepared(prepared: Column, seed: Column): Column =
      xxhash64(prepared, seed)
    override def bitSource(value: Column): Column = xxhash64(value)
    override def bitAt(src: Column, j: Int): Column =
      shiftright(src, j).bitwiseAND(lit(1L))
    override def planeComponent(j: Int, i: Column): Column =
      xxhash64(lit(j), i).cast("double") / lit(Long.MaxValue.toDouble)
    override def seedBound: Option[Int] = None

    override def prepare(bytes: Array[Byte], off: Int, len: Int, p: Array[Long]): Unit =
      p(0) = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + off, len, Seed)
    override def hash(p: Array[Long], seed: Int): Long =
      XXH64.hashInt(seed, XXH64.hashLong(p(0), Seed))
    override def bits(p: Array[Long]): Long = p(0)
    override def foldRanks(p: Array[Long], mins: Array[Long]): Unit = {
      val base = XXH64.hashLong(p(0), Seed)
      var j = 0
      while (j < mins.length) {
        val v = XXH64.hashInt(j, base)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
    }
    // xxhash64(lit(plane), dim): two INT children fold as
    // hashInt(plane, 42) then hashInt(dim, ·)
    override def planeComponent(plane: Int, dim: Int): Double =
      XXH64.hashInt(dim, XXH64.hashInt(plane, Seed)).toDouble / Long.MaxValue.toDouble
  }

  /** One-md5 double hashing (see class doc): prepare = (h1, h2) struct,
    * equality hash = h1 + seed·h2, rank hash = (h1 + seed·h2) mod
    * (2^31−1). DuckDB-recomputable exactly.
    *
    * This is an ORACLE-SCALE parameterization, not a production
    * substitute: the rank hash maps into only 2^31−1 values (vs
    * xxhash64's full 64-bit range), so per-seed rank collisions among
    * distinct shingles birthday at ~65k distinct shingles per
    * (doc, seed) and would slightly bias MinHash minima at full corpus
    * scale. Production paths keep the [[XxHash64]] default.
    *
    * [[MaxSeed]] guards the no-overflow invariant `h1 + seed·h2 < 2^55`
    * (class doc): literal seeds are checked here at plan-build time;
    * non-literal seeds (lshBands' lambda-bound band index) are bounded
    * by the `require`s at the [[graft.pipeline.Dedup]] entry points.
    *
    * Byte level: h1/h2 straight from the digest bytes — h1 = bytes 0–5
    * big-endian (= `conv(substring(hex, 1, 12), 16, 10)`), h2 = bytes
    * 6–11 — with no hex string and no string→long parse; the 64 vote
    * bits pack as `h1 | (h2 & 0xffff) << 48` (h1 < 2^48, no overlap).
    */
  case object Md5 extends HashFamily {
    val RankModulus = 2147483647L // 2^31 - 1, prime
    val MaxSeed = 63L
    private val PlaneScale = 1.40737488355328e14 // 2^47

    private def boundLiteralSeed(seed: Column): Unit =
      org.apache.spark.sql.graft.ColumnShim.literalValue(seed) match {
      case Some(v: Number) =>
        require(v.longValue >= 0 && v.longValue <= MaxSeed,
          s"Md5 family seed ${v.longValue} outside [0, $MaxSeed] — " +
            "h1 + seed*h2 would overflow the documented 2^55 bound")
      case _ => // non-literal (lambda variable): bounded at the entry point
    }

    override def prepare(value: Column): Column = {
      val d = md5(value)
      struct(
        conv(substring(d, 1, 12), 16, 10).cast("long").as("h1"),
        conv(substring(d, 13, 12), 16, 10).cast("long").as("h2"))
    }
    override def hashPrepared(prepared: Column, seed: Column): Column = {
      boundLiteralSeed(seed)
      prepared.getField("h1") + seed.cast("long") * prepared.getField("h2")
    }
    override def rankHashPrepared(prepared: Column, seed: Column): Column =
      pmod(hashPrepared(prepared, seed), lit(RankModulus))
    // 64 bits = h1's 48 + h2's low 16; bit ops only, so no ANSI overflow
    override def bitSource(value: Column): Column = prepare(value)
    override def bitAt(src: Column, j: Int): Column =
      if (j < 48) shiftright(src.getField("h1"), j).bitwiseAND(lit(1L))
      else shiftright(src.getField("h2"), j - 48).bitwiseAND(lit(1L))
    // h1 of md5("j:i") mapped to [-1, 1) with exact double arithmetic
    override def planeComponent(j: Int, i: Column): Column =
      hash(concat(lit(j.toString), lit(":"), i.cast("string")), 0)
        .cast("double") / lit(PlaneScale) - lit(1.0)
    override def seedBound: Option[Int] = Some((MaxSeed + 1).toInt)

    // one digest + 16-byte output buffer per thread: no per-value allocation
    private final class Digest {
      val md = java.security.MessageDigest.getInstance("MD5")
      val out = new Array[Byte](16)
    }
    private val digest = new ThreadLocal[Digest] {
      override def initialValue(): Digest = new Digest
    }

    private def be48(d: Array[Byte], i: Int): Long =
      ((d(i) & 0xffL) << 40) | ((d(i + 1) & 0xffL) << 32) |
        ((d(i + 2) & 0xffL) << 24) | ((d(i + 3) & 0xffL) << 16) |
        ((d(i + 4) & 0xffL) << 8) | (d(i + 5) & 0xffL)

    override def prepare(bytes: Array[Byte], off: Int, len: Int, p: Array[Long]): Unit = {
      val g = digest.get()
      g.md.update(bytes, off, len)
      g.md.digest(g.out, 0, 16) // also resets the digest
      p(0) = be48(g.out, 0)
      p(1) = be48(g.out, 6)
    }
    override def hash(p: Array[Long], seed: Int): Long = p(0) + seed.toLong * p(1)
    // operands non-negative, so Java `%` equals `pmod`
    override def rank(p: Array[Long], seed: Int): Long = hash(p, seed) % RankModulus
    override def bits(p: Array[Long]): Long = p(0) | ((p(1) & 0xffffL) << 48)
    override def foldRanks(p: Array[Long], mins: Array[Long]): Unit = {
      var acc = p(0)
      var j = 0
      while (j < mins.length) {
        val v = acc % RankModulus
        if (v < mins(j)) mins(j) = v
        acc += p(1)
        j += 1
      }
    }
    override def planeComponent(plane: Int, dim: Int): Double = {
      val b = s"$plane:$dim".getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val p = new Array[Long](2)
      prepare(b, 0, b.length, p)
      hash(p, 0).toDouble / PlaneScale - 1.0
    }
  }
}
