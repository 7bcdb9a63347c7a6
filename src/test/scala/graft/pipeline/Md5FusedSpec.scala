package graft.pipeline

import graft.SparkTestSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused sketch kernels under the Md5 family (MinHashSigs /
  * LshBandHashes / SimHash64 / WinnowFp parameterized by
  * `HashFamily.Md5`) and the family-shared WindowHashes kernel must
  * reproduce their Catalyst compositions EXACTLY — the compositions stay
  * in Dedup/TextAnalysis as executable specs
  * (`minhashSignaturesComposed`, `lshBandsComposed`, `simhashComposed`,
  * `windowHashesComposed`, `winnowingFingerprintComposed`), and the
  * dd02/dd03/dd04/dd10/dd11/dd12/dd13/ta04 DuckDB oracles pin the values
  * cross-engine. Same adversarial alphabet as FastShinglesSpec (ASCII
  * gate + non-ASCII fallback + case flips + empty/short docs).
  *
  * Every test runs twice: as configured, then again with codegen
  * fallback off (`spark.sql.codegen.factoryMode=CODEGEN_ONLY` and
  * `spark.sql.codegen.fallback=false`) and `ConvertToLocalRelation`
  * excluded (it would fold projections over the local test inputs at
  * plan time, interpreted), so a broken `doGenCode` (e.g. the
  * family's generated-code reference) fails instead of silently falling
  * back to interpreted eval.
  */
class Md5FusedSpec extends AnyFunSuite {

  implicit val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    super.withFixture(test) match {
      case org.scalatest.Succeeded =>
        val confs = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
          "spark.sql.codegen.fallback" -> "false",
          "spark.sql.optimizer.excludedRules" ->
            org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation.ruleName)
        val prev = confs.map { case (k, v) =>
          val p = spark.conf.getOption(k)
          spark.conf.set(k, v)
          k -> p
        }
        try super.withFixture(test)
        finally prev.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
      case other => other
    }

  private def adversarial(seed: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val alphabet = "ab AB_12 .,;|-éK🙂\n\t% "
    val random = (0 until 1500).map(_ =>
      (0 until rnd.nextInt(60)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val edges = Seq("", " ", "...", "one", "one two", "one two three",
      "a a a a a", "x_1 x_1 x_1 y", "é K upper TEST lower",
      "AAA bbb AAA bbb AAA", "0 1 2 3 4 5 6 7 8 9", "İstanbul K-9",
      ("tok " * 120).trim)
    random ++ edges
  }

  private def docsOf(cases: Seq[String]) =
    cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("fused Md5 MinHash signatures equal the exploded-mins composition") {
    val df = docsOf(adversarial(17))
    val got = Dedup.minhashSignatures(df, "doc_id", "text", family = HashFamily.Md5)
      .as[(Long, Seq[Long])].collect().toMap
    val want = Dedup.minhashSignaturesComposed(df, "doc_id", "text",
        shingleK = 3, numHashes = 64, family = HashFamily.Md5)
      .as[(Long, Seq[Long])].collect().toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (id, sig) => assert(sig == want(id), s"doc_id=$id") }
  }

  test("fused Md5 LSH band hashes equal the per-band composition") {
    val df = docsOf(adversarial(19))
    val sigs = Dedup.minhashSignatures(df, "doc_id", "text", family = HashFamily.Md5)
      .localCheckpoint()
    val got = Dedup.lshBands(sigs, "doc_id", 16, 4, HashFamily.Md5)
      .as[(Long, Int, Long)].collect().sorted.toSeq
    val want = Dedup.lshBandsComposed(sigs, "doc_id", 16, 4, HashFamily.Md5)
      .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(got == want)
  }

  test("fused Md5 SimHash64 equals the exploded-votes composition (row set included)") {
    val df = docsOf(adversarial(23))
    val got = Dedup.simhash(df, "doc_id", "text", HashFamily.Md5)
      .as[(Long, Long)].collect().toMap
    val want = Dedup.simhashComposed(df, "doc_id", "text", HashFamily.Md5)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == want.keySet,
      s"row sets differ: only-fused=${(got.keySet -- want.keySet).take(5)} " +
        s"only-composed=${(want.keySet -- got.keySet).take(5)}")
    got.foreach { case (id, h) => assert(h == want(id), s"doc_id=$id") }
  }

  test("fused window hashes equal the composition under BOTH families") {
    val df = docsOf(adversarial(29))
    val toks = df.select(col("doc_id").as("did"), Dedup.tokenSeq(col("text")).as("tk"))
      .localCheckpoint()
    for (family <- Seq[HashFamily](HashFamily.XxHash64, HashFamily.Md5);
         k <- Seq(1, 3, 8)) {
      val got = Dedup.windowHashes(toks, k, family)
        .as[(Long, Int, Long)].collect().sorted.toSeq
      val want = Dedup.windowHashesComposed(toks, k, family)
        .as[(Long, Int, Long)].collect().sorted.toSeq
      assert(got == want, s"family=$family k=$k")
    }
  }

  test("fused Md5 winnowing fingerprint equals the window-minima composition") {
    val df = docsOf(adversarial(71))
    for (w <- Seq(1, 4, 9)) {
      val got = TextAnalysis.winnowingFingerprint(df, "doc_id", "text",
          window = w, family = HashFamily.Md5)
        .as[(Long, Seq[Long], Long)].collect().toMap2
      val want = TextAnalysis.winnowingFingerprintComposed(df, "doc_id", "text",
          window = w, family = HashFamily.Md5)
        .as[(Long, Seq[Long], Long)].collect().toMap2
      assert(got.keySet == want.keySet, s"w=$w")
      got.foreach { case (id, v) => assert(v == want(id), s"w=$w doc_id=$id") }
    }
  }

  private implicit class Tup3Map(rows: Array[(Long, Seq[Long], Long)]) {
    def toMap2: Map[Long, (Seq[Long], Long)] =
      rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }

  test("fused Md5 kernels equal the compositions on every fixture document text") {
    import graft.fixtures.SyntheticCorpus
    val texts = SyntheticCorpus.docsLocal(40).map(d =>
      d.spans.filter(s => s.kind == "text" && s.text != null).map(_.text).mkString("\n"))
    val df = docsOf(texts)
    val gotSig = Dedup.minhashSignatures(df, "doc_id", "text", family = HashFamily.Md5)
      .as[(Long, Seq[Long])].collect().toMap
    val wantSig = Dedup.minhashSignaturesComposed(df, "doc_id", "text",
        shingleK = 3, numHashes = 64, family = HashFamily.Md5)
      .as[(Long, Seq[Long])].collect().toMap
    assert(gotSig == wantSig)
    val gotSim = Dedup.simhash(df, "doc_id", "text", HashFamily.Md5)
      .as[(Long, Long)].collect().toMap
    val wantSim = Dedup.simhashComposed(df, "doc_id", "text", HashFamily.Md5)
      .as[(Long, Long)].collect().toMap
    assert(gotSim == wantSim)
  }

  test("kernel argument checks keep each family's bounds") {
    import graft.functions.{LshBandHashes, MinHashSigs, WinnowFp}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val text = Literal("a b c")
    val sig = Literal.create(Seq(1L, 2L), ArrayType(LongType, containsNull = false))
    def ok(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e.checkInputDataTypes().isSuccess
    val (xx, m) = (HashFamily.XxHash64, HashFamily.Md5)
    // minhash: Md5 at most 64 hashes (the 2^55 seed bound), xx64 at most 1024
    assert(ok(MinHashSigs(text, 3, 64, m)) && !ok(MinHashSigs(text, 3, 65, m)))
    assert(ok(MinHashSigs(text, 3, 1024, xx)) && !ok(MinHashSigs(text, 3, 1025, xx)))
    for (f <- Seq(xx, m)) {
      assert(!ok(MinHashSigs(text, 3, 0, f)) && !ok(MinHashSigs(text, 0, 8, f)))
    }
    // bands: Md5 at most 64, xx64 unbounded
    assert(ok(LshBandHashes(sig, 64, 1, m)) && !ok(LshBandHashes(sig, 65, 1, m)))
    assert(ok(LshBandHashes(sig, 100000, 1, xx)))
    for (f <- Seq(xx, m)) {
      assert(!ok(LshBandHashes(sig, 0, 1, f)) && !ok(LshBandHashes(sig, 4, 0, f)))
      assert(!ok(LshBandHashes(text, 4, 1, f)))
    }
    // winnow: window >= 1 for both
    for (f <- Seq(xx, m)) {
      assert(ok(WinnowFp(text, 1, f)) && !ok(WinnowFp(text, 0, f)))
    }
    assert(MinHashSigs(text, 3, 65, m).checkInputDataTypes().toString
      .contains("md5_minhash_sigs requires numHashes in [1, 64] (the 2^55 no-overflow seed bound)"))
  }
}
