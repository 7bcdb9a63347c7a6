package graft.functions

import graft.SparkTestSession
import graft.pipeline.HashFamily.XxHash64
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

/** `GraftExtensions` must inject working SQL builders for every graft
  * function. (A fully fresh session per extension isn't possible in the
  * shared-JVM suite — `getOrCreate` returns the active session — so the
  * injection path is exercised by applying the extension object and
  * registering into the live registry, exactly what session construction
  * does with `spark.sql.extensions`.)
  */
class ExtensionsSpec extends AnyFunSuite {

  implicit val spark: SparkSession = SparkTestSession.spark

  test("GraftExtensions injects all fourteen functions; SQL evaluates them under CODEGEN_ONLY") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftExtTestBridge.register(
      ext, spark.sessionState.functionRegistry)

    // CODEGEN_ONLY: a doGenCode bug would otherwise silently fall back
    // to interpreted eval and never fail a test
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val r = try spark.sql(
      """SELECT
        |  canonicalize_url('HTTP://ABC.onion/a/../b?z=1&a=2#f') AS canon,
        |  url_host('http://x.onion/p') AS host,
        |  url_path('http://x.onion/p?q=1') AS path,
        |  length(url_fingerprint('http://x.onion/')) AS fplen,
        |  fnv1a64('http://x.onion/') AS fnv,
        |  fast_terms('The THE cat c') AS terms,
        |  fast_tokens('The THE cat c') AS toks,
        |  fast_shingles('one Two three', 2) AS sh,
        |  simhash64('one Two three') AS sim,
        |  simhash64('.,;') AS sim_none,
        |  minhash_sigs('one Two three', 2, 4) AS mh,
        |  lsh_band_hashes(array(1L, -2L, 3L, 4L), 2, 2) AS bh,
        |  winnow_fp('one Two one Three', 2) AS wf,
        |  sorted_shingle_set('c b a c b', 2) AS sss,
        |  sorted_intersect_count(array('a', 'b', 'd'), array('b', 'c', 'd')) AS sic
        |FROM (SELECT 1)
        |""".stripMargin).collect()(0)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None    => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(r.getString(0) == "http://abc.onion/b?a=2&z=1")
    assert(r.getString(1) == "x.onion")
    assert(r.getString(2) == "/p")
    assert(r.getInt(3) == 40)
    assert(r.getLong(4) == graft.url.Hashing.fnv1a64("http://x.onion/"))
    assert(r.getSeq[String](5) == Seq("the", "cat"))
    assert(r.getSeq[String](6) == Seq("the", "the", "cat", "c"))
    assert(r.getSeq[String](7) == Seq("one two", "two three"))
    assert(r.getLong(8) == SimHashOps.simhash64(
      org.apache.spark.unsafe.types.UTF8String.fromString("one Two three"), XxHash64)
      .longValue())
    assert(r.isNullAt(9)) // no tokens → null, mirroring the explode-drop
    assert(r.getSeq[Long](10) == MinHashOps.minhashSigs(
      org.apache.spark.unsafe.types.UTF8String.fromString("one Two three"), 2, 4, XxHash64)
      .toLongArray().toSeq)
    assert(r.getSeq[Long](11) == MinHashOps.lshBandHashes(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](1L, -2L, 3L, 4L)), 2, 2, XxHash64).toLongArray().toSeq)
    val wf = WinnowOps.winnowFp(
      org.apache.spark.unsafe.types.UTF8String.fromString("one Two one Three"), 2, XxHash64)
    val wfRow = r.getStruct(12)
    assert(wfRow.getSeq[Long](0) == wf.getArray(0).toLongArray().toSeq)
    assert(wfRow.getLong(1) == wf.getLong(1))
    assert(r.getSeq[String](13) == Seq("a c", "b a", "c b"))
    assert(r.getLong(14) == 2L)

    // non-literal k must be an analysis-time error, not a wrong answer
    val err = intercept[Exception] {
      spark.sql("SELECT fast_shingles('a b c', v) FROM (SELECT 2 AS v)").collect()
    }
    assert(err.getMessage.contains("literal INT"), err.getMessage)
  }

  test("the lazy registration path exposes exactly the extension's function names") {
    def graftNames(reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry) =
      reg.listFunction().map(_.funcName).toSet --
        org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
          .listFunction().map(_.funcName)

    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val extReg = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone()
    org.apache.spark.sql.GraftExtTestBridge.register(ext, extReg)

    // a Column-API helper registers lazily into the ACTIVE session
    val fresh = spark.newSession()
    assert(graftNames(fresh.sessionState.functionRegistry).isEmpty)
    SparkSession.setActiveSession(fresh)
    try UrlExpressions.url_host(org.apache.spark.sql.functions.lit("http://x.onion/"))
    finally SparkSession.setActiveSession(spark)

    assert(graftNames(fresh.sessionState.functionRegistry) == graftNames(extReg))
    assert(graftNames(extReg).size == 14)
  }
}
