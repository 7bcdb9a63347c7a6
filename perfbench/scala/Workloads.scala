package perfbench

import graft.analytics.{Api, Lookups, Search}
import graft.crawl.CrawlLoop
import graft.fixtures.SyntheticCorpus
import graft.model.CrawlConfig
import graft.store.SnapshotStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit

/** Workload sizes, from probes at `local[4]`. A crawl round there costs
  * 5-10 s of fixed work (three snapshot write jobs, the Bloom fold,
  * stats, broadcasts, driver planning) before URL volume shows, a
  * compaction adds ~4 s, and a cold JVM needs ~35 s to reach its first
  * warm round. Every run, set-up included, has to stay near a minute.
  */
object Sizing {
  /** The engine's default crawl policy except that it compacts every
    * round, over a corpus where half the hosts are seeds. Round 1 warms
    * the JVM and Spark's code caches and ends with the first compaction,
    * which lays `seen` out in fingerprint-prefix directories. Round 2 is
    * timed: a discovery round (about half its candidates new) that lists
    * those directories when it reads `seen`, then compacts `seen` again
    * and rewrites the FTS postings.
    */
  val CrawlHosts = 1000
  val CrawlSeedHosts = 500
  val CrawlCfg = CrawlConfig(compactEveryRounds = 1)
  val CrawlSetupRounds = 1
  val CrawlTimedRounds = 1

  /** Curation corpus: the query suite's sf0.1 `documents` table as
    * measured on it (perfbench/README.md): 5000 documents of 10-99 words
    * drawn uniformly from a 30-word vocabulary, 5% of them replaced by a
    * copy of another document with " dup" appended.
    */
  val CurateDocs = 5000
  val CurateVocab = Vector("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  val CurateMinWords = 10
  val CurateMaxWords = 99
  val CurateDupPermille = 50
  /** language shares in per mille: en 41%, the other four ~15% each */
  val CurateLangs = Vector("en" -> 412, "zh" -> 151, "es" -> 149, "fr" -> 148, "de" -> 140)
  val CurateSources = 20
  /** Leaf times keep falling over the first batches as the JIT warms, so
    * a batch warms up and a timed unit is a fixed three batches (each
    * leaf reported at its median), not as many as fit the window. */
  val CurateWarmBatches = 1
  val CurateTimedBatches = 3
}

final class Workloads(rec: Rec, o: Main.Opts, cpus: Int)(implicit spark: SparkSession) {
  import spark.implicits._
  import Sizing._

  private val rng = new scala.util.Random(o.seed)
  var heapPeakMb = 0.0
  private var forcedGcS = 0.0
  /** Live heap after a full collection, sampled between timed units. */
  private def sampleHeap(): Unit = {
    val g0 = Main.gcS()
    System.gc()
    forcedGcS += Main.gcS() - g0
    heapPeakMb = math.max(heapPeakMb, java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0)
  }
  private def deadline: Long = rec.values("setup_end_us").asInstanceOf[Long] + (o.seconds * 1e6).toLong

  /** Runs `unit` once, then again while a unit as long as the last one
    * would still end inside the measured window, so the number of units
    * per run is stable for a given speed instead of flipping between two.
    */
  private def repeatUnits(unit: => Unit): Int = {
    var n = 0
    var last = 0L
    while (n == 0 || Clock.us() + last <= deadline) {
      val t0 = Clock.us()
      unit
      last = Clock.us() - t0
      n += 1
    }
    n
  }

  private def mark(phase: String): Unit = {
    rec.values(s"${phase}_us") = Clock.us()
    rec.values(s"${phase}_cpu_s") = Main.procCpuS()
    rec.values(s"${phase}_gc_s") = Main.gcS() - forcedGcS
    val (steal, total) = Main.stealJiffies()
    rec.values(s"${phase}_steal") = steal
    rec.values(s"${phase}_jiffies") = total
    sampleHeap()
  }

  private def timeIt[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  // ------------------------------------------------------------------ crawl

  private final class CrawlEnv(val hosts: Int, seedHosts: Int, val cfg: CrawlConfig) {
    val corpus: DataFrame = SyntheticCorpus.docsDF(spark, hosts.toLong)
      .persist(StorageLevel.MEMORY_AND_DISK)
    corpus.count()
    val robots = SyntheticCorpus.robotsLocal(hosts).toDS()
    val deaths: DataFrame = SyntheticCorpus.hostDeathsLocal(hosts).toDF("host", "dead_from_round")
    /** the seed picks which hosts the crawl starts from; nothing else */
    val seeds: Seq[String] = rng.shuffle((0L until hosts.toLong).toVector)
      .take(seedHosts).sorted.map(SyntheticCorpus.urlOf(_, 0))

    def open(tag: String): (SnapshotStore, CrawlLoop) = {
      val store = new SnapshotStore(o.work.resolve(tag).toString, spark)
      val loop = new CrawlLoop(store, cfg)
      loop.init(seeds, robots)
      (store, loop)
    }
  }

  private final case class RoundRec(snap: Int, startUs: Long, endUs: Long,
      scheduled: Long, deduped: Long, urlsIn: Long, newSeen: Long)

  private def manifestUs(store: SnapshotStore, snap: Int): Long =
    Files.getLastModifiedTime(java.nio.file.Paths.get(store.rootDir, f"_snap-$snap%06d.json"))
      .to(TimeUnit.MICROSECONDS)

  /** Runs up to `rounds` rounds through the public loop. Each round ends
    * when its manifest (rewritten by compaction, if any) lands, so round
    * boundaries come from the committed store, not from inside the loop.
    */
  private def runRounds(env: CrawlEnv, store: SnapshotStore, loop: CrawlLoop,
      rounds: Int, record: Boolean): Unit = {
    val before = store.latestSnapshot.getOrElse(0)
    val t0 = Clock.us()
    val c0 = Main.procCpuS()
    rec.span("crawl.run") { loop.run(env.corpus, env.deaths, rounds) }
    val cpu = Main.procCpuS() - c0
    val after = store.latestSnapshot.get
    val m = store.read("metrics").filter(col("round") > before)
      .groupBy("round").agg(sum("scheduled"), sum("deduped"), sum("urls_in"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val fresh = store.read("seen").filter(col("first_round") > before)
      .groupBy("first_round").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    var prev = t0
    val rs = (before + 1 to after).map { r =>
      val end = math.max(prev, manifestUs(store, r))
      val (s, d, in) = m.getOrElse(r, (0L, 0L, 0L))
      val rr = RoundRec(r, prev, end, s, d, in, fresh.getOrElse(r, 0L))
      prev = end
      rr
    }
    if (record) {
      addUnit(cpu, rs.map(r => r.scheduled + r.deduped).sum)
      rs.foreach { r =>
        rec.op("round", s"r${r.snap}", r.startUs, r.endUs, r.scheduled + r.deduped)
        rec.values("rounds") =
          rec.values.getOrElse("rounds", Vector.empty).asInstanceOf[Vector[Map[String, Any]]] :+
          Map("snap" -> r.snap, "start_us" -> r.startUs, "end_us" -> r.endUs,
            "scheduled" -> r.scheduled, "deduped" -> r.deduped, "urls_in" -> r.urlsIn,
            "new_seen" -> r.newSeen)
      }
    }
    sampleHeap()
  }

  /** Process CPU and work of one timed unit (a crawl chunk, a batch). */
  private def addUnit(cpuS: Double, items: Long): Unit =
    rec.values("units") =
      rec.values.getOrElse("units", Vector.empty).asInstanceOf[Vector[Map[String, Any]]] :+
        Map("cpu_s" -> cpuS, "items" -> items)

  /** Invariants every committed crawl must hold, then digests of the
    * golden outputs: crawl order (seq, url) and the seen set.
    */
  private def verifyCrawl(store: SnapshotStore, tag: String, upTo: Int): (String, String) =
    rec.span("verify") {
      val log = store.read("crawl_log").filter(col("round") <= upTo)
      val allSeen = store.read("seen")
      val l = log.agg(count(lit(1)), min("seq"), max("seq"), countDistinct("seq"),
        Main.digestSum(col("seq"), col("url"))).collect()(0)
      val n = l.getLong(0)
      rec.check(s"$tag.crawl_log_seq_contiguous",
        n > 0 && l.getLong(1) == 1L && l.getLong(2) == n && l.getLong(3) == n,
        s"rows=$n min=${l.get(1)} max=${l.get(2)} distinct=${l.get(3)}")
      val s = allSeen.filter(col("first_round") <= upTo)
        .agg(count(lit(1)), countDistinct("fingerprint"), Main.digestSum(col("fingerprint")))
        .collect()(0)
      rec.check(s"$tag.seen_fingerprints_unique", s.getLong(0) == s.getLong(1),
        s"rows=${s.getLong(0)} distinct=${s.getLong(1)}")
      // crawl order: each round's seq follows the normative order (priority
      // DESC, enqueue_seq ASC, url ASC) of the frontier rows it scheduled,
      // read back from the snapshot the round started from
      (1 to upTo).foreach { r =>
        val order = org.apache.spark.sql.expressions.Window
          .orderBy(col("priority").desc, col("enqueue_seq").asc, col("url").asc)
        val o = log.filter(col("round") === r)
          .join(store.readAt("frontier", r - 1).select("url", "enqueue_seq"), Seq("url"), "left")
          .withColumn("off", col("seq") - row_number().over(order))
          .agg(count(lit(1)), count(col("enqueue_seq")), countDistinct(col("off"))).collect()(0)
        rec.check(s"$tag.crawl_order_r$r", o.getLong(0) == o.getLong(1) && o.getLong(2) <= 1L,
          s"rows=${o.getLong(0)} in frontier=${o.getLong(1)} seq offsets=${o.getLong(2)}")
      }
      val missing = log.select("url").join(allSeen.select("url"), Seq("url"), "left_anti").count()
      rec.check(s"$tag.crawled_urls_in_seen", missing == 0, s"$missing crawled urls not in seen")
      val sched = store.read("metrics").filter(col("round") <= upTo)
        .agg(sum("scheduled")).collect()(0)
      rec.check(s"$tag.metrics_scheduled_eq_log", !sched.isNullAt(0) && sched.getLong(0) == n,
        s"scheduled=${sched.get(0)} log=$n")
      (Main.digestString(n, l.getDecimal(4)), Main.digestString(s.getLong(0), s.getDecimal(2)))
    }

  private def recordCrawlDigests(d: (String, String)): Unit = {
    rec.digests("crawl_log") = d._1
    rec.digests("seen") = d._2
  }

  def crawlDiscover(): Unit = {
    val env = rec.span("setup.corpus") { new CrawlEnv(CrawlHosts, CrawlSeedHosts, CrawlCfg) }
    val (store, loop) = env.open("crawl")
    rec.span("setup.rounds") { runRounds(env, store, loop, CrawlSetupRounds, record = false) }
    mark("setup_end")
    val chunks = repeatUnits {
      rec.span("op.rounds") { runRounds(env, store, loop, CrawlTimedRounds, record = true) }
    }
    mark("timed_end")
    rec.values("unit_count") = chunks
    // the digest covers a fixed prefix of rounds, so it does not depend
    // on how many rounds fit in the measured time
    recordCrawlDigests(verifyCrawl(store, "crawl", CrawlSetupRounds + CrawlTimedRounds))
    if (o.trace) {
      probes(env, store)
      analyticsReads(store, cycles = 2)
    }
  }

  // ------------------------------------------------------------ read mix

  private final case class Read(kind: String, key: String, run: () => Seq[Row],
      valid: Seq[Row] => Boolean)

  /** The user-facing read side of the store, as standalone calls against
    * the crawl's committed snapshot (tracing only): ranked search, domain
    * detail, link neighbors, domains by fact and ad-hoc SQL, issued in
    * cycles with a fixed count per kind and a seeded order and arguments.
    */
  private def analyticsReads(store: SnapshotStore, cycles: Int): Unit = rec.span("reads") {
    Api.registerViews(store, spark)
    def pick[A](xs: IndexedSeq[A]): A = xs(rng.nextInt(xs.size))
    def values(t: String) = store.read(t).select("value").distinct().orderBy("value")
      .as[String].collect().toIndexedSeq
    val hosts = store.read("domains").filter(col("is_up")).select("host").orderBy("host")
      .as[String].collect().toIndexedSeq
    val emails = values("emails")
    val btcs = values("btc_addresses")
    val terms = IndexedSeq("onion", "market", "forum", "mirror", "hidden", "service",
      "index", "directory", "fresh", "links", "secure", "anon", "wiki", "board", "chat",
      "mail", "host", "search", "paste", "drop")
    def read(kind: String): Read = kind match {
      case "search" =>
        val q = Seq.fill(2 + rng.nextInt(2))(pick(terms)).distinct.mkString(" ")
        val page = rng.nextInt(3)
        Read(kind, s"$q#$page",
          () => Search.query(store.read("pages_fts"), q, page = page, pageSize = 10).collect().toSeq,
          rows => rows.size == 10 &&
            rows.map(_.getAs[Int]("rank")) == (page * 10 + 1 to page * 10 + 10))
      case "domain" =>
        val h = pick(hosts)
        Read(kind, h, () => Api.domainJson(store.read("domains"))
          .filter(col("host") === h).collect().toSeq, _.size == 1)
      case "neighbors" =>
        val h = pick(hosts)
        Read(kind, h, () => Lookups.neighbors(store.read("links"), h).collect().toSeq,
          _ => true)
      case "facts" =>
        val (table, v) =
          if (rng.nextBoolean()) ("emails", pick(emails)) else ("btc_addresses", pick(btcs))
        Read(kind, s"$table:$v", () => Lookups.domainsByFact(store.read("domains"),
          store.read(table), v).collect().toSeq, _.nonEmpty)
      case "sql" =>
        val h = pick(hosts)
        val q = if (rng.nextBoolean())
          s"SELECT dst_host, count(*) AS n FROM graft_links WHERE src_host = '$h' " +
            "GROUP BY dst_host ORDER BY n DESC, dst_host LIMIT 10"
        else s"SELECT url, title, status FROM graft_pages WHERE host = '$h' ORDER BY url"
        Read(kind, q, () => Api.sql(spark, q).collect().toSeq, _.nonEmpty)
    }
    val cycle = Vector.fill(4)("search") ++ Vector.fill(2)("domain") ++
      Vector.fill(2)("neighbors") ++ Vector("facts", "sql")
    val memo = scala.collection.mutable.Map[String, String]()
    (0 to cycles).foreach { c =>
      rng.shuffle(cycle).foreach { kind =>
        val r = read(kind)
        val (rows, s) = timeIt(rec.span(s"read.$kind") { r.run() })
        val d = Main.digestRows(rows)
        val k = s"${r.kind}|${r.key}"
        rec.check(s"read.$kind.valid", r.valid(rows), s"$k -> ${rows.size} rows")
        rec.check(s"read.$kind.repeatable", memo.getOrElseUpdate(k, d) == d,
          s"$k -> $d vs ${memo(k)}")
        // cycle 0 warms the read plans
        if (c > 0) rec.call(s"analytics.$kind", s, 1L, rows.size.toLong)
      }
    }
  }

  // ------------------------------------------------------------ curation

  /** Seeded documents with the measured distribution of the query
    * suite's `documents` table (see [[Sizing.CurateDocs]]). Near-duplicates
    * are planted one after another, so a few copy an earlier copy and
    * carry two or three " dup" tokens, and copies of one source are exact
    * duplicates of each other, as in the suite's table.
    */
  private def writeCurationData(dir: Path): Unit = {
    val texts = Array.fill(CurateDocs)(
      Array.fill(CurateMinWords + rng.nextInt(CurateMaxWords - CurateMinWords + 1))(
        CurateVocab(rng.nextInt(CurateVocab.size))).mkString(" "))
    rng.shuffle((0 until CurateDocs).toVector).take(CurateDocs * CurateDupPermille / 1000)
      .foreach { i =>
        val src = (i + 1 + rng.nextInt(CurateDocs - 1)) % CurateDocs
        texts(i) = texts(src) + " dup"
      }
    def lang(): String = {
      var k = rng.nextInt(CurateLangs.map(_._2).sum)
      CurateLangs.find { case (_, w) => k -= w; k < 0 }.get._1
    }
    texts.indices.map(i => (i.toLong, texts(i), lang(), s"src${i % CurateSources}",
        texts(i).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(cpus).write.parquet(dir.resolve("documents.parquet").toString)
  }

  def curateBatch(): Unit = {
    import graft.pipeline.Dedup
    import graft.queries.PipelineQueries
    val dir = o.work.resolve("curation")
    rec.span("setup.data") { writeCurationData(dir) }
    val d = dir.toString
    // the sketch and gram-count kernels; leaves whose time is mostly
    // per-job cost were left out (see perfbench/README.md)
    val entries = Seq("dd03_minhash_lsh_pairs", "dd04_simhash_pairs", "ta09_ngram_counts")
      .map(n => n -> (() => PipelineQueries.all(n)(spark, d)))
    // the production hash family (xxhash64) for the two sketch leaves
    // whose suite entry runs the Md5 oracle family
    val xx = Seq(
      "dd03_minhash_xx64" -> (() => Dedup.minhashNearDups(PipelineQueries.docs(spark, d),
        "doc_id", "text", tau = 0.3)),
      "dd04_simhash_xx64" -> (() => Dedup.simhashNearDups(PipelineQueries.docs(spark, d),
        "doc_id", "text", maxHamming = 8)))
    val leaves = entries ++ xx
    val golden = scala.collection.mutable.LinkedHashMap[String, String]()
    def batch(record: Boolean): Unit = leaves.foreach { case (name, df) =>
      val t0 = Clock.us()
      val dg = rec.span(s"leaf.$name") { Main.digest(df()) }
      val t1 = Clock.us()
      val g = golden.getOrElseUpdate(name, dg)
      rec.check(s"leaf.$name.repeatable", g == dg, s"$dg vs $g")
      if (record) rec.op("leaf", name, t0, t1, CurateDocs.toLong)
    }
    rec.span("setup.warm_batches") { (1 to CurateWarmBatches).foreach(_ => batch(record = false)) }
    golden.foreach { case (k, v) =>
      rec.digests(k) = v
      rec.check(s"leaf.$k.nonempty", !v.startsWith("0:"), "no rows")
    }
    mark("setup_end")
    val units = repeatUnits {
      val c0 = Main.procCpuS()
      rec.span("op.batches") { (1 to CurateTimedBatches).foreach(_ => batch(record = true)) }
      addUnit(Main.procCpuS() - c0, CurateDocs.toLong * leaves.size * CurateTimedBatches)
      sampleHeap()
    }
    mark("timed_end")
    rec.values("unit_count") = units
  }

  // ------------------------------------------------- standalone module calls

  /** Direct calls into each module's public functions against the
    * workload's committed state, after the measured window (tracing only).
    */
  private def probes(env: CrawlEnv, store: SnapshotStore): Unit = rec.span("probes") {
    import graft.dedup.{FastBloom, SeenSet}
    import graft.functions.{UrlExpressions, UrlOps}
    val cfg = env.cfg
    val links = store.read("links").select(col("dst_url").as("url")).persist()
    // the per-row kernel behind the `url_fingerprint` expression, called
    // directly so the figure is the hashing and not Spark's per-job cost
    val urls = links.distinct().as[String].collect()
      .map(org.apache.spark.unsafe.types.UTF8String.fromString)
    def fingerprintAll(): Long = urls.foldLeft(0L)((h, u) => h ^ UrlOps.fingerprint(u).hashCode)
    val fpWarm = fingerprintAll()
    val fpPasses = 20
    val (fpSame, fpS) = timeIt((1 to fpPasses).forall(_ => fingerprintAll() == fpWarm))
    rec.check("url.fingerprint.stable", fpSame, "fingerprints changed between passes")
    rec.check("url.fingerprint.matches_urls", urls.take(200).forall(u =>
      UrlOps.fingerprint(u).toString == graft.url.Urls.fingerprint(u.toString)),
      "UrlOps.fingerprint differs from Urls.fingerprint")
    rec.call("url.fingerprint", fpS, fpPasses.toLong * urls.length, urls.length.toLong)

    val sample = (0L until math.min(env.hosts, 400).toLong).filterNot(SyntheticCorpus.isGhost)
      .flatMap(i => (0 until SyntheticCorpus.pagesPerHost(i))
        .map(p => SyntheticCorpus.docOf(i, p, env.hosts.toLong)))
    graft.extract.SpanExtract.parse(sample.head.doc_id, sample.head.spans)
    val (nOut, parseS) = timeIt((1 to 5).map(_ => sample.map(doc =>
      graft.extract.SpanExtract.parse(doc.doc_id, doc.spans).links.size).sum).sum)
    rec.call("extract.parse", parseS, 5L * sample.size, nOut.toLong)

    val frontier = store.read("crawl_log").select(col("url"), col("host"), col("priority"),
      col("seq").as("enqueue_seq"), lit(cfg.defaultCrawlDelaySec).as("crawl_delay"),
      lit(0).as("pages_crawled")).persist()
    val nFrontier = frontier.count()
    val (nSched, schedS) = timeIt(graft.frontier.Politeness.schedule(frontier, cfg).count())
    rec.call("frontier.schedule", schedS, nFrontier, nSched)

    val cands = links.distinct().select(col("url"),
      UrlExpressions.url_fingerprint(col("url")).as("fingerprint")).persist()
    val nCands = cands.count()
    val seenSet = new SeenSet(cfg, store.rootDir, store.latestSnapshot)
    val (nNew, filterS) = timeIt(seenSet.filterNew(cands, store.read("seen")).count())
    rec.call("dedup.filter_new", filterS, nCands, nNew)

    // the prefix-pruned anti-join: Round takes it after a compaction when
    // a round schedules at most one URL per prefix directory, which the
    // timed round does not, so it runs here over a seeded sample of
    // candidates small enough for that gate, and must drop exactly what
    // the full anti-join drops
    val pruner = store.prefixInfo("seen").map { case (_, len) =>
      SeenSet.Pruner(len, pfx => store.readPrefixPruned("seen", pfx).get)
    }
    val few = cands.orderBy(xxhash64(col("url"), lit(o.seed))).limit(64).persist()
    val nFew = few.count()
    def newUrls(p: Option[SeenSet.Pruner]): Seq[String] =
      seenSet.filterNew(few, store.read("seen"), p).select("url").as[String].collect().toSeq.sorted
    val fullNew = newUrls(None)
    val (prunedNew, prunedS) = timeIt(newUrls(pruner))
    rec.check("dedup.pruned_equals_full", pruner.isDefined && prunedNew == fullNew,
      s"prefix layout=${pruner.isDefined} pruned=${prunedNew.size} full=${fullNew.size}")
    rec.call("dedup.filter_new_pruned", prunedS, nFew, prunedNew.size.toLong)

    val fps = store.read("seen").select("fingerprint").as[String].collect()
    val bloom = FastBloom.create(cfg.bloomExpectedItems, cfg.bloomFpp)
    fps.foreach(bloom.putString)
    val fpSet = fps.toSet
    val absent = (0 until 200000).map(i => graft.url.Urls.fingerprint(
      s"http://absent$i-${o.seed}.onion/")).filterNot(fpSet)
    var hits = 0
    val (_, probeS) = timeIt(absent.foreach(k => if (bloom.mightContainString(k)) hits += 1))
    rec.call("dedup.bloom_probe", probeS, absent.size.toLong, hits.toLong,
      value = hits.toDouble / absent.size)
    rec.values("bloom_fpp_configured") = cfg.bloomFpp

    Api.Tables.foreach { t =>
      val df = store.read(t)
      val dirs = df.inputFiles.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length
      val (n, s) = timeIt(store.read(t).count())
      rec.call(s"store.read.$t", s, dirs.toLong, n)
    }
    Seq(links, frontier, cands, few).foreach(_.unpersist())
  }
}
