package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Measurement harness: runs ONE workload against the graft library at
  * `local[nproc]` and writes the run record (ops, values, digests,
  * checks, and with tracing on: spans, Spark job records and standalone
  * per-module calls) as one JSON file. `run.py` turns that record into
  * metrics; nothing here decides what a metric means.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <file>
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")), Paths.get(m("out")))
  }

  def procCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** (steal, total) CPU jiffies of the whole machine, from /proc/stat:
    * time this machine's CPUs were runnable but given to other tenants.
    */
  def stealJiffies(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val cpu = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
      (if (cpu.length > 7) cpu(7) else 0L, cpu.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Order-independent digest of a table: row count plus the sum of
    * per-row xxhash64 values (exact decimal, so no overflow and no
    * dependence on partitioning or row order).
    */
  def digest(df: DataFrame): String = {
    val r = df.select(count(lit(1)), digestSum(df.columns.map(col): _*)).collect()(0)
    digestString(r.getLong(0), r.getDecimal(1))
  }
  def digestSum(cols: Column*): Column = sum(xxhash64(cols: _*).cast("decimal(38,0)"))
  def digestString(rows: Long, sum: java.math.BigDecimal): String =
    s"$rows:${Option(sum).map(_.toPlainString).getOrElse("0")}"

  /** Digest of collected rows, independent of their order. */
  def digestRows(rows: Seq[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    s"${rows.size}:" + md.digest().map(b => f"${b & 0xff}%02x").mkString.take(16)
  }

  def deleteRec(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(o.work)
    implicit val spark: SparkSession = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.maxPlanStringLength", "8192")
      .config("spark.sql.ui.explainMode", "simple")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Rec(o.trace)
    if (o.trace) spark.sparkContext.addSparkListener(rec.listener)
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    rec.values("process_start_us") = jvmStartUs
    rec.values("cpus") = cpus
    rec.values("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    rec.values("spark_version") = spark.version
    val w = new Workloads(rec, o, cpus)
    try {
      o.workload match {
        case "crawl_discover" => w.crawlDiscover()
        case "curate_batch"   => w.curateBatch()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      rec.values("heap_peak_mb") = w.heapPeakMb
    } catch {
      case e: Throwable =>
        rec.check("workload_completed", ok = false,
          e.toString + "\n" + e.getStackTrace.take(12).mkString("\n"))
    }
    // flush the listener bus so every job end and stage record lands
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Files.writeString(o.out, rec.render())
    spark.stop()
  }
}
