package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Wall clock shared by the harness's spans and Spark's listener events:
  * epoch microseconds, monotonic within the process.
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def us(): Long = baseUs + (System.nanoTime() - baseNano) / 1000L
}

/** Everything one run records, kept in memory and rendered once at the
  * end. Ops are the timed unit of each workload (a crawl round, a read,
  * a curation leaf) and are recorded with tracing on or off; spans and
  * Spark job records only with tracing on.
  */
final class Rec(val tracing: Boolean) {
  final case class Op(kind: String, name: String, startUs: Long, endUs: Long, items: Long)
  final case class SpanRec(id: Int, name: String, parent: Int, startUs: Long, endUs: Long)
  final case class Call(name: String, seconds: Double, rowsIn: Long, rowsOut: Long,
      value: Double)

  val ops = ArrayBuffer[Op]()
  val calls = ArrayBuffer[Call]()
  val values = scala.collection.mutable.LinkedHashMap[String, Any]()
  val digests = scala.collection.mutable.LinkedHashMap[String, String]()
  val checks = ArrayBuffer[(String, Boolean, String)]()
  private val spans = ArrayBuffer[SpanRec]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def op(kind: String, name: String, startUs: Long, endUs: Long, items: Long): Unit =
    synchronized { ops += Op(kind, name, startUs, endUs, items) }

  /** Times `f` as a span under the calling thread's current span. */
  def span[A](name: String)(f: => A): A =
    if (!tracing) f
    else {
      val parent = stack.get.headOption.getOrElse(-1)
      val id = synchronized { nextSpan += 1; nextSpan }
      stack.set(id :: stack.get)
      val t0 = Clock.us()
      try f
      finally {
        val t1 = Clock.us()
        stack.set(stack.get.tail)
        synchronized { spans += SpanRec(id, name, parent, t0, t1) }
      }
    }
  private var nextSpan = 0

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    synchronized { checks += ((name, ok, if (ok) "" else detail)) }

  def call(name: String, seconds: Double, rowsIn: Long, rowsOut: Long,
      value: Double = Double.NaN): Unit =
    synchronized { calls += Call(name, seconds, rowsIn, rowsOut, value) }

  // ---- Spark job and stage records (tracing only)

  final class Job(val id: Int, val startUs: Long, val site: String, val stack: String) {
    var endUs: Long = -1L
  }
  final case class StageStats(stageId: Int, tasks: Int, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleReadB: Long, shuffleWriteB: Long, spillB: Long,
      inputB: Long, outputB: Long)
  private val jobs = ArrayBuffer[Job]()
  private val stageJob = scala.collection.mutable.Map[Int, Int]()
  private val stages = ArrayBuffer[(Int, StageStats)]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Rec.this.synchronized {
      val last = e.stageInfos.maxBy(_.stageId)
      val p = e.properties
      val site = Option(p).flatMap(q => Option(q.getProperty("callSite.short")))
        .getOrElse(last.name)
      jobs += new Job(e.jobId, e.time * 1000L, site, last.details)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Rec.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endUs = e.time * 1000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Rec.this.synchronized {
        val si = e.stageInfo
        val m = si.taskMetrics
        if (m != null) stages += (stageJob.getOrElse(si.stageId, -1) -> StageStats(
          si.stageId, si.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten))
      }
  }

  // ---- rendering

  def render(): String = synchronized {
    import Json._
    val jobStats = stages.groupBy(_._1).map { case (j, ss) => j -> ss.map(_._2) }
    obj(
      "ops" -> arr(ops.map(o => obj("kind" -> str(o.kind), "name" -> str(o.name),
        "start_us" -> num(o.startUs), "end_us" -> num(o.endUs), "items" -> num(o.items)))),
      "values" -> obj(values.toSeq.map { case (k, v) => k -> any(v) }: _*),
      "digests" -> obj(digests.toSeq.map { case (k, v) => k -> str(v) }: _*),
      "checks" -> arr(checks.map { case (n, ok, d) =>
        obj("name" -> str(n), "ok" -> bool(ok), "detail" -> str(d)) }),
      "calls" -> arr(calls.map(c => obj("name" -> str(c.name), "seconds" -> num(c.seconds),
        "rows_in" -> num(c.rowsIn), "rows_out" -> num(c.rowsOut),
        "value" -> (if (c.value.isNaN) "null" else num(c.value))))),
      "spans" -> arr(spans.map(s => obj("id" -> num(s.id), "name" -> str(s.name),
        "parent" -> num(s.parent), "start_us" -> num(s.startUs), "end_us" -> num(s.endUs)))),
      "jobs" -> arr(jobs.map { j =>
        val ss = jobStats.getOrElse(j.id, Seq.empty)
        obj("id" -> num(j.id), "start_us" -> num(j.startUs), "end_us" -> num(j.endUs),
          "site" -> str(j.site), "stack" -> str(j.stack.take(4000)),
          "tasks" -> num(ss.map(_.tasks).sum),
          "run_ms" -> num(ss.map(_.runMs).sum), "cpu_ns" -> num(ss.map(_.cpuNs).sum),
          "gc_ms" -> num(ss.map(_.gcMs).sum),
          "shuffle_read_b" -> num(ss.map(_.shuffleReadB).sum),
          "shuffle_write_b" -> num(ss.map(_.shuffleWriteB).sum),
          "spill_b" -> num(ss.map(_.spillB).sum),
          "input_b" -> num(ss.map(_.inputB).sum),
          "output_b" -> num(ss.map(_.outputB).sum))
      }))
  }
}

/** Minimal JSON rendering for the run record (no dependency beyond the
  * Scala library).
  */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    (if (s == null) "" else s).foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(x: Long): String = x.toString
  def num(x: Int): String = x.toString
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
  def bool(b: Boolean): String = b.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def any(v: Any): String = v match {
    case s: String  => str(s)
    case i: Int     => num(i)
    case l: Long    => num(l)
    case d: Double  => num(d)
    case b: Boolean => bool(b)
    case xs: Seq[_] => arr(xs.map(any))
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> any(x) }: _*)
    case null => "null"
    case other => str(other.toString)
  }
}
