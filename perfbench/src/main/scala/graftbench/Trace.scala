package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.scheduler._

/** One timed call from the benchmark into a layer of graft, with the
  * Spark work launched while it ran. Counts are the span's own jobs;
  * a parent does not include its children's. */
final class Span(val id: Long, val parent: Option[Span], val name: String,
    val thread: Long, val startNs: Long, val startMs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = Long.MaxValue
  var jobs, stages, tasks, shuffleWrite, shuffleRead, spill, scanBytes, scanRecords = 0L
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder for the traced run. Every span sets a Spark local
  * property on its thread, so a job submitted from that thread carries
  * the span id. Jobs submitted from driver threads graft starts itself
  * (pooled futures) may carry a stale id or none; those fall back to the
  * innermost span that was open at the job's submission time, which is
  * exact for the catalog workloads because they run one call at a time.
  * Spans stay in memory and are written out when the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val SpanProp = "graftbench.span"
  private val ids = new AtomicLong
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.LongMap.empty[Span]
  private val current = new ThreadLocal[Option[Span]] {
    override def initialValue(): Option[Span] = None
  }
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  private val unattributedJobs = mutable.ArrayBuffer.empty[Long]

  sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T = {
    val parent = current.get
    val s = new Span(ids.incrementAndGet(), parent, name,
      Thread.currentThread().getId, System.nanoTime(), System.currentTimeMillis())
    synchronized { spans += s; byId(s.id) = s }
    val prevProp = sc.getLocalProperty(SpanProp)
    current.set(Some(s))
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      current.set(parent)
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  private def covers(s: Span, t: Long) = s.startMs <= t && t <= s.endMs

  private def owner(jobStart: SparkListenerJobStart): Option[Span] = synchronized {
    val tagged = Option(jobStart.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .flatMap(_.toLongOption).flatMap(byId.get).filter(covers(_, jobStart.time))
    tagged.orElse(spans.filter(covers(_, jobStart.time)).maxByOption(_.startNs))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = owner(e) match {
    case Some(s) =>
      s.jobs += 1
      e.stageIds.foreach(id => stageSpan(id) = s)
    case None => unattributedJobs += e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageSpan.get(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.tasks += 1
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.scanBytes += m.inputMetrics.bytesRead
      s.scanRecords += m.inputMetrics.recordsRead
    }

  /** Wait for the listener bus, then return every span recorded. */
  def drained(): Seq[Span] = {
    ListenerDrain(sc)
    synchronized(spans.toList)
  }

  /** Jobs submitted at or after `ms` that no span covers. */
  def unattributedSince(ms: Long): Int = { ListenerDrain(sc); unattributedJobs.count(_ >= ms) }

  /** Duration minus the time its children cover; children of one span
    * run on the span's own thread, one after another. */
  def selfMs(s: Span, all: Seq[Span]): Double =
    s.ms - all.filter(_.parent.exists(_ eq s)).map(_.ms).sum

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val all = drained()
    val lines = all.map { s =>
      Json.obj(Seq(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent.map(_.id).getOrElse(0L)),
        "name" -> Json.str(s.name), "thread" -> Json.num(s.thread),
        "start_ms" -> Json.num(s.startMs), "dur_ms" -> Json.num(s.ms),
        "self_ms" -> Json.num(selfMs(s, all)), "jobs" -> Json.num(s.jobs),
        "stages" -> Json.num(s.stages), "tasks" -> Json.num(s.tasks),
        "shuffle_write_bytes" -> Json.num(s.shuffleWrite),
        "shuffle_read_bytes" -> Json.num(s.shuffleRead),
        "spill_bytes" -> Json.num(s.spill), "scan_bytes" -> Json.num(s.scanBytes),
        "scan_records" -> Json.num(s.scanRecords)))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** The few JSON shapes the harness writes. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString
  def num(l: Long): String = l.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
