package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed region. Times are epoch milliseconds (fractional). */
final case class Span(id: Long, var trace: Long, var parent: Long, name: String,
                      var start: Double, var end: Double = Double.NaN)

/** Task-level totals of the jobs attributed to one span. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var failedTasks = 0L
  var taskMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L

  def add(o: Work): Work = {
    jobs += o.jobs; stages += o.stages; failedTasks += o.failedTasks
    taskMs += o.taskMs; cpuMs += o.cpuMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    this
  }
}

/** In-memory span recorder. Spark jobs attach to the span that is open
  * on the submitting thread through a job-local property, which a
  * [[JobListener]] reads back. Spans are written out once, at the end. */
final class Tracer(sc: SparkContext) {
  import Tracer.Prop
  private val ids = new AtomicLong(0)
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  val listener = new JobListener
  sc.addSparkListener(listener)

  def open(name: String, parent: Option[Span], start: Double = Tracer.wallMs): Span = synchronized {
    val id = ids.incrementAndGet()
    val s = Span(id, parent.map(_.trace).getOrElse(id), parent.map(_.id).getOrElse(0L), name, start)
    spans += s
    s
  }

  /** Run `body` inside a new span; Spark jobs it submits attach to it. */
  def span[T](name: String, parent: Option[Span])(body: => T): T = within(open(name, parent))(body)

  /** Run `body` inside the open span `s`, then close it. */
  def within[T](s: Span)(body: => T): T = {
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally { s.end = Tracer.wallMs; sc.setLocalProperty(Prop, prev) }
  }

  /** Work attributed to the spans matching `p`. */
  def work(p: Span => Boolean): Work = {
    listener.drain()
    spans.filter(p).foldLeft(new Work)((w, s) => w.add(listener.of(s.id)))
  }

  /** A span's self time: its length minus the union its children cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0.0
    var (lo, hi) = (Double.NaN, Double.NaN)
    kids.foreach { case (a, b) =>
      if (hi.isNaN || a > hi) { if (!hi.isNaN) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (!hi.isNaN) covered += hi - lo
    (s.end - s.start) - covered
  }

  def write(file: Path): Unit = {
    listener.drain()
    val lines = spans.map { s =>
      val w = listener.of(s.id)
      f"""{"trace":${s.trace},"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"self_ms":${selfMs(s)}%.3f,""" +
        f""""jobs":${w.jobs},"stages":${w.stages},"task_ms":${w.taskMs}%.1f}"""
    }
    Files.createDirectories(file.getParent)
    Files.write(file, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object Tracer {
  val Prop = "perfbench.span"
  /** Maps System.nanoTime onto the wall clock, so spans line up with
    * StreamingQueryProgress timestamps. */
  val nanoOffsetMs: Double = System.nanoTime() / 1e6 - System.currentTimeMillis()
  def wallMs: Double = System.nanoTime() / 1e6 - nanoOffsetMs
}

/** Public SparkListener: sums task metrics per span. */
final class JobListener extends SparkListener {
  private val spanOfJob = new ConcurrentHashMap[Int, Long]()
  private val spanOfStage = new ConcurrentHashMap[Int, Long]()
  private val jobOfStage = new ConcurrentHashMap[Int, Int]()
  private val bySpan = new ConcurrentHashMap[Long, Work]()
  private val byJob = new ConcurrentHashMap[Int, Work]()
  private val open = new AtomicLong(0)

  def of(span: Long): Work = Option(bySpan.get(span)).getOrElse(new Work)

  /** The jobs attributed to `span`, in submission order, with their work. */
  def jobsOf(span: Long): Seq[(Int, Work)] =
    spanOfJob.asScala.collect { case (j, s) if s == span => j -> byJob.getOrDefault(j, new Work) }
      .toSeq.sortBy(_._1)
  private def w(span: Long) = bySpan.computeIfAbsent(span, _ => new Work)

  /** Wait (bounded) until every started job's end event has arrived. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (open.get() > 0 && System.nanoTime() < deadline) Thread.sleep(20)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toLong).getOrElse(0L)
    spanOfJob.put(e.jobId, span)
    e.stageIds.foreach { s => spanOfStage.put(s, span); jobOfStage.putIfAbsent(s, e.jobId) }
    open.incrementAndGet()
    w(span).synchronized { w(span).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = open.decrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val span = spanOfStage.getOrDefault(e.stageInfo.stageId, 0L)
    w(span).synchronized { w(span).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = spanOfStage.getOrDefault(e.stageId, 0L)
    Option(jobOfStage.get(e.stageId)).foreach(j => add(byJob.computeIfAbsent(j, _ => new Work), e))
    add(w(span), e)
  }

  private def add(acc: Work, e: SparkListenerTaskEnd): Unit =
    acc.synchronized {
      if (e.reason != Success) acc.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        acc.taskMs += m.executorRunTime
        acc.cpuMs += m.executorCpuTime / 1e6
        acc.gcMs += m.jvmGCTime
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
}

/** Public StreamingQueryListener: keeps every progress report. */
final class ProgressListener(spark: SparkSession) extends StreamingQueryListener {
  val progress: mutable.ArrayBuffer[StreamingQueryProgress] = mutable.ArrayBuffer()
  spark.streams.addListener(this)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def close(): Unit = spark.streams.removeListener(this)
  def all: Seq[StreamingQueryProgress] = synchronized(progress.toSeq)
}

object Progress {
  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
}
