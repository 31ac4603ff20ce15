package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A traced interval: name, start, end (nanoTime) and the span open when it
  * began (0 = none).
  */
final case class Span(id: Int, name: String, parent: Int, start: Long,
    var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work attributed to one span. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; outputBytes += o.outputBytes
    spillBytes += o.spillBytes
  }
}

/** Attributes jobs and task metrics to the span id carried in the
  * submitting thread's local properties. It only observes events, so it
  * launches no Spark job of its own.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val work = new ConcurrentHashMap[Int, Work]()

  private def of(span: Int): Work = work.computeIfAbsent(span, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .map(_.toInt).getOrElse(0)
    e.stageIds.foreach(stageSpan.put(_, span))
    of(span).synchronized { of(span).jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = of(stageSpan.getOrDefault(e.stageId, 0))
    val m = e.taskMetrics
    w.synchronized {
      w.tasks += 1
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.outputBytes += m.outputMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def workOf(span: Int): Work = of(span)
}

/** Micro-batch progress of every streaming query on the session. */
final class StreamListener extends StreamingQueryListener {
  val batchMs = mutable.ArrayBuffer.empty[Long]
  var stateRowsMax = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      batchMs += e.progress.batchDuration
      val rows = e.progress.stateOperators.map(_.numRowsTotal).sum
      if (rows > stateRowsMax) stateRowsMax = rows
    }

  def reset(): Unit = synchronized { batchMs.clear(); stateRowsMax = 0L }
}

/** Spans kept in memory while a traced run executes, plus the session's
  * listeners. Obtain one through [[Trace.setup]].
  */
final class Tracer private[perfbench] (sc: SparkContext,
    val listener: SpanListener, val streams: StreamListener) {
  private val all = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var lastId = 0

  def span[T](name: String)(body: => T): T = {
    lastId += 1
    val s = Span(lastId, name, open.headOption.map(_.id).getOrElse(0),
      System.nanoTime())
    all += s
    open = s :: open
    sc.setLocalProperty(Trace.SpanKey, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Trace.SpanKey,
        open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Forget earlier spans so one session can record several runs. */
  def reset(): Unit = { drain(); all.clear(); streams.reset() }

  def drain(): Unit = PerfbenchBus.drain(sc)

  def named(name: String): Seq[Span] = all.filter(_.name == name).toSeq

  /** Span duration minus the part its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - all.filter(_.parent == s.id).map(_.seconds).sum

  /** Work of a span and all its descendants. */
  def work(s: Span): Work = {
    drain()
    val w = new Work
    def visit(id: Int): Unit = {
      w.add(listener.workOf(id))
      all.filter(_.parent == id).foreach(c => visit(c.id))
    }
    visit(s.id)
    w
  }

  /** Spans as JSON lines (name, start, end, parent), relative to the first. */
  def json: Seq[String] = {
    val t0 = all.headOption.map(_.start).getOrElse(0L)
    all.toSeq.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_s":${(s.start - t0) / 1e9}%.6f,"end_s":${(s.end - t0) / 1e9}%.6f}"""
    }
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  private val installed =
    new java.util.WeakHashMap[SparkSession, Tracer]()

  /** Install the span and streaming listeners on `session` once; later
    * calls return the same tracer.
    */
  def setup(session: SparkSession): Tracer = installed.synchronized {
    Option(installed.get(session)).getOrElse {
      val sc = session.sparkContext
      val t = new Tracer(sc, new SpanListener, new StreamListener)
      sc.addSparkListener(t.listener)
      session.streams.addListener(t.streams)
      installed.put(session, t)
      t
    }
  }
}
