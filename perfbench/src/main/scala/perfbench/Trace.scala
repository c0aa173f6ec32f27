package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark task counters summed over the tasks of one span. */
final class SparkCounters {
  var jobs = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var busyNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var fetchWaitMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; tasks += o.tasks; tasksFailed += o.tasksFailed
    busyNs += o.busyNs; cpuNs += o.cpuNs; gcMs += o.gcMs
    fetchWaitMs += o.fetchWaitMs; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }

  def toJson: String =
    s""""jobs":$jobs,"tasks":$tasks,"tasks_failed":$tasksFailed,""" +
      s""""task_busy_s":${busyNs / 1e9},"task_cpu_s":${cpuNs / 1e9},"gc_s":${gcMs / 1e3},""" +
      s""""shuffle_fetch_wait_s":${fetchWaitMs / 1e3},"shuffle_read_bytes":$shuffleReadBytes,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes"""
}

/** One traced call into the engine: a name, its interval, the span that
  * caused it and the batch it belongs to. Spark work submitted while the
  * span is innermost is attributed to it.
  */
final class Span(val id: Int, val name: String, val parent: Int, val batch: Int, val startNs: Long) {
  var endNs = 0L
  val spark = new SparkCounters
  def durationNs: Long = endNs - startNs
}

/** In-memory span recorder plus a SparkListener that attributes task
  * counters to the span that submitted their job. Spans are recorded from
  * the benchmark's own code around calls into the engine's public
  * functions; nothing is added inside the engine. When `active` is false
  * `span` is a plain call, so untraced batches pay one branch per call.
  */
final class Tracer(sc: SparkContext, listen: Boolean) extends SparkListener {
  private val SpanProperty = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  // job/stage -> span, filled on the listener thread from the job's
  // properties, which Spark captures on the submitting (driver) thread
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

  var active = false
  var batch = -1

  if (listen) sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = new Span(spans.length, name, parent, batch, System.nanoTime())
      spans += s
      byId.put(s.id, s)
      stack = s :: stack
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
    id.flatMap(i => Option(byId.get(i.toInt))).foreach { s =>
      s.spark.synchronized(s.spark.jobs += 1)
      e.stageIds.foreach(st => stageSpan.put(st, s))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    if (s != null) s.spark.synchronized {
      val c = s.spark
      c.tasks += 1
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) c.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        c.busyNs += m.executorRunTime * 1000000L
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (listen) org.apache.spark.perfbench.ListenerDrain.drain(sc)

  /** Span duration minus the part of it covered by its children. Children
    * run on the same driver thread, so they never overlap each other.
    */
  def selfNs(s: Span): Long =
    s.durationNs - spans.iterator.filter(_.parent == s.id).map(_.durationNs).sum

  /** Total duration of the spans named `name` in each traced batch. */
  def perBatchNs(name: String): Map[Int, Long] =
    spans.iterator.filter(_.name == name).toSeq.groupMapReduce(_.batch)(_.durationNs)(_ + _)

  /** Task counters of the spans `keep` selects, summed per traced batch. */
  def perBatchSpark(keep: Span => Boolean): Map[Int, SparkCounters] =
    spans.filter(keep).groupBy(_.batch).map { case (b, ss) =>
      val c = new SparkCounters
      ss.foreach(s => c.add(s.spark))
      b -> c
    }

  /** One JSON object per span: name, interval, parent, batch, self time
    * and the Spark counters attributed to it.
    */
  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"batch":${s.batch},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfNs(s) / 1e9},${s.spark.toJson}}""")
    } finally w.close()
  }
}
