package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counters of every job run under one job group. */
final class GroupCounters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L        // executor run time
  var durationMs = 0L   // launch to finish, including deserialization and result wait
  var bytesRead = 0L
  var recordsRead = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakExecMem = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
}

/** Listener that keys task metrics by the job group their job ran in.
  * It lives in the benchmark, so the engine runs unchanged. */
final class LayerListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, GroupCounters]()

  private def counters(g: String): GroupCounters =
    groups.computeIfAbsent(g, _ => new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      val c = counters(group)
      c.synchronized { c.jobs += 1 }
      e.stageIds.foreach(stageGroup.put(_, group))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val group = stageGroup.get(e.stageId)
    if (group != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      val c = counters(group)
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.durationMs += e.taskInfo.duration
        c.bytesRead += m.inputMetrics.bytesRead
        c.recordsRead += m.inputMetrics.recordsRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Counters of `group` once every event posted so far is delivered. */
  def get(sc: SparkContext, group: String): GroupCounters = {
    org.apache.spark.graftperf.ListenerBus.drain(sc)
    groups.getOrDefault(group, new GroupCounters)
  }
}

/** One traced interval. Spans of one operation share `op`; `parent` is
  * the name of the enclosing span, or empty for an operation's root. */
final case class Span(name: String, op: Int, parent: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span log, written as JSON lines when the run ends. */
final class Tracer(sc: SparkContext, val listener: Option[LayerListener]) {
  private val spans = ArrayBuffer.empty[Span]

  /** Run `body` as span `name` of operation `op` under its own job group. */
  def span[A](name: String, op: Int, parent: String = "")(body: => A): (A, Span) = {
    val group = s"$name#$op"
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val a = body
      val s = Span(name, op, parent, t0, System.nanoTime())
      spans.synchronized { spans += s }
      (a, s)
    } finally sc.clearJobGroup()
  }

  def counters(name: String, op: Int): GroupCounters =
    listener.map(_.get(sc, s"$name#$op")).getOrElse(new GroupCounters)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"name":"${s.name}","op":${s.op},"parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}
