package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one span: filled in by [[JobCounter]] from the
  * jobs that ran under the span's job group.
  */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var schedWaitMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var shuffleBytes = 0L
}

/** The benchmark's own listener: maps each job to the span whose job group
  * it ran under, and each finished task to that span's counters. Nothing in
  * the program registers it; it only observes.
  */
final class JobCounter extends SparkListener {
  val bySpan = new ConcurrentHashMap[String, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()

  private def counters(span: String): Counters =
    bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(Tracer.GroupPrefix)).foreach { g =>
      val c = counters(g)
      c.synchronized { c.jobs += 1 }
      e.stageIds.foreach(stageSpan.put(_, c))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = stageSpan.get(e.stageId)
    if (c != null && e.taskInfo != null) c.synchronized {
      c.tasks += 1
      val submitted = stageSubmitted.get(e.stageId)
      if (submitted != null)
        c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - submitted)
      val m = e.taskMetrics
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
}

/** Spans around the benchmark's calls into the program. With tracing off a
  * span is the bare call; with it on, the call runs under its own job group
  * and its interval is kept in memory until [[writeJsonl]] at the end.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private case class Span(id: Long, name: String, parent: Long, op: Long,
      startNs: Long, endNs: Long)

  private val sc = spark.sparkContext
  private val listener = new JobCounter
  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[(Long, String, String)]
  private var nextId = 0L
  /** The timed op the following spans belong to; -1 during set-up. */
  var currentOp = -1L

  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.map(_._1).getOrElse(-1L)
      val group = Tracer.GroupPrefix + id
      sc.setJobGroup(group, name)
      stack = (id, group, name) :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some((_, pgroup, pname)) => sc.setJobGroup(pgroup, pname)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, name, parent, currentOp, t0, t1)
      }
    }

  /** One JSON object per span, counters included. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    BenchBus.drain(sc)
    val lines = spans.map { s =>
      val c = Option(listener.bySpan.get(Tracer.GroupPrefix + s.id))
        .getOrElse(new Counters)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${c.jobs},""" +
        s""""tasks":${c.tasks},"task_cpu_ms":${c.taskCpuNs / 1e6},""" +
        s""""sched_wait_ms":${c.schedWaitMs},"input_bytes":${c.inputBytes},""" +
        s""""input_records":${c.inputRecords},"output_bytes":${c.outputBytes},""" +
        s""""shuffle_bytes":${c.shuffleBytes}}"""
    }
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
}
