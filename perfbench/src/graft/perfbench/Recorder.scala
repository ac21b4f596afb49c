package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.graftshim.shim

/** Always-on op listener: keeps only maxima and per-stage sums of
  * successful task attempts, so it is cheap enough to stay attached while
  * ops are timed. Read it after [[OpListener.drain]].
  */
final class OpListener extends SparkListener {
  private var peakTaskMem = 0L
  // stageId -> (shuffle-read records summed over tasks, worst task's records)
  private val stageReads = mutable.Map[Int, (Long, Long)]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason == Success && e.taskMetrics != null) {
      val m = e.taskMetrics
      peakTaskMem = math.max(peakTaskMem, m.peakExecutionMemory)
      val recs = m.shuffleReadMetrics.recordsRead
      val (sum, worst) = stageReads.getOrElse(e.stageId, (0L, 0L))
      stageReads(e.stageId) = (sum + recs, math.max(worst, recs))
    }
  }

  def reset(): Unit = synchronized { peakTaskMem = 0L; stageReads.clear() }
  def peakTaskMemMb: Double = synchronized { peakTaskMem / 1048576.0 }
  def stages: Map[Int, (Long, Long)] = synchronized { stageReads.toMap }
}

object OpListener {
  def drain(sc: SparkContext): Unit = shim.drainListenerBus(sc, 60000)
}

/** One traced span: a layer call made by the benchmark, with the op it
  * belongs to and its parent span. Times are epoch milliseconds (the
  * listener bus stamps jobs in the same clock) plus a nanosecond wall.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startMs: Long, var endMs: Long = 0L, var wallNs: Long = 0L,
                      var rowsOut: Long = 0L)

/** Per-span counters, filled from successful task attempts. */
final class SpanCounters {
  var jobs = 0
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var maxTaskMs = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** Span recorder for the traced run. The benchmark tags each layer call
  * with `sc.setLocalProperty(SpanKey, id)`; every job submitted inside
  * carries the innermost span id in its properties, and the stages and
  * tasks of that job are charged to it. Spans are kept in memory and
  * written as JSON by the caller when the run ends.
  */
final class SpanRecorder(sc: SparkContext) extends SparkListener {
  import SpanRecorder.SpanKey

  val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.Map[Int, SpanCounters]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val jobSpan = mutable.Map[Int, (Int, Long)]()
  private var current = -1

  private def countersOf(span: Int): SpanCounters =
    counters.getOrElseUpdate(span, new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).foreach { span =>
        countersOf(span).jobs += 1
        jobSpan(e.jobId) = (span, e.time)
        e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = span)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, t0) =>
      countersOf(span).jobIntervals += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason == Success && e.taskMetrics != null)
      stageSpan.get(e.stageId).foreach { span =>
        val c = countersOf(span)
        val m = e.taskMetrics
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.maxTaskMs = math.max(c.maxTaskMs, e.taskInfo.duration)
      }
  }

  /** Run `f` inside a new span named `name` of op `op`; nested calls get
    * the enclosing span as parent. `rows` computes the span's output row
    * count after the span has closed, so the count is not charged to it.
    */
  def span[T](name: String, op: Int)(f: => T)(rows: T => Long = (_: T) => 0L): T = {
    val parent = current
    val s = synchronized {
      val sp = Span(spans.length, name, parent, op, System.currentTimeMillis())
      spans += sp
      sp
    }
    current = s.id
    sc.setLocalProperty(SpanKey, s.id.toString)
    val t0 = System.nanoTime()
    val out =
      try f
      finally {
        s.wallNs = System.nanoTime() - t0
        s.endMs = System.currentTimeMillis()
        current = parent
        sc.setLocalProperty(SpanKey, if (parent < 0) null else parent.toString)
      }
    s.rowsOut = rows(out)
    out
  }

  /** Counters of one span: (name -> value), in the units the benchmark
    * reports. `driver_gap_s` is the span's wall not covered by any of its
    * own jobs.
    */
  def metricsOf(s: Span): Map[String, Double] = synchronized {
    val c = counters.getOrElse(s.id, new SpanCounters)
    val covered = SpanRecorder.coveredMs(
      c.jobIntervals.toSeq.map { case (a, b) =>
        (math.max(a, s.startMs), math.min(b, s.endMs)) })
    val wall = s.wallNs / 1e9
    Map(
      "wall_s" -> wall,
      "jobs" -> c.jobs.toDouble,
      "task_cpu_s" -> c.taskCpuNs / 1e9,
      "gc_s" -> c.gcMs / 1e3,
      "shuffle_write_mb" -> c.shuffleWriteBytes / 1048576.0,
      "spill_mb" -> c.spillBytes / 1048576.0,
      "driver_gap_s" -> math.max(0.0, wall - covered / 1e3),
      "max_task_s" -> c.maxTaskMs / 1e3,
      "rows_out" -> s.rowsOut.toDouble)
  }

  def toJson: String = synchronized {
    spans.map { s =>
      val m = metricsOf(s).toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},$m}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object SpanRecorder {
  val SpanKey = "perfbench.span"

  /** Length of the union of [a, b) intervals (ms). */
  def coveredMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) total += b - from
      reach = math.max(reach, b)
    }
    total
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString
}
