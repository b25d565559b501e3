package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** In-memory spans, recorded around the benchmark's calls into each
  * layer. Single-threaded by construction (one closed-loop client), so
  * a span's parent is whatever span is open when it starts. Nothing is
  * written until [[records]] is called at exit. When disabled, [[span]]
  * only runs its body. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, trace: String, name: String,
                        start: Long, var end: Long = -1L)

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def span[A](trace: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, open.headOption.getOrElse(-1), trace, name,
        System.nanoTime())
      spans += s
      open = s.id :: open
      try body
      finally { s.end = System.nanoTime(); open = open.tail }
    }

  /** Self time: the span's duration minus the part its direct children
    * cover. Children never overlap (one thread), so that is the sum of
    * their durations. */
  def selfTimes: Map[Int, Long] = {
    val childSum = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(
      s => s.end - s.start)(_ + _)
    spans.map(s => s.id -> (s.end - s.start - childSum.getOrElse(s.id, 0L)))
      .toMap
  }

  /** Every span with its duration and self time, for the report. */
  def records: Seq[Map[String, Any]] = {
    val self = selfTimes
    spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "trace" -> s.trace, "name" -> s.name, "start_ns" -> s.start,
      "dur_ns" -> (s.end - s.start), "self_ns" -> self(s.id)))
  }
}

/** Task metrics per Spark job group. Each traced query runs its phases
  * under their own job groups (`<query>/build`, `/plan`, `/exec`), so
  * every stage and task is attributed to the phase that launched it.
  * Listener events arrive asynchronously; [[drain]] waits for the bus
  * to catch up before the totals are read. */
final class GroupMetrics extends SparkListener {
  import GroupMetrics._

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()
  private val totals = new ConcurrentHashMap[String, Array[Double]]()
  private val started = new AtomicLong()
  private val ended = new AtomicLong()

  private def add(group: String, field: Int, v: Double): Unit = {
    val a = totals.computeIfAbsent(group, _ => new Array[Double](Fields.size))
    a.synchronized { a(field) += v }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      jobGroup.put(e.jobId, (g, e.time))
      e.stageIds.foreach(stageGroup.put(_, g))
      add(g, Jobs, 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobGroup.get(e.jobId)).foreach { case (g, t0) =>
      add(g, JobMs, (e.time - t0).toDouble)
    }
    ended.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(add(_, Stages, 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      add(g, Tasks, 1)
      val m = e.taskMetrics
      if (m != null) {
        add(g, CpuNs, m.executorCpuTime.toDouble)
        add(g, ShuffleRead, m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(g, ShuffleWrite, m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(g, Spill, (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(g, InputBytes, m.inputMetrics.bytesRead.toDouble)
        add(g, InputRecords, m.inputMetrics.recordsRead.toDouble)
      }
    }

  /** Wait (at most `timeoutMs`) until every started job's end event has
    * been delivered and the bus has stayed quiet for a moment. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var quiet = 0
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      quiet = if (started.get() == ended.get()) quiet + 1 else 0
    }
  }

  def of(group: String): Map[String, Double] = {
    val a = Option(totals.get(group)).getOrElse(new Array[Double](Fields.size))
    Fields.zipWithIndex.map { case (f, i) => f -> a(i) }.toMap
  }
}

object GroupMetrics {
  val Fields: Seq[String] = Seq("jobs", "job_ms", "stages", "tasks", "cpu_ns",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
    "input_records")
  private final val Jobs = 0; private final val JobMs = 1
  private final val Stages = 2; private final val Tasks = 3
  private final val CpuNs = 4; private final val ShuffleRead = 5
  private final val ShuffleWrite = 6; private final val Spill = 7
  private final val InputBytes = 8; private final val InputRecords = 9
}
