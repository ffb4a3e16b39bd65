package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** Task counters summed per Spark job group. Each span runs its jobs
  * under its own group id, so a span is billed exactly the tasks its
  * own jobs ran. */
final class GroupCounters extends SparkListener {
  final class C {
    val cpuNs = new AtomicLong; val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val byGroup = new ConcurrentHashMap[String, C]()
  val tasksSeen = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(id => e.stageIds.foreach(s => stageGroup.put(s, id)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasksSeen.incrementAndGet()
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val c = byGroup.computeIfAbsent(g, _ => new C)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Wait until no task-end event has arrived for `quietMs`: listener
    * delivery is asynchronous to the jobs that produced the events. */
  def settle(quietMs: Long = 300): Unit = {
    var last = -1L
    while (tasksSeen.get != last) { last = tasksSeen.get; Thread.sleep(quietMs) }
  }
}

/** Frames persisted for the current operation. `layer` marks a layer's
  * output: materialized (and its rows counted) when tracing, so the
  * layer's cost lands in its own span; left lazy otherwise. */
final class Held(tr: Tracer) {
  private val frames = ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
  def hold(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK); frames += df; df
  }
  def layer(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (!tr.enabled) df else { val h = hold(df); tr.rows(h.count()); h }
  def release(): Unit = { frames.foreach(_.unpersist(blocking = false)); frames.clear() }
}

/** In-memory span tracer. Spans are (name, start, end, parent, request
  * id); `span` opens one, sets the Spark job group to it, and restores
  * the parent's group when it closes. Disabled, it runs the body and
  * records nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.Span
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  val counters = new GroupCounters
  if (enabled) sc.addSparkListener(counters)

  def span[T](name: String, req: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), req, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"span-${s.id}", name)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Record the row count of the innermost open span's output. */
  def rows(n: Long): Unit = stack.headOption.foreach(s => s.rows = math.max(0L, s.rows) + n)

  /** Per span name: (self seconds, cpu seconds, shuffle bytes, spill
    * bytes, rows out). Self time excludes time spent in child spans. */
  def summary(): Map[String, (Double, Double, Long, Long, Long)] = {
    counters.settle()
    val childNs = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.name).map { case (name, ss) =>
      val self = ss.map(s => s.end - s.start - childNs(s.id)).sum / 1e9
      val cs = ss.flatMap(s => Option(counters.byGroup.get(s"span-${s.id}")))
      name -> ((self, cs.map(_.cpuNs.get).sum / 1e9, cs.map(_.shuffleBytes.get).sum,
        cs.map(_.spillBytes.get).sum, ss.map(_.rows).filter(_ >= 0).sum))
    }
  }

  /** Seconds of [t0, t1] that no top-level span covers. */
  def uncovered(t0: Long, t1: Long): Double =
    (t1 - t0 - spans.filter(s => s.parent < 0 && s.start >= t0 && s.end <= t1)
      .map(s => s.end - s.start).sum) / 1e9

  /** Spans as tab-separated lines: name, start_ns, end_ns, parent, req. */
  def dump(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, spans.map(s =>
      s"${s.name}\t${s.start}\t${s.end}\t${s.parent}\t${s.req}\t${s.rows}").mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, req: Int, start: Long, var end: Long = 0L,
      var rows: Long = -1L)
}
