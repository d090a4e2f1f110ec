package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Spans of one operation share
  * `op`; `parent` is the id of the span that caused this one (0 = none).
  * Times are epoch nanoseconds, so spans rebuilt from the runner's
  * millisecond records line up with spans timed here. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** In-memory span buffer, written out once when the run ends. A disabled
  * tracer still runs the timed code but records nothing. */
final class Tracer(val enabled: Boolean) {
  private val buf = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private val stack = mutable.Stack[Int]()
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs: Long = System.nanoTime() + epochOffsetNs

  def span[T](name: String, op: Int)(f: => T): T =
    if (!enabled) f
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = nowNs
      try f
      finally {
        stack.pop()
        buf += Span(id, parent, op, name, t0, nowNs)
      }
    }

  /** Record a span measured elsewhere (e.g. a pipeline step's durable
    * started/finished record), as a child of `parent`. */
  def add(name: String, op: Int, parent: Int, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      nextId += 1
      buf += Span(nextId, parent, op, name, startNs, endNs)
    }

  /** The innermost open span, 0 outside any. */
  def current: Int = stack.headOption.getOrElse(0)
  def lastId(name: String, op: Int): Int =
    buf.reverseIterator.find(s => s.name == name && s.op == op).map(_.id).getOrElse(0)

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = buf.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Per-task figures the executor reports; times in ns, bytes in bytes. */
final case class TaskFig(stageId: Int, durNs: Long, cpuNs: Long, runNs: Long,
    gcNs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long)

/** Job, stage and task counts plus task metrics, attributed to operations
  * by the wall-clock window a job started in. Operations run one at a time,
  * so windows never overlap. */
final class ExecListener extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[(Long, Seq[Int])]() // start ms, stage ids
  private val tasks = new ConcurrentLinkedQueue[TaskFig]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add((e.time, e.stageIds))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskFig(e.stageId, e.taskInfo.duration * 1000000L,
      m.executorCpuTime, m.executorRunTime * 1000000L, m.jvmGCTime * 1000000L,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
  }

  /** Jobs started in [fromMs, toMs], with the tasks of their stages. */
  def window(fromMs: Long, toMs: Long): (Seq[Seq[Int]], Seq[TaskFig]) = {
    val js = jobs.asScala.filter { case (t, _) => t >= fromMs && t <= toMs }.map(_._2).toSeq
    val stageIds = js.flatten.toSet
    (js, tasks.asScala.filter(t => stageIds(t.stageId)).toSeq)
  }
}
