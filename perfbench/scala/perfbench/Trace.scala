package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call. `parent` is 0 for a root span; spans of one run share `run`. */
final case class Span(id: Long, parent: Long, run: String, name: String,
    startNs: Long, endNs: Long, allocBytes: Long, counts: Map[String, Long]) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder; the spans are written out once, when the run ends.
  * A span's parent is the innermost open span of the same thread, so the
  * children of a span never overlap and its self time is its duration minus
  * theirs. */
final class Tracer(val run: String) {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val open = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  def span[A](name: String)(f: => A): A = spanWith(name, () => Map.empty)(f)

  /** `counts` is evaluated after `f` returns and outside the timed interval. */
  def spanWith[A](name: String, counts: () => Map[String, Long])(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = open.get
    open.set(id)
    val a0 = mx.getCurrentThreadAllocatedBytes
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      val a1 = mx.getCurrentThreadAllocatedBytes
      open.set(parent)
      buf.add(Span(id, parent, run, name, t0, t1, a1 - a0, counts()))
    }
  }

  def spans: Vector[Span] = buf.asScala.toVector.sortBy(_.id)
}

/** Per-name totals over a set of spans. */
final case class LayerRow(name: String, calls: Long, totalNs: Long, selfNs: Long, allocBytes: Long)

object Layers {
  def table(spans: Seq[Span]): Seq[LayerRow] = {
    val childNs = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childNs(s.parent) += s.durNs)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      LayerRow(name, ss.size.toLong, ss.map(_.durNs).sum,
        ss.map(s => s.durNs - childNs(s.id)).sum, ss.map(_.allocBytes).sum)
    }
  }

  def spanJson(s: Span): String = Util.json(Map(
    "id" -> s.id, "parent" -> s.parent, "run" -> s.run, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs, "alloc_bytes" -> s.allocBytes,
    "counts" -> s.counts))
}

/** Cumulative scheduler counts, read from [[SparkCounts]]. */
final case class Counts(jobs: Long, stages: Long, tasks: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    taskNs: Long, runNs: Long, deserNs: Long, gcMs: Long, stageSkews: Int) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
    spillBytes - o.spillBytes, taskNs - o.taskNs, runNs - o.runNs, deserNs - o.deserNs,
    gcMs - o.gcMs, stageSkews)
  def toMap: Map[String, Long] = Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "spill_bytes" -> spillBytes)
}

/** The benchmark's scheduler listener: job/stage/task counts, shuffle and
  * spill bytes, task time split, and per-stage task skew (max ÷ median task
  * time). Counts are read only after [[drain]]. */
final class SparkCounts(sc: SparkContext) extends SparkListener {
  private var jobs, stages, tasks, shW, shR, spill, taskNs, runNs, deserNs, gcMs = 0L
  private val stageTaskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val skews = mutable.ArrayBuffer.empty[Double]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shW += m.shuffleWriteMetrics.bytesWritten
      shR += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      runNs += m.executorRunTime * 1000000L
      deserNs += m.executorDeserializeTime * 1000000L
      gcMs += m.jvmGCTime
    }
    val d = e.taskInfo.duration
    taskNs += d * 1000000L
    stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += d
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val ms = stageTaskMs.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
      .getOrElse(mutable.ArrayBuffer.empty).sorted
    if (ms.size >= 2) skews += ms.last.toDouble / math.max(1L, ms(ms.size / 2))
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def snapshot(): Counts = { drain(); synchronized {
    Counts(jobs, stages, tasks, shW, shR, spill, taskNs, runNs, deserNs, gcMs, skews.size)
  } }

  /** Worst task skew among stages completed between two snapshots. */
  def worstSkew(from: Counts, to: Counts): Double = synchronized {
    val xs = skews.slice(from.stageSkews, to.stageSkews)
    if (xs.isEmpty) 1.0 else xs.max
  }
}
