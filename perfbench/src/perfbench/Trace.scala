package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-level totals over an interval, from [[TaskTotals]]. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    cpuNs: Long = 0, runMs: Long = 0, gcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    input: Long = 0, durations: Vector[Long] = Vector.empty) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuNs - o.cpuNs, runMs - o.runMs, gcMs - o.gcMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, input - o.input, durations.drop(o.durations.size))
  def cpuS: Double = cpuNs / 1e9
  /** Slowest task over the median task. */
  def skew: Double =
    if (durations.isEmpty) 1.0
    else durations.max / math.max(1.0, Stats.median(durations.map(_.toDouble)))
}

/** Running totals of every finished job, stage and task. */
final class TaskTotals extends SparkListener {
  private var c = Counters()
  private val durs = ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    durs += e.taskInfo.duration
    if (m != null) c = c.copy(tasks = c.tasks + 1,
      cpuNs = c.cpuNs + m.executorCpuTime,
      runMs = c.runMs + m.executorRunTime,
      gcMs = c.gcMs + m.jvmGCTime,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      input = c.input + m.inputMetrics.bytesRead)
    else c = c.copy(tasks = c.tasks + 1)
  }
  def snapshot: Counters = synchronized { c.copy(durations = durs.toVector) }
}

/** Busy CPU of the whole host and of this process with its children,
  * from /proc. */
object HostCpu {
  private val tick = 100.0 // USER_HZ on Linux

  final case class Sample(hostBusy: Long, self: Long) {
    /** Busy CPU seconds since `before` that this process did not use. */
    def foreignSince(before: Sample): Double =
      math.max(0L, (hostBusy - before.hostBusy) - (self - before.self)) / tick
  }

  def sample(): Sample = {
    val cpu = read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
    val busy = cpu.map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      f(0) + f(1) + f(2) + f(5) + f(6) + (if (f.length > 7) f(7) else 0L)
    }.getOrElse(0L)
    val self = read("/proc/self/stat").map { s =>
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      // utime, stime, and those of reaped children: the shell commands
      // Hadoop's local file system runs count as this run's work
      f(11).toLong + f(12).toLong + f(13).toLong + f(14).toLong
    }.getOrElse(0L)
    Sample(busy, self)
  }

  private def read(p: String): Option[String] =
    scala.util.Try(new String(Files.readAllBytes(java.nio.file.Paths.get(p)))).toOption
}

/** Spans around the benchmark's calls into each layer, kept in memory
  * and written as JSON lines when the run ends; off in untraced runs,
  * where `span` only runs its body. */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
      parent: Int)

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  val tasks: TaskTotals = new TaskTotals
  if (enabled) sc.addSparkListener(tasks)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size + 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = System.nanoTime
      try body
      finally {
        open = open.tail
        spans += Span(id, name, t0, System.nanoTime, parent)
      }
    }

  /** Totals of every task that ran in `body`, with its wall time. */
  def measure[T](name: String)(body: => T): (T, Counters, Double) = {
    drain()
    val before = tasks.snapshot
    val t0 = System.nanoTime
    val r = span(name)(body)
    val s = (System.nanoTime - t0) / 1e9
    drain()
    (r, tasks.snapshot - before, s)
  }

  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(sc)

  def write(path: Path): Unit = if (enabled) {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent}}""")
      w.newLine()
    } finally w.close()
  }
}
