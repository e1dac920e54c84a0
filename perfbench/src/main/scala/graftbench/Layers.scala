package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work charged to one label (see [[LayerListener]]). */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runNs: Long = 0, shuffleWrite: Long = 0, shuffleRead: Long = 0,
    spill: Long = 0, gcMs: Long = 0, input: Long = 0, output: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, runNs + o.runNs, shuffleWrite + o.shuffleWrite,
    shuffleRead + o.shuffleRead, spill + o.spill, gcMs + o.gcMs,
    input + o.input, output + o.output)
}

object Counters {
  /** The counters as the per-layer sample fields `run.py` aggregates. */
  def fields(c: Counters): Map[String, Any] = Map(
    "jobs" -> c.jobs,
    "exec.stages" -> c.stages,
    "exec.tasks" -> c.tasks,
    "exec.run_s" -> c.runNs / 1e9,
    "exec.shuffle_write_bytes" -> c.shuffleWrite,
    "exec.shuffle_read_bytes" -> c.shuffleRead,
    "exec.spill_bytes" -> c.spill,
    "exec.gc_s" -> c.gcMs / 1e3,
    "exec.input_bytes" -> c.input,
    "exec.output_bytes" -> c.output)
}

/** The benchmark's SparkListener, registered only for the traced run. It
  * counts jobs, completed stages and tasks, and sums task metrics, per label:
  * the driver thread sets the label as a local property around each span
  * ([[LayerListener.label]]), jobs and stages carry it, and each task is
  * charged to its stage's label. Reading a label's counters waits for the
  * listener bus to deliver what was posted, outside any timed interval. */
final class LayerListener extends SparkListener {
  private val byLabel = new ConcurrentHashMap[String, Array[AtomicLong]]()
  private val stageLabel = new ConcurrentHashMap[Int, String]()

  private def slot(label: String): Array[AtomicLong] =
    byLabel.computeIfAbsent(label, _ => Array.fill(10)(new AtomicLong))
  private def labelOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(LayerListener.Key))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val label = labelOf(e.properties)
    slot(label)(0).incrementAndGet()
    e.stageIds.foreach(id => stageLabel.put(id, label))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageLabel.put(e.stageInfo.stageId, labelOf(e.properties))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    slot(stageLabel.getOrDefault(e.stageInfo.stageId, ""))(1).incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = slot(stageLabel.getOrDefault(e.stageId, ""))
    c(2).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(3).addAndGet(m.executorRunTime * 1000000L)
      c(4).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(5).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c(6).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c(7).addAndGet(m.jvmGCTime)
      c(8).addAndGet(m.inputMetrics.bytesRead)
      c(9).addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** The counters charged to `label`, once every event posted so far has
    * been delivered; the label's slot is released. */
  def take(spark: SparkSession, label: String): Counters = {
    PerfbenchBus.drain(spark.sparkContext)
    Option(byLabel.remove(label)).map(_.map(_.get)).map(v =>
      Counters(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9)))
      .getOrElse(Counters())
  }
}

object LayerListener {
  val Key = "graftbench.label"

  /** Charge the Spark work `body` starts to `label`. */
  def label[A](spark: SparkSession, label: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, label)
    try body finally sc.setLocalProperty(Key, prev)
  }
}

/** One recorded span: a named interval, the span that caused it, and the
  * counts taken at its boundaries. Times are nanoseconds since the run's
  * first span. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, attrs: Map[String, Any] = Map.empty)

/** In-memory span store, written out when the run ends. */
final class Spans {
  private val origin = System.nanoTime()
  private val buf = mutable.ArrayBuffer.empty[Span]
  def now(): Long = System.nanoTime() - origin
  def nextId: Int = buf.length + 1
  def add(parent: Int, name: String, startNs: Long, endNs: Long,
      attrs: Map[String, Any] = Map.empty): Int = {
    val id = nextId
    buf += Span(id, parent, name, startNs, endNs, attrs)
    id
  }
  /** Reserve an id for a parent span whose end is not known yet. */
  def open(parent: Int, name: String, startNs: Long): Int =
    add(parent, name, startNs, -1)
  def close(id: Int, endNs: Long, attrs: Map[String, Any]): Unit =
    buf(id - 1) = buf(id - 1).copy(endNs = endNs, attrs = attrs)
  def all: Seq[Span] = buf.toSeq
}
