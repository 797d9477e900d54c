package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One finished span: `<module>.<op>` name, the trace (one workload
  * iteration) it belongs to, its parent span (0 = none), monotonic start
  * and end, and the task metrics attributed to it.
  */
final case class Span(trace: String, id: Int, name: String, parent: Int,
                      startNs: Long, endNs: Long,
                      metrics: Map[String, Double] = Map.empty)

/** Where a workload reports the public calls it makes. The untraced run
  * uses [[NoTrace]], which only runs the body; the traced run uses
  * [[Tracer]].
  */
trait Trace {
  def span[T](name: String)(body: => T): T
}

object NoTrace extends Trace {
  def span[T](name: String)(body: => T): T = body
}

/** Task metrics summed per job group. The benchmark sets one job group
  * per span, so a task's metrics land on the innermost open span.
  * Events arrive on the listener-bus thread; reads happen on the driver
  * thread after [[org.apache.spark.perfbench.ListenerBusAccess.drain]].
  */
final class TaskMetricsByGroup extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val sums = mutable.HashMap.empty[String, Array[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = sums.getOrElseUpdate(g, new Array[Long](3))
      a(0) += m.executorCpuTime
      a(1) += m.shuffleWriteMetrics.bytesWritten
      a(2) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def of(group: String): Array[Long] = synchronized {
    sums.get(group).map(_.clone()).getOrElse(new Array[Long](3))
  }
}

/** In-memory span recorder for the traced run. Each span is its own Spark
  * job group, and its output bytes are the growth of the trace's run root
  * across the span. The listener is registered on construction and
  * removed by [[close]].
  */
final class Tracer(sc: SparkContext) extends Trace {
  private val listener = new TaskMetricsByGroup
  sc.addSparkListener(listener)
  private val done = mutable.ArrayBuffer.empty[(Span, Long)]
  private var open = List.empty[Int]
  private var nextId = 1
  private var trace = ""
  private var root = new java.io.File(".")

  /** Spans from now on belong to trace `id`, which writes under `dir`. */
  def startTrace(id: String, dir: java.io.File): Unit = {
    trace = id
    root = dir
  }

  private def sizeOf(): Long = Workloads.bytesUnder(root)

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0)
    open = id :: open
    sc.setJobGroup(s"perfbench-$id", name)
    val bytes0 = sizeOf()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"perfbench-$p", "")
        case None => sc.clearJobGroup()
      }
      done += ((Span(trace, id, name, parent, t0, t1), sizeOf() - bytes0))
    }
  }

  /** Record a span the caller timed itself (a kernel call made outside
    * Spark), as a child of the innermost open span.
    */
  def record(name: String, startNs: Long, endNs: Long): Unit = {
    done += ((Span(trace, nextId, name, open.headOption.getOrElse(0), startNs, endNs), 0L))
    nextId += 1
  }

  /** Waits for the listener bus, removes the listener and returns every
    * span with its metrics attached.
    */
  def close(): Seq[Span] = {
    org.apache.spark.perfbench.ListenerBusAccess.drain(sc)
    sc.removeSparkListener(listener)
    done.toSeq.map { case (s, bytes) =>
      val m = listener.of(s"perfbench-${s.id}")
      s.copy(metrics = Map(
        "cpu_s" -> m(0) / 1e9,
        "shuffle_bytes" -> m(1).toDouble,
        "spill_bytes" -> m(2).toDouble,
        "output_bytes" -> bytes.toDouble))
    }
  }
}
