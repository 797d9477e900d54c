package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.core.GraftSession

/** One benchmark run in one JVM: a single closed-loop caller drives one
  * workload through the program's public functions on one local[N]
  * session, and writes the raw samples as JSON for `run.py` to reduce.
  *
  * Usage: Main --workload W --seed S --seconds T --trace 0|1 --cpus N
  *             --work DIR --out FILE
  */
object Main {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Set-ups per run; `setup_s` takes their median. */
  private val Setups = 2

  final case class Sample(wall: Double, cpu: Double, bytes: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val work = new File(opt("work")).getAbsolutePath

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(cpus.toString)
      .appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secondsSince(t0)

    val w = Workloads(name, spark, seed)
    val prepareS = (1 to Setups).map { i =>
      val t = System.nanoTime()
      w.prepare(s"$work/inputs-$i")
      val s = secondsSince(t)
      if (i > 1) delete(new File(s"$work/inputs-${i - 1}"))
      s
    }

    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val counts = mutable.LinkedHashMap.empty[String, Vector[Double]]
    var iter = 0

    def iteration(trace: Trace, tracer: Option[Tracer]): Sample = {
      iter += 1
      val root = new File(s"$work/run-$iter")
      root.mkdirs()
      tracer.foreach(_.startTrace(s"iteration-$iter", root))
      val ops = new Ops(trace)
      val c0 = os.getProcessCpuTime
      val start = System.nanoTime()
      val thrown = try {
        trace.span(s"workload.$name")(w.run(root.getPath, ops))
        None
      } catch { case NonFatal(e) => Some(ops.current -> e.toString) }
      val sample = Sample(secondsSince(start), (os.getProcessCpuTime - c0) / 1e9,
        Workloads.bytesUnder(root))
      val checked =
        if (thrown.nonEmpty) Checked(thrown.toSeq, Map.empty)
        else try w.check(root.getPath)
        catch { case NonFatal(e) => Checked(Seq("output check" -> e.toString), Map.empty) }
      attempted += ops.attempted
      failed += checked.failures.map(_._1).distinct.size
      errors ++= checked.failures.map { case (op, msg) => s"iteration $iter, $op: $msg" }
      if (tracer.nonEmpty) checked.counts.foreach { case (k, v) =>
        counts(k) = counts.getOrElse(k, Vector.empty) :+ v
      }
      delete(root)
      sample
    }

    // A run times a fixed number of iterations, whatever their speed, and
    // the first of them is cold (a fresh JVM, as each production job is).
    // `--seconds` is only a minimum: if the timed iterations end sooner,
    // untimed ones, still checked, fill it. The traced run times one cold
    // untraced iteration, then a traced one and an untraced one, so the
    // tracing overhead compares like with like.
    val untraced = mutable.ArrayBuffer.empty[Sample]
    val tracedSamples = mutable.ArrayBuffer.empty[Sample]
    val start = System.nanoTime()
    untraced += iteration(NoTrace, None)
    val spans = if (!traced) {
      while (untraced.size < w.iterations) untraced += iteration(NoTrace, None)
      while (secondsSince(start) < seconds) iteration(NoTrace, None)
      Seq.empty
    } else {
      val tracer = new Tracer(spark.sparkContext)
      tracedSamples += iteration(tracer, Some(tracer))
      untraced += iteration(NoTrace, None)
      val kernelRoot = new File(s"$work/kernels")
      kernelRoot.mkdirs()
      tracer.startTrace("kernels", kernelRoot)
      w.kernels(tracer).foreach { case (k, v) => counts(k) = Vector(v) }
      tracer.close()
    }
    spark.stop()

    val json = Json.obj(
      "workload" -> name, "seed" -> seed, "cpus" -> cpus, "rows" -> w.rows,
      "session_s" -> sessionS, "prepare_s" -> prepareS,
      "untraced" -> untraced.toSeq.map(sampleJson),
      "traced" -> tracedSamples.toSeq.map(sampleJson),
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "counts" -> counts,
      "spans" -> spans.map(s => Json.obj(
        "trace" -> s.trace, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "metrics" -> s.metrics)))
    java.nio.file.Files.write(new File(opt("out")).toPath, json.toString.getBytes("UTF-8"))
  }

  private def sampleJson(s: Sample): Json.Obj =
    Json.obj("wall_s" -> s.wall, "cpu_s" -> s.cpu, "output_bytes" -> s.bytes)

  private def secondsSince(t: Long): Double = (System.nanoTime() - t) / 1e9

  private def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}

/** Just enough JSON for the raw-result file: objects (as [[Json.Obj]] or
  * maps), arrays, strings and numbers.
  */
object Json {
  final case class Obj(fields: Seq[(String, Any)]) {
    override def toString: String =
      fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
  }

  def obj(fields: (String, Any)*): Obj = Obj(fields)

  private def value(v: Any): String = v match {
    case o: Obj => o.toString
    case m: collection.Map[_, _] => Obj(m.toSeq.map { case (k, x) => k.toString -> x }).toString
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => sys.error(s"cannot render ${other.getClass}")
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
