package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.perfbenchshim.Tracer
import org.apache.spark.sql.SparkSession

/** One benchmark run's settings. */
final case class Run(workload: String, seed: Long, seconds: Int, trace: Boolean,
                     work: File, setupReps: Int, minOps: Option[Int] = None) {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - t0) / 1000.0}%7.1fs $msg")
}

/** What one run measured and checked. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer.empty[String]
  var setupS = Double.NaN
  /** The workload's operation times, in seconds, in order. */
  val opSeconds = ArrayBuffer.empty[Double]
  /** Per-layer metrics of each traced operation. */
  val layers = ArrayBuffer.empty[Map[String, Double]]
  /** Per-layer metrics that are taken over the whole run. */
  val stats = scala.collection.mutable.Map.empty[String, Double]
  private var peakHeap = 0.0
  private val tracedSeconds, plainSeconds = ArrayBuffer.empty[Double]

  /** Count one failed operation and say why. */
  def fail(why: String): Unit = { failed += 1; problems += why }

  /** Count one operation, failed when `problems` is non-empty. */
  def count(problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) fail(problems.mkString("; "))
  }

  def heap(mb: Double): Unit = peakHeap = math.max(peakHeap, mb)
  def stat(name: String, v: Double): Unit = stats(name) = v

  /** Run `op` until `run.seconds` have passed and `minOps` operations
    * (or `run.minOps`, when set) ran. A traced run attaches the listener
    * to every other operation, so the tracing overhead is measured within
    * the run. */
  def measure(spark: SparkSession, run: Run, minOps: Int)(
      op: Option[Tracer.Listener] => Unit): Unit = {
    val deadline = System.nanoTime() + run.seconds * 1000000000L
    val asked = run.minOps.getOrElse(minOps)
    val least = if (run.trace) math.max(asked, 2) else asked
    run.log("timing starts")
    var i = 0
    while (i < least || System.nanoTime() < deadline) {
      val traced = run.trace && i % 2 == 1
      val listener = if (traced) Some(Tracer.attach(spark)) else None
      val before = opSeconds.size
      try op(listener) finally listener.foreach(Tracer.detach(spark, _))
      if (opSeconds.size > before) (if (traced) tracedSeconds else plainSeconds) += opSeconds.last
      i += 1
    }
    run.log(s"timing ends after $i operations")
  }

  def endToEnd: Map[String, Double] = Map(
    "setup_s" -> setupS,
    "op_s" -> Metrics.median(opSeconds.toSeq),
    "peak_heap_mb" -> peakHeap)

  def perLayer: Map[String, Double] = {
    val overhead =
      if (tracedSeconds.isEmpty || plainSeconds.isEmpty) 0.0
      else Metrics.median(tracedSeconds.toSeq) / Metrics.median(plainSeconds.toSeq)
    val measured = Metrics.medians(layers.toSeq) ++ stats ++ Map(
      "failed_frac" -> (if (attempted > 0) failed.toDouble / attempted else 1.0),
      "trace.overhead_ratio" -> overhead)
    Metrics.perLayer.map { case (n, _, _) =>
      n -> measured.get(n).filterNot(_.isNaN).getOrElse(0.0)
    }.toMap
  }
}
