package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.perfbenchshim.Tracer

/** Metric names, units and the arithmetic shared by the workloads. */
object Metrics {

  /** (name, unit) of the end-to-end metrics, taken with tracing off. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s" -> "s", "peak_heap_mb" -> "MB")

  val stages: Seq[String] = Seq("P1", "P2", "P3", "P4", "MART")

  /** The 24 headline queries, in suite order, as the per-layer rows. */
  val headline: Seq[String] = graft.SparkEntry.all.filter(_.headline).map(_.name)

  /** (name, unit, better) of the per-layer metrics, taken with tracing on.
    * Every workload reports every name; a layer a workload leaves idle
    * reports 0. */
  val perLayer: Seq[(String, String, String)] =
    Seq(("runall.ms", "ms", "lower")) ++
      stages.map(s => (s"stage.$s.ms", "ms", "lower")) ++
      Seq(("gate.ms", "ms", "lower")) ++
      stages.flatMap(s => Seq((s"stage.$s.jobs", "count", "lower"),
        (s"stage.$s.tasks", "count", "lower"),
        (s"stage.$s.shuffle_write_bytes", "bytes", "lower"))) ++
      Seq(("P2.input_rows", "count", "lower"), ("P2.useful_ratio", "ratio", "higher"),
        ("P4.fact_rows_read", "count", "lower"), ("P4.useful_ratio", "ratio", "higher"),
        ("control.jobs", "count", "lower"), ("control.busy_ms", "ms", "lower"),
        ("warehouse.files", "count", "lower"),
        ("serving.publish_ms", "ms", "lower"), ("serving.snapshot_jobs", "count", "lower"),
        ("get_p50_ms", "ms", "lower"), ("serving.get_p99_ms", "ms", "lower"),
        ("drop_to_served_s", "s", "lower"), ("backfill_rows_per_s", "rows/s", "higher"),
        ("suite_s", "s", "lower"), ("stored_bytes_per_csv_byte", "ratio", "lower"),
        ("failed_frac", "ratio", "lower"),
        ("tables.jobs", "count", "lower"),
        ("suite.construct_ms", "ms", "lower"), ("suite.construct_jobs", "count", "lower"),
        ("suite.plan_ms", "ms", "lower"), ("suite.execute_ms", "ms", "lower"),
        ("suite.exchanges", "count", "lower")) ++
      headline.map(q => (s"query.$q.s", "s", "lower")) ++
      Seq(("spark.jobs", "count", "lower"), ("spark.tasks", "count", "lower"),
        ("spark.shuffle_read_bytes", "bytes", "lower"),
        ("spark.shuffle_write_bytes", "bytes", "lower"),
        ("spark.spill_bytes", "bytes", "lower"), ("spark.gc_ms", "ms", "lower"),
        ("spark.scheduler_delay_ms", "ms", "lower"), ("spark.task_skew", "ratio", "lower"),
        ("trace.overhead_ratio", "ratio", "lower"))

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Per-key median over a list of per-operation metric maps. */
  def medians(ops: Seq[Map[String, Double]]): Map[String, Double] =
    ops.flatMap(_.keys).distinct.map(k => k -> median(ops.flatMap(_.get(k)))).toMap

  /** Length of the union of [start, end] intervals. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total, reach = 0L
    var open = Long.MinValue
    intervals.filter { case (a, b) => b >= a }.sortBy(_._1).foreach { case (a, b) =>
      if (open == Long.MinValue || a > reach) {
        if (open != Long.MinValue) total += reach - open
        open = a; reach = b
      } else reach = math.max(reach, b)
    }
    if (open != Long.MinValue) total += reach - open
    total
  }

  /** Spark runtime totals for a set of jobs. */
  def sparkTotals(t: Tracer.Trace, jobs: Seq[Tracer.Job]): Map[String, Double] = {
    val tasks = t.tasksOf(jobs)
    // the critical path of each stage over its typical task, summed over
    // stages so the heavy stages dominate
    val perStage = tasks.groupBy(_.stageId).values.filter(_.size >= 2).toSeq
    val maxSum = perStage.map(_.map(_.runMs).max.toDouble).sum
    val medSum = perStage.map(ts => median(ts.map(_.runMs.toDouble))).sum
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.shuffle_read_bytes" -> tasks.map(_.shuffleReadBytes).sum.toDouble,
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.spill_bytes" -> tasks.map(_.spillBytes).sum.toDouble,
      "spark.gc_ms" -> tasks.map(_.gcMs).sum.toDouble,
      "spark.scheduler_delay_ms" -> tasks.map(_.schedDelayMs).sum.toDouble,
      "spark.task_skew" -> (if (medSum > 0) maxSum / medSum else 1.0))
  }

  /** Old-generation occupancy after a full collection, in MB. The second
    * collection runs after Spark's ContextCleaner has dropped the blocks
    * whose owners the first one freed. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported &&
        Seq("Old", "Tenured").exists(p.getName.contains))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}
