package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A short traced `xsmb_daily` run and the metric lists against
  * BENCHMARK.json. */
class TracedRunSpec extends AnyFunSuite {

  private val repo = new File(System.getProperty("perfbench.repo"))

  /** One short traced run over a young history: 30 days, so numbers
    * still appear for the first time during the refreshes. */
  private lazy val out = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    val work = new File(System.getProperty("java.io.tmpdir"), "traced-run-spec")
    org.apache.commons.io.FileUtils.deleteQuietly(work)
    val run = Run("xsmb_daily", seed = 3, seconds = 1, trace = true, work, setupReps = 1)
    XsmbBench.daily(spark, run, history = 30)
  }

  test("traced daily run: the stage times fit inside runAll, every layer is reported") {
    assert(out.layers.nonEmpty)
    out.layers.foreach { m =>
      val stageSum = Metrics.stages.map(s => m(s"stage.$s.ms")).sum
      assert(stageSum > 0 && stageSum <= m("runall.ms"), m)
      assert(m("gate.ms") === m("runall.ms") - stageSum)
      // P2 re-stages the whole drop: every landed day, the new one included
      val days = m("P2.input_rows") / XsmbDrop.rowsPerDay
      assert(days > 30 && days == days.floor, m)
      assert(m("P2.useful_ratio") === XsmbDrop.rowsPerDay / m("P2.input_rows"))
      assert(m("P4.fact_rows_read") > 0)
      assert(m("control.jobs") > 0 && m("serving.snapshot_jobs") > 0)
    }
    val layers = out.perLayer
    assert(layers.keySet === Metrics.perLayer.map(_._1).toSet)
    assert(layers("trace.overhead_ratio") > 0)
    assert(layers("get_p50_ms") > 0 && layers("backfill_rows_per_s") > 0)
  }

  test("daily refreshes over a young history match the oracle") {
    assert(out.problems.isEmpty, out.problems.take(3).mkString("\n"))
    assert(out.failed === 0L)
  }

  test("BENCHMARK.json names exactly the metrics the benchmark prints") {
    val json = new String(Files.readAllBytes(new File(repo, "BENCHMARK.json").toPath), UTF_8)
    def names(key: String): Seq[String] = {
      val section = json.split("\"" + key + "\"")(1).takeWhile(_ != ']')
      "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(section).map(_.group(1)).toSeq
    }
    assert(names("end_to_end") === Metrics.endToEnd.map(_._1))
    assert(names("per_layer") === Metrics.perLayer.map(_._1))
  }
}
