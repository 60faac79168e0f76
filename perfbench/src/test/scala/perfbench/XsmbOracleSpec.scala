package perfbench

import java.io.File
import java.time.LocalDate

import graft.pipeline.Pipeline
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The oracle against the engine's read-only lottery fixtures (three draw
  * days with malformed rows), by hand and through the real pipeline. */
class XsmbOracleSpec extends AnyFunSuite {

  private val fixtures = new File(System.getProperty("perfbench.repo"), "src/test/resources/lottery")
  private lazy val oracle = XsmbOracle.fromCsv(fixtures.listFiles().toSeq.filter(_.getName.endsWith(".csv")))

  test("oracle on the fixtures: the hand-computed mart, statistic and facts") {
    val mart = oracle.mart.map(r => r.number -> r).toMap
    assert(mart.keySet === Set(9, 33, 45, 78))
    def row(n: Int) = { val r = mart(n); (r.occurrences, r.draws, r.probability.toString, r.last.toString, r.recency) }
    assert(row(9) === ((3L, 3, "1.0000", "2025-10-25", 1L)))
    assert(row(33) === ((1L, 3, "0.3333", "2025-10-25", 1L)))
    assert(row(45) === ((1L, 3, "0.3333", "2025-10-23", 3L)))
    assert(row(78) === ((2L, 3, "0.6667", "2025-10-26", 0L)))
    assert(oracle.factRows === 6L)
    assert(oracle.statisticJson ===
      """[{"totalOccurrences":3,"mostNumber":"9","leastNumber":"33","lastUpdate":"2025-10-26"}]""")
    assert(oracle.numberJson(5) === "[]")
  }

  test("oracle and engine agree on the fixtures: mart rows, facts, process_log trail, GET bodies") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    val root = new File(System.getProperty("java.io.tmpdir"), "oracle-spec-warehouse")
    FileUtils.deleteQuietly(root)
    val lay = Pipeline.Layout(root.getAbsolutePath)
    val mart = Pipeline.runAll(spark, fixtures.getAbsolutePath, lay.root)
    val (stages, problems) = XsmbBench.check(spark, lay, oracle, runs = 1)
    assert(problems.isEmpty, problems.mkString("\n"))
    assert(stages.byStage.keySet === Metrics.stages.toSet)
    val server = XsmbBench.publish(mart)
    try (XsmbBench.pageLoad ++ XsmbBench.lookups).foreach { path =>
      val (code, body, _) = XsmbBench.get(server.getAddress.getPort, path)
      assert(code === 200, path)
      assert(XsmbBench.bodyMatches(oracle, path, body), s"$path: $body")
    } finally server.stop(0)
  }

  test("generated oracle counts every Giải Bảy draw of the drop") {
    val o = XsmbOracle.generated(5, 30)
    assert(o.drawDays === 30)
    assert(o.mart.map(_.occurrences).sum === 30L * 4)
    assert(o.lastDay === LocalDate.of(2015, 1, 30))
    assert(o.factRows === (0 until 30).map(i => XsmbDrop.seventh(5, XsmbDrop.day(i)).distinct.size).sum)
  }
}
