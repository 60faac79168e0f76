package perfbench

import java.io.File
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import com.sun.net.httpserver.HttpServer
import graft.pipeline.{Lottery, Pipeline, Serving}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.perfbenchshim.Tracer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The warehouse workload `xsmb_daily`: a cold load of the crawler
  * history as set-up, then daily refreshes that land one day, run the
  * chain, republish and serve. */
object XsmbBench {

  /** The run's own process_log rows, one (started, ended) per stage. */
  final case class StageTimes(byStage: Map[String, (Long, Long)]) {
    def ms(s: String): Long = byStage.get(s).map { case (a, b) => b - a }.getOrElse(0L)
    def sumMs: Long = Metrics.stages.map(ms).sum
  }

  /** Check the warehouse against the oracle after `runs` refreshes and
    * return the run's stage times with every mismatch found. */
  def check(spark: SparkSession, lay: Pipeline.Layout, o: XsmbOracle,
            runs: Int): (StageTimes, Seq[String]) = {
    val problems = ArrayBuffer.empty[String]
    val mart = spark.read.parquet(lay.mart).toJSON.collect().toSet
    if (mart != o.allRows) problems += s"mart: unexpected ${(mart -- o.allRows).take(2)}, " +
      s"missing ${(o.allRows -- mart).take(2)}"
    val facts = spark.read.parquet(lay.factPrize).count()
    if (facts != o.factRows) problems += s"fact_prize has $facts rows, expected ${o.factRows}"
    val log = spark.read.parquet(lay.processLog).collect().map { r =>
      (r.getAs[Long]("process_id"), r.getAs[String]("process_code"), r.getAs[String]("status"),
        r.getAs[java.sql.Timestamp]("started_at").getTime,
        r.getAs[java.sql.Timestamp]("ended_at").getTime)
    }.toSeq
    if (log.size != 10 * runs)
      problems += s"process_log has ${log.size} rows after $runs runs, expected ${10 * runs}"
    val ids = log.map(_._1).distinct.sorted.takeRight(Metrics.stages.size)
    val mine = log.filter(r => ids.contains(r._1))
    val trail = Metrics.stages.map(s => mine.filter(_._2 == s).map(_._3).sorted)
    if (trail != Metrics.stages.map(_ => Seq("RUNNING", "SUCCESS")))
      problems += s"process_log trail of the last run: ${Metrics.stages.zip(trail)}"
    val times = mine.filter(_._3 == "SUCCESS").map(r => r._2 -> (r._4, r._5)).toMap
    val starts = Metrics.stages.flatMap(times.get).map(_._1)
    if (starts != starts.sorted) problems += s"stages ran out of order: $times"
    (StageTimes(times), problems.toSeq)
  }

  def dirBytes(d: File): Long = FileUtils.sizeOfDirectory(d)

  def partFiles(d: File): Int =
    FileUtils.listFiles(d, null, true).toArray.count(_.asInstanceOf[File].getName.startsWith("part-"))

  /** Per-layer metrics of one traced `runAll` from its stage windows. */
  def pipelineLayers(t: Tracer.Trace, st: StageTimes, runAllMs: Long, dropDir: File,
                     newRows: Long, newFacts: Long): Map[String, Double] = {
    val perStage = Metrics.stages.flatMap { s =>
      val (a, b) = st.byStage.getOrElse(s, (0L, -1L))
      val jobs = t.jobsIn(a, b)
      val tasks = t.tasksOf(jobs)
      Seq(s"stage.$s.ms" -> st.ms(s).toDouble, s"stage.$s.jobs" -> jobs.size.toDouble,
        s"stage.$s.tasks" -> tasks.size.toDouble,
        s"stage.$s.shuffle_write_bytes" -> tasks.map(_.shuffleWriteBytes).sum.toDouble)
    }
    def scanned(stage: String, pathPart: String): Long = {
      val (a, b) = st.byStage.getOrElse(stage, (0L, -1L))
      t.executionsIn(a, b).flatMap(_.scanRows)
        .collect { case (p, metric, n) if p.contains(pathPart) => metric -> n }.toMap.values.sum
    }
    val p2Rows = scanned("P2", dropDir.getName)
    val p4Facts = scanned("P4", "fact_prize")
    val control = t.jobs.filter(j => t.fileOf(j) == "Control.scala")
    val controlExecs = t.executions.filter(e => Tracer.userFile(e.callSite) == "Control.scala")
    perStage.toMap ++ Map(
      "runall.ms" -> runAllMs.toDouble,
      "gate.ms" -> (runAllMs - st.sumMs).toDouble,
      "P2.input_rows" -> p2Rows.toDouble,
      "P2.useful_ratio" -> (if (p2Rows > 0) newRows.toDouble / p2Rows else 1.0),
      "P4.fact_rows_read" -> p4Facts.toDouble,
      "P4.useful_ratio" -> (if (p4Facts > 0) newFacts.toDouble / p4Facts else 1.0),
      "control.jobs" -> control.size.toDouble,
      "control.busy_ms" -> Metrics.unionMs(controlExecs.map(e => (e.startMs, e.endMs))).toDouble,
      "tables.jobs" -> t.jobs.count(j => t.fileOf(j) == "Tables.scala").toDouble)
  }

  // ---------------------------------------------------------------- serving

  def publish(mart: DataFrame): HttpServer =
    Serving.start(0,
      Map("/mart/all" -> mart, "/mart/statistic" -> Lottery.statistic(mart)),
      Map("/mart/number" -> (mart, "number_value")))

  /** One GET on a fresh connection: (status, body, milliseconds). */
  def get(port: Int, path: String): (Int, String, Double) = {
    val t0 = System.nanoTime()
    val c = new URL(s"http://127.0.0.1:$port$path").openConnection().asInstanceOf[HttpURLConnection]
    try {
      val code = c.getResponseCode
      val body = if (code == 200) new String(c.getInputStream.readAllBytes(), UTF_8) else ""
      (code, body, (System.nanoTime() - t0) / 1e6)
    } finally c.disconnect()
  }

  private val lastUpdate = """"lastUpdate":"([0-9-]+)"""".r

  /** One page load of the reference dashboard: its table and its
    * statistics card each make one call (SURVEY.md, sections 2.9 and
    * 3.2-3.3). */
  val pageLoad: Seq[String] = Seq("/mart/all", "/mart/statistic")

  /** Page loads timed after every publish. */
  val pageLoads = 25

  /** Every number's lookup route. The dashboard makes no such call, so
    * these are checked after every publish but not timed. */
  val lookups: Seq[String] = (0 until 100).map(n => s"/mart/number?number_value=$n")

  /** A GET body against the oracle; `/mart/all` rows in any order. */
  def bodyMatches(o: XsmbOracle, path: String, body: String): Boolean = path match {
    case "/mart/all" =>
      body.startsWith("[{") && body.endsWith("}]") &&
        body.drop(1).dropRight(1).split("(?<=\\}),(?=\\{)").toSet == o.allRows
    case "/mart/statistic" => body == o.statisticJson
    case p => body == o.numberJson(p.split("=").last.toInt)
  }

  // --------------------------------------------------------------- workloads

  final case class Dirs(work: File) {
    val drop = new File(work, "xsmb_drop")
    val warehouse = new File(work, "xsmb_warehouse")
    def reset(): Unit = Seq(drop, warehouse).foreach(FileUtils.deleteQuietly)
  }

  /** `xsmb_daily`. Set-up writes `history` days of drop and loads them
    * cold into an empty warehouse, `run.setupReps` times; only the loads
    * are timed. Each operation then lands the next day's file, runs the
    * chain, republishes and reads the new day back over HTTP. After it,
    * dashboard page loads are timed and every route's body is checked. */
  def daily(spark: SparkSession, run: Run, history: Int): Outcome = {
    val dirs = Dirs(run.work)
    val lay = Pipeline.Layout(dirs.warehouse.getAbsolutePath)
    val out = new Outcome
    val o = XsmbOracle.generated(run.seed, history)
    val backfillS = ArrayBuffer.empty[Double]
    var firstMart: DataFrame = null
    (1 to run.setupReps).foreach { _ =>
      dirs.reset()
      XsmbDrop.write(dirs.drop, run.seed, history)
      val t0 = System.nanoTime()
      firstMart = Pipeline.runAll(spark, dirs.drop.getAbsolutePath, lay.root)
      backfillS += (System.nanoTime() - t0) / 1e9
    }
    // every repetition loads the same drop; the one kept is checked
    out.count(check(spark, lay, o, 1)._2)
    out.setupS = Metrics.median(backfillS.toSeq)
    out.stat("backfill_rows_per_s", history.toLong * XsmbDrop.rowsPerDay / out.setupS)
    var runs = 1
    var server = publish(firstMart)
    var day = history
    val getMs = ArrayBuffer.empty[Double]
    val stored = ArrayBuffer.empty[Double]

    def refresh(tracer: Option[Tracer.Listener]): Unit = {
      tracer.foreach(_.drain(spark.sparkContext))
      val d = XsmbDrop.day(day)
      val t0 = System.nanoTime()
      XsmbDrop.land(dirs.drop, run.seed, day)
      val r0 = System.currentTimeMillis()
      val mart = Pipeline.runAll(spark, dirs.drop.getAbsolutePath, lay.root)
      val r1 = System.currentTimeMillis()
      val p0 = System.nanoTime()
      val next = publish(mart)
      server.stop(0)
      server = next
      val publishMs = (System.nanoTime() - p0) / 1e6
      val port = server.getAddress.getPort
      var tries = 0
      while (tries < 100 && !lastUpdate.findFirstMatchIn(get(port, "/mart/statistic")._2)
          .exists(_.group(1) == d.toString)) tries += 1
      val dropToServed = (System.nanoTime() - t0) / 1e9
      val trace = tracer.map(_.drain(spark.sparkContext))
      runs += 1
      day += 1
      o.addDay(d, XsmbDrop.seventh(run.seed, d))
      def checkedGet(p: String): Double = {
        val (code, body, ms) = get(port, p)
        out.count(
          if (code == 200 && bodyMatches(o, p, body)) Nil
          else Seq(s"GET $p after day $d: status $code, body ${body.take(160)}"))
        ms
      }
      val lat = Seq.fill(pageLoads)(pageLoad).flatten.map(checkedGet)
      lookups.foreach(checkedGet)
      val (st, problems) = check(spark, lay, o, runs)
      val late = if (tries < 100) Nil else Seq(s"day $d never reached /mart/statistic")
      val overrun = trace.filter(_ => st.sumMs > r1 - r0)
        .map(_ => s"stage times sum to ${st.sumMs} ms but runAll took ${r1 - r0} ms")
      out.count(problems ++ late ++ overrun)
      out.opSeconds += dropToServed
      getMs ++= lat
      stored += dirBytes(dirs.warehouse).toDouble / dirBytes(dirs.drop)
      out.heap(Metrics.liveHeapMb())
      trace.foreach { t =>
        out.layers += pipelineLayers(t, st, r1 - r0, dirs.drop,
          XsmbDrop.rowsPerDay.toLong, o.factRowsOf(d)) ++
          Metrics.sparkTotals(t, t.jobs) ++ Map(
            "serving.publish_ms" -> publishMs,
            "serving.snapshot_jobs" ->
              t.jobs.count(j => t.fileOf(j) == "Serving.scala").toDouble,
            "warehouse.files" -> partFiles(dirs.warehouse).toDouble,
            "drop_to_served_s" -> dropToServed)
      }
    }

    out.heap(Metrics.liveHeapMb()) // timing starts on a collected heap
    run.log("set-up done")
    // Refresh times still fall over the first refreshes after the cold
    // loads; the median of at least three drops a one-off stall.
    try out.measure(spark, run, minOps = 3)(refresh)
    finally server.stop(0)
    out.stat("get_p50_ms", Metrics.median(getMs.toSeq))
    out.stat("serving.get_p99_ms", Metrics.quantile(getMs.toSeq, 0.99))
    out.stat("stored_bytes_per_csv_byte", Metrics.median(stored.toSeq))
    out
  }
}
