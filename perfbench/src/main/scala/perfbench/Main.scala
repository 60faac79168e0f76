package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR (--history DAYS | --tables DIR) [--min-ops N]`.
  *
  * `--min-ops` overrides the workload's least number of timed operations;
  * run.py's class-data-sharing training run passes 0.
  *
  * Writes the run record to `<work>/record.json`: the contract's result
  * (correct, attempted, failed, metrics) plus every metric of both kinds
  * and the host it ran on. run.py prints the result line from it. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = Runtime.getRuntime.availableProcessors()
    val run = Run(opt("workload"), opt("seed").toLong, opt("seconds").toInt,
      opt("trace") == "1", new File(opt("work")), setupReps = 2,
      minOps = opt.get("min-ops").map(_.toInt))
    val loadStart = Metrics.loadAvg()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${run.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(run.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(run.work, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run.log("session started")
    val out = try run.workload match {
      case "xsmb_daily" => XsmbBench.daily(spark, run, opt("history").toInt)
      case "query_suite" => QuerySuite.run(spark, run, opt("tables"))
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: Exception =>
        val o = new Outcome
        o.fail(s"run aborted: $e")
        e.printStackTrace()
        o
    } finally spark.stop()

    val host = Seq(
      "nproc" -> cpus.toString, "master" -> Json.str(s"local[$cpus]"),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "loadavg_start" -> Json.num(loadStart), "loadavg_end" -> Json.num(Metrics.loadAvg()),
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "spark" -> Json.str(spark.version))
    def metrics(vs: Map[String, Double], units: Seq[(String, String)]): String =
      Json.obj(units.map { case (n, u) =>
        n -> Json.obj(Seq("value" -> Json.num(vs(n)), "unit" -> Json.str(u)))
      })
    val record = Json.obj(Seq(
      "workload" -> Json.str(run.workload), "seed" -> run.seed.toString,
      "seconds" -> run.seconds.toString, "trace" -> (if (run.trace) "1" else "0"),
      "correct" -> (out.problems.isEmpty && out.failed == 0).toString,
      "attempted" -> out.attempted.toString, "failed" -> out.failed.toString,
      "op_seconds" -> out.opSeconds.map(Json.num).mkString("[", ",", "]"),
      "end_to_end" -> metrics(out.endToEnd, Metrics.endToEnd),
      "per_layer" -> metrics(out.perLayer, Metrics.perLayer.map { case (n, u, _) => n -> u }),
      "problems" -> out.problems.take(20).map(Json.str).mkString("[", ",", "]"),
      "host" -> Json.obj(host)))
    Files.write(new File(run.work, "record.json").toPath, record.getBytes(UTF_8))
    out.problems.take(20).foreach(p => System.err.println(s"[perfbench] problem: $p"))
  }
}
