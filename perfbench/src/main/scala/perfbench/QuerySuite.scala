package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.perfbenchshim.Tracer
import org.apache.spark.sql.SparkSession

/** `query_suite`: the 24 headline queries over generated tables, each
  * built with `q.fn` and forced with `queryExecution.toRdd.count()`.
  *
  * Set-up is one cold pass of the same shape as the timed ones. After
  * timing, an untimed output pass writes every result as `graft.Verify`
  * does (`results/<name>/` parquet and `results/oracle_sql.json`), for
  * the repository's DuckDB check `scripts/check.py`. */
object QuerySuite {

  def run(spark: SparkSession, run: Run, tables: String): Outcome = {
    val suite = graft.SparkEntry.all.filter(_.headline)
    val out = new Outcome

    // the cold pass: JIT, codegen and the engine's own caches fill here
    val t0 = System.nanoTime()
    suite.foreach { q =>
      try {
        q.fn(spark, tables).queryExecution.toRdd.count()
        out.count(Nil)
      } catch { case e: Exception => out.count(Seq(s"${q.name} (cold pass): $e")) }
    }
    out.setupS = (System.nanoTime() - t0) / 1e9
    out.heap(Metrics.liveHeapMb()) // timing starts on a collected heap
    run.log("cold pass done")

    out.measure(spark, run, minOps = 1) { tracer =>
      tracer.foreach(_.drain(spark.sparkContext))
      val layers = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      var constructWindows = List.empty[(Long, Long)]
      val t0 = System.nanoTime()
      suite.foreach { q =>
        val q0 = System.nanoTime()
        val c0 = System.currentTimeMillis()
        try {
          val df = q.fn(spark, tables)
          val c1 = System.currentTimeMillis()
          val q1 = System.nanoTime()
          df.queryExecution.toRdd.count()
          val q2 = System.nanoTime()
          out.count(Nil)
          if (tracer.nonEmpty) {
            val qe = df.queryExecution
            val plan = Seq("optimization", "planning")
              .flatMap(qe.tracker.phases.get).map(_.durationMs).sum.toDouble
            layers(s"query.${q.name}.s") = (q2 - q0) / 1e9
            layers("suite.construct_ms") += (q1 - q0) / 1e6
            layers("suite.plan_ms") += plan
            layers("suite.execute_ms") += (q2 - q1) / 1e6 - plan
            layers("suite.exchanges") += Tracer.exchangeCount(qe.executedPlan)
            constructWindows ::= ((c0, c1))
          }
        } catch { case e: Exception => out.count(Seq(s"${q.name}: $e")) }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      out.opSeconds += secs
      tracer.map(_.drain(spark.sparkContext)).foreach { t =>
        layers("suite.construct_jobs") =
          constructWindows.map { case (a, b) => t.jobsIn(a, b).size }.sum.toDouble
        layers("tables.jobs") = t.jobs.count(j => t.fileOf(j) == "Tables.scala").toDouble
        layers("suite_s") = secs
        out.layers += layers.toMap ++ Metrics.sparkTotals(t, t.jobs)
      }
      out.heap(Metrics.liveHeapMb())
    }

    val results = new File(run.work, "results")
    // untimed, so three queries at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try suite.map { q =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          q.fn(spark, tables).coalesce(1).write.mode("overwrite")
            .parquet(new File(results, q.name).getAbsolutePath)
        } catch {
          case e: Exception => out.synchronized(out.fail(s"${q.name} (output pass): $e"))
        }
      })
    }.foreach(_.get())
    finally pool.shutdown()
    val oracle = suite.flatMap(q => q.sql.map(q.name -> _))
    Files.write(new File(results, "oracle_sql.json").toPath,
      Json.obj(oracle.map { case (k, v) => k -> Json.str(v) }).getBytes(UTF_8))
    run.log("output pass done")
    out
  }
}
