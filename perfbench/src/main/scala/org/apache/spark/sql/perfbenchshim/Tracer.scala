package org.apache.spark.sql.perfbenchshim

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The benchmark's own view of what Spark ran, recorded from outside the
  * engine by a `SparkListener`.
  *
  * Every job is filed under the source file of the action that caused it.
  * A job started by AQE or a broadcast runs on an async thread whose own
  * call site names no engine file, so a job that belongs to a SQL
  * execution takes the call site recorded when that execution started.
  * It sits in a Spark package only to read two members Spark keeps
  * package-private: the listener bus drain and the finished execution's
  * `QueryExecution`.
  */
object Tracer {

  final case class Task(stageId: Int, runMs: Long, schedDelayMs: Long, gcMs: Long,
                        shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

  final case class Job(id: Int, submitMs: Long, stageIds: Seq[Int],
                       executionId: Option[Long], ownCallSite: String)

  /** A finished SQL execution: its call site, wall interval and, per file
    * scan, (scanned root path, row metric id, rows). A cached relation's
    * scan shows up, with the same metric, in every execution reading it. */
  final case class Execution(id: Long, startMs: Long, var endMs: Long, callSite: String,
                             var scanRows: Seq[(String, Long, Long)] = Nil)

  final case class Trace(jobs: Seq[Job], tasks: Seq[Task], executions: Seq[Execution]) {
    private val execById = executions.map(e => e.id -> e).toMap

    /** Source file (e.g. `Control.scala`) of the action behind `job`. */
    def fileOf(job: Job): String = job.executionId.flatMap(execById.get)
      .map(e => userFile(e.callSite)).getOrElse(userFile(job.ownCallSite))

    def jobsIn(fromMs: Long, toMs: Long): Seq[Job] =
      jobs.filter(j => j.submitMs >= fromMs && j.submitMs <= toMs)

    def tasksOf(js: Seq[Job]): Seq[Task] = {
      val stages = js.flatMap(_.stageIds).toSet
      tasks.filter(t => stages(t.stageId))
    }

    def executionsIn(fromMs: Long, toMs: Long): Seq[Execution] =
      executions.filter(e => e.startMs >= fromMs && e.startMs <= toMs)
  }

  /** First stack frame outside Spark, Scala and the JDK, as its file name. */
  def userFile(callSite: String): String = {
    val frame = """^\s*([\w.$]+)\.[\w$]+\(([\w.]+\.(?:scala|java)):\d+\)""".r
    callSite.linesIterator.flatMap(l => frame.findFirstMatchIn(l)).collectFirst {
      case m if !Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")
        .exists(m.group(1).startsWith) => m.group(2)
    }.getOrElse("unknown")
  }

  /** Every node of an executed plan, through AQE stages, cached
    * relations and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case m: InMemoryTableScanExec => m +: planNodes(m.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  def exchangeCount(p: SparkPlan): Int = planNodes(p).count {
    case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
    case _ => false
  }

  private def scans(p: SparkPlan): Seq[(String, Long, Long)] = planNodes(p).collect {
    case s: FileSourceScanExec if s.metrics.contains("numOutputRows") =>
      val rows = s.metrics("numOutputRows")
      (s.relation.location.rootPaths.map(_.toString).mkString(","), rows.id, rows.value)
  }

  final class Listener extends SparkListener {
    private val jobs = ArrayBuffer.empty[Job]
    private val tasks = ArrayBuffer.empty[Task]
    private val execs = ArrayBuffer.empty[Execution]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      jobs += Job(e.jobId, e.time, e.stageIds,
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong),
        p.flatMap(x => Option(x.getProperty("callSite.long"))).getOrElse(""))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val i = e.taskInfo
        val run = m.executorRunTime
        val delay = math.max(0L, i.duration - run - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime)
        val t = Task(e.stageId, run, delay, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
        synchronized { tasks += t }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        execs += Execution(s.executionId, s.time, -1L, s.details)
      }
      case end: SparkListenerSQLExecutionEnd =>
        val rows = Option(end.qe).map(qe => scans(qe.executedPlan)).getOrElse(Nil)
        synchronized {
          execs.find(_.id == end.executionId).foreach { x => x.endMs = end.time; x.scanRows = rows }
        }
      case _ =>
    }

    /** Everything recorded since the last drain; waits for the bus first. */
    def drain(sc: SparkContext): Trace = {
      sc.listenerBus.waitUntilEmpty()
      synchronized {
        val t = Trace(jobs.toList, tasks.toList, execs.toList)
        jobs.clear(); tasks.clear(); execs.clear()
        t
      }
    }
  }

  def attach(spark: SparkSession): Listener = {
    val l = new Listener
    spark.sparkContext.addSparkListener(l)
    l
  }

  def detach(spark: SparkSession, l: Listener): Unit = {
    spark.sparkContext.listenerBus.waitUntilEmpty()
    spark.sparkContext.removeSparkListener(l)
  }
}
