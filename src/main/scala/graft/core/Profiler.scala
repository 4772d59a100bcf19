package graft.core

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** Per-key Spark cost attribution: a listener plus a [[span]] helper.
  *
  * `span(key)(body)` sets the [[Profiler.KeyProperty]] local property on
  * the calling thread for the length of `body`. Every job carries its
  * submitting thread's local properties, and those reach every thread a
  * key's work runs on: [[DriverJobs]] legs and AQE's exchange futures
  * copy the caller's properties (`SQLExecution.withThreadLocalCaptured`)
  * and threads started inside the span inherit them. So each job is
  * attributed to its key exactly, by the property it was submitted
  * with, not by the time interval it started in. A job without the
  * property counts as [[unattributed]].
  *
  * Action jobs and AQE jobs are counted apart. An AQE job is one Spark
  * submits from an adaptive plan's query-stage future (result stage
  * `…withThreadLocalCaptured… at CompletableFuture.java`); on Spark 4.1
  * that is every job of a plan with an exchange, its final result stage
  * included, and how many a plan needs varies between identical calls.
  * The action jobs (RDD actions, plans without an exchange) of a call
  * repeat exactly.
  *
  * Each stage's task metrics go to the key of the first job that listed
  * the stage, and its executor run time also to that job's call site,
  * e.g. `count at IvfIndex.scala:364`: the site of the Dataset action
  * whose SQL execution submitted the job, else the job's result-stage
  * name (an RDD action's site). So a row names the actions its time
  * went to, AQE jobs included.
  *
  * Listener events arrive asynchronously: call [[drain]] before reading
  * [[rows]] or [[unattributed]].
  */
final class Profiler private (sc: SparkContext) extends SparkListener {
  import Profiler._

  private val byKey = mutable.LinkedHashMap[String, Row]()
  // stage id -> the (key, call site) of the first job that listed it
  private val stageOwner = mutable.Map[Int, (String, String)]()
  // running SQL execution id -> the call site of its Dataset action
  private val execSite = mutable.Map[String, String]()
  private var outside = 0L

  private def row(key: String): Row = byKey.getOrElseUpdate(key, Row())

  /** Run `body` with its jobs attributed to `key`; adds one call and its
    * wall time to the key's row. */
  def span[T](key: String)(body: => T): T = {
    val prev = sc.getLocalProperty(KeyProperty)
    sc.setLocalProperty(KeyProperty, key)
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(KeyProperty, prev)
      synchronized { val r = row(key); r.calls += 1; r.wallS += wall }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(KeyProperty)))
    key match {
      case None => outside += 1
      case Some(k) =>
        val name = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
        val r = row(k)
        if (name.contains("withThreadLocalCaptured") && name.contains("at CompletableFuture.java"))
          r.aqeJobs += 1
        else r.jobs += 1
        val site = Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(execSite.get).getOrElse(name)
        e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = k -> site)
    }
  }

  // an execution starts on the bus before any of its jobs
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(execSite(s.executionId.toString) = shortSite(s.details))
    case s: SparkListenerSQLExecutionEnd => synchronized(execSite -= s.executionId.toString)
    case _ => ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageOwner.get(i.stageId).foreach { case (k, site) =>
      val r = row(k)
      r.stages += 1
      r.tasks += i.numTasks
      Option(i.taskMetrics).foreach { m =>
        val runS = m.executorRunTime / 1e3
        r.executorCpuS += m.executorCpuTime / 1e9
        r.executorRunS += runS
        r.gcS += m.jvmGCTime / 1e3
        r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        r.resultBytes += m.resultSize
        r.writtenBytes += m.outputMetrics.bytesWritten
        r.recordsRead += m.inputMetrics.recordsRead
        r.siteRunS += site -> (r.siteRunS.getOrElse(site, 0.0) + runS)
      }
    }
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Jobs submitted outside every span since [[Profiler.install]]. */
  def unattributed: Long = synchronized(outside)

  /** One row per key, in first-seen order; each a copy. */
  def rows: Seq[(String, Row)] = synchronized(byKey.toSeq.map { case (k, r) => k -> r.copy() })

  /** Detach from the context; the rows stay readable. */
  def close(): Unit = sc.removeSparkListener(this)
}

object Profiler {

  /** The Spark local property a span sets to its key. */
  val KeyProperty = "graft.profile.key"

  /** A profiler listening on `sc` from now on. */
  def install(sc: SparkContext): Profiler = {
    val p = new Profiler(sc)
    sc.addSparkListener(p)
    p
  }

  /** The short form (`count at IvfIndex.scala:364`) of a call site's
    * long form, whose first line is the last Spark frame and whose
    * second is the first frame outside Spark. */
  private def shortSite(longForm: String): String = longForm.split('\n') match {
    case Array(inSpark, caller, _*) =>
      inSpark.takeWhile(_ != '(').split('.').last + " at " +
        caller.drop(caller.lastIndexOf('(') + 1).stripSuffix(")")
    case _ => longForm
  }

  /** One key's totals over its calls; `siteRunS` is executor run time
    * by call site. */
  final case class Row(var calls: Long = 0, var wallS: Double = 0, var jobs: Long = 0,
      var aqeJobs: Long = 0, var stages: Long = 0, var tasks: Long = 0,
      var executorCpuS: Double = 0, var executorRunS: Double = 0, var gcS: Double = 0,
      var shuffleReadBytes: Long = 0, var shuffleWriteBytes: Long = 0, var spillBytes: Long = 0,
      var resultBytes: Long = 0, var writtenBytes: Long = 0, var recordsRead: Long = 0,
      var siteRunS: Map[String, Double] = Map.empty) {

    /** The three call sites with the most executor run time. */
    def topSites: Seq[(String, Double)] = siteRunS.toSeq.sortBy { case (s, t) => (-t, s) }.take(3)

    def json: String = {
      def str(s: String) = "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      val sites = topSites.map { case (s, t) => f"""{"site":${str(s)},"executor_run_s":$t%.3f}""" }
      f"""{"calls":$calls,"wall_s":$wallS%.3f,"jobs":$jobs,"aqe_jobs":$aqeJobs,""" +
        f""""stages":$stages,"tasks":$tasks,"executor_cpu_s":$executorCpuS%.3f,""" +
        f""""executor_run_s":$executorRunS%.3f,"gc_s":$gcS%.3f,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""spill_bytes":$spillBytes,"result_bytes":$resultBytes,""" +
        s""""written_bytes":$writtenBytes,"records_read":$recordsRead,""" +
        s""""top_sites":${sites.mkString("[", ",", "]")}}"""
    }
  }
}
