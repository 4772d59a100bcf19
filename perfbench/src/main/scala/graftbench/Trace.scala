package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One span: a call the benchmark makes into a layer's public function. */
final case class Span(id: Int, name: String, kind: String, opId: Long, parent: Int,
    startMs: Long, endMs: Long, wallS: Double) {
  def layer: String = name.takeWhile(_ != '.')
}

/** Per-span Spark counters, summed over the jobs attributed to it. */
final case class Counters(var jobs: Long = 0, var stages: Long = 0, var tasks: Long = 0,
    var executorCpuS: Double = 0, var executorRunS: Double = 0, var gcS: Double = 0,
    var shuffleBytes: Long = 0, var spillBytes: Long = 0, var resultBytes: Long = 0,
    var recordsRead: Long = 0, var writtenBytes: Long = 0) {
  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    executorCpuS += o.executorCpuS; executorRunS += o.executorRunS; gcS += o.gcS
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes; resultBytes += o.resultBytes
    recordsRead += o.recordsRead; writtenBytes += o.writtenBytes
  }
}

final case class JobStart(id: Int, startMs: Long, stageIds: Seq[Int])

/** Records job and stage events. Jobs are attributed to spans later, by
  * the time interval they started in: the library submits some jobs from
  * its own thread pools, which do not inherit job groups or local
  * properties, so the interval is the only attribution that sees them. */
final class JobListener extends SparkListener {
  val jobs = mutable.ArrayBuffer[JobStart]()
  val jobEnd = mutable.Map[Int, Long]()
  val stageOwner = mutable.Map[Int, Int]()
  val stageCounters = mutable.Map[Int, Counters]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobStart(e.jobId, e.time, e.stageIds)
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobEnd(e.jobId) = e.time }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stageCounters(i.stageId) = if (m == null) Counters(stages = 1, tasks = i.numTasks) else Counters(
      stages = 1, tasks = i.numTasks,
      executorCpuS = m.executorCpuTime / 1e9, executorRunS = m.executorRunTime / 1e3,
      gcS = m.jvmGCTime / 1e3,
      shuffleBytes = m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled, resultBytes = m.resultSize,
      recordsRead = m.inputMetrics.recordsRead, writtenBytes = m.outputMetrics.bytesWritten)
  }
}

/** Span recorder for the single client thread. Spans stay in memory and
  * are written out when the run ends. Disabled, it only runs the body. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  val listener = new JobListener

  def install(sc: SparkContext): Unit = if (enabled) sc.addSparkListener(listener)

  /** `kind`: "op" for a timed client call, "setup" for set-up, and
    * "decomp" for the extra calls that split a composite op by layer. */
  def span[T](name: String, opId: Long, kind: String = "op")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - t0) / 1e9
        stack = stack.tail
        spans += Span(id, name, kind, opId, parent, ms0, System.currentTimeMillis(), wall)
      }
    }

  /** Counters per span id. A job goes to the innermost span open when it
    * started; stage counters go to the job that first listed the stage. */
  /** Also returns each span's job intervals (start, end ms). */
  def attributeJobs(sc: SparkContext): (Map[Int, Counters], Map[Int, Seq[(Long, Long)]]) = {
    // all events must have reached the listener before they are read
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    val out = mutable.Map[Int, Counters]()
    val intervals = mutable.Map[Int, mutable.ArrayBuffer[(Long, Long)]]()
    listener.synchronized {
      val jobSpan = listener.jobs.flatMap { j =>
        spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
          .maxByOption(s => (s.startMs, s.id)).map(s => j.id -> s.id)
      }.toMap
      listener.jobs.foreach { j =>
        jobSpan.get(j.id).foreach { s =>
          out.getOrElseUpdate(s, Counters()).jobs += 1
          intervals.getOrElseUpdate(s, mutable.ArrayBuffer()) +=
            (j.startMs -> listener.jobEnd.getOrElse(j.id, j.startMs))
        }
      }
      listener.stageCounters.foreach { case (stage, c) =>
        listener.stageOwner.get(stage).flatMap(jobSpan.get)
          .foreach(s => out.getOrElseUpdate(s, Counters()) += c)
      }
    }
    (out.toMap, intervals.map { case (k, v) => k -> v.toSeq }.toMap)
  }
}
