package graftbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

object Stats {
  /** Python's `statistics.median`. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = { require(xs.nonEmpty, "mean of no samples"); xs.sum / xs.length }

  def geomean(xs: Seq[Double]): Double = math.exp(mean(xs.map(math.log)))

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.length < 11) None
    else {
      val s = xs.sorted
      val idx = s.length - 11
      Some((100.0 * (idx + 1) / s.length, s(idx)))
    }
}

/** State of one run: the session, the tracer, timed samples and the
  * op and check ledger. An op is one closed-loop client request; it
  * fails when it throws or when any of its output checks fails. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String,
    val seed: Long, val seconds: Double) {
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val sums = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()
  val digest = new InputDigest
  private var opId = 0L
  private var opOk = true
  def currentOp: Long = opId

  /** Off while warming up: calls are still checked, but not measured. */
  var recording = true

  def add(key: String, x: Double): Unit = if (recording) sums(key) = sums.getOrElse(key, 0.0) + x
  def sample(key: String, x: Double): Unit =
    if (recording) samples.getOrElseUpdate(key, ArrayBuffer()) += x

  /** Times `body` under span `span`, recording the wall seconds as a
    * sample of `key`. */
  def timed[T](key: String, span: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = tracer.span(span, opId, if (recording) "op" else "setup")(body)
    sample(key, (System.nanoTime() - t0) / 1e9)
    out
  }

  /** An untimed call that only the traced run makes, to decompose a
    * composite call into its layers. */
  def traceOnly(span: String)(body: => Any): Unit =
    if (tracer.enabled) tracer.span(span, opId, "decomp")(body)

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      opOk = false
      if (failures.length < 20) failures += s"op $opId: $what"
    }

  def op(name: String)(body: => Unit): Unit = {
    opId += 1
    attempted += 1
    opOk = true
    try body
    catch {
      case t: Throwable =>
        opOk = false
        if (failures.length < 20) failures += s"op $opId ($name) threw: $t"
    }
    if (!opOk) failed += 1
  }

  def path(rel: String): String = s"$work/$rel"

  /** Bytes and file count under `dir` (recursive; 0 if absent). */
  def du(dir: String): (Long, Long) = {
    val files = listing(dir)
    (files.values.sum, files.size.toLong)
  }

  /** Sizes of the files under `dir`, by path. */
  def listing(dir: String): Map[String, Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else {
      val it = fs.listFiles(p, true)
      val out = mutable.Map[String, Long]()
      while (it.hasNext) { val f = it.next(); out(f.getPath.toString) = f.getLen }
      out.toMap
    }
  }

  def writeParquet(df: DataFrame, rel: String): String = {
    val out = path(rel)
    df.coalesce(1).write.mode("overwrite").parquet(out)
    out
  }

  /** Seconds from JVM start to the first timed op: session start,
    * input generation, layout builds and warm-up. */
  var setupS: Double = Double.NaN

  /** Runs the closed loop: `step` (one cycle of requests) is called
    * until the run's time is up and at least `minCycles` cycles ran, so
    * every run samples each op type the same number of times or more. */
  def loop(minCycles: Int = 1)(step: Int => Unit): Double = {
    if (setupS.isNaN) setupS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || i < minCycles) { step(i); i += 1 }
    (System.nanoTime() - t0) / 1e9
  }
}

/** What a workload hands back: its end-to-end metrics (the four every
  * workload reports, see BENCHMARK.json) plus the workload-specific
  * figures the report line carries. */
final case class Outcome(latencyP50S: Double, ratePerS: Double, recall: Double,
    detail: Seq[(String, Double, String, String)])
