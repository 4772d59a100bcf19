package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The traced run's per-layer view: a table per span name, the per-op
  * counters BENCHMARK.json names, and the trace file. */
object Layers {
  /** Milliseconds of `[lo, hi]` covered by the union of `iv`. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var end = lo
    var sum = 0L
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { sum += b - math.max(a, end); end = b }
      }
    sum
  }

  def report(ctx: Ctx, sessionS: Double, traceOut: String, outcome: Outcome): Map[String, Double] = {
    val sc = ctx.spark.sparkContext
    val tr = ctx.tracer
    val (counters, intervals) = tr.attributeJobs(sc)
    val spans = tr.spans.toSeq
    val childWall = spans.filter(_.parent >= 0).groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.wallS).sum }
    def total(ss: Seq[Span]): Counters = {
      val c = Counters()
      ss.foreach(s => counters.get(s.id).foreach(c += _))
      c
    }

    val table = spans.groupBy(s => (s.name, s.kind)).toSeq.sortBy(_._1).map { case ((name, kind), ss) =>
      val c = total(ss)
      val n = ss.length.toDouble
      val results = ctx.sums.getOrElse(s"results.$name", 0.0)
      val row = mutable.LinkedHashMap[String, Any](
        "span" -> name, "layer" -> ss.head.layer, "kind" -> ss.head.kind, "calls" -> ss.length,
        "wall_s_p50" -> Stats.median(ss.map(_.wallS)), "wall_s_sum" -> ss.map(_.wallS).sum,
        "self_s_sum" -> ss.map(s => s.wallS - childWall.getOrElse(s.id, 0.0)).sum,
        "jobs" -> c.jobs / n, "stages" -> c.stages / n, "tasks" -> c.tasks / n,
        "executor_cpu_s" -> c.executorCpuS / n, "executor_run_s" -> c.executorRunS / n,
        "gc_s" -> c.gcS / n, "shuffle_bytes" -> c.shuffleBytes / n, "spill_bytes" -> c.spillBytes / n,
        "result_bytes" -> c.resultBytes / n, "records_read" -> c.recordsRead / n,
        "written_bytes" -> c.writtenBytes / n)
      // result counts and extras are recorded for timed calls only
      if (kind == "op") {
        if (results > 0) row("records_read_per_result") = c.recordsRead / results
        ctx.sums.foreach { case (k, v) =>
          if (k.startsWith(s"extra.$name.")) row(k.stripPrefix(s"extra.$name.")) = v / n
        }
      }
      row.toMap
    }

    val ops = spans.filter(_.kind == "op")
    val nOps = math.max(1, ops.map(_.opId).distinct.size).toDouble
    val c = total(ops)
    val driverSelf = ops.map { s =>
      s.wallS - covered(intervals.getOrElse(s.id, Nil), s.startMs, s.endMs) / 1e3
    }.sum
    // the operators layer runs timed calls on every workload (the /query
    // compositions on serve, pipelineClean on curate), so its own
    // per-call figures can be compared across workloads
    val opr = ops.filter(_.layer == "operators")
    val co = total(opr)
    val nOpr = math.max(1, opr.length).toDouble
    val metrics = Map(
      "core.session_s" -> sessionS,
      "operators.wall_s_p50" -> (if (opr.isEmpty) 0.0 else Stats.median(opr.map(_.wallS))),
      "operators.jobs_per_call" -> co.jobs / nOpr,
      "operators.executor_cpu_s_per_call" -> co.executorCpuS / nOpr,
      "setup.jobs" -> total(spans.filter(_.kind == "setup")).jobs.toDouble,
      "spark.jobs_per_op" -> c.jobs / nOps,
      "spark.stages_per_op" -> c.stages / nOps,
      "spark.tasks_per_op" -> c.tasks / nOps,
      "spark.executor_cpu_s_per_op" -> c.executorCpuS / nOps,
      "spark.gc_s_per_op" -> c.gcS / nOps,
      "spark.shuffle_bytes_per_op" -> c.shuffleBytes / nOps,
      "spark.result_bytes_per_op" -> c.resultBytes / nOps,
      "spark.written_bytes_per_op" -> c.writtenBytes / nOps,
      "driver.self_s_per_op" -> driverSelf / nOps,
      "trace.latency_p50_s" -> outcome.latencyP50S)

    val doc = Map(
      "per_layer" -> metrics,
      "spans_table" -> table,
      "detail" -> outcome.detail.map { case (n, v, u, b) => Map("name" -> n, "value" -> v, "unit" -> u, "better" -> b) },
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "op" -> s.opId,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
        "jobs" -> counters.get(s.id).map(_.jobs).getOrElse(0L))))
    Files.write(Paths.get(traceOut), Main.json(doc).getBytes(StandardCharsets.UTF_8))
    metrics
  }
}
