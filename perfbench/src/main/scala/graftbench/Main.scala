package graftbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `perfbench/run.py`:
  * `Main --workload serve|ingest|curate --seed N --seconds S --trace 0|1
  *  --work DIR --cores N --trace-out FILE`.
  * Prints one `RESULT {...}` line; the launcher turns it into the
  * benchmark's result line. */
object Main {
  def json(x: Any): String = x match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, v) => json(k.toString) + ":" + json(v) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => json(m.toMap)
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case p: Product => json(p.productIterator.toSeq)
    case null => "null"
  }

  val Workloads = Set("serve", "ingest", "curate")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workloads(workload), s"unknown workload '$workload'")
    val seed = a("seed").toLong
    val tracer = new Tracer(a("trace") == "1")
    val cores = a("cores").toInt
    val work = a("work")

    val t0 = System.nanoTime()
    val spark = tracer.span("core.session", 0L, "setup") {
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.catalogImplementation", "in-memory")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/spark-local")
        .config(graft.core.EngineConf.recommended)
        .getOrCreate()
    }
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    tracer.install(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, work, seed, a("seconds").toDouble)

    // set-up (input generation and layout builds) and warm-up run once;
    // `setup_s` is the JVM's uptime when the first timed op starts
    def phase[T](span: String)(body: => T): (T, Double) = {
      val s0 = System.nanoTime()
      val out = tracer.span(span, 0L, "setup")(body)
      (out, (System.nanoTime() - s0) / 1e9)
    }
    val (buildS, warmS, outcome) = workload match {
      case "serve" =>
        val (l, b) = phase("core.setup")(Serve.build(ctx))
        (b, phase("core.warm")(Serve.warm(ctx, l))._2, Serve.run(ctx, l))
      case "ingest" =>
        val (st, b) = phase("core.setup")(Ingest.build(ctx))
        (b, phase("core.warm")(Ingest.warm(ctx, st))._2, Ingest.run(ctx, st))
      case "curate" =>
        (0.0, phase("core.warm")(Curate.warm(ctx))._2, Curate.run(ctx))
    }

    val e2e = Map(
      "setup_s" -> ctx.setupS,
      "latency_p50_s" -> outcome.latencyP50S,
      "throughput" -> outcome.ratePerS,
      "recall" -> outcome.recall)
    val layers = if (tracer.enabled) Layers.report(ctx, sessionS, a("trace-out"), outcome) else Map.empty[String, Double]
    val result = Map(
      "workload" -> workload, "seed" -> seed, "inputs_sha256" -> ctx.digest.hex,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "failures" -> ctx.failures.toSeq,
      "op_error_frac" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
      "jvm_uptime_s" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3,
      "session_s" -> sessionS, "build_s" -> buildS, "warm_s" -> warmS,
      "end_to_end" -> e2e,
      "detail" -> outcome.detail.map { case (n, v, u, b) => Map("name" -> n, "value" -> v, "unit" -> u, "better" -> b) },
      "per_layer" -> layers,
      "samples" -> ctx.samples.map { case (k, v) => k -> v.toSeq }.toMap)
    println("RESULT " + json(result))
    spark.stop()
  }
}
