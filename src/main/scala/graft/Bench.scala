package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every `SparkEntry.queries` entry against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
  *
  * Trustworthiness controls (the r2 driver artifact was inflated 3-16×
  * by machine contention from a still-running test JVM):
  *  - the JSON carries a `preflight` block — system load average at
  *    start/end and the count of other live JVMs — so a contaminated
  *    run is detectable from the artifact itself instead of needing a
  *    re-run to adjudicate;
  *  - `SPARK_GRAFT_BENCH_REPEAT=n` measures each query n times and
  *    reports the minimum (the standard noise floor estimator); the
  *    default 1 keeps the driver's cold-build semantics comparable
  *    with earlier rounds.
  *  - a `warm` block re-times the index-backed text queries after
  *    their memoized index builds, separating serve cost from build
  *    cost (the build is a batch job at scale, not a per-query tax).
  *  - a `profile` block gives each timed key's Spark cost, from one
  *    [[graft.core.Profiler]] span per run: jobs (action and AQE
  *    apart), stages, tasks, executor time, shuffle, spill, result and
  *    written bytes, and the call sites the executor time went to —
  *    `queries` sums a key's main-loop runs, `warm` its warm re-run,
  *    and `unattributed` counts the jobs submitted outside every span.
  */
object Bench {

  private def loadAvg: Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal, total) jiffies from /proc/stat. Hypervisor steal is the
    * contention channel the load-average gate CANNOT see: r7 observed
    * clean-gate runs where individual queries inflated 4-9× while
    * load_avg_start was 0.05 — time this guest's runnable vCPUs spent
    * waiting for the host. Sampling steal across the run makes the
    * artifact carry that verdict itself. */
  private def cpuTicks: (Long, Long, Long) = {
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val parts =
        try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      (if (parts.length > 7) parts(7) else 0L,
        if (parts.length > 4) parts(4) else 0L, parts.sum)
    } catch { case _: Throwable => (0L, 0L, 0L) }
  }

  /** Other live JVMs (sbt shells, test runners, other drivers) — >1
    * alongside a bench is the contention signature seen in r2. */
  private def otherJvms: Long = {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().filter { p =>
      p.pid() != self && p.info().command().orElse("").contains("java")
    }.count()
  }

  /** Queries whose first run IS the index/layout build. With repeat
    * >= 2 the second run serves the `VersionedMemo` (a map lookup,
    * ~0.1 s), so take-min would report serve cost under a build label
    * — these report their FIRST (cold) run instead. The delta queries
    * belong here too: they memoize their BASE index
    * (`buildCachedFor`), so a repeat run would report delta cost minus
    * the base build under a label that includes it. `persist_chunks_
    * build` / `pq_build` are the durable layouts' labeled build
    * entries (VERDICT r6 #2); the serve queries over those layouts
    * report their cold first run too, which — because builds run
    * FIRST (see the ordering below) — is a pure serve, never a hidden
    * build. */
  private val buildQueries =
    Set("ivf_build", "nsw_build", "nsw_build_lsh", "ivf_add_delta", "nsw_add_delta",
      "persist_chunks_build", "pq_build", "nsw_generation_build",
      // the BPE trainers are memoized (round 9): without a build-first
      // cold label, bpe_apply (alphabetically first) would pay the
      // training and everyone's take-min would hide it under the memo
      "bpe_train", "bpe_train_batched")
      // round 10: ivf/nsw_search_asof left this set — the whole
      // four-batch scenario layout is now session-memoized
      // (SnapshotLayout.pristineScenario) and each invocation serves
      // from a filesystem copy, so under repeat mode take-min reports
      // the recurring copy+serve+grid cost; the one-time scenario
      // build lands on the alphabetically-first scenario entry's cold
      // run (ivf_compact / nsw_compact, which share the memo)

  /** Serve entries whose layout is built by a `buildQueries` member:
    * reported as their cold FIRST run (an honest serve-from-disk
    * number even under take-min repeat mode), relying on build-first
    * ordering to keep the layout build out of that first run. */
  private val persistedServeQueries =
    Set("query_chunks_persisted_ivf", "query_chunks_persisted_nsw", "ivf_search_pq",
      "query_maxsim_persisted")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "1").toInt
    // Idle gate: a preflight load above this marks the whole artifact
    // `contaminated` — every cross-round bench anomaly so far traced
    // to machine contention, so the artifact must carry its own
    // admissibility verdict instead of needing a re-run to adjudicate.
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_LOAD", "1.5").toDouble
    // comma-separated query-key filter for scale-curve runs (the exact
    // n² nsw_build oracle mode is deliberately excluded above sf0.1)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val maxSteal = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_STEAL", "3.0").toDouble
    val loadStart = loadAvg
    val jvmsStart = otherJvms
    val (stealStart, iowaitStart, ticksStart) = cpuTicks
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(graft.core.EngineConf.recommended)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: pay JVM/codegen/parquet-footer startup once,
    // not inside the first measured query.
    try SparkEntry.queries("q1_agg")(spark, sfDir).count()
    catch { case _: Throwable => () }
    val profiler = graft.core.Profiler.install(spark.sparkContext)
    def timeOnce(key: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      // A failed query must not silently contribute ~0s and make the
      // bench LOOK faster: record the error and report it in the JSON.
      val err = try { profiler.span(key)(fn(spark, sfDir).count()); None } catch {
        case t: Throwable =>
          System.err.println(s"BENCH FAILURE $key: $t")
          Some(t.getClass.getSimpleName)
      }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    // Deterministic BUILD-FIRST order: the labeled build entries run
    // before everything else, so a durable layout's one-time cost
    // lands under its own build label and never on whichever serve
    // query happens to sort first alphabetically (the r3/r4/r6
    // bench-label honesty gap, closed structurally).
    val results = SparkEntry.queries.toSeq
      .sortBy { case (name, _) => (if (buildQueries(name)) 0 else 1, name) }
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val runs = (1 to math.max(1, repeat)).map(_ => timeOnce(name, fn))
      // per-repeat distribution to stderr when asked: the floors are
      // cross-run minima, so a variance question ("is this key noisy
      // or regressed?") needs the raw repeats, not the min
      if (sys.env.contains("SPARK_GRAFT_BENCH_VERBOSE"))
        System.err.println(f"BENCHRUNS $name%-28s " +
          runs.map(r => f"${r._1}%.2f").mkString(" "))
      val t = if (buildQueries(name) || persistedServeQueries(name)) runs.head._1
        else runs.map(_._1).min
      (name, t, runs.flatMap(_._2).headOption)
    }
    // Warm serve times for the memoized/persisted index-backed
    // queries: the main loop's first invocation paid the index build
    // (or a cold file read for the persisted layouts); these re-runs
    // measure the steady-state serving path the index exists for.
    // a warm re-run that FAILS must not report its time-to-exception
    // as a serve time — mark it in the JSON instead
    val warm = Seq("query_text_ivf", "query_text_nsw", "query_text_chunks",
        "query_chunks_persisted_ivf", "query_chunks_persisted_nsw", "ivf_search_pq",
        "query_maxsim_persisted")
      .filter(name => only.forall(_.contains(name)))
      .flatMap { name =>
        SparkEntry.queries.get(name).map { fn =>
          val (t, err) = timeOnce(s"warm:$name", fn)
          (name, err.fold(t.toString)(e => "\"failed:" + e + "\""))
        }
      }
    // a failed query's time-to-exception is not a measurement: it goes
    // to `errors` only, and does not contribute to `queries`/`total`
    val qs = results.collect { case (k, v, None) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) => s"\"" + k + "\":\"" + e + "\"" }
      .mkString("{", ",", "}")
    val warmJson = warm.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    profiler.drain()
    val rows = profiler.rows.toMap
    def profileOf(names: Seq[String], prefix: String): String = names
      .flatMap(k => rows.get(prefix + k).map(r => "\"" + k + "\":" + r.json))
      .mkString("{", ",", "}")
    val profile = s"""{"unattributed":${profiler.unattributed},""" +
      s""""queries":${profileOf(results.map(_._1), "")},""" +
      s""""warm":${profileOf(warm.map(_._1), "warm:")}}"""
    // gate on START load only: the bench's own 32 threads legitimately
    // raise the end load — pre-existing load is the contamination
    // signal. Steal is gated over the WHOLE run: it measures the
    // host's interference with this guest, which the bench's own load
    // cannot inflate.
    val loadEnd = loadAvg
    val (stealEnd, iowaitEnd, ticksEnd) = cpuTicks
    val stealPct =
      if (ticksEnd > ticksStart)
        (stealEnd - stealStart).toDouble / (ticksEnd - ticksStart) * 100.0
      else 0.0
    // iowait is reported, not gated: the bench's own parquet writes
    // legitimately produce some, but a shared-disk contention burst
    // (the r7 run-to-run variance channel that neither load_avg_start
    // nor steal caught) shows up here
    val iowaitPct =
      if (ticksEnd > ticksStart)
        (iowaitEnd - iowaitStart).toDouble / (ticksEnd - ticksStart) * 100.0
      else 0.0
    val contaminated = loadStart > maxLoad || stealPct > maxSteal
    val preflight =
      s"""{"load_avg_start":$loadStart,"load_avg_end":$loadEnd,""" +
        s""""other_jvms_start":$jvmsStart,"other_jvms_end":$otherJvms,""" +
        f""""steal_pct_run":$stealPct%.2f,"max_steal_gate":$maxSteal,""" +
        f""""iowait_pct_run":$iowaitPct%.2f,""" +
        s""""cpus":$cpus,"repeat":$repeat,"max_load_gate":$maxLoad,""" +
        s""""build_queries_first_run":true,"build_first_order":true}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","contaminated":$contaminated,"queries":$qs,"errors":$errs,"warm":$warmJson,"profile":$profile,"preflight":$preflight,"sf":"$sfDir"}""")
    spark.stop()
  }
}
