package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.core.{DriverJobs, Profiler}
import graft.index.IvfIndex
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The library profiler: jobs go to the span whose thread submitted
  * them, across driver fan-outs, and action jobs are counted apart from
  * AQE jobs. */
class ProfilerSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val sc = spark.sparkContext

  /** Run `body` with a profiler and an independent listener attached;
    * the listener counts every job started before a marker job, and
    * those whose call site is this file. Returns the profiler (drained)
    * and the two counts. */
  private def profiled(body: Profiler => Unit): (Profiler, Int, Int) = {
    val all = new AtomicInteger()
    val here = new AtomicInteger()
    val marker = new CountDownLatch(1)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == "prof-marker")
          marker.countDown()
        else {
          all.incrementAndGet()
          if (e.stageInfos.maxBy(_.stageId).name.contains("ProfilerSpec.scala"))
            here.incrementAndGet()
        }
    }
    sc.addSparkListener(counter)
    val p = Profiler.install(sc)
    try {
      body(p)
      // listener events arrive in order: once the marker job shows,
      // every job the body started has been counted
      sc.setJobGroup("prof-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(30, TimeUnit.SECONDS))
      p.drain()
    } finally { p.close(); sc.removeSparkListener(counter) }
    (p, all.get, here.get)
  }

  private def row(p: Profiler, key: String): Profiler.Row =
    p.rows.toMap.getOrElse(key, fail(s"no profile row for $key"))

  test("a span's action jobs match an independent count; AQE jobs sit apart") {
    val (p, all, here) = profiled { p =>
      p.span("q") {
        val left = spark.range(2000).select(($"id" % 50).as("g"), $"id")
        val right = spark.range(50).select($"id".as("g"), ($"id" * 2).as("w"))
        left.join(right, "g").groupBy("w").count().collect()
        sc.parallelize(1 to 100, 4).map(_ * 2).reduce(_ + _)
        spark.range(500).repartition(3).count()
      }
    }
    val r = row(p, "q")
    assert(r.calls == 1 && r.wallS > 0)
    assert(r.jobs == here, s"profiler ${r.jobs} action jobs, listener $here")
    // the join's broadcast side is collected from an exchange future
    assert(r.aqeJobs > 0)
    // the marker job runs outside every span
    assert(r.jobs + r.aqeJobs + p.unattributed == all + 1)
    assert(p.unattributed == 1)
    assert(r.stages > 0 && r.tasks >= r.stages && r.executorRunS > 0)
    assert(r.shuffleWriteBytes > 0 && r.shuffleReadBytes > 0)
    assert(r.topSites.nonEmpty && r.topSites.length <= 3)
    // an AQE job's run time goes to its SQL execution's action
    assert(r.topSites.forall(_._1.contains("ProfilerSpec.scala")), r.topSites)
  }

  test("a driver fan-out's jobs go to the span that started it") {
    // the pool's threads exist before the span: only the captured local
    // properties, not thread inheritance, can carry the key to them
    DriverJobs.all(spark)((1 to 4).map(_ => () => 0))
    val (p, all, _) = profiled { p =>
      p.span("fan") {
        DriverJobs.all(spark)((1 to 4).map(i => () => sc.parallelize(1 to i * 10, 2).count()))
      }
    }
    assert(row(p, "fan").jobs == 4)
    assert(p.unattributed == 1 && all == 4)
  }

  test("a job outside every span counts as unattributed") {
    val (p, all, _) = profiled { p =>
      p.span("in")(sc.parallelize(1 to 10, 2).count())
      sc.parallelize(1 to 10, 2).count()
    }
    assert(row(p, "in").jobs == 1)
    // the job outside, plus the marker
    assert(p.unattributed == 2 && all == 2)
  }

  test("warm calls of one serve repeat their action-job count exactly") {
    val all = graft.core.Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val path = java.nio.file.Files.createTempDirectory("graft-prof").toString + "/ivf"
    IvfIndex.persist(IvfIndex.build(spark, all), path)
    val queries = all.filter($"vec_id" % 40 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    def serve(): Unit = IvfIndex.searchPersisted(spark, path, queries, k = 5).collect()
    serve() // fills the layout's memos
    val (p, _, _) = profiled(p => (1 to 3).foreach(i => p.span(s"serve-$i")(serve())))
    val rows = (1 to 3).map(i => row(p, s"serve-$i"))
    assert(rows.map(_.jobs).distinct.length == 1 && rows.head.jobs > 0,
      s"action jobs per call: ${rows.map(_.jobs)}")
    // the probe frame is broadcast: its collect is an AQE job
    assert(rows.forall(_.aqeJobs > 0), s"AQE jobs per call: ${rows.map(_.aqeJobs)}")
    assert(p.unattributed == 1)
  }
}
