package graft

import java.util.concurrent.atomic.AtomicReference

import graft.core.DriverJobs
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** The driver fan-out helper: results in leg order, and a failure
  * cancels the other legs' jobs before it surfaces. */
class DriverJobsSpec extends AnyFunSuite {
  import SparkTestSession._

  private val sc = spark.sparkContext

  /** A leg whose one Spark job sleeps far longer than the test; it
    * records how it ended. */
  private def slowLeg(ended: AtomicReference[Throwable]): () => Long = () =>
    try sc.parallelize(1 to 2, 2).map { x => Thread.sleep(300000L); x }.count()
    catch { case e: Throwable => ended.set(e); throw e }

  private def awaitRunningJob(): Unit = {
    val deadline = System.nanoTime + 60000000000L
    while (sc.statusTracker.getActiveJobIds.isEmpty && System.nanoTime < deadline)
      Thread.sleep(20)
  }

  test("legs run concurrently and return in order, with the caller's local properties") {
    sc.setLocalProperty("graft.test.prop", "caller")
    try {
      val got = DriverJobs.all(spark)((1 to 6).map(i => () =>
        (sc.parallelize(1 to i, 2).count(), sc.getLocalProperty("graft.test.prop"))))
      assert(got == (1 to 6).map(i => (i.toLong, "caller")))
    } finally sc.setLocalProperty("graft.test.prop", null)
  }

  test("a failing leg or main phase cancels the sibling legs' running jobs") {
    def check(run: AtomicReference[Throwable] => Unit): Unit = {
      val ended = new AtomicReference[Throwable]()
      val t0 = System.nanoTime
      val e = intercept[IllegalStateException](run(ended))
      assert(e.getMessage == "boom")
      assert(ended.get != null, "the helper returned while a sibling leg still ran")
      assert(System.nanoTime - t0 < 120000000000L, "the sibling's job was not cancelled")
      eventually(timeout(Span(10, Seconds))) {
        assert(sc.statusTracker.getActiveJobIds.isEmpty)
      }
    }
    check { ended =>
      DriverJobs.all(spark)(Seq(slowLeg(ended),
        () => { awaitRunningJob(); throw new IllegalStateException("boom") }))
    }
    check { ended =>
      DriverJobs.alongside(spark, Seq(slowLeg(ended))) {
        awaitRunningJob(); throw new IllegalStateException("boom")
      }
    }
  }
}
