package graft.core

import java.util.concurrent.{CompletableFuture, CompletionException, ExecutionException,
  Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Independent Spark actions submitted together from driver threads,
  * so the scheduler interleaves their stages.
  *
  * The legs run on one dedicated pool of daemon threads, one per core
  * (the default parallelism of Scala's global pool, which ran them
  * before), so a call's concurrency is unchanged and a blocked leg
  * never holds a thread other Future work needs. Each leg runs with a
  * copy of the caller's Spark local properties and active session, in
  * a job group of its own call. When a leg or the caller's own phase
  * throws, the group's running and future jobs are cancelled and the
  * other legs are awaited before the failure is rethrown, so no job
  * outlives the call. A leg must not fan out itself: it would wait on
  * threads of the same fixed pool.
  */
object DriverJobs {

  private lazy val pool = Executors.newFixedThreadPool(
    Runtime.getRuntime.availableProcessors, new ThreadFactory {
      private val n = new AtomicInteger()
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-driver-job-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })

  private def rootOf(e: Throwable): Throwable = e match {
    case _: ExecutionException | _: CompletionException if e.getCause != null =>
      rootOf(e.getCause)
    case _ => e
  }

  /** Run `legs` concurrently; their results in leg order. */
  def all[A](spark: SparkSession)(legs: Seq[() => A]): Seq[A] =
    alongside(spark, legs)(())._1

  /** Run `legs` on the pool while `main` runs on the calling thread. */
  def alongside[A, B](spark: SparkSession, legs: Seq[() => A])(main: => B): (Seq[A], B) = {
    val sc = spark.sparkContext
    val group = s"graft-fan-out-${java.util.UUID.randomUUID}"
    val futures = legs.map(leg => SQLExecution.withThreadLocalCaptured(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool) {
      sc.setJobGroup(group, "graft driver fan-out", interruptOnCancel = true)
      leg()
    })
    // completes at the first failure, so a failed leg cancels its
    // siblings without waiting for the slowest of them
    val failed = new CompletableFuture[AnyRef]()
    futures.foreach(_.whenComplete((_, e) => if (e != null) failed.completeExceptionally(e)))
    try {
      val b = main
      CompletableFuture.anyOf(CompletableFuture.allOf(futures: _*), failed).get()
      (futures.map(_.join()), b)
    } catch {
      case e: Throwable =>
        sc.cancelJobGroupAndFutureJobs(group)
        futures.foreach(f => scala.util.Try(f.join()))
        throw rootOf(e)
    }
  }
}
