package graft

import graft.index.{IvfIndex, NswIndex, NswSnapshotLayout, RecallEval, SnapshotLayout}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The versioned-layout core's init and small-file commit: a re-init
  * installs a clean fit, and the atomic commit survives concurrent
  * writers of one file. */
class VersionedLayoutSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private lazy val all = graft.core.Tables.embeddings(spark, sf)
    .select($"vec_id", $"embedding")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def fs(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("init clears a previous fit's τ sidecar, for both families") {
    val root = tmp("graft-reinit-tau")
    val ivf = s"$root/ivf"
    SnapshotLayout.init(IvfIndex.build(spark, all.filter($"vec_id" >= 50)), ivf)
    RecallEval.writeTauSidecar(spark, ivf, 0.42)
    assert(RecallEval.readTauSidecar(spark, ivf).contains(0.42))
    SnapshotLayout.init(IvfIndex.build(spark, all.filter($"vec_id" >= 20)), ivf)
    assert(RecallEval.readTauSidecar(spark, ivf).isEmpty,
      "re-init kept the previous fit's τ")

    val nsw = s"$root/nsw"
    val base = all.filter($"vec_id" >= 50).localCheckpoint(true)
    NswSnapshotLayout.init(base, NswIndex.buildEdgesLsh(base), nsw)
    RecallEval.writeTauSidecar(spark, nsw, 0.42)
    NswSnapshotLayout.init(base, NswIndex.buildEdgesLsh(base), nsw)
    assert(RecallEval.readTauSidecar(spark, nsw).isEmpty,
      "re-init kept the previous fit's τ")
    graft.core.Checkpoints.free(base)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("re-init drops the old log: head serves the new fit and batch 1 applies afresh") {
    val root = tmp("graft-reinit-log")
    val path = s"$root/ivf"
    SnapshotLayout.init(IvfIndex.build(spark, all.filter($"vec_id" >= 50)), path)
    SnapshotLayout.initPq(spark, path)
    SnapshotLayout.applyBatch(spark, path, 1L,
      upserts = all.limit(0),
      deletes = all.filter($"vec_id" >= 50 && $"vec_id" < 60).select($"vec_id"))
    SnapshotLayout.applyBatch(spark, path, 2L,
      upserts = all.filter($"vec_id" < 5), deletes = all.limit(0).select($"vec_id"))
    SnapshotLayout.rollback(spark, path, 1L)

    val fresh = all.filter($"vec_id" >= 40)
    SnapshotLayout.init(IvfIndex.build(spark, fresh), path)
    def liveIds() = SnapshotLayout.asOfAssigned(spark, path, Long.MaxValue)
      .select($"vec_id").as[Long].collect().toSet
    val freshIds = fresh.select($"vec_id").as[Long].collect().toSet
    assert(liveIds() == freshIds, "the old fit's tombstones hide new rows at head")
    assert(SnapshotLayout.manifestIds(spark, path) == Seq(0L))
    assert(!fs(path).exists(new org.apache.hadoop.fs.Path(s"$path/pq")),
      "the old fit's PQ sidecar survived re-init")
    // tailing change-feed readers still see the old rollback
    assert(fs(path).exists(new org.apache.hadoop.fs.Path(s"$path/_snapshots/rollback-1.json")))

    SnapshotLayout.applyBatch(spark, path, 1L,
      upserts = all.filter($"vec_id" < 5), deletes = all.limit(0).select($"vec_id"))
    assert(SnapshotLayout.manifestIds(spark, path) == Seq(0L, 1L))
    assert(liveIds() == freshIds ++ (0L until 5L), "batch 1 was skipped as a replay")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("concurrent τ-sidecar writers never throw and the committed file always parses") {
    val path = tmp("graft-tau-race")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val written = for (t <- 0 until 8; r <- 0 until 20) yield (10 + 10 * t + r) / 100.0
    try {
      val jobs = (0 until 8).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until 20).foreach { r =>
            RecallEval.writeTauSidecar(spark, path, (10 + 10 * t + r) / 100.0)
            val got = RecallEval.readTauSidecar(spark, path)
            assert(got.exists(written.contains), s"unparseable sidecar: $got")
          }
        })
      }
      jobs.foreach(_.get())
    } finally pool.shutdown()
    assert(RecallEval.readTauSidecar(spark, path).exists(written.contains))
    val leftovers = new java.io.File(path).list().filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, s"uncommitted tmp files: ${leftovers.mkString(", ")}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
  }
}
