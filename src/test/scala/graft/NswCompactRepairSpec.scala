package graft

import graft.index.{NswIndex, NswSnapshotLayout, SnapshotLayout}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Crash repair of the graph family's compaction. Each crash state is
  * written by hand in the on-disk format a compaction stages: live
  * vectors and live edges under `_compact_tmp/{vectors,edges}/batch_id=U`
  * and a plan listing the staged root slots (0 = vectors, 1 = edges).
  * The next read must finish or abandon the compaction exactly as an
  * uncrashed run would have left the layout. */
class NswCompactRepairSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("NSW compaction is crash-safe: pre-plan, post-plan, and mid-commit crashes all repair") {
    val all = graft.core.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-nswcrash").toString
    val src = s"$dir/src"
    val base = all.filter($"vec_id" >= 50).localCheckpoint(true)
    NswSnapshotLayout.init(base, NswIndex.buildEdgesLsh(base), src)
    NswSnapshotLayout.applyBatch(spark, src, 1L,
      upserts = all.filter($"vec_id" < 25), deletes = all.limit(0).select($"vec_id"))
    NswSnapshotLayout.applyBatch(spark, src, 2L,
      upserts = all.filter($"vec_id" >= 25 && $"vec_id" < 50),
      deletes = all.filter($"vec_id" < 25 && $"vec_id" % 7 === 0).select($"vec_id"))
    // re-adds id 0, dead at 2: compaction heals its stale edges, so the
    // reference is an uncrashed compaction, not the uncompacted layout
    NswSnapshotLayout.applyBatch(spark, src, 3L,
      upserts = all.filter($"vec_id" < 3), deletes = all.limit(0).select($"vec_id"))
    val queries = all.filter($"vec_id" < 5 && $"vec_id" % 7 =!= 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    def serve(p: String, b: Long) = NswSnapshotLayout.searchAsOf(spark, p, b, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    def copyTo(dst: String): Unit = org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(src), new java.io.File(dst))
    def batchIds(p: String): Set[Long] = fs.listStatus(path(p)).filter(_.isDirectory)
      .map(_.getPath.getName.stripPrefix("batch_id=").toLong).toSet

    val uncompacted2 = serve(src, 2L)
    val uncompactedHead = serve(src, Long.MaxValue)
    val ref = s"$dir/ref"
    copyTo(ref)
    NswSnapshotLayout.compact(spark, ref, 2L)
    val asof2 = serve(ref, 2L)
    val head = serve(ref, Long.MaxValue)

    def stage(p: String): Unit = {
      val (live, edges) = NswSnapshotLayout.asOfGraph(spark, p, 2L)
      live.withColumn("batch_id", lit(2L)).write.mode("overwrite")
        .partitionBy("batch_id").parquet(s"$p/_compact_tmp/vectors")
      edges.withColumn("batch_id", lit(2L)).write.mode("overwrite")
        .partitionBy("batch_id").parquet(s"$p/_compact_tmp/edges")
      graft.core.Checkpoints.free(live)
    }
    def assertCompacted(p: String): Unit = {
      assert(serve(p, 2L) == asof2, s"$p as-of-2 serve diverged post-repair")
      assert(serve(p, Long.MaxValue) == head, s"$p head serve diverged post-repair")
      assert(SnapshotLayout.manifestIds(spark, p) == Seq(2L, 3L))
      assert(!fs.exists(path(s"$p/_compact_tmp")), s"$p tmp not cleaned up")
      Seq("vectors", "edges").foreach(r =>
        assert(batchIds(s"$p/$r") == Set(2L, 3L), s"$p stale $r dirs: ${batchIds(s"$p/$r")}"))
    }

    // crash A — mid-stage (tmp data, NO plan): the layout is intact;
    // repair abandons the garbage and serves the UNCOMPACTED state
    val a = s"$dir/a"
    copyTo(a)
    stage(a)
    assert(serve(a, 2L) == uncompacted2 && serve(a, Long.MaxValue) == uncompactedHead)
    assert(!fs.exists(path(s"$a/_compact_tmp")), "pre-plan tmp not abandoned")
    assert(SnapshotLayout.manifestIds(spark, a) == Seq(0L, 1L, 2L, 3L))

    // crash B — right after the plan: the next read finishes the commit
    val b = s"$dir/b"
    copyTo(b)
    stage(b)
    SnapshotLayout.writeCompactPlan(fs, b, 2L, Seq(0, 1))
    assertCompacted(b)

    // crash C — mid-commit: vectors already swapped, edges not yet
    val c = s"$dir/c"
    copyTo(c)
    stage(c)
    SnapshotLayout.writeCompactPlan(fs, c, 2L, Seq(0, 1))
    fs.listStatus(path(s"$c/vectors")).filter(_.isDirectory)
      .filter(_.getPath.getName.stripPrefix("batch_id=").toLong <= 2L)
      .foreach(d => fs.delete(d.getPath, true))
    fs.rename(path(s"$c/_compact_tmp/vectors/batch_id=2"), path(s"$c/vectors/batch_id=2"))
    assertCompacted(c)

    graft.core.Checkpoints.free(base)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
