package graft

import java.io.IOException
import java.net.URI

import graft.index.{IvfIndex, RecallEval, SnapshotLayout}
import org.apache.hadoop.fs.{FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem under the `rofs` scheme that refuses to create
  * files — read-only storage, which file permissions cannot fake for a
  * process running as root. */
class ReadOnlyCreateFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("rofs:///")
}) {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    throw new IOException(s"read-only filesystem: cannot create $f")
}

/** The persisted τ sidecars: one per tuning identity, and a sidecar
  * that cannot be written still serves. */
class TauSidecarSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private lazy val emb = graft.core.Tables.embeddings(spark, sf)
    .select($"vec_id", $"embedding")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("the raw-path and as-of identities each serve the τ tuned over their own corpus") {
    val root = tmp("graft-tau-identity")
    val path = s"$root/ivf"
    SnapshotLayout.init(IvfIndex.build(spark, emb), path)
    // tombstone every row outside one cell: the live head is a sliver
    // of the raw `vectors/` rows the persisted path tunes over
    val stored = spark.read.parquet(s"$path/vectors")
    val kept = stored.select($"cluster_id").distinct().orderBy($"cluster_id").limit(1)
    SnapshotLayout.applyBatch(spark, path, 1L, upserts = emb.limit(0),
      deletes = stored.join(kept, Seq("cluster_id"), "left_anti").select($"vec_id"))
    val centroids = spark.read.parquet(s"$path/centroids")
    def tuned(tag: String, rows: org.apache.spark.sql.DataFrame) =
      RecallEval.autoTauFor(spark, s"tau-identity-$tag:$path", path)(IvfIndex.Built(
        rows.select($"vec_id", $"embedding", $"cluster_id"), centroids))
    val tauRaw = tuned("raw", spark.read.parquet(s"$path/vectors"))
    val tauHead = tuned("head", SnapshotLayout.asOfAssigned(spark, path, Long.MaxValue))
    assert(tauRaw != tauHead, "the scenario must give the two corpora different τs")

    val q = emb.filter($"vec_id" < 3).select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    IvfIndex.searchPersisted(spark, path, q).collect()
    SnapshotLayout.searchAsOf(spark, path, Long.MaxValue, q).collect()
    // the τ each serve resolved, straight from the memo (a retune fails)
    def served(identity: String) = RecallEval.autoTauPersisted(spark,
      s"$identity:$path", path, path)(fail(s"$identity retuned"))
    assert(served("path") == tauRaw)
    assert(served("asof") == tauHead, "the as-of serve read the raw path's τ")
    // a cold memo reads each identity's own sidecar
    graft.store.IndexVersions.bump(path)
    assert(served("path") == tauRaw)
    assert(served("asof") == tauHead, "the as-of sidecar holds the raw path's τ")

    // a copy carries both sidecars; a re-init clears both
    val copy = s"$root/copy"
    SnapshotLayout.copyLayout(spark, path, copy)
    assert(RecallEval.readTauSidecar(spark, copy, asOf = false).contains(tauRaw))
    assert(RecallEval.readTauSidecar(spark, copy, asOf = true).contains(tauHead))
    SnapshotLayout.init(IvfIndex.build(spark, emb), path)
    for (asOf <- Seq(false, true))
      assert(RecallEval.readTauSidecar(spark, path, asOf).isEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("a τ sidecar that cannot be written still serves the tuned τ") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.rofs.impl", classOf[ReadOnlyCreateFs].getName)
    conf.setBoolean("fs.rofs.impl.disable.cache", true)
    val dir = tmp("graft-tau-rofs")
    val built = IvfIndex.build(spark, emb)
    val expected = RecallEval.autoTauFor(spark, s"tau-rofs:$dir", dir)(built)
    val got = RecallEval.autoTauPersisted(spark, s"path:rofs://$dir", dir,
      s"rofs://$dir")(built)
    assert(got == expected)
    assert(new java.io.File(dir).list().isEmpty, "the read-only store was written")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
