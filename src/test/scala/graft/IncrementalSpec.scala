package graft

import graft.index.{IvfIndex, NswIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental index maintenance (VERDICT r3 #1): a delta add/remove
  * must reflect new vectors in search results WITHOUT re-running the
  * KMeans fit or the full graph build, and the delta-built index must
  * clear the same recall bars as the full rebuild.
  */
class IncrementalSpec extends AnyFunSuite {
  import SparkTestSession._

  private def topIds(df: DataFrame, k: Int): Map[Long, Set[Long]] =
    df.filter(col("rank") <= k).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("neighbor_id")).toSet }

  private def recall(got: Map[Long, Set[Long]], want: Map[Long, Set[Long]]): Double =
    want.map { case (q, w) =>
      got.get(q).map(g => g.intersect(w).size.toDouble / w.size).getOrElse(0.0)
    }.sum / want.size

  private lazy val emb = graft.core.Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("embedding"))
  private lazy val base = emb.filter(col("vec_id") >= 50)
  private lazy val delta = emb.filter(col("vec_id") < 50)
  private lazy val queries = emb.filter(col("vec_id") < 5)
    .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
  private lazy val brute10 = topIds(SparkEntry.queries("knn_brute_cosine")(spark, sf), 10)

  test("IVF addDelta serves new vectors with full-rebuild recall and no KMeans refit") {
    val built = IvfIndex.build(spark, base)
    val withDelta = IvfIndex.addDelta(built, delta)
    // no refit: the delta'd index carries the SAME centroids frame —
    // addDelta never constructs an MLlib estimator
    assert(withDelta.centroids eq built.centroids)
    val got = topIds(IvfIndex.search(withDelta, queries), 10)
    val r = recall(got, brute10)
    assert(r >= 0.9, s"delta-built IVF recall $r < full-rebuild bar 0.9")

    val after = IvfIndex.removeDelta(withDelta,
      delta.filter(col("vec_id") >= 25).select(col("vec_id")))
    val servedIds = IvfIndex.search(after, queries, k = 10).collect()
      .map(_.getAs[Long]("neighbor_id")).toSet
    assert(servedIds.forall(id => id < 25 || id >= 50),
      s"removed ids served: ${servedIds.filter(id => id >= 25 && id < 50)}")
    assert(after.assigned.count() == emb.count() - 25)
  }

  test("NSW addDelta links new nodes with full-rebuild recall; remove drops their edges") {
    val baseEdges = NswIndex.buildEdges(base)
    val (emb2, edges2) = NswIndex.addDelta(base, baseEdges, delta)
    // no rebuild: existing edges are untouched, the delta contributes
    // exactly degree forward links per node
    assert(edges2.filter(col("src") >= 50).count() == baseEdges.count())
    assert(edges2.filter(col("src") < 50).count() ==
      delta.count() * NswIndex.graphDegree)
    val brute5 = brute10.map { case (q, _) =>
      q -> topIds(SparkEntry.queries("knn_brute_cosine")(spark, sf), 5)(q)
    }
    val got = topIds(NswIndex.beamSearch(emb2, edges2, queries), 5)
    val r = recall(got, brute5)
    assert(r >= 0.9, s"delta-linked NSW recall $r < full-rebuild bar 0.9")

    val (embR, edgesR) = NswIndex.removeDelta(emb2, edges2,
      delta.filter(col("vec_id") >= 25).select(col("vec_id")))
    assert(edgesR.filter(
      (col("src") >= 25 && col("src") < 50) ||
        (col("dst") >= 25 && col("dst") < 50)).count() == 0)
    assert(embR.count() == emb.count() - 25)
  }

  test("persisted IVF delta: append + partition rewrite, centroids files untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-delta").toString
    IvfIndex.persist(IvfIndex.build(spark, base), dir)
    val centroidsBefore = spark.read.parquet(s"$dir/centroids")
      .collect().map(_.toString).sorted.toSeq
    IvfIndex.addDeltaPersisted(spark, dir, delta)
    val vecs = spark.read.parquet(s"$dir/vectors")
    assert(vecs.count() == emb.count())
    assert(vecs.filter(col("vec_id") < 50).count() == 50)
    // the served path reflects the delta: a probe for a delta vector's
    // own embedding returns it with cosine 1.0
    val hit = IvfIndex.searchPersisted(spark, dir, queries, k = 3)
      .filter(col("q_id") === col("neighbor_id")).collect()
    assert(hit.length == 5 && hit.forall(_.getAs[Long]("score_e6") == 1000000L))

    IvfIndex.removeDeltaPersisted(spark, dir,
      delta.filter(col("vec_id") >= 25).select(col("vec_id")))
    val after = spark.read.parquet(s"$dir/vectors")
    assert(after.count() == emb.count() - 25)
    assert(after.filter(col("vec_id") >= 25 && col("vec_id") < 50).count() == 0)
    val centroidsAfter = spark.read.parquet(s"$dir/centroids")
      .collect().map(_.toString).sorted.toSeq
    assert(centroidsAfter == centroidsBefore, "delta maintenance refit the centroids")
  }

  test("compaction coalesces crowded partitions; serve results hash-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-compact").toString
    IvfIndex.persist(IvfIndex.build(spark, base), dir)
    // 10 streamed micro-batches of 5 ids each: every touched partition
    // gains one small file per batch
    (0 until 10).foreach { b =>
      IvfIndex.addDeltaPersisted(spark, dir,
        delta.filter(col("vec_id") >= b * 5 && col("vec_id") < (b + 1) * 5))
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesPer: Map[String, Int] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/vectors"))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("cluster_id="))
        .map(d => d.getPath.getName -> fs.listStatus(d.getPath)
          .count(_.getPath.getName.endsWith(".parquet"))).toMap
    val before = filesPer
    assert(before.values.exists(_ > 4), s"deltas produced no crowded partition: $before")
    val serveBefore = IvfIndex.searchPersisted(spark, dir, queries)
      .collect().map(_.toString).sorted.toSeq
    val metaBefore = graft.index.IndexMeta.read(spark, dir)

    val compacted = IvfIndex.compactPersisted(spark, dir)
    assert(compacted.nonEmpty)
    assert(compacted.map(c => s"cluster_id=$c").forall(before(_) > 4),
      "compacted a partition that was not crowded")
    val after = filesPer
    compacted.foreach(c => assert(after(s"cluster_id=$c") == 1,
      s"partition $c not coalesced: ${after(s"cluster_id=$c")} files"))
    before.keys.filterNot(k => compacted.map(c => s"cluster_id=$c").toSet(k))
      .foreach(k => assert(after(k) == before(k), s"untouched partition $k rewritten"))
    // row identity → serve identity, and no phantom drift
    val serveAfter = IvfIndex.searchPersisted(spark, dir, queries)
      .collect().map(_.toString).sorted.toSeq
    assert(serveAfter == serveBefore, "compaction changed serve results")
    assert(graft.index.IndexMeta.read(spark, dir) == metaBefore,
      "compaction moved the drift counter")
  }

  test("persisted NSW delta: appended links serve the new vectors") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nsw-delta").toString
    NswIndex.persist(base, NswIndex.buildEdges(base), dir)
    val edgesBefore = spark.read.parquet(s"$dir/edges").count()
    NswIndex.addDeltaPersisted(spark, dir, delta)
    val edgesAfter = spark.read.parquet(s"$dir/edges")
    assert(edgesAfter.count() ==
      edgesBefore + delta.count() * NswIndex.graphDegree)
    val hit = NswIndex.searchPersisted(spark, dir, queries, k = 3)
      .filter(col("q_id") === col("neighbor_id")).collect()
    assert(hit.length == 5 && hit.forall(_.getAs[Long]("score_e6") == 1000000L))
  }

  test("persisted IVF remove deletes an emptied partition's files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-empty").toString
    IvfIndex.persist(IvfIndex.build(spark, emb), dir)
    // remove EVERY vector of one cluster: dynamic overwrite alone
    // writes nothing for that partition, so the dir must be deleted
    // explicitly or the "removed" vectors stay servable
    val victims = spark.read.parquet(s"$dir/vectors")
      .filter(col("cluster_id") === 0).select(col("vec_id"))
    val nVictims = victims.count()
    assert(nVictims > 0)
    IvfIndex.removeDeltaPersisted(spark, dir, victims)
    val after = spark.read.parquet(s"$dir/vectors")
    assert(after.filter(col("cluster_id") === 0).count() == 0,
      "emptied cluster partition still serves removed vectors")
    assert(after.count() == emb.count() - nVictims)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/vectors/cluster_id=0")))
  }

  test("persisted delta re-add is an upsert, not a duplicate append") {
    val ivfDir = java.nio.file.Files.createTempDirectory("graft-ivf-readd").toString
    IvfIndex.persist(IvfIndex.build(spark, base), ivfDir)
    IvfIndex.addDeltaPersisted(spark, ivfDir, delta)
    IvfIndex.addDeltaPersisted(spark, ivfDir, delta) // retried batch
    val vecs = spark.read.parquet(s"$ivfDir/vectors")
    assert(vecs.count() == emb.count(), "re-added delta duplicated rows")
    assert(vecs.groupBy(col("vec_id")).count().filter(col("count") > 1).count() == 0)

    val nswDir = java.nio.file.Files.createTempDirectory("graft-nsw-readd").toString
    NswIndex.persist(base, NswIndex.buildEdges(base), nswDir)
    NswIndex.addDeltaPersisted(spark, nswDir, delta)
    NswIndex.addDeltaPersisted(spark, nswDir, delta) // retried batch
    val vecs2 = spark.read.parquet(s"$nswDir/vectors")
    assert(vecs2.count() == emb.count(), "re-added NSW delta duplicated rows")
    val edges2 = spark.read.parquet(s"$nswDir/edges")
    assert(edges2.filter(col("src") === col("dst")).count() == 0,
      "re-add beam-linked nodes to themselves")
    assert(edges2.filter(col("src") < 50).count() ==
      delta.count() * NswIndex.graphDegree)

    // NSW persisted remove: no vector row, no touching edge survives
    NswIndex.removeDeltaPersisted(spark, nswDir,
      delta.filter(col("vec_id") >= 25).select(col("vec_id")))
    assert(spark.read.parquet(s"$nswDir/vectors").count() == emb.count() - 25)
    assert(spark.read.parquet(s"$nswDir/edges").filter(
      (col("src") >= 25 && col("src") < 50) ||
        (col("dst") >= 25 && col("dst") < 50)).count() == 0)
  }

  test("ivf_add_delta / nsw_add_delta invariant grids are all-true") {
    Seq("ivf_add_delta", "nsw_add_delta").foreach { q =>
      val rows = SparkEntry.queries(q)(spark, sf).collect()
      assert(rows.length == 5, s"$q returned ${rows.length} probe rows")
      rows.foreach { r =>
        (1 until r.length).foreach { i =>
          assert(r.getBoolean(i), s"$q invariant ${r.schema.fieldNames(i)} false in $r")
        }
      }
    }
  }

  test("IVF degenerate corpora: n = 1, n below the cell count, identical rows") {
    val spark0 = spark
    import spark0.implicits._
    val rng = new scala.util.Random(7)
    def randVec() = Array.fill(16)(rng.nextFloat() - 0.5f)
    val same = randVec()
    val cases = Seq(
      "n = 1" -> Seq(randVec()),
      "n below the cell count" -> Seq.fill(3)(randVec()),
      "identical rows" -> Seq.fill(6)(same.clone()))
    for ((name, vecs) <- cases) {
      val n = vecs.length
      val k = n + 5
      val emb = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, i % 2) }
        .toDF("vec_id", "embedding", "label")
      val queries = emb.select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
      val metaQueries = emb.select($"vec_id".as("q_id"), $"embedding".as("q_vec"),
        $"label".as("q_label"))
      // a predicate every row passes: the filtered serves' compensated
      // probe policy runs, and the whole corpus still qualifies
      val pred = col("label") >= col("q_label") - 1
      // k > n: every query is served the whole corpus, once each
      def assertServesAll(what: String, df: DataFrame, qs: Seq[Long] = 0L until n): Unit = {
        val got = df.select($"q_id", $"neighbor_id").as[(Long, Long)].collect().toSeq
          .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).sorted }
        assert(got.keySet == qs.toSet && got.values.forall(_ == (0L until n)),
          s"$name / $what: $got")
      }
      val built = IvfIndex.build(spark, emb, metaCols = Seq("label"))
      for ((policy, mass) <- Seq("count" -> None, "mass" -> Some(1.0))) {
        assertServesAll(s"$policy batch", IvfIndex.search(built, queries, k = k, probeMass = mass))
        assertServesAll(s"$policy filtered batch",
          IvfIndex.searchFiltered(built, metaQueries, pred, k = k, probeMass = mass))
      }
      for (i <- 0L until n) {
        assertServesAll("single", IvfIndex.searchSingle(built,
          queries.filter($"q_id" === i), k = k), Seq(i))
        assertServesAll("filtered single", IvfIndex.searchFilteredSingle(built,
          metaQueries.filter($"q_id" === i), pred, k = k), Seq(i))
      }
      val dir = java.nio.file.Files.createTempDirectory("graft_ivf_degenerate").toString
      try {
        IvfIndex.persist(built, dir)
        IvfIndex.persistPq(spark, dir)
        IvfIndex.addDeltaPersisted(spark, dir, emb.limit(0))
        assertServesAll("persisted", IvfIndex.searchPersisted(spark, dir, queries, k = k))
        assertServesAll("ADC", IvfIndex.searchPersistedPq(spark, dir, queries, k = k))
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
