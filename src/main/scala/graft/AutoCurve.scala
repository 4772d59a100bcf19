package graft

import graft.core.Tables
import graft.index.{IvfIndex, RecallEval, SnapshotLayout}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only instrument for the round-16 AUTO probe policy (VERDICT
  * r15 #1/#3/#5): on a given embeddings dir — the clustered slice
  * from tools/make_clustered.py is the one that can reward the
  * policy — measures, all in ONE JVM (same-JVM conf-switched A/Bs,
  * the only trustworthy plan-shape comparison on this host):
  *
  *  - `resolve`: what τ the zero-conf session auto-resolves per
  *    layout tier (in-memory / persisted / versioned head);
  *  - `join`: batch-join walls with ZERO confs (auto) vs
  *    conf=`count` vs explicit τ=0.20 — raw and compressed;
  *  - `single`: per-query single-serve walls + candidate volume +
  *    recall@10, count vs auto(mass) — the r15 "count-by-choice"
  *    question measured on data that can answer it;
  *  - `gen`: the generational compressed join (the repo's worst
  *    measured 30× wall, 255 s) under count vs τ=0.20 vs auto.
  *
  * Modes as trailing args (default: resolve join single). Not part of
  * the driver contract (the Tune/MassCurve convention).
  */
object AutoCurve {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_clustered")
    val modes = if (args.length > 1) args.drop(1).toSet
      else Set("resolve", "join", "single")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(graft.core.EngineConf.recommended)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val key = IvfIndex.probeMassConfKey
    def withConf[T](v: Option[String])(body: => T): T = {
      v match { case Some(s) => spark.conf.set(key, s)
                case None => spark.conf.unset(key) }
      try body finally spark.conf.unset(key)
    }
    def time(fn: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val c = fn
      ((System.nanoTime() - t0) / 1e9, c)
    }
    def bestOf2(label: String, conf: Option[String])(fn: => Long): Unit =
      withConf(conf) {
        val (t1, c) = time(fn); val (t2, _) = time(fn)
        println(f"WALL $label%-34s wall=${math.min(t1, t2)}%.2f s rows=$c")
      }

    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding").cache()
    val n = emb.count()
    val built = IvfIndex.buildCached(spark, dir)
    val k = built.centroids.count().toInt
    println(s"AUTOCURVE dir=$dir n=$n k=$k")

    if (modes("resolve")) {
      val t0 = System.nanoTime()
      val tau = IvfIndex.autoTauOf(built)
      println(f"RESOLVE built tau=${tau.getOrElse(-1.0)}%.2f " +
        f"tuneWall=${(System.nanoTime() - t0) / 1e9}%.2f s " +
        s"(count default would be nProbe=${IvfIndex.nProbeFor(k)}/$k)")
    }

    if (modes("join")) {
      bestOf2("knn_join_ivf auto(zero-conf)", None) {
        IvfIndex.knnJoinIvf(built).count() }
      bestOf2("knn_join_ivf count", Some("count")) {
        IvfIndex.knnJoinIvf(built).count() }
      bestOf2("knn_join_ivf mass(0.20)", Some("0.20")) {
        IvfIndex.knnJoinIvf(built).count() }
      val base = java.nio.file.Files.createTempDirectory("graft-autocurve").toString
      IvfIndex.persist(IvfIndex.build(spark, emb), base)
      IvfIndex.persistPq(spark, base)
      bestOf2("knn_join_pq auto(zero-conf)", None) {
        IvfIndex.knnJoinPq(spark, base).count() }
      bestOf2("knn_join_pq count", Some("count")) {
        IvfIndex.knnJoinPq(spark, base).count() }
      bestOf2("knn_join_pq mass(0.20)", Some("0.20")) {
        IvfIndex.knnJoinPq(spark, base).count() }
    }

    if (modes("single")) {
      // ~20 single-query serves, one at a time (the /query shape):
      // wall, candidate volume (probed-cell mass), recall@10 vs brute
      val qMod = math.max(1L, n / 20L)
      val qIds = emb.filter(pmod($"vec_id", lit(qMod)) === 0L)
        .select($"vec_id").collect().map(_.getLong(0)).take(20)
      val masses = IvfIndex.cellMassesOf(built.assigned)
      def brute(qId: Long): Set[Long] = {
        val q = emb.filter($"vec_id" === qId)
          .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
        graft.operators.KnnSearch.topKSingle(
          emb.crossJoin(broadcast(q))
            .select($"q_id", $"vec_id".as("neighbor_id"),
              graft.core.Stab.e6(graft.functions.vectors
                .cosineSim($"embedding", $"q_vec")).as("score_e6")),
          10, asc = false)
          .collect().map(_.getAs[Long]("neighbor_id")).toSet
      }
      def serveStats(conf: Option[String], label: String): Unit = withConf(conf) {
        var wall = 0.0; var hits = 0; var vol = 0L
        for (qId <- qIds) {
          val q = emb.filter($"vec_id" === qId)
            .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
          val t0 = System.nanoTime()
          val got = IvfIndex.searchSingle(built, q)
            .collect().map(_.getAs[Long]("neighbor_id")).toSet
          wall += (System.nanoTime() - t0) / 1e9
          hits += got.intersect(brute(qId)).size
          // probed volume: re-derive the probe list cheaply
          val probed = IvfIndex.searchSingleProbedCells(built, q)
          vol += probed.map(masses.getOrElse(_, 0L)).sum
        }
        println(f"SINGLE $label%-18s meanWall=${wall / qIds.length}%.3f s " +
          f"meanVol=${vol.toDouble / qIds.length / n}%.3f " +
          f"recall@10=${hits.toDouble / (qIds.length * 10)}%.3f")
      }
      serveStats(Some("count"), "count")
      serveStats(None, "auto(zero-conf)")
      serveStats(Some("0.20"), "mass(0.20)")
    }

    if (modes("gen")) {
      // the generational compressed join (knn_join_pq_gen's serve
      // shape) over a generational wrap of THIS dir: base fit on 90%,
      // one append batch, one delete batch, PQ sidecar, cutover to a
      // successor generation — then the head join under each policy
      val root = java.nio.file.Files
        .createTempDirectory("graft-autocurve-gen").toString + "/gen"
      val gen1 = graft.index.Generations.genPath(root, 1)
      SnapshotLayout.init(
        IvfIndex.build(spark, emb.filter(pmod($"vec_id", lit(10L)) =!= 0L)), gen1)
      graft.index.Generations.writePointer(spark, root, 1)
      SnapshotLayout.applyBatch(spark, gen1, 1L,
        upserts = emb.filter(pmod($"vec_id", lit(10L)) === 0L),
        deletes = emb.limit(0).select($"vec_id"))
      SnapshotLayout.applyBatch(spark, gen1, 2L,
        upserts = emb.limit(0),
        deletes = emb.filter(pmod($"vec_id", lit(17L)) === 0L).select($"vec_id"))
      SnapshotLayout.initPq(spark, gen1)
      SnapshotLayout.newGeneration(spark, root)
      bestOf2("knn_join_pq_gen count", Some("count")) {
        SnapshotLayout.knnJoinPqGen(spark, root, Long.MaxValue).count() }
      bestOf2("knn_join_pq_gen mass(0.20)", Some("0.20")) {
        SnapshotLayout.knnJoinPqGen(spark, root, Long.MaxValue).count() }
      bestOf2("knn_join_pq_gen auto(zero-conf)", None) {
        SnapshotLayout.knnJoinPqGen(spark, root, Long.MaxValue).count() }
    }
    spark.stop()
  }
}
