package graft

import graft.core.Tables
import graft.index.IvfIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only instrument for the round-15 coverage-adaptive probing
  * (VERDICT r14 #1): on a given embeddings dir — the clustered slice
  * from tools/make_clustered.py is the interesting one — measures,
  * for the COUNT policy (fixed nProbe) and the MASS policy
  * (probe-until-centroid-mass, `spark.graft.ivf.probeMass`):
  *
  *  - recall@10 vs the brute cosine baseline on a ~100-query sample;
  *  - the mean per-query CANDIDATE VOLUME (sum of probed cell sizes)
  *    — the quantity the batch joins' walls track at every measured
  *    scale (SURVEY §19), so a policy that halves it at held recall
  *    halves the join frontier;
  *  - batch-join walls: knnJoinIvf / knnJoinPq at the default
  *    constant-coverage counts vs at a mass tau.
  *
  * Not part of the driver contract (the Tune/ScaleCurve convention).
  */
object MassCurve {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_clustered")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(graft.core.EngineConf.recommended)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding").cache()
    val n = emb.count()
    val built = IvfIndex.buildCached(spark, dir)
    val k = built.centroids.count().toInt
    val masses = IvfIndex.cellMassesOf(built.assigned)
    val massesDf = masses.toSeq.toDF("cluster_id", "cmass")
    val qMod = math.max(1L, n / 100L)
    val queries = emb.filter(pmod($"vec_id", lit(qMod)) === 0L)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec")).cache()
    val nQ = queries.count()
    println(s"MASSCURVE dir=$dir n=$n k=$k queries=$nQ " +
      s"autoNProbe=${IvfIndex.nProbeFor(k)}")

    def neighborSets(df: DataFrame, kk: Int): Map[Long, Set[Long]] =
      df.filter(col("rank") <= kk).collect()
        .groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    def recall(got: Map[Long, Set[Long]], want: Map[Long, Set[Long]]): Double = {
      val per = want.map { case (q, w) =>
        got.getOrElse(q, Set.empty).intersect(w).size.toDouble / w.size }
      per.sum / per.size
    }
    val brute = neighborSets(graft.operators.KnnSearch.topK(
      emb.crossJoin(broadcast(queries))
        .select($"q_id", $"vec_id".as("neighbor_id"),
          graft.core.Stab.e6(
            graft.functions.vectors.cosineSim($"embedding", $"q_vec"))
            .as("score_e6")),
      10, asc = false), 10)

    // per-query candidate volume for a probe frame (q_id, cluster_id)
    def volume(probes: DataFrame): Double = {
      val v = probes.join(broadcast(massesDf), Seq("cluster_id"))
        .groupBy($"q_id").agg(sum($"cmass").as("vol"))
        .agg(avg($"vol")).first().getDouble(0)
      v
    }
    // the serves' own probe frames (IvfIndex.probeFrame), cut per policy
    def probesCount(np: Int): DataFrame = IvfIndex.probeFrame(queries, built.centroids,
      IvfIndex.ProbeCount(np), Nil, single = false)
    def probesMass(tau: Double): DataFrame = IvfIndex.probeFrame(queries, built.centroids,
      IvfIndex.ProbeMass(tau, masses), Nil, single = false)

    for (np <- Seq(2, 4, 8, 12, 16, 24, IvfIndex.nProbeFor(k), k).distinct.sorted) {
      val r = recall(neighborSets(
        IvfIndex.search(built, queries, nProbe = np), 10), brute)
      val vol = volume(probesCount(np))
      println(f"COUNT nProbe=$np%-3d cells=${np.toDouble / k}%.2f " +
        f"meanVol=${vol / n}%.3f recall@10=$r%.3f")
    }
    for (tau <- Seq(0.05, 0.10, 0.15, 0.20, 0.30, 0.50, 0.69)) {
      val r = recall(neighborSets(
        IvfIndex.search(built, queries, probeMass = Some(tau)), 10), brute)
      val p = probesMass(tau)
      val cells = p.groupBy($"q_id").agg(count(lit(1)).as("c"))
        .agg(avg($"c")).first().getDouble(0)
      val vol = volume(p)
      println(f"MASS  tau=$tau%.2f meanCells=$cells%.1f (${cells / k}%.2f) " +
        f"meanVol=${vol / n}%.3f recall@10=$r%.3f")
    }

    // join walls: constant coverage vs mass — time twice, take min
    def time(fn: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val c = fn
      ((System.nanoTime() - t0) / 1e9, c)
    }
    def bestOf2(label: String)(fn: => Long): Unit = {
      val (t1, c) = time(fn); val (t2, _) = time(fn)
      println(f"JOIN $label%-28s wall=${math.min(t1, t2)}%.2f s rows=$c")
    }
    bestOf2("knn_join_ivf count(auto)") { IvfIndex.knnJoinIvf(built).count() }
    for (tau <- Seq(0.10, 0.20))
      bestOf2(f"knn_join_ivf mass($tau%.2f)") {
        IvfIndex.knnJoinIvf(built, probeMass = Some(tau)).count() }
    // the compressed twin over a persisted layout of this dir
    val base = java.nio.file.Files.createTempDirectory("graft-masscurve").toString
    IvfIndex.persist(IvfIndex.build(spark, emb), base)
    IvfIndex.persistPq(spark, base)
    bestOf2("knn_join_pq count(auto)") { IvfIndex.knnJoinPq(spark, base).count() }
    for (tau <- Seq(0.10, 0.20))
      bestOf2(f"knn_join_pq mass($tau%.2f)") {
        IvfIndex.knnJoinPq(spark, base, probeMass = Some(tau)).count() }
    // join quality at the sampled queries: fraction of brute top-5
    // recovered by the mass join at the smaller tau
    val joinMass = neighborSets(
      IvfIndex.knnJoinIvf(built, probeMass = Some(0.20))
        .filter(pmod($"q_id", lit(qMod)) === 0L)
        .select($"q_id", $"neighbor_id", $"rank"), 5)
    val brute5 = brute.map { case (q, s) => q -> s } // top-10 superset; recompute top-5
    val bruteTop5 = neighborSets(graft.operators.KnnSearch.topK(
      emb.crossJoin(broadcast(queries))
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("neighbor_id"),
          graft.core.Stab.e6(
            graft.functions.vectors.cosineSim($"embedding", $"q_vec"))
            .as("score_e6")),
      5, asc = false), 5)
    println(f"JOINRECALL mass(0.20) recall@5=${recall(joinMass, bruteTop5)}%.3f " +
      s"(brute5 superset check=${brute5.nonEmpty})")

    // versioned tier on the clustered slice (round-15 pointer 2): a
    // three-batch history (90% base, 10% append, mod-17 deletes), then
    // the as-of serves/joins at the count default vs mass taus — the
    // as-of masses ride the memoized per-(layout, batch) map
    val vpath = java.nio.file.Files
      .createTempDirectory("graft-massasof").toString + "/ivf"
    graft.index.SnapshotLayout.init(
      IvfIndex.build(spark, emb.filter(pmod($"vec_id", lit(10L)) =!= 0L)), vpath)
    graft.index.SnapshotLayout.applyBatch(spark, vpath, 1L,
      upserts = emb.filter(pmod($"vec_id", lit(10L)) === 0L),
      deletes = emb.limit(0).select($"vec_id"))
    graft.index.SnapshotLayout.applyBatch(spark, vpath, 2L,
      upserts = emb.limit(0),
      deletes = emb.filter(pmod($"vec_id", lit(17L)) === 0L).select($"vec_id"))
    graft.index.SnapshotLayout.initPq(spark, vpath)
    bestOf2("asof_join count(auto)") {
      graft.index.SnapshotLayout.knnJoinPqAsOf(spark, vpath, Long.MaxValue).count() }
    for (tau <- Seq(0.10, 0.20))
      bestOf2(f"asof_join mass($tau%.2f)") {
        graft.index.SnapshotLayout.knnJoinPqAsOf(spark, vpath, Long.MaxValue,
          probeMass = Some(tau)).count() }
    def withMass[T](tau: Double)(body: => T): T = {
      spark.conf.set(IvfIndex.probeMassConfKey, tau.toString)
      try body finally spark.conf.unset(IvfIndex.probeMassConfKey)
    }
    bestOf2("asof_adc_serve count(auto)") {
      graft.index.SnapshotLayout.searchAsOfPq(spark, vpath, Long.MaxValue, queries).count() }
    for (tau <- Seq(0.10, 0.20))
      bestOf2(f"asof_adc_serve mass($tau%.2f)") { withMass(tau) {
        graft.index.SnapshotLayout.searchAsOfPq(spark, vpath, Long.MaxValue, queries).count() } }
    spark.stop()
  }
}
