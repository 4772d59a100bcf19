package graft.index

import graft.core.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Versioned IVF posting layout: [[VersionedLayout]]'s append-only
  * batch log over [[IvfIndex.persist]]'s partitioned layout, so a bad
  * maintenance batch rolls back instead of forcing a full rebuild.
  * The family's payload: posting rows carry a `cluster_id` placement
  * level above `batch_id` (an applied batch touches only the clusters
  * its rows land in), assigned to the FROZEN centroids of the base fit
  * — the incremental-add contract — and a cutover re-fits KMeans. As
  * of B the same probe search ([[IvfIndex.search]]) runs over the
  * as-of posting set.
  */
object SnapshotLayout extends VersionedLayout {

  protected def placement: Option[String] = Some("cluster_id")

  protected def payloadRoots: Seq[String] = Seq("vectors")

  protected def codeStage(sub: String): String = s"codes/$sub"

  /** Initialize the layout: the base fit as batch `baseBatch` (0 for a
    * standalone layout; a cutover passes the predecessor's head id). */
  def init(built: IvfIndex.Built, path: String, baseBatch: Long = 0L): Unit =
    initLayout(built.assigned.sparkSession, path, baseBatch) {
      built.assigned.withColumn("batch_id", lit(baseBatch))
        .write.mode("overwrite").partitionBy(partitionCols: _*)
        .parquet(s"$path/vectors")
      built.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    }

  protected def appendUpserts(spark: SparkSession, path: String, batchId: Long,
      rows: DataFrame): Unit =
    appendRows(spark, path, IvfIndex.assignToCentroids(rows,
      spark.read.parquet(s"$path/centroids")).withColumn("batch_id", lit(batchId)))

  protected def stagePayload(spark: SparkSession, path: String, upTo: Long)(
      stage: (String, DataFrame) => Unit): Unit =
    stage("vectors", asOfAssigned(spark, path, upTo))

  protected def refit(spark: SparkSession, live: DataFrame, next: String,
      baseBatch: Long): Unit =
    init(IvfIndex.build(spark, live,
      metaCols = live.columns.toSeq.filterNot(Set("vec_id", "embedding"))),
      next, baseBatch)

  /** The live posting set AS OF `batchId`: (vec_id, embedding,
    * cluster_id, metadata…), ready for [[IvfIndex.search]]. */
  def asOfAssigned(spark: SparkSession, path: String, batchId: Long): DataFrame =
    asOfLive(spark, path, batchId)

  /** Memoized per-cell LIVE masses as of `batchId` — the
    * coverage-adaptive policy's input on the versioned tier. Keyed
    * per (layout, as-of label) like the fine alphabets (LRU-capped,
    * so label sweeps stay bounded); every applyBatch/rollback/compact
    * bumps the layout and the next serve recounts, which keeps the
    * head label (Long.MaxValue, constant across appends) honest. */
  private val asOfMassCache = new graft.store.VersionedMemo[Map[Int, Long]]()

  private[graft] def asOfCellMasses(spark: SparkSession, path: String,
      batchId: Long): Map[Int, Long] =
    asOfMassCache.get(spark, s"cellmass-asof:$path@$batchId", path) {
      asOfAssigned(spark, path, batchId).groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cmass")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    }

  /** The AUTO policy's τ for a versioned layout (round 16): the tuner
    * sweep over the HEAD live set, memoized under the path and
    * invalidated by the same applyBatch/rollback/compact version bumps
    * as the cell masses. Tuned at HEAD for every as-of point — τ
    * calibrates to the corpus DISTRIBUTION, which maintenance batches
    * shift only incrementally, while the per-label LIVE masses (what
    * the threshold multiplies into) stay exactly as-of; tuning per
    * as-of label would pay a sweep per label with no measured
    * distribution difference to chase. Round 17: the choice persists
    * in the layout's tuning sidecar — applyBatch/rollback/compact keep
    * it (the fit is frozen across all three; round 16 re-swept on
    * every bump, a full tuning sweep per ingest batch at scale), and a
    * generational cutover lands in a fresh dir that never had one. */
  private def autoTauHead(spark: SparkSession, path: String): Double =
    RecallEval.autoTauPersisted(spark, s"asof:$path", path, path)(
      IvfIndex.Built(asOfAssigned(spark, path, Long.MaxValue)
          .select(col("vec_id"), col("embedding"), col("cluster_id")),
        spark.read.parquet(s"$path/centroids")))

  /** The session's mass threshold for an as-of serve: the conf (an
    * explicit nProbe wins; unset resolves to [[autoTauHead]]'s tuned
    * τ), paired with the memoized as-of masses. */
  private def asOfMassOf(spark: SparkSession, path: String, batchId: Long,
      nProbe: Int, ratio: Double = 1.0): Option[(Double, Map[Int, Long])] =
    IvfIndex.probeMassOf(spark, nProbe, None,
        Some(autoTauHead(spark, path))).map(t =>
      (math.min(1.0, t * ratio), asOfCellMasses(spark, path, batchId)))

  /** Probe search served from the as-of posting set (centroids are
    * the base fit — the incremental-add serving contract). The
    * coverage-adaptive conf applies with the AS-OF live masses. */
  def searchAsOf(spark: SparkSession, path: String, batchId: Long,
      queries: DataFrame, nProbe: Int = 0,
      k: Int = 10): DataFrame =
    // the Built carries the layout's tuning identity (same memo key as
    // [[autoTauHead]]) so the inner serve's auto resolution lands on
    // the one head-tuned τ instead of falling back to counts
    IvfIndex.search(
      IvfIndex.Built(asOfAssigned(spark, path, batchId),
        spark.read.parquet(s"$path/centroids"),
        autoKey = Some((s"asof:$path", path)), tauSidecar = Some(path)),
      queries, nProbe, k,
      cellMasses = asOfMassOf(spark, path, batchId, nProbe).map(_._2))

  /** SINGLE-query probe serve from the as-of posting set — the
    * [[IvfIndex.searchSingle]] discipline composed with time travel:
    * a one-row query frame with a constant q_id constant-folds a
    * windowed top-k's partition spec to EMPTY, pulling every scored
    * candidate into one task; here both cuts are TakeOrdered. The
    * /query-shaped serves (one text query in) use this. */
  def searchAsOfSingle(spark: SparkSession, path: String, batchId: Long,
      query: DataFrame, nProbe: Int = 0,
      k: Int = 10): DataFrame =
    IvfIndex.searchSingle(
      IvfIndex.Built(asOfAssigned(spark, path, batchId),
        spark.read.parquet(s"$path/centroids"),
        autoKey = Some((s"asof:$path", path)), tauSidecar = Some(path)),
      query, nProbe, k,
      cellMasses = asOfMassOf(spark, path, batchId, nProbe).map(_._2))

  /** PRE-filter probe search served from the as-of posting set — the
    * filtered serving mode composed with time travel: the metadata a
    * meta-bearing layout's batches carry ([[applyBatch]]) rides the
    * reconstruction ([[asOfAssigned]]), so the predicate evaluates
    * in-scan with [[IvfIndex.searchFiltered]]'s semantics (all k
    * results satisfy it) at any as-of point. Same compensated-probe
    * stance as the persisted filtered path. */
  def searchAsOfFiltered(spark: SparkSession, path: String, batchId: Long,
      queries: DataFrame, pred: org.apache.spark.sql.Column,
      nProbe: Int = 0, k: Int = 10): DataFrame = {
    val centroids = spark.read.parquet(s"$path/centroids")
    val built = IvfIndex.Built(asOfAssigned(spark, path, batchId), centroids,
      autoKey = Some((s"asof:$path", path)), tauSidecar = Some(path))
    val masses = asOfMassOf(spark, path, batchId, nProbe).map(_._2)
    if (masses.isDefined)
      // the sentinel flows through searchFiltered's own resolution
      // (mass at the 13/11 ratio) over the memoized as-of masses
      IvfIndex.searchFiltered(built, queries, pred, nProbe, k,
        cellMasses = masses)
    else IvfIndex.searchFiltered(built, queries, pred,
      IvfIndex.resolveNProbeAt(spark, path, nProbe,
        IvfIndex.filteredNProbeBase), k)
  }

  // ---- versioned compressed tier (PQ sidecar over the batch log) ------

  /** ADC probe search served AS OF `batchId` from the versioned code
    * sidecar: probe the centroid ranking, ADC-score only the live
    * code rows of the probed clusters, keep the `rerank` best, and
    * exact-rerank their raw vectors. The versioned serve is CHEAPER
    * than the raw [[searchAsOf]] at scale in two ways: the
    * merge-on-read argmax window runs over keys (asOfWinners), not
    * embedding payloads, and the exact rerank never reconstructs —
    * the surviving code row's (cluster_id, vec_id, batch_id) IS the
    * winning raw row's partition address, so the fetch is a
    * partition-pruned broadcast join of `rerank × |queries|` rows. */
  def searchAsOfPq(spark: SparkSession, path: String, batchId: Long,
      queries: DataFrame, nProbe: Int = 0,
      k: Int = 10, rerank: Int = 200, sub: String = "pq"): DataFrame =
    searchAsOfPqImpl(spark, path, batchId, queries, None, nProbe, k, rerank, sub)

  /** PRE-filter ADC probe search at an as-of point: the persisted
    * filtered-ADC semantics ([[IvfIndex.searchPersistedPqFiltered]])
    * composed with the versioned code reconstruction — the predicate
    * evaluates on the live code rows (whose metadata
    * [[IvfIndex.encodeDeltaPq]] mirrors from the posting rows) BEFORE
    * the rerank cut, so all k results satisfy it at any as-of point.
    * Compensated probe, same stance as every filtered path. */
  def searchAsOfPqFiltered(spark: SparkSession, path: String, batchId: Long,
      queries: DataFrame, pred: org.apache.spark.sql.Column,
      nProbe: Int = 0, k: Int = 10, rerank: Int = 200,
      sub: String = "pq"): DataFrame =
    searchAsOfPqImpl(spark, path, batchId, queries, Some(pred), nProbe, k,
      rerank, sub)

  private def searchAsOfPqImpl(spark: SparkSession, path: String, batchId: Long,
      queries: DataFrame, pred: Option[org.apache.spark.sql.Column],
      nProbe: Int, k: Int, rerank: Int, sub: String): DataFrame = {
    repairCompaction(spark, path)
    val tau = asOfMassOf(spark, path, batchId, nProbe,
      if (pred.isDefined)
        IvfIndex.filteredNProbeBase.toDouble / IvfIndex.defaultNProbe
      else 1.0)
    val np = if (tau.isDefined) 0
      else IvfIndex.resolveNProbeAt(spark, path, nProbe,
        if (pred.isDefined) IvfIndex.filteredNProbeBase
        else IvfIndex.defaultNProbe)
    val (lutBc, probes) =
      IvfIndex.pqQueryState(spark, path, queries, np, sub, tau)
    val joined = asOfCodes(spark, path, batchId, sub)
      .join(broadcast(probes), Seq("cluster_id"))
    val adc = pred.map(joined.filter).getOrElse(joined)
      .select(col("q_id"), col("cluster_id"), col("vec_id"), col("batch_id"),
        graft.functions.pq.pqAdc(col("code"), col("q_idx"), lutBc).as("adc"))
    val cand = adc.withColumn("arank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adc").asc, col("vec_id").asc)))
      .filter(col("arank") <= rerank)
      .select(col("q_id"), col("cluster_id"), col("vec_id"), col("batch_id"))
    val raw = spark.read.parquet(s"$path/vectors")
    val scored = raw
      .join(broadcast(cand), Seq("cluster_id", "vec_id", "batch_id"))
      .join(broadcast(queries.select(col("q_id"), col("q_vec"))), Seq("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        graft.core.Stab.e6(
          graft.functions.vectors.cosineSim(col("embedding"), col("q_vec")))
          .as("score_e6"))
    graft.operators.KnnSearch.topK(scored, k, asc = false)
  }

  /** Compressed batch kNN join served AS OF `batchId`: the
    * [[IvfIndex.knnJoinPq]] all-pairs shape composed with the
    * versioned layout — every vector LIVE as of the batch gets its
    * top-k among the other live vectors, with the same no-full-width
    * exchange discipline:
    *  - probe fan-out and the fine-alphabet query encode run MAP-SIDE
    *    over the stored posting tree (`batch_id ≤ B` scan → project;
    *    the embedding never reaches an exchange — encoding superseded
    *    versions wastes bounded work, history depth × encode cost,
    *    which compaction folds away; the alternative, attaching
    *    winners first, would push every live embedding through a
    *    shuffle);
    *  - the keys-only [[asOfWinners]] pairs (16 B/row) then filter the
    *    probe rows to live queries and [[asOfCodes]] supplies the live
    *    candidate codes, so the cluster co-location join is codes ⋈
    *    probes exactly like the head join;
    *  - exact rerank direct-addresses the winning raw rows by
    *    (cluster_id, vec_id, batch_id) for the n×rerank shortlist.
    * The fine query-side codebooks fit on the LIVE rows (winners
    * attach inside the bounded TakeOrdered fit job, not the candidate
    * plan) — fitting on raw stored rows would make the sample
    * ambiguous between versions of the same id and the codebooks
    * layout-dependent. */
  def knnJoinPqAsOf(spark: SparkSession, path: String, batchId: Long,
      nProbe: Int = 0, k: Int = 5, rerank: Int = 200,
      sub: String = "pq", probeMass: Option[Double] = None): DataFrame = {
    val tau = IvfIndex.probeMassOf(spark, nProbe, probeMass,
        Some(autoTauHead(spark, path)))
      .map(t => (t, asOfCellMasses(spark, path, batchId)))
    val np = if (tau.isDefined) 0 else IvfIndex.resolveNProbeAt(spark, path, nProbe)
    val cand = knnJoinPqAsOfCand(spark, path, batchId, np, rerank, sub, tau)
    val raw = spark.read.parquet(s"$path/vectors")
    val nv = raw.join(cand, Seq("cluster_id", "vec_id", "batch_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("embedding").as("n_vec"))
    val qWinners = asOfWinners(spark, path, batchId)
      .withColumnRenamed("vec_id", "q_id")
    val qv = raw.select(col("vec_id").as("q_id"), col("batch_id"),
        col("embedding").as("q_vec"))
      .join(qWinners, Seq("q_id", "batch_id"))
    val exact = nv.join(qv.select(col("q_id"), col("q_vec")), Seq("q_id"))
      .select(col("q_id"), col("neighbor_id"),
        graft.core.Stab.e6(
          graft.functions.vectors.cosineSim(col("n_vec"), col("q_vec")))
          .as("score_e6"))
    graft.operators.KnnSearch.topK(exact, k, asc = false)
  }

  /** Candidate stage of [[knnJoinPqAsOf]] — everything through the
    * per-query rerank cut, before any raw vector is touched; factored
    * out so the plan spec can pin that no float-array column rides
    * any of its exchanges. */
  private[graft] def knnJoinPqAsOfCand(spark: SparkSession, path: String,
      batchId: Long, nProbe: Int, rerank: Int, sub: String,
      probeMass: Option[(Double, Map[Int, Long])] = None): DataFrame = {
    val saltS = IvfIndex.coSaltBuckets(spark)
    repairCompaction(spark, path)
    // a batch join is an expensive corpus job: an as-of the truncated
    // log cannot reconstruct must refuse up front (the CDC endpoints'
    // guard), not silently serve the compaction-floor state under the
    // requested label
    requireAnswerable(spark, path, batchId)
    val books = IvfIndex.readCodebooks(spark, path, sub)
    val rotation = IvfIndex.readRotation(spark, path, sub)
    val raw = spark.read.parquet(s"$path/vectors")
      .filter(col("batch_id") <= batchId)
    val winners = asOfWinners(spark, path, batchId)
    // fine-alphabet fit on the LIVE set: one bounded TakeOrdered job,
    // eager, outside the candidate plan
    val liveForFit = {
      val l = raw.select(col("vec_id"), col("batch_id"), col("embedding"))
        .join(winners, Seq("vec_id", "batch_id"))
      rotation.map(r => l.select(col("vec_id"),
          PqCodebooks.rotateCol(col("embedding"), r).as("embedding")))
        .getOrElse(l.select(col("vec_id"), col("embedding")))
    }
    // the live set is a function of (layout state, batchId): the memo
    // key carries the as-of label, the version guard catches mutation
    val fineBooks = IvfIndex.fineBooksCached(
        spark, s"fine-asof:$path/$sub@$batchId", path) {
      PqCodebooks.train(liveForFit, books.length, PqCodebooks.fineCodes)
    }
    val booksBc = spark.sparkContext.broadcast(fineBooks)
    val sdcBc = spark.sparkContext.broadcast(
      PqCodebooks.crossTable(fineBooks, books))
    // probeMass set: the centroid structs carry the AS-OF live cell
    // masses (dead rows must not count toward the coverage target)
    // and the cut is the knnJoinIvf running-mass prefix
    val centBase = spark.read.parquet(s"$path/centroids")
    val centArr = probeMass match {
      case Some((_, m)) =>
        import spark.implicits._
        val mdf = m.toSeq.toDF("cluster_id", "cmass")
        centBase.join(mdf, Seq("cluster_id"))
          .agg(collect_list(struct(col("cluster_id"), col("centroid"),
            col("cmass"))).as("cents"))
      case None =>
        centBase
          .agg(collect_list(struct(col("cluster_id"), col("centroid"))).as("cents"))
    }
    val encodeInput = rotation.map(r =>
      PqCodebooks.rotateCol(col("embedding"), r)).getOrElse(col("embedding"))
    val probeList: org.apache.spark.sql.Column = probeMass match {
      case Some((t, m)) =>
        val target = lit(math.max(1L, math.ceil(t * m.values.sum).toLong))
        val sorted = array_sort(transform(col("cents"), c =>
          struct((-graft.functions.vectors.cosineSim(
              col("embedding"), c.getField("centroid"))).as("neg_sim"),
            c.getField("cluster_id").as("cluster_id"),
            c.getField("cmass").as("cmass"))))
        val taken = aggregate(sorted,
          struct(lit(0L).as("m"), lit(0).as("t")),
          (acc, x) => when(acc.getField("m") >= target, acc)
            .otherwise(struct((acc.getField("m") + x.getField("cmass")).as("m"),
              (acc.getField("t") + lit(1)).as("t"))),
          acc => acc.getField("t"))
        slice(sorted, lit(1), greatest(lit(1), taken))
      case None =>
        slice(array_sort(transform(col("cents"), c =>
          struct((-graft.functions.vectors.cosineSim(
              col("embedding"), c.getField("centroid"))).as("neg_sim"),
            c.getField("cluster_id").as("cluster_id")))), 1, nProbe)
    }
    // map-side probe fan-out + encode over EVERY stored row ≤ B; the
    // embedding dies in this projection, and the winners join below
    // keeps only live versions
    val probes = raw
      .crossJoin(broadcast(centArr))
      .select(col("vec_id").as("q_id"), col("batch_id"),
        graft.functions.pq.pqEncode(encodeInput, booksBc).as("q_code"),
        explode(probeList).as("p"))
      .select(col("q_id"), col("batch_id"), col("q_code"),
        col("p.cluster_id").as("cluster_id"))
      .join(winners.withColumnRenamed("vec_id", "q_id"),
        Seq("q_id", "batch_id"))
      .select(col("q_id"), col("q_code"), col("cluster_id"),
        explode(IvfIndex.coSaltValues(saltS)).as("cosalt"))
    val codes = asOfCodes(spark, path, batchId, sub)
      .select(col("cluster_id"), col("vec_id"), col("batch_id"), col("code"),
        IvfIndex.coSaltOf(col("vec_id"), saltS).as("cosalt"))
    // shuffle_hash (build = codes), probes stream — the measured
    // q_id-grouped-pair-stream orientation (IvfIndex.coSaltBuckets's
    // orientation note)
    val scored = codes.hint("shuffle_hash")
      .join(probes, Seq("cluster_id", "cosalt"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("cluster_id"), col("vec_id"), col("batch_id"),
        graft.functions.pq.pqSdc(col("q_code"), col("code"), sdcBc).as("sdc"))
    scored.withColumn("srank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sdc").asc, col("vec_id").asc)))
      .filter(col("srank") <= rerank)
      .select(col("q_id"), col("cluster_id"), col("vec_id"), col("batch_id"))
  }

  /** Serve-identity comparator shared by every grid: the count of
    * (q_id, rank, neighbor_id, score_e6) rows NOT present in both
    * serves — 0 iff the two serves are row-identical. One definition
    * so the IVF and NSW grids cannot silently diverge on what
    * "identical" means. */
  private[graft] def serveDiffCount(a: DataFrame, b: DataFrame,
      name: String): DataFrame =
    a.unionByName(b)
      .groupBy(col("q_id"), col("rank"), col("neighbor_id"), col("score_e6"))
      .agg(count(lit(1)).as("c"))
      .agg(count(when(col("c") =!= 2L, 1)).as(name))

  /** Copy a layout directory tree (pristine scenario → per-invocation
    * work dir). Pure filesystem traffic — no Spark job; the layouts
    * these ops copy are the bounded accountability scenarios, never a
    * production index. */
  private[graft] def copyLayout(spark: SparkSession, src: String,
      dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcP = new Path(src)
    val dstP = new Path(dst)
    val fs = srcP.getFileSystem(conf)
    fs.delete(dstP, true)
    fs.mkdirs(dstP.getParent)
    org.apache.hadoop.fs.FileUtil.copy(fs, srcP, fs, dstP, false, conf)
  }

  /** Session memo of the PRISTINE four-batch accountability scenario
    * (base fit over `vec_id >= 50` as batch 0; upsert `< 25` as batch
    * 1; delete its `% 7 = 0` ids + upsert `25..49` as batch 2; a
    * CORRUPT zero-vector batch 3 over `< 10`). The scenario ops used
    * to delete + rebuild this layout per invocation — under
    * Verify/Bench repeats that re-paid three applyBatch calls per run;
    * now the build happens once per (session, dir) and each invocation
    * serves from a cheap filesystem COPY, so the destructive steps
    * (rollback, compaction) never touch the memoized original.
    * Store-write invalidation via [[graft.store.VersionedMemo]]: a
    * write under `dir` rebuilds the scenario, the buildCachedFor
    * discipline. Eviction deletes the abandoned temp tree. */
  private val scenarioCache = new graft.store.VersionedMemo[String](p =>
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(p).getParentFile))

  private[graft] def pristineScenario(spark: SparkSession, dir: String): String =
    scenarioCache.get(spark, s"ivf_asof_scenario:$dir", dir) {
      import spark.implicits._
      // meta-bearing since round 10: `label` rides the posting rows,
      // the code sidecars, and every reconstruction, so the scenario
      // serves the filtered as-of entries too
      val all = Tables.embeddings(spark, dir)
        .select($"vec_id", $"embedding", $"label")
      val path = java.nio.file.Files
        .createTempDirectory("graft-asof-ivf").toString + "/pristine"
      val base = all.filter($"vec_id" >= 50)
      init(IvfIndex.buildCachedFor(s"ivf_asof_base_meta:$dir", spark, base, dir,
        metaCols = Seq("label")), path)
      // the versioned compressed tier rides the same scenario: the
      // sidecar init encodes the base, every applyBatch below encodes
      // its delta with the frozen codebooks
      initPq(spark, path)
      applyBatch(spark, path, 1L,
        upserts = all.filter($"vec_id" < 25),
        deletes = all.limit(0).select($"vec_id"))
      applyBatch(spark, path, 2L,
        upserts = all.filter($"vec_id" >= 25 && $"vec_id" < 50),
        deletes = all.filter($"vec_id" < 25 && $"vec_id" % 7 === 0).select($"vec_id"))
      applyBatch(spark, path, 3L,
        upserts = all.filter($"vec_id" < 10)
          .select($"vec_id", transform($"embedding", _ => lit(0.0f)).as("embedding"),
            $"label"),
        deletes = all.limit(0).select($"vec_id"))
      path
    }

  /** `ivf_search_asof`: the versioned layout's serve path pushed
    * through an invariant grid over the deterministic batch history of
    * [[pristineScenario]] (served from a per-invocation copy — the
    * rollback below is destructive).
    * Grid per probe (`vec_id < 5`, served AS OF batch 2):
    *  - `self_found` / `top1_exact`: the probe finds its own batch-1/2
    *    vector at score 1.0 — as-of-2 serves the GOOD embeddings even
    *    though batch 3 has already overwritten them at head;
    *  - `tombstone_hides`: as of batch 2 none of the deleted
    *    (`% 7 = 0`, `< 25`) ids serve;
    *  - `asof1_predates`: as of batch 1 the `25..49` slice is absent
    *    (earlier snapshots don't see later upserts);
    *  - `rollback_identical`: after `rollback(2)`, serving HEAD
    *    returns row-identical results to the pre-rollback as-of-2
    *    serve (the byte-identity contract);
    *  - `sidecar_restored`: the drift sidecar equals batch 2's
    *    manifest after rollback. */
  def ivfSearchAsof(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-snap-" +
      s"${spark.sparkContext.applicationId}-${math.abs(dir.hashCode)}/ivf"
    copyLayout(spark, pristineScenario(spark, dir), path)
    val queries = all.filter($"vec_id" < 5 && $"vec_id" % 7 =!= 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val asof2 = searchAsOf(spark, path, 2L, queries).localCheckpoint(true)
    val perProbe = asof2.groupBy($"q_id").agg(
      (max(when($"neighbor_id" === $"q_id", 1)).isNotNull).as("self_found"),
      (max($"score_e6") === 1000000L).as("top1_exact"))
    val live2 = asOfAssigned(spark, path, 2L)
    val tombOk = live2.filter($"vec_id" < 25 && $"vec_id" % 7 === 0)
      .agg(count(lit(1)).as("n_deleted_live"))
    val live1 = asOfAssigned(spark, path, 1L)
    val asof1Ok = live1.agg(
      count(when($"vec_id" >= 25 && $"vec_id" < 50, 1)).as("n_future_live"))
    rollback(spark, path, 2L)
    val headAfter = searchAsOf(spark, path, Long.MaxValue, queries)
    val identical = serveDiffCount(asof2, headAfter, "n_diff")
    val meta = IndexMeta.read(spark, path).getOrElse(IndexMeta.Meta(-1L, -1L))
    val manifest = readManifest(spark, path, 2L).getOrElse(IndexMeta.Meta(-2L, -2L))
    val globals = tombOk.crossJoin(asof1Ok).crossJoin(identical)
      .select(
        ($"n_deleted_live" === 0L).as("tombstone_hides"),
        ($"n_future_live" === 0L).as("asof1_predates"),
        ($"n_diff" === 0L).as("rollback_identical"),
        lit(meta == manifest).as("sidecar_restored"))
    perProbe.crossJoin(broadcast(globals))
      .select($"q_id", $"self_found", $"top1_exact", $"tombstone_hides",
        $"asof1_predates", $"rollback_identical", $"sidecar_restored")
      .orderBy($"q_id")
  }

  val ivfSearchAsofSql: String =
    """SELECT vec_id AS q_id, true AS self_found, true AS top1_exact,
      |  true AS tombstone_hides, true AS asof1_predates,
      |  true AS rollback_identical, true AS sidecar_restored
      |FROM embeddings WHERE vec_id < 5 AND vec_id % 7 <> 0
      |ORDER BY q_id""".stripMargin

  /** `ivf_compact`: the compaction contract as a driver-checked grid
    * (it was spec-only — a regression in the maintenance job the
    * long-running versioned streams depend on would not have flipped
    * any CORRECTNESS row). Over a copy of [[pristineScenario]],
    * `compact(upTo = 2)` must leave, per probe:
    *  - `serve2_identical` / `head_identical`: as-of-2 and HEAD serve
    *    INPUTS set-identical before/after (round 11: the probe serve
    *    is a deterministic function of the assigned rows + untouched
    *    centroids, so input identity implies the old serve-level
    *    identity and pays key-only scans instead of five serves —
    *    merge-on-read folded away with zero serving effect, the
    *    log-structured-compaction contract);
    *  - `history_truncated`: manifests below 2 gone, 2 and 3 kept;
    *  - `tombstones_gone`: no tombstone list ≤ 2 survives (they are
    *    folded into the consolidated base);
    *  - `dirs_bounded`: no `batch_id < 2` vector directory survives
    *    (the un-compacted directory count is what a scheduled
    *    compaction exists to bound);
    *  - `guard_refuses`: rollback to the compacted-away batch 1 THROWS
    *    instead of deleting the consolidated base (the rollback
    *    manifest guard);
    *  - `rollback_works`: rollback to the compaction point still
    *    serves the as-of-2 results. */
  /** The full SERVE INPUT at an as-of point, keys + hashes only: the
    * (vec_id, fingerprint-over-EVERYTHING-including-cluster_id) live
    * set. The probe serve is a deterministic function of the assigned
    * rows (content + cluster placement) and the centroids (which
    * compaction never touches), so set identity here implies serve
    * identity — the round-11 floor trim: the compact grid used to
    * prove identity with five probe serves; comparing their input is
    * strictly stronger and pays one key-only scan each. */
  private def postingStateAt(spark: SparkSession, path: String,
      batchId: Long): DataFrame =
    asOfFingerprints(spark, path, batchId, "fp", exclude = Set("vec_id"))
      .localCheckpoint(true)

  private def postingStateDiff(a: DataFrame, b: DataFrame): Long =
    rowSetDiffCount(a, b, "n").collect().head.getLong(0)

  def ivfCompactChecked(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-snap-" +
      s"${spark.sparkContext.applicationId}-${math.abs(dir.hashCode)}/ivf_compact"
    copyLayout(spark, pristineScenario(spark, dir), path)
    val queries = all.filter($"vec_id" < 5 && $"vec_id" % 7 =!= 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val asof2Before = postingStateAt(spark, path, 2L)
    val headBefore = postingStateAt(spark, path, Long.MaxValue)
    compact(spark, path, 2L)
    val asof2After = postingStateAt(spark, path, 2L)
    val headAfter = postingStateAt(spark, path, Long.MaxValue)
    val serve2Id = postingStateDiff(asof2Before, asof2After) == 0L
    val headId = postingStateDiff(headBefore, headAfter) == 0L
    // ONE end-to-end serve of the COMPACTED layout: the input-identity
    // columns imply serve identity only if serving still works — a
    // commit bug that breaks the partition tree in a way only the
    // pruned read path hits must not produce an all-true grid
    val served = searchAsOf(spark, path, 2L, queries).localCheckpoint(true)
    val perProbe = served.groupBy($"q_id").agg(
      (max(when($"neighbor_id" === $"q_id", 1)).isNotNull).as("self_found"),
      (max($"score_e6") === 1000000L).as("top1_exact"))
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchDirs = fs.listStatus(new Path(s"$path/vectors"))
      .filter(_.isDirectory)
      .flatMap(c => fs.listStatus(c.getPath).filter(_.isDirectory)
        .flatMap(d => batchDirId(d.getPath.getName)))
      .toSet
    val tombRoot = new Path(s"$path/tombstones")
    val tombDirs =
      if (!fs.exists(tombRoot)) Set.empty[Long]
      else fs.listStatus(tombRoot).filter(_.isDirectory)
        .flatMap(d => batchDirId(d.getPath.getName)).toSet
    val manifests = manifestIds(spark, path)
    val guardOk =
      try { rollback(spark, path, 1L); false }
      catch { case _: IllegalArgumentException => true }
    rollback(spark, path, 2L)
    val headRolled = postingStateAt(spark, path, Long.MaxValue)
    val rolledId = postingStateDiff(asof2Before, headRolled) == 0L
    Seq(asof2Before, headBefore, asof2After, headAfter, headRolled)
      .foreach(graft.core.Checkpoints.free)
    val globals = broadcast(spark.range(1).select(
      lit(serve2Id).as("serve2_identical"),
      lit(headId).as("head_identical"),
      lit(manifests == Seq(2L, 3L)).as("history_truncated"),
      lit(tombDirs.forall(_ > 2L)).as("tombstones_gone"),
      lit(batchDirs.forall(_ >= 2L)).as("dirs_bounded"),
      lit(guardOk).as("guard_refuses"),
      lit(rolledId).as("rollback_works")))
    perProbe.crossJoin(globals)
      .select($"q_id", $"self_found", $"top1_exact", $"serve2_identical",
        $"head_identical", $"history_truncated", $"tombstones_gone",
        $"dirs_bounded", $"guard_refuses", $"rollback_works")
      .orderBy($"q_id")
  }

  val ivfCompactCheckedSql: String =
    """SELECT vec_id AS q_id, true AS self_found, true AS top1_exact,
      |  true AS serve2_identical, true AS head_identical,
      |  true AS history_truncated, true AS tombstones_gone,
      |  true AS dirs_bounded, true AS guard_refuses, true AS rollback_works
      |FROM embeddings WHERE vec_id < 5 AND vec_id % 7 <> 0
      |ORDER BY q_id""".stripMargin

  /** `ivf_search_asof_pq`: the versioned COMPRESSED tier's serve —
    * [[searchAsOfPq]] over [[pristineScenario]]'s sidecar — pushed
    * through an invariant grid (per-invocation copy; the compaction
    * and rollback below are destructive):
    *  - `self_found` / `top1_exact`: the production-rerank ADC serve
    *    as of batch 2 finds each probe's own GOOD embedding at 1.0
    *    (batch 3's corrupt codes exist at head but must not serve —
    *    the code rows version correctly);
    *  - `matches_raw`: at EXHAUSTIVE rerank the ADC cut keeps every
    *    live probed code row, so the serve must be row-identical to
    *    the raw [[searchAsOf]] — the end-to-end identity proof that
    *    the live code set, the winner join, and the direct-address
    *    rerank reconstruct exactly the raw as-of state;
    *  - `tombstone_hides`: no deleted id owns a live code row as of 2;
    *  - `compact_identical`: the as-of-2 ADC serve is row-identical
    *    across `compact(2)` — the folded code sidecar serves exactly
    *    like the batch history it replaced;
    *  - `dirs_bounded`: post-compaction no `batch_id < 2` code
    *    directory survives (the sidecar's history folds with the raw
    *    rows, not just alongside them);
    *  - `rollback_prunes`: after `rollback(2)` no `batch_id > 2` code
    *    directory survives (a rolled-back batch's codes die with its
    *    raw rows). */
  def ivfSearchAsofPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-snap-" +
      s"${spark.sparkContext.applicationId}-${math.abs(dir.hashCode)}/ivf_asof_pq"
    copyLayout(spark, pristineScenario(spark, dir), path)
    val queries = all.filter($"vec_id" < 5 && $"vec_id" % 7 =!= 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    def nDiff(a: DataFrame, b: DataFrame, name: String) =
      serveDiffCount(a, b, name)
    // every serve/stat materializes EAGERLY before the destructive
    // steps delete or rewrite files its lazy plan would still list
    val prod2 = searchAsOfPq(spark, path, 2L, queries).localCheckpoint(true)
    val exh2 = searchAsOfPq(spark, path, 2L, queries, rerank = 1000000)
      .localCheckpoint(true)
    val raw2 = searchAsOf(spark, path, 2L, queries).localCheckpoint(true)
    val tombOk = asOfCodes(spark, path, 2L)
      .filter($"vec_id" < 25 && $"vec_id" % 7 === 0)
      .agg(count(lit(1)).as("n_deleted_live")).localCheckpoint(true)
    val perProbe = prod2.groupBy($"q_id").agg(
      (max(when($"neighbor_id" === $"q_id", 1)).isNotNull).as("self_found"),
      (max($"score_e6") === 1000000L).as("top1_exact"))
    compact(spark, path, 2L)
    val exh2After = searchAsOfPq(spark, path, 2L, queries, rerank = 1000000)
      .localCheckpoint(true)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def codeBatchDirs(): Set[Long] =
      fs.listStatus(new Path(s"$path/pq/codes")).filter(_.isDirectory)
        .flatMap(c => fs.listStatus(c.getPath).filter(_.isDirectory)
          .flatMap(d => batchDirId(d.getPath.getName)))
        .toSet
    val boundedOk = codeBatchDirs().forall(_ >= 2L)
    rollback(spark, path, 2L)
    val prunedOk = codeBatchDirs().forall(_ <= 2L)
    val globals = nDiff(exh2, raw2, "n_diff_raw")
      .crossJoin(nDiff(exh2, exh2After, "n_diff_c"))
      .crossJoin(tombOk)
      .select(
        ($"n_deleted_live" === 0L).as("tombstone_hides"),
        ($"n_diff_raw" === 0L).as("matches_raw"),
        ($"n_diff_c" === 0L).as("compact_identical"),
        lit(boundedOk).as("dirs_bounded"),
        lit(prunedOk).as("rollback_prunes"))
    perProbe.crossJoin(broadcast(globals))
      .select($"q_id", $"self_found", $"top1_exact", $"tombstone_hides",
        $"matches_raw", $"compact_identical", $"dirs_bounded",
        $"rollback_prunes")
      .orderBy($"q_id")
  }

  val ivfSearchAsofPqSql: String =
    """SELECT vec_id AS q_id, true AS self_found, true AS top1_exact,
      |  true AS tombstone_hides, true AS matches_raw,
      |  true AS compact_identical, true AS dirs_bounded,
      |  true AS rollback_prunes
      |FROM embeddings WHERE vec_id < 5 AND vec_id % 7 <> 0
      |ORDER BY q_id""".stripMargin

  /** `knn_join_pq_asof`: [[knnJoinPqAsOf]] over [[pristineScenario]]
    * at the good batch (as-of 2; read-only, so no per-invocation copy
    * is needed), pushed through the [[IvfIndex.knnJoinPqChecked]]
    * oracle grid against the SQL-recomputable live set — every id
    * except the batch-2 deletes (`< 25 ∧ % 7 = 0`) gets a full k:
    *  - `neighbor_live`: each hit is a live-as-of-2 id (a tombstoned
    *    id or a fabricated one joins to nothing and flips the hash);
    *  - `score_exact`: each score recomputed here as the exact e6
    *    cosine of the two embeddings from the TABLE — as of batch 2
    *    every live id's embedding equals the table's, so a leaked
    *    batch-3 corrupt row (zero vector, exists at head for
    *    `vec_id < 10`) cannot score exact and flips the hash;
    *  - `not_self`, `monotone`: the batch-join contract. */
  def knnJoinPqAsofChecked(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = pristineScenario(spark, dir)
    val hits = knnJoinPqAsOf(spark, path, 2L).localCheckpoint(true)
    val live = Tables.embeddings(spark, dir)
      .filter(!($"vec_id" < 25 && $"vec_id" % 7 === 0))
      .select($"vec_id", $"embedding")
    val qv = live.select($"vec_id".as("q_id"), $"embedding".as("q_vec0"))
    val nv = live.select($"vec_id".as("neighbor_id"), $"embedding".as("n_vec0"))
    val next = hits.select($"q_id", ($"rank" - 1).as("rank"),
      $"score_e6".as("next_score"))
    hits.join(qv, Seq("q_id")).join(nv, Seq("neighbor_id"), "left")
      .join(next, Seq("q_id", "rank"), "left")
      .select($"q_id", $"rank",
        $"n_vec0".isNotNull.as("neighbor_live"),
        ($"q_id" =!= $"neighbor_id").as("not_self"),
        coalesce(graft.core.Stab.e6(graft.functions.vectors.cosineSim(
            $"n_vec0", $"q_vec0")) === $"score_e6",
          lit(false)).as("score_exact"),
        coalesce($"next_score" <= $"score_e6", lit(true)).as("monotone"))
      .orderBy($"q_id", $"rank")
  }

  val knnJoinPqAsofSql: String =
    """SELECT e.vec_id AS q_id, CAST(r.rank AS BIGINT) AS rank,
      |  true AS neighbor_live, true AS not_self,
      |  true AS score_exact, true AS monotone
      |FROM embeddings e CROSS JOIN generate_series(1, 5) r(rank)
      |WHERE NOT (e.vec_id < 25 AND e.vec_id % 7 = 0)
      |ORDER BY q_id, rank""".stripMargin

  /** Compressed batch kNN join routed across generations: the offline
    * all-pairs job reads whatever generation answers the as-of —
    * after a cutover the successor's fresh fit and CARRIED PQ sidecar
    * serve it, so the periodic neighbor-graph build keeps its
    * no-full-width-exchange shape across index lifecycle events. */
  def knnJoinPqGen(spark: SparkSession, root: String, batchId: Long,
      nProbe: Int = 0, k: Int = 5, rerank: Int = 200,
      sub: String = "pq"): DataFrame =
    routed(spark, root, batchId)(knnJoinPqAsOf(spark, _, batchId, nProbe, k, rerank, sub))

  /** `knn_join_pq_gen`: [[knnJoinPqGen]] at HEAD over a generational
    * wrap of [[pristineScenario]] (copied → generation 1, rolled back
    * to the good batch 2, then cut over — the ivf_generation
    * scenario), so the batch join must route to the SUCCESSOR and
    * serve from its fresh fit + carried PQ sidecar. Per-hit
    * invariants are [[knnJoinPqAsofChecked]]'s (`neighbor_live`,
    * `score_exact` vs the TABLE, `not_self`, `monotone` — the live
    * set at head equals the batch-2 live set, re-addressed by the
    * cutover); globals pin the lifecycle:
    *  - `routed_to_successor`: the head route resolves to generation
    *    2 and the pointer agrees;
    *  - `sidecar_carried`: the successor owns a code sidecar (the
    *    carry, not a leftover — generation 1's files are untouched
    *    but unused at head). */
  def knnJoinPqGenChecked(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-snap-" +
      s"${spark.sparkContext.applicationId}-${math.abs(dir.hashCode)}/ivf_gen_join"
    val gen1 = Generations.genPath(root, 1)
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root), true)
    copyLayout(spark, pristineScenario(spark, dir), gen1)
    Generations.writePointer(spark, root, 1)
    rollback(spark, gen1, 2L) // head := the good batch
    newGeneration(spark, root)
    val hits = knnJoinPqGen(spark, root, Long.MaxValue).localCheckpoint(true)
    val routedOk = Generations.current(spark, root) == 2 &&
      Generations.route(spark, root, Long.MaxValue) ==
        Generations.genPath(root, 2)
    val sidecarOk = fs.exists(
      new Path(s"${Generations.genPath(root, 2)}/pq/codes"))
    val live = Tables.embeddings(spark, dir)
      .filter(!($"vec_id" < 25 && $"vec_id" % 7 === 0))
      .select($"vec_id", $"embedding")
    val qv = live.select($"vec_id".as("q_id"), $"embedding".as("q_vec0"))
    val nv = live.select($"vec_id".as("neighbor_id"), $"embedding".as("n_vec0"))
    val next = hits.select($"q_id", ($"rank" - 1).as("rank"),
      $"score_e6".as("next_score"))
    hits.join(qv, Seq("q_id")).join(nv, Seq("neighbor_id"), "left")
      .join(next, Seq("q_id", "rank"), "left")
      .select($"q_id", $"rank",
        $"n_vec0".isNotNull.as("neighbor_live"),
        ($"q_id" =!= $"neighbor_id").as("not_self"),
        coalesce(graft.core.Stab.e6(graft.functions.vectors.cosineSim(
            $"n_vec0", $"q_vec0")) === $"score_e6",
          lit(false)).as("score_exact"),
        coalesce($"next_score" <= $"score_e6", lit(true)).as("monotone"),
        lit(routedOk).as("routed_to_successor"),
        lit(sidecarOk).as("sidecar_carried"))
      .orderBy($"q_id", $"rank")
  }

  val knnJoinPqGenSql: String =
    """SELECT e.vec_id AS q_id, CAST(r.rank AS BIGINT) AS rank,
      |  true AS neighbor_live, true AS not_self,
      |  true AS score_exact, true AS monotone,
      |  true AS routed_to_successor, true AS sidecar_carried
      |FROM embeddings e CROSS JOIN generate_series(1, 5) r(rank)
      |WHERE NOT (e.vec_id < 25 AND e.vec_id % 7 = 0)
      |ORDER BY q_id, rank""".stripMargin

  /** `ivf_search_asof_filtered`: filtered serving composed with time
    * travel — the last empty cell of the serving-mode matrix
    * ({persisted, versioned} × {raw, ADC} × {unfiltered, filtered}).
    * Over the meta-bearing scenario, as of the good batch:
    *  - the RAW filtered as-of serve ([[searchAsOfFiltered]]) passes
    *    the standard filtered grid — `k_results` (pre-filter
    *    semantics), `all_match_label` (labels re-derived from the
    *    TABLE, so stale reconstruction metadata flips the hash),
    *    `self_found`/`top1_exact`, `monotone`;
    *  - the ADC filtered as-of serve ([[searchAsOfPqFiltered]]) at
    *    EXHAUSTIVE rerank is row-identical to it
    *    (`adc_matches_raw`) — the filtered code reconstruction, the
    *    sidecar metadata, and the direct-address rerank agree with
    *    the raw path exactly. */
  def ivfSearchAsofFiltered(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    // READ-ONLY over the scenario (serves + reconstructions, no
    // rollback/compaction), so it serves straight from the pristine
    // memo — the per-invocation filesystem copy is only for entries
    // with destructive steps
    val path = pristineScenario(spark, dir)
    val queries = emb.filter($"vec_id" < 5 && $"vec_id" % 7 =!= 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"),
        $"label".as("q_label"))
    val pred = col("label") === col("q_label")
    val raw = searchAsOfFiltered(spark, path, 2L, queries, pred)
      .localCheckpoint(true)
    val adc = searchAsOfPqFiltered(spark, path, 2L, queries, pred,
      rerank = 1000000).localCheckpoint(true)
    val perProbe = ContractGrids.filteredServeGrid(spark, dir, raw)
    val identical = serveDiffCount(raw, adc, "n_diff")
      .select(($"n_diff" === 0L).as("adc_matches_raw"))
    perProbe.crossJoin(broadcast(identical))
      .select($"q_id", $"k_results", $"all_match_label", $"self_found",
        $"top1_exact", $"monotone", $"adc_matches_raw")
      .orderBy($"q_id")
  }

  val ivfSearchAsofFilteredSql: String =
    """SELECT vec_id AS q_id, true AS k_results, true AS all_match_label,
      |  true AS self_found, true AS top1_exact, true AS monotone,
      |  true AS adc_matches_raw
      |FROM embeddings WHERE vec_id < 5 AND vec_id % 7 <> 0
      |ORDER BY q_id""".stripMargin

  /** Change feed between two live sets (the CDC read every
    * log-structured table format exposes — what changed between two
    * versions, without replaying the log): ids present only after are
    * `added`, only before are `deleted`, present in both with a
    * different payload (embedding or any metadata column — the
    * physical cluster assignment is NOT payload: a re-placement with
    * identical content is no change to a consumer) are `updated`;
    * unchanged ids are omitted. One full-outer join on vec_id over
    * the two reconstructions — linear in the live rows, no window, no
    * driver action: the plan a 100 TB version audit needs. */
  /** `nonPayload`: the structural columns excluded from the change
    * payload, per FAMILY — the IVF layout's `cluster_id` is a physical
    * placement, not content, but on the NSW layout (which has no
    * physical cluster_id) a USER metadata column of that name IS
    * payload; a shared hardcoded exclusion would silently drop its
    * changes from the feed. */
  private[graft] def diffLiveSets(before: DataFrame, after: DataFrame,
      nonPayload: Set[String] = Set("vec_id", "cluster_id")): DataFrame = {
    // symmetric payloads or fail loudly: deriving the column list from
    // one side would silently drop changes in a column only the other
    // side carries (a layout-generation boundary adding metadata)
    require(before.columns.toSet == after.columns.toSet,
      s"cannot diff live sets with different schemas: " +
        s"${before.columns.mkString(",")} vs ${after.columns.mkString(",")}")
    val payload = before.columns.toSeq.filterNot(nonPayload)
    def fingerprinted(df: DataFrame, as: String) =
      df.select(col("vec_id"), VersionedLayout.payloadFp(payload).as(as))
    VersionedLayout.diffFingerprints(fingerprinted(before, "b_fp"),
      fingerprinted(after, "a_fp"))
  }

  /** `index_asof_diff`: the versioned layouts' change-data feed,
    * certified for BOTH index families against one oracle — the
    * deterministic scenario's batch transitions make every change
    * type derivable in pure SQL. Batch 1→2 exercises `added` (the
    * 25..49 upserts) and `deleted` (the `%7 = 0` tombstones); batch
    * 2→3 exercises `updated` (the corrupt re-upserts of live ids) and
    * the re-add edge case (ids dead at 2 revived by 3 → `added`,
    * never `updated` — a consumer must not diff against a dead row).
    * The IVF and NSW reconstructions must emit the IDENTICAL feed:
    * the diff is a function of the event log, not the index family
    * serving it. Read-only — serves straight from the memoized
    * pristine scenarios, no copy, no rebuild. */
  def indexAsofDiff(spark: SparkSession, dir: String): DataFrame = {
    val ivfPath = pristineScenario(spark, dir)
    val nswPath = NswSnapshotLayout.pristineScenario(spark, dir)
    def feed(family: String, layout: VersionedLayout, path: String): DataFrame =
      Seq((1L, 2L), (2L, 3L)).map { case (b1, b2) =>
        VersionedLayout.diffFingerprints(
          layout.asOfFingerprints(spark, path, b1, "b_fp"),
          layout.asOfFingerprints(spark, path, b2, "a_fp"))
          .select(lit(family).as("family"), lit(b1).as("from_b"),
            lit(b2).as("to_b"), col("vec_id"), col("change"))
      }.reduce(_ unionByName _)
    feed("ivf", this, ivfPath)
      .unionByName(feed("nsw", NswSnapshotLayout, nswPath))
      .orderBy(col("family"), col("from_b"), col("vec_id"))
  }

  /** `index_layout_stats`: [[layoutDebt]] certified for both families
    * over the deterministic scenario — every count is derivable in
    * pure SQL from the batch history (base `≥50` + 25 + 25 + 10
    * upsert rows = N+10 total; only ids 14/21 stay dead = N−2 live;
    * 12 superseded = the 10 re-upserts of `<10` plus the 2 dead
    * rows; 4 tombstones; 4 manifests). The two families must report
    * the IDENTICAL debt: the gauge reads the event log, not the
    * index structures on top of it. */
  def indexLayoutStats(spark: SparkSession, dir: String): DataFrame = {
    val ivfPath = pristineScenario(spark, dir)
    val nswPath = NswSnapshotLayout.pristineScenario(spark, dir)
    layoutDebt(spark, ivfPath)
      .select(lit("ivf").as("family") +: VersionedLayout.debtCols: _*)
      .unionByName(NswSnapshotLayout.layoutDebt(spark, nswPath)
        .select(lit("nsw").as("family") +: VersionedLayout.debtCols: _*))
      .orderBy(col("family"))
  }

  val indexLayoutStatsSql: String =
    """SELECT f.family, CAST(4 AS BIGINT) AS n_batches,
      |  (SELECT count(*) FROM embeddings) + 10 AS total_rows,
      |  (SELECT count(*) FROM embeddings) - 2 AS live_rows,
      |  CAST(12 AS BIGINT) AS superseded_rows,
      |  CAST(2 AS BIGINT) AS dead_ids,
      |  CAST(4 AS BIGINT) AS tombstone_rows,
      |  (SELECT count(*) FROM embeddings) - 50 AS fitted_n,
      |  CAST(64 AS BIGINT) AS delta_since_fit
      |FROM (SELECT 'ivf' AS family UNION ALL SELECT 'nsw') f
      |ORDER BY f.family""".stripMargin

  // ---- generation lifecycle: routed serves (the cutover is the core's) --

  /** Initialize a GENERATIONAL root: the base fit as generation 1. */
  def initGen(built: IvfIndex.Built, root: String): Unit =
    initGenWith(built.assigned.sparkSession, root)(init(built, _))

  def asOfAssignedGen(spark: SparkSession, root: String, batchId: Long): DataFrame =
    routed(spark, root, batchId)(asOfAssigned(spark, _, batchId))

  /** At or past a cutover the successor's fresh fit answers; below it
    * the old generation keeps serving its frozen addresses. */
  def searchAsOfGen(spark: SparkSession, root: String, batchId: Long,
      queries: DataFrame, nProbe: Int = 0, k: Int = 10): DataFrame =
    routed(spark, root, batchId)(searchAsOf(spark, _, batchId, queries, nProbe, k))

  def searchAsOfSingleGen(spark: SparkSession, root: String, batchId: Long,
      query: DataFrame, nProbe: Int = 0, k: Int = 10): DataFrame =
    routed(spark, root, batchId)(searchAsOfSingle(spark, _, batchId, query, nProbe, k))

  /** The /query-shaped filtered serve over a generational root. */
  def searchAsOfFilteredSingleGen(spark: SparkSession, root: String,
      batchId: Long, query: DataFrame, pred: org.apache.spark.sql.Column,
      nProbe: Int = 0, k: Int = 10): DataFrame =
    routed(spark, root, batchId) { path =>
      IvfIndex.searchFilteredSingle(
        IvfIndex.Built(asOfAssigned(spark, path, batchId),
          spark.read.parquet(s"$path/centroids")),
        query, pred,
        IvfIndex.resolveNProbeAt(spark, path, nProbe, IvfIndex.filteredNProbeBase), k)
    }

  /** Metadata rides the cutover's re-fit, so the filtered mode survives it. */
  def searchAsOfFilteredGen(spark: SparkSession, root: String, batchId: Long,
      queries: DataFrame, pred: org.apache.spark.sql.Column,
      nProbe: Int = 0, k: Int = 10): DataFrame =
    routed(spark, root, batchId)(
      searchAsOfFiltered(spark, _, batchId, queries, pred, nProbe, k))

  /** The cutover carries each code sidecar, so the ADC tier survives it. */
  def searchAsOfPqGen(spark: SparkSession, root: String, batchId: Long,
      queries: DataFrame, nProbe: Int = 0,
      k: Int = 10, rerank: Int = 200, sub: String = "pq"): DataFrame =
    routed(spark, root, batchId)(
      searchAsOfPq(spark, _, batchId, queries, nProbe, k, rerank, sub))

  /** Count of full rows NOT present in both frames (0 iff the two
    * frames are multiset-identical) — the set-level identity check
    * the generation grids use: stronger than serve identity, since
    * the serves are deterministic functions of these sets. */
  private[graft] def rowSetDiffCount(a: DataFrame, b: DataFrame,
      name: String): DataFrame = {
    // true MULTISET diff: per-row counts compared per side (the naive
    // union-and-count-≠2 heuristic miscounts duplicated rows — a row
    // twice in one frame and absent from the other sums to 2 and would
    // read "identical"). The join is NULL-SAFE on every column: GROUP
    // BY treats null keys as equal, so the join must too, or a row
    // with a null field present in BOTH frames would land as two
    // unmatched rows and read as a difference.
    val cols = a.columns.toSeq
    val ca = a.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__ca"))
      .alias("ga")
    val cb = b.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__cb"))
      .alias("gb")
    val cond = cols.map(c => col(s"ga.$c") <=> col(s"gb.$c")).reduce(_ && _)
    ca.join(cb, cond, "full_outer")
      .filter(!(col("__ca") <=> col("__cb")))
      .agg(count(lit(1)).as(name))
  }

  /** `ivf_generation`: the cutover contract as a driver-checked grid
    * over a generational wrap of [[pristineScenario]] (copied, rolled
    * back to the good batch 2 so the re-fit trains on good
    * embeddings). Columns, per probe:
    *  - `matches_fresh`: generation 2's persisted base is a genuine
    *    fresh fit — every stored row sits in its d2-nearest gen-2
    *    centroid (the assignment re-derived from the persisted
    *    centroids, 1e-9 tie margin; KMeans float-accumulation order
    *    is not pinned across independent fits, so the grid checks the
    *    fit's own optimality condition instead of racing a second
    *    fit) AND the centroids moved off generation 1's;
    *  - `boundary_live_identical`: at the cutover batch both
    *    generations reconstruct the same live set (fingerprint diff
    *    empty) — the boundary is a re-addressing, not a data change;
    *  - `old_asof_served`: an as-of BELOW the cutover, read through
    *    the generational root, routes to generation 1 and serves
    *    row-identically to the pre-cutover serve;
    *  - `gauge_reset`: the per-generation debt gauge shows the
    *    successor at one batch, fitted_n = its live rows,
    *    delta_since_fit = 0, and carrying the pointer;
    *  - `cross_rollback_refused`: rollback to a pre-cutover batch
    *    throws instead of mangling the successor;
    *  - `post_cutover_applies`: a batch applied AFTER the cutover
    *    (re-adding two dead ids) lands in generation 2's log and
    *    serves at head — the successor is a living log, not a frozen
    *    copy;
    *  - `sidecar_carried`: the PQ sidecar exists on the successor;
    *  - `retired_refuses`: after `dropGeneration(1)` (run LAST, once
    *    every generation-1 aggregate is materialized), a pre-cutover
    *    as-of refuses at routing instead of aliasing an older head —
    *    the retention trade made explicit;
    *  - `self_found` / `top1_exact`: the head serve through the
    *    generational route finds each probe's own vector at 1.0. */
  def ivfGeneration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", $"label")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-snap-" +
      s"${spark.sparkContext.applicationId}-${math.abs(dir.hashCode)}/ivf_gen"
    val gen1 = Generations.genPath(root, 1)
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root), true)
    copyLayout(spark, pristineScenario(spark, dir), gen1)
    Generations.writePointer(spark, root, 1)
    rollback(spark, gen1, 2L) // head := the good batch
    val queries = all.filter($"vec_id" < 5 && $"vec_id" % 7 =!= 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val asof1Before = searchAsOf(spark, gen1, 1L, queries).localCheckpoint(true)
    val newGen = newGeneration(spark, root)
    val gen2 = Generations.genPath(root, 2)
    // fresh-fit identity, expressed deterministically: KMeans'
    // float-accumulation order is not pinned across fits, so instead
    // of racing a SECOND fit against the cutover's, the grid pins
    // (a) every stored base row sits in its d2-nearest gen-2 centroid
    // within a 1e-9 tie margin (the fit's own assignment re-derived
    // from its persisted centroids — a fresh build could assign no
    // better), and (b) the centroids genuinely moved off generation
    // 1's (the re-fit happened; gen 1 was fit on the >= 50 slice
    // only). Content identity with the head live set is the boundary
    // check below.
    val storedBase = spark.read.parquet(s"$gen2/vectors")
      .filter($"batch_id" === 2L).drop("batch_id")
    val gen2Cent = spark.read.parquet(s"$gen2/centroids")
    val vv = graft.functions.vectors.dotProduct(col("embedding"), col("embedding"))
    val vc = graft.functions.vectors.dotProduct(col("embedding"), col("centroid"))
    val cc = graft.functions.vectors.dotProduct(col("centroid"), col("centroid"))
    val d2 = lit(1.0) - lit(2.0) *
      when(vv === 0d, lit(0.0)).otherwise(vc / sqrt(vv)) + cc
    val rowsDiff = storedBase
      .select($"vec_id", $"embedding", $"cluster_id".as("assigned"))
      .crossJoin(broadcast(gen2Cent)).withColumn("d2", d2)
      .groupBy($"vec_id").agg(
        min($"d2").as("best"),
        min(when($"cluster_id" === $"assigned", $"d2")).as("got"))
      // 1e-6 margin: assignments were chosen against double-precision
      // KMeans centers but the persisted centroids are float32, which
      // perturbs d2 by ~1e-7 relative — a tighter margin would flip
      // genuinely-tied rows nondeterministically; real inter-centroid
      // gaps on this corpus are orders of magnitude wider
      .agg(count(when($"got" > $"best" + 1e-6, 1)).as("n_rows_diff"))
    val centDiff = rowSetDiffCount(spark.read.parquet(s"$gen1/centroids"),
      gen2Cent, "n_cent_same_comp")
      .select(($"n_cent_same_comp" === 0L).cast("long").as("n_cent_diff"))
    val boundary = VersionedLayout.diffFingerprints(
        asOfFingerprints(spark, gen1, 2L, "b_fp"),
        asOfFingerprints(spark, gen2, 2L, "a_fp"))
      .agg(count(lit(1)).as("n_boundary_diff"))
    val asof1After = searchAsOfGen(spark, root, 1L, queries)
    val oldServed = serveDiffCount(asof1Before, asof1After, "n_old_diff")
    // gauge BEFORE the post-cutover batch: the reset state
    val debts = layoutDebtGen(spark, root).collect()
    val gen2Row = debts.find(_.getAs[Long]("generation") == 2L)
    val gaugeReset = gen2Row.exists(r =>
      r.getAs[Boolean]("is_current") && r.getAs[Long]("n_batches") == 1L &&
        r.getAs[Long]("delta_since_fit") == 0L &&
        r.getAs[Long]("fitted_n") == r.getAs[Long]("live_rows")) &&
      debts.count(_.getAs[Boolean]("is_current")) == 1
    val crossRefused =
      try { rollbackGen(spark, root, 1L); false }
      catch { case _: IllegalArgumentException => true }
    // the successor is a living log: re-add two ids dead since batch 2
    applyBatchGen(spark, root, 3L,
      upserts = all.filter($"vec_id" === 14 || $"vec_id" === 21),
      deletes = all.limit(0).select($"vec_id"))
    val reAdded = asOfAssignedGen(spark, root, Long.MaxValue)
      .filter($"vec_id" === 14 || $"vec_id" === 21)
      .agg(count(lit(1)).as("n_readded"))
    val landedGen2 = manifestIds(spark, gen2) == Seq(2L, 3L)
    val sidecarCarried = fs.exists(new Path(s"$gen2/pq/codes"))
    // retirement is the lifecycle's last verb: dropping generation 1
    // must flip its as-ofs to LOUD refusal at routing, never a silent
    // alias of an older head. Every generation-1-reading aggregate
    // above is materialized (localCheckpoint) before the files go.
    val centDiffM = centDiff.localCheckpoint(true)
    val boundaryM = boundary.localCheckpoint(true)
    val oldServedM = oldServed.localCheckpoint(true)
    Generations.dropGeneration(spark, root, 1)
    val retiredRefuses =
      (try { Generations.route(spark, root, 1L); false }
      catch { case _: IllegalArgumentException => true }) &&
        Generations.list(spark, root) == Seq(2)
    val head = searchAsOfGen(spark, root, Long.MaxValue, queries)
    val perProbe = head.groupBy($"q_id").agg(
      (max(when($"neighbor_id" === $"q_id", 1)).isNotNull).as("self_found"),
      (max($"score_e6") === 1000000L).as("top1_exact"))
    val globals = rowsDiff.crossJoin(centDiffM).crossJoin(boundaryM)
      .crossJoin(oldServedM).crossJoin(reAdded)
      .select(
        ($"n_rows_diff" === 0L && $"n_cent_diff" === 0L).as("matches_fresh"),
        ($"n_boundary_diff" === 0L).as("boundary_live_identical"),
        ($"n_old_diff" === 0L).as("old_asof_served"),
        lit(newGen == 2 && Generations.current(spark, root) == 2 &&
          gaugeReset).as("gauge_reset"),
        lit(crossRefused).as("cross_rollback_refused"),
        ($"n_readded" === 2L && lit(landedGen2)).as("post_cutover_applies"),
        lit(sidecarCarried).as("sidecar_carried"),
        lit(retiredRefuses).as("retired_refuses"))
    perProbe.crossJoin(broadcast(globals))
      .select($"q_id", $"self_found", $"top1_exact", $"matches_fresh",
        $"boundary_live_identical", $"old_asof_served", $"gauge_reset",
        $"cross_rollback_refused", $"post_cutover_applies", $"sidecar_carried",
        $"retired_refuses")
      .orderBy($"q_id")
  }

  val ivfGenerationSql: String =
    """SELECT vec_id AS q_id, true AS self_found, true AS top1_exact,
      |  true AS matches_fresh, true AS boundary_live_identical,
      |  true AS old_asof_served, true AS gauge_reset,
      |  true AS cross_rollback_refused, true AS post_cutover_applies,
      |  true AS sidecar_carried, true AS retired_refuses
      |FROM embeddings WHERE vec_id < 5 AND vec_id % 7 <> 0
      |ORDER BY q_id""".stripMargin

  val indexAsofDiffSql: String =
    """SELECT f.family, d.from_b, d.to_b, d.vec_id, d.change
      |FROM (SELECT 'ivf' AS family UNION ALL SELECT 'nsw') f
      |CROSS JOIN (
      |  SELECT CAST(1 AS BIGINT) AS from_b, CAST(2 AS BIGINT) AS to_b,
      |         vec_id, 'added' AS change
      |  FROM embeddings WHERE vec_id >= 25 AND vec_id < 50
      |  UNION ALL
      |  SELECT 1, 2, vec_id, 'deleted'
      |  FROM embeddings WHERE vec_id < 25 AND vec_id % 7 = 0
      |  UNION ALL
      |  SELECT 2, 3, vec_id, 'added'
      |  FROM embeddings WHERE vec_id < 10 AND vec_id % 7 = 0
      |  UNION ALL
      |  SELECT 2, 3, vec_id, 'updated'
      |  FROM embeddings WHERE vec_id < 10 AND vec_id % 7 <> 0
      |) d
      |ORDER BY f.family, d.from_b, d.vec_id""".stripMargin
}
