package graft.index

import graft.core.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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

  private[index] def payloadRoots: Seq[String] = Seq("vectors")

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
      IvfIndex.cellMassesOf(asOfAssigned(spark, path, batchId))
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

  /** [[IvfIndex.probePlan]] for an as-of serve: the head-tuned τ
    * ([[autoTauHead]]), the layout's memoized cell count and the AS-OF
    * live masses (dead rows must not count toward the coverage target). */
  private def asOfPlan(spark: SparkSession, path: String, batchId: Long,
      nProbe: Int, explicit: Option[Double], filtered: Boolean): IvfIndex.ProbePlan =
    IvfIndex.probePlan(spark, nProbe, explicit, Some(autoTauHead(spark, path)), filtered,
      IvfIndex.cellCount(spark, path), asOfCellMasses(spark, path, batchId))

  /** The as-of raw serve, batch or single, filtered or not: the as-of
    * posting set under the base fit's centroids (the incremental-add
    * serving contract), probed under [[asOfPlan]]. */
  private def asOfSearch(spark: SparkSession, path: String, batchId: Long,
      queries: DataFrame, pred: Option[Column], nProbe: Int, k: Int,
      single: Boolean): DataFrame =
    IvfIndex.probeSearch(
      IvfIndex.Built(asOfAssigned(spark, path, batchId), spark.read.parquet(s"$path/centroids")),
      queries, pred, asOfPlan(spark, path, batchId, nProbe, None, pred.isDefined), k, single)

  /** Probe search served from the as-of posting set. */
  def searchAsOf(spark: SparkSession, path: String, batchId: Long,
      queries: DataFrame, nProbe: Int = 0,
      k: Int = 10): DataFrame =
    asOfSearch(spark, path, batchId, queries, None, nProbe, k, single = false)

  /** SINGLE-query probe serve from the as-of posting set — the
    * [[IvfIndex.searchSingle]] discipline composed with time travel:
    * a one-row query frame with a constant q_id constant-folds a
    * windowed top-k's partition spec to EMPTY, pulling every scored
    * candidate into one task; here both cuts are TakeOrdered. The
    * /query-shaped serves (one text query in) use this. */
  def searchAsOfSingle(spark: SparkSession, path: String, batchId: Long,
      query: DataFrame, nProbe: Int = 0,
      k: Int = 10): DataFrame =
    asOfSearch(spark, path, batchId, query, None, nProbe, k, single = true)

  /** PRE-filter probe search served from the as-of posting set — the
    * filtered serving mode composed with time travel: the metadata a
    * meta-bearing layout's batches carry ([[applyBatch]]) rides the
    * reconstruction ([[asOfAssigned]]), so the predicate evaluates
    * in-scan with [[IvfIndex.searchFiltered]]'s semantics (all k
    * results satisfy it) at any as-of point. Same compensated-probe
    * stance as the persisted filtered path. */
  def searchAsOfFiltered(spark: SparkSession, path: String, batchId: Long,
      queries: DataFrame, pred: Column,
      nProbe: Int = 0, k: Int = 10): DataFrame =
    asOfSearch(spark, path, batchId, queries, Some(pred), nProbe, k, single = false)

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
      queries: DataFrame, pred: Column,
      nProbe: Int = 0, k: Int = 10, rerank: Int = 200,
      sub: String = "pq"): DataFrame =
    searchAsOfPqImpl(spark, path, batchId, queries, Some(pred), nProbe, k,
      rerank, sub)

  private def searchAsOfPqImpl(spark: SparkSession, path: String, batchId: Long,
      queries: DataFrame, pred: Option[Column],
      nProbe: Int, k: Int, rerank: Int, sub: String): DataFrame = {
    repairCompaction(spark, path)
    val (lutBc, probes) = IvfIndex.pqQueryState(spark, path, queries,
      asOfPlan(spark, path, batchId, nProbe, None, filtered = pred.isDefined), sub)
    val joined = asOfCodes(spark, path, batchId, sub)
      .join(broadcast(probes), Seq("cluster_id"))
    val adc = pred.map(joined.filter).getOrElse(joined)
      .select(col("q_id"), col("cluster_id"), col("vec_id"), col("batch_id"),
        graft.functions.pq.pqAdc(col("code"), col("q_idx"), lutBc).as("adc"))
    val cand = adc.withColumn("arank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adc").asc, col("vec_id").asc)))
      .filter(col("arank") <= rerank)
      .select(col("q_id"), col("cluster_id"), col("vec_id"), col("batch_id"))
    IvfIndex.rerankExact(spark, path, cand,
      Seq("cluster_id", "vec_id", "batch_id"), queries, k)
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
    val cand = knnJoinPqAsOfCand(spark, path, batchId, nProbe, rerank, sub, probeMass)
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
    * any of its exchanges. `nProbe` and `probeMass` resolve through
    * [[asOfPlan]]. */
  private[graft] def knnJoinPqAsOfCand(spark: SparkSession, path: String,
      batchId: Long, nProbe: Int, rerank: Int, sub: String,
      probeMass: Option[Double] = None): DataFrame = {
    val saltS = IvfIndex.coSaltBuckets(spark)
    repairCompaction(spark, path)
    // a batch join is an expensive corpus job: an as-of the truncated
    // log cannot reconstruct must refuse up front (the CDC endpoints'
    // guard), not silently serve the compaction-floor state under the
    // requested label
    requireAnswerable(spark, path, batchId)
    val plan = asOfPlan(spark, path, batchId, nProbe, probeMass, filtered = false)
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
    val encodeInput = rotation.map(r =>
      PqCodebooks.rotateCol(col("embedding"), r)).getOrElse(col("embedding"))
    // map-side probe fan-out + encode over EVERY stored row ≤ B; the
    // embedding dies in this projection, and the winners join below
    // keeps only live versions
    val probes = raw
      .crossJoin(broadcast(IvfIndex.centArr(spark.read.parquet(s"$path/centroids"), plan)))
      .select(col("vec_id").as("q_id"), col("batch_id"),
        graft.functions.pq.pqEncode(encodeInput, booksBc).as("q_code"),
        explode(IvfIndex.probeList(col("embedding"), plan)).as("p"))
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

  private[graft] def serveDiffCount(a: DataFrame, b: DataFrame,
      name: String): DataFrame = LayoutGrids.serveDiffCount(a, b, name)

  private[graft] def rowSetDiffCount(a: DataFrame, b: DataFrame,
      name: String): DataFrame = LayoutGrids.rowSetDiffCount(a, b, name)

  private[graft] def copyLayout(spark: SparkSession, src: String,
      dst: String): Unit = LayoutGrids.copyLayout(spark, src, dst)

  /** The IVF hooks of the lifecycle grids ([[LayoutGrids]]). */
  private object grids extends LayoutGrids(this, "ivf") {

    /** Meta-bearing: `label` rides the posting rows, the code sidecar
      * (trained on the base, so every batch encodes its delta with the
      * frozen codebooks) and every reconstruction. */
    protected def initScenario(spark: SparkSession, dir: String, base: DataFrame,
        path: String): Unit = {
      init(IvfIndex.buildCachedFor(s"ivf_asof_base_meta:$dir", spark, base, dir,
        metaCols = Seq("label")), path)
      initPq(spark, path)
    }

    protected def serve(spark: SparkSession, path: String, batchId: Long,
        queries: DataFrame): DataFrame = searchAsOf(spark, path, batchId, queries)

    /** `head_identical`: the HEAD serve input is unchanged too. */
    protected def compactExtras(spark: SparkSession,
        path: String): () => Seq[(String, Boolean)] = {
      val before = stateAt(spark, path, Long.MaxValue)
      () => {
        val ok = sameState(before, stateAt(spark, path, Long.MaxValue))
        before.foreach(graft.core.Checkpoints.free)
        Seq("head_identical" -> ok)
      }
    }

    protected def pqServe(spark: SparkSession, path: String, queries: DataFrame,
        rerank: Option[Int]): DataFrame =
      rerank.fold(searchAsOfPq(spark, path, 2L, queries))(r =>
        searchAsOfPq(spark, path, 2L, queries, rerank = r))

    /** At exhaustive rerank the ADC cut keeps every live probed code
      * row, so the serve is row-identical to the raw one. */
    override protected def pqIdentityRerank: Option[Int] = Some(1000000)

    /** `matches_raw`: the exhaustive ADC serve equals the raw
      * [[searchAsOf]] — the live code set, the winner join and the
      * direct-address rerank reconstruct exactly the raw as-of state. */
    protected def pqExtras(spark: SparkSession, dir: String, path: String,
        queries: DataFrame, liveCodes: DataFrame,
        identity: DataFrame): Seq[(String, Boolean)] =
      Seq("matches_raw" ->
        (LayoutGrids.serveDiff(identity, searchAsOf(spark, path, 2L, queries)) == 0L))

    protected def pqColumns: Seq[String] = Seq("tombstone_hides", "matches_raw",
      "compact_identical", "dirs_bounded", "rollback_prunes")

    protected def filteredServe(spark: SparkSession, path: String,
        queries: DataFrame, pred: Column): DataFrame =
      searchAsOfFiltered(spark, path, 2L, queries, pred)

    /** `adc_matches_raw`: the filtered ADC serve at exhaustive rerank
      * equals the raw filtered serve. */
    override protected def filteredExtras(spark: SparkSession, path: String,
        queries: DataFrame, pred: Column, hits: DataFrame): Seq[(String, Boolean)] =
      Seq("adc_matches_raw" -> (LayoutGrids.serveDiff(hits,
        searchAsOfPqFiltered(spark, path, 2L, queries, pred, rerank = 1000000)) == 0L))

    /** Every stored base row of generation 2 sits in its d2-nearest
      * centroid within a 1e-6 margin (KMeans' float accumulation order
      * is not pinned across fits, so the grid checks the fit's own
      * optimality instead of racing a second fit; the persisted float32
      * centroids perturb d2 by ~1e-7), and the centroids moved off
      * generation 1's (fit on the `>= 50` slice only). */
    protected def matchesFresh(spark: SparkSession, gen1: String, gen2: String,
        fresh: Option[DataFrame]): Boolean = {
      import spark.implicits._
      val gen2Cent = spark.read.parquet(s"$gen2/centroids")
      val vv = graft.functions.vectors.dotProduct($"embedding", $"embedding")
      val vc = graft.functions.vectors.dotProduct($"embedding", $"centroid")
      val cc = graft.functions.vectors.dotProduct($"centroid", $"centroid")
      val d2 = lit(1.0) - lit(2.0) * when(vv === 0d, lit(0.0)).otherwise(vc / sqrt(vv)) + cc
      spark.read.parquet(s"$gen2/vectors").filter($"batch_id" === 2L)
        .select($"vec_id", $"embedding", $"cluster_id".as("assigned"))
        .crossJoin(broadcast(gen2Cent)).withColumn("d2", d2)
        .groupBy($"vec_id").agg(min($"d2").as("best"),
          min(when($"cluster_id" === $"assigned", $"d2")).as("got"))
        .filter($"got" > $"best" + 1e-6).isEmpty &&
        LayoutGrids.diffRows(spark.read.parquet(s"$gen1/centroids"), gen2Cent) != 0L
    }
  }

  private[graft] def pristineScenario(spark: SparkSession, dir: String): String =
    grids.pristineScenario(spark, dir)

  /** `ivf_search_asof`: [[LayoutGrids.asOfGrid]]. */
  def ivfSearchAsof(spark: SparkSession, dir: String): DataFrame =
    grids.asOfGrid(spark, dir)

  val ivfSearchAsofSql: String =
    """SELECT vec_id AS q_id, true AS self_found, true AS top1_exact,
      |  true AS tombstone_hides, true AS asof1_predates,
      |  true AS rollback_identical, true AS sidecar_restored
      |FROM embeddings WHERE vec_id < 5 AND vec_id % 7 <> 0
      |ORDER BY q_id""".stripMargin

  /** `ivf_compact`: [[LayoutGrids.compactGrid]] plus `head_identical`. */
  def ivfCompactChecked(spark: SparkSession, dir: String): DataFrame =
    grids.compactGrid(spark, dir)

  val ivfCompactCheckedSql: String =
    """SELECT vec_id AS q_id, true AS self_found, true AS top1_exact,
      |  true AS serve2_identical, true AS head_identical,
      |  true AS history_truncated, true AS tombstones_gone,
      |  true AS dirs_bounded, true AS guard_refuses, true AS rollback_works
      |FROM embeddings WHERE vec_id < 5 AND vec_id % 7 <> 0
      |ORDER BY q_id""".stripMargin

  /** `ivf_search_asof_pq`: [[LayoutGrids.pqGrid]] plus `matches_raw`. */
  def ivfSearchAsofPq(spark: SparkSession, dir: String): DataFrame =
    grids.pqGrid(spark, dir)

  val ivfSearchAsofPqSql: String =
    """SELECT vec_id AS q_id, true AS self_found, true AS top1_exact,
      |  true AS tombstone_hides, true AS matches_raw,
      |  true AS compact_identical, true AS dirs_bounded,
      |  true AS rollback_prunes
      |FROM embeddings WHERE vec_id < 5 AND vec_id % 7 <> 0
      |ORDER BY q_id""".stripMargin

  /** `knn_join_pq_asof`: [[knnJoinPqAsOf]] over [[pristineScenario]]
    * at the good batch (read-only, no copy), through [[joinHitGrid]]. */
  def knnJoinPqAsofChecked(spark: SparkSession, dir: String): DataFrame =
    joinHitGrid(spark, dir, knnJoinPqAsOf(spark, pristineScenario(spark, dir), 2L)
      .localCheckpoint(true))

  /** The [[IvfIndex.knnJoinPqChecked]] oracle grid against the
    * SQL-recomputable live set as of 2 — every id except the batch-2
    * deletes gets a full k:
    *  - `neighbor_live`: each hit is a live id (a tombstoned or
    *    fabricated id joins to nothing and flips the hash);
    *  - `score_exact`: each score is the exact e6 cosine of the two
    *    TABLE embeddings — a leaked batch-3 zero vector cannot match;
    *  - `not_self`, `monotone`: the batch-join contract;
    *  - then `extra`. */
  private def joinHitGrid(spark: SparkSession, dir: String, hits: DataFrame,
      extra: Column*): DataFrame = {
    import spark.implicits._
    val live = Tables.embeddings(spark, dir)
      .filter(!($"vec_id" < 25 && $"vec_id" % 7 === 0))
      .select($"vec_id", $"embedding")
    val qv = live.select($"vec_id".as("q_id"), $"embedding".as("q_vec0"))
    val nv = live.select($"vec_id".as("neighbor_id"), $"embedding".as("n_vec0"))
    val next = hits.select($"q_id", ($"rank" - 1).as("rank"),
      $"score_e6".as("next_score"))
    hits.join(qv, Seq("q_id")).join(nv, Seq("neighbor_id"), "left")
      .join(next, Seq("q_id", "rank"), "left")
      .select(Seq($"q_id", $"rank",
        $"n_vec0".isNotNull.as("neighbor_live"),
        ($"q_id" =!= $"neighbor_id").as("not_self"),
        coalesce(graft.core.Stab.e6(graft.functions.vectors.cosineSim(
            $"n_vec0", $"q_vec0")) === $"score_e6",
          lit(false)).as("score_exact"),
        coalesce($"next_score" <= $"score_e6", lit(true)).as("monotone")) ++ extra: _*)
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
    * wrap of the scenario ([[LayoutGrids.genRoot]], then cut over), so
    * the join routes to the successor's fresh fit and carried PQ
    * sidecar; [[joinHitGrid]] per hit, plus:
    *  - `routed_to_successor`: the head route resolves to generation 2
    *    and the pointer agrees;
    *  - `sidecar_carried`: the successor owns a code sidecar. */
  def knnJoinPqGenChecked(spark: SparkSession, dir: String): DataFrame = {
    val (root, _) = grids.genRoot(spark, dir, "ivf_gen_join")
    newGeneration(spark, root)
    val hits = knnJoinPqGen(spark, root, Long.MaxValue).localCheckpoint(true)
    val gen2 = Generations.genPath(root, 2)
    val routedOk = Generations.current(spark, root) == 2 &&
      Generations.route(spark, root, Long.MaxValue) == gen2
    val sidecarOk = VersionedLayout.fsOf(spark, root).exists(new Path(s"$gen2/pq/codes"))
    joinHitGrid(spark, dir, hits, lit(routedOk).as("routed_to_successor"),
      lit(sidecarOk).as("sidecar_carried"))
  }

  val knnJoinPqGenSql: String =
    """SELECT e.vec_id AS q_id, CAST(r.rank AS BIGINT) AS rank,
      |  true AS neighbor_live, true AS not_self,
      |  true AS score_exact, true AS monotone,
      |  true AS routed_to_successor, true AS sidecar_carried
      |FROM embeddings e CROSS JOIN generate_series(1, 5) r(rank)
      |WHERE NOT (e.vec_id < 25 AND e.vec_id % 7 = 0)
      |ORDER BY q_id, rank""".stripMargin

  /** `ivf_search_asof_filtered`: [[LayoutGrids.filteredGrid]] plus
    * `adc_matches_raw` — the last cell of the serving-mode matrix
    * ({persisted, versioned} × {raw, ADC} × {unfiltered, filtered}). */
  def ivfSearchAsofFiltered(spark: SparkSession, dir: String): DataFrame =
    grids.filteredGrid(spark, dir)

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
      batchId: Long, query: DataFrame, pred: Column,
      nProbe: Int = 0, k: Int = 10): DataFrame =
    routed(spark, root, batchId)(
      asOfSearch(spark, _, batchId, query, Some(pred), nProbe, k, single = true))

  /** Metadata rides the cutover's re-fit, so the filtered mode survives it. */
  def searchAsOfFilteredGen(spark: SparkSession, root: String, batchId: Long,
      queries: DataFrame, pred: Column,
      nProbe: Int = 0, k: Int = 10): DataFrame =
    routed(spark, root, batchId)(
      searchAsOfFiltered(spark, _, batchId, queries, pred, nProbe, k))

  /** The cutover carries each code sidecar, so the ADC tier survives it. */
  def searchAsOfPqGen(spark: SparkSession, root: String, batchId: Long,
      queries: DataFrame, nProbe: Int = 0,
      k: Int = 10, rerank: Int = 200, sub: String = "pq"): DataFrame =
    routed(spark, root, batchId)(
      searchAsOfPq(spark, _, batchId, queries, nProbe, k, rerank, sub))

  /** `ivf_generation`: [[LayoutGrids.lifecycle]], run per invocation,
    * with `matches_fresh` as the KMeans optimality check. */
  def ivfGeneration(spark: SparkSession, dir: String): DataFrame =
    grids.generationGrid(spark, dir, grids.lifecycle(spark, dir))

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
