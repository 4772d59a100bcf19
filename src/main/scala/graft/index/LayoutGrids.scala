package graft.index

import graft.core.{Checkpoints, DriverJobs, Tables}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The lifecycle oracle grids of a [[VersionedLayout]] family, written
  * once for both: [[SnapshotLayout]] (IVF) and [[NswSnapshotLayout]]
  * (NSW) supply the serve and payload hooks and their extra columns.
  *
  * THE SCENARIO ([[pristineScenario]]), memoized per (session, dir)
  * and invalidated by store writes under `dir`: the base fit over
  * `vec_id >= 50` as batch 0 (with `label`); batch 1 upserts `< 25`;
  * batch 2 deletes its `% 7 = 0` ids and upserts `25..49`; batch 3
  * writes CORRUPT zero vectors at `< 10`. Grids with destructive steps
  * (rollback, compaction, cutover) run on a per-invocation filesystem
  * copy; read-only grids serve the memo itself. Every grid probes
  * `vec_id < 5 ∧ % 7 ≠ 0`, one row per probe, and every verdict is a
  * driver boolean captured at the step that proves it, materialized
  * before the next destructive step.
  *
  * PER PROBE: `self_found` / `top1_exact` — the serve finds the probe's
  * own good vector at score 1.0, although batch 3 overwrote it at head.
  *
  * AS-OF grid, served as of batch 2 then rolled back to it:
  *  - `tombstone_hides`: no deleted id is live as of 2, nor in any
  *    other payload (the NSW survivors' edges);
  *  - `asof1_predates`: as of 1 the `25..49` slice is absent;
  *  - `rollback_identical`: after `rollback(2)` the head serve is
  *    row-identical to the pre-rollback as-of-2 serve;
  *  - `sidecar_restored`: the drift sidecar equals batch 2's manifest.
  *
  * COMPACT grid, `compact(upTo = 2)`:
  *  - `serve2_identical`: the as-of-2 SERVE INPUT is set-identical
  *    before and after ([[stateAt]]: the live fingerprints including
  *    placement, plus the family's other inputs). A serve is a pure
  *    function of its input, so this implies serve identity without
  *    paying the serves; one end-to-end serve of the compacted layout
  *    still feeds the per-probe columns;
  *  - `history_truncated`: manifests are exactly {2, 3};
  *  - `tombstones_gone`: no tombstone list ≤ 2 survives;
  *  - `dirs_bounded`: no payload batch dir below 2 survives;
  *  - `guard_refuses`: rollback to the compacted-away batch 1 throws
  *    instead of deleting the consolidated base;
  *  - `rollback_works`: after rollback to 2 the head serve input
  *    equals the pre-compaction as-of-2 input.
  *
  * PQ grid, over the code sidecar of [[pqScenario]]:
  *  - `tombstone_hides`: no deleted id owns a live code row as of 2;
  *  - `compact_identical`: the identity serve ([[pqIdentityRerank]])
  *    as of 2 is row-identical across `compact(2)`;
  *  - `dirs_bounded`: after compaction no code batch dir below 2;
  *  - `rollback_prunes`: after `rollback(2)` no code batch dir above 2.
  *
  * FILTERED grid: the filtered as-of serve through
  * [[ContractGrids.filteredServeGrid]] (labels re-derived from the
  * TABLE, so stale reconstruction metadata flips it).
  *
  * GENERATION lifecycle ([[lifecycle]]), over a generational root whose
  * generation 1 is a copy rolled back to the good batch 2 and then cut
  * over:
  *  - `matches_fresh`: the successor's base is a genuine fresh fit
  *    (the family's check);
  *  - `boundary_live_identical`: at the cutover batch both generations
  *    reconstruct the same live set — a re-addressing, not a change;
  *  - `old_asof_served`: an as-of below the cutover routes to
  *    generation 1 and its serve input is the pre-cutover one;
  *  - `gauge_reset`: the debt gauge shows the successor current, at
  *    one batch, `fitted_n` = its live rows, `delta_since_fit` = 0;
  *  - `cross_rollback_refused`: rollback below the cutover throws;
  *  - `post_cutover_applies`: batch 3 (re-adding the dead ids 14, 21)
  *    lands in generation 2's log and serves at head;
  *  - `sidecar_carried`: the successor's PQ codebooks keep generation
  *    1's stored geometry and its base codes cover its base rows;
  *  - `retired_refuses`: after `dropGeneration(1)`, run last, an as-of
  *    below the cutover refuses at routing instead of aliasing.
  * [[generationGrid]] serves the head through the generational route
  * and attaches the verdicts.
  */
private[index] abstract class LayoutGrids(val family: VersionedLayout, name: String) {
  import family._
  import LayoutGrids._
  import VersionedLayout.fsOf

  // ---- family hooks -----------------------------------------------------

  /** Write the scenario's base batch `base` as a layout at `path`. */
  protected def initScenario(spark: SparkSession, dir: String, base: DataFrame,
      path: String): Unit

  /** The family's raw serve as of `batchId`. */
  protected def serve(spark: SparkSession, path: String, batchId: Long,
      queries: DataFrame): DataFrame

  /** Whether no `dead` id is live as of `batchId`, in any payload. */
  protected def tombstoneHides(spark: SparkSession, path: String, batchId: Long,
      dead: Column => Column): Boolean =
    asOfLive(spark, path, batchId).filter(dead(col("vec_id"))).isEmpty

  /** Serve inputs beyond the live fingerprints, checkpointed. */
  protected def extraState(spark: SparkSession, path: String,
      batchId: Long): Seq[DataFrame] = Nil

  /** Runs before `compact(2)`; the thunk runs after it and returns the
    * family's extra compact columns, which follow `serve2_identical`. */
  protected def compactExtras(spark: SparkSession,
      path: String): () => Seq[(String, Boolean)]

  /** The scenario the PQ grid copies; it must carry a `pq` sidecar. */
  protected def pqScenario(spark: SparkSession, dir: String): String =
    pristineScenario(spark, dir)

  /** The ADC serve as of 2 at production rerank, or at `rerank`. */
  protected def pqServe(spark: SparkSession, path: String, queries: DataFrame,
      rerank: Option[Int]): DataFrame

  /** The rerank of the serve `compact_identical` compares. */
  protected def pqIdentityRerank: Option[Int] = None

  /** The family's extra PQ verdicts, taken before compaction. */
  protected def pqExtras(spark: SparkSession, dir: String, path: String,
      queries: DataFrame, liveCodes: DataFrame,
      identity: DataFrame): Seq[(String, Boolean)]

  /** The PQ grid's verdict columns, in output order. */
  protected def pqColumns: Seq[String]

  protected def filteredServe(spark: SparkSession, path: String,
      queries: DataFrame, pred: Column): DataFrame

  /** Extra filtered-grid verdicts, appended after the standard grid. */
  protected def filteredExtras(spark: SparkSession, path: String,
      queries: DataFrame, pred: Column, hits: DataFrame): Seq[(String, Boolean)] = Nil

  /** Prepare generation 1 before the cutover. */
  protected def prepareGen1(spark: SparkSession, gen1: String): Unit = ()

  /** A comparator built concurrently with the cutover. */
  protected def freshComparator(spark: SparkSession,
      dir: String): Option[() => DataFrame] = None

  protected def matchesFresh(spark: SparkSession, gen1: String, gen2: String,
      fresh: Option[DataFrame]): Boolean

  // ---- the scenario -------------------------------------------------------

  private val scenarioCache = new graft.store.VersionedMemo[String](p =>
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(p).getParentFile))

  def pristineScenario(spark: SparkSession, dir: String): String =
    scenarioCache.get(spark, s"${name}_asof_scenario:$dir", dir) {
      import spark.implicits._
      val all = Tables.embeddings(spark, dir)
        .select($"vec_id", $"embedding", $"label")
      val none = all.limit(0).select($"vec_id")
      val path = java.nio.file.Files
        .createTempDirectory(s"graft-asof-$name").toString + "/pristine"
      initScenario(spark, dir, all.filter($"vec_id" >= 50), path)
      applyBatch(spark, path, 1L, upserts = all.filter($"vec_id" < 25), deletes = none)
      applyBatch(spark, path, 2L,
        upserts = all.filter($"vec_id" >= 25 && $"vec_id" < 50),
        deletes = all.filter(deadAt2($"vec_id")).select($"vec_id"))
      applyBatch(spark, path, 3L,
        upserts = all.filter($"vec_id" < 10)
          .select($"vec_id", transform($"embedding", _ => lit(0.0f)).as("embedding"),
            $"label"),
        deletes = none)
      path
    }

  /** The serve input as of `batchId`: live (vec_id, fingerprint over
    * everything else including placement) plus [[extraState]]. */
  protected def stateAt(spark: SparkSession, path: String,
      batchId: Long): Seq[DataFrame] =
    asOfFingerprints(spark, path, batchId, "fp", exclude = Set("vec_id"))
      .localCheckpoint(true) +: extraState(spark, path, batchId)

  /** Set identity of two serve inputs; frees the second. */
  protected def sameState(a: Seq[DataFrame], b: Seq[DataFrame]): Boolean =
    try a.zip(b).forall { case (x, y) => diffRows(x, y) == 0L }
    finally b.foreach(Checkpoints.free)

  // ---- the grids ----------------------------------------------------------

  def asOfGrid(spark: SparkSession, dir: String): DataFrame = {
    val path = workPath(spark, dir, name)
    copyLayout(spark, pristineScenario(spark, dir), path)
    val queries = probeSet(spark, dir)
    val asof2 = serve(spark, path, 2L, queries).localCheckpoint(true)
    val hides = tombstoneHides(spark, path, 2L, deadAt2)
    val predates = asOfLive(spark, path, 1L)
      .filter(col("vec_id") >= 25 && col("vec_id") < 50).isEmpty
    rollback(spark, path, 2L)
    val identical = serveDiff(asof2, serve(spark, path, Long.MaxValue, queries)) == 0L
    val meta = IndexMeta.read(spark, path).getOrElse(IndexMeta.Meta(-1L, -1L))
    val manifest = readManifest(spark, path, 2L).getOrElse(IndexMeta.Meta(-2L, -2L))
    withVerdicts(perProbe(asof2), Seq("tombstone_hides" -> hides,
      "asof1_predates" -> predates, "rollback_identical" -> identical,
      "sidecar_restored" -> (meta == manifest)))
  }

  def compactGrid(spark: SparkSession, dir: String): DataFrame = {
    val path = workPath(spark, dir, s"${name}_compact")
    copyLayout(spark, pristineScenario(spark, dir), path)
    val queries = probeSet(spark, dir)
    val before2 = stateAt(spark, path, 2L)
    val extras = compactExtras(spark, path)
    compact(spark, path, 2L)
    val serve2Id = sameState(before2, stateAt(spark, path, 2L))
    val served = serve(spark, path, 2L, queries).localCheckpoint(true)
    val extraVerdicts = extras()
    val dirsBounded = payloadRoots.forall(storedBatchIds(spark, path, _).forall(_ >= 2L))
    val tombsGone = batchDirs(fsOf(spark, path), new Path(s"$path/tombstones"))
      .forall(_._1 > 2L)
    val manifests = manifestIds(spark, path)
    val guardOk = refuses(rollback(spark, path, 1L))
    rollback(spark, path, 2L)
    val rolledId = sameState(before2, stateAt(spark, path, Long.MaxValue))
    before2.foreach(Checkpoints.free)
    withVerdicts(perProbe(served), (("serve2_identical" -> serve2Id) +: extraVerdicts) ++
      Seq("history_truncated" -> (manifests == Seq(2L, 3L)),
        "tombstones_gone" -> tombsGone, "dirs_bounded" -> dirsBounded,
        "guard_refuses" -> guardOk, "rollback_works" -> rolledId))
  }

  def pqGrid(spark: SparkSession, dir: String): DataFrame = {
    val path = workPath(spark, dir, s"${name}_asof_pq")
    copyLayout(spark, pqScenario(spark, dir), path)
    val queries = probeSet(spark, dir)
    val prod2 = pqServe(spark, path, queries, None).localCheckpoint(true)
    val ident2 = pqIdentityRerank.fold(prod2)(r =>
      pqServe(spark, path, queries, Some(r)).localCheckpoint(true))
    val liveCodes = asOfCodes(spark, path, 2L).localCheckpoint(true)
    val before = ("tombstone_hides" -> liveCodes.filter(deadAt2(col("vec_id"))).isEmpty) +:
      pqExtras(spark, dir, path, queries, liveCodes, ident2)
    compact(spark, path, 2L)
    val compactId = serveDiff(ident2, pqServe(spark, path, queries, pqIdentityRerank)) == 0L
    val bounded = storedBatchIds(spark, path, "pq/codes").forall(_ >= 2L)
    rollback(spark, path, 2L)
    val pruned = storedBatchIds(spark, path, "pq/codes").forall(_ <= 2L)
    Checkpoints.free(liveCodes)
    val verdicts = (before ++ Seq("compact_identical" -> compactId,
      "dirs_bounded" -> bounded, "rollback_prunes" -> pruned)).toMap
    withVerdicts(perProbe(prod2), pqColumns.map(c => c -> verdicts(c)))
  }

  /** Read-only: serves straight from the pristine memo. */
  def filteredGrid(spark: SparkSession, dir: String): DataFrame = {
    val path = pristineScenario(spark, dir)
    val queries = probeSet(spark, dir, col("label").as("q_label"))
    val pred = col("label") === col("q_label")
    val hits = filteredServe(spark, path, queries, pred).localCheckpoint(true)
    val grid = ContractGrids.filteredServeGrid(spark, dir, hits)
    filteredExtras(spark, path, queries, pred, hits) match {
      case Nil => grid
      case extras => withVerdicts(grid, extras, grid.columns.toSeq)
    }
  }

  /** A generational root `leaf` whose generation 1 is a copy of the
    * scenario rolled back to the good batch 2. */
  def genRoot(spark: SparkSession, dir: String, leaf: String): (String, String) = {
    val root = workPath(spark, dir, leaf)
    val gen1 = Generations.genPath(root, 1)
    fsOf(spark, root).delete(new Path(root), true)
    copyLayout(spark, pristineScenario(spark, dir), gen1)
    Generations.writePointer(spark, root, 1)
    rollback(spark, gen1, 2L)
    (root, gen1)
  }

  def lifecycle(spark: SparkSession, dir: String): Lifecycle = {
    import spark.implicits._
    val (root, gen1) = genRoot(spark, dir, s"${name}_gen")
    prepareGen1(spark, gen1)
    def asOf1(p: String) = asOfFingerprints(spark, p, 1L, "fp", exclude = Set("vec_id"))
    val asof1Before = asOf1(gen1).localCheckpoint(true)
    // the family's fresh-fit comparator builds alongside the cutover
    val (fresh, newGen) = DriverJobs.alongside(spark,
      freshComparator(spark, dir).toSeq)(newGeneration(spark, root))
    val gen2 = Generations.genPath(root, 2)
    val fitOk = matchesFresh(spark, gen1, gen2, fresh.headOption)
    val boundaryOk = VersionedLayout.diffFingerprints(
      asOfFingerprints(spark, gen1, 2L, "b_fp"),
      asOfFingerprints(spark, gen2, 2L, "a_fp")).isEmpty
    val gen1Route = Generations.route(spark, root, 1L)
    val oldServed = gen1Route == gen1 && diffRows(asof1Before, asOf1(gen1Route)) == 0L
    Checkpoints.free(asof1Before)
    val debts = layoutDebtGen(spark, root).collect()
    val gaugeReset = newGen == 2 && Generations.current(spark, root) == 2 &&
      debts.find(_.getAs[Long]("generation") == 2L).exists(r =>
        r.getAs[Boolean]("is_current") && r.getAs[Long]("n_batches") == 1L &&
          r.getAs[Long]("delta_since_fit") == 0L &&
          r.getAs[Long]("fitted_n") == r.getAs[Long]("live_rows")) &&
      debts.count(_.getAs[Boolean]("is_current")) == 1
    val crossRefused = refuses(rollbackGen(spark, root, 1L))
    // checked before batch 3 appends post-cutover codes
    val books1 = IvfIndex.readCodebooks(spark, gen1, "pq")
    val books2 = IvfIndex.readCodebooks(spark, gen2, "pq")
    def baseRows(sub: String) = spark.read.parquet(s"$gen2/$sub")
      .filter($"batch_id" === 2L).count()
    val sidecarCarried = books2.length == books1.length &&
      books2.forall(_.length == books1.head.length) &&
      baseRows("pq/codes") == baseRows("vectors")
    val readd = $"vec_id" === 14 || $"vec_id" === 21
    val all = Tables.embeddings(spark, dir).select($"vec_id", $"embedding", $"label")
    applyBatchGen(spark, root, 3L, upserts = all.filter(readd),
      deletes = all.limit(0).select($"vec_id"))
    val postCutover = routed(spark, root, Long.MaxValue)(
        asOfLive(spark, _, Long.MaxValue)).filter(readd).count() == 2L &&
      manifestIds(spark, gen2) == Seq(2L, 3L)
    Generations.dropGeneration(spark, root, 1)
    val retiredRefuses = refuses(Generations.route(spark, root, 1L)) &&
      Generations.list(spark, root) == Seq(2)
    Lifecycle(root, Seq("matches_fresh" -> fitOk, "boundary_live_identical" -> boundaryOk,
      "old_asof_served" -> oldServed, "gauge_reset" -> gaugeReset,
      "cross_rollback_refused" -> crossRefused, "post_cutover_applies" -> postCutover,
      "sidecar_carried" -> sidecarCarried, "retired_refuses" -> retiredRefuses))
  }

  def generationGrid(spark: SparkSession, dir: String, g: Lifecycle): DataFrame =
    withVerdicts(perProbe(routed(spark, g.root, Long.MaxValue)(
      serve(spark, _, Long.MaxValue, probeSet(spark, dir)))), g.verdicts)
}

private[graft] object LayoutGrids {

  /** A finished generational lifecycle: its root and its verdicts in
    * grid column order — plain driver values, safe to memoize. */
  case class Lifecycle(root: String, verdicts: Seq[(String, Boolean)])

  /** Batch 2's deletes: `< 25 ∧ % 7 = 0`. */
  def deadAt2(c: Column): Column = c < 25 && c % 7 === 0

  def workPath(spark: SparkSession, dir: String, leaf: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-snap-" +
      s"${spark.sparkContext.applicationId}-${math.abs(dir.hashCode)}/$leaf"

  /** The probe set `vec_id < 5 ∧ % 7 ≠ 0` as (q_id, q_vec, `extra`…). */
  def probeSet(spark: SparkSession, dir: String, extra: Column*): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 5 && col("vec_id") % 7 =!= 0)
      .select(col("vec_id").as("q_id") +: col("embedding").as("q_vec") +: extra: _*)

  def perProbe(served: DataFrame): DataFrame =
    served.groupBy(col("q_id")).agg(
      (max(when(col("neighbor_id") === col("q_id"), 1)).isNotNull).as("self_found"),
      (max(col("score_e6")) === 1000000L).as("top1_exact"))

  /** `grid`'s `lead` columns, then one constant column per verdict. */
  def withVerdicts(grid: DataFrame, verdicts: Seq[(String, Boolean)],
      lead: Seq[String] = Seq("q_id", "self_found", "top1_exact")): DataFrame =
    grid.select(lead.map(col) ++ verdicts.map { case (c, v) => lit(v).as(c) }: _*)
      .orderBy(col("q_id"))

  def refuses(op: => Unit): Boolean =
    try { op; false } catch { case _: IllegalArgumentException => true }

  def serveDiff(a: DataFrame, b: DataFrame): Long =
    serveDiffCount(a, b, "n").collect().head.getLong(0)

  def diffRows(a: DataFrame, b: DataFrame): Long =
    rowSetDiffCount(a, b, "n").collect().head.getLong(0)

  /** The count of (q_id, rank, neighbor_id, score_e6) rows NOT present
    * in both serves: 0 iff the two serves are row-identical. */
  def serveDiffCount(a: DataFrame, b: DataFrame, name: String): DataFrame =
    a.unionByName(b)
      .groupBy(col("q_id"), col("rank"), col("neighbor_id"), col("score_e6"))
      .agg(count(lit(1)).as("c"))
      .agg(count(when(col("c") =!= 2L, 1)).as(name))

  /** The count of full rows NOT present in both frames: 0 iff they are
    * multiset-identical. Per-row counts are compared per side (a row
    * twice in one frame and absent from the other must not read as
    * identical), and the join is NULL-safe on every column, as GROUP
    * BY is. */
  def rowSetDiffCount(a: DataFrame, b: DataFrame, name: String): DataFrame = {
    val cols = a.columns.toSeq
    val ca = a.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__ca")).alias("ga")
    val cb = b.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__cb")).alias("gb")
    val cond = cols.map(c => col(s"ga.$c") <=> col(s"gb.$c")).reduce(_ && _)
    ca.join(cb, cond, "full_outer")
      .filter(!(col("__ca") <=> col("__cb")))
      .agg(count(lit(1)).as(name))
  }

  /** Copy a layout tree (scenario → per-invocation work dir). Pure
    * filesystem traffic; the copies are the bounded scenarios, never a
    * production index. Every sidecar rides along: same bytes, same fit. */
  def copyLayout(spark: SparkSession, src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcP = new Path(src)
    val dstP = new Path(dst)
    val fs = srcP.getFileSystem(conf)
    fs.delete(dstP, true)
    fs.mkdirs(dstP.getParent)
    org.apache.hadoop.fs.FileUtil.copy(fs, srcP, fs, dstP, false, conf)
  }
}
