package graft.index

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The versioned-layout core: the durable protocol both versioned
  * index families share — [[SnapshotLayout]] (IVF) and
  * [[NswSnapshotLayout]] (NSW) supply only their payload hooks.
  *
  * ON DISK, under `path/`:
  *  - `vectors/[cluster_id=C/]batch_id=B/` — upsert rows, append-only.
  *    The batch id is a partition level, so "as of B" prunes at the
  *    directory listing and rollback is a directory delete. IVF places
  *    rows under a `cluster_id` level; NSW has no placement level;
  *  - the family's other roots (NSW `edges/`) and every PQ code
  *    sidecar under the same partition scheme;
  *  - `tombstones/batch_id=B/` — deleted id lists;
  *  - `_snapshots/batch-B.json` — B's manifest: the drift sidecar after
  *    B, written LAST, so it is the applied marker. `rollback-N.json`
  *    markers record rollbacks for tailing change-feed readers;
  *  - `_compact_tmp/` — a compaction's stage, present only mid-compaction.
  *
  * AS OF B: per vec_id the latest event with batch_id ≤ B wins, live
  * iff it is an upsert. Within one batch deletes apply before upserts,
  * so the upsert wins the tie. One window over the pruned partitions.
  *
  * INIT installs a new fit: it clears the previous fit's state (τ
  * sidecar, tombstones, manifests, PQ sidecars, a compaction stage)
  * but keeps the rollback markers tailing readers depend on.
  *
  * APPLY B: crash repair first. A manifested id, or one at or below
  * the compaction floor (the oldest manifest), is a replay and skips
  * whole. Layout columns are validated before any write, so a rejected
  * batch has no side effects. Then tombstones, the family's payload,
  * the drift bump, the manifest, and a version bump for every memo
  * keyed under the path.
  *
  * ROLLBACK TO B (B must carry a manifest): delete every batch dir
  * above B in every root, restore the drift sidecar from B's manifest
  * and write a rollback marker. Later batches never touched the files
  * of batches ≤ B, so the result is byte-identical to the as-of-B state.
  *
  * COMPACT TO U (U must carry a manifest) folds history ≤ U into one
  * base batch U, stage-then-commit:
  *  1. STAGE — each root's live set as of U is written under
  *     `_compact_tmp/<stage>/[cluster_id=C/]batch_id=U` while the
  *     layout is untouched. The plan `_compact_tmp/plan.json` (U plus
  *     the staged unit keys) is written last: it is the commit point;
  *  2. COMMIT — per unit (an IVF cluster dir, keyed by cluster id; or
  *     a whole NSW root, keyed by its slot in [[roots]]): drop the
  *     unit's `batch_id ≤ U` dirs and rename the staged dir in. The
  *     rename is gated on the stage dir existing, so a re-run never
  *     deletes committed rows. A unit the plan does not list staged
  *     nothing and only drops its old dirs. Then tombstones ≤ U,
  *     manifests < U and the stage go.
  * A crash before the plan leaves garbage the next repair deletes; a
  * crash after it is finished by [[repairCompaction]], which every
  * mutation and reconstruction entry point runs first. History below
  * U is truncated: as-ofs there are refused, not answered wrongly.
  *
  * GENERATIONS ([[Generations]]): the fit is frozen, because as-of
  * addresses must stay stable, so a drift-envelope trip is a CUTOVER.
  * It re-fits the head live set into `generation=N+1` at base batch =
  * N's head id, carries each PQ sidecar at its stored geometry, then
  * commits the pointer. Every `*Gen` call resolves its generation
  * through [[routed]] or [[atCurrent]].
  */
abstract class VersionedLayout {
  import VersionedLayout._

  // ---- family hooks: the payload ----------------------------------------

  /** The placement partition level above `batch_id` (IVF
    * `cluster_id`). Placement is physical, never CDC payload. */
  protected def placement: Option[String]

  /** Batch-partitioned payload roots, in plan-slot order (`vectors`
    * first); each stages under `_compact_tmp/<root>`. */
  private[index] def payloadRoots: Seq[String]

  /** Where a code sidecar `sub` stages during compaction. */
  protected def codeStage(sub: String): String

  /** Append one upsert batch's payload. `rows` carry the layout's
    * columns (no placement, no batch_id). */
  protected def appendUpserts(spark: SparkSession, path: String,
      batchId: Long, rows: DataFrame): Unit

  /** Hand each payload root's live set as of `upTo` to `stage`. */
  protected def stagePayload(spark: SparkSession, path: String, upTo: Long)(
      stage: (String, DataFrame) => Unit): Unit

  /** Fit a fresh layout at `next` over the head live rows (placement
    * dropped), with base batch `baseBatch`. */
  protected def refit(spark: SparkSession, live: DataFrame, next: String,
      baseBatch: Long): Unit

  // ---- init -----------------------------------------------------------------

  private[index] def partitionCols: Seq[String] = placement.toSeq :+ "batch_id"

  /** The columns outside the CDC payload. */
  private[index] def nonPayload: Set[String] = Set("vec_id") ++ placement

  /** Install a new fit at `path` as batch `baseBatch`: clear the
    * previous fit's state, let `payload` write the base, then record
    * the drift sidecar and the base manifest. */
  protected def initLayout(spark: SparkSession, path: String,
      baseBatch: Long)(payload: => Unit): Unit = {
    val fs = fsOf(spark, path)
    RecallEval.clearTauSidecar(spark, path)
    (Seq("tombstones", "_compact_tmp") ++ IvfIndex.pqSubdirs(spark, path))
      .foreach(d => fs.delete(new Path(s"$path/$d"), true))
    manifestIds(spark, path).foreach(id => fs.delete(manifestPath(path, id), false))
    payload
    val meta = IndexMeta.Meta(spark.read.parquet(s"$path/vectors").count(), 0L)
    IndexMeta.write(spark, path, meta)
    writeManifest(spark, path, baseBatch, meta)
    graft.store.IndexVersions.bump(path)
  }

  /** Add a PQ sidecar: codebooks trained once and frozen, every stored
    * row encoded under the layout's partition scheme. Later batches
    * are encoded by [[applyBatch]], so call it at init time for
    * full-history coverage; a later call back-fills every stored row. */
  def initPq(spark: SparkSession, path: String,
      m: Int = PqCodebooks.defaultM, codes: Int = PqCodebooks.defaultCodes,
      seed: Long = 42L, rotate: Boolean = false, sub: String = "pq"): Unit =
    IvfIndex.persistPq(spark, path, m, codes, seed, rotate, sub,
      partitionCols = partitionCols)

  // ---- apply / rollback -------------------------------------------------------

  /** Apply one maintenance batch append-only (the protocol above). */
  def applyBatch(spark: SparkSession, path: String, batchId: Long,
      upserts: DataFrame, deletes: DataFrame): Unit = {
    repairCompaction(spark, path)
    if (readManifest(spark, path, batchId).isDefined ||
        manifestIds(spark, path).headOption.exists(batchId <= _)) return
    val keep = spark.read.parquet(s"$path/vectors").columns.toSeq
      .filterNot(partitionCols.contains)
    val nUps = upserts.count()
    val nDels = deletes.count()
    val missing = keep.filterNot(upserts.columns.contains)
    require(nUps == 0 || missing.isEmpty,
      s"versioned batch missing layout columns ${missing.mkString(", ")}: " +
        "a meta-bearing layout's batches must carry its metadata")
    if (nDels > 0)
      deletes.select(col("vec_id")).withColumn("batch_id", lit(batchId))
        .write.mode("append").partitionBy("batch_id")
        .parquet(s"$path/tombstones")
    if (nUps > 0) appendUpserts(spark, path, batchId, upserts.select(keep.map(col): _*))
    IndexMeta.bumpDelta(spark, path, nUps + nDels)
    writeManifest(spark, path, batchId,
      IndexMeta.read(spark, path).getOrElse(IndexMeta.Meta(0L, 0L)))
    graft.store.IndexVersions.bump(path)
  }

  /** Append rows (carrying `batch_id` and placement) to `vectors/` and
    * encode them into every PQ sidecar with its frozen codebooks — a
    * row with no code is invisible to the ADC serves. */
  protected def appendRows(spark: SparkSession, path: String,
      rows: DataFrame): Unit =
    if (IvfIndex.pqSubdirs(spark, path).isEmpty)
      rows.write.mode("append").partitionBy(partitionCols: _*)
        .parquet(s"$path/vectors")
    else {
      val mat = rows.localCheckpoint(true)
      try {
        mat.write.mode("append").partitionBy(partitionCols: _*)
          .parquet(s"$path/vectors")
        IvfIndex.encodeDeltaPq(spark, path, mat, partitionCols = partitionCols)
      } finally graft.core.Checkpoints.free(mat)
    }

  /** Roll back to `batchId` (the protocol above). */
  def rollback(spark: SparkSession, path: String, batchId: Long): Unit = {
    repairCompaction(spark, path)
    require(readManifest(spark, path, batchId).isDefined,
      s"rollback target batch $batchId has no manifest under $path/_snapshots " +
        "(compacted away, never applied, or crashed mid-apply) — refusing to " +
        "delete newer batches with no restorable target")
    val fs = fsOf(spark, path)
    roots(spark, path).zipWithIndex.foreach { case ((root, _), slot) =>
      units(fs, new Path(s"$path/$root"), slot).foreach { case (_, unit) =>
        batchDirs(fs, unit).filter(_._1 > batchId).foreach(d => fs.delete(d._2, true))
        if (placement.isDefined && fs.listStatus(unit).isEmpty) fs.delete(unit, true)
      }
    }
    batchDirs(fs, new Path(s"$path/tombstones")).filter(_._1 > batchId)
      .foreach(d => fs.delete(d._2, true))
    manifestIds(spark, path).filter(_ > batchId)
      .foreach(id => fs.delete(manifestPath(path, id), false))
    readManifest(spark, path, batchId).foreach(IndexMeta.write(spark, path, _))
    writeRollbackMarker(spark, path, batchId)
    graft.store.IndexVersions.bump(path)
  }

  // ---- compaction ---------------------------------------------------------------

  /** Every batch-partitioned root with its stage dir, in plan-slot
    * order: the payload roots, then each code sidecar. */
  private def roots(spark: SparkSession, path: String): Seq[(String, String)] =
    payloadRoots.map(r => (r, r)) ++
      IvfIndex.pqSubdirs(spark, path).map(sub => (s"$sub/codes", codeStage(sub)))

  /** The dirs under `root` that hold `batch_id=` dirs, keyed the way a
    * compaction plan records them: each conforming cluster dir by its
    * id, or (no placement level) the root itself by its slot. */
  private def units(fs: FileSystem, root: Path, slot: Int): Seq[(Int, Path)] =
    if (placement.isEmpty) Seq(slot -> root)
    else if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .flatMap(c => clusterDirId(c.getPath.getName).map(_ -> c.getPath))

  private def unitAt(root: Path, key: Int): Path =
    if (placement.isEmpty) root else new Path(root, s"cluster_id=$key")

  /** Compact history ≤ `upTo` into one base batch (the protocol above).
    * Serves and rollbacks at ≥ `upTo` are unchanged; as-ofs below it
    * are no longer answerable. */
  def compact(spark: SparkSession, path: String, upTo: Long): Unit = {
    repairCompaction(spark, path)
    require(readManifest(spark, path, upTo).isDefined,
      s"compaction point batch $upTo has no manifest under $path/_snapshots " +
        "(never applied, or crashed mid-apply) — refusing to truncate " +
        "history below an unrestorable batch")
    val fs = fsOf(spark, path)
    val rs = roots(spark, path)
    fs.delete(new Path(s"$path/_compact_tmp"), true)
    def stage(rel: String, live: DataFrame): Unit =
      live.withColumn("batch_id", lit(upTo))
        .write.mode("overwrite").partitionBy(partitionCols: _*)
        .parquet(s"$path/_compact_tmp/$rel")
    stagePayload(spark, path, upTo)(stage)
    IvfIndex.pqSubdirs(spark, path)
      .foreach(sub => stage(codeStage(sub), asOfCodes(spark, path, upTo, sub)))
    val staged = rs.zipWithIndex.flatMap { case ((_, st), slot) =>
      units(fs, new Path(s"$path/_compact_tmp/$st"), slot).collect {
        case (k, u) if fs.exists(new Path(u, s"batch_id=$upTo")) => k
      }
    }.distinct.sorted
    writeCompactPlan(fs, path, upTo, staged)
    commitCompaction(spark, path, upTo, staged)
  }

  /** Finish (or abandon) an in-flight compaction: no plan means the
    * stage crashed before its commit point, so the tmp is garbage; a
    * plan means the idempotent commit re-runs. */
  private[graft] def repairCompaction(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val tmp = new Path(s"$path/_compact_tmp")
    if (fs.exists(tmp)) readCompactPlan(fs, path) match {
      case None => fs.delete(tmp, true)
      case Some((upTo, staged)) => commitCompaction(spark, path, upTo, staged)
    }
  }

  private def commitCompaction(spark: SparkSession, path: String, upTo: Long,
      staged: Seq[Int]): Unit = {
    val fs = fsOf(spark, path)
    def dropLe(dir: Path): Unit =
      batchDirs(fs, dir).filter(_._1 <= upTo).foreach(d => fs.delete(d._2, true))
    val rs = roots(spark, path)
    rs.zipWithIndex.foreach { case ((root, st), slot) =>
      val rootP = new Path(s"$path/$root")
      val keys = if (placement.isEmpty) Seq(slot)
        else (units(fs, rootP, slot).map(_._1) ++ staged).distinct
      keys.foreach { k =>
        val unit = unitAt(rootP, k)
        val stage = new Path(unitAt(new Path(s"$path/_compact_tmp/$st"), k),
          s"batch_id=$upTo")
        if (!staged.contains(k)) dropLe(unit)
        else if (fs.exists(stage)) {
          dropLe(unit)
          fs.mkdirs(unit)
          fs.rename(stage, new Path(unit, s"batch_id=$upTo"))
        }
      }
      // cluster dirs emptied by the drops disappear (only conforming
      // ones — never a stray someone parked)
      if (placement.isDefined) units(fs, rootP, slot)
        .filter(u => fs.listStatus(u._2).isEmpty).foreach(u => fs.delete(u._2, true))
    }
    val tombRoot = new Path(s"$path/tombstones")
    dropLe(tombRoot)
    if (fs.exists(tombRoot) && !fs.listStatus(tombRoot).exists(_.isDirectory))
      fs.delete(tombRoot, true)
    manifestIds(spark, path).filter(_ < upTo)
      .foreach(id => fs.delete(manifestPath(path, id), false))
    fs.delete(new Path(s"$path/_compact_tmp"), true)
    graft.store.IndexVersions.bump(path)
  }

  private val PlanPattern = """\{"up_to":(\d+),"clusters":\[([0-9,]*)\]\}""".r

  /** The compaction plan: `upTo` and the staged unit keys. */
  private[graft] def writeCompactPlan(fs: FileSystem, path: String, upTo: Long,
      staged: Seq[Int]): Unit = {
    val out = fs.create(new Path(s"$path/_compact_tmp/plan.json"), true)
    try out.write(s"""{"up_to":$upTo,"clusters":[${staged.mkString(",")}]}"""
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private[graft] def readCompactPlan(fs: FileSystem,
      path: String): Option[(Long, Seq[Int])] =
    readFile(fs, new Path(s"$path/_compact_tmp/plan.json")).collect {
      case PlanPattern(u, ks) => (u.toLong, ks.split(",").filter(_.nonEmpty).map(_.toInt).toSeq)
    }

  // ---- the event log ------------------------------------------------------------

  private def manifestPath(path: String, id: Long) =
    new Path(s"$path/_snapshots/batch-$id.json")

  /** Snapshot ids present under `_snapshots/`, ascending. */
  def manifestIds(spark: SparkSession, path: String): Seq[Long] = {
    val dir = new Path(s"$path/_snapshots")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case ManifestName(id) => id.toLong }.sorted
  }

  def readManifest(spark: SparkSession, path: String,
      batchId: Long): Option[IndexMeta.Meta] =
    readFile(fsOf(spark, path), manifestPath(path, batchId)).collect {
      case ManifestPattern(_, n, d) => IndexMeta.Meta(n.toLong, d.toLong)
    }

  /** The manifest is tailed by change-feed readers whose file source
    * consumes each path once, so it commits atomically ([[commitFile]]). */
  private[index] def writeManifest(spark: SparkSession, path: String,
      batchId: Long, meta: IndexMeta.Meta): Unit =
    commitFile(spark, manifestPath(path, batchId),
      s"""{"batch_id":$batchId,"fitted_n":${meta.fittedN},"delta_since_fit":${meta.deltaSinceFit}}""")

  /** Record a rollback as a monotonic `rollback-<seq>.json` — a FRESH
    * path, the one thing a tailing reader's file-source checkpoint is
    * guaranteed to deliver (re-applied batches recreate `batch-N.json`
    * paths it never redelivers), so the reader can refuse loudly.
    * Invisible to [[manifestIds]] and every reconstruction. */
  private[index] def writeRollbackMarker(spark: SparkSession, path: String,
      target: Long): Unit = {
    val dir = new Path(s"$path/_snapshots")
    val fs = fsOf(spark, path)
    val seq = (if (!fs.exists(dir)) Seq.empty[Long]
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .collect { case RollbackMarkerPattern(n) => n.toLong })
      .foldLeft(0L)(math.max) + 1L
    commitFile(spark, new Path(dir, s"rollback-$seq.json"),
      s"""{"rolled_back_to":$target}""")
  }

  /** The conforming `batch_id=N` dirs directly under `dir`. Walks that
    * decide what to DELETE skip anything they did not write. */
  private[index] def batchDirs(fs: FileSystem, dir: Path): Seq[(Long, Path)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .flatMap(d => batchDirId(d.getPath.getName).map(_ -> d.getPath))

  /** The batch ids stored under `root`, through the placement level. */
  private[index] def storedBatchIds(spark: SparkSession, path: String,
      root: String): Set[Long] = {
    val fs = fsOf(spark, path)
    units(fs, new Path(s"$path/$root"), 0).flatMap(u => batchDirs(fs, u._2)).map(_._1).toSet
  }

  private[index] def batchDirId(name: String): Option[Long] = name match {
    case BatchDirPattern(n) => Some(n.toLong)
    case _ => None
  }

  private[index] def clusterDirId(name: String): Option[Int] = name match {
    case ClusterDirPattern(n) => Some(n.toInt)
    case _ => None
  }

  /** Rank every event ≤ `bound` per vec_id, latest first: the upsert
    * rows of `stored` projected by `up`, the tombstones by `tomb`
    * (the tombstone table may be absent, or emptied by compaction). */
  private def rankedEvents(spark: SparkSession, path: String, bound: Long,
      stored: DataFrame, up: Seq[Column], tomb: Seq[Column]): DataFrame = {
    val ups = stored.filter(col("batch_id") <= bound)
      .select(up ++ Seq(col("batch_id"), lit(1).as("is_upsert")): _*)
    val tombs =
      if (batchDirs(fsOf(spark, path), new Path(s"$path/tombstones")).isEmpty)
        ups.limit(0)
      else spark.read.parquet(s"$path/tombstones")
        .filter(col("batch_id") <= bound)
        .select(tomb ++ Seq(col("batch_id"), lit(0).as("is_upsert")): _*)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("batch_id").desc, col("is_upsert").desc)
    ups.unionByName(tombs).withColumn("rk", row_number().over(w))
  }

  private def winning(ranked: DataFrame): DataFrame =
    ranked.filter(col("rk") === 1 && col("is_upsert") === 1)

  /** The live rows as of `batchId`: (vec_id, embedding, placement,
    * metadata…). A meta-bearing layout's metadata rides along, so the
    * filtered serves evaluate their predicates on these rows. */
  def asOfLive(spark: SparkSession, path: String, batchId: Long): DataFrame = {
    repairCompaction(spark, path)
    val stored = spark.read.parquet(s"$path/vectors")
    val lead = Seq("vec_id", "embedding") ++ placement
    val fields = lead.map(n => stored.schema(n)) ++ stored.schema.fields
      .filterNot(f => (lead :+ "batch_id").contains(f.name))
    winning(rankedEvents(spark, path, batchId, stored, fields.map(f => col(f.name)),
        fields.map(f =>
          if (f.name == "vec_id") col("vec_id") else lit(null).cast(f.dataType).as(f.name))))
      .select(fields.map(f => col(f.name)): _*)
  }

  /** (vec_id, batch_id) of each id's winning upsert as of `batchId` —
    * the window over keys only (16 bytes a row through the shuffle).
    * The pair keys both the live code set and the direct-address exact
    * rerank: the winning raw row lives at exactly that partition. */
  private[index] def asOfWinners(spark: SparkSession, path: String,
      batchId: Long): DataFrame =
    winning(rankedEvents(spark, path, batchId, spark.read.parquet(s"$path/vectors"),
      Seq(col("vec_id")), Seq(col("vec_id"))))
      .select(col("vec_id"), col("batch_id"))

  /** The live CODE set as of `batchId`: code rows whose (vec_id,
    * batch_id) pair won. Keeps `batch_id` for the direct-address rerank. */
  private[graft] def asOfCodes(spark: SparkSession, path: String,
      batchId: Long, sub: String = "pq"): DataFrame =
    spark.read.parquet(s"$path/$sub/codes")
      .filter(col("batch_id") <= batchId)
      .join(asOfWinners(spark, path, batchId), Seq("vec_id", "batch_id"))

  /** The live (vec_id, fingerprint) set as of `batchId`, the columns
    * outside `exclude` hashed map-side so the window moves keys + 8
    * bytes a row. Runs no crash repair; its callers do. */
  private[index] def asOfFingerprints(spark: SparkSession, path: String,
      batchId: Long, as: String, exclude: Set[String] = nonPayload): DataFrame = {
    val stored = spark.read.parquet(s"$path/vectors")
    val payload = stored.columns.toSeq.filterNot(exclude + "batch_id")
    winning(rankedEvents(spark, path, batchId, stored,
        Seq(col("vec_id"), payloadFp(payload).as(as)),
        Seq(col("vec_id"), lit(0L).as(as))))
      .select(col("vec_id"), col(as))
  }

  // ---- CDC and the debt gauge -------------------------------------------------------

  /** Change feed between two as-of points: `added` / `deleted` /
    * `updated` (payload changed; placement is not payload) per vec_id,
    * unchanged ids omitted. Endpoints the truncated log cannot
    * reconstruct are refused. */
  def asOfDiff(spark: SparkSession, path: String, fromBatch: Long,
      toBatch: Long): DataFrame =
    diffFingerprints(answerable(spark, path, fromBatch, "b_fp"),
      answerable(spark, path, toBatch, "a_fp"))

  private def answerable(spark: SparkSession, path: String, batchId: Long,
      as: String): DataFrame = {
    repairCompaction(spark, path)
    requireAnswerable(spark, path, batchId)
    asOfFingerprints(spark, path, batchId, as)
  }

  /** An as-of point is answerable iff the log still covers it: at or
    * above the oldest manifest and at or below the newest — only the
    * explicit `Long.MaxValue` head alias is admitted above the top, so
    * a mistyped future id cannot silently alias head. */
  private[index] def requireAnswerable(spark: SparkSession, path: String,
      batchId: Long): Unit = {
    val ids = manifestIds(spark, path)
    require(ids.nonEmpty && batchId >= ids.head,
      s"as-of $batchId is below the compaction floor " +
        s"${ids.headOption.getOrElse(-1L)} under $path — the truncated log " +
        "cannot reconstruct it (refusing to emit a silently-wrong feed)")
    require(batchId == Long.MaxValue || batchId <= ids.last,
      s"as-of $batchId is above the newest manifested batch ${ids.last} " +
        s"under $path — a mistyped endpoint must fail loudly instead of " +
        "silently aliasing head (use Long.MaxValue to address head explicitly)")
  }

  /** One row of merge-on-read debt at head: manifested batches,
    * physical vs live upsert rows, superseded rows, dead ids, tombstone
    * rows, plus the fit's drift sidecar (the refit signal). One
    * key-only scan and one window over keys. */
  def layoutDebt(spark: SparkSession, path: String): DataFrame = {
    repairCompaction(spark, path)
    val meta = IndexMeta.read(spark, path).getOrElse(IndexMeta.Meta(0L, 0L))
    // n_batches and the drift columns read eagerly, the row counts at
    // collect time — so the scans stop at the last batch manifested
    // NOW, or a batch landing in between would tear the snapshot
    val ids = manifestIds(spark, path)
    require(ids.nonEmpty,
      s"no snapshot manifests under $path/_snapshots — not a versioned " +
        "layout (or its history was destroyed); refusing to report a " +
        "zero-batch debt gauge over unmanifested rows")
    rankedEvents(spark, path, ids.last, spark.read.parquet(s"$path/vectors"),
        Seq(col("vec_id")), Seq(col("vec_id")))
      .agg(
        coalesce(sum(col("is_upsert")), lit(0)).cast("long").as("total_rows"),
        count(when(col("rk") === 1 && col("is_upsert") === 1, 1)).as("live_rows"),
        count(when(col("rk") === 1 && col("is_upsert") === 0, 1)).as("dead_ids"),
        count(when(col("is_upsert") === 0, 1)).as("tombstone_rows"))
      .select(
        lit(ids.size.toLong).as("n_batches"),
        col("total_rows"), col("live_rows"),
        (col("total_rows") - col("live_rows")).as("superseded_rows"),
        col("dead_ids"), col("tombstone_rows"),
        lit(meta.fittedN).as("fitted_n"),
        lit(meta.deltaSinceFit).as("delta_since_fit"))
  }

  // ---- generations -------------------------------------------------------------------

  /** Generation routing: run `f` on the generation that answers
    * `batchId` under `root`. */
  def routed[A](spark: SparkSession, root: String, batchId: Long)(f: String => A): A =
    f(Generations.route(spark, root, batchId))

  /** Run `f` on the CURRENT generation under `root`. */
  protected def atCurrent[A](spark: SparkSession, root: String)(f: String => A): A =
    f(Generations.genPath(root, Generations.current(spark, root)))

  /** Initialize a generational root: `init` writes generation 1. */
  protected def initGenWith(spark: SparkSession, root: String)(
      init: String => Unit): Unit = {
    init(Generations.genPath(root, 1))
    Generations.writePointer(spark, root, 1)
  }

  /** Cut over to a fresh generation (the protocol above). A crash
    * before the pointer commit leaves the old pointer and a partial
    * directory the next attempt overwrites. */
  def newGeneration(spark: SparkSession, root: String): Int = {
    val g = Generations.current(spark, root)
    val cur = Generations.genPath(root, g)
    val next = Generations.genPath(root, g + 1)
    val live = asOfLive(spark, cur, Long.MaxValue).drop(placement.toSeq: _*)
      .localCheckpoint(true)
    val headId = manifestIds(spark, cur).last
    try {
      // KMeans or a graph build on zero rows dies opaquely mid-cutover
      require(!live.isEmpty,
        s"generation $g's head live set under $root is empty — nothing to " +
          "re-fit; a cutover of an emptied index is an operator decision " +
          "(drop the root), not a rebuild")
      fsOf(spark, next).delete(new Path(next), true)
      refit(spark, live, next, headId)
    } finally graft.core.Checkpoints.free(live)
    IvfIndex.pqSubdirs(spark, cur).foreach { sub =>
      val books = IvfIndex.readCodebooks(spark, cur, sub)
      require(books.nonEmpty && books.head.nonEmpty,
        s"sidecar $sub has no codebooks under $cur — cannot carry its " +
          "geometry across the generation cutover")
      initPq(spark, next, m = books.length, codes = books.head.length,
        rotate = IvfIndex.readRotation(spark, cur, sub).isDefined, sub = sub)
    }
    Generations.writePointer(spark, root, g + 1)
    g + 1
  }

  /** Apply a batch to the CURRENT generation; ids at or below its base
    * are replays and skip, like the compaction floor. */
  def applyBatchGen(spark: SparkSession, root: String, batchId: Long,
      upserts: DataFrame, deletes: DataFrame): Unit =
    atCurrent(spark, root)(applyBatch(spark, _, batchId, upserts, deletes))

  /** Rollback within the CURRENT generation only: a target below its
    * base would un-do the cutover, which is an operator decision. */
  def rollbackGen(spark: SparkSession, root: String, batchId: Long): Unit =
    atCurrent(spark, root) { p =>
      val floor = manifestIds(spark, p).headOption
      require(floor.exists(batchId >= _),
        s"rollback across a generation boundary refused: batch $batchId " +
          s"predates the current generation's base/floor ${floor.getOrElse(-1L)} " +
          s"under $root — a cutover is not reversible by rollback (older " +
          "generations stay readable via as-of)")
      rollback(spark, p, batchId)
    }

  /** CDC across generations: each endpoint reconstructs from the
    * generation that answers it. Fingerprints are content-addressed,
    * so a cutover boundary is an empty diff by construction. */
  def asOfDiffGen(spark: SparkSession, root: String, fromBatch: Long,
      toBatch: Long): DataFrame =
    diffFingerprints(
      routed(spark, root, fromBatch)(answerable(spark, _, fromBatch, "b_fp")),
      routed(spark, root, toBatch)(answerable(spark, _, toBatch, "a_fp")))

  /** The debt gauge per generation on disk, flagged with the pointer. */
  def layoutDebtGen(spark: SparkSession, root: String): DataFrame = {
    val cur = Generations.current(spark, root)
    Generations.list(spark, root).map { g =>
      layoutDebt(spark, Generations.genPath(root, g))
        .select(lit(g.toLong).as("generation") +: lit(g == cur).as("is_current") +:
          debtCols: _*)
    }.reduce(_ unionByName _)
  }
}

object VersionedLayout {

  private val ManifestName = """batch-(\d+)\.json""".r

  private val ManifestPattern =
    """\{"batch_id":(\d+),"fitted_n":(\d+),"delta_since_fit":(\d+)\}""".r

  private val RollbackMarkerPattern = """rollback-(\d+)\.json""".r

  private val BatchDirPattern = """batch_id=(\d+)""".r

  private val ClusterDirPattern = """cluster_id=(\d+)""".r

  private[index] val debtCols = Seq("n_batches", "total_rows", "live_rows",
    "superseded_rows", "dead_ids", "tombstone_rows", "fitted_n",
    "delta_since_fit").map(col)

  private[graft] def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A small file's trimmed content, or None if it does not exist. */
  private[graft] def readFile(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8).trim)
      finally in.close()
    }

  /** Commit a small file atomically: write a dot-named tmp unique to
    * this writer (hidden from file sources and listings), then rename
    * it over `p`, so a reader sees the old content or the new, never a
    * torn one, and concurrent writers never share a tmp. A local
    * filesystem writes through its raw layer: a `.crc` sidecar would
    * be renamed separately and could pair one writer's bytes with
    * another's checksum. A stale `.crc` from an older writer goes
    * first. */
  private[graft] def commitFile(spark: SparkSession, p: Path, body: String): Unit = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem =>
        c.getRawFileSystem.delete(c.getChecksumFile(p), false)
        c.getRawFileSystem
      case other => other
    }
    val tmp = new Path(p.getParent, s".${p.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!fs.rename(tmp, p)) {
      // a filesystem whose rename refuses to overwrite (HDFS)
      fs.delete(p, false)
      if (!fs.rename(tmp, p)) {
        fs.delete(tmp, false)
        throw new java.io.IOException(s"could not commit $p")
      }
    }
  }

  /** Map-side 8-byte payload fingerprint: each field hashed under its
    * own name (a NULL field reads as a name-keyed sentinel, so a flip
    * to/from NULL is still a change), folded over the SORTED names so
    * two generations listing their columns in different orders agree. */
  private[index] def payloadFp(payload: Seq[String]): Column = {
    val fieldFps = payload.sorted.map(c => xxhash64(lit(c), col(c)))
    if (fieldFps.isEmpty) lit(0L) else xxhash64(fieldFps: _*)
  }

  /** Classify changes between two (vec_id, fingerprint) live sets. A
    * computed fingerprint is never NULL, so a NULL side marks absence
    * under the full-outer join. */
  private[index] def diffFingerprints(before: DataFrame, after: DataFrame): DataFrame =
    before.join(after, Seq("vec_id"), "full_outer")
      .withColumn("change",
        when(col("b_fp").isNull, lit("added"))
          .when(col("a_fp").isNull, lit("deleted"))
          .when(col("a_fp") =!= col("b_fp"), lit("updated")))
      .filter(col("change").isNotNull)
      .select(col("vec_id"), col("change"))
}
