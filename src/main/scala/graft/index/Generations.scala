package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Generation pointer machinery shared by both versioned layouts.
  *
  * The versioned layouts deliberately FREEZE their fit (stable
  * cluster/graph addresses are what as-of serving is built on), so
  * when the drift envelope trips (`fitted_n`/`delta_since_fit` in the
  * debt gauge) the operator action is a GENERATION CUTOVER, not an
  * in-place rebuild: re-fit from the head reconstruction into a fresh
  * sibling directory, swap one pointer, keep every old generation
  * readable for as-of. A generational root looks like:
  *
  * {{{
  *   root/
  *     generation=1/      // a full versioned layout (vectors, log, manifests)
  *     generation=2/      // the re-fit successor; base batch = 1's head
  *     _current.v2.json   // the pointer: highest version file wins
  * }}}
  *
  * Batch ids stay GLOBALLY monotonic across generations: generation
  * N+1's base batch is written as generation N's head batch id, so an
  * as-of read routes by one rule — the newest generation whose oldest
  * manifest is ≤ the requested batch answers it (ties at the boundary
  * go to the successor, whose base is the SAME live set re-addressed).
  *
  * Crash safety is the stage-then-commit discipline: the new
  * generation directory is fully built first, the pointer write is
  * the commit point (tmp file + rename — one atomic metadata op on
  * any sane FS). A crash mid-cutover leaves the pointer on the old
  * generation and a garbage partial directory that the next cutover
  * attempt overwrites; no reader ever routes into it because routing
  * starts at the pointer.
  */
object Generations {

  def genPath(root: String, g: Int): String = s"$root/generation=$g"

  private val VersionedPointer = """_current\.v(\d+)\.json""".r

  private val LegacyPointerPattern = """\{"generation":(\d+)\}""".r

  private def versionedPointers(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Seq[Int] =
    Option(fs.globStatus(new Path(root, "_current.v*.json")))
      .getOrElse(Array.empty[org.apache.hadoop.fs.FileStatus]).toSeq
      .flatMap(_.getPath.getName match {
        case VersionedPointer(g) => Some(g.toInt)
        case _ => None
      })

  /** The current generation number: the highest `_current.v<g>.json`
    * on disk. The pointer is MONOTONIC pointer FILES resolved by max,
    * never a clobbered single cell — on a filesystem whose rename
    * refuses to overwrite (HDFS), a delete-then-rename single cell has
    * a crash window that leaves NO pointer and bricks every read under
    * the root; creating a fresh versioned name needs no clobber, so a
    * crashed cutover always leaves the OLD pointer file winning (the
    * documented "pointer stays on the old generation" contract holds
    * on every FS). Legacy single-cell `_current.json` roots still
    * resolve. Fails loudly on a root with no pointer at all — routing
    * from a guessed directory could serve a half-built cutover. */
  def current(spark: SparkSession, root: String): Int = {
    val fs = VersionedLayout.fsOf(spark, root)
    versionedPointers(fs, root) match {
      case gs if gs.nonEmpty => gs.max
      case _ =>
        VersionedLayout.readFile(fs, new Path(s"$root/_current.json")) match {
          case Some(LegacyPointerPattern(g)) => g.toInt
          case Some(other) => throw new IllegalArgumentException(
            s"corrupt generation pointer under $root: $other")
          case None => throw new IllegalArgumentException(
            s"no generation pointer under $root — not a generational layout " +
              "(or a cutover crashed before its first commit); refusing to guess")
        }
    }
  }

  /** Commit a cutover: create `_current.v<g>.json` (tmp + rename to a
    * FRESH name — no clobber on any FS), then retire lower-versioned
    * pointer files best-effort. Written LAST by every cutover — the
    * commit point. Crash anywhere: either the new file is not yet
    * renamed (old pointer wins) or it is (new pointer wins, stale
    * files lose to max) — there is no state with zero pointers.
    *
    * Commits must be MONOTONIC: a `g` below an existing pointer would
    * create a file that silently loses to max (the "commit" would be
    * a no-op) — refused loudly instead. Re-committing the CURRENT `g`
    * stays legal (a cutover retried after crashing between its rename
    * and its pointer retirement re-runs this same commit).
    *
    * One-way migration: the first versioned commit under a legacy
    * single-cell root deletes `_current.json` — readers older than the
    * versioned-pointer scheme cannot resolve the root afterwards. */
  private[graft] def writePointer(spark: SparkSession, root: String,
      g: Int): Unit = {
    val p = new Path(s"$root/_current.v$g.json")
    val fs = VersionedLayout.fsOf(spark, root)
    val existing = versionedPointers(fs, root)
    require(existing.forall(_ <= g),
      s"non-monotonic generation commit under $root: pointer v$g would " +
        s"silently lose to existing v${existing.max} — cutovers only move " +
        "the pointer forward")
    // a file of this name can only be a prior attempt at this same
    // commit (content is determined by the name) — safe to replace
    VersionedLayout.commitFile(spark, p, s"""{"generation":$g}""")
    versionedPointers(fs, root).filter(_ < g).foreach(o =>
      fs.delete(new Path(s"$root/_current.v$o.json"), false))
    val legacy = new Path(s"$root/_current.json")
    if (fs.exists(legacy)) fs.delete(legacy, false)
  }

  /** Generation numbers present on disk AND not retired, ascending,
    * bounded above by the pointer (a partial successor directory from
    * a crashed cutover is invisible; a tombstoned generation — see
    * [[retireGeneration]] — is already logically gone even though its
    * files await the deferred purge). */
  def list(spark: SparkSession, root: String): Seq[Int] = {
    val cur = current(spark, root)
    val fs = VersionedLayout.fsOf(spark, root)
    (1 to cur).filter { g =>
      fs.exists(new Path(genPath(root, g))) && !isRetired(fs, root, g)
    }
  }

  private def tombstone(root: String, g: Int): Path =
    new Path(s"${genPath(root, g)}/_retired.json")

  private[graft] def isRetired(fs: org.apache.hadoop.fs.FileSystem,
      root: String, g: Int): Boolean = fs.exists(tombstone(root, g))

  /** Phase 1 of SAFE retirement: write a tombstone into an old
    * generation. Routing refuses its as-ofs immediately (the
    * [[list]] skip — the retention trade is visible at once), but the
    * directory's FILES stay readable, so a change-feed trigger that
    * listed its manifests just before the retirement still completes
    * — the listed-but-unread window [[dropGeneration]]'s immediate
    * delete leaves open. Physical deletion is [[purgeRetired]],
    * deferred by the caller to a later trigger (the generational sink
    * purges on the NEXT cutover — a full drift-envelope period, so an
    * in-flight reader trigger would have to straddle two cutovers to
    * observe a vanished file). Same preconditions as
    * [[dropGeneration]]; idempotent. */
  def retireGeneration(spark: SparkSession, root: String, g: Int): Unit = {
    val cur = current(spark, root)
    require(g < cur,
      s"generation $g is ${if (g == cur) "CURRENT" else "not a predecessor"} " +
        s"under $root (pointer at $cur) — only old generations can be retired")
    val p = tombstone(root, g)
    val fs = VersionedLayout.fsOf(spark, root)
    require(fs.exists(new Path(genPath(root, g))),
      s"generation $g does not exist under $root")
    VersionedLayout.commitFile(spark, p, s"""{"retired":$g}""")
  }

  /** Phase 2 of SAFE retirement: physically delete every tombstoned
    * generation directory. Callers run this a full trigger period (or
    * more) after the tombstones landed — by then no reader can hold a
    * listing of the retired files (their generation has been refusing
    * at routing since phase 1). Returns the purged numbers. */
  def purgeRetired(spark: SparkSession, root: String): Seq[Int] = {
    val cur = current(spark, root)
    val fs = VersionedLayout.fsOf(spark, root)
    (1 until cur).filter { g =>
      fs.exists(new Path(genPath(root, g))) && isRetired(fs, root, g)
    }.map { g => fs.delete(new Path(genPath(root, g)), true); g }
  }

  /** Route an as-of batch id to the generation that answers it: the
    * newest generation whose oldest surviving manifest (its base, or
    * its compaction floor) is ≤ the id. At the boundary the SUCCESSOR
    * answers — its base is the same live set under the fresh fit,
    * which is the stable address a post-cutover reader wants. */
  def route(spark: SparkSession, root: String, batchId: Long): String = {
    val cur = current(spark, root)
    val gens = list(spark, root).reverse
    val hit = gens.iterator
      .map(g => (g, genPath(root, g)))
      .find { case (_, p) => SnapshotLayout.manifestIds(spark, p).headOption
        .exists(_ <= batchId) }
      .getOrElse(throw new IllegalArgumentException(
        s"as-of $batchId predates every generation's floor under $root — " +
          "the truncated/compacted history cannot reconstruct it"))
    val (g, p) = hit
    // an id ABOVE an old generation's head belongs to a generation
    // between it and the newer ones — reachable only when that
    // generation was retired ([[dropGeneration]]); answering from the
    // older head would silently serve the wrong snapshot. The CURRENT
    // generation keeps the head-alias semantics every as-of serve has.
    require(g == cur ||
        SnapshotLayout.manifestIds(spark, p).lastOption.exists(batchId <= _),
      s"as-of $batchId falls in retired history under $root (generation $g " +
        s"ends before it and the covering generation was dropped) — " +
        "refusing to alias an older generation's head")
    p
  }

  /** Retire an OLD generation: delete its directory outright. The
    * current generation is refused (cut over first — the pointer must
    * never dangle), as is a generation number at/above the pointer.
    * After a drop, as-ofs the retired generation covered REFUSE at
    * routing (see [[route]]) instead of silently re-answering from an
    * older head — retirement is the retention trade made explicit,
    * exactly like compaction truncating below its floor. */
  def dropGeneration(spark: SparkSession, root: String, g: Int): Unit = {
    val cur = current(spark, root)
    require(g < cur,
      s"generation $g is ${if (g == cur) "CURRENT" else "not a predecessor"} " +
        s"under $root (pointer at $cur) — only old generations can be retired")
    val p = new Path(genPath(root, g))
    val fs = VersionedLayout.fsOf(spark, root)
    require(fs.exists(p), s"generation $g does not exist under $root")
    fs.delete(p, true)
  }
}
