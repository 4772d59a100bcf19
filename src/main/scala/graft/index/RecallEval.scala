package graft.index

import graft.core.{Stab, Tables}
import graft.functions.vectors._
import graft.operators.KnnSearch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unified index accountability (`index_recall_eval`) — every
  * approximate index family measured against the exact scan in ONE
  * servable table: the nightly index-health job a production vector
  * store runs after maintenance, and the number an operator reads
  * before trusting an index for serving. The reference never measures
  * its own indexes (ivf_index.py / nsw_index.py serve blind); here
  * recall is a first-class query, same pattern as
  * `events_approx_users`' in-plan error attestation.
  *
  * Per family: the SAME query workload its serving entry uses
  * (`vec_id < 5`), its own k, recall@k vs the exact scan under the
  * family's OWN metric (cosine for ivf/nsw/lsh/pq, dot for sq8 —
  * measuring a dot-ranked index against a cosine oracle would report
  * metric disagreement, not index quality), and the spec-pinned bar.
  *
  * Scale shape: every leg reuses the memoized/persisted layouts the
  * build entries create (nothing rebuilds here when builds ran
  * first), the exact baselines are the brute broadcast-scan family
  * (one corpus scan each), and all joins/aggregations after the top-k
  * cuts touch only |queries|·k rows. Integer arithmetic end-to-end:
  * recall = Σ hits · 1e6 / (n_queries · k), floored.
  */
object RecallEval {

  private def exactTopK(spark: SparkSession, dir: String, k: Int,
      dot: Boolean): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val score = if (dot) dotProduct _ else cosineSim _
    KnnSearch.topK(
      emb.crossJoin(broadcast(q))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          Stab.e6(score(col("embedding"), col("q_vec"))).as("score_e6")),
      k, asc = false)
  }

  /** Mean recall@k of `approx` against `exact`, as a one-row frame
    * labeled `index` with the family's bar. Both frames carry
    * (q_id, neighbor_id); k is the denominator per query. */
  private def recallRow(index: String, approx: DataFrame, exact: DataFrame,
      k: Int, barE6: Long): DataFrame = {
    val hits = approx.select(col("q_id"), col("neighbor_id"))
      .join(exact.select(col("q_id"), col("neighbor_id")),
        Seq("q_id", "neighbor_id"))
    val nq = exact.select(col("q_id")).distinct()
    hits.agg(count(lit(1)).as("n_hits"))
      .crossJoin(nq.agg(count(lit(1)).as("n_queries")))
      .select(lit(index).as("index"), col("n_queries"),
        lit(k.toLong).as("k"),
        floor(col("n_hits") * lit(1000000L) / (col("n_queries") * lit(k.toLong)))
          .cast("long").as("mean_recall_e6"),
        lit(barE6).as("bar_e6"))
      .withColumn("meets_bar", col("mean_recall_e6") >= col("bar_e6"))
  }

  /** `ivf_probe_curve`: recall@10 vs nProbe across the whole probe
    * range, from ONE cached build — the tuning-evidence table behind
    * `defaultNProbe` (SURVEY §5's bars are measured, not aspirational;
    * this op makes the measurement itself a servable query, the way
    * `index_recall_eval` serves the per-family health row). Probing
    * all `defaultK` clusters IS the exact scan, so the curve's last
    * point is pinned to recall exactly 1e6 — an end-to-end identity
    * check on the probe machinery, not just a bar.
    *
    * Scale shape: the exact baseline is one brute broadcast scan, each
    * curve point probes the SAME memoized cluster layout, and every
    * post-cut join touches |queries|·k rows; output is |probes| rows
    * at any corpus size. */
  val probeSweep: Seq[Int] = Seq(1, 3, 7, 11, IvfIndex.defaultK)

  def ivfProbeCurve(spark: SparkSession, dir: String): DataFrame = {
    val exact = exactTopK(spark, dir, 10, dot = false).localCheckpoint(true)
    val built = IvfIndex.buildCached(spark, dir)
    val queries = Tables.embeddings(spark, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    probeSweep.map { p =>
      recallRow(s"ivf", IvfIndex.search(built, queries, nProbe = p),
          exact, 10, 0L)
        .select(lit(p.toLong).as("n_probe"), col("n_queries"), col("k"),
          col("mean_recall_e6"))
    }.reduce(_ unionByName _).orderBy(col("n_probe"))
  }

  /** Invariant grid over [[ivfProbeCurve]] (the checked convention for
    * measured-value ops): recall bounded, NON-DECREASING in nProbe
    * (probing more clusters can only add candidates), and exactly 1e6
    * at the full probe — the all-true grid is the SQL oracle, the
    * measured values themselves are spec-asserted. */
  def ivfProbeCurveChecked(spark: SparkSession, dir: String): DataFrame = {
    val curve = ivfProbeCurve(spark, dir).localCheckpoint(true)
    val prevMap = probeSweep.zip(probeSweep.drop(1))
      .map { case (a, b) => (b.toLong, a.toLong) }
    import spark.implicits._
    val prev = prevMap.toDF("n_probe", "prev_probe")
    val prevRecall = curve.select(col("n_probe").as("prev_probe"),
      col("mean_recall_e6").as("prev_recall_e6"))
    curve.join(broadcast(prev), Seq("n_probe"), "left")
      .join(broadcast(prevRecall), Seq("prev_probe"), "left")
      .select(col("n_probe"),
        col("mean_recall_e6").between(0L, 1000000L).as("recall_bounded"),
        coalesce(col("mean_recall_e6") >= col("prev_recall_e6"), lit(true))
          .as("not_below_prev"),
        (col("n_probe") =!= IvfIndex.defaultK.toLong ||
          col("mean_recall_e6") === 1000000L).as("full_probe_exact"))
      .orderBy(col("n_probe"))
  }

  val ivfProbeCurveSql: String =
    s"""SELECT CAST(n_probe AS BIGINT) AS n_probe, true AS recall_bounded,
       |  true AS not_below_prev, true AS full_probe_exact
       |FROM (VALUES ${probeSweep.map(p => s"($p)").mkString(", ")}) t(n_probe)
       |ORDER BY n_probe""".stripMargin

  /** `nsw_beam_curve`: recall@5 over a beamWidth × hops grid from ONE
    * cached graph — the ivf_probe_curve pattern applied to the other
    * index family. The NSW hop cap was re-tuned by hand twice (SURVEY
    * §5 r6/r7); this makes the next re-tune a query instead of a
    * hand-run experiment, where the reference's beam is a fixed
    * constant it never measures (nsw_index.py:117-165).
    *
    * Grid: `beamSweep` widths at a STARVED one-hop cap (where width
    * genuinely discriminates — at the production cap the multi-seed
    * entry saturates small corpora) and at the production cap, plus
    * the EXHAUSTIVE point `beam_width = exhaustiveBeam` (sentinel ∞)
    * where the seed sample modulus drops to 1 — every node is scored
    * at hop 0, so the "search" IS the exact scan and its recall is
    * pinned to exactly 1e6: the end-to-end identity check on the beam
    * machinery, exactly like ivf_probe_curve's full-probe point.
    *
    * The CHECKED grid asserts only PROVABLE invariants (they must
    * hold at the driver's SF sight-unseen): bounded recall; at a
    * fixed beam, hop-1 recall ≤ production-cap recall (extra
    * supersteps only ever ADD to the visited set); at hop 1, recall
    * non-decreasing in beam (with identical seeds the hop-1 frontier
    * of a wider beam is a superset, so its scored set is too — deeper
    * hops lose that superset property, which is why beam-monotonicity
    * at the production cap is spec-measured, not oracle-asserted);
    * and the exhaustive identity. RecallEvalSpec pins the measured
    * values: full monotonicity on this corpus, the exact endpoint,
    * and a required spread (the starved corner must lose recall).
    *
    * Scale shape: one exact brute baseline (broadcast scan), each
    * grid point walks the SAME memoized edge table with the serve
    * path's own BSP loop (early-exhaustion cut included), post-cut
    * joins touch |queries|·k rows; output is |grid| rows at any
    * corpus size. The exhaustive point scores the corpus once — an
    * accountability job, not a serve path (same caveat ivf's full
    * probe documents). */
  val beamSweep: Seq[Int] = Seq(2, 8, 32)
  val hopSweep: Seq[Int] = Seq(1, NswIndex.hops)
  val exhaustiveBeam: Long = 1000000L

  def nswBeamCurve(spark: SparkSession, dir: String): DataFrame = {
    val exact = exactTopK(spark, dir, 5, dot = false).localCheckpoint(true)
    val emb = Tables.embeddings(spark, dir)
    val embSel = emb.select(col("vec_id"), col("embedding"))
    val edges = NswIndex.edgesCached(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val measured = for (h <- hopSweep; b <- beamSweep) yield
      recallRow("nsw", NswIndex.beamSearch(embSel, edges, queries,
          maxHops = h, beamW = b), exact, 5, 0L)
        .select(lit(b.toLong).as("beam_width"), lit(h.toLong).as("max_hops"),
          col("n_queries"), col("k"), col("mean_recall_e6"))
    val exhaustive =
      recallRow("nsw", NswIndex.beamSearch(embSel, edges, queries,
          seedSampleMod = 1, beamW = Int.MaxValue), exact, 5, 0L)
        .select(lit(exhaustiveBeam).as("beam_width"),
          lit(NswIndex.hops.toLong).as("max_hops"),
          col("n_queries"), col("k"), col("mean_recall_e6"))
    (measured :+ exhaustive).reduce(_ unionByName _)
      .orderBy(col("max_hops"), col("beam_width"))
  }

  /** Invariant grid over [[nswBeamCurve]] — the PROVABLE subset (see
    * the curve scaladoc); measured-value assertions live in
    * RecallEvalSpec. */
  def nswBeamCurveChecked(spark: SparkSession, dir: String): DataFrame = {
    val curve = nswBeamCurve(spark, dir).localCheckpoint(true)
    import spark.implicits._
    // hop-1 row: recall at the previous (narrower) beam, same hops
    val prevBeam = beamSweep.zip(beamSweep.drop(1))
      .map { case (a, b) => (b.toLong, a.toLong) }.toDF("beam_width", "prev_width")
    val h1 = curve.filter(col("max_hops") === 1L)
      .select(col("beam_width").as("prev_width"),
        col("mean_recall_e6").as("prev_recall_e6"))
    // same beam at hop 1, for the cross-hops comparison
    val h1ByBeam = curve.filter(col("max_hops") === 1L)
      .select(col("beam_width"), col("mean_recall_e6").as("h1_recall_e6"))
    curve
      .join(broadcast(prevBeam), Seq("beam_width"), "left")
      .join(broadcast(h1), Seq("prev_width"), "left")
      .join(broadcast(h1ByBeam), Seq("beam_width"), "left")
      .select(col("beam_width"), col("max_hops"),
        col("mean_recall_e6").between(0L, 1000000L).as("recall_bounded"),
        coalesce(col("max_hops") =!= 1L ||
          col("mean_recall_e6") >= col("prev_recall_e6"), lit(true))
          .as("hop1_beam_monotone"),
        coalesce(col("max_hops") === 1L ||
          col("mean_recall_e6") >= col("h1_recall_e6"), lit(true))
          .as("not_below_hop1"),
        (col("beam_width") =!= exhaustiveBeam ||
          col("mean_recall_e6") === 1000000L).as("exhaustive_exact"))
      .orderBy(col("max_hops"), col("beam_width"))
  }

  val nswBeamCurveSql: String = {
    val rows = (for (h <- hopSweep; b <- beamSweep)
        yield s"(${b.toLong}, ${h.toLong})") :+
      s"($exhaustiveBeam, ${NswIndex.hops.toLong})"
    s"""SELECT CAST(beam_width AS BIGINT) AS beam_width,
       |  CAST(max_hops AS BIGINT) AS max_hops,
       |  true AS recall_bounded, true AS hop1_beam_monotone,
       |  true AS not_below_hop1, true AS exhaustive_exact
       |FROM (VALUES ${rows.mkString(", ")}) t(beam_width, max_hops)
       |ORDER BY max_hops, beam_width""".stripMargin
  }

  /** `ann_filtered_curve`: filtered-ANN recall vs filter SELECTIVITY
    * — the known hard case of approximate search (a pre-filter
    * starves the probed candidate set: at 5% selectivity a fixed
    * nProbe sees ~5% of the candidates an unfiltered probe does, so
    * recall degrades exactly where users add metadata filters). The
    * curve measures it instead of asserting it, the
    * ivf_probe_curve/nsw_beam_curve convention applied to
    * `ivf_search_filtered`'s serve path.
    *
    * Grid: selectivity 1/m for m ∈ [[filterMods]] (the mod-m
    * predicate `vec_id % m = 0` — deterministic, nested, and
    * expressible identically in both engines), each at the
    * production nProbe (measured) and at the FULL probe, where
    * probing every cluster + pre-filter IS the exact filtered scan —
    * recall pinned to exactly 1e6 per selectivity: the end-to-end
    * identity check on the filtered-probe machinery. Recall
    * denominator is the per-m exact result count (NOT k·|queries|:
    * a tight filter can leave < k legal neighbours and a fixed-k
    * denominator would misreport that as index loss).
    *
    * Scale shape: ONE cached build serves every grid point; each
    * exact baseline is one brute scan of the FILTERED corpus (the
    * filter prunes the scan); post-cut joins touch |queries|·k rows;
    * output is 2·|mods| rows at any corpus size. */
  val filterMods: Seq[Long] = Seq(1L, 2L, 5L, 20L)

  def annFilteredCurve(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val built = IvfIndex.buildCached(spark, dir)
    // the full-probe leg must cover the BUILT index's actual cell
    // count: with auto-k a corpus past the floor builds k > defaultK,
    // and probing only defaultK cells would break the all-true
    // full_probe_exact oracle grid (ADVICE r14)
    val kBuilt = built.centroids.count().toInt
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val legs = for (m <- filterMods) yield {
      val exact = KnnSearch.topK(
        emb.filter(pmod(col("vec_id"), lit(m)) === 0L)
          .crossJoin(broadcast(queries))
          .select(col("q_id"), col("vec_id").as("neighbor_id"),
            Stab.e6(cosineSim(col("embedding"), col("q_vec"))).as("score_e6")),
        10, asc = false).localCheckpoint(true)
      val exactN = exact.agg(count(lit(1)).as("n_exact"))
      for (full <- Seq(false, true)) yield {
        val nProbe = if (full) kBuilt else IvfIndex.defaultNProbe
        val approx = IvfIndex.searchFiltered(built, queries,
          pmod(col("vec_id"), lit(m)) === 0L, nProbe = nProbe)
        val hits = approx.select(col("q_id"), col("neighbor_id"))
          .join(exact.select(col("q_id"), col("neighbor_id")),
            Seq("q_id", "neighbor_id"))
        hits.agg(count(lit(1)).as("n_hits")).crossJoin(exactN)
          .select(lit(m).as("sel_mod"), lit(full).as("full_probe"),
            col("n_exact"),
            floor(col("n_hits") * lit(1000000L) / greatest(col("n_exact"), lit(1L)))
              .cast("long").as("mean_recall_e6"))
      }
    }
    legs.flatten.reduce(_ unionByName _)
      .orderBy(col("sel_mod"), col("full_probe"))
  }

  /** Invariant grid over [[annFilteredCurve]] — the provable subset:
    * bounded recall everywhere, and the full-probe identity per
    * selectivity. Production-probe measured values (incl. the
    * degradation spread across selectivities) are spec-pinned in
    * RecallEvalSpec, not oracle-asserted. */
  def annFilteredCurveChecked(spark: SparkSession, dir: String): DataFrame = {
    annFilteredCurve(spark, dir)
      .select(col("sel_mod"), col("full_probe"),
        col("mean_recall_e6").between(0L, 1000000L).as("recall_bounded"),
        (!col("full_probe") || col("mean_recall_e6") === 1000000L)
          .as("full_probe_exact"))
      .orderBy(col("sel_mod"), col("full_probe"))
  }

  val annFilteredCurveSql: String = {
    val rows = for (m <- filterMods; full <- Seq(false, true))
      yield s"($m, $full)"
    s"""SELECT CAST(sel_mod AS BIGINT) AS sel_mod, full_probe,
       |  true AS recall_bounded, true AS full_probe_exact
       |FROM (VALUES ${rows.mkString(", ")}) t(sel_mod, full_probe)
       |ORDER BY sel_mod, full_probe""".stripMargin
  }

  def indexRecallEval(spark: SparkSession, dir: String): DataFrame = {
    // Round 17: the table's 15 family legs are INDEPENDENT measurement
    // jobs (each its own serve + hit join over a shared baseline), and
    // several of them — the beam walks especially — run eager
    // driver-side loops that submit many small jobs. Sequential
    // construction left most of a local[32] idle per leg (guide §2.6's
    // stragglers-and-idle-capacity case); the legs now materialize
    // from a small driver thread pool so one leg's tail back-fills
    // with the next leg's stages. Values are untouched — every leg
    // still checkpoints its own 1-row result and the final union
    // reads the materialized blocks.
    // every exact baseline computed ONCE and checkpointed: recallRow
    // reads its `exact` side twice (hit join + query count) and the
    // cos5 baseline grades three families — without the checkpoint
    // the brute scan re-runs per read (6× for cos5 at sf0.1); the
    // four baselines are themselves independent brute scans and
    // materialize concurrently
    val Seq(exactCos10, exactCos5, exactDot10) = graft.core.DriverJobs.all(spark)(
      Seq((10, false), (5, false), (10, true)).map { case (k, dot) =>
        () => exactTopK(spark, dir, k, dot = dot).localCheckpoint(true) })
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // the FILTERED serving paths at their production compensation
    // (round 10 — they were measured only in their own curves/specs,
    // so a filtered-recall regression could not fail the one table
    // that exists to catch it): the label-block workload both serving
    // entries use, graded against the brute FILTERED oracle — exact
    // top-10 over only the rows each query's predicate admits.
    val q5 = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("label").as("q_label"))
    val exactFiltered = KnnSearch.topK(
      emb.crossJoin(broadcast(q5))
        .filter(col("label") === col("q_label"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          Stab.e6(cosineSim(col("embedding"), col("q_vec"))).as("score_e6")),
      10, asc = false).localCheckpoint(true)
    // the shared layouts are forced BEFORE the legs fan out: three pq
    // legs share one sidecar layout (and the nsw legs another) — built
    // here once, the concurrent legs then read the memo instead of
    // serializing on its build lock
    val pqLayout = IvfIndex.pqLayoutFor(spark, dir)
    val nswPqLayout = NswIndex.pqLayoutFor(spark, dir)
    // each leg: its family's serve (the OPQ `pqr` rows measure the
    // rotated sidecars head-to-head against the unrotated ones from
    // the SAME base layouts; pca16 is the 16-of-64 PCA reduction-
    // fidelity row — near-isotropic corpus, hence the 0.2 bar; the bq
    // rows are the 1-bit Hamming pre-rank at its production R=100
    // rerank, brute and composed inside the IVF probe; the filtered
    // legs grade the whole filtered pipelines against the brute
    // filtered oracle) → recallRow → a checkpointed 1-row frame
    val filteredPred = col("label") === col("q_label")
    val legs: Seq[() => DataFrame] = Seq(
      () => recallRow("bq", BqIndex.knnBruteBq(spark, dir),
        exactCos10, 10, 800000L),
      () => recallRow("nsw_pq",
        NswIndex.searchPersistedPq(spark, nswPqLayout, queries),
        exactCos5, 5, 850000L),
      () => recallRow("nsw_pq_opq",
        NswIndex.searchPersistedPq(spark, nswPqLayout, queries, sub = "pqr"),
        exactCos5, 5, 850000L),
      () => recallRow("nsw_pq_filtered",
        NswIndex.searchPersistedPqFiltered(spark, nswPqLayout, q5, filteredPred),
        exactFiltered, 10, 850000L),
      () => recallRow("ivf_bq", BqIndex.ivfSearchBq(spark, dir),
        exactCos10, 10, 800000L),
      () => recallRow("ivf",
        IvfIndex.search(IvfIndex.buildCached(spark, dir), queries),
        exactCos10, 10, 900000L),
      () => recallRow("ivf_filtered",
        IvfIndex.searchFiltered(
          IvfIndex.buildCachedFor(s"ivf_meta:$dir", spark,
            emb.select(col("vec_id"), col("embedding"), col("label")), dir,
            metaCols = Seq("label")),
          q5, filteredPred, nProbe = 13),
        exactFiltered, 10, 900000L),
      () => recallRow("lsh", LshIndex.annLshBucketed(spark, dir),
        exactCos10, 10, 600000L),
      () => recallRow("nsw",
        NswIndex.beamSearch(emb.select(col("vec_id"), col("embedding")),
          NswIndex.edgesCached(spark, dir), queries),
        exactCos5, 5, 900000L),
      () => recallRow("nsw_filtered",
        NswIndex.searchFiltered(emb, NswIndex.edgesCached(spark, dir), q5,
          filteredPred, metaCols = Seq("label")),
        exactFiltered, 10, 900000L),
      () => {
        val embSel = emb.select(col("vec_id"), col("embedding"))
        val fitted = graft.operators.Whiten.fit(spark, embSel, embSel.count())
        val proj16 = graft.operators.Whiten.projected(embSel, fitted)
          .select(col("vec_id"), col("proj").cast("array<float>").as("p"))
          .localCheckpoint(true)
        val projQ = proj16.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("p").as("q_vec"))
        recallRow("pca16", KnnSearch.topK(
          proj16.crossJoin(broadcast(projQ))
            .select(col("q_id"), col("vec_id").as("neighbor_id"),
              Stab.e6(cosineSim(col("p"), col("q_vec"))).as("score_e6")),
          10, asc = false), exactCos10, 10, 200000L)
      },
      () => recallRow("pq",
        IvfIndex.searchPersistedPq(spark, pqLayout, queries),
        exactCos10, 10, 850000L),
      () => recallRow("pq_filtered",
        IvfIndex.searchPersistedPqFiltered(spark, pqLayout, q5, filteredPred),
        exactFiltered, 10, 850000L),
      () => recallRow("pq_opq",
        IvfIndex.searchPersistedPq(spark, pqLayout, queries, sub = "pqr"),
        exactCos10, 10, 850000L),
      () => recallRow("sq8", SqIndex.knnBruteSq(spark, dir),
        exactDot10, 10, 900000L))
    val rows = graft.core.DriverJobs.all(spark)(
      legs.map(leg => () => leg().localCheckpoint(true)))
    rows.reduce(_ unionByName _).orderBy(col("index"))
  }

  /** The families [[indexRecallEval]] measures — the checked grid pins
    * this list (a silently dropped family is a broken health table). */
  val recallFamilies: Seq[String] = Seq(
    "bq", "ivf", "ivf_bq", "ivf_filtered", "lsh", "nsw", "nsw_filtered",
    "nsw_pq", "nsw_pq_filtered", "nsw_pq_opq", "pca16", "pq",
    "pq_filtered", "pq_opq", "sq8")

  /** Checked-grid oracle over [[indexRecallEval]] (round 16, VERDICT
    * r15 #4 — the last `no_oracle` registry key converted to the
    * ivf_probe_curve convention): per family, recall bounded and the
    * family's own bar met, with the FAMILY LIST itself pinned by the
    * oracle's VALUES — so a dropped family, an out-of-range recall, or
    * any family sliding under its bar flips the driver hash. The
    * measured values stay served by [[indexRecallEval]] and
    * spec-pinned (RecallEvalSpec). */
  def indexRecallEvalChecked(spark: SparkSession, dir: String): DataFrame =
    indexRecallEval(spark, dir)
      .select(col("index").as("family"),
        col("mean_recall_e6").between(0L, 1000000L).as("recall_bounded"),
        col("meets_bar"))
      .orderBy(col("family"))

  val indexRecallEvalSql: String =
    s"""SELECT t.family, true AS recall_bounded, true AS meets_bar
       |FROM (VALUES ${recallFamilies.map(f => s"('$f')").mkString(", ")})
       |  t(family)
       |ORDER BY family""".stripMargin

  /** The tau grid `probe_mass_tune` sweeps (e2-scaled in the output:
    * DuckDB VALUES stay integer-exact). */
  val massTuneTaus: Seq[Double] = Seq(0.10, 0.20, 0.30, 0.50, 0.69, 1.00)

  /** `probe_mass_tune`: the coverage-adaptive policy made
    * SELF-CALIBRATING (round 15, §20 pointer 4 — the quality_train
    * pattern applied to serving): sweep [[massTuneTaus]] on a
    * deterministic held-out query sample against the full-probe exact
    * baseline from the SAME cached build, and choose the CHEAPEST tau
    * whose recall clears the bar (0.9) — the value a deployment sets
    * `spark.graft.ivf.probeMass` to. Integer recall arithmetic
    * (hit/baseline counts), driver-side over |sample|·k-row collects.
    *
    * Checked-grid oracle (the ivf_probe_curve convention — measured
    * values are data-dependent, their INVARIANTS are not):
    *  - `recall_bounded`, `not_below_prev` (more mass only adds
    *    candidates — recall non-decreasing in tau);
    *  - `full_mass_exact`: tau = 1.0 IS the exact serve (recall 1e6);
    *  - `chosen_consistent`: the flagged row is the first tau at/above
    *    the bar (every earlier tau reads under it), falling back to
    *    the last row if none clears;
    *  - `one_chosen`: exactly one row is flagged.
    * The measured recall values and the chosen tau on the test corpus
    * are Round15Spec's job. */
  /** The raw sweep behind [[probeMassTune]] and [[autoTauFor]] —
    * (tau_e2, recall_e6) per grid point over an ARBITRARY built index
    * (round 16: the auto policy tunes persisted and versioned layouts
    * through the same measurement). Round15Spec pins the measured
    * values and the chosen tau on the test corpus.
    *
    * ROUND 17 (VERDICT r16 #1 — the sweep was the serve-path
    * scale-killer): ONE corpus scan instead of one full serve per grid
    * point plus an exact full-probe serve. Every tau's serve draws its
    * top-k from a union of ranked-cell prefixes, and a top-k over a
    * union of cells only ever needs each cell's own top-k under the
    * serve's total order (score_e6 desc, neighbor_id asc — ids are
    * unique, so the order is total and the per-cell winners are a
    * superset of any prefix's winners). So: score the sampled queries
    * against every posting row ONCE, keep the per-(query, cell) top-k
    * (a WindowGroupLimit — per-partition heaps, no full sort), collect
    * the |queries|·cells·k survivors, and derive every grid point AND
    * the exact baseline (the all-cells prefix) on the driver with the
    * serve's own prefix rule. Replaces: the eager `localCheckpoint` of
    * the FULL posting set (a corpus copy at scale), a `count()`, and
    * 6 serve jobs — with one aggregation (the same per-cell masses the
    * serves memoize) and one scored scan. Values are bit-identical to
    * the per-tau serves (Round17Spec pins the equivalence against
    * [[IvfIndex.search]] grid point by grid point). */
  private[graft] def sweepBuilt(spark: SparkSession, built: IvfIndex.Built,
      taus: Seq[Double] = massTuneTaus): Seq[(Int, Long)] = {
    val k = 10 // the serves' default k — the bar is recall@10
    // materialize the sweep's 3-column projection once: an as-of Built
    // would otherwise replay its reconstruction for each of the three
    // passes below (masses, query sample, scored scan). With the tune
    // riding fit events only (the round-17 sidecar), this is one
    // bounded copy per (re)build/cutover — maintenance-time cost, not
    // the per-serve corpus copy VERDICT r16 flagged
    val base = built.assigned
      .select(col("vec_id"), col("embedding"), col("cluster_id"))
      .localCheckpoint(true)
    try {
    // the per-cell masses once (identical to what each serve would
    // re-aggregate); their sum replaces the old count() job
    val masses = base.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cmass")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = masses.values.sum
    // a ~100-query deterministic sample (mod-spaced, not the lowest
    // ids): a tuner's sample must SPAN the corpus — the 5 low-id
    // queries the serve grids use all land in the same few cells on
    // a clustered corpus and overestimate what a thin tau serves
    val qMod = math.max(1L, total / 100L)
    val queries = base.filter(pmod(col("vec_id"), lit(qMod)) === 0L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      // the serve's own centroid ranking (search: csim desc, cluster
      // asc), kept per (query, cell) so the driver can replay any
      // mass prefix
      val ranked = queries.crossJoin(broadcast(built.centroids))
        .withColumn("csim", cosineSim(col("q_vec"), col("centroid")))
        .withColumn("crank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
            .orderBy(col("csim").desc, col("cluster_id").asc)))
        .select(col("q_id"), col("q_vec"), col("cluster_id"), col("crank"))
      val perCell = base
        .join(broadcast(ranked), Seq("cluster_id"))
        .select(col("q_id"), col("crank"), col("cluster_id"),
          col("vec_id").as("neighbor_id"),
          Stab.e6(cosineSim(col("embedding"), col("q_vec"))).as("score_e6"))
        .withColumn("cellrank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("q_id"), col("cluster_id"))
            .orderBy(col("score_e6").desc, col("neighbor_id").asc)))
        .filter(col("cellrank") <= k)
        .select(col("q_id"), col("crank"), col("cluster_id"),
          col("neighbor_id"), col("score_e6"))
        .collect()
      // driver-side prefix replay: per query, cells in crank order
      // carry their masses; a tau's serve pool is the prefix with
      // prior mass < max(1, ceil(tau·total)) — massProbes' exact rule
      // (empty cells never join the serve's mass window either: the
      // masses frame has no row for them)
      val byQ = perCell.groupBy(_.getAs[Long]("q_id"))
      case class Cell(crank: Int, cmass: Long,
          cands: Array[(Long, Long)]) // (score_e6, neighbor_id)
      val cellsByQ = byQ.map { case (q, rows) =>
        q -> rows.groupBy(r => (r.getAs[Int]("crank"), r.getAs[Int]("cluster_id")))
          .toSeq.map { case ((crank, cid), rs) =>
            Cell(crank, masses(cid),
              rs.map(r => (r.getAs[Long]("score_e6"),
                r.getAs[Long]("neighbor_id")))
                .sortBy { case (s, id) => (-s, id) }.take(k))
          }.sortBy(_.crank)
      }
      def topSet(cells: Seq[Cell]): Set[Long] = {
        val pool = cells.iterator.flatMap(_.cands).toArray
        pool.sortBy { case (s, id) => (-s, id) }.iterator.take(k)
          .map(_._2).toSet
      }
      val exact = cellsByQ.map { case (q, cells) => q -> topSet(cells) }
      val den = exact.values.map(_.size).sum
      taus.map { tau =>
        val target = math.max(1L, math.ceil(tau * total).toLong)
        val num = cellsByQ.map { case (q, cells) =>
          val priors = cells.scanLeft(0L)(_ + _.cmass) // exclusive prefix mass
          val prefix = cells.zip(priors).collect {
            case (c, prior) if prior < target => c }
          topSet(prefix).intersect(exact(q)).size
        }.sum
        val recallE6 = math.floorDiv(num.toLong * 1000000L, math.max(1L, den.toLong))
        (math.round(tau * 100).toInt, recallE6)
      }
    } finally graft.core.Checkpoints.free(base)
  }

  private[graft] def probeMassSweep(spark: SparkSession,
      dir: String): Seq[(Int, Long)] =
    sweepBuilt(spark, IvfIndex.buildCached(spark, dir))

  /** The bar the AUTO probe policy tunes against — the same 0.9
    * recall@10 bar the serve families carry. */
  val autoBarE6 = 900000L

  private val autoTauCache = new graft.store.VersionedMemo[Double]()

  /** The tuner-chosen τ for a layout — what `spark.graft.ivf.probeMass`
    * unset (or `auto`) resolves to (round 16, VERDICT r15 #1: the
    * measured 2.5–3.6× clustered-corpus coverage win becomes the
    * default instead of a number a human copies out of
    * `probe_mass_tune`). Memoized per (key, versionDir) with the same
    * [[graft.store.IndexVersions]] discipline as the cell masses:
    * every layout mutation bumps and the next serve retunes. τ=1.0 is
    * not re-measured per tune — it is PROVABLY exact (the oracled
    * sweep pins `full_mass_exact`), so the grid's last point is free
    * and the auto sweep measures one full-coverage serve less. */
  def autoTauFor(spark: SparkSession, key: String, versionDir: String)(
      corpus: => IvfIndex.Built): Double =
    autoTauCache.get(spark, s"autotau:$key", versionDir) {
      tuneTau(spark, corpus)
    }

  /** One tuner run: sweep the grid (τ=1.0 is PROVABLY exact — the
    * oracled sweep pins `full_mass_exact` — so it rides free), choose
    * the cheapest bar-clearing τ. */
  private def tuneTau(spark: SparkSession, corpus: IvfIndex.Built): Double = {
    val meas = sweepBuilt(spark, corpus, massTuneTaus.init) :+
      (100, 1000000L)
    massTuneTaus(chooseTau(meas, autoBarE6))
  }

  // ---- persisted tuning sidecar (round 17, VERDICT r16 #1) -------------
  //
  // The tuner's τ is a property of the layout's FIT: the centroids are
  // frozen across applyBatch/rollback/compact (the incremental-add
  // serving contract), and the tuned threshold multiplies into the
  // per-serve LIVE masses, so incremental batches change what a τ
  // covers, not which τ clears the bar. Round 16 retuned on EVERY
  // version bump — a full sweep per ingest batch at scale, and a fresh
  // sweep per cold session. Round 17 persists the choice next to the
  // layout the moment it is first tuned: later sessions (and later
  // bumps) read one tiny file instead of re-sweeping. The sidecar is
  // cleared exactly when the fit changes — [[IvfIndex.persist]]
  // overwrites (fresh build or drift rebuild), and a generational
  // cutover lands in a NEW generation dir that never had one. A
  // layout copy ([[SnapshotLayout.copyLayout]]) legitimately carries
  // the sidecar: same bytes, same fit, same τ.
  //
  // One sidecar per TUNING IDENTITY: the `path:` identity
  // ([[IvfIndex.autoTauAt]]) tunes over the raw `vectors/` rows and
  // keeps `_graft_autotau.json`; the `asof:` identity (a versioned
  // layout's as-of serves) tunes over the live head and owns
  // `_graft_autotau_asof.json`. On a versioned layout with superseded
  // or dead rows the two corpora differ, and one shared file would
  // serve whichever τ was written first to both.

  private[graft] def tauSidecarPath(path: String,
      asOf: Boolean): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      s"$path/_graft_autotau${if (asOf) "_asof" else ""}.json")

  /** The identity a layout's own zero-conf serves tune under: `asof:`
    * on a versioned layout (it has a batch log), `path:` otherwise. */
  private def servesAsOf(spark: SparkSession, path: String): Boolean =
    VersionedLayout.fsOf(spark, path)
      .exists(new org.apache.hadoop.fs.Path(s"$path/_snapshots"))

  private val TauSidecarPattern = """\{"tau_e2":(\d+)\}""".r

  /** None when absent or unreadable: the next serve retunes and rewrites. */
  private[graft] def readTauSidecar(spark: SparkSession, path: String,
      asOf: Boolean): Option[Double] =
    VersionedLayout.readFile(VersionedLayout.fsOf(spark, path), tauSidecarPath(path, asOf))
      .collect { case TauSidecarPattern(e2) => e2.toLong / 100.0 }

  private[graft] def readTauSidecar(spark: SparkSession, path: String): Option[Double] =
    readTauSidecar(spark, path, servesAsOf(spark, path))

  /** Concurrent tuners of one layout each commit atomically under
    * their own tmp name ([[VersionedLayout.commitFile]]). */
  private[graft] def writeTauSidecar(spark: SparkSession, path: String,
      asOf: Boolean, tau: Double): Unit =
    VersionedLayout.commitFile(spark, tauSidecarPath(path, asOf),
      s"""{"tau_e2":${math.round(tau * 100)}}""")

  private[graft] def writeTauSidecar(spark: SparkSession, path: String,
      tau: Double): Unit =
    writeTauSidecar(spark, path, servesAsOf(spark, path), tau)

  /** Drops both identities' sidecars: a new fit invalidates both. */
  private[graft] def clearTauSidecar(spark: SparkSession, path: String): Unit =
    Seq(false, true).map(tauSidecarPath(path, _)).foreach { p =>
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, false)
    }

  /** [[autoTauFor]] for a Built that lives at a writable layout path:
    * the memo absorbs per-serve lookups, and on a memo miss (cold
    * session, or any version bump) the identity's persisted sidecar
    * answers without a sweep — the sweep itself runs once per FIT, at
    * the first zero-conf serve after the layout is (re)built. A sidecar
    * that cannot be written (read-only storage) still serves the tuned
    * τ; the next memo miss tunes again. */
  def autoTauPersisted(spark: SparkSession, key: String, versionDir: String,
      layoutPath: String)(corpus: => IvfIndex.Built): Double =
    autoTauCache.get(spark, s"autotau:$key", versionDir) {
      val asOf = key.startsWith("asof:")
      readTauSidecar(spark, layoutPath, asOf).getOrElse {
        val t = tuneTau(spark, corpus)
        try writeTauSidecar(spark, layoutPath, asOf, t)
        catch {
          case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"tau sidecar not written under $layoutPath, serving the tuned tau: $e")
        }
        t
      }
    }

  /** The tuner's choice rule: first bar-clearing tau, else the last. */
  private[graft] def chooseTau(meas: Seq[(Int, Long)], barE6: Long): Int =
    meas.indexWhere(_._2 >= barE6) match {
      case -1 => meas.length - 1
      case i => i
    }

  /** The tuner's deliverable rides the OUTPUT (ADVICE r15): every row
    * carries `chosen_tau_e2` — the τ the auto policy serves at — and
    * the oracle PINS ITS VALUE (69 on the driver corpus: the tuner
    * re-derives the engine's 11/16 constant-coverage default on
    * near-uniform data, measured 0.943 at τ=0.69 vs 0.858 at τ=0.50 —
    * ~4-point margins on both sides of the 0.9 bar, r15_tunesweep.txt;
    * the sweep is deterministic on fixed data: seeded KMeans fit,
    * mod-spaced sample, integer recall). A recall drift that flips the
    * choice now flips the driver hash — the strongest falsifiable
    * check, replacing the tautological `one_chosen` (which counted
    * distinct indices and could never fail). `chosen_consistent` is
    * per-row against the EMITTED choice: every earlier grid point
    * reads under the bar, the chosen one clears it (or is the last). */
  def probeMassTune(spark: SparkSession, dir: String,
      barE6: Long = 900000L): DataFrame = {
    import spark.implicits._
    val meas = probeMassSweep(spark, dir)
    val chosenIdx = chooseTau(meas, barE6)
    val chosenE2 = meas(chosenIdx)._1.toLong
    // raw sweep to stderr on request (the Bench BENCHRUNS convention):
    // the oracled grid carries invariants, not the measured values
    if (sys.env.contains("SPARK_GRAFT_TUNE_VERBOSE"))
      System.err.println(s"TUNESWEEP dir=$dir " +
        meas.map { case (t, r) => s"tau=$t:recall_e6=$r" }.mkString(" ") +
        s" chosen=tau_e2=$chosenE2")
    val rows = meas.zipWithIndex.map { case ((tE2, r), i) =>
      val notBelowPrev = i == 0 || r >= meas(i - 1)._2
      val chosenConsistent =
        if (i < chosenIdx) r < barE6
        else if (i == chosenIdx) r >= barE6 || i == meas.length - 1
        else true
      (tE2.toLong, chosenE2, r >= 0L && r <= 1000000L, notBelowPrev,
        tE2 != 100 || r == 1000000L, chosenConsistent)
    }
    rows.toDF("tau_e2", "chosen_tau_e2", "recall_bounded", "not_below_prev",
      "full_mass_exact", "chosen_consistent")
      .orderBy(col("tau_e2"))
  }

  /** `probe_mass_auto` (round 16, VERDICT r15 #1): the auto probe
    * policy's RESOLUTION contract as a checked grid — the conf
    * precedence rules and the zero-conf serve identity, each a
    * falsifiable boolean the DuckDB oracle pins true:
    *  - `auto_in_grid`: the resolved τ is one of the tuner's grid
    *    points (the policy never serves an uncalibrated threshold);
    *  - `auto_resolves_tuned`: conf UNSET and conf=`auto` both resolve
    *    to the tuner's memoized choice;
    *  - `conf_count_opts_out`: conf=`count` restores the
    *    constant-coverage policy (resolution yields no τ);
    *  - `conf_value_wins`: a numeric conf beats the tuner;
    *  - `explicit_param_wins`: an explicit probeMass parameter beats
    *    the conf;
    *  - `nprobe_wins`: an explicit probe COUNT beats everything;
    *  - `serve_parity`: the zero-conf serve returns row-for-row (ids
    *    and scores) what the explicit tuned-τ serve returns — auto is
    *    a resolution rule, never a third serving semantics. */
  def probeMassAutoChecked(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val built = IvfIndex.buildCached(spark, dir)
    val key = IvfIndex.probeMassConfKey
    val saved = spark.conf.getOption(key)
    def withConf[A](v: Option[String])(body: => A): A = {
      try {
        v match {
          case Some(s) => spark.conf.set(key, s)
          case None => spark.conf.unset(key)
        }
        body
      } finally saved match {
        case Some(s) => spark.conf.set(key, s)
        case None => spark.conf.unset(key)
      }
    }
    def resolved(conf: Option[String], nProbe: Int = 0,
        explicit: Option[Double] = None): Option[Double] =
      withConf(conf)(
        IvfIndex.probeMassOf(spark, nProbe, explicit, IvfIndex.autoTauOf(built)))
    val tuned = IvfIndex.autoTauOf(built).get
    val queries = Tables.embeddings(spark, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def rows(df: DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("q_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("score_e6"))).toSet
    // plans resolve their policy at BUILD time, so both frames are
    // constructed inside their conf windows; the collects are cheap
    // (5 queries × k rows)
    val autoServe = withConf(None)(
      rows(IvfIndex.search(built, queries)))
    val explicitServe = rows(
      IvfIndex.search(built, queries, probeMass = Some(tuned)))
    Seq(
      ("auto_in_grid", massTuneTaus.contains(tuned)),
      ("auto_resolves_tuned",
        resolved(None).contains(tuned) &&
          resolved(Some("auto")).contains(tuned)),
      ("conf_count_opts_out", resolved(Some("count")).isEmpty),
      ("conf_value_wins", resolved(Some("0.37")).contains(0.37)),
      ("explicit_param_wins",
        resolved(Some("0.37"), explicit = Some(0.5)).contains(0.5)),
      ("nprobe_wins", resolved(Some("0.37"), nProbe = 7).isEmpty),
      ("serve_parity", autoServe == explicitServe))
      .toDF("invariant", "holds").orderBy($"invariant")
  }

  val probeMassAutoSql: String =
    """SELECT t.invariant, true AS holds
      |FROM (VALUES ('auto_in_grid'), ('auto_resolves_tuned'),
      |  ('conf_count_opts_out'), ('conf_value_wins'),
      |  ('explicit_param_wins'), ('nprobe_wins'), ('serve_parity'))
      |  t(invariant)
      |ORDER BY invariant""".stripMargin

  val probeMassTuneSql: String =
    s"""SELECT CAST(tau_e2 AS BIGINT) AS tau_e2,
       |  CAST(69 AS BIGINT) AS chosen_tau_e2, true AS recall_bounded,
       |  true AS not_below_prev, true AS full_mass_exact,
       |  true AS chosen_consistent
       |FROM (VALUES ${massTuneTaus.map(t => s"(${math.round(t * 100)})").mkString(", ")})
       |  t(tau_e2)
       |ORDER BY tau_e2""".stripMargin
}
