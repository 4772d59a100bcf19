package graft.index

import graft.core.{Stab, Tables}
import graft.functions.vectors._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** NSW (navigable small world) — the reference's graph index
  * (/root/reference/src/models/nsw_index.py) re-expressed for batch:
  *
  *  - BUILD (nsw_index.py:36-52): the k-nearest-neighbor graph is a
  *    single batch job — score candidate pairs, keep top-`k` per
  *    node. Here candidates are exact (the embeddings tables are
  *    small); at 100 TB the identical plan runs over LSH-bucketed
  *    candidates (`LshIndex`) instead of the cross product.
  *  - SEARCH (nsw_index.py:117-165): the reference's per-query greedy
  *    walk becomes a fixed number of BSP supersteps: expand the
  *    frontier through the edges table (one equality join per hop),
  *    score new nodes, keep a beam. All queries traverse
  *    simultaneously — per-hop cost is one join, independent of query
  *    count.
  *
  * Deterministic: entry seeds = the best of a fixed modulus sample
  * (∪ min vec_id), beam ties broken on (score_e6 desc, vec_id asc).
  */
object NswIndex {

  val graphDegree = 5 // matches reference NSWIndex(n_neighbors=5)
  val beamWidth = 16
  /** Entry-seed sample modulus: the beam starts from the best of the
    * `vec_id ≡ 0 (mod entrySeedMod)` sample instead of one fixed
    * node (the reference walks from a single arbitrary entry,
    * nsw_index.py:126-127). n/mod seed rows are scored per search
    * call — size the modulus so that stays broadcast-cheap; at
    * cluster scale the sample is the persisted coarse layer of a
    * two-level graph. Measured at sf0.1: lifts
    * recall@5 at every hop cap and lets the convergence cut fire
    * sooner (see SURVEY §5). */
  val entrySeedMod = 64
  // Hop CAP, not a constant cost: both beam loops stop early — the
  // batch BSP via the zero-new-scores Observation, the single-query
  // walk via the kth-best cut — so the cap only binds while the walk
  // is still improving. Measured (sf0.1 n=2000,
  // degree 5): single-entry recall@5 was 0.36 @ 6 hops → 0.64 @ 8 →
  // 0.80 @ 10; with the multi-seed entry (entrySeedMod sample) the
  // same sweep reads 0.76 @ 4 → 0.88 @ 6 → 0.92 @ 8 and 10 → 1.00 @
  // 12 at comparable warm cost — the seeds remove most of the
  // walk-across-the-graph hops. Graph diameter grows with log n, so
  // a fixed small cap silently starves recall exactly when the
  // corpus grows; 10 keeps headroom beyond the cut.
  val hops = 10

  /** Conf overrides for the graph family's knobs (round 15 — the
    * kFor/resolveNProbe discipline applied to the graph: corpus-derived
    * defaults, conf overrides, floored at the measured test-SF
    * values). */
  val beamConfKey = "spark.graft.nsw.beam"
  val filteredBeamConfKey = "spark.graft.nsw.beam.filtered"
  val pqBeamConfKey = "spark.graft.nsw.beam.pq"
  val hopsConfKey = "spark.graft.nsw.hops"
  val degreeConfKey = "spark.graft.nsw.degree"

  /** The corpus size where the auto knobs leave their measured
    * small-corpus floors — exactly where [[IvfIndex.kAutoFor]] lifts
    * off ITS floor (ceil(sqrt(n)/3) > 16 first at n = 2305), so the
    * whole engine enters the scale regime at one documented point.
    * Below it every oracled corpus keeps the reference-parity
    * constants the bars were measured at. */
  val autoFloorN = 2304L

  /** Beam width for an n-row corpus: the conf if set; the measured 16
    * inside the small-corpus floor; else max(24, ceil(2.4 * ln n)).
    * NSW search-path length grows ~log n, so a fixed beam silently
    * starves recall as the corpus grows — MEASURED on the 10x replica
    * (bench_runs/r15_nswprobe_10x.txt): at the scale-regime degree
    * ([[degreeFor]] = 16 there) beam 16 reads recall@10 = 0.835,
    * 20 = 0.883, 24 = 0.907 (the bar), 32 = 0.946 — so the scale
    * coefficient is fit to the measured bar point (2.4 * ln 20000 =
    * 23.8 -> 24), not extrapolated. */
  def beamFor(spark: SparkSession, n: Long): Int =
    graft.core.Knobs.confInt(spark, beamConfKey).getOrElse(
      if (n <= autoFloorN) beamWidth
      else math.max(24,
        math.ceil(2.4 * math.log(n.toDouble)).toInt))

  /** Filtered-walk beam: the conf if set, else 2 * [[beamFor]] — the
    * measured accepted-pool compensation (filteredBeamWidth = 2x the
    * base width at the floor) held at RATIO as the base beam scales. */
  def filteredBeamFor(spark: SparkSession, n: Long): Int =
    graft.core.Knobs.confInt(spark, filteredBeamConfKey)
      .getOrElse(2 * beamFor(spark, n))

  /** ADC-walk beam: the conf if set, else 2 * [[beamFor]]
    * ([[pqBeamWidth]]'s measured wider-frontier discipline — quantized
    * scores mis-sort near-ties — held at ratio). */
  def pqBeamFor(spark: SparkSession, n: Long): Int =
    graft.core.Knobs.confInt(spark, pqBeamConfKey)
      .getOrElse(2 * beamFor(spark, n))

  /** Hop cap: the conf if set, else max([[hops]], ceil(ln n)) — graph
    * diameter grows ~log n, and both walk loops stop early on
    * convergence, so the cap only binds while the walk still improves.
    * Floors at the measured 10 through the 10x replica
    * (ceil(ln 20000) = 10); n = 1e6 derives 14. */
  def hopsFor(spark: SparkSession, n: Long): Int =
    graft.core.Knobs.confInt(spark, hopsConfKey).getOrElse(
      math.max(hops, math.ceil(math.log(math.max(2L, n).toDouble)).toInt))

  /** Graph degree: the conf if set; the reference-parity 5 inside the
    * small-corpus floor (n_neighbors = 5 IS the oracled nsw_build
    * contract at test SF); else max(16, ceil(2.2 * ln n)). TWICE
    * measured this round, and the coefficient is the 30x refit:
    *
    *  - 10x (n=20000, bench_runs/r15_nswprobe_10x.txt): degree 5 is
    *    unrescuable by ANY beam (recall@10 0.42-0.57 — the graph is
    *    the ceiling); degree 16 reads 0.907 at beam 24, at an LSH
    *    build of 21.3 s vs 16.9 s (bucketing dominates, so degree is
    *    cheap to raise).
    *  - 30x (n=60000, bench_runs/r15_nswprobe_30x.txt): the first
    *    fit (1.6 ln n -> degree 18) reads 0.843 at the auto beam —
    *    UNDER the bar. Both rescue axes were measured: degree 24 at
    *    beam 27 reads 0.931 (build 62 s), beam 48 at degree 18 reads
    *    0.949 (build 43 s). The shipped refit grows BOTH ~ln n
    *    (degree 2.2, beam 2.4 — the published single-layer-NSW
    *    intuition that neither axis alone scales on uniform data),
    *    re-measured at the shipped autos: see the artifact. Uniform
    *    64-d corpora are the navigability worst case — clustered
    *    real corpora need less, and the confs are the per-deployment
    *    override. */
  def degreeFor(spark: SparkSession, n: Long): Int =
    graft.core.Knobs.confInt(spark, degreeConfKey).getOrElse(
      if (n <= autoFloorN) graphDegree
      else math.max(16, math.ceil(2.2 * math.log(n.toDouble)).toInt))
  // LSH candidate generation for the graph build (the 100 TB path):
  // bucket bit depth adapts to n (LshIndex.adaptiveBits, target ~64
  // rows/bucket) so within-bucket pair counts stay linear; multiple
  // independent tables + NN-descent refinement recover neighbors a
  // single bucketing splits apart. Measured (sf0.001 and
  // sf0.01): 10 tables × 2 refine rounds → 0.94 edge agreement with
  // the exact build; 8 tables → 0.91 (clears the ≥0.9 bar with <1%
  // margin — the ~20% build saving is not worth the thin margin);
  // 6 tables → 0.84 (fails). 10 is the measured choice.
  val buildTables = 10
  val buildTargetBucket = 64
  val buildRefineRounds = 2

  /** Directed kNN edges: top-`graphDegree` neighbors per vector.
    * EXACT mode — all-pairs scoring; n² and only for oracle-checkable
    * small data. The scale path is [[buildEdgesLsh]]. */
  def buildEdges(emb: DataFrame, degree: Int = 0): DataFrame = {
    // 0 resolves the degree from the corpus ([[degreeFor]]'s floor
    // keeps every oracled test corpus at the reference's 5)
    val deg = if (degree > 0) degree
      else degreeFor(emb.sparkSession, emb.count())
    val pairs = emb.select(col("vec_id").as("src"), col("embedding").as("src_vec"))
      .crossJoin(emb.select(col("vec_id").as("dst"), col("embedding").as("dst_vec")))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        Stab.e6(cosineSim(col("src_vec"), col("dst_vec"))).as("score_e6"))
    pairs.withColumn("rank", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("score_e6").desc, col("dst").asc)).cast("long"))
      .filter(col("rank") <= deg)
  }

  /** Directed kNN edges from LSH-bucketed candidates, refined by
    * NN-descent — the 100 TB build (reference nsw_index.py:36-52
    * computes the same top-k graph by brute force in-process).
    *
    * Round 0: candidate pairs from `buildTables` independent
    * random-hyperplane bucketings; each table contributes only
    * within-bucket pairs (a bucket-equality self-join — linear shuffle
    * + bucket-local expansion, never n²).
    *
    * Refinement (NN-descent, Dong et al. WWW'11): a vector's true
    * neighbors are usually neighbors of its neighbors, so one round of
    * 2-hop expansion over the UNDIRECTED round-0 graph (forward +
    * reverse edges), rescore, top-k recovers most edges a bucketing
    * split apart. Per-node candidate count is (2·degree)² — linear in
    * n, never all-pairs. */
  def buildEdgesLsh(emb: DataFrame, degree: Int = 0,
      nTables: Int = buildTables, nBits: Int = -1,
      refineRounds: Int = buildRefineRounds): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    // one count serves both adaptive knobs (bucket bits and, round 15,
    // the corpus-derived degree)
    val nBase = base.count()
    val bits =
      if (nBits > 0) nBits
      else LshIndex.adaptiveBits(nBase, buildTargetBucket)
    val deg = if (degree > 0) degree
      else degreeFor(emb.sparkSession, nBase)
    def topEdges(cand: DataFrame): DataFrame = {
      val scored = cand
        .join(base.select(col("vec_id").as("src"), col("embedding").as("src_vec")), Seq("src"))
        .join(base.select(col("vec_id").as("dst"), col("embedding").as("dst_vec")), Seq("dst"))
        .select(col("src"), col("dst"),
          Stab.e6(cosineSim(col("src_vec"), col("dst_vec"))).as("score_e6"))
      scored.withColumn("rank", row_number().over(
          Window.partitionBy(col("src")).orderBy(col("score_e6").desc, col("dst").asc)).cast("long"))
        .filter(col("rank") <= deg)
    }
    val cand = LshIndex.saltedCandidatePairs(base, nTables, bits,
      bucketCap = 128, seedBase = 1042L)
    var edges = topEdges(cand.pairs.distinct())
    if (refineRounds == 0) {
      // no refine checkpoint will cut the lineage — materialize here
      // so the LSH scratch cache can be released before returning
      edges = edges.localCheckpoint(true)
      cand.release()
    }
    (0 until refineRounds).foreach { r =>
      // Materialize the round's edges: the 2-hop self-join references
      // them three times and the LSH plan must not replay per use.
      val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
      // round-0 edges are on disk now — nothing live reads the tagged
      // bucket cache anymore, so release it instead of pinning it for
      // the session (each build broadcasts fresh planes and caches a
      // fresh corpus tagging; unreleased, they accumulate)
      if (r == 0) cand.release()
      val und = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val hop2 = und.as("a").join(und.as("b"),
          col("a.dst") === col("b.src") && col("a.src") =!= col("b.dst"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
      edges = topEdges(und.unionByName(hop2).distinct())
    }
    edges
  }

  /** Session-scoped edge-table memo — same rationale as
    * IvfIndex.buildCached: the reference builds the graph once
    * (nsw_index.py:36-52) and serves every query from it. Keyed by
    * (session, dir) and invalidated by store writes under the dir. */
  private val edgeCache =
    new graft.store.VersionedMemo[DataFrame](_.unpersist())

  def edgesCached(spark: SparkSession, dir: String): DataFrame =
    edgeCache.get(spark, dir, dir)(
      buildEdges(Tables.embeddings(spark, dir)).cache())

  /** The graph layout's own VECTORS table, materialized in-session —
    * the memo analog of [[persist]]'s `vectors` parquet: serving reads
    * the index's tables, never the source corpus scan (the
    * served-by-index attestation the ANN rewrite rests on). Keyed per
    * meta-column set, invalidated by store writes under the dir. */
  private val vecCache =
    new graft.store.VersionedMemo[DataFrame](graft.core.Checkpoints.free)

  def vectorsCached(spark: SparkSession, dir: String,
      metaCols: Seq[String] = Nil): DataFrame =
    vecCache.get(spark, s"nsw_vecs:$dir:${metaCols.mkString(",")}", dir)(
      Tables.embeddings(spark, dir)
        .select((Seq("vec_id", "embedding") ++ metaCols).map(col): _*)
        .localCheckpoint(true))

  /** Memoized edge table over an arbitrary corpus (e.g.
    * document-content embeddings) under an explicit cache key — uses
    * the LSH+NN-descent build (the scale path), not the exact n²
    * build that only exists for the SQL oracle. `versionDir` is the
    * data dir whose writes must invalidate the graph. */
  def edgesCachedFor(key: String, emb: DataFrame, versionDir: String): DataFrame =
    edgeCache.get(emb.sparkSession, key, versionDir)(
      buildEdgesLsh(emb).cache())

  /** `nsw_build` query (oracle: plain SQL — same top-k-per-node). */
  def nswBuild(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    edgesCached(spark, dir).orderBy($"src", $"rank")
  }

  /** `nsw_build_lsh` query: the LSH-candidate graph build (rows-only
    * driver check; the edge-agreement spec vs the exact build is the
    * correctness bar). */
  def nswBuildLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    buildEdgesLsh(Tables.embeddings(spark, dir)).orderBy($"src", $"rank")
  }

  /** `nsw_graph_stats`: per-node degree/reciprocity observability
    * over the exact kNN graph — out-degree (fixed k by construction,
    * asserted by the oracle), IN-degree (the hubbiness distribution
    * that governs beam-search quality: heavy hubs = short paths but
    * congested exploration), and the count of reciprocated edges
    * (mutual-neighbor pairs). The index-health table an operator
    * reads before tuning beam width / hop caps.
    *
    * Scale shape: two degree aggregations plus one equality self-join
    * on the (src, dst) edge table — all linear in |edges| = n·k,
    * shuffled on node id; nothing touches the corpus vectors. */
  def nswGraphStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = edgesCached(spark, dir).select($"src", $"dst").localCheckpoint(true)
    val outD = edges.groupBy($"src".as("vec_id"))
      .agg(count(lit(1)).as("out_degree"))
    val inD = edges.groupBy($"dst".as("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
    val recip = edges.as("e")
      .join(edges.as("r"), $"e.src" === $"r.dst" && $"e.dst" === $"r.src")
      .groupBy($"e.src".as("vec_id")).agg(count(lit(1)).as("n_reciprocal"))
    Tables.embeddings(spark, dir).select($"vec_id")
      .join(outD, Seq("vec_id"), "left")
      .join(inD, Seq("vec_id"), "left")
      .join(recip, Seq("vec_id"), "left")
      .select($"vec_id",
        coalesce($"out_degree", lit(0L)).as("out_degree"),
        coalesce($"in_degree", lit(0L)).as("in_degree"),
        coalesce($"n_reciprocal", lit(0L)).as("n_reciprocal"))
      .orderBy($"vec_id")
  }

  lazy val nswGraphStatsSql: String =
    s"""WITH g AS ($nswBuildSql),
       |edges AS (SELECT src, dst FROM g),
       |outd AS (SELECT src AS vec_id, CAST(count(*) AS BIGINT) AS out_degree
       |         FROM edges GROUP BY src),
       |ind AS (SELECT dst AS vec_id, CAST(count(*) AS BIGINT) AS in_degree
       |        FROM edges GROUP BY dst),
       |recip AS (
       |  SELECT e.src AS vec_id, CAST(count(*) AS BIGINT) AS n_reciprocal
       |  FROM edges e JOIN edges r ON e.src = r.dst AND e.dst = r.src
       |  GROUP BY e.src)
       |SELECT v.vec_id,
       |  coalesce(o.out_degree, 0) AS out_degree,
       |  coalesce(i.in_degree, 0) AS in_degree,
       |  coalesce(rc.n_reciprocal, 0) AS n_reciprocal
       |FROM (SELECT vec_id FROM embeddings) v
       |LEFT JOIN outd o USING (vec_id)
       |LEFT JOIN ind i USING (vec_id)
       |LEFT JOIN recip rc USING (vec_id)
       |ORDER BY v.vec_id""".stripMargin

  val nswBuildSql: String = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    val cos = s"(CASE WHEN ${dot("a.embedding", "a.embedding")} = 0 OR ${dot("b.embedding", "b.embedding")} = 0 THEN 0.0 " +
      s"ELSE ${dot("a.embedding", "b.embedding")} / (sqrt(${dot("a.embedding", "a.embedding")}) * sqrt(${dot("b.embedding", "b.embedding")})) END)"
    s"""WITH scored AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst, ${Stab.sqlE6(cos)} AS score_e6
       |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |)
       |SELECT src, dst, score_e6, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY src
       |    ORDER BY score_e6 DESC, dst ASC) AS rank
       |  FROM scored) t
       |WHERE rank <= $graphDegree
       |ORDER BY src, rank""".stripMargin
  }

  /** Persist the graph index in its scale layout: the edge table plus
    * the vectors it indexes. At 100 TB the graph build is a batch job
    * whose output must be a table — serving then reads the layout
    * instead of paying an inline build per session (the reference
    * builds once in memory and serves every query from it,
    * nsw_index.py:36-52; this is the batch analog, matching
    * [[IvfIndex.persist]]'s contract). At cluster scale both tables
    * would be bucketed by their join key (`node`/`vec_id`) so each
    * beam superstep joins without an Exchange; the seam is this one
    * writer. */
  def persist(emb: DataFrame, edges: DataFrame, path: String,
      metaCols: Seq[String] = Nil): Unit = {
    edges.select(col("src"), col("dst")).write.mode("overwrite")
      .parquet(s"$path/edges")
    // metadata columns ride the stored rows (and therefore any PQ
    // sidecar's code rows, which mirror this schema) — the filtered
    // serving shape, matching IvfIndex.persist's metaCols contract
    emb.select(col("vec_id") +: col("embedding") +: metaCols.map(col): _*)
      .write.mode("overwrite").parquet(s"$path/vectors")
    val spark = emb.sparkSession
    IndexMeta.write(spark, path,
      IndexMeta.Meta(spark.read.parquet(s"$path/vectors").count(), 0L))
  }

  /** Drift envelope for [[maintain]], same contract as
    * [[IvfIndex.rebuildThreshold]]: delta nodes beam-link into the
    * EXISTING graph only (never to each other), so as the delta share
    * grows the graph's navigability degrades — measured at the
    * IncrementalSpec split, a 10% delta still clears the ≥0.9
    * recall@5 bar. Past it the small-world property needs a real
    * rebuild (LSH candidates + NN-descent over everything). */
  val rebuildThreshold = 0.10

  /** Policy-driven maintenance of a persisted graph layout:
    * beam-link the upsert batch ([[addDeltaPersisted]]) while
    * accumulated drift stays inside [[rebuildThreshold]]; past it,
    * rebuild the graph over the CURRENT corpus with the scale build
    * ([[buildEdgesLsh]]) and rewrite the layout. A layout without a
    * sidecar counts as unknown drift and rebuilds. Returns true iff
    * this call rebuilt. */
  def maintain(spark: SparkSession, path: String, newVecs: DataFrame,
      threshold: Double = rebuildThreshold): Boolean = {
    // drift = rows the graph has never linked at their current
    // position ([[driftRows]]): replays and identical re-adds count 0
    val nDelta = driftRows(spark, path, newVecs)
    val meta = IndexMeta.read(spark, path)
      .getOrElse(IndexMeta.Meta(0L, 0L))
    if (meta.drift(nDelta) > threshold) {
      // lineage cut before the overwrite, as in IvfIndex.maintain
      val all = spark.read.parquet(s"$path/vectors")
        .select(col("vec_id"), col("embedding"))
        .join(newVecs.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .unionByName(newVecs.select(col("vec_id"), col("embedding")))
        .localCheckpoint(true)
      persist(all, buildEdgesLsh(all), path)
      true
    } else {
      addDeltaRows(spark, path, newVecs)
      IndexMeta.write(spark, path,
        IndexMeta.Meta(meta.fittedN, meta.deltaSinceFit + nDelta))
      false
    }
  }

  /** Remove-side of [[maintain]]: removals tear edges out of
    * SURVIVORS' adjacency lists too (every edge touching a removed
    * node goes), so they erode navigability at least as fast as adds
    * and count against the same envelope. Returns true iff this call
    * rebuilt. */
  def maintainRemove(spark: SparkSession, path: String, removeIds: DataFrame,
      threshold: Double = rebuildThreshold): Boolean = {
    val vecs = spark.read.parquet(s"$path/vectors")
    val nRemoved = vecs.join(removeIds.select(col("vec_id")), Seq("vec_id"), "left_semi").count()
    val meta = IndexMeta.read(spark, path)
      .getOrElse(IndexMeta.Meta(0L, 0L))
    if (meta.drift(nRemoved) > threshold) {
      val survivors = vecs.select(col("vec_id"), col("embedding"))
        .join(removeIds.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .localCheckpoint(true)
      persist(survivors, buildEdgesLsh(survivors), path)
      true
    } else {
      removeRows(spark, path, removeIds)
      IndexMeta.write(spark, path,
        IndexMeta.Meta(meta.fittedN, meta.deltaSinceFit + nRemoved))
      false
    }
  }

  /** Drift contribution of an upsert batch — same contract as
    * `IvfIndex.driftRows`: delta rows NOT byte-identical to a stored
    * row. Retried batches count 0; an id whose embedding moved counts
    * (its graph links describe the old position). The plan is
    * [[IvfIndex.driftFrame]]'s shared shuffle-free probe — the stored
    * side is semi-join-shrunk against the broadcast delta ids first,
    * never hash-shuffled on (vec_id, embedding). */
  private def driftRows(spark: SparkSession, path: String, newVecs: DataFrame): Long =
    IvfIndex.driftFrame(spark.read.parquet(s"$path/vectors"), newVecs).count()

  /** Incremental add: beam-search each NEW vector for its `degree`
    * nearest nodes in the EXISTING graph and append the forward edges
    * — one batch BSP search over the delta, not a full LSH + NN-descent
    * rebuild. The reference greedy-links one record the same way and
    * then inserts the reverse links (nsw_index.py:54-71); here reverse
    * reachability is already guaranteed because [[beamSearch]] always
    * traverses the edge table UNDIRECTED, so appending the forward
    * edges makes a new node reachable through its own links. Delta
    * nodes link to pre-existing nodes only (the batch analog of the
    * reference inserting records one at a time against the
    * already-built graph). Returns (vectors, edges) with the delta
    * applied; existing edges are untouched. */
  def addDelta(emb: DataFrame, edges: DataFrame, newVecs: DataFrame,
      degree: Int = graphDegree): (DataFrame, DataFrame) = {
    val queries = newVecs
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val linked = beamSearch(emb, edges, queries, k = degree)
      .select(col("q_id").as("src"), col("neighbor_id").as("dst"),
        col("score_e6"), col("rank"))
    (emb.select(col("vec_id"), col("embedding"))
        .unionByName(newVecs.select(col("vec_id"), col("embedding"))),
      edges.select(col("src"), col("dst"), col("score_e6"), col("rank"))
        .unionByName(linked))
  }

  /** Incremental remove: drop the node's vector and every edge
    * touching it in either direction — the batch analog of deleting
    * the node's adjacency set and discarding it from its neighbors'
    * sets (nsw_index.py:73-85). Two anti-joins, linear. */
  def removeDelta(emb: DataFrame, edges: DataFrame,
      removeIds: DataFrame): (DataFrame, DataFrame) = {
    val ids = removeIds.select(col("vec_id"))
    (emb.join(ids, Seq("vec_id"), "left_anti"),
      edges.join(ids.select(col("vec_id").as("src")), Seq("src"), "left_anti")
        .join(ids.select(col("vec_id").as("dst")), Seq("dst"), "left_anti"))
  }

  /** Incremental add against a persisted layout ([[persist]]'s
    * contract): beam-link the delta through the on-disk graph, APPEND
    * the new edges and vectors. Upsert semantics on vec_id, matching
    * the reference's re-add of an existing record (nsw_index.py:54-71
    * overwrites the embedding and relinks): stale rows and edges for
    * re-added ids are dropped first — otherwise a retried batch would
    * duplicate vector rows and beam-link a node to ITSELF (the
    * already-present id is its own exact nearest neighbor). The linked
    * edges are materialized before the append — a path cannot be
    * appended to while the write plan reads it. The [[IndexMeta]]
    * sidecar is bumped by the batch's [[driftRows]], so direct deltas
    * stay visible to the drift envelope. */
  def addDeltaPersisted(spark: SparkSession, path: String, newVecs: DataFrame): Unit = {
    val nDrift = driftRows(spark, path, newVecs)
    addDeltaRows(spark, path, newVecs)
    IndexMeta.bumpDelta(spark, path, nDrift)
  }

  private def addDeltaRows(spark: SparkSession, path: String, newVecs: DataFrame): Unit = {
    removeRows(spark, path, newVecs.select(col("vec_id")))
    val emb = spark.read.parquet(s"$path/vectors")
    val edges = spark.read.parquet(s"$path/edges")
    val queries = newVecs
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // delta links match the stored graph's corpus-derived degree
    // (footer-only count; floors to the reference's 5 at test SF)
    val linked = beamSearch(emb, edges, queries,
      k = degreeFor(spark, emb.count()))
      .select(col("q_id").as("src"), col("neighbor_id").as("dst"))
      .localCheckpoint(true)
    linked.write.mode("append").parquet(s"$path/edges")
    newVecs.select(col("vec_id"), col("embedding"))
      .write.mode("append").parquet(s"$path/vectors")
  }

  /** Incremental remove against a persisted layout: drop the ids'
    * vector rows and every edge touching them ([[removeDelta]]'s
    * contract on disk). A no-op (no write at all) when none of the ids
    * are present. The unpartitioned tables are rewritten through a
    * localCheckpoint (can't overwrite a path the plan reads); at
    * cluster scale the edge table would be bucketed by node
    * ([[persistBucketed]]) and removes would tombstone + compact
    * instead of rewriting — the algebra is identical. The sidecar is
    * bumped by the count of ids actually present (retried batches
    * idempotent, direct removals visible to the drift envelope). */
  def removeDeltaPersisted(spark: SparkSession, path: String, removeIds: DataFrame): Unit = {
    val nRemoved = spark.read.parquet(s"$path/vectors")
      .join(removeIds.select(col("vec_id")), Seq("vec_id"), "left_semi").count()
    removeRows(spark, path, removeIds)
    IndexMeta.bumpDelta(spark, path, nRemoved)
  }

  /** Small-file compaction for the stream-maintained flat layout —
    * the NSW twin of [[IvfIndex.compactPersisted]]: every
    * [[addDeltaPersisted]] appends a handful of files to `vectors`
    * and `edges`, so a long-running
    * [[graft.streaming.IndexStream]] manufactures the classic
    * small-file problem here exactly as it does on the IVF layout.
    * Any table whose parquet file count exceeds `maxFiles` is
    * rewritten coalesced to `targetFiles` through a localCheckpoint
    * (the overwrite-while-reading discipline of [[removeRows]]).
    * Rows never move and the drift sidecar is untouched, so serve
    * results and the maintenance policy are unaffected; the crowded
    * check is one directory listing per table — no job on the
    * batches that compact nothing.
    *
    * Scale note: these flat tables are the STREAM'S working set (the
    * cluster serving layout is the co-bucketed graph,
    * [[persistBucketed]]), so the rewrite is bounded by working-set
    * size; `maxFiles` trades rewrite frequency against scan fan-in.
    * Returns the tables rewritten. */
  def compactPersisted(spark: SparkSession, path: String,
      maxFiles: Int = 16, targetFiles: Int = 4): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("vectors", "edges").filter { sub =>
      val dir = new org.apache.hadoop.fs.Path(s"$path/$sub")
      val n = fs.listStatus(dir).count(_.getPath.getName.endsWith(".parquet"))
      n > maxFiles && {
        val out = spark.read.parquet(s"$path/$sub")
          .repartition(targetFiles).localCheckpoint(true)
        out.write.mode("overwrite").parquet(s"$path/$sub")
        graft.core.Checkpoints.free(out)
        true
      }
    }
  }

  private def removeRows(spark: SparkSession, path: String, removeIds: DataFrame): Unit = {
    val ids = removeIds.select(col("vec_id")).localCheckpoint(true)
    val emb = spark.read.parquet(s"$path/vectors")
    if (emb.join(ids, Seq("vec_id"), "left_semi").isEmpty) return
    val edges = spark.read.parquet(s"$path/edges")
    val (embR, edgesR) = removeDelta(emb, edges, ids)
    val embOut = embR.localCheckpoint(true)
    val edgesOut = edgesR.select(col("src"), col("dst")).localCheckpoint(true)
    embOut.write.mode("overwrite").parquet(s"$path/vectors")
    edgesOut.write.mode("overwrite").parquet(s"$path/edges")
  }

  /** `nsw_add_delta`: the incremental-maintenance contract as an
    * invariant grid (all-true grid = SQL-exact oracle, like
    * `ivf_add_delta`). Base graph = LSH+NN-descent build over
    * `vec_id >= 50` (memoized); delta = the 10% rest, linked via
    * [[addDelta]]; half the delta is then removed. Checks:
    *  - `self_reachable` / `top1_exact` per probe: a beam search over
    *    the delta'd graph finds a delta vector from its own embedding
    *    — the appended links genuinely make new nodes servable;
    *  - `degree_ok`: every delta node carries exactly `graphDegree`
    *    forward edges ranked 1..degree;
    *  - `links_to_base`: delta edges point only at pre-existing nodes;
    *  - `base_unchanged`: the existing edge set is not modified;
    *  - `remove_ok`: no edge touches a removed id afterwards. */
  def nswAddDelta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val base = all.filter($"vec_id" >= 50)
    val delta = all.filter($"vec_id" < 50)
    val baseEdges = edgesCachedFor(s"nsw_delta_base:$dir", base, dir)
    val (emb2, edges2raw) = addDelta(base, baseEdges, delta)
    // the delta links and the probe beam search below both traverse
    // edges2 — materialize so the linking beam search runs once
    val edges2 = edges2raw.localCheckpoint(true)
    val probes = delta.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val perProbe = beamSearch(emb2, edges2, probes, k = 3)
      .groupBy($"q_id").agg(
        (max(when($"neighbor_id" === $"q_id", 1)).isNotNull).as("self_reachable"),
        (max($"score_e6") === 1000000L).as("top1_exact"))
    val deltaEdges = edges2.filter($"src" < 50)
    val degreeOk = deltaEdges.groupBy($"src").agg(
        count(lit(1)).as("n"), min($"rank").as("minr"), max($"rank").as("maxr"))
      .agg(
        count(lit(1)).as("n_delta_srcs"),
        count(when($"n" === graphDegree.toLong && $"minr" === 1L &&
          $"maxr" === graphDegree.toLong, 1)).as("n_wellformed"))
    val linksToBase = deltaEdges.agg(
      count(when($"dst" < 50, 1)).as("n_delta_dst"))
    val baseUnchanged = edges2.filter($"src" >= 50).agg(count(lit(1)).as("n_base_after"))
      .crossJoin(baseEdges.agg(count(lit(1)).as("n_base_before")))
    val (embR, edgesR) = removeDelta(emb2, edges2,
      delta.filter($"vec_id" >= 25).select($"vec_id"))
    val removeOk = edgesR.agg(
        count(when($"src" >= 25 && $"src" < 50, 1)).as("n_src_left"),
        count(when($"dst" >= 25 && $"dst" < 50, 1)).as("n_dst_left"))
      .crossJoin(embR.agg(count(when($"vec_id" >= 25 && $"vec_id" < 50, 1)).as("n_vec_left")))
    val globals = degreeOk.crossJoin(linksToBase).crossJoin(baseUnchanged).crossJoin(removeOk)
      .select(
        ($"n_delta_srcs" === 50L && $"n_wellformed" === 50L).as("degree_ok"),
        ($"n_delta_dst" === 0L).as("links_to_base"),
        ($"n_base_after" === $"n_base_before").as("base_unchanged"),
        ($"n_src_left" === 0L && $"n_dst_left" === 0L && $"n_vec_left" === 0L).as("remove_ok"))
    perProbe.crossJoin(broadcast(globals))
      .select($"q_id", $"self_reachable", $"top1_exact",
        $"degree_ok", $"links_to_base", $"base_unchanged", $"remove_ok")
      .orderBy($"q_id")
  }

  val nswAddDeltaSql: String =
    """SELECT vec_id AS q_id, true AS self_reachable, true AS top1_exact,
      |  true AS degree_ok, true AS links_to_base, true AS base_unchanged,
      |  true AS remove_ok
      |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin

  /** Beam search against a persisted layout — same traversal as
    * [[beamSearch]], reading the index tables from disk. */
  def searchPersisted(spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 5, singleQuery: Boolean = false): DataFrame =
    beamSearch(
      spark.read.parquet(s"$path/vectors"),
      spark.read.parquet(s"$path/edges"),
      queries, k, singleQuery)

  /** Persist the graph in the CO-LOCATED scale layout — the seam
    * [[persist]]'s comment names: vectors bucketed by `vec_id`, and
    * the UNDIRECTED edge expansion (pre-computed once, at write time)
    * bucketed by `node`. Each beam superstep joins the frontier
    * against these tables on their bucket key, so with a frontier too
    * large to broadcast (millions of in-flight queries × beam) only
    * the frontier shuffles — the graph side reads bucket-aligned
    * splits with NO Exchange, every hop, every query batch. Tables
    * register in the session catalog as `<name>_vectors` /
    * `<name>_edges`. */
  def persistBucketed(spark: SparkSession, emb: DataFrame, edges: DataFrame,
      path: String, name: String, nBuckets: Int = 32): Unit = {
    graft.sources.Bucketed.write(
      emb.select(col("vec_id"), col("embedding")),
      s"${name}_vectors", s"$path/vectors", "vec_id", nBuckets)
    graft.sources.Bucketed.write(undirected(edges),
      s"${name}_edges", s"$path/edges", "node", nBuckets)
  }

  /** The UNDIRECTED (node, dst) expansion of a directed (src, dst)
    * edge table — every walk traverses it: the reference inserts
    * bidirectional links (nsw_index.py:36-52), so a node is reachable
    * through its own out-edges reversed even when no other node ranks
    * it in ITS top-k — with directed-only expansion a newly inserted
    * vector can be unreachable from the entry point. */
  private[index] def undirected(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"), col("dst"))
      .unionByName(edges.select(col("dst").as("node"), col("src").as("dst")))

  /** The multi-seed entry (the flattened two-layer idea) over a
    * node-keyed frame: a deterministic coarse SAMPLE of nodes
    * (node ≡ 0 mod `mod`) is scored per query and the best seeds start
    * the beam — descending from a near neighborhood instead of walking
    * across the graph from one fixed node. The min-id entry is unioned
    * in so corpora smaller than the modulus keep an entry; at cluster
    * scale the sample IS the persisted coarse layer and the modulus is
    * sized to keep it broadcastable (n/mod rows ride one broadcast per
    * search call). */
  private def entrySeeds(nodes: DataFrame, mod: Int): DataFrame =
    nodes.select(col("node"))
      .filter(pmod(col("node"), lit(mod.toLong)) === 0L)
      .unionByName(nodes.agg(min(col("node")).as("node")))
      .distinct()

  /** The raw walks' widths with the 0 sentinels (round 15): an
    * explicit beam or hop cap wins, a 0 resolves from the corpus size
    * `n` — evaluated only then, so explicit widths skip the count. */
  private def walkWidths(spark: SparkSession, beamW: Int, maxHops: Int,
      filtered: Boolean, n: => Long): (Int, Int) = {
    val nCorpus = if (beamW > 0 && maxHops > 0) -1L else n
    (if (beamW > 0) beamW
      else if (filtered) filteredBeamFor(spark, nCorpus)
      else beamFor(spark, nCorpus),
      if (maxHops > 0) maxHops else hopsFor(spark, nCorpus))
  }

  /** Beam search served from the bucketed layout written by
    * [[persistBucketed]]: the edge table is already undirected, so the
    * per-invocation union + cache are skipped — supersteps scan the
    * bucketed files directly. */
  def searchPersistedBucketed(spark: SparkSession, name: String,
      queries: DataFrame, k: Int = 5, singleQuery: Boolean = false): DataFrame =
    beamSearch(
      spark.table(s"${name}_vectors"),
      spark.table(s"${name}_edges"),
      queries, k, singleQuery, preExpandedEdges = true)

  /** Batch beam search over a prebuilt edge table for a queries
    * frame (q_id, q_vec). Returns top-`k` of everything visited.
    *
    * `singleQuery = true` switches every per-query window (beam cut,
    * final rank) to orderBy+limit: with one query the windows'
    * `partitionBy(q_id)` constant-folds to an empty partition spec and
    * Spark moves the whole frontier into one task per hop.
    *
    * `preExpandedEdges = true` means `edges` is ALREADY the undirected
    * (node, dst) expansion served from a materialized layout
    * ([[persistBucketed]]): the union and the per-invocation caches
    * are skipped — supersteps scan the bucketed files in place, and
    * the frontier ⋈ edges join needs no Exchange on the edge side.
    *
    * Filtered mode (`acceptPred`): [[bspWalk]]'s pre-filter semantics;
    * node metadata (`metaCols`) and the query frame's own columns ride
    * the scored rows so the predicate evaluates per (query, node).
    * Callers compensate the thinner accepted pool with a wider beam
    * ([[filteredBeamFor]]), the nProbe=13 discipline. */
  def beamSearch(emb: DataFrame, edges: DataFrame, queries: DataFrame,
      k: Int = 5, singleQuery: Boolean = false,
      preExpandedEdges: Boolean = false, maxHops: Int = 0,
      seedSampleMod: Int = entrySeedMod,
      beamW: Int = 0,
      metaCols: Seq[String] = Nil,
      acceptPred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    if (singleQuery)
      return beamSearchSingle(emb, edges, queries, k, preExpandedEdges, maxHops,
        seedSampleMod, metaCols, acceptPred, beamW)
    // The graph and vectors are the persisted index: materialize once.
    // Without this every superstep re-derives the whole kNN build.
    // (In the bucketed-layout mode the tables ARE materialized files —
    // caching them here would just trade bucket-aligned scans for an
    // InMemoryRelation that loses the co-location, so the bucketed
    // path scans the files in place.)
    val embSel0 = emb.select(
      (Seq(col("vec_id").as("node"), col("embedding")) ++ metaCols.map(col)): _*)
    val embSel = if (preExpandedEdges) embSel0 else embSel0.cache()
    // the count is on the frame the walk scans anyway — footer-only for
    // bucketed layouts, a cache warm-up (work the first superstep
    // needed regardless) for in-memory walks
    val (bw, hopCap) = walkWidths(emb.sparkSession, beamW, maxHops,
      acceptPred.isDefined, embSel.count())
    val edgeSel =
      if (preExpandedEdges) edges.select(col("node"), col("dst"))
      else undirected(edges).cache()
    val top = bspWalk(embSel, edgeSel, queries, metaCols, cosineScorer,
      bw, hopCap, seedSampleMod, acceptPred, k)
    // the final ranking reads only the checkpointed visited parts —
    // the loop-scratch caches must not pile up across beam invocations
    if (!preExpandedEdges) { embSel.unpersist(); edgeSel.unpersist() }
    top.select(col("q_id"), col("node").as("neighbor_id"), col("score_e6"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** What a [[bspWalk]] ranks by: the score column `name` it writes,
    * the expression over a joined (query, node) row, and the beam
    * order `best` (node asc breaks ties in every walk). */
  private case class WalkScorer(name: String, expr: org.apache.spark.sql.Column,
      best: org.apache.spark.sql.Column)

  /** Raw cosine over the full-width vectors: higher is better. */
  private val cosineScorer = WalkScorer("score_e6",
    Stab.e6(cosineSim(col("embedding"), col("q_vec"))), col("score_e6").desc)

  /** PQ ADC against the per-query broadcast LUT: ADC is a distance,
    * so the beam keeps the SMALLEST. */
  private def adcScorer(
      lutBc: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]]) =
    WalkScorer("adc", graft.functions.pq.pqAdc(col("code"), col("q_idx"), lutBc),
      col("adc").asc)

  /** The BSP beam walk (the SEARCH of this object's header) — the
    * graph family's one batch search loop, whatever it scores: per
    * superstep, expand the frontier through `edgeSel` (the
    * [[undirected]] expansion), score the nodes not yet visited, keep
    * a beam of `beamW` per query.
    *
    * `nodes` is (node, <scorer payload>, carryCols...); `queries` is
    * (q_id, <scorer query column>, extras...). Every query column and
    * the carry columns ride every scored row, so an accept predicate
    * may reference both. The entry is [[entrySeeds]]; a superstep
    * that scores NOTHING new stops the walk (every later one would be
    * a no-op too), so `maxHops` is a cap, not a constant cost.
    *
    * `acceptPred` constrains which visited nodes may be SERVED, never
    * which may be WALKED — filtering the traversal itself would
    * disconnect the graph exactly when the filter is tight (the
    * filtered-ANN trap ivf's searchFiltered documents from the probe
    * side). The cut applies to the visited set before the limit:
    * pre-filter semantics, every returned row satisfies it.
    *
    * Returns the accepted visited rows ranked by the scorer's order
    * (node asc ties) with `rank` ≤ `limit`: (q_id, node, query
    * columns, carryCols, score, rank). The hops run eagerly; the
    * result reads only their checkpoints. */
  private def bspWalk(nodes: DataFrame, edgeSel: DataFrame, queries: DataFrame,
      carryCols: Seq[String], scorer: WalkScorer, beamW: Int, maxHops: Int,
      seedMod: Int, acceptPred: Option[org.apache.spark.sql.Column],
      limit: Int): DataFrame = {
    val qCols = queries.columns.toSeq.filterNot(_ == "q_id").map(col)
    val byScore = Window.partitionBy(col("q_id"))
      .orderBy(scorer.best, col("node").asc)
    val score = (pairs: DataFrame) =>
      pairs.join(nodes, Seq("node"))
        .select(Seq(col("q_id"), col("node")) ++ qCols ++ carryCols.map(col) :+
          scorer.expr.as(scorer.name): _*)
    def beam(scored: DataFrame): DataFrame =
      scored.withColumn("brank", row_number().over(byScore))
        .filter(col("brank") <= beamW)
        .drop("brank")
    // localCheckpoint: each superstep's result is tiny (queries × beam)
    // — materializing it stops the plan DAG doubling per hop. Visited
    // is kept as the lazy UNION of the per-hop checkpointed parts
    // (each scan reads its materialized blocks), not re-checkpointed
    // per superstep: the old shape paid a second job per hop that
    // rewrote the whole ever-growing visited set — at the raised hop
    // cap that was ~half the loop's wall clock for zero information.
    var visitedParts = List(
      score(queries.crossJoin(broadcast(entrySeeds(nodes, seedMod)))).localCheckpoint(true))
    def visited: DataFrame = visitedParts.reduceLeft(_ unionByName _)
    var frontier = beam(visitedParts.head)
    var hop = 1
    var exhausted = false
    while (hop <= maxHops && !exhausted) {
      val expanded = frontier
        .join(edgeSel, Seq("node"))
        .select(col("q_id") +: col("dst").as("node") +: qCols: _*)
        .distinct()
        .join(visited.select(col("q_id"), col("node")), Seq("q_id", "node"), "left_anti")
      // the exhaustion probe rides the checkpoint action (one job, as
      // everywhere Observation is used)
      val obs = org.apache.spark.sql.Observation()
      val scored = score(expanded)
        .observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
      if (obs.get("n").asInstanceOf[Long] == 0L) exhausted = true
      else {
        visitedParts ::= scored
        frontier = beam(scored)
      }
      hop += 1
    }
    acceptPred.map(visited.filter).getOrElse(visited)
      .withColumn("rank", row_number().over(byScore).cast("long"))
      .filter(col("rank") <= limit)
  }

  /** Driver-resident greedy beam for ONE query — the interactive
    * serve path (VERDICT r4 #7). The BSP loop above pays ~3 scheduled
    * jobs per superstep to keep an unbounded query batch distributed;
    * a single query's whole beam state is ≤ beamWidth ids, so the walk
    * runs on the driver exactly like the reference's greedy search
    * (nsw_index.py:117-165): per hop ONE job joins the broadcast
    * frontier through the edge table and scores the expansion against
    * the query-vector literal; dedup, beam cut, and termination happen
    * in memory ([[walkSingle]]). Scoring uses the identical stabilized
    * expression and (score desc, node asc) ties, so a run that does
    * reach hop h holds the same beam the BSP loop would. In the
    * bucketed layout the frontier side broadcasts: a superstep is
    * Exchange-FREE. */
  private def beamSearchSingle(emb: DataFrame, edges: DataFrame,
      queries: DataFrame, k: Int, preExpandedEdges: Boolean,
      maxHops0: Int = 0, seedSampleMod: Int = entrySeedMod,
      metaCols: Seq[String] = Nil,
      acceptPred: Option[org.apache.spark.sql.Column] = None,
      beamW0: Int = 0): DataFrame = {
    val spark = emb.sparkSession
    val q = queries.select(col("q_id"), col("q_vec")).collect()
    require(q.length == 1, s"single-query beam got ${q.length} query rows")
    val qId = q(0).getLong(0)
    val qLit = typedlit(q(0).getSeq[Float](1).toArray)
    val embSel = emb.select(
      (Seq(col("vec_id").as("node"), col("embedding")) ++ metaCols.map(col)): _*)
    val (beamW, maxHops) = walkWidths(spark, beamW0, maxHops0,
      acceptPred.isDefined, embSel.count())
    // Filtered mode: the predicate may reference node metadata only (a
    // single query's own columns fold into it as literals caller-side)
    val okCol = acceptPred.getOrElse(lit(true)).as("ok")
    val edgeSel =
      if (preExpandedEdges) edges.select(col("node"), col("dst"))
      else undirected(edges)
    // the entry sample scores DISTRIBUTED; only the top beam is collected
    val seedsDf = entrySeeds(embSel, seedSampleMod)
    def scored(nodes: DataFrame, cut: DataFrame => DataFrame = identity) =
      cut(embSel.join(broadcast(nodes), Seq("node")).select(col("node"),
          Stab.e6(cosineSim(col("embedding"), qLit)).as("score_e6"), okCol))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val top = walkSingle(k, beamW, maxHops,
      seeds = limit =>
        scored(seedsDf, _.orderBy(col("score_e6").desc, col("node").asc).limit(limit)),
      // frontier ∪ its one-hop expansion scored in a single job; the
      // frontier rows score too, which is how hop 1 scores the entry
      expand = frontier => {
        val fDf = spark.createDataFrame(frontier.toSeq.map(Tuple1(_))).toDF("node")
        scored(fDf.unionByName(
          edgeSel.join(broadcast(fDf), Seq("node")).select(col("dst").as("node"))).distinct())
      })
    spark.createDataFrame(
        top.zipWithIndex.toSeq.map { case ((n, s), i) => (qId, n, s, (i + 1).toLong) })
      .toDF("q_id", "neighbor_id", "score_e6", "rank")
      .orderBy(col("q_id"), col("rank"))
  }

  /** The driver loop of a single-query walk, whatever executes it:
    * [[beamSearchSingle]]'s one Spark job per hop, or the arrays of a
    * [[ServeSnapshot]]. The executor returns `(node, score_e6, ok)`
    * rows: `seeds(limit)` the best `limit` of the entry sample on
    * (score desc, node asc), `expand(frontier)` the frontier ∪ its
    * one-hop neighbors in any order. `ok` is a filtered walk's accept
    * flag — the predicate constrains what is SERVED, never what is
    * WALKED — so the accepted set is kept apart for the k-th-best bar
    * and the final cut. The walk stops once a hop scores nothing that
    * beats the k-th best accepted node held before it (best-first
    * stop), so `maxHops` is a cap. Returns the top-k accepted
    * `(node, score_e6)`, best first. */
  private[graft] def walkSingle(k: Int, beamW: Int, maxHops: Int,
      seeds: Int => Array[(Long, Long, Boolean)],
      expand: Array[Long] => Array[(Long, Long, Boolean)]): Array[(Long, Long)] = {
    val visited = scala.collection.mutable.LongMap.empty[Long] // node -> score_e6
    val accepted = scala.collection.mutable.LongMap.empty[Long] // pred-passing subset
    def land(rows: Array[(Long, Long, Boolean)]): Unit = rows.foreach { case (n, s, ok) =>
      visited.update(n, s); if (ok) accepted.update(n, s)
    }
    def beam(rows: Array[(Long, Long, Boolean)]): Array[Long] =
      rows.sortBy { case (n, s, _) => (-s, n) }.take(beamW).map(_._1)
    val seedScored = seeds(math.max(k, beamW))
    land(seedScored)
    var frontier = beam(seedScored)
    var (hop, converged) = (0, false)
    while (hop < maxHops && !converged && frontier.nonEmpty) {
      val fresh = expand(frontier).filter { case (n, _, _) => !visited.contains(n) }
      // the bar is the k-th best ACCEPTED node BEFORE this hop's
      // nodes land: "this superstep added nothing that improves the
      // answer" → stop. (Unfiltered mode: accepted == visited.)
      val bar = {
        val top = accepted.values.toArray.sorted(Ordering.Long.reverse)
        if (top.length < k) Long.MinValue else top(k - 1)
      }
      land(fresh)
      if (fresh.isEmpty || !fresh.exists(_._2 > bar)) converged = true
      else frontier = beam(fresh)
      hop += 1
    }
    accepted.toArray.sortBy { case (n, s) => (-s, n) }.take(k)
  }

  /** `nsw_search` query: beam search for the fixed query set.
    * Rows-only check (+ recall spec vs brute force). */
  def nswSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val edges = edgesCached(spark, dir)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    beamSearch(emb, edges, queries)
  }

  /** Beam width for FILTERED serves — the nProbe=13 discipline on the
    * graph side: a label filter keeping ~1/10 of the corpus thins the
    * accepted pool to ~visited/10, so the walk must visit more to
    * serve k accepted rows. Doubling the beam (16 → 32) widens every
    * superstep's surviving frontier — measured at sf0.001/sf0.01
    * (FilteredSearchSpec): filtered recall@10 vs the brute filtered
    * oracle ≥ 0.9 and every query serves exactly k accepted rows. */
  val filteredBeamWidth = 32

  /** Filtered beam search: metadata predicate with PRE-filter
    * semantics threaded through the walk ([[beamSearch]]'s
    * `acceptPred` — navigation unfiltered, accepted-set top-k), the
    * graph twin of `IvfIndex.searchFiltered`. The graph itself is
    * label-independent, so the SAME cached edge table serves filtered
    * and unfiltered queries — only the vector frame carries the meta
    * columns. Reference contract: nsw_index.py:117-165 (the walk) +
    * the ivf filtered precedent. */
  def searchFiltered(emb: DataFrame, edges: DataFrame, queries: DataFrame,
      pred: org.apache.spark.sql.Column, metaCols: Seq[String],
      k: Int = 10, beamW: Int = 0): DataFrame =
    beamSearch(emb, edges, queries, k = k, beamW = beamW,
      metaCols = metaCols, acceptPred = Some(pred))

  /** `nsw_search_filtered`: label-constrained beam search (each query
    * returns only neighbors sharing its label) pushed through the
    * same invariant grid as `ivf_search_filtered`:
    *  - `k_results`: exactly k rows (pre-filter semantics — a
    *    post-filtered top-k would come up short);
    *  - `all_match_label`: every neighbor satisfies the predicate;
    *  - `self_found` / `top1_exact`: the query's own vector (which
    *    trivially matches its own label) leads at score 1.0;
    *  - `monotone`: scores non-increasing in rank. */
  def nswSearchFiltered(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val edges = edgesCached(spark, dir)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"), $"label".as("q_label"))
    val hits = searchFiltered(emb, edges, queries,
        col("label") === col("q_label"), metaCols = Seq("label"))
      .localCheckpoint(true)
    ContractGrids.filteredServeGrid(spark, dir, hits)
  }

  val nswSearchFilteredSql: String =
    """SELECT vec_id AS q_id, true AS k_results, true AS all_match_label,
      |  true AS self_found, true AS top1_exact, true AS monotone
      |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin

  // ---- compressed serving tier: the ADC-scored beam walk ---------------

  /** Attach a PQ sidecar to a persisted graph layout: codebooks
    * trained over `path/vectors`, one m-byte code per node under
    * `path/<sub>/codes`. Reuses the IVF tier's writer with an empty
    * partition spec (the flat graph layout has no partition scheme);
    * geometry and determinism contracts are [[PqCodebooks]]'.
    * `rotate = true` fits the OPQ-style basis and encodes in the
    * rotated space ([[IvfIndex.persistPq]]'s discipline) — the walk's
    * per-query LUTs rotate automatically ([[IvfIndex.pqLuts]] reads the
    * persisted basis), so rotation's effect on the QUANTIZED
    * NAVIGATION is measurable head-to-head (the `nsw_pq_opq` row of
    * `index_recall_eval`, the IVF tier's `pq_opq` precedent). */
  def persistPq(spark: SparkSession, path: String,
      m: Int = PqCodebooks.defaultM, codes: Int = PqCodebooks.defaultCodes,
      seed: Long = 42L, rotate: Boolean = false, sub: String = "pq"): Unit =
    IvfIndex.persistPq(spark, path, m, codes, seed, rotate = rotate,
      sub = sub, partitionCols = Seq.empty)

  /** Exact-rerank quota for the ADC walk: the visited set's
    * quantized ordering is trusted only to shortlist; the served
    * ranking is exact cosine over this many candidates per query
    * (the ivf_search_pq two-tier pattern and ITS 200-candidate
    * quota). Measured at sf0.001 (NswPqSpec, 25 probes): rerank 50
    * at beam 16 reads 0.76 recall@5 — the quantized ordering ranks
    * true neighbors well below rank 50 — while 200 at beam 32 reads
    * 0.99 against the 0.85 bar; the raw-vector fetch stays
    * |q|×200 keys, two orders below a full-width walk. */
  val pqRerank = 200

  /** Beam width for the ADC walk — the filteredBeamWidth discipline
    * applied to quantization: navigating on approximate distances
    * mis-sorts near-ties, so the walk must keep a wider frontier to
    * hold the true neighborhood in view (measured head-to-head with
    * the full-width walk's 16 in NswPqSpec). */
  val pqBeamWidth = 32

  /** ADC-scored beam search over a persisted graph layout with a PQ
    * sidecar — the graph family's compressed serving tier. Every
    * OTHER graph serve walks on full-width float vectors, which at
    * corpus scale makes the beam walk's per-hop vector fetches the
    * family's memory/IO ceiling; here each superstep joins the
    * frontier against the m-byte CODES table and scores candidates
    * with [[graft.functions.PqAdc]] against the per-query broadcast
    * LUT (m byte-indexed adds a row, ~32× less scan width at m=8 over
    * 64-d floats), and only the final accepted shortlist fetches raw
    * vectors for the exact rerank. Same walk as [[beamSearch]]
    * ([[bspWalk]] with the ADC scorer); beam and hop cap resolve
    * through [[pqBeamFor]] / [[hopsFor]]. */
  def searchPersistedPq(spark: SparkSession, path: String,
      queries: DataFrame, k: Int = 5, rerank: Int = pqRerank,
      sub: String = "pq"): DataFrame =
    searchPersistedPqImpl(spark, path, queries, None, k, rerank, sub)

  /** PRE-filter ADC beam walk over a persisted graph layout with a
    * meta-bearing PQ sidecar — the graph twin of
    * [[IvfIndex.searchPersistedPqFiltered]], completing the filtered
    * column of the compressed matrix: the predicate evaluates on the
    * CODE rows' mirrored metadata (plus any non-vector query columns)
    * with [[searchFiltered]]'s semantics — navigation unfiltered,
    * accepted-set shortlist, so the whole rerank quota goes to legal
    * candidates and all k served rows satisfy the predicate. No
    * corpus-sized metadata join rides the serve
    * ([[IvfIndex.persistPq]] mirrors the stored rows' metadata into
    * the codes). */
  def searchPersistedPqFiltered(spark: SparkSession, path: String,
      queries: DataFrame, pred: org.apache.spark.sql.Column, k: Int = 10,
      rerank: Int = pqRerank, sub: String = "pq"): DataFrame =
    searchPersistedPqImpl(spark, path, queries, Some(pred), k, rerank, sub)

  private def searchPersistedPqImpl(spark: SparkSession, path: String,
      queries: DataFrame, pred: Option[org.apache.spark.sql.Column], k: Int,
      rerank: Int, sub: String): DataFrame = {
    val codesRaw = spark.read.parquet(s"$path/$sub/codes")
    // a filtered walk's predicate reads the code rows' mirrored metadata
    val metaCols =
      if (pred.isEmpty) Nil
      else codesRaw.columns.toSeq.filterNot(Set("vec_id", "code"))
    val codes = codesRaw
      .select(col("vec_id").as("node") +: col("code") +: metaCols.map(col): _*)
      .cache()
    // the codes table mirrors the corpus 1:1, so its footer count is
    // the layout's n (the discipline of IvfIndex.cellCount)
    val n = codes.count()
    val edgeSel = undirected(spark.read.parquet(s"$path/edges")).cache()
    val out = adcSearch(spark, path, sub, queries, codes, edgeSel, pred,
      pqBeamFor(spark, n), hopsFor(spark, n), rerank, k, Seq("vec_id"))
    codes.unpersist(); edgeSel.unpersist()
    out
  }

  /** The compressed serve's tail, shared by the persisted and the
    * versioned ([[NswSnapshotLayout]]) layouts: the per-query LUT
    * state ([[IvfIndex.pqLuts]]), the query frame, the ADC
    * [[bspWalk]] over `codes` (node, code, carry...) and `edgeSel`, and
    * the exact rerank ([[IvfIndex.rerankExact]]) of the adc-best
    * `rerank` accepted rows per query, fetched by `rerankKeys` — the
    * candidate's node as `vec_id`, plus any carry column that
    * addresses its raw row. A filtered walk's non-vector query columns
    * ride every hop for the predicate. The walk runs eagerly and the
    * result reads only its hop checkpoints, so the caller may free
    * `codes` and `edgeSel` on return. */
  private[index] def adcSearch(spark: SparkSession, path: String, sub: String,
      queries: DataFrame, codes: DataFrame, edgeSel: DataFrame,
      pred: Option[org.apache.spark.sql.Column], beamW: Int, maxHops: Int,
      rerank: Int, k: Int, rerankKeys: Seq[String]): DataFrame = {
    val (lutBc, qIdx) = IvfIndex.pqLuts(spark, path, queries, sub)
    val qExtra = queries.columns.toSeq.filterNot(Set("q_id", "q_vec"))
    val qFrame =
      if (pred.isEmpty || qExtra.isEmpty) qIdx
      else qIdx.join(broadcast(queries.drop("q_vec")), Seq("q_id"))
    val cand = bspWalk(codes, edgeSel, qFrame,
      codes.columns.toSeq.filterNot(Set("node", "code")), adcScorer(lutBc),
      beamW, maxHops, entrySeedMod, pred, rerank)
      .withColumnRenamed("node", "vec_id")
      .select(("q_id" +: rerankKeys).map(col): _*)
    IvfIndex.rerankExact(spark, path, cand, rerankKeys, queries, k)
  }

  /** Session memo of the persisted graph layout + PQ sidecar for a
    * dir's embeddings table — the one-time build `nsw_search_pq` /
    * `nsw_search_pq_filtered` and the recall table serve from (the
    * pqLayoutFor discipline). Carries `label` in the stored rows AND
    * the code sidecar (persistPq mirrors the vectors schema), so one
    * build serves both the unfiltered and filtered compressed
    * entries. Eviction deletes the abandoned temp layout. */
  private val pqLayoutCache = new graft.store.VersionedMemo[String](p =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))

  private[graft] def pqLayoutFor(spark: SparkSession, dir: String): String =
    pqLayoutCache.get(spark, s"nsw_pq_layout:$dir", dir) {
      val base = java.nio.file.Files
        .createTempDirectory("graft-nsw-pq").toString
      val emb = Tables.embeddings(spark, dir)
      persist(emb, edgesCached(spark, dir), base, metaCols = Seq("label"))
      persistPq(spark, base)
      // the OPQ-rotated sidecar rides the same base layout under its
      // own subdir (the IVF pqLayoutFor discipline) — one extra
      // bounded fit + encode pass, serving the nsw_pq vs nsw_pq_opq
      // head-to-head row
      persistPq(spark, base, rotate = true, sub = "pqr")
      base
    }

  /** `nsw_search_pq`: the ADC-walk + exact-rerank serve as the same
    * invariant grid as `ivf_search_pq` — per fixed query 0..4:
    * `self_found`/`top1_exact` (the query's own vector survives the
    * quantized walk and reranks to 1.0 — the compressed tier is
    * genuinely servable), `k_hits` (a full top-5), `ids_in_corpus`,
    * `scores_bounded`, `monotone`. The all-true grid is SQL-exact;
    * recall quality is NswPqSpec's measured bar and the `nsw_pq` row
    * of `index_recall_eval`. */
  def nswSearchPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = pqLayoutFor(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val hits = searchPersistedPq(spark, base, queries)
      .localCheckpoint(true)
    val inCorpus = emb
      .join(broadcast(hits.select($"neighbor_id")),
        $"vec_id" === $"neighbor_id", "left_semi")
      .select($"vec_id".as("neighbor_id"), lit(true).as("in_corpus"))
    val next = hits.select($"q_id", ($"rank" - 1).as("rank"),
      $"score_e6".as("next_score"))
    hits
      .join(broadcast(inCorpus), Seq("neighbor_id"), "left")
      .join(broadcast(next), Seq("q_id", "rank"), "left")
      .groupBy($"q_id").agg(
        (max(when($"neighbor_id" === $"q_id", 1)).isNotNull).as("self_found"),
        (max(when($"rank" === 1 && $"neighbor_id" === $"q_id" &&
          $"score_e6" === 1000000L, 1)).isNotNull).as("top1_exact"),
        (count(lit(1)) === 5L).as("k_hits"),
        (count(when($"in_corpus", 1)) === count(lit(1))).as("ids_in_corpus"),
        (min($"score_e6".between(-1000000L, 1000000L).cast("int")) === 1).as("scores_bounded"),
        (min(coalesce($"next_score" <= $"score_e6", lit(true)).cast("int")) === 1).as("monotone"))
      .orderBy($"q_id")
  }

  val nswSearchPqSql: String =
    """SELECT vec_id AS q_id, true AS self_found, true AS top1_exact,
      |  true AS k_hits, true AS ids_in_corpus, true AS scores_bounded,
      |  true AS monotone
      |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin

  /** `nsw_search_pq_filtered`: label-constrained ADC walk over the
    * compressed graph tier — [[searchPersistedPqFiltered]] on the
    * shared memoized layout (whose code sidecar carries `label`),
    * pushed through the same filtered invariant grid as every
    * filtered serve: `k_results` (pre-filter semantics on the code
    * rows — a post-filtered quantized top-k comes up short),
    * `all_match_label` (re-derived from the embeddings TABLE, so a
    * stale sidecar label flips the hash), `self_found`/`top1_exact`
    * (the query's own vector survives filter + quantized walk and
    * reranks to 1.0), `monotone`. Recall quality is NswPqSpec's
    * measured bar. */
  def nswSearchPqFiltered(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = pqLayoutFor(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"),
        $"label".as("q_label"))
    val hits = searchPersistedPqFiltered(spark, base, queries,
      col("label") === col("q_label")).localCheckpoint(true)
    ContractGrids.filteredServeGrid(spark, dir, hits)
  }

  val nswSearchPqFilteredSql: String =
    """SELECT vec_id AS q_id, true AS k_results, true AS all_match_label,
      |  true AS self_found, true AS top1_exact, true AS monotone
      |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin
}
