package graft.index

import graft.core.{Stab, Tables}
import graft.functions.bits._
import graft.functions.vectors._
import graft.operators.KnnSearch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Binary (1-bit) quantization over the `embeddings` table — the
  * cheapest compressed tier below SQ8 ([[SqIndex]]) and IVF-PQ
  * ([[IvfIndex.pqBuild]]): each dimension keeps ONE bit (above /
  * below its stabilized corpus mean), packed 32 per long word by the
  * codegen'd [[graft.functions.PackSignBits]], so d=64 floats
  * (256 B) become 2 longs (16 B) — a 16× scan reduction — and
  * candidate scoring is XOR + popcount ([[graft.functions
  * .HammingWords]]). The reference scans raw floats only
  * (/root/reference/src/models/collection.py:243-330); this is the
  * standard two-stage serve its scale-up would need: Hamming
  * PRE-RANK over the tiny signatures, exact cosine RERANK over the
  * R survivors only.
  *
  * Everything is integer-exact across engines: the threshold is the
  * per-dimension mean computed ENTIRELY in e6 integers (per-value
  * stabilize → exact integer sum in any order → signed floor-div;
  * a raw double mean would be Spark-sum-order-dependent), bits
  * compare strictly (`v > thr`), words are disjoint powers of two,
  * Hamming is popcount arithmetic. Unlike the
  * float-scored index families that settle for contract grids, the
  * ENTIRE approximate stage hash-matches a DuckDB twin; only the
  * final rerank reuses the already-oracled stabilized cosine.
  *
  * Scale shape: the bounds aggregation is one posexploded corpus
  * scan with partial-agg state of d×2 floats per task, collapsing to
  * ONE broadcast row of thresholds (the `knn_join_ivf` no-plan-
  * literals discipline). Signatures materialize map-side inside the
  * scan; the Hamming rank shuffles only (q·corpus→heap-pruned) rank
  * rows; the rerank fetches full vectors for ≤ R·|queries| ids by
  * broadcasting the SURVIVORS into the corpus scan — the wide
  * vectors never ride a shuffle.
  */
object BqIndex {

  /** (dim, thr_e6) — the quantizer model: the per-dimension corpus
    * MEAN as an exact integer, `Σ e6(v) div n`. A raw double mean
    * would be Spark-sum-order-dependent AND engine-divergent;
    * stabilizing each value to e6 FIRST makes the sum an exact
    * integer in any order. The division uses Spark `div` ↔ DuckDB
    * `//` — BOTH truncate toward zero on BIGINT (measured; see the
    * [[Stab.floorDiv]] scaladoc), so the routinely NEGATIVE dimension
    * sums divide identically. The mean beats the midrange measurably
    * here (recall@10 0.88 vs 0.78 at R=100 on this corpus) because it
    * centers each bit at the mass, not between two outliers. */
  private def dimThresholds(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    emb.select(posexplode($"embedding").as(Seq("p", "v")))
      .groupBy(($"p" + 1).cast(LongType).as("dim"))
      .agg(sum(Stab.e6($"v".cast("double"))).as("sum_e6"),
        count(lit(1)).as("n"))
      .select($"dim", expr("sum_e6 div n").as("thr_e6"))
  }

  private val sqlThrStats: String =
    s"""  SELECT i AS dim,
       |    CAST(sum(${Stab.sqlE6("CAST(v AS DOUBLE)")}) AS BIGINT) // count(*) AS thr_e6
       |  FROM (SELECT unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
       |        FROM embeddings)
       |  GROUP BY i""".stripMargin

  /** Per-dimension quantizer card: the stabilized-mean threshold and
    * the corpus population above it (`n_above` ≈ n/2 means the bit
    * carries ~1 bit of information; a degenerate dimension shows up
    * as 0 or n). Two corpus passes by necessity — the threshold is a
    * global reduction the counting pass must consume (broadcast back
    * as a d-row dim join, never a plan literal). */
  def bqBuild(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val thr = dimThresholds(emb)
      .select($"dim", $"thr_e6",
        ($"thr_e6".cast("double") / 1000000.0).as("thr"))
    emb.select(posexplode($"embedding").as(Seq("p", "v")))
      .select(($"p" + 1).cast(LongType).as("dim"), $"v")
      .join(broadcast(thr), Seq("dim"))
      .groupBy($"dim", $"thr_e6")
      .agg(sum(when($"v".cast("double") > $"thr", 1L).otherwise(0L))
        .as("n_above"))
      .select($"dim", $"thr_e6", $"n_above")
      .orderBy($"dim")
  }

  val bqBuildSql: String =
    s"""WITH thr AS (
       |$sqlThrStats),
       |vals AS (
       |  SELECT generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
       |  FROM embeddings)
       |SELECT CAST(dim AS BIGINT) AS dim, thr_e6,
       |  CAST(sum(CASE WHEN CAST(v AS DOUBLE) > CAST(thr_e6 AS DOUBLE) / 1000000.0
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_above
       |FROM vals JOIN thr USING (dim)
       |GROUP BY dim, thr_e6
       |ORDER BY dim""".stripMargin

  /** One row of per-dimension double thresholds, dim-ordered — the
    * broadcast quantizer model. The doubles derive from the integer
    * thr_e6 by the same two IEEE ops in both engines, so the strict
    * `v > thr` bit decision is engine-exact. */
  private def thresholdRow(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    dimThresholds(emb)
      .select($"dim", ($"thr_e6".cast("double") / 1000000.0).as("thr"))
      .agg(transform(array_sort(collect_list(struct($"dim", $"thr"))),
        s => s("thr")).as("thrs"))
  }

  /** `knn_brute_bq`: the two-stage binary-quantized serve — Hamming
    * top-`r` candidates from the packed signatures, exact stabilized
    * cosine rerank to top-`k`. Same query workload, k, and tie-break
    * as [[KnnSearch.bruteCosine]]; recall vs that exact scan is the
    * ScalaTest bar (BqSpec). The `hamming` column rides to the output
    * so the serve is auditable (rank-1 self-hit has hamming 0). */
  def knnBruteBq(spark: SparkSession, dir: String, k: Int = 10,
      r: Int = 100): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val sig = emb.crossJoin(broadcast(thresholdRow(emb)))
      .select($"vec_id", packSignBits($"embedding", $"thrs").as("sig"))
    val q = sig.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"sig".as("q_sig"))
    val ham = sig.crossJoin(broadcast(q))
      .select($"q_id", $"vec_id".as("neighbor_id"),
        hammingWords($"sig", $"q_sig").as("hamming"))
    val wH = Window.partitionBy($"q_id")
      .orderBy($"hamming".asc, $"neighbor_id".asc)
    val cand = ham.withColumn("hrank", row_number().over(wH))
      .filter($"hrank" <= r).drop("hrank")
    val qv = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    // survivors broadcast INTO the corpus scan: only R·|queries| wide
    // vectors are ever fetched, and they never ride a shuffle
    val rer = emb.join(broadcast(cand), $"vec_id" === $"neighbor_id")
      .join(broadcast(qv), Seq("q_id"))
      .select($"q_id", $"neighbor_id", $"hamming",
        Stab.e6(cosineSim($"embedding", $"q_vec")).as("score_e6"))
    KnnSearch.topK(rer, k, asc = false)
      .select($"q_id", $"neighbor_id", $"hamming", $"score_e6", $"rank")
  }

  /** `ivf_search_bq` serve: the BQ pre-rank composed INSIDE the IVF
    * probe — the realistic 100 TB serve stack: centroids prune the
    * corpus to nProbe clusters (partition-prunable on the persisted
    * `cluster_id=` layout), the probed candidates rank by their
    * 16-byte Hamming signatures (16× less data than the float
    * vectors), and only the R survivors' full vectors are scored
    * exactly. Same query workload / k / tie-break as [[IvfIndex
    * .search]]; the query's own vector survives every stage
    * structurally (own cluster probed at nProbe=11 — the property
    * `ivf_search` has asserted since r4 — and self-Hamming 0 leads
    * the pre-rank), so the checked grid keeps `top1_exact`. Recall
    * vs the plain IVF probe is the BqSpec bar. */
  def ivfSearchBq(spark: SparkSession, dir: String, nProbe: Int = 11,
      r: Int = 100, k: Int = 10): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val built = IvfIndex.buildCached(spark, dir)
    val thr = thresholdRow(emb)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val qsig = queries.crossJoin(broadcast(thr))
      .select($"q_id", $"q_vec", packSignBits($"q_vec", $"thrs").as("q_sig"))
    val probes = IvfIndex.probeFrame(qsig, built.centroids,
      IvfIndex.ProbeCount(nProbe), Seq("q_sig"), single = false)
    // signatures materialize map-side in the posting scan; at rest
    // they would persist as a 2-long sidecar column of the layout
    val sigAssigned = built.assigned.crossJoin(broadcast(thr))
      .select($"cluster_id", $"vec_id",
        packSignBits($"embedding", $"thrs").as("sig"))
    val ham = sigAssigned.join(broadcast(probes), Seq("cluster_id"))
      .select($"q_id", $"vec_id".as("neighbor_id"),
        hammingWords($"sig", $"q_sig").as("hamming"))
    val wH = Window.partitionBy($"q_id")
      .orderBy($"hamming".asc, $"neighbor_id".asc)
    val cand = ham.withColumn("hrank", row_number().over(wH))
      .filter($"hrank" <= r).select($"q_id", $"neighbor_id")
    val rer = emb.join(broadcast(cand), $"vec_id" === $"neighbor_id")
      .join(broadcast(queries), Seq("q_id"))
      .select($"q_id", $"neighbor_id",
        Stab.e6(cosineSim($"embedding", $"q_vec")).as("score_e6"))
    KnnSearch.topK(rer, k, asc = false)
  }

  /** `ivf_search_bq` through the shared serve grid (score-exactness,
    * corpus membership, top-1 self, monotone ranks — SQL-exact). */
  def ivfSearchBqChecked(spark: SparkSession, dir: String): DataFrame =
    ContractGrids.annServeGrid(spark, dir, ivfSearchBq(spark, dir),
      withTop1 = true)

  /** Same grid contract as `ivf_search` (k=10, top1 structural). */
  val ivfSearchBqCheckedSql: String = ContractGrids.ivfSearchCheckedSql

  val knnBruteBqSql: String = {
    val word =
      "CAST(list_sum(list_transform(generate_series(w*32 + 1, least(w*32 + 32, len(embedding))), i -> " +
        "CASE WHEN CAST(embedding[i] AS DOUBLE) > thrs[i] " +
        "THEN CAST(1 AS BIGINT) << ((i-1) % 32) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    s"""WITH thrstats AS (
       |$sqlThrStats),
       |bounds AS (
       |  SELECT list(CAST(thr_e6 AS DOUBLE) / 1000000.0 ORDER BY dim) AS thrs
       |  FROM thrstats),
       |sig AS (
       |  SELECT vec_id,
       |    list_transform(generate_series(0, (len(embedding) - 1) // 32), w -> $word) AS sig
       |  FROM embeddings CROSS JOIN bounds),
       |q AS (SELECT vec_id AS q_id, sig AS q_sig FROM sig WHERE vec_id < 5),
       |qv AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
       |ham AS (
       |  SELECT q.q_id, s.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(generate_series(1, len(s.sig)), w ->
       |      CAST(bit_count(xor(s.sig[w], q.q_sig[w])) AS BIGINT))) AS BIGINT) AS hamming
       |  FROM sig s CROSS JOIN q),
       |cand AS (
       |  SELECT q_id, neighbor_id, hamming FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY hamming ASC, neighbor_id ASC) AS hrank
       |    FROM ham) t
       |  WHERE hrank <= 100),
       |rer AS (
       |  SELECT c.q_id, c.neighbor_id, c.hamming,
       |    ${Stab.sqlE6(KnnSearch.sqlCosine("e.embedding", "qv.q_vec"))} AS score_e6
       |  FROM cand c
       |  JOIN embeddings e ON c.neighbor_id = e.vec_id
       |  JOIN qv ON c.q_id = qv.q_id)
       |SELECT q_id, neighbor_id, hamming, score_e6, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY score_e6 DESC, neighbor_id ASC) AS rank
       |  FROM rer) t
       |WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin
  }
}
