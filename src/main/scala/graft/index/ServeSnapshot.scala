package graft.index

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.Stab
import graft.embed.Embedder
import graft.functions.vectors.cosine
import graft.operators.Collections
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** A [[Collections.persistChunks]] layout held in the driver's memory,
  * so the interactive /query over it starts no Spark job — the
  * reference answers it in-process too (brute scan
  * collection.py:243-330, IVF probe ivf_index.py:139-185, greedy NSW
  * walk nsw_index.py:117-165). Loaded on the first /query of a layout
  * and memoized on `(base, name)` under `base`'s [[graft.store.IndexVersions]]
  * version, so any write that bumps the layout reloads it; each index
  * reads the files its Spark path reads:
  *
  *  - brute: the `chunk_embeddings` corpus;
  *  - IVF: the `ivf/` centroids and posting lists, cell masses counted
  *    from those lists;
  *  - NSW: the `<name>_nsw_*` vectors and pre-expanded `(node, dst)` edges;
  *  - per chunk id, the `(doc_id, chunk_idx, content, source)` row of
  *    [[Collections.persistedChunkRows]] — the Spark projection itself,
  *    so code-point prefixes and dropped orphans match by construction;
  *  - the result schema, from the Spark path's own analyzed plan.
  *
  * A query embeds its text through `TextEmbed` on the driver, scores
  * with `CosineSimilarity`'s arithmetic and `Stab.e6`, breaks ties on
  * (score desc, id asc), and resolves the zero-conf knobs per call
  * exactly like the Spark path: the IVF probe policy through the
  * shared [[IvfIndex.probePlan]] resolution (τ from
  * [[IvfIndex.autoTauAt]]), NSW beam and hops from the
  * snapshot's n through [[NswIndex.walkSingle]]. The answer is a local
  * DataFrame: `collect()` runs no job.
  *
  * Memory: a layout is loaded only when its estimate — read from
  * parquet footers, no job — fits 1/[[HeapShare]] of the driver heap,
  * and at most [[MaxSnapshots]] are held, so snapshots never claim more
  * than half the heap. A refused layout keeps the Spark path. */
final class ServeSnapshot private (
    ivfPath: String,
    brute: ServeSnapshot.Vecs,
    centroids: Array[(Int, Array[Float])],
    postings: Map[Int, ServeSnapshot.Vecs],
    nswVecs: mutable.LongMap[Array[Float]],
    nswRows: Long,
    nswSeeds: Array[Long],
    adjacency: mutable.LongMap[Array[Long]],
    content: mutable.LongMap[Row],
    schemas: Map[Boolean, StructType]) {
  import ServeSnapshot._

  private val masses: Map[Int, Long] = postings.map { case (c, v) => c -> v.ids.length.toLong }

  /** The /query answer: `(doc_id, chunk_idx, content, source,
    * confidence_e6, rank)` rows in rank order. */
  def query(spark: SparkSession, text: String, k: Int, indexType: String): DataFrame = {
    val q = Embedder.embedLocal(text)
    // brute and IVF score a stored parquet column (nullable), the NSW
    // walk's hit rows are built on the driver (not null)
    val (hits, nullableScore) = indexType match {
      case "cosine" => (topK(brute.scored(q), k), true)
      case "ivf" =>
        val cells = probedCells(spark, q).iterator
        (topK(cells.flatMap(c => postings.get(c).iterator.flatMap(_.scored(q))), k), true)
      case "nsw" => (nswWalk(spark, q, k), false)
      case other => throw Collections.unknownIndexType(other)
    }
    val rows = hits.zipWithIndex.flatMap { case ((id, score), i) =>
      content.get(id).map(c => Row.fromSeq(c.toSeq :+ score :+ (i + 1).toLong))
    }
    spark.createDataFrame(rows.toSeq.asJava, schemas(nullableScore))
  }

  /** The cells an IVF serve probes: centroids ranked on (cosine desc,
    * cluster_id asc), cut in-process under the policy the Spark serves
    * resolve — [[IvfIndex.probePlan]] over the snapshot's cell count
    * and posting masses: the [[IvfIndex.ProbeMass]] prefix of the cells
    * with postings, or the first [[IvfIndex.ProbeCount]] cells. */
  private def probedCells(spark: SparkSession, q: Array[Float]): Array[Int] = {
    val ranked = centroids.map { case (c, v) => (c, cosine(q, v)) }
      .sortWith { case ((c1, s1), (c2, s2)) => s1 > s2 || (s1 == s2 && c1 < c2) }
      .map(_._1)
    IvfIndex.probePlan(spark, 0, None, Some(IvfIndex.autoTauAt(spark, ivfPath)),
        filtered = false, centroids.length, masses) match {
      case plan: IvfIndex.ProbeMass =>
        val cells = ranked.filter(masses.contains)
        cells.take(plan.kept(cells.toSeq.map(masses)))
      case IvfIndex.ProbeCount(n) => ranked.take(n)
    }
  }

  private def nswWalk(spark: SparkSession, q: Array[Float], k: Int): Array[(Long, Long)] = {
    def scored(nodes: Array[Long]) =
      nodes.flatMap(n => nswVecs.get(n).map(v => (n, Stab.e6(cosine(v, q)), true)))
    NswIndex.walkSingle(k, NswIndex.beamFor(spark, nswRows), NswIndex.hopsFor(spark, nswRows),
      seeds = limit => scored(nswSeeds).sortBy { case (n, s, _) => (-s, n) }.take(limit),
      expand = frontier =>
        scored((frontier ++ frontier.flatMap(adjacency.getOrElse(_, Array.empty[Long]))).distinct))
  }
}

object ServeSnapshot {

  /** A snapshot may take 1/HeapShare of `Runtime.maxMemory`. */
  val HeapShare = 8

  /** Snapshots held at once: MaxSnapshots / HeapShare ≤ ½ heap. */
  val MaxSnapshots = 4

  /** Estimated driver bytes per chunk's content row: a 40-character
    * prefix and a source string, two boxed longs and the row. */
  val ContentRowBytes = 320L

  private[index] final class Vecs(val ids: Array[Long], val vecs: Array[Array[Float]]) {
    def scored(q: Array[Float]): Iterator[(Long, Long)] =
      ids.indices.iterator.map(i => (ids(i), Stab.e6(cosine(vecs(i), q))))
  }

  /** The best `k` of `(id, score_e6)` on (score desc, id asc), best first. */
  private[index] def topK(scored: Iterator[(Long, Long)], k: Int): Array[(Long, Long)] = {
    val best = Ordering.by[(Long, Long), (Long, Long)] { case (id, s) => (-s, id) }
    val heap = mutable.PriorityQueue.empty[(Long, Long)](best) // worst on top
    if (k > 0) scored.foreach { p =>
      if (heap.size < k) heap.enqueue(p)
      else if (best.lt(p, heap.head)) { heap.dequeue(); heap.enqueue(p) }
    }
    heap.toArray.sorted(best)
  }

  /** The budget check: an estimate fits when it is at most
    * 1/[[HeapShare]] of the heap. */
  def fits(estBytes: Long, maxHeapBytes: Long): Boolean =
    estBytes <= maxHeapBytes / HeapShare

  /** One snapshot decision with its inputs, logged as one structured
    * line when a layout is loaded or refused — never per query. */
  final case class Decision(layout: String, version: Long, estBytes: Long,
      budgetBytes: Long, n: Long, dim: Long, edges: Long, loads: Boolean) {
    def record: String = {
      val l = layout.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"decision":"serve_snapshot","layout":"$l","version":$version,""" +
        s""""est_bytes":$estBytes,"budget_bytes":$budgetBytes,"n":$n,"dim":$dim,""" +
        s""""edges":$edges,"serves":"${if (loads) "snapshot" else "spark"}"}"""
    }
  }

  private val log = org.slf4j.LoggerFactory.getLogger("graft.zeroconf")

  private val memo = new graft.store.VersionedMemo[Option[ServeSnapshot]](
    maxEntries = MaxSnapshots)

  /** The snapshot of the layout at `(base, name)`, loaded on first use
    * and reloaded after any bump under `base`; None when the layout is
    * over budget (the caller serves it with Spark). */
  def get(spark: SparkSession, base: String, name: String): Option[ServeSnapshot] =
    memo.get(spark, s"$base|$name", base) {
      val d = decide(spark, base, Runtime.getRuntime.maxMemory)
      log.info(d.record)
      if (d.loads) Some(load(spark, base, name)) else None
    }

  /** Estimate a layout from its parquet footers: array values × 4
    * bytes over the brute, IVF and NSW vector tables, 16 bytes per NSW
    * edge row, [[ContentRowBytes]] per chunk. */
  private[graft] def decide(spark: SparkSession, base: String, maxHeap: Long): Decision = {
    val Seq(brute, ivf, cents, nsw, edges, chunks) =
      Seq("chunk_embeddings", "ivf/vectors", "ivf/centroids", "nsw/vectors", "nsw/edges",
        "chunks").map(t => footerCounts(spark, s"$base/$t"))
    val values = Seq(brute, ivf, cents, nsw).map(_._2).sum
    val est = values * 4 + edges._1 * 16 + chunks._1 * ContentRowBytes
    Decision(base, graft.store.IndexVersions.version(base), est, maxHeap / HeapShare,
      n = brute._1, dim = if (brute._1 == 0) 0 else brute._2 / brute._1, edges = edges._1,
      loads = fits(est, maxHeap))
  }

  /** (rows, array leaf values) summed over the parquet footers under
    * `dir` — a driver-side metadata read, no Spark job. Paths with a
    * `_` or `.` component are skipped, as Spark's listing skips them. */
  private def footerCounts(spark: SparkSession, dir: String): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    var rows, values = 0L
    if (fs.exists(root)) {
      val files = fs.listFiles(root, true)
      while (files.hasNext) {
        val st = files.next()
        val rel = st.getPath.toUri.getPath.stripPrefix(root.toUri.getPath)
        if (st.getPath.getName.endsWith(".parquet") &&
            !rel.split('/').exists(p => p.startsWith("_") || p.startsWith("."))) {
          val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
          try r.getFooter.getBlocks.asScala.foreach { b =>
            rows += b.getRowCount
            b.getColumns.asScala.filter(_.getPath.size > 1).foreach(values += _.getValueCount)
          } finally r.close()
        }
      }
    }
    (rows, values)
  }

  private def load(spark: SparkSession, base: String, name: String): ServeSnapshot = {
    import spark.implicits._
    def vecs(rows: Array[(Long, Array[Float])]) = new Vecs(rows.map(_._1), rows.map(_._2))
    val brute = spark.read.parquet(s"$base/chunk_embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    val ivf = spark.read.parquet(s"$base/ivf/vectors")
      .select(col("cluster_id"), col("vec_id"), col("embedding"))
      .as[(Int, Long, Array[Float])].collect()
    val centroids = spark.read.parquet(s"$base/ivf/centroids")
      .select(col("cluster_id"), col("centroid")).as[(Int, Array[Float])].collect()
    val nsw = spark.table(s"${name}_nsw_vectors")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    val adjacency = mutable.LongMap.empty[Array[Long]] ++
      spark.table(s"${name}_nsw_edges").select(col("node"), col("dst")).as[(Long, Long)]
        .collect().groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    val content = mutable.LongMap.empty[Row] ++ Collections.persistedChunkRows(spark, name)
      .collect().filterNot(_.isNullAt(0)).map(r => r.getLong(0) -> Row.fromSeq(r.toSeq.tail))
    // the Spark path's result schema, analyzed over an empty hit frame
    // of each score nullability — no job
    val schemas = Seq(true, false).map { nullable =>
      val hits = spark.createDataFrame(java.util.List.of[Row](), StructType(Seq(
        StructField("q_id", LongType, nullable = false),
        StructField("neighbor_id", LongType),
        StructField("score_e6", LongType, nullable),
        StructField("rank", LongType, nullable = false))))
      nullable -> Collections.persistedHitRows(spark, name, hits).schema
    }.toMap
    val nswIds = nsw.map(_._1)
    val seeds = (nswIds.filter(n => java.lang.Math.floorMod(n, NswIndex.entrySeedMod.toLong) == 0L) ++
      nswIds.minOption).distinct
    new ServeSnapshot(s"$base/ivf", vecs(brute), centroids,
      ivf.groupBy(_._1).map { case (c, rs) => c -> vecs(rs.map(r => (r._2, r._3))) },
      mutable.LongMap.empty[Array[Float]] ++ nsw, nsw.length.toLong, seeds,
      adjacency, content, schemas)
  }
}
