package graftbench

import graft.index.{Generations, IvfIndex, NswIndex, NswSnapshotLayout, SnapshotLayout}
import graft.store.CollectionStore
import org.apache.spark.sql.{DataFrame, Row}
import scala.collection.mutable.ArrayBuffer

/** `ingest`: keep versioned indexes current under a stream of writes.
  * Each batch upserts new and updated vectors and deletes live ones in
  * the collection store and in both generational index families (IVF
  * with a PQ sidecar, NSW), then reads a query batch back as of head or
  * of an earlier batch, then reads the layout debt gauge. Compaction
  * runs on a fixed cadence and each family cuts over to a new
  * generation once. Every batch bumps the index versions, so the
  * library's memos miss. */
object Ingest {
  val N0 = 600
  val NewPerBatch = 24
  val UpdatesPerBatch = 16
  val DeletesPerBatch = 8
  val Queries = 8
  val K = 10
  val CutoverBatch = 3L
  val CompactEvery = 4L

  final class State(val ivf: String, val nsw: String, val storePath: String,
      val store: CollectionStore, val centers: Array[Array[Double]], val seed: Long) {
    var live: Map[Long, Vec] = Map.empty
    val history = scala.collection.mutable.Map[Long, Map[Long, Vec]]()
    var head = 0L
    var nextId = 0L
    var floor = 0L
    val recalls = ArrayBuffer[Double]()
    def roots: Seq[String] = Seq(storePath, ivf, nsw)
  }

  private def frame(ctx: Ctx, vs: Seq[Vec]): DataFrame = {
    import ctx.spark.implicits._
    vs.map(v => (v.id, v.v, v.label)).toDF("vec_id", "embedding", "label")
  }

  def build(ctx: Ctx): State = {
    val spark = ctx.spark
    val rng = new Rng(ctx.seed).fork("ingest")
    val centers = Gen.centers(rng.fork("centers"), 16)
    val base = Gen.vectors(rng.fork("base"), centers, N0, spread = 0.8)
    base.foreach(ctx.digest.add)
    val in = ctx.writeParquet(frame(ctx, base.toSeq), "ingest_in/embeddings.parquet")
    val emb = spark.read.parquet(in)
    val root = ctx.path("ingest_layout")
    val s = new State(s"$root/ivf", s"$root/nsw", s"$root/store",
      new CollectionStore(spark, s"$root/store", "vec_id"), centers, ctx.seed)
    ctx.tracer.span("index.init_ivf", 0L, "setup") {
      SnapshotLayout.initGen(IvfIndex.build(spark, emb, metaCols = Seq("label")), s.ivf)
      SnapshotLayout.initPq(spark, Generations.genPath(s.ivf, 1))
    }
    ctx.tracer.span("index.init_nsw", 0L, "setup") {
      NswSnapshotLayout.initGen(emb, NswIndex.buildEdgesLsh(emb), s.nsw)
    }
    ctx.tracer.span("store.init", 0L, "setup") { s.store.upsert(emb, 0L) }
    s.live = base.map(v => v.id -> v).toMap
    s.history(0L) = s.live
    s.nextId = N0
    s
  }

  /** Batch 1 with its reads, untimed: codegen and first-call costs of
    * the write and read paths are paid before the clock starts. */
  def warm(ctx: Ctx, s: State): Unit = {
    ctx.recording = false
    try cycle(ctx, s)
    finally ctx.recording = true
  }

  /** The batch stream: batch `b`'s rows depend only on the seed and the
    * live set the earlier batches left. */
  private def nextBatch(s: State, b: Long): (Seq[Vec], Seq[Long]) = {
    val rng = new Rng(s.seed).fork(s"batch$b")
    val fresh = Gen.vectors(rng, s.centers, NewPerBatch, spread = 0.8, firstId = s.nextId)
    val ids = s.live.keys.toArray.sorted
    val picked = scala.collection.mutable.LinkedHashSet[Long]()
    while (picked.size < UpdatesPerBatch + DeletesPerBatch) picked += ids(rng.nextInt(ids.length))
    val updates = picked.take(UpdatesPerBatch).toSeq.map { id =>
      val v = s.live(id); Vec(id, Gen.perturb(rng, v.v, 0.3), v.label)
    }
    (fresh.toSeq ++ updates, picked.drop(UpdatesPerBatch).toSeq)
  }

  private def fingerprint(rows: Iterator[(Long, Array[Float])]): (Long, Long) = {
    var n = 0L
    var h = 0L
    rows.foreach { case (id, v) => n += 1; h += (id * 0x9e3779b97f4a7c15L) ^ java.util.Arrays.hashCode(v).toLong }
    (n, h)
  }

  private def rowsOf(df: DataFrame): Iterator[(Long, Array[Float])] =
    df.select("vec_id", "embedding").collect().iterator
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** Every durable copy of the live set equals the replay of the batch
    * stream: the store, and the head of both index families. */
  private def checkLive(ctx: Ctx, s: State, when: String): Unit = {
    val want = fingerprint(s.live.valuesIterator.map(v => (v.id, v.v)))
    val got = Seq(
      "store" -> rowsOf(s.store.load()),
      "ivf" -> rowsOf(SnapshotLayout.asOfAssignedGen(ctx.spark, s.ivf, Long.MaxValue)),
      "nsw" -> rowsOf(NswSnapshotLayout.asOfVectorsGen(ctx.spark, s.nsw, Long.MaxValue)))
    got.foreach { case (what, rows) =>
      val fp = fingerprint(rows)
      ctx.check(fp == want, s"$what live set after $when: (rows, fingerprint) $fp, replay $want")
    }
  }

  /** Bytes of files that are new or changed under the layout roots. */
  private def writtenSince(ctx: Ctx, before: Map[String, Long], after: Map[String, Long]): Long =
    after.collect { case (p, n) if !before.get(p).contains(n) => n }.sum

  private def listing(ctx: Ctx, s: State): Map[String, Long] = s.roots.map(ctx.listing).reduce(_ ++ _)

  private def checkHits(ctx: Ctx, rows: Array[Row], qs: Seq[(Long, Array[Float])],
      live: Map[Long, Vec], what: String): Seq[Double] = {
    val corpus = live.values.map(v => v.id -> v.v)
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    ctx.check(byQ.size == qs.length, s"$what: ${byQ.size} of ${qs.length} queries answered")
    qs.map { case (qid, qv) =>
      val hits = byQ.getOrElse(qid, Array.empty[Row]).toSeq
        .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"), r.getAs[Long]("score_e6")))
        .sortBy(_._1)
      val exact = Exact.ranked(qv, corpus)
      val score = exact.toMap
      ctx.check(hits.length == K, s"$what q$qid: ${hits.length} rows")
      ctx.check(hits.map(_._1) == (1 to hits.length).map(_.toLong), s"$what q$qid: ranks")
      hits.foreach { case (_, id, sc) =>
        ctx.check(score.get(id).exists(e => math.abs(e * 1e6 - sc) <= 2.0),
          s"$what q$qid: id $id is not live at this batch or its score $sc is stale")
      }
      Exact.recall(hits.map(_._2), exact, K, score)
    }
  }

  /** One batch: write, read back, read the debt gauge; then maintenance
    * when the batch id calls for it. */
  def cycle(ctx: Ctx, s: State): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val b = s.head + 1
    val (ups, dels) = nextBatch(s, b)
    s.nextId += NewPerBatch
    ctx.op("batch") {
      val upsDf = frame(ctx, ups)
      val delDf = dels.toDF("vec_id")
      val before = listing(ctx, s)
      val t0 = System.nanoTime()
      ctx.timed("store_write", "store.write") { s.store.upsert(upsDf, b); s.store.delete(delDf) }
      ctx.timed("apply_ivf", "index.apply_ivf") { SnapshotLayout.applyBatchGen(spark, s.ivf, b, upsDf, delDf) }
      ctx.timed("apply_nsw", "index.apply_nsw") { NswSnapshotLayout.applyBatchGen(spark, s.nsw, b, upsDf, delDf) }
      val applyS = (System.nanoTime() - t0) / 1e9
      ctx.sample("apply", applyS)
      ctx.add("ingest_time_s", applyS)
      ctx.add("rows", ups.length + dels.length)
      ctx.add("user_bytes", ups.length * (8.0 + 4 * Gen.Dim) + dels.length * 8.0)
      val after = listing(ctx, s)
      ctx.add("written_bytes", writtenSince(ctx, before, after).toDouble)
      s.live = s.live -- dels ++ ups.map(v => v.id -> v)
      s.head = b
      s.history(b) = s.live
      checkLive(ctx, s, s"batch $b")

      val rng = new Rng(s.seed).fork(s"read$b")
      val at = if (rng.nextDouble() < 0.7) b else s.floor + rng.nextInt((b - s.floor + 1).toInt)
      val liveAt = s.history(at)
      val ids = liveAt.keys.toArray.sorted
      val qs = (0 until Queries).map(i => (i.toLong, Gen.perturb(rng, liveAt(ids(rng.nextInt(ids.length))).v, 0.3)))
      val qdf = qs.toDF("q_id", "q_vec")
      val r0 = System.nanoTime()
      val reads = Seq(
        "ivf" -> ctx.timed("read_ivf", "index.asof_ivf") {
          SnapshotLayout.searchAsOfGen(spark, s.ivf, at, qdf, k = K).collect() },
        "pq" -> ctx.timed("read_pq", "index.asof_pq") {
          SnapshotLayout.searchAsOfPqGen(spark, s.ivf, at, qdf, k = K).collect() },
        "nsw" -> ctx.timed("read_nsw", "index.asof_nsw") {
          NswSnapshotLayout.searchAsOfGen(spark, s.nsw, at, qdf, k = K).collect() })
      val readS = (System.nanoTime() - r0) / 1e9
      ctx.add("results.index.asof_ivf", Queries * K)
      reads.foreach { case (fam, rows) =>
        val rs = checkHits(ctx, rows, qs, liveAt, s"read[$fam] as of $at")
        if (ctx.recording) s.recalls ++= rs
      }
      val debt = ctx.timed("debt", "index.debt") {
        SnapshotLayout.layoutDebtGen(spark, s.ivf).collect() ++
          NswSnapshotLayout.layoutDebtGen(spark, s.nsw).collect()
      }
      val current = debt.filter(_.getAs[Boolean]("is_current"))
      ctx.check(current.length == 2, s"debt: ${current.length} current generations, want 2")
      current.foreach(r => ctx.check(r.getAs[Long]("live_rows") == s.live.size,
        s"debt: live_rows ${r.getAs[Long]("live_rows")}, replay ${s.live.size}"))
      ctx.add("extra.index.debt.superseded_rows", current.map(_.getAs[Long]("superseded_rows")).sum.toDouble)
      ctx.add("extra.index.debt.tombstones", current.map(_.getAs[Long]("tombstone_rows")).sum.toDouble)
      ctx.sample("round_trip", applyS + readS + ctx.samples.get("debt").map(_.last).getOrElse(0.0))
    }

    def maintain(name: String)(body: (String, String) => Unit): Unit = ctx.op(name) {
      val before = listing(ctx, s)
      val t0 = System.nanoTime()
      body("ivf", s.ivf)
      body("nsw", s.nsw)
      val dt = (System.nanoTime() - t0) / 1e9
      ctx.add("maint_s", dt)
      ctx.add("ingest_time_s", dt)
      ctx.add("written_bytes", writtenSince(ctx, before, listing(ctx, s)).toDouble)
      checkLive(ctx, s, s"$name at batch $b")
    }
    if (b == CutoverBatch) maintain("cutover") { (fam, root) =>
      ctx.timed(s"cutover_$fam", s"index.cutover_$fam") {
        if (fam == "ivf") SnapshotLayout.newGeneration(spark, root) else NswSnapshotLayout.newGeneration(spark, root)
      }
    }
    if (b % CompactEvery == 0) {
      maintain("compact") { (fam, root) =>
        val path = Generations.genPath(root, Generations.current(spark, root))
        ctx.timed(s"compact_$fam", s"index.compact_$fam") {
          if (fam == "ivf") SnapshotLayout.compact(spark, path, b) else NswSnapshotLayout.compact(spark, path, b)
        }
      }
      s.floor = b
    }
  }

  def run(ctx: Ctx, s: State): Outcome = {
    // batches 2-4 at least: batch 3 cuts over, batch 4 compacts
    val wall = ctx.loop(minCycles = 3)(_ => cycle(ctx, s))
    val (layoutBytes, files) = s.roots.map(ctx.du).reduce((x, y) => (x._1 + y._1, x._2 + y._2))
    val det = ArrayBuffer[(String, Double, String, String)](
      ("apply_p50_s", Stats.median(ctx.samples("apply").toSeq), "s", "lower"),
      ("read_p50_s", Stats.median(Seq("read_ivf", "read_pq", "read_nsw").flatMap(ctx.samples(_))), "s", "lower"),
      ("round_trip_p50_s", Stats.median(ctx.samples("round_trip").toSeq), "s", "lower"),
      ("ingest_rows_per_s", ctx.sums("rows") / ctx.sums("ingest_time_s"), "rows/s", "higher"),
      ("maint_s", ctx.sums.getOrElse("maint_s", 0.0), "s", "lower"),
      ("write_amp", ctx.sums("written_bytes") / ctx.sums("user_bytes"), "ratio", "lower"),
      ("space_amp", layoutBytes.toDouble / (s.live.size * (8.0 + 4 * Gen.Dim)), "ratio", "lower"),
      ("recall_at_10", Stats.mean(s.recalls.toSeq), "ratio", "higher"),
      ("batches", ctx.samples("apply").length.toDouble, "count", "info"),
      ("layout_files", files.toDouble, "count", "info"),
      ("run_wall_s", wall, "s", "info"))
    Outcome(Stats.median(ctx.samples("round_trip").toSeq), ctx.sums("rows") / ctx.sums("ingest_time_s"),
      Stats.mean(s.recalls.toSeq), det.toSeq)
  }
}
