package graftbench

import graft.dedup.Dedup
import graft.operators.Collections
import graft.store.CollectionStore
import graft.text.{BpeTrain, TextOps}
import scala.collection.mutable.ArrayBuffer

/** `curate`: clean and deduplicate training-corpus shards. Each shard is
  * a fresh directory of seeded documents with exact and near duplicates
  * injected at fixed rates, and a matching `embeddings.parquet` whose
  * duplicate documents carry identical or near-identical vectors. Every
  * shard runs quality scoring, the clean pipeline, LSH and semantic
  * embedding dedup and BPE training, and the documents the clean
  * pipeline keeps are upserted into the curated collection. BPE encoding
  * is left out: with a fresh 64-merge table per shard each call compiles
  * a new nested expression (3-4 s), which the run budget cannot carry. */
object Curate {
  // a pass is mostly per-call Spark job overhead: 6-11 s on 4 cores at
  // 66 documents, about the same at 180. A run times at least four
  // passes, so each call has four samples or more
  val DocsPerShard = 60
  val MinPasses = 4
  // half the trainer's default 64 merges: four driver rounds, not eight
  val BpeMerges = 32
  val ExactDupRate = 0.05
  val NearDupRate = 0.05

  /** A generated shard and its injected duplicate pairs (kept id, copy id). */
  final class Shard(val id: Int, val dir: String, val docs: Array[Doc],
      val exactPairs: Seq[(Long, Long)], val nearPairs: Seq[(Long, Long)])

  /** Shard `i` of the run. Base documents are replicated with a
    * per-replica word perturbation (every third word of a replica gets a
    * replica suffix, so replicas are not near-duplicates of each other);
    * then exact copies and near copies (two words substituted) are
    * appended at the recorded rates. */
  def shard(ctx: Ctx, i: Int, record: Boolean): Shard = {
    val size = DocsPerShard
    import ctx.spark.implicits._
    val rng = new Rng(ctx.seed).fork(s"shard$i")
    val vocab = Gen.vocabulary(rng.fork("vocab"), 900)
    val nBase = size / 3
    val base = Gen.docs(rng.fork("docs"), vocab, nBase)
    val replicas = (0 until 3).flatMap { r =>
      base.map { d =>
        val ws = d.text.split(" ").zipWithIndex.map { case (w, j) => if (r > 0 && j % 3 == 0) s"${w}r$r" else w }
        Doc(r * nBase + d.docId, ws.mkString(" "), d.source)
      }
    }.toArray
    val nExact = (size * ExactDupRate).toInt
    val nNear = (size * NearDupRate).toInt
    val picks = scala.collection.mutable.LinkedHashSet[Int]()
    while (picks.size < nExact + nNear) picks += rng.nextInt(replicas.length)
    val src = picks.toSeq.map(replicas(_))
    var next = replicas.length.toLong
    val exact = src.take(nExact).map { d => next += 1; Doc(next - 1, d.text, d.source) }
    val near = src.drop(nExact).map { d =>
      val ws = d.text.split(" ")
      (0 until 2).foreach(_ => ws(rng.nextInt(ws.length)) = Gen.word(rng, vocab))
      next += 1
      Doc(next - 1, ws.mkString(" "), d.source)
    }
    val docs = replicas ++ exact ++ near
    val exactPairs = src.take(nExact).map(_.docId).zip(exact.map(_.docId))
    val nearPairs = src.drop(nExact).map(_.docId).zip(near.map(_.docId))
    // vectors: one per document; a copy gets its source's vector
    // (exact) or a near copy of it (near)
    val centers = Gen.centers(rng.fork("centers"), 16)
    val vecs = scala.collection.mutable.Map[Long, Vec]()
    Gen.vectors(rng.fork("vecs"), centers, replicas.length, spread = 2.5).foreach(v => vecs(v.id) = v)
    exactPairs.foreach { case (a, b) => vecs(b) = vecs(a).copy(id = b) }
    nearPairs.foreach { case (a, b) => vecs(b) = Vec(b, Gen.perturb(rng, vecs(a).v, 0.1), vecs(a).label) }
    if (record) { docs.foreach(ctx.digest.add); docs.foreach(d => ctx.digest.add(vecs(d.docId))) }
    val rel = s"curate_shard_$i"
    ctx.writeParquet(docs.toSeq.map(d => (d.docId, d.text, "en", d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), s"$rel/documents.parquet")
    ctx.writeParquet(docs.toSeq.map(d => vecs(d.docId)).map(v => (v.id, v.v, v.label))
      .toDF("vec_id", "embedding", "label"), s"$rel/embeddings.parquet")
    new Shard(i, ctx.path(rel), docs, exactPairs, nearPairs)
  }

  /** Every curate call once, untimed, on a shard of its own: the first
    * calls pay code generation and JIT. This is curate's set-up. (On a
    * 20-document shard semantic dedup's KMeans throws an
    * ArrayIndexOutOfBoundsException, so the warm shard is full size.) */
  def warm(ctx: Ctx): Unit = {
    ctx.recording = false
    try pass(ctx, shard(ctx, -1, record = false))
    finally ctx.recording = true
  }

  var caught = 0L
  var injected = 0L
  /** Ids in the curated collection, as the benchmark replays them. */
  var curated = Set.empty[Long]
  private var store: CollectionStore = null

  def pass(ctx: Ctx, s: Shard): Unit = {
    val spark = ctx.spark
    val n = s.docs.length
    val rec = ctx.recording
    val before = Calls.map(c => ctx.samples.get(c).map(_.length).getOrElse(0))
    // an injected pair, caught or missed; warm-up passes are not counted
    def count(hit: Boolean): Unit = if (rec) { injected += 1; if (hit) caught += 1 }
    ctx.op("quality") {
      val q = ctx.timed("quality", "text.quality") { TextOps.textQuality(spark, s.dir).collect() }
      ctx.check(q.length == n, s"quality: ${q.length} rows for $n documents")
      ctx.check(q.forall(_.getAs[Long]("n_tokens") > 0), "quality: a document with no tokens")
    }
    ctx.op("clean") {
      val kept = ctx.timed("clean", "operators.pipeline_clean") {
        Collections.pipelineClean(spark, s.dir).collect()
      }.map(_.getAs[Long]("doc_id")).toSet
      ctx.check(kept.nonEmpty, "clean: nothing kept")
      s.exactPairs.foreach { case (a, b) =>
        ctx.check(!kept(b), s"clean: exact duplicate $b of $a kept")
        ctx.check(!(kept(a) && kept(b)), s"clean: both $a and $b kept")
        count(!kept(b))
      }
      s.nearPairs.foreach { case (a, b) => count(!(kept(a) && kept(b))) }
      // the survivors join the curated collection, keyed by a shard-wide id
      import spark.implicits._
      val shardBase = s.id * 1000000L
      val rows = s.docs.filter(d => kept(d.docId)).map(d => (shardBase + d.docId, d.text, d.source))
      if (store == null) store = new CollectionStore(spark, ctx.path("curated"), "doc_id")
      ctx.timed("store_write", "store.write") { store.upsert(rows.toSeq.toDF("doc_id", "text", "source"), s.id) }
      curated ++= rows.map(_._1)
      ctx.check(store.count() == curated.size, s"store: ${store.count()} curated rows, replay ${curated.size}")
    }
    ctx.op("lsh") {
      val pairs = ctx.timed("lsh", "dedup.embedding_lsh") { Dedup.embeddingNearDupLsh(spark, s.dir).collect() }
        .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
      (s.exactPairs ++ s.nearPairs).foreach { case (a, b) => count(pairs((math.min(a, b), math.max(a, b)))) }
    }
    ctx.op("semantic") {
      val keep = ctx.timed("semantic", "dedup.semantic") { Dedup.semanticDedupDecisions(spark, s.dir).collect() }
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("keep")).toMap
      ctx.check(keep.size == n, s"semantic: ${keep.size} decisions for $n vectors")
      s.exactPairs.foreach { case (a, b) =>
        ctx.check(!(keep.getOrElse(a, true) && keep.getOrElse(b, true)), s"semantic: identical vectors $a and $b both kept")
      }
      (s.exactPairs ++ s.nearPairs).foreach { case (a, b) => count(!(keep.getOrElse(a, true) && keep.getOrElse(b, true))) }
    }
    ctx.op("bpe_train") {
      val m = ctx.timed("bpe_train", "text.bpe_train") { BpeTrain.bpeTrainBatched(spark, s.dir, numMerges = BpeMerges).collect() }
      ctx.check(m.nonEmpty && m.map(_.getAs[Number]("rank").longValue).toSeq == (1 to m.length).map(_.toLong),
        s"bpe_train: merge ranks ${m.map(_.get(0)).toSeq}")
    }
    ctx.add("docs", n)
    ctx.sample("pass", Calls.zip(before).map { case (c, n) =>
      ctx.samples.get(c).map(_.drop(n).sum).getOrElse(0.0)
    }.sum)
  }

  val Calls = Seq("quality", "clean", "store_write", "lsh", "semantic", "bpe_train")

  /** Each timed pass gets a shard no call has seen, so no memo is
    * shared across shards; shards are generated outside the timed calls,
    * and the first one goes into the inputs' hash. Latency is the
    * geometric mean of the six calls' medians, so each call weighs
    * alike; throughput is a shard's documents over the median pass
    * (the time of its six calls). */
  def run(ctx: Ctx): Outcome = {
    caught = 0; injected = 0
    val wall = ctx.loop(minCycles = MinPasses)(i => pass(ctx, shard(ctx, i, record = i == 0)))
    val passes = ctx.samples("pass").toSeq
    val passP50 = Stats.median(passes)
    val docsPerS = ctx.sums("docs") / passes.length / passP50
    val det = ArrayBuffer[(String, Double, String, String)](
      ("curate_docs_per_s", docsPerS, "docs/s", "higher"),
      ("dedup_recall", caught.toDouble / injected, "ratio", "higher"),
      ("shards", passes.length.toDouble, "count", "info"),
      ("pass_p50_s", passP50, "s", "lower"),
      ("run_wall_s", wall, "s", "info"))
    Calls.foreach(c => det += ((s"${c}_p50_s", Stats.median(ctx.samples(c).toSeq), "s", "lower")))
    Outcome(Stats.geomean(Calls.map(c => Stats.median(ctx.samples(c).toSeq))), docsPerS,
      caught.toDouble / injected, det.toSeq)
  }
}
