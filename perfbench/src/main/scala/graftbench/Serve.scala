package graftbench

import graft.core.Stab
import graft.embed.Embedder
import graft.functions.vectors.cosineSim
import graft.index.{IvfIndex, NswIndex}
import graft.operators.{Collections, KnnSearch}
import graft.plans.AnnRewrite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import scala.collection.mutable.ArrayBuffer

/** `serve`: query persisted indexes. Single-text `/query` over the
  * chunk layouts with the index type rotating through brute cosine, IVF
  * and NSW; batch ANN search of perturbed chunk vectors through IVF and
  * IVF-PQ; now and then a SQL top-k plan for the ANN rewrite
  * rule. Nothing writes, so the layouts and their memos stay warm. */
object Serve {
  val NDocs = 120
  val NVecs = 400
  val K = 10
  val BatchSize = 64
  val Types = Seq("cosine", "ivf", "nsw")
  // Batch search runs through IVF-PQ only. NSW batch search is ~70 Spark
  // jobs a call (~10 s on 4 cores) and plain IVF batch search adds 1.5 s
  // a round, which the run budget cannot carry; the IVF probe and the NSW
  // walk are measured through the single-text /query.
  // One round runs every op type once (6-8 s on 4 cores); a run times at
  // least this many rounds, so every run samples each type alike
  val MinRounds = 3
  // the /query, batch and SQL op types, in the order a round runs them
  val OpTypes = Seq("query_brute", "query_ivf", "query_nsw", "batch_pq", "sql")

  final class Layout(val dir: String, val base: String, val name: String,
      val docs: Map[Long, Doc], val vecs: Array[Vec], val vocab: Array[String]) {
    lazy val chunks: Map[Long, (Long, Int, String)] =
      docs.values.flatMap(d => RefChunks(d).map { case (id, i, t) => id -> (d.docId, i, t) }).toMap
    lazy val chunkVecs: Array[(Long, Array[Float])] =
      chunks.toArray.map { case (id, (_, _, t)) => id -> RefEmbed(t) }.sortBy(_._1)
    lazy val plainVecs: Array[(Long, Array[Float])] = vecs.map(v => v.id -> v.v)
  }

  def inputs(ctx: Ctx): (Array[String], Array[Doc], Array[Vec]) = {
    val rng = new Rng(ctx.seed).fork("serve")
    val vocab = Gen.vocabulary(rng.fork("vocab"), 800)
    val docs = Gen.docs(rng.fork("docs"), vocab, NDocs)
    val vecs = Gen.vectors(rng.fork("vecs"), Gen.centers(rng.fork("centers"), 16), NVecs, spread = 0.8)
    docs.foreach(ctx.digest.add)
    vecs.foreach(ctx.digest.add)
    (vocab, docs, vecs)
  }

  /** Generate the inputs and build every layout the serve path reads. */
  def build(ctx: Ctx): Layout = {
    import ctx.spark.implicits._
    val (vocab, docs, vecs) = inputs(ctx)
    val dir = ctx.path("serve_in")
    ctx.writeParquet(docs.toSeq.map(d => (d.docId, d.text, "en", d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), "serve_in/documents.parquet")
    ctx.writeParquet(vecs.toSeq.map(v => (v.id, v.v, v.label)).toDF("vec_id", "embedding", "label"),
      "serve_in/embeddings.parquet")
    val base = ctx.path("serve_layout")
    val name = "serve"
    ctx.tracer.span("operators.persist_chunks", ctx.currentOp, "setup") {
      Collections.persistChunks(ctx.spark, dir, base, name)
    }
    ctx.tracer.span("index.persist_pq", ctx.currentOp, "setup") { IvfIndex.persistPq(ctx.spark, s"$base/ivf") }
    new Layout(dir, base, name, docs.map(d => d.docId -> d).toMap, vecs, vocab)
  }

  /** Every op type once, untimed: tuning, codegen and memos fill. The
    * ANN rewrite is switched on first, so the SQL plan's index is built
    * here and not in the first timed call. */
  def warm(ctx: Ctx, l: Layout): Unit = {
    ctx.spark.conf.set("spark.graft.ann.rewrite", "true")
    val rng = new Rng(ctx.seed).fork("warm")
    def warmSpan(name: String)(body: => Any): Unit = ctx.tracer.span(s"warm.$name", 0L, "setup")(body)
    Types.foreach(t => warmSpan(s"query_$t") {
      Collections.queryTextChunksPersisted(ctx.spark, l.base, l.name, Gen.queryText(rng, l.vocab), K, t).collect()
    })
    import ctx.spark.implicits._
    val qs = batchVectors(l, rng).toSeq.toDF("q_id", "q_vec")
    warmSpan("batch_pq") { batchSearch(ctx, l, qs).collect() }
    warmSpan("sql") { AnnRewrite.brutePlan(ctx.spark, l.dir, l.vecs(0).v, K).collect() }
  }

  private def batchVectors(l: Layout, rng: Rng): Array[(Long, Array[Float])] =
    Array.tabulate(BatchSize) { i =>
      (i.toLong, Gen.perturb(rng, l.chunkVecs(rng.nextInt(l.chunkVecs.length))._2, 0.3))
    }

  def batchSearch(ctx: Ctx, l: Layout, qs: DataFrame): DataFrame =
    IvfIndex.searchPersistedPq(ctx.spark, s"${l.base}/ivf", qs, k = K)

  private def scansCorpus(plan: LogicalPlan): Boolean = plan.exists {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.exists(_.toString.contains("embeddings.parquet"))
      case _ => false
    }
    case _ => false
  }

  /** Per-query ranking checks plus recall against the exact scorer. */
  private def checkRanked(ctx: Ctx, hits: Seq[(Long, Long, Long)], exact: Array[(Long, Double)],
      what: String): Double = {
    // hits: (rank, id, score_e6)
    ctx.check(hits.length == math.min(K, exact.length), s"$what: ${hits.length} rows, want $K")
    ctx.check(hits.map(_._1) == (1 to hits.length).map(_.toLong), s"$what: ranks ${hits.map(_._1)}")
    ctx.check(hits.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
      s"$what: scores increase down the ranking")
    val score = exact.toMap
    hits.foreach { case (_, id, s) =>
      ctx.check(score.get(id).exists(e => math.abs(e * 1e6 - s) <= 2.0),
        s"$what: id $id score_e6 $s differs from the exact cosine")
    }
    Exact.recall(hits.map(_._2), exact, K, score)
  }

  def run(ctx: Ctx, l: Layout): Outcome = {
    val spark = ctx.spark
    val rng = new Rng(ctx.seed).fork("ops")
    val recalls = ArrayBuffer[Double]()
    var rewritten = 0
    var sqlOps = 0
    val selfS = Types.map(_ -> ArrayBuffer[Double]()).toMap

    def query(t: String): Unit = ctx.op(s"query_$t") {
      val text = Gen.queryText(rng, l.vocab)
      val label = if (t == "cosine") "brute" else t
      val t0 = System.nanoTime()
      val rows = ctx.timed(s"query_$label", s"operators.query_$label") {
        Collections.queryTextChunksPersisted(spark, l.base, l.name, text, K, t).collect()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      ctx.sample("query", wall)
      val hits = rows.toSeq.map { r =>
        val docId = r.getAs[Long]("doc_id")
        val idx = r.getAs[Long]("chunk_idx")
        val id = docId * RefChunks.IdBase + idx
        l.chunks.get(id) match {
          case Some((_, _, chunk)) =>
            ctx.check(r.getAs[String]("content") == chunk.take(40), s"query: content of chunk $id")
            ctx.check(r.getAs[String]("source") == l.docs(docId).source, s"query: source of doc $docId")
          case None => ctx.check(false, s"query: chunk $id does not exist")
        }
        (r.getAs[Long]("rank"), id, r.getAs[Long]("confidence_e6"))
      }.sortBy(_._1)
      val exact = Exact.ranked(RefEmbed(text), l.chunkVecs)
      val rec = checkRanked(ctx, hits, exact, s"query[$t]")
      if (t == "cosine") ctx.check(rec == 1.0, s"brute query recall $rec < 1")
      else recalls += rec
      if (ctx.tracer.enabled) {
        // the embed-only and index-only calls for the same query, so the
        // operator's own share (content join, chunk ⋈ document) shows
        val q = spark.range(1).select(lit(0L).as("q_id"), Embedder.embedText(lit(text)).as("q_vec"))
        val e0 = System.nanoTime()
        ctx.traceOnly("embed.query") { q.collect() }
        t match {
          case "cosine" => ctx.traceOnly("functions.cosine_topk") {
            KnnSearch.topKSingle(spark.read.parquet(s"${l.base}/chunk_embeddings")
              .crossJoin(broadcast(q)).select(col("q_id"), col("vec_id").as("neighbor_id"),
                Stab.e6(cosineSim(col("embedding"), col("q_vec"))).as("score_e6")), K, asc = false).collect()
          }
          case "ivf" => ctx.traceOnly("index.ivf_single") {
            IvfIndex.searchPersistedSingle(spark, s"${l.base}/ivf", q, k = K).collect()
          }
          case "nsw" => ctx.traceOnly("index.nsw_single") {
            NswIndex.searchPersistedBucketed(spark, s"${l.name}_nsw", q, k = K, singleQuery = true).collect()
          }
        }
        val e1 = System.nanoTime()
        selfS(t) += wall - (e1 - e0) / 1e9
      }
    }

    def batch(): Unit = ctx.op("batch_pq") {
      val vs = batchVectors(l, rng)
      import spark.implicits._
      val qs = vs.toSeq.toDF("q_id", "q_vec")
      val rows = ctx.timed("batch_pq", "index.pq_batch") { batchSearch(ctx, l, qs).collect() }
      ctx.add("results.index.pq_batch", vs.length * K)
      val byQ = rows.groupBy(_.getAs[Long]("q_id"))
      ctx.check(byQ.size == vs.length, s"batch[pq]: ${byQ.size} of ${vs.length} queries answered")
      vs.foreach { case (qid, qv) =>
        val hits = byQ.getOrElse(qid, Array.empty[Row]).toSeq
          .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"), r.getAs[Long]("score_e6")))
          .sortBy(_._1)
        recalls += checkRanked(ctx, hits, Exact.ranked(qv, l.chunkVecs), s"batch[pq] q$qid")
      }
    }

    def sql(): Unit = ctx.op("sql") {
      val q = Gen.perturb(rng, l.vecs(rng.nextInt(l.vecs.length)).v, 0.3)
      val df = AnnRewrite.brutePlan(spark, l.dir, q, K)
      val rows = ctx.timed("sql", "plans.sql_topk") { df.collect() }
      sqlOps += 1
      if (!scansCorpus(df.queryExecution.optimizedPlan)) rewritten += 1
      val hits = rows.toSeq.zipWithIndex.map { case (r, i) =>
        (i + 1L, r.getAs[Long]("vec_id"), math.floor(r.getAs[Double]("score") * 1e6 + 0.5).toLong)
      }
      val rec = checkRanked(ctx, hits, Exact.ranked(q, l.plainVecs), "sql")
      ctx.sample("query", ctx.samples("sql").last)
      recalls += rec
    }

    // one round: a /query of each index type, an IVF-PQ batch search and
    // a SQL top-k plan
    val wall = ctx.loop(minCycles = MinRounds) { _ =>
      Types.foreach(query)
      batch()
      sql()
    }
    val interactive = ctx.samples("query")
    // the bulk search rate: query vectors per second of the median batch
    // call, so one call slowed by the host does not move it
    val batchQps = BatchSize / Stats.median(ctx.samples("batch_pq").toSeq)
    val (layoutBytes, _) = ctx.du(l.base)
    val (inputBytes, _) = ctx.du(l.dir)
    val det = ArrayBuffer[(String, Double, String, String)]()
    Seq("brute", "ivf", "nsw").foreach { t =>
      det += ((s"query_${t}_p50_s", Stats.median(ctx.samples(s"query_$t").toSeq), "s", "lower"))
    }
    Stats.tail(interactive.toSeq).foreach { case (p, v) =>
      det += (("query_tail_s", v, "s", "lower")); det += (("query_tail_pct", p, "%", "info"))
    }
    det += (("query_tail_n", interactive.length.toDouble, "count", "info"))
    det += (("batch_qps", batchQps, "queries/s", "higher"))
    det += (("recall_at_10", Stats.mean(recalls.toSeq), "ratio", "higher"))
    det += (("space_amp", layoutBytes.toDouble / inputBytes, "ratio", "lower"))
    det += (("rewritten_frac", if (sqlOps == 0) 0.0 else rewritten.toDouble / sqlOps, "ratio", "info"))
    det += (("run_wall_s", wall, "s", "info"))
    if (ctx.tracer.enabled) Types.foreach { t =>
      if (selfS(t).nonEmpty) det += ((s"query_self_${t}_p50_s", Stats.median(selfS(t).toSeq), "s", "info"))
    }
    // the typical op latency with each op type weighted alike: the
    // geometric mean of the five types' medians (a pooled median would sit
    // on whichever type's samples straddle the middle); throughput is
    // batch_qps
    val perType = OpTypes.map(t => Stats.median(ctx.samples(t).toSeq))
    Outcome(Stats.geomean(perType), batchQps, Stats.mean(recalls.toSeq), det.toSeq)
  }
}
