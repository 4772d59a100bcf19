package graft

import graft.dedup.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** `dedup_semantic` (SemDeDup): the Spark decision frame must equal an
  * INDEPENDENT driver-side brute recompute of the same rule — same
  * clusters, same priorities, same τ cut — and the registry's summary
  * contract grid must come back all-true. The brute path replicates
  * the engine's exact float semantics (sequential-loop cosine, e6
  * floor(x·1e6 + 0.5)) so the comparison is integer-exact, not
  * tolerance-based. */
class SemanticDedupSpec extends AnyFunSuite {
  import SparkTestSession._

  private def cosE6(a: IndexedSeq[Float], b: IndexedSeq[Float]): Long = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; nx += x * x; ny += y * y
      i += 1
    }
    val c = if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
    math.floor(c * 1000000.0 + 0.5).toLong
  }

  test("decisions equal an independent brute recompute of the SemDeDup rule") {
    val tau = 400000L
    val dec = Dedup.semanticDedupDecisions(spark, sf, tau).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cluster_id"), r.getAs[Long]("centroid_cos_e6"),
          r.getAs[Boolean]("keep"))).toMap

    val built = graft.index.IvfIndex.buildCached(spark, sf)
    val members = built.assigned.select("cluster_id", "vec_id", "embedding")
      .collect()
      .map(r => (r.getAs[Int]("cluster_id"), r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toIndexedSeq))
    val cents = built.centroids.collect()
      .map(r => r.getAs[Int]("cluster_id") ->
        r.getAs[scala.collection.Seq[Float]]("centroid").toIndexedSeq).toMap

    // brute: per cluster, all pairs ≥ τ remove the lower-priority member
    val prio = members.map { case (c, id, emb) =>
      id -> (cosE6(emb, cents(c)), id)
    }.toMap
    val losers = scala.collection.mutable.Set[Long]()
    members.groupBy(_._1).values.foreach { ms =>
      for (Array((_, idA, embA), (_, idB, embB)) <- ms.sortBy(_._2).combinations(2).map(_.toArray))
        if (cosE6(embA, embB) >= tau) {
          val (ccA, _) = prio(idA); val (ccB, _) = prio(idB)
          // keep higher centroid-cos; tie keeps the smaller id
          losers += (if (ccA < ccB || (ccA == ccB && idA > idB)) idA else idB)
        }
    }

    assert(dec.size == members.length, "decision frame dropped or duplicated ids")
    members.foreach { case (c, id, _) =>
      val (decCluster, decCc, decKeep) = dec(id)
      assert(decCluster == c, s"vec $id cluster $decCluster != $c")
      assert(decCc == prio(id)._1, s"vec $id centroid_cos ${decCc} != ${prio(id)._1}")
      assert(decKeep == !losers.contains(id),
        s"vec $id keep=$decKeep but brute says loser=${losers.contains(id)}")
    }
    // the rule actually fires on this corpus — a τ that never cuts
    // would leave the operator vacuously "correct"
    assert(losers.nonEmpty, "no removals at τ=0.40 — vacuous test corpus")
    assert(losers.size < members.length)
  }

  test("summary contract grid is all-true with the SQL-exact corpus count") {
    val row = Dedup.semanticDedupChecked(spark, sf).collect().head
    assert(row.getAs[Long]("n_total") ==
      graft.core.Tables.embeddings(spark, sf).count())
    Seq("partition_exact", "pairs_resolve", "removed_justified",
      "removed_lt_total").foreach { c =>
      assert(row.getAs[Boolean](c), s"contract check $c failed")
    }
  }

  test("a 20-vector shard with an exact and a near copy gets a decision per vector") {
    // the perfbench curate shape at its smallest: 18 clustered vectors,
    // one exact copy and one near copy — fewer distinct points than
    // the random init can draw distinct centers from
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(20L)
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(x => (x / n).toFloat)
    }
    val centers = Array.fill(16)(Array.fill(64)(rng.nextGaussian()))
    val base = (0 until 18).map { i =>
      unit(centers(rng.nextInt(16)).map(_ + 2.5 / 8 * rng.nextGaussian()))
    }
    val vecs = (base :+ base(3) :+ unit(base(7).map(_ + 0.1 / 8 * rng.nextGaussian())))
      .zipWithIndex.map { case (v, i) => (i.toLong, v, i % 4) }
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-small").toString
    import spark.implicits._
    vecs.toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    val dec = Dedup.semanticDedupDecisions(spark, dir).select(col("vec_id"), col("keep"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(dec.keySet == (0L until 20L).toSet)
    // the exact copy lands in its source's cell and one of the two goes
    assert(!(dec(3L) && dec(18L)), "exact duplicate pair kept twice")
  }

  test("sidecar reuse contract: persisted PQ codes are byte-identical to a fresh dedup encode") {
    // the opportunistic reuse path reads the session's persisted
    // sidecar codes instead of re-encoding; that is sound ONLY
    // because the deterministic fit makes both encodes identical —
    // pin it row by row
    import org.apache.spark.sql.functions.col
    val path = graft.index.IvfIndex.pqLayoutFor(spark, sf)
    val stored = spark.read.parquet(s"$path/pq/codes")
      .select(col("vec_id"), col("code").as("stored_code"))
    val books = graft.index.PqCodebooks.train(
      graft.core.Tables.embeddings(spark, sf))
    val booksBc = spark.sparkContext.broadcast(books)
    val fresh = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        graft.functions.pq.pqEncode(col("embedding"), booksBc).as("fresh_code"))
    val n = fresh.count()
    val matching = stored.join(fresh, Seq("vec_id"))
      .filter(col("stored_code") === col("fresh_code")).count()
    assert(stored.count() == n, "sidecar does not cover the corpus")
    assert(matching == n,
      s"only $matching of $n stored codes match a fresh encode — the reuse path would change decisions")
    // and the reused path's grid still holds end to end (the memo is
    // warm now, so this exercises the REUSE branch)
    val row = Dedup.semanticDedupPqChecked(spark, sf).collect().head
    Seq("partition_exact", "decisions_match_raw", "removed_lt_total")
      .foreach { c => assert(row.getAs[Boolean](c), s"reuse-path contract $c failed") }
  }

  test("dedup_semantic_pq: compressed pair stage yields IDENTICAL decisions to the raw path") {
    val row = Dedup.semanticDedupPqChecked(spark, sf).collect().head
    assert(row.getAs[Long]("n_total") ==
      graft.core.Tables.embeddings(spark, sf).count())
    Seq("partition_exact", "decisions_match_raw", "removed_lt_total")
      .foreach { c => assert(row.getAs[Boolean](c), s"contract check $c failed") }
  }

  test("SDC prefilter safety: max quantization inflation over confirmed pairs stays inside HALF the slack") {
    // the compressed path loses a confirmed-dup pair (and diverges
    // from the raw decisions) only if SDC(a,b) − ‖a−b‖² > slack for
    // some exact-confirmed pair; measure that inflation over EVERY
    // within-cluster confirmed pair with an independent driver-side
    // recompute and demand ≥2× headroom, so codebook drift trips the
    // suite before it can flip a CORRECTNESS row
    val tau = 400000L
    val books = graft.index.PqCodebooks.train(
      graft.core.Tables.embeddings(spark, sf))
    val table = graft.index.PqCodebooks.sdcTable(books)
    val booksBc = spark.sparkContext.broadcast(books)
    val built = graft.index.IvfIndex.buildCached(spark, sf)
    import org.apache.spark.sql.functions.col
    val members = built.assigned
      .select(col("cluster_id"), col("vec_id"), col("embedding"),
        graft.functions.pq.pqEncode(col("embedding"), booksBc).as("code"))
      .collect()
      .map(r => (r.getAs[Int]("cluster_id"), r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toIndexedSeq,
        r.getAs[scala.collection.Seq[Byte]]("code").toIndexedSeq))
    var maxInfl = Double.MinValue
    var confirmed = 0
    members.groupBy(_._1).values.foreach { ms =>
      for (Array((_, _, embA, codeA), (_, _, embB, codeB)) <-
          ms.sortBy(_._2).combinations(2).map(_.toArray)) {
        if (cosE6(embA, embB) >= tau) {
          confirmed += 1
          // exact squared distance on the normalized sphere
          val exact = 2.0 - 2.0 * (cosE6(embA, embB).toDouble / 1e6)
          var sdc = 0.0
          var s = 0
          while (s < table.length) {
            sdc += table(s)(codeA(s).toInt & 0xff)(codeB(s).toInt & 0xff)
            s += 1
          }
          maxInfl = math.max(maxInfl, sdc - exact)
        }
      }
    }
    assert(confirmed > 0, "no confirmed pairs at τ=0.40 — vacuous corpus")
    info(f"max SDC inflation over $confirmed confirmed pairs = $maxInfl%.4f " +
      f"(slack budget ${Dedup.sdcConfirmSlack}%.2f)")
    assert(maxInfl <= Dedup.sdcConfirmSlack / 2,
      f"SDC inflation $maxInfl%.4f exceeds half the slack budget " +
        f"${Dedup.sdcConfirmSlack}%.2f — decisions_match_raw is at risk")
  }

  test("OPQ rotation for the dedup pair shape: measured — rotated sidecar decisions identical, inflation compared") {
    // VERDICT r13 #7: does rotation pay for the dedup pair shape?
    // The batch-join measurement said no (knn_join_pq_opq, 0.890 vs
    // 0.902 recall); dedup's SDC geometry is the same but its metric
    // of merit is different — prefilter INFLATION, not recall. So:
    // measure both alphabets' max inflation over every confirmed
    // pair, and pin that the rotated sidecar still yields decisions
    // frame-identical to the raw path (rotation is an isometry, so
    // the prefilter bound is semantics-preserving by construction).
    import org.apache.spark.sql.functions.col
    val tau = 400000L
    val base = graft.index.IvfIndex.pqLayoutFor(spark, sf) // pq + pqr
    val raw = Dedup.semanticDedupDecisions(spark, sf)
      .select(col("vec_id"), col("keep")).collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1).toSeq
    val rotated = Dedup.semanticDedupPqDecisions(spark, sf, tau, sub = "pqr")
      .select(col("vec_id"), col("keep")).collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1).toSeq
    assert(rotated == raw,
      "rotated-sidecar compressed dedup diverged from the raw decisions")

    // per-alphabet inflation, from the STORED sidecar codes
    def maxInflation(sub: String): (Double, Int) = {
      val books = graft.index.IvfIndex.readCodebooks(spark, base, sub)
      val table = graft.index.PqCodebooks.sdcTable(books)
      val emb = graft.core.Tables.embeddings(spark, sf)
      val built = graft.index.IvfIndex.buildCached(spark, sf)
      val members = built.assigned.select(col("cluster_id"), col("vec_id"), col("embedding"))
        .join(spark.read.parquet(s"$base/$sub/codes")
          .select(col("vec_id"), col("code")), Seq("vec_id"))
        .collect()
        .map(r => (r.getAs[Int]("cluster_id"), r.getAs[Long]("vec_id"),
          r.getAs[scala.collection.Seq[Float]]("embedding").toIndexedSeq,
          r.getAs[scala.collection.Seq[Byte]]("code").toIndexedSeq))
      var maxInfl = Double.MinValue
      var confirmed = 0
      members.groupBy(_._1).values.foreach { ms =>
        for (Array((_, _, embA, codeA), (_, _, embB, codeB)) <-
            ms.sortBy(_._2).combinations(2).map(_.toArray)) {
          if (cosE6(embA, embB) >= tau) {
            confirmed += 1
            val exact = 2.0 - 2.0 * (cosE6(embA, embB).toDouble / 1e6)
            var sdc = 0.0
            var s = 0
            while (s < table.length) {
              sdc += table(s)(codeA(s).toInt & 0xff)(codeB(s).toInt & 0xff)
              s += 1
            }
            maxInfl = math.max(maxInfl, sdc - exact)
          }
        }
      }
      (maxInfl, confirmed)
    }
    val (inflPq, nPq) = maxInflation("pq")
    val (inflPqr, nPqr) = maxInflation("pqr")
    assert(nPq > 0 && nPq == nPqr)
    info(f"max SDC inflation over $nPq confirmed pairs: pq=$inflPq%.4f " +
      f"pqr=$inflPqr%.4f (slack ${Dedup.sdcConfirmSlack}%.2f)")
    // the safety contract the rotated path must clear is the same
    // half-slack bar the unrotated alphabet clears
    assert(inflPqr <= Dedup.sdcConfirmSlack / 2,
      f"rotated SDC inflation $inflPqr%.4f exceeds half the slack budget")
  }
}
