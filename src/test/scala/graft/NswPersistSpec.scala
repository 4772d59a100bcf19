package graft

import java.nio.file.Files

import graft.index.NswIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted NSW layout must serve exactly what the in-memory
  * graph serves: build once, persist, and prove the beam search over
  * the disk layout is row-identical (ids, ranks, scores) to the
  * search over the in-memory edge table. */
class NswPersistSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("beam search over the persisted layout equals the in-memory search") {
    val tmp = Files.createTempDirectory("graft_nsw_persist").toFile.getAbsolutePath
    val emb = graft.core.Tables.embeddings(spark, sf)
    val edges = NswIndex.buildEdges(emb)
    NswIndex.persist(emb, edges, tmp)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
      df.select($"q_id", $"rank", $"neighbor_id", $"score_e6")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val inMemory = rows(NswIndex.beamSearch(emb, edges, queries))
    val persisted = rows(NswIndex.searchPersisted(spark, tmp, queries))
    assert(persisted == inMemory)
    assert(inMemory.nonEmpty && inMemory.map(_._1).distinct.size == 5)
  }

  /** Degenerate corpora for the graph family: one row, fewer rows
    * than the graph degree, and every row identical — each with k past
    * n. Both builds must emit a well-formed graph, and the walk must
    * serve min(k, n) rows per query under both scorers: raw cosine
    * ([[NswIndex.beamSearch]], over both graphs) and ADC + exact
    * rerank ([[NswIndex.searchPersistedPq]] over a PQ sidecar of the
    * exact graph's layout). */
  test("degenerate corpora: n = 1, n below the degree, identical rows") {
    val rng = new scala.util.Random(7)
    def randVec() = Array.fill(16)(rng.nextFloat() - 0.5f)
    val same = randVec()
    val cases = Seq(
      "n = 1" -> Seq(randVec()),
      "n below the degree" -> Seq.fill(3)(randVec()),
      "identical rows" -> Seq.fill(6)(same.clone()))
    for ((name, vecs) <- cases) {
      val n = vecs.length
      val k = n + 5
      val emb = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val queries = emb.select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
      // k > n: every query is served the whole corpus, once each
      def assertServesAll(what: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val got = df.select($"q_id", $"neighbor_id").as[(Long, Long)].collect().toSeq
          .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).sorted }
        assert(got.keySet == (0L until n).toSet && got.values.forall(_ == (0L until n)),
          s"$what: $got")
      }
      val exact = NswIndex.buildEdges(emb)
      for ((build, edges) <- Seq("exact" -> exact, "lsh" -> NswIndex.buildEdgesLsh(emb))) {
        val e = edges.select($"src", $"dst").as[(Long, Long)].collect()
        assert(e.forall { case (s, d) => s != d }, s"$name/$build: self-loop")
        assert(e.groupBy(_._1).values.forall(_.length <= math.min(NswIndex.graphDegree, n - 1)),
          s"$name/$build: out-degree past min(degree, n - 1)")
        assertServesAll(s"$name/$build cosine walk",
          NswIndex.beamSearch(emb, edges, queries, k = k))
      }
      val dir = Files.createTempDirectory("graft_nsw_degenerate").toFile.getAbsolutePath
      try {
        NswIndex.persist(emb, exact, dir)
        NswIndex.persistPq(spark, dir)
        assertServesAll(s"$name ADC walk", NswIndex.searchPersistedPq(spark, dir, queries, k = k))
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
