package graft

import graft.index.{IvfIndex, NswIndex, ServeSnapshot}
import graft.operators.Collections
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The in-process serve snapshot against the Spark path it replaces:
  * identical rows, row order and schema for every index type, k below,
  * at and past the corpus, with the zero-conf knobs unset and set;
  * zero Spark jobs per warm /query; a reload after every write that
  * bumps the layout. */
class ServeSnapshotSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** A seeded corpus: documents of random vocabulary words, every
    * seventh with non-ASCII text around its words (the content prefix
    * is a code-point substring). */
  private def corpus(seed: Long, nDocs: Int): (String, Array[String]) = {
    val rng = new scala.util.Random(seed)
    val vocab = Array.fill(200)(Seq.fill(3 + rng.nextInt(6))(('a' + rng.nextInt(26)).toChar).mkString)
    val docs = (0 until nDocs).map { i =>
      val words = Seq.fill(30 + rng.nextInt(150))(vocab(rng.nextInt(vocab.length))).mkString(" ")
      val text = if (i % 7 == 3) s"naïve café — $words 数据 ünïcödé" else words
      (3L * i + 1, text, s"src-${i % 5}")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-corpus").toString
    docs.toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    (dir, vocab)
  }

  private def persisted(dir: String, name: String): String = {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-layout").toString
    Collections.persistChunks(spark, dir, base, name)
    base
  }

  private def dropTables(name: String): Unit =
    Seq("docs", "chunks", "nsw_vectors", "nsw_edges")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${name}_$t"))

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (key, _) => key -> spark.conf.getOption(key) }
    try { kvs.foreach { case (key, v) => spark.conf.set(key, v) }; body }
    finally prev.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  /** Snapshot and Spark path agree; returns the rows. */
  private def same(base: String, name: String, text: String, k: Int,
      t: String): Seq[org.apache.spark.sql.Row] = {
    assert(ServeSnapshot.get(spark, base, name).isDefined, "layout refused its snapshot")
    val snap = Collections.queryTextChunksPersisted(spark, base, name, text, k, t)
    val ref = Collections.queryTextChunksPersistedSpark(spark, base, name, text, k, t)
    assert(snap.schema == ref.schema, s"[$t k=$k] schema")
    val (s, r) = (snap.collect().toSeq, ref.collect().toSeq)
    assert(s == r, s"[$t k=$k '$text'] snapshot rows differ from the Spark path")
    s
  }

  private def nChunks(base: String): Int =
    spark.read.parquet(s"$base/chunk_embeddings").count().toInt

  test("snapshot /query equals the Spark path: every index type, k, probe-mass and beam conf") {
    val (dir, vocab) = corpus(11L, 40)
    val name = "snapdiff"
    val base = persisted(dir, name)
    try {
      val n = nChunks(base)
      // a text of corpus words, and one with no token (a zero vector:
      // every score ties, so the id order alone ranks)
      val texts = Seq(vocab.take(6).mkString(" "), "?!")
      for (k <- Seq(1, 10, n + 5)) {
        texts.foreach(t => same(base, name, t, k, "cosine"))
        for (pm <- Seq(None, Some("count"), Some("0.35")))
          withConf(pm.map(IvfIndex.probeMassConfKey -> _).toSeq: _*) {
            same(base, name, texts(0), k, "ivf")
          }
        same(base, name, texts(0), k, "nsw")
        withConf(NswIndex.beamConfKey -> "4", NswIndex.hopsConfKey -> "2") {
          same(base, name, texts(0), k, "nsw")
        }
      }
      // the full corpus comes back for k past it
      assert(same(base, name, texts(0), n + 5, "cosine").length == n)
      intercept[IllegalArgumentException](
        Collections.queryTextChunksPersisted(spark, base, name, "x", 3, "lsh"))
    } finally dropTables(name)
  }

  test("sf0.001 layout: Spark-path parity, no Spark job per warm query, the budget decision") {
    val name = "snapsf"
    val base = persisted(sf, name)
    try {
      Seq("cosine", "ivf", "nsw").foreach(t => same(base, name, Collections.DemoQueryText, 10, t))
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val marker = new java.util.concurrent.CountDownLatch(1)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == "snap-marker")
            marker.countDown()
          else jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        for (t <- Seq("cosine", "ivf", "nsw"); text <- Seq("alpha beta", "the gamma delta"))
          Collections.queryTextChunksPersisted(spark, base, name, text, 10, t).collect()
        // listener events arrive in order: once the marker job shows,
        // every job the queries started has been counted
        spark.sparkContext.setJobGroup("snap-marker", "marker")
        try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
        assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
        assert(jobs.get() == 0, s"${jobs.get()} Spark jobs over 6 warm /query calls")
      } finally spark.sparkContext.removeSparkListener(listener)
      // the decision record: read from footers, loads under a big heap,
      // refused under one four times the estimate
      val d = ServeSnapshot.decide(spark, base, maxHeap = 1L << 40)
      val n = nChunks(base)
      assert(d.loads && d.n == n && d.dim == graft.embed.Embedder.DefaultDim)
      assert(d.edges == spark.table(s"${name}_nsw_edges").count())
      // vectors: brute, IVF and NSW copies of the corpus, plus centroids
      assert(d.estBytes >= 3L * n * d.dim * 4)
      val refused = ServeSnapshot.decide(spark, base, maxHeap = d.estBytes * 4)
      assert(!refused.loads && refused.estBytes == d.estBytes)
      assert(refused.record.contains("\"serves\":\"spark\"") &&
        d.record.contains("\"serves\":\"snapshot\"") &&
        d.record.contains(s""""n":$n,"dim":64"""))
    } finally dropTables(name)
  }

  test("re-persisting another corpus to the same layout reloads the snapshot") {
    val (dirA, vocabA) = corpus(21L, 25)
    val (dirB, _) = corpus(22L, 25)
    val name = "snapevict"
    val base = persisted(dirA, name)
    try {
      val text = vocabA.take(5).mkString(" ")
      val before = Seq("cosine", "ivf", "nsw").map(t => same(base, name, text, 10, t))
      Collections.persistChunks(spark, dirB, base, name)
      val after = Seq("cosine", "ivf", "nsw").map(t => same(base, name, text, 10, t))
      // B's rows, not a stale A answer (corpora share no text)
      before.zip(after).foreach { case (a, b) => assert(a != b) }
    } finally dropTables(name)
  }

  test("after each IVF mutation the snapshot's IVF /query equals the Spark path") {
    val (dir, vocab) = corpus(31L, 30)
    val name = "snapmut"
    val base = persisted(dir, name)
    val ivf = s"$base/ivf"
    try {
      val texts = Seq(vocab.take(4).mkString(" "), vocab.slice(10, 16).mkString(" "))
      def check(): Unit = texts.foreach(t => same(base, name, t, 10, "ivf"))
      check()
      val stored = spark.read.parquet(s"$ivf/vectors").select($"vec_id", $"embedding")
        .orderBy($"vec_id").localCheckpoint(true)
      // upserts: perturbed copies of stored chunks plus ids with no chunk
      val moved = stored.limit(6)
        .select($"vec_id", transform($"embedding", x => x * 0.9f + 0.01f).as("embedding"))
      val fresh = stored.limit(4)
        .select(($"vec_id" + 500000L).as("vec_id"), $"embedding")
      IvfIndex.addDeltaPersisted(spark, ivf, moved.unionByName(fresh))
      check()
      IvfIndex.removeDeltaPersisted(spark, ivf, stored.select($"vec_id").limit(8))
      check()
      assert(IvfIndex.maintain(spark, ivf, fresh, threshold = 0.0), "maintain did not re-fit")
      check()
    } finally dropTables(name)
  }

  test("budget: a pure check on the estimate") {
    assert(ServeSnapshot.fits(100L, 800L))
    assert(!ServeSnapshot.fits(101L, 800L))
    assert(ServeSnapshot.MaxSnapshots.toDouble / ServeSnapshot.HeapShare <= 0.5)
  }
}
