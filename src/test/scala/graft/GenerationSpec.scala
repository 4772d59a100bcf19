package graft

import graft.index.{Generations, IvfIndex, NswIndex, NswSnapshotLayout, SnapshotLayout}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Generation cutover lifecycle: the drift envelope trips → cutover →
  * the successor serves fresh addresses while old as-ofs stay
  * answerable — plus the crash and misuse paths the driver grid
  * (`ivf_generation`/`nsw_generation`) cannot drive: a cutover crashed
  * before its pointer commit, replay of a pre-cutover batch id, and
  * routing below every generation's floor.
  */
class GenerationSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val emb = graft.core.Tables.embeddings(spark, sf)
    .select($"vec_id", $"embedding", $"label")

  test("IVF: drift accumulates, cutover resets the gauge, old as-ofs answer, cross-generation rollback refused") {
    val root = java.nio.file.Files.createTempDirectory("graft-gen-ivf")
      .toString + "/root"
    val base = emb.filter($"vec_id" >= 50)
    SnapshotLayout.initGen(
      IvfIndex.build(spark, base, metaCols = Seq("label")), root)
    SnapshotLayout.applyBatchGen(spark, root, 1L,
      upserts = emb.filter($"vec_id" < 25),
      deletes = emb.limit(0).select($"vec_id"))
    SnapshotLayout.applyBatchGen(spark, root, 2L,
      upserts = emb.filter($"vec_id" >= 25 && $"vec_id" < 50),
      deletes = emb.filter($"vec_id" === 7).select($"vec_id"))
    // the envelope: fitted on n-50 rows, 51 delta rows since
    val before = SnapshotLayout.layoutDebtGen(spark, root).collect()
    assert(before.length == 1 && before.head.getAs[Long]("delta_since_fit") == 51L)
    val queries = emb.filter($"vec_id" < 5 && $"vec_id" =!= 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val asof1Pre = SnapshotLayout.searchAsOfGen(spark, root, 1L, queries)
      .localCheckpoint(true)
    assert(SnapshotLayout.newGeneration(spark, root) == 2)
    assert(Generations.current(spark, root) == 2)
    // gauge reset on the successor; predecessor still reported
    val after = SnapshotLayout.layoutDebtGen(spark, root).collect()
      .map(r => r.getAs[Long]("generation") ->
        (r.getAs[Long]("delta_since_fit"), r.getAs[Boolean]("is_current"))).toMap
    assert(after(2L) == (0L, true) && after(1L) == (51L, false))
    // old as-of routes to generation 1 and serves identically
    val asof1Post = SnapshotLayout.searchAsOfGen(spark, root, 1L, queries)
    assert(SnapshotLayout.serveDiffCount(asof1Pre, asof1Post, "n")
      .collect().head.getLong(0) == 0L)
    // the tombstoned id stays dead through the cutover
    assert(SnapshotLayout.asOfAssignedGen(spark, root, Long.MaxValue)
      .filter($"vec_id" === 7).isEmpty)
    // rollback cannot cross the generation boundary
    intercept[IllegalArgumentException] {
      SnapshotLayout.rollbackGen(spark, root, 1L)
    }
    // ...but works within the successor once it has its own batches
    SnapshotLayout.applyBatchGen(spark, root, 3L,
      upserts = emb.filter($"vec_id" === 7),
      deletes = emb.limit(0).select($"vec_id"))
    assert(!SnapshotLayout.asOfAssignedGen(spark, root, Long.MaxValue)
      .filter($"vec_id" === 7).isEmpty)
    SnapshotLayout.rollbackGen(spark, root, 2L)
    assert(SnapshotLayout.asOfAssignedGen(spark, root, Long.MaxValue)
      .filter($"vec_id" === 7).isEmpty)
    // a replayed pre-cutover batch id is a whole-batch no-op on the
    // successor (its id sits at/below the generation base)
    val rows = spark.read.parquet(
      s"${Generations.genPath(root, 2)}/vectors").count()
    SnapshotLayout.applyBatchGen(spark, root, 1L,
      upserts = emb.filter($"vec_id" === 3),
      deletes = emb.limit(0).select($"vec_id"))
    assert(spark.read.parquet(
      s"${Generations.genPath(root, 2)}/vectors").count() == rows)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("a cutover crashed before its pointer commit is invisible and the retry overwrites it") {
    val root = java.nio.file.Files.createTempDirectory("graft-gen-crash")
      .toString + "/root"
    val base = emb.filter($"vec_id" >= 50 && $"vec_id" < 150)
      .select($"vec_id", $"embedding")
    SnapshotLayout.initGen(IvfIndex.build(spark, base), root)
    SnapshotLayout.applyBatchGen(spark, root, 1L,
      upserts = emb.filter($"vec_id" < 10).select($"vec_id", $"embedding"),
      deletes = emb.limit(0).select($"vec_id"))
    // simulate the crash window: the successor directory exists
    // (fully built, even) but the pointer never committed
    SnapshotLayout.init(
      IvfIndex.build(spark, base.limit(20)),
      Generations.genPath(root, 2), baseBatch = 1L)
    assert(Generations.current(spark, root) == 1)
    assert(Generations.list(spark, root) == Seq(1))
    // routing never sees the garbage: head still serves generation 1
    val head = SnapshotLayout.asOfAssignedGen(spark, root, Long.MaxValue)
    assert(head.count() == base.count() + 10)
    // the retry overwrites the partial directory and commits
    assert(SnapshotLayout.newGeneration(spark, root) == 2)
    assert(SnapshotLayout.asOfAssignedGen(spark, root, Long.MaxValue)
      .count() == base.count() + 10)
    // below every generation's floor: refused
    intercept[IllegalArgumentException] {
      Generations.route(spark, root, -1L)
    }
    // a non-generational directory: refused, not guessed
    intercept[IllegalArgumentException] {
      Generations.current(spark, s"$root/generation=1")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("generational serving surface: filtered and ADC tiers route, CDC straddles the cutover") {
    val root = java.nio.file.Files.createTempDirectory("graft-gen-surface")
      .toString + "/root"
    val base = emb.filter($"vec_id" >= 50)
    SnapshotLayout.initGen(
      IvfIndex.build(spark, base, metaCols = Seq("label")), root)
    SnapshotLayout.initPq(spark, Generations.genPath(root, 1))
    SnapshotLayout.applyBatchGen(spark, root, 1L,
      upserts = emb.filter($"vec_id" < 10),
      deletes = emb.limit(0).select($"vec_id"))
    assert(SnapshotLayout.newGeneration(spark, root) == 2)
    // post-cutover changes: one delete, six adds (batch ids continue)
    SnapshotLayout.applyBatchGen(spark, root, 2L,
      upserts = emb.filter($"vec_id" >= 10 && $"vec_id" < 16),
      deletes = emb.filter($"vec_id" === 3).select($"vec_id"))
    // CDC straddling the cutover: from batch 1 (generation 1) to head
    // (generation 2) — exactly the real changes, nothing from the
    // boundary re-addressing
    val feed = SnapshotLayout.asOfDiffGen(spark, root, 1L, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == ((10L until 16L).map(i => (i, "added")).toSet +
      ((3L, "deleted"))), s"straddling feed off: $feed")
    // filtered serve through the root at head: all-legal k rows, self
    // found at 1.0 (metadata survived the re-fit)
    val q = emb.filter($"vec_id" === 12)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"),
        $"label".as("q_label"))
    val filtered = SnapshotLayout.searchAsOfFilteredGen(spark, root,
      Long.MaxValue, q, col("label") === col("q_label")).collect()
    assert(filtered.exists(r => r.getAs[Long]("neighbor_id") == 12L &&
      r.getAs[Long]("score_e6") == 1000000L))
    // ADC serve through the root at head: the carried sidecar serves;
    // at exhaustive rerank it is row-identical to the raw routed serve
    val qs = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val adc = SnapshotLayout.searchAsOfPqGen(spark, root, Long.MaxValue, qs,
      rerank = 1000000)
    val raw = SnapshotLayout.searchAsOfGen(spark, root, Long.MaxValue, qs)
    assert(SnapshotLayout.serveDiffCount(adc, raw, "n")
      .collect().head.getLong(0) == 0L)
    // a straddling diff whose FROM predates every floor still refuses
    intercept[IllegalArgumentException] {
      SnapshotLayout.asOfDiffGen(spark, root, -1L, Long.MaxValue)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("single serves return the batch serve's rows under every probe policy") {
    // one-row query frames through each single/batch serve pair, with
    // the pair's policy resolved inside the conf window it is built in:
    // count (explicit nProbe), a conf tau, and the tuned auto tau
    val dir = java.nio.file.Files.createTempDirectory("graft-gen-single").toString
    // a tuning identity (so the auto policy tunes) under a dir the
    // layout writes below do not invalidate
    val built = IvfIndex.buildCachedFor(s"gen-single:$dir", spark,
      emb.filter($"vec_id" >= 50), s"$dir/corpus", metaCols = Seq("label"))
    val path = s"$dir/ivf"
    val root = s"$dir/root"
    IvfIndex.persist(built, path)
    SnapshotLayout.initGen(built, root)
    SnapshotLayout.applyBatchGen(spark, root, 1L,
      upserts = emb.filter($"vec_id" < 50),
      deletes = emb.filter($"vec_id" === 7).select($"vec_id"))
    val pred = col("label") === col("q_label")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.select($"q_id", $"neighbor_id", $"score_e6", $"rank").collect()
        .map(_.toSeq).toSeq.sortBy(_(3).asInstanceOf[Long])
    def withConf[A](v: Option[String])(body: => A): A = {
      val key = IvfIndex.probeMassConfKey
      val saved = spark.conf.getOption(key)
      v.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      try body finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    val q = emb.filter($"vec_id" === 12L)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"), $"label".as("q_label"))
    val qv = q.drop("q_label")
    val head = Long.MaxValue
    for ((policy, conf, np) <- Seq(("count", None, 5), ("conf tau", Some("0.05"), 0),
        ("auto", None, 0))) withConf(conf) {
      val pairs = Seq(
        "in-memory" -> (IvfIndex.search(built, qv, np), IvfIndex.searchSingle(built, qv, np)),
        "in-memory filtered" -> (IvfIndex.searchFiltered(built, q, pred, np),
          IvfIndex.searchFilteredSingle(built, q, pred, np)),
        "persisted" -> (IvfIndex.searchPersisted(spark, path, qv, np),
          IvfIndex.searchPersistedSingle(spark, path, qv, np)),
        "as-of" -> (SnapshotLayout.searchAsOfGen(spark, root, head, qv, np),
          SnapshotLayout.searchAsOfSingleGen(spark, root, head, qv, np)),
        "as-of filtered" -> (SnapshotLayout.searchAsOfFilteredGen(spark, root, head, q, pred, np),
          SnapshotLayout.searchAsOfFilteredSingleGen(spark, root, head, q, pred, np)))
      for ((serve, (batch, single)) <- pairs) {
        val want = rows(batch)
        assert(want.nonEmpty, s"$policy / $serve: batch served no rows")
        assert(rows(single) == want, s"$policy / $serve: single serve differs from batch")
      }
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("retiring a generation: drops refuse current/missing targets; retired coverage refuses at routing") {
    val root = java.nio.file.Files.createTempDirectory("graft-gen-retire")
      .toString + "/root"
    val base = emb.filter($"vec_id" >= 50 && $"vec_id" < 150)
      .select($"vec_id", $"embedding")
    SnapshotLayout.initGen(IvfIndex.build(spark, base), root)
    SnapshotLayout.applyBatchGen(spark, root, 1L,
      upserts = emb.filter($"vec_id" < 5).select($"vec_id", $"embedding"),
      deletes = emb.limit(0).select($"vec_id"))
    assert(SnapshotLayout.newGeneration(spark, root) == 2) // gen2 base = 1
    SnapshotLayout.applyBatchGen(spark, root, 2L,
      upserts = emb.filter($"vec_id" >= 5 && $"vec_id" < 8)
        .select($"vec_id", $"embedding"),
      deletes = emb.limit(0).select($"vec_id"))
    assert(SnapshotLayout.newGeneration(spark, root) == 3) // gen3 base = 2
    // refusals: current, above-pointer, missing
    intercept[IllegalArgumentException] {
      Generations.dropGeneration(spark, root, 3)
    }
    intercept[IllegalArgumentException] {
      Generations.dropGeneration(spark, root, 7)
    }
    // retire the middle generation
    Generations.dropGeneration(spark, root, 2)
    assert(Generations.list(spark, root) == Seq(1, 3))
    intercept[IllegalArgumentException] {
      Generations.dropGeneration(spark, root, 2) // already gone
    }
    // generation 1 still answers its own range (batch 0: the base)
    assert(SnapshotLayout.asOfAssignedGen(spark, root, 0L).count() == 100L)
    // batch 2 sits exactly on generation 3's base, so the boundary
    // rule still answers it from gen 3 — no gap at a shared endpoint
    assert(Generations.route(spark, root, 2L).endsWith("generation=3"))
    // head serves from the current generation as before the drop
    assert(SnapshotLayout.asOfAssignedGen(spark, root, Long.MaxValue)
      .count() == 108L)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("retired coverage gap: an as-of only the dropped generation held refuses at routing") {
    val root = java.nio.file.Files.createTempDirectory("graft-gen-gap")
      .toString + "/root"
    val base = emb.filter($"vec_id" >= 50 && $"vec_id" < 150)
      .select($"vec_id", $"embedding")
    SnapshotLayout.initGen(IvfIndex.build(spark, base), root)
    SnapshotLayout.applyBatchGen(spark, root, 1L,
      upserts = emb.filter($"vec_id" < 5).select($"vec_id", $"embedding"),
      deletes = emb.limit(0).select($"vec_id"))
    assert(SnapshotLayout.newGeneration(spark, root) == 2) // gen2 base 1
    // gen2 accumulates history: batches 2 and 3
    Seq(2L, 3L).foreach(id => SnapshotLayout.applyBatchGen(spark, root, id,
      upserts = emb.filter($"vec_id" === id + 10)
        .select($"vec_id", $"embedding"),
      deletes = emb.limit(0).select($"vec_id")))
    assert(SnapshotLayout.newGeneration(spark, root) == 3) // gen3 base 3
    Generations.dropGeneration(spark, root, 2)
    // batch 2 was covered ONLY by the retired generation 2 (gen1 ends
    // at 1, gen3 starts at 3): routing must refuse, not serve gen1's
    // head as if it were batch 2
    val ex = intercept[IllegalArgumentException] {
      Generations.route(spark, root, 2L)
    }
    assert(ex.getMessage.contains("retired"), ex.getMessage)
    // the neighbors still answer
    assert(Generations.route(spark, root, 1L).endsWith("generation=1"))
    assert(Generations.route(spark, root, 3L).endsWith("generation=3"))
    assert(SnapshotLayout.asOfAssignedGen(spark, root, Long.MaxValue)
      .count() == 107L)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("rowSetDiffCount is a null-safe multiset diff") {
    def n(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Long =
      SnapshotLayout.rowSetDiffCount(a, b, "n").collect().head.getLong(0)
    val dup = Seq((1L, "x"), (1L, "x")).toDF("k", "v")
    val one = Seq((1L, "x")).toDF("k", "v")
    // a duplicated row vs a single copy IS a difference (the naive
    // union-count heuristic read this as identical)
    assert(n(dup, one) == 1L && n(one, dup) == 1L)
    // identical duplicates on both sides are NOT
    assert(n(dup, dup) == 0L)
    // null fields compare null-safely: present-in-both is identical,
    // a null-vs-value flip is a difference
    val withNull = Seq((1L, Option.empty[String]), (2L, Some("y")))
      .toDF("k", "v")
    assert(n(withNull, withNull) == 0L)
    val flipped = Seq((1L, Some("z")), (2L, Some("y"))).toDF("k", "v")
    assert(n(withNull, flipped) == 2L)
  }

  test("pointer files are monotonic: a stale lower pointer loses to max; legacy single-cell roots resolve") {
    val root = java.nio.file.Files.createTempDirectory("graft-gen-ptr")
      .toString + "/root"
    val base = emb.filter($"vec_id" >= 50 && $"vec_id" < 150)
      .select($"vec_id", $"embedding")
    SnapshotLayout.initGen(IvfIndex.build(spark, base), root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/_current.v1.json")))
    SnapshotLayout.applyBatchGen(spark, root, 1L,
      upserts = emb.filter($"vec_id" < 10).select($"vec_id", $"embedding"),
      deletes = emb.limit(0).select($"vec_id"))
    assert(SnapshotLayout.newGeneration(spark, root) == 2)
    // the commit retired the old pointer file
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_current.v1.json")))
    // simulate a commit crashed between rename and retire: both
    // pointer files on disk — max wins, reads never brick
    val stale = fs.create(
      new org.apache.hadoop.fs.Path(s"$root/_current.v1.json"), true)
    stale.write("""{"generation":1}""".getBytes); stale.close()
    assert(Generations.current(spark, root) == 2)
    assert(SnapshotLayout.asOfAssignedGen(spark, root, Long.MaxValue)
      .count() == base.count() + 10)
    // a legacy single-cell root (written by an older layout) resolves
    val legacyRoot = java.nio.file.Files
      .createTempDirectory("graft-gen-legacy").toString + "/root"
    fs.mkdirs(new org.apache.hadoop.fs.Path(legacyRoot))
    val cell = fs.create(
      new org.apache.hadoop.fs.Path(s"$legacyRoot/_current.json"), true)
    cell.write("""{"generation":3}""".getBytes); cell.close()
    assert(Generations.current(spark, legacyRoot) == 3)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(legacyRoot).getParentFile)
  }

  test("CDC payload fingerprints are column-order invariant") {
    // each side of a cross-generation diff derives its payload order
    // from its own parquet schema — a successor listing metadata in a
    // different order must not classify every live row as updated
    val before = Seq((1L, "a", 10), (2L, "b", 20))
      .toDF("vec_id", "label", "extra")
    val after = Seq((1L, 10, "a"), (2L, 20, "b"))
      .toDF("vec_id", "extra", "label")
    assert(SnapshotLayout.diffLiveSets(before, after).isEmpty)
    // ...while a genuine value change still classifies
    val changed = Seq((1L, 10, "a"), (2L, 20, "CHANGED"))
      .toDF("vec_id", "extra", "label")
    val d = SnapshotLayout.diffLiveSets(before, changed).collect()
    assert(d.length == 1 && d.head.getAs[Long]("vec_id") == 2L &&
      d.head.getAs[String]("change") == "updated")
  }

  test("NSW: cutover rebuilds the graph from the live set — stale re-add edges healed, old as-ofs answer") {
    val root = java.nio.file.Files.createTempDirectory("graft-gen-nsw")
      .toString + "/root"
    val base = emb.filter($"vec_id" >= 50 && $"vec_id" < 170)
      .localCheckpoint(true)
    NswSnapshotLayout.initGen(base,
      NswIndex.buildEdgesLsh(base.select($"vec_id", $"embedding")), root)
    NswSnapshotLayout.applyBatchGen(spark, root, 1L,
      upserts = emb.filter($"vec_id" < 10),
      deletes = emb.limit(0).select($"vec_id"))
    // delete then re-add id 3: the append-only wart (its batch-1
    // edges reappear at reconstruction) that a cutover heals
    NswSnapshotLayout.applyBatchGen(spark, root, 2L,
      upserts = emb.limit(0),
      deletes = emb.filter($"vec_id" === 3).select($"vec_id"))
    NswSnapshotLayout.applyBatchGen(spark, root, 3L,
      upserts = emb.filter($"vec_id" === 3),
      deletes = emb.limit(0).select($"vec_id"))
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val asof1Pre = NswSnapshotLayout.searchAsOfGen(spark, root, 1L, queries)
      .localCheckpoint(true)
    assert(NswSnapshotLayout.newGeneration(spark, root) == 2)
    val gen2 = Generations.genPath(root, 2)
    // the successor's base graph has id 3 linked ONLY at its fresh
    // position: one batch directory, every edge from the clean build
    val edgeBatches = spark.read.parquet(s"$gen2/edges")
      .select($"batch_id").distinct().as[Long].collect().toSet
    assert(edgeBatches == Set(3L), s"successor edges not a single base: $edgeBatches")
    // old as-of still served through the root
    val asof1Post = NswSnapshotLayout.searchAsOfGen(spark, root, 1L, queries)
    assert(SnapshotLayout.serveDiffCount(asof1Pre, asof1Post, "n")
      .collect().head.getLong(0) == 0L)
    // gauge: successor clean, predecessor keeps its history
    val after = NswSnapshotLayout.layoutDebtGen(spark, root).collect()
      .map(r => r.getAs[Long]("generation") -> r.getAs[Long]("n_batches")).toMap
    assert(after == Map(1L -> 4L, 2L -> 1L))
    intercept[IllegalArgumentException] {
      NswSnapshotLayout.rollbackGen(spark, root, 2L)
    }
    graft.core.Checkpoints.free(base)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }
}
