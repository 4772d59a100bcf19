package graft

import graft.index.{IvfIndex, NswIndex, NswSnapshotLayout, SnapshotLayout}
import graft.store.{IndexVersions, VersionedMemo}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 pins for the ADVICE-r14 fixes:
  *
  *  - `applyBatch` is a layout mutation and must bump
  *    [[IndexVersions]] (the medium finding): a HEAD-addressed memo
  *    (fine as-of alphabets keyed `@Long.MaxValue`) has a constant key
  *    across appends, so without the bump it silently serves a fit
  *    trained on the pre-append live set.
  *  - Knob conf parse errors name the offending key.
  *  - [[VersionedMemo]] is LRU-capped (VERDICT r14 #4): a session
  *    sweeping unbounded as-of labels stays bounded, and re-access
  *    refits byte-identically.
  *  - `scaleKnobs` reports the UNCONDITIONAL derivation (its oracle
  *    recomputes the formula; a session k-override must not break the
  *    checked query) while `buildCached` keys on the effective conf
  *    so a checked grid never reads a layout memoized under a
  *    different k.
  */
class Round15Spec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("applyBatch bumps IndexVersions; replays do not (IVF + NSW twins)") {
    val all = graft.core.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
    val none = all.limit(0).select($"vec_id")

    // IVF versioned layout
    val ivfPath = tmp("graft-r15-bump") + "/ivf"
    SnapshotLayout.init(IvfIndex.build(spark, all.filter($"vec_id" >= 50)), ivfPath)
    val v0 = IndexVersions.version(ivfPath)
    SnapshotLayout.applyBatch(spark, ivfPath, 1L,
      upserts = all.filter($"vec_id" < 10), deletes = none)
    val v1 = IndexVersions.version(ivfPath)
    assert(v1 > v0, "IVF applyBatch must bump the layout version")
    // a replayed batch id returns before any write — and before the bump
    SnapshotLayout.applyBatch(spark, ivfPath, 1L,
      upserts = all.filter($"vec_id" < 10), deletes = none)
    assert(IndexVersions.version(ivfPath) == v1,
      "a replayed batch is a no-op and must not bump")

    // the mechanism under threat: a memo keyed on a HEAD label (the
    // fine as-of alphabet shape) must refit after an append
    val memo = new VersionedMemo[Int]()
    var fits = 0
    def fit(): Int = memo.get(spark, s"fine-asof:$ivfPath/pq@${Long.MaxValue}",
      ivfPath) { fits += 1; fits }
    assert(fit() == 1 && fit() == 1, "unchanged layout must serve the memo")
    SnapshotLayout.applyBatch(spark, ivfPath, 2L,
      upserts = all.filter($"vec_id" >= 10 && $"vec_id" < 20), deletes = none)
    assert(fit() == 2, "an applied batch must invalidate head-addressed memos")

    // NSW versioned layout
    val nswPath = tmp("graft-r15-bump-nsw") + "/nsw"
    val base = all.filter($"vec_id" >= 50).localCheckpoint(true)
    NswSnapshotLayout.init(base, NswIndex.buildEdges(base), nswPath)
    val w0 = IndexVersions.version(nswPath)
    NswSnapshotLayout.applyBatch(spark, nswPath, 1L,
      upserts = all.filter($"vec_id" < 5), deletes = none)
    assert(IndexVersions.version(nswPath) > w0,
      "NSW applyBatch must bump the layout version")
    val w1 = IndexVersions.version(nswPath)
    NswSnapshotLayout.applyBatch(spark, nswPath, 1L,
      upserts = all.filter($"vec_id" < 5), deletes = none)
    assert(IndexVersions.version(nswPath) == w1,
      "a replayed NSW batch must not bump")
  }

  test("knob conf parse errors name the offending key") {
    def withConf[T](key: String, v: String)(body: => T): T = {
      val old = spark.conf.getOption(key)
      spark.conf.set(key, v)
      try body
      finally { spark.conf.unset(key); old.foreach(spark.conf.set(key, _)) }
    }
    val eK = intercept[IllegalArgumentException] {
      withConf(IvfIndex.kConfKey, "abc")(IvfIndex.kFor(spark, 1000L))
    }
    assert(eK.getMessage.contains(IvfIndex.kConfKey) &&
      eK.getMessage.contains("abc"))
    val eS = intercept[IllegalArgumentException] {
      withConf(IvfIndex.coSaltConfKey, "8.5")(IvfIndex.coSaltBuckets(spark))
    }
    assert(eS.getMessage.contains(IvfIndex.coSaltConfKey))
  }

  test("VersionedMemo is LRU-capped: bounded size, identical refit on re-access") {
    var evicted = List.empty[Int]
    val memo = new VersionedMemo[Int](
      onEvict = (v: Int) => evicted ::= v, maxEntries = 4)
    val dir = tmp("graft-r15-lru")
    var builds = 0
    def get(label: Int): Int =
      memo.get(spark, s"asof@$label", dir) { builds += 1; label * 100 }
    // sweep far past the cap — the long-lived-serving-session shape
    (1 to 12).foreach(l => assert(get(l) == l * 100))
    assert(memo.size <= 4, s"memo grew past its cap: ${memo.size}")
    assert(builds == 12)
    assert(evicted.size == 8, "every eviction must release through onEvict")
    // the most recent labels survived (LRU), older ones refit —
    // byte-identical because the build is deterministic
    assert(get(12) == 1200 && builds == 12, "hot entry must not refit")
    assert(get(1) == 100 && builds == 13, "evicted entry refits identically")
  }

  test("scaleKnobs ignores the session k-override; buildCached keys on it") {
    val auto = IvfIndex.scaleKnobs(spark, sf).collect()(0)
    val n = auto.getLong(0)
    assert(auto.getLong(1) == IvfIndex.kAutoFor(n).toLong)
    val old = spark.conf.getOption(IvfIndex.kConfKey)
    spark.conf.set(IvfIndex.kConfKey, "7")
    try {
      // the ORACLED query must not follow the conf (its SQL recomputes
      // the unconditional formula from count(*))
      val r = IvfIndex.scaleKnobs(spark, sf).collect()(0)
      assert(r.getLong(1) == IvfIndex.kAutoFor(n).toLong,
        "index_scale_knobs must report the unconditional derivation")
      // ...but the session's layouts DO follow it, through a memo key
      // that carries the conf (a k=7 session must not be served the
      // auto-k entry memoized before the override)
      assert(IvfIndex.buildCached(spark, sf).centroids.count() == 7L)
    } finally {
      spark.conf.unset(IvfIndex.kConfKey)
      old.foreach(spark.conf.set(IvfIndex.kConfKey, _))
    }
    assert(IvfIndex.buildCached(spark, sf).centroids.count() ==
      IvfIndex.kAutoFor(n).toLong,
      "clearing the override must route back to the auto-k layout")
  }

  test("mass-threshold probing: tau=1 is exact, conf == param route, bad tau named") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val built = IvfIndex.buildCached(spark, sf)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(identity).toSeq
    // tau = 1.0 keeps every ranked cell (the last cell's PRIOR mass is
    // < n by construction) — identical to the exact full-count probe
    val kAll = built.centroids.count().toInt
    assert(rows(IvfIndex.search(built, queries, probeMass = Some(1.0))) ==
      rows(IvfIndex.search(built, queries, nProbe = kAll)),
      "tau=1.0 must serve the exact full-probe result")
    // the join twin: tau=1.0 == the full-probe all-pairs join
    assert(rows(IvfIndex.knnJoinIvf(built, probeMass = Some(1.0))) ==
      rows(IvfIndex.knnJoinIvf(built, nProbe = kAll)),
      "join at tau=1.0 must equal the full-probe join")
    // conf route (nProbe auto sentinel) == explicit-param route
    val old = spark.conf.getOption(IvfIndex.probeMassConfKey)
    spark.conf.set(IvfIndex.probeMassConfKey, "0.5")
    try {
      assert(rows(IvfIndex.search(built, queries)) ==
        rows(IvfIndex.search(built, queries, probeMass = Some(0.5))),
        "the conf and the explicit parameter must select the same plan")
      // an explicit nProbe always beats the mass conf
      assert(rows(IvfIndex.search(built, queries, nProbe = kAll)) ==
        rows(IvfIndex.search(built, queries, probeMass = Some(1.0))))
    } finally {
      spark.conf.unset(IvfIndex.probeMassConfKey)
      old.foreach(spark.conf.set(IvfIndex.probeMassConfKey, _))
    }
    // out-of-range / malformed taus fail naming the key
    val eRange = intercept[IllegalArgumentException] {
      IvfIndex.search(built, queries, probeMass = Some(1.5)).collect()
    }
    assert(eRange.getMessage.contains(IvfIndex.probeMassConfKey))
    spark.conf.set(IvfIndex.probeMassConfKey, "lots")
    try {
      val eParse = intercept[IllegalArgumentException] {
        IvfIndex.search(built, queries).collect()
      }
      assert(eParse.getMessage.contains(IvfIndex.probeMassConfKey))
    } finally spark.conf.unset(IvfIndex.probeMassConfKey)
  }

  test("versioned serves honor the mass conf: tau=1.0 exact at any as-of point") {
    val all = graft.core.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
    val none = all.limit(0).select($"vec_id")
    val path = tmp("graft-r15-massasof") + "/ivf"
    SnapshotLayout.init(IvfIndex.build(spark, all.filter($"vec_id" >= 50)), path)
    SnapshotLayout.applyBatch(spark, path, 1L,
      upserts = all.filter($"vec_id" < 25), deletes = none)
    SnapshotLayout.applyBatch(spark, path, 2L,
      upserts = all.limit(0),
      deletes = all.filter($"vec_id" < 25 && $"vec_id" % 7 === 0).select($"vec_id"))
    SnapshotLayout.initPq(spark, path)
    val kAll = spark.read.parquet(s"$path/centroids").count().toInt
    val queries = all.filter($"vec_id" < 5 && $"vec_id" % 7 =!= 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    def withMass[T](v: String)(body: => T): T = {
      spark.conf.set(IvfIndex.probeMassConfKey, v)
      try body finally spark.conf.unset(IvfIndex.probeMassConfKey)
    }
    for (b <- Seq(1L, Long.MaxValue)) {
      // raw as-of serve: full mass == full count (exact)
      assert(rows(withMass("1.0")(
          SnapshotLayout.searchAsOf(spark, path, b, queries))) ==
        rows(SnapshotLayout.searchAsOf(spark, path, b, queries, nProbe = kAll)),
        s"raw as-of serve at batch $b must be exact at tau=1.0")
      // versioned ADC serve through pqQueryState's mass cut
      assert(rows(withMass("1.0")(
          SnapshotLayout.searchAsOfPq(spark, path, b, queries))) ==
        rows(SnapshotLayout.searchAsOfPq(spark, path, b, queries, nProbe = kAll)),
        s"ADC as-of serve at batch $b must be exact at tau=1.0")
    }
    // the as-of batch join's running-mass prefix at tau=1.0 == full probe
    assert(rows(withMass("1.0")(
        SnapshotLayout.knnJoinPqAsOf(spark, path, 2L))) ==
      rows(SnapshotLayout.knnJoinPqAsOf(spark, path, 2L, nProbe = kAll)),
      "as-of join at tau=1.0 must equal the full-probe join")
    // a sub-1 tau still serves k rows with self top-1 (the nearest
    // cell always probes) — the contract, not the recall, is pinned
    val m = withMass("0.3")(
      SnapshotLayout.searchAsOf(spark, path, Long.MaxValue, queries, k = 5))
      .localCheckpoint(true)
    val nQ = queries.count()
    assert(m.filter($"rank" === 1L && $"score_e6" === 1000000L).count() == nQ)
    assert(m.count() == nQ * 5)
  }

  test("probe_mass_tune: measured sweep is monotone, exact at tau=1, choice minimal") {
    val meas = graft.index.RecallEval.probeMassSweep(spark, sf)
    info(s"measured sweep: ${meas.mkString(", ")}")
    assert(meas.map(_._1) == Seq(10, 20, 30, 50, 69, 100))
    assert(meas.last._2 == 1000000L, "tau=1.0 must be the exact serve")
    assert(meas.sliding(2).forall(p => p(0)._2 <= p(1)._2),
      "recall must be non-decreasing in tau")
    val chosen = graft.index.RecallEval.chooseTau(meas, 900000L)
    // the choice rule: minimal bar-clearing tau
    assert(meas(chosen)._2 >= 900000L)
    assert(meas.take(chosen).forall(_._2 < 900000L))
  }

  test("NSW knobs derive from the corpus, conf-overridable, floored at test-SF") {
    // beam: measured 16 through the small-corpus floor, then the
    // bar-fit max(24, 2.4·ln n) — 24 IS the measured 0.907 point on
    // the 10× replica at the scale-regime degree
    assert(NswIndex.beamFor(spark, 500) == 16)
    assert(NswIndex.beamFor(spark, NswIndex.autoFloorN) == 16)
    assert(NswIndex.beamFor(spark, 20000) == 24) // the 10× replica
    assert(NswIndex.beamFor(spark, 1000000000L) == 50)
    // compensated walks hold their measured 2× RATIO as the base scales
    assert(NswIndex.filteredBeamFor(spark, 2304) == NswIndex.filteredBeamWidth)
    assert(NswIndex.filteredBeamFor(spark, 20000) == 48)
    assert(NswIndex.pqBeamFor(spark, 2304) == NswIndex.pqBeamWidth)
    // hop cap ~ ln n floors at the measured 10 through the 10× replica
    assert(NswIndex.hopsFor(spark, 20000) == NswIndex.hops)
    assert(NswIndex.hopsFor(spark, 1000000L) == 14)
    // degree: reference-parity 5 through the floor, then the measured
    // max(16, 2.2·ln n) — degree 5 was MEASURED unrescuable at 10×
    // (recall 0.42–0.57 at any beam) and the 1.6 first fit was
    // MEASURED under-bar at 30× (0.843); 2.2 is the 30× refit
    assert(NswIndex.degreeFor(spark, 500) == NswIndex.graphDegree)
    assert(NswIndex.degreeFor(spark, NswIndex.autoFloorN) == NswIndex.graphDegree)
    assert(NswIndex.degreeFor(spark, 20000) == 22)
    assert(NswIndex.degreeFor(spark, 60000) == 25)
    assert(NswIndex.degreeFor(spark, 1000000000L) == 46)
    def withConf[T](key: String, v: String)(body: => T): T = {
      val old = spark.conf.getOption(key)
      spark.conf.set(key, v)
      try body
      finally { spark.conf.unset(key); old.foreach(spark.conf.set(key, _)) }
    }
    withConf(NswIndex.beamConfKey, "24") {
      assert(NswIndex.beamFor(spark, 2304) == 24)
      // the ratio knobs follow the overridden base
      assert(NswIndex.filteredBeamFor(spark, 2304) == 48)
    }
    withConf(NswIndex.filteredBeamConfKey, "19")(
      assert(NswIndex.filteredBeamFor(spark, 2304) == 19))
    val e = intercept[IllegalArgumentException] {
      withConf(NswIndex.beamConfKey, "wide")(NswIndex.beamFor(spark, 100))
    }
    assert(e.getMessage.contains(NswIndex.beamConfKey))
  }

  test("persisted cell count is memoized and invalidated by layout writes") {
    val all = graft.core.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
    val path = tmp("graft-r15-cells") + "/ivf"
    IvfIndex.persist(IvfIndex.build(spark, all), path)
    val k0 = IvfIndex.cellCount(spark, path)
    assert(k0 == IvfIndex.defaultK.toLong)
    // the auto sentinel's probe count resolves over the memoized count
    def autoProbes = IvfIndex.autoNProbe(IvfIndex.cellCount(spark, path), IvfIndex.defaultNProbe)
    assert(autoProbes == IvfIndex.defaultNProbe)
    // a re-persist under a different k must be observed (persist bumps)
    val old = spark.conf.getOption(IvfIndex.kConfKey)
    spark.conf.set(IvfIndex.kConfKey, "5")
    try IvfIndex.persist(IvfIndex.build(spark, all), path)
    finally {
      spark.conf.unset(IvfIndex.kConfKey)
      old.foreach(spark.conf.set(IvfIndex.kConfKey, _))
    }
    assert(IvfIndex.cellCount(spark, path) == 5L,
      "layout mutation must invalidate the memoized cell count")
    assert(autoProbes == 4) // ⌈5 · 11/16⌉
  }
}
