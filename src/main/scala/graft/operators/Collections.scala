package graft.operators

import graft.core.{Stab, Tables}
import graft.embed.Embedder
import graft.functions.vectors._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The reference's collection data model re-expressed as batch
  * DataFrame algebra: chunking (document → chunks,
  * /root/reference/src/models/datarecord.py:33-41), upsert
  * (collection.py:121-155), cascade delete (main.py:203-210), and
  * the /query endpoint end-to-end (main.py:316-344).
  *
  * The reference enforces uniqueness via one-file-per-record and
  * loops per record; here a batch of mutations is one anti-join +
  * union (or a partition overwrite at scale), so a million-row
  * mutation batch costs one shuffle, not a million filesystem ops.
  */
object Collections {

  private val chunkSize = 200
  private val overlap = 50
  private val stride = chunkSize - overlap // 150

  /** Fixed-size overlapping chunks: one full-stride chunk per stride
    * step plus a tail — integer arithmetic only, identical in both
    * engines. */
  def chunkDocuments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    chunksRaw(spark, dir).orderBy($"doc_id", $"chunk_idx")
  }

  /** [[chunkDocuments]] without the presentation sort — the form every
    * internal consumer (embedding corpus, cascade joins) builds on. */
  private[graft] def chunksRaw(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nChunks = greatest(lit(1L),
      expr(s"1 + CAST(ceil(CAST(length(text) - $chunkSize AS DOUBLE) / $stride) AS BIGINT)"))
    Tables.documents(spark, dir)
      .select($"doc_id", $"text", nChunks.as("n_chunks"))
      .select($"doc_id", explode(sequence(lit(0L), $"n_chunks" - 1)).as("chunk_idx"), $"text")
      .select($"doc_id", $"chunk_idx",
        $"text".substr(($"chunk_idx" * stride + 1).cast("int"), lit(chunkSize)).as("chunk_text"))
      .withColumn("chunk_len", length($"chunk_text").cast(LongType))
  }

  val chunkDocumentsSql: String =
    s"""WITH n AS (
       |  SELECT doc_id, text,
       |    greatest(1, 1 + CAST(ceil(CAST(length(text) - $chunkSize AS DOUBLE) / $stride) AS BIGINT)) AS n_chunks
       |  FROM documents
       |), e AS (
       |  SELECT doc_id, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx, text FROM n
       |)
       |SELECT doc_id, chunk_idx,
       |  substr(text, CAST(chunk_idx * $stride + 1 AS INT), $chunkSize) AS chunk_text,
       |  CAST(length(substr(text, CAST(chunk_idx * $stride + 1 AS INT), $chunkSize)) AS BIGINT) AS chunk_len
       |FROM e ORDER BY doc_id, chunk_idx""".stripMargin

  /** Batch upsert with reference semantics (update-else-insert;
    * main.py:216-236 parent checks become key discipline). The
    * mutation batch is synthetic but deterministic: docs with
    * `doc_id % 10 = 0` get updated (text uppercased), 50 new docs
    * arrive under `doc_id + 1000000`. One anti-join + union. */
  def crudUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val updates = docs.filter($"doc_id" % 10 === 0)
      .select($"doc_id", upper($"text").as("text"), lit("updated").as("op"))
    val inserts = docs.filter($"doc_id" < 50)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text", lit("inserted").as("op"))
    val kept = docs.join(updates.select($"doc_id"), Seq("doc_id"), "left_anti")
      .select($"doc_id", $"text", lit("kept").as("op"))
    kept.unionByName(updates).unionByName(inserts)
      .select($"doc_id", md5($"text").as("text_md5"), $"op")
      .orderBy($"doc_id")
  }

  val crudUpsertSql: String =
    """SELECT doc_id, md5(text) AS text_md5, op FROM (
      |  SELECT doc_id, text, 'kept' AS op FROM documents WHERE doc_id % 10 <> 0
      |  UNION ALL
      |  SELECT doc_id, upper(text) AS text, 'updated' AS op FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text, 'inserted' AS op FROM documents WHERE doc_id < 50
      |) ORDER BY doc_id""".stripMargin

  /** `crud_upsert_store`: the SAME upsert contract as [[crudUpsert]]
    * round-tripped through a REAL [[graft.store.CollectionStore]]
    * mutation instead of an in-plan simulation — seed the store with
    * the corpus at t=1000, apply the update+insert batch at t=2000,
    * then derive each row's op from the STORED timestamp semantics
    * (created 2000 → inserted; updated 2000 → updated; else kept).
    * Shares [[crudUpsertSql]] verbatim, so the oracle now checks what
    * the store's anti-join + union + created_at preservation actually
    * produced, not a plan that mimics it. */
  def crudUpsertStore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    // ONE store dir per (session, source dir), reset on every
    // invocation: a fresh createTempDirectory per call would leave an
    // unbounded trail of corpus snapshots in /tmp across Verify/Bench
    // repetitions. reset (full replace) rather than upsert for the
    // seed, so a previous invocation's t=2000 rows can't leak their
    // timestamps into this run's op derivation.
    val storeDir = s"${System.getProperty("java.io.tmpdir")}/graft-crud-store-" +
      s"${spark.sparkContext.applicationId}-${math.abs(dir.hashCode)}/docs"
    val store = new graft.store.CollectionStore(spark, storeDir, "doc_id")
    store.reset(docs, nowMs = 1000L)
    val updates = docs.filter($"doc_id" % 10 === 0)
      .select($"doc_id", upper($"text").as("text"))
    val inserts = docs.filter($"doc_id" < 50)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    store.upsert(updates.unionByName(inserts), nowMs = 2000L)
    store.load()
      .select($"doc_id", md5($"text").as("text_md5"),
        when($"created_at_ms" === 2000L, "inserted")
          .when($"updated_at_ms" === 2000L, "updated")
          .otherwise("kept").as("op"))
      .orderBy($"doc_id")
  }

  /** `crud_asof`: SNAPSHOT-AS-OF reconstruction from a change log —
    * the MVCC read path every table format (Delta/Iceberg-style
    * merge-on-read) serves: given (key, payload, ts, op) change
    * events, the state as-of T is each key's LATEST event with
    * ts ≤ T, kept iff that event is an upsert (a tombstone hides the
    * key until a later upsert revives it). The log is deterministic:
    * full insert at t=1000, `%10` updates at t=2000, `%7` DELETES at
    * t=2100, `%7` revivals (text+'!') at t=3000 — so the three
    * snapshots (1500/2500/3500) exercise plain state, tombstones in
    * effect, and tombstone-override. Each snapshot row carries
    * `n_live` AND an order-independent content fingerprint (`bit_xor`
    * of each live row's 60-bit text hash — the `export_manifest`
    * contract), so the oracle certifies the reconstructed CONTENT,
    * not just counts.
    *
    * Scale shape: the per-key argmax windows on (asof, key) — the
    * standard log-compaction shuffle, linear in |log|·|asofs|; the
    * fingerprint is a partial-agged rollup with CONSTANT per-group
    * state (one long per snapshot — XOR commutes and never grows),
    * unlike a collect_list checksum whose single aggregation buffer
    * would hold the whole corpus at 100 TB. The asof frame stays 3
    * rows and the window key carries the full cardinality — exactly
    * how a merge-on-read scan shards. */
  def crudAsof(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val log = docs
      .select($"doc_id", $"text", lit(1000L).as("ts"), lit("U").as("op"))
      .unionByName(docs.filter($"doc_id" % 10 === 0)
        .select($"doc_id", upper($"text").as("text"), lit(2000L).as("ts"),
          lit("U").as("op")))
      .unionByName(docs.filter($"doc_id" % 7 === 0)
        .select($"doc_id", lit("").as("text"), lit(2100L).as("ts"),
          lit("D").as("op")))
      .unionByName(docs.filter($"doc_id" % 7 === 0)
        .select($"doc_id", concat($"text", lit("!")).as("text"),
          lit(3000L).as("ts"), lit("U").as("op")))
    val asofs = Seq(1500L, 2500L, 3500L).toDF("asof_ts")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"asof_ts", $"doc_id").orderBy($"ts".desc)
    log.crossJoin(broadcast(asofs))
      .filter($"ts" <= $"asof_ts")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1 && $"op" === "U")
      .withColumn("h", graft.text.TextOps.hash60($"text"))
      .groupBy($"asof_ts")
      .agg(count(lit(1)).as("n_live"), expr("bit_xor(h)").as("fp60"))
      .orderBy($"asof_ts")
  }

  val crudAsofSql: String =
    s"""WITH log AS (
      |  SELECT doc_id, text, 1000 AS ts, 'U' AS op FROM documents
      |  UNION ALL
      |  SELECT doc_id, upper(text), 2000, 'U' FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id, '', 2100, 'D' FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id, text || '!', 3000, 'U' FROM documents WHERE doc_id % 7 = 0
      |), snap AS (
      |  SELECT asof_ts, doc_id, text, op,
      |    row_number() OVER (PARTITION BY asof_ts, doc_id ORDER BY ts DESC) AS rk
      |  FROM log CROSS JOIN (SELECT unnest([1500, 2500, 3500]) AS asof_ts) a
      |  WHERE ts <= asof_ts)
      |SELECT CAST(asof_ts AS BIGINT) AS asof_ts, count(*) AS n_live,
      |  CAST(bit_xor(${graft.text.TextOps.hash60Sql("text")}) AS BIGINT) AS fp60
      |FROM snap WHERE rk = 1 AND op = 'U'
      |GROUP BY asof_ts ORDER BY asof_ts""".stripMargin

  /** Cascade delete: removing every `source = 'src0'` document also
    * removes its chunks — one left-anti join against the deleted key
    * set (the reference loops chunk files, main.py:203-210). Output:
    * surviving chunk counts per doc. */
  def crudDeleteCascade(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val deleted = Tables.documents(spark, dir)
      .filter($"source" === "src0").select($"doc_id")
    chunkDocuments(spark, dir)
      .join(deleted, Seq("doc_id"), "left_anti")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"), min($"chunk_len").as("min_chunk_len"))
      .orderBy($"doc_id")
  }

  val crudDeleteCascadeSql: String =
    s"""WITH chunks AS ($chunkDocumentsSql)
       |SELECT doc_id, count(*) AS n_chunks, min(chunk_len) AS min_chunk_len
       |FROM chunks
       |WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE source = 'src0')
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The /query endpoint end-to-end: embed a fixed query text with
    * the deterministic embedder, cosine-score every document
    * embedding, return top-10 with content — the whole reference
    * serving path as one DataFrame plan (rows-only check: DuckDB
    * cannot express the embedder). */
  /** The fixed demo query text shared by every /query operator — the
    * parity spec compares their results, so it must be ONE constant. */
  val DemoQueryText = "fast hash join on the sorted key order table"

  def queryE2E(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val queryText = DemoQueryText
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"text", Embedder.embedText($"text").as("embedding"))
    val q = spark.range(1).select(
      Embedder.embedText(lit(queryText)).as("q_vec"))
    docs.crossJoin(broadcast(q))
      .select($"doc_id", substring($"text", 1, 40).as("snippet"),
        Stab.e6(cosineSim($"embedding", $"q_vec")).as("score_e6"))
      .orderBy($"score_e6".desc, $"doc_id".asc) // TakeOrderedAndProject, no global sort
      .limit(10)
  }

  /** The /query surface with index-type selection (reference
    * main.py:320-341 dispatches one query endpoint over three
    * interchangeable indexes, collection.py:179-215) — `indexType ∈
    * {cosine, ivf, nsw}` picks the search path, and every path joins
    * record content back, returning the reference's
    * `{id, content, confidence}` shape. `vec_id` and `doc_id` share
    * an id space in the testdata, standing in for the record key.
    *
    * All three paths share the scale shape of their index: brute =
    * one scan + WindowGroupLimit; ivf = centroid-pruned probe; nsw =
    * BSP beam over the edge table. The content join is a tiny
    * (queries × k) relation against documents — broadcast side is the
    * hits, never the corpus. */
  def queryWithIndex(spark: SparkSession, dir: String, indexType: String,
      k: Int = 10): DataFrame = {
    import spark.implicits._
    import graft.index.{IvfIndex, NswIndex}
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val hits = indexType match {
      case "cosine" =>
        KnnSearch.topK(
          emb.crossJoin(broadcast(queries))
            .select($"q_id", $"vec_id".as("neighbor_id"),
              Stab.e6(cosineSim($"embedding", $"q_vec")).as("score_e6")),
          k, asc = false)
      case "ivf" =>
        IvfIndex.search(IvfIndex.buildCached(spark, dir), queries, k = k)
      case "nsw" =>
        NswIndex.beamSearch(emb, NswIndex.edgesCached(spark, dir), queries, k = k)
      case other => throw new IllegalArgumentException(
        s"unknown index type '$other' (expected cosine|ivf|nsw)")
    }
    contentJoin(spark, dir, hits)
  }

  /** Join record content back to a (q_id, neighbor_id, score_e6,
    * rank) hits frame — hits is queries × k rows, so it broadcasts
    * into the documents scan and the content join never shuffles the
    * corpus.
    *
    * LEFT-join semantics on the hits side: a hit whose id has no
    * document row surfaces with null content instead of silently
    * shrinking the /query result below k. A plain left join would put
    * the corpus on the unbuildable side, so it is expressed as inner
    * join ∪ anti-join — both broadcast the tiny hits; the anti probe
    * reads only the pruned doc_id column. */
  private def contentJoin(spark: SparkSession, dir: String,
      hitsIn: DataFrame): DataFrame = {
    import spark.implicits._
    // hits is queries × k rows but its PLAN is the whole search
    // (beam supersteps / probe joins); the matched + orphaned branches
    // reference it twice, so materialize the k rows once instead of
    // replaying the search subtree per reference.
    val hits = hitsIn.localCheckpoint(true)
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", substring($"text", 1, 40).as("content"))
    val matched = docs.join(broadcast(hits), $"neighbor_id" === $"doc_id")
      .select($"q_id", $"neighbor_id".as("id"), $"content",
        $"score_e6".as("confidence_e6"), $"rank")
    val orphaned = hits.join(Tables.documents(spark, dir)
          .select($"doc_id".as("neighbor_id")), Seq("neighbor_id"), "left_anti")
      .select($"q_id", $"neighbor_id".as("id"),
        lit(null).cast("string").as("content"),
        $"score_e6".as("confidence_e6"), $"rank")
    matched.unionByName(orphaned).orderBy($"q_id", $"rank")
  }

  /** Session memo for the document-content index: documents embedded
    * by the deterministic embedder, keyed by source dir — the corpus
    * the TEXT query path searches (the reference embeds chunk content
    * at write time and queries against those vectors,
    * main.py:234-238 + 320-341). */
  /** `doc_embed_pool`: document-level vectors by MEAN-POOLING chunk
    * embeddings and renormalizing to the unit sphere — the standard
    * passage→document aggregation a retrieval corpus keeps alongside
    * its chunk index (long documents overflow any embedder's window;
    * the pooled vector is the document-granular search key).
    *
    * Plan shape: the chunk corpus scans ONCE into (doc, chunk emb);
    * ONE doc-keyed shuffle gathers each document's chunk vectors
    * (`collect_list` bounded by chunks-per-doc = ⌈len/stride⌉, a
    * per-document constant — never corpus-cardinality state); the
    * element-wise mean and renormalization run map-side as array
    * HOFs on the d=64 arrays. Output is document-cardinality.
    *
    * The registry projection is the oracle-checkable contract —
    * n_chunks re-derived by DuckDB from the chunking formula, fixed
    * dim, unit norm after renormalization (e6-exact: doubles land
    * within 1e-15 of 1.0) — while DocEmbedPoolSpec pins the pooled
    * VALUES against an independent driver-side mean over the same
    * chunk embeddings. */
  def docEmbedPool(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = Embedder.DefaultDim
    val chunks = chunksRaw(spark, dir)
      .select($"doc_id", Embedder.embedText($"chunk_text").as("emb"))
    pooledVectors(chunks, dim)
      .select($"doc_id", $"n_chunks", lit(dim.toLong).as("dim"),
        Stab.e6(sqrt(dotProduct($"pooled", $"pooled")).cast("double")).as("unit_e6"))
      .orderBy($"doc_id")
  }

  /** (doc_id, n_chunks, pooled float[dim]) — mean of `emb` arrays per
    * doc, L2-renormalized (zero-safe: an all-zero mean stays zero). */
  private[graft] def pooledVectors(chunks: DataFrame, dim: Int): DataFrame = {
    import chunks.sparkSession.implicits._
    chunks.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"), collect_list($"emb").as("embs"))
      .withColumn("mean",
        expr(s"transform(aggregate(embs, array_repeat(CAST(0.0 AS DOUBLE), $dim), " +
          "(acc, x) -> zip_with(acc, x, (a, b) -> a + CAST(b AS DOUBLE))), " +
          "s -> s / size(embs))"))
      .withColumn("mnorm",
        expr("sqrt(aggregate(mean, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v*v))"))
      .select($"doc_id", $"n_chunks",
        expr("transform(mean, v -> CAST(CASE WHEN mnorm > 0.0 THEN v / mnorm ELSE 0.0 END AS FLOAT))")
          .as("pooled"))
  }

  val docEmbedPoolSql: String =
    s"""WITH chunks AS ($chunkDocumentsSql)
       |SELECT doc_id, count(*) AS n_chunks,
       |  CAST(${Embedder.DefaultDim} AS BIGINT) AS dim,
       |  CAST(1000000 AS BIGINT) AS unit_e6
       |FROM chunks GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val docEmbCache =
    new graft.store.VersionedMemo[DataFrame](graft.core.Checkpoints.free)

  private def docEmbeddings(spark: SparkSession, dir: String): DataFrame =
    docEmbCache.get(spark, dir, dir) {
      import spark.implicits._
      Tables.documents(spark, dir)
        .select($"doc_id".as("vec_id"), Embedder.embedText($"text").as("embedding"))
        .localCheckpoint(true)
    }

  /** The reference /query signature end-to-end: TEXT in, index type
    * in, `{id, content, confidence}` out (main.py:320-341). The query
    * text is embedded with the same embedder that produced the
    * stored document vectors; the index (brute | ivf | nsw) is built
    * over the document-content embeddings and memoized per dir like
    * every other index in the library. */
  def queryText(spark: SparkSession, dir: String, indexType: String,
      queryText: String = DemoQueryText, k: Int = 10): DataFrame = {
    val corpus = docEmbeddings(spark, dir)
    val hits = searchSingleText(spark, dir, "docs", corpus, indexType, queryText, k)
    contentJoin(spark, dir, hits).drop("q_id")
  }

  /** Shared single-text-query search over an embedded corpus: embed
    * the query text, search under the selected index. All three paths
    * take the SINGLE-query top-k shape (orderBy+limit / topKSingle): a
    * window partitioned by the constant q_id would constant-fold to no
    * partition spec and move every scored row to one task. */
  private def searchSingleText(spark: SparkSession, dir: String,
      corpusKey: String, corpus: DataFrame, indexType: String,
      queryText: String, k: Int): DataFrame = {
    import spark.implicits._
    import graft.index.{IvfIndex, NswIndex}
    val q = spark.range(1).select(lit(0L).as("q_id"),
      Embedder.embedText(lit(queryText)).as("q_vec"))
    indexType match {
      case "cosine" =>
        KnnSearch.topKSingle(
          corpus.crossJoin(broadcast(q))
            .select($"q_id", $"vec_id".as("neighbor_id"),
              Stab.e6(cosineSim($"embedding", $"q_vec")).as("score_e6")),
          k, asc = false)
      case "ivf" =>
        val built = IvfIndex.buildCachedFor(s"$corpusKey:$dir", spark, corpus, dir)
        IvfIndex.searchSingle(built, q, k = k)
      case "nsw" =>
        val edges = NswIndex.edgesCachedFor(s"$corpusKey:$dir", corpus, dir)
        NswIndex.beamSearch(corpus, edges, q, k = k, singleQuery = true)
      case other => throw new IllegalArgumentException(
        s"unknown index type '$other' (expected cosine|ivf|nsw)")
    }
  }

  /** Multiplier packing (doc_id, chunk_idx) into one chunk vec_id.
    * The base bounds chunks per document at 1M (chunkSize 200 /
    * stride 150 → ~150 MB of text — far beyond any real document);
    * doc_id stays exact up to ~9.2e12. A document that DOES overflow
    * must fail loudly, not silently collide with the next document's
    * chunk ids: [[packedChunkId]] folds the bound check into the id
    * expression itself, so column pruning cannot drop it. */
  private val chunkIdBase = 1000000L

  private def packedChunkId(docId: org.apache.spark.sql.Column,
      chunkIdx: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    docId * chunkIdBase + chunkIdx +
      coalesce(assert_true(chunkIdx < lit(chunkIdBase),
        concat(lit(s"chunk_idx overflows packing base $chunkIdBase for doc_id "), docId))
        .cast("long"), lit(0L))

  private val chunkEmbCache =
    new graft.store.VersionedMemo[DataFrame](graft.core.Checkpoints.free)

  /** Chunk-content embedding corpus: chunk_documents ∘ auto-embed,
    * memoized + write-invalidated like [[docEmbeddings]]. This is the
    * reference's actual /query granularity — chunks are embedded at
    * write time (main.py:228-244) and /query searches the `chunks`
    * collection (main.py:316-344). */
  private[graft] def chunkEmbeddings(spark: SparkSession, dir: String): DataFrame =
    chunkEmbCache.get(spark, dir, dir) {
      import spark.implicits._
      chunksRaw(spark, dir)
        .select(packedChunkId($"doc_id", $"chunk_idx").as("vec_id"),
          Embedder.embedText($"chunk_text").as("embedding"))
        .localCheckpoint(true)
    }

  /** Chunk-granular /query: TEXT in, index type in, top-k CHUNKS out
    * with chunk content — the reference's exact /query composition
    * (chunk at write → embed chunk content → search chunks → return
    * chunk text, main.py:228-244 + 316-344). Hits carry (doc_id,
    * chunk_idx) so callers can navigate back to the parent document,
    * the batch analog of the chunk→document parent key. */
  def queryTextChunks(spark: SparkSession, dir: String,
      indexType: String = "cosine", queryText: String = DemoQueryText,
      k: Int = 10): DataFrame = {
    import spark.implicits._
    val corpus = chunkEmbeddings(spark, dir)
    val hits = searchSingleText(spark, dir, "chunks", corpus, indexType, queryText, k)
    // content join at chunk granularity: unpack the packed id and join
    // the chunk text back — hits are k rows, broadcast into the scan
    val chunks = chunksRaw(spark, dir).select(
      packedChunkId($"doc_id", $"chunk_idx").as("neighbor_id"),
      $"doc_id", $"chunk_idx", substring($"chunk_text", 1, 40).as("content"))
    chunks.join(broadcast(hits), Seq("neighbor_id"))
      .select($"doc_id", $"chunk_idx", $"content",
        $"score_e6".as("confidence_e6"), $"rank")
      .orderBy($"rank")
  }

  /** Persist the chunk collection in its scale layout (the memoized
    * [[chunkEmbeddings]] corpus made durable, plus the co-located
    * parent join): documents and chunks are written BUCKETED by
    * `doc_id` — the key their joins always use — so chunk ⋈ document
    * joins read bucket-aligned splits with zero Exchange; the
    * chunk-embedding corpus is written as a plain parquet table so
    * serving never re-chunks or re-embeds (at 100 TB the embed pass is
    * a one-time batch job, not a per-session memo). Tables register as
    * `<name>_docs` / `<name>_chunks` in the session catalog. */
  def persistChunks(spark: SparkSession, dir: String, base: String,
      name: String = "graft_chunks", nBuckets: Int = 32): Unit = {
    import spark.implicits._
    import graft.index.{IvfIndex, NswIndex}
    // The build is five independent Spark jobs in two dependency
    // phases; submitting each phase's jobs CONCURRENTLY (separate
    // driver threads — the standard multi-job Spark pattern) lets the
    // scheduler interleave their stages. On saturated local[32] the
    // measured gain is small (36 s → 34 s at sf0.1: both layout
    // builds are CPU-bound, so overlap mostly time-shares) — the
    // structure pays off on a cluster with scheduling headroom, where
    // the IVF fit's driver-side KMeans steps and the writes' commit
    // latencies leave executors idle for the other job to fill.
    // Force the chunk-embed memo BEFORE forking so the writer threads
    // never race its construction.
    val emb = chunkEmbeddings(spark, dir)
    graft.core.DriverJobs.all(spark)(Seq(
      () => graft.sources.Bucketed.write(
        Tables.documents(spark, dir).select($"doc_id", $"source", $"text"),
        s"${name}_docs", s"$base/documents", "doc_id", nBuckets),
      () => graft.sources.Bucketed.write(chunksRaw(spark, dir),
        s"${name}_chunks", s"$base/chunks", "doc_id", nBuckets),
      () => emb.write.mode("overwrite").parquet(s"$base/chunk_embeddings")))
    // the /query indexes, persisted over the SAME durable corpus the
    // cosine path scans (VERDICT r4 #6): IVF in its partition-pruned
    // cluster layout, NSW in the co-bucketed graph layout — serving
    // dispatches on index_type with no per-session rebuild, matching
    // the reference's /query over the chunks collection with an
    // index_type parameter (main.py:320-341). Built from the parquet
    // corpus, not the memo, so the layout is self-contained.
    val corpus = spark.read.parquet(s"$base/chunk_embeddings")
    graft.core.DriverJobs.all(spark)(Seq(
      () => IvfIndex.persist(IvfIndex.build(spark, corpus), s"$base/ivf"),
      () => NswIndex.persistBucketed(spark, corpus,
        NswIndex.buildEdgesLsh(corpus), s"$base/nsw", s"${name}_nsw", nBuckets)))
  }

  /** Chunk-granular /query served ENTIRELY from the [[persistChunks]]
    * layout: the corpus is a parquet read (no re-chunk / re-embed),
    * the content join reads the bucketed chunk table, and the parent
    * document's `source` comes through the co-located chunk ⋈ document
    * join the bucketed layout exists for. `indexType` dispatches over
    * the persisted index layouts exactly like the memoized /query
    * (reference main.py:320-341): brute cosine scans the corpus, `ivf`
    * probes the partition-pruned cluster layout, `nsw` beam-searches
    * the co-bucketed graph. Same contract as [[queryTextChunks]] plus
    * the parent column (parity spec: PersistedLayoutSpec). */
  def queryTextChunksPersisted(spark: SparkSession, base: String,
      name: String = "graft_chunks", queryText: String = DemoQueryText,
      k: Int = 10, indexType: String = "cosine"): DataFrame = {
    import spark.implicits._
    import graft.index.{IvfIndex, NswIndex}
    val q = spark.range(1).select(lit(0L).as("q_id"),
      Embedder.embedText(lit(queryText)).as("q_vec"))
    val hits = indexType match {
      case "cosine" =>
        val corpus = spark.read.parquet(s"$base/chunk_embeddings")
        KnnSearch.topKSingle(
          corpus.crossJoin(broadcast(q))
            .select($"q_id", $"vec_id".as("neighbor_id"),
              Stab.e6(cosineSim($"embedding", $"q_vec")).as("score_e6")),
          k, asc = false)
      case "ivf" =>
        IvfIndex.searchPersistedSingle(spark, s"$base/ivf", q, k = k)
      case "nsw" =>
        NswIndex.searchPersistedBucketed(spark, s"${name}_nsw", q,
          k = k, singleQuery = true)
      case other => throw new IllegalArgumentException(
        s"unknown index type '$other' (expected cosine|ivf|nsw)")
    }
    // chunk ⋈ document on the shared bucket key, then the broadcast
    // k-row hit join — the corpus-sized side never shuffles
    val withParent = spark.table(s"${name}_chunks")
      .join(spark.table(s"${name}_docs").select($"doc_id", $"source"), Seq("doc_id"))
    withParent
      .select(packedChunkId($"doc_id", $"chunk_idx").as("neighbor_id"),
        $"doc_id", $"chunk_idx", substring($"chunk_text", 1, 40).as("content"),
        $"source")
      .join(broadcast(hits), Seq("neighbor_id"))
      .select($"doc_id", $"chunk_idx", $"content", $"source",
        $"score_e6".as("confidence_e6"), $"rank")
      .orderBy($"rank")
  }

  /** Invariant view of the single-TEXT /query paths, same idea as
    * [[queryIndexChecked]]: the ANN hit SET is approximate, but the
    * /query contract is exact — k hits ranked 1..k, every id a real
    * document, content equal to that document's prefix, confidence
    * inside the cosine bound and non-increasing down the ranking. The
    * oracle expects the all-true grid, so any contract break flips
    * the hash. All probes broadcast the k-row hit set into the
    * corpus scan — the checks add no new scan shape. */
  def queryTextChecked(spark: SparkSession, dir: String,
      indexType: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val base = queryText(spark, dir, indexType, k = k)
      .select($"rank", $"id", $"content", $"confidence_e6")
      .localCheckpoint(true)
    val expected = Tables.documents(spark, dir)
      .join(broadcast(base.select($"id")), $"doc_id" === $"id", "left_semi")
      .select($"doc_id".as("id"), substring($"text", 1, 40).as("expected_content"))
    // rank r+1's confidence, keyed by r — a 2-row-offset self-join on
    // the k rows, NOT a window (a global window over even k rows would
    // reintroduce the empty-partition-spec shape this path removed)
    val next = base.select(($"rank" - 1).as("rank"), $"confidence_e6".as("next_conf"))
    base.join(broadcast(expected), Seq("id"), "left")
      .join(broadcast(next), Seq("rank"), "left")
      .select($"rank",
        $"expected_content".isNotNull.as("id_in_corpus"),
        coalesce($"content" === $"expected_content", lit(false)).as("content_ok"),
        $"confidence_e6".between(-1000000L, 1000000L).as("score_bounded"),
        coalesce($"next_conf" <= $"confidence_e6", lit(true)).as("next_not_higher"))
      .orderBy($"rank")
  }

  /** Chunk-granular twin of [[queryTextChecked]] over
    * [[queryTextChunks]] — ids are (doc_id, chunk_idx), content must
    * equal that chunk's prefix. */
  def queryTextChunksChecked(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame =
    chunkHitsGrid(spark, dir, queryTextChunks(spark, dir, k = k))

  /** `query_text_maxsim`: ColBERT-style LATE-INTERACTION document
    * retrieval (Khattab & Zaharia, SIGIR'20) — the query text is
    * embedded PER TERM instead of as one pooled vector, and a
    * document's score is the MaxSim sum: for each query term, the
    * best cosine any of the document's chunk embeddings achieves,
    * summed over terms. Late interaction keeps per-term/per-chunk
    * granularity through scoring (a single pooled query vector
    * averages away rare terms), which is why it out-ranks bi-encoder
    * pooling on multi-aspect queries.
    *
    * Plan shape: the ≤|terms| query vectors ride ONE broadcast into
    * the chunk-embedding scan (corpus scanned once, scored map-side
    * terms× per chunk); the MaxSim reduction is two partial-agged
    * shuffles — (doc, term) max then doc sum — both collapsing
    * BEFORE the top-k cut, which is a TakeOrdered, never a global
    * sort. Per-term maxes are e6-stabilized before the long sum, so
    * ranking and ties are engine-exact.
    *
    * Served through [[queryTextMaxsimChecked]]'s invariant grid (the
    * ANN /query convention — the score bound is ±n_terms·1e6);
    * RetrievalOpsSpec pins exact hit-set and score parity against a
    * driver-side brute MaxSim over the same chunk embeddings. */
  def queryTextMaxsim(spark: SparkSession, dir: String,
      queryText: String = DemoQueryText, k: Int = 10): DataFrame = {
    import spark.implicits._
    val hits = maxsimHits(spark, chunkEmbeddings(spark, dir), queryText, k)
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", substring($"text", 1, 40).as("content"))
    docs.join(broadcast(hits), Seq("doc_id"))
      .select($"rank", $"doc_id", $"content", $"score_e6".as("confidence_e6"))
      .orderBy($"rank")
  }

  /** The MaxSim scoring core over any (vec_id, embedding) chunk
    * corpus: per-term broadcast scoring, (doc, term) max → doc sum,
    * TakeOrdered cut + k² self-join rank recovery (the topKSingle
    * convention — a global window here would funnel the doc frame
    * into one task). */
  private def maxsimHits(spark: SparkSession, corpus: DataFrame,
      queryText: String, k: Int): DataFrame = {
    import spark.implicits._
    val terms = queryText.toLowerCase.split("[^a-z0-9]+")
      .filter(_.nonEmpty).distinct.toSeq
    val qterms = terms.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("term_id", "term")
      .select($"term_id", Embedder.embedText($"term").as("qvec"))
    val scored = corpus
      .select(expr(s"vec_id div $chunkIdBase").as("doc_id"), $"embedding")
      .join(broadcast(qterms))
      .select($"doc_id", $"term_id",
        Stab.e6(cosineSim($"embedding", $"qvec").cast("double")).as("cos_e6"))
      .groupBy($"doc_id", $"term_id").agg(max($"cos_e6").as("term_max_e6"))
      .groupBy($"doc_id").agg(sum($"term_max_e6").as("score_e6"))
    val top = scored.orderBy($"score_e6".desc, $"doc_id".asc).limit(k)
      .localCheckpoint(true)
    val beatsOrEq = col("b.score_e6") > col("a.score_e6") ||
      (col("b.score_e6") === col("a.score_e6") && col("b.doc_id") <= col("a.doc_id"))
    top.as("a").join(top.as("b"), beatsOrEq)
      .groupBy(col("a.doc_id").as("doc_id"), col("a.score_e6").as("score_e6"))
      .agg(count(lit(1)).cast("long").as("rank"))
  }

  /** `query_maxsim_persisted`: the late-interaction /query served
    * ENTIRELY from the [[persistChunks]] layout — the chunk-embedding
    * corpus is the durable parquet table (no re-chunk, no re-embed)
    * and the content join reads the bucketed `<name>_docs` table, so
    * a fresh session answers MaxSim queries with zero build work.
    * Same scoring core, same invariant-grid contract. */
  def queryTextMaxsimPersisted(spark: SparkSession, dir: String,
      queryText: String = DemoQueryText, k: Int = 10): DataFrame = {
    import spark.implicits._
    val (base, name) = persistedChunksFor(spark, dir)
    val corpus = spark.read.parquet(s"$base/chunk_embeddings")
    val hits = maxsimHits(spark, corpus, queryText, k)
    spark.table(s"${name}_docs")
      .select($"doc_id", substring($"text", 1, 40).as("content"))
      .join(broadcast(hits), Seq("doc_id"))
      .select($"rank", $"doc_id", $"content", $"score_e6".as("confidence_e6"))
      .orderBy($"rank")
  }

  /** Invariant grid over [[queryTextMaxsim]] (the checked /query
    * convention): ranks 1..k, every hit a real document, content =
    * that document's prefix, score inside ±n_terms·1e6, ranking
    * non-increasing — all-true grid shared with the other checked
    * text queries. */
  def queryTextMaxsimChecked(spark: SparkSession, dir: String,
      k: Int = 10, queryText: String = DemoQueryText): DataFrame =
    maxsimGrid(spark, dir, queryTextMaxsim(spark, dir, queryText, k), queryText)

  /** Persisted-layout twin of [[queryTextMaxsimChecked]] (same
    * all-true grid; content equality is checked against the SOURCE
    * documents table, so a layout/doc drift would flip the hash). */
  def queryTextMaxsimPersistedChecked(spark: SparkSession, dir: String,
      k: Int = 10, queryText: String = DemoQueryText): DataFrame =
    maxsimGrid(spark, dir, queryTextMaxsimPersisted(spark, dir, queryText, k), queryText)

  private def maxsimGrid(spark: SparkSession, dir: String,
      hits: DataFrame, queryText: String): DataFrame = {
    import spark.implicits._
    // the score bound must come from the SAME query the hits were
    // scored with — a custom query with more terms than the default
    // would otherwise flip score_bounded on valid scores
    val nTerms = queryText.toLowerCase.split("[^a-z0-9]+")
      .filter(_.nonEmpty).distinct.length.toLong
    val base = hits
      .select($"rank", $"doc_id".as("id"), $"content", $"confidence_e6")
      .localCheckpoint(true)
    val expected = Tables.documents(spark, dir)
      .join(broadcast(base.select($"id")), $"doc_id" === $"id", "left_semi")
      .select($"doc_id".as("id"), substring($"text", 1, 40).as("expected_content"))
    val next = base.select(($"rank" - 1).as("rank"), $"confidence_e6".as("next_conf"))
    base.join(broadcast(expected), Seq("id"), "left")
      .join(broadcast(next), Seq("rank"), "left")
      .select($"rank",
        $"expected_content".isNotNull.as("id_in_corpus"),
        coalesce($"content" === $"expected_content", lit(false)).as("content_ok"),
        $"confidence_e6".between(-1000000L * nTerms, 1000000L * nTerms).as("score_bounded"),
        coalesce($"next_conf" <= $"confidence_e6", lit(true)).as("next_not_higher"))
      .orderBy($"rank")
  }

  /** The invariant grid shared by every chunk-granular /query view: a
    * (rank, doc_id, chunk_idx, content, confidence_e6) hit frame maps
    * to per-rank flags the all-true SQL oracle pins. */
  private def chunkHitsGrid(spark: SparkSession, dir: String,
      hits: DataFrame): DataFrame = {
    import spark.implicits._
    val base = hits
      .select($"rank", $"doc_id", $"chunk_idx", $"content", $"confidence_e6")
      .localCheckpoint(true)
    val expected = chunksRaw(spark, dir)
      .join(broadcast(base.select($"doc_id", $"chunk_idx")),
        Seq("doc_id", "chunk_idx"), "left_semi")
      .select($"doc_id", $"chunk_idx",
        substring($"chunk_text", 1, 40).as("expected_content"))
    val next = base.select(($"rank" - 1).as("rank"), $"confidence_e6".as("next_conf"))
    base.join(broadcast(expected), Seq("doc_id", "chunk_idx"), "left")
      .join(broadcast(next), Seq("rank"), "left")
      .select($"rank",
        $"expected_content".isNotNull.as("id_in_corpus"),
        coalesce($"content" === $"expected_content", lit(false)).as("content_ok"),
        $"confidence_e6".between(-1000000L, 1000000L).as("score_bounded"),
        coalesce($"next_conf" <= $"confidence_e6", lit(true)).as("next_not_higher"))
      .orderBy($"rank")
  }

  /** Session memo of a [[persistChunks]] layout for `dir`: the durable
    * serving layout is built ONCE per session (the batch job it would
    * be at scale) and every persisted /query serves from it.
    * Invalidated by store writes under the dir like every other memo.
    * Each build draws its catalog-table name from a process-wide
    * counter, so two dirs (or two rebuilds of one dir) can never
    * collide — a 32-bit `dir.hashCode` could — and eviction drops the
    * replaced layout's tables and deletes its temp dir, so memo
    * invalidation no longer leaks one abandoned layout per rebuild. */
  private case class ChunkLayout(spark: SparkSession, base: String, name: String)

  private val layoutSeq = new java.util.concurrent.atomic.AtomicLong()

  private val persistedChunksCache =
    new graft.store.VersionedMemo[ChunkLayout](dropChunkLayout)

  private def dropChunkLayout(l: ChunkLayout): Unit = {
    if (!l.spark.sparkContext.isStopped)
      Seq("_docs", "_chunks", "_nsw_vectors", "_nsw_edges").foreach { t =>
        l.spark.sql(s"DROP TABLE IF EXISTS ${l.name}$t")
      }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(l.base))
  }

  private def persistedChunksFor(spark: SparkSession, dir: String): (String, String) =
    persistedChunksCache.get(spark, s"chunks_layout:$dir", dir) {
      val base = java.nio.file.Files.createTempDirectory("graft-chunk-layout").toString
      val name = s"graft_chunks_${layoutSeq.incrementAndGet()}"
      persistChunks(spark, dir, base, name)
      ChunkLayout(spark, base, name)
    } match { case ChunkLayout(_, base, name) => (base, name) }

  /** `query_chunks_persisted_ivf` / `_nsw`: the persisted-layout chunk
    * /query served through the persisted INDEX layouts (IVF partition
    * pruning / bucketed NSW graph), pushed through the same invariant
    * grid as [[queryTextChunksChecked]] — k hits ranked 1..k, real
    * chunk ids, content = that chunk's prefix, bounded non-increasing
    * confidence. The oracle is the all-true grid, so a broken layout
    * dispatch (wrong ids, misjoined content, short result) flips the
    * hash. */
  def queryTextChunksPersistedChecked(spark: SparkSession, dir: String,
      indexType: String, k: Int = 10): DataFrame = {
    val (base, name) = persistedChunksFor(spark, dir)
    chunkHitsGrid(spark, dir,
      queryTextChunksPersisted(spark, base, name, k = k, indexType = indexType))
  }

  /** Session memo of the GENERATIONAL chunk /query root: the chunk-
    * embedding corpus served from a [[graft.index.Generations]] root
    * instead of a frozen per-session layout — built once as the batch
    * job it would be at scale (generation 1 fit on the `vec_id % 5
    * ≠ 0` chunks, the remaining fifth applied as delta batch 1, one
    * cutover re-fitting everything into generation 2), so the /query
    * serve below genuinely routes through the pointer. */
  private val genChunkCache = new graft.store.VersionedMemo[String](p =>
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(p).getParentFile))

  private[graft] def genChunksFor(spark: SparkSession, dir: String): String =
    genChunkCache.get(spark, s"chunks_gen:$dir", dir) {
      import spark.implicits._
      val root = java.nio.file.Files
        .createTempDirectory("graft-chunk-gen").toString + "/root"
      // meta-bearing (round 13): `doc_id` rides the posting rows —
      // through the delta batch AND the cutover's re-fit — so the
      // generational root serves the FILTERED mode too (a document-
      // scoped predicate is the chunk workload's natural filter)
      val corpus = chunkEmbeddings(spark, dir)
        .select($"vec_id", $"embedding",
          expr(s"vec_id DIV $chunkIdBase").as("doc_id"))
      graft.index.SnapshotLayout.initGen(
        graft.index.IvfIndex.build(spark,
          corpus.filter(pmod($"vec_id", lit(5L)) =!= 0L),
          metaCols = Seq("doc_id")), root)
      graft.index.SnapshotLayout.applyBatchGen(spark, root, 1L,
        upserts = corpus.filter(pmod($"vec_id", lit(5L)) === 0L),
        deletes = corpus.limit(0).select($"vec_id"))
      graft.index.SnapshotLayout.newGeneration(spark, root)
      root
    }

  /** Chunk-granular /query over a GENERATIONAL root: the
    * [[queryTextChunksPersisted]] contract served through
    * [[graft.index.Generations.route]] — the index_type-style
    * dispatch survives a cutover with NO session rebuild, because the
    * serve reads only (root, pointer, as-of) from disk. A fresh
    * session pointed at the root answers head queries from the
    * successor's fresh fit and historical `asOf` queries from
    * whichever generation covers them; the content join is the same
    * broadcast of the k-row hit set into the chunk scan. */
  def queryTextChunksGen(spark: SparkSession, root: String, dir: String,
      queryText: String = DemoQueryText, k: Int = 10,
      asOf: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    val q = spark.range(1).select(lit(0L).as("q_id"),
      Embedder.embedText(lit(queryText)).as("q_vec"))
    // single-query serve takes the TakeOrdered shape (the constant
    // q_id would fold a windowed top-k to one task — the
    // searchSingleText discipline, applied to the as-of route)
    val hits = graft.index.SnapshotLayout
      .searchAsOfSingleGen(spark, root, asOf, q, k = k)
    val chunks = chunksRaw(spark, dir).select(
      packedChunkId($"doc_id", $"chunk_idx").as("neighbor_id"),
      $"doc_id", $"chunk_idx", substring($"chunk_text", 1, 40).as("content"))
    chunks.join(broadcast(hits), Seq("neighbor_id"))
      .select($"doc_id", $"chunk_idx", $"content",
        $"score_e6".as("confidence_e6"), $"rank")
      .orderBy($"rank")
  }

  /** `query_chunks_gen`: the generational chunk /query pushed through
    * the [[chunkHitsGrid]] invariant grid (head serve — k hits ranked
    * 1..k, real chunk ids, content = that chunk's prefix, bounded
    * non-increasing confidence) crossed with the routing pins only a
    * generational root can break:
    *  - `routes_head_successor` / `routes_old_predecessor`: head
    *    resolves to generation 2's fresh fit, the pre-cutover as-of 0
    *    to generation 1 — both through the pointer, no session state;
    *  - `old_k_hits`: the historical serve still returns a full top-k;
    *  - `old_predates_delta`: every as-of-0 hit comes from the base
    *    fifth-excluded corpus slice — an as-of that leaked post-cutover
    *    (or delta) chunks would flip it;
    *  - `filtered_k_legal` (round 13): the FILTERED head serve through
    *    the same root — a document-scoped predicate (even doc_id) on
    *    the carried metaCol — returns a full k with every hit's parent
    *    document judged from the chunks TABLE (a stale posting-row
    *    doc_id or a post-filter shortfall flips it). */
  def queryChunksGenChecked(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    import spark.implicits._
    val root = genChunksFor(spark, dir)
    val grid = chunkHitsGrid(spark, dir,
      queryTextChunksGen(spark, root, dir, k = k))
    val routesHead = graft.index.Generations
      .route(spark, root, Long.MaxValue).endsWith("generation=2")
    val routesOld = graft.index.Generations
      .route(spark, root, 0L).endsWith("generation=1")
    val old = queryTextChunksGen(spark, root, dir, k = k, asOf = 0L)
      .localCheckpoint(true)
    val q = spark.range(1).select(lit(0L).as("q_id"),
      Embedder.embedText(lit(DemoQueryText)).as("q_vec"))
    val filteredHits = graft.index.SnapshotLayout.searchAsOfFilteredSingleGen(
        spark, root, Long.MaxValue, q, pmod(col("doc_id"), lit(2L)) === 0L,
        k = k).localCheckpoint(true)
    // k-row hit set broadcasts into the chunk scan (never the
    // reverse — the serve paths' own join direction), then the ≤k-row
    // result broadcasts back onto the hits for the null-aware check
    val hitDocs = chunksRaw(spark, dir)
      .select(packedChunkId($"doc_id", $"chunk_idx").as("neighbor_id"),
        $"doc_id")
      .join(broadcast(filteredHits.select($"neighbor_id")), Seq("neighbor_id"))
    val filteredLegal = filteredHits.select($"neighbor_id")
      .join(broadcast(hitDocs), Seq("neighbor_id"), "left")
      .agg(((count(lit(1)) === k.toLong) &&
        (count(when($"doc_id".isNull || pmod($"doc_id", lit(2L)) =!= 0L, 1))
          === 0L)).as("filtered_k_legal"))
    val oldStats = old.agg(
      (count(lit(1)) === k.toLong).as("old_k_hits"),
      (count(when(pmod(packedChunkId($"doc_id", $"chunk_idx"), lit(5L)) === 0L,
        1)) === 0L).as("old_predates_delta"))
      .withColumn("routes_head_successor", lit(routesHead))
      .withColumn("routes_old_predecessor", lit(routesOld))
      .crossJoin(filteredLegal)
    grid.crossJoin(broadcast(oldStats))
      .select($"rank", $"id_in_corpus", $"content_ok", $"score_bounded",
        $"next_not_higher", $"routes_head_successor",
        $"routes_old_predecessor", $"old_k_hits", $"old_predates_delta",
        $"filtered_k_legal")
      .orderBy($"rank")
  }

  val queryChunksGenSql: String =
    """SELECT CAST(r.rank AS BIGINT) AS rank, true AS id_in_corpus,
      |  true AS content_ok, true AS score_bounded, true AS next_not_higher,
      |  true AS routes_head_successor, true AS routes_old_predecessor,
      |  true AS old_k_hits, true AS old_predates_delta,
      |  true AS filtered_k_legal
      |FROM generate_series(1, 10) r(rank) ORDER BY rank""".stripMargin

  /** `persist_chunks_build`: the one-time batch build of the persisted
    * chunk-serving layout, surfaced as its OWN labeled entry (VERDICT
    * r6 #2 — its cost was previously invisible in clean artifacts,
    * landing on whichever serve query ran first). Forces the session
    * memo, then reports a per-table consistency grid: each written
    * table is non-empty and row-consistent with its source (docs =
    * documents, chunks = the chunking pass, embeddings = chunks, IVF
    * postings = embeddings, NSW graph non-empty with both bucketed
    * sides). The all-true grid is the SQL oracle; serve-path parity is
    * PersistedLayoutSpec's job. */
  def persistChunksBuild(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (base, name) = persistedChunksFor(spark, dir)
    val nDocs = spark.table(s"${name}_docs").count()
    val nChunks = spark.table(s"${name}_chunks").count()
    val nEmb = spark.read.parquet(s"$base/chunk_embeddings").count()
    val nIvf = spark.read.parquet(s"$base/ivf/vectors").count()
    val nNswV = spark.table(s"${name}_nsw_vectors").count()
    val nNswE = spark.table(s"${name}_nsw_edges").count()
    val srcDocs = Tables.documents(spark, dir).count()
    val srcChunks = chunksRaw(spark, dir).count()
    Seq(
      ("chunk_embeddings", nEmb > 0, nEmb == nChunks),
      ("chunks", nChunks > 0, nChunks == srcChunks),
      ("docs", nDocs > 0, nDocs == srcDocs),
      ("ivf", nIvf > 0, nIvf == nEmb),
      ("nsw", nNswE > 0, nNswV == nEmb))
      .toDF("tbl", "nonempty", "consistent")
      .orderBy($"tbl")
  }

  val persistChunksBuildSql: String =
    """SELECT t.tbl, true AS nonempty, true AS consistent
      |FROM (VALUES ('chunk_embeddings'), ('chunks'), ('docs'), ('ivf'), ('nsw')) t(tbl)
      |ORDER BY tbl""".stripMargin

  /** The all-invariants-hold grid the checked TEXT /query variants
    * must produce: ranks 1..k, every flag true. */
  val queryTextCheckedSql: String =
    """SELECT CAST(r.rank AS BIGINT) AS rank, true AS id_in_corpus,
      |  true AS content_ok, true AS score_bounded, true AS next_not_higher
      |FROM generate_series(1, 10) r(rank) ORDER BY rank""".stripMargin

  /** Deterministic invariant view of the ANN /query variants. An ANN
    * hit set cannot hash-match a SQL oracle (the whole point of the
    * index is an approximate cut), but the /query CONTRACT can: k hits
    * per query ranked 1..k, every hit id present in the vector corpus,
    * content equal to the matching document row, score inside the
    * cosine bound. Each hit row maps to its invariant flags; the
    * oracle computes the same grid in SQL, so a contract violation
    * (short result, foreign id, misjoined content, unbounded score)
    * breaks the hash compare. Recall quality is covered separately by
    * the ScalaTest bars (SURVEY §5).
    *
    * Shape: the corpus-side probes semi-join against broadcast hits
    * (never the reverse), so the checks stay scan+broadcast like the
    * query itself. */
  def queryIndexChecked(spark: SparkSession, dir: String,
      indexType: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val hits = queryWithIndex(spark, dir, indexType, k)
    // materialize the k·queries rows: the invariant probes below
    // reference this frame four times and must not replay the search
    val base = hits.select($"q_id", $"rank", $"id", $"content", $"confidence_e6")
      .localCheckpoint(true)
    // ids present in the corpus — probe from the big side, keep ≤ |hits|
    val matchedIds = Tables.embeddings(spark, dir)
      .join(broadcast(base.select($"id")), $"vec_id" === $"id", "left_semi")
      .select($"vec_id".as("id"))
    // expected content for the hit ids — again ≤ |hits| rows
    val expected = Tables.documents(spark, dir)
      .join(broadcast(base.select($"id")), $"doc_id" === $"id", "left_semi")
      .select($"doc_id".as("id"), substring($"text", 1, 40).as("expected_content"))
    base
      .join(broadcast(matchedIds.withColumn("id_in_corpus", lit(true))), Seq("id"), "left")
      .join(broadcast(expected), Seq("id"), "left")
      .select($"q_id", $"rank",
        coalesce($"id_in_corpus", lit(false)).as("id_in_corpus"),
        coalesce($"content" === $"expected_content", lit(false)).as("content_ok"),
        $"confidence_e6".between(-1000000L, 1000000L).as("score_bounded"))
      .orderBy($"q_id", $"rank")
  }

  /** The all-invariants-hold grid the checked ANN variants must
    * produce: 5 queries × ranks 1..k, every flag true. */
  val queryIndexCheckedSql: String =
    """SELECT q.q_id, CAST(r.rank AS BIGINT) AS rank,
      |  true AS id_in_corpus, true AS content_ok, true AS score_bounded
      |FROM (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < 5) q
      |CROSS JOIN generate_series(1, 10) r(rank)
      |ORDER BY q_id, rank""".stripMargin

  /** DuckDB twin for the `cosine` variant of [[queryWithIndex]] (the
    * ivf/nsw variants are rows-only + the interchangeability spec). */
  val queryIndexCosineSql: String = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    val cos = s"(CASE WHEN ${dot("e.embedding", "e.embedding")} = 0 OR ${dot("q.q_vec", "q.q_vec")} = 0 THEN 0.0 " +
      s"ELSE ${dot("e.embedding", "q.q_vec")} / (sqrt(${dot("e.embedding", "e.embedding")}) * sqrt(${dot("q.q_vec", "q.q_vec")})) END)"
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.q_id, e.vec_id AS neighbor_id, ${Stab.sqlE6(cos)} AS score_e6
       |  FROM embeddings e CROSS JOIN q
       |),
       |topk AS (
       |  SELECT q_id, neighbor_id, score_e6, rank FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY score_e6 DESC, neighbor_id ASC) AS rank
       |    FROM scored) t
       |  WHERE rank <= 10
       |)
       |SELECT t.q_id, t.neighbor_id AS id, substr(d.text, 1, 40) AS content,
       |  t.score_e6 AS confidence_e6, t.rank
       |FROM topk t LEFT JOIN documents d ON t.neighbor_id = d.doc_id
       |ORDER BY t.q_id, t.rank""".stripMargin
  }

  /** `crud_read`: the GET-by-id surface (reference main.py:178-186 /
    * 262-270 — one record per request, 404 on miss) as a batch of
    * point lookups: known and unknown ids in one frame; hits carry the
    * record, misses surface `found = false` instead of a 404. Shape:
    * the tiny lookup set broadcasts into the scan twice (inner join
    * for hits, anti probe on the pruned key column for misses) — the
    * corpus is never the build side and never shuffles. */
  def crudRead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lookups = spark.range(0, 30).select(($"id" * 25).as("lookup_id"))
    val docs = Tables.documents(spark, dir)
      .select($"doc_id".as("lookup_id"), md5($"text").as("text_md5"), $"source")
    val hits = docs.join(broadcast(lookups), Seq("lookup_id"))
      .select($"lookup_id", lit(true).as("found"), $"text_md5", $"source")
    val misses = lookups.join(docs.select($"lookup_id"), Seq("lookup_id"), "left_anti")
      .select($"lookup_id", lit(false).as("found"),
        lit(null).cast("string").as("text_md5"), lit(null).cast("string").as("source"))
    hits.unionByName(misses).orderBy($"lookup_id")
  }

  val crudReadSql: String =
    """SELECT t.gs * 25 AS lookup_id,
      |  d.doc_id IS NOT NULL AS found,
      |  md5(d.text) AS text_md5, d.source AS source
      |FROM generate_series(0, 29) t(gs)
      |LEFT JOIN documents d ON d.doc_id = t.gs * 25
      |ORDER BY lookup_id""".stripMargin

  /** `crud_list`: the list_all surface (main.py:173-175) as a paged,
    * key-ordered listing — the reference returns the whole collection
    * per request; at scale a listing is a deterministic page
    * (ORDER BY key OFFSET/LIMIT). */
  def crudList(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", md5($"text").as("text_md5"), $"source")
      .orderBy($"doc_id")
      .offset(100).limit(50)
  }

  val crudListSql: String =
    """SELECT doc_id, md5(text) AS text_md5, source FROM documents
      |ORDER BY doc_id LIMIT 50 OFFSET 100""".stripMargin

  /** `crud_reset`: /reset (main.py:80-85, 198-202 — clean every
    * collection, reseed): the post-reset state IS the seed batch; the
    * store-side mutation is [[graft.store.CollectionStore.reset]].
    * Output: per-library summary of the reseeded state. */
  def crudReset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).filter($"doc_id" < 100)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        min($"doc_id").as("min_doc_id"), max($"doc_id").as("max_doc_id"))
      .orderBy($"source")
  }

  val crudResetSql: String =
    """SELECT source, count(*) AS n_docs,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM documents WHERE doc_id < 100
      |GROUP BY source ORDER BY source""".stripMargin

  /** `pipeline_clean`: the composite training-data cleaning pass —
    * quality gates (token count, distinct-token ratio) ∘ exact dedup
    * (keep first per md5 group) ∘ MinHash near-dedup (drop the higher
    * doc_id of each candidate pair). Shows the operators composing
    * into one declarative plan; every stage is individually oracled,
    * and so is the composite. */
  /** The quality gate shared by the batch pipeline and its streaming
    * twin ([[graft.streaming.QualityStream]]) — ONE definition so the
    * advertised stream/batch parity cannot drift when tuned. The SQL
    * oracle twin inlines the same values (pipelineCleanSql). */
  val QualityMinTokens = 20L
  val QualityMinDistinctRatioE6 = 300000L

  def pipelineClean(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val quality = graft.text.TextOps.textQuality(spark, dir)
    val exactDrop = Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5($"text")).orderBy($"doc_id".asc)))
      .filter($"rn" > 1).select($"doc_id")
    val nearDrop = graft.dedup.Dedup.minhash(spark, dir)
      .select($"doc_b".as("doc_id")).distinct()
    quality
      .filter($"n_tokens" >= QualityMinTokens &&
        $"distinct_ratio_e6" >= QualityMinDistinctRatioE6)
      .join(exactDrop, Seq("doc_id"), "left_anti")
      .join(nearDrop, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"n_tokens", $"distinct_ratio_e6")
      .orderBy($"doc_id")
  }

  def pipelineCleanSql(qualitySql: String, minhashSql: String): String =
    s"""WITH quality AS ($qualitySql),
       |exact_drop AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (PARTITION BY md5(text)
       |      ORDER BY doc_id ASC) AS rn
       |    FROM documents) t
       |  WHERE rn > 1
       |),
       |near_drop AS (SELECT DISTINCT doc_b AS doc_id FROM ($minhashSql) m)
       |SELECT doc_id, n_tokens, distinct_ratio_e6
       |FROM quality
       |WHERE n_tokens >= $QualityMinTokens AND distinct_ratio_e6 >= $QualityMinDistinctRatioE6
       |  AND doc_id NOT IN (SELECT doc_id FROM exact_drop)
       |  AND doc_id NOT IN (SELECT doc_id FROM near_drop)
       |ORDER BY doc_id""".stripMargin

}

/** Typed multimodal metadata carried beside the binary payload. */
case class MMMeta(width: Long, height: Long, codec: String)
