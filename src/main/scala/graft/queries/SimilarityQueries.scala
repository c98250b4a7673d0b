package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Barrier.BarrierOps
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.Similarity

/** Similarity-search harness queries over the `embeddings` table.
  *
  * s1/s2 have DuckDB oracles built from the same explicit
  * dot/norm arithmetic (sequential fold over doubles in both engines).
  * s3 (LSH ANN) uses engine-side hashing — rows-only check + ScalaTest
  * recall assertion vs the brute-force baseline.
  */
object SimilarityQueries {

  /** One fitted IVF coarse quantizer per (session, dir) — the quantizer
    * is a pure function of (corpus, seed), so re-fitting per query is
    * waste; FAISS-style serving fits once and probes many. Stopped
    * sessions are pruned on access (same lifecycle as
    * DedupQueries.passCache). */
  private val ivfCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Array[Array[Double]]]
  private def ivfCentroids(s: SparkSession, dir: String): Array[Array[Double]] = {
    ivfCache.filterInPlace { case ((sess, _), _) =>
      !sess.sparkContext.isStopped
    }
    val cents = ivfCache.getOrElseUpdate((s, dir),
      graft.operators.Similarity.fitIvfCentroids(
        Tables(s, dir, "embeddings"), "embedding", nlist = 16, seed = 42,
        maxIter = 4))
    lastIvfFit = Some(cents)
    cents
  }

  /** Most recently served fitted models, captured so [[oracles]] can
    * render them as SQL literals AFTER the queries run — Verify dumps
    * oracle_sql.json last, so the oracle replays assignment + ADC math
    * against exactly the codebooks/centroids the Spark queries used
    * (the exported-codebook oracle recipe). */
  @volatile private var lastIvfFit: Option[Array[Array[Double]]] = None
  @volatile private var lastPqFit: Option[graft.operators.PqModel] = None
  @volatile private var lastHnswPairs: Option[Seq[(Long, Long)]] = None
  @volatile private var lastHnswInsertPairs: Option[Seq[(Long, Long)]] = None
  @volatile private var lastHnswStreamPairs: Option[Seq[(Long, Long)]] = None
  @volatile private var lastHnswCrudPairs: Option[Seq[(Long, Long)]] = None
  @volatile private var lastHnswChurnPairs: Option[Seq[(Long, Long)]] = None

  /** One fitted PQ codebook per (session, dir) — same serving shape as
    * the IVF quantizer cache. */
  private val pqCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), graft.operators.PqModel]
  private def pqModel(s: SparkSession, dir: String): graft.operators.PqModel = {
    pqCache.filterInPlace { case ((sess, _), _) =>
      !sess.sparkContext.isStopped
    }
    val mdl = pqCache.getOrElseUpdate((s, dir),
      graft.operators.ProductQuantization.fitPq(
        Tables(s, dir, "embeddings"), "embedding", m = 16, kCodes = 16))
    lastPqFit = Some(mdl)
    mdl
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // brute-force cosine top-5 for a fixed query subset
    "s1_bruteforce_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // embedding cosine near-duplicate pairs, threshold 0.99. The raw
    // synthetic embeddings are near-random (max pairwise cosine ≈ 0.46),
    // so the fixture PLANTS deterministic near-duplicates: each vector is
    // unioned with a perturbed copy (id + 10000, x → x + 0.02·x²,
    // add/multiply-only double arithmetic that DuckDB reproduces
    // bit-for-bit; cosine(original, copy) ≈ 0.99998). The expected
    // output is exactly the 300 planted pairs — a non-vacuous gate for
    // the banded-LSH candidate + exact-verify plan.
    "s2_cosine_neardup" -> ((s, dir) => {
      val base = Tables(s, dir, "embeddings").filter(col("vec_id") < 300)
        .select(col("vec_id"),
          col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
      val perturbed = base.select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.02) * x * x)
          .as("embedding"))
      Similarity.cosineNearDupPairs(base.unionAll(perturbed),
          "vec_id", "embedding", threshold = 0.99, dim = 64)
        .orderBy(col("i"), col("j"))
    }),

    // LSH-bucketed ANN top-5 (rows-only check; recall vs s1 in ScalaTest)
    "s3_lsh_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.lshTopK(emb, "vec_id", "embedding", dim = 64, k = 5,
          planes = 4, tables = 16)
        .filter(col("query_id") < 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF (k-means cells + nprobe) ANN top-5 (rows-only; recall in
    // ScalaTest). maxIter = 4 explicitly: a COARSE quantizer is enough
    // here and k-means fit dominates this query's wall-clock — the
    // operator default stays at 10. The fitted quantizer is cached per
    // (session, dir) — the FAISS serving shape (fit once, probe many).
    "s4_ivf_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfTopKWithCentroids(emb, "vec_id", "embedding", k = 5,
          centroids = ivfCentroids(s, dir), nprobe = 4)
        .filter(col("query_id") < 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Persisted ANN index — build/serve separation, the production
    // shape (fit once, serve many): the fitted IVF centroids persist
    // as a versioned snapshot-table artifact (cid, centroid), the
    // serving side RELOADS them (bounded collect: nlist rows) and
    // answers against the reloaded copy. Parquet round-trips doubles
    // bit-exactly, so the oracle is the same exported-centroid SQL as
    // s4 — any drift in persist/reload or in serving from the artifact
    // goes hash-red.
    "s12_persisted_index" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      import s.implicits._
      val cents = ivfCentroids(s, dir) // build
      val idxPath = java.nio.file.Files
        .createTempDirectory("graft_s12").toString + "/ivf_index"
      SnapshotTable.create(
        cents.zipWithIndex.toSeq
          .map { case (c, i) => (i, c.toSeq) }.toDF("cid", "centroid"),
        idxPath)
      val served = SnapshotTable.read(s, idxPath) // serve
        .orderBy(col("cid")).collect()
        .map(_.getSeq[Double](1).toArray)
      Similarity.ivfTopKWithCentroids(Tables(s, dir, "embeddings"),
          "vec_id", "embedding", k = 5, centroids = served, nprobe = 4)
        .filter(col("query_id") < 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // product-quantization ADC top-5 (rows-only; recall + determinism
    // in ScalaTest): vectors compressed to 16 code bytes, distances via
    // broadcast per-query lookup tables — the corpus side never ships a
    // float vector
    "s5_pq_topk" -> ((s, dir) => {
      import graft.operators.ProductQuantization
      val emb = Tables(s, dir, "embeddings")
      val model = pqModel(s, dir)
      val codes = ProductQuantization.pqEncode(emb, "vec_id", "embedding",
        model)
      ProductQuantization.pqTopK(codes,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding", model,
          k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // PQ shortlist + exact refine (rows-only; recall-dominance spec in
    // ScalaTest): ADC proposes k·4 candidates, true vectors re-rank
    // them exactly — the FAISS refine serving shape; the exact join
    // touches shortlist rows only
    "s8_pq_refined" -> ((s, dir) => {
      import graft.operators.ProductQuantization
      val emb = Tables(s, dir, "embeddings")
      val model = pqModel(s, dir)
      val codes = ProductQuantization.pqEncode(emb, "vec_id", "embedding",
        model)
      ProductQuantization.pqTopKRefined(codes, emb,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding", model,
          k = 5, expand = 4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF+PQ top-5 (rows-only; recall in ScalaTest): coarse cells bound
    // the scan (nprobe/nlist of the corpus per query), PQ codes bound
    // the bytes — the full FAISS-IVFPQ serving shape; both the
    // quantizer and the codebooks come from the per-session caches
    "s6_ivfpq_topk" -> ((s, dir) => {
      import graft.operators.ProductQuantization
      val emb = Tables(s, dir, "embeddings")
      val model = pqModel(s, dir)
      val centroids = ivfCentroids(s, dir)
      val cellCodes = ProductQuantization.pqEncodeWithCells(emb, "vec_id",
        "embedding", model, centroids)
      ProductQuantization.ivfPqTopK(cellCodes,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding", model,
          centroids, k = 5, nprobe = 8)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ANN quality harness: recall@5 of the IVF index against the
    // exact brute-force top-5, per query — the measurement that
    // decides nprobe/nlist before an index serves traffic. Both
    // arms are deterministic (exported-centroid IVF + exact cosine
    // with a fixed tie order), so the recall itself carries a DuckDB
    // oracle: the intersection count of the two top-5 sets. Queries
    // whose IVF list misses everything still emit a row (left join
    // from the exact arm's query ids).
    "s9_recall_eval" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val exact = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
          k = 5)
        .select(col("query_id"), col("corpus_id"))
      val approx = Similarity.ivfTopKWithCentroids(emb, "vec_id",
          "embedding", k = 5, centroids = ivfCentroids(s, dir),
          nprobe = 4)
        .filter(col("query_id") < 10)
        .select(col("query_id"), col("corpus_id"))
      val hits = exact
        .join(approx, Seq("query_id", "corpus_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
      exact.select(col("query_id")).distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("hits"), lit(0L)).as("hits_at_5"))
        .orderBy(col("query_id"))
    }),

    // Graph-based ANN (the HNSW family) — the serving-grade index
    // the IVF/PQ/LSH trio lacked: sharded navigable-small-world
    // graphs with a deterministic two-layer hierarchy, built
    // per-shard in parallel, PERSISTED as parquet and served from
    // the reloaded artifact (the s12 plumbing). The query is the
    // s9-shaped recall@5 eval against the exact brute-force arm; the
    // require() pins graph quality (mean recall ≥ 0.8 — at ef=64 it
    // should be near-perfect), and the oracle replays the exact arm
    // in DuckDB intersected with the served candidate set exported
    // as literals (the exported-artifact oracle recipe).
    "s13_hnsw_recall" -> ((s, dir) => {
      import graft.operators.GraphAnn
      val emb = Tables(s, dir, "embeddings")
      val idx = GraphAnn.build(emb, "vec_id", "embedding",
        nShards = 4, m = 8, efC = 48)
      val ipath = java.nio.file.Files
        .createTempDirectory("graft_hnsw").toString + "/index"
      idx.write.parquet(ipath)
      val served = s.read.parquet(ipath)
      val approx = GraphAnn.search(served,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, ef = 64)
        .select(col("query_id"), col("corpus_id"))
      val pairs = approx.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      lastHnswPairs = Some(pairs)
      import s.implicits._
      val exact = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
          k = 5)
        .select(col("query_id"), col("corpus_id"))
      val approxLit = pairs.toDF("query_id", "corpus_id")
      val hits = exact
        .join(approxLit, Seq("query_id", "corpus_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
      val out = exact.select(col("query_id")).distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("hits"), lit(0L)).as("hits_at_5"))
        .orderBy(col("query_id"))
      val mean = out.agg(avg(col("hits_at_5"))).head().getDouble(0)
      require(mean >= 4.0,
        f"HNSW recall regressed: mean hits@5 = $mean%.2f < 4.0")
      out
    }),

    // Incremental HNSW ingest — the streaming-corpus shape s13 lacked:
    // the index builds WITHOUT one tenth of the corpus, the holdout
    // arrives as an ingest batch through GraphAnn.insert (only its
    // hash shards re-link; untouched shards pass through verbatim, so
    // a shard-partitioned parquet layout re-persists only touched
    // partitions), and the same s9-shaped recall@5 eval runs against
    // the POST-INSERT index served from parquet. The require() pins
    // both graph quality after insertion AND that inserted ids are
    // reachable (they appear among served candidates); the oracle is
    // the s13 exported-candidates recipe with this run's pairs.
    "s14_hnsw_insert" -> ((s, dir) => {
      import graft.operators.GraphAnn
      val emb = Tables(s, dir, "embeddings")
      val base = GraphAnn.build(emb.filter(col("vec_id") % 10 =!= 3),
        "vec_id", "embedding", nShards = 4, m = 8, efC = 48)
      val upd = GraphAnn.insert(base,
        emb.filter(col("vec_id") % 10 === 3), "vec_id", "embedding",
        nShards = 4, m = 8, efC = 48)
      val ipath = java.nio.file.Files
        .createTempDirectory("graft_hnsw_ins").toString + "/index"
      upd.write.partitionBy("shard").parquet(ipath)
      val served = s.read.parquet(ipath)
      val approx = GraphAnn.search(served,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, ef = 64)
        .select(col("query_id"), col("corpus_id"))
      val pairs = approx.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      lastHnswInsertPairs = Some(pairs)
      require(pairs.exists(_._2 % 10 == 3),
        "no inserted vector was served — insert() left the batch " +
          "unreachable")
      import s.implicits._
      val exact = graft.operators.Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
          k = 5)
        .select(col("query_id"), col("corpus_id"))
      val approxLit = pairs.toDF("query_id", "corpus_id")
      val hits = exact
        .join(approxLit, Seq("query_id", "corpus_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
      val out = exact.select(col("query_id")).distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("hits"), lit(0L)).as("hits_at_5"))
        .orderBy(col("query_id"))
      val mean = out.agg(avg(col("hits_at_5"))).head().getDouble(0)
      require(mean >= 4.0,
        f"post-insert HNSW recall regressed: mean hits@5 = $mean%.2f")
      out
    }),

    // HNSW delete + upsert (s15): the index loses every vec_id%10==7
    // vector to shard-local TOMBSTONES (never served, kept as beam
    // waypoints) and every vec_id%10==3 vector is REPLACED by a
    // deterministic transform (touched shards rebuild). Served from
    // the persisted+reloaded artifact; graded as hits@5 against brute
    // force over the EXPECTED post-churn corpus state, which the
    // DuckDB oracle reconstructs relationally (same CASE/transform).
    "s15_hnsw_delete_upsert" -> ((s, dir) => {
      import graft.operators.GraphAnn
      val emb = Tables(s, dir, "embeddings")
      val embD = emb.select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
      val idx = GraphAnn.build(embD, "vec_id", "embedding",
        nShards = 4, m = 8, efC = 48)
      val afterDel = GraphAnn.delete(idx,
        embD.filter(col("vec_id") % 10 === 7).select(col("vec_id")),
        "vec_id", nShards = 4, m = 8, efC = 48)
      val replaced = embD.filter(col("vec_id") % 10 === 3)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => x * lit(0.5) + lit(1.0)).as("embedding"))
      val upd = GraphAnn.upsert(afterDel, replaced, "vec_id",
        "embedding", nShards = 4, m = 8, efC = 48)
      val ipath = java.nio.file.Files
        .createTempDirectory("graft_hnsw_crud").toString + "/index"
      upd.write.partitionBy("shard").parquet(ipath)
      val served = s.read.parquet(ipath)
      val queries = embD.filter(col("vec_id") < 10)
      val approx = GraphAnn.search(served, queries, "vec_id",
          "embedding", k = 5, ef = 64)
        .select(col("query_id"), col("corpus_id"))
      val pairs = approx.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      lastHnswCrudPairs = Some(pairs)
      require(!pairs.exists(_._2 % 10 == 7),
        "a deleted vector was served")
      import s.implicits._
      // the EXPECTED corpus: deletes gone, upserts transformed
      val state = embD.filter(col("vec_id") % 10 =!= 7)
        .select(col("vec_id"),
          when(col("vec_id") % 10 === 3,
            transform(col("embedding"), x => x * lit(0.5) + lit(1.0)))
            .otherwise(col("embedding")).as("embedding"))
      val exact = graft.operators.Similarity.bruteForceTopK(
          queries, state, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("corpus_id"))
      val approxLit = pairs.toDF("query_id", "corpus_id")
      val hits = exact
        .join(approxLit, Seq("query_id", "corpus_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
      val out = exact.select(col("query_id")).distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("hits"), lit(0L)).as("hits_at_5"))
        .orderBy(col("query_id"))
      val mean = out.agg(avg(col("hits_at_5"))).head().getDouble(0)
      require(mean >= 4.0,
        f"post-delete/upsert HNSW recall regressed: " +
          f"mean hits@5 = $mean%.2f")
      out
    }),

    // Streaming HNSW upkeep — s14's ingest loop as an actual stream:
    // the index persists shard-partitioned, each micro-batch links
    // its vectors via GraphAnn.insert and re-persists ONLY the
    // touched shard partitions (dynamic partition overwrite — the
    // untouched shards' files are never rewritten, which is the whole
    // point of hash-sharded incremental ANN maintenance at scale).
    // localCheckpoint breaks the read-path lineage so the overwrite
    // of the path being served is legal. Serving happens from the
    // final on-disk artifact; pins and oracle as s13/s14.
    "st14_stream_hnsw_upkeep" -> ((s, dir) => {
      import graft.operators.GraphAnn
      import org.apache.spark.sql.DataFrame
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val base = java.nio.file.Files.createTempDirectory("graft_st14")
      val ipath = base.resolve("index").toString
      GraphAnn.build(emb.filter(col("vec_id") % 5 =!= 4),
          "vec_id", "embedding", nShards = 4, m = 8, efC = 48)
        .write.partitionBy("shard").parquet(ipath)
      // stage the holdout fifth as three mtime-ordered batch files
      val staged = base.resolve("in")
      java.nio.file.Files.createDirectories(staged)
      for (k <- 0 until 3) {
        val tmp = base.resolve(s"tmp$k").toString
        emb.filter(col("vec_id") % 5 === 4 && col("vec_id") % 3 === k)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = staged.resolve(f"batch$k%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 400000L + k * 60000L))
      }
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      val q = stream.writeStream
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val touched = b.select(
              pmod(col("vec_id"), lit(4L)).cast("int").as("s"))
            .distinct().collect().map(_.getInt(0)).toSeq
          val upd = GraphAnn.insert(s.read.parquet(ipath), b,
              "vec_id", "embedding", nShards = 4, m = 8, efC = 48)
            .filter(col("shard").isin(touched: _*))
            .barrier()
          upd.write.partitionBy("shard").mode("overwrite")
            .option("partitionOverwriteMode", "dynamic").parquet(ipath)
          ()
        }
        .start()
      try { q.processAllAvailable() } finally q.stop()
      val served = s.read.parquet(ipath)
      require(served.count() == emb.count(),
        "streamed HNSW upkeep lost or duplicated vectors")
      val approx = GraphAnn.search(served,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, ef = 64)
        .select(col("query_id"), col("corpus_id"))
      val pairs = approx.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      lastHnswStreamPairs = Some(pairs)
      require(pairs.exists(_._2 % 5 == 4),
        "no streamed vector was served — upkeep left batches unreachable")
      import s.implicits._
      val exact = graft.operators.Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
          k = 5)
        .select(col("query_id"), col("corpus_id"))
      val approxLit = pairs.toDF("query_id", "corpus_id")
      val hits = exact
        .join(approxLit, Seq("query_id", "corpus_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
      val out = exact.select(col("query_id")).distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("hits"), lit(0L)).as("hits_at_5"))
        .orderBy(col("query_id"))
      val mean = out.agg(avg(col("hits_at_5"))).head().getDouble(0)
      require(mean >= 4.0,
        f"streamed HNSW recall regressed: mean hits@5 = $mean%.2f")
      out
    }),

    // Streaming ANN churn upkeep — st14's maintenance loop for the
    // OTHER two lifecycle verbs: a stream of delete/upsert commands
    // keeps the served HNSW index current, with touched-shard-only
    // re-persistence throughout and a stop/RESTART mid-stream. The
    // churn is staged so every tombstone regime is exercised live:
    // batch 0 tombstones 20% of shard 3 (below rebuildAt — the dead
    // flags PERSIST to disk and must survive the restart unserved),
    // batch 1 pushes shard 3 to a CUMULATIVE 40% (the rebuild
    // threshold fires mid-stream and sweeps the shard) while shard 1
    // stays tombstoned, batch 2 upserts transformed vectors into
    // shards 1 and 3 (rebuild; shard 1's tombstones fall away).
    // Shards 0 and 2 are untouched by the whole stream — their
    // parquet files must be byte-identical at the end, which is what
    // makes hash-sharded ANN maintenance viable at 100 TB: persistence
    // cost scales with churn, never index size. Oracle: the s15
    // recipe against the expected post-churn corpus.
    "st16_stream_ann_churn" -> ((s, dir) => {
      import graft.operators.GraphAnn
      import org.apache.spark.sql.DataFrame
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
      val base = java.nio.file.Files.createTempDirectory("graft_st16")
      val ipath = base.resolve("index").toString
      GraphAnn.build(emb, "vec_id", "embedding",
          nShards = 4, m = 8, efC = 48)
        .write.partitionBy("shard").parquet(ipath)
      val cleanShardFiles = new java.io.File(ipath).listFiles()
        .filter(f => f.getName == "shard=0" || f.getName == "shard=2")
        .flatMap(_.listFiles()).map(f => (f.getName, f.length()))
        .sortBy(_._1).toSeq
      // churn command batches (op, vec_id, embedding), staged as
      // mtime-ordered files; %20==7/17/19 all hash to shards 3/1/3
      val staged = base.resolve("in")
      java.nio.file.Files.createDirectories(staged)
      def stage(k: Int, cmds: DataFrame): Unit = {
        val tmp = base.resolve(s"tmp$k").toString
        cmds.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = staged.resolve(f"batch$k%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 400000L + k * 60000L))
      }
      val delCmd = (p: org.apache.spark.sql.Column) =>
        emb.filter(p).select(lit("delete").as("op"), col("vec_id"),
          lit(null).cast(ArrayType(DoubleType)).as("embedding"))
      stage(0, delCmd(col("vec_id") % 20 === 7))
      val cmdSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("op", StringType),
        org.apache.spark.sql.types.StructField("vec_id", LongType),
        org.apache.spark.sql.types.StructField("embedding",
          ArrayType(DoubleType))))
      def runStream(): Unit = {
        val q = s.readStream.schema(cmdSchema)
          .option("maxFilesPerTrigger", "1").parquet(staged.toString)
          .writeStream
          .option("checkpointLocation", base.resolve("ckpt").toString)
          .foreachBatch { (b: DataFrame, _: Long) =>
            val ops = b.select(col("op")).distinct()
              .collect().map(_.getString(0)).toSet
            val touched = b.select(
                pmod(col("vec_id"), lit(4L)).cast("int").as("t"))
              .distinct().collect().map(_.getInt(0)).toSeq
            var idx = s.read.parquet(ipath)
            if (ops("delete"))
              idx = GraphAnn.delete(idx,
                b.filter(col("op") === "delete").select(col("vec_id")),
                "vec_id", nShards = 4, m = 8, efC = 48)
            if (ops("upsert"))
              idx = GraphAnn.upsert(idx,
                b.filter(col("op") === "upsert")
                  .select(col("vec_id"), col("embedding")),
                "vec_id", "embedding", nShards = 4, m = 8, efC = 48)
            val upd = idx.filter(col("shard").isin(touched: _*))
              .barrier()
            upd.write.partitionBy("shard").mode("overwrite")
              .option("partitionOverwriteMode", "dynamic").parquet(ipath)
            ()
          }
          .start()
        try { q.processAllAvailable() } finally q.stop()
      }
      runStream() // phase 1: batch 0 only, then STOP
      // tombstones (not yet rebuilt) must survive persistence: the
      // reloaded artifact never serves a deleted id across the restart
      val mid = s.read.parquet(ipath)
      require(mid.filter(col("shard") === 3 && col("dead")).count() > 0,
        "expected shard 3 to carry persisted tombstones after batch 0")
      val midServed = GraphAnn.search(mid,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, ef = 64)
        .select(col("corpus_id")).collect().map(_.getLong(0))
      require(!midServed.exists(_ % 20 == 7),
        "a tombstoned vector was served across the restart")
      // phase 2: stage the rest and RESTART from the same checkpoint
      stage(1, delCmd(col("vec_id") % 20 === 17 ||
        col("vec_id") % 20 === 19))
      stage(2, emb.filter(col("vec_id") % 10 === 3)
        .select(lit("upsert").as("op"), col("vec_id"),
          transform(col("embedding"),
            x => x * lit(0.5) + lit(1.0)).as("embedding")))
      runStream()
      val served = s.read.parquet(ipath)
      // the cumulative 40% crossed rebuildAt: shard 3 was swept (no
      // dead rows, deleted ids physically gone); shard 1's tombstones
      // fell away with the upsert rebuild
      require(served.filter(col("dead")).count() == 0L,
        "expected every tombstone swept by rebuilds at end of stream")
      require(served.filter(col("id") % 20 === 7).count() == 0L,
        "rebuild left deleted ids in shard 3")
      // untouched shards were never rewritten
      val endShardFiles = new java.io.File(ipath).listFiles()
        .filter(f => f.getName == "shard=0" || f.getName == "shard=2")
        .flatMap(_.listFiles()).map(f => (f.getName, f.length()))
        .sortBy(_._1).toSeq
      require(endShardFiles == cleanShardFiles,
        "untouched shards 0/2 were rewritten by the churn stream")
      val queries = emb.filter(col("vec_id") < 10)
      val approx = GraphAnn.search(served, queries, "vec_id",
          "embedding", k = 5, ef = 64)
        .select(col("query_id"), col("corpus_id"))
      val pairs = approx.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      lastHnswChurnPairs = Some(pairs)
      require(!pairs.exists(p => p._2 % 20 == 7 || p._2 % 20 == 17 ||
        p._2 % 20 == 19), "a deleted vector was served")
      import s.implicits._
      val state = emb.filter(col("vec_id") % 20 =!= 7 &&
          col("vec_id") % 20 =!= 17 && col("vec_id") % 20 =!= 19)
        .select(col("vec_id"),
          when(col("vec_id") % 10 === 3,
            transform(col("embedding"), x => x * lit(0.5) + lit(1.0)))
            .otherwise(col("embedding")).as("embedding"))
      val exact = graft.operators.Similarity.bruteForceTopK(
          queries, state, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("corpus_id"))
      val approxLit = pairs.toDF("query_id", "corpus_id")
      val hits = exact
        .join(approxLit, Seq("query_id", "corpus_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
      val out = exact.select(col("query_id")).distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("hits"), lit(0L)).as("hits_at_5"))
        .orderBy(col("query_id"))
      val mean = out.agg(avg(col("hits_at_5"))).head().getDouble(0)
      require(mean >= 4.0,
        f"post-churn streamed HNSW recall regressed: " +
          f"mean hits@5 = $mean%.2f")
      out
    }),

    // Filtered vector search — the other common serving shape: top-k
    // cosine restricted to a metadata predicate (label filter),
    // pre-filter strategy: the predicate prunes the corpus IN THE SCAN
    // (pushed filter, before any distance math), the query set
    // broadcasts, and recall is exact by construction — unlike
    // post-filtering an unfiltered ANN shortlist, which loses matches
    // when the predicate is selective. At 100 TB the same shape rides
    // an IVF bucket join instead of the brute product; the exact arm
    // here is the one with an exact oracle (s1 CTE + the filter).
    "s11_filtered_ann" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val corpus = emb.filter(col("label") % 3 === 0)
      graft.operators.Similarity.bruteForceTopK(
          queries, corpus, "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Hybrid retrieval — the RAG serving shape: a BM25 keyword
    // shortlist (50 docs, one corpus scan + 1-row stats broadcast)
    // re-ranked by embedding cosine against a query-by-example vector
    // (vec 0), top-10. The expensive vector math touches ONLY the
    // shortlist — at 100 TB the keyword stage bounds the vector
    // stage, which is the point of hybrid. Exact oracle: t6's BM25
    // CTEs at k=50 composed with the s1 cosine fold.
    "s10_hybrid_search" -> ((s, dir) => {
      val shortlist = graft.operators.Ranking.bm25TopK(
        Tables(s, dir, "documents"), "doc_id", "text",
        terms = hybridTerms, k = 50)
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast(ArrayType(DoubleType)).as("v"))
      val qv = emb.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cos").desc, col("doc_id").asc)
      shortlist.join(emb, col("doc_id") === col("vec_id"))
        .crossJoin(broadcast(qv))
        .filter(col("doc_id") =!= 0)
        .select(col("doc_id"), round(col("score"), 6).as("bm25"),
          Similarity.cosine(col("v"), col("qv")).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("rank"), col("doc_id"), col("bm25"), col("cos"))
        .orderBy(col("rank"))
    }),

    // SemDeDup-style semantic dedup, composed end-to-end: embedding
    // near-dup pairs (banded LSH + exact cosine verify) → connected
    // components → one representative per semantic cluster, with the
    // cluster size kept for curation decisions. Same planted-pair
    // fixture as s2 (exact double arithmetic both engines reproduce);
    // oracled in one DuckDB statement incl. the recursive-CTE
    // clustering — LSH candidate recall is the s2 gate, transitive
    // closure + representative selection is this one's.
    "c2_semantic_dedup" -> ((s, dir) => {
      semanticComponents(s, dir).groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
        .select(col("cluster_id").as("vec_id"), col("cluster_size"))
        .orderBy(col("vec_id"))
    }),

    // mean embedding per semantic cluster — the SemDeDup centroid step
    // (centroids then drive diversity sampling / pruning decisions).
    // posexplode + a (cluster, pos) average: the map-side-combinable
    // shape — the corpus never collects vectors to one place, and each
    // reducer key holds one scalar. Flat (vec_id, pos, c) output keeps
    // the oracle compare bitwise (cluster size is 2, and a 2-element
    // double mean is order-insensitive in both engines).
    "s7_cluster_centroids" -> ((s, dir) => {
      plantedVectors(s, dir).join(semanticComponents(s, dir), Seq("vec_id"))
        .select(col("cluster_id"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cluster_id"), col("pos"))
        .agg(avg(col("x")).as("c"))
        .select(col("cluster_id").as("vec_id"),
          col("pos").cast(LongType).as("pos"), col("c"))
        .orderBy(col("vec_id"), col("pos"))
    })
  )

  /** The s2/c2/s7 planted-pair fixture: vec_id < 300 plus perturbed
    * copies (id + 10000, x → x + 0.02·x² — add/multiply-only double
    * arithmetic DuckDB reproduces bit-for-bit). */
  private def plantedVectors(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "embeddings").filter(col("vec_id") < 300)
      .select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
    base.unionAll(base.select((col("vec_id") + 10000).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.02) * x * x)
        .as("embedding")))
  }

  /** (vec_id, cluster_id) semantic components over the planted fixture:
    * banded-LSH near-dup pairs at cosine ≥ 0.99 → min-label connected
    * components. */
  private def semanticComponents(s: SparkSession, dir: String): DataFrame = {
    val all = plantedVectors(s, dir)
    graft.operators.Dedup.connectedComponents(
      all.select(col("vec_id")), "vec_id",
      Similarity.cosineNearDupPairs(all, "vec_id", "embedding",
        threshold = 0.99, dim = 64).select(col("i"), col("j")))
  }

  // DuckDB cosine with the same sequential double fold:
  // list_dot_product on DOUBLE[] lists.
  private val cosSql =
    """list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      |    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
      |       * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))""".stripMargin

  /** SQL literal for one double — Scala's shortest round-trip repr,
    * FORCED into DOUBLE typing with an exponent suffix: a bare decimal
    * inside a DuckDB list literal types as DECIMAL first, and the
    * DECIMAL→DOUBLE conversion does not round-trip the bits. */
  private def dl(d: Double): String = {
    val s = d.toString
    if (s.contains('E') || s.contains('e')) s else s + "e0"
  }

  /** `CAST([…] AS DOUBLE[])` — the explicit cast matters: bare list
    * literals type as DECIMAL and every downstream fold would lose
    * bit-exactness with the Spark double math. */
  private def arrSql(v: Array[Double]): String =
    v.map(dl).mkString("CAST([", ", ", "] AS DOUBLE[])")

  /** `cent(c, cv)` VALUES rows for the IVF coarse centroids. */
  private def centValues(cents: Array[Array[Double]]): String =
    cents.zipWithIndex.map { case (v, c) => s"($c, ${arrSql(v)})" }
      .mkString(",\n  ")

  /** `cb(s, c, bv)` VALUES rows for the PQ codebooks. */
  private def cbValues(m: graft.operators.PqModel): String =
    (for { s <- 0 until m.m; c <- 0 until m.kCodes }
      yield s"($s, $c, ${arrSql(m.codebooks(s)(c))})").mkString(",\n  ")

  /** Shared CTE fragments: `enc` holds the squared L2 distance of every
    * vector's subspace-s slice to codebook entry (s, c) — the SAME
    * sequential fold order as the Spark kernels (left fold, j
    * ascending), so each distance is bit-identical; `codes` is the
    * argmin encode (first minimum ⇔ ORDER BY d, c), and a query's ADC
    * LUT is just `enc` restricted to the query ids. */
  private def pqEncCte(m: graft.operators.PqModel): String = {
    val sd = m.subDim
    s"""corpus AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |enc AS (SELECT corpus.id, cb.s, cb.c,
       |    list_reduce(list_transform(range(1, ${sd + 1}),
       |      j -> (v[cb.s*$sd+j]-bv[j])*(v[cb.s*$sd+j]-bv[j])), (a,b) -> a+b) AS d
       |  FROM corpus CROSS JOIN cb),
       |codes AS (SELECT id, s, c FROM (SELECT id, s, c,
       |    row_number() OVER (PARTITION BY id, s ORDER BY d ASC, c ASC) AS rn
       |  FROM enc) WHERE rn = 1),
       |lut AS (SELECT id AS qid, s, c, d FROM enc WHERE id < 10)""".stripMargin
  }

  /** `cd`/`cells`/`probes` CTEs: full-dim squared distance to every
    * coarse centroid, home-cell argmin, and each query's `nprobe`
    * nearest cells (ties by centroid index — the stable-sort order the
    * Spark side uses). */
  private def ivfCellCte(cents: Array[Array[Double]], nprobe: Int): String = {
    val dim = cents.head.length
    s"""cd AS (SELECT corpus.id, cent.c,
       |    list_reduce(list_transform(range(1, ${dim + 1}),
       |      j -> (v[j]-cv[j])*(v[j]-cv[j])), (a,b) -> a+b) AS d
       |  FROM corpus CROSS JOIN cent),
       |crn AS (SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY d ASC, c ASC) AS rn FROM cd),
       |cells AS (SELECT id, c AS cell FROM crn WHERE rn = 1),
       |probes AS (SELECT id AS query_id, c AS cell FROM crn WHERE rn <= $nprobe AND id < 10)""".stripMargin
  }

  private def s4Sql(cents: Array[Array[Double]]): String =
    s"""WITH cent(c, cv) AS (VALUES
       |  ${centValues(cents)}),
       |corpus AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${ivfCellCte(cents, nprobe = 4)},
       |scored AS (SELECT p.query_id, ce.id AS corpus_id,
       |    list_dot_product(q.v, b.v)
       |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
       |  FROM probes p
       |  JOIN cells ce ON ce.cell = p.cell AND ce.id <> p.query_id
       |  JOIN corpus q ON q.id = p.query_id
       |  JOIN corpus b ON b.id = ce.id),
       |ranked AS (SELECT query_id, corpus_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, rank, corpus_id, cos FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private def s5Sql(m: graft.operators.PqModel): String =
    s"""WITH cb(s, c, bv) AS (VALUES
       |  ${cbValues(m)}),
       |${pqEncCte(m)},
       |ad AS (SELECT l.qid, k.id AS corpus_id,
       |    list_reduce(list(l.d ORDER BY l.s), (a,b) -> a+b) AS adist
       |  FROM codes k JOIN lut l ON l.s = k.s AND l.c = k.c AND l.qid <> k.id
       |  GROUP BY l.qid, k.id),
       |ranked AS (SELECT qid AS query_id, corpus_id, adist,
       |    row_number() OVER (PARTITION BY qid ORDER BY adist ASC, corpus_id ASC) AS rank
       |  FROM ad)
       |SELECT query_id, rank, corpus_id, adist FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private def s8Sql(m: graft.operators.PqModel): String = {
    val dim = m.dim
    s"""WITH cb(s, c, bv) AS (VALUES
       |  ${cbValues(m)}),
       |${pqEncCte(m)},
       |ad AS (SELECT l.qid, k.id AS corpus_id,
       |    list_reduce(list(l.d ORDER BY l.s), (a,b) -> a+b) AS adist
       |  FROM codes k JOIN lut l ON l.s = k.s AND l.c = k.c AND l.qid <> k.id
       |  GROUP BY l.qid, k.id),
       |short AS (SELECT qid AS query_id, corpus_id FROM (SELECT qid, corpus_id,
       |    row_number() OVER (PARTITION BY qid ORDER BY adist ASC, corpus_id ASC) AS rank
       |  FROM ad) WHERE rank <= 20),
       |ref AS (SELECT sh.query_id, sh.corpus_id,
       |    list_reduce(list_transform(range(1, ${dim + 1}),
       |      j -> (q.v[j]-b.v[j])*(q.v[j]-b.v[j])), (a,b) -> a+b) AS dist
       |  FROM short sh
       |  JOIN corpus q ON q.id = sh.query_id
       |  JOIN corpus b ON b.id = sh.corpus_id),
       |rranked AS (SELECT query_id, corpus_id, dist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, corpus_id ASC) AS rank
       |  FROM ref)
       |SELECT query_id, rank, corpus_id, dist FROM rranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  private def s6Sql(m: graft.operators.PqModel,
      cents: Array[Array[Double]]): String =
    s"""WITH cb(s, c, bv) AS (VALUES
       |  ${cbValues(m)}),
       |cent(c, cv) AS (VALUES
       |  ${centValues(cents)}),
       |${pqEncCte(m)},
       |${ivfCellCte(cents, nprobe = 8)},
       |ad AS (SELECT p.query_id, k.id AS corpus_id,
       |    list_reduce(list(l.d ORDER BY l.s), (a,b) -> a+b) AS adist
       |  FROM probes p
       |  JOIN cells ce ON ce.cell = p.cell AND ce.id <> p.query_id
       |  JOIN codes k ON k.id = ce.id
       |  JOIN lut l ON l.qid = p.query_id AND l.s = k.s AND l.c = k.c
       |  GROUP BY p.query_id, k.id),
       |ranked AS (SELECT query_id, corpus_id, adist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, corpus_id ASC) AS rank
       |  FROM ad)
       |SELECT query_id, rank, corpus_id, adist FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** s10's keyword terms — the t6 query terms (duplicated by value:
    * TextQueries keeps its own private). */
  private val hybridTerms = Seq("spark", "vector", "merge", "customer")

  /** s10's oracle: t6's BM25 CTEs at k=50, cosine-reranked. */
  private val s10Oracle: String = {
    val score = hybridTerms.indices.map(i =>
      s"""ln(1 + (n_docs - df_$i + 0.5) / (df_$i + 0.5)) * tf_$i * (1.2 + 1)
         |    / (tf_$i + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))""".stripMargin)
      .mkString(" +\n    ")
    s"""WITH t AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |p AS (SELECT doc_id, len(toks) AS dl,
       |    ${hybridTerms.zipWithIndex.map { case (t, i) =>
            s"len(list_filter(toks, x -> x = '$t')) AS tf_$i" }
            .mkString(",\n    ")}
       |  FROM t),
       |s AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl,
       |    ${hybridTerms.indices.map(i =>
            s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i")
            .mkString(",\n    ")}
       |  FROM p),
       |short AS (SELECT doc_id, round($score, 6) AS bm25
       |  FROM p, s ORDER BY $score DESC, doc_id LIMIT 50),
       |corpus AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM corpus WHERE id = 0),
       |scored AS (SELECT sh.doc_id, sh.bm25,
       |    list_dot_product(c.v, q.qv)
       |      / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
       |  FROM short sh JOIN corpus c ON c.id = sh.doc_id CROSS JOIN q
       |  WHERE sh.doc_id <> 0)
       |SELECT rank, doc_id, bm25, cos FROM (SELECT doc_id, bm25, cos,
       |    row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rank
       |  FROM scored) WHERE rank <= 10 ORDER BY rank""".stripMargin
  }

  /** s9: IVF top-5 (s4's CTEs) ∩ brute-force top-5, counted per
    * query — the recall@5 evaluation replayed relationally. */
  private def s9Sql(cents: Array[Array[Double]]): String =
    s"""WITH cent(c, cv) AS (VALUES
       |  ${centValues(cents)}),
       |corpus AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${ivfCellCte(cents, nprobe = 4)},
       |iscored AS (SELECT p.query_id, ce.id AS corpus_id,
       |    list_dot_product(q.v, b.v)
       |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
       |  FROM probes p
       |  JOIN cells ce ON ce.cell = p.cell AND ce.id <> p.query_id
       |  JOIN corpus q ON q.id = p.query_id
       |  JOIN corpus b ON b.id = ce.id),
       |ivf AS (SELECT query_id, corpus_id FROM (SELECT query_id, corpus_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
       |  FROM iscored) WHERE rank <= 5),
       |bscored AS (SELECT a.id AS query_id, b.id AS corpus_id,
       |    list_dot_product(a.v, b.v)
       |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
       |  FROM corpus a JOIN corpus b ON a.id <> b.id
       |  WHERE a.id < 10),
       |exact AS (SELECT query_id, corpus_id FROM (SELECT query_id, corpus_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
       |  FROM bscored) WHERE rank <= 5)
       |SELECT e.query_id, CAST(count(i.corpus_id) AS BIGINT) AS hits_at_5
       |FROM exact e LEFT JOIN ivf i
       |  ON i.query_id = e.query_id AND i.corpus_id = e.corpus_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** s3's hyperplanes are a PURE function of (dim, planes, tables) — no
    * runtime capture needed: embed them as literals and replay
    * signature bits, bucket collisions and the cosine rerank exactly. */
  private lazy val s3Oracle: String = {
    val planeVals = graft.operators.Similarity.lshPlaneRows(64, 4, 16)
      .map { case (t, p, v) => s"($t, $p, ${arrSql(v)})" }.mkString(",\n  ")
    s"""WITH pl(t, p, pv) AS (VALUES
       |  $planeVals),
       |corpus AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS (SELECT corpus.id, pl.t,
       |    sum(CASE WHEN list_dot_product(v, pv) >= 0
       |      THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END) AS b
       |  FROM corpus CROSS JOIN pl GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT q.id AS query_id, c.id AS corpus_id
       |  FROM sig q JOIN sig c ON q.t = c.t AND q.b = c.b AND q.id <> c.id
       |  WHERE q.id < 10),
       |scored AS (SELECT cd.query_id, cd.corpus_id,
       |    list_dot_product(a.v, b.v)
       |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
       |  FROM cand cd
       |  JOIN corpus a ON a.id = cd.query_id
       |  JOIN corpus b ON b.id = cd.corpus_id),
       |ranked AS (SELECT query_id, corpus_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, rank, corpus_id, cos FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** s13: exact brute-force top-5 (s9's CTEs) ∩ the SERVED HNSW
    * candidate pairs exported as literals — the recall@5 eval
    * replayed relationally against the run's own candidates. */
  private def s13Sql(pairs: Seq[(Long, Long)]): String =
    s"""WITH approx(query_id, corpus_id) AS (VALUES
       |  ${pairs.map(p => s"(${p._1}, ${p._2})").mkString(",\n  ")}),
       |corpus AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bscored AS (SELECT a.id AS query_id, b.id AS corpus_id,
       |    list_dot_product(a.v, b.v)
       |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
       |  FROM corpus a JOIN corpus b ON a.id <> b.id
       |  WHERE a.id < 10),
       |exact AS (SELECT query_id, corpus_id FROM (SELECT query_id, corpus_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
       |  FROM bscored) WHERE rank <= 5)
       |SELECT e.query_id, CAST(count(a.corpus_id) AS BIGINT) AS hits_at_5
       |FROM exact e LEFT JOIN approx a
       |  ON a.query_id = e.query_id AND a.corpus_id = e.corpus_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** s15: s13's recipe against the POST-CHURN corpus — deletes
    * (vec_id%10==7) gone, upserts (vec_id%10==3) replaced by the same
    * x*0.5+1.0 transform the Spark side applied (float→double cast
    * first on both sides, so the doubles are bit-identical); queries
    * keep their ORIGINAL vectors. */
  private def s15Sql(pairs: Seq[(Long, Long)]): String =
    s"""WITH approx(query_id, corpus_id) AS (VALUES
       |  ${pairs.map(p => s"(${p._1}, ${p._2})").mkString(",\n  ")}),
       |corpus AS (SELECT vec_id AS id,
       |    CASE WHEN vec_id % 10 = 3
       |      THEN list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.5 + 1.0)
       |      ELSE CAST(embedding AS DOUBLE[]) END AS v
       |  FROM embeddings WHERE vec_id % 10 != 7),
       |qs AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < 10),
       |bscored AS (SELECT a.id AS query_id, b.id AS corpus_id,
       |    list_dot_product(a.v, b.v)
       |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
       |  FROM qs a JOIN corpus b ON a.id <> b.id),
       |exact AS (SELECT query_id, corpus_id FROM (SELECT query_id, corpus_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
       |  FROM bscored) WHERE rank <= 5)
       |SELECT e.query_id, CAST(count(a.corpus_id) AS BIGINT) AS hits_at_5
       |FROM exact e LEFT JOIN approx a
       |  ON a.query_id = e.query_id AND a.corpus_id = e.corpus_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** st16: the s15 recipe against the streamed post-churn corpus —
    * deletes (vec_id%20 ∈ {7,17,19}) gone, upserts (vec_id%10==3)
    * replaced by the same x*0.5+1.0 transform; queries keep their
    * ORIGINAL vectors. */
  private def st16Sql(pairs: Seq[(Long, Long)]): String =
    s"""WITH approx(query_id, corpus_id) AS (VALUES
       |  ${pairs.map(p => s"(${p._1}, ${p._2})").mkString(",\n  ")}),
       |corpus AS (SELECT vec_id AS id,
       |    CASE WHEN vec_id % 10 = 3
       |      THEN list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.5 + 1.0)
       |      ELSE CAST(embedding AS DOUBLE[]) END AS v
       |  FROM embeddings WHERE vec_id % 20 NOT IN (7, 17, 19)),
       |qs AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < 10),
       |bscored AS (SELECT a.id AS query_id, b.id AS corpus_id,
       |    list_dot_product(a.v, b.v)
       |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
       |  FROM qs a JOIN corpus b ON a.id <> b.id),
       |exact AS (SELECT query_id, corpus_id FROM (SELECT query_id, corpus_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
       |  FROM bscored) WHERE rank <= 5)
       |SELECT e.query_id, CAST(count(a.corpus_id) AS BIGINT) AS hits_at_5
       |FROM exact e LEFT JOIN approx a
       |  ON a.query_id = e.query_id AND a.corpus_id = e.corpus_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracles for the fitted-quantizer family, rendered from the models
    * the queries actually served (empty until those queries have run —
    * Verify dumps oracle_sql.json after the query loop, so the full
    * surface always gets them). */
  private def fittedOracles: Map[String, String] = {
    val out = Map.newBuilder[String, String]
    lastIvfFit.foreach { cents =>
      out += ("s4_ivf_topk" -> s4Sql(cents))
      out += ("s9_recall_eval" -> s9Sql(cents))
      // the persisted-index serve must equal serving the fit directly
      out += ("s12_persisted_index" -> s4Sql(cents))
    }
    lastHnswPairs.foreach { p =>
      out += ("s13_hnsw_recall" -> s13Sql(p))
    }
    lastHnswInsertPairs.foreach { p =>
      // same exported-candidates recipe: the exact arm is identical,
      // only the served pairs differ (post-insert index)
      out += ("s14_hnsw_insert" -> s13Sql(p))
    }
    lastHnswStreamPairs.foreach { p =>
      out += ("st14_stream_hnsw_upkeep" -> s13Sql(p))
    }
    lastHnswCrudPairs.foreach { p =>
      out += ("s15_hnsw_delete_upsert" -> s15Sql(p))
    }
    lastHnswChurnPairs.foreach { p =>
      out += ("st16_stream_ann_churn" -> st16Sql(p))
    }
    lastPqFit.foreach { m =>
      out += ("s5_pq_topk" -> s5Sql(m))
      out += ("s8_pq_refined" -> s8Sql(m))
      lastIvfFit.foreach { cents => out += ("s6_ivfpq_topk" -> s6Sql(m, cents)) }
    }
    out.result()
  }

  def oracles: Map[String, String] = fittedOracles ++
    Map("s3_lsh_topk" -> s3Oracle, "s10_hybrid_search" -> s10Oracle,
      "s11_filtered_ann" ->
        (s"""WITH scored AS (
          |  SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
          |    $cosSql AS cos
          |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
          |  WHERE a.vec_id < 10 AND b.label % 3 = 0),
          |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
          |    ORDER BY cos DESC, corpus_id ASC) AS rank
          |  FROM scored)
          |SELECT query_id, rank, corpus_id, cos FROM ranked
          |WHERE rank <= 5 ORDER BY query_id, rank""").stripMargin) ++ Map(
    "s1_bruteforce_topk" ->
      (s"""WITH scored AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
        |    $cosSql AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 10),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, corpus_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, rank, corpus_id, cos FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""").stripMargin,

    "s2_cosine_neardup" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings WHERE vec_id < 300),
        |allv AS (SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 10000, list_transform(v, x -> x + 0.02*x*x) FROM base)
        |SELECT a.vec_id AS i, b.vec_id AS j,
        |  list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v))
        |       * sqrt(list_dot_product(b.v, b.v))) AS cos
        |FROM allv a JOIN allv b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v))
        |       * sqrt(list_dot_product(b.v, b.v))) >= 0.99
        |ORDER BY i, j""".stripMargin,

    "c2_semantic_dedup" ->
      """WITH RECURSIVE base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings WHERE vec_id < 300),
        |allv AS (SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 10000, list_transform(v, x -> x + 0.02*x*x) FROM base),
        |pairs AS (SELECT a.vec_id AS i, b.vec_id AS j
        |  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v))
        |         * sqrt(list_dot_product(b.v, b.v))) >= 0.99),
        |edges AS (SELECT i AS src, j AS dst FROM pairs
        |  UNION ALL SELECT j, i FROM pairs),
        |reach(id, label) AS (
        |  SELECT vec_id, vec_id FROM allv
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY 1)
        |SELECT cluster_id AS vec_id, count(*) AS cluster_size
        |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin,

    "s7_cluster_centroids" ->
      """WITH RECURSIVE base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings WHERE vec_id < 300),
        |allv AS (SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 10000, list_transform(v, x -> x + 0.02*x*x) FROM base),
        |pairs AS (SELECT a.vec_id AS i, b.vec_id AS j
        |  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v))
        |         * sqrt(list_dot_product(b.v, b.v))) >= 0.99),
        |edges AS (SELECT i AS src, j AS dst FROM pairs
        |  UNION ALL SELECT j, i FROM pairs),
        |reach(id, label) AS (
        |  SELECT vec_id, vec_id FROM allv
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY 1),
        |sel AS (SELECT c.cluster_id, a.v FROM comp c JOIN allv a ON a.vec_id = c.id),
        |flat AS (SELECT cluster_id,
        |    unnest(list_transform(range(1, len(v) + 1),
        |      i -> {'pos': i - 1, 'x': v[i]})) AS e
        |  FROM sel)
        |SELECT cluster_id AS vec_id, e.pos AS pos, avg(e.x) AS c
        |FROM flat GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
