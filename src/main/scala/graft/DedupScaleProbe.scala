package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Similarity}

/** Dedup/ANN scale probe (not part of the driver contract): the bench's
  * 5000-document fixture measures CONSTANT FACTORS (per-stage fixed
  * overhead dominates); this probe measures the ASYMPTOTICS — the actual
  * 100 TB design claim — by timing d2 (PPJoin), d3 (MinHash+LSH) and s2
  * (banded-LSH cosine near-dup) at two synthetic sizes and reporting the
  * empirical scaling exponent log(t₂/t₁)/log(n₂/n₁). Linear-ish (≤ ~1.2)
  * validates the bucketed candidate generation; ≥ ~1.8 means an O(n²)
  * stage survived.
  *
  * Docs: ~40 words each from a skewed (quadratic) vocabulary so shingles
  * repeat zipf-ishly; every 100th doc is a near-copy of its predecessor
  * with ONE mutated word (3-gram Jaccard ≈ 0.85 > the 0.8 threshold).
  * Embeddings: 64-dim hash-derived vectors; every 100th is a slightly
  * perturbed copy (cosine ≈ 1 > 0.95).
  *
  * Run: SPARK_GRAFT_PROBE_N1=100000 SPARK_GRAFT_PROBE_N2=1000000 \
  *   sbt "runMain graft.DedupScaleProbe"
  */
object DedupScaleProbe {
  def main(args: Array[String]): Unit = {
    val n1 = sys.env.getOrElse("SPARK_GRAFT_PROBE_N1", "100000").toLong
    val n2 = sys.env.getOrElse("SPARK_GRAFT_PROBE_N2", "1000000").toLong
    val ops = sys.env.getOrElse("SPARK_GRAFT_PROBE_OPS",
        "d2,d3,d4,d6,t9,s2,s5")
      .split(",").map(_.trim).toSet
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // SPARK_GRAFT_PROBE_PIN_AQE=1 pins the AQE decisions that can flip
    // between same-session executions (the r5 run-5 d2 anomaly: one
    // session-persistent plan change at 1M, 87.7 s vs 11-14 s). With
    // runtime broadcast promotion, skew-join splitting and partition
    // coalescing pinned off, the executed plan is a pure function of
    // the query — any residual swing is contention/GC, not planning.
    if (sys.env.get("SPARK_GRAFT_PROBE_PIN_AQE").contains("1")) {
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      println("PROBE-PIN adaptive broadcast/skew/coalesce pinned off")
    }

    // Plan-flip capture: one op runs SEVERAL queries per sample
    // (persist counts, the main count), so executions are keyed by
    // their normalized OPTIMIZED plan; a flip is the SAME logical query
    // executing a DIFFERENT physical plan later in the session — the
    // instrument that names a future d2-style flip (r5 run 5: one
    // session-persistent change at 1M, 87.7 s vs 11-14 s) instead of
    // inferring it from timings. AQE stage numbers, codegen ids and
    // expr ids are normalized away; genuinely different physical
    // choices (join strategy, partition coalescing) are not.
    val currentOp = new java.util.concurrent.atomic.AtomicReference[String]("")
    val firstPlans = scala.collection.mutable.Map.empty[(String, Int), String]
    def normalize(s: String): String = s
      .replaceAll("#\\d+", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("(Result|Shuffle|TableCache|Broadcast)QueryStage \\d+",
        "$1QueryStage x")
      .replaceAll("\\*\\(\\d+\\)", "*(x)")
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          val op = currentOp.get
          if (op.nonEmpty) {
            val key = (op, normalize(qe.optimizedPlan.toString).hashCode)
            val norm = normalize(qe.executedPlan.toString)
            firstPlans.synchronized {
              firstPlans.get(key) match {
                case None => firstPlans(key) = norm
                case Some(prev) if prev != norm =>
                  println(s"PROBE-PLANFLIP $op: a query re-executed with" +
                    " a DIFFERENT physical plan:")
                  prev.linesIterator.toSeq
                    .zipAll(norm.linesIterator.toSeq, "", "")
                    .filter { case (a, b) => a != b }.take(12)
                    .foreach { case (a, b) =>
                      println(s"  was: ${a.trim.take(150)}")
                      println(s"  now: ${b.trim.take(150)}")
                    }
                case _ =>
              }
            }
          }
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

    /** ~40-word docs; doc d with d % 100 == 1 copies doc d-1 except one
      * word. Skewed vocab: index = floor(u² · 2000). */
    def docs(n: Long): DataFrame = {
      val seedDoc = when(col("id") % 100 === 1, col("id") - 1)
        .otherwise(col("id"))
      val u = pmod(hash(seedDoc * 1009 + col("i")), lit(10000)) / lit(10000.0)
      val word = concat(lit("w"), floor(u * u * lit(2000)).cast(StringType))
      val mutated = when(col("id") % 100 === 1 && col("i") === 17,
        concat(word, lit("x"))).otherwise(word)
      spark.range(n)
        .select(col("id"), explode(sequence(lit(0), lit(39))).as("i"))
        .select(col("id"), mutated.as("w"))
        .groupBy(col("id")).agg(concat_ws(" ", collect_list(col("w")))
          .as("text"))
        .select(col("id").as("doc_id"), col("text"))
    }

    /** 64-dim vectors; every 100th a perturbed copy of its predecessor. */
    def embeddings(n: Long): DataFrame = {
      val seedVec = when(col("id") % 100 === 1, col("id") - 1)
        .otherwise(col("id"))
      val base = transform(sequence(lit(0), lit(63)), d =>
        pmod(hash(seedVec * 131 + d), lit(2000)) / lit(1000.0) - lit(1.0))
      val v = when(col("id") % 100 === 1,
        transform(base, x => x + lit(0.01))).otherwise(base)
      spark.range(n).select(col("id").as("vec_id"), v.as("embedding"))
    }

    // MEDIANS like Bench: single-run probe timings at these sizes swing
    // ±50% with scheduler/GC noise, which smeared the reported s2
    // exponent across sessions (r4 recorded 0.48-0.82); 3-run medians
    // pin it
    val runsPer = sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "3").toInt
    def time(name: String)(f: => Long): Double = {
      currentOp.set(name.trim)
      // one untimed pass first: the initial execution pays codegen +
      // classload, which median-of-N cannot remove when all N samples
      // share the same cold JVM (r5 run 6 logged 3-5× inflated 100k
      // cells for exactly the first ops in program order)
      f
      val samples = (1 to runsPer).map { _ =>
        val t0 = System.nanoTime(); val rows = f
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val med = samples.map(_._1).sorted.apply(samples.size / 2)
      println(f"PROBE $name%-34s $med%8.2f s  rows=${samples.head._2} " +
        f"(median of $runsPer)")
      // storage snapshot after each op: the one r5 anomaly (d2 87.7 s
      // in a full-sequence run, clean in isolation) is suspected
      // cross-op cache eviction — this line is the evidence a future
      // reproduction needs (per-RDD cached bytes + total spill to disk)
      val infos = spark.sparkContext.getRDDStorageInfo
      if (infos.nonEmpty) {
        val mem = infos.map(_.memSize).sum / 1e6
        val disk = infos.map(_.diskSize).sum / 1e6
        println(f"PROBE-CACHE after $name%-28s blocks=${infos.length}" +
          f" mem=${mem}%.0fMB disk=${disk}%.0fMB")
      }
      // let the listener bus drain before the op label changes (the
      // flip capture attributes plans via currentOp)
      Thread.sleep(200)
      currentOp.set("")
      med
    }

    def exponent(label: String, t1: Double, t2: Double): Unit =
      println(f"PROBE $label scaling exponent = " +
        f"${math.log(t2 / t1) / math.log(n2.toDouble / n1)}%.2f " +
        f"(n ${n1}→$n2, t $t1%.1f→$t2%.1f s; 1.0 = linear)")

    val times = scala.collection.mutable.Map.empty[(String, Long), Double]
    for (n <- Seq(n1, n2)) {
      if (ops("d2") || ops("d3") || ops("d4") || ops("cc") || ops("t7") ||
          ops("d6") || ops("t9") || ops("d9")) {
        val d = docs(n).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        d.count()
        val sets = Dedup.shingleSets(d, "doc_id", "text", 3)
        sets.count()
        if (ops("d2")) times(("d2", n)) = time(s"d2 ppjoin          n=$n") {
          Dedup.ngramJaccardPairsFromSets(sets, threshold = 0.8).count()
        }
        if (ops("d3")) times(("d3", n)) = time(s"d3 minhash lsh     n=$n") {
          Dedup.minHashLshPairsFromSets(sets, numHashes = 32, bands = 8,
            threshold = 0.8).count()
        }
        if (ops("cc")) {
          val pairs = Dedup.ngramJaccardPairsFromSets(sets, threshold = 0.8)
          times(("cc", n)) = time(s"cc components      n=$n") {
            Dedup.connectedComponents(d, "doc_id", pairs).count()
          }
        }
        if (ops("t7")) times(("t7", n)) = time(s"t7 decontaminate   n=$n") {
          // benchmark = 1% of the corpus — the realistic shape (eval
          // suites are tiny next to training corpora)
          Dedup.contaminatedAgainst(d, d.filter(col("doc_id") % 100 === 0),
            "doc_id", "text", k = 4)
            .filter(col("is_contaminated")).count()
        }
        if (ops("d9")) {
          // prefiltered (the shipped path: length-ratio + char-multiset
          // upper bound before the exact O(L·window) JW scan)
          times(("d9", n)) = time(s"d9 jw verified     n=$n") {
            Dedup.jaroVerifiedPairs(d, "doc_id", "text", k = 3,
              jaccardFloor = 0.6, jwThreshold = 0.9).count()
          }
          // no-prefilter baseline: identical candidates, exact JW on all
          times(("d9raw", n)) = time(s"d9 jw no-prefilter n=$n") {
            import graft.functions.expressions.StringSimilarity.jaro_winkler
            val cands = Dedup.ngramJaccardPairsFromSets(sets, 0.6)
              .select(col("i"), col("j"))
            val norm = d.select(col("doc_id").cast(LongType).as("__nid"),
              operators.TextOps.normalize(col("text")).as("__txt"))
            cands
              .join(norm.select(col("__nid").as("i"),
                col("__txt").as("__ti")), "i")
              .join(norm.select(col("__nid").as("j"),
                col("__txt").as("__tj")), "j")
              .withColumn("jw",
                round(jaro_winkler(col("__ti"), col("__tj")), 6))
              .filter(col("jw") >= 0.9)
              .count()
          }
          // prune-rate evidence for the NOTES table
          val nCands = Dedup.ngramJaccardPairsFromSets(sets, 0.6).count()
          val nKept = times.get(("d9", n)).map(_ =>
            Dedup.jaroVerifiedPairs(d, "doc_id", "text", k = 3,
              jaccardFloor = 0.6, jwThreshold = 0.9).count()).getOrElse(0L)
          println(s"PROBE d9 candidates n=$n: $nCands -> verified $nKept")
        }
        if (ops("d6")) times(("d6", n)) = time(s"d6 passage dedup   n=$n") {
          Dedup.passageDedup(d, "doc_id", "text", k = 8).count()
        }
        if (ops("t9")) times(("t9", n)) = time(s"t9 bigram lm nll   n=$n") {
          operators.LanguageModel.bigramNll(d, "doc_id", "text").count()
        }
        if (ops("d4")) {
          val toks = Dedup.tokenize(d, "doc_id", "text")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          toks.count()
          times(("d4", n)) = time(s"d4 simhash         n=$n") {
            Dedup.simHashPairsFromTokens(toks, maxDist = 3).count()
          }
          toks.unpersist()
        }
        sets.unpersist(); d.unpersist()
      }
      if (!ops("s2")) ()
      else {
      val e = embeddings(n).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e.count()
      // explicit (planes, tables): at moderate thresholds + large n the
      // auto-sizing's miss ≤ 1e-6 guarantee is honest but expensive
      // (p₁ shrinks as planes grow with log₂ n, so tables balloon); a
      // large-corpus user tunes for their ACTUAL pair angles — planted
      // near-dups here sit at cos ≈ 0.9999 (per-plane agreement 0.997,
      // p₁ = 0.997²⁰ ≈ 0.95, miss = 0.05⁸ ≈ 4e-11) while 2⁻²⁰ buckets
      // keep random collisions ~linear in n
      if (ops("s2")) times(("s2", n)) = time(s"s2 cosine near-dup n=$n") {
        Similarity.cosineNearDupPairs(e, "vec_id", "embedding",
          threshold = 0.95, dim = 64, planes = 20, tables = 8).count()
      }
      if (ops("s5")) times(("s5", n)) = time(s"s5 pq encode+topk  n=$n") {
        val model = operators.ProductQuantization.fitPq(e, "embedding",
          m = 16, kCodes = 16)
        val codes = operators.ProductQuantization.pqEncode(e, "vec_id",
          "embedding", model)
        operators.ProductQuantization.pqTopK(codes,
          e.filter(col("vec_id") < 10), "vec_id", "embedding", model,
          k = 5).count()
      }
      e.unpersist()
      }
    }
    for (op <- Seq("d2", "d3", "cc", "t7", "d4", "d6", "t9", "s2", "s5")
        if ops(op))
      exponent(op, times((op, n1)), times((op, n2)))
    if (ops("d9")) {
      exponent("d9", times(("d9", n1)), times(("d9", n2)))
      exponent("d9raw", times(("d9raw", n1)), times(("d9raw", n2)))
      for (n <- Seq(n1, n2))
        println(f"PROBE d9 prefilter speedup n=$n: " +
          f"${times(("d9raw", n)) / times(("d9", n))}%.2fx")
    }

    // t5: DOC-LENGTH scaling of the Gopher repetition metrics. The RLE
    // fold is O(L log L) per document; the occurrences() shape it
    // replaced was O(L²) — and used inside a FILTER (alias inlining) it
    // degraded further. Exponent over L should sit near 1; ~2 means a
    // quadratic per-doc scan crept back. The filter on gopher_pass is
    // deliberate: it proves the metrics stay linear under predicate
    // pushdown's alias substitution.
    if (ops("t5")) {
      def gopherCount(nd: Long, w: Int): Long = {
        val u = pmod(hash(col("id") * 1009 + col("i")), lit(10000)) /
          lit(10000.0)
        val word = concat(lit("w"), floor(u * u * lit(2000))
          .cast(StringType))
        val d = spark.range(nd)
          .select(col("id"), explode(sequence(lit(0), lit(w - 1))).as("i"))
          .select(col("id"), word.as("w"))
          .groupBy(col("id"))
          .agg(concat_ws(" ", collect_list(col("w"))).as("text"))
        d.withColumn("toks", operators.TextOps.tokens(col("text")))
          .withColumn("grams", Dedup.shinglesOfTokens(col("toks"), 2))
          .withColumn("lns", operators.TextOps.lines(col("text")))
          .filter(operators.TextOps.gopherPass(col("text"), col("toks"),
            col("grams"), col("lns")))
          .count()
      }
      val (l1, l2) = (100, 1000)
      val nd = sys.env.getOrElse("SPARK_GRAFT_PROBE_T5_DOCS", "20000").toLong
      gopherCount(1000, 20) // codegen warmup outside the timed runs
      val t1 = time(f"t5 gopher L=$l1%-5d    n=$nd")(gopherCount(nd, l1))
      val t2 = time(f"t5 gopher L=$l2%-5d    n=$nd")(gopherCount(nd, l2))
      println(f"PROBE t5 doc-length exponent = " +
        f"${math.log(t2 / t1) / math.log(l2.toDouble / l1)}%.2f " +
        f"(L $l1→$l2, t $t1%.1f→$t2%.1f s; 1.0 = linear)")
    }
    spark.stop()
  }
}
