package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketches

/** Accuracy gates for the sketch-based approximate operators (their
  * queries are rows-only: sketch values are engine-specific, so the
  * error bound vs the exact answer is the correctness contract). */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val lineitem =
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")

  test("approx distinct within 5% of exact, per group") {
    val approx = Sketches.approxDistinctByGroup(lineitem,
        Seq("l_returnflag"), "l_partkey")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = lineitem.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, e) =>
      assert(math.abs(approx(k) - e).toDouble / e <= 0.05,
        s"group $k: approx ${approx(k)} vs exact $e") }
  }

  test("approx quantiles within rank tolerance of exact") {
    val probs = Seq(0.05, 0.5, 0.95)
    val approx = Sketches.approxQuantilesByGroup(lineitem,
        "l_returnflag", "l_quantity", probs)
      .collect().map(r => r.getString(0) ->
        probs.indices.map(i => r.getDouble(i + 1))).toMap
    // percentile_approx guarantees rank error ≤ n/accuracy; assert the
    // approx value sits between the exact quantiles at p ± 0.01
    val bounds = lineitem.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, array(0.04, 0.06, 0.49, 0.51, " +
        "0.94, 0.96))").as("b"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[Double](1)).toMap
    approx.foreach { case (k, qs) =>
      val b = bounds(k)
      for (i <- probs.indices) {
        assert(qs(i) >= b(2 * i) && qs(i) <= b(2 * i + 1),
          s"group $k p=${probs(i)}: ${qs(i)} outside [${b(2 * i)}, " +
            s"${b(2 * i + 1)}]")
      }
    }
  }

  test("stratified sample respects per-stratum fractions") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fractions = Map("en" -> 0.5, "fr" -> 0.25, "de" -> 0.25,
      "es" -> 0.1)
    val sampled = Sketches.stratifiedSample(docs, "lang", fractions, 42L)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val pop = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // Bernoulli sampling: ±50% of the expectation is > 4σ for the
    // strata sizes here; strata absent from `fractions` must not appear
    sampled.keySet.foreach(k => assert(fractions.contains(k)))
    fractions.foreach { case (k, f) =>
      val expected = pop.getOrElse(k, 0L) * f
      if (expected >= 20)
        assert(math.abs(sampled.getOrElse(k, 0L) - expected) <=
          expected * 0.5, s"stratum $k: ${sampled.get(k)} vs ~$expected")
    }
  }

  test("heavy hitters: exact threshold on a golden corpus") {
    val docs = Seq((0L, "a a a b"), (1L, "a b c d")).toDF("doc_id", "text")
    val got = Sketches.heavyHitters(docs, "text", minFrac = 0.3)
      .orderBy(col("token"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // 8 tokens total: a×4 (0.5), b×2 (0.25), c, d — only 'a' > 30%
    assert(got.toSeq === Seq(("a", 4L)))
  }

  test("hash sample: deterministic, partition-invariant, near fraction") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = Sketches.hashSample(docs, col("doc_id"), 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sketches.hashSample(docs.repartition(17), col("doc_id"), 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b, "selection must not depend on partitioning")
    val n = docs.count()
    assert(math.abs(a.size - n * 0.2) <= n * 0.2 * 0.5,
      s"got ${a.size} of $n at fraction 0.2")
    // a different salt draws a (near-)independent sample
    val salted = Sketches.hashSample(docs, col("doc_id"), 0.2, salt = "x")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(salted != a, "salt must change the draw")
    // nested fractions: the 10% sample is NOT a subset of the 20% one
    // (bucket predicate, not a prefix scheme) — but both are exact
    // deterministic functions of the key
    val again = Sketches.hashSample(docs, col("doc_id"), 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === a, "re-run must select identical rows")
  }

  test("temperature sampling flattens the stratum distribution") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val natural = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = natural.values.sum
    val sampled = Sketches.temperatureSample(docs, "lang", col("doc_id"),
        budgetRows = 150, alpha = 0.5)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // expectation per stratum ∝ sqrt(n); Bernoulli noise bounded ±50%
    val wSum = natural.values.map(n => math.sqrt(n.toDouble)).sum
    natural.foreach { case (s, n) =>
      val expected = 150.0 * math.sqrt(n.toDouble) / wSum
      assert(math.abs(sampled.getOrElse(s, 0L) - expected) <=
        math.max(8.0, expected * 0.5),
        s"stratum $s: ${sampled.get(s)} vs ~$expected")
    }
    // smoothing: the rarest stratum's sampled SHARE must exceed its
    // natural share (alpha < 1 up-weights the tail)
    val rarest = natural.minBy(_._2)._1
    val sampledTotal = sampled.values.sum
    assert(sampled(rarest).toDouble / sampledTotal >
      natural(rarest).toDouble / total,
      s"rarest stratum $rarest not up-weighted")
    // deterministic: identical draw on re-run
    val again = Sketches.temperatureSample(docs, "lang", col("doc_id"),
        budgetRows = 150, alpha = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val first = Sketches.temperatureSample(docs, "lang", col("doc_id"),
        budgetRows = 150, alpha = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === first)
  }

  test("quota select: per-stratum quotas and ordering respected") {
    val rows = Seq(
      ("a", 1L, 0.9), ("a", 2L, 0.8), ("a", 3L, 0.7), ("a", 4L, 0.6),
      ("b", 5L, 0.5), ("b", 6L, 0.4), ("c", 7L, 0.3))
      .toDF("s", "id", "q")
    val got = Sketches.quotaSelect(rows, "s",
        Seq(col("q").desc, col("id").asc), Map("a" -> 2, "b" -> 1))
      .select("s", "id", "stratum_rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .sortBy(_._2)
    // top-2 of a by quality, top-1 of b; c has no quota → dropped
    assert(got.toSeq === Seq(("a", 1L, 1), ("a", 2L, 2), ("b", 5L, 1)))
  }

  test("temperature sampling water-fills saturated strata to the budget") {
    // 'tiny' saturates (its smoothed quota of ~454 exceeds its 100
    // rows); the excess budget must re-split into 'big' so the expected
    // total stays ~budgetRows. Pre-water-fill big bps =
    // floor(10000·5000·100/110/10000) = 4545 → expected total ≈ 4645;
    // water-filled big bps = 4900 → expected total = 5000. The md5 draw
    // is deterministic, so the assertion is not flaky.
    val rows = (1 to 10000).map(i => ("big", i.toLong)) ++
      (1 to 100).map(i => ("tiny", 100000L + i))
    val df = rows.toDF("s", "id")
    val got = Sketches.temperatureSample(df, "s", col("id"),
        budgetRows = 5000, alpha = 0.5)
      .groupBy(col("s")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("tiny") === 100L, "saturated stratum must keep all rows")
    val total = got.values.sum
    assert(math.abs(total - 5000L) <= 150,
      s"total $total not water-filled to ~5000")
  }

  test("temperature sampling drops null strata without NPE") {
    val df = Seq((Option("en"), 1L), (Option.empty[String], 2L),
      (Option("en"), 3L), (Option.empty[String], 4L)).toDF("s", "id")
    val got = Sketches.temperatureSample(df, "s", col("id"),
      budgetRows = 4, alpha = 0.5).collect()
    assert(got.nonEmpty && got.forall(_.getString(0) == "en"),
      "null strata must be dropped, non-null kept")
  }

  test("quota select: two-phase hot-stratum path equals the direct path") {
    // 100×-skewed fixture with heavy score ties and nulls; forcing the
    // two-phase path with a tiny threshold must reproduce the direct
    // output EXACTLY (same rows, same stratum_rank), both directions
    val rnd = new scala.util.Random(7)
    val rows = (1 to 20000).map(i => ("hot", i.toLong,
        if (i % 37 == 0) Option.empty[Double]
        else Some((i % 1000) / 1000.0))) ++
      (1 to 200).map(i => ("cold", 50000L + i, Some(rnd.nextDouble())))
    val df = rows.toDF("s", "id", "q")
    val quotas = Map("hot" -> 50, "cold" -> 10)
    for (order <- Seq(Seq(col("q").desc, col("id").asc),
                      Seq(col("q").asc, col("id").asc))) {
      val direct = Sketches.quotaSelect(df, "s", order, quotas)
        .select("s", "id", "stratum_rank").collect().map(_.toSeq).toSet
      val twoPhase = Sketches.quotaSelect(df, "s", order, quotas,
          hotStratumThreshold = 1000L)
        .select("s", "id", "stratum_rank").collect().map(_.toSeq).toSet
      assert(twoPhase === direct,
        s"two-phase diverged for ${order.head}")
    }
  }

  test("global cumsum rejects fractional value columns loudly") {
    import graft.operators.Aggregates
    val df = Seq((1L, 1.5), (2L, 2.5)).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      Aggregates.globalCumSum(df, Seq(col("id").asc), col("v"), "cum")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("distributed global cumsum equals the single-window cumsum") {
    import graft.operators.Aggregates
    // shuffled input, duplicate sort values (the id tiebreak decides),
    // forced across several range partitions
    val rows = scala.util.Random.shuffle(
      (1 to 5000).map(i => (i.toLong, (i % 97).toLong, (i % 13) + 1L)))
    val df = rows.toDF("id", "key", "v")
    val rawGot = Aggregates.globalCumSum(df,
        Seq(col("key").desc, col("id").asc), col("v"), "cum",
        numPartitions = Some(7))
      .select("id", "cum").collect().map(r => (r.getLong(0), r.getLong(1)))
    val got = rawGot.toMap
    // naive reference: one global sort on the driver
    var acc = 0L
    val want = rows.sortBy { case (id, k, _) => (-k, id) }
      .map { case (id, _, v) => acc += v; id -> acc }.toMap
    assert(rawGot.length == rows.size,
      s"row count changed: ${rawGot.length} vs ${rows.size}")
    val bad = want.keys.filter(id => got(id) != want(id)).toSeq.sorted
    assert(bad.isEmpty,
      s"${bad.size} mismatched ids; first 10: " + bad.take(10).map(id =>
        s"id=$id got=${got(id)} want=${want(id)}").mkString(", "))
    // unit weights over evenly split ranges: the partition totals are
    // equal, and each still counts once in the later offsets
    val even = Aggregates.globalCumSum((1L to 400L).map(i => (i, 1L))
        .toDF("id", "v"), Seq(col("id").asc), col("v"), "cum",
        numPartitions = Some(8))
      .select("id", "cum").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(even.toMap === (1L to 400L).map(i => i -> i).toMap)
  }

  test("funnel: ordered N-step stages, out-of-order events excluded") {
    import graft.operators.Aggregates
    val events = Seq(
      // u1 completes all four steps in order
      (1L, "a", 10L), (1L, "b", 20L), (1L, "c", 30L), (1L, "d", 40L),
      // u2: c BEFORE its b -> stalls at stage 2 (b at 25, no c >= 25)
      (2L, "a", 10L), (2L, "c", 15L), (2L, "b", 25L),
      // u3: never does step a -> not in the funnel at all, despite b
      (3L, "b", 5L),
      // u4: same-timestamp step counts (>= boundary)
      (4L, "a", 7L), (4L, "b", 7L)
    ).toDF("user_id", "event_type", "ts")
    val out = Aggregates.funnel(events, "user_id", "event_type", "ts",
        Seq("a", "b", "c", "d"))
      .orderBy(col("user_id"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(r.fieldIndex("stage"))))
    assert(out.toSeq === Seq((1L, 4), (2L, 2), (4L, 2)))
  }

  test("funnel: single-scan fold matches multi-pass staged aggregates") {
    import graft.operators.Aggregates
    // randomized fixture with ties, repeats, out-of-order steps, null
    // timestamps and an entity that skips step 0 entirely
    val rnd = new scala.util.Random(20260813)
    val types = Seq("a", "b", "c", "d", "x") // x = non-funnel noise
    val rows = (1 to 2000).map { _ =>
      (rnd.nextInt(60).toLong,
        types(rnd.nextInt(types.size)),
        if (rnd.nextInt(40) == 0) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(rnd.nextInt(50).toLong))
    } :+ ((999L, "b", java.lang.Long.valueOf(1L))) // no step-0 entity
    val events = rows.toDF("user_id", "event_type", "ts")
    val steps = Seq("a", "b", "c", "d")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("user_id")).collect().map(_.toSeq).toSeq
    val fold = canon(Aggregates.funnel(events, "user_id", "event_type", "ts", steps))
    val multi = canon(Aggregates.funnelMultiPass(events, "user_id", "event_type", "ts", steps))
    assert(fold === multi)
    assert(fold.nonEmpty)
    // collision guard: inputs already carrying output names are refused
    val clash = events.withColumnRenamed("ts", "t_0")
    intercept[IllegalArgumentException] {
      Aggregates.funnel(clash, "stage", "event_type", "t_0", steps)
    }
  }

  test("funnel: conversion window bounds each step, inclusive at the edge") {
    import graft.operators.Aggregates
    // u1 converts exactly AT the window edge (inclusive); u2 converts
    // one tick past it (stalls); u3's b is in-window but its c is not
    val events = Seq(
      (1L, "a", 100L), (1L, "b", 110L), (1L, "c", 120L),
      (2L, "a", 100L), (2L, "b", 111L),
      (3L, "a", 100L), (3L, "b", 105L), (3L, "c", 150L),
      // u4: an early out-of-window b is skipped but a LATER in-window
      // b... cannot exist (later is farther) — instead: first b out of
      // window, so the funnel stalls even though another b exists
      (4L, "a", 100L), (4L, "b", 90L), (4L, "b", 115L)
    ).toDF("user_id", "event_type", "ts")
    val out = Aggregates.funnel(events, "user_id", "event_type", "ts",
        Seq("a", "b", "c"), maxStepGap = Some(10L))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(r.fieldIndex("stage")))).toMap
    assert(out === Map(1L -> 3, 2L -> 1, 3L -> 2, 4L -> 1))
    // randomized parity: windowed fold == windowed multi-pass
    val rnd = new scala.util.Random(7)
    val types = Seq("a", "b", "c", "x")
    val rows = (1 to 1500).map { _ =>
      (rnd.nextInt(50).toLong, types(rnd.nextInt(types.size)),
        java.lang.Long.valueOf(rnd.nextInt(40).toLong))
    }
    val rdf = rows.toDF("user_id", "event_type", "ts")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("user_id")).collect().map(_.toSeq).toSeq
    assert(
      canon(Aggregates.funnel(rdf, "user_id", "event_type", "ts",
        Seq("a", "b", "c"), maxStepGap = Some(5L))) ===
      canon(Aggregates.funnelMultiPass(rdf, "user_id", "event_type", "ts",
        Seq("a", "b", "c"), maxStepGap = Some(5L))))
  }

  test("funnel: hot-entity pre-thinning is exact under the cap, one-sided past it") {
    import graft.operators.Aggregates
    // same adversarial fixture as the parity test: ties, repeats, nulls,
    // a no-step-0 entity — at k >= the max distinct-ts group size the
    // thinned funnel must match the unthinned one EXACTLY
    val rnd = new scala.util.Random(20260813)
    val types = Seq("a", "b", "c", "d", "x")
    val rows = (1 to 2000).map { _ =>
      (rnd.nextInt(60).toLong,
        types(rnd.nextInt(types.size)),
        if (rnd.nextInt(40) == 0) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(rnd.nextInt(50).toLong))
    } :+ ((999L, "b", java.lang.Long.valueOf(1L)))
    val events = rows.toDF("user_id", "event_type", "ts")
    val steps = Seq("a", "b", "c", "d")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("user_id")).collect().map(_.toSeq).toSeq
    val exact = canon(Aggregates.funnel(events, "user_id", "event_type", "ts", steps))
    val thinnedBig = canon(Aggregates.funnel(events, "user_id", "event_type",
      "ts", steps, preThinPerEntityType = Some(1000)))
    assert(thinnedBig === exact)
    // a hot entity: u1's step-b candidates are thinned to its 2 earliest
    // distinct timestamps, both BEFORE its step-a time — degradation is
    // one-sided (stage missed), never a spurious or earlier fill
    val hot = (Seq((1L, "a", 30L)) ++ (1L to 50L).map(t => (1L, "b", t)))
      .toDF("user_id", "event_type", "ts")
    val un = Aggregates.funnel(hot, "user_id", "event_type", "ts", Seq("a", "b"))
      .collect().head
    assert(un.getInt(un.fieldIndex("stage")) === 2) // b at 30 exists unthinned
    val th = Aggregates.funnel(hot, "user_id", "event_type", "ts", Seq("a", "b"),
        preThinPerEntityType = Some(2)).collect().head
    assert(th.getInt(th.fieldIndex("stage")) === 1) // kept b∈{1,2} all < 30
    assert(th.isNullAt(th.fieldIndex("t_1")))
    // an entity entering via a null-ts step-0 event survives thinning
    val nullEntry = Seq((7L, "a", null.asInstanceOf[java.lang.Long]),
      (7L, "b", java.lang.Long.valueOf(5L)))
      .toDF("user_id", "event_type", "ts")
    val ne = Aggregates.funnel(nullEntry, "user_id", "event_type", "ts",
      Seq("a", "b"), preThinPerEntityType = Some(4)).collect()
    assert(ne.length === 1 && ne.head.getInt(ne.head.fieldIndex("stage")) === 1)
  }

  test("bottom_k_distinct: k smallest distinct values, merge-correct") {
    import graft.functions.expressions.BottomK.bottom_k_distinct
    // duplicates + nulls + many partitions forces the partial/merge
    // path and the distinctness contract at once
    val vals = (1L to 500L).flatMap(v => Seq(v, v)) ++ Seq(7L, 7L, 7L)
    val df = vals.toDF("v")
      .select(when(col("v") === 13L, lit(null)).otherwise(col("v")).as("v"))
      .repartition(23)
    val got = df.agg(bottom_k_distinct(col("v"), 10).as("bk"))
      .collect()(0).getSeq[Long](0)
    // 13 is nulled out, so the 10 smallest distinct are 1..11 minus 13
    assert(got === Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L))
    // fewer distinct values than k: all of them, sorted, never null
    val small = Seq(5L, 3L, 5L, 9L).toDF("v").repartition(3)
      .agg(bottom_k_distinct(col("v"), 100).as("bk"))
      .collect()(0).getSeq[Long](0)
    assert(small === Seq(3L, 5L, 9L))
    val empty = Seq.empty[Long].toDF("v")
      .agg(bottom_k_distinct(col("v"), 4).as("bk"))
      .collect()(0).getSeq[Long](0)
    assert(empty.isEmpty)
  }

  test("KMV distinct: within estimator error of exact, exact below k") {
    val est = Sketches.kmvDistinctByGroup(lineitem,
        Seq("l_returnflag"), "l_partkey", k = 256)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = lineitem.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet === exact.keySet)
    // KMV relative standard error ≈ 1/√(k-2) ≈ 6.3% at k=256; gate at
    // 3σ — deterministic (fixed hashes), so this either holds or it
    // never does
    exact.foreach { case (g, e) =>
      assert(math.abs(est(g) - e) / e <= 0.19,
        s"group $g: kmv ${est(g)} vs exact $e") }
    // below k the sketch holds every hash: the report is exact
    val tiny = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("b", 9L))
      .toDF("g", "v")
    val tinyEst = Sketches.kmvDistinctByGroup(tiny, Seq("g"), "v", k = 16)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(tinyEst === Map("a" -> 2.0, "b" -> 1.0))
  }

  test("bottom-k sample: exactly k per stratum, deterministic, subset") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val k = 20
    val sampled = Sketches.bottomKSample(docs, "lang", col("doc_id"), k)
    val perStratum = sampled.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val pop = docs.filter(col("lang").isNotNull)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // unique doc_ids: exactly k rows where the stratum has ≥ k, all
    // rows where it has fewer
    pop.foreach { case (s, n) =>
      assert(perStratum(s) === math.min(n, k.toLong), s"stratum $s") }
    // subset of the input, and partition-invariant (re-run on a
    // different layout selects identical rows)
    val ids = sampled.select("doc_id").collect().map(_.getLong(0)).toSet
    val again = Sketches.bottomKSample(docs.repartition(17), "lang",
        col("doc_id"), k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === ids, "selection must not depend on partitioning")
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(all))
  }

  test("weighted bottom-k sample: weight-biased, deterministic, monotone") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val k = 8 // sf0.001 strata hold exactly 25 docs — k must cut
    val sampled = Sketches.weightedBottomKSample(docs, "source",
      col("doc_id"), col("n_chars"), k)
    // kept documents skew long: mean n_chars of the sample exceeds the
    // population mean (the point of weighting by length)
    val mS = sampled.agg(avg(col("n_chars"))).head().getDouble(0)
    val mP = docs.agg(avg(col("n_chars"))).head().getDouble(0)
    assert(mS > mP, s"sample mean $mS should exceed population mean $mP")
    // deterministic under re-partitioning
    val ids = sampled.select("doc_id").collect().map(_.getLong(0)).toSet
    val again = Sketches.weightedBottomKSample(docs.repartition(13),
        "source", col("doc_id"), col("n_chars"), k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === ids)
    // stratum counts: >= k (threshold ties can keep extras), bounded
    val per = sampled.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    assert(per.forall(n => n >= k && n <= k + 5), per.mkString(","))
    // monotonicity in weight: scaling EVERY weight by a constant
    // changes nothing (priorities all scale together)...
    val scaled = Sketches.weightedBottomKSample(docs, "source",
        col("doc_id"), col("n_chars") * 7, k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(scaled === ids)
    // ...while raising ONE document's weight to a huge value pulls it
    // into the sample (priority -> 0)
    val target = docs.filter(!col("doc_id").isInCollection(ids))
      .select("doc_id").head().getLong(0)
    val boosted = Sketches.weightedBottomKSample(docs, "source",
        col("doc_id"),
        when(col("doc_id") === target, lit(1000000000L))
          .otherwise(col("n_chars")), k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(boosted.contains(target))
  }

  test("sampled quantiles: near exact, partition-invariant") {
    val key = concat_ws("_", col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_suppkey"))
    val probs = Seq(0.05, 0.5, 0.95)
    val est = Sketches.sampledQuantilesByGroup(lineitem, "l_returnflag",
        "l_quantity", key, k = 2048, probs = probs)
      .collect().map(r => r.getString(0) ->
        probs.indices.map(i => r.getDouble(i + 1))).toMap
    // a uniform ~2048-row sample has rank error O(1/√k) ≈ 2.2%; gate
    // each estimate between the exact quantiles at p ± 0.08 (≈ 3.6σ —
    // deterministic hashes, so this either holds or never does)
    val bounds = lineitem.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, array(0.0, 0.13, 0.42, 0.58, " +
        "0.87, 1.0))").as("b"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[Double](1)).toMap
    assert(est.keySet === bounds.keySet)
    est.foreach { case (g, qs) =>
      val b = bounds(g)
      qs.zipWithIndex.foreach { case (q, i) =>
        assert(q >= b(2 * i) && q <= b(2 * i + 1),
          s"group $g p=${probs(i)}: sampled $q outside [${b(2 * i)}, " +
            s"${b(2 * i + 1)}]") } }
    // partition-invariant: identical output on a different layout
    val again = Sketches.sampledQuantilesByGroup(lineitem.repartition(17),
        "l_returnflag", "l_quantity", key, k = 2048, probs = probs)
      .collect().map(r => r.getString(0) ->
        probs.indices.map(i => r.getDouble(i + 1))).toMap
    assert(again === est)
  }

  test("KMV overlap: estimator error bounded, exact below k, invariant") {
    // |A| = 3000, |B| = 3001, |A∩B| = 1001, |A∪B| = 5000, J ≈ 0.2
    val a = spark.range(1, 3001).toDF("id")
    val b = spark.range(2000, 5001).toDF("id")
    val est = Sketches.kmvOverlap(a, col("id"), b, col("id"), k = 256)
      .collect()(0)
    // KMV RSE ≈ 1/√(k-2) ≈ 6.3%; gate at 3σ for the union and a
    // compounded 4σ for the intersection product (deterministic
    // hashes — holds or never does)
    assert(math.abs(est.getDouble(0) - 5000) / 5000 <= 0.19,
      s"union ${est.getDouble(0)}")
    assert(math.abs(est.getDouble(1) - 1001) / 1001 <= 0.25,
      s"intersection ${est.getDouble(1)}")
    assert(math.abs(est.getDouble(2) - 1001.0 / 5000) / (1001.0 / 5000) <= 0.25,
      s"jaccard ${est.getDouble(2)}")
    // partition-invariant
    val again = Sketches.kmvOverlap(a.repartition(17), col("id"),
      b.repartition(5), col("id"), k = 256).collect()(0)
    assert(again === est)
    // below k both sketches are complete: every figure exact
    val tiny = Sketches.kmvOverlap(
      Seq(1L, 2L, 3L).toDF("id"), col("id"),
      Seq(2L, 3L, 4L).toDF("id"), col("id"), k = 16).collect()(0)
    assert(tiny.getDouble(0) === 4.0 && tiny.getDouble(1) === 2.0 &&
      tiny.getDouble(2) === 0.5)
  }
}
