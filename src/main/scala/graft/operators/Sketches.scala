package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Barrier.BarrierOps

/** Sketch-based approximate aggregation — the 100 TB path for the
  * stats the exact operators (A8 quantiles, A9 distribution counts)
  * compute exactly at survey scale.
  *
  * Scale design: every sketch here is a bounded-size, mergeable
  * aggregation buffer (HyperLogLog++ registers, Greenwald-Khanna /
  * KLL-style quantile summaries), so the plan is ONE map-side-combined
  * hash aggregate — no sort, no full shuffle of values, memory
  * independent of row count. Exact distinct/percentile on 100 TB means
  * shuffling every distinct value; these shuffle kilobytes per group.
  *
  * The outputs are approximate and engine-specific (no cross-engine
  * oracle can hash-match); each operator is gated by a ScalaTest
  * accuracy spec against the exact answer instead.
  */
object Sketches {

  /** Approximate distinct `valueCol` count per group via HyperLogLog++
    * (`rsd` = target relative standard deviation). Deterministic for a
    * given dataset: register merges are commutative. */
  def approxDistinctByGroup(df: DataFrame, groupCols: Seq[String],
      valueCol: String, rsd: Double = 0.05): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(approx_count_distinct(col(valueCol), rsd).as("approx_distinct"))

  /** Approximate per-group quantiles (percentile_approx; `accuracy` is
    * the 1/ε summary size — error ≤ 1/accuracy of the rank). */
  def approxQuantilesByGroup(df: DataFrame, groupCol: String,
      valueCol: String, probs: Seq[Double],
      accuracy: Int = 10000): DataFrame = {
    val aggs = probs.zipWithIndex.map { case (p, i) =>
      percentile_approx(col(valueCol), lit(p), lit(accuracy))
        .as(s"q_$i") }
    df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Stratified sample: per-stratum Bernoulli fractions in ONE scan
    * (`df.stat.sampleBy`) — no per-stratum jobs, no shuffle; rows
    * stream through the filter at full scan speed. */
  def stratifiedSample(df: DataFrame, stratumCol: String,
      fractions: Map[String, Double], seed: Long): DataFrame =
    df.stat.sampleBy(stratumCol, fractions, seed)

  /** Deterministic, ENGINE-PORTABLE Bernoulli sample: keep a row iff a
    * uniform 60-bit integer derived from md5(key || salt) falls under
    * `fraction`. Unlike seeded `sample()` (whose hash is engine- and
    * partitioning-specific), this is a pure function of the row key —
    * the same rows are selected on any cluster size, any engine with
    * md5, and any re-run: the reproducible-split idiom for 100 TB
    * training-data pipelines (and the one sampler here with an exact
    * cross-engine oracle). One scan-stage filter, no shuffle, no state.
    *
    * `fraction` is quantized to basis points (1/10000). Vary `salt` to
    * draw independent samples from the same keys. */
  /** md5-derived uniform bucket in [0, 10000) — the shared predicate
    * behind [[hashSample]] and [[temperatureSample]]. */
  def hashBucket(keyCol: Column, salt: String = ""): Column =
    conv(substring(md5(concat(keyCol.cast("string"), lit(salt))),
      1, 15), 16, 10).cast("long") % 10000

  def hashSample(df: DataFrame, keyCol: Column, fraction: Double,
      salt: String = ""): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0,1]")
    val bps = math.round(fraction * 10000).toInt
    df.filter(hashBucket(keyCol, salt) < bps)
  }

  /** Temperature-smoothed mixture sampling — the data-mixing baseline
    * (sample stratum s with weight ∝ n_s^alpha; alpha < 1 flattens the
    * natural distribution toward uniform, up-weighting rare
    * languages/domains): choose per-stratum Bernoulli fractions so the
    * expected total is `budgetRows` split ∝ n_s^alpha, then select
    * rows with the deterministic [[hashBucket]] predicate — the whole
    * draw is a pure function of the row keys, reproducible across
    * re-runs, partitionings, and engines.
    *
    * Determinism recipe (the oracle replays it bit-for-bit): per-
    * stratum sqrt at alpha = 0.5 (IEEE-correctly-rounded in every
    * engine, unlike pow) rounded to 9 decimals, summed exactly as
    * decimals, fractions floored to basis points, then WATER-FILLED
    * over saturated strata in exactly [[WaterFillPasses]] fixed passes:
    * a stratum whose quota exceeds its size caps at 10000 bps
    * (contributing all its rows) and its excess budget re-splits
    * ∝ weight among the unsaturated rest — so the expected total stays
    * `budgetRows` even when rare strata saturate, instead of silently
    * under-filling. Extra passes are idempotent once no new stratum
    * saturates, which is what makes a FIXED unroll replayable in SQL.
    * Saturation cascades deeper than three levels (each pass must
    * newly saturate a stratum to matter) are accepted as residual
    * under-fill. Rows with a NULL stratum are dropped (they draw 0
    * bps). Stratum counts collect to the driver — O(#strata) scalars,
    * the classCounts precedent. */
  val WaterFillPasses = 3

  def temperatureSample(df: DataFrame, stratumCol: String, keyCol: Column,
      budgetRows: Long, alpha: Double = 0.5,
      salt: String = ""): DataFrame = {
    val counts = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n")).collect()
      .flatMap(r => Option(r.get(0)).map(_.toString -> r.getLong(1))).toMap
    def weight(n: Long): BigDecimal = BigDecimal(
        if (alpha == 0.5) math.sqrt(n.toDouble)
        else math.pow(n.toDouble, alpha))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    // Water-filling: `sat` strata are pinned at 10000 bps; each pass
    // re-splits the remaining budget over the rest. BigDecimal sums are
    // exact, so iteration order never changes a digit.
    var sat = Set.empty[String]
    var raw = Map.empty[String, Int]
    var pass = 0
    var changed = true
    while (pass < WaterFillPasses && changed && sat.size < counts.size) {
      val remBudget = budgetRows - sat.iterator.map(counts).sum
      val unsat = counts.keySet diff sat
      val wSum = unsat.iterator.map(s => weight(counts(s))).sum.toDouble
      raw = unsat.iterator.map { s =>
        s -> math.floor(
          10000.0 * remBudget * weight(counts(s)).toDouble / wSum /
            counts(s)).toInt
      }.toMap
      val newlySat = raw.filter(_._2 >= 10000).keySet
      changed = newlySat.nonEmpty
      sat ++= newlySat
      pass += 1
    }
    val bps: Map[String, Int] = counts.keysIterator.map(s =>
      s -> (if (sat(s)) 10000
            else math.max(0, math.min(10000, raw.getOrElse(s, 0))))).toMap
    val bpsCol = bps.foldLeft(lit(0)) { case (acc, (s, b)) =>
      when(col(stratumCol) === s, b).otherwise(acc)
    }
    df.filter(hashBucket(keyCol, salt) < bpsCol)
  }

  /** Quota selection per stratum (the static data-MIXING primitive:
    * "N_s best documents from each source/language"): rank rows inside
    * each stratum by `orderCols` and keep the top `quotas(stratum)`.
    *
    * Scale: the rank is a per-stratum sort — fine while each stratum
    * fits a task's spill budget (strata are sources/languages, so
    * usually yes). Strata larger than `hotStratumThreshold` take the
    * TWO-PHASE path automatically: an ε-approximate percentile
    * threshold on the primary order column at rank quota+2εn (one
    * shuffle-free complete-mode aggregate, O(#hot) driver scalars)
    * pre-filters the stratum, then the exact `row_number` ranks only
    * the ~quota survivors — the hottest task sorts O(quota + εn) rows
    * instead of the whole stratum. The GK sketch's rank error is a
    * HARD ε·n bound (not probabilistic), and the kept set is closed
    * under the full sort order (ties at the threshold survive, null
    * scores survive), so two-phase output is EXACTLY the direct
    * output — parity spec-gated. Falls back to the direct path when
    * the primary order column is non-numeric. */
  def quotaSelect(df: DataFrame, stratumCol: String,
      orderCols: Seq[Column], quotas: Map[String, Int],
      hotStratumThreshold: Long = 5000000L): DataFrame = {
    import org.apache.spark.sql.GraftSqlAccess
    import org.apache.spark.sql.catalyst.expressions.{Descending, SortOrder => CatSortOrder}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol)).orderBy(orderCols: _*)
    val quotaCol = quotas.foldLeft(lit(0)) { case (acc, (s, q)) =>
      when(col(stratumCol) === s, q).otherwise(acc)
    }
    val (primaryExpr, primaryDesc) =
      GraftSqlAccess.expression(orderCols.head) match {
        case CatSortOrder(child, dir, _, _) => (child, dir == Descending)
        case e => (e, false)
      }
    val primary = GraftSqlAccess.column(primaryExpr)
    val numericPrimary = primaryExpr.resolved &&
      primaryExpr.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]

    // (total, non-null-score) row counts per stratum. The percentile
    // sketch only sees non-null scores, so the frac must target the
    // rank among THOSE — with nulls-last descending order, an n-based
    // frac would drop non-null rows the direct path keeps when a
    // stratum is null-rich.
    val counts: Map[String, (Long, Long)] =
      if (!numericPrimary) Map.empty
      else df.groupBy(col(stratumCol))
        .agg(count(lit(1)).as("n"), count(primary).as("nn")).collect()
        .flatMap(r => Option(r.get(0)).map(
          _.toString -> (r.getLong(1), r.getLong(2)))).toMap
    // a stratum whose quota covers its (non-null, for desc) rows needs
    // no pre-filter — keep it on the direct path
    val hot = counts.filter { case (s, (n, nn)) =>
      n > hotStratumThreshold && nn > 0 &&
        quotas.getOrElse(s, 0) < (if (primaryDesc) nn else n)
    }.keys.toSeq.sorted

    val base =
      if (hot.isEmpty) df
      else {
        val acc = 10000 // ε = 1/acc of stratum rank
        val fracs = hot.map { s =>
          val nn = counts(s)._2.toDouble
          val q = quotas.getOrElse(s, 0).toDouble
          val slack = 2.0 / acc + 1.0 / nn // 2εnn + 1 ranks of safety
          s -> (if (primaryDesc) math.max(0.0, 1.0 - q / nn - slack)
                else math.min(1.0, q / nn + slack))
        }
        // all hot-stratum thresholds in ONE complete-mode aggregate
        val thrRow = df.select(fracs.map { case (s, f) =>
          percentile_approx(when(col(stratumCol) === s, primary),
            lit(f), lit(acc)).as(s) }: _*).collect()(0)
        // seed the fold in the PRIMARY column's own type: a "double"
        // seed would coerce the whole threshold comparison to
        // DoubleType, and for LongType keys beyond 2^53 the rounding
        // could misclassify boundary rows, breaking exact parity
        val thrCol = hot.indices.foldLeft(lit(null).cast(primaryExpr.dataType)) {
          (c, i) => when(col(stratumCol) === hot(i),
            lit(if (thrRow.isNullAt(i)) null else thrRow.get(i))).otherwise(c)
        }
        val keep = // non-hot stratum, null score/threshold, or past it
          thrCol.isNull || primary.isNull ||
            (if (primaryDesc) primary >= thrCol else primary <= thrCol)
        df.filter(keep)
      }
    base.withColumn("stratum_rank", row_number().over(w))
      .filter(col("stratum_rank") <= quotaCol)
  }

  /** EXACT heavy hitters: tokens appearing more than `minFrac` of all
    * token occurrences. One explode + one map-side-combined count
    * aggregate + a scalar total broadcast back — exact, and still
    * scale-safe because the post-combine key space is the vocabulary,
    * not the corpus. (A count-min sketch saves the vocabulary-sized
    * shuffle only when the vocabulary itself is huge; for word-like
    * tokens exact wins.) */
  def heavyHitters(df: DataFrame, textCol: String,
      minFrac: Double): DataFrame = {
    // The vocabulary-sized aggregate is materialized ONCE (eager
    // localCheckpoint — the corpus explode+count lineage never
    // re-executes), the global total reduces from the checkpoint to a
    // single driver scalar, and the filter compares against a literal:
    // no unpartitioned window (which funnels the vocab through one
    // task — 10⁸-10⁹ rows for a web-scale unigram table), no join.
    val counts = df
      .select(explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .barrier()
    val total = counts.agg(sum(col("n"))).collect()(0).getLong(0)
    counts.filter(col("n") > lit(total) * minFrac)
      .select(col("token"), col("n"))
  }

  /** The uniform 60-bit hash behind the KMV sketch and bottom-k
    * sampling: md5 of the stringified value (plus `salt`), top 15 hex
    * digits as a long in [0, 2^60). Same recipe as [[hashBucket]]
    * minus the mod — a pure function of the value, so any engine with
    * md5 reproduces it digit-for-digit (DuckDB:
    * `CAST(('0x' || substr(md5(CAST(v AS VARCHAR) || salt), 1, 15)) AS BIGINT)`). */
  def kmvHash(valueCol: Column, salt: String = ""): Column =
    conv(substring(md5(concat(valueCol.cast("string"), lit(salt))),
      1, 15), 16, 10).cast("long")

  /** KMV (k-minimum-values) distinct sketch per group — the
    * DETERMINISTIC, ENGINE-PORTABLE counterpart of
    * [[approxDistinctByGroup]]'s HLL (a11). HLL register contents are
    * engine-specific (xxhash64 seeds, dense/sparse encodings), so a11
    * can only ever be gated by an accuracy spec; the KMV sketch's
    * content is the k smallest distinct [[kmvHash]] values — a pure
    * function of the VALUE SET, independent of partitioning, merge
    * order, and engine — so the whole sketch AND the estimate replay
    * exactly in any SQL engine (the a16 oracle).
    *
    * Estimator: with U_(k) = h_(k)/2^60 the k-th smallest of n uniform
    * draws, E[U_(k)] = k/(n+1), giving n̂ = (k-1)·2^60/h_(k) (the
    * classic unbiased KMV form; relative standard error ≈ 1/√(k-2)).
    * Groups with fewer than k distinct hashes report their EXACT
    * distinct hash count (the sketch holds every value).
    *
    * Scale design: one map-side-combined hash aggregate with ≤ k·8
    * bytes of state per group ([[graft.functions.expressions.BottomKDistinct]]);
    * the shuffle carries at most k longs per group vs every distinct
    * value for exact count-distinct — the same plan shape as the HLL
    * path, with portability instead of HLL's last few % of accuracy
    * per byte. */
  def kmvDistinctByGroup(df: DataFrame, groupCols: Seq[String],
      valueCol: String, k: Int = 256): DataFrame = {
    require(k >= 2, "KMV estimator needs k >= 2")
    val kmv = graft.functions.expressions.BottomK
      .bottom_k_distinct(kmvHash(col(valueCol)), k)
    // (k-1)·2^60 is exact in a double for any sane k (needs log2(k-1)+60
    // significand bits only in the integer sense — the product is a
    // small-integer multiple of a power of two), so the single division
    // below is one correctly-rounded IEEE op: bit-identical on every
    // engine, which is what lets the oracle hash-match a double column.
    val scale = (k - 1).toDouble * math.pow(2.0, 60)
    df.groupBy(groupCols.map(col): _*)
      .agg(kmv.as("kmv"))
      .withColumn("kmv_distinct",
        when(size(col("kmv")) < k, size(col("kmv")).cast("double"))
          .otherwise(lit(scale) / element_at(col("kmv"), k)))
      .drop("kmv")
  }

  /** KMV set-overlap estimate between two keyed row sets (audience
    * overlap: |A∩B|, |A∪B|, Jaccard) — the theta-sketch idiom on the
    * deterministic [[kmvHash]]. Distinct-intersection at 100 TB is
    * otherwise a full shuffle of both key sets; this shuffles ≤ k longs
    * per side: ONE map-side-combined aggregate over the tagged union of
    * the two scans (no join anywhere), then scalar array math on the
    * 1-row result. θ = k-th smallest hash of the sketch union; every
    * union/intersection member ≤ θ is guaranteed present in both
    * sketches (θ never exceeds either sketch's max), so c/k' is an
    * unbiased Jaccard estimate and |A∩B| ≈ Ĵ·|A∪B|. Below k the
    * sketches are complete and every figure is exact. Deterministic —
    * the whole estimate replays in SQL (the a18 oracle). */
  def kmvOverlap(a: DataFrame, aKey: Column, b: DataFrame, bKey: Column,
      k: Int = 256): DataFrame = {
    require(k >= 2, "KMV overlap needs k >= 2")
    import graft.functions.expressions.BottomK.bottom_k_distinct
    val nulL = lit(null).cast("long")
    val tagged = a.select(kmvHash(aKey).as("ha"), nulL.as("hb"))
      .unionAll(b.select(nulL.as("ha"), kmvHash(bKey).as("hb")))
    val scale = (k - 1).toDouble * math.pow(2.0, 60)
    tagged
      .agg(bottom_k_distinct(col("ha"), k).as("ka"),
        bottom_k_distinct(col("hb"), k).as("kb"))
      .withColumn("ku_arr",
        slice(array_sort(array_union(col("ka"), col("kb"))), 1, k))
      .withColumn("ku", size(col("ku_arr")))
      // ANSI element_at throws at index 0: an empty union (both inputs
      // all-null/empty) leaves theta null and the ku<k branches report 0
      .withColumn("theta",
        when(col("ku") > 0, element_at(col("ku_arr"), col("ku"))))
      .withColumn("c", size(filter(array_intersect(col("ka"), col("kb")),
        h => h <= col("theta"))))
      .select(
        when(col("ku") < k, col("ku").cast("double"))
          .otherwise(lit(scale) / col("theta")).as("est_union"),
        when(col("ku") < k, col("c").cast("double"))
          .otherwise((col("c").cast("double") / col("ku"))
            * (lit(scale) / col("theta"))).as("est_intersection"),
        (col("c").cast("double") / col("ku")).as("est_jaccard"))
  }

  /** Deterministic bottom-k-per-stratum sample: keep the rows whose
    * [[kmvHash]] of `keyCol` is ≤ the stratum's k-th smallest distinct
    * hash — i.e. (for unique keys) exactly k rows per stratum, chosen
    * by hash order, reproducible across re-runs, partitionings, and
    * engines. The deterministic twin of per-stratum reservoir/fraction
    * sampling (p12) the way [[hashSample]] (p13) twins Bernoulli
    * `sample()` — and the one whose selection replays as a plain SQL
    * predicate (the p14 oracle).
    *
    * Scale design: thresholds come from ONE map-side-combined
    * [[graft.functions.expressions.BottomKDistinct]] aggregate (≤ k
    * longs per stratum — O(#strata·k) total, broadcast back), then one
    * scan-stage filter. The window-function equivalent
    * (`row_number() OVER (PARTITION BY stratum ORDER BY hash)`)
    * shuffles and sorts EVERY row; this shuffles nothing but the
    * thresholds. Rows with a NULL stratum are dropped (consistent with
    * [[temperatureSample]]); strata with < k keys keep all their rows.
    * Duplicate keys sample as a unit (same hash ⇒ same side of the
    * threshold), the correct semantic for by-key sampling. */
  /** Deterministic sampled quantiles — [[approxQuantilesByGroup]]'s
    * (a12) ENGINE-PORTABLE twin the way the KMV sketch (a16) twins the
    * HLL (a11). The GK/KLL summary a12 uses is engine-specific (its
    * compaction decisions depend on merge order), so a12 can only be
    * accuracy-gated; here the estimate is the EXACT quantile of a
    * deterministic [[bottomKSample]] row sample (~k rows per stratum
    * chosen purely by md5 hash order), so any SQL engine replays the
    * selection as a plain predicate and the quantile math on the same
    * rows — an exact cross-engine oracle (a17) for an approximate
    * statistic. Rank error is the sample's O(1/√k).
    *
    * Scale design: the sample selection is one bounded-state
    * map-side-combined aggregate (≤ k longs per stratum) + a scan-stage
    * filter; the exact percentile then touches only ~k·#strata rows.
    * Nothing row-count-sized is ever sorted or shuffled. */
  def sampledQuantilesByGroup(df: DataFrame, stratumCol: String,
      valueCol: String, keyCol: Column, k: Int,
      probs: Seq[Double]): DataFrame = {
    // md5 ONCE per row (r18): [[bottomKSample]]'s two-scan shape
    // evaluates kmvHash twice per row — once under the threshold
    // aggregate and once in the selection filter, because the two
    // consumers are separate scans of `df`. The quantile needs only
    // (stratum, value, hash): project those three NARROW columns,
    // materialize once ([[graft.Barrier]], ~20 B/row — durable at
    // cluster scale once a checkpoint dir is set), and run both
    // the threshold aggregate and the selection filter over the
    // materialized frame — one md5 per row, one base-table scan.
    // Same threshold, same sampled rows, same percentile input as the
    // bottomKSample form: bit-identical results (the a17 oracle
    // re-certifies). p14/p15 keep the two-scan form: they return every
    // input column, so materializing their projection is the full row.
    val hashed = df.filter(col(stratumCol).isNotNull)
      .select(col(stratumCol), col(valueCol), kmvHash(keyCol).as("__h"))
      .barrier()
    val thresholds = hashed.groupBy(col(stratumCol))
      .agg(graft.functions.expressions.BottomK
        .bottom_k_distinct(col("__h"), k).as("kmv"))
      .select(col(stratumCol),
        when(size(col("kmv")) > 0,
          element_at(col("kmv"), size(col("kmv")))).as("kmv_threshold"))
    val sampled = hashed
      .join(broadcast(thresholds), Seq(stratumCol))
      .filter(col("__h") <= col("kmv_threshold"))
    val aggs = probs.zipWithIndex.map { case (p, i) =>
      percentile(col(valueCol), lit(p)).as(s"q_$i") }
    sampled.groupBy(col(stratumCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Deterministic WEIGHTED bottom-k sample per stratum: rows with
    * larger integer weight are more likely kept, selection is a pure
    * function of (key, weight) — partition-order-independent and
    * replayable in any SQL engine.
    *
    * Priority = `kmvHash(key) div max(weight, 1)` (integer division,
    * exact in 64-bit on both sides); the k rows with the smallest
    * priorities win, via the same bounded BottomK threshold aggregate
    * as [[bottomKSample]] — one map-side-combined aggregate with ≤ k
    * longs of state per stratum, then a scan-stage filter. No per-row
    * shuffle or sort.
    *
    * Statistics, stated honestly: scaling a uniform 60-bit hash by
    * 1/w is NOT the exact Efraimidis–Spirakis u^(1/w) PPS-without-
    * replacement scheme (that exponent needs float `ln`/`pow`, which
    * is not bit-portable across engines); it is a monotone weighted
    * priority — inclusion odds strictly increase with weight, a
    * doubling of weight roughly doubles the odds of beating a given
    * threshold while selected set stays deterministic. The spec pins
    * the monotonicity empirically. Priority collisions (division can
    * collide where raw hashes cannot) keep >k rows exactly like p14's
    * threshold-tie caveat; the oracle replays the identical predicate
    * so the gate stays exact. */
  def weightedBottomKSample(df: DataFrame, stratumCol: String,
      keyCol: Column, weightCol: Column, k: Int,
      salt: String = ""): DataFrame = {
    val prio = org.apache.spark.sql.GraftSqlAccess.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.GraftSqlAccess.expression(kmvHash(keyCol, salt)),
        org.apache.spark.sql.GraftSqlAccess.expression(
          greatest(weightCol.cast("long"), lit(1L)))))
    val thresholds = df
      .filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol))
      .agg(graft.functions.expressions.BottomK
        .bottom_k_distinct(prio, k).as("kmv"))
      .select(col(stratumCol),
        when(size(col("kmv")) > 0,
          element_at(col("kmv"), size(col("kmv")))).as("w_threshold"))
    df.filter(col(stratumCol).isNotNull)
      .join(broadcast(thresholds), Seq(stratumCol))
      .filter(prio <= col("w_threshold"))
      .drop("w_threshold")
  }

  def bottomKSample(df: DataFrame, stratumCol: String, keyCol: Column,
      k: Int, salt: String = ""): DataFrame = {
    val h = kmvHash(keyCol, salt)
    val thresholds = df
      .filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol))
      .agg(graft.functions.expressions.BottomK
        .bottom_k_distinct(h, k).as("kmv"))
      .select(col(stratumCol),
        // a stratum whose keys are all null has an empty sketch: null
        // threshold (ANSI element_at would throw at index 0), and the
        // null-propagating filter below then drops the stratum
        when(size(col("kmv")) > 0,
          element_at(col("kmv"), size(col("kmv")))).as("kmv_threshold"))
    df.filter(col(stratumCol).isNotNull)
      .join(broadcast(thresholds), Seq(stratumCol))
      .filter(h <= col("kmv_threshold"))
      .drop("kmv_threshold")
  }
}
