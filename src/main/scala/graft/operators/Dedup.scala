package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Barrier.BarrierOps

/** Deduplication operators for training-data pipelines (beyond the
  * reference surface — BASELINE.json north star): exact, n-gram Jaccard,
  * MinHash+LSH, SimHash.
  *
  * Scale design: exact dedup is a single hash aggregate on a fingerprint;
  * near-dup candidate generation never goes O(n²) — MinHash/LSH and
  * SimHash bucket-join so the shuffle volume is O(n · bands), and only
  * bucket-colliding pairs are verified.
  */
object Dedup {

  /** Word k-gram shingles of a text column (empty array when fewer than
    * k tokens).
    *
    * Implementation note: built by zip_with-ing k shifted slices of the
    * token array, NOT by indexing the token array inside a lambda — a
    * lambda that references an outer expression re-evaluates it per
    * element (higher-order functions are interpreted, no CSE), which
    * turns shingling into O(n²) regex tokenizations per document. */
  def shingles(c: Column, k: Int = 3): Column =
    shinglesOfTokens(TextOps.tokens(c), k)

  /** Shingles from an already-tokenized array column — lets one token
    * pass feed shingling (d2/d3) and SimHash (d4) alike. */
  def shinglesOfTokens(toks: Column, k: Int): Column = {
    val len = greatest(size(toks) - (k - 1), lit(0))
    val parts = (0 until k).map(off => slice(toks, lit(off + 1), len))
    val joined = parts.reduce((x, y) =>
      zip_with(x, y, (a, b) => concat(a, lit(" "), b)))
    when(size(toks) >= k, joined)
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** Exact dedup: keep the smallest id per normalized-text fingerprint.
    * One hash aggregate — the canonical 100 TB dedup pass. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fingerprint", TextOps.fingerprint(col(textCol)))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact n-gram Jaccard near-dup pairs with similarity ≥ threshold,
    * via PREFIX FILTERING (PPJoin-style set-similarity join):
    *
    * 1. order every doc's distinct shingles by global rarity (document
    *    frequency asc, shingle asc) — one consistent total order;
    * 2. index only each doc's first `n - ceil(t·n) + 1` shingles: any
    *    two docs with Jaccard ≥ t MUST share one of these (pigeonhole),
    *    so the inverted-index join never explodes on hot shingles;
    * 3. candidates also pass the length filter
    *    (ceil(t·max(|A|,|B|)) ≤ min(|A|,|B|)) and the PPJoin
    *    POSITIONAL filter: a common prefix token at (1-based) positions
    *    (pa, pb) bounds the overlap by
    *    `1 + min(pa-1, pb-1) + min(|A|-pa, |B|-pb)` (both lists share
    *    one global order, so common tokens are split into those before
    *    and after the match); pairs whose bound is below the required
    *    overlap α = ⌈t·(|A|+|B|)/(1+t)⌉ are pruned before the verify
    *    join — this is valid on EVERY matched prefix row, because the
    *    bound always dominates the true overlap;
    * 4. exact verification by sorted-array intersection/union.
    *
    * Output: (i, j, jaccard) with i < j — identical to the naive
    * all-pairs result, at a fraction of the join volume.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.8): DataFrame =
    ngramJaccardPairsFromSets(shingleSets(df, idCol, textCol, k), threshold)

  /** How many of the most-frequent shingles the rarity dictionary
    * holds (16 bytes each → ~4 MB broadcast at the default). Shingles
    * outside the dictionary order as "rare" — see
    * [[ngramJaccardPairsFromSets]]'s ordering note. */
  val RarityDictMaxEntries: Int = 1 << 18

  /** PPJoin over a pre-built (doc_id, shset) frame — lets callers share
    * one persisted shingle pass across several dedup operators.
    *
    * Ordering note (the 100 TB-decisive design point): prefix filtering
    * is CORRECT under ANY consistent global shingle order — rare-first
    * ordering only sharpens it (common shingles must not land in
    * prefixes). The exact-df order costs two full shuffles of the
    * exploded token table (join df on, then re-group to arrays); here
    * the frequency aggregate (map-side combined, vocabulary-sized
    * output) instead feeds a BOUNDED dictionary of the
    * [[RarityDictMaxEntries]] most frequent shingles (df ≥ 2,
    * deterministic (df desc, s) cut), broadcast to a per-partition sort
    * kernel: dictionary shingles order by exact (df, s) rank AFTER all
    * others, which order among themselves by hash. The token table is
    * never shuffled before the prefix join. Degradation is graceful and
    * bounded: a genuinely common shingle missing from a full dictionary
    * can sit in prefixes and cost candidates (never correctness) — but
    * every non-dictionary shingle's document frequency is at most the
    * dictionary's minimum df, so the per-token join fan-out stays
    * capped at that df. Measured at 100× harness scale (sf10): 37 s →
    * see NOTES_ROUND round 6. */
  def ngramJaccardPairsFromSets(sets: DataFrame,
      threshold: Double): DataFrame = {
    val spark = sets.sparkSession
    import spark.implicits._
    val tokens = sets.select(col("doc_id"), explode(col("shset")).as("s"))
    val freq = tokens.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // bounded driver collect (≤ RarityDictMaxEntries rows, ~4 MB — the
    // PQ/IVF-fit class of justified collects), deterministic at the cut
    val dictRows = freq.filter(col("df") >= 2)
      .orderBy(col("df").desc, col("s"))
      .limit(RarityDictMaxEntries)
      .as[(Long, Long)].collect()
    // rank = position in (df asc, s asc) order — sorting dictionary
    // members by rank alone reproduces the exact-df order among them;
    // lookup arrays are (keys sorted by shingle, aligned rank)
    val byRarity = dictRows.sortBy { case (s, df) => (df, s) }
    val rankOf = new java.util.HashMap[Long, Int](byRarity.length * 2)
    var i = 0
    while (i < byRarity.length) { rankOf.put(byRarity(i)._1, i); i += 1 }
    val bcRank = spark.sparkContext.broadcast(rankOf)
    val ordered = sets.select(col("doc_id"), col("shset"))
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        val rank = bcRank.value
        it.map { case (docId, sh) =>
          var nNon = 0
          val non = new Array[Long](sh.length)
          val hv = new Array[Long](sh.length) // packed (rank << 32 | idx)
          var nHv = 0
          var j = 0
          while (j < sh.length) {
            val r = rank.get(sh(j))
            if (r == null) { non(nNon) = sh(j); nNon += 1 }
            else { hv(nHv) = (r.toLong << 32) | (j & 0xFFFFFFFFL); nHv += 1 }
            j += 1
          }
          java.util.Arrays.sort(non, 0, nNon)
          java.util.Arrays.sort(hv, 0, nHv)
          val out = new Array[Long](sh.length)
          System.arraycopy(non, 0, out, 0, nNon)
          j = 0
          while (j < nHv) {
            out(nNon + j) = sh((hv(j) & 0xFFFFFFFFL).toInt); j += 1
          }
          (docId, out)
        }
      }
      .toDF("doc_id", "ordered")
      .withColumn("n", size(col("ordered")))
      .withColumn("prefix_len",
        col("n") - ceil(col("n") * threshold - lit(1e-9)).cast(IntegerType)
          + 1)
    // persisted AND materialized eagerly: the self-join below reads this
    // twice and Catalyst does not reuse the aggregation subtree across
    // join sides; worse, an UNmaterialized cached plan scanned twice
    // within one job races its own cache fill and computes the
    // rarity-ordering pass once per scan (measured: eager count() here
    // halves the whole pair join). The persist is SCOPED — this function
    // materializes its (small) pair output eagerly and unpersists before
    // returning, so nothing lingers in the cache manager (ADVICE r1).
    val prefixes = ordered.select(col("doc_id"), col("n"),
      posexplode(slice(col("ordered"), lit(1), col("prefix_len")))
        .as(Seq("p0", "s")))
      .withColumn("p", col("p0") + 1).drop("p0")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    prefixes.count()
    val a = prefixes.as("a"); val b = prefixes.as("b")
    // required overlap for Jaccard ≥ t: α = ⌈t(|A|+|B|)/(1+t)⌉. Every
    // ceil in the filter chain is ε-guarded: when t·n is exactly an
    // integer the double product can round UP one ulp and over-ceil,
    // pruning a pair sitting exactly at the threshold.
    val alpha = ceil((col("a.n") + col("b.n")) * lit(threshold / (1 + threshold))
      - lit(1e-9))
    val overlapBound = lit(1)
      .plus(least(col("a.p") - 1, col("b.p") - 1))
      .plus(least(col("a.n") - col("a.p"), col("b.n") - col("b.p")))
    val candidates = a.join(b,
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id")
          && ceil(greatest(col("a.n"), col("b.n")) * threshold - lit(1e-9))
             <= least(col("a.n"), col("b.n"))
          && overlapBound >= alpha)
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nCand = candidates.count()
    val out = verifyJaccard(candidates, nCand, sets, threshold).barrier()
    prefixes.unpersist(false)
    candidates.unpersist(false)
    out
  }

  /** Below this many candidate pairs, exact verification joins the full
    * shingle arrays back and intersects them directly — far fewer plan
    * stages, and the array shuffle volume (candidates × avg set size) is
    * trivially bounded. Above it, the token-count path keeps the shuffle
    * to 8-byte longs. */
  private val ArrayVerifyMaxCandidates = 2000000L

  /** Exact-Jaccard verification of candidate (i, j) pairs — ADAPTIVE on
    * the (already-known) candidate count:
    *
    * - small candidate sets (≤ [[ArrayVerifyMaxCandidates]]): join the
    *   shingle arrays back and `array_intersect` directly — one join
    *   pass, measured 5-10× faster when plan overhead dominates;
    * - large candidate sets: filter the exploded token table down to
    *   docs that appear in some candidate pair (at scale: candidate
    *   docs ≪ corpus), then count common tokens per pair row-wise — the
    *   shuffle carries 8-byte longs, never arrays.
    *
    * Both are exact (no false positives). Inner joins are safe whenever
    * candidates share ≥ 1 token (true for prefix- and band-generated
    * candidates): zero-overlap pairs cannot pass any threshold > 0. */
  private def verifyJaccard(candidates: DataFrame, nCandidates: Long,
      sets: DataFrame, threshold: Double): DataFrame =
    if (nCandidates <= ArrayVerifyMaxCandidates)
      verifyJaccardArrays(candidates, sets, threshold)
    else verifyJaccardTokenCount(candidates, sets, threshold)

  private def verifyJaccardArrays(candidates: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame =
    candidates
      .join(sets.select(col("doc_id").as("i"), col("shset").as("sa")), Seq("i"))
      .join(sets.select(col("doc_id").as("j"), col("shset").as("sb")), Seq("j"))
      .withColumn("c", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("c").cast(DoubleType) /
        (size(col("sa")) + size(col("sb")) - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("i"), col("j"), col("jaccard"))

  private def verifyJaccardTokenCount(candidates: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame = {
    val tokens = sets.select(col("doc_id"), explode(col("shset")).as("s"))
    val candDocs = candidates.select(col("i").as("doc_id"))
      .union(candidates.select(col("j").as("doc_id")))
      .distinct()
    val candTok = tokens.join(candDocs, Seq("doc_id"))
    val overlap = candidates
      .join(candTok.select(col("doc_id").as("i"), col("s")), Seq("i"))
      .join(candTok.select(col("doc_id").as("j"), col("s")), Seq("j", "s"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("c"))
    val sizes = sets.select(col("doc_id"), size(col("shset")).as("nsz"))
    overlap
      .join(sizes.select(col("doc_id").as("i"), col("nsz").as("ni")), Seq("i"))
      .join(sizes.select(col("doc_id").as("j"), col("nsz").as("nj")), Seq("j"))
      .withColumn("jaccard", col("c").cast(DoubleType) /
        (col("ni") + col("nj") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("i"), col("j"), col("jaccard"))
  }

  /** Distinct shingle sets per doc as XXHASHED LONGS, tokenized ONCE:
    * repartitioned BEFORE the regex tokenization (a small parquet
    * arrives as one split — without this the whole shingling runs on
    * one core), then persisted because candidate generation and
    * verification both traverse it.
    *
    * Shingles are stored as `xxhash64(shingle)` rather than strings:
    * set intersection/union, frequency counting, and the prefix
    * inverted-index join all compare 8-byte longs instead of ~20-char
    * strings, and the persisted footprint shrinks ~3×. Jaccard over
    * hashed sets equals Jaccard over string sets up to 64-bit
    * collisions (~n²/2⁶⁵ — negligible at any realistic corpus). */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    shingleSetsFromTokens(tokenize(df, idCol, textCol), k)

  /** One (doc_id, toks) tokenization pass, repartitioned BEFORE the
    * regex tokenization (a small parquet arrives as one split — without
    * this the whole tokenization runs on one core). Shared upstream of
    * shingling (d2/d3) AND SimHash (d4): persist the returned frame
    * when feeding several operators — the caller owns that persist's
    * lifecycle. */
  def tokenize(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))

  /** Shingle sets from a (doc_id, toks) frame. The returned frame is
    * persisted (candidate generation and verification both traverse
    * it) — the caller owns the persist's lifecycle (unpersist or let
    * the session end).
    *
    * Each token is hashed ONCE (separate projection so the k slices
    * reference the hashed attribute instead of re-evaluating the
    * transform), then k-gram hashes combine the token hashes with
    * nested xxhash64 — order-sensitive, collision ~2⁻⁶⁴, and no k-gram
    * string concatenation/allocation at all (measured ~2× faster than
    * hashing concatenated shingle strings). Jaccard over these combined
    * hashes equals Jaccard over string shingles up to 64-bit collisions.
    */
  def shingleSetsFromTokens(tokens: DataFrame, k: Int): DataFrame = {
    val hashed = tokens.select(col("doc_id"),
      transform(col("toks"), t => xxhash64(t)).as("th"))
    val len = greatest(size(col("th")) - (k - 1), lit(0))
    val parts = (0 until k).map(off => slice(col("th"), lit(off + 1), len))
    val joined = parts.reduce((x, y) =>
      zip_with(x, y, (a, b) => xxhash64(a, b)))
    hashed.select(col("doc_id"),
        array_distinct(when(size(col("th")) >= k, joined)
          .otherwise(array().cast(ArrayType(LongType)))).as("shset"))
      .filter(size(col("shset")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  private val MersennePrime31 = 2147483647L // 2^31 - 1

  /** Deterministic 31-bit universal-hash coefficients for permutation i
    * (products stay under 2^62 — safe under Spark 4's default ANSI
    * overflow checking). Public so oracle generators can embed the same
    * coefficients as SQL literals and replay the permutations exactly. */
  def permCoeffs(i: Int): (Long, Long) = {
    val a = ((2862933555777941757L * (i + 1) + 3037000493L) & 0x7FFFFFFFL) | 1L
    val b = (4354685564936845319L * (i + 1) + 32452843L) & 0x7FFFFFFFL
    (a, b)
  }

  /** md5-derived 60-bit non-negative hash of a string column — the
    * deterministic ENGINE-PORTABLE hash (the p13/hashSample recipe,
    * see [[Sketches.hashBucket]]): any engine with `md5` replays it
    * bit-for-bit, unlike Spark-internal xxhash64. Collisions
    * ~n²/2⁶¹ — negligible. Used by the *Deterministic dedup variants
    * whose whole pipeline (signatures, buckets, verification) then
    * admits an exact cross-engine oracle. */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Deterministic shingle sets from a (doc_id, toks) frame: distinct
    * string k-grams hashed with [[md5Long]]. Engine-portable twin of
    * [[shingleSetsFromTokens]] (which combines token xxhash64s without
    * materializing shingle strings and is ~2× faster — prefer it when
    * no cross-engine replay is needed). Persisted; caller owns the
    * lifecycle. */
  def deterministicShingleSets(tokens: DataFrame, k: Int): DataFrame =
    tokens.select(col("doc_id"),
        array_distinct(shinglesOfTokens(col("toks"), k)).as("ss"))
      .select(col("doc_id"),
        transform(col("ss"), s => md5Long(s)).as("shset"))
      .filter(size(col("shset")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** MinHash signatures per document: explode 31-bit shingle hashes once,
    * then ONE hash aggregate computing all `numHashes` permutation
    * minima min((a_i·h + b_i) mod (2^31-1)) — map-side combinable, one
    * shuffle on the doc id, never re-tokenizes per permutation.
    * Output: (doc_id, sig array<bigint>). Docs with < k tokens drop out.
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 32): DataFrame =
    minHashFromSets(shingleSets(df, idCol, textCol, k), numHashes)

  /** Signatures from an existing (doc_id, shset) frame (shset already
    * holds xxhash64 longs, so the base hash is just a mod). */
  def minHashFromSets(sets: DataFrame, numHashes: Int): DataFrame = {
    val exploded = sets.select(col("doc_id"), explode(col("shset")).as("s"))
      .select(col("doc_id"), pmod(col("s"), lit(MersennePrime31)).as("h"))
    val mins = (0 until numHashes).map { i =>
      val (a, b) = permCoeffs(i)
      min(pmod(col("h") * lit(a) + lit(b), lit(MersennePrime31))).as(s"m$i")
    }
    exploded.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** MinHash+LSH candidate pairs, verified with exact Jaccard.
    *
    * Banding: signature split into `bands` bands of `numHashes/bands`
    * rows; docs colliding on any band's hash become candidates
    * (P[candidate] ≈ 1-(1-s^r)^b). Candidates join back to the distinct
    * shingle sets and are verified with exact array-intersection Jaccard,
    * so the output has no false positives. Total cost: linear scans +
    * one bucket self-join + a candidate-sized verify join.
    */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.8): DataFrame =
    minHashLshPairsFromSets(shingleSets(df, idCol, textCol, k),
      numHashes, bands, threshold)

  /** LSH pairs over a pre-built (doc_id, shset) frame (shared persisted
    * shingle pass). */
  def minHashLshPairsFromSets(sets: DataFrame, numHashes: Int, bands: Int,
      threshold: Double, portableBands: Boolean = false): DataFrame = {
    val r = numHashes / bands
    val sig = minHashFromSets(sets, numHashes)
    // Band bucket key: 8-byte longs either way — xxhash64 for the
    // scale default, md5-derived for the portable variant (an external
    // engine replays md5(array_to_string(...)) exactly; band keys only
    // ever need equality, and an astronomically-rare md5-prefix
    // collision merely adds a candidate that exact verification
    // rejects). The r6-interim portable variant shipped the raw
    // "m1,m2,…" STRING as the key — ~5× the shuffle bytes for zero
    // correctness gain; don't regress to that.
    def bandKey(sl: Column): Column =
      if (portableBands) md5Long(concat_ws(",", sl))
      else xxhash64(concat_ws(",", sl))
    // persisted AND materialized eagerly: self-joined below — an
    // unmaterialized cached plan scanned twice within one job races its
    // own cache fill and runs the signature aggregation once per side.
    // Scoped — unpersisted after the eager pair materialization below.
    val banded = sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        bnd => bandKey(slice(col("sig"), bnd * r + lit(1), lit(r)))))
        .as(Seq("band", "bh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    banded.count()
    val a = banded.as("a"); val b = banded.as("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nCand = candidates.count()
    // verify candidates with exact set jaccard (no false positives)
    val out = verifyJaccard(candidates, nCand, sets, threshold).barrier()
    banded.unpersist(false)
    candidates.unpersist(false)
    out
  }

  /** Fully DETERMINISTIC MinHash+LSH over a (doc_id, toks) frame: md5
    * shingle hashes + raw-signature band keys, so an external engine
    * with `md5` replays candidates AND verification bit-for-bit (the
    * exact-oracle variant of [[minHashLshPairsFromTokens]]; same plan
    * shape — linear scans, one bucket self-join, candidate-only
    * verify; the output is localCheckpointed before the scoped persists
    * release). */
  def minHashLshPairsDeterministic(tokens: DataFrame, k: Int,
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    val sets = deterministicShingleSets(tokens, k)
    val out = minHashLshPairsFromSets(sets, numHashes, bands, threshold,
      portableBands = true)
    sets.unpersist(false)
    out
  }

  /** Connected components over a near-dup pair graph: every document
    * gets the MINIMUM doc id reachable through pair edges as its
    * `cluster_id` (isolated docs cluster with themselves) — the step
    * that turns pairwise near-dup output into actual dedup groups
    * (keep one representative per cluster).
    *
    * Algorithm: iterative min-label propagation — per round, each node
    * takes the min of its own label and its neighbors' labels; stops at
    * fixpoint. Rounds = graph diameter; near-dup components are tiny
    * chains/cliques, so 2-4 rounds in practice. Each round is one
    * edge⋈label join + a min-aggregate — all hash-partitioned on node
    * id, no driver-side graph. (At pathological diameters a
    * large-star/small-star variant halves the round count; near-dup
    * graphs never get there.) The driver-side loop condition mirrors
    * KMeans-style iterate-until-converged: one scalar count per round.
    */
  /** Rounds the last [[connectedComponents]] call took — instrumentation
    * for specs/probes pinning the O(log d) pointer-jump claim. */
  @volatile var lastComponentRounds: Int = 0

  def connectedComponents(nodes: DataFrame, idCol: String,
      pairs: DataFrame, pointerJump: Boolean = true): DataFrame = {
    val edges = pairs.select(col("i").as("src"), col("j").as("dst"))
      .unionAll(pairs.select(col("j").as("src"), col("i").as("dst")))
      .barrier()
    var labels = nodes.select(col(idCol).as("id"), col(idCol).as("label"))
      .barrier()
    var prevRound = labels
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      val neighborMin = edges
        .join(labels.select(col("id").as("src"), col("label")), Seq("src"))
        .groupBy(col("dst")).agg(min(col("label")).as("nlabel"))
        .withColumnRenamed("dst", "id")
      // localCheckpoint BOTH materializes the round (the change count
      // doubles as the job) and TRUNCATES the logical lineage — the
      // naive loop's plan contains `labels` twice (directly and inside
      // neighborMin), so an un-truncated plan DOUBLES per round and the
      // DRIVER dies rendering exponentially-sized plan trees around
      // diameter ~15, long before the executors feel anything.
      // Iterative dataflow rule: per-round driver cost must be O(1) in
      // round count. (On a cluster, a set checkpoint dir makes every
      // round's barrier a reliable checkpoint; localCheckpoint blocks
      // don't survive executor loss.)
      val merged = labels.join(neighborMin, Seq("id"), "left")
        .barrier()
      changed = merged.filter(col("nlabel") < col("label")).count()
      if (changed == 0) {
        // the loop exits with labels still reading the PREVIOUS frame,
        // which therefore stays live; this round's frame is dead
        graft.Barrier.release(merged)
      } else {
        // labels moves onto this round's frame below, so the previous
        // round's barrier is dead
        graft.Barrier.release(prevRound)
        prevRound = merged
        // cheap projection over the checkpointed round — O(1) plan
        val stepped = merged.select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label")))
            .as("label"))
        // pointer jumping (path halving): label := min(label,
        // label(label)). Every label IS a node id in the same
        // component, so following the pointer one hop stays inside the
        // component while roughly DOUBLING how far a min label has
        // propagated — O(log d) rounds on diameter-d graphs instead of
        // O(d) (measured: 64-chain converges in 5 rounds vs 64; see
        // GraphSpec + NOTES). Termination still keys on the
        // neighbor-min pass alone: a labeling is a global fixpoint iff
        // neighbor-min changes nothing (any non-converged component
        // has a boundary node with a smaller-labeled neighbor), and
        // jumping from a neighbor-min fixpoint is a no-op. Cost: one
        // extra label-keyed join per round — the join key converges
        // toward few hot labels (component ids), which AQE skew-join
        // splits locally; at cluster scale broadcast the (distinct)
        // label→grand side when components are few.
        labels = if (!pointerJump) stepped else {
          val parents = stepped.select(col("id").as("__jl"),
            col("label").as("__grand"))
          stepped.join(parents, col("label") === col("__jl"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("__grand"), col("label")))
                .as("label"))
        }
      }
    }
    // every round's frame is materialized past the edge join, so the
    // result no longer reads the edge barrier either
    graft.Barrier.release(edges)
    lastComponentRounds = rounds
    labels.select(col("id").as(idCol), col("label").as("cluster_id"))
  }

  /** Benchmark decontamination: flag every corpus document sharing at
    * least one word k-gram with a benchmark set — the test-set-overlap
    * pass an LLM training pipeline runs before training on scraped
    * data.
    *
    * Scale design: the benchmark side is the SMALL side (eval suites
    * are MBs; the corpus is the 100 TB side), so its distinct k-gram
    * set is broadcast — the corpus side is one scan + explode +
    * broadcast hash semi-join + a distinct-on-id aggregate. No
    * corpus-sized shuffle of gram strings, no self-join.
    *
    * Output: (idCol, is_contaminated) for EVERY corpus row. Benchmark
    * documents that also appear in the corpus flag true trivially
    * (they collide with themselves) — callers excluding them should
    * anti-join first.
    */
  def contaminatedAgainst(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, k: Int = 5): DataFrame = {
    val benchGrams = bench
      .select(explode(shingles(col(textCol), k)).as("g")).distinct()
    val hits = corpus
      .select(col(idCol), explode(shingles(col(textCol), k)).as("g"))
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("is_contaminated", lit(true))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .withColumn("is_contaminated",
        coalesce(col("is_contaminated"), lit(false)))
  }

  /** Decontamination for the LARGE-benchmark regime: same exact result
    * as [[contaminatedAgainst]], but the benchmark gram set is assumed
    * too big to broadcast as strings — the pattern at 100 TB when the
    * "benchmark" is a whole held-out corpus rather than an MB-scale
    * eval suite.
    *
    * Two-stage plan, both stages exact in combination:
    *  1. a Bloom filter over `xxhash64(gram)` is built with ONE
    *     distributed aggregate (Spark's `BloomFilterAggregate`,
    *     mergeable partial states) and collected to the driver —
    *     bounded: `numBits/8` bytes regardless of benchmark size —
    *     then pushed into the corpus scan as a codegen'd
    *     `BloomFilterMightContain` literal predicate, discarding the
    *     ~(1-fpp) of corpus grams that cannot match anything;
    *  2. the survivors (≈ true hits + fpp of the corpus) are verified
    *     EXACTLY with a shuffle hash semi-join against the distinct
    *     benchmark grams (deliberately NOT broadcast: this operator
    *     models the regime where the benchmark side exceeds the
    *     broadcast budget, so the shuffle is the verify path — and it
    *     now moves only the bloom survivors, not the whole corpus).
    *
    * False positives of stage 1 are removed by stage 2, so output ==
    * [[contaminatedAgainst]] bit-for-bit: (idCol, is_contaminated) for
    * every corpus row. `numBits` sizes the filter (default 8 bits/item
    * at `expectedGrams` ≈ 2% fp — tune to the real benchmark
    * cardinality at scale). */
  def contaminatedAgainstBloom(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, k: Int = 5,
      expectedGrams: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.GraftSqlAccess.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val benchGrams = bench
      .select(explode(shingles(col(textCol), k)).as("g")).distinct()
    val bloomAgg = new BloomFilterAggregate(
      expression(xxhash64(col("g"))), expectedGrams)
    val bloomBin = benchGrams
      .select(column(bloomAgg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val mightContain = column(new BloomFilterMightContain(
      Literal(bloomBin, BinaryType),
      expression(xxhash64(col("g")))))
    val hits = corpus
      .select(col(idCol), explode(shingles(col(textCol), k)).as("g"))
      .filter(mightContain)
      .join(benchGrams.hint("shuffle_hash"), Seq("g"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("is_contaminated", lit(true))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .withColumn("is_contaminated",
        coalesce(col("is_contaminated"), lit(false)))
  }

  /** Two-tier fuzzy dedup: cheap set-similarity CANDIDATES (the PPJoin
    * prefix-filter join at a loose Jaccard floor) verified by bounded
    * edit distance on the normalized text — the classic fuzzy-match
    * shape where the expensive per-pair comparison only ever runs on
    * the candidate set, never all pairs.
    *
    * Scale notes: texts join back for candidate pairs ONLY (the
    * candidate join itself moves 8-byte ids); the verify uses Spark's
    * threshold-bounded levenshtein, which early-exits past `maxEdit`
    * (O(L·maxEdit) per pair, not O(L²)). Output: (i, j, edit_dist)
    * with i < j and edit_dist ≤ maxEdit. */
  def editVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, jaccardFloor: Double = 0.6,
      maxEdit: Int = 6): DataFrame = {
    val cands = ngramJaccardPairs(df, idCol, textCol, k, jaccardFloor)
      .select(col("i"), col("j"))
    val norm = df.select(col(idCol).cast(LongType).as("__nid"),
      TextOps.normalize(col(textCol)).as("__txt"))
    cands
      .join(norm.select(col("__nid").as("i"), col("__txt").as("__ti")), "i")
      .join(norm.select(col("__nid").as("j"), col("__txt").as("__tj")), "j")
      .withColumn("edit_dist",
        levenshtein(col("__ti"), col("__tj"), maxEdit))
      .filter(col("edit_dist") >= 0) // -1 = threshold exceeded
      .select(col("i"), col("j"), col("edit_dist"))
  }

  /** Two-tier fuzzy dedup with JARO-WINKLER verification: PPJoin
    * candidates at a loose Jaccard floor, then the native
    * [[graft.functions.expressions.JaroWinklerSimilarity]] expression
    * (codegen'd, O(L·window) per pair, candidate pairs only — never
    * all pairs) keeps pairs at or above `jwThreshold`. The
    * prefix-weighted measure catches the same-head/different-tail
    * near-dups a bounded edit distance rejects.
    *
    * Two PROVABLY-LOSSLESS prefilters run before the exact measure
    * (output is identical with or without them; they only cut verify
    * cost, sharpening the loose Jaccard-floor candidate set for high
    * JW thresholds):
    *  1. length ratio — jw ≥ t forces jaro ≥ (t−0.4)/0.6 (the boost
    *     lifts jaro to at most 0.6·jaro+0.4), and m ≤ min(|a|,|b|)
    *     forces jaro ≤ (min/max + 2)/3... i.e.
    *     min/max ≥ 3·(t−0.4)/0.6 − 2; pure codegen'd `length()` math;
    *  2. the O(|a|+|b|) char-multiset bound
    *     [[graft.functions.expressions.JaroWinklerUpperBound]],
    *     ~L·window/(L) times cheaper than the exact scan. */
  def jaroVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, jaccardFloor: Double = 0.6,
      jwThreshold: Double = 0.9): DataFrame = {
    import graft.functions.expressions.StringSimilarity.{jaro_winkler, jaro_winkler_upper_bound}
    val cands = ngramJaccardPairs(df, idCol, textCol, k, jaccardFloor)
      .select(col("i"), col("j"))
    val norm = df.select(col(idCol).cast(LongType).as("__nid"),
      TextOps.normalize(col(textCol)).as("__txt"))
    // jaro lower bound implied by the threshold (boost ≤ 0.4·(1−jaro));
    // the 1e-6 slack covers the exact path's round-to-6-decimals: a
    // true jw just under t can round UP to t, so the prefilters must
    // keep that band too to stay lossless
    val jaroMin = (jwThreshold - 1e-6 - 0.4) / 0.6
    val ratioMin = 3.0 * jaroMin - 2.0 // min/max length ratio bound
    val joined = cands
      .join(norm.select(col("__nid").as("i"), col("__txt").as("__ti")), "i")
      .join(norm.select(col("__nid").as("j"), col("__txt").as("__tj")), "j")
    val prefiltered =
      if (ratioMin <= 0) joined // low thresholds: bounds can't prune
      else joined
        .filter(least(length(col("__ti")), length(col("__tj"))) >=
          lit(ratioMin) * greatest(length(col("__ti")), length(col("__tj"))))
        .filter(jaro_winkler_upper_bound(col("__ti"), col("__tj")) >=
          jwThreshold - 1e-6)
    prefiltered
      .withColumn("jw", round(jaro_winkler(col("__ti"), col("__tj")), 6))
      .filter(col("jw") >= jwThreshold)
      .select(col("i"), col("j"), col("jw"))
  }

  /** Passage-level exact dedup (the aligned-chunk approximation of
    * Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better" — substring dedup at passage granularity): split
    * every document into consecutive k-token chunks, keep each
    * distinct chunk's FIRST corpus occurrence — min (doc_id,
    * chunk_idx) — and reassemble the surviving chunks per document in
    * original order.
    *
    * Scale shape: chunking is scan-stage column math; first-occurrence
    * ownership is a row_number window PARTITIONED BY the chunk's
    * xxhash64 — ONE shuffle of the chunk set, one linear scan of the
    * source, partitions uniform because h is a hash. (The previous
    * min(struct)-aggregate + join-back form moved the full chunk set
    * through a join AND recomputed the tokenize/chunk stage for the
    * second reference — measured 13× slower at the 100× dataset: 47.1 s vs 3.5 s.)
    * Reassembly is a groupBy over surviving rows only. No all-pairs
    * stage at any size. A 64-bit hash collision would merge two
    * distinct chunks (probability ~n²/2⁶⁴ — acceptable at this
    * granularity; use the chunk text as the key where bit-exactness
    * is contractual).
    *
    * Output: (doc_id, n_kept, text_clean) for every document keeping
    * at least one chunk; documents whose every chunk was seen earlier
    * disappear — full-document exact dedup as a special case. */
  def passageDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val chunked = df
      .select(col(idCol).cast(LongType).as("doc_id"),
        TextOps.tokens(col(textCol)).as("__toks"))
      .withColumn("__n", ceil(size(col("__toks")) / lit(k.toDouble)).cast(IntegerType))
      .filter(col("__n") > 0)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), col("__n") - 1),
          i => array_join(slice(col("__toks"), i * k + 1, lit(k)), " "))))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk")
      .withColumn("h", xxhash64(col("chunk")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    chunked
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          s => s.getField("chunk")), " ").as("text_clean"))
  }

  /** 64-bit SimHash per document: sum ±1 per bit over xxhash64 token
    * hashes, sign → bit. Explode token hashes once, then ONE hash
    * aggregate with 64 bit-sums (map-side combinable) — never
    * re-tokenizes per bit. Output: (doc_id, sh bigint). */
  def simHashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simHashesFromTokens(tokenize(df, idCol, textCol))

  /** SimHashes from a (doc_id, toks) frame — shares the token pass
    * with shingling when the caller persists `tokenize`'s output. */
  def simHashesFromTokens(tokens: DataFrame): DataFrame = {
    val exploded = tokens
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val sums = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$j")
    }
    val bits = (0 until 64).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
    exploded.groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), bits.reduce((a, b) => a.bitwiseOR(b)).as("sh"))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with hamming distance ≤ maxDist.
    * Candidates via the 4×16-bit chunk pigeonhole: two hashes within
    * hamming 3 share at least one exact 16-bit chunk; bucket-join on
    * (chunk index, chunk value) keeps the join linear. For maxDist > 3
    * the guarantee needs more/smaller chunks — callers pick. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame =
    simHashPairsFromTokens(tokenize(df, idCol, textCol), maxDist)

  /** Deterministic 60-bit SimHash per document: [[md5Long]] token
    * hashes (engine-portable, 60 usable bits) instead of xxhash64's 64,
    * same one-aggregate plan. Output: (doc_id, sh bigint, 60 bits). */
  def simHashesDeterministic(tokens: DataFrame): DataFrame = {
    val exploded = tokens
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .select(col("doc_id"), md5Long(col("t")).as("h"))
    val sums = (0 until 60).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$j")
    }
    val bits = (0 until 60).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
    exploded.groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), bits.reduce((a, b) => a.bitwiseOR(b)).as("sh"))
  }

  /** Fully DETERMINISTIC SimHash near-dup pairs: md5 token hashes and
    * a 4×15-bit chunk pigeonhole (60 bits / 4 chunks still guarantees
    * a shared exact chunk at hamming ≤ 3), so an external engine
    * replays the pair set bit-for-bit — the exact-oracle variant of
    * [[simHashPairsFromTokens]], same bucket-join plan. */
  def simHashPairsDeterministic(tokens: DataFrame,
      maxDist: Int): DataFrame = {
    require(maxDist <= 3, "4-chunk pigeonhole only guarantees hamming <= 3")
    val sh = simHashesDeterministic(tokens)
    val chunked = sh.select(col("doc_id"), col("sh"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("sh"), i * 15).bitwiseAND(0x7FFFL)): _*))
        .as(Seq("chunk", "cv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    chunked.count()
    val out = simHashCandidatePairs(chunked, maxDist).barrier()
    chunked.unpersist(false)
    out
  }

  /** SimHash pairs over a pre-built (doc_id, toks) frame (shared
    * persisted token pass). */
  def simHashPairsFromTokens(tokens: DataFrame,
      maxDist: Int): DataFrame = {
    val sh = simHashesFromTokens(tokens)
    // persisted AND materialized eagerly: self-joined below — an
    // unmaterialized cached plan scanned twice within one job races its
    // own cache fill and runs the 64-bit-sum aggregation once per side.
    // Scoped — unpersisted after the eager pair materialization below.
    val chunked = sh.select(col("doc_id"), col("sh"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("sh"), i * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("chunk", "cv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    chunked.count()
    val out = simHashCandidatePairs(chunked, maxDist).barrier()
    chunked.unpersist(false)
    out
  }

  /** Chunk-colliding (i, j) pairs within hamming `maxDist`. The distance
    * filter sits INSIDE the join scan, before distinct/materialization —
    * colliding chunks only bound distance to ≤ 48, so filtering after
    * materializing would checkpoint far more pairs than qualify. */
  private def simHashCandidatePairs(chunked: DataFrame,
      maxDist: Int): DataFrame = {
    val a = chunked.as("a"); val b = chunked.as("b")
    a.join(b, col("a.chunk") === col("b.chunk")
        && col("a.cv") === col("b.cv")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        hamming(col("a.sh"), col("b.sh")).as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }
}
