package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Barrier.BarrierOps
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines
  * (beyond the reference surface — BASELINE.json north star): token
  * counting, quality scoring, language id, fingerprinting.
  *
  * Everything is a pure `Column` expression (whole-stage codegen, no
  * UDFs) — at 100 TB these run inside the parquet scan stage with zero
  * shuffles.
  */
object TextOps {

  /** Lowercased whitespace tokens, empty strings removed. */
  def tokens(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => t =!= "")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * non-alphanumeric marks — a cheap proxy for subword tokenizer load
    * (ASCII classes only, so every engine's regex agrees). */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Punctuation ratio over character length (quality signal). */
  def punctRatio(c: Column): Column = {
    val stripped = regexp_replace(c, "[.,;:!?]", "")
    (length(c) - length(stripped)).cast(DoubleType) / length(c)
  }

  /** Fraction of tokens that are stopwords (quality signal). */
  def stopwordRatio(c: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(c)
    val sw = typedLit(stopwords)
    size(filter(toks, t => array_contains(sw, t))).cast(DoubleType) /
      size(toks)
  }

  /** Mean token length in characters. */
  def meanWordLen(c: Column): Column = {
    val toks = tokens(c)
    aggregate(transform(toks, t => length(t)), lit(0),
      (acc, x) => acc + x).cast(DoubleType) / size(toks)
  }

  /** Whitespace-normalized lowercase form used for fingerprinting. */
  def normalize(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Collapse runs of consecutive identical tokens to one occurrence
    * ("batch batch batch" → "batch") — the cheapest repetition-removal
    * cleanup in a training-data pipeline (Gopher's dup-ngram METRICS
    * flag such docs; this REPAIRS the degenerate-run subset). Pure
    * array math in the scan stage: no shuffle, no UDF. */
  def collapseRepeats(toks: Column): Column =
    filter(toks, (t, i) => i === 0 || t =!= element_at(toks, i))

  /** URL/email scrub: tokens that look like URLs or emails are removed
    * outright (C4-style PII/link hygiene; ASCII-conservative patterns
    * that Java regex and RE2-family engines read identically). */
  def scrubUrlsEmails(toks: Column): Column =
    filter(toks, t =>
      !(t.rlike("^https?://") || t.rlike("^www\\.") ||
        t.rlike("^[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}$")))

  /** PII redaction patterns for a pretraining privacy pass, applied in
    * THIS fixed order (emails first so their digits can't phone-match;
    * card-length digit runs before phones so the more specific tag
    * wins). Each entry: (category, RE2-compatible pattern — no
    * lookarounds, so Java regex and DuckDB replay identically,
    * placeholder). */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("card", "\\b\\d{13,19}\\b", "<CARD>"),
    ("phone", "\\+\\d{1,3}[ .-]?\\d{2,4}[ .-]?\\d{3,4}[ .-]?\\d{3,4}\\b",
      "<PHONE>"))

  /** Redact all [[PiiPatterns]] categories with typed placeholders —
    * one codegen'd regexp_replace chain, no UDF, no shuffle. */
  def piiScrub(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (_, p, tag)) =>
      regexp_replace(acc, p, tag)
    }

  /** Per-category PII match counts with REPLACE-consistent semantics:
    * category i is counted on the text already scrubbed of categories
    * < i (so an email's digits never also count as a phone), exactly
    * mirroring [[piiScrub]]'s chain. Returns (category → count
    * Column). */
  def piiCounts(c: Column): Seq[(String, Column)] = {
    val scrubbedBefore = PiiPatterns.scanLeft(c) { case (acc, (_, p, tag)) =>
      regexp_replace(acc, p, tag)
    }
    PiiPatterns.zip(scrubbedBefore).map { case ((name, p, _), input) =>
      name -> size(regexp_extract_all(input, lit(p), lit(0)))
    }
  }

  /** Fixed-size token chunking with overlap — the training-data
    * windowing shape (context-length chunks advancing by `stride` <
    * `chunk` tokens ⇒ overlapping windows). Returns an array of
    * (chunk_idx, chunk, n_chunk_tokens) structs: window i covers
    * tokens [i·stride, i·stride + chunk); every document yields ≥ 1
    * chunk (the last may be short). Pure scan-stage array math —
    * sequence/transform/slice, no shuffle, no UDF; the explode in the
    * consuming query is the only row multiplier. */
  def chunkTokens(c: Column, chunk: Int, stride: Int): Column = {
    require(chunk >= 1 && stride >= 1 && stride <= chunk,
      s"chunking needs 1 <= stride <= chunk, got chunk=$chunk stride=$stride")
    val toks = tokens(c)
    val n = size(toks)
    // 1 + ceil((n - chunk) / stride) windows once n exceeds one chunk
    val nChunks = when(n <= chunk, lit(1)).otherwise(
      (lit(1) + (n - chunk + (stride - 1)) / lit(stride)).cast("int"))
    transform(sequence(lit(0), nChunks - 1), i =>
      struct(i.as("chunk_idx"),
        array_join(slice(toks, i * stride + 1, lit(chunk)), " ").as("chunk"),
        greatest(least(lit(chunk), n - i * stride), lit(0))
          .as("n_chunk_tokens")))
  }

  /** Exact document fingerprint: md5 of the normalized text. */
  def fingerprint(c: Column): Column = md5(normalize(c))

  /** Per-language marker-word profiles for the n-gram/stopword
    * language-id heuristic. Order matters: ties resolve to the first
    * language in this list (deterministic). */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ein", "nicht", "ist", "zu"),
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "los", "que", "y", "en", "un"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "du"))

  /** Language id: count marker-word hits per profile, pick the first
    * language reaching the maximum; 'unknown' when no marker hits. */
  def langId(c: Column): Column = {
    val toks = tokens(c)
    val scores = langProfiles.map { case (lang, words) =>
      lang -> size(filter(toks, t => array_contains(typedLit(words), t)))
    }
    val maxScore = greatest(scores.map(_._2): _*)
    val chain = scores.foldRight(lit("unknown")) { case ((lang, sc), els) =>
      when(sc === maxScore, lit(lang)).otherwise(els)
    }
    when(maxScore === 0, lit("unknown")).otherwise(chain)
  }

  // -------- Gopher-style repetition / quality-filter metrics --------
  //
  // The rule SHAPE follows the published Gopher data-curation filters
  // (Rae et al. 2021, "Scaling Language Models", Appendix A): repetition
  // (duplicate lines, most-frequent and duplicated n-grams), symbol-to-
  // word ratio, alphabetic-word fraction, and a composite pass/fail.
  // Exact definitions are pinned below. All pure Column expressions —
  // per-document scalar math inside the scan stage, zero shuffles at
  // any corpus size. Metrics take PRE-MATERIALIZED array columns
  // (tokens / n-grams / lines computed once in a projection): a lambda
  // that references a non-trivial outer expression re-evaluates it per
  // element (HOFs are interpreted, no CSE) — see `shinglesOfTokens`.

  /** Trimmed, non-empty lines of a document; `delim` is a Java regex
    * (default: newline). */
  def lines(c: Column, delim: String = "\n"): Column =
    filter(transform(split(c, delim), l => trim(l)), l => l =!= "")

  // Repetition metrics are computed by run-length-encoding a SORTED
  // copy of the array in ONE linear fold — never by counting each
  // element's occurrences with a nested scan. The naive occurrences()
  // shape is O(n²) per document (fatal on real documents with 10⁴-10⁵
  // tokens), and worse: when these metrics land in a FILTER, Catalyst's
  // predicate pushdown substitutes alias columns into the predicate
  // with no expense check, so a nested-lambda tree re-evaluates its
  // outer references per element (measured: one task spinning 20+ min
  // over 5000 small docs). The fold lambdas below reference ONLY their
  // own arguments, so they stay linear under any alias inlining.

  /** One closed-run update of the RLE accumulator: fold the finished
    * run (acc.prev × acc.run) into (maxRun, maxVal, dupChars,
    * dupElems). Ties on maxRun resolve to the value seen LATER in
    * ascending sort order — i.e. the lexicographically greatest. */
  private def rleClose(acc: Column): (Column, Column, Column, Column) = (
    when(acc.getField("run") >= acc.getField("maxRun"), acc.getField("run"))
      .otherwise(acc.getField("maxRun")),
    when(acc.getField("run") >= acc.getField("maxRun"), acc.getField("prev"))
      .otherwise(acc.getField("maxVal")),
    acc.getField("dupChars") + when(acc.getField("run") > 1,
      acc.getField("run").cast(LongType) * length(acc.getField("prev")))
      .otherwise(0L),
    acc.getField("dupElems") + when(acc.getField("run") > 1,
      acc.getField("run").cast(LongType)).otherwise(0L))

  /** Run-length statistics of a string array in one linear pass:
    * struct(maxRun, maxVal, dupChars, dupElems) where maxRun is the
    * highest element multiplicity, maxVal the element holding it (ties:
    * lexicographically greatest), dupChars the char sum over all
    * occurrences of duplicated elements, dupElems their element count. */
  private def rleStats(arr: Column): Column = {
    val init = struct(
      lit(null).cast(StringType).as("prev"), lit(0).as("run"),
      lit(0).as("maxRun"), lit(null).cast(StringType).as("maxVal"),
      lit(0L).as("dupChars"), lit(0L).as("dupElems"))
    aggregate(array_sort(arr), init,
      (acc, x) => {
        val (mr, mv, dc, de) = rleClose(acc)
        when(acc.getField("prev").isNull || x === acc.getField("prev"),
          struct(x.as("prev"),
            // run+1 on match; first element: 0+1 = 1
            (acc.getField("run") + 1).as("run"),
            acc.getField("maxRun").as("maxRun"),
            acc.getField("maxVal").as("maxVal"),
            acc.getField("dupChars").as("dupChars"),
            acc.getField("dupElems").as("dupElems")))
        .otherwise(struct(x.as("prev"), lit(1).as("run"), mr.as("maxRun"),
          mv.as("maxVal"), dc.as("dupChars"), de.as("dupElems")))
      },
      acc => {
        val (mr, mv, dc, de) = rleClose(acc)
        struct(mr.as("maxRun"), mv.as("maxVal"), dc.as("dupChars"),
          de.as("dupElems"))
      })
  }

  /** Fraction of lines whose exact trimmed text occurs more than once
    * (0.0 for documents with no lines). */
  def dupLineFrac(linesCol: Column): Column =
    when(size(linesCol) > 0,
      rleStats(linesCol).getField("dupElems").cast(DoubleType) /
        size(linesCol))
      .otherwise(0.0)

  /** Fraction of line characters sitting inside duplicated lines. */
  def dupLineCharFrac(linesCol: Column): Column = {
    val tot = aggregate(transform(linesCol, l => length(l)), lit(0L),
      (a, x) => a + x)
    when(tot > 0,
      rleStats(linesCol).getField("dupChars").cast(DoubleType) / tot)
      .otherwise(0.0)
  }

  /** Fraction of document characters covered by the single most
    * frequent word n-gram: count · len(gram) / len(text). Ties resolve
    * to the lexicographically greatest gram (deterministic). */
  def topNgramCharFrac(textCol: Column, grams: Column): Column = {
    val st = rleStats(grams)
    when(size(grams) > 0,
      (st.getField("maxRun").cast(LongType) *
        length(st.getField("maxVal"))).cast(DoubleType) / length(textCol))
      .otherwise(0.0)
  }

  /** Fraction of characters inside n-grams occurring more than once:
    * each distinct duplicated gram charged count · len(gram). Overlaps
    * between different duplicated grams are NOT de-overlapped (the sum
    * can exceed 1 on highly repetitive text) — a documented
    * simplification of the Gopher rule, monotone in the same signal. */
  def dupNgramCharFrac(textCol: Column, grams: Column): Column =
    when(size(grams) > 0,
      rleStats(grams).getField("dupChars").cast(DoubleType) /
        length(textCol))
      .otherwise(0.0)

  /** Symbol-to-word ratio: '#' characters plus '...' occurrences per
    * token (the Gopher hash/ellipsis rule). */
  def symbolWordRatio(textCol: Column, toks: Column): Column = {
    val hashes = length(textCol) - length(replace(textCol, lit("#"), lit("")))
    val ellipses =
      (length(textCol) - length(replace(textCol, lit("..."), lit("")))) / 3
    when(size(toks) > 0, (hashes + ellipses).cast(DoubleType) / size(toks))
      .otherwise(0.0)
  }

  /** Fraction of tokens containing at least one a-z letter (tokens are
    * already lowercased). */
  def alphaWordFrac(toks: Column): Column =
    when(size(toks) > 0,
      size(filter(toks, t => t.rlike("[a-z]"))).cast(DoubleType) /
        size(toks))
      .otherwise(0.0)

  /** Composite Gopher-style document filter. Thresholds (pinned here):
    * 50 ≤ words ≤ 100000, 3 ≤ mean word length ≤ 10, symbol-to-word
    * ratio < 0.1, alphabetic-word fraction > 0.8, top-n-gram character
    * fraction < 0.2, duplicate-line fraction < 0.3. */
  def gopherPass(textCol: Column, toks: Column, grams: Column,
      linesCol: Column): Column = {
    val nWords = size(toks)
    val mwl = aggregate(transform(toks, t => length(t)), lit(0),
      (a, x) => a + x).cast(DoubleType) / nWords
    nWords.between(50, 100000) &&
      mwl.between(3.0, 10.0) &&
      (symbolWordRatio(textCol, toks) < 0.1) &&
      (alphaWordFrac(toks) > 0.8) &&
      (topNgramCharFrac(textCol, grams) < 0.2) &&
      (dupLineFrac(linesCol) < 0.3)
  }

  /** Gopher-filter a corpus, keeping only passing rows — the SAFE
    * staging, packaged: the decision is computed as a projected column
    * and the filter runs above a checkpoint barrier. Filtering on the
    * live `gopherPass` expression instead lets predicate pushdown
    * substitute the token/gram aliases into the predicate (no expense
    * check) and re-evaluate them per array element; the metrics
    * themselves are inlining-proof since the RLE rewrite, but the
    * tokenize/shingle columns would still be recomputed per reference,
    * and downstream consumers would replan the whole tree. The
    * checkpoint also gives each pipeline stage a materialized input —
    * the curation-pipeline shape. */
  def gopherFilter(df: org.apache.spark.sql.DataFrame,
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val keep = df.columns.map(col)
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn("__grams", Dedup.shinglesOfTokens(col("__toks"), 2))
      .withColumn("__lns", lines(col(textCol)))
      .select(keep :+ gopherPass(col(textCol), col("__toks"),
        col("__grams"), col("__lns")).as("__gopher_pass"): _*)
      .barrier()
      .filter(col("__gopher_pass"))
      .drop("__gopher_pass")
  }
}
