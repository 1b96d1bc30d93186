package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: tokenization,
  * token statistics, stopword/language heuristics, document
  * fingerprinting. All pure `Column` compositions over
  * `org.apache.spark.sql.functions` (codegen'd, no UDFs), with exact
  * integer/decimal math wherever a DuckDB oracle compares results.
  *
  * Cross-engine determinism: token hashes derive from `md5` hex (identical
  * in any engine) reduced to 31-bit ints; ratios are integer-over-integer
  * double divisions (single well-defined op -> identical bits).
  */
object TextAnalysis {

  val HashPrime = 1000000007L

  /** Whitespace tokenization (the corpus is space-separated tokens). */
  def tokens(text: Column): Column = split(text, " ")

  /** A BPE-ish fallback tokenizer for raw text: splits on word/punct
    * boundaries like a byte-pair pre-tokenizer would. */
  def regexTokens(text: Column): Column =
    // contiguous letters+digits | single punctuation — close to GPT-2's
    // pre-tokenizer classes, without lookahead (unsupported in RE2/ICU).
    // call_function keeps the real Column (toString-interpolated SQL
    // breaks on qualified/lambda-bound columns).
    call_function("regexp_extract_all", text,
      lit("[\\p{L}\\p{N}]+|[^\\p{L}\\p{N}\\s]"), lit(0))

  /** Stable 31-bit token hash: first 15 hex chars of md5, parsed base-16,
    * reduced mod 2^31-1. Reproducible in any SQL engine. */
  def tokenHash31(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long") % 2147483647L

  /** Driver-side twin of [[tokenHash31]] — bit-identical to the column
    * form on any UTF-8 string. For hashing BOUNDED model state (merge
    * tables, centroid ids) on the driver without a Spark job; never
    * for row-scale data. */
  def tokenHash31Local(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2147483647L
  }

  /** Rolling polynomial fingerprint over the ORDERED token stream:
    * h = fold(0, (acc, x31) -> (acc*31 + x31) mod 1e9+7). Order-sensitive
    * (reordered dups get different fingerprints; use MinHash for those). */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(tokens(text), t => tokenHash31(t)),
      lit(0L),
      (acc, x) => (acc * 31L + x) % HashPrime)

  def nTokens(text: Column): Column = size(tokens(text)).cast("long")
  def nDistinct(text: Column): Column =
    size(array_distinct(tokens(text))).cast("long")

  /** English stopword hits (vocabulary-appropriate subset). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")
  def nStopwords(text: Column): Column =
    size(filter(tokens(text), t => t.isin(Stopwords.map(lit): _*)))
      .cast("long")

  /** Heuristic language ID: stopword-ratio thresholding (the fixture's
    * token vocabulary carries no character-level signal, so the heuristic
    * is ratio-based; a char-n-gram profile variant lives in
    * [[charNgramProfile]] for realistic corpora). */
  def langIdHeuristic(text: Column): Column =
    when(nStopwords(text).cast("double") / nTokens(text) >= 0.05, lit("en"))
      .otherwise(lit("other"))

  /** Char-trigram profile (top fragments of a doc) — the building block of
    * real n-gram language ID; exposed for library users and tests.
    * One codegen'd linear pass ([[graft.functions.CharGrams]]) — the
    * `transform(sequence, substring)` composition it replaces walks the
    * string from byte 0 for every gram (O(len²) per doc; the measured
    * 16 s hotspot of the language-ID train pass at sf0.1). */
  def charNgramProfile(text: Column, n: Int = 3): Column =
    graft.functions.CharGrams(
      lower(regexp_replace(text, "\\s+", "_")), n)

  /** TRAIN step of the hashed-linear language classifier: per-language
    * hashed char-n-gram count profiles from a LABELED seed corpus —
    * the fasttext-shaped upgrade over [[langIdHeuristic]]'s
    * stopword-ratio test (which can only say en / not-en and is blind
    * on non-Latin scripts). Features are [[charNgramProfile]] trigrams
    * hashed into `dim` buckets ([[tokenHash31]] — SQL-replayable), so
    * the model is bounded at nLangs·dim rows regardless of corpus or
    * vocabulary size: broadcastable at any scale, the same boundedness
    * argument as the DSIR count tables. Returns (lang, b, cnt).
    *
    * Scale guard: the apply step cross-multiplies profile counts into
    * Σcnt² — keep per-bucket counts under ~2^31 (downsample the seed
    * corpus past that; a language profile saturates long before). */
  def langIdTrain(df: org.apache.spark.sql.DataFrame, textCol: String,
      langCol: String, dim: Int = 256,
      n: Int = 3): org.apache.spark.sql.DataFrame =
    df.select(col(langCol).as("lang"),
        explode(charNgramProfile(col(textCol), n)).as("g"))
      // count per (lang, DISTINCT gram) first, hash after: the md5
      // bucket hash runs once per distinct gram (vocabulary-bounded)
      // instead of once per occurrence (corpus-bounded) — identical
      // bucket counts by sum invariance, and the extra exchange is
      // tiny because map-side combine collapses to distinct grams
      .groupBy("lang", "g").agg(count(lit(1)).as("gcnt"))
      .select(col("lang"), (tokenHash31(col("g")) % dim).as("b"),
        col("gcnt"))
      .groupBy("lang", "b").agg(sum("gcnt").as("cnt"))

  /** APPLY step of the hashed-linear language classifier: score every
    * document against every language profile by the exact integer dot
    * of hashed char-n-gram counts, normalized by the profile norm —
    * the document's own norm is constant across languages, so it drops
    * out of the argmax and the score stays ONE double division of
    * exact integers (replayable bit-for-bit in a SQL oracle). The
    * model rides a broadcast (bounded, see [[langIdTrain]]); the only
    * corpus-sized exchanges are the doc-keyed bucket-count aggregate
    * and the per-doc argmax (a window keyed on doc id — nLangs rows
    * per doc, high-cardinality key, scale-safe). Ties break to the
    * lexicographically smallest language. Documents shorter than `n`
    * chars (or sharing no bucket with any profile) carry no evidence
    * and are dropped — quarantine them upstream as undetermined.
    * Returns (idCol, predicted, score). */
  def langIdLinear(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, model: org.apache.spark.sql.DataFrame,
      dim: Int = 256, n: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nrm = model.groupBy("lang")
      .agg(sum(col("cnt") * col("cnt")).as("nrm2"))
    val docB = df.select(col(idCol),
        explode(charNgramProfile(col(textCol), n)).as("g"))
      .select(col(idCol), (tokenHash31(col("g")) % dim).as("b"))
      .groupBy(col(idCol), col("b")).agg(count(lit(1)).as("dcnt"))
    docB.join(broadcast(model), Seq("b"))
      .groupBy(col(idCol), col("lang"))
      .agg(sum(col("dcnt") * col("cnt")).as("dot"))
      .join(broadcast(nrm), Seq("lang"))
      .select(col(idCol), col("lang"),
        (col("dot").cast("double") / sqrt(col("nrm2").cast("double")))
          .as("score"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("score").desc, col("lang"))))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("lang").as("predicted"), col("score"))
  }

  /** Duplicated n-gram SPANS across documents — the exact-substring
    * duplication signal training-data dedup pipelines act on (boilerplate
    * headers, license blocks, templated text): every word `n`-gram that
    * occurs in more than one document, with its document frequency and
    * first/last carrier. One codegen'd shingle pass per doc
    * ([[graft.functions.WordShingles]] via [[Dedup.tokenIndex]]) and one
    * hash-agg keyed on the span — shuffle bounded by distinct spans,
    * never pairs, so it survives corpus-scale inputs where a pairwise
    * formulation would not. Spans are doc-distinct, so `n_docs` counts
    * documents, not occurrences. */
  def dupSpans(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int = 8): org.apache.spark.sql.DataFrame =
    Dedup.tokenIndex(df, idCol, textCol, n)
      .groupBy(col("shingle").as("span"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("id")).as("first_doc"), max(col("id")).as("last_doc"))
      .filter(col("n_docs") > 1)

  /** Deterministic stratified sampling: keep a row iff
    * h31(id) mod 1000 < 1000·rate(stratum). No RNG — the same row set
    * is selected under any partitioning, any engine, any run (the same
    * hash-threshold trick as the train/val split), and per-stratum
    * rates let a pipeline downsample overrepresented strata (e.g. a
    * dominant language) in one narrow filter with zero shuffles. */
  def stratifiedSample(df: org.apache.spark.sql.DataFrame, idCol: String,
      strataCol: String, permilRates: Map[String, Int],
      defaultPermil: Int): org.apache.spark.sql.DataFrame = {
    require((permilRates.values ++ Seq(defaultPermil)).forall(r =>
      r >= 0 && r <= 1000), "rates are permil values in [0, 1000]")
    val permil = permilRates.foldLeft(lit(defaultPermil)) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(tokenHash31(col(idCol).cast("string")) % 1000L < permil)
  }

  /** Overlapping token-window CHUNKING — the embedding/RAG prep shape:
    * split each document into windows of `chunkTokens` tokens advancing
    * by `stride` (overlap = chunkTokens - stride), the last window
    * truncated at the document end. One generator (`posexplode`) per
    * doc — row count grows by ~n/stride, no shuffle at all until the
    * caller aggregates; chunk text is carried so a downstream embedder
    * can consume it directly. Returns (idCol, chunk_idx, start_tok,
    * n_chunk_tokens, chunk). */
  def chunkDocs(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunkTokens: Int = 64,
      stride: Int = 48): org.apache.spark.sql.DataFrame = {
    require(chunkTokens >= 1 && stride >= 1,
      s"chunkDocs: chunkTokens/stride must be positive " +
        s"($chunkTokens/$stride)")
    df.select(col(idCol), col(textCol),
        posexplode(sequence(lit(0),
          nTokens(col(textCol)).cast("int") - 1, lit(stride))))
      .withColumnsRenamed(Map("pos" -> "chunk_idx", "col" -> "start_tok"))
      .withColumn("chunk",
        slice(tokens(col(textCol)), col("start_tok") + 1, lit(chunkTokens)))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        array_join(col("chunk"), " ").as("chunk"))
  }

  /** Epoch-mixture materialization: replicate each document according
    * to a per-stratum sampling weight in PERMIL (2500 = 2.5 epochs —
    * the "upsample Wikipedia 2.5x, drop benchmark slices" step of a
    * training-mix recipe). Integer repeats come from the weight's whole
    * part; the fractional part becomes one extra copy for the
    * hash-selected permil share of the stratum (same deterministic
    * threshold trick as [[stratifiedSample]] — no RNG, identical rows
    * under any partitioning). One narrow filter + one generator, no
    * shuffle; output rows carry (epoch_copy 0..n-1) so downstream
    * packing can interleave copies. */
  def epochMixture(df: org.apache.spark.sql.DataFrame, idCol: String,
      strataCol: String, permilWeights: Map[String, Int],
      defaultPermil: Int): org.apache.spark.sql.DataFrame = {
    require((permilWeights.values ++ Seq(defaultPermil)).forall(_ >= 0),
      "epochMixture: weights are permil values >= 0")
    val permil = permilWeights.foldLeft(lit(defaultPermil)) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.withColumn("__permil", permil)
      .withColumn("n_repeats",
        // integer floor-div, NOT a double divide + cast: DuckDB casts
        // double->bigint by rounding, Spark by truncation — x.5 values
        // would silently diverge between engines
        expr("CAST(__permil div 1000 AS BIGINT)") +
          when(tokenHash31(col(idCol).cast("string")) % 1000L <
            col("__permil") % 1000, 1L).otherwise(0L))
      .filter(col("n_repeats") > 0)
      .withColumn("epoch_copy",
        explode(sequence(lit(0L), col("n_repeats") - 1)))
      .drop("__permil")
  }

  /** BM25 relevance of every document against a query token set, with
    * two exactness choices that make it oracle-reproducible:
    *
    *  - transcendental-free IDF `(N - df + 0.5) / (df + 0.5)` (the raw
    *    Robertson-Sparck-Jones form without the log — monotone in df,
    *    and IEEE division is bit-exact where `ln` is not);
    *  - FIXED-POINT accumulation: each per-term double is floored to
    *    1e-9 resolution and summed as an integer, so the score is
    *    independent of partition summation order (a raw double SUM is
    *    not associative and would hash-mismatch run to run).
    *
    * Shape: the query set is a broadcast of a handful of tokens; tf is
    * one filtered hash-agg keyed (doc, term); df and the corpus length
    * stats are one aggregate each; no window, no pairs. Returns
    * (idCol, n_hits, score_fp) — `score_fp` is the 1e9-scaled integer
    * score. */
  def bm25Scores(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, queryToks: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(queryToks.nonEmpty, "bm25Scores: empty query")
    val docs = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__dl", size(col("__toks")).cast("long"))
    val stats = docs.agg(count(lit(1)).as("__n"),
      sum("__dl").cast("long").as("__totdl"))
    val toks = docs.select(col(idCol), col("__dl"),
      explode(col("__toks")).as("__tok"))
    val inQ = toks.filter(col("__tok").isInCollection(queryToks))
    val tf = inQ.groupBy(col(idCol), col("__dl"), col("__tok"))
      .agg(count(lit(1)).as("__tf"))
    // document frequency of each query term over the WHOLE corpus
    val dfreq = toks.filter(col("__tok").isInCollection(queryToks))
      .groupBy("__tok")
      .agg(countDistinct(col(idCol)).as("__df"))
    val term = tf.join(dfreq, "__tok").crossJoin(broadcast(stats))
      .withColumn("__avgdl",
        col("__totdl").cast("double") / col("__n"))
      .withColumn("__idf",
        (col("__n").cast("double") - col("__df") + 0.5) /
          (col("__df").cast("double") + 0.5))
      .withColumn("__term",
        col("__idf") * (col("__tf").cast("double") * (k1 + 1.0)) /
          (col("__tf").cast("double") +
            lit(k1) * (lit(1.0) - b +
              lit(b) * (col("__dl").cast("double") / col("__avgdl")))))
    term.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"),
        sum(floor(col("__term") * 1e9)).cast("long").as("score_fp"))
  }

  /** Content-defined chunking: chunk boundaries fall AFTER tokens whose
    * hash ≡ 0 (mod `modulus`) — average chunk length `modulus`, but
    * boundary positions depend only on CONTENT, so inserting a sentence
    * shifts one chunk instead of re-slicing every downstream window
    * (the dedup-robust property fixed-stride [[chunkDocs]] lacks; same
    * trick as storage-level CDC/Rabin chunking, token-granular).
    *
    * Shape: one explode, one per-doc running count of boundary markers
    * (window keyed on the doc id), one (doc, chunk) hash-agg — all
    * keyed, no pairs. `chunk_hash` is the order-independent token-hash
    * sum mod P, so the oracle needs no ordered string aggregation.
    * Returns (idCol, chunk_id, start_pos, n_tok, chunk_hash). */
  def cdcChunks(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, modulus: Int = 16): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(modulus >= 2, s"cdcChunks: modulus must be >= 2 ($modulus)")
    val toks = df.select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("h", tokenHash31(col("tok")))
      .withColumn("bnd",
        when(col("h") % modulus === 0, lit(1L)).otherwise(lit(0L)))
    // chunk id of a token = boundaries strictly before it
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("chunk_id", coalesce(sum(col("bnd")).over(w), lit(0L)))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(
        min(col("pos")).cast("long").as("start_pos"),
        count(lit(1)).as("n_tok"),
        (sum(col("h")) % HashPrime).as("chunk_hash"))
  }

  /** Per-document duplicate-n-gram statistics — the Gopher-style
    * repetition filters: `dup_ratio` = fraction of n-gram occurrences
    * that are repeats of an earlier one, `top_coverage` = share of all
    * n-gram slots held by the single most frequent n-gram. One
    * [[graft.functions.WordGrams]] pass per doc (all occurrences —
    * [[graft.functions.WordShingles]] would dedup away the signal), one
    * hash-agg keyed (id, gram), one keyed (id): shuffle is bounded by
    * per-doc distinct grams, never pairs, and partial aggregation
    * collapses each doc's repeats map-side. All counts exact integers
    * with single double divisions, so the oracle bit-matches. Docs with
    * fewer than n tokens have no grams and drop out (both sides). */
  def dupNgramStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int): org.apache.spark.sql.DataFrame =
    df.select(col(idCol),
        explode(graft.functions.WordGrams(col(textCol), n)).as("gram"))
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      .agg(
        sum("cnt").cast("long").as("n_grams"),
        count(lit(1)).as("n_distinct_grams"),
        ((sum("cnt") - count(lit(1))).cast("double") / sum("cnt"))
          .as("dup_ratio"),
        (max("cnt").cast("double") / sum("cnt")).as("top_coverage"))

  /** Top-k TF-IDF terms per document with a transcendental-free IDF
    * (`n_docs / doc_freq`, one correctly-rounded IEEE division — `ln`
    * is not bit-reproducible across engines, division is). Two hash-aggs
    * (doc-term tf, then term df), a broadcast of the 1-row corpus count,
    * and a per-doc `row_number` window — every stage keyed, nothing
    * global, ties broken by token so the selection is total-ordered. */
  def tfIdfTop(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("dfreq"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast("double") *
          (col("n_docs").cast("double") / col("dfreq")))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("score").desc, col("token"))))
      .filter(col("rk") <= k)
      .select(col(idCol), col("rk").cast("long").as("rk"), col("token"),
        col("tf"), col("dfreq"), col("score"))
  }

  /** Corpus Zipf head: the k most frequent tokens with rank, cumulative
    * frequency and cumulative corpus-mass share. The global window runs
    * AFTER a top-k (`TakeOrderedAndProject`), so its input is k rows —
    * a head-coverage probe over a 100 TB corpus costs one token
    * hash-agg plus a k-row epilogue, not a vocabulary-wide sort. */
  def zipfHead(df: org.apache.spark.sql.DataFrame, textCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val total = tf.agg(sum("freq").cast("long").as("total"))
    // k rows in a single partition by construction — the one place a
    // partition-less window is the right plan
    val w = Window.orderBy(col("freq").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tf.orderBy(col("freq").desc, col("token")).limit(k)
      .crossJoin(broadcast(total))
      .select(
        row_number().over(Window.orderBy(col("freq").desc, col("token")))
          .cast("long").as("rnk"),
        col("token"), col("freq"),
        sum("freq").over(w).cast("long").as("cum_freq"),
        (sum("freq").over(w).cast("double") / col("total")).as("head_mass"))
  }

  /** Composite quality score in [0,1] from exact integer counts; formula
    * mirrored token-for-token in the SQL oracle so double ops bit-match:
    * 0.5*distinct_ratio + 0.3*min(1, n_tokens/100) + 0.2*stop_ratio*5
    * (capped). */
  def qualityScore(text: Column): Column = {
    val nt = nTokens(text).cast("double")
    val distinctRatio = nDistinct(text).cast("double") / nt
    val lengthScore = least(lit(1.0), nt / 100.0)
    val stopScore = least(lit(1.0),
      nStopwords(text).cast("double") / nt * 5.0)
    distinctRatio * 0.5 + lengthScore * 0.3 + stopScore * 0.2
  }

  /** PII detector patterns, ordered — redaction applies them in THIS
    * order, so a span claimed by an earlier category is never re-matched
    * by a later one. The regex subset is deliberately portable (ASCII
    * classes, `\b`, bounded repetition; no lookaround) so Java regex and
    * RE2 (DuckDB, Go scanners) agree token-for-token: a PII audit must
    * be replayable outside the engine that produced it.
    * (label, pattern, replacement). */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<ID>"),
    // the boundary sits AFTER the optional '+': '\b\+?' can never take
    // the '+' branch (no word char on either side of ' +'), which left
    // '+1 555-...' redacting to '+<PHONE>'
    ("phone", "(?:\\+)?\\b\\d{1,2}[- ]\\d{3}[- ]\\d{3}[- ]\\d{4}\\b", "<PHONE>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** Per-category PII match counts — one codegen'd `regexp_count` per
    * category (a narrow projection: zero shuffles at any corpus size).
    * Counts OVERLAP-FREE per category but categories are counted
    * independently (scan semantics); use [[piiRedact]] for the
    * sequential-claim semantics. Emits `n_<label>` per pattern plus
    * `pii_total`. */
  def piiCounts(text: Column): Seq[Column] = {
    val counts = PiiPatterns.map { case (label, pat, _) =>
      regexp_count(text, lit(pat)).cast("long").as(s"n_$label")
    }
    val total = PiiPatterns.map { case (_, pat, _) =>
      regexp_count(text, lit(pat)).cast("long")
    }.reduce(_ + _).as("pii_total")
    counts :+ total
  }

  /** Redact all PII categories in [[PiiPatterns]] order — a fold of
    * codegen'd `regexp_replace`, each replacing ALL occurrences. Earlier
    * categories claim their spans first (an email's digits can never be
    * re-matched as a phone), which is what makes the output stable
    * against pattern overlap. Pure projection — the redaction of a
    * 100 TB corpus is a map-only job. */
  def piiRedact(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (acc, (_, pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }

  /** Cross-document boilerplate removal — the CCNet/RefinedWeb
    * preprocessing step: lines that recur across more than
    * `maxPermil`/1000 of the corpus (navigation bars, cookie banners,
    * copyright footers) are stripped from every document; body text
    * survives because its cross-document frequency is the near-dup
    * rate, not the template rate. Shape: one generator explode, one
    * line-keyed document-frequency aggregate, one broadcast scalar for
    * the corpus size, one id-keyed reassembly — all keyed shuffles on
    * line/doc, nothing quadratic, integer-only threshold compare
    * (df·1000 <= permil·n). Documents whose every line is boilerplate
    * disappear from the output (callers left-join to zero-fill; a
    * unique per-doc line makes it impossible by construction).
    * `sep` is a regex on the Spark side (Spark `split`) — pass a
    * literal separator. Returns (idCol, clean_text, n_kept). */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", maxPermil: Int = 40): DataFrame = {
    require(maxPermil >= 1 && maxPermil <= 1000,
      s"stripBoilerplate: maxPermil in [1,1000] ($maxPermil)")
    val total = df.agg(count(lit(1)).as("__n"))
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), sep)).as(Seq("__pos", "__line")))
    val dfreq = lines.select(col(idCol), col("__line")).distinct()
      .groupBy("__line").agg(count(lit(1)).as("__df"))
    lines.join(dfreq, Seq("__line"))
      .crossJoin(broadcast(total))
      .filter(col("__df") * 1000L <= lit(maxPermil.toLong) * col("__n"))
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          x => x.getField("__line")), sep).as("clean_text"),
        count(lit(1)).as("n_kept"))
  }

  /** Adjacent-token bigrams as "w1 w2" strings, order kept, with
    * multiplicity — the unit of n-gram language modelling. Zip of the
    * token array with its own tail; a 1-token (or empty) document
    * yields an empty array. */
  def bigrams(text: Column): Column = {
    val t = tokens(text)
    val n = greatest(size(t) - 1, lit(0))
    zip_with(slice(t, lit(1), n), slice(t, lit(2), n),
      (a, b) => concat_ws(" ", a, b))
  }

  /** Corpus bigram model: occurrence count per bigram plus the
    * occurrence count of its prefix token AS a prefix (= the row sum of
    * the transition matrix, which makes cnt/prefix_cnt a proper
    * conditional probability that sums to 1 per prefix). ONE generator
    * pass and ONE hash-agg keyed on the bigram; the prefix counts are a
    * second agg over the (already tiny) distinct-bigram table, so the
    * shuffle is bounded by distinct bigrams, never occurrences.
    * Returns (bigram, w1, cnt, prefix_cnt). */
  def bigramModel(df: DataFrame, textCol: String): DataFrame = {
    val bg = df.select(explode(bigrams(col(textCol))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
    val prefix = bg.groupBy("w1")
      .agg(sum("cnt").cast("long").as("prefix_cnt"))
    bg.join(prefix, Seq("w1")).select("bigram", "w1", "cnt", "prefix_cnt")
  }

  /** Per-document LM likelihood proxy — the CCNet-style "how much does
    * this document look like the reference corpus" signal, kept
    * transcendental-free so any engine reproduces it bit-for-bit: each
    * bigram occurrence scores floor(1e6·cnt/prefix_cnt) (exact IEEE ops
    * on exact integers — no log-perplexity, same ordering) and the
    * document aggregates the integer sum plus its mean as one final
    * division. Unseen bigrams score 0 when the model comes from a
    * different corpus (left join). Shape: generator explode, one keyed
    * join against the (broadcastable) model, one id-keyed agg.
    * Returns (idCol, n_bigrams, lm_sum_micro, lm_avg_micro). */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
      model: DataFrame): DataFrame =
    // the bigram generator's split+slice per token dominates; spread
    // the scoring pass when the scan under-parallelizes it
    graft.ops.Spread.forCompute(df, col(idCol))
      .select(col(idCol), explode(bigrams(col(textCol))).as("bigram"))
      .join(model.select(col("bigram"),
        floor(lit(1000000.0) * col("cnt") / col("prefix_cnt"))
          .cast("long").as("__p")), Seq("bigram"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("__p"), lit(0L))).cast("long")
          .as("lm_sum_micro"))
      .withColumn("lm_avg_micro",
        col("lm_sum_micro").cast("double") / col("n_bigrams"))

  /** Hashed unigram+bigram feature stream — the DSIR bag-of-ngrams
    * featurizer: every token and every adjacent pair hashes into one of
    * `buckets` ids. Hashing bounds BOTH model tables at `buckets` rows
    * regardless of vocabulary, the property that lets the ratio model
    * broadcast at any corpus size. */
  def dsirFeatures(text: Column, buckets: Int): Column =
    concat(
      transform(tokens(text), t => tokenHash31(t) % buckets),
      transform(bigrams(text), g => tokenHash31(g) % buckets))

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score each raw-corpus
    * document by the likelihood ratio of its hashed-n-gram bag under a
    * TARGET domain's feature distribution vs the raw corpus's own —
    * weight(x) = Π over x's feature occurrences f of p̂_t(f)/p̂_r(f),
    * add-one smoothing over `buckets` hashed buckets. The paper sums
    * logs; the product IS exp of that sum (identical ranking, exact
    * semantics) and keeps every operation transcendental-free: each
    * term is ONE division of exact integer products
    * ((tcnt+1)·(NR+B)) / ((rcnt+1)·(NT+B)), and the per-document
    * product folds the SORTED term array sequentially, so any IEEE
    * engine reproduces the weight bit-for-bit.
    *
    * Scale shape: both count tables and the ratio model are bounded at
    * `buckets` rows (broadcast — the doc-side join never shuffles the
    * corpus); the only corpus-sized exchange is the final id-keyed
    * fold. Guard the integer products: buckets·corpusOccurrences must
    * stay under 2^53 (raise buckets, not corpus, past that — the
    * products only involve per-bucket counts and the two totals).
    * Returns (idCol, n_feat, weight) for every raw document. */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 256): DataFrame = {
    val B = buckets
    // the raw feature stream feeds the count table AND the scoring
    // join — persist it or the corpus tokenizes twice per execution
    // (at 100 TB that is the difference between one and two full
    // corpus scans). Lifetime is caller-owned (Bench/Verify clearCache)
    // one md5 per token plus one per bigram: the featurizer is the
    // expensive leaf — spread it by compute before persisting, so the
    // cached blocks are also evenly placed
    val rawF = graft.ops.Spread.forCompute(raw, col(idCol))
      .select(col(idCol),
        explode(dsirFeatures(col(textCol), B)).as("f"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tgtCnt = target
      .select(explode(dsirFeatures(col(textCol), B)).as("f"))
      .groupBy("f").agg(count(lit(1)).as("tcnt"))
    val rawCnt = rawF.groupBy("f").agg(count(lit(1)).as("rcnt"))
    val nT = tgtCnt.agg(coalesce(sum("tcnt"), lit(0L)).cast("long").as("nt"))
    val nR = rawCnt.agg(sum("rcnt").cast("long").as("nr"))
    val ratio = rawCnt
      .join(tgtCnt, Seq("f"), "left_outer")
      .crossJoin(broadcast(nT)).crossJoin(broadcast(nR))
      .select(col("f"),
        (((coalesce(col("tcnt"), lit(0L)) + lit(1L)) * (col("nr") + lit(B.toLong)))
          .cast("double") /
          ((col("rcnt") + lit(1L)) * (col("nt") + lit(B.toLong)))
            .cast("double")).as("term"))
    rawF.join(broadcast(ratio), Seq("f"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feat"),
        aggregate(array_sort(collect_list(col("term"))), lit(1.0d),
          (acc, x) => acc * x).as("weight"))
  }

  /** Score documents against a PRE-AGGREGATED raw-corpus feature count
    * table — the serving half of [[dsirWeights]] split out for count
    * tables maintained OUT of band (e.g. a batch-partitioned count
    * store, as `text_dsir_store` serves): same target counts, same add-one
    * ratio, same sorted product fold, so scoring the counts' own corpus
    * reproduces `dsirWeights` bit for bit (spec-pinned). `rawCnt` must
    * be (f, rcnt) over the same `buckets` hash space. A document
    * feature whose bucket is absent from `rawCnt` carries no evidence
    * (dropped by the join — at B=256 an absent bucket means the corpus
    * has literally never hashed there); refresh the count table to
    * incorporate new vocabulary mass. */
  def dsirScoreAgainstCounts(docs: org.apache.spark.sql.DataFrame,
      rawCnt: org.apache.spark.sql.DataFrame,
      target: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, buckets: Int = 256): org.apache.spark.sql.DataFrame = {
    val B = buckets
    val tgtCnt = target
      .select(explode(dsirFeatures(col(textCol), B)).as("f"))
      .groupBy("f").agg(count(lit(1)).as("tcnt"))
    val nT = tgtCnt.agg(coalesce(sum("tcnt"), lit(0L)).cast("long").as("nt"))
    val nR = rawCnt.agg(sum("rcnt").cast("long").as("nr"))
    val ratio = rawCnt
      .join(tgtCnt, Seq("f"), "left_outer")
      .crossJoin(broadcast(nT)).crossJoin(broadcast(nR))
      .select(col("f"),
        (((coalesce(col("tcnt"), lit(0L)) + lit(1L)) * (col("nr") + lit(B.toLong)))
          .cast("double") /
          ((col("rcnt") + lit(1L)) * (col("nt") + lit(B.toLong)))
            .cast("double")).as("term"))
    graft.ops.Spread.forCompute(docs, col(idCol))
      .select(col(idCol),
        explode(dsirFeatures(col(textCol), B)).as("f"))
      .join(broadcast(ratio), Seq("f"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feat"),
        aggregate(array_sort(collect_list(col("term"))), lit(1.0d),
          (acc, x) => acc * x).as("weight"))
  }

  /** Collocation mining without PMI's logarithm: the lift ratio
    * N·c(xy) / (c(x·)·c(·y)) ranks exactly like PMI (log is monotone)
    * but stays a single division of exact integer products, so the
    * DuckDB oracle matches to the bit. c(x·)/c(·y) are the bigram's
    * first/second-position marginals and N the total bigram count —
    * all from ONE bigram table; the marginals and scalar N broadcast.
    * Returns (bigram, cnt, lift_micro) for bigrams with cnt >=
    * minCount, strongest first. */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 5L,
      topK: Int = 20): DataFrame = {
    val bg = df.select(explode(bigrams(col(textCol))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    val left = bg.groupBy("w1").agg(sum("cnt").cast("long").as("cx"))
    val right = bg.groupBy("w2").agg(sum("cnt").cast("long").as("cy"))
    val total = bg.agg(sum("cnt").cast("long").as("n_bg"))
    bg.filter(col("cnt") >= minCount)
      .join(broadcast(left), Seq("w1"))
      .join(broadcast(right), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("bigram"), col("cnt"),
        floor(col("cnt") * col("n_bg") * lit(1000000.0) /
          (col("cx") * col("cy"))).cast("long").as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("bigram"))
      .limit(topK)
  }

  /** Simpson concentration index Σfᵢ²/n² of the document's token
    * distribution — 1/n for all-distinct text, →1 for one token
    * repeated; the repetition-quality signal Gopher-style filters
    * threshold on. Integer sum of squared counts, ONE final division.
    * Doc-local array work, zero shuffles. */
  def simpsonIndex(text: Column): Column = {
    val t = tokens(text)
    val sumSq = aggregate(
      transform(array_distinct(t),
        d => size(filter(t, x => x === d)).cast("long") *
          size(filter(t, x => x === d)).cast("long")),
      lit(0L), (acc, x) => acc + x)
    sumSq.cast("double") / (size(t).cast("long") * size(t).cast("long"))
  }

  /** Burstiness: the most frequent token's share of the document —
    * max fᵢ/n, the cheap "SPAM SPAM SPAM" detector. Same doc-local
    * shape as [[simpsonIndex]]. */
  def burstiness(text: Column): Column = {
    val t = tokens(text)
    array_max(transform(array_distinct(t),
      d => size(filter(t, x => x === d)).cast("long")))
      .cast("double") / size(t)
  }

  /** Index form of [[simpsonIndex]] + [[burstiness]] — same values from
    * an explode + (doc, token)-keyed hash-agg instead of the per-row
    * higher-order lambdas (which are CodegenFallback: an interpreted
    * O(n·distinct) loop per document — measured 4.4 s vs <1 s at sf0.1).
    * This is the shape that survives corpus scale: both aggs are
    * codegen'd, map-side combined, keyed on the document. Documents
    * with zero tokens drop out (no rows to aggregate) — the per-row
    * forms return NULL-ish divisions for those instead. Returns
    * (idCol, n_tokens, simpson, burstiness). */
  def diversityStats(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .groupBy(col(idCol), col("__tok"))
      .agg(count(lit(1)).as("__f"))
      .groupBy(col(idCol))
      .agg(sum("__f").cast("long").as("n_tokens"),
        sum(col("__f") * col("__f")).cast("long").as("__sumsq"),
        max("__f").as("__maxf"))
      .select(col(idCol), col("n_tokens"),
        (col("__sumsq").cast("double") /
          (col("n_tokens") * col("n_tokens"))).as("simpson"),
        (col("__maxf").cast("double") / col("n_tokens")).as("burstiness"))

  /** URL canonicalization — the CCNet/web-crawl keep-first key:
    * lowercase scheme+host, drop `www.`, drop explicit :80/:443 ports,
    * drop the fragment, drop tracking params (`utm_*`, `fbclid`,
    * `gclid`) while keeping real ones, collapse the dangling `?`/`&`
    * that removal leaves, and strip trailing slashes. Every step is a
    * global regexp_replace over RE2-safe patterns (no lookaround), so
    * Java regex and RE2 engines agree byte-for-byte. Pure projection —
    * canonicalizing a 100 TB crawl is a map-only job. */
  def canonicalUrl(url: Column): Column = {
    val prefix = lower(regexp_extract(url, "^[^/?#]*://[^/?#]*", 0))
    val p2 = regexp_replace(
      regexp_replace(prefix, "://www\\.", "://"), ":(?:80|443)$", "")
    val rest = url.substr(
      length(regexp_extract(url, "^[^/?#]*://[^/?#]*", 0)) + lit(1),
      length(url))
    val r2 = regexp_replace(rest, "#.*", "")
    val r3 = regexp_replace(r2,
      "(?:utm_[A-Za-z]+|fbclid|gclid)=[^&#]*&?", "")
    val r4 = regexp_replace(regexp_replace(r3, "\\?&", "?"), "[?&]+$", "")
    concat(p2, regexp_replace(r4, "/+$", ""))
  }

  /** Hashed-linear text scoring — the fasttext-style quality-classifier
    * APPLY step: every token occurrence hashes into one of `dim` weight
    * buckets and the document score is the integer weight sum. The
    * weight table here is a deterministic Knuth-hash formula (so a SQL
    * oracle replays it); a real deployment broadcast-joins a trained
    * (bucket, weight) table into exactly this plan. Shape: explode →
    * map-side partial sum → one doc-keyed hash-agg; no model state on
    * the executors beyond the broadcast. Returns (id, score_fp,
    * accept). */
  def scoreHashedLinear(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, dim: Int = 4096): org.apache.spark.sql.DataFrame = {
    val bucket = tokenHash31(col("tok")) % dim
    df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("tok"))
      .select(col("id"),
        ((bucket * lit(2654435761L)) % 2001L - 1000L).as("w"))
      .groupBy("id")
      .agg(sum("w").as("score_fp"))
      .withColumn("accept", col("score_fp") >= 0L)
  }

  /** Gopher-style LINE-repetition signals (Rae et al. 2021 quality
    * filters, the line-based half — the n-gram half is
    * [[dupNgramStats]]): over a `(idCol, lineCol)` frame (typically
    * [[HtmlExtract.extractLines]] output), per document:
    * `n_lines`, `n_dup_lines` (occurrences that repeat another
    * identical line — occurrences minus distinct), `dup_line_permil`,
    * `total_chars`, `dup_char_permil` (characters inside repeated
    * occurrences). Boilerplate-heavy pages (repeated nav blocks,
    * pagination footers) light up both permils; prose stays near 0.
    *
    * Shape: one (id, line)-keyed hash-agg (map-side combine collapses
    * per-doc repeats), one id-keyed rollup — shuffle bounded by
    * distinct lines, nothing pairwise. All integers; permils integral
    * (⌊1000·x⌋) so an oracle replays bit-for-bit. Docs with zero lines
    * are absent (no rows in, none out). */
  def lineRepetitionStats(lines: org.apache.spark.sql.DataFrame,
      idCol: String, lineCol: String): org.apache.spark.sql.DataFrame =
    lines
      .groupBy(col(idCol), col(lineCol).as("__line"))
      .agg(count(lit(1)).as("__cnt"),
        length(col("__line")).cast("long").as("__chars"))
      .groupBy(col(idCol))
      .agg(
        sum("__cnt").cast("long").as("n_lines"),
        (sum("__cnt") - count(lit(1))).cast("long").as("n_dup_lines"),
        sum(col("__cnt") * col("__chars")).cast("long").as("total_chars"),
        sum((col("__cnt") - 1L) * col("__chars")).cast("long")
          .as("__dup_chars"))
      .select(col(idCol), col("n_lines"), col("n_dup_lines"),
        expr("(n_dup_lines * CAST(1000 AS BIGINT)) div n_lines")
          .as("dup_line_permil"),
        col("total_chars"),
        when(col("total_chars") > 0L,
          expr("(__dup_chars * CAST(1000 AS BIGINT)) div total_chars"))
          .otherwise(lit(0L)).as("dup_char_permil"))

  /** Exact integral division of non-negative Column values via one
    * correctly-rounded double division + floor — the `div` substitute
    * where `expr` has no named columns to refer to. With num ≤ ~2^31
    * and den ≥ 1 both exactly representable: an integer quotient
    * divides exactly, and a fractional one sits ≥ 1/den from the floor
    * boundary — orders of magnitude beyond the division's half-ulp
    * error at per-document magnitudes (quotients ≤ 1000, den ≤ ~1e6).
    * DuckDB `//` on BIGINTs replays it bit-for-bit. */
  private def intDiv(num: Column, den: Column): Column =
    floor(num.cast("double") / den.cast("double")).cast("long")

  /** Marker for [[sentences]] — a control char that cannot occur in
    * corpus text (hostile input containing it only mis-splits; nothing
    * throws). */
  private val SentenceMark = "\u0001"

  /** Regex sentence segmentation in the shared Java-regex/RE2 subset:
    * a terminal-punctuation run (`[.!?]+`, optionally followed by
    * closing quotes/brackets) that precedes whitespace ends a
    * sentence, with the punctuation RETAINED on its sentence (the
    * C4/Gopher terminal-punct filters key on it). Marker insertion via
    * group-ref replacement (`$1` / `\1` spell identical semantics in
    * the Java/RE2 dialects) + split on the marker + trim; empty
    * fragments dropped. Map-only projection, no generator. */
  def sentences(text: Column): Column =
    filter(
      transform(
        split(
          regexp_replace(text,
            "([.!?]+[\"')\\]]*)[ \\t\\r\\n\\f]+",
            "$1" + SentenceMark),
          SentenceMark),
        s => trim(s)),
      s => length(s) > 0)

  /** Per-document sentence statistics over [[sentences]]:
    * `n_sentences`, `n_terminal` (sentences genuinely ending in
    * terminal punctuation — a document's last fragment often does
    * not), integral `terminal_permil`, and `mean_sentence_chars_x100`
    * = ⌊100·Σchars/n⌋ (0 for sentence-free docs). C4's "ends in
    * terminal punctuation" and length gates threshold these in the
    * caller.
    *
    * Shape: explode + one id-keyed agg, NOT a per-column array
    * expression — the higher-order sentence chain is CodegenFallback,
    * so four stat columns sharing a `sentences(text)` Column would
    * re-run the whole split/trim/filter pipeline per column (Catalyst
    * collapses the projections, and codegen CSE cannot rescue a
    * fallback expression; measured 2.9 → 1.0 s at sf0.1). The
    * generator evaluates the chain ONCE; the terminal-punct rlike runs
    * codegen'd on exploded rows. `explode_outer` keeps sentence-free
    * documents (all-zero row). */
  def sentenceStatsDf(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol),
        explode_outer(sentences(col(textCol))).as("__s"))
      .groupBy(col(idCol))
      .agg(
        count(col("__s")).as("n_sentences"),
        sum(when(col("__s").rlike("[.!?][\"')\\]]*$"), 1L)
          .otherwise(0L)).cast("long").as("n_terminal"),
        sum(coalesce(length(col("__s")).cast("long"), lit(0L)))
          .cast("long").as("__chars"))
      .select(col(idCol), col("n_sentences"), col("n_terminal"),
        when(col("n_sentences") > 0L,
          expr("(n_terminal * CAST(1000 AS BIGINT)) div n_sentences"))
          .otherwise(lit(0L)).as("terminal_permil"),
        when(col("n_sentences") > 0L,
          expr("(__chars * CAST(100 AS BIGINT)) div n_sentences"))
          .otherwise(lit(0L)).as("mean_sentence_chars_x100"))

  /** Gopher word-shape quality signals (Rae et al. 2021 §A1.1) as
    * exact integer/permil columns a filter thresholds on: `n_words`;
    * `mean_word_len_x100` = ⌊100·Σchars/words⌋ (the 3 ≤ mean ≤ 10
    * gate); `alpha_word_permil` (words containing at least one letter
    * — the ≥ 80% gate); `symbol_word_permil` (words that ARE
    * hash/ellipsis symbols); `digit_char_permil` (digit share of all
    * characters). One codegen-friendly projection, zero shuffles at
    * any corpus size; thresholds live in the caller so policy changes
    * never touch the scan. */
  def gopherSignals(text: Column): Seq[Column] = {
    val toks = tokens(text)
    val n = size(toks).cast("long")
    val chars = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val alpha = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    val symbols = size(filter(toks,
      t => t.rlike("^(#+|\\.\\.\\.|…)$"))).cast("long")
    val digits = length(regexp_replace(text, "[^0-9]", "")).cast("long")
    val allChars = length(text).cast("long")
    Seq(
      n.as("n_words"),
      when(n > 0L, intDiv(chars * 100L, n)).otherwise(lit(0L))
        .as("mean_word_len_x100"),
      when(n > 0L, intDiv(alpha * 1000L, n)).otherwise(lit(0L))
        .as("alpha_word_permil"),
      when(n > 0L, intDiv(symbols * 1000L, n)).otherwise(lit(0L))
        .as("symbol_word_permil"),
      when(allChars > 0L, intDiv(digits * 1000L, allChars))
        .otherwise(lit(0L)).as("digit_char_permil"))
  }

  /** Within-document line dedup — the REMOVAL action paired with
    * [[lineRepetitionStats]]: repeated lines keep their FIRST
    * occurrence in document order, later copies drop (the standard
    * treatment for pagination/nav blocks that survive extraction).
    * Deterministic under any partitioning: first-occurrence selection
    * is a (id, line)-keyed min-position aggregate (high-cardinality
    * key), reassembly restores order by an in-row `sort_array` on
    * (pos, line) structs — no window over the whole document stream,
    * no per-doc sort task. `sep` is treated as a literal separator
    * (quoted into the split regex). Returns
    * (idCol, textCol, n_lines, n_kept). */
  def dedupDocLines(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, sep: String = "\n")
      : org.apache.spark.sql.DataFrame =
    df.select(col(idCol), posexplode(
        split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pos", "__line")))
      .groupBy(col(idCol), col("__line"))
      .agg(min(col("__pos")).as("__first"), count(lit(1)).as("__occ"))
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            sort_array(collect_list(struct(col("__first"), col("__line")))),
            s => s.getField("__line")),
          sep).as(textCol),
        sum("__occ").cast("long").as("n_lines"),
        count(lit(1)).as("n_kept"))

  /** Encoding-quality signals — the mojibake/corruption screen a crawl
    * pipeline runs before any language or quality model (broken
    * transcodes poison token statistics silently): integral permils of
    * U+FFFD replacement characters (the decoder's own corruption
    * marker), C0 control characters (NUL..US minus tab/newline/CR —
    * binary spill into "text"), and non-ASCII characters (not an error
    * signal — a script profile that contextualizes the other two).
    * Character-class counts via the length-difference of a single
    * codegen'd `regexp_replace` each (`\x{FFFD}` / `[\x00-\x08...]`
    * spell identically in Java regex and RE2); zero shuffles. */
  def encodingSignals(text: Column): Seq[Column] = {
    val allChars = length(text).cast("long")
    def classCount(cls: String): Column =
      (allChars - length(regexp_replace(text, cls, "")).cast("long"))
    val repl = classCount("\\x{FFFD}")
    val ctrl = classCount("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
    val nonAscii = classCount("[^\\x00-\\x7F]")
    Seq(
      allChars.as("n_chars"),
      when(allChars > 0L, intDiv(repl * 1000L, allChars))
        .otherwise(lit(0L)).as("replacement_permil"),
      when(allChars > 0L, intDiv(ctrl * 1000L, allChars))
        .otherwise(lit(0L)).as("control_permil"),
      when(allChars > 0L, intDiv(nonAscii * 1000L, allChars))
        .otherwise(lit(0L)).as("non_ascii_permil"))
  }

  /** Mojibake DETECTION — the classic UTF-8-read-as-Latin-1 damage
    * signature: a 'Â'/'Ã' lead (the Latin-1 reading of a UTF-8 2-byte
    * lead 0xC2/0xC3) immediately followed by a character in the
    * continuation range 0x80-0xBF. Legitimate Latin-1 text almost
    * never pairs these (uppercase-tilde letters followed by
    * unprintable controls); a false positive needs exactly that
    * pairing, documented here as the heuristic's known edge. */
  def looksMojibake(text: Column): Column =
    text.rlike("[\\x{00C2}-\\x{00C3}][\\x{0080}-\\x{00BF}]")

  /** The string's Latin-1 byte reading is structurally VALID UTF-8 —
    * the RFC 3629 grammar as an anchored regex over the char values
    * (only meaningful when every char is < U+0100, which the caller
    * guarantees). Without this gate, a string holding one real
    * C2/C3+continuation pair PLUS an unrelated 0x80-0xFF char whose
    * byte reading is not valid UTF-8 would decode to U+FFFD
    * replacement chars — corruption, not repair (the r11 ADVICE
    * false-positive class). */
  private def latin1ReadsAsUtf8(text: Column): Column =
    text.rlike("^(?:[\\x00-\\x7F]" +
      "|[\\x{00C2}-\\x{00DF}][\\x{0080}-\\x{00BF}]" +
      "|\\x{00E0}[\\x{00A0}-\\x{00BF}][\\x{0080}-\\x{00BF}]" +
      "|[\\x{00E1}-\\x{00EC}][\\x{0080}-\\x{00BF}]{2}" +
      "|\\x{00ED}[\\x{0080}-\\x{009F}][\\x{0080}-\\x{00BF}]" +
      "|[\\x{00EE}-\\x{00EF}][\\x{0080}-\\x{00BF}]{2}" +
      "|\\x{00F0}[\\x{0090}-\\x{00BF}][\\x{0080}-\\x{00BF}]{2}" +
      "|[\\x{00F1}-\\x{00F3}][\\x{0080}-\\x{00BF}]{3}" +
      "|\\x{00F4}[\\x{0080}-\\x{008F}][\\x{0080}-\\x{00BF}]{3})*$")

  /** Mojibake REPAIR — invert the bad transcode by re-reading the
    * string's codepoints as Latin-1 bytes and decoding them as UTF-8
    * (`decode(encode(s, ISO-8859-1), UTF-8)` — both codegen'd).
    * Applied ONLY when [[looksMojibake]] fires AND every character is
    * < U+0100 (a codepoint above 0xFF cannot come from a Latin-1
    * reading, and Latin-1-encoding it would be lossy — mixed-damage
    * strings pass through for a human) AND the ENTIRE Latin-1 reading
    * is valid UTF-8 ([[latin1ReadsAsUtf8]] — so the decode can never
    * manufacture U+FFFD replacement chars on a partially-damaged
    * string). Clean and unrepairable text is untouched by
    * construction; map-only, zero shuffles. */
  def fixMojibake(text: Column): Column =
    when(looksMojibake(text) && !text.rlike("[^\\x00-\\x{00FF}]") &&
        latin1ReadsAsUtf8(text),
      decode(encode(text, "ISO-8859-1"), "UTF-8"))
      .otherwise(text)

  /** C4-style wordlist content gate, ANNOTATION half: per-document
    * blocked-token counts against a CALLER-SUPPLIED wordlist table
    * (first column = word; nothing hardcoded — C4 ships a ~400-entry
    * list, a deployment swaps its own). Matching is WHOLE-TOKEN and
    * case-insensitive: "scan" does not hit "scanner" — the token
    * machinery ([[tokens]]) is the word boundary, same as every other
    * text operator here, so a list word containing whitespace can
    * never match and is dropped up front.
    *
    * Shape at scale: the wordlist is broadcast (bounded model state);
    * the corpus explodes to tokens once, LEFT-SEMI joins the broadcast
    * (hit rows only — the join output is bounded by hit count, not
    * corpus size), and aggregates on the document id (high-cardinality
    * key). Token totals ride map-side as `size(tokens)` — no second
    * corpus pass. Returns every input row: (idCol, tokens, hits,
    * hit_permil) with hits=0 for clean documents; `hit_permil` is the
    * exact integral ⌊1000·hits/tokens⌋ (0 for empty docs). */
  def wordlistHits(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, words: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    require(words.columns.nonEmpty, "wordlistHits: wordlist has no column")
    val wl = words
      .select(lower(trim(col(words.columns.head))).as("__w"))
      .filter(length(col("__w")) > 0 && !col("__w").rlike("\\s"))
      .distinct()
    val base = df.select(col(idCol),
      tokens(lower(col(textCol))).as("__toks"))
    val hits = base
      .select(col(idCol), explode(col("__toks")).as("__tok"))
      .join(broadcast(wl), col("__tok") === col("__w"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("hits"))
    base
      .select(col(idCol), size(col("__toks")).cast("long").as("tokens"))
      .join(hits, Seq(idCol), "left")
      .na.fill(0L, Seq("hits"))
      .withColumn("hit_permil",
        when(col("tokens") > 0L,
          expr("(hits * CAST(1000 AS BIGINT)) div tokens"))
          .otherwise(lit(0L)))
  }

  /** C4-style wordlist content gate, FILTER half: keep documents whose
    * blocked-token rate is at most `maxPermil` (0 = any single hit
    * rejects, C4's own policy). The threshold compare is pure integer
    * (`hits·1000 ≤ maxPermil·tokens`) — no float boundary to disagree
    * across engines. Survivors keep their full input row (left-semi
    * against the annotation — no column bloat). */
  def wordlistFilter(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, words: org.apache.spark.sql.DataFrame,
      maxPermil: Int = 0): org.apache.spark.sql.DataFrame = {
    require(maxPermil >= 0 && maxPermil <= 1000,
      s"wordlistFilter: maxPermil in [0,1000] ($maxPermil)")
    val keep = wordlistHits(df, idCol, textCol, words)
      .filter(col("hits") * 1000L <= lit(maxPermil.toLong) * col("tokens"))
      .select(col(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Hashed, per-document NORMALIZED bag-of-tokens features for the
    * trained classifiers: one row per (id, bucket) with
    * `x_fp = ⌊cnt·10^6 / len⌋` (the token FRACTION at 1e6 fixed
    * point — fastText's mean-bag; raw counts would let high-count
    * shared-vocabulary buckets swamp a sparse discriminative feature)
    * and, when `labelCol` is set, the 0/1 label. Computed once and
    * persisted by the training loop. */
  private def hashedFeatures(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, labelCol: Option[String], dim: Int)
      : org.apache.spark.sql.DataFrame = {
    val y = labelCol.map(c => col(c).cast("int")).getOrElse(lit(0))
      .as("y")
    // tokenize + md5-derived bucket hash per token is the expensive
    // half of gate training — spread it by compute (Spread scaladoc)
    graft.ops.Spread.forCompute(df, col(idCol))
      .select(col(idCol).as("id"), y,
        size(tokens(col(textCol))).cast("long").as("len"),
        explode(tokens(col(textCol))).as("tok"))
      .select(col("id"), col("y"), col("len"),
        (tokenHash31(col("tok")) % dim).as("b"))
      .groupBy("id", "y", "len", "b").agg(count(lit(1)).as("cnt"))
      .select(col("id"), col("y"), col("b"),
        expr("(cnt * CAST(1000000 AS BIGINT)) div len").as("x_fp"))
  }

  /** [[hashedFeatures]] regrouped to ONE ROW PER DOCUMENT:
    * `(id, y, fv: array<struct<b,x_fp>>)`. The array is bounded by
    * `dim` entries (features are already bucket-grouped), so a row is
    * O(dim) however long the document — this is the frame the GD loop
    * scans once per iteration with NO per-iteration shuffle of the
    * token-level frame (margins and gradients both come straight off
    * the local array; sums are exact longs, so `collect_list` order
    * never matters). */
  private def groupedFeatures(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, labelCol: Option[String], dim: Int)
      : org.apache.spark.sql.DataFrame =
    hashedFeatures(df, idCol, textCol, labelCol, dim)
      .groupBy("id", "y")
      .agg(collect_list(struct(col("b"), col("x_fp"))).as("fv"))

  /** Public handle on the per-doc feature frame
    * `(id, y, fv: array<struct<b,x_fp>>)` so a pipeline that BOTH
    * trains on and scores the same corpus (the usual gate-training
    * shape: train on a split, score everything) builds the expensive
    * tokenize+hash pass ONCE, persists it, and feeds the slices to
    * [[logisticTrainOn]] / [[logisticScoreOn]]. */
  def logisticFeatures(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, labelCol: Option[String],
      dim: Int): org.apache.spark.sql.DataFrame = {
    require(dim > 0, s"logisticFeatures: dim=$dim")
    groupedFeatures(df, idCol, textCol, labelCol, dim)
  }

  /** 1e12-fixed-point margin Σ w·x over a per-doc feature array,
    * with the dim-bounded weight vector inlined as a LITERAL array
    * (codegen'd `aggregate`, map-only — no join, no shuffle). */
  private def marginFp(fv: Column, w: IndexedSeq[Long]): Column =
    aggregate(fv, lit(0L), (acc, e) =>
      acc + element_at(typedLit(w), e.getField("b").cast("int") + 1) *
        e.getField("x_fp"))

  /** Distributed logistic-regression TRAINING over hashed token
    * features — the quality-gate training loop (fastText-style bag of
    * hashed features; C4/CCNet train exactly such binary gates on weak
    * labels). Full-batch gradient descent:
    *
    *  - weights live on the driver as the bounded model state (`dim`
    *    entries — the same collect() carve-out as k-means centroids
    *    and the BPE merge table) and are inlined each iteration as a
    *    LITERAL array into a codegen'd `aggregate` over the per-doc
    *    feature array — no weight join, no id-keyed shuffle;
    *  - each iteration is ONE map-only scan of the per-doc feature
    *    frame (a [[logisticFeatures]] frame, ideally persisted — extra
    *    columns pass through untouched, so a split flag can ride along
    *    and the caller can train on `feats.filter(...)` without
    *    rebuilding features): margin and per-bucket
    *    gradient contributions come straight off the local array, the
    *    only shuffle is the bucket-keyed gradient agg (≤ `dim` rows
    *    per map task after partial aggregation), then a `dim`-row
    *    collect — 2 jobs/iteration instead of the 5 a
    *    join+margin-shuffle+re-join formulation costs;
    *  - **determinism under any partitioning**: each document's
    *    gradient contribution is quantized to an integer BEFORE the
    *    sum, and integer addition is order-independent — so the
    *    trained weights are bit-identical however Spark shapes the
    *    plan (a raw double SUM would not be).
    *
    * Returns the weight table (b, w_fp) at 1e6 fixed point. Learning
    * rate is `lrPermil`/1000 per mean-gradient step. */
  def logisticTrainOn(feats: org.apache.spark.sql.DataFrame,
      dim: Int, iters: Int, lrPermil: Int)
      : org.apache.spark.sql.DataFrame = {
    require(dim > 0 && iters >= 1 && lrPermil > 0,
      s"logisticTrain: dim=$dim iters=$iters lrPermil=$lrPermil")
    val spark = feats.sparkSession
    val docs = feats
    val nDocs = docs.count()
    require(nDocs > 0, "logisticTrain: empty corpus")
    var w: IndexedSeq[Long] = IndexedSeq.fill(dim)(0L)
    for (_ <- 0 until iters) {
      // margin = Σ w·x with both at 1e6 fixed point -> /1e12;
      // p = sigmoid(m); per-doc error quantized to 1e6 fixed point
      // BEFORE the bucket sum (order-independence); x_fp is already
      // 1e6-scaled, so (p-y)·x_fp IS the 1e6-scaled gradient
      val grads = docs
        .withColumn("p", lit(1.0d) /
          (lit(1.0d) + exp(-(marginFp(col("fv"), w) / 1.0e12d))))
        .select(col("p"), col("y"), explode(col("fv")).as("e"))
        .select(col("e.b").as("b"),
          floor((col("p") - col("y")) * col("e.x_fp")).cast("long")
            .as("g"))
        .groupBy("b").agg(sum("g").as("gsum"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      w = IndexedSeq.tabulate(dim) { b =>
        w(b) - lrPermil.toLong * grads.getOrElse(b.toLong, 0L) /
          (1000L * nDocs)
      }
    }
    spark.createDataFrame(
        (0 until dim).map(b => (b.toLong, w(b))))
      .toDF("b", "w_fp")
  }

  /** APPLY step: margin, probability, and accept flag per document
    * against a [[logisticTrainOn]] weight table (collected to a literal
    * array — the model is dim-bounded driver state, the same carve-out
    * as the training loop itself). Documents with no tokens carry
    * margin 0 (p = 0.5). Returns (idCol, margin_fp, prob, accept). */
  def logisticScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, model: org.apache.spark.sql.DataFrame,
      dim: Int = 1024): org.apache.spark.sql.DataFrame = {
    val margins = logisticScoreOn(
        groupedFeatures(df, idCol, textCol, None, dim), model, dim)
      .select(col("id"), col("margin_fp"))
    df.select(col(idCol)).distinct()
      .join(margins.withColumnRenamed("id", idCol), Seq(idCol), "left_outer")
      .na.fill(0L, Seq("margin_fp"))
      .withColumn("prob", lit(1.0d) /
        (lit(1.0d) + exp(-col("margin_fp") / 1000000.0d)))
      .withColumn("accept", col("margin_fp") >= 0L)
  }

  /** MAP-ONLY scoring over a pre-built [[logisticFeatures]] frame:
    * every input column passes through (so a split flag or label rides
    * along) plus `margin_fp`, `prob`, `accept`; `fv` is consumed. The
    * weight table is collected to a literal array (dim-bounded model
    * state) and the margin is an exact long-sum `aggregate` — no join,
    * no shuffle, bit-identical to a broadcast-join-then-SUM plan. */
  def logisticScoreOn(feats: org.apache.spark.sql.DataFrame,
      model: org.apache.spark.sql.DataFrame, dim: Int)
      : org.apache.spark.sql.DataFrame = {
    require(dim > 0, s"logisticScoreOn: dim=$dim")
    val wArr = Array.fill(dim)(0L)
    model.select(col("b").cast("long"), col("w_fp").cast("long"))
      .collect().foreach { r =>
        val b = r.getLong(0)
        if (b >= 0 && b < dim) wArr(b.toInt) = r.getLong(1)
      }
    feats
      // w and x both 1e6 fixed point: div 1e6 back to a 1e6-scaled
      // margin (integral — replayable, no float sum)
      .withColumn("__m_fp", marginFp(col("fv"), wArr.toIndexedSeq))
      .withColumn("margin_fp",
        expr("__m_fp div CAST(1000000 AS BIGINT)"))
      .drop("__m_fp", "fv")
      .withColumn("prob", lit(1.0d) /
        (lit(1.0d) + exp(-col("margin_fp") / 1000000.0d)))
      .withColumn("accept", col("margin_fp") >= 0L)
  }

  /** Deflate compression ratio — the entropy-proxy quality signal
    * (Gopher and CCNet both gate on it: template/boilerplate text
    * compresses far below natural prose, near-random noise barely
    * compresses at all). Emits per document
    * `(idCol, raw_bytes, deflate_bytes, ratio_permil)` with
    * `ratio_permil = deflate_bytes·1000 div raw_bytes` (integer; empty
    * text → 1000). Raw-deflate (nowrap) at the given level, so the
    * ratio carries no zlib header constant.
    *
    * Shape: `mapPartitions` (zlib is not SQL-expressible — the same
    * carve-out as the binary media parsers), ONE native `Deflater` per
    * partition reused across rows and released when the partition
    * iterator is exhausted; map-only, no shuffle, no driver state. */
  def compressionSignals(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, level: Int = 6)
      : org.apache.spark.sql.DataFrame = {
    require(level >= 1 && level <= 9,
      s"compressionSignals: level in [1,9] ($level)")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(level, true)
        val buf = new Array[Byte](8192)
        new Iterator[(Long, Long, Long, Long)] {
          private var closed = false
          def hasNext: Boolean = {
            val h = it.hasNext
            if (!h && !closed) { deflater.end(); closed = true }
            h
          }
          def next(): (Long, Long, Long, Long) = {
            val (id, text) = it.next()
            val raw = if (text == null) Array.emptyByteArray
              else text.getBytes("UTF-8")
            deflater.reset()
            deflater.setInput(raw)
            deflater.finish()
            var n = 0L
            while (!deflater.finished()) n += deflater.deflate(buf)
            val permil = if (raw.length > 0) n * 1000L / raw.length
              else 1000L
            (id, raw.length.toLong, n, permil)
          }
        }
      }
      .toDF(idCol, "raw_bytes", "deflate_bytes", "ratio_permil")
  }
}
