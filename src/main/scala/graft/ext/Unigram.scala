package graft.ext

import graft.ops.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** UNIGRAM-LM tokenizer training (the SentencePiece family, Kudo 2018)
  * — the second production tokenizer next to BPE, re-expressed with
  * the same scale carve-outs as [[Bpe.trainLocal]]:
  *
  *  - the corpus is touched ONCE, by the word-frequency aggregation;
  *    every training step after that runs on the Heaps-bounded
  *    VOCABULARY table collected to the driver (the k-means/GD
  *    bounded-model-state carve-out, byte-guarded before collect);
  *  - training is VITERBI EM (SentencePiece's hard-EM flavor): seed a
  *    candidate vocabulary from substring frequencies, then per round
  *    re-segment every vocabulary word under the current piece scores
  *    and re-estimate scores from the segmentation counts;
  *  - ENCODING is one map-only `mapPartitions` pass with the piece
  *    table riding a broadcast — per word a Viterbi lattice walk,
  *    cost O(len * maxPieceLen), independent of vocabulary size.
  *
  * EXACT-ARITHMETIC OBJECTIVE. The textbook unigram objective
  * maximizes sum(log p(piece)) — float log-probabilities whose last
  * ulps differ across engines, which a hash-compared SQL oracle
  * cannot tolerate. This implementation uses the integer
  * lexicographic objective (FEWEST pieces, then LARGEST total piece
  * count, ties to the LONGEST last piece), encoded as one bigint per
  * lattice node: `v = sum(cnt(piece)) - n * 2^40`, maximized — the
  * same float-to-integer carve-out every trainer in this repo makes
  * (GD's integer gradients, the derived-sample permil rules), chosen
  * so a DuckDB oracle replays training bit for bit. The EM fixed
  * point keeps the unigram character: frequent substrings win piece
  * status, rare ones decay to characters.
  *
  * Every position step of the Viterbi DP and every EM round is
  * CTE-unrollable (MATERIALIZED stages — each stage is referenced by
  * the next AND by the argmax; see `UnigramQueries`), which is why
  * the DP carries an explicit `maxWordLen`: words longer than the
  * unrolled budget are EXCLUDED from training and encoding
  * (SentencePiece's `max_sentencepiece_length` analogue — a 16+ char
  * "word" in a whitespace corpus is markup, not language).
  *
  * All lengths and offsets are CODE POINTS (DuckDB's character
  * semantics), never UTF-16 units; piece ordering is code-point
  * lexicographic ([[Bpe.cmpCodePoints]]) — binary collation in both
  * engines.
  */
object Unigram {

  /** One vocabulary piece and its current (integer) score — the
    * segmentation count from the last EM round, seed occurrence count
    * before the first. */
  final case class Piece(piece: String, freq: Long)

  /** The per-piece penalty that makes fewest-pieces the primary
    * objective: larger than any achievable count sum (counts are
    * bounded by corpus positions, far under 2^40). */
  val Big: Long = 1L << 40

  /** Tie-break multiplier: the DP argmax key is `v * 32 + l` (l <=
    * maxPieceLen <= 8 < 32), so equal-value candidates resolve to the
    * longest piece — in one bigint, exactly replayable in SQL. */
  private val TieMul = 32L

  /** Viterbi segmentation of one word (as code-point symbols) under
    * a piece->count table. Single-char pieces are ALWAYS available
    * (count 0 if unscored — total coverage, SentencePiece's
    * character fallback); multi-char pieces only if present. Returns
    * the argmax segmentation under the integer objective. */
  private[ext] def viterbiLocal(word: String,
      scores: collection.Map[String, Long], maxPieceLen: Int)
      : Seq[String] = {
    // defensive: with maxPieceLen < 1 the candidate loop never runs,
    // back(j) stays 0 and the backtrack would spin forever
    require(maxPieceLen >= 1,
      s"Unigram.viterbiLocal: maxPieceLen >= 1 ($maxPieceLen)")
    val cps = Bpe.splitCodePoints(word)
    val n = cps.length
    if (n == 0) return Nil
    val v = new Array[Long](n + 1)
    val back = new Array[Int](n + 1)
    var j = 1
    while (j <= n) {
      var bestKey = Long.MinValue
      var bestL = 0
      var bestV = 0L
      var l = 1
      val lMax = math.min(maxPieceLen, j)
      while (l <= lMax) {
        val piece = cps.slice(j - l, j).mkString
        val cntOpt =
          if (l == 1) Some(scores.getOrElse(piece, 0L))
          else scores.get(piece)
        cntOpt match {
          case Some(cnt) =>
            val cand = v(j - l) + cnt - Big
            // same composite the SQL argmax orders by; the -Big term
            // is common to all candidates at this step, so the key
            // drops it exactly like the oracle's
            val key = (v(j - l) + cnt) * TieMul + l
            if (key > bestKey) { bestKey = key; bestL = l; bestV = cand }
          case None => ()
        }
        l += 1
      }
      v(j) = bestV
      back(j) = bestL
      j += 1
    }
    val out = mutable.ArrayBuffer[String]()
    var p = n
    while (p > 0) {
      val l = back(p)
      out += cps.slice(p - l, p).mkString
      p -= l
    }
    out.reverse.toSeq
  }

  /** Train a unigram vocabulary from a `(word, freq)` table with the
    * classic driver-local loop (the corpus was already reduced to the
    * Heaps-bounded vocabulary by the one word-count shuffle).
    *
    * Steps, each exactly SQL-replayable:
    *  1. words longer than `maxWordLen` code points are excluded
    *     (the unroll-budget contract, documented above);
    *  2. SEED: every substring of 1..maxPieceLen code points,
    *     occurrence-counted per position and weighted by word freq;
    *     the candidate table is all single chars (the ALPHABET —
    *     never pruned, coverage) plus the top `seedSize` multi-char
    *     substrings by (count desc, piece code-point asc);
    *  3. EM x `emRounds`: Viterbi-segment every word under current
    *     scores; new scores are the freq-weighted piece counts;
    *     multi-char pieces with count 0 drop out, alphabet chars stay
    *     (count 0 allowed).
    * Returns the final table sorted (freq desc, piece) — the order
    * the graded query emits. */
  def trainLocal(words: DataFrame, maxPieceLen: Int = 4,
      seedSize: Int = 48, emRounds: Int = 2, maxWordLen: Int = 16,
      maxVocabRows: Int = 20000000,
      maxVocabBytes: Long = 4L << 30): Seq[Piece] = {
    require(maxPieceLen >= 2 && maxPieceLen <= 8,
      s"Unigram.trainLocal: maxPieceLen in [2,8] ($maxPieceLen) — the " +
        "tie-break key packs it under one multiplier of 32")
    require(seedSize >= 1 && emRounds >= 1 && maxWordLen >= 1,
      "Unigram.trainLocal: seedSize, emRounds, maxWordLen >= 1")
    // materialize once (vocab-scale rows, corpus-scale lineage): the
    // guard aggregate AND the collect below both consume it — same
    // discipline as Bpe.trainLocal
    val eligible = Materialize(words
      .filter(length(col("word")) > 0 &&
        length(col("word")) <= maxWordLen),
      eager = true)
    // the same pre-collect driver guard as Bpe.trainLocal: bound the
    // estimated footprint in the unit the driver OOMs in
    val st = eligible
      .agg(count(lit(1)), sum(length(col("word"))),
        sum(col("freq").cast("long") * length(col("word")))).head()
    val nRows = st.getLong(0)
    val nChars = if (st.isNullAt(1)) 0L else st.getLong(1)
    // the integer objective v = Σcnt − n·2^40 is fewest-pieces-first
    // ONLY while every achievable per-word count sum stays under Big:
    // any piece count is ≤ Σ freq·len (every counted occurrence is a
    // position of some word), and a word sums ≤ maxWordLen piece
    // counts — so Σ freq·len · maxWordLen < Big is the invariant. A
    // freq table hot enough to breach it would silently invert the
    // objective (3 huge-count pieces beating 2); refuse and name the
    // remedy — counts are RELATIVE, so uniformly down-scaling freq
    // preserves training up to ties.
    val wSum = if (st.isNullAt(2)) 0L else st.getLong(2)
    require(wSum <= Big / (maxWordLen + 1),
      s"Unigram.trainLocal: sum(freq*len)=$wSum over the eligible " +
        s"vocabulary breaches the integer-objective bound " +
        s"(${Big / (maxWordLen + 1)}): per-word count sums could " +
        "reach the 2^40 per-piece penalty and silently invert " +
        "fewest-pieces-first — uniformly down-scale the frequency " +
        "table (counts are relative) and retrain")
    require(nRows <= maxVocabRows,
      s"Unigram.trainLocal: vocabulary has $nRows rows, exceeds " +
        s"maxVocabRows=$maxVocabRows — pre-filter rare words upstream " +
        "or raise the cap with matching driver memory")
    val estBytes = nRows * 150L + nChars * 200L
    require(estBytes <= maxVocabBytes,
      s"Unigram.trainLocal: estimated driver footprint $estBytes B " +
        s"($nRows words, $nChars chars; substring table included) " +
        s"exceeds maxVocabBytes=$maxVocabBytes")
    val rows = eligible
      .select(col("word").cast("string"), col("freq").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    Materialize.release(eligible)
    // 2. seed: per-position substring occurrence counts
    val sub = mutable.HashMap[String, Long]()
    rows.foreach { case (w, f) =>
      val cps = Bpe.splitCodePoints(w)
      var l = 1
      while (l <= math.min(maxPieceLen, cps.length)) {
        var i = 0
        while (i + l <= cps.length) {
          val p = cps.slice(i, i + l).mkString
          sub(p) = sub.getOrElse(p, 0L) + f
          i += 1
        }
        l += 1
      }
    }
    def cpLen(s: String): Int = s.codePointCount(0, s.length)
    val alpha = sub.iterator.filter(e => cpLen(e._1) == 1).toArray
      .sortWith((a, b) => Bpe.cmpCodePoints(a._1, b._1) < 0)
    val alphaPieces = alpha.map(_._1)
    val topn = sub.iterator.filter(e => cpLen(e._1) >= 2).toArray
      .sortWith { (a, b) =>
        if (a._2 != b._2) a._2 > b._2
        else Bpe.cmpCodePoints(a._1, b._1) < 0
      }
      .take(seedSize)
    var scores: Map[String, Long] = (alpha ++ topn).toMap
    // 3. Viterbi-EM rounds
    var r = 0
    while (r < emRounds) {
      val counts = mutable.HashMap[String, Long]()
      rows.foreach { case (w, f) =>
        viterbiLocal(w, scores, maxPieceLen).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + f
        }
      }
      scores = alphaPieces.map(p => p -> counts.getOrElse(p, 0L)).toMap ++
        counts.iterator.filter(e => cpLen(e._1) >= 2).toMap
      r += 1
    }
    scores.toSeq
      .sortWith { (a, b) =>
        if (a._2 != b._2) a._2 > b._2
        else Bpe.cmpCodePoints(a._1, b._1) < 0
      }
      .map { case (p, c) => Piece(p, c) }
  }

  // ------------------------------------------------------------------
  // UNIGRAM ARTIFACT STORE — the [[Bpe.saveTokenizer]] twin for the
  // second tokenizer family: a trained piece table is what an encode
  // fleet loads, so it gets the same graded persist/validate/reload
  // round-trip. Layout: `pieces` (piece, freq) + `meta` (format
  // version, maxPieceLen, maxWordLen, piece count). Explicit-schema
  // loads; validation refuses future versions, count mismatches
  // (truncation) and duplicate pieces (a map built from them would
  // silently keep one score).
  // ------------------------------------------------------------------

  /** A reloaded unigram tokenizer: the piece table plus the encoder
    * geometry it was trained under. */
  final case class UnigramArtifact(pieces: Seq[Piece],
      maxPieceLen: Int, maxWordLen: Int)

  /** Artifact format version — bumped on any layout change. */
  val ArtifactVersion: Int = 1

  private val PiecesSchema = "piece STRING, freq LONG"
  private val MetaSchema =
    "version INT, max_piece_len INT, max_word_len INT, n_pieces INT"

  /** Persist a trained piece table (overwrite swap, one file per
    * table — the pieces are bounded driver state). */
  def savePieces(spark: org.apache.spark.sql.SparkSession, dir: String,
      pieces: Seq[Piece], maxPieceLen: Int, maxWordLen: Int): Unit = {
    require(pieces.nonEmpty, "Unigram.savePieces: empty piece table")
    require(pieces.map(_.piece).distinct.size == pieces.size,
      "Unigram.savePieces: duplicate pieces")
    import spark.implicits._
    pieces.map(p => (p.piece, p.freq)).toDF("piece", "freq").coalesce(1)
      .write.mode("overwrite").parquet(dir + "/pieces")
    Seq((ArtifactVersion, maxPieceLen, maxWordLen, pieces.size))
      .toDF("version", "max_piece_len", "max_word_len", "n_pieces")
      .coalesce(1).write.mode("overwrite").parquet(dir + "/meta")
  }

  /** Reload a persisted piece table, validating version, count and
    * piece uniqueness. The returned pieces are re-sorted into the
    * canonical (freq desc, code-point piece) order — scores are a
    * set, so the order carries no semantics, but every consumer then
    * sees one deterministic table. */
  def loadPieces(spark: org.apache.spark.sql.SparkSession, dir: String)
      : UnigramArtifact = {
    val metaRows =
      spark.read.schema(MetaSchema).parquet(dir + "/meta").collect()
    require(metaRows.length == 1,
      s"Unigram.loadPieces: expected one meta row at $dir/meta, " +
        s"found ${metaRows.length}")
    val meta = metaRows(0)
    require(!meta.isNullAt(0) && meta.getInt(0) == ArtifactVersion,
      s"Unigram.loadPieces: artifact at $dir has format version " +
        s"${if (meta.isNullAt(0)) "null" else meta.getInt(0)}, this " +
        s"build reads version $ArtifactVersion")
    // geometry validation: Row.getInt on a NULL cell silently yields
    // 0, and maxPieceLen=0 would make the encode lattice spin forever
    // on executors while maxWordLen=0 would silently filter every
    // word — refuse both loudly, matching the trainLocal bounds
    require(!meta.isNullAt(1) && meta.getInt(1) >= 1 &&
        meta.getInt(1) <= 8,
      s"Unigram.loadPieces: artifact at $dir records max_piece_len " +
        s"${if (meta.isNullAt(1)) "null" else meta.getInt(1)}, " +
        "expected 1..8 — a zero/absent lattice bound would hang or " +
        "mis-encode; re-export the artifact")
    require(!meta.isNullAt(2) && meta.getInt(2) >= 1,
      s"Unigram.loadPieces: artifact at $dir records max_word_len " +
        s"${if (meta.isNullAt(2)) "null" else meta.getInt(2)}, " +
        "expected >= 1 — a zero/absent word budget silently encodes " +
        "every document to nothing; re-export the artifact")
    val ps = spark.read.schema(PiecesSchema).parquet(dir + "/pieces")
      .collect()
      .map(r => Piece(r.getString(0), r.getLong(1)))
    require(ps.length == meta.getInt(3),
      s"Unigram.loadPieces: pieces table at $dir has ${ps.length} " +
        s"rows, meta says ${meta.getInt(3)} — truncated or mixed store")
    require(ps.map(_.piece).distinct.length == ps.length,
      s"Unigram.loadPieces: duplicate pieces at $dir — a score map " +
        "built from them would silently keep one of the scores")
    val sorted = ps.sortWith { (a, b) =>
      if (a.freq != b.freq) a.freq > b.freq
      else Bpe.cmpCodePoints(a.piece, b.piece) < 0
    }.toSeq
    UnigramArtifact(sorted, meta.getInt(1), meta.getInt(2))
  }

  /** Encode under a RELOADED artifact — the geometry (piece-length
    * ceiling, word-length budget) travels with the pieces, so an
    * encode fleet cannot combine a table with the wrong lattice
    * bounds. Token-identical to the in-memory path (spec-pinned). */
  def encodeWithArtifact(df: DataFrame, idCol: String, textCol: String,
      art: UnigramArtifact): DataFrame =
    encodeScalable(df, idCol, textCol, art.pieces, art.maxPieceLen,
      art.maxWordLen)

  /** Per-document LM-style scoring under a trained piece table — the
    * quality signal a unigram tokenizer gives for free: documents
    * whose Viterbi segmentation leans on HIGH-count pieces look like
    * the training distribution; documents full of zero-count
    * single-char fallbacks (OOV mass) do not. Integer outputs only
    * (total piece-count sum and the fallback-piece count — the exact
    * integer sufficient statistics of the log-likelihood under the
    * standing float carve-out), so the grade is hash-strict. One
    * map-only pass with [[encodeScalable]]'s length budget but a
    * DIFFERENT null contract: a null text scores as an EMPTY document
    * (0, 0, 0) — integer statistics have no null slot, and the graded
    * oracle coalesces the same way; a consumer that must distinguish
    * null docs (quarantine candidates) from genuinely empty ones
    * gates on `textCol IS NULL` upstream, not on this score.
    * Per document: `n_pieces`, `total_score` = Σ score(piece),
    * `oov_pieces` = pieces scored 0. */
  def scoreScalable(df: DataFrame, idCol: String, textCol: String,
      pieces: Seq[Piece], maxPieceLen: Int = 4, maxWordLen: Int = 16)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      pieces.map(p => p.piece -> p.freq).toMap)
    val mpl = maxPieceLen
    val mwl = maxWordLen
    // lattice scoring per word type: compute-bound, spread accordingly
    graft.ops.Spread.forCompute(df, col(idCol))
      .select(col(idCol).cast("long"),
        filter(TextAnalysis.tokens(col(textCol)),
          w => length(w) > 0 && length(w) <= mwl))
      .as[(Option[Long], Seq[String])]
      .mapPartitions { it =>
        val scores = bc.value
        // memoize per word TYPE: (pieces, score-sum, oov-count)
        val memo = new java.util.HashMap[String, (Long, Long, Long)]()
        var chars = 0L
        val sc = (w: String) => {
          val hit = memo.get(w)
          if (hit != null) hit
          else {
            val seg = viterbiLocal(w, scores, mpl)
            var sum = 0L; var oov = 0L
            seg.foreach { p =>
              val c = scores.getOrElse(p, 0L)
              sum += c
              if (c == 0L) oov += 1L
            }
            val v = (seg.size.toLong, sum, oov)
            if (memo.size < 65536 && chars + w.length <= (1L << 24)) {
              memo.put(w, v); chars += w.length
            }
            v
          }
        }
        it.map { case (id, words) =>
          if (words == null) (id, 0L, 0L, 0L)
          else {
            var np = 0L; var ts = 0L; var ov = 0L
            words.foreach { w =>
              val (a, b, c) = sc(w); np += a; ts += b; ov += c
            }
            (id, np, ts, ov)
          }
        }
      }
      .toDF(idCol, "n_pieces", "total_score", "oov_pieces")
  }

  /** Per-document unigram tokenization at corpus scale: one map-only
    * `mapPartitions` pass, the piece table riding a broadcast hash
    * map, a per-partition word memo (natural text is Zipfian — same
    * bounds as the BPE encoder cache). Null text yields null tokens,
    * a null id rides through; words longer than `maxWordLen` code
    * points are EXCLUDED (the training contract — encode and train
    * must agree on the surface). Unscored characters fall back to
    * single-char pieces (count 0), so encoding is total on any text
    * within the length budget. */
  def encodeScalable(df: DataFrame, idCol: String, textCol: String,
      pieces: Seq[Piece], maxPieceLen: Int = 4, maxWordLen: Int = 16)
      : DataFrame = {
    val mwl = maxWordLen
    encodeWords(df, idCol,
      filter(TextAnalysis.tokens(col(textCol)),
        w => length(w) > 0 && length(w) <= mwl),
      pieces, maxPieceLen)
  }

  /** The shared lattice-encode kernel: one map-only `mapPartitions`
    * pass over a prepared (id, words) surface — broadcast score map,
    * bounded per-partition word memo (the [[Bpe]] encoder-cache
    * bounds), [[viterbiLocal]] per distinct word type. Both encode
    * surfaces ([[encodeScalable]], [[encodeMarked]]) delegate here so
    * the cache accounting and lattice dispatch exist ONCE. */
  private def encodeWords(df: DataFrame, idCol: String,
      words: org.apache.spark.sql.Column, pieces: Seq[Piece],
      maxPieceLen: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      pieces.map(p => p.piece -> p.freq).toMap)
    val mpl = maxPieceLen
    // the Viterbi lattice walk is compute-bound per word type — spread
    // by compute, not by upstream byte-sized splits (Spread scaladoc)
    graft.ops.Spread.forCompute(df, col(idCol))
      .select(col(idCol).cast("long"), words)
      .as[(Option[Long], Seq[String])]
      .mapPartitions { it =>
        val scores = bc.value
        val memo = new java.util.HashMap[String, Seq[String]]()
        var chars = 0L
        val enc = (w: String) => {
          val hit = memo.get(w)
          if (hit != null) hit
          else {
            val v = viterbiLocal(w, scores, mpl)
            if (memo.size < 65536 && chars + w.length <= (1L << 24)) {
              memo.put(w, v); chars += w.length
            }
            v
          }
        }
        it.map { case (id, ws) =>
          (id, if (ws == null) null else ws.flatMap(enc))
        }
      }
      .toDF(idCol, "tokens")
  }

  // ------------------------------------------------------------------
  // SENTENCEPIECE WORD-BOUNDARY CONVENTION (the ▁ meta-symbol, Kudo &
  // Richardson 2018): every word is prefixed with U+2581 before the
  // lattice, so the piece inventory carries word-start information
  // and a token stream DECODES back to text without external word
  // boundaries — concat pieces, turn ▁ into a space, trim. This is
  // what makes the unigram family round-trip-gradable like the BPE
  // byte alphabet and the WordPiece ## algebra.
  //
  // MARKER COLLISION (same carve-out as WordPiece's #): words that
  // CONTAIN a literal ▁ are excluded from the marked surface on both
  // engines — a content ▁ would decode into a phantom space.
  // ------------------------------------------------------------------

  /** The SentencePiece word-boundary meta symbol (U+2581). */
  val Meta: String = "▁"

  /** The marked-surface word contract, ONE definition for every
    * Spark-side consumer (train filter, encode filter, the roundtrip
    * grade's normalization): non-empty, at most `maxWordLen - 1` code
    * points (the marked word must still fit the lattice), no content
    * ▁ (it would decode into a phantom space). The SQL twin is
    * `UnigramQueries.sqlMarkedPred`. */
  def includedMarked(w: org.apache.spark.sql.Column, maxWordLen: Int)
      : org.apache.spark.sql.Column =
    length(w) > 0 && length(w) <= maxWordLen - 1 && !w.contains(Meta)

  /** Mark a `(word, freq)` table for boundary-aware training: drop
    * words outside [[includedMarked]], then prefix ▁ — feed the
    * result to [[trainLocal]] unchanged. */
  def markWords(words: DataFrame, maxWordLen: Int = 16): DataFrame =
    words
      .filter(includedMarked(col("word"), maxWordLen))
      .select(concat(lit(Meta), col("word")).as("word"), col("freq"))

  /** [[encodeScalable]] under the ▁ convention: the word surface is
    * filtered exactly like [[markWords]] (non-empty, at most
    * `maxWordLen - 1` code points, no content ▁) and each word is
    * ▁-prefixed before its lattice walk. */
  def encodeMarked(df: DataFrame, idCol: String, textCol: String,
      pieces: Seq[Piece], maxPieceLen: Int = 4, maxWordLen: Int = 16)
      : DataFrame = {
    val mwl = maxWordLen
    encodeWords(df, idCol,
      transform(
        filter(TextAnalysis.tokens(col(textCol)),
          w => includedMarked(w, mwl)),
        w => concat(lit(Meta), w)),
      pieces, maxPieceLen)
  }

  /** DECODE a ▁-convention token stream back to text: concatenate,
    * turn every ▁ into a space, trim the leading one — the exact
    * inverse of [[encodeMarked]] on its included-word surface
    * (graded: `text_unigram_roundtrip`). Pure codegen'd string
    * expressions — map-only. */
  def decodePieces(tokens: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    ltrim(translate(concat_ws("", tokens), Meta, " "))
}
