package graft.ext

import graft.ops.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** WORDPIECE tokenizer training and encoding (Schuster & Nakajima
  * 2012; the BERT tokenizer) — the THIRD production tokenizer family
  * next to BPE and unigram-LM, re-expressed with the same scale
  * carve-outs as [[Bpe.trainLocal]] / [[Unigram.trainLocal]]:
  *
  *  - the corpus is touched ONCE, by the word-frequency aggregation;
  *    training runs on the Heaps-bounded VOCABULARY table collected
  *    to the driver (the bounded-model-state carve-out, byte-guarded
  *    before collect);
  *  - training is BPE-shaped (greedy pair merges over word-symbol
  *    sequences) but the merge SELECTION maximizes the LIKELIHOOD
  *    score `count(ab) / (count(a) * count(b))` over the current
  *    segmentation — frequent pairs of RARE symbols win, the
  *    defining WordPiece difference from BPE's raw pair count;
  *  - non-initial symbols carry the `##` continuation marker, and a
  *    merged token is `left + strip##(right)` (the marker travels
  *    with word position, not with the fusion);
  *  - ENCODING is greedy LONGEST-MATCH-FIRST against the final vocab
  *    set (not merge replay — intermediate merge products stay in the
  *    vocabulary, which is exactly what makes max-match equivalent in
  *    spirit): per word, repeatedly take the longest vocab piece
  *    matching at the cursor (`##`-prefixed after the first); any
  *    position with NO match maps the WHOLE word to `[UNK]`, and so
  *    does a word longer than `maxWordLen` code points (the
  *    `max_input_chars_per_word` analogue). One map-only
  *    `mapPartitions` pass, vocab riding a broadcast set; per-word
  *    cost O(len^2) hash probes, independent of vocabulary size.
  *
  * EXACT-ARITHMETIC ARGMAX. The likelihood score is a RATIONAL; this
  * implementation never materializes the quotient. Candidates compare
  * by exact cross-multiplication (`f1*fa2*fb2` vs `f2*fa1*fb1`, as
  * BigInt — the SQL oracle uses HUGEINT), ties broken code-point-
  * lexicographically on (left, right) ([[Bpe.cmpCodePoints]], binary
  * collation in both engines), so a DuckDB oracle replays training
  * bit for bit — the same float-to-integer carve-out as every trainer
  * in this repo, except here NO approximation is involved at all: the
  * argmax over exact rationals IS the textbook objective.
  *
  * MARKER COLLISION. Words containing the literal `#` character are
  * EXCLUDED from training: a vocabulary symbol could otherwise embed
  * a real `#` and make the `##` prefix ambiguous to strip (real
  * WordPiece vocab files reserve the marker the same way). Encoding
  * stays TOTAL without a carve-out — `#` never enters the trained
  * alphabet, so a marker-bearing word greedy-matches nothing at the
  * `#` position and falls back to `[UNK]`, on both engines, for free.
  */
object WordPiece {

  /** The continuation marker non-initial symbols carry. */
  val Marker: String = "##"

  /** The out-of-vocabulary token a failed word maps to. */
  val Unk: String = "[UNK]"

  /** One learned merge: at `rank`, symbols `(left, right)` fused into
    * `token = left + strip##(right)`; the integer evidence of the
    * winning likelihood score rides along (`pairFreq` over
    * `leftFreq * rightFreq`). */
  final case class Merge(rank: Int, left: String, right: String,
      token: String, pairFreq: Long, leftFreq: Long, rightFreq: Long)

  /** A trained tokenizer: the initial alphabet (all first-position
    * and `##`-marked continuation characters of the training words)
    * plus the merge list. The encode VOCAB is their union — distinct,
    * because two merges can fuse to the same surface string
    * ((a, ##bc) and (ab, ##c) both yield "abc"); membership is all
    * greedy matching consults. */
  final case class Trained(alphabet: Seq[String], merges: Seq[Merge]) {
    def vocab: Seq[String] =
      (alphabet ++ merges.map(_.token)).distinct
  }

  private[ext] def stripMarker(s: String): String =
    if (s.startsWith(Marker)) s.substring(Marker.length) else s

  /** Initial symbol sequence of a word: first code point plain, every
    * later one `##`-prefixed. */
  private[ext] def initialSymbols(word: String): Array[String] = {
    val cps = Bpe.splitCodePoints(word)
    var i = 1
    while (i < cps.length) { cps(i) = Marker + cps(i); i += 1 }
    cps
  }

  /** One greedy left-to-right non-overlapping merge pass — the twin
    * of [[Bpe.mergePass]] with the WordPiece fusion rule (the fused
    * symbol drops the RIGHT side's marker, keeping the left's). */
  private[ext] def mergePassWp(syms: Array[String], a: String,
      b: String): Array[String] = {
    val fused = a + stripMarker(b)
    val out = mutable.ArrayBuffer[String]()
    var j = 0
    while (j < syms.length) {
      if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
        out += fused; j += 2
      } else { out += syms(j); j += 1 }
    }
    out.toArray
  }

  /** Exact likelihood-score comparison: does candidate (f1, fa1, fb1)
    * strictly beat (f2, fa2, fb2)? `f1/(fa1*fb1) > f2/(fa2*fb2)` by
    * cross-multiplication — BigInt, so no count magnitude can
    * overflow the comparison (the SQL oracle's HUGEINT bound is a
    * fixture-scale concern only). */
  private[ext] def scoreBeats(f1: Long, fa1: Long, fb1: Long,
      f2: Long, fa2: Long, fb2: Long): Boolean =
    BigInt(f1) * BigInt(fa2) * BigInt(fb2) >
      BigInt(f2) * BigInt(fa1) * BigInt(fb1)

  /** Learn `numMerges` merges with the classic driver-local loop over
    * the collected `(word, freq)` table (the corpus was already
    * reduced to the Heaps-bounded vocabulary by the one word-count
    * shuffle). Counts are maintained INCREMENTALLY: each merge
    * re-counts only the words that contain the winning pair (a
    * pair -> words index, stale-tolerant), and the argmax is a linear
    * scan of the live pair table under the exact rational order —
    * per-merge cost is O(#pairs + affected words), independent of
    * corpus size.
    *
    * Words containing `#` are excluded (marker collision, see the
    * object doc). Returns the alphabet (code-point-sorted) and the
    * merge list; [[Trained.vocab]] is what the encoder consumes. */
  def trainLocal(words: DataFrame, numMerges: Int, minFreq: Long = 1L,
      maxVocabRows: Int = 20000000,
      maxVocabBytes: Long = 4L << 30): Trained = {
    require(numMerges >= 1,
      s"WordPiece.trainLocal: numMerges >= 1 ($numMerges)")
    require(minFreq >= 1L,
      s"WordPiece.trainLocal: minFreq >= 1 ($minFreq)")
    // materialize once (vocab-scale rows, corpus-scale lineage): the
    // guard aggregate AND the collect below both consume it — same
    // discipline as Bpe.trainLocal
    val eligible = Materialize(words.filter(length(col("word")) > 0 &&
      !col("word").contains(Marker.substring(0, 1))),
      eager = true)
    // the same pre-collect driver guard as Bpe/Unigram.trainLocal:
    // bound the estimated footprint in the unit the driver OOMs in
    val st = eligible
      .agg(count(lit(1)), sum(length(col("word")))).head()
    val nRows = st.getLong(0)
    val nChars = if (st.isNullAt(1)) 0L else st.getLong(1)
    require(nRows <= maxVocabRows,
      s"WordPiece.trainLocal: vocabulary has $nRows rows, exceeds " +
        s"maxVocabRows=$maxVocabRows — pre-filter rare words upstream " +
        "or raise the cap with matching driver memory")
    // symbols are per-character strings plus markers: ~4x the char
    // count in object overhead, plus the pair/unigram count maps
    val estBytes = nRows * 200L + nChars * 400L
    require(estBytes <= maxVocabBytes,
      s"WordPiece.trainLocal: estimated driver footprint $estBytes B " +
        s"($nRows words, $nChars chars) exceeds " +
        s"maxVocabBytes=$maxVocabBytes")
    val rows: Array[(Array[String], Long)] = eligible
      .select(col("word").cast("string"), col("freq").cast("long"))
      .collect()
      .map(r => (initialSymbols(r.getString(0)), r.getLong(1)))
    Materialize.release(eligible)

    val pairCnt = mutable.HashMap[(String, String), Long]()
    val symCnt = mutable.HashMap[String, Long]()
    // stale-tolerant inverted index: a word id stays listed under a
    // pair it once contained; consumers re-check adjacency
    val pairWords = mutable.HashMap[(String, String), mutable.Set[Int]]()
    def tally(wi: Int, sign: Long, index: Boolean): Unit = {
      val (syms, f0) = rows(wi)
      val f = f0 * sign
      var j = 0
      while (j < syms.length) {
        symCnt(syms(j)) = symCnt.getOrElse(syms(j), 0L) + f
        if (j + 1 < syms.length) {
          val p = (syms(j), syms(j + 1))
          pairCnt(p) = pairCnt.getOrElse(p, 0L) + f
          if (index)
            pairWords.getOrElseUpdate(p, mutable.Set[Int]()) += wi
        }
        j += 1
      }
    }
    var wi = 0
    while (wi < rows.length) { tally(wi, 1L, index = true); wi += 1 }
    val alphabet = symCnt.keysIterator.toArray
      .sortWith((a, b) => Bpe.cmpCodePoints(a, b) < 0).toSeq

    val out = Seq.newBuilder[Merge]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      // exact-rational argmax over the live pair table; ties to the
      // code-point-smallest (left, right) — the SQL oracle's NOT
      // EXISTS anti-beat predicate, verbatim
      var bA: String = null; var bB: String = null
      var bF = 0L; var bFa = 0L; var bFb = 0L
      pairCnt.foreach { case ((a, b), f) =>
        if (f >= minFreq) {
          val fa = symCnt(a); val fb = symCnt(b)
          val better =
            if (bA == null) true
            else if (scoreBeats(f, fa, fb, bF, bFa, bFb)) true
            else if (scoreBeats(bF, bFa, bFb, f, fa, fb)) false
            else {
              val c = Bpe.cmpCodePoints(a, bA)
              c < 0 || (c == 0 && Bpe.cmpCodePoints(b, bB) < 0)
            }
          if (better) { bA = a; bB = b; bF = f; bFa = fa; bFb = fb }
        }
      }
      if (bA == null) done = true
      else {
        out += Merge(rank, bA, bB, bA + stripMarker(bB), bF, bFa, bFb)
        val affected = pairWords.getOrElse((bA, bB), mutable.Set[Int]())
        affected.foreach { w =>
          val old = rows(w)._1
          // stale index entries skip here (adjacency re-checked by
          // the merge pass producing an identical array)
          val merged = mergePassWp(old, bA, bB)
          if (!(merged sameElements old)) {
            tally(w, -1L, index = false)
            rows(w) = (merged, rows(w)._2)
            tally(w, 1L, index = true)
          }
        }
        pairCnt.remove((bA, bB))
        pairWords.remove((bA, bB))
        // drop zeroed entries so the argmax scan stays live-sized
        pairCnt.filterInPlace((_, f) => f > 0L)
        rank += 1
      }
    }
    Trained(alphabet, out.result())
  }

  /** Greedy longest-match-first encode of one word against the vocab
    * SET: at each cursor take the longest matching piece
    * (`##`-prefixed after position 0); no match at any position, or a
    * word over `maxWordLen` code points, yields `[UNK]` for the WHOLE
    * word (the standard WordPiece fallback). */
  private[ext] def encodeWordLocal(word: String, vocab: Set[String],
      maxWordLen: Int): Seq[String] = {
    require(maxWordLen >= 1,
      s"WordPiece.encodeWordLocal: maxWordLen >= 1 ($maxWordLen)")
    val cps = Bpe.splitCodePoints(word)
    val n = cps.length
    if (n == 0) return Nil
    if (n > maxWordLen) return Seq(Unk)
    val out = mutable.ArrayBuffer[String]()
    var i = 0
    while (i < n) {
      var l = n - i
      var hit: String = null
      while (l >= 1 && hit == null) {
        val s = cps.slice(i, i + l).mkString
        val piece = if (i == 0) s else Marker + s
        if (vocab.contains(piece)) hit = piece
        else l -= 1
      }
      if (hit == null) return Seq(Unk)
      out += hit
      i += l
    }
    out.toSeq
  }

  /** Per-document WordPiece tokenization at corpus scale: one
    * map-only `mapPartitions` pass, the vocab riding a broadcast hash
    * set, a bounded per-partition word memo (natural text is Zipfian
    * — the [[Bpe]] encoder-cache bounds). Null text yields null
    * tokens, a null id rides through; over-budget words become
    * `[UNK]` (NOT excluded — the contract difference from the
    * unigram encoder, faithful to `max_input_chars_per_word`). */
  def encodeScalable(df: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String], maxWordLen: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(vocab.toSet)
    val mwl = maxWordLen
    // greedy longest-match walk per word type: compute-bound, spread
    // by compute rather than upstream byte-sized splits
    graft.ops.Spread.forCompute(df, col(idCol))
      .select(col(idCol).cast("long"),
        filter(TextAnalysis.tokens(col(textCol)), w => length(w) > 0))
      .as[(Option[Long], Seq[String])]
      .mapPartitions { it =>
        val v = bc.value
        val memo = new java.util.HashMap[String, Seq[String]]()
        var chars = 0L
        val enc = (w: String) => {
          val hit = memo.get(w)
          if (hit != null) hit
          else {
            val r = encodeWordLocal(w, v, mwl)
            if (memo.size < 65536 && w.length <= 4096 &&
                chars + w.length <= (1L << 24)) {
              memo.put(w, r); chars += w.length
            }
            r
          }
        }
        it.map { case (id, words) =>
          (id, if (words == null) null else words.flatMap(enc))
        }
      }
      .toDF(idCol, "tokens")
  }

  // ------------------------------------------------------------------
  // WORDPIECE ARTIFACT STORE — the third member of the tokenizer-store
  // family ([[Bpe.saveTokenizer]], [[Unigram.savePieces]]): the vocab
  // SET plus the encode geometry is what a 100 TB encode fleet loads.
  // Layout: `vocab` (piece) + `meta` (format version, maxWordLen,
  // piece count). Explicit-schema loads; validation refuses future
  // versions, count mismatches (truncation), duplicate or null pieces
  // and a zero/absent word budget.
  // ------------------------------------------------------------------

  /** A reloaded WordPiece tokenizer. */
  final case class WordPieceArtifact(vocab: Seq[String], maxWordLen: Int)

  /** Artifact format version — bumped on any layout change. */
  val ArtifactVersion: Int = 1

  private val VocabSchema = "piece STRING"
  private val MetaSchema = "version INT, max_word_len INT, n_pieces INT"

  /** Persist a trained vocab (overwrite swap, one file per table —
    * the vocab is bounded driver state). */
  def saveVocab(spark: org.apache.spark.sql.SparkSession, dir: String,
      vocab: Seq[String], maxWordLen: Int): Unit = {
    require(vocab.nonEmpty, "WordPiece.saveVocab: empty vocab")
    require(vocab.distinct.size == vocab.size,
      "WordPiece.saveVocab: duplicate pieces")
    require(maxWordLen >= 1,
      s"WordPiece.saveVocab: maxWordLen >= 1 ($maxWordLen)")
    import spark.implicits._
    vocab.toDF("piece").coalesce(1)
      .write.mode("overwrite").parquet(dir + "/vocab")
    Seq((ArtifactVersion, maxWordLen, vocab.size))
      .toDF("version", "max_word_len", "n_pieces")
      .coalesce(1).write.mode("overwrite").parquet(dir + "/meta")
  }

  /** Reload a persisted vocab, validating version, geometry, count
    * and uniqueness. Pieces come back code-point-sorted — membership
    * is a set, so order carries no semantics, but every consumer then
    * sees one deterministic table. */
  def loadVocab(spark: org.apache.spark.sql.SparkSession, dir: String)
      : WordPieceArtifact = {
    val metaRows =
      spark.read.schema(MetaSchema).parquet(dir + "/meta").collect()
    require(metaRows.length == 1,
      s"WordPiece.loadVocab: expected one meta row at $dir/meta, " +
        s"found ${metaRows.length}")
    val meta = metaRows(0)
    require(!meta.isNullAt(0) && meta.getInt(0) == ArtifactVersion,
      s"WordPiece.loadVocab: artifact at $dir has format version " +
        s"${if (meta.isNullAt(0)) "null" else meta.getInt(0)}, this " +
        s"build reads version $ArtifactVersion")
    // Row.getInt on a NULL cell silently yields 0, and maxWordLen=0
    // would silently [UNK] every word — refuse loudly
    require(!meta.isNullAt(1) && meta.getInt(1) >= 1,
      s"WordPiece.loadVocab: artifact at $dir records max_word_len " +
        s"${if (meta.isNullAt(1)) "null" else meta.getInt(1)}, " +
        "expected >= 1 — a zero/absent word budget silently maps " +
        "every word to [UNK]; re-export the artifact")
    val ps = spark.read.schema(VocabSchema).parquet(dir + "/vocab")
      .collect().map(_.getString(0))
    require(!ps.contains(null),
      s"WordPiece.loadVocab: null piece at $dir/vocab")
    require(ps.length == meta.getInt(2),
      s"WordPiece.loadVocab: vocab table at $dir has ${ps.length} " +
        s"rows, meta says ${meta.getInt(2)} — truncated or mixed store")
    require(ps.distinct.length == ps.length,
      s"WordPiece.loadVocab: duplicate pieces at $dir")
    val sorted =
      ps.sortWith((a, b) => Bpe.cmpCodePoints(a, b) < 0).toSeq
    WordPieceArtifact(sorted, meta.getInt(1))
  }

  /** Encode under a RELOADED artifact — the geometry travels with the
    * vocab, so an encode fleet cannot combine a table with the wrong
    * word budget. Token-identical to the in-memory path
    * (spec-pinned). */
  def encodeWithArtifact(df: DataFrame, idCol: String, textCol: String,
      art: WordPieceArtifact): DataFrame =
    encodeScalable(df, idCol, textCol, art.vocab, art.maxWordLen)

  /** DECODE a WordPiece token array back to text: continuation pieces
    * (`##x`) append their content, every other piece opens a new
    * word with a leading space, and the leading space is trimmed —
    * the exact inverse of the `##` algebra, so
    * `decodeTokens(encode(text)) = ` the whitespace-normalized
    * original for any `[UNK]`-free document (graded:
    * `text_wordpiece_roundtrip`; an `[UNK]` emission is lossy by
    * construction). Pure codegen'd string expressions — map-only. */
  def decodeTokens(tokens: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    ltrim(concat_ws("", transform(tokens, t =>
      when(t.startsWith(Marker),
        substring(t, Marker.length + 1, Int.MaxValue))
        .otherwise(concat(lit(" "), t)))))
}
