package graft.ext

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Distinct-count sketching via K-Minimum-Values (KMV / bottom-k).
  *
  * The sketch keeps the k smallest DISTINCT hash values of a stream; if
  * hashes are uniform on [0, M], the k-th smallest value h_k estimates
  * density: n ≈ (k-1) · M / h_k. Properties that matter here:
  *
  *  - **Deterministic**: hashes are md5-derived 31-bit ints
  *    ([[TextAnalysis.tokenHash31]]) — no RNG, so the estimate is
  *    identical under any partitioning, any engine, any run. (HLL
  *    implementations differ across engines; KMV with a fixed hash is
  *    exactly reproducible, which is why it can be DuckDB-oracle-checked.)
  *  - **Mergeable**: union of two sketches = merge the value sets, keep
  *    the k smallest — exactly the bottom-k of the union. Partial
  *    aggregation (map-side combine) is lossless; sketch state is O(k)
  *    per group no matter how many rows feed it.
  *  - **Exact below k**: fewer than k distinct hashes => the estimate IS
  *    the distinct count (of hashes; md5 collisions below 2^31 are the
  *    usual birthday caveat).
  *
  * Two forms: [[kmvDistinct]] (DataFrame-native: distinct + per-group
  * bottom-k via window — the oracle-comparable query shape) and
  * [[KmvAggregator]] (typed `Aggregator`, the O(k)-state mergeable form
  * for `agg`/streaming use).
  */
object Sketches {

  val M: Long = 2147483647L // hash domain: 31-bit md5-derived ints

  /** Per-group KMV distinct estimate over `hashCol` (a LongType column of
    * uniform hashes in [0, M]). Returns groupCols ++ (n_kept, kth_hash,
    * est_distinct). `est_distinct` is a double: exact count when the
    * group has < k distinct hashes, else (k-1)·M/h_k. */
  def kmvDistinct(df: DataFrame, groupCols: Seq[String], hashCol: String,
      k: Int = 256): DataFrame = {
    val distinctHashes = df.select(
      (groupCols.map(col) :+ col(hashCol).as("__h")): _*).distinct()
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("__h"))
    distinctHashes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_kept"), max(col("__h")).as("kth_hash"))
      .withColumn("est_distinct",
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(M.toDouble) /
            col("kth_hash").cast("double")))
  }

  /** Pre-join key-overlap estimate from two bottom-k sketches — the
    * "how selective will this join be" report a planner wants BEFORE
    * shuffling 100 TB: distinct-key hashes of each side reduce to
    * their bottom-k (`orderBy.limit(k)` = TakeOrdered, a distributed
    * per-partition top-k + driver merge — never a single-partition
    * window), and Beyer et al.'s KMV set algebra over the merged
    * bottom-k yields Jaccard, union-size and intersection-size
    * estimates (exact when both key sets fit under k). Mirrors
    * [[Kmv.jaccardEstimate]]/[[Kmv.intersectionEstimate]] in
    * DataFrame form so a SQL oracle replays it. Returns one row:
    * (n_union_kept, kth_union, n_both, est_jaccard, est_union,
    * est_intersection). */
  def joinKeyOverlap(a: DataFrame, keyA: String, b: DataFrame,
      keyB: String, k: Int = 256): DataFrame = {
    require(k >= 2, s"joinKeyOverlap: k >= 2 ($k)")
    def bottomK(df: DataFrame, key: String) =
      df.select(graft.ext.TextAnalysis
          .tokenHash31(col(key).cast("string")).as("h"))
        .distinct().orderBy("h").limit(k)
    val ka = bottomK(a, keyA).withColumn("in_a", lit(1))
    val kb = bottomK(b, keyB).withColumn("in_b", lit(1))
    val merged = ka.select("h").unionByName(kb.select("h")).distinct()
      .orderBy("h").limit(k)
    val stats = merged
      .join(ka, Seq("h"), "left_outer")
      .join(kb, Seq("h"), "left_outer")
      .agg(count(lit(1)).as("n_union_kept"),
        max("h").as("kth_union"),
        sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L)
          .otherwise(0L)).as("n_both"))
    stats.select(col("n_union_kept"), col("kth_union"), col("n_both"),
        when(col("n_union_kept") === 0, lit(0.0))
          .otherwise(col("n_both").cast("double") / col("n_union_kept"))
          .as("est_jaccard"),
        when(col("n_union_kept") < k, col("n_union_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(M.toDouble) /
            col("kth_union").cast("double")).as("est_union"))
      .withColumn("est_intersection",
        col("est_jaccard") * col("est_union"))
  }

  /** Sketch state: sorted distinct bottom-k hashes (ascending). */
  final case class Kmv(k: Int, values: Seq[Long]) {
    /** Insertion point of h in the sorted values, or -1 if present —
      * O(log k) instead of a linear contains + full re-sort. */
    private def searchPoint(h: Long): Int = {
      var lo = 0; var hi = values.size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val v = values(mid)
        if (v == h) return -1
        if (v < h) lo = mid + 1 else hi = mid
      }
      lo
    }
    def insert(h: Long): Kmv =
      // full sketch + h not below the cutoff: the overwhelmingly common
      // case on the per-row reduce path once the sketch saturates — O(1)
      if (values.size == k && h >= values.last) this
      else {
        val i = searchPoint(h)
        if (i < 0) this // already present
        else copy(values =
          ((values.take(i) :+ h) ++ values.drop(i)).take(k))
      }
    /** Linear sorted-merge of two sketches: both value lists are sorted
      * and distinct, so one O(k) pass yields the bottom-k of the union —
      * no re-sort, matching the O(log k) insert path. */
    def merge(other: Kmv): Kmv = {
      val a = values; val b = other.values
      val out = Vector.newBuilder[Long]
      var i = 0; var j = 0; var n = 0
      while (n < k && (i < a.length || j < b.length)) {
        val v =
          if (j >= b.length) { i += 1; a(i - 1) }
          else if (i >= a.length) { j += 1; b(j - 1) }
          else if (a(i) < b(j)) { i += 1; a(i - 1) }
          else if (b(j) < a(i)) { j += 1; b(j - 1) }
          else { i += 1; j += 1; a(i - 1) } // equal: consume both sides
        out += v; n += 1
      }
      copy(values = out.result())
    }
    def estimate: Double =
      if (values.size < k) values.size.toDouble
      else (k - 1).toDouble * M.toDouble / values.last.toDouble

    /** Jaccard estimate |A∩B|/|A∪B| from two sketches (Beyer et al.'s
      * K-min-values set algebra): over the bottom-k' of the UNION
      * (k' = |merged|), count hashes present in BOTH input sketches.
      * Exact when both sets fit under k; deterministic always (same
      * hashes => same estimate on any engine). Empty∪empty => 0. */
    def jaccardEstimate(other: Kmv): Double = {
      val m = merge(other)
      if (m.values.isEmpty) 0.0
      else {
        val a = values.toSet
        val b = other.values.toSet
        m.values.count(h => a(h) && b(h)).toDouble / m.values.size
      }
    }

    /** Intersection-size estimate: Jaccard × union estimate — both from
      * the same merged sketch, so the algebra is self-consistent. */
    def intersectionEstimate(other: Kmv): Double =
      jaccardEstimate(other) * merge(other).estimate
  }

  /** Mutable bounded aggregation buffer behind [[KmvAggregator]].
    * [[Kmv]] stays the immutable public sketch (set algebra, functional
    * folds); this buffer exists because an Aggregator's `reduce` runs
    * once per input ROW, and the immutable insert rebuilt an O(k)
    * vector per unsaturated insert — the hot-loop allocation SURVEY
    * §8.5 flagged. Contract:
    *
    *  - the ZERO buffer (empty array) is NEVER mutated: the first
    *    insert copy-on-writes a fresh k-slot array, so one shared zero
    *    object safely seeds any number of independent folds (Spark may
    *    reuse the initial-value object across groups);
    *  - after that, `reduce` mutates in place — binary search +
    *    `System.arraycopy` shift, ZERO allocation on every path
    *    (saturated below-cutoff rows return immediately, the common
    *    case once the sketch fills);
    *  - `merge` allocates one fresh buffer (linear sorted merge) — it
    *    runs per partial combine, not per row.
    *
    * Slots at index >= n are undefined slack; equality/hashCode cover
    * (k, first n slots) only, so buffers compare by sketch VALUE across
    * serialization round-trips and fold histories. */
  final case class KmvBuf(k: Int, arr: Array[Long], var n: Int) {

    /** The sorted bottom-n as an immutable view (spec/report surface). */
    def values: Seq[Long] = arr.iterator.take(n).toIndexedSeq

    def insertMut(h: Long): KmvBuf =
      if (arr.length == 0) {
        // copy-on-first-write off the shared zero
        val fresh = KmvBuf(k, new Array[Long](k), 0)
        fresh.insertMut(h)
      } else if (n == k && h >= arr(n - 1)) this
      else {
        var lo = 0; var hi = n; var present = false
        while (lo < hi && !present) {
          val mid = (lo + hi) >>> 1
          val v = arr(mid)
          if (v == h) present = true
          else if (v < h) lo = mid + 1 else hi = mid
        }
        if (present) this
        else {
          val shift = math.min(n, k - 1) - lo
          if (shift > 0) System.arraycopy(arr, lo, arr, lo + 1, shift)
          arr(lo) = h
          if (n < k) n += 1
          this
        }
      }

    /** Bottom-k of the union — fresh buffer, inputs untouched. */
    def mergeNew(other: KmvBuf): KmvBuf = {
      val out = new Array[Long](k)
      val a = arr; val b = other.arr
      var i = 0; var j = 0; var m = 0
      while (m < k && (i < n || j < other.n)) {
        val v =
          if (j >= other.n) { i += 1; a(i - 1) }
          else if (i >= n) { j += 1; b(j - 1) }
          else if (a(i) < b(j)) { i += 1; a(i - 1) }
          else if (b(j) < a(i)) { j += 1; b(j - 1) }
          else { i += 1; j += 1; a(i - 1) } // equal: consume both sides
        out(m) = v; m += 1
      }
      KmvBuf(k, out, m)
    }

    def estimate: Double =
      if (n < k) n.toDouble
      else (k - 1).toDouble * M.toDouble / arr(n - 1).toDouble

    override def equals(o: Any): Boolean = o match {
      case b: KmvBuf =>
        k == b.k && n == b.n && {
          var i = 0; var same = true
          while (same && i < n) { same = arr(i) == b.arr(i); i += 1 }
          same
        }
      case _ => false
    }
    override def hashCode: Int = {
      var h = k * 31 + n
      var i = 0
      while (i < n) { h = h * 31 + java.lang.Long.hashCode(arr(i)); i += 1 }
      h
    }
  }

  /** Typed mergeable KMV aggregator over pre-hashed long values — the
    * custom-UDAF (`Aggregator`) form: O(k) state, lossless partial
    * aggregation, usable in batch `agg` and streaming state. Buffer is
    * the allocation-free [[KmvBuf]]; results match [[Kmv]] folds and
    * [[kmvDistinct]] exactly. */
  final class KmvAggregator(k: Int = 256)
      extends Aggregator[Long, KmvBuf, Double] {
    override def zero: KmvBuf = KmvBuf(k, Array.emptyLongArray, 0)
    override def reduce(b: KmvBuf, a: Long): KmvBuf = b.insertMut(a)
    override def merge(b1: KmvBuf, b2: KmvBuf): KmvBuf = b1.mergeNew(b2)
    override def finish(r: KmvBuf): Double = r.estimate
    override def bufferEncoder: Encoder[KmvBuf] =
      Encoders.product[KmvBuf]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Deterministic mergeable quantile sketch: bottom-k PRIORITY
    * sampling. Every row carries a stable identity (doc id); its
    * md5-derived hash is a uniform priority, and the sketch keeps the k
    * rows with the smallest (priority, value) — a uniform-without-
    * replacement row sample that is
    *
    *  - **deterministic**: same ids => same sample, any partitioning,
    *    any engine (the t-digest/KLL alternatives are merge-order-
    *    sensitive, which is why they can't be oracle-checked);
    *  - **mergeable**: bottom-k of a union is the merge of bottom-ks —
    *    lossless partial aggregation, O(k) state per group;
    *  - **exact below k**: n <= k keeps every row, so quantiles are the
    *    exact nearest-rank quantiles.
    *
    * Quantile read-out is nearest-rank over the sampled VALUES
    * (ceil(q·n)-1 in the value order), so estimates are always actual
    * data points. Positioning mirrors [[KmvAggregator]] vs
    * [[kmvDistinct]]: the DataFrame-native twin of this shape (hash-
    * threshold sample + exact `percentile`) is already oracle-covered by
    * `text_stratified_sample`/`q20_percentiles`; this is the O(k)-state
    * typed form for `agg`/streaming state. */
  final case class QuantileSample(k: Int, prios: Seq[Long],
      vals: Seq[Double]) {
    private def lastKey: (Long, Double) = (prios.last, vals.last)
    def insert(priority: Long, v: Double): QuantileSample =
      if (prios.size == k &&
        (priority > lastKey._1 ||
          (priority == lastKey._1 && v >= lastKey._2))) this
      else {
        var i = 0
        while (i < prios.size && (prios(i) < priority ||
          (prios(i) == priority && vals(i) < v))) i += 1
        copy(
          prios = ((prios.take(i) :+ priority) ++ prios.drop(i)).take(k),
          vals = ((vals.take(i) :+ v) ++ vals.drop(i)).take(k))
      }
    def merge(other: QuantileSample): QuantileSample = {
      val outP = Vector.newBuilder[Long]
      val outV = Vector.newBuilder[Double]
      var i = 0; var j = 0; var n = 0
      while (n < k && (i < prios.length || j < other.prios.length)) {
        val takeLeft =
          if (j >= other.prios.length) true
          else if (i >= prios.length) false
          else prios(i) < other.prios(j) ||
            (prios(i) == other.prios(j) && vals(i) <= other.vals(j))
        if (takeLeft) { outP += prios(i); outV += vals(i); i += 1 }
        else { outP += other.prios(j); outV += other.vals(j); j += 1 }
        n += 1
      }
      copy(prios = outP.result(), vals = outV.result())
    }
    /** Nearest-rank quantile of the sampled values; NaN when empty. */
    def quantile(q: Double): Double =
      if (vals.isEmpty) Double.NaN
      else {
        val sorted = vals.sorted
        val r = math.ceil(q * sorted.size).toInt - 1
        sorted(math.min(math.max(r, 0), sorted.size - 1))
      }
  }

  /** Typed mergeable quantile-sketch aggregator over (rowHash, value)
    * pairs — `rowHash` is a uniform priority from a stable row identity
    * (e.g. [[TextAnalysis.tokenHash31]] of the doc id). */
  final class QuantileSketchAggregator(k: Int = 256)
      extends Aggregator[(Long, Double), QuantileSample, QuantileSample] {
    override def zero: QuantileSample =
      QuantileSample(k, Vector.empty, Vector.empty)
    override def reduce(b: QuantileSample,
        a: (Long, Double)): QuantileSample =
      b.insert(a._1, a._2)
    override def merge(b1: QuantileSample,
        b2: QuantileSample): QuantileSample =
      b1.merge(b2)
    override def finish(r: QuantileSample): QuantileSample = r
    override def bufferEncoder: Encoder[QuantileSample] =
      Encoders.product[QuantileSample]
    override def outputEncoder: Encoder[QuantileSample] =
      Encoders.product[QuantileSample]
  }

  // -------- Count-min sketch --------
  //
  // Frequency estimation in d·w integers: counter(j, i) accumulates
  // every occurrence whose j-th hash lands on column i; the point
  // estimate min_j counter(j, col_j(x)) NEVER underestimates and
  // overestimates by at most the collision mass (ε ≈ e/w of the stream
  // length at δ ≈ e^-d). Same determinism contract as KMV: the d row
  // hashes are the fixed affine permutations over the md5-derived
  // 31-bit item hash ([[Dedup.minhashPerm]]), so the full counter
  // matrix — not just the estimates — is replayable by a SQL oracle.

  /** CMS column index of hash `h` for sketch row `j`: the minhash
    * affine permutation reduced mod `w`. */
  def cmsColIdx(j: Int, w: Int, h: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val (a, b) = Dedup.minhashPerm(j)
    ((lit(a) * h + lit(b)) % M) % w
  }

  /** The DataFrame-native sketch build — the 100 TB shape: one
    * generator fans each occurrence into its d (row, column) cells,
    * then ONE hash-aggregate; partial aggregation bounds what crosses
    * the wire at d·w counters per map partition regardless of stream
    * length. Input: `hashCol` LongType in [0, M). Returns non-zero
    * cells (row_j, col_i, c). */
  def cmsCounters(df: DataFrame, hashCol: String, d: Int = 4,
      w: Int = 256): DataFrame = {
    require(d >= 1 && w >= 2, s"cmsCounters: need d >= 1, w >= 2 ($d, $w)")
    df.select(explode(array((0 until d).map { j =>
        struct(lit(j.toLong).as("row_j"),
          cmsColIdx(j, w, col(hashCol)).as("col_i"))
      }: _*)).as("__e"))
      .select(col("__e.row_j"), col("__e.col_i"))
      .groupBy("row_j", "col_i").agg(count(lit(1)).as("c"))
  }

  /** Sketch state: d·w counters, row-major. Merge = element-wise add
    * (counters are linear), so partial aggregation is lossless. */
  final case class Cms(d: Int, w: Int, counters: Seq[Long]) {
    def add(h: Long): Cms = {
      var cs = counters
      var j = 0
      while (j < d) {
        val (a, b) = Dedup.minhashPerm(j)
        val i = (((a * h + b) % M) % w).toInt
        cs = cs.updated(j * w + i, cs(j * w + i) + 1L)
        j += 1
      }
      copy(counters = cs)
    }
    def merge(other: Cms): Cms = {
      require(d == other.d && w == other.w,
        s"Cms.merge: geometry mismatch ($d x $w vs ${other.d} x ${other.w})")
      copy(counters = counters.zip(other.counters).map { case (x, y) => x + y })
    }
    /** Point estimate for item hash `h` — min over the d rows. */
    def estimate(h: Long): Long =
      (0 until d).map { j =>
        val (a, b) = Dedup.minhashPerm(j)
        counters(j * w + (((a * h + b) % M) % w).toInt)
      }.min
  }

  /** Typed mergeable form for `agg`/streaming state: O(d·w) per group
    * no matter the stream length. */
  final class CmsAggregator(d: Int = 4, w: Int = 256)
      extends Aggregator[Long, Cms, Cms] {
    override def zero: Cms = Cms(d, w, Vector.fill(d * w)(0L))
    override def reduce(b: Cms, h: Long): Cms = b.add(h)
    override def merge(b1: Cms, b2: Cms): Cms = b1.merge(b2)
    override def finish(r: Cms): Cms = r
    override def bufferEncoder: Encoder[Cms] = Encoders.product[Cms]
    override def outputEncoder: Encoder[Cms] = Encoders.product[Cms]
  }
}
