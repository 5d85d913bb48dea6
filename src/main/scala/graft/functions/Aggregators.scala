package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed aggregators (`Aggregator[IN, BUF, OUT]`) — map-side
  * combinable partial aggregation for shapes the built-in functions
  * only reach via row-exploding workarounds.
  */
object Aggregators {

  /** SimHash fingerprint as ONE aggregation: the buffer is the 64
    * per-bit counters, updated from each token hash directly. The
    * explode formulation (the test-side reference that
    * [[graft.llm.DedupOps.simHash]] is pinned against) emits 64 rows
    * per token before aggregating — this emits none, and its partials
    * merge associatively, so map-side combine does most of the work
    * before the shuffle. Semantics identical (tested).
    *
    * IN: xxhash64 of a token; BUF: 64 counters; OUT: the fingerprint.
    */
  object SimHashAgg extends Aggregator[Long, Array[Long], Long] {
    override def zero: Array[Long] = new Array[Long](64)

    override def reduce(buf: Array[Long], h: Long): Array[Long] = {
      var j = 0
      while (j < 64) {
        buf(j) += (if (((h >> j) & 1L) == 1L) 1L else -1L)
        j += 1
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var j = 0
      while (j < 64) { a(j) += b(j); j += 1 }
      a
    }

    override def finish(buf: Array[Long]): Long = {
      var fp = 0L
      var j = 0
      while (j < 64) {
        if (buf(j) >= 0) fp |= (1L << j)
        j += 1
      }
      fp
    }

    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoderHelper.longArray
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Element-wise mean of equal-length ARRAY<DOUBLE> columns in one
    * pass: buffer = (sums, count). A `posexplode` + per-position avg +
    * `collect_list` reassembly would multiply rows by the feature
    * dimension before aggregating; this ships one partial vector per
    * task. Used for train-mean centering
    * ([[graft.dfw.TransformOps.centerFeatureArray]]).
    *
    * A feature matrix is rectangular: a row whose length differs from
    * its group's fails the task, naming both lengths, instead of
    * averaging a truncated prefix over the full row count.
    */
  object ArrayMeanAgg extends Aggregator[Array[Double], (Array[Double], Long), Array[Double]] {
    override def zero: (Array[Double], Long) = (Array.empty[Double], 0L)

    private def sameLength(group: Int, row: Int): Unit =
      require(group == row,
        s"ArrayMeanAgg: ragged features, a row of length $row in a group of length $group")

    override def reduce(buf: (Array[Double], Long), x: Array[Double]): (Array[Double], Long) = {
      val sums = if (buf._2 == 0L) new Array[Double](x.length) else buf._1
      sameLength(sums.length, x.length)
      var i = 0
      while (i < sums.length) { sums(i) += x(i); i += 1 }
      (sums, buf._2 + 1)
    }

    override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
      if (a._2 == 0L) b
      else if (b._2 == 0L) a
      else {
        sameLength(a._1.length, b._1.length)
        var i = 0
        while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
        (a._1, a._2 + b._2)
      }
    }

    override def finish(buf: (Array[Double], Long)): Array[Double] =
      if (buf._2 == 0L) Array.empty[Double]
      else buf._1.map(_ / buf._2)

    override def bufferEncoder: Encoder[(Array[Double], Long)] =
      Encoders.tuple(ExpressionEncoderHelper.doubleArray, Encoders.scalaLong)
    override def outputEncoder: Encoder[Array[Double]] = ExpressionEncoderHelper.doubleArray
  }

  /** Fixed-size bitmap OR: inputs are bit POSITIONS in [0, mBits);
    * the buffer is the bitmap itself (mBits/64 longs) and merge is
    * word-wise OR — fully associative/commutative, so map-side combine
    * reduces a whole corpus to ONE bitmap-sized partial per task with
    * no shuffle of the data. The Bloom-filter build aggregate: callers
    * derive the k probe positions per element up front (e.g.
    * [[graft.llm.DedupOps.bloomDecontaminate]]) and this op just sets
    * bits. Out-of-range positions throw rather than alias silently.
    */
  class BitmapOrAgg(mBits: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    require(mBits > 0 && mBits % 64 == 0, "mBits must be a positive multiple of 64")

    override def zero: Array[Long] = new Array[Long](mBits / 64)

    override def reduce(buf: Array[Long], pos: Long): Array[Long] = {
      require(pos >= 0 && pos < mBits, s"bit position $pos outside [0, $mBits)")
      buf((pos >> 6).toInt) |= 1L << (pos & 63)
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }

    override def finish(buf: Array[Long]): Array[Long] = buf

    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoderHelper.longArray
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoderHelper.longArray
  }

  /** Count-min sketch build: inputs are each element's d precomputed
    * bucket indices (callers derive them with the SAME SQL-expressible
    * hash — `pmod(xxhash64(term, i), w)` — they later use to query the
    * sketch, so build and estimate can never disagree on hashing); the
    * buffer is the flat d×w counter matrix and merge is elementwise
    * sum — a commutative monoid, so map-side combine reduces a corpus
    * partition to ONE d×w partial before the shuffle, the property
    * that makes single-pass heavy-hitter counting work at 100 TB where
    * an exact per-term groupBy's key space is unbounded.
    *
    * Estimates (min over the d counters) are ONE-SIDED: never below
    * the true count, above it by more than e/w·N with probability
    * ≤ e^(−d) (Cormode & Muthukrishnan 2005).
    */
  class CountMinAgg(d: Int, w: Int) extends Aggregator[Seq[Long], Array[Long], Array[Long]] {
    require(d > 0 && w > 0, "sketch depth and width must be positive")

    override def zero: Array[Long] = new Array[Long](d * w)

    override def reduce(buf: Array[Long], idxs: Seq[Long]): Array[Long] = {
      require(idxs.length == d, s"expected $d bucket indices, got ${idxs.length}")
      var i = 0
      while (i < d) {
        val idx = idxs(i)
        require(idx >= 0 && idx < w, s"bucket index $idx outside [0, $w)")
        buf(i * w + idx.toInt) += 1L
        i += 1
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }

    override def finish(buf: Array[Long]): Array[Long] = buf

    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoderHelper.longArray
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoderHelper.longArray
  }

  /** Input encoder for [[CountMinAgg]] callers (`udaf(agg, enc)`). */
  val seqLongEncoder: Encoder[Seq[Long]] = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    ExpressionEncoder[Seq[Long]]()
  }

  private object ExpressionEncoderHelper {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val longArray: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    val doubleArray: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
  }
}
