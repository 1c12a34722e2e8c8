package graft.series

/** Spark's exact `percentile` aggregate as a scalar over an in-memory
  * sample, for kernels that score one series inside an executor and must
  * agree bit for bit with the `percentile(v, p[, freq])` SQL they replace.
  *
  * Semantics (Spark's PercentileBase): values sort ascending with their
  * frequencies accumulated; the position of percentage p is
  * `(total - 1) · p`; an integral position, or two neighbouring positions
  * that land on equal values, return that value; otherwise the result is
  * `(hi - pos) · v[lo] + (pos - lo) · v[hi]`. Values compare numerically,
  * so -0.0 and 0.0 are one value (which sign comes back is unspecified,
  * as it is in Spark).
  */
object Percentile {

  /** Unweighted: `percentile(v, p)` for each p in `ps`. */
  def of(values: Array[Double], ps: Double*): Array[Double] =
    weighted(values, Array.fill(values.length)(1L), ps: _*)

  /** Weighted by frequency: `percentile(v, p, freq)`. Non-positive
    * frequencies are skipped, as Spark skips them. Empty input → empty.
    */
  def weighted(values: Array[Double], freqs: Array[Long],
      ps: Double*): Array[Double] = {
    // Spark's double ordering: numeric, -0.0 == 0.0, NaN above everything
    val order = values.indices.filter(i => freqs(i) > 0).sortWith { (a, b) =>
      val x = values(a); val y = values(b)
      x != y && java.lang.Double.compare(x, y) < 0
    }.toArray
    if (order.isEmpty) return Array.empty
    val keys = new Array[Double](order.length)
    val cum = new Array[Long](order.length)
    var len = 0
    for (i <- order) {
      if (len > 0 && keys(len - 1) == values(i)) cum(len - 1) += freqs(i)
      else {
        keys(len) = values(i)
        cum(len) = (if (len > 0) cum(len - 1) else 0L) + freqs(i)
        len += 1
      }
    }
    ps.map(atCumulative(keys, cum, len, _)).toArray
  }

  /** Percentile p over `len` distinct ascending `keys` whose running
    * frequency totals are `cum` (strictly increasing, `cum(len-1)` = n).
    */
  def atCumulative(keys: Array[Double], cum: Array[Long], len: Int,
      p: Double): Double = {
    val pos = (cum(len - 1) - 1).toDouble * p
    val lower = math.floor(pos).toLong
    val higher = math.ceil(pos).toLong
    val lowerKey = keys(firstReaching(cum, len, lower + 1))
    if (higher == lower) lowerKey
    else {
      val higherKey = keys(firstReaching(cum, len, higher + 1))
      if (higherKey == lowerKey) lowerKey
      else (higher - pos) * lowerKey + (pos - lower) * higherKey
    }
  }

  /** Index of the first running total >= `count`. */
  private def firstReaching(cum: Array[Long], len: Int, count: Long): Int = {
    val i = java.util.Arrays.binarySearch(cum, 0, len, count)
    if (i < 0) -(i + 1) else i
  }
}
