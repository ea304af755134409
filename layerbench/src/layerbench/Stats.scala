package layerbench

import org.apache.spark.sql.{DataFrame, Encoders, Row}

/** The benchmark's arithmetic: order statistics and output digests. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, `q` in [0, 1]; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The tail the sample supports: the highest whole percentile `p` such
    * that at least `beyond` samples lie strictly above the value at `p`
    * (nearest-rank). With fewer than `beyond + 1` samples no percentile
    * qualifies and the tail is the maximum, reported as percentile 100 so
    * the caller can say the sample was too small.
    *
    * Returns (percentile, value).
    */
  def tail(xs: Seq[Double], beyond: Int = 10): (Int, Double) = {
    val s = xs.sorted
    val n = s.size
    require(n > 0, "tail of an empty sample")
    def valueAt(p: Int): Double = s(math.max(0, math.ceil(p / 100.0 * n).toInt - 1))
    val ok = (99 to 1 by -1).find(p => s.count(_ > valueAt(p)) >= beyond)
    ok match {
      case Some(p) => (p, valueAt(p))
      case None => (100, s.last)
    }
  }

  /** A 64-bit hash of one output value, equal for equal values whatever
    * their container's iteration order: maps hash their entries
    * order-independently, byte arrays by content (a JVM array's own hash is
    * its identity). */
  def valueHash(v: Any): Long = v match {
    case null => 0x5bd1e995L
    case b: Array[Byte] => mix(java.util.Arrays.hashCode(b).toLong, 1)
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => mix(valueHash(k) * 31 + valueHash(x), 2) }
        .foldLeft(0L)(_ + _)
    case r: Row => seqHash((0 until r.length).map(r.get), 3)
    case s: scala.collection.Seq[_] => seqHash(s, 4)
    case d: Double => mix(java.lang.Double.doubleToLongBits(d), 5)
    case f: Float => mix(java.lang.Float.floatToIntBits(f).toLong, 6)
    case o => mix(o.hashCode.toLong, 7)
  }

  private def seqHash(xs: Iterable[Any], salt: Long): Long =
    xs.foldLeft(salt)((h, x) => mix(h * 0x100000001b3L + valueHash(x), salt))

  /** SplitMix64 finaliser. */
  def mix(x: Long, salt: Long): Long = {
    var z = x + salt * 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Order-independent digest of a multiset of row hashes: the row count,
    * the wrapping sum and the xor. Any permutation of the rows gives the
    * same digest; a changed, missing or extra row changes it. */
  final case class Digest(rows: Long, sum: Long, xor: Long) {
    def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum, xor ^ o.xor)
    def rowsOnly: String = s"rows=$rows"
    override def toString: String = f"rows=$rows:$sum%016x:$xor%016x"
  }
  val Empty: Digest = Digest(0L, 0L, 0L)

  def digestOf(hashes: Iterator[Long]): Digest =
    hashes.foldLeft(Empty)((d, h) => Digest(d.rows + 1, d.sum + h, d.xor ^ h))

  /** Runs `df` as ONE action over every output column and returns its
    * digest. The rows are folded inside `mapPartitions`, so the whole
    * physical plan runs as written (a final sort is not optimised away, as
    * it would be under an aggregate) and no row is shipped to the driver. */
  def digest(df: DataFrame): Digest = {
    val parts = df.mapPartitions { it =>
      val d = digestOf(it.map(r => valueHash(r)))
      Iterator((d.rows, d.sum, d.xor))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
      .collect()
    parts.foldLeft(Empty) { case (d, (n, s, x)) => d + Digest(n, s, x) }
  }
}
