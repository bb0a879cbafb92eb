package perfbench

/** Small pure helpers the harness's numbers rest on (unit-tested in
  * `StatsSpec`).
  */
object Stats {

  /** Percentile `p` (0..100) by linear interpolation between closest ranks
    * (the numpy default, "type 7"). NaN for an empty sample.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val h = (s.size - 1) * p / 100.0
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Index of the interval that contains `t`, both ends inclusive.
    * `intervals` are (start, end) pairs sorted by start and not
    * overlapping — epochs of one closed-loop stream. None when `t` falls in
    * no interval (between epochs, or inside an epoch that never committed).
    */
  def attribute(intervals: IndexedSeq[(Long, Long)], t: Long): Option[Int] = {
    var lo = 0
    var hi = intervals.size - 1
    var found = -1
    while (lo <= hi) { // last interval whose start <= t
      val mid = (lo + hi) >>> 1
      if (intervals(mid)._1 <= t) { found = mid; lo = mid + 1 } else hi = mid - 1
    }
    if (found >= 0 && t <= intervals(found)._2) Some(found) else None
  }

  /** Largest number of intervals open at one instant (an interval ends
    * before another that starts at the same instant).
    */
  def maxOverlap(intervals: Seq[(Long, Long)]): Int = {
    val edges = intervals.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
      .sortBy { case (t, d) => (t, d) }
    edges.foldLeft((0, 0)) { case ((cur, best), (_, d)) =>
      val n = cur + d
      (n, math.max(best, n))
    }._2
  }

  /** 64-bit FNV-1a over the UTF-8 bytes: the key the webhook stub's
    * failure schedule and the payload bookkeeping use.
    */
  def payloadHash(body: String): Long = {
    var h = 0xcbf29ce484222325L
    body.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      h ^= (b & 0xff)
      h *= 0x100000001b3L
    }
    h
  }
}

/** Which POST attempts the webhook stub fails: attempt `n` (1-based, counted
  * per payload) of the payload with hash `h` fails when
  * `n <= failFirst(h)`. Keyed on payload and attempt only, so the same
  * posts fail whatever the delivery order or concurrency.
  */
final case class FailureSchedule(failFirst: Map[Long, Int]) {
  def fails(hash: Long, attempt: Int): Boolean =
    attempt <= failFirst.getOrElse(hash, 0)
}

object FailureSchedule {
  val none: FailureSchedule = FailureSchedule(Map.empty)
}
