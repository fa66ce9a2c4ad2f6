package perfbench

/** Order statistics and the live-feed latency attribution. Pure
  * functions, so the rules the reported numbers rest on are unit
  * tested without a Spark session. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least
    * `p`% of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** Samples strictly above the nearest-rank `p`th percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** A tail percentile as reported: which percentile it is, its
    * value, and how many samples it was taken from. */
  final case class Tail(pct: Double, value: Double, n: Int)

  /** Percentiles a tail may fall back to, highest first. */
  val Ladder: Seq[Double] = Seq(99.0, 95.0, 90.0, 75.0, 50.0)

  /** The tail rule: the highest percentile of [[Ladder]] (at most
    * `want`) that still has at least `minBeyond` samples beyond it,
    * so a tail is never read off a handful of points. With fewer
    * than 2 * `minBeyond` samples even the median fails the rule and
    * the result is None. */
  def tail(xs: Seq[Double], want: Double = 99.0, minBeyond: Int = 10): Option[Tail] = {
    val n = xs.length
    Ladder.filter(_ <= want).find(p => n > 0 && beyond(n, p) >= minBeyond)
      .map(p => Tail(p, percentile(xs, p), n))
  }

  /** [[tail]], or the maximum (reported as percentile 100) when too
    * few samples exist for any percentile of the ladder. */
  def tailOrMax(xs: Seq[Double], want: Double = 99.0): Tail =
    tail(xs, want).getOrElse(Tail(100, xs.max, xs.length))

  /** Geometric mean of positive values. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** One micro-batch as the attribution sees it: the files its start
    * and end offsets list (the envelope source's offset is the set of
    * files seen so far) and when the batch committed. */
  final case class Batch(id: Long, startFiles: Set[String], endFiles: Set[String], commitMs: Long)

  /** Per-file result of attributing published files to batches.
    *  - `latencyMs`: file → commit time of its batch minus its due time
    *  - `missing`: published but in no batch
    *  - `duplicated`: delivered by more than one batch
    *  - `unknown`: delivered but never published */
  final case class Attribution(latencyMs: Map[String, Long], missing: Set[String],
                               duplicated: Set[String], unknown: Set[String]) {
    def exactlyOnce: Boolean = missing.isEmpty && duplicated.isEmpty && unknown.isEmpty
  }

  /** Attribute each published file to the batch whose offsets first
    * add it (end minus start). Files are matched by base name, since
    * offsets hold absolute paths. `dueMs` maps file name → due time. */
  def attribute(dueMs: Map[String, Long], batches: Seq[Batch]): Attribution = {
    def base(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val lat = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val dup = scala.collection.mutable.Set.empty[String]
    val unk = scala.collection.mutable.Set.empty[String]
    for (b <- batches.sortBy(_.id)) {
      val added = (b.endFiles -- b.startFiles).map(base)
      for (f <- added) dueMs.get(f) match {
        case None => unk += f
        case Some(_) if lat.contains(f) => dup += f
        case Some(due) => lat(f) = b.commitMs - due
      }
    }
    Attribution(lat.toMap, dueMs.keySet -- lat.keySet, dup.toSet, unk.toSet)
  }
}
