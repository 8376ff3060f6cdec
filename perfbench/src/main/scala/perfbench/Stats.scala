package perfbench

/** Order statistics used for every reported figure. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile that is only reported when at least ten
    * samples lie beyond it; with fewer, the figure would be one or two
    * outliers, so it fails loudly instead.
    */
  def percentile(xs: Seq[Double], p: Double, what: String): Double = {
    val s = xs.sorted
    val rank = math.ceil(p * s.size).toInt max 1
    val beyond = s.size - rank
    require(beyond >= 10,
      s"$what: p${(p * 100).round} of ${s.size} samples has only $beyond beyond it (need 10)")
    s(rank - 1)
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}

/** Maps the files of an open-loop feed to the micro-batch that made them
  * visible. A file source with a fixed trigger takes files in modification
  * order, so file `i` is covered by the first batch whose cumulative input
  * row count reaches the cumulative row count of files `0..i`.
  */
object Freshness {

  final case class FileDue(dueMs: Long, rows: Long)
  final case class BatchCommit(commitMs: Long, rows: Long)

  /** Freshness in ms of each file, or None for a file no batch covered. */
  def perFile(files: Seq[FileDue], batches: Seq[BatchCommit]): Seq[Option[Long]] = {
    val cumBatch = batches.scanLeft(0L)(_ + _.rows).tail
    var b = 0
    var cumFile = 0L
    files.map { f =>
      cumFile += f.rows
      while (b < batches.size && cumBatch(b) < cumFile) b += 1
      if (b < batches.size) Some(batches(b).commitMs - f.dueMs) else None
    }
  }
}
