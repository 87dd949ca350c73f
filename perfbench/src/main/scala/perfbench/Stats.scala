package perfbench

/** The benchmark's pure arithmetic, kept free of Spark so StatsSpec can pin
  * it: latency attribution for a line feed, percentiles under the
  * sample-count rule, pipeline capacity and backlog growth.
  */
object Stats {

  /** One committed micro-batch: the source offset it ended at (lines
    * `[previous end, endOffset)` belong to it) and when its sink commit
    * returned.
    */
  final case class Commit(batchId: Long, endOffset: Long, commitNs: Long)

  /** Per-line latency from the line's due time to the commit of the batch
    * that carried it. `dueNs(i)` is when line i was due at the generator;
    * a line no commit covers is lost and reads -1.
    */
  def attributeLatencies(commits: Seq[Commit], dueNs: Array[Long]): Array[Long] = {
    val out = Array.fill(dueNs.length)(-1L)
    var from = 0L
    commits.sortBy(_.batchId).foreach { c =>
      val until = math.min(c.endOffset, dueNs.length.toLong)
      var i = from
      while (i < until) {
        out(i.toInt) = c.commitNs - dueNs(i.toInt)
        i += 1
      }
      from = math.max(from, until)
    }
    out
  }

  /** Nearest-rank percentile of `xs` (p in (0, 1]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(xs.length, p) - 1)
  }

  /** The sample-count rule: a percentile is reported only when at least
    * `beyond` samples lie above it.
    */
  def percentileAllowed(n: Int, p: Double, beyond: Int = 10): Boolean =
    n > 0 && n - rank(n, p) >= beyond

  /** 1-based nearest rank of percentile p among n samples. */
  private def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p * n - 1e-9).toInt))

  /** `percentile(xs, p)` if the sample-count rule allows it, else None. */
  def ruledPercentile(xs: Seq[Double], p: Double): Option[Double] =
    if (percentileAllowed(xs.length, p)) Some(percentile(xs, p)) else None

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Capacity of a micro-batch pipeline: input rows per second of trigger
    * execution, over `(rows, triggerMs)` of each batch. Unlike rows over
    * wall time, it is not capped by the rate the feed offers.
    */
  def capacityPerS(batches: Seq[(Long, Double)]): Double = {
    val ms = batches.map(_._2).sum
    require(ms > 0, "capacity of batches that took no time")
    batches.map(_._1).sum / (ms / 1000)
  }

  /** Rows `dropDuplicatesWithinWatermark("trade_id")` drops among lines
    * that parse to a NULL trade_id, from `(batchId, such lines in the
    * batch)`. All NULL ids are one key: the first in a batch is kept and
    * the rest dropped. A NULL event time gives the key an expiry at epoch
    * + horizon, so it is evicted at the end of every batch but batch 0
    * (whose eviction watermark is 0): batch 1 still holds batch 0's.
    */
  def nullKeyDuplicates(batches: Seq[(Long, Int)]): Long = {
    val heldInto1 = batches.exists { case (id, n) => id == 0 && n > 0 }
    batches.map { case (id, n) =>
      if (n == 0) 0L else if (id == 1 && heldInto1) n.toLong else n - 1L
    }.sum
  }

  /** Least-squares slope of backlog (events) against time (seconds): a
    * positive slope means the pipeline falls behind its feed.
    */
  def backlogGrowthPerS(samples: Seq[(Double, Double)]): Double =
    if (samples.length < 2) 0.0
    else {
      val n = samples.length.toDouble
      val mt = samples.map(_._1).sum / n
      val mb = samples.map(_._2).sum / n
      val cov = samples.map { case (t, b) => (t - mt) * (b - mb) }.sum
      val vt = samples.map { case (t, _) => (t - mt) * (t - mt) }.sum
      if (vt == 0) 0.0 else cov / vt
    }
}
