package graft.perfbench

/** Summary statistics the benchmark reports. Kept free of Spark so the
  * self-tests can pin them directly. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** The tail a sample supports: the highest of these percentiles
    * (nearest-rank) that still has at least [[TailBeyond]] samples
    * strictly above its rank. */
  val TailPercentiles: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
  val TailBeyond = 10

  final case class Tail(value: Double, percentile: Double, samples: Int, beyond: Int)

  /** With fewer than `TailBeyond + 1` samples no percentile qualifies;
    * the tail then falls back to the median (percentile 50, `beyond`
    * under 10), so a reader sees the sample could not support a tail. */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    def rank(p: Double): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)
    TailPercentiles.find(p => n - rank(p) >= TailBeyond) match {
      case Some(50.0) => Tail(median(s), 50.0, n, n - rank(50.0))
      case Some(p) => Tail(s(rank(p) - 1), p, n, n - rank(p))
      case None    => Tail(median(s), 50.0, n, n - rank(50.0))
    }
  }

  /** recall@k of one answer: |answer ∩ truth| / min(k, |truth|), where
    * `truth` is the exact top-k over the searchable set. The denominator
    * shrinks only when fewer than k rows are searchable. */
  def recallAtK(answer: Seq[Long], truth: Seq[Long], k: Int): Double = {
    val t = truth.take(k).toSet
    if (t.isEmpty) 1.0 else answer.take(k).count(t.contains).toDouble / t.size
  }

  /** Exact top-k (ascending score, ties by id) by a driver-side scan. */
  def topK(ids: Array[Long], score: Int => Double, k: Int): Seq[(Long, Double)] = {
    val heap = new java.util.PriorityQueue[(Long, Double)](k + 1,
      (a: (Long, Double), b: (Long, Double)) => {
        val c = java.lang.Double.compare(b._2, a._2)
        if (c != 0) c else java.lang.Long.compare(b._1, a._1)
      })
    var i = 0
    while (i < ids.length) {
      heap.add((ids(i), score(i)))
      if (heap.size > k) heap.poll()
      i += 1
    }
    val out = new Array[(Long, Double)](heap.size)
    var j = out.length - 1
    while (!heap.isEmpty) { out(j) = heap.poll(); j -= 1 }
    out.toSeq
  }

  /** Does an engine top-k equal the driver-side truth? Ids must match
    * position by position and scores within `tol`, except that ids may
    * swap among entries whose truth scores tie within `tol`. */
  def sameTopK(got: Seq[(Long, Double)], truth: Seq[(Long, Double)],
               tol: Double = 1e-6): Boolean =
    got.length == truth.length &&
      got.zip(truth).forall { case ((_, a), (_, b)) =>
        math.abs(a - b) <= tol * math.max(1.0, math.abs(b)) } && {
        val cut = truth.lastOption.map(_._2).getOrElse(0.0)
        def firm(xs: Seq[(Long, Double)]) =
          xs.filter(x => math.abs(x._2 - cut) > tol * math.max(1.0, math.abs(cut))).map(_._1).toSet
        firm(got) == firm(truth)
      }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
