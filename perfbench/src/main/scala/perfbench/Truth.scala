package perfbench

/** Ground truth the benchmark computes itself in plain Scala, with no
  * engine code: exact L2 top-k.
  */
object Truth {

  /** L2 distance in double precision, summed in element order. */
  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    math.sqrt(s)
  }

  /** Exact top-`k` (ascending L2, ties by index) over the rows `keep` admits. */
  def topK(corpus: Array[Array[Float]], q: Array[Float], k: Int,
      keep: Int => Boolean = _ => true): Array[(Int, Double)] = {
    val heap = new java.util.PriorityQueue[(Int, Double)](k + 1,
      (x: (Int, Double), y: (Int, Double)) =>
        if (x._2 != y._2) java.lang.Double.compare(y._2, x._2) else Integer.compare(y._1, x._1))
    var i = 0
    while (i < corpus.length) {
      if (keep(i)) {
        val d = l2(corpus(i), q)
        if (heap.size < k) heap.add((i, d))
        else if (d < heap.peek()._2) { heap.poll(); heap.add((i, d)) }
      }
      i += 1
    }
    val out = new Array[(Int, Double)](heap.size)
    var j = out.length - 1
    while (!heap.isEmpty) { out(j) = heap.poll(); j -= 1 }
    out
  }

  /** Does a returned top-k equal the exact one, allowing any choice among
    * rows tied at the boundary score? Scores must agree rank by rank, and
    * every row strictly inside the boundary must be the same row.
    */
  def sameTopK(got: Seq[(Int, Double)], want: Seq[(Int, Double)], eps: Double = 1e-9): Boolean =
    got.size == want.size && {
      val boundary = want.last._2
      def close(a: Double, b: Double) = math.abs(a - b) <= eps * math.max(1.0, math.abs(b))
      got.map(_._2).zip(want.map(_._2)).forall { case (a, b) => close(a, b) } &&
        got.filter(g => g._2 < boundary - eps).map(_._1).toSet ==
          want.filter(w => w._2 < boundary - eps).map(_._1).toSet
    }
}
